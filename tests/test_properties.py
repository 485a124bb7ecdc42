"""Property-based tests (hypothesis) for the dedup/chunking operators —
randomized inputs against an independent pure-Python mirror of the math.
The reference's test pyramid has no property layer (SURVEY.md §5); this
one exists because hash/set operators have exactly the kind of edge cases
(1-token docs, identical docs, all-distinct docs) example tests miss.
The payload-binding property checks the per-event executors' inline
payload relation against the independent temp-view form over random
payload shapes.

Examples are kept few and batched (one Spark action per example) — Spark
job latency, not case count, dominates runtime here.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

SETTINGS = dict(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

_token = st.text(alphabet="abcd", min_size=1, max_size=2)
_doc = st.lists(_token, min_size=1, max_size=24).map(" ".join)


def _docs_df(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


def _py_shingles(text: str) -> set[str]:
    t = text.split(" ")
    return {" ".join(t[i : i + 3]) for i in range(len(t) - 2)}


@given(texts=st.lists(_doc, min_size=2, max_size=6))
@settings(**SETTINGS)
def test_exact_ngram_jaccard_matches_python_mirror(spark, texts):
    """With pruning off and threshold 0, every pair sharing a shingle is
    reported with the exact Jaccard of the Python set computation."""
    from duckdb_webhook_gateway_spark.operators.dedup import ngram_jaccard_dedup

    out = ngram_jaccard_dedup(
        _docs_df(spark, texts), threshold=0.0, max_shingle_df=None
    ).collect()
    got = {(r["doc_a"], r["doc_b"]): (r["shared_shingles"], r["jaccard"]) for r in out}

    sh = [_py_shingles(t) for t in texts]
    want = {}
    for a in range(len(texts)):
        for b in range(a + 1, len(texts)):
            inter = len(sh[a] & sh[b])
            if inter:
                want[(a, b)] = (inter, inter / len(sh[a] | sh[b]))

    assert set(got) == set(want)
    for k, (n, j) in want.items():
        assert got[k][0] == n
        assert abs(got[k][1] - j) < 1e-6


@given(texts=st.lists(_doc, min_size=1, max_size=5), seed=st.integers(0, 2**31))
@settings(**SETTINGS)
def test_simhash_is_token_order_invariant(spark, texts, seed):
    """SimHash is a bag-of-tokens vote: permuting token order within each
    doc must not change a single fingerprint."""
    import random

    from duckdb_webhook_gateway_spark.operators.dedup import simhash

    rng = random.Random(seed)
    shuffled = []
    for t in texts:
        toks = t.split(" ")
        rng.shuffle(toks)
        shuffled.append(" ".join(toks))

    a = {r["doc_id"]: r["simhash"] for r in simhash(_docs_df(spark, texts)).collect()}
    b = {r["doc_id"]: r["simhash"] for r in simhash(_docs_df(spark, shuffled)).collect()}
    assert a == b


@given(lengths=st.lists(st.integers(1, 300), min_size=1, max_size=12, unique=True))
@settings(**SETTINGS)
def test_chunk_manifest_window_arithmetic_property(spark, tmp_path_factory, lengths):
    """n_chunks == floor((n-1)/48)+1 and the last chunk holds the
    remainder, for arbitrary doc lengths (batched into one corpus)."""
    from duckdb_webhook_gateway_spark.workloads.datapipe import doc_chunk_manifest

    tmp = tmp_path_factory.mktemp("chunkprop")
    df = spark.createDataFrame(
        [
            (i, " ".join("t" for _ in range(n)), "en", "s", n)
            for i, n in enumerate(lengths)
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    df.coalesce(1).write.mode("overwrite").parquet(str(tmp / "documents.parquet"))
    out = {r["doc_id"]: r for r in doc_chunk_manifest(spark, str(tmp)).collect()}
    for i, n in enumerate(lengths):
        nw = (n - 1) // 48 + 1
        assert out[i]["n_chunks"] == nw, (n, out[i])
        assert out[i]["last_chunk_tokens"] == n - (nw - 1) * 48


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 14), st.integers(0, 14)).filter(
            lambda p: p[0] != p[1]
        ),
        min_size=1,
        max_size=20,
    )
)
@settings(**SETTINGS)
def test_connected_components_matches_union_find(spark, edges):
    """Min-label propagation + pointer jumping must produce EXACTLY the
    components of a plain union-find on any random edge list (self-loops
    excluded; duplicates and both orientations allowed)."""
    from duckdb_webhook_gateway_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(a, b) for a, b in edges], "doc_a long, doc_b long"
    )
    got = {
        r["node"]: r["cluster_id"] for r in connected_components(pairs).collect()
    }

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent[find(a)] = find(b)
    nodes = {v for e in edges for v in e}
    roots: dict[int, int] = {}
    for v in sorted(nodes):
        roots.setdefault(find(v), v)
    want = {v: roots[find(v)] for v in nodes}

    assert got == want


@given(
    st.lists(
        st.text(
            alphabet="abcdefghijklmnopqrstuvwxyz0123456789 _-", min_size=0, max_size=40
        ),
        min_size=1,
        max_size=25,
    ),
    st.integers(min_value=1, max_value=15),
)
@settings(max_examples=15, deadline=None)
def test_hex_to_int_dialects_bit_equal(spark, values, n):
    """Spark's conv()-based hex→int must equal DuckDB's nibble-sum for the
    same md5 input — every oracle-checked hash (dedup, splits, sketches)
    rides on this equivalence."""
    import duckdb

    from duckdb_webhook_gateway_spark.functions.hashing import md5_int_expr

    from pyspark.sql import functions as F

    sdf = spark.createDataFrame([(v,) for v in values], ["s"])
    got = {
        r.s: r.v
        for r in sdf.select(
            "s", F.expr(md5_int_expr("s", "spark", n)).alias("v")
        ).collect()
    }
    con = duckdb.connect()
    for v in values:
        expr = md5_int_expr("?", "duckdb", n).replace("md5(?)", "md5(CAST(? AS VARCHAR))")
        want = con.execute(f"SELECT {expr}", [v] * expr.count("?")).fetchone()[0]
        assert got[v] == want, (v, n, got[v], want)


def _py_dup_spans(texts: list[str], k: int = 8):
    """Pure-Python mirror of substring_dedup: window hashes -> dup mark ->
    interval merge."""
    from collections import Counter

    wins = []  # (doc, pos(1-based), window-string)
    counts: Counter = Counter()
    for d, t in enumerate(texts):
        toks = t.split(" ")
        for i in range(len(toks) - k + 1):
            w = " ".join(toks[i : i + k])
            wins.append((d, i + 1, w))
            counts[w] += 1
    spans: dict[int, list[list[int]]] = {}
    for d, pos, w in wins:
        if counts[w] < 2:
            continue
        iv = [pos, pos + k - 1]
        cur = spans.setdefault(d, [])
        if cur and iv[0] <= cur[-1][1]:
            cur[-1][1] = max(cur[-1][1], iv[1])
        else:
            cur.append(iv)
    return {
        d: (len(ivs), sum(e - s + 1 for s, e in ivs))
        for d, ivs in spans.items()
    }


@given(
    texts=st.lists(
        st.lists(_token, min_size=8, max_size=20).map(" ".join),
        min_size=2,
        max_size=5,
    )
)
@settings(**SETTINGS)
def test_substring_dedup_matches_python_mirror(spark, texts):
    """Span count and duplicated-token totals match an independent
    interval-merge implementation on random corpora (tiny alphabet makes
    shared windows likely, including self-repeats)."""
    from duckdb_webhook_gateway_spark.operators.dedup import substring_dedup

    out = {
        r.doc_id: (r.n_dup_spans, r.n_dup_tokens)
        for r in substring_dedup(_docs_df(spark, texts)).collect()
    }
    assert out == _py_dup_spans(texts)


# ---------------------------------------------------------------------------
# round-4 operators: prefix-Jaccard join and integer PageRank
# ---------------------------------------------------------------------------


def _py_prefix_jaccard(texts, num, den):
    import itertools

    sets = {i: set(t.split(" ")) - {""} for i, t in enumerate(texts)}
    out = set()
    for a, b in itertools.combinations(sorted(sets), 2):
        if not sets[a] or not sets[b]:
            continue
        inter = len(sets[a] & sets[b])
        union = len(sets[a] | sets[b])
        if den * inter >= num * union:
            out.add((a, b))
    return out


@given(
    texts=st.lists(_doc, min_size=2, max_size=8),
    thr=st.sampled_from([(1, 2), (4, 5), (19, 20)]),
)
@settings(**SETTINGS)
def test_prefix_jaccard_equals_bruteforce(spark, texts, thr):
    from duckdb_webhook_gateway_spark.operators.dedup import prefix_jaccard_join

    num, den = thr
    got = {
        (r["doc_a"], r["doc_b"])
        for r in prefix_jaccard_join(_docs_df(spark, texts), num, den).collect()
    }
    assert got == _py_prefix_jaccard(texts, num, den)


def _py_pagerank_mirror(edges, iterations=2):
    from collections import Counter, defaultdict

    arcs = [(a, b) for a, b in edges] + [(b, a) for a, b in edges]
    deg = Counter(s for s, _ in arcs)
    r = {n: 1_000_000 for n in deg}
    for _ in range(iterations):
        c = defaultdict(int)
        for s, d in arcs:
            c[d] += r[s] // deg[s]
        r = {n: 150_000 + (85 * v) // 100 for n, v in c.items()}
    return r


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 9)).filter(
            lambda e: e[0] != e[1]
        ),
        min_size=1,
        max_size=12,
        unique=True,
    )
)
@settings(**SETTINGS)
def test_pagerank_equals_python_mirror(spark, edges):
    from duckdb_webhook_gateway_spark.operators.graphs import (
        pagerank_micro,
        undirect,
    )

    edf = spark.createDataFrame(edges, "a bigint, b bigint")
    got = {
        r["node"]: r["r"]
        for r in pagerank_micro(undirect(edf), iterations=2).collect()
    }
    assert got == _py_pagerank_mirror(edges, iterations=2)


@given(texts=st.lists(_doc, min_size=1, max_size=6))
@settings(**SETTINGS)
def test_lm_perplexity_matches_python_mirror(spark, texts):
    """Round-6 window-only shape vs an independent Python bigram LM:
    same add-one-smoothed cross-entropy per doc (to the 1e-6 rounding
    the operator applies) and the same bigram counts."""
    from collections import Counter

    import math

    from duckdb_webhook_gateway_spark.operators.text import lm_perplexity

    out = {
        r["doc_id"]: r
        for r in lm_perplexity(_docs_df(spark, texts)).collect()
    }

    toks = [t.split(" ") for t in texts]
    uni = Counter(w for ts in toks for w in ts)
    big = Counter(
        (ts[i], ts[i + 1]) for ts in toks for i in range(len(ts) - 1)
    )
    vocab = len(uni)
    expect = {}
    for i, ts in enumerate(toks):
        bs = [(ts[j], ts[j + 1]) for j in range(len(ts) - 1)]
        if not bs:
            continue
        bits = [
            -math.log2((big[b] + 1.0) / (uni[b[0]] + float(vocab)))
            for b in bs
        ]
        expect[i] = (len(bs), round(sum(bits) / len(bs), 6))

    assert set(out) == set(expect)
    for i, (nb, bpb) in expect.items():
        assert out[i]["n_bigrams"] == nb
        assert abs(out[i]["bits_per_bigram"] - bpb) <= 1e-6


@given(
    texts=st.lists(_doc, min_size=1, max_size=6),
    flags=st.lists(st.booleans(), min_size=6, max_size=6),
)
@settings(**SETTINGS)
def test_dsir_weights_matches_python_mirror(spark, texts, flags):
    """Round-6 one-pass contingency shape vs an independent Python DSIR:
    identical hashed-bigram bucket counts, smoothed log-ratio
    distribution, and per-doc occurrence-weighted means."""
    import hashlib
    import math

    from pyspark.sql import functions as F

    from duckdb_webhook_gateway_spark.operators.text import dsir_weights

    n_buckets = 1024
    df = spark.createDataFrame(
        [(i, t, flags[i]) for i, t in enumerate(texts)],
        "doc_id long, text string, is_t boolean",
    )
    out = {
        r["doc_id"]: r
        for r in dsir_weights(df, target=F.col("is_t")).collect()
    }

    def bucket(feat: str) -> int:
        return int(hashlib.md5(feat.encode()).hexdigest()[:8], 16) % n_buckets

    cr = [0] * n_buckets
    ct = [0] * n_buckets
    feats_per_doc = {}
    for i, t in enumerate(texts):
        ts = t.split(" ")
        bs = [bucket(f"{ts[j]} {ts[j+1]}") for j in range(len(ts) - 1)]
        if not bs:
            continue
        feats_per_doc[i] = bs
        for b in bs:
            cr[b] += 1
            if flags[i]:
                ct[b] += 1
    nr, nt = sum(cr), sum(ct)
    ln2 = math.log(2.0)
    lr = [
        math.log((ct[b] + 1.0) / (nt + float(n_buckets))) / ln2
        - math.log((cr[b] + 1.0) / (nr + float(n_buckets))) / ln2
        for b in range(n_buckets)
    ]
    expect = {
        i: (len(bs), round(sum(lr[b] for b in bs) / len(bs), 6))
        for i, bs in feats_per_doc.items()
    }

    assert set(out) == set(expect)
    for i, (nf, w) in expect.items():
        assert out[i]["n_features"] == nf
        assert abs(out[i]["logratio_per_feature"] - w) <= 1e-6
        assert out[i]["selected"] == (out[i]["logratio_per_feature"] > 0)


def _py_winnow(tokens: list[str], k: int = 3, w: int = 4) -> set:
    """Independent winnowing reference: md5-prefix gram hashes, window
    minimum with RIGHTMOST tie, distinct (hash, pos) pairs."""
    import hashlib

    if len(tokens) < k:
        return set()
    grams = [
        int(
            hashlib.md5(" ".join(tokens[i : i + k]).encode()).hexdigest()[:8],
            16,
        )
        for i in range(len(tokens) - k + 1)
    ]
    if len(grams) < w:
        return set()
    out = set()
    for j in range(len(grams) - w + 1):
        window = grams[j : j + w]
        # rightmost minimal: min by (hash, -pos)
        best = min(range(w), key=lambda t: (window[t], -t))
        out.add((grams[j + best], j + best + 1))  # 1-based gram pos
    return out


@given(texts=st.lists(_doc, min_size=1, max_size=5))
@settings(**SETTINGS)
def test_winnow_fingerprints_match_python_reference(spark, texts):
    """winnow_fingerprints must agree with an independent plain-Python
    winnowing on arbitrary small-alphabet docs — the tiny alphabet
    maximizes repeated grams, hammering the rightmost-minimum tie rule
    the in-row struct-min implements."""
    from duckdb_webhook_gateway_spark.operators.dedup import (
        winnow_fingerprints,
    )

    got: dict[int, set] = {}
    for r in winnow_fingerprints(_docs_df(spark, texts)).collect():
        got.setdefault(r.doc_id, set()).add((r.fp_hash, r.fp_pos))
    for i, t in enumerate(texts):
        assert got.get(i, set()) == _py_winnow(t.split(" ")), (i, t)


@given(
    host=st.lists(_token, min_size=6, max_size=20),
    planted=st.lists(_token, min_size=6, max_size=10),
    offset=st.integers(0, 20),
)
@settings(**SETTINGS)
def test_winnow_detection_guarantee(spark, host, planted, offset):
    """The MOSS guarantee, probed with random plants: two docs sharing
    a token run of length >= w + k - 1 (= 6) MUST share at least one
    fingerprint hash, wherever the run sits in either doc."""
    from duckdb_webhook_gateway_spark.operators.dedup import (
        winnow_fingerprints,
    )

    a = " ".join(planted)
    b_toks = host[: offset % (len(host) + 1)] + planted + host[
        offset % (len(host) + 1) :
    ]
    b = " ".join(b_toks)
    fps: dict[int, set] = {0: set(), 1: set()}
    for r in winnow_fingerprints(_docs_df(spark, [a, b])).collect():
        fps[r.doc_id].add(r.fp_hash)
    assert fps[0] & fps[1], (a, b)


# -- payload binding ----------------------------------------------------------

_key = st.text(alphabet=st.sampled_from(list("ab.` _é${}")), min_size=1, max_size=4)
_str = st.text(alphabet=st.sampled_from(list("ab'\"\\\n é☃${}")), max_size=6)
_i64 = st.integers(-(2**63), 2**63 - 1)
_KINDS = {
    "long": _i64,
    "double": st.floats(allow_nan=False, allow_infinity=False, width=32),
    "int_float": st.one_of(st.integers(-1000, 1000), st.floats(-1e6, 1e6, width=32)),
    "string": _str,
    "bool": st.booleans(),
    "null": st.none(),
    "struct": st.fixed_dictionaries({"x": _i64, "y": _str, "z": st.fixed_dictionaries({"w": _str})}),
    "struct_array": st.lists(st.fixed_dictionaries({"id": _i64, "s": _str}), max_size=3),
    # Shapes payload_schema cannot type: spark.read.json infers the schema.
    "mixed": st.one_of(st.integers(-5, 5), _str, st.booleans()),
    "beyond_i64": st.integers(2**63, 2**70),
}


@st.composite
def _payloads(draw):
    """A dict, or a list of 0-4 records, over one drawn shape: every
    record has the key ``k``, its position (so ORDER BY k has no ties),
    plus the shape's keys, each value of its key's kind or null."""
    keys = draw(st.lists(_key, unique=True, max_size=4))
    kinds = [draw(st.sampled_from(sorted(_KINDS))) for _ in keys]
    record = st.fixed_dictionaries(
        {"k": st.just(0), **{k: st.one_of(st.none(), _KINDS[c]) for k, c in zip(keys, kinds)}}
    )
    if draw(st.booleans()):
        return draw(record)
    return [{**r, "k": i} for i, r in enumerate(draw(st.lists(record, max_size=4)))]


_PARITY_TRANSFORMS = (
    "SELECT * FROM {{payload}}",
    "WITH t AS (SELECT * FROM {{payload}}) SELECT * FROM t",
    "SELECT * FROM {{payload}} ORDER BY k DESC LIMIT 2",
    "SELECT a.*, b.k AS k2 FROM {{payload}} a JOIN {{payload}} b ON a.k = b.k",
    "SELECT k FROM {{payload}} UNION ALL SELECT k + 10 FROM {{payload}}",
    "SELECT count(*) AS n FROM {{payload}};",
    "SELECT * FROM {{payload}} -- trailing comment",
    "SELECT * FROM {{payload}}; -- comment after the semicolon",
    "SELECT '--;' AS s, * FROM {{payload}} /* block */ ;",
    "-- leading comment\nSELECT * FROM {{payload}}",
)


def _via_view(spark, filter_query, transform, payload):
    """The filter probe and transform over a ``payload_to_df`` temp view."""
    import uuid

    from duckdb_webhook_gateway_spark.engine.executors import payload_to_df, substitute_macro
    from duckdb_webhook_gateway_spark.engine.results import shape_result

    view = f"parity_{uuid.uuid4().hex}"
    payload_to_df(spark, payload).createOrReplaceTempView(view)
    try:
        if filter_query and not spark.sql(f"SELECT 1 FROM {view} WHERE {filter_query}").take(1):
            return False, {}
        return True, shape_result(spark.sql(substitute_macro(transform, view).rstrip(";")))
    finally:
        spark.catalog.dropTempView(view)


def _outcome(run):
    try:
        return run()
    except Exception as e:  # both bindings must fail alike
        return type(e).__name__


@given(payload=_payloads(), filter_query=st.sampled_from([None, "k >= 1", "k > 5"]))
@settings(max_examples=25, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_inline_payload_binding_matches_view(spark, payload, filter_query):
    """``execute_event`` binds the payload into its query text (a
    ``from_json`` inline table); a ``payload_to_df`` temp view (Arrow, or
    ``spark.read.json``) is the independent form of the same relation.
    Both give the same gate and the same shaped result for every
    transform, and no event leaves a view in the catalog."""
    from duckdb_webhook_gateway_spark.engine.executors import execute_event

    before = {t.name for t in spark.catalog.listTables()}
    for transform in _PARITY_TRANSFORMS:
        got = _outcome(lambda: execute_event(spark, filter_query, transform, payload))
        want = _outcome(lambda: _via_view(spark, filter_query, transform, payload))
        assert got == want, (transform, payload)
    assert {t.name for t in spark.catalog.listTables()} == before
