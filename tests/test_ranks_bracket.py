"""Round-14 scan-only large routes in operators/ranks.py: the bracket
path (global_ntile / global_quantiles via verified percentile_approx
brackets) and the value-histogram path (global_cumulative_cutoff).

Contracts pinned here:
- value identity with the single-task reference on tie-heavy, descending,
  tiny, and non-divisible corpora (the sketch only aims the engine; exact
  integer ranks and exact counts decide);
- graceful fallback to the range composition (never a wrong answer) for
  non-numeric or nullable primaries and over-ceiling brackets;
- plan shape: the ntile bracket route adds ZERO exchanges to the data
  pass, and neither bracket route materializes a checkpoint of the data.
"""

from __future__ import annotations

import random
import re

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from duckdb_webhook_gateway_spark.operators.ranks import (
    global_cumulative_cutoff,
    global_ntile,
    global_quantiles,
)

SPEC = [("v", True), ("id", False)]  # desc value, asc id
SPEC_ASC = [("v", False), ("id", False)]


def _ntile_ref(spark, rows, n_tiles):
    df = spark.createDataFrame(rows, "id bigint, v double")
    w = Window.orderBy(F.desc("v"), F.asc("id"))
    return {
        r["id"]: r["t"]
        for r in df.withColumn("t", F.ntile(n_tiles).over(w)).collect()
    }


@pytest.mark.parametrize("seed,n,n_tiles", [
    (7, 200, 4),
    (11, 199, 4),    # non-divisible: first 3 tiles one larger
    (13, 1000, 10),
    (17, 3, 10),     # n < tiles: duplicate boundary ranks
    (19, 1, 4),
    (29, 400, 7),
])
def test_ntile_bracket_matches_reference(spark, seed, n, n_tiles):
    rng = random.Random(seed)
    rows = [(i, round(rng.random() * 10, 1)) for i in range(n)]  # dup v
    df = spark.createDataFrame(rows, "id bigint, v double")
    out = global_ntile(
        df, n_tiles, tile_col="t", input_bytes=1 << 40, order_spec=SPEC
    )
    assert {r["id"]: r["t"] for r in out.collect()} == _ntile_ref(
        spark, rows, n_tiles
    )


def test_ntile_bracket_constant_key(spark):
    # constant primary: one interval holds every row — still exact via
    # the tie-break window (and bounded by the ceiling check)
    rows = [(i, 1.0) for i in range(400)]
    df = spark.createDataFrame(rows, "id bigint, v double")
    out = global_ntile(
        df, 4, tile_col="t", input_bytes=1 << 40, order_spec=SPEC
    )
    assert {r["id"]: r["t"] for r in out.collect()} == _ntile_ref(
        spark, rows, 4
    )


def test_ntile_bracket_zero_exchanges_in_data_pass(spark, tmp_path):
    rows = [(i, float(i % 97)) for i in range(3000)]
    src = str(tmp_path / "ntile_src.parquet")
    spark.createDataFrame(rows, "id bigint, v double").write.parquet(src)
    df = spark.read.parquet(src)
    out = global_ntile(
        df, 4, tile_col="t", input_bytes=1 << 40, order_spec=SPEC
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the returned frame is the file scan plus literal comparisons: no
    # exchange, no window, no checkpoint scan anywhere in the data pass
    assert "Exchange" not in plan, plan
    assert "windowspecdefinition" not in plan.lower(), plan
    assert "Scan ExistingRDD" not in plan, plan
    assert "Scan parquet" in plan, plan


def test_ntile_bracket_fused_two_blocking_rounds(spark, monkeypatch):
    # r15: the verify counts and the boundary pick run as ONE fused job
    # (the conditional aggregate is a 1-row broadcast inside the pick
    # plan), so building the bracket ntile frame blocks the driver on
    # exactly TWO rounds — the sketch .first() and the fused pick
    # .collect() — where r14 ran three (sketch, verify agg, pick).  The
    # caller's action over the returned frame is the third round.
    # Spark 4: concrete sessions hand out the classic subclass, whose
    # own collect/first would shadow a patch on the abstract base
    import pyspark.sql.classic.dataframe as dfmod

    rows = [(i, float(i % 97)) for i in range(3000)]
    df = spark.createDataFrame(rows, "id bigint, v double")
    calls = []
    orig_collect = dfmod.DataFrame.collect
    monkeypatch.setattr(
        dfmod.DataFrame,
        "collect",
        lambda self: (calls.append("collect"), orig_collect(self))[1],
    )
    out = global_ntile(
        df, 4, tile_col="t", input_bytes=1 << 40, order_spec=SPEC
    )
    # .first() bottoms out in limit(1).collect(), so every blocking
    # round is one collect: sketch + fused verify+pick = exactly two
    # (the r14 shape blocked on three: sketch, verify agg, pick).
    assert calls == ["collect", "collect"], (
        f"bracket ntile construction blocked on {len(calls)} collects; "
        f"the fused verify+pick contract is one sketch round plus one "
        f"fused round"
    )
    monkeypatch.undo()
    assert {r["id"]: r["t"] for r in out.collect()} == _ntile_ref(
        spark, rows, 4
    )


def test_ntile_bracket_falls_back_on_tiny_window_ceiling(spark, monkeypatch):
    # post-hoc ceiling check (r15 fuse): an over-ceiling tie block must
    # still decline to the range path and the answer stand.  The module
    # ceiling is read at call time, so setting it here reaches the fused
    # verify; the spy pins that the ceiling — not a bracket miss — is
    # what declines.
    rows = [(i, 1.0) for i in range(100)]  # constant: one giant interval
    from duckdb_webhook_gateway_spark.operators import ranks

    returned = []
    real = ranks._fused_verify_pick

    def spy(*args, **kwargs):
        out = real(*args, **kwargs)
        returned.append(out)
        return out

    monkeypatch.setattr(ranks, "_fused_verify_pick", spy)
    df = spark.createDataFrame(rows, "id bigint, v double")
    global_ntile(df, 4, tile_col="t", input_bytes=1 << 40, order_spec=SPEC)
    assert len(returned) == 1 and returned[0] is not None  # default: picks

    monkeypatch.setattr(ranks, "_BRACKET_WINDOW_CEILING", 10)
    out = global_ntile(
        df, 4, tile_col="t", input_bytes=1 << 40, order_spec=SPEC
    )
    assert len(returned) == 2 and returned[1] is None  # ceiling declined
    assert {r["id"]: r["t"] for r in out.collect()} == _ntile_ref(
        spark, rows, 4
    )


def _q_ref(spark, rows, fracs, desc=False):
    df = spark.createDataFrame(rows, "id bigint, v double")
    order = [F.desc("v") if desc else F.asc("v"), F.asc("id")]
    ranked = df.withColumn(
        "rnk", F.row_number().over(Window.orderBy(*order))
    ).collect()
    n = len(ranked)
    by_rank = {r["rnk"]: (r["id"], r["v"]) for r in ranked}
    out = set()
    for num, den in fracs:
        r = (n * num + den - 1) // den
        if 1 <= r <= n:
            out.add((num / den, r, *by_rank[r]))
    return out


@pytest.mark.parametrize("seed,n,desc", [
    (3, 500, False),
    (5, 37, False),
    (7, 1, False),
    (31, 500, True),   # descending primary: percentile-space mapping
    (37, 244, True),
])
def test_quantiles_bracket_matches_reference(spark, seed, n, desc):
    rng = random.Random(seed)
    rows = [(i, round(rng.random() * 7, 1)) for i in range(n)]
    fracs = [(1, 4), (1, 2), (3, 4), (9, 10), (99, 100)]
    spec = [("v", desc), ("id", False)]
    got = {
        (r["quantile"], r["value_rank"], r["id"], r["v"])
        for r in global_quantiles(
            spark.createDataFrame(rows, "id bigint, v double"),
            fracs=fracs,
            input_bytes=1 << 40,
            order_spec=spec,
        ).collect()
    }
    assert got == _q_ref(spark, rows, fracs, desc=desc), (seed, n, desc)


def test_quantiles_bracket_no_checkpoint_no_range_exchange(spark, tmp_path):
    rows = [(i, float(i)) for i in range(2000)]
    src = str(tmp_path / "q_src.parquet")
    spark.createDataFrame(rows, "id bigint, v double").write.parquet(src)
    df = spark.read.parquet(src)
    out = global_quantiles(
        df, fracs=[(1, 2), (9, 10)], input_bytes=1 << 40, order_spec=SPEC_ASC
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" not in plan.lower(), plan
    # the only ExistingRDD scan allowed is the <= len(fracs)-row pick
    # literal relation (broadcast side) — never a checkpoint of data
    rdd_scans = re.findall(r"Scan ExistingRDD\[([^\]]*)\]", plan)
    assert all("_bp_lr" in s for s in rdd_scans), plan
    # the data pass reads the file with the bracket filter PUSHED DOWN
    assert "PushedFilters: [Or(And(GreaterThanOrEqual" in plan, plan
    rows_out = {(r["quantile"], r["value_rank"]) for r in out.collect()}
    assert rows_out == {(0.5, 1000), (0.9, 1800)}


def test_quantiles_bracket_falls_back_on_nulls(spark):
    # a NULL primary breaks the rank arithmetic the brackets assume —
    # the bracket path must decline and the range path answer stand
    rows = [(i, float(i)) for i in range(50)] + [(50, None)]
    df = spark.createDataFrame(rows, "id bigint, v double")
    out = global_quantiles(
        df, fracs=[(1, 2)], input_bytes=1 << 40, order_spec=SPEC_ASC
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Scan ExistingRDD" in plan  # range path's checkpoint
    assert out.count() == 1


def test_quantiles_bracket_falls_back_on_nan(spark):
    # probed during review: percentile_approx over a 10%-NaN column
    # returns NaN bracket bounds for high quantiles, and interval
    # merging on NaN comparisons raised instead of falling back — any
    # NaN primary must decline to the range path (which orders NaN
    # greatest, matching the plain window)
    rows = [(i, float(i)) for i in range(90)] + [
        (90 + j, float("nan")) for j in range(10)
    ]
    df = spark.createDataFrame(rows, "id bigint, v double")
    out = global_quantiles(
        df,
        fracs=[(1, 2), (99, 100)],
        input_bytes=1 << 40,
        order_spec=SPEC_ASC,
    )
    got = sorted((r["quantile"], r["value_rank"], r["id"]) for r in out.collect())
    assert got == [(0.5, 50, 49), (0.99, 99, 98)]


def test_quantiles_bracket_falls_back_on_nonnumeric(spark):
    df = spark.createDataFrame(
        [(i, chr(65 + i % 26)) for i in range(40)], "id bigint, v string"
    )
    out = global_quantiles(
        df, fracs=[(1, 2)], input_bytes=1 << 40, order_spec=SPEC_ASC
    )
    got = out.collect()
    assert len(got) == 1 and got[0]["value_rank"] == 20


def test_quantiles_bracket_falls_back_on_tiny_window_ceiling(spark):
    # force the over-ceiling branch: every bracket is bigger than 1 row
    rows = [(i, 1.0) for i in range(100)]  # constant: one giant interval
    df = spark.createDataFrame(rows, "id bigint, v double")
    from duckdb_webhook_gateway_spark.operators import ranks

    old = ranks._BRACKET_WINDOW_CEILING
    ranks._BRACKET_WINDOW_CEILING = 10
    try:
        out = global_quantiles(
            df, fracs=[(1, 2)], input_bytes=1 << 40, order_spec=SPEC_ASC
        )
        got = out.collect()
    finally:
        ranks._BRACKET_WINDOW_CEILING = old
    assert len(got) == 1 and got[0]["value_rank"] == 50


def test_quantiles_bracket_empty_fracs_out_of_range(spark):
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(10)], "id bigint, v double"
    )
    out = global_quantiles(
        df, fracs=[(2, 1)], input_bytes=1 << 40, order_spec=SPEC_ASC
    )  # rank 20 > N -> typed empty
    assert out.count() == 0
    assert out.columns == ["quantile", "value_rank", "id", "v"]


@pytest.mark.parametrize("seed", [41, 43, 47, 53, 59])
def test_bracket_randomized_differential(spark, seed):
    """Random corpora x random fracs x random direction x random tie
    density, bracket routes vs the single-task reference — the
    registered-query fuzz can't reach these paths (certification-scale
    inputs route small), so the scale path gets its own sweep."""
    rng = random.Random(seed)
    n = rng.randrange(1, 1200)
    tie_levels = rng.choice([3, 10, 10**6])  # heavy ties .. near-unique
    desc = rng.random() < 0.5
    rows = [
        (i, float(rng.randrange(tie_levels)) / 7) for i in range(n)
    ]
    spec = [("v", desc), ("id", False)]
    fracs = sorted(
        {(rng.randrange(1, 120), rng.randrange(1, 120)) for _ in range(5)}
    )
    df = spark.createDataFrame(rows, "id bigint, v double")
    got = {
        (r["quantile"], r["value_rank"], r["id"])
        for r in global_quantiles(
            df, fracs=fracs, input_bytes=1 << 40, order_spec=spec
        ).collect()
    }
    order = [F.desc("v") if desc else F.asc("v"), F.asc("id")]
    ranked = df.withColumn(
        "rnk", F.row_number().over(Window.orderBy(*order))
    ).collect()
    by_rank = {r["rnk"]: r["id"] for r in ranked}
    want = set()
    for num, den in fracs:
        r = (n * num + den - 1) // den
        if 1 <= r <= n:
            want.add((num / den, r, by_rank[r]))
    assert got == want, (seed, n, tie_levels, desc, fracs)

    n_tiles = rng.randrange(2, 12)
    got_t = {
        r["id"]: r["t"]
        for r in global_ntile(
            df, n_tiles, tile_col="t", input_bytes=1 << 40, order_spec=spec
        ).collect()
    }
    want_t = {
        r["id"]: r["t"]
        for r in df.withColumn(
            "t", F.ntile(n_tiles).over(Window.orderBy(*order))
        ).collect()
    }
    assert got_t == want_t, (seed, n, n_tiles, desc)


# -- cumulative cutoff: value-histogram route -------------------------------


def _c_ref(rows, fracs):
    ordered = sorted(rows, key=lambda r: (-r[1], r[0]))
    total = sum(w for _, w in ordered)
    out = set()
    for num, den in fracs:
        t = (total * num + den - 1) // den
        if not (0 < t <= total):
            continue
        cum = 0
        for rank, (i, w) in enumerate(ordered, start=1):
            cum += w
            if cum >= t:
                out.add((num / den, rank, cum, i, w))
                break
    return out


@pytest.mark.parametrize("seed,n", [(101, 300), (103, 12), (107, 1), (109, 2000)])
def test_value_histogram_cutoff_matches_reference(spark, seed, n):
    rng = random.Random(seed)
    rows = [(i, rng.randrange(0, 9)) for i in range(n)]  # zeros included
    if all(w == 0 for _, w in rows):
        rows[0] = (0, 5)
    fracs = [(1, 2), (9, 10), (99, 100), (1, 1)]
    df = spark.createDataFrame(rows, "id bigint, w bigint")
    got = {
        (r["coverage"], r["cutoff_rank"], r["cum_weight"], r["id"], r["w"])
        for r in global_cumulative_cutoff(
            df,
            weight_col="w",
            fracs=fracs,
            input_bytes=1 << 40,
            order_spec=[("w", True), ("id", False)],
        ).collect()
    }
    assert got == _c_ref(rows, fracs), (seed, n)


def test_value_histogram_never_checkpoints_the_relation(spark):
    rng = random.Random(127)
    rows = [(i, rng.randrange(1, 40)) for i in range(1500)]
    df = spark.createDataFrame(rows, "id bigint, w bigint")
    out = global_cumulative_cutoff(
        df,
        weight_col="w",
        fracs=[(1, 2), (9, 10)],
        input_bytes=1 << 40,
        order_spec=[("w", True), ("id", False)],
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the histogram checkpoint is V rows; the DATA side of the final
    # join must come straight from the source, not a checkpoint of it
    assert "rangepartitioning" not in plan.lower(), plan
    # every window keys on the crossing weight value (bounded blocks)
    for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
        assert "w#" in spec, spec


def test_value_histogram_ascending_weight_order(spark):
    # the canonical Zipf shape is desc, but the operator is generic:
    # ascending primary==weight must pick identical rows to the plain
    # running window
    rng = random.Random(211)
    rows = [(i, rng.randrange(0, 15)) for i in range(500)]
    rows[0] = (0, 7)
    fracs = [(1, 3), (1, 2), (9, 10)]
    df = spark.createDataFrame(rows, "id bigint, w bigint")
    got = {
        (r["coverage"], r["cutoff_rank"], r["cum_weight"], r["id"])
        for r in global_cumulative_cutoff(
            df,
            weight_col="w",
            fracs=fracs,
            input_bytes=1 << 40,
            order_spec=[("w", False), ("id", False)],
        ).collect()
    }
    ordered = sorted(rows, key=lambda r: (r[1], r[0]))
    total = sum(w for _, w in ordered)
    want = set()
    for num, den in fracs:
        t = (total * num + den - 1) // den
        if not (0 < t <= total):
            continue
        cum = 0
        for rank, (i, w) in enumerate(ordered, start=1):
            cum += w
            if cum >= t:
                want.add((num / den, rank, cum, i))
                break
    assert got == want


def test_value_histogram_falls_back_when_primary_is_not_weight(spark):
    # order primary != weight col: the constant-per-block arithmetic
    # doesn't apply; must take the range path and still be right
    rows = [(i, 5 - (i % 5), (i * 7) % 11 + 1) for i in range(300)]
    df = spark.createDataFrame(rows, "id bigint, v bigint, w bigint")
    out = global_cumulative_cutoff(
        df,
        weight_col="w",
        fracs=[(1, 2)],
        input_bytes=1 << 40,
        order_spec=[("v", True), ("id", False)],
    )
    ordered = sorted(rows, key=lambda r: (-r[1], r[0]))
    total = sum(w for _, _, w in ordered)
    t = (total + 1) // 2
    cum = 0
    for rank, (i, v, w) in enumerate(ordered, start=1):
        cum += w
        if cum >= t:
            expect = (rank, cum, i)
            break
    got = out.collect()
    assert len(got) == 1
    assert (
        got[0]["cutoff_rank"], got[0]["cum_weight"], got[0]["id"]
    ) == expect
