"""Streaming micro-batch pipeline: same semantics as the synchronous path,
batched audit writes, exactly-once via checkpoint."""

from __future__ import annotations

import json

from duckdb_webhook_gateway_spark.engine import WebhookConfig
from duckdb_webhook_gateway_spark.engine.audit import FILTERED_OUT_BODY
from duckdb_webhook_gateway_spark.streaming import StreamingGateway


def _register(gateway):
    return gateway.register_webhook(
        WebhookConfig(
            source_path="/stream",
            destination_url="http://example.com/sink",
            transform_query=(
                "SELECT kind, value * 2 AS doubled FROM {{payload}}"
            ),
            filter_query="kind <> 'drop'",
        )
    )


def test_streaming_end_to_end(gateway, spark):
    _register(gateway)
    sg = StreamingGateway(gateway)
    ids = [
        sg.ingest("/stream", {"kind": "a", "value": 1}),
        sg.ingest("/stream", {"kind": "drop", "value": 2}),
        sg.ingest("/stream", {"kind": "b", "value": 3}),
        sg.ingest("/unknown-path", {"kind": "c", "value": 4}),
    ]
    sg.run_available()

    raw = {r.id: r for r in spark.sql("SELECT * FROM raw_events").collect()}
    assert set(raw) == set(ids)

    tr = {
        r.raw_event_id: r
        for r in spark.sql("SELECT * FROM transformed_events").collect()
    }
    assert set(tr) == set(ids[:3])  # unknown path: raw-logged only
    assert json.loads(tr[ids[0]].transformed_payload) == {"kind": "a", "doubled": 2}
    assert tr[ids[1]].success is False
    assert FILTERED_OUT_BODY in tr[ids[1]].response_body
    assert json.loads(tr[ids[2]].transformed_payload) == {"kind": "b", "doubled": 6}


def test_streaming_exactly_once(gateway, spark):
    _register(gateway)
    sg = StreamingGateway(gateway)
    sg.ingest("/stream", {"kind": "x", "value": 10})
    sg.run_available()
    # Re-running the drain must not reprocess the already-checkpointed file.
    sg.run_available()
    assert spark.sql("SELECT count(*) AS n FROM raw_events").first().n == 1
    assert spark.sql("SELECT count(*) AS n FROM transformed_events").first().n == 1
    # New events still flow.
    sg.ingest("/stream", {"kind": "y", "value": 20})
    sg.run_available()
    assert spark.sql("SELECT count(*) AS n FROM raw_events").first().n == 2


def test_vectorized_batch_preserves_per_event_semantics(gateway, spark):
    """Aggregate transforms must aggregate WITHIN each event, not across
    the batch — the LATERAL rewrite's key property."""
    gateway.register_webhook(
        WebhookConfig(
            source_path="/agg",
            destination_url="http://example.com/sink",
            transform_query=(
                "SELECT count(*) AS n, sum(x) AS total FROM {{payload}}"
            ),
        )
    )
    sg = StreamingGateway(gateway)
    ids = [
        sg.ingest("/agg", [{"x": 1}, {"x": 2}]),        # 2 rows -> n=2, total=3
        sg.ingest("/agg", [{"x": 10}, {"x": 20}, {"x": 30}]),  # n=3, total=60
        sg.ingest("/agg", {"x": 7}),                     # 1 row -> n=1, total=7
    ]
    sg.run_available()
    tr = {
        r.raw_event_id: json.loads(r.transformed_payload)
        for r in spark.sql("SELECT * FROM transformed_events").collect()
    }
    assert tr[ids[0]] == {"n": 2, "total": 3}
    assert tr[ids[1]] == {"n": 3, "total": 60}
    assert tr[ids[2]] == {"n": 1, "total": 7}


def test_mixed_shapes_fall_back_cleanly(gateway, spark):
    gateway.register_webhook(
        WebhookConfig(
            source_path="/mix",
            destination_url="http://example.com/sink",
            transform_query="SELECT a FROM {{payload}}",
        )
    )
    sg = StreamingGateway(gateway)
    ids = [
        sg.ingest("/mix", {"a": 1}),
        sg.ingest("/mix", {"a": 2}),
        sg.ingest("/mix", {"a": "str", "b": True}),  # different shape group
    ]
    sg.run_available()
    tr = {
        r.raw_event_id: json.loads(r.transformed_payload)
        for r in spark.sql("SELECT * FROM transformed_events").collect()
    }
    assert tr[ids[0]] == {"a": 1}
    assert tr[ids[2]] == {"a": "str"}


def test_vectorized_empty_result_shapes_to_empty_dict(gateway, spark):
    gateway.register_webhook(
        WebhookConfig(
            source_path="/empty",
            destination_url="http://example.com/sink",
            transform_query="SELECT a FROM {{payload}} WHERE a > 100",
        )
    )
    sg = StreamingGateway(gateway)
    ids = [sg.ingest("/empty", {"a": 1}), sg.ingest("/empty", {"a": 200})]
    sg.run_available()
    tr = {
        r.raw_event_id: json.loads(r.transformed_payload)
        for r in spark.sql("SELECT * FROM transformed_events").collect()
    }
    assert tr[ids[0]] == {}
    assert tr[ids[1]] == {"a": 200}


def test_batch_throughput_smoke(gateway, spark):
    """100 uniform events must process via the vectorized path in well
    under the per-event pace (100 × ~0.6 s would be a minute)."""
    import time

    gateway.register_webhook(
        WebhookConfig(
            source_path="/tp",
            destination_url="http://example.com/sink",
            transform_query="SELECT i, i + 1 AS nxt FROM {{payload}}",
        )
    )
    sg = StreamingGateway(gateway)
    for i in range(100):
        sg.ingest("/tp", {"i": i})
    t0 = time.perf_counter()
    sg.run_available()
    elapsed = time.perf_counter() - t0
    assert spark.sql("SELECT count(*) AS n FROM transformed_events").first().n == 100
    assert elapsed < 30, f"batch of 100 took {elapsed:.1f}s — vectorized path regressed"


def test_windowed_event_counts(gateway, spark):
    """Event-time tumbling windows over the landing stream (the streaming
    extension the reference cannot express)."""
    import datetime as dt
    import json as _json
    import os

    from duckdb_webhook_gateway_spark.streaming.aggregates import (
        run_windowed_counts_once,
    )

    sg = StreamingGateway(gateway)
    # Hand-write envelopes with controlled event times: 3 events in minute
    # 10:00, 2 in 10:01, on two paths.
    stamps = [
        ("/a", "2026-08-13T10:00:05"),
        ("/a", "2026-08-13T10:00:30"),
        ("/b", "2026-08-13T10:00:59"),
        ("/a", "2026-08-13T10:01:10"),
        ("/b", "2026-08-13T10:01:40"),
    ]
    for i, (path, ts) in enumerate(stamps):
        envelope = {
            "event_id": f"e{i}",
            "source_path": path,
            "payload_json": _json.dumps({"i": i}),
            "ingest_ts": ts,
        }
        with open(os.path.join(sg.landing_dir, f"w{i}.json"), "w") as f:
            f.write(_json.dumps(envelope) + "\n")

    rows = run_windowed_counts_once(
        spark, sg.landing_dir, window_duration="1 minute",
        query_name="event_counts_test",
    )
    counts = {
        (r.window_start.strftime("%H:%M"), r.source_path): r.n_events
        for r in rows
    }
    assert counts[("10:00", "/a")] == 2
    assert counts[("10:00", "/b")] == 1
    assert counts[("10:01", "/a")] == 1
    assert counts[("10:01", "/b")] == 1


def test_stateful_streaming_dedup(gateway, spark, tmp_path):
    """applyInPandasWithState dedup: state must persist across drains via
    the checkpoint — a payload from drain 1 re-sent in drain 2 is flagged."""
    from duckdb_webhook_gateway_spark.streaming.stateful import run_dedup_once

    sg = StreamingGateway(gateway)
    ckpt = str(tmp_path / "dedup_ckpt")
    out = str(tmp_path / "dedup_out")

    sg.ingest("/d", {"x": 1})
    sg.ingest("/d", {"x": 1})  # in-batch duplicate
    sg.ingest("/d", {"x": 2})
    run_dedup_once(spark, sg.landing_dir, ckpt, out)

    sg.ingest("/d", {"x": 2})  # cross-batch duplicate
    sg.ingest("/d", {"x": 3})  # fresh
    run_dedup_once(spark, sg.landing_dir, ckpt, out)

    rows = spark.read.parquet(out).collect()
    flags = sorted((r.content_hash, bool(r.is_duplicate)) for r in rows)
    n_dup = sum(1 for r in rows if r.is_duplicate)
    assert len(rows) == 5
    assert n_dup == 2, f"expected in-batch + cross-batch dups, got {flags}"


def test_no_payload_bearing_collect_in_micro_batch(gateway, spark, monkeypatch):
    """The micro-batch path must never collect payload bodies to the
    driver: shape fingerprints are computed executor-side, the raw-event
    append is a distributed write, and each group's payload relation is
    stood up with the replay re-tag pattern.  Spy on every
    DataFrame.collect during a uniform batch (the main path) and assert
    none of the collected frames carries a payload column — only
    metadata (ids, shapes, filter-gate ids) and transform results."""
    _register(gateway)
    sg = StreamingGateway(gateway)
    for i in range(12):
        sg.ingest("/stream", {"kind": f"k{i}", "value": i})

    # Spark 4: the classic DataFrame subclass overrides collect, so the
    # spy must patch the concrete class, not the abstract base.
    try:
        from pyspark.sql.classic.dataframe import DataFrame as DF
    except ImportError:  # older layouts: one concrete class
        from pyspark.sql import DataFrame as DF

    orig = DF.collect
    seen: list[tuple[str, ...]] = []

    def spy(self):
        seen.append(tuple(self.columns))
        return orig(self)

    monkeypatch.setattr(DF, "collect", spy)
    try:
        sg.run_available()
    finally:
        monkeypatch.setattr(DF, "collect", orig)

    assert seen, "expected the micro-batch to run at least one collect"
    bad = [
        cols for cols in seen if {"payload_json", "payload"} & set(cols)
    ]
    assert bad == [], f"payload-bearing collects in micro-batch path: {bad}"
    # transform RESULTS stay distributed too (r5 item): the shaped
    # delivery bodies and their audit rows are built + delivered + written
    # executor-side, so no collected frame may carry the transform's
    # output columns or the audit payload column
    bad_res = [
        cols
        for cols in seen
        if {"doubled", "transformed_payload", "__role", "__corr_id"}
        & set(cols)
    ]
    assert bad_res == [], f"result-bearing collects in micro-batch: {bad_res}"
    n = spark.sql("SELECT count(*) AS n FROM transformed_events").first().n
    assert n == 12


def test_exotic_shape_fallback_still_processes(gateway, spark):
    """fp=None shapes (list with non-dict elements, __corr_id collisions)
    take the bounded per-event fallback and still produce audit rows."""
    gateway.register_webhook(
        WebhookConfig(
            source_path="/exotic",
            destination_url="http://example.com/sink",
            transform_query="SELECT a FROM {{payload}}",
        )
    )
    sg = StreamingGateway(gateway)
    ids = [
        sg.ingest("/exotic", {"a": 5, "__corr_id": "collides"}),
        sg.ingest("/exotic", {"a": 6}),
    ]
    sg.run_available()
    tr = {
        r.raw_event_id: json.loads(r.transformed_payload)
        for r in spark.sql("SELECT * FROM transformed_events").collect()
    }
    assert tr[ids[0]] == {"a": 5}
    assert tr[ids[1]] == {"a": 6}


def test_runtime_transform_failure_does_not_poison_batch(gateway, spark):
    """A transform that ANALYZES fine but fails at RUNTIME on one payload
    (here: a UDF raising on a specific value) must not wedge the batch.
    The distributed union write fails when the plan executes; the engine
    must isolate the failure — healthy groups still audit via their own
    keyed writes, the poisoned group reprocesses per-event, and the
    failing event gets an "Error: ..." row (the reference's contract,
    src/app.py:1232-1244) — then commit the batch so ingestion continues."""
    from duckdb_webhook_gateway_spark.engine.udfs import udf_full_name

    rec = gateway.register_webhook(
        WebhookConfig(
            source_path="/boom",
            destination_url="http://example.com/sink",
            transform_query="SELECT v FROM {{payload}}",
        )
    )
    wid = rec["id"]
    gateway.udfs.register(
        wid,
        "boom",
        "def boom(x: int) -> int:\n"
        "    if x == 13:\n"
        "        raise ValueError('unlucky payload')\n"
        "    return x * 10\n",
    )
    fn = udf_full_name(wid, "boom")
    gateway.catalog.update(
        wid,
        WebhookConfig(
            source_path="/boom",
            destination_url="http://example.com/sink",
            transform_query=f"SELECT {fn}(v) AS out FROM {{{{payload}}}}",
        ),
    )
    # healthy sibling group in the same batch
    gateway.register_webhook(
        WebhookConfig(
            source_path="/fine",
            destination_url="http://example.com/sink",
            transform_query="SELECT a AS kept FROM {{payload}}",
        )
    )
    sg = StreamingGateway(gateway)
    ids = [
        sg.ingest("/boom", {"v": 1}),
        sg.ingest("/boom", {"v": 13}),  # raises inside the UDF at runtime
        sg.ingest("/boom", {"v": 2}),
        sg.ingest("/fine", {"a": 7}),
    ]
    sg.run_available()

    tr = {
        r.raw_event_id: r
        for r in spark.sql("SELECT * FROM transformed_events").collect()
    }
    assert set(tr) == set(ids)  # every event audited exactly once
    assert json.loads(tr[ids[0]].transformed_payload) == {"out": 10}
    assert json.loads(tr[ids[2]].transformed_payload) == {"out": 20}
    assert json.loads(tr[ids[3]].transformed_payload) == {"kept": 7}
    bad = tr[ids[1]]
    assert bad.success is False
    assert bad.response_body is not None and bad.response_body.startswith(
        "Error:"
    )
    # batch committed: a re-drain must not duplicate or reprocess
    sg.run_available()
    n = spark.sql(
        "SELECT count(*) AS n FROM transformed_events"
    ).first().n
    assert n == 4
    # ingestion is not wedged: new events still flow
    new_id_ = sg.ingest("/fine", {"a": 8})
    sg.run_available()
    tr2 = {
        r.raw_event_id: json.loads(r.transformed_payload)
        for r in spark.sql("SELECT * FROM transformed_events").collect()
    }
    assert tr2[new_id_] == {"kept": 8}


def test_ingest_many_bulk_file(gateway, spark):
    """ingest_many lands N events as ONE json-lines file with the same
    processing semantics — the bulk path that sidesteps the file source's
    per-file fixed cost (measured ~200 ev/s as one-event files vs ~550
    as 500-event files for the same 5k drain)."""
    import os

    _register(gateway)
    sg = StreamingGateway(gateway)
    ids = sg.ingest_many(
        "/stream", [{"kind": f"k{i}", "value": i} for i in range(8)]
    )
    assert len(ids) == len(set(ids)) == 8
    files = [f for f in os.listdir(sg.landing_dir) if not f.startswith(".")]
    assert len(files) == 1  # one landing file for the whole batch
    sg.run_available()
    tr = {
        r.raw_event_id: json.loads(r.transformed_payload)
        for r in spark.sql("SELECT * FROM transformed_events").collect()
    }
    assert set(tr) == set(ids)
    assert tr[ids[3]] == {"kind": "k3", "doubled": 6}
    assert sg.ingest_many("/stream", []) == []  # empty batch: no file


def test_group_commit_coalesces_concurrent_ingests(gateway, spark):
    """With group_commit_window set, concurrent ingests share landing
    files (WAL group commit): every event is durable at ack time, all
    process exactly once, and the drain sees far fewer files than
    events."""
    import os
    from concurrent.futures import ThreadPoolExecutor

    _register(gateway)
    sg = StreamingGateway(gateway, group_commit_window=0.02)
    N = 96
    with ThreadPoolExecutor(max_workers=16) as pool:
        ids = list(
            pool.map(
                lambda i: sg.ingest("/stream", {"kind": f"k{i}", "value": i}),
                range(N),
            )
        )
    assert len(set(ids)) == N
    files = [f for f in os.listdir(sg.landing_dir) if not f.startswith(".")]
    assert 0 < len(files) < N  # coalesced: fewer files than events
    sg.run_available()
    tr = {
        r.raw_event_id: json.loads(r.transformed_payload)
        for r in spark.sql("SELECT * FROM transformed_events").collect()
    }
    assert set(tr) == set(ids)
    assert tr[ids[10]] == {"kind": "k10", "doubled": 20}


def test_group_commit_flush_failure_propagates_and_recovers(gateway):
    """A failed shared-file write must raise in every waiter of that
    batch (their events are NOT durable — acking success would lie) and
    must not wedge the buffer: later ingests flush normally."""
    import os as _os

    from duckdb_webhook_gateway_spark.streaming.webhook_source import (
        _GroupCommit,
    )

    gc = _GroupCommit(gateway.workdir + "/landing-gc", window_s=0.01)
    _os.makedirs(gc.dir, exist_ok=True)
    real_rename = _os.rename
    boom = {"on": True}

    def flaky_rename(src, dst):
        if boom["on"] and gc.dir in str(dst):
            raise OSError("disk full")
        return real_rename(src, dst)

    _os.rename = flaky_rename
    try:
        import pytest as _pytest

        with _pytest.raises(OSError):
            gc.submit('{"event_id": "a"}')
        boom["on"] = False
        gc.submit('{"event_id": "b"}')  # buffer recovered
    finally:
        _os.rename = real_rename
    files = [f for f in _os.listdir(gc.dir) if not f.startswith(".")]
    assert len(files) == 1


def test_group_commit_ack_bounded_under_sustained_ingest(gateway):
    """Flushing runs on a dedicated daemon thread: no producer's ack may
    be held for the duration of a busy period (the earlier design
    drafted the first submitter as flusher and kept it while the buffer
    stayed non-empty — under sustained concurrent ingest that one HTTP
    thread was trapped until traffic stopped)."""
    import os as _os
    import threading
    import time as _time

    from duckdb_webhook_gateway_spark.streaming.webhook_source import (
        _GroupCommit,
    )

    gc = _GroupCommit(gateway.workdir + "/landing-gc2", window_s=0.01)
    _os.makedirs(gc.dir, exist_ok=True)
    stop = _time.time() + 2.0
    worst = {"lat": 0.0}
    lock = threading.Lock()

    def producer(i):
        n = 0
        while _time.time() < stop:
            t0 = _time.time()
            gc.submit('{"event_id": "%d-%d"}' % (i, n))
            lat = _time.time() - t0
            with lock:
                worst["lat"] = max(worst["lat"], lat)
            n += 1

    threads = [threading.Thread(target=producer, args=(i,)) for i in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    # sustained 2 s of overlapping traffic: every single ack stayed
    # bounded by ~window + one write (generous CI margin), nothing was
    # trapped for the busy period
    assert worst["lat"] < 1.0, worst
    assert gc._flusher is not None and gc._flusher.daemon


def test_stream_stores_same_body_as_sync_ingest(spark, tmp_path):
    """A streamed event's stored ``transformed_payload`` is byte-identical
    to what ``Gateway.ingest`` stores for the same payload, whichever
    streaming path (shape group or per-event) the event takes: key order,
    empty containers, int64-overflowing literals, ``__corr_id`` keys and
    heterogeneous list rows included."""
    from duckdb_webhook_gateway_spark.engine import Gateway

    payloads = [
        {"a": 1, "b": "x"},
        {"a": 1.5, "b": True},
        {"a": 1, "f": 2.5},
        {"n": {"x": 1, "y": {"z": "s"}}},
        {"l": [1, 2, 3]},
        {"l": [1, 2.5]},
        {"lod": [{"k": 1}, {"k": 2}]},
        {"m": None, "a": 3},
        [{"r": 1}, {"r": 2}],
        {"deep": [{"xs": [1, 2]}]},
        {"l": [1, None, 3]},
        {"dot.key": 1},
        {"m": [1, "s"]},
        {"m": [1, {"k": 2}]},
        {"zz": "s", "aa": 1},
        {"zz": "t", "aa": 2},
        {"a": {}},
        {"a": []},
        {"big": 2**70},
        {"__corr_id": "x", "a": 1},
        {"n": {"__corr_id": "x", "b": 2}},
        [{"a": 1, "c": "p"}, {"b": "x"}],
    ]
    config = WebhookConfig(
        source_path="/parity",
        destination_url="http://example.com/sink",
        transform_query="SELECT * FROM {{payload}}",
    )

    def stored(ids):
        body = {
            r.raw_event_id: r.transformed_payload
            for r in spark.sql("SELECT * FROM transformed_events").collect()
        }
        return [body[i] for i in ids]

    sync = Gateway(spark, workdir=str(tmp_path / "sync"))
    sync.register_webhook(config)
    want = stored([sync.ingest("/parity", p).raw_event_id for p in payloads])

    streamed = Gateway(spark, workdir=str(tmp_path / "stream"))
    streamed.register_webhook(config)
    sg = StreamingGateway(streamed)
    ids = [sg.ingest("/parity", p) for p in payloads]
    sg.run_available()
    got = stored(ids)
    assert [
        (p, g, w) for p, g, w in zip(payloads, got, want) if g != w
    ] == []
    assert json.loads(got[payloads.index({"zz": "s", "aa": 1})]) == {
        "zz": "s",
        "aa": 1,
    }


def test_group_analysis_failure_warns_and_audits_per_event(
    gateway, spark, capfd
):
    """A group whose filter fails analysis falls back to the per-event
    path, which audits an "Error: ..." row per event; the fallback is
    reported on stderr with the batch id, webhook id and exception."""
    wid = gateway.register_webhook(
        WebhookConfig(
            source_path="/badfilter",
            destination_url="http://example.com/sink",
            transform_query="SELECT a FROM {{payload}}",
            filter_query="no_such_column > 1",
        )
    )["id"]
    sg = StreamingGateway(gateway)
    ids = [sg.ingest("/badfilter", {"a": i}) for i in range(3)]
    capfd.readouterr()
    sg.run_available()
    err = capfd.readouterr().err
    tr = {
        r.raw_event_id: r
        for r in spark.sql("SELECT * FROM transformed_events").collect()
    }
    assert set(tr) == set(ids)
    for i in ids:
        assert tr[i].success is False
        assert tr[i].response_body.startswith("Error:")
    warned = [line for line in err.splitlines() if "WARNING" in line]
    assert any(
        "batch 0" in line and wid in line and "no_such_column" in line
        for line in warned
    ), err


def test_batch_replay_is_idempotent(gateway, spark):
    """A replayed micro-batch (same batch_id) must not duplicate audit
    rows: the ledger skips committed batches, and batch-keyed file names
    make a partial retry overwrite its own earlier output."""
    _register(gateway)
    sg = StreamingGateway(gateway)
    sg.ingest("/stream", {"kind": "a", "value": 1})
    sg.ingest("/stream", {"kind": "b", "value": 2})
    sg.run_available()
    batch_df = spark.sql("SELECT 1").limit(0)  # unused when ledger skips

    n_raw = spark.sql("SELECT count(*) AS n FROM raw_events").first().n
    # Simulate Structured Streaming replaying batch 0 after a crash.
    sg.process_batch(batch_df, 0)
    assert spark.sql("SELECT count(*) AS n FROM raw_events").first().n == n_raw

    # Uncommitted replay (ledger wiped): the batch re-runs, but the
    # batch-keyed parquet overwrite keeps the audit row count identical.
    import os
    os.unlink(sg._ledger_path)
    from duckdb_webhook_gateway_spark.streaming.webhook_source import ENVELOPE_SCHEMA
    replay = spark.read.schema(ENVELOPE_SCHEMA).json(sg.landing_dir)
    sg.process_batch(replay, 0)
    assert spark.sql("SELECT count(*) AS n FROM raw_events").first().n == n_raw


def test_stream_static_enrichment_join(gateway, spark):
    """Envelopes enriched against a broadcast static dimension — the
    stream-static join pattern (no state store, map-side probe)."""
    import json as _json
    import os

    from duckdb_webhook_gateway_spark.streaming.enrichment import (
        run_enriched_once,
    )

    sg = StreamingGateway(gateway)
    for i, path in enumerate(["/a", "/a", "/b", "/c"]):
        envelope = {
            "event_id": f"en{i}",
            "source_path": path,
            "payload_json": _json.dumps({"i": i}),
            "ingest_ts": "2026-08-13T10:00:05",
        }
        with open(os.path.join(sg.landing_dir, f"en{i}.json"), "w") as f:
            f.write(_json.dumps(envelope) + "\n")

    dim = spark.createDataFrame(
        [("/a", "alpha", 1), ("/b", "beta", 2)],
        ["source_path", "team", "priority"],
    )
    rows = run_enriched_once(
        spark, sg.landing_dir, dim, query_name="enriched_test"
    )
    by_event = {r.event_id: (r.team, r.priority) for r in rows}
    assert len(rows) == 4
    assert by_event["en0"] == ("alpha", 1)
    assert by_event["en2"] == ("beta", 2)
    assert by_event["en3"] == (None, None)  # left join keeps unmatched


def test_streaming_session_windows(gateway, spark):
    """Gap-based session windows: two bursts 2 minutes apart on one path
    must land in two sessions; the second path sessionizes independently."""
    import json as _json
    import os

    from duckdb_webhook_gateway_spark.streaming.enrichment import (
        run_session_windows_once,
    )

    sg = StreamingGateway(gateway)
    stamps = [
        ("/a", "2026-08-13T10:00:00"),
        ("/a", "2026-08-13T10:00:10"),  # same session (10s gap < 30s)
        ("/a", "2026-08-13T10:02:30"),  # new session (140s gap)
        ("/b", "2026-08-13T10:00:05"),
    ]
    for i, (path, ts) in enumerate(stamps):
        envelope = {
            "event_id": f"s{i}",
            "source_path": path,
            "payload_json": _json.dumps({"i": i}),
            "ingest_ts": ts,
        }
        with open(os.path.join(sg.landing_dir, f"s{i}.json"), "w") as f:
            f.write(_json.dumps(envelope) + "\n")

    rows = run_session_windows_once(
        spark, sg.landing_dir, gap="30 seconds",
        query_name="session_counts_test",
    )
    sessions = sorted(
        (r.source_path, r.session_start.strftime("%H:%M:%S"), r.n_events)
        for r in rows
    )
    assert sessions == [
        ("/a", "10:00:00", 2),
        ("/a", "10:02:30", 1),
        ("/b", "10:00:05", 1),
    ]


def test_stream_stream_interval_join(gateway, spark, tmp_path):
    """Stream-stream interval join: receipts match their envelope only
    within max_lag of ingest; both sides watermarked so join state is
    bounded.  The out-of-window receipt and the receipt-less envelope
    must not produce rows."""
    import json as _json
    import os

    from duckdb_webhook_gateway_spark.streaming.joins import (
        run_ingest_receipt_join_once,
    )

    sg = StreamingGateway(gateway)
    receipt_dir = str(tmp_path / "receipts")
    os.makedirs(receipt_dir)
    envelopes = [
        ("e0", "2026-08-13T10:00:00"),  # receipt 30 s later -> match
        ("e1", "2026-08-13T10:00:00"),  # receipt 20 min later -> no match
        ("e2", "2026-08-13T10:00:00"),  # no receipt at all
    ]
    for i, (eid, ts) in enumerate(envelopes):
        env = {
            "event_id": eid,
            "source_path": "/a",
            "payload_json": _json.dumps({"i": i}),
            "ingest_ts": ts,
        }
        with open(os.path.join(sg.landing_dir, f"j{i}.json"), "w") as f:
            f.write(_json.dumps(env) + "\n")
    receipts = [
        ("e0", 200, "2026-08-13T10:00:30"),
        ("e1", 200, "2026-08-13T10:20:00"),
        ("e9", 404, "2026-08-13T10:00:10"),  # receipt for unknown event
    ]
    for i, (eid, code, ts) in enumerate(receipts):
        with open(os.path.join(receipt_dir, f"r{i}.json"), "w") as f:
            f.write(
                _json.dumps(
                    {"event_id": eid, "status_code": code, "receipt_ts": ts}
                )
                + "\n"
            )

    rows = run_ingest_receipt_join_once(
        spark, sg.landing_dir, receipt_dir, max_lag="10 minutes",
        query_name="ingest_receipts_test",
    )
    assert [(r.event_id, r.status_code, r.delivery_lag_us) for r in rows] == [
        ("e0", 200, 30_000_000.0)
    ]


def test_stateful_streaming_sessionization(spark, tmp_path):
    """Gap-closed sessions emit as later events arrive; the open tail
    rides the checkpointed state across drains (restart-safe)."""
    import json as _json

    from duckdb_webhook_gateway_spark.streaming.stateful import (
        run_sessions_once,
    )

    events_dir = tmp_path / "events_in"
    events_dir.mkdir()
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "sessions.parquet")

    def drop(name, rows):
        with open(events_dir / name, "w") as f:
            for eid, ts, uid, val in rows:
                f.write(_json.dumps(
                    {"event_id": eid, "ts": ts, "user_id": uid, "value": val}
                ) + "\n")

    t = "2026-01-01T10:{m:02d}:00"
    drop("b1.json", [
        (1, t.format(m=0), 1, 1.0),
        (2, t.format(m=10), 1, 2.0),   # same session (gap 10 min)
        (3, "2026-01-01T11:00:00", 1, 4.0),  # 50-min gap -> closes s1
        (4, t.format(m=5), 2, 8.0),    # user 2, stays open
    ])
    run_sessions_once(spark, str(events_dir), ckpt, out)
    got = spark.read.parquet(out).collect()
    assert len(got) == 1  # only user 1's first session has closed
    s1 = got[0]
    assert s1.user_id == 1 and s1.n_events == 2 and s1.sum_value == 3.0
    assert s1.session_start.minute == 0 and s1.session_end.minute == 10

    drop("b2.json", [
        (5, "2026-01-01T13:00:00", 1, 0.5),   # closes user 1's second session
        (6, "2026-01-01T14:00:00", 2, 0.25),  # closes user 2's first session
    ])
    run_sessions_once(spark, str(events_dir), ckpt, out)
    rows = {(r.user_id, r.n_events, r.sum_value)
            for r in spark.read.parquet(out).collect()}
    assert rows == {
        (1, 2, 3.0),   # drain-1 emission, still present (append sink)
        (1, 1, 4.0),   # user 1 session 2, closed by event 5
        (2, 1, 8.0),   # user 2 session 1, closed by event 6
    }


def test_streaming_heavy_hitters_superset_across_batches(spark):
    """MG counters must survive micro-batch boundaries via the state
    store: after draining a multi-batch replay, every item whose TOTAL
    frequency exceeds n_group/k appears in the final summary."""
    from collections import Counter

    import pyspark.sql.functions as F

    from duckdb_webhook_gateway_spark.streaming.stateful import (
        run_heavy_hitters_once,
    )

    rows = []
    for g in ("a", "b"):
        for i in range(30):
            rows.extend([(g, f"{g}{i:02d}")] * (300 // (i + 1)))
    items = spark.createDataFrame(rows, "grp string, item string")
    k = 8
    got = {
        (r["grp"], r["item"])
        for r in run_heavy_hitters_once(spark, items, k=k, n_files=5).collect()
    }
    for g in ("a", "b"):
        grp_items = [i for gg, i in rows if gg == g]
        n = len(grp_items)
        exact = {i for i, c in Counter(grp_items).items() if c * k > n}
        assert {(g, i) for i in exact} <= got, (g, exact, got)
    # bounded summary: at most k items per group survive
    for g in ("a", "b"):
        assert sum(1 for gg, _ in got if gg == g) <= k


def test_dedup_within_watermark_bounded_state(spark, tmp_path):
    """dropDuplicatesWithinWatermark: duplicates inside the delay window
    drop; after the watermark passes a key's event time + delay, its
    state evicts and a later re-send is treated as NEW — the bounded-state
    trade documented in streaming/stateful.py."""
    import json as _json
    import os

    from duckdb_webhook_gateway_spark.streaming.stateful import (
        dedup_within_watermark_stream,
    )

    landing = tmp_path / "wm_in"
    landing.mkdir()
    ckpt = str(tmp_path / "wm_ckpt")
    out = str(tmp_path / "wm_out")

    def drain(rows, n):
        p = landing / f"f{n}.json"
        p.write_text(
            "\n".join(
                _json.dumps({"k": k, "ts": ts}) for k, ts in rows
            )
        )
        stream = spark.readStream.schema("k string, ts timestamp").json(
            str(landing)
        )
        q = (
            dedup_within_watermark_stream(stream, ["k"], "ts", "1 hour")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # drain 1: A twice within the window (1 emitted) + a sentinel 3h later
    # that pushes the watermark past A's eviction horizon
    drain(
        [
            ("A", "2026-01-01 10:00:00"),
            ("A", "2026-01-01 10:05:00"),
            ("B", "2026-01-01 13:00:00"),
        ],
        1,
    )
    # drain 2: A re-sent with a fresh event time — state evicted, so NEW
    drain([("A", "2026-01-01 13:30:00")], 2)

    rows = spark.read.parquet(out).collect()
    ks = sorted(r.k for r in rows)
    assert ks == ["A", "A", "B"], ks


def test_stream_stream_outer_join_emits_lost_after_watermark(spark, tmp_path):
    """LEFT OUTER interval join: a matched envelope emits immediately; a
    receipt-less envelope emits with NULL receipt columns only after the
    watermark passes ingest_ts + max_lag (drain 2's later data advances
    it) — the 'declare the delivery lost' semantics."""
    import json as _json
    import os

    from duckdb_webhook_gateway_spark.streaming.joins import (
        ingest_receipt_join_outer,
    )

    landing = str(tmp_path / "env")
    receipts = str(tmp_path / "rec")
    ckpt = str(tmp_path / "ckpt")
    out_dir = str(tmp_path / "out")
    os.makedirs(landing)
    os.makedirs(receipts)

    def write(d, name, rows):
        with open(os.path.join(d, name), "w") as f:
            f.write("\n".join(_json.dumps(r) for r in rows))

    def drain():
        df = ingest_receipt_join_outer(
            spark, landing, receipts, max_lag="10 minutes",
            watermark="1 minute",
        )
        q = (
            df.writeStream.outputMode("append")
            .format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    write(landing, "e.json", [
        {"event_id": "ok", "source_path": "/a",
         "payload_json": "{}", "ingest_ts": "2026-08-13T10:00:00"},
        {"event_id": "lost", "source_path": "/a",
         "payload_json": "{}", "ingest_ts": "2026-08-13T10:00:00"},
    ])
    write(receipts, "r.json", [
        {"event_id": "ok", "status_code": 200,
         "receipt_ts": "2026-08-13T10:00:30"},
    ])
    drain()
    got1 = {r.event_id: r.status_code for r in spark.read.parquet(out_dir).collect()}
    assert got1.get("ok") == 200
    assert "lost" not in got1  # watermark hasn't passed the lag horizon yet

    # later traffic on BOTH streams advances both watermarks past
    # 10:00 + 10 min; the unmatched envelope must now emit with NULLs
    write(landing, "e2.json", [
        {"event_id": "late", "source_path": "/a",
         "payload_json": "{}", "ingest_ts": "2026-08-13T11:00:00"},
    ])
    write(receipts, "r2.json", [
        {"event_id": "late", "status_code": 200,
         "receipt_ts": "2026-08-13T11:00:01"},
    ])
    drain()
    rows = {r.event_id: r for r in spark.read.parquet(out_dir).collect()}
    assert "lost" in rows, sorted(rows)
    assert rows["lost"].status_code is None
    assert rows["lost"].delivery_lag_us is None


def test_session_group_sorts_across_chunks():
    """_session_group must sort the WHOLE micro-batch, not each Arrow
    chunk: a later chunk carrying earlier events would otherwise fold
    out of order and merge across a genuine gap."""
    import pandas as pd

    from duckdb_webhook_gateway_spark.streaming.stateful import _session_group

    class _State:
        exists = False
        hasTimedOut = False

        def update(self, v):
            self.exists = True
            self.val = v

        @property
        def get(self):
            return self.val

    def ev(ts_iso, eid, val=1.0):
        return {"event_id": eid, "ts": pd.Timestamp(ts_iso),
                "user_id": 1, "value": val}

    # chunk 1 holds the LATEST event; chunks 2 carries two earlier ones
    # separated from it by >30 min — correct folding yields ONE closed
    # session (the early pair) and parks the late event
    chunk1 = pd.DataFrame([ev("2026-01-01 12:00:00", 3)])
    chunk2 = pd.DataFrame(
        [ev("2026-01-01 10:00:00", 1), ev("2026-01-01 10:10:00", 2)]
    )
    st = _State()
    out = list(_session_group((1,), iter([chunk1, chunk2]), st))
    assert len(out) == 1 and len(out[0]) == 1
    closed = out[0].iloc[0]
    assert closed["n_events"] == 2
    assert str(closed["session_end"]).startswith("2026-01-01 10:10")
    # open tail = the 12:00 event
    assert st.val[2] == 1


def test_replay_user_sessions_boundary_and_micro_precision(spark):
    """The stream/batch session-equivalence bridge (round 11): an event
    at EXACTLY last_ts + gap must MERGE into the open session (Spark
    merges while ts <= session_end; the DuckDB oracle mirrors with a
    strict ts - lag(ts) > gap break), session_end must equal
    last_ts + gap, and MICROSECOND timestamps must survive the JSON
    landing round-trip (the default JSON timestamp format truncates to
    milliseconds, which silently moves session bounds)."""
    import datetime as dt

    from duckdb_webhook_gateway_spark.streaming.aggregates import (
        replay_user_sessions,
    )

    rows = [
        (1, 10, dt.datetime(2026, 1, 1, 0, 0, 0, 123456)),
        (2, 10, dt.datetime(2026, 1, 1, 0, 10, 0)),
        # exactly gap after the previous event: still the same session
        (3, 10, dt.datetime(2026, 1, 1, 0, 40, 0)),
        # 1 microsecond past the gap from event 3's end: a NEW session
        (4, 10, dt.datetime(2026, 1, 1, 1, 10, 0, 1)),
        (5, 20, dt.datetime(2026, 1, 1, 0, 0, 0)),
    ]
    ev = spark.createDataFrame(
        rows, "event_id bigint, user_id bigint, ts timestamp_ntz"
    )
    got = sorted(
        map(tuple, replay_user_sessions(spark, ev, gap="30 minutes").collect())
    )
    assert got == [
        (
            dt.datetime(2026, 1, 1, 0, 0, 0),
            dt.datetime(2026, 1, 1, 0, 30, 0),
            20,
            1,
        ),
        (
            dt.datetime(2026, 1, 1, 0, 0, 0, 123456),
            dt.datetime(2026, 1, 1, 1, 10, 0),
            10,
            3,
        ),
        (
            dt.datetime(2026, 1, 1, 1, 10, 0, 1),
            dt.datetime(2026, 1, 1, 1, 40, 0, 1),
            10,
            1,
        ),
    ]


def test_replay_dedup_daily_users_state_and_null_contract(spark):
    """The stream/batch DEDUP-equivalence bridge (round 11): planted
    duplicate (user, type, day) triples must collapse in the native
    dropDuplicates state store no matter how many raw events carry
    them, the same user must still count once per DISTINCT day/type,
    and rows with NULL key components must be EXCLUDED (dropDuplicates
    keys NULLs, COUNT(DISTINCT) skips them — the bridge pins the filter
    on both sides rather than letting the engines disagree)."""
    import datetime as dt

    from duckdb_webhook_gateway_spark.streaming.aggregates import (
        replay_dedup_daily_users,
    )

    d1 = dt.datetime(2026, 2, 1, 9, 0, 0)
    d1b = dt.datetime(2026, 2, 1, 22, 30, 0)  # same day, later
    d2 = dt.datetime(2026, 2, 2, 9, 0, 0)
    rows = [
        # user 10 clicks 3x on day 1 (one survivor) and once on day 2
        (1, 10, "click", d1),
        (2, 10, "click", d1),
        (3, 10, "click", d1b),
        (4, 10, "click", d2),
        # user 20: one click day 1, one view day 1
        (5, 20, "click", d1),
        (6, 20, "view", d1),
        # NULL key components: all excluded
        (7, None, "click", d1),
        (8, 30, None, d1),
        (9, 30, "click", None),
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id bigint, user_id bigint, event_type string, "
        "ts timestamp_ntz",
    )
    got = sorted(
        (r.event_type, str(r.day), r.n_active_users)
        for r in replay_dedup_daily_users(spark, ev).collect()
    )
    assert got == [
        ("click", "2026-02-01", 2),
        ("click", "2026-02-02", 1),
        ("view", "2026-02-01", 1),
    ]


def test_replay_bridges_normalize_ltz_event_time(spark):
    """The driver's nanos parquet generation reads events.ts back as
    LTZ TimestampType (sources/files.py timestamp_micros path).  An LTZ
    value serializes to JSON with a zone suffix the NTZ readStream
    schema cannot parse — before the fix every ts came back NULL and
    the dedup bridge (which filters NULL keys) silently returned an
    EMPTY result instead of failing.  All three bridges must normalize
    to NTZ before landing."""
    import datetime as dt

    from pyspark.sql import functions as F

    from duckdb_webhook_gateway_spark.streaming.aggregates import (
        replay_dedup_daily_users,
        replay_hourly_counts,
    )

    ev = spark.createDataFrame(
        [
            (1, 10, "click", dt.datetime(2026, 3, 1, 9, 0, 0)),
            (2, 10, "click", dt.datetime(2026, 3, 1, 10, 0, 0)),
            (3, 20, "view", dt.datetime(2026, 3, 2, 9, 0, 0)),
        ],
        "event_id bigint, user_id bigint, event_type string, "
        "ts timestamp_ntz",
    ).withColumn("ts", F.col("ts").cast("timestamp"))  # force LTZ
    assert dict(ev.dtypes)["ts"] == "timestamp"
    got = sorted(
        (r.event_type, str(r.day), r.n_active_users)
        for r in replay_dedup_daily_users(spark, ev).collect()
    )
    assert got == [
        ("click", "2026-03-01", 1),
        ("view", "2026-03-02", 1),
    ]
    hourly = sorted(
        (str(r.window_start), r.event_type, r.n_events)
        for r in replay_hourly_counts(
            spark, ev.select("event_id", "event_type", "ts")
        ).collect()
    )
    assert len(hourly) == 3 and hourly[0][2] == 1
