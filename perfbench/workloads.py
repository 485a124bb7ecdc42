"""The benchmark's workloads, each a closed loop with one caller thread.

Every workload returns an :class:`Outcome`: its share of set-up time, the
latency samples of each operation class in its mix, the checks it made,
and (traced runs) the per-layer figures.  Layers are timed from here, by
wrapping calls to their public functions; the engine itself carries no
instrumentation.
"""

from __future__ import annotations

import json
import os
import random
import time
from dataclasses import dataclass, field

from harness import Metric, Spans, SparkWork, Work, median, mix_latency, timings
from inputs import (
    ADHOC_SQL,
    CLICKS_STREAM,
    CLICKS_TRANSFORM,
    ENRICH,
    ENRICH_PATH,
    FLAT,
    FLAT_FILTER,
    FLAT_PATH,
    FLAT_TRANSFORM,
    LIST,
    LIST_PATH,
    LIST_TRANSFORM,
    ORDERS_STREAM,
    PATHS,
    SYNC_MIX,
    UDF_CODE,
    UDF_NAME,
    enrich_transform,
    expected,
    expected_stream,
    history,
    stream_files,
    sync_events,
    sync_stream,
    tier_rows,
)

DEST = "http://example.com/hook"  # the engine mocks delivery to example.com
SETUP_REPEATS = 3
FILTERED_BODY = "Filtered out by filter_query"


@dataclass
class Outcome:
    setup_s: float
    shares: dict[str, float]  # operation class -> its share of the mix
    op_s: dict[str, list[float]] = field(default_factory=dict)  # latencies per class
    ops: int = 0  # operations completed in the measured window
    window_s: float = 0.0
    attempted: int = 0
    failed: int = 0
    details: list[Metric] = field(default_factory=list)  # printed, not in BENCHMARK.json
    layers: dict[str, float] = field(default_factory=dict)
    notes: list[str] = field(default_factory=list)

    def sample(self, op_class: str, seconds: float) -> None:
        self.op_s.setdefault(op_class, []).append(seconds)

    def samples(self) -> int:
        return sum(len(v) for v in self.op_s.values())

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.notes) < 20:
                self.notes.append(f"check failed: {what}")


def timed_setups(make):
    """Run ``make(i)`` SETUP_REPEATS times, each on fresh state; return
    every product and the median set-up time.  The first repeat also pays
    the process's cold start, so the median is a warm set-up."""
    times, products = [], []
    for i in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        products.append(make(i))
        times.append(time.perf_counter() - t0)
    return products, median(times)


def event_files(workdir: str) -> int:
    """Parquet part files in the store's two event tables."""
    n = 0
    for table in ("raw_events", "transformed_events"):
        for _root, _dirs, files in os.walk(os.path.join(workdir, table)):
            n += sum(f.endswith(".parquet") for f in files)
    return n


def duckdb_rows(workdir: str, *sql: str) -> list[list[tuple]]:
    """Answer each query with DuckDB over the store's parquet files, with
    ``raw_events`` and ``transformed_events`` as views."""
    import duckdb

    con = duckdb.connect()
    try:
        for table in ("raw_events", "transformed_events"):
            glob = os.path.join(workdir, table, "**", "*.parquet")
            con.execute(
                f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{glob}', hive_partitioning = true)"
            )
        return [con.execute(q).fetchall() for q in sql]
    finally:
        con.close()


# -- sync_ingest ------------------------------------------------------------

# Ingests on a throw-away store before the window.  Latency keeps falling
# over the first ~100 ingests of a process while the JIT compiles the
# planner; 28 take the steepest part of that slope out of the window.
SYNC_WARMUP = 28
SYNC_SPANS = (
    "catalog.lookup",
    "audit.raw",
    "udfs.load",
    "executors.event",
    "delivery.deliver",
    "audit.transformed",
)


def build_gateway(spark, workdir: str, seed: int, flat_only: bool = False):
    """A Gateway with the sync webhooks: flat with a filter, list with
    explode, and enrichment (reference-table join plus a stored UDF)."""
    import pandas as pd

    from duckdb_webhook_gateway_spark.engine import Gateway, WebhookConfig
    from duckdb_webhook_gateway_spark.engine.reference_tables import ref_table_name
    from duckdb_webhook_gateway_spark.engine.udfs import udf_full_name

    gw = Gateway(spark, workdir=workdir)
    gw.register_webhook(WebhookConfig(FLAT_PATH, DEST, FLAT_TRANSFORM, FLAT_FILTER))
    if flat_only:
        return gw
    gw.register_webhook(WebhookConfig(LIST_PATH, DEST, LIST_TRANSFORM))
    wid = gw.register_webhook(
        WebhookConfig(ENRICH_PATH, DEST, "SELECT * FROM {{payload}}")
    )["id"]
    gw.ref_tables.upload(wid, "tiers", spark.createDataFrame(pd.DataFrame(tier_rows(seed))))
    gw.udfs.register(wid, UDF_NAME, UDF_CODE)
    gw.register_webhook(
        WebhookConfig(
            ENRICH_PATH,
            DEST,
            enrich_transform(ref_table_name(wid, "tiers"), udf_full_name(wid, UDF_NAME)),
        )
    )
    return gw


def check_ingest(out, kind: str, payload: dict, tiers: dict, res: Outcome) -> None:
    want = expected(kind, payload, tiers)
    if want is None:
        res.check(out.filtered_out, f"{kind} event not filtered")
        return
    res.check(
        not out.filtered_out
        and out.transformed == want
        and out.delivery is not None
        and out.delivery.success,
        f"{kind} event gave {out.transformed!r}, want {want!r}",
    )


def traced_ingest(gw, spans: Spans, work: SparkWork, path: str, payload):
    """The calls ``Gateway.ingest`` makes, in its order, each in a span.
    Returns the outcome and the number of Spark jobs the executors ran."""
    from duckdb_webhook_gateway_spark.engine.delivery import deliver
    from duckdb_webhook_gateway_spark.engine.executors import execute_event
    from duckdb_webhook_gateway_spark.engine.pipeline import ProcessOutcome

    hook = spans.time("catalog.lookup", gw.catalog.get_by_path, path)
    raw_id = spans.time("audit.raw", gw.audit.log_raw_event, hook["source_path"], payload)
    spans.time("udfs.load", gw.udfs.load_webhook_udfs, hook["id"])
    group = work.begin("executors")
    try:
        passed, shaped = spans.time(
            "executors.event",
            execute_event,
            gw.spark,
            hook.get("filter_query"),
            hook["transform_query"],
            payload,
        )
    finally:
        work.end()
    jobs = len(work.jobs_of(group))
    if not passed:
        spans.time(
            "audit.transformed",
            gw.audit.log_filtered_out,
            raw_id,
            hook["id"],
            hook["destination_url"],
        )
        return ProcessOutcome(raw_id, hook["id"], True), jobs
    result = spans.time("delivery.deliver", deliver, hook["destination_url"], shaped)
    spans.time(
        "audit.transformed",
        gw.audit.log_transformed_event,
        raw_event_id=raw_id,
        webhook_id=hook["id"],
        transformed_payload=shaped,
        destination_url=hook["destination_url"],
        success=result.success,
        response_code=result.response_code,
        response_body=result.response_body,
    )
    return ProcessOutcome(raw_id, hook["id"], False, shaped, result), jobs


def sync_ingest(spark, dirs, seed: int, seconds: float, trace: bool) -> Outcome:
    """``Gateway.ingest`` against three webhooks on a store that starts
    empty.  Traced runs alternate plain and span-wrapped ingests, so the
    tracing overhead is measured within one run."""
    tiers = {r["user_id"]: r["tier"] for r in tier_rows(seed)}
    gws, setup = timed_setups(lambda i: build_gateway(spark, dirs.store(f"sync{i}"), seed))
    shares = {k: SYNC_MIX.count(k) / len(SYNC_MIX) for k in dict.fromkeys(SYNC_MIX)}
    res = Outcome(setup, shares=shares)
    t0 = time.perf_counter()
    for kind, payload in sync_events(seed, SYNC_WARMUP, start=1_000_000):
        check_ingest(gws[0].ingest(PATHS[kind], payload), kind, payload, tiers, res)
    warmup_s = time.perf_counter() - t0
    res.setup_s += warmup_s
    res.notes.append(f"setup store_s={setup:.3f} warmup_s={warmup_s:.3f} (n={SYNC_WARMUP})")

    gw = gws[-1]
    spans = Spans()
    work = SparkWork(spark) if trace else None
    traced_s: dict[str, list[float]] = {}
    span_sums: dict[str, list[float]] = {}
    udf_load_s: list[float] = []
    jobs_by_kind: dict[str, list[int]] = {}
    start = time.perf_counter()
    deadline = start + seconds
    for i, (kind, payload) in enumerate(sync_stream(seed)):
        if time.perf_counter() >= deadline:
            break
        res.ops += 1
        try:
            if trace and i % 2:
                n0 = {k: len(v) for k, v in spans.durations.items()}
                t = time.perf_counter()
                out, jobs = traced_ingest(gw, spans, work, PATHS[kind], payload)
                traced_s.setdefault(kind, []).append(time.perf_counter() - t)
                span_sums.setdefault(kind, []).append(
                    sum(v[-1] for k, v in spans.durations.items() if len(v) > n0.get(k, 0))
                )
                jobs_by_kind.setdefault(kind, []).append(jobs)
                if kind == ENRICH:
                    udf_load_s.append(spans.durations["udfs.load"][-1])
            else:
                t = time.perf_counter()
                out = gw.ingest(PATHS[kind], payload)
                res.sample(kind, time.perf_counter() - t)
        except Exception as e:  # counted, not fatal: error_rate reports it
            res.check(False, f"ingest {i} raised {e!r}")
            continue
        check_ingest(out, kind, payload, tiers, res)
    res.window_s = time.perf_counter() - start

    want_filtered = sum(
        expected(kind, payload, tiers) is None for kind, payload in sync_events(seed, res.ops)
    )
    raw_n, tr_n, filtered_n = (
        rows[0][0]
        for rows in duckdb_rows(
            gw.workdir,
            "SELECT count(*) FROM raw_events",
            "SELECT count(*) FROM transformed_events",
            f"SELECT count(*) FROM transformed_events WHERE response_body = '{FILTERED_BODY}'",
        )
    )
    res.check(raw_n == res.ops, f"raw rows {raw_n} != {res.ops} ingests")
    res.check(tr_n == res.ops, f"transformed rows {tr_n} != {res.ops} ingests")
    res.check(filtered_n == want_filtered, f"filtered rows {filtered_n} != {want_filtered}")

    res.details += timings("ingest", [x for v in res.op_s.values() for x in v])
    for kind in (FLAT, LIST, ENRICH):
        if res.op_s.get(kind):
            res.details += timings(kind, res.op_s[kind])[:1]
    if trace:
        for name in SYNC_SPANS:
            res.layers[f"{name}_ms"] = spans.median_ms(name)
        # Only the enrichment webhook stores a UDF, and its class holds
        # p90: report UDF loading over those events.
        res.layers["udfs.load_ms"] = median(udf_load_s) * 1000.0 if udf_load_s else 0.0
        # Weighted by the mix, so the count does not depend on which
        # events a run's window happened to trace.
        res.layers["executors.jobs_per_event"] = sum(
            SYNC_MIX.count(k) / len(SYNC_MIX) * median(v) for k, v in jobs_by_kind.items()
        )
        res.layers["store.files_per_event"] = event_files(gw.workdir) / res.ops
        plain = mix_latency(res.op_s, shares)
        res.layers["trace.span_shortfall_ms"] = (plain - mix_latency(span_sums, shares)) * 1000.0
        res.layers["trace.overhead_ms"] = (mix_latency(traced_s, shares) - plain) * 1000.0
    return res


# -- stream_drain -----------------------------------------------------------

DRAIN_FILES = 8  # 2,000 events per drain
WARMUP_FILES = 1  # the process's first drain, on a throw-away store


class DrainListener:
    """Structured Streaming progress, collected per query run."""

    def __init__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        progress: list[tuple[str, int, dict]] = []
        terminated: list[str] = []

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                progress.append((str(p.runId), p.numInputRows, dict(p.durationMs)))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                terminated.append(str(event.runId))

        self.listener = _Listener()
        self.progress = progress
        self.terminated = terminated

    def run(self, n: int, timeout: float = 30.0) -> tuple[str, list[dict]]:
        """Wait until query run number ``n`` has terminated (events arrive
        in order, so its progress is complete by then); return its run id
        and the durations of its non-empty batches."""
        deadline = time.perf_counter() + timeout
        while len(self.terminated) <= n:
            if time.perf_counter() > deadline:
                raise TimeoutError("no termination event from the streaming query")
            time.sleep(0.005)
        run_id = self.terminated[n]
        return run_id, [d for r, rows, d in self.progress if r == run_id and rows > 0]


def build_stream_gateway(spark, workdir: str):
    from duckdb_webhook_gateway_spark.engine import Gateway, WebhookConfig
    from duckdb_webhook_gateway_spark.streaming.webhook_source import StreamingGateway

    gw = Gateway(spark, workdir=workdir)
    gw.register_webhook(WebhookConfig(ORDERS_STREAM, DEST, FLAT_TRANSFORM, FLAT_FILTER))
    gw.register_webhook(WebhookConfig(CLICKS_STREAM, DEST, CLICKS_TRANSFORM))
    return StreamingGateway(gw)


def land(sg, files, spans: Spans) -> tuple[list[str], list[float]]:
    """Land each file with ``ingest_many``; return the event ids and the
    time each event was acknowledged."""
    ids, acks = [], []
    for path, payloads in files:
        got = spans.time("stream.landing_write", sg.ingest_many, path, payloads)
        ids.extend(got)
        acks.extend([time.perf_counter()] * len(got))
    return ids, acks


def check_stream_audit(workdir: str, landed: dict[str, tuple[str, dict]], res: Outcome) -> tuple:
    """Each landed event has exactly one raw and one transformed audit
    row, and its transformed payload is the one Python recomputes.
    Returns the audit row counts, for the re-drain check."""
    raw, tr = duckdb_rows(
        workdir,
        "SELECT id, count(*) FROM raw_events GROUP BY id",
        "SELECT raw_event_id, count(*), any_value(transformed_payload), "
        "any_value(response_body) FROM transformed_events GROUP BY raw_event_id",
    )
    raw_n = dict(raw)
    tr_rows = {r[0]: r[1:] for r in tr}
    for event_id, (path, payload) in landed.items():
        want = expected_stream(path, payload)
        n_tr, body, response = tr_rows.get(event_id, (0, None, None))
        if want is None:
            ok = response == FILTERED_BODY
        else:
            ok = body is not None and json.loads(body) == want
        res.check(
            raw_n.get(event_id) == 1 and n_tr == 1 and ok,
            f"event {event_id}: {raw_n.get(event_id)} raw, {n_tr} transformed rows",
        )
    res.check(
        set(raw_n) == set(tr_rows) == set(landed),
        f"audit holds {len(raw_n)} raw / {len(tr_rows)} transformed ids for {len(landed)} events",
    )
    return sum(raw_n.values()), sum(n for n, _b, _r in tr_rows.values())


def stream_drain(spark, dirs, seed: int, seconds: float, trace: bool) -> Outcome:
    """Closed loop: land DRAIN_FILES files of 250 events, drain them with
    ``run_available``, repeat.  An event's latency runs from its ack to
    the end of the drain that audits it."""
    sgs, setup = timed_setups(lambda i: build_stream_gateway(spark, dirs.store(f"stream{i}")))
    res = Outcome(setup, shares={"event": 1.0})
    sg = sgs[-1]
    landed: dict[str, tuple[str, dict]] = {}

    def land_files(files, spans: Spans) -> list[float]:
        ids, acks = land(sg, files, spans)
        landed.update(zip(ids, [(path, p) for path, payloads in files for p in payloads]))
        return acks

    # Warm-up: the process's cold first drain.  A drain's cost is
    # nearly all per-query overhead, so one small file is enough.
    t0 = time.perf_counter()
    land(sgs[0], stream_files(seed, WARMUP_FILES, start=10_000), Spans())
    sgs[0].run_available()
    warmup_s = time.perf_counter() - t0
    res.setup_s += warmup_s
    res.notes.append(f"setup store_s={setup:.3f} warmup_s={warmup_s:.3f}")

    spans = Spans()
    listener = DrainListener() if trace else None
    work = SparkWork(spark) if trace else None
    if trace:
        spark.streams.addListener(listener.listener)
    per_drain: list[tuple[int, Work, int]] = []  # (batches, Spark work, files added)
    start = time.perf_counter()
    deadline = start + seconds
    n = 0
    while time.perf_counter() < deadline:
        acks = land_files(stream_files(seed, DRAIN_FILES, start=n * DRAIN_FILES), spans)
        files0 = event_files(sg.gateway.workdir)
        if trace:
            work.mark()
        t = time.perf_counter()
        try:
            sg.run_available()
        except Exception as e:  # counted, not fatal: error_rate reports it
            res.check(False, f"drain {n} raised {e!r}")
            break
        done = time.perf_counter()
        res.window_s += done - t
        res.op_s.setdefault("event", []).extend(done - a for a in acks)
        res.ops += len(acks)
        if trace:
            run_id, batches = listener.run(n)
            for dur in batches:
                for key, name in (("addBatch", "add_batch"), ("getBatch", "get_batch"), ("walCommit", "wal_commit")):
                    spans.add(f"stream.{name}", dur.get(key, 0) / 1000.0)
            added = event_files(sg.gateway.workdir) - files0
            per_drain.append((len(batches), work.collect(work.jobs_of(run_id)), added))
        n += 1
    if trace:
        spark.streams.removeListener(listener.listener)

    counts = check_stream_audit(sg.gateway.workdir, landed, res)
    sg.run_available()
    again = duckdb_rows(
        sg.gateway.workdir,
        "SELECT count(*) FROM raw_events",
        "SELECT count(*) FROM transformed_events",
    )
    again = (again[0][0][0], again[1][0][0])
    res.check(again == counts, f"re-drain changed audit row counts from {counts} to {again}")

    res.details.append(Metric("drain_eps", res.ops / res.window_s, "1/s", n))
    # Events of one drain share its end, so the tail would rest on a few
    # drains however many events there are: report the median only.
    res.details += timings("event_latency", res.op_s.get("event", []))[:1]
    if trace:
        for name in ("add_batch", "get_batch", "wal_commit", "landing_write"):
            res.layers[f"stream.{name}_ms"] = spans.median_ms(f"stream.{name}")
        res.layers["stream.batches_per_drain"] = median([b for b, _w, _f in per_drain])
        res.layers["stream.jobs_per_drain"] = median([w.jobs for _b, w, _f in per_drain])
        res.layers["stream.tasks_per_drain"] = median([w.tasks for _b, w, _f in per_drain])
        res.layers["stream.shuffle_mb_per_drain"] = median([w.shuffle_mb for _b, w, _f in per_drain])
        res.layers["store.files_per_drain"] = median([f for _b, _w, f in per_drain])
    return res


# -- store_reads ------------------------------------------------------------

# Two rounds of the four reads, then an ingest.  The warm-up is one such
# cycle, so the window's first ingest is not the process's first.
READS_PER_INGEST = 8
READ_OPS = ("stats", "feed", "detail", "query")
FEED_LIMIT = 50


def seed_store(spark, workdir: str, seed: int):
    """Gateway with the flat webhook and a seeded audit history, appended
    in bulk through ``TableStore.append_events``."""
    gw = build_gateway(spark, workdir, seed, flat_only=True)
    ids = {r["source_path"]: r["id"] for r in gw.catalog.list()}
    raw_batches, tr_batches = history(seed, ids)
    for raw, tr in zip(raw_batches, tr_batches):
        gw.store.append_events("raw_events", raw)
        gw.store.append_events("transformed_events", tr)
    return gw, raw_batches, tr_batches


class ReadModel:
    """What the store must answer, kept in Python as the run writes."""

    def __init__(self, gw, raw_batches, tr_batches):
        self.n_webhooks = len(gw.catalog.list())
        self.raw = {r["id"]: r for b in raw_batches for r in b}
        self.per_webhook: dict[str, tuple[int, int]] = {}
        for t in (t for b in tr_batches for t in b):
            self._count(t["webhook_id"], t["success"])
        self.by_time = sorted(self.raw, key=lambda i: self.raw[i]["timestamp"], reverse=True)
        self.ingested: list[str] = []  # oldest first

    def _count(self, webhook_id: str, success: bool) -> None:
        tot, ok = self.per_webhook.get(webhook_id, (0, 0))
        self.per_webhook[webhook_id] = (tot + 1, ok + bool(success))

    def add_ingest(self, out) -> None:
        self.ingested.append(out.raw_event_id)
        self._count(out.webhook_id, out.delivery is not None and out.delivery.success)

    def rows(self) -> int:
        return len(self.raw) + len(self.ingested)

    def feed(self) -> list[str]:
        return (self.ingested[::-1] + self.by_time)[:FEED_LIMIT]


def store_reads(spark, dirs, seed: int, seconds: float, trace: bool) -> Outcome:
    """Reads over a seeded store, in rounds of stats, feed, detail and
    ad-hoc query; one flat ingest per READS_PER_INGEST reads, each
    followed by a read-your-writes ``event_detail``.  The four reads are
    the operation classes of the mix, in equal shares."""
    from duckdb_webhook_gateway_spark.engine import run_adhoc_query
    from duckdb_webhook_gateway_spark.plans.guard import is_read_only_sql

    tiers = {r["user_id"]: r["tier"] for r in tier_rows(seed)}
    stores, setup = timed_setups(lambda i: seed_store(spark, dirs.store(f"reads{i}"), seed))
    gw, raw_b, tr_b = stores[-1]
    res = Outcome(setup, shares={op: 1 / len(READ_OPS) for op in READ_OPS})
    model = ReadModel(gw, raw_b, tr_b)
    answers = [
        [[v.isoformat() if hasattr(v, "isoformat") else v for v in row] for row in rows]
        for rows in duckdb_rows(gw.workdir, *ADHOC_SQL)
    ]
    rng = random.Random(f"{seed}-reads")
    history_ids = sorted(model.raw)
    events = ((k, p) for k, p in sync_stream(seed) if k == FLAT)
    spans = Spans()
    work = SparkWork(spark) if trace else None
    jobs: dict[str, list[Work]] = {op: [] for op in READ_OPS}
    ingest_s: list[float] = []

    def read(op: str, k: int, target: str | None):
        if op == "stats":
            return gw.stats()
        if op == "feed":
            return gw.recent_events(FEED_LIMIT)
        if op == "detail":
            return gw.event_detail(target)
        sql = ADHOC_SQL[k % len(ADHOC_SQL)]
        if trace:
            spans.time("guard.check", is_read_only_sql, sql, spark=spark)
        return run_adhoc_query(spark, sql)

    def check(op: str, k: int, got, target: str | None) -> None:
        if op == "stats":
            per = {r["webhook_id"]: (r["total"], r["successes"]) for r in got["per_webhook"]}
            res.check(
                got["webhooks"] == model.n_webhooks
                and got["raw_events"] == got["transformed_events"] == model.rows()
                and per == model.per_webhook,
                f"stats counted {got['raw_events']}/{got['transformed_events']} rows",
            )
        elif op == "feed":
            res.check([e["raw_event_id"] for e in got] == model.feed(), "feed order or contents")
        elif op == "detail":
            ok = got is not None and len(got["transformed_events"]) == 1
            if ok and target in model.raw:
                ok = json.dumps(got["raw_event"]["payload"]) == model.raw[target]["payload"]
            res.check(ok, f"detail of {target}")
        else:
            res.check(got["result"] == answers[k % len(answers)], f"query {k % len(answers)}")

    def step(op: str, k: int, target: str | None = None, timed: bool = True) -> None:
        if op == "detail" and target is None:
            target = rng.choice(history_ids)
        group = work.begin(op) if trace else None
        t = time.perf_counter()
        try:
            got = read(op, k, target)
        except Exception as e:  # counted, not fatal: error_rate reports it
            res.check(False, f"{op} raised {e!r}")
            return
        finally:
            if trace:
                work.end()
        if timed:
            res.sample(op, time.perf_counter() - t)
            if trace:
                jobs[op].append(work.collect(work.jobs_of(group)))
        check(op, k, got, target)

    def one(k: int, timed: bool) -> None:
        """Read number ``k``; after every READS_PER_INGEST-th read, one
        ingest and a read-your-writes detail of it."""
        step(READ_OPS[k % len(READ_OPS)], k, timed=timed)
        if (k + 1) % READS_PER_INGEST:
            return
        kind, payload = next(events)
        t = time.perf_counter()
        try:
            out = gw.ingest(PATHS[kind], payload)
        except Exception as e:  # counted, not fatal: error_rate reports it
            res.check(False, f"ingest raised {e!r}")
            return
        if timed:
            ingest_s.append(time.perf_counter() - t)
        check_ingest(out, kind, payload, tiers, res)
        model.add_ingest(out)
        step("detail", k, out.raw_event_id, timed=timed)

    t0 = time.perf_counter()
    for k in range(READS_PER_INGEST):
        one(k, timed=False)
    warmup_s = time.perf_counter() - t0
    res.setup_s += warmup_s
    res.notes.append(f"setup store_s={setup:.3f} warmup_s={warmup_s:.3f}")

    start = time.perf_counter()
    deadline = start + seconds
    k = READS_PER_INGEST
    while time.perf_counter() < deadline:
        one(k, timed=True)
        k += 1
    res.window_s = time.perf_counter() - start
    res.ops = res.samples() + len(ingest_s)
    for op in READ_OPS:
        res.details += timings(op, res.op_s.get(op, []))[:1]
    # The read classes' modes lie far apart, so the pooled reads give
    # only a tail figure, and only once enough samples lie beyond it.
    res.details += timings("read", [x for v in res.op_s.values() for x in v])[1:]
    if trace:
        res.layers["store.scan_files"] = event_files(gw.workdir)
        for op in READ_OPS:
            res.layers[f"reads.{op}.jobs"] = median([w.jobs for w in jobs[op]])
            res.layers[f"reads.{op}.tasks"] = median([w.tasks for w in jobs[op]])
        res.layers["guard.check_ms"] = spans.median_ms("guard.check")
        res.layers["reads.ingest_p50_ms"] = median(ingest_s) * 1000.0 if ingest_s else 0.0
    return res
