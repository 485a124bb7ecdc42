"""Structured Streaming micro-batch webhook pipeline.

The reference processes each event in a FastAPI background task
(src/app.py:1104-1109) — at-arrival, one at a time, serialized behind a
single DuckDB connection.  The Spark-native shape (SURVEY §7.2 milestone 8,
BASELINE.json north star) is a streaming source feeding micro-batches:

  ingest -> append JSON line to a landing directory ->
  readStream (file source, exactly-once tracking via checkpoint) ->
  foreachBatch: one distributed filter/transform/deliver plan per
  (webhook, payload schema) group, the exotic tail through the
  synchronous path's own per-event step (``Gateway.run_event``) + ONE
  batched audit append per micro-batch per table.

Per-event semantics (§2C quirks: filter on raw payload, 0/1/N shaping,
"Filtered out by filter_query" audit rows, error rows) are preserved
exactly — the batch boundary only amortizes storage writes and the
shape groups' delivery fan-out.  At scale, the landing dir becomes cloud
storage / Kafka and the same foreachBatch body runs unchanged; watermarks
are unnecessary because the reference assigns times at ingest
(processing time), not event time.
"""

from __future__ import annotations

import json
import os
import sys
import uuid
from typing import Any, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..engine.audit import transformed_row
from ..engine.executors import embed_ids, payload_schema, transform_events
from ..engine.pipeline import Gateway
from ..engine.store import SCHEMAS, arrow_type, new_id, now_utc

ENVELOPE_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.StringType(), False),
        T.StructField("source_path", T.StringType(), False),
        T.StructField("payload_json", T.StringType(), False),
        T.StructField("ingest_ts", T.TimestampType(), False),
    ]
)

# envelope + executor-computed shape key (the payload's schema JSON)
TAGGED_SCHEMA = T.StructType(
    list(ENVELOPE_SCHEMA.fields) + [T.StructField("fp", T.StringType(), True)]
)


def _has_empty_struct(dtype) -> bool:
    if isinstance(dtype, T.StructType):
        return not dtype.fields or any(
            _has_empty_struct(f.dataType) for f in dtype.fields
        )
    if isinstance(dtype, T.ArrayType):
        return _has_empty_struct(dtype.elementType)
    return False


def _group_key(payload: Any) -> Optional[str]:
    """Shape-group key of one payload: its per-event schema
    (``payload_schema``, the one the synchronous path builds its relation
    with) as JSON.  A group reads its payloads with exactly that schema,
    so each event is typed as it would be alone.  None sends the event to
    the per-event path: non-dict records, schemas that are not a struct
    (untypeable payloads), that hold an empty struct, or that have a
    top-level ``__corr_id`` field, which the group's id column would
    clobber.

    Module-level so the tagging ``mapInPandas`` computes it on the
    executors — payload bodies never reach the driver for grouping.
    """
    records = payload if isinstance(payload, list) else [payload]
    if not all(isinstance(r, dict) for r in records):
        return None
    schema = payload_schema(records)
    if (
        not isinstance(schema, T.StructType)
        or _has_empty_struct(schema)
        or "__corr_id" in schema.names
    ):
        return None
    return schema.json()


# ``transformed_events`` as the shape-group tasks emit it: the audit
# schema with ``timestamp`` as an ISO string.
_SHIPPED_TRANSFORMED = T.StructType(
    [
        T.StructField(
            f.name,
            T.StringType()
            if isinstance(f.dataType, T.TimestampType)
            else f.dataType,
        )
        for f in SCHEMAS["transformed_events"].fields
    ]
)


def _make_shape_deliver(webhook_id: str, dest_url: str, out_cols: list):
    """Executor-side shape + deliver + audit for one (webhook, shape) group.

    Returns a ``mapInArrow`` function over the two-way marker union
    (role 1 = gate-passing event with its ``rows`` array from
    ``transform_events``, role 0 = group member), repartitioned by
    ``__corr_id`` so every event's rows live in exactly one task.  Per
    event: no role-1 row -> the filtered-out audit row (constant body, no
    POST); otherwise shape its rows, in their array order, with the
    synchronous path's ``shape_rows`` and ``_plain`` conversions (Arrow
    ``to_pylist`` hands back exact Python values — ints stay ints, SQL
    NULL stays None, no pandas NaN coercion), POST the body through a
    bounded in-task thread pool, and emit the ``transformed_events``
    audit row built by ``transformed_row``.  The ``timestamp`` column
    ships as an ISO string; the store's distributed writer casts it to
    TimestampType.
    """
    import pyarrow as pa

    out_schema = pa.schema(
        [(f.name, arrow_type(f.dataType)) for f in _SHIPPED_TRANSFORMED]
    )

    def shape_deliver(batches):
        from duckdb_webhook_gateway_spark.engine.audit import (
            FILTERED_OUT_BODY as _FILTERED,
            transformed_row as _row,
        )
        from duckdb_webhook_gateway_spark.engine.delivery import (
            deliver as _deliver,
        )
        from duckdb_webhook_gateway_spark.engine.results import (
            _plain,
            shape_rows,
        )

        shaped: dict[str, list] = {}
        order: list[str] = []
        for batch in batches:
            for row in batch.to_pylist():
                cid = row["__corr_id"]
                if row["__role"] == 0:
                    order.append(cid)
                else:
                    shaped[cid] = [
                        {c: _plain(r[c]) for c in out_cols}
                        for r in row["rows"] or []
                    ]
        filtered = [cid for cid in order if cid not in shaped]
        order = [cid for cid in order if cid in shaped]
        bodies = [shape_rows(shaped[cid]) for cid in order]
        # bounded in-task delivery pool: one slow destination stalls only
        # its own slot, and partition count stays modest (task overhead,
        # output-file count) without serializing POST latency
        if bodies:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(
                max_workers=min(8, len(bodies))
            ) as pool:
                outcomes = list(
                    pool.map(lambda b: _deliver(dest_url, b), bodies)
                )
        else:
            outcomes = []
        out_rows = [
            _row(cid, webhook_id, {}, dest_url, False, None, _FILTERED)
            for cid in filtered
        ] + [
            _row(
                cid,
                webhook_id,
                transformed,
                dest_url,
                res.success,
                res.response_code,
                res.response_body,
            )
            for cid, transformed, res in zip(order, bodies, outcomes)
        ]
        for r in out_rows:
            r["timestamp"] = r["timestamp"].isoformat()
        if out_rows:
            # explicit schema: an all-NULL response_code partition must
            # still type as int32, never infer as null
            yield pa.RecordBatch.from_pylist(out_rows, schema=out_schema)

    return shape_deliver


def _warn(batch_id: int, webhook_id: str, what: str, e: Exception) -> None:
    """One stderr line for a shape group leaving the main path."""
    msg = (str(e).strip().splitlines() or [""])[0]
    print(
        f"WARNING: streaming batch {batch_id} webhook {webhook_id}: {what} "
        f"({type(e).__name__}: {msg})",
        file=sys.stderr,
    )


def _envelope(event_id: str, path: str, payload: Any) -> str:
    """One landing-file line (``ENVELOPE_SCHEMA``), stamped now."""
    return json.dumps(
        {
            "event_id": event_id,
            "source_path": path,
            "payload_json": json.dumps(payload),
            "ingest_ts": now_utc().isoformat(),
        }
    )


def _write_landing(landing_dir: str, lines: list[str]) -> None:
    """Land envelope lines as ONE json-lines file.

    The staging file is DOT-PREFIXED so the file stream source (which
    skips only hidden '.'/'_' names, not extensions) can never list a
    half-written file — a plain '<id>.json.tmp' in the watched dir could
    be read partially before the rename AND re-read under its final name
    after it, duplicating or corrupting events.  The same-directory
    rename stays atomic, so a file is visible whole or not at all.
    """
    fkey = uuid.uuid4().hex
    tmp = os.path.join(landing_dir, f".{fkey}.json.tmp")
    with open(tmp, "w") as f:
        f.write("\n".join(lines) + "\n")
    os.rename(tmp, os.path.join(landing_dir, f"{fkey}.json"))


class _GroupCommit:
    """WAL-style group commit for the landing directory.

    Concurrent ``ingest()`` calls inside one window share a SINGLE
    json-lines file write + atomic rename — the classic group-commit
    trade: each ack waits up to ``window_s`` longer, and in exchange a
    burst of K concurrent producers costs one file instead of K (the
    file source's per-file fixed cost is what caps drain throughput).
    Flushing runs on a DEDICATED daemon thread owned by this object —
    an earlier design drafted the first submitting producer as flusher,
    which under sustained concurrent ingest held that one HTTP request
    thread (and its client's ack) for the entire busy period.  Only
    worthwhile with CONCURRENT producers — a single serial producer
    would just pay the window per event, which is why this is opt-in
    (``StreamingGateway(group_commit_window=...)``).
    """

    def __init__(self, landing_dir: str, window_s: float = 0.02):
        import threading
        from collections import Counter

        self.dir = landing_dir
        self.window = window_s
        self._lock = threading.Lock()
        self._flushed = threading.Condition(self._lock)
        self._have_lines = threading.Condition(self._lock)
        self._lines: list[str] = []
        self._buf_gen = 0  # generation of the buffer now accepting lines
        self._done_gen = -1  # highest generation durable on disk
        # generation -> exception for failed flushes: waiters of a failed
        # batch must get the write error (their event is NOT durable), not
        # a success ack, and must not hang on a generation that will never
        # become durable.  Pruned ONLY below the lowest generation any
        # live waiter still blocks on — a size-bounded prune could delete
        # a live waiter's error, leaving it to spin forever or, once a
        # later generation succeeded, to exit with a FALSE success ack
        # for a non-durable event.
        self._errors: dict[int, Exception] = {}
        self._waiting: Counter = Counter()  # generation -> live waiters
        self._flusher = None  # lazily-started daemon thread

    def _ensure_flusher(self) -> None:
        # caller holds self._lock
        if self._flusher is None or not self._flusher.is_alive():
            import threading

            self._flusher = threading.Thread(
                target=self._flush_loop,
                name="webhook-group-commit-flusher",
                daemon=True,
            )
            self._flusher.start()

    def submit(self, line: str) -> None:
        """Add one envelope line; returns once its file is renamed in.
        Raises the flush's I/O error if the shared write failed — the
        caller's event did not land, same contract as a failed
        single-file ingest."""
        with self._lock:
            self._lines.append(line)
            my_gen = self._buf_gen
            self._waiting[my_gen] += 1
            self._ensure_flusher()
            self._have_lines.notify()
        try:
            with self._flushed:
                while (
                    self._done_gen < my_gen and my_gen not in self._errors
                ):
                    self._flushed.wait(timeout=1.0)
                err = self._errors.get(my_gen)
        finally:
            with self._lock:
                self._waiting[my_gen] -= 1
                if not self._waiting[my_gen]:
                    del self._waiting[my_gen]
                if len(self._errors) > 1024:  # bounded bookkeeping
                    floor = (
                        min(self._waiting) if self._waiting else self._buf_gen
                    )
                    stale = sorted(
                        g for g in self._errors if g < floor
                    )[: len(self._errors) - 512]
                    for g in stale:
                        del self._errors[g]
        if err is not None:
            raise err

    def _flush_loop(self) -> None:
        """Daemon flusher: batch the window, write, repeat.  Producers
        never flush — their only wait is for durability of their own
        generation, bounded by window + one write."""
        import time as _time

        while True:
            with self._have_lines:
                while not self._lines:
                    self._have_lines.wait()
            _time.sleep(self.window)
            with self._lock:
                lines, self._lines = self._lines, []
                gen = self._buf_gen
                self._buf_gen += 1
            flush_err: Optional[Exception] = None
            try:
                _write_landing(self.dir, lines)
            except Exception as e:  # noqa: BLE001 - propagated to waiters
                flush_err = e
            with self._flushed:
                if flush_err is not None:
                    self._errors[gen] = flush_err
                else:
                    self._done_gen = gen
                self._flushed.notify_all()


class StreamingGateway:
    """Streaming front end over a :class:`Gateway`.

    ``ingest`` is the HTTP-handler side: it appends an envelope line to the
    landing directory and acks (the reference's accepted+event_id reply,
    src/app.py:1111).  ``run_available`` / ``start`` consume the landing
    dir with Structured Streaming and process micro-batches.
    """

    def __init__(
        self,
        gateway: Gateway,
        landing_dir: Optional[str] = None,
        max_files_per_trigger: int = 5000,
        group_commit_window: Optional[float] = None,
    ):
        self.gateway = gateway
        self.spark = gateway.spark
        self.max_files_per_trigger = max_files_per_trigger
        self.landing_dir = landing_dir or os.path.join(
            gateway.workdir, "landing"
        )
        self.checkpoint_dir = os.path.join(gateway.workdir, "checkpoints")
        os.makedirs(self.landing_dir, exist_ok=True)
        # Opt-in WAL-style group commit: concurrent ingests within the
        # window share one landing file (see _GroupCommit).  Off by
        # default — a single serial producer would only pay the window.
        self._group_commit = (
            _GroupCommit(self.landing_dir, group_commit_window)
            if group_commit_window is not None
            else None
        )
        # NOTE: concurrent ingest() calls need no lock — every call
        # writes its own uniquely-named file (uuid) via an atomic rename.
        # Ledger of fully-committed micro-batch ids; lives inside the
        # checkpoint dir so wiping the checkpoint (which replays the
        # stream from scratch) resets it too.
        self._ledger_path = os.path.join(self.checkpoint_dir, "audit_ledger")
        # The shape-group path POSTs inside Spark tasks (the audit write's
        # mapInArrow pass), so a speculative duplicate task double-POSTs
        # with NO failure having occurred.  spark.speculation is a
        # launch-time core conf (not runtime-settable), so the engine
        # can't just turn it off here — it warns.  Routing those POSTs
        # through the driver would collect transformed payloads
        # driver-side, the anti-pattern pinned by
        # test_no_payload_bearing_collect_in_micro_batch.  The per-event
        # fallback already POSTs on the driver (Gateway.run_event).
        # Spark's default is false.
        if (
            self.spark.sparkContext.getConf()
            .get("spark.speculation", "false")
            .lower()
            == "true"
        ):
            import warnings

            warnings.warn(
                "spark.speculation=true: speculative tasks can duplicate "
                "webhook delivery POSTs (at-least-once widens beyond "
                "failure-retry). Shape-group events POST from executor "
                "tasks; only the per-event fallback POSTs from the "
                "driver. Launch the streaming session with speculation "
                "off for delivery workloads.",
                RuntimeWarning,
                stacklevel=2,
            )

    # -- producer side (driver/HTTP shell) --------------------------------
    def ingest(self, path: str, payload: dict | list) -> str:
        """Append an envelope to the landing dir; returns the event id.

        File-per-batch-of-one keeps the file-source contract (files are
        immutable once visible); a fronting HTTP shell may buffer several
        events per file for higher ingest rates.  With group commit on,
        concurrent calls share a file (see ``_GroupCommit``).
        """
        if self._group_commit is None:
            return self.ingest_many(path, [payload])[0]
        event_id = new_id()
        # returns after the shared file is durable (rename done)
        self._group_commit.submit(_envelope(event_id, path, payload))
        return event_id

    def ingest_many(self, path: str, payloads: list) -> list[str]:
        """Bulk ingest: N events as ONE landing file; returns their ids.

        The file source's fixed per-file cost (listing, offset-log entry,
        read-task setup) dominates a drain of one-event files — 5,000
        events land at ~200 ev/s as single files but ~550 ev/s as 10
        json-lines files on the same host.  Producers that already hold a
        batch (bulk APIs, replayers, buffering HTTP shells) should use
        this; acks carry the same durability (``_write_landing`` renames
        the file in before return).
        """
        ids = [new_id() for _ in payloads]
        if ids:
            _write_landing(
                self.landing_dir,
                [_envelope(i, path, p) for i, p in zip(ids, payloads)],
            )
        return ids

    # -- consumer side ----------------------------------------------------
    def _stream_df(self) -> DataFrame:
        # 5000-file triggers by default: the batch path is driver-free end
        # to end (round 6), so batch size trades only per-batch fixed cost
        # (tag job + two staged writes) against latency — measured 210
        # ev/s at 1000 vs 290 ev/s at 5000 on a 20k-event drain locally.
        # Latency-sensitive deployments pass a smaller value.
        return (
            self.spark.readStream.schema(ENVELOPE_SCHEMA)
            .option("maxFilesPerTrigger", self.max_files_per_trigger)
            .json(self.landing_dir)
        )

    # -- batch idempotency ledger -----------------------------------------
    def _last_committed_batch(self) -> int:
        try:
            with open(self._ledger_path) as f:
                return int(f.read().strip())
        except (OSError, ValueError):
            return -1

    def _commit_batch(self, batch_id: int) -> None:
        tmp = self._ledger_path + ".tmp"
        with open(tmp, "w") as f:
            f.write(str(batch_id))
        os.rename(tmp, self._ledger_path)

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """foreachBatch body: set-oriented processing + batched audit appends.

        Payload bodies NEVER pass through the driver.  The batch is tagged
        executor-side with each payload's schema (``_group_key``, in a
        ``mapInPandas``), the raw-event audit append is a distributed
        write, and each (webhook, schema) group's payload relation is
        stood up with the kernel batch replay also uses (``embed_ids``
        tags each payload's JSON with its event id on the executors).
        The only driver collection on the main path is metadata-width
        group bookkeeping — (source_path, fp, event_id) triples.  Filter
        gating, transform, result shaping, delivery AND the transformed-
        event audit rows are one distributed plan per group, executed by
        the batch's single staged audit write.

        Each group runs as ONE correlated query (``transform_events``: a
        filter gate plus the transform against each event's own payload
        relation) instead of two queries *per event*, so per-event
        semantics (aggregates, LIMIT, 0/1/N shaping, filter-on-raw, row
        order) are preserved exactly.  Events without a group key
        (untypeable or non-dict shapes, empty structs, ``__corr_id``
        collisions, malformed JSON) and groups whose run fails analysis
        or run time take the per-event path (``_per_event_rows``): the
        step ``Gateway.ingest`` runs, one event at a time with inline
        delivery.  Only THOSE groups' payloads are collected, the
        bounded exotic tail.  A group failure is reported on stderr.
        The webhooks' stored UDFs are session state, registered when the
        store opened or at upload, so no group reloads them.

        Exactly-once AUDIT semantics on retry: a batch that already
        committed (ledger) is skipped outright, and the audit appends use
        batch-keyed file names (driver writes) or batch-keyed staging +
        promote (distributed writes) so a partially-failed batch
        overwrites its own partial output when Structured Streaming
        replays it.  Delivery is at-least-once: a crash-replay re-POSTs
        the recovered batch, and — with shape-group delivery running
        inside the audit write's tasks — a task-level retry re-POSTs that
        task's partition, and ``spark.speculation`` (off by default; the
        constructor warns if a deployment enables it) would duplicate
        POSTs even without a failure.  Both are the same contract the
        reference's non-retrying, non-deduplicating sink offers under
        recovery; the audit rows themselves stay exactly-once via the
        staged overwrite.
        """
        if batch_id <= self._last_committed_batch():
            return  # replay of an already-committed batch: audits exist
        tagged = self._tag_shapes(batch_df).persist()
        try:
            # ONE metadata-width collect covers group bookkeeping: ids and
            # shapes, never payload bodies.
            id_rows = tagged.select("source_path", "fp", "event_id").collect()
            if not id_rows:
                self._commit_batch(batch_id)
                return
            file_key = f"b{batch_id:09d}"
            store = self.gateway.store
            # Uncommitted REPLAY boundary: drop every file any earlier
            # attempt of this batch wrote, under EITHER writer's naming —
            # an attempt may land rows in different date partitions
            # (midnight tick) or switch writers (fallback on retry), and
            # the per-writer overwrite below only cleans its own scheme.
            store.drop_batch_files("raw_events", file_key)
            store.drop_batch_files("transformed_events", file_key)
            # distributed raw-event append (idempotent via staging+promote)
            store.append_events_df(
                "raw_events",
                tagged.select(
                    F.col("event_id").alias("id"),
                    F.col("ingest_ts").alias("timestamp"),
                    "source_path",
                    F.col("payload_json").alias("payload"),
                ),
                file_key=file_key,
            )

            groups: dict[tuple[str, Optional[str]], list[str]] = {}
            for r in id_rows:
                groups.setdefault((r["source_path"], r["fp"]), []).append(
                    r["event_id"]
                )
            webhooks: dict[str, Optional[dict[str, Any]]] = {}
            for path, _fp in groups:
                if path not in webhooks:
                    webhooks[path] = self.gateway.catalog.get_by_path(path)

            tr_rows: list[dict[str, Any]] = []
            result_groups: list[tuple[str, Optional[str], DataFrame]] = []
            group_cleanups: list[tuple[str, DataFrame]] = []
            fallback: list[tuple[str, Optional[str]]] = []
            for (path, fp), event_ids in sorted(
                groups.items(), key=lambda kv: (kv[0][0], kv[0][1] or "")
            ):
                webhook = webhooks[path]
                if webhook is None:
                    continue  # unmatched path: raw-logged only (reference 404s pre-log)
                if fp is None:
                    fallback.append((path, fp))
                    continue
                grp = tagged.filter(
                    (F.col("source_path") == path) & (F.col("fp") == fp)
                )
                try:
                    audit_df = self._process_group_distributed(
                        webhook, grp, event_ids, fp, group_cleanups
                    )
                    result_groups.append((path, fp, audit_df))
                except Exception as e:
                    _warn(
                        batch_id,
                        webhook["id"],
                        "shape group failed analysis; processing its "
                        "events one by one",
                        e,
                    )
                    fallback.append((path, fp))

            # exotic/failed tail: the ONLY payload-bearing collects, each
            # bounded to its own group
            for path, fp in fallback:
                tr_rows.extend(
                    self._per_event_rows(webhooks[path], path, fp, tagged)
                )

            try:
                # Distributed results first: executing this write runs the
                # shape+deliver+audit pass on the executors — the shaped
                # bodies never exist on the driver.  Union keeps it ONE
                # idempotent staged write for the whole batch.
                if result_groups:
                    res_union = result_groups[0][2]
                    for _, _, extra in result_groups[1:]:
                        res_union = res_union.unionByName(extra)
                    try:
                        store.append_events_df(
                            "transformed_events", res_union, file_key=file_key
                        )
                    except Exception as e:
                        ids = {webhooks[p]["id"] for p, _, _ in result_groups}
                        _warn(
                            batch_id,
                            ",".join(sorted(ids)),
                            "transformed-events write failed; re-running "
                            "each shape group on its own",
                            e,
                        )
                        # The per-group try above only catches ANALYSIS-time
                        # errors — the transforms EXECUTE here.  One group's
                        # runtime failure (UDF exception, ANSI divide/cast on
                        # a specific payload) must not poison the batch: the
                        # replay is deterministic, so rethrowing would wedge
                        # ingestion permanently.  Isolate instead — drop the
                        # partial output, re-run each group as its own
                        # idempotent keyed write, and route the group(s) that
                        # still fail through the per-event path, which audits
                        # "Error: ..." rows per event and keeps going (the
                        # reference's contract, src/app.py:1232-1244).
                        # Delivery stays at-least-once: tasks that POSTed
                        # before the failure re-POST on the re-run.
                        store.drop_batch_files("transformed_events", file_key)
                        for gi, (path, fp, audit_df) in enumerate(
                            result_groups
                        ):
                            try:
                                store.append_events_df(
                                    "transformed_events",
                                    audit_df,
                                    file_key=f"{file_key}-g{gi:04d}",
                                )
                            except Exception as ge:
                                _warn(
                                    batch_id,
                                    webhooks[path]["id"],
                                    "shape group failed at run time; "
                                    "processing its events one by one",
                                    ge,
                                )
                                tr_rows.extend(
                                    self._per_event_rows(
                                        webhooks[path], path, fp, tagged
                                    )
                                )
                if tr_rows:
                    store.append_events(
                        "transformed_events", tr_rows, file_key=file_key
                    )
            finally:
                for view, grp_df in group_cleanups:
                    try:
                        self.spark.catalog.dropTempView(view)
                    except Exception:
                        pass
                    grp_df.unpersist(blocking=False)
            self._commit_batch(batch_id)
        finally:
            tagged.unpersist(blocking=False)

    def _tag_shapes(self, batch_df: DataFrame) -> DataFrame:
        """Envelope frame -> envelope + shape-group key, executor-side.

        Malformed envelopes (null id/payload) are dropped here — the same
        skip the driver loop used to apply — and unparseable payload JSON
        tags as ``fp=NULL`` (per-event fallback group).
        """

        def tag(batches):
            import pandas as pd

            for pdf in batches:
                pdf = pdf[
                    pdf["event_id"].notna() & pdf["payload_json"].notna()
                ]
                fps = []
                for pj in pdf["payload_json"]:
                    try:
                        fps.append(_group_key(json.loads(pj)))
                    except Exception:
                        fps.append(None)
                yield pdf.assign(
                    fp=pd.Series(fps, index=pdf.index, dtype=object)
                )

        return batch_df.mapInPandas(tag, TAGGED_SCHEMA)

    def _per_event_rows(
        self,
        webhook: dict[str, Any],
        path: str,
        fp: Optional[str],
        tagged: DataFrame,
    ) -> list[dict[str, Any]]:
        """Per-event fallback for one (path, fp) group: collects THAT
        group's payloads (bounded to the group) and runs each event through
        ``Gateway.run_event``, the step ``Gateway.ingest`` runs: filter,
        transform, inline delivery, and an "Error: ..." row instead of an
        exception.  Used for exotic shapes (fp=None), analysis-time
        transform failures, and groups whose distributed run failed at
        run time.  The POSTs are serial, as in ``Gateway.ingest`` and the
        HTTP server's single background worker; the rows join the batch's
        one audit append."""
        cond = F.col("source_path") == path
        cond = cond & (
            F.col("fp").isNull() if fp is None else F.col("fp") == fp
        )
        rows: list[dict[str, Any]] = []
        for r in (
            tagged.filter(cond).select("event_id", "payload_json").collect()
        ):
            try:
                payload = json.loads(r["payload_json"])
            except Exception:
                fields = dict(
                    raw_event_id=r["event_id"],
                    webhook_id=webhook["id"],
                    transformed_payload={},
                    destination_url=webhook["destination_url"],
                    success=False,
                    response_code=None,
                    response_body="Error: malformed payload JSON",
                )
            else:
                _, fields = self.gateway.run_event(
                    webhook, r["event_id"], payload
                )
            rows.append(transformed_row(**fields))
        return rows

    # -- shape-group processing -------------------------------------------
    def _process_group_distributed(
        self,
        webhook: dict[str, Any],
        grp: DataFrame,
        event_ids: list[str],
        fp: str,
        cleanups: list,
    ) -> DataFrame:
        """One (webhook, shape) group, payloads resident on executors.

        The payload relation is stood up with the shared kernel of
        ``engine/executors.py``: ``embed_ids`` tags each event's records
        with its id as ``__corr_id`` (safe — ``_group_key`` sends payloads
        carrying that key to the per-event path), read with the group's
        schema ``fp`` — each event's own per-event schema, so the group
        types every event exactly as the synchronous path does, with no
        inference pass.  ``transform_events`` gates the events and runs
        the transform per event.  NOTHING event-bearing touches the
        driver: the gate, the transform, the 0/1/N shaping, the delivery
        POSTs and the ``transformed_events`` audit rows (including
        filtered-out rows) are ONE distributed plan — a two-way marker
        union (gate-passing events with their result rows / group-member
        ids) repartitioned by event id into a ``mapInArrow``
        pass that shapes, delivers and audits, all executor-side.  The
        caller appends the returned DataFrame with the store's
        distributed idempotent writer (the same contract as the raw-event
        path).  Arrow (not pandas) so null integers and exact types
        survive: ``to_pylist`` yields the identical Python values a driver
        ``Row`` would, with no NaN/float coercion.  The payload
        relation's temp view and cache must outlive
        the audit write (dropping the view would uncache it), so cleanup
        registers into ``cleanups`` for the caller to run after its
        appends instead of a local finally.
        """
        spark = self.spark
        schema = T.StructType.fromJson(json.loads(fp)).add(
            "__corr_id", T.StringType(), True
        )
        rdd = grp.select("event_id", "payload_json").rdd.mapPartitions(
            embed_ids("event_id", "payload_json", "__corr_id")
        )
        df = spark.read.schema(schema).json(rdd).persist()
        view = f"batch_{uuid.uuid4().hex}"
        df.createOrReplaceTempView(view)
        cleanups.append((view, df))
        # analyzed eagerly: a bad filter or transform raises here and
        # routes this group to the per-event path; execution stays deferred
        res_df = transform_events(
            spark,
            view,
            "__corr_id",
            webhook.get("filter_query"),
            webhook["transform_query"],
        )
        out_cols = res_df.schema["rows"].dataType.elementType.names
        # Two-way marker union, all distributed (no filter-gate collect,
        # no driver-built filtered rows): role 1 = event passed the gate,
        # with its result rows (an empty array still delivers `{}`), role
        # 0 = group member (events with no role-1 row audit as
        # filtered-out).  The member relation is id-width.
        marked = res_df.withColumn("__role", F.lit(1)).unionByName(
            grp.select(F.col("event_id").alias("__corr_id")).withColumn(
                "__role", F.lit(0)
            ),
            allowMissingColumns=True,
        )
        # ~512 events per task with an 8-thread delivery pool inside each:
        # delivery concurrency without the task-scheduling and output-file
        # overhead of tiny partitions, and the per-task group buffer stays
        # bounded at cluster scale (a fixed small cap would funnel a
        # million-event group through 8 tasks)
        nparts = max(1, min(1024, (len(event_ids) + 511) // 512))
        return marked.repartition(nparts, "__corr_id").mapInArrow(
            _make_shape_deliver(
                webhook["id"], webhook["destination_url"], out_cols
            ),
            _SHIPPED_TRANSFORMED,
        )

    def run_available(self) -> None:
        """Drain everything currently in the landing dir (one shot)."""
        q = (
            self._stream_df()
            .writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", self.checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    def start(self, processing_interval: str = "1 second"):
        """Continuous micro-batching; returns the StreamingQuery."""
        return (
            self._stream_df()
            .writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", self.checkpoint_dir)
            .trigger(processingTime=processing_interval)
            .start()
        )
