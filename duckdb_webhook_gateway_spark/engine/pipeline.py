"""The per-event processing pipeline (the reference's ``process_webhook``).

Order of operations (reference: src/app.py:1113-1244):

  1. catalog lookup by path (404 if absent — src/app.py:1089)
  2. log raw event, ack immediately (src/app.py:1101-1111)
  3. apply filter on the RAW payload (src/app.py:1152); rejected events get
     an audit row with success=False / "Filtered out by filter_query"
     and processing stops (src/app.py:1159-1170)
  4. execute transform (src/app.py:1173)
  5. deliver over HTTP, 30 s timeout, mock for example.com/localhost
     (src/app.py:1179-1213)
  6. log transformed event with the delivery outcome (src/app.py:1217-1225)

The reference reloads the webhook's stored UDFs before step 3
(src/app.py:1148); here they are session state, registered once when the
store opens and at upload (engine/udfs.py).
"""

from __future__ import annotations

import tempfile
from dataclasses import dataclass, field
from typing import Any, Optional

from pyspark.sql import SparkSession

from .audit import FILTERED_OUT_BODY, AuditLog
from .catalog import WebhookCatalog, WebhookConfig
from .delivery import DeliveryResult, deliver
from .executors import execute_event
from .reference_tables import ReferenceTableManager
from .store import TableStore
from .udfs import UdfManager


class UnknownPathError(KeyError):
    """No webhook registered for this path (reference returns 404)."""


@dataclass
class ProcessOutcome:
    raw_event_id: str
    webhook_id: str
    filtered_out: bool
    transformed: dict[str, Any] = field(default_factory=dict)
    delivery: Optional[DeliveryResult] = None
    transformed_event_id: Optional[str] = None


class Gateway:
    """Facade wiring store + catalog + audit + ref tables + UDFs + executors.

    One Gateway per SparkSession/process — the Spark analogue of the
    reference's module-level app state (src/app.py:84-96).
    """

    def __init__(self, spark: SparkSession, workdir: Optional[str] = None):
        self.spark = spark
        self.workdir = workdir or tempfile.mkdtemp(prefix="gateway_store_")
        self.store = TableStore(spark, self.workdir)
        self.catalog = WebhookCatalog(self.store)
        self.audit = AuditLog(self.store)
        self.ref_tables = ReferenceTableManager(self.store)
        self.udfs = UdfManager(self.store)
        # Dialect shims (json_extract etc.) are part of engine startup.
        from ..functions import register_engine_functions

        register_engine_functions(spark)

    # -- registration ------------------------------------------------------
    def register_webhook(self, config: WebhookConfig) -> dict[str, Any]:
        return self.catalog.register(config)

    # -- ingestion + processing -------------------------------------------
    def ingest(self, path: str, payload: dict | list) -> ProcessOutcome:
        """Synchronous ingest-and-process of one event (the reference acks
        then processes in a background task; semantics identical)."""
        webhook = self.catalog.get_by_path(path)
        if webhook is None:
            raise UnknownPathError(path)
        raw_event_id = self.audit.log_raw_event(webhook["source_path"], payload)
        return self.process_event(webhook, raw_event_id, payload)

    def process_event(
        self, webhook: dict[str, Any], raw_event_id: str, payload: dict | list
    ) -> ProcessOutcome:
        """Filter -> transform -> deliver -> audit: :meth:`run_event` plus
        one write of its ``transformed_events`` row."""
        outcome, row = self.run_event(webhook, raw_event_id, payload)
        outcome.transformed_event_id = self.audit.log_transformed_event(**row)
        return outcome

    def run_event(
        self, webhook: dict[str, Any], raw_event_id: str, payload: dict | list
    ) -> tuple[ProcessOutcome, dict[str, Any]]:
        """The per-event step, without the audit write: gate and transform
        the payload, deliver the result inline.  Stored UDFs are already
        registered (at store open and at upload).
        Returns the outcome and the ``transformed_events`` row fields
        (the arguments of ``audit.transformed_row``).  Any processing error
        becomes ``success=False`` with ``Error: <msg>`` as the response
        body (reference: src/app.py:1226-1244).

        Both front ends run this step: :meth:`process_event` writes its row
        at once; the streaming fallback collects the rows of a micro-batch
        into its one audit append.  Delivery is serial, one POST per call,
        as in the reference's background task."""
        webhook_id = webhook["id"]
        outcome = ProcessOutcome(raw_event_id, webhook_id, filtered_out=False)
        try:
            passed, transformed = execute_event(
                self.spark,
                webhook.get("filter_query"),
                webhook["transform_query"],
                payload,
            )
            if passed:
                outcome.delivery = result = deliver(
                    webhook["destination_url"], transformed
                )
                outcome.transformed = transformed
            else:
                outcome.filtered_out = True
                result = DeliveryResult(False, None, FILTERED_OUT_BODY)
        except Exception as e:
            result = DeliveryResult(False, None, f"Error: {e}")
        return outcome, dict(
            raw_event_id=raw_event_id,
            webhook_id=webhook_id,
            transformed_payload=outcome.transformed,
            destination_url=webhook["destination_url"],
            success=result.success,
            response_code=result.response_code,
            response_body=result.response_body,
        )

    # -- analytics surfaces (SURVEY §2A A15/A16/A17) -----------------------
    def stats(self) -> dict[str, Any]:
        """Counts + per-webhook success rate (reference: src/app.py:1246-1294)."""
        from pyspark.sql import functions as F

        spark = self.spark
        # The webhooks view IS the driver-held catalog list rendered as a
        # LocalTableScan — len() of the same rows, no job round.
        webhook_count = len(self.store._catalog["webhooks"])
        raw_count = spark.table("raw_events").count()
        tr = spark.table("transformed_events")
        per_webhook = (
            tr.groupBy("webhook_id")
            .agg(
                F.count("*").alias("total"),
                F.sum(F.when(F.col("success"), 1).otherwise(0)).alias("successes"),
            )
            .withColumn(
                "success_rate",
                (F.col("successes").cast("float") / F.col("total")).cast("float"),
            )
        )
        per_rows = [r.asDict() for r in per_webhook.collect()]
        # The table count folds into the aggregate already collected:
        # groupBy keeps a NULL-key group, so sum(total) == COUNT(*) —
        # one scan job instead of two per /stats request.
        transformed_count = sum(r["total"] for r in per_rows)
        return {
            "webhooks": webhook_count,
            "raw_events": raw_count,
            "transformed_events": transformed_count,
            "per_webhook": per_rows,
        }

    # Above this, the two-phase feed would collect an unbounded row list
    # and build a pathological IN filter; the single-pass join takes over.
    _FEED_PUSHDOWN_MAX_LIMIT = 1024

    def recent_events(self, limit: int = 50) -> list[dict[str, Any]]:
        """raw LEFT JOIN transformed, newest first
        (reference: src/app.py:1464-1501).

        The top-``limit`` joined rows (ordered by the raw timestamp) can
        only come from the top-``limit`` raw rows — a left join drops no
        raw row and every joined row inherits its raw row's sort key.  So
        the feed runs in two bounded phases instead of joining the full
        tables: (1) TakeOrdered the raw side (per-partition top-K, no
        shuffle), (2) re-join those ≤limit rows (a LocalTableScan) against
        the transformed side pre-filtered with their ids — the IN literal
        reaches the parquet scan's PushedFilters, so row-group stats skip
        everything but the matching files.  The single-pass plan scans and
        shuffles BOTH event tables at scale; this one scans raw once,
        reads only matching transformed row groups, and shuffles nothing.
        Values are identical: the final join/order/limit/projection below
        is unchanged, only its left input shrank.
        """
        from pyspark.sql import functions as F

        from ..plans.localrel import local_df
        from .store import SCHEMAS

        raw = self.spark.table("raw_events").alias("r")
        tr = self.spark.table("transformed_events").alias("t")
        if 0 < limit <= self._FEED_PUSHDOWN_MAX_LIMIT:
            top_rows = (
                raw.orderBy(F.col("timestamp").desc()).limit(limit).collect()
            )
            raw = local_df(
                self.spark,
                [r.asDict() for r in top_rows],
                SCHEMAS["raw_events"],
            ).alias("r")
            tr = tr.where(
                F.col("raw_event_id").isin([r["id"] for r in top_rows])
            ).alias("t")
        joined = (
            raw.join(tr, F.col("r.id") == F.col("t.raw_event_id"), "left")
            .orderBy(F.col("r.timestamp").desc())
            .limit(limit)
            .select(
                F.col("r.id").alias("raw_event_id"),
                F.col("r.timestamp").alias("timestamp"),
                F.col("r.source_path").alias("source_path"),
                F.col("r.payload").alias("payload"),
                F.col("t.success").alias("success"),
                F.col("t.response_code").alias("response_code"),
            )
        )
        from .results import rows_to_dicts

        return rows_to_dicts(joined)

    def event_detail(self, raw_event_id: str) -> Optional[dict[str, Any]]:
        """Raw event + its transformed record (reference: src/app.py:1503-1563).

        The two point lookups hit different tables and both depend only on
        the argument, so the transformed-side job runs SPECULATIVELY on a
        second thread while the raw lookup decides existence — request
        latency is max(two jobs) instead of their sum (~0.46 → ~0.27 s
        warm on a 5k-event store).  On the not-found path the speculative
        result is discarded: that wastes one bounded point lookup on the
        404 path to halve the found path, and 404s are the rare case.
        """
        import json as _json
        from concurrent.futures import ThreadPoolExecutor

        from .results import rows_to_dicts

        def _tr_rows() -> list[dict[str, Any]]:
            tr_df = self.spark.table("transformed_events")
            return rows_to_dicts(
                tr_df.where(tr_df["raw_event_id"] == raw_event_id)
            )

        with ThreadPoolExecutor(max_workers=1) as ex:
            tr_fut = ex.submit(_tr_rows)
            raw_rows = rows_to_dicts(
                self.spark.table("raw_events").where(
                    self.spark.table("raw_events")["id"] == raw_event_id
                )
            )
            if not raw_rows:
                return None
            tr_rows = tr_fut.result()
        raw = raw_rows[0]
        raw["payload"] = _json.loads(raw["payload"]) if raw.get("payload") else None
        for t in tr_rows:
            if t.get("transformed_payload"):
                t["transformed_payload"] = _json.loads(t["transformed_payload"])
        return {"raw_event": raw, "transformed_events": tr_rows}

    def has_history(self, webhook_id: str) -> bool:
        tr = self.spark.table("transformed_events")
        return len(tr.where(tr["webhook_id"] == webhook_id).take(1)) > 0

    def replay(self, path: str, **kwargs):
        """Batch-reprocess stored raw events through the (or a new)
        transform — see engine/replay.py.  Returns a lazy DataFrame."""
        from .replay import replay_events

        return replay_events(self, path, **kwargs)

    def delete_webhook(self, webhook_id: str) -> Optional[str]:
        return self.catalog.delete(webhook_id, self.has_history(webhook_id))
