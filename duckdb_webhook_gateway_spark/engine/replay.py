"""Batch replay: re-run a (possibly NEW) transform over stored raw events.

The reference gateway processes each webhook exactly once, at ingest time
(/root/reference/src/app.py:1089-1170); if the transform query was wrong,
history is wrong forever.  This engine's audit store is a partitioned
lakehouse table, so reprocessing is a first-class BATCH operation: read
the raw payload log (partition-pruned by time), stand the payloads up as
one distributed relation, and run the per-event transform semantics as a
single correlated query — one Spark plan over any amount of history,
instead of a per-event loop.

Semantics vs the ingest path:

- The transform still runs PER EVENT: ``{{payload}}`` binds to only that
  event's rows via id correlation — the same kernel
  (engine/executors.py::embed_ids + transform_events) the streaming
  shape groups run.
- The filter predicate is the same existence gate (bare WHERE predicate,
  any qualifying row passes the event — engine/executors.py::apply_filter).
- Schema inference is UNIFIED across the replayed range (missing keys
  read as NULL) rather than per-event; pass ``schema`` to pin it.  This
  is the one deliberate batch-vs-ingest difference, and the price of not
  collecting payloads to the driver: inference is two distributed passes
  over the JSON instead of one Python pass per event.
- Nothing is delivered and nothing is written: the result is a LAZY
  DataFrame of (raw_event_id, <transform output columns>) with 0/1/N
  rows per event, in the order the transform yields them for that event
  alone, for the caller to write, diff against
  transformed_events, or deliver explicitly.  With no ``schema`` and an
  EMPTY time range there is nothing to infer output columns from, so the
  frame has only ``raw_event_id`` — pass ``schema`` when looping over
  windows that may be empty and a stable schema matters.

Scale: payloads never touch the driver (``embed_ids`` re-tags JSON
line-by-line on the executors), the correlated subquery decorrelates
into an aggregate and an equi-join on the id, and the time filter prunes
audit partitions before any JSON is parsed.
"""

from __future__ import annotations

import uuid
from typing import Any, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .executors import embed_ids, transform_events


_UNSET = object()


def replay_events(
    gateway: Any,
    path: str,
    transform_query: Optional[str] = None,
    filter_query: Any = _UNSET,
    since: Optional[str] = None,
    until: Optional[str] = None,
    schema: Optional[str] = None,
) -> DataFrame:
    """Re-run ``path``'s transform over its stored raw events.

    ``transform_query``/``filter_query`` default to the webhook's current
    registration; pass overrides to backfill history through NEW logic.
    ``since``/``until`` are ISO timestamps bounding the raw-event ingest
    time (pruned at the audit-store scan).  Returns a lazy DataFrame
    whose first column is ``raw_event_id``.
    """
    webhook = gateway.catalog.get_by_path(path)
    if webhook is None:
        from .pipeline import UnknownPathError

        raise UnknownPathError(path)
    tq = transform_query if transform_query is not None else webhook["transform_query"]
    fq = webhook.get("filter_query") if filter_query is _UNSET else filter_query
    if "{{payload}}" not in tq:
        from .catalog import ValidationError

        raise ValidationError("transform_query must reference {{payload}}")

    spark = gateway.spark
    # per-call correlation key: uuid-suffixed so a payload key can never
    # collide with it and be silently clobbered (the streaming shape
    # groups send '__corr_id' payloads to the per-event path; batch
    # replay has no per-event fallback, so it prevents instead)
    corr = f"__corr_{uuid.uuid4().hex[:12]}"
    ev = spark.table("raw_events").where(F.col("source_path") == path)
    if since is not None:
        ev = ev.where(F.col("timestamp") >= F.to_timestamp(F.lit(since)))
    if until is not None:
        ev = ev.where(F.col("timestamp") < F.to_timestamp(F.lit(until)))

    rdd = ev.select("id", "payload").rdd.mapPartitions(
        embed_ids("id", "payload", corr)
    )
    payload_df = (
        spark.read.schema(f"{corr} STRING, {schema}").json(rdd)
        if schema
        else spark.read.json(rdd)
    )
    if set(payload_df.columns) <= {corr}:
        # empty range (nothing to infer) or only empty-dict payloads (no
        # transform inputs)
        return spark.createDataFrame([], "raw_event_id string")

    view = f"replay_{uuid.uuid4().hex}"
    payload_df.createOrReplaceTempView(view)
    try:
        # spark.sql analyzes eagerly and resolves the view INTO the
        # returned plan, so the catalog entry can drop immediately — the
        # lazy result stays valid with no view leaked (and no global
        # cleanup state, which would race across sessions/threads)
        result = transform_events(spark, view, corr, fq, tq)
        return result.select(F.col(corr).alias("raw_event_id"), F.inline("rows"))
    finally:
        spark.catalog.dropTempView(view)
