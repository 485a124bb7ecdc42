"""Transform and filter executors — the hot path of the engine.

Reference semantics reproduced here:

- payload dict -> 1-row relation; payload list -> N-row relation
  (reference: src/app.py:448-458, 541-551)
- ``{{payload}}`` macro substituted with a unique temp-view name
  (reference: src/app.py:462; validation at src/app.py:64-69)
- transform = run substituted SELECT, shape rows per the 0/1/N contract
  (reference: src/app.py:434-522)
- filter = bare WHERE predicate evaluated as an existence gate; ``None`` or
  blank filter always passes (reference: src/app.py:524-579)
- temp views are UUID-named and dropped in ``finally`` for isolation
  (reference: src/app.py:448, 509-522, 541, 567-579)

Spark-first notes: ``payload_schema`` walks the JSON driver-side with
``spark.read.json``'s type rules, and the payload becomes an Arrow-backed
``LocalTableScan``; so nested objects become ``StructType`` (dot access
``nested.key1`` works natively — the reference relied on DuckDB's struct
inference for the same, tests/test_event_processing.py:56-70) and arrays
of objects become ``ArrayType(StructType)`` (stronger than the reference,
which documented array element access as broken,
tests/test_event_processing.py:71).  Columns keep the payload's key order.
Schema is inferred per event, never cached — two events on one path may
differ in shape, exactly like the reference.  Shapes the walker cannot
type fall back to ``spark.read.json``.

The same walker types the streaming micro-batch's shape groups, and
``embed_ids`` + ``transform_events`` are the many-event form of
filter + transform that both those groups and batch replay run.
"""

from __future__ import annotations

import json
import uuid
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from ..functions import rewrite_dialect
from .results import shape_result
from .store import arrow_type

PAYLOAD_MACRO = "{{payload}}"
_I64_MIN, _I64_MAX = -(2**63), 2**63 - 1


def payload_schema(values: list):
    """Driver-side JSON -> Spark type inference, with spark.read.json's type
    rules: int->Long, float->Double (int+float widen to Double),
    bool->Boolean, str->String, all-null->String, dict->Struct (keys
    unioned across rows, in first-seen order), list->Array.  Called with
    a payload's records, it returns the payload's per-event schema.
    Returns None when the values are not uniformly typeable (mixed kinds,
    ints outside int64); callers fall back to ``spark.read.json``."""
    from pyspark.sql import types as T

    non_null = [v for v in values if v is not None]
    if not non_null:
        return T.StringType()
    kinds = {type(v) for v in non_null}
    if kinds == {bool}:
        return T.BooleanType()
    if kinds <= {int} and not kinds & {bool}:
        if all(_I64_MIN <= v <= _I64_MAX for v in non_null):
            return T.LongType()
        return None  # spark.read.json would type it as a decimal
    if kinds <= {int, float} and not kinds & {bool}:
        return T.DoubleType()
    if kinds == {str}:
        return T.StringType()
    if kinds == {dict}:
        keys: list[str] = []
        for v in non_null:
            for k in v:
                if k not in keys:
                    keys.append(k)
        fields = []
        for k in keys:
            ft = payload_schema([v.get(k) for v in non_null])
            if ft is None:
                return None
            fields.append(T.StructField(k, ft, True))
        return T.StructType(fields)
    if kinds == {list}:
        elems = [e for v in non_null for e in v]
        et = payload_schema(elems) if elems else T.StringType()
        if et is None:
            return None
        return T.ArrayType(et, True)
    return None  # mixed/unsupported -> fall back


def payload_to_df(spark: SparkSession, payload: dict | list) -> DataFrame:
    """JSON payload -> DataFrame with inferred (possibly nested) schema.

    dict -> one row; list -> one row per element
    (reference: src/app.py:451-454).

    Fast path: the schema is inferred driver-side (pure Python walk of the
    JSON — the same type rules spark.read.json applies) and the relation
    is stood up as a pyarrow Table, which ``createDataFrame`` turns into
    a JVM-side **LocalTableScan**.  That matters twice over: no inference
    job, and — unlike the pickled-row ``createDataFrame(rows, schema)``
    this replaces, whose ``Scan ExistingRDD`` re-ran a Python worker
    round-trip on EVERY query over the view (~0.5 s per filter probe) —
    every subsequent query over the payload view evaluates entirely in
    the JVM, usually driver-local without launching a job.  Column order
    follows dict insertion order — matching the reference's pandas
    construction (src/app.py:451-454) where read.json would sort keys.
    Shapes the walker can't type uniformly (mixed scalar kinds,
    int64-overflowing literals) fall back to spark.read.json.
    """
    if isinstance(payload, dict):
        records = [payload]
    elif isinstance(payload, list):
        records = payload
    else:
        raise TypeError(f"payload must be dict or list, got {type(payload).__name__}")

    if records and all(isinstance(r, dict) for r in records):
        schema = payload_schema(records)
        from pyspark.sql import types as T

        if isinstance(schema, T.StructType) and len(schema.fields) > 0:
            try:
                import pyarrow as pa

                tbl = pa.Table.from_pylist(
                    records,
                    schema=pa.schema(
                        [
                            pa.field(f.name, arrow_type(f.dataType))
                            for f in schema.fields
                        ]
                    ),
                )
                return spark.createDataFrame(tbl)
            except Exception:
                pass  # fall back to authoritative inference
    # One tiny partition: a per-event relation must not fan out across the
    # cluster; inference + scan happen on a single task.
    rdd = spark.sparkContext.parallelize([json.dumps(r) for r in records], 1)
    return spark.read.json(rdd)


def _register_temp_payload(
    spark: SparkSession, payload: dict | list, prefix: str
) -> str:
    name = f"{prefix}_{uuid.uuid4().hex}"
    payload_to_df(spark, payload).createOrReplaceTempView(name)
    return name


def substitute_macro(transform_query: str, view_name: str) -> str:
    """``{{payload}}`` -> temp view name (reference: src/app.py:462), plus
    DuckDB-dialect rewrites (json_extract -> get_json_object)."""
    return rewrite_dialect(transform_query.replace(PAYLOAD_MACRO, view_name))


def embed_ids(id_col: str, payload_col: str, corr: str):
    """``mapPartitions`` function over ``(id, payload JSON)`` rows that
    re-tags each payload's records with the event id under ``corr``, one
    JSON line per record: dict -> 1 line, list of dicts -> N lines.  It
    runs on the executors, so payload bodies never reach the driver.
    Malformed JSON, scalars and non-dict list elements are skipped."""

    def embed(rows):
        for r in rows:
            try:
                p = json.loads(r[payload_col])
            except (TypeError, ValueError):  # NULL or malformed JSON
                continue
            recs = [p] if isinstance(p, dict) else p if isinstance(p, list) else []
            for rec in recs:
                if isinstance(rec, dict):
                    yield json.dumps({**rec, corr: r[id_col]})

    return embed


def transform_events(
    spark: SparkSession,
    view: str,
    corr: str,
    filter_query: str | None,
    transform_query: str,
) -> DataFrame:
    """Filter + transform over MANY events' records at once.

    ``view`` holds the records of many events, each tagged with its event
    id in column ``corr`` (see ``embed_ids``).  Returns one row per event
    that passes the filter (the existence gate of ``apply_filter``):
    ``corr`` and ``rows``, the array of the transform's result rows for
    that event, as structs in result-column order (empty for a 0-row
    result).  The transform runs per event as a correlated subquery whose
    ``{{payload}}`` binds to that event's records only, so aggregates,
    LIMIT and the 0/1/N shaping stay per event.  Collecting each event's
    rows into one array keeps them in record order: Spark decorrelates the
    subquery into an aggregate per ``corr`` followed by a join on unique
    keys, whereas a LATERAL join's hash table may be built over the
    records and hand an event's rows back reversed.  Analyzed eagerly (a
    bad filter or transform raises here); the view is resolved into the
    plan, so the caller may drop it once nothing caches it.
    """
    cols = ", ".join(f"`{c}`" for c in spark.table(view).columns if c != corr)
    gate = (
        f"WHERE {filter_query}"
        if filter_query is not None and str(filter_query).strip()
        else ""
    )
    ev = f"ev_{uuid.uuid4().hex[:12]}"  # no payload column can shadow it
    inner = f"(SELECT {cols} FROM {view} WHERE {corr} = {ev}.{corr})"
    return spark.sql(
        f"SELECT {ev}.{corr} AS {corr}, "
        f"(SELECT collect_list(struct(*)) "
        f"FROM ({substitute_macro(transform_query, inner)}) t) AS `rows` "
        f"FROM (SELECT DISTINCT {corr} FROM {view} {gate}) {ev}"
    )


def execute_transform(
    spark: SparkSession, transform_query: str, payload: dict | list
) -> dict[str, Any]:
    """Run a transform query against a payload; shape per the 0/1/N contract
    (reference: execute_transform, src/app.py:434-522)."""
    return execute_event(spark, None, transform_query, payload)[1]


def execute_event(
    spark: SparkSession,
    filter_query: str | None,
    transform_query: str,
    payload: dict | list,
) -> tuple[bool, dict[str, Any]]:
    """Fused filter + transform over ONE payload materialization.

    The reference registers separate temp views for filter and transform
    (src/app.py:448, 541) — unobservable implementation detail; sharing a
    single view halves the per-event Spark jobs (payload inference runs
    once).  Semantics identical: filter gates on the raw payload first,
    blank/None filter passes, 0/1/N shaping applies to the transform.

    Returns (passed_filter, shaped_result); result is ``{}`` when gated.
    """
    view = _register_temp_payload(spark, payload, "temp_payload")
    try:
        if filter_query is not None and str(filter_query).strip():
            probe = spark.sql(
                f"SELECT 1 AS hit FROM {view} WHERE {filter_query} LIMIT 1"
            )
            if not probe.take(1):
                return False, {}
        df = spark.sql(substitute_macro(transform_query, view))
        return True, shape_result(df)
    finally:
        spark.catalog.dropTempView(view)


def apply_filter(
    spark: SparkSession, filter_query: str | None, payload: dict | list
) -> bool:
    """Evaluate a bare WHERE predicate as a pass/drop gate.

    ``None``/blank predicate always passes (reference: src/app.py:537-538).
    The reference runs ``SELECT COUNT(*) FROM tmp WHERE <pred>`` and checks
    ``> 0`` (src/app.py:555-560); an existence probe (``LIMIT 1``) is
    semantically identical and stops at the first qualifying row instead of
    counting them all — the version that survives a wide payload relation.
    """
    if filter_query is None or not str(filter_query).strip():
        return True
    view = _register_temp_payload(spark, payload, "temp_filter")
    try:
        probe = spark.sql(f"SELECT 1 AS hit FROM {view} WHERE {filter_query} LIMIT 1")
        return len(probe.take(1)) > 0
    finally:
        spark.catalog.dropTempView(view)
