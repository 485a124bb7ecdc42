"""Transform and filter executors — the hot path of the engine.

Reference semantics reproduced here:

- payload dict -> 1-row relation; payload list -> N-row relation
  (reference: src/app.py:448-458, 541-551)
- ``{{payload}}`` macro substituted with a unique relation name
  (reference: src/app.py:462; validation at src/app.py:64-69)
- transform = run substituted SELECT, shape rows per the 0/1/N contract
  (reference: src/app.py:434-522)
- filter = bare WHERE predicate evaluated as an existence gate; ``None`` or
  blank filter always passes (reference: src/app.py:524-579)
- the payload relation is UUID-named and private to the event (reference:
  temp views dropped in ``finally``, src/app.py:448, 509-522, 541, 567-579)

Spark-first notes: the payload is bound into the query text, not the
session catalog.  Each event's query starts with one CTE,
``WITH temp_payload_<uuid> AS (SELECT __r.* FROM (SELECT from_json(__j,
'<ddl>') AS __r FROM VALUES ('<record>'), ... AS __v(__j)))``, so the
filter probe and the transform are one ``spark.sql`` call each and the
catalog never changes per event.  Every ``$`` of the payload is written as
``\\u0024`` (``_sql_string``): Spark substitutes ``${...}`` in the SQL
text, string literals included, before it parses.  Catalyst folds the
inline table into a JVM ``LocalTableScan``: a query over it runs without
a job unless the transform itself needs one (a Python UDF, a join
against a reference table).  ``payload_schema`` walks the JSON
driver-side with ``spark.read.json``'s type rules and is the one type
authority: its type becomes the DDL, so nested objects become
``StructType`` (dot access ``nested.key1`` works natively — the reference
relied on DuckDB's struct inference for the same,
tests/test_event_processing.py:56-70) and arrays of objects become
``ArrayType(StructType)`` (stronger than the reference, which documented
array element access as broken, tests/test_event_processing.py:71).
Columns keep the payload's key order.  Schema is inferred per event,
never cached — two events on one path may differ in shape, exactly like
the reference.  Shapes the walker cannot
type take ``spark.read.json``'s inferred schema into the same inline form
(``from_json`` parses with the same rules, ``_corrupt_record`` included).

The same walker types the streaming micro-batch's shape groups, and
``embed_ids`` + ``transform_events`` are the many-event form of
filter + transform that both those groups and batch replay run.
"""

from __future__ import annotations

import json
import re
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


def _records(payload: dict | list) -> list:
    """dict -> one record; list -> one record per element
    (reference: src/app.py:451-454)."""
    if isinstance(payload, dict):
        return [payload]
    if isinstance(payload, list):
        return payload
    raise TypeError(f"payload must be dict or list, got {type(payload).__name__}")


def _read_json(spark: SparkSession, records: list) -> DataFrame:
    # One tiny partition: a per-event relation must not fan out across the
    # cluster; inference + scan happen on a single task.
    rdd = spark.sparkContext.parallelize([json.dumps(r) for r in records], 1)
    return spark.read.json(rdd)


def payload_to_df(spark: SparkSession, payload: dict | list) -> DataFrame:
    """JSON payload -> DataFrame with inferred (possibly nested) schema,
    for callers that want the payload as a DataFrame; the executors bind
    it into their query text instead (``_bind_payload``).

    Fast path: the schema is ``payload_schema``'s and the relation is
    stood up as a pyarrow Table, which ``createDataFrame`` turns into a
    JVM-side ``LocalTableScan`` (no inference job, and no Python worker
    on later queries, unlike a pickled-row ``createDataFrame``).  Column
    order follows dict insertion order, as in the reference's pandas
    construction (src/app.py:451-454).  Shapes the walker can't type, and
    values Arrow cannot convert to the walker's type, go through
    ``spark.read.json``.
    """
    records = _records(payload)
    if records and all(isinstance(r, dict) for r in records):
        schema = payload_schema(records)
        if schema is not None and len(schema.fields) > 0:
            import pyarrow as pa

            try:
                tbl = pa.Table.from_pylist(
                    records,
                    schema=pa.schema(
                        [pa.field(f.name, arrow_type(f.dataType)) for f in schema.fields]
                    ),
                )
            except (pa.ArrowInvalid, pa.ArrowTypeError, OverflowError):
                pass  # fall back to authoritative inference
            else:
                return spark.createDataFrame(tbl)
    return _read_json(spark, records)


def _sql_string(text: str) -> str:
    """``text`` as a Spark SQL string literal.  ``$`` is written as the
    escape ``\\u0024``: Spark rewrites ``${...}`` anywhere in the SQL
    text, string literals included, before it parses (with environment
    variables, JVM properties or session conf), so payload bytes must not
    reach that pass."""
    return (
        "'"
        + text.replace("\\", "\\\\").replace("'", "\\'").replace("$", "\\u0024")
        + "'"
    )


def _ddl(dt) -> str:
    """A Spark type as DDL, field names backtick-quoted (``simpleString``
    leaves them bare, which breaks on ``.``, spaces and backticks)."""
    from pyspark.sql import types as T

    if isinstance(dt, T.StructType):
        fields = (
            "`" + f.name.replace("`", "``") + "`:" + _ddl(f.dataType) for f in dt.fields
        )
        return f"struct<{','.join(fields)}>"
    if isinstance(dt, T.ArrayType):
        return f"array<{_ddl(dt.elementType)}>"
    return dt.simpleString()


def _bind_payload(spark: SparkSession, payload: dict | list) -> tuple[str, str]:
    """Bind a payload for one query: ``(name, with_clause)``, a unique
    relation name and the ``WITH name AS (...)`` clause that a query over
    ``name`` starts with.  The relation is an inline table of the records'
    JSON, parsed by one ``from_json`` typed by ``payload_schema``, or by
    ``spark.read.json``'s inferred schema where the walker cannot type the
    records (one inference job).  An empty list is the zero-column
    relation ``spark.read.json`` gives it, with no rows."""
    from pyspark.sql import types as T

    records = _records(payload)
    if not records:
        schema = T.StructType([])
    elif all(isinstance(r, dict) for r in records):
        schema = payload_schema(records)
    else:
        schema = None
    if schema is None:
        schema = _read_json(spark, records).schema
    rows = ", ".join(f"({_sql_string(json.dumps(r))})" for r in records or [{}])
    empty = "" if records else " WHERE false"
    name = f"temp_payload_{uuid.uuid4().hex}"
    return name, (
        f"WITH {name} AS (SELECT __r.* FROM (SELECT from_json(__j, "
        f"{_sql_string(_ddl(schema))}) AS __r FROM VALUES {rows} AS __v(__j)){empty}) "
    )


# One token of Spark SQL: a quoted string or identifier, a comment, or any
# other run of characters.  ``_statement_body`` needs no finer split.
_TOKEN = re.compile(
    r"""'(?:\\.|[^'\\])*'?|"(?:\\.|[^"\\])*"?|`[^`]*`?"""
    r"""|--[^\n]*|/\*.*?\*/|(?P<blank>[\s;]+)|[^'"`\s;/-]+|.""",
    re.S,
)


def _statement_body(sql: str) -> str:
    """``sql`` without what Spark's single-statement grammar allows after
    the statement: ``;``, comments and blanks.  A transform runs inside
    parentheses, where those would not parse."""
    end = 0
    for m in _TOKEN.finditer(sql):
        if not (m.group("blank") or m.group().startswith(("--", "/*"))):
            end = m.end()
    return sql[:end]


def _blank(filter_query: str | None) -> bool:
    return filter_query is None or not str(filter_query).strip()


def _passes(spark: SparkSession, name: str, with_clause: str, filter_query: str) -> bool:
    """The filter's existence probe over a bound payload: does any record
    satisfy the predicate?  ``isEmpty`` is one JVM call, and it stops at
    the first qualifying row."""
    probe = f"{with_clause}(SELECT 1 AS hit FROM {name} WHERE {filter_query}\n)"
    return not spark.sql(probe).isEmpty()


def substitute_macro(transform_query: str, view_name: str) -> str:
    """``{{payload}}`` -> relation name (reference: src/app.py:462), plus
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
    gate = "" if _blank(filter_query) else f"WHERE {filter_query}"
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
    """Fused filter + transform over ONE payload binding.

    The reference registers separate temp views for filter and transform
    (src/app.py:448, 541) — unobservable implementation detail; here both
    queries carry the same inline payload relation (``_bind_payload``) and
    nothing enters the session catalog.  Semantics identical: filter gates
    on the raw payload first, blank/None filter passes, 0/1/N shaping
    applies to the transform.  The transform is wrapped in parentheses
    after the CTE, so its own ``WITH``, ``ORDER BY``/``LIMIT``, set
    operations and comments stay valid; a trailing ``;`` and the comments
    after it are dropped (``_statement_body``).

    Returns (passed_filter, shaped_result); result is ``{}`` when gated.
    """
    name, with_clause = _bind_payload(spark, payload)
    if not _blank(filter_query) and not _passes(spark, name, with_clause, filter_query):
        return False, {}
    query = _statement_body(substitute_macro(transform_query, name))
    return True, shape_result(spark.sql(f"{with_clause}({query}\n)"))


def apply_filter(
    spark: SparkSession, filter_query: str | None, payload: dict | list
) -> bool:
    """Evaluate a bare WHERE predicate as a pass/drop gate.

    ``None``/blank predicate always passes (reference: src/app.py:537-538).
    The reference runs ``SELECT COUNT(*) FROM tmp WHERE <pred>`` and checks
    ``> 0`` (src/app.py:555-560); the existence probe ``execute_event``
    runs is semantically identical and stops at the first qualifying row
    instead of counting them all.
    """
    if _blank(filter_query):
        return True
    return _passes(spark, *_bind_payload(spark, payload), filter_query)
