"""Runtime-registered scalar Python UDFs.

Reference: a Python source string is ``exec``'d, the function object's
return annotation is introspected and mapped to a SQL type
(str/int/float/bool/None -> VARCHAR/INTEGER/DOUBLE/BOOLEAN/VARCHAR,
src/app.py:726-734, default VARCHAR), and the function is registered on
the connection under the namespaced name ``udf_<webhook_id>_<fn>``
(src/app.py:673-785).  Stored code is re-exec'd and re-registered before
every processing run (``load_webhook_udfs``, src/app.py:787-834).

Spark-first: ``spark.udf.register`` simply overwrites on re-registration,
so the reference's connection-reopen collision hack (src/app.py:739-755)
has no equivalent here.  Row-at-a-time Python UDFs are the slow path on a
cluster; they are confined to the per-event hot path where relations are
1..N rows.  Batch/streaming paths should prefer pandas_udf (Arrow).
"""

from __future__ import annotations

import inspect
import sys
from typing import Any, Callable, Optional

from pyspark.sql import SparkSession
from pyspark.sql import types as T

from .store import TableStore, new_id, now_utc

# Annotation -> Spark SQL type (reference type map: src/app.py:726-734).
_TYPE_MAP: dict[Any, T.DataType] = {
    str: T.StringType(),
    int: T.IntegerType(),
    float: T.DoubleType(),
    bool: T.BooleanType(),
    "str": T.StringType(),
    "int": T.IntegerType(),
    "float": T.DoubleType(),
    "bool": T.BooleanType(),
}


def map_return_type(fn: Callable) -> T.DataType:
    """Return-annotation -> Spark type; default StringType when missing or
    unmapped (reference: src/app.py:731-734)."""
    try:
        ann = inspect.signature(fn).return_annotation
    except (TypeError, ValueError):
        return T.StringType()
    if ann is inspect.Signature.empty:
        return T.StringType()
    return _TYPE_MAP.get(ann, T.StringType())


def compile_udf(function_name: str, function_code: str) -> Callable:
    """``exec`` the code string and pull out the named function
    (reference: src/app.py:706-724).  Raises if the code does not define
    the function (invalid-code rejection,
    tests/test_reference_and_udf.py:431-444)."""
    namespace: dict[str, Any] = {}
    exec(function_code, namespace)  # noqa: S102 - parity with reference
    fn = namespace.get(function_name)
    if not callable(fn):
        raise ValueError(f"code does not define function {function_name!r}")
    return fn


def udf_full_name(webhook_id: str, function_name: str) -> str:
    wid = webhook_id.replace("-", "_")
    return f"udf_{wid}_{function_name}"


def vectorize_udf(fn: Callable, return_type: T.DataType) -> Any:
    """Wrap a scalar Python function as an Arrow-batched pandas UDF.

    The user's function still runs once per value (its contract is
    scalar), but inputs/outputs move between JVM and Python as Arrow
    column batches instead of pickled rows — the serialization overhead
    is where row-at-a-time UDFs lose 10-100× on large relations.
    """
    import pandas as pd

    from pyspark.sql.functions import pandas_udf

    def _batched(*cols):
        return pd.Series([fn(*vals) for vals in zip(*cols)])

    # Real annotation objects (this module's `from __future__ import
    # annotations` would stringify inline hints, which pandas_udf's
    # signature inference cannot resolve).
    _batched.__annotations__ = {"cols": pd.Series, "return": pd.Series}
    return pandas_udf(_batched, returnType=return_type)


class UdfManager:
    def __init__(self, store: TableStore):
        self.store = store
        self.spark = store.spark

    def register(
        self,
        webhook_id: str,
        function_name: str,
        function_code: str,
        vectorized: bool = False,
    ) -> str:
        """Validate, persist, and register ``udf_<id>_<fn>``
        (reference: src/app.py:673-785).  Re-registration replaces the code
        (tests/test_reference_and_udf.py:270-330).

        ``vectorized=True`` registers the function as an Arrow-batched
        pandas UDF (:func:`vectorize_udf`) — same scalar semantics, batch
        transfer; the right choice when the UDF appears in analytics over
        large relations.  The row-at-a-time default mirrors the reference
        (per-event relations are 1..N rows, where Arrow setup would only
        add overhead), and stored-code reloads keep that default.
        """
        fn = compile_udf(function_name, function_code)
        full_name = udf_full_name(webhook_id, function_name)
        if vectorized:
            self.spark.udf.register(
                full_name, vectorize_udf(fn, map_return_type(fn))
            )
        else:
            self.spark.udf.register(full_name, fn, map_return_type(fn))

        def _upsert(rows: list[dict[str, Any]]) -> str:
            ts = now_utc()
            for row in rows:
                if (
                    row["webhook_id"] == webhook_id
                    and row["function_name"] == function_name
                ):
                    row.update(function_code=function_code, updated_at=ts)
                    return row["id"]
            rid = new_id()
            rows.append(
                {
                    "id": rid,
                    "webhook_id": webhook_id,
                    "function_name": function_name,
                    "function_code": function_code,
                    "created_at": ts,
                    "updated_at": ts,
                }
            )
            return rid

        return self.store.mutate_catalog("python_udfs", _upsert)

    def load_webhook_udfs(self, webhook_id: str) -> int:
        """Re-exec + re-register every stored UDF for a webhook before a
        processing run (reference: load_webhook_udfs, src/app.py:787-834).
        Returns the number registered."""
        n = 0
        for row in self.store.catalog_rows("python_udfs"):
            if row["webhook_id"] != webhook_id:
                continue
            try:
                fn = compile_udf(row["function_name"], row["function_code"])
            except Exception as e:
                # the reference logs and skips broken stored code
                print(
                    f"WARNING: stored UDF {row['function_name']!r} of webhook "
                    f"{webhook_id!r} does not compile: {e}; skipping it",
                    file=sys.stderr,
                )
                continue
            self.spark.udf.register(
                udf_full_name(webhook_id, row["function_name"]),
                fn,
                map_return_type(fn),
            )
            n += 1
        return n

    def list(self, webhook_id: Optional[str] = None) -> list[dict[str, Any]]:
        rows = self.store.catalog_rows("python_udfs")
        if webhook_id is not None:
            rows = [r for r in rows if r["webhook_id"] == webhook_id]
        return rows
