"""Runtime-registered scalar Python UDFs.

Reference: a Python source string is ``exec``'d, the function object's
return annotation is introspected and mapped to a SQL type
(str/int/float/bool/None -> VARCHAR/INTEGER/DOUBLE/BOOLEAN/VARCHAR,
src/app.py:726-734, default VARCHAR), and the function is registered on
the connection under the namespaced name ``udf_<webhook_id>_<fn>``
(src/app.py:673-785), and re-exec'd from stored code before every
processing run (``load_webhook_udfs``, src/app.py:787-834).

Spark-first: a registered function is session state, like the reference
tables' temp views.  A UDF enters the session once — at upload
(``register``) and, for every stored row, when the store is opened
(``UdfManager.__init__``) — and every front end (ingest, the streaming
groups, replay, ad-hoc SQL) resolves it by name from then on.
``spark.udf.register`` overwrites on re-registration, so the reference's
connection-reopen collision hack (src/app.py:739-755) has no equivalent.
"""

from __future__ import annotations

import inspect
import sys
from typing import Any, Callable, Optional

from pyspark.sql import types as T

from .store import TableStore

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


class UdfManager:
    def __init__(self, store: TableStore):
        self.store = store
        self.spark = store.spark
        for webhook_id in dict.fromkeys(
            r["webhook_id"] for r in store.catalog_rows("python_udfs")
        ):
            self.load_webhook_udfs(webhook_id)

    def register(
        self, webhook_id: str, function_name: str, function_code: str
    ) -> str:
        """Validate, persist, and register ``udf_<id>_<fn>``
        (reference: src/app.py:673-785).  Re-registration replaces the code
        (tests/test_reference_and_udf.py:270-330)."""
        fn = compile_udf(function_name, function_code)
        self.spark.udf.register(
            udf_full_name(webhook_id, function_name), fn, map_return_type(fn)
        )
        return self.store.upsert_catalog_row(
            "python_udfs",
            {"webhook_id": webhook_id, "function_name": function_name},
            {"function_code": function_code},
        )["id"]

    def load_webhook_udfs(self, webhook_id: str) -> int:
        """Compile and register every stored UDF of a webhook (reference:
        load_webhook_udfs, src/app.py:787-834); the store-open step.
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
