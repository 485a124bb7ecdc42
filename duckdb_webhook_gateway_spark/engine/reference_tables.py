"""Per-webhook reference (lookup) tables.

Reference: upload CSV/JSON -> DataFrame -> CTAS under a sanitized,
namespaced table name ``ref_<webhook_id>_<name>``; re-upload replaces the
table and updates metadata in place (src/app.py:581-671; name
sanitization at src/app.py:606-607; extension dispatch at
src/app.py:1013-1024).

Spark-first: reference tables are the classic broadcast-join dimension.
They are persisted as single-file Parquet and registered as temp views;
Catalyst's auto-broadcast (threshold set in session.py) turns every
payload-to-reference join into a broadcast hash join — no shuffle, which
is exactly what you want when the fact side is 100 TB and the lookup side
is a 3-row CSV.
"""

from __future__ import annotations

import os
import re
import sys
from typing import Any, Optional

from pyspark.sql import DataFrame

from .store import TableStore

_SANITIZE_RE = re.compile(r"[^0-9a-zA-Z_]")


def sanitize_table_name(name: str) -> str:
    """Alphanumerics + underscore only (reference: src/app.py:606-607)."""
    return _SANITIZE_RE.sub("_", name)


def ref_table_name(webhook_id: str, table_name: str) -> str:
    wid = sanitize_table_name(webhook_id.replace("-", "_"))
    return f"ref_{wid}_{sanitize_table_name(table_name)}"


class ReferenceTableManager:
    def __init__(self, store: TableStore, data_dir: Optional[str] = None):
        self.store = store
        self.spark = store.spark
        self.data_dir = data_dir or os.path.join(store.base_dir, "ref_tables")
        os.makedirs(self.data_dir, exist_ok=True)
        self._reload_existing()

    def _reload_existing(self) -> None:
        """Re-register previously persisted reference tables on startup."""
        for entry in os.listdir(self.data_dir):
            path = os.path.join(self.data_dir, entry)
            if os.path.isdir(path):
                try:
                    self.spark.read.parquet(path).createOrReplaceTempView(entry)
                except Exception as e:
                    print(
                        f"WARNING: reference table {entry!r} unreadable at "
                        f"{path}: {e}; not registered",
                        file=sys.stderr,
                    )

    def read_upload(self, path: str, fmt: Optional[str] = None) -> DataFrame:
        """Extension-dispatched read, CSV or JSON only — anything else is an
        error (reference: src/app.py:1013-1024)."""
        fmt = (fmt or os.path.splitext(path)[1].lstrip(".")).lower()
        if fmt == "csv":
            return (
                self.spark.read.option("header", True)
                .option("inferSchema", True)
                .csv(path)
            )
        if fmt == "json":
            return self.spark.read.option("multiLine", True).json(path)
        raise ValueError(f"unsupported reference table format: {fmt!r} (csv/json only)")

    def upload(
        self,
        webhook_id: str,
        table_name: str,
        df: DataFrame,
        description: Optional[str] = None,
    ) -> str:
        """Create or replace ``ref_<webhook>_<name>`` and upsert its
        metadata row (reference: src/app.py:581-671; CTAS at 621-622)."""
        full_name = ref_table_name(webhook_id, table_name)
        path = os.path.join(self.data_dir, full_name)
        # Replace-on-reupload (reference: DROP TABLE IF EXISTS + CTAS).
        df.coalesce(1).write.mode("overwrite").parquet(path)
        self.spark.read.parquet(path).createOrReplaceTempView(full_name)
        return self.store.upsert_catalog_row(
            "reference_tables",
            {"webhook_id": webhook_id, "table_name": table_name},
            {"description": description},
        )["id"]

    def list(self, webhook_id: Optional[str] = None) -> list[dict[str, Any]]:
        rows = self.store.catalog_rows("reference_tables")
        if webhook_id is not None:
            rows = [r for r in rows if r["webhook_id"] == webhook_id]
        return rows

    def table(self, webhook_id: str, table_name: str) -> DataFrame:
        return self.spark.table(ref_table_name(webhook_id, table_name))
