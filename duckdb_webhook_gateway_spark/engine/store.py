"""Persistent table store: the engine's 5 catalog/audit tables.

The reference creates five DuckDB tables at startup
(reference: src/app.py:103-167):

  webhooks, raw_events, transformed_events, reference_tables, python_udfs

Spark-first split (SURVEY §7.0):

- **Catalog tables** (``webhooks``, ``reference_tables``, ``python_udfs``)
  are tiny and mutation-heavy.  They live as driver-side row lists, guarded
  by one ``threading.Lock`` (the moral equivalent of the reference's single
  connection + asyncio.Lock, src/app.py:89-94, which is exactly where that
  serialization actually mattered), persisted to Parquet on every mutation,
  and re-registered as temp views so ``spark.sql`` sees them by name.
- **Event tables** (``raw_events``, ``transformed_events``) are append-only
  audit streams.  They are Parquet directories partitioned by
  ``event_date`` — at 100 TB an unpartitioned audit log is unqueryable;
  date partitioning gives partition pruning on every time-ranged analytics
  query for free, and appends never rewrite history.

Type mapping follows SURVEY §1.2: UUID -> StringType, JSON -> StringType
(JSON text, parse on demand with get_json_object/from_json).
"""

from __future__ import annotations

import os
import shutil
import threading
import uuid
import weakref
from datetime import datetime, timezone
from typing import Any, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Fixed DDL schemas (reference: src/app.py:103-167; FIXTURES.md §9).
SCHEMAS: dict[str, T.StructType] = {
    "webhooks": T.StructType(
        [
            T.StructField("id", T.StringType(), False),
            T.StructField("source_path", T.StringType(), False),
            T.StructField("destination_url", T.StringType(), False),
            T.StructField("transform_query", T.StringType(), False),
            T.StructField("filter_query", T.StringType(), True),
            T.StructField("owner", T.StringType(), True),
            T.StructField("created_at", T.TimestampType(), True),
            T.StructField("updated_at", T.TimestampType(), True),
        ]
    ),
    "raw_events": T.StructType(
        [
            T.StructField("id", T.StringType(), False),
            T.StructField("timestamp", T.TimestampType(), True),
            T.StructField("source_path", T.StringType(), True),
            T.StructField("payload", T.StringType(), True),
        ]
    ),
    "transformed_events": T.StructType(
        [
            T.StructField("id", T.StringType(), False),
            T.StructField("raw_event_id", T.StringType(), True),
            T.StructField("webhook_id", T.StringType(), True),
            T.StructField("timestamp", T.TimestampType(), True),
            T.StructField("transformed_payload", T.StringType(), True),
            T.StructField("destination_url", T.StringType(), True),
            T.StructField("success", T.BooleanType(), True),
            T.StructField("response_code", T.IntegerType(), True),
            T.StructField("response_body", T.StringType(), True),
        ]
    ),
    "reference_tables": T.StructType(
        [
            T.StructField("id", T.StringType(), False),
            T.StructField("webhook_id", T.StringType(), True),
            T.StructField("table_name", T.StringType(), True),
            T.StructField("description", T.StringType(), True),
            T.StructField("created_at", T.TimestampType(), True),
            T.StructField("updated_at", T.TimestampType(), True),
        ]
    ),
    "python_udfs": T.StructType(
        [
            T.StructField("id", T.StringType(), False),
            T.StructField("webhook_id", T.StringType(), True),
            T.StructField("function_name", T.StringType(), True),
            T.StructField("function_code", T.StringType(), True),
            T.StructField("created_at", T.TimestampType(), True),
            T.StructField("updated_at", T.TimestampType(), True),
        ]
    ),
}

_CATALOG_TABLES = ("webhooks", "reference_tables", "python_udfs")
_EVENT_TABLES = ("raw_events", "transformed_events")

# (id(spark), event table) -> the store whose plain parquet view is the
# temp view registered under that name.  Temp views are per-session
# names, so this lives beside the session rather than in one store:
# a second store registering the same name clears the first one's flag,
# and the first store's next append rebuilds instead of refreshing the
# second store's view.
_PLAIN_VIEWS: "weakref.WeakValueDictionary[tuple[int, str], TableStore]" = (
    weakref.WeakValueDictionary()
)


def now_utc() -> datetime:
    return datetime.now(timezone.utc).replace(tzinfo=None)


def new_id() -> str:
    return str(uuid.uuid4())


def arrow_type(dtype: T.DataType):
    """Spark type -> pyarrow type, for the audit tables' driver-side
    parquet writes and the payload relations of ``payload_schema``.
    Timestamps are naive microseconds, as Spark writes them."""
    import pyarrow as pa

    if isinstance(dtype, T.LongType):
        return pa.int64()
    if isinstance(dtype, T.IntegerType):
        return pa.int32()
    if isinstance(dtype, T.DoubleType):
        return pa.float64()
    if isinstance(dtype, T.BooleanType):
        return pa.bool_()
    if isinstance(dtype, T.StringType):
        return pa.string()
    if isinstance(dtype, T.TimestampType):
        return pa.timestamp("us")
    if isinstance(dtype, T.StructType):
        return pa.struct(
            [pa.field(f.name, arrow_type(f.dataType)) for f in dtype.fields]
        )
    if isinstance(dtype, T.ArrayType):
        return pa.list_(arrow_type(dtype.elementType))
    raise TypeError(f"no arrow mapping for {dtype}")


class TableStore:
    """Owns the 5 engine tables; registers them as Spark temp views.

    Event-view freshness: every append re-lists the files under the
    view that is already registered (``spark.catalog.refreshTable`` on
    the temp view re-lists its own file index) instead of building a
    new DataFrame and view — 4-8 ms against about 25 ms on a 4-core
    host, twice per ingest.
    The view is rebuilt only when its shape has to change: the table
    had no files yet (the view was an empty local relation), a bucket
    spec exists (the manifest check picks the bucketed or the plain
    view), or another store has since registered the same view name.
    Refreshes and rebuilds run under one view lock, so the view
    registered last always lists every file whose append returned
    before it started — read-your-writes holds across threads.
    """

    def __init__(self, spark: SparkSession, base_dir: str):
        self.spark = spark
        self.base_dir = base_dir
        self.lock = threading.Lock()
        self._view_lock = threading.Lock()
        self._catalog: dict[str, list[dict[str, Any]]] = {}
        os.makedirs(base_dir, exist_ok=True)
        for name in _CATALOG_TABLES:
            self._catalog[name] = self._load_catalog(name)
            self._register_catalog_view(name)
        for name in _EVENT_TABLES:
            self._register_event_view(name)

    # -- paths -----------------------------------------------------------
    def _path(self, name: str) -> str:
        return os.path.join(self.base_dir, name)

    # -- catalog tables (driver-state + parquet persistence) -------------
    def _load_catalog(self, name: str) -> list[dict[str, Any]]:
        path = self._path(name)
        # crash-recovery: _persist_catalog renames the previous directory
        # to __old before promoting the new one; a crash in that window
        # leaves only __old — restore it rather than booting empty
        old = path + ".__old"
        if not os.path.isdir(path) and os.path.isdir(old):
            os.rename(old, path)
        if not os.path.isdir(path):
            return []
        try:
            df = self.spark.read.schema(SCHEMAS[name]).parquet(path)
            return [row.asDict() for row in df.collect()]
        except Exception as e:
            # a corrupt catalog must be LOUD: silently returning [] here
            # would wipe every registered webhook/UDF/reference table on
            # the next persist with no trace of why
            import sys

            print(
                f"WARNING: catalog table {name!r} unreadable at {path}: "
                f"{e}; starting with an empty catalog",
                file=sys.stderr,
            )
            return []

    def _catalog_df(self, name: str) -> DataFrame:
        # Arrow-local relation (plans/localrel.py): the pickled-list
        # form put a Python-RDD scan — one Python-worker round trip
        # per job — into EVERY query that touches a catalog view.
        # Rows are full dicts by construction (parquet asDict or the
        # typed constructors), aligned by field name.
        from ..plans.localrel import local_df

        return local_df(self.spark, self._catalog[name], SCHEMAS[name])

    def _register_catalog_view(self, name: str) -> None:
        self._catalog_df(name).createOrReplaceTempView(name)

    def _persist_catalog(self, name: str) -> None:
        # Crash-safe swap under self.lock: Spark's mode("overwrite")
        # deletes the live directory BEFORE writing, so a crash mid-write
        # would lose the whole catalog.  Write to a temp dir, then
        # rename-promote (old -> __old, tmp -> live, drop __old); a crash
        # in the tiny no-live window is recovered by _load_catalog's
        # __old fallback.
        path = self._path(name)
        tmp = path + ".__tmp"
        old = path + ".__old"
        shutil.rmtree(tmp, ignore_errors=True)
        df = self._catalog_df(name).coalesce(1)
        df.write.mode("overwrite").parquet(tmp)
        shutil.rmtree(old, ignore_errors=True)
        if os.path.isdir(path):
            os.rename(path, old)
        os.rename(tmp, path)
        shutil.rmtree(old, ignore_errors=True)
        self._register_catalog_view(name)

    def catalog_rows(self, name: str) -> list[dict[str, Any]]:
        with self.lock:
            return [dict(r) for r in self._catalog[name]]

    def find_catalog_row(
        self, name: str, pred
    ) -> Optional[dict[str, Any]]:
        """First row matching ``pred``, copied — the per-event lookup
        path: matching under the lock and copying only the HIT avoids
        deep-copying the whole table per ingest (O(N) dict copies that
        also contend with mutate_catalog's persist)."""
        with self.lock:
            for r in self._catalog[name]:
                if pred(r):
                    return dict(r)
        return None

    def upsert_catalog_row(
        self, name: str, key: dict[str, Any], values: dict[str, Any]
    ) -> dict[str, Any]:
        """Update the row matching every ``key`` column with ``values``,
        or insert one with a fresh ``id``; stamps ``updated_at`` (and
        ``created_at`` on insert).  Returns a copy of the row."""

        def _upsert(rows: list[dict[str, Any]]) -> dict[str, Any]:
            ts = now_utc()
            for row in rows:
                if all(row[k] == v for k, v in key.items()):
                    row.update(values, updated_at=ts)
                    return dict(row)
            row = {"id": new_id(), **key, **values}
            row.update(created_at=ts, updated_at=ts)
            rows.append(row)
            return dict(row)

        return self.mutate_catalog(name, _upsert)

    def mutate_catalog(self, name: str, fn) -> Any:
        """Read-modify-write a catalog table under the store lock.

        ``fn(rows)`` mutates the row list in place and returns a value.
        """
        with self.lock:
            out = fn(self._catalog[name])
            self._persist_catalog(name)
            return out

    # -- event tables (append-only, date-partitioned parquet) ------------
    def _register_event_view(self, name: str) -> None:
        # A FRESH bucketed layout (see bucket_events) takes precedence:
        # reads then satisfy ClusteredDistribution straight off the scan,
        # so joins on the bucket key run with ZERO exchanges.  Any append
        # since the last bucket_events makes the layout stale, and the
        # view falls back to the plain date-partitioned parquet — always
        # correct, just unbucketed until the next maintenance pass.
        key = (id(self.spark), name)
        with self._view_lock:
            spec = self._load_bucket_spec(name)
            if (
                spec is not None
                and spec.get("manifest") == self._event_manifest(name)
                and self.spark.catalog.tableExists(spec["table"])
            ):
                df = self.spark.table(spec["table"]).select(
                    *[f.name for f in SCHEMAS[name].fields]
                )
                df.createOrReplaceTempView(name)
                _PLAIN_VIEWS.pop(key, None)
                return
            # checked BEFORE the frame is built: event_date= dirs are never
            # removed, so files seen here are files the frame lists
            plain = self._has_event_files(name)
            self._plain_event_df(name).createOrReplaceTempView(name)
            if plain:
                _PLAIN_VIEWS[key] = self
            else:
                _PLAIN_VIEWS.pop(key, None)

    def _refresh_event_view(self, name: str) -> None:
        """Make the event view see the files appends just wrote.

        The one view step of both writers.  While this store's plain
        parquet view is the registered one and no bucket spec exists,
        re-list that view's files in place; otherwise rebuild it."""
        with self._view_lock:
            if (
                _PLAIN_VIEWS.get((id(self.spark), name)) is self
                and not os.path.isfile(self._bucket_spec_path(name))
            ):
                self.spark.catalog.refreshTable(name)
                return
        self._register_event_view(name)

    def _has_event_files(self, name: str) -> bool:
        path = self._path(name)
        return os.path.isdir(path) and any(
            f.endswith(".parquet") or f.startswith("event_date=")
            for f in os.listdir(path)
        )

    def _plain_event_df(self, name: str) -> DataFrame:
        path = self._path(name)
        schema = SCHEMAS[name]
        if self._has_event_files(name):
            return (
                self.spark.read.schema(
                    T.StructType(
                        list(schema.fields)
                        + [T.StructField("event_date", T.DateType(), True)]
                    )
                )
                .option("basePath", path)
                .parquet(path)
                .select(*[f.name for f in schema.fields])
            )
        return self.spark.createDataFrame([], schema)

    # -- bucketed event layout (write-time join co-location) -------------
    def _bucket_spec_path(self, name: str) -> str:
        return self._path(name) + ".__bucketspec.json"

    def _bucket_table_name(self, name: str) -> str:
        import hashlib

        tag = hashlib.md5(
            os.path.abspath(self.base_dir).encode()
        ).hexdigest()[:10]
        return f"store_{tag}_{name}_bucketed"

    def _load_bucket_spec(self, name: str) -> Optional[dict[str, Any]]:
        import json

        p = self._bucket_spec_path(name)
        if not os.path.isfile(p):
            return None
        try:
            with open(p) as fh:
                return json.load(fh)
        except Exception as e:
            # an unreadable spec still falls back to the plain view (always
            # correct), but it must not look the same as having no spec
            import sys

            print(
                f"WARNING: bucket spec for {name!r} unreadable at {p}: {e}; "
                f"reading the plain parquet view",
                file=sys.stderr,
            )
            return None

    def _event_files(self, name: str) -> list[str]:
        """Sorted relative paths of every parquet part file."""
        base = self._path(name)
        out: list[str] = []
        if not os.path.isdir(base):
            return out
        for root, _dirs, files in os.walk(base):
            for f in files:
                if f.endswith(".parquet"):
                    out.append(
                        os.path.relpath(os.path.join(root, f), base)
                    )
        return sorted(out)

    def _event_manifest(self, name: str) -> list[list]:
        """``[relpath, size, mtime_ns]`` per part file, sorted — the
        bucketed layout's freshness manifest.  File NAMES alone are not
        enough: ``append_events`` with a ``file_key`` idempotently
        overwrites ``part-<key>.parquet`` IN PLACE, so a retried
        micro-batch landing after ``bucket_events`` snapshotted the
        manifest changes file CONTENTS without changing the file list.
        Size+mtime catches in-place rewrites (an overwrite always
        refreshes mtime even when byte-identical — stale in the SAFE
        direction: the view falls back to plain parquet)."""
        base = self._path(name)
        out: list[list] = []
        for rel in self._event_files(name):
            try:
                st = os.stat(os.path.join(base, rel))
            except OSError:
                continue  # racing unlink: manifest simply won't match
            out.append([rel, st.st_size, st.st_mtime_ns])
        return out

    def bucket_events(
        self, name: str, key_col: str, num_buckets: int = 32
    ) -> int:
        """Maintain a BUCKETED layout of an event table on a declared
        join key (MAINTENANCE-WINDOW operation, like compact_events).

        Rewrites the table's current contents as a managed table
        bucketed+sorted by ``key_col`` (``operators/joins.py::
        write_bucketed``) and records a file manifest.  While the
        manifest matches the on-disk part files, ``table(name)`` and the
        registered view read the BUCKETED table — two event tables
        bucketed on their join keys with the same bucket count join with
        ZERO exchanges on either side (the q5-decomposition answer: the
        fact-to-fact exchange is removable only by layout, so the store
        co-locates at write time).  Any later append makes the layout
        stale and reads fall back to the plain parquet view until the
        next ``bucket_events`` — correctness never depends on layout
        freshness.  The plain date-partitioned files remain the source
        of truth; the bucketed table is a derived layout, like an index.

        Concurrency: an append racing this rewrite is harmless in both
        orders — a file landing before the manifest snapshot is covered
        by the layout; one landing after (or between snapshot and write)
        makes the manifest stale and reads fall back to plain parquet.
        The worst case is a wasted rewrite, never a wrong read.

        Lifetime: bucketing metadata lives in the Spark CATALOG, so the
        layout serves reads for as long as the metastore does — the
        whole session with the default in-memory catalog (a re-opened
        TableStore in the same session keeps the routing), across
        restarts with a persistent (Hive) metastore as on a real
        cluster.  A fresh in-memory-catalog session simply falls back
        to plain parquet until the next maintenance pass — stale-safe
        by the same ``tableExists`` check that guards everything else.

        Returns the number of part files the layout covers.
        """
        import json

        if name not in _EVENT_TABLES:
            raise ValueError(f"not an event table: {name}")
        if key_col not in {f.name for f in SCHEMAS[name].fields}:
            raise ValueError(f"{key_col!r} is not a column of {name}")
        from ..operators.joins import write_bucketed

        with self.lock:
            manifest = self._event_manifest(name)
            tbl = self._bucket_table_name(name)
            write_bucketed(
                self._plain_event_df(name),
                tbl,
                [key_col],
                num_buckets,
                [key_col],
            )
            spec = {
                "table": tbl,
                "key": key_col,
                "num_buckets": num_buckets,
                "manifest": manifest,
                "rows": self._manifest_rows(name, manifest),
            }
            with open(self._bucket_spec_path(name), "w") as fh:
                json.dump(spec, fh)
            self._register_event_view(name)
        return len(manifest)

    def _manifest_rows(self, name: str, manifest: list[list]) -> int:
        """Total rows across the manifest's part files, summed from
        parquet FOOTERS (driver-side metadata reads, no Spark job —
        same routing trick as the ranks/near-dup metadata devices)."""
        import pyarrow.parquet as pq

        base = self._path(name)
        total = 0
        for rel, _size, _mtime in manifest:
            try:
                total += pq.read_metadata(os.path.join(base, rel)).num_rows
            except Exception:
                pass  # unreadable footer: undercount — triggers EARLIER
        return total

    def maintain_bucketed_layout(
        self,
        name: str,
        *,
        max_stale_files: int = 16,
        max_stale_rows_frac: float = 0.10,
    ) -> bool:
        """Re-bucket an event table's layout if appends since the last
        ``bucket_events`` crossed a staleness threshold (the maintenance
        POLICY over the manual mechanism).

        Appends silently degrade reads to plain parquet (stale-safe) —
        this is the trigger that restores the zero-exchange layout: when
        ≥ ``max_stale_files`` part files are new/changed/removed versus
        the manifest, OR the new/changed files carry ≥
        ``max_stale_rows_frac`` of the bucketed row count, rerun
        ``bucket_events`` with the spec's recorded key and bucket count.
        Below threshold the (cheap: os.stat walk + parquet footers, no
        Spark job) check is a no-op, so callers can invoke it from any
        maintenance pass — ``compact_events`` does.  Returns True iff
        the layout was rebuilt.
        """
        spec = self._load_bucket_spec(name)
        if spec is None or "manifest" not in spec:
            return False
        current = self._event_manifest(name)
        if current == spec["manifest"]:
            return False
        old = {rel: (size, mt) for rel, size, mt in spec["manifest"]}
        cur = {rel: (size, mt) for rel, size, mt in current}
        changed = [
            [rel, *meta] for rel, meta in cur.items() if old.get(rel) != meta
        ]
        removed = len(set(old) - set(cur))
        base_rows = max(int(spec.get("rows") or 0), 1)
        stale_rows = self._manifest_rows(name, changed)
        if (
            len(changed) + removed >= max_stale_files
            or removed  # compaction/replay rewrote history: always rebuild
            or stale_rows / base_rows >= max_stale_rows_frac
        ):
            self.bucket_events(name, spec["key"], spec["num_buckets"])
            return True
        return False

    def append_events(
        self, name: str, rows: list[dict[str, Any]], file_key: str | None = None
    ) -> None:
        """Append driver-side audit rows.

        Writes via pyarrow straight into the date-partitioned directory
        layout instead of launching a Spark job (~2 s), then refreshes the
        event view in place (see the class docstring): a 1-row
        ingest-ack append costs about 5-10 ms on a 4-core host, of which
        the parquet write is about 0.5 ms and the view refresh the rest
        (the reference acks after a synchronous INSERT,
        src/app.py:1101-1111 — this keeps that latency contract).  Spark
        reads the files identically (hive-style event_date= dirs).

        ``file_key`` makes the append IDEMPOTENT: the parquet file name is
        derived from it (per date partition), so re-running the same append
        — e.g. a retried streaming micro-batch — overwrites its own earlier
        partial output instead of duplicating rows.  Before writing, every
        file an earlier attempt of this key left in OTHER date partitions
        (or under the distributed writer's naming) is dropped — same
        cross-midnight / cross-writer guard as the staged-promote path.
        """
        if name not in _EVENT_TABLES:
            raise ValueError(f"not an event table: {name}")
        if not rows:
            return
        if file_key is not None:
            # own scheme only — the distributed writer may have just
            # written this batch's other rows under part-<key>-NNNNN
            self._drop_key_files(name, file_key, distributed_scheme=False)
        import pyarrow as pa
        import pyarrow.parquet as pq

        schema = pa.schema(
            [(f.name, arrow_type(f.dataType)) for f in SCHEMAS[name].fields]
        )

        by_date: dict[str, list[dict[str, Any]]] = {}
        for row in rows:
            by_date.setdefault(row["timestamp"].date().isoformat(), []).append(row)
        for date_str, date_rows in by_date.items():
            part_dir = os.path.join(self._path(name), f"event_date={date_str}")
            os.makedirs(part_dir, exist_ok=True)
            cols = {
                f.name: [r.get(f.name) for r in date_rows] for f in SCHEMAS[name].fields
            }
            table = pa.Table.from_pydict(cols, schema=schema)
            fname = (
                f"part-{file_key}.parquet"
                if file_key is not None
                else f"part-{uuid.uuid4().hex}.parquet"
            )
            pq.write_table(table, os.path.join(part_dir, fname))
        self._refresh_event_view(name)

    def append_events_df(
        self, name: str, df: DataFrame, file_key: str | None = None
    ) -> None:
        """Append a pre-built DataFrame of audit rows (streaming path —
        stays distributed; no driver collection).

        With ``file_key`` the append is IDEMPOTENT, mirroring
        :meth:`append_events`'s batch-keyed overwrite for the distributed
        writer: the job writes to a per-key staging directory with
        ``mode("overwrite")`` (a replayed micro-batch overwrites its own
        earlier partial staging output), then the staged files are
        promoted into the ``event_date=`` layout under deterministic
        ``part-<file_key>-<seq>`` names — after first dropping any files
        a previous partial promote of the same key left behind.  The
        promote step is driver-side file RENAMES only (metadata ops); row
        data never passes through the driver.
        """
        if name not in _EVENT_TABLES:
            raise ValueError(f"not an event table: {name}")
        out = df.select(
            *[F.col(f.name).cast(f.dataType) for f in SCHEMAS[name].fields]
        ).withColumn("event_date", F.to_date("timestamp"))
        if file_key is None:
            out.write.mode("append").partitionBy("event_date").parquet(
                self._path(name)
            )
        else:
            staging = os.path.join(self.base_dir, "_staging", name, file_key)
            out.write.mode("overwrite").partitionBy("event_date").parquet(
                staging
            )
            self._promote_staged(name, staging, file_key)
        self._refresh_event_view(name)

    def _drop_key_files(
        self,
        name: str,
        file_key: str,
        driver_scheme: bool = True,
        distributed_scheme: bool = True,
    ) -> None:
        """Remove files a previous attempt of batch ``file_key`` left,
        across ALL date partitions — a replayed batch can land rows in
        different partitions than its first attempt (clock tick across
        midnight between attempts).  Scheme flags select which writer's
        naming to drop (driver ``part-<key>.parquet`` / distributed
        ``part-<key>-NNNNN.parquet``): each WRITER cleans only its own
        scheme (the two run back-to-back for the same batch, so cleaning
        both here would delete the sibling writer's fresh output);
        :meth:`drop_batch_files` cleans both and is for batch REPLAY
        boundaries, before any writer has run."""
        table_dir = self._path(name)
        if not os.path.isdir(table_dir):
            return
        exact = f"part-{file_key}.parquet"
        prefix = f"part-{file_key}-"
        for dpart in os.listdir(table_dir):
            pdir = os.path.join(table_dir, dpart)
            if not dpart.startswith("event_date=") or not os.path.isdir(
                pdir
            ):
                continue
            for f in os.listdir(pdir):
                if (driver_scheme and f == exact) or (
                    distributed_scheme and f.startswith(prefix)
                ):
                    os.unlink(os.path.join(pdir, f))

    def drop_batch_files(self, name: str, file_key: str) -> None:
        """Drop every file ANY writer's earlier attempt of this batch key
        left (both naming schemes, all date partitions).  Call at a batch
        REPLAY boundary before re-running its writers — covers an attempt
        that used a different writer (e.g. a group that fell back to the
        per-event driver path on retry)."""
        self._drop_key_files(name, file_key)

    def _promote_staged(self, name: str, staging: str, file_key: str) -> None:
        table_dir = self._path(name)
        # drop leftovers of an earlier attempt's DISTRIBUTED writes only
        # (the driver writer's same-key file belongs to the same batch)
        self._drop_key_files(name, file_key, driver_scheme=False)
        for dpart in sorted(os.listdir(staging)):
            sdir = os.path.join(staging, dpart)
            if not dpart.startswith("event_date=") or not os.path.isdir(sdir):
                continue
            tdir = os.path.join(table_dir, dpart)
            os.makedirs(tdir, exist_ok=True)
            files = sorted(
                f for f in os.listdir(sdir) if f.endswith(".parquet")
            )
            for i, f in enumerate(files):
                os.replace(
                    os.path.join(sdir, f),
                    os.path.join(tdir, f"part-{file_key}-{i:05d}.parquet"),
                )
        shutil.rmtree(staging, ignore_errors=True)

    def compact_events(self, name: str, max_files_per_partition: int = 1) -> int:
        """Compact an event table's date partitions (small-files problem).

        MAINTENANCE-WINDOW operation: the rewrite unlinks the source part
        files, which invalidates any still-unexecuted LAZY DataFrame over
        this table (e.g. the frame ``Gateway.replay`` hands back) and any
        concurrently executing scan — the store lock serializes mutators,
        not readers.  File-level parquet has no snapshot isolation;
        run compaction when no long-lived readers are outstanding (a
        table format like Delta/Iceberg lifts this at cluster scale).

        Per-event ingestion writes one small parquet file per append — the
        classic streaming-sink pathology: at 10k events/day a month of
        audit log is 300k files and every scan pays 300k opens.  This
        rewrites each ``event_date=`` partition that exceeds
        ``max_files_per_partition`` into a single file (read-concat-write
        via pyarrow, then swap under the store lock).  Returns the number
        of partitions compacted.

        At cluster scale the same operation is a per-partition Spark job
        (``coalesce(1)`` per date into a staging dir + atomic move); the
        driver-side pyarrow path is right for the single-writer store
        where a day of audit rows fits in memory by construction.
        """
        if name not in _EVENT_TABLES:
            raise ValueError(f"not an event table: {name}")
        import pyarrow.parquet as pq
        import pyarrow as pa

        base = self._path(name)
        if not os.path.isdir(base):
            return 0
        compacted = 0
        with self.lock:
            for part in sorted(os.listdir(base)):
                part_dir = os.path.join(base, part)
                if not (part.startswith("event_date=") and os.path.isdir(part_dir)):
                    continue
                files = sorted(
                    f for f in os.listdir(part_dir) if f.endswith(".parquet")
                )
                if len(files) <= max_files_per_partition:
                    continue
                tables = [
                    pq.read_table(os.path.join(part_dir, f)) for f in files
                ]
                merged = pa.concat_tables(tables, promote_options="default")
                new_file = os.path.join(
                    part_dir, f"compacted-{uuid.uuid4().hex}.parquet"
                )
                pq.write_table(merged, new_file)
                for f in files:
                    os.unlink(os.path.join(part_dir, f))
                compacted += 1
            self._register_event_view(name)
        if compacted:
            # Compaction rewrote part files, so any bucketed layout just
            # went stale; this maintenance window is the right time to
            # restore it (outside the lock — bucket_events re-acquires).
            self.maintain_bucketed_layout(name)
        return compacted

    def table(self, name: str) -> DataFrame:
        return self.spark.table(name)

    def refresh(self) -> None:
        for name in _CATALOG_TABLES:
            self._register_catalog_view(name)
        for name in _EVENT_TABLES:
            self._register_event_view(name)
