"""SparkSession factory tuned for this engine.

The reference runs one embedded DuckDB connection per process
(reference: src/app.py:84-94).  The Spark analogue is one long-lived
SparkSession per process; all engine components share it.

Scale posture: these configs are chosen so the same logical plans run
unchanged on a real cluster — AQE handles runtime re-planning (partition
coalescing, skew joins), broadcast thresholds let Catalyst collapse
dimension joins, and Arrow keeps any Python-side exchange vectorized.
On a 1000-executor cluster only ``master`` and the shuffle-partition
count change (set ``SPARK_GRAFT_SHUFFLE_PARTITIONS`` ≈ 2-3× total cores).

Python workers talk to the JVM over a Unix domain socket, not loopback
TCP.  Spark reuses one TCP connection per worker across tasks and sets no
``TCP_NODELAY`` on it, so a task's input rows, written after its command,
wait out Nagle against the worker's delayed ACK: ~40 ms of a one-row
Python-UDF task's ~47 ms run time (4 cores, Spark 4.1); over the socket
the task runs in ~5 ms.  The socket directory is short and private:
PySpark appends ``/.<uuid4>.sock`` (43 bytes) to it and ``sun_path``
holds 107, so Spark's default (``java.io.tmpdir``, which may sit deep in
a checkout) can fail session start with ``AF_UNIX path too long``; and in
this mode the worker daemon takes a connection as authenticated without
the secret, so the directory's 0700 mode is the access control.  On a
cluster the driver's directory does not exist on the executor hosts, so
it is set for ``local`` masters only; executors then use their own
``java.io.tmpdir``.
"""

from __future__ import annotations

import atexit
import functools
import os
import shutil
import tempfile

from pyspark.sql import SparkSession

_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_WORKER_PATH = "spark.executorEnv.PYTHONPATH"
_UDS = "spark.python.unix.domain.socket.enabled"
_UDS_DIR = "spark.python.unix.domain.socket.dir"

_DEFAULTS: dict[str, str] = {
    # Runtime re-planning: coalesce small shuffles, split skewed partitions.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Dimension tables (region/nation/customer/ref_* lookups) stay far under
    # this; Catalyst then picks broadcast-hash joins with no shuffle.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Arrow for every pandas/Python exchange (pandas UDFs, toPandas).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # The oracle (DuckDB) computes on NAIVE wall-clock timestamps; the
    # engine recovers that by casting LTZ -> timestamp_ntz (functions
    # .epoch_us, streaming/aggregates.py replay bridges).  That cast is
    # session-timezone-dependent, so pin UTC or a non-UTC host would
    # silently shift every day/hour grouping away from the oracle's
    # CAST(ts AS DATE).  Clusters must keep this pin too — it is part
    # of the engine's determinism contract, not a test convenience.
    "spark.sql.session.timeZone": "UTC",
    # Parquet scans: vectorized reader + pushdown are on by default in
    # Spark 4; pinned here because the engine depends on them for scale.
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.enableVectorizedReader": "true",
    # Partition sizing for the local test harness; production overrides via
    # SPARK_GRAFT_SHUFFLE_PARTITIONS (AQE coalesces the excess anyway).
    "spark.sql.shuffle.partitions": os.environ.get(
        "SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"
    ),
    "spark.sql.files.maxPartitionBytes": "134217728",
    # InferFiltersFromGenerate turns explode(expensive_expr) into a pushed
    # Filter(size(expensive_expr) > 0 AND isnotnull(...)) whose alias
    # substitution re-inlines the generator expression — for the dedup/text
    # operators that explode transform(...) shingle/token arrays, split()
    # gets re-evaluated PER ARRAY ELEMENT inside the scan filter (measured
    # 4-7× whole-query slowdowns at sf0.1).  The rule only prunes rows
    # whose generator array is empty, and every generator in this engine
    # explodes arrays already guarded non-empty upstream, so exclusion is
    # pure win at any scale.
    "spark.sql.optimizer.excludedRules": (
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
    ),
    # The driver's events.parquet stores TIMESTAMP(NANOS); Spark reads it
    # as a LongType of nanos under this flag (sources/files.py converts it
    # back to a microsecond timestamp explicitly).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.ui.enabled": "false",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEMORY", "8g"),
    # Python workers fork from pyworker.py, which stops every task from
    # re-reading Spark's zip archives (120-240 ms of fixed cost per Python
    # task on CPython 3.11; the module docstring says why that is safe).
    # The daemon module and the package root on the workers' path are
    # constants, not options: no environment variable changes them.  The
    # path entry also lets workers import this package whatever the
    # caller's cwd or PYTHONPATH: the streaming drain's shaping functions
    # are pickled by reference to it.  Caller ``overrides`` still win as
    # for every other default; a caller's worker PYTHONPATH is kept, with
    # the package root appended (session_conf).
    "spark.python.daemon.module": "duckdb_webhook_gateway_spark.pyworker",
    _WORKER_PATH: _PACKAGE_ROOT,
    # Python workers over a Unix domain socket: no Nagle/delayed-ACK
    # stall per task (module docstring).  session_conf adds the socket
    # directory.
    _UDS: "true",
}


def get_spark(app_name: str = "webhook-gateway-spark", **overrides: str) -> SparkSession:
    """Return the shared SparkSession, creating it if needed.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (falls back to
    ``local[*]``); on a cluster, leave master unset in the environment and
    pass it through ``overrides`` or spark-submit.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]" if cpus else "local[*]")
    builder = SparkSession.builder.appName(app_name).master(master)
    for k, v in session_conf(overrides, master).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    return spark


def session_conf(overrides: dict[str, str], master: str = "local[*]") -> dict[str, str]:
    """The engine's defaults with the caller's ``overrides`` applied.  A
    ``local`` master with the Unix-socket channel on gets this process's
    private socket directory unless the caller names one."""
    conf = {**_DEFAULTS, **overrides}
    if overrides.get(_WORKER_PATH):
        conf[_WORKER_PATH] = os.pathsep.join((overrides[_WORKER_PATH], _PACKAGE_ROOT))
    if master.startswith("local") and conf[_UDS].lower() == "true" and _UDS_DIR not in conf:
        conf[_UDS_DIR] = _socket_dir()
    return conf


@functools.cache
def _socket_dir() -> str:
    """A short, private (mode 0700) directory for this process's Python
    worker sockets, under ``/tmp`` whatever ``TMPDIR`` says; removed at
    interpreter exit."""
    path = tempfile.mkdtemp(prefix="pyuds-", dir="/tmp")
    atexit.register(shutil.rmtree, path, True)
    return path


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
