"""The driver contract must work under a SparkSession the DRIVER builds —
none of our session.py defaults can be assumed (the nanos-timestamp conf
in particular is load-bearing for the events table)."""

from __future__ import annotations

import os
import subprocess
import sys
import tempfile

from duckdb_webhook_gateway_spark.session import session_conf

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SCRIPT = r"""
import sys
sys.path.insert(0, "/root/repo")
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[4]").appName("vanilla")
         .config("spark.ui.enabled", "false").getOrCreate())
import __spark_entry__ as e
assert e.entry(spark).count() > 0
qs = e.queries()
assert qs["events_json_bucket"](spark, "/root/testdata/sf0.001").count() > 0
assert qs["events_recent_topk"](spark, "/root/testdata/sf0.001").count() > 0
# TIMESTAMP_NTZ regression: a vanilla Spark 4 session reads the naive
# parquet ts as NTZ (inferTimestampNTZ on), which unix_micros rejects —
# every epoch-arithmetic query must run under that dtype (functions.epoch_us).
ts_type = dict(spark.read.parquet("/root/testdata/sf0.001/events.parquet").dtypes)["ts"]
assert ts_type == "timestamp_ntz", ts_type
for q in ("events_sessionize", "events_cohort_retention", "events_asof_attribution",
          "events_hopping_windows", "events_hourly_gapfill",
          "events_markov_transitions", "events_range_join"):
    assert qs[q](spark, "/root/testdata/sf0.001").count() > 0, q
print("VANILLA_OK")
"""


def test_driver_contract_under_vanilla_session():
    out = subprocess.run(
        [sys.executable, "-c", _SCRIPT],
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert "VANILLA_OK" in out.stdout, out.stderr[-2000:]


def test_session_defaults_pin_utc_timezone(spark):
    """The LTZ->NTZ wall-clock recovery (functions.epoch_us, the
    streaming replay bridges) matches the DuckDB oracle's naive
    timestamps only under a UTC session timezone — session.py pins it
    so the contract is host-independent (ADVICE r11)."""
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"


def test_worker_path_keeps_caller_entries():
    """A caller's worker PYTHONPATH is kept; the package root follows it."""
    conf = session_conf({"spark.executorEnv.PYTHONPATH": "/opt/extra"})
    assert conf["spark.executorEnv.PYTHONPATH"] == os.pathsep.join(("/opt/extra", _REPO))
    assert session_conf({})["spark.executorEnv.PYTHONPATH"] == _REPO
    assert session_conf({})["spark.python.daemon.module"] == (
        "duckdb_webhook_gateway_spark.pyworker"
    )


def test_python_workers_keep_zip_importers(spark):
    """get_spark's daemon module (pyworker.py) makes every zip importer in
    a Python worker keep its directory table across the
    ``importlib.invalidate_caches()`` that PySpark runs at the start of
    each task; the stock importer re-reads its whole archive there."""
    from pyspark.sql import functions as F

    def probe(_):
        import importlib
        import sys
        import zipimport

        zips = {
            entry: finder
            for entry, finder in sys.path_importer_cache.items()
            if isinstance(finder, zipimport.zipimporter)
        }
        tables = {entry: finder._files for entry, finder in zips.items()}
        importlib.invalidate_caches()
        return [
            (
                entry,
                type(finder) is zipimport.zipimporter,
                sys.path_importer_cache[entry]._files is tables[entry],
            )
            for entry, finder in zips.items()
        ]

    rtype = "array<struct<entry:string,plain:boolean,kept:boolean>>"
    importers = spark.range(1).select(F.udf(probe, rtype)("id").alias("r")).first().r
    assert importers, "the worker reported no zip importers"
    assert not [i.entry for i in importers if i.plain], importers
    assert not [i.entry for i in importers if not i.kept], importers


_ANY_CWD_SCRIPT = r"""
import sys
sys.path.insert(0, sys.argv[1])
from duckdb_webhook_gateway_spark import get_spark
from duckdb_webhook_gateway_spark.engine import Gateway, WebhookConfig
from duckdb_webhook_gateway_spark.engine.udfs import udf_full_name
from duckdb_webhook_gateway_spark.streaming import StreamingGateway

spark = get_spark("any-cwd", **{"spark.sql.warehouse.dir": sys.argv[2] + "/warehouse"})
gw = Gateway(spark, workdir=sys.argv[2] + "/store")

def config(path, transform):
    return WebhookConfig(source_path=path, destination_url="http://example.com/x",
                         transform_query=transform)

rec = gw.register_webhook(config("/udf", "SELECT 1 AS one FROM {{payload}}"))
gw.udfs.register(rec["id"], "shout", "def shout(x: str) -> str:\n    return x.upper() + '!'\n")
name = udf_full_name(rec["id"], "shout")
gw.catalog.update(rec["id"], config("/udf", f"SELECT {name}(word) AS loud FROM {{{{payload}}}}"))
assert gw.ingest("/udf", {"word": "hey"}).transformed == {"loud": "HEY!"}

gw.register_webhook(config("/stream", "SELECT kind, value * 2 AS doubled FROM {{payload}}"))
sg = StreamingGateway(gw)
ids = [sg.ingest("/stream", {"kind": "a", "value": i}) for i in range(5)]
sg.run_available()
got = {r.raw_event_id for r in spark.sql("SELECT raw_event_id FROM transformed_events").collect()}
assert set(ids) <= got, (ids, got)
print("ANY_CWD_OK")
"""


def test_engine_runs_from_any_cwd_without_pythonpath(tmp_path):
    """Python workers import this package (the streaming drain's shaping
    functions live in it) even when only the driver's ``sys.path`` can
    find it: get_spark puts the package root on the workers' path."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", _ANY_CWD_SCRIPT, _REPO, str(tmp_path)],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=tempfile.gettempdir(),
        env=env,
    )
    assert "ANY_CWD_OK" in out.stdout, out.stderr[-3000:]
