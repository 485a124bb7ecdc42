"""Benchmark of the webhook engine's gateway paths.

Usage, from the repository root:

    python3 perfbench/run.py --workload sync_ingest --seed 1 --seconds 8 --trace 0

Workloads (BENCHMARK.json says why each exists):

- ``sync_ingest``  ``Gateway.ingest`` of flat, list and enrichment events;
- ``stream_drain`` ``StreamingGateway.ingest_many`` + ``run_available``;
- ``store_reads``  ``stats``, ``recent_events``, ``event_detail`` and
  ``run_adhoc_query`` over a seeded store, with interleaved ingests.

Each run is one process with one caller thread (a closed loop) and its
own Spark session, ``local[nproc]``, in a fresh scratch directory under
``.perfbench_work/`` that it deletes before exiting.

End-to-end metrics, printed for every workload:

- ``setup_s``       process start to session ready, plus the median of
  three fresh store set-ups, plus warm-up;
- ``op_latency_ms`` the median latency of each class of operation in the
  workload's mix, weighted by the class's share: flat, list and
  enrichment ingests (6:2:2); one event from its landing ack to the end
  of the drain that audits it; stats, feed, detail and query reads
  (1:1:1:1).

Lines starting with ``metric`` also give ``ops_per_s`` (operations
completed per second of measured time), the workload's own figures with
their sample counts, and ``error_rate``: failed checks over attempted
ones.  With one caller thread, ``ops_per_s`` follows from the latencies,
so it is printed but not declared in BENCHMARK.json.  The last line is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics, or with ``--trace 1`` the per-layer ones).
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "duckdb_webhook_gateway_spark"

from harness import (  # noqa: E402
    Metric,
    RunDirs,
    configure_env,
    host_stamp,
    mix_latency,
    start_spark,
    stop_spark,
)

WORKLOADS = ("sync_ingest", "stream_drain", "store_reads")

END_TO_END = {"setup_s": "s", "op_latency_ms": "ms"}

# Every traced run prints all of these; a layer a workload does not
# touch reads 0.
PER_LAYER = {
    # sync_ingest: the spans of Gateway.ingest
    "catalog.lookup_ms": "ms",
    "audit.raw_ms": "ms",
    "udfs.load_ms": "ms",
    "executors.event_ms": "ms",
    "delivery.deliver_ms": "ms",
    "audit.transformed_ms": "ms",
    "executors.jobs_per_event": "count",
    "store.files_per_event": "count",
    "trace.span_shortfall_ms": "ms",
    "trace.overhead_ms": "ms",
    # stream_drain
    "stream.add_batch_ms": "ms",
    "stream.get_batch_ms": "ms",
    "stream.wal_commit_ms": "ms",
    "stream.batches_per_drain": "count",
    "stream.jobs_per_drain": "count",
    "stream.tasks_per_drain": "count",
    "stream.shuffle_mb_per_drain": "MB",
    "stream.landing_write_ms": "ms",
    "store.files_per_drain": "count",
    # store_reads
    "store.scan_files": "count",
    **{
        f"reads.{op}.{what}": "count"
        for op in ("stats", "feed", "detail", "query")
        for what in ("jobs", "tasks")
    },
    "guard.check_ms": "ms",
    "reads.ingest_p50_ms": "ms",
}


def run_workload(name: str, *args):
    import workloads

    return getattr(workloads, name)(*args)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def end_to_end(setup_s: float, out) -> list[Metric]:
    return [
        Metric("setup_s", setup_s, "s", 1),
        Metric("op_latency_ms", mix_latency(out.op_s, out.shares) * 1000.0, "ms", out.samples()),
    ]


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ beside perfbench/; run from a checkout", file=sys.stderr)
        return 2
    dirs = RunDirs(os.path.join(ROOT, ".perfbench_work", f"{os.getpid()}-{time.time_ns()}"))
    try:
        configure_env(ROOT, dirs)
        sys.path.insert(0, ROOT)
        stamp = host_stamp(args.seed)
        spark = start_spark(dirs)
        session_s = time.perf_counter() - T_START
        try:
            out = run_workload(args.workload, spark, dirs, args.seed, args.seconds, bool(args.trace))
        finally:
            stop_spark(spark)
    finally:
        dirs.remove()

    stamp["loadavg_1m_end"] = host_stamp(args.seed)["loadavg_1m"]
    print(f"stamp {json.dumps(stamp, sort_keys=True)}")
    print(f"workload {args.workload} trace={args.trace} session_s={session_s:.3f}")
    for note in out.notes:
        print(note)
    e2e = end_to_end(session_s + out.setup_s, out)
    error_rate = out.failed / out.attempted
    throughput = Metric("ops_per_s", out.ops / out.window_s, "1/s", out.ops)
    for m in e2e + [throughput] + out.details:
        print(m.line())
    print(f"metric error_rate = {error_rate:.6g} ratio (n={out.attempted})")
    if args.trace:
        metrics = {
            name: {"value": out.layers.get(name, 0.0), "unit": unit}
            for name, unit in PER_LAYER.items()
        }
    else:
        metrics = {m.name: {"value": m.value, "unit": m.unit} for m in e2e}
    print(
        json.dumps(
            {
                "correct": out.failed == 0,
                "attempted": out.attempted,
                "failed": out.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
