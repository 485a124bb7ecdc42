"""Process set-up, statistics and Spark work counters for the benchmark.

Nothing here imports the engine or pyspark at module import time: the
unit tests import this module without a JVM, and ``run.py`` must fix the
environment (PYTHONPATH, SPARK_LOCAL_DIRS, TMPDIR) before Spark starts.
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from dataclasses import dataclass, field

# Tail percentiles a timing may be reported at, lowest first.  The rule:
# besides the median, report the highest one with at least MIN_TAIL
# samples beyond it, so a tail figure never rests on a handful of samples.
TAIL_LADDER = (90, 95, 99, 99.9)
MIN_TAIL = 10


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``p``
    percent of the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    ordered = sorted(values)
    return ordered[_rank(len(ordered), p) - 1]


def _rank(n: int, p: float) -> int:
    return max(1, math.ceil(round(p / 100.0 * n, 9)))


def beyond(n: int, p: float) -> int:
    """How many of ``n`` samples lie above the nearest-rank ``p``."""
    return n - _rank(n, p)


def tail_percentile(n: int) -> float | None:
    """Highest ladder percentile with ``MIN_TAIL`` samples beyond it."""
    best = None
    for p in TAIL_LADDER:
        if beyond(n, p) >= MIN_TAIL:
            best = p
    return best


def median(values: list[float]) -> float:
    return statistics.median(values)


def mix_latency(samples: dict[str, list[float]], shares: dict[str, float]) -> float:
    """Typical latency of a mix of operation classes: each class's median,
    weighted by the class's share of the mix.  A percentile over the
    pooled samples would sit wherever the class boundaries fall; this
    moves only when some class gets slower or faster."""
    present = [c for c in shares if samples.get(c)]
    if not present:
        raise ValueError("no samples in any class of the mix")
    total = sum(shares[c] for c in present)
    return sum(shares[c] * median(samples[c]) for c in present) / total


@dataclass
class Metric:
    name: str
    value: float
    unit: str
    samples: int

    def line(self) -> str:
        return f"metric {self.name} = {self.value:.6g} {self.unit} (n={self.samples})"


def timings(prefix: str, values_s: list[float]) -> list[Metric]:
    """Median and reportable tail of latency samples, in ms."""
    n = len(values_s)
    out = [Metric(f"{prefix}_p50_ms", median(values_s) * 1000.0, "ms", n)]
    tail = tail_percentile(n)
    if tail is not None:
        out.append(Metric(f"{prefix}_p{tail:g}_ms", percentile(values_s, tail) * 1000.0, "ms", n))
    return out


# -- environment --------------------------------------------------------


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def host_stamp(seed: int) -> dict:
    with open("/proc/loadavg") as fh:
        load1 = float(fh.read().split()[0])
    return {
        "seed": seed,
        "nproc": nproc(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "loadavg_1m": load1,
    }


@dataclass
class RunDirs:
    """Fresh per-run scratch space under the checkout, removed at exit."""

    root: str
    spark_local: str = field(init=False)
    tmp: str = field(init=False)
    warehouse: str = field(init=False)

    def __post_init__(self) -> None:
        self.spark_local = os.path.join(self.root, "spark-local")
        self.tmp = os.path.join(self.root, "tmp")
        self.warehouse = os.path.join(self.root, "warehouse")
        for d in (self.spark_local, self.tmp, self.warehouse):
            os.makedirs(d)

    def store(self, name: str) -> str:
        path = os.path.join(self.root, "stores", name)
        os.makedirs(path)
        return path

    def remove(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(self.root))  # only when no other run uses it
        except OSError:
            pass


def configure_env(repo_root: str, dirs: RunDirs) -> None:
    """Environment Spark and its Python workers inherit.  Must run before
    the JVM starts."""
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = repo_root + (os.pathsep + path if path else "")
    os.environ["SPARK_LOCAL_DIRS"] = dirs.spark_local
    os.environ["TMPDIR"] = dirs.tmp
    # The session is always local[nproc]; everything else is the
    # engine's own default.
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ.pop("SPARK_GRAFT_DRIVER_MEMORY", None)
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    os.environ.pop("SPARK_GRAFT_SHUFFLE_PARTITIONS", None)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    tempfile.tempdir = dirs.tmp


def start_spark(dirs: RunDirs):
    from duckdb_webhook_gateway_spark import get_spark

    spark = get_spark(
        "perfbench",
        **{
            "spark.sql.warehouse.dir": dirs.warehouse,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={dirs.tmp}",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is None:
        return
    if proc.stdin is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)


# -- spark work counters ------------------------------------------------


@dataclass
class Work:
    jobs: int = 0
    tasks: int = 0
    shuffle_mb: float = 0.0


class SparkWork:
    """Reads what a tagged piece of work cost Spark.

    Callers tag work with ``sc.setJobGroup`` (``begin``/``end``), or let
    Structured Streaming tag it with the query's run id.  Jobs started on
    helper threads carry no group, so ``jobs_of`` also claims the
    ungrouped jobs that appeared since the last ``mark``.  Per-stage
    figures come from the status store (``lastStageAttempt``), which is
    filled asynchronously: ``collect`` first waits for the listener bus
    to drain.
    """

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.jsc = self.sc._jsc.sc()
        self._n = 0
        self.mark()

    def mark(self) -> None:
        self._ungrouped = set(self.tracker.getJobIdsForGroup(None))

    def begin(self, label: str) -> str:
        self.mark()
        self._n += 1
        group = f"perfbench-{self._n}-{label}"
        self.sc.setJobGroup(group, label)
        return group

    def end(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def jobs_of(self, group: str) -> list[int]:
        ids = set(self.tracker.getJobIdsForGroup(group))
        ids |= set(self.tracker.getJobIdsForGroup(None)) - self._ungrouped
        return sorted(ids)

    def collect(self, job_ids: list[int]) -> Work:
        from py4j.protocol import Py4JJavaError

        self.jsc.listenerBus().waitUntilEmpty(30000)
        store = self.jsc.statusStore()
        work = Work(jobs=len(job_ids))
        for jid in job_ids:
            info = self.tracker.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                try:
                    st = store.lastStageAttempt(sid)
                except Py4JJavaError:
                    continue  # never submitted: a reused shuffle replaced it
                work.tasks += st.numCompleteTasks()
                work.shuffle_mb += (
                    st.shuffleReadBytes() + st.shuffleWriteBytes()
                ) / 1e6
        return work


class Spans:
    """Per-name durations of spans recorded around calls into a layer."""

    def __init__(self) -> None:
        self.durations: dict[str, list[float]] = {}

    def add(self, name: str, seconds: float) -> None:
        self.durations.setdefault(name, []).append(seconds)

    def time(self, name: str, fn, *args, **kwargs):
        t0 = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            self.add(name, time.perf_counter() - t0)

    def median_ms(self, name: str) -> float:
        vals = self.durations.get(name)
        return median(vals) * 1000.0 if vals else 0.0
