"""The benchmark's own tests; they need no Spark session.

Run from the repository root: ``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import json
import os
import sys
from types import SimpleNamespace

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import harness  # noqa: E402
import inputs  # noqa: E402
import run  # noqa: E402


def bench_json() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        return json.load(fh)


# -- the percentile rule ------------------------------------------------


@pytest.mark.parametrize(
    "n, tail",
    [(1, None), (19, None), (99, None), (100, 90), (199, 90), (200, 95), (1000, 99), (10_000, 99.9)],
)
def test_tail_percentile_needs_ten_samples_beyond_it(n, tail):
    assert harness.tail_percentile(n) == tail


def test_nearest_rank_percentile():
    values = [float(v) for v in range(1, 101)]
    assert harness.percentile(values, 50) == 50.0
    assert harness.percentile(values, 90) == 90.0
    assert harness.beyond(100, 90) == 10
    assert harness.percentile([3.0], 99) == 3.0


def test_mix_latency_weights_each_class_median_by_its_share():
    samples = {"fast": [0.1, 0.1, 0.9], "slow": [0.5, 0.4, 0.6]}
    assert harness.mix_latency(samples, {"fast": 0.75, "slow": 0.25}) == pytest.approx(0.2)
    # a class with no samples in the window drops out, and the rest renormalise
    assert harness.mix_latency({"fast": [0.1]}, {"fast": 0.6, "slow": 0.4}) == pytest.approx(0.1)
    with pytest.raises(ValueError):
        harness.mix_latency({}, {"fast": 1.0})


def test_window_sample_counts_give_no_tail_figure():
    # An 8 s window holds about 30-40 untraced sync ingests and 20-30
    # reads: below the 100 samples a p90 needs, so only the median prints.
    for n in (25, 50, 99):
        assert [m.name for m in harness.timings("ingest", [0.1] * n)] == ["ingest_p50_ms"]


def test_timings_report_median_and_reportable_tail_with_sample_count():
    short = harness.timings("op", [0.1] * 99)
    assert [(m.name, m.samples) for m in short] == [("op_p50_ms", 99)]
    full = harness.timings("op", [i / 1000 for i in range(1, 201)])
    assert [m.name for m in full] == ["op_p50_ms", "op_p95_ms"]
    assert full[0].value == pytest.approx(100.5)
    assert full[1].value == pytest.approx(190.0)
    assert "(n=200)" in full[1].line()


# -- printed metrics match BENCHMARK.json -------------------------------


def test_benchmark_json_declares_what_run_prints():
    spec = bench_json()
    assert spec["command"] == ["python3", "perfbench/run.py"]
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_last_line_carries_every_declared_metric(monkeypatch, capsys, tmp_path, workload, trace):
    spec = bench_json()
    section = "per_layer" if trace else "end_to_end"
    fake = SimpleNamespace(
        setup_s=1.0,
        shares={"a": 0.5, "b": 0.5},
        op_s={"a": [0.1, 0.2], "b": [0.3]},
        samples=lambda: 3,
        ops=3,
        window_s=1.5,
        attempted=5,
        failed=0,
        details=[],
        layers={spec["per_layer"][0]["name"]: 2.0},
        notes=[],
    )
    monkeypatch.setattr(run, "ROOT", str(tmp_path))
    os.makedirs(tmp_path / run.PACKAGE)
    monkeypatch.setattr(run, "configure_env", lambda root, dirs: None)
    monkeypatch.setattr(run, "start_spark", lambda dirs: object())
    monkeypatch.setattr(run, "stop_spark", lambda spark: None)
    monkeypatch.setattr(run, "run_workload", lambda *args: fake)
    argv = ["--workload", workload, "--seed", "1", "--seconds", "1", "--trace", str(trace)]
    assert run.main(argv) == 0
    last = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    assert last["correct"] is True and last["attempted"] == 5 and last["failed"] == 0
    assert {k: v["unit"] for k, v in last["metrics"].items()} == {
        m["name"]: m["unit"] for m in spec[section]
    }
    assert not (tmp_path / ".perfbench_work").exists()


def test_refuses_to_run_without_the_engine(tmp_path, monkeypatch, capsys):
    monkeypatch.setattr(run, "ROOT", str(tmp_path))
    assert run.main(["--workload", "sync_ingest", "--seed", "1", "--seconds", "1"]) != 0
    assert capsys.readouterr().out == ""


# -- seeded inputs ------------------------------------------------------


def test_inputs_depend_only_on_the_seed():
    assert inputs.sync_events(7, 50) == inputs.sync_events(7, 50)
    assert inputs.sync_events(7, 50) != inputs.sync_events(8, 50)
    # a run's checks regenerate the prefix it ingested
    assert inputs.sync_events(7, 37) == inputs.sync_events(7, 100)[:37]
    assert inputs.stream_files(7, 4) == inputs.stream_files(7, 4)
    ids = {"/orders": "w1"}
    assert inputs.history(7, ids) == inputs.history(7, ids)


def test_sync_mix_shares_and_filter_rate_are_exact():
    events = inputs.sync_events(3, 700)
    kinds = [k for k, _ in events]
    for block in range(0, 700, 10):
        assert sorted(kinds[block : block + 10]) == sorted(inputs.SYNC_MIX)
    flat = [p for k, p in events if k == inputs.FLAT]
    dropped = [p["status"] == "cancelled" for p in flat]
    for run_start in range(0, len(flat) - len(flat) % 7, 7):
        assert sum(dropped[run_start : run_start + 7]) == 1


def test_expected_results_follow_the_transforms():
    tiers = {u: "gold" for u in range(inputs.N_USERS)}
    flat = {"order_id": 1, "customer": "cust001", "amount_cents": 250, "qty": 3, "status": "new"}
    assert inputs.expected(inputs.FLAT, flat, tiers) == {
        "order_id": 1,
        "customer": "CUST001",
        "total_cents": 750,
        "qty_next": 4,
    }
    assert inputs.expected(inputs.FLAT, {**flat, "status": "cancelled"}, tiers) is None
    batch = {"batch_id": 5, "items": [{"sku": "a", "n": 1}, {"sku": "b", "n": 2}]}
    assert inputs.expected(inputs.LIST, batch, tiers)["results"][1] == {
        "batch_id": 5,
        "sku": "b",
        "doubled": 4,
    }
    enrich = {"event_no": 9, "user_id": 3, "points": 10}
    assert inputs.expected(inputs.ENRICH, enrich, tiers) == {"user_id": 3, "tier": "gold", "score": 31}
