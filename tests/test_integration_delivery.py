"""True end-to-end delivery: a live HTTP receiver captures the forwarded
payload, mirroring the reference's integration strategy
(tests/test_integration.py:23-165 — real destination server, assertions
on RECEIVED content)."""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest

from duckdb_webhook_gateway_spark.engine import WebhookConfig


class _Receiver(BaseHTTPRequestHandler):
    received: list = []

    def do_POST(self):
        n = int(self.headers.get("Content-Length") or 0)
        _Receiver.received.append(json.loads(self.rfile.read(n).decode()))
        body = b'{"status": "received"}'
        self.send_response(200)
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def log_message(self, fmt, *args):
        pass


@pytest.fixture()
def receiver():
    _Receiver.received = []
    httpd = ThreadingHTTPServer(("127.0.0.1", 0), _Receiver)
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    yield httpd.server_address[1]
    httpd.shutdown()


def test_real_delivery_to_live_receiver(gateway, spark, receiver):
    gateway.register_webhook(
        WebhookConfig(
            source_path="/real",
            # 127.0.0.1 is not in the reference's substring mock list ->
            # real HTTP delivery
            destination_url=f"http://127.0.0.1:{receiver}/hook",
            transform_query=(
                "SELECT field1, field2, field1 || ' - ' || field2 AS combined "
                "FROM {{payload}}"
            ),
        )
    )
    outcome = gateway.ingest(
        "/real", {"field1": "value1", "field2": "value2", "field3": "value3"}
    )
    assert outcome.delivery.success is True
    assert outcome.delivery.response_code == 200
    # the receiver got exactly the transformed payload, field3 excluded
    assert _Receiver.received == [
        {"field1": "value1", "field2": "value2", "combined": "value1 - value2"}
    ]
    tr = spark.sql("SELECT * FROM transformed_events").collect()
    assert tr[0].success is True
    assert json.loads(tr[0].response_body) == {"status": "received"}


def test_delivery_failure_audited(gateway, spark):
    # unreachable destination (closed port on 127.0.0.1): connection error
    # -> success=False, never retried (reference: src/app.py:1205-1213)
    gateway.register_webhook(
        WebhookConfig(
            source_path="/dead",
            destination_url="http://127.0.0.1:1/hook",
            transform_query="SELECT a FROM {{payload}}",
        )
    )
    outcome = gateway.ingest("/dead", {"a": 1})
    assert outcome.delivery.success is False
    assert outcome.delivery.response_code is None
    tr = spark.sql("SELECT * FROM transformed_events").collect()
    assert tr[0].success is False
    assert "Error" in tr[0].response_body


def test_streamed_batch_delivers_to_live_receiver(gateway, spark, receiver):
    """A streamed micro-batch delivers for real on both of its paths:
    shape-group events POST from the audit write's tasks, an event with a
    top-level ``__corr_id`` takes the per-event fallback and POSTs from
    the driver.  A fallback event for a dead destination is audited as a
    failure, not retried."""
    from duckdb_webhook_gateway_spark.streaming import StreamingGateway

    gateway.register_webhook(
        WebhookConfig(
            source_path="/live",
            destination_url=f"http://127.0.0.1:{receiver}/hook",
            transform_query="SELECT a, a + 1 AS b FROM {{payload}}",
        )
    )
    gateway.register_webhook(
        WebhookConfig(
            source_path="/gone",
            destination_url="http://127.0.0.1:1/hook",
            transform_query="SELECT a FROM {{payload}}",
        )
    )
    sg = StreamingGateway(gateway)
    live = sg.ingest_many(
        "/live", [{"a": 1}, {"a": 2}, {"a": 3, "__corr_id": "x"}]
    )
    dead = sg.ingest("/gone", {"a": 4, "__corr_id": "y"})
    sg.run_available()

    assert sorted(_Receiver.received, key=lambda b: b["a"]) == [
        {"a": 1, "b": 2},
        {"a": 2, "b": 3},
        {"a": 3, "b": 4},
    ]
    tr = {
        r.raw_event_id: r
        for r in spark.sql("SELECT * FROM transformed_events").collect()
    }
    assert set(tr) == {*live, dead}
    for i in live:
        assert tr[i].success is True
        assert tr[i].response_code == 200
        assert json.loads(tr[i].response_body) == {"status": "received"}
    assert tr[dead].success is False
    assert tr[dead].response_code is None
    assert tr[dead].response_body.startswith("Error")


def test_per_event_latency_warm(gateway, spark, receiver):
    """Warm per-event ingest stays interactive because the payload relation
    is a JVM-local Arrow table: the filter probe and transform never pay a
    Python-RDD worker round trip.  Two guards, split by what each can
    actually detect on this shared host:

    - Structural (the real pin, load-immune): the payload relation for the
      exact ingest shape plans as LocalTableScan with no ``Scan
      ExistingRDD``.  The pickled-row regression this test exists for puts
      a Python worker round trip into every query over the view (~0.75 s
      median warm ingest when it was last measured).
    - Wall-clock smoke bound (median of 9 <= 2.0 s): a tight fixed bar
      cannot separate the healthy path under this host's documented 2-3x
      bandwidth-contention regime (healthy medians to ~0.7 s observed, r14)
      from the pickled path at idle (~0.75 s), so the tight check is the
      structural one and the timing bar only catches catastrophic
      regressions — per-request work measured in seconds."""
    import time

    from duckdb_webhook_gateway_spark.engine.executors import payload_to_df

    probe = payload_to_df(spark, {"v": 1})
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan, plan
    assert "ExistingRDD" not in plan, plan

    gateway.register_webhook(
        WebhookConfig(
            source_path="/lat",
            destination_url=f"http://127.0.0.1:{receiver}/hook",
            transform_query="SELECT v, v * 2 AS doubled FROM {{payload}}",
            filter_query="v > 0",
        )
    )
    for i in range(3):  # warm: plans, Arrow path, delivery socket
        gateway.ingest("/lat", {"v": i + 1})
    samples = []
    for i in range(9):
        t0 = time.perf_counter()
        out = gateway.ingest("/lat", {"v": i + 1})
        samples.append(time.perf_counter() - t0)
        assert out.delivery.success
    samples.sort()
    assert samples[len(samples) // 2] <= 2.0, f"median {samples} s"
