"""HTTP delivery sink.

Reference: POST the transformed JSON to ``destination_url`` with a 30 s
timeout; destinations on example.com / localhost are mocked successful
(src/app.py:1179-1213, mock at 1184-1193).  Delivery is at-most-once with
the outcome recorded; failures are logged, never retried
(src/app.py:1205-1213).

Two execution paths call :func:`deliver` (SURVEY §2A A10):

- the per-event step ``Gateway.run_event`` POSTs inline, one event at a
  time, from the driver.  ``Gateway.ingest``, the HTTP server's
  background worker and the streaming per-event fallback (exotic shapes,
  failed shape groups) all run it;
- streaming shape groups ship delivery INTO Spark tasks — the audit
  write's ``mapInArrow`` pass POSTs each partition's events
  executor-side through a bounded in-task pool
  (``streaming/webhook_source.py``), so throughput scales with the
  cluster.  That path is at-least-once under task retry/speculation.
  If the session was launched with ``spark.speculation=true`` (Spark's
  default is off) ``StreamingGateway`` warns: routing these POSTs
  through the driver would collect transformed payloads driver-side,
  the anti-pattern the round-6 design removed (see
  ``test_no_payload_bearing_collect_in_micro_batch``).  Speculative
  duplicate POSTs on that path remain possible — run delivery workloads
  with speculation off.

Uses stdlib urllib (httpx is not a dependency of this engine).
"""

from __future__ import annotations

import json
import urllib.error
import urllib.request
from dataclasses import dataclass
from typing import Any, Optional
from urllib.parse import urlparse

DELIVERY_TIMEOUT_SECONDS = 30.0  # reference: src/app.py:1196


@dataclass
class DeliveryResult:
    success: bool
    response_code: Optional[int]
    response_body: Optional[str]


def is_mock_destination(url: str) -> bool:
    """example.com / localhost short-circuit, substring semantics exactly
    like the reference (src/app.py:1185) — note 127.0.0.1 is NOT mocked,
    which is what lets integration tests exercise real delivery against a
    live local receiver (reference: tests/test_integration.py)."""
    return "example.com" in url or "localhost" in url


class _NoRedirect(urllib.request.HTTPRedirectHandler):
    """Match the reference client's redirect behavior: httpx defaults to
    follow_redirects=False, so a 3xx destination records success=False
    with the 3xx code — urllib's default auto-follow would silently
    record the post-redirect outcome instead."""

    def redirect_request(self, req, fp, code, msg, headers, newurl):
        return None


_OPENER = urllib.request.build_opener(_NoRedirect())


def deliver(
    destination_url: str,
    payload: dict[str, Any],
    timeout: float = DELIVERY_TIMEOUT_SECONDS,
) -> DeliveryResult:
    if is_mock_destination(destination_url):
        return DeliveryResult(True, 200, json.dumps({"status": "mocked"}))
    body = json.dumps(payload, default=str).encode("utf-8")
    req = urllib.request.Request(
        destination_url,
        data=body,
        headers={"Content-Type": "application/json"},
        method="POST",
    )
    try:
        with _OPENER.open(req, timeout=timeout) as resp:
            text = resp.read().decode("utf-8", errors="replace")
            code = resp.status
            return DeliveryResult(200 <= code < 300, code, text)
    except urllib.error.HTTPError as e:
        return DeliveryResult(
            False, e.code, e.read().decode("utf-8", errors="replace")
        )
    except Exception as e:  # connect/timeout classification (src/app.py:1205-1213)
        return DeliveryResult(False, None, f"Error: {e}")
