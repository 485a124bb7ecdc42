"""Audit sink: raw + transformed event logging.

Reference: ``log_raw_event`` (src/app.py:350-377) and
``log_transformed_event`` (src/app.py:379-432).  Payloads are stored as
JSON text (json.dumps at src/app.py:372,423).  Filtered-out events are
recorded with ``success=False`` and response body
``"Filtered out by filter_query"`` (src/app.py:1159-1170).  Timestamps are
assigned server-side at ingest (src/app.py:361).
"""

from __future__ import annotations

import json
from typing import Any, Optional

from .store import TableStore, new_id, now_utc

FILTERED_OUT_BODY = "Filtered out by filter_query"


def transformed_row(
    raw_event_id: str,
    webhook_id: str,
    transformed_payload: dict[str, Any],
    destination_url: str,
    success: bool,
    response_code: Optional[int],
    response_body: Optional[str],
) -> dict[str, Any]:
    """One ``transformed_events`` audit row with a fresh id and timestamp
    (reference: src/app.py:379-432).  Pure and module-level, so the
    synchronous path, the streaming fallback and the executor-side
    shape-group pass all build their rows here."""
    return {
        "id": new_id(),
        "raw_event_id": raw_event_id,
        "webhook_id": webhook_id,
        "timestamp": now_utc(),
        "transformed_payload": json.dumps(transformed_payload, default=str),
        "destination_url": destination_url,
        "success": bool(success),
        "response_code": int(response_code) if response_code is not None else None,
        "response_body": response_body,
    }


class AuditLog:
    def __init__(self, store: TableStore):
        self.store = store

    def log_raw_event(self, source_path: str, payload: dict | list) -> str:
        event_id = new_id()
        self.store.append_events(
            "raw_events",
            [
                {
                    "id": event_id,
                    "timestamp": now_utc(),
                    "source_path": source_path,
                    "payload": json.dumps(payload),
                }
            ],
        )
        return event_id

    def log_transformed_event(
        self,
        raw_event_id: str,
        webhook_id: str,
        transformed_payload: dict[str, Any],
        destination_url: str,
        success: bool,
        response_code: Optional[int],
        response_body: Optional[str],
    ) -> str:
        row = transformed_row(
            raw_event_id,
            webhook_id,
            transformed_payload,
            destination_url,
            success,
            response_code,
            response_body,
        )
        self.store.append_events("transformed_events", [row])
        return row["id"]

    def log_filtered_out(
        self, raw_event_id: str, webhook_id: str, destination_url: str
    ) -> str:
        """Audit row for an event rejected by the filter gate
        (reference: src/app.py:1159-1170)."""
        return self.log_transformed_event(
            raw_event_id=raw_event_id,
            webhook_id=webhook_id,
            transformed_payload={},
            destination_url=destination_url,
            success=False,
            response_code=None,
            response_body=FILTERED_OUT_BODY,
        )
