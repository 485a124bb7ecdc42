"""Webhook catalog: registration, lookup, update, delete, toggle.

Reference semantics reproduced (SURVEY §2A A14, §2C):

- ``source_path`` normalized to a leading ``/`` (src/app.py:57-62)
- ``transform_query`` must contain ``{{payload}}`` (src/app.py:64-69)
- register on an existing path is an **upsert keeping the original id**
  (src/app.py:265-287)
- path match is exact and case-sensitive (tests/test_webhook_management.py:111-126)
- delete keeps webhooks with event history, renaming the path to
  ``/inactive_<id>`` (soft delete, src/app.py:1746-1753); hard DELETE
  otherwise (src/app.py:1729-1759)
- status toggle re-activates by stripping the ``/inactive_`` prefix
  (src/app.py:1600-1672)
"""

from __future__ import annotations

from dataclasses import asdict, dataclass
from typing import Any, Optional

from .store import TableStore, now_utc

INACTIVE_PREFIX = "/inactive_"


class ValidationError(ValueError):
    """Raised for invalid webhook configs (reference returns HTTP 422)."""


def normalize_path(path: str) -> str:
    """Leading-slash normalization (reference: src/app.py:57-62)."""
    path = path.strip()
    if not path:
        raise ValidationError("source_path must be non-empty")
    if not path.startswith("/"):
        path = "/" + path
    return path


def validate_transform(transform_query: str) -> str:
    """``{{payload}}`` must appear in the transform (reference: src/app.py:64-69)."""
    if "{{payload}}" not in transform_query:
        raise ValidationError("transform_query must contain {{payload}}")
    return transform_query


@dataclass
class WebhookConfig:
    source_path: str
    destination_url: str
    transform_query: str
    filter_query: Optional[str] = None
    owner: Optional[str] = None

    def __post_init__(self) -> None:
        self.source_path = normalize_path(self.source_path)
        validate_transform(self.transform_query)
        if not str(self.destination_url).strip():
            raise ValidationError("destination_url must be non-empty")


class WebhookCatalog:
    """CRUD over the ``webhooks`` table (reference: src/app.py:253-348, 1565-1763)."""

    def __init__(self, store: TableStore):
        self.store = store

    # -- register / upsert (reference: src/app.py:253-317) ----------------
    def register(self, config: WebhookConfig) -> dict[str, Any]:
        values = asdict(config)
        key = {"source_path": values.pop("source_path")}
        return self.store.upsert_catalog_row("webhooks", key, values)

    # -- lookups (exact, case-sensitive; reference: src/app.py:319-348) ---
    def get_by_path(self, path: str) -> Optional[dict[str, Any]]:
        # per-event ingestion hot path: copy only the hit, not the table
        path = normalize_path(path)
        return self.store.find_catalog_row(
            "webhooks", lambda r: r["source_path"] == path
        )

    def get_by_id(self, webhook_id: str) -> Optional[dict[str, Any]]:
        return self.store.find_catalog_row(
            "webhooks", lambda r: r["id"] == webhook_id
        )

    def list(self) -> list[dict[str, Any]]:
        return self.store.catalog_rows("webhooks")

    # -- update (reference: src/app.py:1565-1598 -> same upsert) ----------
    def update(self, webhook_id: str, config: WebhookConfig) -> Optional[dict[str, Any]]:
        def _update(rows: list[dict[str, Any]]):
            for row in rows:
                if row["id"] == webhook_id:
                    row.update(asdict(config), updated_at=now_utc())
                    return dict(row)
            return None

        return self.store.mutate_catalog("webhooks", _update)

    # -- status toggle (reference: src/app.py:1600-1672) ------------------
    def is_active(self, row: dict[str, Any]) -> bool:
        return not row["source_path"].startswith(INACTIVE_PREFIX)

    def set_active(self, webhook_id: str, active: bool) -> Optional[dict[str, Any]]:
        def _toggle(rows: list[dict[str, Any]]):
            for row in rows:
                if row["id"] == webhook_id:
                    p = row["source_path"]
                    if active and p.startswith(INACTIVE_PREFIX):
                        # Reference strips the prefix with str.replace, so
                        # the restored path is '/<suffix>' — the original
                        # path is NOT recovered (src/app.py:1630-1635).
                        row["source_path"] = p.replace(INACTIVE_PREFIX, "/", 1)
                    elif not active and not p.startswith(INACTIVE_PREFIX):
                        row["source_path"] = f"{INACTIVE_PREFIX}{webhook_id}"
                    row["updated_at"] = now_utc()
                    return dict(row)
            return None

        return self.store.mutate_catalog("webhooks", _toggle)

    # -- delete (reference: src/app.py:1705-1763) -------------------------
    def delete(self, webhook_id: str, has_history: bool) -> Optional[str]:
        """Hard-delete when no event history; otherwise soft-delete by
        renaming the path to ``/inactive_<id>`` (reference: src/app.py:1746-1753).

        Returns 'deleted', 'deactivated', or None if unknown id.
        """

        def _delete(rows: list[dict[str, Any]]):
            for i, row in enumerate(rows):
                if row["id"] == webhook_id:
                    if has_history:
                        row["source_path"] = f"{INACTIVE_PREFIX}{webhook_id}"
                        row["updated_at"] = now_utc()
                        return "deactivated"
                    rows.pop(i)
                    return "deleted"
            return None

        return self.store.mutate_catalog("webhooks", _delete)
