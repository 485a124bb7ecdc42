"""Seeded inputs: webhook definitions, payloads, and the value each
payload's transform must produce, recomputed in plain Python.

The engine sees only what these functions return; the same seed always
gives the same inputs.
"""

from __future__ import annotations

import itertools
import random
from collections.abc import Iterator

FLAT, LIST, ENRICH = "flat", "list", "enrich"
# Class shares of sync traffic per block of ten events.
SYNC_MIX = (FLAT,) * 6 + (LIST,) * 2 + (ENRICH,) * 2
FLAT_FILTER_EVERY = 7  # one flat event in seven is filtered out

CUSTOMERS = tuple(f"cust{i:03d}" for i in range(40))
TIERS = ("bronze", "silver", "gold", "platinum")
N_USERS = 200

FLAT_PATH, LIST_PATH, ENRICH_PATH = "/orders", "/batches", "/enrich"
FLAT_FILTER = "status <> 'cancelled'"
FLAT_TRANSFORM = (
    "SELECT order_id, upper(customer) AS customer, "
    "amount_cents * qty AS total_cents, qty + 1 AS qty_next "
    "FROM {{payload}}"
)
LIST_TRANSFORM = (
    "SELECT batch_id, item.sku AS sku, item.n * 2 AS doubled "
    "FROM {{payload}} LATERAL VIEW explode(items) t AS item"
)
UDF_NAME = "score"
UDF_CODE = "def score(points: int) -> int:\n    return points * 3 + 1\n"


def enrich_transform(ref_view: str, udf: str) -> str:
    return (
        f"SELECT p.user_id, r.tier, {udf}(p.points) AS score "
        f"FROM {{{{payload}}}} p JOIN {ref_view} r ON p.user_id = r.user_id"
    )


def tier_rows(seed: int) -> list[dict]:
    rng = random.Random(f"{seed}-tiers")
    return [{"user_id": u, "tier": rng.choice(TIERS)} for u in range(N_USERS)]


def flat_event(rng: random.Random, i: int, cancelled: bool) -> dict:
    return {
        "order_id": i,
        "customer": rng.choice(CUSTOMERS),
        "amount_cents": rng.randint(100, 99_999),
        "qty": rng.randint(1, 20),
        "status": "cancelled" if cancelled else rng.choice(("new", "paid", "shipped")),
    }


def list_event(rng: random.Random, i: int) -> dict:
    return {
        "batch_id": i,
        "items": [
            {"sku": f"sku{rng.randint(0, 999):03d}", "n": rng.randint(1, 50)}
            for _ in range(rng.randint(2, 5))
        ],
    }


def enrich_event(rng: random.Random, i: int) -> dict:
    return {"event_no": i, "user_id": rng.randrange(N_USERS), "points": rng.randint(0, 1000)}


def expected(kind: str, payload: dict, tiers: dict[int, str]) -> dict | None:
    """Shaped transform output, or None when the filter drops the event."""
    if kind == FLAT:
        if payload["status"] == "cancelled":
            return None
        return {
            "order_id": payload["order_id"],
            "customer": payload["customer"].upper(),
            "total_cents": payload["amount_cents"] * payload["qty"],
            "qty_next": payload["qty"] + 1,
        }
    if kind == LIST:
        return {
            "results": [
                {"batch_id": payload["batch_id"], "sku": it["sku"], "doubled": it["n"] * 2}
                for it in payload["items"]
            ]
        }
    return {
        "user_id": payload["user_id"],
        "tier": tiers[payload["user_id"]],
        "score": payload["points"] * 3 + 1,
    }


def sync_stream(seed: int, start: int = 0) -> Iterator[tuple[str, dict]]:
    """Endless (kind, payload) pairs: each block of ten follows SYNC_MIX
    in a seeded order, and each run of seven flat events holds one that
    the filter drops.  Generated block by block, so every prefix is the
    same whatever length a caller takes."""
    rng = random.Random(f"{seed}-sync-{start}")
    i, n_flat, drop_at = start, 0, 0
    while True:
        block = list(SYNC_MIX)
        rng.shuffle(block)
        for kind in block:
            if kind == FLAT:
                if n_flat % FLAT_FILTER_EVERY == 0:
                    drop_at = rng.randrange(FLAT_FILTER_EVERY)
                yield kind, flat_event(rng, i, n_flat % FLAT_FILTER_EVERY == drop_at)
                n_flat += 1
            elif kind == LIST:
                yield kind, list_event(rng, i)
            else:
                yield kind, enrich_event(rng, i)
            i += 1


def sync_events(seed: int, n: int, start: int = 0) -> list[tuple[str, dict]]:
    return list(itertools.islice(sync_stream(seed, start), n))


PATHS = {FLAT: FLAT_PATH, LIST: LIST_PATH, ENRICH: ENRICH_PATH}


# -- stream_drain -------------------------------------------------------------

STREAM_FILE_EVENTS = 250
ORDERS_STREAM, CLICKS_STREAM = "/stream/orders", "/stream/clicks"
CLICKS_TRANSFORM = (
    "SELECT user, upper(page) AS page, ms DIV 10 AS cs FROM {{payload}}"
)


def click_event(rng: random.Random, i: int) -> dict:
    return {
        "user": f"u{rng.randrange(N_USERS)}",
        "page": rng.choice(("home", "cart", "pay")),
        "ms": rng.randint(1, 5000),
        "seq": i,
    }


def expected_stream(path: str, payload: dict) -> dict | None:
    """Transform output of a streamed event, or None when filtered."""
    if path == ORDERS_STREAM:
        return expected(FLAT, payload, {})
    return {"user": payload["user"], "page": payload["page"].upper(), "cs": payload["ms"] // 10}


def stream_files(seed: int, n_files: int, start: int = 0) -> list[tuple[str, list[dict]]]:
    """(path, payloads) per landing file; files alternate between the two
    webhooks and their two payload shapes."""
    rng = random.Random(f"{seed}-stream-{start}")
    out = []
    for f in range(start, start + n_files):
        base = f * STREAM_FILE_EVENTS
        if f % 2 == 0:
            payloads = [
                flat_event(rng, base + j, rng.randrange(FLAT_FILTER_EVERY) == 0)
                for j in range(STREAM_FILE_EVENTS)
            ]
            out.append((ORDERS_STREAM, payloads))
        else:
            out.append((CLICKS_STREAM, [click_event(rng, base + j) for j in range(STREAM_FILE_EVENTS)]))
    return out


# -- store_reads --------------------------------------------------------------

HISTORY_DAYS = 5
HISTORY_ROWS_PER_DAY = 2000
TAIL_APPENDS = 8
HISTORY_CUTOFF = "2021-01-01 00:00:00"  # every seeded row is older

ADHOC_SQL = (
    "SELECT source_path, count(*) AS n FROM raw_events "
    f"WHERE timestamp < TIMESTAMP '{HISTORY_CUTOFF}' "
    "GROUP BY source_path ORDER BY source_path",
    "SELECT webhook_id, sum(CASE WHEN success THEN 1 ELSE 0 END) AS ok, "
    "count(*) AS n FROM transformed_events "
    f"WHERE timestamp < TIMESTAMP '{HISTORY_CUTOFF}' "
    "GROUP BY webhook_id ORDER BY webhook_id",
    "SELECT CAST(timestamp AS DATE) AS day, count(*) AS n FROM raw_events "
    f"WHERE timestamp < TIMESTAMP '{HISTORY_CUTOFF}' GROUP BY 1 ORDER BY 1",
    "SELECT r.source_path, count(*) AS n FROM raw_events r "
    "JOIN transformed_events t ON r.id = t.raw_event_id "
    f"WHERE r.timestamp < TIMESTAMP '{HISTORY_CUTOFF}' AND t.success "
    "GROUP BY r.source_path ORDER BY r.source_path",
)


def history(seed: int, webhook_ids: dict[str, str]) -> tuple[list[list[dict]], list[list[dict]]]:
    """Seeded audit history: (raw batches, transformed batches).  The
    first HISTORY_DAYS batches are bulk days; the rest are single-row
    appends like the ones sync traffic leaves.  Timestamps are distinct
    and older than HISTORY_CUTOFF."""
    import datetime as dt
    import json
    import uuid

    rng = random.Random(f"{seed}-history")
    paths = sorted(webhook_ids)
    sizes = [HISTORY_ROWS_PER_DAY] * HISTORY_DAYS + [1] * TAIL_APPENDS
    raw_batches, tr_batches = [], []
    for day, size in enumerate(sizes):
        day0 = dt.datetime(2020, 1, 1 + min(day, HISTORY_DAYS))
        micros = sorted(rng.sample(range(86_400_000_000), size))
        raw, tr = [], []
        for k in range(size):
            path = rng.choice(paths)
            rid = str(uuid.UUID(int=rng.getrandbits(128)))
            ts = day0 + dt.timedelta(microseconds=micros[k])
            ok = rng.random() < 0.9
            raw.append({"id": rid, "timestamp": ts, "source_path": path, "payload": json.dumps({"n": k, "day": day})})
            tr.append(
                {
                    "id": str(uuid.UUID(int=rng.getrandbits(128))),
                    "raw_event_id": rid,
                    "webhook_id": webhook_ids[path],
                    "timestamp": ts,
                    "transformed_payload": json.dumps({"n": k}),
                    "destination_url": "http://example.com/hook",
                    "success": ok,
                    "response_code": 200 if ok else None,
                    "response_body": "ok" if ok else "Error: refused",
                }
            )
        raw_batches.append(raw)
        tr_batches.append(tr)
    return raw_batches, tr_batches
