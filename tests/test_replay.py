"""Batch replay/backfill: re-running stored raw events through a (new)
transform as ONE distributed job (engine/replay.py).

Contracts: per-event {{payload}} correlation, filter existence gate,
transform override, list-payload N-row shaping, time-range bounds,
unknown-path error — and replay(original transform) reproduces what the
ingest path audited."""

from __future__ import annotations

import json

import pytest

from duckdb_webhook_gateway_spark.engine import Gateway, WebhookConfig
from duckdb_webhook_gateway_spark.engine.pipeline import UnknownPathError


@pytest.fixture()
def gateway(spark, tmp_path):
    return Gateway(spark, workdir=str(tmp_path / "gw"))


def _register(gateway, path, transform, **kw):
    gateway.register_webhook(
        WebhookConfig(
            source_path=path,
            destination_url="http://example.com/recv",
            transform_query=transform,
            **kw,
        )
    )


def test_replay_reproduces_ingest_results(gateway, spark):
    _register(gateway, "/r1", "SELECT a, a * 2 AS b FROM {{payload}}")
    expected = []
    for i in range(5):
        out = gateway.ingest("/r1", {"a": i})
        expected.append((out.raw_event_id, out.transformed["b"]))
    got = {
        (r["raw_event_id"], r["b"]) for r in gateway.replay("/r1").collect()
    }
    assert got == set(expected)


def test_replay_with_new_transform_backfills_history(gateway, spark):
    _register(gateway, "/r2", "SELECT a FROM {{payload}}")
    ids = [gateway.ingest("/r2", {"a": i}).raw_event_id for i in range(4)]
    # history was ingested under the OLD transform; backfill with NEW logic
    rows = gateway.replay(
        "/r2", transform_query="SELECT a, a * a AS sq FROM {{payload}}"
    ).collect()
    assert {(r["raw_event_id"], r["sq"]) for r in rows} == {
        (ids[i], i * i) for i in range(4)
    }


def test_replay_filter_gate_and_override(gateway, spark):
    _register(
        gateway,
        "/r3",
        "SELECT a FROM {{payload}}",
        filter_query="a > 1",
    )
    ids = [gateway.ingest("/r3", {"a": i}).raw_event_id for i in range(4)]
    # registered filter: only a in {2,3} pass
    got = {r["a"] for r in gateway.replay("/r3").collect()}
    assert got == {2, 3}
    # override: disable the gate entirely
    got_all = {r["a"] for r in gateway.replay("/r3", filter_query=None).collect()}
    assert got_all == {0, 1, 2, 3}


def test_replay_list_payload_yields_n_rows(gateway, spark):
    _register(gateway, "/r4", "SELECT x FROM {{payload}}")
    rid = gateway.ingest("/r4", [{"x": 1}, {"x": 2}, {"x": 3}]).raw_event_id
    rows = gateway.replay("/r4").collect()
    assert sorted(r["x"] for r in rows) == [1, 2, 3]
    assert {r["raw_event_id"] for r in rows} == {rid}


def test_replay_aggregate_is_per_event_not_global(gateway, spark):
    # SUM inside the transform must aggregate ONE event's rows, not the
    # whole replayed history — the correlation contract.
    _register(gateway, "/r5", "SELECT SUM(x) AS s FROM {{payload}}")
    a = gateway.ingest("/r5", [{"x": 1}, {"x": 2}]).raw_event_id
    b = gateway.ingest("/r5", [{"x": 10}]).raw_event_id
    got = {
        (r["raw_event_id"], int(r["s"]))
        for r in gateway.replay("/r5").collect()
    }
    assert got == {(a, 3), (b, 10)}


def test_replay_time_bounds_prune(gateway, spark):
    _register(gateway, "/r6", "SELECT a FROM {{payload}}")
    gateway.ingest("/r6", {"a": 1})
    # everything ingested "now" — a far-future window must be empty
    assert (
        gateway.replay("/r6", since="2099-01-01 00:00:00").count() == 0
    )
    assert gateway.replay("/r6", until="2099-01-01 00:00:00").count() == 1


def test_replay_unknown_path_raises(gateway):
    with pytest.raises(UnknownPathError):
        gateway.replay("/never-registered")


def test_replay_lazy_no_action_until_collect(gateway, spark):
    _register(gateway, "/r7", "SELECT a FROM {{payload}}")
    gateway.ingest("/r7", {"a": 1})
    df = gateway.replay("/r7")
    # contract: replay returns a plan, not materialized rows
    from pyspark.sql import DataFrame

    assert isinstance(df, DataFrame)
    assert "raw_event_id" in df.columns


def test_replay_loads_runtime_udfs(gateway, spark):
    """A replay transform resolves the webhook's stored Python UDFs under
    their namespaced udf_<id>_<fn> names — they are session state, as on
    the ingest path."""
    from duckdb_webhook_gateway_spark.engine.udfs import udf_full_name

    _register(gateway, "/r8", "SELECT word AS loud FROM {{payload}}")
    wid = gateway.catalog.get_by_path("/r8")["id"]
    gateway.udfs.register(
        wid, "shout", "def shout(x: str) -> str:\n    return x.upper() + '!'\n"
    )
    fn = udf_full_name(wid, "shout")
    gateway.ingest("/r8", {"word": "hi"})
    gateway.ingest("/r8", {"word": "ok"})
    got = {
        r["loud"]
        for r in gateway.replay(
            "/r8", transform_query=f"SELECT {fn}(word) AS loud FROM {{{{payload}}}}"
        ).collect()
    }
    assert got == {"HI!", "OK!"}


def test_replay_after_webhook_update_uses_current_transform(gateway, spark):
    """History ingested under transform v1; after a PUT-style update the
    default replay runs v2 — the backfill-after-fix workflow."""
    _register(gateway, "/r9", "SELECT a AS out FROM {{payload}}")
    gateway.ingest("/r9", {"a": 7})
    wh = gateway.catalog.get_by_path("/r9")
    gateway.catalog.update(
        wh["id"],
        WebhookConfig(
            source_path="/r9",
            destination_url=wh["destination_url"],
            transform_query="SELECT a * 10 AS out FROM {{payload}}",
        ),
    )
    rows = gateway.replay("/r9").collect()
    assert [r["out"] for r in rows] == [70]


def test_replay_payload_with_corr_key_is_not_clobbered(gateway, spark):
    # a payload carrying a '__corr_id' key must survive replay intact:
    # the correlation column is uuid-suffixed per call, so no collision
    _register(gateway, "/r10", "SELECT __corr_id AS cid FROM {{payload}}")
    gateway.ingest("/r10", {"__corr_id": "user-supplied", "a": 1})
    rows = gateway.replay("/r10").collect()
    assert [r["cid"] for r in rows] == ["user-supplied"]


def test_replay_all_empty_payloads_returns_empty(gateway, spark):
    # empty dicts give the transform no input columns; replay must return
    # an empty frame, not raise a ParseException on 'SELECT  FROM ...'
    _register(gateway, "/r11", "SELECT * FROM {{payload}}")
    gateway.ingest("/r11", {})
    gateway.ingest("/r11", {})
    assert gateway.replay("/r11").count() == 0
