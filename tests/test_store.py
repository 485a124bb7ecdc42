"""TableStore round-trips, mirroring the reference's tests/test_db_manager.py."""

from __future__ import annotations

import json

import pytest

from duckdb_webhook_gateway_spark.engine import TableStore
from duckdb_webhook_gateway_spark.engine.store import SCHEMAS, new_id, now_utc


def test_schema_creation(spark, tmp_path):
    # reference: tests/test_db_manager.py:18-30 (all 5 tables exist)
    TableStore(spark, str(tmp_path / "s"))
    tables = {t.name for t in spark.catalog.listTables()}
    for name in SCHEMAS:
        assert name in tables
        assert spark.table(name).count() == 0


def test_raw_event_round_trip(spark, tmp_path):
    # reference: tests/test_db_manager.py raw/transformed logging round-trip
    store = TableStore(spark, str(tmp_path / "s"))
    rid = new_id()
    payload = {"nested": {"a": 1}, "arr": [1, 2]}
    store.append_events(
        "raw_events",
        [
            {
                "id": rid,
                "timestamp": now_utc(),
                "source_path": "/p",
                "payload": json.dumps(payload),
            }
        ],
    )
    row = spark.table("raw_events").first()
    assert row.id == rid
    assert json.loads(row.payload) == payload


def test_transformed_event_types(spark, tmp_path):
    store = TableStore(spark, str(tmp_path / "s"))
    store.append_events(
        "transformed_events",
        [
            {
                "id": new_id(),
                "raw_event_id": new_id(),
                "webhook_id": new_id(),
                "timestamp": now_utc(),
                "transformed_payload": "{}",
                "destination_url": "http://example.com",
                "success": False,
                "response_code": None,  # nullable int (filtered-out rows)
                "response_body": "Filtered out by filter_query",
            }
        ],
    )
    row = spark.table("transformed_events").first()
    assert row.success is False
    assert row.response_code is None


def test_event_date_partitioning(spark, tmp_path):
    """Appends land in hive-style event_date= dirs -> partition pruning."""
    import datetime as dt
    import os

    store = TableStore(spark, str(tmp_path / "s"))
    for day in (1, 2):
        store.append_events(
            "raw_events",
            [
                {
                    "id": new_id(),
                    "timestamp": dt.datetime(2026, 8, day, 12, 0, 0),
                    "source_path": "/p",
                    "payload": "{}",
                }
            ],
        )
    base = os.path.join(str(tmp_path / "s"), "raw_events")
    assert sorted(os.listdir(base)) == ["event_date=2026-08-01", "event_date=2026-08-02"]
    assert spark.table("raw_events").count() == 2


def test_catalog_mutation_is_persistent_and_serialized(spark, tmp_path):
    import threading

    store = TableStore(spark, str(tmp_path / "s"))

    def add(i):
        def _m(rows):
            rows.append(
                {
                    "id": f"id-{i}",
                    "webhook_id": "w",
                    "table_name": f"t{i}",
                    "description": None,
                    "created_at": now_utc(),
                    "updated_at": now_utc(),
                }
            )

        store.mutate_catalog("reference_tables", _m)

    threads = [threading.Thread(target=add, args=(i,)) for i in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    # all 8 concurrent mutations survive (no lost updates)
    assert spark.table("reference_tables").count() == 8
    reopened = TableStore(spark, str(tmp_path / "s"))
    assert len(reopened.catalog_rows("reference_tables")) == 8


def test_compaction_merges_small_files(spark, tmp_path):
    import json
    import os

    store = TableStore(spark, str(tmp_path / "s"))
    for i in range(10):
        store.append_events(
            "raw_events",
            [
                {
                    "id": new_id(),
                    "timestamp": now_utc(),
                    "source_path": f"/p{i}",
                    "payload": json.dumps({"i": i}),
                }
            ],
        )
    part_dirs = [
        d
        for d in os.listdir(os.path.join(str(tmp_path / "s"), "raw_events"))
        if d.startswith("event_date=")
    ]
    n_files_before = sum(
        len(os.listdir(os.path.join(str(tmp_path / "s"), "raw_events", d)))
        for d in part_dirs
    )
    assert n_files_before == 10
    before = {r.source_path for r in spark.table("raw_events").collect()}

    assert store.compact_events("raw_events") == len(part_dirs)
    n_files_after = sum(
        len(os.listdir(os.path.join(str(tmp_path / "s"), "raw_events", d)))
        for d in part_dirs
    )
    assert n_files_after == len(part_dirs)  # one file per partition
    after = {r.source_path for r in spark.table("raw_events").collect()}
    assert after == before  # no data change
    # appends continue to work post-compaction
    store.append_events(
        "raw_events",
        [{"id": new_id(), "timestamp": now_utc(), "source_path": "/new", "payload": "{}"}],
    )
    assert spark.table("raw_events").count() == 11


def test_catalog_persist_crash_window_recovers_from_old(spark, tmp_path):
    """_persist_catalog promotes via rename (old -> __old, tmp -> live);
    a crash between those renames leaves only __old — the next load must
    restore it instead of booting an empty catalog (r6 review fix)."""
    import os

    store = TableStore(spark, str(tmp_path / "s"))

    def _add(rows):
        rows.append(
            {
                "id": "id-1",
                "webhook_id": "w",
                "table_name": "t1",
                "description": None,
                "created_at": now_utc(),
                "updated_at": now_utc(),
            }
        )

    store.mutate_catalog("reference_tables", _add)
    path = store._path("reference_tables")
    # simulate the crash window: live dir renamed away, tmp never promoted
    os.rename(path, path + ".__old")
    assert not os.path.isdir(path)

    store2 = TableStore(spark, str(tmp_path / "s"))
    rows = store2.catalog_rows("reference_tables")
    assert [r["id"] for r in rows] == ["id-1"]


def test_driver_append_cross_midnight_replay_is_idempotent(spark, tmp_path):
    """A replayed driver-side keyed append whose timestamps drifted into a
    DIFFERENT date partition must drop the first attempt's file (r6
    review fix: the overwrite alone only covers same-date replays)."""
    import datetime as dt

    store = TableStore(spark, str(tmp_path / "s"))
    row = {
        "id": new_id(),
        "raw_event_id": "r",
        "webhook_id": "w",
        "destination_url": "u",
        "transformed_payload": "{}",
        "success": True,
        "response_code": 200,
        "response_body": "",
    }
    store.append_events(
        "transformed_events",
        [{**row, "timestamp": dt.datetime(2026, 8, 13, 23, 59, 59)}],
        file_key="b000000007",
    )
    # replay of the same batch, clock ticked past midnight
    store.append_events(
        "transformed_events",
        [{**row, "timestamp": dt.datetime(2026, 8, 14, 0, 0, 1)}],
        file_key="b000000007",
    )
    n = spark.sql("SELECT count(*) AS n FROM transformed_events").first().n
    assert n == 1


def _raw_row(rid, ts=None, payload="{}"):
    return {
        "id": rid,
        "timestamp": ts or now_utc(),
        "source_path": "/p",
        "payload": payload,
    }


def _view_matches_parquet(spark, store, name):
    """The registered view returns exactly the rows DuckDB reads from the
    table's parquet files."""
    import os

    import duckdb

    cols = [f.name for f in SCHEMAS[name].fields]
    glob = os.path.join(store._path(name), "**", "*.parquet")
    duck = duckdb.sql(
        f"SELECT {', '.join(cols)} FROM read_parquet('{glob}')"
    ).fetchall()
    got = spark.table(name).select(*cols).collect()
    return sorted(map(tuple, got), key=repr) == sorted(duck, key=repr)


def test_event_views_refresh_in_place_and_match_parquet(
    gateway, spark, monkeypatch
):
    """Once the store holds event files, appends refresh the registered
    views instead of rebuilding them, and the refreshed views serve
    exactly the on-disk rows after every kind of file change."""
    import datetime as dt

    from duckdb_webhook_gateway_spark.engine import WebhookConfig

    gateway.register_webhook(
        WebhookConfig(
            source_path="/f",
            destination_url="http://example.com/x",
            transform_query="SELECT a + 1 AS b FROM {{payload}}",
        )
    )
    store = gateway.store
    gateway.ingest("/f", {"a": 1})  # first files: views rebuilt once

    rebuilds = []
    real = TableStore._register_event_view

    def spy(self, name):
        rebuilds.append(name)
        return real(self, name)

    monkeypatch.setattr(TableStore, "_register_event_view", spy)

    def fresh():
        return all(
            _view_matches_parquet(spark, store, n)
            for n in ("raw_events", "transformed_events")
        )

    # a new file in an existing date partition, through the gateway
    out = gateway.ingest("/f", {"a": 2})
    assert rebuilds == []
    assert fresh()
    detail = gateway.event_detail(out.raw_event_id)  # read-your-writes
    assert detail["raw_event"]["payload"] == {"a": 2}
    assert detail["transformed_events"][0]["transformed_payload"] == {"b": 3}

    # a new event_date= partition
    store.append_events(
        "raw_events", [_raw_row("old", ts=dt.datetime(2020, 1, 2, 3, 4, 5))]
    )
    assert fresh()

    # a file_key overwrite in place: same file name, new contents
    store.append_events(
        "raw_events", [_raw_row("k1"), _raw_row("k2")], file_key="bk"
    )
    assert fresh()
    store.append_events(
        "raw_events", [_raw_row("k3", payload='{"v": 2}')], file_key="bk"
    )
    assert fresh()
    ids = {r.id for r in spark.table("raw_events").collect()}
    assert "k3" in ids and not {"k1", "k2"} & ids

    # drop_batch_files, then the batch re-appended
    store.drop_batch_files("raw_events", "bk")
    store.append_events("raw_events", [_raw_row("k4")], file_key="bk")
    assert fresh()
    assert rebuilds == []

    # a bucketed layout goes stale on the next append: reads go back to
    # the plain parquet view
    store.bucket_events("raw_events", "id", 4)
    store.append_events("raw_events", [_raw_row("late")])
    plan = spark.table("raw_events")._jdf.queryExecution().executedPlan()
    assert "raw_events_bucketed" not in plan.toString()
    assert fresh()


@pytest.mark.parametrize("seeded", [False, True], ids=["rebuild", "refresh"])
def test_concurrent_appends_are_both_visible(
    spark, tmp_path, monkeypatch, seeded
):
    """Two threads append at once and the first one's view step is held
    (after it has listed the files) until the second append has returned
    or a timeout passes.  After both return, both rows must be visible
    with no further append: a view listed before the second write must
    never be the one left registered.  On an empty table the first
    append rebuilds the view; on a seeded one it refreshes it."""
    import threading

    from pyspark.sql.catalog import Catalog

    store = TableStore(spark, str(tmp_path / "s"))
    if seeded:
        store.append_events("raw_events", [_raw_row("seed")])

    first = threading.Thread(
        target=store.append_events, args=("raw_events", [_raw_row("one")])
    )
    held = threading.Event()
    second_done = threading.Event()

    def hold_first(real):
        def wrapper(*args, **kwargs):
            out = real(*args, **kwargs)
            if threading.current_thread() is first:
                held.set()
                # the view lock keeps the second append from returning
                # while this is held, so this wait ends on its timeout
                second_done.wait(timeout=2)
            return out

        return wrapper

    # the view step lists files in one of these, depending on whether
    # the view is rebuilt or refreshed
    monkeypatch.setattr(
        TableStore, "_plain_event_df", hold_first(TableStore._plain_event_df)
    )
    monkeypatch.setattr(
        Catalog, "refreshTable", hold_first(Catalog.refreshTable)
    )
    first.start()
    assert held.wait(timeout=60)
    second = threading.Thread(
        target=store.append_events, args=("raw_events", [_raw_row("two")])
    )
    second.start()
    second.join(timeout=60)
    second_done.set()
    first.join(timeout=60)
    assert not first.is_alive() and not second.is_alive()
    ids = {r.id for r in spark.table("raw_events").collect()}
    assert ids == {"one", "two"} | ({"seed"} if seeded else set())


def test_concurrent_append_stress_loses_no_rows(spark, tmp_path):
    """More appending threads than cores, with frequent thread switches:
    once every append has returned, the view lists every row."""
    import sys
    import threading

    store = TableStore(spark, str(tmp_path / "s"))
    ids = [f"t{t}-{i}" for t in range(8) for i in range(3)]

    def work(t):
        for i in range(3):
            store.append_events("raw_events", [_raw_row(f"t{t}-{i}")])

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=work, args=(t,)) for t in range(8)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not any(th.is_alive() for th in threads)
    assert {r.id for r in spark.table("raw_events").collect()} == set(ids)


def test_second_store_in_session_does_not_steal_refresh(spark, tmp_path):
    """Temp view names are per session: once another store has registered
    the event views, an append to the first store must point the views
    back at its own files, not refresh the other store's."""
    a = TableStore(spark, str(tmp_path / "a"))
    a.append_events("raw_events", [_raw_row("a1")])
    b = TableStore(spark, str(tmp_path / "b"))
    b.append_events("raw_events", [_raw_row("b1")])
    a.append_events("raw_events", [_raw_row("a2")])
    assert {r.id for r in spark.table("raw_events").collect()} == {"a1", "a2"}


def test_corrupt_bucket_spec_warns_and_reads_plain_view(
    spark, tmp_path, capsys
):
    """An unreadable bucket spec falls back to the plain parquet view, as
    a missing one does, but says so on stderr, naming the file."""
    store = TableStore(spark, str(tmp_path / "s"))
    store.append_events("raw_events", [_raw_row("r1"), _raw_row("r2")])
    spec = store._bucket_spec_path("raw_events")
    with open(spec, "w") as fh:
        fh.write("{not json")
    capsys.readouterr()
    reopened = TableStore(spark, str(tmp_path / "s"))
    reopened.append_events("raw_events", [_raw_row("r3")])
    assert {r.id for r in spark.table("raw_events").collect()} == {
        "r1",
        "r2",
        "r3",
    }
    err = capsys.readouterr().err
    assert "WARNING: bucket spec" in err and spec in err
