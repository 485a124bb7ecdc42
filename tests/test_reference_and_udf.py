"""Reference tables + runtime UDFs, mirroring the reference's
tests/test_reference_and_udf.py:17-444 and tests/test_integration.py:291-469."""

from __future__ import annotations

import os

import pytest

from duckdb_webhook_gateway_spark.engine import WebhookConfig, execute_transform
from duckdb_webhook_gateway_spark.engine.reference_tables import (
    ReferenceTableManager,
    ref_table_name,
    sanitize_table_name,
)
from duckdb_webhook_gateway_spark.engine.udfs import map_return_type, udf_full_name
from pyspark.sql import types as T


def test_sanitize_table_name():
    # reference: src/app.py:606-607
    assert sanitize_table_name("my-table!x") == "my_table_x"
    assert sanitize_table_name("ok_name2") == "ok_name2"


def test_upload_and_join_in_transform(gateway, spark, reference_table_rows, sample_payload):
    # reference: tests/test_reference_and_udf.py:185-212 — join payload's
    # nested.key2 against the reference table id... with key2=123 no match,
    # so use the canonical id join on item ids.
    rec = gateway.register_webhook(
        WebhookConfig(
            source_path="/reftest",
            destination_url="http://example.com/x",
            transform_query="SELECT * FROM {{payload}}",
        )
    )
    wid = rec["id"]
    df = spark.createDataFrame(reference_table_rows)
    gateway.ref_tables.upload(wid, "items", df, description="test items")
    full = ref_table_name(wid, "items")

    result = execute_transform(
        spark,
        f"SELECT p.nested.key1 AS k1, r.name AS item_name, r.category AS category "
        f"FROM {{{{payload}}}} p JOIN {full} r ON r.id = 1",
        sample_payload,
    )
    assert result == {"k1": "value1", "item_name": "Item 1", "category": "A"}


def test_left_join_enrichment(gateway, spark):
    # FIXTURES.md §7 (reference: tests/test_integration.py:291-337)
    rec = gateway.register_webhook(
        WebhookConfig(
            source_path="/users",
            destination_url="http://example.com/x",
            transform_query="SELECT * FROM {{payload}}",
        )
    )
    wid = rec["id"]
    users = spark.createDataFrame(
        [
            (1, "john_doe", "engineering", "developer"),
            (2, "jane_smith", "product", "manager"),
            (3, "bob_jones", "engineering", "devops"),
        ],
        ["user_id", "username", "department", "role"],
    )
    gateway.ref_tables.upload(wid, "users", users)
    full = ref_table_name(wid, "users")
    result = execute_transform(
        spark,
        f"SELECT e.event_id, e.username, u.department, u.role "
        f"FROM {{{{payload}}}} e LEFT JOIN {full} u ON e.username = u.username",
        {"event_id": "event123", "username": "jane_smith", "action": "login"},
    )
    assert result == {
        "event_id": "event123",
        "username": "jane_smith",
        "department": "product",
        "role": "manager",
    }


def test_reupload_replaces(gateway, spark, reference_table_rows):
    # reference: tests/test_reference_and_udf.py:82-153
    rec = gateway.register_webhook(
        WebhookConfig(
            source_path="/rt2",
            destination_url="http://example.com/x",
            transform_query="SELECT * FROM {{payload}}",
        )
    )
    wid = rec["id"]
    gateway.ref_tables.upload(wid, "t", spark.createDataFrame(reference_table_rows))
    assert gateway.ref_tables.table(wid, "t").count() == 3
    gateway.ref_tables.upload(
        wid, "t", spark.createDataFrame([{"id": 9, "name": "only"}])
    )
    rows = gateway.ref_tables.table(wid, "t").collect()
    assert len(rows) == 1 and rows[0].id == 9
    # metadata upserted in place — one row for (webhook, table)
    assert len(gateway.ref_tables.list(wid)) == 1


def test_unreadable_reference_table_warns_on_reload(gateway, spark, capfd):
    """A persisted reference table that no longer reads is left
    unregistered, with a stderr warning naming its directory."""
    broken = os.path.join(gateway.ref_tables.data_dir, "ref_broken")
    os.makedirs(broken)
    with open(os.path.join(broken, "part-0.parquet"), "wb") as fh:
        fh.write(b"not parquet")
    capfd.readouterr()
    ReferenceTableManager(gateway.store)
    err = capfd.readouterr().err
    assert "WARNING: reference table 'ref_broken'" in err and broken in err
    assert not spark.catalog.tableExists("ref_broken")


def test_csv_reader(gateway, tmp_path):
    csv = tmp_path / "users.csv"
    csv.write_text(
        "user_id,username,department,role\n"
        "1,john_doe,engineering,developer\n"
        "2,jane_smith,product,manager\n"
    )
    df = gateway.ref_tables.read_upload(str(csv))
    assert df.schema["user_id"].dataType == T.IntegerType()
    assert df.count() == 2


def test_unsupported_format_rejected(gateway, tmp_path):
    # reference: src/app.py:1023-1024 (400 for non-CSV/JSON)
    xlsx = tmp_path / "nope.xlsx"
    xlsx.write_text("junk")
    with pytest.raises(ValueError):
        gateway.ref_tables.read_upload(str(xlsx))


# -- UDFs ------------------------------------------------------------------
def test_type_mapping():
    # reference: src/app.py:726-734
    def f_str(x: str) -> str: ...
    def f_int(x: str) -> int: ...
    def f_float(x: str) -> float: ...
    def f_bool(x: str) -> bool: ...
    def f_none(x: str): ...

    assert map_return_type(f_str) == T.StringType()
    assert map_return_type(f_int) == T.IntegerType()
    assert map_return_type(f_float) == T.DoubleType()
    assert map_return_type(f_bool) == T.BooleanType()
    assert map_return_type(f_none) == T.StringType()  # default VARCHAR


def test_udf_register_and_use(gateway, spark):
    # reference: tests/test_reference_and_udf.py:332-429
    rec = gateway.register_webhook(
        WebhookConfig(
            source_path="/udf1",
            destination_url="http://example.com/x",
            transform_query="SELECT * FROM {{payload}}",
        )
    )
    wid = rec["id"]
    gateway.udfs.register(
        wid,
        "extract_domain",
        "def extract_domain(email: str) -> str:\n"
        "    return email.split('@')[1] if '@' in email else ''\n",
    )
    name = udf_full_name(wid, "extract_domain")
    result = execute_transform(
        spark,
        f"SELECT user_id, {name}(email) AS domain FROM {{{{payload}}}}",
        {"user_id": 123, "email": "user@example.com", "name": "Test User"},
    )
    assert result == {"user_id": 123, "domain": "example.com"}


def test_udf_reregistration_replaces(gateway, spark):
    # reference: tests/test_reference_and_udf.py:270-330
    rec = gateway.register_webhook(
        WebhookConfig(
            source_path="/udf2",
            destination_url="http://example.com/x",
            transform_query="SELECT * FROM {{payload}}",
        )
    )
    wid = rec["id"]
    gateway.udfs.register(wid, "fn", "def fn(x: str) -> str:\n    return x.upper()\n")
    gateway.udfs.register(wid, "fn", "def fn(x: str) -> str:\n    return x.lower()\n")
    name = udf_full_name(wid, "fn")
    result = execute_transform(
        spark, f"SELECT {name}(v) AS out FROM {{{{payload}}}}", {"v": "MiXeD"}
    )
    assert result == {"out": "mixed"}
    assert len(gateway.udfs.list(wid)) == 1  # upserted, not duplicated


def test_invalid_udf_code_rejected(gateway):
    # reference: tests/test_reference_and_udf.py:431-444
    with pytest.raises(Exception):
        gateway.udfs.register("whatever", "fn", "this is not python")
    with pytest.raises(ValueError):
        gateway.udfs.register("whatever", "fn", "def other():\n    pass\n")


def test_broken_stored_udf_warns_and_is_skipped(gateway, capfd):
    """Stored code that no longer compiles is skipped on reload, with a
    stderr warning naming the webhook and the function."""
    gateway.udfs.register("wh-1", "good", "def good(x: str) -> str:\n    return x\n")
    gateway.udfs.register("wh-1", "bad", "def bad(x: str) -> str:\n    return x\n")

    def _break(rows):
        for row in rows:
            if row["function_name"] == "bad":
                row["function_code"] = "this is not python"

    gateway.store.mutate_catalog("python_udfs", _break)
    capfd.readouterr()
    assert gateway.udfs.load_webhook_udfs("wh-1") == 1
    err = capfd.readouterr().err
    assert "WARNING: stored UDF 'bad' of webhook 'wh-1'" in err


def test_udfs_loaded_before_processing(gateway, spark):
    """A UDF registered after its webhook resolves on that webhook's next
    ingest: registration puts it in the session (the reference instead
    reloads stored UDFs before every run, src/app.py:1148)."""
    rec = gateway.register_webhook(
        WebhookConfig(
            source_path="/udf3",
            destination_url="http://example.com/x",
            transform_query="SELECT 1 AS one FROM {{payload}}",
        )
    )
    wid = rec["id"]
    gateway.udfs.register(
        wid, "shout", "def shout(x: str) -> str:\n    return x.upper() + '!'\n"
    )
    name = udf_full_name(wid, "shout")
    gateway.catalog.update(
        rec["id"],
        WebhookConfig(
            source_path="/udf3",
            destination_url="http://example.com/x",
            transform_query=f"SELECT {name}(word) AS loud FROM {{{{payload}}}}",
        ),
    )
    outcome = gateway.ingest("/udf3", {"word": "hey"})
    assert outcome.transformed == {"loud": "HEY!"}


def _udf_webhook(gw, path: str) -> str:
    """A webhook whose transform calls its own stored ``shout`` UDF;
    returns the UDF's session name."""
    wid = gw.register_webhook(
        WebhookConfig(path, "http://example.com/x", "SELECT * FROM {{payload}}")
    )["id"]
    gw.udfs.register(
        wid, "shout", "def shout(x: str) -> str:\n    return x.upper() + '!'\n"
    )
    name = udf_full_name(wid, "shout")
    gw.register_webhook(
        WebhookConfig(
            path,
            "http://example.com/x",
            f"SELECT {name}(word) AS loud FROM {{{{payload}}}}",
        )
    )
    return name


def _adhoc(gw, path, name):
    from duckdb_webhook_gateway_spark.engine import run_adhoc_query

    return run_adhoc_query(gw.spark, f"SELECT {name}('hey') AS loud")["result"]


def _ingest(gw, path, name):
    return gw.ingest(path, {"word": "hey"}).transformed


def _stream(gw, path, name):
    import json

    from duckdb_webhook_gateway_spark.streaming import StreamingGateway

    sg = StreamingGateway(gw)
    eid = sg.ingest(path, {"word": "hey"})
    sg.run_available()
    row = (
        gw.spark.table("transformed_events")
        .where(f"raw_event_id = '{eid}'")
        .first()
    )
    return json.loads(row.transformed_payload)


def _replay(gw, path, name):
    return [r.loud for r in gw.replay(path).collect()]


@pytest.mark.parametrize(
    "use, want",
    [
        (_adhoc, [["HEY!"]]),
        (_ingest, {"loud": "HEY!"}),
        (_stream, {"loud": "HEY!"}),
        (_replay, ["HEY!"]),
    ],
    ids=["run_adhoc_query", "ingest", "run_available", "replay"],
)
def test_stored_udf_registered_when_store_opens(spark, tmp_path, use, want):
    """Opening a store registers its stored UDFs: after the session loses
    a UDF (a fresh process), every front end resolves it again from the
    re-opened Gateway, before any event of its webhook arrives."""
    from duckdb_webhook_gateway_spark.engine import Gateway

    workdir = str(tmp_path / "store")
    gw = Gateway(spark, workdir=workdir)
    name = _udf_webhook(gw, "/reopen")
    if use is _replay:
        gw.ingest("/reopen", {"word": "hey"})
    spark.sql(f"DROP TEMPORARY FUNCTION {name}")
    with pytest.raises(Exception, match="UNRESOLVED_ROUTINE"):
        spark.sql(f"SELECT {name}('hey')").collect()
    assert use(Gateway(spark, workdir=workdir), "/reopen", name) == want


def test_ingest_registers_no_udf(gateway, monkeypatch):
    """An ingest on a webhook with a stored UDF registers nothing: the
    UDF entered the session at upload."""
    from pyspark.sql.udf import UDFRegistration

    _udf_webhook(gateway, "/no-reload")
    calls = []
    register = UDFRegistration.register
    monkeypatch.setattr(
        UDFRegistration,
        "register",
        lambda self, *a, **k: calls.append(a[0]) or register(self, *a, **k),
    )
    outcome = gateway.ingest("/no-reload", {"word": "hey"})
    assert outcome.transformed == {"loud": "HEY!"}
    assert calls == []
