"""Payload-shape edge cases through the transform executor: the dynamic
per-event schema inference must survive whatever JSON arrives."""

from __future__ import annotations

import pytest

from duckdb_webhook_gateway_spark.engine import execute_transform, payload_to_df


def test_unicode_payload(spark):
    result = execute_transform(
        spark, "SELECT name, city FROM {{payload}}",
        {"name": "José Müller", "city": "北京"},
    )
    assert result == {"name": "José Müller", "city": "北京"}


def test_null_values(spark):
    result = execute_transform(
        spark, "SELECT a, b FROM {{payload}}", {"a": None, "b": 1}
    )
    assert result == {"a": None, "b": 1}


def test_deeply_nested(spark):
    payload = {"l1": {"l2": {"l3": {"l4": "deep"}}}}
    result = execute_transform(
        spark, "SELECT l1.l2.l3.l4 AS v FROM {{payload}}", payload
    )
    assert result == {"v": "deep"}


def test_mixed_numeric_rows(spark):
    # int + float across rows of a list payload -> widened to double
    result = execute_transform(
        spark,
        "SELECT sum(x) AS total FROM {{payload}}",
        [{"x": 1}, {"x": 2.5}],
    )
    assert result == {"total": 3.5}


def test_heterogeneous_keys_across_rows(spark):
    # rows with different keys: missing fields are null (like the reference's
    # pandas DataFrame construction)
    result = execute_transform(
        spark,
        "SELECT a, b FROM {{payload}} ORDER BY a NULLS LAST",
        [{"a": 1}, {"b": 2}],
    )
    assert result == {"results": [{"a": 1, "b": None}, {"a": None, "b": 2}]}


def test_empty_list_payload(spark):
    assert execute_transform(spark, "SELECT * FROM {{payload}}", []) == {}


def test_large_array_field(spark):
    payload = {"xs": list(range(1000))}
    result = execute_transform(
        spark,
        "SELECT size(xs) AS n, aggregate(xs, 0L, (a, x) -> a + x) AS total "
        "FROM {{payload}}",
        payload,
    )
    assert result == {"n": 1000, "total": sum(range(1000))}


def test_bool_and_string_types_preserved(spark):
    result = execute_transform(
        spark, "SELECT flag, label FROM {{payload}}",
        {"flag": True, "label": "x"},
    )
    assert result == {"flag": True, "label": "x"}


def test_scalar_payload_rejected(spark):
    with pytest.raises(TypeError):
        payload_to_df(spark, "just a string")


@pytest.mark.parametrize(
    "payload",
    [
        {"s": "${env:HOME}", "t": "${system:user.name} ${spark.app.name} ${x}"},
        {"${env:HOME}": 1, "k": "$"},
        [{"s": "${env:HOME}"}, {"s": 1}],  # typed by spark.read.json
    ],
)
def test_variable_references_in_payload_come_back_unchanged(spark, payload):
    # Spark rewrites ${...} in SQL text before parsing; the payload is bound
    # into the query text, so none of its bytes may reach that pass.
    result = execute_transform(spark, "SELECT * FROM {{payload}}", payload)
    if isinstance(payload, list):
        assert result == {"results": [{"s": "${env:HOME}"}, {"s": "1"}]}
    else:
        assert result == payload
