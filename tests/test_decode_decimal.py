"""Decimal columns decode through the one Arrow kernel: payload numbers
parse as float64 and take Arrow's float64 → decimal cast, the same cast
Spark's own Arrow serializer applies to a pandas float column. Half-way
cases round the way that cast does; a malformed payload in a decimal
batch is quarantined by the row-isolation fallback; a value the decimal
cannot hold fails the batch."""

from __future__ import annotations

from decimal import Decimal

import pytest
from pyspark.sql import types as T

from data_pipeline_spark.functions.decode import decode_events

SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType()),
    T.StructField("turn_idx", T.IntegerType()),
    T.StructField("amount", T.DecimalType(10, 2)),
    T.StructField("text", T.StringType()),
])
ENVELOPE = "lsn long, op string, conv_id string, turn_idx int, payload string"

#: payload number -> the decimal(10,2) it decodes to
PROBES = [
    ("1.005", "1.00"),
    ("2.675", "2.67"),
    ("-3.335", "-3.33"),
    ("0.125", "0.12"),
    ("99999999.994", "99999999.99"),
    ("0", "0.00"),
    ("42", "42.00"),
    ("10.1", "10.10"),
]


def _raw(spark, payloads):
    return spark.createDataFrame(
        [(i + 1, "I", f"c{i}", 0, p) for i, p in enumerate(payloads)], ENVELOPE
    )


def _amounts(df) -> list:
    return [r["amount"] for r in df.orderBy("lsn").collect()]


def test_decimal_payloads_round_like_arrow_cast(spark):
    raw = _raw(spark, ['{"amount": %s, "text": "t"}' % v for v, _ in PROBES])
    assert _amounts(decode_events(raw, SCHEMA)) == [Decimal(d) for _, d in PROBES]


def test_decimal_schema_plans_one_map_in_arrow(spark):
    raw = _raw(spark, ['{"amount": 1.5}'])
    plan = decode_events(raw, SCHEMA)._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan
    assert "MapInPandas" not in plan


def test_decimal_batch_quarantines_malformed_row(spark):
    payloads = ['{"amount": %s}' % v for v, _ in PROBES[:3]] + ['{"amount": 1.5']
    out = decode_events(_raw(spark, payloads), SCHEMA, with_validity=True)
    rows = out.orderBy("lsn").collect()
    assert [r["_valid"] for r in rows] == [True, True, True, False]
    assert rows[3]["_error"] and rows[3]["_payload"] == payloads[3]
    assert [r["amount"] for r in rows[:3]] == [Decimal(d) for _, d in PROBES[:3]]


def test_decimal_out_of_range_fails_batch(spark):
    raw = _raw(spark, ['{"amount": 1.5}', '{"amount": 12345678901.5}'])
    with pytest.raises(Exception, match="overflow"):
        decode_events(raw, SCHEMA).collect()
