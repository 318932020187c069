"""Contract of ``session.local_relation``: the one way to build a tiny
driver-side relation. It must equal the list-built frame
(``spark.createDataFrame(rows, schema)``) in schema and rows, keep
NULLs, integer types and exact doubles, and plan as a
``LocalRelation`` (never a ``LogicalRDD``), empty rows included."""

from __future__ import annotations

import datetime
import math
import random
import struct

import pytest
from pyspark.sql.types import StructType

from workhop2_etl_spark.session import arrow_table, local_relation

MIXED = "a long, b double, c string, d array<double>, e int"
MIXED_ROWS = [
    (1, 0.1, "x", [1.0, None, -0.0], None),
    (None, None, None, None, 3),
    (2**62, 1 / 3, "", [], None),
    (-(2**63), float("inf"), "ü", [5e-324], -(2**31)),
]


def _leaf(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().getClass().getSimpleName()


def _bits(x: float) -> bytes:
    return struct.pack("<d", x)


@pytest.mark.parametrize("as_struct", [False, True])
def test_local_relation_equals_list_built_frame(spark, as_struct):
    schema = StructType.fromDDL(MIXED) if as_struct else MIXED
    got = local_relation(spark, MIXED_ROWS, schema)
    want = spark.createDataFrame(MIXED_ROWS, schema)
    assert _leaf(got) == "LocalRelation"
    assert _leaf(want) == "LogicalRDD"
    assert got.schema == want.schema
    assert got.collect() == want.collect()


def test_local_relation_keeps_nulls_and_integer_types(spark):
    got = local_relation(spark, MIXED_ROWS, MIXED)
    assert dict(got.dtypes) == {
        "a": "bigint", "b": "double", "c": "string",
        "d": "array<double>", "e": "int",
    }
    rows = got.collect()
    assert rows[1].asDict() == {"a": None, "b": None, "c": None, "d": None, "e": 3}
    # a nullable int column holds ints (a pandas round trip would
    # have turned it into floats)
    assert [r.e for r in rows] == [None, 3, None, -(2**31)]
    assert all(isinstance(r.a, int) for r in rows if r.a is not None)
    assert rows[0].d == [1.0, None, -0.0]


def test_local_relation_doubles_round_trip_bit_exactly(spark):
    rnd = random.Random(7)
    vals = [rnd.random() * 10 ** rnd.randint(-300, 300) for _ in range(500)]
    vals += [-0.0, 0.0, 5e-324, 2.2250738585072014e-308, 1 / 3, float("-inf")]
    got = local_relation(spark, [(v, [v, -v]) for v in vals], "v double, w array<double>")
    for row, v in zip(got.collect(), vals):
        assert _bits(row.v) == _bits(v)
        assert [_bits(x) for x in row.w] == [_bits(v), _bits(-v)]
    nan = local_relation(spark, [(float("nan"),)], "v double").collect()[0].v
    assert math.isnan(nan)


@pytest.mark.parametrize("as_struct", [False, True])
def test_local_relation_empty_is_empty_local_relation(spark, as_struct):
    schema = StructType.fromDDL(MIXED) if as_struct else MIXED
    got = local_relation(spark, [], schema)
    plan = got._jdf.queryExecution().optimizedPlan()
    assert plan.getClass().getSimpleName() == "LocalRelation"
    assert plan.data().isEmpty()
    assert got.schema == spark.createDataFrame([], schema).schema
    assert got.collect() == []


def test_local_relation_keeps_struct_schema_nullability(spark):
    schema = StructType.fromDDL("k int not null, t string")
    got = local_relation(spark, [(1, "a"), (2, None)], schema)
    assert got.schema == schema
    assert got.schema == spark.createDataFrame([(1, "a")], schema).schema
    assert [tuple(r) for r in got.collect()] == [(1, "a"), (2, None)]


def test_local_relation_reads_naive_timestamps_like_the_list_path(spark):
    ts = datetime.datetime(2024, 3, 1, 12, 30, 5, 123456)
    rows = [(ts, 1), (None, 2)]
    got = local_relation(spark, rows, "ts timestamp, n int")
    want = spark.createDataFrame(rows, "ts timestamp, n int")
    assert got.collect() == want.collect()


def test_arrow_table_is_typed_by_the_spark_schema():
    table = arrow_table([(1, None), (None, [2.5])], "a int, b array<double>")
    assert str(table.schema.field("a").type) == "int32"
    assert str(table.schema.field("b").type) == "list<element: double>"
    assert table.column("a").to_pylist() == [1, None]
    assert arrow_table([], "a int").num_rows == 0
