"""local_relation: driver-local rows as a JVM LocalRelation (guide §4.1).

Pins the r15 optimization that replaced `createDataFrame(list)` (a
pickled-RDD scan that launches a Python worker per task per job) on the
engine's driver-size frames: globalorder offsets, Misra-Gries summaries,
IVF centroids, property-query outputs, avro split lists."""

from __future__ import annotations

import datetime
import math
from decimal import Decimal

import pytest

from bdt_spark.operators.localrel import local_relation


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


CASES = [
    (
        [(0, 10, Decimal("123.45678901"), None), (1, None, None, 2.5)],
        "pid int, cnt bigint, m decimal(30,8), d double",
    ),
    (
        [("a'b\\c", True, b"\x01\xff", datetime.date(2020, 1, 2))],
        "s string, b boolean, bin binary, dt date",
    ),
    (
        [(1, [1.5, float("nan"), float("inf")]), (2, [])],
        "id int, arr array<double>",
    ),
    ([(datetime.datetime(2021, 3, 4, 5, 6, 7, 123456),)], "ts timestamp"),
]


@pytest.mark.parametrize("rows,ddl", CASES, ids=[c[1][:20] for c in CASES])
def test_matches_create_dataframe(spark, rows, ddl):
    a = local_relation(spark, rows, ddl)
    b = spark.createDataFrame(rows, ddl)
    assert a.schema.simpleString() == b.schema.simpleString()
    ka = sorted(map(str, a.collect()))
    kb = sorted(map(str, b.collect()))
    assert ka == kb
    assert "LocalTableScan" in _plan(a)
    assert "ExistingRDD" not in _plan(a)


def test_double_bit_exact(spark):
    vals = [0.1, 1e-300, 1.7976931348623157e308, -0.0, 2.5000000000000004]
    got = local_relation(
        spark, [(v,) for v in vals], "d double"
    ).collect()
    assert [r.d for r in got] == vals
    nan = local_relation(spark, [(float("nan"),)], "d double").collect()
    assert math.isnan(nan[0].d)


def test_empty_rows(spark):
    df = local_relation(spark, [], "x int, y string")
    assert df.count() == 0
    assert df.schema.simpleString() == "struct<x:int,y:string>"


def test_empty_generator(spark):
    """An empty iterator is the empty relation, like an empty list (the
    emptiness check runs on the normalized rows, not the consumed
    generator)."""
    df = local_relation(spark, iter([]), "x int, y string")
    assert df.count() == 0
    assert df.schema.simpleString() == "struct<x:int,y:string>"


def test_unsupported_type_falls_back(spark):
    # map type is not rendered — must silently fall back, same data
    rows = [({"a": 1},)]
    df = local_relation(spark, rows, "m map<string,int>")
    assert df.collect()[0].m == {"a": 1}


def test_rows_from_collect_roundtrip(spark):
    src = spark.sql(
        "SELECT id AS vec_id, array(CAST(id AS DOUBLE), 0.5) AS e "
        "FROM range(4)"
    )
    rows = src.collect()
    back = local_relation(spark, rows, src.schema)
    assert sorted(map(str, back.collect())) == sorted(map(str, rows))
    assert "LocalTableScan" in _plan(back)


# --- ADVICE r15 fixes: nullability parity, row normalization, parser guard ---


def test_declared_nullability_parity(spark):
    # nullable-declared columns with no NULL rows must come back
    # nullable=True, as createDataFrame returns them (ADVICE r15 #1)
    a = local_relation(spark, [(1, "x")], "a bigint, b string")
    b = spark.createDataFrame([(1, "x")], "a bigint, b string")
    assert [f.nullable for f in a.schema.fields] == [
        f.nullable for f in b.schema.fields
    ]
    assert "LocalTableScan" in _plan(a)


def test_non_nullable_none_raises(spark):
    from pyspark.sql.types import LongType, StructField, StructType

    s = StructType([StructField("a", LongType(), False)])
    df = local_relation(spark, [(1,), (2,)], s)
    assert not df.schema.fields[0].nullable
    assert [r.a for r in df.collect()] == [1, 2]
    with pytest.raises(ValueError, match="not nullable"):
        local_relation(spark, [(1,), (None,)], s)


def test_scalar_row_fallback_parity(spark):
    # scalar (non-tuple) rows must work through BOTH the render path and
    # the createDataFrame fallback (ADVICE r15 #2); map type forces the
    # fallback
    got = local_relation(spark, [1, 2], "x int")
    assert sorted(r.x for r in got.collect()) == [1, 2]
    fb = local_relation(spark, [{"a": 1}, {"b": 2}], "m map<string,int>")
    assert sorted(str(r.m) for r in fb.collect()) == [
        "{'a': 1}",
        "{'b': 2}",
    ]


def test_escaped_string_literals_guard(spark):
    # under escapedStringLiterals the VALUES renderer's escaping is
    # wrong — local_relation must detect the session conf and fall back
    # (ADVICE r15 #3); the data must still round-trip exactly
    rows = [("a'b\\c",), ("plain",)]
    key = "spark.sql.parser.escapedStringLiterals"
    spark.conf.set(key, "true")
    try:
        df = local_relation(spark, rows, "s string")
        assert sorted(r.s for r in df.collect()) == sorted(
            r[0] for r in rows
        )
    finally:
        spark.conf.set(key, "false")


# --- one Arrow path: the types and sizes the old VALUES renderer sent to
# the pickled-RDD createDataFrame fallback ---


def test_arrow_path_covers_every_type_and_size(spark):
    src = spark.sql(
        "SELECT id, named_struct('a', id, 'b', CAST(id AS STRING)) AS s "
        "FROM range(3)"
    )
    cases = [
        ([(1, {"a": 1, "b": None}), (2, {})], "id int, m map<string,int>"),
        (src.collect(), src.schema),
        (
            [(datetime.datetime(2021, 3, 4, 5, 6, 7, 123456),), (None,)],
            "ts timestamp_ntz",
        ),
        # its VALUES rendering is ~9 MB, over the old 4 MB cap
        ([(i, i / 7) for i in range(200_000)], "i int, d double"),
    ]
    for rows, schema in cases:
        a = local_relation(spark, rows, schema)
        b = spark.createDataFrame(rows, schema)
        assert a.schema == b.schema
        assert a.collect() == b.collect()
        assert "LocalTableScan" in _plan(a)
        assert "ExistingRDD" not in _plan(a)
