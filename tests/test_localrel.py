"""``local_rows_df``: driver rows → an Arrow-backed local relation.

Every value type the lake and operator callers pass must round-trip
exactly as ``createDataFrame(list, schema)`` would deliver it, and the
frame must plan as a ``LocalRelation`` so ``collect()`` / ``take()``
run no Spark job at any of the sizes folds and reports produce."""

import datetime
import decimal
import math

import pytest
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DateType,
    DecimalType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from icebergplus_spark.localrel import attached_rows, local_rows_df

SCHEMA = StructType(
    [
        StructField("b", BooleanType()),
        StructField("i", IntegerType()),
        StructField("l", LongType(), False),
        StructField("d", DoubleType()),
        StructField("s", StringType()),
        StructField("bin", BinaryType()),
        StructField("dec", DecimalType(12, 3)),
        StructField("dt", DateType()),
        StructField("ts", TimestampType()),
        # COUNT DISTINCT value sets are declared containsNull=False
        StructField("set", ArrayType(LongType(), False)),
        StructField("strs", ArrayType(StringType())),
    ]
)

ROWS = [
    (
        True,
        7,
        7_000_000_000,
        float("nan"),
        "hello",
        b"\x00\xff",
        decimal.Decimal("-12.345"),
        datetime.date(1996, 3, 1),
        datetime.datetime(1996, 3, 1, 12, 30, 45, 123456),
        [3, 1, 2],
        ["a", None],
    ),
    (
        False,
        -3,
        -1,
        -9.75,
        "",
        b"",
        decimal.Decimal("0.001"),
        datetime.date(2001, 12, 31),
        datetime.datetime(2001, 12, 31, 23, 59, 59),
        [],
        [],
    ),
    (None, None, 0, None, None, None, None, None, None, None, None),
]


def _canon(rows):
    """Rows as comparable tuples (NaN != NaN, so map it to a marker)."""
    return [
        tuple(
            "NaN" if isinstance(v, float) and math.isnan(v) else v
            for v in r
        )
        for r in rows
    ]


def _jobs(spark):
    ids = spark.sparkContext.statusTracker().getJobIdsForGroup(None)
    return max(ids) if ids else -1


def test_round_trip_matches_create_dataframe(spark):
    df = local_rows_df(spark, ROWS, SCHEMA)
    ref = spark.createDataFrame(ROWS, SCHEMA)
    assert df.schema == SCHEMA
    assert _canon(df.collect()) == _canon(ref.collect()) == _canon(ROWS)


@pytest.mark.parametrize("tz", ["UTC", "America/Los_Angeles", "Asia/Kolkata"])
def test_naive_datetime_names_the_same_instant(spark, tz):
    """A naive datetime means what it means to ``createDataFrame(list)``
    under whatever session time zone is current."""
    old = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", tz)
    try:
        ts = [(datetime.datetime(2020, 1, 2, 3, 4, 5, 678901),), (None,)]
        got = local_rows_df(spark, ts, "ts timestamp")
        ref = spark.createDataFrame(ts, "ts timestamp")
        expr = "unix_micros(ts) AS us"
        assert got.selectExpr(expr).collect() == ref.selectExpr(expr).collect()
        assert got.collect() == ref.collect()
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)


def test_ddl_schema_and_dict_rows(spark):
    df = local_rows_df(
        spark,
        [{"v": "x", "k": 1}, {"k": 2, "v": None}],
        "k long, v string",
    )
    assert df.schema.simpleString() == "struct<k:bigint,v:string>"
    assert [tuple(r) for r in df.collect()] == [(1, "x"), (2, None)]
    # attached rows follow the schema's field order, not the dict's
    assert [tuple(r) for r in attached_rows(df)] == [(1, "x"), (2, None)]


def test_empty_frame_keeps_declared_nullability(spark):
    schema = StructType(
        [
            StructField("k", LongType(), False),
            StructField("v", StringType(), True),
            StructField("set", ArrayType(LongType(), False), False),
        ]
    )
    df = local_rows_df(spark, [], schema)
    assert df.schema == schema
    assert df.collect() == []
    assert attached_rows(df) == []


@pytest.mark.parametrize("n", [0, 1, 9, 1200])
def test_actions_run_no_spark_job(spark, n):
    rows = [(i, f"v{i}", float(i) / 3) for i in range(n)]
    df = local_rows_df(spark, rows, "k long, v string, x double")
    plan = df._jdf.queryExecution().optimizedPlan()
    assert plan.getClass().getSimpleName() == "LocalRelation"
    j0 = _jobs(spark)
    assert [tuple(r) for r in df.collect()] == rows
    assert [tuple(r) for r in df.take(2)] == rows[:2]
    assert _jobs(spark) == j0
