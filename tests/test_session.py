import datetime as dt
import decimal

import pytest
from pyspark.sql import Row
from pyspark.sql import types as T

from dbimport_spark.schema import CHANGE_SCHEMA
from dbimport_spark.session import local_frame

WIDE = T.StructType(
    [
        T.StructField("a", T.LongType()),
        T.StructField("s", T.StringType()),
        T.StructField("arr", T.ArrayType(T.IntegerType())),
        T.StructField(
            "st",
            T.StructType(
                [T.StructField("x", T.IntegerType()), T.StructField("y", T.StringType())]
            ),
        ),
        T.StructField("m", T.MapType(T.StringType(), T.LongType())),
        T.StructField("ts", T.TimestampType()),
        T.StructField("d", T.DateType()),
        T.StructField("dec", T.DecimalType(10, 2)),
        T.StructField("f", T.FloatType()),
        T.StructField("b", T.BinaryType()),
        T.StructField("bo", T.BooleanType()),
        T.StructField(
            "aos", T.ArrayType(T.StructType([T.StructField("q", T.IntegerType())]))
        ),
    ]
)


def test_local_frame_equals_create_dataframe(spark):
    """The Arrow-built frame holds the same schema and rows as
    ``createDataFrame`` for every row form it takes: tuples, dicts and
    keyword Rows, nested structs, maps, nulls at every level, and naive
    and zone-aware timestamps."""
    plus2 = dt.timezone(dt.timedelta(hours=2))
    rows = [
        (1, "x", [1, None, 3], (1, "p"), {"k": 5}, dt.datetime(2024, 1, 2, 3, 4, 5, 6),
         dt.date(2024, 1, 2), decimal.Decimal("1.25"), 1.5, b"ab", True, [(1,), None]),
        (None,) * 12,
        {"a": 3, "s": "z", "arr": [], "st": {"x": 2, "y": None}, "m": {},
         "ts": dt.datetime(2024, 1, 2, tzinfo=plus2), "bo": False, "aos": []},
        Row(a=4, s="w", arr=[7], st=Row(x=3, y="q"), m=None, ts=None, d=None,
            dec=None, f=None, b=None, bo=None, aos=None),
        (5, "v", [8], Row(x=9, y="r"), None, None, None, None, None, None, None, None),
    ]
    want = spark.createDataFrame(rows, WIDE)
    got = local_frame(spark, rows, WIDE)
    assert got.schema == want.schema
    assert got.collect() == want.collect()


def test_local_frame_empty_and_ddl(spark):
    empty = local_frame(spark, [], CHANGE_SCHEMA)
    assert empty.schema == CHANGE_SCHEMA
    assert empty.groupBy("op").count().collect() == []
    ddl = "k string, v array<int>"
    assert local_frame(spark, [("a", [1])], ddl).collect() == (
        spark.createDataFrame([("a", [1])], ddl).collect()
    )
    with pytest.raises(TypeError, match="struct schema"):
        local_frame(spark, [(1,)], "int")


def test_collect_local_round_trips_off_utc(spark, monkeypatch):
    """``collect_local`` over a local frame runs no Spark job and hands
    back rows that ``local_frame`` reads as the same instants, also when
    the Python process is not on UTC (``collect()`` alone returns naive
    local times, which ``local_frame`` reads as UTC)."""
    import time

    from dbimport_spark.session import collect_local

    schema = T.StructType([
        T.StructField("ts", T.TimestampType()),
        T.StructField("arr", T.ArrayType(T.TimestampType())),
        T.StructField("n", T.LongType()),
    ])
    when = dt.datetime(2024, 3, 10, 12, 30, tzinfo=dt.timezone.utc)
    df = local_frame(spark, [(when, [when, None], 7), (None, None, None)], schema)
    sc = spark.sparkContext
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    try:
        sc.setJobGroup("test-collect-local", "collect_local")
        rows = collect_local(df.select("*"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        monkeypatch.delenv("TZ")
        time.tzset()
    assert sc.statusTracker().getJobIdsForGroup("test-collect-local") == []
    assert rows[0] == (when, [when, None], 7) and rows[1] == (None, None, None)
    back = local_frame(spark, rows, schema).collect()
    assert [tuple(r) for r in back] == [tuple(r) for r in df.collect()]
