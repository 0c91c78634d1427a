"""SparkSession factory with cluster-honest defaults.

Local testing runs on local[N]; on a real cluster the same settings apply
(AQE, Arrow, sensible shuffle partition counts). Nothing here assumes
single-JVM execution.
"""

from __future__ import annotations

import os
from datetime import timezone

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import types as T


def get_spark(
    app_name: str = "dbimport_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    master defaults to local[$SPARK_GRAFT_CPUS] (32 in the sandbox); on a
    real deployment pass master=None and let spark-submit decide.

    DataFrame call-site capture (``spark.python.sql.dataFrameDebugging.
    enabled``) is off: on every Column function call PySpark walks the
    Python stack and makes extra py4j round trips, so a merge-on-read
    window costs ~1560 round trips instead of ~640. With it off, a
    DataFrame error message lacks the Python line that built the failing
    expression; pass ``extra_conf={"spark.python.sql.dataFrameDebugging.
    enabled": "true"}`` to get it back. PySpark reads the setting once per
    process, at the first Column call under an active session.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # match parallelism; AQE coalesces down when partitions are tiny
        n = master[len("local[") : -1] if master.startswith("local[") else str(cpus)
        shuffle_partitions = cpus if n == "*" else int(n)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # token-array rows make sort spill expensive; shuffled-hash join
        # beats sort-merge for the engine's co-partitioned merges
        .config("spark.sql.join.preferSortMergeJoin", "false")
        # the engine co-partitions merge inputs by _bucket (a strict subset
        # of the join keys); allow that partitioning to satisfy the join
        # instead of forcing a re-exchange on all keys
        .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # INT64 micros instead of legacy INT96: parquet footers then carry
        # min/max statistics for timestamp columns, which the lake records
        # per data file (DataFile.stats) and the incremental exporter uses
        # to prune untouched buckets from metadata alone. INT96 files from
        # older commits stay readable; they simply carry no stats.
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.sql.parquet.compression.codec", "snappy")
        # no Python call-site capture per Column call: one 5k-event
        # merge-on-read window made 1560 py4j round trips with it, 640 without
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def local_frame(spark: SparkSession, rows, schema: T.StructType | str) -> DataFrame:
    """A DataFrame over driver-side rows, built through Arrow.

    ``spark.createDataFrame(rows, schema)`` wraps a Python list in a Python
    RDD, so every Spark job that scans the frame starts Python worker tasks
    to unpickle it again (~0.4 s per job at local[4]). An Arrow table is
    handed to the JVM once, and jobs over it start no Python worker.

    ``rows`` hold tuples in schema order, dicts or keyword ``Row``s by
    field name, the same forms ``createDataFrame`` takes (nested structs
    likewise); ``schema`` is a ``StructType`` or its DDL string. Naive
    datetimes are read as UTC, the session time zone that ``get_spark``
    sets.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T.DataType.fromDDL(schema)
    if not isinstance(schema, T.StructType):
        raise TypeError(f"local_frame needs a struct schema, got {schema!r}")

    def by_name(v, st: T.StructType) -> tuple:
        if isinstance(v, dict):
            return tuple(v.get(n) for n in st.names)
        if isinstance(v, Row) and getattr(v, "__from_dict__", False):
            return tuple(v[n] for n in st.names)
        return tuple(v)

    def conv(v, dt: T.DataType):
        if v is None:
            return None
        if isinstance(dt, T.StructType):
            return {
                f.name: conv(x, f.dataType) for f, x in zip(dt.fields, by_name(v, dt))
            }
        if isinstance(dt, T.ArrayType):
            return [conv(x, dt.elementType) for x in v]
        if isinstance(dt, T.MapType):
            return [(conv(k, dt.keyType), conv(x, dt.valueType)) for k, x in v.items()]
        if isinstance(dt, T.TimestampType) and v.tzinfo is not None:
            return v.astimezone(timezone.utc).replace(tzinfo=None)
        return v

    def needs_conv(dt: T.DataType) -> bool:
        if isinstance(dt, T.ArrayType):
            return needs_conv(dt.elementType)
        return isinstance(dt, (T.StructType, T.MapType, T.TimestampType))

    tuples = [by_name(r, schema) for r in rows]
    arrow = to_arrow_schema(schema)
    cols = []
    for i, f in enumerate(schema.fields):
        vals = [r[i] for r in tuples]
        if needs_conv(f.dataType):
            vals = [conv(v, f.dataType) for v in vals]
        cols.append(pa.array(vals, type=arrow.field(i).type))
    return spark.createDataFrame(pa.Table.from_arrays(cols, schema=arrow), schema)


def collect_local(df: DataFrame) -> list[tuple]:
    """The rows of a frame as tuples that ``local_frame`` reads back
    unchanged.

    Over a ``local_frame`` (projections and filters of one) Spark folds the
    plan into a local relation on the driver, so this runs no Spark job.
    ``collect()`` hands timestamps back as naive local-time datetimes,
    which ``local_frame`` would read as UTC; here they come back time-zone
    aware.
    """

    def aware(v, dt: T.DataType):
        if v is None:
            return None
        if isinstance(dt, T.TimestampType):
            return v.astimezone(timezone.utc)
        if isinstance(dt, T.ArrayType):
            return [aware(x, dt.elementType) for x in v]
        if isinstance(dt, T.StructType):
            return tuple(aware(x, f.dataType) for f, x in zip(dt.fields, v))
        if isinstance(dt, T.MapType):
            return {aware(k, dt.keyType): aware(x, dt.valueType) for k, x in v.items()}
        return v

    types = [f.dataType for f in df.schema.fields]
    return [tuple(aware(v, dt) for v, dt in zip(r, types)) for r in df.collect()]
