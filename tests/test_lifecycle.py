"""One table's full life: replay → evolve (add) → declared rename → gap +
repair → incremental exports throughout → incompatible change → declared
full reload — proving the round-3 features COMPOSE, not just pass alone."""

import datetime as dt

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dbimport_spark.lake.evolve import SchemaEvolutionError
from dbimport_spark.plans.engine import CDCEngine
from dbimport_spark.plans.export import ParquetExporter
from dbimport_spark.plans.validate import fold_expected, reconcile
from dbimport_spark.schema import CHANGE_SCHEMA
from dbimport_spark.session import local_frame


def _row(lsn, op, key, toks, src, ts):
    return (lsn, op, key, toks, len(toks) if toks else None, src, ts)


def test_full_lifecycle(spark, tmp_path):
    table = CDCEngine.create_table(
        str(tmp_path / "t"), num_buckets=4, source_label="prod-01"
    )
    hist = CDCEngine.create_history_table(str(tmp_path / "h"), num_buckets=4)
    eng = CDCEngine(
        spark,
        table,
        checkpoint_dir=str(tmp_path / "c"),
        history_table=hist,
        renames={"source": "origin"},
    )
    ex = ParquetExporter(table, str(tmp_path / "out"))

    # 1. initial window
    b1 = local_frame(
        spark,
        [
            _row(1, "I", "k1", [1, 2], "web", dt.datetime(2024, 1, 1)),
            _row(2, "I", "k2", [3], "books", dt.datetime(2024, 1, 1)),
        ],
        CHANGE_SCHEMA,
    )
    eng.apply_batch(b1, 0, 2)
    assert ex.export(spark, mode="incr")["last_run_rows"] == 2

    # 2. additive evolution mid-stream (new nullable column)
    b2 = local_frame(
        spark,
        [_row(3, "I", "k3", [4, 5], "wiki", dt.datetime(2024, 1, 2))],
        CHANGE_SCHEMA,
    ).withColumn("quality", F.lit(0.9))
    eng.apply_batch(b2, 2, 3)
    assert "quality" in table.current().schema.fieldNames()
    assert ex.export(spark, mode="incr")["last_run_rows"] == 1

    # 3. declared rename lands with the next window
    b3 = (
        local_frame(
            spark,
            [_row(4, "U", "k1", [9], "press", dt.datetime(2024, 1, 3))],
            CHANGE_SCHEMA,
        )
        .withColumn("quality", F.lit(0.5))
        .withColumnRenamed("source", "origin")
    )
    eng.apply_batch(b3, 3, 4)
    names = table.current().schema.fieldNames()
    assert "origin" in names and "source" not in names
    assert "origin" in hist.current().schema.fieldNames()
    assert ex.export(spark, mode="incr")["last_run_rows"] == 1

    # 4. a window is lost (lsn 5), later one applied; repair recovers the
    # lost key from the full log — across the rename (old segments carry
    # the former name via a mergeSchema-style mixed frame)
    b5 = local_frame(
        spark,
        [
            (
                6,
                "I",
                "k5",
                [7],
                1,
                "blog",
                0.7,
                dt.datetime(2024, 1, 5),
            )
        ],
        T.StructType(
            [
                T.StructField("lsn", T.LongType()),
                T.StructField("op", T.StringType()),
                T.StructField("doc_id", T.StringType()),
                T.StructField("tokens", T.ArrayType(T.IntegerType())),
                T.StructField("n_tok", T.IntegerType()),
                T.StructField("origin", T.StringType()),
                T.StructField("quality", T.DoubleType()),
                T.StructField("commit_ts", T.TimestampType()),
            ]
        ),
    )
    eng.apply_batch(b5, 5, 6)  # lsn-5 window silently skipped upstream
    assert table.last_lsn() == 6

    lost = local_frame(
        spark,
        [
            (
                5,
                "U",
                "k2",
                [8, 8],
                2,
                "mixed",
                0.2,
                dt.datetime(2024, 1, 4),
            )
        ],
        b5.schema,
    )
    full_log = lost.unionByName(b5)
    eng.repair_keys(full_log, lost.select("doc_id").distinct())
    got = {
        (r["doc_id"], tuple(r["tokens"] or []), r["origin"], r["dl_source"])
        for r in table.read(spark).collect()
    }
    assert ("k2", (8, 8), "mixed", "prod-01") in got
    assert ("k5", (7,), "blog", "prod-01") in got
    # repair rows are visible to the incremental export (merge_ts advanced)
    assert ex.export(spark, mode="incr")["last_run_rows"] >= 1

    # 5. upstream breaks the type of quality (double -> string): refused
    bad = b5.withColumn("quality", F.lit("high")).withColumn(
        "lsn", F.lit(7).cast("long")
    )
    with pytest.raises(SchemaEvolutionError, match="full_reload"):
        eng.apply_batch(bad, 6, 7)

    # 6. declared full reload at the new schema converges on the new log
    reload_log = local_frame(
        spark,
        [
            (1, "I", "k1", [9], 1, "press", "high", dt.datetime(2024, 2, 1)),
            (2, "I", "k2", [8, 8], 2, "mixed", "low", dt.datetime(2024, 2, 1)),
            (3, "D", "k1", None, None, None, None, dt.datetime(2024, 2, 2)),
        ],
        "lsn long, op string, doc_id string, tokens array<int>, n_tok int,"
        " origin string, quality string, commit_ts timestamp",
    )
    eng.full_reload(reload_log, num_batches=2)
    types = {f.name: f.dataType.simpleString() for f in table.current().schema.fields}
    assert types["quality"] == "string"
    rec = reconcile(
        table.read(spark).select("doc_id", "tokens", "n_tok", "origin", "quality"),
        fold_expected(
            reload_log, payload_cols=["doc_id", "tokens", "n_tok", "origin", "quality"]
        ),
        ["doc_id", "tokens", "n_tok", "origin", "quality"],
    )
    assert rec["converged"]
    # provenance survives the reload (table property carried over)
    assert all(r["dl_source"] == "prod-01" for r in table.read(spark).collect())
    # the export state machine keeps working after the reload
    s = ex.export(spark, mode="full")
    assert s["last_run_rows"] == table.read(spark).count() == 1
