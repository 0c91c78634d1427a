import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dbimport_spark.lake.evolve import (
    compare_types,
    RenameSuspected,
    SchemaDelta,
    SchemaEvolutionError,
    diff_payload_schema,
    evolve_schema,
)
from dbimport_spark.lake.table import LakeTable
from dbimport_spark.session import local_frame

SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("v", T.IntegerType(), True),
    ]
)


def _write(table, spark, rows, version_dir):
    df = local_frame(spark, rows, SCHEMA).withColumn(
        "_bucket", F.pmod(F.xxhash64("doc_id"), F.lit(4)).cast("int")
    )
    return table.write_data_files(spark, df, version_dir)


def test_create_commit_read(spark, tmp_path):
    root = str(tmp_path / "t")
    t = LakeTable.create(root, SCHEMA, num_buckets=4)
    assert t.current().version == 0
    assert t.read(spark).count() == 0

    files = _write(t, spark, [("a", 1), ("b", 2), ("c", 3)], "s1")
    snap = t.commit(files, set(f.bucket for f in files), properties={"last_lsn": "10"})
    assert snap.version == 1
    got = {(r["doc_id"], r["v"]) for r in t.read(spark).collect()}
    assert got == {("a", 1), ("b", 2), ("c", 3)}
    assert t.last_lsn() == 10


def test_bucket_replacement_and_pruning(spark, tmp_path):
    root = str(tmp_path / "t")
    t = LakeTable.create(root, SCHEMA, num_buckets=4)
    f1 = _write(t, spark, [("a", 1), ("b", 2)], "s1")
    t.commit(f1, {f.bucket for f in f1})
    # replace only the bucket containing 'a'
    a_bucket = (
        local_frame(spark, [("a",)], "doc_id string")
        .select(F.pmod(F.xxhash64("doc_id"), F.lit(4)).cast("int").alias("b"))
        .first()["b"]
    )
    f2 = _write(t, spark, [("a", 99)], "s2")
    assert {f.bucket for f in f2} == {a_bucket}
    t.commit(f2, {a_bucket})
    got = {(r["doc_id"], r["v"]) for r in t.read(spark).collect()}
    assert got == {("a", 99), ("b", 2)}
    # pruned read of just a's bucket
    pruned = t.read(spark, buckets=[a_bucket]).collect()
    assert {(r["doc_id"], r["v"]) for r in pruned} >= {("a", 99)}


def test_time_travel_and_expire(spark, tmp_path):
    root = str(tmp_path / "t")
    t = LakeTable.create(root, SCHEMA, num_buckets=4)
    f1 = _write(t, spark, [("a", 1)], "s1")
    t.commit(f1, {f.bucket for f in f1})
    f2 = _write(t, spark, [("a", 2)], "s2")
    t.commit(f2, {f.bucket for f in f2})
    assert t.read(spark, version=1).collect()[0]["v"] == 1
    assert t.read(spark, version=2).collect()[0]["v"] == 2
    removed = t.expire_snapshots(keep_last=1)
    assert removed >= 1
    assert t.snapshots() == [2]
    assert t.read(spark).collect()[0]["v"] == 2


def test_atomic_commit_conflict(tmp_path):
    root = str(tmp_path / "t")
    t = LakeTable.create(root, SCHEMA, num_buckets=4)
    t2 = LakeTable.load(root)
    t.commit([], set(), properties={"x": "1"})
    # writer with a stale expectation must fail, not clobber
    with pytest.raises(Exception):
        t2.commit([], set(), properties={"x": "2"}, expected_version=0)
    assert t.current().properties["x"] == "1"


def test_schema_evolution_rules():
    base = SCHEMA
    batch = T.StructType(
        [
            T.StructField("lsn", T.LongType()),
            T.StructField("doc_id", T.StringType()),
            T.StructField("v", T.IntegerType()),
            T.StructField("extra", T.FloatType()),
        ]
    )
    delta = diff_payload_schema(base, batch, ignore={"lsn"})
    assert [f.name for f in delta.added] == ["extra"]
    assert not delta.widened
    evolved = evolve_schema(base, delta)
    assert evolved.fieldNames() == ["doc_id", "v", "extra"]
    # safe widening accepted metadata-only (int -> bigint)
    widen = T.StructType([T.StructField("v", T.LongType())])
    d2 = diff_payload_schema(base, widen)
    assert [f.name for f in d2.widened] == ["v"] and not d2.added
    assert evolve_schema(base, d2)["v"].dataType == T.LongType()
    # narrower batch column: no evolution (batch is cast up)
    nar = T.StructType([T.StructField("v", T.ShortType())])
    assert not diff_payload_schema(base, nar)
    # incompatible type change rejected
    bad = T.StructType([T.StructField("v", T.StringType())])
    with pytest.raises(SchemaEvolutionError):
        diff_payload_schema(base, bad)
    # drops are never propagated: table keeps columns the batch lacks
    narrow = T.StructType([T.StructField("doc_id", T.StringType())])
    assert not diff_payload_schema(base, narrow)


def test_rename_detection():
    base = SCHEMA
    # same payload position, same type, add+drop in one batch => rename
    renamed = T.StructType(
        [T.StructField("doc_id", T.StringType()), T.StructField("v2", T.IntegerType())]
    )
    with pytest.raises(RenameSuspected):
        diff_payload_schema(base, renamed)
    # a batch merely lacking a new table column + adding another one at a
    # DIFFERENT position is a legitimate add, not a rename
    base3 = T.StructType(
        list(SCHEMA.fields) + [T.StructField("w", T.StringType(), True)]
    )
    batch = T.StructType(
        [
            T.StructField("doc_id", T.StringType()),
            T.StructField("v", T.IntegerType()),
            T.StructField("w", T.StringType()),
            T.StructField("x", T.LongType()),
        ]
    )
    d = diff_payload_schema(base3, batch)
    assert [f.name for f in d.added] == ["x"]


def test_rename_column_metadata_only(spark, tmp_path):
    root = str(tmp_path / "t")
    t = LakeTable.create(root, SCHEMA, num_buckets=4)
    f1 = _write(t, spark, [("a", 1), ("b", 2)], "s1")
    t.commit(f1, {f.bucket for f in f1})
    t.rename_column("v", "v_renamed")
    assert t.current().schema.fieldNames() == ["doc_id", "v_renamed"]
    # old files are read through the name mapping — values intact
    got = {(r["doc_id"], r["v_renamed"]) for r in t.read(spark).collect()}
    assert got == {("a", 1), ("b", 2)}
    # new writes use the new physical name; mixed-epoch reads still align
    df = local_frame(spark, [("c", 3)], t.current().schema).withColumn(
        "_bucket", F.pmod(F.xxhash64("doc_id"), F.lit(4)).cast("int")
    )
    f2 = t.write_data_files(spark, df, "s2")
    assert all(f.epoch == 1 for f in f2)
    t.commit(f2, {f.bucket for f in f2})
    got = {(r["doc_id"], r["v_renamed"]) for r in t.read(spark).collect()}
    assert got == {("a", 1), ("b", 2), ("c", 3)}


def test_widened_schema_reads_old_files(spark, tmp_path):
    root = str(tmp_path / "t")
    t = LakeTable.create(root, SCHEMA, num_buckets=4)
    f1 = _write(t, spark, [("a", 7)], "s1")
    t.commit(f1, {f.bucket for f in f1})
    delta = SchemaDelta(widened=[T.StructField("v", T.LongType(), True)])
    t.commit([], set(), new_schema=evolve_schema(SCHEMA, delta))
    rows = t.read(spark).collect()
    assert rows[0]["v"] == 7
    assert dict(t.read(spark).dtypes)["v"] == "bigint"


def test_old_files_null_for_new_columns(spark, tmp_path):
    root = str(tmp_path / "t")
    t = LakeTable.create(root, SCHEMA, num_buckets=4)
    f1 = _write(t, spark, [("a", 1)], "s1")
    t.commit(f1, {f.bucket for f in f1})
    evolved = evolve_schema(
        SCHEMA, SchemaDelta(added=[T.StructField("extra", T.FloatType(), True)])
    )
    t.commit([], set(), new_schema=evolved)
    rows = t.read(spark).collect()
    assert rows[0]["extra"] is None
    assert os.path.isfile(os.path.join(root, "metadata", "v3.json")) is False


def test_decimal_widening_rules():
    assert compare_types(T.DecimalType(10, 2), T.DecimalType(12, 2)) == "widen"
    assert compare_types(T.DecimalType(10, 2), T.DecimalType(12, 4)) == "widen"
    assert compare_types(T.DecimalType(12, 2), T.DecimalType(10, 2)) == "narrow"
    # scale grows but integral digits shrink: unsafe either way
    assert compare_types(T.DecimalType(10, 2), T.DecimalType(10, 4)) == "incompatible"
    assert compare_types(T.DecimalType(10, 2), T.IntegerType()) == "incompatible"


def test_distributed_footer_stats_large_commit(spark, tmp_path):
    """Commits with >256 files stat footers on executors; the DataFile list
    must be identical in content to the threaded driver path."""
    root = str(tmp_path / "big")
    t = LakeTable.create(root, SCHEMA, num_buckets=300)
    df = spark.range(3000).selectExpr(
        "format_string('k%d', id) AS doc_id", "CAST(id AS INT) AS v"
    ).withColumn("_bucket", F.pmod(F.xxhash64("doc_id"), F.lit(300)).cast("int"))
    files = t.write_data_files(spark, df.repartition(300, "_bucket"), "s1")
    assert len(files) == 300
    assert sum(f.rows for f in files) == 3000
    assert all(f.bytes > 0 and f.epoch == 0 for f in files)
    t.commit(files, {f.bucket for f in files})
    assert t.read(spark).count() == 3000
