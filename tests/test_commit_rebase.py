"""Optimistic commit rebase: a commit whose base was advanced ONLY by
rewrite-only commits (compaction / rebucket-style layout rewrites) rebases
and lands instead of failing — ingest never loses to concurrent
maintenance. Anything else still raises CommitConflict for the caller's
own arbitration (the Iceberg optimistic-retry analogue, narrowed to the
provably state-equal case)."""

import pytest
from pyspark.sql import types as T

from dbimport_spark.lake.catalog import CommitConflict
from dbimport_spark.lake.maintenance import compact, rebucket
from dbimport_spark.lake.table import LakeTable
from dbimport_spark.session import local_frame

SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("v", T.LongType(), True),
    ]
)


def _table(spark, tmp_path, name="t", rows=(("a", 1), ("b", 2), ("c", 3))):
    t = LakeTable.create(str(tmp_path / name), schema=SCHEMA, num_buckets=4)
    df = local_frame(spark, list(rows), SCHEMA)
    out = df.withColumn("_bucket", t.bucket_expr())
    # two commits so compaction has something to fold
    t.commit(t.write_data_files(spark, out, "w0"), replaced_buckets=set(range(4)))
    df2 = local_frame(spark, [("d", 4)], SCHEMA)
    t.commit(
        t.write_data_files(spark, df2.withColumn("_bucket", t.bucket_expr()), "w1"),
        replaced_buckets=set(),
    )
    return t


def _stale_files(spark, t, rows, kind="base"):
    df = local_frame(spark, rows, SCHEMA)
    files = t.write_data_files(
        spark, df.withColumn("_bucket", t.bucket_expr()), f"x{t.current().version}"
    )
    for f in files:
        f.kind = kind
    return files


def test_rebase_over_compaction(spark, tmp_path):
    t = _table(spark, tmp_path, "r1")
    base_v = t.current().version
    files = _stale_files(spark, t, [("a", 10)])
    replaced = {f.bucket for f in files}
    compact(spark, t, max_files_per_bucket=0)  # rewrite-only intervener
    assert t.current().version == base_v + 1
    snap = t.commit(files, replaced_buckets=replaced, expected_version=base_v)
    assert snap.version == base_v + 2
    got = {(r.doc_id, r.v) for r in t.read(spark).collect()}
    # our replacement won for its bucket; compacted state kept elsewhere
    assert ("a", 10) in got and ("d", 4) in got


def test_rebase_mor_delta_restamps_seq(spark, tmp_path):
    t = _table(spark, tmp_path, "r2")
    base_v = t.current().version
    files = _stale_files(spark, t, [("b", 20)], kind="delta")
    compact(spark, t, max_files_per_bucket=0)
    snap = t.commit(files, replaced_buckets=set(), expected_version=base_v)
    stamped = [f for f in snap.files if f.kind == "delta"]
    assert stamped and all(f.seq == snap.version for f in stamped)
    got = {(r.doc_id, r.v) for r in t.read(spark).collect()}
    assert ("b", 20) in got and ("b", 2) not in got


def test_real_writer_still_conflicts(spark, tmp_path):
    t = _table(spark, tmp_path, "r3")
    base_v = t.current().version
    files = _stale_files(spark, t, [("a", 10)])
    # a REAL data commit intervenes (not rewrite_only)
    t.commit(_stale_files(spark, t, [("e", 5)]), replaced_buckets=set())
    with pytest.raises(CommitConflict):
        t.commit(files, replaced_buckets={f.bucket for f in files},
                 expected_version=base_v)


def test_rebucket_intervener_refuses(spark, tmp_path):
    t = _table(spark, tmp_path, "r4")
    base_v = t.current().version
    files = _stale_files(spark, t, [("a", 10)])
    rebucket(spark, t, 8)  # rewrite-only BUT the modulus moved
    with pytest.raises(CommitConflict):
        t.commit(files, replaced_buckets={f.bucket for f in files},
                 expected_version=base_v)


def test_expired_base_refuses(spark, tmp_path):
    t = _table(spark, tmp_path, "r5")
    base_v = t.current().version
    files = _stale_files(spark, t, [("a", 10)])
    compact(spark, t, max_files_per_bucket=0)
    t.expire_snapshots(keep_last=1)
    with pytest.raises(CommitConflict, match="expired"):
        t.commit(files, replaced_buckets={f.bucket for f in files},
                 expected_version=base_v)


def test_reload_after_rewrite_only_never_rebased(spark, tmp_path):
    """A declared full reload right after a compaction must NOT inherit the
    parent's rewrite_only marker: an inherited marker would make the
    reload window look state-equal, letting a stale pre-reload commit
    rebase over the emptied table and resurrect dropped rows."""
    t = _table(spark, tmp_path, "r6")
    base_v = t.current().version
    files = _stale_files(spark, t, [("a", 10)])
    compact(spark, t, max_files_per_bucket=0)  # marks rewrite_only
    snap = t.reset_for_reload(SCHEMA)
    # the boundary markers are single-commit facts
    assert snap.properties.get("reload") == "true"
    assert "rewrite_only" not in snap.properties
    with pytest.raises(CommitConflict):
        t.commit(files, replaced_buckets={f.bucket for f in files},
                 expected_version=base_v)
    assert t.read(spark).count() == 0  # the reload boundary held


def test_rename_after_rewrite_only_drops_marker(spark, tmp_path):
    """rename_column is its own commit type: it must not carry forward the
    parent compaction's rewrite_only (or reload) boundary markers."""
    t = _table(spark, tmp_path, "r7")
    compact(spark, t, max_files_per_bucket=0)
    snap = t.rename_column("v", "val")
    assert "rewrite_only" not in snap.properties
    assert "reload" not in snap.properties
