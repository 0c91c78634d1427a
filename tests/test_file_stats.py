"""Per-file column statistics (Iceberg manifest-metrics analogue) and
stats-based bucket pruning — recorded from parquet footers at commit
time, consumed metadata-only by the incremental exporter."""

from datetime import datetime, timezone

from pyspark.sql import functions as F
from pyspark.sql import types as T

from dbimport_spark.lake.table import ts_micros
from dbimport_spark.plans.engine import CDCEngine
from dbimport_spark.plans.export import ParquetExporter
from dbimport_spark.schema import AUDIT_UPDATE
from dbimport_spark.session import local_frame
from dbimport_spark.sources.loggen import generate_changes

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("lsn", T.LongType(), False),
        T.StructField("op", T.StringType(), False),
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("tokens", T.ArrayType(T.IntegerType()), True),
        T.StructField("n_tok", T.IntegerType(), True),
        T.StructField("source", T.StringType(), True),
    ]
)


def test_stats_recorded_on_commit(spark, tmp_path):
    table = CDCEngine.create_table(str(tmp_path / "t"), num_buckets=4)
    eng = CDCEngine(spark, table)
    eng.replay(generate_changes(spark, 800, n_keys=60, seed=1), num_batches=2)
    files = table.current().files
    assert files
    for f in files:
        st = (f.stats or {}).get(AUDIT_UPDATE)
        assert st is not None, f.path
        lo, hi = st
        assert isinstance(lo, int) and isinstance(hi, int) and lo <= hi
        # raw micros round-trip: the stat bounds the actual column values
    actual = table.read(spark).agg(
        F.min(AUDIT_UPDATE).alias("lo"), F.max(AUDIT_UPDATE).alias("hi")
    ).collect()[0]
    all_lo = min(f.stats[AUDIT_UPDATE][0] for f in files)
    all_hi = max(f.stats[AUDIT_UPDATE][1] for f in files)
    assert all_lo <= ts_micros(actual["lo"]) <= ts_micros(actual["hi"]) <= all_hi


def test_stat_columns_property_extends_stats(spark, tmp_path):
    table = CDCEngine.create_table(str(tmp_path / "t"), num_buckets=2)
    table.commit([], set(), properties={"stat_columns": "n_tok"})
    eng = CDCEngine(spark, table)
    eng.replay(generate_changes(spark, 400, n_keys=40, seed=2), num_batches=1)
    for f in table.current().files:
        assert "n_tok" in (f.stats or {}), f.path


def test_buckets_stat_max_gt_prunes_and_is_conservative(spark, tmp_path):
    table = CDCEngine.create_table(str(tmp_path / "t"), num_buckets=4)
    eng = CDCEngine(spark, table)
    eng.replay(generate_changes(spark, 800, n_keys=60, seed=3), num_batches=1)
    hi = max(f.stats[AUDIT_UPDATE][1] for f in table.current().files)
    assert table.buckets_stat_max_gt(AUDIT_UPDATE, hi) == []
    assert len(table.buckets_stat_max_gt(AUDIT_UPDATE, hi - 1)) > 0
    # a file without the stat keeps its bucket (legacy/INT96 files)
    snap = table.current()
    snap.files[0].stats = None
    legacy_bucket = snap.files[0].bucket
    table._write_snapshot(
        type(snap)(
            version=snap.version + 1,
            snapshot_id="legacy-test",
            parent_snapshot_id=snap.snapshot_id,
            schema=snap.schema,
            num_buckets=snap.num_buckets,
            bucket_column=snap.bucket_column,
            files=snap.files,
            properties=snap.properties,
            lineage=[],
            renames=snap.renames,
        )
    )
    assert legacy_bucket in table.buckets_stat_max_gt(AUDIT_UPDATE, hi)


def test_export_scans_only_touched_buckets(spark, tmp_path):
    """After one key changes, the incremental export's scan must touch only
    that key's bucket — pinned via the pruning helper AND end-to-end row
    equality, including over a merge-on-read delta."""
    table = CDCEngine.create_table(str(tmp_path / "t"), num_buckets=8)
    eng = CDCEngine(spark, table)
    log = generate_changes(spark, 1600, n_keys=120, seed=4)
    eng.replay(log, num_batches=1)
    ex = ParquetExporter(table, str(tmp_path / "out"))
    ex.export(spark, mode="incr")  # bootstrap: everything, watermark set

    # touch exactly one key — via the MOR path, so the touched bucket
    # holds a delta file whose stats must keep the bucket readable
    key = table.read(spark).select("doc_id").orderBy("doc_id").first()[0]
    batch = local_frame(
        spark,
        [(100_000, "U", key, [7, 7, 7], 3, "stats-test")], EVENT_SCHEMA
    )
    mor = CDCEngine(spark, table, write_mode="mor")
    mor.apply_batch(batch, table.last_lsn(), 100_000)

    bucket = table.read(spark).filter(F.col("doc_id") == key).select(
        table.bucket_expr().alias("b")
    ).first()[0]
    last = ex._state()["last_update_ts"]
    wm = ts_micros(datetime.fromisoformat(last))
    assert table.buckets_stat_max_gt(AUDIT_UPDATE, wm) == [bucket]

    s = ex.export(spark, mode="incr")
    assert s["last_run_rows"] == 1
    out = spark.read.parquet(s["last_run_dir"]).collect()
    assert len(out) == 1 and out[0]["doc_id"] == key and out[0]["tokens"] == [7, 7, 7]

    # untouched table -> zero buckets survive, empty export, watermark kept
    s2 = ex.export(spark, mode="incr")
    assert s2["last_run_rows"] == 0
    assert s2["last_update_ts"] == s["last_update_ts"]

    # a MoR window that only deletes a key: its delete file records the
    # all-null marker for dl_update_ts (a delete row can only hide rows),
    # and the export still equals an unpruned read past the watermark
    gone = table.read(spark).select("doc_id").orderBy(F.desc("doc_id")).first()[0]
    dels = local_frame(
        spark, [(100_001, "D", gone, None, None, None)], EVENT_SCHEMA
    )
    mor.apply_batch(dels, table.last_lsn(), 100_001)
    deletes = [f for f in table.current().files if f.kind == "delete"]
    assert [f.stats[AUDIT_UPDATE] for f in deletes] == [[None, None]]

    def rows(df):
        return {
            (r.doc_id, tuple(r.tokens or ()), r.n_tok, r.source)
            for r in df.select("doc_id", "tokens", "n_tok", "source").collect()
        }

    past = F.col(AUDIT_UPDATE) > F.lit(s2["last_update_ts"]).cast("timestamp")
    want = rows(table.read(spark).filter(past))
    s3 = ex.export(spark, mode="incr")
    assert s3["last_run_rows"] == len(want)
    assert rows(spark.read.parquet(s3["last_run_dir"])) == want


def test_ts_micros_roundtrip():
    d = datetime(2026, 8, 17, 12, 34, 56, 789012)
    assert ts_micros(d) == ts_micros(d.replace(tzinfo=timezone.utc))
    assert ts_micros(d) % 1_000_000 == 789012


def test_all_null_stat_marker_and_min_le(spark, tmp_path):
    """A file whose stat column is entirely null records [None, None] —
    vacuously outside every range: max_gt prunes it, min_le never keeps
    it. A soft table with zero tombstones therefore has a provably-empty
    purge census from metadata alone."""
    from dbimport_spark.schema import AUDIT_DELETE

    table = CDCEngine.create_table(
        str(tmp_path / "t"), num_buckets=4, soft_delete=True
    )
    eng = CDCEngine(spark, table)
    eng.replay(generate_changes(spark, 600, n_keys=50, seed=9, p_insert=1.0,
                                p_update=0.0), num_batches=1)
    for f in table.current().files:
        assert f.stats.get(AUDIT_DELETE) == [None, None], f.path
    assert table.buckets_stat_min_le(AUDIT_DELETE, 2**62) == []
    assert table.buckets_stat_max_gt(AUDIT_DELETE, -1) == []


def test_purge_census_pruned_by_stats(spark, tmp_path):
    """purge_tombstones finds its buckets without scanning tombstone-free
    ones, and still purges exactly the right rows."""
    from datetime import datetime, timedelta, timezone

    from dbimport_spark.lake.maintenance import purge_tombstones
    from dbimport_spark.schema import AUDIT_DELETE

    schema = EVENT_SCHEMA
    table = CDCEngine.create_table(
        str(tmp_path / "t"), num_buckets=4, soft_delete=True
    )
    eng = CDCEngine(spark, table)
    keys = [f"p{i}" for i in range(12)]
    ins = local_frame(
        spark, [(i + 1, "I", k, [1], 1, "s") for i, k in enumerate(keys)], schema
    )
    eng.apply_batch(ins, 0, 12)
    dels = local_frame(
        spark, [(20, "D", keys[0], None, None, None)], schema
    )
    eng.apply_batch(dels, 12, 20)

    tomb_bucket = table.read(spark).filter(
        F.col("doc_id") == keys[0]
    ).select(table.bucket_expr().alias("b")).first()[0]
    future = datetime.now(timezone.utc) + timedelta(days=1)
    assert table.buckets_stat_min_le(AUDIT_DELETE, ts_micros(future)) == [
        tomb_bucket
    ]
    res = purge_tombstones(spark, table, future.replace(tzinfo=None).isoformat())
    assert res["purged_buckets"] == 1 and res["purged_rows"] == 1
    assert table.read(spark).count() == 11
    # nothing left: the census is empty from metadata alone
    res2 = purge_tombstones(spark, table, future.replace(tzinfo=None).isoformat())
    assert res2 == {"purged_buckets": 0, "purged_rows": 0}


def test_ts_micros_pre_epoch_exact():
    """code-review r5: int(timestamp()) truncates toward zero, so the
    sub-second part of pre-1970 values came out with the wrong sign —
    the stats-pruning comparisons would keep/drop the wrong buckets for
    pre-epoch thresholds."""
    from datetime import datetime, timezone

    assert ts_micros(datetime(1970, 1, 1)) == 0
    assert ts_micros(datetime(1969, 12, 31, 23, 59, 59, 500000)) == -500_000
    assert ts_micros(datetime(1969, 12, 31, 23, 59, 58, 250000)) == -1_750_000
    # far-future values stay exact past float64 microsecond precision
    want = (
        datetime(2400, 6, 1, tzinfo=timezone.utc)
        - datetime(1970, 1, 1, tzinfo=timezone.utc)
    )
    micros = (want.days * 86_400 + want.seconds) * 1_000_000
    assert ts_micros(datetime(2400, 6, 1, 0, 0, 0, 7)) == micros + 7


def test_layout_properties_and_stats_follow_rename(spark, tmp_path):
    """Renaming a column remaps the layout properties that name it
    (sort_order/stat_columns/bloom_columns), so post-rename files keep
    recording stats — and read_where maps the logical name back to each
    file's PHYSICAL stat key by epoch, so pre-rename files still prune."""
    table = CDCEngine.create_table(str(tmp_path / "t"), num_buckets=2)
    table.commit([], set(), properties={
        "stat_columns": "n_tok", "sort_order": "n_tok",
        "bloom_columns": "doc_id,n_tok",
    })
    eng = CDCEngine(spark, table)
    eng.replay(generate_changes(spark, 400, n_keys=40, seed=11), num_batches=1)
    pre_files = {f.path for f in table.current().files}

    table.rename_column("n_tok", "tok_count")
    props = table.current().properties
    assert props["stat_columns"] == "tok_count"
    assert props["sort_order"] == "tok_count"
    assert props["bloom_columns"] == "doc_id,tok_count"

    # post-rename writes record stats under the NEW name
    eng2 = CDCEngine(spark, table.refresh() if hasattr(table, "refresh") else table)
    eng2.replay(
        generate_changes(spark, 400, n_keys=40, seed=12, first_lsn=401)
        .withColumnRenamed("n_tok", "tok_count"),
        num_batches=1,
    )
    post = [f for f in table.current().files if f.path not in pre_files]
    assert post, "second replay wrote no files"
    for f in post:
        assert "tok_count" in (f.stats or {}), f.path
    # pre-rename files keep stats under the old physical name
    for f in table.current().files:
        if f.path in pre_files:
            assert "n_tok" in (f.stats or {}), f.path

    # read_where on the logical name: correct rows AND pre-rename files
    # prunable via the epoch mapping (an impossible range keeps nothing)
    lo = table.read_where(spark, "tok_count", lo=-10, hi=-1)
    assert lo.count() == 0
    full = table.read_where(spark, "tok_count", lo=0)
    assert full.count() == table.read(spark).count()


def test_read_where_no_bounds_keeps_all_null_stat_files(spark, tmp_path):
    """code-review r5: with BOTH bounds omitted the exact filter is TRUE
    (NULL rows are kept), but the pruner still dropped files whose stat
    is the all-null marker — the result silently diverged from read()
    based only on whether a file happened to record stats. The marker
    may prune only when a bound exists (a bound excludes NULLs)."""
    from dbimport_spark.schema import AUDIT_DELETE

    table = CDCEngine.create_table(
        str(tmp_path / "t"), num_buckets=4, soft_delete=True
    )
    eng = CDCEngine(spark, table)
    eng.replay(generate_changes(spark, 600, n_keys=50, seed=9, p_insert=1.0,
                                p_update=0.0), num_batches=1)
    # every file's dl_delete_ts stat is the all-null marker here; a
    # bounded read of this TIMESTAMP column is out of scope (read_where
    # bounds are numeric-only per its docstring — the exporter owns
    # timestamp pruning), but the no-bounds read must equal read()
    assert table.read_where(spark, AUDIT_DELETE).count() == table.read(
        spark
    ).count()


def test_read_where_bounded_timestamp_refused(spark, tmp_path):
    """A BOUNDED read_where on a timestamp column must refuse loudly:
    its file stats are raw micros, so native-domain bounds would prune
    every file and return a silently wrong EMPTY result."""
    import pytest

    from dbimport_spark.schema import AUDIT_DELETE

    table = CDCEngine.create_table(
        str(tmp_path / "t"), num_buckets=2, soft_delete=True
    )
    eng = CDCEngine(spark, table)
    eng.replay(generate_changes(spark, 200, n_keys=20, seed=3), num_batches=1)
    with pytest.raises(TypeError, match="numeric-only"):
        table.read_where(spark, AUDIT_DELETE, lo=1.7e9, hi=1.8e9)
