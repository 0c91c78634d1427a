"""Change-log source semantics, JDBC scan builder, compaction, custom
validation, CLI smoke."""

import json
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from dbimport_spark.lake.maintenance import buckets_needing_compaction, compact
from dbimport_spark.plans.engine import CDCEngine
from dbimport_spark.plans.validate import custom_query_check, fold_expected
from dbimport_spark.session import local_frame
from dbimport_spark.sources.changelog import (
    ChangeLogSource,
    LogTruncatedError,
    repair_watermark_from_lineage,
)
from dbimport_spark.sources.jdbc import JdbcScan, plan_sessions
from dbimport_spark.sources.loggen import generate_changes, write_changes


def test_changelog_window_and_truncation(spark, tmp_path):
    path = str(tmp_path / "log")
    write_changes(generate_changes(spark, 1000, n_keys=50, seed=1), path, 4)
    src = ChangeLogSource(spark, path)
    lo, hi = src.bounds()
    assert (lo, hi) == (1, 1000)
    w = src.window(100, 200)
    got = [r["lsn"] for r in w.select("lsn").collect()]
    assert min(got) == 101 and max(got) == 200 and len(got) == 100  # strict >, incl <=
    src.check_position(committed_lsn=0)  # ok: log covers from 1
    src.check_position(committed_lsn=500)  # ok: resume mid-log
    # truncate: drop events <= 300, keep watermark at 100 → gap
    write_changes(
        generate_changes(spark, 1000, n_keys=50, seed=1).filter(F.col("lsn") > 300),
        str(tmp_path / "log2"),
        4,
    )
    src2 = ChangeLogSource(spark, str(tmp_path / "log2"))
    with pytest.raises(LogTruncatedError):
        src2.check_position(committed_lsn=100)
    src2.check_position(committed_lsn=300)  # exactly adjacent: fine


def test_watermark_repair_from_lineage(spark, tmp_path):
    log = generate_changes(spark, 500, n_keys=30, seed=2)
    table = CDCEngine.create_table(str(tmp_path / "t"), num_buckets=4)
    CDCEngine(spark, table).replay(log, num_batches=2)
    assert table.last_lsn() == 500
    # simulate lost watermark property (state wipe)
    table.commit([], set(), properties={"last_lsn": "-1"})
    assert table.last_lsn() == -1
    repaired = repair_watermark_from_lineage(table)
    assert repaired == 500
    assert table.last_lsn() == 500


def test_jdbc_builder(spark):
    assert plan_sessions(10 << 30, block_size=128 << 20, max_sessions=32) == 32
    assert plan_sessions(300 << 20, block_size=128 << 20) == 2
    assert plan_sessions(1, block_size=128 << 20) == 1
    scan = JdbcScan(
        url="jdbc:postgresql://h/db",
        table="public.orders",
        partition_column="id",
        lower_bound=0,
        upper_bound=1000,
        num_partitions=8,
        where="status = 'open'",
    )
    reader = scan.build(spark)  # plan construction only; no driver needed
    assert reader is not None
    with pytest.raises(ValueError):
        JdbcScan(url="u", table="t", partition_column="id", num_partitions=4).build(spark)


def test_compaction_preserves_content(spark, tmp_path):
    log = generate_changes(spark, 3000, n_keys=150, seed=3)
    table = CDCEngine.create_table(str(tmp_path / "t"), num_buckets=8)
    # at-scale broadcast behavior: no output repartition → buckets fragment
    # across commits until compacted
    eng = CDCEngine(
        spark, table, broadcast_threshold_rows=10**9, repartition_output_bytes=0
    )
    eng.replay(log, num_batches=6)
    before = table.read(spark)
    before_rows = sorted(map(repr, before.collect()))
    n_files_before = len(table.current().files)
    out = compact(spark, table, max_files_per_bucket=1, expire_keep_last=1)
    assert out["compacted_buckets"] > 0
    assert len(table.current().files) <= n_files_before
    assert buckets_needing_compaction(table, 1) == []
    after_rows = sorted(map(repr, table.read(spark).collect()))
    assert after_rows == before_rows
    # engine continues working after compaction+expiry
    assert table.last_lsn() == 3000


def test_custom_query_validation(spark, tmp_path):
    log = generate_changes(spark, 800, n_keys=60, seed=4)
    table = CDCEngine.create_table(str(tmp_path / "t"), num_buckets=4)
    CDCEngine(spark, table).replay(log)
    q = "SELECT source, count(*) AS n, sum(n_tok) AS s FROM t GROUP BY source"
    res = custom_query_check(spark, q, fold_expected(log), table.read(spark))
    assert res["match"], res
    drifted = table.read(spark).withColumn(
        "n_tok", F.col("n_tok") + F.lit(1)
    )
    assert not custom_query_check(spark, q, fold_expected(log), drifted)["match"]


def test_cli_status_smoke(spark, tmp_path):
    table = CDCEngine.create_table(str(tmp_path / "t"), num_buckets=4)
    out = subprocess.run(
        [sys.executable, "-m", "dbimport_spark.cli", "status", str(tmp_path / "t")],
        capture_output=True,
        text=True,
        cwd="/root/repo",
        timeout=120,
    )
    data = json.loads(out.stdout.strip().splitlines()[-1])
    assert data["last_lsn"] == -1 and data["files"] == 0


def test_remove_orphan_files(spark, tmp_path):
    from dbimport_spark.lake.maintenance import remove_orphan_files

    log = generate_changes(spark, 500, n_keys=40, seed=6)
    table = CDCEngine.create_table(str(tmp_path / "orph"), num_buckets=4)
    eng = CDCEngine(spark, table)
    eng.replay(log, num_batches=1)
    state = sorted(map(repr, table.read(spark).collect()))
    # simulate a crashed writer: files written but never committed
    import pyspark.sql.functions as F

    orphan_df = log.limit(10).withColumn(
        "_bucket", table.bucket_expr(num_buckets=4)
    )
    table.write_data_files(spark, orphan_df, "crashed-run")
    assert remove_orphan_files(table, older_than_seconds=10**6) == 0  # age gate
    n = remove_orphan_files(table, older_than_seconds=0)
    assert n > 0
    import os

    assert not os.path.isdir(str(tmp_path / "orph" / "data" / "crashed-run"))
    # live data untouched
    assert sorted(map(repr, table.read(spark).collect())) == state


def test_commit_race_raises_typed_conflict(tmp_path):
    from pyspark.sql import types as T

    from dbimport_spark.lake.table import CommitConflict, LakeTable

    schema = T.StructType([T.StructField("doc_id", T.StringType())])
    t1 = LakeTable.create(str(tmp_path / "race"), schema, num_buckets=2)
    t2 = LakeTable.load(str(tmp_path / "race"))
    # both writers read v0; t1 commits v1 first; t2's O_EXCL create of the
    # SAME version file must surface as CommitConflict, not FileExistsError
    snap1 = t1.current()
    snap2 = t2.current()
    assert snap1.version == snap2.version == 0
    t1.commit([], set(), properties={"w": "1"})
    import pytest as _pytest

    with _pytest.raises(CommitConflict):
        t2.commit([], set(), properties={"w": "2"}, expected_version=0)
    # the O_EXCL create itself (both writers passed the precheck and race
    # to create the same version file) must also surface as the typed
    # conflict, not a raw FileExistsError
    import dataclasses

    dup = dataclasses.replace(t1.current())  # version 1 already exists
    with _pytest.raises(CommitConflict):
        t2._write_snapshot(dup)


def test_cli_repair_smoke(spark, tmp_path):
    """CLI repair: a lost middle window recovered end-to-end through the
    spark-submit entry point."""
    log = generate_changes(spark, 600, n_keys=40, seed=77)
    log_path = str(tmp_path / "rlog")
    log.write.parquet(log_path)
    table = CDCEngine.create_table(str(tmp_path / "rt"), num_buckets=4)
    eng = CDCEngine(spark, table)
    eng.replay(log.filter("lsn <= 200"), num_batches=1)
    eng.replay(log.filter("lsn > 400"), num_batches=1, allow_log_gap=True)

    out = subprocess.run(
        [
            sys.executable, "-m", "dbimport_spark.cli", "repair",
            str(tmp_path / "rt"), log_path, "--lo", "200", "--hi", "400",
        ],
        capture_output=True, text=True, cwd="/root/repo", timeout=300,
    )
    data = json.loads(out.stdout.strip().splitlines()[-1])
    assert data["repaired_keys"] > 0
    assert data["last_lsn"] == 600  # watermark untouched

    from dbimport_spark.plans.validate import fold_expected, reconcile
    from dbimport_spark.schema import PAYLOAD_COLUMNS

    rec = reconcile(table.read(spark), fold_expected(log), PAYLOAD_COLUMNS)
    assert rec["converged"], rec


def test_cli_repair_bad_rename_is_usage_error(tmp_path, capsys):
    """ADVICE r3: a --rename value without '=' must exit with a clear
    argparse usage error naming the flag, not an opaque dict ValueError."""
    from dbimport_spark.cli import main

    with pytest.raises(SystemExit) as ei:
        main(
            [
                "repair", str(tmp_path / "t"), str(tmp_path / "log"),
                "--lo", "0", "--hi", "1", "--rename", "oldnew",
            ]
        )
    assert ei.value.code == 2
    assert "OLD=NEW" in capsys.readouterr().err


def test_purge_tombstones_retention(spark, tmp_path):
    """Soft-delete retention valve: tombstones dead since before the
    cutoff are dropped; live rows and younger tombstones survive
    byte-for-byte; replay semantics on surviving keys intact."""
    import datetime as dt

    from dbimport_spark.lake.maintenance import purge_tombstones
    from dbimport_spark.schema import AUDIT_DELETE, AUDIT_IUD, CHANGE_SCHEMA

    root = str(tmp_path / "pt")
    table = CDCEngine.create_table(root, num_buckets=4, soft_delete=True)
    eng = CDCEngine(spark, table)

    def _row(lsn, op, key, toks, src, ts):
        return (lsn, op, key, toks, len(toks) if toks else None, src, ts)

    # two deletes with DIFFERENT commit_ts (merge_ts = max batch commit_ts,
    # so apply in separate batches to give each tombstone its own age)
    eng.apply_batch(
        local_frame(
            spark,
            [
                _row(1, "I", "old-dead", [1], "web", dt.datetime(2024, 1, 1)),
                _row(2, "I", "alive", [2], "web", dt.datetime(2024, 1, 1)),
                _row(3, "I", "new-dead", [3], "web", dt.datetime(2024, 1, 1)),
                _row(4, "D", "old-dead", None, None, dt.datetime(2024, 1, 2)),
            ],
            CHANGE_SCHEMA,
        ),
        0,
        4,
    )
    eng.apply_batch(
        local_frame(
            spark,
            [_row(5, "D", "new-dead", None, None, dt.datetime(2024, 6, 1))],
            CHANGE_SCHEMA,
        ),
        4,
        5,
    )
    rows = {r["doc_id"]: r for r in table.read(spark).collect()}
    assert rows["old-dead"][AUDIT_IUD] == "D"
    assert rows["new-dead"][AUDIT_IUD] == "D"

    out = purge_tombstones(spark, table, "2024-03-01T00:00:00")
    assert out["purged_rows"] == 1
    rows = {r["doc_id"]: r for r in table.read(spark).collect()}
    assert "old-dead" not in rows
    assert rows["new-dead"][AUDIT_IUD] == "D"  # younger tombstone kept
    assert rows["alive"]["tokens"] == [2] and rows["alive"][AUDIT_DELETE] is None
    # idempotent: nothing left to purge at the same cutoff
    again = purge_tombstones(spark, table, "2024-03-01T00:00:00")
    assert again == {"purged_buckets": 0, "purged_rows": 0}
    # hard tables refuse
    hard = CDCEngine.create_table(str(tmp_path / "h"), num_buckets=2)
    with pytest.raises(ValueError, match="soft-delete"):
        purge_tombstones(spark, hard, "2024-01-01T00:00:00")


def test_cli_schema_diff_dry_run(spark, tmp_path):
    """schema-diff plans evolution without applying: reports adds on an
    evolved log (exit 0), refuses a suspected rename (exit 1), and the
    table is never touched."""
    log = generate_changes(spark, 300, n_keys=30, seed=15)
    log_path = str(tmp_path / "sdlog")
    log.write.parquet(log_path)
    root = str(tmp_path / "sdt")
    table = CDCEngine.create_table(root, num_buckets=4)
    eng = CDCEngine(spark, table)
    eng.replay(log, num_batches=1)
    v = table.current().version

    # an evolved log: adds quality_score
    evolved = generate_changes(
        spark, 100, n_keys=30, seed=16, first_lsn=301, evolve_at_lsn=300
    )
    ev_path = str(tmp_path / "sdlog2")
    evolved.write.parquet(ev_path)
    out = subprocess.run(
        [sys.executable, "-m", "dbimport_spark.cli", "schema-diff", root, ev_path],
        capture_output=True, text=True, cwd="/root/repo", timeout=300,
    )
    assert out.returncode == 0, out.stderr
    doc = json.loads(out.stdout.strip().splitlines()[-1])
    assert doc["would_apply"] is True
    assert doc["adds"] == [{"column": "quality_score", "type": "float"}]
    assert table.current().version == v  # dry run: nothing applied

    # a renamed column without declaration: refusal, exit 1
    renamed = spark.read.parquet(log_path).withColumnRenamed("source", "origin")
    rn_path = str(tmp_path / "sdlog3")
    renamed.write.parquet(rn_path)
    out = subprocess.run(
        [sys.executable, "-m", "dbimport_spark.cli", "schema-diff", root, rn_path],
        capture_output=True, text=True, cwd="/root/repo", timeout=300,
    )
    assert out.returncode == 1
    doc = json.loads(out.stdout.strip().splitlines()[-1])
    assert doc["would_apply"] is False
    assert "RenameSuspected" in doc["refusal"]
    # with the rename declared: clean plan — the rename is simulated, NOT
    # reported as an add, and still nothing is applied
    out = subprocess.run(
        [sys.executable, "-m", "dbimport_spark.cli", "schema-diff", root, rn_path,
         "--rename", "source=origin"],
        capture_output=True, text=True, cwd="/root/repo", timeout=300,
    )
    assert out.returncode == 0, out.stdout
    doc = json.loads(out.stdout.strip().splitlines()[-1])
    assert doc["would_apply"] is True
    assert doc["declared_renames"] == [{"from": "source", "to": "origin"}]
    assert doc["adds"] == []
    assert table.current().version == v


def test_purge_tombstones_mor_exact_count(spark, tmp_path):
    """purged_rows on a merge-on-read bucket counts RECONCILED rows, not
    raw footer rows — base + delta + delete files over the same keys
    previously made the metadata census report phantom purges."""
    import datetime as dt

    from dbimport_spark.lake.maintenance import purge_tombstones
    from dbimport_spark.schema import AUDIT_IUD, CHANGE_SCHEMA

    root = str(tmp_path / "ptm")
    table = CDCEngine.create_table(root, num_buckets=2, soft_delete=True)
    eng = CDCEngine(spark, table, write_mode="mor")

    def _row(lsn, op, key, toks, src, ts):
        return (lsn, op, key, toks, len(toks) if toks else None, src, ts)

    # batch 1: inserts (base); batch 2: update one key (delta supersedes
    # its base row) and delete another (tombstone delta + delete file)
    eng.apply_batch(
        local_frame(
            spark,
            [
                _row(1, "I", "a", [1], "web", dt.datetime(2024, 1, 1)),
                _row(2, "I", "b", [2], "web", dt.datetime(2024, 1, 1)),
                _row(3, "I", "c", [3], "web", dt.datetime(2024, 1, 1)),
            ],
            CHANGE_SCHEMA,
        ),
        0, 3,
    )
    eng.apply_batch(
        local_frame(
            spark,
            [
                _row(4, "U", "a", [9], "web", dt.datetime(2024, 1, 2)),
                _row(5, "D", "b", None, None, dt.datetime(2024, 1, 2)),
            ],
            CHANGE_SCHEMA,
        ),
        3, 5,
    )
    rows = {r["doc_id"]: r for r in table.read(spark).collect()}
    assert rows["b"][AUDIT_IUD] == "D"
    # raw footer rows across the touched buckets exceed the 3 reconciled
    # rows (superseded base row + delete-file rows); exactly ONE
    # reconciled tombstone is purgeable
    out = purge_tombstones(spark, table, "2024-12-31T00:00:00")
    assert out["purged_rows"] == 1
    rows = {r["doc_id"]: r for r in table.read(spark).collect()}
    assert set(rows) == {"a", "c"}
    assert rows["a"]["tokens"] == [9]


def test_repair_keys_empty_scope_skips(spark, tmp_path):
    """repair_keys over a window holding no events must not commit an
    empty snapshot (version bump + merge_ts advance + hollow lineage)."""
    import datetime as dt

    from dbimport_spark.schema import CHANGE_SCHEMA

    root = str(tmp_path / "rk")
    table = CDCEngine.create_table(root, num_buckets=2)
    eng = CDCEngine(spark, table, checkpoint_dir=f"{root}/_ckpt")
    log = local_frame(
        spark,
        [(1, "I", "a", [1], 1, "web", dt.datetime(2024, 1, 1))],
        CHANGE_SCHEMA,
    )
    eng.apply_batch(log, 0, 1)
    v = table.current().version
    stats = eng.repair_keys(log, window=(5, 9))  # empty window
    assert stats.skipped
    assert type(table).load(root).current().version == v


def test_asof_join_suffix_collision_refused(spark):
    """A suffixed right column colliding with an existing left column
    must raise loudly — a silent duplicate output name makes every
    downstream reference AMBIGUOUS_REFERENCE far from the cause."""
    from dbimport_spark.operators.temporal import asof_join

    left = local_frame(
        spark,
        [("k", 10, 1, 2)], "id string, ts long, v long, v_r long"
    )
    right = local_frame(spark, [("k", 9, 7)], "id string, ts long, v long")
    with pytest.raises(ValueError, match="collide"):
        asof_join(left, right, on="id", left_ts="ts", right_ts="ts")
    # a non-colliding suffix works
    out = asof_join(
        left, right, on="id", left_ts="ts", right_ts="ts", suffix="_right"
    )
    assert out.collect()[0]["v_right"] == 7


def test_delete_mode_guard_legacy_hard_table(spark, tmp_path):
    """A pre-property table WITHOUT dl_delete_ts is hard-mode: an
    explicit delete_mode='soft' override must be refused, not accepted
    (the old None inference skipped the mismatch guard and let the
    insert-only path write soft output against a hard schema)."""
    root = str(tmp_path / "legacy")
    table = CDCEngine.create_table(root, num_buckets=2)
    table.properties.pop("delete_mode", None)  # simulate a legacy table
    with pytest.raises(ValueError, match="delete_mode"):
        CDCEngine(spark, table, delete_mode="soft")
    # and the hard default still works
    eng = CDCEngine(spark, table)
    assert eng.delete_mode == "hard"


def test_check_position_allow_gap_and_jdbc_partition_guard(spark, tmp_path):
    """Sparse-LSN sources pass check_position with allow_gap=True; a
    multi-session JDBC scan without a partition column refuses loudly
    instead of silently running single-session."""
    import pytest as _pytest

    from dbimport_spark.sources.changelog import (
        ChangeLogSource,
        LogTruncatedError,
    )

    spark.range(150, 160).selectExpr("id as lsn").write.parquet(
        str(tmp_path / "sparse")
    )
    src = ChangeLogSource(spark, str(tmp_path / "sparse"))
    with _pytest.raises(LogTruncatedError):
        src.check_position(committed_lsn=100)
    src.check_position(committed_lsn=100, allow_gap=True)  # escape hatch

    from dbimport_spark.sources.jdbc import JdbcScan

    with _pytest.raises(ValueError, match="partition_column"):
        JdbcScan(url="u", table="t", num_partitions=8).build(spark)
