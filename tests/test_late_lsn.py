"""Per-row version column dl_lsn (VERDICT r3 #4, the alternative the
repair_keys docstring records): tables created with track_lsn=True merge
LATE events directly — apply iff event.lsn > row.dl_lsn — with one
bucket-pruned merge, no full-log re-fold. The stream's 'recover' policy
uses this bounded path automatically on such tables."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from dbimport_spark.plans.engine import CDCEngine
from dbimport_spark.schema import AUDIT_IUD, AUDIT_LSN, CHANGE_SCHEMA, PAYLOAD_COLUMNS
from dbimport_spark.session import local_frame
from dbimport_spark.sources.loggen import generate_changes, write_changes_segments
from dbimport_spark.streaming.stream import run_stream, stream_changes
from tests.oracle import as_tuple_set, lww_fold


def _live(table, spark):
    return table.read(spark).filter(F.col(AUDIT_IUD) != "D")


def _row(lsn, op, key, toks, src, ts):
    return (lsn, op, key, toks, len(toks) if toks else None, src, ts)


def test_track_lsn_stamped_through_replay(spark, tmp_path):
    """Every row carries the LSN of the event that last touched it — the
    per-key max over the log, INCLUDING content-identical events."""
    table = CDCEngine.create_table(
        str(tmp_path / "t"), num_buckets=4, soft_delete=True, track_lsn=True
    )
    eng = CDCEngine(spark, table)
    log = generate_changes(spark, 2000, n_keys=100, seed=3)
    eng.replay(log, num_batches=3)

    got = {
        r["doc_id"]: r[AUDIT_LSN]
        for r in table.read(spark).select("doc_id", AUDIT_LSN).collect()
    }
    expected = {
        r["doc_id"]: r["m"]
        for r in log.groupBy("doc_id").agg(F.max("lsn").alias("m")).collect()
    }
    # soft mode keeps every key ever seen; each row's version is the key's
    # last event — even when that event was a no-op content-wise
    assert got == expected


def test_apply_late_converges_without_log_rescan(spark, tmp_path):
    """A withheld early window applied via apply_late converges to the
    full-log fold, touches only the late keys' buckets, leaves the
    watermark alone, and is idempotent on re-delivery."""
    table = CDCEngine.create_table(
        str(tmp_path / "t"), num_buckets=8, soft_delete=True, track_lsn=True
    )
    eng = CDCEngine(spark, table)
    # keys 50..79 live ONLY in the withheld early window, so the late merge
    # has real work; keys 0..49's late events are gated by higher dl_lsn
    early = generate_changes(spark, 500, n_keys=80, seed=21)
    rest = generate_changes(spark, 500, n_keys=50, seed=22, first_lsn=501)
    changes = early.unionByName(rest, allowMissingColumns=True)
    eng.replay(rest, num_batches=1)
    assert table.last_lsn() == 1000

    late = early
    stats = eng.apply_late(late)
    assert stats.mode == "late_merge"
    assert table.last_lsn() == 1000  # watermark untouched
    lin = table.current().lineage
    assert lin and lin[0].get("late_merge") is True

    got = as_tuple_set(
        [r.asDict() for r in _live(table, spark).collect()], PAYLOAD_COLUMNS
    )
    expected = lww_fold([r.asDict() for r in changes.collect()])
    assert got == as_tuple_set(list(expected.values()), PAYLOAD_COLUMNS)

    # re-delivery: every key's dl_lsn already >= its events -> no commit
    v = table.current().version
    again = eng.apply_late(late)
    assert again.skipped
    assert table.current().version == v


def test_apply_late_gate_semantics(spark, tmp_path):
    """The version comparison row by row: a late event below the row's
    dl_lsn is obsolete (even against a tombstone); one above it applies
    (revive included)."""
    table = CDCEngine.create_table(
        str(tmp_path / "t"), num_buckets=4, soft_delete=True, track_lsn=True
    )
    eng = CDCEngine(spark, table)
    base = local_frame(
        spark,
        [
            _row(10, "I", "k1", [1], "web", dt.datetime(2024, 1, 1)),
            _row(20, "D", "k1", None, None, dt.datetime(2024, 1, 2)),
            _row(10, "I", "k2", [2], "web", dt.datetime(2024, 1, 1)),
        ],
        CHANGE_SCHEMA,
    )
    eng.apply_batch(base, 0, 20)
    rows = {r["doc_id"]: r for r in table.read(spark).collect()}
    assert rows["k1"][AUDIT_IUD] == "D" and rows["k1"][AUDIT_LSN] == 20

    # late U@15 for k1 loses to the tombstone@20 (no resurrect);
    # late U@15 for k2 beats its row@10
    late = local_frame(
        spark,
        [
            _row(15, "U", "k1", [9], "press", dt.datetime(2024, 1, 3)),
            _row(15, "U", "k2", [7], "press", dt.datetime(2024, 1, 3)),
        ],
        CHANGE_SCHEMA,
    )
    eng.apply_late(late)
    rows = {r["doc_id"]: r for r in table.read(spark).collect()}
    assert rows["k1"][AUDIT_IUD] == "D" and rows["k1"][AUDIT_LSN] == 20
    assert rows["k2"]["tokens"] == [7] and rows["k2"][AUDIT_LSN] == 15

    # late U@25 revives k1 (above the tombstone's version)
    eng.apply_late(
        local_frame(
            spark,
            [_row(25, "U", "k1", [5], "wiki", dt.datetime(2024, 1, 4))],
            CHANGE_SCHEMA,
        )
    )
    rows = {r["doc_id"]: r for r in table.read(spark).collect()}
    assert rows["k1"][AUDIT_IUD] != "D"
    assert rows["k1"]["tokens"] == [5] and rows["k1"][AUDIT_LSN] == 25
    assert table.last_lsn() == 20  # still never advanced by late merges


def test_apply_late_preconditions(spark, tmp_path):
    """track_lsn requires soft deletes at create time; apply_late refuses
    tables without the version column."""
    with pytest.raises(ValueError, match="soft_delete"):
        CDCEngine.create_table(
            str(tmp_path / "bad"), num_buckets=4, track_lsn=True
        )
    table = CDCEngine.create_table(str(tmp_path / "plain"), num_buckets=4)
    eng = CDCEngine(spark, table)
    with pytest.raises(ValueError, match="track_lsn"):
        eng.apply_late(generate_changes(spark, 10, n_keys=5, seed=1))


def test_stream_recover_bounded_on_track_lsn_table(spark, tmp_path):
    """On a track_lsn table, the stream's 'recover' policy merges the late
    segment directly (late_merge lineage marker, no repair re-fold) and
    converges to the full-log fold."""
    import os

    log_dir = str(tmp_path / "log")
    os.makedirs(log_dir)
    early = generate_changes(spark, 500, n_keys=80, seed=43)
    rest = generate_changes(spark, 500, n_keys=50, seed=44, first_lsn=501)
    changes = early.unionByName(rest, allowMissingColumns=True)
    write_changes_segments(rest, log_dir, n_segments=1)

    table = CDCEngine.create_table(
        str(tmp_path / "t"), num_buckets=4, soft_delete=True, track_lsn=True
    )
    eng = CDCEngine(spark, table)
    ckpt = str(tmp_path / "ck")
    q = run_stream(eng, stream_changes(spark, log_dir), checkpoint_dir=ckpt)
    q.awaitTermination(300)
    assert table.last_lsn() == 1000

    stage = str(tmp_path / "stage")
    late_file = write_changes_segments(early, stage, n_segments=1)[0]
    os.replace(late_file, os.path.join(log_dir, "seg-late.parquet"))
    q2 = run_stream(
        eng, stream_changes(spark, log_dir), checkpoint_dir=ckpt,
        on_out_of_order="recover",
    )
    q2.awaitTermination(300)

    # the recovery commit is a bounded late merge, not a full-log repair
    lin = table.current().lineage
    assert lin and lin[0].get("late_merge") is True

    got = as_tuple_set(
        [r.asDict() for r in _live(table, spark).collect()], PAYLOAD_COLUMNS
    )
    expected = lww_fold([r.asDict() for r in changes.collect()])
    assert got == as_tuple_set(list(expected.values()), PAYLOAD_COLUMNS)
    assert table.last_lsn() == 1000


def test_apply_late_refuses_null_merge_keys(spark, tmp_path):
    """code-review r4: a late segment carrying the key under an UNDECLARED
    former name aligns to null keys — apply_late must raise (as
    repair_keys does), never insert unreachable null-key tombstones while
    silently dropping the real events."""
    table = CDCEngine.create_table(
        str(tmp_path / "t"), num_buckets=4, soft_delete=True, track_lsn=True
    )
    eng = CDCEngine(spark, table)
    eng.apply_batch(
        local_frame(
            spark,
            [_row(10, "I", "k1", [1], "web", dt.datetime(2024, 1, 1))],
            CHANGE_SCHEMA,
        ),
        0,
        10,
    )
    late = local_frame(
        spark,
        [_row(5, "I", "k2", [2], "web", dt.datetime(2024, 1, 1))], CHANGE_SCHEMA
    ).withColumnRenamed("doc_id", "legacy_id")
    with pytest.raises(ValueError, match="undeclared former name"):
        eng.apply_late(late)
    # nothing committed, no null-key junk
    assert table.read(spark).filter("doc_id IS NULL").count() == 0


def test_apply_late_on_mor_table(spark, tmp_path):
    """Late events against a table whose in-order windows landed as
    merge-on-read deltas: the gate reads the RECONCILED dl_lsn (delta
    rows supersede base), so a late event loses to a newer delta row and
    wins against keys only the withheld window carries. The late merge
    itself rewrites its touched buckets (dropping their deltas into the
    rewrite) — state converges to the full fold."""
    table = CDCEngine.create_table(
        str(tmp_path / "tm"), num_buckets=8, soft_delete=True, track_lsn=True
    )
    eng = CDCEngine(spark, table, write_mode="mor")
    early = generate_changes(spark, 500, n_keys=80, seed=31)
    rest = generate_changes(spark, 500, n_keys=50, seed=32, first_lsn=501)
    changes = early.unionByName(rest, allowMissingColumns=True)
    eng.replay(rest, num_batches=3)  # batch 1 base, later batches deltas
    assert any(f.kind != "base" for f in table.current().files)

    stats = eng.apply_late(early)
    assert stats.mode == "late_merge"
    got = as_tuple_set(
        [r.asDict() for r in _live(table, spark).collect()], PAYLOAD_COLUMNS
    )
    expected = lww_fold([r.asDict() for r in changes.collect()])
    assert got == as_tuple_set(list(expected.values()), PAYLOAD_COLUMNS)
    # idempotent re-delivery still holds over the mixed base+delta layout
    again = eng.apply_late(early)
    assert again.skipped
