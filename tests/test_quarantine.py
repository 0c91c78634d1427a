"""Dead-letter quarantine: malformed change events (null merge key,
unknown op, null lsn) are diverted to parquet — or refused loudly — so
one bad row can never silently corrupt a merge or kill a long replay.
Detection rides the existing single-pass stats agg (pseudo-bucket -1):
the clean path pays no extra scan."""

import datetime as dt
import os

import pytest
from pyspark.sql import types as T

from dbimport_spark.plans.engine import CDCEngine
from dbimport_spark.schema import CHANGE_SCHEMA
from dbimport_spark.session import local_frame

TS = dt.datetime(2024, 1, 1)

# CHANGE_SCHEMA with nullable lsn/op/doc_id so malformed rows are even
# constructible (the declared log schema marks them non-null)
LAX_SCHEMA = T.StructType(
    [
        T.StructField(f.name, f.dataType, True) for f in CHANGE_SCHEMA.fields
    ]
)

GOOD = [
    (1, "I", "k1", [1, 2], 2, "web", TS),
    (2, "I", "k2", [3], 1, "web", TS),
    (3, "U", "k1", [9], 1, "web", TS),
]
BAD = [
    (4, "I", None, [5], 1, "web", TS),       # null merge key
    (5, "X", "k3", [6], 1, "web", TS),       # unknown op
    (None, "I", "k4", [7], 1, "web", TS),    # null lsn
    (6, None, None, None, None, None, TS),   # several reasons at once
]


def _log(spark, rows):
    return local_frame(spark, rows, LAX_SCHEMA)


def test_refuses_loudly_without_quarantine_dir(spark, tmp_path):
    table = CDCEngine.create_table(str(tmp_path / "t"), num_buckets=4)
    eng = CDCEngine(spark, table)
    v0 = table.current().version
    with pytest.raises(ValueError, match="malformed"):
        eng.apply_batch(_log(spark, GOOD + BAD), 0, 10)
    # refusal is all-or-nothing: no commit, no watermark movement
    assert table.current().version == v0
    assert table.read(spark).count() == 0


def test_quarantine_diverts_and_applies_good_rows(spark, tmp_path):
    table = CDCEngine.create_table(str(tmp_path / "t"), num_buckets=4)
    qdir = str(tmp_path / "q")
    eng = CDCEngine(spark, table, quarantine_dir=qdir)
    bs = eng.apply_batch(_log(spark, GOOD + BAD), 0, 10)
    assert bs.quarantined == len(BAD)
    assert bs.events == len(GOOD)

    got = {r["doc_id"]: r["tokens"] for r in table.read(spark).collect()}
    assert got == {"k1": [9], "k2": [3]}  # LWW over the good rows only

    q = spark.read.parquet(os.path.join(qdir, "batch-0-10")).collect()
    assert len(q) == len(BAD)
    reasons = {(r["lsn"], r["dl_reason"]) for r in q}
    assert (4, "null_merge_key") in reasons
    assert (5, "unknown_op") in reasons
    assert (None, "null_lsn") in reasons
    assert (6, "null_merge_key,unknown_op") in reasons

    # lineage carries the quarantine record alongside per-bucket rows
    lin = table.current().lineage
    assert any(rec.get("quarantined") == len(BAD) for rec in lin)


def test_all_bad_batch_still_advances_watermark(spark, tmp_path):
    table = CDCEngine.create_table(str(tmp_path / "t"), num_buckets=4)
    qdir = str(tmp_path / "q")
    eng = CDCEngine(spark, table, quarantine_dir=qdir)
    bs = eng.apply_batch(_log(spark, BAD), 0, 10)
    assert bs.quarantined == len(BAD)
    assert bs.events == 0 and bs.mode == "empty"
    assert table.last_lsn() == 10  # window consumed, replay can proceed
    assert table.read(spark).count() == 0
    assert any(
        rec.get("quarantined") == len(BAD) for rec in table.current().lineage
    )


def test_resume_overwrite_is_idempotent(spark, tmp_path):
    """A replay killed after the quarantine write but before the commit
    re-runs the window: the per-window overwrite leaves exactly one copy."""
    table = CDCEngine.create_table(str(tmp_path / "t"), num_buckets=4)
    qdir = str(tmp_path / "q")
    eng = CDCEngine(spark, table, quarantine_dir=qdir)
    log = _log(spark, GOOD + BAD)
    eng.apply_batch(log, 0, 10)
    # simulated crash-replay of the same window: skipped upstream, but a
    # raw re-apply against a rolled-back view must also not duplicate
    bs2 = eng.apply_batch(log, 0, 10)
    assert bs2.skipped  # watermark already past
    q = spark.read.parquet(os.path.join(qdir, "batch-0-10"))
    assert q.count() == len(BAD)


def test_clean_batch_writes_nothing(spark, tmp_path):
    table = CDCEngine.create_table(str(tmp_path / "t"), num_buckets=4)
    qdir = str(tmp_path / "q")
    eng = CDCEngine(spark, table, quarantine_dir=qdir)
    bs = eng.apply_batch(_log(spark, GOOD), 0, 10)
    assert bs.quarantined == 0
    assert not os.path.exists(qdir)
    assert not any("quarantined" in rec for rec in table.current().lineage)


def test_replay_accumulates_quarantined(spark, tmp_path):
    table = CDCEngine.create_table(str(tmp_path / "t"), num_buckets=4)
    qdir = str(tmp_path / "q")
    eng = CDCEngine(
        spark, table, checkpoint_dir=str(tmp_path / "ckpt"), quarantine_dir=qdir
    )
    stats = eng.replay(_log(spark, GOOD + BAD[:2]), num_batches=2)
    assert stats.events_applied == len(GOOD)
    assert stats.events_quarantined == 2


# -- drain (dead-letter re-ingest) --------------------------------------------

CORRECTED_BAD = [
    (4, "I", "k3", [5], 1, "web", TS),   # null key -> k3
    (5, "U", "k3", [6], 1, "web", TS),   # op X -> U
    (7, "I", "k4", [7], 1, "web", TS),   # null lsn -> 7
    # the all-null row (lsn 6) is dropped by the operator's fix
]


def _fix(df):
    from pyspark.sql import functions as F

    df = df.filter(F.col("op").isNotNull())  # drop the unfixable row
    return (
        df.withColumn("doc_id", F.coalesce(F.col("doc_id"), F.lit("k3")))
        .withColumn(
            "op", F.when(F.col("op") == "X", "U").otherwise(F.col("op"))
        )
        .withColumn("lsn", F.coalesce(F.col("lsn"), F.lit(7)))
    )


def _payload(spark, table):
    return {
        r["doc_id"]: list(r["tokens"] or [])
        for r in table.read(spark).collect()
        if r.asDict().get("dl_delete_ts") is None
    }


def test_quarantine_preserves_source_only_columns(spark, tmp_path):
    """The dead letter parks ORIGINAL rows: a null merge key whose real
    value rides a source-side extra column (an upstream extractor bug)
    keeps that column in the parked parquet — the aligned projection
    would drop it, making the window unrepairable. (A key riding an
    undeclared former name at the same position is caught even earlier,
    by the rename-suspicion guard.)"""
    table = CDCEngine.create_table(str(tmp_path / "t"), num_buckets=4)
    qdir = str(tmp_path / "q")
    eng = CDCEngine(spark, table, quarantine_dir=qdir)
    wide_schema = T.StructType(
        list(LAX_SCHEMA.fields)
        + [T.StructField("src_pk", T.StringType(), True)]
    )
    log = local_frame(
        spark,
        [
            (1, "I", None, [1], 1, "web", TS, "kA"),  # key only in src_pk
            (2, "I", None, [2], 1, "web", TS, "kB"),
            (3, "I", "k1", [3], 1, "web", TS, "k1"),  # well-formed
        ],
        wide_schema,
    )
    bs = eng.apply_batch(log, 0, 3)
    assert bs.quarantined == 2
    q = spark.read.parquet(os.path.join(qdir, "batch-0-3"))
    assert "src_pk" in q.columns
    assert {r["src_pk"] for r in q.collect()} == {"kA", "kB"}
    assert all(r["dl_reason"] == "null_merge_key" for r in q.collect())


def test_drain_refold_converges(spark, tmp_path):
    """Non-track_lsn table: drain re-folds log ∪ corrections for exactly
    the corrected keys; the result equals a fresh replay of the corrected
    log."""
    table = CDCEngine.create_table(str(tmp_path / "t"), num_buckets=4)
    qdir = str(tmp_path / "q")
    eng = CDCEngine(spark, table, quarantine_dir=qdir)
    log = _log(spark, GOOD + BAD)
    eng.apply_batch(log, 0, 10)

    with pytest.raises(ValueError, match="needs"):
        eng.drain_quarantine(fix=_fix)  # the refold path requires the log

    res = eng.drain_quarantine(changes=log, fix=_fix)
    assert res == {"drained_windows": 1, "events": 3, "mode": "refold"}

    oracle_t = CDCEngine.create_table(str(tmp_path / "o"), num_buckets=4)
    CDCEngine(spark, oracle_t).apply_batch(
        _log(spark, GOOD + CORRECTED_BAD), 0, 10
    )
    assert _payload(spark, table) == _payload(spark, oracle_t)
    # archived, not deleted; nothing left to drain
    assert eng.list_quarantine() == []
    assert os.path.isdir(os.path.join(qdir, "drained-batch-0-10"))
    assert eng.drain_quarantine(changes=log) == {
        "drained_windows": 0, "events": 0,
    }


def test_drain_late_merge_path(spark, tmp_path):
    """track_lsn soft table: drain goes through apply_late — one bounded
    bucket-pruned merge, no log rescan — and re-draining after a simulated
    crash (archive rolled back) changes nothing."""
    table = CDCEngine.create_table(
        str(tmp_path / "t"), num_buckets=4, soft_delete=True, track_lsn=True
    )
    qdir = str(tmp_path / "q")
    eng = CDCEngine(spark, table, quarantine_dir=qdir)
    eng.apply_batch(_log(spark, GOOD + BAD), 0, 10)

    res = eng.drain_quarantine(fix=_fix)  # no log needed
    assert res == {"drained_windows": 1, "events": 3, "mode": "late_merge"}

    oracle_t = CDCEngine.create_table(
        str(tmp_path / "o"), num_buckets=4, soft_delete=True, track_lsn=True
    )
    CDCEngine(spark, oracle_t).apply_batch(
        _log(spark, GOOD + CORRECTED_BAD), 0, 10
    )
    assert _payload(spark, table) == _payload(spark, oracle_t)

    # crash between apply and archive: roll the rename back, re-drain
    os.rename(
        os.path.join(qdir, "drained-batch-0-10"),
        os.path.join(qdir, "batch-0-10"),
    )
    before = _payload(spark, table)
    res2 = eng.drain_quarantine(fix=_fix)
    assert res2["drained_windows"] == 1
    assert _payload(spark, table) == before  # idempotent


def test_drain_refuses_still_bad(spark, tmp_path):
    """A fix that leaves any malformed row refuses the WHOLE drain:
    nothing applied, nothing archived."""
    table = CDCEngine.create_table(str(tmp_path / "t"), num_buckets=4)
    qdir = str(tmp_path / "q")
    eng = CDCEngine(spark, table, quarantine_dir=qdir)
    log = _log(spark, GOOD + BAD)
    eng.apply_batch(log, 0, 10)
    v = table.current().version
    with pytest.raises(ValueError, match="still"):
        eng.drain_quarantine(changes=log)  # no fix: rows stay malformed
    assert table.current().version == v
    assert eng.list_quarantine() == [{"dir": "batch-0-10", "lo": 0, "hi": 10}]


def test_cli_quarantine_list_and_drain(spark, tmp_path, capsys):
    """CLI surface: `quarantine --dir` lists parked windows; with the rows
    corrected out-of-band (the parked dir rewritten), `--drain --log`
    re-folds them in."""
    import json

    from dbimport_spark.cli import main

    root = str(tmp_path / "t")
    qdir = str(tmp_path / "q")
    table = CDCEngine.create_table(root, num_buckets=4)
    eng = CDCEngine(spark, table, quarantine_dir=qdir)
    log = _log(spark, GOOD + BAD)
    log_path = str(tmp_path / "log")
    log.write.parquet(log_path)
    eng.apply_batch(log, 0, 10)

    assert main(["quarantine", root, "--dir", qdir]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out == {"parked": [{"dir": "batch-0-10", "lo": 0, "hi": 10}]}

    # operator's out-of-band correction: replace the parked window's rows
    _log(spark, CORRECTED_BAD).write.mode("overwrite").parquet(
        os.path.join(qdir, "batch-0-10")
    )
    rc = main(["quarantine", root, "--dir", qdir, "--drain", "--log", log_path])
    assert rc in (0, None)
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["drained_windows"] == 1 and out["mode"] == "refold"

    oracle_t = CDCEngine.create_table(str(tmp_path / "o"), num_buckets=4)
    CDCEngine(spark, oracle_t).apply_batch(
        _log(spark, GOOD + CORRECTED_BAD), 0, 10
    )
    assert _payload(spark, table) == _payload(spark, oracle_t)


def test_drain_refold_soft_table(spark, tmp_path):
    """Soft-delete table without track_lsn: the refold drain path carries
    tombstones — the corrected delete lands as a dead row, not a vanish."""
    table = CDCEngine.create_table(
        str(tmp_path / "t"), num_buckets=4, soft_delete=True
    )
    qdir = str(tmp_path / "q")
    eng = CDCEngine(spark, table, quarantine_dir=qdir)
    # k1 inserted cleanly; its delete arrives with a garbage op
    log = _log(
        spark,
        GOOD + [(5, "Z", "k1", None, None, None, TS)],
    )
    eng.apply_batch(log, 0, 10)
    assert eng.list_quarantine() == [{"dir": "batch-0-10", "lo": 0, "hi": 10}]

    def fix(df):
        from pyspark.sql import functions as F

        return df.withColumn(
            "op", F.when(F.col("op") == "Z", "D").otherwise(F.col("op"))
        )

    res = eng.drain_quarantine(changes=log, fix=fix)
    assert res["mode"] == "refold" and res["events"] == 1
    rows = {r["doc_id"]: r for r in table.read(spark).collect()}
    assert rows["k1"]["dl_delete_ts"] is not None  # tombstoned, not gone
    assert rows["k2"]["dl_delete_ts"] is None
    assert _payload(spark, table) == {"k2": [3]}


def test_negative_lo_window_listed_and_drainable(spark, tmp_path):
    """A fresh table's first window is (-1, hi]: the parked dir is
    'batch--1-<hi>' and a naive split('-') mis-parsed it, hiding the
    window from list_quarantine (and so from drain) while it looked
    handled."""
    table = CDCEngine.create_table(str(tmp_path / "t"), num_buckets=4)
    qdir = str(tmp_path / "q")
    eng = CDCEngine(spark, table, quarantine_dir=qdir)
    bs = eng.apply_batch(_log(spark, GOOD + BAD), -1, 10)
    assert bs.quarantined == len(BAD)
    assert os.path.isdir(os.path.join(qdir, "batch--1-10"))

    assert eng.list_quarantine() == [{"dir": "batch--1-10", "lo": -1, "hi": 10}]

    # repaired events drain back in (fix the null key, give the
    # reason-free row real content, drop the rest)
    def fix(df):
        from pyspark.sql import functions as F

        return (
            df.filter(F.col("lsn").isin(4, 5))
            .withColumn("doc_id", F.coalesce(F.col("doc_id"), F.lit("k9")))
            .withColumn("op", F.lit("I"))
        )

    res = eng.drain_quarantine(changes=_log(spark, GOOD + BAD), fix=fix)
    assert res["drained_windows"] == 1
    assert eng.list_quarantine() == []
    got = {r["doc_id"] for r in table.read(spark).collect()}
    assert {"k9", "k3"} <= got


def test_replay_routes_null_lsn_rows_to_quarantine(spark, tmp_path):
    """Null-lsn rows are invisible to every replay window filter
    (lsn > lo AND lsn <= hi is null-false) — replay must route them into
    the first applied window's quarantine instead of silently dropping
    them; a log of ONLY null-lsn rows is refused loudly."""
    table = CDCEngine.create_table(str(tmp_path / "t"), num_buckets=4)
    qdir = str(tmp_path / "q")
    eng = CDCEngine(
        spark, table, checkpoint_dir=str(tmp_path / "ckpt"),
        quarantine_dir=qdir,
    )
    stats = eng.replay(_log(spark, GOOD + [BAD[2]]), num_batches=2)
    assert stats.events_applied == len(GOOD)
    assert stats.events_quarantined == 1
    parked = eng.list_quarantine()
    assert len(parked) == 1
    q = spark.read.parquet(os.path.join(qdir, parked[0]["dir"])).collect()
    assert len(q) == 1 and q[0]["lsn"] is None

    t2 = CDCEngine.create_table(str(tmp_path / "t2"), num_buckets=4)
    eng2 = CDCEngine(spark, t2, quarantine_dir=str(tmp_path / "q2"))
    with pytest.raises(ValueError, match="all with null"):
        eng2.replay(_log(spark, [BAD[2]]))


def _append_segment(spark, rows, path):
    """One immutable log segment (its own parquet file) per call."""
    local_frame(spark, rows, LAX_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(path)


def test_regrown_log_replay_never_reparks_null_lsn(spark, tmp_path):
    """Null-lsn rows are invisible to the watermark, so a re-planned
    replay over the same GROWN log sees every historical dead letter
    again — it must not re-park them (a drain would then re-apply fixes
    to already-resolved events and the inventory double-counts forever).
    Dedup is by immutable source segment via the quarantine's own
    dl_srcfile record; drained (archived) windows keep counting."""
    log = str(tmp_path / "log")
    _append_segment(spark, GOOD + [BAD[2]], log)  # segment A
    table = CDCEngine.create_table(str(tmp_path / "t"), num_buckets=4)
    qdir = str(tmp_path / "q")
    eng = CDCEngine(spark, table, quarantine_dir=qdir)
    s1 = eng.replay(spark.read.parquet(log), num_batches=2)
    assert s1.events_quarantined == 1
    assert len(eng.list_quarantine()) == 1

    # the log grows with a clean segment: re-planned replay applies it
    # and leaves A's already-parked dead letter alone
    _append_segment(spark, [(10, "I", "k9", [1], 1, "web", TS)], log)
    s2 = eng.replay(spark.read.parquet(log), num_batches=2)
    assert s2.events_applied == 1
    assert s2.events_quarantined == 0
    assert len(eng.list_quarantine()) == 1

    # archived (drained) windows keep the record: still no re-park
    parked = eng.list_quarantine()[0]["dir"]
    os.rename(
        os.path.join(qdir, parked), os.path.join(qdir, "drained-" + parked)
    )
    _append_segment(spark, [(11, "U", "k9", [2], 1, "web", TS)], log)
    s3 = eng.replay(spark.read.parquet(log), num_batches=2)
    assert s3.events_quarantined == 0
    assert eng.list_quarantine() == []


def test_new_dirty_segment_parks_only_its_own_dead_letters(spark, tmp_path):
    """A NEW segment carrying fresh rows plus its own null-lsn rows parks
    exactly those — the old segment's parked dead letters are excluded
    by the dl_srcfile record, not by anything lsn-shaped."""
    log = str(tmp_path / "log")
    _append_segment(spark, GOOD + [BAD[2]], log)  # A: k4 dead letter
    table = CDCEngine.create_table(str(tmp_path / "t"), num_buckets=4)
    eng = CDCEngine(spark, table, quarantine_dir=str(tmp_path / "q"))
    assert eng.replay(spark.read.parquet(log)).events_quarantined == 1

    # C: one fresh row + one new dead letter (distinct key k5)
    _append_segment(
        spark,
        [(12, "I", "k8", [3], 1, "web", TS),
         (None, "I", "k5", [8], 1, "web", TS)],
        log,
    )
    s2 = eng.replay(spark.read.parquet(log), num_batches=2)
    assert s2.events_applied == 1
    assert s2.events_quarantined == 1
    windows = eng.list_quarantine()
    assert len(windows) == 2
    newest = max(windows, key=lambda w: w["lo"])
    rows = spark.read.parquet(
        os.path.join(str(tmp_path / "q"), newest["dir"])
    ).collect()
    assert [r["doc_id"] for r in rows] == ["k5"]


def test_park_dead_letters_without_fresh_data(spark, tmp_path):
    """A bad-only segment arriving with NO fresh data plans no replay
    window at all — replay must not return green stats over it: with a
    quarantine configured it parks the segment itself (the window-less
    twin of in-window routing); park_dead_letters stays the explicit
    remedy and is idempotent, and a second dirty segment at the same
    watermark unions instead of overwriting the first record away."""
    log = str(tmp_path / "log")
    _append_segment(spark, GOOD, log)
    table = CDCEngine.create_table(str(tmp_path / "t"), num_buckets=4)
    qdir = str(tmp_path / "q")
    eng = CDCEngine(spark, table, quarantine_dir=qdir)
    eng.replay(spark.read.parquet(log))
    assert table.last_lsn() == 3

    _append_segment(spark, [BAD[2]], log)  # bad-only segment
    s = eng.replay(spark.read.parquet(log), num_batches=2)
    assert s.events_applied == 0
    assert s.events_quarantined == 1  # parked by the sweep itself
    assert eng.park_dead_letters(spark.read.parquet(log)) == 0  # idempotent
    windows = eng.list_quarantine()
    assert len(windows) == 1 and windows[0]["lo"] == windows[0]["hi"] == 3

    # second dirty segment, same watermark: unions with the zero-span dir
    _append_segment(spark, [(None, "I", "k6", [9], 1, "web", TS)], log)
    assert eng.park_dead_letters(spark.read.parquet(log)) == 1
    rows = spark.read.parquet(os.path.join(qdir, "batch-3-3")).collect()
    assert sorted(r["doc_id"] for r in rows) == ["k4", "k6"]
    # a repeat sweep re-parks nothing and stays green
    s = eng.replay(spark.read.parquet(log), num_batches=2)
    assert s.events_applied == 0 and s.events_quarantined == 0


def test_bad_only_segment_refused_without_quarantine(spark, tmp_path):
    """The same window-less bad-only segment WITHOUT a quarantine dir is
    a loud stop, not a green no-op — replay_all fleet sweeps must never
    report ok over unparked dead letters (the streaming path already
    refuses this exact state)."""
    log = str(tmp_path / "log")
    _append_segment(spark, GOOD, log)
    table = CDCEngine.create_table(str(tmp_path / "t"), num_buckets=4)
    eng = CDCEngine(spark, table)
    eng.replay(spark.read.parquet(log))

    _append_segment(spark, [BAD[2]], log)  # bad-only segment
    with pytest.raises(ValueError, match="unparked null-lsn"):
        eng.replay(spark.read.parquet(log), num_batches=2)


def test_park_dead_letters_nonfile_frame_repeat_is_noop(spark, tmp_path):
    """Rows from an in-memory frame carry no source-segment identity
    (input_file_name is ''), so the srcfile dedup cannot see them — a
    repeat park of the SAME frame (an automation retry) must still be a
    no-op, not a double-park that later double-drains."""
    table = CDCEngine.create_table(str(tmp_path / "t"), num_buckets=4)
    qdir = str(tmp_path / "q")
    eng = CDCEngine(spark, table, quarantine_dir=qdir)
    eng.replay(_log(spark, GOOD))

    bad = _log(spark, [BAD[2]])
    assert eng.park_dead_letters(bad) == 1
    assert eng.park_dead_letters(bad) == 0  # exact repeat: nothing new
    rows = spark.read.parquet(os.path.join(qdir, "batch-3-3")).collect()
    assert len(rows) == 1
    # a genuinely NEW dead letter from another memory frame still parks
    assert eng.park_dead_letters(
        _log(spark, [(None, "I", "k6", [9], 1, "web", TS)])
    ) == 1


def test_drain_after_park_dead_letters(spark, tmp_path):
    """The full dead-letter loop for a bad-only segment: replay cannot
    reach it (no fresh data), park_dead_letters parks it at the
    watermark (zero-span window), and drain_quarantine re-ingests the
    repaired event — the parked row's dl_srcfile bookkeeping must not
    confuse the drain's alignment."""
    from pyspark.sql import functions as F

    log = str(tmp_path / "log")
    _append_segment(spark, GOOD, log)
    table = CDCEngine.create_table(str(tmp_path / "t"), num_buckets=4)
    eng = CDCEngine(spark, table, quarantine_dir=str(tmp_path / "q"))
    eng.replay(spark.read.parquet(log))

    _append_segment(spark, [BAD[2]], log)  # k4, null lsn — bad-only
    assert eng.park_dead_letters(spark.read.parquet(log)) == 1

    def fix(df):
        return df.withColumn("lsn", F.lit(10).cast("long"))

    out = eng.drain_quarantine(
        changes=spark.read.parquet(log), fix=fix
    )
    assert out["events"] == 1
    rows = {r["doc_id"]: r["tokens"] for r in table.read(spark).collect()}
    assert rows["k4"] == [7]
    assert eng.list_quarantine() == []  # archived
    # and the drained record still blocks any re-park of that segment
    assert eng.park_dead_letters(spark.read.parquet(log)) == 0
