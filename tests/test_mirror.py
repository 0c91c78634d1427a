"""Lake-to-lake mirror over the change data feed (plans/mirror.py):
the reference's copy-to-other-cluster stage, Spark-native. The mirror's
LSN watermark is the source version, so sync is exactly-once and
resumable through the engine's existing machinery."""

import datetime as dt
import time

import pytest
from pyspark.sql import functions as F

from dbimport_spark.plans.engine import CDCEngine
from dbimport_spark.plans.mirror import source_version_mirrored, sync_mirror
from dbimport_spark.schema import CHANGE_SCHEMA, PAYLOAD_COLUMNS
from dbimport_spark.session import local_frame
from dbimport_spark.sources.loggen import generate_changes

TS = dt.datetime(2024, 1, 1)


def _log(spark, rows):
    return local_frame(spark, rows, CHANGE_SCHEMA)


def _payload_state(spark, table):
    rows = table.read(spark).select(*PAYLOAD_COLUMNS).collect()
    return {
        r["doc_id"]: (tuple(r["tokens"] or ()), r["n_tok"], r["source"])
        for r in rows
    }


def _pair(spark, tmp_path, **mirror_kw):
    src_t = CDCEngine.create_table(str(tmp_path / "src"), num_buckets=8)
    src = CDCEngine(spark, src_t, checkpoint_dir=str(tmp_path / "src_ckpt"))
    mir_t = CDCEngine.create_table(
        str(tmp_path / "mir"), num_buckets=4, **mirror_kw
    )
    mir = CDCEngine(spark, mir_t)
    return src, mir


def test_mirror_converges_across_windows(spark, tmp_path):
    src, mir = _pair(spark, tmp_path)
    log = generate_changes(spark, 3000, n_keys=200, seed=21)

    # window 1: bootstrap (source v0 is the empty snapshot -> full copy)
    src.replay(log.filter(F.col("lsn") <= 1500), num_batches=2)
    bs = sync_mirror(spark, src.table, mir)
    assert not bs.skipped
    assert _payload_state(spark, mir.table) == _payload_state(spark, src.table)

    # window 2: incremental (updates + hard deletes propagate)
    src.replay(log, num_batches=2)
    bs = sync_mirror(spark, src.table, mir)
    assert not bs.skipped
    assert _payload_state(spark, mir.table) == _payload_state(spark, src.table)
    assert source_version_mirrored(mir) == src.table.current().version

    # idempotent: nothing new -> skipped, state unchanged
    bs = sync_mirror(spark, src.table, mir)
    assert bs.skipped


def test_mirror_propagates_hard_deletes(spark, tmp_path):
    src, mir = _pair(spark, tmp_path)
    src.apply_batch(
        _log(spark, [(1, "I", "k1", [1], 1, "a", TS),
                     (2, "I", "k2", [2], 1, "a", TS)]), 0, 2,
    )
    sync_mirror(spark, src.table, mir)
    src.apply_batch(_log(spark, [(3, "D", "k1", None, None, None, TS)]), 2, 3)
    sync_mirror(spark, src.table, mir)
    assert set(_payload_state(spark, mir.table)) == {"k2"}


def test_soft_source_hard_mirror(spark, tmp_path):
    """Tombstones on a soft-delete source arrive at a hard mirror as real
    deletes; revival re-inserts."""
    src_t = CDCEngine.create_table(
        str(tmp_path / "src"), num_buckets=4, soft_delete=True
    )
    src = CDCEngine(spark, src_t, delete_mode="soft")
    mir_t = CDCEngine.create_table(str(tmp_path / "mir"), num_buckets=4)
    mir = CDCEngine(spark, mir_t)

    src.apply_batch(_log(spark, [(1, "I", "k1", [1], 1, "a", TS)]), 0, 1)
    sync_mirror(spark, src_t, mir)
    src.apply_batch(_log(spark, [(2, "D", "k1", None, None, None, TS)]), 1, 2)
    sync_mirror(spark, src_t, mir)
    assert _payload_state(spark, mir.table) == {}
    src.apply_batch(_log(spark, [(3, "I", "k1", [9], 1, "a", TS)]), 2, 3)
    sync_mirror(spark, src_t, mir)
    assert set(_payload_state(spark, mir.table)) == {"k1"}


import contextlib


@contextlib.contextmanager
def _caplog_records(logger_name, level=None):
    """Capture log records from one logger (session-scoped spark fixture
    makes pytest's caplog handler wiring unreliable across workers)."""
    import logging

    recs = []

    class _H(logging.Handler):
        def emit(self, record):
            recs.append(record)

    lg = logging.getLogger(logger_name)
    h = _H()
    old_level = lg.level
    lg.addHandler(h)
    lg.setLevel(logging.WARNING if level is None else level)
    try:
        yield recs
    finally:
        lg.removeHandler(h)
        lg.setLevel(old_level)


def test_gap_fallback_full_reconcile(spark, tmp_path):
    src, mir = _pair(spark, tmp_path)
    src.apply_batch(
        _log(spark, [(1, "I", "k1", [1], 1, "a", TS),
                     (2, "I", "k2", [2], 1, "a", TS)]), 0, 2,
    )
    sync_mirror(spark, src.table, mir)
    # source moves on twice, then expires the mirror's base snapshot
    src.apply_batch(_log(spark, [(3, "D", "k1", None, None, None, TS)]), 2, 3)
    src.apply_batch(_log(spark, [(4, "U", "k2", [7, 7], 2, "b", TS)]), 3, 4)
    src.table.expire_snapshots(keep_last=1)
    assert source_version_mirrored(mir) not in src.table.snapshots()

    with pytest.raises(ValueError, match="expired"):
        sync_mirror(spark, src.table, mir)
    # no-silent-caps: the opt-in full reconcile reports its scan sizes
    import logging

    with _caplog_records("dbimport_spark.plans.mirror") as recs:
        bs = sync_mirror(spark, src.table, mir, on_gap="full")
    assert any(
        "full reconcile will scan" in r.getMessage() and "rows" in r.getMessage()
        for r in recs
    )
    assert not bs.skipped
    assert _payload_state(spark, mir.table) == _payload_state(spark, src.table)
    # and the watermark caught up, so the next delta sync is incremental
    assert source_version_mirrored(mir) == src.table.current().version


def test_verify_mirror_reconciles(spark, tmp_path):
    from dbimport_spark.plans.mirror import verify_mirror

    src, mir = _pair(spark, tmp_path)
    log = generate_changes(spark, 1500, n_keys=120, seed=33)
    src.replay(log, num_batches=2)
    sync_mirror(spark, src.table, mir)
    rep = verify_mirror(spark, src.table, mir.table)
    assert rep["converged"] and rep["rowcount_ok"] and rep["checksum_ok"]

    # drift (source advances, mirror not yet synced) must be detected
    src.apply_batch(
        _log(spark, [(1501, "U", "doc-00000003", [1], 1, "x", TS)]),
        1500, 1501,
    )
    rep = verify_mirror(spark, src.table, mir.table)
    assert not rep["converged"]


def test_mirror_carries_evolved_columns(spark, tmp_path):
    src, mir = _pair(spark, tmp_path)
    src.apply_batch(_log(spark, [(1, "I", "k1", [1], 1, "a", TS)]), 0, 1)
    sync_mirror(spark, src.table, mir)
    evolved = local_frame(
        spark,
        [(2, "U", "k1", [1, 2], 2, "a", TS, 0.9)],
        "lsn long, op string, doc_id string, tokens array<int>, n_tok int, "
        "source string, commit_ts timestamp, quality float",
    )
    src.apply_batch(evolved, 1, 2)
    sync_mirror(spark, src.table, mir)
    assert "quality" in mir.table.current().schema.fieldNames()
    row = mir.table.read(spark).collect()[0]
    assert abs(row["quality"] - 0.9) < 1e-6


def test_follow_mirror_applies_windows_as_source_advances(spark, tmp_path):
    """Continuous replication: follow_mirror polls and ships each new
    window. The source advances from another thread mid-follow; the
    follower must apply both windows and converge."""
    import threading

    from dbimport_spark.plans.mirror import follow_mirror

    src, mir = _pair(spark, tmp_path)
    log = generate_changes(spark, 2000, n_keys=150, seed=5)
    src.replay(log.filter(F.col("lsn") <= 1000), num_batches=1)

    # backstop: if a pathological scheduling race ever collapses both
    # windows into one sync, the stop file ends the loop and the count
    # assertion fails visibly instead of the test hanging on max_syncs
    stop = tmp_path / "backstop"
    backstop = threading.Timer(120.0, stop.touch)
    backstop.start()
    t = threading.Timer(1.0, lambda: src.replay(log, num_batches=1))
    t.start()
    try:
        applied = follow_mirror(
            spark, src.table, mir, poll_s=0.1, max_syncs=2,
            stop_file=str(stop),
        )
    finally:
        t.join()
        backstop.cancel()
    assert len(applied) == 2
    assert _payload_state(spark, mir.table) == _payload_state(spark, src.table)
    assert source_version_mirrored(mir) == src.table.current().version


def test_follow_mirror_stop_file(spark, tmp_path):
    from dbimport_spark.plans.mirror import follow_mirror

    src, mir = _pair(spark, tmp_path)
    src.apply_batch(_log(spark, [(1, "I", "k1", [1], 1, "a", TS)]), 0, 1)
    stop = tmp_path / "stop"
    stop.touch()
    # first poll syncs the pending window, second finds nothing and sees
    # the stop file -> returns instead of sleeping forever
    applied = follow_mirror(
        spark, src.table, mir, poll_s=30.0, stop_file=str(stop)
    )
    assert len(applied) == 1
    assert _payload_state(spark, mir.table) == _payload_state(spark, src.table)


def test_follow_sync_stop_rule_finishes_then_stops(tmp_path):
    """The polling stop rule, without Spark: once the stop file is seen,
    one final sync covers the windows committed up to that moment, then
    the loop stops — even when the source commits between every sync
    (the loop used to check the file only after an idle sync, so a busy
    source kept it running forever)."""
    from dbimport_spark.plans.engine import BatchStats
    from dbimport_spark.plans.mirror import follow_sync

    stop = tmp_path / "stop"
    calls = []

    def busy_sync():  # the source always has a new window
        calls.append(len(calls))
        if len(calls) == 3:
            stop.touch()  # appears while the third sync runs
        return BatchStats(lo=len(calls) - 1, hi=len(calls))

    # a 200-sync cap keeps a broken stop rule from hanging the test
    applied = follow_sync(
        busy_sync, poll_s=3600.0, max_syncs=200, stop_file=str(stop)
    )
    assert len(applied) == 4  # the file is seen before the 4th, its last
    assert [b.hi for b in applied] == [1, 2, 3, 4]

    calls.clear()
    applied = follow_sync(
        busy_sync, poll_s=3600.0, max_syncs=200, stop_file=str(stop)
    )
    assert len(applied) == 1  # already present: one final sync

    def idle_sync():
        calls.append(None)
        return BatchStats(lo=4, hi=4, skipped=True)

    calls.clear()
    t0 = time.monotonic()
    assert follow_sync(idle_sync, poll_s=3600.0, stop_file=str(stop)) == []
    assert len(calls) == 1 and time.monotonic() - t0 < 60  # no poll sleep


def test_mirror_and_view_converge_after_source_repair(spark, tmp_path):
    """Out-of-band repair interplay: repair_keys rewrites source buckets
    in a NEW commit, so a later delta sync ships the corrections through
    the change feed — mirror and matview both converge without special
    handling (the repair is just another window to them)."""
    from dbimport_spark.plans.matview import (
        AggSpec,
        create_view,
        sync_view,
        verify_view,
    )
    from dbimport_spark.plans.mirror import verify_mirror

    src, mir = _pair(spark, tmp_path)
    spec = AggSpec(group_cols=["source"], sum_cols=["n_tok"])
    view_t = create_view(str(tmp_path / "view"), src.table, spec, num_buckets=2)
    view = CDCEngine(spark, view_t)

    log = generate_changes(spark, 3000, n_keys=200, seed=51)
    # replay with a skipped middle window (late segment), sync derived
    b = log.agg(F.min("lsn").alias("lo"), F.max("lsn").alias("hi")).first()
    m1 = b["lo"] + (b["hi"] - b["lo"]) // 3
    m2 = b["lo"] + 2 * (b["hi"] - b["lo"]) // 3
    src.replay(log.filter(F.col("lsn") <= m1), num_batches=1)
    src.replay(log.filter(F.col("lsn") > m2), num_batches=1,
               allow_log_gap=True)
    sync_mirror(spark, src.table, mir)
    sync_view(spark, src.table, view, spec)

    # out-of-band repair folds the gap's keys authoritatively
    gap_keys = (
        log.filter((F.col("lsn") > m1) & (F.col("lsn") <= m2))
        .select("doc_id").distinct()
    )
    src.repair_keys(log, gap_keys)

    # plain delta syncs pick the corrections up through the feed
    assert not sync_mirror(spark, src.table, mir).skipped
    assert not sync_view(spark, src.table, view, spec).skipped
    assert verify_mirror(spark, src.table, mir.table)["converged"]
    assert verify_view(spark, src.table, view_t, spec)["converged"]
    assert _payload_state(spark, mir.table) == _payload_state(spark, src.table)


def test_mirror_sync_across_reload_boundary(spark, tmp_path):
    """code-review r5: a declared full reload INSIDE the sync window must
    route to the full reconcile when on_gap='full' — previously the
    incremental branch fired whenever the base snapshot was still
    retained, table_changes refused the reload window, and the
    prescribed on_gap='full' remedy was unreachable (the sync wedged
    until the base happened to expire)."""
    from dbimport_spark.plans.mirror import verify_mirror

    src_t = CDCEngine.create_table(str(tmp_path / "src"), num_buckets=2)
    src = CDCEngine(spark, src_t)
    src.apply_batch(
        _log(spark, [(1, "I", "k1", [1] * 3, 3, "a", TS),
                     (2, "I", "k2", [2] * 4, 4, "b", TS)]), 0, 2,
    )
    mir_t = CDCEngine.create_table(str(tmp_path / "mir"), num_buckets=2)
    mir = CDCEngine(spark, mir_t)
    sync_mirror(spark, src_t, mir)
    base_v = mir_t.last_lsn()
    assert base_v == src_t.current().version

    # declared full reload + repopulate with DIFFERENT content
    src_t.reset_for_reload(src_t.current().schema)
    src2 = CDCEngine(spark, src_t)
    src2.apply_batch(
        _log(spark, [(1, "I", "k2", [9] * 5, 5, "c", TS),
                     (2, "I", "k3", [7] * 2, 2, "c", TS)]), 0, 2,
    )
    assert base_v in src_t.snapshots()  # the base is still retained

    with pytest.raises(ValueError, match="declared full reload"):
        sync_mirror(spark, src_t, mir)  # on_gap='error' names the cause
    # the CDC exporter applies the same gap rule, refusing the window
    # before any JDBC connection is opened
    from dbimport_spark.plans.cdc_export import CDCJdbcExporter

    exp = CDCJdbcExporter(
        src_t, "jdbc:derby:memory:never-opened", "tgt",
        state_dir=str(tmp_path / "export-state"),
    )
    exp._save_state({"last_version": base_v, "runs": 1})
    with pytest.raises(ValueError, match="declared full reload"):
        exp.sync(spark)
    bs = sync_mirror(spark, src_t, mir, on_gap="full")
    assert not bs.skipped
    assert verify_mirror(spark, src_t, mir_t)["converged"]
    # k1 (pre-reload only) is gone from the mirror, k3 arrived
    ids = {r["doc_id"] for r in mir_t.read(spark).select("doc_id").collect()}
    assert ids == {"k2", "k3"}
    # subsequent incremental syncs work again
    src2.apply_batch(_log(spark, [(3, "U", "k3", [8] * 3, 3, "c", TS)]), 2, 3)
    bs2 = sync_mirror(spark, src_t, mir)
    assert not bs2.skipped
    assert verify_mirror(spark, src_t, mir_t)["converged"]


def test_full_reconcile_pins_to_watermark_version(spark, tmp_path):
    """The on_gap='full' reconcile must read the source AT the version it
    promotes as the watermark: reading current() would let a racing
    commit's row into the reconcile while the watermark stays behind —
    a later delete of that row diffs absent→absent and the mirror keeps
    it forever. Pin the read by asserting every source read during the
    reconcile names the promoted version."""
    from dbimport_spark.lake.table import LakeTable

    src, mir = _pair(spark, tmp_path)
    src.apply_batch(
        _log(spark, [(1, "I", "k1", [1], 1, "a", TS),
                     (2, "I", "k2", [2], 1, "a", TS)]), 0, 2,
    )
    sync_mirror(spark, src.table, mir)
    src.apply_batch(_log(spark, [(3, "U", "k2", [9], 1, "a", TS)]), 2, 3)
    src.table.expire_snapshots(keep_last=1)
    assert source_version_mirrored(mir) not in src.table.snapshots()

    to_v = src.table.current().version
    src_root = src.table.root
    seen_versions = []
    orig_read = LakeTable.read

    def spy_read(self, spark_, buckets=None, version=None):
        if self.root == src_root:
            seen_versions.append(version)
        return orig_read(self, spark_, buckets=buckets, version=version)

    LakeTable.read = spy_read
    try:
        bs = sync_mirror(spark, src.table, mir, on_gap="full")
    finally:
        LakeTable.read = orig_read
    assert not bs.skipped
    assert seen_versions and all(v == to_v for v in seen_versions), (
        seen_versions
    )
    assert source_version_mirrored(mir) == to_v
