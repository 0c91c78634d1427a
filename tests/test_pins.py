"""Retention pins (LakeTable.set_pin / expire_snapshots interplay): the
Iceberg refs/branches analogue, scoped to what the change feed needs. A
pin names the oldest source version a follower (mirror, matview, CDC
export, external stream) still diffs from; expire_snapshots keeps every
version at or above the oldest pin — metadata AND data files — so a
lagging follower is never forced through an on_gap='full' reconcile.
Reference analogue: DBImport gates its post-import Iceberg maintenance
on the copy phase having shipped (import_operations.py:1513-1535 +
copy_operations.py); pins make the same guarantee hold for followers
the source table does not orchestrate itself."""

import datetime as dt

import pytest

from dbimport_spark.lake.fsck import check_table
from dbimport_spark.plans.engine import CDCEngine
from dbimport_spark.plans.mirror import sync_mirror
from dbimport_spark.schema import CHANGE_SCHEMA
from dbimport_spark.session import local_frame

TS = dt.datetime(2024, 1, 1)


def _log(spark, rows):
    return local_frame(spark, rows, CHANGE_SCHEMA)


def _commits(spark, eng, n, lo=0):
    for i in range(lo, lo + n):
        eng.apply_batch(
            _log(spark, [(i + 1, "I", f"k{i}", [i], 1, "a", TS)]), i, i + 1
        )


def test_pin_roundtrip_and_validation(spark, tmp_path):
    t = CDCEngine.create_table(str(tmp_path / "t"), num_buckets=2)
    eng = CDCEngine(spark, t)
    _commits(spark, eng, 2)
    t.set_pin("mirror:a", 1)
    t.set_pin("view:b-1f2e3d", 2)
    assert t.pins() == {"mirror:a": 1, "view:b-1f2e3d": 2}
    t.set_pin("mirror:a", 2)  # advance, last-writer-wins
    assert t.pins()["mirror:a"] == 2
    with pytest.raises(ValueError, match="not a retained snapshot"):
        t.set_pin("mirror:a", 99)
    with pytest.raises(ValueError, match="invalid pin name"):
        t.set_pin("../escape", 1)
    assert t.delete_pin("mirror:a")
    assert not t.delete_pin("mirror:a")  # already gone
    assert set(t.pins()) == {"view:b-1f2e3d"}


def test_expire_keeps_pinned_and_later_versions(spark, tmp_path):
    t = CDCEngine.create_table(str(tmp_path / "t"), num_buckets=2)
    eng = CDCEngine(spark, t)
    _commits(spark, eng, 4)  # versions 0..4
    t.set_pin("f", 2)
    t.expire_snapshots(keep_last=1)
    # v2 (the pin) and everything above survive; v0/v1 are gone
    assert t.snapshots() == [2, 3, 4]
    # the pinned snapshot's files stayed readable (not just its metadata)
    assert t.read(spark, version=2).count() == 2
    # pin removed -> the next expiry applies keep_last plainly
    t.delete_pin("f")
    t.expire_snapshots(keep_last=1)
    assert t.snapshots() == [4]


def test_lagging_mirror_survives_expiry_via_pin(spark, tmp_path):
    """The operational hole pins close: a mirror synced at v2, source
    expired to keep_last=1 — WITHOUT a pin the delta base is gone and
    sync_mirror needs on_gap='full'; WITH the auto-advanced pin the
    incremental path just works."""
    src_t = CDCEngine.create_table(str(tmp_path / "src"), num_buckets=4)
    src = CDCEngine(spark, src_t)
    mir_t = CDCEngine.create_table(str(tmp_path / "mir"), num_buckets=2)
    mir = CDCEngine(spark, mir_t)

    _commits(spark, src, 2)
    bs = sync_mirror(spark, src_t, mir, pin_name="mirror:m")
    assert not bs.skipped
    synced_v = src_t.current().version
    assert src_t.pins() == {"mirror:m": synced_v}

    _commits(spark, src, 2, lo=2)  # source advances; mirror lags
    src_t.expire_snapshots(keep_last=1)
    assert synced_v in src_t.snapshots()  # the pin held the delta base
    bs = sync_mirror(spark, src_t, mir, pin_name="mirror:m")  # no on_gap
    assert not bs.skipped
    assert src_t.pins()["mirror:m"] == src_t.current().version
    got = {r["doc_id"] for r in mir_t.read(spark).collect()}
    assert got == {"k0", "k1", "k2", "k3"}


def test_unpinned_lagging_mirror_still_needs_full(spark, tmp_path):
    """Control for the test above: same sequence without a pin forces
    the documented on_gap path."""
    src_t = CDCEngine.create_table(str(tmp_path / "src"), num_buckets=4)
    src = CDCEngine(spark, src_t)
    mir_t = CDCEngine.create_table(str(tmp_path / "mir"), num_buckets=2)
    mir = CDCEngine(spark, mir_t)
    _commits(spark, src, 2)
    sync_mirror(spark, src_t, mir)
    _commits(spark, src, 2, lo=2)
    src_t.expire_snapshots(keep_last=1)
    with pytest.raises(ValueError, match="expired"):
        sync_mirror(spark, src_t, mir)
    bs = sync_mirror(spark, src_t, mir, on_gap="full")
    assert not bs.skipped


def test_fsck_warns_on_ineffective_and_stale_pins(spark, tmp_path):
    t = CDCEngine.create_table(str(tmp_path / "t"), num_buckets=2)
    eng = CDCEngine(spark, t)
    _commits(spark, eng, 3)
    t.set_pin("dead-follower", 1)
    # expiry honors pins, so simulate the expired-pin case by removing
    # the pinned snapshot's metadata out-of-band (the corruption/ops
    # mistake fsck exists to surface)
    import os

    os.unlink(t._meta_path(1))
    os.unlink(t._meta_path(0))
    findings = check_table(t)
    pin_warns = [f for f in findings if f["check"] == "pins"]
    assert any("ineffective" in f["detail"] for f in pin_warns)
    assert all(f["level"] == "warn" for f in pin_warns)


def test_registry_sweep_auto_pins_derived_targets(spark, tmp_path):
    """replay_all advances a deterministic pin per derived target, so the
    entry's own expire_keep_last maintenance can never strand its mirror."""
    from dbimport_spark.plans.registry import (
        TableEntry,
        TableRegistry,
        replay_all,
    )
    from dbimport_spark.sources.loggen import generate_changes

    log_dir = tmp_path / "log"
    generate_changes(spark, 400, n_keys=60, seed=3).write.parquet(str(log_dir))
    src_root = str(tmp_path / "src")
    CDCEngine.create_table(src_root, num_buckets=4)
    mir_root = str(tmp_path / "mir")
    CDCEngine.create_table(mir_root, num_buckets=2)
    reg = TableRegistry(str(tmp_path / "registry.json"))
    reg.save(
        {
            "t1": TableEntry(
                name="t1",
                table_root=src_root,
                log_path=str(log_dir),
                checkpoint=str(tmp_path / "ckpt"),
                mirror_root=mir_root,
                batches=2,
                maintenance={"expire_keep_last": 1},
            )
        }
    )
    res = replay_all(spark, reg)
    assert res["t1"]["ok"], res["t1"]
    from dbimport_spark.lake.table import LakeTable

    src_t = LakeTable.load(src_root)
    pins = src_t.pins()
    assert len(pins) == 1 and next(iter(pins)).startswith("mirror:")
    # the auto-pin points at the synced (current) version, so maintenance
    # expiry keeps exactly keep_last going forward — no extra retention
    assert pins[next(iter(pins))] == src_t.current().version
