"""Snapshot tags (LakeTable.set_tag / time travel / expiry interplay):
the Iceberg refs/tags analogue. A tag names ONE version for time-travel
reads — a data freeze, an audit point, "the corpus a run trained on" —
and expire_snapshots keeps exactly the tagged snapshot (metadata AND
data files) while untagged intermediates age out. Contrast with pins
(test_pins.py): a pin is a retention FLOOR for change-feed followers;
a tag is a point-read ref. Reference analogue: DBImport's Iceberg
maintenance expires on count alone (import_operations.py:1513-1535);
tags are the named-ref surface its users reach for out-of-band."""

import datetime as dt
import os

import pytest

from dbimport_spark.lake.fsck import check_table
from dbimport_spark.plans.engine import CDCEngine
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


def test_tag_roundtrip_and_validation(spark, tmp_path):
    t = CDCEngine.create_table(str(tmp_path / "t"), num_buckets=2)
    eng = CDCEngine(spark, t)
    _commits(spark, eng, 2)
    assert t.set_tag("freeze-v1", 1) == 1
    # no version -> current (the common "tag what we just built" call)
    assert t.set_tag("nightly") == t.current().version
    assert t.tags() == {"freeze-v1": 1, "nightly": 2}
    t.set_tag("nightly", 1)  # move, last-writer-wins (Iceberg replace-tag)
    assert t.tags()["nightly"] == 1
    with pytest.raises(ValueError, match="not a retained snapshot"):
        t.set_tag("bad", 99)
    with pytest.raises(ValueError, match="invalid tag name"):
        t.set_tag("../escape", 1)
    assert t.delete_tag("nightly")
    assert not t.delete_tag("nightly")  # already gone
    assert set(t.tags()) == {"freeze-v1"}


def test_expire_keeps_exactly_the_tagged_version(spark, tmp_path):
    """The tag-vs-pin semantic difference: a pin keeps everything at or
    above it; a tag keeps only its own snapshot, so retention cost stays
    one snapshot per freeze no matter how far the table advances."""
    t = CDCEngine.create_table(str(tmp_path / "t"), num_buckets=2)
    eng = CDCEngine(spark, t)
    _commits(spark, eng, 4)  # versions 0..4
    t.set_tag("freeze", 1)
    t.expire_snapshots(keep_last=1)
    # exactly the tag + the tail survive; v0/v2/v3 are gone
    assert t.snapshots() == [1, 4]
    # the tagged snapshot's DATA stayed readable, not just its metadata
    assert {r["doc_id"] for r in t.read(spark, version=1).collect()} == {"k0"}
    # the version gap left by exact-version retention is expiry working
    # as designed, not chain corruption
    assert [f for f in check_table(t) if f["check"] == "chain"] == []
    # tag removed -> the next expiry applies keep_last plainly
    t.delete_tag("freeze")
    t.expire_snapshots(keep_last=1)
    assert t.snapshots() == [4]


def test_snapshot_for_timestamp_as_of_semantics(spark, tmp_path):
    t = CDCEngine.create_table(str(tmp_path / "t"), num_buckets=2)
    eng = CDCEngine(spark, t)
    _commits(spark, eng, 3)  # versions 0..3
    created = {v: t.snapshot(v).created_unix for v in t.snapshots()}
    # exactly at a commit -> that commit; between commits -> the earlier
    assert t.snapshot_for_timestamp(created[1]) == 1
    mid = (created[1] + created[2]) / 2
    if created[1] < mid < created[2]:  # guard against same-clock-tick commits
        assert t.snapshot_for_timestamp(mid) == 1
    # after the last commit -> current; ISO strings parse too
    assert t.snapshot_for_timestamp(created[3] + 3600) == 3
    iso = dt.datetime.fromtimestamp(
        created[3] + 3600, tz=dt.timezone.utc
    ).isoformat()
    assert t.snapshot_for_timestamp(iso) == 3
    # before the first retained commit -> refuse (expired history; a
    # point-in-time read must not silently serve newer state)
    with pytest.raises(ValueError, match="older history is expired"):
        t.snapshot_for_timestamp(created[0] - 10)


def test_resolve_ref_tag_then_version_then_timestamp(spark, tmp_path):
    t = CDCEngine.create_table(str(tmp_path / "t"), num_buckets=2)
    eng = CDCEngine(spark, t)
    _commits(spark, eng, 3)
    t.set_tag("freeze", 1)
    assert t.resolve_ref("freeze") == 1
    assert t.resolve_ref("2") == 2
    assert t.resolve_ref(2) == 2
    # a tag that LOOKS like a version wins over the number (explicit user
    # intent beats coincidence — retag rather than rely on the collision)
    t.set_tag("3", 0)
    assert t.resolve_ref("3") == 0
    late = t.snapshot(3).created_unix + 3600
    assert t.resolve_ref(str(late)) == 3
    # time travel through the resolved ref reads the historical state
    # (version 1 = after the first commit: just k0)
    assert {
        r["doc_id"]
        for r in t.read(spark, version=t.resolve_ref("freeze")).collect()
    } == {"k0"}


def test_fsck_errors_on_tag_naming_missing_version(spark, tmp_path):
    """Expiry protects tagged versions, so a tag pointing at a missing
    snapshot means out-of-band deletion — time travel to it is broken NOW,
    an error (pins in the same state only warn: a follower can still
    full-reconcile; a point read has no fallback)."""
    t = CDCEngine.create_table(str(tmp_path / "t"), num_buckets=2)
    eng = CDCEngine(spark, t)
    _commits(spark, eng, 2)
    t.set_tag("freeze", 1)
    os.unlink(t._meta_path(1))
    os.unlink(t._meta_path(0))
    findings = check_table(t)
    tag_errs = [f for f in findings if f["check"] == "tags"]
    assert len(tag_errs) == 1 and tag_errs[0]["level"] == "error"
    assert "freeze" in tag_errs[0]["detail"]


def test_fsck_still_errors_on_untagged_chain_hole(spark, tmp_path):
    """Control: the tag-aware chain check still catches a genuine hole —
    a gap whose lower edge is NOT tagged remains chain corruption."""
    t = CDCEngine.create_table(str(tmp_path / "t"), num_buckets=2)
    eng = CDCEngine(spark, t)
    _commits(spark, eng, 3)  # versions 0..3
    os.unlink(t._meta_path(2))
    chain = [f for f in check_table(t) if f["check"] == "chain"]
    assert any("jump v1 -> v3" in f["detail"] for f in chain)


def test_cli_tag_set_resolve_remove(spark, tmp_path, capsys):
    import json

    from dbimport_spark.cli import main

    root = str(tmp_path / "t")
    t = CDCEngine.create_table(root, num_buckets=2)
    eng = CDCEngine(spark, t)
    _commits(spark, eng, 2)

    rc = main(["tag", root, "--set", "freeze", "1"])
    assert rc in (0, None)
    assert json.loads(capsys.readouterr().out.strip()) == {"tags": {"freeze": 1}}

    rc = main(["tag", root, "--set", "nightly"])  # defaults to current
    assert rc in (0, None)
    assert json.loads(capsys.readouterr().out.strip())["tags"]["nightly"] == 2

    rc = main(["tag", root, "--resolve", "freeze"])
    assert rc in (0, None)
    assert json.loads(capsys.readouterr().out.strip())["resolved"] == {"freeze": 1}

    rc = main(["tag", root, "--remove", "freeze"])
    assert rc in (0, None)
    assert "freeze" not in json.loads(capsys.readouterr().out.strip())["tags"]

    rc = main(["tag", root, "--remove", "freeze"])  # already gone -> error
    assert rc == 1


def test_cli_changes_accepts_tag_refs(spark, tmp_path, capsys):
    """The change-feed CLI takes tags (and timestamps) as window bounds —
    'what changed since the freeze' without bookkeeping version numbers."""
    import json

    from dbimport_spark.cli import main

    root = str(tmp_path / "t")
    t = CDCEngine.create_table(root, num_buckets=2)
    eng = CDCEngine(spark, t)
    _commits(spark, eng, 3)
    t.set_tag("freeze", 1)

    rc = main(["changes", root, "--from-version", "freeze"])
    assert rc in (0, None)
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["from_version"] == 1 and out["to_version"] == 3
    assert out["changes"] == {"insert": 2}  # k1, k2 landed after the tag
