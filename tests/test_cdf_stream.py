"""CDF as a Structured Streaming source (streaming/cdf_source.py).

The per-bucket Arrow diff is pinned to the batch ``cdf.table_changes``
as its oracle (same windows, both implementations, equal row sets), and
the end-to-end stream is exercised through ``follow_mirror_stream`` with
a kill/restart on the same checkpoint — Spark-managed offsets plus the
mirror's LSN watermark give exactly-once across the restart."""

import datetime as dt
import time

import pytest
from pyspark.sql import functions as F

from dbimport_spark.plans.engine import CDCEngine
from dbimport_spark.schema import CHANGE_SCHEMA
from dbimport_spark.session import local_frame
from dbimport_spark.streaming.cdf_source import (
    CHANGE_TYPE_COL,
    COMMIT_VERSION_COL,
    LakeCDFStreamReader,
    diff_bucket,
    plan_window,
    read_changes_stream,
)

TS = dt.datetime(2024, 1, 1)


def _log(spark, rows):
    return local_frame(spark, rows, CHANGE_SCHEMA)


def _stream_rows(table, a, b):
    """Run the stream source's planning + per-bucket executor diff
    directly (no streaming query) and collect all rows."""
    rows = []
    for meta in plan_window(table, a, b):
        it = diff_bucket(meta)
        if it is None:
            continue
        for batch in it:
            rows.extend(batch.to_pylist())
    return rows


def _canon(rows):
    out = set()
    for r in rows:
        d = dict(r)
        toks = d.get("tokens")
        d["tokens"] = tuple(toks) if toks is not None else None
        out.add(tuple(sorted(d.items(), key=lambda kv: kv[0])))
    return out


def _batch_oracle(spark, table, a, b):
    from dbimport_spark.lake.cdf import table_changes

    return [r.asDict() for r in table_changes(spark, table, a, b).collect()]


def _assert_matches_oracle(spark, table, a, b):
    got = _canon(_stream_rows(table, a, b))
    want = _canon(_batch_oracle(spark, table, a, b))
    assert got == want


def test_bucket_diff_equals_table_changes_all_windows(spark, tmp_path):
    """Every version window over a log with inserts, value updates,
    cross-bucket churn, deletes and re-inserts diffs identically in the
    stream source and the batch CDF."""
    t = CDCEngine.create_table(str(tmp_path / "t"), num_buckets=4)
    eng = CDCEngine(spark, t)
    eng.apply_batch(
        _log(spark, [(1, "I", "k1", [1] * 4, 4, "a", TS),
                     (2, "I", "k2", [2] * 6, 6, "a", TS),
                     (3, "I", "k3", [3] * 8, 8, "b", TS)]), 0, 3,
    )
    eng.apply_batch(
        _log(spark, [(4, "U", "k1", [9] * 5, 5, "a", TS),
                     (5, "D", "k2", None, None, None, TS),
                     (6, "I", "k4", [4] * 2, 2, "c", TS)]), 3, 6,
    )
    eng.apply_batch(
        _log(spark, [(7, "I", "k2", [7] * 7, 7, "b", TS),   # re-insert
                     (8, "U", "k3", [3] * 8, 8, "b", TS)]), 6, 8,  # no-op
    )
    versions = t.snapshots()
    for a in versions:
        for b in versions:
            if b > a:
                _assert_matches_oracle(spark, t, a, b)


def test_bucket_diff_soft_delete_transitions(spark, tmp_path):
    """Soft tables: live->dead emits delete, dead->live emits insert,
    dead->dead emits nothing — same as the batch CDF."""
    t = CDCEngine.create_table(
        str(tmp_path / "t"), num_buckets=4, soft_delete=True
    )
    eng = CDCEngine(spark, t)
    eng.apply_batch(
        _log(spark, [(1, "I", "k1", [1] * 4, 4, "a", TS),
                     (2, "I", "k2", [2] * 6, 6, "a", TS)]), 0, 2,
    )
    eng.apply_batch(_log(spark, [(3, "D", "k1", None, None, None, TS)]), 2, 3)
    eng.apply_batch(_log(spark, [(4, "I", "k1", [5] * 3, 3, "b", TS)]), 3, 4)
    versions = t.snapshots()
    for a in versions:
        for b in versions:
            if b > a:
                _assert_matches_oracle(spark, t, a, b)


def test_bucket_diff_across_schema_evolution_files(spark, tmp_path):
    """Old files inside the window read through their rename-epoch maps
    and upcast widened columns — the stream diff matches the batch CDF
    after add + widen + rename evolution."""
    from pyspark.sql import types as T

    payload = T.StructType(
        [
            T.StructField("doc_id", T.StringType(), False),
            T.StructField("v", T.IntegerType(), True),
        ]
    )
    t = CDCEngine.create_table(
        str(tmp_path / "t"), payload_schema=payload, num_buckets=2
    )
    eng = CDCEngine(spark, t)
    eng.apply_batch(
        local_frame(
            spark,
            [(1, "I", "a", 10), (2, "I", "b", 20)],
            "lsn long, op string, doc_id string, v int",
        ), 0, 2,
    )
    # widen v to long and add a column in one batch
    eng.apply_batch(
        local_frame(
            spark,
            [(3, "I", "c", 2**40, 1.5)],
            "lsn long, op string, doc_id string, v long, q double",
        ), 2, 3,
    )
    t.rename_column("q", "quality")
    eng.apply_batch(
        local_frame(
            spark,
            [(4, "U", "a", 11, 2.5)],
            "lsn long, op string, doc_id string, v long, quality double",
        ), 3, 4,
    )
    versions = t.snapshots()
    for a in versions:
        for b in versions:
            if b > a:
                got = _canon(_stream_rows(t, a, b))
                want = _canon(_batch_oracle(spark, t, a, b))
                assert got == want, (a, b)


def test_reader_offsets_and_rate_cap(spark, tmp_path):
    """Offsets are versions; maxVersionsPerBatch caps how far
    latestOffset advances past the last planned/committed end."""
    t = CDCEngine.create_table(str(tmp_path / "t"), num_buckets=2)
    eng = CDCEngine(spark, t)
    for i in range(4):
        eng.apply_batch(
            _log(spark, [(i + 1, "I", f"k{i}", [1], 1, "a", TS)]), i, i + 1
        )
    cur = t.current().version
    from dbimport_spark.streaming.cdf_source import LakeCDFDataSource

    schema = LakeCDFDataSource({"path": str(tmp_path / "t")}).schema()
    r = LakeCDFStreamReader(
        {"path": str(tmp_path / "t"), "maxversionsperbatch": "1"}, schema
    )
    assert r.initialOffset() == {"version": 0}
    # the cap binds from the starting position too — a fresh stream's
    # bootstrap batch (the largest backlog it will ever face) must not
    # swallow the whole history in one micro-batch
    assert r.latestOffset()["version"] == 1
    assert r.latestOffset()["version"] == 2  # advances cap-by-cap
    for _ in range(5):
        r.latestOffset()
    assert r.latestOffset()["version"] == cur  # clamped at current
    r.commit({"version": 1})
    r2 = LakeCDFStreamReader(
        {"path": str(tmp_path / "t"), "maxversionsperbatch": "1"}, schema
    )
    r2.partitions({"version": 0}, {"version": 1})  # restart re-informs
    assert r2.latestOffset()["version"] == 2  # capped at last end + 1


def test_reader_refuses_mid_stream_schema_change(spark, tmp_path):
    """A window whose end snapshot no longer matches the stream's
    declared schema raises instead of emitting mis-shaped rows."""
    t = CDCEngine.create_table(str(tmp_path / "t"), num_buckets=2)
    eng = CDCEngine(spark, t)
    eng.apply_batch(_log(spark, [(1, "I", "k1", [1], 1, "a", TS)]), 0, 1)
    from dbimport_spark.streaming.cdf_source import LakeCDFDataSource

    schema = LakeCDFDataSource({"path": str(tmp_path / "t")}).schema()
    r = LakeCDFStreamReader({"path": str(tmp_path / "t")}, schema)
    v1 = t.current().version
    # evolve: add a column via a wider batch
    eng.apply_batch(
        local_frame(
            spark,
            [(2, "I", "k2", [2], 1, "a", TS, 0.5)],
            "lsn long, op string, doc_id string, tokens array<int>, "
            "n_tok int, source string, commit_ts timestamp, extra double",
        ), 1, 2,
    )
    with pytest.raises(RuntimeError, match="evolved while the stream"):
        r.partitions({"version": 0}, {"version": t.current().version})
    # windows ending before the evolution still plan fine
    assert len(r.partitions({"version": 0}, {"version": v1})) > 0


def _wait(pred, timeout=180.0, poll=0.2):
    t0 = time.time()
    while time.time() - t0 < timeout:
        if pred():
            return True
        time.sleep(poll)
    return False


def test_follow_mirror_stream_kill_restart_exactly_once(spark, tmp_path):
    """The mirror follows the source through readStream; a kill and
    restart on the SAME checkpoint resumes from the committed offset and
    redelivered windows are no-ops (engine LSN guard)."""
    from dbimport_spark.plans.mirror import verify_mirror
    from dbimport_spark.sources.loggen import generate_changes
    from dbimport_spark.streaming.cdf_source import follow_mirror_stream

    src_t = CDCEngine.create_table(str(tmp_path / "src"), num_buckets=4)
    src = CDCEngine(spark, src_t, checkpoint_dir=str(tmp_path / "sckpt"))
    log = generate_changes(spark, 2000, n_keys=150, seed=7)
    src.replay(log.filter(F.col("lsn") <= 800), num_batches=1)

    mir_t = CDCEngine.create_table(str(tmp_path / "mir"), num_buckets=4)
    mir = CDCEngine(spark, mir_t)
    ckpt = str(tmp_path / "stream-ckpt")

    q = follow_mirror_stream(
        spark, str(tmp_path / "src"), mir, ckpt, trigger_seconds=0.5
    )
    try:
        assert _wait(
            lambda: mir_t.last_lsn() >= src_t.current().version
        ), "mirror never caught up before kill"
    finally:
        q.stop()
    q.awaitTermination(30)
    assert verify_mirror(spark, src_t, mir_t)["converged"]

    # source advances while the follower is down
    src.replay(log.filter(F.col("lsn") <= 1500), num_batches=1)
    src.replay(log, num_batches=1)
    v_target = src_t.current().version

    q = follow_mirror_stream(
        spark, str(tmp_path / "src"), mir, ckpt, trigger_seconds=0.5
    )
    try:
        assert _wait(
            lambda: mir_t.last_lsn() >= v_target
        ), "mirror never caught up after restart"
    finally:
        q.stop()
    q.awaitTermination(30)
    assert verify_mirror(spark, src_t, mir_t)["converged"]
    assert mir_t.last_lsn() == v_target


def test_read_changes_stream_emits_cdf_columns(spark, tmp_path):
    """Plain readStream surface: rows arrive with payload + change-type
    + commit-version columns, and the bootstrap window (version 0) is
    the whole table as inserts."""
    t = CDCEngine.create_table(str(tmp_path / "t"), num_buckets=2)
    eng = CDCEngine(spark, t)
    eng.apply_batch(
        _log(spark, [(1, "I", "k1", [1] * 3, 3, "a", TS),
                     (2, "I", "k2", [2] * 4, 4, "b", TS)]), 0, 2,
    )
    feed = read_changes_stream(spark, str(tmp_path / "t"))
    assert CHANGE_TYPE_COL in feed.columns
    assert COMMIT_VERSION_COL in feed.columns

    got = []

    def sink(batch_df, _eid):
        got.extend(r.asDict() for r in batch_df.collect())

    q = (
        feed.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="0.5 seconds")
        .start()
    )
    try:
        assert _wait(lambda: len(got) >= 2)
    finally:
        q.stop()
    q.awaitTermination(30)
    assert {(r["doc_id"], r[CHANGE_TYPE_COL]) for r in got} == {
        ("k1", "insert"), ("k2", "insert"),
    }


def test_bucket_diff_purge_window_emits_nothing(spark, tmp_path):
    """A maintenance rewrite that preserves LIVE content — tombstone
    purge on a soft table — re-files the touched buckets but the window
    across it diffs to zero rows (dead->absent is not a change), in both
    the stream source and the batch CDF."""
    from dbimport_spark.lake.maintenance import purge_tombstones

    t = CDCEngine.create_table(
        str(tmp_path / "t"), num_buckets=2, soft_delete=True
    )
    eng = CDCEngine(spark, t)
    eng.apply_batch(
        _log(spark, [(1, "I", "k1", [1] * 3, 3, "a", TS),
                     (2, "I", "k2", [2] * 3, 3, "a", TS)]), 0, 2,
    )
    eng.apply_batch(_log(spark, [(3, "D", "k1", None, None, None, TS)]), 2, 3)
    v_before = t.current().version
    purge_tombstones(spark, t, "2099-01-01")
    v_after = t.current().version
    assert v_after > v_before
    assert plan_window(t, v_before, v_after), "files differ, so plan exists"
    assert _stream_rows(t, v_before, v_after) == []
    assert _batch_oracle(spark, t, v_before, v_after) == []


def test_minmax_null_values_never_carry_extremum(spark, tmp_path):
    """min/max ignore nulls: null-valued rows count toward n_rows but
    never become candidates, and removing one never triggers a rescan;
    an all-null group holds null extremes."""
    import logging

    from dbimport_spark.plans.matview import (
        AggSpec,
        create_view,
        sync_view,
        verify_view,
    )
    from tests.test_mirror import _caplog_records

    spec = AggSpec(
        group_cols=["source"], sum_cols=[], min_cols=["n_tok"],
        max_cols=["n_tok"],
    )
    src_t = CDCEngine.create_table(str(tmp_path / "src"), num_buckets=4)
    src = CDCEngine(spark, src_t)
    view = CDCEngine(
        spark, create_view(str(tmp_path / "v"), src_t, spec, num_buckets=2)
    )
    # group 'a': one real value + one null; group 'b': all null
    src.apply_batch(
        _log(spark, [(1, "I", "k1", [1] * 6, 6, "a", TS),
                     (2, "I", "k2", None, None, "a", TS),
                     (3, "I", "k3", None, None, "b", TS)]), 0, 3,
    )
    sync_view(spark, src_t, view, spec)
    rows = {r["source"]: r for r in view.table.read(spark).collect()}
    assert (rows["a"]["min_n_tok"], rows["a"]["max_n_tok"]) == (6, 6)
    assert (rows["b"]["min_n_tok"], rows["b"]["max_n_tok"]) == (None, None)
    assert verify_view(spark, src_t, view.table, spec)["converged"]
    # deleting the null-valued row can't carry the extremum: no rescan
    src.apply_batch(_log(spark, [(4, "D", "k2", None, None, None, TS)]), 3, 4)
    with _caplog_records(
        "dbimport_spark.plans.matview", level=logging.INFO
    ) as recs:
        sync_view(spark, src_t, view, spec)
    assert any("0 group(s) rescanned" in r.getMessage() for r in recs)
    rows = {r["source"]: r for r in view.table.read(spark).collect()}
    assert rows["a"]["n_rows"] == 1 and rows["a"]["max_n_tok"] == 6
    assert verify_view(spark, src_t, view.table, spec)["converged"]


def test_cli_mirror_stream_drains_then_stops(spark, tmp_path, capsys):
    """`mirror --stream CKPT`: the CLI follows via the lake_cdf streaming
    source and honors drain-then-stop — with the stop file pre-created it
    exits only once the mirror reached the source's version."""
    import json as _json

    from dbimport_spark.cli import main

    src_t = CDCEngine.create_table(str(tmp_path / "src"), num_buckets=2)
    src = CDCEngine(spark, src_t)
    src.apply_batch(
        _log(spark, [(1, "I", "k1", [1] * 3, 3, "a", TS),
                     (2, "I", "k2", [2] * 4, 4, "b", TS)]), 0, 2,
    )
    CDCEngine.create_table(str(tmp_path / "mir"), num_buckets=2)
    stop = tmp_path / "stop"
    stop.touch()
    rc = main(
        [
            "mirror", str(tmp_path / "src"), str(tmp_path / "mir"),
            "--stream", str(tmp_path / "ckpt"), "--stop-file", str(stop),
            "--poll", "0.3", "--verify",
        ]
    )
    assert rc == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["mirrored_source_version"] == src_t.current().version
    assert out["verify"]["converged"]


class _FakeQuery:
    """A started streaming query, without Spark: each progress poll
    delivers one more source version; ``exception()`` returns ``error``,
    or fails after 500 polls, so a drain that never ends surfaces as an
    error instead of a hang."""

    def __init__(self, error=None):
        self.delivered, self.polls, self.error = 0, 0, error
        self.stopped = False

    def exception(self):
        self.polls += 1
        if self.error is not None or self.polls > 500:
            return self.error or RuntimeError("drain never ended")
        return None

    @property
    def lastProgress(self):
        self.delivered += 1
        # Spark renders the Python source's offset dict as its repr
        return {"sources": [{"endOffset": repr({"version": self.delivered})}]}

    def stop(self):
        self.stopped = True

    def awaitTermination(self, timeout):
        return True


def test_cli_stream_stop_rule_drains_to_seen_version(tmp_path):
    """The ``--stream`` stop rule, without Spark: once the stop file is
    seen, the drain targets the source version read at that moment, so a
    source that keeps committing cannot keep the follower running (the
    drain used to chase ``current()`` and never end); a drained stream
    whose trailing windows are empty stops on the delivered offset."""
    import argparse
    import types

    from dbimport_spark.cli import _drain_stream

    stop = tmp_path / "stop"
    stop.touch()
    args = argparse.Namespace(stop_file=str(stop), poll=0.0, stream="ckpt")
    versions = iter(range(5, 10**6))  # a commit lands on every read
    source = types.SimpleNamespace(
        current=lambda: types.SimpleNamespace(version=next(versions))
    )
    q = _FakeQuery()
    # the watermark never moves (empty windows): the delivered offset ends it
    out = _drain_stream(args, q, source, lambda: 0, "wm")
    assert out == {"wm": 0, "checkpoint": "ckpt"}
    assert q.stopped and q.delivered == 5

    # a follower whose watermark already reached the version stops at once
    q = _FakeQuery()
    assert _drain_stream(args, q, source, lambda: 10**6, "wm")["wm"] == 10**6
    assert q.stopped and q.polls == 1

    # no stop file: keep draining; the stream's own failure surfaces
    # and the query is still stopped
    args.stop_file = str(tmp_path / "absent")
    q = _FakeQuery(error=ValueError("window start"))
    with pytest.raises(ValueError, match="window start"):
        _drain_stream(args, q, source, lambda: 0, "wm")
    assert q.stopped


def test_reader_starting_timestamp(spark, tmp_path):
    """startingTimestamp resolves to the newest version committed strictly
    before it (so the first window carries every commit at/after it);
    before-all-history clamps to the earliest retained version; passing
    both starting options refuses."""
    import json as _json
    import os as _os

    t = CDCEngine.create_table(str(tmp_path / "t"), num_buckets=2)
    eng = CDCEngine(spark, t)
    for i in range(3):
        eng.apply_batch(
            _log(spark, [(i + 1, "I", f"k{i}", [1], 1, "a", TS)]), i, i + 1
        )
    # pin deterministic commit times: v0..v3 at unix 100, 200, 300, 400
    for v, unix in zip(t.snapshots(), (100.0, 200.0, 300.0, 400.0)):
        p = t._meta_path(v)
        doc = _json.load(open(p))
        doc["created_unix"] = unix
        _os.unlink(p)
        with open(p, "w") as fh:
            _json.dump(doc, fh)

    from dbimport_spark.streaming.cdf_source import LakeCDFDataSource

    schema = LakeCDFDataSource({"path": str(tmp_path / "t")}).schema()

    def reader(**opts):
        return LakeCDFStreamReader(
            {"path": str(tmp_path / "t"), **opts}, schema
        )

    # 250 falls between v1 (200) and v2 (300): start at v1, first window
    # (1, ...] replays exactly the commits at/after the timestamp
    assert reader(startingtimestamp="250").initialOffset() == {"version": 1}
    # exact boundary is inclusive of that commit (strictly-before rule)
    assert reader(startingtimestamp="300").initialOffset() == {"version": 1}
    # before all history: everything (the empty v0 creation snapshot)
    assert reader(startingtimestamp="50").initialOffset() == {"version": 0}
    # after all history: nothing until the next commit
    assert reader(startingtimestamp="999").initialOffset() == {"version": 3}
    with pytest.raises(ValueError, match="not both"):
        reader(startingtimestamp="250", startingversion="1")


def _stream_rows_pre(table, a, b):
    rows = []
    for meta in plan_window(table, a, b, include_preimage=True):
        it = diff_bucket(meta)
        if it is None:
            continue
        for batch in it:
            rows.extend(batch.to_pylist())
    return rows


def test_preimage_stream_equals_batch_feed_all_windows(spark, tmp_path):
    """includePreimage parity: every window's per-bucket diff with
    pre-image columns equals table_changes(include_preimage=True) —
    updates carry every payload column's _pre_ value, inserts/deletes
    carry nulls."""
    from dbimport_spark.lake.cdf import table_changes
    from dbimport_spark.sources.loggen import generate_changes

    src_t = CDCEngine.create_table(str(tmp_path / "src"), num_buckets=4)
    src = CDCEngine(spark, src_t, checkpoint_dir=str(tmp_path / "ckpt"))
    log = generate_changes(spark, 2500, n_keys=150, seed=13)
    for hi in (900, 1800, 2500):
        src.replay(log.filter(F.col("lsn") <= hi), num_batches=1)

    def canon(rows):
        out = set()
        for r in rows:
            d = {
                k: tuple(v) if isinstance(v, list) else v
                for k, v in dict(r).items()
            }
            out.add(tuple(sorted(d.items(), key=lambda kv: kv[0])))
        return out

    versions = src_t.snapshots()
    for a, b in zip(versions, versions[1:]):
        got = canon(_stream_rows_pre(src_t, a, b))
        want = canon(
            r.asDict()
            for r in table_changes(
                spark, src_t, a, b, include_preimage=True
            ).collect()
        )
        assert got == want, f"window ({a}, {b}]"
    # sanity: at least one window actually produced a non-null preimage
    all_rows = [
        r
        for a, b in zip(versions, versions[1:])
        for r in _stream_rows_pre(src_t, a, b)
    ]
    ups = [r for r in all_rows if r["_change_type"] == "update"]
    assert ups and all(r["_pre_doc_id"] == r["doc_id"] for r in ups)
    assert any(r["_pre_n_tok"] is not None for r in ups)
    non_ups = [r for r in all_rows if r["_change_type"] != "update"]
    assert all(r["_pre_n_tok"] is None for r in non_ups)


def test_follow_view_stream_kill_restart_exactly_once(spark, tmp_path):
    """The matview follows the source through readStream with the
    pre-image feed (no second snapshot diff); kill/restart on the same
    checkpoint resumes exactly, and the final view equals a direct
    groupBy of the source."""
    from dbimport_spark.plans.matview import AggSpec, create_view, verify_view
    from dbimport_spark.sources.loggen import generate_changes
    from dbimport_spark.streaming.cdf_source import follow_view_stream

    spec = AggSpec(group_cols=["source"], sum_cols=["n_tok"], max_cols=["n_tok"])
    src_t = CDCEngine.create_table(str(tmp_path / "src"), num_buckets=4)
    src = CDCEngine(spark, src_t, checkpoint_dir=str(tmp_path / "sckpt"))
    log = generate_changes(spark, 2000, n_keys=150, seed=9)
    src.replay(log.filter(F.col("lsn") <= 800), num_batches=1)

    view_t = create_view(str(tmp_path / "view"), src_t, spec, num_buckets=4)
    view = CDCEngine(spark, view_t)
    ckpt = str(tmp_path / "stream-ckpt")

    q = follow_view_stream(
        spark, str(tmp_path / "src"), view, spec, ckpt, trigger_seconds=0.5
    )
    try:
        assert _wait(
            lambda: view_t.last_lsn() >= src_t.current().version
        ), "view never caught up before kill"
    finally:
        q.stop()
    q.awaitTermination(30)
    assert verify_view(spark, src_t, view_t, spec)["converged"]

    # source advances (updates + deletes) while the follower is down
    src.replay(log.filter(F.col("lsn") <= 1500), num_batches=1)
    src.replay(log, num_batches=1)
    v_target = src_t.current().version

    q = follow_view_stream(
        spark, str(tmp_path / "src"), view, spec, ckpt, trigger_seconds=0.5
    )
    try:
        assert _wait(
            lambda: view_t.last_lsn() >= v_target
        ), "view never caught up after restart"
    finally:
        q.stop()
    q.awaitTermination(30)
    assert verify_view(spark, src_t, view_t, spec)["converged"]
    assert view_t.last_lsn() == v_target


def test_follower_start_guard_refuses_skipped_window(spark, tmp_path):
    """A stream starting position ahead of the follower's watermark
    would silently lose (watermark, start] — both stream followers
    refuse it loudly."""
    from dbimport_spark.plans.matview import AggSpec, create_view
    from dbimport_spark.sources.loggen import generate_changes
    from dbimport_spark.streaming.cdf_source import (
        follow_mirror_stream,
        follow_view_stream,
    )

    src_t = CDCEngine.create_table(str(tmp_path / "src"), num_buckets=4)
    src = CDCEngine(spark, src_t, checkpoint_dir=str(tmp_path / "ckpt"))
    log = generate_changes(spark, 1200, n_keys=100, seed=3)
    src.replay(log.filter(F.col("lsn") <= 600), num_batches=1)
    src.replay(log, num_batches=1)

    mir_t = CDCEngine.create_table(str(tmp_path / "mir"), num_buckets=4)
    mir = CDCEngine(spark, mir_t)  # watermark 0 < startingVersion
    with pytest.raises(ValueError, match="silently lost"):
        follow_mirror_stream(
            spark, str(tmp_path / "src"), mir, str(tmp_path / "c1"),
            startingVersion=src_t.current().version,
        )

    spec = AggSpec(group_cols=["source"], sum_cols=["n_tok"])
    view_t = create_view(str(tmp_path / "view"), src_t, spec, num_buckets=4)
    view = CDCEngine(spark, view_t)
    with pytest.raises(ValueError, match="silently lost"):
        follow_view_stream(
            spark, str(tmp_path / "src"), view, spec, str(tmp_path / "c2"),
            startingVersion=src_t.current().version,
        )
    # starting at/below the watermark is fine: the guard passes and the
    # redundant window is a no-op via the LSN guard (not started here —
    # resolution only)
    from dbimport_spark.streaming.cdf_source import resolve_starting_version

    assert resolve_starting_version(src_t, {"startingVersion": "1"}) == 1


def test_cli_matview_stream_drains_then_stops(spark, tmp_path, capsys):
    """`matview --stream CKPT`: the CLI follows via the lake_cdf pre-image
    stream and honors drain-then-stop — with the stop file pre-created it
    exits only once the view reached the source's version, converged, and
    advanced the requested retention pin."""
    import json as _json

    from dbimport_spark.cli import main

    src_t = CDCEngine.create_table(str(tmp_path / "src"), num_buckets=2)
    src = CDCEngine(spark, src_t)
    src.apply_batch(
        _log(spark, [(1, "I", "k1", [1] * 3, 3, "a", TS),
                     (2, "I", "k2", [2] * 4, 4, "b", TS),
                     (3, "U", "k1", [1] * 5, 5, "a", TS)]), 0, 3,
    )
    stop = tmp_path / "stop"
    stop.touch()
    rc = main(
        [
            "matview", str(tmp_path / "src"), str(tmp_path / "view"),
            "--group-by", "source", "--sum", "n_tok", "--max", "n_tok",
            "--create", "--buckets", "2",
            "--stream", str(tmp_path / "ckpt"), "--stop-file", str(stop),
            "--poll", "0.3", "--verify", "--pin", "cli-view",
        ]
    )
    assert rc == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["view_source_version"] == src_t.current().version
    assert out["verify"]["converged"]
    assert src_t.pins()["cli-view"] == src_t.current().version


def test_window_start_column_opt_in(spark, tmp_path):
    """includeWindowStart adds the window's exclusive low bound as a
    constant column; the default schema is unchanged (existing stream
    consumers and checkpoints keep their shape)."""
    from dbimport_spark.streaming.cdf_source import (
        COMMIT_WINDOW_START_COL,
        LakeCDFDataSource,
    )

    t = CDCEngine.create_table(str(tmp_path / "t"), num_buckets=2)
    eng = CDCEngine(spark, t)
    eng.apply_batch(
        _log(spark, [(1, "I", "k1", [1] * 3, 3, "a", TS),
                     (2, "I", "k2", [2] * 4, 4, "b", TS)]), 0, 2,
    )
    v = t.current().version
    default_schema = LakeCDFDataSource({"path": str(tmp_path / "t")}).schema()
    assert COMMIT_WINDOW_START_COL not in default_schema.fieldNames()
    opt_schema = LakeCDFDataSource(
        {"path": str(tmp_path / "t"), "includeWindowStart": "true"}
    ).schema()
    assert COMMIT_WINDOW_START_COL in opt_schema.fieldNames()

    rows = []
    for meta in plan_window(t, 0, v, include_window_start=True):
        for batch in diff_bucket(meta):
            rows.extend(batch.to_pylist())
    assert rows and all(r[COMMIT_WINDOW_START_COL] == 0 for r in rows)
    assert all(r[COMMIT_VERSION_COL] == v for r in rows)
    # default plan: the column is absent
    for meta in plan_window(t, 0, v):
        for batch in diff_bucket(meta):
            assert COMMIT_WINDOW_START_COL not in batch.schema.names


def test_follow_view_stream_refuses_window_overlap(spark, tmp_path):
    """code-review r5: a fresh checkpoint dir under a view that is
    already ahead (e.g. bootstrapped by a batch sync_view) would replay
    a window that STARTS below the view's watermark — the signed delta
    fold would double-count the overlap. The follower must refuse
    loudly, not corrupt."""
    from dbimport_spark.plans.matview import AggSpec, create_view, sync_view
    from dbimport_spark.streaming.cdf_source import follow_view_stream

    spec = AggSpec(group_cols=["source"], sum_cols=["n_tok"])
    src_t = CDCEngine.create_table(str(tmp_path / "src"), num_buckets=2)
    src = CDCEngine(spark, src_t)
    src.apply_batch(
        _log(spark, [(1, "I", "k1", [1] * 3, 3, "a", TS),
                     (2, "I", "k2", [2] * 4, 4, "b", TS)]), 0, 2,
    )
    view_t = create_view(str(tmp_path / "view"), src_t, spec, num_buckets=2)
    view = CDCEngine(spark, view_t)
    sync_view(spark, src_t, view, spec)  # out-of-band batch bootstrap
    assert view_t.last_lsn() == src_t.current().version
    # source advances, so the fresh stream has a non-empty (0, cur] window
    src.apply_batch(
        _log(spark, [(3, "U", "k1", [9] * 5, 5, "a", TS)]), 2, 3,
    )

    q = follow_view_stream(
        spark, str(tmp_path / "src"), view, spec,
        str(tmp_path / "fresh-ckpt"), trigger_seconds=0.3,
    )
    try:
        assert _wait(lambda: q.exception() is not None, timeout=120)
        assert "double-count" in str(q.exception())
    finally:
        q.stop()
    # the view was NOT corrupted: totals still match the watermark state
    from dbimport_spark.plans.matview import verify_view

    assert view_t.last_lsn() < src_t.current().version
    # resume correctly: a batch sync from the watermark converges
    sync_view(spark, src_t, view, spec)
    assert verify_view(spark, src_t, view_t, spec)["converged"]


def test_stream_caught_up_covers_empty_windows(spark, tmp_path):
    """code-review r5: a trailing commit that diffs to zero rows
    (a layout-only rewrite) never advances a follower's watermark, so
    the CLI drain predicate must also accept 'the stream has DELIVERED
    every window' — stream_caught_up reads the query's committed
    offset."""
    from dbimport_spark.lake.maintenance import rebucket
    from dbimport_spark.streaming.cdf_source import (
        follow_mirror_stream,
        stream_caught_up,
    )

    src_t = CDCEngine.create_table(str(tmp_path / "src"), num_buckets=2)
    src = CDCEngine(spark, src_t)
    for i in range(3):
        src.apply_batch(
            _log(spark, [(i + 1, "I", f"k{i}", [1] * 3, 3, "a", TS)]),
            i, i + 1,
        )
    mir_t = CDCEngine.create_table(str(tmp_path / "mir"), num_buckets=2)
    mir = CDCEngine(spark, mir_t)

    q = follow_mirror_stream(
        spark, str(tmp_path / "src"), mir, str(tmp_path / "ckpt"),
        trigger_seconds=0.3,
    )
    try:
        assert _wait(lambda: mir_t.last_lsn() >= src_t.current().version)
        v_data = src_t.current().version
        rebucket(spark, src_t, 4)
        assert src_t.current().version > v_data  # a layout-only commit
        # the mirror's watermark can never reach it, but the stream
        # delivers (and commits) the empty window — the drain predicate
        # the CLI uses goes true
        assert _wait(lambda: stream_caught_up(q, src_t), timeout=120)
        assert mir_t.last_lsn() == v_data < src_t.current().version
    finally:
        q.stop()
    q.awaitTermination(30)


def test_follow_view_stream_survives_change_free_gap(spark, tmp_path):
    """A rewrite-only commit (compaction/rebucket) between data windows
    plans an EMPTY micro-batch, which cannot advance the view watermark.
    The next data window then starts ABOVE the watermark; the sink must
    recognize the provably change-free gap from metadata and fold on —
    previously it raised 'advanced out-of-band' and every restart
    replayed the same failing batch (a permanent wedge after any routine
    compaction)."""
    from dbimport_spark.lake.maintenance import rebucket
    from dbimport_spark.plans.matview import AggSpec, create_view, verify_view
    from dbimport_spark.sources.loggen import generate_changes
    from dbimport_spark.streaming.cdf_source import (
        follow_view_stream,
        stream_caught_up,
    )

    spec = AggSpec(group_cols=["source"], sum_cols=["n_tok"])
    src_t = CDCEngine.create_table(str(tmp_path / "src"), num_buckets=2)
    src = CDCEngine(spark, src_t, checkpoint_dir=str(tmp_path / "sckpt"))
    log = generate_changes(spark, 1200, n_keys=100, seed=21)
    src.replay(log.filter(F.col("lsn") <= 400), num_batches=1)

    view_t = create_view(str(tmp_path / "view"), src_t, spec, num_buckets=2)
    view = CDCEngine(spark, view_t)
    ckpt = str(tmp_path / "stream-ckpt")

    q = follow_view_stream(
        spark, str(tmp_path / "src"), view, spec, ckpt, trigger_seconds=0.3
    )
    try:
        assert _wait(lambda: view_t.last_lsn() >= src_t.current().version)
        v_data = src_t.current().version

        # rewrite-only commit: no data change, bumps the source version
        rebucket(spark, src_t, 4)
        assert src_t.current().version > v_data
        assert src_t.current().properties.get("rewrite_only") == "true"
        assert _wait(lambda: stream_caught_up(q, src_t), timeout=120)
        # the empty window could not move the view watermark
        assert view_t.last_lsn() == v_data

        # next DATA window starts at the compaction version, above the
        # view watermark — must apply, not wedge
        src.replay(log, num_batches=1)
        v_target = src_t.current().version
        assert _wait(lambda: view_t.last_lsn() >= v_target, timeout=120)
        assert q.exception() is None
    finally:
        q.stop()
    q.awaitTermination(30)
    assert verify_view(spark, src_t, view_t, spec)["converged"]

    # and a kill/restart on the same checkpoint stays clean
    src.replay(
        generate_changes(spark, 1600, n_keys=100, seed=21), num_batches=1
    )
    q = follow_view_stream(
        spark, str(tmp_path / "src"), view, spec, ckpt, trigger_seconds=0.3
    )
    try:
        assert _wait(lambda: view_t.last_lsn() >= src_t.current().version)
    finally:
        q.stop()
    q.awaitTermination(30)
    assert verify_view(spark, src_t, view_t, spec)["converged"]


def test_mirror_stream_refuses_straddling_window(spark, tmp_path):
    """A micro-batch window straddling the mirror's watermark is one
    NETTED snapshot diff: a key inserted before the straddle (already
    mirrored) and deleted after it nets to NO ROW, so the old
    'fresh checkpoint is a benign re-read' behavior silently resurrected
    deleted keys forever. The follower now refuses the straddle loudly,
    and the stated remedy — startingVersion at the mirror's watermark —
    propagates the delete."""
    from dbimport_spark.plans.mirror import verify_mirror
    from dbimport_spark.streaming.cdf_source import follow_mirror_stream

    src_t = CDCEngine.create_table(str(tmp_path / "src"), num_buckets=2)
    src = CDCEngine(spark, src_t)
    src.apply_batch(
        _log(spark, [(1, "I", "k1", [1] * 3, 3, "a", TS),
                     (2, "I", "k2", [2] * 4, 4, "b", TS)]), 0, 2,
    )
    mir_t = CDCEngine.create_table(str(tmp_path / "mir"), num_buckets=2)
    mir = CDCEngine(spark, mir_t)

    q = follow_mirror_stream(
        spark, str(tmp_path / "src"), mir, str(tmp_path / "c1"),
        trigger_seconds=0.3,
    )
    try:
        assert _wait(lambda: mir_t.last_lsn() >= src_t.current().version)
    finally:
        q.stop()
    q.awaitTermination(30)
    wm = mir_t.last_lsn()

    # the delete the straddle would net away
    src.apply_batch(_log(spark, [(3, "D", "k1", None, None, None, TS)]),
                    2, 3)

    # fresh checkpoint, no starting position: window (0, current] begins
    # below the mirror's watermark -> loud stop, nothing applied
    q = follow_mirror_stream(
        spark, str(tmp_path / "src"), mir, str(tmp_path / "c2"),
        trigger_seconds=0.3,
    )
    assert _wait(lambda: q.exception() is not None)
    assert "net away" in str(q.exception()) or "double-count" in str(
        q.exception()
    )
    q.stop()
    with pytest.raises(Exception):  # failed query re-raises on await
        q.awaitTermination(30)
    assert {r["doc_id"] for r in mir_t.read(spark).collect()} == {"k1", "k2"}

    # the remedy: fresh checkpoint starting AT the mirror's watermark
    q = follow_mirror_stream(
        spark, str(tmp_path / "src"), mir, str(tmp_path / "c3"),
        trigger_seconds=0.3, startingVersion=wm,
    )
    try:
        assert _wait(lambda: mir_t.last_lsn() >= src_t.current().version)
    finally:
        q.stop()
    q.awaitTermination(30)
    assert verify_mirror(spark, src_t, mir_t)["converged"]
    assert {r["doc_id"] for r in mir_t.read(spark).collect()} == {"k2"}


def test_followers_refuse_disabled_window_start(spark, tmp_path):
    """includeWindowStart is load-bearing for every follower (the
    continuity check reads the column); an explicit 'false' must be
    refused up front, not silently overridden and not left to fail as an
    unresolved-column error inside the first micro-batch."""
    from dbimport_spark.streaming.cdf_source import (
        follow_mirror_stream,
        follow_view_stream,
    )

    src_t = CDCEngine.create_table(str(tmp_path / "src"), num_buckets=2)
    mir_t = CDCEngine.create_table(str(tmp_path / "mir"), num_buckets=2)
    mir = CDCEngine(spark, mir_t)
    with pytest.raises(ValueError, match="includeWindowStart"):
        follow_mirror_stream(
            spark, str(tmp_path / "src"), mir, str(tmp_path / "c"),
            includeWindowStart="false",
        )
    # Spark reader options are case-insensitive — an all-lowercase
    # spelling must not slip past the guard (it would reach the reader,
    # disable the column, and die as an unresolved-column error instead)
    with pytest.raises(ValueError, match="includeWindowStart"):
        follow_mirror_stream(
            spark, str(tmp_path / "src"), mir, str(tmp_path / "c"),
            includewindowstart="false",
        )
    from dbimport_spark.plans.matview import AggSpec, create_view

    spec = AggSpec(group_cols=["source"], sum_cols=["n_tok"])
    view_t = create_view(str(tmp_path / "view"), src_t, spec)
    view = CDCEngine(spark, view_t)
    with pytest.raises(ValueError, match="includeWindowStart"):
        follow_view_stream(
            spark, str(tmp_path / "src"), view, spec, str(tmp_path / "c2"),
            includeWindowStart="0",
        )


def test_reader_aligns_catchup_windows_across_evolution(spark, tmp_path):
    """A stream STARTED AFTER a compatible evolution must be able to
    replay pre-evolution history: windows ending before the declared
    schema's version are aligned up to it (renames mapped through the
    shared epoch log, added columns null-filled, widenings cast) instead
    of stopping — previously any rate-capped catch-up over an evolved
    table wedged permanently on the first pre-evolution window."""
    from pyspark.sql import types as T

    from dbimport_spark.streaming.cdf_source import LakeCDFDataSource

    payload = T.StructType([
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("v", T.IntegerType(), True),
    ])
    t = CDCEngine.create_table(
        str(tmp_path / "t"), payload_schema=payload, num_buckets=2
    )
    eng = CDCEngine(spark, t)
    eng.apply_batch(
        local_frame(
            spark,
            [(1, "I", "a", 10), (2, "I", "b", 20)],
            "lsn long, op string, doc_id string, v int",
        ), 0, 2,
    )
    eng.apply_batch(
        local_frame(
            spark,
            [(3, "U", "a", 11)],
            "lsn long, op string, doc_id string, v int",
        ), 2, 3,
    )
    v_pre = t.current().version
    # widen v to long, add q, rename q -> quality, then one more batch
    eng.apply_batch(
        local_frame(
            spark,
            [(4, "I", "c", 2**40, 1.5)],
            "lsn long, op string, doc_id string, v long, q double",
        ), 3, 4,
    )
    t.rename_column("q", "quality")
    t = type(t).load(str(tmp_path / "t"))
    eng = CDCEngine(spark, t)
    eng.apply_batch(
        local_frame(
            spark,
            [(5, "U", "a", 12, 3.5)],
            "lsn long, op string, doc_id string, v long, quality double",
        ), t.current().version, 5,
    )

    # reader constructed AFTER the evolution: declared = final schema
    schema = LakeCDFDataSource({"path": str(tmp_path / "t")}).schema()
    assert "quality" in schema.fieldNames()
    r = LakeCDFStreamReader({"path": str(tmp_path / "t")}, schema)

    def window_rows(a, b):
        rows = []
        for part in r.partitions({"version": a}, {"version": b}):
            it = diff_bucket(part.meta)
            if it is None:
                continue
            for batch in it:
                rows.extend(batch.to_pylist())
        return rows

    # pre-evolution window (0, 1]: final names, added column null, long v
    first = sorted(window_rows(0, 1), key=lambda x: x["doc_id"])
    assert [x["doc_id"] for x in first] == ["a", "b"]
    assert [x["v"] for x in first] == [10, 20]
    assert all(x["quality"] is None for x in first)
    assert all(x["_change_type"] == "insert" for x in first)

    # pre-evolution update window (1, v_pre]
    upd = window_rows(1, v_pre)
    assert [(x["doc_id"], x["v"], x["quality"], x["_change_type"])
            for x in upd] == [("a", 11, None, "update")]

    # replaying version-by-version and folding equals the live table
    state = {}
    for a in range(0, t.current().version):
        for x in window_rows(a, a + 1):
            if x["_change_type"] == "delete":
                state.pop(x["doc_id"], None)
            else:
                state[x["doc_id"]] = (x["v"], x["quality"])
    live = {
        row["doc_id"]: (row["v"], row["quality"])
        for row in t.read(spark).collect()
    }
    assert state == live


def test_mirror_follow_catchup_over_evolution_rate_capped(spark, tmp_path):
    """End-to-end: a FRESH mirror follower with maxVersionsPerBatch=1
    catches up over a source whose history contains a compatible
    evolution — every pre-evolution window arrives aligned and the
    mirror converges (this wedged permanently before window alignment)."""
    from dbimport_spark.plans.mirror import verify_mirror
    from dbimport_spark.streaming.cdf_source import follow_mirror_stream

    src_t = CDCEngine.create_table(str(tmp_path / "src"), num_buckets=2)
    src = CDCEngine(spark, src_t)
    src.apply_batch(
        _log(spark, [(1, "I", "k1", [1] * 3, 3, "a", TS),
                     (2, "I", "k2", [2] * 4, 4, "b", TS)]), 0, 2,
    )
    src.apply_batch(_log(spark, [(3, "U", "k1", [9], 1, "a", TS)]), 2, 3)
    # compatible evolution mid-history: add a column
    src.apply_batch(
        local_frame(
            spark,
            [(4, "I", "k3", [5], 1, "c", TS, 0.5)],
            "lsn long, op string, doc_id string, tokens array<int>, "
            "n_tok int, source string, commit_ts timestamp, score double",
        ), 3, 4,
    )

    # default payload: the follower's engine evolves the mirror when the
    # aligned feed carries the added column
    mir_t = CDCEngine.create_table(str(tmp_path / "mir"), num_buckets=2)
    mir = CDCEngine(spark, mir_t)
    q = follow_mirror_stream(
        spark, str(tmp_path / "src"), mir, str(tmp_path / "ck"),
        trigger_seconds=0.3, maxVersionsPerBatch=1,
    )
    try:
        assert _wait(
            lambda: mir_t.last_lsn() >= src_t.current().version
        ), (q.exception() and str(q.exception()))
    finally:
        q.stop()
    q.awaitTermination(30)
    src_live = type(src_t).load(str(tmp_path / "src"))
    assert verify_mirror(spark, src_live, mir_t)["converged"]


def test_catchup_alignment_random_evolutions(spark, tmp_path):
    """Property test for catch-up window alignment: random I/U/D batches
    interleaved with random COMPATIBLE evolutions (add column, widen
    int->long, rename a payload column), then a reader constructed
    against the FINAL schema replays every window version-by-version.
    The netted fold of the aligned windows must equal the live table —
    for any interleaving, not just the fixed scenario above."""
    import random

    from pyspark.sql import types as T

    from dbimport_spark.streaming.cdf_source import LakeCDFDataSource

    rng = random.Random(20260820)
    for trial in range(3):
        root = str(tmp_path / f"t{trial}")
        payload = T.StructType([
            T.StructField("doc_id", T.StringType(), False),
            T.StructField("v", T.IntegerType(), True),
        ])
        t = CDCEngine.create_table(
            root, payload_schema=payload, num_buckets=2
        )
        eng = CDCEngine(spark, t)
        cols = [["v", "int"]]  # evolvable payload columns (name, sql type)
        lsn, added = 0, 0
        for step in range(6):
            n = rng.randint(1, 4)
            ddl = "lsn long, op string, doc_id string" + "".join(
                f", {nm} {ty}" for nm, ty in cols
            )
            rows = []
            for _ in range(n):
                lsn += 1
                vals = [lsn, rng.choice(["I", "U", "U", "D"]),
                        f"k{rng.randint(1, 6)}"]
                for _nm, ty in cols:
                    vals.append(
                        rng.randint(0, 100) if ty in ("int", "long")
                        else round(rng.random(), 3)
                    )
                rows.append(tuple(vals))
            eng.apply_batch(local_frame(spark, rows, ddl), lsn - n, lsn)
            ev = rng.choice(["none", "none", "add", "widen", "rename"])
            if ev == "add":
                added += 1
                cols.append([f"q{added}", "double"])
            elif ev == "widen":
                cands = [c for c in cols if c[1] == "int"]
                if cands:
                    rng.choice(cands)[1] = "long"
            elif ev == "rename":
                c = rng.choice(cols)
                t = type(t).load(root)
                old = c[0]
                c[0] = f"{old}_r{step}"
                t.rename_column(old, c[0])
                t = type(t).load(root)
                eng = CDCEngine(spark, t)

        t = type(t).load(root)
        schema = LakeCDFDataSource({"path": root}).schema()
        assert [f.name for f in schema.fields if f.name in
                {nm for nm, _ in cols}] == [nm for nm, _ in cols[:1]] + [
                    nm for nm, _ in cols[1:]]
        r = LakeCDFStreamReader({"path": root}, schema)
        state = {}
        for a in range(0, t.current().version):
            for part in r.partitions({"version": a}, {"version": a + 1}):
                it = diff_bucket(part.meta)
                if it is None:
                    continue
                for batch in it:
                    for x in batch.to_pylist():
                        if x["_change_type"] == "delete":
                            state.pop(x["doc_id"], None)
                        else:
                            state[x["doc_id"]] = tuple(
                                x[nm] for nm, _ in cols
                            )
        live = {
            row["doc_id"]: tuple(row[nm] for nm, _ in cols)
            for row in t.read(spark).collect()
        }
        assert state == live, f"trial {trial}: fold != live"
