"""Incrementally-maintained aggregate views (plans/matview.py): the view
folds the source's change feed into count/sum totals without rescanning
the base table, and must equal a direct groupBy of the source's live
rows after every sync (the reference's custom-aggregate validation
shape, import_config.py:2257-2284 — run the aggregate both ways,
compare)."""

import datetime as dt
import itertools

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dbimport_spark.plans.engine import CDCEngine
from dbimport_spark.plans.matview import (
    AggSpec,
    apply_feed_to_view,
    create_view,
    sync_view,
    verify_view,
)
from dbimport_spark.schema import CHANGE_SCHEMA
from dbimport_spark.session import local_frame
from dbimport_spark.sources.loggen import generate_changes

TS = dt.datetime(2024, 1, 1)
SPEC = AggSpec(group_cols=["source"], sum_cols=["n_tok"])


def _log(spark, rows):
    return local_frame(spark, rows, CHANGE_SCHEMA)


def _pair(spark, tmp_path, **view_kw):
    src_t = CDCEngine.create_table(str(tmp_path / "src"), num_buckets=8)
    src = CDCEngine(spark, src_t, checkpoint_dir=str(tmp_path / "ckpt"))
    view_t = create_view(str(tmp_path / "view"), src_t, SPEC, num_buckets=4)
    view = CDCEngine(spark, view_t, **view_kw)
    return src, view


# a zero driver-fold limit keeps sync_view on the incremental core, which
# it bypasses when it recomputes a small view; _inc_sync asserts the choice
INCREMENTAL = {"broadcast_threshold_rows": 0}


def _totals(spark, view_t):
    return {
        r["source"]: (r["n_rows"], r["sum_n_tok"])
        for r in view_t.read(spark).collect()
    }


def test_bootstrap_equals_direct_groupby(spark, tmp_path):
    src, view = _pair(spark, tmp_path)
    src.replay(generate_changes(spark, 3000, n_keys=200, seed=31), num_batches=2)
    bs = sync_view(spark, src.table, view, SPEC)
    assert not bs.skipped
    assert verify_view(spark, src.table, view.table, SPEC)["converged"]
    # idempotent: nothing new -> skipped, watermark = source version
    assert sync_view(spark, src.table, view, SPEC).skipped
    assert view.table.last_lsn() == src.table.current().version


def test_incremental_insert_update_delete(spark, tmp_path):
    src, view = _pair(spark, tmp_path, **INCREMENTAL)
    # n_tok is engine-normalized to size(tokens) on apply, so the token
    # arrays carry the summed quantity
    src.apply_batch(
        _log(spark, [(1, "I", "k1", [1] * 10, 10, "a", TS),
                     (2, "I", "k2", [2] * 20, 20, "a", TS),
                     (3, "I", "k3", [3] * 5, 5, "b", TS)]), 0, 3,
    )
    _inc_sync(spark, src, view, SPEC)
    assert _totals(spark, view.table) == {"a": (2, 30), "b": (1, 5)}

    # update within group (sum moves), update across groups (row migrates),
    # delete collapsing a group to zero (group row disappears)
    src.apply_batch(
        _log(spark, [(4, "U", "k1", [1] * 15, 15, "a", TS),  # a: 30 -> 35
                     (5, "U", "k3", [3] * 5, 5, "a", TS),    # b -> a migration
                     (6, "D", "k2", None, None, None, TS)]), 3, 6,
    )
    bs, _ = _inc_sync(spark, src, view, SPEC)
    assert not bs.skipped
    assert _totals(spark, view.table) == {"a": (2, 20)}
    assert verify_view(spark, src.table, view.table, SPEC)["converged"]


def test_update_not_touching_aggregates_is_noop(spark, tmp_path):
    src, view = _pair(spark, tmp_path, **INCREMENTAL)
    src.apply_batch(_log(spark, [(1, "I", "k1", [1] * 10, 10, "a", TS)]), 0, 1)
    _inc_sync(spark, src, view, SPEC)
    v_before = view.table.current().version
    # token VALUES change but neither the group nor n_tok (same length)
    # does: the delta nets to zero and no group is rewritten — the sync
    # still advances the view's watermark (empty batch commits are atomic)
    src.apply_batch(_log(spark, [(2, "U", "k1", [9] * 10, 10, "a", TS)]), 1, 2)
    bs, _ = _inc_sync(spark, src, view, SPEC)
    assert not bs.skipped and bs.events == 0
    assert view.table.current().version == v_before + 1  # watermark-only
    assert view.table.last_lsn() == src.table.current().version
    assert _totals(spark, view.table) == {"a": (1, 10)}


def test_resync_of_committed_window_is_skipped(spark, tmp_path):
    src, view = _pair(spark, tmp_path)
    src.apply_batch(_log(spark, [(1, "I", "k1", [1] * 10, 10, "a", TS)]), 0, 1)
    sync_view(spark, src.table, view, SPEC)
    before = _totals(spark, view.table)
    # crash-redelivery shape: the same window applied again must not
    # double-count (watermark gate, not delta arithmetic, protects it)
    assert sync_view(spark, src.table, view, SPEC).skipped
    assert _totals(spark, view.table) == before


def test_gap_refuses_then_full_rebuild(spark, tmp_path):
    src, view = _pair(spark, tmp_path)
    src.apply_batch(_log(spark, [(1, "I", "k1", [1] * 10, 10, "a", TS)]), 0, 1)
    sync_view(spark, src.table, view, SPEC)
    src.apply_batch(_log(spark, [(2, "I", "k2", [2] * 7, 7, "b", TS),
                                 (3, "D", "k1", None, None, None, TS)]), 1, 3)
    src.table.expire_snapshots(keep_last=1)
    with pytest.raises(ValueError, match="expired"):
        sync_view(spark, src.table, view, SPEC)
    # no-silent-caps: the opt-in full rebuild reports its scan size
    from tests.test_mirror import _caplog_records

    with _caplog_records("dbimport_spark.plans.matview") as recs:
        bs = sync_view(spark, src.table, view, SPEC, on_gap="full")
    assert any(
        "full rebuild will scan" in r.getMessage()
        and r.getMessage().endswith("on the driver") for r in recs
    )
    assert not bs.skipped
    assert _totals(spark, view.table) == {"b": (1, 7)}
    assert verify_view(spark, src.table, view.table, SPEC)["converged"]


def test_composite_groups_and_null_sums(spark, tmp_path):
    spec = AggSpec(group_cols=["source"], sum_cols=["n_tok"])
    src_t = CDCEngine.create_table(str(tmp_path / "s2"), num_buckets=4)
    src = CDCEngine(spark, src_t)
    view_t = create_view(str(tmp_path / "v2"), src_t, spec, num_buckets=2)
    view = CDCEngine(spark, view_t, **INCREMENTAL)
    # null tokens => engine-normalized null n_tok, which contributes 0 to
    # the sum (documented convention: the invertible COALESCE(sum, 0)
    # form) but still counts the row
    src.apply_batch(
        _log(spark, [(1, "I", "k1", None, None, "a", TS),
                     (2, "I", "k2", [2] * 4, 4, "a", TS)]), 0, 2,
    )
    _inc_sync(spark, src, view, spec)
    assert _totals(spark, view_t) == {"a": (2, 4)}
    src.apply_batch(_log(spark, [(3, "D", "k2", None, None, None, TS)]), 2, 3)
    _inc_sync(spark, src, view, spec)
    assert _totals(spark, view_t) == {"a": (1, 0)}
    assert verify_view(spark, src_t, view_t, spec)["converged"]


def test_random_log_converges_per_window(spark, tmp_path):
    """Property-style: replay a generated log in 3 windows, sync after
    each; the view must equal the direct groupBy at every step."""
    src, view = _pair(spark, tmp_path)
    log = generate_changes(spark, 4000, n_keys=150, seed=77)
    for hi in (1300, 2600, 4000):
        src.replay(log.filter(F.col("lsn") <= hi), num_batches=1)
        sync_view(spark, src.table, view, SPEC)
        assert verify_view(spark, src.table, view.table, SPEC)["converged"]


def test_sync_reads_only_touched_view_buckets(spark, tmp_path):
    """Scale shape: the current-totals read is bucket-pruned to the
    delta's groups — a sync touching one group must not read view files
    from untouched buckets (sync cost ∝ delta, not view size)."""
    spec = AggSpec(group_cols=["source"], sum_cols=["n_tok"])
    src_t = CDCEngine.create_table(str(tmp_path / "s3"), num_buckets=4)
    src = CDCEngine(spark, src_t)
    view_t = create_view(str(tmp_path / "v3"), src_t, spec, num_buckets=8)
    view = CDCEngine(spark, view_t)
    # bootstrap: many groups spread across view buckets
    src.apply_batch(
        _log(spark, [(i, "I", f"k{i}", [1] * i, i, f"g{i % 6}", TS)
                     for i in range(1, 13)]), 0, 12,
    )
    sync_view(spark, src_t, view, spec)
    all_files = {f.path for f in view_t.current().files}
    assert len(all_files) > 1  # groups actually spread over buckets

    # one group changes; capture which view files the sync reads
    src.apply_batch(_log(spark, [(13, "U", "k1", [1] * 99, 99, "g1", TS)]),
                    12, 13)
    read_files = set()
    orig_read = type(view_t).read

    def spy(self, spark_, buckets=None, version=None):
        df = orig_read(self, spark_, buckets=buckets, version=version)
        if self is view_t and buckets is not None:
            read_files.update(df.inputFiles())
        return df

    import unittest.mock as mock

    with mock.patch.object(type(view_t), "read", spy):
        sync_view(spark, src_t, view, spec)
    # DataFile paths are table-root-relative; inputFiles are absolute URIs
    read_paths = {p.removeprefix("file://") for p in read_files}
    all_abs = {str(tmp_path / "v3" / p) for p in all_files}
    assert read_paths and read_paths < all_abs  # strict subset: pruned
    assert verify_view(spark, src_t, view_t, spec)["converged"]


def test_soft_delete_source(spark, tmp_path):
    """Soft sources: a tombstoned row leaves the aggregate (the feed
    emits 'delete' on the live->dead transition), and a revival
    re-enters it — totals always equal the groupBy of LIVE rows, through
    the recompute fold and the incremental core alike."""
    src_t = CDCEngine.create_table(
        str(tmp_path / "soft"), num_buckets=4, soft_delete=True
    )
    src = CDCEngine(spark, src_t)
    views = {
        fold: CDCEngine(
            spark, create_view(str(tmp_path / fold), src_t, SPEC, num_buckets=2),
            **(INCREMENTAL if fold == "incremental" else {}),
        )
        for fold in ("recompute", "incremental")
    }

    def sync(expected):
        for fold, view in views.items():
            assert f": {fold} —" in _decision(spark, src_t, view, SPEC)[1]
            assert _totals(spark, view.table) == expected

    src.apply_batch(
        _log(spark, [(1, "I", "k1", [1] * 10, 10, "a", TS),
                     (2, "I", "k2", [2] * 5, 5, "a", TS)]), 0, 2,
    )
    sync({"a": (2, 15)})
    src.apply_batch(_log(spark, [(3, "D", "k1", None, None, None, TS)]), 2, 3)
    sync({"a": (1, 5)})  # tombstone left the agg
    src.apply_batch(_log(spark, [(4, "I", "k1", [7] * 7, 7, "a", TS)]), 3, 4)
    sync({"a": (2, 12)})  # revival re-entered
    for view in views.values():
        assert verify_view(spark, src_t, view.table, SPEC)["converged"]


def test_follow_view_applies_windows(spark, tmp_path):
    """Continuous view maintenance: follow_view polls and delta-syncs as
    the source advances from another thread (follow_mirror's shape)."""
    import threading

    from dbimport_spark.plans.matview import follow_view

    src, view = _pair(spark, tmp_path)
    log = generate_changes(spark, 2000, n_keys=120, seed=13)
    src.replay(log.filter(F.col("lsn") <= 1000), num_batches=1)

    stop = tmp_path / "backstop"
    backstop = threading.Timer(120.0, stop.touch)
    backstop.start()
    t = threading.Timer(1.0, lambda: src.replay(log, num_batches=1))
    t.start()
    try:
        applied = follow_view(
            spark, src.table, view, SPEC, poll_s=0.1, max_syncs=2,
            stop_file=str(stop),
        )
    finally:
        t.join()
        backstop.cancel()
    assert len(applied) == 2
    assert verify_view(spark, src.table, view.table, SPEC)["converged"]
    assert view.table.last_lsn() == src.table.current().version


# ---- min/max: candidate rule + group-scoped rescan-on-invalidation ---------

MM_SPEC = AggSpec(
    group_cols=["source"], sum_cols=["n_tok"],
    min_cols=["n_tok"], max_cols=["n_tok"],
)


def _mm_pair(spark, tmp_path, spec=MM_SPEC):
    """Source and a view kept on the incremental core (``INCREMENTAL``):
    the rescan counts below are properties of that core."""
    src_t = CDCEngine.create_table(str(tmp_path / "src"), num_buckets=8)
    src = CDCEngine(spark, src_t, checkpoint_dir=str(tmp_path / "ckpt"))
    view_t = create_view(str(tmp_path / "view"), src_t, spec, num_buckets=4)
    return src, CDCEngine(spark, view_t, **INCREMENTAL)


def _mm_totals(spark, view_t):
    return {
        r["source"]: (r["n_rows"], r["sum_n_tok"], r["min_n_tok"], r["max_n_tok"])
        for r in view_t.read(spark).collect()
    }


def _rescans(recs):
    """Total groups rescanned across the captured sync_view INFO lines."""
    import re

    n = 0
    for r in recs:
        m = re.search(r"(\d+) group\(s\) rescanned", r.getMessage())
        if m:
            n += int(m.group(1))
    return n


def _logged(spark, sync, *args):
    """Run ``sync(spark, *args)`` capturing the matview INFO log."""
    import logging

    from tests.test_mirror import _caplog_records

    with _caplog_records(
        "dbimport_spark.plans.matview", level=logging.INFO
    ) as recs:
        bs = sync(spark, *args)
    return bs, recs


def _feed_sync(spark, source_t, view, spec):
    """One window through ``apply_feed_to_view`` driven by
    ``table_changes(include_preimage=True)`` — the incremental core the
    stream follower uses; returns its stats and groups rescanned."""
    from dbimport_spark.lake.cdf import table_changes

    from_v = max(view.table.last_lsn(), 0)
    to_v = source_t.current().version
    feed = table_changes(spark, source_t, from_v, to_v, include_preimage=True)
    bs, recs = _logged(
        spark, apply_feed_to_view, source_t, view, spec, feed, from_v, to_v
    )
    return bs, _rescans(recs)


def _decision(spark, source_t, view, spec):
    """``sync_view`` plus its logged recompute/incremental decision and the
    groups it rescanned."""
    bs, recs = _logged(spark, sync_view, source_t, view, spec)
    msgs = [r.getMessage() for r in recs if "diff read set" in r.getMessage()]
    assert len(msgs) == 1, msgs  # logged once per sync
    return bs, msgs[0], _rescans(recs)


def _inc_sync(spark, src, view, spec=MM_SPEC):
    """``sync_view`` on the incremental path; returns its stats and the
    groups it rescanned."""
    bs, msg, rescanned = _decision(spark, src.table, view, spec)
    assert ": incremental —" in msg
    return bs, rescanned


def test_minmax_bootstrap_and_growth_without_rescan(spark, tmp_path):
    """Inserts only ever GROW an extremum — the candidate rule handles
    them with zero rescans, including bootstrap (the whole table arrives
    as inserts)."""
    src, view = _mm_pair(spark, tmp_path)
    src.apply_batch(
        _log(spark, [(1, "I", "k1", [1] * 10, 10, "a", TS),
                     (2, "I", "k2", [2] * 20, 20, "a", TS),
                     (3, "I", "k3", [3] * 5, 5, "b", TS)]), 0, 3,
    )
    bs, rescanned = _inc_sync(spark, src, view)
    assert not bs.skipped and rescanned == 0
    assert _mm_totals(spark, view.table) == {
        "a": (2, 30, 10, 20), "b": (1, 5, 5, 5),
    }
    # a new outlier value: candidate folds in, still no rescan
    src.apply_batch(_log(spark, [(4, "I", "k4", [4] * 99, 99, "a", TS)]), 3, 4)
    bs, rescanned = _inc_sync(spark, src, view)
    assert rescanned == 0
    assert _mm_totals(spark, view.table)["a"] == (3, 129, 10, 99)
    assert verify_view(spark, src.table, view.table, MM_SPEC)["converged"]


def test_minmax_extremum_removal_rescans_only_that_group(spark, tmp_path):
    """Deleting the max-carrier of group 'a' invalidates only 'a': one
    group rescanned, 'b' untouched, and the new max is the runner-up."""
    src, view = _mm_pair(spark, tmp_path)
    src.apply_batch(
        _log(spark, [(1, "I", "k1", [1] * 10, 10, "a", TS),
                     (2, "I", "k2", [2] * 20, 20, "a", TS),
                     (3, "I", "k3", [3] * 7, 7, "b", TS)]), 0, 3,
    )
    _inc_sync(spark, src, view)
    src.apply_batch(_log(spark, [(4, "D", "k2", None, None, None, TS)]), 3, 4)
    bs, rescanned = _inc_sync(spark, src, view)
    assert rescanned == 1
    assert _mm_totals(spark, view.table) == {
        "a": (1, 10, 10, 10), "b": (1, 7, 7, 7),
    }
    assert verify_view(spark, src.table, view.table, MM_SPEC)["converged"]


def test_minmax_nonextremal_delete_no_rescan(spark, tmp_path):
    """Removing a strictly-interior value can't carry an extremum: no
    group is rescanned and both extremes survive."""
    src, view = _mm_pair(spark, tmp_path)
    src.apply_batch(
        _log(spark, [(1, "I", "k1", [1] * 10, 10, "a", TS),
                     (2, "I", "k2", [2] * 15, 15, "a", TS),
                     (3, "I", "k3", [3] * 20, 20, "a", TS)]), 0, 3,
    )
    _inc_sync(spark, src, view)
    src.apply_batch(_log(spark, [(4, "D", "k2", None, None, None, TS)]), 3, 4)
    bs, rescanned = _inc_sync(spark, src, view)
    assert rescanned == 0
    assert _mm_totals(spark, view.table)["a"] == (2, 30, 10, 20)
    assert verify_view(spark, src.table, view.table, MM_SPEC)["converged"]


def test_minmax_rescan_of_timestamp_groups_off_utc(spark, tmp_path, monkeypatch):
    """A view grouped by a timestamp column rescans the group whose max
    carrier was deleted also when the Python process is not on UTC: the
    rescan's keys go back into Spark as the instants they were."""
    import time

    from dbimport_spark.lake.cdf import table_changes

    payload = T.StructType([
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("day", T.TimestampType(), True),
        T.StructField("n_tok", T.IntegerType(), True),
    ])
    events = "lsn long, op string, doc_id string, day timestamp, n_tok int"
    spec = AggSpec(group_cols=["day"], max_cols=["n_tok"])
    d1 = dt.datetime(2024, 3, 10, 12, 30, tzinfo=dt.timezone.utc)
    d2 = dt.datetime(2024, 3, 11, 12, 30, tzinfo=dt.timezone.utc)
    src_t = CDCEngine.create_table(
        str(tmp_path / "src"), payload_schema=payload, num_buckets=2
    )
    src = CDCEngine(spark, src_t)
    view = CDCEngine(spark, create_view(str(tmp_path / "v"), src_t, spec, 2))
    src.apply_batch(local_frame(spark, [
        (1, "I", "k1", d1, 10), (2, "I", "k2", d1, 20), (3, "I", "k3", d2, 7),
    ], events), 0, 3)
    feed = table_changes(spark, src_t, 0, 1, include_preimage=True)
    apply_feed_to_view(spark, src_t, view, spec, feed, 0, 1)
    src.apply_batch(local_frame(spark, [(4, "D", "k2", None, None)], events), 3, 4)
    feed = table_changes(spark, src_t, 1, 2, include_preimage=True)
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    try:
        bs = apply_feed_to_view(spark, src_t, view, spec, feed, 1, 2)
    finally:
        monkeypatch.delenv("TZ")
        time.tzset()
    assert bs.rescanned_groups == 1
    assert verify_view(spark, src_t, view.table, spec)["converged"]


def test_minmax_tied_extremum_delete_rescans_and_survives(spark, tmp_path):
    """Two rows tie for the max; deleting one MUST rescan (the stored
    extremum was possibly removed) and the max must survive via the
    remaining carrier."""
    src, view = _mm_pair(spark, tmp_path)
    src.apply_batch(
        _log(spark, [(1, "I", "k1", [1] * 20, 20, "a", TS),
                     (2, "I", "k2", [2] * 20, 20, "a", TS),
                     (3, "I", "k3", [3] * 5, 5, "a", TS)]), 0, 3,
    )
    _inc_sync(spark, src, view)
    src.apply_batch(_log(spark, [(4, "D", "k1", None, None, None, TS)]), 3, 4)
    bs, rescanned = _inc_sync(spark, src, view)
    assert rescanned == 1
    assert _mm_totals(spark, view.table)["a"] == (2, 25, 5, 20)
    assert verify_view(spark, src.table, view.table, MM_SPEC)["converged"]


def test_minmax_update_moves_extremum_across_groups(spark, tmp_path):
    """An update migrating the max-carrier from group 'a' to 'b' removes
    a's extremum (rescan) and candidates b's new one (no rescan)."""
    src, view = _mm_pair(spark, tmp_path)
    src.apply_batch(
        _log(spark, [(1, "I", "k1", [1] * 10, 10, "a", TS),
                     (2, "I", "k2", [2] * 30, 30, "a", TS),
                     (3, "I", "k3", [3] * 7, 7, "b", TS)]), 0, 3,
    )
    _inc_sync(spark, src, view)
    src.apply_batch(_log(spark, [(4, "U", "k2", [2] * 30, 30, "b", TS)]), 3, 4)
    bs, rescanned = _inc_sync(spark, src, view)
    assert rescanned == 1  # only 'a' (b's new value is a pure candidate)
    assert _mm_totals(spark, view.table) == {
        "a": (1, 10, 10, 10), "b": (2, 37, 7, 30),
    }
    assert verify_view(spark, src.table, view.table, MM_SPEC)["converged"]


def test_minmax_value_unchanged_update_is_skipped(spark, tmp_path):
    """An update that keeps both the group and the aggregated value
    contributes nothing: no candidate, no removal, no rescan — even
    though the row itself changed (token values differ)."""
    src, view = _mm_pair(spark, tmp_path)
    src.apply_batch(
        _log(spark, [(1, "I", "k1", [1] * 10, 10, "a", TS),
                     (2, "I", "k2", [2] * 5, 5, "a", TS)]), 0, 2,
    )
    _inc_sync(spark, src, view)
    src.apply_batch(_log(spark, [(3, "U", "k1", [9] * 10, 10, "a", TS)]), 2, 3)
    bs, rescanned = _inc_sync(spark, src, view)
    assert rescanned == 0 and bs.events == 0  # watermark-only sync
    assert _mm_totals(spark, view.table)["a"] == (2, 15, 5, 10)


def test_minmax_group_collapse_needs_no_rescan(spark, tmp_path):
    """Deleting a group's LAST row deletes the view row outright — no
    rescan even though the extremum was removed."""
    src, view = _mm_pair(spark, tmp_path)
    src.apply_batch(
        _log(spark, [(1, "I", "k1", [1] * 10, 10, "a", TS),
                     (2, "I", "k2", [2] * 5, 5, "b", TS)]), 0, 2,
    )
    _inc_sync(spark, src, view)
    src.apply_batch(_log(spark, [(3, "D", "k1", None, None, None, TS)]), 2, 3)
    bs, rescanned = _inc_sync(spark, src, view)
    assert rescanned == 0
    assert _mm_totals(spark, view.table) == {"b": (1, 5, 5, 5)}
    assert verify_view(spark, src.table, view.table, MM_SPEC)["converged"]


def test_minmax_full_rebuild_gap(spark, tmp_path):
    """A view over the driver-fold limit (zero here) rebuilds through a
    full outer join in Spark: only the changed group 'a', the new group
    'd' and the vanished group 'c' reach the merge; 'b' stays as it is."""
    from tests.test_mirror import _caplog_records

    src, view = _mm_pair(spark, tmp_path)
    src.apply_batch(
        _log(spark, [(1, "I", "k1", [1] * 10, 10, "a", TS),
                     (2, "I", "k5", [5] * 4, 4, "b", TS),
                     (3, "I", "k6", [6] * 3, 3, "c", TS)]), 0, 3,
    )
    _inc_sync(spark, src, view)
    src.apply_batch(
        _log(spark, [(4, "I", "k2", [2] * 7, 7, "a", TS),
                     (5, "I", "k3", [3] * 2, 2, "d", TS),
                     (6, "D", "k1", None, None, None, TS),
                     (7, "D", "k6", None, None, None, TS)]), 3, 7,
    )
    src.table.expire_snapshots(keep_last=1)
    with _caplog_records("dbimport_spark.plans.matview") as recs:
        bs = sync_view(spark, src.table, view, MM_SPEC, on_gap="full")
    assert any("in Spark (over 0 rows)" in r.getMessage() for r in recs)
    assert not bs.skipped and bs.events == 3 and bs.rescanned_groups == 3
    assert _mm_totals(spark, view.table) == {
        "a": (1, 7, 7, 7), "b": (1, 4, 4, 4), "d": (1, 2, 2, 2),
    }
    assert verify_view(spark, src.table, view.table, MM_SPEC)["converged"]


def test_minmax_schema_refuses_non_orderable(spark, tmp_path):
    from dbimport_spark.plans.matview import view_schema
    from dbimport_spark.schema import PAYLOAD_SCHEMA

    with pytest.raises(ValueError, match="non-orderable"):
        view_schema(
            PAYLOAD_SCHEMA,
            AggSpec(group_cols=["source"], max_cols=["tokens"]),
        )


def test_view_sync_across_reload_boundary(spark, tmp_path):
    """code-review r5: same wedge as the mirror — a reload inside the
    window must route to the on_gap='full' rebuild even while the base
    snapshot is retained, and on_gap='error' must name the reload."""
    spec = AggSpec(group_cols=["source"], sum_cols=["n_tok"])
    src_t = CDCEngine.create_table(str(tmp_path / "src"), num_buckets=2)
    src = CDCEngine(spark, src_t)
    src.apply_batch(
        _log(spark, [(1, "I", "k1", [1] * 3, 3, "a", TS),
                     (2, "I", "k2", [2] * 4, 4, "b", TS)]), 0, 2,
    )
    view_t = create_view(str(tmp_path / "view"), src_t, spec, num_buckets=2)
    view = CDCEngine(spark, view_t)
    sync_view(spark, src_t, view, spec)
    base_v = view_t.last_lsn()

    src_t.reset_for_reload(src_t.current().schema)
    src2 = CDCEngine(spark, src_t)
    src2.apply_batch(
        _log(spark, [(1, "I", "k9", [9] * 5, 5, "c", TS)]), 0, 1,
    )
    assert base_v in src_t.snapshots()

    with pytest.raises(ValueError, match="declared full reload"):
        sync_view(spark, src_t, view, spec)
    bs = sync_view(spark, src_t, view, spec, on_gap="full")
    assert not bs.skipped
    assert verify_view(spark, src_t, view_t, spec)["converged"]
    rows = {r["source"]: r["n_rows"] for r in view_t.read(spark).filter(
        "dl_delete_ts is null" if "dl_delete_ts" in view_t.read(spark).columns
        else "1=1").collect()}
    assert rows == {"c": 1}  # pre-reload groups a/b are gone


def test_rescanned_groups_reaches_stats_sink(spark, tmp_path):
    """code-review r5: the min/max invalidation rescan count must be in
    the EMITTED stats record, not set on the BatchStats after the sink
    already serialized it — for the incremental core and for
    ``sync_view`` (which reports the groups it recomputed from the
    source when it recomputes; here that is the one group 'a' too)."""
    from dbimport_spark.plans.stats_sink import CallableStatsSink

    spec = AggSpec(group_cols=["source"], min_cols=["n_tok"])
    src_t = CDCEngine.create_table(str(tmp_path / "src"), num_buckets=2)
    src = CDCEngine(spark, src_t)
    src.apply_batch(
        _log(spark, [(1, "I", "k1", [1] * 2, 2, "a", TS),
                     (2, "I", "k2", [2] * 9, 9, "a", TS)]), 0, 2,
    )
    got = {"view": [], "inc": []}
    view, inc = (
        CDCEngine(
            spark,
            create_view(str(tmp_path / name), src_t, spec, num_buckets=2),
            stats_sink=CallableStatsSink(got[name].append),
        )
        for name in ("view", "inc")
    )
    sync_view(spark, src_t, view, spec)
    _feed_sync(spark, src_t, inc, spec)
    # delete the min carrier: group 'a' must rescan, and the emitted
    # record must say so
    src.apply_batch(_log(spark, [(3, "D", "k1", None, None, None, TS)]), 2, 3)
    for recs in got.values():
        recs.clear()
    sync_view(spark, src_t, view, spec)
    _feed_sync(spark, src_t, inc, spec)
    for recs in got.values():
        recs = [r for r in recs if r["op"] == "apply_batch" and not r["skipped"]]
        assert recs and recs[-1]["rescanned_groups"] == 1


# ---- recompute vs incremental: per-window choice from metadata -------------


def _recompute_sync(spark, source_t, view, spec):
    """One window through the recompute fold, whatever the metadata rule
    would choose."""
    from dbimport_spark.plans.matview import _recompute_view

    from_v = max(view.table.last_lsn(), 0)
    return _recompute_view(
        spark, source_t, view, spec, from_v, source_t.current().version
    )


def _mm_fold(spark, source_t):
    """MM_SPEC's totals folded in Python from the source's live rows."""
    vals = {}
    for r in source_t.read(spark).select("source", "n_tok").collect():
        vals.setdefault(r["source"], []).append(r["n_tok"])
    return {
        g: (len(v), sum(x for x in v if x is not None),
            min((x for x in v if x is not None), default=None),
            max((x for x in v if x is not None), default=None))
        for g, v in vals.items()
    }


def _windows(seed):
    """A seeded window sequence over keys k0..k11 and groups a..d that
    always includes, besides random I/U/D traffic: a delete of a group's
    max carrier, a cross-group move of a min carrier, a group vanishing,
    null-valued rows (null n_tok: sum 0, no extremum) and a no-op update
    (tokens change, group and n_tok do not)."""
    import random

    rnd = random.Random(seed)
    row = lambda lsn, op, k, n, g: (  # noqa: E731
        lsn, op, k, None if n is None else [lsn % 7] * n, n, g, TS
    )
    wins = [
        [row(1, "I", "k0", 9, "a"), row(2, "I", "k1", 3, "a"),
         row(3, "I", "k2", None, "a"), row(4, "I", "k3", 2, "b"),
         row(5, "I", "k4", 8, "b"), row(6, "I", "k5", 5, "c")],
        # max carrier of a deleted; min carrier of b moves to c
        [row(7, "D", "k0", None, None), row(8, "U", "k3", 2, "c")],
        # group c vanishes; no-op update on k1 (same length, same group)
        [row(9, "D", "k5", None, None), row(10, "D", "k3", None, None),
         row(11, "U", "k1", 3, "a")],
    ]
    lsn = 11
    for _ in range(2):
        win = []
        for _ in range(8):
            lsn += 1
            op = rnd.choice("IUD")
            k = f"k{rnd.randrange(12)}"
            if op == "D":
                win.append(row(lsn, "D", k, None, None))
            else:
                n = rnd.choice([None, 1, 4, 4, 9, 12])
                win.append(row(lsn, op, k, n, rnd.choice("abcd")))
        wins.append(win)
    return wins


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_recompute_equals_incremental_per_window(spark, tmp_path, mode):
    """After every window of a seeded sequence, the recompute fold and the
    incremental core hold equal views, both equal to the source's live
    rows folded in Python (and to ``verify_view``'s direct groupBy at the
    end) — over copy-on-write and merge-on-read sources."""
    src_t = CDCEngine.create_table(str(tmp_path / "src"), num_buckets=4)
    src = CDCEngine(spark, src_t, write_mode=mode)
    rec, inc = (
        CDCEngine(spark, create_view(str(tmp_path / n), src_t, MM_SPEC, 4))
        for n in ("rec", "inc")
    )
    lo = 0
    for win in _windows(seed=5):
        hi = win[-1][0]
        src.apply_batch(_log(spark, win), lo, hi)
        lo = hi
        _recompute_sync(spark, src_t, rec, MM_SPEC)
        _feed_sync(spark, src_t, inc, MM_SPEC)
        assert (
            _mm_totals(spark, rec.table) == _mm_totals(spark, inc.table)
            == _mm_fold(spark, src_t)
        )
        assert rec.table.last_lsn() == inc.table.last_lsn() == src_t.current().version
    for view in (rec, inc):
        assert verify_view(spark, src_t, view.table, MM_SPEC)["converged"]
    # a window that changes no view column: the recompute fold writes no
    # group and commits the watermark alone
    live = src_t.read(spark).filter("n_tok is not null").first()
    src.apply_batch(_log(spark, [(lo + 1, "U", live["doc_id"], [6] * live["n_tok"],
                                  live["n_tok"], live["source"], TS)]), lo, lo + 1)
    v_before = rec.table.current().version
    bs = _recompute_sync(spark, src_t, rec, MM_SPEC)
    assert bs.events == 0 and rec.table.current().version == v_before + 1
    assert rec.table.last_lsn() == src_t.current().version
    assert _recompute_sync(spark, src_t, rec, MM_SPEC).skipped  # exactly-once


def test_sync_chooses_strategy_from_metadata(spark, tmp_path):
    """An 8-bucket copy-on-write source whose window rewrites one bucket
    reads far less than the table: incremental. A merge-on-read window
    touching every uncompacted bucket widens the diff to whole buckets on
    both sides, more than one scan: recompute, reporting every group it
    recomputed as rescanned."""
    rows = [(i, "I", f"k{i}", [1] * i, i, f"g{i % 3}", TS) for i in range(1, 49)]

    cow_t = CDCEngine.create_table(str(tmp_path / "cow"), num_buckets=8)
    cow = CDCEngine(spark, cow_t)
    cow.apply_batch(_log(spark, rows), 0, 48)
    cview = CDCEngine(spark, create_view(str(tmp_path / "cv"), cow_t, MM_SPEC, 4))
    sync_view(spark, cow_t, cview, MM_SPEC)
    cow.apply_batch(_log(spark, [(49, "U", "k1", [1] * 60, 60, "g1", TS)]), 48, 49)
    assert {f.bucket for f in cow_t.current().files} == set(range(8))
    bs, msg, _ = _decision(spark, cow_t, cview, MM_SPEC)
    assert ": incremental —" in msg and not bs.skipped

    mor_t = CDCEngine.create_table(str(tmp_path / "mor"), num_buckets=4)
    mor = CDCEngine(spark, mor_t, write_mode="mor")
    mor.apply_batch(_log(spark, rows), 0, 48)
    mview = CDCEngine(spark, create_view(str(tmp_path / "mv"), mor_t, MM_SPEC, 4))
    sync_view(spark, mor_t, mview, MM_SPEC)
    upd = [(48 + i, "U", f"k{i}", [1] * 2, 2, f"g{i % 3}", TS) for i in range(1, 49)]
    mor.apply_batch(_log(spark, upd), 48, 96)
    assert any(f.kind != "base" for f in mor_t.current().files)
    bs, msg, _ = _decision(spark, mor_t, mview, MM_SPEC)
    assert ": recompute —" in msg and bs.rescanned_groups == 3


def test_merge_key_only_view_syncs_incrementally(spark, tmp_path):
    """A view grouped by the source's merge key alone leaves no non-key
    column to scope the change feed by (``table_changes`` refuses a
    key-only ``compare_cols``): the incremental sync compares the full
    payload instead and still converges."""
    spec = AggSpec(group_cols=["doc_id"])
    src_t = CDCEngine.create_table(str(tmp_path / "src"), num_buckets=2)
    src = CDCEngine(spark, src_t)
    # a zero driver-fold limit keeps every window on the incremental path
    view = CDCEngine(
        spark, create_view(str(tmp_path / "v"), src_t, spec, num_buckets=2),
        broadcast_threshold_rows=0,
    )
    src.apply_batch(
        _log(spark, [(1, "I", "k1", [1] * 3, 3, "a", TS),
                     (2, "I", "k2", [2] * 4, 4, "b", TS)]), 0, 2,
    )
    assert ": incremental —" in _decision(spark, src_t, view, spec)[1]
    src.apply_batch(
        _log(spark, [(3, "U", "k1", [5] * 3, 3, "c", TS),
                     (4, "D", "k2", None, None, None, TS),
                     (5, "I", "k3", [6], 1, "a", TS)]), 2, 5,
    )
    bs, msg, _ = _decision(spark, src_t, view, spec)
    assert ": incremental —" in msg and not bs.skipped
    assert {r["doc_id"] for r in view.table.read(spark).collect()} == {"k1", "k3"}
    assert verify_view(spark, src_t, view.table, spec)["converged"]


# ---- driver placement: the recompute's merge on the driver ------------------


AUDIT_STAMPS = ("dl_insert_ts", "dl_update_ts", "dl_delete_ts")


def _stamped(table, spark):
    """The view's rows, each audit stamp mapped to the source version of
    the sync whose commit first carried it as ``last_merge_ts``."""
    stamp = {}
    for v in table.snapshots():
        props = table.snapshot_properties(v)
        if "last_merge_ts" in props:
            ts = dt.datetime.fromisoformat(props["last_merge_ts"])
            stamp.setdefault(ts, int(props["last_lsn"]))
    return sorted(
        tuple(
            stamp[v] if c in AUDIT_STAMPS and v is not None else v
            for c, v in r.asDict().items()
        )
        for r in table.read(spark).collect()
    )


def _new_file_schemas(table, before: int):
    """(bucket, parquet schema) of every file the commits after version
    ``before`` added."""
    import os

    import pyarrow.parquet as pq

    old = {f.path for f in table.snapshot(before).files}
    return sorted(
        (f.bucket, str(pq.read_schema(os.path.join(table.root, f.path))))
        for f in table.current().files if f.path not in old
    )


def _history_rows(engine, spark):
    """The view's history rows without their append stamp, or None."""
    if engine.history_table is None:
        return None
    return sorted(
        tuple(v for c, v in r.asDict().items() if c != "dl_hist_ts")
        for r in engine.history_table.read(spark).collect()
    )


@pytest.mark.parametrize("mode,view", [
    ("cow", "default"), ("mor", "default"), ("cow", "mor_soft"),
])
def test_driver_merge_equals_spark_merge(spark, tmp_path, mode, view):
    """The recompute's driver-placed merge writes what its Spark merge
    writes: after every window of the seeded sequence, equal rows and
    ``dl_iud``, audit stamps from the same sync, files in the same buckets
    with the same parquet schema (nullability included). ``mode`` is the
    source's write mode, ``view`` the view engine's: the default, or a
    ``write_mode='mor'`` soft-delete ``track_lsn`` view with a history
    table (the driver rewrites the buckets its Spark merge writes deltas
    for, so rows, stamps and history rows compare, files do not). A source row with a
    null group value is refused with the same error on both sides and,
    with a quarantine, parked as the same rows."""
    import glob

    from dbimport_spark.plans.matview import _recompute_view, view_schema
    from dbimport_spark.schema import AUDIT_COLUMNS

    src_t = CDCEngine.create_table(str(tmp_path / "src"), num_buckets=4)
    src = CDCEngine(spark, src_t, write_mode=mode)

    def view_engine(name):
        if view == "default":
            return CDCEngine(
                spark, create_view(str(tmp_path / name), src_t, MM_SPEC, 4)
            )
        payload = view_schema(T.StructType(
            [f for f in src_t.current().schema.fields if f.name not in AUDIT_COLUMNS]
        ), MM_SPEC)
        keys = list(MM_SPEC.group_cols)
        return CDCEngine(
            spark,
            CDCEngine.create_table(
                str(tmp_path / name), payload_schema=payload, num_buckets=4,
                key=keys, soft_delete=True, track_lsn=True,
            ),
            history_table=CDCEngine.create_history_table(
                str(tmp_path / f"{name}-h"), payload, num_buckets=4, key=keys
            ),
            write_mode="mor",
        )

    drv, sp = view_engine("drv"), view_engine("sp")

    def sync(view, on_driver):
        before = view.table.current().version
        bs = _recompute_view(
            spark, src_t, view, MM_SPEC, max(view.table.last_lsn(), 0),
            src_t.current().version, on_driver=on_driver,
        )
        return bs, _new_file_schemas(view.table, before)

    lo = 0
    for win in _windows(seed=5):
        hi = win[-1][0]
        src.apply_batch(_log(spark, win), lo, hi)
        lo = hi
        (d_bs, d_files), (s_bs, s_files) = sync(drv, True), sync(sp, False)
        assert d_bs.mode == "driver" and s_bs.mode != "driver"
        assert (d_bs.events, d_bs.touched_buckets, d_bs.rescanned_groups) == (
            s_bs.events, s_bs.touched_buckets, s_bs.rescanned_groups
        )
        if view == "default":
            assert d_files == s_files
        assert _stamped(drv.table, spark) == _stamped(sp.table, spark)
        assert _history_rows(drv, spark) == _history_rows(sp, spark)
    assert verify_view(spark, src_t, drv.table, MM_SPEC)["converged"]
    if (mode, view) != ("cow", "default"):
        return  # the malformed window below takes the same path either way

    # a null group value: the same refusal, then the same parked rows
    src.apply_batch(_log(spark, [(lo + 1, "I", "kn", [1], 1, None, TS)]), lo, lo + 1)
    errors = []
    for view, on_driver in ((drv, True), (sp, False)):
        with pytest.raises(ValueError, match="malformed") as e:
            sync(view, on_driver)
        errors.append(str(e.value))
    assert errors[0] == errors[1]
    parked = []
    for name, view, on_driver in (("drv", drv, True), ("sp", sp, False)):
        qdir = str(tmp_path / f"q-{name}")
        sync(CDCEngine(spark, view.table, quarantine_dir=qdir), on_driver)
        (batch_dir,) = glob.glob(f"{qdir}/batch-*")
        parked.append(sorted(map(tuple, spark.read.parquet(batch_dir).collect())))
    assert parked[0] == parked[1] and len(parked[0]) == 1
    assert _stamped(drv.table, spark) == _stamped(sp.table, spark)


_JOB_GROUPS = itertools.count()


def _jobs(spark, fn):
    """``fn()`` inside its own Spark job group: (result, jobs it ran). Each
    call takes a fresh group (a recycled ``id(fn)`` would add up calls)."""
    sc = spark.sparkContext
    group = f"test-jobs-{next(_JOB_GROUPS)}"
    sc.setJobGroup(group, "job count")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_recompute_sync_job_count(spark, tmp_path, monkeypatch):
    """One recompute sync over a small merge-on-read source runs at most
    six Spark jobs, one of them the view's write; the commit reports the
    driver placement in its stats, its snapshot and the sync's log line."""
    from dbimport_spark.lake.table import LakeTable
    from dbimport_spark.plans.stats_sink import CallableStatsSink

    rows = [(i, "I", f"k{i}", [1] * i, i, f"g{i % 3}", TS) for i in range(1, 49)]
    src_t = CDCEngine.create_table(str(tmp_path / "src"), num_buckets=4)
    src = CDCEngine(spark, src_t, write_mode="mor")
    src.apply_batch(_log(spark, rows), 0, 48)
    sunk = []
    view = CDCEngine(
        spark, create_view(str(tmp_path / "v"), src_t, MM_SPEC, 4),
        stats_sink=CallableStatsSink(sunk.append),
    )
    sync_view(spark, src_t, view, MM_SPEC)
    upd = [(48 + i, "U", f"k{i}", [1] * 2, 2, f"g{i % 3}", TS) for i in range(1, 49)]
    src.apply_batch(_log(spark, upd), 48, 96)

    write_jobs = []
    orig = LakeTable.write_data_files

    def write(self, *a, **kw):
        out, n = _jobs(spark, lambda: orig(self, *a, **kw))
        spark.sparkContext.setJobGroup(sync_group, "job count")
        write_jobs.append(n)
        return out

    monkeypatch.setattr(LakeTable, "write_data_files", write)
    sync_group = "test-jobs-sync"
    spark.sparkContext.setJobGroup(sync_group, "job count")
    try:
        bs, msg, _ = _decision(spark, src_t, view, MM_SPEC)
    finally:
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    sync_jobs = len(spark.sparkContext.statusTracker().getJobIdsForGroup(sync_group))
    assert ": recompute —" in msg and bs.mode == "driver"
    assert write_jobs == [1] and sync_jobs + sum(write_jobs) <= 6
    assert f"view merge on the driver, {bs.touched_buckets} view bucket(s)" in msg
    assert view.table.current().properties["last_batch_mode"] == "driver"
    assert sunk[-1]["mode"] == "driver" and sunk[-1]["rescanned_groups"] == 3
    assert verify_view(spark, src_t, view.table, MM_SPEC)["converged"]


def test_row_rule_over_local_frame_runs_no_job(spark):
    """The driver merge rests on Spark folding a projection over a
    ``local_frame`` into a local relation: ``_row_rule``'s projection
    collects without a single Spark job."""
    from dbimport_spark.operators.merge import driver_merge

    schema = T.StructType([
        T.StructField("k", T.StringType()), T.StructField("v", T.LongType()),
    ])
    audit = T.StructType([
        *schema.fields, T.StructField("dl_iud", T.StringType()),
        T.StructField("dl_insert_ts", T.TimestampType()),
        T.StructField("dl_update_ts", T.TimestampType()),
    ])
    batch = T.StructType([
        T.StructField("lsn", T.LongType()), T.StructField("op", T.StringType()),
        *schema.fields,
    ])
    out = driver_merge(
        spark, [("a", 1, "I", TS, TS), ("b", 2, "I", TS, TS)], audit,
        [(5, "U", "a", 3, ), (6, "D", "b", None), (7, "I", "c", 4)], batch,
        "k", ["k", "v"], F.lit(TS + dt.timedelta(1)),
    )
    rows, jobs = _jobs(spark, out.collect)
    assert jobs == 0
    assert sorted((r["k"], r["v"], r["dl_iud"]) for r in rows) == [
        ("a", 3, "U"), ("c", 4, "I"),
    ]
