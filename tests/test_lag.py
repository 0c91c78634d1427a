"""Follower lag / freshness metrics (plans/lag.py): the fleet's "how far
behind is everything" answer, computed from committed metadata only —
snapshot JSON, table properties, parquet footer stats, export state
JSON. No Spark job may run to answer it (the whole point is that a
monitoring cron can poll it at any table size)."""

import json

import pytest
from pyspark.sql import functions as F

from dbimport_spark.plans.cdc_export import write_export_state
from dbimport_spark.plans.engine import CDCEngine
from dbimport_spark.plans.lag import follower_lag, log_max_lsn, source_lag
from dbimport_spark.plans.matview import AggSpec, create_view, sync_view
from dbimport_spark.plans.mirror import sync_mirror
from dbimport_spark.plans.registry import TableEntry, TableRegistry
from dbimport_spark.session import local_frame
from dbimport_spark.sources.loggen import generate_changes, write_changes


def _fleet(spark, tmp_path, with_view=True):
    """source + mirror (+ matview) wired through a registry entry."""
    log = generate_changes(spark, 3000, n_keys=200, seed=31)
    write_changes(log.filter(F.col("lsn") <= 1500), str(tmp_path / "log"), 4)
    src_t = CDCEngine.create_table(str(tmp_path / "src"), num_buckets=8)
    src = CDCEngine(spark, src_t, checkpoint_dir=str(tmp_path / "ckpt"))
    src.replay(spark.read.parquet(str(tmp_path / "log")), num_batches=1)

    mir_t = CDCEngine.create_table(str(tmp_path / "mir"), num_buckets=4)
    mir = CDCEngine(spark, mir_t)
    sync_mirror(spark, src_t, mir)

    views = []
    view_eng = None
    spec = None
    if with_view:
        spec = AggSpec(group_cols=["source"], sum_cols=["n_tok"])
        view_t = create_view(str(tmp_path / "view"), src_t, spec, num_buckets=4)
        view_eng = CDCEngine(spark, view_t)
        sync_view(spark, src_t, view_eng, spec)
        views = [{"root": str(tmp_path / "view"),
                  "group_by": ["source"], "sum": ["n_tok"]}]

    reg = TableRegistry(str(tmp_path / "registry.json"))
    reg.add(TableEntry(
        name="docs",
        table_root=str(tmp_path / "src"),
        log_path=str(tmp_path / "log"),
        mirror_root=str(tmp_path / "mir"),
        views=views,
    ))
    return log, src, mir, view_eng, spec, reg


def test_caught_up_fleet_reports_zero_lag(spark, tmp_path):
    _, src, _, _, _, reg = _fleet(spark, tmp_path)
    rep = follower_lag(reg)["docs"]
    assert rep["enabled"] is True
    assert rep["source"]["version"] == src.table.current().version
    assert rep["source"]["log_lsn_behind"] == 0
    kinds = {f["kind"] for f in rep["followers"]}
    assert kinds == {"mirror", "view"}
    for f in rep["followers"]:
        assert f["versions_behind"] == 0
        assert f["lsn_behind"] == 0
        assert f["seconds_behind"] == 0.0


def test_lag_appears_and_clears_with_syncs(spark, tmp_path):
    log, src, mir, view_eng, spec, reg = _fleet(spark, tmp_path)
    # source advances; followers do not
    src.replay(log, num_batches=1)
    rep = follower_lag(reg)["docs"]
    for f in rep["followers"]:
        assert f["versions_behind"] >= 1
        assert f["lsn_behind"] > 0
        assert f["seconds_behind"] >= 0.0
        assert f["applied_version"] < rep["source"]["version"]
    # syncs clear it
    sync_mirror(spark, src.table, mir)
    sync_view(spark, src.table, view_eng, spec)
    rep = follower_lag(reg)["docs"]
    assert all(f["versions_behind"] == 0 for f in rep["followers"])


def test_log_tail_lag_from_footer_stats_only(spark, tmp_path):
    log, src, _, _, _, reg = _fleet(spark, tmp_path, with_view=False)
    # events past the committed watermark land in the log dir
    write_changes(
        log.filter(F.col("lsn") > 1500), str(tmp_path / "log" / "late"), 2
    )
    tail = log_max_lsn(str(tmp_path / "log"))
    assert tail == log.agg(F.max("lsn")).collect()[0][0]
    rec = source_lag(src.table, str(tmp_path / "log"))
    assert rec["log_max_lsn"] == tail
    assert rec["log_lsn_behind"] == tail - src.table.last_lsn()
    assert rec["log_lsn_behind"] > 0


def test_log_max_lsn_refuses_on_missing_stats(tmp_path):
    # a log directory with no parquet at all -> None, never a guess
    (tmp_path / "empty").mkdir()
    assert log_max_lsn(str(tmp_path / "empty")) is None
    assert log_max_lsn(str(tmp_path / "nonexistent")) is None


def test_cdc_export_lag_from_state_json(spark, tmp_path):
    _, src, _, _, _, reg = _fleet(spark, tmp_path, with_view=False)
    state_dir = tmp_path / "est"
    state_dir.mkdir()
    entries = reg.load()
    entries["docs"].cdc_exports = [{
        "url": "jdbc:derby:unused", "target_table": "tgt",
        "state_dir": str(state_dir),
    }]
    reg.save(entries)
    # never-synced export: applied_version 0, full lag
    rep = follower_lag(reg)["docs"]
    exp = [f for f in rep["followers"] if f["kind"] == "cdc_export"][0]
    assert exp["applied_version"] == 0
    assert exp["versions_behind"] == rep["source"]["version"]
    # a committed watermark, written the way CDCJdbcExporter commits it
    write_export_state(
        reg.store,
        str(state_dir),
        {"last_version": src.table.current().version, "runs": 1},
    )
    rep = follower_lag(reg)["docs"]
    exp = [f for f in rep["followers"] if f["kind"] == "cdc_export"][0]
    assert exp["versions_behind"] == 0


def test_expired_base_reports_version_lag_with_none_details(spark, tmp_path):
    log, src, mir, _, _, reg = _fleet(spark, tmp_path, with_view=False)
    # drop the mirror's pin scenario: advance source twice and expire
    src.replay(log.filter(F.col("lsn") <= 2200), num_batches=1)
    src.replay(log, num_batches=1)
    src.table.expire_snapshots(keep_last=1)
    rep = follower_lag(reg)["docs"]
    mirf = [f for f in rep["followers"] if f["kind"] == "mirror"][0]
    assert mirf["versions_behind"] >= 2  # exact from properties
    assert mirf["lsn_behind"] is None  # base snapshot gone: no guess
    assert mirf["seconds_behind"] is None


def test_cli_lag_threshold_exit_code(spark, tmp_path, capsys):
    from dbimport_spark.cli import main

    log, src, _, _, _, reg = _fleet(spark, tmp_path, with_view=False)
    assert main(["lag", str(tmp_path / "registry.json")]) == 0
    out = json.loads(capsys.readouterr().out)
    assert out["docs"]["followers"][0]["versions_behind"] == 0
    # source advances past the mirror: threshold 0 trips
    src.replay(log, num_batches=1)
    assert main([
        "lag", str(tmp_path / "registry.json"), "--max-versions-behind", "0",
    ]) == 1
    # generous threshold passes
    assert main([
        "lag", str(tmp_path / "registry.json"), "--max-versions-behind", "99",
    ]) == 0


def test_log_bounds_resolve_leaf_index_past_struct(spark, tmp_path):
    """A multi-leaf (struct) column BEFORE the lsn column must not shift
    the footer-stats lookup: row-group column(i) indexes parquet LEAVES,
    so the arrow top-level index would silently read the struct's second
    leaf as the log tail."""
    from dbimport_spark.plans.lag import log_lsn_bounds, log_max_lsn

    log = str(tmp_path / "structlog")
    local_frame(
        spark,
        [((1, 999), 7), ((2, 888), 9)],
        "doc struct<a:int, b:int>, lsn long",
    ).coalesce(1).write.parquet(log)
    assert log_max_lsn(log) == 9  # not 999 (doc.b's max)
    assert log_lsn_bounds(log) == (7, 9)


def test_log_lsn_bounds_empty_dir_is_authoritative(tmp_path):
    import os

    from dbimport_spark.plans.lag import log_lsn_bounds

    d = str(tmp_path / "empty")
    os.makedirs(d)
    assert log_lsn_bounds(d) == (None, None)
    assert log_lsn_bounds(str(tmp_path / "missing")) is None
