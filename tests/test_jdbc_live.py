"""Live JDBC tests against embedded Derby (ships in Spark's jars) —
upgrades S1/S2/S12/P4 from builder-only to real round-trips: partitioned
parallel scan, single-session scan, WHERE pushdown, JDBC export sink, and
the full lake→RDBMS export path."""

import os

from pyspark.sql import functions as F

from dbimport_spark.plans.engine import CDCEngine
from dbimport_spark.plans.export import export_to_jdbc
from dbimport_spark.session import local_frame
from dbimport_spark.sources.jdbc import JdbcScan, plan_sessions
from dbimport_spark.sources.loggen import generate_changes


def _url(tmp_path, name: str) -> str:
    return f"jdbc:derby:{os.path.join(str(tmp_path), name)};create=true"


def test_partitioned_jdbc_scan_round_trip(spark, tmp_path):
    """S1: parallel scan with split column — correct rows AND the declared
    parallelism (one JDBC session per partition)."""
    url = _url(tmp_path, "db1")
    src = spark.range(1000).selectExpr("id", "CAST(id % 7 AS INT) AS grp")
    src.write.jdbc(url, "events", mode="overwrite")

    scan = JdbcScan(
        url=url, table="events", partition_column="id",
        lower_bound=0, upper_bound=999, num_partitions=4,
    )
    out = scan.load(spark)
    assert out.rdd.getNumPartitions() == 4
    assert out.count() == 1000
    assert out.agg(F.sum("id")).first()[0] == 999 * 1000 // 2

    # S2: single-session scan — same rows, one partition
    single = JdbcScan(url=url, table="events").load(spark)
    assert single.rdd.getNumPartitions() == 1
    assert single.count() == 1000


def test_jdbc_where_pushdown(spark, tmp_path):
    """P4: user WHERE addition runs inside the database (subquery dbtable)."""
    url = _url(tmp_path, "db2")
    spark.range(100).selectExpr("id", "CAST(id % 2 AS INT) AS par").write.jdbc(
        url, "t", mode="overwrite"
    )
    # Derby case-folds unquoted identifiers; the WHERE string is passed to
    # the database verbatim, so quote as the database dialect requires
    out = JdbcScan(url=url, table="t", where='"par" = 0').load(spark)
    assert out.count() == 50
    assert all(r["par"] == 0 for r in out.collect())


def test_export_to_jdbc_and_full_path(spark, tmp_path):
    """S12: lake table -> JDBC sink; the exported rows read back equal the
    replayed state (token arrays serialized as JSON for the RDBMS)."""
    url = _url(tmp_path, "db3")
    log = generate_changes(spark, 2000, n_keys=100, seed=61)
    table = CDCEngine.create_table(str(tmp_path / "t"), num_buckets=4)
    CDCEngine(spark, table).replay(log, num_batches=2)

    state = table.read(spark).select(
        "doc_id", F.to_json(F.col("tokens")).alias("tokens_json"), "n_tok", "source"
    )
    export_to_jdbc(state, url, "target_tbl")
    back = JdbcScan(url=url, table="target_tbl").load(spark)
    a = {tuple(r) for r in state.collect()}
    b = {tuple(r) for r in back.collect()}
    assert a == b and len(a) == table.read(spark).count()


def test_incremental_jdbc_export_two_windows(spark, tmp_path):
    """S12 incremental: the JDBC sink runs the same watermark state machine
    as the parquet exporter (reference export_operations.py:1058-1079) —
    window 2 appends ONLY rows merged after window 1's export."""
    from dbimport_spark.plans.export import JdbcExporter

    url = _url(tmp_path, "db4")
    table = CDCEngine.create_table(str(tmp_path / "it"), num_buckets=4)
    eng = CDCEngine(spark, table)
    log = generate_changes(spark, 1000, n_keys=60, seed=62)
    eng.replay(log.filter("lsn <= 700"), num_batches=1)

    ex = JdbcExporter(table, url, "inc_tbl", state_dir=str(tmp_path / "st"))
    s1 = ex.export(spark, mode="incr")
    n1 = JdbcScan(url=url, table="inc_tbl").load(spark).count()
    assert s1["last_run_rows"] == n1 == table.read(spark).count()

    # second window: only the tail batch's merged rows ship
    eng.apply_batch(log.filter("lsn > 700"), 700, 1000)
    changed = (
        table.read(spark)
        .filter(F.col("dl_update_ts") > F.lit(s1["last_update_ts"]).cast("timestamp"))
        .count()
    )
    s2 = ex.export(spark, mode="incr")
    assert s2["last_run_rows"] == changed > 0
    back = JdbcScan(url=url, table="inc_tbl").load(spark)
    assert back.count() == n1 + changed
    # and an empty window appends nothing, watermark stands
    s3 = ex.export(spark, mode="incr")
    assert s3["last_run_rows"] == 0
    assert s3["last_update_ts"] == s2["last_update_ts"]
    assert JdbcScan(url=url, table="inc_tbl").load(spark).count() == n1 + changed
    # full mode truncates and re-exports the whole table
    s4 = ex.export(spark, mode="full")
    assert s4["last_run_rows"] == table.read(spark).count()
    assert (
        JdbcScan(url=url, table="inc_tbl").load(spark).count()
        == table.read(spark).count()
    )
    # token arrays arrive JSON-serialized (RDBMS has no array type)
    row = JdbcScan(url=url, table="inc_tbl").load(spark).first()
    assert isinstance(row["tokens"], str) and row["tokens"].startswith("[")


def test_plan_sessions_formula():
    assert plan_sessions(0) == 1
    assert plan_sessions(10 * 128 * 1024 * 1024) == 10
    assert plan_sessions(10**15, max_sessions=24) == 24


def test_cdc_jdbc_export_propagates_deletes_and_resumes(spark, tmp_path):
    """CDC export (plans/cdc_export.py): the change feed applied to Derby
    through the staging-table merge — inserts, updates, AND hard deletes
    land; a committed window re-syncs as a no-op; a crash between the
    merge transaction and the state commit replays idempotently."""
    import datetime as dt

    from dbimport_spark.plans.cdc_export import (
        CDCJdbcExporter,
        verify_cdc_export,
    )
    from dbimport_spark.schema import CHANGE_SCHEMA

    TS = dt.datetime(2024, 1, 1)

    def log(rows):
        return local_frame(spark, rows, CHANGE_SCHEMA)

    url = _url(tmp_path, "cdcdb")
    table = CDCEngine.create_table(str(tmp_path / "t"), num_buckets=4)
    eng = CDCEngine(spark, table)
    eng.apply_batch(
        log([(1, "I", "k1", [1] * 4, 4, "a", TS),
             (2, "I", "k2", [2] * 6, 6, "a", TS),
             (3, "I", "k3", [3] * 8, 8, "b", TS)]), 0, 3,
    )
    exp = CDCJdbcExporter(
        table, url, "tgt", state_dir=str(tmp_path / "state")
    )
    out = exp.sync(spark)  # bootstrap: whole table as inserts
    assert not out["skipped"] and out["rows"] == 3 and out["deletes"] == 0
    rec = verify_cdc_export(spark, table, url, "tgt")
    assert rec["converged"], rec

    # update + hard delete + cross-group churn
    eng.apply_batch(
        log([(4, "U", "k1", [9] * 5, 5, "b", TS),
             (5, "D", "k2", None, None, None, TS),
             (6, "I", "k4", [4] * 2, 2, "c", TS)]), 3, 6,
    )
    out = exp.sync(spark)
    assert out["deletes"] == 1
    rec = verify_cdc_export(spark, table, url, "tgt")
    assert rec["converged"], rec
    ids = {
        r["doc_id"]
        for r in spark.read.jdbc(url, "tgt").select("doc_id").collect()
    }
    assert ids == {"k1", "k3", "k4"}  # k2's hard delete propagated

    # committed window: no-op
    assert exp.sync(spark)["skipped"]

    # crash-retry: roll the state back (merge committed, state didn't) —
    # replaying the same window must converge to the same target state
    exp._save_state({"last_version": 1, "runs": 1})
    out = exp.sync(spark)
    assert not out["skipped"]
    rec = verify_cdc_export(spark, table, url, "tgt")
    assert rec["converged"], rec


def test_cdc_jdbc_export_gap_full_reconcile(spark, tmp_path):
    """Expired delta base: on_gap='full' rebuilds via live-rows upserts
    plus target-side anti-join deletes (the mirror's fallback shape, over
    JDBC)."""
    import datetime as dt

    from dbimport_spark.plans.cdc_export import (
        CDCJdbcExporter,
        verify_cdc_export,
    )
    from dbimport_spark.schema import CHANGE_SCHEMA

    TS = dt.datetime(2024, 1, 1)

    def log(rows):
        return local_frame(spark, rows, CHANGE_SCHEMA)

    url = _url(tmp_path, "gapdb")
    table = CDCEngine.create_table(str(tmp_path / "t"), num_buckets=4)
    eng = CDCEngine(spark, table)
    eng.apply_batch(
        log([(1, "I", "k1", [1] * 4, 4, "a", TS),
             (2, "I", "k2", [2] * 6, 6, "a", TS)]), 0, 2,
    )
    exp = CDCJdbcExporter(
        table, url, "tgt2", state_dir=str(tmp_path / "state")
    )
    exp.sync(spark)
    eng.apply_batch(
        log([(3, "D", "k1", None, None, None, TS),
             (4, "I", "k5", [5] * 3, 3, "c", TS)]), 2, 4,
    )
    table.expire_snapshots(keep_last=1)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="expired"):
        exp.sync(spark)
    out = exp.sync(spark, on_gap="full")
    assert not out["skipped"] and out["deletes"] == 1  # k1 via anti-join
    rec = verify_cdc_export(spark, table, url, "tgt2")
    assert rec["converged"], rec


def test_registry_sweep_advances_cdc_export(spark, tmp_path):
    """A registry entry's cdc_exports target converges with the table per
    sweep (deletes included) and auto-pins its delta base on the source —
    the derived-target family's export member, live against Derby."""
    import json

    from dbimport_spark.plans.cdc_export import verify_cdc_export
    from dbimport_spark.plans.registry import (
        TableEntry,
        TableRegistry,
        replay_all,
    )

    url = _url(tmp_path, "db_reg")
    log = generate_changes(spark, 1500, n_keys=80, seed=77)
    log_dir = str(tmp_path / "log")
    log.write.parquet(log_dir)
    root = str(tmp_path / "t")
    CDCEngine.create_table(root, num_buckets=4)
    reg = TableRegistry(str(tmp_path / "r.json"))
    reg.save(
        {
            "t1": TableEntry(
                name="t1",
                table_root=root,
                log_path=log_dir,
                checkpoint=str(tmp_path / "ckpt"),
                batches=2,
                cdc_exports=[
                    {
                        "url": url,
                        "target_table": "tgt",
                        "state_dir": str(tmp_path / "est"),
                    }
                ],
            )
        }
    )
    res = replay_all(spark, reg)
    assert res["t1"]["ok"], res["t1"]
    assert res["t1"]["cdc_exports"][0]["ok"]

    from dbimport_spark.lake.table import LakeTable

    table = LakeTable.load(root)
    rec = verify_cdc_export(spark, table, url, "tgt")
    assert rec["converged"], rec
    pins = table.pins()
    assert any(n.startswith("export:") for n in pins)
    assert pins[next(n for n in pins if n.startswith("export:"))] == (
        table.current().version
    )
    # second sweep: log unchanged -> replay and export both settle
    res2 = replay_all(spark, reg)
    assert res2["t1"]["ok"]
    assert res2["t1"]["cdc_exports"][0]["skipped"] is True


def test_cdc_jdbc_export_stream_follower(spark, tmp_path):
    """follow_export_stream: the Derby target follows the source through
    readStream (the third follower — mirror and matview already stream).
    Catch-up bootstrap lands, a kill/restart on the SAME checkpoint
    resumes exactly-once via the exporter's version watermark, and a
    multi-version micro-batch NETS per key: an insert-then-delete while
    the follower was down arrives as a harmless no-op delete, and only
    the latest of two updates is staged."""
    import datetime as dt
    import time

    from dbimport_spark.plans.cdc_export import (
        CDCJdbcExporter,
        verify_cdc_export,
    )
    from dbimport_spark.schema import CHANGE_SCHEMA
    from dbimport_spark.streaming.cdf_source import follow_export_stream

    TS = dt.datetime(2024, 1, 1)

    def log(rows):
        return local_frame(spark, rows, CHANGE_SCHEMA)

    def _wait(pred, timeout=120):
        t0 = time.time()
        while time.time() - t0 < timeout:
            if pred():
                return True
            time.sleep(0.5)
        return False

    url = _url(tmp_path, "cdcstreamdb")
    table = CDCEngine.create_table(str(tmp_path / "t"), num_buckets=4)
    eng = CDCEngine(spark, table)
    eng.apply_batch(
        log([(1, "I", "k1", [1] * 4, 4, "a", TS),
             (2, "I", "k2", [2] * 6, 6, "a", TS)]), 0, 2,
    )
    exp = CDCJdbcExporter(
        table, url, "tgt_s", state_dir=str(tmp_path / "state")
    )
    ckpt = str(tmp_path / "ckpt")

    q = follow_export_stream(
        spark, str(tmp_path / "t"), exp, ckpt, trigger_seconds=0.5
    )
    try:
        assert _wait(
            lambda: int(exp._state()["last_version"])
            >= table.current().version
        ), "export follower never caught up"
    finally:
        q.stop()
    q.awaitTermination(30)
    assert verify_cdc_export(spark, table, url, "tgt_s")["converged"]

    # source advances TWICE while the follower is down: k3 inserted then
    # deleted (nets to nothing), k1 updated twice (latest wins)
    eng.apply_batch(
        log([(3, "I", "k3", [3] * 2, 2, "b", TS),
             (4, "U", "k1", [7] * 3, 3, "a", TS)]), 2, 4,
    )
    eng.apply_batch(
        log([(5, "D", "k3", None, None, None, TS),
             (6, "U", "k1", [8] * 5, 5, "a", TS)]), 4, 6,
    )
    v_target = table.current().version

    q = follow_export_stream(
        spark, str(tmp_path / "t"), exp, ckpt, trigger_seconds=0.5
    )
    try:
        assert _wait(
            lambda: int(exp._state()["last_version"]) >= v_target
        ), "export follower never caught up after restart"
    finally:
        q.stop()
    q.awaitTermination(30)
    rec = verify_cdc_export(spark, table, url, "tgt_s")
    assert rec["converged"], rec
    rows = {
        r["doc_id"]: r["n_tok"]
        for r in spark.read.jdbc(url, "tgt_s", properties={})
        .select("doc_id", "n_tok").collect()
    }
    assert rows == {"k1": 5, "k2": 6}  # k3 netted away; k1 at lsn 6


def test_cli_cdc_export_stream_drains_then_stops(spark, tmp_path, capsys):
    """`cdc-export --stream CKPT`: the CLI follows via the lake_cdf
    streaming source and honors drain-then-stop — with the stop file
    pre-created it exits only once the target reached the source's
    version, and --verify reconciles over the wire."""
    import datetime as dt
    import json as _json

    from dbimport_spark.cli import main
    from dbimport_spark.schema import CHANGE_SCHEMA

    TS = dt.datetime(2024, 1, 1)
    table = CDCEngine.create_table(str(tmp_path / "t"), num_buckets=2)
    eng = CDCEngine(spark, table)
    eng.apply_batch(
        local_frame(
            spark,
            [(1, "I", "k1", [1] * 3, 3, "a", TS),
             (2, "I", "k2", [2] * 4, 4, "b", TS)], CHANGE_SCHEMA
        ), 0, 2,
    )
    url = _url(tmp_path, "clistreamdb")
    stop = tmp_path / "stop"
    stop.touch()
    rc = main(
        [
            "cdc-export", str(tmp_path / "t"), url, "tgt_cli",
            "--state-dir", str(tmp_path / "state"),
            "--stream", str(tmp_path / "ckpt"), "--stop-file", str(stop),
            "--poll", "0.3", "--verify",
        ]
    )
    assert rc == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["exported_source_version"] == table.current().version
    assert out["verify"]["converged"]


def test_cdc_export_stream_refuses_straddling_window(spark, tmp_path):
    """The export follower refuses a micro-batch window starting below
    the exporter's watermark: the netted diff would cancel an unapplied
    delete against the already-exported insert and the RDBMS would keep
    the deleted key forever. startingVersion at the watermark is the
    remedy and the delete propagates."""
    import datetime as dt
    import time

    import pytest

    from dbimport_spark.plans.cdc_export import (
        CDCJdbcExporter,
        verify_cdc_export,
    )
    from dbimport_spark.schema import CHANGE_SCHEMA
    from dbimport_spark.streaming.cdf_source import follow_export_stream

    TS = dt.datetime(2024, 1, 1)

    def log(rows):
        return local_frame(spark, rows, CHANGE_SCHEMA)

    def _wait(pred, timeout=120):
        t0 = time.time()
        while time.time() - t0 < timeout:
            if pred():
                return True
            time.sleep(0.5)
        return False

    url = _url(tmp_path, "straddledb")
    table = CDCEngine.create_table(str(tmp_path / "t"), num_buckets=2)
    eng = CDCEngine(spark, table)
    eng.apply_batch(
        log([(1, "I", "k1", [1] * 3, 3, "a", TS),
             (2, "I", "k2", [2] * 4, 4, "b", TS)]), 0, 2,
    )
    exp = CDCJdbcExporter(
        table, url, "tgt_str", state_dir=str(tmp_path / "state")
    )
    exp.sync(spark)  # batch bootstrap: watermark at v1
    wm = int(exp._state()["last_version"])

    eng.apply_batch(log([(3, "D", "k1", None, None, None, TS)]), 2, 3)

    # fresh checkpoint, no starting position: straddle -> loud stop
    q = follow_export_stream(
        spark, str(tmp_path / "t"), exp, str(tmp_path / "c1"),
        trigger_seconds=0.3,
    )
    assert _wait(lambda: q.exception() is not None)
    assert "net away" in str(q.exception()) or "double-count" in str(
        q.exception()
    )
    q.stop()
    with pytest.raises(Exception):
        q.awaitTermination(30)
    ids = {
        r["doc_id"]
        for r in spark.read.jdbc(url, "tgt_str").select("doc_id").collect()
    }
    assert ids == {"k1", "k2"}  # nothing applied by the refused window

    # remedy: start at the exporter's watermark; the delete lands
    q = follow_export_stream(
        spark, str(tmp_path / "t"), exp, str(tmp_path / "c2"),
        trigger_seconds=0.3, startingVersion=wm,
    )
    try:
        assert _wait(
            lambda: int(exp._state()["last_version"])
            >= table.current().version
        )
    finally:
        q.stop()
    q.awaitTermination(30)
    assert verify_cdc_export(spark, table, url, "tgt_str")["converged"]
    ids = {
        r["doc_id"]
        for r in spark.read.jdbc(url, "tgt_str").select("doc_id").collect()
    }
    assert ids == {"k2"}


def test_cli_cdc_export_stream_rejects_on_gap_full(tmp_path, capsys):
    """--on-gap full is a batch-only remedy; combined with --stream it
    would be silently ignored (the stream branch never calls sync) —
    refuse up front with the two-step remedy, before any Spark session."""
    from dbimport_spark.cli import main

    rc = main([
        "cdc-export", str(tmp_path / "t"), "jdbc:derby:x", "tgt",
        "--state-dir", str(tmp_path / "s"),
        "--stream", str(tmp_path / "ck"), "--on-gap", "full",
    ])
    assert rc == 2
    assert "incompatible" in capsys.readouterr().err
    # same guard for the other two followers — the flag was previously
    # dropped silently there (code-review r5)
    rc = main([
        "mirror", str(tmp_path / "t"), str(tmp_path / "m"),
        "--stream", str(tmp_path / "ck2"), "--on-gap", "full",
    ])
    assert rc == 2
    assert "mirror: --on-gap full" in capsys.readouterr().err
    rc = main([
        "matview", str(tmp_path / "t"), str(tmp_path / "v"),
        "--group-by", "source",
        "--stream", str(tmp_path / "ck3"), "--on-gap", "full",
    ])
    assert rc == 2
    assert "matview: --on-gap full" in capsys.readouterr().err
