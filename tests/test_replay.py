"""Acceptance tests: replay convergence vs the pure-Python oracle
(FIXTURES.md §4) under single-batch, K-batch, kill+resume, and duplicate
re-apply — plus audit/resurrection semantics."""

import itertools

from pyspark.sql import functions as F

from dbimport_spark.plans.engine import CDCEngine
from dbimport_spark.schema import PAYLOAD_COLUMNS
from dbimport_spark.session import local_frame
from dbimport_spark.sources.loggen import generate_changes
from tests.oracle import as_tuple_set, lww_fold

COLS = PAYLOAD_COLUMNS  # doc_id, tokens, n_tok, source


def _table_state(spark, table):
    rows = [r.asDict() for r in table.read(spark).collect()]
    return as_tuple_set(rows, COLS)


def _oracle_state(changes_df):
    events = [r.asDict() for r in changes_df.collect()]
    state = lww_fold(events)
    return as_tuple_set(list(state.values()), COLS)


def _new_engine(spark, tmp_path, name, **kw):
    root = str(tmp_path / name)
    table = CDCEngine.create_table(root, num_buckets=8)
    return CDCEngine(spark, table, checkpoint_dir=f"{root}/_ckpt", **kw)


def test_single_batch_convergence(spark, tmp_path):
    log = generate_changes(spark, 4000, n_keys=300, seed=42)
    eng = _new_engine(spark, tmp_path, "t1")
    stats = eng.replay(log, num_batches=1)
    assert stats.batches_applied == 1
    assert stats.events_applied == 4000
    assert _table_state(spark, eng.table) == _oracle_state(log)


def test_multi_batch_convergence(spark, tmp_path):
    log = generate_changes(spark, 4000, n_keys=300, seed=42)
    eng = _new_engine(spark, tmp_path, "t2")
    stats = eng.replay(log, num_batches=5)
    assert stats.batches_applied == 5
    assert _table_state(spark, eng.table) == _oracle_state(log)


def test_batched_equals_single(spark, tmp_path):
    log = generate_changes(spark, 3000, n_keys=150, seed=9)
    e1 = _new_engine(spark, tmp_path, "a")
    e2 = _new_engine(spark, tmp_path, "b")
    e1.replay(log, num_batches=1)
    e2.replay(log, num_batches=7)
    assert _table_state(spark, e1.table) == _table_state(spark, e2.table)


def test_kill_and_resume(spark, tmp_path):
    log = generate_changes(spark, 3000, n_keys=200, seed=4)
    eng = _new_engine(spark, tmp_path, "t3")
    partial = eng.replay(log, num_batches=6, stop_after=2)
    assert partial.batches_applied == 2
    # "restart": fresh engine over the same table + checkpoint dir
    eng2 = CDCEngine(
        spark, eng.table, checkpoint_dir=eng.checkpoint_dir
    )
    rest = eng2.replay(log, num_batches=6)
    assert rest.batches_skipped >= 2
    assert _table_state(spark, eng.table) == _oracle_state(log)


def test_duplicate_reapply_is_noop(spark, tmp_path):
    """Exactly-once: re-applying a committed window changes nothing."""
    log = generate_changes(spark, 2000, n_keys=100, seed=8)
    eng = _new_engine(spark, tmp_path, "t4")
    eng.replay(log, num_batches=2)
    v_before = eng.table.current().version
    state_before = _table_state(spark, eng.table)
    # simulate redelivery of the last committed window
    hi = eng.table.last_lsn()
    redelivered = log.filter((F.col("lsn") > 1000) & (F.col("lsn") <= hi))
    bs = eng.apply_batch(redelivered, 1000, hi)
    assert bs.skipped
    assert eng.table.current().version == v_before
    assert _table_state(spark, eng.table) == state_before


def test_delete_then_reinsert_resurrects(spark, tmp_path):
    import datetime as dt

    rows = [
        (1, "I", "k1", [1, 2], 2, "web", dt.datetime(2024, 1, 1)),
        (2, "D", "k1", None, None, None, dt.datetime(2024, 1, 2)),
        (3, "I", "k1", [9], 1, "code", dt.datetime(2024, 1, 3)),
        (4, "I", "k2", [5], 1, "web", dt.datetime(2024, 1, 4)),
        (5, "D", "k2", None, None, None, dt.datetime(2024, 1, 5)),
    ]
    from dbimport_spark.schema import CHANGE_SCHEMA

    log = local_frame(spark, rows, CHANGE_SCHEMA)
    eng = _new_engine(spark, tmp_path, "t5")
    # apply event-by-event (each its own batch): exercises matched-delete and
    # not-matched-insert branches, then resurrection
    for lsn in range(1, 6):
        eng.apply_batch(log.filter(F.col("lsn") == lsn), lsn - 1, lsn)
    got = _table_state(spark, eng.table)
    assert got == {("k1", (9,), 1, "code")}


def test_audit_columns(spark, tmp_path):
    import datetime as dt

    from dbimport_spark.schema import CHANGE_SCHEMA

    rows = [
        (1, "I", "k1", [1], 1, "web", dt.datetime(2024, 1, 1)),
        (2, "I", "k2", [2], 1, "web", dt.datetime(2024, 1, 1)),
    ]
    log1 = local_frame(spark, rows, CHANGE_SCHEMA)
    eng = _new_engine(spark, tmp_path, "t6")
    eng.apply_batch(log1, 0, 2)
    # second batch: update k1 with NEW content, touch k2 with SAME content
    rows2 = [
        (3, "U", "k1", [7, 8], 2, "web", dt.datetime(2024, 2, 1)),
        (4, "U", "k2", [2], 1, "web", dt.datetime(2024, 2, 1)),
    ]
    eng.apply_batch(local_frame(spark, rows2, CHANGE_SCHEMA), 2, 4)
    got = {r["doc_id"]: r.asDict() for r in eng.table.read(spark).collect()}
    assert got["k1"]["dl_iud"] == "U"
    assert got["k1"]["dl_update_ts"] > got["k1"]["dl_insert_ts"]
    # unchanged content: change detection leaves the audit state alone
    assert got["k2"]["dl_iud"] == "I"
    assert got["k2"]["dl_update_ts"] == got["k2"]["dl_insert_ts"]
    for c in ("dl_iud", "dl_insert_ts", "dl_update_ts"):
        assert c in got["k1"]
    assert "dl_delete_ts" not in got["k1"]  # hard-delete tables: no soft col


def test_shuffle_mode_matches_broadcast(spark, tmp_path):
    log = generate_changes(spark, 3000, n_keys=150, seed=13)
    e1 = _new_engine(spark, tmp_path, "bm", broadcast_threshold_rows=10**9)
    e2 = _new_engine(spark, tmp_path, "sm", broadcast_threshold_rows=0)
    e1.replay(log, num_batches=3)
    e2.replay(log, num_batches=3)
    # first batch on empty buckets is insert-only either way; later batches
    # diverge into broadcast vs shuffle paths — results must be identical
    assert _table_state(spark, e1.table) == _table_state(spark, e2.table)
    assert e2.table.properties["last_batch_mode"] in ("shuffle", "insert-only")


def test_dedup_strategies_replay_equal(spark, tmp_path):
    log = generate_changes(spark, 2000, n_keys=100, seed=21)
    states = []
    for strat in ("window", "maxby", "maxjoin", "salted"):
        e = _new_engine(spark, tmp_path, f"ds-{strat}", dedup_strategy=strat)
        e.replay(log, num_batches=2)
        states.append(_table_state(spark, e.table))
    assert all(s == states[0] for s in states)


def test_n_tok_recomputed(spark, tmp_path):
    import datetime as dt

    from dbimport_spark.schema import CHANGE_SCHEMA

    # log carries a WRONG n_tok; engine must recompute size(tokens)
    rows = [(1, "I", "k1", [1, 2, 3], 99, "web", dt.datetime(2024, 1, 1))]
    eng = _new_engine(spark, tmp_path, "t7")
    eng.apply_batch(local_frame(spark, rows, CHANGE_SCHEMA), 0, 1)
    got = eng.table.read(spark).collect()[0]
    assert got["n_tok"] == 3


def test_composite_merge_key_replay(spark, tmp_path):
    """Composite merge key (reference mergeColumns list): replay keyed on
    (doc_id, source) — same doc_id under different sources are independent
    rows; LWW/merge/bucketing all operate on the pair."""
    from pyspark.sql import functions as F

    log = generate_changes(spark, 3000, n_keys=60, seed=51)
    # make source part of identity: deletes must carry it, so re-derive it
    # deterministically from the lsn
    src = F.element_at(
        F.array(F.lit("web"), F.lit("books")),
        (F.pmod(F.col("lsn"), F.lit(2)) + 1).cast("int"),
    )
    log = log.withColumn("source", src)

    payload = log.drop("lsn", "op", "commit_ts").schema
    table = CDCEngine.create_table(
        str(tmp_path / "ck"), payload_schema=payload, num_buckets=8,
        key=["doc_id", "source"],
    )
    eng = CDCEngine(spark, table, key=["doc_id", "source"])
    eng.replay(log, num_batches=3)

    # oracle: LWW fold per (doc_id, source)
    winners: dict = {}
    for ev in sorted([r.asDict() for r in log.collect()], key=lambda e: e["lsn"]):
        k = (ev["doc_id"], ev["source"])
        if ev["op"] == "D":
            winners.pop(k, None)
        else:
            winners[k] = ev
    expected = {
        (k[0], k[1], tuple(ev["tokens"]), ev["n_tok"]) for k, ev in winners.items()
    }
    got = {
        (r["doc_id"], r["source"], tuple(r["tokens"]), r["n_tok"])
        for r in table.read(spark).collect()
    }
    assert got == expected
    # both broadcast and shuffle paths under the composite key
    eng2 = CDCEngine(
        spark, table, key=["doc_id", "source"], broadcast_threshold_rows=0
    )
    log2 = generate_changes(spark, 500, n_keys=60, seed=52, first_lsn=3001).withColumn(
        "source", src
    )
    eng2.apply_batch(log2, 3000, 3500)
    for ev in sorted([r.asDict() for r in log2.collect()], key=lambda e: e["lsn"]):
        k = (ev["doc_id"], ev["source"])
        if ev["op"] == "D":
            winners.pop(k, None)
        else:
            winners[k] = ev
    expected2 = {
        (k[0], k[1], tuple(ev["tokens"]), ev["n_tok"]) for k, ev in winners.items()
    }
    got2 = {
        (r["doc_id"], r["source"], tuple(r["tokens"]), r["n_tok"])
        for r in table.read(spark).collect()
    }
    assert got2 == expected2


def test_repair_keys_hard_and_soft(spark, tmp_path):
    """repair_keys: authoritative key-scoped re-fold over the full log —
    fixes keys whose events were skipped (simulated gap) without moving
    the watermark; soft mode re-materializes tombstones with pre-images."""
    from pyspark.sql import functions as F

    from dbimport_spark.plans.validate import fold_expected, reconcile
    from dbimport_spark.schema import PAYLOAD_COLUMNS

    # broadcast_threshold_rows=0 puts the repair (and the replay) on the
    # bucket-aligned shuffle merge; the default keeps both on broadcast
    for soft, shuffle in itertools.product((False, True), (False, True)):
        name = ("soft" if soft else "hard") + ("-shuffle" if shuffle else "")
        log = generate_changes(spark, 800, n_keys=40, seed=53)
        table = CDCEngine.create_table(
            str(tmp_path / f"rp-{name}"), num_buckets=4, soft_delete=soft
        )
        eng = CDCEngine(
            spark, table, **({"broadcast_threshold_rows": 0} if shuffle else {})
        )
        # simulate an out-of-order gap: a middle window never applied
        eng.replay(log.filter("lsn <= 300"), num_batches=1)
        eng.replay(
            log.filter("lsn > 500"), num_batches=1, allow_log_gap=True
        )
        assert table.last_lsn() == 800

        gap = log.filter("(lsn > 300) and (lsn <= 500)")
        stats = eng.repair_keys(log, gap.select("doc_id").distinct())
        assert stats.mode == "repair"
        assert table.last_lsn() == 800  # watermark untouched

        actual = table.read(spark)
        if soft:
            actual = actual.filter(F.col("dl_delete_ts").isNull())
        rec = reconcile(actual, fold_expected(log), PAYLOAD_COLUMNS)
        assert rec["converged"], (name, rec)
        # repair marker in lineage
        assert table.current().lineage[0].get("repair") is True


def test_repair_keys_appends_history_images(spark, tmp_path):
    """code-review r3: a repair must land its I/U/D row images in the
    history-audit table too — otherwise history silently diverges from the
    live table forever."""
    table = CDCEngine.create_table(str(tmp_path / "rph"), num_buckets=4)
    hist = CDCEngine.create_history_table(str(tmp_path / "rphh"), num_buckets=4)
    eng = CDCEngine(spark, table, history_table=hist)
    log = generate_changes(spark, 600, n_keys=30, seed=59)
    eng.replay(log.filter("lsn <= 200"), num_batches=1)
    eng.replay(log.filter("lsn > 400"), num_batches=1, allow_log_gap=True)
    h_before = hist.read(spark).count()

    gap = log.filter("(lsn > 200) and (lsn <= 400)")
    n_keys = gap.select("doc_id").distinct().count()
    eng.repair_keys(log, gap.select("doc_id").distinct())
    h_after = hist.read(spark)
    # one repaired image per key (the key's LWW winner over the full log)
    assert h_after.count() == h_before + n_keys
    from pyspark.sql import functions as F

    winners = (
        log.join(gap.select("doc_id").distinct(), "doc_id", "left_semi")
        .groupBy("doc_id")
        .agg(F.max("lsn").alias("lsn"))
    )
    got = {
        (r["doc_id"], r["lsn"])
        for r in h_after.join(winners, ["doc_id", "lsn"], "left_semi").collect()
    }
    assert len(got) == n_keys  # every repaired key's winner image landed
