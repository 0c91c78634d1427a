"""Soft-delete mode (reference etl_operations.py:624-638) and the
history-audit append table (etl_operations.py:319-360, J5 enrichment)."""

import datetime as dt

from pyspark.sql import functions as F

from dbimport_spark.plans.engine import CDCEngine
from dbimport_spark.schema import CHANGE_SCHEMA
from dbimport_spark.session import local_frame
from dbimport_spark.sources.loggen import generate_changes


def _log(spark, rows):
    return local_frame(spark, rows, CHANGE_SCHEMA)


def test_soft_delete_marks_and_revives(spark, tmp_path):
    root = str(tmp_path / "soft")
    table = CDCEngine.create_table(root, num_buckets=4, soft_delete=True)
    eng = CDCEngine(spark, table, delete_mode="soft")

    eng.apply_batch(
        _log(
            spark,
            [
                (1, "I", "k1", [1], 1, "web", dt.datetime(2024, 1, 1)),
                (2, "I", "k2", [2], 1, "web", dt.datetime(2024, 1, 1)),
            ],
        ),
        0,
        2,
    )
    # soft-delete k1
    eng.apply_batch(
        _log(spark, [(3, "D", "k1", None, None, None, dt.datetime(2024, 2, 1))]), 2, 3
    )
    got = {r["doc_id"]: r.asDict() for r in table.read(spark).collect()}
    assert set(got) == {"k1", "k2"}  # row kept
    assert got["k1"]["dl_iud"] == "D"
    assert got["k1"]["dl_delete_ts"] is not None
    assert got["k1"]["tokens"] == [1]  # payload preserved
    assert got["k2"]["dl_delete_ts"] is None

    # revive k1 with same content: undelete → 'U', delete_ts cleared
    eng.apply_batch(
        _log(spark, [(4, "I", "k1", [1], 1, "web", dt.datetime(2024, 3, 1))]), 3, 4
    )
    got = {r["doc_id"]: r.asDict() for r in table.read(spark).collect()}
    assert got["k1"]["dl_iud"] == "U"
    assert got["k1"]["dl_delete_ts"] is None


def test_soft_delete_batching_invariance(spark, tmp_path):
    """I then D inside ONE batch must equal I and D in separate batches:
    the pre-image lands as a dead row either way (the *_lv mechanism)."""
    rows = [
        (1, "I", "k1", [7, 8], 2, "web", dt.datetime(2024, 1, 1)),
        (2, "D", "k1", None, None, None, dt.datetime(2024, 1, 2)),
        # update then delete, same batch: dead row must carry the UPDATE
        (3, "I", "k2", [1], 1, "web", dt.datetime(2024, 1, 1)),
        (4, "U", "k2", [2, 2], 2, "code", dt.datetime(2024, 1, 2)),
        (5, "D", "k2", None, None, None, dt.datetime(2024, 1, 3)),
    ]
    states = []
    for nb, name in ((1, "one"), (5, "many")):
        table = CDCEngine.create_table(
            str(tmp_path / f"bi-{name}"), num_buckets=4, soft_delete=True
        )
        eng = CDCEngine(spark, table, delete_mode="soft")
        eng.replay(_log(spark, rows), num_batches=nb)
        got = {
            r["doc_id"]: (tuple(r["tokens"]), r["n_tok"], r["source"], r["dl_iud"])
            for r in table.read(spark).collect()
        }
        states.append(got)
    assert states[0] == states[1]
    assert states[0]["k1"] == ((7, 8), 2, "web", "D")
    assert states[0]["k2"] == ((2, 2), 2, "code", "D")


def test_soft_delete_replay_both_modes(spark, tmp_path):
    log = generate_changes(spark, 2000, n_keys=100, seed=33)
    soft_t = CDCEngine.create_table(str(tmp_path / "s"), num_buckets=8, soft_delete=True)
    hard_t = CDCEngine.create_table(str(tmp_path / "h"), num_buckets=8)
    CDCEngine(spark, soft_t, delete_mode="soft", broadcast_threshold_rows=0).replay(
        log, num_batches=3
    )
    CDCEngine(spark, hard_t).replay(log, num_batches=3)
    soft_live = soft_t.read(spark).filter(F.col("dl_iud") != "D")
    hard = hard_t.read(spark)
    cols = ["doc_id", "tokens", "n_tok", "source"]
    assert soft_live.count() == hard.count()
    assert (
        soft_live.select(*cols).exceptAll(hard.select(*cols)).count() == 0
    )
    # deleted keys remain visible in soft mode
    assert soft_t.read(spark).count() >= hard.count()


def test_history_audit_append(spark, tmp_path):
    root = str(tmp_path / "t")
    table = CDCEngine.create_table(root, num_buckets=4)
    hist = CDCEngine.create_history_table(str(tmp_path / "hist"), num_buckets=4)
    eng = CDCEngine(spark, table, history_table=hist)

    eng.apply_batch(
        _log(
            spark,
            [
                (1, "I", "k1", [1], 1, "web", dt.datetime(2024, 1, 1)),
                (2, "I", "k2", [9, 9], 2, "web", dt.datetime(2024, 1, 1)),
            ],
        ),
        0,
        2,
    )
    eng.apply_batch(
        _log(
            spark,
            [
                (3, "U", "k1", [5], 1, "code", dt.datetime(2024, 2, 1)),
                (4, "D", "k2", None, None, None, dt.datetime(2024, 2, 1)),
            ],
        ),
        2,
        4,
    )
    rows = {(r["doc_id"], r["lsn"]): r.asDict() for r in hist.read(spark).collect()}
    assert len(rows) == 4  # every applied event audited
    assert rows[("k1", 3)]["op"] == "U" and rows[("k1", 3)]["tokens"] == [5]
    # J5 enrichment: the delete image carries the pre-delete payload
    assert rows[("k2", 4)]["op"] == "D"
    assert rows[("k2", 4)]["tokens"] == [9, 9]
    assert hist.last_lsn() == 4

    # exactly-once: re-applying the committed window appends nothing
    eng.apply_batch(
        _log(spark, [(3, "U", "k1", [5], 1, "code", dt.datetime(2024, 2, 1))]), 2, 4
    )
    assert hist.read(spark).count() == 4
