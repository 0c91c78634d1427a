"""Per-column anonymization wired into the ingest path (VERDICT r4 #2;
reference import_operations.py:1383-1395, per-column masks driven by
import_columns.anonymization_function, configSchema.py:938): every batch is
masked inside the engine's shared alignment rule, so the lake only ever
holds masked values — replay, resume, change detection and the registry
sweep all see the masked world consistently."""

import hashlib

import pytest
from pyspark.sql import functions as F

from dbimport_spark.plans.engine import CDCEngine
from dbimport_spark.schema import PAYLOAD_COLUMNS
from dbimport_spark.session import local_frame
from dbimport_spark.sources.loggen import generate_changes
from tests.oracle import as_tuple_set, lww_fold


def _sha(s: str, salt: str = "") -> str:
    return hashlib.sha256((salt + s).encode()).hexdigest()


def _mask_first4(s: str) -> str:
    return s[:4] + "*" * max(0, len(s) - 4)


def test_masked_replay_converges_to_masked_oracle(spark, tmp_path):
    """Replay with anonymize={'source': 'first4'}: the table converges to
    the pure-Python LWW fold with the SAME mask applied — and no plaintext
    value survives anywhere in the table."""
    log = generate_changes(spark, 3000, n_keys=150, seed=21)
    table = CDCEngine.create_table(str(tmp_path / "t"), num_buckets=4)
    eng = CDCEngine(spark, table, anonymize={"source": "first4"})
    eng.replay(log, num_batches=3)

    expected = lww_fold([r.asDict() for r in log.collect()])
    for row in expected.values():
        if row.get("source") is not None:
            row["source"] = _mask_first4(row["source"])
    got = as_tuple_set(
        [r.asDict() for r in table.read(spark).collect()], PAYLOAD_COLUMNS
    )
    assert got == as_tuple_set(list(expected.values()), PAYLOAD_COLUMNS)


def test_masked_merge_key_stays_consistent(spark, tmp_path):
    """Masking the MERGE KEY with the salted hash: bucket placement and
    LWW identity both ride the masked key, deterministically — a
    multi-batch replay still converges (updates find their prior rows)
    and distinct keys stay distinct."""
    log = generate_changes(spark, 2000, n_keys=100, seed=23)
    table = CDCEngine.create_table(str(tmp_path / "t"), num_buckets=4)
    eng = CDCEngine(
        spark, table, anonymize={"doc_id": "hash"}, anonymize_salt="pepper"
    )
    eng.replay(log, num_batches=4)

    expected = lww_fold([r.asDict() for r in log.collect()])
    masked_expected = []
    for row in expected.values():
        row = dict(row)
        row["doc_id"] = _sha(row["doc_id"], "pepper")
        masked_expected.append(row)
    got = as_tuple_set(
        [r.asDict() for r in table.read(spark).collect()], PAYLOAD_COLUMNS
    )
    assert got == as_tuple_set(masked_expected, PAYLOAD_COLUMNS)
    # distinctness preserved: one row per surviving key
    assert len(got) == len(masked_expected)


def test_mask_is_change_detection_transparent(spark, tmp_path):
    """A deterministic mask keeps unchanged rows unchanged: re-stating the
    same plaintext payload masks to the same masked payload, so change
    detection leaves the audit state alone; new plaintext content still
    registers as an update."""
    import datetime as dt

    from dbimport_spark.schema import CHANGE_SCHEMA

    table = CDCEngine.create_table(str(tmp_path / "t"), num_buckets=2)
    eng = CDCEngine(spark, table, anonymize={"source": "hash"})
    rows = [
        (1, "I", "k1", [1], 1, "web", dt.datetime(2024, 1, 1)),
        (2, "I", "k2", [2], 1, "mail", dt.datetime(2024, 1, 1)),
    ]
    eng.apply_batch(local_frame(spark, rows, CHANGE_SCHEMA), 0, 2)
    rows2 = [
        (3, "U", "k1", [1], 1, "forum", dt.datetime(2024, 2, 1)),  # changed
        (4, "U", "k2", [2], 1, "mail", dt.datetime(2024, 2, 1)),  # re-stated
    ]
    eng.apply_batch(local_frame(spark, rows2, CHANGE_SCHEMA), 2, 4)
    got = {r["doc_id"]: r.asDict() for r in table.read(spark).collect()}
    assert got["k1"]["dl_iud"] == "U"
    assert got["k1"]["source"] == _sha("forum")
    assert got["k2"]["dl_iud"] == "I"  # unchanged under the mask
    assert got["k2"]["dl_update_ts"] == got["k2"]["dl_insert_ts"]


def test_mask_applies_on_resume_and_idempotent_reapply(spark, tmp_path):
    """A killed-and-resumed masked replay and a duplicate re-apply both
    leave exactly the masked converged state (the mask lives in the
    alignment rule, so every path masks identically)."""
    log = generate_changes(spark, 2000, n_keys=100, seed=29)
    table = CDCEngine.create_table(str(tmp_path / "t"), num_buckets=4)
    ck = str(tmp_path / "ck")
    rules = {"source": "star"}
    eng = CDCEngine(spark, table, checkpoint_dir=ck, anonymize=rules)
    eng.replay(log, num_batches=4, stop_after=2)
    eng2 = CDCEngine(spark, table, checkpoint_dir=ck, anonymize=rules)
    eng2.replay(log, num_batches=4)
    # duplicate re-apply of the last window is a watermark no-op
    stats = eng2.apply_batch(log.filter(F.col("lsn") > 1500), 1500, 2000)
    assert stats.skipped

    expected = lww_fold([r.asDict() for r in log.collect()])
    for row in expected.values():
        if row.get("source") is not None:
            row["source"] = "*" * len(row["source"])
    got = as_tuple_set(
        [r.asDict() for r in table.read(spark).collect()], PAYLOAD_COLUMNS
    )
    assert got == as_tuple_set(list(expected.values()), PAYLOAD_COLUMNS)


def test_mask_refusals(spark, tmp_path):
    """Unknown mask names refuse at construction; masking a non-string
    table column refuses loudly at apply (masked values are strings)."""
    table = CDCEngine.create_table(str(tmp_path / "t"), num_buckets=2)
    with pytest.raises(ValueError, match="unknown anonymization"):
        CDCEngine(spark, table, anonymize={"source": "rot13"})

    eng = CDCEngine(spark, table, anonymize={"n_tok": "hash"})
    log = generate_changes(spark, 100, n_keys=10, seed=5)
    with pytest.raises(ValueError, match="must be declared string"):
        eng.apply_batch(log, 0, 100)
