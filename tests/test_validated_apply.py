"""Pre-commit batch validation (write-audit-publish): validators run
against the staged-but-uncommitted files; a rejection discards them and
leaves the table — watermark included — byte-untouched for retry. The
reference's staging-validate-publish stages (import_operations.py
validate stages 1050/3505) expressed through the lake's atomic commit."""

import pytest
from pyspark.sql import functions as F

from dbimport_spark.lake.maintenance import remove_orphan_files
from dbimport_spark.plans.engine import CDCEngine
from dbimport_spark.plans.validate import (
    ValidationFailed,
    max_delete_fraction,
    staged_not_null,
    staged_rowcount,
)
from dbimport_spark.schema import PAYLOAD_COLUMNS
from dbimport_spark.session import local_frame
from dbimport_spark.sources.loggen import generate_changes
from tests.oracle import as_tuple_set, lww_fold


def _engine(spark, tmp_path, name, **kw):
    root = str(tmp_path / name)
    table = CDCEngine.create_table(root, num_buckets=4)
    return CDCEngine(spark, table, checkpoint_dir=f"{root}/_ckpt", **kw)


def _state(spark, table):
    return as_tuple_set(
        [r.asDict() for r in table.read(spark).collect()], PAYLOAD_COLUMNS
    )


def test_rejection_leaves_table_untouched(spark, tmp_path):
    log = generate_changes(spark, 1500, n_keys=100, seed=6)
    eng = _engine(spark, tmp_path, "t1")
    eng.replay(log.filter("lsn <= 1000"), num_batches=1)
    v_before = eng.table.current().version
    wm_before = eng.table.last_lsn()
    state_before = _state(spark, eng.table)

    def reject(staged, info):
        raise ValidationFailed("nope")

    guarded = CDCEngine(
        spark, eng.table, checkpoint_dir=f"{tmp_path}/t1/_ckpt",
        validators=[reject],
    )
    with pytest.raises(ValidationFailed):
        guarded.replay(log, num_batches=1)
    assert eng.table.current().version == v_before
    assert eng.table.last_lsn() == wm_before
    assert _state(spark, eng.table) == state_before
    # staged files were discarded; nothing for GC either
    assert remove_orphan_files(eng.table, older_than_seconds=0) == 0
    # after removing the guard, the same window replays cleanly
    eng.replay(log, num_batches=1)
    want = as_tuple_set(
        list(lww_fold([r.asDict() for r in log.collect()]).values()),
        PAYLOAD_COLUMNS,
    )
    assert _state(spark, eng.table) == want


def test_passing_validators_do_not_change_result(spark, tmp_path):
    log = generate_changes(spark, 1200, n_keys=80, seed=7)
    plain = _engine(spark, tmp_path, "p")
    checked = _engine(
        spark, tmp_path, "c",
        validators=[
            staged_not_null(["doc_id"]),
            staged_rowcount(lambda info: info["out_rows"]),
        ],
    )
    plain.replay(log, num_batches=3)
    checked.replay(log, num_batches=3)
    assert _state(spark, plain.table) == _state(spark, checked.table)


def test_max_delete_fraction_guard(spark, tmp_path):
    import pyspark.sql.types as T

    schema = T.StructType(
        [
            T.StructField("lsn", T.LongType(), False),
            T.StructField("op", T.StringType(), False),
            T.StructField("doc_id", T.StringType(), False),
            T.StructField("tokens", T.ArrayType(T.IntegerType()), True),
            T.StructField("n_tok", T.IntegerType(), True),
            T.StructField("source", T.StringType(), True),
        ]
    )
    keys = [f"k{i}" for i in range(20)]
    inserts = local_frame(
        spark,
        [(i + 1, "I", k, [1], 1, "s") for i, k in enumerate(keys)], schema
    )
    # a "truncated upstream": deletes for 80% of the keys in one window
    deletes = local_frame(
        spark,
        [(100 + i, "D", k, None, None, None) for i, k in enumerate(keys[:16])],
        schema,
    )
    eng = _engine(
        spark, tmp_path, "d", validators=[max_delete_fraction(0.5)]
    )
    eng.apply_batch(inserts, 0, 20)
    with pytest.raises(ValidationFailed, match="refusing to publish"):
        eng.apply_batch(deletes, 20, 200)
    assert eng.table.read(spark).count() == 20  # untouched
    # the intended mass delete goes through at a higher threshold
    relaxed = CDCEngine(
        spark, eng.table, validators=[max_delete_fraction(0.9)]
    )
    relaxed.apply_batch(deletes, 20, 200)
    assert relaxed.table.read(spark).count() == 4


def test_mor_rejection_leaves_no_delta_files(spark, tmp_path):
    log = generate_changes(spark, 1500, n_keys=100, seed=8)
    eng = _engine(spark, tmp_path, "m", write_mode="mor")
    eng.replay(log.filter("lsn <= 1000"), num_batches=1)

    def reject(staged, info):
        if info["mode"] == "mor":
            raise ValidationFailed("mor window rejected")

    guarded = CDCEngine(
        spark, eng.table, checkpoint_dir=f"{tmp_path}/m/_ckpt",
        write_mode="mor", validators=[reject],
    )
    with pytest.raises(ValidationFailed):
        guarded.replay(log, num_batches=1)
    assert all(f.kind == "base" for f in eng.table.current().files)
    assert remove_orphan_files(eng.table, older_than_seconds=0) == 0
