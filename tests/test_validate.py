import math

from dbimport_spark.plans.engine import CDCEngine
from dbimport_spark.plans.lineage import (
    lineage_history,
    per_bucket_offsets,
    table_totals,
)
from dbimport_spark.plans.validate import (
    diff_rows,
    fold_expected,
    reconcile,
    rowcount_tolerance,
    validate_rowcount,
)
from dbimport_spark.schema import PAYLOAD_COLUMNS
from dbimport_spark.session import local_frame
from dbimport_spark.sources.loggen import generate_changes


def test_tolerance_formula():
    # reference auto formula: rows * (50 / (100 * sqrt(rows)))
    assert rowcount_tolerance(10000) == 10000 * (50 / (100 * math.sqrt(10000)))
    assert rowcount_tolerance(0) == 0.0
    assert rowcount_tolerance(123, allowed=5) == 5.0
    assert validate_rowcount(10050, 10000)
    assert not validate_rowcount(11000, 10000)
    # strict case used by our tests
    assert validate_rowcount(100, 100, allowed=0)


def test_reconcile_and_lineage(spark, tmp_path):
    log = generate_changes(spark, 2500, n_keys=150, seed=31)
    root = str(tmp_path / "t")
    table = CDCEngine.create_table(root, num_buckets=8)
    eng = CDCEngine(spark, table)
    stats = eng.replay(log, num_batches=3)

    expected = fold_expected(log)
    actual = table.read(spark)
    rec = reconcile(actual, expected, PAYLOAD_COLUMNS)
    assert rec["converged"], rec
    assert diff_rows(actual, expected, PAYLOAD_COLUMNS).count() == 0

    # lineage: every applied batch recorded per bucket, stamped in-snapshot
    hist = lineage_history(table)
    assert len(hist) > 0
    assert sum(r["events"] for r in hist) == 2500
    assert all(r["first_lsn"] <= r["last_lsn"] for r in hist)
    assert all(r["bytes"] >= 0 for r in hist)

    totals = table_totals(table)
    assert totals["rows"] == actual.count()
    assert totals["last_lsn"] == 2500
    assert totals["bytes"] > 0

    offs = per_bucket_offsets(table)
    assert len(offs) > 0
    assert max(offs.values()) == 2500  # global watermark = max bucket offset
    assert all(v > 0 for v in offs.values())


def test_checksum_detects_content_drift(spark, tmp_path):
    log = generate_changes(spark, 500, n_keys=50, seed=37)
    root = str(tmp_path / "t2")
    table = CDCEngine.create_table(root, num_buckets=4)
    CDCEngine(spark, table).replay(log)
    expected = fold_expected(log)
    # corrupt one row's tokens
    from pyspark.sql import functions as F

    drifted = expected.withColumn(
        "tokens",
        F.when(F.col("doc_id") == expected.first()["doc_id"], F.array(F.lit(0))).otherwise(
            F.col("tokens")
        ),
    )
    rec = reconcile(table.read(spark), drifted, PAYLOAD_COLUMNS)
    assert rec["rowcount_ok"] and not rec["checksum_ok"]


def test_incremental_scope_validation(spark, tmp_path):
    """Window-scoped reconcile (reference incr_validation_method): checks
    only keys touched by (lo, hi], converges per batch, and catches drift
    inside the window while ignoring rows outside it."""
    from dbimport_spark.plans.validate import reconcile_incremental

    log = generate_changes(spark, 2000, n_keys=150, seed=41)
    root = str(tmp_path / "ti")
    table = CDCEngine.create_table(root, num_buckets=4)
    eng = CDCEngine(spark, table)
    eng.replay(log.filter("lsn <= 1000"), num_batches=1)

    rec = reconcile_incremental(
        table.read(spark), log, 500, 1000, payload_cols=PAYLOAD_COLUMNS
    )
    assert rec["converged"] and rec["scope"]["keys"] > 0
    # the scope is a strict subset of the table when the window is partial
    assert rec["rows_actual"] <= table.read(spark).count()

    # apply the rest; the second window validates against fold<=2000
    eng.replay(log, num_batches=1)
    rec2 = reconcile_incremental(
        table.read(spark), log, 1000, 2000, payload_cols=PAYLOAD_COLUMNS
    )
    assert rec2["converged"]


def test_checksum_catches_even_multiplicity_swap(spark):
    """{A, A, C} vs {B, B, C}: equal counts, and under the old XOR fold
    the duplicated rows cancelled — both sides hashed to C alone and a
    duplicate+drop reconciled as converged. The sum fold must differ."""
    from dbimport_spark.plans.validate import reconcile

    a = local_frame(spark, [("A", 1), ("A", 1), ("C", 3)], "k string, v int")
    e = local_frame(spark, [("B", 2), ("B", 2), ("C", 3)], "k string, v int")
    rec = reconcile(a, e, ["k", "v"])
    assert rec["rowcount_ok"] and not rec["checksum_ok"]
    assert not rec["converged"]


def test_reconcile_type_widening_converges(spark):
    """xxhash64 is type-sensitive: a table whose column widened int->long
    must still reconcile against a fold producing the original int."""
    from dbimport_spark.plans.validate import reconcile

    actual = local_frame(spark, [("a", 5)], "k string, v long")
    expected = local_frame(spark, [("a", 5)], "k string, v int")
    rec = reconcile(actual, expected, ["k", "v"])
    assert rec["converged"], rec
