"""Integration stress: schema evolution + hot-key skew + kill/resume +
multi-batch replay interacting in ONE run, checked against the Spark fold
oracle (validate.fold_expected handles the evolved column too)."""

from pyspark.sql import functions as F

from dbimport_spark.plans.engine import CDCEngine
from dbimport_spark.plans.lineage import lineage_history, per_bucket_offsets
from dbimport_spark.plans.validate import diff_rows, fold_expected, reconcile
from dbimport_spark.sources.loggen import generate_changes

COLS = ["doc_id", "tokens", "n_tok", "source", "quality_score"]


def test_evolution_skew_resume_combined(spark, tmp_path):
    evolve_at = 6000
    full = generate_changes(
        spark,
        12_000,
        n_keys=400,
        seed=99,
        hot_key_fraction=0.01,
        hot_event_fraction=0.4,
        evolve_at_lsn=evolve_at,
    )
    old = full.filter(F.col("lsn") <= evolve_at).drop("quality_score")
    new = full.filter(F.col("lsn") > evolve_at)

    root = str(tmp_path / "t")
    table = CDCEngine.create_table(root, num_buckets=8)
    eng = CDCEngine(
        spark,
        table,
        checkpoint_dir=str(tmp_path / "ck"),
        broadcast_threshold_rows=3_000,  # mixes broadcast and shuffle paths
    )
    # phase 1: pre-evolution segment, killed mid-replay
    eng.replay(old, num_batches=4, stop_after=2)
    # resume with a FRESH engine (restart) and finish phase 1
    eng2 = CDCEngine(
        spark,
        table,
        checkpoint_dir=str(tmp_path / "ck"),
        broadcast_threshold_rows=3_000,
    )
    eng2.replay(old, num_batches=4)
    assert table.last_lsn() == evolve_at
    assert "quality_score" not in table.current().schema.fieldNames()

    # phase 2: evolved segment through a new checkpoint dir (new log window)
    eng3 = CDCEngine(
        spark,
        table,
        checkpoint_dir=str(tmp_path / "ck2"),
        broadcast_threshold_rows=3_000,
    )
    eng3.replay(new, num_batches=3)
    assert table.last_lsn() == 12_000
    assert "quality_score" in table.current().schema.fieldNames()

    # convergence incl. evolved column (generator nulls it below evolve_at,
    # matching what old files read as through the evolved schema)
    expected = fold_expected(full, payload_cols=COLS)
    actual = table.read(spark)
    rec = reconcile(actual, expected, COLS)
    if not rec["converged"]:
        diff_rows(actual, expected, COLS).show(10, truncate=False)
    assert rec["converged"], rec

    # lineage + offsets stayed coherent across restart and evolution
    offs = per_bucket_offsets(table)
    assert max(offs.values()) == 12_000
    hist = lineage_history(table)
    assert sum(r["events"] for r in hist) == 12_000
