"""Capture .explain('formatted') for the bench-hot query paths.

Usage: python tools/capture_plans.py <outdir> [name ...]

Writes <outdir>/<name>.txt for each captured plan. Names cover the bench
queries, the change-feed and view-feed dataflows, and the four merge
shapes as the frame a real ``CDCEngine.apply_batch`` hands to
``LakeTable.write_data_files``: ``merge_insert_only`` (a window on an
empty table), ``merge_broadcast`` (the default engine),
``merge_shuffle`` (``broadcast_threshold_rows=0``) and ``merge_mor``
(``write_mode="mor"``), one window each on one table.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))


def explain_formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def main() -> None:
    outdir = sys.argv[1]
    wanted = set(sys.argv[2:])
    os.makedirs(outdir, exist_ok=True)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "8"))

    from pyspark.sql import functions as F

    import __spark_entry__ as entry
    from dbimport_spark.plans.engine import CDCEngine
    from dbimport_spark.session import get_spark
    from dbimport_spark.sources.loggen import generate_changes, write_changes

    spark = get_spark(
        app_name="capture-plans",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.parquet.compression.codec": "zstd",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="plans-")
    import atexit

    atexit.register(shutil.rmtree, work, ignore_errors=True)

    plans: dict[str, object] = {}

    # loggen generate (the projection written by loggen_write)
    gen = generate_changes(
        spark, 100_000, n_keys=10_000, seed=42, tokens_min=32,
        tokens_max=128, num_partitions=16,
    )
    plans["loggen_generate"] = gen

    # a replayed table to diff / merge against
    log_path = os.path.join(work, "log")
    write_changes(gen, log_path, presorted=True)
    changes = spark.read.parquet(log_path)
    full = 90_000
    head = changes.filter(F.col("lsn") <= full)
    tail = changes.filter(F.col("lsn") > full)
    tdir = os.path.join(work, "t")
    table = CDCEngine.create_table(tdir, num_buckets=16)
    eng = CDCEngine(spark, table, checkpoint_dir=os.path.join(work, "c"))
    eng.replay(head, num_batches=2)

    # cdf net diff over the incr window
    from dbimport_spark.lake.cdf import table_changes

    eng.apply_batch(tail, full, 100_000)
    v = table.current().version
    plans["cdf_net"] = table_changes(spark, table, v - 1, v)

    # matview incr sync feed -> delta (the pre-apply dataflow)
    from dbimport_spark.plans.matview import AggSpec, create_view

    spec = AggSpec(
        group_cols=["source"], sum_cols=["n_tok"],
        min_cols=["n_tok"], max_cols=["n_tok"],
    )
    try:
        # current tree: the sync path narrows update detection to the
        # view's columns (compare_cols) — capture the real plan
        feed = table_changes(
            spark, table, v - 1, v, include_preimage=True,
            compare_cols=["n_tok", "source"],
        )
    except TypeError:  # round-start tree: no compare_cols param
        feed = table_changes(spark, table, v - 1, v, include_preimage=True)
    from dbimport_spark.plans.matview import _contributions

    plans["matview_feed_delta"] = (
        _contributions(feed, spec)
        .groupBy("source")
        .agg(F.sum("_d_n").alias("_d_n"))
    )

    # the four merge shapes: consecutive windows of the log on one table,
    # each captured where apply_batch hands its frame to the writer
    from dbimport_spark.lake.table import LakeTable

    write = LakeTable.write_data_files
    mt = CDCEngine.create_table(os.path.join(work, "m"), num_buckets=16)
    for name, kw, lo, hi, mode in [
        ("merge_insert_only", {}, 0, 60_000, "insert-only"),
        ("merge_broadcast", {}, 60_000, 70_000, "broadcast"),
        ("merge_shuffle", {"broadcast_threshold_rows": 0}, 70_000, 80_000, "shuffle"),
        ("merge_mor", {"write_mode": "mor"}, 80_000, 90_000, "mor"),
    ]:
        frames = []

        def capture(self, spark, df, *args, _frames=frames, **kwargs):
            _frames.append(df)
            return write(self, spark, df, *args, **kwargs)

        LakeTable.write_data_files = capture
        try:
            window = changes.filter((F.col("lsn") > lo) & (F.col("lsn") <= hi))
            stats = CDCEngine(spark, mt, **kw).apply_batch(window, lo, hi)
        finally:
            LakeTable.write_data_files = write
        assert stats.mode == mode and len(frames) == 1, (name, stats.mode)
        plans[name] = frames[0]

    # operator queries from the entry (bench set)
    for name, fn in [
        ("lww_dedup", entry.q_lww_dedup),
        ("minhash_lsh", entry.q_minhash_lsh),
        ("embedding_sim", entry.q_embedding_sim),
        ("token_count", entry.q_token_count),
        ("token_fingerprints", entry.q_token_fingerprints),
    ]:
        plans[name] = fn(spark, sf_dir)

    for name, df in plans.items():
        if wanted and name not in wanted:
            continue
        with open(os.path.join(outdir, f"{name}.txt"), "w") as fh:
            fh.write(explain_formatted(df))
        print(f"wrote {name}")


if __name__ == "__main__":
    main()
