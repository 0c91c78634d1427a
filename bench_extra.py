"""Extra micro-benchmarks for optimization triage (guide §1.4).

NOT the driver's bench — bench.py stays frozen. This file isolates the
expensive phases of each bench query with the noop sink so the computation
is timed without the sink, and prints one JSON line with the phase
timings. Used to attribute wall time to (generate vs write), (stats agg vs
dedup vs merge vs write), (shingle vs sketch vs band join vs verify), and
the CDF diff join, before and after each optimization.

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default 32),
     BENCH_EXTRA_REPEATS (default 3),
     BENCH_EXTRA_ONLY (comma-separated phase prefixes to run, default all).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    repeats = int(os.environ.get("BENCH_EXTRA_REPEATS", "3"))
    only = [
        s for s in os.environ.get("BENCH_EXTRA_ONLY", "").split(",") if s
    ]
    import re

    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else 0.1
    n_events = max(int(20_000_000 * sf), 10_000)
    n_keys = max(int(2_000_000 * sf), 1_000)

    os.environ.setdefault("SPARK_DRIVER_MEMORY", "24g")
    from pyspark.sql import functions as F

    import __spark_entry__ as entry
    from dbimport_spark.plans.engine import CDCEngine
    from dbimport_spark.session import get_spark
    from dbimport_spark.sources.loggen import generate_changes, write_changes

    shm = "/dev/shm" if os.path.isdir("/dev/shm") else None
    shm_dir = tempfile.mkdtemp(prefix="benchx-sl-", dir=shm) if shm else None
    spark = get_spark(
        app_name="dbimport-bench-extra",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.io.compression.codec": "zstd",
            "spark.sql.parquet.compression.codec": "zstd",
            **({"spark.local.dir": shm_dir} if shm_dir else {}),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="benchx-")
    import atexit

    atexit.register(shutil.rmtree, work, ignore_errors=True)
    if shm_dir:
        atexit.register(shutil.rmtree, shm_dir, ignore_errors=True)

    runs: dict[str, list[float]] = {}

    def wanted(name: str) -> bool:
        return not only or any(name.startswith(p) for p in only)

    def sample(name, fn):
        if not wanted(name):
            return None
        spark.sparkContext.setJobDescription(name)
        t0 = time.time()
        out = fn()
        runs.setdefault(name, []).append(round(time.time() - t0, 3))
        spark.sparkContext.setJobDescription(None)
        return out

    # warmup (same shape as bench.py's)
    warm_path = os.path.join(work, "warmup")
    write_changes(
        generate_changes(spark, 50_000, n_keys=5_000, seed=1,
                         tokens_min=32, tokens_max=128, num_partitions=8),
        warm_path, presorted=True,
    )
    warm_tdir = os.path.join(work, "warmup-table")
    warm_eng = CDCEngine(spark, CDCEngine.create_table(warm_tdir, num_buckets=8))
    warm_eng.replay(spark.read.parquet(warm_path), num_batches=2)
    shutil.rmtree(warm_tdir, ignore_errors=True)

    gen_kw = dict(
        n_keys=n_keys, seed=42, tokens_min=32, tokens_max=128,
        num_partitions=max(cpus * 2, 16),
    )

    # -- loggen: compute-only vs compute+write --------------------------------
    log_path = os.path.join(work, "log")
    for i in range(repeats):
        sample(
            "loggen_compute_noop",
            lambda: noop(generate_changes(spark, n_events, **gen_kw)),
        )
    sample(
        "loggen_write_full",
        lambda: write_changes(
            generate_changes(spark, n_events, **gen_kw), log_path,
            presorted=True,
        ),
    )

    changes = spark.read.parquet(log_path)
    full = int(n_events * 0.9)
    head = changes.filter(F.col("lsn") <= full)
    tail = changes.filter(F.col("lsn") > full)

    # -- replay timings ------------------------------------------------------
    for i in range(repeats):
        if not wanted("replay"):
            break
        tdir = os.path.join(work, f"t-{i}")
        cdir = os.path.join(work, f"c-{i}")
        table = CDCEngine.create_table(tdir, num_buckets=max(cpus * 2, 32))
        eng = CDCEngine(spark, table, checkpoint_dir=cdir)
        sample("replay_full", lambda: eng.replay(head, num_batches=2))
        sample("replay_incr", lambda: eng.apply_batch(tail, full, n_events))
        # cdf over the incr window
        from dbimport_spark.lake.cdf import table_changes

        v = table.current().version
        sample(
            "cdf_net_count",
            lambda: table_changes(spark, table, v - 1, v).count(),
        )
        # matview bootstrap + incr (same spec as bench.py)
        from dbimport_spark.plans.matview import AggSpec, create_view, sync_view

        spec = AggSpec(
            group_cols=["source"], sum_cols=["n_tok"],
            min_cols=["n_tok"], max_cols=["n_tok"],
        )
        vdir = os.path.join(work, f"v-{i}")
        veng = CDCEngine(spark, create_view(vdir, table, spec, num_buckets=8))
        sample("matview_boot", lambda: sync_view(spark, table, veng, spec))
        shutil.rmtree(vdir, ignore_errors=True)
        shutil.rmtree(tdir, ignore_errors=True)
        shutil.rmtree(cdir, ignore_errors=True)

    # -- dedup phases over the head window (noop sink) ------------------------
    from dbimport_spark.operators.dedup import dedup_lww

    for i in range(repeats):
        sample("dedup_lww_noop", lambda: noop(dedup_lww(head.drop("commit_ts"))))

    # -- minhash phases -------------------------------------------------------
    from dbimport_spark.operators.text_dedup import (
        jaccard_for_pairs,
        lsh_candidate_pairs,
        minhash_lsh_dedup,
        minhash_signatures,
        word_shingles,
    )

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    for i in range(repeats):
        sample("minhash_shingles_noop", lambda: noop(word_shingles(docs, n=3)))
        sample(
            "minhash_sigs_noop",
            lambda: noop(minhash_signatures(word_shingles(docs, n=3), num_perm=32)),
        )
        sample(
            "minhash_full_count",
            lambda: minhash_lsh_dedup(
                docs, n=3, num_perm=32, bands=8, min_permille=100
            ).count(),
        )

    best = {k: min(v) for k, v in runs.items()}
    print(json.dumps({"phases": best, "runs": runs, "sf": sf}))


if __name__ == "__main__":
    main()
