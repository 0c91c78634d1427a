"""Physical-plan shape assertions — the .explain() contract.

These pin the scale-defining plan properties so a refactor can't silently
regress them:
- parquet scans get filter pushdown + column pruning;
- the broadcast merge never shuffles the target (BroadcastHashJoin only,
  zero Exchange on the plan);
- the bucket-aligned shuffle plan has exactly one exchange per side —
  dedup, join, and write all reuse the same HashPartitioning;
- whole-stage codegen covers the hot path.
"""

import io
from contextlib import redirect_stdout

from pyspark.sql import functions as F

from dbimport_spark.operators.dedup import dedup_lww
from dbimport_spark.operators.merge import merge_changes
from dbimport_spark.plans.engine import CDCEngine
from dbimport_spark.session import local_frame
from dbimport_spark.sources.loggen import generate_changes, write_changes


def explain_str(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def test_parquet_pushdown_and_pruning(spark, tmp_path):
    path = str(tmp_path / "log")
    write_changes(generate_changes(spark, 1000, n_keys=50, seed=1), path, 4)
    df = (
        spark.read.parquet(path)
        .filter((F.col("lsn") > 100) & (F.col("lsn") <= 300))
        .select("lsn", "doc_id")
    )
    plan = explain_str(df)
    assert "PushedFilters" in plan
    assert "GreaterThan(lsn,100)" in plan and "LessThanOrEqual(lsn,300)" in plan
    # column pruning: tokens (the wide column) must NOT be in ReadSchema
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "tokens" not in read_schema
    assert "lsn" in read_schema and "doc_id" in read_schema


def test_broadcast_merge_never_shuffles_target(spark, tmp_path):
    log = generate_changes(spark, 2000, n_keys=100, seed=2)
    table = CDCEngine.create_table(str(tmp_path / "t"), num_buckets=8)
    eng = CDCEngine(spark, table)
    eng.replay(log.filter("lsn <= 1500"), num_batches=1)

    target = table.read(spark)
    batch = dedup_lww(log.filter("lsn > 1500").drop("commit_ts"))
    merged = merge_changes(
        target,
        batch,
        "doc_id",
        ["doc_id", "tokens", "n_tok", "source"],
        F.current_timestamp(),
        mode="broadcast",
    )
    plan = explain_str(merged)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # the target is streamed: no hash/range exchange anywhere in the plan
    # (broadcast exchanges are expected; data exchanges are not)
    assert "Exchange hashpartitioning" not in plan
    assert "Exchange rangepartitioning" not in plan


def test_bucket_plan_single_exchange_per_side(spark, tmp_path):
    log = generate_changes(spark, 2000, n_keys=100, seed=3)
    table = CDCEngine.create_table(str(tmp_path / "t"), num_buckets=8)
    eng = CDCEngine(spark, table)
    eng.replay(log.filter("lsn <= 1500"), num_batches=1)

    bexpr = F.pmod(F.xxhash64(F.col("doc_id")), F.lit(8)).cast("int")
    batch_b = (
        log.filter("lsn > 1500")
        .drop("commit_ts")
        .withColumn("_bucket", bexpr)
        .repartition(8, "_bucket")
    )
    deduped = dedup_lww(batch_b, key=["_bucket", "doc_id"])
    # the LWW max_by: a SortAggregate on (_bucket, key) that rides the
    # repartition — no exchange of its own
    dplan = explain_str(deduped, "simple")
    assert "SortAggregate" in dplan
    assert dplan.count("Exchange hashpartitioning") == 1

    target_b = table.read(spark).withColumn("_bucket", bexpr).repartition(8, "_bucket")
    out = merge_changes(
        target_b,
        deduped,
        "doc_id",
        ["doc_id", "tokens", "n_tok", "source"],
        F.current_timestamp(),
        mode="shuffle",
        bucket_col="_bucket",
    )
    plan = explain_str(out, "simple")
    # the dedup and the full-outer join ride the explicit per-side
    # exchanges: two exchanges, shuffled-hash (build = batch), and the one
    # sort is the dedup's aggregation sort — the target is never sorted
    assert plan.count("Exchange hashpartitioning") == 2
    assert "ShuffledHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("+- Sort ") == 1


def _plan_nodes(plan: str):
    """(depth, text) per operator line of a "simple" physical plan."""
    body = plan.split("== Physical Plan ==", 1)[-1].strip().splitlines()
    return [(len(l) - len(l.lstrip(" :|+-")), l.lstrip(" :|+-")) for l in body]


def _streamed_below(nodes, i):
    """Operator lines under node ``i`` whose rows stream up into it: the
    subtree minus every BroadcastExchange subtree (a broadcast build is
    collected to the driver, never shuffled)."""
    depth, out, skip = nodes[i][0], [], None
    for d, text in nodes[i + 1 :]:
        if d <= depth:
            break
        if skip is not None and d > skip:
            continue
        skip = d if text.startswith("BroadcastExchange") else None
        if skip is None:
            out.append(text)
    return out


def test_mor_write_plan_reads_narrow_and_never_shuffles_target(
    spark, tmp_path, monkeypatch
):
    """The frame a hard-mode merge-on-read apply hands to the writer scans
    the touched buckets only for the narrow probe (keys + dl_insert_ts,
    never the token arrays), and no table scan streams into a hash
    exchange: the only hash exchanges sit in the batch's LWW dedup and
    the batch-sized output repartition."""
    from dbimport_spark.lake.table import LakeTable

    log = generate_changes(spark, 2000, n_keys=100, seed=5)
    table = CDCEngine.create_table(str(tmp_path / "t"), num_buckets=8)
    eng = CDCEngine(spark, table, write_mode="mor")
    eng.apply_batch(log.filter("lsn <= 1500"), 0, 1500)  # insert-only base

    captured = []
    write = LakeTable.write_data_files

    def capture(self, spark, df, *args, **kwargs):
        captured.append(df)
        return write(self, spark, df, *args, **kwargs)

    monkeypatch.setattr(LakeTable, "write_data_files", capture)
    assert eng.apply_batch(log.filter("lsn > 1500"), 1500, 2000).mode == "mor"
    assert len(captured) == 1

    conf = "spark.sql.maxMetadataStringLength"  # keep scan locations whole
    old = spark.conf.get(conf)
    spark.conf.set(conf, "100000")
    try:
        nodes = _plan_nodes(explain_str(captured[0], "simple"))
    finally:
        spark.conf.set(conf, old)
    scans = [t for _, t in nodes if t.startswith("FileScan")]
    assert scans and all(f"file:{table.root}" in t for t in scans), scans
    for t in scans:
        assert "ReadSchema: struct<doc_id:string,dl_insert_ts:timestamp>" in t, t
    exchanges = [
        i for i, (_, t) in enumerate(nodes)
        if t.startswith("Exchange hashpartitioning")
    ]
    assert exchanges
    for i in exchanges:
        below = _streamed_below(nodes, i)
        assert not any(t.startswith("FileScan") for t in below), nodes[i][1]


def test_codegen_on_hot_path(spark):
    log = generate_changes(spark, 1000, n_keys=50, seed=4)
    df = dedup_lww(log)
    df.collect()  # AQE finalizes the plan on execution
    final = df._jdf.queryExecution().executedPlan().toString()
    # "*(n)" prefixes mark operators inside WholeStageCodegen stages
    assert "*(" in final


def test_neardup_scale_plans_have_no_nested_loop(spark):
    """Both scale paths of the near-dup operator (blocked exact for low
    thresholds, banded LSH for high thresholds) must plan as hash joins —
    a BroadcastNestedLoopJoin/CartesianProduct is the scale-killer these
    modes exist to avoid."""
    from dbimport_spark.operators.similarity import cosine_near_dup_pairs

    df = local_frame(
        spark,
        [(i, [float((i * 7 + j) % 13) for j in range(8)]) for i in range(50)],
        "vec_id int, embedding array<float>",
    )
    for kwargs in ({"blocks": 4}, {"lsh_bands": 4, "lsh_rows": 8, "dim": 8}):
        plan = explain_str(cosine_near_dup_pairs(df, min_milli=450, **kwargs))
        assert "BroadcastNestedLoopJoin" not in plan, kwargs
        assert "CartesianProduct" not in plan, kwargs
    # blocked mode must agree with exact all-pairs
    exact = {tuple(r) for r in cosine_near_dup_pairs(df, min_milli=100).collect()}
    blocked = {
        tuple(r) for r in cosine_near_dup_pairs(df, min_milli=100, blocks=4).collect()
    }
    assert blocked == exact
    # exact mode IS the nested loop (documented small-n baseline)
    plan_exact = explain_str(cosine_near_dup_pairs(df, min_milli=450))
    assert "BroadcastNestedLoopJoin" in plan_exact or "CartesianProduct" in plan_exact


def test_corpus_dedup_plan_has_no_nested_loop(spark):
    """The asymmetric minhash ingest-dedup must stay hash-join shaped:
    band-bucket equijoin + shingle equijoins, never a cartesian or
    nested-loop node (the corpus side is never self-joined either)."""
    from dbimport_spark.operators.text_dedup import dedup_against_corpus

    corpus = local_frame(
        spark,
        [(i, f"corpus doc number {i} with some shared words") for i in range(0, 40, 2)],
        "doc_id long, text string",
    )
    batch = local_frame(
        spark,
        [(i, f"batch doc number {i} with some shared words") for i in range(1, 40, 2)],
        "doc_id long, text string",
    )
    out = dedup_against_corpus(batch, corpus, method="minhash", min_permille=100)
    plan = explain_str(out)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    out.count()  # and it executes


def test_pack_sequences_plan_is_partition_parallel(spark):
    """The packing cumsum must never collapse to a single-partition window
    (Window with empty partitionBy): the plan's window runs per
    (_pid, stratum) and the stratum offsets arrive via broadcast."""
    from dbimport_spark.operators.training import pack_sequences

    df = local_frame(
        spark,
        [(f"d{i:03d}", f"s{i % 4}", 100 + i) for i in range(300)],
        "doc_id string, source string, n_tok int",
    )
    out = pack_sequences(df, context_len=512, num_partitions=6)
    plan = explain_str(out)
    # a global (unpartitioned) window would show 'Window [...]' with no
    # partition spec and a preceding Exchange SinglePartition
    assert "SinglePartition" not in plan
    assert "BroadcastExchange" in plan  # offsets joined via broadcast
    assert out.count() == 300


def test_mor_reconciled_read_streams_base(spark, tmp_path):
    """Merge-on-read read-path shape: the base side is STREAMED through a
    broadcast anti-join (no hash/range exchange on base bytes), and the
    delta world resolves by broadcast anti-joins too — no exchange at
    all, no per-key window. A pure-base table keeps the plain multi-file
    scan (no join at all)."""
    log = generate_changes(spark, 3000, n_keys=200, seed=31)
    table = CDCEngine.create_table(str(tmp_path / "t"), num_buckets=8)
    eng = CDCEngine(spark, table, write_mode="mor")
    eng.replay(log, num_batches=3)  # batch 1 insert-only base, 2-3 deltas
    assert any(f.kind != "base" for f in table.current().files)

    plan = explain_str(table.read(spark))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "SortMergeJoin" not in plan
    # the base scan is the anti-join's DIRECT left child — no exchange
    # (no shuffle of base bytes) sits between them
    after_join = plan.split("BroadcastHashJoin LeftAnti", 1)[1]
    assert "Scan parquet" in after_join.splitlines()[1], plan
    # no data exchange anywhere: one anti-join for the base plus one per
    # delta seq older than the newest delta/delete seq
    assert "hashpartitioning(" not in plan and "Window" not in plan, plan
    extras = [f for f in table.current().files if f.kind != "base"]
    top = max(f.seq for f in extras)
    older = {f.seq for f in extras if f.kind == "delta" and f.seq < top}
    assert plan.count("BroadcastHashJoin LeftAnti") == 1 + len(older), plan

    # after compaction the reconciliation (and its join) must vanish
    from dbimport_spark.lake.maintenance import compact

    compact(spark, table, max_files_per_bucket=0)
    plan2 = explain_str(table.read(spark))
    assert "Join" not in plan2 and "Exchange hashpartitioning" not in plan2
