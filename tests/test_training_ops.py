"""Training-data shaping operators: sequence packing (distributed prefix
sum), deterministic stratified sampling, benchmark-contamination check."""

from pyspark.sql import functions as F
from dbimport_spark.session import local_frame


def _ops(spark):
    # imported lazily: operators.training pulls in text_dedup, whose
    # module-level pandas_udf needs an active Spark session
    from dbimport_spark.operators import training

    return training


def test_pack_sequences_matches_serial_fold(spark):
    """The two-phase distributed prefix sum must equal the serial
    concat-and-chunk fold, for any partition count."""
    rows = [(f"d{i:03d}", f"s{i % 3}", (i * 37) % 500 + 1) for i in range(200)]
    df = local_frame(spark, rows, "doc_id string, source string, n_tok int")

    expected = {}
    run: dict = {}
    ctx = 1000
    for doc_id, source, n in sorted(rows, key=lambda r: (r[1], r[0])):
        prev = run.get(source, 0)
        expected[doc_id] = (prev // ctx, prev % ctx)
        run[source] = prev + n

    for nparts in (1, 3, 16):
        got = {
            r["doc_id"]: (r["pack_id"], r["pack_offset"])
            for r in _ops(spark).pack_sequences(
                df, context_len=ctx, num_partitions=nparts
            ).collect()
        }
        assert got == expected, f"nparts={nparts}"


def test_pack_sequences_windows_are_dense(spark):
    """Within a stratum, pack ids are contiguous from 0 and every boundary
    doc's offset equals prev cumsum mod context — no token is lost or
    double-counted by the chunking."""
    rows = [(f"d{i:02d}", "s", 700) for i in range(10)]  # 7000 tokens, ctx 2048
    df = local_frame(spark, rows, "doc_id string, source string, n_tok int")
    out = sorted(
        _ops(spark).pack_sequences(df, context_len=2048).collect(), key=lambda r: r["doc_id"]
    )
    cum = 0
    for r in out:
        assert r["pack_id"] == cum // 2048
        assert r["pack_offset"] == cum % 2048
        cum += r["n_tok"]


def test_stratified_sample_deterministic_and_rate_accurate(spark):
    df = spark.range(0, 5000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, "a").otherwise("b").alias("source"),
    )
    s1 = _ops(spark).stratified_sample(
        df, {"a": 500, "b": 100}, seed=3
    )
    ids1 = {r["doc_id"] for r in s1.collect()}
    # identical under re-run AND re-partitioning (hash of the row, no RNG)
    ids2 = {
        r["doc_id"]
        for r in _ops(spark).stratified_sample(
            df.repartition(13), {"a": 500, "b": 100}, seed=3
        ).collect()
    }
    assert ids1 == ids2
    a = sum(1 for i in ids1 if i % 2 == 0) / 2500
    b = sum(1 for i in ids1 if i % 2 == 1) / 2500
    assert abs(a - 0.5) < 0.05 and abs(b - 0.1) < 0.03
    # different seed selects a different set
    ids3 = {r["doc_id"] for r in _ops(spark).stratified_sample(df, {"a": 500, "b": 100}, seed=4).collect()}
    assert ids1 != ids3
    # hash_bucket is uniform-ish over [0, 1000)
    buckets = df.select(_ops(spark).hash_bucket(F.col("doc_id")).alias("b"))
    assert buckets.agg(F.min("b"), F.max("b")).first() != (0, 0)


def test_contamination_containment_asymmetry(spark):
    """A benchmark doc fully quoted inside a longer train doc scores 1000;
    the partial-overlap doc scores proportionally; unrelated docs absent."""
    bench = local_frame(
        spark,
        [(1, "alpha beta gamma delta epsilon")], "doc_id long, text string"
    )
    train = local_frame(
        spark,
        [
            (100, "intro words alpha beta gamma delta epsilon outro words here"),
            (101, "alpha beta gamma unrelated tail of text"),
            (102, "nothing in common at all whatsoever"),
        ],
        "doc_id long, text string",
    )
    got = {
        (r["train_id"], r["bench_id"]): r["containment_permille"]
        for r in _ops(spark).contamination_pairs(train, bench, n=3, min_permille=1).collect()
    }
    # bench doc has 3 shingles; doc 100 contains all 3, doc 101 contains 1
    assert got[(100, 1)] == 1000
    assert got[(101, 1)] == 333
    assert (102, 1) not in got


def test_contamination_precomputed_shingles_identical(spark, tmp_path):
    """VERDICT r3 #9: the 100 TB steady state — train shingles computed
    once and persisted, bench side re-checked cheaply. The precomputed
    path must return exactly the pairs of the compute-both-sides path,
    with and without the hot-shingle cap."""
    from dbimport_spark.operators.text_dedup import word_shingles
    from dbimport_spark.operators.training import (
        contamination_pairs,
        contamination_pairs_from_shingles,
    )

    bench = local_frame(
        spark,
        [(1, "alpha beta gamma delta epsilon"), (2, "zeta eta theta iota kappa")],
        "doc_id long, text string",
    )
    train = local_frame(
        spark,
        [
            (100, "intro words alpha beta gamma delta epsilon outro words here"),
            (101, "alpha beta gamma unrelated tail of text"),
            (102, "zeta eta theta iota kappa fully quoted benchmark text"),
            (103, "nothing in common at all whatsoever"),
        ],
        "doc_id long, text string",
    )
    # persist the train shingles once (the expensive side)
    shingle_path = str(tmp_path / "train-shingles")
    word_shingles(train, n=3).write.parquet(shingle_path)
    persisted = spark.read.parquet(shingle_path)

    for cap in (None, 1):
        direct = {
            tuple(r)
            for r in contamination_pairs(
                train, bench, n=3, min_permille=1, max_doc_freq=cap
            ).collect()
        }
        pre = {
            tuple(r)
            for r in contamination_pairs_from_shingles(
                persisted, bench, n=3, min_permille=1, max_doc_freq=cap
            ).collect()
        }
        assert pre == direct and direct
