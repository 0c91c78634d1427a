"""Declared sort order (Iceberg SORTED BY analogue) + stats-pruned range
reads: files are written sorted by the declared columns within their
bucket (task-local sort, no shuffle), giving tight per-file stats that
``read_where`` prunes on."""

import glob
import os

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from dbimport_spark.plans.engine import CDCEngine
from dbimport_spark.session import local_frame
from dbimport_spark.sources.loggen import generate_changes


def _make_table(spark, tmp_path, **props):
    table = CDCEngine.create_table(str(tmp_path / "t"), num_buckets=4)
    if props:
        table.commit([], set(), properties=props)
    eng = CDCEngine(spark, table)
    eng.replay(
        generate_changes(spark, 2000, n_keys=150, seed=13, tokens_min=1,
                         tokens_max=64),
        num_batches=2,
    )
    return table, eng


def test_files_written_sorted(spark, tmp_path):
    table, _ = _make_table(
        spark, tmp_path, sort_order="n_tok", stat_columns="n_tok"
    )
    # a merge-on-read window writes its delta and delete files in one job
    # partitioned by bucket AND kind; the declared order holds there too
    mor = CDCEngine(spark, table, write_mode="mor")
    mor.replay(
        generate_changes(spark, 2000, n_keys=150, seed=14, tokens_min=1,
                         tokens_max=64, first_lsn=2001),
        num_batches=1,
    )
    assert {"delta", "delete"} <= {f.kind for f in table.current().files}
    files = glob.glob(
        os.path.join(table.root, "data", "*", "bucket=*", "**", "*.parquet"),
        recursive=True,
    )
    assert files
    for p in files:
        vals = pq.read_table(p, columns=["n_tok"])["n_tok"].drop_null().to_pylist()
        assert vals == sorted(vals), p


def test_read_where_prunes_files_and_matches_plain_filter(spark, tmp_path):
    table, eng = _make_table(
        spark, tmp_path, sort_order="n_tok", stat_columns="n_tok"
    )
    # compact to one sorted file per bucket, then the range prune has
    # non-overlapping per-file stats to work with... compaction keeps
    # the sort (write_data_files sorts every write on this table)
    from dbimport_spark.lake.maintenance import compact

    compact(spark, table, max_files_per_bucket=1)

    want = {
        tuple(r)
        for r in table.read(spark)
        .filter((F.col("n_tok") >= 5) & (F.col("n_tok") <= 9))
        .select("doc_id", "n_tok")
        .collect()
    }
    got_df = table.read_where(spark, "n_tok", lo=5, hi=9)
    got = {tuple(r) for r in got_df.select("doc_id", "n_tok").collect()}
    assert got == want and want

    # pruning pin: an impossible range reads ZERO files
    none_df = table.read_where(spark, "n_tok", lo=10_000)
    assert none_df.count() == 0
    assert none_df.inputFiles() == []


def test_read_where_keeps_whole_mor_buckets(spark, tmp_path):
    """A bucket holding merge-on-read deltas is read complete whenever any
    of its files may match — reconciliation must see base + deltas."""
    import pyspark.sql.types as T

    table, eng = _make_table(
        spark, tmp_path, sort_order="n_tok", stat_columns="n_tok"
    )
    key = table.read(spark).select("doc_id").first()[0]
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
    big = list(range(500))
    batch = local_frame(
        spark, [(9999, "U", key, big, len(big), "s")], schema
    )
    mor = CDCEngine(spark, table, write_mode="mor")
    mor.apply_batch(batch, table.last_lsn(), 9999)

    got = {
        (r.doc_id, r.n_tok)
        for r in table.read_where(spark, "n_tok", lo=400).collect()
    }
    assert got == {(key, 500)}
    # and the superseded base row (old small n_tok) must NOT resurface in
    # a low range — reconciliation dropped it even though the base file's
    # stats matched
    low = {
        r.doc_id
        for r in table.read_where(spark, "n_tok", hi=399).collect()
    }
    assert key not in low

    # a MoR delete of that key: its delete file records the all-null stat
    # marker for n_tok, the bucket stays readable through the delta's
    # stats, and reconciliation hides the key — nothing is >= 400 now
    gone = local_frame(spark, [(10_000, "D", key, None, None, None)], schema)
    mor.apply_batch(gone, table.last_lsn(), 10_000)
    assert any(f.kind == "delete" for f in table.current().files)
    assert table.read_where(spark, "n_tok", lo=400).collect() == []
