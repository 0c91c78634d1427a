import datetime as dt

import pytest
from pyspark.sql import functions as F

from dbimport_spark.operators.dedup import dedup_lww
from dbimport_spark.plans.engine import CDCEngine
from dbimport_spark.plans.validate import fold_expected, reconcile
from dbimport_spark.schema import CHANGE_SCHEMA, PAYLOAD_COLUMNS
from dbimport_spark.session import local_frame
from dbimport_spark.sources.loggen import generate_changes


def _winners_by_oracle(rows):
    best = {}
    for r in rows:
        k = r["doc_id"]
        if k not in best or r["lsn"] > best[k]["lsn"]:
            best[k] = r
    return {k: v["lsn"] for k, v in best.items()}


def test_dedup_matches_oracle(spark):
    df = generate_changes(spark, 3000, n_keys=80, seed=11)
    # shuffle input order within the frame: dedup must not depend on order
    df = df.orderBy(F.xxhash64("lsn"))
    expected = _winners_by_oracle(df.collect())
    out = dedup_lww(df).collect()
    assert {r["doc_id"]: r["lsn"] for r in out} == expected
    assert len(out) == len(expected)


def test_dedup_hot_key(spark):
    # one key with every event: the map-side partial aggregation still
    # returns exactly the max-LSN event
    df = generate_changes(spark, 2000, n_keys=1, seed=5)
    out = dedup_lww(df).collect()
    assert len(out) == 1
    assert out[0]["lsn"] == 2000


_TS = dt.datetime(2024, 1, 1)
# lsn 1-2 make every key live; lsn 3-4 tie within keys: two different
# events of a (and of c, where an insert ties a delete) and an
# at-least-once duplicate of one event of b
_PRELOAD = [
    (1, "I", "a", [1], 1, "web", _TS),
    (1, "I", "b", [2], 1, "web", _TS),
    (2, "I", "c", [3], 1, "web", _TS),
]
_TIES = [
    (3, "U", "a", [10, 11], 2, "books", _TS),
    (3, "U", "a", [12], 1, "code", _TS),
    (4, "U", "b", [20], 1, "code", _TS),
    (4, "U", "b", [20], 1, "code", _TS),
    (4, "I", "c", [30], 1, "web", _TS),
    (4, "D", "c", None, None, None, _TS),
]


def test_dedup_keeps_one_event_per_key_on_ties(spark):
    """Equal lsns within a key: an exact duplicate collapses to one row,
    different events are settled by the tie hash, and the winner does not
    depend on row order or partitioning."""
    def by_key(frame):
        rows = frame.collect()
        out = {r["doc_id"]: r for r in rows}
        assert len(out) == len(rows)
        return out

    df = local_frame(spark, _TIES, CHANGE_SCHEMA).drop("commit_ts")
    out = by_key(dedup_lww(df))
    assert sorted(out) == ["a", "b", "c"]
    shuffled = local_frame(spark, list(reversed(_TIES)), CHANGE_SCHEMA)
    again = dedup_lww(shuffled.drop("commit_ts").repartition(3).orderBy("op"))
    assert by_key(again) == out
    # the bucket-prefixed key list the shuffle merge passes picks the same
    bucketed = df.withColumn("_bucket", F.pmod(F.xxhash64("doc_id"), F.lit(2)))
    by_bucket = dedup_lww(bucketed, key=["_bucket", "doc_id"])
    assert by_key(by_bucket.select(*df.columns)) == out


@pytest.mark.parametrize("shape", ["insert-only", "broadcast", "shuffle", "mor", "repair"])
def test_write_paths_keep_one_row_per_key_on_ties(spark, tmp_path, shape):
    """Every write path dedups through the one rule: a tie window leaves one
    row per key, equal to the independent fold."""
    kw = {"shuffle": {"broadcast_threshold_rows": 0}, "mor": {"write_mode": "mor"}}
    table = CDCEngine.create_table(str(tmp_path / "t"), num_buckets=2)
    eng = CDCEngine(spark, table, **kw.get(shape, {}))
    rows = _TIES if shape == "insert-only" else _PRELOAD + _TIES
    log = local_frame(spark, rows, CHANGE_SCHEMA)
    if shape == "insert-only":
        assert eng.apply_batch(log, 2, 4).mode == shape
    else:
        eng.apply_batch(log.filter("lsn <= 2"), 0, 2)
        if shape == "repair":
            assert eng.repair_keys(log, window=(2, 4)).mode == shape
        else:
            assert eng.apply_batch(log.filter("lsn > 2"), 2, 4).mode == shape
    got = table.read(spark)
    assert got.count() == got.select("doc_id").distinct().count()
    rec = reconcile(got, fold_expected(log), PAYLOAD_COLUMNS)
    assert rec["converged"], rec


def test_neardup_clusters_and_survivors(spark):
    """Known graph: chain a-b-c (one component), pair e-f, isolated g not
    in pairs. Min-label propagation must converge to min-id clusters and
    survivors keep exactly one doc per component."""
    from dbimport_spark.operators.text_dedup import dedup_survivors, neardup_clusters

    pairs = local_frame(
        spark,
        [("b", "c"), ("a", "b"), ("e", "f")], "id_a string, id_b string"
    )
    got = {
        (r["doc_id"], r["cluster_id"]) for r in neardup_clusters(pairs).collect()
    }
    assert got == {("a", "a"), ("b", "a"), ("c", "a"), ("e", "e"), ("f", "e")}

    docs = local_frame(
        spark,
        [(x, f"text {x}") for x in "abcefg"], "doc_id string, text string"
    )
    surv = {r["doc_id"] for r in dedup_survivors(docs, pairs).collect()}
    assert surv == {"a", "e", "g"}


def test_jaccard_max_doc_freq_cap(spark):
    """Ultra-common shingles can be dropped from the inverted index (the
    quadratic-shuffle dial); near-dup pairs supported by rarer shingles
    still surface with exact-enough Jaccard."""
    from dbimport_spark.operators.text_dedup import jaccard_pairs, word_shingles

    boiler = "terms of service apply to all content"
    docs = local_frame(
        spark,
        [
            (1, f"{boiler} alpha beta gamma delta epsilon zeta"),
            (2, f"{boiler} alpha beta gamma delta epsilon eta"),
            (3, f"{boiler} completely different body of text here"),
            (4, f"{boiler} yet another unrelated body of words now"),
        ],
        "doc_id int, text string",
    )
    sh = word_shingles(docs, n=3)
    full = {(r["id_a"], r["id_b"]) for r in jaccard_pairs(sh, min_permille=250).collect()}
    assert (1, 2) in full
    capped_rows = jaccard_pairs(sh, min_permille=250, max_doc_freq=2).collect()
    capped = {(r["id_a"], r["id_b"]) for r in capped_rows}
    # the boilerplate-only pairs (3,4 vs others) lose their support; the
    # genuinely-similar pair survives on its rare shingles
    assert (1, 2) in capped
    assert capped <= full


def test_one_per_doc_width_and_deterministic_survivor(spark):
    """_one_per_doc: partition width is a parameter (data-sized on a real
    cluster, not core-count-sized), and a violated id-uniqueness contract
    yields a DETERMINISTIC survivor (max payload struct), not an arbitrary
    dropDuplicates row (ADVICE r2)."""
    from dbimport_spark.operators.text_dedup import _one_per_doc, word_shingles

    rows = [("d1", "alpha beta gamma"), ("d1", "zzz yyy xxx"), ("d2", "one two three")]
    df = local_frame(spark, rows, "doc_id string, text string")

    out = _one_per_doc(df, "doc_id", num_partitions=7)
    assert out.rdd.getNumPartitions() == 7
    got = {r["doc_id"]: r["text"] for r in out.collect()}
    # max-struct survivor: 'zzz yyy xxx' > 'alpha beta gamma'
    assert got == {"d1": "zzz yyy xxx", "d2": "one two three"}
    # stable across repeated evaluation and input order
    df_rev = local_frame(spark, list(reversed(rows)), "doc_id string, text string")
    got2 = {r["doc_id"]: r["text"] for r in _one_per_doc(df_rev, "doc_id").collect()}
    assert got2 == got

    # the width threads through the public entry points
    sh = word_shingles(df, num_partitions=5)
    assert sh.rdd.getNumPartitions() == 5


def test_one_per_doc_nested_map_deterministic_survivor(spark):
    """Nested map columns (array<map>, struct<...map...>) are not orderable
    at any depth: _one_per_doc must still pick a DETERMINISTIC survivor —
    max_by over a hash of the JSON-canonicalized row — never an arbitrary
    dropDuplicates row (VERDICT r3 #7)."""
    from pyspark.sql import types as T

    from dbimport_spark.operators.text_dedup import _one_per_doc

    schema = T.StructType(
        [
            T.StructField("doc_id", T.StringType()),
            T.StructField("text", T.StringType()),
            T.StructField(
                "attrs",
                T.ArrayType(T.MapType(T.StringType(), T.StringType())),
            ),
        ]
    )
    rows = [
        ("d1", "hello world", [{"k": "v"}]),
        ("d1", "HELLO WORLD", [{"k": "w"}]),  # contract violation: same id
        ("d2", "bye", None),
    ]
    df = local_frame(spark, rows, schema)
    out = _one_per_doc(df, "doc_id", num_partitions=3)
    assert out.count() == 2
    assert out.rdd.getNumPartitions() == 3
    survivor = {r["doc_id"]: (r["text"], r["attrs"]) for r in out.collect()}

    # stable across re-runs AND input row order
    df_rev = local_frame(spark, list(reversed(rows)), schema).repartition(5)
    for attempt_df in (df, df_rev):
        again = {
            r["doc_id"]: (r["text"], r["attrs"])
            for r in _one_per_doc(attempt_df, "doc_id", num_partitions=3).collect()
        }
        assert again == survivor


def test_dedup_against_corpus_exact_and_minhash(spark):
    """Dedup-on-ingest: batch rows duplicating the corpus are dropped;
    exact matches by digest, near-dups by asymmetric LSH + verify."""
    from dbimport_spark.operators.text_dedup import dedup_against_corpus

    corpus = local_frame(
        spark,
        [
            (0, "the quick brown fox jumps over the lazy dog every day"),
            (2, "completely different corpus content about spark engines"),
        ],
        "doc_id long, text string",
    )
    batch = local_frame(
        spark,
        [
            (11, "the quick brown fox jumps over the lazy dog every day"),  # exact dup
            (13, "the quick brown fox jumps over the lazy dog every night"),  # near-dup
            (15, "entirely novel text with no overlap whatsoever here"),
        ],
        "doc_id long, text string",
    )
    exact = {r["doc_id"] for r in dedup_against_corpus(batch, corpus).collect()}
    assert exact == {13, 15}  # only the byte-identical dup removed
    near = {
        r["doc_id"]
        for r in dedup_against_corpus(
            batch, corpus, method="minhash", n=3, min_permille=500
        ).collect()
    }
    assert near == {15}  # the near-dup goes too
