"""Merge-on-read write mode: delta/delete files, read reconciliation,
compaction fold, CDF equivalence, and CoW-parity convergence.

The MOR path is the Iceberg-v2 analogue for this lake format (SURVEY.md
§2.1 S7/S9 scale notes): a batch appends superseding delta files plus
delete files (the key; every other column null), in one write job, instead
of rewriting the touched buckets; reads reconcile by per-file commit seq,
and compaction folds the deltas back.
Every test here pins MOR state against either the CoW engine on the same
log or the pure-Python LWW oracle — the two must be indistinguishable to
readers.
"""

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dbimport_spark.lake.maintenance import (
    buckets_needing_compaction,
    compact,
)
from dbimport_spark.lake.table import DataFile, LakeTable
from dbimport_spark.plans.engine import CDCEngine
from dbimport_spark.schema import PAYLOAD_COLUMNS
from dbimport_spark.session import local_frame
from dbimport_spark.sources.loggen import generate_changes
from tests.oracle import as_tuple_set, lww_fold
from tests.test_plans import explain_str

COLS = PAYLOAD_COLUMNS  # doc_id, tokens, n_tok, source


def _state(spark, table, cols=COLS):
    rows = [r.asDict() for r in table.read(spark).collect()]
    return as_tuple_set(rows, cols)


def _oracle_state(changes_df):
    events = [r.asDict() for r in changes_df.collect()]
    return as_tuple_set(list(lww_fold(events).values()), COLS)


def _engine(spark, tmp_path, name, soft=False, **kw):
    root = str(tmp_path / name)
    table = CDCEngine.create_table(root, num_buckets=8, soft_delete=soft)
    return CDCEngine(spark, table, checkpoint_dir=f"{root}/_ckpt", **kw)


# -- table-level: manual delta commits + reconciled read ---------------------


def _mini_table(spark, tmp_path, rows, name="mini"):
    schema = T.StructType(
        [
            T.StructField("doc_id", T.StringType(), False),
            T.StructField("v", T.LongType(), True),
        ]
    )
    t = LakeTable.create(str(tmp_path / name), schema=schema, num_buckets=4)
    df = local_frame(spark, rows, schema)
    out = df.withColumn("_bucket", t.bucket_expr())
    files = t.write_data_files(spark, out, "base-0")
    t.commit(files, replaced_buckets=set(range(4)))
    return t, schema


def _commit_kind(spark, t, schema, rows, kind, cols=None):
    df = local_frame(spark, rows, cols or schema)
    out = df.withColumn(
        "_bucket", t.bucket_expr(key_col="doc_id", num_buckets=4)
    )
    files = t.write_data_files(
        spark, out, f"{kind}-{t.current().version + 1}"
    )
    for f in files:
        f.kind = kind
    t.commit(files, replaced_buckets=set())
    return t.current().version


@pytest.fixture(params=["default", "zero"])
def mor_limit(request, spark, monkeypatch):
    """MOR_BROADCAST_BYTES at its default, or 0 with Spark's own broadcast
    threshold off too, so the anti-joins really run as shuffle joins."""
    if request.param == "default":
        yield LakeTable.MOR_BROADCAST_BYTES
        return
    monkeypatch.setattr(LakeTable, "MOR_BROADCAST_BYTES", 0)
    conf = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "-1")
    try:
        yield 0
    finally:
        spark.conf.set(conf, old)


def _reconciled_read(spark, t, mor_limit, caplog):
    """Read ``t`` and check the plan shape each limit promises: at the
    default, no Window and no exchange on the merge key; at 0, no
    broadcast and one WARNING naming the table and the way out."""
    caplog.clear()
    with caplog.at_level("WARNING", logger="dbimport_spark.lake.table"):
        df = t.read(spark)
    warned = [r.getMessage() for r in caplog.records]
    plan = explain_str(df, "simple")
    if mor_limit:
        assert "Window" not in plan and "hashpartitioning(doc_id" not in plan
        assert not warned
    else:
        assert "BroadcastHashJoin" not in plan
        assert len(warned) == 1
        assert t.root in warned[0] and "maintenance.compact" in warned[0]
        assert "MOR_BROADCAST_BYTES=0" in warned[0]
    return {(r.doc_id, r.v) for r in df.collect()}


def test_delta_supersedes_base_and_older_delta(
    spark, tmp_path, mor_limit, caplog
):
    t, schema = _mini_table(
        spark, tmp_path, [("a", 1), ("b", 2), ("c", 3)]
    )
    _commit_kind(spark, t, schema, [("a", 10), ("d", 40)], "delta")
    _commit_kind(spark, t, schema, [("a", 100)], "delta")
    got = _reconciled_read(spark, t, mor_limit, caplog)
    assert got == {("a", 100), ("b", 2), ("c", 3), ("d", 40)}
    # time travel: the pre-delta snapshot still reads pure base
    v0 = {(r.doc_id, r.v) for r in t.read(spark, version=1).collect()}
    assert v0 == {("a", 1), ("b", 2), ("c", 3)}


def test_delete_file_tombstones_and_reinsert_order(
    spark, tmp_path, mor_limit, caplog
):
    t, schema = _mini_table(spark, tmp_path, [("a", 1), ("b", 2)], "mini2")
    key_schema = T.StructType([T.StructField("doc_id", T.StringType(), False)])
    # delete 'a' (seq 2), then re-insert it via a later delta (seq 3):
    # the newer event wins — 'a' is live again
    _commit_kind(spark, t, schema, [("a",)], "delete", cols=key_schema)
    mid = {(r.doc_id, r.v) for r in t.read(spark).collect()}
    assert mid == {("b", 2)}
    _commit_kind(spark, t, schema, [("a", 7)], "delta")
    got = _reconciled_read(spark, t, mor_limit, caplog)
    assert got == {("a", 7), ("b", 2)}
    # a later delete (seq 4) hides the older delta's row
    _commit_kind(spark, t, schema, [("a",)], "delete", cols=key_schema)
    got = _reconciled_read(spark, t, mor_limit, caplog)
    assert got == {("b", 2)}


def test_commit_guards(spark, tmp_path):
    t, schema = _mini_table(spark, tmp_path, [("a", 1)], "mini3")
    f = DataFile("data/x.parquet", 0, 1, 10, kind="delta")
    with pytest.raises(ValueError, match="replacing that bucket"):
        t.commit([f], replaced_buckets={0})
    with pytest.raises(ValueError, match="unknown data-file kind"):
        t.commit([DataFile("data/y.parquet", 0, 1, 10, kind="weird")], set())
    # seq is stamped at the commit point, not writer-chosen
    v = _commit_kind(spark, t, schema, [("a", 2)], "delta")
    stamped = [fl for fl in t.current().files if fl.kind == "delta"]
    assert stamped and all(fl.seq == v for fl in stamped)


# -- engine: MOR replay converges to the oracle / CoW ------------------------


def test_mor_replay_matches_oracle_hard(spark, tmp_path):
    log = generate_changes(spark, 4000, n_keys=300, seed=42)
    eng = _engine(spark, tmp_path, "mh", write_mode="mor")
    eng.replay(log, num_batches=5)
    assert _state(spark, eng.table) == _oracle_state(log)
    # batches after the initial insert-only one actually took the MOR path
    t = eng.table
    snap = t.current()
    assert {"delta", "delete"} <= {f.kind for f in snap.files}
    # the writer invariant reconciled reads rely on: per committed seq, the
    # rows across its delta and delete files have distinct merge keys
    extras = {
        f.path: f
        for v in range(1, snap.version + 1)
        for f in t.snapshot(v).files
        if f.kind != "base"
    }
    by_seq = {}
    for f in extras.values():
        by_seq.setdefault(f.seq, []).append(f)
    parts = [
        t.read_files(spark, snap, grp).select(F.lit(seq).alias("_s"), "doc_id")
        for seq, grp in by_seq.items()
    ]
    per_seq = parts[0]
    for p in parts[1:]:
        per_seq = per_seq.unionByName(p)
    counts = per_seq.groupBy("_s").agg(
        F.count("*").alias("n"), F.countDistinct("doc_id").alias("k")
    ).collect()
    assert len(counts) == len(by_seq) > 1
    assert all(r.n == r.k for r in counts)

    # one write per MoR window: one staged version dir holds both kinds,
    # at most one file per (bucket, kind), so <= 2 x touched buckets
    import os

    import pyarrow.parquet as pq

    data_dirs = os.listdir(os.path.join(t.root, "data"))
    assert not [d for d in data_dirs if d.endswith("-del")], data_dirs
    for seq, grp in by_seq.items():
        assert len({f.path.split("/")[1] for f in grp}) == 1, seq
        assert len({(f.bucket, f.kind) for f in grp}) == len(grp), seq
        touched = {r["bucket"] for r in t.snapshot(seq).lineage if "bucket" in r}
        assert len(grp) <= 2 * len(touched), seq
    # delete files keep the key; every other column is null
    deletes = [f for f in extras.values() if f.kind == "delete"]
    for f in deletes:
        tbl = pq.read_table(os.path.join(t.root, f.path))
        assert tbl.num_rows == f.rows > 0
        assert all(
            tbl[c].null_count == tbl.num_rows
            for c in tbl.column_names
            if c != "doc_id"
        ), f.path
    # the partition dirs (bucket=, dl_kind=) never leak into a read
    assert t.read_files(spark, snap, deletes).columns == snap.schema.fieldNames()
    assert t.read(spark).columns == snap.schema.fieldNames()


def test_mor_replay_matches_cow_soft(spark, tmp_path):
    log = generate_changes(spark, 3000, n_keys=150, seed=7)
    cow = _engine(spark, tmp_path, "cs", soft=True)
    mor = _engine(spark, tmp_path, "ms", soft=True, write_mode="mor")
    cow.replay(log, num_batches=4)
    mor.replay(log, num_batches=4)
    # payload + tombstone parity (dl_delete_ts nullness = liveness)
    def soft_state(eng):
        rows = eng.table.read(spark).withColumn(
            "dead", F.col("dl_delete_ts").isNotNull()
        )
        return as_tuple_set(
            [r.asDict() for r in rows.collect()], COLS + ["dead", "dl_iud"]
        )

    assert soft_state(mor) == soft_state(cow)
    assert not [f for f in mor.table.current().files if f.kind == "delete"]


def test_mor_batched_equals_single_cow(spark, tmp_path):
    log = generate_changes(spark, 3000, n_keys=150, seed=9)
    cow = _engine(spark, tmp_path, "c1")
    mor = _engine(spark, tmp_path, "m1", write_mode="mor")
    cow.replay(log, num_batches=1)
    mor.replay(log, num_batches=7)
    assert _state(spark, mor.table) == _state(spark, cow.table)


def test_mor_resume_idempotent(spark, tmp_path):
    log = generate_changes(spark, 2000, n_keys=100, seed=4)
    eng = _engine(spark, tmp_path, "mr", write_mode="mor")
    eng.replay(log, num_batches=4, stop_after=2)
    nfiles = len(eng.table.current().files)
    # re-applying an already-committed window is a skip, not a new commit
    lo, hi = 0, eng.table.last_lsn()
    bs = eng.apply_batch(log.filter(F.col("lsn") <= hi), lo, hi)
    assert bs.skipped
    assert len(eng.table.current().files) == nfiles
    eng.replay(log, num_batches=4)
    assert _state(spark, eng.table) == _oracle_state(log)


def test_compaction_folds_deltas_state_preserving(spark, tmp_path):
    log = generate_changes(spark, 3000, n_keys=200, seed=11)
    eng = _engine(spark, tmp_path, "mc", write_mode="mor")
    eng.replay(log, num_batches=6)
    before = _state(spark, eng.table)
    assert any(f.kind != "base" for f in eng.table.current().files)
    res = compact(spark, eng.table, max_files_per_bucket=0)
    assert res["compacted_buckets"] > 0
    snap = eng.table.current()
    assert all(f.kind == "base" for f in snap.files)
    assert snap.properties.get("rewrite_only") == "true"
    assert _state(spark, eng.table) == before
    # and the replay continues cleanly after the fold
    more = generate_changes(spark, 1000, n_keys=200, seed=12).withColumn(
        "lsn", F.col("lsn") + F.lit(3000)
    )
    eng.replay(log.unionByName(more), num_batches=1)
    full = log.unionByName(more)
    assert _state(spark, eng.table) == _oracle_state(full)


def test_delta_pressure_triggers_compaction(spark, tmp_path):
    log = generate_changes(spark, 2000, n_keys=120, seed=3)
    eng = _engine(spark, tmp_path, "mt", write_mode="mor")
    eng.replay(log, num_batches=8)
    todo = buckets_needing_compaction(
        eng.table, max_files_per_bucket=10_000, max_delta_files_per_bucket=2
    )
    assert todo, "delta-file pressure must qualify buckets on its own"


def test_auto_mode_picks_mor_for_small_batches(spark, tmp_path):
    log = generate_changes(spark, 5000, n_keys=300, seed=21)
    eng = _engine(
        spark, tmp_path, "ma", write_mode="auto", mor_auto_ratio=0.9
    )
    # batch 1: empty buckets -> insert-only base; later small batches
    # against the now-populated buckets -> mor
    eng.replay(log.filter(F.col("lsn") <= 4900), num_batches=1)
    assert all(f.kind == "base" for f in eng.table.current().files)
    eng.replay(log, num_batches=1)
    assert any(f.kind == "delta" for f in eng.table.current().files)
    assert eng.table.current().properties["last_batch_mode"] == "mor"
    assert _state(spark, eng.table) == _oracle_state(log)


def test_mor_audit_columns(spark, tmp_path):
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

    def ev(lsn, op, k, toks):
        return (lsn, op, k, toks, len(toks) if toks else None, "s")

    eng = _engine(spark, tmp_path, "maud", write_mode="mor")
    b1 = local_frame(spark, [ev(1, "I", "a", [1]), ev(2, "I", "b", [2])], schema)
    eng.apply_batch(b1, 0, 2)
    b2 = local_frame(spark, [ev(3, "U", "a", [9, 9]), ev(4, "D", "b", None)], schema)
    eng.apply_batch(b2, 2, 4)
    rows = {r.doc_id: r for r in eng.table.read(spark).collect()}
    assert set(rows) == {"a"}
    a = rows["a"]
    assert a.dl_iud == "U"
    assert a.tokens == [9, 9] and a.n_tok == 2
    # insert-ts preserved from the base row; update-ts re-stamped
    assert a.dl_insert_ts < a.dl_update_ts


def test_mor_evolution_added_column(spark, tmp_path):
    base_schema = T.StructType(
        [
            T.StructField("lsn", T.LongType(), False),
            T.StructField("op", T.StringType(), False),
            T.StructField("doc_id", T.StringType(), False),
            T.StructField("tokens", T.ArrayType(T.IntegerType()), True),
            T.StructField("n_tok", T.IntegerType(), True),
            T.StructField("source", T.StringType(), True),
        ]
    )
    eng = _engine(spark, tmp_path, "mev", write_mode="mor")
    b1 = local_frame(spark, [(1, "I", "a", [1], 1, "s")], base_schema)
    eng.apply_batch(b1, 0, 1)
    evolved = base_schema.add(T.StructField("lang", T.StringType(), True))
    b2 = local_frame(spark, [(2, "U", "a", [2], 1, "s", "en")], evolved)
    eng.apply_batch(b2, 1, 2)
    row = eng.table.read(spark).collect()[0]
    assert row.lang == "en" and row.tokens == [2]
    assert "lang" in eng.table.current().schema.fieldNames()


# -- CDF over merge-on-read windows ------------------------------------------


def test_cdf_equal_cow_vs_mor(spark, tmp_path):
    """The change feed over a MOR table's windows equals the feed over a
    CoW table fed the same log windows — consumers cannot tell the write
    modes apart."""
    from dbimport_spark.lake.cdf import table_changes

    log = generate_changes(spark, 3000, n_keys=150, seed=33)
    cow = _engine(spark, tmp_path, "fc")
    mor = _engine(spark, tmp_path, "fm", write_mode="mor")
    cow.replay(log, num_batches=5)
    mor.replay(log, num_batches=5)

    def feed(eng, lo, hi):
        df = table_changes(spark, eng.table, lo, hi).drop("_commit_version")
        return as_tuple_set(
            [r.asDict() for r in df.collect()], COLS + ["_change_type"]
        )

    hi_c = cow.table.current().version
    hi_m = mor.table.current().version
    # full window and each single-commit window (versions align: one
    # commit per applied batch in both engines)
    assert feed(cow, 0, hi_c) == feed(mor, 0, hi_m)
    for k in range(1, 6):
        assert feed(cow, k - 1, k) == feed(mor, k - 1, k), f"window {k}"


def test_cdf_stream_equals_batch_over_mor(spark, tmp_path):
    """Both diff kernels apply one merge-on-read rule: the streaming
    per-bucket diff equals the batch table_changes over every window of
    hand-built commits — a key-only delete file, a null-padded delete
    file, a reinsert after a delete, a delta that hides an older delta,
    and a delete of a key only an older delta holds."""
    import datetime as dt
    import os

    import pyarrow.parquet as pq

    from dbimport_spark.lake.cdf import table_changes
    from dbimport_spark.schema import CHANGE_SCHEMA
    from dbimport_spark.streaming.cdf_source import diff_bucket, plan_window

    log = generate_changes(spark, 2500, n_keys=120, seed=44)
    eng = _engine(spark, tmp_path, "sm", write_mode="mor")
    eng.replay(log, num_batches=4)
    # two delete-file layouts in one table: a key-only file committed by
    # hand (what tables written before null-padded delete files hold),
    # then an engine window whose deletes write null-padded ones
    t = eng.table
    live = sorted(r.doc_id for r in t.read(spark).select("doc_id").collect())
    key_only = local_frame(spark, [(live[0],)], "doc_id string")
    files = t.write_data_files(
        spark, key_only.withColumn("_bucket", t.bucket_expr()), "key-only-del"
    )
    for f in files:
        f.kind = "delete"
    t.commit(files, replaced_buckets=set())
    lsn = t.last_lsn()
    ts = dt.datetime(2024, 1, 1)
    dels = local_frame(
        spark,
        [
            (lsn + i, "D", k, None, None, None, ts)
            for i, k in enumerate(live[1:4], 1)
        ],
        CHANGE_SCHEMA,
    )
    eng.apply_batch(dels, lsn, lsn + 3)
    widths = {
        len(pq.read_schema(os.path.join(t.root, f.path)).names)
        for f in t.current().files
        if f.kind == "delete"
    }
    assert widths == {1, len(t.current().schema)}
    # live[1] comes back after its delete; live[5] gets a delta that the
    # next window's delta hides; a new key lives only in a delta until the
    # next window deletes it
    first_hand_built = t.current().version
    for i, (op, k, toks) in enumerate([
        ("I", live[1], [7, 7]), ("U", live[5], [8]), ("I", "zz-new", [9]),
        ("U", live[5], [10, 10]), ("D", "zz-new", None),
    ]):
        n = len(toks) if toks else None
        row = (lsn + 4 + i, op, k, toks, n, "web" if toks else None, ts)
        eng.apply_batch(local_frame(spark, [row], CHANGE_SCHEMA), lsn + 3 + i, lsn + 4 + i)
    assert {f.kind for f in t.current().files} == {"base", "delta", "delete"}

    def canon(rows):
        return {
            tuple(r[c] if c != "tokens" else tuple(r[c] or []) for c in COLS)
            + (r["_change_type"],)
            for r in rows
        }

    hi = eng.table.current().version
    windows = [(lo, lo + 1) for lo in range(hi)]
    windows += [(lo, hi) for lo in range(first_hand_built - 2, hi - 1)]
    for lo, up in windows:
        got = canon(
            row
            for meta in plan_window(eng.table, lo, up)
            for batch in diff_bucket(meta)
            for row in batch.to_pylist()
        )
        want = canon(
            row.asDict() for row in table_changes(spark, eng.table, lo, up).collect()
        )
        assert got == want, f"window ({lo}, {up}]"


def test_fsck_mor_findings(spark, tmp_path):
    import json
    import os

    from dbimport_spark.lake.fsck import check_table

    log = generate_changes(spark, 1500, n_keys=100, seed=5)
    eng = _engine(spark, tmp_path, "fsck", write_mode="mor")
    eng.replay(log, num_batches=3)
    assert not [f for f in check_table(eng.table) if f["level"] == "error"]
    # tamper: future seq on a delta file
    t = eng.table
    v = t.current().version
    path = t._meta_path(v)
    with open(path) as fh:
        meta = json.load(fh)
    for f in meta["files"]:
        if f.get("kind") == "delta":
            f["seq"] = v + 99
            break
    os.chmod(path, 0o644)
    with open(path, "w") as fh:
        json.dump(meta, fh)
    errs = [f for f in check_table(t) if f["level"] == "error"]
    assert any(f["check"] == "mor" for f in errs)


def test_derived_targets_over_mor_source(spark, tmp_path):
    """A mirror and a materialized view following a MERGE-ON-READ source
    through the change feed converge exactly — the write mode is invisible
    to every CDF consumer — including across a compaction fold."""
    from dbimport_spark.plans.matview import AggSpec, create_view, sync_view
    from dbimport_spark.plans.mirror import sync_mirror

    src = _engine(spark, tmp_path, "dsrc", write_mode="mor")
    mir_t = CDCEngine.create_table(str(tmp_path / "dmir"), num_buckets=4)
    mir = CDCEngine(spark, mir_t)
    spec = AggSpec(group_cols=["source"], sum_cols=["n_tok"])
    view = CDCEngine(
        spark, create_view(str(tmp_path / "dview"), src.table, spec,
                           num_buckets=4)
    )
    log = generate_changes(spark, 2500, n_keys=150, seed=61)

    def check():
        assert _state(spark, mir.table) == _state(spark, src.table)
        got = {
            (r.source, r.sum_n_tok)
            for r in view.table.read(spark).collect()
        }
        want = {
            (r.source, r.sum_n_tok)
            for r in src.table.read(spark)
            .groupBy("source")
            .agg(F.sum("n_tok").alias("sum_n_tok"))
            .collect()
        }
        assert got == want

    src.replay(log.filter(F.col("lsn") <= 1200), num_batches=2)
    sync_mirror(spark, src.table, mir)
    sync_view(spark, src.table, view, spec)
    check()

    # steady-state MOR windows, then a rewrite-only fold between syncs
    src.replay(log.filter(F.col("lsn") <= 1800), num_batches=1)
    compact(spark, src.table, max_files_per_bucket=0)
    src.replay(log, num_batches=1)
    sync_mirror(spark, src.table, mir)
    sync_view(spark, src.table, view, spec)
    check()


def test_rebucket_folds_live_deltas(spark, tmp_path):
    """Partition evolution over a table holding un-compacted MOR deltas:
    the rewrite reads reconciled state, lands pure base under the new
    modulus, and the content is preserved exactly."""
    from dbimport_spark.lake.maintenance import rebucket

    log = generate_changes(spark, 2000, n_keys=120, seed=62)
    eng = _engine(spark, tmp_path, "rb", write_mode="mor")
    eng.replay(log, num_batches=4)
    assert any(f.kind != "base" for f in eng.table.current().files)
    before = _state(spark, eng.table)
    rebucket(spark, eng.table, 16)
    snap = eng.table.current()
    assert snap.num_buckets == 16
    assert all(f.kind == "base" for f in snap.files)
    assert _state(spark, eng.table) == before


def test_mor_history_audit_parity(spark, tmp_path):
    """The history-audit stream (I/U/D row images) produced by a
    merge-on-read replay is row-identical to the CoW replay's — including
    the deterministic dl_hist_ts (derived from event commit_ts) and
    delete pre-images enriched from the reconciled table state."""
    log = generate_changes(spark, 2500, n_keys=120, seed=71)

    def run(name, mode):
        root = str(tmp_path / name)
        table = CDCEngine.create_table(root, num_buckets=8)
        hist = CDCEngine.create_history_table(f"{root}-h", num_buckets=4)
        eng = CDCEngine(
            spark, table, checkpoint_dir=f"{root}/_ckpt",
            history_table=hist, write_mode=mode,
        )
        eng.replay(log, num_batches=4)
        cols = COLS + ["op", "lsn", "dl_hist_ts"]
        return as_tuple_set(
            [r.asDict() for r in hist.read(spark).collect()], cols
        )

    assert run("hc", "cow") == run("hm", "mor")


def test_inserts_only_track_lsn_tombstone_without_lv(spark):
    """inserts_only on a soft+track_lsn batch WITHOUT *_lv columns must
    keep a 'D' winner as a null-payload tombstone, exactly like
    merge_changes' shuffle branch — dropping it would erase the dl_lsn a
    later late event has to lose to (the absent-row ambiguity)."""
    from dbimport_spark.operators.merge import inserts_only
    from dbimport_spark.schema import AUDIT_DELETE, AUDIT_IUD, AUDIT_LSN

    batch = local_frame(
        spark,
        [
            (1, "I", "a", [1], 1, "web"),
            (2, "D", "b", None, None, None),
        ],
        "lsn long, op string, doc_id string, tokens array<int>, "
        "n_tok int, source string",
    )
    out = inserts_only(
        batch,
        key="doc_id",
        payload_cols=["doc_id", "tokens", "n_tok", "source"],
        merge_ts=F.lit("2024-01-01 00:00:00").cast("timestamp"),
        soft=True,
        track_lsn=True,
    )
    rows = {r["doc_id"]: r for r in out.collect()}
    assert set(rows) == {"a", "b"}  # the 'D' winner is NOT dropped
    assert rows["b"][AUDIT_IUD] == "D"
    assert rows["b"][AUDIT_DELETE] is not None
    assert rows["b"][AUDIT_LSN] == 2  # the version late events lose to
    assert rows["b"]["tokens"] is None and rows["b"]["n_tok"] is None
    assert rows["a"][AUDIT_IUD] == "I" and rows["a"][AUDIT_DELETE] is None


def test_mor_windows_leave_no_unreferenced_version_dirs(spark, tmp_path):
    """A MoR window whose deletes hit no live key writes no delete file,
    and a window that only deletes absent keys writes no file at all. The
    staged version dir of such a write must not stay under data/: no
    snapshot references it, and orphan listing sees .parquet files only."""
    import datetime as dt
    import os

    from dbimport_spark.schema import CHANGE_SCHEMA

    changes = generate_changes(spark, 1000, n_keys=50, seed=88)
    table = CDCEngine.create_table(str(tmp_path / "t"), num_buckets=4)
    eng = CDCEngine(spark, table, write_mode="mor")
    eng.apply_batch(changes.filter("lsn <= 500"), 0, 500)
    eng.apply_batch(changes.filter("lsn > 500"), 500, 1000)
    ts = dt.datetime(2024, 1, 1)
    absent = local_frame(
        spark,
        [(1000 + i, "D", f"absent-{i}", None, None, None, ts) for i in (1, 2)],
        CHANGE_SCHEMA,
    )
    eng.apply_batch(absent, 1000, 1002)
    assert table.last_lsn() == 1002

    referenced = {
        f.path.split("/")[1]
        for v in table.snapshots()
        for f in table.snapshot(v).files
    }
    dirs = set(os.listdir(os.path.join(table.root, "data")))
    assert dirs <= referenced, sorted(dirs - referenced)
    assert _state(spark, table) == _oracle_state(changes)


# one row rule, every merge shape: broadcast, shuffle, insert-only and MoR
# windows over the same hand-built events; (delete_mode, track_lsn) -> the
# expected dl_iud per key after both windows ('-' = no row)
_SHAPE_EXPECT = {
    ("hard", False): "I U I - I I - U I - - - I",
    ("soft", False): "I U I D U I - U I - D D I",
    ("soft", True): "I U I D U I D U I D D D I",
}


def _shape_windows():
    """Two windows of (op, key, token) events; window 1 meets an empty
    table, so every engine applies it through the insert-only shape."""
    w1 = [
        ("I", "k01", 1), ("I", "k02", 2), ("I", "k03", 3), ("I", "k04", 4),
        ("I", "k05", 5), ("D", "k05", None),    # insert then delete
        ("D", "k06", None), ("I", "k06", 6),    # delete then re-insert
        ("D", "k07", None),                     # delete of an absent key
        ("I", "k08", 8), ("I", "k09", 9),
        ("I", "k12", 12), ("D", "k12", None),   # a second soft tombstone
    ]
    w2 = [
        ("U", "k01", 1),                        # same-value update
        ("U", "k02", 22),                       # changed update
        ("D", "k04", None),                     # delete of a live key
        ("D", "k10", None),                     # delete of an absent key
        ("I", "k11", 11), ("D", "k11", None),   # insert then delete
        ("D", "k08", None), ("I", "k08", 88),   # delete then re-insert
        ("U", "k05", 55),                       # update of a soft tombstone
        ("D", "k12", None),                     # delete of a soft tombstone
        ("D", "k07", None),                     # (a tombstone in track_lsn)
        ("I", "k13", 13),
    ]
    return w1, w2


@pytest.mark.parametrize(
    "delete_mode,track_lsn", list(_SHAPE_EXPECT), ids=["hard", "soft", "soft_lsn"]
)
def test_merge_shapes_share_one_row_rule(
    spark, tmp_path, caplog, monkeypatch, delete_mode, track_lsn
):
    """Broadcast and shuffle CoW give the same rows, audit columns
    included; MoR differs from them only by the documented same-value
    update divergence (dl_iud='U' and a re-stamped dl_update_ts). The MoR
    probe's two shapes, the whole touched buckets broadcast and the
    semi-join (``broadcast_threshold_rows=0``), write the same files, each
    logging its choice. Every file of every table, insert-only window or
    merge, has one parquet schema, nullability included. A hard-mode MoR
    window runs at most five Spark jobs in one write call."""
    import datetime as dt
    import os

    import pyarrow.parquet as pq

    from dbimport_spark.schema import CHANGE_SCHEMA
    from tests.test_matview import _jobs

    soft = delete_mode == "soft"
    lsn, frames = 0, []
    for w, events in enumerate(_shape_windows(), start=1):
        ts = dt.datetime(2024, 1, w)
        rows = []
        for op, k, tok in events:
            lsn += 1
            toks = None if tok is None else [tok]
            rows.append((lsn, op, k, toks, None if toks is None else 1,
                         None if toks is None else "s", ts))
        frames.append((lsn - len(rows), lsn, local_frame(spark, rows, CHANGE_SCHEMA)))

    write_jobs = []
    orig = LakeTable.write_data_files

    def write(self, *a, **kw):
        sc = spark.sparkContext
        outer = sc.getLocalProperty("spark.jobGroup.id")
        out, n = _jobs(spark, lambda: orig(self, *a, **kw))
        sc.setLocalProperty("spark.jobGroup.id", outer)
        write_jobs.append(n)
        return out

    monkeypatch.setattr(LakeTable, "write_data_files", write)

    def run(name, **kw):
        """Both windows through one engine: their modes, per window its
        jobs and the jobs of each ``write_data_files`` call, the table and
        its rows by key."""
        root = str(tmp_path / name)
        table = CDCEngine.create_table(
            root, num_buckets=2, soft_delete=soft, track_lsn=track_lsn
        )
        eng = CDCEngine(spark, table, **kw)
        modes, jobs = [], []
        for lo, hi, f in frames:
            del write_jobs[:]
            bs, n = _jobs(spark, lambda: eng.apply_batch(f, lo, hi))
            modes.append(bs.mode)
            jobs.append((n + sum(write_jobs), list(write_jobs)))
        rows = {r["doc_id"]: r.asDict() for r in table.read(spark).collect()}
        return modes, jobs, table, rows

    b_modes, _, b_t, bcast = run("b")
    s_modes, _, s_t, shuffle = run("s", broadcast_threshold_rows=0)
    with caplog.at_level("INFO", logger="dbimport_spark.plans.engine"):
        m_modes, m_jobs, m_t, mor = run("m", write_mode="mor")
        m0_modes, _, m0_t, mor0 = run("m0", write_mode="mor", broadcast_threshold_rows=0)
    assert (b_modes, s_modes, m_modes, m0_modes) == (
        ["insert-only", "broadcast"], ["insert-only", "shuffle"],
        ["insert-only", "mor"], ["insert-only", "mor"],
    )
    keys = [f"k{i:02d}" for i in range(1, 14)]
    assert [bcast[k]["dl_iud"] if k in bcast else "-" for k in keys] == (
        _SHAPE_EXPECT[(delete_mode, track_lsn)].split()
    )
    assert shuffle == bcast

    # MoR stamps a same-value update like any matched upsert; nothing else
    w2_ts = bcast["k02"]["dl_update_ts"]
    assert bcast["k01"]["dl_update_ts"] != w2_ts
    expected = {k: dict(r) for k, r in bcast.items()}
    expected["k01"].update(dl_iud="U", dl_update_ts=w2_ts)
    assert mor == expected

    # the probe's shapes: same rows and stamps, same files, one log line each
    assert mor0 == mor
    assert sorted((f.bucket, f.kind, f.rows) for f in m0_t.current().files) == (
        sorted((f.bucket, f.kind, f.rows) for f in m_t.current().files)
    )
    lo, hi = frames[1][:2]
    touched = sum(f.rows for f in m_t.snapshot(1).files)
    assert [r.getMessage() for r in caplog.records if "mor probe" in r.getMessage()] == [
        f"mor probe for window ({lo}, {hi}]: {shape} ({touched} touched rows "
        f"from metadata vs bound {bound})"
        for shape, bound in (("broadcast", 200_000), ("semi-join", 0))
    ]
    if delete_mode == "hard":
        # one write call; under it AQE runs the batch exchange, the probe
        # broadcast and the write as three jobs (the semi-join took five)
        total, writes = m_jobs[1]
        assert len(writes) == 1 and writes[0] <= 3 and total <= 5, m_jobs

    def file_schemas(table):
        return {
            tuple(
                (c.name, str(c.type), c.nullable)
                for c in pq.read_schema(os.path.join(table.root, f.path))
            )
            for v in range(1, table.current().version + 1)
            for f in table.snapshot(v).files
        }

    assert len(set().union(*map(file_schemas, (b_t, s_t, m_t, m0_t)))) == 1
