"""Round-2 engine-safety behaviors: type widening through replay, rename
detection + declared renames, log-truncation guard, monotonic merge_ts
(export watermark correctness), persisted delete_mode, hint recovery,
streaming out-of-order detection (reference semantics:
import_operations.py:2737-2911, import_config.py:2493-2517)."""

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from dbimport_spark.lake.evolve import RenameSuspected
from dbimport_spark.lake.table import LakeTable
from dbimport_spark.plans.engine import CDCEngine
from dbimport_spark.plans.export import ParquetExporter
from dbimport_spark.schema import CHANGE_SCHEMA
from dbimport_spark.session import local_frame
from dbimport_spark.sources.changelog import LogTruncatedError
from dbimport_spark.sources.loggen import generate_changes, write_changes_segments
from dbimport_spark.streaming.stream import run_stream, stream_changes


def _row(lsn, op, key, toks, src, ts):
    return (lsn, op, key, toks, len(toks) if toks else None, src, ts)


def test_widening_through_replay(spark, tmp_path):
    """int→bigint mid-log: table schema widens metadata-only, old files stay
    readable through the wider schema with values intact."""
    table = CDCEngine.create_table(str(tmp_path / "w"), num_buckets=4)
    eng = CDCEngine(spark, table)
    b1 = local_frame(
        spark,
        [_row(1, "I", "k1", [1, 2], "web", dt.datetime(2024, 1, 1))], CHANGE_SCHEMA
    )
    eng.apply_batch(b1, 0, 1)
    assert dict((f.name, f.dataType.simpleString()) for f in table.current().schema)[
        "n_tok"
    ] == "int"

    b2 = local_frame(
        spark,
        [_row(2, "I", "k2", [3], "web", dt.datetime(2024, 1, 2))], CHANGE_SCHEMA
    ).withColumn("n_tok", F.col("n_tok").cast("long"))
    eng.apply_batch(b2, 1, 2)
    types = {f.name: f.dataType.simpleString() for f in table.current().schema.fields}
    assert types["n_tok"] == "bigint"
    got = {(r["doc_id"], r["n_tok"]) for r in table.read(spark).collect()}
    assert got == {("k1", 2), ("k2", 1)}
    # and the reverse (narrower batch) needs no evolution at all
    b3 = local_frame(
        spark,
        [_row(3, "U", "k1", [9], "web", dt.datetime(2024, 1, 3))], CHANGE_SCHEMA
    )  # n_tok back to int
    eng.apply_batch(b3, 2, 3)
    assert {f.name: f.dataType.simpleString() for f in table.current().schema.fields}[
        "n_tok"
    ] == "bigint"
    assert {
        (r["doc_id"], r["n_tok"]) for r in table.read(spark).collect()
    } == {("k1", 1), ("k2", 1)}


def test_rename_suspected_raises_and_declared_rename_applies(spark, tmp_path):
    table = CDCEngine.create_table(str(tmp_path / "r"), num_buckets=4)
    eng = CDCEngine(spark, table)
    b1 = local_frame(
        spark,
        [_row(1, "I", "k1", [1], "web", dt.datetime(2024, 1, 1))], CHANGE_SCHEMA
    )
    eng.apply_batch(b1, 0, 1)

    renamed_batch = local_frame(
        spark,
        [_row(2, "I", "k2", [2], "books", dt.datetime(2024, 1, 2))], CHANGE_SCHEMA
    ).withColumnRenamed("source", "origin")
    # undeclared: same position, same type => suspected rename, hard error
    with pytest.raises(RenameSuspected):
        eng.apply_batch(renamed_batch, 1, 2)

    # declared: metadata-only rename, old rows readable under the new name
    eng2 = CDCEngine(spark, table, renames={"source": "origin"})
    eng2.apply_batch(renamed_batch, 1, 2)
    names = table.current().schema.fieldNames()
    assert "origin" in names and "source" not in names
    got = {(r["doc_id"], r["origin"]) for r in table.read(spark).collect()}
    assert got == {("k1", "web"), ("k2", "books")}


def test_replay_raises_on_truncated_log(spark, tmp_path):
    table = CDCEngine.create_table(str(tmp_path / "tr"), num_buckets=4)
    eng = CDCEngine(spark, table, checkpoint_dir=None)
    log = generate_changes(spark, 200, n_keys=20, seed=3)
    eng.replay(log.filter("lsn <= 100"), num_batches=1)
    assert table.last_lsn() == 100
    # retention truncated the log past the watermark: lsn starts at 150
    truncated = log.filter("lsn > 150")
    with pytest.raises(LogTruncatedError):
        eng.replay(truncated, num_batches=1)
    # explicit override applies what is left
    stats = eng.replay(truncated, num_batches=1, allow_log_gap=True)
    assert stats.batches_applied == 1
    assert table.last_lsn() == 200
    # fresh table (no committed watermark) never trips the guard
    t2 = CDCEngine.create_table(str(tmp_path / "tr2"), num_buckets=4)
    CDCEngine(spark, t2).replay(log.filter("lsn > 150"), num_batches=1)
    assert t2.last_lsn() == 200


def test_merge_ts_strictly_monotonic_and_export_sees_second_window(spark, tmp_path):
    """Two windows sharing one coarse commit_ts: the second's merge_ts must
    still exceed the first's, so the '>' incremental export ships it."""
    table = CDCEngine.create_table(str(tmp_path / "m"), num_buckets=4)
    eng = CDCEngine(spark, table)
    same_ts = dt.datetime(2024, 3, 1, 12, 0, 0)
    b1 = local_frame(spark, [_row(1, "I", "k1", [1], "web", same_ts)], CHANGE_SCHEMA)
    eng.apply_batch(b1, 0, 1)
    ex = ParquetExporter(table, str(tmp_path / "out"))
    s1 = ex.export(spark, mode="incr")
    assert s1["last_run_rows"] == 1

    b2 = local_frame(spark, [_row(2, "I", "k2", [2], "web", same_ts)], CHANGE_SCHEMA)
    eng.apply_batch(b2, 1, 2)
    ts = {r["doc_id"]: r["dl_update_ts"] for r in table.read(spark).collect()}
    assert ts["k2"] > ts["k1"]  # strictly monotonic despite equal commit_ts
    s2 = ex.export(spark, mode="incr")
    assert s2["last_run_rows"] == 1  # k2 is NOT silently skipped
    out = spark.read.parquet(s2["last_run_dir"]).collect()
    assert {r["doc_id"] for r in out} == {"k2"}


def test_delete_mode_is_table_property(spark, tmp_path):
    soft = CDCEngine.create_table(str(tmp_path / "s"), num_buckets=4, soft_delete=True)
    assert soft.properties["delete_mode"] == "soft"
    # engine derives the mode when not given
    assert CDCEngine(spark, soft).delete_mode == "soft"
    # conflicting explicit mode refuses to run
    with pytest.raises(ValueError):
        CDCEngine(spark, soft, delete_mode="hard")
    hard = CDCEngine.create_table(str(tmp_path / "h"), num_buckets=4)
    assert CDCEngine(spark, hard).delete_mode == "hard"
    with pytest.raises(ValueError):
        CDCEngine(spark, hard, delete_mode="soft")


def test_version_hint_recovery(spark, tmp_path):
    root = str(tmp_path / "vh")
    table = CDCEngine.create_table(root, num_buckets=4)
    eng = CDCEngine(spark, table)
    b1 = local_frame(
        spark,
        [_row(1, "I", "k1", [1], "web", dt.datetime(2024, 1, 1))], CHANGE_SCHEMA
    )
    eng.apply_batch(b1, 0, 1)
    v = table.current().version
    hint = os.path.join(root, "metadata", "version-hint.text")
    # crash-truncated hint
    with open(hint, "w"):
        pass
    assert LakeTable.load(root).current().version == v
    # missing hint entirely
    os.unlink(hint)
    assert LakeTable.load(root).current().version == v


def test_stream_out_of_order_segment_detected(spark, tmp_path):
    """A segment arriving after a later one was committed must raise, not
    silently vanish (ADVICE: silent data loss)."""
    log_dir = str(tmp_path / "oolog")
    os.makedirs(log_dir)
    changes = generate_changes(spark, 1000, n_keys=50, seed=31)
    late = changes.filter("lsn <= 500")
    first = changes.filter("lsn > 500")
    write_changes_segments(first, log_dir, n_segments=1)

    table = CDCEngine.create_table(str(tmp_path / "oot"), num_buckets=4)
    eng = CDCEngine(spark, table)
    ckpt = str(tmp_path / "ooc")
    q = run_stream(eng, stream_changes(spark, log_dir), checkpoint_dir=ckpt)
    q.awaitTermination(300)
    assert table.last_lsn() == 1000

    # now the EARLIER segment shows up (written elsewhere, moved in —
    # its mtime is newer than the already-processed segment's)
    stage = str(tmp_path / "stage")
    late_file = write_changes_segments(late, stage, n_segments=1)[0]
    os.replace(late_file, os.path.join(log_dir, "seg-late.parquet"))
    q2 = run_stream(
        eng, stream_changes(spark, log_dir), checkpoint_dir=ckpt,
        on_out_of_order="error",
    )
    with pytest.raises(Exception, match="below the committed watermark"):
        q2.awaitTermination(300)
        raise AssertionError("stream should have failed on the late segment")


def test_batch_replay_then_stream_resume_is_benign(spark, tmp_path):
    """The supported flow 'batch replay, then tail the same dir with a
    fresh checkpoint' must NOT be killed by the out-of-order guard: the
    first micro-batch of a run is catch-up by construction (warn only
    under the default 'auto' policy), and fresh events still apply."""
    log_dir = str(tmp_path / "rslog")
    changes = generate_changes(spark, 1000, n_keys=50, seed=33)
    write_changes_segments(changes.filter("lsn <= 600"), log_dir, n_segments=2)

    table = CDCEngine.create_table(str(tmp_path / "rst"), num_buckets=4)
    eng = CDCEngine(spark, table)
    eng.replay(spark.read.parquet(log_dir), num_batches=1)
    assert table.last_lsn() == 600

    # new segment lands, then a stream with a FRESH checkpoint tails the
    # dir: first micro-batch mixes already-applied and fresh events
    new_seg = write_changes_segments(
        changes.filter("lsn > 600"), str(tmp_path / "rstage"), n_segments=1
    )[0]
    os.replace(new_seg, os.path.join(log_dir, "seg-00002.parquet"))
    q = run_stream(
        eng, stream_changes(spark, log_dir), checkpoint_dir=str(tmp_path / "rsc")
    )
    q.awaitTermination(300)
    assert table.last_lsn() == 1000


def test_rename_propagates_to_history_table(spark, tmp_path):
    """A declared rename must also rename the history table — otherwise its
    pre-rename files silently read the column as null."""
    table = CDCEngine.create_table(str(tmp_path / "rh"), num_buckets=4)
    hist = CDCEngine.create_history_table(str(tmp_path / "rhh"), num_buckets=4)
    eng = CDCEngine(spark, table, history_table=hist)
    b1 = local_frame(
        spark,
        [_row(1, "I", "k1", [1], "web", dt.datetime(2024, 1, 1))], CHANGE_SCHEMA
    )
    eng.apply_batch(b1, 0, 1)

    b2 = local_frame(
        spark,
        [_row(2, "I", "k2", [2], "books", dt.datetime(2024, 1, 2))], CHANGE_SCHEMA
    ).withColumnRenamed("source", "origin")
    eng2 = CDCEngine(
        spark, table, history_table=hist, renames={"source": "origin"}
    )
    eng2.apply_batch(b2, 1, 2)
    assert "origin" in hist.current().schema.fieldNames()
    got = {(r["doc_id"], r["origin"]) for r in hist.read(spark).collect()}
    # the PRE-rename history row (k1) must still carry its value
    assert got == {("k1", "web"), ("k2", "books")}


def test_rename_mixed_with_add_still_detected(spark, tmp_path):
    """rename + genuine add in one batch must not bypass the guard just
    because the add/drop counts differ."""
    from dbimport_spark.lake.evolve import diff_payload_schema
    from pyspark.sql import types as T

    base = T.StructType(
        [T.StructField("doc_id", T.StringType()), T.StructField("a", T.IntegerType())]
    )
    batch = T.StructType(
        [
            T.StructField("doc_id", T.StringType()),
            T.StructField("a2", T.IntegerType()),  # rename of a (same position)
            T.StructField("c", T.StringType()),  # genuine add
        ]
    )
    with pytest.raises(RenameSuspected):
        diff_payload_schema(base, batch)
    # explicit opt-out treats both as adds
    d = diff_payload_schema(base, batch, check_renames=False)
    assert sorted(f.name for f in d.added) == ["a2", "c"]


def test_readding_renamed_away_name_is_refused(spark, tmp_path):
    """After rename v->v2, a new column named 'v' would make old files'
    backdated schema carry duplicate names — commit must refuse it."""
    from pyspark.sql import types as T

    from dbimport_spark.lake.evolve import SchemaDelta, evolve_schema

    schema = T.StructType(
        [T.StructField("doc_id", T.StringType()), T.StructField("v", T.IntegerType())]
    )
    t = LakeTable.create(str(tmp_path / "ra"), schema, num_buckets=4)
    t.rename_column("v", "v2")
    bad = evolve_schema(
        t.current().schema, SchemaDelta(added=[T.StructField("v", T.IntegerType(), True)])
    )
    with pytest.raises(ValueError, match="physical name"):
        t.commit([], set(), new_schema=bad)


def test_rename_chain_transitive_readd_refused(spark, tmp_path):
    """After rename a->b then b->c, adding a new column 'a' must be refused:
    epoch-0 files physically carry 'a' for what is now 'c', so the backdated
    read schema would hold duplicate names (ADVICE r2: the direct-pair guard
    missed the transitive chain)."""
    from pyspark.sql import types as T

    from dbimport_spark.lake.evolve import SchemaDelta, evolve_schema

    schema = T.StructType(
        [T.StructField("doc_id", T.StringType()), T.StructField("a", T.IntegerType())]
    )
    t = LakeTable.create(str(tmp_path / "rc"), schema, num_buckets=4)
    t.rename_column("a", "b")
    t.rename_column("b", "c")
    bad = evolve_schema(
        t.current().schema, SchemaDelta(added=[T.StructField("a", T.IntegerType(), True)])
    )
    with pytest.raises(ValueError, match="physical name"):
        t.commit([], set(), new_schema=bad)
    # an unrelated name is still fine
    ok = evolve_schema(
        t.current().schema, SchemaDelta(added=[T.StructField("d", T.IntegerType(), True)])
    )
    t.commit([], set(), new_schema=ok)
    assert "d" in t.current().schema.fieldNames()


def test_key_type_widening_refused(spark, tmp_path):
    """Widening the merge/bucket key's type must hard-error: xxhash64 bucket
    placement is type-sensitive, so a metadata-only widen would leave
    existing rows in buckets the merge no longer probes (silent duplicate
    inserts / lost deletes — ADVICE r2 high)."""
    from pyspark.sql import types as T

    from dbimport_spark.lake.evolve import SchemaEvolutionError

    payload = T.StructType(
        [
            T.StructField("id", T.IntegerType(), False),
            T.StructField("val", T.StringType(), True),
        ]
    )
    table = CDCEngine.create_table(
        str(tmp_path / "kw"), payload_schema=payload, num_buckets=4, key="id"
    )
    eng = CDCEngine(spark, table)
    sch = T.StructType(
        [
            T.StructField("lsn", T.LongType(), False),
            T.StructField("op", T.StringType(), False),
            T.StructField("id", T.IntegerType(), True),
            T.StructField("val", T.StringType(), True),
        ]
    )
    eng.apply_batch(local_frame(spark, [(1, "I", 7, "x")], sch), 0, 1)
    widened = local_frame(spark, [(2, "U", 7, "y")], sch).withColumn(
        "id", F.col("id").cast("long")
    )
    with pytest.raises(SchemaEvolutionError, match="full_reload"):
        eng.apply_batch(widened, 1, 2)
    # non-key widening on the same table still evolves fine
    assert table.last_lsn() == 1


def test_full_reload_recovers_incompatible_change(spark, tmp_path):
    """An incompatible type change bricks incremental apply with a message
    naming the recovery command; the declared full reload re-creates the
    table at the new schema and converges on the full log (reference
    drop+re-add, import_operations.py:2893-2903)."""
    from pyspark.sql import types as T

    from dbimport_spark.lake.evolve import SchemaEvolutionError

    table = CDCEngine.create_table(str(tmp_path / "fr"), num_buckets=4)
    eng = CDCEngine(spark, table, checkpoint_dir=str(tmp_path / "frc"))
    b1 = local_frame(
        spark,
        [_row(1, "I", "k1", [1, 2], "web", dt.datetime(2024, 1, 1))], CHANGE_SCHEMA
    )
    eng.apply_batch(b1, 0, 1)
    old_version = table.current().version

    # upstream changed n_tok int -> string: incompatible, refuses with the
    # recovery command in the message
    bad = local_frame(
        spark,
        [_row(2, "I", "k2", [3], "web", dt.datetime(2024, 1, 2))], CHANGE_SCHEMA
    ).withColumn("n_tok", F.col("n_tok").cast("string"))
    with pytest.raises(SchemaEvolutionError, match="full_reload"):
        eng.apply_batch(bad, 1, 2)

    # the declared reload replays the WHOLE log at the new schema
    full_log = local_frame(
        spark,
        [
            _row(1, "I", "k1", [1, 2], "web", dt.datetime(2024, 1, 1)),
            _row(2, "I", "k2", [3], "web", dt.datetime(2024, 1, 2)),
            _row(3, "U", "k1", [9], "books", dt.datetime(2024, 1, 3)),
        ],
        CHANGE_SCHEMA,
    ).withColumn("n_tok", F.col("n_tok").cast("string"))
    stats = eng.full_reload(full_log, num_batches=2)
    assert stats.events_applied == 3
    types = {f.name: f.dataType.simpleString() for f in table.current().schema.fields}
    assert types["n_tok"] == "string"
    got = {(r["doc_id"], r["n_tok"], r["source"]) for r in table.read(spark).collect()}
    assert got == {("k1", "1", "books"), ("k2", "1", "web")}
    assert table.last_lsn() == 3
    # prior state stays time-travel readable until expired
    old = table.read(spark, version=old_version).collect()
    assert {(r["doc_id"], r["n_tok"]) for r in old} == {("k1", 2)}
    # and the reload is resumable like any replay: re-running skips
    stats2 = eng.replay(full_log, num_batches=2)
    assert stats2.batches_applied == 0


def test_source_label_provenance_column(spark, tmp_path):
    """datalake_source analogue: the engine stamps the table's provenance
    label on every live row; deletes keep their pre-image label in soft
    mode and the log never needs to carry the column."""
    table = CDCEngine.create_table(
        str(tmp_path / "sl"), num_buckets=4, source_label="prod-mysql-01"
    )
    eng = CDCEngine(spark, table)
    log = generate_changes(spark, 500, n_keys=40, seed=71)
    eng.replay(log, num_batches=2)
    rows = table.read(spark).collect()
    assert len(rows) > 0
    assert all(r["dl_source"] == "prod-mysql-01" for r in rows)
    # label survives updates applied in a later window
    more = generate_changes(spark, 100, n_keys=40, seed=72, first_lsn=501)
    eng.apply_batch(more, 500, 600)
    assert all(r["dl_source"] == "prod-mysql-01" for r in table.read(spark).collect())


def test_source_label_does_not_trip_rename_or_validation(spark, tmp_path):
    """dl_source is engine-stamped and absent from every batch: adding a new
    tail column must not pair with it in the rename heuristic, and CLI-style
    validation must exclude it from the fold comparison."""
    from dbimport_spark.plans.validate import fold_expected, reconcile
    from dbimport_spark.schema import AUDIT_COLUMNS, AUDIT_SOURCE

    table = CDCEngine.create_table(
        str(tmp_path / "slr"), num_buckets=4, source_label="lbl"
    )
    eng = CDCEngine(spark, table)
    log = generate_changes(spark, 300, n_keys=30, seed=73)
    eng.replay(log.filter("lsn <= 200"), num_batches=1)

    # batch adds a genuinely new column at dl_source's payload position —
    # previously RenameSuspected (dl_source counted as 'dropped')
    more = generate_changes(spark, 100, n_keys=30, seed=73, first_lsn=201).withColumn(
        "note", F.lit("n")
    )
    eng.apply_batch(more, 200, 300)
    assert "note" in table.current().schema.fieldNames()

    actual = table.read(spark)
    cols = [
        c for c in actual.columns if c not in AUDIT_COLUMNS and c != AUDIT_SOURCE
    ]
    full_log = log.withColumn("note", F.when(F.col("lsn") > 200, F.lit("n")))
    rec = reconcile(
        actual.select(*cols), fold_expected(full_log, payload_cols=cols), cols
    )
    assert rec["converged"]


def test_comment_metadata_evolution(spark, tmp_path):
    """Column comments propagate as metadata-only evolution (reference
    applies comment changes as ALTERs, import_operations.py:2952-2956);
    a later batch WITHOUT metadata never clears an existing comment
    (never-drop analogue)."""
    from pyspark.sql import types as T

    table = CDCEngine.create_table(str(tmp_path / "cm"), num_buckets=4)
    eng = CDCEngine(spark, table)

    commented = T.StructType(
        [
            f
            if f.name != "source"
            else T.StructField(
                "source", f.dataType, True, {"comment": "origin system"}
            )
            for f in CHANGE_SCHEMA.fields
        ]
    )
    b1 = local_frame(
        spark, [_row(1, "I", "k1", [1], "web", dt.datetime(2024, 1, 1))], commented
    )
    eng.apply_batch(b1, 0, 1)
    meta = {f.name: dict(f.metadata or {}) for f in table.current().schema.fields}
    assert meta["source"].get("comment") == "origin system"

    # comment-free later batch: comment survives
    b2 = local_frame(
        spark,
        [_row(2, "I", "k2", [2], "web", dt.datetime(2024, 1, 2))], CHANGE_SCHEMA
    )
    eng.apply_batch(b2, 1, 2)
    meta = {f.name: dict(f.metadata or {}) for f in table.current().schema.fields}
    assert meta["source"].get("comment") == "origin system"

    # changed comment: updated in place, data intact
    recommented = T.StructType(
        [
            f
            if f.name != "source"
            else T.StructField(
                "source", f.dataType, True, {"comment": "upstream origin"}
            )
            for f in CHANGE_SCHEMA.fields
        ]
    )
    b3 = local_frame(
        spark,
        [_row(3, "U", "k1", [9], "web", dt.datetime(2024, 1, 3))],
        recommented,
    )
    eng.apply_batch(b3, 2, 3)
    meta = {f.name: dict(f.metadata or {}) for f in table.current().schema.fields}
    assert meta["source"].get("comment") == "upstream origin"
    got = {(r["doc_id"], r["n_tok"]) for r in table.read(spark).collect()}
    assert got == {("k1", 1), ("k2", 1)}


def test_mixed_name_log_replay_and_repair_coalesce_former_names(spark, tmp_path):
    """A log whose segments straddle a declared rename (read with
    mergeSchema ⇒ BOTH column names present, each row carrying one):
    alignment must coalesce the former name instead of nulling old
    segments' values — in normal apply AND in repair_keys."""
    import os

    table = CDCEngine.create_table(str(tmp_path / "mx"), num_buckets=4)
    eng = CDCEngine(spark, table, renames={"source": "origin"})

    log_dir = str(tmp_path / "mxlog")
    os.makedirs(log_dir)
    old_seg = local_frame(
        spark,
        [
            _row(1, "I", "k1", [1], "web", dt.datetime(2024, 1, 1)),
            _row(2, "I", "k2", [2], "books", dt.datetime(2024, 1, 1)),
        ],
        CHANGE_SCHEMA,
    )
    new_seg = local_frame(
        spark,
        [
            _row(3, "U", "k2", [9], "press", dt.datetime(2024, 1, 2)),
            _row(4, "I", "k3", [3], "wiki", dt.datetime(2024, 1, 2)),
        ],
        CHANGE_SCHEMA,
    ).withColumnRenamed("source", "origin")
    old_seg.write.parquet(os.path.join(log_dir, "seg-old"))
    new_seg.write.parquet(os.path.join(log_dir, "seg-new"))

    mixed = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(log_dir, "seg-old"), os.path.join(log_dir, "seg-new")
    )
    assert "source" in mixed.columns and "origin" in mixed.columns

    # ONE batch containing both names: rename applied, old values kept
    eng.apply_batch(mixed, 0, 4)
    got = {(r["doc_id"], r["origin"]) for r in table.read(spark).collect()}
    assert got == {("k1", "web"), ("k2", "press"), ("k3", "wiki")}

    # repair over the mixed log: re-fold k1 (old-name segment only) — its
    # value must survive the rename-aware alignment
    eng.repair_keys(mixed, local_frame(spark, [("k1",)], "doc_id string"))
    got = {(r["doc_id"], r["origin"]) for r in table.read(spark).collect()}
    assert got == {("k1", "web"), ("k2", "press"), ("k3", "wiki")}


def test_undeclared_former_name_reuse_is_refused_loudly(spark, tmp_path):
    """After rename source->origin, a LATER batch column named 'source'
    WITHOUT a declared rename is ambiguous (new column reusing the name vs
    rename echo) — it must flow to the evolution diff and be refused by
    the epoch-collision guard, never silently coalesced into 'origin'."""
    table = CDCEngine.create_table(str(tmp_path / "ud"), num_buckets=4)
    eng = CDCEngine(spark, table, renames={"source": "origin"})
    b1 = local_frame(
        spark,
        [_row(1, "I", "k1", [1], "web", dt.datetime(2024, 1, 1))], CHANGE_SCHEMA
    ).withColumnRenamed("source", "origin")
    eng.apply_batch(b1, 0, 1)
    assert "origin" in table.current().schema.fieldNames()

    # fresh engine, NO declared renames: a batch column named 'source'
    fresh = CDCEngine(spark, table, rename_check=False)
    b2 = local_frame(
        spark,
        [_row(2, "I", "k2", [2], "books", dt.datetime(2024, 1, 2))], CHANGE_SCHEMA
    ).withColumn("origin", F.lit("b2"))  # carries BOTH origin and source
    with pytest.raises(ValueError, match="physical name"):
        fresh.apply_batch(b2, 1, 2)
    # values untouched
    got = {(r["doc_id"], r["origin"]) for r in table.read(spark).collect()}
    assert got == {("k1", "web")}


def test_repair_window_api_and_null_key_guard(spark, tmp_path):
    """repair_keys(window=...): keys derive from the rename-ALIGNED log; a
    renamed merge key without a declared rename yields null keys and must
    raise instead of silently no-opping."""
    from pyspark.sql import types as T

    payload = T.StructType(
        [
            T.StructField("uid", T.StringType(), False),
            T.StructField("val", T.IntegerType(), True),
        ]
    )
    table = CDCEngine.create_table(
        str(tmp_path / "wk"), payload_schema=payload, num_buckets=4, key="uid"
    )
    sch_old = (
        "lsn long, op string, id string, val int"  # key under its OLD name
    )
    old_log = local_frame(
        spark, [(1, "I", "k1", 10), (2, "I", "k2", 20), (3, "U", "k1", 11)], sch_old
    )
    # undeclared: alignment has no candidate for 'uid' -> null keys -> raise
    eng_plain = CDCEngine(spark, table)
    with pytest.raises(ValueError, match="undeclared former name"):
        eng_plain.repair_keys(old_log, window=(0, 3))

    # declared: keys resolve through the former name, repair converges
    eng = CDCEngine(spark, table, renames={"id": "uid"})
    stats = eng.repair_keys(old_log, window=(0, 3))
    assert stats.events == 2
    got = {(r["uid"], r["val"]) for r in table.read(spark).collect()}
    assert got == {("k1", 11), ("k2", 20)}


def test_full_reload_folds_declared_former_names(spark, tmp_path):
    """ADVICE r3: full_reload over a mergeSchema log that straddles a
    declared rename must NOT create both the old and new column — former
    names fold into their successors via alignment, exactly as apply_batch
    excludes former_cols from the evolution diff."""
    table = CDCEngine.create_table(str(tmp_path / "frn"), num_buckets=4)
    eng = CDCEngine(
        spark,
        table,
        renames={"source": "origin"},
        checkpoint_dir=str(tmp_path / "frnc"),
    )
    log_dir = str(tmp_path / "frnlog")
    os.makedirs(log_dir)
    old_seg = local_frame(
        spark,
        [
            _row(1, "I", "k1", [1], "web", dt.datetime(2024, 1, 1)),
            _row(2, "I", "k2", [2], "books", dt.datetime(2024, 1, 1)),
        ],
        CHANGE_SCHEMA,
    )
    new_seg = local_frame(
        spark,
        [
            _row(3, "U", "k2", [9], "press", dt.datetime(2024, 1, 2)),
            _row(4, "I", "k3", [3], "wiki", dt.datetime(2024, 1, 2)),
        ],
        CHANGE_SCHEMA,
    ).withColumnRenamed("source", "origin")
    old_seg.write.parquet(os.path.join(log_dir, "seg-old"))
    new_seg.write.parquet(os.path.join(log_dir, "seg-new"))
    mixed = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(log_dir, "seg-old"), os.path.join(log_dir, "seg-new")
    )
    assert "source" in mixed.columns and "origin" in mixed.columns

    eng.full_reload(mixed, num_batches=1)
    names = table.current().schema.fieldNames()
    assert "origin" in names and "source" not in names  # no zombie column
    got = {(r["doc_id"], r["origin"]) for r in table.read(spark).collect()}
    assert got == {("k1", "web"), ("k2", "press"), ("k3", "wiki")}

    # reload from an ENTIRELY pre-rename log: the declared terminal name
    # takes the former's place, values still sourced via the coalesce
    eng.full_reload(spark.read.parquet(os.path.join(log_dir, "seg-old")))
    names = table.current().schema.fieldNames()
    assert "origin" in names and "source" not in names
    got = {(r["doc_id"], r["origin"]) for r in table.read(spark).collect()}
    assert got == {("k1", "web"), ("k2", "books")}


def test_former_name_wider_type_refused(spark, tmp_path):
    """ADVICE r3: a former-name column WIDER than the current field type
    must raise instead of being silently cast DOWN (truncation/overflow) —
    former columns never reach the evolution diff, so they can never widen
    the table; the only safe answer is a loud stop."""
    from dbimport_spark.lake.evolve import SchemaEvolutionError

    table = CDCEngine.create_table(str(tmp_path / "fw"), num_buckets=4)
    eng = CDCEngine(spark, table, renames={"n_tok": "tok_n"})
    b1 = local_frame(
        spark,
        [_row(1, "I", "k1", [1], "web", dt.datetime(2024, 1, 1))], CHANGE_SCHEMA
    )
    eng.apply_batch(b1, 0, 1)
    b2 = local_frame(
        spark,
        [_row(2, "I", "k2", [2], "web", dt.datetime(2024, 1, 2))], CHANGE_SCHEMA
    ).withColumnRenamed("n_tok", "tok_n")
    eng.apply_batch(b2, 1, 2)
    assert "tok_n" in table.current().schema.fieldNames()

    # old name resurfaces WIDER (int -> bigint): refuse loudly
    b3 = local_frame(
        spark,
        [_row(3, "I", "k3", [3], "web", dt.datetime(2024, 1, 3))], CHANGE_SCHEMA
    ).withColumn("n_tok", F.col("n_tok").cast("bigint"))
    with pytest.raises(SchemaEvolutionError, match="wider"):
        eng.apply_batch(b3, 2, 3)


def test_plan_evolution_matches_apply_refusals(spark, tmp_path):
    """code-review r4: the dry-run planner must refuse EVERYTHING the real
    replay refuses — former-name wider types and epoch-collision adds
    included — and green-light what replay accepts."""
    table = CDCEngine.create_table(str(tmp_path / "pe"), num_buckets=4)
    eng = CDCEngine(spark, table, renames={"n_tok": "tok_n"})
    b1 = local_frame(
        spark,
        [_row(1, "I", "k1", [1], "web", dt.datetime(2024, 1, 1))], CHANGE_SCHEMA
    )
    assert eng.plan_evolution(b1.schema)["would_apply"] is True
    eng.apply_batch(b1, 0, 1)

    # declared rename: simulated, not an add
    b2 = local_frame(
        spark,
        [_row(2, "I", "k2", [2], "web", dt.datetime(2024, 1, 2))], CHANGE_SCHEMA
    ).withColumnRenamed("n_tok", "tok_n")
    rep = eng.plan_evolution(b2.schema)
    assert rep["would_apply"] is True
    assert rep["declared_renames"] == [{"from": "n_tok", "to": "tok_n"}]
    assert rep["adds"] == []
    eng.apply_batch(b2, 1, 2)

    # former name back WIDER: planner refuses exactly like alignment does
    b3 = local_frame(
        spark,
        [_row(3, "I", "k3", [3], "web", dt.datetime(2024, 1, 3))], CHANGE_SCHEMA
    ).withColumn("n_tok", F.col("n_tok").cast("bigint"))
    rep = eng.plan_evolution(b3.schema)
    assert rep["would_apply"] is False and "wider" in rep["refusal"]

    # add colliding with a historical physical name: planner refuses with
    # the commit guard's message (batch carries BOTH tok_n and a re-added
    # n_tok of a DIFFERENT type so the rename heuristic cannot fire)
    b4 = local_frame(
        spark,
        [(4, "I", "k4", [4], 1, "s", "web", dt.datetime(2024, 1, 4))],
        "lsn long, op string, doc_id string, tokens array<int>, "
        "tok_n int, n_tok string, source string, commit_ts timestamp",
    )
    rep = CDCEngine(spark, table).plan_evolution(b4.schema)
    assert rep["would_apply"] is False
    assert "physical name" in rep["refusal"]

    # incompatible key type: refused
    b5_schema = (
        "lsn long, op string, doc_id int, tokens array<int>, tok_n int, "
        "source string, commit_ts timestamp"
    )
    rep = eng.plan_evolution(local_frame(spark, [], b5_schema).schema)
    assert rep["would_apply"] is False
