"""Structured Streaming ingestion: stream the log dir via foreachBatch and
converge to the same state as batch replay (SURVEY.md §2.7)."""

from dbimport_spark.plans.engine import CDCEngine
from dbimport_spark.schema import PAYLOAD_COLUMNS
from dbimport_spark.session import local_frame
from dbimport_spark.sources.loggen import (
    generate_changes,
    write_changes,
    write_changes_segments,
)
from dbimport_spark.streaming.stream import run_stream, stream_changes
from tests.oracle import as_tuple_set, lww_fold


def test_stream_converges(spark, tmp_path):
    log_dir = str(tmp_path / "log")
    changes = generate_changes(spark, 2000, n_keys=120, seed=19)
    # sequential segments (ascending mtime) — the WAL-tailer shape the file
    # source needs for in-order delivery; a bulk parallel write gives every
    # part the same mtime and arbitrary delivery order (real data loss,
    # now detected by run_stream's out-of-order guard)
    write_changes_segments(changes, log_dir, n_segments=6)

    root = str(tmp_path / "t")
    table = CDCEngine.create_table(root, num_buckets=8)
    eng = CDCEngine(spark, table)
    q = run_stream(
        eng,
        stream_changes(spark, log_dir, max_files_per_trigger=2),
        checkpoint_dir=str(tmp_path / "sck"),
    )
    q.awaitTermination(300)

    got = as_tuple_set(
        [r.asDict() for r in table.read(spark).collect()], PAYLOAD_COLUMNS
    )
    expected = lww_fold([r.asDict() for r in spark.read.parquet(log_dir).collect()])
    assert got == as_tuple_set(list(expected.values()), PAYLOAD_COLUMNS)
    assert table.last_lsn() == 2000


def test_stream_restart_is_idempotent(spark, tmp_path):
    log_dir = str(tmp_path / "log2")
    changes = generate_changes(spark, 1000, n_keys=60, seed=29)
    write_changes(changes, log_dir, n_files=4)

    root = str(tmp_path / "t2")
    table = CDCEngine.create_table(root, num_buckets=4)
    eng = CDCEngine(spark, table)
    # first pass
    q = run_stream(
        eng, stream_changes(spark, log_dir), checkpoint_dir=str(tmp_path / "c1")
    )
    q.awaitTermination(300)
    v = table.current().version
    state = as_tuple_set(
        [r.asDict() for r in table.read(spark).collect()], PAYLOAD_COLUMNS
    )
    # "lost checkpoint" restart: fresh streaming checkpoint redelivers all
    # files; the LSN watermark makes it a no-op
    q2 = run_stream(
        eng, stream_changes(spark, log_dir), checkpoint_dir=str(tmp_path / "c2")
    )
    q2.awaitTermination(300)
    assert table.current().version == v  # nothing recommitted
    got = as_tuple_set(
        [r.asDict() for r in table.read(spark).collect()], PAYLOAD_COLUMNS
    )
    assert got == state


def test_stateful_running_digest(spark, tmp_path):
    """applyInPandasWithState per-key digest: state persists across
    micro-batches AND across query restarts (same checkpoint), and the
    final digest equals the batch groupBy over the whole log."""
    import os

    from pyspark.sql import functions as F

    from dbimport_spark.streaming.stateful import running_key_state

    log_dir = str(tmp_path / "stlog")
    changes = generate_changes(spark, 800, n_keys=40, seed=47)
    write_changes_segments(changes.filter("lsn <= 400"), log_dir, n_segments=2)

    ckpt = str(tmp_path / "stck")
    emitted: list = []

    def run_once():
        q = (
            running_key_state(stream_changes(spark, log_dir))
            .writeStream.foreachBatch(
                lambda df, _bid: emitted.extend(df.collect())
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    run_once()

    # more segments arrive; a RESTARTED query must resume its state
    stage = str(tmp_path / "ststage")
    seg = write_changes_segments(changes.filter("lsn > 400"), stage, n_segments=1)[0]
    os.replace(seg, os.path.join(log_dir, "seg-late.parquet"))
    run_once()

    # last emitted update per key = the final digest
    final: dict = {}
    for r in sorted(emitted, key=lambda r: (r["max_lsn"], r["events"])):
        final[r["doc_id"]] = r
    got = {
        (r["doc_id"], r["events"], r["max_lsn"], r["deletes"], r["last_op"])
        for r in final.values()
    }
    expected_df = changes.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("events"),
        F.max("lsn").alias("max_lsn"),
        F.sum(F.when(F.col("op") == "D", 1).otherwise(0)).alias("deletes"),
        F.max_by("op", "lsn").alias("last_op"),
    )
    expected = {
        (r["doc_id"], r["events"], r["max_lsn"], r["deletes"], r["last_op"])
        for r in expected_df.collect()
    }
    assert got == expected


def test_stream_late_segment_recover_converges(spark, tmp_path, caplog, capsys):
    """on_out_of_order='recover': a segment arriving AFTER a later one was
    committed triggers a key-scoped authoritative re-fold over the
    per-segment ledger — the stream converges to the full-log fold without
    manual batch replay (VERDICT r2 #9)."""
    import os

    log_dir = str(tmp_path / "rlog")
    os.makedirs(log_dir)
    changes = generate_changes(spark, 1000, n_keys=50, seed=41)
    late = changes.filter("lsn <= 500")
    first = changes.filter("lsn > 500")
    write_changes_segments(first, log_dir, n_segments=1)

    table = CDCEngine.create_table(str(tmp_path / "rt"), num_buckets=4)
    eng = CDCEngine(spark, table)
    ckpt = str(tmp_path / "rck")
    q = run_stream(eng, stream_changes(spark, log_dir), checkpoint_dir=ckpt)
    q.awaitTermination(300)
    assert table.last_lsn() == 1000

    # the EARLIER segment shows up late
    stage = str(tmp_path / "rstage")
    late_file = write_changes_segments(late, stage, n_segments=1)[0]
    os.replace(late_file, os.path.join(log_dir, "seg-late.parquet"))
    q2 = run_stream(
        eng, stream_changes(spark, log_dir), checkpoint_dir=ckpt,
        on_out_of_order="recover",
    )
    q2.awaitTermination(300)

    got = as_tuple_set(
        [r.asDict() for r in table.read(spark).collect()], PAYLOAD_COLUMNS
    )
    expected = lww_fold([r.asDict() for r in changes.collect()])
    assert got == as_tuple_set(list(expected.values()), PAYLOAD_COLUMNS)
    assert table.last_lsn() == 1000  # watermark never moved backward
    # the recovery is reported as a log record, never on stdout (the
    # stream verb's stdout carries only its JSON result)
    assert any(
        r.levelname == "WARNING" and r.getMessage().startswith("RECOVER")
        and "seg-late" in r.getMessage()
        for r in caplog.records
        if r.name == "dbimport_spark.streaming.stream"
    )
    assert capsys.readouterr().out == ""


def test_stream_auto_escalates_on_restarted_checkpoint(spark, tmp_path):
    """ADVICE r2: under 'auto', a late segment arriving on micro-batch 0 of
    a RESTARTED checkpoint (ledger exists) must raise — only a brand-new
    checkpoint's first batch is the benign catch-up case."""
    import os

    import pytest

    log_dir = str(tmp_path / "alog")
    os.makedirs(log_dir)
    changes = generate_changes(spark, 1000, n_keys=50, seed=43)
    write_changes_segments(changes.filter("lsn > 500"), log_dir, n_segments=1)

    table = CDCEngine.create_table(str(tmp_path / "at"), num_buckets=4)
    eng = CDCEngine(spark, table)
    ckpt = str(tmp_path / "ack")
    q = run_stream(eng, stream_changes(spark, log_dir), checkpoint_dir=ckpt)
    q.awaitTermination(300)

    stage = str(tmp_path / "astage")
    late_file = write_changes_segments(
        changes.filter("lsn <= 500"), stage, n_segments=1
    )[0]
    os.replace(late_file, os.path.join(log_dir, "seg-late.parquet"))
    # SAME checkpoint, default 'auto': batch 0 of this run, but the ledger
    # marks the checkpoint as restarted -> hard error, not a warning
    q2 = run_stream(eng, stream_changes(spark, log_dir), checkpoint_dir=ckpt)
    with pytest.raises(Exception, match="below the committed watermark"):
        q2.awaitTermination(300)
        raise AssertionError("auto policy must escalate on a restarted checkpoint")


def test_stream_recover_catchup_does_not_regress_state(spark, tmp_path):
    """code-review r3: 'recover' on a fresh checkpoint's catch-up batch must
    NOT repair from the (empty) ledger — that fold would regress keys to
    stale values. It downgrades to a warning and leaves state untouched."""
    import os

    log_dir = str(tmp_path / "cglog")
    os.makedirs(log_dir)
    changes = generate_changes(spark, 1000, n_keys=50, seed=47)
    table = CDCEngine.create_table(str(tmp_path / "cgt"), num_buckets=4)
    eng = CDCEngine(spark, table)
    # table fully up to date via batch replay in TWO windows, so the last
    # commit's lineage anchors at lsn 501 — an early segment is then
    # classified late, triggering the policy decision under test
    eng.replay(changes, num_batches=2)
    assert table.last_lsn() == 1000
    v = table.current().version
    before = as_tuple_set(
        [r.asDict() for r in table.read(spark).collect()], PAYLOAD_COLUMNS
    )

    # only the EARLY half is (re-)delivered to a brand-new checkpoint
    write_changes_segments(changes.filter("lsn <= 400"), log_dir, n_segments=1)
    q = run_stream(
        eng, stream_changes(spark, log_dir),
        checkpoint_dir=str(tmp_path / "cgc"), on_out_of_order="recover",
    )
    q.awaitTermination(300)
    # no repair commit, byte-identical state
    assert table.current().version == v
    after = as_tuple_set(
        [r.asDict() for r in table.read(spark).collect()], PAYLOAD_COLUMNS
    )
    assert after == before


def test_stream_codelivered_late_segment_not_masked(spark, tmp_path):
    """code-review r3: a late segment co-delivered WITH a benign re-run of
    the watermark-setting window must still be detected (the old batch-wide
    hi==watermark signature masked it); under 'warn' the skipped late
    segment must NOT be ledgered, so it stays recoverable."""
    import json
    import os

    import pytest

    log_dir = str(tmp_path / "colog")
    os.makedirs(log_dir)
    changes = generate_changes(spark, 1000, n_keys=50, seed=49)
    table = CDCEngine.create_table(str(tmp_path / "cot"), num_buckets=4)
    eng = CDCEngine(spark, table)
    eng.replay(changes, num_batches=2)  # last window (500, 1000]

    # one batch delivers BOTH: the re-run of the watermark window (benign,
    # min_lsn inside the last commit's window) and a genuinely late early
    # segment (min_lsn predates it)
    write_changes_segments(changes.filter("lsn > 500"), log_dir, n_segments=1)
    stage = str(tmp_path / "costage")
    late_file = write_changes_segments(
        changes.filter("lsn <= 300"), stage, n_segments=1
    )[0]
    os.replace(late_file, os.path.join(log_dir, "seg-late.parquet"))

    with pytest.raises(Exception, match="below the committed watermark"):
        q = run_stream(
            eng, stream_changes(spark, log_dir),
            checkpoint_dir=str(tmp_path / "coc1"), on_out_of_order="error",
        )
        q.awaitTermination(300)
        raise AssertionError("co-delivered late segment was masked")

    # mid-stream 'warn' (restarted checkpoint, so NOT the catch-up case):
    # continues, but the skipped late segment is NOT recorded in the
    # ledger — future re-delivery must not look benign. First establish
    # the checkpoint on the benign window alone, then let the late
    # segment arrive.
    os.rename(
        os.path.join(log_dir, "seg-late.parquet"),
        os.path.join(str(tmp_path), "seg-late-parked.parquet"),
    )
    ckpt2 = str(tmp_path / "coc2")
    q2 = run_stream(
        eng, stream_changes(spark, log_dir), checkpoint_dir=ckpt2
    )
    q2.awaitTermination(300)
    os.rename(
        os.path.join(str(tmp_path), "seg-late-parked.parquet"),
        os.path.join(log_dir, "seg-late.parquet"),
    )
    q3 = run_stream(
        eng, stream_changes(spark, log_dir),
        checkpoint_dir=ckpt2, on_out_of_order="warn",
    )
    q3.awaitTermination(300)
    ledger = os.path.join(ckpt2, "dbimport-segments.jsonl")
    files = [json.loads(line)["file"] for line in open(ledger)]
    assert not any("seg-late" in f for f in files)
    assert any("seg-late" not in f for f in files)  # the benign rerun IS ledgered


def test_stream_recover_late_prerename_segment_keeps_payload(spark, tmp_path):
    """ADVICE r3: under 'recover', a late segment written BEFORE a declared
    rename must have its old-name payload columns folded into their
    successors. The stream frame is read with the FIXED stream schema
    (old names nulled), so the recover path must re-read THIS batch's
    segment paths from disk with mergeSchema — not union the stream frame."""
    import os

    from pyspark.sql import types as T

    from dbimport_spark.schema import CHANGE_SCHEMA

    new_schema = T.StructType(
        [
            T.StructField(
                "origin" if f.name == "source" else f.name, f.dataType, f.nullable
            )
            for f in CHANGE_SCHEMA.fields
        ]
    )
    log_dir = str(tmp_path / "prlog")
    os.makedirs(log_dir)
    new_seg = local_frame(
        spark,
        [
            (2, "U", "k1", [9], 1, "press", None),
            (3, "I", "k3", [3], 1, "wiki", None),
        ],
        CHANGE_SCHEMA,
    ).withColumnRenamed("source", "origin")
    write_changes_segments(new_seg, log_dir, n_segments=1)

    table = CDCEngine.create_table(str(tmp_path / "prt"), num_buckets=4)
    eng = CDCEngine(spark, table, renames={"source": "origin"})
    ckpt = str(tmp_path / "prck")
    q = run_stream(
        eng, stream_changes(spark, log_dir, schema=new_schema), checkpoint_dir=ckpt
    )
    q.awaitTermination(300)
    assert table.last_lsn() == 3
    assert "origin" in table.current().schema.fieldNames()

    # late PRE-rename segment: lsn 1 carries k2's only row image under the
    # OLD column name — if recover trusted the fixed-schema stream frame,
    # k2 would materialize with origin=null
    late = local_frame(
        spark,
        [(1, "I", "k2", [2], 1, "web", None)], CHANGE_SCHEMA
    )
    stage = str(tmp_path / "prstage")
    late_file = write_changes_segments(late, stage, n_segments=1)[0]
    os.replace(late_file, os.path.join(log_dir, "seg-late.parquet"))
    q2 = run_stream(
        eng,
        stream_changes(spark, log_dir, schema=new_schema),
        checkpoint_dir=ckpt,
        on_out_of_order="recover",
    )
    q2.awaitTermination(300)

    got = {(r["doc_id"], r["origin"]) for r in table.read(spark).collect()}
    assert got == {("k1", "press"), ("k2", "web"), ("k3", "wiki")}
    assert table.last_lsn() == 3


def test_stream_warn_straddling_segment_wholly_skipped(
    spark, tmp_path, caplog, capsys
):
    """ADVICE r3: under 'warn', a late segment that STRADDLES the watermark
    (min_lsn <= last < max_lsn) must stay wholly unprocessed — applying its
    fresh rows while excluding it from the ledger would advance the
    watermark past skipped events and under-represent absorbed history.
    The skipped file then recovers cleanly as one unit (repair + replay)."""
    import os

    changes = generate_changes(spark, 1200, n_keys=60, seed=53)
    main_part = changes.filter("lsn > 500 AND lsn <= 1000")
    straddle = changes.filter("lsn <= 500 OR lsn > 1000")

    log_dir = str(tmp_path / "stlog")
    os.makedirs(log_dir)
    write_changes_segments(main_part, log_dir, n_segments=1)

    table = CDCEngine.create_table(str(tmp_path / "stt"), num_buckets=4)
    eng = CDCEngine(spark, table)
    ckpt = str(tmp_path / "stck")
    q = run_stream(eng, stream_changes(spark, log_dir), checkpoint_dir=ckpt)
    q.awaitTermination(300)
    assert table.last_lsn() == 1000
    v = table.current().version
    before = as_tuple_set(
        [r.asDict() for r in table.read(spark).collect()], PAYLOAD_COLUMNS
    )

    stage = str(tmp_path / "ststage")
    f = write_changes_segments(straddle, stage, n_segments=1)[0]
    os.replace(f, os.path.join(log_dir, "seg-straddle.parquet"))
    q2 = run_stream(
        eng,
        stream_changes(spark, log_dir),
        checkpoint_dir=ckpt,
        on_out_of_order="warn",
    )
    q2.awaitTermination(300)

    # wholly skipped: no commit, watermark unmoved, file NOT ledgered
    assert table.last_lsn() == 1000
    assert table.current().version == v
    after = as_tuple_set(
        [r.asDict() for r in table.read(spark).collect()], PAYLOAD_COLUMNS
    )
    assert after == before
    import json as _json

    ledger = os.path.join(ckpt, "dbimport-segments.jsonl")
    files = [_json.loads(line)["file"] for line in open(ledger)]
    assert not any("straddle" in p for p in files)
    # the skip is reported as a log record, never on stdout
    assert any(
        r.levelname == "WARNING" and r.getMessage().startswith("WARN")
        and "seg-straddle" in r.getMessage()
        for r in caplog.records
        if r.name == "dbimport_spark.streaming.stream"
    )
    assert capsys.readouterr().out == ""

    # clean recovery as one unit: repair the below-watermark half, replay
    # the fresh half — converges on the full-log fold
    full_log = spark.read.parquet(log_dir)
    eng.repair_keys(full_log, window=(0, 1000))
    eng.replay(full_log, num_batches=1)
    got = as_tuple_set(
        [r.asDict() for r in table.read(spark).collect()], PAYLOAD_COLUMNS
    )
    expected = lww_fold([r.asDict() for r in changes.collect()])
    assert got == as_tuple_set(list(expected.values()), PAYLOAD_COLUMNS)
    assert table.last_lsn() == 1200


def test_stream_crash_between_commit_and_ledger_append(spark, tmp_path):
    """VERDICT r3 #10 (chaos): kill the stream AFTER the table commit but
    BEFORE the ledger append — the one crash window the late-segment
    classifier reasons about. On restart the re-delivered segment's rows
    sit below the watermark and the segment is unledgered, yet it must be
    classified a benign window re-run (lineage anchor), applied as a
    no-op, and ledgered — even under the strict default policy."""
    import json
    import os

    from dbimport_spark.lake.statestore import LocalStateStore

    class CrashBeforeAppend(LocalStateStore):
        """Raises on the Nth append_line call, BEFORE writing it."""

        def __init__(self, crash_on_call: int):
            super().__init__()
            self.calls = 0
            self.crash_on_call = crash_on_call

        def append_line(self, path, line):
            self.calls += 1
            if self.calls == self.crash_on_call:
                raise RuntimeError("injected crash before ledger append")
            super().append_line(path, line)

    log_dir = str(tmp_path / "chlog")
    changes = generate_changes(spark, 1000, n_keys=50, seed=61)
    write_changes_segments(changes, log_dir, n_segments=2)

    table = CDCEngine.create_table(str(tmp_path / "cht"), num_buckets=4)
    eng = CDCEngine(spark, table)
    ckpt = str(tmp_path / "chck")
    # batch 0 = segment 1 (ledger append call #1 succeeds); batch 1 =
    # segment 2 (call #2 crashes after its apply_batch committed)
    crashing = CrashBeforeAppend(crash_on_call=2)
    q = run_stream(
        eng,
        stream_changes(spark, log_dir, max_files_per_trigger=1),
        checkpoint_dir=ckpt,
        state_store=crashing,
    )
    import pytest as _pytest

    with _pytest.raises(Exception, match="injected crash"):
        q.awaitTermination(300)
        raise AssertionError("query should have died on the injected crash")
    # the crash window: table commit happened, ledger did not
    assert table.last_lsn() == 1000
    ledger = os.path.join(ckpt, "dbimport-segments.jsonl")
    ledgered = [json.loads(ln)["file"] for ln in open(ledger)]
    assert len(ledgered) == 1
    v = table.current().version

    # restart, STRICT policy: Structured Streaming re-runs the failed
    # batch; its segment is below-watermark + unledgered, but the lineage
    # anchor classifies it benign — no error, no re-apply, ledger repaired
    q2 = run_stream(
        eng,
        stream_changes(spark, log_dir, max_files_per_trigger=1),
        checkpoint_dir=ckpt,
        on_out_of_order="auto",
    )
    q2.awaitTermination(300)
    assert table.last_lsn() == 1000
    assert table.current().version == v  # the re-run applied nothing
    ledgered = [json.loads(ln)["file"] for ln in open(ledger)]
    assert len(ledgered) == 2

    got = as_tuple_set(
        [r.asDict() for r in table.read(spark).collect()], PAYLOAD_COLUMNS
    )
    expected = lww_fold([r.asDict() for r in spark.read.parquet(log_dir).collect()])
    assert got == as_tuple_set(list(expected.values()), PAYLOAD_COLUMNS)


def test_windowed_event_counts_stream_matches_batch(spark, tmp_path):
    """Event-time tumbling windows with a watermark: the streamed result
    (update mode, latest revision per window) equals the batch groupBy
    over the same log — including a late-but-within-horizon row that
    revises its window."""
    from dbimport_spark.streaming.windowed import (
        run_windowed_counts,
        windowed_event_counts,
    )

    log_dir = str(tmp_path / "wlog")
    changes = generate_changes(spark, 2000, n_keys=100, seed=71)
    # loggen stamps commit_ts = EPOCH0 + lsn seconds -> ~33 one-minute windows
    write_changes_segments(changes, log_dir, n_segments=4)

    q = run_windowed_counts(
        stream_changes(spark, log_dir, max_files_per_trigger=1),
        checkpoint_dir=str(tmp_path / "wck"),
        query_name="win_counts",
        window="1 minute",
        watermark="2 minutes",
    )
    q.awaitTermination(300)

    # update mode re-emits revisions; keep the LAST row per (window, op)
    got = {}
    for r in spark.table("win_counts").collect():
        got[(r["window_start"], r["op"])] = (
            r["n_events"], r["approx_keys"], r["max_lsn"]
        )
    expected = {
        (r["window_start"], r["op"]): (r["n_events"], r["approx_keys"], r["max_lsn"])
        for r in windowed_event_counts(
            spark.read.parquet(log_dir), window="1 minute"
        ).collect()
    }
    assert got == expected
    assert len({k[0] for k in got}) > 5  # genuinely multiple windows


def test_windowed_append_mode_drops_beyond_horizon(spark, tmp_path):
    """Append mode + watermark: windows are emitted once closed, and a row
    arriving LATER than the watermark horizon is dropped from the
    aggregation (the bounded-state contract)."""
    import os

    from dbimport_spark.streaming.windowed import windowed_event_counts

    log_dir = str(tmp_path / "alog")
    os.makedirs(log_dir)
    changes = generate_changes(spark, 2000, n_keys=100, seed=73)
    # deliver in two segments: everything except one early window, then the
    # early straggler AFTER event time has advanced far past the horizon
    main = changes.filter("lsn > 60")
    straggler = changes.filter("lsn <= 60")  # first minute of event time
    write_changes_segments(main, log_dir, n_segments=1)

    ckpt = str(tmp_path / "ack")
    emitted: list = []

    def run_once():
        # memory sink cannot recover a checkpoint; foreachBatch can
        q = (
            windowed_event_counts(
                stream_changes(spark, log_dir, max_files_per_trigger=1),
                window="1 minute",
                watermark="2 minutes",
            )
            .writeStream.outputMode("append")
            .foreachBatch(lambda df, _bid: emitted.extend(df.collect()))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    run_once()
    stage = str(tmp_path / "astage")
    f = write_changes_segments(straggler, stage, n_segments=1)[0]
    os.replace(f, os.path.join(log_dir, "seg-straggler.parquet"))
    run_once()

    # each closed window was emitted exactly once
    keys = [(r["window_start"], r["op"]) for r in emitted]
    assert len(keys) == len(set(keys))
    # the straggler's window closed long before it arrived: its rows are
    # dropped, so no emitted window covers the straggler's minute and the
    # total emitted events never exceed the main delivery
    first_minute = {r["window_start"] for r in emitted}
    straggler_start = min(
        r["commit_ts"] for r in straggler.select("commit_ts").collect()
    ).replace(second=0, microsecond=0)
    assert straggler_start not in first_minute
    assert sum(r["n_events"] for r in emitted) <= main.count()
    assert len(emitted) > 5


def test_stream_on_batch_applied_syncs_derived_targets(spark, tmp_path):
    """Derived maintenance in lock-step with the stream: the
    on_batch_applied hook syncs a matview after every applied
    micro-batch; when the stream drains, the view equals a direct
    groupBy of the table — and the per-batch sync count shows it
    advanced DURING the stream, not in one final pass."""
    from dbimport_spark.plans.matview import (
        AggSpec,
        create_view,
        sync_view,
        verify_view,
    )

    from dbimport_spark.sources.loggen import write_changes_segments

    log_dir = str(tmp_path / "log-mv")
    write_changes_segments(
        generate_changes(spark, 1200, n_keys=80, seed=43), log_dir,
        n_segments=6,
    )
    table = CDCEngine.create_table(str(tmp_path / "t-mv"), num_buckets=4)
    eng = CDCEngine(spark, table)
    spec = AggSpec(group_cols=["source"], sum_cols=["n_tok"])
    view_t = create_view(str(tmp_path / "v-mv"), table, spec, num_buckets=2)
    veng = CDCEngine(spark, view_t)

    synced = []

    def hook(stats):
        synced.append(sync_view(spark, table, veng, spec))

    q = run_stream(
        eng,
        stream_changes(spark, log_dir, max_files_per_trigger=2),
        checkpoint_dir=str(tmp_path / "c-mv"),
        on_batch_applied=hook,
    )
    q.awaitTermination(300)
    assert len(synced) >= 2  # advanced per micro-batch, not once at the end
    assert all(not b.skipped for b in synced)
    assert verify_view(spark, table, view_t, spec)["converged"]
    assert view_t.last_lsn() == table.current().version


def test_stream_mor_mode_converges(spark, tmp_path):
    """Micro-batches landed as merge-on-read deltas (the --write-mode mor
    stream path): the stream converges to the batch fold, the bootstrap
    segment lands as base, later segments append deltas, and a mid-stream
    compaction-equivalent read reconciles identically."""
    log_dir = str(tmp_path / "logm")
    changes = generate_changes(spark, 2000, n_keys=120, seed=23)
    write_changes_segments(changes, log_dir, n_segments=5)

    root = str(tmp_path / "tm")
    table = CDCEngine.create_table(root, num_buckets=8)
    eng = CDCEngine(spark, table, write_mode="mor")
    q = run_stream(
        eng,
        stream_changes(spark, log_dir, max_files_per_trigger=1),
        checkpoint_dir=str(tmp_path / "sckm"),
    )
    q.awaitTermination(300)

    kinds = {f.kind for f in table.current().files}
    assert "delta" in kinds, kinds  # steady-state micro-batches were MOR
    got = as_tuple_set(
        [r.asDict() for r in table.read(spark).collect()], PAYLOAD_COLUMNS
    )
    expected = lww_fold(
        [r.asDict() for r in spark.read.parquet(log_dir).collect()]
    )
    assert got == as_tuple_set(list(expected.values()), PAYLOAD_COLUMNS)
    assert table.last_lsn() == 2000

    # folding the deltas preserves the streamed state exactly
    from dbimport_spark.lake.maintenance import compact

    compact(spark, table, max_files_per_bucket=0)
    post = as_tuple_set(
        [r.asDict() for r in table.read(spark).collect()], PAYLOAD_COLUMNS
    )
    assert post == got


def test_stream_parked_dead_letters_not_rewedged_or_reparked(spark, tmp_path):
    """Catch-up stream on a FRESH checkpoint over an archive whose
    corrupt (null-lsn) rows a batch replay already parked: the dead
    letters must neither wedge batch 0 (re-delivery / catch-up is
    benign — the quarantine's dl_srcfile record proves they were
    handled) nor be re-parked under a new window. An UNPARKED bad-only
    segment still stops the stream loudly, and park_dead_letters is the
    working remedy."""
    import datetime as dt
    import time

    import pytest
    from pyspark.sql import types as T

    from dbimport_spark.schema import CHANGE_SCHEMA

    LAX = T.StructType(
        [T.StructField(f.name, f.dataType, True) for f in CHANGE_SCHEMA.fields]
    )
    TS = dt.datetime(2024, 1, 1)
    log_dir = str(tmp_path / "log")

    def seg(rows):
        local_frame(spark, rows, LAX).coalesce(1).write.mode(
            "append"
        ).parquet(log_dir)
        time.sleep(0.05)  # distinct mtimes: the WAL-tailer delivery order

    seg([(1, "I", "k1", [1], 1, "web", TS),
         (None, "I", "kx", [9], 1, "web", TS)])
    table = CDCEngine.create_table(str(tmp_path / "t"), num_buckets=4)
    eng = CDCEngine(spark, table, quarantine_dir=str(tmp_path / "q"))
    assert eng.replay(spark.read.parquet(log_dir)).events_quarantined == 1

    # fresh-checkpoint catch-up over the parked archive + one new segment
    seg([(2, "I", "k2", [2], 1, "web", TS)])
    q = run_stream(
        eng, stream_changes(spark, log_dir),
        checkpoint_dir=str(tmp_path / "c1"),
    )
    q.awaitTermination(300)
    assert table.last_lsn() == 2
    assert len(eng.list_quarantine()) == 1  # not re-parked

    # an unparked bad-only segment is a loud stop...
    seg([(None, "I", "ky", [9], 1, "web", TS)])
    q2 = run_stream(
        eng, stream_changes(spark, log_dir),
        checkpoint_dir=str(tmp_path / "c2"),
    )
    with pytest.raises(Exception, match="unparked malformed"):
        q2.awaitTermination(300)
    # ...and the message's remedy actually unblocks: park, then resume
    assert eng.park_dead_letters(spark.read.parquet(log_dir)) == 1
    q3 = run_stream(
        eng, stream_changes(spark, log_dir),
        checkpoint_dir=str(tmp_path / "c3"),
    )
    q3.awaitTermination(300)
    assert table.last_lsn() == 2
    assert len(eng.list_quarantine()) == 2


def test_rate_capped_catchup_spans_batches_under_auto(spark, tmp_path):
    """A fresh-checkpoint catch-up over an already-replayed log with
    maxFilesPerTrigger=1 spans several micro-batches; batch 1+ must keep
    its catch-up standing under 'auto' (previously only batch 0 did, so
    a rate-capped catch-up died with LogTruncatedError on a healthy
    log). After the drain every segment is ledgered and the table is
    byte-unchanged."""
    import json
    import os

    log_dir = str(tmp_path / "rclog")
    changes = generate_changes(spark, 1200, n_keys=60, seed=51)
    write_changes_segments(changes, log_dir, n_segments=5)
    table = CDCEngine.create_table(str(tmp_path / "rct"), num_buckets=4)
    eng = CDCEngine(spark, table)
    eng.replay(spark.read.parquet(log_dir), num_batches=3)
    v0 = table.current().version

    ckpt = str(tmp_path / "rck")
    q = run_stream(
        eng,
        stream_changes(spark, log_dir, max_files_per_trigger=1),
        checkpoint_dir=ckpt,
    )
    q.awaitTermination(300)
    assert table.current().version == v0  # nothing re-applied
    ledger = os.path.join(ckpt, "dbimport-segments.jsonl")
    files = {json.loads(line)["file"] for line in open(ledger)}
    assert len(files) == 5  # every catch-up segment absorbed

    # and the phase is OVER: a late old segment arriving now errors
    stage = str(tmp_path / "rcstage")
    late = write_changes_segments(
        changes.filter("lsn <= 200"), stage, n_segments=1
    )[0]
    os.replace(late, os.path.join(log_dir, "seg-after.parquet"))
    import pytest as _pytest

    with _pytest.raises(Exception, match="below the committed watermark"):
        q2 = run_stream(
            eng, stream_changes(spark, log_dir), checkpoint_dir=ckpt
        )
        q2.awaitTermination(300)
        raise AssertionError("late segment after catch-up was masked")


def test_recover_parks_dead_letters_from_late_segment(spark, tmp_path):
    """'recover' over a late segment that also carries a null-lsn row:
    the ordered rows are recovered AND the malformed row is parked in
    the quarantine — previously the batch raised after the recovery
    commit, wedging the stream in a crash loop."""
    import datetime as dt
    import os

    from pyspark.sql import types as T

    from dbimport_spark.schema import CHANGE_SCHEMA

    LAX = T.StructType(
        [T.StructField(f.name, f.dataType, True) for f in CHANGE_SCHEMA.fields]
    )
    TS = dt.datetime(2024, 1, 1)
    log_dir = str(tmp_path / "rplog")
    os.makedirs(log_dir)
    table = CDCEngine.create_table(
        str(tmp_path / "rpt"), num_buckets=4, soft_delete=True,
        track_lsn=True,
    )
    qdir = str(tmp_path / "rpq")
    eng = CDCEngine(spark, table, quarantine_dir=qdir)

    fresh = local_frame(
        spark,
        [
            (10, "I", "a", [1], 1, "web", TS),
            (11, "I", "b", [2], 1, "web", TS),
        ],
        LAX,
    )
    stage1 = str(tmp_path / "rpstage1")
    fresh.coalesce(1).write.parquet(stage1)
    part1 = [f for f in os.listdir(stage1) if f.endswith(".parquet")][0]
    os.replace(
        os.path.join(stage1, part1), os.path.join(log_dir, "seg-1.parquet")
    )
    ckpt = str(tmp_path / "rpck")
    q = run_stream(
        eng, stream_changes(spark, log_dir), checkpoint_dir=ckpt
    )
    q.awaitTermination(300)
    assert table.last_lsn() == 11

    # late segment: one genuinely late ordered row + one null-lsn row
    late = local_frame(
        spark,
        [
            (5, "I", "c", [9], 1, "web", TS),
            (None, "I", "zz", [7], 1, "web", TS),
        ],
        LAX,
    )
    stage = str(tmp_path / "rpstage")
    late.coalesce(1).write.parquet(stage)
    part = [f for f in os.listdir(stage) if f.endswith(".parquet")][0]
    os.replace(
        os.path.join(stage, part), os.path.join(log_dir, "seg-0.parquet")
    )
    q2 = run_stream(
        eng, stream_changes(spark, log_dir), checkpoint_dir=ckpt,
        on_out_of_order="recover",
    )
    q2.awaitTermination(300)
    rows = {r["doc_id"]: r for r in table.read(spark).collect()}
    assert rows["c"]["tokens"] == [9]  # late ordered row recovered
    assert "zz" not in rows
    parked = [d for d in os.listdir(qdir) if d.startswith("batch-")]
    assert parked, "malformed row was not parked"
    import pyspark.sql.functions as F

    park_df = spark.read.parquet(*(os.path.join(qdir, d) for d in parked))
    assert park_df.filter(F.col("doc_id") == "zz").count() == 1
    # and the stream is NOT wedged: a re-run over the same checkpoint is
    # a no-op (the segment is ledgered, the dead letter stays parked once)
    q3 = run_stream(
        eng, stream_changes(spark, log_dir), checkpoint_dir=ckpt,
        on_out_of_order="recover",
    )
    q3.awaitTermination(300)
    assert park_df.count() == spark.read.parquet(
        *(os.path.join(qdir, d) for d in parked)
    ).count()


def test_replay_and_stream_park_in_window_dead_letters_alike(spark, tmp_path):
    """One log whose segments carry null-lsn rows next to fresh rows, fed
    through batch replay and through the stream into twin tables, each
    with its own quarantine: both ingest paths admit windows through the
    same step, so they end with the same live rows and the same parked
    dead letters (payload, reason, source segment), and a second pass of
    either parks nothing new."""
    import datetime as dt
    import os
    import time

    from pyspark.sql import types as T

    from dbimport_spark.schema import CHANGE_SCHEMA

    LAX = T.StructType(
        [T.StructField(f.name, f.dataType, True) for f in CHANGE_SCHEMA.fields]
    )
    TS = dt.datetime(2024, 1, 1)
    log_dir = str(tmp_path / "log")
    for rows in (
        [(1, "I", "k1", [1], 1, "web", TS), (None, "I", "kx", [7], 1, "web", TS),
         (2, "I", "k2", [2], 1, "web", TS)],
        [(3, "U", "k1", [3], 1, "web", TS), (None, "U", "ky", [8], 1, "web", TS)],
        [(4, "D", "k2", None, None, None, TS), (5, "I", "k3", [5], 1, "web", TS)],
    ):
        local_frame(spark, rows, LAX).coalesce(1).write.mode("append").parquet(
            log_dir
        )
        time.sleep(0.05)  # distinct mtimes: the WAL-tailer delivery order

    def twin(name):
        table = CDCEngine.create_table(str(tmp_path / name), num_buckets=4)
        qdir = str(tmp_path / f"{name}-q")
        return table, qdir, CDCEngine(spark, table, quarantine_dir=qdir)

    def parked(qdir):
        dirs = [os.path.join(qdir, d) for d in os.listdir(qdir)]
        return sorted(
            (r["lsn"], r["op"], r["doc_id"], tuple(r["tokens"]), r["n_tok"],
             r["source"], r["commit_ts"], r["dl_reason"], r["dl_srcfile"])
            for r in spark.read.parquet(*dirs).collect()
        )

    def live(table):
        return as_tuple_set(
            [r.asDict() for r in table.read(spark).collect()], PAYLOAD_COLUMNS
        )

    rt, rq, reng = twin("r")
    assert reng.replay(spark.read.parquet(log_dir), num_batches=2) \
        .events_quarantined == 2
    st, sq, seng = twin("s")
    run_stream(
        seng, stream_changes(spark, log_dir, max_files_per_trigger=1),
        checkpoint_dir=str(tmp_path / "c1"),
    ).awaitTermination(300)

    assert rt.last_lsn() == st.last_lsn() == 5
    assert live(rt) == live(st)
    expected = lww_fold(
        [r.asDict() for r in spark.read.parquet(log_dir).collect()
         if r["lsn"] is not None]
    )
    assert live(rt) == as_tuple_set(list(expected.values()), PAYLOAD_COLUMNS)
    parked_r, parked_s = parked(rq), parked(sq)
    assert [p[2] for p in parked_r] == ["kx", "ky"]
    assert all(p[-1].endswith(".parquet") for p in parked_r)
    assert parked_r == parked_s

    # a second pass parks nothing new: a re-run replay, and a fresh
    # checkpoint re-delivering every segment to the stream
    assert reng.replay(spark.read.parquet(log_dir)).events_quarantined == 0
    run_stream(
        seng, stream_changes(spark, log_dir),
        checkpoint_dir=str(tmp_path / "c2"),
    ).awaitTermination(300)
    assert parked(rq) == parked_r and parked(sq) == parked_s
