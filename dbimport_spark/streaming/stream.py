"""Structured Streaming front-end: tail the change-log directory.

The reference realizes streaming concepts in batch (SURVEY.md §2.7); here
the same apply path runs under Structured Streaming via ``foreachBatch``:

    readStream(file source over the log dir)
      → foreachBatch(micro_batch -> CDCEngine.apply_batch)

Exactly-once: Structured Streaming's checkpoint gives at-least-once
micro-batch delivery, and each micro-batch admits its window through the
same engine step as batch replay, so re-delivery is a no-op — the argument
is stated once, in ``CDCEngine.replay``. Late/out-of-order arrival inside a
micro-batch is absorbed by LWW dedup; events older than the committed
watermark are filtered (they were already applied from a previous file).

Ordering assumption: log segments are appended in LSN order (true for any
real binlog/WAL tailer writing sequential segments) and the file source
delivers them in discovery order — so the committed watermark only ever
trails the stream. Violations are detected per micro-batch and classified
against a per-segment ledger kept next to the checkpoint (``run_stream``).
The reference's sources are all scalar-watermark ordered
(import_config.py:2087-2255); the ledger is the generalization a
bulk-parallel segment writer needs.
"""

from __future__ import annotations

import json
import logging
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dbimport_spark.plans.engine import CDCEngine
from dbimport_spark.schema import CHANGE_SCHEMA
from dbimport_spark.sources.changelog import LogTruncatedError

log = logging.getLogger(__name__)


def _ledger_path(checkpoint_dir: str) -> str:
    # lives inside the checkpoint dir (Structured Streaming ignores foreign
    # entries) so checkpoint loss and ledger loss are atomic — a fresh
    # checkpoint always starts with a fresh ledger, which is exactly the
    # "benign catch-up" signature the policy relies on
    return os.path.join(checkpoint_dir, "dbimport-segments.jsonl")


def _catchup_wm_path(checkpoint_dir: str) -> str:
    # the table watermark at the moment THIS checkpoint was created —
    # durable, so a rate-capped catch-up that spans several micro-batches
    # (or crashes mid-catch-up) keeps its catch-up standing across
    # batches and restarts; the phase ends the instant the stream first
    # advances the watermark (last > this value, forever)
    return os.path.join(checkpoint_dir, "dbimport-catchup-watermark.json")


def _ledger_read(path: str, store) -> dict[str, dict]:
    seen: dict[str, dict] = {}
    for line in store.read_lines(path):
        rec = json.loads(line)
        seen[rec["file"]] = rec
    return seen


def _ledger_append(path: str, records: list[dict], store) -> None:
    for rec in records:
        store.append_line(path, json.dumps(rec))


def stream_changes(
    spark: SparkSession,
    log_dir: str,
    schema=None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """readStream over the parquet change-log directory."""
    reader = spark.readStream.schema(schema or CHANGE_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(log_dir)


def run_stream(
    engine: CDCEngine,
    stream_df: DataFrame,
    checkpoint_dir: str,
    available_now: bool = True,
    on_out_of_order: str = "auto",
    state_store=None,
    on_batch_applied=None,
    reread=None,
):
    """Drive the CDC apply from a stream; returns the StreamingQuery.

    ``reread(spark, paths)`` — how the late-segment RECOVER path re-reads
    segment files from disk. Defaults to the native change-log format
    (parquet with mergeSchema, keeping pre-rename column names alive for
    the repair's alignment). A stream over a non-parquet wire format MUST
    pass its own re-reader (e.g. the Debezium source's
    ``read_debezium_changes(spark, paths)``) or the recover path would
    parse JSON-lines as parquet and die; the CLI wires this per
    ``--format``.

    ``on_batch_applied(stats)`` — optional callback invoked after each
    micro-batch whose fresh window was applied (not for skip/empty
    batches), with the apply's ``BatchStats``. The derived-maintenance
    hook: sync a mirror or matview here and downstream tables advance in
    lock-step with the stream (each keeps its own watermark, so a
    callback failure fails the micro-batch and Spark retries it — the
    re-apply is idempotent end to end).

    ``available_now=True`` processes everything present then stops (the
    batch-replay analogue); False runs continuously on new files.

    Ordering violations are DETECTED per micro-batch and classified with
    the per-segment ledger (``dbimport-segments.jsonl`` inside the
    checkpoint dir — one (file, lsn-range) record per processed segment):

    - below-watermark rows from segments the ledger already records are a
      benign re-delivery (crash between table commit and checkpoint
      commit, or checkpoint-loss catch-up): skipped silently, the
      at-least-once → exactly-once contract working as intended;
    - below-watermark rows from segments the ledger has NEVER seen are a
      genuinely late segment — a delivery that violated LSN order.

    ``on_out_of_order`` decides the late-segment response:

    - 'auto' (default): warn during the CATCH-UP PHASE of a brand-new
      checkpoint (the batch-replay-then-stream flow — until this stream
      first advances the table watermark past its durable stream-start
      value, every below-watermark segment is pre-stream history, so a
      rate-capped catch-up spanning several micro-batches, or a restart
      mid-catch-up, stays benign), raise ``LogTruncatedError`` once the
      stream has applied anything: from then on a below-watermark
      unledgered arrival is a real ordering violation.
    - 'recover': re-fold the late keys authoritatively over the full
      ledgered log + this batch (``CDCEngine.repair_keys``) — converges
      without manual intervention, then continue with the fresh rows;
    - 'error': always raise; 'warn': always warn and continue.
    """
    if on_out_of_order not in ("auto", "error", "warn", "recover"):
        raise ValueError(
            "on_out_of_order must be 'auto', 'error', 'warn' or 'recover'"
        )
    _reread = reread or (
        lambda spark, paths: spark.read.option("mergeSchema", "true").parquet(
            *paths
        )
    )
    # the ledger rides the small-state seam (lake/statestore.py): POSIX
    # append by default, record-per-object on a real object store. The
    # Structured Streaming checkpoint itself stays Spark-managed (Spark
    # already speaks HDFS/S3 there).
    from dbimport_spark.lake.statestore import DEFAULT_STORE

    store = state_store or DEFAULT_STORE
    ledger = _ledger_path(checkpoint_dir)
    fresh_checkpoint = not store.exists(ledger)
    # catch-up watermark: stamped once per checkpoint lifetime. A crash
    # between this write and the first ledger append re-reads the same
    # value (the stream applied nothing, so it is still correct); a
    # pre-existing checkpoint without the file is a legacy one — its
    # catch-up standing is batch-0-only, as before.
    wm_path = _catchup_wm_path(checkpoint_dir)
    if fresh_checkpoint and not store.exists(wm_path):
        store.write_text(
            wm_path,
            json.dumps({"watermark": int(engine.table.last_lsn())}),
        )
    _wm_txt = store.read_text(wm_path)
    catchup_wm: int | None = (
        int(json.loads(_wm_txt)["watermark"]) if _wm_txt else None
    )
    first_batch_id: list[int] = []  # batch ids persist across checkpoint restarts
    # the ledger is single-writer (this stream) and append-only: load once,
    # keep in memory, update on append — no per-trigger re-read of an
    # ever-growing file
    seen: dict[str, dict] = {}
    seen_loaded: list[bool] = []

    def apply_micro_batch(batch: DataFrame, batch_id: int) -> None:
        if not first_batch_id:
            first_batch_id.append(batch_id)  # first micro-batch of THIS run
        if not seen_loaded:
            seen.update(_ledger_read(ledger, store))
            seen_loaded.append(True)
        last = engine.table.last_lsn()
        spark = batch.sparkSession
        # ONE aggregation job per micro-batch: per-file lsn ranges + the
        # fresh/stale split (batch-wide numbers derive from these)
        per_file = [
            r.asDict()
            for r in batch.groupBy(F.input_file_name().alias("file"))
            .agg(
                F.count(F.lit(1)).alias("rows"),
                F.min("lsn").alias("min_lsn"),
                F.max("lsn").alias("max_lsn"),
                F.count(F.when(F.col("lsn") > F.lit(last), F.lit(1))).alias(
                    "fresh_rows"
                ),
                F.min(F.when(F.col("lsn") > F.lit(last), F.col("lsn"))).alias(
                    "fresh_lo"
                ),
                F.count(F.when(F.col("lsn").isNull(), F.lit(1))).alias(
                    "bad_rows"
                ),
            )
            .collect()
        ]
        if not per_file:
            return
        n_fresh = sum(r["fresh_rows"] for r in per_file)
        # min/max skip nulls: a file of ONLY malformed (null-lsn) rows has
        # min_lsn/max_lsn None — it carries no ordering evidence, so it
        # neither moves the window bounds nor classifies as late
        hi_vals = [r["max_lsn"] for r in per_file if r["max_lsn"] is not None]
        hi = max(hi_vals) if hi_vals else last

        # Classify unledgered below-watermark files. Benign re-delivery of
        # the watermark-setting window (crash between table commit and
        # ledger append) can only appear on the FIRST micro-batch of a run
        # — Structured Streaming re-runs the failed batch id on restart,
        # and a fresh checkpoint's batch 0 is the catch-up case. On that
        # first batch, the last commit's lineage gives the window's low
        # bound: files with min_lsn inside the window are the re-run;
        # files predating it are late even when co-delivered with it.
        # Mid-stream (any later batch) an unledgered below-watermark file
        # is late, full stop — classifying by lsn range there would let a
        # never-applied segment that happens to fall inside the last
        # window's range vanish silently.
        is_first_of_run = batch_id == first_batch_id[0]
        lin = engine.table.current().lineage
        # quarantine records (no "bucket" key) stamp the window's exclusive
        # low bound, not an applied event's lsn — including them would
        # misclassify a genuinely late segment at min_lsn == lo as a benign
        # window re-run. Only per-bucket applied records anchor prev_lo.
        prev_lo = min(
            (
                rec["first_lsn"]
                for rec in lin
                if "first_lsn" in rec and rec.get("bucket") is not None
            ),
            default=None,
        )
        candidates = [
            r
            for r in per_file
            if r["file"] not in seen
            and r["min_lsn"] is not None
            and r["min_lsn"] <= last
        ]
        ledger_hi = max(
            (
                r["max_lsn"]
                for r in seen.values()
                if r["max_lsn"] is not None
            ),
            default=None,
        )
        if not is_first_of_run:
            late = candidates
        elif prev_lo is not None:
            late = [r for r in candidates if r["min_lsn"] < prev_lo]
        else:
            # no lineage to anchor on (empty-window or repair commit
            # last): fall back to the batch-wide signature of a pure
            # window re-run — WHICH IS ONLY POSSIBLE while the ledger
            # does not already cover the watermark. If it does, the
            # watermark-setting window IS ledgered, so an unledgered
            # file that merely tops out at the watermark is a genuinely
            # late segment, not a crash re-delivery; ledgering it here
            # would silently discard its events forever.
            rerun_possible = ledger_hi is None or ledger_hi < last
            late = (
                []
                if (n_fresh == 0 and hi == last and rerun_possible)
                else candidates
            )
        late_files = [r["file"] for r in late]
        skipped_late: list[str] = []
        recovered_files: set[str] = set()

        if late_files:
            suspect = (
                f"micro-batch {batch_id}: segment(s) {late_files} carry "
                f"event(s) at or below the committed watermark {last} and "
                "were never processed before (out-of-order segment "
                "delivery) — their events were skipped by the watermark. "
                "on_out_of_order='recover' re-folds the affected keys from "
                "the ledgered log; a batch replay also recovers."
            )
            # catch-up standing is a PHASE, not a single batch: a
            # rate-capped catch-up (maxFilesPerTrigger) spans several
            # micro-batches, and a crash mid-catch-up restarts with the
            # ledger already present — both previously escalated batch
            # 1+ to a hard error on a fully-healthy log. The phase is
            # bounded on BOTH ends by durable state: it exists only
            # while the stream has never advanced the table (last ==
            # the stream-start watermark, irreversible once passed) AND
            # the ledger does not yet cover that watermark — once the
            # absorbed segments reach it, all pre-stream history is
            # accounted for, and a below-watermark unledgered arrival
            # AFTER that is a real ordering violation even if the
            # stream still has applied nothing of its own.
            is_catchup = (
                catchup_wm is not None
                and last == catchup_wm
                and not (ledger_hi is not None and ledger_hi >= catchup_wm)
            )
            ledger_covers = ledger_hi is not None and ledger_hi >= last
            policy = on_out_of_order
            if policy == "auto":
                policy = "warn" if is_catchup else "error"
            elif policy == "recover":
                if is_catchup:
                    # batch-replay-then-stream catch-up: the table already
                    # holds these events; repairing from an empty ledger
                    # would REGRESS keys to stale values
                    policy = "warn"
                elif not ledger_covers and not (
                    engine.track_lsn and engine.delete_mode == "soft"
                ):
                    # ledger completeness only matters for the full-log
                    # re-fold; the track_lsn bounded merge never re-scans
                    policy = "error"
                    suspect += (
                        " Cannot auto-recover: the ledger does not cover "
                        "the committed watermark (it was created after "
                        "history passed), so the authoritative fold would "
                        "be incomplete — replay the log in batch mode."
                    )
            if policy == "error":
                raise LogTruncatedError(suspect)
            if policy == "recover":
                log.warning("RECOVER %s", suspect)
                recovered_files = set(late_files)
                if engine.track_lsn and engine.delete_mode == "soft":
                    # track_lsn table: bounded-work path — merge the late
                    # events directly (event.lsn > row.dl_lsn), reading
                    # ONLY the late segment files and the touched buckets;
                    # the ledgered log is never re-scanned. mergeSchema on
                    # the late files keeps pre-rename column names alive
                    # for the engine's alignment.
                    late_df = _reread(spark, sorted(late_files)).filter(
                        F.col("lsn") <= F.lit(last)
                    )
                    engine.apply_late(late_df)
                    fold_needed = False
                else:
                    fold_needed = True
                # The authoritative fold = ledgered segments + THIS batch's
                # segments, ALL re-read from disk with mergeSchema: the
                # streaming frame was read with the FIXED stream schema, so
                # a late segment written before a declared rename would
                # have its old-name columns silently nulled if the batch
                # frame were unioned in directly. Re-reading from paths
                # keeps old column names alive for repair's rename-aware
                # alignment; the path set is deduplicated, so re-delivered
                # ledgered files cannot duplicate (key, lsn) rows.
                if fold_needed:
                    batch_files = {r["file"] for r in per_file}
                    all_paths = sorted(set(seen.keys()) | batch_files)
                    full_log = _reread(spark, all_paths)
                    # Scope by LSN window rather than raw batch keys: repair
                    # derives keys from the ALIGNED log, so a late segment
                    # whose key column travels under a former name still
                    # resolves (selecting engine.keys from the fixed-schema
                    # batch would yield nulls there). The window is a
                    # superset of the late rows (ledgered events in the same
                    # range are re-folded too) — idempotent, converges.
                    lo_late = min(r["min_lsn"] for r in late)
                    engine.repair_keys(
                        full_log, window=(int(lo_late) - 1, int(last))
                    )
            else:
                log.warning("WARN %s", suspect)
                # mid-stream warned-but-skipped late segments must NOT be
                # ledgered: they were not absorbed, and ledgering them
                # would make future re-delivery look benign (and a later
                # 'recover' blind to them). Catch-up is the exception —
                # those files' events ARE in the table (batch replay
                # preceded the stream), so ledgering them keeps the ledger
                # COMPLETE, which a later 'recover' depends on (an
                # incomplete ledger that still reaches the watermark would
                # fold stale winners).
                if not is_catchup:
                    skipped_late = late_files

        # Warn-skipped late files must stay WHOLLY unprocessed: a straddling
        # file (min_lsn <= last < max_lsn) would otherwise have its fresh
        # rows applied (advancing the watermark past them) while being
        # excluded from the ledger — under-representing absorbed events and
        # re-flagging already-applied rows on a later re-delivery. Excluding
        # its fresh rows from the apply (and from the window bounds) keeps
        # the skipped file cleanly recoverable as one unit.
        applied = [r for r in per_file if r["file"] not in skipped_late]
        frame = batch
        if skipped_late:
            frame = batch.filter(~F.input_file_name().isin(skipped_late))
        fresh = [r for r in applied if r["fresh_rows"]]
        window = None
        if fresh:
            window = (
                int(min(r["fresh_lo"] for r in fresh)) - 1,
                int(max(r["max_lsn"] for r in fresh)),
            )
        # a ledgered segment's dead letters were parked when it was first
        # absorbed; the rest are owed unless the quarantine record holds
        # them. 'recover' just absorbed the late segments' ordered rows:
        # refusing their malformed leftovers would fail the micro-batch
        # AFTER the recovery commit and wedge the stream in a crash loop
        # (each restart re-runs the idempotent recovery and re-raises), so
        # those, and only those, park when no window carries them.
        dirty = [
            r["file"] for r in applied if r["bad_rows"] and r["file"] not in seen
        ]
        bs = engine._admit_window(frame, window, dirty, parkable=recovered_files)
        if bs is not None and window is None:
            log.warning(
                "RECOVER micro-batch %s: parked %d malformed event(s) from "
                "recovered late segment(s) %s",
                batch_id, bs.quarantined, sorted(recovered_files),
            )
        elif bs is not None and on_batch_applied is not None and not bs.skipped:
            on_batch_applied(bs)

        # record this batch's segments only after they are fully absorbed:
        # a crash before this point re-delivers them, and re-delivery of
        # ledgered segments is benign by construction
        # durable segment facts only — fresh_rows/fresh_lo are relative to
        # this run's transient watermark and meaningless once written
        new_records = [
            {
                "file": r["file"],
                "rows": r["rows"],
                "min_lsn": r["min_lsn"],
                "max_lsn": r["max_lsn"],
                "batch_id": batch_id,
            }
            for r in per_file
            if r["file"] not in seen and r["file"] not in skipped_late
        ]
        _ledger_append(ledger, new_records, store)
        for rec in new_records:
            seen[rec["file"]] = rec

    writer = stream_df.writeStream.foreachBatch(apply_micro_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
