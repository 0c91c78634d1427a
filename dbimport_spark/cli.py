"""CLI driver — the spark-submit entry point.

Cluster usage (the deployment shape the north rule names):

    zip -r dbimport_spark.zip dbimport_spark
    spark-submit --py-files dbimport_spark.zip -m dbimport_spark.cli ...

Subcommands mirror the reference's bin/import + bin/manage surface:

    init     create the lake table
    replay   apply a change log in K batches (resumable)
    stream   tail the log dir with Structured Streaming (availableNow)
    gen      write a synthetic change log (testing)
    status   table totals + lineage
    compact  rewrite fragmented buckets; expire old snapshots
    rebucket change the bucket count online (partition evolution)
"""

from __future__ import annotations

import argparse
import json
import os
import sys


# the followers' one stop rule (lake/cdf.follow_passes), for every verb
_STOP_FILE_HELP = (
    "once this file appears, finish the windows committed up to that "
    "moment, then stop"
)


def _add_follower_args(sp, what: str, daemon: str | None) -> None:
    """The follow options of the follower verbs (mirror, matview,
    cdc-export): ``--follow`` polling when the verb has a ``daemon``,
    ``--stream``, and their shared ``--poll``, ``--stop-file``, ``--pin``."""
    if daemon is not None:
        sp.add_argument(
            "--follow", action="store_true",
            help="keep polling the source and syncing each new commit "
            f"window ({daemon})",
        )
        sp.add_argument(
            "--max-syncs", type=int, default=None, metavar="N",
            help="stop --follow after N applied syncs (default: run forever)",
        )
    sp.add_argument(
        "--poll", type=float, default=5.0, metavar="SECONDS",
        help=("metadata poll interval of --follow, " if daemon else "")
        + "trigger interval of --stream (default 5)",
    )
    sp.add_argument("--stop-file", default=None, metavar="PATH", help=_STOP_FILE_HELP)
    sp.add_argument(
        "--stream", default=None, metavar="CHECKPOINT_DIR",
        help="follow via Structured Streaming instead of "
        f"{'the polling daemon' if daemon else 'a one-shot sync'}: the "
        "lake_cdf source's offsets are source versions, checkpointed by "
        "Spark in this directory — kill/restart resumes from the last "
        "committed window (use with --stop-file; --poll sets the trigger "
        "interval)",
    )
    sp.add_argument(
        "--pin", default=None, metavar="NAME",
        help="advance this retention pin on the SOURCE after each synced "
        f"window, so source snapshot expiry never strands this {what} "
        "(see the pin command)",
    )


def _drain_stream(args, query, source, watermark, out_key) -> dict:
    """The one ``--stream`` branch of the follower verbs (mirror, matview,
    cdc-export): drain the follower's started ``query``, surfacing the
    stream's own exception and always stopping the query; return the
    verb's JSON record, the follower's ``watermark()`` as ``out_key``.

    The stop rule is the polling followers' (``lake/cdf.follow_passes``):
    once ``--stop-file`` is seen, finish the windows committed up to that
    moment — here, drain to the source version read when the file was
    first seen — then stop. Drained = the follower's watermark reached
    that version, or the stream's delivered offset did (trailing empty
    windows — compaction / rewrite-only commits — never advance a
    watermark)."""
    import time

    from dbimport_spark.streaming.cdf_source import _delivered_version

    target = None
    try:
        while True:
            if query.exception() is not None:
                raise query.exception()
            if target is None and args.stop_file and os.path.isfile(args.stop_file):
                target = source.current().version
            if target is not None and (
                watermark() >= target or _delivered_version(query) >= target
            ):
                break
            time.sleep(min(args.poll, 1.0))
    finally:
        query.stop()
        query.awaitTermination(60)
    return {out_key: watermark(), "checkpoint": args.stream}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="dbimport-spark")
    p.add_argument("--master", default=None, help="spark master (default: local[$SPARK_GRAFT_CPUS])")
    sub = p.add_subparsers(dest="cmd", required=True)

    sp = sub.add_parser("init")
    sp.add_argument("table_root")
    sp.add_argument("--buckets", type=int, default=64)
    sp.add_argument("--soft-delete", action="store_true")
    sp.add_argument(
        "--track-lsn", action="store_true",
        help="per-row version column dl_lsn: late events merge directly "
        "(bounded work) instead of a full-log re-fold; requires "
        "--soft-delete",
    )
    sp.add_argument("--history", default=None, help="also create a history-audit table at this path")
    sp.add_argument(
        "--sort-order", default=None, metavar="COLS",
        help="comma-separated columns every data file is sorted by within "
        "its bucket (Iceberg SORTED BY analogue): tight row-group/file "
        "stats for range pruning, better compression",
    )
    sp.add_argument(
        "--stat-columns", default=None, metavar="COLS",
        help="extra payload columns to record per-file min/max stats for "
        "(audit watermark columns are always recorded)",
    )
    sp.add_argument(
        "--bloom-columns", default=None, metavar="COLS",
        help="comma-separated columns to write parquet bloom filters for "
        "(point-lookup pruning on hash-distributed keys, where min/max "
        "stats can't prune)",
    )
    sp.add_argument(
        "--bloom-ndv", default=None, metavar="N",
        help="expected distinct values per row group for --bloom-columns "
        "(sizes the filter; parquet default when unset)",
    )

    sp = sub.add_parser("replay")
    sp.add_argument("table_root")
    sp.add_argument("log_path")
    sp.add_argument("--batches", type=int, default=4)
    sp.add_argument("--checkpoint", default=None)
    sp.add_argument(
        "--format", default="parquet", choices=["parquet", "json", "debezium"],
        help="log wire format: parquet (native change log), json "
        "(document-store JSON-lines, sources/jsonlog.py), debezium "
        "(Debezium/Kafka-Connect envelope JSON-lines, sources/debezium.py)",
    )
    sp.add_argument(
        "--key-field", default=None, metavar="NAME",
        help="merge-key field inside the json/debezium row image "
        "(default: _id for json, doc_id for debezium)",
    )
    sp.add_argument(
        "--delete-mode", default=None, choices=["hard", "soft"],
        help="default: the mode the table was created with",
    )
    sp.add_argument("--history", default=None, help="history-audit table path")
    sp.add_argument(
        "--quarantine-dir", default=None,
        help="divert malformed events (null key / unknown op / null lsn) "
        "to parquet here and continue; default: refuse the batch loudly",
    )
    sp.add_argument(
        "--rename", action="append", default=[], metavar="OLD=NEW",
        help="declare a source column rename (repeatable; metadata-only)",
    )
    sp.add_argument(
        "--no-rename-check", action="store_true",
        help="treat positional add+drop batches as genuine adds (skip the "
        "rename-suspicion guard)",
    )
    sp.add_argument(
        "--write-mode", default="cow", choices=["cow", "mor", "auto"],
        help="cow: rewrite touched buckets per batch; mor: append merge-"
        "on-read delta/delete files (write cost ~ batch size; compaction "
        "folds them back); auto: mor when the batch is small relative to "
        "the touched buckets",
    )
    sp.add_argument(
        "--max-delete-fraction", type=float, default=None, metavar="FRAC",
        help="pre-commit guard: refuse to publish a batch whose delete "
        "events exceed FRAC of the touched buckets' previous rows (the "
        "truncated-upstream guard); the staged files are discarded and "
        "the watermark stays put",
    )
    sp.add_argument(
        "--allow-log-gap", action="store_true",
        help="proceed even if the log no longer covers the committed "
        "watermark (DANGER: the gap's changes are skipped)",
    )
    sp.add_argument(
        "--full-reload", action="store_true",
        help="re-create the table at the log's schema and replay from LSN 0 "
        "— the declared recovery for incompatible type changes / key-type "
        "widenings (DANGER: abandons current table contents; prior "
        "snapshots stay readable until compact --expire-keep-last)",
    )

    sp = sub.add_parser("stream")
    sp.add_argument("table_root")
    sp.add_argument("log_dir")
    sp.add_argument("--checkpoint", required=True)
    sp.add_argument("--continuous", action="store_true")
    sp.add_argument(
        "--write-mode", default="cow", choices=["cow", "mor", "auto"],
        help="per-micro-batch apply mode: 'auto' lands small batches as "
        "merge-on-read deltas — the steady-state streaming shape",
    )
    sp.add_argument(
        "--on-out-of-order", default="auto",
        choices=["error", "warn", "auto", "recover"],
        help="late-segment policy: auto (default — warn during a "
        "brand-new checkpoint's catch-up, error mid-stream; the "
        "batch-replay-then-stream flow works out of the box) | error "
        "(strict, kills the documented catch-up flow) | warn (skip, keep "
        "the segment unledgered for later recovery) | recover (re-fold "
        "the affected keys from the per-segment ledger)",
    )
    sp.add_argument(
        "--quarantine-dir", default=None, metavar="DIR",
        help="park malformed events (null lsn / corrupt wire lines) here "
        "instead of refusing the micro-batch — without it a single "
        "corrupt line stalls an unattended stream permanently (inspect "
        "via the monitoring server, re-ingest via quarantine --drain)",
    )
    sp.add_argument(
        "--format", default="parquet", choices=["parquet", "debezium"],
        help="segment wire format: parquet (native change log) or "
        "debezium (Debezium/Kafka-Connect envelope JSON-lines; schema "
        "inferred once from the segments present at start)",
    )
    sp.add_argument(
        "--key-field", default="doc_id", metavar="NAME",
        help="merge-key field inside the debezium row image",
    )

    sp = sub.add_parser("gen")
    sp.add_argument("log_path")
    sp.add_argument("--events", type=int, default=1_000_000)
    sp.add_argument("--keys", type=int, default=100_000)
    sp.add_argument("--seed", type=int, default=42)
    sp.add_argument("--evolve-at", type=int, default=None)

    sp = sub.add_parser("status")
    sp.add_argument("table_root")
    sp.add_argument("--lineage", action="store_true")

    sp = sub.add_parser("validate")
    sp.add_argument("table_root")
    sp.add_argument("log_path")
    sp.add_argument("--allowed-diff", type=int, default=None)
    sp.add_argument(
        "--window", nargs=2, type=int, metavar=("LO", "HI"), default=None,
        help="incremental scope: reconcile only keys touched in (LO, HI]",
    )

    sp = sub.add_parser("export")
    sp.add_argument("table_root")
    sp.add_argument("out_dir")
    sp.add_argument("--mode", default="incr", choices=["incr", "full"])
    sp.add_argument("--include-audit", action="store_true")
    sp.add_argument(
        "--at", default=None, metavar="REF",
        help="one-off AS-OF snapshot export (version / tag / timestamp) to "
        "<out_dir>/snapshot-v<version>; does not touch the incremental "
        "watermark state (--mode is ignored)",
    )
    sp.add_argument(
        "--include-deleted", action="store_true",
        help="with --at on a soft-delete table: keep tombstoned rows in "
        "the shipment (forces --include-audit so the delete marker "
        "travels with them); default ships live rows only",
    )

    sp = sub.add_parser(
        "cdc-export",
        help="change-feed export to an RDBMS via the staging-table merge: "
        "inserts, updates AND hard deletes land (the watermarked row "
        "export cannot ship deletes); idempotent per window, resumable "
        "from the committed source-version state",
    )
    sp.add_argument("table_root")
    sp.add_argument("url", help="JDBC url, e.g. jdbc:derby:/x/db;create=true")
    sp.add_argument("target_table")
    sp.add_argument("--state-dir", required=True)
    sp.add_argument(
        "--on-gap", choices=["error", "full"], default="error",
        help="when the delta base snapshot was expired: refuse (error) or "
        "full-reconcile (full: live upserts + target anti-join deletes)",
    )
    sp.add_argument(
        "--verify", action="store_true",
        help="after syncing, reconcile the target against the source's "
        "live rows (count + content checksum)",
    )
    sp.add_argument(
        "--dialect", default=None,
        help="generate explicit target DDL for this dialect (derby/"
        "postgresql/mysql/oracle/mssql/db2/snowflake/ansi): CREATE TABLE "
        "with a PRIMARY KEY over the merge keys, plus ALTER ADD / RENAME "
        "following the source's evolution. Default: let Spark's JDBC "
        "writer create the target",
    )
    _add_follower_args(sp, "export", daemon=None)

    sp = sub.add_parser(
        "ddl",
        help="print the per-dialect target DDL (CREATE TABLE + comments) "
        "for a lake table's flattened export payload — a dry-run of what "
        "cdc-export --dialect would execute",
    )
    sp.add_argument("table_root")
    sp.add_argument("target_table")
    sp.add_argument(
        "--dialect", required=True,
        help="derby/postgresql/mysql/oracle/mssql/db2/snowflake/ansi",
    )
    sp.add_argument("--schema-name", default=None)
    sp.add_argument("--key-varchar-len", type=int, default=255)

    sp = sub.add_parser("compact")
    sp.add_argument("table_root")
    sp.add_argument("--max-files-per-bucket", type=int, default=4)
    sp.add_argument("--expire-keep-last", type=int, default=None)

    sp = sub.add_parser(
        "rebucket",
        help="partition evolution: rewrite the table under a new bucket "
        "count in one atomic rewrite-only commit (change feed emits the "
        "window as empty; prefer multiples of the old count)",
    )
    sp.add_argument("table_root")
    sp.add_argument("--buckets", type=int, required=True)

    sp = sub.add_parser(
        "pin",
        help="retention pins (Iceberg refs analogue): expire_snapshots "
        "keeps every version at or above the oldest pin, so a lagging "
        "change-feed follower never loses its delta base; mirror/matview/"
        "cdc-export syncs advance their pins automatically when given a "
        "pin name",
    )
    sp.add_argument("table_root")
    sp.add_argument("--set", nargs=2, metavar=("NAME", "VERSION"),
                    default=None, help="create or advance a pin")
    sp.add_argument("--remove", metavar="NAME", default=None,
                    help="delete a pin (e.g. its follower was retired)")

    sp = sub.add_parser(
        "tag",
        help="snapshot tags (Iceberg refs/tags analogue): name ONE version "
        "for time-travel reads (a data freeze, an audit point); "
        "expire_snapshots keeps exactly the tagged snapshot while untagged "
        "intermediates age out; resolve a tag/version/timestamp with "
        "--resolve",
    )
    sp.add_argument("table_root")
    sp.add_argument("--set", nargs="+", metavar=("NAME", "VERSION"),
                    default=None,
                    help="create or move a tag (VERSION defaults to current)")
    sp.add_argument("--remove", metavar="NAME", default=None,
                    help="delete a tag")
    sp.add_argument("--resolve", metavar="REF", default=None,
                    help="resolve a tag name / version / ISO-or-unix "
                    "timestamp to its snapshot version")

    sp = sub.add_parser(
        "schema-diff",
        help="DRY-RUN evolution planner: the adds/widenings/comment "
        "changes (or refusals: incompatible types, suspected renames, "
        "key widenings) a replay of this log WOULD apply — nothing is "
        "changed (the reference logs planned ALTERs the same way)",
    )
    sp.add_argument("table_root")
    sp.add_argument("log_path")
    sp.add_argument(
        "--rename", action="append", default=[], metavar="OLD=NEW",
        help="declared renames to assume (repeatable)",
    )

    sp = sub.add_parser(
        "purge-tombstones",
        help="drop soft-delete tombstones dead since before the cutoff "
        "(retention valve; the cutoff must exceed the source's late-"
        "arrival horizon — a purged key resurrects on older late events)",
    )
    sp.add_argument("table_root")
    sp.add_argument(
        "--older-than", required=True,
        help="ISO timestamp cutoff, e.g. 2024-01-01T00:00:00",
    )

    sp = sub.add_parser(
        "repair",
        help="authoritative key-scoped re-fold: recompute final state for "
        "the keys touched in a lost LSN window from the FULL log (the "
        "watermark never moves backward, so late events cannot go through "
        "replay)",
    )
    sp.add_argument("table_root")
    sp.add_argument("log_path", help="the full log as currently known")
    sp.add_argument("--lo", type=int, required=True, help="window low bound (exclusive)")
    sp.add_argument("--hi", type=int, required=True, help="window high bound (inclusive)")
    sp.add_argument("--history", default=None, help="history-audit table path")
    sp.add_argument(
        "--rename", action="append", default=[], metavar="OLD=NEW",
        help="declared column renames the log straddles (repeatable)",
    )

    sp = sub.add_parser(
        "quarantine",
        help="dead-letter management: list parked malformed-event windows, "
        "or drain (re-ingest) them after the rows were corrected out-of-"
        "band — track_lsn tables merge bounded via apply_late, others "
        "re-fold log ∪ corrections for exactly the parked keys",
    )
    sp.add_argument("table_root")
    sp.add_argument("--dir", required=True, metavar="QDIR",
                    help="the quarantine directory the replay wrote to")
    sp.add_argument("--drain", action="store_true",
                    help="re-ingest the parked windows (default: list only)")
    sp.add_argument("--log", default=None, metavar="LOG_PATH",
                    help="the full log as currently known (required to "
                    "drain a table without track_lsn)")
    sp.add_argument(
        "--rename", action="append", default=[], metavar="OLD=NEW",
        help="declared column renames the parked rows straddle (repeatable)",
    )

    sp = sub.add_parser("rename", help="metadata-only column rename")
    sp.add_argument("table_root")
    sp.add_argument("old")
    sp.add_argument("new")

    sp = sub.add_parser(
        "changes",
        help="change data feed: emit the row-level changes committed "
        "between two table versions (the engine as a CDC source; reads "
        "only files not shared between the snapshots)",
    )
    sp.add_argument("table_root")
    sp.add_argument(
        "--from-version", required=True, metavar="REF",
        help="window low bound, exclusive: a version number, a tag name, "
        "or a timestamp (ISO 8601 / unix seconds)",
    )
    sp.add_argument(
        "--to-version", default=None, metavar="REF",
        help="window high bound, inclusive (same REF forms; default: "
        "current version)",
    )
    sp.add_argument(
        "--per-commit", action="store_true",
        help="one diff per committed version instead of the net window diff",
    )
    sp.add_argument(
        "--preimage", action="store_true",
        help="carry _pre_<col> pre-image columns on update rows (net mode)",
    )
    sp.add_argument("--out", default=None, help="write parquet here instead of counting")
    sp.add_argument(
        "--follow", action="store_true",
        help="tail the commit log: emit each new commit window as it "
        "lands (requires --out; windows written to <out>/w<from>-<to>)",
    )
    sp.add_argument(
        "--poll", type=float, default=5.0, metavar="SECONDS",
        help="metadata poll interval in --follow mode (default 5)",
    )
    sp.add_argument(
        "--max-windows", type=int, default=None, metavar="N",
        help="stop --follow after N emitted windows (default: run forever)",
    )
    sp.add_argument(
        "--stop-file", default=None, metavar="PATH",
        help=_STOP_FILE_HELP,
    )

    sp = sub.add_parser(
        "mirror",
        help="lake-to-lake mirror: apply the source table's change feed "
        "to a second table (deletes propagate; watermark = source "
        "version; reference copy-to-other-cluster stage analogue)",
    )
    sp.add_argument("source_root")
    sp.add_argument("mirror_root")
    sp.add_argument(
        "--on-gap", choices=["error", "full"], default="error",
        help="when the delta base snapshot was expired on the source: "
        "refuse (error) or full-reconcile (full)",
    )
    sp.add_argument(
        "--verify", action="store_true",
        help="after syncing, reconcile mirror vs source (count + content "
        "checksum) and include the result",
    )
    _add_follower_args(sp, "mirror", daemon="continuous replication daemon")

    sp = sub.add_parser(
        "matview",
        help="incrementally-maintained aggregate view: fold the source's "
        "change feed into a count/sum/min/max GROUP BY table without "
        "rescanning the base (delta maintenance, group-scoped rescan for "
        "min/max invalidation; exactly-once via the view's own watermark)",
    )
    sp.add_argument("source_root")
    sp.add_argument("view_root")
    sp.add_argument(
        "--group-by", action="append", required=True, metavar="COL",
        help="group column (repeatable; becomes the view's merge key)",
    )
    sp.add_argument(
        "--sum", action="append", default=[], metavar="COL",
        help="numeric column to maintain a sum over (repeatable)",
    )
    sp.add_argument(
        "--min", action="append", default=[], metavar="COL",
        help="orderable column to maintain a min over (candidate rule + "
        "group-scoped rescan on extremum removal; repeatable)",
    )
    sp.add_argument(
        "--max", action="append", default=[], metavar="COL",
        help="orderable column to maintain a max over (repeatable)",
    )
    sp.add_argument(
        "--create", action="store_true",
        help="create the view table first (idempotent bootstrap: the "
        "first sync folds the whole table as inserts)",
    )
    sp.add_argument("--buckets", type=int, default=16)
    sp.add_argument(
        "--on-gap", choices=["error", "full"], default="error",
        help="when the delta base snapshot was expired on the source: "
        "refuse (error) or rebuild once from a full groupBy (full)",
    )
    sp.add_argument(
        "--verify", action="store_true",
        help="after syncing, reconcile the view against a direct groupBy "
        "of the source and include the result",
    )
    _add_follower_args(sp, "view", daemon="continuous view-maintenance daemon")

    sp = sub.add_parser(
        "fsck",
        help="metadata-only consistency audit: snapshot chain, watermark "
        "monotonicity, file existence/sizes, rename epochs, catalog "
        "pointer, orphans — exit 1 on errors",
    )
    sp.add_argument("table_root")
    sp.add_argument(
        "--repair", action="store_true",
        help="apply the SAFE repairs after the audit (rewrite the version "
        "hint to the newest retained metadata, quarantine stray metadata "
        "files to metadata/_stray/, remove age-gated orphan data files), "
        "then re-audit; structural corruption is reported, never 'fixed'",
    )
    sp.add_argument(
        "--orphan-age-hours", type=float, default=24.0,
        help="minimum age before an orphan data file is removed "
        "(in-flight commits write files before the metadata swap)",
    )

    sp = sub.add_parser(
        "tables",
        help="multi-table registry: add/list/remove managed tables "
        "(reference import_tables config rows)",
    )
    sp.add_argument("registry", help="registry JSON path")
    tsub = sp.add_subparsers(dest="tcmd", required=True)
    tp = tsub.add_parser("add")
    tp.add_argument("name")
    tp.add_argument("table_root")
    tp.add_argument("log_path")
    tp.add_argument("--history", default=None)
    tp.add_argument("--checkpoint", default=None)
    tp.add_argument("--batches", type=int, default=1)
    tp.add_argument("--schedule", default=None, help="free-form hint, e.g. hourly")
    tp.add_argument(
        "--rename", action="append", default=[], metavar="OLD=NEW",
        help="declared source column renames for this table (repeatable)",
    )
    tp.add_argument(
        "--mirror", default=None, metavar="ROOT",
        help="mirror table root to delta-sync after each successful "
        "replay (reference per-table copy phase)",
    )
    tp.add_argument(
        "--view", action="append", default=[], metavar="JSON",
        help='matview to delta-sync after each replay, e.g. '
        '\'{"root": "/lake/v", "group_by": ["source"], "sum": ["n_tok"], '
        '"min": [], "max": []}\' (repeatable)',
    )
    tp.add_argument(
        "--cdc-export", action="append", default=[], metavar="JSON",
        help='RDBMS target to delta-sync after each replay via the '
        'staging-table merge (deletes propagate), e.g. '
        '\'{"url": "jdbc:derby:/x/db;create=true", "target_table": "tgt", '
        '"state_dir": "/x/est"}\' (repeatable)',
    )
    tp.add_argument(
        "--anonymize", action="append", default=[], metavar="COL=KIND",
        help="per-column ingest mask, KIND in hash|star|first4 "
        "(reference import_columns.anonymization_function; repeatable)",
    )
    tp.add_argument("--anonymize-salt", default="", metavar="SALT")
    tp.add_argument(
        "--write-mode", default="cow", choices=["cow", "mor", "auto"],
        help="how this table's batches land (merge-on-read for small "
        "steady-state batches; auto decides from metadata per batch)",
    )
    tp.add_argument(
        "--max-delete-fraction", type=float, default=None, metavar="FRAC",
        help="pre-commit truncated-upstream guard for this table's sweeps",
    )
    tp.add_argument(
        "--quarantine-dir", default=None, metavar="DIR",
        help="dead-letter dir for this table's sweeps: malformed events "
        "park there instead of stalling the unattended fleet (inventory "
        "via the monitoring server, re-ingest via quarantine --drain)",
    )
    tp.add_argument(
        "--maintenance", default=None, metavar="JSON",
        help='post-replay storage upkeep, e.g. \'{"expire_keep_last": 3, '
        '"max_files_per_bucket": 4, "target_bytes_per_bucket": 536870912}\'',
    )
    tsub.add_parser("list")
    tp = tsub.add_parser("remove")
    tp.add_argument("name")
    tp = tsub.add_parser(
        "discover",
        help="register every lake table found under a base directory "
        "(additive; reference discoverAndAddTablesFromSource)",
    )
    tp.add_argument("base_dir")
    tp.add_argument("--log-base", required=True,
                    help="change logs live at <log-base>/<table-name>")
    tp.add_argument("--batches", type=int, default=1)

    sp = sub.add_parser(
        "replay-all",
        help="one sweep over every enabled registry table: independent "
        "watermarks, independent failures (a broken table never blocks "
        "the rest)",
    )
    sp.add_argument("registry", help="registry JSON path")
    sp.add_argument(
        "--only", action="append", default=None, metavar="NAME",
        help="restrict the sweep to the named table(s) (repeatable)",
    )
    sp.add_argument(
        "--sync-point", default=None, metavar="NAME",
        help="after an ALL-green sweep, freeze a named cross-table sync "
        "point over the swept tables (tags every table and its derived "
        "mirror/history/views; read back with --at NAME / resolve_ref)",
    )
    sp.add_argument(
        "--phase", choices=["all", "replay", "derived"], default="all",
        help="orchestrator split (reference run_import_and_etl_separate): "
        "'replay' ingests the change log only, 'derived' advances "
        "mirror/views/CDC exports + storage upkeep only (each derived "
        "target has its own watermark, so the split is safe), 'all' does "
        "both",
    )

    sp = sub.add_parser(
        "sync-point",
        help="cross-table consistent snapshot sets: freeze every registry "
        "table (and derived mirrors/views/history) at its current version "
        "under one name; read any member AS-OF the freeze via the name "
        "(tag semantics — survives expire_snapshots)",
    )
    sp.add_argument("registry", help="registry JSON path")
    spx = sp.add_mutually_exclusive_group(required=True)
    spx.add_argument("--set", dest="sp_set", metavar="NAME",
                     help="create a sync point over all enabled tables")
    spx.add_argument("--remove", dest="sp_remove", metavar="NAME")
    spx.add_argument("--list", dest="sp_list", action="store_true")
    spx.add_argument("--show", dest="sp_show", metavar="NAME",
                     help="print one manifest")
    sp.add_argument(
        "--only", action="append", default=None, metavar="TABLE",
        help="with --set: restrict the freeze to the named table(s)",
    )
    sp.add_argument(
        "--replace", action="store_true",
        help="with --set: re-cut an existing freeze of the same name "
        "(near-atomic: a failed re-cut keeps the old freeze; what a "
        "scheduled DAG's recurring cut needs)",
    )

    sp = sub.add_parser(
        "airflow-gen",
        help="render an Airflow DAG .py over the registry's enabled "
        "tables (reference Schedule/Airflow.py generateDAG): one "
        "BashOperator per table invoking this CLI, optional two-phase "
        "replay/derived split with a finish-replays-first barrier, "
        "optional trailing sync-point freeze; pure text generation — "
        "airflow is imported by the EMITTED file, not by this tool",
    )
    sp.add_argument("registry", help="registry JSON path")
    sp.add_argument("--dag-id", required=True)
    sp.add_argument(
        "--schedule", default=None,
        help="cron line, Airflow preset, or HH:MM (converted to a daily "
        "cron, reference convertTimeToCron); default @daily or the "
        "--schedule-group value",
    )
    sp.add_argument(
        "--schedule-group", default=None, metavar="HINT",
        help="select only entries whose registry 'schedule' hint equals "
        "this (one DAG per cadence group); also used as the DAG "
        "schedule unless --schedule overrides",
    )
    sp.add_argument(
        "--only", action="append", default=None, metavar="TABLE",
        help="restrict the DAG to the named table(s) (repeatable)",
    )
    sp.add_argument(
        "--separate-phases", action="store_true",
        help="emit replay_<t> >> derived_<t> task pairs (--phase "
        "replay/derived) instead of one task per table",
    )
    sp.add_argument(
        "--finish-replay-first", action="store_true",
        help="with --separate-phases: barrier ALL replays before ANY "
        "derived sync (reference finish_all_stage1_first)",
    )
    sp.add_argument("--retries", type=int, default=1)
    sp.add_argument("--pool", default=None, help="Airflow pool for tasks")
    sp.add_argument(
        "--tag", action="append", default=[], metavar="TAG",
        help="extra DAG tag (repeatable)",
    )
    sp.add_argument("--timezone", default=None, metavar="TZ")
    sp.add_argument(
        "--sync-point", default=None, metavar="NAME",
        help="append a final task cutting this named cross-table freeze",
    )
    sp.add_argument(
        "--out", default=None, metavar="PATH",
        help="write the DAG file here (default: print to stdout)",
    )
    sp.add_argument(
        "--python", default="python", metavar="EXE",
        help="python executable the emitted tasks invoke (the Airflow "
        "workers' interpreter, e.g. a venv path; default 'python')",
    )

    sp = sub.add_parser(
        "serve",
        help="read-only monitoring HTTP server over the registry "
        "(reference bin/Server/restServer.py, minus auth+CRUD — "
        "mutations stay in the CLI): GET /status /tables /tables/<n> "
        "/tables/<n>/lineage /lag /lag/<n> /sync-points; metadata-only, "
        "no Spark session, stdlib http.server",
    )
    sp.add_argument("registry", help="registry JSON path")
    sp.add_argument("--host", default="127.0.0.1")
    sp.add_argument("--port", type=int, default=8085)

    sp = sub.add_parser(
        "lag",
        help="follower lag / freshness report over a registry — source "
        "vs change-log tail (parquet footer stats), mirror/matview/"
        "cdc-export/history vs source; metadata-only, no Spark session, "
        "safe to poll from monitoring",
    )
    sp.add_argument("registry", help="registry JSON path")
    sp.add_argument(
        "--only", action="append", default=None, metavar="TABLE",
    )
    sp.add_argument(
        "--max-versions-behind", type=int, default=None, metavar="N",
        help="exit 1 if any follower lags the source by more than N "
        "versions (alerting threshold)",
    )

    args = p.parse_args(argv)

    if getattr(args, "rename", None):
        bad = [r for r in args.rename
               if "=" not in r or not r.split("=", 1)[0] or not r.split("=", 1)[1]]
        if bad:
            p.error(f"--rename expects OLD=NEW, got: {', '.join(bad)}")
    if args.cmd == "changes" and args.follow and not args.out:
        p.error("--follow requires --out (each window is written to "
                "<out>/w<from>-<to>)")
    if args.cmd == "init" and args.track_lsn and not args.soft_delete:
        # deliberate duplicate of the CDCEngine.create_table guard: fails
        # as a usage error BEFORE the Spark session spins up; keep in sync
        p.error("--track-lsn requires --soft-delete (a hard delete erases "
                "the row's dl_lsn, making late-vs-deleted undecidable)")

    from dbimport_spark.lake.table import LakeTable
    from dbimport_spark.plans.engine import CDCEngine
    from dbimport_spark.session import get_spark

    if args.cmd == "status":
        # metadata-only: no Spark session needed
        from dbimport_spark.plans.lineage import lineage_history, table_totals

        table = LakeTable.load(args.table_root)
        print(json.dumps(table_totals(table)))
        if args.lineage:
            for rec in lineage_history(table):
                print(json.dumps(rec))
        return 0
    if args.cmd == "ddl":
        # metadata-only: no Spark session needed — the flattened export
        # payload schema is derivable from the snapshot alone (complex
        # types ship as JSON strings, JdbcExporter._flatten_for_rdbms)
        from pyspark.sql import types as T

        from dbimport_spark.plans import dialects as D
        from dbimport_spark.schema import AUDIT_COLUMNS

        table = LakeTable.load(args.table_root)
        snap = table.current()
        flat = T.StructType(
            [
                T.StructField(
                    f.name,
                    T.StringType()
                    if isinstance(
                        f.dataType, (T.ArrayType, T.MapType, T.StructType)
                    )
                    else f.dataType,
                    f.nullable,
                )
                for f in snap.schema.fields
                if f.name not in AUDIT_COLUMNS
            ]
        )
        bc = snap.bucket_column
        keys = list(bc) if isinstance(bc, list) else [bc]
        comments = {
            f.name: f.metadata.get("comment")
            for f in snap.schema.fields
            if f.metadata and f.metadata.get("comment")
        }
        for stmt in D.create_table_sql(
            args.dialect,
            args.target_table,
            flat,
            keys=keys,
            comments=comments,
            key_varchar_len=args.key_varchar_len,
            schema_name=args.schema_name,
            quote_table=False,
        ):
            print(stmt + ";")
        return 0
    if args.cmd == "rename":
        # metadata-only: no Spark session needed
        table = LakeTable.load(args.table_root)
        snap = table.rename_column(args.old, args.new)
        print(
            json.dumps(
                {"renamed": {args.old: args.new}, "version": snap.version,
                 "schema": snap.schema.fieldNames()}
            )
        )
        return 0
    if args.cmd == "fsck":
        # metadata-only: no Spark session needed. Plain constructor, NOT
        # load(): load() resolves current(), which raises on exactly the
        # lost-newest-metadata corruption fsck exists to report.
        from dbimport_spark.lake.fsck import check_table, repair_table

        t = LakeTable(args.table_root)
        findings = check_table(t)
        if not args.repair:
            print(json.dumps({"findings": findings, "clean": not findings}))
            return 1 if any(f["level"] == "error" for f in findings) else 0
        repairs = repair_table(
            t, orphan_older_than_seconds=args.orphan_age_hours * 3600
        )
        after = check_table(t)
        print(
            json.dumps(
                {
                    "findings": findings,
                    "repairs": repairs,
                    "findings_after": after,
                    "clean_after": not after,
                }
            )
        )
        return 1 if any(f["level"] == "error" for f in after) else 0
    if args.cmd == "pin":
        # metadata-only: no Spark session needed
        table = LakeTable.load(args.table_root)
        if args.set:
            name, version = args.set[0], int(args.set[1])
            table.set_pin(name, version)
        if args.remove:
            if not table.delete_pin(args.remove):
                print(json.dumps({"error": f"no pin named {args.remove!r}"}))
                return 1
        print(json.dumps({"pins": table.pins()}))
        return 0
    if args.cmd == "tag":
        # metadata-only: no Spark session needed
        table = LakeTable.load(args.table_root)
        if args.set:
            if len(args.set) > 2:
                p.error("tag --set takes NAME [VERSION]")
            name = args.set[0]
            version = int(args.set[1]) if len(args.set) == 2 else None
            table.set_tag(name, version)
        if args.remove:
            if not table.delete_tag(args.remove):
                print(json.dumps({"error": f"no tag named {args.remove!r}"}))
                return 1
        out: dict = {"tags": table.tags()}
        if args.resolve is not None:
            out["resolved"] = {args.resolve: table.resolve_ref(args.resolve)}
        print(json.dumps(out))
        return 0
    if args.cmd == "tables":
        # registry is plain config: no Spark session needed
        from dataclasses import asdict

        from dbimport_spark.plans.registry import TableEntry, TableRegistry

        reg = TableRegistry(args.registry)
        if args.tcmd == "add":
            views = []
            for raw in args.view:
                try:
                    v = json.loads(raw)
                    if "root" not in v or "group_by" not in v:
                        raise ValueError("needs 'root' and 'group_by'")
                except (json.JSONDecodeError, ValueError) as exc:
                    p.error(f"--view expects JSON with root/group_by/sum: {exc}")
                views.append(v)
            cdc_exports = []
            for raw in args.cdc_export:
                try:
                    x = json.loads(raw)
                    missing = {"url", "target_table", "state_dir"} - set(x)
                    if missing:
                        raise ValueError(f"missing {sorted(missing)}")
                except (json.JSONDecodeError, ValueError) as exc:
                    p.error(
                        "--cdc-export expects JSON with url/target_table/"
                        f"state_dir: {exc}"
                    )
                cdc_exports.append(x)
            anonymize = {}
            for raw in args.anonymize:
                if "=" not in raw:
                    p.error(f"--anonymize expects COL=KIND, got: {raw}")
                col_name, kind = raw.split("=", 1)
                if kind not in ("hash", "star", "first4"):
                    p.error(
                        f"--anonymize KIND must be hash|star|first4, got: {kind}"
                    )
                anonymize[col_name] = kind
            maintenance = {}
            if args.maintenance:
                try:
                    maintenance = json.loads(args.maintenance)
                    if not isinstance(maintenance, dict):
                        raise ValueError("must be a JSON object")
                except (json.JSONDecodeError, ValueError) as exc:
                    p.error(f"--maintenance expects a JSON object: {exc}")
            reg.add(
                TableEntry(
                    name=args.name,
                    table_root=args.table_root,
                    log_path=args.log_path,
                    history=args.history,
                    checkpoint=args.checkpoint,
                    renames=dict(r.split("=", 1) for r in args.rename),
                    anonymize=anonymize,
                    anonymize_salt=args.anonymize_salt,
                    write_mode=args.write_mode,
                    max_delete_fraction=args.max_delete_fraction,
                    quarantine_dir=args.quarantine_dir,
                    batches=args.batches,
                    schedule=args.schedule,
                    mirror_root=args.mirror,
                    views=views,
                    cdc_exports=cdc_exports,
                    maintenance=maintenance,
                )
            )
            print(json.dumps({"added": args.name}))
        elif args.tcmd == "list":
            print(
                json.dumps(
                    {n: asdict(e) for n, e in reg.load().items()}, indent=2
                )
            )
        elif args.tcmd == "remove":
            reg.remove(args.name)
            print(json.dumps({"removed": args.name}))
        elif args.tcmd == "discover":
            from dbimport_spark.plans.registry import discover_tables

            added = discover_tables(
                reg, args.base_dir, args.log_base, batches=args.batches
            )
            print(json.dumps({"discovered": added}))
        return 0
    if args.cmd == "sync-point":
        # metadata-only: tags + one manifest document, no Spark session
        from dbimport_spark.plans.registry import (
            TableRegistry,
            create_sync_point,
            drop_sync_point,
            sync_points,
        )

        reg = TableRegistry(args.registry)
        if args.sp_set:
            print(json.dumps(
                create_sync_point(reg, args.sp_set, only=args.only,
                                  replace=args.replace), indent=2
            ))
        elif args.sp_remove:
            found = drop_sync_point(reg, args.sp_remove)
            print(json.dumps({"removed": args.sp_remove, "found": found}))
            return 0 if found else 1
        elif args.sp_show:
            pts = sync_points(reg)
            if args.sp_show not in pts:
                print(json.dumps({"error": f"no sync point {args.sp_show!r}"}))
                return 1
            print(json.dumps(pts[args.sp_show], indent=2))
        else:
            pts = sync_points(reg)
            print(json.dumps(
                {n: {"created_unix": m["created_unix"],
                     "tables": sorted(m["tables"])}
                 for n, m in pts.items()}, indent=2,
            ))
        return 0
    if args.cmd == "airflow-gen":
        # pure text generation, no Spark session
        from dbimport_spark.plans.airflow_gen import generate_dag
        from dbimport_spark.plans.registry import TableRegistry

        src = generate_dag(
            TableRegistry(args.registry),
            args.dag_id,
            schedule=args.schedule,
            schedule_group=args.schedule_group,
            only=args.only,
            separate_phases=args.separate_phases,
            finish_replay_first=args.finish_replay_first,
            retries=args.retries,
            pool=args.pool,
            tags=tuple(args.tag),
            timezone=args.timezone,
            sync_point=args.sync_point,
            python=args.python,
        )
        if args.out:
            with open(args.out, "w") as fh:
                fh.write(src)
            print(json.dumps({"written": args.out,
                              "bytes": len(src.encode())}))
        else:
            print(src)
        return 0

    if args.cmd == "serve":
        # metadata-only monitoring; blocks until Ctrl-C
        from dbimport_spark.server import serve as _serve

        _serve(args.registry, host=args.host, port=args.port)
        return 0

    if args.cmd == "lag":
        # metadata-only: snapshot JSON + parquet footers, no Spark session
        from dbimport_spark.plans.lag import follower_lag
        from dbimport_spark.plans.registry import TableRegistry

        report = follower_lag(
            TableRegistry(args.registry), only=args.only
        )
        print(json.dumps(report, indent=2))
        if args.max_versions_behind is not None:
            worst = max(
                (
                    f.get("versions_behind") or 0
                    for rec in report.values()
                    for f in rec["followers"]
                ),
                default=0,
            )
            if worst > args.max_versions_behind:
                return 1
        return 0

    if (
        args.cmd in ("cdc-export", "mirror", "matview")
        and getattr(args, "stream", None) is not None
        and args.on_gap == "full"
    ):
        # the stream branches never reach sync(on_gap=...): an expired
        # delta base stops the stream loudly, and silently ignoring the
        # flag the operator passed for exactly that case would be worse
        print(
            f"{args.cmd}: --on-gap full and --stream are incompatible — "
            f"run a one-shot `{args.cmd} --on-gap full` to reconcile, "
            "then restart the stream with "
            "startingVersion=<the follower's watermark>",
            file=sys.stderr,
        )
        return 2

    spark = get_spark(app_name=f"dbimport-{args.cmd}", master=args.master)
    spark.sparkContext.setLogLevel("WARN")

    if args.cmd == "init":
        layout_props = {}
        if args.sort_order:
            layout_props["sort_order"] = args.sort_order
        if args.stat_columns:
            layout_props["stat_columns"] = args.stat_columns
        if args.bloom_columns:
            layout_props["bloom_columns"] = args.bloom_columns
        if args.bloom_ndv:
            # validate BEFORE create_table: failing after would leave a
            # half-initialized table (v0 committed, no layout props) whose
            # O_EXCL v0 commit blocks re-running init with the fixed value
            if not args.bloom_ndv.isdigit() or int(args.bloom_ndv) <= 0:
                print(
                    f"init: --bloom-ndv must be a positive integer, "
                    f"got {args.bloom_ndv!r}",
                    file=sys.stderr,
                )
                return 2
            layout_props["bloom_ndv"] = args.bloom_ndv
        t = CDCEngine.create_table(
            args.table_root, num_buckets=args.buckets,
            soft_delete=args.soft_delete, track_lsn=args.track_lsn
        )
        if layout_props:
            t.commit([], set(), properties=layout_props)
        if args.history:
            CDCEngine.create_history_table(args.history, num_buckets=args.buckets)
        print(
            json.dumps(
                {
                    "created": args.table_root,
                    "buckets": args.buckets,
                    "soft_delete": args.soft_delete,
                    "track_lsn": args.track_lsn,
                    "history": args.history,
                }
            )
        )
    elif args.cmd == "gen":
        from dbimport_spark.sources.loggen import generate_changes, write_changes

        write_changes(
            generate_changes(
                spark, args.events, n_keys=args.keys, seed=args.seed,
                evolve_at_lsn=args.evolve_at,
            ),
            args.log_path,
        )
        print(json.dumps({"written": args.log_path, "events": args.events}))
    elif args.cmd == "replay":
        from dbimport_spark.plans.validate import max_delete_fraction

        table = LakeTable.load(args.table_root)
        renames = dict(r.split("=", 1) for r in args.rename)
        eng = CDCEngine(
            spark,
            table,
            checkpoint_dir=args.checkpoint,
            delete_mode=args.delete_mode,
            history_table=LakeTable.load(args.history) if args.history else None,
            renames=renames,
            rename_check=not args.no_rename_check,
            quarantine_dir=args.quarantine_dir,
            write_mode=args.write_mode,
            validators=(
                [max_delete_fraction(args.max_delete_fraction)]
                if args.max_delete_fraction is not None
                else None
            ),
        )
        if args.format == "debezium":
            from dbimport_spark.sources.debezium import read_debezium_changes

            changes = read_debezium_changes(
                spark, args.log_path, key_field=args.key_field or "doc_id"
            )
        elif args.format == "json":
            from dbimport_spark.sources.jsonlog import read_json_changes

            changes = read_json_changes(
                spark, args.log_path, id_field=args.key_field or "_id"
            )
        else:
            # mergeSchema: an evolved multi-segment log's older footers lack
            # the new columns (and pre-rename segments carry old names) — the
            # union schema is what the engine's alignment and the schema-diff
            # planner both reason over, so replay must read the same way
            changes = spark.read.option("mergeSchema", "true").parquet(
                args.log_path
            )
        if args.full_reload:
            stats = eng.full_reload(changes, num_batches=args.batches)
        else:
            stats = eng.replay(
                changes, num_batches=args.batches, allow_log_gap=args.allow_log_gap
            )
        print(
            json.dumps(
                {
                    "applied": stats.batches_applied,
                    "skipped": stats.batches_skipped,
                    "events": stats.events_applied,
                    "quarantined": getattr(stats, "events_quarantined", 0),
                    "last_lsn": table.last_lsn(),
                }
            )
        )
    elif args.cmd == "stream":
        from dbimport_spark.streaming.stream import run_stream, stream_changes

        table = LakeTable.load(args.table_root)
        eng = CDCEngine(
            spark, table, write_mode=args.write_mode,
            quarantine_dir=args.quarantine_dir,
        )
        reread = None
        if args.format == "debezium":
            from dbimport_spark.sources.debezium import (
                read_debezium_changes,
                stream_debezium_changes,
            )

            stream_df = stream_debezium_changes(
                spark,
                args.log_dir,
                key_field=args.key_field,
                # persist the inferred raw schema next to the checkpoint:
                # a restart over a large archive reloads it in O(1)
                # instead of re-inferring over every segment
                schema_cache=os.path.join(
                    args.checkpoint, "debezium_schema.json"
                ),
            )

            def reread(sp, paths, _kf=args.key_field):
                # late-segment recovery must re-read JSONL segments with
                # the Debezium projection, not as parquet
                return read_debezium_changes(sp, list(paths), key_field=_kf)

        else:
            stream_df = stream_changes(spark, args.log_dir)
        q = run_stream(
            eng,
            stream_df,
            checkpoint_dir=args.checkpoint,
            available_now=not args.continuous,
            on_out_of_order=args.on_out_of_order,
            reread=reread,
        )
        q.awaitTermination()
        print(json.dumps({"last_lsn": table.last_lsn()}))
    elif args.cmd == "validate":
        from dbimport_spark.plans.validate import (
            fold_expected,
            reconcile,
            validate_rowcount,
        )
        from pyspark.sql import functions as F

        from dbimport_spark.schema import AUDIT_COLUMNS, AUDIT_IUD, AUDIT_SOURCE

        table = LakeTable.load(args.table_root)
        actual = table.read(spark)
        from dbimport_spark.schema import AUDIT_DELETE

        n_tombstones = 0
        if AUDIT_DELETE in actual.columns and AUDIT_IUD in actual.columns:
            # soft-delete tombstones are audit state, not live rows — the
            # fold drops deleted keys, so reconcile live rows only
            live = actual.filter(
                F.coalesce(F.col(AUDIT_IUD) != F.lit("D"), F.lit(True))
            )
            n_tombstones = actual.count() - live.count()
            actual = live
        # dl_source is engine-stamped and absent from every change log —
        # exclude it from the fold comparison like the audit columns
        cols = [
            c for c in actual.columns
            if c not in AUDIT_COLUMNS and c != AUDIT_SOURCE
        ]
        # mergeSchema like replay/repair: an evolved multi-segment log's
        # single-footer inference would miss (or mis-type) columns that
        # only newer/older segments carry, flagging a converged table as
        # diverged (or failing the fold's select outright)
        log_df = spark.read.option("mergeSchema", "true").parquet(
            args.log_path
        )
        if args.window:
            from dbimport_spark.plans.validate import reconcile_incremental

            if args.window[1] != table.last_lsn():
                # the live table reflects last_lsn; folding only to an older
                # (or future) HI would flag a consistent table as diverged
                raise SystemExit(
                    f"--window HI ({args.window[1]}) must equal the table "
                    f"watermark ({table.last_lsn()}): incremental validation "
                    "checks the most recently applied window"
                )
            rec = reconcile_incremental(
                actual, log_df, args.window[0], args.window[1], payload_cols=cols
            )
        else:
            expected = fold_expected(log_df, payload_cols=cols)
            rec = reconcile(actual, expected, cols)
        rec["tombstones_excluded"] = n_tombstones
        rec["rowcount_within_tolerance"] = validate_rowcount(
            rec["rows_actual"], rec["rows_expected"], args.allowed_diff
        )
        print(json.dumps(rec))
        return 0 if rec["converged"] else 1
    elif args.cmd == "export":
        from dbimport_spark.plans.export import ParquetExporter, export_snapshot

        table = LakeTable.load(args.table_root)
        if args.at is not None:
            out = export_snapshot(
                spark, table, args.out_dir, args.at,
                include_audit=args.include_audit,
                include_deleted=args.include_deleted,
            )
        else:
            out = ParquetExporter(
                table, args.out_dir, include_audit=args.include_audit
            ).export(spark, mode=args.mode)
        print(json.dumps(out))
    elif args.cmd == "cdc-export":
        from dbimport_spark.plans.cdc_export import (
            CDCJdbcExporter,
            verify_cdc_export,
        )

        table = LakeTable.load(args.table_root)
        exp = CDCJdbcExporter(
            table, args.url, args.target_table, state_dir=args.state_dir,
            dialect=args.dialect, pin_name=args.pin,
        )
        if args.stream is not None:
            from dbimport_spark.streaming.cdf_source import follow_export_stream

            out = _drain_stream(
                args,
                follow_export_stream(
                    spark, args.table_root, exp, args.stream,
                    trigger_seconds=args.poll,
                ),
                table, lambda: int(exp._state()["last_version"]),
                "exported_source_version",
            )
        else:
            out = exp.sync(spark, on_gap=args.on_gap)
        if args.verify:
            out["verify"] = verify_cdc_export(
                spark, table, args.url, args.target_table
            )
        print(json.dumps(out))
        if args.verify and not out["verify"]["converged"]:
            return 1
    elif args.cmd == "quarantine":
        table = LakeTable.load(args.table_root)
        eng = CDCEngine(
            spark,
            table,
            quarantine_dir=args.dir,
            renames=dict(r.split("=", 1) for r in args.rename),
        )
        if not args.drain:
            print(json.dumps({"parked": eng.list_quarantine()}))
            return 0
        changes = (
            spark.read.option("mergeSchema", "true").parquet(args.log)
            if args.log
            else None
        )
        print(json.dumps(eng.drain_quarantine(changes=changes)))
    elif args.cmd == "repair":
        table = LakeTable.load(args.table_root)
        eng = CDCEngine(
            spark,
            table,
            history_table=LakeTable.load(args.history) if args.history else None,
            renames=dict(r.split("=", 1) for r in args.rename),
        )
        changes = spark.read.option("mergeSchema", "true").parquet(args.log_path)
        # keys are derived INSIDE repair_keys from the rename-aligned log —
        # selecting them from the raw frame here would yield nulls for
        # pre-rename segments and silently no-op the repair
        stats = eng.repair_keys(changes, window=(args.lo, args.hi))
        print(
            json.dumps(
                {
                    "repaired_keys": stats.events,
                    "touched_buckets": stats.touched_buckets,
                    "out_rows": stats.out_rows,
                    "last_lsn": table.last_lsn(),
                }
            )
        )
    elif args.cmd == "replay-all":
        from dbimport_spark.plans.registry import TableRegistry, replay_all

        results = replay_all(
            spark, TableRegistry(args.registry), only=args.only,
            sync_point=args.sync_point, phase=args.phase,
        )
        print(json.dumps(results, indent=2))
        if any(not r.get("ok") for r in results.values()):
            return 1
    elif args.cmd == "compact":
        from dbimport_spark.lake.maintenance import compact

        table = LakeTable.load(args.table_root)
        out = compact(
            spark,
            table,
            max_files_per_bucket=args.max_files_per_bucket,
            expire_keep_last=args.expire_keep_last,
        )
        print(json.dumps(out))
    elif args.cmd == "rebucket":
        from dbimport_spark.lake.maintenance import rebucket

        table = LakeTable.load(args.table_root)
        print(json.dumps(rebucket(spark, table, args.buckets)))
    elif args.cmd == "schema-diff":
        # the planner IS the engine's own dry-run (CDCEngine.plan_evolution
        # reuses apply_batch's guards in order) — the CLI only reads the
        # log the same way replay does and prints the report
        table = LakeTable.load(args.table_root)
        eng = CDCEngine(
            spark, table, renames=dict(r.split("=", 1) for r in args.rename)
        )
        batch = spark.read.option("mergeSchema", "true").parquet(args.log_path)
        report = eng.plan_evolution(batch.schema)
        print(json.dumps(report))
        return 0 if report.get("would_apply") else 1
    elif args.cmd == "changes":
        from dbimport_spark.lake.cdf import table_changes, table_changes_per_commit

        table = LakeTable.load(args.table_root)
        # REFs (version / tag / timestamp) resolve against retained
        # metadata only — no data read happens before the window check
        from_v = table.resolve_ref(args.from_version)
        to_v = (
            table.resolve_ref(args.to_version)
            if args.to_version is not None
            else None
        )
        if args.follow:
            from dbimport_spark.lake.cdf import follow_changes

            emitted = []
            for lo, hi, feed in follow_changes(
                spark, table, from_version=from_v,
                poll_s=args.poll, max_windows=args.max_windows,
                stop_file=args.stop_file,
            ):
                wdir = os.path.join(args.out, f"w{lo}-{hi}")
                feed.write.mode("overwrite").parquet(wdir)
                rec = {"from_version": lo, "to_version": hi, "out": wdir}
                emitted.append(rec)
                print(json.dumps(rec), flush=True)
            print(json.dumps({"windows": len(emitted)}))
            return 0
        if args.per_commit:
            df = table_changes_per_commit(spark, table, from_v, to_v)
        else:
            df = table_changes(
                spark, table, from_v, to_v, include_preimage=args.preimage,
            )
        if args.out:
            df.write.mode("overwrite").parquet(args.out)
            df = spark.read.parquet(args.out)  # counts from the written feed
        counts = {
            r["_change_type"]: r["count"]
            for r in df.groupBy("_change_type").count().collect()
        }
        print(
            json.dumps(
                {
                    "from_version": from_v,
                    "to_version": to_v
                    if to_v is not None
                    else table.current().version,
                    "changes": counts,
                    "out": args.out,
                }
            )
        )
    elif args.cmd == "mirror":
        from dbimport_spark.plans.mirror import follow_mirror, sync_mirror

        source = LakeTable.load(args.source_root)
        mirror = LakeTable.load(args.mirror_root)
        eng = CDCEngine(spark, mirror)
        if args.stream is not None:
            from dbimport_spark.streaming.cdf_source import follow_mirror_stream

            out = _drain_stream(
                args,
                follow_mirror_stream(
                    spark, args.source_root, eng, args.stream,
                    trigger_seconds=args.poll, pin_name=args.pin,
                ),
                source, mirror.last_lsn, "mirrored_source_version",
            )
        elif args.follow:
            applied = follow_mirror(
                spark, source, eng, poll_s=args.poll,
                max_syncs=args.max_syncs, stop_file=args.stop_file,
                on_gap=args.on_gap, pin_name=args.pin,
            )
            out = {
                "syncs": len(applied),
                "events": sum(b.events for b in applied),
                "mirrored_source_version": mirror.last_lsn(),
            }
        else:
            bs = sync_mirror(spark, source, eng, on_gap=args.on_gap,
                             pin_name=args.pin)
            out = {
                "skipped": bs.skipped,
                "events": bs.events,
                "quarantined": bs.quarantined,
                "mirrored_source_version": mirror.last_lsn(),
            }
        if args.verify:
            from dbimport_spark.plans.mirror import verify_mirror

            out["verify"] = verify_mirror(spark, source, mirror)
        print(json.dumps(out))
        if args.verify and not out["verify"]["converged"]:
            return 1
    elif args.cmd == "matview":
        from dbimport_spark.plans.matview import (
            AggSpec,
            create_view,
            sync_view,
            verify_view,
        )

        source = LakeTable.load(args.source_root)
        spec = AggSpec(
            group_cols=args.group_by, sum_cols=args.sum,
            min_cols=args.min, max_cols=args.max,
        )
        if args.create:
            view = create_view(args.view_root, source, spec, args.buckets)
        else:
            view = LakeTable.load(args.view_root)
        eng = CDCEngine(spark, view)
        if args.stream is not None:
            from dbimport_spark.streaming.cdf_source import follow_view_stream

            out = _drain_stream(
                args,
                follow_view_stream(
                    spark, args.source_root, eng, spec, args.stream,
                    trigger_seconds=args.poll, pin_name=args.pin,
                ),
                source, view.last_lsn, "view_source_version",
            )
        elif args.follow:
            from dbimport_spark.plans.matview import follow_view

            applied = follow_view(
                spark, source, eng, spec, poll_s=args.poll,
                max_syncs=args.max_syncs, stop_file=args.stop_file,
                on_gap=args.on_gap, pin_name=args.pin,
            )
            out = {
                "syncs": len(applied),
                "groups_touched": sum(b.events for b in applied),
                "view_source_version": view.last_lsn(),
            }
        else:
            bs = sync_view(
                spark, source, eng, spec, on_gap=args.on_gap,
                pin_name=args.pin,
            )
            out = {
                "skipped": bs.skipped,
                "groups_touched": bs.events,
                "view_source_version": view.last_lsn(),
            }
        if args.verify:
            out["verify"] = verify_view(spark, source, view, spec)
        print(json.dumps(out))
        if args.verify and not out["verify"]["converged"]:
            return 1
    elif args.cmd == "purge-tombstones":
        from dbimport_spark.lake.maintenance import purge_tombstones

        table = LakeTable.load(args.table_root)
        out = purge_tombstones(spark, table, args.older_than)
        print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
