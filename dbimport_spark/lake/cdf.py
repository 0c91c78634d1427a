"""Change data feed: emit a changelog by diffing two table snapshots.

The engine is a CDC *sink* (log -> table); this module makes it a CDC
*source* too — downstream consumers read the net row-level changes
between two committed versions as (op, key, payload) rows, the
Iceberg-incremental-read / Delta-CDF analogue of the reference exposing
its import tables to downstream exports (reference
copy_operations.py — the "copy to other cluster" stage ships exactly
the rows a version window changed).

Scale design (the part that matters at 100 TB):

- **File-level pruning from metadata alone.** A data file shared by both
  snapshots (same immutable path) contributes identical rows to both
  sides, so it can never produce a diff row — only files unique to one
  snapshot are read (``snapshot_diff_files``). The engine rewrites
  whole buckets on merge, so between two adjacent versions this reads
  ~2x the touched buckets' bytes and ZERO bytes for untouched buckets;
  no full-table scan, ever. Pinned by ``tests/test_cdf.py`` against
  ``df.inputFiles()``.
- **One key-hash shuffle.** The two pruned sides full-outer join on the
  merge key; everything else (liveness classification, null-safe
  payload comparison) is a Catalyst projection on the joined row. AQE
  broadcasts the small side when one version barely changed.
- **Audit columns are excluded from the comparison** (they change on
  every merge even when content doesn't) — except ``dl_delete_ts``,
  whose null/non-null transition IS the soft-delete signal.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dbimport_spark.schema import AUDIT_COLUMNS, AUDIT_DELETE
from dbimport_spark.lake.table import DataFile, LakeTable, Snapshot

CHANGE_TYPE_COL = "_change_type"
COMMIT_VERSION_COL = "_commit_version"


def snapshot_diff_files(
    snap_a: Snapshot, snap_b: Snapshot
) -> tuple[list[DataFile], list[DataFile]]:
    """Files unique to each snapshot (shared paths pruned, metadata-only).

    Data files are immutable and never renamed (``write_data_files``), so
    path identity is content identity: a path in both snapshots holds the
    same rows on both sides and cannot contribute to the diff.
    """
    paths_a = {f.path for f in snap_a.files}
    paths_b = {f.path for f in snap_b.files}
    only_a = [f for f in snap_a.files if f.path not in paths_b]
    only_b = [f for f in snap_b.files if f.path not in paths_a]
    return only_a, only_b


def diff_read_sets(
    snap_a: Snapshot, snap_b: Snapshot
) -> tuple[list[DataFile], list[DataFile]]:
    """Per-side file sets for the window diff.

    Copy-on-write commits replace whole buckets, so a touched bucket's
    non-shared files ARE its complete state on both sides — the diff
    reads exactly ``snapshot_diff_files`` (shared paths never read, the
    pinned scale property). Merge-on-read commits append delta/delete
    files atop a SHARED base: for buckets where either side carries a
    non-base file, each side widens to the bucket's full file set —
    reconciliation needs the base both for its own live state and for
    the pre-images the other side's deltas superseded.
    """
    only_a, only_b = snapshot_diff_files(snap_a, snap_b)
    touched = {f.bucket for f in only_a} | {f.bucket for f in only_b}
    mor_buckets = {
        f.bucket
        for f in list(snap_a.files) + list(snap_b.files)
        if f.bucket in touched and f.kind != "base"
    }
    if not mor_buckets:
        return only_a, only_b
    shared = {f.path for f in snap_a.files} & {f.path for f in snap_b.files}
    read_a = [
        f
        for f in snap_a.files
        if f.path not in shared or f.bucket in mor_buckets
        if f.bucket in touched
    ]
    read_b = [
        f
        for f in snap_b.files
        if f.path not in shared or f.bucket in mor_buckets
        if f.bucket in touched
    ]
    return read_a, read_b


def rename_mapping(from_renames: list, to_renames: list) -> dict[str, str]:
    """old-name -> new-name over the rename-log slice
    ``to_renames[len(from_renames):]``, transitively chained (a->b then
    b->c folds to a->c). The ONE definition of the chain fold — shared
    by ``_align_to`` and the streaming source's catch-up alignment,
    which must never drift from each other."""
    mapping: dict[str, str] = {}
    for r in to_renames[len(from_renames):]:
        src = next((k for k, v in mapping.items() if v == r["from"]), r["from"])
        mapping[src] = r["to"]
    return mapping


def _align_to(
    df: DataFrame,
    from_snap: Snapshot,
    to_snap: Snapshot,
    names: list[str],
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """Project an older snapshot's rows onto ``names`` of the newer
    snapshot's schema: renames applied in the window are mapped
    old-name -> new-name, columns added in the window come through as
    nulls, widened columns are cast up; ``passthrough`` columns follow
    unchanged. Mirrors how ``LakeTable.read`` maps old files to the
    current names, but across VERSIONS instead of file epochs."""
    mapping = rename_mapping(from_snap.renames, to_snap.renames)
    have = {mapping.get(c, c): c for c in df.columns}
    types = {f.name: f.dataType for f in to_snap.schema.fields}
    return df.select(
        *[
            (
                F.col(have[n]).cast(types[n]).alias(n)
                if n in have
                else F.lit(None).cast(types[n]).alias(n)
            )
            for n in names
        ],
        *passthrough,
    )


def rewrite_only_window(
    table: LakeTable, snap_a: Snapshot, snap_b: Snapshot
) -> bool:
    """True when EVERY commit in (a, b] is marked ``rewrite_only`` (a
    rebucket or other layout-only rewrite): table state at b equals state
    at a, so the window's change feed is empty BY CONSTRUCTION and no
    file needs reading. Metadata-only.

    Conservative on expired history: if any intermediate version is no
    longer retained the marker chain cannot be verified, so this returns
    False and callers take the normal (scan) path — correct either way,
    this is purely a fast path.
    """
    if snap_b.version <= snap_a.version:
        return False
    # ONE span-checker: LakeTable._rewrite_only_span is the same loop
    # plus the reload-leak guard (a reload is never state-equal to its
    # parent even when a rewrite_only marker leaked onto it) — a second
    # hand-maintained copy here had already drifted from it once.
    return table._rewrite_only_span(snap_a.version, snap_b.version)


def window_has_reload(table: LakeTable, from_v: int, to_v: int) -> int | None:
    """The version of the first declared full reload STRICTLY inside
    ``(from_v, to_v]``, or None. Followers use this to route a window an
    incremental diff cannot cover to their full-reconcile path BEFORE
    calling ``table_changes`` — a retained base snapshot does not make
    the window diffable when a reload sits inside it."""
    for v in table.snapshots():
        if from_v < v <= to_v:
            if table.snapshot_properties(v).get("reload") == "true":
                return v
    return None


def check_window(table: LakeTable, snap_a: Snapshot, snap_b: Snapshot) -> None:
    """Refuse version windows an incremental diff cannot cover. Shared
    by ``table_changes`` and the streaming source
    (``streaming/cdf_source``)."""
    if snap_b.version < snap_a.version:
        raise ValueError(
            f"to_version {snap_b.version} precedes from_version {snap_a.version}"
        )
    # A declared full reload inside the window resets rename history and
    # possibly the schema lineage — _align_to's rename-slice assumption
    # (to extends from) no longer holds, and a by-bare-name match across
    # the boundary could silently emit wrong deltas. Refuse; callers
    # reconcile via the full path (mirror/matview on_gap='full').
    v = window_has_reload(table, snap_a.version, snap_b.version)
    if v is not None:
        raise ValueError(
            f"version window ({snap_a.version}, {snap_b.version}] "
            f"crosses a declared full reload at version {v} — an "
            "incremental diff across a reload boundary is not "
            "well-defined. Reconcile with a full read instead "
            "(mirror/matview: on_gap='full')."
        )
    nb, na = snap_b.renames, snap_a.renames
    if len(nb) < len(na) or nb[: len(na)] != na:
        # rename history shrank — or is no longer an EXTENSION of the
        # window start's (a reload cleared it and new renames grew it
        # back to the old length or longer) — but no retained snapshot
        # carries the reload marker (it expired): same boundary, weaker
        # evidence. Length alone would miss the grown-back case and
        # _align_to would match columns by bare name across the reload.
        raise ValueError(
            f"rename history at version {snap_b.version} does not extend "
            f"the history at {snap_a.version} — the window crosses an "
            "expired reload boundary. Reconcile with a full read instead."
        )


def incremental_window(
    table: LakeTable, from_v: int, to_v: int, on_gap: str, full_sync: str
) -> bool:
    """The followers' one gap rule (mirror, matview and CDC-export syncs).
    A sync window ``(from_v, to_v]`` is incremental — True — when its
    delta base ``from_v`` is still retained and no declared full reload
    lies inside it. Otherwise only the follower's full path can cover it:
    False under ``on_gap='full'``, else a ValueError naming the cause and
    ``full_sync``, the remedy. The reload is probed FIRST, so a retained
    base across a reload is refused as the reload, not diffed. Metadata
    only."""
    reload_v = window_has_reload(table, from_v, to_v)
    if from_v in table.snapshots() and reload_v is None:
        return True
    if on_gap == "full":
        return False
    if reload_v is not None:
        raise ValueError(
            f"window ({from_v}, {to_v}] crosses a declared full reload at "
            f"version {reload_v} — an incremental sync cannot cover it. "
            f"Re-run with on_gap='full' for {full_sync}."
        )
    raise ValueError(
        f"source snapshot {from_v} has been expired (retained: "
        f"{table.snapshots()}) — the delta base is gone. Re-run with "
        f"on_gap='full' for {full_sync}."
    )


def reconcile_feed(
    spark: SparkSession,
    source: LakeTable,
    to_v: int,
    target_keys: DataFrame | None,
) -> DataFrame:
    """The full-reconcile feed of a follower whose window is not
    incremental (``incremental_window``): the source's live rows at
    ``to_v`` as updates, plus a null-payload delete for every row of
    ``target_keys`` (the target's merge-key columns) whose key the source
    no longer has; None (no target yet) gives the updates alone. Columns
    as ``table_changes`` minus ``_commit_version``. PINNED to ``to_v``:
    reading current() would let a row of a racing commit (> to_v) into
    the reconcile while the watermark commits as ``to_v`` — if the
    source then deletes that row, the next window's net diff sees
    absent→absent and the target keeps the phantom row forever."""
    src = source.read(spark, version=to_v)
    if AUDIT_DELETE in src.columns:  # soft source: tombstones are deletes
        src = src.filter(F.col(AUDIT_DELETE).isNull())
    live = src.select(*[c for c in src.columns if c not in AUDIT_COLUMNS])
    upserts = live.withColumn(CHANGE_TYPE_COL, F.lit("update"))
    if target_keys is None:
        return upserts
    keys = target_keys.columns
    gone = target_keys.join(live.select(*keys), on=keys, how="left_anti")
    return upserts.unionByName(
        gone.select(
            *[
                F.col(f.name) if f.name in keys
                else F.lit(None).cast(f.dataType).alias(f.name)
                for f in live.schema.fields
            ],
            F.lit("delete").alias(CHANGE_TYPE_COL),
        )
    )


def compare_scope(snap: Snapshot, cols) -> list[str] | None:
    """The ``table_changes`` ``compare_cols`` for a consumer that reads only
    ``cols``: those columns, or None (compare the full payload) when they
    name no non-key column — the one list shape ``table_changes`` refuses,
    because it would hide every update."""
    cols = sorted(set(cols))
    return cols if set(cols) - set(snap.merge_keys) else None


def table_changes(
    spark: SparkSession,
    table: LakeTable,
    from_version: int,
    to_version: int | None = None,
    include_preimage: bool = False,
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Net row-level changes committed after ``from_version`` up to and
    including ``to_version`` (default: current).

    Returns the payload columns (at ``to_version``'s names/types) plus
    ``_change_type`` ('insert' | 'update' | 'delete') and
    ``_commit_version`` (= ``to_version``). Delete rows carry the last
    known payload from the FROM side. With ``include_preimage``, update
    rows additionally carry every payload column's pre-image as
    ``_pre_<col>``.

    Soft-deleted rows (``dl_delete_ts`` set) count as absent: a
    live->dead transition emits 'delete', dead->live emits 'insert'
    (revival), dead->dead emits nothing even if the tombstone payload
    moved.

    ``compare_cols`` scopes UPDATE detection to the named payload columns:
    a matched live row whose changes are confined to columns OUTSIDE the
    set emits nothing. This is the column-pruning dial for consumers that
    aggregate a few columns (the matview maintains count/sum/min/max over
    a column subset, and a row whose view columns are all unchanged
    contributes exactly zero to every maintained aggregate): with the wide
    payload columns out of the comparison, Catalyst prunes them from BOTH
    scan sides and the diff join shuffles only the named columns — at the
    100 TB design point that is the difference between diffing a few
    percent of bucket bytes and diffing all of them. Insert/delete
    classification is presence-based and unaffected. Default None keeps
    the full-payload comparison (the CDC-feed contract).
    """
    snap_a = table.snapshot(from_version)
    snap_b = (
        table.current() if to_version is None else table.snapshot(to_version)
    )
    check_window(table, snap_a, snap_b)

    keys = snap_b.merge_keys
    payload_cols = [
        f.name for f in snap_b.schema.fields if f.name not in AUDIT_COLUMNS
    ]
    value_cols = [c for c in payload_cols if c not in keys]
    if compare_cols is not None:
        unknown = sorted(set(compare_cols) - set(payload_cols))
        if unknown:
            raise ValueError(
                f"compare_cols {unknown} not in payload columns "
                f"{payload_cols} — a silently ignored name would make "
                "every update on it invisible"
            )
        if compare_scope(snap_b, compare_cols) is None:
            raise ValueError(
                f"compare_cols {sorted(compare_cols)} names no non-key "
                f"payload column (merge key {keys}) — every update would "
                "be invisible; pass None to compare the full payload"
            )
        value_cols = [c for c in value_cols if c in compare_cols]
    soft = AUDIT_DELETE in snap_b.schema.fieldNames()

    if rewrite_only_window(table, snap_a, snap_b):
        # layout-only window (e.g. rebucket): state identical, emit empty
        # without touching a single data file — the join below over two
        # empty sides folds to a LocalTableScan with the exact output schema
        only_a, only_b = [], []
    else:
        only_a, only_b = diff_read_sets(snap_a, snap_b)
    keep = payload_cols + ([AUDIT_DELETE] if soft else [])
    side_a = _align_to(
        table.read_files_reconciled(spark, snap_a, only_a), snap_a, snap_b, keep
    )
    side_b = table.read_files_reconciled(spark, snap_b, only_b).select(*keep)

    a = side_a.alias("a")
    b = side_b.alias("b")
    joined = a.join(
        b, on=[F.col(f"a.{k}").eqNullSafe(F.col(f"b.{k}")) for k in keys],
        how="full_outer",
    )

    # presence := row exists on that side AND (hard-delete tables: always
    # live) AND (soft tables: tombstone not set). Key columns are non-null
    # by engine invariant, so key-null marks side absence after the join.
    def live(side: str):
        present = F.col(f"{side}.{keys[0]}").isNotNull()
        if soft:
            present = present & F.col(f"{side}.{AUDIT_DELETE}").isNull()
        return present

    changed = F.lit(False)
    for c in value_cols:
        changed = changed | ~F.col(f"a.{c}").eqNullSafe(F.col(f"b.{c}"))

    change_type = (
        F.when(live("b") & ~live("a"), F.lit("insert"))
        .when(live("a") & ~live("b"), F.lit("delete"))
        .when(live("a") & live("b") & changed, F.lit("update"))
    )

    # payload: B side for insert/update, A side (last known) for delete
    out_cols = [
        F.when(change_type == "delete", F.col(f"a.{c}"))
        .otherwise(F.col(f"b.{c}"))
        .alias(c)
        for c in payload_cols
    ]
    if include_preimage:
        out_cols += [
            F.when(change_type == "update", F.col(f"a.{c}"))
            .alias(f"_pre_{c}")
            for c in payload_cols
        ]
    out_cols += [
        change_type.alias(CHANGE_TYPE_COL),
        F.lit(snap_b.version).alias(COMMIT_VERSION_COL),
    ]
    return joined.select(*out_cols).filter(F.col(CHANGE_TYPE_COL).isNotNull())


def follow_changes(
    spark: SparkSession,
    table: LakeTable,
    from_version: int | None = None,
    poll_s: float = 5.0,
    max_windows: int | None = None,
    stop_file: str | None = None,
):
    """Tail the table's commit log: yield ``(from_v, to_v, feed_df)`` for
    each new committed window, polling metadata between commits.

    The batch-incremental analogue of a Structured Streaming source over
    the table (the reference has no streaming either — its Airflow DAGs
    poll sources on a schedule, docs/concept.rst "General description"):
    each poll is a metadata-only ``current()`` read (one hint file + a
    forward probe); data is only touched when a new version exists, and
    then only the window's unique files (``table_changes`` pruning).

    Consumers drive their own watermarks with the yielded versions —
    e.g. ``plans/mirror.follow_mirror`` commits ``to_v`` as the mirror's
    LSN, so a killed follower resumes from its table, not this loop.

    Stops after ``max_windows`` yields (None = forever) or by the
    followers' stop rule (``follow_passes``): once ``stop_file`` is seen,
    one final window covers every commit up to that moment.

    A declared full reload landing inside a window raises ``ValueError``
    out of the generator (``check_window``) — deliberately: an
    incremental diff across a reload is not well-defined, so the
    consumer must reconcile with a full read (mirror/matview:
    ``on_gap='full'``) and restart the follower from the reload version.
    """
    last = table.current().version if from_version is None else from_version

    def next_window():
        nonlocal last
        cur = table.current().version
        if cur <= last:
            return None
        lo, last = last, cur
        return lo, cur, table_changes(spark, table, lo, cur)

    yield from follow_passes(next_window, poll_s, max_windows, stop_file)


def follow_passes(step, poll_s: float, limit: int | None, stop_file: str | None):
    """THE polling follower loop and the followers' one stop rule,
    shared by ``follow_changes`` and ``plans/mirror.follow_sync``.

    ``step()`` runs one pass over ``(watermark, current]`` and returns
    what it applied, or None when nothing was pending. Each result is
    yielded before the next pass runs; a pass that applied something is
    followed at once (more commits may have landed), an idle one sleeps
    ``poll_s``. Stops after ``limit`` results (None = never), or by the
    stop rule: once ``stop_file`` is seen, finish the windows committed up
    to that moment, then stop. The file is checked BEFORE each pass and
    that pass is the last one — it covers everything current when the
    file was seen, so a source that commits between passes can neither
    keep the follower running nor strand a pending window. (The stream
    followers' CLI drain applies the same rule to the source version read
    when the file was first seen, ``cli._drain_stream``.)"""
    import os
    import time

    done = 0
    while limit is None or done < limit:
        stopping = stop_file is not None and os.path.isfile(stop_file)
        out = step()
        if out is not None:
            done += 1
            yield out
        if stopping:
            return
        if out is None:
            time.sleep(poll_s)


def table_changes_per_commit(
    spark: SparkSession,
    table: LakeTable,
    from_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """Per-commit changelog: one ``table_changes`` diff per consecutive
    version pair in (from_version, to_version], unioned, each stamped
    with its own ``_commit_version``. The driver loop is over COMMITTED
    VERSIONS (metadata-sized, bounded by snapshot retention), never over
    data; each pair's diff keeps the file-level pruning, so total bytes
    read ~= bytes written in the window."""
    hi = table.current().version if to_version is None else to_version
    versions = [v for v in table.snapshots() if from_version <= v <= hi]
    if from_version not in versions:
        raise ValueError(
            f"from_version {from_version} expired or never existed "
            f"(retained: {table.snapshots()})"
        )
    if len(versions) > 100:
        import warnings

        warnings.warn(
            f"table_changes_per_commit over {len(versions) - 1} version "
            "pairs builds a union plan that wide — consider windowing the "
            "range (several calls over sub-ranges) or the net diff "
            "(table_changes) if per-commit attribution is not needed.",
            stacklevel=2,
        )
    # each pair's diff carries payload columns at ITS to_version's
    # names/types; schema evolution mid-range would make adjacent parts
    # union-incompatible. Align every part to the FINAL snapshot's payload
    # (renames mapped via the rename-log slice, added columns as nulls,
    # widened types cast up) before unioning.
    final = table.snapshot(hi)
    final_payload = [
        f.name for f in final.schema.fields if f.name not in AUDIT_COLUMNS
    ]

    out: DataFrame | None = None
    for lo, hi_v in zip(versions, versions[1:]):
        # a pair may SPAN a retention gap (a tag keeps lo retained while
        # versions between lo and hi_v expired) — skipping on hi_v's OWN
        # marker alone would silently drop every change the expired
        # intermediates committed. Skip only when the whole span is
        # provably rewrite-only (unretained intermediates ⇒ scan).
        if rewrite_only_window(
            table, table.snapshot(lo), table.snapshot(hi_v)
        ):
            continue  # layout-only span: contributes no rows, keep the union narrow
        part = _align_to(
            table_changes(spark, table, lo, hi_v), table.snapshot(hi_v), final,
            final_payload, (CHANGE_TYPE_COL, COMMIT_VERSION_COL),
        )
        out = part if out is None else out.unionByName(part)
    if out is None:
        empty = table.read_files(spark, final, []).select(*final_payload)
        return empty.withColumn(CHANGE_TYPE_COL, F.lit("insert")).withColumn(
            COMMIT_VERSION_COL, F.lit(hi)
        ).limit(0)
    return out
