"""Lake-to-lake mirror driven by the change data feed.

The Spark-native analogue of the reference's copy-to-other-cluster stage
(reference copy_operations.py — DBImport ships each import's delta to
remote clusters): the source table's snapshot-diff changelog
(``lake/cdf.py``) is re-applied through a second ``CDCEngine``, so the
mirror converges to the source byte-for-byte, deletes included — the one
change class the watermarked row-export can never propagate (a
hard-deleted row simply vanishes from the table it scans).

Watermark design: the mirror's LSN domain IS the source version number.
``sync`` maps the net feed of window (from_v, to_v] to change events with
``lsn = to_v`` (the net diff has exactly one event per key, so per-key
LWW needs no finer ordering) and applies them as batch (from_v, to_v].
The mirror's committed ``last_lsn`` is therefore "last mirrored source
version": resume, idempotent re-sync, and crash recovery all ride the
engine's existing exactly-once machinery with zero new state.

Scale: each sync reads only the source files the window changed (CDF
file pruning), shuffles once on the merge key, and applies through the
mirror's bucket-pruned merge. Bootstrap is the same code path — version
0 is the empty creation snapshot, so the first sync's feed is the full
table as inserts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dbimport_spark.lake.cdf import (
    CHANGE_TYPE_COL,
    COMMIT_VERSION_COL,
    follow_passes,
    incremental_window,
    reconcile_feed,
    table_changes,
)
from dbimport_spark.lake.table import LakeTable, advance_pin
from dbimport_spark.plans.engine import BatchStats, CDCEngine
from dbimport_spark.schema import AUDIT_COLUMNS


def feed_to_change_events(feed: DataFrame, lsn: int) -> DataFrame:
    """Map a CDF frame to the engine's change-event shape.

    All events share one LSN (the window's target version): a net feed
    carries at most one row per key, so last-writer-wins dedup never has
    to break a tie inside the batch.
    """
    payload = [
        c
        for c in feed.columns
        if c not in (CHANGE_TYPE_COL, COMMIT_VERSION_COL)
        and not c.startswith("_pre_")
    ]
    op = (
        F.when(F.col(CHANGE_TYPE_COL) == "delete", F.lit("D"))
        .when(F.col(CHANGE_TYPE_COL) == "insert", F.lit("I"))
        .otherwise(F.lit("U"))
    )
    return feed.select(
        F.lit(lsn).cast("long").alias("lsn"), op.alias("op"), *payload
    )


def sync_mirror(
    spark: SparkSession,
    source: LakeTable,
    mirror_engine: CDCEngine,
    on_gap: str = "error",
    pin_name: str | None = None,
) -> BatchStats:
    """Advance the mirror to the source's current version. Idempotent.

    ``on_gap`` controls what happens when the last mirrored source
    version's snapshot has been expired on the source (so the diff base
    is gone): 'error' raises; 'full' falls back to a full reconcile —
    the source's current live rows as upserts plus anti-join deletes for
    mirror keys the source no longer has. The fallback scans both tables
    once (unavoidable: the metadata that scoped the delta is deleted)
    but still applies through the same exactly-once merge.

    ``pin_name``: advance a retention pin (``LakeTable.set_pin``) on the
    SOURCE to the synced version after each sync — the source's
    ``expire_snapshots`` then keeps this mirror's delta base alive, so a
    mirror that lags behind the maintenance schedule is never forced
    through the ``on_gap='full'`` scan. Pin advancement is best-effort
    (a racing expiry may still win once; the fallback path remains).
    """
    from_v = source_version_mirrored(mirror_engine)
    to_v = source.current().version
    if to_v <= from_v:
        advance_pin(source, pin_name, min(from_v, to_v))
        return BatchStats(lo=from_v, hi=to_v, skipped=True)

    if incremental_window(source, from_v, to_v, on_gap, "a full reconcile sync"):
        feed = table_changes(spark, source, from_v, to_v)
    else:
        # no-silent-caps: the fallback scans BOTH tables once (the
        # metadata that scoped the delta is deleted) — report how much,
        # from file metadata alone, before paying it
        import logging

        src_snap = source.snapshot(to_v)
        mir_snap = mirror_engine.table.current()
        logging.getLogger(__name__).warning(
            "sync_mirror on_gap='full': delta base v%d expired — full "
            "reconcile will scan the source (%d rows, %d bytes, %d files) "
            "and the mirror's keys (%d rows, %d bytes, %d files)",
            from_v,
            sum(f.rows for f in src_snap.files),
            sum(f.bytes for f in src_snap.files),
            len(src_snap.files),
            sum(f.rows for f in mir_snap.files),
            sum(f.bytes for f in mir_snap.files),
            len(mir_snap.files),
        )
        mirror_keys = mirror_engine.table.read(spark).select(*mirror_engine.keys)
        feed = reconcile_feed(spark, source, to_v, mirror_keys)
    bs = mirror_engine.apply_batch(
        feed_to_change_events(feed, to_v), from_v, to_v
    )
    advance_pin(source, pin_name, to_v)
    return bs


def follow_sync(
    sync_fn,
    poll_s: float = 5.0,
    max_syncs: int | None = None,
    stop_file: str | None = None,
) -> list[BatchStats]:
    """The polling follower loop of ``follow_mirror`` and
    ``matview.follow_view``: ``lake/cdf.follow_passes`` over ``sync_fn``,
    which runs one sync attempt and returns a ``BatchStats``
    (``skipped=True`` = nothing pending). Returns the applied syncs."""

    def step() -> BatchStats | None:
        bs = sync_fn()
        return None if bs.skipped else bs

    return list(follow_passes(step, poll_s, max_syncs, stop_file))


def follow_mirror(
    spark: SparkSession,
    source: LakeTable,
    mirror_engine: CDCEngine,
    poll_s: float = 5.0,
    max_syncs: int | None = None,
    stop_file: str | None = None,
    on_gap: str = "error",
    pin_name: str | None = None,
) -> list[BatchStats]:
    """Continuous replication: poll the source and ``sync_mirror`` each
    time it advances (the daemonized form of the reference's scheduled
    copy stage — Airflow re-runs the copy DAG per import cycle). Polls
    are metadata-only; each applied sync ships one window's delta. The
    watermark lives in the MIRROR table, so a killed follower restarted
    with the same arguments resumes exactly where the last committed
    sync left it. Stops after ``max_syncs`` applied syncs, or once
    ``stop_file`` is seen, after one final sync of the windows committed
    up to that moment (``lake/cdf.follow_passes``)."""
    return follow_sync(
        lambda: sync_mirror(
            spark, source, mirror_engine, on_gap=on_gap, pin_name=pin_name
        ),
        poll_s=poll_s, max_syncs=max_syncs, stop_file=stop_file,
    )


def verify_mirror(
    spark: SparkSession, source: LakeTable, mirror: LakeTable
) -> dict:
    """Row-count + content-checksum reconciliation of mirror vs source
    (the reference validates its cluster copies the same way its imports
    are validated — count and content, copy_operations.py validation
    step). Soft-delete tombstones count as absent on either side; only
    payload columns shared by both tables are compared (an unsynced
    additive column would otherwise flag a false mismatch)."""
    from dbimport_spark.plans.validate import reconcile
    from dbimport_spark.schema import AUDIT_DELETE

    def live_rows(t: LakeTable) -> DataFrame:
        df = t.read(spark)
        if AUDIT_DELETE in df.columns:
            df = df.filter(F.col(AUDIT_DELETE).isNull())
        return df.select(
            *[c for c in df.columns if c not in AUDIT_COLUMNS]
        )

    src, mir = live_rows(source), live_rows(mirror)
    cols = [c for c in src.columns if c in set(mir.columns)]
    return reconcile(mir.select(*cols), src.select(*cols), cols)


def source_version_mirrored(mirror_engine: CDCEngine) -> int:
    """The mirror's LSN watermark, i.e. the last source version applied.
    A never-synced mirror reports 0 — the source's empty creation
    snapshot — so the bootstrap sync is an ordinary delta from v0."""
    return max(mirror_engine.table.last_lsn(), 0)
