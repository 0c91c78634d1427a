"""Table maintenance: compaction + snapshot expiry.

Analogues of the reference's storage upkeep: Hive compaction
(import_operations.py:3106-3155) / Iceberg ``rewrite_data_files`` +
``expire_snapshots`` (import_operations.py:1513-1535).

The broadcast merge path appends files per commit without shuffling the
target, so buckets accumulate files until compacted — the classic CoW
write-amplification vs read-amplification dial. ``compact`` rewrites only
buckets whose file count exceeds the threshold (bucket-pruned, one pass,
no shuffle: read bucket files → coalesce → rewrite).
"""

from __future__ import annotations

import os
import shutil
import time
import uuid

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from dbimport_spark.lake.table import LakeTable


def find_orphan_files(table: LakeTable) -> list[tuple[str, int]]:
    """Data files referenced by NO retained snapshot, as (absolute path,
    bytes) — the single definition of "orphan" shared by the GC
    (``remove_orphan_files``) and the audit (``lake.fsck``), so the two
    can never disagree about what is referenced."""
    live: set[str] = set()
    for v in table.snapshots():
        live.update(f.path for f in table.snapshot(v).files)
    out: list[tuple[str, int]] = []
    data_dir = os.path.join(table.root, "data")
    if not os.path.isdir(data_dir):
        return out
    for dirpath, _dirs, files in os.walk(data_dir):
        for name in files:
            if not name.endswith(".parquet"):
                continue
            p = os.path.join(dirpath, name)
            if os.path.relpath(p, table.root) not in live:
                out.append((p, os.path.getsize(p)))
    return out


def remove_orphan_files(table: LakeTable, older_than_seconds: float = 24 * 3600) -> int:
    """Delete data files referenced by NO retained snapshot — the leftovers
    of a writer that crashed between write_data_files and commit (Iceberg
    ``remove_orphan_files`` analogue, reference import_operations.py:1530).

    Age-gated on file mtime (default 24h, like the reference) so an
    in-flight commit's freshly written files are never swept.
    Returns the number of files removed.
    """
    cutoff = time.time() - older_than_seconds
    removed = 0
    data_dir = os.path.join(table.root, "data")
    for p, _bytes in find_orphan_files(table):
        if os.path.getmtime(p) <= cutoff:
            os.unlink(p)
            removed += 1
    # sweep commit dirs with no data files left (markers like _SUCCESS
    # don't count as content) — age-gated on the DIR mtime like the file
    # sweep: an in-flight writer's just-created dir holds no .parquet
    # until the first task flushes, and rmtree'ing it out from under the
    # running job is exactly what the cutoff exists to prevent
    if not os.path.isdir(data_dir):
        return removed  # metadata-only table: nothing to sweep
    for sub in os.listdir(data_dir):
        d = os.path.join(data_dir, sub)
        if (
            os.path.isdir(d)
            and os.path.getmtime(d) <= cutoff
            and not any(
                name.endswith(".parquet")
                for _, _, fs in os.walk(d)
                for name in fs
            )
        ):
            shutil.rmtree(d)
    return removed


def buckets_needing_compaction(
    table: LakeTable,
    max_files_per_bucket: int = 4,
    max_delta_files_per_bucket: int | None = 8,
    max_delta_fraction: float | None = 0.25,
) -> list[int]:
    """Buckets whose file layout needs a rewrite: too many files total,
    or merge-on-read delta pressure — more than ``max_delta_files_per
    _bucket`` non-base files, or delta bytes past ``max_delta_fraction``
    of the bucket (read-time reconciliation cost is paid per read until
    the fold; both triggers are metadata-only)."""
    counts: dict[int, int] = {}
    dcounts: dict[int, int] = {}
    dbytes: dict[int, int] = {}
    tbytes: dict[int, int] = {}
    for f in table.current().files:
        counts[f.bucket] = counts.get(f.bucket, 0) + 1
        tbytes[f.bucket] = tbytes.get(f.bucket, 0) + f.bytes
        if f.kind != "base":
            dcounts[f.bucket] = dcounts.get(f.bucket, 0) + 1
            dbytes[f.bucket] = dbytes.get(f.bucket, 0) + f.bytes
    out = {b for b, n in counts.items() if n > max_files_per_bucket}
    if max_delta_files_per_bucket is not None:
        out |= {b for b, n in dcounts.items() if n > max_delta_files_per_bucket}
    if max_delta_fraction is not None:
        out |= {
            b
            for b, n in dbytes.items()
            if n > max_delta_fraction * tbytes[b]
        }
    return sorted(out)


def compact(
    spark: SparkSession,
    table: LakeTable,
    max_files_per_bucket: int = 4,
    expire_keep_last: int | None = None,
) -> dict:
    """Rewrite fragmented buckets to one file each; optionally expire old
    snapshots afterwards. Commits one new snapshot (atomic, no data change
    — content-preserving, verified by tests)."""
    snap = table.current()
    todo = buckets_needing_compaction(table, max_files_per_bucket)
    if not todo:
        return {"compacted_buckets": 0, "files_before": len(snap.files)}
    df = table.read(spark, buckets=todo)
    bexpr = table.bucket_expr(key_col=snap.bucket_column, num_buckets=snap.num_buckets)
    out = df.withColumn("_bucket", bexpr).repartition(len(todo), "_bucket")
    version_dir = f"compact-{snap.version + 1}-{uuid.uuid4().hex[:8]}"
    new_files = table.write_data_files(spark, out, version_dir)
    table.commit(
        new_files,
        replaced_buckets=set(todo),
        properties={
            "last_compaction_version": str(snap.version + 1),
            # compaction is content-preserving (pinned by tests), so the
            # change feed may skip this commit from metadata alone
            "rewrite_only": "true",
        },
        expected_version=snap.version,
    )
    if expire_keep_last is not None:
        table.expire_snapshots(keep_last=expire_keep_last)
    return {
        "compacted_buckets": len(todo),
        "files_before": len(snap.files),
        "files_after": len(table.current().files),
    }


def rebucket(
    spark: SparkSession,
    table: LakeTable,
    new_buckets: int,
) -> dict:
    """Partition evolution: change the table's bucket count online (the
    Iceberg ``REPLACE PARTITION FIELD bucket(N, k) WITH bucket(M, k)``
    analogue — except eager, so readers/writers never juggle two specs).

    A table sized for 1 TB outgrows its bucket count at 100 TB: merge
    parallelism, file sizes, and compaction granularity all key off it.
    ``rebucket`` rewrites every live row under the new modulus in ONE
    shuffle (repartition by the new bucket id) and publishes the result as
    a single atomic commit with ``num_buckets`` updated — content is
    preserved byte-for-byte (audit columns, tombstones, and per-row
    ``dl_lsn`` included), old snapshots stay readable under their own
    bucket count (time travel resolves ``num_buckets`` per snapshot), and
    a crash leaves either the old table or the fully rebucketed one.

    The commit is marked ``rewrite_only=true``: table state is identical
    to its parent, so the change feed (``lake/cdf.py``) emits the window
    as empty WITHOUT scanning, and the streaming diff plans zero tasks
    for it. Windows that span the boundary plus real changes stay correct:
    the batch diff joins by key (bucket-agnostic), and the streaming diff
    co-locates keys by grouping on ``bucket % gcd(N, M)``.

    Watermark/properties (``last_lsn`` etc.) are inherited by the normal
    commit merge — an engine replay resumed after a rebucket continues
    exactly where it left off, under the new layout.
    """
    snap = table.current()
    if new_buckets == snap.num_buckets:
        return {
            "rebucketed": False,
            "num_buckets": snap.num_buckets,
            "reason": "already at requested bucket count",
        }
    df = table.read(spark)  # full fidelity: audit columns + tombstones
    bexpr = table.bucket_expr(
        key_col=snap.bucket_column, num_buckets=new_buckets
    )
    out = df.withColumn("_bucket", bexpr).repartition(new_buckets, "_bucket")
    version_dir = f"rebucket-{snap.version + 1}-{uuid.uuid4().hex[:8]}"
    new_files = table.write_data_files(spark, out, version_dir)
    rows = sum(f.rows for f in new_files)
    nbytes = sum(f.bytes for f in new_files)
    table.commit(
        new_files,
        replaced_buckets={f.bucket for f in snap.files},
        properties={
            "rewrite_only": "true",
            "rebucket": f"{snap.num_buckets}->{new_buckets}",
        },
        lineage=[
            # no-silent-caps: the full-table rewrite reports its scan size.
            # No "bucket" key — per-bucket lineage consumers skip it.
            {
                "rebucket": f"{snap.num_buckets}->{new_buckets}",
                "rows": rows,
                "bytes": nbytes,
            }
        ],
        expected_version=snap.version,
        new_num_buckets=new_buckets,
    )
    import logging

    logging.getLogger(__name__).info(
        "rebucket %s: %d -> %d buckets, rewrote %d rows / %d bytes in %d file(s)",
        table.root, snap.num_buckets, new_buckets, rows, nbytes, len(new_files),
    )
    return {
        "rebucketed": True,
        "from_buckets": snap.num_buckets,
        "to_buckets": new_buckets,
        "rows": rows,
        "bytes": nbytes,
        "files": len(new_files),
        "version": table.current().version,
    }


def auto_rebucket(
    spark: SparkSession,
    table: LakeTable,
    target_bytes_per_bucket: int = 512 * 1024 * 1024,
    max_buckets: int = 4096,
) -> dict:
    """Growth policy around ``rebucket``: when live bytes per bucket exceed
    the target, double the bucket count (repeatedly) until back under it.

    The decision is METADATA-ONLY (file stats are in the snapshot); data is
    touched only when a rewrite actually happens. Doubling keeps the new
    count a multiple of the old one, so a streaming-diff window crossing
    the boundary retains the full old parallelism (``gcd(N, 2^k N) = N``).
    ``max_buckets`` bounds runaway growth from a mis-set target; hitting it
    is reported, never silent.
    """
    snap = table.current()
    total = sum(f.bytes for f in snap.files)
    cur = snap.num_buckets
    want = cur
    while want < max_buckets and total > target_bytes_per_bucket * want:
        want = min(want * 2, max_buckets)
    if want == cur:
        return {
            "rebucketed": False,
            "num_buckets": cur,
            "live_bytes": total,
            "reason": (
                "at max_buckets cap" if total > target_bytes_per_bucket * cur
                else "bytes per bucket within target"
            ),
        }
    out = rebucket(spark, table, want)
    out["live_bytes"] = total
    if total > target_bytes_per_bucket * want:
        out["capped"] = True  # no-silent-caps: still over target at the cap
    return out


def purge_tombstones(
    spark: SparkSession,
    table: LakeTable,
    older_than: "str | object",
) -> dict:
    """Rewrite buckets dropping soft-delete tombstones dead since before
    ``older_than`` (ISO string or datetime) — the retention valve a
    soft-delete table needs at scale: every deleted key otherwise keeps a
    row forever, so tombstones grow monotonically with churn even when
    the live set is stable.

    Semantics contract (document to operators):

    - Only rows with ``dl_iud='D'`` AND ``dl_delete_ts <= older_than`` are
      dropped; live rows and younger tombstones are untouched byte-for-byte.
    - The purge horizon must exceed the source's maximum late-arrival /
      re-delivery horizon: a purged key is indistinguishable from a
      never-seen key afterwards, so a LATE event older than the purge
      horizon would resurrect it (exactly the absent-row ambiguity
      ``track_lsn`` tombstones exist to prevent — purging re-opens it for
      keys dead longer than the horizon, which is the deliberate
      trade-off; the reference's delete handling has no retention at all).
    - Incremental exports are unaffected: a tombstone old enough to purge
      was exported long ago (its dl_update_ts is its dl_delete_ts).

    Bucket-pruned one-pass rewrite, same shape as ``compact``: only
    buckets that actually hold purgeable tombstones are read and
    rewritten; commits one atomic snapshot. Returns counts.
    """
    from datetime import datetime

    from dbimport_spark.schema import AUDIT_DELETE, AUDIT_IUD

    cutoff = (
        datetime.fromisoformat(older_than)
        if isinstance(older_than, str)
        else older_than
    )
    snap = table.current()
    if AUDIT_DELETE not in snap.schema.fieldNames():
        raise ValueError(
            "purge_tombstones requires a soft-delete table (dl_delete_ts)"
        )
    purgeable = (F.col(AUDIT_IUD) == "D") & (
        F.col(AUDIT_DELETE) <= F.lit(cutoff)
    )
    # bucket census in two stages: metadata first (per-file dl_delete_ts
    # stats — a file whose tombstone column is provably all-null, or whose
    # oldest tombstone is younger than the cutoff, can't hold a purgeable
    # row), then one exact data-side agg over only the candidate buckets.
    # A churn-heavy table purging on schedule scans its recently-dead
    # buckets, never the whole table.
    from dbimport_spark.lake.table import ts_micros

    bexpr = table.bucket_expr(
        key_col=snap.bucket_column, num_buckets=snap.num_buckets
    )
    candidates = table.buckets_stat_min_le(AUDIT_DELETE, ts_micros(cutoff))
    n_all = len({f.bucket for f in snap.files})
    if len(candidates) < n_all:
        import logging

        logging.getLogger(__name__).info(
            "purge_tombstones: stats pruned %d/%d buckets from the census",
            n_all - len(candidates), n_all,
        )
    if not candidates:
        return {"purged_buckets": 0, "purged_rows": 0}
    df = table.read(spark, buckets=candidates)
    # per-bucket purgeable counts in the SAME census job that finds the
    # todo buckets — raw footer rows would OVERCOUNT purged_rows on
    # merge-on-read buckets (a key superseded by a delta counts twice,
    # delete files count as rows), so count the RECONCILED rows
    # the purge actually drops
    per_bucket = (
        df.filter(purgeable)
        .groupBy(bexpr.alias("b"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    todo = sorted(r["b"] for r in per_bucket)
    purged = sum(r["n"] for r in per_bucket)
    if not todo:
        return {"purged_buckets": 0, "purged_rows": 0}

    sub = table.read(spark, buckets=todo)
    # three-valued logic guard: a row where the predicate is NULL (e.g. a
    # defensive dl_iud='D' with NULL dl_delete_ts) must be KEPT, not
    # silently dropped by filter(~NULL)
    out = (
        sub.filter(~F.coalesce(purgeable, F.lit(False)))
        .withColumn("_bucket", bexpr)
        .repartition(len(todo), "_bucket")
    )
    version_dir = f"purge-{snap.version + 1}-{uuid.uuid4().hex[:8]}"
    new_files = table.write_data_files(spark, out, version_dir)
    table.commit(
        new_files,
        replaced_buckets=set(todo),
        properties={"last_tombstone_purge": cutoff.isoformat()},
        lineage=[{"purge": True, "buckets": todo, "rows_purged": purged}],
        expected_version=snap.version,
    )
    return {"purged_buckets": len(todo), "purged_rows": purged}
