"""Snapshot-versioned, bucket-partitioned lake table over parquet.

A minimal, from-scratch table format with the Iceberg properties the CDC
engine needs (no Iceberg jars are available in this sandbox):

- **Atomic commits**: each snapshot is one immutable metadata JSON
  (``metadata/v{N}.json``) created with O_CREAT|O_EXCL — the create either
  fully succeeds or fully fails, so readers always see a consistent file
  list. Data files are written first, the metadata swap is the commit point.
- **Snapshot properties**: arbitrary key/values stamped in the same commit
  as the data — used to make the LSN watermark atomic with the applied
  batch (the analogue of the reference's two-phase pending/committed
  watermark, reference import_config.py:1086-1108, 2192-2195).
- **Bucket partitioning**: data files are grouped by
  ``pmod(xxhash64(key), num_buckets)``; a MERGE touching k keys rewrites
  at most k buckets and prunes the rest (the analogue of Iceberg
  ``PARTITIONED BY (bucket(N, doc_id))`` per SURVEY.md §2.1 S9).
- **Additive schema evolution**: the schema lives in table metadata; new
  nullable columns are added metadata-only, old files are read through the
  new schema and yield nulls (reference rule: adds yes, drops never —
  import_operations.py:2808-2868).
- **Time travel / lineage**: every snapshot keeps its parent, per-commit
  per-bucket lineage records, and the full file list, so old versions stay
  readable until expired.

Scale notes: metadata holds one small dict per data file (path, bucket,
rows, bytes) — the same order of driver-side state Iceberg manifests carry.
Reads hand Spark an explicit file list (partition pruning happens here, not
in Catalyst). On a shared filesystem (HDFS/NFS) the O_EXCL create is the
single-writer commit lock; an object-store deployment would swap this for a
catalog CAS — the rest of the format is storage-agnostic.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dbimport_spark.lake.catalog import Catalog, CommitConflict, FileCatalog
from dbimport_spark.session import local_frame


@dataclass
class DataFile:
    path: str  # relative to table root
    bucket: int
    rows: int
    bytes: int
    # rename epoch at write time (= len(snapshot.renames) then). Files keep
    # their physical column names forever; reads map epoch-e names to the
    # current names through the renames applied after e (Iceberg-style
    # name mapping, no field IDs needed because renames are ordered).
    epoch: int = 0
    # merge-on-read (Iceberg v2 analogue): "base" files hold whole-bucket
    # state (at most one row per key per bucket); "delta" files hold
    # superseding upsert rows; "delete" files hold tombstones (the
    # equality-delete-file analogue): only their keys are read, the rest
    # is null (key-only in older tables). Non-base files carry ``seq``
    # (the committing snapshot version, stamped by ``commit``) — the
    # last-writer-wins order across delta commits. ``seq`` lives in file
    # METADATA, never as a per-row column. Invariant: a commit writes at
    # most one row per key across its delta and delete files (the engine
    # writes both from one projection of one deduped batch, in one write
    # job); ``read_files_reconciled`` relies on it, since rows of equal
    # seq never compete.
    kind: str = "base"
    seq: int = 0
    # per-file column statistics (the Iceberg manifest-metrics analogue):
    # {column: [min, max]} as RAW parquet physical values — int64 UTC
    # micros for timestamps, plain numbers for numeric columns — folded
    # across the file's row groups at commit time from the same footer
    # read that counts rows. Consumers prune scans from metadata alone
    # (e.g. the incremental exporter skips buckets whose every file has
    # max(dl_update_ts) <= the committed watermark). Absent stats (older
    # files, INT96 timestamps, unsupported types) just mean "unprunable".
    stats: dict | None = None

    def to_json(self) -> dict:
        d = {"path": self.path, "bucket": self.bucket, "rows": self.rows, "bytes": self.bytes}
        if self.epoch:
            d["epoch"] = self.epoch
        if self.kind != "base":
            d["kind"] = self.kind
            d["seq"] = self.seq
        if self.stats:
            d["stats"] = self.stats
        return d

    @staticmethod
    def from_json(d: dict) -> "DataFile":
        return DataFile(
            d["path"], d["bucket"], d["rows"], d["bytes"], d.get("epoch", 0),
            d.get("kind", "base"), d.get("seq", 0), d.get("stats"),
        )


def parse_timestamp(ts: float | str) -> float:
    """One spelling of timestamp parsing for every AS-OF surface (table
    time travel, stream startingTimestamp, CLI --at): unix seconds (any
    numeric string) or ISO 8601; a naive ISO string reads as UTC."""
    if not isinstance(ts, str):
        return float(ts)
    try:
        return float(ts)
    except ValueError:
        from datetime import datetime, timezone

        dt = datetime.fromisoformat(ts)
        if dt.tzinfo is None:
            dt = dt.replace(tzinfo=timezone.utc)
        return dt.timestamp()


def advance_pin(table: "LakeTable", pin_name: str | None, version: int) -> None:
    """Best-effort retention-pin advancement (see ``LakeTable.set_pin``),
    shared by every follower (mirror, matview, CDC export, stream
    followers): never fails the sync that already committed — a pin miss
    only means the next expiry may cost a full reconcile."""
    if pin_name is None or version < 0:
        return
    try:
        table.set_pin(pin_name, version)
    except (ValueError, OSError) as exc:
        import logging

        logging.getLogger(__name__).warning(
            "could not advance retention pin %r to v%d on %s: %s",
            pin_name, version, table.root, exc,
        )


def ts_micros(dt) -> int:
    """A (session-UTC) naive datetime as int64 UTC epoch micros — the raw
    domain parquet TIMESTAMP_MICROS statistics live in. Exact integer
    arithmetic over the epoch delta: float ``timestamp()`` loses micros
    past ~2255 AD, and ``int(timestamp())`` truncates toward zero, which
    mis-signs the sub-second part of pre-1970 values."""
    from datetime import datetime, timezone

    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=timezone.utc)
    delta = dt - datetime(1970, 1, 1, tzinfo=timezone.utc)
    return (
        delta.days * 86_400_000_000
        + delta.seconds * 1_000_000
        + delta.microseconds
    )


def footer_stats(pf, cols: list[str]) -> dict | None:
    """Fold per-row-group parquet min/max into one [min, max] per column,
    RAW physical values only (ints/floats; timestamps are int64 UTC
    micros under the session's TIMESTAMP_MICROS writer).

    An ALL-NULL column (every row group's null_count == its num_values)
    is recorded as ``[None, None]`` — a proof the file holds NO value at
    all for the column (e.g. a data file with zero soft-delete
    tombstones), which pruning helpers may treat as vacuously outside any
    range. A column with any row group whose stats are missing yet not
    provably all-null — INT96 legacy files, binary types — is omitted:
    absent means unprunable, never wrong."""
    md = pf.metadata
    if md.num_row_groups == 0:
        return None
    rg0 = md.row_group(0)
    idx = {rg0.column(i).path_in_schema: i for i in range(rg0.num_columns)}
    out: dict = {}
    for c in cols:
        i = idx.get(c)
        if i is None:
            continue
        mn = mx = None
        ok = True
        for rg in range(md.num_row_groups):
            col = md.row_group(rg).column(i)
            st = col.statistics
            if (
                st is not None
                and st.null_count is not None
                and st.null_count == col.num_values
            ):
                continue  # this group is all-null: contributes no values
            if st is None or not st.has_min_max:
                ok = False
                break
            lo, hi = st.min_raw, st.max_raw
            if not isinstance(lo, (int, float)) or isinstance(lo, bool):
                ok = False
                break
            mn = lo if mn is None else min(mn, lo)
            mx = hi if mx is None else max(mx, hi)
        if ok:
            out[c] = [mn, mx]
    return out or None


def stat_file(bucket: int, kind: str, path: str, stat_cols: list[str]) -> tuple:
    """``(path, bucket, kind, rows, bytes, footer stats)`` of one written
    parquet file, from one footer read; stats are None for an empty file.
    ``LakeTable.write_data_files`` runs it on a driver thread pool or, for
    large commits, in executor tasks."""
    import pyarrow.parquet as pq

    pf = pq.ParquetFile(path)
    rows = pf.metadata.num_rows
    stats = footer_stats(pf, stat_cols) if rows else None
    return path, bucket, kind, rows, os.path.getsize(path), stats


@dataclass
class Snapshot:
    version: int
    snapshot_id: str
    parent_snapshot_id: str | None
    schema: T.StructType
    num_buckets: int
    bucket_column: str | list[str]  # one column or a composite key
    files: list[DataFile]
    properties: dict[str, str]
    lineage: list[dict]  # per-bucket records for THIS commit's applied batch
    created_unix: float = field(default_factory=time.time)
    # ordered column renames ever applied: [{"from": old, "to": new}, ...].
    # len(renames) is the current rename epoch stamped on new data files.
    renames: list[dict] = field(default_factory=list)

    @property
    def merge_keys(self) -> list[str]:
        """The merge key as a column list (one column or a composite)."""
        b = self.bucket_column
        return list(b) if isinstance(b, list) else [b]

    def to_json(self) -> dict:
        return {
            "format_version": 1,
            "version": self.version,
            "snapshot_id": self.snapshot_id,
            "parent_snapshot_id": self.parent_snapshot_id,
            "created_unix": self.created_unix,
            "schema": json.loads(self.schema.json()),
            "num_buckets": self.num_buckets,
            "bucket_column": self.bucket_column,
            "files": [f.to_json() for f in self.files],
            "properties": self.properties,
            "lineage": self.lineage,
            "renames": self.renames,
        }

    @staticmethod
    def from_json(d: dict) -> "Snapshot":
        return Snapshot(
            version=d["version"],
            snapshot_id=d["snapshot_id"],
            parent_snapshot_id=d.get("parent_snapshot_id"),
            schema=T.StructType.fromJson(d["schema"]),
            num_buckets=d["num_buckets"],
            bucket_column=d["bucket_column"],
            files=[DataFile.from_json(f) for f in d["files"]],
            properties=d.get("properties", {}),
            lineage=d.get("lineage", []),
            created_unix=d.get("created_unix", 0.0),
            renames=d.get("renames", []),
        )


_DEFAULT_CATALOG = FileCatalog()


class LakeTable:
    def __init__(self, root: str, catalog: Catalog | None = None):
        self.root = root
        # commit arbitration is pluggable (lake/catalog.py): O_EXCL file
        # create by default; a CAS catalog for object-store deployments
        self.catalog = catalog or _DEFAULT_CATALOG

    # -- paths ---------------------------------------------------------------

    @property
    def _meta_dir(self) -> str:
        return os.path.join(self.root, "metadata")

    def _meta_path(self, version: int) -> str:
        return os.path.join(self._meta_dir, f"v{version}.json")

    @property
    def _hint_path(self) -> str:
        return os.path.join(self._meta_dir, "version-hint.text")

    # -- create / load -------------------------------------------------------

    @classmethod
    def create(
        cls,
        root: str,
        schema: T.StructType,
        num_buckets: int = 32,
        bucket_column: str | list[str] = "doc_id",
        properties: dict[str, str] | None = None,
        catalog: Catalog | None = None,
    ) -> "LakeTable":
        t = cls(root, catalog=catalog)
        os.makedirs(t._meta_dir, exist_ok=True)
        os.makedirs(os.path.join(root, "data"), exist_ok=True)
        snap = Snapshot(
            version=0,
            snapshot_id=uuid.uuid4().hex,
            parent_snapshot_id=None,
            schema=schema,
            num_buckets=num_buckets,
            bucket_column=bucket_column,
            files=[],
            properties=dict(properties or {}),
            lineage=[],
        )
        t._write_snapshot(snap)
        return t

    @classmethod
    def load(cls, root: str, catalog: Catalog | None = None) -> "LakeTable":
        t = cls(root, catalog=catalog)
        t.current()  # raises if absent
        return t

    @staticmethod
    def exists(root: str) -> bool:
        return os.path.isfile(os.path.join(root, "metadata", "version-hint.text"))

    # -- snapshot access -----------------------------------------------------

    def current(self) -> Snapshot:
        try:
            with open(self._hint_path) as fh:
                v = int(fh.read().strip())
        except (FileNotFoundError, ValueError):
            # hint lost/truncated by a crash — recover from the snapshot
            # files themselves (they, not the hint, are the commit points)
            versions = self.snapshots()
            if not versions:
                raise FileNotFoundError(f"no snapshots under {self._meta_dir}")
            v = versions[-1]
        # the hint update is not atomic with the metadata create; probe forward
        while os.path.isfile(self._meta_path(v + 1)):
            v += 1
        return self.snapshot(v)

    def snapshot(self, version: int) -> Snapshot:
        with open(self._meta_path(version)) as fh:
            return Snapshot.from_json(json.load(fh))

    # properties-only reads, cached by (path, mtime_ns, size): snapshot
    # metadata is immutable once committed, but stat-keying also survives
    # out-of-band metadata copies (mirror repair). Property probes —
    # reload / rewrite_only markers checked on EVERY follower poll —
    # otherwise json-parse the full per-file list, O(versions x files)
    # driver work per idle poll.
    _PROPS_CACHE: dict[tuple, dict] = {}

    def snapshot_properties(self, version: int) -> dict:
        p = self._meta_path(version)
        st = os.stat(p)
        key = (p, st.st_mtime_ns, st.st_size)
        props = LakeTable._PROPS_CACHE.get(key)
        if props is None:
            props = dict(self.snapshot(version).properties)
            if len(LakeTable._PROPS_CACHE) > 65536:
                LakeTable._PROPS_CACHE.clear()
            LakeTable._PROPS_CACHE[key] = props
        return props

    def snapshots(self) -> list[int]:
        out = []
        for name in os.listdir(self._meta_dir):
            if name.startswith("v") and name.endswith(".json"):
                try:
                    out.append(int(name[1:-5]))
                except ValueError:
                    continue  # stray file; fsck reports it, readers skip it
        return sorted(out)

    @property
    def properties(self) -> dict[str, str]:
        return self.current().properties

    def last_lsn(self) -> int:
        return int(self.current().properties.get("last_lsn", "-1"))

    # -- read path -----------------------------------------------------------

    def bucket_expr(
        self,
        key_col: str | list[str] | None = None,
        num_buckets: int | None = None,
    ) -> Column:
        """THE bucket-assignment function — the single definition that the
        write path, merge pruning, history table, and compaction must all
        agree on. Composite keys hash all components in one xxhash64."""
        if key_col is None or num_buckets is None:
            snap = self.current()
            key_col = key_col or snap.bucket_column
            num_buckets = num_buckets or snap.num_buckets
        cols = [key_col] if isinstance(key_col, str) else list(key_col)
        return F.pmod(
            F.xxhash64(*[F.col(c) for c in cols]), F.lit(num_buckets)
        ).cast("int")

    def buckets_stat_max_gt(
        self, col: str, threshold, version: int | None = None
    ) -> list[int]:
        """Buckets that MAY hold rows with ``col`` > ``threshold``, from
        file metadata alone: a bucket is pruned only when EVERY one of its
        files carries the stat and its max is <= threshold. Files without
        the stat (pre-stats commits, legacy INT96 timestamps) keep their
        bucket — conservative, never wrong. ``threshold`` must be in the
        stat's RAW domain (int64 UTC micros for timestamps; see
        ``ts_micros``). Bucket granularity keeps merge-on-read
        reconciliation sound: a surviving bucket is read complete."""
        snap = self.current() if version is None else self.snapshot(version)
        out = set()
        for f in snap.files:
            st = (f.stats or {}).get(self._physical_name(snap, col, f.epoch))
            if st is None:
                out.add(f.bucket)  # unknown: conservative
            elif st[1] is not None and st[1] > threshold:
                out.add(f.bucket)
            # [None, None] = provably all-null: no value can exceed
        return sorted(out)

    def buckets_stat_min_le(
        self, col: str, threshold, version: int | None = None
    ) -> list[int]:
        """Mirror of ``buckets_stat_max_gt`` for lower bounds: buckets that
        MAY hold rows with ``col`` <= ``threshold``. Files without the
        stat keep their bucket; files whose column is provably all-null
        ([None, None]) contribute no values and never keep one."""
        snap = self.current() if version is None else self.snapshot(version)
        out = set()
        for f in snap.files:
            st = (f.stats or {}).get(self._physical_name(snap, col, f.epoch))
            if st is None:
                out.add(f.bucket)
            elif st[0] is not None and st[0] <= threshold:
                out.add(f.bucket)
        return sorted(out)

    def read_where(
        self,
        spark: SparkSession,
        col: str,
        lo=None,
        hi=None,
        version: int | None = None,
    ) -> DataFrame:
        """Range read ``lo <= col <= hi`` (either bound optional) with
        file-level stat pruning: files whose recorded [min, max] for
        ``col`` (``stat_columns`` table property / audit stats) cannot
        intersect the range are skipped from metadata alone; the exact
        filter still runs on the survivors — pruning is an optimization,
        never the correctness boundary.

        For NUMERIC columns (their raw parquet stat domain equals the
        native value domain, so one pair of bounds serves both the prune
        and the filter). Timestamp watermark scans go through the
        exporter's dedicated pruning instead (raw-micros domain).
        Merge-on-read buckets degrade to
        bucket granularity: a bucket holding delta/delete files is kept
        whole whenever ANY of its files may match (reconciliation needs
        the full bucket). Pairs with the 'sort_order' property: sorted
        files have tight, non-overlapping stats, so a selective range
        keeps only the files that genuinely hold it."""
        snap = self.current() if version is None else self.snapshot(version)
        fld = next((f for f in snap.schema.fields if f.name == col), None)
        if (
            (lo is not None or hi is not None)
            and fld is not None
            and isinstance(
                fld.dataType,
                (T.TimestampType, T.TimestampNTZType, T.DateType),
            )
        ):
            # file stats for these columns are RAW parquet int64/int32
            # (UTC micros / epoch days) while the caller's bounds are in
            # the native domain — comparing them would prune everything
            # silently (a wrong EMPTY result, not an error). Refuse
            # loudly; timestamp watermark scans go through the exporter's
            # dedicated raw-domain pruning.
            raise TypeError(
                f"read_where({col!r}) is numeric-only: the column is "
                f"{fld.dataType.simpleString()} and its file stats are in "
                "the raw parquet domain (micros/days), which the "
                "native-domain bounds would silently mis-prune against"
            )

        def may_match(f: DataFile) -> bool:
            # stats are keyed by the file's PHYSICAL column name — map the
            # queried logical name back through renames newer than the file
            st = (f.stats or {}).get(self._physical_name(snap, col, f.epoch))
            if st is None:
                return True  # unknown: conservative
            if st[0] is None:
                # provably all-null: any BOUND excludes NULL rows, so the
                # file prunes — but with no bounds the filter is TRUE and
                # keeps NULLs, so the file must stay (else the result
                # would diverge from read() based on stat presence alone)
                return lo is None and hi is None
            if lo is not None and st[1] < lo:
                return False
            if hi is not None and st[0] > hi:
                return False
            return True

        mor_buckets = {f.bucket for f in snap.files if f.kind != "base"}
        keep_buckets = {
            f.bucket
            for f in snap.files
            if f.bucket in mor_buckets and may_match(f)
        }
        files = [
            f
            for f in snap.files
            if (f.bucket in keep_buckets)
            or (f.bucket not in mor_buckets and may_match(f))
        ]
        df = self.read_files_reconciled(spark, snap, files)
        expr = F.lit(True)
        if lo is not None:
            expr = expr & (F.col(col) >= F.lit(lo))
        if hi is not None:
            expr = expr & (F.col(col) <= F.lit(hi))
        return df.filter(expr)

    def read(
        self,
        spark: SparkSession,
        buckets: list[int] | None = None,
        version: int | None = None,
    ) -> DataFrame:
        """Read the table (optionally one snapshot / a pruned bucket set).

        Passes Spark an explicit file list — bucket pruning is done here
        from metadata, the file-level equivalent of partition pruning.
        Missing columns in old files (additive evolution) read as null.
        """
        snap = self.current() if version is None else self.snapshot(version)
        files = snap.files
        if buckets is not None:
            wanted = set(buckets)
            files = [f for f in files if f.bucket in wanted]
        return self.read_files_reconciled(spark, snap, files)

    # merge-on-read: the key-only superseding set of a read's delta and
    # delete files is broadcast to the anti-joins up to this many bytes of
    # those files. Past it the hint is dropped (AQE picks the join, and
    # the base side is shuffled on the merge key) and each such read logs
    # a WARNING — the compaction policy should fold deltas long before.
    MOR_BROADCAST_BYTES = 128 * 1024 * 1024

    def read_files_reconciled(
        self, spark: SparkSession, snap: Snapshot, files: list[DataFile]
    ) -> DataFrame:
        """Read a file subset with merge-on-read reconciliation by the
        Iceberg-v2 equality-delete rule: a delta or delete row of seq *s*
        hides its key's rows in base files and in delta files of seq < *s*.
        This is the one statement of the rule; the stream's per-bucket diff
        (``streaming/cdf_source.diff_bucket``) applies it in pandas.

        Plan shape: anti-joins only. With ``sup(s)`` the merge keys of
        every delta/delete file of seq > *s*, the live rows are base
        anti-join ``sup(0)`` plus, per delta seq *s*, delta_s anti-join
        ``sup(s)`` (the newest seq needs no join). ``sup`` is broadcast
        while the subset's delta/delete files total <=
        ``MOR_BROADCAST_BYTES``, so the base — the 100 TB side — is
        streamed, never shuffled; no merge-key exchange, no per-key
        ordering, one scan of the delta payload. A pure-base subset reads
        as plain files (the pre-MOR plan). Relies on the writer invariant
        (``DataFile.kind/seq``): a commit writes at most one row per key
        across its delta and delete files, so equal seqs never compete.
        """
        base = [f for f in files if f.kind == "base"]
        extras = [f for f in files if f.kind != "base"]
        if not extras:
            return self.read_files(spark, snap, files)
        keys = snap.merge_keys
        nbytes = sum(f.bytes for f in extras)
        small = nbytes <= self.MOR_BROADCAST_BYTES
        if not small:
            import logging

            logging.getLogger(__name__).warning(
                "%s: merge-on-read read over %d delta/delete bytes (> "
                "MOR_BROADCAST_BYTES=%d) shuffles the base on the merge "
                "key; maintenance.compact folds the deltas",
                self.root, nbytes, self.MOR_BROADCAST_BYTES,
            )
        hint = F.broadcast if small else (lambda df: df)
        by_seq: dict[int, list[DataFile]] = {}
        for f in extras:
            by_seq.setdefault(f.seq, []).append(f)
        sup = live = None  # newest seq first: sup = keys of newer seqs
        for seq, grp in sorted(by_seq.items(), reverse=True):
            deltas = [f for f in grp if f.kind == "delta"]
            if deltas:
                part = self.read_files(spark, snap, deltas)
                if sup is not None:
                    part = part.join(hint(sup), keys, "left_anti")
                live = part if live is None else live.unionByName(part)
            grp_keys = self.read_files(spark, snap, grp).select(*keys)
            sup = grp_keys if sup is None else sup.unionByName(grp_keys)
        out = self.read_files(spark, snap, base).join(hint(sup), keys, "left_anti")
        return out if live is None else out.unionByName(live)

    def read_files(
        self, spark: SparkSession, snap: Snapshot, files: list[DataFile]
    ) -> DataFrame:
        """Read an explicit subset of a snapshot's data files through that
        snapshot's schema (rename-epoch name mapping applied). Callers that
        prune at FILE granularity — the snapshot-diff changelog reader
        (``lake.cdf``) reads only files not shared between two snapshots —
        use this directly; ``read`` delegates here after bucket pruning."""
        if not files:
            return local_frame(spark, [], snap.schema)

        # group files by rename epoch: each group is read through the
        # physical (backdated) names of its era, then aliased to the current
        # names — metadata-only rename, Iceberg name-mapping style
        by_epoch: dict[int, list[DataFile]] = {}
        for f in files:
            by_epoch.setdefault(f.epoch, []).append(f)
        parts: list[DataFrame] = []
        cur_names = snap.schema.fieldNames()
        for epoch in sorted(by_epoch):
            phys = self._backdated_schema(snap, epoch)
            paths = [os.path.join(self.root, f.path) for f in by_epoch[epoch]]
            df = spark.read.schema(phys).parquet(*paths)
            if phys.fieldNames() != cur_names:
                df = df.select(
                    *[F.col(p).alias(c) for p, c in zip(phys.fieldNames(), cur_names)]
                )
            parts.append(df)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    @staticmethod
    def check_epoch_collisions(cur: "Snapshot", new_schema: T.StructType) -> None:
        """A new column name must not collide with any existing column's
        PHYSICAL name at any historical rename epoch: the backdated
        schema for that epoch's files would then contain duplicate field
        names and every historical read would break. Walking the full
        chain per epoch handles transitive renames (a->b then b->c:
        adding 'a' collides with c's epoch-0 physical name even though no
        single rename pair is (a, c)). Shared by ``commit()`` (the
        enforcing call) and the dry-run evolution planner, so the plan
        can never green-light a commit this guard would refuse."""
        for epoch in range(len(cur.renames)):
            names = new_schema.fieldNames()
            for r in reversed(cur.renames[epoch:]):
                names = [r["from"] if n == r["to"] else n for n in names]
            dupes = sorted({n for n in names if names.count(n) > 1})
            if dupes:
                raise ValueError(
                    f"cannot add column(s) {dupes}: each is the physical "
                    f"name of an existing column in epoch-{epoch} data "
                    "files (renamed away since) — historical reads would "
                    "see duplicate fields. Pick a different name."
                )

    @staticmethod
    def _physical_name(snap: Snapshot, name: str, epoch: int) -> str:
        """The physical name a file of ``epoch`` stores the current
        logical column ``name`` under: renames applied after that epoch,
        reversed (transitive chains fold — b->c then a->b maps c back to
        a for epoch-0 files). Stats in file metadata are keyed by
        physical names, so stat lookups go through this."""
        for r in reversed(snap.renames[epoch:]):
            if name == r["to"]:
                name = r["from"]
        return name

    @staticmethod
    def _backdated_schema(snap: Snapshot, epoch: int) -> T.StructType:
        """The physical column names files of ``epoch`` were written with:
        current schema with renames applied after that epoch reversed.
        Types stay current (wider) — the parquet reader upcasts."""
        fields = list(snap.schema.fields)
        for r in reversed(snap.renames[epoch:]):
            fields = [
                T.StructField(r["from"] if f.name == r["to"] else f.name,
                              f.dataType, f.nullable, f.metadata)
                for f in fields
            ]
        return T.StructType(fields)

    # -- write path ----------------------------------------------------------

    def write_data_files(
        self, spark: SparkSession, df: DataFrame, version_dir: str, bucket_col: str = "_bucket"
    ) -> list[DataFile]:
        """Write df (carrying an int bucket column) under data/<version_dir>/.

        One output dir per commit — files are immutable, never renamed, and
        become visible only via the metadata swap. Returns per-file stats
        (rows/bytes from parquet footers — same stats Iceberg manifests keep).
        A df that also carries ``_kind`` (merge-on-read: ``'delta'`` or
        ``'delete'``) is written one file per (bucket, kind) per task, in
        the same job; its DataFiles take ``kind`` from that partition.
        """
        out_dir = os.path.join(self.root, "data", version_dir)
        # one snapshot parse for the whole write path: current() re-reads
        # and json-parses the full metadata (every DataFile) per call,
        # which is O(files) — five separate calls here would make the
        # write path's metadata cost 5x for no reason
        snap_props = self.current()
        epoch = len(snap_props.renames)

        def _csv_prop(key: str) -> list[str]:
            return [
                c.strip()
                for c in snap_props.properties.get(key, "").split(",")
                if c.strip()
            ]
        out = df.withColumn("bucket", F.col(bucket_col)).drop(bucket_col)
        # one parquet nullability per table: the writer takes each column's
        # from the optimized plan, so a folded literal (the insert-only
        # shape's audit stamps) would be written required where the matched
        # shapes' CASE columns are optional. A column the schema declares
        # nullable is written optional; the gate is a partition-id test
        # because Catalyst folds every deterministic always-true one.
        nullable = {f.name for f in snap_props.schema.fields if f.nullable}
        required = [
            f.name for f in out.schema.fields if not f.nullable and f.name in nullable
        ]
        if required:
            out = out.withColumns({
                c: F.when(F.spark_partition_id() >= 0, F.col(c)) for c in required
            })
        # the kind partition dir must not start with '_' or '.' (Spark and
        # Hadoop skip such paths as hidden); dl_ is the engine's namespace
        parts, kind_dir = ["bucket"], "dl_kind"
        if "_kind" in out.columns:
            out = out.withColumnRenamed("_kind", kind_dir)
            parts.append(kind_dir)
        # declared sort order (Iceberg SORTED BY analogue, table property
        # 'sort_order'): every data file is written sorted by these
        # columns WITHIN its bucket — a task-local sort, no shuffle. Rows
        # clustered on the sort key give tight parquet row-group min/max,
        # so range predicates prune row groups at scan time (Spark's
        # pushed filters) and file-level stats ('stat_columns') prune
        # whole files via read_where; sorted data also dictionary/RLE
        # compresses better. The sort leads with every partition column,
        # else Spark adds its own partition sort, which breaks the declared
        # order inside the files. Columns absent from this write are skipped.
        sort_cols = [c for c in _csv_prop("sort_order") if c in out.columns]
        if sort_cols:
            out = out.sortWithinPartitions(*parts, *sort_cols)
        writer = out.write.partitionBy(*parts).mode("overwrite")
        # declared bloom filters (Iceberg write.parquet.bloom-filter-enabled
        # analogue, table properties 'bloom_columns' / 'bloom_ndv'): parquet
        # split-block bloom filters on the named columns. Min/max stats prune
        # key-equality lookups only when a file's key range is narrow — but
        # incremental commits and merge-on-read delta files hold a RANDOM
        # subset of a hash-distributed key (doc_id), so every such file spans
        # nearly the whole key range and min/max prunes nothing. A bloom
        # filter gives definite-absence per row group regardless of layout:
        # a point lookup on a 100 TB table touches ~1 bucket's files and
        # skips every row group the key isn't in. The scan side is free —
        # parquet-mr consults blooms for pushed = / IN predicates
        # automatically. Delete files carry them too; columns absent from
        # this write are skipped; ndv is per-row-group expected distinct
        # count (sizes the filter; parquet default when unset).
        bloom_cols = [c for c in _csv_prop("bloom_columns") if c in out.columns]
        if bloom_cols:
            ndv = snap_props.properties.get("bloom_ndv", "").strip()
            for c in bloom_cols:
                writer = writer.option(f"parquet.bloom.filter.enabled#{c}", "true")
                if ndv:
                    writer = writer.option(
                        f"parquet.bloom.filter.expected.ndv#{c}", ndv
                    )
        writer.parquet(out_dir)

        from dbimport_spark.schema import AUDIT_DELETE, AUDIT_LSN, AUDIT_UPDATE

        # column stats recorded per file from the same footer read that
        # counts rows: the audit watermark columns always (dl_delete_ts
        # included — its all-null marker is the proof a file holds zero
        # tombstones, which prunes the purge census), plus any table-
        # declared payload columns ('stat_columns' property). Names are the
        # file's PHYSICAL names (audit columns are engine-managed and never
        # renamed; declared extras should be too).
        want_stats = [AUDIT_UPDATE, AUDIT_LSN, AUDIT_DELETE]
        want_stats += _csv_prop("stat_columns")

        # (bucket, kind, path) per parquet file, from its partition dirs
        todo: list[tuple[int, str, str]] = []
        pattern = os.path.join(glob.escape(out_dir), "bucket=*", "**", "*.parquet")
        for p in sorted(glob.glob(pattern, recursive=True)):
            part = dict(
                d.split("=", 1) for d in os.path.relpath(p, out_dir).split(os.sep)[:-1]
            )
            todo.append((int(part["bucket"]), part.get(kind_dir, "base"), p))
        # footer stats: thread pool for small commits; for large commits
        # (compaction / initial load at scale) the statting itself is
        # distributed — executors open the footers, the driver only
        # collects (path, rows, bytes) tuples, so the commit path never
        # serializes on per-file driver IO against an object store
        if len(todo) <= 256:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=16) as pool:
                stats = list(pool.map(lambda t: stat_file(*t, want_stats), todo))
        else:
            stats = (
                spark.sparkContext.parallelize(todo, max(1, min(len(todo) // 8, 256)))
                .map(lambda t: stat_file(*t, want_stats))
                .collect()
            )
        out = [
            DataFile(os.path.relpath(p, self.root), b, rows, nbytes, epoch, kind, stats=st)
            for p, b, kind, rows, nbytes, st in stats
            if rows > 0
        ]
        if not out:
            # nothing to reference (e.g. a MoR window whose deletes all
            # hit absent keys): no snapshot will name this dir, and orphan
            # listing sees .parquet files only, so it would stay forever
            shutil.rmtree(out_dir, ignore_errors=True)
        return out

    def commit(
        self,
        new_files: list[DataFile],
        replaced_buckets: set[int],
        properties: dict[str, str] | None = None,
        lineage: list[dict] | None = None,
        new_schema: T.StructType | None = None,
        expected_version: int | None = None,
        new_num_buckets: int | None = None,
    ) -> Snapshot:
        """Atomically publish a new snapshot.

        files(N+1) = files(N) minus replaced buckets, plus new_files.
        Properties are merged (so the LSN watermark rides the same commit as
        the data — crash before this point leaves v(N) fully intact; crash
        after leaves v(N+1) fully applied: exactly-once by construction).

        ``new_num_buckets`` (partition evolution, ``maintenance.rebucket``)
        is only legal on a commit that replaces EVERY live file: bucket ids
        are assignments under ONE modulus per snapshot, so a snapshot mixing
        files bucketed under two moduli would break merge pruning and the
        per-bucket streaming diff. Old snapshots keep their own bucket count
        (``bucket_expr`` and readers resolve it per snapshot).
        """
        for _attempt in range(5):
            try:
                return self._commit_once(
                    new_files, replaced_buckets, properties, lineage,
                    new_schema, expected_version, new_num_buckets,
                )
            except CommitConflict:
                # optimistic rebase (Iceberg-style retry, narrowed to the
                # provably-safe case): if every commit that landed since
                # our base is marked rewrite_only (compaction, rebucket —
                # layout-only, state-equal) and the bucket modulus is
                # unchanged, our files were computed from LOGICALLY THE
                # SAME state and replace/append cleanly against the new
                # current. A same-modulus check excludes rebucket races
                # (our bucket ids would be stale). Anything else — a real
                # concurrent writer — re-raises for the caller's own
                # arbitration (the engine's same-window dedup, the stage
                # machine's rewind).
                cur_v = self.current().version
                if expected_version is None:
                    # no expectation = append to whatever is current;
                    # losing a version race just means try the next one
                    continue
                if cur_v <= expected_version:
                    raise
                try:
                    base_snap = self.snapshot(expected_version)
                except FileNotFoundError:
                    raise CommitConflict(
                        f"expected v{expected_version}, found v{cur_v} "
                        "(base snapshot expired — cannot verify rebase)"
                    )
                if not self._rewrite_only_span(expected_version, cur_v):
                    raise
                if self.current().num_buckets != base_snap.num_buckets:
                    raise
                import logging

                logging.getLogger(__name__).info(
                    "commit rebased v%d -> v%d over rewrite-only commit(s)",
                    expected_version, cur_v,
                )
                expected_version = cur_v
        raise CommitConflict("commit retry budget exhausted")

    def _rewrite_only_span(self, lo: int, hi: int) -> bool:
        """True when every retained commit in (lo, hi] carries the
        rewrite_only marker (state at hi provably equals state at lo)."""
        have = set(self.snapshots())
        for v in range(lo + 1, hi + 1):
            if v not in have:
                return False
            props = self.snapshot_properties(v)
            if props.get("rewrite_only") != "true":
                return False
            # a declared reload is NEVER state-equal to its parent even if
            # a marker leaked onto it — rebasing stale pre-reload files
            # over an emptied table would resurrect dropped state
            if props.get("reload") == "true":
                return False
        return True

    def _commit_once(
        self,
        new_files: list[DataFile],
        replaced_buckets: set[int],
        properties: dict[str, str] | None,
        lineage: list[dict] | None,
        new_schema: T.StructType | None,
        expected_version: int | None,
        new_num_buckets: int | None,
    ) -> Snapshot:
        cur = self.current()
        if expected_version is not None and cur.version != expected_version:
            raise CommitConflict(f"expected v{expected_version}, found v{cur.version}")
        if new_schema is not None and cur.renames:
            self.check_epoch_collisions(cur, new_schema)
        # merge-on-read: ``seq`` (the LWW order across delta commits) is
        # assigned HERE, at the commit point — a writer-chosen value could
        # go stale across a version race. A delta for a bucket this same
        # commit replaces is ambiguous (does the delta supersede the
        # replacement or vice versa?) — refuse loudly.
        for f in new_files:
            if f.kind not in ("base", "delta", "delete"):
                raise ValueError(f"unknown data-file kind {f.kind!r}: {f.path}")
            if f.kind != "base":
                if f.bucket in replaced_buckets:
                    raise ValueError(
                        f"commit adds a {f.kind} file for bucket {f.bucket} "
                        "while replacing that bucket — supersede order "
                        "would be ambiguous; write the merged state as a "
                        "base file instead"
                    )
                f.seq = cur.version + 1
        kept = [f for f in cur.files if f.bucket not in replaced_buckets]
        if new_num_buckets is not None and new_num_buckets != cur.num_buckets:
            if kept:
                raise ValueError(
                    f"cannot change num_buckets {cur.num_buckets} -> "
                    f"{new_num_buckets} while keeping {len(kept)} file(s) "
                    "bucketed under the old modulus — a rebucket commit "
                    "must replace every live file (maintenance.rebucket)"
                )
            if new_num_buckets < 1:
                raise ValueError(f"num_buckets must be >= 1, got {new_num_buckets}")
            if any(f.kind != "base" for f in new_files):
                raise ValueError(
                    "a rebucket commit must write pure base files — delta/"
                    "delete files under a new modulus cannot supersede rows "
                    "bucketed under the old one"
                )
        props = dict(cur.properties)
        # the reload marker is a BOUNDARY property, not table state: only
        # the reset_for_reload snapshot itself carries it — inheriting it
        # would make every later snapshot look like a reload boundary to
        # auditors, silently disabling watermark monotonicity checks
        props.pop("reload", None)
        # same for the rewrite-only marker (rebucket/compaction-style
        # commits whose state equals their parent's): if it leaked onto
        # later snapshots, the change feed would treat REAL change windows
        # as empty — silent data loss downstream
        props.pop("rewrite_only", None)
        props.pop("rebucket", None)
        props.update(properties or {})
        snap = Snapshot(
            version=cur.version + 1,
            snapshot_id=uuid.uuid4().hex,
            parent_snapshot_id=cur.snapshot_id,
            schema=new_schema or cur.schema,
            num_buckets=(
                new_num_buckets if new_num_buckets is not None else cur.num_buckets
            ),
            bucket_column=cur.bucket_column,
            files=kept + new_files,
            properties=props,
            lineage=lineage or [],
            renames=cur.renames,
        )
        self._write_snapshot(snap)
        return snap

    def reset_for_reload(
        self,
        new_schema: T.StructType,
        properties: dict[str, str] | None = None,
        expected_version: int | None = None,
    ) -> Snapshot:
        """Full-reload commit: a new snapshot referencing ZERO data files at
        a (possibly incompatible) new schema, with the LSN watermark reset
        and the rename history cleared.

        The declared recovery path for incompatible type changes and
        merge-key type widenings — the reference's drop+re-add escape hatch
        (import_operations.py:2893-2903) expressed as a normal atomic
        commit: prior snapshots stay readable (time travel) until expired,
        and a crash leaves either the old table or the empty reloaded one,
        never a mix. Because the new snapshot clears ``renames``, newly
        written files start at rename epoch 0 against the new schema; old
        snapshots keep their own schema+renames, so historical reads are
        untouched.
        """
        cur = self.current()
        if expected_version is not None and cur.version != expected_version:
            raise CommitConflict(
                f"expected v{expected_version}, found v{cur.version}"
            )
        props = dict(cur.properties)
        props.pop("last_merge_ts", None)
        # boundary markers are single-commit facts — inheriting
        # rewrite_only from a parent compaction/rebucket would make the
        # reload look state-equal to consumers (change feed, commit
        # rebase), silently losing the reload boundary
        props.pop("rewrite_only", None)
        props.pop("rebucket", None)
        props["last_lsn"] = "-1"
        # explicit boundary marker: auditors (fsck) must not flag the
        # watermark/merge_ts reset across a declared reload as corruption
        props["reload"] = "true"
        props.update(properties or {})
        snap = Snapshot(
            version=cur.version + 1,
            snapshot_id=uuid.uuid4().hex,
            parent_snapshot_id=cur.snapshot_id,
            schema=new_schema,
            num_buckets=cur.num_buckets,
            bucket_column=cur.bucket_column,
            files=[],
            properties=props,
            lineage=[],
            renames=[],
        )
        self._write_snapshot(snap)
        return snap

    def rename_column(self, old: str, new: str) -> Snapshot:
        """Metadata-only column rename (reference rename handling,
        import_operations.py:2737-2795). Existing files keep their physical
        column names; reads map them through the recorded rename (see
        DataFile.epoch). The bucket column may be renamed too — bucketing
        hashes values, not names."""
        cur = self.current()
        names = cur.schema.fieldNames()
        if old not in names:
            raise ValueError(f"rename: column {old!r} not in table schema")
        if new in names:
            raise ValueError(f"rename: column {new!r} already exists")
        fields = [
            T.StructField(new if f.name == old else f.name, f.dataType, f.nullable, f.metadata)
            for f in cur.schema.fields
        ]
        snap = Snapshot(
            version=cur.version + 1,
            snapshot_id=uuid.uuid4().hex,
            parent_snapshot_id=cur.snapshot_id,
            schema=T.StructType(fields),
            num_buckets=cur.num_buckets,
            bucket_column=(
                new
                if cur.bucket_column == old
                else (
                    [new if c == old else c for c in cur.bucket_column]
                    if isinstance(cur.bucket_column, list)
                    else cur.bucket_column
                )
            ),
            files=cur.files,
            # boundary markers (reload / rewrite_only / rebucket) describe
            # the PARENT commit only — a rename is its own commit type and
            # must not look like a reload boundary or a layout-only rewrite.
            # Layout properties that NAME columns (sort_order, stat_columns,
            # bloom_columns) follow the rename: the write path matches them
            # against current logical names, so a stale old name would
            # silently stop sorting/statting/blooming every future file.
            properties={
                k: (
                    ",".join(
                        new if c.strip() == old else c.strip()
                        for c in v.split(",")
                        if c.strip()
                    )
                    if k in ("sort_order", "stat_columns", "bloom_columns")
                    else v
                )
                for k, v in cur.properties.items()
                if k not in ("reload", "rewrite_only", "rebucket")
            },
            lineage=[],
            renames=cur.renames + [{"from": old, "to": new}],
        )
        self._write_snapshot(snap)
        return snap

    def _write_snapshot(self, snap: Snapshot) -> None:
        # the atomic commit point — delegated to the catalog (O_EXCL file
        # create by default; CAS for object stores). Raises CommitConflict
        # if a racing writer owns this version; nothing of ours is visible
        # on that path.
        self.catalog.commit_version(self._meta_dir, snap.version, snap.to_json())
        # the hint is advisory (current() recovers without it): plain
        # tmp+rename, last-writer-wins is fine because probe-forward finds
        # any newer committed version anyway
        tmp = self._hint_path + ".tmp"
        with open(tmp, "w") as fh:
            fh.write(str(snap.version))
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, self._hint_path)
        Catalog._fsync_dir(self._meta_dir)

    # -- retention pins (Iceberg refs/branches analogue) ----------------------

    _PIN_NAME_RE = r"^[A-Za-z0-9][A-Za-z0-9._:-]*$"

    @property
    def _pins_dir(self) -> str:
        return os.path.join(self._meta_dir, "pins")

    def pins(self) -> dict[str, int]:
        """Named retention pins: ``{name: version}``. ``expire_snapshots``
        keeps every version >= the oldest pin (metadata AND data files),
        so a lagging change-feed follower — a mirror, matview, CDC export,
        or external stream — never loses its delta base to maintenance and
        is never forced through an ``on_gap='full'`` reconcile. The
        Iceberg ref/branch analogue, scoped to what the CDF needs."""
        if not os.path.isdir(self._pins_dir):
            return {}
        out: dict[str, int] = {}
        for name in os.listdir(self._pins_dir):
            if not name.endswith(".json"):
                continue
            try:
                with open(os.path.join(self._pins_dir, name)) as fh:
                    out[name[:-5]] = int(json.load(fh)["version"])
            except (ValueError, TypeError, KeyError, json.JSONDecodeError):
                continue  # torn write: fsck reports it, expiry ignores it
        return out

    def set_pin(self, name: str, version: int) -> None:
        """Create or advance a named pin. The version must be a retained
        snapshot (pinning an already-expired version is unenforceable —
        its files are gone). Last-writer-wins per name: the follower that
        owns a pin advances it after each successful sync."""
        import re

        if not re.match(self._PIN_NAME_RE, name):
            raise ValueError(
                f"invalid pin name {name!r} (want {self._PIN_NAME_RE})"
            )
        if version not in self.snapshots():
            raise ValueError(
                f"cannot pin version {version}: not a retained snapshot "
                f"(retained: {self.snapshots()})"
            )
        os.makedirs(self._pins_dir, exist_ok=True)
        path = os.path.join(self._pins_dir, f"{name}.json")
        tmp = f"{path}.tmp-{os.getpid()}"
        with open(tmp, "w") as fh:
            json.dump({"version": version, "updated_unix": time.time()}, fh)
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, path)

    def delete_pin(self, name: str) -> bool:
        try:
            os.unlink(os.path.join(self._pins_dir, f"{name}.json"))
            return True
        except FileNotFoundError:
            return False

    # -- snapshot tags (Iceberg refs/tags analogue) ----------------------------
    # A tag names ONE version for time-travel reads (audits, reproducible
    # training runs, "the corpus as of the v3 data freeze"). Unlike a pin —
    # a retention FLOOR that keeps every version above it for change-feed
    # followers — a tag protects exactly its own snapshot: expire_snapshots
    # keeps the tagged version and its data files, while untagged
    # intermediates still age out. Reference parity: DBImport pins nothing
    # (its Iceberg maintenance expires on count alone); this is the Iceberg
    # tag-with-retention surface its users reach for out-of-band.

    @property
    def _tags_dir(self) -> str:
        return os.path.join(self._meta_dir, "tags")

    def tags(self) -> dict[str, int]:
        """Named snapshot tags: ``{name: version}``."""
        if not os.path.isdir(self._tags_dir):
            return {}
        out: dict[str, int] = {}
        for name in os.listdir(self._tags_dir):
            if not name.endswith(".json"):
                continue
            try:
                with open(os.path.join(self._tags_dir, name)) as fh:
                    out[name[:-5]] = int(json.load(fh)["version"])
            except (ValueError, TypeError, KeyError, json.JSONDecodeError):
                continue  # torn write: fsck reports it, readers skip it
        return out

    def set_tag(self, name: str, version: int | None = None) -> int:
        """Create or move a tag (default: the current version). The version
        must be retained — tagging expired history is unenforceable.
        Returns the tagged version. Last-writer-wins per name (Iceberg's
        replace-tag)."""
        import re

        if not re.match(self._PIN_NAME_RE, name):
            raise ValueError(
                f"invalid tag name {name!r} (want {self._PIN_NAME_RE})"
            )
        v = self.current().version if version is None else version
        if v not in self.snapshots():
            raise ValueError(
                f"cannot tag version {v}: not a retained snapshot "
                f"(retained: {self.snapshots()})"
            )
        os.makedirs(self._tags_dir, exist_ok=True)
        path = os.path.join(self._tags_dir, f"{name}.json")
        tmp = f"{path}.tmp-{os.getpid()}"
        with open(tmp, "w") as fh:
            json.dump({"version": v, "updated_unix": time.time()}, fh)
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, path)
        return v

    def delete_tag(self, name: str) -> bool:
        try:
            os.unlink(os.path.join(self._tags_dir, f"{name}.json"))
            return True
        except FileNotFoundError:
            return False

    def snapshot_for_timestamp(self, ts: float | str) -> int:
        """AS-OF resolution: the newest retained version committed at or
        before ``ts`` (unix seconds or ISO 8601; naive strings read as
        UTC). A timestamp older than the oldest retained commit raises —
        that history is expired, and silently serving a NEWER state than
        asked for would corrupt an audit (the streaming CDF's
        startingTimestamp fallback is different on purpose: a change
        *stream* starting late re-reads nothing wrong, a point-in-time
        *read* would)."""
        unix = parse_timestamp(ts)
        versions = self.snapshots()
        at_or_before = [
            v for v in versions if self.snapshot(v).created_unix <= unix
        ]
        if not at_or_before:
            raise ValueError(
                f"no retained snapshot at or before timestamp {ts!r} "
                f"(oldest retained: v{versions[0]} at "
                f"{self.snapshot(versions[0]).created_unix:.3f} unix) — "
                "older history is expired"
            )
        return max(at_or_before)

    def resolve_ref(self, ref: int | str) -> int:
        """Resolve a user-facing snapshot reference to a version number:
        a tag name (checked first — tags are explicit user intent), else
        a decimal version, else a timestamp (unix seconds or ISO 8601,
        via :meth:`snapshot_for_timestamp`)."""
        if isinstance(ref, int):
            return ref
        tags = self.tags()
        if ref in tags:
            return tags[ref]
        try:
            return int(ref)
        except ValueError:
            pass
        return self.snapshot_for_timestamp(ref)

    # -- maintenance ---------------------------------------------------------

    def expire_snapshots(self, keep_last: int = 1) -> int:
        """Drop old snapshot metadata and unreferenced data files.

        Analogue of Iceberg ``expire_snapshots`` + ``remove_orphan_files``
        as the reference calls them (import_operations.py:1513-1535).

        Retention pins (``set_pin``) override ``keep_last``: every version
        at or above the OLDEST pin is kept — intermediates included, so a
        pinned follower's window keeps its full marker chain (reload /
        rewrite_only detection stays metadata-complete, not just the two
        endpoint snapshots). Snapshot tags (``set_tag``) keep exactly their
        own version (time-travel reads need no intermediate chain). Extra
        retention is logged, never silent.
        """
        versions = self.snapshots()
        keep = set(versions[-keep_last:])
        tags = self.tags()
        if tags:
            tagged = {v for v in tags.values() if v in set(versions)}
            extra_t = tagged - keep
            if extra_t:
                import logging

                logging.getLogger(__name__).info(
                    "expire_snapshots: keeping %d extra snapshot(s) for "
                    "tag(s) %s", len(extra_t),
                    {k: v for k, v in sorted(tags.items())},
                )
            keep |= tagged
        pins = self.pins()
        if pins:
            floor = min(pins.values())
            protected = {v for v in versions if v >= floor}
            extra = protected - keep
            if extra:
                import logging

                logging.getLogger(__name__).info(
                    "expire_snapshots: keeping %d extra snapshot(s) "
                    "(>= v%d) for retention pin(s) %s",
                    len(extra), floor,
                    {k: v for k, v in sorted(pins.items())},
                )
            keep |= protected
        live: set[str] = set()
        for v in keep:
            live.update(f.path for f in self.snapshot(v).files)
        removed = 0
        for v in versions:
            if v in keep:
                continue
            for f in self.snapshot(v).files:
                if f.path not in live:
                    p = os.path.join(self.root, f.path)
                    if os.path.isfile(p):
                        os.unlink(p)
                        removed += 1
            os.unlink(self._meta_path(v))
        # sweep now-empty commit dirs — age-gated on the dir mtime: a
        # CONCURRENT writer's just-created dir (Spark _temporary skeleton,
        # no files yet) must not be rmtree'd out from under its job
        # (commit() has an optimistic-rebase path precisely because
        # maintenance races writers)
        import time as _time

        dir_cutoff = _time.time() - 3600
        data_dir = os.path.join(self.root, "data")
        for sub in os.listdir(data_dir):
            d = os.path.join(data_dir, sub)
            if (
                os.path.isdir(d)
                and os.path.getmtime(d) <= dir_cutoff
                and not any(files for _, _, files in os.walk(d))
            ):
                shutil.rmtree(d)
        return removed
