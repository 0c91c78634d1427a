"""Change data feed as a Structured Streaming source.

``lake/cdf.follow_changes`` is a polling generator — the CALLER owns the
trigger loop and its resume position. This module hands both to Spark:
a Python Data Source (``pyspark.sql.datasource``, Spark 4) whose stream
OFFSETS ARE TABLE VERSIONS, so followers get Spark-managed checkpoints
(offset WAL in the stream checkpoint dir), triggers, and restart
semantics — the Delta-CDF-as-stream analogue for the lake format, and
the streaming face of the reference's "export each import's delta
downstream" stage (reference copy_operations.py).

Scale/architecture notes:

- **Planning is metadata-only.** ``latestOffset`` reads one hint file;
  ``partitions`` prunes shared data files from the window exactly like
  ``cdf.table_changes`` (a path in both snapshots cannot produce a diff
  row) and emits ONE INPUT PARTITION PER TOUCHED BUCKET. Untouched
  buckets cost zero bytes and zero tasks.
- **The diff runs where the data is.** The engine's bucket invariant
  (a key lives in exactly ``hash(key) % n`` forever) makes the snapshot
  diff embarrassingly parallel per bucket: each task Arrow-reads its
  bucket's window files for both sides and joins them locally — no
  shuffle at all, where the batch ``table_changes`` needs one key-hash
  exchange. Rows stream back as Arrow record batches.
- **Exactly-once end-to-end** composes two idempotencies: Spark replans
  a crashed micro-batch from its checkpointed offsets (same version
  window), and the follower's source-version watermark skips a
  redelivered window. The three followers (``follow_mirror_stream``,
  ``follow_view_stream``, ``follow_export_stream``) share one
  micro-batch driver, ``_follow_stream``, which states the argument
  and enforces window continuity; each passes only its watermark
  reader and its apply primitive.
- **Schema changes DURING the stream stop it loudly.** The declared
  stream schema is fixed at query start; a window whose end snapshot
  evolved AFTER that raises (restart the stream to pick up the new
  schema) — silent nulls or mis-mapped columns are never emitted.
  CATCH-UP windows — ending strictly before the snapshot the declared
  schema came from — are the one exception: when the evolution between
  them is compatible (renames, added columns, safe widenings) the
  window is aligned up to the declared schema instead of wedging a
  fresh stream on pre-evolution history; anything non-compatible
  (narrowing, drop, reload-reset rename history, soft-mode flip) still
  stops loudly. Older files WITHIN a schema are always fine: per-file
  rename-epoch maps and upcasts are applied, same as ``LakeTable.read``.

Per-bucket diff semantics are pinned to ``cdf.table_changes`` by
``tests/test_cdf_stream.py`` (same windows, both implementations, equal
row sets).
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql import types as T

from dbimport_spark.schema import AUDIT_COLUMNS, AUDIT_DELETE

CHANGE_TYPE_COL = "_change_type"
COMMIT_VERSION_COL = "_commit_version"
# opt-in (option includeWindowStart): the micro-batch window's EXCLUSIVE
# low bound, constant per batch — lets a follower sink verify window
# CONTINUITY against its own watermark, which COMMIT_VERSION_COL (the
# end bound) alone cannot do; every follower needs it (_follow_stream)
COMMIT_WINDOW_START_COL = "_commit_window_start"

FORMAT_NAME = "lake_cdf"

_META_COLS = (CHANGE_TYPE_COL, COMMIT_VERSION_COL, COMMIT_WINDOW_START_COL)


def _output_schema(
    payload_fields: list[T.StructField],
    include_preimage: bool = False,
    include_window_start: bool = False,
) -> T.StructType:
    fields = list(payload_fields)
    if include_preimage:
        # update rows carry every payload column's pre-image as
        # _pre_<col> (null on insert/delete) — the batch feed's
        # include_preimage layout (lake/cdf.py:265), and the shape the
        # matview delta-maintenance consumes (plans/matview.py
        # _contributions). Delta-CDF parity: its update_preimage ROWS
        # become our pre-image COLUMNS (one row per change either way).
        fields += [
            T.StructField(f"_pre_{f.name}", f.dataType, True)
            for f in payload_fields
        ]
    fields = fields + [
        T.StructField(CHANGE_TYPE_COL, T.StringType(), False),
        T.StructField(COMMIT_VERSION_COL, T.LongType(), False),
    ]
    if include_window_start:
        fields.append(T.StructField(COMMIT_WINDOW_START_COL, T.LongType(), False))
    return T.StructType(fields)


def plan_window(
    table,
    from_version: int,
    to_version: int,
    include_preimage: bool = False,
    include_window_start: bool = False,
) -> list[dict]:
    """Driver-side planning: one picklable work unit per touched bucket.

    Shares ``cdf``'s guards (reload boundary, rename-history shrink) and
    file pruning; every file ships with its epoch's physical->current
    name map so executors need no table metadata at all.
    """
    import os

    from dbimport_spark.lake.cdf import check_window
    from dbimport_spark.lake.table import LakeTable

    snap_a = table.snapshot(from_version)
    snap_b = table.snapshot(to_version)
    check_window(table, snap_a, snap_b)

    keys = snap_b.merge_keys
    payload_cols = [
        f.name for f in snap_b.schema.fields if f.name not in AUDIT_COLUMNS
    ]
    soft = AUDIT_DELETE in snap_b.schema.fieldNames()
    keep = payload_cols + ([AUDIT_DELETE] if soft else [])
    keep_schema = T.StructType(
        [f for f in snap_b.schema.fields if f.name in keep]
    )

    def describe(files):
        # physical->current name map per file, ALWAYS through snap_b's
        # rename history: epochs index the shared rename log (snap_b's
        # extends snap_a's, enforced by check_window), so backdating
        # snap_b to a file's epoch yields its physical names AND folds in
        # any renames committed inside the window — the per-file
        # equivalent of the batch reader's _align_to step. Kind + seq ride
        # along so the executor task can reconcile merge-on-read deltas.
        out = []
        for f in files:
            phys = LakeTable._backdated_schema(snap_b, f.epoch)
            mapping = {
                p: c
                for p, c in zip(phys.fieldNames(), snap_b.schema.fieldNames())
                if p != c
            }
            out.append((os.path.join(table.root, f.path), mapping, f.kind, f.seq))
        return out

    from dbimport_spark.lake.cdf import rewrite_only_window

    if rewrite_only_window(table, snap_a, snap_b):
        # layout-only window (rebucket): state identical — zero tasks
        return []

    # Key co-location group: a key's bucket id is hash mod N under the
    # side's own modulus, so grouping files by bucket % gcd(N_a, N_b)
    # puts every key's a-side and b-side rows in the same partition even
    # across a rebucket boundary. Same-bucketing windows (the normal
    # case) have gcd == N and this is exactly per-bucket grouping.
    import math

    g = math.gcd(snap_a.num_buckets, snap_b.num_buckets)
    if g < max(snap_a.num_buckets, snap_b.num_buckets):
        import logging

        logging.getLogger(__name__).warning(
            "stream window (%d, %d] crosses a rebucket (%d -> %d buckets): "
            "planning %d co-location group(s) instead of per-bucket tasks "
            "for this window only — pick multiples when rebucketing to "
            "keep crossing-window parallelism high",
            from_version, to_version,
            snap_a.num_buckets, snap_b.num_buckets, g,
        )

    from dbimport_spark.lake.cdf import diff_read_sets

    read_a, read_b = diff_read_sets(snap_a, snap_b)
    by_bucket: dict[int, tuple[list, list]] = {}
    for f in read_a:
        by_bucket.setdefault(f.bucket % g, ([], []))[0].append(f)
    for f in read_b:
        by_bucket.setdefault(f.bucket % g, ([], []))[1].append(f)

    parts = []
    for bucket in sorted(by_bucket):
        a_files, b_files = by_bucket[bucket]
        parts.append(
            {
                "bucket": bucket,
                "a_files": describe(a_files),
                "b_files": describe(b_files),
                "keep_schema_json": keep_schema.json(),
                "payload_cols": payload_cols,
                "keys": keys,
                "soft": soft,
                "end_version": to_version,
                "window_start": from_version,
                "include_preimage": include_preimage,
                "include_window_start": include_window_start,
            }
        )
    return parts


def diff_bucket(meta: dict) -> Iterator:
    """Executor-side per-bucket snapshot diff -> Arrow record batches.

    Pure function of the partition description (no Spark session, no
    table metadata): Arrow-reads both sides' files, maps each file's
    epoch physical names to current names, upcasts widened columns,
    outer-joins on the merge key in pandas, and classifies rows exactly
    like ``cdf.table_changes`` — soft tombstones count as absent, audit
    columns are excluded from the change comparison, deletes carry the
    last known payload from the FROM side.
    """
    import json

    import numpy as np
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    keep_schema = T.StructType.fromJson(json.loads(meta["keep_schema_json"]))
    keep = keep_schema.fieldNames()
    arrow_keep = to_arrow_schema(keep_schema)
    arrow_types = {f.name: f.type for f in arrow_keep}
    keys = meta["keys"]
    payload_cols = meta["payload_cols"]
    value_cols = [c for c in payload_cols if c not in keys]
    soft = meta["soft"]

    def read_side(files) -> pa.Table:
        tables = []
        for path, mapping, _kind, _seq in files:
            # push column pruning into the parquet read: only the keep
            # set's physical names are decoded (audit timestamps and any
            # other non-diff columns never leave the file)
            logical_to_phys = {v: k for k, v in mapping.items()}
            schema_names = pq.read_schema(path).names
            wanted = [
                logical_to_phys.get(name, name)
                for name in keep
                if logical_to_phys.get(name, name) in schema_names
            ]
            t = pq.read_table(path, columns=wanted)
            if mapping:
                t = t.rename_columns(
                    [mapping.get(c, c) for c in t.column_names]
                )
            cols = []
            for name in keep:
                if name in t.column_names:
                    cols.append(t[name].cast(arrow_types[name]))
                else:  # additive evolution: old file lacks the column
                    cols.append(pa.nulls(len(t), arrow_types[name]))
            tables.append(pa.table(dict(zip(keep, cols))))
        if not tables:
            return arrow_keep.empty_table()
        return pa.concat_tables(tables)

    def to_pd(t: pa.Table, prefix: str) -> "pd.DataFrame":
        # nullable extension dtypes keep ints exact under nulls (a plain
        # to_pandas would coerce int64-with-null to float64, corrupting
        # ids past 2^53)
        mapper = {
            pa.int8(): pd.Int8Dtype(),
            pa.int16(): pd.Int16Dtype(),
            pa.int32(): pd.Int32Dtype(),
            pa.int64(): pd.Int64Dtype(),
            pa.float32(): pd.Float32Dtype(),
            pa.float64(): pd.Float64Dtype(),
            pa.bool_(): pd.BooleanDtype(),
            pa.string(): pd.StringDtype(),
            pa.large_string(): pd.StringDtype(),
        }.get
        df = t.to_pandas(types_mapper=mapper)
        return df.rename(
            columns={c: prefix + c for c in df.columns if c not in keys}
        )

    def side_pd(files, prefix: str) -> "pd.DataFrame":
        """One side's LIVE state as pandas: plain concat for pure-base
        file sets, otherwise the merge-on-read rule stated at
        ``LakeTable.read_files_reconciled`` — a delta or delete row of seq
        *s* hides its key in base files (seq 0) and in deltas of seq < *s*;
        delete rows are never live. Runs entirely inside this bucket's
        task: the bucket invariant means no other task holds rows for
        these keys."""
        base = [f for f in files if f[2] == "base"]
        extra = [f for f in files if f[2] != "base"]
        df = to_pd(read_side(base), "")
        if extra:
            rows = pd.concat(
                [df.assign(_mor_seq=0, _mor_del=False)]
                + [
                    to_pd(read_side([f]), "").assign(
                        _mor_seq=f[3], _mor_del=f[2] == "delete"
                    )
                    for f in extra
                ],
                ignore_index=True,
            )
            newest = rows.groupby(keys, dropna=False)["_mor_seq"].transform("max")
            keep = (rows["_mor_seq"] >= newest) & ~rows["_mor_del"]
            df = rows.loc[keep.to_numpy(dtype=bool), list(df.columns)]
        return df.rename(
            columns={c: prefix + c for c in df.columns if c not in keys}
        )

    dfa = side_pd(meta["a_files"], "_a_")
    dfb = side_pd(meta["b_files"], "_b_")
    m = dfa.merge(dfb, on=keys, how="outer", indicator="_cdf_side")
    if len(m) == 0:
        return

    def _eq1(x, y) -> bool:
        r = x == y
        if r is pd.NA:
            return False
        # np.ndarray == np.ndarray is elementwise; normalized to tuples
        # before we get here, so r is a scalar bool/np.bool_
        return bool(r)

    def null_safe_eq(a: "pd.Series", b: "pd.Series") -> "np.ndarray":
        na_a = a.isna().to_numpy(dtype=bool)
        na_b = b.isna().to_numpy(dtype=bool)
        if a.dtype == object or b.dtype == object:
            # object columns (arrays, structs): normalize ndarrays/lists
            # to tuples, then a scalar-safe elementwise compare (pd.NA
            # poisons vectorized eq on object dtype)
            def norm(s):
                return [
                    tuple(v.tolist())
                    if isinstance(v, np.ndarray)
                    else (tuple(v) if isinstance(v, list) else v)
                    for v in s.to_numpy(dtype=object)
                ]
            eq = np.fromiter(
                (_eq1(x, y) for x, y in zip(norm(a), norm(b))),
                dtype=bool,
                count=len(a),
            )
        else:
            # extension/native dtypes: vectorized eq, NA -> False
            eq = (
                pd.Series(a.eq(b)).fillna(False).to_numpy(dtype=bool)
            )
        return (eq & ~na_a & ~na_b) | (na_a & na_b)

    present_a = (m["_cdf_side"] != "right_only").to_numpy(dtype=bool)
    present_b = (m["_cdf_side"] != "left_only").to_numpy(dtype=bool)
    live_a, live_b = present_a, present_b
    if soft:
        live_a = live_a & m["_a_" + AUDIT_DELETE].isna().to_numpy(dtype=bool)
        live_b = live_b & m["_b_" + AUDIT_DELETE].isna().to_numpy(dtype=bool)

    changed = np.zeros(len(m), dtype=bool)
    for c in value_cols:
        changed |= ~null_safe_eq(m["_a_" + c], m["_b_" + c])

    ct = np.select(
        [
            live_b & ~live_a,
            live_a & ~live_b,
            live_a & live_b & changed,
        ],
        ["insert", "delete", "update"],
        default="",
    )
    mask = ct != ""
    if not mask.any():
        return
    m = m[mask].reset_index(drop=True)
    ct = ct[mask]
    is_delete = pd.Series(ct == "delete", index=m.index)

    out = {}
    for c in payload_cols:
        if c in keys:
            out[c] = m[c]
        else:  # B side for insert/update, A side (last known) for delete
            out[c] = m["_b_" + c].where(~is_delete, m["_a_" + c])
    if meta.get("include_preimage"):
        is_update = pd.Series(ct == "update", index=m.index)
        for c in payload_cols:
            # A side on update (keys equal both sides), null elsewhere —
            # the batch feed's include_preimage layout (lake/cdf.py:265)
            pre = m[c] if c in keys else m["_a_" + c]
            out["_pre_" + c] = pre.where(is_update)
    out_df = pd.DataFrame(out)
    out_df[CHANGE_TYPE_COL] = ct
    out_df[COMMIT_VERSION_COL] = np.int64(meta["end_version"])
    if meta.get("include_window_start"):
        out_df[COMMIT_WINDOW_START_COL] = np.int64(meta["window_start"])

    target = to_arrow_schema(
        _output_schema(
            [f for f in keep_schema.fields if f.name in payload_cols],
            include_preimage=bool(meta.get("include_preimage")),
            include_window_start=bool(meta.get("include_window_start")),
        )
    )
    table = pa.Table.from_pandas(out_df, schema=target, preserve_index=False)
    yield from table.to_batches()


def resolve_starting_version(table, options: dict) -> int:
    """The stream's effective starting OFFSET for an option dict (any
    key case): ``startingVersion`` verbatim, ``startingTimestamp`` as
    the newest retained version committed strictly before the timestamp
    (clamping to the earliest retained when history is expired — the
    Delta-CDF startingTimestamp contract on a vacuumed table), default
    0. Shared by the reader and the follower start guards."""
    opts = {k.lower(): v for k, v in options.items()}
    ts = opts.get("startingtimestamp")
    if ts is not None and opts.get("startingversion") is not None:
        raise ValueError(
            "pass startingVersion OR startingTimestamp, not both"
        )
    if ts is None:
        return int(opts.get("startingversion", 0))
    from dbimport_spark.lake.table import parse_timestamp

    unix = parse_timestamp(str(ts))
    versions = table.snapshots()
    before = [
        v for v in versions if table.snapshot(v).created_unix < unix
    ]
    return max(before) if before else min(versions)


class _BucketPartition(InputPartition):
    def __init__(self, meta: dict):
        self.meta = meta


class LakeCDFStreamReader(DataSourceStreamReader):
    """Offsets are table versions: ``{"version": N}``. Spark persists
    them in the stream checkpoint; each micro-batch covers the window
    (start, end] as one net diff, one task per touched bucket."""

    def __init__(self, options: dict, schema: T.StructType):
        self._root = options.get("path")
        if not self._root:
            raise ValueError("lake_cdf requires .option('path', <table root>)")
        t = self._table()  # one metadata load for starting + schema version
        self._starting = resolve_starting_version(t, options)
        cap = options.get("maxversionsperbatch")
        self._cap = int(cap) if cap is not None else None
        self._preimage = str(
            options.get("includepreimage", "false")
        ).lower() in ("true", "1")
        self._window_start = str(
            options.get("includewindowstart", "false")
        ).lower() in ("true", "1")
        self._schema = schema
        self._last_end: int | None = None  # latest end offset handed out
        # the snapshot the declared schema was resolved from: catch-up
        # windows ending BEFORE it can be aligned up to the declared
        # schema (renames / added-as-null / widenings) instead of
        # stopping; windows ending AFTER it mean the table evolved
        # mid-stream and the stop stays loud
        self._schema_version = t.current().version
        # alignment caches: snapshot(sv) is immutable, load it at most
        # once; and the reload probe over (b, sv] is monotone — once a
        # window end b0 proves the gap reload-free, every later b >= b0
        # probes a subset, so the per-window O(gap) snapshot parses
        # (O(gap^2) over a rate-capped catch-up) collapse to one pass
        self._snap_d = None
        self._reload_free_from: int | None = None

    def _table(self):
        from dbimport_spark.lake.table import LakeTable

        return LakeTable.load(self._root)

    def initialOffset(self) -> dict:
        # a fresh start's first window is rate-capped from here — without
        # this the cap only binds from the SECOND batch, letting the
        # bootstrap batch swallow the whole backlog (restarts are capped
        # via partitions(), which re-informs _last_end from the WAL)
        self._last_end = self._starting
        return {"version": self._starting}

    def latestOffset(self) -> dict:
        cur = self._table().current().version
        if self._cap is not None and self._last_end is not None:
            cur = min(cur, self._last_end + self._cap)
        self._last_end = max(cur, self._last_end or 0)
        return {"version": cur}

    def partitions(self, start: dict, end: dict):
        a, b = int(start["version"]), int(end["version"])
        # restart re-informs the rate cap of the checkpointed position —
        # note this covers only REDELIVERY of an uncommitted batch: on a
        # clean restart latestOffset() ran before any partitions() call,
        # so the first batch after a restart is NOT capped (Spark's
        # simple-offset Python source API gives latestOffset no view of
        # the checkpointed start). Loud, not silent:
        if self._cap is not None and (b - a) > self._cap:
            import logging

            logging.getLogger(__name__).warning(
                "lake_cdf window (%d, %d] spans %d versions, over the "
                "maxVersionsPerBatch cap of %d — this is the backlog "
                "batch after a restart (the cap binds from the next "
                "batch). Expect one oversized micro-batch.",
                a, b, b - a, self._cap,
            )
        self._last_end = max(self._last_end or 0, b)
        if b <= a:
            return []
        table = self._table()
        snap_b = table.snapshot(b)
        declared = [
            f
            for f in self._schema.fields
            if f.name not in _META_COLS
            and not f.name.startswith("_pre_")
        ]
        current_payload = [
            f for f in snap_b.schema.fields if f.name not in AUDIT_COLUMNS
        ]
        alignment = None
        if [ (f.name, f.dataType) for f in declared ] != [
            (f.name, f.dataType) for f in current_payload
        ]:
            alignment = self._declared_alignment(table, snap_b, declared)
            if alignment is None:
                raise RuntimeError(
                    f"table schema at version {b} no longer matches the "
                    "stream's declared schema — the table evolved while "
                    "the stream was running (a CATCH-UP window that merely "
                    "predates a compatible evolution is aligned "
                    "automatically; this window is not alignable). "
                    "Restart the streaming query to pick up the new "
                    "schema (offsets in the checkpoint are kept). If the "
                    "restart hits this same error, the evolution is not a "
                    "compatible widening (or a reload reset the rename "
                    "history): start a FRESH checkpoint dir with "
                    "startingVersion=<the follower's watermark> (the "
                    "follower's window-continuity guard makes exactly "
                    "that restart safe)."
                )
        parts = plan_window(
            table, a, b,
            include_preimage=self._preimage,
            include_window_start=self._window_start,
        )
        if alignment is not None:
            parts = [self._align_meta(m, *alignment) for m in parts]
        return [_BucketPartition(m) for m in parts]

    def _declared_alignment(self, table, snap_b, declared):
        """A catch-up window ending BEFORE the stream's declared-schema
        version is emitted UNDER the declared schema when the evolution
        between them is compatible: renames mapped through the shared
        epoch log, added columns null-filled, safe widenings cast up —
        the same alignment every batch reader applies per file epoch
        (``LakeTable._backdated_schema``) and the batch CDF applies per
        window (``cdf._align_to``), done here by rewriting the planned
        partitions' keep-schema and per-file name maps so the executor
        diff needs no new machinery. Returns ``(snap_d, b2d)`` or None
        when the stop must stay loud: the table evolved AFTER the stream
        started, the declared snapshot expired, a reload reset the
        rename history, soft-delete mode flipped, a narrowing, or a
        dropped column."""
        from dbimport_spark.lake.cdf import window_has_reload
        from dbimport_spark.lake.evolve import compare_types

        sv = self._schema_version
        b = snap_b.version
        if sv is None or b >= sv:
            return None  # evolved after stream start: restart handles it
        if self._snap_d is not None:
            snap_d = self._snap_d  # immutable at version sv: load once
        else:
            try:
                snap_d = self._snap_d = table.snapshot(sv)
            except Exception:
                return None  # declared-schema snapshot expired
        d_payload = [
            f for f in snap_d.schema.fields if f.name not in AUDIT_COLUMNS
        ]
        if [(f.name, f.dataType) for f in declared] != [
            (f.name, f.dataType) for f in d_payload
        ]:
            return None  # raced a commit between schema() and init
        # monotone probe: b only grows, so a reload-free (b0, sv] proves
        # every later (b, sv] ⊂ (b0, sv] reload-free without re-parsing
        if self._reload_free_from is None or b < self._reload_free_from:
            if window_has_reload(table, b, sv) is not None:
                return None  # reload reset name identity inside the gap
            self._reload_free_from = b
        nb, nd = snap_b.renames, snap_d.renames
        if len(nd) < len(nb) or nd[: len(nb)] != nb:
            return None
        soft_b = AUDIT_DELETE in snap_b.schema.fieldNames()
        if soft_b != (AUDIT_DELETE in snap_d.schema.fieldNames()):
            return None  # soft-delete mode flipped inside the gap
        # b-name -> d-name over the rename slice (shared chain fold)
        from dbimport_spark.lake.cdf import rename_mapping

        b2d = rename_mapping(nb, nd)
        d_types = {f.name: f.dataType for f in snap_d.schema.fields}
        for f in snap_b.schema.fields:
            if f.name in AUDIT_COLUMNS and f.name != AUDIT_DELETE:
                continue
            dn = b2d.get(f.name, f.name)
            if dn not in d_types:
                return None  # dropped column (never-drop makes this a bug)
            if compare_types(f.dataType, d_types[dn]) not in ("same", "widen"):
                return None
        return snap_d, b2d

    @staticmethod
    def _align_meta(meta: dict, snap_d, b2d: dict) -> dict:
        """Rewrite one planned partition from snapshot-b terms to the
        declared (snap_d) schema: keep set, payload names, join keys,
        and each file's physical->logical map composed with the b->d
        rename slice. ``diff_bucket`` then null-fills added columns and
        casts widened ones exactly as it does for old file epochs."""
        payload_d = [
            f.name for f in snap_d.schema.fields if f.name not in AUDIT_COLUMNS
        ]
        keep_d = payload_d + ([AUDIT_DELETE] if meta["soft"] else [])
        keep_schema_d = T.StructType(
            [f for f in snap_d.schema.fields if f.name in keep_d]
        )

        def compose(files):
            out = []
            for path, mapping, kind, seq in files:
                m = {p: b2d.get(n, n) for p, n in mapping.items()}
                mapped = set(mapping.values())
                for bn, dn in b2d.items():
                    if bn not in mapped and bn not in m:
                        m[bn] = dn
                out.append(
                    (path, {p: c for p, c in m.items() if p != c}, kind, seq)
                )
            return out

        return {
            **meta,
            "keep_schema_json": keep_schema_d.json(),
            "payload_cols": payload_d,
            "keys": [b2d.get(k, k) for k in meta["keys"]],
            "a_files": compose(meta["a_files"]),
            "b_files": compose(meta["b_files"]),
        }

    def read(self, partition: _BucketPartition):
        return diff_bucket(partition.meta)

    def commit(self, end: dict) -> None:
        self._last_end = max(self._last_end or 0, int(end["version"]))


class LakeCDFDataSource(DataSource):
    """``spark.readStream.format("lake_cdf").option("path", root)``."""

    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def schema(self) -> T.StructType:
        from dbimport_spark.lake.table import LakeTable

        opts = {k.lower(): v for k, v in self.options.items()}
        root = opts.get("path")
        if not root:
            raise ValueError("lake_cdf requires .option('path', <table root>)")
        snap = LakeTable.load(root).current()
        return _output_schema(
            [f for f in snap.schema.fields if f.name not in AUDIT_COLUMNS],
            include_preimage=str(
                opts.get("includepreimage", "false")
            ).lower() in ("true", "1"),
            include_window_start=str(
                opts.get("includewindowstart", "false")
            ).lower() in ("true", "1"),
        )

    def streamReader(self, schema: T.StructType) -> LakeCDFStreamReader:
        return LakeCDFStreamReader(
            {k.lower(): v for k, v in self.options.items()}, schema
        )


def register(spark) -> None:
    """Register the source under ``lake_cdf`` (idempotent)."""
    spark.dataSource.register(LakeCDFDataSource)


def read_changes_stream(spark, root: str, **options):
    """``readStream`` over a lake table's change feed."""
    register(spark)
    reader = spark.readStream.format(FORMAT_NAME).option("path", root)
    for k, v in options.items():
        reader = reader.option(k, str(v))
    return reader.load()


def stream_caught_up(query, table) -> bool:
    """True when the ``lake_cdf`` stream's last COMPLETED micro-batch
    ends at (or past) the table's current version — i.e. every committed
    window has been DELIVERED to the sink, even windows that produced
    zero change rows (compaction / rewrite-only / quarantine-only
    commits), which never advance a follower's own watermark. So the
    delivered offset is what shows a follower drained: its watermark
    compared to ``table.current().version`` hangs forever when the
    newest commits are empty windows (the CLI drain,
    ``cli._drain_stream``, checks both)."""
    return _delivered_version(query) >= table.current().version


def _delivered_version(query) -> int:
    """End version of the ``lake_cdf`` stream's last completed
    micro-batch; -1 before the first one."""
    p = query.lastProgress
    if not p:
        return -1
    try:
        end = p["sources"][0]["endOffset"]
        if isinstance(end, str):
            # Spark renders the Python source's offset dict as its repr
            # (single quotes), not JSON — accept both spellings
            try:
                import json as _json

                end = _json.loads(end)
            except ValueError:
                import ast as _ast

                end = _ast.literal_eval(end)
        return int(end["version"])
    except (KeyError, IndexError, TypeError, ValueError, SyntaxError):
        return -1


def _ci_last(options: dict, name: str):
    """Last-set value for an option under ANY key case — Spark's reader
    options are case-insensitive with last-set-wins, so a guard that
    checks only one spelling is bypassable."""
    val = None
    for k, v in options.items():
        if k.lower() == name.lower():
            val = v
    return val


def _require_window_continuity(
    load_source, start: int, from_v: int, to_v: int, what: str
) -> None:
    """Refuse a micro-batch window that does not begin exactly at the
    follower's watermark. BELOW is an overlap, unsafe for every
    follower (``_follow_stream``). ABOVE is a skipped window — benign
    exactly when the gap is provably change-free: the stream emitted an
    empty micro-batch for (from_v, start] (compaction / rebucket /
    quarantine-only commits plan zero partitions), which never advances
    a follower watermark — folding (start, to_v] then equals folding
    (from_v, to_v]. Verified from metadata with the SAME planner the
    source used; anything else (expired snapshots, a reload boundary,
    real data) stays a loud stop.

    ``load_source`` is a zero-arg callable returning the source
    ``LakeTable`` — called only on the rare discontinuity path, so the
    steady-state trigger loop (start == from_v) never pays the
    full-metadata parse just to check continuity."""
    if start == from_v:
        return
    gap_err: Exception | None = None
    if start > from_v:
        try:
            if not plan_window(load_source(), from_v, start):
                return  # change-free gap
        except Exception as e:
            gap_err = e  # surfaced below — the planner's reason
            # (expired snapshot, reload boundary) is the real
            # diagnostic, not the generic out-of-band message
    detail = (
        f" Gap probe ({from_v}, {start}] failed: {gap_err}"
        if gap_err is not None
        else ""
    )
    raise ValueError(
        f"{what} watermark {from_v} does not match the stream "
        f"window start {start} (window ({start}, {to_v}]): the "
        f"{what} was advanced out-of-band (a batch sync ran against "
        "this stream's checkpoint), or the stream was started on a "
        f"fresh checkpoint below the {what}'s watermark. Applying "
        "would double-count or net away the overlap. Restart with a "
        f"fresh checkpoint dir and startingVersion={from_v}.{detail}"
    ) from gap_err


def _follow_stream(
    spark,
    source_root: str,
    checkpoint_dir: str,
    trigger_seconds: float,
    source_options: dict,
    what: str,
    watermark,
    apply,
    pin_name: str | None = None,
):
    """THE micro-batch driver of the three stream followers (mirror,
    matview, cdc-export). Spark owns the trigger loop and the offset
    checkpoint; the follower's own source-version watermark
    (``watermark()``) owns exactly-once. A micro-batch redelivered after
    a crash between its apply and Spark's offset commit ends at or below
    the watermark and is skipped whole, so every window is applied once —
    the same composition the reference's copy stage and Structured
    Streaming's idempotent ``foreachBatch`` sinks rely on.

    Exactly-once also needs every window to START at the watermark.
    Each micro-batch is one NETTED snapshot diff over its window, so a
    window straddling the watermark is unsafe for every follower, not
    only the matview's signed fold: a key inserted inside the overlap
    (already applied) and deleted after the watermark nets to NO ROW,
    and the unapplied delete is silently lost — the row is resurrected
    forever. The feed therefore always carries its window's exclusive
    low bound (``includeWindowStart``, refused if disabled) and every
    window is checked by ``_require_window_continuity``: a fresh
    checkpoint dir below the watermark, or a batch sync racing the
    stream, is a loud stop. A start AHEAD of the watermark is refused
    before the query starts (``_guard_follower_start``) — the skipped
    window would be lost below the watermark, where no later check sees
    it. A fresh checkpoint dir must pass ``startingVersion=<the
    follower's watermark>``; one restarted with the same dir resumes
    from the last committed window.

    ``apply(feed, source, from_v, to_v)`` applies one window's feed
    (window-start column dropped); ``source()`` loads the source table,
    at most once per window and only when needed. With ``pin_name`` the
    source's retention pin follows each applied window. Returns the
    started ``StreamingQuery``; callers stop it."""
    import functools

    from pyspark.sql import functions as F

    from dbimport_spark.lake.table import LakeTable, advance_pin

    follower_v = watermark()
    start = resolve_starting_version(LakeTable.load(source_root), source_options)
    if follower_v < start:
        raise ValueError(
            f"stream starting position {start} is ahead of the "
            f"follower's watermark {follower_v}: the window "
            f"({follower_v}, {start}] would be silently lost. Set "
            f"startingVersion={follower_v} (the follower's watermark), "
            "or catch the follower up first."
        )
    # an explicit includeWindowStart=false (any key case) is refused,
    # not silently overridden: that would hide the disagreement
    user = _ci_last(source_options, "includeWindowStart")
    if user is not None and str(user).lower() not in ("true", "1"):
        raise ValueError(
            f"{what} follower needs the window-start column — "
            "includeWindowStart cannot be disabled (window continuity "
            "is verified against it, see _require_window_continuity)"
        )
    feed = read_changes_stream(
        spark, source_root, **{"includeWindowStart": "true", **source_options}
    )

    def apply_window(batch_df, _epoch_id: int) -> None:
        head = batch_df.agg(
            F.max(COMMIT_VERSION_COL).alias("v"),
            F.max(COMMIT_WINDOW_START_COL).alias("ws"),
        ).collect()[0]
        if head["v"] is None:
            return  # empty window (compaction / rebucket-only commits)
        to_v, from_v = int(head["v"]), watermark()
        if to_v <= from_v:
            return  # redelivered window: the follower already has it
        source = functools.cache(lambda: LakeTable.load(source_root))
        _require_window_continuity(source, int(head["ws"]), from_v, to_v, what)
        apply(batch_df.drop(COMMIT_WINDOW_START_COL), source, from_v, to_v)
        if pin_name is not None:
            advance_pin(source(), pin_name, to_v)

    return (
        feed.writeStream.foreachBatch(apply_window)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(processingTime=f"{trigger_seconds} seconds")
        .start()
    )


def follow_mirror_stream(
    spark,
    source_root: str,
    mirror_engine,
    checkpoint_dir: str,
    trigger_seconds: float = 1.0,
    pin_name: str | None = None,
    **source_options,
):
    """The streaming twin of ``plans/mirror.follow_mirror``: each
    micro-batch is mapped to change events and applied through the
    mirror's engine, whose LSN watermark is the last mirrored source
    version. Exactly-once and window continuity: ``_follow_stream``.
    Returns the started ``StreamingQuery``; callers stop it."""
    from dbimport_spark.plans.mirror import (
        feed_to_change_events,
        source_version_mirrored,
    )

    def apply(feed, _source, from_v: int, to_v: int) -> None:
        mirror_engine.apply_batch(
            feed_to_change_events(feed, to_v), from_v, to_v
        )

    return _follow_stream(
        spark, source_root, checkpoint_dir, trigger_seconds, source_options,
        "mirror", lambda: source_version_mirrored(mirror_engine), apply,
        pin_name,
    )


def follow_view_stream(
    spark,
    source_root: str,
    view_engine,
    spec,
    checkpoint_dir: str,
    trigger_seconds: float = 1.0,
    pin_name: str | None = None,
    **source_options,
):
    """The streaming twin of ``plans/matview.follow_view``: the stream
    runs with ``includePreimage``, so each micro-batch IS the window's
    pre-image feed and folds straight into the view through
    ``matview.apply_feed_to_view`` — no second snapshot diff, where the
    batch ``sync_view`` computes ``table_changes`` per refresh. The
    view's signed delta fold is why window continuity matters most here
    (an overlap double-counts); exactly-once and continuity:
    ``_follow_stream``. Returns the started ``StreamingQuery``; callers
    stop it."""
    from dbimport_spark.plans.matview import apply_feed_to_view

    pre = _ci_last(source_options, "includePreimage")
    if pre is not None and str(pre).lower() not in ("true", "1"):
        raise ValueError(
            "follow_view_stream needs the pre-image feed — "
            "includePreimage cannot be disabled (update inversion "
            "reads the _pre_ columns)"
        )

    def apply(feed, source, from_v: int, to_v: int) -> None:
        apply_feed_to_view(
            spark, source(), view_engine, spec, feed, from_v, to_v
        )

    return _follow_stream(
        spark, source_root, checkpoint_dir, trigger_seconds,
        {"includePreimage": "true", **source_options},
        "view", lambda: max(view_engine.table.last_lsn(), 0), apply,
        pin_name,
    )


def follow_export_stream(
    spark,
    source_root: str,
    exporter,
    checkpoint_dir: str,
    trigger_seconds: float = 1.0,
    **source_options,
):
    """The streaming twin of ``plans/cdc_export.CDCJdbcExporter.sync``:
    the RDBMS target follows the source through ``readStream``, each
    micro-batch staged and merged by ``CDCJdbcExporter.apply_feed``,
    which also promotes the exporter's source-version watermark and pin.
    A micro-batch is one netted snapshot diff even when a rate cap makes
    it span several versions — at most one row per key, exactly the
    shape the stage merge requires. Exactly-once and continuity:
    ``_follow_stream``. Preimage rows are refused (the export ships
    post-images only). An expired delta base stops the stream loudly:
    run a one-shot batch ``sync(on_gap='full')``, then restart the
    stream. Returns the started ``StreamingQuery``; callers stop it."""
    if str(_ci_last(source_options, "includePreimage") or "").lower() in (
        "true", "1",
    ):
        raise ValueError(
            "follow_export_stream ships post-images only — drop "
            "includePreimage"
        )

    def apply(feed, _source, _from_v: int, to_v: int) -> None:
        exporter.apply_feed(spark, feed, to_v)

    return _follow_stream(
        spark, source_root, checkpoint_dir, trigger_seconds, source_options,
        "export", lambda: int(exporter._state()["last_version"]), apply,
    )
