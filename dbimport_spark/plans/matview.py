"""Incrementally-maintained aggregate views over the change feed.

The reference keeps downstream aggregates fresh by re-running export
queries over the whole table each cycle (export_operations.py runs the
full ``sparkQuery`` per export; custom validation aggregates likewise
re-scan, import_config.py:2257-2284). At the 100 TB design point a
re-scan per refresh is the wrong shape for a big table and a small
window: this module maintains a ``GROUP BY`` table from the engine's own
change feed (``lake/cdf.py``) and re-scans only when file metadata says
the feed would cost more (see "Scale shape per refresh").

Semantics: the view equals

    SELECT <group_cols>, count(*) AS <count_col>,
           COALESCE(sum(c), 0) AS sum_<c> ...
    FROM source-live-rows GROUP BY <group_cols>

(sums treat an all-null group as 0, the invertible convention — a true
SQL ``NULL`` sum cannot be maintained without per-group non-null
counters). count and sum are self-inverting under deletes (+x on
insert, -x on delete, -old+new on update), which makes their delta
maintenance exact. min/max are NOT invertible; they are maintained by
the candidate rule (a new value can only grow the extremum) plus
GROUP-SCOPED rescan-on-invalidation: only a group whose stored extremum
was possibly removed is recomputed, from the source's live rows at the
window's end version. Derive avg at read time as sum/count.

Exactly-once rides the engine unchanged: the view is a lake table whose
LSN domain is the SOURCE VERSION NUMBER (the mirror's trick,
plans/mirror.py) — totals and watermark commit atomically, a re-sync of
a committed window is skipped, and a crash between feed read and commit
leaves no partial state.

Null group values are unsupported: the group columns are the view's
merge key, and the engine's merge-key invariant (null keys are refused
loudly / quarantined, never silently grouped) applies — unlike SQL's
``GROUP BY``, which would invent a NULL group. Filter or coalesce null
group values in the source before aggregating on them.

Scale shape per refresh: each sync chooses recompute or incremental from
snapshot metadata alone (*All that Incremental is not Efficient*, EDBT
2018) and logs the inputs. It RECOMPUTES when the window's diff read set
costs at least a rescan (Σbytes of ``cdf.diff_read_sets`` ≥ Σbytes of the
source's files at the window's end) and the driver can hold the fold: the
view's rows and a bound on its groups after the window, min(source rows,
view rows + rows of the window's new files), are both within the view
engine's ``broadcast_threshold_rows``. A column-pruned groupBy of the
source and the view's rows are then collected and diffed on the driver,
and only new, changed and vanished groups reach the view's merge, which
runs on the driver too (``CDCEngine._apply_on_driver``): the collected
view rows are its target, every per-row rule is a projection Spark
evaluates on the driver, and the view's write is one Spark job. A sync
over a merge-on-read source with one delta commit runs 5 jobs: 3 for the
groupBy's collect over the reconciled source, 1 for the view read, 1 for
the write; each further uncompacted delta commit of the source adds one.
(A copy-on-write window's new files are whole buckets: a window touching
every bucket recomputes only a source within that limit.) Otherwise it
folds INCREMENTALLY: a groupBy of the delta, a left join against the
touched groups' current totals, the engine's bucket-pruned merge in
Spark; only min/max-invalidated groups read the base table. The
``on_gap='full'`` rebuild always recomputes, diffing and merging in Spark
when over the limit. Each sync logs one INFO line with the choice, its
inputs, where the view merge ran and the view buckets it touched (or that
it raised).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dbimport_spark.lake.cdf import (
    CHANGE_TYPE_COL, compare_scope, diff_read_sets, incremental_window,
    rewrite_only_window, snapshot_diff_files, table_changes,
)
from dbimport_spark.lake.table import LakeTable, advance_pin
from dbimport_spark.plans.engine import BatchStats, CDCEngine
from dbimport_spark.schema import AUDIT_COLUMNS, AUDIT_DELETE
from dbimport_spark.session import collect_local, local_frame


def _log():
    import logging

    return logging.getLogger(__name__)


@dataclass
class AggSpec:
    """What the view maintains: count(*) plus sum()/min()/max() per
    listed column.

    count/sum are exactly delta-maintained (invertible). min/max are
    maintained by the candidate rule — a new value can only GROW the
    extremum, so inserts fold in for free — plus group-scoped
    rescan-on-invalidation: a removed value that EQUALS a group's stored
    extremum may have been its last carrier, so that group (and ONLY
    that group) is recomputed from the source's live rows. The rescan
    reads the invalidated groups via a semi-join behind per-column
    ``isin`` filters (which reach the parquet scan) and its trigger
    count is logged per sync (no-silent-caps)."""

    group_cols: list[str]
    sum_cols: list[str] = field(default_factory=list)
    min_cols: list[str] = field(default_factory=list)
    max_cols: list[str] = field(default_factory=list)
    count_col: str = "n_rows"

    def sum_name(self, c: str) -> str:
        return f"sum_{c}"

    def min_name(self, c: str) -> str:
        return f"min_{c}"

    def max_name(self, c: str) -> str:
        return f"max_{c}"

    def minmax_cols(self) -> list[str]:
        return sorted(set(self.min_cols) | set(self.max_cols))

    def view_cols(self) -> list[str]:
        """The view's payload columns (the order every fold selects)."""
        return [
            *self.group_cols, self.count_col,
            *map(self.sum_name, self.sum_cols),
            *map(self.min_name, self.min_cols),
            *map(self.max_name, self.max_cols),
        ]


def view_schema(source_schema: T.StructType, spec: AggSpec) -> T.StructType:
    """View payload schema: group columns (source types, non-null — they
    are the merge key), the count, and one sum per aggregated column
    (integral sources widen to long, fractional to double — Spark's own
    sum() result types)."""
    by_name = {f.name: f for f in source_schema.fields}
    fields = []
    for g in spec.group_cols:
        if g not in by_name:
            raise ValueError(f"group column {g!r} not in source schema")
        fields.append(T.StructField(g, by_name[g].dataType, False))
    fields.append(T.StructField(spec.count_col, T.LongType(), True))
    for c in spec.sum_cols:
        if c not in by_name:
            raise ValueError(f"sum column {c!r} not in source schema")
        dt = by_name[c].dataType
        out: T.DataType
        if isinstance(dt, (T.FloatType, T.DoubleType)):
            out = T.DoubleType()
        elif isinstance(dt, T.DecimalType):
            out = T.DecimalType(min(dt.precision + 10, 38), dt.scale)
        elif isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
            out = T.LongType()
        else:
            raise ValueError(f"sum column {c!r} has non-numeric type {dt}")
        fields.append(T.StructField(spec.sum_name(c), out, True))
    orderable = (
        T.ByteType, T.ShortType, T.IntegerType, T.LongType, T.FloatType,
        T.DoubleType, T.DecimalType, T.StringType, T.TimestampType,
        T.DateType, T.BooleanType,
    )
    for c in spec.minmax_cols():
        if c not in by_name:
            raise ValueError(f"min/max column {c!r} not in source schema")
        dt = by_name[c].dataType
        if not isinstance(dt, orderable):
            raise ValueError(
                f"min/max column {c!r} has non-orderable type {dt}"
            )
        # extremes keep the source type (no widening — min/max never
        # leave the input domain)
        if c in spec.min_cols:
            fields.append(T.StructField(spec.min_name(c), dt, True))
        if c in spec.max_cols:
            fields.append(T.StructField(spec.max_name(c), dt, True))
    return T.StructType(fields)


def create_view(
    root: str,
    source: LakeTable,
    spec: AggSpec,
    num_buckets: int = 16,
) -> LakeTable:
    """Create the (empty) view table keyed by the group columns."""
    src_payload = T.StructType(
        [f for f in source.current().schema.fields if f.name not in AUDIT_COLUMNS]
    )
    return CDCEngine.create_table(
        root,
        payload_schema=view_schema(src_payload, spec),
        num_buckets=num_buckets,
        key=list(spec.group_cols),
    )


def _source_live(
    spark: SparkSession, source: LakeTable, version: int | None = None
) -> DataFrame:
    df = source.read(spark, version=version)
    if AUDIT_DELETE in df.columns:
        df = df.filter(F.col(AUDIT_DELETE).isNull())
    return df


def _aggregate(rows: DataFrame, spec: AggSpec, vschema: T.StructType) -> DataFrame:
    """The view's defining groupBy over source ``rows``, columns in
    ``spec.view_cols()`` order — shared by the recompute fold, the min/max
    rescan and ``verify_view``."""
    return rows.groupBy(*spec.group_cols).agg(
        F.count(F.lit(1)).alias(spec.count_col),
        *[
            F.coalesce(F.sum(F.col(c)), F.lit(0))
            .cast(_view_sum_type(vschema, spec, c))
            .alias(spec.sum_name(c))
            for c in spec.sum_cols
        ],
        *[F.min(F.col(c)).alias(spec.min_name(c)) for c in spec.min_cols],
        *[F.max(F.col(c)).alias(spec.max_name(c)) for c in spec.max_cols],
    )


def _check_view_key(view_engine: CDCEngine, spec: AggSpec) -> None:
    if list(view_engine.keys) != list(spec.group_cols):
        raise ValueError(
            f"spec.group_cols {spec.group_cols} != view table merge key "
            f"{list(view_engine.keys)} — the view is keyed by its group "
            "columns; syncing with a different spec would corrupt totals"
        )


def _contributions(feed: DataFrame, spec: AggSpec) -> DataFrame:
    """Explode the net feed into signed (+/-) per-row contributions.

    post side (+1): insert and update rows at their NEW group/values;
    pre side  (-1): delete rows at their last-known values, update rows
    at their ``_pre_*`` pre-image values. An update that moves a row
    across groups therefore decrements the old group and increments the
    new one in the same delta.

    Shape: ONE pass over the feed — each row builds an array of its 0-2
    contribution structs (post / pre), compacted and exploded; a union of
    branches would re-run the feed's snapshot-diff join once per branch.
    """
    ct = F.col(CHANGE_TYPE_COL)
    dtypes = {f.name: f.dataType for f in feed.schema.fields}

    # per-min/max column: an update that kept both the row's group AND
    # this value contributes nothing (not a candidate, not a removal) —
    # the value is still carried by the same row, so it can neither grow
    # nor invalidate the extremum; skipping it avoids needless rescans
    def unchanged(c: str):
        same = F.lit(True)
        for g in spec.group_cols:
            same = same & F.col(f"_pre_{g}").eqNullSafe(F.col(g))
        return (ct == "update") & same & F.col(f"_pre_{c}").eqNullSafe(F.col(c))

    def contrib(sign: int, prefix: str):
        """Contribution struct at ``prefix`` columns with ``sign``."""
        fields = [
            *[F.col(prefix + g).alias(g) for g in spec.group_cols],
            F.lit(sign).cast("long").alias("_d_n"),
            *[
                (F.lit(sign) * F.col(prefix + c)).alias(spec.sum_name(c))
                for c in spec.sum_cols
            ],
        ]
        for c in spec.minmax_cols():
            null = F.lit(None).cast(dtypes[c])
            if sign == 1:  # post side: candidate new values
                fields.append(
                    F.when(unchanged(c), null)
                    .otherwise(F.col(c))
                    .alias(f"_post_{c}")
                )
                fields.append(null.alias(f"_rem_{c}"))
            else:  # pre side: removed values (delete / update pre-image)
                fields.append(null.alias(f"_post_{c}"))
                fields.append(
                    (
                        F.col(c)
                        if prefix == ""
                        else F.when(unchanged(c), null).otherwise(
                            F.col(f"_pre_{c}")
                        )
                    ).alias(f"_rem_{c}")
                )
        return F.struct(*fields)

    post = F.when(ct.isin("insert", "update"), contrib(1, ""))
    pre = F.when(ct == "delete", contrib(-1, "")).when(
        ct == "update", contrib(-1, "_pre_")
    )
    exploded = feed.select(
        F.explode(F.array_compact(F.array(post, pre))).alias("_c")
    )
    return exploded.select("_c.*")


def sync_view(
    spark: SparkSession,
    source: LakeTable,
    view_engine: CDCEngine,
    spec: AggSpec,
    on_gap: str = "error",
    pin_name: str | None = None,
) -> BatchStats:
    """Advance the view to the source's current version (see
    ``_sync_view_impl`` for semantics). ``pin_name``: advance a retention
    pin on the SOURCE to the view's synced version afterwards —
    ``expire_snapshots`` then keeps this view's delta base alive, so a
    lagging view is never forced through the ``on_gap='full'`` rebuild.
    Best-effort, exactly like the mirror's pin."""
    bs = _sync_view_impl(spark, source, view_engine, spec, on_gap)
    if pin_name is not None:
        advance_pin(source, pin_name, max(view_engine.table.last_lsn(), 0))
    return bs


def apply_feed_to_view(
    spark: SparkSession,
    source: LakeTable,
    view_engine: CDCEngine,
    spec: AggSpec,
    feed: DataFrame,
    from_v: int,
    to_v: int,
) -> BatchStats:
    """Apply one window's PRE-IMAGE change feed to the view — the shared
    core of the batch ``sync_view`` and the streaming
    ``follow_view_stream`` (streaming/cdf_source.py). ``feed`` carries
    ``table_changes(..., include_preimage=True)``'s columns — equally a
    ``lake_cdf`` stream micro-batch read with ``includePreimage`` (the
    two are pinned row-identical by tests/test_cdf_stream.py). The
    window MUST start at the view's own watermark and callers enforce
    it; min/max invalidation rescans read the SOURCE at ``to_v``."""
    _check_view_key(view_engine, spec)
    # one metadata parse for the sum types and bucket count below
    vsnap = view_engine.table.current()
    vschema = vsnap.schema
    sums = [
        F.coalesce(F.sum(spec.sum_name(c)), F.lit(0))
        .cast(_view_sum_type(vschema, spec, c))
        .alias(spec.sum_name(c))
        for c in spec.sum_cols
    ]
    mm_aggs = []
    for c in spec.min_cols:
        mm_aggs.append(F.min(f"_post_{c}").alias(f"_cand_min_{c}"))
        mm_aggs.append(F.min(f"_rem_{c}").alias(f"_remv_min_{c}"))
    for c in spec.max_cols:
        mm_aggs.append(F.max(f"_post_{c}").alias(f"_cand_max_{c}"))
        mm_aggs.append(F.max(f"_rem_{c}").alias(f"_remv_max_{c}"))
    delta = (
        _contributions(feed, spec)
        .groupBy(*spec.group_cols)
        .agg(F.sum("_d_n").alias("_d_n"), *sums, *mm_aggs)
    )
    # drop no-op deltas (e.g. an update that only touched columns the
    # view does not aggregate): no reason to rewrite those groups
    noop = F.col("_d_n") == 0
    for c in spec.sum_cols:
        noop = noop & (F.col(spec.sum_name(c)) == 0)
    for c in spec.min_cols:
        noop = noop & F.col(f"_cand_min_{c}").isNull()
        noop = noop & F.col(f"_remv_min_{c}").isNull()
    for c in spec.max_cols:
        noop = noop & F.col(f"_cand_max_{c}").isNull()
        noop = noop & F.col(f"_remv_max_{c}").isNull()
    # group-cardinality-sized; materialized once because three
    # consumers follow (bucket collect, join, merge) — an uncached delta
    # would re-run the feed groupBy per consumer. A near-unique grouping
    # makes this data-sized; such a "view" should be a mirror instead
    delta = delta.filter(~noop).localCheckpoint(eager=True)

    # current totals, bucket-pruned to the delta's touched groups:
    # sync cost scales with the window's delta, not the view size
    bexpr = view_engine.table.bucket_expr(
        key_col=list(spec.group_cols), num_buckets=vsnap.num_buckets
    )
    touched = sorted(
        r["bucket"]
        for r in delta.select(bexpr.alias("bucket")).distinct().collect()
    )
    cur = view_engine.table.read(spark, buckets=touched)
    if AUDIT_DELETE in cur.columns:
        cur = cur.filter(F.col(AUDIT_DELETE).isNull())
    # current totals as _cur_n, _cur_sum_<c>, _cur_min_<c>, _cur_max_<c>
    cur = cur.select(
        *spec.group_cols, F.col(spec.count_col).alias("_cur_n"),
        *[
            F.col(c).alias(f"_cur_{c}")
            for c in spec.view_cols()[len(spec.group_cols) + 1:]
        ],
    )
    merged = delta.join(cur, on=list(spec.group_cols), how="left")
    new_n = F.coalesce(F.col("_cur_n"), F.lit(0)) + F.col("_d_n")

    # min/max invalidation: a removed value that ties-or-beats the
    # group's stored extremum may have been its last carrier — that
    # group (and ONLY that group) is recomputed from the source's
    # live rows at to_v. Candidates alone handle everything else:
    # a surviving new value can only GROW the extremum.
    inval = F.lit(False)
    for c in spec.min_cols:
        inval = inval | (
            F.col(f"_remv_min_{c}").isNotNull()
            & (
                F.col(f"_cur_min_{c}").isNull()
                | (F.col(f"_remv_min_{c}") <= F.col(f"_cur_min_{c}"))
            )
        )
    for c in spec.max_cols:
        inval = inval | (
            F.col(f"_remv_max_{c}").isNotNull()
            & (
                F.col(f"_cur_max_{c}").isNull()
                | (F.col(f"_remv_max_{c}") >= F.col(f"_cur_max_{c}"))
            )
        )
    # new groups carry no removals by construction; a group folding
    # to zero rows is deleted outright — neither needs a rescan
    inval = inval & F.col("_cur_n").isNotNull() & (new_n > 0)

    def fold_events(rows: DataFrame) -> DataFrame:
        return rows.select(
            F.lit(to_v).cast("long").alias("lsn"),
            F.when(new_n <= 0, F.lit("D")).otherwise(F.lit("U")).alias("op"),
            *spec.group_cols,
            new_n.alias(spec.count_col),
            *[
                (
                    F.coalesce(F.col(f"_cur_{spec.sum_name(c)}"), F.lit(0))
                    + F.col(spec.sum_name(c))
                )
                .cast(_view_sum_type(vschema, spec, c))
                .alias(spec.sum_name(c))
                for c in spec.sum_cols
            ],
            # least/greatest skip nulls: for a NEW group _cur_* is
            # null and the candidate wins; for a surviving group the
            # stored extremum folds with the window's candidates
            *[
                F.least(F.col(f"_cur_min_{c}"), F.col(f"_cand_min_{c}"))
                .alias(spec.min_name(c))
                for c in spec.min_cols
            ],
            *[
                F.greatest(F.col(f"_cur_max_{c}"), F.col(f"_cand_max_{c}"))
                .alias(spec.max_name(c))
                for c in spec.max_cols
            ],
        )

    # group-scoped rescan: one row per invalidated group (none without
    # min/max columns: the filter folds to false and runs no job),
    # collected once for the log and fed back as per-column isin filters
    # that reach the parquet scan, plus a semi-join with the exact keys
    # (the filters admit their cross product). collect_local, not
    # collect(): timestamp keys must come back as the instants local_frame
    # reads, whatever the Python process's time zone
    key_rows = merged.filter(inval).select(*spec.group_cols)
    keys = collect_local(key_rows)
    n_rescan = len(keys)
    _log().info(
        "sync_view window (%d, %d]: %d group(s) rescanned for min/max "
        "invalidation", from_v, to_v, n_rescan,
    )
    # the fold-event frame is group-cardinality-sized (touched groups
    # only), but the engine consumes it in TWO jobs (stats agg + write),
    # each of which would re-execute the delta-join/rescan dataflow —
    # materialize it once (lazy: the stats agg computes, the write reads
    # cache). Same group-cardinality bound as the delta checkpoint above.
    if n_rescan == 0:
        return view_engine.apply_batch(
            fold_events(merged).localCheckpoint(eager=False), from_v, to_v
        )

    # recompute ALL aggregates for the invalidated groups from the
    # source's live rows AT to_v (never current() — a concurrent
    # writer may have advanced the source past this sync's window);
    # count/sum would fold exactly anyway, but one groupBy for
    # everything keeps the rescan single-pass
    src = _source_live(spark, source, version=to_v)
    for i, g in enumerate(spec.group_cols):
        src = src.filter(F.col(g).isin(list({k[i] for k in keys})))
    src = src.join(
        F.broadcast(local_frame(spark, keys, key_rows.schema)),
        on=list(spec.group_cols), how="left_semi",
    )
    rescan_events = _aggregate(src, spec, vschema).select(
        F.lit(to_v).cast("long").alias("lsn"), F.lit("U").alias("op"), "*"
    )
    # materialized once, as above
    events = (
        fold_events(merged.filter(~inval))
        .unionByName(rescan_events)
        .localCheckpoint(eager=False)
    )
    return view_engine.apply_batch(
        events, from_v, to_v, stats_extra={"rescanned_groups": n_rescan}
    )


def _sync_view_impl(
    spark: SparkSession,
    source: LakeTable,
    view_engine: CDCEngine,
    spec: AggSpec,
    on_gap: str = "error",
) -> BatchStats:
    """Advance the view to the source's current version, by recompute or
    incrementally (module docstring, "Scale shape per refresh"). Idempotent.
    ``on_gap``: when the delta base (the last-synced source snapshot) has
    expired, 'error' raises and 'full' rebuilds by recompute."""
    _check_view_key(view_engine, spec)
    from_v = max(view_engine.table.last_lsn(), 0)
    to_v = source.current().version
    if to_v <= from_v:
        return BatchStats(lo=from_v, hi=to_v, skipped=True)

    # every choice below is pinned to to_v: reading current() instead
    # would count a commit that lands during the sync while the watermark
    # stays at to_v, and the next sync would fold it twice
    snap_to = source.snapshot(to_v)
    src_bytes = sum(f.bytes for f in snap_to.files)
    src_rows = sum(f.rows for f in snap_to.files)
    view_rows = sum(f.rows for f in view_engine.table.current().files)
    limit = view_engine.broadcast_threshold_rows
    if incremental_window(source, from_v, to_v, on_gap, "a one-time full rebuild"):
        snap_from = source.snapshot(from_v)
        diff = (
            ([], [])
            if rewrite_only_window(source, snap_from, snap_to)
            else diff_read_sets(snap_from, snap_to)
        )
        diff_bytes = sum(f.bytes for side in diff for f in side)
        new_rows = sum(f.rows for f in snapshot_diff_files(snap_from, snap_to)[1])
        group_bound = min(src_rows, view_rows + new_rows)
        fits = max(group_bound, view_rows) <= limit  # the driver holds both
        recompute = fits and 0 < diff_bytes and src_bytes <= diff_bytes
        bs = None
        try:
            if recompute:
                bs = _recompute_view(spark, source, view_engine, spec, from_v, to_v)
            else:
                # compare_cols scopes update detection to the view's own
                # columns: a source row whose group/sum/min/max columns are
                # ALL unchanged contributes exactly zero to every aggregate,
                # and Catalyst prunes the wide payload columns from both
                # diff-join sides
                feed = table_changes(
                    spark, source, from_v, to_v, include_preimage=True,
                    compare_cols=compare_scope(
                        snap_to,
                        [*spec.group_cols, *spec.sum_cols, *spec.minmax_cols()],
                    ),
                )
                bs = apply_feed_to_view(
                    spark, source, view_engine, spec, feed, from_v, to_v
                )
            return bs
        finally:
            # logged also when the fold raises (a refused malformed window,
            # a lost commit race): the decision is what the line records
            if bs is None:
                merge = "raised"
            elif bs.skipped or bs.mode == "empty":
                merge = "not run (no view change)"
            else:
                where = "on the driver" if bs.mode == "driver" else "in Spark"
                merge = f"{where}, {bs.touched_buckets} view bucket(s) touched"
            _log().info(
                "sync_view window (%d, %d]: %s — diff read set %d B vs source "
                "%d B, view group bound %d, view rows %d (driver fold limit "
                "%d); view merge %s",
                from_v, to_v, "recompute" if recompute else "incremental",
                diff_bytes, src_bytes, group_bound, view_rows, limit, merge,
            )

    on_driver = max(src_rows, view_rows) <= limit
    # no-silent-caps: the rebuild scans the whole source once — report
    # how much, from file metadata alone, before paying it
    _log().warning(
        "sync_view on_gap='full': delta base v%d expired — full rebuild "
        "will scan the source (%d rows, %d bytes, %d files) and diff it "
        "against the view (%d rows) %s", from_v, src_rows, src_bytes,
        len(snap_to.files), view_rows,
        "on the driver" if on_driver else f"in Spark (over {limit} rows)",
    )
    return _recompute_view(spark, source, view_engine, spec, from_v, to_v, on_driver)


def _recompute_view(
    spark: SparkSession,
    source: LakeTable,
    view_engine: CDCEngine,
    spec: AggSpec,
    from_v: int,
    to_v: int,
    on_driver: bool = True,
) -> BatchStats:
    """Fold the window by recomputing: one groupBy of the source's live
    rows at ``to_v``, diffed against the view's rows. Only new or changed
    (``U``) and vanished (``D``) groups reach the view's merge; an
    unchanged view commits the watermark alone. ``rescanned_groups`` = the
    groups recomputed.

    ``on_driver`` (callers bound both sides): the groupBy and the view's
    rows are collected and diffed on the driver, and the diff's event
    tuples are merged there too (``CDCEngine._apply_on_driver``, which
    reuses the collected rows as its target); the view's write is the
    merge's only Spark job. Otherwise a
    full outer join in Spark diffs them and ``apply_batch`` merges."""
    snap = view_engine.table.current()
    fresh = _aggregate(_source_live(spark, source, version=to_v), spec, snap.schema)
    ng = len(spec.group_cols)
    if not on_driver:
        cur = view_engine.table.read(spark)
        if AUDIT_DELETE in cur.columns:
            cur = cur.filter(F.col(AUDIT_DELETE).isNull())
        vals = spec.view_cols()[ng:]
        fresh = fresh.localCheckpoint(eager=True)  # joined and counted
        n_groups = fresh.count()
        events = (
            fresh.select(*spec.group_cols, F.struct(*vals).alias("_new"))
            .join(
                cur.select(*spec.group_cols, F.struct(*vals).alias("_old")),
                on=list(spec.group_cols), how="full_outer",
            )
            .filter(~F.col("_new").eqNullSafe(F.col("_old")))
            .select(
                F.lit(to_v).cast("long").alias("lsn"),
                F.when(F.col("_new").isNull(), "D").otherwise("U").alias("op"),
                *spec.group_cols, *[F.col(f"_new.{c}").alias(c) for c in vals],
            )
            .localCheckpoint(eager=False)  # the engine reads it twice
        )
        return view_engine.apply_batch(
            events, from_v, to_v, stats_extra={"rescanned_groups": n_groups}
        )

    import pyarrow.compute as pc

    def rows(tbl) -> list[tuple]:
        return list(zip(*(c.to_pylist() for c in tbl.columns)))

    target = view_engine._collect_target(snap)
    live = target
    if AUDIT_DELETE in target.column_names:
        live = target.filter(pc.is_null(target[AUDIT_DELETE]))
    stale = {r[:ng]: r for r in rows(live.select(spec.view_cols()))}
    groups = rows(fresh.toArrow())
    # pop: what is left in ``stale`` afterwards has vanished
    events = [(to_v, "U", *r) for r in groups if stale.pop(r[:ng], None) != r]
    events += [(to_v, "D", *k, *[None] * (len(fresh.columns) - ng)) for k in stale]
    # D events carry nulls in every value column: only lsn and op are
    # always set, as in the Spark diff's events
    schema = T.StructType(
        [T.StructField("lsn", T.LongType(), False),
         T.StructField("op", T.StringType(), False)]
        + [T.StructField(f.name, f.dataType) for f in fresh.schema.fields]
    )
    return view_engine._apply_on_driver(
        snap, target, events, schema, from_v, to_v,
        stats_extra={"rescanned_groups": len(groups)},
    )


def follow_view(
    spark: SparkSession,
    source: LakeTable,
    view_engine: CDCEngine,
    spec: AggSpec,
    poll_s: float = 5.0,
    max_syncs: int | None = None,
    stop_file: str | None = None,
    on_gap: str = "error",
    pin_name: str | None = None,
) -> list[BatchStats]:
    """Continuous view maintenance: poll the source and ``sync_view``
    each time it advances (``plans/mirror.follow_mirror``'s shape — the
    watermark lives in the VIEW table, so a killed follower resumes from
    its last committed sync). Stops after ``max_syncs`` applied syncs,
    or once ``stop_file`` is seen, after one final sync of the windows
    committed up to that moment (``lake/cdf.follow_passes``)."""
    from dbimport_spark.plans.mirror import follow_sync

    return follow_sync(
        lambda: sync_view(
            spark, source, view_engine, spec, on_gap=on_gap,
            pin_name=pin_name,
        ),
        poll_s=poll_s, max_syncs=max_syncs, stop_file=stop_file,
    )


def _view_sum_type(schema: T.StructType, spec: AggSpec, c: str) -> T.DataType:
    # callers pass the view schema parsed once per sync — each
    # current() re-opens and json-parses the full snapshot metadata
    dt = next(
        (f.dataType for f in schema.fields if f.name == spec.sum_name(c)),
        None,
    )
    if dt is None:
        raise ValueError(
            f"view table has no column {spec.sum_name(c)!r} — the spec's "
            f"sum_cols do not match the view (created with a different "
            "AggSpec?)"
        )
    return dt


def verify_view(
    spark: SparkSession, source: LakeTable, view: LakeTable, spec: AggSpec
) -> dict:
    """Reconcile the maintained totals against a direct groupBy of the
    source's live rows (count + content checksum — the same shape as the
    reference's custom-aggregate validation, import_config.py:2257-2284)."""
    from dbimport_spark.plans.validate import reconcile

    cols = spec.view_cols()
    vdf = view.read(spark)
    if AUDIT_DELETE in vdf.columns:
        vdf = vdf.filter(F.col(AUDIT_DELETE).isNull())
    expected = _aggregate(_source_live(spark, source), spec, view.current().schema)
    return reconcile(vdf.select(*cols), expected, cols)
