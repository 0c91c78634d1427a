"""Key-partitioned MERGE with I/U/D routing — the engine's crown jewel.

Semantics mirror the reference's generated ``MERGE INTO`` (reference
etl_operations.py:100-298, SURVEY.md J1/J2/P5), stated once, in
``_row_rule``, as a function of four predicates per joined row — a
target row exists (``has_t``), a batch winner exists (``has_b``), the
winner is a delete, and the matched payload differs:

- WHEN MATCHED AND op='D'            → delete the row
- WHEN MATCHED AND any column differs (null-safe) → update + audit 'U'
- WHEN MATCHED AND nothing differs   → keep the row untouched (change
  detection: audit timestamps only move when content moved,
  reference etl_operations.py:172-198)
- WHEN NOT MATCHED AND op!='D'       → insert + audit 'I'
- WHEN NOT MATCHED AND op='D'        → no-op
- a delete followed by a re-insert at higher LSN resurrects the row
  (handled upstream: LWW dedup keeps only the max-LSN event per key,
  reference fixup analogue etl_operations.py:300-316)

Soft mode keeps deleted rows as tombstones (dl_iud='D' + dl_delete_ts,
payload = the window's last live image, else the target's); a batch
winner on a tombstone revives it. ``track_lsn`` tables stamp every
touched row's dl_lsn and keep a delete of an absent key as a
null-payload tombstone.

Five shapes call the rule; each fixes what it knows up front as a plain
bool, which the rule folds away, so every plan carries only its live
terms:

- ``broadcast`` (steady-state CDC batches, ``has_t`` = True for the
  survivors): the deduped batch is broadcast; the target side is NEVER
  shuffled — scan only touched buckets, zero target exchange, zero
  sort. Two streams over the pruned target buckets: (a) target LEFT
  JOIN broadcast(batch) applies updates/deletes, (b) a broadcast
  semi/anti pair computes inserts (the insert-only shape).
- ``shuffle`` (initial loads / huge batches, the general case):
  bucket-aligned co-partitioned join. Both sides carry a materialized
  ``_bucket`` column and are hash-partitioned on it; the full-outer
  join runs on (_bucket, key), which the existing
  HashPartitioning(_bucket) satisfies on both sides — so the join itself
  adds NO exchange and the downstream ``partitionBy(_bucket)`` write
  adds none either. Net data movement: exactly one shuffle of the batch
  + one of the touched target buckets. Pair with
  spark.sql.join.preferSortMergeJoin=false so Spark picks a
  shuffled-hash join and skips both sorts (token arrays make sort spill
  expensive). Spark cannot broadcast a full outer join, hence two CoW
  shapes.
- ``inserts_only`` (touched buckets without rows, ``has_t`` = False):
  a projection of the batch, no join.
- ``mor_outputs`` (merge-on-read): the batch against a narrow probe of
  the touched buckets, which cannot compare payloads — every matched
  upsert counts as changed (the one documented divergence from CoW).
- ``driver_merge`` (driver placement, the follower view's recompute): the
  target rows and the batch are already collected, so the key join is a
  dict on the driver and the rule runs as a projection over one local
  frame, which Spark evaluates on the driver without a job; only the
  write that follows is a Spark job.

The null-safe per-column diff uses Spark's ``<=>`` (eqNullSafe), which is
native on array columns — token-array change detection stays JVM-side,
no Python in the data path.
"""

from __future__ import annotations

import operator
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dbimport_spark.schema import (
    AUDIT_DELETE,
    AUDIT_INSERT,
    AUDIT_IUD,
    AUDIT_LSN,
    AUDIT_UPDATE,
)
from dbimport_spark.session import local_frame

# Predicates below are a Column or a plain bool: a shape that knows one up
# front passes the bool, and these fold it away.


def _and(*ps: Column | bool) -> Column | bool:
    if any(p is False for p in ps):
        return False
    cols = [p for p in ps if p is not True]
    return reduce(operator.and_, cols) if cols else True


def _or(*ps: Column | bool) -> Column | bool:
    if any(p is True for p in ps):
        return True
    cols = [p for p in ps if p is not False]
    return reduce(operator.or_, cols) if cols else False


def _not(p: Column | bool) -> Column | bool:
    return (not p) if isinstance(p, bool) else ~p


def _case(branches: list, otherwise: Column | None) -> Column | None:
    """CASE WHEN over ``(predicate, value)`` pairs; a None value is null."""
    out = None
    for cond, val in branches:
        if cond is False:
            continue
        if cond is True:
            otherwise = val
            break
        val = F.lit(None) if val is None else val
        out = F.when(cond, val) if out is None else out.when(cond, val)
    if out is None:
        return otherwise
    return out if otherwise is None else out.otherwise(otherwise)


def _coalesce(*cols: Column | None) -> Column | None:
    cols = [c for c in cols if c is not None]
    return F.coalesce(*cols) if len(cols) > 1 else (cols[0] if cols else None)


def _changed_predicate(payload_cols: list[str]) -> Column | bool:
    """OR-fold of null-safe inequality over every non-key column."""
    return _or(
        *[~F.col(f"t.{c}").eqNullSafe(F.col(f"b.{c}")) for c in payload_cols]
    )


def _row_rule(
    has_t: Column | bool,
    has_b: Column | bool,
    differs: Column | bool,
    target,
    out_keys: list[str],
    non_key: list[str],
    merge_ts: Column,
    soft: bool,
    track_lsn: bool,
    lv: bool,
) -> tuple[Column | bool, dict[str, Column]]:
    """The merge's row rule: ``(keep, {column: expression})`` over one
    joined row, the batch winner aliased ``b``.

    ``has_t``/``has_b``: a target row / a batch winner exists;
    ``differs``: a matched payload differs. ``target(c)`` is the row's
    prior value of column ``c`` — the target's, a ``_pre_`` image — or
    None when the shape has none. ``lv``: the batch carries the window's
    last-live ``*_lv`` images (soft mode, built by the engine).
    """

    def b(c: str) -> Column:
        return F.col(f"b.{c}")

    is_del = _and(has_b, b("op") == "D")
    tomb = target(AUDIT_DELETE)
    revived = _and(soft, tomb.isNotNull()) if tomb is not None else False
    # the row comes through as it was: no winner, or a live match that
    # neither changes the payload nor revives a tombstone
    same = _or(
        _not(has_b),
        _and(has_t, has_b, _not(is_del), _not(_or(differs, revived))),
    )
    kept_del = _and(soft, is_del)  # a delete that leaves a tombstone row
    lv_hit = _and(lv, F.coalesce(b("_has_lv"), F.lit(False)))
    # soft keeps a delete with a row to mark, and lands one of an absent
    # key as a dead row when the window carried a live image — or always
    # under track_lsn, as a null-payload tombstone: dropping it would
    # erase the very dl_lsn a later late event must lose to (the
    # absent-row ambiguity apply_late avoids)
    keep = _or(_not(is_del), _and(soft, _or(has_t, track_lsn, lv_hit)))
    # the key: the target's where every row has one, else either side's
    cols = {
        k: _coalesce(target(k), None if has_t is True else b(k)) for k in out_keys
    }
    for c in non_key:
        dead = _coalesce(b(f"{c}_lv") if lv else None, target(c))
        cols[c] = _case([(kept_del, dead), (same, target(c))], b(c))
    cols[AUDIT_IUD] = _case(
        [
            (kept_del, F.lit("D")),
            (same, target(AUDIT_IUD)),
            (_not(has_t), F.lit("I")),
        ],
        F.lit("U"),
    )
    cols[AUDIT_INSERT] = _case([(_not(has_t), merge_ts)], target(AUDIT_INSERT))
    # soft deletes bump dl_update_ts too: incremental export filters on
    # it, so tombstones must be visible to it
    cols[AUDIT_UPDATE] = _case([(same, target(AUDIT_UPDATE))], merge_ts)
    if soft:
        cols[AUDIT_DELETE] = _case(
            [(kept_del, merge_ts), (same, tomb)], F.lit(None).cast("timestamp")
        )
    if track_lsn:
        # every row a winner touched takes its lsn — INCLUDING a
        # content-identical match (audit timestamps stay put there): a
        # later-but-equal event must still win over an in-between late
        # event on the version comparison
        cols[AUDIT_LSN] = _case([(has_b, b("lsn"))], target(AUDIT_LSN))
    return keep, cols


def _project(
    df: DataFrame, keep: Column | bool, cols: dict, *extra: Column
) -> DataFrame:
    df = df if keep is True else df.filter(keep)
    return df.select(*[e.alias(c) for c, e in cols.items()], *extra)


def normalize_batch(batch: DataFrame) -> DataFrame:
    """Recompute n_tok = size(tokens) on apply (asserted consistent in tests).

    The recompute is cast back to the column's DECLARED type: size() yields
    int, but after schema evolution (widen / declared full reload) the
    table may carry n_tok as bigint/string — writing raw int32 there would
    produce data files that disagree with the table schema and break every
    later read of the bucket.
    """
    types = dict(batch.dtypes)
    if "n_tok" in batch.columns and "tokens" in batch.columns:
        batch = batch.withColumn(
            "n_tok",
            F.when(F.col("tokens").isNotNull(), F.size("tokens")).cast(
                types["n_tok"]
            ),
        )
    if "n_tok_lv" in batch.columns and "tokens_lv" in batch.columns:
        batch = batch.withColumn(
            "n_tok_lv",
            F.when(F.col("tokens_lv").isNotNull(), F.size("tokens_lv")).cast(
                types["n_tok_lv"]
            ),
        )
    return batch


def merge_changes(
    target: DataFrame,
    batch: DataFrame,
    key: str | list[str],
    payload_cols: list[str],
    merge_ts: Column,
    mode: str = "broadcast",
    bucket_col: str | None = None,
    delete_mode: str = "hard",
) -> DataFrame:
    """Merge a deduped change batch into the target rows of touched buckets.

    target columns: payload_cols + audit columns (+ bucket_col in shuffle
    mode). batch columns: lsn, op + payload_cols (+ bucket_col), unique per
    key. Returns the new content for the touched buckets (payload + audit,
    + bucket_col when given).

    delete_mode='hard' removes matched 'D' rows; 'soft' keeps them, marking
    dl_iud='D' + dl_delete_ts (reference soft-delete branch,
    etl_operations.py:624-638); a later I/U on a soft-deleted key revives
    it (dl_delete_ts cleared, audit 'U').

    In soft mode the batch may carry *_lv "last-live pre-image" columns
    (built by the engine): a 'D' winner then lands/updates its pre-image as
    a dead row, which makes the soft final state invariant under batching
    (an I followed by D in ONE window equals I in one window, D in the
    next). A target carrying dl_lsn (a ``track_lsn`` table) gets it
    stamped on every row the batch touched.
    """
    soft = delete_mode == "soft"
    track_lsn = AUDIT_LSN in target.columns
    keys = [key] if isinstance(key, str) else list(key)
    non_key = [c for c in payload_cols if c not in keys]
    out_keys = ([bucket_col] if bucket_col else []) + keys
    t = target.alias("t")
    b = normalize_batch(batch).alias("b")

    def rule(has_t):
        return _row_rule(
            has_t=has_t, has_b=F.col("b.op").isNotNull(),
            differs=_changed_predicate(non_key), target=lambda c: F.col(f"t.{c}"),
            out_keys=out_keys, non_key=non_key, merge_ts=merge_ts, soft=soft,
            track_lsn=track_lsn, lv=soft and "_has_lv" in batch.columns,
        )

    if mode == "broadcast":
        key_cond = _and(*[F.col(f"t.{k}") == F.col(f"b.{k}") for k in keys])
        survivors = _project(t.join(F.broadcast(b), key_cond, "left"), *rule(True))
        # inserts: batch keys with no target row. The semi-join result is
        # bounded by the batch size, so both joins stay broadcast — the big
        # target side is streamed, never shuffled.
        matched_keys = target.select(*keys).join(
            F.broadcast(batch.select(*keys)), keys, "left_semi"
        )
        inserts = inserts_only(
            batch.join(F.broadcast(matched_keys), keys, "left_anti"),
            key,
            payload_cols,
            merge_ts,
            bucket_col=bucket_col,
            soft=soft,
            track_lsn=track_lsn,
        )
        return survivors.unionByName(inserts)

    if mode == "shuffle":
        cond = _and(*[F.col(f"t.{k}") == F.col(f"b.{k}") for k in out_keys])
        # hash join (build = batch side), not sort-merge: with co-partitioned
        # inputs this is exchange-free AND sort-free
        joined = t.join(b.hint("shuffle_hash"), cond, "full_outer")
        return _project(joined, *rule(F.col(f"t.{AUDIT_IUD}").isNotNull()))

    raise ValueError(f"unknown merge mode: {mode}")


def inserts_only(
    batch: DataFrame,
    key: str | list[str],
    payload_cols: list[str],
    merge_ts: Column,
    bucket_col: str | None = None,
    soft: bool = False,
    track_lsn: bool = False,
) -> DataFrame:
    """Insert projection (also the fast path when the touched buckets hold
    no target rows yet). In soft mode, a 'D' winner carrying a *_lv
    pre-image is inserted as a dead row (dl_iud='D', dl_delete_ts set);
    under track_lsn one without lands as a null-payload tombstone."""
    keys = [key] if isinstance(key, str) else list(key)
    keep, cols = _row_rule(
        has_t=False, has_b=True, differs=False, target=lambda c: None,
        out_keys=([bucket_col] if bucket_col else []) + keys,
        non_key=[c for c in payload_cols if c not in keys], merge_ts=merge_ts,
        soft=soft, track_lsn=track_lsn, lv=soft and "_has_lv" in batch.columns,
    )
    return _project(normalize_batch(batch).alias("b"), keep, cols)


def mor_outputs(
    batch: DataFrame,
    probe: DataFrame,
    key: str | list[str],
    payload_cols: list[str],
    merge_ts: Column,
    bucket_col: str | None = None,
    delete_mode: str = "hard",
    track_lsn: bool = False,
    preimages: DataFrame | None = None,
) -> DataFrame:
    """Merge-on-read batch output: delta and delete rows in one frame.

    ``batch`` is the LWW-deduped winner set (one row per key; lsn, op,
    payload, optional ``*_lv`` pre-images in soft mode). ``probe`` is the
    NARROW current state — keys + dl_insert_ts, column-pruned — of the
    touched buckets (broadcast whole while they are small) or of just the
    batch's keys (a streamed semi-join), so this function never sees (and
    the caller never pays for) the buckets' full payload; the batch is
    the streamed side of the one join here.

    Audit parity with ``merge_changes`` (the CoW path) through the same
    row rule, with one DOCUMENTED divergence: CoW's per-column change
    detection preserves dl_iud/dl_update_ts when a matched row's content
    is identical — the narrow probe cannot compare payload, so the rule
    runs with every matched upsert counted as changed (stamped 'U' +
    merge_ts). Final payload state is identical either way (the change
    feed, which diffs payload only, emits nothing for a same-value update
    in both modes); incremental exports may re-ship such rows
    (consistent, merely less suppressed).

    Returns one frame, projected once from one join, whose ``_kind``
    column routes each row to its file kind in
    ``LakeTable.write_data_files``: ``'delta'`` rows are upserts;
    ``'delete'`` rows (hard mode only, matched 'D' winners) are
    tombstones that keep the key and carry nulls in every other column.
    Soft-mode deletes are dead ROWS (pre-image + dl_delete_ts), so every
    soft row is a delta, exactly as CoW keeps them;
    ``preimages`` supplies the base pre-image for 'D' winners whose
    window carried no live payload.
    """
    soft = delete_mode == "soft"
    keys = [key] if isinstance(key, str) else list(key)
    non_key = [c for c in payload_cols if c not in keys]
    out_keys = ([bucket_col] if bucket_col else []) + keys

    b = normalize_batch(batch).alias("b")
    p = probe.withColumn("_probe_hit", F.lit(True)).alias("p")
    joined = b.join(p, keys, "left")
    image = {AUDIT_INSERT: F.col(f"p.{AUDIT_INSERT}")}
    if preimages is not None:
        pre = preimages.select(
            *keys, *[F.col(c).alias(f"_pre_{c}") for c in non_key]
        )
        joined = joined.join(pre, keys, "left")
        image.update({c: F.col(f"_pre_{c}") for c in non_key})

    matched = F.coalesce(F.col("_probe_hit"), F.lit(False))
    keep, cols = _row_rule(
        has_t=matched, has_b=True, differs=True, target=image.get,
        out_keys=out_keys, non_key=non_key, merge_ts=merge_ts, soft=soft,
        track_lsn=track_lsn, lv=soft and "_has_lv" in batch.columns,
    )
    if soft:
        return _project(joined, keep, cols, F.lit("delta").alias("_kind"))
    # hard: a delete row per MATCHED 'D' winner (an unmatched one has no
    # row to hide), the key kept and every other column null
    is_del = F.col("b.op") == "D"
    cols = {c: e if c in out_keys else F.when(~is_del, e) for c, e in cols.items()}
    kind = F.when(is_del, F.lit("delete")).otherwise(F.lit("delta"))
    return _project(joined, _or(keep, matched), cols, kind.alias("_kind"))


def driver_merge(
    spark: SparkSession,
    target: list[tuple],
    target_schema: T.StructType,
    batch: list[tuple],
    batch_schema: T.StructType,
    key: str | list[str],
    payload_cols: list[str],
    merge_ts: Column,
    delete_mode: str = "hard",
    track_lsn: bool = False,
) -> DataFrame:
    """Driver-placed merge of collected rows: the new content of the
    touched buckets, as ``merge_changes`` returns it.

    ``target``: the touched buckets' rows; ``batch``: lsn, op and the
    payload, already normalized (``normalize_batch``), at most one event
    per key, so no LWW runs here. Both are tuples in their schema's field
    order. The key join is a dict keyed by the key tuple; its pairs form
    one local frame with struct columns ``t`` and ``b`` (null where that
    side has no row), so the rule's ``t.c``/``b.c`` references resolve as
    in the Spark shapes. No ``*_lv`` images: with one event per key a
    delete winner never has a live image in its window. Without target
    rows the rule folds as in ``inserts_only``.
    """
    keys = [key] if isinstance(key, str) else list(key)
    non_key = [c for c in payload_cols if c not in keys]
    t_idx = [target_schema.names.index(k) for k in keys]
    b_idx = [batch_schema.names.index(k) for k in keys]
    pairs = {tuple(r[i] for i in t_idx): [r, None] for r in target}
    for r in batch:
        k = tuple(r[i] for i in b_idx)
        pair = pairs.setdefault(k, [None, None])
        if pair[1] is not None:
            raise ValueError(f"driver_merge: more than one event for key {k}")
        pair[1] = r
    # a side without a row is a null struct, so no field of it is required;
    # without target rows every pair has its batch row, whose fields keep
    # their nullability (written files then match ``inserts_only``'s)
    whole_b = not target
    joined = local_frame(spark, list(pairs.values()), T.StructType([
        T.StructField("t", T.StructType([
            T.StructField(f.name, f.dataType) for f in target_schema.fields
        ])),
        T.StructField("b", T.StructType([
            f if whole_b else T.StructField(f.name, f.dataType)
            for f in batch_schema.fields
        ]), nullable=not whole_b),
    ]))
    # no target rows: every pair is a batch row, the insert-only shape
    keep, cols = _row_rule(
        has_t=bool(target) and F.col("t").isNotNull(),
        has_b=not target or F.col("b").isNotNull(),
        differs=_changed_predicate(non_key),
        target=lambda c: F.col(f"t.{c}") if target else None,
        out_keys=keys, non_key=non_key, merge_ts=merge_ts,
        soft=delete_mode == "soft", track_lsn=track_lsn, lv=False,
    )
    return _project(joined, keep, cols)
