"""Key-partitioned MERGE with I/U/D routing — the engine's crown jewel.

Semantics mirror the reference's generated ``MERGE INTO`` (reference
etl_operations.py:100-298, SURVEY.md J1/J2/P5):

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

Physical strategies (the part DBImport delegated to Hive/Iceberg and we own):

- ``broadcast`` (steady-state CDC batches): the deduped batch is broadcast;
  the target side is NEVER shuffled — scan only touched buckets, zero
  target exchange, zero sort. Two streams over the pruned target buckets:
  (a) target LEFT JOIN broadcast(batch) applies updates/deletes, (b) a
  broadcast semi/anti pair computes inserts.
- ``shuffle`` (initial loads / huge batches): bucket-aligned co-partitioned
  join. Both sides carry a materialized ``_bucket`` column and are hash-
  partitioned on it; the full-outer join runs on (_bucket, key), which the
  existing HashPartitioning(_bucket) satisfies on both sides — so the join
  itself adds NO exchange and the downstream ``partitionBy(_bucket)`` write
  adds none either. Net data movement: exactly one shuffle of the batch +
  one of the touched target buckets. Pair with
  spark.sql.join.preferSortMergeJoin=false so Spark picks a shuffled-hash
  join and skips both sorts (token arrays make sort spill expensive).

The null-safe per-column diff uses Spark's ``<=>`` (eqNullSafe), which is
native on array columns — token-array change detection stays JVM-side,
no Python in the data path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dbimport_spark.schema import (
    AUDIT_DELETE,
    AUDIT_INSERT,
    AUDIT_IUD,
    AUDIT_LSN,
    AUDIT_UPDATE,
)


def _changed_predicate(payload_cols: list[str]) -> Column:
    """OR-fold of null-safe inequality over every non-key column."""
    pred = F.lit(False)
    for c in payload_cols:
        pred = pred | ~F.col(f"t.{c}").eqNullSafe(F.col(f"b.{c}"))
    return pred


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
    next).
    """
    soft = delete_mode == "soft"
    has_lv = soft and "_has_lv" in batch.columns
    # row-version mode is a TABLE property surfaced by the target carrying
    # dl_lsn: every branch then stamps the batch event's lsn on every row
    # it touched — INCLUDING content-identical matches (audit timestamps
    # stay put there), because a later-but-equal event must still win over
    # an in-between late event on the version comparison
    track_lsn = AUDIT_LSN in target.columns
    keys = [key] if isinstance(key, str) else list(key)
    non_key = [c for c in payload_cols if c not in keys]
    t = target.alias("t")
    b = normalize_batch(batch).alias("b")

    def del_payload(c: str):
        """Payload for a soft-deleted row: batch pre-image, else target."""
        if has_lv:
            return F.coalesce(F.col(f"b.{c}_lv"), F.col(f"t.{c}"))
        return F.col(f"t.{c}")

    if mode == "broadcast":
        bb = F.broadcast(b)
        key_cond = F.lit(True)
        for k in keys:
            key_cond = key_cond & (F.col(f"t.{k}") == F.col(f"b.{k}"))
        joined = t.join(bb, key_cond, "left")
        matched = F.col("b.op").isNotNull()
        is_del = matched & (F.col("b.op") == "D")
        revived = (
            (matched & ~is_del & F.col(f"t.{AUDIT_DELETE}").isNotNull())
            if soft
            else F.lit(False)
        )
        changed = (matched & ~is_del & _changed_predicate(non_key)) | revived
        out_cols = []
        if bucket_col:
            out_cols.append(F.col(f"t.{bucket_col}").alias(bucket_col))
        audit_cols = [
            F.when(is_del, F.lit("D"))
            .when(changed, F.lit("U"))
            .otherwise(F.col(f"t.{AUDIT_IUD}"))
            .alias(AUDIT_IUD),
            F.col(f"t.{AUDIT_INSERT}").alias(AUDIT_INSERT),
            # soft deletes bump the update timestamp too: incremental export
            # filters on dl_update_ts, so tombstones must be visible to it
            F.when(is_del | changed, merge_ts)
            .otherwise(F.col(f"t.{AUDIT_UPDATE}"))
            .alias(AUDIT_UPDATE),
        ]
        if soft:
            audit_cols.append(
                F.when(is_del, merge_ts)
                .when(matched, F.lit(None).cast("timestamp"))
                .otherwise(F.col(f"t.{AUDIT_DELETE}"))
                .alias(AUDIT_DELETE)
            )
        if track_lsn:
            audit_cols.append(
                F.when(matched, F.col("b.lsn"))
                .otherwise(F.col(f"t.{AUDIT_LSN}"))
                .alias(AUDIT_LSN)
            )
        survivors = joined if soft else joined.filter(~is_del)
        survivors = survivors.select(
            *out_cols,
            *[F.col(f"t.{k}").alias(k) for k in keys],
            *[
                F.when(is_del, del_payload(c))
                .when(changed, F.col(f"b.{c}"))
                .otherwise(F.col(f"t.{c}"))
                .alias(c)
                for c in non_key
            ],
            *audit_cols,
        )
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
        join_keys = ([bucket_col] if bucket_col else []) + keys
        cond = F.lit(True)
        for k in join_keys:
            cond = cond & (F.col(f"t.{k}") == F.col(f"b.{k}"))
        # hash join (build = batch side), not sort-merge: with co-partitioned
        # inputs this is exchange-free AND sort-free
        joined = t.join(b.hint("shuffle_hash"), cond, "full_outer")
        has_t = F.col(f"t.{AUDIT_IUD}").isNotNull()
        has_b = F.col("b.op").isNotNull()
        is_del = has_b & (F.col("b.op") == "D")
        revived = (
            (has_t & has_b & ~is_del & F.col(f"t.{AUDIT_DELETE}").isNotNull())
            if soft
            else F.lit(False)
        )
        changed = (has_t & has_b & ~is_del & _changed_predicate(non_key)) | revived
        insert = ~has_t & has_b & ~is_del
        take_b = changed | insert
        out_cols = []
        if bucket_col:
            out_cols.append(
                F.coalesce(F.col(f"t.{bucket_col}"), F.col(f"b.{bucket_col}")).alias(bucket_col)
            )
        # hard: drop matched deletes entirely; soft: keep matched deletes and
        # not-matched deletes that carry a pre-image; drop only pre-image-
        # less not-matched deletes (no row to mark) — EXCEPT in track_lsn
        # mode, where they become null-payload tombstones: dropping them
        # would erase the very version a later late event must lose to
        # (the absent-row ambiguity apply_late exists to avoid).
        if soft and track_lsn:
            keep = F.lit(True)
        elif soft and has_lv:
            keep = ~(is_del & ~has_t & ~F.coalesce(F.col("b._has_lv"), F.lit(False)))
        elif soft:
            keep = ~(is_del & ~has_t)
        else:
            keep = ~is_del
        if soft and track_lsn:
            dead_insert = is_del & ~has_t
        elif has_lv:
            dead_insert = is_del & ~has_t & F.coalesce(
                F.col("b._has_lv"), F.lit(False)
            )
        else:
            dead_insert = F.lit(False)
        audit_cols = [
            F.when(insert, F.lit("I"))
            .when(is_del & (has_t | dead_insert), F.lit("D"))
            .when(changed, F.lit("U"))
            .otherwise(F.col(f"t.{AUDIT_IUD}"))
            .alias(AUDIT_IUD),
            F.when(insert | dead_insert, merge_ts)
            .otherwise(F.col(f"t.{AUDIT_INSERT}"))
            .alias(AUDIT_INSERT),
            # soft deletes bump dl_update_ts (incremental export visibility)
            F.when(insert | changed | (is_del & has_t) | dead_insert, merge_ts)
            .otherwise(F.col(f"t.{AUDIT_UPDATE}"))
            .alias(AUDIT_UPDATE),
        ]
        if soft:
            audit_cols.append(
                F.when((is_del & has_t) | dead_insert, merge_ts)
                .when(has_t & has_b, F.lit(None).cast("timestamp"))
                .otherwise(F.col(f"t.{AUDIT_DELETE}"))
                .alias(AUDIT_DELETE)
            )
        if track_lsn:
            audit_cols.append(
                F.when(has_b, F.col("b.lsn"))
                .otherwise(F.col(f"t.{AUDIT_LSN}"))
                .alias(AUDIT_LSN)
            )
        return joined.filter(keep).select(
            *out_cols,
            *[
                F.coalesce(F.col(f"t.{k}"), F.col(f"b.{k}")).alias(k)
                for k in keys
            ],
            *[
                F.when(is_del, del_payload(c))
                .when(take_b, F.col(f"b.{c}"))
                .otherwise(F.col(f"t.{c}"))
                .alias(c)
                for c in non_key
            ],
            *audit_cols,
        )

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
    pre-image is inserted as a dead row (dl_iud='D', dl_delete_ts set)."""
    has_lv = soft and "_has_lv" in batch.columns
    keys = [key] if isinstance(key, str) else list(key)
    non_key = [c for c in payload_cols if c not in keys]
    out_cols = [F.col(bucket_col)] if bucket_col else []
    is_del = F.col("op") == "D"
    if has_lv:
        # track_lsn keeps pre-image-less 'D' winners as null-payload
        # tombstones (their dl_lsn is what gates later late events)
        keep = (
            F.lit(True)
            if track_lsn
            else (~is_del | F.coalesce(F.col("_has_lv"), F.lit(False)))
        )
        payload = [
            F.when(is_del, F.col(f"{c}_lv")).otherwise(F.col(c)).alias(c)
            for c in non_key
        ]
        audit_cols = [
            F.when(is_del, F.lit("D")).otherwise(F.lit("I")).alias(AUDIT_IUD),
            merge_ts.alias(AUDIT_INSERT),
            merge_ts.alias(AUDIT_UPDATE),
            F.when(is_del, merge_ts).cast("timestamp").alias(AUDIT_DELETE),
        ]
    elif soft and track_lsn:
        # no *_lv columns, but track_lsn 'D' winners must STILL land as
        # null-payload tombstones — merge_changes' shuffle branch keeps
        # them unconditionally, and dropping them here (the old ~is_del)
        # would erase the very dl_lsn a later late event has to lose to:
        # the absent-row ambiguity apply_late exists to prevent, and a
        # silent divergence between two modes documented as identical
        keep = F.lit(True)
        payload = [
            F.when(is_del, F.lit(None)).otherwise(F.col(c))
            .cast(batch.schema[c].dataType).alias(c)
            for c in non_key
        ]
        audit_cols = [
            F.when(is_del, F.lit("D")).otherwise(F.lit("I")).alias(AUDIT_IUD),
            merge_ts.alias(AUDIT_INSERT),
            merge_ts.alias(AUDIT_UPDATE),
            F.when(is_del, merge_ts).cast("timestamp").alias(AUDIT_DELETE),
        ]
    else:
        keep = ~is_del
        payload = [F.col(c) for c in non_key]
        audit_cols = [
            F.lit("I").alias(AUDIT_IUD),
            merge_ts.alias(AUDIT_INSERT),
            merge_ts.alias(AUDIT_UPDATE),
        ]
        if soft:
            audit_cols.append(F.lit(None).cast("timestamp").alias(AUDIT_DELETE))
    if track_lsn:
        audit_cols.append(F.col("lsn").alias(AUDIT_LSN))
    return (
        normalize_batch(batch)
        .filter(keep)
        .select(
            *out_cols,
            *keys,
            *payload,
            *audit_cols,
        )
    )


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
    NARROW current state of the batch's keys — keys + dl_insert_ts
    (+ dl_delete_ts in soft mode), built from a column-pruned streamed
    semi-join against the touched buckets, so this function never sees
    (and the caller never pays for) the buckets' full payload. Both
    inputs are batch-sized; every join here is small-against-small.

    Audit parity with ``merge_changes`` (the CoW path), with one
    DOCUMENTED divergence: CoW's per-column change detection preserves
    dl_iud/dl_update_ts when a matched row's content is identical — the
    narrow probe cannot compare payload, so a matched upsert always
    stamps 'U' + merge_ts. Final payload state is identical either way
    (the change feed, which diffs payload only, emits nothing for a
    same-value update in both modes); incremental exports may re-ship
    such rows (consistent, merely less suppressed).

    Returns one frame, projected once from one join, whose ``_kind``
    column routes each row to its file kind in
    ``LakeTable.write_data_files``: ``'delta'`` rows are upserts;
    ``'delete'`` rows (hard mode only, matched 'D' winners) are
    tombstones that keep the key and carry nulls in every other column.
    Soft-mode deletes are dead ROWS (pre-image + dl_delete_ts), so every
    soft row is a delta, exactly like the CoW soft branch;
    ``preimages`` supplies the base pre-image for 'D' winners whose
    window carried no live payload.
    """
    soft = delete_mode == "soft"
    keys = [key] if isinstance(key, str) else list(key)
    non_key = [c for c in payload_cols if c not in keys]
    has_lv = soft and "_has_lv" in batch.columns

    b = normalize_batch(batch).alias("b")
    p = probe.withColumn("_probe_hit", F.lit(True)).alias("p")
    joined = b.join(p, keys, "left")
    if preimages is not None:
        pre = preimages.select(
            *keys, *[F.col(c).alias(f"_pre_{c}") for c in non_key]
        )
        joined = joined.join(pre, keys, "left")

    matched = F.coalesce(F.col("_probe_hit"), F.lit(False))
    is_del = F.col("b.op") == "D"

    def del_payload(c: str):
        src = (
            F.coalesce(F.col(f"b.{c}_lv"), F.col(f"_pre_{c}"))
            if preimages is not None and has_lv
            else (
                F.col(f"b.{c}_lv")
                if has_lv
                else (
                    F.col(f"_pre_{c}")
                    if preimages is not None
                    else F.lit(None)
                )
            )
        )
        return src

    out_cols = [F.col(f"b.{bucket_col}").alias(bucket_col)] if bucket_col else []
    payload = [
        F.when(is_del, del_payload(c)).otherwise(F.col(f"b.{c}")).alias(c)
        for c in non_key
    ]
    audit = {
        AUDIT_IUD: F.when(is_del, F.lit("D"))
        .when(matched, F.lit("U"))
        .otherwise(F.lit("I")),
        AUDIT_INSERT: F.when(matched, F.col(f"p.{AUDIT_INSERT}")).otherwise(
            merge_ts
        ),
        AUDIT_UPDATE: merge_ts,
    }
    if soft:
        audit[AUDIT_DELETE] = (
            F.when(is_del, merge_ts).otherwise(F.lit(None)).cast("timestamp")
        )
    if track_lsn:
        audit[AUDIT_LSN] = F.col("b.lsn")

    if soft:
        # dead rows ride as deltas; drop only pre-image-less NOT-MATCHED
        # deletes (no row to mark) — except in track_lsn mode, where they
        # become null-payload tombstones (the version a later late event
        # must lose to), mirroring the CoW shuffle branch
        if track_lsn:
            keep = F.lit(True)
        elif has_lv:
            keep = ~is_del | matched | F.coalesce(F.col("_has_lv"), F.lit(False))
        else:
            keep = ~is_del | matched
        kind = F.lit("delta")
    else:
        # a delete row per MATCHED 'D' winner (an unmatched one has no row
        # to hide); its audit columns are null like its payload
        keep = ~is_del | matched
        kind = F.when(is_del, F.lit("delete")).otherwise(F.lit("delta"))
        audit = {c: F.when(~is_del, e) for c, e in audit.items()}
    return joined.filter(keep).select(
        *out_cols,
        *[F.col(f"b.{k}").alias(k) for k in keys],
        *payload,
        *[e.alias(c) for c, e in audit.items()],
        kind.alias("_kind"),
    )
