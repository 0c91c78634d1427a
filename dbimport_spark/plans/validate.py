"""Validation: row-count + content reconciliation (reference parity).

The reference validates every import by (a) row-count reconciliation with a
tolerance (import_config.py:2728-2844, auto formula at 2807) and (b) custom
SQL run on both sides and compared (import_config.py:2257-2284). Here:

- ``fold_expected``   — the last-writer-wins fold over the change log,
  computed IN SPARK (scales with the log; the pandas oracle in tests/ is
  the independent small-scale check).
- ``content_checksum``— order-insensitive XOR of per-row hashes over the
  payload columns: token-array equality rides ``xxhash64`` natively on
  arrays, JVM-side, overflow-free (no sum). Equal checksums + equal counts
  ⇒ converged (exact anti-join diff is used at test scale).
- ``rowcount_tolerance`` — the reference's auto tolerance formula,
  kept for parity; our tests assert the strict case diff=0.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def fold_expected(
    changes: DataFrame, key: str = "doc_id", payload_cols: list[str] | None = None
) -> DataFrame:
    """Expected final table state: LWW fold over the whole log.

    The same order as the engine's ``operators/dedup.dedup_lww``, written
    independently of it (a window rank, not an aggregation), so checks
    against this fold compare two implementations: highest lsn first, then
    the greater xxhash64 over op and the non-key payload (the log's
    columns without key, lsn and commit_ts, which the engine's dedup input
    does not carry)."""
    tie = [c for c in changes.columns if c not in (key, "lsn", "commit_ts")]
    rank = Window.partitionBy(key).orderBy(
        F.col("lsn").desc(), F.xxhash64(*tie).desc()
    )
    winners = (
        changes.withColumn("_rank", F.row_number().over(rank))
        .filter(F.col("_rank") == 1)
        .drop("_rank")
    )
    live = winners.filter(F.col("op") != "D")
    if "tokens" in live.columns:
        live = live.withColumn(
            "n_tok", F.when(F.col("tokens").isNotNull(), F.size("tokens"))
        )
    cols = payload_cols or [c for c in live.columns if c not in ("lsn", "op", "commit_ts")]
    return live.select(*cols)


def content_checksum(df: DataFrame, cols: list[str]) -> int:
    """Order-insensitive content checksum: decimal SUM of xxhash64 over
    rows, folded with the row count. Sum, not XOR — under XOR any row
    repeated an even number of times contributes NOTHING, so
    ``{A, A, C}`` and ``{B, B, C}`` collide at equal counts (a duplicate
    + a drop reconciling as converged). The decimal(38) accumulator
    cannot overflow below ~10^18 rows."""
    row = df.select(
        F.xxhash64(*[F.col(c) for c in cols]).cast("decimal(38,0)").alias("h")
    )
    out = row.agg(F.sum("h").alias("s"), F.count(F.lit(1)).alias("n")).first()
    return int(out["s"] or 0) + out["n"]


def _align_types(actual: DataFrame, expected: DataFrame, cols: list[str]):
    """Cast each compared column of ``expected`` to ``actual``'s type:
    xxhash64 is TYPE-sensitive (int32 vs int64 of the same value hash
    differently), so a widened table column vs the fold's original type
    would reconcile as diverged on byte-correct content."""
    a_types = {f.name: f.dataType for f in actual.schema.fields}
    return expected.select(
        *[
            F.col(c).cast(a_types[c]).alias(c)
            if c in a_types and expected.schema[c].dataType != a_types[c]
            else F.col(c)
            for c in cols
        ]
    )


def reconcile(
    actual: DataFrame, expected: DataFrame, cols: list[str]
) -> dict:
    """Row-count + checksum reconciliation over the given columns."""
    expected = _align_types(actual, expected.select(*cols), cols)
    a_n = actual.count()
    e_n = expected.count()
    a_c = content_checksum(actual.select(*cols), cols)
    e_c = content_checksum(expected.select(*cols), cols)
    return {
        "rows_actual": a_n,
        "rows_expected": e_n,
        "rowcount_ok": a_n == e_n,
        "checksum_ok": a_c == e_c,
        "converged": a_n == e_n and a_c == e_c,
    }


def reconcile_incremental(
    actual: DataFrame,
    changes: DataFrame,
    lo: int,
    hi: int,
    key: str = "doc_id",
    payload_cols: list[str] | None = None,
) -> dict:
    """Incremental-window validation (reference ``incr_validation_method``,
    configSchema.py:726): reconcile only the keys TOUCHED by the window
    (lo, hi] instead of the whole table — the per-batch sanity check that
    stays cheap when the table is 10^4x the batch.

    expected(k) = LWW fold of the log UP TO hi, restricted to touched keys
    (events past hi may exist in the log but are not yet applied).
    """
    if payload_cols is not None and key not in payload_cols:
        payload_cols = [key] + list(payload_cols)  # semi-joins need the key
    window_keys = (
        changes.filter((F.col("lsn") > lo) & (F.col("lsn") <= hi))
        .select(key)
        .distinct()
        # consumed by three jobs (two semi-joins + the count) — materialize
        # once instead of re-scanning the log each time
        .localCheckpoint(eager=True)
    )
    expected = fold_expected(
        changes.filter(F.col("lsn") <= hi), key=key, payload_cols=payload_cols
    ).join(F.broadcast(window_keys), key, "left_semi")
    cols = payload_cols or [c for c in expected.columns]
    actual_w = actual.join(F.broadcast(window_keys), key, "left_semi")
    out = reconcile(actual_w.select(*cols), expected, cols)
    out["scope"] = {"lo": lo, "hi": hi, "keys": window_keys.count()}
    return out


def diff_rows(actual: DataFrame, expected: DataFrame, cols: list[str]) -> DataFrame:
    """Exact symmetric difference (test-scale): rows in one side only."""
    a = actual.select(*cols)
    e = expected.select(*cols)
    return a.exceptAll(e).withColumn("_side", F.lit("actual")).unionByName(
        e.exceptAll(a).withColumn("_side", F.lit("expected"))
    )


def custom_query_check(
    spark, query: str, source: DataFrame, target: DataFrame, view: str = "t",
    max_rows: int = 10_000,
) -> dict:
    """Reference A5: run the SAME user SQL against source and target and
    compare the collected results (import_config.py:2257-2284, 2362-2387;
    executed at import_operations.py:275-328). The query must reference the
    data as view ``t``. Results are user aggregates by contract; the
    ``max_rows`` cap defends the driver against a query that is
    accidentally a table scan."""

    def run_capped(df: DataFrame) -> list[tuple]:
        df.createOrReplaceTempView(view)
        rows = [tuple(r) for r in spark.sql(query).limit(max_rows + 1).collect()]
        if len(rows) > max_rows:
            raise ValueError(
                f"custom validation query returned more than {max_rows} "
                "rows — it must aggregate, not scan (reference A5 contract)"
            )
        return rows

    src_rows = run_capped(source)
    tgt_rows = run_capped(target)
    return {
        "source": src_rows,
        "target": tgt_rows,
        "match": sorted(map(repr, src_rows)) == sorted(map(repr, tgt_rows)),
    }


def rowcount_tolerance(rows: int, allowed: int | None = None) -> float:
    """Reference auto tolerance: rows * (50 / (100 * sqrt(rows)))
    (import_config.py:2803-2810); explicit override wins."""
    if allowed is not None:
        return float(allowed)
    if rows <= 0:
        return 0.0
    return rows * (50.0 / (100.0 * math.sqrt(rows)))


def validate_rowcount(actual: int, expected: int, allowed: int | None = None) -> bool:
    return abs(actual - expected) <= rowcount_tolerance(expected, allowed)


# -- pre-commit batch validation (write-audit-publish) -------------------------
#
# The reference imports into a STAGING table, runs validation (rowcount vs
# source with tolerance, custom queries — import_operations.py validate
# stages 1050/3505, import_config.py:2750-2900), and only then publishes to
# the target. This lake format gets the same property for free: data files
# are invisible until the metadata commit, so validators run between the
# write and the commit — a rejection deletes the staged files and leaves
# the table (and its watermark) byte-untouched for a retry after the fix.
#
# A validator is ``callable(staged_df, info) -> None`` that raises
# ``ValidationFailed`` to reject. ``staged_df`` is the batch's staged
# output read back from the just-written (uncommitted) files — LAZY, so
# metadata-only validators (reading just ``info``) cost zero Spark jobs.
# ``info`` carries lo/hi/mode/events/deletes/touched_buckets/out_rows/
# out_bytes/prev_rows (live rows previously in the touched buckets).


class ValidationFailed(Exception):
    """A pre-commit validator rejected the staged batch."""


def max_delete_fraction(frac: float):
    """Reject a batch whose delete events exceed ``frac`` of the touched
    buckets' previous rows — the classic truncated-upstream guard (a source
    table accidentally emptied must not cascade into the lake)."""

    def v(staged, info) -> None:
        prev = info.get("prev_rows") or 0
        if prev and info.get("deletes", 0) > frac * prev:
            raise ValidationFailed(
                f"batch ({info['lo']}, {info['hi']}] deletes "
                f"{info['deletes']} of {prev} previous rows in the touched "
                f"buckets (> {frac:.0%}) — refusing to publish; override "
                "by raising the fraction if the mass delete is intended"
            )

    return v


def staged_rowcount(expected_rows, allowed: int | None = None):
    """Staged output rowcount within the reference tolerance of
    ``expected_rows`` (a number, or a callable of ``info``)."""

    def v(staged, info) -> None:
        exp = expected_rows(info) if callable(expected_rows) else expected_rows
        n = staged.count()
        if not validate_rowcount(n, exp, allowed):
            raise ValidationFailed(
                f"staged rowcount {n} outside tolerance of expected {exp} "
                f"(allowed diff {rowcount_tolerance(exp, allowed):.1f})"
            )

    return v


def staged_not_null(cols: list[str]):
    """Reject when any staged row carries NULL in the given columns — the
    reference's most common custom validation query."""

    def v(staged, info) -> None:
        from pyspark.sql import functions as F

        pred = F.lit(False)
        for c in cols:
            pred = pred | F.col(c).isNull()
        bad = staged.filter(pred).count()
        if bad:
            raise ValidationFailed(
                f"{bad} staged row(s) carry NULL in {cols}"
            )

    return v
