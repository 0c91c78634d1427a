"""Change-log source: watermark scans + lost-position detection.

Wraps the LSN-ordered log (parquet dir, or any DataFrame-producing source)
with the reference's incremental-read semantics (SURVEY.md S3/P3 and §2.7):

- window scan: strict-greater low bound, inclusive high bound
  (reference import_config.py:2230-2246);
- max-watermark probe (reference getJDBCcolumnMaxValue, A2);
- lost-position detection: if the log has been truncated past the table's
  committed watermark, an incremental read would silently skip changes —
  the reference forces a full reload when
  CHANGE_TRACKING_MIN_VALID_VERSION > incr_maxvalue
  (import_config.py:2493-2517); we raise the same signal;
- watermark repair: re-derive the watermark from the target when state is
  lost (reference resetIncrMaxValue, import_operations.py:3276-3311).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class LogTruncatedError(Exception):
    """The log no longer covers the committed watermark — a full
    re-snapshot is required (reference's forced full reload)."""


class ChangeLogSource:
    def __init__(self, spark: SparkSession, path: str, lsn_col: str = "lsn"):
        self.spark = spark
        self.path = path
        self.lsn_col = lsn_col

    def df(self) -> DataFrame:
        return self.spark.read.parquet(self.path)

    def bounds(self) -> tuple[int | None, int | None]:
        """(min_lsn, max_lsn) present in the log. Footer statistics when
        every file carries them (Spark-free, truly metadata-cheap — the
        Spark agg path reads every lsn data page because parquet
        aggregate pushdown is off by default), else one Spark agg."""
        try:
            from dbimport_spark.plans.lag import log_lsn_bounds

            res = log_lsn_bounds(self.path, self.lsn_col)
            if res is not None:  # authoritative (incl. (None, None) = empty)
                return res
        except Exception:
            pass  # non-local path / stats missing: pay the Spark agg
        row = self.df().agg(
            F.min(self.lsn_col).alias("lo"), F.max(self.lsn_col).alias("hi")
        ).first()
        return row["lo"], row["hi"]

    def window(self, lo: int, hi: int) -> DataFrame:
        """Events with lo < lsn <= hi (watermark semantics, pruned scan)."""
        c = F.col(self.lsn_col)
        return self.df().filter((c > F.lit(lo)) & (c <= F.lit(hi)))

    def check_position(self, committed_lsn: int, allow_gap: bool = False) -> None:
        """Raise LogTruncatedError if the retained log starts after the
        committed watermark + 1 (events would be silently skipped).

        ``allow_gap=True`` is the sparse-LSN escape hatch (mirrors
        ``CDCEngine.replay``'s ``allow_log_gap``): a source whose LSNs
        are non-dense — a sequence shared across tables, a filtered
        stream — legitimately has holes, and the gap between watermark
        and retained minimum proves nothing there.

        HONEST LIMIT: an EMPTY log passes. A parquet dir carries no
        MIN_VALID_VERSION-style metadata, so "every event applied, then
        retired by retention" and "retention deleted unapplied events"
        are indistinguishable here; the streaming path's per-segment
        ledger, and lineage (``repair_watermark_from_lineage``), are the
        surfaces that can still catch the second case."""
        if not allow_gap:
            check_log_gap(self.bounds()[0], committed_lsn)


def check_log_gap(log_lo: int | None, committed: int) -> None:
    """The log-gap rule: a log starting past ``committed + 1`` lost the
    events in between. An empty log and an empty table's watermark pass."""
    if log_lo is not None and committed >= 0 and log_lo > committed + 1:
        raise LogTruncatedError(
            f"log starts at lsn {log_lo} but table watermark is "
            f"{committed}; changes in ({committed}, {log_lo}) are gone — "
            "full re-snapshot required (or allow the gap if this "
            "source's LSN space is legitimately sparse)"
        )


def repair_watermark_from_lineage(table) -> int:
    """Re-derive the committed watermark from retained snapshot lineage —
    the analogue of recovering incr_maxvalue from the target
    (reference import_operations.py:3276-3311). Returns the repaired LSN
    and stamps it back into a new snapshot."""
    best = -1
    for v in table.snapshots():
        for rec in table.snapshot(v).lineage:
            best = max(best, rec.get("last_lsn", -1))
    if best >= 0:
        table.commit([], set(), properties={"last_lsn": str(best)})
    return best
