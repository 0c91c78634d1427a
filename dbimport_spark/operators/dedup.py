"""Last-writer-wins batch dedup: exactly one surviving event per key.

This is correctness-critical, not an optimization: every merge shape
requires a unique source key per target key (exactly why the reference
pre-dedupes its Flashback imports with a max-SCN-per-PK view, reference
import_config.py:3238-3252, SURVEY.md J6).

The rule, for any input:

- the event with the highest ``order_col`` (the lsn) wins;
- events of one key that share that lsn are settled by the greater
  ``xxhash64`` over the event's other columns (op and the non-key
  payload, in frame order). Identical events hash alike and collapse to
  one row; which of two different events wins depends only on their
  values, never on row order or partitioning.

``key`` may be a list — the engine passes ["_bucket", "doc_id"] in its
bucket-aligned and merge-on-read plans so the grouping is satisfied by the batch's existing
HashPartitioning(_bucket) and the dedup runs WITHOUT its own shuffle
(Catalyst: HashPartitioning(exprs) satisfies ClusteredDistribution(keys)
when exprs ⊆ keys). The key columns are left out of the tie hash, so both
key lists pick the same winner.

Shape: one ``groupBy(key).agg(max_by(struct(*other), struct(lsn, hash)))``.
Where the dedup brings its own exchange (the engine's broadcast plan),
map-side partial aggregation absorbs hot keys. The struct buffer is not
hash-aggregable, so Spark plans a SortAggregate: each partition sorts its
event rows by key. A max-lsn semi-join (a pure-long HashAggregate) sorts
nothing, but keeps every event at the max lsn — two rows for one key on a
tie or an at-least-once duplicate; settling those after it costs a second
aggregation, which measured slower than this one at the benchmark's sizes.
Dedup alone on a 4-core host (local[4], 1M events over 100k keys, 32-128
tokens each, noop sink, median of 5): 2.0 s here, 1.6 s for the
semi-join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def dedup_lww(
    df: DataFrame, key: str | list[str] = "doc_id", order_col: str = "lsn"
) -> DataFrame:
    """Return one row per key: the event with the highest ``order_col``,
    ties settled by the greater hash of the other columns. The output has
    ``df``'s columns, in ``df``'s order."""
    keys = [key] if isinstance(key, str) else list(key)
    rest = [c for c in df.columns if c not in keys]
    tie = F.xxhash64(*[c for c in rest if c != order_col])
    won = df.groupBy(*keys).agg(
        F.max_by(F.struct(*rest), F.struct(order_col, tie)).alias("_w")
    )
    # the keys stay grouping columns, not struct fields, so the output keeps
    # the aggregation's partitioning on them and the shuffle merge's join
    # on (_bucket, key) needs no exchange of its own
    return won.select(
        *[c if c in keys else F.col("_w").getField(c).alias(c) for c in df.columns]
    )
