"""Follower lag / freshness metrics — metadata only, no Spark session.

At fleet scale the first operational question is "how far behind is
everything?" — the reference answers it through its per-table Airflow
task states and the stage timestamps it posts to Kafka/REST
(import_stage.py:592-826); there is no first-class lag surface. This
module is that surface for this engine's follower set:

- the SOURCE table vs its change LOG (ingest lag, in LSN): the log's
  max lsn comes from parquet FOOTER STATS alone (pyarrow metadata — no
  Spark job, no data pages), compared with the table's committed
  watermark;
- each MIRROR / MATVIEW vs the source (replication lag): followers
  record the last applied source VERSION in their own table's
  ``last_lsn`` property (plans/mirror.py:233, plans/matview.py:277), so
  versions-behind is a property read, and the source snapshot the
  follower sits on supplies LSN-behind and seconds-behind;
- each CDC JDBC EXPORT vs the source: the export's ``last_version``
  watermark lives in its statestore JSON (plans/cdc_export.py:_state);
- the HISTORY table vs the source (same-replay lock-step, LSN units).

Everything reads committed metadata (snapshot JSON, table properties,
parquet footers, state JSON) — safe to poll from a monitoring cron at
any frequency, at any table size. Spark is never started.

``seconds_behind`` is commit-time skew: how much older the follower's
source snapshot is than the source's newest commit — 0.0 for a fully
caught-up follower regardless of wall-clock. When the follower's base
snapshot has been expired (possible only if its retention pin was
dropped), the version lag is still exact and the LSN/seconds fields
come back None rather than a guess.
"""

from __future__ import annotations

import os

from dbimport_spark.lake.table import LakeTable
from dbimport_spark.plans.cdc_export import read_export_state

__all__ = ["follower_lag", "log_lsn_bounds", "log_max_lsn", "source_lag"]


def log_lsn_bounds(
    log_path: str, column: str = "lsn"
) -> tuple[int | None, int | None] | None:
    """(min, max) of ``column`` across a parquet change-log directory
    from footer statistics only — Spark-free. Returns ``(None, None)``
    authoritatively for an existing dir with zero parquet files, and
    ``None`` when it CANNOT answer (path missing, column absent, or any
    footer lacks the statistic — never guesses from data pages)."""
    import pyarrow.parquet as pq

    lo: int | None = None
    hi: int | None = None
    if not os.path.isdir(log_path):
        return None
    stack = [log_path]
    while stack:
        d = stack.pop()
        for name in os.listdir(d):
            p = os.path.join(d, name)
            if os.path.isdir(p):
                stack.append(p)
                continue
            if not name.endswith(".parquet") or name.startswith(("_", ".")):
                continue
            md = pq.read_metadata(p)
            idx = next(
                (
                    i
                    for i in range(len(md.schema))
                    if md.schema.column(i).path == column
                ),
                None,
            )
            if idx is None:
                return None
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                if st is None or not st.has_min_max:
                    return None  # stats missing: refuse, don't guess
                mn, mx = int(st.min), int(st.max)
                lo = mn if lo is None else min(lo, mn)
                hi = mx if hi is None else max(hi, mx)
    return (lo, hi)


def log_max_lsn(log_path: str, column: str = "lsn") -> int | None:
    """Max ``lsn`` across a parquet change-log directory from footer
    statistics only. Returns None when the path has no parquet files or
    a footer lacks the statistic (never guesses from data pages)."""
    res = log_lsn_bounds(log_path, column)
    return None if res is None else res[1]


def _lsn_at(source: LakeTable, version: int) -> int | None:
    """The log watermark the source carried at ``version`` (None when
    that snapshot has been expired)."""
    try:
        snap = source.snapshot(version)
    except (KeyError, ValueError, FileNotFoundError):
        return None
    return max(int(snap.properties.get("last_lsn", "-1")), 0)


def _version_lag(source: LakeTable, applied_version: int) -> dict:
    cur = source.current()
    out = {
        "applied_version": applied_version,
        "versions_behind": cur.version - applied_version,
    }
    applied_lsn = _lsn_at(source, applied_version)
    if applied_lsn is None:
        out["lsn_behind"] = None
        out["seconds_behind"] = None
    else:
        out["lsn_behind"] = max(source.last_lsn(), 0) - applied_lsn
        out["seconds_behind"] = round(
            cur.created_unix
            - source.snapshot(applied_version).created_unix,
            3,
        )
    return out


def source_lag(source: LakeTable, log_path: str | None) -> dict:
    """One table's ingest-side record: committed watermark vs log tail."""
    cur = source.current()
    rec: dict = {
        "version": cur.version,
        "last_lsn": max(source.last_lsn(), 0),
        "committed_unix": cur.created_unix,
    }
    if log_path:
        tail = log_max_lsn(log_path)
        rec["log_max_lsn"] = tail
        rec["log_lsn_behind"] = (
            None if tail is None else max(tail - rec["last_lsn"], 0)
        )
    return rec


def follower_lag(
    registry, only: list[str] | None = None, entries: dict | None = None
) -> dict:
    """Per-entry lag report over a ``TableRegistry``:
    ``{name: {"source": {...}, "followers": [{kind, ...lag}, ...]}}``.
    Disabled entries are included (marked) — a disabled table that keeps
    falling behind is exactly what a lag report must show.

    ``entries``: pass a preloaded ``registry.load()`` result to skip the
    registry re-read — a caller looping per table (the /metrics scrape)
    would otherwise re-parse the whole registry N times per pass."""
    if entries is None:
        entries = registry.load()
    missing = [n for n in only or [] if n not in entries]
    if missing:
        raise KeyError(f"not registered: {missing}")
    only_set = set(only) if only is not None else None
    report: dict = {}
    for name, e in entries.items():
        if only_set is not None and name not in only_set:
            continue
        src = LakeTable.load(e.table_root)
        rec: dict = {
            "enabled": e.enabled,
            "source": source_lag(src, e.log_path),
            "followers": [],
        }
        if e.history and LakeTable.exists(e.history):
            # lock-step with replay, LSN units (CDCEngine._commit_tail)
            h_lsn = max(LakeTable.load(e.history).last_lsn(), 0)
            rec["followers"].append(
                {
                    "kind": "history",
                    "root": e.history,
                    "lsn_behind": rec["source"]["last_lsn"] - h_lsn,
                }
            )
        if e.mirror_root and LakeTable.exists(e.mirror_root):
            applied = max(LakeTable.load(e.mirror_root).last_lsn(), 0)
            rec["followers"].append(
                {
                    "kind": "mirror",
                    "root": e.mirror_root,
                    **_version_lag(src, applied),
                }
            )
        for v in e.views:
            root = v.get("root")
            if root and LakeTable.exists(root):
                applied = max(LakeTable.load(root).last_lsn(), 0)
                rec["followers"].append(
                    {"kind": "view", "root": root,
                     **_version_lag(src, applied)}
                )
        for x in e.cdc_exports:
            applied = int(
                read_export_state(registry.store, x["state_dir"])["last_version"]
            )
            rec["followers"].append(
                {
                    "kind": "cdc_export",
                    "target": x["target_table"],
                    **_version_lag(src, applied),
                }
            )
        report[name] = rec
    return report
