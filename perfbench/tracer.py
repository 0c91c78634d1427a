"""Spans recorded around calls into the engine's modules, from outside.

The traced run wraps public functions of each layer at run time (the
attribute the caller resolves: ``table_changes`` as bound in
``plans.matview``, ``save_plan``/``load_plan`` as bound in
``plans.engine``, methods on their classes). Each wrapper records a span
(name, start, end, parent, window) in memory and tags the Spark jobs run
inside it with ``setJobGroup(<span group>)``; the Spark event log, turned
on only for the traced run, then attributes executor time, GC, shuffle,
spill, input bytes and failed tasks to spans. Nothing is written until
the run ends.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

from stats import self_time

GROUP_PREFIX = "pb-"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    window: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)
    error: str | None = None

    @property
    def group(self) -> str:
        return f"{GROUP_PREFIX}{self.id}"

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. ``sc`` (a SparkContext) is optional so the
    arithmetic can be tested without a JVM."""

    def __init__(self, sc=None, clock=time.perf_counter):
        self.spans: list[Span] = []
        self.window: int | None = None
        self._sc = sc
        self._clock = clock
        self._stack: list[Span] = []
        self._tagging: list[Span] = []
        self._ids = itertools.count(1)
        self._patches: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, tag_jobs: bool = True, **attrs):
        parent = self._stack[-1].id if self._stack else None
        sp = Span(next(self._ids), name, parent, self.window, self._clock(), attrs=attrs)
        self._stack.append(sp)
        if tag_jobs:
            self._tagging.append(sp)
            self._set_group(sp)
        try:
            yield sp
        except BaseException as e:
            sp.error = type(e).__name__
            raise
        finally:
            sp.end = self._clock()
            self._stack.pop()
            if tag_jobs:
                self._tagging.pop()
                self._set_group(self._tagging[-1] if self._tagging else None)
            self.spans.append(sp)

    def _set_group(self, sp: Span | None) -> None:
        if self._sc is None:
            return
        if sp is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self._sc.setJobGroup(sp.group, sp.name)

    def patch(self, owner, attr: str, name: str, tag_jobs: bool = True,
              on_call=None, on_result=None) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper.
        ``on_call(args, kwargs) -> dict`` and ``on_result(result) -> dict``
        add attributes to the span."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            attrs = on_call(args, kwargs) if on_call else {}
            with tracer.span(name, tag_jobs=tag_jobs, **attrs) as sp:
                out = orig(*args, **kwargs)
                if on_result is not None:
                    sp.attrs.update(on_result(out))
                return out

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def unpatch_all(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)


def install_layer_patches(tracer: Tracer) -> None:
    """Wrap the public entry points of every layer the benchmark reports."""
    from dbimport_spark.lake import catalog, maintenance
    from dbimport_spark.lake.table import LakeTable
    from dbimport_spark.operators import merge
    from dbimport_spark.plans import engine, matview

    def table_root(args, kwargs):
        return {"table": args[0].table.root}

    def batch_stats(bs):
        return {
            "events": bs.events, "touched": bs.touched_buckets,
            "out_rows": bs.out_rows, "out_bytes": bs.out_bytes,
            "rescanned": bs.rescanned_groups, "skipped": bs.skipped,
        }

    def lake_root(args, kwargs):
        return {"table": args[0].root}

    def files_written(files):
        return {"bytes": sum(f.bytes for f in files), "files": len(files)}

    p = tracer.patch
    # plans.engine
    p(engine.CDCEngine, "apply_batch", "engine.apply_batch",
      on_call=table_root, on_result=batch_stats)
    p(engine.CDCEngine, "replay", "engine.replay", on_call=table_root)
    # operators, as bound where the engine resolves them (mor_outputs is
    # imported inside the MoR apply, so from its own module)
    for fn in ("dedup_lww", "merge_changes", "inserts_only"):
        p(engine, fn, f"operators.{fn}")
    p(merge, "mor_outputs", "operators.mor_outputs")
    # lake.table
    p(LakeTable, "write_data_files", "table.write_data_files",
      on_call=lake_root, on_result=files_written)
    p(LakeTable, "commit", "table.commit", tag_jobs=False, on_call=lake_root)
    p(LakeTable, "current", "table.current", tag_jobs=False)
    # lake.catalog
    p(catalog.FileCatalog, "commit_version", "catalog.commit_version", tag_jobs=False)
    # lake.cdf, as bound in plans.matview
    p(matview, "table_changes", "cdf.table_changes")
    # plans.matview: the benchmark calls matview.sync_view through the module
    p(matview, "sync_view", "matview.sync_view", on_result=batch_stats)
    # plans.checkpoint, as bound in plans.engine
    p(engine, "save_plan", "checkpoint.save_plan", tag_jobs=False)
    p(engine, "load_plan", "checkpoint.load_plan", tag_jobs=False)
    # lake.maintenance: the benchmark calls maintenance.compact through the module
    p(maintenance, "compact", "maintenance.compact")


# -- Spark event log ----------------------------------------------------------

SPARK_FIELDS = (
    "jobs", "tasks", "failed_tasks", "executor_run_s", "executor_cpu_s",
    "gc_s", "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes",
    "spill_disk_bytes",
)


def parse_event_log(lines) -> dict[str | None, dict[str, float]]:
    """Sum job and task records of a Spark event log by job group.

    Jobs are counted from ``SparkListenerJobStart``; tasks are attributed
    through the group their stage attempt was submitted under
    (``SparkListenerStageSubmitted`` carries the submitting job's
    properties). Untagged work is keyed by None."""
    stage_group: dict[tuple[int, int], str | None] = {}
    out: dict[str | None, dict[str, float]] = defaultdict(
        lambda: dict.fromkeys(SPARK_FIELDS, 0)
    )
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            out[group]["jobs"] += 1
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            stage_group[(info["Stage ID"], info["Stage Attempt ID"])] = group
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get((ev["Stage ID"], ev["Stage Attempt ID"]))
            rec = out[group]
            rec["tasks"] += 1
            info = ev.get("Task Info") or {}
            reason = (ev.get("Task End Reason") or {}).get("Reason")
            if info.get("Failed") or reason not in (None, "Success"):
                rec["failed_tasks"] += 1
            m = ev.get("Task Metrics") or {}
            rec["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
            rec["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            rec["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            rec["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            rec["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            sw = m.get("Shuffle Write Metrics") or {}
            rec["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            rec["spill_disk_bytes"] += m.get("Disk Bytes Spilled", 0)
    return dict(out)


def read_event_logs(directory: str) -> dict[str | None, dict[str, float]]:
    """Parse every event-log file under ``directory`` (one per application;
    a rolled log is a directory of parts, read in name order)."""
    paths = []
    for root, _dirs, files in os.walk(directory):
        paths += [os.path.join(root, f) for f in files if not f.startswith(".")]

    def lines():
        for path in sorted(paths):
            with open(path) as fh:
                yield from fh

    return parse_event_log(lines())


# -- per-layer aggregation -----------------------------------------------------


class SpanIndex:
    """Parent/child lookups and job-group metrics over a list of spans."""

    def __init__(self, spans: list[Span], spark: dict[str | None, dict[str, float]]):
        self.spans = spans
        self.by_id = {s.id: s for s in spans}
        self.children: dict[int, list[Span]] = defaultdict(list)
        for s in spans:
            if s.parent is not None:
                self.children[s.parent].append(s)
        self.spark = spark

    def descendants(self, sp: Span):
        todo = [sp]
        while todo:
            cur = todo.pop()
            yield cur
            todo.extend(self.children.get(cur.id, ()))

    def self_s(self, sp: Span) -> float:
        kids = [(c.start, c.end) for c in self.children.get(sp.id, ())]
        return self_time(sp.start, sp.end, kids)

    def spark_total(self, roots, fld: str) -> float:
        """Sum a Spark metric over the jobs of ``roots`` and their
        descendants (each span counted once even if roots nest)."""
        seen: set[int] = set()
        total = 0.0
        for r in roots:
            for d in self.descendants(r):
                if d.id in seen:
                    continue
                seen.add(d.id)
                rec = self.spark.get(d.group)
                if rec is not None:
                    total += rec[fld]
        return total

    def under(self, roots, name: str) -> list[Span]:
        """Spans called ``name`` inside ``roots`` (roots included)."""
        seen: set[int] = set()
        out = []
        for r in roots:
            for d in self.descendants(r):
                if d.name == name and d.id not in seen:
                    seen.add(d.id)
                    out.append(d)
        return out
