"""Per-layer metrics of a traced run, computed from its spans and the
Spark event log. Layer = module of the engine; README.md names the
end-to-end metric and workload each one should move."""

from __future__ import annotations

from stats import median
from tracer import SpanIndex

OPERATOR_SPANS = (
    "operators.dedup_lww", "operators.merge_changes",
    "operators.inserts_only", "operators.mor_outputs",
)


def _mean(values) -> float:
    values = list(values)
    return sum(values) / len(values) if values else 0.0


def _per(total: float, n: int) -> float:
    return total / n if n else 0.0


def layer_metrics(bench, traced, untraced, spans, spark, jvm_peak_rss_mb: float) -> dict:
    """``traced``/``untraced`` are the two timed phases of a traced run;
    ``spans`` its tracer spans, ``spark`` the event log by job group."""
    idx = SpanIndex(spans, spark)
    in_loop = [s for s in spans if s.window is not None]
    nwin = len(traced.windows)
    events = traced.events

    applies = [
        s for s in in_loop
        if s.name == "engine.apply_batch" and s.attrs.get("table") in bench.source_roots
        and not s.attrs.get("skipped")
    ]
    replays = [s for s in in_loop if s.name == "engine.replay"]
    syncs = [s for s in in_loop if s.name == "matview.sync_view"]
    reads = [s for s in in_loop if s.name == "bench.read"]
    compacts = [s for s in in_loop if s.name == "maintenance.compact"]
    probes = [s for s in spans if s.name == "probe.cdf"]
    roots = [s for s in in_loop if s.parent is None]
    nsync = len(syncs)

    def dur(name, under):
        return sum(s.duration for s in idx.under(under, name))

    def attr_sum(name, under, key):
        return sum(s.attrs.get(key, 0) for s in idx.under(under, name))

    apply_wall = sum(a.duration for a in applies)
    current = idx.under(applies, "table.current")
    commits = [s for s in in_loop if s.name == "catalog.commit_version"]

    untraced_spe = untraced.loop_s / untraced.events if untraced.events else 0.0
    traced_spe = traced.loop_s / events if events else 0.0
    events_per_window = _per(events, nwin)

    m = {
        # plans.engine
        "engine.apply_batch.self_s": (_per(sum(idx.self_s(a) for a in applies), nwin), "s/window"),
        "engine.replay.self_s": (_per(sum(idx.self_s(r) for r in replays), nwin), "s/window"),
        "engine.spark_jobs_per_window": (_per(idx.spark_total(applies, "jobs"), nwin), "count/window"),
        "engine.touched_buckets_per_window": (_per(sum(a.attrs.get("touched", 0) for a in applies), nwin), "count/window"),
        "engine.core_busy_ratio": (
            _per(idx.spark_total(applies, "executor_run_s"), apply_wall * bench.cores), "1"
        ),
        # operators
        "operators.plan_build_s": (_per(sum(dur(n, applies) for n in OPERATOR_SPANS), nwin), "s/window"),
        "operators.shuffle_write_bytes_per_event": (
            _per(idx.spark_total(applies, "shuffle_write_bytes"), events), "B/event"
        ),
        "operators.spill_bytes": (_per(idx.spark_total(applies, "spill_disk_bytes"), nwin), "B/window"),
        "operators.merge.rows_out_per_event": (
            _per(sum(a.attrs.get("out_rows", 0) for a in applies), events), "1"
        ),
        # lake.table
        "table.write_data_files.s": (_per(dur("table.write_data_files", applies), nwin), "s/window"),
        "table.write_data_files.bytes": (_per(attr_sum("table.write_data_files", applies, "bytes"), nwin), "B/window"),
        "table.write_data_files.files": (_per(attr_sum("table.write_data_files", applies, "files"), nwin), "count/window"),
        "table.commit.s": (_per(dur("table.commit", applies), nwin), "s/window"),
        "table.current.calls_per_window": (_per(len(current), nwin), "count/window"),
        "table.current.s_per_window": (_per(sum(s.duration for s in current), nwin), "s/window"),
        "table.metadata_bytes": (_mean(w.metadata_bytes for w in traced.windows), "B"),
        "table.live_files": (_mean(w.live_files for w in traced.windows), "count"),
        "table.read.input_bytes": (_per(idx.spark_total(reads, "input_bytes"), len(reads)), "B/read"),
        # lake.catalog
        "catalog.commit_version.s": (_per(dur("catalog.commit_version", applies), nwin), "s/window"),
        "catalog.conflicts": (sum(1 for s in commits if s.error == "CommitConflict"), "count"),
        # lake.cdf
        "cdf.table_changes.s": (_per(dur("cdf.table_changes", syncs), nsync), "s/sync"),
        "cdf.table_changes.rows_out": (_mean(bench.cdf_probe_rows), "rows/sync"),
        "cdf.table_changes.input_bytes": (_per(idx.spark_total(probes, "input_bytes"), len(probes)), "B/sync"),
        # plans.matview
        "matview.sync_view.s": (median([s.duration for s in syncs]) if syncs else 0.0, "s/sync"),
        "matview.sync_view.self_s": (_per(sum(idx.self_s(s) for s in syncs), nsync), "s/sync"),
        "matview.rescanned_groups": (_per(sum(s.attrs.get("rescanned", 0) for s in syncs), nsync), "count/sync"),
        # plans.checkpoint
        "checkpoint.save_plan.s": (_per(dur("checkpoint.save_plan", replays), nwin), "s/window"),
        "checkpoint.load_plan.s": (_per(dur("checkpoint.load_plan", replays), nwin), "s/window"),
        # lake.maintenance
        "maintenance.compact.s": (_per(sum(c.duration for c in compacts), nwin), "s/window"),
        "maintenance.compact.bytes_rewritten": (
            _per(attr_sum("table.write_data_files", compacts, "bytes"), nwin), "B/window"
        ),
        # sources
        "sources.loggen.write_s": (median(bench.setup["log_passes"]), "s"),
        "sources.log_bytes": (bench.setup["log_bytes"], "B"),
        # spark, over every job the traced loop ran
        "spark.executor_run_s": (_per(idx.spark_total(roots, "executor_run_s"), nwin), "s/window"),
        "spark.executor_cpu_s": (_per(idx.spark_total(roots, "executor_cpu_s"), nwin), "s/window"),
        "spark.gc_s": (_per(idx.spark_total(roots, "gc_s"), nwin), "s/window"),
        "spark.tasks": (_per(idx.spark_total(roots, "tasks"), nwin), "count/window"),
        "spark.failed_tasks": (idx.spark_total(roots, "failed_tasks"), "count"),
        "spark.input_bytes": (_per(idx.spark_total(roots, "input_bytes"), nwin), "B/window"),
        "spark.shuffle_read_bytes": (_per(idx.spark_total(roots, "shuffle_read_bytes"), nwin), "B/window"),
        "spark.jvm_peak_rss_mb": (jvm_peak_rss_mb, "MB"),
        # tracing overhead: traced loop against the untraced loop of this run
        "trace.overhead_s_per_window": ((traced_spe - untraced_spe) * events_per_window, "s/window"),
        "trace.overhead_ratio": (_per(traced_spe, untraced_spe) - 1.0 if untraced_spe else 0.0, "1"),
    }
    return m
