"""The three CDC ingest workloads, their correctness gate and their metrics.

Every workload is a closed loop with one writer, matching the engine's
single-writer-per-table commit model: the next LSN window is applied only
after the previous commit and its follow-ups (follower sync, full-payload
read, scheduled compaction) have finished. All input is one change log
built in set-up by ``sources.loggen.generate_changes`` + ``write_changes``
from the workload seed; the engine only ever receives that parquet log.

Why these workloads (incremental versus recompute, and both of the
engine's write modes on the same windows):

- ``bulk_replay``: catch-up / initial load. The whole log is replayed into
  an empty table through ``CDCEngine.replay`` with a checkpoint dir, one
  LSN window per call (``stop_after=1``; each later call resumes from the
  saved plan), and a full-payload read follows each commit. The first
  window is insert-only, the rest are bucket-aligned shuffle merges: log
  scan, shuffle dedup, shuffle merge and ``write_data_files``. No follower
  view exists.
- ``steady_cow``: freshness path. Small windows through ``apply_batch``
  in copy-on-write mode (broadcast merge, every touched bucket rewritten),
  each followed by one follower ``sync_view`` and one full-payload read.
  Bound by per-window fixed costs: stats aggregate, job count, snapshot
  metadata, CoW rewrites, change feed and view merge.
- ``steady_mor``: the same windows in merge-on-read mode with compaction
  on a fixed window schedule. The same layers used the opposite way:
  appends are cheap, reconciled reads and feeds are expensive, and the
  cost grows with delta files until compaction folds them.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
import traceback
from contextlib import nullcontext
from dataclasses import asdict, dataclass, field

from stats import median, summarize

# -- sizes -------------------------------------------------------------------
# One generator configuration for every workload: 32-128 tokens per event,
# 10% of events on the hottest 1% of keys, 60/30/10 insert/update/delete.
# Sizes are small because per-window fixed costs (Spark jobs, planning,
# metadata) dominate at any size a 4-core host can replay in seconds, and
# every run must fit the benchmark's time budget.
TOKENS_MIN, TOKENS_MAX = 32, 128
HOT_KEY_FRACTION, HOT_EVENT_FRACTION = 0.01, 0.10
LOG_FILES = 4

BULK_EVENTS = 60_000      # events replayed per replay
BULK_KEYS = 6_000
BULK_BUCKETS = 32
BULK_WINDOWS = 3          # LSN windows per replay: one insert-only, two merges

STEADY_PRELOAD = 20_000   # events folded into the table during set-up
STEADY_KEYS = 4_000
STEADY_BUCKETS = 16
WINDOW_EVENTS = 5_000     # events per steady window

SETUP_PASSES = 3          # log generations per run; setup_s takes the median
READS_PER_COMMIT = 3      # full-payload scans after each commit; p50 over all
VIEW_BUCKETS = 4

WORKLOADS = ("bulk_replay", "steady_cow", "steady_mor")


def view_spec():
    from dbimport_spark.plans.matview import AggSpec

    return AggSpec(
        group_cols=["source"], sum_cols=["n_tok"],
        min_cols=["n_tok"], max_cols=["n_tok"],
    )


@dataclass
class Window:
    """One point of the per-window series printed with every run."""

    phase: str            # "warmup" | "timed" | "traced"
    index: int
    lo: int
    hi: int
    events: int = 0
    apply_s: float = 0.0
    sync_s: float | None = None
    read_s: float = 0.0
    compact_s: float | None = None
    live_files: int = 0
    metadata_bytes: int = 0


@dataclass
class Phase:
    """One timed loop: its clock, windows and samples."""

    name: str
    loop_s: float = 0.0
    events: int = 0
    bytes_written: int = 0
    # (table, version before the loop): data bytes are summed after the loop
    tables: list = field(default_factory=list)
    apply_s: list[float] = field(default_factory=list)
    sync_s: list[float] = field(default_factory=list)
    read_s: list[float] = field(default_factory=list)
    windows: list[Window] = field(default_factory=list)


class Bench:
    """State of one benchmark run: inputs, tables, counters, samples."""

    def __init__(self, spark, work: str, workload: str, seed: int,
                 seconds: float, cores: int):
        if workload not in WORKLOADS:
            raise ValueError(f"unknown workload {workload!r}")
        self.spark = spark
        self.work = work
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.cores = cores
        self.attempted = 0
        self.failed = 0
        self.gate: dict[str, object] = {}
        self.setup: dict[str, float] = {}
        self.phases: list[Phase] = []
        self.tracer = None
        self.cdf_probe_rows: list[int] = []
        self.replays: list = []  # bulk: the table of each timed replay
        self._paused = 0.0  # probe time inside a loop, kept off its clock
        self.source_roots: set[str] = set()
        self.log_path = os.path.join(work, "log")
        self.spec = view_spec()
        self.steady = workload != "bulk_replay"
        self.mode = {"steady_cow": "cow", "steady_mor": "mor"}.get(workload)
        self._n = 0
        self.next_lo = 0

    # -- helpers -------------------------------------------------------------

    def _span(self, name: str):
        return self.tracer.span(name) if self.tracer else nullcontext()

    def _op(self, fn, *args, **kwargs):
        """Run one counted operation. A raised exception counts as failed,
        is reported on stderr and re-raised to end the loop."""
        self.attempted += 1
        try:
            return fn(*args, **kwargs)
        except Exception:
            self.failed += 1
            traceback.print_exc(file=sys.stderr)
            raise

    def _path(self, name: str) -> str:
        self._n += 1
        return os.path.join(self.work, f"{name}-{self._n}")

    def _timed(self, fn, *args, **kwargs):
        t = time.perf_counter()
        out = self._op(fn, *args, **kwargs)
        return out, time.perf_counter() - t

    # -- set-up --------------------------------------------------------------

    def log_events(self, traced: bool) -> int:
        if not self.steady:
            return BULK_EVENTS
        # the warm-up window plus, per timed loop, more windows than the loop
        # can run at any plausible speed; a loop that runs out of log stops
        loops = 2 if traced else 1
        windows = 1 + loops * (2 + int(self.seconds) // 2)
        return STEADY_PRELOAD + windows * WINDOW_EVENTS

    def write_log(self, path: str, n_events: int) -> None:
        from dbimport_spark.sources.loggen import generate_changes, write_changes

        keys = STEADY_KEYS if self.steady else BULK_KEYS
        write_changes(
            generate_changes(
                self.spark, n_events, n_keys=keys, seed=self.seed,
                tokens_min=TOKENS_MIN, tokens_max=TOKENS_MAX,
                hot_key_fraction=HOT_KEY_FRACTION,
                hot_event_fraction=HOT_EVENT_FRACTION,
                num_partitions=LOG_FILES,
            ),
            path, presorted=True,
        )

    def set_up(self, traced: bool) -> None:
        """Build the log SETUP_PASSES times (same seed, same bytes) and keep
        the last; then the workload's one-time set-up and its warm-up."""
        n_events = self.log_events(traced)
        passes = []
        for i in range(SETUP_PASSES):
            path = self.log_path if i == SETUP_PASSES - 1 else self._path("logpass")
            _, dt = self._timed(self.write_log, path, n_events)
            passes.append(dt)
            if path != self.log_path:
                shutil.rmtree(path, ignore_errors=True)
        self.setup["log_pass_s"] = median(passes)
        self.setup["log_passes"] = passes
        self.setup["log_bytes"] = dir_bytes(self.log_path)
        self.setup["log_events"] = n_events
        self.changes = self.spark.read.parquet(self.log_path)
        t = time.perf_counter()
        if self.steady:
            self._preload()
        self.setup["preload_s"] = time.perf_counter() - t
        t = time.perf_counter()
        self._warm_up()
        self.setup["warmup_s"] = time.perf_counter() - t

    def _preload(self) -> None:
        """Steady workloads: fold the log's first STEADY_PRELOAD events into
        a fresh table (one insert-only replay window). The follower view
        bootstraps in the warm-up window's sync."""
        from pyspark.sql import functions as F

        from dbimport_spark.plans.engine import CDCEngine
        from dbimport_spark.plans.matview import create_view

        self.table = CDCEngine.create_table(self._path("table"), num_buckets=STEADY_BUCKETS)
        view = create_view(self._path("view"), self.table, self.spec, num_buckets=VIEW_BUCKETS)
        self.view_engine = CDCEngine(self.spark, view)
        self.source_roots.add(self.table.root)
        pre = self.changes.filter(F.col("lsn") <= STEADY_PRELOAD)
        self._op(
            CDCEngine(self.spark, self.table, checkpoint_dir=self._path("ckpt")).replay,
            pre, num_batches=1,
        )
        self.engine = CDCEngine(self.spark, self.table, write_mode=self.mode)
        self.next_lo = STEADY_PRELOAD

    def _warm_up(self) -> None:
        """Untimed, counted in setup_s: the timed loop's code paths on real
        data. Steady: one window on the preloaded table (apply, sync, read;
        MoR also compacts), whose sync bootstraps the view. Bulk: the loop's
        replay into a throw-away table, with its reads (a shorter one left
        the JVM visibly warming through the first timed replay)."""
        warm = Phase("warmup")
        self.phases.append(warm)
        if self.steady:
            self._steady_window(warm)
        else:
            self._replay(warm, self.changes, keep=False)

    # -- the loops -----------------------------------------------------------

    def run_loop(self, name: str) -> Phase:
        """Closed loop for ``seconds``: whole units (one steady window with
        its follow-ups, or one bulk replay) until the clock runs out; the
        unit in flight is finished, so every unit has the same shape."""
        ph = Phase(name)
        self.phases.append(ph)
        if self.steady:
            ph.tables.append((self.table, self.table.current().version))
        self._paused = 0.0
        t0 = time.perf_counter()
        try:
            while time.perf_counter() - t0 - self._paused < self.seconds:
                if self.steady:
                    if not self._steady_window(ph):
                        break
                else:
                    self._replay(ph, self.changes, keep=True)
        finally:
            ph.loop_s = time.perf_counter() - t0 - self._paused
        ph.bytes_written = sum(bytes_written(t, v) for t, v in ph.tables)
        return ph

    def _read(self, ph: Phase, table) -> float:
        """Full-payload scans after a commit (READS_PER_COMMIT in a timed
        loop, one in warm-up); returns their median. Each decodes ``tokens``
        and checks sum(size(tokens)) == sum(n_tok) over the live rows."""
        from pyspark.sql import functions as F

        def scan():
            with self._span("bench.read"):
                row = table.read(self.spark).agg(
                    F.count(F.lit(1)).alias("rows"),
                    F.sum(F.size("tokens")).alias("tok"),
                    F.sum("n_tok").alias("ntok"),
                ).first()
            if row["tok"] != row["ntok"]:
                raise AssertionError(f"read: sum(size(tokens)) {row['tok']} != sum(n_tok) {row['ntok']}")
            return row

        reads = 1 if ph.name == "warmup" else READS_PER_COMMIT
        times = [self._timed(scan)[1] for _ in range(reads)]
        ph.read_s.extend(times)
        return median(times)

    def _sync(self) -> float:
        from dbimport_spark.plans import matview

        self._last_sync_from = max(self.view_engine.table.last_lsn(), 0)
        _, dt = self._timed(matview.sync_view, self.spark, self.table, self.view_engine, self.spec)
        return dt

    def _steady_window(self, ph: Phase) -> bool:
        """One window applied, then the follower sync and the reads;
        steady_mor then compacts every bucket holding more than one file.
        False when the log has no room for another window."""
        from pyspark.sql import functions as F

        from dbimport_spark.lake import maintenance

        lo, hi = self.next_lo, self.next_lo + WINDOW_EVENTS
        if hi > self.setup["log_events"]:
            return False
        w = Window(ph.name, len(ph.windows), lo, hi)
        self._set_window(w.index)
        with self._span("bench.window"):
            batch = self.changes.filter((F.col("lsn") > lo) & (F.col("lsn") <= hi))
            bs, w.apply_s = self._timed(self.engine.apply_batch, batch, lo, hi)
            w.events = bs.events
            w.sync_s = self._sync()
            w.read_s = self._read(ph, self.table)
            self.next_lo = hi
            # the layout the window's reads saw, before compaction
            self._finish_window(ph, w, self.table)
            if self.mode == "mor":
                _, w.compact_s = self._timed(
                    maintenance.compact, self.spark, self.table, max_files_per_bucket=1
                )
        self._set_window(None)
        self._probe()
        ph.apply_s.append(w.apply_s)
        ph.sync_s.append(w.sync_s)
        return True

    def _replay(self, ph: Phase, changes, keep: bool) -> None:
        """One full replay into a fresh table, one LSN window per
        ``replay`` call (each resumes from the checkpointed plan), with a
        full-payload read after every commit."""
        from dbimport_spark.plans.engine import CDCEngine

        table = CDCEngine.create_table(self._path("table"), num_buckets=BULK_BUCKETS)
        if keep:
            self.source_roots.add(table.root)
            self.replays.append(table)
            ph.tables.append((table, 0))
        eng = CDCEngine(self.spark, table, checkpoint_dir=self._path("ckpt"))
        for _ in range(BULK_WINDOWS):
            w = Window(ph.name, len(ph.windows), 0, 0)
            self._set_window(len(ph.windows))
            with self._span("bench.window"):
                st, w.apply_s = self._timed(eng.replay, changes, num_batches=BULK_WINDOWS, stop_after=1)
                bs = st.batch_stats[-1]
                w.lo, w.hi, w.events = bs.lo, bs.hi, bs.events
                w.read_s = self._read(ph, table)
            self._set_window(None)
            self._finish_window(ph, w, table)
            ph.apply_s.append(w.apply_s)
        if not keep:
            shutil.rmtree(table.root, ignore_errors=True)

    def _set_window(self, index: int | None) -> None:
        if self.tracer:
            self.tracer.window = index

    def _finish_window(self, ph: Phase, w: Window, table) -> None:
        snap = table.current()
        w.live_files = len(snap.files)
        w.metadata_bytes = os.path.getsize(
            os.path.join(table.root, "metadata", f"v{snap.version}.json")
        )
        ph.events += w.events
        ph.windows.append(w)

    def _probe(self) -> None:
        """Traced runs only, off the loop clock: count the change feed the
        last follower sync consumed, so the trace can report its rows and
        scanned bytes (sync_view itself never materializes the feed)."""
        if self.tracer is None:
            return
        from dbimport_spark.lake.cdf import table_changes

        t = time.perf_counter()
        spec = self.spec
        with self.tracer.span("probe.cdf"):
            n = table_changes(
                self.spark, self.table, self._last_sync_from, self.table.current().version,
                include_preimage=True,
                compare_cols=sorted(set(spec.group_cols) | set(spec.sum_cols) | set(spec.minmax_cols())),
            ).count()
        self.cdf_probe_rows.append(n)
        self._paused += time.perf_counter() - t

    # -- correctness gate ----------------------------------------------------

    def check(self) -> bool:
        """Outside the timed loop: every table the run kept must equal the
        LWW fold of the log prefix it applied, and the follower view (steady
        workloads) must equal a direct aggregate of the table. A mismatch or
        an exception counts as a failed operation."""
        from pyspark.sql import functions as F

        from dbimport_spark.plans.matview import verify_view
        from dbimport_spark.plans.validate import fold_expected, reconcile
        from dbimport_spark.schema import PAYLOAD_COLUMNS

        if self.steady:
            targets = [(self.table, self.next_lo)]
        else:
            targets = [(t, BULK_EVENTS) for t in self.replays]
        ok = bool(targets)
        for table, hi in targets:
            def table_ok():
                # both sides materialized once: reconcile counts and
                # checksums each side, which would otherwise recompute them
                expected = fold_expected(
                    self.changes.filter(F.col("lsn") <= hi), payload_cols=PAYLOAD_COLUMNS
                ).localCheckpoint()
                actual = table.read(self.spark).select(*PAYLOAD_COLUMNS).localCheckpoint()
                r = reconcile(actual, expected, PAYLOAD_COLUMNS)
                self.gate.setdefault("tables", []).append(r)
                return r["converged"] and table.last_lsn() == hi

            def view_ok():
                r = verify_view(self.spark, table, self.view_engine.table, self.spec)
                self.gate.setdefault("views", []).append(r)
                return r["converged"]

            for fn in (table_ok, view_ok) if self.steady else (table_ok,):
                try:
                    good = self._op(fn)
                except Exception:
                    good = False
                else:
                    if not good:
                        self.failed += 1
                ok = ok and good
        return ok

    # -- results -------------------------------------------------------------

    def end_to_end(self, ph: Phase, session_s: float) -> dict:
        setup_s = (
            session_s + self.setup["log_pass_s"] + self.setup["preload_s"]
            + self.setup["warmup_s"]
        )
        return {
            "setup_s": (setup_s, "s"),
            "events_per_s": (ph.events / ph.loop_s, "events/s"),
            "apply_p50_s": (median(ph.apply_s), "s"),
            "read_p50_s": (median(ph.read_s), "s"),
            "bytes_written_per_event": (ph.bytes_written / ph.events, "B"),
        }

    def samples(self) -> dict:
        return {
            "setup": self.setup,
            "phases": [
                {
                    "name": ph.name, "loop_s": ph.loop_s, "events": ph.events,
                    "apply_s": summarize(ph.apply_s), "sync_s": summarize(ph.sync_s),
                    "read_s": summarize(ph.read_s),
                    "windows": [asdict(w) for w in ph.windows],
                }
                for ph in self.phases
            ],
            "gate": self.gate,
        }


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def bytes_written(table, from_version: int) -> int:
    """Data bytes committed after ``from_version``: every file that appears
    in a later snapshot and not in an earlier one (apply and compaction)."""
    seen = {f.path for f in table.snapshot(from_version).files}
    total = 0
    for v in range(from_version + 1, table.current().version + 1):
        for f in table.snapshot(v).files:
            if f.path not in seen:
                seen.add(f.path)
                total += f.bytes
    return total
