"""CDC ingest benchmark: bulk replay versus steady copy-on-write and
merge-on-read micro-batches with a follower view.

Run from the repository root:

    python3 perfbench/run.py --workload steady_mor --seed 1 --seconds 5 --trace 0

Workloads are described in ``workloads.py``. With ``--trace 0`` the last
line of standard output is one JSON object carrying every end-to-end
metric; with ``--trace 1`` the run turns on the Spark event log, runs one
untraced loop and then one traced loop of ``--seconds`` each, and reports
every per-layer metric plus the tracing overhead (traced loop against the
untraced one). The line before the last holds the samples behind every
timing (counts, medians, the per-window series) and the gate's findings.

One driver process at ``local[nproc]`` generates all load, with shuffle
partitions = nproc and a driver heap of a quarter of host RAM (at most
4 GiB). Everything the run writes lives under ``.perfbench-tmp/run-<pid>``
in the checkout and is removed at exit, crash included; directories left
by a killed run are removed by the next one. The exit code is 0 only when
every operation succeeded and the correctness gate passed.
"""

from __future__ import annotations

import argparse
import atexit
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import traceback

from workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TMP_ROOT = os.path.join(ROOT, ".perfbench-tmp")
MAX_HEAP_MB = 4096


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def driver_heap_mb() -> int:
    with open("/proc/meminfo") as fh:
        total_kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    return max(1024, min(MAX_HEAP_MB, total_kb // 1024 // 4))


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    return True


def make_work_dir() -> str:
    """A fresh per-process work dir under the benchmark's temp root, removed
    at exit; stale dirs of dead runs are removed first so their shuffle
    files cannot skew this run."""
    os.makedirs(TMP_ROOT, exist_ok=True)
    for name in os.listdir(TMP_ROOT):
        pid = name.removeprefix("run-")
        if pid.isdigit() and not _alive(int(pid)):
            shutil.rmtree(os.path.join(TMP_ROOT, name), ignore_errors=True)
    work = os.path.join(TMP_ROOT, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)

    def cleanup():
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(TMP_ROOT)
        except OSError:
            pass

    atexit.register(cleanup)
    # SIGTERM/SIGHUP unwind like an exception, so finally blocks stop the
    # JVM and atexit removes the work dir
    for sig in (signal.SIGTERM, signal.SIGHUP):
        signal.signal(sig, lambda signum, _frame: sys.exit(128 + signum))
    return work


def start_spark(work: str, cores: int, event_dir: str | None):
    from dbimport_spark.session import get_spark

    jtmp = os.path.join(work, "jvm-tmp")
    os.makedirs(jtmp)
    conf = {
        "spark.driver.memory": f"{driver_heap_mb()}m",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={jtmp} -Dderby.system.home={jtmp}",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_dir is not None:
        os.makedirs(event_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(
        app_name="perfbench", master=f"local[{cores}]",
        shuffle_partitions=cores, extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_process():
    from pyspark import SparkContext

    return getattr(SparkContext._gateway, "proc", None)


def jvm_peak_rss_mb(proc) -> float:
    if proc is None:
        return 0.0
    with open(f"/proc/{proc.pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def stop_spark(spark, proc) -> None:
    """Stop the session and wait for the JVM to exit (it exits when its
    stdin closes); kill it if it does not within a minute."""
    from pyspark import SparkContext

    try:
        spark.stop()
    finally:
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import dbimport_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine ({e}); run from the "
              "repository root of a full checkout", file=sys.stderr)
        return 2

    from layers import layer_metrics
    from tracer import Tracer, install_layer_patches, read_event_logs
    from workloads import Bench

    work = make_work_dir()
    os.environ["TMPDIR"] = os.path.join(work, "py-tmp")
    os.makedirs(os.environ["TMPDIR"])
    cores = host_cores()
    event_dir = os.path.join(work, "eventlog") if args.trace else None

    t0 = time.perf_counter()
    spark = start_spark(work, cores, event_dir)
    session_s = time.perf_counter() - t0
    proc = jvm_process()

    bench = Bench(spark, work, args.workload, args.seed, args.seconds, cores)
    timed = traced = None
    correct = False
    rss_mb = 0.0
    try:
        try:
            bench.set_up(traced=bool(args.trace))
            timed = bench.run_loop("timed")
            if args.trace:
                bench.tracer = Tracer(spark.sparkContext)
                install_layer_patches(bench.tracer)
                try:
                    traced = bench.run_loop("traced")
                finally:
                    bench.tracer.unpatch_all()
        except Exception:
            if bench.failed == 0:  # raised outside a counted operation
                traceback.print_exc(file=sys.stderr)
                bench.attempted += 1
                bench.failed += 1
        t_gate = time.perf_counter()
        if bench.failed == 0:
            correct = bench.check() and bench.failed == 0
        bench.gate["seconds"] = time.perf_counter() - t_gate
        rss_mb = jvm_peak_rss_mb(proc)
    finally:
        stop_spark(spark, proc)

    metrics = {}
    if correct and args.trace:
        m = layer_metrics(bench, traced, timed, bench.tracer.spans,
                          read_event_logs(event_dir), rss_mb)
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in m.items()}
    elif correct:
        metrics = {
            k: {"value": v, "unit": u}
            for k, (v, u) in bench.end_to_end(timed, session_s).items()
        }
    samples = bench.samples()
    samples["session_s"] = session_s
    samples["cores"] = cores
    print(json.dumps({"samples": samples}))
    print(json.dumps({
        "correct": correct,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": metrics,
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
