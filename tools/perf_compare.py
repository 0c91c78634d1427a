"""Compare two checkouts on one perfbench workload, in one host session.

Usage (from anywhere):

    python tools/perf_compare.py A_DIR B_DIR --workload steady_mor --seeds 711-720
    python tools/perf_compare.py A_DIR --aa --workload steady_mor --seeds 711-716

For each seed it runs ``perfbench/run.py --trace 0`` once in each
checkout, alternating which side goes first from one seed to the next,
so a drift of the host over the session lands on both sides. Each run
lasts A's ``BENCHMARK.json`` ``run_seconds``, the length the benchmark
itself runs. ``--aa`` runs A against a second run of itself: the noise
floor of the same comparison. Runs go one at a time.

It prints one line per pair with the B/A ratio of every end-to-end metric
(named in the same file) and of ``sync_s`` (the timed loop's median view
sync, from the samples line), then per metric the median and
quartiles of each side, the median ratio, in how many pairs B was
better, and whether a gain may be claimed for it: B better in at least
nine of ten pairs, and B's median better than A's by more than A's
interquartile range. A run that is not correct, or fails operations, is
reported and left out of the pair. ``--out`` keeps every run's result as
JSON lines.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

# samples-line figures compared next to the end-to-end metrics; all lower-is-better
SAMPLE_METRICS = {"sync_s": "lower"}


def parse_seeds(text: str) -> list[int]:
    """``711-720`` or ``701,703,705``."""
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in text.split(",")]


def run_once(checkout: str, workload: str, seed: int, seconds: float) -> dict:
    """One ``perfbench/run.py --trace 0`` run in ``checkout``."""
    t0 = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, capture_output=True, text=True,
    )
    out = {"checkout": checkout, "seed": seed, "rc": proc.returncode,
           "wall_s": time.perf_counter() - t0, "correct": False, "metrics": {}}
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
    if len(lines) < 2:
        out["error"] = proc.stderr[-2000:]
        return out
    samples = json.loads(lines[-2])["samples"]
    result = json.loads(lines[-1])
    out.update(correct=result["correct"], failed=result["failed"],
               attempted=result["attempted"])
    out["metrics"] = {k: v["value"] for k, v in result["metrics"].items()}
    timed = next((p for p in samples["phases"] if p["name"] == "timed"), None)
    if timed is not None and "p50" in timed["sync_s"]:
        out["metrics"]["sync_s"] = timed["sync_s"]["p50"]
    return out


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        v = values[0] if values else float("nan")
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q1, q2, q3


def claim_holds(va: list[float], vb: list[float], wins: int, lower: bool) -> bool:
    """The gain rule: B better in >= 9/10 of the pairs, and the medians
    apart, in B's favour, by more than A's interquartile range."""
    qa, qb = quartiles(va), quartiles(vb)
    gain = qa[1] - qb[1] if lower else qb[1] - qa[1]
    return wins >= 0.9 * len(va) and gain > qa[2] - qa[0]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("a", help="checkout A (the baseline)")
    ap.add_argument("b", nargs="?", help="checkout B (omit with --aa)")
    ap.add_argument("--aa", action="store_true", help="run A against itself")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, type=parse_seeds)
    ap.add_argument("--out", help="append every run's result here (JSON lines)")
    args = ap.parse_args(argv)
    if args.aa == (args.b is not None):
        ap.error("give exactly one of checkout B and --aa")
    a = os.path.abspath(args.a)
    b = a if args.aa else os.path.abspath(args.b)

    with open(os.path.join(a, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    seconds = bench["run_seconds"]
    better = {m["name"]: m["better"] for m in bench["end_to_end"]}
    better.update(SAMPLE_METRICS)
    names = list(better)

    pairs = []
    for i, seed in enumerate(args.seeds):
        order = [("A", a), ("B", b)] if i % 2 == 0 else [("B", b), ("A", a)]
        runs = {}
        for side, checkout in order:
            r = run_once(checkout, args.workload, seed, seconds)
            r["side"] = side
            runs[side] = r
            if args.out:
                with open(args.out, "a") as fh:
                    fh.write(json.dumps(r) + "\n")
        bad = [s for s, r in runs.items() if not r["correct"] or r.get("failed")]
        if bad:
            print(f"seed {seed}: left out, side(s) {bad} not correct or failed "
                  f"operations (rc {[runs[s]['rc'] for s in bad]})", flush=True)
            continue
        ratio = {
            n: runs["B"]["metrics"][n] / runs["A"]["metrics"][n]
            for n in names
            if runs["A"]["metrics"].get(n) and n in runs["B"]["metrics"]
        }
        pairs.append((seed, runs, ratio))
        print(f"seed {seed} ({order[0][0]} first) B/A: "
              + "  ".join(f"{n} {v:.3f}" for n, v in ratio.items()), flush=True)

    print(f"\n{args.workload}: {len(pairs)} pair(s)"
          f"{' (A/A)' if args.aa else ''}; A={a}" + ("" if args.aa else f" B={b}"))
    print(f"{'metric':26} {'A median [q1, q3]':>30} {'B median [q1, q3]':>30} "
          f"{'ratio':>7} {'B better':>9} {'claim':>6}")
    for n in names:
        va = [p[1]["A"]["metrics"][n] for p in pairs if n in p[2]]
        vb = [p[1]["B"]["metrics"][n] for p in pairs if n in p[2]]
        rs = [p[2][n] for p in pairs if n in p[2]]
        if not rs:
            continue
        qa, qb = quartiles(va), quartiles(vb)
        lower = better[n] == "lower"
        wins = sum((r < 1) if lower else (r > 1) for r in rs)
        claim = "yes" if claim_holds(va, vb, wins, lower) else "no"
        print(f"{n:26} {qa[1]:>12.4g} [{qa[0]:.4g}, {qa[2]:.4g}] "
              f"{qb[1]:>12.4g} [{qb[0]:.4g}, {qb[2]:.4g}] "
              f"{statistics.median(rs):>7.3f} {wins:>5}/{len(rs)} {claim:>6}")
    return 0 if pairs else 1


if __name__ == "__main__":
    sys.exit(main())
