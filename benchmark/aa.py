"""A/A check: two sets of runs of the same commit, per workload.

    python3 benchmark/aa.py [--runs 10] [--workload NAME ...]

Runs ``run.py`` ``--runs`` times in each of two sets per workload, each
run with its own seed (set 0 uses seeds ``1 ..``, set 1 seeds ``1001 ..``),
one run at a time. Prints one row per workload, end-to-end metric and
set: the median and quartiles, the spread (interquartile distance over the
median), the shift of the set's median against set 0's in either
direction, and the metric's bound from ``BENCHMARK.json``. A row is ``ok``
when its spread and its shift both stay within the bound, which is how the
bounds are set and re-checked. Also prints each run's wall time and the
share of failed operations per set; a failed operation, an incorrect run
or a run without metrics makes the verdict fail.

Then runs ``--trace 1`` ``TRACE_RUNS`` times per workload and checks that
the median ``trace.self_coverage`` (per-layer self times over the untraced
job time) lies within ``run.MAX_COVERAGE_GAP`` of 1: the layers must
explain the job that ``job_s`` times. One traced run compares only two
jobs of each kind, so the median over runs is what is judged.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

from run import MAX_COVERAGE_GAP

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETS = 2
TRACE_RUNS = 3


def run_once(workload: str, seed: int, seconds: int, trace: int = 0) -> tuple[dict, float]:
    cmd = [sys.executable, os.path.join(ROOT, "benchmark", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.perf_counter()
    res = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    wall = time.perf_counter() - t0
    if res.returncode != 0:
        print(f"{workload} seed {seed} exited {res.returncode}:\n{res.stderr[-3000:]}", flush=True)
        return {"correct": False, "attempted": 0, "failed": 0, "metrics": {}}, wall
    return json.loads(res.stdout.strip().splitlines()[-1]), wall


def spread(values: list[float]) -> tuple[float, float, float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, med, q3, (q3 - q1) / med


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workload", nargs="*", default=[w["name"] for w in bench["workloads"]])
    args = ap.parse_args()
    metrics = bench["end_to_end"]
    ok_all = True
    for wl in args.workload:
        sets = []
        for s in range(SETS):
            runs = []
            for i in range(args.runs):
                result, wall = run_once(wl, 1000 * s + 1 + i, bench["run_seconds"])
                runs.append(result)
                got = ", ".join(f"{k} {v['value']:.4g}" for k, v in result["metrics"].items())
                print(f"{wl} set {s} seed {1000 * s + 1 + i}: {wall:.1f} s wall, correct={result['correct']}, "
                      f"failed {result['failed']}/{result['attempted']}, {got}", flush=True)
            sets.append(runs)
        print(f"\n{wl}: failed share per set: "
              + ", ".join(f"{sum(r['failed'] for r in rs)}/{sum(r['attempted'] for r in rs)}" for rs in sets))
        if any(r["failed"] or not r["correct"] for rs in sets for r in rs):
            print(f"{wl}: some run failed an operation or was not correct: OUT OF BOUND")
            ok_all = False
        print(f"{'metric':<14}{'set':>4}{'q1':>12}{'median':>12}{'q3':>12}{'spread':>9}{'shift':>9}{'bound':>7}  verdict")
        for m in metrics:
            name, bound = m["name"], m["bound"]
            missing = sum(name not in r["metrics"] for rs in sets for r in rs)
            if missing:
                print(f"{name:<14} missing from {missing} runs: OUT OF BOUND")
                ok_all = False
                continue
            stats = [spread([r["metrics"][name]["value"] for r in rs]) for rs in sets]
            base = stats[0][1]
            for s, (q1, med, q3, sp) in enumerate(stats):
                shift = (med - base) / base
                ok = sp <= bound and abs(shift) <= bound
                ok_all &= ok
                print(f"{name:<14}{s:>4}{q1:>12.4f}{med:>12.4f}{q3:>12.4f}{sp:>9.3f}{shift:>9.3f}{bound:>7.2f}  "
                      f"{'ok' if ok else 'OUT OF BOUND'}")
        print(flush=True)
    for wl in args.workload:
        cover = []
        for i in range(TRACE_RUNS):
            result, wall = run_once(wl, 2001 + i, bench["run_seconds"], trace=1)
            m = result["metrics"]
            ok = result["correct"] and not result["failed"] and "trace.self_coverage" in m
            ok_all &= ok
            if "trace.self_coverage" in m:
                cover.append(m["trace.self_coverage"]["value"])
            print(f"{wl} traced seed {2001 + i}: {wall:.1f} s wall, correct={result['correct']}, "
                  f"failed {result['failed']}/{result['attempted']}, "
                  + (f"coverage {cover[-1]:.3f}, overhead {m['trace.overhead_s']['value']:+.2f} s" if ok else "OUT OF BOUND"),
                  flush=True)
        med = statistics.median(cover) if cover else float("nan")
        ok = bool(cover) and abs(med - 1) <= MAX_COVERAGE_GAP
        ok_all &= ok
        print(f"{wl}: median per-layer coverage of the untraced job {med:.3f} "
              f"(within {MAX_COVERAGE_GAP:.2f} of 1): {'ok' if ok else 'OUT OF BOUND'}\n", flush=True)
    print("A/A verdict:", "every metric within its bound" if ok_all else "some metric out of bound")
    return 0 if ok_all else 1


if __name__ == "__main__":
    sys.exit(main())
