"""Benchmark entry point.

    python3 benchmark/run.py --workload kg_pages --seed 1 --seconds 10 --trace 0

Runs from the root of a checkout, in one process on ``local[nproc]``:
session start, seeded input generation (three times, the median counts),
one full untimed warm-up job, then timed jobs until ``--seconds`` of job
time have passed (at least two). Every job's output is checked against
the generator's ground truth. The last line of stdout is one JSON object::

    {"correct": true, "attempted": 5, "failed": 0, "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones (medians over the
timed jobs); with ``--trace 1`` the run records a Spark event log, runs
untraced and traced jobs in turn, and reports the per-layer metrics.
A job that raises or fails its output check makes ``correct`` false.
"""

from __future__ import annotations

import argparse
import json
import signal
import statistics
import sys
import time
import traceback

import harness

sys.path.insert(0, harness.REPO_ROOT)

import eventlog  # noqa: E402
from workloads import LAYERS, WORKLOADS, Tracer  # noqa: E402

GEN_ROUNDS = 3
MIN_JOBS = 2
#: untraced (U) and traced (T) jobs of a traced run, in order, after a
#: second untimed warm-up job (the job right after the first warm-up is
#: still the slowest); the ABBA order cancels a steady drift after it
TRACE_ORDER = "UTTU"
TRACE_JOBS = TRACE_ORDER.count("T")
#: the per-layer self times must sum to the untraced job time within this
#: share; ``aa.py`` checks it on the median over several traced runs
MAX_COVERAGE_GAP = 0.10

END_TO_END = [
    ("setup_s", "s"),
    ("job_s", "s"),
    ("cpu_s", "s"),
    ("out_mb", "MB"),
]
LAYER_METRICS = [("self_s", "s"), ("executor_s", "s"), ("gc_s", "s"), ("shuffle_mb", "MB"), ("spill_mb", "MB")]
#: per-layer metrics beyond the five every layer has: (name, unit, better)
LAYER_EXTRAS = [
    ("canonicalize.surfaces", "count", "lower"),
    ("route.docs", "count", "lower"),
    ("route.max_doc_rows", "count", "lower"),
    ("write.files", "count", "lower"),
    ("write.mb", "MB", "lower"),
    ("candidates.pairs", "count", "lower"),
    ("candidates.precision", "ratio", "higher"),
    ("extract.python_s", "s", "lower"),
    ("write.python_s", "s", "lower"),
    ("trace.job_s", "s", "lower"),
    ("trace.plain_job_s", "s", "lower"),
    ("trace.overhead_s", "s", "lower"),
    ("trace.self_coverage", "ratio", "higher"),
]


def per_layer_metrics() -> list[tuple[str, str, str]]:
    out = [(f"{layer}.{m}", unit, "lower") for layer in LAYERS for m, unit in LAYER_METRICS]
    return out + LAYER_EXTRAS


def log(msg: str) -> None:
    print(f"[bench] {msg}", file=sys.stderr, flush=True)


class Run:
    def __init__(self, workload, seed: int, work: harness.WorkDir, trace: bool):
        self.wl = workload
        self.seed = seed
        self.work = work
        self.trace = trace
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.inp = work.path("input")

    def setup(self) -> float:
        t0 = time.perf_counter()
        event_dir = self.work.path("events") if self.trace else None
        self.spark = harness.start_spark(self.work, harness.host_cpus(), event_dir)
        session_s = time.perf_counter() - t0
        gen_s = []
        for _ in range(GEN_ROUNDS):
            inp = self.work.fresh("input")
            t0 = time.perf_counter()
            self.truth = self.wl.generate(self.seed, inp)
            gen_s.append(time.perf_counter() - t0)
        warm = self.job(self.wl.job, "warm")
        warm_s = warm.wall if warm else 0.0
        log(f"setup: session {session_s:.2f} s, input {statistics.median(gen_s):.2f} s, warm-up job {warm_s:.2f} s")
        return session_s + statistics.median(gen_s) + warm_s

    def job(self, fn, tag: str, *extra):
        """Run one job into a fresh output dir, measured, then check its
        output; returns the measurement, or None if the job raised."""
        out = self.work.fresh("out", tag)
        self.attempted += 1
        try:
            with harness.Measure() as m:
                fn(self.spark, self.inp, out, *extra)
        except Exception as e:  # noqa: BLE001 - a failed job is counted, not fatal
            self.failed += 1
            self.problems.append(f"{tag}: job raised {type(e).__name__}: {e}")
            log(f"{tag} job raised:\n{traceback.format_exc()}")
            return None
        m.out_bytes = harness.dir_bytes(out)
        t0 = time.perf_counter()
        problems = self.wl.check(out, self.truth)
        log(f"{tag}: {m.wall:.2f} s wall, {m.cpu:.2f} s cpu, check {time.perf_counter() - t0:.2f} s")
        if problems:
            self.failed += 1
            self.problems += [f"{tag}: {p}" for p in problems]
            log(f"{tag} output check failed: {problems}")
        self.work.fresh("out", tag)
        return m

    def end_to_end(self, seconds: float) -> dict[str, tuple[float, str]]:
        setup_s = self.setup()
        runs = []
        i, spent = 0, 0.0
        while i < MIN_JOBS or spent < seconds:
            t0 = time.perf_counter()
            m = self.job(self.wl.job, f"job{i}")
            if m is not None:
                runs.append(m)
            spent += m.wall if m is not None else time.perf_counter() - t0
            i += 1
        if not runs:
            return {}
        med = statistics.median
        return {
            "setup_s": (setup_s, "s"),
            "job_s": (med([m.wall for m in runs]), "s"),
            "cpu_s": (med([m.cpu for m in runs]), "s"),
            "out_mb": (med([m.out_bytes for m in runs]) / 2**20, "MB"),
        }

    def traced(self) -> dict[str, tuple[float, str]]:
        """Untraced and traced jobs run in ``TRACE_ORDER``; layer metrics
        are means over the traced jobs."""
        self.setup()
        self.job(self.wl.job, "warm2")
        plains, traced, tracers = [], [], []
        for i, kind in enumerate(TRACE_ORDER):
            if kind == "U":
                plains.append(self.job(self.wl.job, f"plain{i}"))
            else:
                # the counts are taken once, after the last traced job
                tracers.append(Tracer(self.spark, with_counts=i == TRACE_ORDER.rindex("T")))
                traced.append(self.job(self.wl.traced, f"traced{i}", tracers[-1]))
        harness.stop_spark(self.spark, shutdown_jvm=False)  # closes the event log
        if None in plains or None in traced:
            return {}
        groups = eventlog.fold(self.work.path("events"))
        mean = lambda xs: sum(xs) / len(xs)  # noqa: E731
        self_s = {name: mean([t.spans[name] for t in tracers]) for name in tracers[0].spans}
        for nested, enclosing in self.wl.nested.items():
            self_s[enclosing] -= self_s[nested]
        out: dict[str, tuple[float, str]] = {}
        for layer in LAYERS:
            g = groups.get(f"layer:{layer}", {})
            out[f"{layer}.self_s"] = (self_s.get(layer, 0.0), "s")
            for m, unit in LAYER_METRICS[1:]:
                out[f"{layer}.{m}"] = (g.get(m, 0.0) / TRACE_JOBS, unit)
        for name, unit, _ in LAYER_EXTRAS:
            out[name] = (tracers[-1].counts.get(name, 0.0), unit)
        for layer in ("extract", "write"):
            out[f"{layer}.python_s"] = (groups.get(f"layer:{layer}", {}).get("python_s", 0.0) / TRACE_JOBS, "s")
        job_s = mean([t.job_wall for t in tracers])
        plain_s = mean([m.wall for m in plains])
        # the layers must explain the job that job_s times, not only the
        # layered job they were timed in
        coverage = sum(self_s.values()) / plain_s
        out["trace.job_s"] = (job_s, "s")
        out["trace.plain_job_s"] = (plain_s, "s")
        out["trace.overhead_s"] = (job_s - plain_s, "s")
        out["trace.self_coverage"] = (coverage, "ratio")
        if abs(coverage - 1) > MAX_COVERAGE_GAP:
            # one run compares two jobs of each kind, whose times swing by
            # about a tenth on a shared host; aa.py judges the median
            log(f"per-layer self times cover {coverage:.3f} of the untraced job's wall time "
                f"(outside {1 - MAX_COVERAGE_GAP:.2f}-{1 + MAX_COVERAGE_GAP:.2f})")
        return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    work = harness.WorkDir(args.workload)
    run = Run(WORKLOADS[args.workload], args.seed, work, bool(args.trace))
    try:
        metrics = run.traced() if args.trace else run.end_to_end(args.seconds)
    finally:
        try:
            if getattr(run, "spark", None) is not None:
                harness.stop_spark(run.spark, shutdown_jvm=True)
        finally:
            work.remove()
    for p in run.problems:
        log(p)
    result = {
        "correct": not run.problems,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
