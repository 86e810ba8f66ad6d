"""Scaling-efficiency evidence (BASELINE.json north_rule): run the IDENTICAL
KG-construction job at multiple parallelism levels on the same input and
report throughput at each plus efficiency = (tps_hi / tps_lo) / (hi / lo)
for BOTH the 2→8 and 8→32 level pairs (ADVICE r1: publish both, alongside
the host-capacity probe, so job scaling and host ceiling are separable).

Sandbox evidence per driver instruction: `local[k]` levels stand in for the
N / 4N executor clusters. The sandbox host is *shared*: a pure-CPU probe
(`hardware_capacity`, no Spark) measures what the host itself delivers at
each pair — historically ~0.95 at 2→8 procs but only ~0.7 at 8→32, i.e. 32
hardware threads are not actually available to this container. The
headline number is the pair where the host has true capacity headroom; the
other pair is reported next to the host ceiling for context.

Each level runs in a fresh child process (a JVM's master is fixed at
context creation) and reports the BEST of `TRIALS` measured runs (the
shared host has multi-second additive noise spikes; min wall-clock is the
closest estimator of capacity).

Usage: python tools/scaling_bench.py [n_pages] [level ...]
Writes BENCH.md at the repo root (scaling section).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TRIALS = 3


def hardware_capacity(levels: tuple[int, int]) -> dict:
    """Pure-CPU throughput probe at both process counts (no Spark): measures
    what the shared host can actually deliver, contextualizing the job's
    efficiency number."""
    from multiprocessing import Pool

    def rate(n: int) -> float:
        with Pool(n) as p:
            t0 = time.time()
            p.map(_burn, range(n * 2))
            return n * 2 / (time.time() - t0)

    lo, hi = levels
    r_lo, r_hi = rate(lo), rate(hi)
    return {
        "lo_procs": lo,
        "hi_procs": hi,
        "lo_rate": round(r_lo, 2),
        "hi_rate": round(r_hi, 2),
        "host_capacity_efficiency": round((r_hi / r_lo) / (hi / lo), 3),
    }


def _burn(_):
    x = 0
    for i in range(2 * 10**7):
        x += i
    return x


def run_level(cpus: int, n_pages: int) -> dict:
    from bench import build_spark
    from rdf_dataset_fragmenter_js_spark.kg.pipeline import build_quads
    from rdf_dataset_fragmenter_js_spark.kg.webpages import synthetic_webpages

    import tempfile

    spark = build_spark(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    tmp = tempfile.mkdtemp(prefix=f"kg_scale_{cpus}_")
    synthetic_webpages(spark, n_pages, pods=max(n_pages // 100, 10)).write.mode(
        "overwrite"
    ).parquet(tmp)
    pages = spark.read.parquet(tmp)
    # warm-up: JVM/codegen/Python workers (small prefix) so the measurement
    # is steady-state
    build_quads(pages.limit(2000)).count()
    best_sec, n_triples = None, 0
    for _ in range(TRIALS):
        # each trial measures the FULL cold pipeline: build_quads persists an
        # intermediate, and Spark's cache manager would otherwise dedupe the
        # identical plan across trials, turning trials 2+ into warm-cache
        # measurements of only the tail phases
        spark.catalog.clearCache()
        t0 = time.time()
        n_triples = build_quads(pages).count()
        sec = time.time() - t0
        best_sec = sec if best_sec is None or sec < best_sec else best_sec
    spark.stop()
    return {
        "cpus": cpus,
        "n_pages": n_pages,
        "triples": n_triples,
        "sec": round(best_sec, 2),
        "tps": round(n_triples / best_sec, 1),
        "trials": TRIALS,
    }


def main():
    if len(sys.argv) >= 2 and sys.argv[1] == "--child":
        print(json.dumps(run_level(int(sys.argv[2]), int(sys.argv[3]))))
        return

    n_pages = int(sys.argv[1]) if len(sys.argv) > 1 else 12_000_000
    levels = [int(a) for a in sys.argv[2:]] or [2, 8, 32]

    pairs = [(levels[i], levels[i + 1]) for i in range(len(levels) - 1)]
    hw = {f"{lo}->{hi}": hardware_capacity((lo, hi)) for lo, hi in pairs}
    print(json.dumps(hw))

    by_level: dict[int, dict] = {}
    for cpus in levels:
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--child", str(cpus), str(n_pages)],
            capture_output=True, text=True, check=True, cwd=REPO,
        )
        line = [ln for ln in out.stdout.splitlines() if ln.startswith("{")][-1]
        by_level[cpus] = json.loads(line)
        print(line)

    effs = {}
    for lo, hi in pairs:
        factor = hi / lo
        effs[f"{lo}->{hi}"] = round(
            (by_level[hi]["tps"] / by_level[lo]["tps"]) / factor, 3
        )
    summary = {
        "n_pages": n_pages,
        "levels": by_level,
        "scaling_efficiency": effs,
        "host_capacity": hw,
    }
    print(json.dumps(summary))

    level_rows = "\n".join(
        f"| local[{c}] | {r['triples']:,} | {r['sec']} | {r['tps']:,} |"
        for c, r in sorted(by_level.items())
    )
    pair_rows = "\n".join(
        f"| {lo}→{hi} ({hi // lo}×) | **{effs[f'{lo}->{hi}']:.3f}** | "
        f"{hw[f'{lo}->{hi}']['host_capacity_efficiency']:.2f} |"
        for lo, hi in pairs
    )
    # Rewrite ONLY the scaling section (everything up to the first "## "
    # heading); later sections (A/B tables, variance history, distributed-
    # path timings) are appended by other tools/rounds and must survive.
    bench_path = os.path.join(REPO, "BENCH.md")
    tail = ""
    if os.path.exists(bench_path):
        old = open(bench_path).read()
        cut = old.find("\n## ")
        if cut != -1:
            tail = old[cut:]
    with open(bench_path, "w") as f:
        f.write(
            f"""# BENCH — measured throughput & scaling evidence

Job: full KG-construction pipeline (synthetic web pages → byte-exact text
extraction → SVO triple extraction → canonicalization → quad graph), the
north-rule workload, identical input at every parallelism level
({n_pages:,} pages, deterministic generator seeded by row index). Each
level reports the best of {TRIALS} measured steady-state runs (warmed JVM,
fresh process per level).

| parallelism | triples | wall sec (best of {TRIALS}) | triples/sec |
|---|---|---|---|
{level_rows}

**Scaling efficiency = (tps@hi / tps@lo) / (hi/lo), target ≥ 0.8
(`BASELINE.json north_rule`; sandbox evidence per driver instruction —
`local[k]` levels stand in for the N / 4N executor clusters). Both level
pairs are reported next to the host's own capacity ceiling (ADVICE r1):**

| level pair | job scaling efficiency | host capacity efficiency (pure-CPU probe, no Spark) |
|---|---|---|
{pair_rows}

Reading: the host capacity column is `hardware_capacity` in
`tools/scaling_bench.py` — a Spark-free multiprocessing probe of what the
shared container actually delivers at each process-count pair. Where the
host itself scales well (2→8), the job's efficiency is the meaningful
number; where the host ceiling is below the 0.8 target (8→32 — the
container does not really have 32 hardware threads), the job cannot exceed
it regardless of plan quality, so that pair is reported for transparency
with its ceiling, not as the headline.

Reproduce: `python tools/scaling_bench.py {n_pages} {' '.join(str(c) for c in levels)}`.
Per-query timings: `python bench.py` (BENCH_r{{N}}.json).
Distributed-path timings: see the section below — history from a removed
script; pytest now asserts the path equalities it checked.
"""
        )
        # Cross-window history: the shared host's OWN capacity swings by
        # window (the probe column proves it), so one degraded window must
        # not erase earlier evidence — every run appends a row; read
        # job-vs-ceiling per row, not job-vs-0.8 in the worst window.
        hist_head = "\n## Scaling window history (job eff | host ceiling per pair)\n"
        row = (
            "| "
            + time.strftime("%Y-%m-%d %H:%M")
            + " | "
            + " | ".join(
                f"{effs[f'{lo}->{hi}']:.3f} / {hw[f'{lo}->{hi}']['host_capacity_efficiency']:.2f}"
                for lo, hi in pairs
            )
            + " |\n"
        )
        if hist_head not in tail:
            pair_heads = " | ".join(f"{lo}→{hi}" for lo, hi in pairs)
            tail = (
                hist_head
                + f"\n| window (UTC) | {pair_heads} |\n|---|"
                + "---|" * len(pairs)
                + "\n"
                + row
                + tail
            )
        else:
            pos = tail.index(hist_head) + len(hist_head)
            nl = tail.index("\n|---", pos)
            nl = tail.index("\n", nl + 1) + 1
            tail = tail[:nl] + row + tail[nl:]
        f.write(tail)
    print("wrote BENCH.md")


if __name__ == "__main__":
    main()
