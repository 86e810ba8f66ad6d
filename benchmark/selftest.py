"""Self-test of the output checks: each accepts a correct output and
rejects corrupted copies of it.

    python3 benchmark/selftest.py

Correct outputs are built here from the generators' ground truth, in the
layout the engine writes; each corruption then changes one thing (a quad
moved to another document, a line dropped, two clusters merged, ...).
Runs in seconds and starts no Spark session. Also checks that ``BENCHMARK.json``
lists exactly the metrics ``run.py`` reports. Exits non-zero on any
unexpected verdict.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import checks
import gen

HERE = os.path.dirname(os.path.abspath(__file__))


def _write_kg(out: str, frags: pd.DataFrame, clusters: pd.DataFrame) -> None:
    for sub, frame in (("fragments/bucket=0", frags), ("_clusters", clusters)):
        os.makedirs(os.path.join(out, sub))
        pq.write_table(pa.Table.from_pandas(frame, preserve_index=False), os.path.join(out, sub, "part-0.parquet"))
    manifest = frags.groupby("doc").size().rename("row_count").reset_index().rename(columns={"doc": "fragment"})
    os.makedirs(os.path.join(out, "_manifest"))
    pq.write_table(pa.Table.from_pandas(manifest, preserve_index=False), os.path.join(out, "_manifest", "part-0.parquet"))


def kg_cases(tmp: str):
    truth = gen.gen_kg_pages(7, os.path.join(tmp, "kg_in"), 600, n_persons=60, n_orgs=20, n_cities=10, n_files=1)
    ids = [checks.ENTITY_NS + gen._norm(forms[0]).replace(" ", "_") for forms in truth.entity_forms]
    t = truth.triples
    s = [ids[e] for e in t[:, 2]]
    frags = pd.DataFrame(
        {
            "doc": s,
            "s_type": "NamedNode",
            "s": s,
            "p": [checks.REL_NS + gen.KG_PREDICATES[p][0] for p in t[:, 1]],
            "o": [ids[e] for e in t[:, 3]],
            "g": [gen.kg_url(int(i)) for i in t[:, 0]],
        }
    )
    # every page of a planted cluster, labelled with its smallest url
    sizes = pd.Series(truth.cluster).value_counts()
    pages = np.flatnonzero(sizes.reindex(truth.cluster).to_numpy() > 1)
    urls = pd.Series([gen.kg_url(int(i)) for i in pages])
    label = urls.groupby(truth.cluster[pages]).transform("min")
    clusters = pd.DataFrame({"doc_id": urls, "cluster_id": label})

    moved = frags.copy()
    moved.loc[0, "doc"] = frags["doc"][frags["doc"] != frags["doc"][0]].iloc[0]
    hot = frags["s"].value_counts().index
    two = clusters["cluster_id"].drop_duplicates()
    cases = {
        "correct": (frags, clusters),
        "quad moved to another fragment": (moved, clusters),
        "two entities merged": (frags.replace({hot[1]: hot[0]}), clusters),
        "two page clusters merged": (frags, clusters.replace({"cluster_id": {two.iloc[1]: two.iloc[0]}})),
        "half the page clusters dropped": (frags, clusters[clusters["cluster_id"].isin(two.iloc[: len(two) // 2])]),
    }
    check = lambda out: checks.check_kg(out, truth, 8, 4)  # noqa: E731
    for name, (f, c) in cases.items():
        out = os.path.join(tmp, "kg_" + name.replace(" ", "_"))
        _write_kg(out, f, c)
        yield "kg_pages", name, name == "correct", lambda out=out: check(out)
    # a line dropped after the manifest was written
    out = os.path.join(tmp, "kg_dropped")
    _write_kg(out, frags, clusters)
    part = os.path.join(out, "fragments", "bucket=0", "part-0.parquet")
    pq.write_table(pq.read_table(part).slice(1), part)
    yield "kg_pages", "line dropped", False, lambda: check(out)


def _write_solid(out: str, files: dict[str, list[str]]) -> None:
    for rel, lines in files.items():
        path = os.path.join(out, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            f.write("\n".join(lines) + "\n")


def solid_cases(tmp: str):
    truth = gen.gen_solid_nquads(7, os.path.join(tmp, "solid_in"), 6, posts_per_pod=6, n_files=1)
    rewrite = checks.solid_rewrite()
    files: dict[str, list[str]] = {}
    for line, path in zip(truth.lines, truth.paths):
        files.setdefault(path, []).append(rewrite(line))
    paths = sorted(files)
    moved = {p: list(v) for p, v in files.items()}
    moved[paths[1]].append(moved[paths[0]].pop())
    dropped = {p: list(v) for p, v in files.items()}
    dropped[paths[0]].pop()
    unrewritten = {p: list(v) for p, v in files.items()}
    unrewritten[paths[0]][0] = truth.lines[truth.paths.index(paths[0])]
    cases = {"correct": files, "quad moved to another file": moved, "line dropped": dropped, "IRI left unrewritten": unrewritten}
    for name, content in cases.items():
        out = os.path.join(tmp, "solid_" + name.replace(" ", "_"))
        _write_solid(out, content)
        yield "solid_nquads", name, name == "correct", lambda out=out: checks.check_solid(out, truth)


def metrics_listed() -> list[str]:
    """BENCHMARK.json names exactly the metrics run.py reports."""
    sys.path.insert(0, os.path.dirname(HERE))
    import run

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    problems = []
    if [(m["name"], m["unit"]) for m in bench["end_to_end"]] != run.END_TO_END:
        problems.append("end_to_end metrics differ from run.END_TO_END")
    if [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] != run.per_layer_metrics():
        problems.append("per_layer metrics differ from run.per_layer_metrics()")
    return problems


def main() -> int:
    tmp = os.path.join(os.path.dirname(HERE), ".bench_work", f"selftest-{os.getpid()}")
    bad = 0
    try:
        for cases in (kg_cases, solid_cases):
            for workload, name, should_pass, check in cases(tmp):
                problems = check()
                ok = (not problems) == should_pass
                bad += not ok
                verdict = "accepted" if not problems else f"rejected: {problems[0]}"
                print(f"{'ok ' if ok else 'BAD'} {workload:<13} {name:<31} {verdict}")
    finally:
        shutil.rmtree(tmp)
        if not os.listdir(os.path.dirname(tmp)):
            os.rmdir(os.path.dirname(tmp))
    listed = metrics_listed()
    for p in listed:
        print("BAD", p)
    bad += len(listed)
    print("selftest:", "all checks behave as expected" if not bad else f"{bad} unexpected verdicts")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
