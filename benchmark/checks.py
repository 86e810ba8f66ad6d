"""Output checks, computed apart from the engine.

Each ``check_*`` reads a job's output files back with pyarrow or plain
file reads, scores them against the generator's ground truth, and returns
the list of problems found (empty when the output is correct). No engine
code runs here.
"""

from __future__ import annotations

import math
import os
import re
from collections import Counter, defaultdict

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from gen import KG_PREDICATES, SOLID_SPEC, KgTruth, SolidTruth

#: namespaces of the KG quads (the engine's documented output contract)
ENTITY_NS = "http://kg.ex.org/entity/"
REL_NS = "http://kg.ex.org/rel/"
#: the north-rule bar on triple precision and recall
KG_MIN_PR = 0.95


def _one_to_one(pairs: pd.DataFrame) -> dict[str, int]:
    """Greedy one-to-one match of output ids to truth entities by how often
    they stand in the same slot of the same sentence, most frequent first.
    A split entity leaves its smaller output id unmatched."""
    counts = pairs.value_counts().reset_index(name="n").sort_values("n", ascending=False, kind="stable")
    ids: dict[str, int] = {}
    used: set[int] = set()
    for out_id, ent in zip(counts["out_id"].tolist(), counts["ent"].tolist()):
        if out_id not in ids and ent not in used:
            ids[out_id] = ent
            used.add(ent)
    return ids


def check_kg(out_dir: str, truth: KgTruth, k: int, bands: int) -> list[str]:
    """The near-duplicate clusters in ``<out>/_clusters``, then the
    fragments and manifest of the pages kept."""
    problems = check_clusters(os.path.join(out_dir, "_clusters"), truth, k, bands)
    frags = pq.read_table(os.path.join(out_dir, "fragments"), columns=["doc", "s_type", "s", "p", "o", "g"]).to_pandas()
    # every fragment holds only quads of its own subject
    foreign = int(((frags["s_type"] != "NamedNode") | (frags["doc"] != frags["s"])).sum())
    if foreign:
        problems.append(f"{foreign} quads sit in a fragment other than their subject's")
    # the manifest's row counts equal the rows on disk
    manifest = pq.read_table(os.path.join(out_dir, "_manifest"), columns=["fragment", "row_count"]).to_pandas()
    on_disk = frags.groupby("doc").size()
    listed = manifest.set_index("fragment")["row_count"]
    if len(listed) != len(manifest) or not listed.sort_index().equals(on_disk.sort_index().astype(listed.dtype)):
        diff = set(on_disk.items()) ^ set(listed.items())
        problems.append(f"manifest row counts differ from the rows on disk for {len(diff)} (fragment, count) entries")

    # triples: partition-level comparison against the planted sentences
    slug = {s: i for i, (s, *_rest) in enumerate(KG_PREDICATES)}
    ok_ns = frags["s"].str.startswith(ENTITY_NS) & frags["o"].str.startswith(ENTITY_NS) & frags["p"].str.startswith(REL_NS)
    out = pd.DataFrame(
        {
            "page": pd.to_numeric(frags["g"].str.rsplit("/", n=1).str[-1], errors="coerce"),
            "pred": frags["p"].str.slice(len(REL_NS)).map(slug),
            "sid": frags["s"].str.slice(len(ENTITY_NS)),
            "oid": frags["o"].str.slice(len(ENTITY_NS)),
        }
    )[ok_ns]
    out = out.dropna(subset=["page", "pred"]).astype({"page": np.int64, "pred": np.int64})
    t = pd.DataFrame(truth.triples, columns=["page", "pred", "subj", "obj"])
    aligned = out.merge(t, on=["page", "pred"])
    slots = pd.concat(
        [
            aligned[["sid", "subj"]].set_axis(["out_id", "ent"], axis=1),
            aligned[["oid", "obj"]].set_axis(["out_id", "ent"], axis=1),
        ]
    )
    spans = slots.drop_duplicates().groupby("out_id").size()
    merged = spans[spans > 1]
    if len(merged):
        problems.append(f"{len(merged)} output entity ids each stand for several planted entities (e.g. {merged.index[0]!r})")
    ids = _one_to_one(slots)
    mapped = pd.DataFrame(
        {
            "page": out["page"],
            "pred": out["pred"],
            "subj": out["sid"].map(ids).fillna(-1).astype(np.int64),
            "obj": out["oid"].map(ids).fillna(-1).astype(np.int64),
        }
    )
    tp = len(mapped.drop_duplicates().merge(t, on=["page", "pred", "subj", "obj"]))
    precision = tp / max(len(frags), 1)
    recall = tp / max(len(t), 1)
    if precision < KG_MIN_PR or recall < KG_MIN_PR:
        problems.append(f"triple precision {precision:.4f} / recall {recall:.4f} below {KG_MIN_PR}")
    return problems


def _js_to_py_replacement(repl: str) -> str:
    return re.sub(r"\$(\d)", r"\\\1", repl)


def solid_rewrite():
    """The spec's ReplaceIri chain restated in Python ``re``: applied to
    every IRI term of a line, first occurrence only, in spec order."""
    rules = [
        (re.compile(t["searchRegex"]), _js_to_py_replacement(t["replacementString"]))
        for t in SOLID_SPEC["transformers"]
    ]

    def iri(m: re.Match) -> str:
        v = m.group(1)
        for pat, repl in rules:
            v = pat.sub(repl, v, count=1)
        return f"<{v}>"

    return lambda line: re.sub(r"<([^>]*)>", iri, line)


def check_solid(out_dir: str, truth: SolidTruth) -> list[str]:
    rewrite = solid_rewrite()
    expected: dict[str, Counter] = defaultdict(Counter)
    for line, path in zip(truth.lines, truth.paths):
        expected[path][rewrite(line)] += 1
    actual: dict[str, Counter] = {}
    for dirpath, _, files in os.walk(out_dir):
        for name in files:
            full = os.path.join(dirpath, name)
            with open(full) as f:
                actual[os.path.relpath(full, out_dir)] = Counter(x for x in f.read().split("\n") if x)
    problems = []
    missing = expected.keys() - actual.keys()
    extra = actual.keys() - expected.keys()
    if missing:
        problems.append(f"{len(missing)} documents missing (e.g. {sorted(missing)[0]})")
    if extra:
        problems.append(f"{len(extra)} unexpected files (e.g. {sorted(extra)[0]})")
    wrong = [p for p in expected.keys() & actual.keys() if expected[p] != actual[p]]
    if wrong:
        p = sorted(wrong)[0]
        problems.append(
            f"{len(wrong)} documents hold another quad multiset than expected "
            f"(e.g. {p}: {sum((expected[p] - actual[p]).values())} missing, "
            f"{sum((actual[p] - expected[p]).values())} extra)"
        )
    return problems


def lsh_recall_floor(jaccards: list[float], k: int, bands: int) -> float:
    """Expected share of planted links that LSH proposes, from the S-curve
    ``1-(1-J^r)^b`` at each link's Jaccard, less three binomial standard
    deviations."""
    r = k // bands
    s = np.array([1 - (1 - j**r) ** bands for j in jaccards])
    return float(s.mean() - 3 * math.sqrt(float((s * (1 - s)).sum())) / len(s))


def check_clusters(out_dir: str, truth: KgTruth, k: int, bands: int) -> list[str]:
    problems = []
    got = pq.read_table(out_dir, columns=["doc_id", "cluster_id"]).to_pandas()
    page = pd.to_numeric(got["doc_id"].str.rsplit("/", n=1).str[-1], errors="coerce")
    if page.isna().any() or not page.between(0, len(truth.cluster) - 1).all():
        return ["cluster output names pages that are not in the table"]
    page = page.astype(np.int64)
    if page.duplicated().any():
        problems.append("a page has several cluster ids")
    planted = pd.Series(truth.cluster[page.to_numpy()], index=got.index)
    spans = planted.groupby(got["cluster_id"]).nunique()
    if (spans > 1).any():
        problems.append(f"{int((spans > 1).sum())} output clusters merge several planted clusters")
    label = dict(zip(page.tolist(), got["cluster_id"].tolist()))
    hit = [a in label and label.get(a) == label.get(b) for a, b, _ in truth.links]
    recall = sum(hit) / len(hit)
    floor = lsh_recall_floor([j for *_, j in truth.links], k, bands)
    if recall < floor:
        problems.append(f"planted-link recall {recall:.4f} below the LSH S-curve floor {floor:.4f}")
    return problems
