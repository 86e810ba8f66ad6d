"""The two workloads: input size, the timed job, its output check and
the traced run of its layers.

A job is what a user runs: the engine's public entry points, from the
input files to the complete written result. The traced variant calls the
same public functions one layer at a time, each under its own Spark job
group and with its output materialized (``localCheckpoint``), so a
layer's time excludes its inputs.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark.sql import functions as F

import checks
import gen
from harness import dir_bytes, dir_files

from rdf_dataset_fragmenter_js_spark.kg.canonicalize import (
    apply_surface_canonicalization,
    surface_canonical_mapping,
)
from rdf_dataset_fragmenter_js_spark.kg.extract import extract_page_triples
from rdf_dataset_fragmenter_js_spark.kg.pipeline import build_quads, fragment_and_write, triples_to_quads
from rdf_dataset_fragmenter_js_spark.kg.webpages import read_pages
from rdf_dataset_fragmenter_js_spark.plans.pipeline import build_transformer, run_pipeline_spec
from rdf_dataset_fragmenter_js_spark.sinks.paths import map_doc_to_path, write_fragment_nquads
from rdf_dataset_fragmenter_js_spark.sources.nquads import read_rdf
from rdf_dataset_fragmenter_js_spark.strategies import route_subject
from rdf_dataset_fragmenter_js_spark.textops import dedup as D

#: input sizes (see README.md for what each holds)
KG_PAGES = 800
SOLID_PODS = 60
#: LSH and verification settings of near-duplicate page removal
LSH_K, LSH_BANDS, SHINGLE, MIN_JACCARD_BP = 8, 4, 8, 7000


class Tracer:
    """Wall-clock spans around layer calls, each under the job group
    ``layer:<name>`` so the event log attributes its stages to it. The
    traced job runs from the first span to ``mark_job_end``; spans after
    that are nested layers measured on their own. Counts are taken only
    ``with_counts``, after the nested spans."""

    def __init__(self, spark, with_counts: bool):
        self.sc = spark.sparkContext
        self.with_counts = with_counts
        self.spans: dict[str, float] = {}
        self.counts: dict[str, float] = {}
        self.t_start: float | None = None
        self.job_wall = 0.0

    def span(self, name: str, fn: Callable[[], Any]) -> Any:
        self.sc.setJobGroup(f"layer:{name}", name)
        t0 = time.perf_counter()
        if self.t_start is None:
            self.t_start = t0
        try:
            return fn()
        finally:
            self.spans[name] = time.perf_counter() - t0
            self.sc.setJobGroup("bench:other", "outside layers")

    def mark_job_end(self) -> None:
        self.job_wall = time.perf_counter() - self.t_start


def _checkpoint(df):
    return df.localCheckpoint(eager=True)


@dataclass
class Workload:
    #: (seed, input dir) → ground truth; writes the input files
    generate: Callable[[int, str], Any]
    #: (spark, input dir, output dir) → None; the timed job
    job: Callable[[Any, str, str], None]
    #: (output dir, truth) → list of problems
    check: Callable[[str, Any], list[str]]
    #: (spark, input dir, output dir, tracer) → None; the traced job
    traced: Callable[[Any, str, str, Tracer], None]
    #: layers whose work is also inside another layer's call: measured
    #: on their own after the job and subtracted from the enclosing one
    nested: dict[str, str] = field(default_factory=dict)


# ---------------------------------------------------------------- kg_pages


def _docs(pages):
    return pages.select(F.col("url").alias("doc_id"), "text")


def _verified(docs, pairs):
    return D.ngram_jaccard_pairs(docs, pairs, shingle_size=SHINGLE).filter(F.col("jaccard_bp") >= MIN_JACCARD_BP)


def _keep(pages, clusters, out: str):
    """Write the cluster ids, and drop every clustered page but the one
    whose url is its cluster's id."""
    clusters.write.parquet(os.path.join(out, "_clusters"))
    dups = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select(F.col("doc_id").alias("url"))
    return pages.join(dups, on="url", how="left_anti")


def kg_job(spark, inp: str, out: str) -> None:
    pages = read_pages(spark, inp)
    docs = _docs(pages)
    pairs = D.lsh_candidate_pairs(docs, k=LSH_K, bands=LSH_BANDS, shingle_size=SHINGLE)
    clusters = D.near_dup_clusters(_verified(docs, pairs).select("doc_a", "doc_b"))
    fragment_and_write(build_quads(_keep(pages, clusters, out)), out)


def kg_traced(spark, inp: str, out: str, t: Tracer) -> None:
    pages = t.span("scan", lambda: _checkpoint(read_pages(spark, inp)))
    docs = _docs(pages)
    pairs = t.span("candidates", lambda: D.lsh_candidate_pairs(docs, k=LSH_K, bands=LSH_BANDS, shingle_size=SHINGLE))
    verified = t.span("verify", lambda: _checkpoint(_verified(docs, pairs)))
    kept = t.span(
        "cluster",
        lambda: _checkpoint(_keep(pages, D.near_dup_clusters(verified.select("doc_a", "doc_b")), out)),
    )
    triples = t.span("extract", lambda: _checkpoint(extract_page_triples(kept)))

    def canonicalize():
        mentions = triples.select(F.col("subj_surface").alias("surface")).unionByName(
            triples.select(F.col("obj_surface").alias("surface"))
        )
        return _checkpoint(surface_canonical_mapping(mentions))

    mapping = t.span("canonicalize", canonicalize)
    quads = t.span("apply", lambda: _checkpoint(triples_to_quads(apply_surface_canonicalization(triples, mapping))))
    t.span("write", lambda: fragment_and_write(quads, out))
    t.mark_job_end()
    routed = t.span("route", lambda: _checkpoint(route_subject(quads)))
    t.span(
        "signatures",
        lambda: _checkpoint(D.banded_signatures(docs, k=LSH_K, bands=LSH_BANDS, shingle_size=SHINGLE)),
    )
    if not t.with_counts:
        return
    n_pairs, n_verified = pairs.count(), verified.count()
    t.counts["candidates.pairs"] = n_pairs
    t.counts["candidates.precision"] = n_verified / n_pairs if n_pairs else 0.0
    t.counts["canonicalize.surfaces"] = mapping.count()
    _route_counts(t, routed)
    t.counts["write.files"] = dir_files(os.path.join(out, "fragments"))
    t.counts["write.mb"] = dir_bytes(out) / 2**20


def _route_counts(t: Tracer, routed) -> None:
    per_doc = routed.groupBy("doc").count().agg(F.count("*").alias("docs"), F.max("count").alias("top")).first()
    t.counts["route.docs"] = per_doc["docs"]
    t.counts["route.max_doc_rows"] = per_doc["top"]


# ------------------------------------------------------------ solid_nquads


def solid_spec(inp: str) -> dict:
    return dict(gen.SOLID_SPEC, quadSource={"@type": "QuadSourceFile", "filePath": os.path.join(inp, "*.nq")})


def solid_job(spark, inp: str, out: str) -> None:
    run_pipeline_spec(spark, solid_spec(inp), out)


def solid_traced(spark, inp: str, out: str, t: Tracer) -> None:
    spec = solid_spec(inp)
    quads = t.span("parse", lambda: _checkpoint(read_rdf(spark, spec["quadSource"]["filePath"])))

    def transform():
        df = quads
        for tr in spec["transformers"]:
            df = build_transformer(tr)(df)
        return _checkpoint(df)

    transformed = t.span("transform", transform)
    routed = t.span("route", lambda: _checkpoint(route_subject(transformed)))
    with_path = t.span("pathmap", lambda: _checkpoint(map_doc_to_path(routed, spec["quadSink"]["iriToPath"])))
    t.span("write", lambda: write_fragment_nquads(with_path, out).collect())
    t.mark_job_end()
    if not t.with_counts:
        return
    _route_counts(t, routed)
    t.counts["write.files"] = dir_files(out)
    t.counts["write.mb"] = dir_bytes(out) / 2**20


WORKLOADS = {
    "kg_pages": Workload(
        lambda seed, inp: gen.gen_kg_pages(seed, inp, KG_PAGES),
        kg_job,
        lambda out, truth: checks.check_kg(out, truth, LSH_K, LSH_BANDS),
        kg_traced,
        nested={"route": "write", "signatures": "candidates"},
    ),
    "solid_nquads": Workload(
        lambda seed, inp: gen.gen_solid_nquads(seed, inp, SOLID_PODS),
        solid_job,
        checks.check_solid,
        solid_traced,
    ),
}

#: every layer, in pipeline order
LAYERS = [
    "scan", "signatures", "candidates", "verify", "cluster",
    "extract", "canonicalize", "apply", "route", "write",
    "parse", "transform", "pathmap",
]
