"""Physical-plan guards: the PLANS.md claims, asserted on .explain output
so optimizer-visible regressions (a Python node sneaking into a per-quad
path, a lost pushdown, a cartesian product) fail CI instead of silently
costing 100x at scale."""

from __future__ import annotations

import io
from contextlib import redirect_stdout

import pytest


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def queries():
    import __spark_entry__ as E

    return E.queries()


def test_per_quad_resolver_paths_have_no_python(spark, queries):
    """relativePath routing and AppendQuadLink resolve IRIs per QUAD — the
    native Column resolver must keep Python out of those plans (the 100 TB
    hazard is an Arrow crossing per quad)."""
    for name in ("frag_subject_relative", "transform_append_quad_link"):
        plan = plan_of(queries[name](spark, SF))
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, name


def test_remap_mapping_uses_arrow_resolver(spark, queries):
    """The remap mapping table is per-RESOURCE (small side) where the
    Arrow-batched resolver measured 2-4x faster than the codegen-giant
    native expression (BENCH.md round-3 A/B) — assert the measured choice
    stays."""
    plan = plan_of(queries["transform_remap_resource"](spark, SF))
    assert "ArrowEvalPython" in plan


def test_no_cartesian_products_anywhere(spark, queries):
    """No operator may fall back to a cartesian/nested-loop join on the
    gate corpus — candidate generation is always bucketed/blocked."""
    for name in (
        "dedup_minhash_lsh",
        "sim_cosine_topk_lsh",
        "sim_embedding_near_dups",
        "kg_entity_link",
        "frag_resource_object",
        # distributed canonicalization: candidate pairs must come from the
        # token-block equi-join, never an all-pairs form×form product
        "kg_canonical_mapping",
    ):
        plan = plan_of(queries[name](spark, SF))
        assert "CartesianProduct" not in plan, name


def test_minhash_uses_fixed_width_aggregate(spark):
    """The MinHash signature groupBy of ``dedup_minhash_lsh`` reduces long
    minima, so it plans a HashAggregate with map-side partial mins — never
    a SortAggregate (min over strings) or an ObjectHashAggregate. The
    query returns checkpointed pairs, so the plan checked is the same
    banded-signature stage over the query's documents."""
    import __spark_entry__ as E
    from rdf_dataset_fragmenter_js_spark.textops import dedup as D

    plan = plan_of(D.banded_signatures(E._docs(spark, SF), k=8, bands=4, shingle_size=8))
    assert "SortAggregate" not in plan and "ObjectHashAggregate" not in plan
    assert "partial_min" in plan and "HashAggregate" in plan


def test_driver_fast_paths_return_local_arrow_tables(spark):
    """The driver fast paths of connected_components, canonical_mapping and
    surface_canonical_mapping hand back an Arrow LocalTableScan, not a
    pickled Python RDD (ExistingRDD), and their rows equal the distributed
    plans'."""
    from rdf_dataset_fragmenter_js_spark.graph import connected_components
    from rdf_dataset_fragmenter_js_spark.kg.canonicalize import (
        canonical_mapping,
        surface_canonical_mapping,
    )

    pairs = spark.createDataFrame([(1, 2), (2, 3), (7, 8), (9, 9)], "doc_a bigint, doc_b bigint")
    mentions = spark.createDataFrame(
        [("Alice Johnson",), ("A. Johnson",), ("Bob Smith",), ("B. Smith",), ("Acme Corp",)],
        "surface string",
    )
    empty = spark.createDataFrame([], "surface string")
    cases = [
        (connected_components, pairs),
        (canonical_mapping, mentions),
        (surface_canonical_mapping, mentions),
        (canonical_mapping, empty),
    ]
    for fn, arg in cases:
        driver = fn(arg)
        plan = plan_of(driver)
        assert "LocalTableScan" in plan and "ExistingRDD" not in plan, fn.__name__
        distributed = fn(arg, driver_threshold=0)
        assert driver.dtypes == distributed.dtypes, fn.__name__
        assert sorted(driver.collect()) == sorted(distributed.collect()), fn.__name__


def test_column_pruning_reaches_scan(spark, queries):
    """Dedup reads only (doc_id, text) — scan width scales with used
    columns, not table width."""
    plan = plan_of(queries["dedup_exact"](spark, SF))
    scan_lines = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert scan_lines and all(
        "lang" not in l and "source" not in l for l in scan_lines
    ), plan[:2000]


def test_predicate_pushdown_reaches_scan(spark, queries):
    """The ANN query side (vec_id < 10) must reach the parquet reader as a
    pushed filter."""
    plan = plan_of(queries["sim_cosine_topk"](spark, SF))
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert any("vec_id" in l for l in pushed), pushed


def test_ivf_centroid_init_is_take_ordered(spark, queries):
    """IVF centroid INIT must compile to TakeOrderedAndProject (per-partition
    top-K, driver merge) — never a corpus-wide single-partition Window/Sort.
    The final gate query plan is checkpoint-truncated, so assert on the init
    expression directly."""
    from rdf_dataset_fragmenter_js_spark.textops.similarity import quantize_col
    from pyspark.sql import functions as F

    qc = (
        spark.read.parquet(f"{SF}/embeddings.parquet")
        .select(
            F.col("vec_id").alias("vid"),
            quantize_col(F.col("embedding"), 4096).alias("qvec"),
        )
    )
    init = qc.select("vid", "qvec").sort("vid").limit(8)
    plan = plan_of(init)
    assert "TakeOrderedAndProject" in plan, plan[:2000]
    assert "Window" not in plan, plan[:2000]
    # Every Window in the full gate plan must be PARTITIONED (by query_id
    # for the final top-k rank, or by vid for the per-vector probe rank);
    # an unpartitioned windowspec would be a corpus-wide single-partition
    # sort. (The K-row centroid-numbering window is checkpoint-truncated
    # out of this plan and never touches the corpus.)
    full = plan_of(queries["sim_cosine_topk_ivf"](spark, SF))
    for frag in full.split("windowspecdefinition(")[1:]:
        assert frag.startswith(("query_id", "vid")), frag[:120]


def test_summary_aggregates_are_partial(spark, queries):
    """VoID property partitions must map-side combine (partial aggregates)
    — the shuffle carries per-group rows, not the exploded input."""
    plan = plan_of(queries["summary_void_properties"](spark, SF))
    assert "partial_" in plan
