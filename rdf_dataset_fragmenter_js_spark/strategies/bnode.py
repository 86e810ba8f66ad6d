"""Blank-node ownership propagation — the shared primitive behind the
subject/object strategies and dataset-summary attribution.

Reference semantics (``lib/strategy/FragmentationBlankNodeBuffer.ts``):

* a quad whose *key* term (subject for the subject strategy, object for the
  object strategy) is a blank node is buffered;
* a blank node appearing as the *value* term of a quad with a **named** key
  is "owned" by that key (``materializeValueForNamedKey``, :53-64);
* at flush, each buffered quad is emitted into the document of **every**
  owner of its key bnode (multi-owner duplication, :77-84), and ownership
  chases bnode→bnode chains to a fixpoint (:83 re-registers the value term
  under the owner — i.e. owners propagate along key→value edges **from owned
  bnodes only**);
* bnodes that never acquire a named owner are dropped with a warning
  (:111-120).

Spark design: ownership is multi-source reachability over the small
(bnode, owner) link table, computed by ``graph.reachable_owners``
— a driver worklist for small link tables, else a semi-naive frontier join
with ``localCheckpoint`` per round. Like the reference's fixpoint, neither
has a depth limit: a chain of any length gets every owner. At 100 TB the
quad scan happens once — only the link table iterates.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from rdf_dataset_fragmenter_js_spark.graph import reachable_owners
from rdf_dataset_fragmenter_js_spark.quads import BLANK_NODE, NAMED_NODE


def _is(df_col: Column, term_type: str) -> Column:
    return df_col == term_type


def bnode_owners(
    quads: DataFrame,
    key: str,
    key_type: str,
    value: str,
    value_type: str,
    driver_threshold: int = 1_000_000,
) -> DataFrame:
    """Compute the distinct (bnode, owner) ownership table.

    ``key``/``value`` are quad column names (e.g. ``"s"``/``"o"`` for the
    subject strategy). Returns DataFrame[bnode: string, owner: string].

    Two physical strategies, chosen in ``graph.reachable_owners`` by the
    same size split as every closure in ``graph``: link tables ≤
    ``driver_threshold`` rows are collected and closed by a driver
    worklist — the distributed loop costs ~3 jobs of fixed scheduling per
    round, which dwarfs the worklist on small link sets. Above the
    threshold, the semi-naive frontier join runs (the 100 TB path: only the
    link table iterates, never the quads). Neither has a depth limit.
    Measured crossover (BENCH.md "Distributed-path timings"): on
    pre-materialized link tables the distributed loop edges out the driver
    BFS at ~300k links, but inside the full routing query the two paths tie
    at that size (A/B, warm: 16.4 s vs 16.5 s) — the
    1M default keeps the simpler path where it is not measurably worse."""
    # Both link tables come out of ONE pass over the quads (they share the
    # bnode-valued filter and differ only in the key's term type), so the
    # quad-generation plan materializes exactly once into one checkpoint;
    # base/edges are projections over the materialized rows, the threshold
    # probe and driver transfer read them directly, and the distributed
    # loop re-joins `edges` every round without re-deriving the quads.
    links = (
        quads.filter(_is(F.col(value_type), BLANK_NODE))
        .select(
            F.col(key_type).alias("__kt"),
            F.col(key).alias("__k"),
            F.col(value).alias("__v"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    # Base: named key → bnode value  (FragmentationBlankNodeBuffer.ts:53-64)
    base = links.filter(_is(F.col("__kt"), NAMED_NODE)).select(
        F.col("__v").alias("bnode"), F.col("__k").alias("owner")
    )
    # Edges among buffered quads: bnode key → bnode value (chain links, :83)
    edges = links.filter(_is(F.col("__kt"), BLANK_NODE)).select(
        F.col("__k").alias("src"), F.col("__v").alias("dst")
    )
    return reachable_owners(base, edges, driver_threshold)


def route_bnode_quads(
    quads: DataFrame,
    key: str,
    key_type: str,
    value: str,
    value_type: str,
) -> DataFrame:
    """Route buffered (bnode-key) quads into every owner's document.

    Unowned bnode quads are dropped (the reference only warns,
    FragmentationBlankNodeBuffer.ts:111-120). Output: ``doc`` + quad columns,
    duplicated per distinct owner (multi-owner semantics, jest fixture
    ``FragmentationStrategySubject-test.ts:160-167``).
    """
    bnode_quads = quads.filter(_is(F.col(key_type), BLANK_NODE))
    # Short-circuit: most real pipelines have no bnode-keyed quads at all —
    # one limit-1 probe (filter pushed to the scan) avoids the whole
    # iterative-closure machinery and its checkpoint jobs.
    if bnode_quads.limit(1).isEmpty():
        return quads.limit(0).select(F.lit("").alias("doc"), *quads.columns)
    owners = bnode_owners(quads, key, key_type, value, value_type)
    # No broadcast hint: the (bnode, owner) table is usually small but can be
    # proportional to the data at web scale — let AQE pick broadcast vs
    # shuffle-hash at runtime (it sees the actual size post-closure).
    routed = bnode_quads.join(
        owners.withColumnRenamed("bnode", "__bk"),
        bnode_quads[key] == F.col("__bk"),
        "inner",
    ).select(F.col("owner").alias("doc"), *[bnode_quads[c] for c in quads.columns])
    return routed
