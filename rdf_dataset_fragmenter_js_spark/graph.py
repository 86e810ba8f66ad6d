"""Graph closures: the package's one union-find, connected components and
blank-node ownership reachability.

Near-duplicate clusters (``textops.dedup``), entity canonicalization
(``kg.canonicalize``) and blank-node ownership (``strategies.bnode``) all
close their graphs here. Each closure has two physical strategies chosen by
input size: at or below ``driver_threshold`` rows the input is collected and
closed in plain Python, because one distributed round costs several Spark
jobs of fixed scheduling; above it a DataFrame loop runs with
``localCheckpoint`` on every round, so only the edge table iterates.

No loop has a round cap; each stops by construction. Connected components
run large-star/small-star (Kiveris et al., "Connected Components in
MapReduce and Beyond", SoCC 2014), which provably converges to one star per
component, in O(log n) rounds on a path where min-label propagation needs
O(diameter). Each ownership frontier round adds at least one new
(bnode, owner) pair from a finite set, or the frontier is empty.
"""

from __future__ import annotations

import logging
from collections import defaultdict, deque

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

logger = logging.getLogger(__name__)


def local_frame(spark, columns: dict[str, list], schema: str) -> DataFrame:
    """A driver-built result as a DataFrame: ``columns`` (name → values)
    goes to Spark as an Arrow table cast to ``schema``, which plans a
    ``LocalTableScan`` (also when empty, and whatever the session's Arrow
    setting). A frame built from a list of tuples is a pickled Python RDD
    instead, which runs a Python worker every time it is evaluated."""
    import pyarrow as pa

    return spark.createDataFrame(pa.Table.from_pydict(columns), schema)


def union_find(pairs) -> dict:
    """node → smallest member of its component, for every node named in
    ``pairs`` (a node seen only in a self-loop ``(a, a)`` maps to itself).
    The smaller root always wins a union, so every root is its component's
    minimum."""
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    return {x: find(x) for x in parent}


def connected_components(pairs: DataFrame, driver_threshold: int = 1_000_000) -> DataFrame:
    """Connected components over undirected edges (doc_a, doc_b) → one
    (doc_id, cluster_id) row per node; the cluster id is the component's
    smallest member and both columns keep ``doc_a``'s type.

    At most ``driver_threshold`` pairs: one Arrow transfer feeds
    :func:`union_find`. Above it: large-star/small-star. The row-count
    probe runs first, so an over-threshold input is never transferred.
    Callers passing an expensive un-materialized plan should checkpoint it
    (``lsh_candidate_pairs`` already returns a checkpointed frame)."""
    if pairs.limit(driver_threshold + 1).count() <= driver_threshold:
        pdf = pairs.select("doc_a", "doc_b").toPandas()
        labels = union_find(zip(pdf["doc_a"], pdf["doc_b"]))
        t = pairs.schema["doc_a"].dataType.simpleString()
        return local_frame(
            pairs.sparkSession,
            {"doc_id": list(labels), "cluster_id": list(labels.values())},
            f"doc_id {t}, cluster_id {t}",
        )
    labels, _ = _connected_components_distributed(pairs)
    return labels


def _connected_components_distributed(pairs: DataFrame) -> tuple[DataFrame, int]:
    """Large-star/small-star → ((doc_id, cluster_id), rounds).

    Edges are kept undirected as (hi, lo) with hi > lo. Large-star links
    every neighbour larger than a node to the smallest member of the
    node's closed neighbourhood; small-star links a node and its smaller
    neighbours to the smallest of those. One round is one of each; the
    loop stops when a round leaves the edge set unchanged. That fixpoint
    is the star form: each non-minimum node has exactly one edge, to its
    component's minimum."""
    a, b = F.col("doc_a"), F.col("doc_b")
    undirected = (
        pairs.select(F.greatest(a, b).alias("hi"), F.least(a, b).alias("lo"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # the node set is taken before self-loops are dropped, so a node seen
    # only in a pair (a, a) still gets its own row
    nodes = undirected.select(F.explode(F.array("hi", "lo")).alias("doc_id")).distinct()
    edges = undirected.filter(F.col("hi") != F.col("lo"))
    rounds = 0
    while True:
        rounds += 1
        # large-star: the smallest member of lo's closed neighbourhood is
        # min(lo, lo's smaller neighbours); every (hi, lo) edge moves to it
        m = edges.groupBy("hi").agg(F.min("lo").alias("m")).withColumnRenamed("hi", "lo")
        large = (
            edges.join(m, "lo", "left")
            .select("hi", F.coalesce("m", "lo").alias("lo"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        # small-star: hi and each of its smaller neighbours link to the
        # smallest of those neighbours
        m = large.groupBy("hi").agg(F.min("lo").alias("m"))
        small = (
            large.join(m, "hi")
            .filter(F.col("lo") != F.col("m"))
            .select(F.col("lo").alias("hi"), F.col("m").alias("lo"))
            .union(m.select("hi", F.col("m").alias("lo")))
            .distinct()
            .localCheckpoint(eager=True)
        )
        if small.subtract(edges).isEmpty() and edges.subtract(small).isEmpty():
            break
        edges = small
    logger.info("connected components converged in %d rounds", rounds)
    star = edges.select(F.col("hi").alias("doc_id"), F.col("lo").alias("cluster_id"))
    labels = nodes.join(star, "doc_id", "left").select(
        "doc_id", F.coalesce("cluster_id", "doc_id").alias("cluster_id")
    )
    return labels, rounds


def reachable_owners(
    base: DataFrame, edges: DataFrame, driver_threshold: int = 1_000_000
) -> DataFrame:
    """Multi-source reachability: every distinct seed (bnode, owner) in
    ``base`` passes its owner along ``edges`` (src → dst) to each bnode
    reachable from the seed. Returns DataFrame[bnode: string, owner: string].

    When both tables have at most ``driver_threshold`` rows they are
    collected (Arrow-batched ``toPandas``, after cheap count probes) and
    closed by a driver worklist. Above it, a semi-naive frontier join runs
    until the frontier is empty, re-joining only the rows found in the
    previous round."""
    if driver_threshold and (
        base.limit(driver_threshold + 1).count() <= driver_threshold
        and edges.limit(driver_threshold + 1).count() <= driver_threshold
    ):
        b_pdf = base.toPandas()
        e_pdf = edges.toPandas()
        rows = _reachable_owners_driver(
            zip(b_pdf["bnode"], b_pdf["owner"]), zip(e_pdf["src"], e_pdf["dst"])
        )
        return local_frame(
            base.sparkSession,
            {"bnode": [b for b, _ in rows], "owner": [o for _, o in rows]},
            "bnode string, owner string",
        )

    owners = frontier = base
    rounds = 0
    while True:
        rounds += 1
        grown = (
            frontier.join(edges, frontier["bnode"] == edges["src"])
            .select(F.col("dst").alias("bnode"), F.col("owner"))
            .distinct()
            .join(owners, on=["bnode", "owner"], how="left_anti")
            .localCheckpoint(eager=True)
        )
        if grown.isEmpty():
            break
        owners = owners.unionByName(grown).localCheckpoint(eager=True)
        frontier = grown
    logger.info("bnode ownership converged in %d rounds", rounds)
    return owners


def _reachable_owners_driver(base, edges) -> list[tuple[str, str]]:
    """Driver worklist for :func:`reachable_owners`: a bnode is re-queued
    only when its owner set grows, so the loop ends once no set can."""
    own: dict[str, set] = defaultdict(set)
    for b, o in base:
        own[b].add(o)
    adj: dict[str, list] = defaultdict(list)
    for s, d in edges:
        adj[s].append(d)
    work = deque(own)
    while work:
        b = work.popleft()
        for d in adj.get(b, ()):
            new = own[b] - own[d]
            if new:
                own[d] |= new
                work.append(d)
    return [(b, o) for b, owners in own.items() for o in owners]
