"""End-to-end KG construction + fragmentation (the north-rule pipeline):

    web pages (Iceberg/parquet: url, warc_ts, html, text, lang)
      → extract_text            (Arrow mapInPandas; byte-identical per url)
      → extract_triples         (OpenIE-style SVO, Arrow)
      → canonical_mapping       (salted groupBy + MinHash-LSH + CC)
      → quad graph              (entity IRIs, provenance graph = url)
      → route_subject           (reference fragmentation semantics)
      → partitioned write       (per-fragment files, checkpoint manifest,
                                 lineage + row-count metrics per fragment)

Scale notes: the only shuffles are (a) the canonicalization groupBys —
salted, (b) the two mapping joins — AQE broadcast, (c) the final
repartition by fragment. Extraction is embarrassingly parallel map work.
Resume: fragments already present in the manifest are skipped
(overwrite-by-partition semantics; on Iceberg this is a snapshot-commit per
partition filter).
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rdf_dataset_fragmenter_js_spark.kg.canonicalize import (
    apply_surface_canonicalization,
    surface_canonical_mapping,
)
from rdf_dataset_fragmenter_js_spark.kg.extract import extract_page_triples
from rdf_dataset_fragmenter_js_spark.quads import NAMED_NODE
from rdf_dataset_fragmenter_js_spark.strategies import route_subject

ENTITY_NS = "http://kg.ex.org/entity/"
REL_NS = "http://kg.ex.org/rel/"


def triples_to_quads(canonical_triples: DataFrame) -> DataFrame:
    """(url, subj_id, pred, obj_id) → quad relation. Entities become
    NamedNodes under ENTITY_NS; the source url is kept as the graph term
    (per-quad provenance)."""
    t = canonical_triples
    return t.select(
        F.lit(NAMED_NODE).alias("s_type"),
        F.concat(F.lit(ENTITY_NS), F.col("subj_id")).alias("s"),
        F.concat(F.lit(REL_NS), F.col("pred")).alias("p"),
        F.lit(NAMED_NODE).alias("o_type"),
        F.concat(F.lit(ENTITY_NS), F.col("obj_id")).alias("o"),
        F.lit(None).cast("string").alias("o_datatype"),
        F.lit(None).cast("string").alias("o_lang"),
        F.col("url").alias("g"),
        F.monotonically_increasing_id().alias("seq"),
    )


def build_quads(pages: DataFrame, persist_intermediate: bool = True) -> DataFrame:
    """Pages → canonical quad graph.

    The extracted-triples relation is consumed twice (once aggregated into
    the canonical mapping, once as the output pass); ``persist_intermediate``
    stores it via an eager ``localCheckpoint`` so the page corpus is scanned
    exactly once — checkpoint blocks are OWNED by the returned frame and
    released when it is garbage-collected, unlike a ``persist``, which lives
    in the session CacheManager until explicitly unpersisted and would
    accumulate across repeated calls (the dedup operators follow the same
    rule, ``textops/dedup.py``). At the 100 TB tier this intermediate would
    be written to a table between the two phases instead (same shape,
    explicit storage)."""
    triples = extract_page_triples(pages)  # fused single Arrow stage
    if persist_intermediate:
        triples = triples.localCheckpoint(eager=True)
    mentions = triples.select(F.col("subj_surface").alias("surface")).unionByName(
        triples.select(F.col("obj_surface").alias("surface"))
    )
    # The mapping is tiny (distinct raw surface forms — dedup happens BEFORE
    # any normalization regex); checkpoint it so the two apply-joins don't
    # each re-derive it.
    mapping = surface_canonical_mapping(mentions).localCheckpoint(eager=True)
    canonical = apply_surface_canonicalization(triples, mapping)
    return triples_to_quads(canonical)


def fragment_and_write(
    quads: DataFrame,
    output_dir: str,
    manifest_dir: str | None = None,
    fragment_partitions: int = 0,
    skew_salt: int = 1,
) -> dict:
    """Route quads to fragments (subject strategy) and write one parquet
    dataset partitioned by fragment bucket, with a lineage manifest.

    Lineage/metrics per fragment: row_count + min/max seq. Returns
    (fragments, rows, write_sec); ``metrics.json`` holds fragments and rows.
    Resume: fragments recorded in an existing manifest are excluded from the
    write (checkpoint semantics; with Iceberg this is replaced by
    overwrite-by-partition-filter snapshot commits).
    """
    manifest_dir = manifest_dir or os.path.join(output_dir, "_manifest")
    routed = route_subject(quads)

    spark = quads.sparkSession
    prior_manifest = None
    if _manifest_exists(spark, manifest_dir):
        prior_manifest = spark.read.parquet(manifest_dir)
        done_fragments = prior_manifest.select("fragment").distinct()
        routed = routed.join(
            done_fragments.withColumnRenamed("fragment", "doc"), on="doc", how="left_anti"
        )

    # fragment bucket bounds output-partition fan-out (the reference's
    # 128-open-files LRU concern, lib/io/ParallelFileWriter.ts:24-32):
    # hash-partition fragments into a fixed number of directory buckets.
    # skew_salt > 1 spreads one HOT fragment (a popular subject/domain —
    # the north rule's explicit skew case) over up to `skew_salt` buckets
    # by salting the bucket hash with seq, so no single write task owns a
    # whole hot fragment; readers see the same rows (bucket is a directory
    # shard, not part of the fragment identity).
    n_buckets = fragment_partitions or int(
        spark.conf.get("spark.sql.shuffle.partitions", "32")
    )
    bucket_hash = (
        F.hash(F.col("doc"))
        if skew_salt <= 1
        else F.hash(F.col("doc"), F.pmod(F.col("seq"), F.lit(skew_salt)))
    )
    routed = routed.withColumn("bucket", F.pmod(bucket_hash, F.lit(n_buckets)))
    # persist: consumed twice (fragment write + lineage aggregation); the
    # alternative — re-reading the whole fragments dataset to rebuild the
    # manifest — would re-scan every byte ever written on every resume.
    routed = routed.repartition(n_buckets, F.col("bucket")).persist()
    t0 = time.time()
    routed.write.mode("append").partitionBy("bucket").parquet(
        os.path.join(output_dir, "fragments")
    )
    elapsed = time.time() - t0

    # lineage: this run's fragments only, merged with the prior manifest
    # (incremental — manifest work scales with the delta, not the dataset)
    new_lineage = routed.groupBy(F.col("doc").alias("fragment")).agg(
        F.count(F.lit(1)).alias("row_count"),
        F.min("seq").alias("min_seq"),
        F.max("seq").alias("max_seq"),
    )
    if prior_manifest is not None:
        lineage = prior_manifest.select(
            "fragment", "row_count", "min_seq", "max_seq"
        ).unionByName(new_lineage)
    else:
        lineage = new_lineage
    # manifest is tiny (one row per fragment); materialize before the
    # overwrite so reading prior_manifest and overwriting its dir don't race
    lineage = lineage.localCheckpoint(eager=True)
    routed.unpersist()
    lineage.write.mode("overwrite").parquet(manifest_dir)
    stats = lineage.agg(
        F.count(F.lit(1)).alias("fragments"), F.sum("row_count").alias("rows")
    ).collect()[0]
    metrics = {"fragments": stats["fragments"], "rows": int(stats["rows"] or 0)}
    # the file holds only what the input fixes, so one input always writes
    # the same bytes; the wall-clock write time is returned, not written
    with open(os.path.join(output_dir, "metrics.json"), "w") as f:
        json.dump(metrics, f)
    return {**metrics, "write_sec": round(elapsed, 3)}


def _manifest_exists(spark: SparkSession, manifest_dir: str) -> bool:
    try:
        spark.read.parquet(manifest_dir).limit(1).collect()
        return True
    except Exception:  # noqa: BLE001
        return False


def run_pipeline(pages: DataFrame, output_dir: str) -> dict:
    quads = build_quads(pages)
    return fragment_and_write(quads, output_dir)
