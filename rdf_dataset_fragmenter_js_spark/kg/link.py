"""Entity-link scoring: mention surface → best canonical entity.

North-rule stage ("batched mention detection and entity-link scoring"):
mention surfaces (e.g. the subject/object surfaces of
:func:`kg.extract.extract_triples`) are scored against a candidate entity
catalog and linked to the argmax above a threshold.

All scoring is pure Column expressions (character-trigram Jaccard in basis
points — exact integer arithmetic, engine-portable for the oracle gate);
candidate generation is token blocking (first + last token of the
normalized form), so the scoring join runs inside blocks, never all-pairs.
At 100 TB the mention side is corpus-sized and the entity catalog is
KB-sized → AQE broadcasts the exploded catalog blocks.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from rdf_dataset_fragmenter_js_spark.textops.dedup import jaccard_bp, shingle_set


def name_norm_col(col: Column) -> Column:
    """lowercase, strip non-alpha (spaces kept), single-space join of
    tokens — dialect-free (no regex boundaries)."""
    c = F.regexp_replace(F.lower(col), r"[^a-z ]", "")
    toks = F.filter(F.split(c, " "), lambda t: F.length(t) > 0)
    return F.array_join(toks, " ")


def trigram_jaccard_bp_col(a: Column, b: Column) -> Column:
    """Trigram Jaccard of the space-stripped normalized forms in basis
    points (:func:`~.dedup.jaccard_bp`)."""
    return jaccard_bp(
        shingle_set(F.regexp_replace(a, " ", ""), 3),
        shingle_set(F.regexp_replace(b, " ", ""), 3),
    )


def token_blocks(norm: Column) -> Column:
    """Blocking keys of a normalized form: its first and last token
    (abbreviation aliases always share one). Shared by entity linking and
    canonicalization."""
    toks = F.split(norm, " ")
    return F.array_distinct(F.array(F.element_at(toks, 1), F.element_at(toks, -1)))


def link_mentions(
    mentions: DataFrame,
    entities: DataFrame,
    threshold_bp: int = 3000,
    mention_col: str = "mention",
    name_col: str = "name",
    id_col: str = "entity_id",
    block: bool = True,
) -> DataFrame:
    """Link each distinct mention to its best-scoring catalog entity.

    Returns (mention, entity_id, score_bp) for mentions whose argmax score
    ≥ ``threshold_bp``. Ties break on (higher score, lexicographically
    smaller entity_id). ``block=False`` scores every (mention, entity) pair
    — exact but quadratic; the default token blocking scores only pairs
    sharing a first/last normalized token (abbreviation aliases always
    share one)."""
    m = (
        mentions.select(F.col(mention_col).alias("mention"))
        .distinct()
        .withColumn("m_norm", name_norm_col(F.col("mention")))
        .filter(F.col("m_norm") != "")
    )
    e = entities.select(
        F.col(id_col).alias("entity_id"),
        name_norm_col(F.col(name_col)).alias("e_norm"),
    ).filter(F.col("e_norm") != "")

    if block:
        mb = m.withColumn("block", F.explode(token_blocks(F.col("m_norm"))))
        eb = e.withColumn("block", F.explode(token_blocks(F.col("e_norm"))))
        pairs = mb.join(eb, on="block").drop("block").dropDuplicates(
            ["mention", "entity_id"]
        )
    else:
        pairs = m.crossJoin(e)

    scored = pairs.withColumn(
        "score_bp", trigram_jaccard_bp_col(F.col("m_norm"), F.col("e_norm"))
    )
    w = Window.partitionBy("mention").orderBy(
        F.col("score_bp").desc(), F.col("entity_id")
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter((F.col("__rn") == 1) & (F.col("score_bp") >= threshold_bp))
        .select("mention", "entity_id", "score_bp")
    )
