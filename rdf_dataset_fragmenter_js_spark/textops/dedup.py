"""Deduplication operators for document tables.

All operators take a DataFrame with (id_col, text_col) and are pure
DataFrame plans:

* exact duplicates — hash-groupBy on md5(text); one shuffle, map-side
  partial aggregation;
* MinHash + LSH — shingle set → one 31-bit md5-prefix hash per shingle →
  k affine permutations ``(a_i·h + b_i) mod P`` reduced by long min() →
  banded signatures → bucket self-join (candidates only meet inside a
  bucket: the join key is the band hash, so the shuffle is ~linear in data
  size, never the quadratic all-pairs);
* SimHash — 16-bit token-hash sign aggregate, useful as a cheap near-dup
  blocking key;
* n-gram Jaccard — exact verification on LSH candidates (the classic
  two-stage near-dup pipeline: LSH recall, Jaccard precision);
* near-dup clusters — :func:`near_dup_clusters`, a re-export of
  ``graph.connected_components``;
* embedding cosine near-dup — see similarity.py.

One shingle-set core serves every char n-gram score in the package:
:func:`shingle_set` is the only definition of n-gram positions, and
:func:`jaccard_bp` / :func:`containment_bp` score two sets in basis points.
MinHash explodes the set and reduces it with fixed-width long minima, a
hash aggregate with map-side partial mins; pair verification shingles only
the documents its candidate pairs name, one array per document.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from rdf_dataset_fragmenter_js_spark.functions.hashing import md5_bucket

# re-exported: dedup callers cluster verified pairs as D.near_dup_clusters
from rdf_dataset_fragmenter_js_spark.graph import (  # noqa: F401
    connected_components as near_dup_clusters,
)


def exact_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact duplicate groups via content hash. Returns
    (doc_id, content_hash, canonical_id, is_duplicate) — canonical = min id
    per hash (deterministic)."""
    h = F.md5(F.col(text_col).cast("binary")).alias("content_hash")
    with_hash = docs.select(F.col(id_col).alias("doc_id"), h)
    canon = with_hash.groupBy("content_hash").agg(F.min("doc_id").alias("canonical_id"))
    return (
        with_hash.join(canon, on="content_hash")
        .withColumn("is_duplicate", F.col("doc_id") != F.col("canonical_id"))
        .select("doc_id", "content_hash", "canonical_id", "is_duplicate")
    )


def shingle_set(text: Column, n: int) -> Column:
    """Distinct char n-grams of ``text`` as an array — the one definition of
    n-gram positions (1..max(len-n+1, 1), so text shorter than n yields
    itself). A NULL text yields ``[NULL]``, never a NULL array, so ``size``
    of a set is never NULL, also under ANSI."""
    positions = F.sequence(F.lit(1), F.greatest(F.length(text) - (n - 1), F.lit(1)))
    return F.array_distinct(F.transform(positions, lambda p: F.substring(text, p, n)))


def _overlap(a: Column, b: Column) -> Column:
    """|A∩B| over two shingle sets, as a long. A NULL shingle shares
    nothing: it stands for unknown text."""
    return F.size(F.array_compact(F.array_intersect(a, b))).cast("long")


def jaccard_bp(a: Column, b: Column) -> Column:
    """Jaccard |A∩B| / |A∪B| of two shingle sets in basis points, floored —
    pure integer arithmetic, identical across engines (decimal round() is
    not: Spark rounds the shortest decimal string HALF_UP, DuckDB rounds the
    binary double)."""
    inter = _overlap(a, b)
    return F.floor(inter * 10000 / (F.size(a) + F.size(b) - inter)).cast("long")


def containment_bp(a: Column, b: Column) -> Column:
    """Containment |A∩B| / min(|A|,|B|) of two shingle sets in basis
    points, floored."""
    return F.floor(
        _overlap(a, b) * 10000 / F.least(F.size(a), F.size(b))
    ).cast("long")


#: MinHash prime modulus, the Mersenne prime 2^31 − 1: every shingle hash
#: and permuted value lies in [0, P), so a·h + b < 2^62 fits a long
MINHASH_PRIME = 2**31 - 1


def minhash_constants(k: int) -> list[tuple[int, int]]:
    """(a_i, b_i) of the k affine permutations, one deterministic rule for
    any k: with ``d = md5("perm:<i>")`` as hex, ``a_i = int(d[:8], 16) %
    (P − 1) + 1`` ∈ [1, P−1] and ``b_i = int(d[8:16], 16) % P`` ∈ [0, P−1]."""
    out = []
    for i in range(k):
        d = hashlib.md5(f"perm:{i}".encode()).hexdigest()
        out.append((int(d[:8], 16) % (MINHASH_PRIME - 1) + 1, int(d[8:16], 16) % MINHASH_PRIME))
    return out


def minhash_signatures(
    docs: DataFrame,
    k: int = 8,
    shingle_size: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """k-permutation MinHash signature per doc (Broder 1997): each shingle
    of the exploded :func:`shingle_set` is hashed once, to ``h`` = the first
    8 hex digits of its md5 (over UTF-8) mod P (``md5_bucket``; NULL for a
    NULL shingle), and permutation i is the affine map
    ``(a_i·h + b_i) mod P`` (:func:`minhash_constants`), so
    ``mh_i = min((a_i·h + b_i) mod P)`` over the doc's shingles. Returns
    (doc_id, mh_0..mh_{k-1}) as longs; a NULL text gives NULL minima, and
    rows sharing a doc_id union their sets (the min over rows is the min
    over the union). One explode + one groupBy of fixed-width longs: a hash
    aggregate whose partial mins combine map-side, so the shuffle carries
    k longs per doc."""
    sh = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(shingle_set(F.col(text_col), shingle_size)).alias("shingle"),
    ).select("doc_id", md5_bucket(F.col("shingle"), MINHASH_PRIME).alias("h"))
    aggs = [
        F.min((F.col("h") * a + b) % MINHASH_PRIME).alias(f"mh_{i}")
        for i, (a, b) in enumerate(minhash_constants(k))
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def banded_signatures(
    docs: DataFrame,
    k: int = 8,
    bands: int = 4,
    shingle_size: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """LSH band keys per document: the k-row MinHash signature split into
    ``bands`` bands of ``k/bands`` rows, each band hashed to one key —
    (doc_id, band, band_key). Shared by the dedup self-join and the fuzzy
    decontamination corpus×benchmark join."""
    assert k % bands == 0
    rows = k // bands
    sig = minhash_signatures(
        docs, k=k, shingle_size=shingle_size, id_col=id_col, text_col=text_col
    )
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(
                F.concat_ws(
                    "|", *[F.col(f"mh_{b * rows + r}").cast("string") for r in range(rows)]
                ).cast("binary")
            ).alias("band_key"),
        )
        for b in range(bands)
    ]
    return sig.select(
        F.col("doc_id"), F.explode(F.array(*band_structs)).alias("bk")
    ).select("doc_id", "bk.band", "bk.band_key")


def lsh_candidate_pairs(
    docs: DataFrame,
    k: int = 8,
    bands: int = 4,
    shingle_size: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """LSH banding: split the k-row signature into ``bands`` bands of k/bands
    rows; docs sharing ANY band key are candidates. Returns distinct
    (doc_a, doc_b) with doc_a < doc_b. The self-join is keyed on the band
    hash — co-located by the shuffle, never all-pairs."""
    banded = banded_signatures(
        docs, k=k, bands=bands, shingle_size=shingle_size, id_col=id_col, text_col=text_col
    )
    # Self-join: without materialization Spark recomputes the whole
    # shingle→minhash pipeline for BOTH sides. Persist the (tiny: bands rows
    # per doc) banded signatures so the upstream runs once. At the 100 TB
    # tier this is the "write signatures to a table between phases" step.
    banded = banded.persist()
    a = banded.alias("a")
    b = banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    # Materialize the (candidate-pair-sized, << corpus) result so the cached
    # signatures can be released immediately — repeated calls must not leak
    # session-lifetime cache. This is the "write candidate pairs between
    # phases" step of the scaled pipeline; downstream verify/cluster stages
    # re-read the materialized pairs, not the shingle pipeline.
    pairs = pairs.localCheckpoint(eager=True)
    banded.unpersist()
    return pairs


def _pair_scores(
    docs: DataFrame,
    candidates: DataFrame,
    shingle_size: int,
    score,
    score_name: str,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """``score(sa, sb)`` as ``score_name`` for each (doc_a, doc_b) candidate
    row whose shingle sets overlap. Only the documents named in a pair are
    shingled, one array per doc_id (rows sharing an id union their sets);
    the array is joined to both sides of each pair. Pairs with no shared
    shingle give no row. The pair-sized result is checkpointed so callers
    that read it twice do not re-run the scoring."""
    ids = candidates.select(F.col("doc_a").alias("doc_id")).union(
        candidates.select(F.col("doc_b").alias("doc_id"))
    )
    # texts travel wrapped in a struct: collect_list drops a NULL value but
    # keeps a struct holding one, and a NULL text still counts in |A|
    sets = (
        docs.select(F.col(id_col).alias("doc_id"), F.struct(F.col(text_col).alias("t")).alias("r"))
        .join(ids, on="doc_id", how="left_semi")
        .groupBy("doc_id")
        .agg(
            F.array_distinct(
                F.flatten(
                    F.transform(F.collect_list("r"), lambda r: shingle_set(r["t"], shingle_size))
                )
            ).alias("sh")
        )
    )
    a = sets.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sa"))
    b = sets.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sb"))
    return (
        candidates.select("doc_a", "doc_b")
        .join(a, on="doc_a")
        .join(b, on="doc_b")
        .filter(_overlap(F.col("sa"), F.col("sb")) > 0)
        .select("doc_a", "doc_b", score(F.col("sa"), F.col("sb")).alias(score_name))
        .localCheckpoint(eager=True)
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    candidates: DataFrame,
    shingle_size: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact char-shingle Jaccard (:func:`jaccard_bp`) for candidate pairs →
    (doc_a, doc_b, jaccard_bp); pairs with no shared shingle give no row."""
    return _pair_scores(
        docs, candidates, shingle_size, jaccard_bp, "jaccard_bp", id_col, text_col
    )


def simhash16(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """16-bit SimHash over whitespace tokens, md5-derived bit values
    (engine-portable). Returns (doc_id, simhash) with the hash as a 16-char
    '0'/'1' string (MSB first). Useful as a blocking key: near-identical
    documents agree on most bits."""
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("tok"),
    ).filter(F.col("tok") != "")
    # md5 hex chars 1..4 → 16 bits; bit j of char i = nibble & (1 << j)
    h = F.md5(F.col("tok").cast("binary"))
    cols = []
    for i in range(4):
        nibble = F.instr(F.lit("0123456789abcdef"), F.substring(h, i + 1, 1)) - 1
        for j in range(4):
            # floor-division keeps bit extraction identical across engines
            bit = (F.floor(nibble / (2**j)) % 2).alias(f"bit_{i * 4 + j}")
            cols.append(bit)
    bits = toks.select("doc_id", *cols)
    aggs = [
        F.when(F.sum(F.when(F.col(f"bit_{b}") == 1, 1).otherwise(-1)) > 0, "1")
        .otherwise("0")
        .alias(f"sb_{b}")
        for b in range(16)
    ]
    return bits.groupBy("doc_id").agg(*aggs).select(
        "doc_id", F.concat(*[F.col(f"sb_{b}") for b in range(16)]).alias("simhash")
    )
