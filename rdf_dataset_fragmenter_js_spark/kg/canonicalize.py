"""Entity canonicalization: surface forms → canonical entity ids.

Pipeline (north rule: "salted groupBy + MinHash/connected-components"):

1. normalize surfaces (lower, strip punctuation/initials);
2. salted exact grouping — the groupBy key is ``(norm, salt)`` with
   ``salt = md5(surface) % SALTS`` so one hot surface form ("Acme Corp" on
   half the web) never lands on a single reducer; partial aggregates merge
   in a second, tiny groupBy over at most SALTS rows per key;
3. token blocking (first + last token of the normalized form) produces
   candidate pairs of *different* normalized forms, verified by character
   trigram containment ("diaz" ⊂ "carol diaz");
4. connected components over verified pairs → cluster representative =
   longest member, ties lexicographic;
5. entity id = cluster representative, slugged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rdf_dataset_fragmenter_js_spark.functions.hashing import md5_bucket
from rdf_dataset_fragmenter_js_spark.graph import connected_components, local_frame, union_find
from rdf_dataset_fragmenter_js_spark.kg.link import token_blocks
from rdf_dataset_fragmenter_js_spark.textops.dedup import _pair_scores, containment_bp

SALTS = 64


def ngram_containment_pairs(
    docs: DataFrame, candidates: DataFrame, shingle_size: int = 3
) -> DataFrame:
    """Char n-gram containment (:func:`~.dedup.containment_bp`) for
    candidate pairs → (doc_a, doc_b, containment_bp); pairs with no shared
    n-gram give no row."""
    return _pair_scores(
        docs, candidates, shingle_size, containment_bp, "containment_bp", "doc_id", "text"
    )


def normalize_surface_col(col):
    """Normalization rule: lowercase; strip non-alpha except spaces; drop
    single-letter tokens (initials like 'a.'/'r.' reduce to one letter after
    the strip); single-space join.

    Deliberately boundary-free: an earlier formulation used ``\\b`` to strip
    initials, and Java's ``\\b`` treats Unicode letters as word chars while
    Python's ``re.ASCII`` does not — a one-character dialect divergence
    between this Column path and the driver replica
    (:func:`_normalize_surface_py`), caught by
    tests/test_properties.py. split/filter/join has no dialect."""
    c = F.lower(col)
    c = F.regexp_replace(c, r"[^a-z ]", "")
    toks = F.filter(F.split(c, " "), lambda t: F.length(t) > 1)
    return F.array_join(toks, " ")


def surface_counts(mentions: DataFrame, surface_col: str = "surface") -> DataFrame:
    """Salted two-phase count of surface forms → (norm, n). The first
    groupBy key carries the salt (hot keys spread over SALTS reducers), the
    second merges partials."""
    norm = normalize_surface_col(F.col(surface_col)).alias("norm")
    salted = mentions.select(norm, md5_bucket(F.col(surface_col), SALTS).alias("salt"))
    partial = salted.groupBy("norm", "salt").agg(F.count(F.lit(1)).alias("pn"))
    return partial.groupBy("norm").agg(F.sum("pn").alias("n"))


def _shingles3(s: str) -> set:
    """Driver-side char-trigram set, identical to ``shingle_set(s, 3)``
    (positions 1..max(len-2, 1) → short strings yield themselves)."""
    return {s[i : i + 3] for i in range(max(len(s) - 2, 1))}


#: driver-side replica of :func:`normalize_surface_col` — the explicit
#: ``[^a-z ]`` class is identical in the Java and Python dialects, and the
#: token filter replaces any boundary construct (see the Column docstring)
_NON_ALPHA_RE = __import__("re").compile(r"[^a-z ]", __import__("re").ASCII)


def _normalize_surface_py(s: str) -> str:
    s = _NON_ALPHA_RE.sub("", s.lower())
    return " ".join(t for t in s.split(" ") if len(t) > 1)


def _canonical_mapping_driver_dict(
    forms: list[str], containment_threshold: float
) -> dict[str, str]:
    """norm → slugged canonical id for every input form (token blocking →
    trigram containment → connected components → longest-form
    representative), all driver-side plain Python."""
    import itertools

    threshold_bp = int(containment_threshold * 10000)
    blocks: dict[str, list[str]] = {}
    for f in forms:
        toks = f.split(" ")
        for b in {toks[0], toks[-1]}:
            blocks.setdefault(b, []).append(f)
    pairs = set()
    for members in blocks.values():
        members = sorted(set(members))
        pairs.update(itertools.combinations(members, 2))
    sh = {f: _shingles3(f) for f in forms}
    verified = (
        (a, b)
        for a, b in pairs
        if len(sh[a] & sh[b]) * 10000 // min(len(sh[a]), len(sh[b])) >= threshold_bp
    )
    clusters: dict[str, list[str]] = {}
    for f, root in union_find(verified).items():
        clusters.setdefault(root, []).append(f)
    rows = []
    for members in clusters.values():
        rep = min(members, key=lambda m: (-len(m), m))
        rows.extend((m, rep) for m in members)
    mapped = dict(rows)
    return {f: mapped.get(f, f).replace(" ", "_") for f in forms}


def canonical_mapping(
    mentions: DataFrame,
    surface_col: str = "surface",
    containment_threshold: float = 0.7,
    driver_threshold: int = 100_000,
) -> DataFrame:
    """Build the surface → canonical-id mapping. Returns
    (norm, canonical_id).

    Candidate generation is token blocking (first + last token of the
    normalized form — abbreviation aliases always share one); verification
    is character-trigram CONTAINMENT ``|A∩B| / min(|A|,|B|)`` — the right
    metric for abbreviation aliases ('diaz' ⊂ 'carol diaz' scores 1.0 where
    Jaccard scores 0.25). Connected components merge transitive clusters;
    cluster id = lexicographic-min member.

    Scale: blocks are bounded (hot surname blocks can be capped/salted); the
    pair join happens inside blocks only. An alternative MinHash-LSH
    candidate path is available in textops.dedup for longer texts.

    Two physical strategies behind one API (the same size split as every
    closure in ``graph``): the distinct normalized forms are
    a *vocabulary*, orders of magnitude smaller than the mention stream. At
    ≤ ``driver_threshold`` forms the blocking/containment/CC steps run as
    plain Python on the driver — the DataFrame path costs ~10 tiny jobs
    whose fixed scheduling overhead dwarfs the actual work. Above it, the
    fully distributed plan runs. Both produce identical mappings; the
    *application* of the mapping (the expensive corpus-sized part) is always
    the distributed broadcast join in :func:`apply_canonicalization`."""
    forms = (
        mentions.select(normalize_surface_col(F.col(surface_col)).alias("norm"))
        .filter(F.col("norm") != "")
        .distinct()
        # Materialize the (tiny) distinct-forms table once: everything below
        # re-references it many times (pair join, containment, CC loop) and
        # without cutting lineage each re-reference would re-run the whole
        # upstream extraction over the page corpus.
        .localCheckpoint(eager=True)
    )
    if driver_threshold:
        sample = forms.limit(driver_threshold + 1).collect()
        if len(sample) <= driver_threshold:
            out = _canonical_mapping_driver_dict([r[0] for r in sample], containment_threshold)
            return local_frame(
                mentions.sparkSession,
                {"norm": list(out), "canonical_id": list(out.values())},
                "norm string, canonical_id string",
            )
    docs = forms.select(F.col("norm").alias("doc_id"), F.col("norm").alias("text"))
    blocked = docs.select("doc_id", F.explode(token_blocks(F.col("doc_id"))).alias("block"))
    a = blocked.select(F.col("doc_id").alias("doc_a"), "block")
    b = blocked.select(F.col("doc_id").alias("doc_b"), "block")
    pairs = (
        a.join(b, on="block")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    verified = ngram_containment_pairs(docs, pairs, shingle_size=3).filter(
        F.col("containment_bp") >= int(containment_threshold * 10000)
    )
    clusters = connected_components(verified.select("doc_a", "doc_b"))
    # cluster representative = LONGEST member (most specific surface form),
    # ties broken lexicographically — 'emma brown' represents {'emma brown',
    # 'brown'}, not the abbreviation.
    reps = clusters.groupBy("cluster_id").agg(
        F.min_by("doc_id", F.struct((-F.length("doc_id")).alias("l"), F.col("doc_id"))).alias(
            "rep"
        )
    )
    labeled = clusters.join(reps, on="cluster_id").select(
        F.col("doc_id").alias("norm"), F.col("rep").alias("canonical_id")
    )
    mapping = forms.join(labeled, on="norm", how="left").select(
        "norm", F.coalesce(F.col("canonical_id"), F.col("norm")).alias("canonical_id")
    )
    return mapping.withColumn(
        "canonical_id", F.regexp_replace(F.col("canonical_id"), " ", "_")
    )


def surface_canonical_mapping(
    mentions: DataFrame,
    surface_col: str = "surface",
    containment_threshold: float = 0.7,
    driver_threshold: int = 100_000,
) -> DataFrame:
    """(raw surface → canonical_id) mapping — the scale-path entry point.

    Dedup-before-regex: mention streams are zipfian, so the distinct RAW
    surface set is vocabulary-sized while the stream is corpus-sized. The
    ``distinct()`` here partially aggregates map-side (only distinct forms
    cross the shuffle) and the normalize regexes + clustering then run over
    the tiny distinct set — instead of 3 regex passes over every mention
    occurrence, which at 8 local cores was allocation/GC-bound and capped
    pipeline scaling at ~1.6× for 4× cores. Application becomes a plain
    broadcast join on the raw surface (no per-row regex at all).

    Below ``driver_threshold`` distinct surfaces the whole mapping build is
    ONE Spark job (the map-side-combined distinct + collect) followed by
    driver-side normalize/cluster — the multi-job DataFrame path costs
    several seconds of fixed scheduling for a vocabulary-sized input, which
    was the dominant non-scaling term of the end-to-end pipeline."""
    raw = (
        mentions.select(F.col(surface_col).alias("surface"))
        .filter(F.col("surface").isNotNull())
        .distinct()
    )
    if driver_threshold:
        sample = raw.limit(driver_threshold + 1).collect()
        if len(sample) <= driver_threshold:
            surfaces = [r[0] for r in sample]
            norms = {s: _normalize_surface_py(s) for s in surfaces}
            forms = sorted({n for n in norms.values() if n})
            canon = _canonical_mapping_driver_dict(forms, containment_threshold)
            return local_frame(
                mentions.sparkSession,
                {
                    "surface": surfaces,
                    "canonical_id": [canon.get(norms[s], norms[s]) for s in surfaces],
                },
                "surface string, canonical_id string",
            )
    raw = raw.localCheckpoint(eager=True)
    norm_mapping = canonical_mapping(
        raw,
        "surface",
        containment_threshold=containment_threshold,
        driver_threshold=0,
    )
    with_norm = raw.withColumn("norm", normalize_surface_col(F.col("surface")))
    return with_norm.join(norm_mapping, on="norm", how="left").select(
        "surface",
        F.coalesce(F.col("canonical_id"), F.col("norm")).alias("canonical_id"),
    )


def apply_surface_canonicalization(
    triples: DataFrame,
    surface_mapping: DataFrame,
    cols: tuple[str, str] = ("subj_surface", "obj_surface"),
) -> DataFrame:
    """Rewrite surface columns to canonical ids via raw-surface joins (the
    mapping side is vocabulary-sized → AQE broadcasts it). No regex on the
    corpus-sized side; identical output to
    ``apply_canonicalization(triples, canonical_mapping(...))``."""
    out = triples
    for c in cols:
        m = surface_mapping.select(
            F.col("surface").alias(f"__s_{c}"), F.col("canonical_id").alias(f"__c_{c}")
        )
        out = (
            out.join(m, F.col(c) == F.col(f"__s_{c}"), "left")
            .withColumn(
                c.replace("_surface", "_id"),
                F.coalesce(F.col(f"__c_{c}"), normalize_surface_col(F.col(c))),
            )
            .drop(f"__s_{c}", f"__c_{c}")
        )
    return out


def apply_canonicalization(
    triples: DataFrame,
    mapping: DataFrame,
    cols: tuple[str, str] = ("subj_surface", "obj_surface"),
) -> DataFrame:
    """Rewrite surface columns to canonical entity ids (two AQE-managed
    joins; the mapping side is usually broadcastable)."""
    out = triples
    for c in cols:
        m = mapping.select(
            F.col("norm").alias(f"__n_{c}"), F.col("canonical_id").alias(f"__c_{c}")
        )
        out = (
            out.withColumn(f"__norm_{c}", normalize_surface_col(F.col(c)))
            .join(m, F.col(f"__norm_{c}") == F.col(f"__n_{c}"), "left")
            .withColumn(
                c.replace("_surface", "_id"),
                F.coalesce(F.col(f"__c_{c}"), F.col(f"__norm_{c}")),
            )
            .drop(f"__norm_{c}", f"__n_{c}", f"__c_{c}")
        )
    return out
