"""Seeded input generators for the three benchmark workloads.

Each generator writes its input files and returns the ground truth the
output checks (``checks.py``) score against. Everything here is plain
Python/NumPy/pyarrow: no code of the engine under test runs while inputs
or ground truth are made, so a fault in the engine cannot leak into what
it is judged against. The same seed always gives the same files.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_CONS = list("bcdfghjklmnprstvz")
_VOWELS = list("aeiou")


def pseudo_words(rng: np.random.Generator, n: int, syllables: tuple[int, int], taken: set[str]) -> list[str]:
    """``n`` distinct lowercase letter-only words of consonant-vowel
    syllables, none of them in ``taken`` (which is updated)."""
    out = []
    while len(out) < n:
        k = int(rng.integers(syllables[0], syllables[1] + 1))
        w = "".join(_CONS[int(rng.integers(len(_CONS)))] + _VOWELS[int(rng.integers(5))] for _ in range(k))
        if rng.random() < 0.5:
            w += _CONS[int(rng.integers(len(_CONS)))]
        if w not in taken:
            taken.add(w)
            out.append(w)
    return out


def zipf_sampler(rng: np.random.Generator, ranked: np.ndarray, exponent: float):
    """``draw(size)`` → items of ``ranked`` (most popular first) with
    popularity ∝ 1/rank^exponent."""
    cdf = np.cumsum(1.0 / np.arange(1, len(ranked) + 1) ** exponent)
    return lambda size: ranked[np.searchsorted(cdf, rng.random(size) * cdf[-1], side="right")]


def write_parquet_parts(table: pa.Table, out_dir: str, n_files: int) -> None:
    os.makedirs(out_dir, exist_ok=True)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        part = table.slice(i * step, step)
        pq.write_table(part, os.path.join(out_dir, f"part-{i:03d}.parquet"), row_group_size=1 << 16)


# ---------------------------------------------------------------------------
# kg_pages: web-page table with embedded subject–predicate–object sentences
# ---------------------------------------------------------------------------

#: the engine's closed predicate lexicon, as (slug, phrase, subject kind,
#: object kind); a page states three of the five, each at most once
KG_PREDICATES = [
    ("works_for", "works for", "person", "org"),
    ("founded", "founded", "person", "org"),
    ("lives_in", "lives in", "person", "city"),
    ("married", "married", "person", "person"),
    ("acquired", "acquired", "org", "org"),
]
ORG_SUFFIXES = ["Labs", "Group", "Works"]
#: input make-up of kg_pages. These are the benchmark's own design
#: choices, not rates measured on a crawl: the share of pages planted in
#: near-duplicate clusters, the least shingle Jaccard of a planted link,
#: the share of pages whose paragraph carries an HTML entity (the
#: extractor's unescape path), and the Zipf exponents of entity and word
#: popularity.
NEAR_DUP_SHARE = 0.2
MIN_PLANTED_JACCARD = 0.8
ENTITY_SHARE = 0.1
ENTITY_ZIPF = 1.1
WORD_ZIPF = 0.9


SHINGLE = 8


def shingles(text: str, n: int = SHINGLE) -> set[str]:
    """Character n-gram set, positions 1..max(len-n+1, 1) as the engine's
    shingler defines them."""
    return {text[i : i + n] for i in range(max(len(text) - n + 1, 1))}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb)


@dataclass
class KgTruth:
    """Ground truth of a page table.

    ``triples`` has one row per sentence of every page that should survive
    near-duplicate removal: (page index, predicate index, subject entity,
    object entity); entity indices are global over persons + orgs +
    cities. ``cluster[p]`` is the planted near-duplicate cluster of page
    ``p`` (its own index when it was planted alone), and ``links`` are the
    planted near-duplicate links (page a, page b, exact shingle Jaccard of
    their texts)."""

    triples: np.ndarray
    cluster: np.ndarray
    links: list[tuple[int, int, float]]
    entity_forms: list[list[str]]


def kg_url(i: int) -> str:
    return f"http://ex.org/site/{i % 211}/page/{i}"


def _norm(surface: str) -> str:
    """The canonicalization rule's normalization, restated: lowercase,
    letters and spaces only, single-letter tokens dropped."""
    s = re.sub(r"[^a-z ]", "", surface.lower())
    return " ".join(t for t in s.split(" ") if len(t) > 1)


def _trigrams(s: str) -> set[str]:
    return {s[i : i + 3] for i in range(max(len(s) - 2, 1))}


def rule_components(forms_by_entity: list[list[str]], containment: float = 0.7) -> list[set[int]]:
    """Entities grouped as the documented canonicalization rule groups
    their surface forms: token blocking on the first and last token of the
    normalized form, trigram containment ``|A∩B|/min(|A|,|B|) ≥ 0.7``
    inside a block, then connected components. Returns the entity sets of
    the components."""
    owner: dict[str, int] = {}
    for e, forms in enumerate(forms_by_entity):
        for f in forms:
            owner[_norm(f)] = e
    parent = {f: f for f in owner}

    def find(x: str) -> str:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    blocks: dict[str, list[str]] = {}
    for f in owner:
        toks = f.split(" ")
        for b in {toks[0], toks[-1]}:
            blocks.setdefault(b, []).append(f)
    tri = {f: _trigrams(f) for f in owner}
    for members in blocks.values():
        for i, a in enumerate(members):
            for b in members[i + 1 :]:
                if len(tri[a] & tri[b]) * 10000 // min(len(tri[a]), len(tri[b])) >= containment * 10000:
                    parent[find(a)] = find(b)
    comps: dict[str, set[int]] = {}
    for f, e in owner.items():
        comps.setdefault(find(f), set()).add(e)
    return list(comps.values())


def _kg_vocabulary(rng, n_persons: int, n_orgs: int, n_cities: int) -> list[list[str]]:
    """Surface forms per entity. Every name token is unique to its entity,
    so only the shared org suffixes put two entities in one block; org
    names the rule would merge are redrawn until no component spans two
    entities."""
    taken = {w.lower() for w in ORG_SUFFIXES}
    first = pseudo_words(rng, n_persons, (2, 3), taken)
    last = pseudo_words(rng, n_persons, (2, 3), taken)
    city = pseudo_words(rng, n_cities, (3, 3), taken)
    forms: list[list[str]] = []
    for f, l in zip(first, last):
        F, L = f.title(), l.title()
        mid = chr(ord("A") + int(rng.integers(26)))
        forms.append([f"{F} {L}", f"{F[0]}. {L}", f"{F} {mid}. {L}"])

    def org_forms(name: str) -> list[str]:
        suffix = ORG_SUFFIXES[int(rng.integers(len(ORG_SUFFIXES)))]
        return [f"{name.title()} {suffix}", name.title()]

    forms += [org_forms(o) for o in pseudo_words(rng, n_orgs, (3, 4), taken)]
    forms += [[c.title()] for c in city]
    for _ in range(50):
        bad = [c for c in rule_components(forms) if len(c) > 1]
        if not bad:
            return forms
        for comp in bad:
            for e in sorted(comp)[1:]:
                forms[e] = org_forms(pseudo_words(rng, 1, (3, 4), taken)[0])
    raise ValueError("could not draw an org vocabulary the rule keeps apart")


def gen_kg_pages(
    seed: int,
    out_dir: str,
    n_pages: int,
    n_persons: int = 800,
    n_orgs: int = 300,
    n_cities: int = 80,
    n_files: int = 8,
) -> KgTruth:
    """Pages state three of the five lexicon predicates between Zipf-drawn
    entities, then a paragraph of 30-45 lowercase pseudo-words with Zipf
    frequencies. ``NEAR_DUP_SHARE`` of the pages sit in planted
    near-duplicate clusters of 2-4 pages (chains or stars: the same
    sentences, one or two paragraph words edited, Jaccard ≥
    ``MIN_PLANTED_JACCARD``); every other page is drawn on its own."""
    rng = np.random.default_rng([seed, 1])
    forms = _kg_vocabulary(rng, n_persons, n_orgs, n_cities)
    base = {"person": 0, "org": n_persons, "city": n_persons + n_orgs}
    draw = {
        k: zipf_sampler(rng, base[k] + rng.permutation(n), ENTITY_ZIPF)
        for k, n in (("person", n_persons), ("org", n_orgs), ("city", n_cities))
    }
    vocab = pseudo_words(rng, 4000, (1, 3), {_norm(f) for fs in forms for f in fs})
    draw_word = zipf_sampler(rng, rng.permutation(len(vocab)), WORD_ZIPF)

    def surface(e: int) -> str:
        f, u = forms[e], rng.random()
        # the full form dominates; variants appear at lower rates
        return f[0] if u < 0.6 or len(f) == 1 else f[1 + int((u - 0.6) / 0.4 * (len(f) - 1))]

    def fresh_head() -> tuple[str, list[tuple[int, int, int]]]:
        triples, sentences = [], []
        for p in rng.permutation(len(KG_PREDICATES))[:3].tolist():
            _, phrase, sk, ok = KG_PREDICATES[p]
            s = int(draw[sk](1)[0])
            o = int(draw[ok](1)[0])
            while o == s:
                o = int(draw[ok](1)[0])
            triples.append((p, s, o))
            sentences.append(f"{surface(s)} {phrase} {surface(o)}.")
        return " ".join(sentences), triples

    def fresh_words() -> list[str]:
        words = [vocab[k] for k in draw_word(int(rng.integers(30, 46))).tolist()]
        if rng.random() < ENTITY_SHARE:  # an entity the extractor must unescape
            words.insert(len(words) // 2, "&amp;")
        return words

    def body(head: str, words: list[str]) -> str:
        return f"{head} {' '.join(words)}."

    def text(head: str, words: list[str]) -> str:
        return body(head, words).replace("&amp;", "&")

    heads: list[str] = []
    paras: list[list[str]] = []
    facts: list[list[tuple[int, int, int]]] = []
    cluster: list[int] = []
    links: list[tuple[int, int, float]] = []

    def add(head, triples, words, cid=None) -> int:
        heads.append(head)
        facts.append(triples)
        paras.append(words)
        cluster.append(len(heads) - 1 if cid is None else cid)
        return len(heads) - 1

    while len(heads) < int(n_pages * NEAR_DUP_SHARE):
        root = add(*fresh_head(), fresh_words())
        chain = rng.random() < 0.5
        for _ in range(int(rng.integers(1, 4))):
            parent = len(heads) - 1 if chain else root
            while True:
                words = list(paras[parent])
                for pos in rng.choice(len(words), size=int(rng.integers(1, 3)), replace=False):
                    words[pos] = vocab[int(rng.integers(len(vocab)))]
                j = jaccard(text(heads[parent], words), text(heads[parent], paras[parent]))
                if j >= MIN_PLANTED_JACCARD:
                    break
            child = add(heads[root], facts[root], words, cid=root)
            links.append((parent, child, j))
    while len(heads) < n_pages:
        add(*fresh_head(), fresh_words())

    # shuffle so planted clusters are not runs of page numbers
    n = len(heads)
    perm = rng.permutation(n)  # page number of generated record r is perm[r]
    order = np.argsort(perm)  # record of page number i is order[i]
    urls, htmls, texts = [], [], []
    for i in range(n):
        r = int(order[i])
        urls.append(kg_url(i))
        texts.append(text(heads[r], paras[r]))
        htmls.append(
            (
                f"<html><head><title>Page {i}</title></head><body><nav><a href=\"/\">home</a></nav>"
                f"<article><p>{body(heads[r], paras[r])}</p></article><footer>archive &copy; 2026</footer></body></html>"
            ).encode()
        )
    table = pa.table(
        {
            "url": pa.array(urls, pa.string()),
            "warc_ts": pa.array(np.datetime64("2026-01-01T00:00:00", "us") + np.arange(n) * 1_000_000),
            "html": pa.array(htmls, pa.binary()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(["en"] * n, pa.string()),
        }
    )
    write_parquet_parts(table, out_dir, n_files)

    page_cluster = perm[np.asarray(cluster)][order]
    # near-duplicate removal keeps the member with the smallest url
    keeper: dict[int, int] = {}
    for i in range(n):
        c = int(page_cluster[i])
        if c not in keeper or urls[i] < urls[keeper[c]]:
            keeper[c] = i
    triples = [
        (i, p, s, o)
        for i in range(n)
        if keeper[int(page_cluster[i])] == i
        for p, s, o in facts[int(order[i])]
    ]
    return KgTruth(
        triples=np.asarray(triples, dtype=np.int64),
        cluster=page_cluster,
        links=[(int(perm[a]), int(perm[b]), j) for a, b, j in links],
        entity_forms=forms,
    )


# ---------------------------------------------------------------------------
# solid_nquads: SolidBench-style social graph as one N-Quads dataset
# ---------------------------------------------------------------------------

LDBC = "http://www.ldbc.eu/data/"
VOC = "http://www.ldbc.eu/vocabulary/"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
XSD = "http://www.w3.org/2001/XMLSchema#"
#: posts are dated over this many days, one document per pod and day
SOLID_DAYS = 30

#: the pipeline spec the solid_nquads workload compiles: a reference-shaped
#: SolidBench config (source → ReplaceIri → subject strategy → N-Quads file
#: sink through iriToPath); ``filePath`` is filled in per run
SOLID_SPEC = {
    "quadSource": {"@type": "QuadSourceFile", "filePath": None},
    "transformers": [
        {
            "@type": "QuadTransformerReplaceIri",
            "searchRegex": "^http://www\\.ldbc\\.eu/data/pers([0-9]+)$",
            "replacementString": "http://localhost:3000/pods/$1/profile/card#me",
        },
        {
            "@type": "QuadTransformerReplaceIri",
            "searchRegex": "^http://www\\.ldbc\\.eu/data/post/([0-9]+)/([0-9-]+)/([0-9]+)$",
            "replacementString": "http://localhost:3000/pods/$1/posts/$2#$3",
        },
    ],
    "fragmentationStrategy": {"@type": "FragmentationStrategySubject"},
    "quadSink": {
        "@type": "QuadSinkFile",
        "outputFormat": "application/n-quads",
        "iriToPath": {"^http://localhost:3000/pods/": "pods/"},
    },
}


@dataclass
class SolidTruth:
    """Every input line with the output file (relative path) it belongs
    to; blank-node lines belong to their owning resource's document."""

    lines: list[str]
    paths: list[str]


def gen_solid_nquads(
    seed: int,
    out_dir: str,
    n_pods: int,
    posts_per_pod: int = 40,
    n_files: int = 8,
) -> SolidTruth:
    rng = np.random.default_rng([seed, 2])
    taken: set[str] = set()
    firsts = pseudo_words(rng, 400, (2, 3), taken)
    words = pseudo_words(rng, 600, (1, 3), taken)
    lines: list[str] = []
    paths: list[str] = []

    def emit(line: str, path: str) -> None:
        lines.append(line)
        paths.append(path)

    post_id = 0
    for pod in range(n_pods):
        pers = f"<{LDBC}pers{pod}>"
        card = f"pods/{pod}/profile/card"
        name = firsts[int(rng.integers(len(firsts)))].title()
        emit(f"{pers} <{RDF_TYPE}> <{VOC}Person> .", card)
        emit(f'{pers} <{VOC}firstName> "{name}" .', card)
        emit(f'{pers} <{VOC}birthday> "19{70 + pod % 30}-0{1 + pod % 9}-1{pod % 10}"^^<{XSD}date> .', card)
        for friend in (pod + 1 + rng.choice(n_pods - 1, size=min(5, n_pods - 1), replace=False)) % n_pods:
            emit(f"{pers} <{VOC}knows> <{LDBC}pers{friend}> .", card)
        addr = f"_:addr{pod}"
        emit(f"{pers} <{VOC}isLocatedIn> {addr} .", card)
        emit(f'{addr} <{VOC}city> "{words[pod % len(words)].title()}" .', card)
        emit(f'{addr} <{VOC}country> "{words[(7 * pod) % len(words)].title()}"@en .', card)
        # a fixed number of posts and quads per pod: only names, dates and
        # texts depend on the seed, so every seed gives the same input size
        for _ in range(posts_per_pod):
            day = int(rng.integers(SOLID_DAYS))
            date = f"2024-{1 + day // 28:02d}-{1 + day % 28:02d}"
            post = f"<{LDBC}post/{pod}/{date}/{post_id}>"
            doc = f"pods/{pod}/posts/{date}"
            content = " ".join(words[int(k)] for k in rng.integers(len(words), size=8))
            if post_id % 10 == 0:
                content = f'{content} \\"quoted\\"'
            emit(f"{post} <{RDF_TYPE}> <{VOC}Post> .", doc)
            emit(f'{post} <{VOC}content> "{content}"@en .', doc)
            emit(f"{post} <{VOC}hasCreator> {pers} .", doc)
            emit(f'{post} <{VOC}creationDate> "{date}T{day % 24:02d}:00:00"^^<{XSD}dateTime> .', doc)
            if post_id % 2 == 0:
                loc, geo = f"_:loc{post_id}", f"_:geo{post_id}"
                emit(f"{post} <{VOC}hasLocation> {loc} .", doc)
                emit(f"{loc} <{VOC}geo> {geo} .", doc)
                emit(f'{geo} <{VOC}lat> "{rng.uniform(-90, 90):.4f}"^^<{XSD}decimal> .', doc)
                emit(f'{geo} <{VOC}long> "{rng.uniform(-180, 180):.4f}"^^<{XSD}decimal> .', doc)
            post_id += 1
    os.makedirs(out_dir, exist_ok=True)
    step = -(-len(lines) // n_files)
    for i in range(n_files):
        with open(os.path.join(out_dir, f"part-{i:03d}.nq"), "w") as f:
            f.write("\n".join(lines[i * step : (i + 1) * step]) + "\n")
    return SolidTruth(lines=lines, paths=paths)
