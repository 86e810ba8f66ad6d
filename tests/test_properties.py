"""Property-style tests: adversarial round-trips and dual-path parity.

The engine keeps driver-side fast paths semantically identical to the
distributed plans; these tests attack exactly those equivalences plus the
serializer/parser pair with generated inputs (hypothesis for the pure
kernels; one seeded nasty-corpus Spark round-trip for the Column paths —
one job per test, not per example)."""

from __future__ import annotations

import hashlib
import random
import string

from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from rdf_dataset_fragmenter_js_spark.quads import quad, quads_df

NASTY = [
    "",
    " ",
    'quote " inside',
    "back\\slash",
    "new\nline",
    "tab\there",
    "\r carriage",
    'both "quoted" and \\escaped\\',
    "unicode café — naïve ☃",
    'trailing backslash \\',
    '"',
    "\\",
    "\\n literal-backslash-n",
    "ends with newline\n",
]


def _seeded_corpus(n: int = 200) -> list[str]:
    rng = random.Random(42)
    alphabet = string.ascii_letters + string.digits + ' .,"\\\n\t-_#@é☃'
    out = list(NASTY)
    for _ in range(n):
        out.append("".join(rng.choice(alphabet) for _ in range(rng.randint(0, 40))))
    return out


def test_nquads_roundtrip_nasty_literals(spark):
    from rdf_dataset_fragmenter_js_spark.sources.nquads import (
        parse_nquads_lines,
        serialize_nquads,
    )

    rows = [
        quad("http://ex.org/s", "http://ex.org/p", text, o_type="Literal", seq=i)
        for i, text in enumerate(_seeded_corpus())
    ]
    quads = quads_df(spark, rows)
    lines = serialize_nquads(quads).select("line")
    back = parse_nquads_lines(lines, "line")
    want = sorted((r[0], r[1], r[2], r[3], r[4]) for r in quads.collect())
    got = sorted((r[0], r[1], r[2], r[3], r[4]) for r in back.collect())
    assert got == want


def test_normalize_surface_column_vs_driver_python(spark):
    """The driver fast path (_normalize_surface_py) must match the Column
    expression (normalize_surface_col) byte-for-byte — the hot pipeline
    relies on their equivalence."""
    from rdf_dataset_fragmenter_js_spark.kg.canonicalize import (
        _normalize_surface_py,
        normalize_surface_col,
    )

    corpus = _seeded_corpus() + ["A. Johnson", "Alice R. Johnson", "x.y.", "a."]
    df = spark.createDataFrame([(s,) for s in corpus], "surface string")
    got = [
        r.norm
        for r in df.select(normalize_surface_col(F.col("surface")).alias("norm"))
        .collect()
    ]
    want = [_normalize_surface_py(s) for s in corpus]
    assert got == want


def _shingles_py(text, n):
    """Plain-Python char n-gram set; a NULL text is the one unknown shingle."""
    if text is None:
        return {None}
    return {text[i : i + n] for i in range(max(len(text) - n + 1, 1))}


def test_pair_scores_match_python_sets(spark):
    """ngram_jaccard_pairs / ngram_containment_pairs == a plain-Python set
    oracle on NULL text, text shorter than n, repeated shingles, duplicate
    ids (their sets union) and zero-overlap pairs (no row). The NULL/NULL
    pair (ids 900, 901) must give no row: a NULL shingle shares nothing,
    although size(array_intersect([NULL], [NULL])) is 1."""
    from rdf_dataset_fragmenter_js_spark.kg.canonicalize import ngram_containment_pairs
    from rdf_dataset_fragmenter_js_spark.textops.dedup import ngram_jaccard_pairs

    n = 3
    rng = random.Random(11)
    docs = [
        (str(rng.randint(0, 40)), None if rng.random() < 0.1 else "".join(
            rng.choice("ab é") for _ in range(rng.randint(0, 9))
        ))
        for _ in range(120)
    ]
    docs += [("900", None), ("901", None), ("902", "aaaaaa"), ("903", "bbbbbb"), ("904", "aaab")]
    ids = sorted({d for d, _ in docs}) + ["missing"]
    cands = sorted(
        {(a, b) for a in ids for b in ids if a < b and rng.random() < 0.2}
        | {("900", "901"), ("902", "903"), ("902", "904"), ("904", "missing")}
    )
    sets: dict[str, set] = {}
    for d, t in docs:
        sets.setdefault(d, set()).update(_shingles_py(t, n))

    def want(score):
        out = set()
        for a, b in cands:
            if a in sets and b in sets:
                sa, sb = sets[a], sets[b]
                inter = len((sa & sb) - {None})
                if inter:
                    out.add((a, b, score(inter, len(sa), len(sb))))
        return out

    docs_df = spark.createDataFrame(docs, "doc_id string, text string")
    cands_df = spark.createDataFrame(cands, "doc_a string, doc_b string")
    jac = {tuple(r) for r in ngram_jaccard_pairs(docs_df, cands_df, shingle_size=n).collect()}
    con = {
        tuple(r) for r in ngram_containment_pairs(docs_df, cands_df, shingle_size=n).collect()
    }
    assert jac == want(lambda i, na, nb: i * 10000 // (na + nb - i))
    assert con == want(lambda i, na, nb: i * 10000 // min(na, nb))
    assert not {r[:2] for r in jac} & {("900", "901"), ("902", "903")}
    assert ("902", "904") in {r[:2] for r in con}


def _minhash_py(texts, k, n):
    """Plain-Python MinHash of one doc's rows: hash each distinct shingle
    once (first 8 hex digits of md5 over UTF-8, mod P), then per
    permutation i the min of (a_i·h + b_i) mod P, the constants derived
    from md5("perm:<i>"). NULL text adds no hash; no hash gives NULL."""
    p = 2**31 - 1
    perms = []
    for i in range(k):
        d = hashlib.md5(f"perm:{i}".encode()).hexdigest()
        perms.append((int(d[:8], 16) % (p - 1) + 1, int(d[8:16], 16) % p))
    shingles = set().union(*(_shingles_py(t, n) for t in texts)) - {None}
    hs = {int(hashlib.md5(s.encode()).hexdigest()[:8], 16) % p for s in shingles}
    return tuple(min(((a * h + b) % p for h in hs), default=None) for a, b in perms)


def test_minhash_matches_python_restatement(spark):
    """minhash_signatures / banded_signatures == a plain-Python restatement
    on NULL text, text shorter than n, repeated shingles, duplicate doc_id
    rows (their sets union; one of them NULL) and non-ASCII text, whose
    code-point substrings must match Python slicing with md5 over UTF-8.
    Two (k, bands) settings check the constant rule for any k."""
    from rdf_dataset_fragmenter_js_spark.textops.dedup import (
        banded_signatures,
        minhash_signatures,
    )

    n = 3
    docs = [
        ("null", None),
        ("short", "ab"),
        ("empty", ""),
        ("repeat", "abababababab"),
        ("dup", "the quick fox"),
        ("dup", "fox jumps over"),
        ("dup", None),
        ("utf", "naïve café ☃ 😀 Ωμέγα"),
        ("astral", "😀😁😂🤣😃"),
        ("plain", "the quick fox"),
    ]
    by_id: dict[str, list] = {}
    for d, t in docs:
        by_id.setdefault(d, []).append(t)
    docs_df = spark.createDataFrame(docs, "doc_id string, text string")
    for k, bands in ((8, 4), (6, 3)):
        want = {d: _minhash_py(ts, k, n) for d, ts in by_id.items()}
        sig = minhash_signatures(docs_df, k=k, shingle_size=n)
        assert sig.dtypes[1:] == [(f"mh_{i}", "bigint") for i in range(k)]
        got = {r[0]: tuple(r[1:]) for r in sig.collect()}
        assert got == want, k
        rows = k // bands
        want_bands = {
            (d, b, hashlib.md5(
                "|".join(str(m) for m in mh[b * rows : (b + 1) * rows] if m is not None).encode()
            ).hexdigest())
            for d, mh in want.items()
            for b in range(bands)
        }
        got_bands = {
            tuple(r)
            for r in banded_signatures(docs_df, k=k, bands=bands, shingle_size=n).collect()
        }
        assert got_bands == want_bands, k
    assert want["null"] == (None,) * 6
    assert want["dup"] != want["plain"]


@settings(max_examples=200, deadline=None)
@given(
    base=st.lists(
        st.tuples(st.integers(0, 15), st.integers(0, 8)), max_size=20
    ),
    edges=st.lists(
        st.tuples(st.integers(0, 15), st.integers(0, 15)), max_size=20
    ),
)
def test_bnode_closure_matches_bruteforce(base, edges):
    """The driver ownership worklist == brute-force reachability: bnode b
    gets owner o iff some seed (b0, o) exists with b reachable from b0
    along edges."""
    from rdf_dataset_fragmenter_js_spark.graph import _reachable_owners_driver

    b_rows = [(f"b{b}", f"o{o}") for b, o in base]
    e_rows = [(f"b{s}", f"b{d}") for s, d in edges]
    got = _reachable_owners_driver(b_rows, e_rows)
    assert len(got) == len(set(got))
    got = set(got)

    # brute force: reachability from each seeded bnode
    adj: dict[str, set] = {}
    for s, d in e_rows:
        adj.setdefault(s, set()).add(d)
    want = set()
    for b0, o in b_rows:
        seen = {b0}
        stack = [b0]
        while stack:
            cur = stack.pop()
            want.add((cur, o))
            for nxt in adj.get(cur, ()):
                if nxt not in seen:
                    seen.add(nxt)
                    stack.append(nxt)
    assert got == want


def _components_bruteforce(pairs) -> dict:
    """node → smallest node reachable over the undirected pairs."""
    adj: dict = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    out = {}
    for start in adj:
        seen = {start}
        stack = [start]
        while stack:
            for nxt in adj[stack.pop()]:
                if nxt not in seen:
                    seen.add(nxt)
                    stack.append(nxt)
        out[start] = min(seen)
    return out


@settings(max_examples=300, deadline=None)
@given(
    pairs=st.lists(st.tuples(st.integers(0, 15), st.integers(0, 15)), max_size=30),
    n_reversed=st.integers(0, 30),
)
@example(pairs=[(3, 3)], n_reversed=0)
@example(pairs=[(2, 1), (1, 2), (1, 2), (4, 4)], n_reversed=2)
def test_union_find_matches_bruteforce(pairs, n_reversed):
    """union_find maps every node named in the pairs — self-loops,
    duplicates and reversed pairs included — to the smallest node of its
    component."""
    from rdf_dataset_fragmenter_js_spark.graph import union_find

    pairs = pairs + [(b, a) for a, b in pairs[:n_reversed]]
    assert union_find(pairs) == _components_bruteforce(pairs)


# Fixed graphs for the distributed-vs-driver components check: each covers
# a shape the large-star/small-star loop must close exactly.
_CC_GRAPHS = {
    "self_loop_only_node": [(5, 5), (1, 2)],
    "duplicate_and_reversed": [(1, 2), (2, 1), (1, 2), (3, 2)],
    "two_components": [(1, 2), (2, 3), (10, 11), (12, 11)],
    "star": [(7, i) for i in range(8, 20)] + [(7, 3)],
    "path": [(i + 1, i) if i % 3 else (i, i + 1) for i in range(40)],
    "string_ids": [("carol diaz", "diaz"), ("diaz", "c diaz"), ("emma", "emma")],
}


def test_connected_components_distributed_matches_union_find(spark):
    """Large-star/small-star == union_find on each fixed graph, and the
    label columns keep the input id type (long or string)."""
    from rdf_dataset_fragmenter_js_spark.graph import connected_components, union_find

    for name, pairs in _CC_GRAPHS.items():
        df = spark.createDataFrame(pairs, ["doc_a", "doc_b"])
        labels = connected_components(df, driver_threshold=0)
        t = df.dtypes[0][1]
        assert labels.dtypes == [("doc_id", t), ("cluster_id", t)], name
        got = sorted((r.doc_id, r.cluster_id) for r in labels.collect())
        assert got == sorted(union_find(pairs).items()), name


@settings(max_examples=200, deadline=None)
@given(
    pairs=st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 12)).filter(lambda t: t[0] != t[1]),
        max_size=25,
    )
)
def test_canonical_clusters_match_connectivity(pairs):
    """_canonical_mapping_driver_dict with threshold 0 (every blocked pair
    verifies) assigns two forms the same canonical id iff they are connected
    through the blocking graph — and the id is a cluster member."""
    from rdf_dataset_fragmenter_js_spark.kg.canonicalize import (
        _canonical_mapping_driver_dict,
    )

    # forms share a block iff they share first/last token; build forms so
    # that pair (a, b) connects via a shared token "tA_B"
    forms = sorted({f"f{a} l{min(a,b)}x{max(a,b)}" for a, b in pairs} | {f"f{a}" for a, _ in pairs})
    out = _canonical_mapping_driver_dict(forms, containment_threshold=0.0)
    assert set(out) == set(forms)
    # representative is a member of the input set (slugged)
    slugged = {f.replace(" ", "_") for f in forms}
    assert set(out.values()) <= slugged
    # idempotence of representatives: rep of rep == rep
    rep_of = {f.replace(" ", "_"): c for f, c in out.items()}
    for c in set(out.values()):
        assert rep_of.get(c, c) == c


def test_imurmurhash_canonical_vectors():
    """Pin the hash to published MurmurHash3 x86-32 seed-0 test vectors —
    for ASCII input, npm imurmurhash (the reference's hash) equals standard
    MurmurHash3 over the ASCII bytes."""
    from rdf_dataset_fragmenter_js_spark.functions.hashing import imurmurhash

    assert imurmurhash("") == 0x0
    assert imurmurhash("test") == 0xBA6BD213
    assert imurmurhash("hello") == 0x248BFA47
    assert imurmurhash("Hello, world!") == 0xC0363E43
    assert imurmurhash("The quick brown fox jumps over the lazy dog") == 0x2E4FF723


# ---------------------------------------------------------------------------
# Native RFC 3986 resolver parity (functions/iri.py)
# ---------------------------------------------------------------------------

RFC_BASE = "http://a/b/c/d;p?q"

#: RFC 3986 §5.4.1 normal + §5.4.2 abnormal reference examples (strict mode)
RFC_EXAMPLES = [
    ("g:h", "g:h"),
    ("g", "http://a/b/c/g"),
    ("./g", "http://a/b/c/g"),
    ("g/", "http://a/b/c/g/"),
    ("/g", "http://a/g"),
    ("//g", "http://g"),
    ("?y", "http://a/b/c/d;p?y"),
    ("g?y", "http://a/b/c/g?y"),
    ("#s", "http://a/b/c/d;p?q#s"),
    ("g#s", "http://a/b/c/g#s"),
    ("g?y#s", "http://a/b/c/g?y#s"),
    (";x", "http://a/b/c/;x"),
    ("g;x", "http://a/b/c/g;x"),
    ("g;x?y#s", "http://a/b/c/g;x?y#s"),
    ("", "http://a/b/c/d;p?q"),
    (".", "http://a/b/c/"),
    ("./", "http://a/b/c/"),
    ("..", "http://a/b/"),
    ("../", "http://a/b/"),
    ("../g", "http://a/b/g"),
    ("../..", "http://a/"),
    ("../../", "http://a/"),
    ("../../g", "http://a/g"),
    ("../../../g", "http://a/g"),
    ("../../../../g", "http://a/g"),
    ("/./g", "http://a/g"),
    ("/../g", "http://a/g"),
    ("g.", "http://a/b/c/g."),
    (".g", "http://a/b/c/.g"),
    ("g..", "http://a/b/c/g.."),
    ("..g", "http://a/b/c/..g"),
    ("./../g", "http://a/b/g"),
    ("./g/.", "http://a/b/c/g/"),
    ("g/./h", "http://a/b/c/g/h"),
    ("g/../h", "http://a/b/c/h"),
    ("g;x=1/./y", "http://a/b/c/g;x=1/y"),
    ("g;x=1/../y", "http://a/b/c/y"),
    ("g?y/./x", "http://a/b/c/g?y/./x"),
    ("g?y/../x", "http://a/b/c/g?y/../x"),
    ("g#s/./x", "http://a/b/c/g#s/./x"),
    ("g#s/../x", "http://a/b/c/g#s/../x"),
    ("http:g", "http:g"),  # strict mode
]


def test_resolve_iri_rfc3986_examples():
    """The pure-Python resolver pinned to the RFC 3986 §5.4 reference table."""
    from rdf_dataset_fragmenter_js_spark.functions.iri import resolve_iri

    for ref, want in RFC_EXAMPLES:
        assert resolve_iri(ref, RFC_BASE) == want, (ref, want)


def test_resolve_iri_native_matches_python(spark):
    """The all-native Column resolver (the hot-path implementation behind
    subject fragmentation with relativePath, AppendQuadLink, and
    RemapResourceIdentifier minting) must agree with the pure-Python RFC
    resolver on the RFC table × nasty bases × seeded random refs/bases —
    including the §5.2.4 edge where a pop empties the buffer and
    absolutizes a relative path ('a/../b' → '/b')."""
    from rdf_dataset_fragmenter_js_spark.functions.iri import (
        resolve_iri,
        resolve_iri_col,
    )

    bases = [
        RFC_BASE,
        "http://ex.org/a",
        "http://ex.org/a/",
        "http://ex.org",
        "http://ex.org/",
        "http://ex.org/a?q=1",
        "http://ex.org/a#f",
        "http://ex.org/a?q=1#f",
        "urn:ab",
        "urn:a/b",
        "mailto:x@y",
        "a/b",
        "ab",
        "",
        "//auth",
        "http://ex.org/a/./b",
        "http://ex.org/a/../b",
        "file:///x/y",
    ]
    refs = [r for r, _ in RFC_EXAMPLES] + [
        "a/../b",
        "a/../../b",
        "a//../b",
        "a//..",
        "x/y/../../../z",
        "..//g",
        "g//",
        "//",
        "///p",
        "?",
        "#",
        "?#",
        "e/f#s?x",  # '#' before '?': query belongs to the fragment
    ]
    rng = random.Random(7)
    atoms = ["a", "bb", ".", "..", "", "g;x", "d%20e"]
    for _ in range(120):
        path = "/".join(rng.choice(atoms) for _ in range(rng.randint(1, 5)))
        prefix = rng.choice(["", "/", "//h/", "s:", "s://h/"])
        suffix = rng.choice(["", "?q", "#f", "?q#f", "?", "#"])
        refs.append(prefix + path + suffix)
        bases.append(rng.choice(["http://h/", "http://h/p/q", "s:", "x/y?q#f"]) + path)

    rows = [(r, b) for r in refs for b in bases]
    df = spark.createDataFrame(rows, "ref string, base string")
    got = df.withColumn("native", resolve_iri_col(F.col("ref"), F.col("base"))).collect()
    assert len(got) == len(rows)
    for row in got:
        want = resolve_iri(row.ref, row.base)
        assert row.native == want, (row.ref, row.base, row.native, want)


@settings(max_examples=60, deadline=None)
@given(
    strs=st.lists(
        st.text(
            alphabet=st.characters(
                codec="utf-16", categories=("L", "N", "P", "S", "Z", "C")
            ),
            max_size=40,
        ),
        max_size=30,
    )
)
def test_imurmurhash_batch_matches_scalar(strs):
    """The numpy-vectorized murmur (rounds loop over the batch, not rows)
    must equal the scalar JS-faithful implementation — including astral
    codepoints, which contribute two UTF-16 surrogates like a JS string."""
    import numpy as np

    from rdf_dataset_fragmenter_js_spark.functions.hashing import (
        imurmurhash,
        imurmurhash_batch,
    )

    got = imurmurhash_batch(strs)
    want = np.array([imurmurhash(s) for s in strs], dtype=np.uint32)
    assert (got == want).all()


def test_imurmurhash_astral_uses_surrogate_pairs():
    """JS strings are UTF-16: an astral char hashes as its two surrogates,
    not as one codepoint (charCodeAt semantics of npm imurmurhash)."""
    import numpy as np

    from rdf_dataset_fragmenter_js_spark.functions.hashing import (
        imurmurhash,
        imurmurhash_batch,
    )

    s = "a\U0001F600b"  # 4 UTF-16 code units: 'a', D83D, DE00, 'b'
    assert imurmurhash(s) == int(imurmurhash_batch([s])[0])
    # differs from hashing the raw codepoint sequence (pre-fix behavior)
    assert imurmurhash(s) != imurmurhash("ab")


def test_murmur_duckdb_oracle_matches_python():
    """The recursive-CTE MurmurHash3 used by the matcher_term_value /
    summary_bloom DuckDB oracles (__spark_entry__._murmur_ctes) equals the
    Python reference over random printable-ASCII strings of every tail
    length (the gate corpus is ASCII, where JS code units == bytes)."""
    import random
    import string

    import duckdb

    from __spark_entry__ import _murmur_ctes
    from rdf_dataset_fragmenter_js_spark.functions.hashing import imurmurhash

    rng = random.Random(20260817)
    tests = {"", "a", "ab", "abc", "abcd", "9973", "http://ex.org/pods/1/"}
    tests |= {
        "".join(rng.choices(string.printable[:95], k=rng.randint(1, 80)))
        for _ in range(80)
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE vals(v VARCHAR)")
    con.executemany("INSERT INTO vals VALUES (?)", [(t,) for t in tests])
    sql = "WITH RECURSIVE " + _murmur_ctes("vals").lstrip() + "\nSELECT v, h FROM murmur"
    got = dict(con.sql(sql).fetchall())
    assert got == {t: imurmurhash(t) for t in tests}


def test_fnv_duckdb_oracle_matches_python():
    """The per-byte FNV-1a fold in the summary_bloom oracle equals the
    bloem-compatible Python implementation for both seed prefixes."""
    import duckdb

    from rdf_dataset_fragmenter_js_spark.functions.hashing import _fnv1a32

    tests = ["", "a", "http://ex.org/vocab#status", "x" * 50]
    con = duckdb.connect()
    con.execute("CREATE TABLE vals(v VARCHAR)")
    con.executemany("INSERT INTO vals VALUES (?)", [(t,) for t in tests])
    hs0, hw0 = _fnv1a32(b"S"), _fnv1a32(b"W")
    sql = f"""
    WITH RECURSIVE f_iter AS (
      SELECT v, length(v) AS n, 0 AS i,
             CAST({hs0} AS BIGINT) AS hs, CAST({hw0} AS BIGINT) AS hw
      FROM vals
      UNION ALL
      SELECT v, n, i + 1,
             ((xor(hs, ord(substr(v, i+1, 1))) * 16777619) & 4294967295),
             ((xor(hw, ord(substr(v, i+1, 1))) * 16777619) & 4294967295)
      FROM f_iter WHERE i < n
    )
    SELECT v, hs, hw FROM f_iter WHERE i = n"""
    got = {v: (hs, hw) for v, hs, hw in con.sql(sql).fetchall()}
    assert got == {
        t: (_fnv1a32(b"S" + t.encode()), _fnv1a32(b"W" + t.encode())) for t in tests
    }


@given(
    quads=st.lists(
        st.tuples(
            st.sampled_from(["NamedNode", "BlankNode"]),           # s_type
            st.integers(0, 5),                                     # s key
            st.integers(0, 3),                                     # p key
            st.sampled_from(["NamedNode", "BlankNode", "Literal"]),  # o_type
            st.text(max_size=12),                                  # literal text
            st.sampled_from([None, "http://dt.org/t"]),            # datatype
            st.sampled_from([None, "en"]),                         # lang
            st.sampled_from([None, "http://g.org/1", "http://g.org/2"]),  # graph
        ),
        max_size=25,
    )
)
@settings(max_examples=60, deadline=None)
@example(
    quads=[
        ("BlankNode", 0, 0, "NamedNode", "", None, None, None),
        ("BlankNode", 0, 0, "NamedNode", "", None, None, "http://g.org/1"),
    ],
)
def test_jsonld_serializer_roundtrip(quads):
    """serialize_jsonld → parse_jsonld preserves the quad value multiset
    (modulo the parser's 'b_' bnode relabeling, a bijective rename)."""
    from rdf_dataset_fragmenter_js_spark.sources.jsonld import (
        parse_jsonld,
        serialize_jsonld,
    )

    rows = []
    for i, (s_t, s_k, p_k, o_t, lit, dt, lang, g) in enumerate(quads):
        s = f"n{s_k}" if s_t == "BlankNode" else f"http://ex.org/s{s_k}"
        p = f"http://ex.org/p{p_k}"
        if o_t == "Literal":
            o, o_dt, o_lang = lit, (None if lang else dt), lang
        elif o_t == "BlankNode":
            o, o_dt, o_lang = f"m{s_k}", None, None
        else:
            o, o_dt, o_lang = f"http://ex.org/o{s_k}", None, None
        rows.append((s_t, s, p, o_t, o, o_dt, o_lang, g, i))

    parsed = parse_jsonld(serialize_jsonld(rows))

    def key(r, rename_bnodes):
        def v(t, val):
            return f"b_{val}" if (rename_bnodes and t == "BlankNode") else val

        # Coalesce nullable fields (datatype, lang, graph) so the key is
        # totally ordered: None vs str would make sorted() raise TypeError.
        return (
            r[0],
            v(r[0], r[1]),
            r[2],
            r[3],
            v(r[3], r[4]),
            r[5] or "",
            r[6] or "",
            r[7] or "",
        )

    assert sorted(key(r, True) for r in rows) == sorted(key(r, False) for r in parsed)


@given(
    quads=st.lists(
        st.tuples(
            st.sampled_from(["NamedNode", "BlankNode"]),             # s_type
            st.integers(0, 5),                                       # s key
            st.integers(0, 3),                                       # p key
            st.sampled_from(["NamedNode", "BlankNode", "Literal"]),  # o_type
            st.text(max_size=12),                                    # literal text
            st.sampled_from([None, "http://dt.org/t"]),              # datatype
            st.sampled_from([None, "en"]),                           # lang
        ),
        max_size=25,
    )
)
@settings(max_examples=60, deadline=None)
def test_rdfa_serializer_roundtrip(quads):
    """serialize_rdfa → parse_rdfa preserves the quad value multiset
    (modulo the parser's 'b_' bnode relabeling, a bijective rename).
    RDFa carries no named graphs, so the strategy generates none."""
    from rdf_dataset_fragmenter_js_spark.sources.rdfa import (
        parse_rdfa,
        serialize_rdfa,
    )

    rows = []
    for i, (s_t, s_k, p_k, o_t, lit, dt, lang) in enumerate(quads):
        s = f"n{s_k}" if s_t == "BlankNode" else f"http://ex.org/s{s_k}"
        p = f"http://ex.org/p{p_k}"
        if o_t == "Literal":
            o, o_dt, o_lang = lit, (None if lang else dt), lang
        elif o_t == "BlankNode":
            o, o_dt, o_lang = f"m{s_k}", None, None
        else:
            o, o_dt, o_lang = f"http://ex.org/o{s_k}", None, None
        rows.append((s_t, s, p, o_t, o, o_dt, o_lang, None, i))

    parsed = parse_rdfa(serialize_rdfa(rows), base_iri="http://base.org/doc")

    def key(r, rename_bnodes):
        def v(t, val):
            return f"b_{val}" if (rename_bnodes and t == "BlankNode") else val

        return (r[0], v(r[0], r[1]), r[2], r[3], v(r[3], r[4]), r[5] or "", r[6] or "")

    assert sorted(key(r, True) for r in rows) == sorted(key(r, False) for r in parsed)


@given(doc=st.text(max_size=200))
@settings(max_examples=150, deadline=None)
def test_html_parsers_never_crash_unexpectedly(doc):
    """Web-scale inputs are adversarial: arbitrary text fed to the RDFa and
    Microdata parsers must either parse (possibly to zero quads) or raise
    one of the DOCUMENTED error types — never IndexError/KeyError/etc."""
    from rdf_dataset_fragmenter_js_spark.sources.microdata import parse_microdata
    from rdf_dataset_fragmenter_js_spark.sources.rdfa import parse_rdfa

    for parse in (parse_rdfa, parse_microdata):
        try:
            rows = parse(doc, base_iri="http://base.org/d")
        except (NotImplementedError, ValueError):
            continue
        assert isinstance(rows, list)


@given(
    doc=st.lists(
        st.sampled_from(
            list("<>=\"'/ab cdiv spanmetlink\n")
            + ["property", "about", "resource", "vocab", "typeof", "prefix",
               "href", "src", "content", "datetime", "itemscope", "itemprop",
               "itemtype", "itemid", "itemref", "time", "base", "lang"]
        ),
        max_size=120,
    ).map("".join)
)
@settings(max_examples=150, deadline=None)
def test_html_parsers_never_crash_on_taglike_soup(doc):
    """Same contract, but biased toward tag-like markup soup (unclosed
    tags, half attributes, nested garbage) to stress the scope stack."""
    from rdf_dataset_fragmenter_js_spark.sources.microdata import parse_microdata
    from rdf_dataset_fragmenter_js_spark.sources.rdfa import parse_rdfa

    for parse in (parse_rdfa, parse_microdata):
        try:
            rows = parse(doc, base_iri="http://base.org/d")
        except (NotImplementedError, ValueError):
            continue
        assert isinstance(rows, list)


@given(
    doc=st.text(
        alphabet=st.sampled_from(list("<>{}=#@.;,()[]\"'\\^ab:/_ \n")),
        max_size=200,
    )
)
@settings(max_examples=150, deadline=None)
def test_n3_parser_never_crashes_unexpectedly(doc):
    """parse_n3 on arbitrary Turtle-ish soup either parses or raises its
    documented NotImplementedError (N3-only construct) / ValueError
    (Turtle parse error) — never an internal exception type."""
    from rdf_dataset_fragmenter_js_spark.sources.turtle import parse_n3

    try:
        rows = parse_n3(doc)
    except (NotImplementedError, ValueError):
        return
    assert isinstance(rows, list)


_JSON_VALUES = st.recursive(
    st.none()
    | st.booleans()
    | st.integers(min_value=-10, max_value=10)
    | st.sampled_from(
        ["@id", "@value", "@type", "@list", "@context", "@graph", "@language",
         "_:b0", "http://ex.org/x", "en", "", "x"]
    ),
    lambda children: st.lists(children, max_size=3)
    | st.dictionaries(
        st.sampled_from(
            ["@id", "@value", "@type", "@list", "@set", "@context", "@graph",
             "@language", "@index", "@reverse", "@nest", "http://ex.org/p", "p"]
        ),
        children,
        max_size=4,
    ),
    max_leaves=12,
)


@given(doc=_JSON_VALUES)
@settings(max_examples=150, deadline=None)
def test_jsonld_parser_never_crashes_unexpectedly(doc):
    """parse_jsonld on arbitrary JSON shapes biased toward keyword soup
    (mis-nested @value/@list/@context, null leaves, wrong value types)
    either parses or raises the documented ValueError /
    NotImplementedError — never an internal exception type."""
    import json as _json

    from rdf_dataset_fragmenter_js_spark.sources.jsonld import parse_jsonld

    try:
        rows = parse_jsonld(_json.dumps(doc))
    except (NotImplementedError, ValueError):
        return
    assert isinstance(rows, list)


_JCS_VALUES = st.recursive(
    st.none()
    | st.booleans()
    | st.integers(min_value=-(2**53) + 1, max_value=2**53 - 1)
    | st.floats(allow_nan=False, allow_infinity=False)
    | st.text(max_size=8),
    lambda children: st.lists(children, max_size=3)
    | st.dictionaries(st.text(max_size=6), children, max_size=4),
    max_leaves=10,
)


@given(v=_JCS_VALUES)
@settings(max_examples=200, deadline=None)
def test_jcs_rdf_json_lexical_roundtrips(v):
    """The rdf:JSON lexical form (RFC 8785 JCS) is valid JSON that parses
    back to an equal value, and canonicalization is idempotent (the fixed
    point every JCS implementation must agree on)."""
    import json as _json

    from rdf_dataset_fragmenter_js_spark.sources.jsonld import _jcs

    def norm(x):
        # JSON numbers are IEEE doubles: "18014398509481990" parses to int
        # in Python but to the SAME double in a JSON engine — compare as
        # doubles, which is the equality RFC 8785 guarantees
        if isinstance(x, bool) or x is None or isinstance(x, str):
            return x
        if isinstance(x, (int, float)):
            return float(x)
        if isinstance(x, list):
            return [norm(i) for i in x]
        return {k: norm(val) for k, val in x.items()}

    lex = _jcs(v)
    back = _json.loads(lex)
    assert norm(back) == norm(v)
    assert _jcs(back) == lex
