"""Round-3 fixes: distributed multi-file Turtle/RDF-XML parsing with
per-file blank-node namespacing, RDF/XML parseType='Collection' and
single-node-root base scoping, log-round connected components, and
streaming source validation/baseIRI."""

from __future__ import annotations

import re

import pytest

from rdf_dataset_fragmenter_js_spark.sources.nquads import read_rdf
from rdf_dataset_fragmenter_js_spark.sources.rdfxml import parse_rdfxml
from rdf_dataset_fragmenter_js_spark.sources.turtle import parse_turtle

RDF_NS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
E = "http://ex.org/"


def _vals(rows):
    """Quad value multiset (no seq)."""
    return sorted((r[0], r[1], r[2], r[3], r[4], r[5], r[6], r[7]) for r in rows)


# -- distributed multi-file parse ------------------------------------------


def _write_ttl_dir(tmp_path, n_files=3):
    d = tmp_path / "ttls"
    d.mkdir()
    for i in range(n_files):
        (d / f"part{i}.ttl").write_text(
            "@prefix ex: <http://ex.org/> .\n"
            f"ex:s{i} ex:p ex:o{i} .\n"
            f"_:shared ex:owner ex:s{i} .\n"  # authored label repeats per file
            f"ex:s{i} ex:anon [ ex:q ex:v{i} ] .\n"  # generated label per file
        )
    return d


def test_multi_file_turtle_distributed_equals_serial(spark, tmp_path):
    """Directory-of-ttl: the distributed per-file parse must equal the
    serial driver loop's output (same namespacing applied), with a dense
    file-major seq."""
    d = _write_ttl_dir(tmp_path)
    df = read_rdf(spark, str(d))
    rows = df.collect()

    # serial expectation: parse each file on the driver, namespace, offset
    import os

    expected, offset = [], 0
    files = sorted(os.listdir(d))
    for i, name in enumerate(files):
        file_rows = parse_turtle(
            (d / name).read_text(), base_iri="file://" + str(d / name)
        )
        for s_type, s, p, o_type, o, dt, lang, g, seq in file_rows:
            if s_type == "BlankNode":
                s = f"f{i}_{s}"
            if o_type == "BlankNode":
                o = f"f{i}_{o}"
            expected.append((s_type, s, p, o_type, o, dt, lang, g, offset + seq))
        offset += len(file_rows)

    assert sorted(tuple(r) for r in rows) == sorted(expected)
    # dense seq: 0..n-1 exactly once each
    seqs = sorted(r.seq for r in rows)
    assert seqs == list(range(len(expected)))


def test_multi_file_bnodes_stay_distinct(spark, tmp_path):
    """Authored '_:shared' in three files and per-file generated labels must
    NOT merge across files (document scoping)."""
    d = _write_ttl_dir(tmp_path)
    rows = read_rdf(spark, str(d)).collect()
    shared_subjects = {
        r.s for r in rows if r.s_type == "BlankNode" and r.p == E + "owner"
    }
    assert shared_subjects == {"f0_b_shared", "f1_b_shared", "f2_b_shared"}
    anon_objects = {r.o for r in rows if r.o_type == "BlankNode" and r.p == E + "anon"}
    assert len(anon_objects) == 3  # one distinct generated bnode per file
    for label in anon_objects:
        assert re.fullmatch(r"f\d+_[A-Za-z0-9_]+", label)  # N-Quads-legal


def test_single_file_still_driver_parsed(spark, tmp_path):
    """One file keeps the plain (un-namespaced) driver parse."""
    p = tmp_path / "one.ttl"
    p.write_text("@prefix ex: <http://ex.org/> .\n_:b0 ex:p ex:o .\n")
    rows = read_rdf(spark, str(p)).collect()
    assert [(r.s_type, r.s) for r in rows] == [("BlankNode", "b_b0")]


# -- RDF/XML parseType=Collection + root scoping ---------------------------


def test_rdfxml_collection_matches_turtle():
    xml = f"""<rdf:RDF xmlns:rdf="{RDF_NS}" xmlns:ex="{E}">
      <rdf:Description rdf:about="{E}list">
        <ex:items rdf:parseType="Collection">
          <rdf:Description rdf:about="{E}a"/>
          <rdf:Description rdf:about="{E}b"/>
        </ex:items>
        <ex:none rdf:parseType="Collection"/>
      </rdf:Description>
    </rdf:RDF>"""
    ttl = (
        f"@prefix ex: <{E}> .\n"
        "ex:list ex:items ( ex:a ex:b ) .\n"
        "ex:list ex:none () .\n"
    )
    xml_rows = parse_rdfxml(xml)
    ttl_rows = parse_turtle(ttl)

    def canon(rows):
        # bnode labels differ between parsers; canonicalize by order of
        # first appearance so the list structures compare
        mapping: dict[str, str] = {}

        def m(t, v):
            if t != "BlankNode":
                return v
            return mapping.setdefault(v, f"c{len(mapping)}")

        return sorted(
            (r[0], m(r[0], r[1]), r[2], r[3], m(r[3], r[4]), r[5], r[6])
            for r in rows
        )

    assert canon(xml_rows) == canon(ttl_rows)


def test_rdfxml_literal_parsetype_xmlliteral():
    """parseType='Literal' serializes the inner markup verbatim as an
    rdf:XMLLiteral (RDF/XML §7.2.17) — nested elements, text and tails."""
    xml = f"""<rdf:RDF xmlns:rdf="{RDF_NS}" xmlns:ex="{E}">
      <rdf:Description rdf:about="{E}s">
        <ex:p rdf:parseType="Literal">pre <b>bold <i>it</i></b> post</ex:p>
      </rdf:Description>
    </rdf:RDF>"""
    rows = parse_rdfxml(xml)
    assert rows == [
        (
            "NamedNode",
            E + "s",
            E + "p",
            "Literal",
            "pre <b>bold <i>it</i></b> post",
            RDF_NS + "XMLLiteral",
            None,
            None,
            0,
        )
    ]
    # still-unsupported parseTypes keep the targeted error
    bad = xml.replace('parseType="Literal"', 'parseType="Other"')
    with pytest.raises(NotImplementedError, match="parseType"):
        parse_rdfxml(bad)


def test_rdfxml_single_node_root_base_applies_once():
    """A relative xml:base on a single-node-element root must resolve
    exactly once against the provided base."""
    xml = (
        f'<ex:Thing xmlns:ex="{E}" xmlns:rdf="{RDF_NS}" '
        'xml:base="sub/" rdf:about="x"/>'
    )
    rows = parse_rdfxml(xml, base_iri="http://host.org/dir/")
    assert rows == [
        (
            "NamedNode",
            "http://host.org/dir/sub/x",
            RDF_NS + "type",
            "NamedNode",
            E + "Thing",
            None,
            None,
            None,
            0,
        )
    ]


# -- connected components: log-round convergence, no cap --------------------


def test_connected_components_long_path_one_cluster(spark, monkeypatch):
    """A 10,000-node path is one cluster whose id is its smallest node, on
    the driver union-find and on large-star/small-star, which needs at most
    2·⌈log₂ n⌉ rounds where min-label propagation needed one per hop."""
    import math

    from rdf_dataset_fragmenter_js_spark import graph
    from rdf_dataset_fragmenter_js_spark.textops.dedup import near_dup_clusters

    n = 10_000
    # mixed orientation: odd edges are given high → low
    pairs = spark.createDataFrame(
        [(i, i + 1) if i % 2 == 0 else (i + 1, i) for i in range(n - 1)],
        "doc_a long, doc_b long",
    )
    rounds = []
    distributed = graph._connected_components_distributed

    def spy(p):
        labels, r = distributed(p)
        rounds.append(r)
        return labels, r

    monkeypatch.setattr(graph, "_connected_components_distributed", spy)
    for threshold in (0, 1_000_000):
        labels = near_dup_clusters(pairs, driver_threshold=threshold)
        got = labels.groupBy("cluster_id").count().collect()
        assert [(r.cluster_id, r["count"]) for r in got] == [(0, n)], threshold
    assert len(rounds) == 1  # only the forced path ran distributed
    assert rounds[0] <= 2 * math.ceil(math.log2(n))


# -- streaming source validation + baseIRI ---------------------------------


def test_stream_turtle_dir_incremental(spark, tmp_path):
    """Round-4: Turtle directories stream too (binaryFile file-arrival
    stream + per-file executor parse). Two availableNow drains over a
    GROWING directory with one checkpoint: the second run must process
    ONLY the new file and append, with batch-salted bnode labels."""
    from rdf_dataset_fragmenter_js_spark.streaming.fragment import stream_pipeline_spec

    src = tmp_path / "ttls"
    src.mkdir()
    (src / "a.ttl").write_text(
        "@prefix ex: <http://ex.org/> .\nex:s1 ex:p ex:o1 ; ex:anon [ ex:q ex:v ] .\n"
    )
    spec = {
        "quadSource": {"@type": "QuadSourceFile", "filePath": str(src)},
        "fragmentationStrategy": {"@type": "FragmentationStrategySubject"},
        "quadSink": {
            "@type": "QuadSinkFile",
            "outputFormat": "parquet",
            "iriToPath": {"^http://ex\\.org/": "frags/"},
        },
    }
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = stream_pipeline_spec(spark, spec, out, ckpt)
    q.awaitTermination(120)
    first = spark.read.parquet(out).collect()
    assert {r.s for r in first if r.p == E + "p"} == {E + "s1"}

    (src / "b.ttl").write_text(
        "@prefix ex: <http://ex.org/> .\nex:s2 ex:p ex:o2 ; ex:anon [ ex:q ex:v ] .\n"
    )
    q = stream_pipeline_spec(spark, spec, out, ckpt)
    q.awaitTermination(120)
    rows = spark.read.parquet(out).collect()
    assert {r.s for r in rows if r.p == E + "p"} == {E + "s1", E + "s2"}
    # incremental: a.ttl was NOT reprocessed (still exactly one s1 ex:p quad)
    assert sum(1 for r in rows if r.s == E + "s1" and r.p == E + "p") == 1
    # bnode labels are salted per batch AND per file → all distinct
    anon = [r.o for r in rows if r.p == E + "anon"]
    assert len(anon) == 2 and len(set(anon)) == 2
    for label in anon:
        assert re.fullmatch(r"b\d+_f\d+_[A-Za-z0-9_]+", label)


def test_stream_mixed_serializations_rejected(spark, tmp_path):
    """A directory mixing serializations still fails fast (the sniffer
    cannot pick one parser for it)."""
    from rdf_dataset_fragmenter_js_spark.streaming.fragment import stream_pipeline_spec

    src = tmp_path / "mixed"
    src.mkdir()
    (src / "x.ttl").write_text("<http://s> <http://p> <http://o> .\n")
    (src / "y.nq").write_text("<http://s> <http://p> <http://o> .\n")
    spec = {
        "quadSource": {"@type": "QuadSourceFile", "filePath": str(src)},
        "fragmentationStrategy": {"@type": "FragmentationStrategySubject"},
        "quadSink": {
            "@type": "QuadSinkFile",
            "outputFormat": "parquet",
            "iriToPath": {"^http://": "f/"},
        },
    }
    with pytest.raises(ValueError, match="mixes"):
        stream_pipeline_spec(spark, spec, str(tmp_path / "o"), str(tmp_path / "c"))


def test_stream_honors_base_iri(spark, tmp_path):
    from rdf_dataset_fragmenter_js_spark.streaming.fragment import stream_pipeline_spec

    src = tmp_path / "rel"
    src.mkdir()
    (src / "a.nq").write_text("<s1> <http://ex.org/p> <o1> .\n")
    spec = {
        "quadSource": {
            "@type": "QuadSourceFile",
            "filePath": str(src),
            "baseIRI": "http://pods.local/",
        },
        "fragmentationStrategy": {"@type": "FragmentationStrategySubject"},
        "quadSink": {
            "@type": "QuadSinkFile",
            "outputFormat": "parquet",
            "iriToPath": {"^http://pods\\.local/": "frags/"},
        },
    }
    out = str(tmp_path / "out")
    q = stream_pipeline_spec(spark, spec, out, str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    rows = spark.read.parquet(out).collect()
    assert [(r.s, r.o, r.path) for r in rows] == [
        ("http://pods.local/s1", "http://pods.local/o1", "frags/s1")
    ]


def test_remote_path_expansion(spark, tmp_path):
    """Scheme-qualified paths expand through the Hadoop FileSystem API (the
    100 TB inputs are not on the driver's local disk); path keys normalize
    so the enumerated list matches wholeTextFiles URIs."""
    from rdf_dataset_fragmenter_js_spark.sources.driverfile import (
        _expand_hadoop,
        _path_key,
        expand_paths,
    )

    d = tmp_path / "remote"
    d.mkdir()
    (d / "a.ttl").write_text("<http://s> <http://p> <http://o> .\n")
    (d / "b.ttl").write_text("<http://s2> <http://p> <http://o> .\n")
    (d / "skip.txt").write_text("x")

    # Hadoop listing of a directory (file: scheme exercises the same API
    # hdfs:// and s3a:// go through)
    got = _expand_hadoop(spark, "file:" + str(d), (".ttl",))
    assert [p.rsplit("/", 1)[-1] for p in got] == ["a.ttl", "b.ttl"]
    # glob form
    got = _expand_hadoop(spark, "file:" + str(d) + "/*.ttl", (".ttl",))
    assert len(got) == 2

    # only file:'s authority-less vs authority forms collapse; other schemes
    # keep scheme://authority so equal paths on different filesystems differ
    assert _path_key("hdfs://nn:8020/a/b.ttl") == "hdfs://nn:8020/a/b.ttl"
    assert _path_key("hdfs://other/a/b.ttl") != _path_key("hdfs://nn:8020/a/b.ttl")
    assert _path_key("file:/a/b.ttl") == "/a/b.ttl"
    assert _path_key("file:///a/b.ttl") == "/a/b.ttl"
    assert _path_key(str(d / "a.ttl")) == str(d / "a.ttl")

    import pytest as _pytest

    with _pytest.raises(ValueError, match="SparkSession"):
        expand_paths("hdfs://nn/x", (".ttl",))


# -- round-4 hardening: sniffing, comma paths, label namespaces ------------


def test_sniff_remote_path_needs_spark():
    """A scheme-qualified extension-less path must NOT silently fall back to
    the lossy N-Quads line parser when only the local FS was probed."""
    from rdf_dataset_fragmenter_js_spark.sources.nquads import _sniff_format

    with pytest.raises(ValueError, match="remote path|SparkSession"):
        _sniff_format("hdfs://nn/data", None)


def test_sniff_remote_dir_via_hadoop(spark, tmp_path):
    """Extension-qualified remote paths classify from the pattern alone;
    zero-match local globs fail fast."""
    from rdf_dataset_fragmenter_js_spark.sources.nquads import _sniff_format

    d = tmp_path / "remote_ttls"
    d.mkdir()
    (d / "a.ttl").write_text("<http://s> <http://p> <http://o> .\n")
    # extension-qualified stays extension-dispatched without listing
    assert _sniff_format("hdfs://nn/x/a.ttl", None) == "turtle"
    # zero-match local glob fails fast instead of parsing nothing as nquads
    with pytest.raises(FileNotFoundError):
        _sniff_format(str(tmp_path / "nope" / "*.xyz"), None)


def test_sniff_remote_listing_branch(monkeypatch):
    """The Hadoop-listing classification branch itself (extension-less
    hdfs:// directory), exercised via a mocked _expand_hadoop: .ttl
    children classify as turtle WITH the listing handed back for reuse,
    a single extension-less remote file defaults to nquads, and mixed
    serializations fail fast."""
    from rdf_dataset_fragmenter_js_spark.sources import driverfile
    from rdf_dataset_fragmenter_js_spark.sources.nquads import _sniff_format

    listings = {}

    def fake_expand(spark, path, extensions):
        listings["calls"] = listings.get("calls", 0) + 1
        return listings["files"]

    monkeypatch.setattr(driverfile, "_expand_hadoop", fake_expand)
    dummy_spark = object()

    listings["files"] = ["hdfs://nn/data/a.ttl", "hdfs://nn/data/b.ttl"]
    fmt, names = _sniff_format("hdfs://nn/data", dummy_spark, return_names=True)
    assert fmt == "turtle"
    # the listing is returned so read_rdf can pass it to the reader —
    # expand_paths short-circuits on a list (no second remote listing)
    assert names == listings["files"]
    assert driverfile.expand_paths(names, (".ttl",)) == listings["files"]

    listings["files"] = ["hdfs://nn/blob"]  # names == [path] single file
    assert _sniff_format("hdfs://nn/blob", dummy_spark) == "nquads"

    listings["files"] = ["hdfs://nn/data/a.ttl", "hdfs://nn/data/b.nq"]
    with pytest.raises(ValueError, match="mixes RDF serializations"):
        _sniff_format("hdfs://nn/data", dummy_spark)


def test_sniff_empty_targets_raise_for_streaming(tmp_path):
    """on_empty='raise' (the streaming runner's mode): an existing-but-empty
    directory and a missing extension-less path both raise instead of
    defaulting to the silently-lossy N-Quads line reader; batch mode keeps
    the harmless default."""
    from rdf_dataset_fragmenter_js_spark.sources.nquads import _sniff_format

    empty = tmp_path / "landing"
    empty.mkdir()
    with pytest.raises(FileNotFoundError, match="no files yet"):
        _sniff_format(str(empty), None, on_empty="raise")
    with pytest.raises(FileNotFoundError, match="does not exist yet"):
        _sniff_format(str(tmp_path / "missing"), None, on_empty="raise")
    # batch default unchanged: empty/missing → nquads (a one-shot read of
    # nothing is just zero rows)
    assert _sniff_format(str(empty), None) == "nquads"
    assert _sniff_format(str(tmp_path / "missing"), None) == "nquads"


def test_stream_classify_empty_dir_fails_fast(spark, tmp_path):
    """A pre-created empty landing directory must be rejected at stream
    start (a stream cannot re-pick its reader when .ttl files arrive
    later); the error names the extension-qualified-glob escape hatch."""
    from rdf_dataset_fragmenter_js_spark.streaming.fragment import _classify_child

    landing = tmp_path / "landing"
    landing.mkdir()
    with pytest.raises(ValueError, match="extension-qualified"):
        _classify_child(str(landing), spark)
    # an extension-qualified glob over the same empty directory is fine
    assert _classify_child(str(landing / "*.ttl"), spark) == "turtle"
    assert _classify_child(str(landing / "*.nq"), spark) == "nquads"


def test_comma_path_rejected(spark, tmp_path):
    """wholeTextFiles splits its path argument on commas — a comma inside a
    file name must fail fast, not read two bogus paths."""
    from rdf_dataset_fragmenter_js_spark.sources.driverfile import _read_distributed

    d = tmp_path / "commas"
    d.mkdir()
    good = d / "a.ttl"
    bad = d / "b,c.ttl"
    for p in (good, bad):
        p.write_text("<http://s> <http://p> <http://o> .\n")
    with pytest.raises(ValueError, match="comma|','"):
        _read_distributed(spark, [str(good), str(bad)], None, parse_turtle, "turtle")


def test_rdfxml_authored_nodeid_disjoint_from_generated():
    """rdf:nodeID='genid_xml_1' must not merge with an anonymous node."""
    xml = f"""<rdf:RDF xmlns:rdf="{RDF_NS}" xmlns:ex="{E}">
      <rdf:Description rdf:nodeID="genid_xml_1">
        <ex:p><rdf:Description><ex:q rdf:resource="{E}v"/></rdf:Description></ex:p>
      </rdf:Description>
    </rdf:RDF>"""
    quads = parse_rdfxml(xml)
    labels = {q[1] for q in quads if q[0] == "BlankNode"}
    assert labels == {"b_genid_xml_1", "genid_xml_1"}


def test_large_file_warning_fires_for_globs(tmp_path, caplog, monkeypatch, spark):
    """The 'parses whole in one task' warning must cover the distributed
    path too, not only the single-file driver path."""
    import logging

    import rdf_dataset_fragmenter_js_spark.sources.driverfile as dfmod

    d = tmp_path / "warn"
    d.mkdir()
    for name in ("a.ttl", "b.ttl"):
        (d / name).write_text("<http://s> <http://p> <http://o> .\n")
    monkeypatch.setattr(dfmod, "LARGE_FILE_BYTES", 1)
    with caplog.at_level(logging.WARNING, logger=dfmod.logger.name):
        dfmod.read_driver_parsed(
            spark, str(d), (".ttl",), None, parse_turtle, "turtle"
        ).collect()
    warned = [r for r in caplog.records if "executor task" in r.getMessage()]
    assert len(warned) == 2


def test_stream_rdfa_dir(spark, tmp_path):
    """The streaming runner classifies .html children as RDFa and parses
    arrivals per-file on executors (same binaryFile path as Turtle)."""
    from rdf_dataset_fragmenter_js_spark.streaming.fragment import stream_pipeline_spec

    src = tmp_path / "pages"
    src.mkdir()
    (src / "a.html").write_text(
        '<div vocab="http://schema.org/" about="http://ex.org/w1" typeof="Thing">'
        '<span property="name">W1</span></div>'
    )
    (src / "b.html").write_text(
        '<div vocab="http://schema.org/" about="http://ex.org/w2">'
        '<span property="name">W2</span></div>'
    )
    spec = {
        "quadSource": {"@type": "QuadSourceFile", "filePath": str(src)},
        "fragmentationStrategy": {"@type": "FragmentationStrategySubject"},
        "quadSink": {
            "@type": "QuadSinkFile",
            "outputFormat": "parquet",
            "iriToPath": {"^http://ex\\.org/": "frags/"},
        },
    }
    q = stream_pipeline_spec(
        spark, spec, str(tmp_path / "out"), str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)
    rows = spark.read.parquet(str(tmp_path / "out")).collect()
    names = {(r.s, r.o) for r in rows if r.p == "http://schema.org/name"}
    assert names == {("http://ex.org/w1", "W1"), ("http://ex.org/w2", "W2")}


def test_stream_composite_mixed_kinds(spark, tmp_path):
    """A QuadSourceComposite mixing an N-Quads child and a Turtle child
    streams through the binaryFile arrival path: the .nq child's files
    are read per-batch with the vectorized line parser, the .ttl child's
    with the executor per-file parse — one checkpointed stream."""
    from rdf_dataset_fragmenter_js_spark.streaming.fragment import stream_pipeline_spec

    nq_dir, ttl_dir = tmp_path / "nq", tmp_path / "ttl"
    nq_dir.mkdir(), ttl_dir.mkdir()
    (nq_dir / "a.nq").write_text(
        "<http://ex.org/s1> <http://ex.org/p> <http://ex.org/o1> .\n"
    )
    (ttl_dir / "b.ttl").write_text(
        "@prefix ex: <http://ex.org/> .\nex:s2 ex:p ex:o2 .\n"
    )
    spec = {
        "quadSource": {
            "@type": "QuadSourceComposite",
            "sources": [
                {"@type": "QuadSourceFile", "filePath": str(nq_dir)},
                {"@type": "QuadSourceFile", "filePath": str(ttl_dir)},
            ],
        },
        "fragmentationStrategy": {"@type": "FragmentationStrategySubject"},
        "quadSink": {
            "@type": "QuadSinkFile",
            "outputFormat": "parquet",
            "iriToPath": {"^http://ex\\.org/": "frags/"},
        },
    }
    q = stream_pipeline_spec(
        spark, spec, str(tmp_path / "out"), str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)
    rows = {(r.s, r.o) for r in spark.read.parquet(str(tmp_path / "out")).collect()}
    assert rows == {
        ("http://ex.org/s1", "http://ex.org/o1"),
        ("http://ex.org/s2", "http://ex.org/o2"),
    }
