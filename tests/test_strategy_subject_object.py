"""Parity port of the reference's subject/object strategy jest fixtures
(``test/unit/strategy/FragmentationStrategySubject-test.ts``,
``FragmentationStrategyObject-test.ts``). Assertions compare per-document
quad multisets (FIXTURES.md §2) — the semantically meaningful contract."""

from __future__ import annotations

from rdf_dataset_fragmenter_js_spark.quads import quad, quads_df
from rdf_dataset_fragmenter_js_spark.strategies import route_object, route_subject
from tests.conftest import collect_routed, routed

P = "ex:p"


def test_no_bnodes(spark):
    df = quads_df(
        spark,
        [
            quad("ex:s1", P, "ex:o"),
            quad("ex:s1", P, "ex:o"),
            quad("ex:s2", P, "ex:o"),
        ],
    )
    got = collect_routed(route_subject(df))
    assert got == sorted(
        [
            routed("ex:s1", "ex:s1", P, "ex:o"),
            routed("ex:s1", "ex:s1", P, "ex:o"),
            routed("ex:s2", "ex:s2", P, "ex:o"),
        ]
    )


def test_variables_ignored(spark):
    df = quads_df(spark, [quad("ex:s1", P, "ex:o", s_type="Variable")])
    assert collect_routed(route_subject(df)) == []


def test_owned_bnode_both_orders(spark):
    for rows in (
        [quad("ex:s1", P, "b1", o_type="BlankNode"), quad("b1", P, "ex:o", s_type="BlankNode")],
        [quad("b1", P, "ex:o", s_type="BlankNode"), quad("ex:s1", P, "b1", o_type="BlankNode")],
    ):
        got = collect_routed(route_subject(quads_df(spark, rows)))
        assert got == sorted(
            [
                routed("ex:s1", "ex:s1", P, "b1", o_type="BlankNode"),
                routed("ex:s1", "b1", P, "ex:o", s_type="BlankNode"),
            ]
        )


def test_owned_bnode_chained_both_orders(spark):
    fwd = [
        quad("ex:s1", P, "b1", o_type="BlankNode"),
        quad("b1", P, "b2", s_type="BlankNode", o_type="BlankNode"),
        quad("b2", P, "b3", s_type="BlankNode", o_type="BlankNode"),
        quad("b3", P, "ex:o", s_type="BlankNode"),
    ]
    expected = sorted(
        [
            routed("ex:s1", "ex:s1", P, "b1", o_type="BlankNode"),
            routed("ex:s1", "b1", P, "b2", s_type="BlankNode", o_type="BlankNode"),
            routed("ex:s1", "b2", P, "b3", s_type="BlankNode", o_type="BlankNode"),
            routed("ex:s1", "b3", P, "ex:o", s_type="BlankNode"),
        ]
    )
    assert collect_routed(route_subject(quads_df(spark, fwd))) == expected
    assert collect_routed(route_subject(quads_df(spark, list(reversed(fwd))))) == expected


def test_owned_bnode_multiple_docs_duplicates(spark):
    df = quads_df(
        spark,
        [
            quad("ex:s1", P, "b1", o_type="BlankNode"),
            quad("ex:s2", P, "b1", o_type="BlankNode"),
            quad("b1", P, "ex:o", s_type="BlankNode"),
        ],
    )
    got = collect_routed(route_subject(df))
    assert got == sorted(
        [
            routed("ex:s1", "ex:s1", P, "b1", o_type="BlankNode"),
            routed("ex:s2", "ex:s2", P, "b1", o_type="BlankNode"),
            routed("ex:s1", "b1", P, "ex:o", s_type="BlankNode"),
            routed("ex:s2", "b1", P, "ex:o", s_type="BlankNode"),
        ]
    )


def test_unowned_bnode_dropped(spark):
    df = quads_df(
        spark,
        [
            quad("ex:s1", P, "b1", o_type="BlankNode"),
            quad("b2", P, "ex:o", s_type="BlankNode"),
        ],
    )
    got = collect_routed(route_subject(df))
    assert got == [routed("ex:s1", "ex:s1", P, "b1", o_type="BlankNode")]


def test_subject_relative_path(spark):
    # FragmentationStrategySubject.ts:24-25: doc = resolve(relativePath, subject + '/')
    df = quads_df(spark, [quad("http://example.org/s1", P, "ex:o")])
    got = collect_routed(route_subject(df, relative_path="me"))
    assert got == [routed("http://example.org/s1/me", "http://example.org/s1", P, "ex:o")]
    # trailing-slash subject is not doubled
    df2 = quads_df(spark, [quad("http://example.org/s1/", P, "ex:o")])
    got2 = collect_routed(route_subject(df2, relative_path="me"))
    assert got2 == [routed("http://example.org/s1/me", "http://example.org/s1/", P, "ex:o")]


def test_object_strategy(spark):
    df = quads_df(
        spark,
        [
            quad("ex:s1", P, "ex:o1"),
            quad("ex:s2", P, "ex:o1"),
            quad("ex:s3", P, "lit", o_type="Literal"),
        ],
    )
    got = collect_routed(route_object(df))
    assert got == sorted(
        [
            routed("ex:o1", "ex:s1", P, "ex:o1"),
            routed("ex:o1", "ex:s2", P, "ex:o1"),
        ]
    )


def test_object_strategy_bnode_owned_by_object(spark):
    # mirror: bnode OBJECT quads buffered; owners discovered via named objects
    # whose SUBJECT is the bnode.
    df = quads_df(
        spark,
        [
            quad("b1", P, "ex:o1", s_type="BlankNode"),
            quad("ex:s", P, "b1", o_type="BlankNode"),
        ],
    )
    got = collect_routed(route_object(df))
    assert got == sorted(
        [
            routed("ex:o1", "b1", P, "ex:o1", s_type="BlankNode"),
            routed("ex:o1", "ex:s", P, "b1", o_type="BlankNode"),
        ]
    )


def test_bnode_owners_driver_and_distributed_agree(spark):
    """Both physical strategies of the ownership closure produce the same
    (bnode, owner) table on chains and multi-owner graphs."""
    from rdf_dataset_fragmenter_js_spark.strategies.bnode import bnode_owners

    quads = quads_df(
        spark,
        [
            quad("http://ex.org/a", "http://ex.org/p", "b1", o_type="BlankNode"),
            quad("http://ex.org/b", "http://ex.org/p", "b1", o_type="BlankNode"),
            quad("b1", "http://ex.org/p", "b2", s_type="BlankNode", o_type="BlankNode"),
            quad("b2", "http://ex.org/p", "b3", s_type="BlankNode", o_type="BlankNode"),
            quad("b9", "http://ex.org/p", "x", s_type="BlankNode", o_type="Literal"),
        ],
    )
    via_driver = {
        (r.bnode, r.owner)
        for r in bnode_owners(quads, "s", "s_type", "o", "o_type").collect()
    }
    via_cluster = {
        (r.bnode, r.owner)
        for r in bnode_owners(
            quads, "s", "s_type", "o", "o_type", driver_threshold=0
        ).collect()
    }
    assert via_driver == via_cluster
    assert via_driver == {
        ("b1", "http://ex.org/a"), ("b1", "http://ex.org/b"),
        ("b2", "http://ex.org/a"), ("b2", "http://ex.org/b"),
        ("b3", "http://ex.org/a"), ("b3", "http://ex.org/b"),
    }


def test_bnode_owners_long_chain_has_no_depth_limit(spark):
    """A 61-bnode chain under one named owner: every bnode is owned, on the
    driver worklist and on the distributed frontier loop (the reference
    chases chains to a fixpoint with no depth limit)."""
    from rdf_dataset_fragmenter_js_spark.strategies.bnode import bnode_owners

    n = 61
    rows = [quad("http://ex.org/a", "http://ex.org/p", "b0", o_type="BlankNode")]
    rows += [
        quad(f"b{i}", "http://ex.org/p", f"b{i + 1}", s_type="BlankNode", o_type="BlankNode")
        for i in range(n - 1)
    ]
    quads = quads_df(spark, rows)
    want = sorted((f"b{i}", "http://ex.org/a") for i in range(n))
    for threshold in (1_000_000, 0):
        got = bnode_owners(quads, "s", "s_type", "o", "o_type", driver_threshold=threshold)
        assert sorted((r.bnode, r.owner) for r in got.collect()) == want, threshold
