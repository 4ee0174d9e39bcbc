"""Edge-semantics tests for connected components (operators/graph.py).

The oracle suite (ql23) proves parity with DuckDB's recursive-CTE
transitive closure on fixture data; these pin convergence behavior on
crafted graph shapes.
"""

from __future__ import annotations

import pytest

from streamsurfer_spark.operators import graph
from streamsurfer_spark.operators.graph import connected_components


def _cc(spark, edges, **kw):
    df = spark.createDataFrame(edges, "src long, dst long")
    out = connected_components(df, **kw)
    return {r.id: r.cluster_id for r in out.collect()}


@pytest.fixture
def force_distributed(monkeypatch):
    """Route connected_components past the r13 driver union-find fast
    path so the distributed fixpoint loops stay covered."""
    monkeypatch.setattr(graph, "CC_DRIVER_EDGE_CAP", -1)


def test_two_components(spark):
    got = _cc(spark, [(1, 2), (2, 3), (10, 11)])
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_chain_longer_than_checkpoint_interval(spark, force_distributed):
    # a 9-node path: min label must walk the whole chain (8 hops > the
    # localCheckpoint interval of 5), covering the lineage-truncation path
    edges = [(i, i + 1) for i in range(1, 9)]
    got = _cc(spark, edges)
    assert got == {i: 1 for i in range(1, 10)}


def test_direction_does_not_matter(spark):
    # label flows against edge direction too (undirected semantics)
    got = _cc(spark, [(5, 1), (5, 9)])
    assert got == {1: 1, 5: 1, 9: 1}


def test_max_iter_exceeded_raises(spark, force_distributed):
    edges = [(i, i + 1) for i in range(1, 9)]
    df = spark.createDataFrame(edges, "src long, dst long")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(df, max_iter=2)


def test_driver_fastpath_matches_distributed(spark, monkeypatch):
    """The r13 driver union-find fast path must label EXACTLY like the
    distributed contraction — same node set, same min-label clusters —
    across the crafted shapes (mixed components, self-loop-only node,
    reversed/duplicate edges, string ids)."""
    shapes = [
        [(1, 2), (2, 3), (3, 1), (10, 11), (20, 21), (21, 22), (22, 23), (40, 41)],
        [(7, 7), (1, 2)],
        [(5, 1), (1, 5), (5, 9), (9, 5), (9, 5)],
        [(i, i + 1) for i in range(1, 20)],
    ]
    for edges in shapes:
        monkeypatch.setattr(graph, "CC_DRIVER_EDGE_CAP", 10_000)
        fast = _cc(spark, edges)
        monkeypatch.setattr(graph, "CC_DRIVER_EDGE_CAP", -1)
        slow = _cc(spark, edges)
        assert fast == slow, edges[:3]
    # string ids: UTF8 binary order == codepoint order, so the driver
    # min matches Spark's min
    sdf = spark.createDataFrame([("b", "a"), ("b", "c")], "src string, dst string")
    monkeypatch.setattr(graph, "CC_DRIVER_EDGE_CAP", 10_000)
    fast = {r.id: r.cluster_id for r in connected_components(sdf).collect()}
    monkeypatch.setattr(graph, "CC_DRIVER_EDGE_CAP", -1)
    slow = {r.id: r.cluster_id for r in connected_components(sdf).collect()}
    assert fast == slow == {"a": "a", "b": "a", "c": "a"}


def test_driver_fastpath_schema_and_empty(spark):
    """Fast-path output schema must equal the distributed schema (id,
    cluster_id with the edge id type), and an empty edge frame yields an
    empty result, not an error."""
    df = spark.createDataFrame([(1, 2)], "src long, dst long")
    out = connected_components(df)
    assert [f.name for f in out.schema.fields] == ["id", "cluster_id"]
    assert [f.dataType.simpleString() for f in out.schema.fields] == ["bigint", "bigint"]
    empty = spark.createDataFrame([], "src long, dst long")
    assert connected_components(empty).count() == 0


def test_star_adversarial_long_chain_converges_in_log_rounds(
    spark, force_distributed
):
    # a 64-node path has diameter 63: the star contraction halves path
    # length every round, so 10 rounds (~log2(64) + slack) must suffice
    edges = [(i, i + 1) for i in range(1, 64)]
    got = _cc(spark, edges, max_iter=10)
    assert got == {i: 1 for i in range(1, 65)}


def test_star_direction_and_duplicates(spark):
    # reversed + duplicate edges collapse to the same canonical set
    got = _cc(spark, [(5, 1), (1, 5), (5, 9), (9, 5), (9, 5)])
    assert got == {1: 1, 5: 1, 9: 1}


def test_star_keeps_selfloop_only_nodes(spark):
    """A node whose only edge is a self-loop must stay in the output as
    a singleton cluster; it used to vanish from the star path (r7
    review)."""
    edges = spark.createDataFrame(
        [(7, 7), (1, 2)], "src long, dst long"
    )
    got = {r.id: r.cluster_id for r in connected_components(edges).collect()}
    assert got == {7: 7, 1: 1, 2: 1}


def test_star_checksum_survives_huge_ids(spark, force_distributed):
    """Convergence sums run in DECIMAL(38,0): raw long sums of 64-bit
    hash-style ids overflow under ANSI after a handful of rows (r7
    review)."""
    big = 9_100_000_000_000_000_000
    edges = spark.createDataFrame(
        [(big, big - 1), (big - 1, big - 2)], "src long, dst long"
    )
    got = {r.id: r.cluster_id for r in connected_components(edges).collect()}
    assert got == {big: big - 2, big - 1: big - 2, big - 2: big - 2}


def test_cluster_representatives_string_ids(spark):
    """The max-score/min-id tiebreak negates the SCORE, not the id, so
    string ids work (unary minus on a string id was an ANSI analysis
    error — r7 review)."""
    from streamsurfer_spark.operators.graph import cluster_representatives

    pairs = spark.createDataFrame(
        [("a", "b"), ("b", "c")], "doc_a string, doc_b string"
    )
    scores = spark.createDataFrame(
        [("a", 0.5), ("b", 0.9), ("c", 0.9)], "doc_id string, quality_score double"
    )
    got = cluster_representatives(pairs, scores).collect()
    assert len(got) == 1
    # max score 0.9 tied between b and c -> smallest id 'b'
    assert got[0].rep_id == "b" and got[0].n_members == 3
