"""connected_components: exact labels on long paths, induced-subgraph
semantics, singletons, and the union-find helper against a plain one.

A 30-node path has diameter 29 and a 2,000-node path with permuted ids
has diameter 1,999: a fixed number of propagate+jump rounds leaves most of
it mislabeled, so both pin that the labeling runs to a fixpoint.
"""

import numpy as np
import pyspark.sql.functions as F
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from sen2rts_spark.operators.graph import _min_labels, connected_components


@pytest.fixture(scope="module")
def spark():
    from sen2rts_spark.session import get_spark
    s = get_spark("test-graph-cc", cores=4)
    yield s


def _run(spark, verts, edge_list):
    if isinstance(verts, int):
        verts = range(verts)
    vdf = spark.createDataFrame([(i,) for i in verts], "doc_id long")
    edges = spark.createDataFrame(edge_list or [(0, 0)], "src long, dst long")
    if not edge_list:
        edges = edges.filter(F.lit(False))
    out = connected_components(vdf, edges).collect()
    return {r.doc_id: (r.cluster_rep, r.is_survivor) for r in out}


def test_path_graph_diameter_beyond_plain_propagation(spark):
    # path 0-1-2-...-29 (one direction only: the operator symmetrizes)
    res = _run(spark, 30, [(i, i + 1) for i in range(29)])
    assert all(res[i][0] == 0 for i in range(30))
    assert res[0][1] is True
    assert sum(1 for v in res.values() if v[1]) == 1


def test_permuted_path_labeled_exactly(spark):
    # ids visited in random order along a 2,000-node path, plus a 3-node
    # path on top: every vertex must carry its component's least id
    n = 2000
    order = np.random.default_rng(7).permutation(n).tolist()
    edges = list(zip(order[:-1], order[1:])) + [(n + 2, n + 1), (n + 1, n)]
    res = _run(spark, n + 3, edges)
    assert len(res) == n + 3
    assert sum(1 for i in range(n) if res[i][0] != 0) == 0
    assert all(res[i][0] == n for i in range(n, n + 3))
    assert {i for i, v in res.items() if v[1]} == {0, n}


def test_empty_edge_set_every_vertex_survives(spark):
    res = _run(spark, [5, 3, 9], [])
    assert res == {5: (5, True), 3: (3, True), 9: (9, True)}


def test_components_and_singletons(spark):
    # two components {0,1,2}, {10,11}, singletons 20, 21
    edges = [(1, 0), (2, 1), (11, 10)]
    res = _run(spark, 3, edges)  # verts 0..2 only -> one component
    assert {v[0] for v in res.values()} == {0}
    verts22 = list(range(3)) + [10, 11, 20, 21]
    spark_res = connected_components(
        spark.createDataFrame([(i,) for i in verts22], "doc_id long"),
        spark.createDataFrame(edges, "src long, dst long")).collect()
    got = {r.doc_id: r.cluster_rep for r in spark_res}
    assert got == {0: 0, 1: 0, 2: 0, 10: 10, 11: 10, 20: 20, 21: 21}
    surv = {r.doc_id for r in spark_res if r.is_survivor}
    assert surv == {0, 10, 20, 21}


def test_non_vertex_endpoint_does_not_bridge(spark):
    # 1 and 2 are linked only through 99, which is not a vertex: the
    # components are those of the induced subgraph, so they stay apart
    res = _run(spark, [1, 2, 3], [(1, 99), (99, 2), (3, 2)])
    assert res == {1: (1, True), 2: (2, True), 3: (2, False)}


def test_star_plus_chain(spark):
    # hub star (0-k for k in 1..5) welded to a chain 5-6-7-8
    edges = [(0, k) for k in range(1, 6)] + [(5, 6), (6, 7), (7, 8)]
    res = _run(spark, 9, edges)
    assert {v[0] for v in res.values()} == {0}


def _plain_union_find(edges, n):
    parent = list(range(n))

    def root(x):
        while parent[x] != x:
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = root(a), root(b)
        parent[max(ra, rb)] = min(ra, rb)
    return [root(x) for x in range(n)]


@settings(max_examples=200, deadline=None)
@given(st.integers(1, 40).flatmap(lambda n: st.tuples(
    st.just(n), st.lists(st.tuples(st.integers(0, n - 1),
                                   st.integers(0, n - 1)), max_size=60))))
def test_min_labels_matches_plain_union_find(case):
    # self-loops, duplicate edges and isolated nodes all arise here
    n, edges = case
    s = np.array([a for a, _ in edges], dtype=np.int64)
    d = np.array([b for _, b in edges], dtype=np.int64)
    assert _min_labels(s, d, n).tolist() == _plain_union_find(edges, n)


def test_convergence_post_check_zero_when_converged(spark):
    from sen2rts_spark.operators.graph import cc_unconverged_edges
    edge_list = [(i, i + 1) for i in range(29)]
    verts = spark.createDataFrame([(i,) for i in range(30)], "doc_id long")
    edges = spark.createDataFrame(edge_list, "src long, dst long")
    labels = connected_components(verts, edges)
    assert cc_unconverged_edges(labels, edges).first()[0] == 0


def test_convergence_post_check_detects_too_few_iters(spark):
    # the labeling one round of min-propagation leaves on a 40-node path
    # (each vertex takes the least id among itself and its neighbors): the
    # post-check must surface it as a non-zero cross-label edge count
    # (the silent-convergence failure mode the check exists to catch).
    from sen2rts_spark.operators.graph import cc_unconverged_edges
    edge_list = [(i, i + 1) for i in range(39)]
    labels = spark.createDataFrame([(i, max(i - 1, 0)) for i in range(40)],
                                   "doc_id long, cluster_rep long")
    edges = spark.createDataFrame(edge_list, "src long, dst long")
    n_bad = cc_unconverged_edges(labels, edges).first()[0]
    assert n_bad > 0
    reps = {r.cluster_rep for r in labels.collect()}
    assert reps != {0}  # genuinely unconverged, not a false alarm


def test_convergence_post_check_counts_unlabeled_endpoint(spark):
    # an edge whose endpoint has no label row is not converged: an inner
    # join would drop it and report 0
    from sen2rts_spark.operators.graph import cc_unconverged_edges
    labels = spark.createDataFrame([(0, 0), (1, 0), (2, 0)],
                                   "doc_id long, cluster_rep long")
    edges = spark.createDataFrame([(0, 1), (1, 2), (2, 3)], "src long, dst long")
    assert cc_unconverged_edges(labels, edges).first()[0] == 1
    assert cc_unconverged_edges(labels, edges.select(
        F.col("dst").alias("src"), F.col("src").alias("dst"))).first()[0] == 1
