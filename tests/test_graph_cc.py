"""connected_components: convergence beyond plain propagation + shapes.

A 30-node path has diameter 29: six rounds of plain neighbor-min
propagation alone would move label 0 only 6 hops, so full convergence on
this graph specifically exercises the pointer-jumping (label-of-label)
step's exponential radius growth.
"""

import pyspark.sql.functions as F
import pytest

from sen2rts_spark.operators.graph import connected_components


@pytest.fixture(scope="module")
def spark():
    from sen2rts_spark.session import get_spark
    s = get_spark("test-graph-cc", cores=4)
    yield s


def _run(spark, n_verts, edge_list, iters=6):
    verts = spark.createDataFrame([(i,) for i in range(n_verts)],
                                  "doc_id long")
    edges = spark.createDataFrame(edge_list or [(0, 0)], "src long, dst long")
    if not edge_list:
        edges = edges.filter(F.lit(False))
    out = connected_components(verts, edges, iters=iters).collect()
    return {r.doc_id: (r.cluster_rep, r.is_survivor) for r in out}


def test_path_graph_diameter_beyond_plain_propagation(spark):
    # path 0-1-2-...-29 (one direction only: the operator symmetrizes)
    res = _run(spark, 30, [(i, i + 1) for i in range(29)])
    assert all(res[i][0] == 0 for i in range(30))
    assert res[0][1] is True
    assert sum(1 for v in res.values() if v[1]) == 1


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


def test_star_plus_chain(spark):
    # hub star (0-k for k in 1..5) welded to a chain 5-6-7-8
    edges = [(0, k) for k in range(1, 6)] + [(5, 6), (6, 7), (7, 8)]
    res = _run(spark, 9, edges)
    assert {v[0] for v in res.values()} == {0}


def test_convergence_post_check_zero_when_converged(spark):
    from sen2rts_spark.operators.graph import cc_unconverged_edges
    edge_list = [(i, i + 1) for i in range(29)]
    verts = spark.createDataFrame([(i,) for i in range(30)], "doc_id long")
    edges = spark.createDataFrame(edge_list, "src long, dst long")
    labels = connected_components(verts, edges, iters=6)
    assert cc_unconverged_edges(labels, edges).first()[0] == 0


def test_convergence_post_check_detects_too_few_iters(spark):
    # a 40-node path needs more radius than iters=1 provides; the
    # post-check must surface that as a non-zero cross-label edge count
    # (the silent-convergence failure mode the check exists to catch).
    from sen2rts_spark.operators.graph import cc_unconverged_edges
    edge_list = [(i, i + 1) for i in range(39)]
    verts = spark.createDataFrame([(i,) for i in range(40)], "doc_id long")
    edges = spark.createDataFrame(edge_list, "src long, dst long")
    labels = connected_components(verts, edges, iters=1)
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
