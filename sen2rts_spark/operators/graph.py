"""Distributed connected components for duplicate clustering.

The final step of a near-dedup pipeline: LSH/verify emits candidate PAIRS,
but retention decisions need CLUSTERS (one survivor per component). This
implements the alternating min-label-propagation + pointer-jumping family
of MapReduce connected components (Kiveris et al., "Connected Components in
MapReduce and Beyond", SoCC'14 — public algorithm), expressed entirely as
DataFrame joins/aggregations:

- propagate: every node takes the min label over its in-neighbors
  (edges ⋈ labels, then groupBy(dst).min — ONE shuffle keyed on dst);
- jump: every node re-reads the label OF its current label (labels ⋈
  labels on lbl = doc_id), which roughly doubles the distance a small
  label has travelled.

A FIXED ``iters`` round count keeps the whole computation declarative —
no driver-side convergence action, so the plan guard
(tests/test_plan_guards.py) holds. Radius covered grows like ~2**iters;
the default 6 converges any component of diameter ≲ 64, far beyond the
hub-and-chain shapes LSH near-dup graphs produce.

Lineage MUST be truncated per round: each round references the label table
4× (twice in propagate, twice in jump), so without truncation the logical
plan holds 4**iters copies of the upstream subtree — at iters=6 that is
~4096 copies of the whole LSH candidate pipeline and Catalyst analysis
blows up exponentially. ``localCheckpoint(eager=False)`` truncates the
plan at BUILD time (physical-plans the subtree, wraps the RDD — no Spark
job runs until the final query executes, so the no-plan-time-action
invariant holds); the edge table is truncated once so the candidate
pipeline is computed once, not once per round. This is the same
checkpoint-per-round discipline GraphFrames uses for its iterative
algorithms. Cluster caveat: local checkpoints live on executor-local
storage — with dynamic allocation use reliable ``checkpoint()`` instead.

Reference parity: the reference has no graph/dedup surface (R package,
SURVEY.md §1.2); this is part of the LLM-data-pipeline extension set.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

__all__ = ["connected_components", "cc_unconverged_edges"]


def connected_components(vertices: DataFrame, edges: DataFrame,
                         iters: int = 6, truncate: bool = True,
                         truncate_every: int = 2) -> DataFrame:
    """Label each vertex with the min vertex-id of its component.

    vertices: one column ``doc_id`` (any orderable id type).
    edges: columns ``src``, ``dst`` — treated as UNDIRECTED (both
      directions are propagated; callers need not symmetrize).
    iters: propagate+jump rounds; converges for diameter <= ~2**iters.
    truncate: lazy-localCheckpoint the edge table once and the label table
      periodically (see module docstring — REQUIRED beyond ~3 iters, the
      plan otherwise holds 4**iters copies of the upstream subtree). Off
      only for plan-shape inspection at tiny iters.
    truncate_every: rounds between label-table truncations. Each round
      multiplies the label subtree 4×, so a cadence of k leaves at most
      4**k references to the last checkpointed leaf — a flat RDD scan, so
      k=2 (16 refs) keeps analysis trivial while halving the number of
      checkpoint materialization barriers at execution (measured ~8 % off
      the dedup_cluster bench row; results identical). The final round is
      always truncated so the returned plan is bounded for callers that
      keep composing on top of it.

    Returns (doc_id, cluster_rep, is_survivor) — survivor is the min-id
    member, the row a dedup pipeline keeps. Isolated vertices are their
    own singleton cluster.
    """
    bidir = edges.select("src", "dst").unionAll(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    if truncate:
        bidir = bidir.localCheckpoint(eager=False)
    lbl = vertices.select("doc_id", F.col("doc_id").alias("lbl"))
    for _round in range(iters):
        nmin = bidir.join(
            lbl.select(F.col("doc_id").alias("src"),
                       F.col("lbl").alias("src_lbl")), "src") \
            .groupBy("dst").agg(F.min("src_lbl").alias("nl"))
        lbl = lbl.join(nmin, lbl["doc_id"] == nmin["dst"], "left") \
            .select("doc_id",
                    F.least(F.col("lbl"),
                            F.coalesce("nl", F.col("lbl"))).alias("lbl"))
        parent = lbl.select(F.col("doc_id").alias("p_id"),
                            F.col("lbl").alias("p_lbl"))
        lbl = lbl.join(parent, lbl["lbl"] == parent["p_id"], "left") \
            .select("doc_id", F.coalesce("p_lbl", "lbl").alias("lbl"))
        if truncate and (_round % truncate_every == truncate_every - 1
                         or _round == iters - 1):
            lbl = lbl.localCheckpoint(eager=False)
    return lbl.select(
        "doc_id", F.col("lbl").alias("cluster_rep"),
        (F.col("doc_id") == F.col("lbl")).alias("is_survivor"))


def cc_unconverged_edges(labels: DataFrame, edges: DataFrame) -> DataFrame:
    """Optional convergence post-check for ``connected_components``.

    Returns a one-row DataFrame ``(unconverged_edges bigint)`` counting
    edges whose endpoints carry different ``cluster_rep`` labels, or whose
    endpoint has no label row or a null label at all. Zero iff
    the labeling is fully converged — and a converged labeling is EXACT:
    a vertex's label only ever decreases and always holds the id of a
    same-component member, so the component's min-id vertex keeps its own
    id forever; if the label is constant across every edge it is constant
    across the component and therefore equals that min. A fixed ``iters``
    too small for some component's diameter shows up here as a non-zero
    count instead of silently wrong clusters.

    Deliberately NOT wired into the dedup query path: it would add a join
    + action per call for a diameter regime (> ~2**iters) LSH near-dup
    graphs do not reach. Callers that ingest adversarial graphs can run it
    after materializing labels; tests pin both directions (zero on
    converged graphs, non-zero when iters is forced too small or an
    endpoint's label is missing).
    """
    e = edges.select("src", "dst")
    a = labels.select(F.col("doc_id").alias("src"),
                      F.col("cluster_rep").alias("src_rep"))
    b = labels.select(F.col("doc_id").alias("dst"),
                      F.col("cluster_rep").alias("dst_rep"))
    return (e.join(a, "src", "left").join(b, "dst", "left")
            .filter(F.col("src_rep").isNull() | F.col("dst_rep").isNull()
                    | (F.col("src_rep") != F.col("dst_rep")))
            .agg(F.count(F.lit(1)).alias("unconverged_edges")))
