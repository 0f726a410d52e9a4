"""Exact connected components for duplicate clustering.

The final step of a near-dedup pipeline: LSH/verify emits candidate PAIRS,
but retention decisions need CLUSTERS (one survivor per component). One
declarative plan with one Python task: the edges whose endpoints are both
vertices (the induced subgraph) are gathered into one ``mapInArrow`` task
and labeled there by a numpy union-find run to a fixpoint
(``_min_labels``), exact for any diameter, with no driver-side loop and no
lineage to truncate; the labels then left-join the vertices, so a vertex
on no edge is its own singleton. Scale bound: the task holds every kept
edge (ARCHITECTURE "Decisions that matter at 100 TB", item 20); past one
worker's memory it fails, it never mislabels.

Reference parity: the reference has no graph/dedup surface (R package,
SURVEY.md §1.2); this is part of the LLM-data-pipeline extension set.
"""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.types import StructField, StructType

__all__ = ["connected_components", "cc_unconverged_edges"]


def _min_labels(s: np.ndarray, d: np.ndarray, n: int) -> np.ndarray:
    """Index of the least node in each node's component.

    ``s``/``d``: edge endpoints as node indices in ``[0, n)``. Each round
    hooks every root under the least root across its edges (both
    directions), then pointer-jumps until every label is a root. Every
    label points at a node of its own component that is no larger than
    itself, so the least node keeps its own index; the loop ends once every
    edge joins one root, and then each component has one root, its least
    node. Each round removes at least one root. This is the hook-and-
    shortcut scheme of Shiloach and Vishkin (1982), run with numpy ufuncs.
    """
    lbl = np.arange(n)
    while not np.array_equal(lbl[s], lbl[d]):
        np.minimum.at(lbl, lbl[s], lbl[d])
        np.minimum.at(lbl, lbl[d], lbl[s])
        jumped = lbl[lbl]
        while not np.array_equal(jumped, lbl):
            lbl, jumped = jumped, jumped[jumped]
    return lbl


def _label_edges(batches):
    """All edge batches of the one task → (doc_id, lbl) per endpoint."""
    import pyarrow as pa

    batches = [b for b in batches if b.num_rows]
    if not batches:
        return
    edges = pa.Table.from_batches(batches)
    ids, idx = np.unique(np.concatenate(
        [edges["src"].to_numpy(), edges["dst"].to_numpy()]),
        return_inverse=True)
    lbl = _min_labels(idx[:edges.num_rows], idx[edges.num_rows:], len(ids))
    yield pa.record_batch({"doc_id": ids, "lbl": ids[lbl]})


def connected_components(vertices: DataFrame, edges: DataFrame) -> DataFrame:
    """Label each vertex with the min vertex-id of its component.

    vertices: one column ``doc_id`` (any orderable id type).
    edges: columns ``src``, ``dst`` — treated as UNDIRECTED (callers need
      not symmetrize). An edge with an endpoint that is not a vertex is
      ignored: the components are those of the induced subgraph.

    Returns (doc_id, cluster_rep, is_survivor) — survivor is the min-id
    member, the row a dedup pipeline keeps. Isolated vertices are their
    own singleton cluster.
    """
    id_type = vertices.schema["doc_id"].dataType
    ids = vertices.select("doc_id")
    kept = edges.select("src", "dst") \
        .join(ids.withColumnRenamed("doc_id", "src"), "src", "left_semi") \
        .join(ids.withColumnRenamed("doc_id", "dst"), "dst", "left_semi")
    labels = kept.repartition(1).mapInArrow(_label_edges, StructType(
        [StructField("doc_id", id_type), StructField("lbl", id_type)]))
    rep = F.coalesce("lbl", "doc_id")
    return ids.join(labels, "doc_id", "left").select(
        "doc_id", rep.alias("cluster_rep"),
        (F.col("doc_id") == rep).alias("is_survivor"))


def cc_unconverged_edges(labels: DataFrame, edges: DataFrame) -> DataFrame:
    """Convergence post-check for a ``connected_components`` labeling.

    Returns a one-row DataFrame ``(unconverged_edges bigint)`` counting
    edges whose endpoints carry different ``cluster_rep`` labels, or whose
    endpoint has no label row or a null label at all. Zero iff
    the labeling is fully converged — and a converged labeling is EXACT:
    a vertex's label only ever decreases and always holds the id of a
    same-component member, so the component's min-id vertex keeps its own
    id forever; if the label is constant across every edge it is constant
    across the component and therefore equals that min. A labeling that
    stopped early shows up here as a non-zero count instead of silently
    wrong clusters.

    Not wired into the dedup query path, which runs to a fixpoint: it is
    the operator's oracle in the tests and the benchmark's curate check.
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
