"""Batched grouped-map: applyInPandas semantics at mapInPandas cost.

``groupBy().applyInPandas`` dispatches one Python call + one Arrow batch per
GROUP — with millions of small series (~100s of rows each) the per-group
overhead dominates (measured ~9 ms/group vs ~0.6 ms of real work for the
Gorilla encoder). This helper partitions on the group keys, sorts within
partitions, and walks Arrow batches in a single ``mapInPandas`` stream,
slicing group runs with numpy and carrying the tail group across batch
boundaries — one Python call per ~64k rows.

Placement: hash partitioning by default, which suits kernels whose cost
follows the row count (smooth, fill, cut_cycles). Operators whose cost is
per group and large, the curve fits, ask for range partitioning instead.
Its bounds come from a row sample, so while groups of similar size number
no more than the partitions, each group gets a partition of its own: a
handful of cycles run in as many tasks instead of sharing a hash bucket.

Correctness: either partitioning colocates each group in one partition;
sortWithinPartitions makes each group a contiguous run; the carry handles
runs that straddle batch boundaries. Output equals applyInPandas (tested).

``run_starts`` is the one run-boundary rule. ``arrow_runs`` is the same
walk for ``mapInArrow`` writers that need no pandas (the Gorilla sink and
compaction): it yields Arrow batches of whole runs.
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame

__all__ = ["grouped_apply", "run_starts", "arrow_runs"]

# 3 tasks/core (standard sizing) — straggler/steal mitigation; groups are
# small relative to partitions so the extra splits don't fragment runs.
# The one partition-count rule of the grouped kernels, the Gorilla sink and
# the fused rollup pipeline's exchange.
_PARTS_PER_CORE = 3


def grouped_apply(df: DataFrame, keys: list[str], fn: Callable, schema: str,
                  order: list[str] | None = None,
                  by_range: bool = False) -> DataFrame:
    """Apply ``fn(pdf) -> pdf`` once per distinct ``keys`` group.

    ``order``: optional within-group sort columns (groups arrive to ``fn``
    sorted by ``keys + order``). ``by_range``: range-partition on ``keys``
    instead of hashing them, for kernels whose cost is per group rather
    than per row (module docstring).
    """
    parts = _PARTS_PER_CORE * df.sparkSession.sparkContext.defaultParallelism
    partition = df.repartitionByRange if by_range else df.repartition
    arranged = partition(parts, *keys) \
        .sortWithinPartitions(*(keys + (order or [])))

    def _stream(batches):
        carry: pd.DataFrame | None = None

        def _keytuple(pdf, i):
            return tuple(pdf[k].iloc[i] for k in keys)

        for pdf in batches:
            if len(pdf) == 0:
                continue
            outs = []
            if carry is not None:
                if _keytuple(carry, -1) == _keytuple(pdf, 0):
                    pdf = pd.concat([carry, pdf], ignore_index=True)
                else:
                    out = fn(carry)
                    if out is not None and len(out):
                        outs.append(out)
                carry = None
            starts = run_starts([pdf[k] for k in keys])
            ends = np.append(starts[1:], len(pdf))
            # last run may continue into the next batch — hold it back
            for s, e in zip(starts[:-1], ends[:-1]):
                out = fn(pdf.iloc[s:e])
                if out is not None and len(out):
                    outs.append(out)
            carry = pdf.iloc[starts[-1]:].copy()
            # ONE Arrow batch out per batch in — per-yield overhead amortizes
            if outs:
                yield outs[0] if len(outs) == 1 else \
                    pd.concat(outs, ignore_index=True)
        if carry is not None:
            out = fn(carry)
            if out is not None and len(out):
                yield out

    return arranged.mapInPandas(_stream, schema=schema)


def run_starts(cols) -> np.ndarray:
    """First row of each run of equal values across the equal-length key
    columns ``cols`` (numpy arrays or anything ``np.asarray`` takes)."""
    change = np.zeros(len(cols[0]), dtype=bool)
    change[:1] = True
    for col in cols:
        col = np.asarray(col)
        change[1:] |= col[1:] != col[:-1]
    return np.flatnonzero(change)


def arrow_runs(batches, keys: list[str]):
    """Walk key-sorted Arrow record batches as whole runs of equal ``keys``.

    Yields ``(batch, starts)``: ``batch`` holds only complete runs and
    ``starts`` is each run's first row. The last run of every input batch
    is held back and prepended to the next, so a run that straddles batch
    boundaries comes out whole, exactly once. Empty batches are skipped.
    """
    carry = None
    for batch in batches:
        if batch.num_rows == 0:
            continue
        if carry is not None:
            batch = pa.Table.from_batches([carry, batch]) \
                .combine_chunks().to_batches()[0]
        starts = run_starts([batch.column(k) for k in keys])
        if len(starts) > 1:
            yield batch.slice(0, starts[-1]), starts[:-1]
        carry = batch.slice(starts[-1])
    if carry is not None:
        yield carry, np.zeros(1, dtype=np.int64)
