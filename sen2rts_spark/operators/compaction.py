"""Blob-store compaction: merge fragmented Gorilla blobs per (id, chunk).

Incremental ingestion fragments the tier store: every commit that APPENDS
newly-arrived buckets for an existing (id, tier, chunk_start) window
writes another small blob, so a year-old hot series accumulates dozens of
fragments per chunk and every read pays per-blob fixed cost (envelope
row, decode dispatch, Arrow cell) dozens of times over. ``compact_blobs``
is the Iceberg ``rewrite_data_files`` analogue for this store — a
maintenance pass that rewrites each fragmented (id, tier, chunk_start)
group into ONE blob while leaving already-compact groups untouched
byte-for-byte (so re-running it is idempotent and a planned-but-skipped
group costs nothing).

Scale shape: one hash shuffle on the group key (the window count that
splits fragmented groups from singletons), then singletons flow through
unchanged — no decode, no re-encode — and only fragments enter the
vectorized decode→merge→re-encode mapInArrow pass. At 100 TB the pass is
bounded by the fragmented fraction of the store, not the store size, and
each group's output blob is chunk-bounded exactly like the sink's
(operators/gorilla_sink.py).

Merge policy: fragments of a group must hold DISJOINT bucket_starts — the
append path only ever adds new buckets. A duplicate bucket across
fragments means someone appended an upsert, which this store expresses as
an idempotent bucket overwrite through the catalog
(sources/catalog.py:write_stage), never as a blob append — compaction
fails loudly rather than guessing which value wins.

Reference parity note: sen2rts has no storage layer (its s2ts cube lives
in memory, R/load_s2paths.R + R/extract_s2ts.R scan rasters per call);
compaction is part of the graft's retention-service surface.
"""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

# gorilla_encode_multi is called through blob_batch; it stays a module
# attribute because perfbench's traced runs wrap it here by name
from ..kernels.gorilla import gorilla_decode_multi, gorilla_encode_multi  # noqa: F401
from .gorilla_sink import BLOB_SCHEMA, _blob_buffers, blob_batch
from .grouped import arrow_runs

__all__ = ["compact_blobs"]


def compact_blobs(blobs: DataFrame) -> DataFrame:
    """Rewrite multi-blob (id, tier, chunk_start) groups into one blob each.

    Input/output schema: ``BLOB_SCHEMA``. Groups that already hold a single
    blob pass through byte-identical (tested); fragmented groups are walked
    as whole runs (``grouped.arrow_runs``, the sink's walker), decoded with
    the vectorized cross-blob kernel, merged in timestamp order, and
    re-encoded by the sink's writer (``gorilla_sink.blob_batch``), so a
    merged blob is byte-identical to the sink's blob of the same points.
    ``count``/``min_ts``/``max_ts`` of a merged blob are recomputed from
    the merged points, so the envelope prune (tier_read_window_prune)
    stays exact after compaction.

    Writing the result: repartition to the sink's standard 3-tasks/core
    sizing (or your store's target file size) before ``.write`` — the
    output of the union is small enough post-merge that AQE otherwise
    coalesces it into few large files and READ parallelism collapses
    (measured 2.2× slower reads; BENCH/BASELINE.md round-8 compaction).
    The wall-clock read win is largest for micro-fragments (daily appends:
    1.4× + 26× fewer index rows); weekly-sized fragments already decode at
    amortized cost via the lockstep kernel, so there the payoff is the
    blob-index reduction (envelope scan/filter/shuffle rows), not decode.
    """
    group = ["id", "tier", "chunk_start"]
    tagged = blobs.withColumn(
        "_nfrag", F.count(F.lit(1)).over(Window.partitionBy(*group)))
    single = tagged.filter(F.col("_nfrag") == 1).drop("_nfrag")
    # the window's hash partitioning already collocates each group; only a
    # within-partition sort is needed to make groups contiguous for the
    # streaming merge (same no-second-exchange shape as the sink's
    # clustered=True path)
    frag = (tagged.filter(F.col("_nfrag") > 1).drop("_nfrag")
            .sortWithinPartitions(*group, "min_ts"))

    def _merge(batches):
        # per batch of whole groups (contiguous after the sort above): ONE
        # vectorized decode of every fragment, one stable time sort of the
        # points within their group, ONE vectorized re-encode
        for batch, starts in arrow_runs(batches, group):
            dat, offs = _blob_buffers(batch)
            counts, ts, vals = gorilla_decode_multi(dat, offs)
            sizes = np.add.reduceat(counts, starts)
            gid = np.repeat(np.arange(len(starts)), sizes)
            order = np.lexsort((ts, gid))
            ts, vals = ts[order], vals[order]
            dup = np.flatnonzero((ts[1:] == ts[:-1]) & (gid[1:] == gid[:-1]))
            if len(dup):
                row = starts[gid[dup[0]]]
                key = [batch.column(k)[row].as_py() for k in group]
                raise ValueError(
                    f"duplicate bucket across fragments of (id={key[0]}, "
                    f"tier={key[1]}, chunk={key[2]}): upserts go through "
                    f"the catalog's idempotent bucket overwrite, not blob "
                    f"appends — refusing to pick a winner")
            yield blob_batch(*(batch.column(k).take(starts) for k in group),
                             ts * 1_000_000, vals,
                             np.cumsum(sizes) - sizes)

    merged = frag.mapInArrow(_merge, BLOB_SCHEMA)
    return single.unionByName(merged)
