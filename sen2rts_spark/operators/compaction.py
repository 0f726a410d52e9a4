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

from ..kernels.gorilla import gorilla_decode_multi, gorilla_encode_multi
from .gorilla_sink import BLOB_SCHEMA, _blob_buffers

__all__ = ["compact_blobs"]


def compact_blobs(blobs: DataFrame) -> DataFrame:
    """Rewrite multi-blob (id, tier, chunk_start) groups into one blob each.

    Input/output schema: ``BLOB_SCHEMA``. Groups that already hold a single
    blob pass through byte-identical (tested); fragmented groups are decoded
    with the vectorized cross-blob kernel, merged in timestamp order, and
    re-encoded. ``count``/``min_ts``/``max_ts`` of a merged blob are
    recomputed from the merged points, so the envelope prune
    (tier_read_window_prune) stays exact after compaction.

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
    import pyarrow as pa

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

    out_type = pa.schema([
        ("id", pa.string()), ("tier", pa.string()),
        ("chunk_start", pa.timestamp("us")), ("blob", pa.binary()),
        ("count", pa.int32()), ("min_ts", pa.timestamp("us")),
        ("max_ts", pa.timestamp("us")),
    ])

    def _merge(batches):
        pend = None  # (key=(id, tier, chunk_us), [ts arrays], [val arrays])

        def finish(key, ts_parts, val_parts, groups):
            ts = np.concatenate(ts_parts)
            vals = np.concatenate(val_parts)
            order = np.argsort(ts, kind="stable")
            ts, vals = ts[order], vals[order]
            if len(ts) > 1 and (np.diff(ts) == 0).any():
                raise ValueError(
                    f"duplicate bucket across fragments of (id={key[0]}, "
                    f"tier={key[1]}, chunk={key[2]}): upserts go through "
                    f"the catalog's idempotent bucket overwrite, not blob "
                    f"appends — refusing to pick a winner")
            groups.append((key, ts, vals))

        def to_batch(groups):
            # ONE vectorized encode for every merged group in the batch:
            # the per-blob scalar encoder pays ~25 numpy dispatches of fixed
            # cost per group (~0.4 ms), which dominated the compaction wall
            # at tens of thousands of groups; gorilla_encode_multi pays it
            # once per batch. (The sink, encode_blobs, still calls the
            # scalar gorilla_encode once per blob.)
            starts = np.concatenate(
                ([0], np.cumsum([len(t) for _, t, _ in groups])[:-1]))
            ts_all = np.concatenate([t for _, t, _ in groups])
            vals_all = np.concatenate([v for _, _, v in groups])
            dat, offs = gorilla_encode_multi(ts_all, vals_all, starts)
            return pa.record_batch([
                pa.array([k[0] for k, _, _ in groups], pa.string()),
                pa.array([k[1] for k, _, _ in groups], pa.string()),
                pa.array([int(k[2]) for k, _, _ in groups],
                         pa.timestamp("us")),
                pa.array([dat[offs[g]:offs[g + 1]].tobytes()
                          for g in range(len(groups))], pa.binary()),
                pa.array([len(t) for _, t, _ in groups], pa.int32()),
                pa.array([int(t[0]) * 1_000_000 for _, t, _ in groups],
                         pa.timestamp("us")),
                pa.array([int(t[-1]) * 1_000_000 for _, t, _ in groups],
                         pa.timestamp("us")),
            ], schema=out_type)

        for batch in batches:
            if batch.num_rows == 0:
                continue
            # one vectorized decode of every fragment in the batch, then
            # per-group slices of the concatenated point arrays (groups are
            # contiguous after the sortWithinPartitions above)
            dat, offs = _blob_buffers(batch)
            counts, ts_all, vals_all = gorilla_decode_multi(dat, offs)
            base = np.cumsum(counts) - counts
            ids = np.asarray(
                batch.column(batch.schema.get_field_index("id"))
                .to_numpy(zero_copy_only=False))
            tiers = np.asarray(
                batch.column(batch.schema.get_field_index("tier"))
                .to_numpy(zero_copy_only=False))
            chunks = np.asarray(
                batch.column(batch.schema.get_field_index("chunk_start"))
                .cast(pa.int64()).to_numpy())
            n = len(ids)
            change = np.concatenate(
                ([True], (ids[1:] != ids[:-1]) | (tiers[1:] != tiers[:-1])
                 | (chunks[1:] != chunks[:-1])))
            starts = np.flatnonzero(change)
            ends = np.concatenate((starts[1:], [n]))
            groups = []
            for k in range(len(starts)):
                s, e = starts[k], ends[k]
                key = (ids[s], tiers[s], chunks[s])
                pts_lo = base[s]
                pts_hi = base[e - 1] + counts[e - 1]
                ts_parts = [ts_all[pts_lo:pts_hi]]
                val_parts = [vals_all[pts_lo:pts_hi]]
                if pend is not None:
                    if pend[0] == key:
                        ts_parts = pend[1] + ts_parts
                        val_parts = pend[2] + val_parts
                    else:
                        finish(pend[0], pend[1], pend[2], groups)
                    pend = None
                if k == len(starts) - 1:
                    # group may continue into the next Arrow batch
                    pend = (key, ts_parts, val_parts)
                else:
                    finish(key, ts_parts, val_parts, groups)
            if groups:
                yield to_batch(groups)
        if pend is not None:
            groups = []
            finish(pend[0], pend[1], pend[2], groups)
            yield to_batch(groups)

    merged = frag.mapInArrow(_merge, BLOB_SCHEMA)
    return single.unionByName(merged)
