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

Scale shape: one pass. A numbered hash repartition on the group key
(``grouped.partition_count``, the sink's 3 tasks/core; AQE does not
coalesce a numbered repartition), a within-partition sort, and one
mapInArrow walk over whole group runs: singleton runs pass through
byte-for-byte (no decode, no re-encode), multi-fragment runs go through
the vectorized decode→merge→re-encode. The input is scanned once and
shuffled once. Each group's output blob is chunk-bounded exactly like the
sink's (operators/gorilla_sink.py), and the re-encode runs in slices of at
most 65,536 points, so a task's memory does not grow with its batch of
merged groups.

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
import pyarrow as pa
from pyspark.sql import DataFrame

# gorilla_encode_multi is called through blob_batch; it stays a module
# attribute because perfbench's traced runs wrap it here by name
from ..kernels.gorilla import gorilla_decode_multi, gorilla_encode_multi  # noqa: F401
from .gorilla_sink import BLOB_ARROW, BLOB_SCHEMA, _blob_buffers, blob_batch
from .grouped import arrow_runs, partition_count

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

    Writing the result: the output already has the sink's 3 tasks/core,
    hash-partitioned on the group key, and AQE cannot coalesce the
    numbered repartition, so ``.write`` it as is (or repartition to your
    store's target file size). A store written in fewer, larger files
    reads slower (measured 2.2×; BENCH/BASELINE.md round-8 compaction).
    The wall-clock read win is largest for micro-fragments (daily appends:
    1.4× + 26× fewer index rows); weekly-sized fragments already decode at
    amortized cost via the lockstep kernel, so there the payoff is the
    blob-index reduction (envelope scan/filter/shuffle rows), not decode.
    """
    group = ["id", "tier", "chunk_start"]
    arranged = (blobs.select(*BLOB_ARROW.names)
                .repartition(partition_count(blobs.sparkSession), *group)
                .sortWithinPartitions(*group, "min_ts"))

    def _merge(batches):
        # per batch of whole groups (contiguous after the sort above):
        # singletons go out as they came; the fragments take ONE vectorized
        # decode, one stable time sort of the points within their group,
        # and the sink's bounded re-encode
        for batch, starts in arrow_runs(batches, group):
            nblob = np.diff(np.append(starts, batch.num_rows))
            multi = nblob > 1
            if not multi.all():
                # Spark hands timestamps over UTC-zoned, blob_batch writes
                # them naive: one stream carries one schema
                yield batch.take(starts[~multi]).cast(BLOB_ARROW)
            if not multi.any():
                continue
            frag = batch.filter(pa.array(np.repeat(multi, nblob)))
            nblob = nblob[multi]
            starts = np.cumsum(nblob) - nblob
            dat, offs = _blob_buffers(frag)
            counts, ts, vals = gorilla_decode_multi(dat, offs)
            sizes = np.add.reduceat(counts, starts)
            gid = np.repeat(np.arange(len(starts)), sizes)
            order = np.lexsort((ts, gid))
            ts, vals = ts[order], vals[order]
            dup = np.flatnonzero((ts[1:] == ts[:-1]) & (gid[1:] == gid[:-1]))
            if len(dup):
                row = starts[gid[dup[0]]]
                key = [frag.column(k)[row].as_py() for k in group]
                raise ValueError(
                    f"duplicate bucket across fragments of (id={key[0]}, "
                    f"tier={key[1]}, chunk={key[2]}): upserts go through "
                    f"the catalog's idempotent bucket overwrite, not blob "
                    f"appends — refusing to pick a winner")
            yield from blob_batch(
                *(frag.column(k).take(starts) for k in group),
                ts * 1_000_000, vals, np.cumsum(sizes) - sizes)

    return arranged.mapInArrow(_merge, BLOB_SCHEMA)
