"""Structured Streaming variant of the rollup tiers.

The reference is strictly batch (SURVEY §2.9); the north rule's continuous
aggregates map to either incremental batch MERGE (docs/ICEBERG.sql) or this
streaming path: readStream → watermark → windowed weighted aggregate →
append/update sink. Late observations within the watermark update their
bucket; beyond it they are dropped (the bounded-late-data policy).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..operators.rollup import (TIER_SECONDS, bucket_cols, bucket_value,
                                raw_partials, weighted_obs)

__all__ = ["stream_rollup", "stream_dedup_exact"]


def stream_rollup(stream: DataFrame, tier: str = "hourly",
                  watermark: str = "2 hours",
                  ts_col: str = "ts", id_col: str = "id",
                  value_col: str = "value", qa_col: str = "qa") -> DataFrame:
    """Streaming continuous aggregate for one tier.

    ``stream`` is a streaming DataFrame (e.g. ``spark.readStream``). Returns
    the windowed aggregate; caller attaches ``writeStream`` (update mode for
    a live table, append for a log after watermark expiry).
    """
    secs = TIER_SECONDS[tier]
    return (
        weighted_obs(stream, id_col, ts_col, value_col, qa_col)
        .withWatermark("ts", watermark)
        .groupBy("id", F.window("ts", f"{secs} seconds").alias("win"))
        .agg(*raw_partials())
        .select(*bucket_cols(), bucket_value()))


def stream_rollup_sketch(stream: DataFrame, tier: str = "hourly",
                         watermark: str = "2 hours",
                         ts_col: str = "ts", id_col: str = "id",
                         key_col: str = "key", lg_k: int = 12) -> DataFrame:
    """Streaming distinct-key sketch tier (the streaming face of
    ``operators.rollup.rollup_sketch``): watermark → windowed
    ``hll_sketch_agg`` per (id, bucket). The emitted sketch column unions
    upward through ``rollup_sketch_tier`` exactly like the batch path, so
    a live daily tier keeps answering weekly distinct counts without a
    raw re-read.
    """
    secs = TIER_SECONDS[tier]
    return (
        stream.select(F.col(id_col).alias("id"), F.col(ts_col).alias("ts"),
                      F.col(key_col).alias("k"))
        .withWatermark("ts", watermark)
        .groupBy("id", F.window("ts", f"{secs} seconds").alias("win"))
        .agg(F.hll_sketch_agg("k", F.lit(lg_k)).alias("key_sketch"),
             F.count(F.lit(1)).alias("count"))
        .select("id", F.col("win.start").alias("bucket_start"),
                "key_sketch", "count"))


def stream_ewma_smoother(stream: DataFrame, alpha: float = 0.3,
                         ts_col: str = "ts", id_col: str = "id",
                         value_col: str = "value"):
    """Custom stateful streaming operator: per-id exponentially-weighted
    smoother carried across micro-batches with applyInPandasWithState.

    The reference has no streaming (SURVEY §2.9); this is the
    'custom stateful operator' surface the graft adds: state = (last EWMA,
    last event-time); each micro-batch folds its rows in event-time order
    into the carried state and emits the smoothed points.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    import numpy as np
    import pandas as pd

    src = stream.select(F.col(id_col).alias("id"), F.col(ts_col).alias("ts"),
                        F.col(value_col).cast("double").alias("value"))

    def _fn(key, pdf_iter, state):
        if state.exists:
            ewma, last_ts = state.get
        else:
            ewma, last_ts = None, None
        out = []
        for pdf in pdf_iter:
            pdf = pdf.sort_values("ts")
            vals = pdf["value"].to_numpy(dtype=np.float64)
            sm = np.empty(len(vals))
            cur = ewma
            for i, v in enumerate(vals):
                cur = v if cur is None or np.isnan(cur) else \
                    alpha * v + (1 - alpha) * cur
                sm[i] = cur
            ewma = cur
            last_ts = pdf["ts"].iloc[-1]
            out.append(pd.DataFrame({
                "id": key[0], "ts": pdf["ts"], "value": vals, "smoothed": sm}))
        state.update((float(ewma) if ewma is not None else None,
                      last_ts.to_pydatetime() if last_ts is not None else None))
        for o in out:
            yield o

    return src.groupBy("id").applyInPandasWithState(
        _fn,
        outputStructType="id string, ts timestamp, value double, smoothed double",
        stateStructType="ewma double, last_ts timestamp",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_dedup_exact(stream: DataFrame, watermark: str = "1 hour",
                       ts_col: str = "ts",
                       text_col: str = "text") -> DataFrame:
    """Streaming exact dedup over a document stream: first occurrence of
    each content hash passes, repeats within the watermark horizon are
    suppressed — the streaming twin of the batch ``dedup_exact`` row
    (queries_docs.py: md5-hash groupBy).

    Built on ``dropDuplicatesWithinWatermark``: Spark keeps one state row
    per content hash and evicts it when the event-time watermark passes,
    so state is bounded by (dedup horizon x ingest rate), NOT by corpus
    history — the property that makes streaming dedup feasible at
    100 TB/day. Suppression works across micro-batches (state carry is
    tested in tests/test_streaming.py with a 1-file-per-trigger source).
    A repeat arriving AFTER its hash's state expired re-emits: streaming
    exact dedup is exact within the horizon, and the periodic batch
    ``dedup_exact``/``dedup_cluster`` sweep reconciles across horizons —
    the standard lambda split.

    The hash is md5 of the raw text (matching the batch row's identity);
    state stores only the 128-bit hash + event time, not the document.
    """
    hashed = stream.withColumn("content_hash", F.md5(F.col(text_col)))
    return (hashed.withWatermark(ts_col, watermark)
            .dropDuplicatesWithinWatermark(["content_hash"]))
