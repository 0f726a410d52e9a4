"""Composed service pipeline: pages scan → extract → rollup tier → Gorilla.

The headline ingest path (SURVEY.md §2.4/§2.9 composition; reference analogue:
extract_s2ts → aggregate chain). ``fused=True`` applies the single-exchange
plan: one hash repartition on ``id`` over the ~70 B/row parsed projection,
after which every downstream stage's ClusteredDistribution — the
(id, date, orbit, sensor) extract aggregate, each (id, window) rollup tier,
and the Gorilla sink's (id, chunk) grouping — is satisfied by
HashPartitioning(id), so Catalyst inserts no further exchange
(plan-asserted in tests/test_fused_pipeline.py).

Why this matters at scale: on the web-crawl shape (~1 observation per
(id, date) group) map-side partial aggregation has nothing to combine, so
the default plan's three exchanges move the same rows three times; fusing
cuts shuffled bytes ~3× and removes two stage barriers. On heavily
duplicated inputs, where the full-key partial agg shrinks the first
shuffle, pass ``fused=False``.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from .extract import extract_obs
from .gorilla_sink import encode_blobs
from .grouped import partition_count
from .rollup import rollup_raw

__all__ = ["rollup_gorilla_pipeline"]


def rollup_gorilla_pipeline(pages: DataFrame, tier: str = "daily",
                            fused: bool = True) -> DataFrame:
    """pages → blob table for ``tier``, ready to write (one blob per
    (id, chunk)). The single fused exchange has the sink's 3 tasks/core."""
    parts = partition_count(pages.sparkSession) if fused else None
    obs = extract_obs(pages, partition_by_id=parts).select(
        "id", F.col("date").cast("timestamp").alias("ts"), "value", "qa")
    tier_df = rollup_raw(obs, tier)
    return encode_blobs(tier_df, tier, clustered=fused)
