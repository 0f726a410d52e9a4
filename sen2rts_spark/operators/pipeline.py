"""Composed service pipeline: pages scan → extract → rollup tier → Gorilla.

The headline ingest path (SURVEY.md §2.4/§2.9 composition; reference analogue:
extract_s2ts → aggregate chain). It is the plain composition of the three
operators: ``extract_obs``'s hash repartition on ``id`` over the ~70 B/row
parsed projection is its one exchange, and every downstream stage's
ClusteredDistribution — the (id, date, orbit, sensor) extract aggregate,
the (id, window) rollup tier and the Gorilla sink's numbered repartition on
``id`` — is satisfied by that HashPartitioning(id), so Catalyst inserts no
further exchange (plan-asserted in tests/test_ingest_plan.py).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from .extract import extract_obs
from .gorilla_sink import encode_blobs
from .rollup import rollup_raw

__all__ = ["rollup_gorilla_pipeline"]


def rollup_gorilla_pipeline(pages: DataFrame, tier: str = "daily") -> DataFrame:
    """pages → blob table for ``tier``, ready to write (one blob per
    (id, chunk)), on one exchange of ``grouped.partition_count`` tasks."""
    obs = extract_obs(pages).select(
        "id", F.col("date").cast("timestamp").alias("ts"), "value", "qa")
    return encode_blobs(rollup_raw(obs, tier), tier)
