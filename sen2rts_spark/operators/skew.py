"""Hot-key (hot-domain) skew handling: salted two-phase aggregation.

The north rule requires explicit salting for hot-domain skew. Associative
aggregates (the rollup partials — count/wsum/vwsum/min/max) pre-aggregate per
``(key, salt)`` then combine per key, so no single reducer owns a whole hot
domain. Per-series kernels CANNOT be salted (a series must be colocated) —
they are protected by rolling up to a bounded tier first (SURVEY §4.3).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from .grouped import partition_count
from .rollup import (bucket_cols, bucket_value, fold_partials, raw_partials,
                     weighted_obs)

__all__ = ["salted_rollup_raw", "domain_of"]


def domain_of(url_col) -> F.Column:
    return F.regexp_extract(url_col, r"https?://([^/]+)/", 1)


def salted_rollup_raw(obs: DataFrame, tier_seconds: int, salt_n: int = 16,
                      id_col: str = "id", ts_col: str = "ts",
                      value_col: str = "value", qa_col: str = "qa") -> DataFrame:
    """Rollup with per-(id, salt) partial aggregation before the final
    combine — two shuffles, but the first is uniform even when one id
    dominates the input.

    The first shuffle is an explicit repartition on ``(id, salt)``: an
    input already hash-partitioned on ``id`` (``extract_obs``) satisfies
    the ``(id, salt, window)`` grouping as it stands, so without it Spark
    plans no exchange there and a hot id stays in one task."""
    salted = weighted_obs(obs, id_col, ts_col, value_col, qa_col,
                          F.pmod(F.hash(ts_col), F.lit(salt_n)).alias("salt"))
    partial = (
        salted.repartition(partition_count(obs.sparkSession), "id", "salt")
        .groupBy("id", "salt",
                 F.window("ts", f"{tier_seconds} seconds").alias("win"))
        .agg(*raw_partials())
    )
    return partial.groupBy("id", "win").agg(*fold_partials()) \
        .select(*bucket_cols(), bucket_value())
