"""Continuous-aggregate rollup tiers: raw → hourly → daily → weekly.

The graft's cube analogue (SURVEY.md §2.4 note): each tier is an exact,
associative re-aggregation of the previous one — partial sums (count, wsum,
vwsum), min/max, and last-by-timestamp fold losslessly, so
``daily(hourly(raw)) ≡ daily(raw)`` (property-tested). The qa-weighted bucket
value reproduces the reference's A1 weighted mean (extract_s2ts.R:402-411).

All tiers are plain ``groupBy(id, window(ts, tier))``. Over an input
already hash-partitioned on ``id`` (``extract_obs``'s exchange) every tier
aggregates in place, with no shuffle; over any other input each tier runs
a map-side partial aggregate and one shuffle on its (id, window) keys.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

__all__ = ["rollup_raw", "rollup_tier", "rollup_sketch",
           "rollup_sketch_tier", "TIER_SECONDS", "ROLLUP_SCHEMA"]

TIER_SECONDS = {"hourly": 3600, "daily": 86400, "weekly": 7 * 86400}

ROLLUP_SCHEMA = ("id string, bucket_start timestamp, count bigint, "
                 "wsum double, vwsum double, vmin double, vmax double, "
                 "last_ts timestamp, last_value double, value double")


def weighted_obs(obs: DataFrame, id_col: str, ts_col: str, value_col: str,
                 qa_col: str, *extra) -> DataFrame:
    """(id, ts, v, w, *extra) with weight w = qa + 1e-9 (A1; null qa
    weighs 1e-9); rows with a null value are dropped."""
    w = F.coalesce(F.col(qa_col).cast("double"), F.lit(0.0)) + F.lit(1e-9)
    return obs.select(
        F.col(id_col).alias("id"),
        F.col(ts_col).alias("ts"),
        F.col(value_col).cast("double").alias("v"),
        w.alias("w"),
        *extra,
    ).filter(F.col("v").isNotNull())


def raw_partials() -> list:
    """The rollup partials of a group of weighted_obs rows."""
    return [
        F.count(F.lit(1)).alias("count"),
        F.sum("w").alias("wsum"),
        F.sum(F.col("v") * F.col("w")).alias("vwsum"),
        F.min("v").alias("vmin"),
        F.max("v").alias("vmax"),
        F.max("ts").alias("last_ts"),
        F.max_by("v", "ts").alias("last_value"),
    ]


def fold_partials() -> list:
    """The rollup partials of a group of partials rows (the exact
    associative fold)."""
    return [
        F.sum("count").alias("count"),
        F.sum("wsum").alias("wsum"),
        F.sum("vwsum").alias("vwsum"),
        F.min("vmin").alias("vmin"),
        F.max("vmax").alias("vmax"),
        F.max("last_ts").alias("last_ts"),
        F.max_by("last_value", "last_ts").alias("last_value"),
    ]


def bucket_cols() -> list:
    """ROLLUP_SCHEMA's columns but ``value``, selected from a
    ``groupBy(id, window AS win)`` aggregate of partials."""
    return ["id", F.col("win.start").alias("bucket_start"), "count", "wsum",
            "vwsum", "vmin", "vmax", "last_ts", "last_value"]


def bucket_value():
    """The bucket value: the qa-weighted mean (A1) of the partials."""
    return (F.col("vwsum") / F.col("wsum")).alias("value")


def rollup_raw(obs: DataFrame, tier: str = "hourly",
               ts_col: str = "ts", id_col: str = "id",
               value_col: str = "value", qa_col: str = "qa") -> DataFrame:
    """Raw observations → first tier. Weight = qa + 1e-9 (A1).

    Behind ``extract_obs`` this groupBy, and every coarser
    ``rollup_tier`` over it, reuses extract's hash partitioning on ``id``:
    a whole hourly→daily→weekly chain adds no exchange (plan-tested)."""
    secs = TIER_SECONDS[tier]
    return (
        weighted_obs(obs, id_col, ts_col, value_col, qa_col)
        .groupBy("id", F.window("ts", f"{secs} seconds").alias("win"))
        .agg(*raw_partials())
        .select(*bucket_cols())
        .select("*", bucket_value()))


def rollup_tier(prev: DataFrame, tier: str) -> DataFrame:
    """Fold a finer tier into a coarser one (exact associative re-agg)."""
    secs = TIER_SECONDS[tier]
    return (
        prev.groupBy("id", F.window("bucket_start", f"{secs} seconds").alias("win"))
        .agg(*fold_partials())
        .select(*bucket_cols())
        .select("*", bucket_value()))


def rollup_sketch(obs: DataFrame, tier: str = "daily",
                  ts_col: str = "ts", id_col: str = "id",
                  key_col: str = "key", lg_k: int = 12) -> DataFrame:
    """Distinct-key sketch tier: per (id, bucket) Datasketches-HLL sketch
    of ``key_col``, alongside the row count.

    This is the cardinality analogue of the numeric partials: the binary
    sketch column folds upward through :func:`rollup_sketch_tier` with
    ``hll_union_agg`` — so "distinct users per id per week" is answered
    from the daily tier (or any coarser one) without re-reading raw. At
    100 TB that replaces a full-raw COUNT(DISTINCT) shuffle with a merge
    of ~2^lg_k-byte sketches per bucket. lg_k=12 → ±1.6% standard error;
    below ~2^lg_k distinct keys the sketch is in exact (sparse) mode.
    """
    secs = TIER_SECONDS[tier]
    return (
        obs.select(F.col(id_col).alias("id"), F.col(ts_col).alias("ts"),
                   F.col(key_col).alias("k"))
        .groupBy("id", F.window("ts", f"{secs} seconds").alias("win"))
        .agg(F.hll_sketch_agg("k", F.lit(lg_k)).alias("key_sketch"),
             F.count(F.lit(1)).alias("count"))
        .select("id", F.col("win.start").alias("bucket_start"),
                "key_sketch", "count"))


def rollup_sketch_tier(prev: DataFrame, tier: str) -> DataFrame:
    """Fold a finer sketch tier into a coarser one (lossless HLL union at
    the configured lg_k; same shuffle shape as :func:`rollup_tier`)."""
    secs = TIER_SECONDS[tier]
    return (
        prev.groupBy("id",
                     F.window("bucket_start", f"{secs} seconds").alias("win"))
        .agg(F.hll_union_agg("key_sketch").alias("key_sketch"),
             F.sum("count").alias("count"))
        .select("id", F.col("win.start").alias("bucket_start"),
                "key_sketch", "count"))


def rollup_incremental(existing: DataFrame, new_obs: DataFrame,
                       tier: str = "daily", **raw_kwargs) -> DataFrame:
    """Continuous-aggregate maintenance: fold NEW raw observations into an
    existing tier without touching untouched buckets.

    The partials are associative, so the update is exact:
      partials(new) ∪ existing rows of touched (id, bucket) → re-fold;
      untouched buckets pass through (no shuffle for them beyond the
      broadcast-able anti-join on touched keys).

    This is the batch form of the north rule's continuous aggregates — on
    Iceberg it becomes MERGE INTO keyed on (id, bucket_start) over the
    incremental snapshot read (docs/ICEBERG.sql). Equality with a full
    recompute is property-tested.
    """
    delta = rollup_raw(new_obs, tier, **raw_kwargs)
    touched = delta.select("id", "bucket_start").distinct()
    affected = existing.join(touched, ["id", "bucket_start"], "left_semi")
    untouched = existing.join(touched, ["id", "bucket_start"], "left_anti")
    merged = (
        affected.unionByName(delta.drop("value"), allowMissingColumns=True)
        .groupBy("id", "bucket_start")
        .agg(*fold_partials())
    )
    return untouched.drop("value").unionByName(merged).select(
        "*", bucket_value())
