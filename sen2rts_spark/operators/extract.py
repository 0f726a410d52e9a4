"""Stage 1 — extract: pages → obs_raw.

Spark-first re-creation of ``extract_s2ts()``
(/root/reference/R/extract_s2ts.R:370-420): instead of a GDAL raster read +
per-polygon zonal loop, a single lazy DAG over the pages scan:

    scan pages → strip tags (per-row invariant: text byte-identical)
    → parse metric / quality class / cloud pct (regexp, JVM)
    → decode weights (C5-C7) → Exchange hashpartitioning(id)
    → groupBy(url, date) weighted aggregate (A1-A3)

Everything is a Catalyst expression — predicate pushdown / column pruning
reach the parquet scan. The one shuffle is a numbered hash repartition of
the parsed projection on ``id`` (``grouped.partition_count``, which AQE
does not coalesce); it satisfies this aggregate and every id-keyed stage
downstream (rollup tiers, the Gorilla sink), so the whole ingest chain
runs on it. No Python executes per row.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..functions.quality import cld_weight, combine_weights, scl_weight
from .grouped import partition_count

__all__ = ["extract_text", "extract_obs", "OBS_SCHEMA"]

OBS_SCHEMA = ("id string, date date, orbit string, sensor string, "
              "value double, qa double")

_TAG_RE = r"<[^>]+>"


def extract_text(html_col) -> F.Column:
    """binary html → extracted text (strip tags). Byte-identical to the
    generator's ``text`` column for synthetic pages (tested).

    substring_index (plain byte search) instead of ``<p>(.*?)</p>`` regex —
    same bytes on single-<p> pages, ~40% cheaper on the 6M-row bench scan
    (regex engine off the hot path). The guard requires the first ``<p>``
    to precede the first ``</p>`` (not merely both to exist), so a page
    whose markup opens with a stray ``</p>`` yields '' instead of garbage.
    Contract (documented per round-3 ADVICE): byte-identical to the
    generator's single-paragraph pages — the tested input class. On
    malformed pages (nested/multiple ``<p>``, ``</p>``-before-``<p>``,
    newline-spanning paragraphs) this follows byte-search semantics —
    content between the last ``<p>`` before the first ``</p>`` — which
    intentionally diverges from the old non-DOTALL regex there."""
    s = F.decode(html_col, "UTF-8")
    body = F.substring_index(F.substring_index(s, "</p>", 1), "<p>", -1)
    popen = F.instr(s, "<p>")
    return F.when((popen > 0) & (popen < F.instr(s, "</p>")), body) \
        .otherwise("")


def extract_obs(pages: DataFrame, fun: str = "mean") -> DataFrame:
    """pages → obs_raw(id, date, orbit, sensor, value, qa).

    ``fun``: 'mean' (qa-weighted mean, extract_s2ts.R:406 weighted.mean) or
    'best' (mean of observations tied at max weight, :406).

    The parsed projection (~70 B/row, not the raw html) is hash-partitioned
    on ``id`` into ``partition_count`` partitions before the aggregate.
    HashPartitioning(id) satisfies the ClusteredDistribution of this
    groupBy and of every downstream id-keyed stage (rollup tiers, the
    Gorilla sink), so the extract→rollup→encode chain runs on this one
    exchange (plan-tested: test_ingest_plan). On the web-crawl shape (~1
    obs per (id, date) group) a map-side partial aggregate before it would
    have nothing to combine. All rows of one id land in one task, so a hot
    id is not spread."""
    txt = extract_text(F.col("html"))
    # try_cast: a missing or unparsable field reads NULL (the weighted
    # mean's na.rm below) where an ANSI cast would fail the whole job
    parsed = pages.select(
        F.col("url").alias("id"),
        F.to_date("warc_ts").alias("date"),
        txt.alias("text_x"),
    ).select(
        "id", "date",
        F.regexp_extract("text_x", r"source=(\S+)", 1).alias("orbit"),
        F.regexp_extract("text_x", r"sensor=(\S+)", 1).alias("sensor"),
        F.regexp_extract("text_x", r"ndvi=([-0-9.,eE]+)", 1).alias("metric_s"),
        F.regexp_extract("text_x", r"class=(\d+)", 1).try_cast("int").alias("qclass"),
        F.regexp_extract("text_x", r"cld=(\d+)", 1).try_cast("int").alias("cld"),
    ).withColumn(
        "value0", F.regexp_replace("metric_s", ",", "").try_cast("double")
    ).withColumn(
        "w", combine_weights(scl_weight(F.col("qclass")), cld_weight(F.col("cld")))
    ).drop("text_x", "metric_s", "qclass", "cld") \
        .repartition(partition_count(pages.sparkSession), "id")

    grp = parsed.groupBy("id", "date", "orbit", "sensor")
    if fun == "mean":
        # weighted.mean(na.rm=TRUE) drops (value, w) PAIRS with NA value
        # (extract_s2ts.R:406): denominator must not count weights of rows
        # whose value0 failed to parse.
        w_eff = F.when(F.col("value0").isNotNull(), F.col("w") + F.lit(1e-9))
        agg = grp.agg(
            (F.sum(F.col("value0") * (F.col("w") + F.lit(1e-9)))
             / F.sum(w_eff)).alias("value"),
            F.avg("w").alias("qa"),
        )
    elif fun == "best":
        # mean of rows tied at the max weight within the group (A2)
        wmax = F.max(F.greatest(F.col("w"), F.lit(1e-19))).alias("wmax")
        agg = grp.agg(
            wmax,
            F.collect_list(F.struct("w", "value0")).alias("xs"),
            F.avg("w").alias("qa"),
        ).select(
            "id", "date", "orbit", "sensor",
            F.aggregate(
                F.filter("xs", lambda x: F.greatest(x["w"], F.lit(1e-19)) == F.col("wmax")),
                F.struct(F.lit(0.0).alias("s"), F.lit(0).alias("n")),
                lambda acc, x: F.struct((acc["s"] + x["value0"]).alias("s"),
                                        (acc["n"] + 1).alias("n")),
                lambda acc: acc["s"] / acc["n"],
            ).alias("value"),
            "qa",
        )
    else:
        raise ValueError(f"unknown fun {fun!r}")

    return agg.filter(F.col("value").isNotNull()).select(
        "id", "date", "orbit", "sensor", "value", "qa")
