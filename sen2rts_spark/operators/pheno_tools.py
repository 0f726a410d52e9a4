"""Cycle/pheno post-processing operators: aggregate_pheno, assign_season,
detect_forages, fit_curves — all plain DataFrame ops except the per-cycle
curve fit (a numpy ``grouped_apply`` kernel).

References:
- aggregate_pheno  /root/reference/R/aggregate_pheno.R:56-137
- assign_season    /root/reference/R/assign_season.R:95-215
- detect_forages   /root/reference/R/detect_forages.R:40-151
- s2fit_to_s2ts    /root/reference/R/s2fit_to_s2ts.R:6-20 (flattened fit)
"""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

__all__ = ["aggregate_pheno", "assign_season", "detect_forages", "fit_curves"]

def _cycle_slices(filled: DataFrame, cycles: DataFrame,
                  rescale: tuple | None) -> DataFrame:
    """The curve fits' input: ``filled`` (id, date, value) joined to
    ``cycles`` on id and sliced to date ∈ [begin, end) (fit_curve.R:146),
    with the GLOBAL rescale (fit_curve.R:112 — over the whole filled
    table, NOT per id) attached as constant columns ``_g0``/``_gr``.

    Known rescale → two literals. Unknown → a broadcast single-row aggregate
    crossJoin, so the whole plan stays one lazy DAG with no driver-side
    ``.first()`` at plan-construction time (VERDICT r5 task 7); ``filled``
    is persisted (bounded, see _cache) so the stats job materializes the
    cache and the main branch reads InMemoryTableScan instead of re-running
    the fill→smooth lineage. Callers holding committed stage-table stats
    (catalog) can pass ``rescale=(gmin, gmax - gmin)`` and skip both.
    """
    joined = filled.select("id", "date", "value").join(cycles, "id")
    joined = joined.filter((F.col("date") >= F.col("begin"))
                           & (F.col("date") < F.col("end")))
    if rescale is not None:
        return joined.withColumn("_g0", F.lit(float(rescale[0]))) \
                     .withColumn("_gr", F.lit(float(rescale[1])))
    from ._cache import persist_swap
    persist_swap(filled)
    stats = filled.agg(
        F.min("value").alias("_g0"),
        (F.max("value") - F.min("value")).alias("_gr"))
    return joined.crossJoin(F.broadcast(stats))


# agg-fn-by-name whitelist (the reference's fun= hook, aggregate_pheno.R:95-108)
_AGG_FUNS = {
    "median": lambda c, **kw: F.expr(f"percentile({c}, 0.5)"),
    "mean": lambda c, **kw: F.avg(c),
    "min": lambda c, **kw: F.min(c),
    "max": lambda c, **kw: F.max(c),
    "sum": lambda c, **kw: F.sum(c),
    "sd": lambda c, **kw: F.stddev_samp(c),
    "quantile": lambda c, probs=0.75, **kw: F.expr(f"percentile({c}, {probs})"),
}


def aggregate_pheno(ts: DataFrame, pheno: DataFrame,
                    metrics: tuple[str, str] = ("begin", "end"),
                    fun=("median",), include_pheno: bool = False,
                    reshape: bool = True, skip_fun: bool = True,
                    **fun_kwargs) -> DataFrame:
    """Aggregate ts values over [metrics[0], metrics[1]) of each cycle.

    The interval join is an equi-join on id + range filter (J6 — never a
    generic interval join; id is the shuffle key). Multiple ``fun`` names
    fan out to one column each, then melt to long (A14).
    """
    if isinstance(fun, str):
        fun = (fun,)
    j = ts.select("id", "date", "value").join(
        pheno.select("id", "year", "cycle",
                     F.col(metrics[0]).alias("_m0"),
                     F.col(metrics[1]).alias("_m1")),
        "id")
    j = j.filter((F.col("date") >= F.col("_m0")) & (F.col("date") < F.col("_m1")))
    aggs = [_AGG_FUNS[f](("value"), **fun_kwargs).alias(f) for f in fun]
    wide = j.groupBy("id", "year", "cycle").agg(*aggs)
    if not reshape:
        out = wide
    elif len(fun) == 1 and skip_fun:
        out = wide.withColumnRenamed(fun[0], "value")
    else:
        stack = ", ".join(f"'{f}', {f}" for f in fun)
        out = wide.select(
            "id", "year", "cycle",
            F.expr(f"stack({len(fun)}, {stack}) AS (fun, value)"))
    if include_pheno:
        out = pheno.join(out, ["id", "year", "cycle"])
    return out


def _mmdd_window(col, win: tuple[str, str]):
    """Wrapping month-day predicate (assign_season.R:156-180 — AND when the
    window is in-year, OR when it wraps the new year)."""
    mmdd = F.date_format(col, "MM-dd")
    lo, hi = win
    if lo < hi:
        return (mmdd >= lo) & (mmdd <= hi)
    return (mmdd >= lo) | (mmdd <= hi)


def assign_season(pheno: DataFrame, seasons: list[str],
                  pop_win: dict | None = None, sos_win: dict | None = None,
                  eos_win: dict | None = None, pop: dict | None = None,
                  pop_name: str = "pop", sos_name: str = "sos",
                  eos_name: str = "eos", max_n_cycles: int = 2,
                  rm_unassigned: bool = True) -> DataFrame:
    """Assign cycles to named seasons and keep the top cycles per season.

    Selection: by weight rank (average-ties, A10) when ``pop`` is None, else
    by proximity to the expected peak date checked against year−1/year/year+1
    (the as-of J7 pattern, assign_season.R:194-207).
    """
    season_col = F.lit(None).cast("string")
    # later seasons overwrite earlier matches (R sets season := s in a loop)
    for s in seasons:
        cond = F.lit(True)
        if pop_win:
            cond = cond & _mmdd_window(F.col(pop_name), pop_win[s])
        if sos_win:
            cond = cond & _mmdd_window(F.col(sos_name), sos_win[s])
        if eos_win:
            cond = cond & _mmdd_window(F.col(eos_name), eos_win[s])
        season_col = F.when(cond, F.lit(s)).otherwise(season_col)
    out = pheno.withColumn("season", season_col)
    if rm_unassigned:
        out = out.filter(F.col("season").isNotNull())

    if pop is None:
        # rank by weight desc with average ties: 1 + N - rank(weight)
        wr = Window.partitionBy("id", "year", "season").orderBy("weight")
        wt = Window.partitionBy("id", "year", "season", "weight")
        n = F.count(F.lit(1)).over(Window.partitionBy("id", "year", "season"))
        avg_rank = F.rank().over(wr) + (F.count(F.lit(1)).over(wt) - 1) / 2.0
        out = out.withColumn("_rk", 1 + n - avg_rank) \
            .filter(F.col("_rk") <= max_n_cycles).drop("_rk")
    else:
        pop_expr = F.lit(None).cast("string")
        for s in seasons:
            pop_expr = F.when(F.col("season") == s, F.lit(pop[s])) \
                .otherwise(pop_expr)
        out = out.withColumn("_pmmdd", pop_expr)
        cands = [F.abs(F.datediff(
            F.col(pop_name),
            F.to_date(F.concat((F.col("year") + d).cast("string"),
                               F.lit("-"), F.col("_pmmdd")))))
            for d in (-1, 0, 1)]
        out = out.withColumn("_pop_diff", F.least(*cands))
        wr = Window.partitionBy("id", "year", "season").orderBy("_pop_diff")
        wt = Window.partitionBy("id", "year", "season", "_pop_diff")
        avg_rank = F.rank().over(wr) + (F.count(F.lit(1)).over(wt) - 1) / 2.0
        out = out.withColumn("_rk", avg_rank) \
            .filter(F.col("_rk") <= max_n_cycles) \
            .drop("_rk", "_pop_diff", "_pmmdd")
    return out


def detect_forages(ts: DataFrame, cycles: DataFrame,
                   win: tuple[str, str] = ("01-01", "12-31"),
                   diff_thr: float = 10.0, ncuts_thr: float = 10.0,
                   sliding: int = 90, reldiff: bool = True) -> DataFrame:
    """Forage detection: high mowing-rate series flagged by the 75%-quantile
    of a centered rolling mean of |diff| plus growth/senescence cut counts
    (detect_forages.R:56-145). Pure window/join plan.
    """
    sub = cycles.filter(_mmdd_window(F.col("maxval"), win))

    w = Window.partitionBy("id").orderBy("date")
    wid = Window.partitionBy("id")
    rng = F.max("indexvalue").over(wid) - F.min("indexvalue").over(wid)
    tsd = ts.select("id", "date", F.col("value").alias("indexvalue")) \
        .withColumn("relindexval",
                    (F.col("indexvalue") - F.min("indexvalue").over(wid))
                    / F.nullif(rng, F.lit(0))) \
        .withColumn("dval", F.col("indexvalue") - F.lag("indexvalue").over(w)) \
        .withColumn("drel", F.col("relindexval") - F.lag("relindexval").over(w))
    # begin-of-growth / end-of-senescence flags (:71-75)
    lead_drel = F.lead("drel").over(w)
    tsd = tsd.withColumn("bg0", (F.col("drel") <= 1e-2) & (lead_drel >= 1e-2)) \
             .withColumn("es0", (F.col("drel") <= -1e-2) & (lead_drel >= -1e-2))
    wcut = Window.partitionBy("id").orderBy("date") \
        .rowsBetween(Window.unboundedPreceding, 0)
    # bg1: first bg0 of a run among candidate rows; es1: last es0 of a run
    cand = tsd.filter(F.col("bg0") | F.col("es0")) \
        .withColumn("_rn", F.row_number().over(w))
    wc = Window.partitionBy("id").orderBy("_rn")
    cand = cand.withColumn(
        "bg1", F.col("bg0") & ~F.coalesce(F.lag("bg0").over(wc), F.lit(False))) \
        .withColumn(
        "es1", F.col("es0") & ~F.coalesce(F.lead("es0").over(wc), F.lit(False)))
    tsd = tsd.join(cand.select("id", "date", "bg1", "es1"), ["id", "date"], "left")
    tsd = tsd.withColumn("cut", F.coalesce(F.col("bg1"), F.lit(False))
                         | F.coalesce(F.col("es1"), F.lit(False)))

    ref = "drel" if reldiff else "dval"
    half = sliding // 2
    wroll = Window.partitionBy("id").orderBy("date") \
        .rowsBetween(-half, sliding - half - 1)
    tsd = tsd.withColumn("rollval", F.avg(F.abs(F.col(ref))).over(wroll))

    # restrict to relevant cycles (range join on id)
    tsd_sub = tsd.join(sub.select("id", "year", "cycle", "begin", "end"), "id") \
        .filter((F.col("date") >= F.col("begin")) & (F.col("date") < F.col("end")))

    diffsum = tsd_sub.groupBy("id", "year").agg(
        (F.expr("percentile(rollval, 0.75)") * 365).alias("diff"),
        (F.sum(F.col("cut").cast("int")) / F.count(F.lit(1)) * 365).alias("ncuts"))
    diffsum = diffsum.withColumn(
        "forage", (F.col("diff") > diff_thr) & (F.col("ncuts") > ncuts_thr))
    return sub.join(diffsum.select("id", "year", "diff", "ncuts", "forage"),
                    ["id", "year"], "left")


def fit_curves(filled: DataFrame, cycles: DataFrame, fit="gu",
               rescale: tuple | None = None) -> DataFrame:
    """Per-cycle fitted curve, flattened to a long table — the Spark shape of
    the reference's nested fit object (s2fit_to_s2ts.R:6-20):
    (id, year, cycle, date, value_fitted, fit_method). Global rescale per
    fit_curve.R:112. ``fit`` is a method name or a fallback chain (reference
    default c("gu","klosterman"), retry semantics fit_curve.R:149-156);
    the method that succeeded is reported per cycle.
    """
    from ..kernels.dlog import fit_with_fallback
    from .grouped import grouped_apply

    joined = _cycle_slices(
        filled, cycles.select("id", "year", "cycle", "begin", "end"), rescale)

    def _fn(run: dict) -> dict | None:
        g0, gr = float(run["_g0"][0]), float(run["_gr"][0])
        fitted = fit_with_fallback((run["value"] - g0) / gr, fit)
        if fitted is None:
            return None
        return {"id": run["id"], "year": run["year"], "cycle": run["cycle"],
                "date": run["date"],
                "value_fitted": g0 + fitted["predicted"] * gr,
                "fit_method": np.full(len(run["date"]), fitted["method"],
                                      dtype=object)}

    return grouped_apply(
        joined, ["id", "year", "cycle"], _fn,
        "id string, year int, cycle int, date date, value_fitted double, "
        "fit_method string",
        order=["date"], by_range=True)
