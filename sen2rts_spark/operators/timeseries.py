"""Per-series pipeline operators: smooth → fill → cut_cycles → pheno.

Each operator is one ``grouped_apply`` keyed by id (operators/grouped.py:
one Python call per Arrow batch of whole series) — the reference's
per-id R loops (smooth_s2ts.R:182,197; fill_s2ts.R:75; cut_cycles.R body)
become Arrow-batched numpy kernels executed in parallel across millions of
series; the only shuffle is the hash partition on id, reused stage to stage.

Scale note: a series must be colocated for its kernel, so per-series stages
cannot be salted — series length is bounded instead by rolling up to the
daily tier BEFORE smoothing (SURVEY.md §4.3). A series shorter than its
SG window smooths to NULL values inside ``smooth_series`` (deviation from
the reference, which errors the run); any kernel error, a bad parameter
among them, fails the task.

Kernels read and write numpy columns (``grouped_apply``): dates cross as
int days since 1970-01-01, the kernels' own unit.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from ..kernels.cycles import cut_cycles_series
from ..kernels.dlog import fit_with_fallback
from ..kernels.pheno import pheno_deriv, pheno_gu, pheno_kl, pheno_trs
from ..kernels.series import fill_series, smooth_series

__all__ = ["smooth", "fill", "cut_cycles", "extract_pheno", "SMOOTH_SCHEMA",
           "FILL_SCHEMA", "CYCLES_SCHEMA", "PHENO_SCHEMA", "PHENO_GU_SCHEMA",
           "PHENO_KL_SCHEMA"]

SMOOTH_SCHEMA = ("id string, date date, orbit string, sensor string, "
                 "value double, qa double, rawval double")
FILL_SCHEMA = SMOOTH_SCHEMA + ", interpolated boolean"
CYCLES_SCHEMA = ("id string, year int, cycle int, begin date, end date, "
                 "maxval date, weight double")
PHENO_SCHEMA = (CYCLES_SCHEMA +
                ", sos date, eos date, los int, pop date, mgs double, "
                "rsp double, rau double, peak double, msp double, mau double")
PHENO_GU_SCHEMA = (CYCLES_SCHEMA +
                   ", UD date, SD date, DD date, RD date, maxline double, "
                   "baseline double, prr double, psr double, "
                   "plateau_slope double")
PHENO_KL_SCHEMA = (CYCLES_SCHEMA +
                   ", Greenup date, Maturity date, Senescence date, "
                   "Dormancy date")

def smooth(obs: DataFrame, min_qa: float = 0.2, noise_dir: str = "low",
           spike: float = 0.25, spike_window: int = 5, sg_daywindow: int = 15,
           sg_polynom: int = 2, sg_n: int = 3,
           max_extrapolation: float = 0.1, filter_type: str = "savgol",
           whittaker_lambda: float = 100.0) -> DataFrame:
    """obs_raw → obs_smoothed (adds rawval; value = smoothed or NULL).

    ``filter_type`` is 'savgol' or 'whittaker' and ``noise_dir`` 'low',
    'high' or 'undefined' (smooth_s2ts.R); anything else raises here, on
    the driver, before any job: the kernel would fall back to
    Savitzky-Golay or skip spike removal."""
    if filter_type not in ("savgol", "whittaker"):
        raise ValueError(f"unknown filter_type {filter_type!r}")
    if noise_dir not in ("low", "high", "undefined"):
        raise ValueError(f"unknown noise_dir {noise_dir!r}")

    def _fn(run: dict) -> dict:
        out = smooth_series(
            run["date"], run["value"], run["qa"], run["sensor"], run["orbit"],
            min_qa=min_qa, noise_dir=noise_dir, spike=spike,
            spike_window=spike_window, sg_daywindow=sg_daywindow,
            sg_polynom=sg_polynom, sg_n=sg_n,
            max_extrapolation=max_extrapolation,
            filter_type=filter_type, whittaker_lambda=whittaker_lambda,
        )
        return {"id": run["id"], "date": out["days"], "orbit": out["orbit"],
                "sensor": out["sensor"], "value": out["value"],
                "qa": out["qa"], "rawval": out["rawval"]}

    from .grouped import grouped_apply
    return grouped_apply(obs, ["id"], _fn, SMOOTH_SCHEMA)


def fill(smoothed: DataFrame, frequency: str = "daily",
         max_na_days: float = float("inf"),
         max_extrapolation: float = 0.1) -> DataFrame:
    """obs_smoothed → obs_filled (regular grid + interpolated flag).

    ``frequency`` is 'daily', 'dop' or 'gcd' (fill_s2ts.R); anything else
    raises here, on the driver, before any job."""
    if frequency not in ("daily", "dop", "gcd"):
        raise ValueError(f"unknown frequency {frequency!r}")

    def _fn(run: dict) -> dict:
        out = fill_series(
            run["date"], run["value"], run["sensor"], run["orbit"],
            passthrough={"qa": run["qa"], "rawval": run["rawval"]},
            frequency=frequency, max_na_days=max_na_days,
            max_extrapolation=max_extrapolation,
        )
        return {"id": np.repeat(run["id"][:1], len(out["days"])),
                "date": out["days"], "orbit": out["orbit"],
                "sensor": out["sensor"], "value": out["value"],
                "qa": out["qa"], "rawval": out["rawval"],
                "interpolated": out["interpolated"]}

    from .grouped import grouped_apply
    return grouped_apply(smoothed, ["id"], _fn, FILL_SCHEMA)


def cut_cycles(filled: DataFrame, **params) -> DataFrame:
    """obs_filled → cycles (one row per detected cycle).

    ``weight_metric`` is 'integral', 'length' or 'maxval' and
    ``value_type`` 'relative' or 'absolute' (cut_cycles.R); anything else
    raises here, on the driver, before any job: the kernel would write NaN
    weights or read the values as absolute."""
    if params.get("weight_metric", "integral") not in ("integral", "length",
                                                       "maxval"):
        raise ValueError(f"unknown weight_metric {params['weight_metric']!r}")
    if params.get("value_type", "relative") not in ("relative", "absolute"):
        raise ValueError(f"unknown value_type {params['value_type']!r}")

    def _fn(run: dict) -> dict | None:
        rows = cut_cycles_series(run["date"], run["value"], **params)
        if not rows:
            return None
        cols = {k: [r[k] for r in rows]
                for k in ("year", "cycle", "begin", "end", "maxval", "weight")}
        return {"id": np.repeat(run["id"][:1], len(rows)), **cols}

    from .grouped import grouped_apply
    return grouped_apply(filled, ["id"], _fn, CYCLES_SCHEMA)


def extract_pheno(filled: DataFrame, cycles: DataFrame, fit="gu",
                  method: str = "trs", trs: float = 0.5,
                  rescale: tuple | None = None) -> DataFrame:
    """(obs_filled ⋈ cycles) → pheno metrics per cycle.

    The rescale is GLOBAL over the whole filled table (fit_curve.R:112 — NOT
    per id, SURVEY.md §7 trap): computed as one Spark aggregate, broadcast
    into the kernel closure. The cycle slice uses date ∈ [begin, end)
    (fit_curve.R:146), so the output `end` is cycles.end − 1 day
    (extract_pheno.R:104).

    ``fit`` is a method name or a fallback chain like the reference default
    ``("gu", "klosterman")`` (fit_curve.R:73,149-156). ``method`` selects the
    extractor: "trs"/"derivatives" (sos..mau), "gu" (UD/SD/DD/RD + lines,
    PHENO_GU_SCHEMA) or "klosterman" (Greenup..Dormancy, PHENO_KL_SCHEMA) —
    extract_pheno.R:166-181. NOTE on "gu" date mapping: the reference maps
    the RD date from the SD metric (extract_pheno.R:178 — an upstream quirk
    we do NOT reproduce; RD here is the recession date itself).
    """
    from .pheno_tools import _cycle_slices
    joined = _cycle_slices(filled, cycles, rescale)

    if method in ("trs", "derivatives"):
        schema = PHENO_SCHEMA
        date_metrics = ("sos", "eos", "pop")
        value_metrics = ("mgs", "peak", "msp", "mau")
        raw_metrics = ("rsp", "rau")
        int_metrics = ("los",)
    elif method == "gu":
        schema = PHENO_GU_SCHEMA
        date_metrics = ("UD", "SD", "DD", "RD")
        value_metrics = ("maxline", "baseline")
        raw_metrics = ("prr", "psr", "plateau_slope")
        int_metrics = ()
    elif method == "klosterman":
        schema = PHENO_KL_SCHEMA
        date_metrics = ("Greenup", "Maturity", "Senescence", "Dormancy")
        value_metrics = ()
        raw_metrics = ()
        int_metrics = ()
    else:
        raise ValueError(f"unknown method {method!r}")

    def _fn(run: dict) -> dict:
        # groups arrive sorted by date (grouped_apply order=["date"])
        g0, gr = float(run["_g0"][0]), float(run["_gr"][0])
        relval = (run["value"] - g0) / gr
        fitted = fit_with_fallback(relval, fit)
        if fitted is None:
            m = {k: float("nan")
                 for k in (*date_metrics, *value_metrics, *raw_metrics,
                           *int_metrics)}
        elif method == "trs":
            m = pheno_trs(fitted["predicted"], trs)
        elif method == "derivatives":
            m = pheno_deriv(fitted["predicted"], 1.0)
        elif method == "gu":
            m = pheno_gu(fitted["predicted"])
        else:
            m = pheno_kl(fitted["predicted"])
        begin = run["date"][0]
        row = {k: run[k][:1] for k in ("id", "year", "cycle", "maxval",
                                       "weight")}
        row.update(begin=[begin], end=run["date"][-1:])
        for k in date_metrics:  # 1-based day of the cycle → int days
            row[k] = [None if np.isnan(m[k]) else begin + int(round(m[k])) - 1]
        for k in value_metrics:
            row[k] = [g0 + m[k] * gr]
        for k in raw_metrics:
            row[k] = [m[k]]
        for k in int_metrics:
            row[k] = [None if np.isnan(m[k]) else int(m[k])]
        return row

    from .grouped import grouped_apply
    # one fit costs seconds whatever the cycle's length: range placement
    # puts each cycle in its own task where hashing would stack them
    return grouped_apply(joined, ["id", "year", "cycle"], _fn, schema,
                         order=["date"], by_range=True)
