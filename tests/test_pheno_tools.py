"""aggregate_pheno / assign_season / fit_curves against reference fixtures."""

import datetime
import math
import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(__file__))
from rda_reader import rda_table, require_fixtures  # noqa: E402

DATA = "/root/reference/data"


@pytest.fixture(scope="module")
def fixture_dfs(spark):
    require_fixtures(DATA)
    f = rda_table(f"{DATA}/ts_filled.rda", "ts_filled")
    rows = list(zip(f["id"], f["date"],
                    [None if math.isnan(v) else v for v in f["value"]]))
    ts = spark.createDataFrame(rows, "id string, date date, value double")
    c = rda_table(f"{DATA}/dt_cycles.rda", "dt_cycles")
    cyc = spark.createDataFrame(
        list(zip(c["id"], c["year"], c["cycle"], c["begin"], c["end"],
                 c["maxval"], c["weight"])),
        "id string, year int, cycle int, begin date, end date, "
        "maxval date, weight double")
    return ts, cyc, f, c


def test_aggregate_pheno_median_matches_reference_semantics(spark, fixture_dfs):
    """aggregate_pheno(ts_filled, dt_cycles) default: median of values over
    [begin, end) per cycle (aggregate_pheno.R:44 example, R type-7 median)."""
    from sen2rts_spark.operators.pheno_tools import aggregate_pheno
    ts, cyc, f, c = fixture_dfs
    out = {(r["id"], r["year"], r["cycle"]): r["value"]
           for r in aggregate_pheno(ts, cyc).collect()}
    assert len(out) == 3
    for i in range(3):
        sel = [v for sid, d, v in zip(f["id"], f["date"], f["value"])
               if sid == c["id"][i] and c["begin"][i] <= d < c["end"][i]
               and not math.isnan(v)]
        expected = float(np.median(sel))
        got = out[(c["id"][i], c["year"][i], c["cycle"][i])]
        assert abs(got - expected) < 1e-12


def test_aggregate_pheno_multi_fun_melt(spark, fixture_dfs):
    from sen2rts_spark.operators.pheno_tools import aggregate_pheno
    ts, cyc, f, c = fixture_dfs
    out = aggregate_pheno(ts, cyc, fun=("median", "max", "quantile"),
                          probs=0.95).collect()
    assert {r["fun"] for r in out} == {"median", "max", "quantile"}
    assert len(out) == 9


def test_assign_season_windows_and_rank(spark, fixture_dfs):
    from sen2rts_spark.operators.pheno_tools import assign_season
    _, cyc, _, c = fixture_dfs
    pheno = cyc.withColumn("pop", cyc["maxval"])
    out = assign_season(
        pheno, seasons=["spring", "autumn"],
        pop_win={"spring": ("02-01", "06-30"), "autumn": ("07-01", "01-31")},
        max_n_cycles=1).collect()
    by_key = {(r["id"], r["cycle"]): r["season"] for r in out}
    # maxvals: 2020-07-13 -> autumn; 2020-04-21 -> spring; 2020-08-08 -> autumn
    assert by_key[("1", 1)] == "autumn"
    assert by_key[("2", 1)] == "spring"
    assert by_key[("2", 2)] == "autumn"


def test_fit_curves_long_matches_cf(spark, fixture_dfs):
    """fit='no' flattening equals the reference's s2fit_to_s2ts of fakeFit:
    value_fitted == original value over [begin, end)."""
    from sen2rts_spark.operators.pheno_tools import fit_curves
    ts, cyc, f, c = fixture_dfs
    out = fit_curves(ts, cyc, fit="no").collect()
    orig = {(sid, d): v for sid, d, v in zip(f["id"], f["date"], f["value"])}
    assert len(out) == 171 + 194 + 92  # cycle spans per FIXTURES §3.5
    for r in out[:300]:
        assert abs(r["value_fitted"] - orig[(r["id"], r["date"])]) < 1e-12
