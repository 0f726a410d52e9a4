"""Whittaker smoother properties + salted rollup equivalence."""

import numpy as np
import pyspark.sql.functions as F
import pytest


def test_whittaker_reproduces_eilers_system():
    from sen2rts_spark.kernels.whittaker import whittaker_smooth
    rng = np.random.default_rng(0)
    n = 200
    t = np.arange(n)
    y = np.sin(t / 20.0) + rng.normal(0, 0.1, n)
    w = np.ones(n)
    lam = 50.0
    z = whittaker_smooth(y, w, lam)
    # verify against the dense normal-equation solution
    D = np.diff(np.eye(n), 2, axis=0)
    A = np.diag(w) + lam * D.T @ D
    z_dense = np.linalg.solve(A, w * y)
    np.testing.assert_allclose(z, z_dense, atol=1e-9)
    # smoother than input
    assert np.sum(np.diff(z, 2) ** 2) < np.sum(np.diff(y, 2) ** 2)


@pytest.mark.parametrize("lam", [5.0, 100.0, 5000.0])
@pytest.mark.parametrize("n", [3, 4, 5, 256, 300, 999, 2000])
def test_whittaker_large_series_vs_dense(n, lam):
    """whittaker_smooth against the dense normal-equation solve, with 20 %
    zero weights, from the smallest system to a long one."""
    from sen2rts_spark.kernels.whittaker import whittaker_smooth
    rng = np.random.default_rng(n)
    y = np.sin(np.arange(n) / 17.0) + rng.normal(0, 0.1, n)
    w = rng.uniform(0.1, 1, n)
    w[rng.random(n) < 0.2] = 0.0
    w[:2] = 1.0                      # two positive weights: A is SPD
    z = whittaker_smooth(y, w, lam)
    D = np.diff(np.eye(n), 2, axis=0)
    z_dense = np.linalg.solve(np.diag(w) + lam * D.T @ D, w * y)
    np.testing.assert_allclose(z, z_dense, atol=1e-9)


def test_whittaker_singular_system_raises():
    """One positive weight leaves the system singular: the solver raises
    instead of returning inf or NaN."""
    from sen2rts_spark.kernels.whittaker import whittaker_smooth
    y = np.full(4, np.nan)
    y[1] = 0.5
    with pytest.raises(ValueError, match="positive definite"):
        whittaker_smooth(y, lam=100.0)


def test_whittaker_missing_and_constant():
    from sen2rts_spark.kernels.whittaker import whittaker_smooth
    y = np.full(50, 0.7)
    np.testing.assert_allclose(whittaker_smooth(y, lam=10), y, atol=1e-10)
    y2 = y.copy()
    y2[10:15] = np.nan
    z = whittaker_smooth(y2, lam=10)
    np.testing.assert_allclose(z, 0.7, atol=1e-8)  # interpolates the gap


def test_salted_rollup_equals_plain(spark):
    from sen2rts_spark.operators.extract import extract_obs
    from sen2rts_spark.operators.rollup import rollup_raw
    from sen2rts_spark.operators.skew import salted_rollup_raw
    from sen2rts_spark.sources.pages import synth_pages

    pages = synth_pages(spark, n_urls=30, n_slots=40, dup_pct=25)
    obs = extract_obs(pages).select(
        "id", F.col("date").cast("timestamp").alias("ts"), "value", "qa")
    plain = {(r["id"], r["bucket_start"]): (r["count"], round(r["value"], 9),
                                            r["vmin"], r["vmax"])
             for r in rollup_raw(obs, "daily").collect()}
    salted = {(r["id"], r["bucket_start"]): (r["count"], round(r["value"], 9),
                                             r["vmin"], r["vmax"])
              for r in salted_rollup_raw(obs, 86400).collect()}
    assert plain == salted


def test_incremental_rollup_equals_full(spark):
    import pyspark.sql.functions as F
    from sen2rts_spark.operators.extract import extract_obs
    from sen2rts_spark.operators.rollup import rollup_incremental, rollup_raw
    from sen2rts_spark.sources.pages import synth_pages

    pages = synth_pages(spark, n_urls=25, n_slots=50, dup_pct=10)
    obs = extract_obs(pages).select(
        "id", F.col("date").cast("timestamp").alias("ts"), "value", "qa")
    # split stream: first 35 slots = history, rest = late-arriving batch
    cutoff = "2020-06-01"
    hist = obs.filter(F.col("ts") < cutoff)
    late = obs.filter(F.col("ts") >= cutoff)
    tier0 = rollup_raw(hist, "daily")
    updated = rollup_incremental(tier0, late, "daily")
    full = rollup_raw(obs, "daily")
    a = {(r["id"], r["bucket_start"]): (r["count"], round(r["value"], 9),
                                        r["vmin"], r["vmax"], r["last_value"])
         for r in updated.collect()}
    b = {(r["id"], r["bucket_start"]): (r["count"], round(r["value"], 9),
                                        r["vmin"], r["vmax"], r["last_value"])
         for r in full.collect()}
    assert a == b
