"""The group-run walker ``arrow_runs`` and its users (``grouped_apply``, the
Gorilla sink) see every group whole and exactly once, whatever the Arrow
batch boundaries; ``grouped_apply`` hands its kernel what
``applyInPandas`` would."""

import datetime

import numpy as np
import pandas as pd
import pyarrow as pa
import pyspark.sql.functions as F
from hypothesis import given, settings
from hypothesis import strategies as st

from sen2rts_spark.kernels.gorilla import gorilla_encode
from sen2rts_spark.operators.gorilla_sink import encode_blobs
from sen2rts_spark.operators.grouped import (arrow_runs, grouped_apply,
                                             run_starts)

_BATCH_KEY = "spark.sql.execution.arrow.maxRecordsPerBatch"
_TZ_KEY = "spark.sql.session.timeZone"


def _with_conf(spark, conf, thunk):
    old = {k: spark.conf.get(k, None) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, str(v))
        return thunk()
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


@given(runs=st.lists(st.tuples(st.sampled_from(["", "a", "ab", "b", "é"]),
                               st.integers(-2, 2), st.integers(1, 40)),
                     max_size=12),
       cuts=st.lists(st.integers(0, 200), max_size=25))
@settings(max_examples=200, deadline=None)
def test_arrow_runs_yields_each_run_whole_once(runs, cuts):
    # rows sorted on (string key, int key); unique keys, so each is one run
    runs = sorted({(s, i): n for s, i, n in runs}.items())
    skey = [s for (s, _), n in runs for _ in range(n)]
    ikey = [i for (_, i), n in runs for _ in range(n)]
    table = pa.table({"s": pa.array(skey, pa.string()),
                      "i": pa.array(ikey, pa.int64()),
                      "row": pa.array(np.arange(len(skey)))})
    rb = table.combine_chunks().to_batches()[0] if len(skey) else \
        pa.RecordBatch.from_pylist([], schema=table.schema)
    # random splits; repeated or out-of-range cuts give empty batches
    bounds = sorted(min(c, len(skey)) for c in cuts)
    edges = [0] + bounds + [len(skey)]
    batches = [rb.slice(a, b - a) for a, b in zip(edges[:-1], edges[1:])]
    got = []
    for batch, starts in arrow_runs(iter(batches), ["s", "i"]):
        assert batch.num_rows > 0 and len(starts) > 0
        assert starts[0] == 0 and np.all(np.diff(starts) > 0)
        s = batch.column("s").to_pylist()
        i = batch.column("i").to_pylist()
        rows = batch.column("row").to_pylist()
        for lo, hi in zip(starts, list(starts[1:]) + [batch.num_rows]):
            assert len({(s[r], i[r]) for r in range(lo, hi)}) == 1
            got.append(((s[lo], i[lo]), rows[lo:hi]))
    want, row = [], 0
    for key, n in runs:
        want.append((key, list(range(row, row + n))))
        row += n
    assert got == want


def test_grouped_apply_equals_apply_in_pandas(spark):
    # 3 rows per Arrow batch: group (a, 0) spans more than two batches
    rng = np.random.default_rng(11)
    t0 = datetime.datetime(2021, 3, 14, 1, 30)
    rows = []
    for g in ("a", "b", "c"):
        for k in range(4):
            n = 10 if (g, k) == ("a", 0) else int(rng.integers(1, 9))
            for t in rng.permutation(n):
                t = int(t)
                rows.append((g, k, t, float(rng.normal()),
                             datetime.date(2020, 1, 1 + t),
                             t0 + datetime.timedelta(hours=t),
                             [float(t), 0.5], t * 7))
    rows[0] = rows[0][:6] + (None, None)  # one null array, one null bigint
    # null keys group as in GROUP BY: a null int key (NaN in numpy) and a
    # null string key each make one group, across batches
    for g, k, n in (("c", None, 5), (None, 3, 4)):
        rows += [(g, k, t, 0.5 * t, datetime.date(2020, 2, 1 + t), t0,
                  [1.0], t) for t in range(n)]
    df = spark.createDataFrame(
        rows, "g string, k int, t int, v double, d date, ts timestamp, "
              "a array<float>, m bigint")
    schema = ("g string, k int, n long, t0 int, wsum double, d_last date, "
              "d_type string, ts0 timestamp, ts_hour int, ts_dtype string, "
              "a_nulls int, a_sum double, m_nulls int, m_max long")

    def fn(pdf):  # order-sensitive; no rows for k == 1 (None), k == 2 (empty)
        if pdf["k"].iloc[0] == 1:
            return None
        if pdf["k"].iloc[0] == 2:
            return pd.DataFrame()
        return pd.DataFrame({
            "g": [pdf["g"].iloc[0]], "k": [pdf["k"].iloc[0]],
            "n": [len(pdf)], "t0": [pdf["t"].iloc[0]],
            "wsum": [float((np.arange(len(pdf)) * pdf["v"].to_numpy()).sum())],
            "d_last": [pdf["d"].iloc[-1]],
            "d_type": [type(pdf["d"].iloc[-1]).__name__],
            "ts0": [pdf["ts"].iloc[0]], "ts_hour": [pdf["ts"].iloc[0].hour],
            "ts_dtype": [str(pdf["ts"].dtype)],
            "a_nulls": [int(pdf["a"].isna().sum())],
            "a_sum": [float(sum(x.sum() for x in pdf["a"] if x is not None))],
            "m_nulls": [int(pdf["m"].isna().sum())], "m_max": [pdf["m"].max()]})

    def run():
        got = grouped_apply(df, ["g", "k"], fn, schema, order=["t"]).collect()
        # applyInPandas takes no None: the empty frame stands in for it
        want = df.groupBy("g", "k").applyInPandas(
            lambda pdf: fn(pdf.sort_values("t", kind="stable"))
            if pdf["k"].iloc[0] != 1 else pd.DataFrame(), schema)
        return got, want.collect()

    # a zone with a DST jump inside the timestamps' range
    got, want = _with_conf(spark, {_BATCH_KEY: 3, _TZ_KEY: "America/New_York"},
                           run)
    assert len(got) == 8
    assert sorted(map(tuple, got), key=repr) == \
        sorted(map(tuple, want), key=repr)
    assert {r.ts_dtype for r in got} == {"datetime64[ns]"}
    assert {r.d_type for r in got} == {"date"}
    assert sum(r.a_nulls for r in got) == sum(r.m_nulls for r in got) == 1


def test_sink_carry_matches_default_and_scalar_encoder(spark):
    rng = np.random.default_rng(5)
    t0 = 1_704_067_200
    rows = [(f"s{i}", t0 + int(d) * 86400, float(np.round(rng.normal(10, 3), 5)))
            for i in range(6)
            for d in np.sort(rng.choice(90, 40 + i, replace=False))]
    tier = spark.createDataFrame(rows, "id string, secs long, value double") \
        .select("id", F.col("secs").cast("timestamp").alias("bucket_start"),
                "value")
    chunk_secs = 28 * 86400

    def blobs():
        return sorted(map(tuple, encode_blobs(tier, "daily", chunk_days=28)
                          .select("id", "tier", F.unix_timestamp("chunk_start"),
                                  "blob", "count", F.unix_timestamp("min_ts"),
                                  F.unix_timestamp("max_ts")).collect()))

    default = blobs()
    # 7 rows per Arrow batch: most (id, chunk) runs straddle batches
    assert _with_conf(spark, {_BATCH_KEY: 7}, blobs) == default

    points = {}
    for id_, secs, v in rows:
        points.setdefault((id_, secs // chunk_secs * chunk_secs), []) \
            .append((secs, v))
    assert len(default) == len(points)
    for id_, tier_name, chunk, blob, count, min_ts, max_ts in default:
        ts, vals = map(np.array, zip(*points[(id_, chunk)]))
        assert bytes(blob) == gorilla_encode(ts, vals)
        assert (tier_name, count, min_ts, max_ts) == \
            ("daily", len(ts), ts[0], ts[-1])


def test_run_starts_groups_nulls_and_nans_like_group_by():
    ints = pa.array([1, None, None, 2, 2], pa.int64())
    floats = pa.array([0.0, None, None, float("nan"), float("nan")])
    strs = pa.array(["a", None, None, None, "b"])
    assert run_starts([ints]).tolist() == [0, 1, 3]
    # a null and a NaN are different keys; two of either are one
    assert run_starts([floats]).tolist() == [0, 1, 3]
    assert run_starts([strs]).tolist() == [0, 1, 4]
    assert run_starts([ints, strs]).tolist() == [0, 1, 3, 4]
    assert run_starts([np.array([np.nan, np.nan, 1.0])]).tolist() == [0, 2]
