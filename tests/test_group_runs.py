"""The group-run walker ``arrow_runs`` and its users (``grouped_apply``, the
Gorilla sink) see every group whole and exactly once, whatever the Arrow
batch boundaries; ``grouped_apply`` hands its kernel numpy columns with
``mapInPandas``'s null rules and dates and timestamps as ints."""

import datetime

import numpy as np
import pyarrow as pa
import pyspark.sql.functions as F
from hypothesis import given, settings
from hypothesis import strategies as st

from sen2rts_spark.kernels.gorilla import gorilla_encode
from sen2rts_spark.operators.gorilla_sink import encode_blobs
from sen2rts_spark.operators.grouped import (arrow_runs, grouped_apply,
                                             run_starts)

_BATCH_KEY = "spark.sql.execution.arrow.maxRecordsPerBatch"


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


def test_grouped_apply_hands_fn_numpy_runs(spark):
    # 3 rows per Arrow batch: group (a, 0) spans more than two batches
    rng = np.random.default_rng(11)
    secs0 = 1_615_685_400  # 2021-03-14 01:30 UTC
    rows = []
    for g in ("a", "b", "c"):
        for k in range(4):
            n = 10 if (g, k) == ("a", 0) else int(rng.integers(1, 9))
            for t in rng.permutation(n):
                t = int(t)
                rows.append((g, k, t, float(rng.normal()),
                             datetime.date(2020, 1, 1 + t),
                             secs0 + 3600 * t, [float(t), 0.5], t * 7))
    rows[0] = rows[0][:6] + (None, None)  # one null array, one null bigint
    # null keys group as in GROUP BY: a null int key (NaN in numpy) and a
    # null string key each make one group, across batches
    for g, k, n in (("c", None, 5), (None, 3, 4)):
        rows += [(g, k, t, 0.5 * t, datetime.date(2020, 2, 1 + t), secs0,
                  [1.0], t) for t in range(n)]
    df = spark.createDataFrame(
        rows, "g string, k int, t int, v double, d date, secs long, "
              "a array<float>, m bigint") \
        .withColumn("ts", F.timestamp_seconds("secs"))
    schema = ("g string, k int, n long, t0 int, wsum double, d_last date, "
              "d_days int, d_kind string, ts0 timestamp, ts_us long, "
              "a_nulls int, a_sum double, m_nulls int, m_max long, "
              "nan_out double")
    names = [f.split()[0] for f in schema.split(", ")]

    def fn(run):  # order-sensitive; no rows for k == 1 (None), k == 2 (empty)
        if run["k"][0] == 1:
            return None
        if run["k"][0] == 2:
            return {name: [] for name in names}
        m = run["m"]
        return {
            "g": run["g"][:1], "k": run["k"][:1], "n": [len(run["t"])],
            "t0": run["t"][:1],
            "wsum": [float((np.arange(len(run["v"])) * run["v"]).sum())],
            "d_last": run["d"][-1:], "d_days": run["d"][-1:],
            "d_kind": [run["d"].dtype.kind], "ts0": run["ts"][:1],
            "ts_us": run["ts"][:1],
            "a_nulls": [sum(x is None for x in run["a"])],
            "a_sum": [float(sum(x.sum() for x in run["a"] if x is not None))],
            "m_nulls": [int(np.isnan(m).sum()) if m.dtype.kind == "f" else 0],
            "m_max": [np.nanmax(m)], "nan_out": [np.nan]}

    got = _with_conf(spark, {_BATCH_KEY: 3}, lambda: grouped_apply(
        df, ["g", "k"], fn, schema, order=["t"]).collect())

    groups = {}
    for r in rows:
        groups.setdefault((r[0], r[1]), []).append(r)
    want = []
    for (g, k), rs in groups.items():
        if k in (1, 2):
            continue
        rs.sort(key=lambda r: r[2])
        last = rs[-1][4]
        want.append((
            g, k, len(rs), rs[0][2],
            float((np.arange(len(rs)) * np.array([r[3] for r in rs])).sum()),
            last,
            (last - datetime.date(1970, 1, 1)).days, "i",
            datetime.datetime.fromtimestamp(rs[0][5]), rs[0][5] * 10**6,
            sum(r[6] is None for r in rs),
            sum(sum(r[6]) for r in rs if r[6] is not None),
            sum(r[7] is None for r in rs),
            max(r[7] for r in rs if r[7] is not None), None))
    assert len(got) == len(want) == 8
    assert sorted(map(tuple, got), key=repr) == sorted(want, key=repr)
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
