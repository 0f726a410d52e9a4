"""The group-run walkers: ``arrow_runs`` (the Gorilla sink and compaction)
and ``grouped_apply`` (the per-series kernels) see every group whole and
exactly once, whatever the Arrow batch boundaries."""

import numpy as np
import pandas as pd
import pyarrow as pa
import pyspark.sql.functions as F
from hypothesis import given, settings
from hypothesis import strategies as st

from sen2rts_spark.kernels.gorilla import gorilla_encode
from sen2rts_spark.operators.gorilla_sink import encode_blobs
from sen2rts_spark.operators.grouped import arrow_runs, grouped_apply

_BATCH_KEY = "spark.sql.execution.arrow.maxRecordsPerBatch"


def _with_batch_size(spark, size, thunk):
    old = spark.conf.get(_BATCH_KEY, None)
    try:
        spark.conf.set(_BATCH_KEY, str(size))
        return thunk()
    finally:
        if old is None:
            spark.conf.unset(_BATCH_KEY)
        else:
            spark.conf.set(_BATCH_KEY, old)


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
    rng = np.random.default_rng(11)
    rows = [(g, k, int(t), float(rng.normal()))
            for g in ("a", "b", "c") for k in range(4)
            for t in rng.permutation(int(rng.integers(1, 9)))]
    df = spark.createDataFrame(rows, "g string, k int, t int, v double")
    schema = "g string, k int, n long, t0 int, wsum double"

    def fn(pdf):  # order-sensitive: position-weighted sum
        return pd.DataFrame({
            "g": [pdf["g"].iloc[0]], "k": [pdf["k"].iloc[0]],
            "n": [len(pdf)], "t0": [pdf["t"].iloc[0]],
            "wsum": [float((np.arange(len(pdf)) * pdf["v"].to_numpy()).sum())]})

    got = _with_batch_size(spark, 3, lambda: grouped_apply(
        df, ["g", "k"], fn, schema, order=["t"]).collect())
    want = df.groupBy("g", "k").applyInPandas(
        lambda pdf: fn(pdf.sort_values("t", kind="stable")), schema).collect()
    assert len(got) == 12
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


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
    assert _with_batch_size(spark, 7, blobs) == default

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
