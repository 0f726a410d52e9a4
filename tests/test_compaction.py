"""compact_blobs: fragmented groups merge to one blob, singletons pass
through byte-identical, duplicate buckets fail loudly, reads unchanged;
the one plan shape and the writer's bounded encode calls."""

import re

import numpy as np
import pyarrow as pa
import pyspark.sql.functions as F
import pytest

from sen2rts_spark.kernels.gorilla import gorilla_encode
from sen2rts_spark.operators import gorilla_sink
from sen2rts_spark.operators.compaction import compact_blobs
from sen2rts_spark.operators.gorilla_sink import decode_blobs, encode_blobs
from sen2rts_spark.operators.grouped import partition_count


def _tier(spark, n_ids=40, days=60, seed=7):
    rng = np.random.default_rng(seed)
    rows = []
    t0 = 1_704_067_200  # 2024-01-01
    for i in range(n_ids):
        for d in range(days):
            rows.append((str(i), (t0 + d * 86400) * 1_000_000,
                         float(np.round(rng.normal(10, 3), 6))))
    df = spark.createDataFrame(rows, "id string, us long, value double")
    return df.select(
        "id", (F.col("us") / 1e6).cast("timestamp").alias("bucket_start"),
        "value")


def _split_encode(spark, tier_df, cut_day, chunk_days=45):
    """Encode the tier in two time-disjoint commits → fragmented store."""
    cut = F.lit(f"2024-01-01").cast("timestamp") + F.expr(
        f"INTERVAL {cut_day} DAYS")
    a = encode_blobs(tier_df.filter(F.col("bucket_start") < cut),
                     "daily", chunk_days=chunk_days)
    b = encode_blobs(tier_df.filter(F.col("bucket_start") >= cut),
                     "daily", chunk_days=chunk_days)
    return a.unionByName(b)


def test_compaction_merges_and_preserves_values(spark):
    tier = _tier(spark)
    whole = encode_blobs(tier, "daily", chunk_days=45)
    fragged = _split_encode(spark, tier, cut_day=20, chunk_days=45)

    n_whole = whole.count()
    n_frag = fragged.count()
    assert n_frag > n_whole, "fixture must actually fragment"

    compacted = compact_blobs(fragged)
    # exactly one blob per group again
    assert compacted.count() == n_whole
    assert (compacted.groupBy("id", "tier", "chunk_start").count()
            .filter("count > 1").count() == 0)

    # reads are value-identical to the unfragmented store
    a = decode_blobs(compacted).orderBy("id", "bucket_start").collect()
    b = decode_blobs(whole).orderBy("id", "bucket_start").collect()
    assert len(a) == len(b)
    for ra, rb in zip(a, b):
        assert (ra["id"], ra["bucket_start"]) == (rb["id"], rb["bucket_start"])
        assert ra["value"] == rb["value"]  # bit-exact double round-trip

    # envelope columns recomputed from merged points (prune stays exact)
    env = (compacted.join(whole.select("id", "chunk_start",
                                       F.col("count").alias("c2"),
                                       F.col("min_ts").alias("lo2"),
                                       F.col("max_ts").alias("hi2")),
                          ["id", "chunk_start"])
           .filter((F.col("count") != F.col("c2"))
                   | (F.col("min_ts") != F.col("lo2"))
                   | (F.col("max_ts") != F.col("hi2"))))
    assert env.count() == 0

    # the groups that were one blob already come out byte for byte
    cols = ["blob", "count", "min_ts", "max_ts"]
    before = {}
    for r in fragged.collect():
        before.setdefault((r["id"], r["chunk_start"]), []).append(r)
    after = {(r["id"], r["chunk_start"]): r for r in compacted.collect()}
    singles = [k for k, rows in before.items() if len(rows) == 1]
    assert singles and len(singles) < len(before), \
        "fixture must mix singleton and fragmented groups"
    for k in singles:
        assert [after[k][c] for c in cols] == [before[k][0][c] for c in cols]


def test_singletons_pass_through_byte_identical(spark):
    tier = _tier(spark, n_ids=10, days=30)
    whole = encode_blobs(tier, "daily", chunk_days=45)
    out = compact_blobs(whole)
    orig = {(r["id"], r["chunk_start"]): bytes(r["blob"])
            for r in whole.collect()}
    got = {(r["id"], r["chunk_start"]): bytes(r["blob"])
           for r in out.collect()}
    assert got == orig  # no decode/re-encode on already-compact groups


def test_three_way_fragmentation(spark):
    tier = _tier(spark, n_ids=6, days=45)
    parts = []
    for lo, hi in ((0, 15), (15, 30), (30, 45)):
        cut_lo = F.lit("2024-01-01").cast("timestamp") + F.expr(
            f"INTERVAL {lo} DAYS")
        cut_hi = F.lit("2024-01-01").cast("timestamp") + F.expr(
            f"INTERVAL {hi} DAYS")
        parts.append(encode_blobs(
            tier.filter((F.col("bucket_start") >= cut_lo)
                        & (F.col("bucket_start") < cut_hi)),
            "daily", chunk_days=45))
    fragged = parts[0].unionByName(parts[1]).unionByName(parts[2])
    # epoch-aligned 45-day chunks cut the window at 2024-02-02: chunk 1
    # holds fragments from all 3 commits + chunk 2 from the last → 4/id
    assert fragged.count() == 24
    compacted = compact_blobs(fragged)
    assert compacted.count() == 12  # one blob per (id, chunk)
    pts = decode_blobs(compacted)
    assert pts.count() == 6 * 45
    # merged points sorted and contiguous per id
    from pyspark.sql import Window
    gaps = pts.withColumn(
        "d", F.col("bucket_start").cast("long")
        - F.lag(F.col("bucket_start").cast("long")).over(
            Window.partitionBy("id").orderBy("bucket_start")))
    assert gaps.filter((F.col("d").isNotNull())
                       & (F.col("d") != 86400)).count() == 0


def test_duplicate_bucket_raises(spark):
    tier = _tier(spark, n_ids=3, days=10)
    a = encode_blobs(tier, "daily", chunk_days=45)
    dup = a.unionByName(a)  # same buckets appended twice
    with pytest.raises(Exception, match="duplicate bucket"):
        compact_blobs(dup).collect()


def test_one_exchange_no_window_no_union(spark, tmp_path):
    """One pass over a scanned store: a single numbered hash exchange on the
    group key at the sink's 3 tasks/core, no window count and no union of a
    singleton branch with a merge branch."""
    tier = _tier(spark, n_ids=4, days=20)
    path = str(tmp_path / "frag")
    _split_encode(spark, tier, cut_day=10, chunk_days=45) \
        .write.parquet(path)
    plan = (compact_blobs(spark.read.parquet(path))._jdf.queryExecution()
            .executedPlan().toString())
    exchanges = [ln for ln in plan.splitlines() if "Exchange " in ln]
    assert len(exchanges) == 1, plan
    parts = partition_count(spark)
    assert (f"hashpartitioning(id, tier, chunk_start, {parts})"
            in re.sub(r"#\d+", "", exchanges[0])), exchanges[0]
    assert "Window" not in plan and "Union" not in plan, plan


def test_blob_batch_bounds_points_per_encode_call(monkeypatch):
    """Every gorilla_encode_multi call of the one blob writer holds at most
    _ENCODE_MAX_POINTS points, except a lone group larger than that, and
    every blob equals the per-blob walk's blob of its group."""
    cap = gorilla_sink._ENCODE_MAX_POINTS
    rng = np.random.default_rng(11)
    sizes = np.full(241, 624)
    sizes[100] = cap + 4_000  # one group over the cap, mid-stream
    starts = np.cumsum(sizes) - sizes
    gid = np.repeat(np.arange(len(sizes)), sizes)
    ts_us = (1_704_067_200 + 3600 * (np.arange(len(gid)) - starts[gid])) \
        * 1_000_000
    vals = np.round(rng.normal(10, 3, len(gid)), 3)
    calls = []
    real = gorilla_sink.gorilla_encode_multi

    def spy(ts, values, group_starts):
        calls.append((len(ts), len(group_starts)))
        return real(ts, values, group_starts)

    monkeypatch.setattr(gorilla_sink, "gorilla_encode_multi", spy)
    ids = [f"s{g}" for g in range(len(sizes))]
    chunks = pa.array(np.full(len(sizes), 1_704_067_200_000_000),
                      pa.timestamp("us"))
    out = pa.Table.from_batches(list(gorilla_sink.blob_batch(
        ids, ["hourly"] * len(sizes), chunks, ts_us, vals, starts)))

    assert sum(n for n, _ in calls) == len(gid)
    assert all(n <= cap or g == 1 for n, g in calls), calls
    assert (sizes[100], 1) in calls
    assert out.column("id").to_pylist() == ids
    assert out.column("count").to_pylist() == sizes.tolist()
    ends = starts + sizes
    for g, blob in enumerate(out.column("blob").to_pylist()):
        s, e = starts[g], ends[g]
        assert blob == gorilla_encode(ts_us[s:e] // 1_000_000, vals[s:e])
    assert out.column("min_ts").cast(pa.int64()).to_pylist() == \
        ts_us[starts].tolist()
    assert out.column("max_ts").cast(pa.int64()).to_pylist() == \
        ts_us[ends - 1].tolist()


def test_group_straddles_arrow_batches(spark):
    """The merge pass carries a group across Arrow batch boundaries: with
    maxRecordsPerBatch=2, a 3-fragment group spans two batches and the
    carried parts must merge exactly once."""
    tier = _tier(spark, n_ids=2, days=45)
    parts = []
    for lo, hi in ((0, 15), (15, 30), (30, 45)):
        cut_lo = F.lit("2024-01-01").cast("timestamp") + F.expr(
            f"INTERVAL {lo} DAYS")
        cut_hi = F.lit("2024-01-01").cast("timestamp") + F.expr(
            f"INTERVAL {hi} DAYS")
        parts.append(encode_blobs(
            tier.filter((F.col("bucket_start") >= cut_lo)
                        & (F.col("bucket_start") < cut_hi)),
            "daily", chunk_days=45))
    fragged = parts[0].unionByName(parts[1]).unionByName(parts[2]) \
        .coalesce(1)  # every group in ONE partition -> batch split matters
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key, None)
    try:
        spark.conf.set(key, "2")
        compacted = compact_blobs(fragged)
        rows = compacted.collect()
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)
    per_group = {}
    for r in rows:
        per_group.setdefault((r["id"], r["chunk_start"]), []).append(r)
    assert all(len(v) == 1 for v in per_group.values()), per_group
    pts = decode_blobs(spark.createDataFrame(rows, compacted.schema))
    assert pts.count() == 2 * 45
