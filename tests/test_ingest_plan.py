"""The one ingest plan.

``extract_obs`` hash-repartitions its parsed projection on ``id`` at
``partition_count``. That HashPartitioning(id) satisfies the extract
aggregate, every rollup tier and the Gorilla sink, whose own numbered
repartition on ``id`` Spark drops as redundant: the whole pages → blobs
pipeline carries exactly ONE Exchange. If a Spark upgrade stops removing
the sink's repartition, these guards fail.
"""

import re

import pyspark.sql.functions as F

from sen2rts_spark.kernels.gorilla import gorilla_decode
from sen2rts_spark.operators.extract import extract_obs
from sen2rts_spark.operators.gorilla_sink import encode_blobs
from sen2rts_spark.operators.grouped import partition_count
from sen2rts_spark.operators.pipeline import rollup_gorilla_pipeline
from sen2rts_spark.operators.rollup import rollup_raw, rollup_tier
from sen2rts_spark.operators.skew import salted_rollup_raw
from sen2rts_spark.sources.pages import synth_pages


def _exchanges(df) -> list[str]:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return re.findall(r"\bExchange (.*)", plan)


def _assert_one_id_exchange(df):
    (ex,) = _exchanges(df)
    n = partition_count(df.sparkSession)
    assert re.match(rf"hashpartitioning\(id#\d+, {n}\)", ex), ex


def _obs(pages):
    return extract_obs(pages).select(
        "id", F.col("date").cast("timestamp").alias("ts"), "value", "qa")


def test_pipeline_one_id_exchange_and_blobs_equal_tier(spark):
    pages = synth_pages(spark, n_urls=60, n_slots=40, partitions=8)
    blobs = rollup_gorilla_pipeline(pages, "daily")
    _assert_one_id_exchange(blobs)
    # bit-exact, as perfbench's ingest check: every decoded point is a
    # row of the daily tier, and every tier row is in a blob
    got = sorted((r.id, t, v) for r in blobs.collect()
                 for t, v in zip(*(a.tolist()
                                   for a in gorilla_decode(bytes(r.blob)))))
    want = sorted((r.id, int(r.bucket_start.timestamp()), r.value)
                  for r in rollup_raw(_obs(pages), "daily").collect())
    assert got and got == want


def test_tier_chain_plans_one_exchange(spark):
    pages = synth_pages(spark, n_urls=40, n_slots=30, partitions=4)
    obs = _obs(pages)
    weekly = rollup_tier(rollup_tier(rollup_raw(obs, "hourly"), "daily"),
                         "weekly")
    assert len(_exchanges(weekly)) == 1, _exchanges(weekly)

    cols = ["id", "bucket_start", "count", "vmin", "vmax", "value"]
    a = sorted(map(tuple, weekly.select(*cols).collect()))
    b = sorted(map(tuple, rollup_raw(obs, "weekly").select(*cols).collect()))
    assert [r[:5] for r in a] == [r[:5] for r in b]
    assert all(abs(x[5] - y[5]) <= 1e-9 for x, y in zip(a, b))


def test_encode_blobs_adds_one_exchange_only_where_needed(spark, tmp_path):
    pages = synth_pages(spark, n_urls=20, n_slots=20, partitions=4)
    tier = rollup_raw(_obs(pages), "daily")
    # behind extract's exchange the sink's repartition is dropped
    assert len(_exchanges(tier)) == 1
    assert len(_exchanges(encode_blobs(tier, "daily"))) == 1
    # over a parquet read it is the plan's one exchange, on id alone
    path = str(tmp_path / "tier")
    tier.write.parquet(path)
    _assert_one_id_exchange(encode_blobs(spark.read.parquet(path), "daily"))


def test_salted_rollup_exchanges_on_id_and_salt_behind_extract(spark):
    # extract's hashpartitioning(id) already satisfies groupBy(id, salt,
    # window): only an explicit exchange on (id, salt) spreads a hot id
    pages = synth_pages(spark, n_urls=20, n_slots=20, partitions=4)
    ex = _exchanges(salted_rollup_raw(_obs(pages), 86400))
    n = partition_count(spark)
    assert any(re.match(rf"hashpartitioning\(id#\d+, salt#\d+, {n}\)", e)
               for e in ex), ex
