-- Production DDL (north rule): Iceberg tables for the rollup/retention
-- service. The sandbox emulates this layout with parquet (see
-- sen2rts_spark/sources/catalog.py); on a real cluster add
-- iceberg-spark-runtime to the classpath and point `spark.sql.catalog.ice`
-- at your catalog, then these tables drop in unchanged.

CREATE TABLE ice.crawl.pages (
  url      STRING,
  warc_ts  TIMESTAMP,
  html     BINARY,
  text     STRING,
  lang     STRING
) USING iceberg
PARTITIONED BY (bucket(512, url), days(warc_ts))
TBLPROPERTIES (
  'write.distribution-mode' = 'hash',
  'write.target-file-size-bytes' = '536870912'
);

CREATE TABLE ice.crawl.obs_raw (
  id     STRING, date DATE, orbit STRING, sensor STRING,
  value  DOUBLE, qa DOUBLE
) USING iceberg
PARTITIONED BY (bucket(512, id));

CREATE TABLE ice.crawl.tier_hourly (
  id STRING, bucket_start TIMESTAMP, count BIGINT,
  wsum DOUBLE, vwsum DOUBLE, vmin DOUBLE, vmax DOUBLE,
  last_ts TIMESTAMP, last_value DOUBLE, value DOUBLE
) USING iceberg
PARTITIONED BY (bucket(512, id), months(bucket_start));
-- tier_daily / tier_weekly: same schema, months() → years()

CREATE TABLE ice.crawl.blobs (
  id STRING, tier STRING, chunk_start TIMESTAMP, blob BINARY,
  count INT, min_ts TIMESTAMP, max_ts TIMESTAMP
) USING iceberg
PARTITIONED BY (bucket(512, id), tier);

-- One row per (stage, bucket) per commit. rows_out is not a re-scan of the
-- committed data: it is the sum of record_count over the data files the
-- commit added to that bucket, read from the commit's data-file stats
-- (the `files` metadata table, e.g. ice.crawl.tier_daily.files, or the
-- snapshot summary's added-records). The parquet emulation in
-- catalog.py does the same with the fresh files' footers.
CREATE TABLE ice.crawl.lineage (
  stage STRING, bucket INT, rows_out BIGINT, wall_ms BIGINT,
  run_id STRING, committed_at TIMESTAMP, status STRING
) USING iceberg;

-- Incremental tier maintenance (continuous aggregate): re-aggregate only
-- buckets touched since the last processed snapshot, then MERGE:
--
--   MERGE INTO ice.crawl.tier_daily t
--   USING (SELECT ... FROM new_hourly_buckets) s
--   ON t.id = s.id AND t.bucket_start = s.bucket_start
--   WHEN MATCHED THEN UPDATE SET *
--   WHEN NOT MATCHED THEN INSERT *;
--
-- new_hourly_buckets comes from the Iceberg incremental read:
--   spark.read.format('iceberg')
--        .option('start-snapshot-id', <last>).option('end-snapshot-id', <now>)
--        .load('ice.crawl.tier_hourly')
