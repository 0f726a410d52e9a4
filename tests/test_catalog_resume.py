"""Checkpoint/resume: a mid-stage kill restarted with resume=True must
produce byte-identical table contents to a clean run (SURVEY §5.2.5)."""

import os
import shutil

import pyspark.sql.functions as F


def _daily(spark):
    from sen2rts_spark.operators.extract import extract_obs
    from sen2rts_spark.operators.rollup import rollup_raw
    from sen2rts_spark.sources.pages import synth_pages
    pages = synth_pages(spark, n_urls=40, n_slots=30)
    obs = extract_obs(pages).select(
        "id", F.col("date").cast("timestamp").alias("ts"), "value", "qa")
    return rollup_raw(obs, "daily")


def _snapshot(spark, cat, table):
    df = cat.read_stage(table)
    return sorted(
        tuple(r) for r in df.select("id", "bucket_start", "count", "value",
                                    "vmin", "vmax").collect())


def test_kill_restart_byte_identical(spark, tmp_path_factory):
    from sen2rts_spark.sources.catalog import Catalog

    base = str(tmp_path_factory.mktemp("cat"))
    daily = _daily(spark)
    daily.cache()

    # clean run
    clean = Catalog(spark, os.path.join(base, "clean"), n_buckets=8)
    res = clean.write_stage(daily, "tier_daily")
    assert res["rows"] > 0 and len(res["written_buckets"]) == 8

    # killed run: only half the buckets committed, then "crash"
    crash = Catalog(spark, os.path.join(base, "crash"), n_buckets=8)
    partial = crash.write_stage(daily, "tier_daily", only_buckets=[0, 1, 2, 3])
    assert partial["written_buckets"] == [0, 1, 2, 3]
    assert crash.completed_buckets("tier_daily") == [0, 1, 2, 3]

    # restart with resume: completes ONLY the missing buckets
    resumed = crash.write_stage(daily, "tier_daily", resume=True)
    assert resumed["written_buckets"] == [4, 5, 6, 7]

    # identical contents
    assert _snapshot(spark, crash, "tier_daily") == \
        _snapshot(spark, clean, "tier_daily")

    # second resume is a no-op (idempotent)
    again = crash.write_stage(daily, "tier_daily", resume=True)
    assert again["written_buckets"] == [] and again["rows"] == 0

    # lineage metrics exist per stage
    m = {r["stage"]: r for r in crash.metrics().collect()}
    assert m["tier_daily"]["buckets"] == 8
    shutil.rmtree(base, ignore_errors=True)


def test_crash_between_data_and_lineage_no_duplicates(spark, tmp_path_factory):
    """ADVICE r1: data committed but lineage lost (crash between the two
    writes). Resume redoes the bucket by REPLACING its partition (dynamic
    overwrite), so the final table equals a clean run — no duplicate rows."""
    import shutil as _sh
    from sen2rts_spark.sources.catalog import Catalog

    base = str(tmp_path_factory.mktemp("cat2"))
    daily = _daily(spark)
    daily.cache()

    clean = Catalog(spark, os.path.join(base, "clean"), n_buckets=8)
    clean.write_stage(daily, "tier_daily")

    crash = Catalog(spark, os.path.join(base, "crash"), n_buckets=8)
    crash.write_stage(daily, "tier_daily", only_buckets=[0, 1, 2, 3])
    # simulate the crash window: bucket data exists, lineage never landed
    _sh.rmtree(crash.lineage_path, ignore_errors=True)
    assert crash.completed_buckets("tier_daily") == []

    # resume believes nothing is done and redoes ALL buckets
    resumed = crash.write_stage(daily, "tier_daily", resume=True)
    assert resumed["written_buckets"] == list(range(8))

    assert _snapshot(spark, crash, "tier_daily") == \
        _snapshot(spark, clean, "tier_daily")
    _sh.rmtree(base, ignore_errors=True)


def test_empty_bucket_gets_lineage_and_resume_terminates(spark, tmp_path_factory):
    """ADVICE r2: a todo bucket with no rows this run must still commit a
    rows_out=0 lineage row (else resume re-runs it forever), and stale
    prior-run files in a bucket absent from this run's data must not be
    recorded as current."""
    import shutil as _sh
    from sen2rts_spark.sources.catalog import Catalog

    base = str(tmp_path_factory.mktemp("cat3"))
    daily = _daily(spark)
    daily.cache()
    # keep only rows hashing to a strict subset of buckets
    some = daily.filter(
        F.pmod(F.hash(F.col("id")), F.lit(8)).isin(0, 1, 2))

    cat = Catalog(spark, os.path.join(base, "c"), n_buckets=8)
    res = cat.write_stage(some, "tier_daily")
    assert res["written_buckets"] == [0, 1, 2]
    # every bucket has a lineage row; empty ones carry rows_out=0
    lin = {r["bucket"]: r["rows_out"]
           for r in cat.lineage().filter(F.col("stage") == "tier_daily").collect()}
    assert sorted(lin) == list(range(8))
    assert all(lin[b] == 0 for b in range(3, 8))
    assert cat.completed_buckets("tier_daily") == list(range(8))

    # resume is an immediate no-op — no infinite re-run of empty buckets
    again = cat.write_stage(some, "tier_daily", resume=True)
    assert again["written_buckets"] == [] and again["rows"] == 0

    # upstream changed: bucket 2 no longer produced; its stale files must be
    # dropped, not re-recorded
    fewer = daily.filter(F.pmod(F.hash(F.col("id")), F.lit(8)).isin(0, 1))
    res2 = cat.write_stage(fewer, "tier_daily")
    assert res2["written_buckets"] == [0, 1]
    assert not os.path.isdir(os.path.join(cat.table_path("tier_daily"),
                                          "bucket=2"))
    _sh.rmtree(base, ignore_errors=True)


def test_rerun_same_snapshot_idempotent_merge(spark, tmp_path_factory):
    """Iceberg-semantics (VERDICT r3 task 10): re-running the SAME logical
    snapshot over a complete table is a MERGE-key no-op on contents — every
    bucket is replaced with identical rows (dynamic overwrite = Iceberg
    atomic partition replace, docs/ICEBERG.sql), never appended/duplicated,
    and lineage gains a second full snapshot with a distinct run_id."""
    import shutil as _sh
    from sen2rts_spark.sources.catalog import Catalog

    base = str(tmp_path_factory.mktemp("cat4"))
    daily = _daily(spark)
    daily.cache()

    cat = Catalog(spark, os.path.join(base, "c"), n_buckets=8)
    cat.write_stage(daily, "tier_daily")
    snap1 = _snapshot(spark, cat, "tier_daily")

    res2 = cat.write_stage(daily, "tier_daily")  # same input, re-run
    assert res2["written_buckets"] == list(range(8))
    assert _snapshot(spark, cat, "tier_daily") == snap1  # no dup/drift

    lin = cat.lineage().filter(F.col("stage") == "tier_daily")
    run_ids = [r["run_id"] for r in lin.select("run_id").distinct().collect()]
    assert len(run_ids) == 2  # two committed snapshots in history
    # each snapshot is complete: 8 buckets per run_id
    per_run = {r["run_id"]: r["n"] for r in
               lin.groupBy("run_id").agg(F.countDistinct("bucket").alias("n"))
                  .collect()}
    assert all(n == 8 for n in per_run.values())
    _sh.rmtree(base, ignore_errors=True)


def test_concurrent_writers_disjoint_buckets(spark, tmp_path_factory):
    """Iceberg-semantics: two writers committing DISJOINT bucket ranges of
    the same table (the multi-executor partition-ownership layout) never
    clobber each other — dynamic overwrite touches only each writer's own
    partitions, and the union equals a single-writer run."""
    import shutil as _sh
    from sen2rts_spark.sources.catalog import Catalog

    base = str(tmp_path_factory.mktemp("cat5"))
    daily = _daily(spark)
    daily.cache()

    clean = Catalog(spark, os.path.join(base, "clean"), n_buckets=8)
    clean.write_stage(daily, "tier_daily")

    shared = os.path.join(base, "shared")
    w1 = Catalog(spark, shared, n_buckets=8)
    w2 = Catalog(spark, shared, n_buckets=8)
    r1 = w1.write_stage(daily, "tier_daily", only_buckets=[0, 1, 2, 3])
    r2 = w2.write_stage(daily, "tier_daily", only_buckets=[4, 5, 6, 7])
    assert r1["written_buckets"] == [0, 1, 2, 3]
    assert r2["written_buckets"] == [4, 5, 6, 7]

    assert _snapshot(spark, w1, "tier_daily") == \
        _snapshot(spark, clean, "tier_daily")
    assert w1.completed_buckets("tier_daily") == list(range(8))
    _sh.rmtree(base, ignore_errors=True)


def test_point_lookup_prunes_partitions(spark, tmp_path_factory):
    """read_point reads ONLY the target id's bucket partition: the folded
    bucket predicate must appear in the scan's PartitionFilters, the scan
    must report 1/n_buckets of the partitions, and the values must equal a
    full-scan filter."""
    import shutil as _sh
    from sen2rts_spark.sources.catalog import Catalog

    base = str(tmp_path_factory.mktemp("cat6"))
    daily = _daily(spark)
    cat = Catalog(spark, base, n_buckets=8)
    cat.write_stage(daily, "tier_daily")

    some_id = daily.select("id").orderBy("id").limit(1).collect()[0]["id"]
    pt = cat.read_point("tier_daily", some_id)

    plan = pt._jdf.queryExecution().executedPlan().toString()
    # pmod(hash(lit(id)), 8) must constant-fold into a LITERAL partition
    # filter on the scan (e.g. "PartitionFilters: [..., (bucket#12 = 3)]")
    # — anchored inside the PartitionFilters list, not the schema, so an
    # unpruned scan (empty PartitionFilters) fails here
    import re
    assert re.search(r"PartitionFilters: \[[^\]]*\(bucket#\d+ = \d+\)",
                     plan), plan
    # and the id equality is pushed to the parquet row groups
    assert re.search(r"PushedFilters: \[[^\]]*EqualTo\(id,", plan), plan
    got = sorted(tuple(r) for r in pt.select(
        "id", "bucket_start", "value").collect())
    want = sorted(tuple(r) for r in cat.read_stage("tier_daily")
                  .filter(F.col("id") == some_id)
                  .select("id", "bucket_start", "value").collect())
    assert got == want and len(got) > 0
    _sh.rmtree(base, ignore_errors=True)


def test_lineage_commit_is_one_file(spark, tmp_path):
    # lineage rows go through Arrow into a local relation and are written
    # as one file per commit (a parallelized list wrote one per core)
    from sen2rts_spark.sources.catalog import LINEAGE_SCHEMA, Catalog
    cat = Catalog(spark, str(tmp_path), n_buckets=8)
    df = spark.range(0, 200).select(F.col("id").cast("string").alias("id"))
    cat.write_stage(df, "t1")
    cat.write_stage(df, "t2", only_buckets=[0, 1])
    files = [f for f in os.listdir(cat.lineage_path) if f.endswith(".parquet")]
    assert len(files) == 2
    lin = cat.lineage()
    assert lin.dtypes == spark.createDataFrame([], LINEAGE_SCHEMA).dtypes
    rows = lin.select("stage", "bucket", "rows_out", "status").collect()
    assert sorted((r.stage, r.bucket) for r in rows) == \
        [("t1", b) for b in range(8)] + [("t2", 0), ("t2", 1)]
    assert sum(r.rows_out for r in rows if r.stage == "t1") == 200
    assert {r.status for r in rows} == {"ok"}
