"""Benchmark harness. Prints ONE JSON line:

  {"metric": "total_sec", "value": <sec>, "unit": "sec",
   "queries": {<name>: sec, ...}, "sf": <sf>,
   "points_per_sec": <rolled-up Gorilla points/sec, the north metric>, ...}

Headline: the rollup service path (synthetic pages → extract → daily tier →
Gorilla blobs) measured as rolled-up points/sec, plus representative operator
queries on the driver tables at $SPARK_GRAFT_SF_DIR (default sf0.1).

Env knobs: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, SPARK_GRAFT_PAGES_URLS.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "tools"))

import pyspark.sql.functions as F  # noqa: E402

try:  # load-steal probe for the quiet gate (hoisted — ADVICE r7)
    from delivery_ceiling import _run as _dc_run  # noqa: E402
    from delivery_ceiling import _spin_worker as _dc_spin  # noqa: E402
    from delivery_ceiling import stream_bw as _dc_bw  # noqa: E402
except Exception:  # pragma: no cover - tools dir absent in a dist install
    _dc_run = _dc_spin = _dc_bw = None


def _pages_path(repo_root: str, n_urls: int, n_slots: int) -> str:
    return os.path.join(repo_root, ".bench_cache", f"pages_{n_urls}x{n_slots}.parquet")


# ---- host-health probes ----
# The sandbox host degrades in ~10-minute phases, sometimes WITHOUT visible
# steal; recording a single-thread speed index + /proc/stat steal per rep
# makes cross-round BENCH diffs attributable (host phase vs code change).

_CAL_ARR = None


def _calibrate() -> float:
    """Single-thread host-speed probe (~0.5 s when healthy)."""
    import numpy as np
    global _CAL_ARR
    if _CAL_ARR is None:
        _CAL_ARR = np.arange(2_000_000, dtype=np.float64)
    t0 = time.perf_counter()
    s = 0.0
    for _ in range(30):
        s += float(np.cumsum(_CAL_ARR)[-1])
    return round(time.perf_counter() - t0, 3)


def _cpu_snap() -> list[int]:
    with open("/proc/stat") as f:
        return list(map(int, f.readline().split()[1:]))


def _steal_pct(c0: list[int], c1: list[int]) -> float:
    d = [b - a for a, b in zip(c0, c1)]
    tot = sum(d)
    return round(100.0 * d[7] / tot, 2) if tot and len(d) > 7 else 0.0


def _wait_quiet(gate: dict, label: str) -> None:
    """Block until the host is in a quiet phase (or the shared deadline
    expires), so the OFFICIAL bench artifact is taken in a healthy window
    instead of proving a regression away in side files (VERDICT r5 task 2).

    Same instruments and thresholds as tools/quiet_bench.py: single-thread
    cal probe <= cal_max AND idle steal <= steal_max over a 2 s window.
    Every probe is logged into ``gate`` (BENCH_r{N} host block, task 9);
    nothing is discarded silently. SPARK_GRAFT_QUIET_DEADLINE=0 disables.
    """
    deadline = gate["deadline_ts"]
    if deadline <= time.time():
        gate["sections"].append({"label": label, "skipped": "no budget"})
        return
    # r6's quiet-gated preview (BENCH/BENCH_r6_preview.json) showed the
    # healthy-host rates are cal ~0.2 s / steal ~0.05 %; gate at those so
    # the official artifact records the code's speed, not a host phase
    # (VERDICT r6 task 2). Deadline still bounds the wait.
    cal_max = float(os.environ.get("SPARK_GRAFT_QUIET_CAL_MAX", "0.30"))
    steal_max = float(os.environ.get("SPARK_GRAFT_QUIET_STEAL_MAX", "0.4"))
    poll = float(os.environ.get("SPARK_GRAFT_QUIET_POLL", "15"))
    sec = {"label": label, "probes": [], "accepted": None}
    gate["sections"].append(sec)
    while True:
        cal = _calibrate()
        c0 = _cpu_snap()
        time.sleep(2.0)
        steal = _steal_pct(c0, _cpu_snap())
        probe = {"cal_sec": cal, "steal_pct": steal}
        sec["probes"].append(probe)
        if len(sec["probes"]) > 8:   # bound the artifact: the driver keeps
            # only the last ~4 kB of stdout; a long wait must not push the
            # headline out of it (VERDICT r7 task 7)
            sec["probes_dropped"] = sec.get("probes_dropped", 0) + 1
            del sec["probes"][1]     # keep the first probe + the last 7
        if cal <= cal_max and steal <= steal_max:
            # steal is load-INDUCED on this guest: idle probes read 0% in
            # phases where a full-width load loses 2-11% (r7a scaling run).
            # Confirm with a 2 s full-width spin before accepting the window.
            try:
                if _dc_run is None:
                    raise RuntimeError("tools probe unavailable")
                c0 = _cpu_snap()
                _dc_run(os.cpu_count() or 32, _dc_spin, 2.0)
                probe["load_steal_pct"] = _steal_pct(c0, _cpu_snap())
            except Exception:
                probe["load_steal_pct"] = None
            if (probe["load_steal_pct"] is None
                    or probe["load_steal_pct"] <= max(steal_max, 1.0)):
                # delivered-bandwidth reading (r8): decode/Arrow-heavy rows
                # track the host's lean-bandwidth phases, which cal + steal
                # cannot see (r8a scaling run); recording the full-wide
                # stream rate at window acceptance makes cross-round
                # per-query diffs attributable to bandwidth phase vs code.
                # Healthy phase 174-238 GB/s at 16-wide (r8, warmed).
                try:
                    bw = _dc_bw(os.cpu_count() or 32)
                    probe["stream_bw_gbs"] = round(bw / 1e9, 1)
                except Exception:
                    probe["stream_bw_gbs"] = None
                sec["accepted"] = probe
                return
            # the 2 s full-width spin itself adds load — cool down before
            # the next idle probe so a rejected confirm doesn't bias it
            # (ADVICE r7)
            time.sleep(3.0)
        if time.time() + poll >= deadline:
            sec["accepted"] = False  # proceeding degraded, on the record
            return
        time.sleep(poll)


def ensure_pages(spark, repo_root: str, n_urls: int, n_slots: int) -> str:
    """Materialize the synthetic pages table once (generation excluded from
    the timed path; the service benchmark starts at the parquet scan)."""
    path = _pages_path(repo_root, n_urls, n_slots)
    global _CACHE_WAS_COLD
    if not os.path.exists(path):
        _CACHE_WAS_COLD = True
        from sen2rts_spark.sources.pages import synth_pages
        # ≥64 output files: parquet splits at row-group granularity, so the
        # file/row-group count caps scan parallelism for every consumer
        synth_pages(spark, n_urls=n_urls, n_slots=n_slots, partitions=64) \
            .write.mode("overwrite").parquet(path)
    return path


def bench_rollup_pipeline(spark, pages_path: str) -> tuple[float, int]:
    """The north metric: pages scan → extract → daily tier → Gorilla encode.

    One exchange (operators/pipeline.py): extract's id repartition of the
    parsed projection satisfies every downstream clustering (plan-tested in
    test_ingest_plan)."""
    from sen2rts_spark.operators.pipeline import rollup_gorilla_pipeline

    t0 = time.time()
    pages = spark.read.parquet(pages_path)
    blobs = rollup_gorilla_pipeline(pages, "daily")
    n_points = blobs.agg(F.sum("count")).first()[0] or 0
    return time.time() - t0, int(n_points)


def _blobs_path(repo_root: str, n_urls: int, n_slots: int) -> str:
    return os.path.join(repo_root, ".bench_cache",
                        f"blobs_{n_urls}x{n_slots}.parquet")


def ensure_blobs(spark, repo_root: str, pages_path: str,
                 n_urls: int, n_slots: int) -> str:
    """Materialize the daily-tier blob table once (the stored representation
    a retention read starts from)."""
    path = _blobs_path(repo_root, n_urls, n_slots)
    if not os.path.exists(path):
        from sen2rts_spark.operators.extract import extract_obs
        from sen2rts_spark.operators.gorilla_sink import encode_blobs
        from sen2rts_spark.operators.rollup import rollup_raw
        pages = spark.read.parquet(pages_path)
        obs = extract_obs(pages).select(
            "id", F.col("date").cast("timestamp").alias("ts"), "value", "qa")
        encode_blobs(rollup_raw(obs, "daily"), "daily") \
            .write.mode("overwrite").parquet(path)
    return path


def ensure_year_blobs(spark, repo_root: str, n_ids: int) -> str:
    """Materialize a DECODE-DOMINANT blob store once (VERDICT r7 task 6):
    a year of weekly-chunked HOURLY blobs — 52 chunks/id of 168 points —
    so a 1-week window read prunes ~98 % of decode volume and the saving
    is visible in wall-clock, not only in the blobs_decoded counter (the
    daily store's decode sits under the ~0.7 s scan+dispatch floor).
    Values are a deterministic id-phased sine (no RNG, no clock)."""
    path = os.path.join(repo_root, ".bench_cache", f"yearblobs_{n_ids}.parquet")
    if not os.path.exists(path):
        from sen2rts_spark.operators.gorilla_sink import encode_blobs
        encode_blobs(_year_tier(spark, n_ids), "hourly", chunk_days=7) \
            .write.mode("overwrite").parquet(path)
    return path


def bench_tier_read_year(spark, blobs_path: str) -> dict[str, float]:
    """1-week window over the year store, pruned vs naive. Same result,
    two plans: the envelope filter drops ~51/52 chunks before decode."""
    from sen2rts_spark.operators.gorilla_sink import decode_blobs
    blobs = spark.read.parquet(blobs_path)
    span = blobs.agg(F.min("min_ts").alias("a")).first()
    lo = F.lit(span["a"]) + F.expr("INTERVAL 182 DAYS")
    hi = F.lit(span["a"]) + F.expr("INTERVAL 189 DAYS")
    res = {}
    t0 = time.time()
    decode_blobs(blobs.filter((F.col("max_ts") >= lo)
                              & (F.col("min_ts") < hi))) \
        .filter((F.col("bucket_start") >= lo)
                & (F.col("bucket_start") < hi)) \
        .groupBy("id").agg(F.count(F.lit(1)).alias("n"),
                           F.sum("value").alias("s")).count()
    res["tier_read_year_window_prune"] = round(time.time() - t0, 3)
    t0 = time.time()
    decode_blobs(blobs) \
        .filter((F.col("bucket_start") >= lo)
                & (F.col("bucket_start") < hi)) \
        .groupBy("id").agg(F.count(F.lit(1)).alias("n"),
                           F.sum("value").alias("s")).count()
    res["tier_read_year_window_naive"] = round(time.time() - t0, 3)
    return res


def _year_tier(spark, n_ids: int):
    """The deterministic hourly tier behind ensure_year_blobs (same
    formula — id-phased sine, no RNG, no clock)."""
    hours = 52 * 7 * 24
    ids = spark.range(n_ids).select(
        F.concat(F.lit("url-"), F.col("id")).alias("id"),
        (F.crc32(F.col("id").cast("string")) % 360).alias("phase"))
    grid = ids.crossJoin(spark.range(hours).select(F.col("id").alias("h")))
    t0 = F.to_timestamp(F.lit("2020-01-06 00:00:00"))
    return grid.select(
        "id",
        (t0 + F.make_dt_interval(hours=F.col("h"))).alias("bucket_start"),
        (F.sin((F.col("h") + F.col("phase")) / 24.0)
         + F.col("h") / 1e4).alias("value"))


def ensure_fragged_blobs(spark, repo_root: str, n_ids: int) -> str:
    """Micro-append-fragmented store: the year tier encoded as DAILY blobs
    (24 points each — the shape an append-per-ingest-cycle pipeline leaves
    behind) relabeled to 28-day chunk_start, i.e. ~26 fragments per
    (id, chunk). Written at the sink's standard 3-tasks/core layout so the
    frag/compact read comparison is layout-matched. Deterministic, built
    once."""
    path = os.path.join(repo_root, ".bench_cache", f"fragblobs_{n_ids}.parquet")
    if not os.path.exists(path):
        from sen2rts_spark.operators.gorilla_sink import encode_blobs
        from sen2rts_spark.operators.grouped import partition_count
        parts = partition_count(spark)
        encode_blobs(_year_tier(spark, n_ids), "hourly", chunk_days=1) \
            .withColumn("chunk_start",
                        F.window("min_ts", f"{28 * 86400} seconds")["start"]) \
            .repartition(parts) \
            .write.mode("overwrite").parquet(path)
    return path


def ensure_compacted_blobs(spark, repo_root: str, frag_path: str,
                           n_ids: int) -> str:
    path = os.path.join(repo_root, ".bench_cache",
                        f"compactblobs_{n_ids}.parquet")
    if not os.path.exists(path):
        from sen2rts_spark.operators.compaction import compact_blobs
        from sen2rts_spark.operators.grouped import partition_count
        # same 3-tasks/core file layout as the fragmented store: without
        # it AQE coalesces the compacted write into ~1/3 the files and the
        # read comparison measures layout, not compaction (measured 2.2x)
        parts = partition_count(spark)
        compact_blobs(spark.read.parquet(frag_path)).repartition(parts) \
            .write.mode("overwrite").parquet(path)
    return path


def bench_compaction(spark, frag_path: str, compact_path: str) -> dict:
    """Read amplification of a micro-append-fragmented store vs its
    compacted rewrite: the same weekly re-aggregate (aggregate-pushdown
    read) over ~26-fragment chunks (daily 24-point blobs) vs 1-blob
    chunks (672 points). The structural metrics (blob/index-row count and
    stored bytes before/after) are the terms that grow with store size at
    100 TB; the walls show what they translate to here — measured A/B on
    this shape: compacted ~15-25 % faster on the full-store scan. (Weekly
    168-point fragments showed NO wall win at equal layout: the lockstep
    cross-blob decoder already amortizes per-blob cost at that size, so
    full-scan decode is size-insensitive — compaction's scan win only
    appears for micro-fragments; its index-row reduction applies at every
    size.)"""
    from sen2rts_spark.operators.gorilla_sink import decode_blobs_agg
    res: dict[str, float] = {}

    def _read(path):
        b = spark.read.parquet(path)
        decode_blobs_agg(b, bucket_seconds=604800) \
            .groupBy("id", "bucket_start") \
            .agg(F.sum("n_points").alias("n"), F.sum("vsum").alias("s")) \
            .count()

    t0 = time.time()
    _read(frag_path)
    res["compact_read_fragmented"] = round(time.time() - t0, 3)
    t0 = time.time()
    _read(compact_path)
    res["compact_read_compacted"] = round(time.time() - t0, 3)
    return res


def bench_tier_read(spark, blobs_path: str) -> dict[str, float]:
    """Stored blobs → weekly re-aggregate, two plans: materialize-then-agg
    (decode_blobs row explosion) vs aggregate pushdown (decode_blobs_agg).
    Same input, same result cardinality — the pushdown's win is not paying
    the decoded-row explosion + shuffle (VERDICT r4 'what's wrong' #2)."""
    from sen2rts_spark.operators.gorilla_sink import (decode_blobs,
                                                      decode_blobs_agg)
    blobs = spark.read.parquet(blobs_path)
    res = {}
    t0 = time.time()
    wk = F.timestamp_seconds(
        (F.unix_timestamp("bucket_start") / 604800).cast("long") * 604800)
    decode_blobs(blobs).groupBy("id", wk.alias("wk")).agg(
        F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"),
        F.min("value").alias("mn"), F.max("value").alias("mx")).count()
    res["tier_read_explode"] = round(time.time() - t0, 3)
    t0 = time.time()
    decode_blobs_agg(blobs, bucket_seconds=604800) \
        .groupBy("id", "bucket_start").agg(
            F.sum("n_points").alias("n"), F.sum("vsum").alias("s"),
            F.min("vmin").alias("mn"), F.max("vmax").alias("mx")).count()
    res["tier_read_agg_pushdown"] = round(time.time() - t0, 3)

    # narrow-window read: min_ts/max_ts envelope pruning drops whole blobs
    # before the decode (VERDICT r6 task 7). 31-day window into a ~1000-day
    # store (366-day chunks -> ~1/3 of blobs survive); the naive plan
    # decodes everything and filters points after.
    span = blobs.agg(F.min("min_ts").alias("a")).first()
    lo = F.lit(span["a"]) + F.expr("INTERVAL 400 DAYS")
    hi = F.lit(span["a"]) + F.expr("INTERVAL 431 DAYS")
    t0 = time.time()
    decode_blobs(blobs.filter((F.col("max_ts") >= lo)
                              & (F.col("min_ts") < hi))) \
        .filter((F.col("bucket_start") >= lo)
                & (F.col("bucket_start") < hi)) \
        .groupBy("id").agg(F.count(F.lit(1)).alias("n"),
                           F.sum("value").alias("s")).count()
    res["tier_read_window_prune"] = round(time.time() - t0, 3)
    t0 = time.time()
    decode_blobs(blobs) \
        .filter((F.col("bucket_start") >= lo)
                & (F.col("bucket_start") < hi)) \
        .groupBy("id").agg(F.count(F.lit(1)).alias("n"),
                           F.sum("value").alias("s")).count()
    res["tier_read_window_naive"] = round(time.time() - t0, 3)
    # deterministic decode-volume metric: the pruned plan's win is the
    # fraction of blobs it never decodes — at sf0.1 both walls sit on the
    # same ~0.7 s scan+dispatch floor, so the structural saving (the term
    # that grows with store size at 100 TB) is recorded explicitly.
    n_total = blobs.count()
    n_pruned = blobs.filter((F.col("max_ts") >= lo)
                            & (F.col("min_ts") < hi)).count()
    res["tier_read_window_blobs_decoded"] = n_pruned
    res["tier_read_window_blobs_total"] = n_total
    return res


_CACHE_WAS_COLD = False

BENCH_QUERIES = [
    "weighted_mean",
    "groupby_multi_agg",
    "range_join_interval",
    "topk_per_group",
    "rollup_daily",
    "rollup_tier_chain",
    "gorilla_roundtrip_daily",
    "fill_linear_daily",
    "minhash_lsh_candidates",
    "ann_cosine_topk",
    "ann_lsh_bucketed",
    "dedup_exact",
    "simhash_64",
    "dedup_embedding_near",
    "quality_score",
]

# round-5/6 additions, timed OUTSIDE the cross-round total (like tier_read)
# so BENCH_r{N} totals stay comparable across rounds
EXTRA_QUERIES = [
    "ann_ivf_topk",
    "ann_multiprobe",
    "rollup_distinct_sketch",
    "ann_production_recall",
    "dedup_cluster",
    # round-8 additions
    "decontaminate_ngram",
    "stratified_sample",
    "embedding_quantize_int8",
]


def main() -> None:
    repo_root = os.path.dirname(os.path.abspath(__file__))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    n_urls = int(os.environ.get("SPARK_GRAFT_PAGES_URLS", "30000"))
    n_slots = 200
    sf = sf_dir.rstrip("/").split("sf")[-1]

    from sen2rts_spark.queries import queries
    from sen2rts_spark.session import get_spark

    spark = get_spark("bench", cores=cpus)  # shuffle partitions: 3x cores (session default)
    spark.sparkContext.setLogLevel("ERROR")
    # make the package importable on executor workers regardless of CWD,
    # then create the full Python worker pool while the JVM is idle (worker
    # creation is serialized behind the SparkEnv lock — doing it lazily inside
    # the first big job measured 60-110 s on this host)
    import __spark_entry__ as _entry
    _entry._ensure_pyfiles(spark)
    from sen2rts_spark.session import prewarm_python_workers
    prewarm_python_workers(spark)

    pages_path = ensure_pages(spark, repo_root, n_urls, n_slots)

    # warm-up (untimed): OS page cache for the inputs + JVM JIT + one full
    # pass of every benched query. The protocol measures engine steady state,
    # not process cold-start — on a long-lived cluster every one of these
    # paths runs warm. Two timed reps, min taken: the sandbox host shows
    # ±2-4x CPU-steal bursts (BENCH/BASELINE.md) and min-of-reps is the
    # standard steady-state estimator under one-sided noise.
    for root, _d, files in os.walk(pages_path):
        for fn in files:
            with open(os.path.join(root, fn), "rb") as f:
                while f.read(1 << 24):
                    pass
    qs = queries()
    bench_rollup_pipeline(spark, pages_path)
    for name in BENCH_QUERIES:
        qs[name](spark, sf_dir).count()

    # 3 reps: the host degrades in ~10-minute phases (BENCH/BASELINE.md),
    # so min-of-3 has a much better chance of touching a healthy window
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))
    per_query: dict[str, float] = {}

    # steal-gated quiet window for the timed sections (VERDICT r5 tasks 2/9)
    gate = {"deadline_ts": time.time()
            + float(os.environ.get("SPARK_GRAFT_QUIET_DEADLINE", "1200")),
            "sections": []}
    _wait_quiet(gate, "rollup")

    # headline service path — cal + steal per rep so a cross-round regression
    # is attributable to host phase vs code (VERDICT r4 "what's wrong" #1)
    roll_secs, n_points = [], 0
    roll_health = []

    def _roll_rep():
        nonlocal n_points
        cal = _calibrate()
        c0 = _cpu_snap()
        sec, n_points = bench_rollup_pipeline(spark, pages_path)
        roll_secs.append(sec)
        roll_health.append({"sec": round(sec, 3), "cal_sec": cal,
                            "steal_pct": _steal_pct(c0, _cpu_snap())})

    for _ in range(reps):
        _roll_rep()
    # adaptive extras: if even the BEST rep ran in a degraded host phase
    # (visible steal, or single-thread cal well above the ~0.5 s healthy
    # rate), spend up to 3 more reps hunting a quiet window so the recorded
    # headline is attributable to code, not phase. Bounded, so a fully
    # degraded session costs ~30 s extra and is still flagged by `host`.
    def _best_health():
        return roll_health[roll_secs.index(min(roll_secs))]

    # acceptance mirrors the quiet-gate thresholds (r6's official artifact
    # accepted a 4.4%-steal rep while the same binary did 730 k pts/s in a
    # quiet window — the headline must be the quiet number or flagged)
    extras = 0
    while extras < 4 and (_best_health()["steal_pct"] > 0.5
                          or _best_health()["cal_sec"] > 0.30):
        _wait_quiet(gate, f"rollup_extra_{extras + 1}")
        _roll_rep()
        extras += 1
    roll_sec = min(roll_secs)
    per_query["rollup_gorilla_pipeline"] = round(roll_sec, 3)

    _wait_quiet(gate, "suite")
    suite_cal0 = _calibrate()
    suite_c0 = _cpu_snap()
    for name in BENCH_QUERIES:
        fn = qs[name]
        best = float("inf")
        for _ in range(reps):
            t0 = time.time()
            # count() forces full execution without driver-side collect cost
            fn(spark, sf_dir).count()
            best = min(best, time.time() - t0)
        per_query[name] = round(best, 3)
    suite_cal1 = _calibrate()
    suite_steal = _steal_pct(suite_c0, _cpu_snap())
    # end-of-suite delivered-bandwidth reading, pairing the quiet-gate
    # acceptance readings: a run whose decode-heavy rows drifted while bw
    # dropped mid-run is a host phase, not a code regression (r8)
    try:
        suite_bw = (round(_dc_bw(os.cpu_count() or 32) / 1e9, 1)
                    if _dc_bw is not None else None)
    except Exception:
        suite_bw = None

    # round-5 operator additions (not in total)
    extra: dict[str, float] = {}
    for name in EXTRA_QUERIES:
        fn = qs[name]
        fn(spark, sf_dir).count()  # warm
        best = float("inf")
        for _ in range(reps):
            t0 = time.time()
            fn(spark, sf_dir).count()
            best = min(best, time.time() - t0)
        extra[name] = round(best, 3)

    # tier-read comparison on the stored blob table (min of reps each)
    blobs_path = ensure_blobs(spark, repo_root, pages_path, n_urls, n_slots)
    bench_tier_read(spark, blobs_path)  # warm
    # kept OUT of per_query/total so cross-round totals stay comparable
    tier_best: dict[str, float] = {}
    for _ in range(reps):
        for k, v in bench_tier_read(spark, blobs_path).items():
            tier_best[k] = min(tier_best.get(k, float("inf")), v)
    # decode-dominant shape (VERDICT r7 task 6): year of weekly hourly
    # chunks, 1-week window — the prune's wall-clock win is visible here
    year_ids = int(os.environ.get("SPARK_GRAFT_YEAR_IDS", "6000"))
    year_path = ensure_year_blobs(spark, repo_root, year_ids)
    bench_tier_read_year(spark, year_path)  # warm
    for _ in range(reps):
        for k, v in bench_tier_read_year(spark, year_path).items():
            tier_best[k] = min(tier_best.get(k, float("inf")), v)
    tier_best["tier_read_year_points_total"] = year_ids * 52 * 7 * 24

    # store compaction (r8): fragmented year store (4 weekly fragments per
    # 28-day chunk) vs its compacted rewrite — read walls min-of-reps;
    # compact_wall is ONE timed pass over a deterministic quarter of the
    # ids (decode+merge+re-encode is the operator's whole cost, a single
    # rep keeps the bench bounded and the quiet gate already ran)
    frag_path = ensure_fragged_blobs(spark, repo_root, year_ids)
    compact_path = ensure_compacted_blobs(spark, repo_root, frag_path,
                                          year_ids)
    from sen2rts_spark.operators.compaction import compact_blobs
    frag_df = spark.read.parquet(frag_path)
    quarter = frag_df.filter(F.crc32(F.col("id")) % 4 == 0)
    compact_blobs(quarter.limit(2000)).count()  # warm the code path
    t0 = time.time()
    compact_blobs(quarter).count()
    compact_best: dict[str, float] = {
        "compact_wall_quarter": round(time.time() - t0, 3)}
    bench_compaction(spark, frag_path, compact_path)  # warm
    for _ in range(reps):
        for k, v in bench_compaction(spark, frag_path, compact_path).items():
            compact_best[k] = min(compact_best.get(k, float("inf")), v)
    # structural (deterministic) metrics: what compaction removes at scale
    compact_best["compact_blobs_before"] = frag_df.count()
    compact_best["compact_blobs_after"] = \
        spark.read.parquet(compact_path).count()
    compact_best["compact_bytes_before"] = frag_df.agg(
        F.sum(F.length("blob"))).first()[0]
    compact_best["compact_bytes_after"] = spark.read.parquet(compact_path) \
        .agg(F.sum(F.length("blob"))).first()[0]

    total = round(sum(per_query.values()), 3)
    out = {
        "metric": "total_sec",
        "value": total,
        "unit": "sec",
        "queries": per_query,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "points_per_sec": round(n_points / roll_sec, 1) if roll_sec > 0 else 0,
        "rolled_points": n_points,
        "cpus": cpus,
        "reps": reps,
        "stat": "min_after_warm",
        # host health: cal_sec ~0.5 s and steal <1% = quiet window; a slow
        # cal or high steal marks the rep (and the round's numbers) as
        # host-phase-degraded, not a code regression
        "host": {
            "rollup_reps": roll_health,
            "rollup_best_rep": _best_health(),
            # explicit extras accounting (ADVICE r5): min over the FIRST
            # `reps` draws compares like-for-like across rounds; the
            # headline min may additionally draw on `extra_reps` hunts
            "extra_reps": extras,
            "roll_min_first_reps": round(min(roll_secs[:reps]), 3),
            "suite_cal_sec": [suite_cal0, suite_cal1],
            "suite_steal_pct": suite_steal,
            "suite_stream_bw_gbs": suite_bw,
            # quiet-window gate decisions (accepted probe cal/steal per
            # timed section, or False if the deadline forced a degraded
            # run) — VERDICT r5 task 9
            "quiet_gate": gate["sections"],
        },
        "bench_cache_cold": _CACHE_WAS_COLD,
        # round-5 operator additions (not in total)
        "extra_queries": extra,
        # stored-blob read paths (not in total: added round 5)
        "tier_read": {k: round(v, 3) for k, v in tier_best.items()},
        # store compaction: fragmented vs compacted read + volumes (r8)
        "compaction": compact_best,
    }
    print(json.dumps(out))
    # The driver's BENCH artifact keeps only the last ~4 kB of output, and
    # the host/quiet-gate block above is long enough to push the headline
    # off the front (r7's points_per_sec was unrecoverable from the
    # official artifact — VERDICT r7 task 7). Re-emit the headline as the
    # FINAL line so the tail always carries it.
    print(json.dumps({
        "headline": {
            "metric": "total_sec",
            "value": total,
            "unit": "sec",
            "points_per_sec": out["points_per_sec"],
            "rolled_points": n_points,
            "sf": out["sf"],
            "cpus": cpus,
        }
    }))
    spark.stop()


if __name__ == "__main__":
    main()
