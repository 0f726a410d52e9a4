"""Per-stage 4-vs-16 scaling profile of the headline rollup pipeline.

Runs each pipeline prefix at two parallelism levels in child processes
(one JVM per level, warmed, levels interleaved) and prints per-stage wall
+ pairwise efficiency, so the stage that LOSES efficiency at 4x width
is identified by measurement instead of guesswork (VERDICT r7 task 1
lever a).

Usage: python tools/stage_profile.py [n_urls] [lo,hi]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CHILD = r"""
import json, sys, time
sys.path.insert(0, %(repo)r)
import pyspark.sql.functions as F
from sen2rts_spark.session import get_spark, prewarm_python_workers
from sen2rts_spark.operators.extract import extract_obs
from sen2rts_spark.operators.rollup import rollup_raw
from sen2rts_spark.operators.gorilla_sink import encode_blobs

cores = int(sys.argv[1]); pages_path = sys.argv[2]
spark = get_spark("stageprof-%%d" %% cores, cores=cores)
spark.sparkContext.setLogLevel("ERROR")
prewarm_python_workers(spark)

def obs():
    pages = spark.read.parquet(pages_path)
    return extract_obs(pages).select(
        "id", F.col("date").cast("timestamp").alias("ts"), "value", "qa")

STAGES = {
    # scan + decode + regex parse, partial agg only (no shuffled groupBy):
    "scan_parse": lambda: spark.read.parquet(pages_path).select(
        F.col("url").alias("id"), F.to_date("warc_ts").alias("date"),
        F.decode("html", "UTF-8").alias("t")).select(
        F.sum(F.length("t")).alias("s")).first(),
    # full extract_obs (adds the id repartition, the pipeline's one
    # exchange, and the (id,date,orbit,sensor) aggregate after it)
    "extract_obs": lambda: obs().agg(F.sum("value")).first(),
    # + rollup groupBy (no exchange: reuses extract's id partitioning)
    "rollup": lambda: rollup_raw(obs(), "daily").agg(
        F.sum("count")).first(),
    # + encode (sort + mapInArrow python; its repartition is dropped):
    # the whole pipeline, as operators/pipeline.py composes it
    "full": lambda: encode_blobs(rollup_raw(obs(), "daily"), "daily").agg(
        F.sum("count")).first(),
}
for fn in STAGES.values():
    fn()  # warm: JIT + page cache + worker pool
print("READY", flush=True)
for line in sys.stdin:
    name = line.strip()
    if name not in STAGES:
        break
    t0 = time.time()
    STAGES[name]()
    print(json.dumps({"stage": name, "sec": round(time.time() - t0, 2)}),
          flush=True)
spark.stop()
"""


def main():
    n_urls = int(sys.argv[1]) if len(sys.argv) > 1 else 50000
    levels = tuple(int(x) for x in (
        sys.argv[2] if len(sys.argv) > 2 else "4,16").split(","))
    prep = ("import sys; sys.path.insert(0, %r); "
            "from bench import ensure_pages; "
            "from sen2rts_spark.session import get_spark; "
            "s = get_spark('stageprof-prep', cores=8); "
            "print(ensure_pages(s, %r, %d, 200))" % (REPO, REPO, n_urls))
    pages_path = subprocess.run(
        [sys.executable, "-c", prep], capture_output=True, text=True,
        check=True, cwd=REPO).stdout.strip().splitlines()[-1]
    for root, _d, files in os.walk(pages_path):
        for fn in files:
            with open(os.path.join(root, fn), "rb") as f:
                while f.read(1 << 24):
                    pass

    procs = {}
    for c in levels:
        p = subprocess.Popen(
            [sys.executable, "-c", CHILD % {"repo": REPO}, str(c),
             pages_path], stdin=subprocess.PIPE, stdout=subprocess.PIPE,
            text=True, cwd=REPO)
        while True:
            ln = p.stdout.readline()
            if not ln:
                raise RuntimeError(f"child {c} died")
            if ln.strip() == "READY":
                break
        procs[c] = p

    def run(c, stage):
        procs[c].stdin.write(stage + "\n")
        procs[c].stdin.flush()
        while True:
            ln = procs[c].stdout.readline().strip()
            if ln.startswith("{"):
                return json.loads(ln)["sec"]

    reps = int(os.environ.get("REPS", "2"))
    stages = ["scan_parse", "extract_obs", "rollup", "full"]
    rows = []
    for stage in stages:
        for _ in range(reps):
            lo = run(levels[0], stage)
            hi = run(levels[-1], stage)
            lo2 = run(levels[0], stage)
            eff = ((lo + lo2) / 2 / hi) / (levels[-1] / levels[0])
            rows.append({"stage": stage, "lo": round((lo + lo2) / 2, 2),
                         "hi": hi, "eff": round(eff, 3)})
            print(rows[-1], flush=True)
    # marginal: time attributable to each added stage
    print("\nmarginal stage costs (median over reps):", flush=True)
    import statistics
    med = {s: {k: statistics.median(r[k] for r in rows if r["stage"] == s)
               for k in ("lo", "hi")} for s in stages}
    prev = {"lo": 0.0, "hi": 0.0}
    for s in stages:
        dlo = med[s]["lo"] - prev["lo"]
        dhi = med[s]["hi"] - prev["hi"]
        eff = (dlo / dhi) / (levels[-1] / levels[0]) if dhi > 0 else None
        print(f"  {s:12s} +lo {dlo:7.2f}s  +hi {dhi:6.2f}s  "
              f"marginal_eff {eff}", flush=True)
        prev = med[s]
    for p in procs.values():
        try:
            p.stdin.write("quit\n")
            p.stdin.flush()
        except Exception:
            pass
        p.wait(timeout=60)


if __name__ == "__main__":
    main()
