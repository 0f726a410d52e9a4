"""Benchmark entry point.

    python3 perfbench/run.py --workload {codec,udf} \\
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout. Starts a ``local[nproc]`` Spark session,
builds (or reuses) the workload's seeded inputs, then repeats rounds of the
workload for ``--seconds`` (at least one round), checks the outputs and
prints one JSON line last: ``{"correct", "attempted", "failed",
"metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` the
run is traced and the metrics are the per-layer ones. A full artifact
(every operation, check, span, host-health probe, effective Spark conf)
goes to ``.perfbench_cache/out/``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import uuid
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# peak_rss_mb is in the artifact only: JVM heap growth and the number of
# live Python workers move it by 10-60 % between runs of the same code.
END_TO_END = ("setup_s", "throughput_per_s", "latency_p50_s", "round_s")

# per-layer metric -> span whose mean duration per call it reports
SPAN_SECONDS = {
    "extract.s": "extract.extract_obs",
    "rollup.s": "rollup.rollup_raw",
    "gorilla_sink.encode_s": "gorilla_sink.encode_blobs",
    "gorilla_sink.decode_s": "gorilla_sink.decode_blobs",
    "gorilla_sink.decode_agg_s": "gorilla_sink.decode_blobs_agg",
    "catalog.read_point_s": "catalog.read_point",
    "compaction.s": "compaction.compact_blobs",
    "timeseries.smooth_s": "timeseries.smooth",
    "timeseries.fill_s": "timeseries.fill",
    "timeseries.cut_cycles_s": "timeseries.cut_cycles",
    "catalog.write_stage_s": "catalog.write_stage",
    "timeseries.extract_pheno_s": "timeseries.extract_pheno",
    **{f"queries_docs.{q}_s": f"op.{q}" for q in (
        "minhash_lsh_candidates", "dedup_cluster", "ann_lsh_bucketed",
        "dedup_embedding_near")},
}
SPARK_FIELDS = ("task_s", "gc_s", "stages", "tasks", "shuffle_write_bytes",
                "shuffle_read_bytes", "input_bytes", "spill_bytes")
# per-layer metrics a workload fills in itself (0 where it does not run them)
WORKLOAD_LAYERS = (
    "extract.rows_out", "rollup.buckets_out", "gorilla_sink.blobs_out",
    "gorilla_sink.bytes_out", "kernels.gorilla.encode_scalar_us_per_blob",
    "kernels.gorilla.encode_multi_us_per_blob",
    "kernels.gorilla.decode_multi_points_per_s",
    "gorilla_sink.blobs_decoded_ratio", "catalog.read_point_files",
    "compaction.blobs_in", "compaction.blobs_out", "compaction.bytes_rewritten",
    "compaction.fragment_ratio", "kernels.series.smooth_ms_per_series",
    "kernels.series.fill_ms_per_series", "kernels.cycles.cut_ms_per_series",
    "queries_docs.lsh_candidate_pairs", "graph.cc_stages",
    "graph.cc_unconverged_edges")
PER_LAYER = (("session.get_spark_s", "session.prewarm_s")
             + tuple(f"spark.{f}" for f in SPARK_FIELDS)
             + tuple(SPAN_SECONDS) + WORKLOAD_LAYERS
             + ("grouped.non_kernel_s", "kernels.dlog.fit_s_per_cycle",
                "kernels.dlog.fallback_ratio", "kernels.pheno.trs_ms_per_cycle",
                "trace.covered_ratio", "trace.overhead_ratio", "trace.top_layer_share"))


class Ctx:
    """State shared by the run and its workload."""

    def __init__(self, spark, root, seed, cores, work, tracer):
        self.spark, self.root, self.seed = spark, root, seed
        self.cores, self.work, self.tracer = cores, work, tracer
        self.round = 0
        self.materialize_s = 0.0  # input build seconds, measured or recorded
        self.cached_build_s = 0.0  # the recorded part of it (cache hits)
        self.ops: list[dict] = []
        self.checks: list[dict] = []
        self.errors: list[str] = []
        self.info: dict = {}


def start_spark(cores: int, cache: str):
    """The program's own session factory and worker prewarm, timed apart.

    The benchmark may write only inside its checkout, so Spark's scratch
    space and the JVM's temp dir move there (the only confs changed).
    ``get_spark`` would also create ``/dev/shm/spark-local`` before applying
    ``extra_conf``; hiding ``/dev/shm`` for the duration of the call keeps
    that directory from being made. No JVM writes its perf data file under
    /tmp: neither the driver nor the one ``spark-submit`` runs to build the
    driver's command line (``SPARK_LAUNCHER_OPTS``)."""
    from sen2rts_spark import session
    local = os.path.join(cache, "spark-local")
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_LAUNCHER_OPTS"] = \
        f"{os.environ.get('SPARK_LAUNCHER_OPTS', '')} -XX:-UsePerfData".strip()
    isdir = os.path.isdir
    session.os.path.isdir = lambda p: p != "/dev/shm" and isdir(p)
    try:
        t0 = time.perf_counter()
        spark = session.get_spark(
            app="perfbench", cores=cores,
            extra_conf={"spark.local.dir": local,
                        "spark.driver.extraJavaOptions":
                            f"-Djava.io.tmpdir={local} -XX:-UsePerfData"})
        t1 = time.perf_counter()
    finally:
        session.os.path.isdir = isdir
    session.prewarm_python_workers(spark)
    return spark, t1 - t0, time.perf_counter() - t1


def stop_spark(spark) -> None:
    """Stop the session, shut the JVM down and wait until it has exited."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — last resort: never leave the JVM behind
            proc.kill()
            proc.wait()


def _pctl(values: list[float], q: float) -> float:
    s = sorted(values)
    return s[min(len(s) - 1, int(q * len(s)))]


def end_to_end(w, ctx, setup_s: float, rounds: list[dict]) -> dict:
    """Throughput: units ÷ seconds of the THROUGHPUT kinds over the run.
    Latency: median over every LATENCY-kind operation. Round: median over
    rounds of the seconds in the round's operations. Seconds are
    ``host.Interval.s``."""
    units = sum(o["units"] for o in ctx.ops if o["kind"] in w.THROUGHPUT)
    secs = sum(o["s"] for o in ctx.ops if o["kind"] in w.THROUGHPUT)
    return {"setup_s": setup_s,
            "throughput_per_s": units / secs,
            "latency_p50_s": statistics.median(
                o["s"] for o in ctx.ops if o["kind"] in w.LATENCY),
            "round_s": statistics.median(r["s"] for r in rounds)}


def read_tail(lat: list[float]) -> dict:
    """The highest percentile with at least ten samples beyond it."""
    for q in (0.99, 0.95, 0.9, 0.75, 0.5):
        if len(lat) * (1 - q) >= 10:
            return {"percentile": q, "s": _pctl(lat, q)}
    return {"percentile": None, "s": None}


def per_layer(w, ctx, tracer, traced_rounds, timings: dict) -> dict:
    """Per-layer readings of the traced rounds, averaged per round."""
    spans = tracer.spans
    n = max(1, len(traced_rounds))
    round_ids = {r["id"] for r in traced_rounds}

    def in_traced(rec):
        p = rec["parent"]
        while p is not None:
            if p in round_ids:
                return True
            p = spans[p]["parent"]
        return False

    traced = [r for r in spans if in_traced(r)]
    out = dict.fromkeys(PER_LAYER, 0.0)
    out["session.get_spark_s"] = timings["get_spark_s"]
    out["session.prewarm_s"] = timings["prewarm_s"]
    spark_total = defaultdict(float)
    for r in traced_rounds:
        for k, v in tracer.subtree_spark(r["id"]).items():
            spark_total[k] += v
    for f in SPARK_FIELDS:
        out[f"spark.{f}"] = spark_total.get(f, 0.0) / n
    for metric, name in SPAN_SECONDS.items():
        durs = [r["end"] - r["start"] for r in traced if r["name"] == name]
        out[metric] = statistics.mean(durs) if durs else 0.0

    kt = tracer.kernel_totals()

    def per_call(layer):
        secs, calls, flagged = kt.get(layer, (0.0, 0, 0))
        return (secs / calls if calls else 0.0), calls, flagged

    fit, fit_calls, fit_flagged = per_call("kernels.dlog")
    out["kernels.dlog.fit_s_per_cycle"] = fit
    out["kernels.dlog.fallback_ratio"] = fit_flagged / fit_calls if fit_calls else 0.0
    out["kernels.pheno.trs_ms_per_cycle"] = 1e3 * per_call("kernels.pheno")[0]
    # Grouped-map overhead: task time of the timeseries operators' own jobs
    # minus the seconds spent inside the series kernels they call.
    ts_task = sum(r.get("spark", {}).get("task_s", 0.0) for r in traced
                  if r["name"].startswith("timeseries."))
    ts_kernel = sum(v for r in traced if r["name"].startswith("timeseries.")
                    for v in r.get("kernel_s", {}).values())
    out["grouped.non_kernel_s"] = (ts_task - ts_kernel) / n
    out.update(w.layers())

    ops = [r for r in traced if r["name"].startswith("op.")]
    layers, covered, wall = layer_self_times(tracer, ops, traced)
    out["trace.covered_ratio"] = covered / wall if wall else 0.0
    top = max(layers, key=layers.get) if layers else None
    top_by_op = {}
    for op in ops:
        inside = _descendants(spans, op["id"])
        op_layers, _, _ = layer_self_times(tracer, [op], inside)
        if op_layers:
            kind = op["name"][3:]
            top_by_op.setdefault(kind, max(op_layers, key=op_layers.get))
    out["trace.top_layer_share"] = layers[top] / wall if top else 0.0
    untraced = timings["untraced_round_s"]
    traced_s = statistics.median(r["s"] for r in timings["rounds"])
    out["trace.overhead_ratio"] = traced_s / untraced - 1 if untraced else 0.0
    ctx.info["trace"] = {
        "top_self_time_layer": top,
        "top_self_time_layer_by_op": top_by_op,
        "self_time_s_by_layer": {k: round(v, 4) for k, v in
                                 sorted(layers.items(), key=lambda kv: -kv[1])},
        "wall_s": wall, "covered_s": covered,
        "kernel_totals": {k: {"task_s": v[0], "calls": v[1], "flagged": v[2]}
                          for k, v in kt.items()},
    }
    return out


def _descendants(spans: list[dict], root: int) -> list[dict]:
    ids, out = {root}, []
    for r in spans:  # parents are recorded before their children
        if r["parent"] in ids:
            ids.add(r["id"])
            out.append(r)
    return out


def _is_layer(name: str) -> bool:
    return name != "round" and not name.startswith("op.")


def layer_self_times(tracer, op_spans, traced):
    """Self time per layer over the traced operations. A span's self time is
    split between its layer and the kernels that ran inside it in
    proportion to their share of the span's own task seconds (kernels run
    in Python workers, so they have no driver-side span of their own).
    Returns (layer -> seconds, seconds under layer spans, operation
    seconds)."""
    self_t = tracer.self_times()
    layers = defaultdict(float)
    for r in traced:
        if not _is_layer(r["name"]):
            continue
        st = self_t[r["id"]]
        task = r.get("spark", {}).get("task_s", 0.0)
        kern = r.get("kernel_s", {})
        ksum = sum(kern.values())
        if task > 0 and ksum > 0:
            share = min(1.0, ksum / task)
            for k, v in kern.items():
                layers[k] += st * share * v / ksum
            st *= 1.0 - share
        layers[r["name"].rsplit(".", 1)[0] if r["name"].count(".") > 1
               else r["name"]] += st
    # wall covered by the outermost layer spans
    covered = 0.0
    for r in traced:
        if _is_layer(r["name"]):
            p = r["parent"]
            while p is not None and not _is_layer(tracer.spans[p]["name"]):
                p = tracer.spans[p]["parent"]
            if p is None:
                covered += r["end"] - r["start"]
    wall = sum(r["end"] - r["start"] for r in op_spans)
    return dict(layers), covered, wall


def _untraced_round_s(cache: str, workload: str, seed: int) -> float | None:
    """round_s of the latest untraced run of (workload, seed) in this
    checkout, the baseline of the traced run's overhead; None if none."""
    out = os.path.join(cache, "out")
    runs = sorted((os.path.getmtime(os.path.join(out, f)), f) for f in
                  (os.listdir(out) if os.path.isdir(out) else ())
                  if f.startswith(f"{workload}-s{seed}-t0-"))
    if not runs:
        return None
    with open(os.path.join(out, runs[-1][1])) as f:
        return json.load(f)["metrics"]["round_s"]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    if not os.path.isfile(os.path.join(ROOT, "sen2rts_spark", "__init__.py")):
        print("perfbench: sen2rts_spark is not in this checkout", file=sys.stderr)
        return 2
    from perfbench import host
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    dropped = host.pin_env(ROOT)
    cache = os.path.join(ROOT, ".perfbench_cache")
    run_id = uuid.uuid4().hex[:12]
    work = os.path.join(cache, "work", run_id)
    os.makedirs(work)
    os.environ["TMPDIR"] = work
    cores = host.cores()
    health = {"calibrate_before_s": host.calibrate()}
    t0, cpu0 = time.perf_counter(), host.cpu_snapshot()
    spark, get_s, prewarm_s = start_spark(cores, cache)
    try:
        tracer = Tracer(spark, run_id, enabled=False)
        ctx = Ctx(spark, ROOT, args.seed, cores, work, tracer)
        w = WORKLOADS[args.workload](ctx)
        w.setup()
        # as host.Interval.s; a cached input's recorded build time is added
        setup_wall = time.perf_counter() - t0
        setup_steal = host.steal_share(cpu0, host.cpu_snapshot())
        setup_s = setup_wall * (1.0 - setup_steal) + ctx.cached_build_s

        if args.trace:
            tracer.enabled = True
            w.wrap_layers()
        rounds, traced_rounds = [], []
        t_end = time.perf_counter() + args.seconds
        while not rounds or time.perf_counter() < t_end:
            ctx.round += 1
            with tracer.span("round") as rec:
                w.round()
            rounds.append({"round": ctx.round, "s": sum(
                o["s"] for o in ctx.ops if o["round"] == ctx.round)})
            if rec is not None:
                traced_rounds.append(rec)
            tracer.release()

        w.check_outputs()
        tracer.stage_metrics()
        rss, rss_by_pid = host.peak_rss_mb(spark.sparkContext._gateway.proc.pid)
        timings = {"get_spark_s": get_s, "prewarm_s": prewarm_s, "rounds": rounds,
                   "untraced_round_s": _untraced_round_s(cache, args.workload, args.seed)}
        tracer.unwrap()
        if args.trace:
            metrics = per_layer(w, ctx, tracer, traced_rounds, timings)
            names = PER_LAYER
        else:
            metrics = end_to_end(w, ctx, setup_s, rounds)
            names = END_TO_END
        conf = dict(spark.sparkContext.getConf().getAll())
    finally:
        stop_spark(spark)
    health["calibrate_after_s"] = host.calibrate()
    health["steal_pct"] = host.steal_pct(cpu0, host.cpu_snapshot())
    health["loadavg"] = os.getloadavg()

    failed_ops = sum(not o["ok"] for o in ctx.ops)
    failed_checks = sum(not c["ok"] for c in ctx.checks)
    attempted = len(ctx.ops) + len(ctx.checks)
    failed = failed_ops + failed_checks
    lat = [o["s"] for o in ctx.ops if o["kind"] in w.LATENCY]
    artifact = {
        "run_id": run_id, "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace, "cores": cores,
        "setup_s": setup_s, "setup_wall_s": setup_wall, "setup_steal": setup_steal,
        "session": {"get_spark_s": get_s, "prewarm_s": prewarm_s},
        "materialize_s": ctx.materialize_s, "cached_build_s": ctx.cached_build_s,
        "rounds": rounds,
        "error_rate": failed / attempted, "latency_tail": read_tail(lat),
        "metrics": metrics, "info": ctx.info, "ops": ctx.ops, "checks": ctx.checks,
        "errors": ctx.errors, "host": health, "peak_rss_mb": rss,
        "rss_mb_by_pid": rss_by_pid,
        "env": {"dropped_tuning_vars": dropped,
                "spark_conf": conf, "python": sys.version.split()[0]},
        "spans": tracer.export(),
    }
    out_dir = os.path.join(cache, "out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{args.workload}-s{args.seed}-t{args.trace}-{run_id}.json"),
              "w") as f:
        json.dump(artifact, f, indent=1, default=str)
    shutil.rmtree(work, ignore_errors=True)

    units = {"setup_s": "s", "throughput_per_s": "1/s", "latency_p50_s": "s",
             "round_s": "s"}
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units.get(k, _unit(k))}
                    for k in names}}))
    return 0


def _unit(metric: str) -> str:
    leaf = metric.rsplit(".", 1)[-1]
    for suffix, unit in (("_per_s", "1/s"), ("us_per_blob", "us"), ("ms_per_series", "ms"),
                         ("ms_per_cycle", "ms"), ("s_per_cycle", "s"), ("bytes", "bytes"),
                         ("bytes_out", "bytes"), ("bytes_rewritten", "bytes"),
                         ("ratio", "ratio"), ("share", "ratio")):
        if leaf.endswith(suffix):
            return unit
    return "s" if leaf == "s" or leaf.endswith("_s") else "count"


if __name__ == "__main__":
    sys.exit(main())
