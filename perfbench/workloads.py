"""The benchmark's two workloads and the four parts they are made of.

A part (``ingest``, ``store``, ``pheno``, ``curate``) owns its inputs, one
round of timed operations, its output checks and its traced-run layer
readings. A workload runs its parts one after another in every round:

- ``codec`` = ingest + store: every Gorilla write, read and rewrite path
  (mapInArrow encode/decode); no pandas UDF, series kernel or graph code.
- ``udf`` = pheno + curate: the grouped pandas-UDF analytics (the paper's
  chain and the dedup/ANN queries); no codec.

A run repeats whole rounds until ``--seconds`` have passed (at least one
round), one operation at a time from one client: a closed loop. There is
no warm-up round. Each run is a batch job on a fresh session: session
start and worker prewarm count in ``setup_s``, and the first round pays
the cold costs (code generation, worker-side imports) that such a job pays
every time it runs. Sizes are fixed; the seed changes the rows, the read
mix and the samples, not the amount of work.

Each workload names the operation kinds behind its timing metrics:
``throughput_per_s`` is the units of its ``THROUGHPUT`` operations over
their seconds, ``latency_p50_s`` the median latency of its ``LATENCY``
operations and ``round_s`` the median over rounds of the seconds spent in
a round's operations.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import Window

from . import host, inputs

# Input sizes (fixed; part of the cache key). See README.md for how they
# were chosen.
INGEST_URLS = 1000
STORE_IDS = 60
STORE_READS = (("window", 2), ("reagg", 2), ("point", 2))
PHENO_SERIES = 60
PHENO_SAMPLE_CYCLES = 4
CURATE_DOCS = 2000
CURATE_VECS = 1000
# dedup_survivors is left out: it reruns dedup_cluster's whole plan
# (candidates and connected components) plus a quality join; see README.md.
CURATE_QUERIES = ("minhash_lsh_candidates", "dedup_cluster", "ann_lsh_bucketed",
                  "dedup_embedding_near")

WEEK_S = 7 * 86400


def noop_write(tracer, df) -> None:
    """Run every column of ``df`` to completion without keeping it."""
    with tracer.span("spark.noop_write"):
        df.write.format("noop").mode("overwrite").save()


class Part:
    """Base: subclasses fill ``setup``, ``round``, ``check_outputs``,
    ``wrap_layers`` and ``layers``. ``ctx`` is the run's shared state
    (see run.py)."""
    name = ""

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.rng = np.random.default_rng(ctx.seed)

    def inputs(self, size: str, build) -> str:
        """The part's cached inputs (see ``inputs.cached``); a cache hit
        adds the recorded build seconds to the run's materialization
        time, so ``setup_s`` does not depend on the cache's state."""
        path, build_s, hit = inputs.cached(self.ctx.root, self.name, self.ctx.seed,
                                           size, build)
        self.ctx.materialize_s += build_s
        self.ctx.info[f"{self.name}.build_s"] = build_s
        if hit:
            self.ctx.cached_build_s += build_s
        return path

    def op(self, kind: str, units: float, fn) -> dict:
        """Time one operation; a raised error counts as a failed op.
        Returns the operation's record."""
        ctx = self.ctx
        ok = True
        with host.Interval() as t:
            try:
                with ctx.tracer.span(f"op.{kind}"):
                    fn()
            except Exception as exc:  # noqa: BLE001 — counted and reported; the run goes on
                ok = False
                ctx.errors.append(f"{kind}: {exc!r}"[:500])
        rec = {"round": ctx.round, "kind": kind, "units": units, "s": t.s,
               "wall_s": t.wall, "steal": t.steal, "ok": ok}
        ctx.ops.append(rec)
        return rec

    def check(self, name: str, ok: bool, detail=None) -> None:
        self.ctx.checks.append({"name": name, "ok": bool(ok), "detail": detail})

    def wrap_layers(self) -> None:
        """Install the traced run's wrappers (no-ops with tracing off)."""

    def layers(self) -> dict:
        """Per-layer readings of the traced run beyond spans and stages."""
        return {}


# --------------------------------------------------------------------------
# ingest
# --------------------------------------------------------------------------

class Ingest(Part):
    """pages → fused extract/rollup/Gorilla encode → daily blobs written."""
    name = "ingest"

    def setup(self):
        ctx = self.ctx
        path = self.inputs(f"u{INGEST_URLS}", lambda d: inputs.build_pages(
            self.spark, d, INGEST_URLS, ctx.seed, parts=4 * ctx.cores))
        self.pages = self.spark.read.parquet(os.path.join(path, "pages"))
        self.out = os.path.join(ctx.work, "blobs")
        self.points = None

    def _pass(self):
        from sen2rts_spark.operators import pipeline
        blobs = pipeline.rollup_gorilla_pipeline(self.pages, "daily")
        with self.ctx.tracer.span("spark.write_parquet"):
            blobs.write.mode("overwrite").parquet(self.out)

    def round(self):
        rec = self.op("pass", 0, self._pass)
        if self.points is None and rec["ok"]:  # every pass writes the same blobs
            r = self.spark.read.parquet(self.out).agg(
                F.sum("count").alias("points"), F.count(F.lit(1)).alias("blobs"),
                F.sum(F.length("blob")).alias("bytes")).first()
            self.points, self.blobs, self.bytes = int(r.points), int(r.blobs), int(r.bytes)
            self.ctx.info.update(points_per_pass=self.points, blobs_per_pass=self.blobs,
                                 blob_bytes=self.bytes,
                                 bytes_per_point=self.bytes / self.points)
        rec["units"] = self.points or 0

    def check_outputs(self):
        from sen2rts_spark.kernels.gorilla import gorilla_decode
        from sen2rts_spark.operators.extract import extract_obs
        from sen2rts_spark.operators.rollup import rollup_raw
        written = self.spark.read.parquet(self.out)
        points = written.agg(F.sum("count")).first()[0]
        tier = rollup_raw(extract_obs(self.pages).select(
            "id", F.col("date").cast("timestamp").alias("ts"), "value", "qa"),
            "daily").select("id", "bucket_start", "value")
        ids = sorted(r.id for r in written.select("id").distinct().collect())
        sample = sorted(self.rng.choice(ids, 16, replace=False).tolist())
        # one pass over the tier: its row count plus the sampled ids' rows
        rows = tier.withColumn("n", F.count(F.lit(1)).over(Window.partitionBy())) \
            .filter(F.col("id").isin(sample)).collect()
        tier_rows = rows[0].n if rows else 0
        self.check("blob points == tier rows", tier_rows == points,
                   {"tier_rows": tier_rows, "blob_points": points})
        want, got = {}, {}
        for r in rows:
            want.setdefault(r.id, []).append((int(r.bucket_start.timestamp()), r.value))
        for r in written.filter(F.col("id").isin(sample)).collect():
            ts, vals = gorilla_decode(bytes(r.blob))
            got.setdefault(r.id, []).extend(zip(ts.tolist(), vals.tolist()))
        bad = [i for i in sample if not want.get(i)
               or sorted(want[i]) != sorted(got.get(i, []))]
        self.check("sampled blobs decode bit-exact to the tier", not bad,
                   {"ids": len(sample), "mismatched": bad[:3]})
        self.slices = [tuple(np.array(c) for c in zip(*sorted(v))) for v in want.values()]

    def wrap_layers(self):
        from sen2rts_spark.operators import extract, gorilla_sink, pipeline, rollup
        t = self.ctx.tracer
        t.wrap(pipeline, "rollup_gorilla_pipeline", "pipeline.rollup_gorilla_pipeline",
               materialize=False)
        t.wrap(extract, "extract_obs", "extract.extract_obs")
        t.wrap(rollup, "rollup_raw", "rollup.rollup_raw")
        t.wrap(gorilla_sink, "encode_blobs", "gorilla_sink.encode_blobs")
        t.wrap_kernel(gorilla_sink, "gorilla_encode", "kernels.gorilla.encode")

    def layers(self):
        return {"extract.rows_out": _last_rows(self.ctx, "extract.extract_obs"),
                "rollup.buckets_out": _last_rows(self.ctx, "rollup.rollup_raw"),
                "gorilla_sink.blobs_out": self.blobs,
                "gorilla_sink.bytes_out": self.bytes,
                **gorilla_encode_probe(self.slices)}


# --------------------------------------------------------------------------
# pheno
# --------------------------------------------------------------------------

def _needed_fallback(fit) -> bool:
    return fit is None or fit.get("method") != "gu"


class Pheno(Part):
    """The paper's chain: smooth → fill → cut_cycles, each committed
    through the catalog (phase 1), then extract_pheno with the gu →
    klosterman fit on a seeded sample of the cycles (phase 2). The sample
    is a fixed number of cycles, not of ids, so every seed fits the same
    amount."""
    name = "pheno"

    def setup(self):
        from sen2rts_spark.sources.catalog import Catalog
        ctx = self.ctx
        path = self.inputs(f"n{PHENO_SERIES}", lambda d: inputs.build_obs(
            self.spark, d, PHENO_SERIES, ctx.seed, parts=ctx.cores))
        self.obs = self.spark.read.parquet(os.path.join(path, "obs"))
        self.catalog = Catalog(self.spark, os.path.join(ctx.work, "catalog"))
        self.sample = None

    def _pick_sample(self):
        """Seeded sample of the cycles phase 1 cut (the same on every pass)."""
        keys = sorted((r.id, r.year, r.cycle) for r in
                      self.catalog.read_stage("cycles").select("id", "year", "cycle").collect())
        pick = self.rng.choice(len(keys), PHENO_SAMPLE_CYCLES, replace=False)
        self.sample = sorted(keys[i] for i in pick)
        self.sample_ids = sorted({k[0] for k in self.sample})
        self.ctx.info.update(cycles_total=len(keys), sample_cycles=self.sample)

    def _sampled(self, df):
        key = F.concat_ws("|", "id", "year", "cycle")
        return df.filter(key.isin([f"{i}|{y}|{c}" for i, y, c in self.sample]))

    def _phase1(self):
        from sen2rts_spark.operators import timeseries as ts
        cat = self.catalog
        cat.write_stage(ts.smooth(self.obs), "smoothed")
        cat.write_stage(ts.fill(cat.read_stage("smoothed").drop("bucket")), "filled")
        cat.write_stage(ts.cut_cycles(cat.read_stage("filled").drop("bucket")), "cycles")

    def _phase2(self):
        from sen2rts_spark.operators import timeseries as ts
        filled = self.catalog.read_stage("filled").drop("bucket")
        cycles = self._sampled(self.catalog.read_stage("cycles").drop("bucket"))
        res = ts.extract_pheno(filled, cycles, fit=("gu", "klosterman"), method="trs")
        with self.ctx.tracer.span("spark.collect"):
            self.pheno_rows = res.collect()

    def round(self):
        ok = self.op("phase1", PHENO_SERIES, self._phase1)["ok"]
        if self.sample is None and ok:
            self._pick_sample()
        self.op("phase2", PHENO_SAMPLE_CYCLES, self._phase2)

    def check_outputs(self):
        got = sorted((r.id, r.year, r.cycle) for r in self.pheno_rows)
        self.check("one pheno row per sampled cycle", got == self.sample,
                   {"cycles": len(self.sample), "pheno_rows": len(got)})
        outside = [(r.id, r.cycle) for r in self.pheno_rows
                   for d in (r.sos, r.eos, r.pop)
                   if d is not None and not r.begin <= d <= r.end]
        self.check("pheno dates inside [begin, end]", not outside, outside[:3])

    def wrap_layers(self):
        from sen2rts_spark.operators import timeseries as ts
        from sen2rts_spark.sources import catalog
        t = self.ctx.tracer
        for fn in ("smooth", "fill", "cut_cycles", "extract_pheno"):
            t.wrap(ts, fn, f"timeseries.{fn}")
        t.wrap(catalog, "Catalog.write_stage", "catalog.write_stage")
        t.wrap_kernel(ts, "smooth_series", "kernels.series.smooth")
        t.wrap_kernel(ts, "fill_series", "kernels.series.fill")
        t.wrap_kernel(ts, "cut_cycles_series", "kernels.cycles")
        t.wrap_kernel(ts, "fit_with_fallback", "kernels.dlog", flag=_needed_fallback)
        t.wrap_kernel(ts, "pheno_trs", "kernels.pheno")

    def layers(self):
        return series_kernel_probe(self)


# --------------------------------------------------------------------------
# store
# --------------------------------------------------------------------------

class Store(Part):
    """A year-long hourly tier stored as weekly blobs (catalog bucket
    layout) and as daily fragments relabelled to 28-day chunks; a seeded
    single-client read mix, then compaction of the fragments and the
    weekly re-aggregation again on its output."""
    name = "store"

    def setup(self):
        from sen2rts_spark.sources.catalog import Catalog
        ctx = self.ctx
        path = self.inputs(f"n{STORE_IDS}", self._build)
        self.catalog = Catalog(self.spark, os.path.join(path, "catalog"))
        self.weekly = self.catalog.read_stage("weekly")
        self.frag = self.spark.read.parquet(os.path.join(path, "frag"))
        self.compacted_path = os.path.join(ctx.work, "compacted")
        r = self.weekly.agg(F.min("min_ts").alias("t0"), F.count(F.lit(1)).alias("n"),
                            F.sum("count").alias("points")).first()
        self.t0, self.n_weekly, self.points = r.t0, r.n, int(r.points)
        self.ids = sorted(x.id for x in self.weekly.select("id").distinct().collect())
        kinds = [k for k, n in STORE_READS for _ in range(n)]
        self.mix = [(str(k), int(self.rng.integers(0, 51)), str(self.rng.choice(self.ids)))
                    for k in self.rng.permutation(kinds)]
        ctx.info.update(points=self.points, weekly_blobs=self.n_weekly, read_mix=self.mix)

    def _build(self, d):
        inputs.build_store(self.spark, d, STORE_IDS, self.ctx.seed, parts=3 * self.ctx.cores)

    def _bounds(self, week):
        lo = F.lit(self.t0) + F.expr(f"INTERVAL {7 * week} DAYS")
        return lo, lo + F.expr("INTERVAL 7 DAYS")

    def window_query(self, week, prune=True):
        from sen2rts_spark.operators import gorilla_sink
        lo, hi = self._bounds(week)
        src = self.weekly.filter((F.col("max_ts") >= lo) & (F.col("min_ts") < hi)) \
            if prune else self.weekly
        return gorilla_sink.decode_blobs(src) \
            .filter((F.col("bucket_start") >= lo) & (F.col("bucket_start") < hi)) \
            .groupBy("id").agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))

    def _reagg(self, blobs):
        from sen2rts_spark.operators import gorilla_sink
        noop_write(self.ctx.tracer, gorilla_sink.decode_blobs_agg(blobs, bucket_seconds=WEEK_S)
                   .groupBy("id", "bucket_start")
                   .agg(F.sum("n_points").alias("n"), F.sum("vsum").alias("s"),
                        F.min("vmin").alias("mn"), F.max("vmax").alias("mx")))

    def _read(self, kind, week, point_id):
        from sen2rts_spark.operators import gorilla_sink
        if kind == "reagg":
            self._reagg(self.frag)
            return
        if kind == "window":
            df = self.window_query(week)
        else:
            df = gorilla_sink.decode_blobs(self.catalog.read_point("weekly", point_id))
        with self.ctx.tracer.span("spark.collect"):
            df.collect()

    def _compact(self):
        from sen2rts_spark.operators import compaction
        out = compaction.compact_blobs(self.frag)
        with self.ctx.tracer.span("spark.write_parquet"):
            out.repartition(3 * self.ctx.cores).write.mode("overwrite") \
                .parquet(self.compacted_path)

    def round(self):
        for kind, week, pid in self.mix:
            self.op(f"read_{kind}", 1, lambda k=kind, w=week, p=pid: self._read(k, w, p))
        self.op("compact", self.points, self._compact)
        self.op("reagg_compacted", 1,
                lambda: self._reagg(self.spark.read.parquet(self.compacted_path)))

    def check_outputs(self):
        from sen2rts_spark.operators.gorilla_sink import decode_blobs_agg
        week = self.mix[0][1]
        pruned = {r.id: (r.n, r.s) for r in self.window_query(week).collect()}
        naive = {r.id: (r.n, r.s) for r in self.window_query(week, prune=False).collect()}
        self.check("pruned window == naive window", bool(pruned) and _same(pruned, naive),
                   {"week": week, "ids": len(pruned)})

        def per_id(df):
            return {r.id: (r.n, r.s) for r in decode_blobs_agg(df).groupBy("id")
                    .agg(F.sum("n_points").alias("n"), F.sum("vsum").alias("s")).collect()}
        comp = self.spark.read.parquet(self.compacted_path)
        before, after = per_id(self.frag), per_id(comp)
        self.check("compaction keeps per-id count and sum", _same(before, after),
                   {"ids": len(before)})
        r = comp.agg(F.count(F.lit(1)).alias("n"), F.sum(F.length("blob")).alias("b")).first()
        self.compacted = (r.n, int(r.b))
        self.ctx.info.update(compacted_blobs=r.n, compacted_bytes=int(r.b))

    def wrap_layers(self):
        from sen2rts_spark.operators import compaction, gorilla_sink
        from sen2rts_spark.sources import catalog
        t = self.ctx.tracer
        t.wrap(gorilla_sink, "decode_blobs", "gorilla_sink.decode_blobs")
        t.wrap(gorilla_sink, "decode_blobs_agg", "gorilla_sink.decode_blobs_agg")
        t.wrap(catalog, "Catalog.read_point", "catalog.read_point")
        t.wrap(compaction, "compact_blobs", "compaction.compact_blobs")
        t.wrap_kernel(gorilla_sink, "gorilla_decode_multi", "kernels.gorilla.decode")
        t.wrap_kernel(compaction, "gorilla_decode_multi", "kernels.gorilla.decode")
        t.wrap_kernel(compaction, "gorilla_encode_multi", "kernels.gorilla.encode")

    def layers(self):
        from sen2rts_spark.kernels.gorilla import gorilla_decode_multi
        lo, hi = self._bounds(self.mix[0][1])
        kept = self.weekly.filter((F.col("max_ts") >= lo) & (F.col("min_ts") < hi)).count()
        point = self.catalog.read_point("weekly", self.mix[0][2])
        n_out, out_bytes = self.compacted
        n_frag = self.frag.count()
        out = {"gorilla_sink.blobs_decoded_ratio": kept / self.n_weekly,
               "catalog.read_point_files": len(point.inputFiles()),
               "compaction.blobs_in": n_frag, "compaction.blobs_out": n_out,
               "compaction.bytes_rewritten": out_bytes,
               "compaction.fragment_ratio": n_frag / n_out}
        blobs = [bytes(r.blob) for r in self.weekly.filter(
            F.col("id").isin(self.ids[:8])).select("blob").collect()]
        offs = np.concatenate(([0], np.cumsum([len(b) for b in blobs]))).astype(np.int64)
        data = np.frombuffer(b"".join(blobs), dtype=np.uint8)
        counts, ts, vals = gorilla_decode_multi(data, offs)
        out["kernels.gorilla.decode_multi_points_per_s"] = \
            int(counts.sum()) / _per_call(lambda: gorilla_decode_multi(data, offs))
        base = np.cumsum(counts) - counts
        out.update(gorilla_encode_probe(
            [(ts[b:b + c], vals[b:b + c]) for b, c in zip(base, counts)]))
        return out


# --------------------------------------------------------------------------
# curate
# --------------------------------------------------------------------------

class Curate(Part):
    """The near-dedup and ANN registry queries over a seeded replica of
    the sf0.1 documents/embeddings tables."""
    name = "curate"

    def setup(self):
        from sen2rts_spark import queries, queries_docs
        ctx = self.ctx
        self.sf_dir = self.inputs(f"d{CURATE_DOCS}v{CURATE_VECS}", lambda d: inputs.build_docs(
            d, CURATE_DOCS, CURATE_VECS, ctx.seed))
        reg = queries.queries()
        # called through the module attribute so the traced run's wrappers apply
        self.fn_names = {q: reg[q].__name__ for q in CURATE_QUERIES}
        missing = [n for n in self.fn_names.values() if not hasattr(queries_docs, n)]
        if missing:
            raise RuntimeError(f"registry queries not in queries_docs: {missing}")
        self.results = {}

    def _query(self, name):
        from sen2rts_spark import queries_docs
        df = getattr(queries_docs, self.fn_names[name])(self.spark, self.sf_dir)
        with self.ctx.tracer.span("spark.collect"):
            self.results[name] = df.collect()

    def round(self):
        for q in CURATE_QUERIES:
            self.op(q, CURATE_DOCS / len(CURATE_QUERIES), lambda q=q: self._query(q))

    def check_outputs(self):
        from sen2rts_spark.operators.graph import cc_unconverged_edges
        labels = self.results["dedup_cluster"]
        rep = {r.doc_id: r.cluster_rep for r in labels}
        multi = {r.cluster_rep for r in labels if r.cluster_rep != r.doc_id}
        self.check("one label per doc; each cluster's rep is its least member",
                   len(labels) == CURATE_DOCS == len(rep)
                   and all(c <= d and rep.get(c) == c for d, c in rep.items()),
                   {"docs": len(rep), "clusters": len(multi)})
        lab = self.spark.createDataFrame(
            [(r.doc_id, r.cluster_rep) for r in labels], "doc_id long, cluster_rep long")
        edges = self.spark.createDataFrame(
            [(r.doc_a, r.doc_b) for r in self.results["minhash_lsh_candidates"]],
            "src long, dst long")
        self.unconverged = cc_unconverged_edges(lab, edges).first()[0]
        self.check("cc_unconverged_edges == 0", self.unconverged == 0, self.unconverged)
        self.ctx.info.update({f"rows.{q}": len(self.results[q]) for q in CURATE_QUERIES})

    def wrap_layers(self):
        from sen2rts_spark import queries_docs
        from sen2rts_spark.operators import graph
        t = self.ctx.tracer
        for q, fn in self.fn_names.items():
            t.wrap(queries_docs, fn, f"queries_docs.{q}")
        t.wrap(queries_docs, "q_minhash_signature", "queries_docs.minhash_signature")
        t.wrap(graph, "connected_components", "graph.connected_components")

    def layers(self):
        cc = [r for r in self.ctx.tracer.spans if r["name"] == "graph.connected_components"]
        return {"queries_docs.lsh_candidate_pairs":
                len(self.results["minhash_lsh_candidates"]),
                "graph.cc_stages": cc[-1]["spark"]["stages"] if cc else 0,
                "graph.cc_unconverged_edges": self.unconverged}


class Workload:
    """Parts run one after another, each round, on one session."""
    name = ""
    PARTS: tuple = ()
    THROUGHPUT: tuple = ()
    LATENCY: tuple = ()

    def __init__(self, ctx):
        self.parts = [p(ctx) for p in self.PARTS]

    def setup(self):
        for p in self.parts:
            p.setup()

    def round(self):
        for p in self.parts:
            p.round()

    def check_outputs(self):
        for p in self.parts:
            try:
                p.check_outputs()
            except Exception as exc:  # noqa: BLE001 — e.g. a failed op left no output
                p.check(f"{p.name} checks ran", False, repr(exc)[:500])

    def wrap_layers(self):
        for p in self.parts:
            p.wrap_layers()

    def layers(self) -> dict:
        return {k: v for p in self.parts for k, v in p.layers().items()}


class Codec(Workload):
    """Throughput: Gorilla points encoded per second (ingest passes and
    compaction). Latency: the store's window, re-aggregation and point
    reads."""
    name = "codec"
    PARTS = (Ingest, Store)
    THROUGHPUT = ("pass", "compact")
    LATENCY = ("read_window", "read_reagg", "read_point")


class Udf(Workload):
    """Throughput: pheno phase-1 series per second. Latency: the curate
    queries. The phase-2 fit shows in ``round_s``."""
    name = "udf"
    PARTS = (Pheno, Curate)
    THROUGHPUT = ("phase1",)
    LATENCY = CURATE_QUERIES


WORKLOADS = {w.name: w for w in (Codec, Udf)}


# --------------------------------------------------------------------------
# helpers
# --------------------------------------------------------------------------

def _same(a: dict, b: dict) -> bool:
    """Equal keys and counts; sums equal to 1e-9 relative (two plans may
    add the same points in another order)."""
    return a.keys() == b.keys() and all(
        a[k][0] == b[k][0] and abs(a[k][1] - b[k][1]) <= 1e-9 * max(1.0, abs(a[k][1]))
        for k in a)


def _last_rows(ctx, span_name: str) -> float:
    rows = [r.get("rows_out", 0) for r in ctx.tracer.spans if r["name"] == span_name]
    return rows[-1] if rows else 0


def _per_call(fn, min_s: float = 0.2) -> float:
    """Seconds per call of ``fn``, repeated for at least ``min_s``."""
    reps, t0 = 0, time.perf_counter()
    while reps < 3 or time.perf_counter() - t0 < min_s:
        fn()
        reps += 1
    return (time.perf_counter() - t0) / reps


def gorilla_encode_probe(slices) -> dict:
    """Scalar vs batched Gorilla encode on the same (ts_s, values) slices,
    microseconds per blob, called on the driver."""
    from sen2rts_spark.kernels.gorilla import gorilla_encode, gorilla_encode_multi
    slices = [(np.asarray(t, np.int64), np.asarray(v, np.float64))
              for t, v in slices if len(t)]
    ts = np.concatenate([s[0] for s in slices])
    vals = np.concatenate([s[1] for s in slices])
    starts = np.concatenate(([0], np.cumsum([len(s[0]) for s in slices])[:-1]))
    scalar = _per_call(lambda: [gorilla_encode(t, v) for t, v in slices])
    multi = _per_call(lambda: gorilla_encode_multi(ts, vals, starts))
    return {"kernels.gorilla.encode_scalar_us_per_blob": 1e6 * scalar / len(slices),
            "kernels.gorilla.encode_multi_us_per_blob": 1e6 * multi / len(slices)}


def series_kernel_probe(w: Pheno) -> dict:
    """smooth/fill/cut kernels called on the driver, on the sampled ids'
    rows of each kernel's input stage (obs, smoothed, filled), with the
    operators' arguments; milliseconds per series."""
    import datetime as dt

    from sen2rts_spark.kernels import cycles, series
    epoch = dt.date(1970, 1, 1)
    keep = F.col("id").isin(w.sample_ids)

    def groups(df):
        return [g.sort_values("date") for _, g in df.filter(keep).toPandas().groupby("id")]
    obs = groups(w.obs)
    smoothed = groups(w.catalog.read_stage("smoothed").drop("bucket"))
    filled = groups(w.catalog.read_stage("filled").drop("bucket"))

    def days(s):
        return np.array([(d - epoch).days for d in s], dtype=np.int64)

    def smooth_all():
        for g in obs:
            series.smooth_series(days(g["date"]), g["value"].to_numpy(float),
                                 g["qa"].to_numpy(float), g["sensor"].to_numpy(object),
                                 g["orbit"].to_numpy(object))

    def fill_all():
        for g in smoothed:
            series.fill_series(days(g["date"]), g["value"].to_numpy(float),
                               g["sensor"].to_numpy(object), g["orbit"].to_numpy(object),
                               passthrough={"qa": g["qa"].to_numpy(object),
                                            "rawval": g["rawval"].to_numpy(object)})

    def cut_all():
        for g in filled:
            cycles.cut_cycles_series(days(g["date"]), g["value"].to_numpy(float))

    return {"kernels.series.smooth_ms_per_series": 1e3 * _per_call(smooth_all) / len(obs),
            "kernels.series.fill_ms_per_series": 1e3 * _per_call(fill_all) / len(smoothed),
            "kernels.cycles.cut_ms_per_series": 1e3 * _per_call(cut_all) / len(filled)}
