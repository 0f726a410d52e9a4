"""Seeded input generators for the four workload parts, cached per
(part, seed, size) under ``.perfbench_cache/`` in the checkout.

Every generator here belongs to the benchmark, not to the program: a change
to ``sen2rts_spark.sources`` cannot change what the benchmark feeds in. The
same seed gives the same rows; the sizes are fixed per workload so that two
seeds do the same amount of work up to sampling noise.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F

from . import host

CACHE_DIR = ".perfbench_cache"

_START_DAY = 18263  # 2020-01-02, epoch days
_N_SLOTS = 200      # 5-day revisit slots: ~2.7 years per series


def cached(root: str, workload: str, seed: int, size: str, build):
    """Inputs of (workload, seed, size), built by ``build(dir)`` on first
    use. Returns (directory, build seconds as ``host.Interval.s``, cache
    hit). The ``_DONE``
    marker holds the build seconds and makes a half-written directory
    (killed run) count as absent."""
    path = os.path.join(root, CACHE_DIR, "inputs", f"{workload}-s{seed}-{size}")
    done = os.path.join(path, "_DONE")
    if os.path.exists(done):
        with open(done) as f:
            return path, float(f.read()), True
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    with host.Interval() as t:
        build(path)
    with open(done, "w") as f:
        f.write(repr(t.s))
    return path, t.s, False


def _h(seed: int, *cols):
    """Seeded non-negative hash (xxhash64 with the seed as first input)."""
    return F.abs(F.xxhash64(F.lit(seed), *cols))


def _slots(spark, n_ids: int, seed: int, parts: int):
    """(u, slot, src, orbit, day, sensor) on the 5-day cadence of one of
    five crawl sources, with ~20 % of slots missing."""
    df = spark.range(0, n_ids * _N_SLOTS, numPartitions=parts).select(
        (F.col("id") / _N_SLOTS).cast("long").alias("u"),
        F.pmod(F.col("id"), F.lit(_N_SLOTS)).cast("int").alias("slot"))
    df = df.withColumn("src", F.pmod(F.col("u"), F.lit(5)).cast("int"))
    start = F.lit(_START_DAY) + F.pmod(F.col("src") - F.lit(_START_DAY), F.lit(5))
    df = df.select(
        "u", "slot", "src",
        F.lpad((F.col("src") * 11).cast("string"), 3, "0").alias("orbit"),
        (start + F.col("slot") * 5).cast("long").alias("day"))
    df = df.withColumn(
        "sensor",
        F.when(F.pmod(F.col("day"), F.lit(10)) == F.col("src"), "2A")
        .otherwise("2B"))
    return df.filter(F.pmod(_h(seed, "u", "slot"), F.lit(100)) >= 20)


def _season(seed: int):
    """Double-logistic seasonal value with a seeded per-series phase and
    amplitude plus seeded noise (the vegetation-index analogue)."""
    doy = F.pmod(F.col("day"), F.lit(365)).cast("double")
    phase = (F.pmod(_h(seed, F.col("u") + 17), F.lit(60)) - 30).cast("double")
    amp = F.lit(0.55) + F.pmod(_h(seed, "u", F.lit(3)), F.lit(40)) / 100.0
    noise = (F.pmod(_h(seed, "u", "slot", F.lit(7)), F.lit(2001)) - 1000) / 20000.0
    return (F.lit(0.08)
            + amp / (F.lit(1.0) + F.exp(-(doy - 110.0 - phase) / F.lit(12.0)))
            - amp / (F.lit(1.0) + F.exp(-(doy - 250.0 - phase) / F.lit(18.0)))
            + noise)


def _qroll(seed: int):
    return F.pmod(_h(seed, "u", "slot", F.lit(13)), F.lit(100))


def build_pages(spark, path: str, n_urls: int, seed: int, parts: int) -> None:
    """pages(url, warc_ts, html, text, lang) in the ``sources.pages`` shape:
    half the urls on one hot domain, 3 % of fetches re-crawled an hour
    later, the page text carrying source/sensor/class/cld/ndvi fields."""
    df = _slots(spark, n_urls, seed, parts)
    dom = F.when(F.pmod(F.col("u"), F.lit(10)) < 5, F.lit(0)) \
        .otherwise(F.pmod(F.col("u"), F.lit(10)).cast("int"))
    q = _qroll(seed)
    qclass = (F.when(q < 45, 4).when(q < 60, 5).when(q < 68, 6).when(q < 76, 7)
              .when(q < 84, 8).when(q < 90, 9).when(q < 94, 10).when(q < 97, 3)
              .when(q < 99, 2).otherwise(0))
    df = df.select(
        "u", "slot", "orbit", "sensor", "day",
        F.concat(F.lit("https://d"), dom.cast("string"),
                 F.lit(f".example.org/s{seed}/page/"),
                 F.col("u").cast("string")).alias("url"),
        F.element_at(F.array(*[F.lit(x) for x in ("en", "it", "de", "fr")]),
                     (F.pmod(_h(seed, "u"), F.lit(4)) + 1).cast("int")).alias("lang"),
        F.round(_season(seed), 6).alias("metric"),
        qclass.alias("qclass"),
        F.pmod(_h(seed, "u", "slot", F.lit(23)), F.lit(101)).alias("cld"),
        F.timestamp_seconds(F.col("day") * 86400 + F.pmod(
            _h(seed, "u", "slot", F.lit(31)), F.lit(86400))).alias("warc_ts"))
    dups = df.filter(F.pmod(_h(seed, "u", "slot", F.lit(41)), F.lit(100)) < 3) \
        .withColumn("warc_ts", F.col("warc_ts") + F.expr("INTERVAL 1 HOUR"))
    df = df.unionByName(dups)
    filler = F.repeat(F.lit("lorem ipsum dolor sit amet "),
                      (F.pmod(_h(seed, "u", "slot", F.lit(61)), F.lit(4)) + 1).cast("int"))
    text = F.concat_ws(
        " ",
        F.concat(F.lit("lang="), F.col("lang")),
        F.concat(F.lit("source="), F.col("orbit")),
        F.concat(F.lit("sensor="), F.col("sensor")),
        F.concat(F.lit("class="), F.col("qclass").cast("string")),
        F.concat(F.lit("cld="), F.col("cld").cast("string")),
        F.concat(F.lit("ndvi="), F.format_number(F.col("metric"), 6)),
        filler)
    html = F.encode(F.concat(F.lit("<html><head><title>"), F.col("url"),
                             F.lit("</title></head><body><p>"), F.col("text"),
                             F.lit("</p></body></html>")), "UTF-8")
    df.withColumn("text", text).select("url", "warc_ts", html.alias("html"),
                                       "text", "lang") \
        .write.parquet(os.path.join(path, "pages"))


def build_obs(spark, path: str, n_series: int, seed: int, parts: int) -> None:
    """obs_raw(id, date, orbit, sensor, value, qa): the per-url series the
    paper's chain starts from. ~15 % of observations are cloudy (low qa and
    a value pulled down), the shape ``smooth``'s qa filter and low-noise
    spike removal exist for."""
    df = _slots(spark, n_series, seed, parts)
    q = _qroll(seed)
    cloudy = q >= 85
    qa = F.when(cloudy, F.lit(0.1)).when(q >= 75, F.lit(0.33)).otherwise(F.lit(1.0))
    value = F.when(cloudy, _season(seed) * 0.3).otherwise(_season(seed))
    df.select(
        F.concat(F.lit(f"s{seed}-"), F.col("u").cast("string")).alias("id"),
        F.date_from_unix_date(F.col("day").cast("int")).alias("date"),
        "orbit", "sensor", F.round(value, 6).alias("value"), qa.alias("qa")) \
        .repartition(parts).write.parquet(os.path.join(path, "obs"))


_HOUR = 3600
_TIER_T0 = 1578268800  # 2020-01-06 00:00 UTC, epoch seconds
_BLOB_TYPE = pa.schema([
    ("id", pa.string()), ("tier", pa.string()),
    ("chunk_start", pa.timestamp("us", tz="UTC")), ("blob", pa.binary()),
    ("count", pa.int32()), ("min_ts", pa.timestamp("us", tz="UTC")),
    ("max_ts", pa.timestamp("us", tz="UTC")),
])


def _blob_table(ids, ts, vals, chunk_s: int, label_s: int) -> pa.Table:
    """Hourly Gorilla blobs, one per (id, ``chunk_s`` window), labelled
    with the ``label_s`` window start: the sink's blob table. ``ts``/``vals``
    are (ids × hours) arrays; encoding is the program's batched kernel."""
    from sen2rts_spark.kernels.gorilla import gorilla_encode_multi
    n_ids, n = ts.shape
    chunk = ts // chunk_s
    starts = [np.flatnonzero(np.concatenate(([True], chunk[i, 1:] != chunk[i, :-1])))
              for i in range(n_ids)]
    counts = np.concatenate([np.diff(np.append(s, n)) for s in starts])
    first = np.concatenate([i * n + s for i, s in enumerate(starts)])
    data, offs = gorilla_encode_multi(ts.ravel(), vals.ravel(), first)
    last = first + counts - 1
    flat_ts = ts.ravel()
    us = 1_000_000
    return pa.table([
        pa.array(np.repeat(np.asarray(ids, dtype=object), [len(s) for s in starts])),
        pa.array(["hourly"] * len(first)),
        pa.array(flat_ts[first] // label_s * label_s * us, _BLOB_TYPE.field("chunk_start").type),
        pa.array([data[offs[g]:offs[g + 1]].tobytes() for g in range(len(first))], pa.binary()),
        pa.array(counts, pa.int32()),
        pa.array(flat_ts[first] * us, _BLOB_TYPE.field("min_ts").type),
        pa.array(flat_ts[last] * us, _BLOB_TYPE.field("max_ts").type),
    ], schema=_BLOB_TYPE)


def build_store(spark, path: str, n_ids: int, seed: int, parts: int) -> None:
    """A year of hourly points per id (52 weeks: seeded phase, amplitude
    and quantized noise on a daily sine with a slow trend), stored twice:
    as weekly blobs committed through the Catalog (``<path>/catalog``,
    table ``weekly``) and as daily micro-fragments relabelled to 28-day
    chunks (``<path>/frag``, ``parts`` files) — what a year of daily
    appends leaves for compaction."""
    from sen2rts_spark.sources.catalog import Catalog
    rng = np.random.default_rng(seed)
    hours = np.arange(52 * 7 * 24)
    phase = rng.integers(0, 360, n_ids)[:, None]
    amp = 1.0 + rng.integers(0, 100, n_ids)[:, None] / 50.0
    noise = rng.integers(0, 64, (n_ids, len(hours))) / 1000.0
    vals = amp * np.sin((hours + phase) / 24.0) + hours / 1e4 + noise
    ts = np.broadcast_to(_TIER_T0 + hours * _HOUR, vals.shape)
    ids = [f"url-s{seed}-{i}" for i in range(n_ids)]
    weekly_dir = os.path.join(path, "weekly_src")
    os.makedirs(weekly_dir)
    pq.write_table(_blob_table(ids, ts, vals, 7 * 86400, 7 * 86400),
                   os.path.join(weekly_dir, "part-0.parquet"))
    Catalog(spark, os.path.join(path, "catalog")).write_stage(
        spark.read.parquet(weekly_dir), "weekly")
    frag = _blob_table(ids, ts, vals, 86400, 28 * 86400)
    frag = frag.take(rng.permutation(frag.num_rows))
    os.makedirs(os.path.join(path, "frag"))
    step = -(-frag.num_rows // parts)
    for k in range(parts):
        pq.write_table(frag.slice(k * step, step),
                       os.path.join(path, "frag", f"part-{k}.parquet"))


_VOCAB = ("spark window merge table column vector stream value data small "
          "join filter big group hash customer sort order slow line part "
          "fast row the agg key query a scan batch").split()


def build_docs(path: str, n_docs: int, n_vecs: int, seed: int) -> None:
    """documents(doc_id, text, lang, source, n_chars) and
    embeddings(vec_id, embedding, label) in the shape of the sf0.1 tables:
    random texts over a 31-word vocabulary, 5 % near-duplicates (a copy of
    an earlier document plus one token), unit-norm 64-d float32 vectors in
    10 labels. Written as one file with one row group, like the sf0.1
    tables."""
    rng = np.random.default_rng(seed)
    vocab = np.array(_VOCAB)
    n_dup = n_docs // 20
    texts = [" ".join(vocab[rng.integers(0, len(vocab), int(n))])
             for n in rng.integers(8, 97, n_docs - n_dup)]
    src_of_dup = rng.integers(0, len(texts), n_dup)
    texts += [texts[i] + " dup" for i in src_of_dup]
    order = rng.permutation(n_docs)
    texts = [texts[i] for i in order]
    langs = np.array(["en", "en", "zh", "es", "fr", "de"])[rng.integers(0, 6, n_docs)]
    docs = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(docs, os.path.join(path, "documents.parquet"))
    v = rng.standard_normal((n_vecs, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    emb = pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32()),
    })
    pq.write_table(emb, os.path.join(path, "embeddings.parquet"))
