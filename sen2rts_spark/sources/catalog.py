"""Storage layout, per-partition lineage, and checkpoint/resume.

Production layout (north rule): Iceberg tables partitioned by
``bucket(N, url)`` + ``days(warc_ts)``; every stage commit is an Iceberg
snapshot and resume reads the last snapshot's lineage. This sandbox has no
Iceberg runtime jar, so the SAME layout is emulated with parquet:

- each stage table lives at ``<root>/<table>/bucket=<b>/…`` where
  ``b = pmod(hash(id), n_buckets)`` — Spark's ``hash()`` is Murmur3-x86-32,
  the same hash family as Iceberg's ``bucket`` transform, so the layout (and
  the skew behaviour) carries over 1:1;
- a commit appends one lineage row per bucket to ``<root>/_lineage`` with
  rows_out / wall_ms / status — the snapshot analogue;
- ``resume=True`` recomputes ONLY buckets missing from lineage (the
  anti-join resume of SURVEY.md §4.3) and appends them; a killed run
  restarted this way produces byte-identical table contents (tested).

The exact Iceberg DDL for the production path is in docs/ICEBERG.sql.
"""

from __future__ import annotations

import os
import shutil
import time
import uuid

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

__all__ = ["Catalog"]

LINEAGE_SCHEMA = ("stage string, bucket int, rows_out bigint, wall_ms bigint, "
                  "run_id string, committed_at timestamp, status string")
LINEAGE_COLS = [f.split()[0] for f in LINEAGE_SCHEMA.split(", ")]


class Catalog:
    def __init__(self, spark: SparkSession, root: str, n_buckets: int = 32):
        self.spark = spark
        self.root = root
        self.n_buckets = n_buckets
        os.makedirs(root, exist_ok=True)

    # -- paths -------------------------------------------------------------
    def table_path(self, table: str) -> str:
        return os.path.join(self.root, table)

    @property
    def lineage_path(self) -> str:
        return os.path.join(self.root, "_lineage")

    # -- lineage -----------------------------------------------------------
    def lineage(self) -> DataFrame:
        try:
            return self.spark.read.parquet(self.lineage_path)
        except Exception:  # noqa: BLE001 — empty catalog
            return self.spark.createDataFrame([], LINEAGE_SCHEMA)

    def completed_buckets(self, stage: str) -> list[int]:
        lin = self.lineage().filter((F.col("stage") == stage)
                                    & (F.col("status") == "ok"))
        return sorted(r["bucket"] for r in lin.select("bucket").distinct().collect())

    # -- write / resume ----------------------------------------------------
    def write_stage(self, df: DataFrame, table: str, id_col: str = "id",
                    resume: bool = False,
                    only_buckets: list[int] | None = None) -> dict:
        """Commit a stage table bucketed by murmur3(id).

        ``resume=True`` skips buckets already recorded ok in lineage.
        ``only_buckets`` restricts the write (used to simulate a mid-stage
        kill in tests). Returns {written_buckets, rows}.
        """
        bucketed = df.withColumn(
            "bucket", F.pmod(F.hash(F.col(id_col)), F.lit(self.n_buckets)))
        todo = None
        if resume:
            done = set(self.completed_buckets(table))
            todo = [b for b in range(self.n_buckets) if b not in done]
            if not todo:
                return {"written_buckets": [], "rows": 0}
            bucketed = bucketed.filter(F.col("bucket").isin(todo))
        if only_buckets is not None:
            bucketed = bucketed.filter(F.col("bucket").isin(only_buckets))
            todo = sorted(only_buckets) if todo is None else \
                sorted(set(todo) & set(only_buckets))

        before = self._bucket_file_sets(table)
        t0 = time.time()
        # Dynamic partition overwrite makes a bucket re-write idempotent: a
        # crash between the data commit and the lineage commit is repaired by
        # resume redoing the bucket (replacing, never duplicating, its files) —
        # the Iceberg-snapshot analogue of atomic replace.
        bucketed.write.mode("overwrite").partitionBy("bucket") \
            .option("partitionOverwriteMode", "dynamic") \
            .parquet(self.table_path(table))
        wall_ms = int((time.time() - t0) * 1000)

        # Lineage counts come from the COMMITTED files, not a re-evaluation of
        # the (possibly non-deterministic) upstream plan: data + lineage then
        # describe the same materialized result. Replaced partitions are
        # derived from the WRITE ITSELF — the per-bucket file-name set diff
        # around the write (Spark names every part file with a fresh job/task
        # UUID, so a replaced bucket always changes its set; an untouched one
        # never does). No wall-clock/mtime involved: immune to coarse mtime
        # granularity and executor clock skew (round-3 ADVICE — the mtime
        # heuristic could silently rmtree a bucket written this run). This is
        # the snapshot-file-list diff an Iceberg commit gives for free.
        candidates = set(todo if todo is not None else range(self.n_buckets))
        after = self._bucket_file_sets(table)
        fresh = {b for b, names in after.items()
                 if names != before.get(b, frozenset())}
        written_now = sorted(candidates & fresh)
        # Candidate buckets with no data this run: drop any stale prior-run
        # partition (upstream no longer produces it — overwrite semantics)
        # and commit an explicit rows_out=0 row, so resume doesn't re-run an
        # empty bucket forever and stale files are never recorded as current.
        empty_now = sorted(candidates - fresh)
        for b in empty_now:
            p = os.path.join(self.table_path(table), f"bucket={b}")
            if os.path.isdir(p):
                shutil.rmtree(p)
        written = []
        if written_now:
            written = self.spark.read.parquet(self.table_path(table)) \
                .filter(F.col("bucket").isin(written_now)) \
                .groupBy("bucket").agg(F.count(F.lit(1)).alias("rows_out")) \
                .collect()
        run_id = uuid.uuid4().hex[:12]
        rows = [(table, int(r["bucket"]), int(r["rows_out"]), wall_ms,
                 run_id, None, "ok") for r in written]
        rows += [(table, int(b), 0, wall_ms, run_id, None, "ok")
                 for b in empty_now]
        if rows:
            # a pandas frame goes through Arrow into a local relation: no
            # Python task runs (a list would be parallelized into
            # defaultParallelism Python tasks), and the commit is one file
            lin = self.spark.createDataFrame(
                pd.DataFrame(rows, columns=LINEAGE_COLS), LINEAGE_SCHEMA) \
                .withColumn("committed_at", F.current_timestamp())
            lin.coalesce(1).write.mode("append").parquet(self.lineage_path)
        return {"written_buckets": sorted(int(r["bucket"]) for r in written),
                "rows": sum(int(r["rows_out"]) for r in written)}

    def _bucket_file_sets(self, table: str) -> dict[int, frozenset]:
        """bucket -> frozenset of data-file names, from the filesystem
        (bounded: n_buckets directories; the Iceberg analogue reads the
        snapshot's file list instead). Buckets with zero data files are
        omitted so an empty dir equals an absent one in the write diff."""
        base = self.table_path(table)
        out: dict[int, frozenset] = {}
        if not os.path.isdir(base):
            return out
        for d in os.listdir(base):
            if not d.startswith("bucket="):
                continue
            p = os.path.join(base, d)
            names = frozenset(f for f in os.listdir(p)
                              if not f.startswith(("_", ".")))
            if names:
                out[int(d.split("=", 1)[1])] = names
        return out

    def read_stage(self, table: str) -> DataFrame:
        return self.spark.read.parquet(self.table_path(table))

    def read_point(self, table: str, id_value, id_col: str = "id") -> DataFrame:
        """Point lookup: one id's rows, reading ONLY its bucket partition.

        The filter ``bucket = pmod(hash(lit(id)), N)`` is constant-folded by
        Catalyst and becomes a partition filter on the scan (asserted in
        tests/test_catalog_resume.py::test_point_lookup_prunes_partitions),
        so a single-series read touches 1/n_buckets of the store's files no
        matter how large the table is — the key-axis complement of the
        min_ts/max_ts envelope prune on the time axis
        (tier_read_window_prune). This is the Iceberg read pattern for a
        bucket-transform-partitioned table: predicate on the bucketed
        column prunes to its bucket's manifests.

        ``id_value`` must carry the SAME Spark type as the table's id
        column (murmur3 hashes of e.g. '7' and 7 differ, so a mistyped
        literal lands in the wrong bucket and returns empty).
        """
        return (self.read_stage(table)
                .filter(F.col("bucket") == F.pmod(
                    F.hash(F.lit(id_value)), F.lit(self.n_buckets)))
                .filter(F.col(id_col) == F.lit(id_value)))

    def metrics(self) -> DataFrame:
        """Per-stage counters: buckets, rows, wall time (the north rule's
        per-partition lineage rows + counters)."""
        return self.lineage().groupBy("stage").agg(
            F.countDistinct("bucket").alias("buckets"),
            F.sum("rows_out").alias("rows"),
            F.max("wall_ms").alias("max_wall_ms"))
