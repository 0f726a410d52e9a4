"""Batched grouped-map: ``applyInPandas`` semantics, one Python call per
Arrow batch.

``groupBy().applyInPandas`` dispatches one Python call + one Arrow batch per
GROUP — with millions of small series (~100s of rows each) the per-group
overhead dominates (measured ~9 ms/group vs ~0.6 ms of real work for the
Gorilla encoder). ``grouped_apply`` partitions on the group keys, sorts
within partitions and walks the Arrow batches of one ``mapInArrow`` stream
with ``arrow_runs``: each batch of whole runs is converted to pandas once,
``fn`` is called on each run's slice, and the results go back as one Arrow
batch per input batch.

Placement: hash partitioning by default, at ``engine_width``, one task
per core. It suits kernels whose cost follows the row count (smooth, fill,
cut_cycles, the pair kernels), where a task is mostly fixed cost: worker
dispatch and Arrow conversion, ~75 ms of task time for a trivial Python
task against ~14 ms for a JVM one (4 vCPU), so more, smaller tasks only
add overhead. Hashed on ``id``, the exchange is ``pmod(murmur3(id), n)``,
the same hash as the catalog's ``bucket = pmod(hash(id), 32)``: when ``n``
divides the bucket count, every bucket's rows share one task, and a stage
commit downstream writes one file per bucket. Operators whose cost is per
group and large, the curve fits, ask for range partitioning instead, at
``partition_count``. Its bounds come from a row sample, so while groups of
similar size number no more than the partitions, each group gets a
partition of its own: a handful of cycles run in as many tasks instead of
sharing a hash bucket.

Correctness: either partitioning colocates each group in one partition;
sortWithinPartitions makes each group a contiguous run; ``arrow_runs``
hands each run over whole, exactly once, whatever the batch boundaries.
``fn`` sees what ``applyInPandas`` passes it: dates as ``datetime.date``,
timestamps as naive session-time-zone ``datetime64[ns]``, and returned
naive timestamps are read in the session time zone. Output equals
``applyInPandas`` (tested), except that a lossy cast of a returned value
raises where Spark's default casts unsafely. As in ``mapInPandas``, a
column's pandas dtype follows its Arrow batch: an integer column with a
null anywhere in the batch arrives as float64.

``run_starts`` is the one run-boundary rule and ``arrow_runs`` the one run
walker: the Gorilla sink and compaction use it on Arrow columns directly.
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import (
    _check_series_convert_timestamps_internal,
    _check_series_localize_timestamps, to_arrow_schema)
from pyspark.sql.types import StructType

__all__ = ["grouped_apply", "run_starts", "arrow_runs", "partition_count",
           "engine_width"]

# 3 tasks/core (standard sizing) for the stages that keep it: straggler and
# steal mitigation where a task's cost is its own work, not its dispatch.
# A range placement's sampled bounds also give a handful of cycles a task
# each only with spare partitions: with the fits at 1/core, perfbench's
# traced extract_pheno (4 cycles, 4 vCPU) took 4.41 s against 3.89 s
# (median of 3).
_PARTS_PER_CORE = 3


def engine_width(spark) -> int:
    """One task per core (``defaultParallelism``): the width of the grouped
    kernels' hash placement and of ``queries.spread``. A numbered
    repartition plans as ``REPARTITION_BY_NUM``, which AQE does not
    coalesce."""
    return spark.sparkContext.defaultParallelism


def partition_count(spark) -> int:
    """3 tasks per core: the range-placed fits of ``grouped_apply``,
    ``extract_obs``'s ingest exchange, the Gorilla sink and compaction."""
    return _PARTS_PER_CORE * engine_width(spark)


def grouped_apply(df: DataFrame, keys: list[str], fn: Callable, schema: str,
                  order: list[str] | None = None,
                  by_range: bool = False) -> DataFrame:
    """Apply ``fn(pdf) -> pdf`` once per distinct ``keys`` group.

    ``order``: optional within-group sort columns (groups arrive to ``fn``
    sorted by ``keys + order``). ``by_range``: range-partition on ``keys``
    instead of hashing them, for kernels whose cost is per group rather
    than per row (module docstring). ``fn`` may return None or an empty
    frame for a group that yields no rows.
    """
    spark = df.sparkSession
    arranged = (df.repartitionByRange(partition_count(spark), *keys)
                if by_range else df.repartition(engine_width(spark), *keys)) \
        .sortWithinPartitions(*(keys + (order or [])))
    out_schema = to_arrow_schema(StructType.fromDDL(schema))
    # resolved with the plan, as Catalyst resolves its time-zone-aware casts
    tz = spark.conf.get("spark.sql.session.timeZone")
    ts_out = [f.name for f in out_schema
              if pa.types.is_timestamp(f.type) and f.type.tz]

    def _stream(batches):
        for batch, starts in arrow_runs(batches, keys):
            pdf = batch.to_pandas(date_as_object=True,
                                  coerce_temporal_nanoseconds=True)
            for f in batch.schema:
                if pa.types.is_timestamp(f.type) and f.type.tz:
                    pdf[f.name] = _check_series_localize_timestamps(
                        pdf[f.name], tz)
            ends = np.append(starts[1:], len(pdf))
            outs = [out for out in (fn(pdf.iloc[s:e])
                                    for s, e in zip(starts, ends))
                    if out is not None and len(out)]
            if not outs:
                continue
            out = outs[0] if len(outs) == 1 else \
                pd.concat(outs, ignore_index=True)
            if ts_out:
                out = out.assign(**{
                    c: _check_series_convert_timestamps_internal(out[c], tz)
                    for c in ts_out})
            yield pa.RecordBatch.from_pandas(out, schema=out_schema,
                                             preserve_index=False)

    return arranged.mapInArrow(_stream, schema=schema)


def run_starts(cols) -> np.ndarray:
    """First row of each run of equal values across the equal-length key
    columns ``cols`` (Arrow arrays, or anything ``np.asarray`` takes).

    As in a Spark ``GROUP BY``, two nulls are equal and so are two NaNs.
    Arrow nulls are told apart from NaNs by their validity; after
    ``np.asarray`` both read as NaN (or NaT, or None).
    """
    change = np.zeros(len(cols[0]), dtype=bool)
    change[:1] = True
    for col in cols:
        if isinstance(col, (pa.Array, pa.ChunkedArray)) and col.null_count:
            null = np.asarray(col.is_null())
            change[1:] |= null[1:] != null[:-1]
        col = np.asarray(col)
        diff = col[1:] != col[:-1]
        if col.dtype.kind in "fcmM":  # NaN and NaT differ from themselves
            na = pd.isna(col)
            diff &= ~(na[1:] & na[:-1])
        change[1:] |= diff
    return np.flatnonzero(change)


def arrow_runs(batches, keys: list[str]):
    """Walk key-sorted Arrow record batches as whole runs of equal ``keys``.

    Yields ``(batch, starts)``: ``batch`` holds only complete runs and
    ``starts`` is each run's first row. The last run of every input batch
    is held back and prepended to the next, so a run that straddles batch
    boundaries comes out whole, exactly once. Empty batches are skipped.
    """
    carry = None
    for batch in batches:
        if batch.num_rows == 0:
            continue
        if carry is not None:
            batch = pa.Table.from_batches([carry, batch]) \
                .combine_chunks().to_batches()[0]
        starts = run_starts([batch.column(k) for k in keys])
        if len(starts) > 1:
            yield batch.slice(0, starts[-1]), starts[:-1]
        carry = batch.slice(starts[-1])
    if carry is not None:
        yield carry, np.zeros(1, dtype=np.int64)
