"""Batched grouped-map: one Python call per Arrow batch, numpy columns in
and out.

``groupBy().applyInPandas`` dispatches one Python call + one Arrow batch per
GROUP — with millions of small series (~100s of rows each) the per-group
overhead dominates (measured ~9 ms/group vs ~0.6 ms of real work for the
Gorilla encoder). ``grouped_apply`` partitions on the group keys, sorts
within partitions and walks the Arrow batches of one ``mapInArrow`` stream
with ``arrow_runs``: each column of a batch of whole runs becomes a numpy
array once, ``fn`` is called on each run's slices, and the results go back
as one Arrow batch per input batch.

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

The kernel contract: ``fn`` gets one run as a dict of column name → numpy
slice. Nulls read as ``mapInPandas`` reads them: floats carry NaN; an
integer column with a null anywhere in its Arrow batch arrives as float64
with NaN; strings, lists and booleans with a null arrive as object arrays
with ``None``. Temporal columns cross as integers, with no time-zone step:
a date as int days since 1970-01-01, a timestamp as int µs since the epoch
(UTC). ``fn`` returns a dict of equal-length columns, one per output field
(a date field takes int days, a timestamp field int µs), or None or an
empty result for a group with no rows. NaN and None in a returned column
are NULL; a lossy cast of a returned value (1.5 into an int field) raises.

``run_starts`` is the one run-boundary rule and ``arrow_runs`` the one run
walker: the Gorilla sink and compaction use it on Arrow columns directly.
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema
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
    """Apply ``fn(run) -> columns`` once per distinct ``keys`` group, with
    ``run`` and ``columns`` dicts of numpy columns (module docstring).

    ``order``: optional within-group sort columns (groups arrive to ``fn``
    sorted by ``keys + order``). ``by_range``: range-partition on ``keys``
    instead of hashing them, for kernels whose cost is per group rather
    than per row (module docstring).
    """
    spark = df.sparkSession
    arranged = (df.repartitionByRange(partition_count(spark), *keys)
                if by_range else df.repartition(engine_width(spark), *keys)) \
        .sortWithinPartitions(*(keys + (order or [])))
    out_schema = to_arrow_schema(StructType.fromDDL(schema))

    def _stream(batches):
        for batch, starts in arrow_runs(batches, keys):
            cols = {name: _numpy(col)
                    for name, col in zip(batch.schema.names, batch.columns)}
            ends = np.append(starts[1:], batch.num_rows)
            outs = [out for out in (fn({k: v[s:e] for k, v in cols.items()})
                                    for s, e in zip(starts, ends))
                    if out and len(next(iter(out.values())))]
            if outs:
                yield pa.RecordBatch.from_arrays(
                    [_arrow(np.concatenate([o[f.name] for o in outs]), f.type)
                     for f in out_schema], schema=out_schema)

    return arranged.mapInArrow(_stream, schema=schema)


def _storage(typ: pa.DataType) -> pa.DataType:
    """The type a column crosses ``grouped_apply`` as: a date as int32
    days, a timestamp as int64 µs, any other type as itself."""
    if pa.types.is_date32(typ):
        return pa.int32()
    return pa.int64() if pa.types.is_timestamp(typ) else typ


def _numpy(col: pa.Array) -> np.ndarray:
    """One Arrow column as ``fn`` reads it; nulls as NaN or None."""
    return col.cast(_storage(col.type)).to_numpy(zero_copy_only=False)


def _arrow(values, typ: pa.DataType) -> pa.Array:
    """One returned column as an Arrow array of ``typ``; NaN and None
    are NULL."""
    return pa.array(values, _storage(typ), from_pandas=True).cast(typ)


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
            na = np.isnat(col) if col.dtype.kind in "mM" else np.isnan(col)
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
