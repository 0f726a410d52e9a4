"""Build a larger perf-validation replica of a driver testdata dir.

The driver's round-end bench may run at a larger, driver-generated scale
factor than the local /root/testdata dirs (BENCH_r08 recorded sf=1.0), so
optimizations must be validated beyond sf0.1. This tool scales a source dir
by an integer factor K with structure-preserving remaps — NOT a copy of the
driver's generator, so it is for PERFORMANCE validation only (correctness
stays gated on the real sf0.001/0.01/0.1 oracles):

- region/nation: copied (dimension tables).
- keyed tables (customer/supplier/part/orders/lineitem/events): K copies,
  every key/foreign-key offset by copy*stride so referential integrity and
  per-group sizes match the source; group COUNTS scale by K (linear scaling,
  like a real larger dataset).
- embeddings: vec_id offset; label offset by copy*stride so LSH/label cells
  keep their source size and total candidate pairs scale by K (offsetting
  only vec_id would duplicate every cell K times in place and grow pairs by
  K^2 — a quadratic blowup the driver's generator does not have).
- documents: doc_id offset; every alnum token in copy i>0 gets suffix
  ``zz<i>`` so cross-copy shingle/minhash matches vanish while within-copy
  near-dup structure is bit-for-bit the source's (each gram maps 1:1).

Output row groups are written at ~row-count/K per group (the source ships
ONE row group per table; keeping that shape at K x rows would make scan
parallelism worse than the driver's own larger-sf layout, not better).

Two scaling models (4th arg, default ``linear``):

- ``linear``: label offset + doc token salt as above — group/cell COUNTS
  scale by K, cell sizes stay the source's. Right model for validating
  kernel-stage scaling without pair blowup.
- ``quadratic``: only keys are offset; labels, LSH-relevant text and the
  embedding vectors are copied verbatim, so (label, bucket) and band cells
  grow by K and candidate-pair counts by ~K^2 — the driver's own sf1.0
  shape (BENCH_r08: 1.25 M dedup pairs vs ~12.5 k at sf0.1). Row groups are
  left to the writer's default (the driver's small tables ship as one row
  group, which is what the input-spread work compensates for).

Usage: python tools/make_sf_replica.py [K] [src_dir] [dst_dir] [model]
Defaults: K=10, src=/root/testdata/sf0.1, dst=/root/repo/.bench_cache/sf1.0
"""

from __future__ import annotations

import os
import re
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

_WORD = re.compile(r"[A-Za-z0-9]+")


def _salt_text(text: str, salt: str) -> str:
    return _WORD.sub(lambda m: m.group(0) + salt, text)


def _offset(col: pa.ChunkedArray, delta: int) -> pa.ChunkedArray:
    return pc.add(col, pa.scalar(delta, type=col.type))


# foreign key -> (referenced table, its key): a foreign key is offset by the
# referenced key's stride so copy i's rows still point into copy i
_FK_REF = {"o_custkey": ("customer", "c_custkey"),
           "l_orderkey": ("orders", "o_orderkey"),
           "l_partkey": ("part", "p_partkey"),
           "l_suppkey": ("supplier", "s_suppkey")}


def _stride(src: str, table: str, col: str) -> int:
    t = pq.read_table(os.path.join(src, f"{table}.parquet"), columns=[col])
    return pc.max(t.column(col)).as_py() + 1


def replicate(src: str, dst: str, k: int, model: str = "linear") -> None:
    os.makedirs(dst, exist_ok=True)
    plans = {
        # table -> columns to offset by copy*stride (stride = max+1 per col)
        "customer": ["c_custkey"],
        "supplier": ["s_suppkey"],
        "part": ["p_partkey"],
        "orders": ["o_orderkey", "o_custkey"],
        "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
        "events": ["event_id", "user_id"],
        "embeddings": ["vec_id", "label"],
        "documents": ["doc_id"],
    }
    if model == "quadratic":
        plans["embeddings"] = ["vec_id"]
    for name in ["region", "nation"]:
        t = pq.read_table(os.path.join(src, f"{name}.parquet"))
        pq.write_table(t, os.path.join(dst, f"{name}.parquet"))
        print(f"{name}: copied {t.num_rows} rows")
    for name, key_cols in plans.items():
        t = pq.read_table(os.path.join(src, f"{name}.parquet"))
        stride_of = {c: _stride(src, *_FK_REF.get(c, (name, c)))
                     for c in key_cols}
        copies = []
        for i in range(k):
            cols = {c: t.column(c) for c in t.column_names}
            if i > 0:
                for c in key_cols:
                    cols[c] = _offset(cols[c], i * stride_of[c])
                if name == "documents" and model == "linear":
                    salt = f"zz{i}"
                    texts = cols["text"].to_pylist()
                    cols["text"] = pa.chunked_array(
                        [pa.array([_salt_text(x, salt) for x in texts],
                                  type=pa.string())])
            copies.append(pa.table(cols, schema=t.schema)
                          if i else t)
        big = pa.concat_tables(copies)
        rg = {} if model == "quadratic" else {
            "row_group_size": max(t.num_rows, 1)}
        out = os.path.join(dst, f"{name}.parquet")
        pq.write_table(big, out, **rg)
        print(f"{name}: {t.num_rows} -> {big.num_rows} rows, "
              f"{pq.ParquetFile(out).num_row_groups} row groups")
    open(os.path.join(dst, "_DONE"), "w").close()


if __name__ == "__main__":
    k = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    src = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    dst = (sys.argv[3] if len(sys.argv) > 3
           else "/root/repo/.bench_cache/sf1.0")
    model = sys.argv[4] if len(sys.argv) > 4 else "linear"
    replicate(src, dst, k, model)
