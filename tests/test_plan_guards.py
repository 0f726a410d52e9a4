"""Plan-shape guards over the whole query registry.

Catalyst chooses physical operators from size estimates, so a seemingly
innocent edit (dropping a broadcast hint, filtering through a UDF) can
silently turn a bounded broadcast join into an unbounded CartesianProduct
or put row-at-a-time Python in the hot path — correct at sf0.01, fatal at
100 TB. This walks the PLANNED physical plan of every registered query
(no execution of the heavy stages) and rejects:

- ``CartesianProduct``: a non-broadcast cross join materializing |L|x|R|.
  Intentional cross joins in the registry (scaffold grids, IVF centroid
  assignment, global-stats fan-out) are all against broadcast-sized sides
  and must plan as BroadcastNestedLoopJoin.
- ``BatchEvalPython``: a row-at-a-time Python UDF. All Python in the
  registry is Arrow-batched (ArrowEvalPython / MapInArrow / mapInPandas).
"""

import pyspark.sql.functions as F
import pytest

FORBIDDEN = {
    "CartesianProduct": "non-broadcast cross join",
    "BatchEvalPython": "row-at-a-time Python UDF",
}

SF_DIR = "/root/testdata/sf0.001"


def _plans(spark):
    import __spark_entry__ as entrymod
    for name, fn in entrymod.queries().items():
        df = fn(spark, SF_DIR)
        yield name, df._jdf.queryExecution().executedPlan().toString()


def test_no_cartesian_or_row_python(spark):
    bad = {}
    for name, plan in _plans(spark):
        hits = [f"{node} ({why})" for node, why in FORBIDDEN.items()
                if node in plan]
        if hits:
            bad[name] = hits
    assert not bad, f"plan guard violations: {bad}"


# Driver-side actions a query builder must never run at plan-construction
# time: a .count()/.first() during construction forces a Spark job before
# the caller's action (and on a cluster, a full lineage execution) just to
# build the plan — global scalars belong in broadcast single-row aggregates
# (VERDICT r5 task 7). Zero-arg guard: `F.count(...)`/`F.first(col)` are
# Catalyst expressions, not actions, and always carry arguments.
DRIVER_ACTIONS = {"count", "collect", "first", "head", "toPandas"}


def test_no_driver_actions_in_query_builders():
    import ast
    import inspect

    from sen2rts_spark import queries, queries_docs, queries_ts
    from sen2rts_spark.operators import (compaction, extract, geo,
                                         gorilla_sink, graph, grouped,
                                         pheno_tools, rollup, skew,
                                         timeseries)

    bad = []
    for mod in (queries, queries_docs, queries_ts, compaction, extract, geo,
                gorilla_sink, graph, grouped, pheno_tools, rollup, skew,
                timeseries):
        src = inspect.getsource(mod)
        lines = src.splitlines()
        tree = ast.parse(src)
        for node in ast.walk(tree):
            if (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr in DRIVER_ACTIONS
                    and not node.args and not node.keywords
                    and not (isinstance(node.func.value, ast.Name)
                             and node.func.value.id == "F")):
                # explicit opt-in escape hatch: the action sits behind a
                # raise-unless-allow_job gate and is marked on its line
                if "# plan-guard: allow_job" in lines[node.lineno - 1]:
                    continue
                bad.append(f"{mod.__name__}:{node.lineno} "
                           f".{node.func.attr}()")
    assert not bad, f"driver actions in query/operator modules: {bad}"


def test_connected_components_is_one_python_pass(spark):
    # the labeling is one mapInArrow task over the kept edges: no round
    # loop of joins and no checkpointed (lineage-truncated) RDD scan
    from sen2rts_spark.operators.graph import connected_components

    verts = spark.range(6).withColumnRenamed("id", "doc_id")
    edges = spark.range(5).select(F.col("id").alias("src"),
                                  (F.col("id") + 1).alias("dst"))
    plan = connected_components(verts, edges)._jdf.queryExecution() \
        .executedPlan().toString()
    assert plan.count("MapInArrow") == 1
    assert "ExistingRDD" not in plan


# Placement of the grouped kernels. The series stages cost per row and keep
# the id hash partitioning; the curve fits cost seconds per cycle, so their
# input exchange is a range partitioning on the cycle key, which gives each
# of a handful of cycles its own task instead of a shared hash bucket.

def _input_exchange(df):
    """(partitioning, key columns) of the exchange feeding the kernel."""
    import re
    lines = df._jdf.queryExecution().executedPlan().toString().splitlines()
    start = next(i for i, ln in enumerate(lines) if "MapInPandas" in ln)
    ex = next(ln for ln in lines[start:] if "Exchange " in ln)
    kind, args = re.search(r"Exchange (\w+)\((.*)\)", ex).groups()
    return kind, re.findall(r"(\w+)#\d+", args.split(", REPARTITION")[0])


def test_fit_operators_range_partition_on_cycle_key(spark):
    import datetime

    from sen2rts_spark.operators import pheno_tools, timeseries

    day = datetime.date(2020, 1, 1)
    obs = spark.createDataFrame(
        [("a", day, "o", "s", 0.5, 1.0)],
        "id string, date date, orbit string, sensor string, value double, "
        "qa double")
    smoothed = timeseries.smooth(obs)
    filled = timeseries.fill(smoothed)
    cycles = timeseries.cut_cycles(filled)
    for df in (smoothed, filled, cycles):
        assert _input_exchange(df) == ("hashpartitioning", ["id"])
    key = ("rangepartitioning", ["id", "year", "cycle"])
    assert _input_exchange(timeseries.extract_pheno(
        filled, cycles, rescale=(0.0, 1.0))) == key
    assert _input_exchange(pheno_tools.fit_curves(
        filled, cycles, rescale=(0.0, 1.0))) == key


def test_range_placement_gives_each_cycle_its_own_task(spark):
    import pandas as pd
    from pyspark import TaskContext

    from sen2rts_spark.operators.grouped import grouped_apply

    k = spark.sparkContext.defaultParallelism
    rows = [(f"id{i % 3}", 2020 + i // 3, 1, d) for i in range(k)
            for d in range(30)]
    df = spark.createDataFrame(rows, "id string, year int, cycle int, d int")

    def fn(pdf):
        return pd.DataFrame({"id": [pdf["id"].iloc[0]],
                             "part": [TaskContext.get().partitionId()]})

    out = grouped_apply(df, ["id", "year", "cycle"], fn,
                        "id string, part int", by_range=True).collect()
    assert len(out) == k
    assert len({r.part for r in out}) == k
