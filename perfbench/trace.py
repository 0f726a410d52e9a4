"""Spans, counters and Spark stage metrics for the traced run.

Spans are recorded from the benchmark's side of each layer boundary: the
tracer replaces public functions of ``sen2rts_spark`` modules with wrappers
that open a span, call the original, and materialize a returned DataFrame
(persist + count) so the span holds that operator's work. Every Spark job
runs under a job group named after the innermost open span, which ties
Spark's own stage metrics (task time, GC, shuffle, input, spill) to spans.

Kernel calls that run inside Python workers cannot be spanned from the
driver. For those the tracer swaps the kernel's name in the calling
module's globals for a timing wrapper before the operator is planned; the
operator's closure is pickled with the wrapper, which adds in-kernel
seconds and call counts to Spark accumulators.

With tracing off nothing is wrapped and ``span`` only yields.
"""

from __future__ import annotations

import sys
import time
from collections import defaultdict
from contextlib import contextmanager

# Per-stage fields read from Spark's status store, summed per span.
_STAGE_FIELDS = {
    "task_s": lambda s: s.executorRunTime() / 1e3,
    "gc_s": lambda s: s.jvmGcTime() / 1e3,
    "tasks": lambda s: s.numTasks(),
    "shuffle_write_bytes": lambda s: s.shuffleWriteBytes(),
    "shuffle_read_bytes": lambda s: s.shuffleReadBytes(),
    "input_bytes": lambda s: s.inputBytes(),
    "spill_bytes": lambda s: s.memoryBytesSpilled() + s.diskBytesSpilled(),
}


def _kernel_wrapper(fn, secs, calls, flagged, flag):
    """Timing wrapper shipped to Python workers inside operator closures;
    it references only the original function, ``flag`` and accumulators.
    ``flag(result)`` marks calls to count apart (e.g. a fit that needed
    its fallback)."""
    def timed(*args, **kwargs):
        t0 = time.perf_counter()
        out = None
        try:
            out = fn(*args, **kwargs)
            return out
        finally:
            secs.add(time.perf_counter() - t0)
            calls.add(1)
            if flag is not None and flag(out):
                flagged.add(1)
    timed.__wrapped__ = fn
    return timed


class Tracer:
    def __init__(self, spark, run_id: str, enabled: bool):
        self.spark = spark
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []
        self._persisted = []
        self._kernels: dict[str, tuple] = {}

    # -- spans ---------------------------------------------------------------
    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sc = self.spark.sparkContext
        rec = {"id": len(self.spans), "name": name, "run_id": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        sc.setJobGroup(self._group(rec["id"]), name, False)
        k0 = self.kernel_seconds()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["kernel_s"] = {k: v - k0.get(k, 0.0)
                               for k, v in self.kernel_seconds().items()
                               if v - k0.get(k, 0.0) > 0}
            self._stack.pop()
            if self._stack:
                sc.setJobGroup(self._group(self._stack[-1]),
                               self.spans[self._stack[-1]]["name"], False)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)

    def _group(self, span_id: int) -> str:
        return f"{self.run_id}-{span_id}"

    # -- wrapping --------------------------------------------------------------
    def wrap(self, module, name: str, layer: str, materialize: bool = True):
        """Span every call of ``module.name`` (a function or, for a class
        attribute given as ``Class.method``, a method) under ``layer``.
        Rebinds the name in every loaded ``sen2rts_spark`` module that
        imported the same object, so calls between modules are seen too."""
        if not self.enabled:
            return
        owner, attr = module, name
        if "." in name:
            cls, attr = name.split(".")
            owner = getattr(module, cls)
        orig = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            with tracer.span(layer) as rec:
                out = orig(*args, **kwargs)
                if materialize and hasattr(out, "persist"):
                    out = out.persist()
                    tracer._persisted.append(out)
                    rec["rows_out"] = out.count()
                return out

        wrapper.__wrapped__ = orig
        self._rebind(owner, attr, orig, wrapper)

    def wrap_kernel(self, module, name: str, layer: str, flag=None):
        """Time ``module.name`` inside Python workers (see module doc)."""
        if not self.enabled:
            return
        sc = self.spark.sparkContext
        if layer not in self._kernels:
            self._kernels[layer] = (sc.accumulator(0.0), sc.accumulator(0),
                                    sc.accumulator(0))
        secs, calls, flagged = self._kernels[layer]
        orig = getattr(module, name)
        self._patches.append((module, name, orig))
        setattr(module, name, _kernel_wrapper(orig, secs, calls, flagged, flag))

    def kernel_seconds(self) -> dict[str, float]:
        return {k: acc[0].value for k, acc in self._kernels.items()}

    def _rebind(self, owner, attr, orig, new):
        targets = [(owner, attr)]
        if not isinstance(owner, type):
            for mname, mod in list(sys.modules.items()):
                if (mname.startswith("sen2rts_spark") and mod is not owner
                        and getattr(mod, attr, None) is orig):
                    targets.append((mod, attr))
        for obj, a in targets:
            self._patches.append((obj, a, orig))
            setattr(obj, a, new)

    def kernel_totals(self) -> dict[str, tuple[float, int, int]]:
        """layer -> (in-kernel task seconds, calls, flagged calls)."""
        return {k: tuple(a.value for a in acc) for k, acc in self._kernels.items()}

    def release(self) -> None:
        """Drop the DataFrames materialized at span boundaries."""
        for df in self._persisted:
            df.unpersist()
        self._persisted.clear()

    def unwrap(self) -> None:
        for obj, attr, orig in reversed(self._patches):
            setattr(obj, attr, orig)
        self._patches.clear()

    # -- analysis --------------------------------------------------------------
    def stage_metrics(self) -> None:
        """Attach Spark stage metrics to every span (own jobs only)."""
        if not self.enabled:
            return
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        gw = sc._gateway
        by_stage = {}
        it = sc._jsc.sc().statusStore().stageList(
            None, False, False, gw.new_array(gw.jvm.double, 0), None).iterator()
        while it.hasNext():
            s = it.next()
            if s.status().toString() == "COMPLETE":
                by_stage[s.stageId()] = {k: f(s) for k, f in _STAGE_FIELDS.items()}
        for rec in self.spans:
            agg = dict.fromkeys(_STAGE_FIELDS, 0)
            agg["stages"] = 0
            agg["jobs"] = 0
            for jid in tracker.getJobIdsForGroup(self._group(rec["id"])):
                agg["jobs"] += 1
                info = tracker.getJobInfo(jid)
                for sid in (info.stageIds if info else []):
                    if sid in by_stage:
                        agg["stages"] += 1
                        for k, v in by_stage[sid].items():
                            agg[k] += v
            rec["spark"] = agg

    def self_times(self) -> dict[int, float]:
        """Span duration minus the union of its children's intervals."""
        kids = defaultdict(list)
        for rec in self.spans:
            if rec["parent"] is not None:
                kids[rec["parent"]].append((rec["start"], rec["end"]))
        out = {}
        for rec in self.spans:
            covered, cur_s, cur_e = 0.0, None, None
            for s, e in sorted(kids[rec["id"]]):
                if cur_e is None or s > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = s, e
                else:
                    cur_e = max(cur_e, e)
            if cur_e is not None:
                covered += cur_e - cur_s
            out[rec["id"]] = rec["end"] - rec["start"] - covered
        return out

    def subtree_spark(self, span_id: int) -> dict:
        """Stage metrics of a span plus all its descendants."""
        total = defaultdict(float)
        todo = [span_id]
        while todo:
            sid = todo.pop()
            for k, v in self.spans[sid].get("spark", {}).items():
                total[k] += v
            todo += [r["id"] for r in self.spans if r["parent"] == sid]
        return dict(total)

    def export(self) -> list[dict]:
        t0 = self.spans[0]["start"] if self.spans else 0.0
        return [{**r, "start": round(r["start"] - t0, 6),
                 "end": round(r["end"] - t0, 6)} for r in self.spans]
