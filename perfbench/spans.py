"""Spans around the library's public functions, recorded from outside.

``Tracer.install`` replaces each traced function, in every loaded
``yamlpyowl_spark`` module that holds it, by a wrapper. With tracing
off the wrapper only calls through. With tracing on it records a span
(layer, name, start, end, parent) and sets the Spark job group to the
span, so every job the call launches is attributed to the innermost
open span.

Work that Spark runs lazily, in a later write, is attributed two ways:

* a DataFrame returned by a traced call is tagged with its layer, and
  the ``DataFrameWriter.parquet`` call that writes it opens a span of
  that layer instead of ``write``;
* the Python functions handed to ``mapInArrow`` / ``applyInPandas``
  under a traced span run wrapped on the executors; the wrapper adds
  its wall and CPU time per (stage, partition) to an accumulator, so
  parse, DL and OWL-RL time is measured where it is spent.

Spans stay in memory; ``layer_metrics`` reduces them, together with the
JVM status store's job and stage records, when the run ends.
"""

from __future__ import annotations

import contextlib
import inspect
import os
import statistics
import sys
import time
from typing import Callable, Dict, List, Optional

from pyspark.accumulators import AccumulatorParam

LAYERS = (
    "scan", "parse", "write", "nodes_edges", "resume", "linking", "cc",
    "closure", "swrl", "isomorph", "dlreason", "owlrl", "sparql",
)
QUERY_SHAPES = ("point_bgp", "point_path", "describe", "optional", "subclass_closure", "pred_agg")
_COUNTED = ("cc", "closure", "isomorph", "swrl", "dlreason", "owlrl")


class _MergeParam(AccumulatorParam):
    """Accumulates {(layer, stage, partition): [start, end, cpu, wall, calls]}."""

    def zero(self, value):
        return {}

    def addInPlace(self, a, b):
        for k, v in b.items():
            if k in a:
                o = a[k]
                a[k] = [min(o[0], v[0]), max(o[1], v[1]), o[2] + v[2], o[3] + v[3], o[4] + v[4]]
            else:
                a[k] = list(v)
        return a


def _timed_udf(fn: Callable, layer: str, acc, streaming: bool) -> Callable:
    """Executor-side timing of a UDF body. ``streaming`` functions map an
    iterator of batches (mapInArrow); the others are called per group."""

    def _record(w0, c0):
        import time as _t

        from pyspark import TaskContext

        ctx = TaskContext.get()
        key = (layer, ctx.stageId() if ctx else -1, ctx.partitionId() if ctx else -1)
        w1 = _t.time()
        acc.add({key: [w0, w1, _t.process_time() - c0, w1 - w0, 1]})

    if streaming:

        def run(batches):
            import time as _t

            w0, c0 = _t.time(), _t.process_time()
            yield from fn(batches)
            _record(w0, c0)

    elif len(inspect.signature(fn).parameters) == 2:  # (key, pdf)

        def run(key, pdf):
            import time as _t

            w0, c0 = _t.time(), _t.process_time()
            out = fn(key, pdf)
            _record(w0, c0)
            return out

    else:

        def run(pdf):
            import time as _t

            w0, c0 = _t.time(), _t.process_time()
            out = fn(pdf)
            _record(w0, c0)
            return out

    return run


class Tracer:
    def __init__(self, spark):
        from pyspark import cloudpickle

        # executors cannot import this module: ship the accumulator
        # param class and the UDF timers by value
        cloudpickle.register_pickle_by_value(sys.modules[__name__])
        self.spark = spark
        self.sc = spark.sparkContext
        self.enabled = False
        self.spans: List[list] = []  # [layer, name, t0, t1, parent, files written]
        self.stack: List[int] = []
        self.tags: Dict[int, tuple] = {}  # id(df) -> (df, layer); df kept alive
        self.acc = self.sc.accumulator({}, _MergeParam())
        self._patched: List[tuple] = []
        self.captured: List[tuple] = []  # (layer, args, result) of counted layers
        self.counts: Dict[str, float] = {}
        self.per_call: Dict[str, int] = {}

    # -- spans ---------------------------------------------------------

    def _set_group(self):
        gid = f"pb{self.stack[-1]}" if self.stack else None
        self.sc.setLocalProperty("spark.jobGroup.id", gid)

    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        self.spans.append([layer, name, time.perf_counter(), None, self.stack[-1] if self.stack else None, 0])
        self.stack.append(idx)
        self._set_group()
        try:
            yield
        finally:
            self.spans[idx][3] = time.perf_counter()
            self.stack.pop()
            self._set_group()

    def current_layer(self) -> Optional[str]:
        return self.spans[self.stack[-1]][0] if self.stack else None

    def tag(self, df, layer: str):
        if self.enabled and df is not None and hasattr(df, "write"):
            self.tags[id(df)] = (df, layer)
        return df

    # -- wrapping ------------------------------------------------------

    def _wrap(self, fn: Callable, layer, name: str, tag: bool) -> Callable:
        tracer = self

        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            lay = layer(args, kwargs) if callable(layer) else layer
            with tracer.span(lay, name):
                out = fn(*args, **kwargs)
            if lay in _COUNTED:
                tracer.captured.append((lay, args, out))
            return tracer.tag(out, lay) if tag else out

        wrapper.__wrapped__ = fn
        return wrapper

    def _patch(self, owner, attr: str, layer, tag: bool = True):
        static = inspect.getattr_static(owner, attr)
        orig = getattr(owner, attr)
        w = self._wrap(orig, layer, f"{getattr(owner, '__name__', owner)}.{attr}", tag)
        setattr(owner, attr, staticmethod(w) if isinstance(static, staticmethod) else w)
        self._patched.append((owner, attr, static))
        if inspect.ismodule(owner):
            # modules that imported the function by name hold their own reference
            for mod in list(sys.modules.values()):
                if mod is not owner and getattr(mod, "__name__", "").startswith("yamlpyowl_spark") \
                        and mod.__dict__.get(attr) is orig:
                    setattr(mod, attr, w)
                    self._patched.append((mod, attr, orig))

    def install(self):
        from pyspark.sql import DataFrameWriter
        from pyspark.sql.group import GroupedData

        from yamlpyowl_spark.operators import cc, closure, dlreason, isomorph, linking, owlrl, sparql, swrl
        from yamlpyowl_spark.plans import pipeline

        kg = pipeline.KGPipeline
        self._patch(pipeline, "ontology_document_filter", "scan")
        self._patch(kg, "parsed", "parse")
        self._patch(kg, "nodes", "nodes_edges")
        self._patch(kg, "edges", "nodes_edges")
        self._patch(kg, "materialize", lambda a, k: "resume" if k.get("resume", True) else "write", tag=False)
        self._patch(kg, "_gc_orphan_runs", "resume", tag=False)
        self._patch(kg, "reasoned", "reason", tag=False)
        self._patch(linking, "canonical_nodes", "linking")
        self._patch(linking, "canonical_edges", "linking")
        self._patch(cc, "connected_components", "cc")
        self._patch(closure, "transitive_closure", "closure")
        self._patch(swrl, "forward_chain", "swrl")
        self._patch(isomorph, "reason_per_isomorph", "isomorph")
        self._patch(dlreason, "dl_model_search", "dlreason")
        self._patch(owlrl, "owlrl_materialize", "owlrl")
        self._patch(sparql, "make_query", "sparql")

        DataFrame = type(self.spark.range(1))  # the session's concrete class
        tracer = self
        parquet, map_in_arrow, apply_in_pandas = DataFrameWriter.parquet, DataFrame.mapInArrow, GroupedData.applyInPandas

        def parquet_w(writer, path, *a, **k):
            if not tracer.enabled:
                return parquet(writer, path, *a, **k)
            lay = tracer.tags.get(id(writer._df), (None, "write"))[1]
            idx = len(tracer.spans)  # the index the span below gets
            with tracer.span(lay, "DataFrameWriter.parquet"):
                out = parquet(writer, path, *a, **k)
            tracer.spans[idx][5] = sum(f.endswith(".parquet") for _d, _s, fs in os.walk(path) for f in fs)
            return out

        def map_in_arrow_w(df, func, schema, *a, **k):
            lay = tracer.current_layer() if tracer.enabled else None
            if lay:
                func = _timed_udf(func, lay, tracer.acc, True)
            return map_in_arrow(df, func, schema, *a, **k)

        def apply_in_pandas_w(gd, func, schema):
            lay = tracer.current_layer() if tracer.enabled else None
            if lay:
                func = _timed_udf(func, lay, tracer.acc, False)
            return apply_in_pandas(gd, func, schema)

        for owner, attr, w in (
            (DataFrameWriter, "parquet", parquet_w),
            (DataFrame, "mapInArrow", map_in_arrow_w),
            (GroupedData, "applyInPandas", apply_in_pandas_w),
        ):
            self._patched.append((owner, attr, inspect.getattr_static(owner, attr)))
            setattr(owner, attr, w)

    def uninstall(self):
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def count_captured(self):
        """Row counts of the captured layer inputs and outputs. Counting
        costs jobs and re-runs lazy UDFs, so it runs after the iteration,
        with tracing off, and the re-runs' UDF time is taken back out of
        the accumulator."""
        saved = dict(self.acc.value)
        try:
            self._count_captured()
        finally:
            self.acc.value = saved
            self.captured.clear()
            self.tags.clear()

    def _count_captured(self):
        def add(key, v, per_call=False):
            self.counts[key] = self.counts.get(key, 0) + v
            if per_call:
                self.per_call[key] = self.per_call.get(key, 0) + 1

        for lay, args, out in self.captured:
            if lay == "cc":
                add("cc.edges_in", args[0].count())
                add("cc.components", out.select("component").distinct().count())
            elif lay == "closure":
                add("closure.pairs", out.count())
            elif lay == "isomorph":
                add("isomorph.docs", args[0].select("doc_iri").distinct().count(), True)
            else:  # swrl, dlreason, owlrl: inferred rows
                add(f"{lay}.inferred", out.count())
                if lay != "swrl":  # the operator sees one document per isomorphism class
                    add("isomorph.classes", args[0].select("doc_iri").distinct().count(), True)


# ---------------------------------------------------------------------
# reduction
# ---------------------------------------------------------------------


def _self_times(spans: List[list], idx: range) -> Dict[int, float]:
    """Span duration minus its direct children's durations (children of
    one parent never overlap: spans open on one Python thread)."""
    self_t = {i: spans[i][3] - spans[i][2] for i in idx}
    for i in idx:
        p = spans[i][4]
        if p in self_t:
            self_t[p] -= spans[i][3] - spans[i][2]
    return {i: max(0.0, t) for i, t in self_t.items()}


def status_records(sc):
    """(jobs, stages) from the JVM status store. jobs: {id: (group,
    [stage ids])}; stages: {id: dict of metrics}."""
    store = sc._jsc.sc().statusStore()
    jobs = {}
    it = store.jobsList(None).iterator()
    while it.hasNext():
        j = it.next()
        g = j.jobGroup()
        sids = [int(x) for x in j.stageIds().mkString(",").split(",") if x]
        jobs[int(j.jobId())] = (g.get() if g.isDefined() else None, sids)
    stages = {}
    it = store.stageList(None, False, False, sc._gateway.new_array(sc._jvm.double, 0), None).iterator()
    while it.hasNext():
        s = it.next()
        stages[int(s.stageId())] = {
            "shuffle_bytes": int(s.shuffleReadBytes()) + int(s.shuffleWriteBytes()),
            "output_bytes": int(s.outputBytes()),
            "failed": int(s.numFailedTasks()),
        }
    return jobs, stages


def layer_metrics(tracer: Tracer, records, idx: range, udf_keys: set, n_iter: int, wall_s: float) -> Dict[str, float]:
    """Per-layer metrics of the spans in ``idx`` and the UDF timings in
    ``udf_keys``: per-iteration means over ``n_iter``, except query
    metrics (means per query), task skews and the coverage ratio."""
    spans = tracer.spans
    jobs, stages = records
    self_t = _self_times(spans, idx)
    span_jobs: Dict[int, List[int]] = {}
    for jid, (g, _sids) in jobs.items():
        if g and g.startswith("pb") and g[2:].isdigit() and int(g[2:]) in self_t:
            span_jobs.setdefault(int(g[2:]), []).append(jid)

    udf: Dict[str, Dict[tuple, list]] = {}
    for key in udf_keys:
        lay, sid, part = key
        udf.setdefault(lay, {})[(sid, part)] = tracer.acc.value[key]

    def udf_wall(lay):
        per_stage: Dict[int, list] = {}
        for (sid, _p), v in udf.get(lay, {}).items():
            o = per_stage.setdefault(sid, [v[0], v[1]])
            o[0], o[1] = min(o[0], v[0]), max(o[1], v[1])
        return sum(b - a for a, b in per_stage.values())

    def udf_skew(lay):
        t = [v[3] for v in udf.get(lay, {}).values()]
        med = statistics.median(t) if t else 0.0
        return max(t) / med if med > 0 else 0.0

    self_by: Dict[str, float] = {}
    jobs_by: Dict[str, int] = {}
    stages_by: Dict[str, set] = {}
    files_by: Dict[str, int] = {}
    for i in idx:
        lay = spans[i][0]
        self_by[lay] = self_by.get(lay, 0.0) + self_t[i]
        files_by[lay] = files_by.get(lay, 0) + spans[i][5]
        for jid in span_jobs.get(i, []):
            jobs_by[lay] = jobs_by.get(lay, 0) + 1
            stages_by.setdefault(lay, set()).update(jobs[jid][1])

    def stage_sum(lay, key):
        return sum(stages[s][key] for s in stages_by.get(lay, ()) if s in stages)

    m: Dict[str, float] = {}
    lazy = {lay: udf_wall(lay) for lay in ("parse", "dlreason", "owlrl")}
    # lazily run UDF work executes inside a write span: carve it out
    self_by["write"] = max(0.0, self_by.get("write", 0.0) - sum(lazy.values()))
    for lay in LAYERS:
        m[f"{lay}.wall_s"] = lazy[lay] if lay in lazy else self_by.get(lay, 0.0)
        m[f"{lay}.jobs"] = jobs_by.get(lay, 0)
    for lay in ("parse", "dlreason", "owlrl"):
        m[f"{lay}.exec_cpu_s"] = sum(v[2] for v in udf.get(lay, {}).values())
    m["parse.tasks"] = len(udf.get("parse", {}))
    parse_stages = {sid for (sid, _p) in udf.get("parse", {})}
    m["parse.shuffle_bytes"] = sum(stages[s]["shuffle_bytes"] for s in parse_stages if s in stages)
    m["write.bytes"] = stage_sum("write", "output_bytes")
    m["write.files"] = files_by.get("write", 0)
    m["linking.shuffle_bytes"] = stage_sum("linking", "shuffle_bytes")
    all_stages = set().union(*stages_by.values()) if stages_by else set()
    m["spark.jobs"] = sum(jobs_by.values())
    m["spark.stages"] = len(all_stages)
    m["spark.failed_tasks"] = sum(stages[s]["failed"] for s in all_stages if s in stages)
    out = {k: v / n_iter for k, v in m.items()}

    for lay in ("parse", "dlreason", "owlrl"):
        out[f"{lay}.task_skew"] = udf_skew(lay)
    # query metrics are means per query: a query span covers make_query
    # (plan) and the collect; its jobs include those of nested spans
    shape_wall = {q: 0.0 for q in QUERY_SHAPES}
    shape_jobs = {q: 0 for q in QUERY_SHAPES}
    shape_n = {q: 0 for q in QUERY_SHAPES}
    children: Dict[int, List[int]] = {}
    for i in idx:
        children.setdefault(spans[i][4], []).append(i)
    for i in idx:
        if spans[i][0].startswith("query."):
            q = spans[i][0][len("query."):]
            shape_wall[q] += spans[i][3] - spans[i][2]
            shape_n[q] += 1
            stack = [i]
            while stack:
                k = stack.pop()
                shape_jobs[q] += len(span_jobs.get(k, []))
                stack += children.get(k, [])
    n_q = sum(shape_n.values())
    out["sparql.plan_s"] = sum(spans[i][3] - spans[i][2] for i in idx if spans[i][0] == "sparql") / max(1, n_q)
    for q in QUERY_SHAPES:
        out[f"sparql.{q}.wall_s"] = shape_wall[q] / max(1, shape_n[q])
        out[f"sparql.{q}.jobs"] = shape_jobs[q] / max(1, shape_n[q])
    covered = sum(self_by.get(lay, 0.0) for lay in LAYERS if lay not in lazy) + sum(lazy.values())
    covered += sum(t for lay, t in self_by.items() if lay.startswith("query."))
    out["trace.coverage"] = covered / wall_s if wall_s > 0 else 0.0
    return out
