"""Per-layer tracing from outside the program.

The tracer never edits the package. It replaces, for the duration of a
traced run, the module attributes through which the pipeline calls each
layer's public function, and restores them afterwards:

* every call records a span (layer, start, end, parent);
* while a span is open the Spark job group is the innermost span's layer,
  so stage metrics read back from the status store are charged to it;
* ``DataFrame.localCheckpoint/persist/cache/checkpoint`` are counted per
  innermost span (``.materializations``);
* each ``StageRunner`` stage the program executes has its output forced
  at the stage boundary, under the layer whose function defines it, so
  lazy work lands on that layer rather than on the stage write.
"""

from __future__ import annotations

import dataclasses
import functools
import importlib
import os
import sys
import time
from collections import Counter, defaultdict
from contextlib import contextmanager

from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

PKG = "hgcn_name_disambiguation_spark"
GROUP_PREFIX = "perfbench:"
OTHER = "other"

# layer -> [(defining module, public function)]
LAYERS: dict[str, list[tuple[str, str]]] = {
    "parse": [("operators.parse", "parse_publications")],
    "candidate_pairs": [("operators.candidate_pairs", "combined_edges")],
    "pipeline.match_context": [("plans.pipeline", "build_match_context")],
    "name_constraints": [
        ("operators.name_constraints", "resolve_signature_classes")
    ],
    "clustering.cc": [("operators.clustering", "connected_components")],
    "clustering.refine": [("operators.clustering", "refine_clusters")],
    "cluster_merge": [
        ("operators.cluster_merge", "semantic_cluster_merge"),
        ("operators.semantic", "semantic_document_vectors"),
    ],
    "pipeline.cluster": [("plans.pipeline", "cluster_from_context")],
    "evaluate": [("operators.evaluate", "pairwise_metrics")],
}
# ``output`` is the benchmark's own span around the output sinks;
# ``stages`` wraps the durable table reads and writes of io.catalog.TableIO.
STAGE_METHODS = ("write", "read")
ALL_LAYERS = list(LAYERS) + ["output", "stages"]
# StageRunner stage -> the layer whose function defines its output
STAGE_LAYER = {
    "pubs": "parse",
    "edges": "candidate_pairs",
    "matches": "pipeline.match_context",
    "clustered": "pipeline.cluster",
    "metrics": "evaluate",
}
MATERIALIZERS = ("localCheckpoint", "persist", "cache", "checkpoint")


@dataclasses.dataclass
class Span:
    layer: str
    start: float
    end: float = 0.0
    parent: int | None = None
    child_s: float = 0.0
    call: bool = True  # False for the tracer's own boundary forcing


class Tracer:
    """Spans, job groups and materialization counts for one traced run."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.stack: list[int] = []
        self.materializations: Counter = Counter()
        self.written_bytes = 0
        self.bookkeeping_s = 0.0
        self._patches: list[tuple[object, str, object]] = []
        self._in_materializer = False

    # -- spans -------------------------------------------------------------
    def _group(self, layer: str | None) -> None:
        self.sc.setJobGroup(GROUP_PREFIX + (layer or OTHER), layer or OTHER)

    @contextmanager
    def span(self, layer: str, call: bool = True):
        t0 = time.perf_counter()
        parent = self.stack[-1] if self.stack else None
        self.spans.append(Span(layer, t0, parent=parent, call=call))
        idx = len(self.spans) - 1
        self.stack.append(idx)
        self._group(layer)
        t1 = time.perf_counter()
        self.bookkeeping_s += t1 - t0
        try:
            yield
        finally:
            t2 = time.perf_counter()
            self.stack.pop()
            self._group(self.spans[parent].layer if parent is not None else None)
            sp = self.spans[idx]
            sp.end = time.perf_counter()
            if parent is not None:
                self.spans[parent].child_s += sp.end - sp.start
            self.bookkeeping_s += sp.end - t2

    def current_layer(self) -> str:
        return self.spans[self.stack[-1]].layer if self.stack else OTHER

    # -- installation ------------------------------------------------------
    def _patch(self, owner, attr, new):
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def _layer_wrapper(self, layer, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(layer):
                return fn(*args, **kwargs)

        return traced

    def force_stages(self, runner) -> None:
        """Force each stage's output at its boundary, under the layer that
        defines it, so its lazy work lands there and not on the stage
        write. Only stages the runner executes are forced: a stage skipped
        on resume computes nothing."""
        for st in runner.stages:
            st.fn = self._boundary(STAGE_LAYER[st.name], st.fn)

    def _boundary(self, layer, fn):
        tracer = self

        @functools.wraps(fn)
        def forced(d):
            out = fn(d)
            with tracer.span(layer, call=False):
                # the tracer's own checkpoints are not the program's
                tracer._in_materializer = True
                try:
                    return out.localCheckpoint(eager=True)
                finally:
                    tracer._in_materializer = False

        return forced

    def install(self) -> None:
        for layer, targets in LAYERS.items():
            for modname, fname in targets:
                mod = importlib.import_module(f"{PKG}.{modname}")
                original = getattr(mod, fname)
                wrapped = self._layer_wrapper(layer, original)
                # rebind every package module that imported the function
                # by name, so both call paths reach the wrapper
                for name, m in list(sys.modules.items()):
                    if name.startswith(PKG) and getattr(m, fname, None) is original:
                        self._patch(m, fname, wrapped)

        from hgcn_name_disambiguation_spark.io.catalog import TableIO

        for meth in STAGE_METHODS:
            self._patch(TableIO, meth, self._stage_wrapper(getattr(TableIO, meth)))

        # DataFrames of a classic (non-Connect) session are this subclass
        for meth in MATERIALIZERS:
            self._patch(
                ClassicDataFrame, meth, self._materializer(getattr(ClassicDataFrame, meth))
            )

    def _stage_wrapper(self, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(io, name, *args, **kwargs):
            with tracer.span("stages"):
                out = fn(io, name, *args, **kwargs)
            if fn.__name__ == "write" and not io.catalog:
                t0 = time.perf_counter()
                tracer.written_bytes += _dir_bytes(io._path(name))
                tracer.bookkeeping_s += time.perf_counter() - t0
            return out

        return traced

    def _materializer(self, fn):
        tracer = self

        @functools.wraps(fn)
        def counted(df, *args, **kwargs):
            if tracer._in_materializer:  # cache() delegates to persist()
                return fn(df, *args, **kwargs)
            tracer.materializations[tracer.current_layer()] += 1
            tracer._in_materializer = True
            try:
                return fn(df, *args, **kwargs)
            finally:
                tracer._in_materializer = False

        return counted

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, original = self._patches.pop()
            setattr(owner, attr, original)
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    # -- reporting ---------------------------------------------------------
    def self_seconds(self) -> dict[str, float]:
        out: dict[str, float] = defaultdict(float)
        for sp in self.spans:
            out[sp.layer] += (sp.end - sp.start) - sp.child_s
        return out

    def calls(self) -> Counter:
        return Counter(sp.layer for sp in self.spans if sp.call)


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def spark_stage_metrics(sc) -> tuple[dict[str, dict[str, float]], dict[str, float]]:
    """Per-layer and whole-run stage metrics from the status store.

    Every executed stage is charged to the job group of the first job that
    lists it; only jobs submitted under a tracer group are counted.
    """
    jvm = sc._jvm
    store = sc._jsc.sc().statusStore()
    jobs = store.jobsList(None)
    stage_group: dict[int, str] = {}
    for i in sorted(range(jobs.size()), key=lambda k: jobs.apply(k).jobId()):
        job = jobs.apply(i)
        grp = job.jobGroup()
        if not grp.isDefined() or not grp.get().startswith(GROUP_PREFIX):
            continue
        layer = grp.get()[len(GROUP_PREFIX):]
        ids = job.stageIds()
        for k in range(ids.size()):
            stage_group.setdefault(ids.apply(k), layer)

    per_layer: dict[str, dict[str, float]] = defaultdict(
        lambda: {"stages": 0, "shuffle_bytes": 0}
    )
    whole = {"gc_ms": 0.0, "spill_bytes": 0.0, "max_task_ms": 0.0, "median_task_ms": 0.0}
    quantiles = sc._gateway.new_array(jvm.double, 2)
    quantiles[0], quantiles[1] = 0.5, 1.0
    stages = store.stageList(None, False, False, sc._gateway.new_array(jvm.double, 0), None)
    for i in range(stages.size()):
        st = stages.apply(i)
        sid = st.stageId()
        if sid not in stage_group or st.status().toString() != "COMPLETE":
            continue
        acc = per_layer[stage_group[sid]]
        acc["stages"] += 1
        acc["shuffle_bytes"] += st.shuffleWriteBytes()
        whole["gc_ms"] += st.jvmGcTime()
        whole["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        if st.numTasks() > 1:
            summary = store.taskSummary(sid, st.attemptId(), quantiles)
            if summary.isDefined():
                run_ms = summary.get().executorRunTime()
                whole["median_task_ms"] += run_ms.apply(0)
                whole["max_task_ms"] += run_ms.apply(1)
    return per_layer, whole
