"""Span recorder for the traced benchmark run.

Spans come only from this directory: ``Tracer.span`` around the benchmark's
own calls, and ``Tracer.patch_function`` wrappers that replace a layer's
public function in every ``importer_spark`` module that binds it (the module
that defines it and every module that imported it by name), so a call is
traced whichever module looks it up. ``Tracer.restore`` undoes every patch.

Each span records its name, parent, start and end (``perf_counter`` seconds)
and the Spark jobs its thread's job group fired while it was open. Spans stay
in memory; ``layer_metrics`` derives the per-layer numbers at the end.
"""

from __future__ import annotations

import functools
import json
import sys
import threading
import time
import urllib.parse
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass, field

from stats import self_time

_MISSING = object()


@dataclass
class Span:
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    jobs: list[int] = field(default_factory=list)
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    traced = True

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._undo: list = []

    # --- job groups -------------------------------------------------------

    def set_group(self, group: str) -> None:
        """Tag the calling thread's Spark jobs with ``group``."""
        self.spark.sparkContext.setJobGroup(group, group)
        self._local.group = group

    def _group_jobs(self) -> set[int]:
        group = getattr(self._local, "group", None)
        if group is None:
            return set()
        # Job starts reach the status store through the asynchronous
        # listener bus; drain it so a job that just ran is counted in the
        # span that ran it, not in the next one.
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        return set(self.spark.sparkContext.statusTracker().getJobIdsForGroup(group))

    # --- spans ------------------------------------------------------------

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._local.__dict__.setdefault("stack", [])
        if stack and self.spans[stack[-1]].name == name:
            # A layer calling itself (or a patched helper of the same layer)
            # stays inside the outer span, so layer totals never count twice.
            yield self.spans[stack[-1]]
            return
        with self._lock:
            idx = len(self.spans)
            sp = Span(name, stack[-1] if stack else None, time.perf_counter(), attrs=attrs)
            self.spans.append(sp)
        before = self._group_jobs()
        stack.append(idx)
        try:
            yield sp
        finally:
            stack.pop()
            sp.end = time.perf_counter()
            sp.jobs = sorted(self._group_jobs() - before)

    # --- patching ---------------------------------------------------------

    def _replace_everywhere(self, original, replacement) -> None:
        for mod_name, mod in list(sys.modules.items()):
            if not mod_name.startswith("importer_spark") or mod is None:
                continue
            for attr, value in list(vars(mod).items()):
                if value is original:
                    setattr(mod, attr, replacement)
                    self._undo.append((mod, attr, original))

    def patch_function(self, module, attr: str, span_name: str, on_result=None) -> None:
        """Wrap ``module.attr`` in a span wherever an ``importer_spark``
        module binds it. ``on_result(span, result)`` may record counts or
        return a replacement result."""
        original = getattr(module, attr)
        tracer = self

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            with tracer.span(span_name) as sp:
                result = original(*args, **kwargs)
                if on_result is not None:
                    result = on_result(sp, result)
                return result

        self._replace_everywhere(original, wrapper)

    def patch_attr(self, owner, attr: str, replacement) -> None:
        """Set ``owner.attr`` (a class or instance attribute) until restore."""
        self._undo.append((owner, attr, vars(owner).get(attr, _MISSING)))
        setattr(owner, attr, replacement)

    def restore(self) -> None:
        for owner, attr, original in reversed(self._undo):
            if original is _MISSING:
                delattr(owner, attr)
            else:
                setattr(owner, attr, original)
        self._undo.clear()


class _SuiteResult:
    """Stands in for ``run_suite``'s lazy result so the traced run also
    times the ``collect()`` that evaluates it and counts its outcomes."""

    def __init__(self, df, tracer: Tracer):
        self._df = df
        self._tracer = tracer

    def collect(self):
        with self._tracer.span("quality.run_suite") as sp:
            rows = self._df.collect()
            sp.attrs["checks"] = len(rows)
            sp.attrs["violations"] = sum(int(r["n_violations"] or 0) for r in rows)
        return rows

    def __getattr__(self, name):
        return getattr(self._df, name)


OPERATORS = [
    ("importer_spark.operators.dedup", "remove_duplicate_spans"),
    ("importer_spark.operators.dedup", "near_dup_pairs"),
    ("importer_spark.operators.graph", "connected_components"),
    ("importer_spark.operators.text", "unigram_avg_logprob"),
]


def _operator_span(mod_name: str, fn: str) -> str:
    return f"{mod_name.removeprefix('importer_spark.')}.{fn}"


OPERATOR_SPANS = [_operator_span(m, f) for m, f in OPERATORS]


def install_layer_wrappers(tracer: Tracer) -> None:
    """Wrap the public function of each layer the workloads call into."""
    import importlib

    import importer_spark.io as io
    import importer_spark.plans.pipeline as pipeline
    import importer_spark.quality as quality
    import importer_spark.streaming.incremental as incremental
    from importer_spark.plans import models  # noqa: F401 — registers GRAPH models
    from importer_spark.plans.dag import GRAPH
    from importer_spark.queries import QUERIES  # noqa: F401 — binds every query module

    # io.Tables: first touch of a table on a Tables instance.
    original_getattr = io.Tables.__getattr__

    def tables_getattr(self, name):
        if name.startswith("_") or name in self.__dict__.get("_dfs", {}):
            return original_getattr(self, name)
        with tracer.span("io.tables_read", table=name):
            return original_getattr(self, name)

    tracer.patch_attr(io.Tables, "__getattr__", tables_getattr)
    tracer.patch_function(pipeline, "run_source_load", "plans.source_load")
    tracer.patch_function(io, "merge_by_key", "io.merge_by_key")
    tracer.patch_function(io, "write_replace", "io.write_replace")
    for fn in ("cursor_incremental_batch", "read_cursor", "commit_cursor"):
        tracer.patch_function(incremental, fn, "incremental.cursor")
    tracer.patch_function(
        quality, "run_suite", "quality.run_suite",
        on_result=lambda sp, df: _SuiteResult(df, tracer),
    )
    graph_run = GRAPH.run

    def traced_graph_run(*args, **kwargs):
        with tracer.span("plans.dag_run"):
            return graph_run(*args, **kwargs)

    tracer.patch_attr(GRAPH, "run", traced_graph_run)
    for mod_name, fn in OPERATORS:
        tracer.patch_function(importlib.import_module(mod_name), fn, _operator_span(mod_name, fn))


def stage_metrics(spark) -> dict[int, dict]:
    """Per-stage facts from the driver's UI REST API over loopback."""
    sc = spark.sparkContext
    port = urllib.parse.urlparse(sc.uiWebUrl).port
    url = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}/stages"
    with urllib.request.urlopen(url, timeout=30) as resp:
        stages = json.load(resp)
    return {
        s["stageId"]: s
        for s in stages
        if s.get("status") in ("COMPLETE", "FAILED") and s.get("attemptId", 0) == 0
    }


def job_stages(spark, job_ids) -> list[int]:
    tracker = spark.sparkContext.statusTracker()
    out: list[int] = []
    for jid in job_ids:
        info = tracker.getJobInfo(jid)
        if info is not None:
            out.extend(info.stageIds)
    return out


LAYER_SPANS = [
    "io.tables_read",
    "queries.build",
    "plans.source_load",
    "io.merge_by_key",
    "incremental.cursor",
    "plans.dag_run",
    "io.write_replace",
    "quality.run_suite",
    *OPERATOR_SPANS,
]
JOB_COUNTED = {"io.tables_read", "queries.build", *OPERATOR_SPANS}


def layer_metrics(tracer: Tracer, exec_span: str, units: int) -> dict[str, float]:
    """Per-layer totals per unit of work, from the recorded spans.

    ``exec_span`` names the spans whose jobs count as execution (``exec.*``).
    Times are summed span durations; ``*_self_s`` subtracts child spans."""
    spans = tracer.spans
    children: dict[int, list[tuple[float, float]]] = {}
    for sp in spans:
        if sp.parent is not None:
            children.setdefault(sp.parent, []).append((sp.start, sp.end))
    out: dict[str, float] = {}
    for name in LAYER_SPANS:
        mine = [(i, sp) for i, sp in enumerate(spans) if sp.name == name]
        out[f"{name}_s"] = sum(sp.seconds for _, sp in mine) / units
        if name in JOB_COUNTED:
            out[f"{name}_jobs"] = sum(len(sp.jobs) for _, sp in mine) / units
    build = [(i, sp) for i, sp in enumerate(spans) if sp.name == "queries.build"]
    out["queries.build_self_s"] = sum(
        self_time(sp.start, sp.end, children.get(i, [])) for i, sp in build
    ) / units
    suites = [sp for sp in spans if sp.name == "quality.run_suite"]
    out["quality.checks"] = sum(sp.attrs.get("checks", 0) for sp in suites) / units
    out["quality.violations"] = sum(sp.attrs.get("violations", 0) for sp in suites) / units
    out["catalyst.plan_s"] = sum(
        sp.attrs.get("plan_ms", 0.0) for sp in spans if sp.name == "catalyst.plan"
    ) / 1000 / units

    execs = [sp for sp in spans if sp.name == exec_span]
    stage_info = stage_metrics(tracer.spark)
    job_ids = [j for sp in execs for j in sp.jobs]
    ran = [stage_info[s] for s in set(job_stages(tracer.spark, job_ids)) if s in stage_info]
    mb = 1024 * 1024
    out["exec.s"] = sum(sp.seconds for sp in execs) / units
    out["exec.jobs"] = len(job_ids) / units
    out["exec.stages"] = len(ran) / units
    out["exec.tasks"] = sum(s["numCompleteTasks"] + s["numFailedTasks"] for s in ran) / units
    out["exec.shuffle_write_mb"] = sum(s["shuffleWriteBytes"] for s in ran) / mb / units
    out["exec.spill_mb"] = sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in ran) / mb / units
    out["exec.executor_run_s"] = sum(s["executorRunTime"] for s in ran) / 1000 / units
    out["trace.spans"] = len(spans) / units
    return out
