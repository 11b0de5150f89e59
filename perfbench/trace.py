"""Spans around the calls into each layer, for the traced run.

Spans are opened from the benchmark's own files only: the public functions
are wrapped in the namespaces their calling modules resolve them from
(``etl.jobs`` sees ``read_csv`` as a module global and ``validate`` as
``V.validate``), and restored afterwards. Nothing inside the package
changes.

Each span gets its own Spark job group, so a job is attributed to the
innermost span that was open when it ran. After each traced operation (and
each phase of a traced set-up) the stage metrics of the new spans' jobs are
read from Spark's status API on localhost, long before UI retention could
drop them. Spans stay in memory; the caller aggregates them once at the end.
"""

from __future__ import annotations

import functools
import json
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass, field

PKG = "_lakehouse_architecture_for_e_commerce_transactions_spark"


@dataclass
class Span:
    sid: int
    parent: int | None
    layer: str
    name: str
    start: float
    end: float = 0.0
    job: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects spans while ``active``; a no-op otherwise."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        # (layer, return value) of spanned calls, for counters read later
        self.results: list[tuple[str, object]] = []
        self.active = False
        self._stack: list[Span] = []
        self._sc = None
        self._api = ""
        self._pending: list[Span] = []

    def attach(self, spark) -> None:
        """Bind to a live SparkContext (job groups and the status API)."""
        self._sc = spark.sparkContext
        port = self._sc.uiWebUrl.rsplit(":", 1)[1] if self._sc.uiWebUrl else ""
        self._api = (f"http://localhost:{port}/api/v1/applications/"
                     f"{self._sc.applicationId}") if port else ""

    @contextmanager
    def span(self, layer: str, name: str):
        if not self.active:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), parent.sid if parent else None, layer, name,
                 time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)
            self._pending.append(s)

    def _group(self, s: Span) -> str:
        return f"perfbench-{s.sid}"

    def _set_group(self, s: Span | None) -> None:
        if self._sc is None:
            return
        if s is None:
            self._sc._jsc.clearJobGroup()
        else:
            self._sc.setJobGroup(self._group(s), f"{s.layer}.{s.name}")

    def _get(self, path: str):
        with urllib.request.urlopen(self._api + path, timeout=10) as r:
            return json.load(r)

    def flush(self) -> None:
        """Attach Spark job metrics to the spans closed since the last flush.
        Called after every traced operation and set-up phase: each runs far
        fewer stages than the UI retains (1000), so nothing is dropped, and
        one status-API read per call keeps the tracer cheap."""
        spans, self._pending = self._pending, []
        if self._sc is None or not self._api or not spans:
            return
        # the status store is fed asynchronously by the listener bus
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = self._sc.statusTracker()
        # a stage reused by a later job ran under the first job listing it
        stage_of: dict[int, tuple[int, Span]] = {}
        for s in spans:
            s.job = {"jobs": 0, "tasks": 0, "task_cpu_s": 0.0, "shuffle_bytes": 0,
                     "spill_bytes": 0, "failed_tasks": 0}
            for jid in tracker.getJobIdsForGroup(self._group(s)):
                s.job["jobs"] += 1
                info = tracker.getJobInfo(jid)
                for sid in (info.stageIds if info else []):
                    if sid not in stage_of or jid < stage_of[sid][0]:
                        stage_of[sid] = (jid, s)
        if not stage_of:
            return
        for att in self._get("/stages"):
            owner = stage_of.get(att.get("stageId"))
            if owner is None or att.get("status") == "SKIPPED":
                continue
            s = owner[1]
            s.job["tasks"] += att.get("numCompleteTasks", 0)
            s.job["failed_tasks"] += att.get("numFailedTasks", 0)
            s.job["task_cpu_s"] += att.get("executorCpuTime", 0) / 1e9
            s.job["shuffle_bytes"] += att.get("shuffleWriteBytes", 0)
            s.job["spill_bytes"] += att.get("diskBytesSpilled", 0)

    def wrap(self, layer: str, fn):
        @functools.wraps(fn)
        def spanned(*args, **kwargs):
            with self.span(layer, fn.__name__) as s:
                out = fn(*args, **kwargs)
            if s is not None:
                self.results.append((layer, out))
            return out

        return spanned


class _Facade:
    """A module as one caller sees it: some attributes replaced by spans."""

    def __init__(self, module, overrides: dict) -> None:
        self._module = module
        self.__dict__.update(overrides)

    def __getattr__(self, name):
        return getattr(self._module, name)


def _patches(tracer: Tracer) -> list[tuple[object, dict]]:
    """(module, {attribute: spanned replacement}) for every public call the
    benchmark spans inside the package, as each calling module resolves
    it: ``etl.orchestrator`` -> ``run_etl_job``; ``etl.jobs`` -> each
    layer of a job; ``etl.datapipe`` -> MinHash-LSH, components and the
    snapshot commit of the curation job."""
    import importlib

    def mod(name):
        return importlib.import_module(f"{PKG}.{name}")

    orch, jobs, pipe = mod("etl.orchestrator"), mod("etl.jobs"), mod("etl.datapipe")
    w = tracer.wrap
    return [
        (orch, {"run_etl_job": w("etl.jobs", orch.run_etl_job)}),
        (jobs, {
            "read_csv": w("sources.csv", jobs.read_csv),
            "write_rejects": w("sources.rejects", jobs.write_rejects),
            "V": _Facade(jobs.V, {"validate": w("operators.validation",
                                                jobs.V.validate)}),
            "D": _Facade(jobs.D, {"dedup_deterministic": w(
                "operators.dedup", jobs.D.dedup_deterministic)}),
            "J": _Facade(jobs.J, {"fk_check": w("operators.joins", jobs.J.fk_check)}),
            "M": _Facade(jobs.M, {"merge_upsert": w("operators.merge",
                                                    jobs.M.merge_upsert)}),
            "S": _Facade(jobs.S, {
                "merge_commit": w("sources.snapshots", jobs.S.merge_commit),
                "read": w("sources.snapshots", jobs.S.read)}),
        }),
        (pipe, {
            "TD": _Facade(pipe.TD, {
                "shingle_arrays": w("operators.textdedup", pipe.TD.shingle_arrays),
                "minhash_dedup_verified": w("operators.textdedup",
                                            pipe.TD.minhash_dedup_verified)}),
            "G": _Facade(pipe.G, {"dedup_clusters": w("operators.graph",
                                                      pipe.G.dedup_clusters)}),
            "S": _Facade(pipe.S, {"commit": w("sources.snapshots", pipe.S.commit),
                                  "read": w("sources.snapshots", pipe.S.read)}),
        }),
    ]


@contextmanager
def instrument(tracer: Tracer):
    """Span the package's inner public calls (only while the tracer is
    active: untraced runs execute the package untouched)."""
    if not tracer.active:
        yield
        return
    saved = []
    for module, plan in _patches(tracer):
        saved.append((module, {k: getattr(module, k) for k in plan}))
        for k, v in plan.items():
            setattr(module, k, v)
    try:
        yield
    finally:
        for module, attrs in saved:
            for k, v in attrs.items():
                setattr(module, k, v)


def layer_metrics(spans: list[Span]) -> dict[str, float]:
    """``L.calls``, ``L.wall_s``, ``L.self_s`` and the summed job metrics per
    layer. Self time is a span's duration minus the part its children
    cover (children never overlap: one client, one thread)."""
    child_time: dict[int, float] = {}
    for s in spans:
        if s.parent is not None:
            child_time[s.parent] = child_time.get(s.parent, 0.0) + s.wall
    out: dict[str, float] = {}
    for s in spans:
        def add(key, v, _l=s.layer):
            out[f"{_l}.{key}"] = out.get(f"{_l}.{key}", 0) + v
        add("calls", 1)
        add("wall_s", s.wall)
        add("self_s", s.wall - child_time.get(s.sid, 0.0))
        for k, v in s.job.items():
            add(k, v)
    return out
