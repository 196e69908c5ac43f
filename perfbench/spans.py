"""Span recorder for the traced mode.

One span per call into a layer's public function (``<module>.<function>``),
recorded from outside: the recorder swaps each public function of the
layer modules for a thin wrapper in every loaded module namespace that
holds it, so calls between layers (and within a module) are seen too.
Each span runs under its own Spark job group, so every job it triggers is
attributed to the innermost open span; per-job and per-stage counters are
read back from Spark's status store (``SparkContext.statusStore()``) after
each pass. Spans stay in memory; nothing is written while measuring.

Many public functions return a lazy DataFrame whose jobs run when the
caller collects it. ``force(owner, fn)`` runs such a collection as a
"materialize" span of the layer call that produced ``owner``, so its jobs
and time land on that layer rather than on the benchmark.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import sys
import threading
import time
from dataclasses import dataclass, field

PACKAGE = "simple_data_workflow_spark"
LAYERS = ("session", "sources", "operators", "plans", "llmdata", "streaming")
COUNTERS = (
    "jobs", "tasks", "failed_tasks", "exec_s", "gc_s",
    "input_bytes", "input_records", "shuffle_bytes", "output_bytes", "spill_bytes",
)


@dataclass
class Span:
    sid: int
    name: str
    layer: str
    parent: int | None
    t0: float
    t1: float = 0.0
    materialize: bool = False
    job_ids: list[int] = field(default_factory=list)
    children: list[int] = field(default_factory=list)


def layer_of(module_name: str) -> str | None:
    parts = module_name.split(".")
    if len(parts) < 2 or parts[0] != PACKAGE:
        return None
    return parts[1] if parts[1] in LAYERS else None


def _layer_modules() -> list:
    """Every module of the traced layers that is importable."""
    import pkgutil

    pkg = importlib.import_module(PACKAGE)
    mods = []
    for info in pkgutil.walk_packages(pkg.__path__, PACKAGE + "."):
        if layer_of(info.name) is None:
            continue
        try:
            mods.append(importlib.import_module(info.name))
        except ImportError:
            continue  # an optional backend this host lacks
    return mods


def merge(intervals: list[tuple[float, float]]) -> list[tuple[float, float]]:
    out: list[list[float]] = []
    for a, b in sorted(intervals):
        if b <= a:
            continue
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [(a, b) for a, b in out]


def subtract(base: list[tuple[float, float]], cut: list[tuple[float, float]]):
    """``base`` minus the union of ``cut`` (both lists of intervals)."""
    cut = merge(cut)
    out = []
    for a, b in merge(base):
        cur = a
        for c, d in cut:
            if d <= cur or c >= b:
                continue
            if c > cur:
                out.append((cur, c))
            cur = max(cur, d)
        if cur < b:
            out.append((cur, b))
    return out


def length(intervals) -> float:
    return sum(b - a for a, b in intervals)


class NullTracer:
    """Untraced mode: same interface, no bookkeeping."""

    enabled = False

    def install(self) -> None:
        pass

    def uninstall(self) -> None:
        pass

    def force(self, owner, fn):
        return fn()

    def span(self, name: str, layer: str):
        return _NullCtx()

    def mark(self) -> int:
        return 0

    def end_pass(self) -> None:
        pass

    def ignore_jobs_so_far(self) -> None:
        pass


class _NullCtx:
    def __enter__(self):
        return self

    def __exit__(self, *exc):
        return False


class Tracer:
    enabled = True

    def __init__(self) -> None:
        self.spans: dict[int, Span] = {}
        self.owner: dict[int, tuple[object, int]] = {}
        self.last_sid = 0
        self._local = threading.local()
        self._patches: list[tuple[object, str, object, object]] = []
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = {}
        self._seen_stage_owner: dict[int, int] = {}
        self.ignored: set[int] = set()
        self.overhead_s = 0.0  # time spent in span bookkeeping inside passes

    # -- patching ---------------------------------------------------------
    def install(self) -> None:
        if self._patches:
            return
        targets = {}
        for mod in _layer_modules():
            layer = layer_of(mod.__name__)
            for name, obj in vars(mod).items():
                if name.startswith("_") or not inspect.isfunction(obj):
                    continue
                if obj.__module__ != mod.__name__:
                    continue
                targets[id(obj)] = (obj, f"{mod.__name__.split('.', 1)[1]}.{name}", layer)
        wrapped = {k: (obj, self._wrap(obj, qual, layer)) for k, (obj, qual, layer) in targets.items()}
        for mod in list(sys.modules.values()):
            mname = getattr(mod, "__name__", "") or ""
            if not (mname == PACKAGE or mname.startswith(PACKAGE + ".") or mname == "__spark_entry__"):
                continue
            for attr, val in list(vars(mod).items()):
                hit = wrapped.get(id(val))
                if hit is not None and hit[0] is val:
                    self._patches.append((mod, attr, val, hit[1]))
                    setattr(mod, attr, hit[1])

    def uninstall(self) -> None:
        for mod, attr, orig, _ in reversed(self._patches):
            setattr(mod, attr, orig)
        self._patches = []

    def _wrap(self, fn, qual: str, layer: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            sp = tracer._open(qual, layer)
            try:
                out = fn(*args, **kwargs)
            finally:
                tracer._close(sp)
            if out is not None:
                tracer.owner[id(out)] = (out, sp.sid)
            return out

        return traced

    # -- spans ------------------------------------------------------------
    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @staticmethod
    def _sc():
        from pyspark import SparkContext

        return SparkContext._active_spark_context

    def _set_group(self, sid: int | None) -> None:
        sc = self._sc()
        if sc is None:
            return
        sc.setLocalProperty("spark.jobGroup.id", None if sid is None else f"pb-{sid}")

    def _open(self, name: str, layer: str, materialize: bool = False) -> Span:
        t = time.perf_counter()
        st = self._stack()
        parent = st[-1].sid if st else None
        self.last_sid += 1
        sp = Span(self.last_sid, name, layer, parent, time.time(), materialize=materialize)
        self.spans[sp.sid] = sp
        if parent is not None:
            self.spans[parent].children.append(sp.sid)
        st.append(sp)
        self._set_group(sp.sid)
        self.overhead_s += time.perf_counter() - t
        return sp

    def _close(self, sp: Span) -> None:
        sp.t1 = time.time()
        t = time.perf_counter()
        st = self._stack()
        st.pop()
        self._set_group(st[-1].sid if st else None)
        self.overhead_s += time.perf_counter() - t

    def force(self, owner, fn):
        """Run ``fn`` (which collects a lazy result of ``owner``'s layer
        call) as a materialize span of that call."""
        hit = self.owner.get(id(owner))
        if hit is None or hit[0] is not owner:
            return fn()
        src = self.spans[hit[1]]
        sp = self._open(src.name, src.layer, materialize=True)
        try:
            return fn()
        finally:
            self._close(sp)

    def span(self, name: str, layer: str):
        """Explicit span for a layer entry point that is not a Python call
        (e.g. a Data Source read through ``spark.read.format``)."""
        tracer = self

        class _Ctx:
            def __enter__(self):
                self.sp = tracer._open(name, layer)
                return self.sp

            def __exit__(self, *exc):
                tracer._close(self.sp)
                return False

        return _Ctx()

    def end_pass(self) -> None:
        """Drop result references and read back this pass's job counters."""
        self.owner.clear()
        self.harvest()

    # -- counters ---------------------------------------------------------
    def harvest(self) -> None:
        sc = self._sc()
        if sc is None:
            return
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        gw = sc._gateway
        jobs = store.jobsList(None)
        empty_status = gw.jvm.java.util.ArrayList()
        no_q = gw.new_array(gw.jvm.double, 0)
        for i in range(jobs.length()):
            j = jobs.apply(i)
            jid = int(j.jobId())
            if jid in self.jobs:
                continue
            grp = j.jobGroup()
            group = str(grp.get()) if grp.isDefined() else None
            sub, comp = j.submissionTime(), j.completionTime()
            sids = j.stageIds()
            rec = {
                "group": group,
                "t0": sub.get().getTime() / 1000.0 if sub.isDefined() else None,
                "t1": comp.get().getTime() / 1000.0 if comp.isDefined() else None,
                "stages": [int(sids.apply(k)) for k in range(sids.length())],
            }
            self.jobs[jid] = rec
            for sid in rec["stages"]:
                if sid in self.stages:
                    continue
                agg = dict.fromkeys(COUNTERS[1:], 0.0)
                datas = store.stageData(sid, False, empty_status, False, no_q)
                for k in range(datas.length()):
                    s = datas.apply(k)
                    agg["tasks"] += s.numCompleteTasks() + s.numFailedTasks()
                    agg["failed_tasks"] += s.numFailedTasks()
                    agg["exec_s"] += s.executorRunTime() / 1000.0
                    agg["gc_s"] += s.jvmGcTime() / 1000.0
                    agg["input_bytes"] += s.inputBytes()
                    agg["input_records"] += s.inputRecords()
                    agg["shuffle_bytes"] += s.shuffleReadBytes() + s.shuffleWriteBytes()
                    agg["output_bytes"] += s.outputBytes()
                    agg["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
                self.stages[sid] = agg
                self._seen_stage_owner[sid] = jid
        for jid, rec in self.jobs.items():
            g = rec["group"]
            if g and g.startswith("pb-"):
                sp = self.spans.get(int(g[3:]))
                if sp is not None and jid not in sp.job_ids:
                    sp.job_ids.append(jid)

    def _job_counters(self, jid: int) -> dict:
        out = dict.fromkeys(COUNTERS, 0.0)
        out["jobs"] = 1.0
        for sid in self.jobs[jid]["stages"]:
            if self._seen_stage_owner.get(sid) != jid:
                continue  # a stage reused (skipped) by a later job counts once
            for k, v in self.stages[sid].items():
                out[k] += v
        return out

    def span_stats(self, sp: Span) -> dict:
        """Counters plus self/driver time of one span."""
        out = dict.fromkeys(COUNTERS, 0.0)
        job_cover = []
        for jid in sp.job_ids:
            for k, v in self._job_counters(jid).items():
                out[k] += v
            rec = self.jobs[jid]
            if rec["t0"] is not None:
                job_cover.append((rec["t0"], rec["t1"] or sp.t1))
        kids = [(self.spans[c].t0, self.spans[c].t1) for c in sp.children]
        own = subtract([(sp.t0, sp.t1)], kids)
        out["self_s"] = length(own)
        out["driver_s"] = length(subtract(own, job_cover))
        return out

    def layer_metrics(self) -> dict[str, float]:
        m: dict[str, float] = {}
        for layer in LAYERS:
            for k in ("calls", "self_s", "driver_s", *COUNTERS):
                m[f"{layer}.{k}"] = 0.0
        for sp in self.spans.values():
            st = self.span_stats(sp)
            if not sp.materialize:
                m[f"{sp.layer}.calls"] += 1
            for k, v in st.items():
                m[f"{sp.layer}.{k}"] += v
        attributed = {j for sp in self.spans.values() for j in sp.job_ids}
        m["unattributed.jobs"] = 0.0
        m["unattributed.exec_s"] = 0.0
        for jid in self.jobs:
            if jid not in attributed and jid not in self.ignored:
                c = self._job_counters(jid)
                m["unattributed.jobs"] += 1
                m["unattributed.exec_s"] += c["exec_s"]
        return m

    def mark(self) -> int:
        """Id of the newest span so far (spans opened later have larger ids)."""
        return self.last_sid

    def spans_named(self, name: str, after: int = 0, upto: int | None = None) -> list[Span]:
        return [
            s for s in self.spans.values()
            if s.name == name and s.sid > after and (upto is None or s.sid <= upto)
        ]

    def ignore_jobs_so_far(self) -> None:
        """Jobs that ran outside traced passes (warm-up, checks) are not
        part of any layer and not "unattributed" either."""
        self.harvest()
        attributed = {j for sp in self.spans.values() for j in sp.job_ids}
        self.ignored.update(j for j in self.jobs if j not in attributed)
