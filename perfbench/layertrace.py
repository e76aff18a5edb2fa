"""Per-layer tracing from outside the program.

``Tracer`` wraps the public module-level functions of each layer module,
plus ``SparkSession.sql`` and the ``DataFrame`` actions, and keeps span
times with a stack, so a span's self time excludes its children.  While a
layer span is open, the Spark local property ``perfbench.layers`` names
the open layers, so every job and stage in the event log can be charged
to the layers that launched it.  Catalyst phase times come from each
query's ``QueryPlanningTracker``.

``read_event_log`` sums stage and task metrics of the event log the
benchmark points Spark at; only stages tagged ``perfbench.measure=1``
count.  Jobs and written bytes are charged to layers per phase: the loop
(``1``) and the traced extra work (``extra``); jobs also to the kind of
the traced request that ran them (``perfbench.request``).
"""

from __future__ import annotations

import copy
import functools
import glob
import importlib
import inspect
import json
import os
import time
import types
from collections import defaultdict

PKG = "clickhouse_flatfile_tool_spark"
LAYERS = {
    "api": f"{PKG}.api",
    "dialect": f"{PKG}.dialect",
    "pipeline": f"{PKG}.operators.pipeline",
    "dedup": f"{PKG}.operators.dedup",
    "text": f"{PKG}.operators.text",
    "similarity": f"{PKG}.operators.similarity",
    "relational": f"{PKG}.operators.relational",
    "files": f"{PKG}.sources.files",
    "schema": f"{PKG}.schema",
    "writers": f"{PKG}.sinks.writers",
}
ACTIONS = ("collect", "toPandas", "count", "take", "first")
PHASES = ("analysis", "optimization", "planning")


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.enabled = False
        self.stack: list[list] = []  # [layer, name, t0, child_s, outermost]
        self.func_s: dict[str, float] = defaultdict(float)
        self.func_self_s: dict[str, float] = defaultdict(float)
        self.func_calls: dict[str, int] = defaultdict(int)
        self.layer_s: dict[str, float] = defaultdict(float)
        self.phase_ms: dict[str, float] = defaultdict(float)
        self._undo: list = []

    # -- installation ------------------------------------------------------
    def install(self) -> None:
        originals: dict[int, object] = {}
        for layer, modname in LAYERS.items():
            mod = importlib.import_module(modname)
            for name, fn in list(vars(mod).items()):
                if (
                    isinstance(fn, types.FunctionType)
                    and not name.startswith("_")
                    and fn.__module__ == modname
                    and not inspect.isgeneratorfunction(fn)
                ):
                    originals[id(fn)] = self._wrap(fn, layer, f"{layer}.{name}")
        # rebind every module-level reference (``from x import f`` copies)
        import sys

        for modname, mod in list(sys.modules.items()):
            if mod is None or not (
                modname.startswith(PKG) or modname == "__spark_entry__"
            ):
                continue
            for name, obj in list(vars(mod).items()):
                wrapper = originals.get(id(obj))
                if wrapper is not None:
                    setattr(mod, name, wrapper)
                    self._undo.append((mod, name, obj))
        from pyspark.sql import SparkSession
        from pyspark.sql.classic.dataframe import DataFrame

        self._patch(SparkSession, "sql", self._wrap_sql)
        for action in ACTIONS:
            self._patch(DataFrame, action, self._wrap_action)

    def totals(self) -> "Tracer":
        """A frozen copy of the accumulated span and phase times."""
        snap = copy.copy(self)
        for name in ("func_s", "func_self_s", "func_calls", "layer_s", "phase_ms"):
            setattr(snap, name, copy.copy(getattr(self, name)))
        return snap

    def uninstall(self) -> None:
        for owner, name, obj in reversed(self._undo):
            setattr(owner, name, obj)
        self._undo.clear()

    def _patch(self, owner, name, make) -> None:
        orig = getattr(owner, name)
        setattr(owner, name, make(orig))
        self._undo.append((owner, name, orig))

    # -- spans ---------------------------------------------------------------
    def _push(self, layer: str, name: str) -> None:
        fresh = all(f[0] != layer for f in self.stack)
        self.stack.append([layer, name, time.perf_counter(), 0.0, fresh])
        if fresh:
            self._tag()

    def _pop(self) -> None:
        layer, name, t0, child, fresh = self.stack.pop()
        dur = time.perf_counter() - t0
        self.func_s[name] += dur
        self.func_self_s[name] += dur - child
        self.func_calls[name] += 1
        if self.stack:
            self.stack[-1][3] += dur
        if fresh:
            self.layer_s[layer] += dur
            self._tag()

    def _tag(self) -> None:
        layers = sorted({f[0] for f in self.stack})
        self.sc.setLocalProperty("perfbench.layers", ",".join(layers) or None)

    def _wrap(self, fn, layer: str, name: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            tracer._push(layer, name)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer._pop()

        return wrapper

    def _phases(self, jdf) -> None:
        try:
            phases = jdf.queryExecution().tracker().phases()
            for ph in PHASES:
                summary = phases.get(ph)  # a scala.Option
                if summary.isDefined():
                    self.phase_ms[ph] += summary.get().durationMs()
        except Exception:  # noqa: BLE001 — a plan without a tracker
            pass

    def _wrap_sql(self, orig):
        tracer = self

        @functools.wraps(orig)
        def sql(session, *args, **kwargs):
            if not tracer.enabled:
                return orig(session, *args, **kwargs)
            tracer._push("catalyst", "catalyst.sql")
            try:
                df = orig(session, *args, **kwargs)
            finally:
                tracer._pop()
            tracer._phases(df._jdf)
            return df

        return sql

    def _wrap_action(self, orig):
        tracer = self

        @functools.wraps(orig)
        def action(df, *args, **kwargs):
            if not tracer.enabled:
                return orig(df, *args, **kwargs)
            tracer._push("action", f"action.{orig.__name__}")
            try:
                return orig(df, *args, **kwargs)
            finally:
                tracer._pop()
                if orig.__name__ in ("collect", "toPandas"):
                    tracer._phases(df._jdf)

        return action


def read_event_log(log_dir: str) -> dict:
    """Sum the metrics of the loop's stages (``perfbench.measure=1``);
    charge jobs and written bytes to layers, keyed by phase (``1``, or
    ``extra`` for the traced extra work)."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f)]
    out = defaultdict(float)
    layer_jobs = {ph: defaultdict(int) for ph in ("1", "extra")}
    layer_bytes = {ph: defaultdict(float) for ph in ("1", "extra")}
    request_jobs: dict[str, int] = defaultdict(int)
    stage_layers: dict[int, tuple[str, list[str]]] = {}
    measured_stages: set[int] = set()
    job_start: dict[int, int] = {}
    for path in files:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    phase = props.get("perfbench.measure")
                    if phase not in ("1", "extra"):
                        continue
                    if phase == "1":
                        out["jobs"] += 1
                        job_start[ev["Job ID"]] = ev["Submission Time"]
                        request = props.get("perfbench.request")
                        if request:
                            request_jobs[request] += 1
                    for layer in filter(None, (props.get("perfbench.layers") or "").split(",")):
                        layer_jobs[phase][layer] += 1
                elif kind == "SparkListenerJobEnd":
                    t0 = job_start.pop(ev["Job ID"], None)
                    if t0 is not None:
                        out["wall_s"] += (ev["Completion Time"] - t0) / 1000.0
                elif kind == "SparkListenerStageSubmitted":
                    props = ev.get("Properties") or {}
                    sid = ev["Stage Info"]["Stage ID"]
                    phase = props.get("perfbench.measure")
                    if phase in ("1", "extra"):
                        stage_layers[sid] = (phase, [
                            x for x in (props.get("perfbench.layers") or "").split(",") if x
                        ])
                    if phase == "1":
                        measured_stages.add(sid)
                        out["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    sid = ev.get("Stage ID")
                    m = ev.get("Task Metrics")
                    if not m:
                        continue
                    written = (m.get("Output Metrics") or {}).get("Bytes Written", 0)
                    phase, layers = stage_layers.get(sid, ("", []))
                    for layer in layers:
                        layer_bytes[phase][layer] += written
                    if sid not in measured_stages:
                        continue
                    out["tasks"] += 1
                    out["jvm_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    out["run_s"] += m.get("Executor Run Time", 0) / 1000.0
                    out["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    sw = m.get("Shuffle Write Metrics") or {}
                    out["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 2**20
                    out["spill_mb"] += (
                        m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    ) / 2**20
    return {"exec": dict(out), "layer_jobs": layer_jobs, "layer_bytes": layer_bytes,
            "request_jobs": dict(request_jobs)}
