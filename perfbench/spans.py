"""Spans recorded from outside the engine.

The traced run wraps public functions and methods of the engine's modules
for its duration (and restores them afterwards), so every span is recorded
by the benchmark, not by engine code. Each span also tags the Spark jobs
it launches with a job group, which lets `spark_stage_metrics` attribute
task time, shuffle and spill from Spark's own status store to the span
that caused them. Spans stay in memory and are written once at the end.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import sys
import time
from contextlib import contextmanager

GROUP_PREFIX = "pb"


class Tracer:
    def __init__(self, run_id: str, spark=None, enabled: bool = True):
        self.run_id = run_id
        self.sc = spark.sparkContext if spark is not None else None
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []
        self._t0 = time.perf_counter()

    # ---------------------------------------------------------------- spans
    def _set_group(self, span_id: int | None) -> None:
        if self.sc is None:
            return
        gid = None if span_id is None else f"{GROUP_PREFIX}{span_id}"
        self.sc.setLocalProperty("spark.jobGroup.id", gid)

    @contextmanager
    def span(self, name: str, **attrs):
        """Record one span. Its `cost_s` is the tracer's own time on entry
        and exit (the record and the job-group round trips to the JVM), the
        direct cost of tracing it."""
        if not self.enabled:
            yield None
            return
        t_in = time.perf_counter()
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "start": t_in - self._t0,
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self._set_group(rec["id"])
        cost = time.perf_counter() - t_in
        try:
            yield rec
        finally:
            t_out = time.perf_counter()
            rec["end"] = t_out - self._t0
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)
            rec["cost_s"] = cost + time.perf_counter() - t_out

    # ------------------------------------------------------------- wrapping
    def _wrapper(self, fn, name, label_arg=None, on_result=None):
        sig = inspect.signature(fn) if label_arg else None

        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            span_name = name
            if label_arg:
                bound = sig.bind_partial(*args, **kwargs)
                span_name = f"{name}:{bound.arguments.get(label_arg)}"
            with self.span(span_name) as rec:
                out = fn(*args, **kwargs)
                if on_result is not None:
                    on_result(self, rec, out)
                return out

        return wrapped

    def wrap_function(self, module: str, attr: str, name: str,
                      label_arg: str | None = None, on_result=None) -> None:
        """Replace `module.attr` with a span-recording wrapper, also in
        every loaded engine module that imported it by name."""
        mod = importlib.import_module(module)
        orig = getattr(mod, attr)
        wrapped = self._wrapper(orig, name, label_arg, on_result)
        pkg = module.split(".")[0]
        for mname, m in list(sys.modules.items()):
            if m is None or not (mname == pkg or mname.startswith(pkg + ".")):
                continue
            if getattr(m, attr, None) is orig:
                self._patches.append((m, attr, orig))
                setattr(m, attr, wrapped)

    def wrap_method(self, cls, attr: str, name: str) -> None:
        orig = cls.__dict__[attr]
        self._patches.append((cls, attr, orig))
        setattr(cls, attr, self._wrapper(orig, name))

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # ------------------------------------------------------------ analysis
    def children(self) -> dict[int | None, list[dict]]:
        out: dict[int | None, list[dict]] = {}
        for s in self.spans:
            out.setdefault(s["parent"], []).append(s)
        return out

    def layer_seconds(self, prefix: str, within: set[int] | None = None) -> float:
        """Wall seconds spent in spans named `prefix`*, counting a span only
        when no ancestor also matches (so nested calls are not counted
        twice). `within`: only spans below one of these span ids."""
        by_id = {s["id"]: s for s in self.spans}
        total = 0.0
        for s in self.spans:
            if not s["name"].startswith(prefix):
                continue
            ancestors = []
            p = s["parent"]
            while p is not None:
                ancestors.append(by_id[p])
                p = by_id[p]["parent"]
            if any(a["name"].startswith(prefix) for a in ancestors):
                continue
            if within is not None and not any(a["id"] in within for a in ancestors):
                continue
            total += s["end"] - s["start"]
        return total


def _jvm_seq(seq):
    return [seq.apply(i) for i in range(seq.size())]


def spark_stage_metrics(spark) -> dict[int, dict]:
    """Per span id: its job ids and the Spark stages they ran, read from
    the driver's status store (populated with the UI off). A stage listed
    by several jobs (a reused shuffle) is charged to the first job that
    lists it."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    try:
        jsc.listenerBus().waitUntilEmpty(30_000)
    except Exception:  # not exposed on every build: give the bus a moment
        time.sleep(1.0)
    store = jsc.statusStore()
    gw = sc._gateway
    stages: dict[int, list] = {}
    for sd in _jvm_seq(store.stageList(None, False, False,
                                       gw.new_array(gw.jvm.double, 0), None)):
        stages.setdefault(sd.stageId(), []).append(sd)
    jobs = sorted(_jvm_seq(store.jobsList(None)), key=lambda j: j.jobId())
    charged: set[int] = set()
    out: dict[int, dict] = {}
    for job in jobs:
        grp = job.jobGroup()
        if not grp.isDefined() or not str(grp.get()).startswith(GROUP_PREFIX):
            continue
        sid = int(str(grp.get())[len(GROUP_PREFIX):])
        rec = out.setdefault(sid, {"jobs": [], "stages": []})
        rec["jobs"].append(job.jobId())
        for st in _jvm_seq(job.stageIds()):
            st = int(st)
            if st in charged or st not in stages:
                continue
            charged.add(st)
            for sd in stages[st]:
                rec["stages"].append({
                    "stage": st,
                    "attempt": sd.attemptId(),
                    "tasks": sd.numTasks(),
                    "task_s": sd.executorRunTime() / 1000.0,
                    "shuffle_write_b": sd.shuffleWriteBytes(),
                    "spill_b": sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
                })
    return out


def task_skew(spark, stage_id: int, attempt: int) -> float | None:
    """max / median task run time of one stage attempt."""
    sc = spark.sparkContext
    gw = sc._gateway
    q = gw.new_array(gw.jvm.double, 2)
    q[0], q[1] = 0.5, 1.0
    summ = sc._jsc.sc().statusStore().taskSummary(stage_id, attempt, q)
    if not summ.isDefined():
        return None
    rt = summ.get().executorRunTime()
    med, mx = float(rt.apply(0)), float(rt.apply(1))
    return mx / med if med > 0 else None
