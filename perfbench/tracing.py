"""Spans around calls into the program's modules, and Spark counters per
operation.

The wrappers are installed from outside at run time: every loaded
``panelsplit_spark`` module attribute (or class attribute) that holds a
traced function is replaced, so calls the program makes internally --
``application`` reaching ``linear_fastpath.suffstats_fit`` through a
function-local import, ``pipeline`` holding its own reference to
``cross_val_fit`` -- are caught as well as the benchmark's own calls.

Lazy layers: ``cross_val_predict`` and ``linear_predict_frame`` only
build a plan. Their spans time the planning; the execution lands in the
span of whichever action materialises the frame (``write_sink``, a
``per_fold_scores`` collect, a search's scoring).
"""

from __future__ import annotations

import functools
import importlib
import json
import sys
import threading
import time
from typing import Any, Callable, Dict, List, Optional

#: (module, attribute path, span name). A dotted attribute is a method
#: patched on its class.
TARGETS = [
    ("panelsplit_spark.sources.tables", "load_table", "sources.load_table"),
    ("panelsplit_spark.sources.tables", "write_sink", "sources.write_sink"),
    ("panelsplit_spark.operators.cross_validation", "PanelSplit.__init__",
     "cross_validation.panelsplit"),
    ("panelsplit_spark.operators.application", "cross_val_fit",
     "application.cross_val_fit"),
    ("panelsplit_spark.operators.application", "cross_val_predict",
     "application.cross_val_predict"),
    ("panelsplit_spark.operators.linear_fastpath", "suffstats_fit",
     "linear_fastpath.suffstats_fit"),
    ("panelsplit_spark.operators.linear_fastpath", "sweep_scores",
     "linear_fastpath.sweep_scores"),
    ("panelsplit_spark.operators.linear_fastpath", "linear_predict_frame",
     "linear_fastpath.linear_predict_frame"),
    ("panelsplit_spark.operators.metrics", "per_fold_scores",
     "metrics.per_fold_scores"),
    ("panelsplit_spark.operators.model_selection", "BaseSearch.fit",
     "model_selection.search_fit"),
    ("panelsplit_spark.operators.pipeline", "SequentialCVPipeline.fit",
     "pipeline.fit"),
    ("panelsplit_spark.operators.pipeline", "SequentialCVPipeline.predict_df",
     "pipeline.predict_df"),
    ("panelsplit_spark.utils.storage", "release_all_pinned",
     "storage.release"),
]

#: calls whose non-None return counts as a fast-path hit
FASTPATH = ("linear_fastpath.suffstats_fit", "linear_fastpath.sweep_scores",
            "linear_fastpath.linear_predict_frame")


class Tracer:
    """Collects spans (name, start, end, parent, op id) in memory.

    A span opened on a thread with no open span of its own (a search
    candidate on ``model_selection``'s thread pool) takes as parent the
    innermost span open on the thread that started the operation.
    """

    def __init__(self) -> None:
        self.spans: List[Dict[str, Any]] = []
        self.op_id: Optional[int] = None
        self._local = threading.local()
        self._lock = threading.Lock()
        self._main_stack: List[int] = []
        self._patches: List[tuple] = []

    # -- spans ---------------------------------------------------------

    def _stack(self) -> List[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def begin_op(self, op_id: int) -> None:
        self.op_id = op_id
        self._local.stack = self._main_stack = []

    def _wrap(self, fn: Callable, name: str) -> Callable:
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            stack = tracer._stack()
            parent = stack[-1] if stack else (
                tracer._main_stack[-1] if tracer._main_stack else None)
            span = {"name": name, "op": tracer.op_id, "parent": parent,
                    "start": time.perf_counter(), "end": None,
                    "result": None}
            with tracer._lock:
                span["id"] = len(tracer.spans)
                tracer.spans.append(span)
            stack.append(span["id"])
            try:
                out = fn(*args, **kwargs)
                span["result"] = _describe(name, out)
                return out
            finally:
                span["end"] = time.perf_counter()
                stack.pop()

        return traced

    # -- patching ------------------------------------------------------

    def install(self) -> None:
        """Patch every target; calling twice is an error."""
        if self._patches:
            raise RuntimeError("tracer already installed")
        for modname, attr, name in TARGETS:
            mod = importlib.import_module(modname)
            if "." in attr:
                cls_name, meth = attr.split(".")
                cls = getattr(mod, cls_name)
                orig = cls.__dict__[meth]
                self._patches.append((cls, meth, orig))
                setattr(cls, meth, self._wrap(orig, name))
                continue
            orig = getattr(mod, attr)
            wrapped = self._wrap(orig, name)
            for m in list(sys.modules.values()):
                mname = getattr(m, "__name__", "")
                if not mname.startswith("panelsplit_spark"):
                    continue
                for k, v in list(vars(m).items()):
                    if v is orig:
                        self._patches.append((m, k, orig))
                        setattr(m, k, wrapped)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches = []

    # -- reduction -----------------------------------------------------

    def per_op(self, op_ids) -> Dict[str, List[float]]:
        """Per op: inclusive and self seconds per span name, call and
        hit counts. Returns ``{metric: [value per op]}``."""
        by_op: Dict[int, List[dict]] = {i: [] for i in op_ids}
        for s in self.spans:
            if s["op"] in by_op:
                by_op[s["op"]].append(s)
        names = sorted({n for _, _, n in TARGETS})
        self_s = self._self_times()
        out: Dict[str, List[float]] = {}
        for op in op_ids:
            spans = by_op[op]
            incl = dict.fromkeys(names, 0.0)
            self_t = dict.fromkeys(names, 0.0)
            calls = dict.fromkeys(names, 0)
            hits = dict.fromkeys(names, 0)
            for s in spans:
                incl[s["name"]] += s["end"] - s["start"]
                self_t[s["name"]] += self_s[s["id"]]
                calls[s["name"]] += 1
                hits[s["name"]] += s["result"] == "hit"
            for n in names:
                out.setdefault(n + "_s", []).append(incl[n])
                out.setdefault(n + "_self_s", []).append(self_t[n])
            fp_calls = sum(calls[n] for n in FASTPATH)
            fp_hits = sum(hits[n] for n in FASTPATH)
            out.setdefault("linear_fastpath.calls", []).append(fp_calls)
            out.setdefault("linear_fastpath.hit_ratio", []).append(
                fp_hits / fp_calls if fp_calls else 0.0)
            out.setdefault("application.fits", []).append(sum(
                int(s["result"]) for s in spans
                if s["name"] == "application.cross_val_fit"))
            out.setdefault("model_selection.candidates", []).append(sum(
                int(s["result"]) for s in spans
                if s["name"] == "model_selection.search_fit"))
        return out

    def _self_times(self) -> Dict[int, float]:
        """Span id -> duration minus the time its children cover."""
        children: Dict[int, List[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        return {s["id"]: s["end"] - s["start"] - _covered(
                    s, children.get(s["id"], []))
                for s in self.spans}

    def dump(self, path: str) -> None:
        """Write every span with its self time."""
        self_s = self._self_times()
        keys = ("id", "name", "op", "parent", "start", "end")
        with open(path, "w") as f:
            json.dump([{k: s[k] for k in keys} | {"self_s": self_s[s["id"]]}
                       for s in self.spans], f)


def _describe(name: str, out: Any) -> Optional[str]:
    """What a span keeps of its call's return value: the number of
    fitted models or searched candidates, else whether it was None."""
    if name == "application.cross_val_fit":
        return str(len(out))
    if name == "model_selection.search_fit":
        return str(len(out.cv_results_["params"]))
    if name in FASTPATH:
        return "None" if out is None else "hit"
    return None


def _covered(span: dict, kids: List[dict]) -> float:
    """Length of the union of the children's intervals inside ``span``."""
    iv = sorted((max(k["start"], span["start"]), min(k["end"], span["end"]))
                for k in kids)
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in iv:
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


# ----------------------------------------------------------------------
# Spark counters per operation
# ----------------------------------------------------------------------

COUNTERS = ("spark.jobs", "spark.stages", "spark.tasks", "spark.tasks_failed",
            "spark.input_records", "spark.input_bytes",
            "spark.shuffle_write_bytes", "spark.shuffle_read_bytes",
            "spark.executor_run_s", "spark.executor_cpu_s", "spark.gc_s")


class SparkCounters:
    """Attributes Spark's own task metrics to operations by the range of
    job ids each operation started. Job groups are not used: threads of
    ``model_selection``'s pool do not carry the caller's job group."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()

    def _drain(self) -> None:
        # the status store is fed by the listener bus; wait until it has
        # seen every event of the jobs that just ended
        self._jsc.listenerBus().waitUntilEmpty()

    def last_job_id(self) -> int:
        self._drain()
        ids = self.sc.statusTracker().getJobIdsForGroup(None)
        return max(ids) if ids else -1

    def since(self, last_job: int) -> Dict[str, float]:
        """Counters summed over every job with id > ``last_job``."""
        self._drain()
        tracker = self.sc.statusTracker()
        store = self._jsc.statusStore()
        jobs = sorted(j for j in tracker.getJobIdsForGroup(None)
                      if j > last_job)
        out = dict.fromkeys(COUNTERS, 0.0)
        out["spark.jobs"] = len(jobs)
        seen = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            for sid in info.stageIds if info else []:
                if sid in seen:
                    continue
                seen.add(sid)
                st = store.lastStageAttempt(sid)
                if st.status().toString() == "SKIPPED":
                    continue
                out["spark.stages"] += 1
                out["spark.tasks"] += (st.numCompleteTasks()
                                       + st.numFailedTasks())
                out["spark.tasks_failed"] += st.numFailedTasks()
                out["spark.input_records"] += st.inputRecords()
                out["spark.input_bytes"] += st.inputBytes()
                out["spark.shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["spark.shuffle_read_bytes"] += (
                    st.shuffleRemoteBytesRead() + st.shuffleLocalBytesRead())
                out["spark.executor_run_s"] += st.executorRunTime() / 1e3
                out["spark.executor_cpu_s"] += st.executorCpuTime() / 1e9
                out["spark.gc_s"] += st.jvmGcTime() / 1e3
        return out
