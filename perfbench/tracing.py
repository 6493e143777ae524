"""Traced runs: spans around the program's layers plus Spark's own
trackers, read after each query.

:class:`Tracer` wraps the public module-level functions of the layer
modules in :data:`LAYERS`. Plan modules bind names such as
``from hadoop_release_spark.catalog import table`` when they are
imported, so :meth:`Tracer.install` must run before the first
``registry.specs()`` / ``all_queries()`` call. Wrapped functions keep
their module and qualified name, so a kernel that Spark pickles by
reference still resolves to the unwrapped function in a Python worker.

Spans are kept in memory and written out once when the run ends. Each
query has one trace id; its root span runs from the registry call to
the return of ``toPandas()``. Spark jobs and stages become spans too,
built from the status store's submission and completion times. Jobs are
matched to a query by time window, not by job group, because the group
is thread-local and streaming micro-batch jobs run on the stream thread.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import pkgutil
import re
import sys
import threading
import time

#: Span-name prefix -> module whose public functions get wrapped.
LAYERS: dict[str, str] = {
    "catalog": "hadoop_release_spark.catalog",
    "materialize": "hadoop_release_spark.functions.materialize",
    "partitioning": "hadoop_release_spark.functions.partitioning",
    "roundtrip": "hadoop_release_spark.sources.roundtrip",
    "streaming": "hadoop_release_spark.streaming.runner",
    "operators": "hadoop_release_spark.operators",
}

_UNITS = {
    "ms": 1e-3, "s": 1.0, "min": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
}
_METRIC_VALUE = re.compile(r"([0-9][0-9.,]*)\s*(ms|s|min|h|B|KiB|MiB|GiB|TiB)\b")
_PY_TIME = "time to run Python workers"
_PY_SENT = "data sent to Python workers"


def parse_sql_metric(text: str) -> float:
    """Seconds or bytes from a SQL metric string, e.g. ``'12 ms'`` or
    ``'total (min, med, max (stageId: taskId))\\n5.4 s (1.2 s, ...)'``
    (the total is the first value after the header line)."""
    body = text.split("\n", 1)[1] if "\n" in text else text
    m = _METRIC_VALUE.search(body)
    if m is None:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)]


def _layer_modules() -> list[tuple[str, object]]:
    out = []
    for layer, modname in LAYERS.items():
        mod = importlib.import_module(modname)
        if hasattr(mod, "__path__"):  # a package: every submodule
            for info in pkgutil.iter_modules(mod.__path__):
                sub = importlib.import_module(f"{modname}.{info.name}")
                out.append((f"{layer}.{info.name}", sub))
        else:
            out.append((layer, mod))
    return out


def _union(intervals: list[tuple[int, int]], lo: int, hi: int) -> int:
    """Total length of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Tracer:
    """In-memory span recorder for one traced run (times in epoch ns)."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next_id = 1
        self._root: dict | None = None
        self._seen_frames: dict[int, object] = {}

    # -- wrapping -------------------------------------------------------
    def install(self) -> int:
        """Wrap every layer function; return how many were wrapped."""
        if "hadoop_release_spark.plans" in sys.modules:
            raise RuntimeError("install the tracer before the plans are imported")
        originals: dict[int, object] = {}
        for prefix, mod in _layer_modules():
            for name, fn in list(vars(mod).items()):
                if (
                    name.startswith("_")
                    or not inspect.isfunction(fn)
                    or fn.__module__ != mod.__name__
                    or hasattr(fn, "evalType")  # a UDF object, not a layer call
                ):
                    continue
                wrapper = self._wrap(fn, f"{prefix}.{name}")
                setattr(mod, name, wrapper)
                originals[id(fn)] = wrapper
        # Layer modules that imported each other's functions by name.
        for modname, mod in list(sys.modules.items()):
            if not modname.startswith("hadoop_release_spark") or mod is None:
                continue
            for name, value in list(vars(mod).items()):
                wrapper = originals.get(id(value))
                if wrapper is not None and value is not wrapper:
                    setattr(mod, name, wrapper)
        return len(originals)

    def _wrap(self, fn, span_name: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.enabled or tracer._root is None:
                return fn(*args, **kwargs)
            span = tracer.open(span_name)
            try:
                result = fn(*args, **kwargs)
            finally:
                tracer.close(span)
            tracer._annotate(span, args, result)
            return result

        return traced

    def _annotate(self, span: dict, args, result) -> None:
        name = span["name"]
        if name == "catalog.table":
            hit = id(result) in self._seen_frames
            self._seen_frames[id(result)] = result  # pin so ids stay unique
            span["attrs"]["hit"] = hit
        elif name == "partitioning.spread_small_scan":
            span["attrs"]["fired"] = bool(args) and result is not args[0]

    # -- spans ----------------------------------------------------------
    def _stack(self) -> list[dict]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def open(self, name: str) -> dict:
        """Open a span under this thread's innermost open span, or under
        the query root (other threads, e.g. the stream thread)."""
        stack = self._stack()
        parent = stack[-1] if stack else self._root
        span = self._new(parent["trace"], parent["id"], name, time.time_ns(), None, {})
        span["thread"] = threading.get_ident()
        stack.append(span)
        return span

    def close(self, span: dict) -> None:
        span["end"] = time.time_ns()
        stack = self._stack()
        if stack and stack[-1] is span:
            stack.pop()

    def begin_query(self, trace_id: str) -> dict:
        """Open the root span of a new query; layer calls nest under it."""
        self._local.stack = []
        self._root = self._new(trace_id, None, "query", time.time_ns(), None, {})
        self._root["thread"] = threading.get_ident()
        return self._root

    def end_query(self, root: dict) -> None:
        self.close(root)
        self._root = None
        self._local.stack = []

    # -- Spark trackers -------------------------------------------------
    def collect_spark(self, spark, root: dict, build_end_ns: int, df) -> dict:
        """Attach job/stage spans to ``root`` and return the query's
        Spark-side counters. Call after ``end_query``."""
        sc = spark.sparkContext
        store = sc._jsc.sc().statusStore()
        lo_ms, hi_ms = root["start"] // 10**6 - 1, root["end"] // 10**6 + 1
        jobs = self._window_jobs(store, lo_ms, hi_ms)
        py_s, py_sent = self._python_metrics(spark, lo_ms, hi_ms)
        out = {
            "jobs": len(jobs), "stages": 0, "tasks": 0,
            "executor_run_s": 0.0, "executor_cpu_s": 0.0,
            "shuffle_write_mb": 0.0, "shuffle_read_mb": 0.0, "spill_mb": 0.0,
            "input_mb": 0.0, "output_mb": 0.0,
            "build_jobs": 0, "python_worker_s": py_s, "python_sent_mb": py_sent / 2**20,
        }
        seen_stages: set[int] = set()
        job_iv = []
        py_spans = [s for s in self.spans if s["trace"] == root["trace"] and s is not root]
        for job_id, sub, comp, stage_ids in jobs:
            sub_ns, comp_ns = sub * 10**6, comp * 10**6
            job_iv.append((sub_ns, comp_ns))
            if sub_ns < build_end_ns:
                out["build_jobs"] += 1
            parent = self._innermost(py_spans, sub_ns) or root
            job_span = self._new(root["trace"], parent["id"], "spark.job", sub_ns, comp_ns,
                                 {"job": job_id})
            for sid in stage_ids:
                if sid in seen_stages:
                    continue
                seen_stages.add(sid)
                st = store.lastStageAttempt(sid)
                if str(st.status()) == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks()
                out["executor_run_s"] += st.executorRunTime() / 1e3
                out["executor_cpu_s"] += st.executorCpuTime() / 1e9
                out["shuffle_write_mb"] += st.shuffleWriteBytes() / 2**20
                out["shuffle_read_mb"] += st.shuffleReadBytes() / 2**20
                out["spill_mb"] += st.diskBytesSpilled() / 2**20
                out["input_mb"] += st.inputBytes() / 2**20
                out["output_mb"] += st.outputBytes() / 2**20
                s_sub, s_comp = st.submissionTime(), st.completionTime()
                if s_sub.isDefined() and s_comp.isDefined():
                    self._new(
                        root["trace"], job_span["id"], "spark.stage",
                        s_sub.get().getTime() * 10**6, s_comp.get().getTime() * 10**6,
                        {"stage": sid, "tasks": st.numTasks()},
                    )
        wall = root["end"] - root["start"]
        out["driver_gap_s"] = (wall - _union(job_iv, root["start"], root["end"])) / 1e9
        last_end = max((e for _, e in job_iv), default=None)
        out["transfer_tail_s"] = (
            max(0, root["end"] - last_end) / 1e9 if last_end is not None else wall / 1e9
        )
        out["persisted_rdds_left"] = sc._jsc.getPersistentRDDs().size()
        out.update(self._phases(df))
        return out

    def _window_jobs(self, store, lo_ms: int, hi_ms: int) -> list:
        """Jobs submitted inside ``[lo_ms, hi_ms]`` (waits up to 5 s for
        the listener bus to record their completion)."""
        deadline = time.monotonic() + 5.0
        while True:
            found, pending = [], False
            jobs = store.jobsList(None)  # newest first
            for i in range(jobs.size()):
                j = jobs.apply(i)
                sub = j.submissionTime()
                if not sub.isDefined():
                    continue
                sub_ms = sub.get().getTime()
                if sub_ms < lo_ms:
                    break
                if sub_ms > hi_ms:
                    continue
                comp = j.completionTime()
                if not comp.isDefined():
                    pending = True
                    continue
                stages = [int(x) for x in j.stageIds().mkString(",").split(",") if x]
                found.append((j.jobId(), sub_ms, comp.get().getTime(), stages))
            if not pending or time.monotonic() > deadline:
                break
            time.sleep(0.02)
        return sorted(found)

    def _python_metrics(self, spark, lo_ms: int, hi_ms: int) -> tuple[float, float]:
        """Python-worker seconds and bytes sent, summed over the SQL
        executions submitted in the window (deduplicated by metric id)."""
        sql = spark._jsparkSession.sharedState().statusStore()
        execs = sql.executionsList()  # oldest first
        secs = sent = 0.0
        for i in range(execs.size() - 1, -1, -1):
            e = execs.apply(i)
            if e.submissionTime() < lo_ms:
                break
            if e.submissionTime() > hi_ms:
                continue
            eid = e.executionId()
            values = sql.executionMetrics(eid)
            seen: set[int] = set()
            it = e.metrics().iterator()
            while it.hasNext():
                m = it.next()
                acc = m.accumulatorId()
                if acc in seen or m.name() not in (_PY_TIME, _PY_SENT):
                    continue
                seen.add(acc)
                v = values.get(acc)
                if not v.isDefined():
                    continue
                if m.name() == _PY_TIME:
                    secs += parse_sql_metric(v.get())
                else:
                    sent += parse_sql_metric(v.get())
        return secs, sent

    @staticmethod
    def _phases(df) -> dict:
        out = {"analysis_s": 0.0, "optimization_s": 0.0, "planning_s": 0.0}
        it = df._jdf.queryExecution().tracker().phases().iterator()
        while it.hasNext():
            kv = it.next()
            key = f"{kv._1()}_s"
            if key in out:
                out[key] = kv._2().durationMs() / 1e3
        return out

    @staticmethod
    def _innermost(spans: list[dict], t_ns: int) -> dict | None:
        main = threading.main_thread().ident
        best = None
        for s in spans:
            if s["thread"] == main and s["start"] <= t_ns <= (s["end"] or t_ns):
                if best is None or s["start"] >= best["start"]:
                    best = s
        return best

    def _new(self, trace, parent_id, name, start, end, attrs) -> dict:
        with self._lock:
            span = {
                "trace": trace, "id": self._next_id, "parent": parent_id, "name": name,
                "start": start, "end": end, "thread": None, "attrs": attrs,
            }
            self._next_id += 1
            self.spans.append(span)
        return span

    # -- analysis -------------------------------------------------------
    def self_times(self, trace_id: str) -> tuple[dict[str, float], float]:
        """Self seconds per layer for one query, and the share of the
        root's wall that its child spans cover."""
        spans = [s for s in self.spans if s["trace"] == trace_id]
        children: dict[int, list[dict]] = {}
        for s in spans:
            children.setdefault(s["parent"], []).append(s)
        layers: dict[str, float] = {}
        root = next(s for s in spans if s["name"] == "query")
        for s in spans:
            kids = [(c["start"], c["end"]) for c in children.get(s["id"], [])]
            own = (s["end"] - s["start"]) - _union(kids, s["start"], s["end"])
            layer = ".".join(s["name"].split(".")[:2]) if s["name"].startswith("spark.") \
                else s["name"].split(".")[0]
            layers[layer] = layers.get(layer, 0.0) + max(own, 0) / 1e9
        kids = [(c["start"], c["end"]) for c in children.get(root["id"], [])]
        wall = root["end"] - root["start"]
        covered = _union(kids, root["start"], root["end"]) / wall if wall else 1.0
        return layers, covered
