"""In-memory span tracer for the traced run.

A span records name, layer, start, end, parent and the number of Spark
jobs submitted while it was open (a job-id delta, so jobs fired on a
streaming thread outside the caller's job group still count). Layer
functions are wrapped by rebinding every module attribute that holds
the original function, which also catches names bound with
``from ... import load_table``. Catalyst phases come from the
QueryPlanningTracker of each QueryExecution that ran, as spans whose
parent is found afterwards by time (``stats.adopt``). Spans are written
as JSON lines.
"""

from __future__ import annotations

import functools
import itertools
import json
import sys
import threading
import time
from contextlib import contextmanager

# (module, attribute, layer, span name) of every wrapped layer entry.
LAYER_FUNCS = [
    ("mc_ns_data_pipeline_spark.catalog", "load_table", "catalog",
     "catalog.load_table"),
    ("mc_ns_data_pipeline_spark.catalog", "table_rows", "catalog",
     "catalog.table_rows"),
    ("mc_ns_data_pipeline_spark.sinks.versioned", "append_snapshot",
     "versioned", "versioned.append"),
    ("mc_ns_data_pipeline_spark.sinks.versioned", "merge_snapshot_mor",
     "versioned", "versioned.merge_mor"),
    ("mc_ns_data_pipeline_spark.sinks.versioned", "delete_keys_mor",
     "versioned", "versioned.delete_mor"),
    ("mc_ns_data_pipeline_spark.sinks.versioned", "optimize_table",
     "versioned", "versioned.optimize"),
    ("mc_ns_data_pipeline_spark.sinks.versioned", "read_current",
     "versioned", "versioned.read_current"),
    ("mc_ns_data_pipeline_spark.streaming.incremental",
     "run_stream_matview", "streaming", "stream.run_stream_matview"),
    ("mc_ns_data_pipeline_spark.streaming.incremental",
     "apply_change_batch", "streaming", "stream.apply_change_batch"),
    ("mc_ns_data_pipeline_spark.streaming.incremental",
     "matview_delta_batch", "streaming", "stream.matview_delta_batch"),
]


class Tracer:
    """Collects spans while ``enabled``; a disabled tracer's wrappers
    call straight through."""

    def __init__(self, next_job_id=None, available: bool = False):
        self.enabled = False
        self.available = available  # a traced run: every op is traced
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._main = threading.main_thread()
        self._main_stack: list[int] = []
        self._next_job_id = next_job_id or (lambda: 0)
        self._lock = threading.Lock()
        self.rebases = 0
        # epoch seconds (the JVM's clock) -> perf_counter seconds
        self._epoch_to_perf = time.perf_counter() - time.time()

    def _stack(self) -> list[int]:
        if threading.current_thread() is self._main:
            return self._main_stack
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        if not self.enabled:
            yield None
            return
        st = self._stack()
        sid = next(self._ids)
        # A span opened on another thread (a streaming batch callback)
        # belongs under whatever the main thread is waiting in.
        outer = st or self._main_stack
        parent = outer[-1] if outer else None
        rec = {"id": sid, "name": name, "layer": layer, "parent": parent,
               "thread": threading.current_thread().name, **attrs}
        rec["job0"] = self._next_job_id()
        rec["start"] = time.perf_counter()
        st.append(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["jobs"] = self._next_job_id() - rec["job0"]
            st.pop()
            with self._lock:
                self.spans.append(rec)

    def catalyst_phases(self, qe, phases=("analysis", "optimization",
                                          "planning")) -> None:
        """Record the named phases of a QueryExecution's planning
        tracker as ``catalyst.<phase>`` spans (JVM wall-clock ms mapped
        onto this tracer's clock; their parent is assigned later)."""
        tracked = qe.tracker().phases()
        for ph in phases:
            opt = tracked.get(ph)
            if not opt.isDefined():
                continue
            summary = opt.get()
            rec = {"id": next(self._ids), "name": f"catalyst.{ph}",
                   "layer": "catalyst", "parent": None, "adopt": True,
                   "thread": "jvm", "ms": summary.durationMs(),
                   "start": summary.startTimeMs() / 1e3
                   + self._epoch_to_perf,
                   "end": summary.endTimeMs() / 1e3 + self._epoch_to_perf,
                   "job0": 0, "jobs": 0}
            with self._lock:
                self.spans.append(rec)

    def wrap(self, fn, name: str, layer: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            with self.span(name, layer):
                return fn(*args, **kwargs)
        return wrapper

    def install(self) -> int:
        """Rebind every layer function in every loaded package module.
        Returns the number of bindings replaced."""
        import importlib

        n = 0
        for mod_name, attr, layer, name in LAYER_FUNCS:
            orig = getattr(importlib.import_module(mod_name), attr)
            n += _rebind(orig, self.wrap(orig, name, layer))
        vmod = importlib.import_module(
            "mc_ns_data_pipeline_spark.sinks.versioned")
        chain = vmod._rebase_chain

        def counted(*args, **kwargs):
            out = chain(*args, **kwargs)
            if self.enabled and out:
                with self._lock:
                    self.rebases += 1
            return out
        n += _rebind(chain, counted)
        return n

    def write_jsonl(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                fh.write(json.dumps(s) + "\n")


def _rebind(orig, new) -> int:
    n = 0
    for mod in list(sys.modules.values()):
        name = getattr(mod, "__name__", "") or ""
        if not name.startswith("mc_ns_data_pipeline_spark"):
            continue
        for attr, val in list(vars(mod).items()):
            if val is orig:
                setattr(mod, attr, new)
                n += 1
    return n


class StreamListener:
    """Accumulates StreamingQueryListener progress while the tracer is
    enabled: lifecycles, micro-batches and their ``durationMs`` /
    state-store figures."""

    def __init__(self, tracer: Tracer):
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self
        self.tracer = tracer
        self.runs = 0
        self.progress: list[dict] = []

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                if outer.tracer.enabled:
                    outer.runs += 1

            def onQueryProgress(self, event):
                if not outer.tracer.enabled:
                    return
                p = event.progress
                ops = p.stateOperators or []
                outer.progress.append({
                    "d": dict(p.durationMs or {}),
                    "rows": int(p.numInputRows or 0),
                    "state_rows": sum(int(s.numRowsTotal or 0)
                                      for s in ops),
                    "state_commit_ms": sum(int(s.commitTimeMs or 0)
                                           for s in ops)})

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = _L()


class CatalystListener:
    """QueryExecutionListener: the Catalyst phases of every query
    execution that finished while the tracer was enabled, read from the
    QueryExecution that actually ran (the action's own, not a second
    planning of the DataFrame)."""

    def __init__(self, tracer: Tracer, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        outer = tracer

        class _L:
            def onSuccess(self, func_name, qe, duration_ns):
                if outer.enabled:
                    outer.catalyst_phases(qe)

            def onFailure(self, func_name, qe, exception):
                self.onSuccess(func_name, qe, 0)

            class Java:
                implements = [
                    "org.apache.spark.sql.util.QueryExecutionListener"]

        ensure_callback_server_started(spark.sparkContext._gateway)
        self.listener = _L()
        spark._jsparkSession.listenerManager().register(self.listener)
