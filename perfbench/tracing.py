"""Per-layer tracing for ``run.py --trace 1``.

Three sources, none of which needs a change to the package:

- spans: the benchmark wraps its own calls into the package in
  ``Tracer.span``; where one module calls another, ``install`` wraps
  the callee as bound in the caller (``bridge.apply_layout``,
  ``SparkSession.createDataFrame``, ``DataFrame.toPandas`` ...).
  Each span records name, start, end, parent and operation id.
- the Spark event log (enabled only in traced runs), summed over the
  jobs submitted inside the measured window (``exec_metrics``);
- a ``StreamingQueryListener`` summing micro-batch progress.
"""

from __future__ import annotations

import contextlib
import glob
import itertools
import json
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.enabled = True
        self.op_id = "setup"
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._undo: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield attrs
            return
        stack = self._stack()
        sid = next(self._ids)
        rec = {"id": sid, "name": name, "parent": stack[-1] if stack else None,
               "op": self.op_id, "start": time.perf_counter()}
        stack.append(sid)
        try:
            yield attrs
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()
            rec.update(attrs)
            self.spans.append(rec)

    def wrap(self, owner: object, attr: str, name: str, around=None) -> None:
        """Replace ``owner.attr`` by a span-recording wrapper.  ``around``
        (optional) is a context-manager factory run inside the span
        that may add attributes to it."""
        original = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)

        def wrapper(*args, **kwargs):
            if not self.enabled:
                return original(*args, **kwargs)
            with self.span(name) as attrs:
                if around is None:
                    return original(*args, **kwargs)
                with around(attrs):
                    return original(*args, **kwargs)

        setattr(owner, attr, wrapper)
        self._undo.append((owner, attr, original))

    def restore(self) -> None:
        for owner, attr, original in reversed(self._undo):
            setattr(owner, attr, original)
        self._undo.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def install(tracer: Tracer, spark) -> None:
    """Wrap the cross-module calls of the load/extract path (the
    benchmark's own calls into the bridge are spanned where it makes
    them)."""
    from pyspark.sql.readwriter import DataFrameWriter

    from pandas_redshift_spark.sources import bridge, schema

    sc = spark.sparkContext
    groups = itertools.count(1)

    @contextlib.contextmanager
    def count_jobs(attrs):
        gid = f"perfbench-layout-{next(groups)}"
        sc.setJobGroup(gid, "perfbench layout")
        try:
            yield
        finally:
            attrs["jobs"] = len(sc.statusTracker().getJobIdsForGroup(gid))
            for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
                sc.setLocalProperty(key, None)

    tracer.wrap(bridge, "validate_column_names", "schema.validate_column_names")
    tracer.wrap(schema, "validate_column_names", "schema.validate_column_names")
    tracer.wrap(bridge, "get_column_data_types", "schema.get_column_data_types")
    tracer.wrap(bridge, "apply_layout", "layout.apply_layout", around=count_jobs)
    tracer.wrap(_defining(type(spark), "createDataFrame"), "createDataFrame", "spark.createDataFrame")
    tracer.wrap(_defining(type(spark.range(1)), "toPandas"), "toPandas", "spark.toPandas")
    tracer.wrap(DataFrameWriter, "saveAsTable", "spark.saveAsTable")


def _defining(cls: type, attr: str) -> type:
    """The class in ``cls``'s MRO whose own dict defines ``attr``."""
    return next(k for k in cls.__mro__ if attr in k.__dict__)


class StreamStats(StreamingQueryListener):
    """Sums micro-batch progress of every streaming query while
    ``active``."""

    FIELDS = ("batches", "trigger_s", "add_batch_s", "query_planning_s",
              "wal_commit_s", "state_commit_s", "state_rows", "input_rows")

    def __init__(self) -> None:
        self.active = False
        self.totals = dict.fromkeys(self.FIELDS, 0.0)

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        if not self.active:
            return
        p = event.progress
        d = p.durationMs or {}
        t = self.totals
        t["batches"] += 1
        t["trigger_s"] += d.get("triggerExecution", 0) / 1e3
        t["add_batch_s"] += d.get("addBatch", 0) / 1e3
        t["query_planning_s"] += d.get("queryPlanning", 0) / 1e3
        t["wal_commit_s"] += (d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1e3
        for op in p.stateOperators or ():
            t["state_commit_s"] += (op.commitTimeMs or 0) / 1e3
            t["state_rows"] += op.numRowsUpdated or 0
        t["input_rows"] += p.numInputRows or 0

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


def drain_listener_bus(spark) -> None:
    """Block until every posted Spark listener event (and so every
    streaming progress callback) has been delivered."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


EXEC_FIELDS = ("jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s",
               "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
               "input_bytes", "output_bytes")


def exec_metrics(log_dir: str, app_id: str, t0_ms: float, t1_ms: float) -> dict:
    """Sum task metrics of the jobs submitted in ``[t0_ms, t1_ms]``
    (epoch milliseconds) from the application's event log."""
    out = dict.fromkeys(EXEC_FIELDS, 0.0)
    paths = glob.glob(f"{log_dir}/{app_id}*")
    if not paths:
        return out
    stages: set[int] = set()
    with open(paths[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                if t0_ms <= ev.get("Submission Time", 0) <= t1_ms:
                    out["jobs"] += 1
                    stages.update(ev.get("Stage IDs", ()))
            elif kind == "SparkListenerStageCompleted":
                if ev["Stage Info"]["Stage ID"] in stages:
                    out["stages"] += 1
            elif kind == "SparkListenerTaskEnd" and ev.get("Stage ID") in stages:
                m = ev.get("Task Metrics") or {}
                out["tasks"] += 1
                out["task_run_s"] += m.get("Executor Run Time", 0) / 1e3
                out["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                out["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                sw = m.get("Shuffle Write Metrics") or {}
                out["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                out["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                out["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                out["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                out["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    return out
