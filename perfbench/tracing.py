"""Traced mode: spans around the calls the benchmark makes into each layer
of the engine, and counters from Spark's own trackers.

Spans come from the benchmark's own files only: :meth:`Tracer.install`
wraps every public module-level function of each layer module listed
in ``LAYERS`` (the engine itself is not edited), and the workloads open
explicit spans around query builds and Spark actions.  Spans are kept in
memory and written out once, when the run ends.

Spark-side counters (:class:`SparkProbe`) are read through py4j:

- Catalyst phase times from ``QueryExecution.tracker().phases()`` and
  operator metrics (shuffle, spill, Python worker time and bytes) from
  the AQE-final physical plan of every QueryExecution that actually ran,
  delivered by a ``QueryExecutionListener``;
- micro-batch ``durationMs`` splits from a ``StreamingQueryListener``;
- jobs, stages and tasks per operation from the status tracker, over the
  window of job ids the operation launched (streaming micro-batches
  replace the caller's job group with their run id, so the group alone
  would miss them; the group is still set, to label the jobs);
- GC time from the JVM's GC MXBeans, and persisted-RDD storage.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import json
import pkgutil
import re
import sys
import time
from collections import defaultdict

PKG = "sales_forecast_mlops_at_scale_spark"

#: layer -> module names (relative to the package) whose public functions
#: get a span.  The order matters: the first matching prefix wins, so the
#: specific operator layers come before the generic ``operators``.
LAYERS: dict[str, tuple[str, ...]] = {
    "session": ("session",),
    "catalog": ("catalog",),
    "sources": ("sources",),
    "operators.ingest": ("operators.ingest",),
    "streaming.ingest": ("streaming.ingest",),
    "operators.groupmap": ("operators.groupmap",),
    "operators.llm": ("operators.llm",),
    "operators": ("operators",),
    "ml": ("ml",),
    "pipeline": ("pipeline",),
    "plans.star": ("plans.star_queries",),
    "plans.tpch": ("plans.tpch_queries",),
    "plans.analytics": ("plans.analytics_queries",),
    "plans.ml": ("plans.ml_queries",),
    "plans.llm": ("plans.llm_queries",),
    "cache": ("cache",),
}
#: Spans the benchmark opens itself: the operation root and the Spark
#: actions (count / write / collect) it triggers.
BENCH_LAYERS = ("bench", "action")


def layer_of(module: str) -> str | None:
    rel = module[len(PKG) + 1 :] if module.startswith(PKG + ".") else None
    if rel is None:
        return None
    for layer, prefixes in LAYERS.items():
        if any(rel == p or rel.startswith(p + ".") for p in prefixes):
            return layer
    return None


class Tracer:
    """In-memory span recorder.  A span is ``(op, id, parent, name, layer,
    start, end)``; spans of one benchmark operation share ``op``."""

    def __init__(self) -> None:
        self.spans: list[tuple] = []
        self.active = False
        self.op = -1
        self._stack: list[int] = []
        self._next = 0

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        if not self.active:
            yield
            return
        sid, parent = self._next, (self._stack[-1] if self._stack else -1)
        self._next += 1
        self._stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            self._stack.pop()
            self.spans.append((self.op, sid, parent, name, layer, start, time.perf_counter()))

    def wrap(self, fn, layer: str):
        name = f"{fn.__module__[len(PKG) + 1 :]}.{fn.__name__}"

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.active:
                return fn(*args, **kwargs)
            with self.span(name, layer):
                return fn(*args, **kwargs)

        traced.__perfbench_original__ = fn
        return traced

    def install(self) -> int:
        """Wrap the public functions of every layer module, and rebind
        every reference to them held by other modules of the package
        (``from .x import f`` copies).  Returns the number wrapped."""
        pkg = importlib.import_module(PKG)
        for info in pkgutil.walk_packages(pkg.__path__, PKG + "."):
            importlib.import_module(info.name)
        modules = [m for name, m in sys.modules.items() if name.startswith(PKG) and m]
        wrapped = {}
        for mod in modules:
            layer = layer_of(mod.__name__)
            if layer is None:
                continue
            for attr, fn in vars(mod).items():
                if (
                    inspect.isfunction(fn)
                    and not attr.startswith("_")
                    and fn.__module__ == mod.__name__
                    and not inspect.isgeneratorfunction(fn)
                ):
                    wrapped[fn] = self.wrap(fn, layer)
        for mod in modules:
            for attr, val in list(vars(mod).items()):
                if inspect.isfunction(val) and val in wrapped:
                    setattr(mod, attr, wrapped[val])
        return len(wrapped)

    def self_times(self) -> dict[str, float]:
        """Seconds of self time per layer: a span's duration minus the
        time its direct children cover."""
        child = defaultdict(float)
        for op, sid, parent, *_rest, start, end in self.spans:
            if parent >= 0:
                child[(op, parent)] += end - start
        out: dict[str, float] = defaultdict(float)
        for op, sid, parent, name, layer, start, end in self.spans:
            out[layer] += (end - start) - child[(op, sid)]
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for op, sid, parent, name, layer, start, end in self.spans:
                f.write(
                    json.dumps(
                        {"op": op, "id": sid, "parent": parent, "name": name,
                         "layer": layer, "start": start, "end": end}
                    )
                    + "\n"
                )


# ---------------------------------------------------------------------------
# Spark-side counters
# ---------------------------------------------------------------------------

_PY_METRICS = {
    "pythonTotalTime": "python_total_ms",
    "pythonBootTime": "python_boot_ms",
    "pythonInitTime": "python_init_ms",
    "pythonDataSent": "python_bytes_sent",
    "pythonDataReceived": "python_bytes_received",
}
_METRIC_RE = re.compile(r"^(\w+) -> SQLMetric\(id: \d+, name: .*?, value: (-?\d+)\)$")
_PHASE_RE = re.compile(r"(\w+) -> PhaseSummary\((\d+), (\d+)\)")


class SparkProbe:
    """Counters for one benchmark operation at a time, read from Spark.

    ``bucket(name)`` routes the QueryExecution metrics of the actions run
    inside it to ``name``; a bucket waits for Spark's listener bus to
    drain on exit, so every event lands in the bucket that caused it."""

    def __init__(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        self.spark = spark
        self.sc = spark.sparkContext
        self.jvm = self.sc._jvm
        self.errors = 0
        self.current: dict[str, float] | None = None
        self.buckets: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        self.progress: list[dict] = []
        probe = self

        class _QEListener:
            def onSuccess(self, func_name, qe, duration_ns):
                probe._on_qe(qe)

            def onFailure(self, func_name, qe, exc):
                pass

            class Java:
                implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

        class _StreamListener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                probe.progress.append(dict(p.durationMs, numInputRows=p.numInputRows))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        from pyspark.java_gateway import ensure_callback_server_started

        ensure_callback_server_started(self.sc._gateway)
        self._qe_listener = _QEListener()
        self._stream_listener = _StreamListener()
        self._gc_beans = list(self.jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans())

    def attach(self) -> None:
        self.spark._jsparkSession.listenerManager().register(self._qe_listener)
        self.spark.streams.addListener(self._stream_listener)

    def detach(self) -> None:
        self.drain()
        self.spark._jsparkSession.listenerManager().unregister(self._qe_listener)
        self.spark.streams.removeListener(self._stream_listener)

    def drain(self) -> None:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def next_job_id(self) -> int:
        return int(self.sc._jsc.sc().dagScheduler().nextJobId())

    def gc_ms(self) -> float:
        return float(sum(b.getCollectionTime() for b in self._gc_beans))

    def job_counts(self, first: int, end: int) -> tuple[int, int, int]:
        """(jobs, stages that ran, tasks completed) for job ids [first, end)."""
        tracker = self.sc.statusTracker()
        stages: set[int] = set()
        jobs = 0
        for jid in range(first, end):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            jobs += 1
            stages.update(info.stageIds)
        tasks = ran = 0
        for sid in stages:
            st = tracker.getStageInfo(sid)
            if st is not None and st.numCompletedTasks > 0:
                ran += 1
                tasks += st.numCompletedTasks
        return jobs, ran, tasks

    def storage(self) -> tuple[int, float]:
        """(persisted RDDs, MB they hold in memory and on disk)."""
        sc = self.sc._jsc.sc()
        infos = sc.getRDDStorageInfo()
        size = sum(int(i.memSize()) + int(i.diskSize()) for i in infos)
        return int(sc.getPersistentRDDs().size()), size / 2**20

    @contextlib.contextmanager
    def bucket(self, name: str):
        self.drain()
        prev, self.current = self.current, self.buckets[name]
        try:
            yield self.current
        finally:
            self.drain()
            self.current = prev

    # -- QueryExecution walking (listener thread) --------------------------

    def _on_qe(self, qe) -> None:
        target = self.current
        if target is None:
            return
        try:
            for name, start, end in _PHASE_RE.findall(qe.tracker().phases().mkString(", ")):
                if name in ("analysis", "optimization", "planning"):
                    target[f"{name}_ms"] += int(end) - int(start)
            self._walk(qe.executedPlan(), target)
            target["queries"] += 1
        except Exception:  # noqa: BLE001 — a listener must never kill the bus
            self.errors += 1

    def _walk(self, plan, target) -> None:
        name = plan.nodeName()
        if name == "AdaptiveSparkPlan":
            return self._walk(plan.executedPlan(), target)
        if name == "CommandResult":
            return self._walk(plan.commandPhysicalPlan(), target)
        if name.startswith("ReusedExchange"):
            return
        if "QueryStage" in plan.getClass().getSimpleName():
            return self._walk(plan.plan(), target)
        for line in plan.metrics().mkString("\n").splitlines():
            m = _METRIC_RE.match(line)
            if not m:
                continue
            key, value = m.group(1), int(m.group(2))
            if key in _PY_METRICS:  # timings in ms, sizes in bytes
                target[_PY_METRICS[key]] += value
            elif key == "shuffleBytesWritten":
                target["shuffle_bytes"] += value
            elif key == "spillSize":
                target["spill_bytes"] += value
            elif key in ("taskCommitTime", "jobCommitTime"):
                target["write_commit_ms"] += value
            elif key == "numFiles":
                target["files_written"] += value
        children = plan.children()
        for i in range(children.size()):
            self._walk(children.apply(i), target)
        subs = plan.subqueries()
        for i in range(subs.size()):
            self._walk(subs.apply(i), target)
