"""Tracing for the benchmark's traced run, recorded from outside the program.

Two sources, neither of which changes product code:

- ``Tracer`` wraps the public functions of each layer's modules
  (``kaylee_spark.sources``, ``operators.*``, ``functions``, ``streaming``
  and ``MapReduceJob.run``/``results``) and records a span per call:
  name, layer, start, end, parent and run id. Spans are kept in memory
  and written out when the run ends.
- ``SparkWindow`` reads Spark's own status store (jobs, stages, task
  quantiles) for a wall-clock window, and ``stream_listener`` collects
  streaming progress events. Jobs are attributed to a window by their
  submission time, not by job group, so micro-batches that run on a
  stream thread still count.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import statistics
import sys
import threading
import time
from dataclasses import dataclass, field

#: traced module -> layer name (each operator module is a layer of its own)
LAYER_MODULES = {
    "kaylee_spark.sources": "sources",
    "kaylee_spark.functions": "functions",
    "kaylee_spark.streaming": "streaming",
}
#: the modules of ``kaylee_spark/operators/``; each is its own layer
OPERATOR_MODULES = (
    "analytics", "dedup", "dq", "graph", "joins", "lsh_planner", "maintenance", "multimodal",
    "profiling", "ranking", "sampling", "similarity", "skew", "text", "timeseries",
)

STREAM_PHASES = ("addBatch", "walCommit", "commitOffsets", "queryPlanning", "latestOffset", "getBatch")


@dataclass
class Span:
    name: str
    layer: str
    start: float
    parent: int | None
    run: str
    end: float = 0.0
    child_s: float = 0.0

    @property
    def self_s(self) -> float:
        return self.end - self.start - self.child_s


@dataclass
class Tracer:
    """Records spans around calls into the engine's layers while ``enabled``."""

    enabled: bool = False
    run: str = ""
    spans: list[Span] = field(default_factory=list)
    _local: threading.local = field(default_factory=threading.local)
    # streaming callbacks (foreachBatch) call into the layers on other threads
    _lock: threading.Lock = field(default_factory=threading.Lock)

    def span(self, name: str, layer: str):
        return _SpanScope(self, name, layer)

    def wrap(self, fn, name: str, layer: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            with tracer.span(name, layer):
                return fn(*args, **kwargs)

        return traced

    def install(self) -> None:
        """Wrap every public function of the traced modules, then rebind
        every reference to them that other ``kaylee_spark`` modules hold
        (they import functions by name)."""
        import kaylee_spark.core.mapreduce as mr

        modules = [f"kaylee_spark.operators.{m}" for m in OPERATOR_MODULES]
        modules += ["kaylee_spark.sources", "kaylee_spark.functions", "kaylee_spark.streaming"]
        replaced = {}
        for modname in modules:
            mod = importlib.import_module(modname)
            layer = layer_of(modname)
            for attr, fn in vars(mod).items():
                if attr.startswith("_") or not inspect.isfunction(fn) or fn.__module__ != modname:
                    continue
                wrapped = self.wrap(fn, f"{modname}.{attr}", layer)
                setattr(mod, attr, wrapped)
                replaced[id(fn)] = (fn, wrapped)
        for meth in ("run", "results"):
            setattr(mr.MapReduceJob, meth, self.wrap(getattr(mr.MapReduceJob, meth), f"MapReduceJob.{meth}", "core"))
        importlib.import_module("kaylee_spark.queries").load_everything()
        for modname, mod in list(sys.modules.items()):
            if not modname.startswith("kaylee_spark") or mod is None:
                continue
            for attr, value in list(vars(mod).items()):
                hit = replaced.get(id(value))
                if hit is not None and hit[0] is value:
                    setattr(mod, attr, hit[1])

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({
                    "id": i, "name": s.name, "layer": s.layer, "start": s.start,
                    "end": s.end, "parent": s.parent, "run": s.run,
                }) + "\n")

    def layer_totals(self, run: str) -> dict[str, dict[str, float]]:
        """Per-layer ``calls`` and self time (``s``) of one run's spans."""
        out: dict[str, dict[str, float]] = {}
        for s in self.spans:
            if s.run != run:
                continue
            agg = out.setdefault(s.layer, {"calls": 0, "s": 0.0})
            agg["calls"] += 1
            agg["s"] += s.self_s
            if s.name.startswith("MapReduceJob."):
                key = "run_s" if s.name.endswith(".run") else "results_s"
                agg[key] = agg.get(key, 0.0) + (s.end - s.start)
        return out


class _SpanScope:
    def __init__(self, tracer: Tracer, name: str, layer: str) -> None:
        self.tracer, self.name, self.layer = tracer, name, layer

    def __enter__(self) -> Span:
        stack = self.tracer._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        span = Span(self.name, self.layer, time.time(), parent, self.tracer.run)
        with self.tracer._lock:
            self.tracer.spans.append(span)
            stack.append(len(self.tracer.spans) - 1)
        self.span = span
        return span

    def __exit__(self, *exc) -> None:
        self.tracer._local.stack.pop()
        self.span.end = time.time()
        if self.span.parent is not None:
            # the parent is on this thread's stack, so no other thread updates it
            self.tracer.spans[self.span.parent].child_s += self.span.end - self.span.start


def layer_of(modname: str) -> str:
    if modname.startswith("kaylee_spark.operators."):
        return "operators." + modname.rsplit(".", 1)[1]
    return LAYER_MODULES[modname]


# -- Spark status store ---------------------------------------------------


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


class SparkWindow:
    """Spark jobs, stages and tasks submitted within a wall-clock window,
    read from the application status store (works with the UI off)."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.store = self.jsc.statusStore()
        quantiles = self.sc._gateway.new_array(self.sc._gateway.jvm.double, 2)
        quantiles[0], quantiles[1] = 0.5, 1.0
        self._quantiles = quantiles

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event so far."""
        self.jsc.listenerBus().waitUntilEmpty()

    def jobs(self, start: float, end: float) -> list[tuple[int, float, float, list[int]]]:
        """(job id, submitted, completed, stage ids) for jobs submitted in [start, end]."""
        self.drain()
        out = []
        seq = self.store.jobsList(None)
        for i in range(seq.size()):
            j = seq.apply(i)
            sub = _opt_ms(j.submissionTime())
            if sub is None or not (start <= sub <= end):
                continue
            done = _opt_ms(j.completionTime()) or end
            ids = j.stageIds()
            out.append((j.jobId(), sub, done, [ids.apply(k) for k in range(ids.size())]))
        return out

    def metrics(self, jobs, start: float, end: float, cores: int) -> dict[str, float]:
        stage_ids = sorted({s for *_, ids in jobs for s in ids})
        m = dict.fromkeys(
            ("stages", "tasks", "task_s", "cpu_s", "shuffle_read_mb", "shuffle_write_mb",
             "spill_mb", "gc_s", "input_mb", "input_rows"), 0.0)
        heaviest = (0, None)
        for sid in stage_ids:
            try:
                s = self.store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 - evicted from the store
                continue
            if s.status().toString() == "SKIPPED":
                continue
            run_ms = s.executorRunTime()
            m["stages"] += 1
            m["tasks"] += s.numTasks()
            m["task_s"] += run_ms / 1e3
            m["cpu_s"] += s.executorCpuTime() / 1e9
            m["shuffle_read_mb"] += s.shuffleReadBytes() / 2**20
            m["shuffle_write_mb"] += s.shuffleWriteBytes() / 2**20
            m["spill_mb"] += s.diskBytesSpilled() / 2**20
            m["gc_s"] += s.jvmGcTime() / 1e3
            m["input_mb"] += s.inputBytes() / 2**20
            m["input_rows"] += s.inputRecords()
            if run_ms > heaviest[0]:
                heaviest = (run_ms, (sid, s.attemptId()))
        m["max_stage_skew"] = self._skew(*heaviest[1]) if heaviest[1] else 1.0
        m["jobs"] = float(len(jobs))
        busy = _union_s([(a, b) for _, a, b, _ in jobs])
        wall = end - start
        m["driver_gap_s"] = max(wall - busy, 0.0)
        m["util"] = m["task_s"] / (wall * cores) if wall > 0 else 0.0
        m["py_wait_s"] = max(m["task_s"] - m["cpu_s"], 0.0)
        return m

    def _skew(self, stage_id: int, attempt: int) -> float:
        summary = self.store.taskSummary(stage_id, attempt, self._quantiles)
        if not summary.isDefined():
            return 1.0
        q = summary.get().executorRunTime()
        median, longest = q.apply(0), q.apply(1)
        return longest / median if median > 0 else 1.0


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


# -- streaming progress ---------------------------------------------------


def stream_listener(spark):
    """Register a ``StreamingQueryListener`` that keeps every progress event.

    Returns the list it appends to: (trigger start epoch s, progress).
    """
    from datetime import datetime

    from pyspark.sql.streaming import StreamingQueryListener

    events: list[tuple[float, object]] = []

    class Collect(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            ts = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
            events.append((ts, p))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    spark.streams.addListener(Collect())
    return events


def stream_metrics(events, start: float, end: float) -> dict[str, float]:
    """Per-trigger phase totals for progress events whose trigger began in [start, end]."""
    window = [p for ts, p in list(events) if start <= ts <= end]
    m = {f"{ph}_ms": 0.0 for ph in STREAM_PHASES}
    trig = []
    last_state: dict[str, tuple[float, float]] = {}
    rows = 0.0
    for p in window:
        d = p.durationMs
        for ph in STREAM_PHASES:
            m[f"{ph}_ms"] += d.get(ph, 0)
        trig.append(d.get("triggerExecution", 0))
        rows += p.numInputRows
        ops = p.stateOperators
        last_state[str(p.id)] = (
            sum(o.numRowsTotal for o in ops),
            sum(o.memoryUsedBytes for o in ops) / 2**20,
        )
    m["triggers"] = float(len(window))
    m["trigger_p50_ms"] = statistics.median(trig) if trig else 0.0
    m["input_rows"] = rows
    m["state_rows"] = sum(r for r, _ in last_state.values())
    m["state_mb"] = sum(b for _, b in last_state.values())
    return m
