"""Tracing for the benchmark's traced run, built only from the outside.

Three sources, none of which needs a change to the program:

- **Spans** around calls into each layer's public functions. After the
  registry is imported, every public function of a traced module is
  replaced, in every ``echem_dft_etl_spark`` module that holds it, by a
  wrapper that records (name, layer, start, end, parent, query id).
  Spans stay in memory until the run ends.
- **Spark's status store**, read through the JVM after each query:
  jobs, stages, tasks, executor run/CPU/GC/deserialize time, shuffle
  bytes, spill, stage spans, and SQL join output rows.
- **A ``StreamingQueryListener``** for per-trigger progress: batches,
  trigger, addBatch, WAL, planning and state-store commit times.
"""

from __future__ import annotations

import importlib
import inspect
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql.streaming import StreamingQueryListener

PKG = "echem_dft_etl_spark"

#: layer -> (module, names); ``None`` wraps every public function
#: defined in the module.
LAYERS: dict[str, list[tuple[str, tuple[str, ...] | None]]] = {
    "sources": [
        (f"{PKG}.sources.tables", ("load_table", "register_views")),
        (f"{PKG}.sources.sinks", None),
    ],
    "pipeline": [(f"{PKG}.pipeline", None)],
    "operators.components": [(f"{PKG}.operators.components", None)],
    "operators.storage": [
        (f"{PKG}.operators.storage", ("tracked_checkpoint", "release_rdds")),
    ],
    "operators.similarity": [(f"{PKG}.operators.similarity", None)],
    "operators.dedup": [(f"{PKG}.operators.dedup", None)],
    "streaming": [
        (f"{PKG}.streaming.windows", None),
        (f"{PKG}.streaming.stateful", None),
    ],
}

#: Layers of the spans the benchmark itself opens: the query as a whole
#: (forcing the returned plan with the noop sink) and ``QuerySpec.fn``.
ROOT_LAYER = "execute"
REGISTRY_LAYER = "registry"
ALL_LAYERS = (ROOT_LAYER, REGISTRY_LAYER, *LAYERS)


@dataclass
class Span:
    name: str
    layer: str
    start: float
    end: float = 0.0
    parent: int | None = None
    query: str | None = None
    children: list[int] = field(default_factory=list)


class Tracer:
    """Records spans while ``active``; wrappers cost one flag test when not."""

    def __init__(self) -> None:
        self.active = False
        self.spans: list[Span] = []
        self.query: str | None = None
        self._lock = threading.Lock()  # callback threads record spans too
        self._local = threading.local()
        self._main = threading.main_thread()
        self._main_stack: list[int] = []

    def _stack(self) -> list[int]:
        if threading.current_thread() is self._main:
            return self._main_stack
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def open(self, name: str, layer: str) -> int:
        stack = self._stack()
        if stack:
            parent = stack[-1]
        elif self._main_stack:
            # callback threads (foreachBatch, listeners) run while the
            # main thread waits inside the span that started them
            parent = self._main_stack[-1]
        else:
            parent = None
        with self._lock:
            idx = len(self.spans)
            self.spans.append(Span(name, layer, time.time(), parent=parent, query=self.query))
            if parent is not None:
                self.spans[parent].children.append(idx)
        stack.append(idx)
        return idx

    def take(self) -> list[Span]:
        """Return the spans recorded so far and start a new list."""
        with self._lock:
            spans, self.spans = self.spans, []
        return spans

    def close(self, idx: int) -> None:
        self.spans[idx].end = time.time()
        stack = self._stack()
        if stack and stack[-1] == idx:
            stack.pop()

    @contextmanager
    def span(self, name: str, layer: str):
        idx = self.open(name, layer) if self.active else None
        try:
            yield
        finally:
            if idx is not None:
                self.close(idx)

    def wrap(self, fn, layer: str):
        tracer = self
        name = f"{fn.__module__}.{fn.__qualname__}"

        def traced(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            idx = tracer.open(name, layer)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.close(idx)

        traced.__wrapped__ = fn
        traced.__name__ = fn.__name__
        traced.__qualname__ = fn.__qualname__
        traced.__doc__ = fn.__doc__
        return traced

    def install(self) -> int:
        """Replace every traced function wherever the package holds it.

        Returns the number of module attributes replaced.
        """
        originals: dict[int, object] = {}
        for layer, targets in LAYERS.items():
            for mod_name, names in targets:
                mod = importlib.import_module(mod_name)
                if names is None:
                    names = tuple(
                        n
                        for n, obj in vars(mod).items()
                        if not n.startswith("_")
                        and inspect.isfunction(obj)
                        and obj.__module__ == mod_name
                    )
                for n in names:
                    fn = getattr(mod, n)
                    originals[id(fn)] = self.wrap(fn, layer)
        replaced = 0
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not (mod_name == PKG or mod_name.startswith(PKG + ".")):
                continue
            for attr, obj in list(vars(mod).items()):
                wrapper = originals.get(id(obj))
                if wrapper is not None and getattr(wrapper, "__wrapped__", None) is obj:
                    setattr(mod, attr, wrapper)
                    replaced += 1
        return replaced


# ---------------------------------------------------------------- spans


def _union(intervals: list[tuple[float, float]]) -> list[tuple[float, float]]:
    out: list[list[float]] = []
    for a, b in sorted(intervals):
        if b <= a:
            continue
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [(a, b) for a, b in out]


def _length(intervals: list[tuple[float, float]]) -> float:
    return sum(b - a for a, b in intervals)


def _subtract(
    base: list[tuple[float, float]], cut: list[tuple[float, float]]
) -> list[tuple[float, float]]:
    out = []
    for a, b in base:
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


def _intersect_len(
    base: list[tuple[float, float]], other: list[tuple[float, float]]
) -> float:
    return _length(base) - _length(_subtract(base, other))


def self_times(
    spans: list[Span], stages: list[tuple[float, float]]
) -> dict[str, dict[str, float]]:
    """Per layer: self time, split into the part inside Spark stage spans
    and the driver-side part outside them. A span's self time is its
    interval minus the union of its children's intervals."""
    stage_union = _union(stages)
    out: dict[str, dict[str, float]] = {}
    for s in spans:
        own = _subtract(
            [(s.start, s.end)],
            _union([(spans[c].start, spans[c].end) for c in s.children]),
        )
        total = _length(own)
        in_stages = _intersect_len(own, stage_union)
        row = out.setdefault(s.layer, {"self_s": 0.0, "in_stages_s": 0.0, "driver_s": 0.0})
        row["self_s"] += total
        row["in_stages_s"] += in_stages
        row["driver_s"] += total - in_stages
    return out


def outer_time(spans: list[Span], match) -> tuple[float, int]:
    """(seconds, calls) of the outermost spans matching ``match``: nested
    matching spans are inside their ancestor's time and not counted."""
    total = 0.0
    calls = 0
    for s in spans:
        if not match(s):
            continue
        p = s.parent
        nested = False
        while p is not None:
            if match(spans[p]):
                nested = True
                break
            p = spans[p].parent
        if not nested:
            total += s.end - s.start
            calls += 1
    return total, calls


def pass_metrics(spans: list[Span], pass_data: dict, result_rows: dict[str, int]) -> dict:
    """The per-layer metrics of one traced pass.

    ``pass_data`` holds the pass's Spark totals (``spark``), stream
    progress totals (``stream``), stage spans and, per query, the largest
    join output (``max_join_rows``); ``result_rows`` the row count of each
    query's result.
    """

    def layer_is(layer):
        return lambda s: s.layer == layer

    def fn_is(layer, fn):
        return lambda s: s.layer == layer and s.name.endswith("." + fn)

    roots = [s for s in spans if s.layer == ROOT_LAYER]
    wall = sum(s.end - s.start for s in roots)
    stage_union = _union(pass_data["stage_spans"])
    m: dict[str, float] = {"trace.pass_s": wall}
    m["registry.plan_build_s"], _ = outer_time(spans, layer_is(REGISTRY_LAYER))
    m["sources.load_table_s"], m["sources.load_table.calls"] = outer_time(
        spans, fn_is("sources", "load_table")
    )
    m["sources.register_views_s"], _ = outer_time(spans, fn_is("sources", "register_views"))
    m["sources.sinks_s"], m["sources.sinks.calls"] = outer_time(
        spans, lambda s: s.layer == "sources" and ".sinks." in s.name
    )
    m["pipeline.run_s"], _ = outer_time(spans, layer_is("pipeline"))
    m["operators.components_s"], m["operators.components.calls"] = outer_time(
        spans, layer_is("operators.components")
    )
    m["operators.storage.checkpoint_s"], m["operators.storage.checkpoints"] = outer_time(
        spans, fn_is("operators.storage", "tracked_checkpoint")
    )
    _, m["operators.storage.releases"] = outer_time(spans, fn_is("operators.storage", "release_rdds"))
    m["operators.similarity_s"], _ = outer_time(spans, layer_is("operators.similarity"))
    m["operators.dedup_s"], _ = outer_time(spans, layer_is("operators.dedup"))
    m["streaming.run_s"], _ = outer_time(spans, layer_is("streaming"))
    for k, v in pass_data["stream"].items():
        m[f"streaming.{k}"] = v
    # stream run time not covered by any trigger
    m["streaming.idle_s"] = max(0.0, m["streaming.run_s"] - pass_data["stream"]["trigger_ms"] / 1e3)
    for k, v in pass_data["spark"].items():
        m[f"spark.{k}"] = v
    # wall time of the queries outside every stage span
    m["spark.driver_gap_s"] = sum(
        (s.end - s.start) - _intersect_len([(s.start, s.end)], stage_union) for s in roots
    )
    joined = {q: r for q, r in pass_data["max_join_rows"].items() if r}
    useful = sum(result_rows.get(q, 0) for q in joined)
    m["spark.useful_ratio"] = useful / sum(joined.values()) if joined else 1.0
    layers = self_times(spans, pass_data["stage_spans"])
    for layer in ALL_LAYERS:
        row = layers.get(layer, {"self_s": 0.0, "driver_s": 0.0})
        m[f"self.{layer}_s"] = row["self_s"]
        m[f"self.{layer}.driver_s"] = row["driver_s"]
    return m


# --------------------------------------------------------- spark counters


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


class SparkCounters:
    """Reads the jobs, stages and SQL executions a query added to
    Spark's status stores since the previous call."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext._jsc.sc()
        self.store = self.sc.statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self.last_job = -1
        self.last_exec = -1
        self.seen_stages: set[int] = set()
        self.drain()
        self.collect()  # everything so far belongs to set-up

    def drain(self) -> None:
        self.sc.listenerBus().waitUntilEmpty(30_000)

    def collect(self) -> dict:
        self.drain()
        jobs = self.store.jobsList(None)
        new_jobs = []
        for i in range(jobs.size()):  # newest first
            j = jobs.apply(i)
            if j.jobId() <= self.last_job:
                break
            new_jobs.append(j)
        out = {
            "jobs": len(new_jobs),
            "stages": 0,
            "tasks": 0,
            "executor_run_s": 0.0,
            "executor_cpu_s": 0.0,
            "gc_s": 0.0,
            "deser_s": 0.0,
            "shuffle_write_bytes": 0,
            "shuffle_read_bytes": 0,
            "spill_bytes": 0,
            "stage_spans": [],
            "max_join_rows": 0,
        }
        if new_jobs:
            self.last_job = max(j.jobId() for j in new_jobs)
        for j in new_jobs:
            ids = j.stageIds()
            for k in range(ids.size()):
                sid = ids.apply(k)
                if sid in self.seen_stages:
                    continue
                self.seen_stages.add(sid)
                st = self.store.lastStageAttempt(sid)
                if st.status().toString() not in ("COMPLETE", "FAILED"):
                    continue  # skipped: its output was reused
                out["stages"] += 1
                out["tasks"] += st.numTasks()
                out["executor_run_s"] += st.executorRunTime() / 1e3
                out["executor_cpu_s"] += st.executorCpuTime() / 1e9
                out["gc_s"] += st.jvmGcTime() / 1e3
                out["deser_s"] += st.executorDeserializeTime() / 1e3
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["shuffle_read_bytes"] += st.shuffleReadBytes()
                out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                a, b = _opt_ms(st.submissionTime()), _opt_ms(st.completionTime())
                if a is not None and b is not None:
                    out["stage_spans"].append((a, b))
        execs = self.sql_store.executionsList()
        newest = self.last_exec
        for i in range(execs.size()):
            eid = execs.apply(i).executionId()
            if eid <= self.last_exec:
                continue
            newest = max(newest, eid)
            out["max_join_rows"] = max(out["max_join_rows"], self._max_join_rows(eid))
        self.last_exec = newest
        return out

    def _max_join_rows(self, eid: int) -> int:
        values = self.sql_store.executionMetrics(eid)
        nodes = self.sql_store.planGraph(eid).allNodes()
        best = 0
        for k in range(nodes.size()):
            node = nodes.apply(k)
            if "Join" not in node.name():
                continue
            metrics = node.metrics()
            for m in range(metrics.size()):
                metric = metrics.apply(m)
                if metric.name() != "number of output rows":
                    continue
                v = values.get(metric.accumulatorId())
                if v.isDefined():
                    digits = "".join(ch for ch in v.get() if ch.isdigit())
                    best = max(best, int(digits or 0))
        return best


class StreamProgress(StreamingQueryListener):
    """Sums per-trigger progress of every streaming query."""

    KEYS = ("batches", "trigger_ms", "add_batch_ms", "wal_ms", "planning_ms", "state_commit_ms")

    def __init__(self) -> None:
        super().__init__()
        self.lock = threading.Lock()
        self.totals = dict.fromkeys(self.KEYS, 0)

    def take(self) -> dict:
        """Return the totals since the previous call and start new ones."""
        with self.lock:
            prev, self.totals = self.totals, dict.fromkeys(self.KEYS, 0)
        return prev

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        d = p.durationMs or {}
        with self.lock:
            t = self.totals
            t["batches"] += 1
            t["trigger_ms"] += d.get("triggerExecution", 0)
            t["add_batch_ms"] += d.get("addBatch", 0)
            t["wal_ms"] += d.get("walCommit", 0) + d.get("commitOffsets", 0)
            t["planning_ms"] += d.get("queryPlanning", 0)
            t["state_commit_ms"] += sum(
                (op.commitTimeMs or 0) for op in (p.stateOperators or [])
            )
