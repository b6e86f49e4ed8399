"""Spans and counters recorded around the benchmark's calls into the library.

A disabled tracer costs one no-op context manager per call. An enabled one
records, per span: name, start, end, parent, request id, and the counters
Spark exposes from outside the library -- job/stage/task counts, executor run
time, shuffle write and spill (status tracker + status store, by job group),
Janino compile count and time (CodegenMetrics / CodeGenerator), and rows that
crossed the JVM -> Python boundary (SQL metrics of the executed plans' Python
nodes). Spans stay in memory; `finish` resolves their job counters once the
listener bus has drained, and `dump` writes them out.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager

# executed-plan node names whose output rows crossed the Arrow boundary
_PYTHON_NODES = ("Python", "InPandas", "InArrow")

SPARK_COUNTERS = (
    "spark.jobs",
    "spark.stages",
    "spark.tasks",
    "spark.executor_run_s",
    "spark.shuffle_write_bytes",
    "spark.spill_bytes",
    "arrow.python_rows",
)
CODEGEN_COUNTERS = ("codegen.compiles", "codegen.compile_ms")


class Span:
    __slots__ = ("sid", "name", "parent", "req", "start", "end", "counters", "group")

    def __init__(self, sid: int, name: str, parent: int | None, req: str | None):
        self.sid = sid
        self.name = name
        self.parent = parent
        self.req = req
        self.start = time.perf_counter()
        self.end = self.start
        self.counters: dict[str, float] = {}
        self.group = f"perfbench-span-{sid}"

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def wall(self) -> float:
        return self.end - self.start

    def to_json(self, t0: float) -> dict:
        return {
            "id": self.sid,
            "name": self.name,
            "parent": self.parent,
            "req": self.req,
            "start_s": round(self.start - t0, 6),
            "end_s": round(self.end - t0, 6),
            "counters": self.counters,
        }


class Tracer:
    """Records spans when ``enabled``; otherwise every method is a no-op."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._spark = None
        self.t0 = time.perf_counter()
        self.req: str | None = None
        self._resolved = 0

    def attach(self, spark) -> None:
        """Point the Spark-side counters at a (new) session."""
        self._spark = spark

    # -- recording -----------------------------------------------------------

    def _codegen(self) -> tuple[int, int]:
        jvm = self._spark._jvm
        count = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()
        nanos = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime()
        return int(count), int(nanos)

    def _set_group(self, group: str | None) -> None:
        sc = self._spark.sparkContext
        if group is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(group, group)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, parent.sid if parent else None, self.req)
        self.spans.append(sp)
        self._stack.append(sp)
        live = self._spark is not None and self._spark.sparkContext._jsc is not None
        if live:
            self._set_group(sp.group)
            c0, n0 = self._codegen()
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if live and self._spark.sparkContext._jsc is not None:
                c1, n1 = self._codegen()
                sp.counters["_compiles_incl"] = c1 - c0
                sp.counters["_compile_ms_incl"] = (n1 - n0) / 1e6
                self._set_group(parent.group if parent else None)
            else:
                sp.group = None

    def count(self, name: str, value: float) -> None:
        """Attach a counter to the innermost open span."""
        if self.enabled and self._stack:
            c = self._stack[-1].counters
            c[name] = c.get(name, 0) + value

    # -- resolution ----------------------------------------------------------

    def finish(self) -> None:
        """Resolve the counters of every span recorded since the last call
        (call before the session those spans ran on stops). Codegen deltas
        were taken inclusive of child spans; they become self counts here."""
        if not self.enabled:
            return
        new = self.spans[self._resolved:]
        self._resolved = len(self.spans)
        for sp in new:
            if "_compiles_incl" not in sp.counters:
                continue
            kids = [c for c in self.spans if c.parent == sp.sid]
            for k, incl in zip(CODEGEN_COUNTERS, ("_compiles_incl", "_compile_ms_incl")):
                sp.counters[k] = sp.counters[incl] - sum(c.counters.get(incl, 0) for c in kids)
        for sp in new:
            sp.counters.pop("_compiles_incl", None)
            sp.counters.pop("_compile_ms_incl", None)
        if self._spark is None or self._spark.sparkContext._jsc is None:
            return
        sc = self._spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        store = jsc.statusStore()
        exec_of_job = self._executions_by_job()
        for sp in new:
            if sp.group is None:
                continue
            jobs = tracker.getJobIdsForGroup(sp.group)
            stages = tasks = run_ms = shuffle = spill = py_rows = 0
            seen_exec: set[int] = set()
            for j in jobs:
                info = tracker.getJobInfo(j)
                for sid in (info.stageIds if info else []):
                    try:
                        st = store.lastStageAttempt(sid)
                    except Exception:  # skipped stage: never ran, no attempt recorded
                        continue
                    stages += 1
                    tasks += st.numTasks()
                    run_ms += st.executorRunTime()
                    shuffle += st.shuffleWriteBytes()
                    spill += st.memoryBytesSpilled() + st.diskBytesSpilled()
                ex = exec_of_job.get(j)
                if ex is not None and ex[0] not in seen_exec:
                    seen_exec.add(ex[0])
                    py_rows += ex[1]
            sp.counters.update({
                "spark.jobs": len(jobs),
                "spark.stages": stages,
                "spark.tasks": tasks,
                "spark.executor_run_s": run_ms / 1e3,
                "spark.shuffle_write_bytes": shuffle,
                "spark.spill_bytes": spill,
                "arrow.python_rows": py_rows,
            })

    def _executions_by_job(self) -> dict[int, tuple[int, int]]:
        """job id -> (SQL execution id, rows output by its Python nodes)."""
        ss = self._spark._jsparkSession.sharedState().statusStore()
        out: dict[int, tuple[int, int]] = {}
        execs = ss.executionsList()
        for i in range(execs.size()):
            ex = execs.apply(i)
            eid = ex.executionId()
            rows = 0
            nodes = ss.planGraph(eid).allNodes()
            values = None
            for n in range(nodes.size()):
                node = nodes.apply(n)
                if not any(t in node.name() for t in _PYTHON_NODES):
                    continue
                if values is None:
                    values = ss.executionMetrics(eid)
                ms = node.metrics()
                for m in range(ms.size()):
                    metric = ms.apply(m)
                    if metric.name() == "number of output rows":
                        v = values.get(metric.accumulatorId())
                        if v.isDefined():
                            rows += _metric_int(v.get())
            it = ex.jobs().keysIterator()
            while it.hasNext():
                out[int(it.next())] = (eid, rows)
        return out

    # -- reporting -----------------------------------------------------------

    def self_time(self, sp: Span) -> float:
        kids = [s for s in self.spans if s.parent == sp.sid]
        return sp.wall - sum(k.wall for k in kids)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([s.to_json(self.t0) for s in self.spans], f)


def _metric_int(text: str) -> int:
    """SQL metric values render as '1,234'; timing/size metrics carry a
    'total (min, med, max)' prefix we never ask for."""
    head = str(text).split("\n")[0].replace(",", "").strip()
    try:
        return int(float(head))
    except ValueError:
        return 0


def median_or_zero(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0
