"""Spans, Spark counters and host diagnostics for the benchmark.

Everything here reads the program from outside: spans are opened by
the benchmark around its calls into the package's public functions,
and counters are app-wide Spark and JVM figures read through py4j.
A span records its start, end and parent, and the deltas of the
app-wide counters between its start and its end.  Stage metrics are
fetched from the status store by stage id when a top-level span ends,
after the listener bus has delivered every event posted so far, so the
store holds each stage's final figures and its retained-stage limit
never drops one.  Jobs are counted from the scheduler's job-id counter,
which also sees jobs launched on a streaming query's own thread.
"""

from __future__ import annotations

import contextlib
import json
import os
import time

# per-stage metrics summed over the stages a span launched
_STAGE = {
    "tasks": "numTasks",
    "run_ms": "executorRunTime",
    "cpu_ns": "executorCpuTime",
    "input_bytes": "inputBytes",
    "output_bytes": "outputBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "spill_bytes": "diskBytesSpilled",
}
_BUS_TIMEOUT_MS = 60_000


class Jvm:
    """py4j handles on the counters the spans read."""

    def __init__(self, spark):
        jvm = spark._jvm
        sc = spark._jsc.sc()
        self._bus = sc.listenerBus()
        self._dag = sc.dagScheduler()
        self._store = sc.statusStore()
        self._codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics
        mf = jvm.java.lang.management.ManagementFactory
        self._jit = mf.getCompilationMXBean()
        self._gcs = list(mf.getGarbageCollectorMXBeans())
        self._jvm = jvm
        scala = jvm.com.fasterxml.jackson.module.scala
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._mapper.registerModule(
            getattr(getattr(scala, "DefaultScalaModule$"), "MODULE$")
        )

    def jit_ms(self) -> int:
        return int(self._jit.getTotalCompilationTime())

    def gc_ms(self) -> int:
        return sum(int(b.getCollectionTime()) for b in self._gcs)

    def snapshot(self) -> dict:
        return {
            "jobs": int(self._dag.nextJobId()),
            "stages": int(self._dag.nextStageId()),
            "codegen": int(
                self._codegen.METRIC_COMPILATION_TIME().getCount()
            ),
            "jit_ms": self.jit_ms(),
            "gc_ms": self.gc_ms(),
        }

    def stage_rows(self, first: int, last: int) -> dict[int, dict]:
        """Metrics of stages ``first`` .. ``last - 1`` by stage id, in
        one JSON round trip.  The status store is filled by the
        asynchronous listener bus, so the bus is drained first; a stage
        the scheduler skipped is recorded with no tasks run."""
        if first == last:
            return {}
        self._bus.waitUntilEmpty(_BUS_TIMEOUT_MS)
        found = self._jvm.java.util.ArrayList()
        for sid in range(first, last):
            found.add(self._store.lastStageAttempt(sid))
        rows = {}
        for st in json.loads(self._mapper.writeValueAsString(found)):
            row = {k: int(st.get(f) or 0) for k, f in _STAGE.items()}
            row["ran"] = st.get("status") != "SKIPPED"
            rows[int(st["stageId"])] = row
        return rows


class Span:
    __slots__ = ("name", "layer", "parent", "start", "end", "c0", "c1",
                 "children_s")

    def __init__(self, name, layer, parent):
        self.name, self.layer, self.parent = name, layer, parent
        self.children_s = 0.0

    @property
    def wall(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.wall - self.children_s

    def delta(self, key: str) -> int:
        return self.c1[key] - self.c0[key]


class Tracer:
    """Records spans in memory; the report is computed at the end."""

    def __init__(self, spark):
        self.jvm = Jvm(spark)
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.own_s = 0.0  # time spent inside the tracer itself
        self._stages: dict[int, dict] = {}

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        t = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, layer, parent)
        sp.c0 = self.jvm.snapshot()
        self._stack.append(sp)
        sp.start = time.perf_counter()
        self.own_s += sp.start - t
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            sp.c1 = self.jvm.snapshot()
            self._stack.pop()
            if parent is None:  # stages of the whole tree, fetched once
                self._stages.update(self.jvm.stage_rows(
                    sp.c0["stages"], sp.c1["stages"]
                ))
            if parent is not None:
                parent.children_s += sp.wall
            self.spans.append(sp)
            self.own_s += time.perf_counter() - sp.end

    def reset(self) -> None:
        """Forget the spans so far (the warm-up) and the time spent on
        them."""
        self.spans.clear()
        self.own_s = 0.0

    def of(self, layer: str) -> list[Span]:
        return [s for s in self.spans if s.layer == layer]

    def stage(self, sp: Span) -> dict:
        """Summed stage metrics of the stages ``sp`` launched, and how
        many of them ran."""
        out = dict.fromkeys(_STAGE, 0)
        out["stages_run"] = 0
        for sid in range(sp.c0["stages"], sp.c1["stages"]):
            row = self._stages[sid]
            if row["ran"]:
                out["stages_run"] += 1
                for k in _STAGE:
                    out[k] += row[k]
        return out


class NoTracer:
    """Stand-in with the tracer's interface that records nothing."""
    _null = contextlib.nullcontext()

    def span(self, name: str, layer: str):
        return self._null

    def reset(self) -> None:
        pass


# -- host diagnostics ------------------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")


def steal_s() -> float:
    """Host steal time so far, summed over CPUs (``/proc/stat``)."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / _TICK if len(fields) > 8 else 0.0


def loadavg_1m() -> float:
    return os.getloadavg()[0]


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out += [int(c) for c in fh.read().split()]
    except OSError:
        pass
    return out


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return "?"


def peak_rss_mb() -> tuple[float, dict]:
    """Summed peak resident memory (VmHWM) of this process and every
    descendant alive now: the JVM and the Python workers it forked.
    Returns the total and its split by process kind."""
    me = os.getpid()
    todo, seen, parts = [me], set(), {}
    while todo:
        pid = todo.pop()
        if pid in seen:
            continue
        seen.add(pid)
        kind = ("driver" if pid == me
                else "jvm" if _comm(pid) == "java" else "other")
        parts[kind] = parts.get(kind, 0.0) + _hwm_kb(pid) / 1024.0
        todo += _children(pid)
    return sum(parts.values()), parts
