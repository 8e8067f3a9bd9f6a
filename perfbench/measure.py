"""Measurement primitives for the benchmark: process-tree CPU and memory
read from ``/proc``, in-memory span tracing, and Spark's own
executed-plan metrics collected through a ``QueryExecutionListener``.

Nothing here imports the engine package; the workloads decide what to
measure and the run driver decides when.
"""

from __future__ import annotations

import functools
import itertools
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass

CLK_TCK = os.sysconf("SC_CLK_TCK")


# ------------------------------------------------------------ process tree


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    # the command name may contain spaces and parentheses: split after
    # the LAST ')'; fields[0] is then field 3 (state) of proc(5)
    return s[s.rfind(")") + 2:].split()


def tree_pids() -> list[int]:
    """This process and all of its live descendants — here the driver
    Python, the Spark JVM and its Python workers."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat_fields(int(name))
        if f is not None:
            children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(pids: list[int]) -> float:
    """User + system CPU seconds of the process tree, including reaped
    children (a Python worker that exits hands its time to its parent's
    cutime/cstime, so a delta of this sum stays complete)."""
    ticks = 0
    for pid in pids:
        f = _stat_fields(pid)
        if f is not None:
            ticks += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return ticks / CLK_TCK


def reset_peak_rss(pids: list[int]) -> None:
    """Reset every process's resident high-water mark (VmHWM) to its
    current RSS, so the next `peak_rss_mb` covers only what runs after."""
    for pid in pids:
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            pass


def peak_rss_mb(pids: list[int]) -> float:
    """Sum over the tree of each process's VmHWM since the last reset.
    An upper bound on the tree's simultaneous peak, read without
    sampling."""
    kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            pass
    return kb / 1024.0


def check_proc_accounting() -> None:
    """Fail loudly where /proc cannot give the numbers (not Linux, or the
    high-water mark cannot be reset)."""
    with open(f"/proc/{os.getpid()}/clear_refs", "w") as f:
        f.write("5")
    if peak_rss_mb([os.getpid()]) <= 0:
        raise RuntimeError("VmHWM not readable from /proc")


# ------------------------------------------------------------------- spans


@dataclass
class Span:
    sid: int
    parent: int | None
    trace: int
    name: str
    start: float
    end: float

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans kept in memory: one trace per traced job or probe, spans
    nested by the call stack of the single driver thread."""

    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._ids = itertools.count(1)
        self._traces = itertools.count(1)
        self.trace = 0

    @contextmanager
    def span(self, name: str):
        if not self._stack:
            self.trace = next(self._traces)
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self._stack.pop()
            self.spans.append(Span(sid, parent, self.trace, name, t0, t1))

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)

        return traced

    @contextmanager
    def patched(self, targets):
        """Put a span around every call, from any caller in this process,
        of each ``(module, attribute, span name)`` in ``targets``."""
        saved = []
        try:
            for mod, attr, name in targets:
                orig = getattr(mod, attr)
                saved.append((mod, attr, orig))
                setattr(mod, attr, self.wrap(name, orig))
            yield
        finally:
            for mod, attr, orig in reversed(saved):
                setattr(mod, attr, orig)

    def of_trace(self, trace: int) -> list[Span]:
        return [s for s in self.spans if s.trace == trace]

    def last(self, name: str) -> float:
        """Duration of the most recent span called ``name``."""
        for s in reversed(self.spans):
            if s.name == name:
                return s.dur
        raise KeyError(name)


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> self time: the span's duration minus the part of its
    interval that its direct children cover."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, edge = 0.0, s.start
        for c in sorted(kids.get(s.sid, ()), key=lambda c: c.start):
            lo, hi = max(c.start, edge, s.start), min(c.end, s.end)
            if hi > lo:
                covered += hi - lo
                edge = hi
        out[s.sid] = s.dur - covered
    return out


# ------------------------------------------------------- Spark plan metrics

# metrics summed over every operator of a job's executed plans
PLAN_SUMS = {
    "pythonDataSent": "bytes_to_python",
    "pythonDataReceived": "bytes_from_python",
    "pythonTotalTime": "python_total_ms",
    "pythonBootTime": "python_boot_ms",
    "shuffleBytesWritten": "shuffle_bytes",
    "spillSize": "spill_bytes",
}


class QueryLog:
    """Keeps the ``QueryExecution`` of every action the session completes
    (``onSuccess`` of Spark's ``QueryExecutionListener``,
    called back over py4j), so a job's executed plans — noop-sink writes
    included — can be read after it ends."""

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        self._spark = spark
        self._jvm = spark.sparkContext._jvm
        ensure_callback_server_started(spark.sparkContext._gateway)
        self.entries: list = []
        spark._jsparkSession.listenerManager().register(self)

    def onSuccess(self, func_name, qe, duration_ns):
        self.entries.append(qe)

    def onFailure(self, func_name, qe, exception):
        """Failed actions have no complete executed plan to read."""

    def flush(self) -> None:
        """Block until Spark's listener bus has delivered every event
        posted so far, this listener's callbacks included."""
        self._spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(
            60_000)

    def begin(self) -> None:
        """Forget every execution logged so far."""
        self.flush()
        self.entries.clear()

    def end(self) -> list:
        """The executions completed since `begin`; the log forgets them,
        so only the callers that keep them hold their JVM references."""
        self.flush()
        out, self.entries = self.entries, []
        return out

    def plan_nodes(self, qes: list) -> list[tuple[str, dict, object]]:
        """Every physical operator of the given executions, each JVM node
        once: descends through adaptive-plan, query-stage and cached-
        relation wrappers (a cache built in one action and scanned in
        the next is counted where it was built).  Returns
        ``(node name, {metric: value}, node)``."""
        ident = self._jvm.java.lang.System.identityHashCode
        seen: set[int] = set()
        out = []
        todo = [qe.executedPlan() for qe in qes]
        while todo:
            node = todo.pop()
            h = ident(node)
            if h in seen:
                continue
            seen.add(h)
            cls = node.getClass().getSimpleName()
            metrics = {}
            it = node.metrics().iterator()
            while it.hasNext():
                kv = it.next()
                metrics[kv._1()] = kv._2().value()
            out.append((node.nodeName(), metrics, node))
            if cls == "AdaptiveSparkPlanExec":
                todo.append(node.executedPlan())
            elif cls.endswith("QueryStageExec"):
                todo.append(node.plan())
            elif cls == "InMemoryTableScanExec":
                todo.append(node.relation().cachedPlan())
            kids = node.children().iterator()
            while kids.hasNext():
                todo.append(kids.next())
        return out


def plan_summary(nodes) -> dict:
    """Sums of `PLAN_SUMS` plus per-operator output-row totals (the
    repetition-equality fingerprint)."""
    out = {v: 0 for v in PLAN_SUMS.values()}
    rows: dict[str, int] = {}
    for name, metrics, _ in nodes:
        for k, v in metrics.items():
            if k in PLAN_SUMS:
                out[PLAN_SUMS[k]] += int(v)
        if "numOutputRows" in metrics:
            rows[name] = rows.get(name, 0) + int(metrics["numOutputRows"])
    out["rows"] = rows
    return out


def job_tasks(sc, group: str) -> int:
    """Tasks completed by every Spark job run under job group ``group``."""
    st = sc.statusTracker()
    n = 0
    for jid in st.getJobIdsForGroup(group):
        info = st.getJobInfo(jid)
        for sid in (info.stageIds if info else ()):
            stage = st.getStageInfo(sid)
            if stage is not None:
                n += stage.numCompletedTasks
    return n
