"""Per-layer probes for the traced run.

Everything here measures the package from outside, by timing calls into its
public functions and by reading counters Spark already keeps:

- spans (name, parent, start, end) recorded around the registry builder,
  every ``sources`` reader/``fan_out`` binding, Catalyst optimization and
  planning, the execution and the cache clear, held in memory and written
  out once at the end with their self times;
- the DAG scheduler's job counter, so a span knows how many Spark jobs
  started inside it (any thread, stream threads included);
- the status store's stage records for the jobs an execution started;
- ``StreamingQueryListener`` progress events;
- ``/proc`` for the CPU time of the JVM's Python worker processes and the
  JVM's peak resident set.

None of this is installed in the untraced run, so the end-to-end metrics
never pay for it; traced ``pass_s`` minus untraced ``pass_s`` is the tracing
overhead.
"""

from __future__ import annotations

import functools
import os
import sys
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError
from pyspark.sql.streaming import StreamingQueryListener

SOURCE_FUNCS = ("read_table", "read_tables", "read_events", "read_csv", "fan_out")
MB = 1024.0 * 1024.0
_TICK = os.sysconf("SC_CLK_TCK")


class Span:
    __slots__ = ("name", "query", "parent", "t0", "t1", "job0", "jobs", "children_s")

    def __init__(self, name: str, query: str, parent: int | None, t0: float, job0: int):
        self.name, self.query, self.parent, self.t0 = name, query, parent, t0
        self.t1 = t0
        self.job0 = job0  # id of the first Spark job that could start inside
        self.jobs = 0
        self.children_s = 0.0

    @property
    def dur(self) -> float:
        return self.t1 - self.t0

    @property
    def self_s(self) -> float:
        return self.dur - self.children_s


class _Progress(StreamingQueryListener):
    """Collects every micro-batch progress report of every stream."""

    def __init__(self) -> None:
        self.events: list = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        self.events.append(event.progress)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        for child in children.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def _cpu_ticks(pid: int, reaped: bool) -> int:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
    except OSError:  # the process has exited
        return 0
    return sum(int(f) for f in fields[11 : 15 if reaped else 13])  # utime stime [cutime cstime]


def python_workers_cpu_s(jvm_pid: int) -> float:
    """User+system CPU of the JVM's descendant processes (the PySpark daemon
    and its forked workers), including children they have already reaped."""
    return sum(_cpu_ticks(pid, True) for pid in descendants(jvm_pid)) / _TICK


def tree_cpu_s(jvm_pid: int) -> float:
    """User+system CPU of this driver, the JVM and the JVM's Python workers.
    The kernel accounts hypervisor steal apart, so other tenants' load does
    not enter it."""
    own = _cpu_ticks(os.getpid(), False) + _cpu_ticks(jvm_pid, False)
    return own / _TICK + python_workers_cpu_s(jvm_pid)


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


class Tracer:
    """Span recorder plus the Spark-side counters one traced query reads."""

    def __init__(self, spark, package: str) -> None:
        self.spark = spark
        self.ssc = spark.sparkContext._jsc.sc()
        self.jvm_pid = spark.sparkContext._gateway.proc.pid
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._query = ""
        self.progress = _Progress()
        spark.streams.addListener(self.progress)
        self._wrap_sources(package)

    # -- spans ---------------------------------------------------------
    def jobs_started(self) -> int:
        # Py4J hands the scheduler's AtomicInteger over as its value.
        return self.ssc.dagScheduler().nextJobId()

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, self._query, parent, time.perf_counter(), self.jobs_started())
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        try:
            yield sp
        finally:
            sp.jobs = self.jobs_started() - sp.job0
            sp.t1 = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.spans[parent].children_s += sp.dur

    def _wrap_sources(self, package: str) -> None:
        """Replace every module binding of the ``sources`` readers and
        ``fan_out`` with a span-recording wrapper.  A reader called from
        inside another reader's span (``read_tables`` -> ``read_table``) is
        counted once, by the outer span."""
        sources = sys.modules[f"{package}.sources"]
        originals = {n: getattr(sources, n) for n in SOURCE_FUNCS}

        def wrap(fn, kind):
            span_name = "sources.fan_out" if kind == "fan_out" else "sources.read"

            @functools.wraps(fn)
            def traced(*args, **kwargs):
                top = self.spans[self._stack[-1]] if self._stack else None
                if top is not None and top.name.startswith("sources."):
                    return fn(*args, **kwargs)
                with self.span(span_name):
                    return fn(*args, **kwargs)

            return traced

        wrapped = {id(fn): wrap(fn, kind) for kind, fn in originals.items()}
        for name, mod in list(sys.modules.items()):
            if mod is None or not (name == package or name.startswith(package + ".")):
                continue
            for attr, val in list(vars(mod).items()):
                if id(val) in wrapped:
                    setattr(mod, attr, wrapped[id(val)])

    # -- one query -----------------------------------------------------
    def run_query(self, name: str, build) -> dict[str, float]:
        """Build, optimize, plan and execute one registry query under spans,
        then read its counters and clear the cache.  Execution runs the
        built frame's own QueryExecution (a ``noop`` write would compile a
        second one Python cannot reach)."""
        self._query = name
        first_span = len(self.spans)
        held0 = self.ssc.getPersistentRDDs().size()
        cpu0 = time.process_time()
        with self.span("query") as q:
            with self.span("build") as b:
                df = build()
            b_cpu = time.process_time() - cpu0
            qe = df._jdf.queryExecution()
            with self.span("optimize"):
                qe.optimizedPlan()
            with self.span("plan"):
                qe.executedPlan()
            with self.span("execute") as ex:
                qe.toRdd().count()
        persisted = self.ssc.getPersistentRDDs().size()
        with self.span("clear") as c:
            self.spark.catalog.clearCache()
        leaked = self.ssc.getPersistentRDDs().size()
        self._query = ""
        out = {
            "wall_s": q.dur,
            "clear_s": c.dur,
            "build.driver_cpu_s": b_cpu,
            "catalyst.analysis_s": _phase_s(qe, "analysis"),
            # RDDs this query left persisted, before and after the clear.
            "cache.persisted_rdds": max(0, persisted - held0),
            "cache.leaked_rdds": max(0, leaked - held0),
        }
        for sp in self.spans[first_span:]:
            if sp.name == "build":
                out["build.s"] = sp.self_s
                out["build.jobs"] = sp.jobs - sum(
                    s.jobs for s in self.spans[first_span:]
                    if s.name.startswith("sources.")
                )
            elif sp.name.startswith("sources."):
                kind = "read" if sp.name == "sources.read" else "fan_out"
                out[f"sources.{kind}_calls"] = out.get(f"sources.{kind}_calls", 0) + 1
                out[f"sources.{kind}_s"] = out.get(f"sources.{kind}_s", 0.0) + sp.dur
                if kind == "read":
                    out["sources.read_jobs"] = out.get("sources.read_jobs", 0) + sp.jobs
            elif sp.name == "optimize":
                out["catalyst.optimize_s"] = sp.dur
            elif sp.name == "plan":
                out["catalyst.plan_s"] = sp.dur
            elif sp.name == "execute":
                out["exec.s"] = sp.dur
        out.update(self._exec_stages(ex.job0, ex.job0 + ex.jobs))
        return out

    def _exec_stages(self, j0: int, j1: int) -> dict[str, float]:
        """Sum the status store's stage records over jobs [j0, j1)."""
        self.ssc.listenerBus().waitUntilEmpty()
        store = self.ssc.statusStore()
        stage_ids: set[int] = set()
        for jid in range(j0, j1):
            try:
                seq = store.job(jid).stageIds()
            except Py4JJavaError:  # a job the status store has not kept
                continue
            stage_ids.update(seq.apply(i) for i in range(seq.size()))
        agg = dict.fromkeys(
            ("stages", "tasks", "failed_tasks", "run_ms", "cpu_ns", "gc_ms",
             "shuffle_read", "shuffle_write", "spill"), 0)
        for sid in stage_ids:
            st = store.lastStageAttempt(sid)
            if st.status().toString() == "SKIPPED":
                continue
            agg["stages"] += 1
            agg["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
            agg["failed_tasks"] += st.numFailedTasks()
            agg["run_ms"] += st.executorRunTime()
            agg["cpu_ns"] += st.executorCpuTime()
            agg["gc_ms"] += st.jvmGcTime()
            agg["shuffle_read"] += st.shuffleReadBytes()
            agg["shuffle_write"] += st.shuffleWriteBytes()
            agg["spill"] += st.diskBytesSpilled()
        return {
            "exec.jobs": j1 - j0,
            "exec.stages": agg["stages"],
            "exec.tasks": agg["tasks"],
            "exec.failed_tasks": agg["failed_tasks"],
            "exec.executor_run_s": agg["run_ms"] / 1e3,
            "exec.executor_cpu_s": agg["cpu_ns"] / 1e9,
            "exec.gc_s": agg["gc_ms"] / 1e3,
            "exec.shuffle_read_mb": agg["shuffle_read"] / MB,
            "exec.shuffle_write_mb": agg["shuffle_write"] / MB,
            "exec.spill_mb": agg["spill"] / MB,
        }

    # -- per pass ------------------------------------------------------
    def take_streaming(self) -> dict[str, float]:
        """Fold and reset the progress events collected since the last call."""
        self.ssc.listenerBus().waitUntilEmpty()
        events, self.progress.events = self.progress.events, []
        dur = lambda p, *keys: sum(p.durationMs.get(k, 0) for k in keys) / 1e3  # noqa: E731
        last_state: dict[str, int] = {}
        for p in events:
            last_state[p.runId] = sum(op.numRowsTotal for op in p.stateOperators)
        return {
            "streaming.batches": len(events),
            "streaming.add_batch_s": sum(dur(p, "addBatch") for p in events),
            "streaming.planning_s": sum(dur(p, "queryPlanning") for p in events),
            "streaming.wal_commit_s": sum(
                dur(p, "walCommit", "commitOffsets") for p in events
            ),
            "streaming.state_rows": sum(last_state.values()),
            "streaming.state_commit_s": sum(
                op.commitTimeMs for p in events for op in p.stateOperators
            ) / 1e3,
        }

    def jvm_heap_used_mb(self) -> float:
        rt = self.spark._jvm.java.lang.Runtime.getRuntime()
        return (rt.totalMemory() - rt.freeMemory()) / MB

    def close(self) -> None:
        self.spark.streams.removeListener(self.progress)

    def dump_spans(self) -> list[dict]:
        return [
            {
                "query": sp.query,
                "name": sp.name,
                "parent": sp.parent,
                "start_s": sp.t0,
                "dur_s": sp.dur,
                "self_s": sp.self_s,
                "jobs": sp.jobs,
            }
            for sp in self.spans
        ]


def _phase_s(qe, phase: str) -> float:
    opt = qe.tracker().phases().get(phase)
    return opt.get().durationMs() / 1e3 if opt.isDefined() else 0.0
