"""Per-layer tracing for the benchmark's traced run.

Everything here observes the engine from outside, through the same
public surface the untraced run uses:

- ``tables``: counting wrappers around ``load`` and ``persist_fresh``,
  installed before the operator modules import them by name.
- build / exec: spans around ``spec.fn`` and the noop write, with Spark
  job groups to count the jobs each one ran and the status store for
  the stages, tasks, CPU time, shuffle and spill of the exec jobs.
- Catalyst and the Python boundary: a JVM ``QueryExecutionListener``
  reads every finished query's planning-phase tracker and the SQL
  metrics of its Python-evaluation plan nodes.
- streaming: a ``StreamingQueryListener`` sums the progress events.

Spans are kept in memory and written out by :meth:`Tracer.dump`.
Counters are summed per pass and read back with :meth:`Tracer.take`.
"""

from __future__ import annotations

import contextlib
import json
import re
import threading
import time
from collections import defaultdict

from pyspark.sql.streaming import StreamingQueryListener

from perfbench.reduce import self_times

MB = 1024 * 1024
CATALYST_PHASES = ("analysis", "optimization", "planning")
# Plan node names of Python evaluation: ArrowEvalPython, BatchEvalPython,
# FlatMapGroupsInPandas, MapInPandas, MapInArrow, ...
PYTHON_NODE = re.compile(r"Python|Pandas|InArrow")
PY_SENT, PY_RECEIVED, PY_ROWS = (
    "pythonDataSent",
    "pythonDataReceived",
    "pythonNumRowsReceived",
)


class Tracer:
    def __init__(self, t0: float) -> None:
        self.t0 = t0
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.counters: dict[str, float] = defaultdict(float)
        self._lock = threading.Lock()  # listeners call back on other threads
        self.active = False
        self._spark = None
        self._qe_listener = None
        self._stream_listener = None

    # -- spans -------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter() - self.t0,
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self.t0

    def add(self, name: str, value: float) -> None:
        with self._lock:
            self.counters[name] += value

    def take(self) -> dict[str, float]:
        """Counters summed since the last call; resets them."""
        with self._lock:
            out = dict(self.counters)
            self.counters.clear()
        return out

    def dump(self, path: str, **extra) -> None:
        """Write the spans, and their self time summed by span name."""
        by_name: dict[str, float] = defaultdict(float)
        for sid, secs in self_times(self.spans).items():
            by_name[self.spans[sid]["name"]] += secs
        with open(path, "w") as fh:
            json.dump({"self_s": by_name, "spans": self.spans, **extra}, fh)

    # -- tables layer ------------------------------------------------
    def wrap_tables(self, tables) -> None:
        """Count ``tables.load`` / ``tables.persist_fresh`` calls.

        Must run before ``load_all_operators()``: operator modules bind
        these functions with ``from ..tables import load``.
        """
        load, persist_fresh = tables.load, tables.persist_fresh

        def traced_load(*args, **kwargs):
            if not self.active:
                return load(*args, **kwargs)
            t = time.perf_counter()
            try:
                return load(*args, **kwargs)
            finally:
                self.add("tables.load_s", time.perf_counter() - t)
                self.add("tables.load_calls", 1)

        def traced_persist_fresh(*args, **kwargs):
            if self.active:
                self.add("tables.persist_calls", 1)
            return persist_fresh(*args, **kwargs)

        tables.load = traced_load
        tables.persist_fresh = traced_persist_fresh

    # -- listeners ---------------------------------------------------
    def start(self, spark) -> None:
        """Turn tracing on: wrappers count and the listeners report.

        The query listener is registered once and ignores events while
        tracing is off: py4j hands the JVM a new proxy on every call, so
        ``unregister`` could not find the one ``register`` added.
        """
        from pyspark.java_gateway import ensure_callback_server_started

        self._spark = spark
        if self._qe_listener is None:
            ensure_callback_server_started(spark.sparkContext._gateway)
            self._qe_listener = _QueryListener(self)
            self._stream_listener = _StreamListener(self)
            spark._jsparkSession.listenerManager().register(self._qe_listener)
        spark.streams.addListener(self._stream_listener)
        self.active = True

    def stop(self) -> None:
        self.drain()
        self._spark.streams.removeListener(self._stream_listener)
        self.active = False

    def drain(self) -> None:
        """Wait until every posted Spark event reached the listeners."""
        self._spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()

    # -- job groups and the status store ------------------------------
    def job_group(self, group: str) -> None:
        self._spark.sparkContext.setJobGroup(group, group)

    def job_ids(self, group: str) -> list[int]:
        sc = self._spark.sparkContext
        sc._jsc.clearJobGroup()
        return list(sc.statusTracker().getJobIdsForGroup(group))

    def add_exec_stats(self, job_ids: list[int]) -> None:
        sc = self._spark.sparkContext
        store = sc._jsc.sc().statusStore()
        stage_ids: set[int] = set()
        for jid in job_ids:
            info = sc.statusTracker().getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        self.add("exec.jobs", len(job_ids))
        for sid in stage_ids:
            st = store.lastStageAttempt(sid)
            if st.numCompleteTasks() == 0:
                continue  # skipped: its shuffle output was reused
            self.add("exec.stages", 1)
            self.add("exec.tasks", st.numCompleteTasks())
            self.add("exec.task_cpu_s", st.executorCpuTime() / 1e9)
            self.add("exec.shuffle_write_mb", st.shuffleWriteBytes() / MB)
            self.add(
                "exec.spill_mb",
                (st.memoryBytesSpilled() + st.diskBytesSpilled()) / MB,
            )

    def cached_mb(self) -> float:
        infos = self._spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos) / MB

    def add_df_analysis(self, df) -> None:
        """Analysis time the built DataFrame's own tracker recorded."""
        self.add("catalyst.analysis_s", _phase_s(df._jdf.queryExecution(), "analysis"))


def _phase_s(qe, phase: str) -> float:
    opt = qe.tracker().phases().get(phase)
    return opt.get().durationMs() / 1000 if opt.isDefined() else 0.0


def _plan_nodes(jvm, root, seen: set[int]):
    """Physical nodes under ``root`` not yet in ``seen``: through AQE
    stages, subqueries and the plans of cached relations.

    ``seen`` outlives one query so that a cached plan, whose metrics
    belong to the query that filled the cache, is counted once.
    """
    todo = [root]
    while todo:
        node = todo.pop()
        ident = jvm.System.identityHashCode(node)
        if ident in seen:
            continue
        seen.add(ident)
        yield node
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
        elif cls.endswith("QueryStageExec"):
            todo.append(node.plan())
        elif cls == "InMemoryTableScanExec":
            todo.append(node.relation().cachedPlan())
        for seq in (node.children(), node.subqueries()):
            todo.extend(seq.apply(i) for i in range(seq.size()))


class _QueryListener:
    """JVM ``QueryExecutionListener`` that feeds the Catalyst and Python
    boundary counters of whichever span is open when a query finishes."""

    def __init__(self, tracer: Tracer) -> None:
        self.tracer = tracer
        self.seen: set[int] = set()

    def onSuccess(self, func_name, qe, duration_ns) -> None:  # noqa: N802
        if not self.tracer.active:
            return
        add = self.tracer.add
        for phase in CATALYST_PHASES:
            add(f"catalyst.{phase}_s", _phase_s(qe, phase))
        plan = qe.executedPlan()
        if not PYTHON_NODE.search(plan.toString()):
            return  # one call instead of a walk; cached plans print inline
        jvm = self.tracer._spark.sparkContext._jvm
        for node in _plan_nodes(jvm, plan, self.seen):
            metrics = node.metrics()
            if not metrics.contains(PY_SENT):
                continue
            add("python.sent_mb", metrics.apply(PY_SENT).value() / MB)
            add("python.received_mb", metrics.apply(PY_RECEIVED).value() / MB)
            add("python.rows", metrics.apply(PY_ROWS).value())

    def onFailure(self, func_name, qe, exception) -> None:  # noqa: N802
        pass

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class _StreamListener(StreamingQueryListener):
    """Sums streaming progress; state size comes from each query's last
    progress event, since state is cumulative."""

    def __init__(self, tracer: Tracer) -> None:
        self.tracer = tracer
        self.last_state: dict[str, tuple[float, float]] = {}

    def onQueryStarted(self, event) -> None:  # noqa: N802
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        add = self.tracer.add
        dur = p.durationMs
        add("stream.batches", 1)
        add("stream.input_rows", p.numInputRows)
        add("stream.add_batch_s", dur.get("addBatch", 0) / 1000)
        add("stream.wal_commit_s", dur.get("walCommit", 0) / 1000)
        add("stream.planning_s", dur.get("queryPlanning", 0) / 1000)
        add("stream.state_commit_s", sum(op.commitTimeMs for op in p.stateOperators) / 1000)
        self.last_state[str(p.runId)] = (
            sum(op.numRowsTotal for op in p.stateOperators),
            sum(op.memoryUsedBytes for op in p.stateOperators) / MB,
        )

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        rows, mb = self.last_state.pop(str(event.runId), (0, 0.0))
        self.tracer.add("stream.state_rows", rows)
        self.tracer.add("stream.state_mb", mb)
