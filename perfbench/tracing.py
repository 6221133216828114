"""Layer-by-layer tracing from outside the package.

``Tracer.install`` replaces public functions of the engine's modules with
wrappers that record a span around each call; the package itself carries
no tracing. Spans nest through one stack: the engine runs one config at a
time, and the only other thread it starts (the action thread of
``parallel.run_with_job_timeout``) runs while its caller waits, so a span
opened there is a child of the span that started it.

Counts are taken at the same boundaries:

- py4j round trips, from a wrapper on the gateway client's
  ``send_command``; py4j's own garbage-collection commands (``m\\nd\\n``)
  are not counted, because when they run depends on Python's collector;
- Spark jobs, by the DAG scheduler's job-id watermark at span start and
  end; their stages and tasks come from the status store after the pass;
- Catalyst planning, from the ``QueryPlanningTracker`` of every query the
  engine executes during a traced pass (its optimization and physical
  planning phases), read by a ``QueryExecutionListener``: the planning
  the engine's own actions trigger, with no extra planning of its own.
"""

from __future__ import annotations

import functools
import threading
import time
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field

import numpy as np
from py4j.protocol import Py4JJavaError
from pyspark.java_gateway import ensure_callback_server_started

from stats import self_time, union_length

_GC_COMMAND = "m\nd\n"
#: the QueryPlanningTracker phases that are Catalyst's planning (analysis
#: runs when a DataFrame is built, inside the build span)
_PLAN_PHASES = ("optimization", "planning")


class _PlanListener:
    """A ``QueryExecutionListener`` run on Spark's listener thread: sums
    the planning phases of each executed query."""

    def __init__(self, quiet: threading.local):
        self.quiet = quiet
        self.ms = 0
        self.queries = 0

    def _record(self, qe) -> None:
        self.quiet.on = True  # its py4j calls are not the engine's
        try:
            phases = qe.tracker().phases()
            self.ms += sum(phases.apply(k).durationMs()
                           for k in _PLAN_PHASES if phases.contains(k))
            self.queries += 1
        finally:
            self.quiet.on = False

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802
        self._record(qe)

    def onFailure(self, func_name, qe, exception):  # noqa: N802
        self._record(qe)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


@dataclass
class Span:
    name: str
    parent: "Span | None"
    t0: float
    py4j0: int
    job0: int
    t1: float = 0.0
    py4j1: int = 0
    job1: int = 0
    item: str = ""  # set on "item" spans: the config or batch kind
    children: list["Span"] = field(default_factory=list)

    @property
    def seconds(self) -> float:
        return self.t1 - self.t0

    @property
    def py4j(self) -> int:
        return self.py4j1 - self.py4j0

    @property
    def jobs(self) -> range:
        return range(self.job0, self.job1)

    def walk(self):
        yield self
        for c in self.children:
            yield from c.walk()


class NoTrace:
    """The untraced run: items are only timed by the caller."""

    enabled = False

    def item(self, name: str):
        return nullcontext()


class Tracer:
    """Spans and counters for the traced run. ``begin_pass`` and
    ``end_pass`` switch recording per pass, so traced and untraced passes
    interleave in one session and their gap is the tracing overhead."""

    def __init__(self, spark):
        self.spark = spark
        self.enabled = False
        self.roots: list[Span] = []
        self._stack: list[Span] = []
        self._lock = threading.Lock()
        #: ``on`` in a thread whose py4j calls are the tracer's own
        self._quiet = threading.local()
        self._py4j = 0
        self._listener: _PlanListener | None = None
        self._jlistener = None
        self._patches: list[tuple[object, str, object]] = []
        jsc = spark.sparkContext._jsc.sc()
        self._dag = jsc.dagScheduler()
        self._status = jsc.statusStore()
        self._bus = jsc.listenerBus()

    # -- installation ---------------------------------------------------------

    def install(self, targets) -> None:
        """Wrap each ``(module, attribute, span name)``."""
        for mod, attr, name in targets:
            orig = getattr(mod, attr)
            setattr(mod, attr, self._wrap(orig, name))
            self._patches.append((mod, attr, orig))
        client = self.spark.sparkContext._gateway._gateway_client
        send = client.send_command

        @functools.wraps(send)
        def counted(command, *args, **kwargs):
            if (not getattr(self._quiet, "on", False)
                    and not command.startswith(_GC_COMMAND)):
                with self._lock:
                    self._py4j += 1
            return send(command, *args, **kwargs)

        client.send_command = counted
        self._patches.append((client, "send_command", send))

    def uninstall(self) -> None:
        for obj, attr, orig in reversed(self._patches):
            setattr(obj, attr, orig)
        self._patches.clear()

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    # -- passes ---------------------------------------------------------------

    def begin_pass(self) -> None:
        """Record from here: spans, counts and the planning listener."""
        self._bus.waitUntilEmpty()  # earlier queries' events are not ours
        ensure_callback_server_started(self.spark.sparkContext._gateway)
        self._listener = _PlanListener(self._quiet)
        manager = self.spark._jsparkSession.listenerManager()
        ident = self.spark._jvm.System.identityHashCode
        before = {ident(x) for x in manager.listListeners()}
        manager.register(self._listener)
        # the Java proxy just registered, to unregister this very object
        self._jlistener = next(x for x in manager.listListeners()
                               if ident(x) not in before)
        self.enabled = True

    def end_pass(self) -> dict[str, float]:
        """Stop recording; the per-layer figures of the pass's spans,
        summed over the pass (task skew: median over its items)."""
        self.enabled = False
        self._quiet.on = True
        try:
            self._bus.waitUntilEmpty()
            self.spark._jsparkSession.listenerManager().unregister(self._jlistener)
            roots, self.roots = self.roots, []
            m = self._aggregate(roots)
        finally:
            self._quiet.on = False
        m["catalyst.plan_s"] = self._listener.ms / 1000
        m["catalyst.queries"] = self._listener.queries
        self._listener = self._jlistener = None
        return m

    # -- spans ----------------------------------------------------------------

    def _job_mark(self) -> int:
        self._quiet.on = True
        try:
            return int(self._dag.nextJobId())
        finally:
            self._quiet.on = False

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(name, parent, 0.0, 0, self._job_mark())
        s.py4j0 = self._py4j
        s.t0 = time.perf_counter()
        self._stack.append(s)
        (parent.children if parent is not None else self.roots).append(s)
        try:
            yield s
        finally:
            s.t1 = time.perf_counter()
            s.py4j1 = self._py4j
            s.job1 = self._job_mark()
            self._stack.pop()

    def item(self, name: str):
        """The span of one item (one config run or push batch)."""
        if not self.enabled:
            return nullcontext()
        return self._item(name)

    @contextmanager
    def _item(self, name: str):
        with self.span("item") as s:
            s.item = name
            yield s

    # -- Spark status store ---------------------------------------------------

    def _job_stats(self, jobs: range) -> dict:
        st = self._status
        out = {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0,
               "shuffle_read": 0, "shuffle_write": 0, "spill": 0,
               "cpu_ns": 0, "skew": 1.0, "intervals": []}
        heaviest = (-1, None)
        for j in jobs:
            try:
                jd = st.job(j)
            except Py4JJavaError:  # evicted from the store: not ours to count
                continue
            out["jobs"] += 1
            if jd.submissionTime().isDefined() and jd.completionTime().isDefined():
                out["intervals"].append((jd.submissionTime().get().getTime() / 1000,
                                         jd.completionTime().get().getTime() / 1000))
            for sid in str(jd.stageIds().mkString(",")).split(","):
                try:
                    sd = st.lastStageAttempt(int(sid))
                except (Py4JJavaError, ValueError):
                    continue
                if sd.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numCompleteTasks()
                out["failed_tasks"] += sd.numFailedTasks()
                out["shuffle_read"] += sd.shuffleReadBytes()
                out["shuffle_write"] += sd.shuffleWriteBytes()
                out["spill"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                out["cpu_ns"] += sd.executorCpuTime()
                run = sd.executorRunTime()
                if sd.numTasks() >= 2 and run > heaviest[0]:
                    heaviest = (run, (int(sid), sd.attemptId()))
        if heaviest[1] is not None:
            g = self.spark.sparkContext._gateway
            qs = g.new_array(g.jvm.double, 2)
            qs[0], qs[1] = 0.5, 1.0
            summary = st.taskSummary(heaviest[1][0], heaviest[1][1], qs)
            if summary.isDefined():
                rt = summary.get().executorRunTime()
                if rt.apply(0) > 0:
                    out["skew"] = rt.apply(1) / rt.apply(0)
        return out

    def _aggregate(self, roots: list[Span]) -> dict[str, float]:
        m: dict[str, float] = {"scheduler.retries": 0.0}

        def add(key: str, v: float) -> None:
            m[key] = m.get(key, 0.0) + v

        def self_s(s: Span) -> float:
            return self_time(s.t0, s.t1, [(c.t0, c.t1) for c in s.children])

        skews = []
        for s in (s for r in roots for s in r.walk()):
            if s.name == "item":
                runs = sum(c.name == "executor.execute_config_query"
                           for c in s.walk())
                add("scheduler.retries", max(0, runs - 1))
                js = self._job_stats(s.jobs)
                add("spark.action_s", union_length(js["intervals"]))
                add("spark.jobs", js["jobs"])
                add(f"spark.jobs.{s.item}", js["jobs"])
                add("spark.stages", js["stages"])
                add("spark.tasks", js["tasks"])
                add("spark.failed_tasks", js["failed_tasks"])
                add("spark.shuffle_read_bytes", js["shuffle_read"])
                add("spark.shuffle_write_bytes", js["shuffle_write"])
                add("spark.spill_bytes", js["spill"])
                add("spark.executor_cpu_s", js["cpu_ns"] / 1e9)
                skews.append(js["skew"])
            elif s.name == "promql_parser.build":
                item = next(p for p in _ancestors(s) if p.name == "item").item
                add("promql_parser.build_s", s.seconds)
                add("promql_parser.py4j_calls", s.py4j)
                add(f"promql_parser.py4j_calls.{item}", s.py4j)
                add("promql_parser.eager_jobs", len(s.jobs))
            elif s.name == "store.append_records":
                add("store.append_s", s.seconds)
                add("store.append_calls", 1)
            elif s.name == "store.read_records":
                add("store.read_s", s.seconds)
            elif s.name == "audit.append":
                add("audit.append_s", s.seconds)
                add("audit.rows", 1)
            elif s.name == "audit.record":
                add("audit.append_s", s.seconds)
            elif s.name == "executor.execute_config_query":
                add("executor.self_s", self_s(s))
            elif s.name == "serve.tick":
                add("serve.tick_self_s", self_s(s))
        m["spark.task_skew"] = float(np.median(skews)) if skews else 1.0
        return m


def _ancestors(s: Span):
    while s.parent is not None:
        s = s.parent
        yield s
