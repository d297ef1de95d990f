"""Spans around calls into proj_spark's public operators, and the Spark
status-store readers that turn a span's jobs into layer metrics.

A span is opened by the benchmark around one call (``phase="build"``:
constructing the DataFrame, including any eager probe jobs the operator
launches) or around the action that materializes the operator's output
(``phase="exec"``).  With tracing off a span only reads the clock.  With
tracing on, every span tags its jobs with a job group of its own; after
an iteration :meth:`Tracer.collect` reads

* ``statusTracker`` job ids -> ``statusStore().lastStageAttempt`` for
  executor CPU, shuffle bytes and task-result (driver) bytes, and
* ``sharedState().statusStore()`` SQL plan-graph metrics for the
  Python-worker nodes and broadcast exchanges,

and credits each job to the innermost span that was open when it ran.
Span metrics are inclusive: a span also carries its children's jobs.
"""

from __future__ import annotations

import os
import re
import threading
import time
import uuid
from contextlib import contextmanager

# metrics recorded for every operator span (units in BENCHMARK.json)
OP_METRICS = ("build_s", "build_jobs", "exec_s", "cpu_s", "shuffle_bytes",
              "broadcast_bytes", "driver_bytes", "py_start_s", "py_run_s",
              "py_bytes", "py_rows", "out_rows")

_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
          "TiB": 1 << 40, "ns": 1e-9, "us": 1e-6, "ms": 1e-3, "s": 1.0,
          "m": 60.0, "min": 60.0, "h": 3600.0}


def parse_sql_metric(text: str) -> float:
    """Total of one formatted SQL metric value: ``"200,000"``,
    ``"31 ms"`` or ``"total (min, med, max ...)\\n13.2 s (3.2 s, ...)"``.
    Sizes come back in bytes, timings in seconds."""
    line = text.strip().splitlines()[-1]
    head = line.split(" (", 1)[0].strip()
    m = re.fullmatch(r"([-0-9.,]+)\s*([A-Za-z]*)", head)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2), 1.0) if m.group(2) else value


def _seq(scala_seq):
    it = scala_seq.iterator()
    out = []
    while it.hasNext():
        out.append(it.next())
    return out


class _Span:
    __slots__ = ("op", "phase", "group", "parent", "t0", "t1", "jobs")

    def __init__(self, op, phase, group, parent):
        self.op, self.phase, self.group, self.parent = op, phase, group, parent
        self.t0 = time.perf_counter()
        self.t1 = None
        self.jobs: list[int] = []

    @property
    def seconds(self) -> float:
        return self.t1 - self.t0


class Tracer:
    """Collects the spans of one pipeline iteration."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[_Span] = []
        self._stack: list[_Span] = []
        self._n = 0
        self._tag = uuid.uuid4().hex[:12]  # job groups unique per tracer
        self._sql_seen = self._sql_store().executionsCount() if enabled else 0
        self.out_rows: dict[str, int] = {}
        # output pairs/rows an operator's checks found verified
        self.verified: dict[str, int] = {}
        # per operator (own spans only): (node name, description, output
        # rows, runs Python) of every executed plan node
        self.nodes: dict[str, list[tuple[str, str, float, bool]]] = {}
        self.check_cpu_s = 0.0  # process-tree CPU spent in "check" spans

    # -- spans ---------------------------------------------------------
    def open(self, op: str, phase: str) -> _Span:
        self._n += 1
        parent = self._stack[-1] if self._stack else None
        span = _Span(op, phase, f"bench-{self._tag}-{self._n}", parent)
        if self.enabled:
            self.sc.setJobGroup(span.group, f"{op}.{phase}")
        self._stack.append(span)
        self.spans.append(span)
        if op == "check":
            self.check_cpu_s -= tree_cpu_seconds(os.getpid())
        span.t0 = time.perf_counter()
        return span

    def close(self, span: _Span) -> None:
        span.t1 = time.perf_counter()
        if span.op == "check":
            self.check_cpu_s += tree_cpu_seconds(os.getpid())
        if not self._stack or self._stack[-1] is not span:
            raise RuntimeError(f"span {span.op}.{span.phase} closed out of order")
        self._stack.pop()
        if self.enabled:
            if self._stack:
                top = self._stack[-1]
                self.sc.setJobGroup(top.group, f"{top.op}.{top.phase}")
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    @contextmanager
    def span(self, op: str, phase: str):
        s = self.open(op, phase)
        try:
            yield s
        finally:
            self.close(s)

    def top_level_seconds(self, exclude: tuple[str, ...] = ()) -> float:
        return sum(s.seconds for s in self.spans
                   if s.parent is None and s.op not in exclude)

    # -- status store --------------------------------------------------
    def _sql_store(self):
        return self.spark._jsparkSession.sharedState().statusStore()

    def collect(self) -> dict:
        """Per-operator metrics of this iteration's spans (inclusive of
        child spans); call after the iteration's last action."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        owner: dict[int, _Span] = {}
        for s in self.spans:
            s.jobs = list(tracker.getJobIdsForGroup(s.group))
            for j in s.jobs:
                owner[j] = s

        own = {id(s): _zero() for s in self.spans}
        for j, s in owner.items():
            m = own[id(s)]
            for sid in _seq(store.job(j).stageIds()):
                try:
                    st = store.lastStageAttempt(sid)
                except Exception:  # stage never ran (skipped)
                    continue
                if str(st.status()) != "COMPLETE":
                    continue
                m["cpu_s"] += st.executorCpuTime() / 1e9
                m["shuffle_bytes"] += st.shuffleWriteBytes()
                m["driver_bytes"] += st.resultSize()

        sql = self._sql_store()
        total = sql.executionsCount()
        if total > self._sql_seen:
            for ex in _seq(sql.executionsList(self._sql_seen,
                                              total - self._sql_seen)):
                jobs = [int(k) for k in _seq(ex.jobs().keys())]
                span = next((owner[j] for j in jobs if j in owner), None)
                if span is None:
                    continue
                _add_plan_metrics(own[id(span)], sql, ex.executionId(),
                                  self.nodes.setdefault(span.op, []))
            self._sql_seen = total

        per_op: dict[str, dict] = {}
        for s in self.spans:
            m = per_op.setdefault(s.op, _zero())
            if s.phase == "build":
                m["build_s"] += s.seconds
                m["build_jobs"] += len(s.jobs)
            elif s.phase == "exec":
                m["exec_s"] += s.seconds
            # inclusive: a span's jobs count for every enclosing op
            seen = set()
            p = s
            while p is not None:
                if p.op not in seen:
                    seen.add(p.op)
                    tgt = per_op.setdefault(p.op, _zero())
                    for k in _ADDITIVE:
                        tgt[k] += own[id(s)][k]
                p = p.parent
        for op, rows in self.out_rows.items():
            per_op.setdefault(op, _zero())["out_rows"] += rows
        return per_op


_ADDITIVE = ("cpu_s", "shuffle_bytes", "broadcast_bytes", "driver_bytes",
             "py_start_s", "py_run_s", "py_bytes", "py_rows")


def _zero() -> dict:
    return {k: 0.0 for k in OP_METRICS}


def _add_plan_metrics(m: dict, sql, execution_id: int, nodes: list) -> None:
    values = sql.executionMetrics(execution_id)
    for node in _seq(sql.planGraph(execution_id).allNodes()):
        named = {}
        for pm in _seq(node.metrics()):
            v = values.get(pm.accumulatorId())
            if v.isDefined():
                named[pm.name()] = parse_sql_metric(v.get())
        python = "time to run Python workers" in named
        nodes.append((node.name(), node.desc(),
                      named.get("number of output rows", 0.0), python))
        if python:
            m["py_start_s"] += named.get("time to start Python workers", 0.0)
            m["py_run_s"] += named["time to run Python workers"]
            m["py_bytes"] += (named.get("data sent to Python workers", 0.0)
                              + named.get("data returned from Python workers", 0.0))
            m["py_rows"] += named.get("number of output rows", 0.0)
        elif node.name() == "BroadcastExchange":
            m["broadcast_bytes"] += named.get("data size", 0.0)


def jvm_gc_seconds(spark) -> float:
    """Total collection time of the driver JVM's garbage collectors
    (local mode: the executors run in the same JVM)."""
    beans = spark._jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    return sum(max(b.getCollectionTime(), 0) for b in _seq(beans)) / 1e3


def jvm_peak_bytes(spark) -> int:
    """Peak used bytes of every JVM memory pool (heap and non-heap)
    since the JVM started: what the driver JVM (and, in local mode, its
    executors) allocated, not the heap it reserved."""
    beans = spark._jvm.java.lang.management.ManagementFactory \
        .getMemoryPoolMXBeans()
    return sum(max(b.getPeakUsage().getUsed(), 0) for b in _seq(beans))


class PythonMemory:
    """Samples the proportional resident memory of the Python processes
    of this process tree (the driver and the Spark Python workers, not
    the JVM) and keeps the peak of their sum."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    def _loop(self):
        while not self._stop.wait(self.interval):
            self.sample()

    def sample(self) -> None:
        self.peak = max(self.peak, python_pss_bytes(os.getpid()))


def _tree(root: int) -> dict[int, tuple[bytes, list[bytes]]]:
    """(command name, ``/proc/<pid>/stat`` fields) of ``root`` and every
    process below it."""
    fields: dict[int, tuple[bytes, list[bytes]]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces: fields start after ')'
        close = stat.rfind(b")")
        fields[int(name)] = (stat[stat.find(b"(") + 1:close],
                             stat[close + 2:].split())
    out = {}
    for pid, f in fields.items():
        p = pid
        while p > 1 and p != root:
            p = int(fields[p][1][1]) if p in fields else 0
        if p == root:
            out[pid] = f
    return out


def python_pss_bytes(root: int) -> int:
    """Proportional resident memory of the process tree without the JVM:
    pages shared between forked Python workers are split among them, not
    counted once per worker."""
    total = 0
    for pid, (comm, _) in _tree(root).items():
        if comm == b"java":
            continue
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                total += 1024 * next(int(l.split()[1]) for l in f
                                     if l.startswith("Pss:"))
        except (OSError, StopIteration):
            continue
    return total


def tree_cpu_seconds(root: int) -> float:
    """User + system CPU of the process tree, reaped children included."""
    ticks = sum(sum(int(x) for x in f[11:15]) for _, f in _tree(root).values())
    return ticks / os.sysconf("SC_CLK_TCK")
