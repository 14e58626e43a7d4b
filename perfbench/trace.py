"""Spans, statistics and Spark counters for the benchmark.

Everything here observes the program from outside:

* :class:`Tracer` keeps spans (name, start, end, parent, request id) in
  memory. Spans come from the benchmark's own calls and from
  :func:`install_probes`, which wraps public functions at the package
  boundary for the length of a traced run and restores them after.
* :class:`SparkCounters` reads job, stage and SQL-execution metrics
  through Spark's status stores (they work with the UI disabled).

Nothing in this module imports pyspark at import time, so the
arithmetic can be tested without a JVM.
"""

from __future__ import annotations

import functools
import inspect
import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------

def percentile(values, q: float) -> float:
    """The ``q``-th percentile (0-100) with linear interpolation between
    closest ranks, the NumPy default. Raises on an empty input."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values) -> float:
    return percentile(values, 50.0)


def covered(interval: tuple[float, float],
            parts: list[tuple[float, float]]) -> float:
    """Length of ``interval`` covered by the union of ``parts``."""
    lo, hi = interval
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in parts)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------

@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    request: int | None

    @property
    def duration(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """In-memory span recorder. When ``active`` is false every span is a
    no-op, so probes can stay installed between traced requests."""

    active: bool = False
    spans: list[Span] = field(default_factory=list)
    request: int = -1
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        """Record a span around the block; yields it (None when the
        tracer is inactive)."""
        if not self.active:
            yield None
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        sp = Span(sid, name, time.time(), 0.0, parent, self.request)
        self.spans.append(sp)
        self._stack.append(sid)
        try:
            yield sp
        finally:
            self._stack.pop()
            sp.end = time.time()

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.active:
                return fn(*args, **kwargs)
            with self.span(name):
                return fn(*args, **kwargs)
        return traced

    def self_times(self) -> dict[int, float]:
        """Span id -> self time in seconds (duration minus the part of
        it that child spans cover)."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                kids.setdefault(sp.parent, []).append((sp.start, sp.end))
        return {sp.sid: sp.duration - covered((sp.start, sp.end),
                                              kids.get(sp.sid, []))
                for sp in self.spans}

    def innermost(self, t: float) -> Span | None:
        """The deepest span whose interval holds ``t`` (requests run
        one at a time, so at most one nesting chain is open)."""
        best = None
        for sp in self.spans:
            if sp.start <= t <= sp.end:
                if best is None or sp.start >= best.start:
                    best = sp
        return best

    def ancestors(self, sp: Span | None):
        """``sp`` and every span above it."""
        while sp is not None:
            yield sp
            sp = self.spans[sp.parent] if sp.parent is not None else None

    def to_json(self) -> list[dict]:
        return [{"id": s.sid, "name": s.name, "start": s.start,
                 "end": s.end, "parent": s.parent, "request": s.request}
                for s in self.spans]


@contextmanager
def install_probes(tracer: Tracer):
    """Wrap the package's public layer entry points with spans for the
    duration of the block, then put the originals back."""
    from pyspark.sql.classic.dataframe import DataFrame as SparkDF

    from pandas_ai_spark.agent import base as agent_base
    from pandas_ai_spark.plans.compiler import SchemaCompiler
    from pandas_ai_spark.sandbox import SubprocessSandbox
    from pandas_ai_spark.schema import SemanticLayerSchema
    from pandas_ai_spark.sql import executor

    patches = [
        (executor, "is_sql_query_safe", "sql.guard"),
        (executor, "extract_table_names", "sql.guard"),
        (executor.SQLExecutor, "execute", "sql.build"),
        (SchemaCompiler, "compile", "plans.compile"),
        (agent_base.Agent, "chat", "agent.chat"),
        (agent_base.Agent, "execute_sql_query", "agent.execute_sql_query"),
        (agent_base, "clean_code", "agent.clean_code"),
        (SubprocessSandbox, "execute", "sandbox.execute"),
        (SparkDF, "toPandas", "collect.to_pandas"),
        (SparkDF, "collect", "collect"),
        (SemanticLayerSchema, "model_validate", "schema.validate"),
    ]
    # (owner, attribute, what its own __dict__ held, or None if inherited)
    saved = [(obj, attr, obj.__dict__.get(attr)) for obj, attr, _ in patches]
    try:
        for obj, attr, name in patches:
            orig = getattr(obj, attr)
            traced = tracer.wrap(orig, name)
            if isinstance(obj, type) and inspect.ismethod(orig):
                # a classmethod read off its class is already bound
                traced = staticmethod(traced)
            setattr(obj, attr, traced)
        yield
    finally:
        for obj, attr, orig in saved:
            if orig is None:
                delattr(obj, attr)
            else:
                setattr(obj, attr, orig)


# ---------------------------------------------------------------------------
# Spark status-store counters
# ---------------------------------------------------------------------------

_UNITS = {"ns": 1e-6, "us": 1e-3, "ms": 1.0, "s": 1e3, "m": 6e4,
          "h": 3.6e6, "B": 1.0, "KiB": 1024.0, "MiB": 1024.0 ** 2,
          "GiB": 1024.0 ** 3, "TiB": 1024.0 ** 4}
_VALUE_RE = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")

# SQL metric name -> per-layer counter it feeds
PY_METRICS = {
    "time to run Python workers": "python.run_ms",
    "time to initialize Python workers": "python.init_ms",
    "time to start Python workers": "python.init_ms",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_returned",
}


def parse_metric(text: str) -> float:
    """A formatted SQL metric value as a number in ms or bytes: the
    total line of ``total (min, med, max ...)\\n6.1 s (...)`` or a bare
    ``0 ms`` / ``12.5 KiB`` / ``1,024``."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _VALUE_RE.match(line)
    if not m:
        raise ValueError(f"unparsable metric value: {text!r}")
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


class SparkCounters:
    """Per-request counters from the core and SQL status stores."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.cores = self.sc.defaultParallelism
        self._jsc = self.sc._jsc.sc()
        self._next_job = 0
        self._new_jobs()
        self._exec_seen = self._sql_store().executionsCount()

    def _sql_store(self):
        return self.spark._jsparkSession.sharedState().statusStore()

    def _new_jobs(self) -> list[int]:
        """Ids of the jobs submitted since the last call. Job ids are
        dense, so this also finds the jobs streaming queries run from
        their own threads and job groups."""
        from py4j.protocol import Py4JJavaError

        self._jsc.listenerBus().waitUntilEmpty()
        store = self._jsc.statusStore()
        ids = []
        while True:
            try:
                store.job(self._next_job)
            except Py4JJavaError:  # NoSuchElementException: none newer
                return ids
            ids.append(self._next_job)
            self._next_job += 1

    def begin(self, group: str) -> None:
        """Start a request: its own job group, and forget earlier work."""
        self._new_jobs()
        self._exec_seen = self._sql_store().executionsCount()
        self.sc.setJobGroup(group, group)

    def end(self, group: str) -> dict:
        """Jobs (with submission times) and summed stage/SQL metrics for
        everything that ran since :meth:`begin`."""
        store = self._jsc.statusStore()
        out = {"spark.jobs": 0, "spark.stages": 0, "spark.tasks": 0,
               "spark.executor_run_ms": 0.0, "spark.executor_cpu_ms": 0.0,
               "spark.gc_ms": 0.0, "spark.job_wall_ms": 0.0,
               "shuffle.read_bytes": 0.0, "shuffle.write_bytes": 0.0,
               "shuffle.spill_bytes": 0.0}
        jobs = []
        for jid in self._new_jobs():
            jd = store.job(jid)
            sub, done = jd.submissionTime(), jd.completionTime()
            t0 = sub.get().getTime() / 1000.0 if sub.isDefined() else None
            t1 = done.get().getTime() / 1000.0 if done.isDefined() else t0
            jobs.append(t0)
            out["spark.jobs"] += 1
            if t0 is not None:
                out["spark.job_wall_ms"] += (t1 - t0) * 1000.0
            sids = jd.stageIds()
            for i in range(sids.size()):
                st = store.lastStageAttempt(sids.apply(i))
                if st.status().toString() == "SKIPPED":
                    continue
                out["spark.stages"] += 1
                out["spark.tasks"] += st.numTasks()
                out["spark.executor_run_ms"] += st.executorRunTime()
                out["spark.executor_cpu_ms"] += st.executorCpuTime() / 1e6
                out["spark.gc_ms"] += st.jvmGcTime()
                out["shuffle.read_bytes"] += st.shuffleReadBytes()
                out["shuffle.write_bytes"] += st.shuffleWriteBytes()
                out["shuffle.spill_bytes"] += (st.memoryBytesSpilled()
                                               + st.diskBytesSpilled())
        out["spark.slot_idle_ms"] = max(
            out.pop("spark.job_wall_ms") * self.cores
            - out["spark.executor_run_ms"], 0.0)
        out.update(self._python_metrics())
        self.sc.setJobGroup("perfbench", "between requests")
        return {"counters": out, "job_times": jobs}

    def _python_metrics(self) -> dict:
        sq = self._sql_store()
        n = sq.executionsCount()
        vals = {v: 0.0 for v in PY_METRICS.values()}
        if n <= self._exec_seen:
            return vals
        execs = sq.executionsList(self._exec_seen, n - self._exec_seen)
        for i in range(execs.size()):
            eid = execs.apply(i).executionId()
            metrics = sq.executionMetrics(eid)
            nodes = sq.planGraph(eid).allNodes()
            seen = set()
            for k in range(nodes.size()):
                ms = nodes.apply(k).metrics()
                for j in range(ms.size()):
                    pm = ms.apply(j)
                    key = PY_METRICS.get(pm.name())
                    acc = pm.accumulatorId()
                    if key is None or acc in seen:
                        continue
                    seen.add(acc)
                    v = metrics.get(acc)
                    if v.isDefined():
                        vals[key] += parse_metric(v.get())
        self._exec_seen = n
        return vals

    def cache_state(self) -> dict:
        """Persisted RDDs and their in-memory plus on-disk bytes now."""
        rdds = self._jsc.getRDDStorageInfo()
        total = 0
        for r in rdds:
            total += r.memSize() + r.diskSize()
        return {"cache.persisted_rdds": len(rdds), "cache.bytes": total}
