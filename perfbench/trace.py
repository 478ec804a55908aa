"""Spans, layer wrappers and Spark counters for the traced run.

Spans are kept in memory and written out when the run ends. Each span has a
name, start, end, parent span and query id. The wrappers sit around the
engine's layer entry points and are installed from the benchmark process
before the registry imports the operator modules (``graph_algos`` binds
``session_memo``/``load_table`` at import time). With tracing off nothing is
installed, so the untraced run calls the engine unchanged.
"""

from __future__ import annotations

import sys
import threading
import time
from collections import Counter, defaultdict
from contextlib import contextmanager

MB = 1024 * 1024


class Span:
    __slots__ = ("sid", "name", "start", "end", "parent", "query", "attrs")

    def __init__(self, sid, name, start, parent, query):
        self.sid, self.name, self.start, self.end = sid, name, start, start
        self.parent, self.query, self.attrs = parent, query, {}

    @property
    def dur(self) -> float:
        return self.end - self.start

    def to_json(self) -> dict:
        return {
            "id": self.sid, "name": self.name, "start": self.start,
            "end": self.end, "parent": self.parent, "query": self.query,
            **({"attrs": self.attrs} if self.attrs else {}),
        }


#: Spans whose end attributes the Spark jobs submitted since the previous
#: mark (see :class:`SparkCounters`).
PHASES = ("construct", "execute")


class Tracer:
    """Span recorder. ``span`` nests on the main thread; ``record`` adds
    a finished span from another thread (the fake server's handlers) under
    the current query span. ``on_phase_end`` is called as each
    :data:`PHASES` span ends."""

    def __init__(self):
        self.spans: list[Span] = []
        self.enabled = False
        self.on_phase_end = None
        self.query: str | None = None
        self._stack: list[int] = []
        self._query_sid: int | None = None
        self._lock = threading.Lock()

    def _new(self, name, start, parent) -> Span:
        with self._lock:
            span = Span(len(self.spans), name, start, parent, self.query)
            self.spans.append(span)
        return span

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        span = self._new(name, time.perf_counter(), parent)
        span.attrs.update(attrs)
        self._stack.append(span.sid)
        try:
            yield span
        finally:
            # the phase hook runs inside the span, so its cost shows as
            # tracing overhead rather than as a gap in the query's cover
            if self.on_phase_end is not None and name in PHASES:
                self.on_phase_end(span)
            span.end = time.perf_counter()
            self._stack.pop()

    @contextmanager
    def query_span(self, qid: str):
        """The root span of one operation; its id scopes every child."""
        self.query = qid
        with self.span("query") as span:
            self._query_sid = span.sid if span else None
            try:
                yield span
            finally:
                self._query_sid = None
                self.query = None

    def record(self, name: str, start: float, end: float, **attrs) -> None:
        if not self.enabled:
            return
        span = self._new(name, start, self._query_sid)
        span.end = end
        span.attrs.update(attrs)


def self_times(spans: list[Span]) -> dict[str, float]:
    """Per span name, the summed duration minus what its child spans
    cover (children recorded from other threads may overlap their parent
    only partly; they are clipped to it)."""
    covered: dict[int, float] = defaultdict(float)
    by_id = {s.sid: s for s in spans}
    for s in spans:
        p = by_id.get(s.parent) if s.parent is not None else None
        if p is not None:
            covered[p.sid] += max(0.0, min(s.end, p.end) - max(s.start, p.start))
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        out[s.name] += max(0.0, s.dur - covered[s.sid])
    return dict(out)


# -- layer wrappers ---------------------------------------------------------


def install(tracer: Tracer) -> None:
    """Wrap the engine's layer entry points. Must run before the registry
    loads the operator modules; references already bound by imported
    modules are rebound too."""
    from flink_neo4j_spark import catalog, cypher_frontend, tuning

    orig_memo, orig_load = catalog.session_memo, catalog.load_table
    orig_kernel = tuning.iter_kernel
    orig_read, orig_write = cypher_frontend.cypher_read, cypher_frontend.cypher_write

    def session_memo(spark, key, make):
        with tracer.span("catalog.session_memo", build=False) as span:
            def build():
                if span is not None:
                    span.attrs["build"] = True
                return make()

            return orig_memo(spark, key, build)

    def load_table(spark, sf_dir, name):
        with tracer.span("catalog.load_table", table=name):
            return orig_load(spark, sf_dir, name)

    @contextmanager
    def iter_kernel(*args, **kwargs):
        with tracer.span("tuning.iter_kernel") as span, orig_kernel(*args, **kwargs) as k:
            if span is not None:
                span.attrs.update(width=k.width, narrow=k.narrow)
            yield k

    def cypher_read(*args, **kwargs):
        with tracer.span("cypher_frontend.cypher_read"):
            return orig_read(*args, **kwargs)

    def cypher_write(*args, **kwargs):
        with tracer.span("cypher_frontend.cypher_write"):
            return orig_write(*args, **kwargs)

    swaps = {
        orig_memo: session_memo, orig_load: load_table, orig_kernel: iter_kernel,
        orig_read: cypher_read, orig_write: cypher_write,
    }
    for name, mod in list(sys.modules.items()):
        if mod is None or not name.startswith("flink_neo4j_spark"):
            continue
        for attr, value in list(vars(mod).items()):
            if callable(value) and value in swaps:
                setattr(mod, attr, swaps[value])


# -- Spark counters ---------------------------------------------------------


class SparkCounters:
    """Job, stage and task counters read from the application status
    store. A window's jobs are the job ids submitted between two marks,
    whichever thread submitted them."""

    def __init__(self, spark):
        self._jsc = spark.sparkContext._jsc.sc()
        self._store = self._jsc.statusStore()
        self._jsc.listenerBus().waitUntilEmpty()
        jobs = self._store.jobsList(None)  # newest first
        self._next = jobs.apply(0).jobId() + 1 if jobs.size() else 0

    def _has_job(self, jid: int) -> bool:
        try:
            self._store.job(jid)
            return True
        except Exception:
            return False

    def _probe_next(self, start: int) -> int:
        jid = start
        while self._has_job(jid):
            jid += 1
        return jid

    def mark(self) -> list[int]:
        """Job ids submitted since the previous mark."""
        self._jsc.listenerBus().waitUntilEmpty()
        end = self._probe_next(self._next)
        ids = list(range(self._next, end))
        self._next = end
        return ids

    def stage_totals(self, job_ids: list[int]) -> Counter:
        out: Counter = Counter(jobs=len(job_ids))
        seen = set()
        for jid in job_ids:
            sids = self._store.job(jid).stageIds()
            for k in range(sids.size()):
                sid = sids.apply(k)
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    st = self._store.lastStageAttempt(sid)
                except Exception:
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numTasks()
                out["shuffle_read_mb"] += st.shuffleReadBytes() / MB
                out["shuffle_write_mb"] += st.shuffleWriteBytes() / MB
                out["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / MB
                out["task_run_s"] += st.executorRunTime() / 1000.0
                out["gc_s"] += st.jvmGcTime() / 1000.0
        return out

    def cached_mb(self) -> float:
        rdds = self._store.rddList(True)
        total = 0
        for k in range(rdds.size()):
            r = rdds.apply(k)
            total += r.memoryUsed() + r.diskUsed()
        return total / MB


def catalyst_ms(df) -> dict[str, float]:
    """Analysis/optimization/planning time from the DataFrame's
    QueryPlanningTracker, read after the DataFrame has executed."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        opt = phases.get(phase)
        out[phase] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out
