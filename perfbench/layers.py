"""Per-layer metrics of a traced run.

Each traced cycle's spans and operation records are summed per pass; the
reported value is the median over the traced passes. The set-up metrics
come from the run's one set-up, in a cold JVM, which the traced run traces.
Layer times of nested spans of the same layer (a memo build inside another
build, a Cypher call inside another) are counted once, at the outermost
span.
"""

from __future__ import annotations

import statistics
from collections import Counter

from perfbench.trace import self_times

#: (metric, unit, better) in the order they are reported; BENCHMARK.json
#: lists the same names.
PER_LAYER = (
    ("session.start_s", "s", "lower"),
    ("registry.load_s", "s", "lower"),
    ("bench.warmup_s", "s", "lower"),
    ("construct_s", "s", "lower"),
    ("construct_jobs", "count", "lower"),
    ("execute_s", "s", "lower"),
    ("cypher_frontend.s", "s", "lower"),
    ("cypher_frontend.calls", "count", "lower"),
    ("catalog.memo_builds", "count", "lower"),
    ("catalog.memo_hits", "count", "higher"),
    ("catalog.memo_build_s", "s", "lower"),
    ("catalog.table_loads", "count", "lower"),
    ("tuning.iter_kernel_scopes", "count", "lower"),
    ("tuning.iter_kernel_narrow", "count", "higher"),
    ("tuning.iter_kernel_s", "s", "lower"),
    ("catalyst.analysis_ms", "ms", "lower"),
    ("catalyst.optimization_ms", "ms", "lower"),
    ("catalyst.planning_ms", "ms", "lower"),
    ("spark.jobs", "count", "lower"),
    ("spark.stages", "count", "lower"),
    ("spark.tasks", "count", "lower"),
    ("spark.shuffle_read_mb", "MB", "lower"),
    ("spark.shuffle_write_mb", "MB", "lower"),
    ("spark.spill_mb", "MB", "lower"),
    ("spark.task_run_s", "s", "lower"),
    ("spark.gc_s", "s", "lower"),
    ("spark.cached_mb", "MB", "lower"),
    ("cache_resident_mb", "MB", "lower"),
    ("error_rate", "fraction", "lower"),
    ("sources.write_s", "s", "lower"),
    ("sources.read_plan_s", "s", "lower"),
    ("sources.read_exec_s", "s", "lower"),
    ("sources.write_tasks", "count", "lower"),
    ("sources.read_splits", "count", "lower"),
    ("write_rows_per_s", "rows/s", "higher"),
    ("read_rows_per_s", "rows/s", "higher"),
    ("transport.requests", "count", "lower"),
    ("transport.bytes_in_per_row", "B/row", "lower"),
    ("transport.bytes_out_per_row", "B/row", "lower"),
    ("transport.server_busy_s", "s", "lower"),
    ("self.construct_s", "s", "lower"),
    ("self.execute_s", "s", "lower"),
    ("self.cypher_frontend_s", "s", "lower"),
    ("self.catalog_s", "s", "lower"),
    ("self.tuning_s", "s", "lower"),
    ("self.sources_s", "s", "lower"),
    ("trace.overhead_s", "s", "lower"),
    ("trace.coverage_min", "fraction", "higher"),
)

#: Span names that make up one layer.
_LAYER_SPANS = {
    "cypher_frontend": ("cypher_frontend.cypher_read", "cypher_frontend.cypher_write"),
    "catalog": ("catalog.session_memo", "catalog.load_table"),
    "tuning": ("tuning.iter_kernel",),
    "sources": ("sources.write_cypher", "sources.read_cypher"),
}


def _outermost(spans, by_id, names):
    """Spans named in ``names`` with no ancestor of the same names."""
    out = []
    for s in spans:
        if s.name not in names:
            continue
        p = by_id.get(s.parent)
        while p is not None and p.name not in names:
            p = by_id.get(p.parent)
        if p is None:
            out.append(s)
    return out


def setup_layers(spans) -> dict[str, float]:
    """The parts of one set-up, from its spans."""
    first = {s.name: s.dur for s in reversed(spans) if s.query is None}
    return {
        "session.start_s": first.get("session.start", 0.0),
        "registry.load_s": first.get("registry.load", 0.0),
        "bench.warmup_s": first.get("warmup", 0.0),
    }


def pass_layers(cycle, spans) -> dict[str, float]:
    """Per-layer sums for one traced pass, from the spans inside its
    operations."""
    spans = [s for s in spans if s.query is not None]
    by_id = {s.sid: s for s in spans}
    named = Counter()
    for s in spans:
        named[s.name] += 1
    m: dict[str, float] = Counter()

    phases = [s for s in spans if s.name in ("construct", "execute")]
    for s in phases:
        m[f"{s.name}_s"] += s.dur
        for k, v in s.attrs.get("spark", {}).items():
            m[f"spark.{k}"] += v
        if s.name == "construct":
            m["construct_jobs"] += s.attrs.get("spark", {}).get("jobs", 0)

    cy = _outermost(spans, by_id, _LAYER_SPANS["cypher_frontend"])
    m["cypher_frontend.s"] = sum(s.dur for s in cy)
    m["cypher_frontend.calls"] = sum(named[n] for n in _LAYER_SPANS["cypher_frontend"])
    memo = [s for s in spans if s.name == "catalog.session_memo"]
    builds = [s for s in memo if s.attrs.get("build")]
    m["catalog.memo_builds"] = len(builds)
    m["catalog.memo_hits"] = len(memo) - len(builds)
    m["catalog.memo_build_s"] = sum(
        s.dur for s in _outermost(builds, by_id, ("catalog.session_memo",))
    )
    m["catalog.table_loads"] = named["catalog.load_table"]
    kernels = [s for s in spans if s.name == "tuning.iter_kernel"]
    m["tuning.iter_kernel_scopes"] = len(kernels)
    m["tuning.iter_kernel_narrow"] = sum(1 for s in kernels if s.attrs.get("narrow"))
    m["tuning.iter_kernel_s"] = sum(
        s.dur for s in _outermost(kernels, by_id, ("tuning.iter_kernel",))
    )

    rows = 0
    for op in cycle.ops:
        cat = op.layers.get("catalyst", {})
        for phase in ("analysis", "optimization", "planning"):
            m[f"catalyst.{phase}_ms"] += cat.get(phase, 0.0)
        m["spark.cached_mb"] = max(m["spark.cached_mb"], op.layers.get("cached_mb", 0.0))
        for key in ("write_s", "read_plan_s", "read_exec_s"):
            m[f"sources.{key}"] += op.layers.get(key, 0.0)
        rows += op.layers.get("rows", 0)
        m["transport.requests"] += op.layers.get("requests", 0)
        m["transport.server_busy_s"] += op.layers.get("server_busy_s", 0.0)
        m["sources.read_splits"] += op.layers.get("reads", 0)
        m["transport.bytes_in_per_row"] += op.layers.get("bytes_in", 0)
        m["transport.bytes_out_per_row"] += op.layers.get("bytes_out", 0)
    m["cache_resident_mb"] = cycle.cache_mb
    m["error_rate"] = sum(1 for op in cycle.ops if not op.ok) / max(len(cycle.ops), 1)
    for s in spans:
        if s.name == "sources.write_cypher":
            m["sources.write_tasks"] += by_id[s.parent].attrs.get("spark", {}).get("tasks", 0)
    if rows:
        m["transport.bytes_in_per_row"] /= rows
        m["transport.bytes_out_per_row"] /= rows
        m["write_rows_per_s"] = rows / m["sources.write_s"]
        m["read_rows_per_s"] = rows / (m["sources.read_plan_s"] + m["sources.read_exec_s"])

    own = self_times(spans)
    m["self.construct_s"] = own.get("construct", 0.0)
    m["self.execute_s"] = own.get("execute", 0.0)
    for layer, names in _LAYER_SPANS.items():
        m[f"self.{layer}_s"] = sum(own.get(n, 0.0) for n in names)

    covers = []
    for q in (s for s in spans if s.name == "query"):
        inner = sum(p.dur for p in phases if p.parent == q.sid)
        covers.append(inner / q.dur if q.dur > 0 else 1.0)
    m["trace.coverage_min"] = min(covers) if covers else 1.0
    return m


def per_layer(cycles, tracer) -> dict[str, tuple[float, str]]:
    traced = [c for c in cycles if c.traced]
    untraced = [c for c in cycles if not (c.traced or c.warming)]
    passes = [pass_layers(c, tracer.spans[slice(*c.span_range)]) for c in traced]
    setup = setup_layers(tracer.spans[slice(*cycles[0].span_range)])
    out = {}
    for name, unit, _ in PER_LAYER:
        if name in setup:
            value = setup[name]
        elif name == "trace.overhead_s":
            value = statistics.median(c.pass_s for c in traced) - statistics.median(
                c.pass_s for c in untraced
            )
        elif name == "trace.coverage_min":
            value = min(p[name] for p in passes)
        else:
            value = statistics.median(float(p.get(name, 0.0)) for p in passes)
        out[name] = (value, unit)
    return out
