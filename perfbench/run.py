"""Layer-attributed benchmark of the engine on ``local[4]``.

Usage::

    python3 perfbench/run.py --workload {cypher,connector}
        --seed N --seconds S --trace {0,1}

One run is a sequence of cycles, each one timed pass over the workload's
fixed operation set at sf0.1, in an order drawn from the seed. A set-up
(``session.get_spark``, the registry load, and a warm-up at sf0.001) in a
cold JVM comes first; it and the engine import before it are ``setup_s``:
process start to a warm session. The session is kept for every cycle. On
``cypher`` the first two passes only warm the JVM, and the first builds the
memoized graph that the later passes reuse: the operation figures come from
the cycles after them. On ``connector`` the warm-up runs the whole write
and read path, so every pass counts. The number of counted cycles is
``--seconds`` divided by the workload's nominal pass time, so every run of
a workload does the same work. A traced run makes five cycles: untraced,
untraced, traced, traced, untraced, so the traced-minus-untraced difference
is the tracing overhead with drift cancelled. Every result is checked; a
raise or a mismatch is a failed operation.

The end-to-end metrics are CPU times at a reference host speed. Each is
the CPU time, user plus system, of this process and every process under it
(the JVM and Spark's Python workers), scaled by ``REF_PROBE_S`` over the
median reading of a fixed pure-Python loop timed in thread CPU time
throughout the run. Wall time is not used because on a shared virtual
machine the hypervisor takes the CPUs away in windows lasting minutes,
which stretched wall times by up to two times; raw CPU time is not used
because the speed of each instruction moved by about 30% between such
windows too, and the loop moved with it. Wall times, raw CPU times, the
loop's readings and the host's steal share in each pass go to the details
line.

The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``. The line before it carries run
details (sample counts, the tail percentile, the host-speed probe). Spans
and per-operation records go to ``perfbench/.out/``.
"""

from __future__ import annotations

import time

#: Process start, as near as the script can take it. ``setup_s`` counts from
#: here to the engine's import plus the cold set-up; the benchmark's own work
#: between them (inputs, the host probe) is left out.
PROCESS_START = time.perf_counter()

import argparse
import json
import os
import random
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA_DIR = os.path.join(HERE, ".data")
OUT_DIR = os.path.join(HERE, ".out")
TMP_DIR = os.path.join(HERE, ".tmp")

WORKLOADS = ("cypher", "connector")
SCALES = {"sf0.1": ("0.1", "0.001"), "sf0.001": ("0.001", "0.001")}
CORES = "4"
MIN_CYCLES = 2
TRACED_PATTERN = (False, False, True, True, False)
TAIL_BEYOND = 10
CLK_TCK = os.sysconf("SC_CLK_TCK")
#: Iterations of the host-speed probe, and the thread CPU seconds it reads on
#: the reference host (a quiet window of a 4-core VM with an Intel Xeon).
PROBE_ITERS = 200_000
REF_PROBE_S = 0.015
#: Probe readings taken before the set-up, after the last pass, and after
#: every operation (outside its timed region).
PROBES_AT_ENDS = 10
PROBES_PER_OP = 3
#: Nominal seconds of one pass per workload on a 4-core host; ``--seconds``
#: divided by it gives the number of cycles.
NOMINAL_PASS_S = {"cypher": 8.0, "connector": 11.0}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=tuple(SCALES), default="sf0.1",
                   help="timed scale factor (sf0.001 for the self-tests)")
    p.add_argument("--expected", help="expected-results file (self-tests)")
    p.add_argument("--fail-requests", default="",
                   help="comma-separated request numbers the fake endpoint answers with 500")
    p.add_argument("--list-ops", action="store_true",
                   help="print the first cycles' operation order and exit")
    return p.parse_args(argv)


def n_cycles(args) -> int:
    if args.trace:
        return len(TRACED_PATTERN)
    from perfbench.workloads import WORKLOAD_CLASSES

    counted = max(MIN_CYCLES, round(args.seconds / NOMINAL_PASS_S[args.workload]))
    return counted + WORKLOAD_CLASSES[args.workload].warm_passes


def op_orders(names, seed):
    """The per-cycle operation orders a seed gives."""
    rng = random.Random(seed)
    while True:
        yield rng.sample(list(names), len(names))


def cpu_probe(n: int) -> list[float]:
    """``n`` readings of the host-speed probe: a fixed pure-Python loop, in
    CPU seconds of the calling thread, so that time the hypervisor takes
    away does not count but a slower instruction does."""
    out = []
    for _ in range(n):
        t0 = time.thread_time()
        acc = 0
        for i in range(PROBE_ITERS):
            acc = (acc + i * i) % 1_000_003
        out.append(time.thread_time() - t0)
    return out


def tree_cpu_s() -> float:
    """CPU seconds, user plus system, used so far by this process and every
    process under it: the JVM and the Python workers it starts. A child that
    has ended counts once its parent has reaped it."""
    children: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended while the table was read
            continue
        pid = int(entry)
        children.setdefault(int(fields[1]), []).append(pid)
        ticks[pid] = sum(int(f) for f in fields[11:15])  # utime stime cutime cstime
    total = 0
    todo = list(children.get(os.getpid(), ()))
    while todo:
        pid = todo.pop()
        total += ticks[pid]
        todo.extend(children.get(pid, ()))
    return time.process_time() + total / CLK_TCK


def host_ticks() -> tuple[int, int]:
    """(steal, all) clock ticks of every CPU since boot, from ``/proc/stat``."""
    with open("/proc/stat") as fh:
        fields = [int(f) for f in fh.readline().split()[1:]]
    return fields[7], sum(fields)


def tail(samples):
    """The highest percentile with at least ``TAIL_BEYOND`` samples beyond
    it, as (value, percentile, sample count). Below ``2 * TAIL_BEYOND``
    samples that percentile would fall under the median, so the maximum is
    reported instead."""
    s = sorted(samples)
    if len(s) < 2 * TAIL_BEYOND:
        return s[-1], 100.0, len(s)
    k = len(s) - TAIL_BEYOND
    return s[k - 1], 100.0 * k / len(s), len(s)


def confine_temp_files() -> None:
    """Keep Spark's and Python's scratch files inside the checkout, and set
    the JVM options and core count."""
    import tempfile

    os.makedirs(TMP_DIR, exist_ok=True)
    os.environ["TMPDIR"] = TMP_DIR
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = TMP_DIR
    # -XX:-UsePerfData: no hsperfdata file, which the JVM would write under
    # /tmp. -XX:TieredStopAtLevel=1: the C1 compiler only. With C2 as well,
    # passes kept getting faster for four or five passes, longer than a run
    # can wait; with C1 alone they are flat from the second pass on.
    os.environ["JDK_JAVA_OPTIONS"] = (
        f"-Djava.io.tmpdir={TMP_DIR} -XX:-UsePerfData -XX:TieredStopAtLevel=1"
    )
    os.environ["SPARK_GRAFT_CPUS"] = CORES


def make_workload(args, tracer, timed_dir, warm_dir, sf_key):
    from perfbench import workloads as w

    if args.workload == "connector":
        fails = [int(x) for x in args.fail_requests.split(",") if x]
        return w.ConnectorWorkload(tracer, timed_dir, warm_dir, fails)
    expected = w.load_expected(args.expected or w.EXPECTED_PATH)
    return w.RegistryWorkload(w.REGISTRY[args.workload], tracer, expected, timed_dir, warm_dir, sf_key)


class Cycle:
    def __init__(self, traced: bool, warming: bool):
        self.traced = traced
        self.warming = warming  # a pass that only warms the JVM, not counted
        self.ops = []
        self.span_range = (0, 0)
        self.cache_mb = 0.0
        self.steal_share = 0.0  # the host's steal ticks over all ticks
        self.probes: list[float] = []

    @property
    def pass_s(self) -> float:
        return sum(op.wall_s for op in self.ops)

    @property
    def pass_cpu_s(self) -> float:
        return sum(op.cpu_s for op in self.ops)


def set_up(wl, tracer):
    """A fresh session plus the workload's registry load and warm-up;
    returns the session and the wall and CPU seconds it took."""
    from flink_neo4j_spark.session import get_spark

    t0, cpu0 = time.perf_counter(), tree_cpu_s()
    with tracer.span("setup"):
        with tracer.span("session.start"):
            spark = get_spark("perfbench")
            spark.sparkContext.setLogLevel("ERROR")
        wl.setup(spark)
    return spark, time.perf_counter() - t0, tree_cpu_s() - cpu0


def run_pass(wl, spark, order, tracer, cyc: Cycle) -> None:
    from perfbench.trace import SparkCounters, catalyst_ms
    from perfbench.workloads import Op

    tracer.enabled = cyc.traced
    counters = SparkCounters(spark) if cyc.traced else None
    if counters is not None:
        def attribute(span):
            span.attrs["job_ids"] = counters.mark()
        tracer.on_phase_end = attribute
    first_span = len(tracer.spans)
    steal0, all0 = host_ticks()
    try:
        for name in order:
            op = Op(name)
            try:
                cpu0 = tree_cpu_s()
                with tracer.query_span(name):
                    result = wl.run(spark, name, op)
                op.cpu_s = tree_cpu_s() - cpu0
                op.ok = wl.check(name, result, op)
                if not op.ok:
                    op.error = "result mismatch"
            except Exception as exc:  # a failed operation, counted and reported
                op.error = f"{type(exc).__name__}: {str(exc)[:300]}"
            if counters is not None:
                for span in tracer.spans[first_span:]:
                    if "job_ids" in span.attrs:
                        span.attrs["spark"] = dict(counters.stage_totals(span.attrs.pop("job_ids")))
                if op.df is not None:
                    op.layers["catalyst"] = catalyst_ms(op.df)
                op.layers["cached_mb"] = counters.cached_mb()
            op.df = None
            cyc.ops.append(op)
            cyc.probes += cpu_probe(PROBES_PER_OP)
        if counters is not None:
            cyc.cache_mb = counters.cached_mb()
        steal1, all1 = host_ticks()
        cyc.steal_share = (steal1 - steal0) / max(all1 - all0, 1)
    finally:
        tracer.on_phase_end = None
        tracer.enabled = False


def run_cycles(wl, orders, tracer, pattern, trace_setup: bool):
    """Set up one session, then run one cycle per entry of ``pattern``
    (whether its pass is traced); returns the set-up's wall and CPU seconds
    and the cycles.
    A traced run also traces the set-up, whose spans open the first cycle's
    span range."""
    tracer.enabled = trace_setup
    try:
        spark, setup_s, setup_cpu_s = set_up(wl, tracer)
    finally:
        tracer.enabled = False
    cycles: list[Cycle] = []
    first_span = 0
    try:
        for traced in pattern:
            cyc = Cycle(traced, warming=len(cycles) < wl.warm_passes)
            run_pass(wl, spark, next(orders), tracer, cyc)
            cyc.span_range = (first_span, len(tracer.spans))
            first_span = len(tracer.spans)
            cycles.append(cyc)
    finally:
        spark.stop()
    return setup_s, setup_cpu_s, cycles


def end_to_end(cycles, setup_cpu_s: float, scale: float) -> tuple[dict, dict]:
    """The end-to-end metrics, CPU seconds times ``scale``, and their raw
    and wall-time counterparts for the details line; the pass and operation
    figures come from the counted cycles."""
    counted = [c for c in cycles if not c.warming]
    cpus = [op.cpu_s for c in counted for op in c.ops]
    walls = [op.wall_s for c in counted for op in c.ops]
    pass_cpu = statistics.median(c.pass_cpu_s for c in counted)
    t, pct, n = tail(cpus)
    metrics = {
        "setup_s": (setup_cpu_s * scale, "s"),
        "pass_cpu_s": (pass_cpu * scale, "s"),
        "query_cpu_p50_s": (statistics.median(cpus) * scale, "s"),
        "query_cpu_tail_s": (t * scale, "s"),
    }
    return metrics, {
        "query_samples": n, "query_tail_pct": round(pct, 2),
        "raw_setup_cpu_s": round(setup_cpu_s, 4), "raw_pass_cpu_s": round(pass_cpu, 4),
        "pass_wall_s": round(statistics.median(c.pass_s for c in counted), 4),
        "query_wall_p50_s": round(statistics.median(walls), 4),
        "query_wall_tail_s": round(tail(walls)[0], 4),
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if args.list_ops:
        from perfbench import workloads as w

        names = w.REGISTRY.get(args.workload, w.CONNECTOR_OPS)
        orders = op_orders(names, args.seed)
        print(json.dumps([next(orders) for _ in range(n_cycles(args))]))
        return 0

    confine_temp_files()
    import flink_neo4j_spark  # noqa: F401  (the engine under test)

    import_s = time.perf_counter() - PROCESS_START
    import_cpu_s = time.process_time()

    from perfbench import datagen, layers
    from perfbench.trace import Tracer, install

    timed_sf, warm_sf = SCALES[args.scale]
    dirs = {}
    for sf in {timed_sf, warm_sf}:
        dirs[sf] = os.path.join(DATA_DIR, f"sf{sf}")
        datagen.generate(dirs[sf], float(sf))

    probe_start = cpu_probe(PROBES_AT_ENDS)
    tracer = Tracer()
    if args.trace:
        install(tracer)
    wl = make_workload(args, tracer, dirs[timed_sf], dirs[warm_sf], timed_sf)
    orders = op_orders(wl.names, args.seed)
    pattern = TRACED_PATTERN if args.trace else (False,) * n_cycles(args)
    try:
        wl.prepare()
        if args.trace and getattr(wl, "server", None) is not None:
            wl.server.on_request = lambda t0, t1: tracer.record("transport.request", t0, t1)
        setup_s, setup_cpu_s, cycles = run_cycles(wl, orders, tracer, pattern, bool(args.trace))
    finally:
        wl.close()
        stop_gateway()
    probe_end = cpu_probe(PROBES_AT_ENDS)
    probe_s = statistics.median(probe_start + [p for c in cycles for p in c.probes] + probe_end)

    ops = [op for c in cycles for op in c.ops]
    failed = [op for op in ops if not op.ok]
    if args.trace:
        metrics = layers.per_layer(cycles, tracer)
        details = {}
    else:
        metrics, details = end_to_end(cycles, import_cpu_s + setup_cpu_s, REF_PROBE_S / probe_s)
    details.update(
        workload=args.workload, seed=args.seed, cycles=len(cycles),
        pass_s=[round(c.pass_s, 4) for c in cycles],
        pass_cpu_s=[round(c.pass_cpu_s, 4) for c in cycles],
        host_steal=[round(c.steal_share, 4) for c in cycles],
        import_s=round(import_s, 4), cold_setup_s=round(setup_s, 4),
        host_probe_s=round(probe_s, 6),
        host_probe_start_s=round(statistics.median(probe_start), 6),
        host_probe_end_s=round(statistics.median(probe_end), 6),
        errors=sorted({f"{op.name}: {op.error}" for op in failed})[:10],
    )
    write_records(args, cycles, tracer, details)
    print(json.dumps({"details": details}))
    print(json.dumps({
        "correct": not failed,
        "attempted": len(ops),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def stop_gateway() -> None:
    """Stop the JVM this process launched and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def write_records(args, cycles, tracer, details) -> None:
    os.makedirs(OUT_DIR, exist_ok=True)
    record = {
        "details": details,
        "cycles": [
            {
                "traced": c.traced, "warming": c.warming, "pass_s": c.pass_s,
                "ops": [
                    {"name": op.name, "ok": op.ok, "error": op.error,
                     "construct_s": op.construct_s, "execute_s": op.execute_s,
                     "cpu_s": op.cpu_s,
                     **op.layers}
                    for op in c.ops
                ],
            }
            for c in cycles
        ],
        "spans": [s.to_json() for s in tracer.spans],
    }
    mode = "trace" if args.trace else "run"
    path = os.path.join(OUT_DIR, f"{mode}-{args.workload}-seed{args.seed}.json")
    with open(path, "w") as fh:
        json.dump(record, fh)


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    sys.exit(main())
