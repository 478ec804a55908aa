"""The benchmark's workloads: fixed operation sets, their set-up, and the
per-operation result check.

A registry workload runs a fixed set of registry queries; each operation is
one query, timed as construct (the query function's call) plus execute
(``toPandas``). The connector workload round-trips slices of ``lineitem``
through ``write_cypher`` and ``read_cypher`` over ``HttpTransport`` against
the in-process fake endpoint.
"""

from __future__ import annotations

import functools
import hashlib
import json
import os
import time

HERE = os.path.dirname(os.path.abspath(__file__))
EXPECTED_PATH = os.path.join(HERE, "expected.json")

#: Short graph queries over the one memoized ``tpch_graph``: Cypher reads
#: (OPTIONAL, variable length, WITH with aggregation, CALL/UNION, a shortest
#: path, which opens ``tuning.iter_kernel`` scopes) beside Cypher writes
#: (SET/REMOVE of a label, FOREACH, MERGE with SET) and a DETACH DELETE
#: through ``PropertyGraph.delete_nodes``, the call Cypher's DELETE lowers to.
CYPHER = (
    "g5_cypher_frontend", "g8_cypher_optional", "g9_cypher_varlength",
    "g11_detach_delete", "g17_cypher_with_agg", "g18_cypher_merge",
    "g44_cypher_label_set", "g49_cypher_foreach", "g56_cypher_call_union",
    "g58_cypher_path_nodes",
)
REGISTRY = {"cypher": CYPHER}


def result_digest(pdf) -> dict:
    """Row count, sorted column names and the md5 of the canonical rows,
    canonicalised exactly like the conformance tests."""
    from tests.conftest import _canon_rows

    h = hashlib.md5()
    for row in _canon_rows(pdf):
        h.update(row.encode())
        h.update(b"\n")
    return {"rows": len(pdf), "cols": sorted(pdf.columns), "md5": h.hexdigest()}


def load_expected(path: str = EXPECTED_PATH) -> dict:
    """Expected results, refused when computed on another generator version."""
    from perfbench.datagen import VERSION

    with open(path) as fh:
        expected = json.load(fh)
    if expected["datagen_version"] != VERSION:
        raise ValueError(f"{path} was computed on datagen version {expected['datagen_version']}, not {VERSION}")
    return expected


def matches(pdf, expected: dict | None) -> bool:
    """A rows-only expectation (``md5`` null) checks the row count."""
    if expected is None or len(pdf) != expected["rows"]:
        return False
    if expected["md5"] is None:
        return True
    return result_digest(pdf) == expected


class Op:
    """Timings and outcome of one operation."""

    def __init__(self, name: str):
        self.name = name
        self.construct_s = self.execute_s = 0.0
        self.cpu_s = 0.0  # of the process tree, over construct plus execute
        self.ok = False
        self.error: str | None = None
        self.layers: dict = {}
        self.df = None  # the executed DataFrame, for the Catalyst phase times

    @property
    def wall_s(self) -> float:
        return self.construct_s + self.execute_s


class RegistryWorkload:
    #: The warm-up leaves most query paths cold in a new JVM, and warming
    #: them at the small scale factor does not make the first timed pass
    #: run at speed. The second pass still used 10-30% more CPU than the
    #: ones after it, so the first two passes only warm the JVM.
    warm_passes = 2

    def __init__(self, names, tracer, expected, timed_dir, warm_dir, sf_key):
        self.names = tuple(names)
        self.tracer = tracer
        self.expected = expected[sf_key]
        self.timed_dir, self.warm_dir = timed_dir, warm_dir
        self.queries = {}

    def prepare(self) -> None:
        pass

    def setup(self, spark) -> None:
        """Registry load plus the warm-up: the first listed operation,
        whatever the seed, at the small scale factor."""
        from flink_neo4j_spark.registry import all_queries

        with self.tracer.span("registry.load"):
            registry = all_queries()
        self.queries = {n: registry[n] for n in self.names}
        with self.tracer.span("warmup"):
            self.queries[self.names[0]](spark, self.warm_dir).toPandas()

    def run(self, spark, name: str, op: Op) -> object:
        """Run one query; returns the collected result for :meth:`check`."""
        t0 = time.perf_counter()
        with self.tracer.span("construct"):
            df = self.queries[name](spark, self.timed_dir)
        t1 = time.perf_counter()
        with self.tracer.span("execute"):
            pdf = df.toPandas()
        t2 = time.perf_counter()
        op.construct_s, op.execute_s = t1 - t0, t2 - t1
        op.df = df
        return pdf

    def check(self, name: str, pdf, op: Op) -> bool:
        return matches(pdf, self.expected.get(name))

    def close(self) -> None:
        pass


#: ``lineitem``'s columns the Cypher sink can write (``l_shipdate`` is a
#: timestamp, which it rejects).
CONNECTOR_COLUMNS = (
    "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
    "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
)
CONNECTOR_SCHEMA = (
    "l_orderkey bigint, l_partkey bigint, l_suppkey bigint, l_linenumber int, "
    "l_quantity double, l_extendedprice double, l_discount double, "
    "l_tax double, l_returnflag string, l_linestatus string"
)
#: ``lineitem`` is cut into this many slices by ``l_orderkey``; a pass
#: round-trips the first ``len(CONNECTOR_OPS)`` of them, about 150k rows each.
CONNECTOR_SLICES = 4
CONNECTOR_OPS = ("slice0", "slice1")
READ_SPLITS = 4
BATCH_SIZE = 1000


class ConnectorWorkload:
    """Each operation writes one slice of ``lineitem`` (rows whose
    ``l_orderkey % CONNECTOR_SLICES`` equals the slice number) under its own
    label with ``batch_size=1000``, then reads it back with a four-way split
    read. After timing, every written row must have arrived exactly once and
    the read-back must equal the source."""

    WARM = "LineItemWarm"
    #: The warm-up round trip runs the whole write and read path, so the
    #: first pass runs at speed.
    warm_passes = 0

    def __init__(self, tracer, timed_dir, warm_dir, fail_requests=()):
        self.tracer = tracer
        self.timed_dir, self.warm_dir = timed_dir, warm_dir
        self.fail_requests = fail_requests
        self.names = CONNECTOR_OPS
        self.server = None
        self.truth = {}

    @staticmethod
    def _label(name: str) -> str:
        return f"LineItem_{name}"

    def prepare(self) -> None:
        """Start the fake endpoint and encode every read response."""
        import pyarrow.parquet as pq

        from perfbench.fakeneo import FakeNeo4j

        self.server = FakeNeo4j(self.fail_requests)
        cols = list(CONNECTOR_COLUMNS)
        timed = pq.read_table(os.path.join(self.timed_dir, "lineitem.parquet"), columns=cols)
        warm = pq.read_table(os.path.join(self.warm_dir, "lineitem.parquet"), columns=cols)
        slice_of = timed["l_orderkey"].to_numpy() % CONNECTOR_SLICES
        slices = {self.WARM: warm}
        for k, name in enumerate(self.names):
            slices[self._label(name)] = timed.filter(slice_of == k)
        for label, table in slices.items():
            rows = list(zip(*(table[c].to_numpy().tolist() for c in cols)))
            self.server.serve_splits(label, cols, rows, READ_SPLITS)
            self.truth[label] = sorted(rows)

    def factory(self):
        from flink_neo4j_spark.sources.transport import HttpTransport

        return functools.partial(
            HttpTransport, self.server.uri, connect_timeout_s=10.0, read_timeout_s=60.0
        )

    def setup(self, spark) -> None:
        """Materialise the pass's slices on four partitions, then warm up
        with a round trip of the small-scale-factor ``lineitem``."""
        from pyspark.sql import functions as F

        with self.tracer.span("warmup"):
            src = (
                spark.read.parquet(os.path.join(self.timed_dir, "lineitem.parquet"))
                .select(*CONNECTOR_COLUMNS)
                .where(F.col("l_orderkey") % CONNECTOR_SLICES < len(self.names))
                .repartition(4)
                .persist()
            )
            src.count()
            self.sources = {
                self._label(n): src.where(F.col("l_orderkey") % CONNECTOR_SLICES == k)
                for k, n in enumerate(self.names)
            }
            warm = spark.read.parquet(
                os.path.join(self.warm_dir, "lineitem.parquet")
            ).select(*CONNECTOR_COLUMNS).repartition(4)
            self.server.fail_armed = False
            self._round_trip(spark, self.WARM, warm, Op(self.WARM))
            self.server.reset()

    def _round_trip(self, spark, label: str, df, op: Op):
        from flink_neo4j_spark.sources.cypher import read_cypher, write_cypher

        factory = self.factory()
        t0 = time.perf_counter()
        with self.tracer.span("execute"), self.tracer.span("sources.write_cypher"):
            write_cypher(df, factory, label=label, batch_size=BATCH_SIZE)
        t1 = time.perf_counter()
        ret = ", ".join(f"n.{c} AS {c}" for c in CONNECTOR_COLUMNS)
        with self.tracer.span("construct"), self.tracer.span("sources.read_cypher"):
            rdf = read_cypher(
                spark, factory, f"MATCH (n:{label}) RETURN {ret}", CONNECTOR_SCHEMA,
                num_partitions=READ_SPLITS,
                partition_template=f"MATCH (n:{label}) WHERE id(n) % {{n}} = {{i}} RETURN {ret}",
            )
        t2 = time.perf_counter()
        with self.tracer.span("execute"):
            pdf = rdf.toPandas()
        t3 = time.perf_counter()
        op.construct_s, op.execute_s = t2 - t1, (t1 - t0) + (t3 - t2)
        op.layers.update(write_s=t1 - t0, read_plan_s=t2 - t1, read_exec_s=t3 - t2)
        op.df = rdf
        return pdf

    def run(self, spark, name: str, op: Op):
        self.server.reset()
        self.server.fail_armed = True
        label = self._label(name)
        return self._round_trip(spark, label, self.sources[label], op)

    def check(self, name: str, pdf, op: Op) -> bool:
        srv = self.server
        truth = self.truth[self._label(name)]
        rows = len(truth)
        op.layers.update(
            rows=rows, requests=srv.requests, reads=srv.reads, bytes_in=srv.bytes_in,
            bytes_out=srv.bytes_out, server_busy_s=srv.busy_s,
        )
        written = sorted(
            tuple(r[c] for c in CONNECTOR_COLUMNS) for r in srv.written_rows(self._label(name))
        )
        read = sorted(zip(*(pdf[c].tolist() for c in CONNECTOR_COLUMNS)))
        return written == truth and read == truth

    def close(self) -> None:
        if self.server is not None:
            self.server.close()


WORKLOAD_CLASSES = {"cypher": RegistryWorkload, "connector": ConnectorWorkload}
