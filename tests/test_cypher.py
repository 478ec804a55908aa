"""Connector tests mirroring the reference's test strategy (SURVEY.md §5):
round-trip through sink+source, batch-boundary cases, type-mapping table
incl. error branches, template/param-name contract, builder validation."""

from __future__ import annotations

import math

import pyarrow as pa
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from flink_neo4j_spark.sources.cypher import (
    CypherSinkBuilder,
    CypherSourceBuilder,
    decode_column,
    decode_value,
    extract_parameter_name,
    read_cypher,
    send_batches,
    unwind_create_template,
    unwind_merge_template,
    write_cypher,
)
from flink_neo4j_spark.sources.transport import FileTransport
from pyspark.sql import types as T

USERS = [("Alice", 1984, 1.72, True), ("Bob", 1983, 1.81, True), ("Eve", 1984, 1.62, False)]
USER_SCHEMA = "name string, born int, height double, trust boolean"


def make_factory(spool):
    def factory():
        return FileTransport(spool)

    return factory


# -- A10: parameter-name extraction ---------------------------------------


def test_extract_parameter_name_modern_and_legacy():
    assert extract_parameter_name("UNWIND $inserts AS i CREATE (n)") == "inserts"
    # the reference's {param} style (Neo4jOutputFormat.java:129-136)
    assert extract_parameter_name("UNWIND {updates} AS u MATCH (p)") == "updates"
    assert extract_parameter_name("unwind $rows as r RETURN r") == "rows"


def test_extract_parameter_name_error():
    with pytest.raises(ValueError, match="UNWIND"):
        extract_parameter_name("CREATE (n:User {name: 'x'})")


# -- template generation ---------------------------------------------------


def test_templates():
    assert (
        unwind_create_template("User", ["name", "born"])
        == "UNWIND $rows AS r CREATE (n:User {name: r.name, born: r.born})"
    )
    tmpl = unwind_merge_template("User", "name", ["weight", "height"])
    assert tmpl.startswith("UNWIND $rows AS r MERGE (n:User {name: r.name})")
    assert "n.weight = r.weight" in tmpl and "n.height = r.height" in tmpl
    # generated templates satisfy the A10 contract
    assert extract_parameter_name(tmpl) == "rows"


# -- type mapping (SURVEY §1.3) --------------------------------------------


def test_decode_six_types_and_null():
    assert decode_value(None, T.StringType(), "c") is None  # null readable
    assert decode_value(True, T.BooleanType(), "c") is True
    assert decode_value(1, T.IntegerType(), "c") == 1
    assert decode_value(2**40, T.LongType(), "c") == 2**40
    assert decode_value(1.5, T.DoubleType(), "c") == 1.5
    assert decode_value("x", T.StringType(), "c") == "x"


def test_decode_unsupported_type_errors():
    with pytest.raises(TypeError, match="Unsupported field type"):
        decode_value([1, 2], T.ArrayType(T.IntegerType()), "c")
    with pytest.raises(TypeError, match="Unsupported field value"):
        decode_value("not-an-int", T.IntegerType(), "c")


#: JSON cell shapes a transport can hand back: the read types' own Python
#: types, values the coercions accept (numeric strings, bools as ints) and
#: values they reject (nested lists, non-numeric text, NaN/inf as ints).
_CELL_KINDS = [
    st.integers(-(2**31), 2**31 - 1),
    st.floats(-1e9, 1e9) | st.sampled_from([math.nan, math.inf, -math.inf]),
    st.booleans(),
    st.integers(-1000, 1000).map(str),
    st.floats(-1e3, 1e3).map(str),
    st.text(max_size=4),
    st.lists(st.integers(-5, 5) | st.lists(st.integers(-5, 5), max_size=2), max_size=3),
]
_COLUMNS = st.one_of(
    st.lists(st.none() | st.one_of(_CELL_KINDS), max_size=8),
    # one kind plus nulls: the columns the Arrow fast path takes
    st.sampled_from(_CELL_KINDS).flatmap(lambda kind: st.lists(st.none() | kind, max_size=8)),
)
_READ_TYPES = [T.BooleanType(), T.IntegerType(), T.LongType(), T.DoubleType(), T.StringType()]


def _outcome(fn):
    try:
        return "ok", [repr(v) for v in fn()]
    except Exception as exc:  # the exact error is part of the contract
        return type(exc), str(exc)


@settings(max_examples=400, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(values=_COLUMNS, dtype=st.sampled_from([*_READ_TYPES, T.FloatType()]))
def test_decode_column_matches_per_cell_decode(values, dtype):
    """The column decoder gives per-cell decode_value's values, or raises
    its exact error, for every read type (and the unsupported float)."""
    assert _outcome(lambda: decode_column(values, dtype, "c").to_pylist()) == _outcome(
        lambda: [decode_value(v, dtype, "c") for v in values]
    )


def test_decode_column_edge_cases():
    # an all-null column of an unsupported read type decodes to nulls
    nulls = decode_column([None, None], T.FloatType(), "c")
    assert nulls.type == pa.float32() and nulls.to_pylist() == [None, None]
    with pytest.raises(TypeError, match="Unsupported field type float"):
        decode_column([None, 1.5], T.FloatType(), "c")
    # ints a double cannot hold exactly are coerced like decode_value does
    assert decode_column([2**60 + 1], T.DoubleType(), "c").to_pylist() == [float(2**60 + 1)]
    assert decode_column([2**60 + 1, None], T.LongType(), "c").to_pylist() == [2**60 + 1, None]
    with pytest.raises(TypeError, match="out of range for column 'c' \\(int\\)"):
        decode_column([2**31], T.IntegerType(), "c")


def test_write_rejects_unsupported_schema(spark, tmp_path):
    df = spark.createDataFrame([([1, 2],)], "xs array<int>")
    with pytest.raises(TypeError, match="Unsupported field type"):
        write_cypher(df, make_factory(str(tmp_path)), label="X")


# -- batching semantics (A13-A15, Output:72-75,106-121) --------------------


@pytest.mark.parametrize(
    "n_rows,batch_size,expected_batches",
    [
        (6, 2, 3),  # exact multiples
        (7, 3, 3),  # partial batch flushed at close
        (2, 5, 1),  # single partial batch
        (0, 3, 0),  # empty input -> no transactions
        (5, -1, 1),  # default: one batch per task at close
    ],
)
def test_batch_boundaries(spark, tmp_path, n_rows, batch_size, expected_batches):
    spool = str(tmp_path / f"spool-{n_rows}-{batch_size}")
    df = spark.range(n_rows).selectExpr("CAST(id AS INT) AS n").coalesce(1)
    assert write_cypher(df, make_factory(spool), label="Num", batch_size=batch_size) == n_rows
    batches = FileTransport(spool).batches()
    assert len(batches) == expected_batches
    assert sum(len(b["rows"]) for b in batches) == n_rows
    if batch_size > 0:
        assert all(len(b["rows"]) <= batch_size for b in batches)


@pytest.mark.parametrize(
    "batch_size,expected_sizes", [(3, [3, 3, 1]), (4, [4, 3]), (-1, [7])]
)
def test_batches_cross_arrow_batch_boundaries(tmp_path, batch_size, expected_sizes):
    """Micro-batches fill across the Arrow batches of one partition; nulls
    and non-null columns both arrive as plain JSON values."""
    spool = str(tmp_path / f"arrow-{batch_size}")
    arrow = [
        pa.RecordBatch.from_pydict({"n": [0, 1, 2], "s": ["a", None, "c"]}),
        pa.RecordBatch.from_pydict({"n": [3, 4, 5, 6], "s": ["d", "e", "f", "g"]}),
    ]
    sent = send_batches(FileTransport(spool), "UNWIND $rows AS r CREATE (n)", arrow, batch_size)
    assert sent == (7, len(expected_sizes))
    batches = FileTransport(spool).batches()
    assert sorted(len(b["rows"]) for b in batches) == sorted(expected_sizes)
    rows = sorted((r for b in batches for r in b["rows"]), key=lambda r: r["n"])
    assert rows == [{"n": i, "s": s} for i, s in enumerate(["a", None, "c", "d", "e", "f", "g"])]


def test_batch_size_validation(spark, tmp_path):
    df = spark.range(1).selectExpr("CAST(id AS INT) AS n")
    with pytest.raises(ValueError, match="batch_size"):
        write_cypher(df, make_factory(str(tmp_path)), label="X", batch_size=0)


def test_write_partition_parallelism(spark, tmp_path):
    """Writes run at full partition parallelism (Output:285-291): each
    partition batches independently."""
    spool = str(tmp_path / "par")
    df = spark.range(20).selectExpr("CAST(id AS INT) AS n").repartition(4)
    write_cypher(df, make_factory(spool), label="Num", batch_size=3)
    batches = FileTransport(spool).batches()
    assert sum(len(b["rows"]) for b in batches) == 20
    # 4 partitions x ceil(5/3)=2 -> ~8 batches (partition skew may vary)
    assert len(batches) >= 4


# -- round trip (SURVEY §5 item 1) ----------------------------------------


def test_round_trip_create_then_read(spark, tmp_path):
    spool = str(tmp_path / "rt")
    factory = make_factory(spool)
    df = spark.createDataFrame(USERS, USER_SCHEMA)
    write_cypher(df, factory, label="User", batch_size=2)
    stored = FileTransport(spool).batches()
    assert all(
        b["statement"].startswith("UNWIND $rows AS r CREATE (n:User") for b in stored
    )
    back = read_cypher(
        spark, factory, "MATCH (n:User) RETURN n.name, n.born, n.height, n.trust",
        schema=USER_SCHEMA,
    )
    assert sorted(tuple(r) for r in back.collect()) == sorted(USERS)


def test_round_trip_null_fields(spark, tmp_path):
    """Null writable and readable (improving on the reference, where a null
    write-side field would fail instanceof dispatch — Output:186-199)."""
    spool = str(tmp_path / "nulls")
    factory = make_factory(spool)
    df = spark.createDataFrame([("Alice", None), (None, 42)], "name string, weight int")
    write_cypher(df, factory, label="User")
    back = read_cypher(spark, factory, "MATCH (n) RETURN n.name, n.weight",
                       schema="name string, weight int")
    assert sorted(back.collect(), key=str) == sorted(
        [("Alice", None), (None, 42)], key=str
    )


def test_round_trip_bigint_with_null_keeps_precision(spark, tmp_path):
    """A null in a bigint column must not widen the read through float64:
    2**60 + 1 comes back exact."""
    factory = make_factory(str(tmp_path / "bigint"))
    rows = [(2**60 + 1, "a"), (None, "b")]
    write_cypher(spark.createDataFrame(rows, "k bigint, s string"), factory, label="K")
    back = read_cypher(spark, factory, "MATCH (n:K) RETURN n.k, n.s", schema="k bigint, s string")
    assert sorted((tuple(r) for r in back.collect()), key=lambda r: r[1]) == rows


def test_partitioned_read(spark, tmp_path):
    """N>1 read splits (fixing the reference's DOP=1, Input:42,161-165)."""
    spool = str(tmp_path / "parts")
    factory = make_factory(spool)
    df = spark.range(30).selectExpr("CAST(id AS INT) AS n")
    write_cypher(df, factory, label="Num")

    class ModTransport(FileTransport):
        """Fake server that understands the id-range split predicate."""

        def run(self, statement, rows=None):
            import re as _re

            out = super().run(statement, rows)
            m = _re.search(r"% (\d+) = (\d+)", statement)
            if rows is None and m:
                n, i = int(m.group(1)), int(m.group(2))
                return [r for r in out if r["n"] % n == i]
            return out

    def mod_factory():
        return ModTransport(spool)

    back = read_cypher(
        spark,
        mod_factory,
        "MATCH (n:Num) RETURN n.n",
        schema="n int",
        num_partitions=4,
        partition_template="MATCH (n:Num) WHERE n.n % {n} = {i} RETURN n.n",
    )
    # one split per partition, planned without a shuffle
    assert back.rdd.getNumPartitions() == 4
    assert "Exchange" not in back._jdf.queryExecution().executedPlan().toString()
    assert sorted(r["n"] for r in back.collect()) == list(range(30))


def test_partitioned_read_requires_template(spark, tmp_path):
    with pytest.raises(ValueError, match="partition_template"):
        read_cypher(
            spark, make_factory(str(tmp_path)), "q", schema="n int", num_partitions=2
        )


# -- builders (A18, Base:201-208 / Output:310-312) -------------------------


def test_sink_builder_validation(tmp_path):
    with pytest.raises(ValueError, match="transport"):
        CypherSinkBuilder().set_label("User").finish()
    with pytest.raises(ValueError, match="exactly one"):
        CypherSinkBuilder().set_transport_factory(make_factory(str(tmp_path))).finish()
    with pytest.raises(ValueError, match="exactly one"):
        (
            CypherSinkBuilder()
            .set_transport_factory(make_factory(str(tmp_path)))
            .set_label("User")
            .set_cypher_query("UNWIND $r AS x CREATE (n)")
            .finish()
        )


def test_source_builder_validation(tmp_path):
    with pytest.raises(ValueError, match="query"):
        (
            CypherSourceBuilder()
            .set_transport_factory(make_factory(str(tmp_path)))
            .finish()
        )
    with pytest.raises(ValueError, match="schema"):
        (
            CypherSourceBuilder()
            .set_transport_factory(make_factory(str(tmp_path)))
            .set_cypher_query("MATCH (n) RETURN n.x")
            .finish()
        )


def test_sink_builder_end_to_end(spark, tmp_path):
    spool = str(tmp_path / "builder")
    sink = (
        CypherSinkBuilder()
        .set_transport_factory(make_factory(spool))
        .set_cypher_query(
            "UNWIND $inserts AS i CREATE (a:User {name: i.name, born: i.born})"
        )
        .set_task_batch_size(1000)  # README.md:48
        .finish()
    )
    sink(spark.createDataFrame([("Frank", 1982), ("Dave", 1976)], "name string, born int"))
    batches = FileTransport(spool).batches()
    assert sum(len(b["rows"]) for b in batches) == 2
    assert batches[0]["statement"].startswith("UNWIND $inserts")


# -- pushdown rendering + residual filters (SURVEY §4 optional item 2) -----


def test_render_pattern_scan_projection_and_predicates():
    from flink_neo4j_spark.sources.cypher import render_pattern_scan

    q, params = render_pattern_scan(
        "User", ["id", "name", "born"],
        predicates=[("name", "=", "Alice"), ("born", ">=", 1980), ("id", "<", 10)],
    )
    assert q == (
        "MATCH (n:User) WHERE n.name = $p0 AND n.born >= $p1 AND id(n) < $p2 "
        "RETURN id(n) AS id, n.name AS name, n.born AS born"
    )
    assert params == {"p0": "Alice", "p1": 1980, "p2": 10}


def test_render_pattern_scan_rejects_injection_and_bad_ops():
    from flink_neo4j_spark.sources.cypher import render_pattern_scan

    with pytest.raises(ValueError, match="identifier"):
        render_pattern_scan("User) DETACH DELETE (m", ["name"])
    with pytest.raises(ValueError, match="identifier"):
        render_pattern_scan("User", ["name; DROP"])
    with pytest.raises(ValueError, match="not pushable"):
        render_pattern_scan("User", ["name"], predicates=[("name", "CONTAINS", "x")])


def test_read_pattern_residual_filter_corrects_dumb_transport(spark, tmp_path):
    """FileTransport ignores pushed predicates on reads; the Spark-side
    residual filters must still produce the selected subset (the DSv2
    non-exact pushdown contract)."""
    from flink_neo4j_spark.sources.cypher import read_pattern

    spool = str(tmp_path / "push")
    factory = make_factory(spool)
    df = spark.createDataFrame(USERS, USER_SCHEMA)
    write_cypher(df, factory, label="User", batch_size=-1)
    out = read_pattern(
        spark, factory, "User", USER_SCHEMA,
        columns=["name", "born"],
        predicates=[("born", "=", 1984), ("trust", "=", True)],
    )
    # trust is filtered on but not projected -> predicate column must be
    # fetchable; expect only Alice (born 1984, trusted)
    assert [tuple(r) for r in out.select("name", "born").collect()] == [("Alice", 1984)]
