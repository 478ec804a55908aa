"""Cypher source and sink — the reference's connector dataflow (SURVEY.md
§2.A), re-expressed Spark-first.

Read side (`Neo4jInputFormat.java`): the reference POSTs one Cypher query and
streams JSON rows into typed tuples on a SINGLE task (`NonParallelInput`,
Input:42,161-165). Here reads are *partition-planned*: N generated per-split
queries (``SKIP/LIMIT`` or an id-range predicate) run one per partition of
``spark.range(0, N, 1, N).mapInArrow`` — no shuffle, fixing the reference's
DOP=1 (SURVEY §4). Typed decode follows the reference's 6-type table
(Input:114-134) with the same unsupported-type error, a column at a time.

Write side (`Neo4jOutputFormat.java`): ``mapInArrow`` feeds each partition's
Arrow batches into micro-batched ``UNWIND $rows AS r ...`` transactions with
the reference's exact batch semantics — flush when full, final partial flush
at close, ``batch_size=-1`` means one batch per task at close
(Output:72-75,106-121). The UNWIND parameter-name contract (Output:129-136)
is kept (with its error) for user-supplied templates, but the engine can
also *generate* the template from ``df.schema`` — column names are the
parameter keys, making the reference's positional ``addParameterKey``
(Output:261-282) and one-row type inference (Output:182-202) unnecessary.

Each Python task body ends by releasing the worker's zip finders
(``session.release_zip_finders``), so a reused worker does not re-read
PySpark's archives at every task start, and a split's response is parsed
and decoded with the cyclic GC paused (:func:`fetch_rows`).

Delivery semantics: at-least-once for CREATE templates (Spark retries
partitions; the reference has the same exposure, SURVEY §4); use MERGE
templates for idempotent writes and disable speculation on the sink job.
"""

from __future__ import annotations

import gc
import itertools
import re
from collections.abc import Callable, Iterable, Iterator
from typing import Any

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema, to_arrow_type

from flink_neo4j_spark.session import release_zip_finders
from flink_neo4j_spark.sources.transport import Transport

# -- A10: UNWIND parameter-name extraction (regex parity, incl. error) -----

_UNWIND_RE = re.compile(r"^\s*[uU][nN][wW][iI][nN][dD]\s+[{$](\w+)[}]?\s+[aA][sS]\s+")


def extract_parameter_name(query: str) -> str:
    """Pull ``rows`` out of ``UNWIND $rows AS r ...`` (accepts the
    reference's legacy ``{rows}`` style too — `Neo4jOutputFormat.java:129-136`).
    Raises ``ValueError`` when absent, matching the reference's error branch."""
    m = _UNWIND_RE.match(query)
    if not m:
        raise ValueError(
            f"Cypher write statement must start with 'UNWIND $param AS ...': {query!r}"
        )
    return m.group(1)


# -- template generation (replaces manual Cypher authoring) ----------------

_IDENT_RE = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")


def validate_identifier(name: str) -> str:
    """Gate any label / relationship-type / column name before it is
    interpolated into generated Cypher text. VALUES always travel as
    parameters; identifiers are the one thing Cypher cannot parameterize,
    so they get a strict lexical allowlist instead — closing the splice
    surface the reference leaves open via quote-escaping
    (`Neo4jFormatBase.java:60`)."""
    if not _IDENT_RE.match(name):
        raise ValueError(f"invalid Cypher identifier: {name!r}")
    return name


def unwind_create_template(label: str, columns: list[str]) -> str:
    """``UNWIND $rows AS r CREATE (n:Label {k: r.k, ...})`` — the generated
    form of `README.md:45`. Label and column names are validated; row
    values travel as the ``$rows`` parameter."""
    validate_identifier(label)
    props = ", ".join(f"{c}: r.{c}" for c in map(validate_identifier, columns))
    return f"UNWIND $rows AS r CREATE (n:{label} {{{props}}})"


def unwind_merge_template(label: str, key: str, set_columns: list[str]) -> str:
    """``UNWIND $rows AS r MERGE (n:Label {key: r.key}) SET n.c = r.c ...`` —
    the idempotent form of the reference's MATCH+SET update
    (`Neo4jOutputTest.java:83-87`), safe under Spark task retries. All
    identifiers validated, values parameterized."""
    validate_identifier(label)
    validate_identifier(key)
    sets = ", ".join(f"n.{c} = r.{c}" for c in map(validate_identifier, set_columns))
    return f"UNWIND $rows AS r MERGE (n:{label} {{{key}: r.{key}}}) SET {sets}"


def unwind_delete_template(label: str, key: str, detach: bool = False) -> str:
    """``UNWIND $rows AS r MATCH (n:Label {key: r.key}) [DETACH] DELETE n``
    — the batch-delete twin of the create/merge templates. DETACH DELETE is
    idempotent under Spark task retries (re-deleting a gone node matches
    nothing); plain DELETE fails server-side if relationships remain, the
    same contract PropertyGraph.delete_nodes enforces locally."""
    validate_identifier(label)
    validate_identifier(key)
    kw = "DETACH DELETE" if detach else "DELETE"
    return f"UNWIND $rows AS r MATCH (n:{label} {{{key}: r.{key}}}) {kw} n"


# -- type system (parity with SURVEY §1.3) ---------------------------------

#: Spark types the sink accepts — the reference's 6 write types
#: (`Neo4jOutputFormat.java:156-170`): boolean, int, long, float, double,
#: string. Anything else raises, same as Output:168-169.
_WRITABLE = (
    T.BooleanType,
    T.IntegerType,
    T.LongType,
    T.FloatType,
    T.DoubleType,
    T.StringType,
)

#: Python-value coercions for the source's typed decode — the reference's
#: 6 read types incl. null (`Neo4jInputFormat.java:114-134`) — each with the
#: value types a fetched column may already hold to skip the coercion.
_READ_COERCE: dict[type, tuple[Callable[[Any], Any], set[type]]] = {
    T.BooleanType: (bool, {bool}),
    T.IntegerType: (int, {int}),
    T.LongType: (int, {int}),
    T.DoubleType: (float, {float, int}),
    T.StringType: (str, {str}),
}


def _check_sink_args(
    schema: T.StructType, query: str | None, label: str | None, batch_size: int
) -> None:
    if (query is None) == (label is None):
        raise ValueError("pass exactly one of 'query' or 'label'")
    if batch_size == 0 or batch_size < -1:
        raise ValueError(f"batch_size must be positive or -1, got {batch_size}")
    if query is not None:
        extract_parameter_name(query)  # validate; raises like Output:129-136
    for field in schema.fields:
        if not isinstance(field.dataType, _WRITABLE):
            raise TypeError(
                f"Unsupported field type {field.dataType.simpleString()} for "
                f"column '{field.name}' on the Cypher write path (supported: "
                f"boolean, int, bigint, float, double, string)"
            )
    if not schema.fields:
        # parity with the reference's >=1 parameter key rule (Output:310-312)
        raise ValueError("DataFrame must have at least one column to write")


def sink_statement(
    columns: list[str], query: str | None, label: str | None, merge_key: str | None
) -> str:
    """The UNWIND statement a sink sends: the user ``query``, else the
    template generated for ``label`` (idempotent MERGE on ``merge_key``)."""
    if query is not None:
        return query
    if merge_key is not None:
        return unwind_merge_template(label, merge_key, [c for c in columns if c != merge_key])
    return unwind_create_template(label, columns)


def decode_value(value: Any, dtype: T.DataType, column: str) -> Any:
    """JSON scalar -> typed field, with the reference's error branch for
    unsupported shapes (`Neo4jInputFormat.java:129-132`)."""
    if value is None:
        return None
    for spark_type, (coerce, _) in _READ_COERCE.items():
        if isinstance(dtype, spark_type):
            try:
                return coerce(value)
            except (TypeError, ValueError) as exc:
                raise TypeError(
                    f"Unsupported field value {value!r} for column '{column}' "
                    f"({dtype.simpleString()})"
                ) from exc
    raise TypeError(
        f"Unsupported field type {dtype.simpleString()} for column '{column}' "
        f"on the Cypher read path"
    )


def decode_column(values: list[Any], dtype: T.DataType, column: str) -> pa.Array:
    """One fetched column -> typed Arrow array, with the values and errors
    of :func:`decode_value` per cell. A column already holding the target's
    Python types (nulls allowed) goes to Arrow as is, unless Arrow refuses
    it (an int a double cannot hold exactly)."""
    arrow_type = to_arrow_type(dtype)
    kinds = set(map(type, values)) - {type(None)}
    if kinds <= _READ_COERCE.get(type(dtype), (None, set()))[1]:
        try:
            return pa.array(values, type=arrow_type)
        except (pa.ArrowInvalid, OverflowError):
            pass
    decoded = [decode_value(v, dtype, column) for v in values]
    try:
        return pa.array(decoded, type=arrow_type)
    except (pa.ArrowInvalid, OverflowError) as exc:
        raise TypeError(
            f"Field value out of range for column '{column}' ({dtype.simpleString()})"
        ) from exc


def fetch_rows(
    transport: Transport, query: str, schema: T.StructType, params: dict[str, Any] | None
) -> pa.RecordBatch:
    """Run one split's query on ``transport`` (closed after, A1/A8) and
    decode the rows a column at a time into one ``RecordBatch``. ``params``
    are pushed-down predicate values (parameterized, never spliced — the
    injection-safe replacement for Base:60's escaping), passed only when
    present so pre-pushdown ``run(statement, rows)`` transports still work.

    The cyclic GC is off while the response is parsed and decoded (its
    previous state restored after): the parsed rows hold no cycles, and
    refcounting frees them, but each generation-0 collection would walk
    the fresh containers again."""
    gc_was_enabled = gc.isenabled()
    gc.disable()
    try:
        try:
            raw = transport.run(query, params=params) if params else transport.run(query)
        finally:
            transport.close()
        return pa.RecordBatch.from_arrays(
            [decode_column([r.get(f.name) for r in raw], f.dataType, f.name) for f in schema.fields],
            schema=to_arrow_schema(schema),
        )
    finally:
        if gc_was_enabled:
            gc.enable()


def _arrow_rows(batches: Iterable[pa.RecordBatch]) -> Iterator[dict[str, Any]]:
    """Row dicts from Arrow batches, converted a column at a time
    (``to_numpy().tolist()``, or ``to_pylist()`` for a column with nulls)."""
    for batch in batches:
        names = batch.schema.names
        columns = [
            c.to_pylist() if c.null_count else c.to_numpy(zero_copy_only=False).tolist()
            for c in batch.columns
        ]
        for values in zip(*columns):
            yield dict(zip(names, values))


def send_batches(
    transport: Transport, statement: str, batches: Iterable[pa.RecordBatch], batch_size: int
) -> tuple[int, int]:
    """Micro-batch the rows of ``batches`` into ``statement`` transactions
    on ``transport`` (closed after) with the reference's semantics: flush
    every ``batch_size`` rows across Arrow batch boundaries, flush the
    partial batch at close, ``-1`` = one batch at close. Returns
    ``(rows, transactions)``."""
    rows = _arrow_rows(batches)
    size = batch_size if batch_size > 0 else None
    n_rows = n_batches = 0
    try:
        while True:
            # A13 micro-batch accumulation; islice(None) = all-at-close
            batch = list(itertools.islice(rows, size))
            if not batch:
                break  # A15: nothing left; partial batch already sent
            transport.run(statement, rows=batch)  # A14 batch send
            n_rows += len(batch)
            n_batches += 1
            if size is None:
                break
    finally:
        transport.close()
    return n_rows, n_batches


# -- sink (A9-A15) ---------------------------------------------------------


def write_cypher(
    df: DataFrame,
    transport_factory: Callable[[], Transport],
    query: str | None = None,
    label: str | None = None,
    merge_key: str | None = None,
    batch_size: int = -1,
) -> int:
    """Write a DataFrame through per-partition micro-batched UNWIND
    transactions; returns the number of rows sent.

    Exactly one of ``query`` (user template, validated via
    :func:`extract_parameter_name`) or ``label`` (generated template; with
    ``merge_key`` -> idempotent MERGE) must be given. ``batch_size`` follows
    the reference: N rows per transaction; ``-1`` = one transaction per
    partition at close (`Neo4jOutputFormat.java:72-75`).
    """
    _check_sink_args(df.schema, query, label, batch_size)
    statement = sink_statement(df.columns, query, label, merge_key)

    def write_partition(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        try:
            n_rows, _ = send_batches(transport_factory(), statement, batches, batch_size)
            yield pa.RecordBatch.from_pydict({"rows": pa.array([n_rows], pa.int64())})
        finally:
            release_zip_finders()

    return sum(r.rows for r in df.mapInArrow(write_partition, "rows long").collect())


def write_cypher_stream(
    stream_df: DataFrame,
    transport_factory: Callable[[], "Transport"],
    query: str | None = None,
    label: str | None = None,
    merge_key: str | None = None,
    batch_size: int = -1,
    checkpoint_dir: str | None = None,
    available_now: bool = True,
):
    """Structured-Streaming Cypher sink — the engine's analogue of the
    reference's whole raison d'être: a *streaming dataflow* writing into
    Neo4j (the reference is a Flink connector; its output format receives
    an unbounded stream of task records, `Neo4jOutputFormat.java:106-113`).

    Each micro-batch routes through :func:`write_cypher` via
    ``foreachBatch``, so the streaming path reuses the identical template
    generation, schema validation and per-partition micro-batched
    transaction code as the batch sink — and inherits its scale posture
    (executor-side writes, one transport per partition, no driver traffic).

    Delivery is at-least-once: Spark replays an uncommitted micro-batch
    after failure, exactly like the reference's batch re-send on task retry
    (SURVEY.md §7 "What's hard" #3). Production topologies should pass
    ``label + merge_key`` (idempotent MERGE template) so replays converge.

    Returns the started ``StreamingQuery``; the default AvailableNow
    trigger drains the current input and stops (swap to a processing-time
    trigger for a continuously-running sink).
    """
    # fail fast at start() time, not first-batch time: same checks the
    # batch writer applies (Output:129-136 / Output:310-312 parity)
    _check_sink_args(stream_df.schema, query, label, batch_size)

    def sink_batch(batch_df: DataFrame, _batch_id: int) -> None:
        write_cypher(batch_df, transport_factory, query, label, merge_key, batch_size)

    writer = stream_df.writeStream.foreachBatch(sink_batch)
    if checkpoint_dir is not None:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


class _ConnectionOptionsMixin:
    """REST-endpoint options shared by both builders — the reference's
    ``Neo4jFormatBase.Builder`` surface (`Neo4jFormatBase.java:112-196`):
    restURI, username/password, connect/read timeouts (both default
    1000 ms). Setting a REST URI makes ``finish()`` construct an
    :class:`~flink_neo4j_spark.sources.transport.HttpTransport` factory;
    an explicit ``set_transport_factory`` wins if both are configured.
    """

    _rest_uri: str | None = None
    _username: str | None = None
    _password: str | None = None
    _connect_timeout_s: float = 1.0
    _read_timeout_s: float = 1.0

    def set_rest_uri(self, rest_uri: str):
        self._rest_uri = rest_uri
        return self

    def set_username(self, username: str):
        self._username = username
        return self

    def set_password(self, password: str):
        self._password = password
        return self

    def set_connect_timeout(self, millis: int):
        """Connect timeout in ms (`Neo4jFormatBase.java:125`, default 1000)."""
        self._connect_timeout_s = millis / 1000.0
        return self

    def set_read_timeout(self, millis: int):
        """Read timeout in ms (`Neo4jFormatBase.java:130`, default 1000)."""
        self._read_timeout_s = millis / 1000.0
        return self

    def _resolve_transport_factory(
        self, explicit: Callable[[], Transport] | None
    ) -> Callable[[], Transport] | None:
        if explicit is not None or self._rest_uri is None:
            return explicit
        import functools

        from flink_neo4j_spark.sources.transport import HttpTransport

        # functools.partial of a module-level class pickles cleanly to
        # executors; a lambda would not.
        return functools.partial(
            HttpTransport,
            self._rest_uri,
            username=self._username,
            password=self._password,
            connect_timeout_s=self._connect_timeout_s,
            read_timeout_s=self._read_timeout_s,
        )


class CypherSinkBuilder(_ConnectionOptionsMixin):
    """Fluent builder with validation — parity with the reference's builder
    (`Neo4jFormatBase.java:112-215`, `Neo4jOutputFormat.java:243-315`)."""

    def __init__(self) -> None:
        self._transport_factory: Callable[[], Transport] | None = None
        self._query: str | None = None
        self._label: str | None = None
        self._merge_key: str | None = None
        self._batch_size = -1

    def set_transport_factory(self, factory: Callable[[], Transport]) -> "CypherSinkBuilder":
        self._transport_factory = factory
        return self

    def set_cypher_query(self, query: str) -> "CypherSinkBuilder":
        self._query = query
        return self

    def set_label(self, label: str, merge_key: str | None = None) -> "CypherSinkBuilder":
        self._label = label
        self._merge_key = merge_key
        return self

    def set_task_batch_size(self, batch_size: int) -> "CypherSinkBuilder":
        self._batch_size = batch_size
        return self

    def _validated(self) -> tuple[Callable[[], Transport], dict[str, Any]]:
        # validate() parity: Base:201-208 requires uri+query; here a
        # transport factory OR a REST URI stands in for the uri, and one of
        # query/label for the statement.
        factory = self._resolve_transport_factory(self._transport_factory)
        if factory is None:
            raise ValueError("transport factory or REST URI not set")
        if (self._query is None) == (self._label is None):
            raise ValueError("exactly one of cypher query or label required")
        return factory, dict(
            query=self._query,
            label=self._label,
            merge_key=self._merge_key,
            batch_size=self._batch_size,
        )

    def finish(self) -> Callable[[DataFrame], int]:
        factory, kw = self._validated()

        def sink(df: DataFrame) -> int:
            return write_cypher(df, factory, **kw)

        return sink

    def finish_streaming(self):
        """Streaming twin of :func:`finish`: returns
        ``start(stream_df, checkpoint_dir=None, available_now=True)`` which
        begins a :func:`write_cypher_stream` query with this builder's
        validated configuration."""
        factory, kw = self._validated()

        def start(stream_df: DataFrame, checkpoint_dir: str | None = None, available_now=True):
            return write_cypher_stream(
                stream_df, factory, checkpoint_dir=checkpoint_dir, available_now=available_now, **kw
            )

        return start


# -- source (A1-A8) --------------------------------------------------------


def split_queries(query: str, num_partitions: int, template: str | None) -> list[str]:
    """One query per read split: ``query`` alone for one split, else
    ``template`` with its ``{i}``/``{n}`` placeholders filled per split."""
    if num_partitions == 1:
        return [query]
    if not template:
        raise ValueError(
            "num_partitions > 1 requires a partition_template with {i}/{n} "
            "placeholders (id-range or SKIP/LIMIT) — re-partitioned reads are "
            "only safe for deterministic pattern scans"
        )
    return [template.format(i=i, n=num_partitions) for i in range(num_partitions)]


def read_cypher(
    spark: SparkSession,
    transport_factory: Callable[[], Transport],
    query: str,
    schema: T.StructType | str,
    num_partitions: int = 1,
    partition_template: str | None = None,
    params: dict[str, Any] | None = None,
) -> DataFrame:
    """Partition-planned Cypher read.

    ``num_partitions=1`` reproduces the reference's single-split behavior
    (`Neo4jInputFormat.java:161-165`). With N>1, ``partition_template`` must
    contain ``{i}``/``{n}`` placeholders (e.g. a ``WHERE id(n) % {n} = {i}``
    id-range clause, or SKIP/LIMIT) — opt-in because re-partitioned reads are
    only safe for deterministic pattern scans (SURVEY §7 hard-part 4).

    The fetch runs on executors inside ``mapInArrow``, so row data never
    leaves them. Decode applies the reference's 6-type dispatch with its
    unsupported-type error, one column at a time (:func:`fetch_rows`).
    """
    if isinstance(schema, str):
        schema = T._parse_datatype_string(schema)
    queries = split_queries(query, num_partitions, partition_template)

    def fetch(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        try:
            for batch in batches:
                for split in batch.column(0).to_pylist():
                    yield fetch_rows(transport_factory(), queries[split], schema, params)
        finally:
            release_zip_finders()

    # one split id per partition: the split's query is looked up on the
    # executor, so planning the read costs no shuffle
    return spark.range(0, len(queries), 1, len(queries)).mapInArrow(fetch, schema)


# -- pushdown rendering (SURVEY §4, optional item 2) -----------------------
# The DSv2 SupportsPushDownFilters / SupportsPushDownRequiredColumns shape,
# rendered into generated Cypher: the reference achieves "pushdown" only by
# whatever the user hand-writes into the query (README.md:20); here the
# engine generates it from a declarative (label, columns, predicates) spec.

#: comparison operators renderable into a Cypher WHERE clause
_PUSHABLE_OPS = ("=", "<>", "<", "<=", ">", ">=", "IN")


def render_pattern_scan(
    label: str,
    columns: list[str],
    predicates: list[tuple[str, str, Any]] | None = None,
    var: str = "n",
) -> tuple[str, dict[str, Any]]:
    """Generate ``MATCH (n:Label) WHERE ... RETURN ...`` with parameterized
    predicate values.

    Returns ``(query, params)``. ``id`` projects/filters as the Cypher
    ``id(n)`` function (B3 internal-id projection); every other column as a
    property. Values never splice into the text — they travel as ``$p{i}``
    parameters (injection-safe by construction, replacing the reference's
    quote-escaping at `Neo4jFormatBase.java:60`).
    """
    for name in [label, var, *columns]:
        validate_identifier(name)

    def ref(col: str) -> str:
        return f"id({var})" if col == "id" else f"{var}.{col}"

    where, query_params = [], {}
    for i, (col, op, value) in enumerate(predicates or []):
        if op not in _PUSHABLE_OPS:
            raise ValueError(
                f"predicate operator {op!r} not pushable (supported: {_PUSHABLE_OPS})"
            )
        validate_identifier(col)
        query_params[f"p{i}"] = value
        where.append(f"{ref(col)} {op} $p{i}")
    returns = ", ".join(f"{ref(c)} AS {c}" for c in columns)
    query = f"MATCH ({var}:{label})"
    if where:
        query += " WHERE " + " AND ".join(where)
    return f"{query} RETURN {returns}", query_params


def read_pattern(
    spark: SparkSession,
    transport_factory: Callable[[], Transport],
    label: str,
    schema: T.StructType | str,
    columns: list[str] | None = None,
    predicates: list[tuple[str, str, Any]] | None = None,
    num_partitions: int = 1,
    partition_template: str | None = None,
) -> DataFrame:
    """Declarative pattern scan with column pruning + filter pushdown.

    ``columns`` prunes the generated RETURN clause (and the result schema);
    ``predicates`` — ``(column, op, value)`` triples — render into the WHERE
    clause AND are re-applied as Spark-side filters. The residual filter
    mirrors DSv2's non-exact pushdown contract: the server-side clause is an
    optimization (moves the selection to the store, shrinks the wire
    payload); correctness never depends on the transport honoring it.
    """
    if isinstance(schema, str):
        schema = T._parse_datatype_string(schema)
    cols = columns or [f.name for f in schema.fields]
    by_name = {f.name: f for f in schema.fields}
    pred_cols = [c for c, _, _ in predicates or []]
    missing = [c for c in {*cols, *pred_cols} if c not in by_name]
    if missing:
        raise ValueError(f"columns {sorted(missing)} not in schema {list(by_name)}")
    # predicate columns are fetched even when not projected (the residual
    # filter needs them), then dropped after filtering — same as Spark
    # keeping filter attributes alive until the Filter node.
    fetch_cols = cols + [c for c in pred_cols if c not in cols]
    pruned = T.StructType([by_name[c] for c in fetch_cols])
    query, query_params = render_pattern_scan(label, fetch_cols, predicates)
    df = read_cypher(
        spark,
        transport_factory,
        query,
        pruned,
        num_partitions,
        partition_template,
        params=query_params,
    )
    for col, op, value in predicates or []:
        c = F.col(col)
        df = df.filter(
            {
                "=": c == value,
                "<>": c != value,
                "<": c < value,
                "<=": c <= value,
                ">": c > value,
                ">=": c >= value,
                "IN": c.isin(value if isinstance(value, (list, tuple)) else [value]),
            }[op]
        )
    return df.select(*cols)


class CypherSourceBuilder(_ConnectionOptionsMixin):
    """Fluent builder for the read side (`Neo4jInputFormat.java:179-190`)."""

    def __init__(self) -> None:
        self._transport_factory: Callable[[], Transport] | None = None
        self._query: str | None = None
        self._schema: T.StructType | str | None = None
        self._num_partitions = 1
        self._partition_template: str | None = None

    def set_transport_factory(self, factory: Callable[[], Transport]) -> "CypherSourceBuilder":
        self._transport_factory = factory
        return self

    def set_cypher_query(self, query: str) -> "CypherSourceBuilder":
        self._query = query
        return self

    def set_schema(self, schema: T.StructType | str) -> "CypherSourceBuilder":
        self._schema = schema
        return self

    def set_partitioning(self, num_partitions: int, template: str) -> "CypherSourceBuilder":
        self._num_partitions = num_partitions
        self._partition_template = template
        return self

    def finish(self) -> Callable[[SparkSession], DataFrame]:
        factory = self._resolve_transport_factory(self._transport_factory)
        if factory is None:
            raise ValueError("transport factory or REST URI not set")
        if not self._query:
            raise ValueError("cypher query not set")  # Base:201-208 parity
        if self._schema is None:
            raise ValueError("schema required (explicit StructType or DDL string)")
        query, schema = self._query, self._schema
        n, tmpl = self._num_partitions, self._partition_template

        def source(spark: SparkSession) -> DataFrame:
            return read_cypher(spark, factory, query, schema, n, tmpl)

        return source
