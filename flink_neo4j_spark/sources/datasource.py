"""``spark.read.format("cypher")`` — the connector as a real PySpark
DataSource (the Python DSv2 API, Spark 4).

This is the idiomatic endpoint of the reference's InputFormat/OutputFormat
mapping (SURVEY §2.A): instead of helper functions, the connector registers
with Spark's source registry and participates in normal reader/writer
resolution:

- ``DataSource.schema``        ↔ explicit typed schema (replaces the
  reference's one-row type inference, `Neo4jInputFormat.java:139-152`)
- ``DataSourceReader.partitions`` ↔ split planning
  (`Neo4jInputFormat.java:161-165` returns one split; here N id-range
  splits via a ``{i}``/``{n}`` template — same opt-in contract as
  ``read_cypher``)
- ``DataSourceReader.read``    ↔ open/nextRecord/close
  (`Neo4jInputFormat.java:57-105`): one transport per partition, the
  6-type decode a column at a time into one Arrow ``RecordBatch``, close
  in ``finally`` (``cypher.fetch_rows``, shared with ``read_cypher``)
- ``DataSourceArrowWriter.write`` ↔ open/writeRecord/close
  (`Neo4jOutputFormat.java:161-225`): micro-batch accumulation to
  ``batch_size`` over Arrow record batches, one ``UNWIND $rows``
  statement per batch, final flush at iterator end
  (``cypher.send_batches``, shared with ``write_cypher``);
  ``commit``/``abort`` complete the task-commit protocol the reference
  lacks (its failures leave half-written batches).

Transports are reconstructed ON EXECUTORS from string options (the
DataSource API ships options, not closures — the same constraint as the
reference's serialized format object, `Neo4jFormatBase.java:31`).
Credentials therefore ride in options; production setups should resolve
them executor-side from the environment (option ``password_env``).
"""

from __future__ import annotations

import json
from collections.abc import Iterator, Sequence

import pyarrow as pa
from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql import types as T

from flink_neo4j_spark.sources.cypher import (
    extract_parameter_name,
    fetch_rows,
    send_batches,
    sink_statement,
    split_queries,
)
from flink_neo4j_spark.sources.transport import (
    BoltTransport,
    FileTransport,
    HttpTransport,
    Transport,
)


def _transport_from_options(options: dict[str, str]) -> Transport:
    """Build a transport from string options on the executor."""
    import os

    kind = options.get("transport", "http")
    password = options.get("password")
    if password is None and options.get("password_env"):
        password = os.environ.get(options["password_env"])
    if kind == "file":
        return FileTransport(options["spool_dir"])
    if kind == "http":
        return HttpTransport(
            options["rest_uri"],
            options.get("username"),
            password,
            float(options.get("connect_timeout_s", "1.0")),
            float(options.get("read_timeout_s", "1.0")),
        )
    if kind == "bolt":
        return BoltTransport(
            options["uri"],
            options.get("username"),
            password,
            float(options.get("connect_timeout_s", "1.0")),
            options.get("database"),
        )
    raise ValueError(f"unknown transport {kind!r} (file | http | bolt)")


class CypherInputPartition(InputPartition):
    def __init__(self, split_id: int, query: str):
        self.split_id = split_id
        self.query = query


class CypherReader(DataSourceReader):
    def __init__(self, schema: T.StructType, options: dict[str, str]):
        self._schema = schema
        self._options = options
        self._query = options.get("query")
        if not self._query:
            raise ValueError("option 'query' is required for cypher reads")

    def partitions(self) -> Sequence[InputPartition]:
        queries = split_queries(
            self._query,
            int(self._options.get("num_partitions", "1")),
            self._options.get("partition_template"),
        )
        return [CypherInputPartition(i, q) for i, q in enumerate(queries)]

    def read(self, partition: CypherInputPartition) -> Iterator[pa.RecordBatch]:
        params = json.loads(self._options["params"]) if self._options.get("params") else None
        transport = _transport_from_options(self._options)  # A1 open; A8 close in fetch_rows
        yield fetch_rows(transport, partition.query, self._schema, params)


class CypherCommit(WriterCommitMessage):
    def __init__(self, n_rows: int, n_batches: int):
        self.n_rows = n_rows
        self.n_batches = n_batches


class CypherWriter(DataSourceArrowWriter):
    def __init__(self, schema: T.StructType, options: dict[str, str]):
        self._options = options
        self._batch_size = int(options.get("batch_size", "1000"))
        query, label = options.get("query"), options.get("label")
        if not (query or label):
            raise ValueError(
                "cypher writes need option 'query' (an UNWIND $rows "
                "statement) or 'label' [+ 'merge_key']"
            )
        if query:
            extract_parameter_name(query)  # A10 validate early
        self._template = sink_statement(
            [f.name for f in schema.fields],
            query or None,
            label,
            options.get("merge_key") or None,
        )

    def write(self, iterator: Iterator[pa.RecordBatch]) -> CypherCommit:
        transport = _transport_from_options(self._options)  # A9 task open
        return CypherCommit(*send_batches(transport, self._template, iterator, self._batch_size))

    def commit(self, messages):  # pragma: no cover - trivial
        return None

    def abort(self, messages):  # pragma: no cover - trivial
        return None


class CypherDataSource(DataSource):
    """Register with ``spark.dataSource.register(CypherDataSource)``; then
    ``spark.read.format("cypher").option(...)`` / ``df.write.format("cypher")``.
    """

    @classmethod
    def name(cls) -> str:
        return "cypher"

    def schema(self) -> str:
        ddl = self.options.get("schema")
        if not ddl:
            raise ValueError(
                "option 'schema' (DDL string) is required — the engine "
                "replaces the reference's one-row type inference with an "
                "explicit schema"
            )
        return ddl

    def reader(self, schema: T.StructType) -> CypherReader:
        return CypherReader(schema, dict(self.options))

    def writer(self, schema: T.StructType, overwrite: bool) -> CypherWriter:
        if overwrite:
            raise ValueError(
                "cypher sink is append/upsert-only (UNWIND CREATE/MERGE); "
                "overwrite has no graph-side meaning here"
            )
        return CypherWriter(schema, dict(self.options))
