"""flink_neo4j_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of s1ck/flink-neo4j, rebuilt Spark-first.

The reference (s1ck/flink-neo4j) is a Flink DataSet <-> Neo4j Cypher connector
(`Neo4jInputFormat.java`, `Neo4jOutputFormat.java`, `Neo4jFormatBase.java`).
This engine provides:

- a property-graph model as V/E DataFrames (:mod:`flink_neo4j_spark.graph`),
- the full relational query surface the reference exercises through Cypher
  (:mod:`flink_neo4j_spark.operators.relational`),
- a Cypher source/sink with the reference's batching semantics, re-expressed
  over ``mapInArrow`` (shuffle-free split reads, Arrow-fed batch writes) with
  a pluggable transport (:mod:`flink_neo4j_spark.sources.cypher`),
- LLM-data-pipeline operators: dedup, similarity search, text analysis,
  multimodal columns (:mod:`flink_neo4j_spark.operators`),
- Structured Streaming windowing over the events table
  (:mod:`flink_neo4j_spark.streaming`).

Everything is DataFrame-declarative so Catalyst handles pushdown, pruning,
join selection and AQE; Python UDFs appear only as Arrow-batched pandas UDFs
off the hot path.
"""

from flink_neo4j_spark.catalog import TABLES, load_table, register_views
from flink_neo4j_spark.graph import PropertyGraph
from flink_neo4j_spark.session import get_spark

__all__ = [
    "TABLES",
    "PropertyGraph",
    "get_spark",
    "load_table",
    "register_views",
]

__version__ = "0.1.0"
