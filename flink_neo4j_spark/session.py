"""SparkSession factory with scale-oriented defaults.

Local tests run on ``local[N]`` but every config here is chosen so the same
plan shape survives a 1000-executor cluster: AQE on (runtime re-plan, skew-join
splitting, partition coalescing), broadcast threshold explicit, Arrow enabled
for the pandas-UDF paths, and session timezone pinned to UTC so timestamp
semantics are deterministic across engines (the DuckDB oracle pins UTC too).
"""

from __future__ import annotations

import os
import sys
import tempfile
import zipfile
import zipimport

from pyspark.sql import SparkSession

#: Runtime-settable confs applied to *any* session handed to the engine
#: (including the driver's own session in ``__spark_entry__``). Static confs
#: like executor memory must be set at build time instead.
RUNTIME_CONFS: dict[str, str] = {
    # Deterministic timestamp semantics vs the DuckDB oracle.
    "spark.sql.session.timeZone": "UTC",
    # Belt-and-braces for TIMESTAMP(NANOS) parquet, which vanilla Spark
    # refuses to read (PARQUET_TYPE_ILLEGAL). The generator has shipped
    # events.ts as nanos in some rounds and micros-NTZ in others; with this
    # conf a nanos column surfaces as bigint and catalog.normalize_event_ts
    # detects the actual stored form either way.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Runtime re-planning: coalesce tiny shuffle partitions, split skewed
    # ones. Critical at 100 TB where static partition counts are always wrong.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow transfer for pandas UDFs / mapInPandas (the only Python paths).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


#: Attribute set on a SparkContext once the package zip has been shipped.
_SHIPPED_ATTR = "_flink_neo4j_spark_pyfile_shipped"


def ship_package(spark: SparkSession) -> None:
    """Make ``flink_neo4j_spark`` importable on every Python worker.

    Module-level functions referenced by pandas UDFs are cloudpickled *by
    reference*, so executors must be able to ``import flink_neo4j_spark``
    themselves. That holds only by accident when the driver's cwd is the repo
    root; on a real cluster (or a driver launched from elsewhere) it fails
    with ModuleNotFoundError. ``sc.addPyFile`` is the deployment-grade answer:
    the zip is distributed once per application to every executor and
    prepended to worker ``sys.path``. Tasks that run engine code on a
    worker call :func:`release_zip_finders` when they end, so the zip
    finders of a reused worker are not re-read at the next task start.
    """
    sc = spark.sparkContext
    if getattr(sc, _SHIPPED_ATTR, False):
        return
    pkg_root = os.path.dirname(os.path.abspath(__file__))
    zip_path = os.path.join(tempfile.gettempdir(), "flink_neo4j_spark_pkg.zip")
    tmp_path = zip_path + ".tmp"
    with zipfile.ZipFile(tmp_path, "w", zipfile.ZIP_DEFLATED) as zf:
        for dirpath, _dirnames, filenames in os.walk(pkg_root):
            for fn in sorted(filenames):
                if fn.endswith(".py"):
                    full = os.path.join(dirpath, fn)
                    rel = os.path.join(
                        "flink_neo4j_spark", os.path.relpath(full, pkg_root)
                    )
                    zf.write(full, rel)
    os.replace(tmp_path, zip_path)
    sc.addPyFile(zip_path)
    setattr(sc, _SHIPPED_ATTR, True)


def release_zip_finders() -> None:
    """Drop every zip finder from the import caches of this process.

    PySpark calls ``importlib.invalidate_caches()`` at the start of every
    Python worker task. On CPython 3.11 and 3.12 that makes each
    ``zipimporter`` in ``sys.path_importer_cache`` re-read its archive's
    directory at once: a reused worker holds finders for ``pyspark.zip``
    and its sub-packages, the py4j zip, the spark-core jar and the engine
    zip, about 0.17 s of CPU per task. CPython 3.13 only drops the cached
    directory and re-reads it when an import next scans the archive. This
    gives 3.11 the same lazy behaviour: the next import that scans an
    archive builds a new finder and reads its directory once, and a warm
    task whose imports are all loaded reads nothing.
    """
    for path, finder in list(sys.path_importer_cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            del sys.path_importer_cache[path]
            zipimport._zip_directory_cache.pop(finder.archive, None)


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply engine confs to an externally-created session (best effort).

    Deliberately NOT set: a global input-scaled
    ``coalescePartitions.initialPartitionNum``. Measured at sf1 (round
    8): widening every exchange start to input_bytes/1MiB made the
    g15/g20 similarity pair (the queries the knob was meant to help)
    SLOWER — 41.8/29.1 s vs 24.8/23.4 s — because the explosion-heavy
    exchanges need width AQE's byte heuristics can't infer, while every
    other reduce stage just picked up task overhead it didn't need. The
    width problem is solved where the information lives instead: the
    similarity projection widths its part-hash layout by the EXACT
    downstream pair count (``graph_algos._cust_part_projection``)."""
    for key, value in RUNTIME_CONFS.items():
        try:
            spark.conf.set(key, value)
        except Exception:
            pass  # immutable in this deployment; proceed with its value
    ship_package(spark)
    return spark


def get_spark(
    app_name: str = "flink-neo4j-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a real
    cluster leave it unset and let spark-submit decide.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        cpus_env = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus_env) if cpus_env and cpus_env.isdigit() else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Shuffle width: on a cluster this should be ~2-3x total cores; AQE
        # coalesces the excess so erring high is safe.
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for key, value in RUNTIME_CONFS.items():
        builder = builder.config(key, value)
    return apply_runtime_confs(builder.getOrCreate())
