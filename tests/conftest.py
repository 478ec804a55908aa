"""Shared fixtures: one SparkSession per test session, DuckDB oracle runner,
and a normalized result comparator mirroring the driver's hash check
(sort columns by name, sort rows, round floats)."""

from __future__ import annotations

import itertools
import math
import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from flink_neo4j_spark.catalog import TABLES
from flink_neo4j_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("flink-neo4j-spark-tests", master="local[8]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def oracle():
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


def canon_cell(v):
    """Canonicalize one result cell EXACTLY like the driver's value-hash
    (repr-based, so an int64 column and a float64 column with equal values
    STILL mismatch). This strictness matters: DuckDB's ``fetchdf``
    materializes HUGEINT (the type of SUM over BIGINT) as float64, so an
    oracle missing a ``CAST(... AS BIGINT)`` passes a ``==``-based compare
    yet fails the driver's hash — q23 (round 1) and q62 (round 3) both
    shipped that way. Keep this in lockstep with
    ``.claude/skills/verify/driver_sim.py``."""
    import datetime

    import pandas as pd

    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        r = round(v, 6)
        if r == 0.0:
            r = 0.0
        return repr(r)
    if isinstance(v, pd.Timestamp):
        if v.tzinfo is not None:
            v = v.tz_convert("UTC").tz_localize(None)
        if v == v.normalize():
            return str(v.date())
        return str(v)
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        if v.time() == datetime.time(0, 0):
            return str(v.date())
        return str(v)
    if isinstance(v, datetime.date):
        return str(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon_cell(x) for x in v) + "]"
    try:
        import numpy as np

        if isinstance(v, np.ndarray):
            return "[" + ",".join(canon_cell(x) for x in v.tolist()) + "]"
        if isinstance(v, np.integer):
            return repr(int(v))
        if isinstance(v, np.floating):
            return canon_cell(float(v))
        if isinstance(v, np.bool_):
            return repr(bool(v))
    except ImportError:  # pragma: no cover
        pass
    return repr(v)


def _canon_rows(pdf):
    cols = sorted(pdf.columns)
    pdf = pdf[cols]
    return sorted(
        "|".join(canon_cell(v) for v in row)
        for row in pdf.itertuples(index=False)
    )


def assert_matches_oracle(df, con, sql):
    """Compare a Spark DataFrame against DuckDB output of `sql`, through
    the SAME pandas materialization + repr canonicalization as the
    driver's hash check (``fetchdf``, not ``fetchall`` — see
    :func:`canon_cell` for why the dtype path matters)."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    # Driver-canonicalizer contract (round-5 lesson: six locally-green
    # queries ERR'd at the driver): the driver's _canon feeds every result
    # column through pandas sort_values, which cannot hash array/map/struct
    # cells. No oracle-checked query may return one — flatten with
    # array_join / to_json in BOTH the query and its oracle.
    nested = [
        f.name for f in df.schema.fields
        if isinstance(f.dataType, (ArrayType, MapType, StructType))
    ]
    assert not nested, (
        f"oracle-checked result has nested-typed columns {nested}: the "
        "conformance driver's canonicalizer cannot hash these — flatten "
        "them (array_join / to_json) in the query and its oracle"
    )
    spdf = df.toPandas()
    odf = con.execute(sql).fetchdf()
    cols = sorted(spdf.columns)
    assert sorted(odf.columns) == cols, (
        f"column mismatch: spark={cols} oracle={sorted(odf.columns)}"
    )
    assert len(spdf) == len(odf), (
        f"row count: spark={len(spdf)} oracle={len(odf)}"
    )
    sn, on = _canon_rows(spdf), _canon_rows(odf)
    mismatches = [(a, b) for a, b in zip(sn, on) if a != b]
    assert not mismatches, f"value mismatch (first 5): {mismatches[:5]}"


def count_jobs(spark, fn) -> int:
    """The number of Spark jobs ``fn()`` fires, read from the status
    tracker under a job group of its own (jobs a broadcast starts on
    another thread inherit the group)."""
    sc = spark.sparkContext
    group = f"count-jobs-{next(_JOB_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


_JOB_GROUPS = itertools.count()


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "live: requires a real Neo4j server (docs/LIVE_VERIFICATION.md); "
        "skipped unless NEO4J_LIVE_HTTP_URI is set",
    )
