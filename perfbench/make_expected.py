"""Regenerate ``expected.json``: the expected result of every registry
operation of the benchmark, at the timed and the warm-up scale factor.

Expected results come from the DuckDB oracles over the generated data,
canonicalised like the conformance tests. A query without an oracle is
checked by row count, taken from one engine run. The engine's own result is
compared too, and any mismatch is printed (such a query does not belong in a
workload). Run once after changing the generator or a workload::

    python3 perfbench/make_expected.py
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench import datagen, workloads  # noqa: E402
from perfbench.run import DATA_DIR, confine_temp_files  # noqa: E402


def main() -> int:
    import duckdb

    confine_temp_files()
    from flink_neo4j_spark.registry import all_oracles, all_queries
    from flink_neo4j_spark.session import get_spark

    names = workloads.CYPHER
    oracles, queries = all_oracles(), all_queries()
    spark = get_spark("perfbench-expected")
    spark.sparkContext.setLogLevel("ERROR")
    out = {"datagen_version": datagen.VERSION}
    bad = []
    for sf in ("0.001", "0.1"):
        sf_dir = os.path.join(DATA_DIR, f"sf{sf}")
        datagen.generate(sf_dir, float(sf))
        con = duckdb.connect()
        con.execute("SET TimeZone='UTC'")
        for t in datagen.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
        out[sf] = {}
        for name in names:
            engine = workloads.result_digest(queries[name](spark, sf_dir).toPandas())
            if name in oracles:
                expected = workloads.result_digest(con.execute(oracles[name]).fetchdf())
            else:
                expected = dict(engine, md5=None, cols=engine["cols"])
            out[sf][name] = expected
            ok = engine["rows"] == expected["rows"] and (
                expected["md5"] is None or engine == expected
            )
            print(f"sf{sf} {name}: rows {expected['rows']} {'ok' if ok else 'MISMATCH'}", flush=True)
            if not ok:
                bad.append((sf, name))
        con.close()
    spark.stop()
    with open(workloads.EXPECTED_PATH, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print("mismatches:", bad)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
