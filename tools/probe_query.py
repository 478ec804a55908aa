"""Profile one registry query: wall time, job/stage/task counts.

Usage::

    python tools/probe_query.py name [name ...]

Runs each named query twice (cold then warm) against $SPARK_GRAFT_SF_DIR
with the bench session, printing per-run wall seconds plus the number of
Spark jobs, stages and tasks the warm run launched (from the status
tracker) — the per-iteration floor of an operator is jobs x scheduler
overhead + tasks x task overhead, which explain() does not show.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from flink_neo4j_spark.registry import all_queries
    from flink_neo4j_spark.session import get_spark

    spark = get_spark("probe")
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    queries = all_queries()

    # prime codegen/JIT exactly like the bench warmup
    warm_dir = "/root/testdata/sf0.001"
    for name in names:
        try:
            queries[name](spark, warm_dir).write.format("noop").mode(
                "overwrite"
            ).save()
        except Exception as exc:
            print(f"warmup {name} failed: {exc}", file=sys.stderr)
        spark.catalog.clearCache()

    for name in names:
        for label in ("pass1", "pass2"):
            n_jobs0 = len(sc._jsc.sc().statusTracker().getJobIdsForGroup(None) or [])
            t0 = time.perf_counter()
            df = queries[name](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            jsc_tracker = sc._jsc.sc().statusTracker()
            job_ids = list(jsc_tracker.getJobIdsForGroup(None) or [])
            new_jobs = len(job_ids) - n_jobs0
            n_stages = 0
            n_tasks = 0
            # count stages+tasks of the jobs launched in this window
            for jid in sorted(job_ids)[-new_jobs:] if new_jobs else []:
                info = jsc_tracker.getJobInfo(jid)
                if info is None or not info.isDefined():
                    continue
                for sid in info.get().stageIds():
                    sinfo = jsc_tracker.getStageInfo(sid)
                    if sinfo is not None and sinfo.isDefined():
                        n_stages += 1
                        n_tasks += sinfo.get().numTasks()
            print(
                f"{name} {label}: {dt:.2f}s  jobs={new_jobs} "
                f"stages={n_stages} tasks={n_tasks}"
            )
            spark.catalog.clearCache()
    spark.stop()


if __name__ == "__main__":
    main()
