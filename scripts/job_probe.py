#!/usr/bin/env python
"""Per-query Spark job/stage counts via statusTracker (r14 probe).

For each named query: build, force through the noop sink, and report
how many jobs and stages the forced action submitted plus the wall
time. Job count x ~0.1 s scheduling floor is the lower bound on a
cell's cost at sf0.1 (OPTIMIZATION_r13.md), so this isolates
"too many jobs" cells from "real compute" cells.

Usage: python scripts/job_probe.py q1 q2 ...
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> int:
    names = sys.argv[1:]
    from tiered_storage_for_apache_kafka_spark.operators import QUERIES
    from tiered_storage_for_apache_kafka_spark.session import get_spark

    spark = get_spark(app_name="job-probe")
    spark.sparkContext.setLogLevel("ERROR")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    def _force(df):
        df.write.format("noop").mode("overwrite").save()

    _force(QUERIES["q1_pricing_summary"](spark, sf_dir))
    _force(QUERIES["tiered_offset_range_fetch"](spark, sf_dir))

    tracker = spark.sparkContext.statusTracker()
    for name in names:
        # warm pass (cache/AQE steady state), then measured pass
        _force(QUERIES[name](spark, sf_dir))
        ids_before = set(tracker.getJobIdsForGroup(None) or [])
        t0 = time.perf_counter()
        _force(QUERIES[name](spark, sf_dir))
        el = time.perf_counter() - t0
        ids_after = set(tracker.getJobIdsForGroup(None) or [])
        new_jobs = sorted(ids_after - ids_before)
        n_stages = 0
        n_tasks = 0
        for j in new_jobs:
            info = tracker.getJobInfo(j)
            if info is None:
                continue
            for s in info.stageIds:
                si = tracker.getStageInfo(s)
                if si is not None:
                    n_stages += 1
                    n_tasks += si.numTasks
        print(
            f"{el:7.3f}s  jobs={len(new_jobs):3d} stages={n_stages:3d} "
            f"tasks={n_tasks:4d}  {name}",
            flush=True,
        )
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
