#!/usr/bin/env python
"""Diagnostic: per-query Spark job count + wall time (warm, cold-cache),
to separate job-count-floor keys from compute-bound keys. Not part of
the shipped engine.

Usage: python probe_jobs.py <sf_dir> <key> [key ...]
"""
import sys
import time

sys.path.insert(0, __import__("os").path.dirname(__import__("os").path.abspath(__file__)))

import __spark_entry__ as m
from hri_flink_pipeline_core_spark.operators.cache import (
    release_persisted_intermediates,
)
from hri_flink_pipeline_core_spark.session import get_spark


def main():
    sf_dir = sys.argv[1]
    keys = sys.argv[2:]
    spark = get_spark(cpus=32)
    spark.sparkContext.setLogLevel("ERROR")
    qs = m.queries()
    st = spark.sparkContext.statusTracker()
    for key in keys:
        fn = qs[key]
        # warm-up
        fn(spark, sf_dir).toPandas()
        release_persisted_intermediates()
        spark.catalog.clearCache()
        ids0 = set(st.getJobIdsForGroup(None) or [])
        t0 = time.perf_counter()
        fn(spark, sf_dir).toPandas()
        dt = time.perf_counter() - t0
        ids1 = set(st.getJobIdsForGroup(None) or [])
        new = sorted(ids1 - ids0)
        # stage/task totals for the new jobs
        nstages = ntasks = 0
        for jid in new:
            ji = st.getJobInfo(jid)
            if ji is None:
                continue
            for sid in ji.stageIds:
                si = st.getStageInfo(sid)
                if si is not None and si.numTasks > 0 and si.numCompletedTasks > 0:
                    nstages += 1
                    ntasks += si.numCompletedTasks
        print(
            f"{key:32s} {dt:7.3f}s  jobs={len(new):3d}  "
            f"stages(run)={nstages:3d}  tasks={ntasks}"
        )
        release_persisted_intermediates()
        spark.catalog.clearCache()


if __name__ == "__main__":
    main()
