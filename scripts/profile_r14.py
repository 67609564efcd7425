"""r14 profiling: per-headline-query wall time AND Spark job count.

At sf0.1 every bench query is fixed-overhead-bound (r13 scaling block:
8 cores >= 32 cores on all 23), so the job count — each job pays
scheduler + commit + collect overhead — is the steal-proof proxy for
the overhead floor, alongside wall time. Usage:

  SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 python scripts/profile_r14.py [reps]

$PROFILE_QUERIES (comma-separated) restricts the set — the r14 A/B
runs target the touched queries plus two r8-untouched steal controls.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pg_lakehouse_spark import get_spark  # noqa: E402
from pg_lakehouse_spark.session import (  # noqa: E402
    dir_input_bytes,
    shuffle_partitions_for,
)
from pg_lakehouse_spark.workload import REGISTRY, _load_all  # noqa: E402
from bench import HEADLINE  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    subset = os.environ.get("PROFILE_QUERIES")
    headline = subset.split(",") if subset else HEADLINE
    _load_all()
    spark = get_spark(
        "pg_lakehouse_spark-profile-r14",
        shuffle_partitions=shuffle_partitions_for(dir_input_bytes(sf_dir)),
    )
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    from pg_lakehouse_spark.tables import load_tables

    for df in load_tables(spark, sf_dir, register=True).values():
        df.select(df.columns[0]).limit(1).count()
    for name in headline:  # plan/codegen warmup, like bench.py
        try:
            REGISTRY.get(name).fn(spark, sf_dir).count()
        except Exception:
            pass

    print(f"{'query':30s} {'jobs':>5s} {'stages':>7s} {'best_s':>8s}  times")
    for name in headline:
        spec = REGISTRY.get(name)
        times, jobs, stages = [], None, None
        for rep in range(reps):
            spark.catalog.clearCache()
            group = f"{name}-{rep}"
            sc.setJobGroup(group, name)
            t0 = time.perf_counter()
            spec.fn(spark, sf_dir).count()
            times.append(time.perf_counter() - t0)
            ids = tracker.getJobIdsForGroup(group)
            jobs = len(ids)
            stages = sum(
                len(tracker.getJobInfo(j).stageIds)
                for j in ids
                if tracker.getJobInfo(j) is not None
            )
            sc.setJobGroup("", "")
        print(
            f"{name:30s} {jobs:5d} {stages:7d} {min(times):8.3f}  "
            + " ".join(f"{t:.3f}" for t in times)
        )
    spark.stop()


if __name__ == "__main__":
    main()
