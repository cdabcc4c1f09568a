"""Per-query micro-profile: wall seconds + Spark job/stage/task counts.

At bench scale (sf0.1, megabytes) a query's wall time is mostly FIXED
overhead — scheduling jobs, stage barriers, shuffle round trips — so
the job/stage/task census tells you where the seconds go long before
the Spark UI would. Uses the REST-less status tracker via the
listener-free route: count jobs by diffing the status tracker's job
ids around the timed run.

Usage: python tools/profile_query.py [sf_dir] query [query ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    args = sys.argv[1:]
    if args and os.path.isdir(args[0]):
        sf_dir, names = args[0], args[1:]
    else:
        sf_dir, names = "/root/testdata/sf0.1", args

    from pasta_pipeline_spark.operators.util import release_cached_deps
    from pasta_pipeline_spark.queries.catalog import REGISTRY
    from pasta_pipeline_spark.session import get_spark

    spark = get_spark("profile-query")
    spark.sparkContext.setLogLevel("ERROR")
    tracker = spark.sparkContext.statusTracker()

    # warmup at the smallest sf to absorb JIT/codegen before timing
    warm = "/root/testdata/sf0.001"
    for name in names:
        df = REGISTRY[name].spark_fn(spark, warm)
        df.write.format("noop").mode("overwrite").save()
        release_cached_deps(df)

    n_iter = int(os.environ.get("PROFILE_N_ITER", "3"))
    # NOTE: `sec` is the min over all iterations while the job/stage/
    # task census covers only the LAST iteration (the `before` snapshot
    # is re-taken per iteration) — the counts describe steady state,
    # the seconds describe the best case; they can come from different
    # iterations (r13 advisor).
    print(f"{'query':34s} {'sec':>7s} {'jobs':>5s} {'stages':>7s} {'tasks':>7s}")
    for name in names:
        secs = []
        for it in range(n_iter):
            before = set(tracker.getJobIdsForGroup(None) or [])
            t0 = time.time()
            df = REGISTRY[name].spark_fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            secs.append(time.time() - t0)
            if it < n_iter - 1:
                release_cached_deps(df)
        sec = min(secs)
        after = set(tracker.getJobIdsForGroup(None) or [])
        jobs = sorted(after - before)
        n_stages = 0
        n_tasks = 0
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is None:
                continue
            for sid in info.stageIds:
                sinfo = tracker.getStageInfo(sid)
                if sinfo is not None and sinfo.numCompletedTasks > 0:
                    n_stages += 1
                    n_tasks += sinfo.numCompletedTasks
        release_cached_deps(df)
        print(f"{name:34s} {sec:7.3f} {len(jobs):5d} {n_stages:7d} {n_tasks:7d}")


if __name__ == "__main__":
    main()
