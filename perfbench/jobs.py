"""Jobs and stages per registered op, read from Spark's status tracker.

    python3 perfbench/jobs.py [q_name ...]

Runs each op twice on the benchmark's inputs (the first run warms up)
and prints the second run's Spark jobs and stages, split into the jobs
the query fn runs eagerly and the jobs of the final action. The action
is ``count()``, the repo's historical headline action, so the figures
compare with the job counts recorded for earlier rounds. Counts are
load-independent: they repeat exactly from run to run.
"""

from __future__ import annotations

import os
import shutil
import sys
import time

from run import ROOT, WORK, ensure_data, isolate_environment, nproc
from tracing import SparkCounters

DEFAULT_OPS = ("q_dedup_cluster_star", "q_pagerank", "q_bpe_train")


def main(ops: list[str]) -> int:
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    isolate_environment(run_dir)
    sys.path.insert(0, ROOT)
    from nba_pipeline_spark.plans.queries import REGISTRY
    from nba_pipeline_spark.session import get_spark

    data = ensure_data()
    spark = get_spark("perfbench-jobs", cores=nproc())
    spark.sparkContext.setLogLevel("ERROR")
    sc, counters = spark.sparkContext, SparkCounters(spark)
    try:
        for name in ops:
            fn = REGISTRY[name].fn
            fn(spark, data).count()
            group = f"jobs-{name}"
            sc.setJobGroup(group, name)
            w0 = time.time()
            df = fn(spark, data)
            eager = len(counters.group_jobs(group))
            df.count()
            c = counters.collect(group, w0, time.time())
            sc.setLocalProperty("spark.jobGroup.id", None)
            print(f"{name}: jobs {c['jobs']} (eager {eager}, action {c['jobs'] - eager}) "
                  f"stages {c['stages']} tasks {c['tasks']}")
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:] or list(DEFAULT_OPS)))
