"""Phase profiler for bench queries (guide §1: measure first).

For each query name given (default: the bench HEADLINE set), measures
with the noop sink, warm (second run reported):

- build_s: Python construction time — includes every EAGER action the
  query performs while being built (localCheckpoint barriers, k-means /
  PQ training collects, incremental-arm parquet writes);
- plan_s:  Catalyst analyze+optimize+physical-planning of the final frame
  (`queryExecution().executedPlan()` — no execution);
- exec_s:  the noop write of the already-planned frame;
- jobs:    Spark job count attributed to the query (statusTracker delta).

Usage: python scripts/profile_bench.py [name ...]
Env:   SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod  # noqa: E402
from bench import HEADLINE, SF_DIR  # noqa: E402
from serverless_data_pipeline_spark.session import get_spark  # noqa: E402


def main() -> None:
    names = sys.argv[1:] or list(HEADLINE)
    spark = get_spark(app_name="profile_bench")
    qs = entry_mod.queries()
    subs = entry_mod.bench_subqueries()
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    # JVM warmup
    qs["g1_groupby_agg"](spark, SF_DIR).write.mode("overwrite") \
        .format("noop").save()

    def one(name: str) -> dict:
        fn = qs.get(name) or subs[name]
        j0 = len(tracker.getJobIdsForGroup(None))
        t0 = time.perf_counter()
        df = fn(spark, SF_DIR)
        t1 = time.perf_counter()
        df._jdf.queryExecution().executedPlan()
        t2 = time.perf_counter()
        df.write.mode("overwrite").format("noop").save()
        t3 = time.perf_counter()
        j1 = len(tracker.getJobIdsForGroup(None))
        return {"build_s": round(t1 - t0, 3), "plan_s": round(t2 - t1, 3),
                "exec_s": round(t3 - t2, 3), "total_s": round(t3 - t0, 3),
                "jobs": j1 - j0}

    out = {}
    for name in names:
        sc.setJobDescription(f"profile:{name}")
        one(name)            # cold
        out[name] = one(name)  # warm
        print(name, json.dumps(out[name]), flush=True)
    spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
