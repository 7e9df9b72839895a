#!/usr/bin/env python3
"""Optimization profiler: per-query build/collect timing split, Spark job
count, and a formatted-explain dump for plans/r<ROUND>/.

    PYTHONPATH=. python tools/prof.py ROUND q_a q_b ...           # profile
    PYTHONPATH=. python tools/prof.py ROUND --plans before q_a    # dump plans
    PYTHONPATH=. python tools/prof.py ROUND --top N               # N slowest
      from BENCH_full.json

``ROUND`` (e.g. ``18`` or ``r18``) names the plan directory and the Spark
app (``prof18``).

Timing split matters because many builders do driver-side work (streaming
runs, txn commits, counts, eager checkpoints) in the BUILD phase; the bench
measures build+collect together, so knowing which phase holds the time
decides whether to attack the plan or the orchestration.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from changesetmd_spark import get_spark, registry  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def explain_str(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def main() -> None:
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    rnd = sys.argv[1].lstrip("r")
    plans_dir = os.path.join(REPO, "plans", f"r{rnd}")
    args = sys.argv[2:]
    plans_tag = None
    if args and args[0] == "--plans":
        plans_tag = args[1]
        args = args[2:]
    if args and args[0] == "--top":
        n = int(args[1])
        bf = json.load(open(os.path.join(REPO, "BENCH_full.json")))
        args = [
            k
            for k, _ in sorted(
                bf["queries_median"].items(), key=lambda kv: -kv[1]
            )[:n]
        ]
    spark = get_spark(app_name=f"prof{rnd}")
    spark.sparkContext.setLogLevel("ERROR")
    qs = registry.queries()
    # warmup (mirrors bench.py)
    qs["q_distinct_counts"](spark, SF_DIR).collect()
    spark.range(64).repartition(8).mapInPandas(
        lambda it: it, schema="id long"
    ).collect()
    st = spark.sparkContext.statusTracker()
    rows_out = {}
    for name in args:
        spark.sparkContext.setJobDescription(name)
        j0 = len(st.getJobIdsForGroup(None) or [])
        t0 = time.perf_counter()
        df = qs[name](spark, SF_DIR)
        t1 = time.perf_counter()
        df.collect()
        t2 = time.perf_counter()
        spark.catalog.clearCache()
        # second full pass = the bench's warm sample
        t3 = time.perf_counter()
        df2 = qs[name](spark, SF_DIR)
        df2.collect()
        t4 = time.perf_counter()
        spark.catalog.clearCache()
        j1 = len(st.getJobIdsForGroup(None) or [])
        if plans_tag:
            os.makedirs(plans_dir, exist_ok=True)
            with open(
                os.path.join(plans_dir, f"{name}_{plans_tag}.txt"), "w"
            ) as f:
                f.write(explain_str(df2))
        rows_out[name] = {
            "build_s": round(t1 - t0, 3),
            "collect_s": round(t2 - t1, 3),
            "warm_total_s": round(t4 - t3, 3),
            "jobs_2runs": j1 - j0,
        }
        print(
            f"{name:42s} build {t1-t0:6.2f}  collect {t2-t1:6.2f}  "
            f"warm {t4-t3:6.2f}  jobs(2 runs) {j1-j0}",
            flush=True,
        )
    print(json.dumps(rows_out))


if __name__ == "__main__":
    main()
