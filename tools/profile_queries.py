#!/usr/bin/env python
"""Per-query profiler.

For each declared query (or a named subset) under the bench's exact
session/caching setup: time best-of-k via toPandas (the bench action),
count the Spark jobs the query launches (job-group tracking — each job
pays the per-job dispatch floor, so job count is the first-order cost
model for sub-second queries), and dump the EXECUTED formatted plan
(post-AQE) to plans/profile/<q>_<tag>.txt.

Usage:
  python tools/profile_queries.py [--tag before] [--plans-only] [q158 q136 ...]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from diachronic_spark.catalog import TABLES, load  # noqa: E402
from diachronic_spark.plans import QUERIES  # noqa: E402
from diachronic_spark.session import get_spark  # noqa: E402


def main() -> None:
    args = [a for a in sys.argv[1:]]
    tag = "before"
    if "--tag" in args:
        i = args.index("--tag")
        tag = args[i + 1]
        del args[i : i + 2]
    plans_only = "--plans-only" in args
    args = [a for a in args if not a.startswith("--")]
    names = args or list(QUERIES)

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        "profile",
    )
    os.makedirs(out_dir, exist_ok=True)

    spark = get_spark("diachronic-spark-profile")
    spark.sparkContext.setLogLevel("ERROR")
    for t in TABLES:
        load(spark, sf_dir, t).persist().count()

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    results: dict[str, dict] = {}
    for name in names:
        fn = QUERIES[name]
        sc.setJobDescription(f"{name} warmup")
        group = f"profile_{name}"
        sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        t_plan_build = time.perf_counter() - t0
        df.toPandas()  # warmup (codegen compile, managed persists fill)
        n_jobs = len(tracker.getJobIdsForGroup(group))
        warm_wall = time.perf_counter() - t0
        # executed plan of the warmup run (final AQE plan)
        try:
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
        except Exception:
            import io
            from contextlib import redirect_stdout

            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            plan = buf.getvalue()
        with open(os.path.join(out_dir, f"{name}_{tag}.txt"), "w") as f:
            f.write(plan)
        if plans_only:
            results[name] = {"jobs_warm": n_jobs, "warm_s": round(warm_wall, 3)}
            print(f"{name}: warm {warm_wall:.2f}s jobs={n_jobs}", flush=True)
            continue
        # steady-state timing, bench methodology (fresh DataFrame per run)
        runs = []
        jobs_steady = None
        for i in range(2):
            sc.setJobDescription(f"{name} timed")
            sgroup = f"steady_{name}_{i}"
            sc.setJobGroup(sgroup, name)
            t0 = time.perf_counter()
            fn(spark, sf_dir).toPandas()
            runs.append(time.perf_counter() - t0)
            jobs_steady = len(tracker.getJobIdsForGroup(sgroup))
        best = min(runs)
        results[name] = {
            "best_s": round(best, 3),
            "runs": [round(r, 3) for r in runs],
            "jobs_warm": n_jobs,
            "jobs_steady": jobs_steady,
            "plan_build_s": round(t_plan_build, 3),
            "warm_s": round(warm_wall, 3),
        }
        print(
            f"{name}: best {best:.2f}s runs={[round(r,2) for r in runs]} "
            f"jobs={n_jobs} build={t_plan_build:.2f}s warm={warm_wall:.2f}s",
            flush=True,
        )
    with open(os.path.join(out_dir, f"profile_{tag}.json"), "w") as f:
        json.dump(results, f, indent=1)
    total = sum(v.get("best_s", 0) for v in results.values())
    print(json.dumps({"n": len(results), "total_best_s": round(total, 2)}))


if __name__ == "__main__":
    main()
