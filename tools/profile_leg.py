"""Per-leg cost breakdown — where does an overhead-dominated bench leg
spend its wall-clock? For each named query (ALL_QUERY_FNS), on a hot
session, repeats times:

  t_build   — registry fn() call: python + any EAGER driver work the leg
              does (store arcs, collects, fits) before returning the frame
  t_plan    — .queryExecution analysis+optimization+physical planning of
              the returned frame (explain cost, no jobs)
  t_exec    — noop-sink materialization of the already-planned frame
  jobs/stages — delta of the status-tracker counters across fn()+exec

Usage:
    python tools/profile_leg.py text_cms_stream text_quality_scores
    AB_RUNS=3 python tools/profile_leg.py dedup_estore_screen
"""
from __future__ import annotations

import json
import os
import sys
import time

repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.append(repo)


def main() -> None:
    names = sys.argv[1:]
    if not names:
        raise SystemExit("usage: python tools/profile_leg.py <query> [...]")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    runs = int(os.environ.get("AB_RUNS", "2"))

    from faisssearcher_spark import registry
    from bench import warm_session
    from faisssearcher_spark.session import get_spark

    for n in names:
        if n not in registry.ALL_QUERY_FNS:
            raise SystemExit(f"unknown query {n!r}")

    spark = get_spark("profile_leg")
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext

    warm_session(spark)

    out = {}
    for name in names:
        fn = registry.ALL_QUERY_FNS[name]
        samples = []
        for _ in range(runs):
            jobs_before = set()
            try:
                jobs_before = set(sc._jsc.sc().statusTracker()
                                  .getJobIdsForGroup(None))
            except Exception:
                pass
            t0 = time.time()
            df = fn(spark, sf_dir)
            t1 = time.time()
            _ = df._jdf.queryExecution().executedPlan()
            t2 = time.time()
            df.write.mode("overwrite").format("noop").save()
            t3 = time.time()
            jobs_after = set()
            try:
                jobs_after = set(sc._jsc.sc().statusTracker()
                                  .getJobIdsForGroup(None))
            except Exception:
                pass
            samples.append({
                "t_build": round(t1 - t0, 3),
                "t_plan": round(t2 - t1, 3),
                "t_exec": round(t3 - t2, 3),
                "t_total": round(t3 - t0, 3),
                "jobs": len(jobs_after - jobs_before),
            })
        out[name] = samples
        print(json.dumps({name: samples}), flush=True)
    print("== summary ==")
    for name, samples in out.items():
        best = min(samples, key=lambda s: s["t_total"])
        print(f"{name:32s} build {best['t_build']:6.2f}  plan "
              f"{best['t_plan']:6.2f}  exec {best['t_exec']:6.2f}  "
              f"jobs {best['jobs']}")


if __name__ == "__main__":
    main()
