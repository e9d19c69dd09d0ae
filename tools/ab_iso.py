"""Isolated-query A/B harness — the ab_leg discipline for BENCH
queries (not sweep legs). Reproduces bench.py's isolated pass (same
JVM/Arrow/MLlib warmup, fresh plan per repeat, noop sink) for a chosen
subset, with real repeats on a quiet machine:

    python tools/ab_iso.py ann_opq_topk ann_ivfpq_topk tpch_q5_local_supplier
    AB_RUNS=4 python tools/ab_iso.py knn_self_similar

Prints one JSON line with per-repeat times (the spread IS the signal)
and the min per query — compare mins against BENCH_DETAIL.json's
queries_isolated. Include at least one untouched pure-Catalyst control
(e.g. tpch_q5_local_supplier) so ambient-session drift is measurable
in the same run.
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
        raise SystemExit("usage: python tools/ab_iso.py <query> [query ...]")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    runs = int(os.environ.get("AB_RUNS", "3"))

    import faisssearcher_spark
    from faisssearcher_spark import registry
    from bench import warm_session
    from faisssearcher_spark.session import get_spark

    for n in names:
        if n not in registry.ALL_QUERY_FNS:
            raise SystemExit(f"unknown query {n!r}")

    spark = get_spark("ab_iso")
    spark.sparkContext.setLogLevel("ERROR")

    warm_session(spark)

    out: dict = {"runs": runs,
                 "code": os.path.dirname(faisssearcher_spark.__file__)}
    for name in names:
        fn = registry.ALL_QUERY_FNS[name]
        secs = []
        for _ in range(runs):
            t0 = time.time()
            df = fn(spark, sf_dir)
            df.write.mode("overwrite").format("noop").save()
            secs.append(round(time.time() - t0, 3))
        out[name] = {"secs": secs, "min": min(secs)}
    print(json.dumps(out))


if __name__ == "__main__":
    main()
