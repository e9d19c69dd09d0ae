"""Driver-versus-executor ranking probe for a holding flat searcher.

Times ``search()`` plus an Arrow read of the result for query sets of
growing size and K against one held corpus (raw-vector cosine
``SparkSearcher``, the ``flat_search`` shape), ranked on the driver
(``knn.driver_rank``) and on the executors (``knn.blocked_rank``) in
alternating order within one Spark session. The route is forced by
moving ``knn.DRIVER_RANK_CAP_BYTES``; ``auto`` keeps the cap as it is
(over it, a frame's row-bounded collect runs and is dropped before the
executors rank). Every route must return the same rows. Prints one JSON line per (queries, K) with the driver work
estimate (``BlockedCorpus.driver_bytes``, the number the cap is set
against), the per-route median and quartiles in seconds, and how many
rounds each route won.

    PYTHONPATH=. SPARK_GRAFT_CPUS=4 python tools/ab_driver_rank.py \\
        --queries 64,1024,8192 --ks 10,100 --rounds 6 [--routes ...]
"""
from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

import numpy as np

from ab_knn_route import write_vectors

def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--items", type=int, default=4096)
    ap.add_argument("--queries", default="64,1024,8192",
                    help="comma-separated query set sizes")
    ap.add_argument("--ks", default="10,100", help="comma-separated K")
    ap.add_argument("--dim", type=int, default=64)
    ap.add_argument("--rounds", type=int, default=6)
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--routes", default="driver,blocked",
                    help="comma-separated, of driver, blocked, auto")
    args = ap.parse_args()
    routes = args.routes.split(",")

    from faisssearcher_spark import SparkSearcher
    from faisssearcher_spark.operators import knn
    from faisssearcher_spark.plans import inspect
    from faisssearcher_spark.session import get_spark

    cap = knn.DRIVER_RANK_CAP_BYTES

    def timed(searcher, target, k, route):
        """Seconds for one search and the read of its result, and the
        result as a sorted Arrow table."""
        knn.DRIVER_RANK_CAP_BYTES = {"driver": 1 << 62, "blocked": -1,
                                     "auto": cap}[route]
        t0 = time.perf_counter()
        res = searcher.search(target, topK=k, keep_rank_no=True)
        tbl = res.toArrow()
        seconds = time.perf_counter() - t0
        if route != "auto":
            spark_ranked = "MapInPandas" in inspect.executed_plan(res)
            assert spark_ranked == (route == "blocked"), route
        return seconds, tbl.sort_by([("source_item", "ascending"),
                                     ("rank_no", "ascending")])

    spark = get_spark("ab_driver_rank")
    spark.sparkContext.setLogLevel("ERROR")
    tmp = tempfile.mkdtemp(prefix="ab_driver_rank_")
    rng = np.random.default_rng(args.seed)
    try:
        cpath = os.path.join(tmp, "corpus.parquet")
        write_vectors(cpath, np.arange(args.items, dtype=np.int64),
                      rng.standard_normal((args.items, args.dim),
                                          dtype=np.float32))
        searcher = SparkSearcher(spark.read.parquet(cpath), vec_col="vec",
                                 key_col="key", measurement="cos").train()
        assert searcher._held is not None
        for nq in (int(x) for x in args.queries.split(",")):
            qpath = os.path.join(tmp, f"queries_{nq}.parquet")
            write_vectors(qpath, np.arange(nq, dtype=np.int64),
                          rng.standard_normal((nq, args.dim),
                                              dtype=np.float32))
            target = spark.read.parquet(qpath).select("key", "vec")
            for k in (int(x) for x in args.ks.split(",")):
                times: dict = {r: [] for r in routes}
                wins: dict = {r: 0 for r in routes}
                for rnd in range(args.rounds + 1):  # round 0 warms up
                    order = routes if rnd % 2 else routes[::-1]
                    lap, rows = {}, {}
                    for r in order:
                        lap[r], rows[r] = timed(searcher, target, k, r)
                    first, *rest = rows.values()
                    assert all(first.equals(t) for t in rest), (nq, k)
                    if rnd:
                        for r, v in lap.items():
                            times[r].append(v)
                        wins[min(lap, key=lap.get)] += 1
                print(json.dumps({
                    "items": args.items, "queries": nq, "k": k,
                    "dim": args.dim,
                    "driver_bytes": searcher._held.driver_bytes(nq, k),
                    "median_s": {r: round(float(np.median(v)), 4)
                                 for r, v in times.items()},
                    "quartiles_s": {r: [round(float(x), 4) for x in
                                        np.percentile(v, [25, 75])]
                                    for r, v in times.items()},
                    "wins": wins}), flush=True)
        searcher.close()
    finally:
        knn.DRIVER_RANK_CAP_BYTES = cap
        shutil.rmtree(tmp, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
