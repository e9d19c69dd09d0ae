"""Fresh-session cold/warm probe for one or more bench legs.

Each run of THIS SCRIPT is one fresh Spark session (the bench.py cold
shape): same generic warmups as bench.py, then for each named query
time fn()+noop twice (cold, warm). Prints one JSON line,
``{"code": <checkout>, "results": {<query>: {"cold": s, "warm": s}}}``.
Run it alternately against two checkouts (PYTHONPATH decides which
code) to A/B a cold-path change with interleaved samples:

    for i in 1 2 3; do
      PYTHONPATH=/tmp/r14c_base python tools/ab_cold.py searcher_text_knn
      PYTHONPATH=/root/repo     python tools/ab_cold.py searcher_text_knn
    done
"""
from __future__ import annotations

import json
import os
import sys
import time

# NB: no repo path insert here — PYTHONPATH picks the code under test.


def main() -> None:
    names = sys.argv[1:]
    if not names:
        raise SystemExit("usage: python tools/ab_cold.py <query> [...]")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    import faisssearcher_spark
    from faisssearcher_spark import registry
    from bench import warm_session
    from faisssearcher_spark.session import get_spark

    spark = get_spark("ab_cold")
    spark.sparkContext.setLogLevel("ERROR")

    warm_session(spark)

    results: dict[str, dict[str, float]] = {}
    out = {"code": os.path.dirname(os.path.dirname(
        os.path.abspath(faisssearcher_spark.__file__))),
        "results": results}
    for name in names:
        fn = registry.ALL_QUERY_FNS[name]
        t0 = time.time()
        fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
        cold = time.time() - t0
        t0 = time.time()
        fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
        w = time.time() - t0
        results[name] = {"cold": round(cold, 3), "warm": round(w, 3)}
    print(json.dumps(out))


if __name__ == "__main__":
    main()
