"""Generic single-leg A/B harness — the house discipline for ANY
suspected bench regression (NOTES traps appendix): re-measure the one
leg with real repeats on a quiet machine, optionally across commits
via a /tmp worktree + PYTHONPATH, BEFORE touching code. Generalizes
the former per-leg ab_ann_pq.py / ab_ann_nsw.py harnesses.

    python tools/ab_leg.py ann_pq                 # x1 + x10
    AB_POINTS=1,10,100 AB_RUNS=3 python tools/ab_leg.py ann_nsw
    PYTHONPATH=/tmp/r8repo python tools/ab_leg.py dedup_minhash_lsh

Legs are the scale-sweep names (scalebench._scale_queries). Prints one
JSON line with per-repeat times per point (the spread IS the signal —
a lone cold reading is how three rounds of phantom regressions were
born).
"""
from __future__ import annotations

import json
import os
import sys
import tempfile
import time

repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.append(repo)


def main() -> None:
    if len(sys.argv) != 2:
        raise SystemExit("usage: python tools/ab_leg.py <sweep-leg-name>")
    leg = sys.argv[1]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    runs = int(os.environ.get("AB_RUNS", "3"))
    points = [int(x) for x in
              os.environ.get("AB_POINTS", "1,10").split(",")]
    import faisssearcher_spark
    from faisssearcher_spark import scalebench
    from faisssearcher_spark.session import get_spark
    from faisssearcher_spark.sources.catalog import load_table
    from pyspark.sql import functions as F

    spark = get_spark("ab_leg")
    spark.sparkContext.setLogLevel("ERROR")
    emb_base = load_table(spark, sf_dir, "embeddings")
    docs_base = load_table(spark, sf_dir, "documents")
    n_emb = emb_base.count()
    stride = max(1, n_emb // 20)
    queries = emb_base.filter(F.col("vec_id") % stride == 0) \
        .select("vec_id", "embedding")

    out: dict = {"leg": leg, "runs": runs,
                 "code": os.path.dirname(faisssearcher_spark.__file__)}
    n_part = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    # the x<f> parquet copies are removed on every exit path
    with tempfile.TemporaryDirectory(prefix="ab_leg_") as tmp:
        for f in points:
            epath, dpath = f"{tmp}/emb_x{f}", f"{tmp}/docs_x{f}"
            scalebench.scaled_embeddings(emb_base, f).write.parquet(epath)
            scalebench.scaled_documents(docs_base, f).write.parquet(dpath)
            emb = spark.read.parquet(epath).repartition(n_part)
            docs = spark.read.parquet(dpath).repartition(n_part)
            n_f = emb.count()
            docs.count()
            thunks = scalebench._scale_queries(emb, docs, queries, n_f,
                                               factor=f)
            if leg not in thunks:
                raise SystemExit(f"unknown leg {leg!r}; choose from "
                                 f"{sorted(thunks)}")
            secs = []
            for _ in range(runs):
                t0 = time.time()
                thunks[leg]().write.mode("overwrite").format("noop").save()
                secs.append(round(time.time() - t0, 3))
            out[f"sec_x{f}"] = secs
    mins = {f: min(out[f"sec_x{f}"]) for f in points}
    for a, b in zip(points, points[1:]):
        out[f"ratio_{a}_{b}"] = round(mins[b] / mins[a], 2)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
