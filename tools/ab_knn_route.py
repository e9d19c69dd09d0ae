"""Small-query-set routing probe for ``knn_join(strategy="auto")``.

Times train plus ``--searches`` facade searches of a small query set
(raw-vector cosine ``SparkSearcher``, the ``flat_search`` shape) against
corpora of growing size, for each strategy named, in alternating order
within one Spark session, and checks every result against a numpy
top-k. ``held`` is the path a searcher within the hold bound takes: its
``train()`` collects the corpus once into the blocked kernel's matrix
and every ``search()`` ranks against it (the tool lifts the bound so
every size holds); ``blocked`` / ``sharded`` / ``catalyst`` train a
searcher that holds nothing (the tool sets the bound below every size)
and rank its prepared queries against its corpus with ``knn_join`` and
that strategy, the call ``search()`` makes with ``"auto"``. Prints one
JSON line per corpus size with the corpus's Catalyst size estimate (the
number ``_auto_strategy`` and the hold bound see), the per-strategy
median and quartiles of a round (train + searches) in seconds, and how
many rounds each strategy won.

    PYTHONPATH=. SPARK_GRAFT_CPUS=3 python tools/ab_knn_route.py \\
        --items 4096,32768,131072 --strategies held,sharded --searches 8

``catalyst`` (the plan ``knn_join`` runs by default, and the facade
ran before it routed through ``auto``) scores in the interpreter: keep
it to small ``--items``.
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
import pyarrow as pa
import pyarrow.parquet as pq

K = 10


def write_vectors(path: str, keys: np.ndarray, mat: np.ndarray) -> None:
    vec = pa.FixedSizeListArray.from_arrays(
        pa.array(mat.ravel(), pa.float32()), mat.shape[1])
    pq.write_table(pa.table({"key": keys, "vec": vec.cast(
        pa.list_(pa.float32()))}), path)


def oracle_topk(qmat: np.ndarray, mat: np.ndarray, keys: np.ndarray):
    """Per query, the K keys of highest cosine, ties by smaller key."""
    def unit(m):
        m = m.astype(np.float64)
        n = np.linalg.norm(m, axis=1, keepdims=True)
        return m / np.where(n == 0, 1.0, n)

    sims = unit(qmat) @ unit(mat).T
    order = np.lexsort((np.broadcast_to(keys, sims.shape), -sims), axis=1)
    return [keys[row[:K]].tolist() for row in order]


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--items", default="4096,32768,131072",
                    help="comma-separated corpus row counts")
    ap.add_argument("--queries", type=int, default=64)
    ap.add_argument("--dim", type=int, default=64)
    ap.add_argument("--strategies", default="held,sharded")
    ap.add_argument("--searches", type=int, default=1,
                    help="searches per train in one timed round")
    ap.add_argument("--rounds", type=int, default=10)
    ap.add_argument("--seed", type=int, default=7)
    args = ap.parse_args()
    strategies = args.strategies.split(",")

    from faisssearcher_spark import SparkSearcher
    from faisssearcher_spark.operators import knn
    from faisssearcher_spark.session import get_spark

    bound = knn.BLOCKED_SMALL_QUERY_ITEMS_BYTES

    def search(searcher, target, strategy):
        """``searcher.search(target, topK=K)``, with ``knn_join``'s plan
        forced to ``strategy`` unless the searcher holds its matrix."""
        if strategy == "held":
            return searcher.search(target, topK=K)
        queries = knn._query_frame(searcher._prepare_queries(target),
                                   spark, "source_item", "__vec")
        return knn.knn_join(
            queries, searcher.corpus, k=K, metric="ip",
            query_vec_col="__vec", item_vec_col="__vec",
            query_item_col="source_item", item_key_col="key",
            payload_cols=[], normalize=False, strategy=strategy)

    def timed_round(cpath, target, strategy):
        """Seconds for train + the searches, and each search's rows."""
        held = strategy == "held"
        knn.BLOCKED_SMALL_QUERY_ITEMS_BYTES = (
            knn.ITEMS_MEMORY_CAP_BYTES if held else -1)
        t0 = time.perf_counter()
        searcher = SparkSearcher(spark.read.parquet(cpath), vec_col="vec",
                                 key_col="key", measurement="cos").train()
        assert (searcher._held is not None) == held
        results = [search(searcher, target, strategy)
                   .select("source_item", "sim_item", "sim_val").collect()
                   for _ in range(args.searches)]
        seconds = time.perf_counter() - t0
        estimate = knn._plan_size_bytes(searcher.corpus)
        searcher.close()
        return seconds, results, estimate

    spark = get_spark("ab_knn_route")
    spark.sparkContext.setLogLevel("ERROR")
    tmp = tempfile.mkdtemp(prefix="ab_knn_route_")
    try:
        for n in (int(x) for x in args.items.split(",")):
            rng = np.random.default_rng(args.seed + n)
            mat = rng.standard_normal((n, args.dim), dtype=np.float32)
            keys = np.arange(n, dtype=np.int64)
            qmat = rng.standard_normal((args.queries, args.dim),
                                       dtype=np.float32)
            qkeys = np.arange(n, n + args.queries, dtype=np.int64)
            cpath = os.path.join(tmp, f"corpus_{n}.parquet")
            qpath = os.path.join(tmp, f"queries_{n}.parquet")
            write_vectors(cpath, keys, mat)
            write_vectors(qpath, qkeys, qmat)
            truth = oracle_topk(qmat, mat, keys)

            target = spark.read.parquet(qpath).select("key", "vec")
            times: dict = {s: [] for s in strategies}
            wrong: dict = {s: 0 for s in strategies}
            wins: dict = {s: 0 for s in strategies}
            for r in range(args.rounds + 1):  # round 0 warms up
                order = strategies if r % 2 else strategies[::-1]
                lap = {}
                for s in order:
                    lap[s], results, estimate = timed_round(cpath, target, s)
                    for rows in results:
                        got: dict = {}
                        for row in sorted(rows, key=lambda x: (-x["sim_val"],
                                                               x["sim_item"])):
                            got.setdefault(row["source_item"], []).append(
                                row["sim_item"])
                        wrong[s] += sum(got.get(int(q), []) != t
                                        for q, t in zip(qkeys, truth))
                if r:
                    for s, v in lap.items():
                        times[s].append(v)
                    wins[min(lap, key=lap.get)] += 1
            print(json.dumps({
                "items": n, "queries": args.queries, "dim": args.dim,
                "searches_per_train": args.searches,
                "corpus_estimate_bytes": estimate,
                "median_s": {s: round(float(np.median(v)), 4)
                             for s, v in times.items()},
                "quartiles_s": {s: [round(float(x), 4) for x in
                                    np.percentile(v, [25, 75])]
                                for s, v in times.items()},
                "wins": wins, "wrong_queries": wrong}), flush=True)
    finally:
        knn.BLOCKED_SMALL_QUERY_ITEMS_BYTES = bound
        shutil.rmtree(tmp, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
