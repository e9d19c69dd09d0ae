"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "queries_warm": {name: sec}, "value_warm": sec,
"sf": ...}. Each query is fully materialized through the noop sink
(forces execution of the whole plan, no driver collect overhead).

Two iterations per query: "queries"/"value" is the COLD pass (first run —
includes whole-stage-codegen compilation, Janino, broadcast build; kept as
the primary metric for round-over-round comparability), "queries_warm" is
the SECOND run of the same query — steady-state cost with codegen
compiled — so regressions are attributable to plan cost rather than
compile noise (NOTES.md measured 3-10 s of the cold numbers is compile).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

BENCH_QUERIES = [
    # reference-parity vector surface
    "knn_cosine_top5",
    "knn_grid_cos_top5",
    "knn_self_similar",
    "knn_l2_top5",
    "cal_sim_dot",
    "pairwise_metrics",
    "searcher_text_knn",
    # ANN
    "ann_lsh_bucket_top3",
    "retrieval_eval",
    # dedup
    "dedup_exact_keyed",
    "dedup_ngram_jaccard",
    # the store arc runs (and is timed) under its own name BEFORE the
    # flagship minhash gate, which then reuses the memoized arc rows —
    # per-query cold numbers stay attributable (r6 verdict #7)
    "dedup_incremental_screen",
    "dedup_upsert_screen",
    "dedup_estore_screen",
    "dedup_fpstore_screen",
    "dedup_minhash_lsh",
    "dedup_simhash_fingerprint",
    "dedup_embedding_cosine",
    "dedup_clusters",
    "curate_documents",
    # text
    "text_token_stats",
    "text_quality_scores",
    "text_fingerprints",
    # the streamed-CMS arc runs (and is timed) under its own name
    # BEFORE the ngram gate, which then reuses the memoized state —
    # the store-arc pricing discipline
    "text_cms_stream",
    "text_ngram_topk",
    "text_chunk_documents",
    "text_redact_pii",
    "decontam_pairs",
    "dedup_lines_global",
    "sample_cap_per_group",
    "text_token_frequency",
    "dedup_bloom_screen",
    "dedup_span_removal",
    "dedup_exsub_removal",
    "dedup_semantic",
    "dedup_profile",
    "sample_dsir",
    "ann_pq_topk",
    "ann_b1_topk",
    "ann_mrl_topk",
    "ann_ivfpq_topk",
    "ann_opq_topk",
    "ann_sq_topk",
    "text_bpe_pack",
    "layout_zorder",
    "layout_hilbert",
    "text_quality_classifier",
    "text_bm25_topk",
    "text_maxsim_rerank",
    "text_unigram_encode",
    "text_wordpiece_encode",
    "mine_bitext",
    "pipeline_pretrain_prep",
    "text_heavy_hitters",
    # relational / events
    "tpch_q1_pricing",
    "tpch_q3_shipping",
    "tpch_q5_local_supplier",
    "tpch_q6_revenue",
    "tpch_q18_big_orders",
    "lineitem_rollup",
    "top_customers_per_nation",
    "events_hourly_rollup",
    "events_sessionize",
    "events_sessionize_native",
    "events_asof_join",
    "events_range_join",
    "events_hll_rollup",
    "events_resample",
]


#: stdout is read from its last 2000 chars; leave headroom for log noise
COMPACT_MAX_CHARS = 1900


def compact_line(detail: dict) -> str:
    """The one JSON line printed to stdout: totals, the cold per-query map
    and the scale ratios from ``detail`` (the BENCH_DETAIL.json record),
    serialized without spaces and degraded until it fits
    :data:`COMPACT_MAX_CHARS`.

    Degrade in value order — the per-query map is read first, the full
    scale detail always lives in BENCH_DETAIL.json: (1) summarize scale
    to its worst leg, (2) drop per-query precision to 1dp, (3) drop the
    map. (Round 7: 13 scale legs alone are ~370 chars; with 57 queries
    the full line is ~2.2k and the old fallback silently shipped
    totals-only.)"""
    timings, scale = detail["queries"], detail.get("scale")
    compact = {
        "metric": detail["metric"],
        "value": detail["value"],
        "unit": detail["unit"],
        "queries": {k: round(v, 2) for k, v in timings.items()},
        "value_warm": detail["value_warm"],
        "value_isolated": detail["value_isolated"],
        "sf": detail["sf"],
        "detail": "BENCH_DETAIL.json",
    }
    if scale is not None:
        compact["scale"] = {
            "factor": scale["factor"],
            "time_ratios": {k: q.get("time_ratio")
                            for k, q in scale["queries"].items()},
        }

    def _dump() -> str:
        return json.dumps(compact, separators=(",", ":"))

    if len(_dump()) > COMPACT_MAX_CHARS and scale is not None:
        ratios = {k: q.get("time_ratio")
                  for k, q in scale["queries"].items()
                  if q.get("time_ratio") is not None}
        worst = max(ratios, key=ratios.get) if ratios else None
        compact["scale"] = {"factor": scale["factor"],
                            "legs": len(scale["queries"]),
                            "worst_leg": worst,
                            "worst_ratio": ratios.get(worst)}
    if len(_dump()) > COMPACT_MAX_CHARS:
        compact["queries"] = {k: round(v, 1) for k, v in timings.items()}
    if len(_dump()) > COMPACT_MAX_CHARS:
        compact.pop("queries", None)
    return _dump()


def persistent_rdds(sc) -> dict:
    """The RDDs still persisted in ``sc``'s block managers: their count
    and sorted names. Read after the bench memo's final close, where any
    entry is a cache that a leg or the memo failed to release."""
    rdds = list(sc._jsc.getPersistentRDDs().values())
    return {"count": len(rdds),
            "names": sorted(str(r.name()) for r in rdds)}


def warm_session(spark) -> None:
    """Pay a session's one-time first-use costs before anything is timed,
    so the first timed query measures the query. Shared by bench.py and
    the tools that time legs in their own session (tools/profile_leg.py,
    ab_iso.py, ab_cold.py)."""
    from pyspark.sql import functions as F

    # JVM/codegen warmup (generic — touches no bench table): JIT the
    # codegen'd aggregate/window/HOF paths so the first timed query
    # measures the query, not interpreter-to-JIT transition.
    warm = spark.range(100_000).select(
        F.col("id"), F.transform(F.sequence(F.lit(1), F.lit(8)),
                                 lambda i: i * F.col("id")).alias("v"))
    warm.select(F.sum(F.aggregate("v", F.lit(0).cast("long"),
                                  lambda a, x: a + x))).collect()
    # ...and the driver-side Arrow collect path (toPandas): its first use
    # in a session costs seconds of one-time init (measured 4-7 s in r4),
    # which otherwise lands on whichever kernel query collects a matrix
    # first (knn_self_similar's blocked path in list order).
    warm.limit(1000).toPandas()
    # ...and spawn the Python worker pool (Arrow pandas_udf stages) so the
    # first encoder query measures encoding, not 32 process forks.
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _wu(s):
        return s * 1.0

    spark.range(100_000).repartition(int(os.environ.get("SPARK_GRAFT_CPUS", "32"))) \
        .select(_wu(F.col("id").cast("double"))).write \
        .mode("overwrite").format("noop").save()
    # ...and MLlib's first-touch class loading (KMeans jars + Breeze init
    # cost ~10 s the first time any estimator fits in a session — measured
    # as dedup_semantic's cold-warm gap; a 2-row fit pays it here so the
    # timed k-means fits measure clustering, not classloading). The IVF-PQ
    # and PQ indexes train on the driver and need none of it; the MLlib
    # fits left are ann_ivf_recall's IVFIndex (train_mode="mllib") and
    # the classifier's LogisticRegression (operators/classifier.py).
    from pyspark.ml.clustering import KMeans as _WKM
    from pyspark.ml.functions import array_to_vector as _wav
    _wkf = spark.range(2).select(
        _wav(F.array(F.col("id").cast("double"))).alias("features"))
    _WKM(k=2, maxIter=1).fit(_wkf)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from faisssearcher_spark.session import get_spark
    from faisssearcher_spark import registry

    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    warm_session(spark)

    timings: dict[str, float] = {}
    warm: dict[str, float] = {}
    for name in BENCH_QUERIES:
        fn = registry.ALL_QUERY_FNS[name]
        t0 = time.time()
        df = fn(spark, sf_dir)
        df.write.mode("overwrite").format("noop").save()
        timings[name] = round(time.time() - t0, 3)
        # steady-state pass: rebuild the plan (driver-side work like
        # k-means refits is repaid too, making warm an honest end-to-end
        # number) but with codegen/JIT/broadcasts hot.
        t0 = time.time()
        df = fn(spark, sf_dir)
        df.write.mode("overwrite").format("noop").save()
        warm[name] = round(time.time() - t0, 3)

    # isolated steady-state pass (r3 verdict #8): the in-sweep numbers
    # carry cumulative-session noise (GC pressure, broadcast cleanup,
    # codegen cache churn from 30 other plans — NOTES.md measured ±2×
    # cold swings on minhash from it). After the sweep settles, re-time
    # each query with a fresh plan on the hot JVM — regressions that
    # show up HERE are plan cost, not session interference.
    #
    # Sampling discipline (r11 verdict #1): the box's noise bursts run
    # seconds-to-minutes, so best-of-2 BACK-TO-BACK often lands both
    # samples inside one burst (r11 shipped 2.5-4.4× iso spikes on legs
    # whose cold/warm were flat). Instead: two FULL sweeps — each query's
    # two samples land ~minutes apart, decorrelating burst noise — then
    # one adaptive third sample for any leg whose minimum still sits
    # >30% above its own same-session warm reading (noise only ever
    # inflates a timing, so min-of-decorrelated-samples converges on the
    # true cost). All samples ship in BENCH_DETAIL for honesty.
    def _time_one(name: str) -> float:
        fn = registry.ALL_QUERY_FNS[name]
        t0 = time.time()
        fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
        return time.time() - t0

    # ambient-drift canary: the same trivial pure-Catalyst plan
    # (tpch_q6's scan+filter+agg), re-timed every few legs through the
    # isolated pass. Its plan never changes, so its reading series IS
    # the session's ambient drift — when a leg's isolated number sits
    # 1.3-1.5x its early-session warm AND the canary drifted by the
    # same factor, the record itself attributes the movement to the
    # session, not the plan (r11's unattributable-spike lesson).
    canary: list[float] = []

    def _canary() -> None:
        canary.append(round(_time_one("tpch_q6_revenue"), 3))

    isolated_samples: dict[str, list[float]] = {n: [] for n in BENCH_QUERIES}
    # pass-boundary teardown (r12 verdict #2): the bench memo holds
    # fitted indexes whose encoded corpora re-cache LAZILY after the
    # clearCache below — that re-materialization otherwise lands inside
    # whichever unrelated leg runs nearby in the isolated pass (the r12
    # knn_self_similar weak's prime suspect). close() them through the
    # lifecycle API: the first isolated sample of each memoized leg
    # repays one fit, the second sweep's sample is steady-state, and
    # min-of-samples keeps pricing the search.
    registry.BENCH_MEMO.close()
    spark.catalog.clearCache()
    _canary()                      # baseline right after the warm sweep
    for _sweep in range(2):
        for i, name in enumerate(BENCH_QUERIES):
            isolated_samples[name].append(_time_one(name))
            if (i + 1) % 16 == 0:
                _canary()
    # decide the full flagged set FIRST, then sample it in list order:
    # a tail leg's second sample just finished, so running its third
    # back-to-back would sit inside the same burst — the front flagged
    # legs' runtime is the decorrelation delay (review catch)
    flagged = [n for n in BENCH_QUERIES
               # sub-200ms legs are pure jitter
               if min(isolated_samples[n]) > 1.3 * max(warm[n], 0.2)]
    for name in flagged:
        isolated_samples[name].append(_time_one(name))
    _canary()                      # closing drift reading
    isolated = {n: round(min(s), 3)
                for n, s in isolated_samples.items()}

    # scale sweep (r4 verdict #2): measure — not just plan-argue — that the
    # unbounded-scale paths (knn strategy matrix, minhash LSH, sign-LSH
    # embedding near-dup) stay linear when the corpus grows 10× (sf0.1 ×10
    # ≈ sf1). time_ratio ≲ factor per query is the criterion; see
    # faisssearcher_spark/scalebench.py for corpus synthesis + LSH sizing.
    scale = None
    if os.environ.get("SPARK_GRAFT_SCALE", "1") != "0":
        from faisssearcher_spark.scalebench import run_scale_sweep
        factor = int(os.environ.get("SPARK_GRAFT_SCALE_FACTOR", "10"))
        deep = int(os.environ.get("SPARK_GRAFT_SCALE_DEEP", "100"))
        scale = run_scale_sweep(spark, sf_dir, factor=factor,
                                deep_factor=deep or None)
    registry.BENCH_MEMO.close()
    leaked = persistent_rdds(spark.sparkContext)
    if leaked["count"]:
        print(f"bench: {leaked['count']} persistent RDD(s) at exit: "
              f"{leaked['names']}", file=sys.stderr)

    total = round(sum(timings.values()), 3)
    # The driver keeps only the LAST 2000 chars of stdout and json-parses
    # the final line (BENCH_r04 failed to parse at 34 queries × 3 dicts ≈
    # 2800 chars). So: full detail → BENCH_DETAIL.json next to this file;
    # stdout gets a compact line (cold per-query at 2 decimals + totals +
    # scale ratios) that stays comfortably under the cap.
    detail = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "queries_warm": warm,
        "value_warm": round(sum(warm.values()), 3),
        "queries_isolated": isolated,
        "value_isolated": round(sum(isolated.values()), 3),
        "isolated_samples": {n: [round(v, 3) for v in s]
                             for n, s in isolated_samples.items()},
        "isolated_canary": canary,
        "scale": scale,
        "sf": sf,
        "persistent_rdds_at_exit": leaked,
    }
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, "BENCH_DETAIL.json"), "w") as fh:
        json.dump(detail, fh, indent=1)
    print(compact_line(detail))


if __name__ == "__main__":
    main()
