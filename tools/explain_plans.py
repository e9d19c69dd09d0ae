"""Dump audited physical plans for the flagship queries into PLANS.md,
or the formatted plans of chosen queries into a directory.

Without arguments each AUDITS section gets the formatted plan plus the
scale-critical properties asserted in tests/test_plans.py, so plan quality
is reviewable without re-running Spark:

    python tools/explain_plans.py

``--queries`` writes ``.explain('formatted')`` of each named registry
query to ``<out-dir>/<query>_<tag>.txt`` instead. ``--code-root`` selects
the engine checkout the plans come from, so a before/after pair for a
change is two runs:

    python tools/explain_plans.py --queries searcher_text_knn,sample_dsir \
        --out-dir plans/after --tag after
    python tools/explain_plans.py --code-root /tmp/base \
        --queries searcher_text_knn,sample_dsir --out-dir plans/before \
        --tag before
"""

from __future__ import annotations

import argparse
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = "/root/testdata/sf0.01"

#: audited legs that are not registry queries: name -> registry builder
LEGS = {"searcher_hash8": "_q_searcher_text_hash_leg"}

AUDITS = {
    "knn_cosine_top5": [
        ("WindowGroupLimit", True,
         "rank<=k pushed below the exchange: map tasks emit at most m*k rows"),
        ("BroadcastNestedLoopJoin", True,
         "query side broadcasts; the corpus streams, never shuffles"),
        ("ArrowEvalPython", False, "no Python on the scoring path"),
    ],
    "tpch_q6_revenue": [
        ("PushedFilters: [IsNotNull", True,
         "every predicate reaches the parquet reader"),
    ],
    "events_asof_join": [
        ("CartesianProduct", False,
         "single union + window scan, no inequality-join blowup"),
    ],
    "events_range_join": [
        ("CartesianProduct", False, "time-bucketed equi-join"),
        ("BroadcastNestedLoopJoin", False, "no nested-loop pair blowup"),
    ],
    "dedup_minhash_lsh": [
        ("CartesianProduct", False,
         "candidates meet only through the (band_idx, band_key) equi-join"),
    ],
    "dedup_ngram_jaccard": [
        ("ShuffledHashJoin", True,
         "posting-list self-join shuffles by shingle — never a driver-built "
         "broadcast of the exploded side (static-estimate trap, r3)"),
        ("CartesianProduct", False, "docs sharing no shingle never meet"),
    ],
    "dedup_span_removal": [
        ("ShuffledHashJoin", True,
         "window-text recovery join and (id,pos) anti-join both pinned "
         "shuffle_hash with the small deduplicated side as build — both "
         "inputs descend from the tiny pre-explode scan, so the static "
         "estimate would otherwise broadcast a billion-window side"),
        ("CartesianProduct", False,
         "windows meet only through the window-text equi-join"),
        ("ArrowEvalPython", False,
         "pure Catalyst: windowing, marking, and rebuild never leave the JVM"),
    ],
    "dedup_exsub_removal": [
        ("ShuffledHashJoin", True,
         "window-text recovery, anti and rebuild joins pinned "
         "shuffle_hash — every input descends from the tiny pre-explode "
         "scan, so static estimates would broadcast billion-window sides"),
        ("Window", True,
         "the gaps-and-islands interval merge: ONE per-document "
         "running-sum window over duplicated starts only"),
        ("CartesianProduct", False,
         "windows meet only through the window-text equi-join"),
        ("ArrowEvalPython", False,
         "arbitrary-length ExactSubstr coverage is pure Catalyst"),
    ],
    "ann_pq_topk": [
        ("MapInPandas", True,
         "ADC scoring is one numpy LUT-gather per Arrow batch over the "
         "distributed m-byte code table — item vectors never read at "
         "query time"),
        ("WindowGroupLimit", True,
         "per-shard local top-k merges through the bounded rank window"),
        ("BroadcastHashJoin", False,
         "no join against the item table: the payload rides the scan"),
        ("CartesianProduct", False, "no pair blowup"),
    ],
    "ann_ivfpq_topk": [
        ("MapInPandas", True,
         "one probed-cell scan of the code table: each cell's codes score "
         "q·c + the LUT gather against the queries that probe it"),
        ("WindowGroupLimit", True,
         "per-batch per-cell candidates merge through the bounded rank "
         "window"),
        ("BroadcastHashJoin", False,
         "no join against the item table: the query state is a broadcast "
         "variable and the payload rides the scan"),
        ("CartesianProduct", False, "no pair blowup"),
    ],
    "ann_sq_topk": [
        ("MapInPandas", True,
         "decode (one fused multiply-add) + GEMM per Arrow batch over "
         "d-byte codes — 4× smaller scans than float32 vectors"),
        ("WindowGroupLimit", True,
         "per-shard local top-k merges through the bounded rank window"),
        ("BroadcastHashJoin", False,
         "no join against the item table: the payload rides the scan"),
        ("CartesianProduct", False, "no pair blowup"),
    ],
    "ann_mrl_topk": [
        ("WindowGroupLimit", True,
         "prefix shortlist rank<=k·factor bounded below the exchange"),
        ("BroadcastNestedLoopJoin", True,
         "query prefixes broadcast; the corpus prefix column streams"),
        ("ArrowEvalPython", False,
         "both stages pure Catalyst: prefix dot, rank, exact rescore"),
    ],
    "mine_bitext": [
        ("WindowGroupLimit", True,
         "both knn passes bound their per-query candidates below the "
         "exchange; the n×m margin space never materializes"),
        ("CartesianProduct", False, "no pair blowup"),
        ("BroadcastHashJoin", True,
         "neighborhood averages broadcast into the margin join — "
         "size-dispatched on the input corpus estimate (above the cap "
         "the hint is omitted and the join shuffles; r7 verdict #1)"),
    ],
    "text_maxsim_rerank": [
        ("Generate explode", True,
         "token-vector arrays bind once per row behind the one-element "
         "explode barrier; the whole |Q|·|D| interaction is row-local "
         "(r8 redesign — no vocab frame, no joins, no groupBys)"),
        ("ArrowEvalPython", False,
         "token encode, interaction dot, max and sum all stay in the "
         "JVM plan"),
        ("CartesianProduct", False, "no pair blowup"),
    ],
    "knn_grid_cos_top5": [
        ("FlatMapCoGroupsInPandas", True,
         "one GEMM per (query-block × item-shard) cell — both sides stay "
         "distributed"),
        ("WindowGroupLimit", True,
         "two-level merge: per-cell top-k then rank<=k below the exchange"),
        ("BroadcastHashJoin", False,
         "payload rides the scan: the cogroup's item side carries it, so "
         "no join attaches it back by key"),
    ],
    "knn_blocked_cos_top5": [
        ("MapInPandas", True,
         "per-query-batch GEMM against the broadcast corpus matrix"),
        ("BroadcastHashJoin", False,
         "payload rides the scan: broadcast with the matrix, emitted per "
         "corpus row, no join"),
    ],
    "sample_documents_hash": [
        # (the bernoulli half alone is shuffle-free — pinned in
        # tests/test_plans.py on the operator; the gate is now a
        # bernoulli+cap tag union, so the union plan carries the quota
        # window's group shuffle)
        ("WindowGroupLimit", True,
         "per-group quota rank<=cap limited map-side before the shuffle"),
        ("CartesianProduct", False, "no pair blowup anywhere"),
    ],
    "text_fingerprints": [
        ("partial_min", True,
         "segment keep-first is a partial-combining aggregate — hot "
         "segments collapse map-side, never funnel to one reducer"),
        ("CartesianProduct", False, "no pair blowup"),
        ("ShuffledHashJoin", True,
         "span-removal AND boilerplate recovery joins pinned "
         "shuffle_hash — explode-descended static estimates would "
         "otherwise broadcast billion-window sides"),
    ],
    "dedup_simhash_pairs": [
        ("CartesianProduct", False,
         "text/image/audio/video candidates all meet through banded "
         "equi-joins (video bands fold frame_idx into the key, so only "
         "ALIGNED frames ever pair)"),
        ("MapInPandas", True,
         "the only Python is the Arrow-batched image/audio/video "
         "payload decode — fingerprint arithmetic and the pair joins "
         "stay JVM-side"),
    ],
    "dedup_exact_keyed": [
        ("ArrowEvalPython", True,
         "bloom membership is one vectorized bitmap gather per Arrow "
         "batch — the k position hashes stay in the JVM plan"),
        ("CartesianProduct", False, "no pair blowup"),
    ],
    "knn_sharded_cos_top5": [
        ("MapInPandas", True,
         "per-item-shard GEMM kernel — the corpus scores in place"),
        ("WindowGroupLimit", True,
         "candidate merge keeps rank<=k below the exchange"),
        ("BroadcastHashJoin", False,
         "payload rides the scan: each shard emits its rows' payload, so "
         "no join attaches it back by key"),
    ],
    "events_asof_forward": [
        ("CartesianProduct", False,
         "forward direction is the same union-scan, reversed order"),
    ],
    "dedup_embedding_lsh": [
        ("CartesianProduct", False,
         "candidates meet only through the (table, bucket) equi-join"),
        ("BroadcastNestedLoopJoin", False, "no pair-space blowup"),
    ],
    "text_bm25_topk": [
        ("WindowGroupLimit", True,
         "top-k keeps rank<=k below the exchange, the knn discipline"),
        ("CartesianProduct", False,
         "query terms meet postings only through the token equi-join"),
        ("BatchEvalPython", False,
         "pure Catalyst: postings join + per-(query,doc) sum — no Python"),
    ],
    "ann_opq_topk": [
        ("MapInPandas", True,
         "rotated ADC is the same numpy LUT-gather per Arrow batch — the "
         "OPQ rotation lives in the encode udf and the driver LUT, the "
         "distributed plan is byte-identical to plain PQ"),
        ("WindowGroupLimit", True,
         "per-shard local top-k merges through the bounded rank window"),
        ("BroadcastHashJoin", False,
         "no join against the item table: the payload rides the scan"),
        ("CartesianProduct", False, "no pair blowup"),
    ],
    "layout_zorder": [
        ("rangepartitioning", True,
         "ONE sampled range shuffle places rows on the Z-curve; the key "
         "projection is a codegen'd CASE tree + integer bit ops"),
        ("BatchEvalPython", False, "no Python anywhere in the layout job"),
        ("CartesianProduct", False, "no pair blowup"),
    ],
    "text_heavy_hitters": [
        ("MapInPandas", True,
         "per-Arrow-batch local top-m candidate scan — output bounded by "
         "m rows per batch; the full key space never shuffles"),
        ("BroadcastHashJoin", True,
         "the tiny distinct candidate set broadcasts back as the "
         "semi-join filter; exact counts partial-aggregate map-side"),
        ("partial_count", True,
         "candidate counting combines map-side before the one exchange"),
        ("CartesianProduct", False, "no pair blowup"),
    ],
    "events_hll_rollup": [
        ("partial_hll_sketch_agg", True,
         "per-(type, day) sketches partial-aggregate map-side — one "
         "sketch buffer per group leaves each partition, not user ids"),
        ("partial_hll_union_agg", True,
         "the rollup unions sketches, again partial-combining before "
         "its exchange — the store-fine/roll-up-coarse contract"),
        ("CartesianProduct", False, "no pair blowup"),
    ],
    "text_wordpiece_encode": [
        ("ArrowEvalPython", True,
         "greedy longest-match encode is one vectorized pandas_udf "
         "pass with a per-batch word cache — the vocab rides the task "
         "closure, no join"),
        ("CartesianProduct", False, "no pair blowup"),
    ],
    "text_quality_scores": [
        ("Generate explode", True,
         "bigram-LM (prev, cur) pairs build from a token array staged "
         "behind the one-element explode barrier — element_at in the "
         "pair lambda reads an attribute, never a re-split"),
        ("BatchEvalPython", False,
         "quality signals + both LM joins are pure Catalyst"),
        ("CartesianProduct", False,
         "doc pairs meet the LM tables only through equi-joins"),
    ],
    "text_quality_classifier": [
        ("CartesianProduct", False,
         "scores meet the vocabulary only through the token equi-join"),
        ("BatchEvalPython", False,
         "the SCORING pass is relational — MLlib runs at fit time only, "
         "never in the per-document plan"),
    ],
    "retrieval_eval": [
        ("WindowGroupLimit", True,
         "both knn legs (LSH results, brute-force truth) cut to top-k "
         "below their exchanges — map tasks emit at most m*k rows"),
        ("BatchEvalPython", False,
         "metric arithmetic is pure Catalyst: nDCG discounts come from "
         "literal arrays, no runtime log2 on either engine"),
        ("CartesianProduct", False,
         "results meet truth only through the (query, item) equi-join; "
         "every post-knn frame is candidate-sized"),
    ],
    "searcher_hash8": [
        ("LocalTableScan", True,
         "the held corpus matrix ranks the list target on the driver: "
         "the result is a local frame, read with no job"),
        ("MapInPandas", False,
         "no Python worker: neither the query encode nor the ranking "
         "runs in Spark"),
    ],
}


def dump_queries(spark, registry, names, sf_dir, out_dir, tag) -> None:
    """One formatted-plan file per query; a query that fails to build
    gets its error in the file and the loop goes on."""
    os.makedirs(out_dir, exist_ok=True)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode \
        .fromString("formatted")
    for name in names:
        try:
            df = registry.ALL_QUERY_FNS[name](spark, sf_dir)
            plan = df._jdf.queryExecution().explainString(mode)
        except Exception as exc:  # noqa: BLE001
            plan = f"<failed to build: {exc!r}>"
        hdr = (f"== {name} ({tag}) — explain('formatted') at {sf_dir}, "
               f"engine code: {os.path.dirname(registry.__file__)} ==\n")
        with open(os.path.join(out_dir, f"{name}_{tag}.txt"), "w") as fh:
            fh.write(hdr + "\n" + plan + "\n")
        print("wrote", name, tag, flush=True)


def audit(spark, registry) -> None:
    out = ["# Physical plans — flagship queries (sf0.01, regenerated)",
           "",
           "Generated by `tools/explain_plans.py`; the same properties are",
           "pinned as regression tests in `tests/test_plans.py`.", ""]
    for name, checks in AUDITS.items():
        build = (getattr(registry, LEGS[name]) if name in LEGS
                 else registry.ALL_QUERY_FNS[name])
        plan = build(spark, SF_DIR)._jdf.queryExecution().executedPlan() \
            .toString()
        out.append(f"## {name}")
        out.append("")
        for marker, expected, why in checks:
            present = marker in plan
            status = "OK" if present == expected else "VIOLATED"
            want = "present" if expected else "absent"
            out.append(f"- [{status}] `{marker}` {want} — {why}")
        out.append("")
        out.append("```")
        out.append(plan.strip()[:4000])
        out.append("```")
        out.append("")
    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("wrote PLANS.md")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--queries", help="comma-separated registry query "
                    "names to dump instead of the PLANS.md audit")
    ap.add_argument("--out-dir", default=os.path.join(REPO, "plans"))
    ap.add_argument("--tag", default="after",
                    help="file-name suffix, e.g. before / after")
    ap.add_argument("--sf", default=SF_DIR, help="scale-factor data dir")
    ap.add_argument("--code-root", default=REPO,
                    help="checkout whose engine code builds the plans")
    args = ap.parse_args()
    sys.path.insert(0, args.code_root)

    from faisssearcher_spark import registry
    from faisssearcher_spark.session import get_spark

    spark = get_spark("plans")
    spark.sparkContext.setLogLevel("ERROR")
    if args.queries:
        dump_queries(spark, registry, args.queries.split(","), args.sf,
                     args.out_dir, args.tag)
    else:
        audit(spark, registry)


if __name__ == "__main__":
    main()
