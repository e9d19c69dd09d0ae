"""Plan-shape regression tests — the engine's scale guarantees.

Correctness says "the answer is right at sf0.01"; these say "the plan
would still be the right plan at 1000× the data". Each invariant here is
one the 100 TB design depends on:

- knn: rank-limit pushdown (WindowGroupLimit) bounds shuffle volume at
  O(queries × k) per map task; the query side broadcasts so the corpus
  never shuffles.
- scans: predicates reach the parquet reader (PushedFilters) and only
  referenced columns are read (ReadSchema pruning).
- temporal range join: time-bucketed equi-join, never a cartesian /
  broadcast-nested-loop pair blowup.
- dedup joins: candidates meet through equi-join keys (shingle, band,
  bucket) — same no-cross-product invariant.
"""

import pytest
from pyspark.sql import functions as F

from faisssearcher_spark.operators import dedup, temporal
from faisssearcher_spark.operators.knn import knn_join
from faisssearcher_spark.plans import inspect
from faisssearcher_spark.sources.catalog import load_table


@pytest.fixture(scope="module")
def knn_plan_df(spark, embeddings):
    q = embeddings.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), "embedding")
    return knn_join(q, embeddings, metric="cos", k=3, query_item_col="qid",
                    item_key_col="vec_id", payload_cols=[])


class TestKnnPlan:
    def test_rank_limit_pushdown(self, knn_plan_df):
        assert inspect.has_window_group_limit(knn_plan_df)

    def test_queries_broadcast(self, knn_plan_df):
        assert inspect.has_broadcast_join(knn_plan_df)

    def test_no_python_on_scoring_path(self, knn_plan_df):
        plan = inspect.executed_plan(knn_plan_df)
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


class TestScanPruning:
    def test_q6_filters_reach_parquet(self, spark, sf_dir):
        li = load_table(spark, sf_dir, "lineitem")
        df = (li.filter((F.col("l_shipdate") >= "1996-01-01")
                        & (F.col("l_quantity") < 24))
              .select("l_extendedprice"))
        pushed = " ".join(inspect.pushed_filters(df))
        assert "l_shipdate" in pushed and "l_quantity" in pushed

    def test_column_pruning(self, spark, sf_dir):
        li = load_table(spark, sf_dir, "lineitem")
        plan = inspect.executed_plan(li.select("l_orderkey", "l_quantity"))
        m = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
        assert m and "l_extendedprice" not in m[0], \
            "projection should prune unread columns from the parquet scan"

    def test_filtered_knn_predicate_reaches_parquet(self, spark, sf_dir,
                                                    tmp_path):
        """The 'filtered' vector-search leg: the metadata predicate must
        prune at the ITEM SCAN, not after scoring — at 100 TB that is
        the difference between scanning the slice and the corpus.
        (Scans a PRIVATE parquet copy: the session fixture's .cache()
        registers the shared load_table plan with the CacheManager,
        which substitutes an InMemoryRelation into ANY matching fresh
        read — plan-identical scans lose their PushedFilters.)"""
        path = str(tmp_path / "emb_scan")
        load_table(spark, sf_dir, "embeddings").write.parquet(path)
        embeddings = spark.read.parquet(path)
        q = embeddings.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("qid"), "embedding")
        items = embeddings.filter(F.col("label") <= 3)
        res = knn_join(q, items, metric="cos", k=3, query_item_col="qid",
                       item_key_col="vec_id", payload_cols=["label"])
        pushed = " ".join(inspect.pushed_filters(res))
        assert "label" in pushed

    def test_dynamic_partition_pruning_fires(self, spark, sf_dir,
                                             tmp_path):
        """Partition-layout corpora (the 100 TB landing pattern) must
        get DYNAMIC pruning: a selective dim filter prunes the fact
        table's partition directories at runtime, so a fact⋈dim on the
        partition column scans only matching partitions — without it, a
        100 TB fact scan reads everything to join a 3-row dim."""
        path = str(tmp_path / "li_part")
        load_table(spark, sf_dir, "lineitem") \
            .write.partitionBy("l_returnflag").parquet(path)
        fact = spark.read.parquet(path)
        dim = spark.createDataFrame(
            [("A", 1), ("N", 2), ("R", 2)], "flag string, pri int") \
            .filter(F.col("pri") == 1)
        j = fact.join(dim, fact["l_returnflag"] == dim["flag"]) \
            .select("l_orderkey", "pri")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "dynamicpruning" in plan


class TestJoinShapes:
    def test_range_join_is_equi(self, spark, sf_dir):
        ev = load_table(spark, sf_dir, "events")
        a = ev.filter(F.col("event_type") == "error")
        b = ev.filter(F.col("event_type") == "click")
        plan = inspect.executed_plan(
            temporal.range_join(a, b, on="user_id", upper_seconds=300.0))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_minhash_candidates_meet_via_equi_join(self, documents):
        plan = inspect.executed_plan(
            dedup.minhash_lsh_join(documents, num_hashes=16, bands=4,
                                   shingle_n=3))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_jaccard_join_is_equi(self, documents):
        plan = inspect.executed_plan(
            dedup.ngram_jaccard_join(documents, n=3, threshold=0.3))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_jaccard_posting_list_never_broadcasts(self, documents):
        """r3 finding: the posting list's STATIC size estimate (taken from
        the tiny pre-explode scan) tricked the planner into a driver-built
        broadcast of the whole exploded side — 40% of query time, and a
        driver OOM at corpus scale. The shuffle_hash hint pins the
        scale-correct shuffled hash join."""
        plan = inspect.executed_plan(
            dedup.ngram_jaccard_join(documents, n=3, threshold=0.3))
        assert "ShuffledHashJoin" in plan
        assert "BroadcastHashJoin" not in plan

    def test_jaccard_no_inferred_shingle_refilter(self, documents):
        """r3 finding: a non-outer explode gets size/isnotnull filters
        inferred beneath it, and pushdown inlines the whole shingle
        expression into them (~3× tokenize CPU). The explode_outer +
        attribute-filter shape must keep the n-gram machinery out of any
        Filter node."""
        plan = inspect.executed_plan(
            dedup.ngram_jaccard_join(documents, n=3, threshold=0.3))
        filters = [ln for ln in plan.splitlines() if "+- Filter" in ln]
        assert filters, "expected at least the attribute null filter"
        assert not any("zip_with" in ln for ln in filters), \
            "shingle expression leaked into a Filter node"


class TestGridAndSamplingPlans:
    def test_grid_uses_cogrouped_cells(self, embeddings):
        q = embeddings.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("qid"), "embedding")
        res = knn_join(q, embeddings, metric="cos", k=3,
                       query_item_col="qid", item_key_col="vec_id",
                       payload_cols=[], strategy="grid",
                       n_query_blocks=2, n_item_shards=3)
        plan = inspect.executed_plan(res)
        assert "FlatMapCoGroupsInPandas" in plan  # per-cell GEMM kernel
        assert "WindowGroupLimit" in plan         # merge top-k pushdown

    @pytest.mark.parametrize("strategy,extra", [
        ("sharded", {}),
        ("grid", {"n_query_blocks": 2, "n_item_shards": 3}),
        ("blocked", {}),
    ])
    def test_payload_never_broadcasts_items(self, embeddings, strategy,
                                            extra):
        """Payload rides the kernel (each candidate carries its own
        corpus row's columns), so no plan joins it back: no
        BroadcastHashJoin, and nothing item-sized is broadcast — an
        OOM at exactly the "corpus larger than one machine" scale
        sharded and grid exist for. The only broadcast left is grid's
        replication range."""
        q = embeddings.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("qid"), "embedding")
        res = knn_join(q, embeddings, metric="cos", k=3,
                       query_item_col="qid", item_key_col="vec_id",
                       payload_cols=["label"], strategy=strategy, **extra)
        assert "BroadcastHashJoin" not in inspect.executed_plan(res)
        for sub in inspect.broadcast_exchange_subtrees(res):
            assert "Range" in sub and "Scan" not in sub, \
                f"items-side broadcast leaked into the plan:\n{sub}"

    def test_hash_sample_is_scan_and_filter(self, documents):
        from faisssearcher_spark.operators import sampling
        plan = inspect.executed_plan(
            sampling.hash_sample(documents, 0.3, key_col="doc_id"))
        assert "Exchange" not in plan  # no shuffle, no state


class TestSegmentDedupPlan:
    def test_segment_agg_has_partial_combine(self, documents):
        """dedup_segments' keep-first is groupBy(segment).agg(min(struct))
        BECAUSE the aggregate form partial-combines hot segments map-side
        before the shuffle; a window (row_number over partition by
        segment) has no partial step and funnels every occurrence of a
        boilerplate line to one reducer. Pin: two HashAggregate nodes
        (partial + final) keyed on the segment, and no Window."""
        from faisssearcher_spark.operators.dedup import dedup_lines

        plan = inspect.executed_plan(
            dedup_lines(documents.withColumn(
                "text", F.regexp_replace("text", " ", "\n"))))
        assert plan.count("HashAggregate") >= 2
        assert "partial_min" in plan
        assert "Window" not in plan
        assert "CartesianProduct" not in plan


class TestCapPerGroupPlan:
    def test_rank_limit_pushdown(self, documents):
        """cap_per_group's rank<=cap filter must compile to
        WindowGroupLimit (map-side per-group limit before the shuffle) —
        the bounded-shuffle property that makes an exact per-domain
        quota survive a billion-row hot domain."""
        from faisssearcher_spark.operators import sampling

        plan = inspect.executed_plan(
            sampling.cap_per_group(documents, group_col="source", cap=5,
                                   key_col="doc_id"))
        assert "WindowGroupLimit" in plan


class TestSpanRemovalPlan:
    def test_joins_are_shuffled_hash_never_python(self, documents):
        """remove_duplicate_spans' two joins (window-text recovery,
        (id,pos) anti) must be ShuffledHashJoin — both inputs descend
        from the tiny pre-explode scan, so the static estimate would
        otherwise broadcast a side that is billions of windows at scale
        — and the whole plan must stay JVM-side with no pair blowup."""
        from faisssearcher_spark.operators.dedup import remove_duplicate_spans

        plan = inspect.executed_plan(remove_duplicate_spans(documents, n=5))
        assert "ShuffledHashJoin" in plan
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert "ArrowEvalPython" not in plan
        # ALL three joins (recovery, anti, rebuild) descend from the tiny
        # pre-explode estimate — none may statically broadcast
        assert "BroadcastHashJoin" not in plan


class TestExactSubstrPlan:
    def test_merge_and_rebuild_stay_jvm_side(self, documents):
        """remove_exact_substrings shares the span-removal join
        discipline (window-text recovery + anti + rebuild joins all
        shuffle_hash — every input descends from the tiny pre-explode
        estimate) and adds the gaps-and-islands interval merge: ONE
        per-document window sort over duplicated starts only (a
        running-sum Window, no rank limit to push), still pure
        Catalyst with no pair blowup."""
        from faisssearcher_spark.operators.dedup import \
            remove_exact_substrings

        plan = inspect.executed_plan(
            remove_exact_substrings(documents, min_len=5))
        assert "ShuffledHashJoin" in plan
        assert "Window" in plan
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert "ArrowEvalPython" not in plan
        assert "BroadcastHashJoin" not in plan


class TestBoilerplatePlan:
    def test_strip_is_shuffled_hash_never_python(self, documents):
        """remove_boilerplate shares remove_duplicate_spans' join
        discipline: window-text recovery and (id,pos) anti joins pinned
        shuffle_hash (explode-descended static estimates would
        broadcast), no pair blowup, JVM-only. The one legitimate
        broadcast is the #groups-row per-group doc-totals dim (AQE's
        call — not asserted either way)."""
        from faisssearcher_spark.operators.dedup import remove_boilerplate

        plan = inspect.executed_plan(
            remove_boilerplate(documents, n=5, min_docs=2))
        assert "ShuffledHashJoin" in plan
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert "ArrowEvalPython" not in plan


class TestVideoNearDupPlan:
    def test_candidates_meet_via_aligned_band_equi_join(self, spark):
        """video_near_dup_pairs' candidates meet ONLY through the
        (frame_idx, band_idx, band_val) equi-join, the match count is
        a partial-combining aggregate, and the only Python is the
        Arrow-batched frame decode."""
        import numpy as np

        from faisssearcher_spark.operators.multimodal import (
            build_y4m, video_near_dup_pairs)

        fr = np.zeros((2, 8, 9), dtype=np.uint8)
        df = spark.createDataFrame([(0, bytearray(build_y4m(fr)))],
                                   "asset_id long, payload binary")
        plan = inspect.executed_plan(video_near_dup_pairs(df))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert "MapInPandas" in plan          # the decode, nothing else
        assert "partial_count" in plan        # map-side match counting


class TestSketchPlans:
    def test_heavy_hitters_bounded_shuffle(self, documents):
        """Candidates come from a MapInPandas local top-m scan and
        broadcast back; exact counting partial-aggregates map-side —
        the full key space never shuffles."""
        from faisssearcher_spark.operators.sketches import heavy_hitters

        toks = documents.select(
            F.explode(F.split(F.trim("text"), r"\s+")).alias("tok"))
        plan = inspect.executed_plan(heavy_hitters(toks, "tok", k=10))
        assert "MapInPandas" in plan
        assert "BroadcastHashJoin" in plan
        assert "partial_count" in plan
        assert "CartesianProduct" not in plan

    def test_hll_rollup_partial_aggregates(self, spark):
        """Both the sketch build and the union rollup must partial-
        combine map-side — only sketch buffers cross each exchange."""
        from faisssearcher_spark.operators.sketches import (hll_rollup,
                                                            hll_sketches)
        from faisssearcher_spark.sources.catalog import load_table

        ev = load_table(spark, "/root/testdata/sf0.001", "events")
        daily = hll_sketches(ev.withColumn("day", F.to_date("ts")),
                             ["event_type", "day"], "user_id")
        plan = inspect.executed_plan(hll_rollup(daily, ["event_type"]))
        assert "partial_hll_sketch_agg" in plan
        assert "partial_hll_union_agg" in plan

    def test_cms_table_is_one_aggregation(self, documents):
        """The CMS grid is explode -> ONE hash aggregate with map-side
        combine; nothing joins, nothing collects."""
        from faisssearcher_spark.operators.sketches import cms_table

        toks = documents.select(
            F.explode(F.split(F.trim("text"), r"\s+")).alias("tok"))
        plan = inspect.executed_plan(cms_table(toks, "tok"))
        assert "partial_count" in plan
        assert "Join" not in plan
        assert "ArrowEvalPython" not in plan


class TestSessionFourPlans:
    def test_suppress_below_k_joins_colocated(self, spark):
        """Group sizes and the semi join hash by the same quasi columns;
        no broadcast of anything row-count-sized, no pair blowup."""
        from faisssearcher_spark.operators.privacy import suppress_below_k

        ev = load_table(spark, "/root/testdata/sf0.001", "events")
        plan = inspect.executed_plan(
            suppress_below_k(ev, ["event_type", "user_id"], k=3))
        assert "LeftSemi" in plan
        assert "CartesianProduct" not in plan

    def test_resample_shuffles_on_key_only(self, spark):
        """Grid build, bucket agg, and the fill window all partition by
        the key — no cartesian, no Python, partial-combined agg."""
        from faisssearcher_spark.operators.events import \
            resample_fill_forward

        ev = load_table(spark, "/root/testdata/sf0.001", "events")
        plan = inspect.executed_plan(
            resample_fill_forward(ev, step_s=86400))
        assert "CartesianProduct" not in plan
        assert "ArrowEvalPython" not in plan
        assert "partial_" in plan     # bucket agg combines map-side

    def test_decayed_sum_single_window_shuffle(self, spark):
        """One hashpartitioning exchange on the key serves the min-ts,
        span, and prefix-sum windows."""
        from faisssearcher_spark.operators.temporal import decayed_sum

        ev = load_table(spark, "/root/testdata/sf0.001", "events")
        plan = inspect.executed_plan(
            decayed_sum(ev, key_col="user_id", ts_col="ts",
                        value_col="value", half_life_s=86400.0,
                        order_col="event_id"))
        assert plan.count("Exchange hashpartitioning(user_id") <= 2
        assert "CartesianProduct" not in plan
        assert "ArrowEvalPython" not in plan


class TestRetrievalEvalPlan:
    def test_metric_plan_candidate_sized_no_python(self, spark, embeddings):
        """retrieval_metrics: both knn legs keep their WindowGroupLimit
        pushdown, the hits meeting is a (query, item) equi-join (no
        cross product), and the metric arithmetic is pure Catalyst —
        the nDCG discounts are literal arrays, no runtime log2, no
        Python eval anywhere."""
        from faisssearcher_spark.operators import ann, evaluation

        q = embeddings.filter(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("qid"), "embedding")
        lsh = ann.SignLSH(dim=64, num_bits=8, use_leading_dims=True)
        res = lsh.topk(q, embeddings, k=5, query_item_col="qid",
                       item_key_col="vec_id")
        truth = knn_join(q, embeddings, metric="cos", k=3,
                         query_item_col="qid", item_key_col="vec_id",
                         payload_cols=[])
        plan = inspect.executed_plan(
            evaluation.retrieval_metrics(res, truth, k=5))
        assert "WindowGroupLimit" in plan
        assert "CartesianProduct" not in plan
        assert "ArrowEvalPython" not in plan
        assert "BatchEvalPython" not in plan
