"""Exact k-NN join: known-answer fixtures, numpy ground truth, tie-breaking,
multi-K consistency, payload carry, plan shape (SURVEY.md §5)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from faisssearcher_spark.operators.knn import cal_sim, knn_join, knn_join_multi_k


@pytest.fixture(scope="module")
def micro(spark):
    """4 orthonormal dim-4 vectors + 1 duplicate of v0 (FIXTURES.md §1)."""
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0, 0.0]),
        (2, [0.0, 0.0, 1.0, 0.0]),
        (3, [0.0, 0.0, 0.0, 1.0]),
        (4, [1.0, 0.0, 0.0, 0.0]),  # duplicate of 0
    ]
    return spark.createDataFrame(rows, "vid long, embedding array<double>")


class TestMicroFixtures:
    def test_duplicate_is_top1_with_sim_one(self, spark, micro):
        q = micro.filter(F.col("vid") == 4).select(
            F.col("vid").alias("qid"), "embedding")
        res = knn_join(q, micro, metric="cos", k=2, query_item_col="qid",
                       item_key_col="vid").collect()
        # tie between vid 0 and vid 4 (identical): id order breaks the tie
        assert [(r["sim_item"], r["rank_no"]) for r in res] == [(0, 0), (4, 1)]
        assert all(r["sim_val"] == pytest.approx(1.0) for r in res)

    def test_orthogonal_has_zero_sim(self, spark, micro):
        q = micro.filter(F.col("vid") == 1).select(
            F.col("vid").alias("qid"), "embedding")
        res = knn_join(q, micro, metric="cos", k=5, query_item_col="qid",
                       item_key_col="vid").collect()
        by_item = {r["sim_item"]: r["sim_val"] for r in res}
        assert by_item[1] == pytest.approx(1.0)
        for other in (0, 2, 3, 4):
            assert by_item[other] == pytest.approx(0.0)

    def test_l2_ascending_order(self, spark, micro):
        q = micro.filter(F.col("vid") == 0).select(
            F.col("vid").alias("qid"), "embedding")
        res = knn_join(q, micro, metric="l2", k=5, query_item_col="qid",
                       item_key_col="vid").collect()
        vals = [r["sim_val"] for r in sorted(res, key=lambda r: r["rank_no"])]
        assert vals == sorted(vals)          # distances ascend
        assert vals[0] == pytest.approx(0.0)  # self first


class TestRadiusJoin:
    """FAISS range_search parity: strict-inequality radius filtering,
    no top-k cap, unordered output, distance-vs-similarity direction."""

    def test_cos_membership_matches_numpy(self, spark, embeddings):
        from faisssearcher_spark.operators.knn import radius_join

        q = embeddings.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("qid"), "embedding")
        got = radius_join(q, embeddings, metric="cos", radius=0.3,
                          query_item_col="qid", item_key_col="vec_id",
                          payload_cols=[]).collect()
        got_pairs = {(r["source_item"], r["sim_item"]) for r in got}
        mat = np.array([r["embedding"] for r in embeddings.collect()])
        ids = [r["vec_id"] for r in embeddings.collect()]
        mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
        want = set()
        for qi in range(5):
            sims = mat @ mat[ids.index(qi)]
            want |= {(qi, ids[j]) for j in np.flatnonzero(sims > 0.3)}
        assert got_pairs == want
        assert len(got_pairs) > 5          # beyond the self-matches

    def test_strict_inequality_and_l2_direction(self, spark, micro):
        from faisssearcher_spark.operators.knn import radius_join

        q = micro.filter(F.col("vid") == 0).select(
            F.col("vid").alias("qid"), "embedding")
        # cos: orthogonal vectors score exactly 0.0 — radius 0.0 must
        # EXCLUDE them (strict >), keeping only vid 0 and its duplicate
        cos = radius_join(q, micro, metric="cos", radius=0.0,
                          query_item_col="qid", item_key_col="vid",
                          payload_cols=[]).collect()
        assert {r["sim_item"] for r in cos} == {0, 4}
        # l2: squared distance, strict < — orthonormal pairs sit at
        # exactly 2.0, so radius 2.0 excludes them too
        l2 = radius_join(q, micro, metric="l2", radius=2.0,
                         query_item_col="qid", item_key_col="vid",
                         payload_cols=[]).collect()
        assert {r["sim_item"] for r in l2} == {0, 4}
        l2w = radius_join(q, micro, metric="l2", radius=2.5,
                          query_item_col="qid", item_key_col="vid",
                          payload_cols=[]).collect()
        assert {r["sim_item"] for r in l2w} == {0, 1, 2, 3, 4}

    def test_multi_radius_equals_standalone(self, spark, embeddings,
                                            micro):
        """radius_join_multi derives every radius from ONE loosest-radius
        scan; each entry must equal its standalone radius_join pair set
        in both directions (similarity: loosest = min; distance:
        loosest = max)."""
        from faisssearcher_spark.operators.knn import (radius_join,
                                                       radius_join_multi)

        q = embeddings.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("qid"), "embedding")
        kw = dict(query_item_col="qid", item_key_col="vec_id",
                  payload_cols=[], score_scale=4)
        multi = radius_join_multi(q, embeddings, [0.5, 0.2, 0.35],
                                  metric="cos", **kw)
        assert sorted(multi) == [0.2, 0.35, 0.5]
        for r, df in multi.items():
            want = {(x["source_item"], x["sim_item"], x["sim_val"])
                    for x in radius_join(q, embeddings, metric="cos",
                                         radius=r, **kw).collect()}
            got = {(x["source_item"], x["sim_item"], x["sim_val"])
                   for x in df.collect()}
            assert got == want, f"cos radius {r}"
        qm = micro.filter(F.col("vid") == 0).select(
            F.col("vid").alias("qid"), "embedding")
        kwm = dict(query_item_col="qid", item_key_col="vid",
                   payload_cols=[])
        dmulti = radius_join_multi(qm, micro, [2.5, 2.0], metric="l2",
                                   **kwm)
        # strict < on squared l2: 2.0 excludes the orthonormal pairs
        assert {r["sim_item"] for r in dmulti[2.0].collect()} == {0, 4}
        assert {r["sim_item"] for r in dmulti[2.5].collect()} \
            == {0, 1, 2, 3, 4}

    def test_payload_carry_and_no_window_plan(self, spark, embeddings):
        from faisssearcher_spark.operators.knn import radius_join
        from faisssearcher_spark.plans import inspect

        q = embeddings.filter(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("qid"), "embedding")
        res = radius_join(q, embeddings, metric="cos", radius=0.3,
                          query_item_col="qid", item_key_col="vec_id",
                          payload_cols=["label"])
        assert res.columns == ["source_item", "sim_item", "sim_val",
                               "label"]
        plan = inspect.executed_plan(res)
        # the whole point: a filter reduction, not a ranking window
        assert "Window" not in plan
        assert "BroadcastNestedLoopJoin" in plan   # queries broadcast
        assert "ArrowEvalPython" not in plan


class TestAgainstNumpy:
    @pytest.mark.parametrize("metric", ["cos", "l2", "l1", "l_inf"])
    def test_topk_matches_numpy(self, spark, embeddings, metric):
        pdf = embeddings.toPandas()
        mat = np.array(pdf["embedding"].to_list(), dtype=np.float64)
        ids = pdf["vec_id"].to_numpy()
        order = np.argsort(ids)
        mat, ids = mat[order], ids[order]

        if metric == "cos":
            m = mat / np.linalg.norm(mat, axis=1, keepdims=True)
            scores = m[:5] @ m.T
            best = lambda row: np.lexsort((ids, -row))[:4]  # noqa: E731
        else:
            diffs = mat[:5, None, :] - mat[None, :, :]
            if metric == "l2":
                scores = (diffs ** 2).sum(-1)
            elif metric == "l1":
                scores = np.abs(diffs).sum(-1)
            else:
                scores = np.abs(diffs).max(-1)
            best = lambda row: np.lexsort((ids, row))[:4]  # noqa: E731

        q = embeddings.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("qid"), "embedding")
        res = knn_join(q, embeddings, metric=metric, k=4,
                       query_item_col="qid", item_key_col="vec_id",
                       payload_cols=[]).toPandas()
        for qi in range(5):
            got = res[res.source_item == qi].sort_values("rank_no")["sim_item"].tolist()
            want = [int(ids[j]) for j in best(scores[qi])]
            assert got == want, f"metric={metric} q={qi}"


class TestMultiK:
    def test_smaller_k_is_prefix_of_larger(self, spark, embeddings):
        q = embeddings.filter(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("qid"), "embedding")
        multi = knn_join_multi_k(q, embeddings, [2, 7], metric="cos",
                                 query_item_col="qid", item_key_col="vec_id",
                                 payload_cols=[])
        k2 = {(r["source_item"], r["sim_item"]) for r in multi[2].collect()}
        k7 = {(r["source_item"], r["sim_item"], r["rank_no"])
              for r in multi[7].collect()}
        assert len(k2) == 6 and len(k7) == 21
        prefix = {(s, i) for s, i, rk in k7 if rk < 2}
        assert prefix == k2

    def test_empty_ks_raises(self, spark, embeddings):
        with pytest.raises(ValueError):
            knn_join_multi_k(embeddings, embeddings, [])


class TestPayloadAndShape:
    def test_payload_carry_and_column_order(self, spark, embeddings):
        q = embeddings.limit(2).select(F.col("vec_id").alias("qid"), "embedding")
        res = knn_join(q, embeddings, metric="cos", k=2,
                       query_item_col="qid", item_key_col="vec_id")
        # reference result shape: [source_item, sim_item, sim_val, rank_no, *payload]
        assert res.columns == ["source_item", "sim_item", "sim_val",
                               "rank_no", "label"]

    def test_keep_rank_no_false(self, spark, embeddings):
        q = embeddings.limit(1).select(F.col("vec_id").alias("qid"), "embedding")
        res = knn_join(q, embeddings, metric="cos", k=2, keep_rank_no=False,
                       query_item_col="qid", item_key_col="vec_id")
        assert "rank_no" not in res.columns

    def test_plan_has_windowgrouplimit_and_broadcast(self, spark, embeddings):
        q = embeddings.limit(3).select(F.col("vec_id").alias("qid"), "embedding")
        res = knn_join(q, embeddings, metric="cos", k=2,
                       query_item_col="qid", item_key_col="vec_id")
        plan = res._jdf.queryExecution().executedPlan().toString()
        assert "WindowGroupLimit" in plan
        assert "BroadcastNestedLoopJoin" in plan


class TestCalSim:
    def test_raw_dot_not_normalized(self, spark):
        # the reference wrinkle: cal_sim scores are raw dot products
        cands = spark.createDataFrame(
            [("a", [2.0, 0.0]), ("b", [0.5, 0.0])],
            "item string, embedding array<double>")
        q = spark.createDataFrame([([1.0, 0.0],)], "embedding array<double>")
        res = cal_sim(q, cands).collect()
        assert [(r["item"], r["score"]) for r in res] == [("a", 2.0), ("b", 0.5)]


class TestBlockedStrategy:
    """knn_join(strategy='blocked') must be indistinguishable from the
    catalyst plan, ties included (rounded scores force tie-breaking)."""

    def test_equals_catalyst_cos_and_l2(self, spark, embeddings):
        from pyspark.sql import functions as F
        from faisssearcher_spark.operators.knn import knn_join

        q = embeddings.filter(F.col("vec_id") < 30).select(
            F.col("vec_id").alias("qid"), "embedding")
        for metric in ("cos", "l2", "ip"):
            a = knn_join(q, embeddings, metric=metric, k=4,
                         query_item_col="qid", item_key_col="vec_id",
                         payload_cols=["label"], score_scale=4)
            b = knn_join(q, embeddings, metric=metric, k=4,
                         query_item_col="qid", item_key_col="vec_id",
                         payload_cols=["label"], score_scale=4,
                         strategy="blocked")
            assert sorted(map(tuple, a.collect())) \
                == sorted(map(tuple, b.collect())), metric

    def test_unsupported_metric_raises(self, spark, embeddings):
        import pytest
        from pyspark.sql import functions as F
        from faisssearcher_spark.operators.knn import knn_join

        q = embeddings.limit(1).select(F.col("vec_id").alias("qid"),
                                       "embedding")
        with pytest.raises(ValueError):
            knn_join(q, embeddings, metric="canberra", query_item_col="qid",
                     item_key_col="vec_id", strategy="blocked")


class TestBlockedCorpus:
    """The blocked kernel split into its corpus handle (collected,
    key-sorted, broadcast once) and its ranking function."""

    def test_rank_over_handle_equals_catalyst(self, spark, embeddings):
        from faisssearcher_spark.operators.knn import (BlockedCorpus,
                                                       blocked_rank)

        q = embeddings.filter(F.col("vec_id") < 30).select(
            F.col("vec_id").alias("qid"), "embedding")
        for metric in ("cos", "l2", "ip"):
            corpus = BlockedCorpus.collect(
                embeddings, item_key_col="vec_id", item_vec_col="embedding",
                metric=metric, normalize=metric == "cos",
                payload_cols=["label"])
            want = knn_join(q, embeddings, metric=metric, k=4,
                            query_item_col="qid", item_key_col="vec_id",
                            payload_cols=["label"], score_scale=4)
            for k in (4, 9):   # one handle serves any k, any number of times
                got = blocked_rank(q, corpus, k=k,
                                   query_vec_col="embedding",
                                   query_item_col="qid", keep_rank_no=True,
                                   score_scale=4)
                assert got.columns == want.columns
                rows = sorted(map(tuple, got.filter("rank_no < 4").collect()))
                assert rows == sorted(map(tuple, want.collect())), metric
            corpus.destroy()

    def test_add_equals_collect_of_union(self, spark, embeddings):
        import numpy as np

        from faisssearcher_spark.operators.knn import BlockedCorpus

        # interleaved keys, so the merge must re-sort
        first = embeddings.filter(F.col("vec_id") % 3 == 0)
        rest = embeddings.filter(F.col("vec_id") % 3 != 0)
        kw = dict(item_key_col="vec_id", item_vec_col="embedding",
                  metric="l2", normalize=True, payload_cols=["label"])
        a = BlockedCorpus.collect(first, **kw)
        grown = a.add(rest, item_key_col="vec_id", item_vec_col="embedding")
        b = BlockedCorpus.collect(first.unionByName(rest), **kw)
        assert (grown.keys == b.keys).all()
        assert np.array_equal(grown.mat, b.mat)
        assert grown.payload.equals(b.payload)
        assert np.array_equal(grown.b_sq.value, b.b_sq.value)
        for c in (a, grown, b):
            c.destroy()
        assert not a.b_keys._jbroadcast.isValid()

    @pytest.mark.parametrize("rows", [
        [(0, [1.0, 0.0]), (1, None)],
        [(0, None)],
        [(0, [1.0, 0.0]), (1, [1.0])],
    ], ids=["null", "all_null", "ragged"])
    def test_collect_errors_equal_validate_vectors(self, spark, rows):
        from faisssearcher_spark.functions.vector import validate_vectors

        items = spark.createDataFrame(rows, "k long, v array<float>")
        q = spark.createDataFrame([(9, [1.0, 0.0])],
                                  "qid long, v array<float>")
        with pytest.raises(ValueError) as spark_side:
            validate_vectors(items, "v")
        with pytest.raises(ValueError) as driver_side:
            knn_join(q, items, k=1, query_vec_col="v", item_vec_col="v",
                     query_item_col="qid", item_key_col="k",
                     strategy="blocked")
        assert str(driver_side.value) == str(spark_side.value)


class TestShardedStrategy:
    """knn_join(strategy='sharded') — per-item-shard local top-k + merge —
    must be indistinguishable from the catalyst plan across shard layouts,
    ties included (rounded scores force tie-breaking at the k boundary)."""

    def test_equals_catalyst_across_shard_counts(self, spark, embeddings):
        from pyspark.sql import functions as F
        from faisssearcher_spark.operators.knn import knn_join

        q = embeddings.filter(F.col("vec_id") < 30).select(
            F.col("vec_id").alias("qid"), "embedding")
        expect = {}
        for metric in ("cos", "l2", "ip"):
            a = knn_join(q, embeddings, metric=metric, k=4,
                         query_item_col="qid", item_key_col="vec_id",
                         payload_cols=["label"], score_scale=4)
            expect[metric] = sorted(map(tuple, a.collect()))
        # 1 shard (degenerate) and 7 shards (merge crosses boundaries)
        for shards in (1, 7):
            for metric in ("cos", "l2", "ip"):
                b = knn_join(q, embeddings.repartition(shards), metric=metric,
                             k=4, query_item_col="qid", item_key_col="vec_id",
                             payload_cols=["label"], score_scale=4,
                             strategy="sharded")
                assert sorted(map(tuple, b.collect())) \
                    == expect[metric], (metric, shards)

    def test_k_larger_than_shard(self, spark, embeddings):
        # k bigger than any single shard's row count: local top-k emits
        # whole shards and the merge must still produce exactly k rows
        from pyspark.sql import functions as F
        from faisssearcher_spark.operators.knn import knn_join

        small = embeddings.filter(F.col("vec_id") < 40)
        q = small.limit(2).select(F.col("vec_id").alias("qid"), "embedding")
        res = knn_join(q, small.repartition(16), metric="cos", k=10,
                       query_item_col="qid", item_key_col="vec_id",
                       payload_cols=[], score_scale=4, strategy="sharded")
        counts = {r["source_item"]: r["n"] for r in
                  res.groupBy("source_item").agg(
                      F.count("*").alias("n")).collect()}
        assert all(n == 10 for n in counts.values())

    def test_empty_queries_yield_empty(self, spark, embeddings):
        # no queries → the catalyst plan's empty, typed result, not an
        # error from the collected (empty) query matrix
        from pyspark.sql import functions as F
        from faisssearcher_spark.operators.knn import knn_join

        q = embeddings.filter(F.lit(False)).select(
            F.col("vec_id").alias("qid"), "embedding")
        kwargs = dict(metric="cos", k=3, query_item_col="qid",
                      item_key_col="vec_id", payload_cols=["label"])
        res = knn_join(q, embeddings, strategy="sharded", **kwargs)
        assert res.count() == 0
        assert res.dtypes == knn_join(q, embeddings, **kwargs).dtypes


class TestGridStrategy:
    """knn_join(strategy='grid') — query-block × item-shard cogrouped GEMM
    cells + two-level merge — must be indistinguishable from the catalyst
    plan across grid shapes, ties included."""

    def test_equals_catalyst_across_grid_shapes(self, spark, embeddings):
        q = embeddings.filter(F.col("vec_id") < 30).select(
            F.col("vec_id").alias("qid"), "embedding")
        expect = {}
        for metric in ("cos", "l2", "ip"):
            a = knn_join(q, embeddings, metric=metric, k=4,
                         query_item_col="qid", item_key_col="vec_id",
                         payload_cols=["label"], score_scale=4)
            expect[metric] = sorted(map(tuple, a.collect()))
        # degenerate 1×1 and rectangular grids (merge crosses cells)
        for blocks, shards in ((1, 1), (2, 7), (5, 3)):
            for metric in ("cos", "l2", "ip"):
                b = knn_join(q, embeddings, metric=metric, k=4,
                             query_item_col="qid", item_key_col="vec_id",
                             payload_cols=["label"], score_scale=4,
                             strategy="grid", n_query_blocks=blocks,
                             n_item_shards=shards)
                assert sorted(map(tuple, b.collect())) \
                    == expect[metric], (metric, blocks, shards)

    def test_empty_query_blocks(self, spark, embeddings):
        # more blocks than queries → many (items, no-queries) cells; the
        # cogroup kernel must emit nothing for them and still be exact
        q = embeddings.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("qid"), "embedding")
        base = knn_join(q, embeddings, metric="cos", k=3,
                        query_item_col="qid", item_key_col="vec_id",
                        payload_cols=[], score_scale=4)
        grid = knn_join(q, embeddings, metric="cos", k=3,
                        query_item_col="qid", item_key_col="vec_id",
                        payload_cols=[], score_scale=4, strategy="grid",
                        n_query_blocks=64, n_item_shards=3)
        assert sorted(map(tuple, grid.collect())) \
            == sorted(map(tuple, base.collect()))

    def test_k_larger_than_cell(self, spark, embeddings):
        small = embeddings.filter(F.col("vec_id") < 40)
        q = small.limit(2).select(F.col("vec_id").alias("qid"), "embedding")
        res = knn_join(q, small, metric="cos", k=10, query_item_col="qid",
                       item_key_col="vec_id", payload_cols=[], score_scale=4,
                       strategy="grid", n_query_blocks=3, n_item_shards=8)
        counts = [r["n"] for r in res.groupBy("source_item")
                  .agg(F.count("*").alias("n")).collect()]
        assert counts == [10, 10]

    def test_bad_grid_shape_raises(self, spark, embeddings):
        q = embeddings.limit(1).select(F.col("vec_id").alias("qid"), "embedding")
        with pytest.raises(ValueError, match="must be >= 1"):
            knn_join(q, embeddings, metric="cos", query_item_col="qid",
                     item_key_col="vec_id", strategy="grid", n_query_blocks=0)


class TestStrategyDispatch:
    """Every advertised strategy name dispatches to a working kernel;
    unknown names raise ValueError (VERDICT r2: a documented kwarg must
    never NameError)."""

    @pytest.mark.parametrize("strategy",
                             ["catalyst", "blocked", "sharded", "grid"])
    def test_every_strategy_runs(self, spark, embeddings, strategy):
        q = embeddings.filter(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("qid"), "embedding")
        res = knn_join(q, embeddings, metric="cos", k=2,
                       query_item_col="qid", item_key_col="vec_id",
                       payload_cols=[], score_scale=4, strategy=strategy)
        assert res.count() == 6

    def test_unknown_strategy_raises(self, spark, embeddings):
        q = embeddings.limit(1).select(F.col("vec_id").alias("qid"), "embedding")
        with pytest.raises(ValueError, match="strategy"):
            knn_join(q, embeddings, query_item_col="qid",
                     item_key_col="vec_id", strategy="nope")


class TestAutoStrategy:
    """strategy='auto' picks the GEMM kernel for the sides' sizes, falls
    back to the catalyst plan where no kernel can serve the call, and its
    results equal every explicit strategy's on the same inputs."""

    KB = 1 << 10
    MB = 1 << 20
    GB = 1 << 30

    @pytest.mark.parametrize("q_bytes,i_bytes,want", [
        (KB, KB, "blocked"),       # one-machine corpus: BLAS, not the
                                   # interpreted plan
        (KB, 64 * MB, "sharded"),  # small query set: past ~8 MB the
                                   # per-search corpus collect loses
        (GB, 64 * MB, "blocked"),  # large query set, corpus within cap
        (KB, GB, "sharded"),       # corpus larger than one machine
        (GB, KB, "blocked"),       # huge query set, one-machine corpus
        (GB, GB, "grid"),          # both huge
        (None, None, "grid"),      # unknown == large (never guess small)
        (KB, None, "sharded"),
        (None, KB, "blocked"),
    ])
    def test_quadrant_matrix(self, q_bytes, i_bytes, want):
        from faisssearcher_spark.operators.knn import _auto_strategy
        assert _auto_strategy(q_bytes, i_bytes) == want

    def test_parquet_estimates_resolve(self, embeddings, spark, sf_dir):
        # a real parquet scan must produce a usable (non-None) estimate —
        # the auto path depends on it
        from faisssearcher_spark.operators.knn import _plan_size_bytes
        from faisssearcher_spark.sources.catalog import load_table
        raw = load_table(spark, sf_dir, "embeddings")
        size = _plan_size_bytes(raw)
        assert size is not None and size > 0

    def test_auto_equals_explicit(self, spark, embeddings):
        q = embeddings.filter(F.col("vec_id") < 4).select(
            F.col("vec_id").alias("qid"), "embedding")
        auto = knn_join(q, embeddings, metric="cos", k=3,
                        query_item_col="qid", item_key_col="vec_id",
                        payload_cols=["label"], score_scale=4,
                        strategy="auto")
        explicit = knn_join(q, embeddings, metric="cos", k=3,
                            query_item_col="qid", item_key_col="vec_id",
                            payload_cols=["label"], score_scale=4,
                            strategy="catalyst")
        key = lambda r: (r["source_item"], r["rank_no"])
        assert sorted(map(tuple, auto.collect()), key=lambda t: (t[0], t[3])) \
            == sorted(map(tuple, explicit.collect()), key=lambda t: (t[0], t[3]))

    @pytest.mark.parametrize("kwargs", [
        dict(metric="l1"),
        dict(metric="canberra"),
        dict(metric="l_p", p=3.0),
        dict(metric="cos", normalize=False),    # true cosine, not a dot
        dict(metric="cos", query_item_col=None),  # positional query ids
    ], ids=["l1", "canberra", "l_p", "cos-unnormalized", "positional"])
    def test_auto_falls_back_to_catalyst(self, spark, embeddings, kwargs,
                                         monkeypatch):
        # both sides estimated huge: every kernel quadrant is on the
        # table, yet none of them can serve these calls
        from faisssearcher_spark.operators import knn as knn_mod
        from faisssearcher_spark.plans import inspect

        monkeypatch.setattr(knn_mod, "_plan_size_bytes", lambda df: 1 << 40)
        q = embeddings.filter(F.col("vec_id") < 4).select(
            F.col("vec_id").alias("qid"), "embedding")
        args = dict(k=3, query_item_col="qid", item_key_col="vec_id",
                    payload_cols=["label"], score_scale=4)
        args.update(kwargs)
        auto = knn_mod.knn_join(q, embeddings, strategy="auto", **args)
        assert "InPandas" not in inspect.executed_plan(auto)  # no kernel
        if args["query_item_col"] is None:
            # monotonically_increasing_id values are not comparable
            # across two plans; the shape is the contract here
            assert auto.count() == 4 * 3
            return
        explicit = knn_mod.knn_join(q, embeddings, strategy="catalyst",
                                    **args)
        assert sorted(map(tuple, auto.collect())) \
            == sorted(map(tuple, explicit.collect()))

    def test_large_query_estimate_disables_broadcast(self, spark, embeddings,
                                                     monkeypatch):
        # force the estimator to claim the query side is huge: knn_join's
        # FORCED broadcast hint must switch off. (Catalyst may still pick
        # a broadcast join from its own — real, tiny — stats; the fixed
        # footgun was our hint overriding those stats at any size.)
        from faisssearcher_spark.operators import knn as knn_mod

        def analyzed(df):
            return df._jdf.queryExecution().analyzed().toString()

        q = embeddings.filter(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("qid"), "embedding")
        kwargs = dict(metric="cos", k=2, query_item_col="qid",
                      item_key_col="vec_id", payload_cols=[], score_scale=4)
        # positive control: with the real (small) estimate the hint is on
        assert "ResolvedHint" in analyzed(knn_mod.knn_join(q, embeddings,
                                                           **kwargs))
        monkeypatch.setattr(knn_mod, "_plan_size_bytes",
                            lambda df: 1 << 40)
        res = knn_mod.knn_join(q, embeddings, **kwargs)
        assert "ResolvedHint" not in analyzed(res)
        assert res.count() == 6  # still exact


class TestPayloadPerRow:
    """Payload attaches by corpus row on every top-k path, as the
    catalyst plan (and the reference's ``items.iloc[sim_ind]``) does:
    two corpus rows with one key keep their own payloads."""

    ROWS = [(0, [1.0, 0.0], "a"), (1, [0.0, 1.0], "b"),
            (1, [0.0, 1.0], "c"), (2, [1.0, 1.0], "d")]

    @staticmethod
    def _rows(df):
        return sorted((r["sim_item"], r["label"], round(r["sim_val"], 4))
                      for r in df.collect())

    @pytest.mark.parametrize("path", ["blocked", "sharded", "grid", "held",
                                      "nsw"])
    def test_duplicate_keys_match_catalyst(self, spark, path):
        from faisssearcher_spark import SparkSearcher
        from faisssearcher_spark.operators.graph import NSWIndex

        # vid 1 appears twice with identical vectors but different labels
        items = spark.createDataFrame(
            self.ROWS, "vid long, embedding array<double>, label string")
        q = spark.createDataFrame([(100, [0.0, 1.0])],
                                  "qid long, embedding array<double>")
        kw = dict(metric="cos", k=2, query_item_col="qid",
                  item_key_col="vid", payload_cols=["label"], score_scale=4)
        expected = self._rows(knn_join(q, items, strategy="catalyst", **kw))
        assert expected == [(1, "b", 1.0), (1, "c", 1.0)]
        if path == "held":
            s = SparkSearcher(items, vec_col="embedding", key_col="vid",
                              measurement="cos").train()
            assert s._held is not None
            res = s.search(q.withColumnRenamed("qid", "vid"), topK=2,
                           score_scale=4)
        elif path == "nsw":
            res = NSWIndex(m=2, ef_construction=4).fit(
                items, item_key_col="vid", item_vec_col="embedding").search(
                q, k=2, query_item_col="qid", payload_cols=["label"])
        else:
            res = knn_join(q, items.repartition(7) if path == "sharded"
                           else items, strategy=path, **kw)
        assert self._rows(res) == expected
        if path == "held":
            s.close()

    @pytest.mark.parametrize("path", ["held", "blocked", "sharded", "grid",
                                      "nsw"])
    def test_payload_adds_no_job(self, spark, embeddings, path):
        """Payload rides every kernel: a search with payload_cols, plus
        its collect, runs no more Spark jobs than the same search
        without."""
        from faisssearcher_spark import SparkSearcher
        from faisssearcher_spark.operators.graph import NSWIndex

        sc = spark.sparkContext
        q = embeddings.filter(F.col("vec_id") < 20).select(
            F.col("vec_id").alias("qid"), "embedding")
        if path == "held":
            with_label = SparkSearcher(
                embeddings, vec_col="embedding", key_col="vec_id").train()
            bare = SparkSearcher(
                embeddings.drop("label"), vec_col="embedding",
                key_col="vec_id").train()
            assert with_label._held is not None and bare._held is not None
            qv = q.withColumnRenamed("qid", "vec_id")
            searches = {"label": lambda: with_label.search(qv, topK=10),
                        None: lambda: bare.search(qv, topK=10)}
            closers = [with_label.close, bare.close]
        elif path == "nsw":
            idx = NSWIndex(m=4, ef_construction=8, n_shards=3).fit(
                embeddings, item_key_col="vec_id", item_vec_col="embedding")
            searches = {p: lambda p=p: idx.search(
                q, k=10, query_item_col="qid", payload_cols=[p] if p else [])
                for p in ("label", None)}
            closers = [idx.close]
        else:
            searches = {p: lambda p=p: knn_join(
                q, embeddings, metric="cos", k=10, query_item_col="qid",
                item_key_col="vec_id", payload_cols=[p] if p else [],
                strategy=path) for p in ("label", None)}
            closers = []

        def jobs(search):
            def ids():
                sc._jsc.sc().listenerBus().waitUntilEmpty()
                return set(sc.statusTracker().getJobIdsForGroup(None))

            before = ids()
            res = search()
            assert len(res.collect()) == 200
            return len(ids() - before)

        try:
            assert jobs(searches["label"]) <= jobs(searches[None])
        finally:
            for close in closers:
                close()


class TestEmptyInputs:
    """Empty corpus / empty query edge semantics across strategies: empty
    results (or the documented driver-collect error), never a kernel
    crash (r4: blocked hit numpy axis errors on a 0-row corpus)."""

    @pytest.fixture()
    def tiny(self, spark):
        return spark.createDataFrame(
            [(i, [float(i), 1.0]) for i in range(5)],
            "vec_id long, embedding array<double>")

    @pytest.mark.parametrize("strategy", ["catalyst", "blocked", "grid",
                                          "sharded"])
    def test_empty_corpus_yields_empty(self, spark, tiny, strategy):
        q = tiny.limit(2).select(F.col("vec_id").alias("qid"), "embedding")
        res = knn_join(q, tiny.filter("vec_id < 0"), metric="cos", k=3,
                       query_item_col="qid", item_key_col="vec_id",
                       payload_cols=[], strategy=strategy)
        assert res.count() == 0
        assert res.columns[:3] == ["source_item", "sim_item", "sim_val"]

    def test_empty_corpus_with_payload_keeps_schema(self, spark, tiny):
        items = tiny.withColumn("label", F.lit("x")).filter("vec_id < 0")
        q = tiny.limit(1).select(F.col("vec_id").alias("qid"), "embedding")
        res = knn_join(q, items, metric="cos", k=2, query_item_col="qid",
                       item_key_col="vec_id", payload_cols=["label"],
                       strategy="blocked")
        assert res.count() == 0 and "label" in res.columns

    @pytest.mark.parametrize("strategy", ["catalyst", "blocked", "grid",
                                          "sharded"])
    def test_empty_queries_yield_empty(self, spark, tiny, strategy):
        q = tiny.filter("vec_id < 0").select(
            F.col("vec_id").alias("qid"), "embedding")
        res = knn_join(q, tiny, metric="cos", k=3, query_item_col="qid",
                       item_key_col="vec_id", payload_cols=[],
                       strategy=strategy)
        assert res.count() == 0

    def test_auto_empty_queries_over_items_cap(self, spark, tiny,
                                               monkeypatch):
        # a corpus estimated past the items cap sends small query sets to
        # the sharded kernel; an empty one must come back empty and typed
        from faisssearcher_spark.operators import knn as knn_mod

        items = tiny.withColumn("label", F.lit("x"))
        q = tiny.filter("vec_id < 0").select(
            F.col("vec_id").alias("qid"), "embedding")
        monkeypatch.setattr(
            knn_mod, "_plan_size_bytes",
            lambda df: 1 << 40 if "label" in df.columns else 1 << 10)
        sharded = knn_mod._knn_join_sharded
        calls = []

        def spy(*args, **kwargs):
            calls.append(1)
            return sharded(*args, **kwargs)

        monkeypatch.setattr(knn_mod, "_knn_join_sharded", spy)
        res = knn_mod.knn_join(q, items, metric="cos", k=3,
                               query_item_col="qid", item_key_col="vec_id",
                               payload_cols=["label"], strategy="auto")
        assert calls == [1]
        assert res.count() == 0
        assert res.dtypes == [("source_item", "bigint"),
                              ("sim_item", "bigint"), ("sim_val", "double"),
                              ("rank_no", "int"), ("label", "string")]


class TestInputValidation:
    """Misnamed columns fail fast with the frame's actual columns in the
    message, not a deep Catalyst resolution error."""

    def test_bad_vec_col(self, spark, embeddings):
        q = embeddings.limit(1).select(F.col("vec_id").alias("qid"), "embedding")
        with pytest.raises(ValueError, match="emb_typo.*queries"):
            knn_join(q, embeddings, query_vec_col="emb_typo",
                     query_item_col="qid", item_key_col="vec_id")

    def test_bad_item_key(self, spark, embeddings):
        q = embeddings.limit(1).select(F.col("vec_id").alias("qid"), "embedding")
        with pytest.raises(ValueError, match="nope.*items"):
            knn_join(q, embeddings, query_item_col="qid", item_key_col="nope")

    def test_bad_payload(self, spark, embeddings):
        q = embeddings.limit(1).select(F.col("vec_id").alias("qid"), "embedding")
        with pytest.raises(ValueError, match="payload_cols.*ghost"):
            knn_join(q, embeddings, query_item_col="qid",
                     item_key_col="vec_id", payload_cols=["ghost"])

    def test_sharded_bad_query_vectors(self, spark, embeddings):
        """strategy="sharded" collects its queries through
        _collect_vectors: NULL and ragged vectors raise ValueError from
        knn_join itself (the corpus dim is unknown without a job)."""
        schema = "qid long, embedding array<double>"
        for rows, msg in (([(0, [1.0] * 64), (1, [1.0])], "ragged"),
                          ([(0, [1.0] * 64), (1, None)], "NULL")):
            with pytest.raises(ValueError, match=msg):
                knn_join(spark.createDataFrame(rows, schema), embeddings,
                         k=2, query_item_col="qid", item_key_col="vec_id",
                         strategy="sharded")


class TestGemmTopkHelper:
    def test_running_merge_matches_single_block(self):
        """The bounded running top-k fold must reproduce the one-shot
        full-width (score, key-position) ranking exactly — including
        ties created by rounding — for every block scorer: the GEMM
        kernels' and PQ's ADC gather, whose small integer codes tie
        often."""
        import numpy as np

        from faisssearcher_spark.operators.ann import _adc_scorer
        from faisssearcher_spark.operators.knn import (_gemm_scorer,
                                                       _topk_fold)

        rng = np.random.default_rng(11)
        q = rng.standard_normal((64, 8))
        # coarse values force many score ties across blocks
        mat = rng.integers(-2, 3, size=(257, 8)).astype(np.float64)
        lut = rng.integers(0, 3, size=(64, 2, 4)).astype(np.float64)
        codes = rng.integers(0, 4, size=(257, 2))
        scorers = [(f"gemm-{m}", _gemm_scorer(q, mat, m, scale=1), m == "ip")
                   for m in ("ip", "l2")]
        scorers += [(f"adc-{hi}", _adc_scorer(lut, codes), hi)
                    for hi in (True, False)]
        for name, score, higher in scorers:
            full = score(0, 257)
            ref = np.argsort(-full if higher else full, axis=1,
                             kind="stable")[:, :7]
            one_pos, one_val = _topk_fold(
                score, 64, 257, 7, higher_is_closer=higher,
                scratch_bytes=1 << 40)          # single block
            many_pos, many_val = _topk_fold(
                score, 64, 257, 7, higher_is_closer=higher,
                scratch_bytes=8 * 64 * 16)      # 16-wide blocks
            assert (one_pos == ref).all(), name
            assert (one_pos == many_pos).all(), name
            assert (one_val == many_val).all(), name
            assert (one_val == np.take_along_axis(full, ref, 1)).all(), name

    def test_partition_select_matches_stable_argsort(self):
        """The per-block cut is the full stable argsort's first kb
        columns on every row: heavy ties, ±inf, NaN (sorted last) and
        signed zeros, kb from 1 to the row width."""
        import numpy as np

        from faisssearcher_spark.operators.knn import _topk_cut

        rng = np.random.default_rng(5)
        for case in range(400):
            rows, n = int(rng.integers(1, 20)), int(rng.integers(1, 60))
            kb = int(rng.integers(1, n + 1))
            kind = case % 4
            key = (rng.standard_normal((rows, n)) if kind == 0 else
                   rng.integers(-2, 3, size=(rows, n)).astype(np.float64))
            if kind >= 2:
                u = rng.random((rows, n))
                key[u < 0.15] = np.nan
                key[(u >= 0.15) & (u < 0.25)] = np.inf
                key[(u >= 0.25) & (u < 0.35)] = -np.inf
            if kind == 3:
                key[rng.random((rows, n)) < 0.2] = -0.0
            ref = np.argsort(key, axis=1, kind="stable")[:, :kb]
            assert (_topk_cut(key, kb) == ref).all(), (case, kb)

    def test_np_round_exact_matches_numpy(self):
        import numpy as np

        from faisssearcher_spark.operators.knn import _np_round_exact

        a = np.random.default_rng(3).standard_normal((100, 40)) * 1e3
        for s in (-2, 0, 2, 4, 6):
            assert (_np_round_exact(a, s) == np.round(a, s)).all(), s


class TestNormalizeOnce:
    """``l2_normalize(v, on_zero=v)``, the zero-passing normalize of the
    catalyst plans, binds the squared norm once for the zero test and
    the division."""

    def test_one_norm_aggregate_per_normalized_side(self, spark, embeddings):
        q = embeddings.limit(3).select(F.col("vec_id").alias("qid"),
                                       "embedding")

        def aggregates(metric):
            res = knn_join(q, embeddings, metric=metric, k=2,
                           query_item_col="qid", item_key_col="vec_id",
                           strategy="catalyst")
            return res._jdf.queryExecution().analyzed().toString() \
                .count("aggregate(")

        # cos scores the normalized vectors with ip's one dot aggregate
        assert aggregates("cos") - aggregates("ip") == 2

    def test_values_zero_and_null(self, spark):
        from faisssearcher_spark.functions.vector import l2_normalize

        df = spark.createDataFrame(
            [(0, [3.0, 4.0, 1e-3]), (1, [0.0, 0.0, 0.0]), (2, None),
             (3, [-0.1, 0.7, 2.5])], "id int, v array<double>")
        got = {r["id"]: r["n"] for r in df.select(
            "id", l2_normalize("v", on_zero=F.col("v")).alias("n"))
            .collect()}
        plain = {r["id"]: r["n"] for r in df.filter("id in (0, 3)").select(
            "id", l2_normalize("v").alias("n")).collect()}
        assert got[0] == plain[0] and got[3] == plain[3]   # bit for bit
        assert got[1] == [0.0, 0.0, 0.0]
        assert got[2] is None
