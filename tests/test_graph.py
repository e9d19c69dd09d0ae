"""Native NSW graph index (operators/graph.py): kernel correctness on
numpy, recall against the exact path, save/load revalidation, metric
conventions. Parity context: the reference reaches graph ANN through
FAISS IndexHNSWFlat (backend/faiss_searcher.py:100-107); this is the
import-gate-free native equivalent."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from faisssearcher_spark.operators.graph import (NSWIndex, _batch_beam,
                                                 _beam_search,
                                                 _build_shard_graph,
                                                 _prep, nsw_topk)


def _brute_topk(mat, q, k):
    sims = mat @ q
    order = np.argsort(-sims)
    return set(order[:k].tolist())


class TestKernel:
    def test_beam_search_exact_on_full_ef(self):
        """With ef = n the beam visits everything reachable — on a
        connected graph it must return the exact top-k."""
        rng = np.random.default_rng(3)
        mat = _prep(rng.standard_normal((200, 16)), "cos")
        nbrs, counts = _build_shard_graph(mat, m=8, ef_construction=32,
                                          metric="cos")
        q = _prep(rng.standard_normal((1, 16)), "cos")[0]
        found = _beam_search(mat, nbrs, counts, q, ef=200, metric="cos")
        got = [pos for _, pos in found[:10]]
        assert set(got) == _brute_topk(mat, q, 10)

    def test_graph_connectivity_and_degree_bounds(self):
        rng = np.random.default_rng(5)
        mat = _prep(rng.standard_normal((150, 8)), "cos")
        m = 6
        nbrs, counts = _build_shard_graph(mat, m=m, ef_construction=24,
                                          metric="cos")
        assert counts.max() <= 2 * m
        assert (counts[1:] >= 1).all()      # every inserted node linked
        # undirected reachability from the entry point covers the graph
        seen = {0}
        stack = [0]
        adj = [set(nbrs[i, :counts[i]].tolist()) for i in range(len(mat))]
        for i in range(len(mat)):           # make it undirected
            for j in adj[i]:
                adj[j].add(i)
        while stack:
            u = stack.pop()
            for v in adj[u]:
                if v not in seen:
                    seen.add(v)
                    stack.append(v)
        assert len(seen) == len(mat)

    def test_batch_beam_matches_sequential(self):
        """The vectorized multi-query beam (_batch_beam, the batched-
        insertion kernel) returns the same result set as the per-query
        beam at equal ef on a frozen graph."""
        rng = np.random.default_rng(11)
        mat = _prep(rng.standard_normal((300, 16)), "cos")
        nbrs, counts = _build_shard_graph(mat, m=8, ef_construction=32,
                                          metric="cos")
        qs = _prep(rng.standard_normal((7, 16)), "cos")
        bsim, bpos = _batch_beam(mat, nbrs, counts, qs, 16, "cos")
        for j in range(len(qs)):
            seq = _beam_search(mat, nbrs, counts, qs[j], 16, "cos")
            assert [p for _, p in seq] == \
                [int(p) for p in bpos[j] if p >= 0]
            np.testing.assert_allclose(
                [s for s, _ in seq],
                [s for s, p in zip(bsim[j], bpos[j]) if p >= 0],
                rtol=1e-6)

    def test_batch_sizes_build_equivalent_quality(self):
        """Chunked insertion (any batch size) keeps the recall contract:
        ef=n search on the built graph is exact, and degree bounds
        hold."""
        rng = np.random.default_rng(13)
        mat = _prep(rng.standard_normal((180, 16)), "cos")
        q = _prep(rng.standard_normal((1, 16)), "cos")[0]
        for batch in (1, 16, 64, 500):
            nbrs, counts = _build_shard_graph(mat, m=6, ef_construction=24,
                                              metric="cos", batch=batch)
            assert counts.max() <= 12
            found = _beam_search(mat, nbrs, counts, q, ef=180, metric="cos")
            assert set(p for _, p in found[:10]) == _brute_topk(mat, q, 10)

    def test_recall_at_10(self):
        """Graph search at ef=64 recovers ≥0.9 of the exact top-10 on a
        random corpus (single shard, the hard isotropic case)."""
        rng = np.random.default_rng(11)
        mat = _prep(rng.standard_normal((500, 32)), "cos")
        nbrs, counts = _build_shard_graph(mat, m=12, ef_construction=48,
                                          metric="cos")
        hits = total = 0
        for qi in range(20):
            q = _prep(rng.standard_normal((1, 32)), "cos")[0]
            found = _beam_search(mat, nbrs, counts, q, ef=64, metric="cos")
            got = {pos for _, pos in found[:10]}
            hits += len(got & _brute_topk(mat, q, 10))
            total += 10
        assert hits / total >= 0.9


@pytest.fixture(scope="module")
def fitted(embeddings):
    idx = NSWIndex(m=12, ef_construction=48, ef_search=96, metric="cos",
                   n_shards=4)
    return idx.fit(embeddings, item_key_col="vec_id",
                   item_vec_col="embedding")


class TestIndex:
    def test_result_shape_and_rank(self, embeddings, fitted):
        q = embeddings.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("qid"), "embedding")
        out = fitted.search(q, k=5, query_item_col="qid")
        rows = out.collect()
        assert sorted(out.columns) == ["rank_no", "sim_item", "sim_val",
                                       "source_item"]
        assert len(rows) == 25
        per_q = {}
        for r in rows:
            per_q.setdefault(r["source_item"], []).append(r["rank_no"])
        assert all(sorted(v) == list(range(5)) for v in per_q.values())

    def test_self_query_rank0_and_recall(self, spark, embeddings, fitted):
        """Each corpus vector queries itself: rank 0 must be the vector
        (sim 1.0), and merged recall@10 vs exact must clear 0.9 — the
        per-shard-composes argument measured."""
        from faisssearcher_spark.operators.knn import knn_join

        q = embeddings.filter(F.col("vec_id") % 25 == 0).select(
            F.col("vec_id").alias("qid"), "embedding")
        approx = fitted.search(q, k=10, query_item_col="qid")
        r0 = approx.filter(F.col("rank_no") == 0).collect()
        assert all(r["source_item"] == r["sim_item"] for r in r0)
        exact = knn_join(q, embeddings, metric="cos", k=10,
                         query_item_col="qid", item_key_col="vec_id",
                         payload_cols=[])
        hits = approx.alias("a").join(
            exact.alias("e"),
            (F.col("a.source_item") == F.col("e.source_item"))
            & (F.col("a.sim_item") == F.col("e.sim_item"))).count()
        assert hits / exact.count() >= 0.9

    def test_save_load_roundtrip(self, spark, embeddings, fitted,
                                 tmp_path_factory):
        path = str(tmp_path_factory.mktemp("nsw"))
        fitted.save(path)
        loaded = NSWIndex.load(spark, path)
        assert loaded.m == fitted.m
        assert loaded.n_items == fitted.n_items
        q = embeddings.filter(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("qid"), "embedding")
        a = sorted(map(tuple, fitted.search(q, k=3, query_item_col="qid")
                       .collect()))
        b = sorted(map(tuple, loaded.search(q, k=3, query_item_col="qid")
                       .collect()))
        assert a == b

    def test_save_load_keeps_payload(self, spark, embeddings, fitted,
                                     tmp_path_factory):
        """The graph table keeps the fitted items' other columns, so a
        loaded index serves payload: the same rows as before the save."""
        path = str(tmp_path_factory.mktemp("nsw_payload"))
        fitted.save(path)
        loaded = NSWIndex.load(spark, path)
        q = embeddings.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("qid"), "embedding")

        def rows(idx):
            res = idx.search(q, k=4, query_item_col="qid",
                             payload_cols=["label"])
            assert res.columns == ["source_item", "sim_item", "sim_val",
                                   "rank_no", "label"]
            return sorted(map(tuple, res.collect()))

        before = rows(fitted)
        labels = {r["vec_id"]: r["label"] for r in
                  embeddings.select("vec_id", "label").collect()}
        assert all(r[4] == labels[r[1]] for r in before)
        assert rows(loaded) == before
        loaded.close()

    def test_graph_without_payload_loads(self, spark, embeddings, fitted,
                                         tmp_path_factory):
        """A graph table of only the graph columns (as saved before the
        table kept the items' columns) still loads and searches; asking
        it for a payload column raises naming the column."""
        import os
        path = str(tmp_path_factory.mktemp("nsw_bare"))
        fitted.save(path)
        g = spark.read.parquet(os.path.join(path, "graph"))
        g.select(*NSWIndex._COLS).write.mode("overwrite").parquet(
            os.path.join(path, "graph_bare"))
        spark.read.parquet(os.path.join(path, "graph_bare")).write \
            .mode("overwrite").parquet(os.path.join(path, "graph"))
        loaded = NSWIndex.load(spark, path)
        q = embeddings.filter(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("qid"), "embedding")
        assert loaded.search(q, k=3, query_item_col="qid").count() == 9
        with pytest.raises(ValueError, match="label"):
            loaded.search(q, k=3, query_item_col="qid",
                          payload_cols=["label"])
        loaded.close()

    def test_fit_rejects_clashing_column(self, spark):
        df = spark.createDataFrame([(0, [1.0, 0.0], 7)],
                                   "vec_id long, embedding array<double>, "
                                   "pos int")
        with pytest.raises(ValueError, match="pos"):
            NSWIndex(m=2, ef_construction=4).fit(
                df, item_key_col="vec_id", item_vec_col="embedding")

    def test_load_rejects_duplicate_shard_pos(self, spark, embeddings,
                                              fitted, tmp_path_factory):
        """Two graphs written under ONE shard id (the r6 ADVICE crc32-
        collision scenario) produce duplicate (shard, pos) rows; load()
        must reject the table instead of letting neighbor indices
        silently resolve to wrong rows."""
        import os
        path = str(tmp_path_factory.mktemp("nsw_dup"))
        fitted.save(path)
        g = spark.read.parquet(os.path.join(path, "graph"))
        collided = g.withColumn("shard", F.lit(0))
        collided.write.mode("overwrite").parquet(
            os.path.join(path, "graph2"))
        spark.read.parquet(os.path.join(path, "graph2")).write \
            .mode("overwrite").parquet(os.path.join(path, "graph"))
        import json
        meta = json.loads(spark.read.parquet(
            os.path.join(path, "meta")).first()["meta"])
        with pytest.raises(ValueError, match="duplicate|merged|outside"):
            NSWIndex.load(spark, path)

    def test_shard_sizes_follow_n_shards_not_arrow_batches(
            self, spark, embeddings):
        """One shard per partition (r6 ADVICE): with n_shards=3 the
        graph must hold exactly 3 shards of ~corpus/3 nodes each, and
        shard ids must be distinct — not one graph per Arrow batch, and
        no min-key hashing."""
        idx = NSWIndex(m=4, ef_construction=8, n_shards=3).fit(
            embeddings, item_key_col="vec_id", item_vec_col="embedding")
        sizes = {r["shard"]: r["n"] for r in
                 idx.graph.groupBy("shard").agg(F.count("*").alias("n"))
                 .collect()}
        assert len(sizes) == 3
        n = sum(sizes.values())
        assert all(v >= n // 6 for v in sizes.values())

    def test_load_rejects_corrupt_counts(self, spark, embeddings, fitted,
                                         tmp_path_factory):
        import json
        import os
        path = str(tmp_path_factory.mktemp("nsw_bad"))
        fitted.save(path)
        meta = json.loads(spark.read.parquet(
            os.path.join(path, "meta")).first()["meta"])
        meta["n_items"] = meta["n_items"] + 1
        spark.createDataFrame([(json.dumps(meta),)], "meta string") \
            .coalesce(1).write.mode("overwrite") \
            .parquet(os.path.join(path, "meta"))
        with pytest.raises(ValueError, match="corrupt"):
            NSWIndex.load(spark, path)

    def test_unfitted_and_param_validation(self, spark, embeddings):
        with pytest.raises(ValueError, match="not fitted"):
            NSWIndex().search(embeddings.limit(1).select(
                F.col("vec_id").alias("query_id"), "embedding"))
        with pytest.raises(ValueError, match="m must be"):
            NSWIndex(m=0)
        with pytest.raises(ValueError, match="ef_construction"):
            NSWIndex(m=8, ef_construction=4)
        with pytest.raises(ValueError, match="metric"):
            NSWIndex(metric="hamming")

    def test_l2_metric_squared_distance_ascending(self, spark):
        rows = [(0, [0.0, 0.0]), (1, [1.0, 0.0]), (2, [3.0, 0.0])]
        df = spark.createDataFrame(rows,
                                   "vec_id long, embedding array<double>")
        idx = NSWIndex(m=2, ef_construction=4, metric="l2").fit(
            df, item_key_col="vec_id", item_vec_col="embedding")
        q = spark.createDataFrame([(9, [0.0, 0.0])],
                                  "qid long, embedding array<double>")
        out = idx.search(q, k=3, query_item_col="qid").collect()
        got = [(r["sim_item"], r["sim_val"]) for r in
               sorted(out, key=lambda r: r["rank_no"])]
        assert got == [(0, 0.0), (1, 1.0), (2, 9.0)]

    def test_one_shot_nsw_topk(self, embeddings):
        q = embeddings.filter(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("qid"), "embedding")
        out = nsw_topk(q, embeddings, k=3, m=8, ef_construction=24,
                       ef_search=48, query_item_col="qid",
                       item_key_col="vec_id")
        assert out.count() == 9
