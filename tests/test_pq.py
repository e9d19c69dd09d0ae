"""Product-quantization ADC search (operators/ann.py:PQIndex).

Semantics pinned here: exactness when the corpus is quantization-lossless
(every subvector is a codebook centroid), recall floor + monotone-in-m
improvement on the real corpus, payload carry through the merge, parquet
save/load roundtrip with load-time validation, and the error surface.
"""

import sys

import numpy as np
import pytest
from pyspark.sql import functions as F

from faisssearcher_spark.operators.ann import PQIndex
from faisssearcher_spark.operators.knn import knn_join


@pytest.fixture(scope="module")
def lossless(spark):
    """24 vectors in R^8 whose m=2 subvectors come from 4 prototypes each
    — Lloyd lands centroids exactly on the points, so PQ is lossless."""
    protos = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0],
              [0.0, 0.0, 1.0, 0.0], [0.0, 0.0, 0.0, 1.0]]
    rows = [(i, protos[i % 4] + protos[(i // 4) % 4], i % 3)
            for i in range(24)]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int")


def test_lossless_matches_exact(spark, lossless):
    q = lossless.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("qid"), "embedding")
    pq = PQIndex(m=2, metric="cos", seed=1).fit(
        lossless, item_key_col="vec_id", item_vec_col="embedding")
    approx = pq.search(q, k=5, query_item_col="qid")
    exact = knn_join(q, lossless, metric="cos", k=5, query_item_col="qid",
                     item_key_col="vec_id", payload_cols=[])
    a = {(r["source_item"], r["sim_item"]): r["sim_val"]
         for r in approx.collect()}
    e = {(r["source_item"], r["sim_item"]): r["sim_val"]
         for r in exact.collect()}
    # scores agree to fp tolerance on the shared pairs, and the result
    # SETS agree up to equal-score ties (compare score multisets per query)
    for key in set(a) & set(e):
        assert a[key] == pytest.approx(e[key], abs=1e-9)
    for qid in {k[0] for k in e}:
        sa = sorted(v for k, v in a.items() if k[0] == qid)
        se = sorted(v for k, v in e.items() if k[0] == qid)
        assert sa == pytest.approx(se, abs=1e-9)


def test_recall_floor_and_monotone_in_m(spark, embeddings):
    q = embeddings.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"), "embedding")
    exact = knn_join(q, embeddings, metric="cos", k=10,
                     query_item_col="qid", item_key_col="vec_id",
                     payload_cols=[])
    total = exact.count()

    def recall(m):
        pq = PQIndex(m=m, metric="cos", seed=42).fit(
            embeddings, item_key_col="vec_id", item_vec_col="embedding")
        approx = pq.search(q, k=10, query_item_col="qid")
        hits = approx.alias("a").join(
            exact.alias("e"),
            (F.col("a.source_item") == F.col("e.source_item"))
            & (F.col("a.sim_item") == F.col("e.sim_item"))).count()
        return hits / total

    r16, r32 = recall(16), recall(32)
    assert r16 >= 0.75          # measured 0.845 at seed 42
    assert r32 >= r16           # finer quantization can only help here


def test_payload_and_rank(spark, lossless):
    q = lossless.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("qid"), "embedding")
    pq = PQIndex(m=2, metric="cos", seed=1).fit(
        lossless, item_key_col="vec_id", item_vec_col="embedding")
    out = pq.search(q, k=3, query_item_col="qid",
                    payload_cols=["label"]).collect()
    assert len(out) == 3
    assert [r["rank_no"] for r in sorted(out, key=lambda r: r["rank_no"])] \
        == [0, 1, 2]
    assert all(r["label"] == r["sim_item"] % 3 for r in out)


def test_l2_metric_orders_ascending(spark, lossless):
    q = lossless.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("qid"), "embedding")
    pq = PQIndex(m=2, metric="l2", seed=1).fit(
        lossless, item_key_col="vec_id", item_vec_col="embedding")
    out = sorted(pq.search(q, k=5, query_item_col="qid").collect(),
                 key=lambda r: r["rank_no"])
    vals = [r["sim_val"] for r in out]
    assert vals == sorted(vals)
    assert out[0]["sim_val"] == pytest.approx(0.0, abs=1e-9)  # self hit


def test_save_load_roundtrip(spark, lossless, tmp_path):
    q = lossless.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), "embedding")
    pq = PQIndex(m=2, metric="cos", seed=1).fit(
        lossless, item_key_col="vec_id", item_vec_col="embedding")
    before = {(r["source_item"], r["sim_item"])
              for r in pq.search(q, k=3, query_item_col="qid").collect()}
    path = str(tmp_path / "pq")
    pq.save(path)
    loaded = PQIndex.load(spark, path)
    after = {(r["source_item"], r["sim_item"])
             for r in loaded.search(q, k=3, query_item_col="qid").collect()}
    assert before == after


def test_error_surface(spark, lossless):
    with pytest.raises(ValueError):
        PQIndex(nbits=0)
    with pytest.raises(ValueError):
        PQIndex(m=0)
    with pytest.raises(ValueError):   # 8 not divisible by 3
        PQIndex(m=3).fit(lossless, item_key_col="vec_id",
                         item_vec_col="embedding")
    with pytest.raises(RuntimeError):  # search before fit
        PQIndex(m=2).search(lossless.select(
            F.col("vec_id").alias("qid"), "embedding"),
            query_item_col="qid")
    pq = PQIndex(m=2, seed=1).fit(lossless, item_key_col="vec_id",
                                  item_vec_col="embedding")
    with pytest.raises(ValueError):   # empty query set
        pq.search(lossless.filter(F.col("vec_id") < 0).select(
            F.col("vec_id").alias("qid"), "embedding"),
            query_item_col="qid")
    with pytest.raises(ValueError):   # empty corpus
        PQIndex(m=2).fit(lossless.filter(F.col("vec_id") < 0),
                         item_key_col="vec_id", item_vec_col="embedding")


def test_add_items_matches_full_fit(spark, lossless):
    """FAISS add-after-train semantics: codebooks do NOT retrain; on a
    quantization-lossless corpus whose base slice already exhibits every
    subvector prototype, add_items must answer exactly like a fit on the
    full corpus."""
    base = lossless.filter(F.col("vec_id") < 20)
    extra = lossless.filter(F.col("vec_id") >= 20)
    pq = PQIndex(m=2, metric="cos", seed=1).fit(
        base, item_key_col="vec_id", item_vec_col="embedding")
    pq.add_items(extra)
    q = lossless.filter(F.col("vec_id") == 21).select(
        F.col("vec_id").alias("qid"), "embedding")
    got = pq.search(q, k=4, query_item_col="qid").collect()
    # the added item itself is retrievable with a perfect score
    self_hit = [r for r in got if r["sim_item"] == 21]
    assert self_hit and self_hit[0]["sim_val"] == pytest.approx(1.0, abs=1e-9)
    with pytest.raises(RuntimeError):
        PQIndex(m=2).add_items(extra)


def test_pq_codes_match_the_per_subspace_loop():
    """_pq_codes (through _pq_assign, the one PQ encoder) picks in each
    subspace a centroid at the least squared distance of the
    per-subspace loop the encode once ran (to 1e-9), and the loop's own
    code wherever no two centroids tie within that bound."""
    from faisssearcher_spark.operators.ann import (_pq_codes,
                                                   _train_pq_codebooks)

    rng = np.random.default_rng(3)
    mat = rng.standard_normal((3000, 16))
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    books = _train_pq_codebooks(mat[:1000], 4, 64, 5, 3)
    codes = _pq_codes(mat, None, books)
    assert codes.dtype == np.int16 and codes.shape == (3000, 4)
    for j in range(4):
        sub, cb = mat[:, 4 * j:4 * j + 4], books[j]
        d2 = ((sub * sub).sum(1, keepdims=True) - 2.0 * sub @ cb.T
              + (cb * cb).sum(1)[None, :])
        best = d2.min(1)
        assert np.all(d2[np.arange(len(d2)), codes[:, j]] <= best + 1e-9)
        clear = np.sort(d2, axis=1)[:, 1] - best > 1e-9
        assert np.array_equal(codes[clear, j], d2.argmin(1)[clear])


class TestPqAssignBound:
    """_pq_assign encodes one Arrow batch (10,000 rows) per call on the
    executors, chunked under a 32 MB score-tensor bound."""

    @staticmethod
    def _books(m, ksub=256, dsub=4, seed=0):
        return np.random.default_rng(seed).standard_normal((m, ksub, dsub))

    def test_codes_do_not_depend_on_chunking(self):
        from faisssearcher_spark.operators.ann import _pq_assign

        books = self._books(16)
        mat = np.random.default_rng(1).standard_normal((10_000, 64))
        whole = _pq_assign(mat, books)
        parts = np.concatenate([_pq_assign(mat[s:s + 1000], books)
                                for s in range(0, 10_000, 1000)])
        assert np.array_equal(whole, parts)

    def test_batch_peak_memory(self):
        import tracemalloc

        from faisssearcher_spark.operators.ann import _pq_assign

        books = self._books(16)
        mat = np.random.default_rng(2).standard_normal((10_000, 64))
        tracemalloc.start()
        try:
            _pq_assign(mat, books)
            peak = tracemalloc.get_traced_memory()[1]
        finally:
            tracemalloc.stop()
        assert peak < 100 << 20, f"{peak / 2**20:.0f} MB"


class TestIVFPQ:
    def test_recall_composition(self, embeddings):
        """IVF16,PQ16 at nprobe=8: recall ~= ivf-pruning x pq-quantization
        (measured 0.75); exhaustive probing (nprobe=n_cells) removes the
        pruning factor (measured 0.835 ~= flat PQ's 0.845 — residuals are
        neutral on an isotropic corpus, by design they only help on
        clustered data)."""
        from faisssearcher_spark.operators.ann import IVFPQIndex

        q = embeddings.filter(F.col("vec_id") < 20).select(
            F.col("vec_id").alias("qid"), "embedding")
        exact = knn_join(q, embeddings, metric="cos", k=10,
                         query_item_col="qid", item_key_col="vec_id",
                         payload_cols=[])
        total = exact.count()

        def recall(nprobe):
            idx = IVFPQIndex(n_cells=16, nprobe=nprobe, m=16,
                             metric="cos", seed=42).fit(
                embeddings, item_key_col="vec_id",
                item_vec_col="embedding")
            hits = idx.search(q, k=10, query_item_col="qid").alias("a") \
                .join(exact.alias("e"),
                      (F.col("a.source_item") == F.col("e.source_item"))
                      & (F.col("a.sim_item") == F.col("e.sim_item"))) \
                .count()
            return hits / total

        r_pruned, r_full = recall(8), recall(16)
        assert r_pruned >= 0.65     # measured 0.75 at seed 42
        assert r_full >= r_pruned   # more cells probed can only help

    def test_payload_rank_and_plan(self, embeddings, monkeypatch):
        from faisssearcher_spark.operators import knn
        from faisssearcher_spark.operators.ann import IVFPQIndex
        from faisssearcher_spark.plans import inspect

        q = embeddings.filter(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("qid"), "embedding")
        idx = IVFPQIndex(n_cells=8, nprobe=4, m=8, metric="cos",
                         seed=42).fit(embeddings, item_key_col="vec_id",
                                      item_vec_col="embedding")
        # the Spark scan's plan: a cap no search fits keeps this small
        # index from ranking on the driver (tests/test_ann_driver.py)
        monkeypatch.setattr(knn, "DRIVER_RANK_CAP_BYTES", -1)
        res = idx.search(q, k=5, query_item_col="qid",
                         payload_cols=["label"])
        rows = res.collect()
        assert len(rows) == 15
        assert {r["rank_no"] for r in rows} == {0, 1, 2, 3, 4}
        assert all(r["label"] is not None for r in rows)
        plan = inspect.executed_plan(res)
        # one probed-cell scan scores the code table (the query state is
        # a broadcast variable, not a broadcast join); the encode UDF
        # only shows under the cached code table
        assert "CartesianProduct" not in plan
        assert "MapInPandas" in plan
        assert "BroadcastHashJoin" not in plan

    def test_error_surface(self, spark, embeddings):
        from faisssearcher_spark.operators.ann import IVFPQIndex

        with pytest.raises(ValueError):
            IVFPQIndex(metric="l2")
        with pytest.raises(ValueError):
            IVFPQIndex(nbits=9)
        with pytest.raises(RuntimeError):
            IVFPQIndex().search(embeddings.select(
                F.col("vec_id").alias("qid"), "embedding"),
                query_item_col="qid")
        idx = IVFPQIndex(n_cells=4, m=8, seed=1).fit(
            embeddings, item_key_col="vec_id", item_vec_col="embedding")
        with pytest.raises(ValueError):   # empty query set
            idx.search(embeddings.filter(F.col("vec_id") < 0).select(
                F.col("vec_id").alias("qid"), "embedding"),
                query_item_col="qid")


class TestIVFPQDriverFit:
    """fit() trains centroids and codebooks from one deterministic driver
    sample: one Spark job, no MLlib, the same quantizers at any
    partitioning (the load() rebuild contract)."""

    @staticmethod
    def fit(items, **kw):
        from faisssearcher_spark.operators.ann import IVFPQIndex

        kw = {"n_cells": 8, "nprobe": 4, "m": 8, "seed": 42, **kw}
        return IVFPQIndex(**kw).fit(items, item_key_col="vec_id",
                                    item_vec_col="embedding")

    @pytest.mark.parametrize("metric", ["cos", "ip"])
    def test_sample_cells_match_executor_cells(self, embeddings, metric):
        from faisssearcher_spark.operators.ann import _cell_residuals

        idx = self.fit(embeddings, metric=metric)
        pdf = embeddings.select("vec_id", "embedding").toPandas()
        mat = np.array(pdf["embedding"].to_list(), dtype=np.float64)
        driver, _ = _cell_residuals(mat, idx._ivf.centroids,
                                    metric == "cos")
        # several partitions: the executor side assigns in other batches
        executor = dict(idx._coded(embeddings.repartition(3))
                        .select("vec_id", "cell").collect())
        assert [executor[k] for k in pdf["vec_id"]] == driver.tolist()
        idx.close()

    @pytest.mark.parametrize("opq", [False, True])
    def test_partitioning_does_not_move_quantizers(self, embeddings, opq):
        kw = {"opq": opq, "opq_iters": 2}
        one = self.fit(embeddings.coalesce(1), **kw)
        seven = self.fit(embeddings.repartition(7), **kw)
        assert np.array_equal(one._ivf.centroids, seven._ivf.centroids)
        assert np.array_equal(one.codebooks, seven.codebooks)
        if opq:
            assert np.array_equal(one.rotation, seven.rotation)
        one.close()
        seven.close()

    def test_fit_launches_one_job(self, spark, embeddings, monkeypatch):
        sc = spark.sparkContext
        embeddings.count()   # the fixture's cache is filled beforehand
        # no MLlib on this path: importing it would raise
        monkeypatch.setitem(sys.modules, "pyspark.ml.clustering", None)

        def jobs():
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            return set(sc.statusTracker().getJobIdsForGroup(None))

        before = jobs()
        idx = self.fit(embeddings, kmeans_max_iter=20)
        assert len(jobs() - before) == 1
        idx.close()

    def test_empty_corpus_raises_and_caches_nothing(self, spark,
                                                    embeddings):
        jsc = spark.sparkContext._jsc
        before = jsc.getPersistentRDDs().size()
        with pytest.raises(ValueError, match="IVFPQIndex"):
            self.fit(embeddings.filter(F.col("vec_id") < 0))
        assert jsc.getPersistentRDDs().size() == before


def test_fit_rejects_reserved_column_collisions(spark, lossless):
    from faisssearcher_spark.operators.ann import IVFIndex

    with pytest.raises(ValueError):
        IVFIndex(n_cells=2).fit(
            lossless.withColumn("cell", F.lit(0)),
            item_key_col="vec_id", item_vec_col="embedding")
    with pytest.raises(ValueError):
        PQIndex(m=2).fit(
            lossless.withColumn("__codes", F.lit(0)),
            item_key_col="vec_id", item_vec_col="embedding")


class TestSQ:
    def test_sq8_near_lossless_recall(self, embeddings):
        """8-bit per-dim quantization of unit vectors is near-lossless:
        top-10 against the exact path should agree almost everywhere."""
        from faisssearcher_spark.operators.ann import SQIndex

        q = embeddings.filter(F.col("vec_id") < 20).select(
            F.col("vec_id").alias("qid"), "embedding")
        exact = knn_join(q, embeddings, metric="cos", k=10,
                         query_item_col="qid", item_key_col="vec_id",
                         payload_cols=[])
        total = exact.count()
        sq = SQIndex(nbits=8, metric="cos").fit(
            embeddings, item_key_col="vec_id", item_vec_col="embedding")
        approx = sq.search(q, k=10, query_item_col="qid",
                           payload_cols=["label"])
        hits = approx.alias("a").join(
            exact.alias("e"),
            (F.col("a.source_item") == F.col("e.source_item"))
            & (F.col("a.sim_item") == F.col("e.sim_item"))).count()
        assert hits / total >= 0.97
        assert all(r["label"] is not None for r in approx.collect())

    def test_sq4_coarser_than_sq8(self, embeddings):
        from faisssearcher_spark.operators.ann import SQIndex

        q = embeddings.filter(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("qid"), "embedding")
        exact = knn_join(q, embeddings, metric="cos", k=10,
                         query_item_col="qid", item_key_col="vec_id",
                         payload_cols=[])
        total = exact.count()

        def recall(nbits):
            sq = SQIndex(nbits=nbits, metric="cos").fit(
                embeddings, item_key_col="vec_id",
                item_vec_col="embedding")
            hits = sq.search(q, k=10, query_item_col="qid").alias("a") \
                .join(exact.alias("e"),
                      (F.col("a.source_item") == F.col("e.source_item"))
                      & (F.col("a.sim_item") == F.col("e.sim_item"))) \
                .count()
            return hits / total

        r4, r8 = recall(4), recall(8)
        assert r8 >= r4
        assert r4 >= 0.3    # 16 levels/dim still carries real signal

    def test_add_items_and_errors(self, spark, lossless):
        from faisssearcher_spark.operators.ann import SQIndex

        base = lossless.filter(F.col("vec_id") < 20)
        extra = lossless.filter(F.col("vec_id") >= 20)
        sq = SQIndex(nbits=8, metric="cos").fit(
            base, item_key_col="vec_id", item_vec_col="embedding")
        sq.add_items(extra)
        q = lossless.filter(F.col("vec_id") == 21).select(
            F.col("vec_id").alias("qid"), "embedding")
        got = sq.search(q, k=3, query_item_col="qid").collect()
        self_hit = [r for r in got if r["sim_item"] == 21]
        assert self_hit and self_hit[0]["sim_val"] == pytest.approx(
            1.0, abs=0.02)   # 8-bit decode error bound
        with pytest.raises(ValueError):
            SQIndex(nbits=0)
        with pytest.raises(RuntimeError):
            SQIndex().add_items(extra)

    def test_sq_save_load_roundtrip(self, spark, lossless, tmp_path):
        from faisssearcher_spark.operators.ann import SQIndex

        q = lossless.filter(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("qid"), "embedding")
        sq = SQIndex(nbits=8, metric="cos").fit(
            lossless, item_key_col="vec_id", item_vec_col="embedding")
        before = {(r["source_item"], r["sim_item"]): r["sim_val"]
                  for r in sq.search(q, k=3,
                                     query_item_col="qid").collect()}
        path = str(tmp_path / "sq")
        sq.save(path)
        loaded = SQIndex.load(spark, path)
        after = {(r["source_item"], r["sim_item"]): r["sim_val"]
                 for r in loaded.search(q, k=3,
                                        query_item_col="qid").collect()}
        assert before == after   # codes stored, decode deterministic
        with pytest.raises(RuntimeError):   # save before fit
            SQIndex().save(str(tmp_path / "unfit"))
        # load-time revalidation: corrupt the stored bounds width
        import json

        meta_dir = str(tmp_path / "sq" / "meta")
        meta = json.loads(
            spark.read.parquet(meta_dir).first()["meta"])
        meta["arrays"]["vmin"] = meta["arrays"]["vmin"][:-1]
        spark.createDataFrame([(json.dumps(meta),)], "meta string") \
            .coalesce(1).write.mode("overwrite").parquet(meta_dir)
        with pytest.raises(ValueError, match="inconsistent"):
            SQIndex.load(spark, str(tmp_path / "sq"))

    def test_facade_routes_sq8(self, embeddings):
        from faisssearcher_spark.searcher import SparkSearcher

        s = SparkSearcher(embeddings, vec_col="embedding",
                          key_col="vec_id", measurement="cos",
                          index_param="SQ8").train()
        top = s.search(embeddings.limit(1), topK=1).collect()[0]
        assert top["sim_item"] == top["source_item"]
        assert top["sim_val"] == pytest.approx(1.0, abs=0.02)


def test_ivfpq_save_load_roundtrip(spark, embeddings, tmp_path):
    from faisssearcher_spark.operators.ann import IVFPQIndex

    q = embeddings.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), "embedding")
    idx = IVFPQIndex(n_cells=8, nprobe=4, m=8, metric="cos",
                     seed=42, kmeans_max_iter=8).fit(
        embeddings, item_key_col="vec_id", item_vec_col="embedding")
    before = {(r["source_item"], r["sim_item"])
              for r in idx.search(q, k=5, query_item_col="qid").collect()}
    path = str(tmp_path / "ivfpq")
    idx.save(path)
    loaded = IVFPQIndex.load(spark, path)
    after = {(r["source_item"], r["sim_item"])
             for r in loaded.search(q, k=5, query_item_col="qid").collect()}
    assert after == before
    # added rows reach the loaded index too (cells + codes recomputed
    # from the persisted quantizers)
    loaded.add_items(embeddings.filter(F.col("vec_id") < 0))  # no-op union
    with pytest.raises(RuntimeError):
        IVFPQIndex().save(str(tmp_path / "nope"))


def test_ip_metric_scores_raw_magnitudes(spark):
    """Review r5 finding #1: metric='ip' must rank by RAW inner product
    (FAISS METRIC_INNER_PRODUCT never normalizes) — a large-magnitude
    item beats a well-aligned small one."""
    from faisssearcher_spark.operators.ann import SQIndex

    rows = [(1, [0.1, 0.0, 0.0, 0.0]),    # aligned but tiny
            (2, [5.0, 5.0, 0.0, 0.0]),    # big magnitude
            (3, [0.0, 0.0, 1.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = spark.createDataFrame([(0, [1.0, 0.0, 0.0, 0.0])],
                              "qid long, embedding array<double>")
    for idx in (PQIndex(m=2, metric="ip", seed=1),
                SQIndex(nbits=8, metric="ip")):
        top = idx.fit(df, item_key_col="vec_id",
                      item_vec_col="embedding") \
            .search(q, k=1, query_item_col="qid").collect()[0]
        assert top["sim_item"] == 2, type(idx).__name__
        assert top["sim_val"] == pytest.approx(5.0, abs=0.1)
    # cosine still prefers the aligned item
    top = PQIndex(m=2, metric="cos", seed=1).fit(
        df, item_key_col="vec_id", item_vec_col="embedding") \
        .search(q, k=1, query_item_col="qid").collect()[0]
    assert top["sim_item"] == 1


class TestIVFPQRefine:
    def test_refine_exact_scores_and_recall(self, spark, embeddings):
        from faisssearcher_spark.operators.ann import IVFPQIndex
        from faisssearcher_spark.operators.knn import knn_join

        corpus = embeddings.limit(300)
        q = corpus.limit(10).select(F.col("vec_id").alias("query_id"),
                                    "embedding")
        truth = {(r["source_item"], r["sim_item"]): r["sim_val"]
                 for r in knn_join(q, corpus, metric="cos", k=5,
                                   query_item_col="query_id",
                                   item_key_col="vec_id",
                                   payload_cols=[]).collect()}
        idx = IVFPQIndex(n_cells=8, nprobe=8, m=8, metric="cos",
                         seed=42).fit(corpus, item_key_col="vec_id",
                                      item_vec_col="embedding")
        plain = {(r["source_item"], r["sim_item"])
                 for r in idx.search(q, k=5,
                                     query_item_col="query_id").collect()}
        refined = {(r["source_item"], r["sim_item"]): r["sim_val"]
                   for r in idx.search(q, k=5, query_item_col="query_id",
                                       refine_factor=6).collect()}
        r_plain = len(plain & set(truth)) / len(truth)
        r_ref = len(set(refined) & set(truth)) / len(truth)
        assert r_ref >= r_plain
        for key in set(refined) & set(truth):
            assert refined[key] == pytest.approx(truth[key], abs=1e-9)

    def test_refine_validation(self, spark, embeddings):
        from faisssearcher_spark.operators.ann import IVFPQIndex
        idx = IVFPQIndex(n_cells=4, m=8).fit(
            embeddings.limit(60), item_key_col="vec_id",
            item_vec_col="embedding")
        q = embeddings.limit(2).select(F.col("vec_id").alias("query_id"),
                                      "embedding")
        with pytest.raises(ValueError, match="refine_factor"):
            idx.search(q, k=2, query_item_col="query_id", refine_factor=0)


@pytest.fixture(scope="module")
def copies(spark):
    """40 random vectors in R^8, each stored under 5 distinct scattered
    keys, so every quantized (and exact) score ties at least five ways."""
    rng = np.random.default_rng(7)
    vecs = rng.standard_normal((40, 8))
    keys = rng.choice(10_000_000, size=200, replace=False)
    return spark.createDataFrame(
        [(int(keys[i]), vecs[i % 40].tolist()) for i in range(200)],
        "vec_id long, embedding array<double>")


class TestTiesFollowKeyOrder:
    """Quantized scores that tie resolve to the smallest keys, however
    the corpus is partitioned: the sharded scan key-sorts each batch and
    cuts it with the stable top-k fold (an argpartition cut picked tied
    rows by batch layout)."""

    @staticmethod
    def _search(make, items, queries, k, **kw):
        idx = make().fit(items, item_key_col="vec_id",
                         item_vec_col="embedding")
        try:
            return sorted(
                (r["source_item"], r["rank_no"], r["sim_item"], r["sim_val"])
                for r in idx.search(queries, k=k, query_item_col="qid",
                                    **kw).collect())
        finally:
            idx.close()

    @staticmethod
    def _queries(spark, copies):
        """The vectors of the three smallest-key rows, as queries 0-2."""
        rows = sorted(copies.collect(), key=lambda r: r["vec_id"])[:3]
        return spark.createDataFrame(
            [(q, list(r["embedding"])) for q, r in enumerate(rows)],
            "qid long, embedding array<double>")

    @pytest.mark.parametrize("kind,kw", [("pq", {}), ("sq8", {}),
                                         ("pq", {"refine_factor": 10}),
                                         ("ivf", {}), ("ivfpq", {}),
                                         ("ivfpq", {"refine_factor": 10})],
                             ids=["pq", "sq8", "pq-refine", "ivf", "ivfpq",
                                  "ivfpq-refine"])
    def test_quantized_ties_pick_smallest_keys(self, spark, copies, kind,
                                               kw):
        from faisssearcher_spark.operators.ann import (IVFIndex, IVFPQIndex,
                                                       SQIndex)

        make = {"pq": lambda: PQIndex(m=2, nbits=4, seed=1),
                "sq8": lambda: SQIndex(nbits=8),
                "ivf": lambda: IVFIndex(n_cells=4, nprobe=4,
                                        train_mode="sample"),
                "ivfpq": lambda: IVFPQIndex(n_cells=4, nprobe=4, m=2,
                                            nbits=4, seed=1)}[kind]
        q = self._queries(spark, copies)
        one = self._search(make, copies.coalesce(1), q, 3, **kw)
        seven = self._search(make, copies.repartition(7), q, 3, **kw)
        assert [r[:3] for r in one] == [r[:3] for r in seven]
        assert [r[3] for r in one] == pytest.approx(
            [r[3] for r in seven], abs=1e-12)
        # k = corpus size keeps every item: the merge window alone ranks
        # them by (score, key) — the order the cut must agree with
        full = self._search(make, copies.coalesce(1), q, 200, **kw)
        assert [r[:3] for r in one] == [r[:3] for r in full if r[1] < 3]
        by_q = {}
        for r in full:
            by_q.setdefault(r[0], []).append(r[3])
        # the cut at k=3 falls inside a tie group for every query
        assert all(v[2] == v[3] for v in by_q.values())


class TestQueriesCheckedOnDriver:
    """The indexes collect their queries through knn._collect_vectors:
    NULL, ragged and wrong-dim query vectors raise ValueError from
    search() itself, before any scan is planned."""

    def test_index_queries_checked_against_dim(self, spark, lossless):
        from faisssearcher_spark.operators.ann import IVFPQIndex, SQIndex
        from faisssearcher_spark.operators.graph import NSWIndex

        schema = "qid long, embedding array<double>"
        bad = [(spark.createDataFrame([(0, [1.0] * 16)], schema),
                "expected dim 8, found 16"),
               (spark.createDataFrame([(0, [1.0] * 8), (1, [1.0] * 4)],
                                      schema), "ragged"),
               (spark.createDataFrame([(0, [1.0] * 8), (1, None)], schema),
                "NULL")]
        for idx in (PQIndex(m=2, seed=1), SQIndex(),
                    IVFPQIndex(n_cells=2, m=2, seed=1), NSWIndex(m=4)):
            idx.fit(lossless, item_key_col="vec_id",
                    item_vec_col="embedding")
            try:
                for q, msg in bad:
                    with pytest.raises(ValueError, match=msg):
                        idx.search(q, k=3, query_item_col="qid")
            finally:
                idx.close()


def _scan_indexes():
    from faisssearcher_spark.operators.ann import (IVFIndex, IVFPQIndex,
                                                   SQIndex)

    return {
        "ivf-cos": (lambda: IVFIndex(n_cells=8, nprobe=3, seed=5,
                                     train_mode="sample"), {}),
        "ivf-l2": (lambda: IVFIndex(n_cells=8, nprobe=3, seed=5,
                                    metric="l2", train_mode="sample"), {}),
        "ivfpq": (lambda: IVFPQIndex(n_cells=8, nprobe=3, m=8, seed=5),
                  {}),
        "ivfpq-refine": (lambda: IVFPQIndex(n_cells=8, nprobe=3, m=8,
                                            seed=5),
                         {"refine_factor": 3}),
        "pq": (lambda: PQIndex(m=8, seed=5), {}),
        "sq": (lambda: SQIndex(nbits=8), {}),
    }


class TestProbedCellScan:
    """The indexes search through knn._sharded_scan (IVF and IVF-PQ with
    the probed cells): results do not depend on how the corpus is
    partitioned, and each result row carries its own corpus row's
    payload."""

    @pytest.mark.parametrize("name", list(_scan_indexes()))
    def test_one_and_seven_partitions_identical(self, embeddings, name):
        make, kw = _scan_indexes()[name]
        q = embeddings.filter(F.col("vec_id") < 12).select(
            F.col("vec_id").alias("qid"), "embedding")
        got = []
        for items in (embeddings.coalesce(1), embeddings.repartition(7)):
            idx = make().fit(items, item_key_col="vec_id",
                             item_vec_col="embedding")
            try:
                got.append(sorted(
                    tuple(r) for r in idx.search(
                        q, k=10, query_item_col="qid",
                        payload_cols=["label"], **kw).collect()))
            finally:
                idx.close()
        one, seven = got
        assert len(one) == 120
        assert one == seven

    @pytest.mark.parametrize("kind", ["ivf", "ivfpq", "pq", "sq"])
    def test_payload_carried_per_corpus_row(self, spark, lossless, kind):
        from faisssearcher_spark.operators.ann import (IVFIndex, IVFPQIndex,
                                                       SQIndex)

        # every cell probed: both rows of key 3 reach every query
        make = {"ivf": lambda: IVFIndex(n_cells=2, nprobe=2,
                                        train_mode="sample"),
                "ivfpq": lambda: IVFPQIndex(n_cells=2, nprobe=2, m=2,
                                            seed=1),
                "pq": lambda: PQIndex(m=2, seed=1),
                "sq": lambda: SQIndex(nbits=8)}[kind]
        # key 3 stored twice: its own vector with label 100, and the
        # vector of key 4 with label -1; a key-level re-attach would
        # give both rows one label
        rows = [(r["vec_id"], list(r["embedding"]),
                 100 if r["vec_id"] == 3 else r["label"])
                for r in lossless.collect()]
        rows.append((3, rows[4][1], -1))
        items = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>, label int")
        q = spark.createDataFrame([(0, rows[3][1]), (1, rows[4][1])],
                                  "qid long, embedding array<double>")
        idx = make().fit(items, item_key_col="vec_id",
                         item_vec_col="embedding")
        try:
            res = idx.search(q, k=30, query_item_col="qid",
                             payload_cols=["label"]).collect()
        finally:
            idx.close()
        labels = {}
        for r in res:
            labels.setdefault((r["source_item"], r["sim_item"]),
                              []).append((r["sim_val"], r["label"]))
        # each query's best key-3 row is the one whose vector it is
        assert max(labels[(0, 3)])[1] == 100
        assert max(labels[(1, 3)])[1] == -1
        assert sorted(lb for _, lb in labels[(0, 3)]) == [-1, 100]

    @pytest.mark.parametrize("kind", ["ivf", "ivfpq"])
    def test_new_probed_cells_compile_no_code(self, spark, embeddings, kind):
        from faisssearcher_spark.operators.ann import IVFIndex, IVFPQIndex

        idx = (IVFIndex(n_cells=16, nprobe=1, seed=5, train_mode="sample")
               if kind == "ivf" else
               IVFPQIndex(n_cells=16, nprobe=1, m=8, seed=5)).fit(
            embeddings, item_key_col="vec_id", item_vec_col="embedding")
        metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source \
            .CodegenMetrics
        try:
            by_cell = {}
            for r in idx._items.select("cell", "embedding").collect():
                by_cell.setdefault(r["cell"], []).append(list(r["embedding"]))
            a, b = sorted(by_cell)[:2]

            def search(cell):
                q = spark.createDataFrame(
                    list(enumerate(by_cell[cell][:3])),
                    "qid long, embedding array<double>")
                idx.search(q, k=5, query_item_col="qid").collect()

            search(a)
            search(a)
            before = metrics.METRIC_COMPILATION_TIME().getCount()
            search(b)
            # another probed-cell set runs the same generated code
            assert metrics.METRIC_COMPILATION_TIME().getCount() == before
        finally:
            idx.close()


class TestIVFInputChecks:
    def test_metric_outside_gemm_scorer_raises(self):
        from faisssearcher_spark.operators.ann import IVFIndex

        with pytest.raises(ValueError, match="'l1'"):
            IVFIndex(metric="l1")

    def test_queries_checked_against_dim(self, spark, lossless):
        from faisssearcher_spark.operators.ann import IVFIndex

        schema = "qid long, embedding array<double>"
        idx = IVFIndex(n_cells=2, nprobe=1, train_mode="sample").fit(
            lossless, item_key_col="vec_id", item_vec_col="embedding")
        try:
            for rows, msg in (([(0, [1.0] * 16)], "expected dim 8, found 16"),
                              ([(0, [1.0] * 8), (1, [1.0] * 4)], "ragged"),
                              ([(0, [1.0] * 8), (1, None)], "NULL")):
                with pytest.raises(ValueError, match=msg):
                    idx.search(spark.createDataFrame(rows, schema), k=3,
                               query_item_col="qid")
            empty = idx.search(spark.createDataFrame([], schema), k=3,
                               query_item_col="qid", payload_cols=["label"])
            assert empty.collect() == []
            assert [(f.name, f.dataType.simpleString())
                    for f in empty.schema] == [
                ("source_item", "bigint"), ("sim_item", "bigint"),
                ("sim_val", "double"), ("rank_no", "int"),
                ("label", "int")]
        finally:
            idx.close()


def _core_indexes():
    from faisssearcher_spark.operators.ann import (IVFIndex, IVFPQIndex,
                                                   SQIndex)

    return {
        "ivf": lambda: IVFIndex(n_cells=8, nprobe=3, seed=5,
                                train_mode="sample"),
        "pq": lambda: PQIndex(m=8, seed=5),
        "opq": lambda: PQIndex(m=8, seed=5, opq=True, opq_iters=2),
        "sq": lambda: SQIndex(nbits=8),
        "ivfpq": lambda: IVFPQIndex(n_cells=8, nprobe=3, m=8, seed=5),
        "opq-ivfpq": lambda: IVFPQIndex(n_cells=8, nprobe=3, m=8, seed=5,
                                        opq=True, opq_iters=2),
    }


def _copy_corrupted(spark, src, dst, col, value):
    """The index saved at ``src`` copied to ``dst`` with ``col`` of its
    smallest-key stored row replaced by ``value``."""
    import os

    items = spark.read.parquet(os.path.join(src, "items"))
    first = items.agg(F.min("vec_id")).first()[0]
    items.withColumn(col, F.when(F.col("vec_id") == first, value)
                     .otherwise(F.col(col))) \
        .write.parquet(os.path.join(dst, "items"))
    spark.read.parquet(os.path.join(src, "meta")) \
        .write.parquet(os.path.join(dst, "meta"))


class TestCodedIndexCore:
    """fit, add_items, search, save and load are written once
    (ann._CodedIndex) for IVF, PQ, SQ and IVF-PQ."""

    @pytest.mark.parametrize("name", list(_core_indexes()))
    def test_save_load_search_identical(self, spark, embeddings, tmp_path,
                                        name):
        q = embeddings.filter(F.col("vec_id") < 6).select(
            F.col("vec_id").alias("qid"), "embedding")
        idx = _core_indexes()[name]().fit(
            embeddings, item_key_col="vec_id", item_vec_col="embedding")
        path = str(tmp_path / name)
        try:
            before = sorted(tuple(r) for r in idx.search(
                q, k=5, query_item_col="qid",
                payload_cols=["label"]).collect())
            idx.save(path)
        finally:
            idx.close()
        loaded = type(idx).load(spark, path)
        try:
            after = sorted(tuple(r) for r in loaded.search(
                q, k=5, query_item_col="qid",
                payload_cols=["label"]).collect())
            for a in type(idx)._ARRAYS:
                want, got = getattr(idx, a), getattr(loaded, a)
                assert (want is None and got is None) \
                    or np.array_equal(want, got), a
        finally:
            loaded.close()
        assert len(before) == 30
        assert after == before   # pairs, sim_val, rank_no and payload

    @pytest.mark.parametrize("name,col,value", [
        ("ivf", "cell", lambda: F.lit(8)),
        ("ivf", "cell", lambda: F.lit(-1)),
        ("pq", "__codes", lambda: F.concat(
            F.array(F.lit(256).cast("smallint")), F.slice("__codes", 2, 7))),
        ("pq", "__codes", lambda: F.slice("__codes", 1, 7)),
        ("sq", "__codes", lambda: F.slice("__codes", 1, 7)),
        ("ivfpq", "cell", lambda: F.lit(8)),
    ], ids=["ivf-cell-above", "ivf-cell-negative", "pq-code-above-ksub",
            "pq-width", "sq-width", "ivfpq-cell-above"])
    def test_corrupt_stored_table_raises_on_load(self, spark, embeddings,
                                                 tmp_path, name, col, value):
        idx = _core_indexes()[name]().fit(
            embeddings, item_key_col="vec_id", item_vec_col="embedding")
        src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
        try:
            idx.save(src)
        finally:
            idx.close()
        type(idx).load(spark, src).close()   # the intact copy loads
        _copy_corrupted(spark, src, dst, col, value())
        with pytest.raises(ValueError, match="inconsistent"):
            type(idx).load(spark, dst)

    @pytest.mark.parametrize("name", ["pq", "sq"])
    def test_payload_adds_no_job(self, spark, embeddings, name):
        """Payload rides the scan: a search with payload_cols runs no
        more Spark jobs than the same search without."""
        sc = spark.sparkContext
        q = embeddings.filter(F.col("vec_id") < 20).select(
            F.col("vec_id").alias("qid"), "embedding")
        idx = _core_indexes()[name]().fit(
            embeddings, item_key_col="vec_id", item_vec_col="embedding")

        def jobs(**kw):
            def ids():
                sc._jsc.sc().listenerBus().waitUntilEmpty()
                return set(sc.statusTracker().getJobIdsForGroup(None))

            before = ids()
            rows = idx.search(q, k=10, query_item_col="qid", **kw).collect()
            assert len(rows) == 200
            return len(ids() - before)

        try:
            jobs()   # a first search fills the cache, takes the copy
            assert jobs(payload_cols=["label"]) <= jobs()
        finally:
            idx.close()
