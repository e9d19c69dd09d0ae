"""SparkSearcher facade: reference API parity (modes, result shapes,
feature-sep splits, persistence) — SURVEY.md §3."""

import re

import pytest
from pyspark.sql import functions as F

from faisssearcher_spark.encoders import HashingEncoder
from faisssearcher_spark.operators import ann
from faisssearcher_spark.searcher import SparkSearcher


@pytest.fixture(scope="module")
def doc_searcher(spark, documents):
    corpus = documents.select("text", "lang", "source", "n_chars")
    return SparkSearcher(corpus, encoder=HashingEncoder(dim=8),
                         measurement="cos").train()


class TestEncoderMode:
    def test_result_shape(self, doc_searcher):
        res = doc_searcher.search(["spark join merge"], topK=3,
                                  keep_rank_no=True)
        assert res.columns == ["source_item", "sim_item", "sim_val",
                               "rank_no", "lang", "source", "n_chars"]
        assert res.count() == 3

    def test_self_search_top1(self, doc_searcher, documents):
        text = documents.first()["text"]
        top = doc_searcher.search([text], topK=1).collect()[0]
        assert top["sim_item"] == text
        assert top["sim_val"] == pytest.approx(1.0, abs=1e-6)

    def test_range_search_contains_self_and_matches_topk(self,
                                                         doc_searcher,
                                                         documents):
        """range_search(r) must return exactly the items search() scores
        above r — checked against a full-corpus search at the same
        rounding — and the self-match (sim 1.0) always clears r<1."""
        text = documents.first()["text"]
        n = documents.count()
        rs = doc_searcher.range_search([text], radius=0.8, score_scale=4)
        assert rs.columns == ["source_item", "sim_item", "sim_val",
                              "lang", "source", "n_chars"]
        got = {r["sim_item"] for r in rs.collect()}
        assert text in got
        full = doc_searcher.search([text], topK=n, score_scale=4).collect()
        want = {r["sim_item"] for r in full if r["sim_val"] > 0.8}
        assert got == want

    def test_multi_radius_dict(self, doc_searcher, documents):
        """range_search(radii=[...]) — the List-K compute-once/filter-
        many form: dict keyed by radius, each frame equal to the
        standalone call at that radius."""
        text = documents.first()["text"]
        multi = doc_searcher.range_search([text], [0.9, 0.7],
                                          score_scale=4)
        assert sorted(multi) == [0.7, 0.9]
        for r, df in multi.items():
            want = {(x["source_item"], x["sim_item"], x["sim_val"])
                    for x in doc_searcher.range_search(
                        [text], r, score_scale=4).collect()}
            got = {(x["source_item"], x["sim_item"], x["sim_val"])
                   for x in df.collect()}
            assert got == want, f"radius {r}"
        # the tighter set is a subset of the looser one
        loose = {x["sim_item"] for x in multi[0.7].collect()}
        tight = {x["sim_item"] for x in multi[0.9].collect()}
        assert tight <= loose and text in tight

    def test_multi_k_dict(self, doc_searcher):
        res = doc_searcher.search(["spark join"], topK=[1, 3],
                                  keep_rank_no=True)
        assert sorted(res) == [1, 3]
        assert res[1].count() == 1 and res[3].count() == 3

    def test_rank_no_dropped_by_default(self, doc_searcher):
        res = doc_searcher.search(["spark"], topK=2)
        assert "rank_no" not in res.columns

    def test_cal_sim_returns_all_ranked(self, doc_searcher):
        res = doc_searcher.cal_sim("spark join", ["spark join", "key value"])
        rows = res.collect()
        assert len(rows) == 2
        assert rows[0]["score"] >= rows[1]["score"]
        assert rows[0]["item"] == "spark join"

    def test_untrained_raises(self, documents):
        s = SparkSearcher(documents.select("text"),
                          encoder=HashingEncoder(dim=4))
        with pytest.raises(RuntimeError, match="train"):
            s.search(["x"], 1)


class TestFeatureSep:
    def test_query_and_doc_feature_sep(self, spark):
        # faiss_searcher.py:150-156: strip suffixes after the separator
        corpus = spark.createDataFrame(
            [("apple##f1", 1), ("banana##f2", 2)], "text string, pid int")
        s = SparkSearcher(corpus, encoder=HashingEncoder(dim=4),
                          measurement="cos", doc_feature_sep="##",
                          query_feature_sep="##").train()
        res = s.search(["apple##q9"], topK=1).collect()[0]
        assert res["source_item"] == "apple"
        assert res["sim_item"] == "apple"


class TestRawVectorMode:
    def test_search_with_vec_col(self, embeddings):
        s = SparkSearcher(embeddings, vec_col="embedding", key_col="vec_id",
                          measurement="l2").train()
        res = s.search(embeddings.limit(2), topK=3, keep_rank_no=True)
        assert res.count() == 6
        # self-match at rank 0 with distance 0
        top = res.filter(F.col("rank_no") == 0).collect()
        for r in top:
            assert r["sim_val"] == pytest.approx(0.0, abs=1e-9)

    def test_requires_vec_col_or_encoder(self, documents):
        with pytest.raises(TypeError, match="vector"):
            SparkSearcher(documents)


class TestPersistence:
    def test_save_load_roundtrip(self, spark, documents, tmp_path):
        corpus = documents.select("text", "lang")
        s = SparkSearcher(corpus, encoder=HashingEncoder(dim=4),
                          measurement="cos").train()
        path = str(tmp_path / "searcher")
        s.save(path)
        loaded = SparkSearcher.load(spark, path, encoder=HashingEncoder(dim=4))
        res = loaded.search(["spark join"], topK=2)
        assert res.count() == 2

    def test_load_without_encoder_raises(self, spark, documents, tmp_path):
        corpus = documents.select("text", "lang")
        s = SparkSearcher(corpus, encoder=HashingEncoder(dim=4)).train()
        path = str(tmp_path / "searcher2")
        s.save(path)
        with pytest.raises(ValueError, match="encoder"):
            SparkSearcher.load(spark, path)

    def test_whitened_roundtrip_scores_unchanged(self, spark, embeddings,
                                                 tmp_path):
        """r1/r2 ADVICE: a whitened searcher must reload WITH its whitening
        (has_whitening now lives in the JSON meta, not an os.path probe) —
        scores after load must equal scores before."""
        from faisssearcher_spark.operators.whitening import VecsWhitening

        wh = VecsWhitening(8).fit(embeddings, "embedding")
        s = SparkSearcher(embeddings, vec_col="embedding", key_col="vec_id",
                          measurement="cos", whitening=wh).train()
        q = embeddings.limit(3)
        before = sorted(map(tuple,
                            s.search(q, topK=4, keep_rank_no=True,
                                     score_scale=4).collect()))
        path = str(tmp_path / "searcher_wh")
        s.save(path)
        loaded = SparkSearcher.load(spark, path)
        assert loaded.whitening is not None
        after = sorted(map(tuple,
                           loaded.search(q, topK=4, keep_rank_no=True,
                                         score_scale=4).collect()))
        assert before == after

    def test_meta_records_has_whitening(self, spark, embeddings, tmp_path):
        import json
        import os
        s = SparkSearcher(embeddings, vec_col="embedding", key_col="vec_id",
                          measurement="cos").train()
        path = str(tmp_path / "searcher_plain")
        s.save(path)
        meta = json.loads(spark.read.parquet(
            os.path.join(path, "meta")).first()["meta"])
        assert meta["has_whitening"] is False


class TestAddItems:
    def test_incremental_add_matches_full_retrain(self, spark, documents):
        from faisssearcher_spark.encoders import HashingEncoder
        from faisssearcher_spark.searcher import SparkSearcher

        corpus = documents.select("text", "lang")
        first = corpus.limit(30)
        rest = corpus.subtract(first)

        inc = SparkSearcher(first, encoder=HashingEncoder(dim=8),
                            measurement="cos").train(validate=False)
        inc.add_items(rest)
        full = SparkSearcher(corpus, encoder=HashingEncoder(dim=8),
                             measurement="cos").train(validate=False)

        q = ["spark join merge"]
        a = inc.search(q, topK=5, keep_rank_no=True, score_scale=4)
        b = full.search(q, topK=5, keep_rank_no=True, score_scale=4)
        assert sorted(map(tuple, a.collect())) \
            == sorted(map(tuple, b.collect()))

    def test_add_before_train_raises(self, spark, documents):
        import pytest
        from faisssearcher_spark.encoders import HashingEncoder
        from faisssearcher_spark.searcher import SparkSearcher

        s = SparkSearcher(documents.select("text"),
                          encoder=HashingEncoder(dim=8))
        with pytest.raises(RuntimeError):
            s.add_items(documents.select("text"))

    def test_add_items_unpersists_superseded_corpus(self, spark, documents):
        """r1/r2 ADVICE: repeated appends must not pin every intermediate
        corpus in executor storage."""
        corpus = documents.select("text", "lang")
        s = SparkSearcher(corpus.limit(20), encoder=HashingEncoder(dim=8),
                          measurement="cos").train(validate=False)
        old = s.corpus
        assert old.storageLevel.useMemory
        s.add_items(corpus.limit(30).subtract(corpus.limit(20)))
        assert not old.storageLevel.useMemory  # superseded cache released
        assert s.corpus.storageLevel.useMemory


class TestCombinedKwargs:
    def test_multik_with_payload_and_both_feature_seps(self, spark):
        """VERDICT r2 #7: the List-K dict path must compose with payload
        carry AND both feature-sep splits — each multi-K slice equals the
        direct single-K search with identical kwargs."""
        corpus = spark.createDataFrame(
            [("apple pie recipe##d1", "food", 1),
             ("apple tart recipe##d2", "food", 2),
             ("banana bread##d3", "food", 3),
             ("spark shuffle join##d4", "eng", 4),
             ("spark merge join##d5", "eng", 5)],
            "text string, topic string, pid int")
        def build():
            return SparkSearcher(
                corpus, encoder=HashingEncoder(dim=8), measurement="cos",
                query_feature_sep="##", doc_feature_sep="##").train()
        s = build()
        multi = s.search(["apple pie recipe##q1", "spark join##q2"],
                         topK=[1, 3], keep_rank_no=True, score_scale=4)
        assert sorted(multi) == [1, 3]
        for k in (1, 3):
            direct = build().search(
                ["apple pie recipe##q1", "spark join##q2"],
                topK=k, keep_rank_no=True, score_scale=4)
            got = sorted(map(tuple, multi[k].collect()))
            want = sorted(map(tuple, direct.collect()))
            assert got == want, k
            # the separator split really happened on both sides
            for r in multi[k].collect():
                assert "##" not in r["source_item"]
                assert "##" not in r["sim_item"]
            # payload carried
            assert multi[k].columns[-2:] == ["topic", "pid"]


class TestAutoStrategyThroughSearcher:
    """search() defaults to strategy='auto': exact cos/ip/l2 searches are
    scored by a BLAS GEMM kernel, every other metric by the catalyst
    plan, and the result is the catalyst plan's either way."""

    QUERIES = ["spark join merge", "vector search index", "the",
               "spark join merge"]   # a repeated target is one query

    def test_search_with_auto_strategy(self, spark, doc_searcher,
                                       monkeypatch):
        """The held matrix ranks a small target on the driver (a local
        result); a frame over the query cap ranks in Spark against its
        broadcasts (the blocked kernel). Neither is the catalyst join."""
        from faisssearcher_spark.operators import knn as knn_mod
        from faisssearcher_spark.plans import inspect

        frame = _sized(spark, [(t,) for t in self.QUERIES], "text string")
        for target in (self.QUERIES, frame):
            plan = inspect.executed_plan(doc_searcher.search(target, topK=3))
            assert "LocalTableScan" in plan and "MapInPandas" not in plan
            assert "BroadcastNestedLoopJoin" not in plan
        monkeypatch.setattr(knn_mod, "DRIVER_RANK_CAP_BYTES", 0)
        plan = inspect.executed_plan(doc_searcher.search(frame, topK=3))
        assert "MapInPandas" in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_default_equals_catalyst_with_ties(self, doc_searcher):
        # 8 hashed dims rounded to 4 decimals: plenty of score ties, so
        # the (score, key) tie-break decides rank_no and membership
        kwargs = dict(topK=5, keep_rank_no=True, score_scale=4)
        auto = doc_searcher.search(self.QUERIES, **kwargs).collect()
        plan = doc_searcher.search(self.QUERIES, strategy="catalyst",
                                   **kwargs).collect()
        assert sorted(map(tuple, auto)) == sorted(map(tuple, plan))
        # k distinct rows per distinct target on both paths
        assert len(auto) == 5 * len(set(self.QUERIES))
        assert len({(r["source_item"], r["sim_item"]) for r in auto}) \
            == len(auto)

    def test_default_equals_catalyst_l2_unscaled(self, embeddings):
        # the kernel scores l2 as |q|^2 - 2q.x + |x|^2, the plan sums
        # (q - x)^2: same ranking here, values equal up to rounding
        s = SparkSearcher(embeddings, vec_col="embedding", key_col="vec_id",
                          measurement="l2").train()
        q = embeddings.filter(F.col("vec_id") < 6)
        key = lambda r: (r["source_item"], r["rank_no"])
        auto = sorted(s.search(q, topK=5, keep_rank_no=True).collect(),
                      key=key)
        plan = sorted(s.search(q, topK=5, keep_rank_no=True,
                               strategy="catalyst").collect(), key=key)
        s.close()
        assert len(auto) == len(plan) == 30
        for a, b in zip(auto, plan):
            assert (a["source_item"], a["sim_item"], a["rank_no"]) \
                == (b["source_item"], b["sim_item"], b["rank_no"])
            assert a["sim_val"] == pytest.approx(b["sim_val"], rel=1e-9,
                                                 abs=1e-9)

    @pytest.mark.parametrize("measurement", ["l1", "canberra"])
    def test_non_gemm_metric_keeps_catalyst(self, embeddings, measurement):
        from faisssearcher_spark.plans import inspect

        s = SparkSearcher(embeddings, vec_col="embedding", key_col="vec_id",
                          measurement=measurement).train()
        q = embeddings.filter(F.col("vec_id") < 3)
        res = s.search(q, topK=4, keep_rank_no=True, score_scale=4)
        assert "InPandas" not in inspect.executed_plan(res)   # no kernel
        plan = s.search(q, topK=4, keep_rank_no=True, score_scale=4,
                        strategy="catalyst")
        assert sorted(map(tuple, res.collect())) \
            == sorted(map(tuple, plan.collect()))
        s.close()

    def test_indexed_searcher_refuses_explicit_catalyst(self, embeddings):
        s = SparkSearcher(embeddings, vec_col="embedding", key_col="vec_id",
                          measurement="cos", index_param="IVF8").train()
        with pytest.raises(ValueError, match="conflicts with index_param"):
            s.search(embeddings.limit(1), topK=2, strategy="catalyst")
        s.close()


class TestIndexParam:
    """Reference parity: FaissSearcher(index_param=...) forwards FAISS
    index_factory specs (faiss_searcher.py:30,104). IVF / PQ / IVFPQ map
    to the native Spark indexes; when an index_param is given EVERY
    search routes through it; multi-K slices one max-K search."""

    def test_ivf_exhaustive_probe_matches_exact(self, embeddings):
        base = SparkSearcher(embeddings, vec_col="embedding",
                             key_col="vec_id", measurement="cos").train()
        ivf = SparkSearcher(embeddings, vec_col="embedding",
                            key_col="vec_id", measurement="cos",
                            index_param="IVF8",
                            index_kwargs={"nprobe": 8}).train()
        q = embeddings.limit(3)
        exact = {(r["source_item"], r["sim_item"])
                 for r in base.search(q, topK=5).collect()}
        idx = {(r["source_item"], r["sim_item"])
               for r in ivf.search(q, topK=5).collect()}
        assert idx == exact   # nprobe == n_cells -> exhaustive == exact

    def test_pq_encoder_mode_and_multik(self, documents):
        corpus = documents.select("text", "lang", "source", "n_chars")
        s = SparkSearcher(corpus, encoder=HashingEncoder(dim=8),
                          measurement="cos", index_param="PQ4").train()
        text = documents.first()["text"]
        multi = s.search([text], topK=[1, 3], keep_rank_no=True)
        assert set(multi) == {1, 3}
        assert multi[1].count() == 1 and multi[3].count() == 3
        rows3 = multi[3].collect()
        # PQ4 over 8 hashed dims is deliberately coarse: docs whose
        # embeddings collide in code space tie at the top, so the self
        # text is only guaranteed within the top-3, not exact top-1
        assert text in {r["sim_item"] for r in rows3}
        assert all(r["lang"] is not None for r in rows3)   # payload carried
        # multi-K slice == direct search at that K
        direct = {(r["source_item"], r["sim_item"])
                  for r in s.search([text], topK=3).collect()}
        sliced = {(r["source_item"], r["sim_item"])
                  for r in multi[3].collect()}
        assert sliced == direct

    def test_ivfpq_roundtrip_rebuilds_index(self, spark, embeddings,
                                            tmp_path):
        s = SparkSearcher(embeddings, vec_col="embedding",
                          key_col="vec_id", measurement="cos",
                          index_param="IVF8,PQ8",
                          index_kwargs={"nprobe": 8}).train()
        q = embeddings.limit(2)
        before = {(r["source_item"], r["sim_item"])
                  for r in s.search(q, topK=4).collect()}
        path = str(tmp_path / "searcher_ivfpq")
        s.save(path)
        loaded = SparkSearcher.load(spark, path)
        assert loaded.index_param == "IVF8,PQ8"
        after = {(r["source_item"], r["sim_item"])
                 for r in loaded.search(q, topK=4).collect()}
        assert after == before   # seeded quantizers rebuild identically

    def test_add_items_reaches_index(self, embeddings):
        base = embeddings.filter(F.col("vec_id") < 400)
        extra = embeddings.filter(F.col("vec_id") >= 400)
        s = SparkSearcher(base, vec_col="embedding", key_col="vec_id",
                          measurement="cos", index_param="IVF8",
                          index_kwargs={"nprobe": 8}).train()
        s.add_items(extra)
        probe = extra.limit(1)
        top = s.search(probe, topK=1).collect()[0]
        assert top["sim_item"] == top["source_item"]   # added row findable
        assert top["sim_val"] == pytest.approx(1.0, abs=1e-6)

    def test_hnsw_spec_builds_native_graph(self, embeddings):
        """Round 6: bare HNSW<m> maps to the native NSW graph index
        (operators/graph.py) — no faiss import needed, same convention
        as IVF/PQ specs building native structures."""
        s = SparkSearcher(embeddings, vec_col="embedding",
                          key_col="vec_id", measurement="cos",
                          index_param="HNSW12").train()
        from faisssearcher_spark.operators.graph import NSWIndex
        assert isinstance(s._index, NSWIndex)
        q = embeddings.limit(1)
        top = s.search(q, topK=3, keep_rank_no=True)
        rows = top.collect()
        assert len(rows) == 3
        r0 = [r for r in rows if r["rank_no"] == 0][0]
        assert r0["sim_item"] == r0["source_item"]   # self at rank 0

    #: (spec, the index class it builds or ValueError, refine on)
    GRAMMAR = [
        ("Flat", None, False), (" flat ", None, False),
        ("IVF8", "IVFIndex", False), ("IVF8,Flat", "IVFIndex", False),
        ("PQ8", "PQIndex", False), ("SQ4", "SQIndex", False),
        ("SQ8", "SQIndex", False), ("IVF8,PQ4", "IVFPQIndex", False),
        ("OPQ4,PQ4", "PQIndex", False),
        ("OPQ4,IVF8,PQ4", "IVFPQIndex", False),
        ("HNSW12", "NSWIndex", False), ("HNSW12,Flat", "NSWIndex", False),
        ("PQ8,RFlat", "PQIndex", True),
        ("IVF8,PQ4,RFlat", "IVFPQIndex", True),
        ("IVF8,RFlat", "IVFIndex", False),   # IVF scores are exact
        ("NSG32", ValueError, None), ("PCA32,Flat", ValueError, None),
        ("OPQ8,PQ16", ValueError, None), ("OPQ16_64,PQ16", ValueError, None),
        ("OPQ8,IVF32,PQ16", ValueError, None),
        ("IVF8,SQ8", ValueError, None), ("SQ8,RFlat", ValueError, None),
        ("LSH", ValueError, None),
    ]

    @pytest.mark.parametrize("spec,built,refine", GRAMMAR,
                             ids=[row[0] for row in GRAMMAR])
    def test_spec_grammar(self, spark, embeddings, spec, built, refine):
        """Every spec either names the native index it builds or raises
        in the constructor, naming the spec, before any job runs."""
        before = _last_job_id(spark)
        kw = dict(vec_col="embedding", key_col="vec_id", index_param=spec)
        if built is ValueError:
            with pytest.raises(ValueError, match=re.escape(repr(spec))):
                SparkSearcher(embeddings, **kw)
        else:
            s = SparkSearcher(embeddings, **kw)
            index = s._new_index and type(s._new_index()).__name__
            assert (index, s._refine) == (built, refine)
        assert _last_job_id(spark) == before

    def test_flat_spec_is_exact_search(self, embeddings):
        """index_param="Flat" is the same searcher as None, also for a
        measurement no quantizer or graph takes."""
        q = embeddings.filter(F.col("vec_id") < 3)
        got = {}
        for spec in (None, "Flat"):
            s = SparkSearcher(embeddings, vec_col="embedding",
                              key_col="vec_id", measurement="canberra",
                              index_param=spec).train()
            got[spec] = _rows(s.search(q, topK=4, keep_rank_no=True))
            s.close()
        assert got[None] == got["Flat"] and len(got[None]) == 12

    @pytest.mark.parametrize("spec,kwargs,match", [
        ("IVF8", {"nprobee": 3}, "nprobee"),
        ("IVF8", {"n_cells": 4}, "set by the spec"),
        ("PQ8,RFlat", {"refine_factor": 0}, "refine_factor must be >= 1"),
        ("Flat", {"nprobe": 3}, "builds no index"),
        ("IVF0", {}, "n_cells must be >= 1"),
        ("IVF0,PQ4", {}, "n_cells must be >= 1"),
    ], ids=["misspelled", "spec-set", "refine-0", "flat", "IVF0", "IVF0,PQ4"])
    def test_bad_index_kwargs_raise_at_construction(self, spark, embeddings,
                                                    spec, kwargs, match):
        """Arguments the index would reject only after the corpus is
        encoded raise in the constructor, before any job."""
        before = _last_job_id(spark)
        with pytest.raises(ValueError, match=match):
            SparkSearcher(embeddings, vec_col="embedding", key_col="vec_id",
                          index_param=spec, index_kwargs=kwargs)
        assert _last_job_id(spark) == before

    def test_unsupported_measurement_rejected(self, embeddings):
        with pytest.raises(ValueError):
            SparkSearcher(embeddings, vec_col="embedding",
                          key_col="vec_id", measurement="canberra",
                          index_param="IVF8")


class TestRefineSpec:
    """",RFlat" index_factory suffix (IndexRefineFlat): native exact
    re-score for the PQ family through the facade."""

    def _corpus(self, spark):
        from faisssearcher_spark.sources.catalog import load_table
        return load_table(spark, "/root/testdata/sf0.001", "embeddings") \
            .limit(120).select("vec_id", "embedding", "label")

    def test_pq_rflat_matches_exact_search(self, spark):
        from faisssearcher_spark.searcher import SparkSearcher
        corpus = self._corpus(spark)
        q = corpus.limit(6)
        exact = SparkSearcher(corpus, vec_col="embedding", key_col="vec_id",
                              measurement="cos").train() \
            .search(q, topK=4, keep_rank_no=True)
        # shortlist factor large enough to cover the whole corpus ->
        # refined results must EQUAL the exact search
        refined = SparkSearcher(corpus, vec_col="embedding",
                                key_col="vec_id", measurement="cos",
                                index_param="PQ8,RFlat",
                                index_kwargs={"refine_factor": 40}) \
            .train().search(q, topK=4, keep_rank_no=True)
        e = {(r["source_item"], r["rank_no"]): r["sim_item"]
             for r in exact.collect()}
        g = {(r["source_item"], r["rank_no"]): r["sim_item"]
             for r in refined.collect()}
        assert e == g


class TestRefineReviewRegressions:
    def test_refine_factor_survives_save_load(self, spark,
                                              tmp_path_factory):
        from faisssearcher_spark.searcher import SparkSearcher
        from faisssearcher_spark.sources.catalog import load_table
        corpus = load_table(spark, "/root/testdata/sf0.001",
                            "embeddings").limit(80) \
            .select("vec_id", "embedding")
        s = SparkSearcher(corpus, vec_col="embedding", key_col="vec_id",
                          measurement="cos", index_param="PQ8,RFlat",
                          index_kwargs={"refine_factor": 30}).train()
        path = str(tmp_path_factory.mktemp("rfs") / "s")
        s.save(path)
        loaded = SparkSearcher.load(spark, path)
        assert loaded.refine_factor == 30
        assert loaded._refine

    def test_refine_factor_without_rflat_rejected(self, spark):
        from faisssearcher_spark.searcher import SparkSearcher
        from faisssearcher_spark.sources.catalog import load_table
        corpus = load_table(spark, "/root/testdata/sf0.001",
                            "embeddings").limit(10) \
            .select("vec_id", "embedding")
        with pytest.raises(ValueError, match="RFlat"):
            SparkSearcher(corpus, vec_col="embedding", key_col="vec_id",
                          index_param="PQ8",
                          index_kwargs={"refine_factor": 4})

    def test_refine_factor_one_still_rescores_exactly(self, spark):
        """FAISS k_factor=1 semantics: the top-k itself is re-ranked
        with exact scores (review finding: factor 1 silently skipped
        the re-score)."""
        from faisssearcher_spark.functions.metrics import cosine
        from faisssearcher_spark.operators.ann import PQIndex
        from faisssearcher_spark.sources.catalog import load_table
        corpus = load_table(spark, "/root/testdata/sf0.001",
                            "embeddings").limit(100)
        q = corpus.limit(4).select(F.col("vec_id").alias("query_id"),
                                   "embedding")
        idx = PQIndex(m=8, metric="cos").fit(
            corpus, item_key_col="vec_id", item_vec_col="embedding")
        out = idx.search(q, k=3, query_item_col="query_id",
                         refine_factor=1).collect()
        vecs = {r["vec_id"]: r["embedding"] for r in corpus.collect()}
        import numpy as np
        for r in out:
            a = np.array(vecs[r["source_item"]], dtype=np.float64)
            b = np.array(vecs[r["sim_item"]], dtype=np.float64)
            exact = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
            assert r["sim_val"] == pytest.approx(exact, abs=1e-9)


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _sized(spark, rows, ddl: str):
    """A frame of local rows whose size Catalyst knows (a LocalRelation
    built from Arrow). ``createDataFrame`` of a Python list is an RDD
    scan of unknown size, which a holding searcher ranks in Spark."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = spark.createDataFrame([], ddl).schema
    return spark.createDataFrame(pa.Table.from_pylist(
        [dict(zip(schema.names, r)) for r in rows],
        schema=to_arrow_schema(schema)), schema)


def _last_job_id(spark) -> int:
    """The highest job id the status tracker has seen, once the listener
    bus has delivered every event posted so far."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return max(sc.statusTracker().getJobIdsForGroup(None), default=-1)


class _CountingEncoder:
    """HashingEncoder that counts the texts it encodes in an accumulator."""

    def __init__(self, acc, dim: int = 8):
        self.inner, self.acc, self.dim = HashingEncoder(dim=dim), acc, dim

    def encode(self, items):
        self.acc.add(len(items))
        return self.inner.encode(items)


@pytest.mark.parametrize("index_param", ["IVF8,PQ4", "IVF8"])
def test_indexed_add_items_encodes_new_rows_once(spark, documents,
                                                 index_param):
    """On an indexed searcher an add, plus the count of every frame it
    caches, encodes exactly the batch's rows: the corpus union fills from
    the old corpus cache before that is released, and the index builds
    its state from the cached new rows."""
    acc = spark.sparkContext.accumulator(0)
    doc = F.col("doc_id")
    s = SparkSearcher(documents.filter(doc % 4 != 0).select("text", "doc_id"),
                      encoder=_CountingEncoder(acc), key_col="doc_id",
                      index_param=index_param).train()
    for frame in s._cached_state():
        frame.count()
    for r in range(3):
        batch = documents.filter((doc % 4 == 0) & (doc % 12 == 4 * r))
        acc.value = 0
        s.add_items(batch.select("text", "doc_id"))
        for frame in s._cached_state():
            frame.count()
        assert acc.value == batch.count()
    assert s.corpus.count() == documents.count()
    s.close()


@pytest.mark.parametrize("index_param", [None, "IVF8"])
def test_add_items_fills_each_cache_in_one_job(spark, embeddings,
                                               index_param):
    """An add fills the corpus union's cache in one job (a no-op sink;
    count() takes three over a cached union), then either collects the
    new rows into the held matrix or fills the index's own union in one
    more. The hold check reads the size measured either way."""
    s = SparkSearcher(embeddings.filter(F.col("vec_id") < 400),
                      vec_col="embedding", key_col="vec_id",
                      measurement="cos", index_param=index_param).train()
    assert (s._held is not None) == (index_param is None)
    before = _last_job_id(spark)
    s.add_items(embeddings.filter(F.col("vec_id") >= 400))
    assert _last_job_id(spark) - before == 2
    assert (s._held is not None) == (index_param is None)
    assert s.corpus.count() == embeddings.count()
    s.close()


@pytest.mark.parametrize("index", [
    lambda: ann.IVFIndex(n_cells=8, train_mode="sample"),
    lambda: ann.SQIndex()], ids=["IVFIndex", "SQIndex"])
def test_index_add_items_fills_in_one_job(spark, embeddings, index):
    idx = index().fit(embeddings.filter(F.col("vec_id") < 400),
                      item_key_col="vec_id", item_vec_col="embedding")
    before = _last_job_id(spark)
    idx.add_items(embeddings.filter(F.col("vec_id") >= 400))
    assert _last_job_id(spark) - before == 1
    assert idx._items.count() == embeddings.count()
    idx.close()


class TestHeldCorpus:
    """A trained flat searcher over a corpus within
    BLOCKED_SMALL_QUERY_ITEMS_BYTES holds the key-sorted corpus matrix
    and payload and their broadcasts (knn.BlockedCorpus) from train() to
    close(): search() ranks against it without a Spark job, payload
    columns included, and returns what the catalyst plan returns."""

    KW = dict(keep_rank_no=True, score_scale=4)
    TEXTS = ["spark join merge", "vector search index", "the",
             "spark join merge"]   # a repeated target is one query

    def assert_catalyst_parity(self, s, target, topK):
        held = s.search(target, topK=topK, **self.KW)
        plan = s.search(target, topK=topK, strategy="catalyst", **self.KW)
        if isinstance(topK, int):
            held, plan = {topK: held}, {topK: plan}
        assert sorted(held) == sorted(plan)
        for k in plan:
            assert held[k].columns == plan[k].columns
            assert _rows(held[k]) == _rows(plan[k]), k

    @pytest.mark.parametrize("measurement", ["cos", "ip", "l2"])
    def test_vector_targets_equal_catalyst(self, embeddings, measurement):
        s = SparkSearcher(embeddings, vec_col="embedding", key_col="vec_id",
                          measurement=measurement).train()
        assert s._held is not None and s.vec_dim == 64
        q = embeddings.filter(F.col("vec_id") < 6)
        for topK in (5, [1, 3]):
            self.assert_catalyst_parity(s, q, topK)
        assert s.search(q, topK=2).columns == [
            "source_item", "sim_item", "sim_val", "label"]
        s.close()

    @pytest.mark.parametrize("measurement", ["cos", "ip", "l2"])
    def test_text_targets_equal_catalyst(self, documents, measurement):
        s = SparkSearcher(documents.select("text", "lang", "source"),
                          encoder=HashingEncoder(dim=8),
                          measurement=measurement).train()
        assert s._held is not None
        for topK in (5, [2, 4]):
            self.assert_catalyst_parity(s, self.TEXTS, topK)
        res = s.search(self.TEXTS, topK=5)
        assert res.columns[-2:] == ["lang", "source"]
        assert res.count() == 5 * len(set(self.TEXTS))
        s.close()

    def test_add_items_merges_into_held_matrix(self, embeddings):
        base = embeddings.filter(F.col("vec_id") < 300)
        s = SparkSearcher(base, vec_col="embedding", key_col="vec_id",
                          measurement="cos").train()
        old = s._held
        s.add_items(base.limit(0))      # nothing new: the same handle
        assert s._held is old
        s.add_items(embeddings.filter(F.col("vec_id") >= 300))
        assert s._held is not old
        assert len(s._held.keys) == embeddings.count()
        q = embeddings.filter(F.col("vec_id") % 97 == 0)
        self.assert_catalyst_parity(s, q, 5)
        full = SparkSearcher(embeddings, vec_col="embedding",
                             key_col="vec_id", measurement="cos").train()
        assert _rows(s.search(q, topK=5, **self.KW)) \
            == _rows(full.search(q, topK=5, **self.KW))
        s.close()
        full.close()

    def test_results_outlive_add_and_retrain(self, embeddings):
        """add_items and train() drop the superseded matrix without
        destroying its broadcasts: a result built before them still
        reads the rows it was searched against."""
        base = embeddings.filter(F.col("vec_id") < 300)
        s = SparkSearcher(base, vec_col="embedding", key_col="vec_id",
                          measurement="cos").train()
        q = embeddings.filter(F.col("vec_id") < 3)
        before = s.search(q, topK=4, **self.KW)
        multi = s.search(q, topK=[1, 4], **self.KW)
        expect = _rows(s.search(q, topK=4, strategy="catalyst", **self.KW))
        old = s._held
        s.add_items(embeddings.filter(F.col("vec_id") >= 300))
        s.train()
        assert s._held is not old and old.b_mat._jbroadcast.isValid()
        assert _rows(before) == _rows(multi[4]) == expect
        s.close()

    def test_add_items_encodes_new_rows_once(self, spark, documents):
        """On a holding encoder searcher, add_items encodes each new row
        once and the union reuses the corpus cache: neither the add nor
        the next search encodes a corpus row again."""
        acc = spark.sparkContext.accumulator(0)
        doc = F.col("doc_id")
        s = SparkSearcher(documents.filter(doc % 4 == 1).select("text", "lang"),
                          encoder=_CountingEncoder(acc)).train()
        assert s._held is not None
        texts = ["spark join merge", "vector search index"]
        for r in range(3):
            batch = documents.filter((doc % 4 == 0) & (doc % 12 == 4 * r))
            acc.value = 0
            s.add_items(batch.select("text", "lang"))
            s.search(texts, topK=3).collect()
            assert s._held is not None
            assert acc.value == batch.count() + len(texts)
        s.close()

    def test_add_items_past_bound_releases(self, embeddings, monkeypatch):
        from faisssearcher_spark.operators import knn as knn_mod

        s = SparkSearcher(embeddings.filter(F.col("vec_id") < 300),
                          vec_col="embedding", key_col="vec_id",
                          measurement="cos").train()
        assert s._held is not None
        monkeypatch.setattr(knn_mod, "_plan_size_bytes",
                            lambda df: knn_mod.BLOCKED_SMALL_QUERY_ITEMS_BYTES
                            + 1)
        s.add_items(embeddings.filter(F.col("vec_id") >= 300))
        assert s._held is None
        q = embeddings.filter(F.col("vec_id") % 97 == 0)
        assert s.search(q, topK=5, **self.KW).count() == 5 * q.count()
        s.close()

    def test_hold_check_reads_measured_size(self, documents, monkeypatch):
        """An encoder's output array counts as one element in the plan's
        estimate, so a corpus of small texts and wide vectors looks small
        until its cache is filled. The hold check must read the filled
        cache: here the plan guess is within the bound, the matrix and
        the measured cache are not."""
        from faisssearcher_spark.operators import knn as knn_mod

        items = documents.select("text", "lang")
        bound = items.count() * 512 * 2     # a quarter of the matrix
        monkeypatch.setattr(knn_mod, "BLOCKED_SMALL_QUERY_ITEMS_BYTES", bound)
        for validate in (True, False):
            s = SparkSearcher(items, encoder=HashingEncoder(dim=512))
            guess = s._vectorize(items, "text", None)
            assert knn_mod._plan_size_bytes(guess) < bound
            s.train(validate=validate)
            assert s._held is None
            assert knn_mod._plan_size_bytes(s.corpus) > bound
            s.close()

    def test_save_load_holds(self, spark, embeddings, tmp_path):
        s = SparkSearcher(embeddings, vec_col="embedding", key_col="vec_id",
                          measurement="l2").train()
        path = str(tmp_path / "held")
        s.save(path)
        loaded = SparkSearcher.load(spark, path)
        assert loaded._held is not None and loaded.vec_dim == 64
        q = embeddings.filter(F.col("vec_id") < 5)
        assert _rows(loaded.search(q, topK=4, **self.KW)) \
            == _rows(s.search(q, topK=4, **self.KW))
        self.assert_catalyst_parity(loaded, q, [1, 4])
        s.close()
        loaded.close()

    BAD_CORPORA = {
        "empty": [],
        "null": [(0, [1.0, 0.0]), (1, None), (2, [0.0, 1.0])],
        "all_null": [(0, None)],
        "ragged": [(0, [1.0, 0.0]), (1, [1.0])],
    }

    @pytest.mark.parametrize("case", sorted(BAD_CORPORA))
    def test_train_errors_match_unheld_path(self, spark, monkeypatch, case):
        """train(validate=False) on a holdable corpus checks the vectors
        in its driver collect; it must raise exactly what validate_vectors
        raises (train() on a corpus forced over the bound). An empty
        corpus holds nothing, and raises only when validated. Local rows
        have no size estimate (treated as large), so both are forced."""
        from faisssearcher_spark.operators import knn as knn_mod

        items = spark.createDataFrame(self.BAD_CORPORA[case],
                                      "k long, v array<float>")

        def train_error(size: int, validate: bool) -> str | None:
            monkeypatch.setattr(knn_mod, "_plan_size_bytes", lambda df: size)
            s = SparkSearcher(items, vec_col="v", key_col="k")
            try:
                s.train(validate=validate)
            except ValueError as err:
                return str(err)
            assert s._held is None
            s.close()
            return None

        over = knn_mod.BLOCKED_SMALL_QUERY_ITEMS_BYTES + 1
        expected = train_error(over, validate=True)
        assert expected is not None
        assert train_error(1 << 10, validate=True) == expected
        assert train_error(1 << 10, validate=False) == (
            None if case == "empty" else expected)

    def test_over_bound_keeps_knn_join_routing(self, embeddings,
                                               monkeypatch):
        from faisssearcher_spark.operators import knn as knn_mod

        monkeypatch.setattr(knn_mod, "_plan_size_bytes",
                            lambda df: knn_mod.BLOCKED_SMALL_QUERY_ITEMS_BYTES
                            + 1)
        s = SparkSearcher(embeddings, vec_col="embedding", key_col="vec_id",
                          measurement="cos").train()
        assert s._held is None and s.vec_dim == 64
        sharded, calls = knn_mod._knn_join_sharded, []

        def spy(*args, **kwargs):
            calls.append(1)
            return sharded(*args, **kwargs)

        monkeypatch.setattr(knn_mod, "_knn_join_sharded", spy)
        q = embeddings.filter(F.col("vec_id") < 4)
        self.assert_catalyst_parity(s, q, 3)
        assert calls == [1]      # small queries, corpus "over 8 MB"
        s.close()

    def test_close_destroys_broadcasts(self, embeddings):
        s = SparkSearcher(embeddings, vec_col="embedding", key_col="vec_id",
                          measurement="l2").train()
        held = s._held
        broadcasts = [held.b_mat, held.b_keys, held.b_sq]
        assert all(b._jbroadcast.isValid() for b in broadcasts)
        s.unpersist()
        assert s._held is held           # unpersist keeps the matrix
        s.close()
        assert s._held is None
        assert not any(b._jbroadcast.isValid() for b in broadcasts)
        with pytest.raises(RuntimeError, match="not trained"):
            s.search(embeddings.limit(1), topK=1)

    def test_search_runs_its_jobs_inside_search(self, spark, embeddings,
                                                documents):
        """A driver-ranked search runs its one job (the query collect)
        inside search() and none on read, a multi-K one included; a list
        target runs none at all. The local results read no broadcast, so
        they outlive close()."""
        vec = SparkSearcher(embeddings, vec_col="embedding",
                            key_col="vec_id", measurement="cos").train()
        text = SparkSearcher(documents.select("text", "lang"),
                             encoder=HashingEncoder(dim=8)).train()
        q = embeddings.filter(F.col("vec_id") < 4)
        for search, jobs, n_queries in (
                (lambda: {3: vec.search(q, topK=3)}, 1, 4),
                (lambda: vec.search(q, topK=[1, 5]), 1, 4),
                (lambda: {3: text.search(self.TEXTS, topK=3)}, 0, 3),
                (lambda: text.search(self.TEXTS, topK=[1, 5]), 0, 3)):
            last = _last_job_id(spark)
            results = search()
            assert _last_job_id(spark) - last == jobs
            counts = {k: len(res.collect()) for k, res in results.items()}
            assert _last_job_id(spark) - last == jobs
            assert counts == {k: k * n_queries for k in results}
        kept = vec.search(q, topK=3, **self.KW)
        expect = _rows(kept)
        vec.close()
        text.close()
        assert _rows(kept) == expect

    FALLBACKS = ("over_cap", "unknown_size", "streaming")

    @pytest.mark.parametrize("case", FALLBACKS)
    @pytest.mark.parametrize("measurement", ["cos", "l2"])
    def test_fallback_targets_equal_driver_rows(self, spark, embeddings,
                                                monkeypatch, tmp_path,
                                                case, measurement):
        """A frame over DRIVER_RANK_CAP_BYTES, of unknown size, or a
        stream ranks in Spark against the held broadcasts (MapInPandas),
        and returns the rows the driver path returns, sim_val bits
        included (on a BLAS the GEMM padding makes batch-invariant, see
        TestQueryBatchInvariance)."""
        from faisssearcher_spark.operators import knn as knn_mod
        from faisssearcher_spark.plans import inspect

        s = SparkSearcher(embeddings, vec_col="embedding", key_col="vec_id",
                          measurement=measurement).train()
        q = embeddings.filter(F.col("vec_id") % 23 == 0)
        for kw in ({}, self.KW):
            expect = _rows(s.search(q, topK=5, **kw))
            with monkeypatch.context() as mp:
                if case == "over_cap":
                    mp.setattr(knn_mod, "DRIVER_RANK_CAP_BYTES", 0)
                elif case == "unknown_size":
                    mp.setattr(knn_mod, "_plan_size_bytes", lambda df: None)
                if case != "streaming":
                    res = s.search(q, topK=5, **kw)
                    assert "MapInPandas" in inspect.executed_plan(res)
                    assert _rows(res) == expect
                    continue
                path = str(tmp_path / f"q{len(kw)}")
                q.repartition(3).write.parquet(path)
                stream = spark.readStream.schema(q.schema).parquet(path)
                res = s.search(stream, topK=5, **kw)
                assert res.isStreaming
                name = f"held_fallback_{measurement}_{len(kw)}"
                query = (res.writeStream.format("memory").queryName(name)
                         .trigger(availableNow=True).start())
                query.awaitTermination()
                assert _rows(spark.table(name)) == expect
        s.close()

    @pytest.mark.parametrize("case", ["large_k", "text_frame",
                                      "text_list"])
    def test_driver_work_over_cap_ranks_in_spark(self, spark, embeddings,
                                                 documents, monkeypatch,
                                                 case):
        """The driver work at max(K) decides, not the frame's size
        estimate (a filter keeps its input's): a search within the cap
        ranks on the driver whatever the estimate, and one over it — a
        larger max(K), or one text more than fits — ranks in Spark
        (MapInPandas) and returns the driver path's rows."""
        from faisssearcher_spark.operators import knn as knn_mod
        from faisssearcher_spark.plans import inspect

        n = 6
        if case == "large_k":
            s = SparkSearcher(embeddings, vec_col="embedding",
                              key_col="vec_id", measurement="cos").train()
            target = embeddings.filter(F.col("vec_id") < n)
        else:
            s = SparkSearcher(documents.select("text", "lang"),
                              encoder=HashingEncoder(dim=8)).train()
            texts = [f"query {i} spark join" for i in range(n)]
            target = (texts if case == "text_list" else
                      _sized(spark, [(t,) for t in texts], "text string"))
        expect = _rows(s.search(target, topK=5, **self.KW))
        monkeypatch.setattr(knn_mod, "_plan_size_bytes", lambda df: 1 << 40)
        monkeypatch.setattr(knn_mod, "DRIVER_RANK_CAP_BYTES",
                            s._held.driver_bytes(n, 5))
        res = s.search(target, topK=5, **self.KW)
        assert "LocalTableScan" in inspect.executed_plan(res)
        if case == "large_k":
            res = s.search(target, topK=[5, 50], **self.KW)[5]
        else:
            monkeypatch.setattr(knn_mod, "DRIVER_RANK_CAP_BYTES",
                                s._held.driver_bytes(n - 1, 5))
            res = s.search(target, topK=5, **self.KW)
        assert "MapInPandas" in inspect.executed_plan(res)
        assert _rows(res) == expect
        s.close()

    def test_payload_dtypes_equal_catalyst(self, spark, embeddings):
        """Long, string, double and date payload columns keep their types
        and per-row values through the driver-built result."""
        items = embeddings.select(
            "vec_id", "embedding",
            (F.col("vec_id") * 7).cast("long").alias("p_long"),
            F.concat(F.lit("s"), F.col("vec_id").cast("string"))
            .alias("p_str"),
            (F.col("vec_id") / 3.0).alias("p_dbl"),
            F.date_add(F.lit("2020-01-01").cast("date"),
                       F.col("vec_id").cast("int")).alias("p_date"))
        s = SparkSearcher(items, vec_col="embedding", key_col="vec_id",
                          measurement="cos").train()
        assert s._held is not None
        q = embeddings.filter(F.col("vec_id") < 6)
        held = s.search(q, topK=4, **self.KW)
        assert held.schema.simpleString().endswith(
            "p_long:bigint,p_str:string,p_dbl:double,p_date:date>")
        self.assert_catalyst_parity(s, q, 4)
        s.close()


class TestAddItemsValidation:
    """A batch add_items rejects leaves the searcher as it was: corpus,
    items, held matrix and index all unchanged."""

    BAD = {
        "null": ([(9001, None, 0)], "NULL vectors"),
        "ragged": ([(9001, [1.0] * 64, 0), (9002, [1.0] * 63, 0)],
                   "ragged"),
        # checked as part of the union, as validate_vectors over it does
        "wrong_dim": ([(9001, [1.0] * 32, 0)], r"dims in \[32, 64\]"),
    }

    @pytest.mark.parametrize("case", sorted(BAD))
    @pytest.mark.parametrize("index_param", [None, "IVF4"],
                             ids=["held", "indexed"])
    def test_bad_batch_leaves_searcher_unchanged(self, spark, embeddings,
                                                 monkeypatch, index_param,
                                                 case):
        from faisssearcher_spark.operators import knn as knn_mod

        # local rows have no size estimate: pin one so that the union
        # stays within the hold bound
        monkeypatch.setattr(knn_mod, "_plan_size_bytes", lambda df: 1 << 10)
        base = embeddings.filter(F.col("vec_id") < 200)
        s = SparkSearcher(base, vec_col="embedding", key_col="vec_id",
                          measurement="cos", index_param=index_param).train()
        held = s._held
        assert (held is not None) == (index_param is None)
        q = embeddings.filter(F.col("vec_id") < 3)
        before = _rows(s.search(q, topK=3, keep_rank_no=True,
                                score_scale=4))
        rows, msg = self.BAD[case]
        batch = spark.createDataFrame(
            rows, "vec_id long, embedding array<float>, label int")
        with pytest.raises(ValueError, match=msg):
            s.add_items(batch, validate=True)
        assert s.corpus.count() == s.items.count() == 200
        assert s._held is held
        if held is not None:
            assert held.b_mat._jbroadcast.isValid()
        assert _rows(s.search(q, topK=3, keep_rank_no=True,
                              score_scale=4)) == before
        s.close()


class TestDriverEncodedQueries:
    """A list target on an encoder searcher is encoded once on the
    driver (SparkSearcher._encode_texts) into the float32 bits the Spark
    encode/whiten/normalize columns give; an indexed search takes that
    matrix without a query job, and every plan returns the rows a
    DataFrame target of the same texts gets."""

    TEXTS = ["spark join merge", "vector search index", "the",
             "spark join merge", "a b c d e f"]

    @pytest.fixture(scope="class")
    def whitening(self, documents):
        from faisssearcher_spark.encoders.base import encoder_udf
        from faisssearcher_spark.operators.whitening import VecsWhitening

        encoded = documents.withColumn(
            "emb", encoder_udf(HashingEncoder(dim=64))(F.col("text")))
        return VecsWhitening(48).fit(encoded, "emb")

    @staticmethod
    def _frame(spark, texts):
        return spark.createDataFrame([(t,) for t in texts], "text string")

    @pytest.mark.parametrize("whiten,kw", [
        (True, dict(measurement="cos")),
        (False, dict(measurement="cos")),
        (True, dict(measurement="ip", norm_vec=False))],
        ids=["whitened-cos", "cos", "whitened-ip"])
    def test_driver_vectors_equal_spark_vectors(self, spark, documents,
                                                whitening, whiten, kw):
        import numpy as np

        s = SparkSearcher(documents.select("text", "doc_id"),
                          encoder=HashingEncoder(dim=64),
                          whitening=whitening if whiten else None, **kw)
        texts = list(dict.fromkeys(
            r["text"] for r in documents.select("text").collect()))
        driver = s._encode_texts(texts)
        assert driver.ids == texts and driver.mat.dtype == np.float32
        # the Spark path encodes in Arrow batches of every size
        for parts in (1, 7):
            target = self._frame(spark, texts).repartition(parts)
            got = dict(s._prepare_queries(target).collect())
            spark_mat = np.array([got[t] for t in texts], dtype=np.float32)
            assert np.array_equal(driver.mat, spark_mat), parts

    @pytest.mark.parametrize("index_param", [
        "IVF8,PQ4", "IVF8,PQ4,RFlat", "PQ4,RFlat", "SQ8", "IVF8", "HNSW8",
        None])
    def test_list_and_frame_targets_same_rows(self, spark, documents,
                                              whitening, index_param):
        s = SparkSearcher(documents.select("text", "doc_id", "lang"),
                          encoder=HashingEncoder(dim=64), whitening=whitening,
                          measurement="cos", index_param=index_param).train()
        frame = self._frame(spark, list(dict.fromkeys(self.TEXTS)))
        for topK in (5, [1, 3]):
            by_list = s.search(self.TEXTS, topK=topK, keep_rank_no=True)
            by_frame = s.search(frame, topK=topK, keep_rank_no=True)
            if isinstance(topK, int):
                by_list, by_frame = {topK: by_list}, {topK: by_frame}
            assert sorted(by_list) == sorted(by_frame)
            for k in by_frame:
                assert by_list[k].schema == by_frame[k].schema
                rows = _rows(by_list[k])
                assert rows == _rows(by_frame[k]), k
                # a repeated text is one query: k rows per distinct text
                assert len(rows) == k * len(set(self.TEXTS))
        s.close()

    @pytest.mark.parametrize("radius", [0.5, [0.3, 0.6]])
    def test_range_search_list_equals_frame(self, spark, documents,
                                            whitening, radius):
        s = SparkSearcher(documents.select("text", "doc_id"),
                          encoder=HashingEncoder(dim=64), whitening=whitening,
                          measurement="cos").train()
        frame = self._frame(spark, list(dict.fromkeys(self.TEXTS)))
        by_list = s.range_search(self.TEXTS, radius)
        by_frame = s.range_search(frame, radius)
        if not isinstance(radius, list):
            by_list, by_frame = {radius: by_list}, {radius: by_frame}
        assert sorted(by_list) == sorted(by_frame)
        for r in by_frame:
            assert _rows(by_list[r]) == _rows(by_frame[r]) != []
        s.close()

    def test_indexed_list_search_launches_no_job(self, spark, documents,
                                                 whitening):
        s = SparkSearcher(documents.select("text", "doc_id"),
                          encoder=HashingEncoder(dim=64), whitening=whitening,
                          measurement="cos", index_param="IVF8,PQ4").train()
        for frame in s._cached_state():
            frame.count()
        before = _last_job_id(spark)
        res = s.search(self.TEXTS, topK=3)
        assert _last_job_id(spark) == before
        assert res.count() == 3 * len(set(self.TEXTS))
        assert _last_job_id(spark) > before
        s.close()

    def test_empty_list(self, documents):
        flat = SparkSearcher(documents.select("text", "lang"),
                             encoder=HashingEncoder(dim=8)).train()
        res = flat.search([], topK=3, keep_rank_no=True)
        assert res.schema.simpleString() == (
            "struct<source_item:string,sim_item:string,sim_val:double,"
            "rank_no:int,lang:string>")
        assert res.count() == 0
        flat.close()
        indexed = SparkSearcher(documents.select("text", "lang"),
                                encoder=HashingEncoder(dim=8),
                                index_param="IVF4,PQ2").train()
        with pytest.raises(ValueError, match="non-empty query set"):
            indexed.search([], topK=3)
        indexed.close()

    def test_raw_vector_list_target_raises_before_any_job(self, spark,
                                                          embeddings):
        s = SparkSearcher(embeddings, vec_col="embedding",
                          key_col="vec_id").train()
        before = _last_job_id(spark)
        for call in (lambda: s.search(["k1"]),
                     lambda: s.range_search(["k1"], 0.5)):
            with pytest.raises(TypeError, match="a list target needs an "
                                                "encoder"):
                call()
        assert _last_job_id(spark) == before
        s.close()

    def test_zero_norm_list_query_raises_before_any_job(self, spark,
                                                        documents):
        s = SparkSearcher(documents.select("text", "lang"),
                          encoder=HashingEncoder(dim=8)).train()
        before = _last_job_id(spark)
        with pytest.raises(ValueError, match="query '' encodes to the zero "
                                             "vector"):
            s.search(["spark join merge", ""], topK=3)
        assert _last_job_id(spark) == before
        s.close()
        # without normalization the zero vector is an ordinary query
        ip = SparkSearcher(documents.select("text", "lang"),
                           encoder=HashingEncoder(dim=8),
                           measurement="ip").train()
        assert ip.search([""], topK=2).count() == 2
        ip.close()

    def test_non_matrix_encoder_output_raises(self, documents):
        class Flat:
            dim = 8

            def encode(self, items):
                return HashingEncoder(dim=8).encode(items).ravel()

        s = SparkSearcher(documents.select("text", "lang"), encoder=Flat())
        s.corpus = documents   # train() would fail on the same encoder
        with pytest.raises(ValueError, match=r"want \(n, dim\)"):
            s.search(["spark join merge"], topK=2)


class TestBadQueriesRaiseInSearch:
    """Bad query vectors raise inside search(), on a holding searcher's
    driver path as on an index: NULL, ragged and wrong-dim vectors with
    validate_vectors' errors, and under cos a query that normalizes to
    zero with one message naming it, for list and frame targets."""

    BAD = {"null": ([(9001, [1.0] * 64, 0), (9002, None, 0)],
                    "1 NULL vectors in column"),
           "ragged": ([(9001, [1.0] * 64, 0), (9002, [1.0] * 63, 0)],
                      r"ragged vector column .*: dims in \[63, 64\]"),
           "wrong_dim": ([(9001, [1.0] * 32, 0)],
                         "expected dim 64, found 32")}

    @pytest.mark.parametrize("case", sorted(BAD))
    @pytest.mark.parametrize("index_param", [None, "IVF4"],
                             ids=["held", "indexed"])
    def test_bad_vectors(self, spark, embeddings, index_param, case):
        s = SparkSearcher(embeddings, vec_col="embedding", key_col="vec_id",
                          index_param=index_param).train()
        assert (s._held is not None) == (index_param is None)
        rows, msg = self.BAD[case]
        target = _sized(spark, rows,
                        "vec_id long, embedding array<float>, label int")
        with pytest.raises(ValueError, match=msg):
            s.search(target, topK=3)
        s.close()

    @pytest.mark.parametrize("index_param", [None, "IVF4"],
                             ids=["held", "indexed"])
    def test_zero_vector_one_message(self, spark, documents, embeddings,
                                     index_param):
        text = SparkSearcher(documents.select("text", "lang"),
                             encoder=HashingEncoder(dim=8),
                             index_param=index_param).train()
        vec = SparkSearcher(embeddings, vec_col="embedding",
                            key_col="vec_id", index_param=index_param).train()
        zero = "encodes to the zero vector, which cannot be L2-normalized"
        for s, target, name in (
                (text, ["spark join", ""], ""),
                (text, _sized(spark, [("spark join",), ("",)],
                              "text string"), ""),
                (vec, _sized(spark, [(9001, [0.0] * 64, 0)],
                             "vec_id long, embedding array<float>, "
                             "label int"), "9001")):
            with pytest.raises(ValueError) as err:
                s.search(target, topK=3)
            assert str(err.value) == f"query '{name}' {zero}"
        text.close()
        vec.close()


class TestZeroNormRows:
    """Under cos (norm_vec) a text that encodes to the zero vector has no
    direction: the normalize step names its row in whatever job first
    computes the vectors, where it used to fail with Spark's unnamed
    DIVIDE_BY_ZERO."""

    @staticmethod
    def _docs(documents):
        return documents.select("text", F.col("doc_id").cast("long")) \
            .filter(F.col("doc_id") < 40)

    @pytest.mark.parametrize("validate,index_param",
                             [(True, None), (False, None),
                              (False, "IVF8,PQ4")],
                             ids=["validate", "no-validate", "indexed"])
    def test_train_names_the_item(self, spark, documents, validate,
                                  index_param):
        corpus = self._docs(documents).unionByName(spark.createDataFrame(
            [("", 10_000)], "text string, doc_id long"))
        s = SparkSearcher(corpus, encoder=HashingEncoder(dim=8),
                          key_col="doc_id", index_param=index_param)
        try:
            with pytest.raises(ValueError, match="item '10000' encodes to "
                                                 "the zero vector"):
                s.train(validate=validate)
        finally:
            s.close()

    @pytest.mark.parametrize("index_param", [None, "IVF8,PQ4"])
    def test_frame_target_names_the_query(self, spark, documents,
                                          index_param):
        s = SparkSearcher(self._docs(documents),
                          encoder=HashingEncoder(dim=8), key_col="doc_id",
                          index_param=index_param).train()
        target = spark.createDataFrame([("spark join",), ("",)],
                                       "text string")
        # an index collects the target's vectors in search(); a flat
        # plan computes them when its result is read
        try:
            with pytest.raises(ValueError if index_param else Exception,
                               match="query '' encodes to the zero vector"):
                s.search(target, topK=3).collect()
        finally:
            s.close()
