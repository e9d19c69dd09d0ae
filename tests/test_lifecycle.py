"""Index/searcher cache lifecycle (unpersist/close).

The reference frees an index by dropping the Python object
(faiss_searcher.py:189-190); a Spark index pins encoded state in executor
storage, so the family exposes an explicit handle. Pinned here:
``unpersist()`` releases the cache but leaves the index usable (lineage
recompute); ``close()`` is terminal — storage released AND later searches
raise the not-fitted/not-trained guard.
"""

import pytest
from pyspark.sql import functions as F

from faisssearcher_spark.operators.ann import (IVFIndex, IVFPQIndex,
                                               PQIndex, SQIndex)
from faisssearcher_spark.operators.graph import NSWIndex


@pytest.fixture(scope="module")
def emb_small(spark, embeddings):
    return embeddings.limit(200).cache()


@pytest.fixture(scope="module")
def queries(spark, embeddings):
    return embeddings.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), "embedding")


@pytest.mark.parametrize("make", [
    lambda: PQIndex(m=4, metric="cos", seed=1),
    lambda: SQIndex(nbits=8, metric="cos"),
    lambda: IVFIndex(n_cells=4, nprobe=4, seed=1, max_iter=2),
    lambda: IVFPQIndex(n_cells=4, nprobe=4, m=4, metric="cos", seed=1,
                       kmeans_max_iter=2),
], ids=["pq", "sq", "ivf", "ivfpq"])
def test_unpersist_releases_then_close_bricks(spark, emb_small, queries,
                                              make):
    idx = make().fit(emb_small, item_key_col="vec_id",
                     item_vec_col="embedding")
    assert idx._items.is_cached
    # unpersist: storage back, index still answers (lineage recompute)
    assert idx.unpersist() is idx
    assert not idx._items.is_cached
    assert idx.search(queries, k=3, query_item_col="qid").count() > 0
    # close: terminal — the not-fitted guard takes over
    idx.close()
    with pytest.raises(RuntimeError, match="fit"):
        idx.search(queries, k=3, query_item_col="qid")


def test_ivfpq_close_releases_inner_ivf_cache(spark, emb_small):
    # the inner IVFIndex's cached cell assignments go with the codes
    emb_small.count()
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    idx = IVFPQIndex(n_cells=4, nprobe=4, m=4, metric="cos", seed=1,
                     kmeans_max_iter=2).fit(emb_small, item_key_col="vec_id",
                                            item_vec_col="embedding")
    idx._items.count()
    assert jsc.getPersistentRDDs().size() > before
    idx.close()
    assert jsc.getPersistentRDDs().size() == before
    idx._ivf.close()   # still idempotent after the outer close


def test_nsw_close(spark, emb_small, queries):
    idx = NSWIndex(m=4, ef_construction=8, ef_search=16, metric="cos",
                   n_shards=2).fit(emb_small, item_key_col="vec_id",
                                   item_vec_col="embedding")
    assert idx.graph.is_cached
    idx.unpersist()
    assert not idx.graph.is_cached
    assert idx.search(queries, k=3, query_item_col="qid").count() > 0
    idx.close()
    with pytest.raises(ValueError, match="fit"):
        idx.search(queries, k=3, query_item_col="qid")


def test_searcher_close(spark, documents):
    from faisssearcher_spark import SparkSearcher
    from faisssearcher_spark.encoders import HashingEncoder

    s = SparkSearcher(documents.limit(100).select("text", "lang"),
                      encoder=HashingEncoder(dim=8),
                      measurement="cos").train()
    assert s.corpus.is_cached
    s.unpersist()
    assert not s.corpus.is_cached
    assert s.search(["spark join merge"], topK=3).count() == 3
    s.close()
    with pytest.raises(RuntimeError, match="train"):
        s.search(["spark join merge"], topK=3)


def test_context_manager_closes(spark, emb_small, queries, documents):
    from faisssearcher_spark import SparkSearcher
    from faisssearcher_spark.encoders import HashingEncoder

    with PQIndex(m=4, metric="cos", seed=1).fit(
            emb_small, item_key_col="vec_id",
            item_vec_col="embedding") as idx:
        assert idx.search(queries, k=3, query_item_col="qid").count() > 0
    assert idx._items is None
    with SparkSearcher(documents.limit(50).select("text", "lang"),
                       encoder=HashingEncoder(dim=8),
                       measurement="cos").train() as s:
        assert s.search(["spark join"], topK=2).count() == 2
    assert s.corpus is None
    # close() runs on the exception path too
    with pytest.raises(RuntimeError, match="boom"):
        with NSWIndex(m=4, ef_construction=8, n_shards=2).fit(
                emb_small, item_key_col="vec_id",
                item_vec_col="embedding") as nsw:
            raise RuntimeError("boom")
    assert nsw.graph is None


def test_searcher_close_releases_fitted_index(spark, documents):
    from faisssearcher_spark import SparkSearcher
    from faisssearcher_spark.encoders import HashingEncoder

    s = SparkSearcher(documents.limit(100).select("text", "lang"),
                      encoder=HashingEncoder(dim=8), measurement="cos",
                      index_param="IVF4").train()
    inner = s._index
    assert inner is not None and inner._items.is_cached
    s.close()
    assert s._index is None
    assert inner._items is None


def test_bm25_lifecycle(spark, documents):
    from faisssearcher_spark.operators.bm25 import BM25Index

    docs = documents.limit(100)
    bm = BM25Index().fit(docs)
    state = bm._cached_state()
    assert len(state) == 2 and all(f.is_cached for f in state)
    q = docs.limit(3).select(F.col("doc_id").alias("qid"), "text")
    bm.unpersist()
    assert not any(f.is_cached for f in bm._cached_state())
    # still usable: lineage recompute
    assert bm.search(q, k=2, query_item_col="qid").count() > 0
    bm.close()
    assert bm._cached_state() == []
    with pytest.raises(RuntimeError, match="fit"):
        bm.search(q, k=2, query_item_col="qid")
    # context-manager protocol
    with BM25Index().fit(docs) as bm2:
        assert bm2.search(q, k=2, query_item_col="qid").count() > 0
    assert bm2._postings is None


def test_searcher_cached_state_includes_inner_index(spark, documents):
    from faisssearcher_spark import SparkSearcher
    from faisssearcher_spark.encoders import HashingEncoder

    s = SparkSearcher(documents.limit(100).select("text", "lang"),
                      encoder=HashingEncoder(dim=8), measurement="cos",
                      index_param="IVF4").train()
    state = s._cached_state()
    # corpus + the IVF index's encoded items
    assert s.corpus in state and s._index._items in state
    s.close()
    assert s._cached_state() == []


def test_close_bench_caches_releases_memo(spark, sf_dir):
    from faisssearcher_spark import registry
    from faisssearcher_spark.operators.ann import PQIndex

    emb = registry.load_table(spark, sf_dir, "embeddings")
    idx = registry._fitted_index(
        spark, sf_dir, "test_pq4",
        lambda: PQIndex(m=4, metric="cos", seed=1).fit(
            emb, item_key_col="vec_id", item_vec_col="embedding"))
    assert registry._FITTED_INDEX_CACHE   # populated
    n = registry.close_bench_caches(spark)
    assert n >= 1
    assert not registry._FITTED_INDEX_CACHE
    # close() is terminal on the released index
    q = emb.limit(2).select(F.col("vec_id").alias("qid"), "embedding")
    with pytest.raises(RuntimeError, match="fit"):
        idx.search(q, k=2, query_item_col="qid")
    # a later lookup re-fits (train-once per SESSION, not per process)
    idx2 = registry._fitted_index(
        spark, sf_dir, "test_pq4",
        lambda: PQIndex(m=4, metric="cos", seed=1).fit(
            emb, item_key_col="vec_id", item_vec_col="embedding"))
    assert idx2 is not idx
    assert idx2.search(q, k=2, query_item_col="qid").count() > 0
    registry.close_bench_caches(spark)


def test_fitted_index_concurrent_distinct_keys_overlap(spark, sf_dir):
    """Two threads fitting DIFFERENT specs must both land in the memo,
    each builder running exactly once, and the builds must be able to
    OVERLAP (the guide §2.6 composite-leg pattern: searcher_text_knn
    submits its hash and bm25 fits from two driver threads) — i.e. the
    lock guards the dict, not the builder call."""
    import threading

    from faisssearcher_spark import registry

    calls = {"a": 0, "b": 0}
    inside = threading.Barrier(2, timeout=10)

    class _Idx:
        def _cached_state(self):
            return []

        def close(self):
            pass

    def make(tag):
        def build():
            calls[tag] += 1
            # both builders must be in flight at once; a builder running
            # under the lock would deadlock this barrier (caught by the
            # timeout instead of hanging the suite)
            inside.wait()
            return _Idx()
        return build

    out = {}

    def run(tag):
        out[tag] = registry._fitted_index(
            spark, sf_dir, f"test_conc_{tag}", make(tag))

    ts = [threading.Thread(target=run, args=(t,)) for t in ("a", "b")]
    for t in ts:
        t.start()
    for t in ts:
        t.join(timeout=15)
    assert calls == {"a": 1, "b": 1}
    app = spark.sparkContext.applicationId
    assert (app, sf_dir, "test_conc_a") in registry._FITTED_INDEX_CACHE
    assert (app, sf_dir, "test_conc_b") in registry._FITTED_INDEX_CACHE
    registry.close_bench_caches(spark)


def test_fitted_index_same_key_race_builds_once(spark, sf_dir):
    """A same-key race must build exactly ONCE (per-key serialization):
    closing a double-built loser is NOT safe — Spark's CacheManager
    dedups cached data by logical plan, so a plan-equal loser's
    blocking unpersist would evict the winner's cache entries too."""
    import threading
    import time

    from faisssearcher_spark import registry

    built = []
    started = threading.Event()

    class _Idx:
        def _cached_state(self):
            return []

        def close(self):
            pass

    def build():
        started.set()
        built.append(object())
        time.sleep(0.3)   # hold the build window open so the racer
        return _Idx()     # provably arrives while it is in flight

    out = []

    def run():
        out.append(registry._fitted_index(
            spark, sf_dir, "test_conc_same", build))

    t1 = threading.Thread(target=run)
    t1.start()
    assert started.wait(timeout=10)   # racer enters DURING the build
    t2 = threading.Thread(target=run)
    t2.start()
    t1.join(timeout=15)
    t2.join(timeout=15)
    assert len(built) == 1            # the racer waited, no double build
    assert out[0] is out[1]           # both callers see the same entry
    registry.close_bench_caches(spark)


def test_fitted_index_evicts_dead_session_entries(spark, sf_dir):
    from faisssearcher_spark import registry
    from faisssearcher_spark.operators.ann import PQIndex

    class _Dummy:
        def _cached_state(self):
            return []

        def close(self):
            pass

    registry._FITTED_INDEX_CACHE[("dead-app-id", "/x", "spec")] = _Dummy()
    emb = registry.load_table(spark, sf_dir, "embeddings")
    registry._fitted_index(
        spark, sf_dir, "test_pq4_evict",
        lambda: PQIndex(m=4, metric="cos", seed=1).fit(
            emb, item_key_col="vec_id", item_vec_col="embedding"))
    assert ("dead-app-id", "/x", "spec") not in registry._FITTED_INDEX_CACHE
    registry.close_bench_caches(spark)
