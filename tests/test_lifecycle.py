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
    # close() releases every frame the index cached: the codes frame
    # (the inner IVFIndex holds centroids only and caches nothing)
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


class _Entry:
    """A memo entry with the lifecycle protocol and a close() counter."""

    def __init__(self):
        self.closes = 0

    def _cached_state(self):
        return []

    def close(self):
        self.closes += 1


def _pq_fit(emb):
    return PQIndex(m=4, metric="cos", seed=1).fit(
        emb, item_key_col="vec_id", item_vec_col="embedding")


def test_memo_close_is_terminal_then_refits(spark, emb_small, queries):
    from faisssearcher_spark.memo import SessionMemo

    memo = SessionMemo()
    key = (spark.sparkContext.applicationId, "/sf", "pq4")
    idx = memo.get(key, lambda: _pq_fit(emb_small))
    assert memo.get(key, lambda: _pq_fit(emb_small)) is idx   # a hit
    assert memo.close() == 1
    assert key not in memo
    # close() is terminal on the released index
    with pytest.raises(RuntimeError, match="fit"):
        idx.search(queries, k=2, query_item_col="qid")
    # a later lookup re-fits (train-once per SESSION, not per process)
    idx2 = memo.get(key, lambda: _pq_fit(emb_small))
    assert idx2 is not idx
    assert idx2.search(queries, k=2, query_item_col="qid").count() > 0
    memo.close()


def test_memo_hit_recaches_dropped_state(spark, emb_small):
    from faisssearcher_spark.memo import SessionMemo

    memo = SessionMemo()
    key = (spark.sparkContext.applicationId, "/sf", "pq4_recache")
    idx = memo.get(key, lambda: _pq_fit(emb_small))
    idx._items.unpersist(True)      # what the bench's clearCache() does
    assert not idx._items.storageLevel.useMemory
    assert memo.get(key, lambda: _pq_fit(emb_small)) is idx
    level = idx._items.storageLevel
    assert level.useMemory or level.useDisk
    memo.close()


def test_fitted_index_concurrent_distinct_keys_overlap():
    """Two threads building DIFFERENT keys must both land in the memo,
    each builder running exactly once, and the builds must be able to
    OVERLAP (the guide §2.6 composite-leg pattern: searcher_text_knn
    submits its hash and bm25 fits from two driver threads) — i.e. no
    lock is held across two keys' builder calls."""
    import threading

    from faisssearcher_spark.memo import SessionMemo

    memo = SessionMemo()
    calls = {"a": 0, "b": 0}
    inside = threading.Barrier(2, timeout=10)

    def make(tag):
        def build():
            calls[tag] += 1
            # both builders must be in flight at once; a builder running
            # under a shared lock would deadlock this barrier (caught by
            # the timeout instead of hanging the suite)
            inside.wait()
            return _Entry()
        return build

    def run(tag):
        memo.get(("app", "/sf", tag), make(tag))

    ts = [threading.Thread(target=run, args=(t,)) for t in ("a", "b")]
    for t in ts:
        t.start()
    for t in ts:
        t.join(timeout=15)
        assert not t.is_alive()
    assert calls == {"a": 1, "b": 1}
    assert ("app", "/sf", "a") in memo and ("app", "/sf", "b") in memo


def test_fitted_index_same_key_race_builds_once():
    """A same-key race must build exactly ONCE (per-key serialization):
    closing a double-built loser is NOT safe — Spark's CacheManager
    dedups cached data by logical plan, so a plan-equal loser's
    blocking unpersist would evict the winner's cache entries too."""
    import threading
    import time

    from faisssearcher_spark.memo import SessionMemo

    memo = SessionMemo()
    built = []
    started = threading.Event()

    def build():
        started.set()
        built.append(object())
        time.sleep(0.3)   # hold the build window open so the racer
        return _Entry()   # provably arrives while it is in flight

    out = []

    def run():
        out.append(memo.get(("app", "/sf", "same"), build))

    t1 = threading.Thread(target=run)
    t1.start()
    assert started.wait(timeout=10)   # racer enters DURING the build
    t2 = threading.Thread(target=run)
    t2.start()
    t1.join(timeout=15)
    t2.join(timeout=15)
    assert not (t1.is_alive() or t2.is_alive())
    assert len(built) == 1            # the racer waited, no double build
    assert out[0] is out[1]           # both callers see the same entry


def test_memo_close_during_build_race_builds_once():
    """close() while a build is in flight must not let a later caller
    build the same key again: the waiter reads the in-flight winner's
    entry, and the next close() releases that entry exactly once."""
    import threading
    import time

    from faisssearcher_spark.memo import SessionMemo

    memo = SessionMemo()
    key = ("app", "/sf", "slow")
    built = []
    started, finish = threading.Event(), threading.Event()

    def build():
        entry = _Entry()
        built.append(entry)
        started.set()
        assert finish.wait(timeout=10)
        return entry

    out = {}

    def run(tag):
        out[tag] = memo.get(key, build)

    a = threading.Thread(target=run, args=("a",))
    a.start()
    assert started.wait(timeout=10)
    assert memo.close() == 0          # nothing built yet
    b = threading.Thread(target=run, args=("b",))
    b.start()
    time.sleep(0.3)                   # b is now waiting on the key
    finish.set()
    a.join(timeout=15)
    b.join(timeout=15)
    assert not (a.is_alive() or b.is_alive())
    assert len(built) == 1
    assert out["a"] is out["b"] is built[0]
    assert memo.close() == 1
    assert built[0].closes == 1
    assert memo.close() == 0


def test_memo_refresh_releases_superseded_at_next_close():
    from faisssearcher_spark.memo import SessionMemo

    memo = SessionMemo()
    key = ("app", "/sf", "arc")
    first = memo.get(key, _Entry)
    second = memo.refresh(key, _Entry)
    assert second is not first
    assert memo.get(key, _Entry) is second
    # an earlier caller's lazy plan may still read the superseded entry
    assert first.closes == 0
    assert memo.close() == 2
    assert (first.closes, second.closes) == (1, 1)
    # plain values pin no storage: close() keeps them memoized
    rows = memo.refresh(("app", "/sf", "rows"), lambda: [(1, 2)])
    assert memo.close() == 0
    assert memo.get(("app", "/sf", "rows"), list) is rows


def test_memo_concurrent_stress_closes_every_entry_once():
    """Many threads mixing get / refresh / close on a few keys, with a
    short switch interval: no entry is closed twice and, after a final
    close(), none is left unreleased (a lost update would orphan or
    double-close one)."""
    import sys
    import threading

    from faisssearcher_spark.memo import SessionMemo

    memo = SessionMemo()
    built, built_lock = [], threading.Lock()

    def build():
        entry = _Entry()
        with built_lock:
            built.append(entry)
        return entry

    def worker(seed):
        for i in range(200):
            key = ("app", "/sf", (seed + i) % 3)
            op = (seed * 7 + i) % 5
            if op == 0:
                memo.refresh(key, build)
            elif op == 1:
                memo.close()
            else:
                memo.get(key, build)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        ts = [threading.Thread(target=worker, args=(n,)) for n in range(16)]
        for t in ts:
            t.start()
        for t in ts:
            t.join(timeout=60)
            assert not t.is_alive()
    finally:
        sys.setswitchinterval(old)
    memo.close()
    assert built and all(e.closes == 1 for e in built)
    assert not memo._key_locks


def test_fitted_index_evicts_dead_session_entries():
    from faisssearcher_spark.memo import SessionMemo

    memo = SessionMemo()
    dead = memo.get(("dead-app-id", "/x", "spec"), _Entry)
    memo.get(("live-app-id", "/x", "spec"), _Entry)
    assert ("dead-app-id", "/x", "spec") not in memo
    # the dead session's context is gone: dropped, never closed
    assert dead.closes == 0
    assert memo.close() == 1


def test_memo_close_returns_persistent_rdds_to_baseline(spark, emb_small):
    from faisssearcher_spark.memo import LandedFrame, SessionMemo

    emb_small.count()
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    memo = SessionMemo()
    app = spark.sparkContext.applicationId
    idx = memo.get((app, "/sf", "pq4_exit"), lambda: _pq_fit(emb_small))
    landed = memo.get((app, "/sf", "landed"), lambda: LandedFrame(
        emb_small.select("vec_id").filter(F.col("vec_id") % 2 == 0)))
    idx._items.count()
    landed.df.count()
    assert jsc.getPersistentRDDs().size() >= before + 2
    assert memo.close() == 2
    assert jsc.getPersistentRDDs().size() == before


def test_memo_tmp_root_removed_at_exit():
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = ("import os\n"
            "from faisssearcher_spark.memo import SessionMemo\n"
            "m = SessionMemo()\n"
            "d = m.tmpdir(prefix='state_')\n"
            "root = os.path.dirname(d)\n"
            "assert os.path.isdir(d) and os.path.isdir(root)\n"
            "assert os.path.dirname(m.tmpdir()) == root\n"
            "open(os.path.join(d, 'f'), 'w').close()\n"
            "print(root)\n")
    res = subprocess.run([sys.executable, "-c", code], cwd=repo,
                         capture_output=True, text=True, timeout=60)
    assert res.returncode == 0, res.stderr
    root = res.stdout.strip().splitlines()[-1]
    assert root and not os.path.exists(root)
