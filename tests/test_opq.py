"""OPQ rotation pretransform (operators/ann.py:_train_opq_rotation,
PQIndex(opq=True), IVFPQIndex(opq=True); Ge et al. 2013, the FAISS
``OPQ<m>,PQ<m>`` index_factory prefix the reference forwards verbatim,
faiss_searcher.py:104).

Semantics pinned here: the trained rotation is orthonormal; on
anisotropic/correlated data OPQ strictly reduces quantization error vs
axis-aligned PQ; rotated scoring is exact inner-product algebra (lossless
corpora still match exact search); save/load preserves the rotation
bit-for-bit; the facade routes OPQ specs natively only when block counts
match.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from faisssearcher_spark.operators.ann import (
    IVFPQIndex, PQIndex, _pq_assign, _pq_reconstruct,
    _train_opq_rotation, _train_pq_codebooks, parse_index_param)


@pytest.fixture(scope="module")
def aniso():
    """Correlated, variance-skewed sample — the case OPQ exists for:
    an axis-aligned m-way split leaves correlated high-variance mass
    inside single subspaces."""
    rng = np.random.default_rng(7)
    d = 16
    mix = rng.standard_normal((d, d)) * np.linspace(3.0, 0.1, d)[None, :]
    return rng.standard_normal((600, d)) @ mix


def _mse(mat, books, rot=None):
    y = mat if rot is None else mat @ rot
    recon = _pq_reconstruct(_pq_assign(y, books), books)
    return float(((y - recon) ** 2).sum(1).mean())


def test_rotation_is_orthonormal(aniso):
    rot, books = _train_opq_rotation(aniso, m=4, ksub=16, iters=8,
                                     seed=3, opq_iters=5)
    d = aniso.shape[1]
    assert np.allclose(rot @ rot.T, np.eye(d), atol=1e-10)
    assert books.shape == (4, 16, d // 4)


def test_opq_reduces_quantization_error_on_anisotropic_data(aniso):
    plain = _train_pq_codebooks(aniso, m=4, ksub=16, iters=8, seed=3)
    rot, books = _train_opq_rotation(aniso, m=4, ksub=16, iters=8,
                                     seed=3, opq_iters=5)
    # orthonormal rotation preserves norms, so the two MSEs compare in
    # the same units; demand a real margin, not noise
    assert _mse(aniso, books, rot) < 0.9 * _mse(aniso, plain)


@pytest.fixture(scope="module")
def aniso_df(spark, aniso):
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(aniso)]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>").cache()


def _recall(approx_df, exact_df, k):
    a, e = {}, {}
    for r in approx_df.collect():
        a.setdefault(r["source_item"], set()).add(r["sim_item"])
    for r in exact_df.collect():
        e.setdefault(r["source_item"], set()).add(r["sim_item"])
    hits = sum(len(a.get(q, set()) & s) for q, s in e.items())
    return hits / (len(e) * k)


def test_opq_index_recall_beats_plain_pq_l2(spark, aniso_df):
    from faisssearcher_spark.operators.knn import knn_join

    q = aniso_df.filter(F.col("vec_id") < 24).select(
        F.col("vec_id").alias("qid"), "embedding")
    exact = knn_join(q, aniso_df, metric="l2", k=5, query_item_col="qid",
                     item_key_col="vec_id", payload_cols=[]).cache()
    kw = dict(m=4, nbits=4, metric="l2", seed=3, train_iters=8)
    plain = PQIndex(**kw).fit(aniso_df, item_key_col="vec_id",
                              item_vec_col="embedding")
    opq = PQIndex(opq=True, opq_iters=5, **kw).fit(
        aniso_df, item_key_col="vec_id", item_vec_col="embedding")
    r_plain = _recall(plain.search(q, k=5, query_item_col="qid"), exact, 5)
    r_opq = _recall(opq.search(q, k=5, query_item_col="qid"), exact, 5)
    assert r_opq >= r_plain
    assert r_opq >= 0.5


def test_opq_lossless_corpus_matches_exact(spark):
    """Rotated ADC is exact inner-product algebra: when Lloyd lands on
    the (rotated) points, scores equal brute force."""
    from faisssearcher_spark.operators.knn import knn_join

    protos = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0],
              [0.0, 0.0, 1.0, 0.0], [0.0, 0.0, 0.0, 1.0]]
    rows = [(i, protos[i % 4] + protos[(i // 4) % 4]) for i in range(24)]
    corpus = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>")
    q = corpus.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("qid"), "embedding")
    pq = PQIndex(m=2, metric="cos", seed=1, opq=True, opq_iters=3).fit(
        corpus, item_key_col="vec_id", item_vec_col="embedding")
    a = {(r["source_item"], r["sim_item"]): r["sim_val"]
         for r in pq.search(q, k=5, query_item_col="qid").collect()}
    e = {(r["source_item"], r["sim_item"]): r["sim_val"]
         for r in knn_join(q, corpus, metric="cos", k=5,
                           query_item_col="qid", item_key_col="vec_id",
                           payload_cols=[]).collect()}
    for key in set(a) & set(e):
        assert a[key] == pytest.approx(e[key], abs=1e-9)
    for qid in {k[0] for k in e}:
        sa = sorted(v for k, v in a.items() if k[0] == qid)
        se = sorted(v for k, v in e.items() if k[0] == qid)
        assert sa == pytest.approx(se, abs=1e-9)


def test_opq_pq_save_load_roundtrip(spark, aniso_df, tmp_path):
    q = aniso_df.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("qid"), "embedding")
    idx = PQIndex(m=4, nbits=4, metric="l2", seed=3, train_iters=8,
                  opq=True, opq_iters=3).fit(
        aniso_df, item_key_col="vec_id", item_vec_col="embedding")
    path = str(tmp_path / "opq_idx")
    idx.save(path)
    back = PQIndex.load(spark, path)
    assert back.opq and back.rotation is not None
    assert np.array_equal(back.rotation, idx.rotation)
    want = sorted((r["source_item"], r["sim_item"], round(r["sim_val"], 9))
                  for r in idx.search(q, k=3, query_item_col="qid")
                  .collect())
    got = sorted((r["source_item"], r["sim_item"], round(r["sim_val"], 9))
                 for r in back.search(q, k=3, query_item_col="qid")
                 .collect())
    assert want == got


def test_opq_ivfpq_runs_with_exact_separable_scores(spark, embeddings):
    """Exhaustive probe + OPQ residual rotation: sim_val must still equal
    q·c + (qR)·(rR)-LUT — check against the recall of the plain variant
    at the same settings (rotation can't hurt by more than noise, and
    the search must produce full result sets)."""
    from faisssearcher_spark.operators.knn import knn_join

    corpus = embeddings.limit(400).cache()
    q = corpus.limit(12).select(
        F.col("vec_id").alias("qid"), "embedding")
    exact = knn_join(q, corpus, metric="cos", k=5, query_item_col="qid",
                     item_key_col="vec_id", payload_cols=[]).cache()
    kw = dict(n_cells=8, nprobe=8, m=4, nbits=4, seed=3, metric="cos",
              train_iters=8, kmeans_max_iter=8)
    plain = IVFPQIndex(**kw).fit(corpus, item_key_col="vec_id",
                                 item_vec_col="embedding")
    opq = IVFPQIndex(opq=True, opq_iters=4, **kw).fit(
        corpus, item_key_col="vec_id", item_vec_col="embedding")
    r_plain = _recall(plain.search(q, k=5, query_item_col="qid"), exact, 5)
    r_opq = _recall(opq.search(q, k=5, query_item_col="qid"), exact, 5)
    assert opq.rotation is not None
    assert r_opq >= r_plain - 0.1
    assert r_opq >= 0.3


def test_opq_ivfpq_save_load_roundtrip(spark, embeddings, tmp_path):
    corpus = embeddings.limit(200).cache()
    q = corpus.limit(6).select(F.col("vec_id").alias("qid"), "embedding")
    idx = IVFPQIndex(n_cells=4, nprobe=4, m=4, nbits=4, seed=3,
                     metric="cos", train_iters=6, kmeans_max_iter=6,
                     opq=True, opq_iters=3).fit(
        corpus, item_key_col="vec_id", item_vec_col="embedding")
    path = str(tmp_path / "opq_ivfpq")
    idx.save(path)
    back = IVFPQIndex.load(spark, path)
    assert back.opq and np.array_equal(back.rotation, idx.rotation)
    want = sorted((r["source_item"], r["sim_item"], round(r["sim_val"], 9))
                  for r in idx.search(q, k=3, query_item_col="qid")
                  .collect())
    got = sorted((r["source_item"], r["sim_item"], round(r["sim_val"], 9))
                 for r in back.search(q, k=3, query_item_col="qid")
                 .collect())
    assert want == got


def test_parse_opq_specs():
    assert parse_index_param("OPQ8,PQ8") == (PQIndex, {"m": 8, "opq": True},
                                             {}, False)
    assert parse_index_param("opq16,pq16").args == {"m": 16, "opq": True}
    spec = parse_index_param("OPQ16,IVF64,PQ16")
    assert spec.cls is IVFPQIndex
    assert spec.args == {"n_cells": 64, "m": 16, "opq": True}
    # mismatched block counts (or output-dim suffixes) build nothing
    for bad in ("OPQ8,PQ16", "OPQ16_64,PQ16", "OPQ8,IVF32,PQ16"):
        with pytest.raises(ValueError, match=bad):
            parse_index_param(bad)


def test_searcher_routes_opq_spec(spark, embeddings):
    from faisssearcher_spark.searcher import SparkSearcher

    corpus = embeddings.limit(200).select("vec_id", "embedding", "label")
    s = SparkSearcher(corpus, key_col="vec_id", vec_col="embedding",
                      measurement="cos", index_param="OPQ4,PQ4",
                      index_kwargs=dict(nbits=4, train_iters=6,
                                        opq_iters=3)).train()
    assert isinstance(s._index, PQIndex)
    assert s._index.opq and s._index.rotation is not None
    res = s.search(corpus.limit(3), topK=3, keep_rank_no=True)
    assert res.count() == 9
