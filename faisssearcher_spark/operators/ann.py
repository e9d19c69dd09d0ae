"""Approximate nearest-neighbor search paths.

The reference delegates ANN to FAISS index structures (HNSW / IVF via
``index_factory``, faiss_searcher.py:100-107). Spark has no resident index;
the scale-path equivalents are *partitioned pruning* strategies where the
candidate set comes from an equi-join on a derived bucket key:

- :func:`brute_force_topk` — the exact baseline (recall 1.0), see
  operators/knn.py;
- :class:`SignLSH` — random-hyperplane sign buckets: items hash to a
  ``num_bits``-bit bucket; queries probe their own bucket (+ optional
  multi-probe neighbors at hamming 1). The items⋈queries meeting is an
  equi-join on the bucket key → shuffled hash join, no cross product.
- :class:`IVFIndex` — the IVF analog: k-means coarse quantizer (MLlib),
  items assigned to nearest centroid cell, queries probe ``nprobe``
  nearest cells. Equivalent semantics to FAISS ``IVF<k>,Flat``.
- :class:`PQIndex` — product quantization with ADC search: per-subspace
  codebooks, items stored as m codes, query-time LUT accumulation.
  Equivalent semantics to FAISS ``PQ<m>``; no faiss dependency.
- :class:`IVFPQIndex` — cells + residual PQ (FAISS ``IVF<n>,PQ<m>``):
  candidate pruning via the cell equi-join, separable inner-product ADC
  (``q·c_cell + Σ LUT``), only m-byte codes shuffle.
- :class:`SQIndex` — per-dimension scalar quantizer (FAISS ``SQ8``):
  trained [vmin, vmax] bounds, d-byte codes, decode-and-GEMM search.
- :func:`faiss_topk` — optional real-FAISS path: per-executor search over a
  broadcast serialized index inside ``mapInPandas``; import-gated because
  faiss is not a hard dependency.

Recall is validated against the exact path (SURVEY.md §5.4) — the same way
FAISS validates itself.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from faisssearcher_spark.functions import metrics as M
from faisssearcher_spark.operators.knn import knn_join

brute_force_topk = knn_join


def _rank_topk(scored: DataFrame, k: int, higher_is_closer: bool) -> DataFrame:
    order = [F.col("sim_val").desc() if higher_is_closer else F.col("sim_val").asc(),
             F.col("sim_item").asc()]
    w = Window.partitionBy("source_item").orderBy(*order)
    return (scored.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= k)
            .withColumn("rank_no", F.col("__rn") - 1).drop("__rn"))


def _write_index_meta(spark, path: str, meta: dict) -> None:
    """One-row JSON-in-parquet config blob — the index family's shared
    persistence idiom ("data + config as parquet", no pickle). Single-
    sourced so the five family members (IVF/PQ/SQ/IVFPQ/NSW) cannot
    diverge on the meta layout (review catch: the block was copy-pasted
    per class)."""
    import json
    import os

    spark.createDataFrame([(json.dumps(meta),)], "meta string") \
        .coalesce(1).write.mode("overwrite") \
        .parquet(os.path.join(path, "meta"))


def _read_index_meta(spark, path: str) -> dict:
    import json
    import os

    return json.loads(
        spark.read.parquet(os.path.join(path, "meta")).first()["meta"])


class SignLSH:
    """Random-hyperplane sign-bucket LSH for cosine similarity.

    ``hyperplanes`` is a (num_bits, dim) float matrix. With ``seed`` they
    are drawn from a deterministic RNG; with ``use_leading_dims=True`` the
    "hyperplanes" are axis-aligned unit vectors on the first ``num_bits``
    dimensions — zero constants in the plan and exactly reproducible in
    plain SQL (the oracle-checkable variant).
    """

    def __init__(self, dim: int, num_bits: int = 8, seed: int = 42,
                 use_leading_dims: bool = False):
        self.dim = dim
        self.num_bits = num_bits
        self.use_leading_dims = use_leading_dims
        if use_leading_dims:
            if num_bits > dim:
                raise ValueError("num_bits must be <= dim for leading-dim buckets")
            self.hyperplanes = np.eye(num_bits, dim)
        else:
            rng = np.random.default_rng(seed)
            self.hyperplanes = rng.standard_normal((num_bits, dim))

    def bucket_expr(self, vec_col: Column | str) -> Column:
        """Bucket id: bit j set iff dot(v, hyperplane_j) >= 0."""
        v = M.as_double(vec_col)
        bits = []
        for j in range(self.num_bits):
            if self.use_leading_dims:
                proj = F.element_at(v, j + 1)
            else:
                hp = F.array(*[F.lit(float(x)) for x in self.hyperplanes[j]])
                proj = F.aggregate(F.zip_with(v, hp, lambda x, y: x * y),
                                   F.lit(0.0), lambda a, x: a + x)
            bits.append(F.when(proj >= 0, F.lit(1 << j)).otherwise(F.lit(0)))
        out = F.lit(0)
        for b in bits:
            out = out + b
        return out.cast("int")

    def topk(self, queries: DataFrame, items: DataFrame, *, k: int = 10,
             query_item_col: str = "query_id", item_key_col: str = "item",
             query_vec_col: str = "embedding", item_vec_col: str = "embedding",
             multiprobe_bits: int = 0) -> DataFrame:
        """Top-k cosine within the query's bucket (+ hamming-1 probes over
        the ``multiprobe_bits`` lowest bits). The items⋈queries meeting is
        an equi-join on bucket — shuffle keyed by bucket id, never m×n.

        Returns ``(source_item, sim_item, sim_val, rank_no)``.
        """
        it = items.select(
            F.col(item_key_col).alias("sim_item"),
            F.col(item_vec_col).alias("__i_vec"),
            self.bucket_expr(item_vec_col).alias("bucket"))
        q_bucket = self.bucket_expr(query_vec_col)
        probes = F.array(F.lit(0), *[F.lit(1 << j) for j in range(multiprobe_bits)])
        q = queries.select(
            F.col(query_item_col).alias("source_item"),
            F.col(query_vec_col).alias("__q_vec"),
            F.explode(F.array_distinct(F.transform(
                probes, lambda m: q_bucket.bitwiseXOR(m)))).alias("bucket"))
        scored = q.join(it, "bucket").withColumn(
            "sim_val", M.cosine(F.col("__q_vec"), F.col("__i_vec")))
        return _rank_topk(scored, k, higher_is_closer=True).select(
            "source_item", "sim_item", "sim_val", "rank_no")


class _ItemsLifecycleMixin:
    """FAISS free/reset analogue for the Spark cache layer. The reference
    releases an index by dropping the Python object
    (faiss_searcher.py:189-190 rebuilds in place); a Spark index pins its
    encoded state in executor storage via ``.cache()``, which outlives the
    Python reference until the session garbage-collects it — a long-lived
    service rotating many indexes needs the explicit handle.

    ``unpersist()`` hands executor storage back but keeps the index
    usable: the encoded state recomputes lazily from its lineage on the
    next search (one re-encode pass at worst). ``close()`` is terminal —
    it also drops the state reference, so a closed index raises the
    existing not-fitted guard instead of silently re-encoding a 100 TB
    corpus nobody asked for."""

    _items: "DataFrame | None"

    def _cached_state(self):
        """The frames this index pins in executor storage — the generic
        hook the bench memo re-registers after a session clearCache()
        and close() releases (BM25Index/SparkSearcher implement the same
        protocol over their own state frames)."""
        return [] if self._items is None else [self._items]

    def unpersist(self, blocking: bool = False):
        if self._items is not None:
            self._items.unpersist(blocking)
        return self

    def close(self) -> None:
        self.unpersist(blocking=True)
        self._items = None

    # context-manager sugar: `with PQIndex(...).fit(items) as idx:`
    # guarantees the executor-storage release on any exit path
    def __enter__(self):
        return self

    def __exit__(self, *exc) -> None:
        self.close()


class IVFIndex(_ItemsLifecycleMixin):
    """IVF-style coarse quantization: k-means cells + nprobe search.

    Parity target: FAISS ``index_factory(dim, "IVF<n>,Flat", metric)``
    (faiss_searcher.py:104). fit() trains MLlib k-means (distributed) and
    assigns every item to its nearest centroid; search() finds each query's
    ``nprobe`` nearest centroids (broadcast join against the tiny centroid
    table) and runs exact scoring *within the probed cells only* — the
    item⋈query meeting is an equi-join on cell id.
    """

    def __init__(self, n_cells: int = 64, nprobe: int = 4, seed: int = 42,
                 metric: str = "cos", max_iter: int = 20,
                 train_mode: str = "mllib", train_sample: int = 100_000):
        self.n_cells = n_cells
        self.nprobe = nprobe
        self.seed = seed
        self.metric = metric
        # max_iter trades centroid quality for fit cost — every k-means
        # iteration is a full Spark job, so on small-per-executor corpora
        # the ITERATION LAUNCH overhead dominates the math (measured:
        # ~0.5 s/iter at bench scale). Coarse quantization is insensitive
        # to late iterations; SemDeDup-style callers pass ~8.
        self.max_iter = max_iter
        # train_mode="mllib": distributed k-means over the full corpus
        # (the default — centroids see every row). "sample": seeded
        # numpy Lloyd on a bounded limit(train_sample) driver collect —
        # FAISS's own discipline (it trains coarse quantizers on
        # max_points_per_centroid samples), ~10 Spark jobs cheaper;
        # assignment of the full corpus is identical either way.
        if train_mode not in ("mllib", "sample"):
            raise ValueError(f"train_mode must be 'mllib' or 'sample', "
                             f"got {train_mode!r}")
        self.train_mode = train_mode
        self.train_sample = train_sample
        # spherical quantization for cosine: cluster and assign on
        # L2-normalized vectors so cells partition by DIRECTION, not
        # magnitude (FAISS equivalently normalizes inputs before an
        # inner-product IVF, faiss_searcher.py:53+104). Raw-L2 assignment
        # under a cosine metric measured 0.76 recall@10 where spherical
        # gives ≥0.9 at the same nprobe.
        self._spherical = metric in ("cos", "ip")
        self.centroids: np.ndarray | None = None
        self._items: DataFrame | None = None
        self._item_key = None
        self._item_vec = None

    def _nearest_cells_expr(self, vec_col: str, n: int) -> Column:
        """array<int> of the ``n`` nearest cell ids by L2, via one numpy
        GEMM per Arrow batch against the closure-captured centroid matrix.

        Deliberately NOT a Catalyst expression: embedding n_cells×dim
        centroid literals in the plan explodes plan size and Janino
        compilation at realistic index shapes (IVF4096 × 768-dim ≈ 3M
        literals — the r2 verdict's plan-bloat finding), and a broadcast
        centroid *join* would replicate every row n_cells times and pay a
        shuffle for the per-row top-n. The pandas_udf keeps the plan O(1),
        never shuffles, and the centroid matrix (n_cells×dim doubles)
        ships to executors once with the task closure.
        """
        cents = np.ascontiguousarray(self.centroids, dtype=np.float64)
        c_sq = (cents * cents).sum(axis=1)
        nn = min(n, len(cents))
        spherical = self._spherical

        @F.pandas_udf("array<int>")
        def _nearest(batch: pd.Series) -> pd.Series:
            mat = np.array(batch.to_list(), dtype=np.float64)
            if spherical:
                norms = np.linalg.norm(mat, axis=1, keepdims=True)
                mat = mat / np.where(norms == 0, 1.0, norms)
            d = (mat * mat).sum(axis=1, keepdims=True) \
                - 2.0 * (mat @ cents.T) + c_sq[None, :]
            # stable argsort → distance ties break by smallest cell id,
            # matching the former array_sort((d, cell) struct) order
            idx = np.argsort(d, kind="stable", axis=1)[:, :nn]
            return pd.Series([row.tolist() for row in idx.astype("int32")])

        return _nearest(M.as_double(vec_col))

    def fit(self, items: DataFrame, *, item_key_col: str = "item",
            item_vec_col: str = "embedding") -> "IVFIndex":
        if "cell" in items.columns:   # guard BEFORE the expensive train
            raise ValueError("items already has a 'cell' column — the "
                             "index would silently overwrite it; rename "
                             "it first")
        if self.train_mode == "sample":
            # orderBy(key).limit(n) = per-partition top-n + driver merge
            # (TakeOrdered): DETERMINISTIC given the corpus, unlike a bare
            # limit whose rows depend on partition layout — load()'s
            # rebuild-from-corpus contract needs the same sample anywhere
            sample = items.select(F.col(item_key_col).alias("k"),
                                  F.col(item_vec_col).alias("v")) \
                .orderBy("k").limit(self.train_sample).toPandas()
            if not len(sample):
                raise ValueError("IVFIndex.fit needs a non-empty corpus")
            mat = np.array(sample["v"].to_list(), dtype=np.float64)
            if self._spherical:
                norms = np.linalg.norm(mat, axis=1, keepdims=True)
                mat = mat / np.where(norms == 0, 1.0, norms)
            # one-subspace PQ training IS k-means over the full vector
            self.centroids = _train_pq_codebooks(
                mat, 1, self.n_cells, self.max_iter, self.seed)[0]
        else:
            from pyspark.ml.clustering import KMeans
            from pyspark.ml.functions import array_to_vector

            vec = F.col(item_vec_col).cast("array<double>")
            if self._spherical:
                from faisssearcher_spark.functions.vector import l2_normalize
                vec = l2_normalize(vec, zero_norm_nan=False)
            feats = items.select(
                F.col(item_key_col).alias("__key"),
                array_to_vector(vec).alias("features"))
            km = KMeans(k=self.n_cells, seed=self.seed,
                        maxIter=self.max_iter)
            model = km.fit(feats)
            self.centroids = np.array(
                [np.asarray(c) for c in model.clusterCenters()])
        self._item_key, self._item_vec = item_key_col, item_vec_col
        # assign once; persist the assignment like FAISS's add()
        assigned = items.withColumn(
            "cell", F.element_at(self._nearest_cells_expr(item_vec_col, 1), 1))
        self._items = assigned.cache()
        return self

    def assignments(self) -> DataFrame:
        """The fitted corpus with its ``cell`` assignment column — the
        coarse-quantization partition itself, reusable beyond search
        (e.g. SemDeDup's within-cell near-dup candidates,
        operators/dedup.py:semantic_cell_pairs)."""
        if self._items is None:
            raise RuntimeError("IVFIndex is not fit; call fit() first")
        return self._items

    def add_items(self, items: DataFrame) -> "IVFIndex":
        """FAISS ``index.add`` after training (faiss_searcher.py:124):
        assign new rows to their nearest existing cell (the quantizer is
        NOT retrained — FAISS semantics) and union them into the fitted
        corpus. Metadata-only union: both sides keep their partitioning,
        so incremental ingest costs one assignment pass over the new
        rows."""
        if self._items is None:
            raise RuntimeError("IVFIndex is not fit; call fit() first")
        assigned = items.withColumn(
            "cell",
            F.element_at(self._nearest_cells_expr(self._item_vec, 1), 1))
        old = self._items
        self._items = old.unionByName(
            assigned.select(*old.columns)).cache()
        old.unpersist()
        return self

    def search(self, queries: DataFrame, *, k: int = 10,
               query_item_col: str = "query_id",
               query_vec_col: str = "embedding",
               payload_cols: Sequence[str] | None = None) -> DataFrame:
        """``payload_cols`` carry item columns into the result inline —
        they ride the cell equi-join on the fitted assignment (the
        catalyst knn pattern), so no re-attach join and no broadcast of
        anything item-sized."""
        scored, higher, payload = self._probe_scored(
            queries, query_item_col, query_vec_col, payload_cols)
        return _rank_topk(scored, k, higher).select(
            "source_item", "sim_item", "sim_val", "rank_no", *payload)

    def _probe_scored(self, queries: DataFrame, query_item_col: str,
                      query_vec_col: str,
                      payload_cols: Sequence[str] | None
                      ) -> "tuple[DataFrame, bool, list]":
        """Shared probe-and-score frame for search()/range_search():
        nprobe nearest cells per query exploded onto the cell equi-join
        against the fitted assignment — only the reduction (top-k window
        vs radius filter) differs between the two callers."""
        if self._items is None:
            raise RuntimeError("IVFIndex is not fit; call fit() first")
        payload = list(payload_cols or [])
        metric_fn, higher = M.resolve_metric(self.metric)
        q = queries.select(
            F.col(query_item_col).alias("source_item"),
            F.col(query_vec_col).alias("__q_vec"),
            F.explode(self._nearest_cells_expr(query_vec_col, self.nprobe))
            .alias("cell"))
        it = self._items.select(
            F.col(self._item_key).alias("sim_item"),
            F.col(self._item_vec).alias("__i_vec"), "cell",
            *[F.col(c) for c in payload])
        scored = q.join(it, "cell").withColumn(
            "sim_val", metric_fn(F.col("__q_vec"), F.col("__i_vec")))
        return scored, higher, payload

    def range_search(self, queries: DataFrame, *, radius: float,
                     query_item_col: str = "query_id",
                     query_vec_col: str = "embedding",
                     payload_cols: Sequence[str] | None = None
                     ) -> DataFrame:
        """FAISS ``IndexIVF.range_search`` parity: every item within
        ``radius`` among the ``nprobe`` probed cells — approximate
        exactly the way FAISS's is (items in unprobed cells are missed;
        raise ``nprobe`` toward ``n_cells`` for exactness, at which
        point this equals the exact scan). Strict inequality, squared-l2
        convention, UNORDERED output — the same contract as
        ``operators/knn.radius_join``, with the scan replaced by the
        cell equi-join so only the probed fraction of the corpus is
        scored."""
        scored, higher, payload = self._probe_scored(
            queries, query_item_col, query_vec_col, payload_cols)
        keep = (F.col("sim_val") > radius if higher
                else F.col("sim_val") < radius)
        return scored.filter(keep).select(
            "source_item", "sim_item", "sim_val", *payload)


    # -- persistence (index lifecycle S2/S3, faiss_searcher.py:109-114,189-190)

    def save(self, path: str) -> None:
        """Persist centroids + cell-assigned corpus as Parquet (replaces
        faiss.write_index; an IVF 'index' here is data + config)."""
        if self._items is None or self.centroids is None:
            raise RuntimeError("IVFIndex is not fit; nothing to save")
        import os

        spark = self._items.sparkSession
        self._items.write.mode("overwrite").parquet(os.path.join(path, "items"))
        meta = {
            "n_cells": self.n_cells, "nprobe": self.nprobe,
            "seed": self.seed, "metric": self.metric,
            "item_key": self._item_key, "item_vec": self._item_vec,
            "centroids": [[float(x) for x in c] for c in self.centroids],
        }
        _write_index_meta(spark, path, meta)

    @classmethod
    def load(cls, spark, path: str) -> "IVFIndex":
        """Load + revalidate (the reference asserts ntotal/dim/is_trained on
        load, faiss_searcher.py:112-114; here: corpus non-empty and cell ids
        within range)."""
        import os

        meta = _read_index_meta(spark, path)
        index = cls(meta["n_cells"], meta["nprobe"], meta["seed"], meta["metric"])
        index.centroids = np.array(meta["centroids"])
        index._item_key, index._item_vec = meta["item_key"], meta["item_vec"]
        items = spark.read.parquet(os.path.join(path, "items"))
        stats = items.select(
            F.count("*").alias("n"), F.max("cell").alias("max_cell")).first()
        if not stats["n"]:
            raise ValueError("loaded IVF index has an empty corpus")
        if stats["max_cell"] >= meta["n_cells"]:
            raise ValueError(
                f"cell id {stats['max_cell']} out of range for "
                f"{meta['n_cells']} cells — corrupt index?")
        index._items = items.cache()
        return index


def _train_pq_codebooks(mat: np.ndarray, m: int, ksub: int,
                        iters: int, seed: int,
                        init: "np.ndarray | None" = None) -> np.ndarray:
    """Seeded per-subspace Lloyd: (m, ksub, d/m) codebooks from a sample
    matrix. Empty clusters reseed on a random point; a sample smaller
    than ksub pads with the first centroid (degenerate-corpus guard).
    ``init`` warm-starts from existing (m, ksub, dsub) codebooks (the
    OPQ alternation refreshes rather than retrains — Ge et al. 2013's
    non-parametric form).

    All m subspaces run BATCHED through 3-D numpy per Lloyd iteration
    (one (m, n, dsub) @ (m, dsub, k) matmul + one argmax + dsub
    bincounts, all into PREALLOCATED buffers — a fresh (m, n, k) score
    tensor per iteration pays its size over again in page faults:
    65 MB allocated-per-call measured 247 ms/iter vs 19 ms with
    ``out=``) instead of m sequential 2-D fits: at bench sample sizes
    the sequential form was dispatch-overhead-bound — OPQ's 6
    alternations × 16 subspaces × 5 inner iterations + the final
    16 × 20 made 800 Python-level Lloyd steps at ~3 ms each (~2.7 s of
    the ann_opq_topk bench leg, on a 2000 × 64 sample whose actual
    flops are microseconds). Scores run float32 (centroid update still
    accumulates float64 via bincount); rows chunk so the (m, chunk, k)
    score tensor stays ≲256 MB at the 100k default train_sample."""
    rng = np.random.default_rng(seed)
    n, d = mat.shape
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    dsub = d // m
    k = min(ksub, n)
    # (m, n, dsub): row layout is [sub0 | sub1 | ...], so the reshape
    # splits subspaces exactly like the column slices did. Centroids
    # and their updates stay float64 (the lossless-corpus contract:
    # when Lloyd lands on the points, ADC must equal brute force to
    # 1e-9 — f32 centroid storage broke it); only the SCORE tensor and
    # its GEMM inputs run float32, where rounding can at worst flip a
    # near-tie assignment.
    subs = np.ascontiguousarray(
        mat.reshape(n, m, dsub).transpose(1, 0, 2)).astype(np.float64)
    subs32 = subs.astype(np.float32)
    if init is not None:
        cents = np.ascontiguousarray(init[:, :k]).astype(np.float64)
    else:
        cents = np.stack([subs[j, rng.choice(n, size=k, replace=False)]
                          for j in range(m)]).copy()   # (m, k, dsub)
    subs_f8 = subs.reshape(m * n, dsub)
    assign = np.empty((m, n), dtype=np.int64)
    off = (np.arange(m) * k)[:, None]
    chunk = min(n, max(1024, int(256e6 / (m * k * 4))))
    scores = np.empty((m, chunk, k), dtype=np.float32)
    for _ in range(iters):
        # argmin_c ||x−c||² == argmax_c (x·c − ||c||²/2): the ||x||²
        # row term is constant per row
        half = (0.5 * (cents * cents).sum(2)).astype(np.float32)
        ct = np.ascontiguousarray(cents.transpose(0, 2, 1)) \
            .astype(np.float32)
        for s in range(0, n, chunk):
            e = min(n, s + chunk)
            sc = scores[:, :e - s]
            np.matmul(subs32[:, s:e], ct, out=sc)
            np.subtract(sc, half[:, None, :], out=sc)
            np.argmax(sc, axis=2, out=assign[:, s:e])
        flat = (assign + off).ravel()
        # bincount-with-weights per dim beats np.add.at (unbuffered
        # ufunc) by ~10× at the 100k-sample scale
        counts = np.bincount(flat, minlength=m * k)
        sums = np.empty((m * k, dsub))
        for c in range(dsub):
            sums[:, c] = np.bincount(flat, weights=subs_f8[:, c],
                                     minlength=m * k)
        filled = counts > 0
        c2 = cents.reshape(m * k, dsub)
        c2[filled] = sums[filled] / counts[filled, None]
        ej, ec = np.nonzero(~filled.reshape(m, k))
        if len(ej):   # empty cells: reseed on random same-subspace points
            cents[ej, ec] = subs[ej, rng.integers(n, size=len(ej))]
    books = np.zeros((m, ksub, dsub))
    books[:, :k] = cents
    if k < ksub:   # degenerate tiny corpus: repeat centroids
        books[:, k:] = cents[:, :1]
    return books


def _pq_assign(mat: np.ndarray, books: np.ndarray) -> np.ndarray:
    """(n, m) nearest-centroid codes of ``mat`` under ``books`` —
    the driver-side twin of the encode pandas_udf (shared by OPQ
    training, which needs encode/decode inside its alternation).
    Batched over subspaces like :func:`_train_pq_codebooks`; chunked
    so the (m, chunk, ksub) score tensor stays ≲256 MB."""
    m, ksub, dsub = books.shape
    n = len(mat)
    subs = np.ascontiguousarray(
        mat.reshape(n, m, dsub).transpose(1, 0, 2)).astype(np.float64)
    half = 0.5 * (books * books).sum(2)              # (m, ksub)
    bt = np.ascontiguousarray(books.transpose(0, 2, 1))
    codes = np.empty((n, m), dtype=np.int64)
    chunk = min(n, max(1024, int(256e6 / (m * ksub * 8))))
    scores = np.empty((m, chunk, ksub))
    for s in range(0, n, chunk):
        e = min(n, s + chunk)
        sc = scores[:, :e - s]
        np.matmul(subs[:, s:e], bt, out=sc)
        np.subtract(sc, half[:, None, :], out=sc)
        codes[s:e] = sc.argmax(2).T
    return codes


def _pq_reconstruct(codes: np.ndarray, books: np.ndarray) -> np.ndarray:
    """Decode (n, m) codes back to (n, d) centroid concatenations."""
    return np.concatenate(
        [books[j][codes[:, j]] for j in range(books.shape[0])], axis=1)


def _train_opq_rotation(mat: np.ndarray, m: int, ksub: int, iters: int,
                        seed: int, opq_iters: int = 10
                        ) -> tuple[np.ndarray, np.ndarray]:
    """OPQ-NP (Ge et al. 2013, "Optimized Product Quantization", CVPR —
    the non-parametric alternation FAISS's ``OPQ<m>`` pretransform
    implements): learn an orthonormal rotation R that minimizes PQ
    quantization error ‖XR − Q(XR)‖² by alternating

      (a) refresh the per-subspace codebooks on the rotated data XR,
      (b) the orthogonal-Procrustes solve  R = U Vᵀ  of
          U S Vᵀ = SVD(Xᵀ · recon(XR))

    Rotation spreads variance across the m subspaces and decorrelates
    them, so the same code budget quantizes finer whenever the data is
    anisotropic/correlated (on an isotropic corpus R is a no-op by
    symmetry). Returns ``(R, codebooks)`` with codebooks trained on
    ``mat @ R`` at full ``iters``. Pure driver numpy on the bounded
    training sample — the per-iteration cost is one d×d SVD plus a
    cheap Lloyd refresh; the distributed encode applies R inside the
    existing one-GEMM-per-batch pandas_udf, so the cluster-side plan is
    unchanged.
    """
    rng = np.random.default_rng(seed)
    d = mat.shape[1]
    # random orthonormal init (QR of a Gaussian): identity is a fixed
    # point whenever the axis-aligned split is already a local minimum —
    # a random start escapes it (FAISS inits OPQ randomly too)
    r_mat, _ = np.linalg.qr(rng.standard_normal((d, d)))
    inner = max(4, iters // 4)
    books = None
    for it in range(max(1, opq_iters)):
        rotated = mat @ r_mat
        # first alternation trains codebooks properly; later ones
        # REFRESH the previous books with a couple of Lloyd steps (the
        # Ge et al. non-parametric alternation updates codebooks
        # incrementally — the rotation moves slowly, so a from-scratch
        # retrain per alternation re-paid the whole convergence cost
        # opq_iters times over)
        books = _train_pq_codebooks(
            rotated, m, ksub, inner if it == 0 else 2, seed,
            init=None if it == 0 else books)
        recon = _pq_reconstruct(_pq_assign(rotated, books), books)
        u, _, vt = np.linalg.svd(mat.T @ recon)
        r_mat = u @ vt
    books = _train_pq_codebooks(mat @ r_mat, m, ksub, iters, seed,
                                init=books)
    return r_mat, books


def _exact_rescore(shortlist: DataFrame, items: DataFrame, *,
                   item_key_col: str, item_vec_col: str,
                   queries: DataFrame, query_item_col: str,
                   query_vec_col: str, metric: str) -> DataFrame:
    """IndexRefineFlat exact re-scoring shared by PQ/IVFPQ searches:
    join the quantized shortlist (``source_item, sim_item`` + riders)
    back to the stored float vectors — a candidate-sized equi-join, the
    corpus never rescans — broadcast the query vectors, and replace
    ``sim_val`` with the pure-Catalyst metric. Shortlist pairs are
    already unique (each item lives in exactly one shard/cell), so no
    dedup pass is needed."""
    from faisssearcher_spark.functions.metrics import resolve_metric

    fn, _ = resolve_metric(metric)
    item_vecs = items.select(F.col(item_key_col).alias("sim_item"),
                             F.col(item_vec_col).alias("__ivec"))
    qvecs = queries.select(F.col(query_item_col).alias("source_item"),
                           F.col(query_vec_col).alias("__qvec"))
    return (shortlist
            .join(item_vecs, "sim_item")
            .join(F.broadcast(qvecs), "source_item")
            .withColumn("sim_val", fn("__qvec", "__ivec").cast("double"))
            .drop("__ivec", "__qvec"))


def b1_rerank_topk(queries: DataFrame, items: DataFrame, *, k: int = 10,
                   factor: int = 4, metric: str = "cos",
                   query_item_col: str = "query_id",
                   item_key_col: str = "item",
                   query_vec_col: str = "embedding",
                   item_vec_col: str = "embedding") -> DataFrame:
    """Binary-quantization search: Hamming prefilter over 1-bit sign
    codes (functions/vector.quantize_b1), exact rerank of the shortlist.

    The scan stays O(m·n) like brute force — binary quantization is a
    SCAN accelerator, not a candidate pruner (compose with IVF cells for
    that) — but each comparison reads 32x less data and is pure codegen
    XOR+popcount integer work instead of a float fold, which is why
    serving layers run this shape over compressed columns at scale. The
    float vectors are touched only by the candidate-sized rerank join
    (``k·factor`` rows per query via the shared ``_exact_rescore``), so
    survivor scores are exact and recall is bounded only by whether the
    true top-k survive the sign-distance shortlist.

    Returns ``(source_item, sim_item, sim_val, rank_no)``; ties in
    Hamming break on item id, so results are deterministic."""
    from faisssearcher_spark.functions.metrics import resolve_metric
    from faisssearcher_spark.functions.vector import b1_hamming, quantize_b1

    if k < 1 or factor < 1:
        raise ValueError(f"k and factor must be >= 1 (got k={k}, "
                         f"factor={factor})")
    it = items.select(F.col(item_key_col).alias("sim_item"),
                      quantize_b1(item_vec_col).alias("__i_code"))
    q = queries.select(F.col(query_item_col).alias("source_item"),
                       quantize_b1(query_vec_col).alias("__q_code"))
    scored = F.broadcast(q).crossJoin(it).withColumn(
        "__ham", b1_hamming("__q_code", "__i_code"))
    w = Window.partitionBy("source_item").orderBy(
        F.col("__ham").asc(), F.col("sim_item").asc())
    shortlist = (scored.withColumn("__rn", F.row_number().over(w))
                 .filter(F.col("__rn") <= k * factor)
                 .select("source_item", "sim_item"))
    exact = _exact_rescore(shortlist, items, item_key_col=item_key_col,
                           item_vec_col=item_vec_col, queries=queries,
                           query_item_col=query_item_col,
                           query_vec_col=query_vec_col, metric=metric)
    _, higher = resolve_metric(metric)
    return _rank_topk(exact, k, higher_is_closer=higher).select(
        "source_item", "sim_item", "sim_val", "rank_no")


def mrl_rerank_topk(queries: DataFrame, items: DataFrame, *, k: int = 10,
                    dims: int = 16, factor: int = 4, metric: str = "cos",
                    query_item_col: str = "query_id",
                    item_key_col: str = "item",
                    query_vec_col: str = "embedding",
                    item_vec_col: str = "embedding") -> DataFrame:
    """Matryoshka two-stage search (Kusupati et al. 2022 adaptive
    retrieval): cosine over the renormalized first-``dims`` prefix
    shortlists ``k·factor`` candidates per query; the full-width
    vectors are touched only by the candidate-sized exact rerank
    (the shared ``_exact_rescore``), so survivor scores are exact.

    Like ``b1_rerank_topk`` this is a SCAN accelerator — the prefix
    pass is still O(m·n) pairs but reads ``dims/d`` of the float data —
    and it composes with IVF cells when the corpus also needs pruning.
    On MRL-trained embeddings the prefix preserves ranking and recall
    is near-exact; on arbitrary embeddings (e.g. the isotropic test
    corpus) the prefix is an unbiased low-d projection and recall
    degrades gracefully with ``dims`` (floor pinned in tests).

    Returns ``(source_item, sim_item, sim_val, rank_no)``; prefix-score
    ties break on item id, so results are deterministic."""
    from faisssearcher_spark.functions.metrics import resolve_metric
    from faisssearcher_spark.functions.vector import mrl_truncate

    if k < 1 or factor < 1 or dims < 1:
        raise ValueError(f"k, factor and dims must be >= 1 (got k={k}, "
                         f"factor={factor}, dims={dims})")
    if metric != "cos":
        # the shortlist ranks by cosine of the RENORMALIZED prefix —
        # pure direction. For dot/l2 on an unnormalized corpus a
        # large-norm true neighbor whose direction-prefix ranks below
        # k·factor never reaches the exact rerank, so recall can
        # collapse rather than degrade. Magnitude-aware shortlists are
        # the PQ/SQ/b1 paths.
        raise ValueError("mrl_rerank_topk supports metric='cos' only "
                         f"(got {metric!r}); use PQ/SQ/b1_rerank_topk "
                         "for magnitude-sensitive metrics")
    # truncated+renormalized vectors materialize ONCE per side, so the
    # per-pair cost below is a dims-length dot, not slice+normalize
    it = items.select(F.col(item_key_col).alias("sim_item"),
                      mrl_truncate(item_vec_col, dims).alias("__i_mrl"))
    q = queries.select(F.col(query_item_col).alias("source_item"),
                       mrl_truncate(query_vec_col, dims).alias("__q_mrl"))
    scored = F.broadcast(q).crossJoin(it).withColumn(
        "__ps", M.inner_product("__q_mrl", "__i_mrl"))
    w = Window.partitionBy("source_item").orderBy(
        F.col("__ps").desc(), F.col("sim_item").asc())
    shortlist = (scored.withColumn("__rn", F.row_number().over(w))
                 .filter(F.col("__rn") <= k * factor)
                 .select("source_item", "sim_item"))
    exact = _exact_rescore(shortlist, items, item_key_col=item_key_col,
                           item_vec_col=item_vec_col, queries=queries,
                           query_item_col=query_item_col,
                           query_vec_col=query_vec_col, metric=metric)
    _, higher = resolve_metric(metric)
    return _rank_topk(exact, k, higher_is_closer=higher).select(
        "source_item", "sim_item", "sim_val", "rank_no")


class PQIndex(_ItemsLifecycleMixin):
    """Product quantization with asymmetric-distance (ADC) search — the
    native-Spark analog of FAISS ``PQ<m>`` (and the PQ half of
    ``IVF<n>,PQ<m>``: compose with :class:`IVFIndex` cells upstream),
    index_factory strings the reference forwards verbatim
    (faiss_searcher.py:104). No faiss dependency.

    Vectors split into ``m`` subspaces; each subspace gets a ``2**nbits``-
    centroid codebook (seeded Lloyd on a bounded driver sample — FAISS
    trains PQ on a sample too); every item stores only its m one-byte-ish
    codes. Search computes, per query, an m×2**nbits lookup table of
    subspace scores and accumulates ``Σ_j LUT[j, code_j]`` per item — no
    item vector is ever touched at query time, which is the point: a
    100 TB float corpus becomes an ~m-bytes-per-row code table.

    Scale shape (the ``faiss_topk_sharded`` pattern): the code table stays
    DISTRIBUTED; the small query LUT tensor broadcasts; each Arrow batch
    accumulates scores with numpy gathers and emits only its local top-k;
    a final window merges per-shard candidates (≤ shards·k rows shuffle).
    Training is one bounded ``limit(train_sample)`` driver collect,
    encoding is one vectorized pandas_udf pass over the corpus.
    """

    def __init__(self, m: int = 8, nbits: int = 8, seed: int = 42,
                 metric: str = "cos", train_sample: int = 100_000,
                 train_iters: int = 20, opq: bool = False,
                 opq_iters: int = 10):
        if not 1 <= nbits <= 8:
            raise ValueError(f"nbits must be in [1, 8], got {nbits}")
        if m < 1:
            raise ValueError(f"m must be >= 1, got {m}")
        self.m, self.nbits, self.seed = m, nbits, seed
        self.ksub = 1 << nbits
        self.metric = metric
        self.train_sample = train_sample
        self.train_iters = train_iters
        # OPQ pretransform (FAISS "OPQ<m>,PQ<m>"): learn an orthonormal
        # rotation minimizing quantization error before splitting into
        # subspaces. Orthonormal ⇒ (Rq)·(Rx) = q·x and ‖Rq−Rx‖ = ‖q−x‖,
        # so scoring in rotated space is exact for every metric here.
        self.opq, self.opq_iters = opq, opq_iters
        self.rotation: np.ndarray | None = None
        # normalize only for cosine: METRIC_INNER_PRODUCT scores RAW
        # magnitudes in FAISS — normalizing here silently turned ip
        # into cos (review r5 finding #1). Scoring DIRECTION is a
        # separate flag: ip still ranks descending.
        self._spherical = metric == "cos"
        self._higher = metric in ("cos", "ip")
        self.codebooks: np.ndarray | None = None   # (m, ksub, dsub)
        self._items: DataFrame | None = None
        self._item_key = None
        self._vec_col = None

    # -- training (driver-side Lloyd on a bounded sample) ------------------

    def _train_codebooks(self, mat: np.ndarray) -> np.ndarray:
        return _train_pq_codebooks(mat, self.m, self.ksub,
                                   self.train_iters, self.seed)

    def _codes_expr(self, vec_col: str) -> Column:
        """array<smallint> of per-subspace nearest-centroid codes — one
        numpy GEMM per subspace per Arrow batch (the IVF assignment
        pattern; codebooks ride the task closure, the plan stays O(1))."""
        books = np.ascontiguousarray(self.codebooks)
        m, spherical = self.m, self._spherical
        dsub = books.shape[2]
        rot = None if self.rotation is None \
            else np.ascontiguousarray(self.rotation)

        @F.pandas_udf("array<smallint>")
        def _enc(batch: pd.Series) -> pd.Series:
            mat = np.array(batch.to_list(), dtype=np.float64)
            if spherical:
                norms = np.linalg.norm(mat, axis=1, keepdims=True)
                mat = mat / np.where(norms == 0, 1.0, norms)
            if rot is not None:   # OPQ: rotate AFTER normalize (the
                mat = mat @ rot   # rotation was trained on unit vectors)
            codes = np.empty((len(mat), m), dtype=np.int16)
            for j in range(m):
                sub = mat[:, j * dsub:(j + 1) * dsub]
                cb = books[j]
                d2 = ((sub * sub).sum(1, keepdims=True)
                      - 2.0 * sub @ cb.T + (cb * cb).sum(1)[None, :])
                codes[:, j] = d2.argmin(1)
            return pd.Series(list(codes))

        return _enc(M.as_double(vec_col))

    def fit(self, items: DataFrame, *, item_key_col: str = "item",
            item_vec_col: str = "embedding") -> "PQIndex":
        if "__codes" in items.columns:   # guard BEFORE the expensive train
            raise ValueError("items already has a '__codes' column — the "
                             "index would silently overwrite it; rename "
                             "it first")
        # deterministic bounded sample (TakeOrdered) — see IVFIndex.fit
        sample = items.select(F.col(item_key_col).alias("k"),
                              F.col(item_vec_col).alias("v")) \
            .orderBy("k").limit(self.train_sample).toPandas()
        if not len(sample):
            raise ValueError("PQIndex.fit needs a non-empty corpus")
        mat = np.array(sample["v"].to_list(), dtype=np.float64)
        if self._spherical:
            norms = np.linalg.norm(mat, axis=1, keepdims=True)
            mat = mat / np.where(norms == 0, 1.0, norms)
        if self.opq:
            self.rotation, self.codebooks = _train_opq_rotation(
                mat, self.m, self.ksub, self.train_iters, self.seed,
                self.opq_iters)
        else:
            self.codebooks = self._train_codebooks(mat)
        self._item_key = item_key_col
        self._vec_col = item_vec_col
        coded = items.withColumn("__codes", self._codes_expr(item_vec_col))
        self._items = coded.cache()
        return self

    def add_items(self, items: DataFrame) -> "PQIndex":
        """FAISS ``index.add`` after training (faiss_searcher.py:124):
        encode new rows with the EXISTING codebooks (no retrain — FAISS
        semantics) and union them into the code table. One vectorized
        encode pass over the new rows; metadata-only union."""
        if self._items is None:
            raise RuntimeError("PQIndex is not fit; call fit() first")
        coded = items.withColumn("__codes", self._codes_expr(self._vec_col))
        old = self._items
        self._items = old.unionByName(coded.select(*old.columns)).cache()
        old.unpersist()
        return self

    # -- ADC search --------------------------------------------------------

    def search(self, queries: DataFrame, *, k: int = 10,
               query_item_col: str = "query_id",
               query_vec_col: str = "embedding",
               keep_rank_no: bool = True,
               payload_cols: Sequence[str] | None = None,
               refine_factor: int | None = None) -> DataFrame:
        """ADC top-k search. ``refine_factor`` enables the FAISS
        ``IndexRefineFlat`` pattern: the quantized scan shortlists
        ``k × refine_factor`` candidates per query (per shard), which
        are then EXACTLY re-scored against the stored float vectors —
        a candidate-sized join + pure-Catalyst metric, so the exact
        pass touches ~k·factor vectors per query instead of the corpus.
        Recovers most of the recall PQ loses for a few percent extra
        cost; final ranking/scores are exact for the survivors."""
        if self._items is None:
            raise RuntimeError("PQIndex is not fit; call fit() first")
        if refine_factor is not None and refine_factor < 1:
            raise ValueError("refine_factor must be >= 1")
        from faisssearcher_spark.operators.knn import _merge_candidates

        q_pdf = queries.select(query_item_col, query_vec_col).toPandas()
        if not len(q_pdf):
            raise ValueError("PQIndex.search needs a non-empty query set "
                             "(the query LUT tensor is driver-built)")
        qmat = np.array(q_pdf[query_vec_col].to_list(), dtype=np.float64)
        if self._spherical:
            norms = np.linalg.norm(qmat, axis=1, keepdims=True)
            qmat = qmat / np.where(norms == 0, 1.0, norms)
        if self.rotation is not None:   # OPQ: same rotation as encode —
            qmat = qmat @ self.rotation  # (Rq)·(Rx) = q·x, exact scores
        books = self.codebooks
        m, dsub = self.m, books.shape[2]
        higher = self._higher
        # LUT[q, j, c]: subspace score of query q vs centroid c of book j
        lut = np.empty((len(qmat), m, self.ksub))
        for j in range(m):
            qs = qmat[:, j * dsub:(j + 1) * dsub]
            cb = books[j]
            if higher:                       # inner product accumulates
                lut[:, j, :] = qs @ cb.T
            else:                            # squared-L2 partials add up
                lut[:, j, :] = ((qs * qs).sum(1, keepdims=True)
                                - 2.0 * qs @ cb.T
                                + (cb * cb).sum(1)[None, :])
        spark = queries.sparkSession
        b_lut = spark.sparkContext.broadcast(lut)
        b_qid = spark.sparkContext.broadcast(
            q_pdf[query_item_col].to_numpy())
        kk = k * refine_factor if refine_factor else k
        hi, item_key = higher, self._item_key

        def _local(batches):
            tbl = b_lut.value
            qids = b_qid.value
            for pdf in batches:
                if not len(pdf):
                    continue
                codes = np.array(pdf["__codes"].to_list(), dtype=np.int64)
                nq, nb = tbl.shape[0], len(codes)
                scores = np.zeros((nq, nb))
                for j in range(tbl.shape[1]):
                    scores += tbl[:, j, codes[:, j]]
                loc = min(kk, nb)
                if hi:
                    top = np.argpartition(-scores, loc - 1, axis=1)[:, :loc]
                else:
                    top = np.argpartition(scores, loc - 1, axis=1)[:, :loc]
                keys = pdf[item_key].to_numpy()
                yield pd.DataFrame({
                    "source_item": np.repeat(qids, loc),
                    "sim_item": keys[top.ravel()],
                    "sim_val": np.take_along_axis(scores, top, axis=1)
                               .ravel().astype("float64"),
                })

        q_key_field = queries.schema[query_item_col]
        key_field = self._items.schema[self._item_key]
        cand_schema = (f"source_item {q_key_field.dataType.simpleString()}, "
                       f"sim_item {key_field.dataType.simpleString()}, "
                       "sim_val double")
        cand = self._items.select(self._item_key, "__codes").mapInPandas(
            _local, cand_schema)
        if refine_factor is not None:
            cand = _exact_rescore(
                cand.select("source_item", "sim_item"), self._items,
                item_key_col=self._item_key, item_vec_col=self._vec_col,
                queries=queries, query_item_col=query_item_col,
                query_vec_col=query_vec_col, metric=self.metric)
        return _merge_candidates(cand, self._items.drop("__codes"), k=k,
                                 higher_is_closer=higher,
                                 item_key_col=self._item_key,
                                 payload_cols=list(payload_cols or []),
                                 keep_rank_no=keep_rank_no)

    # -- persistence (S2/S3 parity: data + config as parquet) --------------

    def save(self, path: str) -> None:
        if self._items is None or self.codebooks is None:
            raise RuntimeError("PQIndex is not fit; nothing to save")
        import os

        spark = self._items.sparkSession
        self._items.write.mode("overwrite").parquet(
            os.path.join(path, "items"))
        meta = {
            "m": self.m, "nbits": self.nbits, "seed": self.seed,
            "metric": self.metric, "train_sample": self.train_sample,
            "train_iters": self.train_iters, "item_key": self._item_key,
            "vec_col": self._vec_col,
            "opq": self.opq, "opq_iters": self.opq_iters,
            "rotation": None if self.rotation is None else
                        [[float(x) for x in row] for row in self.rotation],
            "codebooks": [[[float(x) for x in c] for c in book]
                          for book in self.codebooks],
        }
        _write_index_meta(spark, path, meta)

    @classmethod
    def load(cls, spark, path: str) -> "PQIndex":
        """Load + revalidate (reference asserts on load,
        faiss_searcher.py:112-114): corpus non-empty, every code within
        the codebook range."""
        import os

        meta = _read_index_meta(spark, path)
        index = cls(meta["m"], meta["nbits"], meta["seed"], meta["metric"],
                    meta["train_sample"], meta["train_iters"],
                    opq=meta.get("opq", False),
                    opq_iters=meta.get("opq_iters", 10))
        index.codebooks = np.array(meta["codebooks"])
        if meta.get("rotation") is not None:
            index.rotation = np.array(meta["rotation"])
            d = index.codebooks.shape[0] * index.codebooks.shape[2]
            if index.rotation.shape != (d, d):
                raise ValueError("stored OPQ rotation inconsistent with "
                                 "codebook dimensions — corrupt index?")
        index._item_key = meta["item_key"]
        index._vec_col = meta.get("vec_col")
        items = spark.read.parquet(os.path.join(path, "items"))
        stats = items.select(
            F.count("*").alias("n"),
            F.max(F.array_max("__codes")).alias("max_code"),
            F.min(F.size("__codes")).alias("min_m"),
            F.max(F.size("__codes")).alias("max_m")).first()
        if not stats["n"]:
            raise ValueError("loaded PQ index has an empty corpus")
        if stats["min_m"] != meta["m"] or stats["max_m"] != meta["m"] \
                or stats["max_code"] >= index.ksub:
            raise ValueError("stored codes inconsistent with codebooks — "
                             "corrupt index?")
        index._items = items.cache()
        return index


class SQIndex(_ItemsLifecycleMixin):
    """Scalar quantization (FAISS ``SQ8``/``SQ4`` via index_factory,
    faiss_searcher.py:104): a per-DIMENSION linear quantizer — trained
    ``[vmin, vmax]`` bounds on a bounded driver sample — stores each
    vector as d small integer codes (d bytes at nbits=8 vs 4d float32),
    decoded approximately at search time. The simplest of the quantizer
    family: no codebooks, near-lossless at 8 bits, 4× smaller scans.

    Scale shape (the ``faiss_topk_sharded`` pattern): the code table
    stays distributed; the small query matrix broadcasts; each Arrow
    batch decodes (one fused multiply-add) and GEMMs against the
    queries, emitting its local top-k; a final window merges.

    ``add_items`` encodes with the EXISTING bounds (values beyond the
    trained range clip — FAISS behavior; retrain if the distribution
    drifts).
    """

    def __init__(self, nbits: int = 8, metric: str = "cos",
                 train_sample: int = 100_000):
        if not 1 <= nbits <= 8:
            raise ValueError(f"nbits must be in [1, 8], got {nbits}")
        self.nbits = nbits
        self.levels = (1 << nbits) - 1
        self.metric = metric
        self.train_sample = train_sample
        # normalize only for cosine (ip scores raw magnitudes); ip still
        # ranks descending — direction is a separate flag
        self._spherical = metric == "cos"
        self._higher = metric in ("cos", "ip")
        self.vmin: np.ndarray | None = None
        self.vmax: np.ndarray | None = None
        self._items: DataFrame | None = None
        self._item_key = None
        self._vec_col = None

    def _codes_expr(self, vec_col: str) -> Column:
        vmin = self.vmin
        scale = (self.vmax - self.vmin) / self.levels
        scale = np.where(scale == 0, 1.0, scale)   # constant dims -> code 0
        levels, spherical = self.levels, self._spherical

        @F.pandas_udf("array<smallint>")
        def _enc(batch: pd.Series) -> pd.Series:
            mat = np.array(batch.to_list(), dtype=np.float64)
            if spherical:
                norms = np.linalg.norm(mat, axis=1, keepdims=True)
                mat = mat / np.where(norms == 0, 1.0, norms)
            codes = np.clip(np.rint((mat - vmin) / scale),
                            0, levels).astype(np.int16)
            return pd.Series(list(codes))

        return _enc(M.as_double(vec_col))

    def fit(self, items: DataFrame, *, item_key_col: str = "item",
            item_vec_col: str = "embedding") -> "SQIndex":
        if "__codes" in items.columns:   # guard BEFORE the sample collect
            raise ValueError("items already has a '__codes' column — the "
                             "index would silently overwrite it; rename "
                             "it first")
        # deterministic bounded sample (TakeOrdered) — see IVFIndex.fit
        sample = items.select(F.col(item_key_col).alias("k"),
                              F.col(item_vec_col).alias("v")) \
            .orderBy("k").limit(self.train_sample).toPandas()
        if not len(sample):
            raise ValueError("SQIndex.fit needs a non-empty corpus")
        mat = np.array(sample["v"].to_list(), dtype=np.float64)
        if self._spherical:
            norms = np.linalg.norm(mat, axis=1, keepdims=True)
            mat = mat / np.where(norms == 0, 1.0, norms)
        self.vmin, self.vmax = mat.min(0), mat.max(0)
        self._item_key, self._vec_col = item_key_col, item_vec_col
        self._items = items.withColumn(
            "__codes", self._codes_expr(item_vec_col)).cache()
        return self

    def add_items(self, items: DataFrame) -> "SQIndex":
        if self._items is None:
            raise RuntimeError("SQIndex is not fit; call fit() first")
        coded = items.withColumn("__codes", self._codes_expr(self._vec_col))
        old = self._items
        self._items = old.unionByName(coded.select(*old.columns)).cache()
        old.unpersist()
        return self

    def search(self, queries: DataFrame, *, k: int = 10,
               query_item_col: str = "query_id",
               query_vec_col: str = "embedding",
               keep_rank_no: bool = True,
               payload_cols: Sequence[str] | None = None) -> DataFrame:
        if self._items is None:
            raise RuntimeError("SQIndex is not fit; call fit() first")
        from faisssearcher_spark.operators.knn import _merge_candidates

        q_pdf = queries.select(query_item_col, query_vec_col).toPandas()
        if not len(q_pdf):
            raise ValueError("SQIndex.search needs a non-empty query set "
                             "(the query matrix is driver-collected)")
        qmat = np.array(q_pdf[query_vec_col].to_list(), dtype=np.float64)
        if self._spherical:
            norms = np.linalg.norm(qmat, axis=1, keepdims=True)
            qmat = qmat / np.where(norms == 0, 1.0, norms)
        spark = queries.sparkSession
        b_q = spark.sparkContext.broadcast(qmat)
        b_qid = spark.sparkContext.broadcast(
            q_pdf[query_item_col].to_numpy())
        vmin = self.vmin
        scale = (self.vmax - self.vmin) / self.levels
        scale = np.where(scale == 0, 1.0, scale)
        higher = self._higher
        kk, item_key = k, self._item_key

        def _local(batches):
            qm, qids = b_q.value, b_qid.value
            for pdf in batches:
                if not len(pdf):
                    continue
                codes = np.array(pdf["__codes"].to_list(), dtype=np.float64)
                mat = codes * scale + vmin            # decode, fused
                if higher:
                    scores = qm @ mat.T               # (nq, nb) inner product
                else:
                    scores = (((mat * mat).sum(1)[None, :])
                              - 2.0 * qm @ mat.T
                              + (qm * qm).sum(1)[:, None])
                loc = min(kk, scores.shape[1])
                if higher:
                    top = np.argpartition(-scores, loc - 1, axis=1)[:, :loc]
                else:
                    top = np.argpartition(scores, loc - 1, axis=1)[:, :loc]
                keys = pdf[item_key].to_numpy()
                yield pd.DataFrame({
                    "source_item": np.repeat(qids, loc),
                    "sim_item": keys[top.ravel()],
                    "sim_val": np.take_along_axis(scores, top, axis=1)
                               .ravel().astype("float64"),
                })

        q_key_field = queries.schema[query_item_col]
        key_field = self._items.schema[self._item_key]
        cand_schema = (f"source_item {q_key_field.dataType.simpleString()}, "
                       f"sim_item {key_field.dataType.simpleString()}, "
                       "sim_val double")
        cand = self._items.select(self._item_key, "__codes").mapInPandas(
            _local, cand_schema)
        return _merge_candidates(cand, self._items.drop("__codes"), k=k,
                                 higher_is_closer=higher,
                                 item_key_col=self._item_key,
                                 payload_cols=list(payload_cols or []),
                                 keep_rank_no=keep_rank_no)

    # -- persistence (S2/S3 parity: data + config as parquet; the last
    # family member to gain it — PQ/IVF/IVFPQ/NSW had theirs) -------------

    def save(self, path: str) -> None:
        if self._items is None or self.vmin is None:
            raise RuntimeError("SQIndex is not fit; nothing to save")
        import os

        spark = self._items.sparkSession
        self._items.write.mode("overwrite").parquet(
            os.path.join(path, "items"))
        meta = {
            "nbits": self.nbits, "metric": self.metric,
            "train_sample": self.train_sample,
            "item_key": self._item_key, "vec_col": self._vec_col,
            "vmin": [float(x) for x in self.vmin],
            "vmax": [float(x) for x in self.vmax],
        }
        _write_index_meta(spark, path, meta)

    @classmethod
    def load(cls, spark, path: str) -> "SQIndex":
        """Load + revalidate (reference asserts on load,
        faiss_searcher.py:112-114): corpus non-empty, every code within
        the level range, code width equal to the trained dimension."""
        import os

        meta = _read_index_meta(spark, path)
        index = cls(meta["nbits"], meta["metric"], meta["train_sample"])
        index.vmin = np.array(meta["vmin"], dtype=np.float64)
        index.vmax = np.array(meta["vmax"], dtype=np.float64)
        if index.vmin.shape != index.vmax.shape or not index.vmin.size:
            raise ValueError("stored SQ bounds inconsistent — corrupt "
                             "index?")
        index._item_key = meta["item_key"]
        index._vec_col = meta.get("vec_col")
        items = spark.read.parquet(os.path.join(path, "items"))
        stats = items.select(
            F.count("*").alias("n"),
            F.max(F.array_max("__codes")).alias("max_code"),
            F.min(F.array_min("__codes")).alias("min_code"),
            F.min(F.size("__codes")).alias("min_d"),
            F.max(F.size("__codes")).alias("max_d")).first()
        if not stats["n"]:
            raise ValueError("loaded SQ index has an empty corpus")
        if (stats["min_d"] != index.vmin.size
                or stats["max_d"] != index.vmin.size
                or stats["min_code"] < 0
                or stats["max_code"] > index.levels):
            raise ValueError("stored codes inconsistent with bounds — "
                             "corrupt index?")
        index._items = items.cache()
        return index


class IVFPQIndex(_ItemsLifecycleMixin):
    """IVF + residual PQ — the FAISS workhorse ``IVF<n>,PQ<m>``
    (index_factory strings the reference forwards verbatim,
    faiss_searcher.py:104), natively in Spark, cosine/inner-product only.

    fit(): spherical k-means cells (:class:`IVFIndex`), then PQ codebooks
    trained on RESIDUALS (x − assigned centroid) — residuals have far
    less variance than raw vectors, so the same code budget quantizes
    finer (the reason FAISS encodes residuals). Items store (cell,
    m codes): ~m bytes instead of d floats.

    search(): for inner-product scores the residual decomposition is
    separable — ``q·x ≈ q·c_cell + Σ_j LUT[j, code_j]`` with ONE
    cell-independent LUT per query — so the plan is: probe nprobe
    nearest cells per query (driver GEMM over the tiny centroid table),
    broadcast-join the (qidx, cell, q·c) rows against the code table on
    the CELL equi-join (candidates pruned like IVF; only codes shuffle,
    never vectors), one vectorized pandas_udf gather adds the LUT sum,
    and the usual rank window takes top-k. Broadcast state: the LUT
    tensor (n_queries · m · 2^nbits doubles) — the inherent ADC state,
    independent of corpus size.
    """

    def __init__(self, n_cells: int = 64, nprobe: int = 4, m: int = 8,
                 nbits: int = 8, seed: int = 42, metric: str = "cos",
                 train_sample: int = 100_000, train_iters: int = 20,
                 kmeans_max_iter: int = 20, opq: bool = False,
                 opq_iters: int = 10):
        if metric not in ("cos", "ip"):
            raise ValueError(
                "IVFPQIndex supports 'cos'/'ip' only (the residual ADC "
                f"decomposition is inner-product algebra), got {metric!r}")
        if not 1 <= nbits <= 8:
            raise ValueError(f"nbits must be in [1, 8], got {nbits}")
        if m < 1:
            raise ValueError(f"m must be >= 1, got {m}")
        self.n_cells, self.nprobe = n_cells, nprobe
        self.m, self.nbits, self.seed = m, nbits, seed
        self.ksub = 1 << nbits
        self.metric = metric
        self.train_sample = train_sample
        self.train_iters = train_iters
        self.kmeans_max_iter = kmeans_max_iter
        # OPQ on the RESIDUALS (the quantity PQ actually quantizes):
        # cells stay in the original space — rotation preserves the
        # geometry the coarse quantizer sees, and q·x = q·c + q·r =
        # q·c + (qR)·(rR) keeps the separable ADC algebra exact.
        self.opq, self.opq_iters = opq, opq_iters
        self.rotation: np.ndarray | None = None
        self._ivf: IVFIndex | None = None
        self.codebooks: np.ndarray | None = None
        self._items: DataFrame | None = None
        self._item_key = None
        self._vec_col = None

    def _residual_codes_expr(self, vec_col: str, cell_col: str) -> Column:
        books = np.ascontiguousarray(self.codebooks)
        cents = np.ascontiguousarray(self._ivf.centroids)
        m, dsub = self.m, books.shape[2]
        rot = None if self.rotation is None \
            else np.ascontiguousarray(self.rotation)

        normalize = self.metric == "cos"

        @F.pandas_udf("array<smallint>")
        def _enc(vec: pd.Series, cell: pd.Series) -> pd.Series:
            mat = np.array(vec.to_list(), dtype=np.float64)
            if normalize:   # ip scores raw magnitudes (review r5 #1);
                # q·x = q·c + q·(x−c) is exact either way
                norms = np.linalg.norm(mat, axis=1, keepdims=True)
                mat = mat / np.where(norms == 0, 1.0, norms)
            res = mat - cents[cell.to_numpy()]
            if rot is not None:   # OPQ: rotate the residual (q·r ==
                res = res @ rot   # (qR)·(rR) keeps ADC exact)
            codes = np.empty((len(res), m), dtype=np.int16)
            for j in range(m):
                sub = res[:, j * dsub:(j + 1) * dsub]
                cb = books[j]
                d2 = ((sub * sub).sum(1, keepdims=True)
                      - 2.0 * sub @ cb.T + (cb * cb).sum(1)[None, :])
                codes[:, j] = d2.argmin(1)
            return pd.Series(list(codes))

        return _enc(M.as_double(vec_col), F.col(cell_col))

    def fit(self, items: DataFrame, *, item_key_col: str = "item",
            item_vec_col: str = "embedding") -> "IVFPQIndex":
        if "__codes" in items.columns:   # guard BEFORE the expensive train
            raise ValueError("items already has a '__codes' column — the "
                             "index would silently overwrite it; rename "
                             "it first")
        self._ivf = IVFIndex(self.n_cells, self.nprobe, self.seed,
                             self.metric,
                             max_iter=self.kmeans_max_iter).fit(
            items, item_key_col=item_key_col, item_vec_col=item_vec_col)
        assigned = self._ivf.assignments()
        # deterministic bounded sample (TakeOrdered) — see IVFIndex.fit
        sample = assigned.select(F.col(item_key_col).alias("k"),
                                 F.col(item_vec_col).alias("v"), "cell") \
            .orderBy("k").limit(self.train_sample).toPandas()
        mat = np.array(sample["v"].to_list(), dtype=np.float64)
        if self.metric == "cos":
            norms = np.linalg.norm(mat, axis=1, keepdims=True)
            mat = mat / np.where(norms == 0, 1.0, norms)
        residuals = mat - self._ivf.centroids[sample["cell"].to_numpy()]
        if self.opq:
            self.rotation, self.codebooks = _train_opq_rotation(
                residuals, self.m, self.ksub, self.train_iters,
                self.seed, self.opq_iters)
        else:
            self.codebooks = _train_pq_codebooks(
                residuals, self.m, self.ksub, self.train_iters, self.seed)
        self._item_key, self._vec_col = item_key_col, item_vec_col
        coded = assigned.withColumn(
            "__codes", self._residual_codes_expr(item_vec_col, "cell"))
        self._items = coded.cache()
        return self

    # The inner IVFIndex pins the cell assignments the codes were built
    # from; release them with the codes.  Search needs only its centroids.
    def unpersist(self, blocking: bool = False):
        if self._ivf is not None:
            self._ivf.unpersist(blocking)
        return super().unpersist(blocking)

    def close(self) -> None:
        super().close()
        if self._ivf is not None:
            self._ivf.close()

    def add_items(self, items: DataFrame) -> "IVFPQIndex":
        """FAISS ``index.add`` after training: assign new rows to their
        nearest existing cell, encode residuals with the existing
        codebooks (no retrain), union into the code table."""
        if self._items is None:
            raise RuntimeError("IVFPQIndex is not fit; call fit() first")
        assigned = items.withColumn(
            "cell",
            F.element_at(
                self._ivf._nearest_cells_expr(self._vec_col, 1), 1))
        coded = assigned.withColumn(
            "__codes", self._residual_codes_expr(self._vec_col, "cell"))
        old = self._items
        self._items = old.unionByName(coded.select(*old.columns)).cache()
        old.unpersist()
        return self

    def search(self, queries: DataFrame, *, k: int = 10,
               query_item_col: str = "query_id",
               query_vec_col: str = "embedding",
               payload_cols: Sequence[str] | None = None,
               refine_factor: int | None = None) -> DataFrame:
        """Cell-pruned ADC top-k. ``refine_factor`` shortlists
        ``k × refine_factor`` by quantized score and re-scores them
        EXACTLY against the stored vectors (the IndexRefineFlat
        pattern — see PQIndex.search); compensates both quantization
        loss and residual approximation."""
        if self._items is None:
            raise RuntimeError("IVFPQIndex is not fit; call fit() first")
        if refine_factor is not None and refine_factor < 1:
            raise ValueError("refine_factor must be >= 1")
        payload = list(payload_cols or [])
        q_pdf = queries.select(query_item_col, query_vec_col).toPandas()
        if not len(q_pdf):
            raise ValueError("IVFPQIndex.search needs a non-empty query "
                             "set (the query LUT tensor is driver-built)")
        qmat = np.array(q_pdf[query_vec_col].to_list(), dtype=np.float64)
        if self.metric == "cos":
            norms = np.linalg.norm(qmat, axis=1, keepdims=True)
            qmat = qmat / np.where(norms == 0, 1.0, norms)
        cents = self._ivf.centroids
        books = self.codebooks
        m, dsub = self.m, books.shape[2]
        nprobe = min(self.nprobe, len(cents))
        # nearest cells by L2 on normalized vectors == max inner product
        # on the unit sphere; stable argsort matches the assignment order
        d2 = ((qmat * qmat).sum(1, keepdims=True)
              - 2.0 * qmat @ cents.T + (cents * cents).sum(1)[None, :])
        probed = np.argsort(d2, kind="stable", axis=1)[:, :nprobe]
        qdotc = np.take_along_axis(qmat @ cents.T, probed, axis=1)
        # OPQ: the LUT half scores rotated residuals, so it uses the
        # rotated query; the q·c half stays in the original space
        qlut = qmat if self.rotation is None else qmat @ self.rotation
        lut = np.empty((len(qmat), m, self.ksub))
        for j in range(m):
            lut[:, j, :] = qlut[:, j * dsub:(j + 1) * dsub] @ books[j].T
        spark = queries.sparkSession
        b_lut = spark.sparkContext.broadcast(lut)

        qside = pd.DataFrame({
            "__qidx": np.repeat(np.arange(len(qmat)), nprobe),
            "source_item": np.repeat(q_pdf[query_item_col].to_numpy(),
                                     nprobe),
            "cell": probed.ravel().astype("int32"),
            "__qdotc": qdotc.ravel(),
        })
        q_df = spark.createDataFrame(qside)

        @F.pandas_udf("double")
        def _adc(qidx: pd.Series, codes: pd.Series) -> pd.Series:
            tbl = b_lut.value
            qi = qidx.to_numpy()
            cd = np.array(codes.to_list(), dtype=np.int64)
            out = tbl[qi[:, None],
                      np.arange(tbl.shape[1])[None, :], cd].sum(1)
            return pd.Series(out)

        it = self._items.select(
            F.col(self._item_key).alias("sim_item"), "cell", "__codes",
            *[F.col(c) for c in payload])
        scored = (it.join(F.broadcast(q_df), "cell")
                  .withColumn("sim_val",
                              F.col("__qdotc")
                              + _adc(F.col("__qidx"), F.col("__codes"))))
        if refine_factor is not None:
            from faisssearcher_spark.functions.metrics import resolve_metric

            _, higher = resolve_metric(self.metric)
            shortlist = _rank_topk(scored, k * refine_factor, True)
            rescored = _exact_rescore(
                shortlist.select("source_item", "sim_item", *payload),
                self._items, item_key_col=self._item_key,
                item_vec_col=self._vec_col, queries=queries,
                query_item_col=query_item_col,
                query_vec_col=query_vec_col, metric=self.metric)
            return _rank_topk(rescored, k, higher).select(
                "source_item", "sim_item", "sim_val", "rank_no", *payload)
        return _rank_topk(scored, k, True).select(
            "source_item", "sim_item", "sim_val", "rank_no", *payload)

    # -- persistence (S2/S3 parity: data + config as parquet) --------------

    def save(self, path: str) -> None:
        if self._items is None or self.codebooks is None:
            raise RuntimeError("IVFPQIndex is not fit; nothing to save")
        import os

        spark = self._items.sparkSession
        self._items.write.mode("overwrite").parquet(
            os.path.join(path, "items"))
        meta = {
            "n_cells": self.n_cells, "nprobe": self.nprobe,
            "m": self.m, "nbits": self.nbits, "seed": self.seed,
            "metric": self.metric, "train_sample": self.train_sample,
            "train_iters": self.train_iters,
            "kmeans_max_iter": self.kmeans_max_iter,
            "item_key": self._item_key, "vec_col": self._vec_col,
            "opq": self.opq, "opq_iters": self.opq_iters,
            "rotation": None if self.rotation is None else
                        [[float(x) for x in row] for row in self.rotation],
            "centroids": [[float(x) for x in c]
                          for c in self._ivf.centroids],
            "codebooks": [[[float(x) for x in c] for c in book]
                          for book in self.codebooks],
        }
        _write_index_meta(spark, path, meta)

    @classmethod
    def load(cls, spark, path: str) -> "IVFPQIndex":
        """Load + revalidate: corpus non-empty, cells and codes in
        range (reference asserts on load, faiss_searcher.py:112-114)."""
        import os

        meta = _read_index_meta(spark, path)
        index = cls(meta["n_cells"], meta["nprobe"], meta["m"],
                    meta["nbits"], meta["seed"], meta["metric"],
                    meta["train_sample"], meta["train_iters"],
                    meta["kmeans_max_iter"],
                    opq=meta.get("opq", False),
                    opq_iters=meta.get("opq_iters", 10))
        index.codebooks = np.array(meta["codebooks"])
        if meta.get("rotation") is not None:
            index.rotation = np.array(meta["rotation"])
            d = index.codebooks.shape[0] * index.codebooks.shape[2]
            if index.rotation.shape != (d, d):
                raise ValueError("stored OPQ rotation inconsistent with "
                                 "codebook dimensions — corrupt index?")
        index._item_key = meta["item_key"]
        index._vec_col = meta["vec_col"]
        ivf = IVFIndex(meta["n_cells"], meta["nprobe"], meta["seed"],
                       meta["metric"], max_iter=meta["kmeans_max_iter"])
        ivf.centroids = np.array(meta["centroids"])
        ivf._item_key, ivf._item_vec = meta["item_key"], meta["vec_col"]
        index._ivf = ivf
        items = spark.read.parquet(os.path.join(path, "items"))
        stats = items.select(
            F.count("*").alias("n"), F.max("cell").alias("max_cell"),
            F.max(F.array_max("__codes")).alias("max_code"),
            F.min(F.size("__codes")).alias("min_m"),
            F.max(F.size("__codes")).alias("max_m")).first()
        if not stats["n"]:
            raise ValueError("loaded IVFPQ index has an empty corpus")
        if stats["max_cell"] >= meta["n_cells"] \
                or stats["min_m"] != meta["m"] \
                or stats["max_m"] != meta["m"] \
                or stats["max_code"] >= index.ksub:
            raise ValueError("stored cells/codes inconsistent with the "
                             "quantizers — corrupt index?")
        index._items = items.cache()
        ivf._items = items
        return index


def parse_index_param(spec: str):
    """Map a FAISS ``index_factory`` spec string (the reference's
    ``index_param``, forwarded verbatim at faiss_searcher.py:104) onto a
    native engine path:

    - ``"Flat"`` → ``("flat",)`` — exact search, no index;
    - ``"IVF<n>"`` / ``"IVF<n>,Flat"`` → ``("ivf", n)``;
    - ``"PQ<m>"`` → ``("pq", m)``;
    - ``"SQ<b>"`` → ``("sq", b)`` — scalar quantizer, b ∈ {4, 8};
    - ``"IVF<n>,PQ<m>"`` → ``("ivfpq", n, m)``;
    - ``"OPQ<m>,PQ<m>"`` → ``("opq_pq", m)`` and
      ``"OPQ<m>,IVF<n>,PQ<m>"`` → ``("opq_ivfpq", n, m)`` — the OPQ
      rotation pretransform, native when the OPQ block count equals the
      PQ block count (the common spec); mismatched counts (FAISS allows
      ``OPQ<m>_<d'>`` output-dim games) fall through to real FAISS;
    - ``"HNSW<m>"`` → ``("nsw", m)`` — the native sharded NSW graph
      (operators/graph.py), covering the reference's IndexHNSWFlat
      special-case without the faiss import;
    - anything else (HNSW composites, NSG, …) → ``("faiss", spec)`` —
      the import-gated real-FAISS pass-through, exactly the reference's
      fallthrough behavior.
    """
    import re as _re

    s = spec.strip()
    if s.lower() == "flat":
        return ("flat",)
    m = _re.fullmatch(r"(?i)IVF(\d+)(?:,Flat)?", s)
    if m:
        return ("ivf", int(m.group(1)))
    m = _re.fullmatch(r"(?i)PQ(\d+)", s)
    if m:
        return ("pq", int(m.group(1)))
    m = _re.fullmatch(r"(?i)SQ([48])", s)
    if m:
        return ("sq", int(m.group(1)))
    m = _re.fullmatch(r"(?i)IVF(\d+),PQ(\d+)", s)
    if m:
        return ("ivfpq", int(m.group(1)), int(m.group(2)))
    m = _re.fullmatch(r"(?i)OPQ(\d+),PQ(\d+)", s)
    if m and m.group(1) == m.group(2):
        return ("opq_pq", int(m.group(2)))
    m = _re.fullmatch(r"(?i)OPQ(\d+),IVF(\d+),PQ(\d+)", s)
    if m and m.group(1) == m.group(3):
        return ("opq_ivfpq", int(m.group(2)), int(m.group(3)))
    m = _re.fullmatch(r"(?i)HNSW(\d+)", s)
    if m:
        # round 6: bare HNSW<m> (the reference's IndexHNSWFlat
        # special-case) now builds the NATIVE sharded NSW graph
        # (operators/graph.py) — same convention as IVF/PQ specs
        # mapping to native indexes; composite HNSW specs still fall
        # through to real FAISS below.
        return ("nsw", int(m.group(1)))
    return ("faiss", s)


def _build_faiss_index(mat: "np.ndarray", index_param: str, faiss_metric):
    """index_factory wrapper with the reference's HNSW special-case
    (faiss_searcher.py:100-107): a bare "HNSW<m>" spec maps to
    IndexHNSWFlat because index_factory would reject the metric combo."""
    import faiss

    dim = mat.shape[1]
    if "HNSW" in index_param.upper() and "," not in index_param:
        index = faiss.IndexHNSWFlat(
            dim, int(index_param.upper().split("HNSW")[-1]), faiss_metric)
    else:
        index = faiss.index_factory(dim, index_param, faiss_metric)
    index.train(mat)
    index.add(mat)
    return index


def faiss_topk(queries: DataFrame, items: DataFrame, *, k: int = 10,
               index_param: str = "HNSW32", metric: str = "cos",
               query_item_col: str = "query_id", item_key_col: str = "item",
               query_vec_col: str = "embedding", item_vec_col: str = "embedding",
               payload_cols: "Sequence[str] | None" = None) -> DataFrame:
    """Real-FAISS approximate path (optional dependency).

    Builds the index driver-side from the (collected) item vectors, then
    broadcasts the serialized blob and searches per query-partition inside
    ``mapInPandas`` — the Spark translation of the reference's
    train+search (faiss_searcher.py:116-125, 161-187). Suitable when the
    *corpus* fits one machine but queries are huge; for corpora beyond one
    machine use :func:`faiss_topk_sharded` (per-shard index + merge).

    Raises ImportError when faiss is not installed (it is optional; the
    exact path and SignLSH/IVF need no native deps).
    """
    import faiss  # noqa: F401  (import-gated: optional native dep)

    item_pdf = items.select(item_key_col, item_vec_col).toPandas()
    mat = np.ascontiguousarray(
        np.array(item_pdf[item_vec_col].to_list(), dtype=np.float32))
    faiss_metric = (faiss.METRIC_INNER_PRODUCT if metric in ("cos", "ip")
                    else faiss.METRIC_L2)
    if metric == "cos":
        faiss.normalize_L2(mat)
    index = _build_faiss_index(mat, index_param, faiss_metric)
    blob = faiss.serialize_index(index)
    keys = item_pdf[item_key_col].to_numpy()
    spark = queries.sparkSession
    b_blob = spark.sparkContext.broadcast(bytes(blob))
    b_keys = spark.sparkContext.broadcast(keys)
    normalize = metric == "cos"

    def _search(batches):
        import faiss as fa
        import pandas as pd
        idx = fa.deserialize_index(np.frombuffer(b_blob.value, dtype=np.uint8))
        for pdf in batches:
            if not len(pdf):
                continue
            qmat = np.ascontiguousarray(
                np.array(pdf[query_vec_col].to_list(), dtype=np.float32))
            if normalize:
                fa.normalize_L2(qmat)
            dist, ind = idx.search(qmat, k)
            # FAISS pads short result lists with -1 indices (fewer than k
            # reachable neighbors); mask them out instead of letting -1
            # wrap to the last corpus key with a garbage distance.
            valid = ind >= 0
            n_valid = valid.sum(axis=1)
            rows = {
                "source_item": np.repeat(pdf[query_item_col].to_numpy(),
                                         n_valid),
                "sim_item": b_keys.value[ind[valid]],
                "sim_val": dist[valid].astype("float64"),
                "rank_no": np.concatenate(
                    [np.arange(c) for c in n_valid]) if len(n_valid)
                else np.array([], dtype="int64"),
            }
            yield pd.DataFrame(rows)

    q_key_field = queries.schema[query_item_col]
    key_field = items.schema[item_key_col]
    out_schema = (f"source_item {q_key_field.dataType.simpleString()}, "
                  f"sim_item {key_field.dataType.simpleString()}, "
                  "sim_val double, rank_no int")
    ranked = queries.select(query_item_col, query_vec_col).mapInPandas(
        _search, out_schema)
    from faisssearcher_spark.operators.knn import _attach_payload
    # one-machine bound already implied (the corpus was collected to build
    # the index), so the payload side broadcasts — same rule as blocked
    return _attach_payload(ranked, items, item_key_col=item_key_col,
                           payload_cols=list(payload_cols or []),
                           broadcast_side="payload")


def faiss_topk_sharded(queries: DataFrame, items: DataFrame, *, k: int = 10,
                       index_param: str = "HNSW32", metric: str = "cos",
                       query_item_col: str = "query_id",
                       item_key_col: str = "item",
                       query_vec_col: str = "embedding",
                       item_vec_col: str = "embedding",
                       keep_rank_no: bool = True,
                       payload_cols: "Sequence[str] | None" = None) -> DataFrame:
    """FAISS over a corpus too big for one machine: the (small) query
    matrix broadcasts; each item partition builds its OWN index inside
    ``mapInPandas``, searches the broadcast queries, and emits only its
    local top-k; a final window merges per-shard candidates into the
    global top-k (same two-level merge as ``knn_join(strategy="sharded")``,
    operators/knn.py). The corpus never moves — ``repartition`` the items
    first to choose the shard count / per-shard index size.

    Per-shard recall composes: the merged result can only be MORE complete
    than a single index at the same parameters (each shard's graph is
    smaller and denser). Use per-shard-friendly specs — ``HNSW<m>`` or
    ``Flat``; an ``IVF<n>`` spec needs enough training rows per shard.

    Raises ImportError when faiss is not installed.
    """
    import faiss
    from faisssearcher_spark.operators.knn import _merge_candidates

    q_pdf = queries.select(query_item_col, query_vec_col).toPandas()
    if not len(q_pdf):
        raise ValueError("faiss_topk_sharded needs a non-empty query set "
                         "(the query matrix is driver-collected)")
    qmat = np.ascontiguousarray(
        np.array(q_pdf[query_vec_col].to_list(), dtype=np.float32))
    normalize = metric == "cos"
    if normalize:
        faiss.normalize_L2(qmat)
    faiss_metric_ip = metric in ("cos", "ip")
    spark = items.sparkSession
    b_q = spark.sparkContext.broadcast(qmat)
    b_qid = spark.sparkContext.broadcast(q_pdf[query_item_col].to_numpy())
    param, kk, nrm = index_param, k, normalize

    def _local(batches):
        import faiss as fa
        import pandas as pd
        fm = (fa.METRIC_INNER_PRODUCT if faiss_metric_ip else fa.METRIC_L2)
        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.ascontiguousarray(
                np.array(pdf[item_vec_col].to_list(), dtype=np.float32))
            if nrm:
                fa.normalize_L2(mat)
            index = _build_faiss_index(mat, param, fm)
            dist, ind = index.search(b_q.value, min(kk, len(pdf)))
            valid = ind >= 0  # mask FAISS's -1 "no result" padding
            n_valid = valid.sum(axis=1)
            keys = pdf[item_key_col].to_numpy()
            yield pd.DataFrame({
                "source_item": np.repeat(b_qid.value, n_valid),
                "sim_item": keys[ind[valid]],
                "sim_val": dist[valid].astype("float64"),
            })

    q_key_field = queries.schema[query_item_col]
    key_field = items.schema[item_key_col]
    cand_schema = (f"source_item {q_key_field.dataType.simpleString()}, "
                   f"sim_item {key_field.dataType.simpleString()}, "
                   "sim_val double")
    cand = items.select(item_key_col, item_vec_col).mapInPandas(
        _local, cand_schema)
    # payload re-attach broadcasts the <= m*k ranked side, never the
    # items side (operators/knn._attach_payload) — consistent with this
    # strategy's corpus-bigger-than-one-machine premise
    return _merge_candidates(cand, items, k=k,
                             higher_is_closer=faiss_metric_ip,
                             item_key_col=item_key_col,
                             payload_cols=list(payload_cols or []),
                             keep_rank_no=keep_rank_no)
