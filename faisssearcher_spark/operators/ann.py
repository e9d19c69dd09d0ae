"""Approximate nearest-neighbor search paths.

The reference delegates ANN to FAISS index structures (HNSW / IVF via
``index_factory``, faiss_searcher.py:100-107) and answers a search with
one FAISS call. Spark has no resident index; the scale-path equivalents
prune candidates by a derived bucket or cell key, and the indexes here
search through ``knn.py``'s one broadcast-queries scan
(:func:`~faisssearcher_spark.operators.knn._sharded_scan`) with a
per-index scorer, as FAISS scans probed lists with a per-list scorer:

- :class:`SignLSH` — random-hyperplane sign buckets: items hash to a
  ``num_bits``-bit bucket; queries probe their own bucket (+ optional
  multi-probe neighbors at hamming 1). The items⋈queries meeting is an
  equi-join on the bucket key → shuffled hash join, no cross product.
- :class:`IVFIndex` — the IVF analog: k-means coarse quantizer (MLlib
  by default, or seeded driver Lloyd on a bounded sample), items
  assigned to nearest centroid cell, queries probe ``nprobe`` nearest
  cells (computed on the driver). Search is one probed-cell scan: each
  cell's rows are scored with a GEMM against only the queries that
  probe it. Equivalent semantics to FAISS ``IVF<k>,Flat``.
- :class:`PQIndex` — product quantization with ADC search: per-subspace
  codebooks, items stored as m codes, query-time LUT accumulation.
  Equivalent semantics to FAISS ``PQ<m>``; no faiss dependency.
- :class:`IVFPQIndex` — cells + residual PQ (FAISS ``IVF<n>,PQ<m>``):
  centroids and codebooks train on one driver sample in one Spark job;
  search is the same probed-cell scan over the m-byte code table,
  scoring the separable inner-product ADC ``q·c_cell + Σ LUT``.
- :class:`SQIndex` — per-dimension scalar quantizer (FAISS ``SQ8``):
  trained [vmin, vmax] bounds, d-byte codes, decode-and-GEMM search.
- :func:`parse_index_param` — the reference's ``index_param`` specs
  (``index_factory`` strings) mapped onto these classes and
  ``graph.NSWIndex``; a spec none of them covers raises.

IVF, PQ, SQ and IVF-PQ share one lifecycle, :class:`_CodedIndex`, as
FAISS drives every index through ``train`` / ``add`` / ``search`` /
``write_index`` / ``read_index``: fit (train, then encode and cache the
corpus rows with their codes), add_items, search (one scan, an exact
re-score of a shortlist when refining, the rank window; payload rides
the scan, so each result row carries its own corpus row's), save and
load. Each class supplies only its quantizer: trained arrays and
trainer, the columns its encode adds, its scan parts and the checks on
its stored table. The quantizers of PQ, SQ and IVF-PQ (and IVF's
``"sample"`` mode) train in the driver on the first ``train_sample``
rows by key, the way the reference trains its FAISS index
(faiss_searcher.py:116-125).

Recall is validated against the exact path (SURVEY.md §5.4) — the same way
FAISS validates itself.
"""

from __future__ import annotations

import functools
import json
import os
import re
from typing import Any, Callable, Mapping, NamedTuple, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from faisssearcher_spark.functions import metrics as M
from faisssearcher_spark.operators.graph import NSWIndex
from faisssearcher_spark.operators.knn import (
    DriverQueries, _empty_result, _fill_cache, _gemm_scan, _gemm_scorer,
    _query_frame, _rank_topk, _sharded_scan, _unit_rows)


def _write_index_meta(spark, path: str, meta: dict) -> None:
    """One-row JSON-in-parquet config blob — the index family's shared
    persistence idiom ("data + config as parquet", no pickle), written
    by :meth:`_CodedIndex.save` and ``graph.NSWIndex.save``."""
    spark.createDataFrame([(json.dumps(meta),)], "meta string") \
        .coalesce(1).write.mode("overwrite") \
        .parquet(os.path.join(path, "meta"))


def _read_index_meta(spark, path: str) -> dict:
    return json.loads(
        spark.read.parquet(os.path.join(path, "meta")).first()["meta"])


#: FAISS trains a coarse quantizer on at most this many sample points per
#: centroid (ClusteringParameters.max_points_per_centroid); more rows
#: cost Lloyd time without moving the centroids measurably
MAX_POINTS_PER_CENTROID = 256


def _driver_sample(items: DataFrame, key_col: str, vec_col: str,
                   limit: int, owner: str) -> np.ndarray:
    """The first ``limit`` rows by key, as a float64 matrix, in one job.

    orderBy(key).limit(n) = per-partition top-n + driver merge
    (TakeOrdered): DETERMINISTIC given the corpus, unlike a bare limit
    whose rows depend on partition layout — load()'s rebuild-from-corpus
    contract needs the same sample anywhere. FAISS trains its quantizers
    on a bounded sample the same way."""
    sample = items.select(F.col(key_col).alias("k"),
                          F.col(vec_col).alias("v")) \
        .orderBy("k").limit(limit).toPandas()
    if not len(sample):
        raise ValueError(f"{owner}.fit needs a non-empty corpus")
    return np.array(sample["v"].to_list(), dtype=np.float64)


def _nearest_cells(mat: np.ndarray, cents: np.ndarray, n: int,
                   spherical: bool) -> np.ndarray:
    """(rows, n) int32 ids of each row's ``n`` nearest centroids by L2
    (on unit rows when ``spherical``). The one assignment routine: the
    executor-side pandas_udf and the driver-side sample assignment both
    call it, so training and encoding cannot disagree on a row's cell."""
    if spherical:
        mat = _unit_rows(mat)
    d = (mat * mat).sum(axis=1, keepdims=True) \
        - 2.0 * (mat @ cents.T) + (cents * cents).sum(axis=1)[None, :]
    # stable argsort → distance ties break by smallest cell id
    return np.argsort(d, kind="stable", axis=1)[:, :n].astype("int32")


def _cell_residuals(mat: np.ndarray, cents: np.ndarray, normalize: bool
                    ) -> "tuple[np.ndarray, np.ndarray]":
    """IVF-PQ's cell assignment: each row's nearest spherical cell (the
    coarse quantization IVFIndex uses for cos and ip) and its residual
    x − c_cell, x unit-scaled when ``normalize``. fit() trains the
    codebooks on the driver sample's residuals and the encode pandas_udf
    codes the executors' through this one routine."""
    cells = _nearest_cells(mat, cents, 1, True)[:, 0]
    if normalize:   # ip scores raw magnitudes (review r5 #1);
        mat = _unit_rows(mat)   # q·x = q·c + q·(x−c) either way
    return cells, mat - cents[cells]


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


def _batch_udf(fn: Callable, fields: Mapping[str, str]) -> Callable:
    """The index family's one Arrow-batch wrapper: a struct
    ``pandas_udf`` of ``fields`` (name → Spark type) over an array
    column. Each batch is stacked into one float64 matrix and
    ``fn(matrix)`` gives every field as an array with one row per
    vector (an (n, w) array for an array field).

    ``fn`` ships with the task closure, so it holds numpy state only
    (centroids, codebooks, bounds) and the plan stays O(1) whatever the
    index shape: n_cells×dim centroid literals in the plan would explode
    its size and Janino compilation (IVF4096 × 768-dim ≈ 3M literals),
    and a broadcast centroid join would replicate every row n_cells
    times and shuffle for the per-row top-n."""
    ddl = ", ".join(f"{name} {kind}" for name, kind in fields.items())

    @F.pandas_udf(ddl)
    def _apply(batch: pd.Series) -> pd.DataFrame:
        out = fn(np.array(batch.to_list(), dtype=np.float64))
        return pd.DataFrame({c: list(a) if a.ndim > 1 else a
                             for c, a in out.items()})

    return lambda vec: _apply(M.as_double(vec))


class _CodedIndex:
    """The index lifecycle IVF, PQ, SQ and IVF-PQ share: FAISS's
    ``train`` / ``add`` / ``search`` / ``write_index`` / ``read_index``
    (faiss_searcher.py:100-125, 161-187), written once over a cached
    table of the corpus rows and their codes. An index supplies only its
    quantizer:

    - ``_CONFIG``, its constructor arguments, and ``_ARRAYS``, its
      trained arrays, which ``_train(items)`` sets (both go into the
      saved meta);
    - ``_ENCODED``, the columns its encode adds to every corpus row,
      and ``_encoder()``, the numpy batch function computing them
      (run through :func:`_batch_udf`);
    - ``_scan()``, its parts of the one
      :func:`~faisssearcher_spark.operators.knn._sharded_scan`: item
      column, ``prepare``, ``scorer``, ``probe`` and ``dim``;
    - ``_table_checks()``, aggregate flags that are true on a stored
      table its quantizer cannot have written.

    The coded table pins executor storage via ``.cache()``, which
    outlives the Python reference until the session garbage-collects
    it; the reference releases an index by dropping the object
    (faiss_searcher.py:189-190). ``unpersist()`` hands the storage back
    but keeps the index usable: the table recomputes lazily from its
    lineage on the next search (one re-encode pass at worst).
    ``close()`` is terminal: it also drops the table, so a closed index
    raises the not-fitted guard instead of silently re-encoding a
    100 TB corpus nobody asked for."""

    _CONFIG: "tuple[str, ...]" = ()
    _ARRAYS: "tuple[str, ...]" = ()
    _ENCODED: "dict[str, str]" = {}
    #: an empty query set returns the typed empty frame instead of raising
    _EMPTY_QUERIES_OK = False
    metric: str
    train_sample: int
    _items: "DataFrame | None" = None
    _item_key: "str | None" = None
    _vec_col: "str | None" = None

    @property
    def _higher(self) -> bool:
        return self.metric in ("cos", "ip")

    def _fitted(self) -> DataFrame:
        if self._items is None:
            raise RuntimeError(f"{type(self).__name__} is not fit; call "
                               "fit() first")
        return self._items

    def _sample(self, items: DataFrame) -> np.ndarray:
        return _driver_sample(items, self._item_key, self._vec_col,
                              self.train_sample, type(self).__name__)

    def _coded(self, items: DataFrame) -> DataFrame:
        """``items`` with the columns its encode adds (``_ENCODED``)."""
        enc = _batch_udf(self._encoder(), self._ENCODED)(self._vec_col)
        return items.withColumn("__enc", enc).select("*", "__enc.*") \
            .drop("__enc")

    def fit(self, items: DataFrame, *, item_key_col: str = "item",
            item_vec_col: str = "embedding"):
        """Train the quantizer, then encode and cache the corpus (FAISS
        ``train`` + ``add``, faiss_searcher.py:116-125). The columns the
        encode adds must not be in ``items``: that is checked before
        the (expensive) train."""
        for col in self._ENCODED:
            if col in items.columns:
                raise ValueError(f"items already has a {col!r} column — "
                                 "the index would silently overwrite it; "
                                 "rename it first")
        self._item_key, self._vec_col = item_key_col, item_vec_col
        self._train(items)
        self._items = self._coded(items).cache()
        return self

    def add_items(self, items: DataFrame):
        """FAISS ``index.add`` after training (faiss_searcher.py:124):
        encode the new rows with the EXISTING quantizer (no retrain —
        FAISS semantics) and union them into the cached table: one
        encode pass over the new rows, and one job that fills the
        union's cache."""
        self._fitted()
        self._append(self._coded(items))
        return self

    def search(self, queries: DataFrame | DriverQueries, *, k: int = 10,
               query_item_col: str = "query_id",
               query_vec_col: str = "embedding",
               payload_cols: Sequence[str] | None = None) -> DataFrame:
        """Top-k of each query: one
        :func:`~faisssearcher_spark.operators.knn._sharded_scan` of the
        coded table with the index's scorer (reading only the probed
        cells of an IVF index), then the one (score, key) rank window.
        The queries are checked on the driver at the index's dim (NULL,
        ragged or wrong-dim vectors raise ``ValueError`` before any
        job). ``payload_cols`` ride the scan: each result row carries
        its own corpus row's payload, and nothing item-sized is joined
        or broadcast. Returns ``(source_item, sim_item, sim_val,
        rank_no, *payload_cols)``."""
        return self._search_refined(
            queries, k=k, query_item_col=query_item_col,
            query_vec_col=query_vec_col, payload_cols=payload_cols)

    def _search_refined(self, queries: DataFrame | DriverQueries, *,
                        k: int = 10, query_item_col: str = "query_id",
                        query_vec_col: str = "embedding",
                        payload_cols: Sequence[str] | None = None,
                        refine_factor: int | None = None) -> DataFrame:
        """:meth:`search`, with the FAISS ``IndexRefineFlat`` pattern
        when ``refine_factor`` is given: the quantized scan shortlists
        the top ``k × refine_factor`` candidates per query (ranked by the
        one window, so the shortlist does not depend on partitioning),
        which are then EXACTLY re-scored against the stored float
        vectors (:func:`_exact_rescore`, a candidate-sized join), so the
        survivors' ranking and scores are exact."""
        items, higher = self._fitted(), self._higher
        if refine_factor is not None and refine_factor < 1:
            raise ValueError("refine_factor must be >= 1")
        payload = list(payload_cols or [])
        cand = _sharded_scan(
            queries, items, k=k * (refine_factor or 1),
            query_item_col=query_item_col, query_vec_col=query_vec_col,
            item_key_col=self._item_key, higher_is_closer=higher,
            payload_cols=payload, **self._scan())
        if cand is None and self._EMPTY_QUERIES_OK:
            return _empty_result(queries, items,
                                 query_item_col=query_item_col,
                                 item_key_col=self._item_key,
                                 payload_cols=payload, keep_rank_no=True)
        if cand is None:
            raise ValueError(f"{type(self).__name__}.search needs a "
                             "non-empty query set (the query state is "
                             "driver-built)")
        if refine_factor is not None:
            cand = _exact_rescore(
                _rank_topk(cand, k * refine_factor, higher)
                .select("source_item", "sim_item", *payload), items,
                item_key_col=self._item_key, item_vec_col=self._vec_col,
                queries=queries, query_item_col=query_item_col,
                query_vec_col=query_vec_col, metric=self.metric)
        return _rank_topk(cand, k, higher).select(
            "source_item", "sim_item", "sim_val", "rank_no", *payload)

    # -- persistence (faiss_searcher.py:109-114; data + config as parquet)

    def save(self, path: str) -> None:
        """The coded table as parquet plus one meta row: the constructor
        config, the key and vector column names and the trained
        arrays (replaces ``faiss.write_index``; no pickle)."""
        items = self._fitted()
        items.write.mode("overwrite").parquet(os.path.join(path, "items"))
        arrays = {a: getattr(self, a) for a in self._ARRAYS}
        _write_index_meta(items.sparkSession, path, {
            "config": {a: getattr(self, a) for a in self._CONFIG},
            "item_key": self._item_key, "vec_col": self._vec_col,
            "arrays": {a: None if v is None else v.tolist()
                       for a, v in arrays.items()}})

    @classmethod
    def load(cls, spark, path: str):
        """The index :meth:`save` wrote, revalidated as the reference
        asserts on load (faiss_searcher.py:112-114): one aggregate job
        checks that the stored table is non-empty and that none of the
        quantizer's ``_table_checks`` holds, then the table is cached."""
        meta = _read_index_meta(spark, path)
        index = cls(**meta["config"])
        for name, value in meta["arrays"].items():
            setattr(index, name, None if value is None else np.array(value))
        index._item_key, index._vec_col = meta["item_key"], meta["vec_col"]
        items = spark.read.parquet(os.path.join(path, "items"))
        n, *bad = items.select(F.count("*"), *index._table_checks()).first()
        if not n:
            raise ValueError(f"loaded {cls.__name__} has an empty corpus")
        if any(bad):
            raise ValueError(f"stored table inconsistent with the "
                             f"{cls.__name__} quantizer — corrupt index?")
        index._items = items.cache()
        return index

    # -- executor storage (the lifecycle the bench memo and SparkSearcher
    # drive; BM25Index and NSWIndex implement it over their own frames)

    def _cached_state(self):
        """The frames this index pins in executor storage — the generic
        hook the bench memo re-registers after a session clearCache()
        and close() releases."""
        return [] if self._items is None else [self._items]

    def unpersist(self, blocking: bool = False):
        if self._items is not None:
            self._items.unpersist(blocking)
        return self

    def close(self) -> None:
        self.unpersist(blocking=True)
        self._items = None

    def _append(self, rows: DataFrame) -> None:
        """FAISS ``index.add``: union ``rows`` into the cached state.
        The union's cache fills before the superseded one is released —
        released first, the next use would recompute the whole old state
        from its lineage (a re-encode of every corpus row). The alias
        keeps a union ``old`` whole: unionByName flattens it into its
        inputs otherwise, bypassing its cache."""
        old = self._items
        union = old.alias("__items").unionByName(
            rows.select(*old.columns)).cache()
        try:
            _fill_cache(union)
        except Exception:
            union.unpersist()
            raise
        old.unpersist()
        self._items = union

    # context-manager sugar: `with PQIndex(...).fit(items) as idx:`
    # guarantees the executor-storage release on any exit path
    def __enter__(self):
        return self

    def __exit__(self, *exc) -> None:
        self.close()


def _cell_flags(n_cells: int) -> list:
    """Load checks of a stored ``cell`` column: every id in range."""
    return [F.min("cell") < 0, F.max("cell") >= n_cells]


def _code_flags(width: int, top: int) -> list:
    """Load checks of a stored ``__codes`` column: ``width`` codes in
    ``[0, top]`` on every row."""
    size = F.size("__codes")
    return [F.min(size) != width, F.max(size) != width,
            F.min(F.array_min("__codes")) < 0,
            F.max(F.array_max("__codes")) > top]


class IVFIndex(_CodedIndex):
    """IVF-style coarse quantization: k-means cells + nprobe search.

    Parity target: FAISS ``index_factory(dim, "IVF<n>,Flat", metric)``
    (faiss_searcher.py:104), for the ``cos``, ``ip`` and ``l2`` metrics.
    fit() trains the centroids and assigns every item to its nearest
    one; search() finds each query's ``nprobe`` nearest centroids on the
    driver and scores *within the probed cells only*: one probed-cell
    scan of the fitted assignment (``knn._sharded_scan``), each cell's
    rows scored with a GEMM against the queries that probe it, then the
    one (score, key) rank window. An empty query set returns the typed
    empty frame. ``range_search`` keeps a Catalyst plan (the cell
    equi-join), as ``knn.radius_join`` keeps one for exact search.

    ``train_mode="mllib"`` (the default) fits MLlib k-means over the
    whole corpus: one Spark job per iteration plus k-means‖ init.
    ``"sample"`` runs seeded driver Lloyd on one bounded sample, as
    :class:`IVFPQIndex` always does. The two partition differently.
    Measured at ``ann_ivf_recall``'s parameters (seed 42, 16 cells,
    nprobe 10) on the 500-vector sf0.001 / sf0.01 corpora: MLlib's cells
    hold 1 to 60–67 rows (std 18–21) against 22–40 (std 4) for driver
    Lloyd, and its k-means objective is worse (445.3 / 447.1 against
    442.7 / 443.4). Its lopsided cells make a query scan 77–83% of the
    corpus instead of 62–64%, which is why it reads the higher recall
    (0.955 / 0.965 against 0.89): more rows scanned, not a better
    partition. The default stays MLlib because that gate's 0.9 floor is
    calibrated on it.
    """

    _CONFIG = ("n_cells", "nprobe", "seed", "metric", "max_iter",
               "train_mode", "train_sample")
    _ARRAYS = ("centroids",)
    _ENCODED = {"cell": "int"}
    _EMPTY_QUERIES_OK = True

    def __init__(self, n_cells: int = 64, nprobe: int = 4, seed: int = 42,
                 metric: str = "cos", max_iter: int = 20,
                 train_mode: str = "mllib", train_sample: int = 100_000):
        if n_cells < 1:
            raise ValueError(f"n_cells must be >= 1, got {n_cells}")
        if metric not in ("cos", "ip", "l2"):
            raise ValueError("IVFIndex supports 'cos', 'ip' and 'l2' (the "
                             f"metrics its GEMM scorer computes), got "
                             f"{metric!r}")
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

    def _train(self, items: DataFrame) -> None:
        if self.train_mode == "sample":
            mat = self._sample(items)
            if self._spherical:
                mat = _unit_rows(mat)
            # one-subspace PQ training IS k-means over the full vector
            self.centroids = _train_pq_codebooks(
                mat, 1, self.n_cells, self.max_iter, self.seed)[0]
            return
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        vec = M.as_double(self._vec_col)
        if self._spherical:
            from faisssearcher_spark.functions.vector import l2_normalize
            vec = l2_normalize(vec, on_zero=vec)
        feats = items.select(F.col(self._item_key).alias("__key"),
                             array_to_vector(vec).alias("features"))
        model = KMeans(k=self.n_cells, seed=self.seed,
                       maxIter=self.max_iter).fit(feats)
        self.centroids = np.array(
            [np.asarray(c) for c in model.clusterCenters()])

    def _encoder(self) -> Callable:
        cents, spherical = self.centroids, self._spherical
        return lambda mat: {
            "cell": _nearest_cells(mat, cents, 1, spherical)[:, 0]}

    def _scan(self) -> dict:
        cents, nprobe, spherical = self.centroids, self.nprobe, self._spherical
        return dict(item_col=M.as_double(self._vec_col), dim=cents.shape[1],
                    probe=lambda qmat: _nearest_cells(qmat, cents, nprobe,
                                                      spherical),
                    **_gemm_scan(self.metric, self.metric == "cos"))

    def _table_checks(self) -> list:
        return _cell_flags(self.n_cells)

    def assignments(self) -> DataFrame:
        """The fitted corpus with its ``cell`` assignment column — the
        coarse-quantization partition itself, reusable beyond search
        (e.g. SemDeDup's within-cell near-dup candidates,
        operators/dedup.py:semantic_cell_pairs)."""
        return self._fitted()

    def range_search(self, queries: DataFrame | DriverQueries, *,
                     radius: float,
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
        ``operators/knn.radius_join``, whose Catalyst plan it keeps:
        each query's probed cells explode onto a cell equi-join against
        the fitted assignment, so only the probed fraction of the corpus
        is scored."""
        items = self._fitted()
        payload = list(payload_cols or [])
        metric_fn, higher = M.resolve_metric(self.metric)
        queries = _query_frame(queries, items.sparkSession,
                               query_item_col, query_vec_col)
        cents, nprobe, spherical = self.centroids, self.nprobe, self._spherical
        probed = _batch_udf(lambda mat: {"cells": _nearest_cells(
            mat, cents, nprobe, spherical)}, {"cells": "array<int>"})
        q = queries.select(
            F.col(query_item_col).alias("source_item"),
            F.col(query_vec_col).alias("__q_vec"),
            F.explode(probed(query_vec_col)["cells"]).alias("cell"))
        it = items.select(
            F.col(self._item_key).alias("sim_item"),
            F.col(self._vec_col).alias("__i_vec"), "cell",
            *[F.col(c) for c in payload])
        sim = metric_fn(F.col("__q_vec"), F.col("__i_vec"))
        return q.join(it, "cell").withColumn("sim_val", sim) \
            .filter(F.col("sim_val") > radius if higher
                    else F.col("sim_val") < radius) \
            .select("source_item", "sim_item", "sim_val", *payload)


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
    """(n, m) nearest-centroid codes of ``mat`` under ``books`` — the
    one PQ encoder: OPQ training's encode/decode alternation, and the
    PQ and IVF-PQ encode on the executors (:func:`_pq_codes`).
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


def _pq_lut(qmat: np.ndarray, books: np.ndarray,
            higher: bool) -> np.ndarray:
    """LUT[q, j, c]: the subspace score of query q against centroid c of
    book j — a dot product when ``higher``, squared-L2 partials (which
    add up) otherwise."""
    m, ksub, dsub = books.shape
    lut = np.empty((len(qmat), m, ksub))
    for j in range(m):
        qs = qmat[:, j * dsub:(j + 1) * dsub]
        cb = books[j]
        if higher:
            lut[:, j, :] = qs @ cb.T
        else:
            lut[:, j, :] = ((qs * qs).sum(1, keepdims=True)
                            - 2.0 * qs @ cb.T + (cb * cb).sum(1)[None, :])
    return lut


def _adc_scorer(lut: np.ndarray, codes: np.ndarray):
    """PQ's block scorer for the sharded scan's top-k fold: ``score(s,
    e)`` accumulates ``Σ_j LUT[q, j, code_j]`` for items ``s:e`` of a
    (n, m) code batch against the (queries, m, ksub) LUT tensor."""
    def score(s, e):
        out = np.zeros((lut.shape[0], e - s))
        for j in range(lut.shape[1]):
            out += lut[:, j, codes[s:e, j]]
        return out

    return score


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
                   queries: DataFrame | DriverQueries, query_item_col: str,
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
    queries = _query_frame(queries, items.sparkSession, query_item_col,
                           query_vec_col)
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
        "sim_val", b1_hamming("__q_code", "__i_code"))
    shortlist = _rank_topk(scored, k * factor, False).select(
        "source_item", "sim_item")
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
        "sim_val", M.inner_product("__q_mrl", "__i_mrl"))
    shortlist = _rank_topk(scored, k * factor, True).select(
        "source_item", "sim_item")
    exact = _exact_rescore(shortlist, items, item_key_col=item_key_col,
                           item_vec_col=item_vec_col, queries=queries,
                           query_item_col=query_item_col,
                           query_vec_col=query_vec_col, metric=metric)
    _, higher = resolve_metric(metric)
    return _rank_topk(exact, k, higher_is_closer=higher).select(
        "source_item", "sim_item", "sim_val", "rank_no")


def _train_pq(mat: np.ndarray,
              index) -> "tuple[np.ndarray | None, np.ndarray]":
    """``(rotation, codebooks)`` of a PQ or IVF-PQ ``index`` trained on
    ``mat``: the OPQ-NP alternation when ``index.opq``
    (:func:`_train_opq_rotation`), plain codebooks and no rotation
    otherwise."""
    if index.opq:
        return _train_opq_rotation(mat, index.m, index.ksub,
                                   index.train_iters, index.seed,
                                   index.opq_iters)
    return None, _train_pq_codebooks(mat, index.m, index.ksub,
                                     index.train_iters, index.seed)


def _pq_codes(mat: np.ndarray, rot: "np.ndarray | None",
              books: np.ndarray) -> np.ndarray:
    """The stored (n, m) int16 codes of ``mat``: OPQ-rotated when
    ``rot`` is given, then :func:`_pq_assign`."""
    return _pq_assign(mat if rot is None else mat @ rot,
                      books).astype(np.int16)


def _pq_flags(index) -> list:
    """Load checks of a PQ or IVF-PQ code table: m codes below ksub on
    every row, and codebooks and rotation of one shape."""
    books, rot = index.codebooks, index.rotation
    d = books.shape[0] * books.shape[2]
    return [*_code_flags(index.m, index.ksub - 1),
            F.lit(books.shape[:2] != (index.m, index.ksub)
                  or (rot is not None and rot.shape != (d, d)))]


class PQIndex(_CodedIndex):
    """Product quantization with asymmetric-distance (ADC) search — the
    native-Spark analog of FAISS ``PQ<m>``, an index_factory string the
    reference forwards verbatim (faiss_searcher.py:104). No faiss
    dependency.

    Vectors split into ``m`` subspaces; each subspace gets a ``2**nbits``-
    centroid codebook (seeded Lloyd on a bounded driver sample — FAISS
    trains PQ on a sample too); every item stores only its m one-byte-ish
    codes. Search computes, per query, an m×2**nbits lookup table of
    subspace scores and accumulates ``Σ_j LUT[j, code_j]`` per item — no
    item vector is ever touched at query time, which is the point: a
    100 TB float corpus becomes an ~m-bytes-per-row code table.

    Scale shape: the one sharded scan of the code table with a
    LUT-gather scorer (:meth:`_CodedIndex.search`). The code table stays
    DISTRIBUTED; the small query LUT tensor broadcasts; each key-sorted
    Arrow batch accumulates scores with numpy gathers under a scratch
    bound and emits its local top-k with each row's own payload, tied
    scores resolved to the smallest keys; the rank window merges
    per-shard candidates (≤ shards·k rows shuffle). ``refine_factor``
    re-scores a shortlist exactly (FAISS ``IndexRefineFlat``). An empty
    query set raises ``ValueError``.
    """

    _CONFIG = ("m", "nbits", "seed", "metric", "train_sample",
               "train_iters", "opq", "opq_iters")
    _ARRAYS = ("codebooks", "rotation")
    _ENCODED = {"__codes": "array<smallint>"}

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
        self.codebooks: np.ndarray | None = None   # (m, ksub, dsub)

    search = _CodedIndex._search_refined

    def _train(self, items: DataFrame) -> None:
        mat = self._sample(items)
        if self._spherical:
            mat = _unit_rows(mat)
        self.rotation, self.codebooks = _train_pq(mat, self)

    def _encoder(self) -> Callable:
        # OPQ rotates AFTER normalize: the rotation was trained on unit
        # vectors
        books, rot, spherical = self.codebooks, self.rotation, self._spherical
        return lambda mat: {"__codes": _pq_codes(
            _unit_rows(mat) if spherical else mat, rot, books)}

    def _scan(self) -> dict:
        books, rot, spherical = self.codebooks, self.rotation, self._spherical
        higher = self._higher

        def prepare(qmat):
            # the (queries, m, ksub) LUT of the queries as encode sees
            # its rows: unit-scaled for cos, then OPQ-rotated
            if spherical:
                qmat = _unit_rows(qmat)
            if rot is not None:
                qmat = qmat @ rot
            return (_pq_lut(qmat, books, higher),)

        return dict(item_col=F.col("__codes"), prepare=prepare,
                    scorer=lambda st, codes, _cell: _adc_scorer(st[0], codes),
                    dim=books.shape[0] * books.shape[2])

    def _table_checks(self) -> list:
        return _pq_flags(self)


class SQIndex(_CodedIndex):
    """Scalar quantization (FAISS ``SQ8``/``SQ4`` via index_factory,
    faiss_searcher.py:104): a per-DIMENSION linear quantizer — trained
    ``[vmin, vmax]`` bounds on a bounded driver sample — stores each
    vector as d small integer codes (d bytes at nbits=8 vs 4d float32),
    decoded approximately at search time. The simplest of the quantizer
    family: no codebooks, near-lossless at 8 bits, 4× smaller scans.

    Scale shape: the one sharded scan of the code table with a decode
    step before its GEMM (:meth:`_CodedIndex.search`): the small query
    matrix broadcasts; each key-sorted Arrow batch decodes (one fused
    multiply-add) and GEMMs against the queries under a scratch bound,
    emitting its local top-k with each row's own payload; the rank
    window merges. An empty query set raises ``ValueError``.

    ``add_items`` encodes with the EXISTING bounds (values beyond the
    trained range clip — FAISS behavior; retrain if the distribution
    drifts).
    """

    _CONFIG = ("nbits", "metric", "train_sample")
    _ARRAYS = ("vmin", "vmax")
    _ENCODED = {"__codes": "array<smallint>"}

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
        self.vmin: np.ndarray | None = None
        self.vmax: np.ndarray | None = None

    def _step(self) -> np.ndarray:
        """Per-dimension code step; a constant dimension codes to 0."""
        step = (self.vmax - self.vmin) / self.levels
        return np.where(step == 0, 1.0, step)

    def _train(self, items: DataFrame) -> None:
        mat = self._sample(items)
        if self._spherical:
            mat = _unit_rows(mat)
        self.vmin, self.vmax = mat.min(0), mat.max(0)

    def _encoder(self) -> Callable:
        vmin, step = self.vmin, self._step()
        levels, spherical = self.levels, self._spherical

        def encode(mat):
            if spherical:
                mat = _unit_rows(mat)
            return {"__codes": np.clip(np.rint((mat - vmin) / step),
                                       0, levels).astype(np.int16)}

        return encode

    def _scan(self) -> dict:
        vmin, step, spherical = self.vmin, self._step(), self._spherical
        # decoded items are not unit rows, so cos scores them by dot
        metric = "ip" if self._higher else "l2"
        return dict(item_col=F.col("__codes"), dim=vmin.size,
                    prepare=lambda qmat: (_unit_rows(qmat) if spherical
                                          else qmat,),
                    scorer=lambda st, codes, _cell: _gemm_scorer(
                        st[0], codes * step + vmin, metric))

    def _table_checks(self) -> list:
        return [*_code_flags(self.vmin.size, self.levels),
                F.lit(self.vmin.shape != self.vmax.shape
                      or not self.vmin.size)]


class IVFPQIndex(_CodedIndex):
    """IVF + residual PQ — the FAISS workhorse ``IVF<n>,PQ<m>``
    (index_factory strings the reference forwards verbatim,
    faiss_searcher.py:104), natively in Spark, cosine/inner-product only.

    fit(): one deterministic driver sample (the first ``train_sample``
    rows by key, one Spark job) trains everything, the way the reference
    trains its FAISS index in the driver (faiss_searcher.py:116-125):
    spherical coarse centroids by seeded Lloyd on its first
    ``MAX_POINTS_PER_CENTROID · n_cells`` rows (FAISS's cap), then the
    sample's cells — assigned by the same routine the executors use —
    give the RESIDUALS (x − assigned centroid) the PQ/OPQ codebooks are
    trained on. Residuals have far less variance than raw vectors, so
    the same code budget quantizes finer (the reason FAISS encodes
    residuals). Items store (cell, m codes): ~m bytes instead of d
    floats, in one cached code table built straight from the corpus;
    the inner :class:`IVFIndex` (``_ivf``) holds the centroids only.

    search(): for inner-product scores the residual decomposition is
    separable — ``q·x ≈ q·c_cell + Σ_j LUT[j, code_j]`` with ONE
    cell-independent LUT per query — so the plan is: probe nprobe
    nearest cells per query (driver GEMM over the tiny centroid table),
    then one probed-cell scan of the code table (``knn._sharded_scan``:
    only rows of probed cells are read, each cell's codes scored against
    the queries that probe it by the cell's q·c plus the LUT gather),
    and the one rank window takes top-k. No item vector is read and
    nothing item-sized is joined or broadcast; payload rides the scan.
    Broadcast state: the LUT tensor (n_queries · m · 2^nbits doubles)
    and the queries' q·c over every cell — the inherent ADC state,
    independent of corpus size. ``refine_factor`` re-scores a shortlist
    exactly, which compensates both quantization loss and residual
    approximation. An empty query set raises ``ValueError``.
    """

    _CONFIG = ("n_cells", "nprobe", "m", "nbits", "seed", "metric",
               "train_sample", "train_iters", "kmeans_max_iter", "opq",
               "opq_iters")
    _ARRAYS = ("centroids", "codebooks", "rotation")
    _ENCODED = {"cell": "int", "__codes": "array<smallint>"}

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
        if m < 1 or n_cells < 1:
            raise ValueError(f"m and n_cells must be >= 1, got {m}, "
                             f"{n_cells}")
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
        self.codebooks: np.ndarray | None = None
        # the coarse quantizer: an unfitted IVFIndex holding the
        # centroids (the code table is the only cached state)
        self._ivf = IVFIndex(n_cells, nprobe, seed, metric,
                             max_iter=kmeans_max_iter)

    @property
    def centroids(self) -> "np.ndarray | None":
        return self._ivf.centroids

    @centroids.setter
    def centroids(self, value: "np.ndarray | None") -> None:
        self._ivf.centroids = value

    # the lifecycle is _CodedIndex's; these names are bound in the class
    # itself so that tracing, which wraps a class's own attributes
    # (perfbench/spans.py), finds them
    fit = _CodedIndex.fit
    add_items = _CodedIndex.add_items
    search = _CodedIndex._search_refined

    def _train(self, items: DataFrame) -> None:
        mat = self._sample(items)
        # spherical cells; one-subspace PQ training IS k-means over the
        # full vector
        cap = MAX_POINTS_PER_CENTROID * self.n_cells
        self.centroids = _train_pq_codebooks(
            _unit_rows(mat[:cap]), 1, self.n_cells, self.kmeans_max_iter,
            self.seed)[0]
        _, residuals = _cell_residuals(mat, self.centroids,
                                       self.metric == "cos")
        self.rotation, self.codebooks = _train_pq(residuals, self)

    def _encoder(self) -> Callable:
        cents, books, rot = self.centroids, self.codebooks, self.rotation
        normalize = self.metric == "cos"

        def encode(mat):
            # OPQ rotates the residual: q·r == (qR)·(rR) keeps ADC exact
            cells, residuals = _cell_residuals(mat, cents, normalize)
            return {"cell": cells,
                    "__codes": _pq_codes(residuals, rot, books)}

        return encode

    def _scan(self) -> dict:
        cents, books, rot = self.centroids, self.codebooks, self.rotation
        nprobe = self.nprobe
        unit = _unit_rows if self.metric == "cos" else np.asarray

        def prepare(qmat):
            # OPQ: the LUT half scores rotated residuals, so it uses the
            # rotated query; the q·c half stays in the original space
            q = unit(qmat)
            return (_pq_lut(q if rot is None else q @ rot, books, True),
                    q @ cents.T)

        def scorer(state, codes, cell):
            lut, qc = state
            adc = _adc_scorer(lut, codes)
            return lambda s, e: qc[:, cell, None] + adc(s, e)

        # nearest cells by L2 on normalized vectors == max inner product
        # on the unit sphere
        return dict(item_col=F.col("__codes"), prepare=prepare,
                    scorer=scorer, dim=cents.shape[1],
                    probe=lambda qmat: _nearest_cells(unit(qmat), cents,
                                                      nprobe, False))

    def _table_checks(self) -> list:
        return [*_cell_flags(self.n_cells), *_pq_flags(self)]


class IndexSpec(NamedTuple):
    """What an ``index_param`` spec builds (:func:`parse_index_param`):
    the native index class, the constructor arguments the spec sets,
    the ones it only defaults (``index_kwargs`` may override those), and
    whether search re-scores a quantized shortlist exactly (``,RFlat``)."""

    cls: type
    args: dict
    defaults: dict = {}
    refine: bool = False

    def factory(self, metric: str,
                index_kwargs: Mapping[str, Any]) -> Callable[[], Any]:
        """A zero-argument constructor of the unfitted index for
        ``metric`` and ``index_kwargs``. It builds one index here, so a
        keyword the class does not take or a value it rejects raises
        ``ValueError`` before any corpus is encoded, as do a keyword the
        spec sets and a ``refine_factor`` below 1 or on a spec that does
        not refine. ``refine_factor`` is a search argument: it stays out
        of the constructor."""
        if metric not in ("cos", "ip", "l2"):
            raise ValueError(
                f"index_param specs build L2 / inner-product structures: "
                f"the metric must be cos, ip or l2, got {metric!r}")
        kw = dict(index_kwargs)
        factor = kw.pop("refine_factor", None)
        if factor is not None and not self.refine:
            raise ValueError("refine_factor only applies to ',RFlat' specs "
                             "over the PQ family")
        if factor is not None and int(factor) < 1:
            raise ValueError(f"refine_factor must be >= 1, got {factor!r}")
        clash = sorted(set(kw) & {*self.args, "metric"})
        if clash:
            raise ValueError(f"index_kwargs {clash} are set by the spec")
        build = functools.partial(self.cls, metric=metric,
                                  **{**self.defaults, **kw, **self.args})
        try:
            build()
        except TypeError as e:
            raise ValueError(f"index_kwargs {kw} do not fit "
                             f"{self.cls.__name__}: {e}") from None
        return build


def _nsw_spec(m: int) -> IndexSpec:
    # FAISS's HNSW defaults are efConstruction 40 / efSearch 16; the
    # wider ones here favour recall on small shards
    return IndexSpec(NSWIndex, {"m": m}, {"ef_construction": max(48, 2 * m),
                                          "ef_search": max(64, 2 * m)})


#: the ``index_param`` grammar: each spec (case-insensitive) and the
#: native index it builds from the spec's numbers. An OPQ rotation has
#: as many blocks as the PQ it feeds (the ``\1``).
_GRAMMAR = (
    (r"IVF(\d+)(?:,Flat)?", lambda n: IndexSpec(IVFIndex, {"n_cells": n})),
    (r"PQ(\d+)", lambda m: IndexSpec(PQIndex, {"m": m})),
    (r"SQ([48])", lambda b: IndexSpec(SQIndex, {"nbits": b})),
    (r"IVF(\d+),PQ(\d+)",
     lambda n, m: IndexSpec(IVFPQIndex, {"n_cells": n, "m": m})),
    (r"OPQ(\d+),PQ\1", lambda m: IndexSpec(PQIndex, {"m": m, "opq": True})),
    (r"OPQ(\d+),IVF(\d+),PQ\1", lambda m, n: IndexSpec(
        IVFPQIndex, {"n_cells": n, "m": m, "opq": True})),
    (r"HNSW(\d+)(?:,Flat)?", _nsw_spec),
)

_GRAMMAR_HELP = ("Flat, IVF<n>[,Flat], PQ<m>, SQ4, SQ8, IVF<n>,PQ<m>, "
                 "OPQ<m>,PQ<m>, OPQ<m>,IVF<n>,PQ<m> or HNSW<m>[,Flat], "
                 "optionally followed by ',RFlat' on a PQ spec (exact "
                 "re-score) or on Flat / IVF (a no-op: their scores are "
                 "exact)")


def parse_index_param(spec: str | None) -> IndexSpec | None:
    """Map a FAISS ``index_factory`` spec (the reference's
    ``index_param``, faiss_searcher.py:30,104) onto the native index it
    builds; ``None`` for ``None`` / ``"Flat"``, exact search. The one
    place that knows the grammar (``_GRAMMAR_HELP``): ``HNSW<m>`` is the
    sharded NSW graph (operators/graph.py), ``IVF<n>,Flat`` and
    ``HNSW<m>,Flat`` name the same indexes as ``IVF<n>`` and ``HNSW<m>``,
    and a ``,RFlat`` suffix turns on the exact re-score of the PQ
    family's shortlist. Any other spec raises ``ValueError``."""
    if spec is None:
        return None
    base = spec.strip()
    rflat = base.lower().endswith(",rflat")
    if rflat:
        base = base[:-len(",rflat")]
    if base.lower() == "flat":
        return None
    for pattern, build in _GRAMMAR:
        m = re.fullmatch(pattern, base, flags=re.IGNORECASE)
        if m is not None:
            out = build(*map(int, m.groups()))
            refine = out.cls in (PQIndex, IVFPQIndex)
            if rflat and not refine and out.cls is not IVFIndex:
                break
            return out._replace(refine=rflat and refine)
    raise ValueError(f"index_param={spec!r} is not a spec the engine "
                     f"builds; accepted: {_GRAMMAR_HELP}")
