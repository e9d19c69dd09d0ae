"""SparkSearcher — DataFrame-native facade with the reference's API shape.

Reference parity: ``FaissSearcher`` (backend/faiss_searcher.py:21-208). The
constructor keeps the reference's two modes:

1. **encoder mode** (README.md:27-41): ``items`` is a DataFrame whose *item
   column* holds encodable text and whose remaining columns are payload
   carried into results. The reference uses positional convention ("first
   column is the item", README.md:21, faiss_searcher.py:56); here the
   convention survives as the *default* (``item_col=None`` → first column)
   but can be named explicitly.
2. **raw-vector mode** (README.md:43-57, faiss_searcher.py:35-40): ``items``
   already has a vector column; ``item_list`` becomes an explicit key column
   (``vec_col`` + ``key_col``) instead of positional alignment.

``train()`` materializes the encoded/normalized corpus, checks its vector
shapes (faiss_searcher.py:38-40, 67-68) and builds the index (the analog of
FAISS train+add, faiss_searcher.py:116-125). For an exact (flat) ``cos`` /
``ip`` / ``l2`` searcher whose filled corpus cache Spark measures within
``knn.BLOCKED_SMALL_QUERY_ITEMS_BYTES`` — where ``knn_join``'s ``"auto"``
plan picks the blocked GEMM kernel anyway — the flat index is the
kernel's key-sorted corpus matrix and payload columns, collected once and
broadcast, held until ``close()`` like FAISS's ``IndexFlat``;
``add_items`` merges new rows into it. ``search()`` answers batched top-K
queries (faiss_searcher.py:161-187) including the multi-K dict form, with
the reference's arguments only: the trained state picks the plan. A
holding searcher ranks a search whose rows fit on the driver against
that matrix and returns a local frame, as the reference returns a pandas
frame. A
list target on an encoder searcher is encoded once on the driver, as the
reference encodes its queries: the same encode / whiten / normalize
arithmetic as the Spark path, bit for bit, with no query job; an indexed
search takes that query matrix as it is, so it launches no job until
the result is read, and none at all when a small index ranks it on the
driver;
``cal_sim()`` is exact pairwise scoring (faiss_searcher.py:192-198);
``save()``/``load()`` replace whole-object pickling (faiss_searcher.py:
200-208) with Parquet + JSON metadata ("a searcher is data + config").
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import re
from typing import Iterable, Mapping, Sequence, Union

import numpy as np
from pyspark.errors import PySparkException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from faisssearcher_spark.encoders.base import (Encoder, encode_batch,
                                               encoder_udf)
from faisssearcher_spark.functions import metrics as M
from faisssearcher_spark.functions.vector import (
    l2_normalize, to_float32, validate_vectors)
from faisssearcher_spark.operators import knn as _knn
from faisssearcher_spark.operators.ann import _CodedIndex, parse_index_param
from faisssearcher_spark.operators.knn import (
    BlockedCorpus, DriverQueries, blocked_rank, cal_sim, driver_rank,
    knn_join, multi_k)
from faisssearcher_spark.operators.whitening import VecsWhitening

_VEC = "__vec"


#: how a row that encodes to the zero vector is reported under norm_vec
_ZERO_NORM = "encodes to the zero vector, which cannot be L2-normalized"
#: how a NULL query text is reported
_NULL_TEXT = ("query NULL has no text to encode; drop or fill the NULL "
              "query texts")


@functools.cache
def _storage_steps(norm: bool, id_col: str, role: str) -> tuple:
    """The steps that end every encode: l2-normalize when ``norm``, then
    the float32 cast (storage parity with faiss_searcher.py:92-94; metric
    math re-promotes to float64). A row that encodes to the zero vector
    has no direction: the normalize step raises for it, naming the row's
    ``id_col`` value as the ``role`` ("item" or "query"), in whatever job
    first computes the column (:func:`_bad_rows_named` turns that into
    a ``ValueError``). The steps depend on nothing else, so they are
    built once per process and id column: l2_normalize's higher-order
    expression alone costs about 45 ms of py4j round trips, which every
    new searcher would otherwise pay in train()."""
    zero = F.raise_error(F.concat(F.lit(f"{role} '"),
                                  F.col(id_col).cast("string"),
                                  F.lit(f"' {_ZERO_NORM}")))
    return (((l2_normalize(_VEC, on_zero=zero),) if norm else ())
            + (to_float32(_VEC),))


@functools.cache
def _query_text(text_col: str):
    """A query frame's text as the encoder UDF's input, refusing a NULL
    text: the query has nothing to encode (an encoder would encode a
    stand-in, such as the string "None", or fail on it), so its row
    raises ``_NULL_TEXT`` in whatever job first computes the column,
    before the encoder is called, as :func:`_storage_steps` raises for a
    zero vector, and adds no job of its own."""
    text = F.col(text_col)
    return F.when(text.isNull(),
                  F.raise_error(F.lit(_NULL_TEXT))).otherwise(text)


@contextlib.contextmanager
def _bad_rows_named():
    """Re-raise a step's error for a row it refuses (a zero vector, see
    :func:`_storage_steps`; a NULL query text, :func:`_query_text`)
    as the ``ValueError`` it stands for."""
    try:
        yield
    except PySparkException as e:
        msg = (e.getMessageParameters() or {}).get("errorMessage", "")
        if e.getCondition() != "USER_RAISED_EXCEPTION" \
                or not (msg.endswith(_ZERO_NORM) or msg == _NULL_TEXT):
            raise
        raise ValueError(msg) from None


def _distinct_texts(target) -> list:
    """A list target's texts as strings, each once and in order; a NULL
    stays None, for :meth:`SparkSearcher._encode_texts` to refuse."""
    return list(dict.fromkeys(None if t is None else str(t)
                              for t in target))


class SparkSearcher:
    def __init__(
        self,
        items: DataFrame,
        *,
        encoder: Encoder | None = None,
        item_col: str | None = None,
        vec_col: str | None = None,
        key_col: str | None = None,
        measurement: str = "cos",
        norm_vec: bool = False,
        p: float | None = None,
        whitening: VecsWhitening | None = None,
        query_feature_sep: str | None = None,
        doc_feature_sep: str | None = None,
        index_param: str | None = None,
        index_kwargs: dict | None = None,
    ):
        if encoder is None and vec_col is None:
            # faiss_searcher.py:37-38: without an encoder, input must be raw vectors
            raise TypeError("without an encoder, items must carry a vector "
                            "column (pass vec_col=...)")
        # fail fast on unknown metrics (M9, faiss_searcher.py:87-90)
        M.resolve_metric(measurement, p=p)
        self.measurement = measurement
        self.p = p
        # cos forces normalization, faiss_searcher.py:53
        self.norm_vec = True if measurement == "cos" else norm_vec
        self.encoder = encoder
        self.whitening = whitening
        self.items = items
        self.vec_col = vec_col
        # positional "first column is the item" default (README.md:21)
        self.item_col = item_col or (items.columns[0] if encoder else None)
        self.key_col = key_col or self.item_col
        if self.key_col is None:
            raise TypeError("raw-vector mode needs key_col (the reference's "
                            "item_list, faiss_searcher.py:39-40)")
        # feature-sep kwargs only apply in encoder mode (faiss_searcher.py:60-61)
        self.query_feature_sep = query_feature_sep if encoder else None
        self.doc_feature_sep = doc_feature_sep if encoder else None
        # the FAISS index_factory spec (faiss_searcher.py:30,104), built
        # natively at train(): ann.parse_index_param holds the grammar and
        # raises on a spec no native index covers. None / "Flat" = exact
        # search (the engine's default and the reference's too).
        # refine_factor (",RFlat" specs) stays IN index_kwargs so that
        # save()/load() keep it; it is a search argument, not a
        # constructor one.
        self.index_param = index_param
        self.index_kwargs = dict(index_kwargs or {})
        spec = parse_index_param(index_param)
        if spec is None and self.index_kwargs:
            raise ValueError(f"index_kwargs apply to an index_param spec; "
                             f"index_param={index_param!r} builds no index")
        #: builds the unfitted index; None for exact search
        self._new_index = (None if spec is None else spec.factory(
            self._kernel_metric(), self.index_kwargs))
        self._refine = spec is not None and spec.refine
        self.refine_factor = int(self.index_kwargs.get("refine_factor", 4))
        self._index = None
        #: the key-sorted corpus matrix and its broadcasts (FAISS
        #: IndexFlat's stored vectors) while the searcher holds one
        self._held: BlockedCorpus | None = None
        #: _vectorize's encoder UDF and column expressions, built once
        self._vec_exprs: tuple | None = None
        self.corpus: DataFrame | None = None
        self.vec_dim: int | None = None

    # -- encode pipeline (get_vecs, faiss_searcher.py:63-73) -----------------

    def _vectorize(self, df: DataFrame, text_col: str | None,
                   vec_col: str | None, id_col: str | None = None,
                   role: str = "item") -> DataFrame:
        """``df`` with its ``_VEC`` column; ``id_col`` (the key column by
        default) names a row that cannot be normalized (see
        :func:`_storage_steps`). A query text that is NULL raises
        (:func:`_query_text`)."""
        # the encoder UDF and the whitening expression are built on the
        # first call and reused: each costs py4j round trips that every
        # search would otherwise pay again
        if self._vec_exprs is None:
            steps = ([self.whitening.transform_expr(_VEC)]
                     if self.whitening is not None else [])
            udf = (encoder_udf(self.encoder) if self.encoder is not None
                   else None)
            self._vec_exprs = (udf, steps)
        udf, steps = self._vec_exprs
        if udf is None:
            vec = F.col(vec_col)
        else:
            vec = udf(_query_text(text_col) if role == "query"
                      else F.col(text_col))
        out = df.withColumn(_VEC, vec)
        for step in steps + list(_storage_steps(
                self.norm_vec, id_col or self.key_col, role)):
            out = out.withColumn(_VEC, step)
        return out

    # -- train (faiss_searcher.py:116-125) ------------------------------------

    def train(self) -> "SparkSearcher":
        # a retrain drops the old matrix without destroying it: results of
        # earlier searches still read its broadcasts (Spark's
        # ContextCleaner frees them once no plan does)
        self._held = None
        self.corpus = self._vectorize(
            self.items, self.item_col, self.vec_col).cache()
        with _bad_rows_named():
            self._build_index(dim=None)
        return self

    def _build_index(self, dim: int | None) -> None:
        """Build what search() ranks against from the cached corpus (FAISS
        train+add). The first job, validate_vectors' aggregate, checks
        the vectors (at ``dim`` when given) and fills the corpus cache.
        The hold check then reads the size Spark measured for the cache,
        which ``knn_join``'s ``"auto"`` plan routes on too, not the
        plan's guess (that takes an encoder's output array for one
        element). A holdable corpus is collected once into the held
        matrix. Then the index_param structure is fitted."""
        self.vec_dim = validate_vectors(self.corpus, _VEC, dim)
        if self._gemm_flat() and _knn._within_hold_bound(self.corpus):
            self._held = BlockedCorpus.collect(
                self.corpus, item_key_col=self.key_col, item_vec_col=_VEC,
                metric=self._kernel_metric(), normalize=False, dim=dim,
                payload_cols=self._payload_cols())
        self._fit_index()

    def _payload_cols(self) -> list:
        """The item columns a result carries: all but the text, the
        vector and the key."""
        return [c for c in self.items.columns
                if c not in (self.item_col, self.vec_col, self.key_col)]

    def _kernel_metric(self) -> str:
        # corpus vectors are normalized at encode time (O3): cosine is
        # scored as a dot product
        return "ip" if self.measurement == "cos" else self.measurement

    def _gemm_flat(self) -> bool:
        """A flat plan with a metric the GEMM kernels compute: the
        searchers that may hold their corpus matrix."""
        return (self._new_index is None and self.p is None
                and self.measurement in ("cos", "ip", "l2"))

    def _fit_index(self) -> None:
        """Fit the structure the index_param spec names over the cached
        corpus, less a raw-vector searcher's input vector column: the
        index keeps the normalized / whitened ``_VEC`` (_vectorize) and
        no search reads the raw one. The index metric is 'ip' for
        cosine, the same rewrite search() does. A coded index that the
        searches can rank on the driver (no refine) takes its driver
        copy now, as its first search would: a trained searcher's
        searches then run no job to take it."""
        if self._new_index is not None:
            items = self.corpus.select(
                *[c for c in self.corpus.columns if c != self.vec_col])
            self._index = self._new_index().fit(
                items, item_key_col=self.key_col, item_vec_col=_VEC)
            if isinstance(self._index, _CodedIndex) and not self._refine:
                self._index._driver_copy()

    def add_items(self, items: DataFrame, validate: bool = False) -> "SparkSearcher":
        """Append new items to a trained corpus — the analog of FAISS
        ``index.add`` after training (faiss_searcher.py:124). New rows go
        through the identical encode/whiten/normalize pipeline and union
        with the cached corpus; at cluster scale this is a metadata-only
        union (no reshuffle — both sides keep their partitioning), so
        incremental ingest costs only the encoding of the new rows.

        On a searcher that holds its corpus matrix or composes an index
        the new rows are encoded once, into a cache that fills the
        union's before the old corpus cache is released (so the hold
        check reads the union's measured size, and no corpus row is
        encoded again). The held matrix collects the new rows from that
        cache (checked on the driver whatever ``validate`` says); the
        index encodes its codes from it. Once the union passes the hold
        bound the matrix is dropped and searches go through knn_join. A
        superseded matrix is dropped, not destroyed: results of earlier
        searches still read its broadcasts. Rows are validated before
        anything changes: a batch that raises leaves the searcher as it
        was."""
        corpus = self._require_trained()
        new = self._vectorize(items, self.item_col, self.vec_col)
        new = new.select(*corpus.columns)
        # unionByName flattens a corpus that is itself a union into its
        # inputs, which bypasses its cache; the alias keeps it whole
        old = corpus.alias("__corpus")
        held = self._held
        if held is not None or self._index is not None:
            new = new.cache()
        union = old.unionByName(new).cache()
        try:
            if new.is_cached:
                # one job encodes the new rows into their cache and fills
                # the union's from the two; the hold check then reads the
                # union's measured size
                _knn._fill_cache(union)
                if held is not None and (
                        union.schema[self.key_col].dataType.simpleString()
                        == held.key_type and _knn._within_hold_bound(union)):
                    held = held.add(new, item_key_col=self.key_col,
                                    item_vec_col=_VEC)
                else:
                    held = None
            if validate and held is None:
                self.vec_dim = validate_vectors(union, _VEC, self.vec_dim)
        except Exception:
            union.unpersist()
            if new.is_cached:
                new.unpersist()
            raise
        self._held = held
        self.items = self.items.unionByName(items)
        self.corpus = union
        if self._index is not None:
            # FAISS add-after-train parity: the index ingests the new rows
            # without retraining its quantizer (operators/ann.py add_items);
            # its state may still read the old corpus cache, so it fills
            # its own union before that cache goes
            self._index.add_items(new)
        # release the superseded caches — repeated appends must not pin
        # every intermediate corpus in executor storage
        corpus.unpersist()
        if new.is_cached:
            new.unpersist()
        return self

    def _require_trained(self) -> DataFrame:
        if self.corpus is None:
            # faiss_searcher.py:186-187
            raise RuntimeError("searcher is not trained; call train() first")
        return self.corpus

    # -- search (faiss_searcher.py:161-187) -----------------------------------

    def search(
        self,
        target: Union[DataFrame, Sequence[str]],
        topK: Union[int, Iterable[int]] = 10,
        keep_rank_no: bool = False,
        score_scale: int | None = None,
    ) -> Union[DataFrame, Mapping[int, DataFrame]]:
        """Top-``topK`` corpus items per query, ``topK`` an int or a list
        (one frame per K). Each result row carries its own corpus row's
        payload columns. The arguments are the reference's
        (faiss_searcher.py:161): what ``train()`` built picks the plan.

        - A searcher that holds its corpus matrix ranks on the driver, as
          the reference does (faiss_searcher.py:161-187): a list target,
          or a batch frame, whose driver work at the largest K (its
          query matrix and ranked rows) is within
          ``knn.DRIVER_RANK_CAP_BYTES`` is collected (a frame: one Spark
          job, run here, that reads one row past the most queries that
          fit), prepared with the Spark encode's arithmetic and folded
          against the held matrix, and the result is a local frame —
          reading it runs no job and reads no broadcast, so it outlives
          ``close()``. A list ``topK`` ranks once. A larger query set or
          a stream ranks in Spark against the held broadcasts instead
          (``knn.blocked_rank``): building that result runs no job, and
          it must be read before ``close()`` destroys them
          (``add_items`` and a retrain leave them be). Bad query vectors
          (NULL, ragged, wrong dim; under ``cos`` one that normalizes to
          zero) raise ``ValueError`` inside a driver-ranked search.
        - An index_param searcher ranks through its index. An IVF, PQ,
          SQ or IVF-PQ index whose cached code table is within
          ``knn.BLOCKED_SMALL_QUERY_ITEMS_BYTES`` holds a copy of it on
          the driver (taken in ``train()`` by the job that fills the
          index's cache and one collect; refreshed by ``add_items``)
          and ranks there a search that
          does not refine (no ``,RFlat``) and whose driver work at the
          largest K is within ``knn.DRIVER_RANK_CAP_BYTES``: the same
          rows as its Spark scan, as a local frame. A list target then
          runs no job; a frame target runs the one that collects its
          queries. Any other indexed search, and NSW's, runs in
          Spark.
        - Any other searcher ranks through ``knn_join(strategy="auto")``:
          a GEMM kernel for ``cos`` / ``ip`` / ``l2``, the catalyst plan
          for the other metrics.

        A NULL query text raises ``ValueError`` wherever the driver
        prepares or collects the queries (a list target; a frame ranked
        on the driver or through an index), and raises the same message
        from Spark where a frame is encoded in the plan that ranks it (a
        frame over the driver cap, a stream)."""
        corpus = self._require_trained()
        ks = [topK] if isinstance(topK, int) else _knn._sorted_ks(topK)
        held = self._held
        if held is not None:
            prepared = self._driver_queries(target, held, ks[-1])
            if prepared is not None:
                queries, q_type = prepared
                frames = driver_rank(
                    queries, held, ks=ks, query_type=q_type,
                    keep_rank_no=keep_rank_no, score_scale=score_scale)
                frames = {k: self._post(df, keep_rank_no)
                          for k, df in frames.items()}
                return frames[topK] if isinstance(topK, int) else frames
        queries = self._prepare_queries(target)
        payload = self._payload_cols()
        if self._index is not None:
            # reference semantics: every search of an index_param
            # searcher uses the built index; score_scale still applies
            def rank_at(k: int) -> DataFrame:
                return self._rank_indexed(queries, k, payload, score_scale)
        else:
            queries = _knn._query_frame(queries, corpus.sparkSession,
                                        "source_item", _VEC)
            if held is not None:
                # a target too large to collect: rank it in Spark against
                # the held broadcasts, no join and no job here
                def rank_at(k: int) -> DataFrame:
                    return blocked_rank(
                        queries, held, k=k, query_vec_col=_VEC,
                        query_item_col="source_item", keep_rank_no=True,
                        score_scale=score_scale)
            else:
                def rank_at(k: int) -> DataFrame:
                    # corpus vectors were already normalized at train
                    # time (O3); don't re-normalize inside the join
                    return knn_join(
                        queries, corpus, k=k, keep_rank_no=True,
                        metric=self._kernel_metric(), query_vec_col=_VEC,
                        item_vec_col=_VEC, query_item_col="source_item",
                        item_key_col=self.key_col, payload_cols=payload,
                        normalize=False, p=self.p, score_scale=score_scale,
                        strategy="auto")

        def finish(res: DataFrame) -> DataFrame:
            return self._post(res if keep_rank_no else res.drop("rank_no"),
                              keep_rank_no)

        if isinstance(topK, int):
            return finish(rank_at(topK))
        # reference O2 (faiss_searcher.py:170-183): rank once at max(K),
        # each K a filter over that one cached frame
        return {k: finish(df) for k, df in multi_k(rank_at, ks).items()}

    def _rank_indexed(self, queries: DataFrame | DriverQueries, k: int,
                      payload: list,
                      score_scale: int | None) -> DataFrame:
        """Top-k with ``rank_no`` through the index_param structure
        (reference semantics: when an index_param is given, EVERY search
        uses it, faiss_searcher.py:161-187)."""
        extra = {"refine_factor": self.refine_factor} if self._refine else {}
        with _bad_rows_named():   # the index collects the query vectors
            res = self._index.search(
                queries, k=k, query_item_col="source_item",
                query_vec_col=_VEC, payload_cols=payload, **extra)
        if score_scale is not None:
            res = res.withColumn("sim_val", F.round("sim_val", score_scale))
        return res

    def _prepare_queries(self, target) -> DataFrame | DriverQueries:
        """Shared query prep for search()/range_search(): the queries as
        ``(source_item, _VEC)``.

        A List[str] target on an encoder searcher is encoded on the
        driver (:meth:`_list_queries`) into :class:`knn.DriverQueries`:
        an index takes its matrix as is, and the other plans build a
        local frame from it (``knn._query_frame``). A DataFrame target
        goes through :meth:`_vectorize` (queries are data, not
        driver-side state — the reference's primary form): the
        encoder/raw-vector branch picks the text column."""
        if not isinstance(target, DataFrame):
            return self._list_queries(target)
        src_col, q_text, q_vec = self._query_cols(target)
        queries = self._vectorize(target, q_text, q_vec, src_col, "query")
        return queries.select(F.col(src_col).alias("source_item"),
                              F.col(_VEC))

    def _query_cols(self, target: DataFrame) -> tuple:
        """``(id, text, vector)`` columns of a DataFrame target: in
        encoder mode its text (the item column if it has one, else its
        first column) is both id and text and the vector is None; in
        raw-vector mode the key and vector columns, the text None."""
        if self.encoder is not None:
            text = (self.item_col if self.item_col in target.columns
                    else target.columns[0])
            return text, text, None
        return self.key_col, None, self.vec_col

    def _list_queries(self, target) -> DriverQueries:
        """A List[str] target encoded on the driver (:meth:`_encode_texts`).

        A list target's text is its query id, so a repeated text is the
        same query and is searched once: every plan then returns k rows
        per distinct target (the kernels rank each query ROW, the
        catalyst plan each id, so repeated ids would split them). A
        raw-vector searcher has no encoder for a list."""
        if self.encoder is None:
            raise TypeError("a list target needs an encoder; pass a "
                            "DataFrame with the vector column")
        return self._encode_texts(_distinct_texts(target))

    def _driver_queries(self, target, held: BlockedCorpus, k: int):
        """``(DriverQueries, id type)`` of a search ranked on the driver,
        or None for a target that stays in Spark: a stream, or a query
        set whose driver work at ``k`` (``held.driver_bytes``) is over
        ``knn.DRIVER_RANK_CAP_BYTES``.

        A list target is :meth:`_list_queries`'s. A batch frame is one
        Arrow collect of what the encode reads: in encoder mode its text
        column, encoded as a list's texts are (:meth:`_encode_texts`,
        one query per ROW, as the kernels rank); in raw-vector mode its
        ids and raw vectors, checked as ``validate_vectors`` checks
        (NULL, ragged, wrong dim), then :meth:`_finish_queries`. No
        Spark-side encode runs: the driver does the same arithmetic.
        The collect stops one row past the most queries that fit, so no
        more than that lands on the driver, whatever the frame's size
        estimate says or whether it has one (a filter keeps its input's
        estimate; a frame of local rows has none); a frame found too
        large then is read again by the Spark path."""
        most = _knn.DRIVER_RANK_CAP_BYTES // held.driver_bytes(1, k)
        if not isinstance(target, DataFrame):
            texts = _distinct_texts(target)
            if self.encoder is not None and len(texts) > most:
                return None
            return self._list_queries(texts), StringType()
        if target.isStreaming or most < 1:
            return None
        src_col, q_text, q_vec = self._query_cols(target)
        proj = _knn._project(target, [q_text] if q_text is not None
                             else [src_col, q_vec])
        q_type = proj.schema[src_col].dataType
        proj = proj.limit(most + 1)
        if q_text is not None:
            texts = proj.toArrow().column(0)
            if len(texts) > most:
                return None
            return self._encode_texts(texts.to_pylist()), q_type
        # raw vectors are checked at the dim the whitening map takes
        dim = (self.whitening.kernel.shape[0] if self.whitening is not None
               else self.vec_dim)
        ids, mat, _ = _knn._collect_vectors(proj, src_col, q_vec, dim=dim)
        if len(ids) > most:
            return None
        return self._finish_queries(ids, mat), q_type

    def _encode_texts(self, texts: list) -> DriverQueries:
        """:meth:`_vectorize`'s steps on the driver, with its arithmetic:
        the encoder's float32 batch (``encode_batch``), then
        :meth:`_finish_queries`. A text is its query's id, so a NULL
        text is the query NULL: it has nothing to encode (an encoder
        would encode some stand-in, such as the string "None") and
        raises ``ValueError``."""
        if not texts:
            return DriverQueries([], np.empty((0, 0), dtype=np.float32))
        if None in texts:
            raise ValueError(_NULL_TEXT)
        return self._finish_queries(texts, encode_batch(self.encoder, texts))

    def _finish_queries(self, ids, mat) -> DriverQueries:
        """The steps :meth:`_vectorize` runs after the encode, on the
        driver and with its arithmetic: the whitening map in float64
        (``VecsWhitening.apply``), then under ``norm_vec`` the division
        by the L2 norm, and the float32 rounding. The norm is summed as
        a left fold, the order of ``l2_normalize``'s Spark
        ``aggregate``: the last column of ``cumsum`` is that sum bit for
        bit, where numpy's pairwise ``sum`` is not. A query that
        normalizes to zero has no direction and raises ``ValueError``
        naming it, in the words the Spark step uses."""
        if not len(ids):
            return DriverQueries(list(ids), np.empty((0, 0), np.float32))
        if self.whitening is not None:
            mat = self.whitening.apply(mat)
        if self.norm_vec:
            mat = np.asarray(mat, dtype=np.float64)
            norm = np.sqrt(np.cumsum(mat * mat, axis=1)[:, -1])
            zero = np.flatnonzero(norm == 0)
            if len(zero):
                raise ValueError(f"query '{ids[zero[0]]}' {_ZERO_NORM}")
            mat = mat / norm[:, None]
        return DriverQueries(ids, mat.astype(np.float32))

    def range_search(
        self,
        target: Union[DataFrame, Sequence[str]],
        radius: Union[float, Iterable[float]],
        *,
        score_scale: int | None = None,
    ) -> Union[DataFrame, Mapping[float, DataFrame]]:
        """FAISS ``range_search`` on the facade: every corpus item within
        ``radius`` of each query (strict inequality; for l2 the radius is
        on the SQUARED distance — operators/knn.radius_join carries the
        full convention). Output ``(source_item, sim_item, sim_val,
        *payload)``, UNORDERED like FAISS's lims/D/I.

        A LIST of radii returns ``{radius: DataFrame}`` from ONE scan at
        the loosest radius with the tighter sets derived by filter over
        the cached pair frame — the multi-K List-K discipline (reference
        O2, faiss_searcher.py:170-183) applied to radius semantics
        (operators/knn.radius_join_multi).

        Always the exact scan path (FAISS IndexFlat.range_search
        semantics) regardless of ``index_param`` — a radius screen is a
        completeness operation, and the quantized/graph indexes here
        implement top-k, not radius, search. The scan's cost profile is
        knn_join's catalyst strategy (queries broadcast, corpus streams);
        output volume is bounded by the caller's radius, not by k."""
        from faisssearcher_spark.operators.knn import (radius_join,
                                                       radius_join_multi)

        corpus = self._require_trained()
        queries = _knn._query_frame(self._prepare_queries(target),
                                    corpus.sparkSession, "source_item", _VEC)
        payload = self._payload_cols()
        kwargs = dict(metric=self._kernel_metric(), query_vec_col=_VEC,
                      item_vec_col=_VEC, query_item_col="source_item",
                      item_key_col=self.key_col, payload_cols=payload,
                      normalize=False, p=self.p, score_scale=score_scale)
        if isinstance(radius, (int, float)):
            res = radius_join(queries, corpus, radius=radius, **kwargs)
            return self._post(res, keep_rank_no=False)
        multi = radius_join_multi(queries, corpus, radius, **kwargs)
        # preserve the unpersist handle for the shared cached scan —
        # the returned mapping is knn.RadiusFrames either way
        from faisssearcher_spark.operators.knn import RadiusFrames
        return RadiusFrames(
            {r: self._post(df, keep_rank_no=False)
             for r, df in multi.items()}, multi._base)

    def _post(self, res: DataFrame, keep_rank_no: bool) -> DataFrame:
        """Apply the feature-sep splits (faiss_searcher.py:150-156)."""
        if self.query_feature_sep:
            res = res.withColumn(
                "source_item",
                F.split(F.col("source_item").cast("string"),
                        re.escape(self.query_feature_sep)).getItem(0))
        if self.doc_feature_sep:
            res = res.withColumn(
                "sim_item",
                F.split(F.col("sim_item").cast("string"),
                        re.escape(self.doc_feature_sep)).getItem(0))
        return res

    # -- cal_sim (faiss_searcher.py:192-198) -----------------------------------

    def cal_sim(self, item1: str, items2: Union[DataFrame, Sequence[str]]) -> DataFrame:
        if self.encoder is None:
            raise RuntimeError("cal_sim requires an encoder (reference "
                               "contract: faiss_searcher.py:193-194)")
        corpus = self.items if isinstance(items2, DataFrame) else None
        spark = (corpus or self.items).sparkSession
        if corpus is None:
            items2 = spark.createDataFrame(
                [(str(t),) for t in items2], "item string")
            cand_text = "item"
        else:
            items2 = items2
            cand_text = self.item_col
        query = spark.createDataFrame([(str(item1),)], "q string")
        # NOTE: raw dot product, not normalized — preserved reference wrinkle
        # (faiss_searcher.py:195); vectors here bypass norm_vec deliberately.
        udf = encoder_udf(self.encoder)
        qv = query.withColumn(_VEC, udf(F.col("q")))
        cv = items2.withColumn(_VEC, udf(F.col(cand_text)))
        if self.whitening is not None:
            qv = qv.withColumn(_VEC, self.whitening.transform_expr(_VEC))
            cv = cv.withColumn(_VEC, self.whitening.transform_expr(_VEC))
        return cal_sim(qv, cv, query_vec_col=_VEC, cand_vec_col=_VEC,
                       cand_key_col=cand_text).withColumnRenamed(cand_text, "item")

    # -- lifecycle (FAISS frees by dropping the object,
    # faiss_searcher.py:189-190; the Spark cache layer needs a handle) -----

    def _cached_state(self):
        """The frames this searcher pins in executor storage (lifecycle
        protocol hook): the encoded corpus plus the inner index's own
        state when one is composed."""
        state = [] if self.corpus is None else [self.corpus]
        if self._index is not None:
            state += self._index._cached_state()
        return state

    def unpersist(self, blocking: bool = False) -> "SparkSearcher":
        """Release the cached encoded corpus (and any fitted ANN state)
        back to executor storage. The searcher stays usable — the corpus
        recomputes from its encode lineage on the next search, and a held
        corpus matrix stays held."""
        if self.corpus is not None:
            self.corpus.unpersist(blocking)
        if self._index is not None:
            self._index.unpersist(blocking)
        return self

    def close(self) -> None:
        """Terminal release: unpersist and drop the trained state so a
        closed searcher raises the not-trained guard instead of silently
        re-encoding the corpus."""
        self.unpersist(blocking=True)
        if self._held is not None:
            self._held.destroy()
        self._held = None
        if self._index is not None:
            self._index.close()
        self._index = None
        self.corpus = None
        self.vec_dim = None

    def __enter__(self) -> "SparkSearcher":
        return self

    def __exit__(self, *exc) -> None:
        self.close()

    # -- persistence (replaces pickle, faiss_searcher.py:200-208) -------------

    def save(self, path: str) -> None:
        corpus = self._require_trained()
        corpus.write.mode("overwrite").parquet(os.path.join(path, "corpus"))
        meta = {
            "measurement": self.measurement,
            "norm_vec": self.norm_vec,
            "p": self.p,
            "item_col": self.item_col,
            "key_col": self.key_col,
            "vec_col": self.vec_col,
            "vec_dim": self.vec_dim,
            "query_feature_sep": self.query_feature_sep,
            "doc_feature_sep": self.doc_feature_sep,
            "has_encoder": self.encoder is not None,
            "has_whitening": self.whitening is not None,
            "index_param": self.index_param,
            "index_kwargs": self.index_kwargs,
        }
        spark = corpus.sparkSession
        spark.createDataFrame([(json.dumps(meta),)], "meta string") \
            .coalesce(1).write.mode("overwrite") \
            .parquet(os.path.join(path, "meta"))
        if self.whitening is not None:
            self.whitening.save(spark, os.path.join(path, "whitening"))

    @classmethod
    def load(cls, spark: SparkSession, path: str,
             encoder: Encoder | None = None) -> "SparkSearcher":
        meta = json.loads(
            spark.read.parquet(os.path.join(path, "meta")).first()["meta"])
        corpus = spark.read.parquet(os.path.join(path, "corpus"))
        # `has_whitening` lives in the JSON meta so the check works on ANY
        # filesystem the Spark writers can target (hdfs://, s3a://, ...);
        # an os.path.exists probe only sees the local FS and would silently
        # reload a whitened searcher without its whitening — wrong scores,
        # no error. Legacy saves without the flag fall back to the local
        # probe (they could only have been written locally).
        whitening = None
        wpath = os.path.join(path, "whitening")
        if meta.get("has_whitening", os.path.exists(wpath)):
            whitening = VecsWhitening.load(spark, wpath)
        if meta["has_encoder"] and encoder is None:
            raise ValueError("this searcher was saved with an encoder; pass "
                             "the encoder to load() (models are code, not data)")
        searcher = cls(
            items=corpus.drop(_VEC),
            encoder=encoder,
            item_col=meta["item_col"],
            vec_col=meta["vec_col"],
            key_col=meta["key_col"],
            measurement=meta["measurement"],
            norm_vec=meta["norm_vec"],
            p=meta["p"],
            whitening=whitening,
            query_feature_sep=meta["query_feature_sep"],
            doc_feature_sep=meta["doc_feature_sep"],
            index_param=meta.get("index_param"),
            index_kwargs=meta.get("index_kwargs"),
        )
        searcher.corpus = corpus.cache()
        # the stored corpus is checked at the saved dim, then the held
        # matrix and the ANN structure rebuild deterministically from it
        # (seeded k-means / Lloyd) — "data + config" persistence, same
        # policy as the rest of the searcher
        searcher._build_index(dim=meta["vec_dim"])
        return searcher
