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

``train()`` materializes the encoded/normalized corpus (the analog of FAISS
train+add, faiss_searcher.py:116-125); ``search()`` answers batched top-K
queries (faiss_searcher.py:161-187) including the multi-K dict form;
``cal_sim()`` is exact pairwise scoring (faiss_searcher.py:192-198);
``save()``/``load()`` replace whole-object pickling (faiss_searcher.py:
200-208) with Parquet + JSON metadata ("a searcher is data + config").
"""

from __future__ import annotations

import json
import os
import re
from typing import Any, Iterable, Mapping, Sequence, Union

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from faisssearcher_spark.encoders.base import Encoder, encoder_udf
from faisssearcher_spark.functions import metrics as M
from faisssearcher_spark.functions.vector import (
    l2_normalize, to_float32, validate_vectors)
from faisssearcher_spark.operators.knn import knn_join, knn_join_multi_k, cal_sim
from faisssearcher_spark.operators.whitening import VecsWhitening

_VEC = "__vec"


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
        # FAISS index_factory spec, forwarded like the reference does
        # (faiss_searcher.py:30,104): IVF/PQ/IVFPQ specs map to the
        # native Spark indexes at train(); unrecognized specs fall through
        # to the import-gated real-FAISS path at search(). None/"Flat" =
        # exact (the engine's default and the reference's too).
        self.index_param = index_param
        self.index_kwargs = dict(index_kwargs or {})
        # FAISS ",RFlat" suffix (IndexRefineFlat): quantized shortlist,
        # exact re-score. Native for the PQ family (PQ / OPQ,PQ / IVF,PQ
        # variants — refine_factor knob via index_kwargs, default 4);
        # a no-op for IVF/Flat (their candidate scores are already
        # exact); anything else keeps the full spec for the real-FAISS
        # pass-through.
        # NB: refine_factor stays IN index_kwargs (it must survive
        # save()/load() round-trips — popping it here silently reloaded
        # saved searchers with the default); _fit_index strips it before
        # constructing the index.
        self.refine_factor = int(self.index_kwargs.get("refine_factor", 4))
        self._refine = False
        spec = index_param
        if spec is not None:
            stripped = spec.strip()
            if stripped.lower().endswith(",rflat"):
                base = stripped[:-len(",rflat")]
                from faisssearcher_spark.operators.ann import \
                    parse_index_param
                kind = parse_index_param(base)[0]
                if kind in ("pq", "opq_pq", "ivfpq", "opq_ivfpq",
                            "ivf", "flat"):
                    self._refine = kind in ("pq", "opq_pq", "ivfpq",
                                            "opq_ivfpq")
                    spec = base
        if "refine_factor" in self.index_kwargs and not self._refine:
            raise ValueError(
                "refine_factor only applies to ',RFlat' specs over the "
                f"PQ family (got index_param={index_param!r})")
        if spec is not None:
            from faisssearcher_spark.operators.ann import parse_index_param
            self._index_plan = parse_index_param(spec)
            if self._index_plan[0] != "faiss" and measurement not in (
                    "cos", "ip", "l2"):
                raise ValueError(
                    f"index_param={index_param!r} supports cos/ip/l2 "
                    f"measurements only (FAISS quantizers are L2/IP "
                    f"structures), got {measurement!r}")
        else:
            self._index_plan = ("flat",)
        self._index = None
        self.corpus: DataFrame | None = None
        self.vec_dim: int | None = None

    # -- encode pipeline (get_vecs, faiss_searcher.py:63-73) -----------------

    def _vectorize(self, df: DataFrame, text_col: str | None,
                   vec_col: str | None) -> DataFrame:
        if self.encoder is not None:
            udf = encoder_udf(self.encoder)
            out = df.withColumn(_VEC, udf(F.col(text_col)))
        else:
            out = df.withColumn(_VEC, F.col(vec_col))
        if self.whitening is not None:
            out = out.withColumn(_VEC, self.whitening.transform_expr(_VEC))
        if self.norm_vec:
            out = out.withColumn(_VEC, l2_normalize(_VEC))
        # float32 storage parity (faiss_searcher.py:92-94); metric math
        # re-promotes to float64.
        return out.withColumn(_VEC, to_float32(_VEC))

    # -- train (faiss_searcher.py:116-125) ------------------------------------

    def train(self, validate: bool = True) -> "SparkSearcher":
        self.corpus = self._vectorize(
            self.items, self.item_col, self.vec_col).cache()
        if validate:
            self.vec_dim = validate_vectors(self.corpus, _VEC)
        self._fit_index()
        return self

    def _fit_index(self) -> None:
        """Build the ANN structure the index_param spec names (IVF / PQ /
        IVFPQ natively; FAISS specs defer to search time, where the
        import-gated kernel builds per call like the exact strategies).
        Corpus vectors are already normalized/whitened (_vectorize), so
        the index metric is 'ip' for cosine — same rewrite search() does."""
        kind = self._index_plan[0]
        if kind in ("flat", "faiss"):
            self._index = None
            return
        from faisssearcher_spark.operators import ann
        metric = "ip" if self.measurement == "cos" else self.measurement
        kw = dict(self.index_kwargs)
        kw.pop("refine_factor", None)   # search-time knob, not a
        # constructor arg (kept in index_kwargs for save/load)
        if kind == "ivf":
            idx = ann.IVFIndex(n_cells=self._index_plan[1],
                               metric=metric, **kw)
        elif kind == "pq":
            idx = ann.PQIndex(m=self._index_plan[1], metric=metric, **kw)
        elif kind == "opq_pq":
            idx = ann.PQIndex(m=self._index_plan[1], metric=metric,
                              opq=True, **kw)
        elif kind == "sq":
            idx = ann.SQIndex(nbits=self._index_plan[1], metric=metric,
                              **kw)
        elif kind == "nsw":
            # bare HNSW<m> → the native sharded NSW graph
            # (operators/graph.py); FAISS's defaults are efConstruction
            # 40 / efSearch 16 — the wider defaults here favor recall on
            # small shards and stay overridable via index kwargs
            from faisssearcher_spark.operators.graph import NSWIndex
            m_links = self._index_plan[1]
            kw.setdefault("ef_construction", max(48, 2 * m_links))
            kw.setdefault("ef_search", max(64, 2 * m_links))
            idx = NSWIndex(m=m_links, metric=metric, **kw)
        elif kind == "opq_ivfpq":
            idx = ann.IVFPQIndex(n_cells=self._index_plan[1],
                                 m=self._index_plan[2], metric=metric,
                                 opq=True, **kw)
        else:   # ivfpq
            idx = ann.IVFPQIndex(n_cells=self._index_plan[1],
                                 m=self._index_plan[2], metric=metric,
                                 **kw)
        self._index = idx.fit(self.corpus, item_key_col=self.key_col,
                              item_vec_col=_VEC)

    def add_items(self, items: DataFrame, validate: bool = False) -> "SparkSearcher":
        """Append new items to a trained corpus — the analog of FAISS
        ``index.add`` after training (faiss_searcher.py:124). New rows go
        through the identical encode/whiten/normalize pipeline and union
        with the cached corpus; at cluster scale this is a metadata-only
        union (no reshuffle — both sides keep their partitioning), so
        incremental ingest costs only the encoding of the new rows."""
        corpus = self._require_trained()
        new = self._vectorize(items, self.item_col, self.vec_col)
        new = new.select(*corpus.columns)
        self.items = self.items.unionByName(items)
        self.corpus = corpus.unionByName(new).cache()
        # release the superseded cache — repeated appends must not pin
        # every intermediate corpus in executor storage (the union
        # recomputes its lineage on next materialization, which is the
        # encode cost of the new rows only at worst).
        corpus.unpersist()
        if validate:
            self.vec_dim = validate_vectors(self.corpus, _VEC, self.vec_dim)
        if self._index is not None:
            # FAISS add-after-train parity: the index ingests the new rows
            # without retraining its quantizer (operators/ann.py add_items)
            self._index.add_items(new)
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
        strategy: str = "auto",
        **strategy_kwargs: Any,
    ) -> Union[DataFrame, Mapping[int, DataFrame]]:
        corpus = self._require_trained()
        queries = self._prepare_queries(target, corpus)

        payload = [c for c in self.items.columns
                   if c not in (self.item_col, self.vec_col, self.key_col)]
        kwargs: dict[str, Any] = dict(
            metric=self.measurement,
            query_vec_col=_VEC,
            item_vec_col=_VEC,
            query_item_col="source_item",
            item_key_col=self.key_col,
            payload_cols=payload,
            # corpus vectors were already normalized at train time (O3);
            # don't re-normalize inside the join.
            normalize=False,
            p=self.p,
            score_scale=score_scale,
            # "auto" scores cos/ip/l2 with a BLAS GEMM kernel picked from
            # the corpus size estimate and keeps the catalyst plan for the
            # other metrics (knn_join docstring)
            strategy=strategy,
            # tuning knobs forwarded to the chosen kernel (e.g. the grid
            # strategy's n_query_blocks / n_item_shards)
            **strategy_kwargs,
        )
        if self.measurement == "cos":
            kwargs["metric"] = "ip"  # normalized at encode time → dot product

        if self._index is not None or self._index_plan[0] == "faiss":
            # index_param overrides the exact-strategy matrix (reference
            # semantics: every search uses the built index). Refuse a
            # conflicting explicit strategy rather than silently ignore
            # it; score_scale still applies to the returned scores.
            if strategy != "auto" or strategy_kwargs:
                raise ValueError(
                    f"strategy={strategy!r} conflicts with index_param="
                    f"{self.index_param!r} — an indexed searcher routes "
                    "every search through its index")
            return self._search_indexed(queries, corpus, topK, keep_rank_no,
                                        payload, score_scale)

        if isinstance(topK, int):
            res = knn_join(queries, corpus, k=topK,
                           keep_rank_no=keep_rank_no, **kwargs)
            return self._post(res, keep_rank_no)
        ks = list(topK)
        multi = knn_join_multi_k(queries, corpus, ks, **kwargs)
        return {k: self._post(df if keep_rank_no else df.drop("rank_no"),
                              keep_rank_no)
                for k, df in multi.items()}

    def _search_indexed(self, queries: DataFrame, corpus: DataFrame,
                        topK, keep_rank_no: bool, payload: list,
                        score_scale: int | None = None):
        """Search through the index_param structure (reference semantics:
        when an index_param is given, EVERY search uses it,
        faiss_searcher.py:161-187). Multi-K runs one search at max(K) and
        slices by rank — the same slice≡direct-search equivalence the
        exact multi-K path proves (knn_join_multi_k)."""
        def one(k: int) -> DataFrame:
            if self._index is not None:
                extra = ({"refine_factor": self.refine_factor}
                         if self._refine else {})
                res = self._index.search(
                    queries, k=k, query_item_col="source_item",
                    query_vec_col=_VEC, payload_cols=payload, **extra)
            else:   # unrecognized spec → real-FAISS pass-through
                from faisssearcher_spark.operators.ann import faiss_topk
                metric = "ip" if self.measurement == "cos" \
                    else self.measurement
                res = faiss_topk(
                    queries, corpus, k=k, index_param=self.index_param,
                    metric=metric, query_item_col="source_item",
                    item_key_col=self.key_col, query_vec_col=_VEC,
                    item_vec_col=_VEC, payload_cols=payload)
            if score_scale is not None:
                res = res.withColumn("sim_val",
                                     F.round("sim_val", score_scale))
            return res

        if isinstance(topK, int):
            res = one(topK)
            if not keep_rank_no:
                res = res.drop("rank_no")
            return self._post(res, keep_rank_no)
        ks = [int(k) for k in topK]
        res = one(max(ks))
        out = {}
        for k in ks:
            sliced = res.filter(F.col("rank_no") < k)
            if not keep_rank_no:
                sliced = sliced.drop("rank_no")
            out[k] = self._post(sliced, keep_rank_no)
        return out

    def _prepare_queries(self, target, corpus: DataFrame) -> DataFrame:
        """Shared query prep for search()/range_search(): List[str]
        targets become a DataFrame (queries are data, not driver-side
        state — the reference's primary form), the encoder/raw-vector
        branch picks the text column, and the encoded frame reduces to
        ``(source_item, _VEC)``.

        A list target's text is its query id, so a repeated text is the
        same query and is searched once: every strategy then returns k
        rows per distinct target (the kernels rank each query ROW, the
        catalyst plan each id, so repeated ids would split them)."""
        spark = corpus.sparkSession
        if not isinstance(target, DataFrame):
            target = spark.createDataFrame(
                [(t,) for t in dict.fromkeys(map(str, target))],
                "source_item string")
            q_text, q_vec = "source_item", None
        elif self.encoder is not None:
            q_text, q_vec = (self.item_col
                             if self.item_col in target.columns
                             else target.columns[0]), None
        else:
            q_text, q_vec = None, self.vec_col
        queries = self._vectorize(target, q_text, q_vec)
        src_col = q_text if q_text is not None else self.key_col
        return queries.select(F.col(src_col).alias("source_item"),
                              F.col(_VEC))

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
        queries = self._prepare_queries(target, corpus)
        payload = [c for c in self.items.columns
                   if c not in (self.item_col, self.vec_col, self.key_col)]
        # corpus vectors normalized at train time (O3): cosine == dot
        metric = "ip" if self.measurement == "cos" else self.measurement
        kwargs = dict(metric=metric, query_vec_col=_VEC,
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
        recomputes from its encode lineage on the next search."""
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
        searcher.vec_dim = meta["vec_dim"]
        # the ANN structure rebuilds deterministically from the stored
        # corpus (seeded k-means / Lloyd) — "data + config" persistence,
        # same policy as the rest of the searcher
        searcher._fit_index()
        return searcher
