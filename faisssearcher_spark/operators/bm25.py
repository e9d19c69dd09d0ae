"""BM25 lexical retrieval and reciprocal-rank-fusion hybrid search.

Beyond-reference, north-star surface: the reference is a vector
searcher, but production search over a 100 TB corpus is HYBRID — a
lexical BM25 leg (exact term matching, no training, no embedding cost)
fused with the vector leg (``knn_join`` / the ANN indexes) by
reciprocal rank fusion (Cormack et al. 2009). Both legs and the fusion
are pure relational plans, so a SQL oracle replays them exactly.

BM25 (Robertson/Spärck Jones; the Lucene variant of the idf):

    score(q, d) = Σ_{t ∈ distinct(q)} idf(t) · tf(t,d)·(k1+1)
                                      / (tf(t,d) + k1·(1 − b + b·dl/avgdl))
    idf(t)      = ln(1 + (N − df(t) + 0.5) / (df(t) + 0.5))

Scale shape: fit = one (doc, token) count, one token-level count (the
Zipf-small document-frequency table), one join back — the per-(token,
doc) partial score is PRECOMPUTED into the postings table, so a search
is explode(query) → postings equi-join (query side broadcasts) → one
(query, doc) sum → the shared top-k window. The corpus text is never
touched at query time; the postings list is the index. avgdl is
computed as exact-integer sum/count (one division — engine-portable
where a float ``avg`` reduction would drift).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from faisssearcher_spark.functions import text as T
from faisssearcher_spark.operators.knn import _rank_topk


class BM25Index:
    """Inverted BM25 index over a document corpus.

    The postings table carries the fully materialized per-(token, doc)
    BM25 partial score; ``search`` is join + sum + rank. Documents
    sharing no term with the query are absent from the result (standard
    BM25 — there is no evidence to score them on).
    """

    def __init__(self, k1: float = 1.2, b: float = 0.75, *,
                 max_df_ratio: float | None = None, min_df: int = 1):
        if k1 < 0 or not 0 <= b <= 1:
            raise ValueError(f"need k1 >= 0 and 0 <= b <= 1, "
                             f"got k1={k1}, b={b}")
        if max_df_ratio is not None and not 0 < max_df_ratio <= 1:
            raise ValueError(f"max_df_ratio must be in (0, 1], "
                             f"got {max_df_ratio}")
        # posting-list pruning, the BM25 scale lever: the Zipf HEAD
        # dominates postings volume (a term in every document owns a
        # posting per document) while contributing idf ≈ ln(1 + 0.5/N)
        # ≈ 0 to every score. Dropping terms with df/N > max_df_ratio
        # (and df < min_df typo-noise) removes the scale-dominant lists
        # — the classic stop-list, derived from the corpus itself.
        self.max_df_ratio = max_df_ratio
        self.min_df = int(min_df)
        self.k1, self.b = float(k1), float(b)
        self._postings: DataFrame | None = None
        self._idf: DataFrame | None = None
        self._docs: DataFrame | None = None
        self._id_col: str | None = None
        self.n_docs: int | None = None
        self.avgdl: float | None = None

    def fit(self, docs: DataFrame, *, id_col: str = "doc_id",
            text_col: str = "text") -> "BM25Index":
        ex = docs.select(F.col(id_col).alias("__id"),
                         T.tokens(text_col).alias("__toks"))
        dl = ex.select("__id", F.size("__toks").alias("__dl"), "__toks")
        # exact-integer totals, ONE division: sum(long)/count is the same
        # double in every engine, a floating avg() reduction is not
        tot = dl.agg(F.sum("__dl"), F.count("*")).collect()[0]
        n = int(tot[1])
        if not n:
            raise ValueError("BM25Index.fit needs a non-empty corpus")
        self.n_docs, self.avgdl = n, float(tot[0] or 0) / n
        post = (dl.select("__id", "__dl",
                          F.explode("__toks").alias("__tok"))
                .groupBy("__id", "__tok")
                .agg(F.count("*").cast("double").alias("__tf"),
                     F.first("__dl").alias("__dl")))
        dft = post.groupBy("__tok").agg(F.count("*").cast("double")
                                        .alias("__df"))
        if self.max_df_ratio is not None:
            dft = dft.filter(F.col("__df") <= self.max_df_ratio * n)
        if self.min_df > 1:
            dft = dft.filter(F.col("__df") >= self.min_df)
        idf = dft.select(
            "__tok",
            F.log(1.0 + (F.lit(float(n)) - F.col("__df") + 0.5)
                  / (F.col("__df") + 0.5)).alias("__idf"))
        # keep the (Zipf-small) idf table: add_items scores new postings
        # against the FROZEN fit-time statistics
        self._idf = idf.cache()
        k1, b, avgdl = self.k1, self.b, self.avgdl
        w = (post.join(idf, "__tok")
             .select("__tok", "__id",
                     (F.col("__idf") * F.col("__tf") * (k1 + 1.0)
                      / (F.col("__tf")
                         + k1 * (1.0 - b + b * F.col("__dl") / avgdl)))
                     .alias("__w")))
        self._postings = w.cache()
        self._docs = docs
        self._id_col = id_col
        return self

    def add_items(self, docs: DataFrame, *, text_col: str = "text"
                  ) -> "BM25Index":
        """Append documents WITHOUT refitting corpus statistics — the
        add-after-train discipline every index here follows (FAISS
        ``index.add`` semantics, faiss_searcher.py:124): N, avgdl, df and
        therefore idf stay frozen at fit time, new docs contribute
        postings for FIT-VOCABULARY terms only (a frozen model has no
        weight for unseen terms — the classifier/OOV treatment). Refit
        periodically when drift matters; the frozen scores drift only
        through idf staleness, which moves slowly in a Zipf corpus."""
        if self._postings is None:
            raise RuntimeError("BM25Index is not fit; call fit() first")
        ex = docs.select(F.col(self._id_col).alias("__id"),
                         T.tokens(text_col).alias("__toks"))
        dl = ex.select("__id", F.size("__toks").alias("__dl"), "__toks")
        post = (dl.select("__id", "__dl",
                          F.explode("__toks").alias("__tok"))
                .groupBy("__id", "__tok")
                .agg(F.count("*").cast("double").alias("__tf"),
                     F.first("__dl").alias("__dl")))
        k1, b, avgdl = self.k1, self.b, self.avgdl
        idf = self._idf
        w = (post.join(idf, "__tok")
             .select("__tok", "__id",
                     (F.col("__idf") * F.col("__tf") * (k1 + 1.0)
                      / (F.col("__tf")
                         + k1 * (1.0 - b + b * F.col("__dl") / avgdl)))
                     .alias("__w")))
        old = self._postings
        self._postings = old.unionByName(w).cache()
        old.unpersist()
        self._docs = self._docs.unionByName(docs.select(*self._docs.columns))
        return self

    def search(self, queries: DataFrame, *, k: int = 10,
               query_item_col: str = "query_id",
               query_text_col: str = "text",
               score_scale: int | None = None,
               payload_cols: Sequence[str] | None = None) -> DataFrame:
        """Top-``k`` per query: ``(source_item, sim_item, sim_val,
        rank_no, *payload)`` — the engine-standard ranked shape, so BM25
        results feed :func:`rrf_fuse` and the rerankers unchanged.
        ``score_scale`` rounds sim_val BEFORE ranking (ties then break
        on sim_item, engine-portably) — pass 4 for oracle-checked runs,
        None for the raw double."""
        if self._postings is None:
            raise RuntimeError("BM25Index is not fit; call fit() first")
        qt = queries.select(
            F.col(query_item_col).alias("source_item"),
            F.explode(F.array_distinct(T.tokens(query_text_col)))
            .alias("__tok"))
        score = F.sum("__w")
        if score_scale is not None:
            score = F.round(score, score_scale)
        scored = (qt.join(self._postings, "__tok")
                  .groupBy("source_item", "__id")
                  .agg(score.alias("sim_val"))
                  .withColumnRenamed("__id", "sim_item"))
        ranked = _rank_topk(scored, k, True)
        payload = list(payload_cols or [])
        if payload:
            side = self._docs.select(
                F.col(self._id_col).alias("sim_item"), *payload)
            ranked = ranked.join(F.broadcast(side), "sim_item")
        return ranked.select("source_item", "sim_item", "sim_val",
                             "rank_no", *payload)


    # -- lifecycle (the ann.py _CodedIndex storage contract; BM25 pins
    # TWO frames — the postings and the frozen fit-time idf table) ---------

    def _cached_state(self):
        """The frames this index pins in executor storage (lifecycle
        protocol hook shared with the ANN family)."""
        return [f for f in (self._idf, self._postings) if f is not None]

    def unpersist(self, blocking: bool = False) -> "BM25Index":
        """Release the cached postings/idf back to executor storage. The
        index stays usable — both frames recompute from their tokenize +
        join lineage on the next search."""
        for f in self._cached_state():
            f.unpersist(blocking)
        return self

    def close(self) -> None:
        """Terminal release: unpersist and drop the fitted state so a
        closed index raises the not-fit guard instead of silently
        re-tokenizing the corpus."""
        self.unpersist(blocking=True)
        self._postings = None
        self._idf = None
        self._docs = None
        self.n_docs = None
        self.avgdl = None

    def __enter__(self) -> "BM25Index":
        return self

    def __exit__(self, *exc) -> None:
        self.close()

    # -- persistence (S2/S3 parity: data + config as parquet) --------------

    def save(self, path: str) -> None:
        if self._postings is None:
            raise RuntimeError("BM25Index is not fit; nothing to save")
        import json
        import os

        spark = self._postings.sparkSession
        self._postings.write.mode("overwrite").parquet(
            os.path.join(path, "postings"))
        self._idf.write.mode("overwrite").parquet(
            os.path.join(path, "idf"))
        self._docs.write.mode("overwrite").parquet(
            os.path.join(path, "docs"))
        meta = {"k1": self.k1, "b": self.b, "n_docs": self.n_docs,
                "avgdl": self.avgdl, "id_col": self._id_col,
                "max_df_ratio": self.max_df_ratio, "min_df": self.min_df}
        spark.createDataFrame([(json.dumps(meta),)], "meta string") \
            .coalesce(1).write.mode("overwrite") \
            .parquet(os.path.join(path, "meta"))

    @classmethod
    def load(cls, spark, path: str) -> "BM25Index":
        """Load + revalidate (the reference asserts on load,
        faiss_searcher.py:112-114): postings non-empty, idf finite."""
        import json
        import os

        meta = json.loads(
            spark.read.parquet(os.path.join(path, "meta")).first()["meta"])
        index = cls(meta["k1"], meta["b"],
                    max_df_ratio=meta.get("max_df_ratio"),
                    min_df=meta.get("min_df", 1))
        index.n_docs, index.avgdl = meta["n_docs"], meta["avgdl"]
        index._id_col = meta["id_col"]
        postings = spark.read.parquet(os.path.join(path, "postings"))
        idf = spark.read.parquet(os.path.join(path, "idf"))
        if not postings.count():
            raise ValueError("loaded BM25 index has empty postings")
        bad = idf.filter(F.col("__idf").isNull()
                         | F.isnan("__idf")).count()
        if bad:
            raise ValueError(f"loaded BM25 idf table has {bad} "
                             f"null/NaN entries — corrupt index?")
        index._postings = postings.cache()
        index._idf = idf.cache()
        index._docs = spark.read.parquet(os.path.join(path, "docs"))
        return index


def rrf_fuse(ranked: Sequence[DataFrame], *, k: int = 10, c: int = 60,
             weights: Sequence[float] | None = None) -> DataFrame:
    """Reciprocal rank fusion (Cormack, Clarke & Büttcher 2009): fuse
    result lists that share the engine-standard ranked shape
    ``(source_item, sim_item, rank_no)`` into

        rrf(d) = Σ_i  w_i / (c + rank_no_i + 1)

    and re-rank. RRF deliberately ignores the incomparable raw scores
    (cosine vs BM25 units) — only ranks matter, which also makes the
    fused sim_val ENGINE-EXACT: sums of 1/(c+r+1) on small integers are
    bit-identical everywhere, no rounding needed.

    Scale shape: the inputs are already top-k lists (≤ queries·k rows
    each), so the union + one (query, doc) sum + the re-rank window is
    driver-cheap at any corpus size; the heavy lifting stayed in the
    legs. Documents missing from a leg simply contribute nothing — the
    standard RRF treatment.
    """
    if not ranked:
        raise ValueError("rrf_fuse needs at least one ranked input")
    if weights is None:
        weights = [1.0] * len(ranked)
    if len(weights) != len(ranked):
        raise ValueError(f"{len(ranked)} inputs but {len(weights)} weights")
    legs = []
    for df, w in zip(ranked, weights):
        legs.append(df.select(
            "source_item", "sim_item",
            (F.lit(float(w)) / (F.lit(float(c)) + F.col("rank_no") + 1.0))
            .alias("__rrf")))
    fused = legs[0]
    for leg in legs[1:]:
        fused = fused.unionByName(leg)
    fused = (fused.groupBy("source_item", "sim_item")
             .agg(F.sum("__rrf").alias("sim_val")))
    return _rank_topk(fused, k, True)


def mine_hard_negatives(ranked: DataFrame, positives: DataFrame, *,
                        k: int = 10) -> DataFrame:
    """Hard-negative mining for retrieval/embedding training (the DPR /
    contrastive-learning prep step, Karpukhin et al. 2020): from a
    ranked candidate list (any of this engine's searchers — BM25, knn,
    the ANN indexes, or an :func:`rrf_fuse` hybrid), drop each query's
    TRUE positives (``positives``: one row per (source_item, sim_item)
    gold pair) and keep the top ``k`` surviving candidates — documents
    the retriever scored high but that are NOT relevant, exactly the
    negatives a contrastive loss learns most from.

    Scale shape: one anti-join on the (query, doc) pair (the gold set
    is broadcast-small per query) and the shared re-rank window over
    ≤ queries·k rows. The expensive retrieval already happened in the
    leg that produced ``ranked``.
    """
    for c in ("source_item", "sim_item"):
        if c not in ranked.columns or c not in positives.columns:
            raise ValueError(
                f"both inputs need ({'source_item'!r}, {'sim_item'!r}) "
                f"columns; missing {c!r}")
    gold = positives.select("source_item", "sim_item").distinct()
    neg = ranked.join(F.broadcast(gold), ["source_item", "sim_item"],
                      "left_anti")
    if "sim_val" not in neg.columns:   # rank-only inputs: preserve order
        neg = neg.withColumn("sim_val", -F.col("rank_no").cast("double"))
    return _rank_topk(neg.drop("rank_no"), k, True)
