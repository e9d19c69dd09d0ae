"""Native graph ANN: per-shard navigable-small-world index + beam search.

Completes the index family (operators/ann.py: Flat/IVF/PQ/OPQ/IVFPQ/SQ)
with the graph-structured member the reference reaches through FAISS's
``IndexHNSWFlat`` special-case (``backend/faiss_searcher.py:100-107``) —
but WITHOUT the faiss import gate: graph build and search are pure
numpy inside Arrow stages, available everywhere the engine runs.

Spark-first shape (the ``knn_join(strategy="sharded")`` discipline,
knn.py):

- **fit** — the corpus partitions into shards; ONE ``mapInPandas`` pass
  builds an independent NSW graph per shard (greedy insertion: each new
  node beam-searches the inserted prefix and links to its ``m`` nearest;
  reverse edges trim to ``2m``). The corpus never leaves its executors;
  what materializes is the graph table
  ``(shard, pos, key, vector, neighbors, *the items' other columns)``
  — parquet-persistable (the S2/S3 save/load discipline, no pickle).
- **search** — the (small) query matrix, collected (or taken as is from
  ``knn.DriverQueries``) and checked against the graph's dim on the
  driver (``knn._query_vectors``), broadcasts;
  each shard answers
  with layer-0 beam search (``ef_search`` frontier) via
  ``groupBy(shard).applyInPandas`` — Spark guarantees the whole shard in
  one call — and only per-shard top-k candidates, each with its own
  graph row's payload columns, reach the one rank window
  (``knn._top_rows``, the same two-level merge as
  ``knn_join(strategy="sharded")``). Payload is stored with the graph,
  so a loaded index serves it too.

Single-layer NSW, not hierarchical: HNSW's upper layers buy log(n)
entry-point routing once a graph holds ≫10⁶ nodes; here the SHARDING
bounds each graph's size (pick ``shards ≈ corpus / 1M``), so layer-0
search from a fixed entry point stays within a constant factor — and
per-shard recall composes upward: the merged result can only be more
complete than one big graph at equal parameters, because every shard
is searched (no routing misses), exactly the argument behind
``knn_join(strategy="sharded")``.

Scale notes: graph construction is the expensive one-time pass
(O(n·ef_construction·m) vectorized scoring per shard, Python-loop
insertion) — budget it like an IVF train+add; search cost per query is
O(shards · ef_search · m) dot products, independent of corpus size
given fixed shard size. Queries are the SMALL side by contract (they
drive one beam per query per shard); corpus-×-corpus workloads belong
to the dedup operators, not a graph index.
"""

from __future__ import annotations

import heapq
from typing import TYPE_CHECKING, Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

if TYPE_CHECKING:
    from faisssearcher_spark.operators.knn import DriverQueries

__all__ = ["NSWIndex", "nsw_topk"]


def _prep(mat: np.ndarray, metric: str) -> np.ndarray:
    """float32 matrix in the similarity space: cos → L2-normalized rows
    (zero rows stay zero, the engine-wide convention)."""
    mat = np.ascontiguousarray(mat, dtype=np.float32)
    if metric == "cos":
        norms = np.linalg.norm(mat, axis=1, keepdims=True)
        norms[norms == 0] = 1.0
        mat = mat / norms
    return mat


def _sims(mat: np.ndarray, idx: np.ndarray, q: np.ndarray,
          metric: str) -> np.ndarray:
    """Similarity of query ``q`` to ``mat[idx]`` — HIGHER is closer for
    every metric (l2 returns the negated squared distance, the FAISS
    convention the rest of the engine follows)."""
    sub = mat[idx]
    if metric in ("cos", "ip"):
        return sub @ q
    d = sub - q
    return -(d * d).sum(axis=1)


def _beam_search(mat: np.ndarray, nbrs: np.ndarray, counts: np.ndarray,
                 q: np.ndarray, ef: int, metric: str,
                 entry: int = 0) -> "list[tuple[float, int]]":
    """Layer-0 best-first beam search: greedy frontier expansion keeping
    the best ``ef`` results; stops when the nearest frontier node is
    worse than the worst kept result. Returns (sim, pos) best-first."""
    visited = np.zeros(len(mat), dtype=bool)
    visited[entry] = True
    d0 = float(_sims(mat, np.array([entry]), q, metric)[0])
    frontier = [(-d0, entry)]                  # min-heap on -sim
    result = [(d0, entry)]                     # min-heap on sim (worst first)
    while frontier:
        neg, u = heapq.heappop(frontier)
        if len(result) >= ef and -neg < result[0][0]:
            break
        nb = nbrs[u, :counts[u]]
        nb = nb[~visited[nb]]
        if not len(nb):
            continue
        visited[nb] = True
        sims = _sims(mat, nb, q, metric)
        worst = result[0][0]
        for s, v in zip(sims.tolist(), nb.tolist()):
            if len(result) < ef or s > worst:
                heapq.heappush(result, (s, v))
                heapq.heappush(frontier, (-s, v))
                if len(result) > ef:
                    heapq.heappop(result)
                worst = result[0][0]
    return sorted(result, reverse=True)


def _pair_sims(mat: np.ndarray, pos: np.ndarray, qs: np.ndarray,
               metric: str) -> np.ndarray:
    """Per-pair similarity: sims[j] of mat[pos[j]] vs qs[j] (row-aligned
    gather form of :func:`_sims`, the batched-beam hot path)."""
    sub = mat[pos]
    if metric in ("cos", "ip"):
        return (sub * qs).sum(axis=1)
    d = sub - qs
    return -(d * d).sum(axis=1)


def _batch_beam(mat: np.ndarray, nbrs: np.ndarray, counts: np.ndarray,
                qs: np.ndarray, ef: int, metric: str
                ) -> "tuple[np.ndarray, np.ndarray]":
    """Synchronous multi-query beam search over a FROZEN graph: all
    ``B = len(qs)`` beams step together, so every per-step cost (pool
    argmax, neighbor gather, similarity scoring, top-ef merge) is one
    numpy op over the whole batch instead of B Python loop bodies — the
    batched-insertion kernel (r6 verdict #4; the per-node Python beam
    made build constants dominate at large shards).

    Semantics per query match :func:`_beam_search`: best-first expansion
    with a ``visited`` guard, stopping when the best unexpanded
    candidate is worse than the worst of ``ef`` kept results. Returns
    ``(sims (B, ef) float64, pos (B, ef) int64)`` sorted best-first per
    row, ``pos = -1`` padding where fewer than ``ef`` nodes were
    reached."""
    B, n = len(qs), len(mat)
    m_max = max(int(nbrs.shape[1]), 1)
    pool_sim = np.full((B, ef), -np.inf)
    pool_pos = np.full((B, ef), -1, dtype=np.int64)
    pool_exp = np.ones((B, ef), dtype=bool)      # True = expanded/invalid
    visited = np.zeros((B, n), dtype=bool)
    rows = np.arange(B)
    pool_sim[:, 0] = _pair_sims(mat, np.zeros(B, dtype=np.int64), qs,
                                metric)
    pool_pos[:, 0] = 0
    pool_exp[:, 0] = False
    visited[:, 0] = True
    active = np.ones(B, dtype=bool)
    while True:
        avail = ~pool_exp
        score = np.where(avail, pool_sim, -np.inf)
        u = score.argmax(axis=1)
        u_sim = score[rows, u]
        full = pool_pos[:, -1] >= 0              # pool holds ef results
        active &= avail.any(axis=1) & ~(full & (u_sim < pool_sim[:, -1]))
        act = np.flatnonzero(active)
        if not len(act):
            break
        upos = pool_pos[act, u[act]]
        pool_exp[act, u[act]] = True
        nb = nbrs[upos]                          # (A, m_max)
        valid = np.arange(m_max)[None, :] < counts[upos][:, None]
        nbp = np.where(valid, nb, 0).astype(np.int64)
        qrow = np.broadcast_to(act[:, None], nbp.shape)
        valid &= ~visited[qrow, nbp]
        visited[qrow.ravel()[valid.ravel()],
                nbp.ravel()[valid.ravel()]] = True
        fq = qrow.ravel()[valid.ravel()]
        fp = nbp.ravel()[valid.ravel()]
        if not len(fp):
            continue
        fsim = _pair_sims(mat, fp, qs[fq], metric)
        # per-row merge: scatter the flat candidates back to (A, m_max)
        # padded lanes, then one argsort keeps the best ef of pool+new
        new_sim = np.full((len(act), m_max), -np.inf)
        new_pos = np.full((len(act), m_max), -1, dtype=np.int64)
        flat_lane = valid.cumsum(axis=1) - 1     # lane within row
        arow = np.searchsorted(act, fq)
        new_sim[arow, flat_lane.ravel()[valid.ravel()]] = fsim
        new_pos[arow, flat_lane.ravel()[valid.ravel()]] = fp
        cat_sim = np.hstack([pool_sim[act], new_sim])
        cat_pos = np.hstack([pool_pos[act], new_pos])
        cat_exp = np.hstack([pool_exp[act],
                             np.zeros_like(new_sim, dtype=bool)])
        order = np.argsort(-cat_sim, axis=1, kind="stable")[:, :ef]
        r = np.arange(len(act))[:, None]
        pool_sim[act] = cat_sim[r, order]
        pool_pos[act] = cat_pos[r, order]
        pool_exp[act] = cat_exp[r, order]
    return pool_sim, pool_pos


def _build_shard_graph(mat: np.ndarray, m: int, ef_construction: int,
                       metric: str, batch: int = 64
                       ) -> "tuple[np.ndarray, np.ndarray]":
    """Batched greedy NSW insertion over one shard: nodes insert in
    chunks of ``batch`` — each chunk beam-searches the graph as frozen
    at the chunk start (all beams stepped together by
    :func:`_batch_beam`), intra-chunk candidates come from one exact
    chunk×chunk GEMM (strictly-preceding members only, preserving
    insertion-order semantics), and node i links to the best ``m`` of
    the union. Reverse edges trim to the best ``2m`` exactly as in
    per-node insertion. The graph-quality contract is unchanged — the
    prefix links are the same beam results per-node insertion finds
    (spot-checked identical on random corpora), and intra-chunk links
    are EXACT nearest among the chunk — while per-node build cost drops
    ~1.6–2× (measured 0.53 → 0.32 ms/node at 10k nodes, r6 verdict #4;
    the residual is the synchronized steps' fixed numpy overhead plus
    the reverse-edge trim loop). Returns (neighbors (n, 2m) int32
    −1-padded, counts (n,) int32).
    """
    n = len(mat)
    m_max = 2 * m
    nbrs = np.full((n, m_max), -1, dtype=np.int32)
    counts = np.zeros(n, dtype=np.int32)
    ef = max(ef_construction, m)
    base = 1                                     # node 0 has no links
    while base < n:
        hi = min(base + batch, n)
        chunk = mat[base:hi]
        B = hi - base
        beam_sim, beam_pos = _batch_beam(
            mat[:base], nbrs[:base], counts[:base], chunk, ef, metric)
        # exact intra-chunk sims (strictly preceding members only)
        if metric in ("cos", "ip"):
            intra = chunk @ chunk.T
        else:
            sq = (chunk * chunk).sum(axis=1)
            intra = -(sq[:, None] - 2.0 * (chunk @ chunk.T) + sq[None, :])
        for j in range(B):
            i = base + j
            cand_p = [int(p) for p in beam_pos[j] if p >= 0]
            cand_s = [float(s) for s, p in zip(beam_sim[j], beam_pos[j])
                      if p >= 0]
            if j:
                cand_p += [base + t for t in range(j)]
                cand_s += [float(x) for x in intra[j, :j]]
            order = sorted(range(len(cand_p)), key=lambda t: -cand_s[t])
            links = [cand_p[t] for t in order[:m]]
            sim_i = {cand_p[t]: cand_s[t] for t in order[:m]}
            nbrs[i, :len(links)] = links
            counts[i] = len(links)
            for t in links:
                if counts[t] < m_max:
                    nbrs[t, counts[t]] = i
                    counts[t] += 1
                else:
                    # replace t's worst link if i is closer to t
                    t_nb = nbrs[t, :counts[t]]
                    t_sims = _sims(mat, t_nb, mat[t], metric)
                    worst = int(np.argmin(t_sims))
                    if sim_i[t] > float(t_sims[worst]):
                        nbrs[t, worst] = i
        base = hi
    return nbrs, counts


class NSWIndex:
    """Sharded NSW graph index with the family's fit/search/save/load
    surface: what ``ann.parse_index_param`` builds for ``HNSW<m>`` and
    ``HNSW<m>,Flat`` specs, the reference's ``IndexHNSWFlat``
    special-case (parity row X1/X2)."""

    #: graph-table column order (also the save/load schema contract)
    _COLS = ("shard", "pos", "key", "vector", "neighbors")

    def __init__(self, m: int = 16, ef_construction: int = 64,
                 ef_search: int = 64, metric: str = "cos",
                 n_shards: int | None = None):
        if m < 1:
            raise ValueError(f"m must be >= 1, got {m}")
        if ef_construction < m:
            raise ValueError("ef_construction must be >= m")
        if metric not in ("cos", "ip", "l2"):
            raise ValueError("metric must be 'cos', 'ip' or 'l2'")
        self.m = m
        self.ef_construction = ef_construction
        self.ef_search = ef_search
        self.metric = metric
        self.n_shards = n_shards
        # the graph table: one row per fitted item, its _COLS and then
        # the item's other columns, which search carries as payload
        self.graph: DataFrame | None = None
        self.n_items: int | None = None
        self.dim: int | None = None

    # -- fit ---------------------------------------------------------------

    def fit(self, items: DataFrame, *, item_key_col: str = "item",
            item_vec_col: str = "embedding") -> "NSWIndex":
        """Build one graph per shard. The items' columns other than the
        key and the vector are kept in the graph table, so a search (of
        a loaded index too) can carry them as payload; none of them may
        be named like a graph column (``ValueError``)."""
        payload = [c for c in items.columns
                   if c not in (item_key_col, item_vec_col)]
        clash = [c for c in payload if c in self._COLS]
        if clash:
            raise ValueError(f"items column(s) {clash} clash with the graph "
                             f"table's {list(self._COLS)}; rename them first")
        src = items.select(F.col(item_key_col).alias("key"),
                           F.col(item_vec_col).alias("vector"), *payload)
        if self.n_shards is not None:
            src = src.repartition(self.n_shards)
        m, efc, metric = self.m, self.ef_construction, self.metric

        def _build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            # ONE shard per input partition: concatenate the partition's
            # Arrow batches before building, or shard size silently caps
            # at spark.sql.execution.arrow.maxRecordsPerBatch (default
            # 10k) no matter what n_shards asks for — and search cost
            # then grows with the batch count, not the shard count
            # (r6 ADVICE). The shard id is the partition id: unique by
            # construction (the old min-key crc32 for non-numeric keys
            # was a 32-bit space — birthday collisions across many
            # shards silently merged graphs, making neighbor positions
            # resolve to wrong rows).
            from pyspark import TaskContext

            parts = [p for p in batches if len(p)]
            if not parts:
                return
            pdf = pd.concat(parts, ignore_index=True) if len(parts) > 1 \
                else parts[0]
            mat = _prep(np.array(pdf["vector"].to_list()), metric)
            nbrs, counts = _build_shard_graph(mat, m, efc, metric)
            ctx = TaskContext.get()
            shard = int(ctx.partitionId()) if ctx is not None else 0
            yield pd.concat([pd.DataFrame({
                "shard": shard,
                "pos": np.arange(len(pdf), dtype=np.int32),
                "key": pdf["key"].to_numpy(),
                "vector": [v.astype(np.float32) for v in mat],
                "neighbors": [nbrs[j, :counts[j]].astype(np.int32)
                              for j in range(len(pdf))],
            }), pdf[payload].reset_index(drop=True)], axis=1)

        schema = T.StructType([
            T.StructField("shard", T.LongType()),
            T.StructField("pos", T.IntegerType()),
            T.StructField("key", items.schema[item_key_col].dataType),
            T.StructField("vector", T.ArrayType(T.FloatType())),
            T.StructField("neighbors", T.ArrayType(T.IntegerType())),
            *[items.schema[c] for c in payload]])
        self.graph = src.mapInPandas(_build, schema).persist()
        # materialize the build once; the dim checks search's queries
        self.n_items, self.dim = self._size()
        return self

    def _size(self) -> "tuple[int, int | None]":
        """(node count, vector dim) of the graph table, in one job."""
        row = self.graph.agg(F.count("*"), F.max(F.size("vector"))).first()
        return row[0], row[1]

    def _require_fitted(self) -> DataFrame:
        if self.graph is None:
            raise ValueError("index is not fitted; call fit() or load()")
        return self.graph

    # -- search ------------------------------------------------------------

    def search(self, queries: DataFrame | DriverQueries, *, k: int = 10,
               query_item_col: str = "query_id",
               query_vec_col: str = "embedding",
               ef_search: int | None = None,
               payload_cols: Sequence[str] | None = None) -> DataFrame:
        """Global top-k per query: per-shard beam candidates, each with
        its own graph row's ``payload_cols``, then the one rank window.
        Output ``(source_item, sim_item, sim_val, rank_no,
        *payload_cols)`` — the family's result shape. A payload column
        the graph table lacks (a graph saved before it kept the items'
        columns has none) raises ``ValueError`` naming it."""
        from faisssearcher_spark.operators.knn import (
            _candidate_schema, _query_type, _query_vectors, _top_rows)

        graph = self._require_fitted()
        payloads = list(payload_cols or [])
        missing = [c for c in payloads if c not in graph.columns]
        if missing:
            raise ValueError(f"payload_cols {missing} not found in the "
                             f"graph table (columns: {graph.columns})")
        ef = max(int(ef_search or self.ef_search), k)
        qids, qmat = _query_vectors(queries, query_item_col,
                                    query_vec_col, dim=self.dim)
        if not len(qids):
            raise ValueError("search needs a non-empty query set (the "
                             "query matrix is driver-collected)")
        spark = graph.sparkSession
        b_q = spark.sparkContext.broadcast(_prep(qmat, self.metric))
        b_qid = spark.sparkContext.broadcast(qids)
        metric, kk = self.metric, k

        def _shard_search(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values("pos")
            # defense-in-depth vs silently merged shards (r6 ADVICE):
            # duplicate pos values would make neighbor indices resolve
            # to the wrong rows with no detectable symptom downstream
            pos = pdf["pos"].to_numpy()
            if len(pos) and (pos != np.arange(len(pos))).any():
                raise ValueError(
                    f"shard {int(pdf['shard'].iloc[0])} has non-contiguous "
                    "or duplicate pos values — two shards were merged "
                    "under one id (corrupt graph table?)")
            mat = np.array(pdf["vector"].to_list(), dtype=np.float32)
            m_max = max((len(x) for x in pdf["neighbors"]), default=0)
            nbrs = np.full((len(pdf), max(m_max, 1)), -1, dtype=np.int32)
            counts = np.zeros(len(pdf), dtype=np.int32)
            for j, nb in enumerate(pdf["neighbors"]):
                nbrs[j, :len(nb)] = nb
                counts[j] = len(nb)
            keys = pdf["key"].to_numpy()
            out_src, out_pos, out_val = [], [], []
            for qi, q in enumerate(b_q.value):
                found = _beam_search(mat, nbrs, counts, q, ef, metric)
                for s, p in found[:kk]:
                    out_src.append(b_qid.value[qi])
                    out_pos.append(p)
                    # l2 reports the squared distance (the family's
                    # FAISS convention), not the internal negated sim
                    out_val.append(float(s) if metric != "l2"
                                   else float(-s))
            return pd.concat([
                pd.DataFrame({"source_item": out_src,
                              "sim_item": keys[out_pos],
                              "sim_val": out_val}),
                pdf[payloads].iloc[out_pos].reset_index(drop=True)], axis=1)

        cand = graph.select(*self._COLS, *payloads).groupBy("shard") \
            .applyInPandas(_shard_search, _candidate_schema(
                _query_type(queries, query_item_col), graph, "key",
                payloads))
        return _top_rows(cand, kk, self.metric != "l2", payloads)

    # -- lifecycle (the ann.py _CodedIndex storage contract; the NSW
    # state is the persisted GRAPH table, not an encoded-items cache) ------

    def _cached_state(self):
        """The frames this index pins in executor storage (lifecycle
        protocol hook) — the NSW state is the graph table."""
        return [] if self.graph is None else [self.graph]

    def unpersist(self, blocking: bool = False) -> "NSWIndex":
        """Release the persisted graph table back to executor storage.
        The index stays usable — the graph recomputes from its lineage
        (a full per-shard rebuild) on the next search, so prefer
        ``save()``/``load()`` when the rebuild matters."""
        if self.graph is not None:
            self.graph.unpersist(blocking)
        return self

    def close(self) -> None:
        """Terminal release: unpersist and drop the graph/state refs so a
        closed index raises the not-fitted guard instead of silently
        rebuilding."""
        self.unpersist(blocking=True)
        self.graph = None
        self.n_items = None

    def __enter__(self) -> "NSWIndex":
        return self

    def __exit__(self, *exc) -> None:
        self.close()

    # -- persistence (S2/S3: parquet + revalidation, no pickle) ------------

    def save(self, path: str) -> None:
        import os

        from faisssearcher_spark.operators.ann import _write_index_meta

        graph = self._require_fitted()
        graph.write.mode("overwrite").parquet(os.path.join(path, "graph"))
        meta = {"m": self.m, "ef_construction": self.ef_construction,
                "ef_search": self.ef_search, "metric": self.metric,
                "n_items": self.n_items}
        _write_index_meta(graph.sparkSession, path, meta)

    @classmethod
    def load(cls, spark, path: str) -> "NSWIndex":
        import os

        from faisssearcher_spark.operators.ann import _read_index_meta

        meta = _read_index_meta(spark, path)
        graph = spark.read.parquet(os.path.join(path, "graph"))
        if set(cls._COLS) - set(graph.columns):
            raise ValueError("stored graph table missing columns — "
                             "corrupt index?")
        idx = cls(m=meta["m"], ef_construction=meta["ef_construction"],
                  ef_search=meta["ef_search"], metric=meta["metric"])
        idx.graph = graph.persist()
        # revalidate like the quantized indexes (S3): row count matches
        # the recorded corpus size, neighbor positions stay in-shard
        n, idx.dim = idx._size()
        if n != int(meta["n_items"]):
            raise ValueError(
                f"stored graph has {n} nodes, meta says {meta['n_items']}"
                " — corrupt index?")
        bad = (graph.select(
            "shard", "pos",
            F.explode_outer("neighbors").alias("nb"))
            .join(graph.groupBy("shard")
                  .agg(F.count("*").alias("sz")), "shard")
            .filter(F.col("nb").isNotNull()
                    & ((F.col("nb") < 0) | (F.col("nb") >= F.col("sz"))))
            .count())
        if bad:
            raise ValueError(f"{bad} neighbor edges point outside their "
                             "shard — corrupt index?")
        # pos must be unique per shard (a duplicate means two graphs were
        # written under one shard id — the in-shard bounds check above
        # cannot see that, but search would silently resolve neighbors
        # to wrong rows)
        dup = (graph.groupBy("shard", "pos").count()
               .filter(F.col("count") > 1).count())
        if dup:
            raise ValueError(f"{dup} duplicate (shard, pos) rows — two "
                             "shards merged under one id?")
        idx.n_items = n
        return idx


def nsw_topk(queries: DataFrame, items: DataFrame, *, k: int = 10,
             m: int = 16, ef_construction: int = 64, ef_search: int = 64,
             metric: str = "cos", n_shards: int | None = None,
             query_item_col: str = "query_id",
             item_key_col: str = "item",
             query_vec_col: str = "embedding",
             item_vec_col: str = "embedding") -> DataFrame:
    """One-shot sharded graph search (the ``knn_join(strategy=
    "sharded")`` twin with the NSW kernel instead of exact GEMM): build
    per-shard graphs and answer in a single pass — right when the index
    is not reused across query batches. Pick ``n_shards`` deliberately:
    a small parquet corpus reads as ONE split, serializing the whole
    Python insertion loop onto a single core (the scalebench open-cost
    coalescing note) — shard ≈ corpus/cores for build parallelism,
    corpus/1M at real scale."""
    idx = NSWIndex(m=m, ef_construction=ef_construction,
                   ef_search=ef_search, metric=metric,
                   n_shards=n_shards)
    idx.fit(items, item_key_col=item_key_col, item_vec_col=item_vec_col)
    return idx.search(queries, k=k, query_item_col=query_item_col,
                      query_vec_col=query_vec_col)
