"""Exact k-NN similarity join — the engine's flagship operator.

Reference parity: ``FaissSearcher.search`` (backend/faiss_searcher.py:161-187)
answers batched top-K nearest-neighbor queries through a FAISS ANN index and
assembles a flattened result frame ``[source_item, sim_item, sim_val,
(rank_no), *payload]`` (faiss_searcher.py:127-159). The FAISS index is an
*optimization*; the observable contract is "top-K under a metric with payload
carry", which this operator satisfies exactly (recall 1.0) with a pure
Catalyst plan:

    queries ⨯ items  →  score (metric expr)  →
    row_number() over (partition by query order by score, item_id)  →
    filter rank ≤ K

Scale design (the part FAISS cannot do):

- **Broadcast the small side.** The common shape is "m queries ≪ n items";
  broadcasting queries turns the cross join into a BroadcastNestedLoopJoin —
  the n-row corpus streams through executors, never shuffles.
- **Rank-limit pushdown.** The ``row_number() ≤ k`` filter directly above the
  window lets Spark insert a WindowGroupLimit below the exchange, so each map
  task emits at most m·k rows into the shuffle instead of m·n: the shuffle
  volume is O(queries × k × partitions), independent of corpus size.
- **No Python on the scoring path.** Metric expressions are
  higher-order-function Catalyst exprs (see functions/metrics.py).  They do
  not join whole-stage codegen: ``ZipWith`` / ``ArrayAggregate`` are
  ``CodegenFallback`` in Spark 4.1.2, so every pair is scored by the
  interpreter (the benchmark's ``flat_search`` traces ~226k pairs/s on 3
  task slots).  The GEMM strategies below score with BLAS instead.
- Skewed query_ids can't occur (each query id appears exactly n times by
  construction) so no salting is needed; AQE handles partition sizing.

Determinism: FAISS breaks distance ties by index order; we order by
``(score, item_id)`` so ties are deterministic and oracle-checkable
(SURVEY.md §7 hard-part c).
"""

from __future__ import annotations

from typing import Iterable, Mapping, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from faisssearcher_spark.functions import metrics as M
from faisssearcher_spark.functions.vector import l2_normalize

_Q_VEC = "__q_vec"
_Q_ID = "__q_id"
_SRC = "source_item"

#: default cap on broadcasting the query side (catalyst strategy) — the
#: same order as Spark's autoBroadcastJoinThreshold ballpark for a frame
#: that every executor must hold in memory.
QUERY_BROADCAST_CAP_BYTES = 64 << 20
#: default cap on single-machine corpus materialization (blocked strategy
#: collects the item matrix to the driver and broadcasts it).
ITEMS_MEMORY_CAP_BYTES = 256 << 20


def _plan_size_bytes(df: DataFrame) -> int | None:
    """Catalyst's optimized-plan size estimate (see
    plans/inspect.plan_size_bytes — shared with the sink compactor);
    module-level so tests can monkeypatch the estimator."""
    from faisssearcher_spark.plans.inspect import plan_size_bytes
    return plan_size_bytes(df)


def _auto_strategy(q_bytes: int | None, i_bytes: int | None, *,
                   query_cap: int = QUERY_BROADCAST_CAP_BYTES,
                   items_cap: int = ITEMS_MEMORY_CAP_BYTES) -> str:
    """Pick the knn_join execution strategy from the two sides' estimated
    sizes — the quadrant matrix the four strategies were designed for:

    =============  ==============  =========
    queries        items           strategy
    =============  ==============  =========
    small (≤caps)  small           catalyst (broadcast queries, pure plan)
    small          large           sharded  (queries broadcast, corpus
                                   never moves, per-shard GEMM + merge)
    large          small           blocked  (corpus broadcast, per-batch
                                   GEMM over streaming queries)
    large          large           grid     (block × shard GEMM cells)
    =============  ==============  =========

    An unknown estimate is treated as LARGE: every strategy is exact, so
    the only risk of guessing big is extra shuffle — guessing small risks
    a driver/executor OOM. The small-queries quadrants differ: catalyst
    needs only broadcast room (shuffle O(m·k)), while sharded additionally
    drives one GEMM per Arrow batch.

    The small/small quadrant's choice is not a latency win: at 64 queries
    × 4,096 items × 64 dims (cosine, k=10, warm, same session,
    oracle-checked, ``local[3]`` on 4 cores) catalyst took 1.14 s, sharded
    0.55 s and blocked 0.43 s; with the worker daemon of ``session.py``
    1.31 s, 0.30 s and 0.21 s.  The catalyst metric expressions run
    interpreted (see the module docstring).  The default stays until a
    benchmarked change flips it."""
    q_small = q_bytes is not None and q_bytes <= query_cap
    i_small = i_bytes is not None and i_bytes <= items_cap
    if q_small:
        return "catalyst" if i_small else "sharded"
    return "blocked" if i_small else "grid"


def knn_join(
    queries: DataFrame,
    items: DataFrame,
    *,
    metric: str = "cos",
    k: int = 10,
    query_vec_col: str = "embedding",
    item_vec_col: str = "embedding",
    query_item_col: str | None = None,
    item_key_col: str = "item",
    payload_cols: Sequence[str] | None = None,
    keep_rank_no: bool = True,
    normalize: bool | None = None,
    p: float | None = None,
    score_scale: int | None = None,
    broadcast_queries: bool | None = None,
    strategy: str = "catalyst",
    n_query_blocks: "int | None" = None,
    n_item_shards: "int | None" = None,
) -> DataFrame:
    """For each query row, find the top-``k`` item rows under ``metric``.

    Parameters mirror the reference's ``search(target, topK, keep_rank_no)``
    (faiss_searcher.py:161) with the positional-column convention replaced by
    named columns:

    - ``queries``: DataFrame with ``query_vec_col`` (array<float|double>) and
      ``query_item_col`` (the "source item" identity; defaults to
      ``item_key_col`` if present in queries, else a generated id).
    - ``items``: DataFrame with ``item_vec_col``, ``item_key_col`` and
      arbitrary payload columns carried into the result
      (faiss_searcher.py:146-147).
    - ``normalize``: L2-normalize both sides before scoring. Default: only
      for ``metric="cos"`` — matching the reference's forced normalization
      (faiss_searcher.py:53). With normalized inputs cosine reduces to the
      inner product (reference optimization O3); we therefore score with
      ``ip`` after normalizing.
    - ``score_scale``: optionally round ``sim_val`` to this many decimals
      *before* ranking — makes tie-breaking robust for cross-engine checks.

    Returns ``[source_item, sim_item, sim_val, (rank_no), *payload]`` with
    ``rank_no`` 0-based like the reference's ``enumerate`` rank
    (faiss_searcher.py:141-144).

    ``strategy``:

    - ``"auto"``: pick one of the four below from Catalyst's size
      estimates of the two sides (see :func:`_auto_strategy` for the
      quadrant matrix and the treat-unknown-as-large rule).
    - ``"catalyst"`` (default): the pure-plan path above. Scales in BOTH
      dimensions (nothing is collected anywhere) — the safe default.
    - ``"blocked"``: SURVEY §7 hard-part (a)'s mitigation for LARGE query
      sets — the key-ordered corpus matrix broadcasts to executors and
      each Arrow batch of queries scores against it with numpy float64
      matmuls over bounded item blocks (~256 MB score scratch, so worker
      memory stays flat at the corpus cap) + stable-argsort top-k merge
      inside ``mapInPandas``. O(m·n·d) flops in BLAS instead of m·n
      interpreted expression evaluations (~10× at bench scale),
      shuffle-free until the small ranked output. Requires the corpus
      (n·d doubles + keys) to fit executor memory; supports
      ``cos``/``ip``/``l2``. Results are bit-identically ranked (float64
      accumulation, ties by item key) and gate-checked against the same
      DuckDB oracle as the catalyst path.
    - ``"sharded"``: the converse — for corpora LARGER than any one
      machine. The (small) query matrix broadcasts to executors; each
      Arrow batch of items scores against it with one numpy GEMM and
      emits only its local top-k; a final window merges the per-shard
      candidates into the global top-k. The corpus never moves and the
      only shuffle is the tiny candidate merge (≤ m·k rows per batch),
      so memory stays constant as the corpus grows — `repartition` the
      items first to choose the shard count. Same metrics and the same
      exact, tie-deterministic ranking as "blocked".
    - ``"grid"``: the fourth quadrant — BOTH sides too big for one
      machine. Queries hash into ``n_query_blocks`` blocks, items into
      ``n_item_shards`` shards; a cogrouped ``applyInPandas`` pairs every
      (block × shard) cell, runs one numpy GEMM per cell emitting that
      cell's local top-k, and a final window merges per-query candidates
      into the global top-k. Data movement is the distributed-GEMM lower
      bound — each query row is replicated ``n_item_shards`` times, each
      item row ``n_query_blocks`` times — and per-executor memory is one
      cell (|queries|/blocks × |items|/shards), tunable independently of
      either total size. Same metrics and exact tie-deterministic
      ranking as "blocked"/"sharded".
    """
    for col, df, side in ((query_vec_col, queries, "queries"),
                          (item_vec_col, items, "items"),
                          (item_key_col, items, "items")):
        if col not in df.columns:
            raise ValueError(
                f"column {col!r} not found in {side} frame "
                f"(columns: {df.columns})")
    if query_item_col is not None and query_item_col not in queries.columns:
        raise ValueError(
            f"query_item_col {query_item_col!r} not found in queries "
            f"frame (columns: {queries.columns})")
    missing_payload = [c for c in (payload_cols or []) if c not in items.columns]
    if missing_payload:
        raise ValueError(
            f"payload_cols {missing_payload} not found in items frame "
            f"(columns: {items.columns})")
    if strategy == "auto":
        strategy = _auto_strategy(_plan_size_bytes(queries),
                                  _plan_size_bytes(items))
    if strategy == "blocked":
        return _knn_join_blocked(
            queries, items, metric=metric, k=k,
            query_vec_col=query_vec_col, item_vec_col=item_vec_col,
            query_item_col=query_item_col, item_key_col=item_key_col,
            payload_cols=payload_cols, keep_rank_no=keep_rank_no,
            normalize=normalize, score_scale=score_scale)
    if strategy == "sharded":
        return _knn_join_sharded(
            queries, items, metric=metric, k=k,
            query_vec_col=query_vec_col, item_vec_col=item_vec_col,
            query_item_col=query_item_col, item_key_col=item_key_col,
            payload_cols=payload_cols, keep_rank_no=keep_rank_no,
            normalize=normalize, score_scale=score_scale)
    if strategy == "grid":
        return _knn_join_grid(
            queries, items, metric=metric, k=k,
            query_vec_col=query_vec_col, item_vec_col=item_vec_col,
            query_item_col=query_item_col, item_key_col=item_key_col,
            payload_cols=payload_cols, keep_rank_no=keep_rank_no,
            normalize=normalize, score_scale=score_scale,
            n_query_blocks=n_query_blocks, n_item_shards=n_item_shards)
    if strategy != "catalyst":
        raise ValueError("strategy must be 'auto', 'catalyst', 'blocked', "
                         "'sharded' or 'grid'")
    if normalize is None:
        normalize = metric == "cos"
    score_metric = metric
    if metric == "cos" and normalize:
        score_metric = "ip"  # O3: cosine == dot product on normalized vectors
    metric_fn, higher_is_closer = M.resolve_metric(score_metric, p=p)
    if metric == "cos":
        higher_is_closer = True

    if query_item_col is None:
        query_item_col = item_key_col if item_key_col in queries.columns else None

    q_vec: Column = F.col(query_vec_col)
    i_vec: Column = F.col(item_vec_col)
    if normalize:
        # zero_norm_nan=False: a zero-norm vector stays zero (score 0)
        # instead of becoming NaN — Spark sorts NaN above every double in a
        # descending order, so a single zero vector would otherwise rank
        # first for every query; the numpy kernels (blocked/sharded/grid)
        # already keep zero vectors zero, and this aligns all strategies.
        q_vec = l2_normalize(q_vec, zero_norm_nan=False)
        i_vec = l2_normalize(i_vec, zero_norm_nan=False)

    if query_item_col is not None:
        q_src = F.col(query_item_col)
    else:  # positional identity, like the reference's raw-vector mode
        q_src = F.monotonically_increasing_id()
    q = queries.select(q_src.alias(_Q_ID), q_vec.alias(_Q_VEC))

    if payload_cols is None:
        payload_cols = [c for c in items.columns
                        if c not in (item_vec_col, item_key_col)]
    it_cols = [i_vec.alias("__i_vec"), F.col(item_key_col).alias("sim_item")]
    it_cols += [F.col(c) for c in payload_cols]
    it = items.select(*it_cols)

    if broadcast_queries is None:
        # m ≪ n is the designed-for shape, but never broadcast a query
        # side that Catalyst estimates past the cap (r3 verdict #3: the
        # old unconditional True let a large query set OOM the executors);
        # an unknown estimate keeps the designed-for default.
        q_bytes = _plan_size_bytes(queries)
        broadcast_queries = (q_bytes is None
                             or q_bytes <= QUERY_BROADCAST_CAP_BYTES)
    joined = it.join(F.broadcast(q)) if broadcast_queries else q.crossJoin(it)

    score = metric_fn(F.col(_Q_VEC), F.col("__i_vec"))
    if score_scale is not None:
        score = F.round(score, score_scale)
    scored = joined.withColumn("sim_val", score)

    order = [F.col("sim_val").desc() if higher_is_closer else F.col("sim_val").asc(),
             F.col("sim_item").asc()]
    w = Window.partitionBy(_Q_ID).orderBy(*order)
    # Filter on the raw row_number so Catalyst's WindowGroupLimit rewrite
    # fires (it pattern-matches `rank <= k`): a partial top-k then runs
    # *below* the exchange and each map task ships at most m·k rows into
    # the shuffle instead of m·n. rank_no (0-based, reference parity with
    # faiss_searcher.py:141's enumerate) is derived afterwards.
    ranked = (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
    )

    out = [F.col(_Q_ID).alias(_SRC), F.col("sim_item"), F.col("sim_val")]
    if keep_rank_no:
        out.append((F.col("__rn") - 1).alias("rank_no"))
    out += [F.col(c) for c in payload_cols]
    return ranked.select(*out)


def radius_join(
    queries: DataFrame,
    items: DataFrame,
    *,
    metric: str = "cos",
    radius: float,
    query_vec_col: str = "embedding",
    item_vec_col: str = "embedding",
    query_item_col: str | None = None,
    item_key_col: str = "item",
    payload_cols: Sequence[str] | None = None,
    normalize: bool | None = None,
    p: float | None = None,
    score_scale: int | None = None,
) -> DataFrame:
    """FAISS ``range_search`` parity: every (query, item) pair within
    ``radius`` — STRICT inequality like FAISS (``sim_val > radius`` for
    similarity metrics, ``sim_val < radius`` for distances; for l2 the
    radius is on the SQUARED distance, the family convention).

    Column conventions, normalization, and the cos→ip rewrite match
    :func:`knn_join`; the difference is the reduction — no window, no
    top-k: the score filter replaces ranking, so the plan is one
    broadcast-queries join + a codegen'd filter, and output volume is
    ∝ the number of matches (the caller's radius choice), never m·n
    materialized. Rows come back UNORDERED (FAISS returns unordered
    lims/D/I too) — sort per query downstream if needed.

    Scale shape: identical to knn_join's catalyst strategy (queries
    broadcast under the same size cap, corpus streams); there is no
    per-query cap, so a radius that matches half the corpus produces
    half the corpus — radius search is the operator where the USER
    bounds the output, not the engine.
    """
    for col, df, side in ((query_vec_col, queries, "queries"),
                          (item_vec_col, items, "items"),
                          (item_key_col, items, "items")):
        if col not in df.columns:
            raise ValueError(
                f"column {col!r} not found in {side} frame "
                f"(columns: {df.columns})")
    if query_item_col is not None and query_item_col not in queries.columns:
        raise ValueError(
            f"query_item_col {query_item_col!r} not found in queries "
            f"frame (columns: {queries.columns})")
    missing_payload = [c for c in (payload_cols or [])
                       if c not in items.columns]
    if missing_payload:
        raise ValueError(
            f"payload_cols {missing_payload} not found in items frame "
            f"(columns: {items.columns})")
    if normalize is None:
        normalize = metric == "cos"
    score_metric = metric
    if metric == "cos" and normalize:
        score_metric = "ip"   # O3: cosine == dot on normalized vectors
    metric_fn, higher_is_closer = M.resolve_metric(score_metric, p=p)
    if metric == "cos":
        higher_is_closer = True

    if query_item_col is None:
        query_item_col = (item_key_col if item_key_col in queries.columns
                          else None)
    q_vec: Column = F.col(query_vec_col)
    i_vec: Column = F.col(item_vec_col)
    if normalize:
        q_vec = l2_normalize(q_vec, zero_norm_nan=False)
        i_vec = l2_normalize(i_vec, zero_norm_nan=False)
    q_src = (F.col(query_item_col) if query_item_col is not None
             else F.monotonically_increasing_id())
    q = queries.select(q_src.alias("source_item"), q_vec.alias(_Q_VEC))
    if payload_cols is None:
        payload_cols = [c for c in items.columns
                        if c not in (item_vec_col, item_key_col)]
    it = items.select(i_vec.alias("__i_vec"),
                      F.col(item_key_col).alias("sim_item"),
                      *[F.col(c) for c in payload_cols])

    q_bytes = _plan_size_bytes(queries)
    small_q = q_bytes is None or q_bytes <= QUERY_BROADCAST_CAP_BYTES
    joined = it.join(F.broadcast(q)) if small_q else q.crossJoin(it)
    score = metric_fn(F.col(_Q_VEC), F.col("__i_vec"))
    if score_scale is not None:
        score = F.round(score, score_scale)
    scored = joined.withColumn("sim_val", score)
    keep = (F.col("sim_val") > radius if higher_is_closer
            else F.col("sim_val") < radius)
    return scored.filter(keep).select("source_item", "sim_item", "sim_val",
                                      *payload_cols)


class RadiusFrames(dict):
    """``{radius: DataFrame}`` from :func:`radius_join_multi`, plus an
    :meth:`unpersist` handle for the ONE shared cached pair frame every
    value derives from. Radius output is UNBOUNDED (a loose radius can
    materialize a large fraction of m×n pairs — unlike the top-k frame
    ``knn_join_multi_k`` caches), so callers that are done with every
    derived frame should release the cache explicitly; it otherwise
    lives until the session evicts it (MEMORY_AND_DISK, the DataFrame
    default — spills rather than OOMs, but still holds disk)."""

    def __init__(self, frames: "Mapping[float, DataFrame]",
                 base: DataFrame) -> None:
        super().__init__(frames)
        self._base = base

    def unpersist(self, blocking: bool = False) -> "RadiusFrames":
        """Release the shared cached scan all values derive from.
        Derived frames stay valid afterwards — they recompute from the
        source scan instead of the cache."""
        self._base.unpersist(blocking)
        return self


def radius_join_multi(
    queries: DataFrame,
    items: DataFrame,
    radii: Iterable[float],
    **kwargs,
) -> "RadiusFrames":
    """Multi-radius range search: scan once at the LOOSEST radius and
    derive every tighter radius by a filter over the cached pair frame
    — :func:`knn_join_multi_k`'s compute-once/filter-many discipline
    (reference O2, faiss_searcher.py:170-183) applied to radius
    semantics. Loosest = min(radii) for similarity metrics (the keep
    condition is ``sim_val > r``), max(radii) for distances
    (``sim_val < r``); ``score_scale`` rounding happens inside the one
    shared scan exactly as it would per call, so each derived frame
    equals its standalone :func:`radius_join` row-for-row.

    Returns a :class:`RadiusFrames` (a plain ``dict`` subclass): call
    ``.unpersist()`` when done — radius output is unbounded, so the
    shared cache can pin a large pair frame for the session otherwise.
    """
    radii = sorted({float(r) for r in radii})
    if not radii:
        raise ValueError("radii must be non-empty")
    # resolve the filter direction the same way radius_join will
    metric = kwargs.get("metric", "cos")
    normalize = kwargs.get("normalize")
    if normalize is None:
        normalize = metric == "cos"
    score_metric = ("ip" if metric == "cos" and normalize else metric)
    _, higher_is_closer = M.resolve_metric(score_metric,
                                           p=kwargs.get("p"))
    if metric == "cos":
        higher_is_closer = True
    loosest = radii[0] if higher_is_closer else radii[-1]
    base = radius_join(queries, items, radius=loosest, **kwargs).cache()
    if higher_is_closer:
        frames = {r: base if r == loosest
                  else base.filter(F.col("sim_val") > r) for r in radii}
    else:
        frames = {r: base if r == loosest
                  else base.filter(F.col("sim_val") < r) for r in radii}
    return RadiusFrames(frames, base)



def _np_round_exact(sims, scale: int):
    """``np.round(sims, scale)`` minus numpy's ``around`` overhead:
    ``rint(x·10^s)/10^s`` is the exact computation ``np.round`` performs
    internally (ties-to-even), verified bit-identical, but ~4× faster on
    the multi-hundred-MB score matrices the GEMM kernels round (np.round
    measured 11 s vs 2.9 s on a 25M-element cell — it was the single
    largest step of the bitext deep point's grid cells)."""
    import numpy as np

    if scale < 0:
        # numpy rounds negative decimals divide-FIRST (rint(x/10^-d) *
        # 10^-d) — a different float sequence; defer to np.round there
        # rather than silently diverge from the catalyst F.round path
        return np.round(sims, scale)
    f = float(10 ** scale)
    return np.rint(sims * f) / f



def _gemm_topk(q, full_o, fsq_o=None, *, metric: str, kc: int, scale,
               higher_is_closer: bool, scratch_bytes: int = 256 << 20,
               q_sq=None):
    """Exact top-``kc`` of one query batch against a KEY-ORDERED item
    matrix, with peak memory bounded by ``scratch_bytes`` + the running
    candidate set (len(q) × 2·kc).

    Shared by the blocked kernel (per Arrow batch against the broadcast
    corpus), the sharded kernel (broadcast queries against each item
    batch) and the grid kernel (per block × shard cell): items stream
    through in position-order blocks; each block takes a STABLE argsort
    (columns are in key order, so equal scores resolve to the smallest
    key — the catalyst window's (score, key) order) and folds into a
    RUNNING top-kc. The fold preserves the global order: running
    candidates hold strictly smaller positions than the incoming
    block's, both parts are position-ascending among score ties, and
    the stable merge argsort keeps running-before-block on ties —
    position order. Accumulating every block's candidates and merging
    once at the end would grow ∝ n_items/blk and defeat the cap
    (review catch).

    ``fsq_o``/``q_sq`` (item and query squared norms) are only read for
    ``metric='l2'`` — pass precomputed values to avoid re-deriving them
    per call (the sharded kernel broadcasts q_sq once), or omit them
    for cos/ip. An uncapped GEMM materializes q_rows × n_items × 8 B —
    an OOM at the corpus cap and multi-GB alloc churn below it.

    Returns ``(top_pos, top_val)`` — (len(q) × kc) arrays of key-order
    positions and scores."""
    import numpy as np

    n_items = full_o.shape[0]
    if metric == "l2":
        if fsq_o is None:
            fsq_o = (full_o * full_o).sum(axis=1)
        if q_sq is None:
            q_sq = (q * q).sum(axis=1, keepdims=True)
        elif q_sq.ndim == 1:
            q_sq = q_sq[:, None]
    blk = max(kc, min(n_items,
                      scratch_bytes // (8 * max(len(q), 1))))
    run_pos = None
    run_val = None
    for s in range(0, n_items, blk):
        e = min(s + blk, n_items)
        if metric == "l2":
            # ||q-x||^2 = ||q||^2 - 2 q·x + ||x||^2 (FAISS squared-L2)
            sims_b = q_sq - 2.0 * (q @ full_o[s:e].T) + fsq_o[None, s:e]
            sims_b = np.maximum(sims_b, 0.0)
        else:
            sims_b = q @ full_o[s:e].T
        if scale is not None:
            sims_b = _np_round_exact(sims_b, scale)
        rank_key = sims_b if not higher_is_closer else -sims_b
        kb = min(kc, e - s)
        idx = np.argsort(rank_key, kind="stable", axis=1)[:, :kb]
        blk_pos = idx + s
        blk_val = np.take_along_axis(sims_b, idx, axis=1)
        if run_pos is None:
            run_pos, run_val = blk_pos, blk_val
            continue
        pos = np.concatenate([run_pos, blk_pos], axis=1)
        val = np.concatenate([run_val, blk_val], axis=1)
        rank_key = val if not higher_is_closer else -val
        sel = np.argsort(rank_key, kind="stable", axis=1)[:, :kc]
        run_pos = np.take_along_axis(pos, sel, axis=1)
        run_val = np.take_along_axis(val, sel, axis=1)
    return run_pos[:, :kc], run_val[:, :kc]


def _attach_payload(ranked: DataFrame, items: DataFrame, *,
                    item_key_col: str,
                    payload_cols: Sequence[str],
                    broadcast_side: str = "ranked") -> DataFrame:
    """Re-attach item payload columns to a ranked (source_item, sim_item,
    sim_val[, rank_no]) frame by key.

    ``broadcast_side="ranked"`` — the scale contract for sharded/grid (and
    ``faiss_topk_sharded``): those strategies exist for corpora LARGER
    than one machine, so the |items|-row payload frame must never be
    broadcast or globally pre-shuffled here (r3 verdict #1 — it was, an
    OOM at exactly the scale those strategies advertise). The ranked
    candidate frame is the provably small side (≤ m·k rows after the merge
    window), so it is the broadcast build side: payload streams through a
    BroadcastHashJoin — one corpus scan, no corpus shuffle, executor
    memory bounded by m·k regardless of corpus size. Duplicate item keys
    would multiply the ranked rows they match, so the join result is
    deduplicated AFTER the join (≤ m·k × dup-factor rows, still small)
    with a deterministic min-struct-per-key rule.

    ``broadcast_side="payload"`` — for the blocked strategy, whose premise
    is the OPPOSITE: the corpus already fits one machine (its matrix is
    broadcast wholesale), so broadcasting the payload projection adds
    nothing new — and the ranked frame may be a STREAM (streaming/knn.py
    rides the blocked kernel), which can neither be broadcast nor
    post-join aggregated without a watermark. Here payload dedups first
    (same min-struct rule, a static-side agg) and the ranked side streams
    through the broadcast join — append-mode safe, zero state.

    Both orders carry the dedup guard because the catalyst path inlines
    payload per corpus row, and the kernel strategies must match it the
    same way the reference's positional item_list assumes unique items
    (faiss_searcher.py:56-58).
    """
    if not payload_cols:
        return ranked
    base = [c for c in ("source_item", "sim_item", "sim_val", "rank_no")
            if c in ranked.columns]
    payload = items.select(F.col(item_key_col).alias("sim_item"),
                           *[F.col(c) for c in payload_cols])
    if broadcast_side == "payload":
        payload = (
            payload.groupBy("sim_item")
            .agg(F.min(F.struct(*[F.col(c) for c in payload_cols])).alias("__p"))
            .select("sim_item",
                    *[F.col("__p").getField(c).alias(c) for c in payload_cols]))
        return ranked.join(F.broadcast(payload), "sim_item").select(
            *base, *payload_cols)
    if broadcast_side != "ranked":
        raise ValueError("broadcast_side must be 'ranked' or 'payload'")
    joined = payload.join(F.broadcast(ranked), "sim_item")
    return (
        joined.groupBy(*[F.col(c) for c in base])
        .agg(F.min(F.struct(*[F.col(c) for c in payload_cols])).alias("__p"))
        .select(*base,
                *[F.col("__p").getField(c).alias(c) for c in payload_cols]))


def _merge_candidates(cand: DataFrame, items: DataFrame, *, k: int,
                      higher_is_closer: bool, item_key_col: str,
                      payload_cols: Sequence[str],
                      keep_rank_no: bool) -> DataFrame:
    """Global top-k merge of per-shard/per-cell candidates: one window over
    (score, sim_item) — ≤ m·k rows per source shard ever reach the shuffle."""
    order = [F.col("sim_val").desc() if higher_is_closer else F.col("sim_val").asc(),
             F.col("sim_item").asc()]
    w = Window.partitionBy("source_item").orderBy(*order)
    ranked = (cand.withColumn("__rn", F.row_number().over(w))
              .filter(F.col("__rn") <= k))
    out = [F.col("source_item"), F.col("sim_item"), F.col("sim_val")]
    if keep_rank_no:
        out.append((F.col("__rn") - 1).alias("rank_no"))
    ranked = ranked.select(*out)
    return _attach_payload(ranked, items, item_key_col=item_key_col,
                           payload_cols=payload_cols)


def _knn_join_blocked(
    queries: DataFrame,
    items: DataFrame,
    *,
    metric: str,
    k: int,
    query_vec_col: str,
    item_vec_col: str,
    query_item_col: str | None,
    item_key_col: str,
    payload_cols: Sequence[str] | None,
    keep_rank_no: bool,
    normalize: bool | None,
    score_scale: int | None,
) -> DataFrame:
    """Block-matmul exact top-k: broadcast corpus matrix, one numpy GEMM
    per Arrow batch of queries. See ``knn_join(strategy="blocked")``."""
    import numpy as np
    import pandas as pd

    if metric not in ("cos", "ip", "l2"):
        raise ValueError("blocked strategy supports metrics 'cos', 'ip', 'l2'")
    if normalize is None:
        normalize = metric == "cos"
    higher_is_closer = metric in ("cos", "ip")

    if query_item_col is None:
        query_item_col = item_key_col if item_key_col in queries.columns else None
    if query_item_col is None:
        raise ValueError("blocked strategy needs query_item_col (no implicit "
                         "positional ids across executors)")
    if payload_cols is None:
        payload_cols = [c for c in items.columns
                        if c not in (item_vec_col, item_key_col)]

    spark = items.sparkSession
    item_pdf = items.select(item_key_col, item_vec_col).toPandas()
    key_field = items.schema[item_key_col]
    q_key_field = queries.schema[query_item_col]
    if not len(item_pdf):
        # top-k of an empty corpus is an empty result, same as catalyst —
        # without the guard the kernel's (0,)-shaped matrix breaks axis
        # math before any task runs
        empty_schema = (f"source_item {q_key_field.dataType.simpleString()}, "
                        f"sim_item {key_field.dataType.simpleString()}, "
                        "sim_val double, rank_no int")
        ranked = spark.createDataFrame([], empty_schema)
        ranked = _attach_payload(ranked, items, item_key_col=item_key_col,
                                 payload_cols=payload_cols,
                                 broadcast_side="payload")
        return ranked if keep_rank_no else ranked.drop("rank_no")
    mat = np.array(item_pdf[item_vec_col].to_list(), dtype=np.float64)
    if normalize:
        norms = np.linalg.norm(mat, axis=1, keepdims=True)
        mat = mat / np.where(norms == 0, 1.0, norms)  # keep 0-vec rows zero
    keys = item_pdf[item_key_col].to_numpy()
    # key-sort ONCE on the driver so equal scores resolve to the
    # smallest key in the kernel's stable argsorts: broadcasting the
    # pre-ordered matrix spares every task its own argsort AND an n×d
    # matrix copy (a per-worker corpus duplicate at the materialization
    # cap — review catch on the block-merge rewrite)
    order = np.argsort(keys, kind="stable")
    mat = mat[order]
    keys = keys[order]
    b_mat = spark.sparkContext.broadcast(mat)
    b_keys = spark.sparkContext.broadcast(keys)
    # squared norms are only read by the l2 decomposition — don't ship
    # a dead corpus-sized array for cos/ip (review catch)
    b_sq = spark.sparkContext.broadcast(
        (mat * mat).sum(axis=1) if metric == "l2" else None)

    met, kk, nrm, scale = metric, k, normalize, score_scale

    def _score(batches):
        # full/fkeys/fsq arrive KEY-ORDERED from the driver: column
        # position == key rank, so the stable argsorts below reproduce
        # the catalyst window's (score, key) tie-break directly
        full_o, fkeys, fsq_o = b_mat.value, b_keys.value, b_sq.value
        n_items = full_o.shape[0]
        for pdf in batches:
            if not len(pdf):
                continue
            q = np.array(pdf["__qv"].to_list(), dtype=np.float64)
            if nrm:
                qn = np.linalg.norm(q, axis=1, keepdims=True)
                q = q / np.where(qn == 0, 1.0, qn)
            kc = min(kk, n_items)
            # bounded-scratch block merge (see _gemm_topk: the r12
            # knn_self_similar investigation found the uncapped m=n
            # GEMM materializing multi-GB scratch per Arrow batch)
            top_pos, top_val = _gemm_topk(
                q, full_o, fsq_o, metric=met, kc=kc, scale=scale,
                higher_is_closer=higher_is_closer)
            rows_src, rows_item, rows_val, rows_rank = [], [], [], []
            for i in range(len(q)):
                rows_src.extend([pdf["__qid"].iloc[i]] * kc)
                rows_item.extend(fkeys[top_pos[i]])
                rows_val.extend(top_val[i])
                rows_rank.extend(range(kc))
            yield pd.DataFrame({"source_item": rows_src,
                                "sim_item": rows_item,
                                "sim_val": rows_val,
                                "rank_no": rows_rank})

    out_schema = (f"source_item {q_key_field.dataType.simpleString()}, "
                  f"sim_item {key_field.dataType.simpleString()}, "
                  "sim_val double, rank_no int")
    ranked = queries.select(
        F.col(query_item_col).alias("__qid"),
        F.col(query_vec_col).cast("array<double>").alias("__qv"),
    ).mapInPandas(_score, out_schema)

    ranked = _attach_payload(ranked, items, item_key_col=item_key_col,
                             payload_cols=payload_cols,
                             broadcast_side="payload")
    if not keep_rank_no:
        ranked = ranked.drop("rank_no")
    return ranked


def _knn_join_sharded(
    queries: DataFrame,
    items: DataFrame,
    *,
    metric: str,
    k: int,
    query_vec_col: str,
    item_vec_col: str,
    query_item_col: str | None,
    item_key_col: str,
    payload_cols: Sequence[str] | None,
    keep_rank_no: bool,
    normalize: bool | None,
    score_scale: int | None,
) -> DataFrame:
    """Shard-and-merge exact top-k: broadcast query matrix, per-item-batch
    local top-k, global candidate merge. See ``knn_join(strategy="sharded")``."""
    import numpy as np
    import pandas as pd

    if metric not in ("cos", "ip", "l2"):
        raise ValueError("sharded strategy supports metrics 'cos', 'ip', 'l2'")
    if normalize is None:
        normalize = metric == "cos"
    higher_is_closer = metric in ("cos", "ip")

    if query_item_col is None:
        query_item_col = item_key_col if item_key_col in queries.columns else None
    if query_item_col is None:
        raise ValueError("sharded strategy needs query_item_col (no implicit "
                         "positional ids across executors)")
    if payload_cols is None:
        payload_cols = [c for c in items.columns
                        if c not in (item_vec_col, item_key_col)]

    q_pdf = queries.select(query_item_col, query_vec_col).toPandas()
    if not len(q_pdf):
        raise ValueError("sharded strategy needs a non-empty query set "
                         "(the query matrix is driver-collected)")
    qmat = np.array(q_pdf[query_vec_col].to_list(), dtype=np.float64)
    if normalize:
        qn = np.linalg.norm(qmat, axis=1, keepdims=True)
        qmat = qmat / np.where(qn == 0, 1.0, qn)  # keep 0-vec rows zero
    spark = items.sparkSession
    b_q = spark.sparkContext.broadcast(qmat)
    b_qid = spark.sparkContext.broadcast(q_pdf[query_item_col].to_numpy())
    # query squared norms: computed ONCE on the driver and broadcast —
    # recomputing them inside the kernel would read the whole broadcast
    # query matrix on every item batch (review catch); l2 only
    b_qsq = spark.sparkContext.broadcast(
        (qmat * qmat).sum(axis=1) if metric == "l2" else None)

    key_field = items.schema[item_key_col]
    q_key_field = queries.schema[query_item_col]
    met, kk, nrm, scale, higher = metric, k, normalize, score_scale, higher_is_closer

    def _local(batches):
        q, qids, qsq = b_q.value, b_qid.value, b_qsq.value
        for pdf in batches:
            if not len(pdf):
                continue
            keys = pdf["__ik"].to_numpy()
            # columns in key order → the stable argsort below breaks score
            # ties by smallest key, matching the merge window's order
            order = np.argsort(keys, kind="stable")
            keys = keys[order]
            mat = np.array(pdf["__iv"].to_list(), dtype=np.float64)[order]
            if nrm:
                n = np.linalg.norm(mat, axis=1, keepdims=True)
                mat = mat / np.where(n == 0, 1.0, n)
            kc = min(kk, mat.shape[0])
            # bounded-scratch block merge shared with blocked/grid
            # (_gemm_topk): an uncapped m_queries × batch GEMM scratch
            # grows with the query matrix the strategy broadcasts
            top_pos, top_val = _gemm_topk(
                q, mat, metric=met, kc=kc,
                scale=scale, higher_is_closer=higher,
                scratch_bytes=64 << 20, q_sq=qsq)
            yield pd.DataFrame({
                "source_item": np.repeat(qids, kc),
                "sim_item": keys[top_pos.ravel()],
                "sim_val": top_val.ravel(),
            })

    cand_schema = (f"source_item {q_key_field.dataType.simpleString()}, "
                   f"sim_item {key_field.dataType.simpleString()}, "
                   "sim_val double")
    cand = items.select(
        F.col(item_key_col).alias("__ik"),
        F.col(item_vec_col).cast("array<double>").alias("__iv"),
    ).mapInPandas(_local, cand_schema)

    return _merge_candidates(cand, items, k=k,
                             higher_is_closer=higher_is_closer,
                             item_key_col=item_key_col,
                             payload_cols=payload_cols,
                             keep_rank_no=keep_rank_no)


def _knn_join_grid(
    queries: DataFrame,
    items: DataFrame,
    *,
    metric: str,
    k: int,
    query_vec_col: str,
    item_vec_col: str,
    query_item_col: str | None,
    item_key_col: str,
    payload_cols: Sequence[str] | None,
    keep_rank_no: bool,
    normalize: bool | None,
    score_scale: int | None,
    n_query_blocks: "int | None",
    n_item_shards: "int | None",
) -> DataFrame:
    """Grid GEMM exact top-k for the "both sides too big for one machine"
    quadrant: query-block × item-shard cells via cogrouped applyInPandas,
    per-cell GEMM local top-k, global window merge.
    See ``knn_join(strategy="grid")``."""
    import numpy as np
    import pandas as pd

    if metric not in ("cos", "ip", "l2"):
        raise ValueError("grid strategy supports metrics 'cos', 'ip', 'l2'")
    if normalize is None:
        normalize = metric == "cos"
    higher_is_closer = metric in ("cos", "ip")
    if n_query_blocks is None or n_item_shards is None:
        # auto (the default): blocks × shards IS the stage's max
        # parallelism — a fixed 4×4 grid caps every cluster at 16
        # tasks (measured: the x100 bitext deep point ran its whole
        # GEMM on 11 concurrent tasks of a 32-core box). Square grid
        # sized to ~2 tasks per core — but each side also multiplies
        # the OPPOSITE side's shuffle replication, so auto caps at 16
        # (≤256 cells, ≤16× replication): on clusters larger than that
        # the right grid depends on the shuffle budget vs the corpus
        # sizes, which only the caller knows — set explicit counts
        # there (review catch: uncapped auto on a 2048-core cluster
        # would 64×-replicate both multi-TB inputs).
        spark = items.sparkSession
        par = spark.sparkContext.defaultParallelism or 8
        side = 1
        while side * side < 2 * par and side < 16:
            side += 1
        n_query_blocks = side if n_query_blocks is None else n_query_blocks
        n_item_shards = side if n_item_shards is None else n_item_shards
    if n_query_blocks < 1 or n_item_shards < 1:
        raise ValueError("n_query_blocks and n_item_shards must be >= 1")

    if query_item_col is None:
        query_item_col = item_key_col if item_key_col in queries.columns else None
    if query_item_col is None:
        raise ValueError("grid strategy needs query_item_col (no implicit "
                         "positional ids across executors)")
    if payload_cols is None:
        payload_cols = [c for c in items.columns
                        if c not in (item_vec_col, item_key_col)]

    spark = items.sparkSession
    key_field = items.schema[item_key_col]
    q_key_field = queries.schema[query_item_col]

    qb = queries.select(
        F.col(query_item_col).alias("__qid"),
        F.col(query_vec_col).cast("array<double>").alias("__qv"),
        F.pmod(F.xxhash64(F.col(query_item_col)), F.lit(n_query_blocks))
        .cast("int").alias("__gb"))
    ib = items.select(
        F.col(item_key_col).alias("__ik"),
        F.col(item_vec_col).cast("array<double>").alias("__iv"),
        F.pmod(F.xxhash64(F.col(item_key_col)), F.lit(n_item_shards))
        .cast("int").alias("__gs"))
    # replicate so block b meets shard s exactly once: queries fan out over
    # shard ids, items over block ids — O(m·shards + n·blocks) movement,
    # the distributed-matmul communication lower bound.
    shard_ids = spark.range(n_item_shards).select(
        F.col("id").cast("int").alias("__gs"))
    block_ids = spark.range(n_query_blocks).select(
        F.col("id").cast("int").alias("__gb"))
    q_rep = qb.crossJoin(F.broadcast(shard_ids))
    i_rep = ib.crossJoin(F.broadcast(block_ids))

    met, kk, nrm, scale, higher = metric, k, normalize, score_scale, higher_is_closer

    def _cell(left: "pd.DataFrame", right: "pd.DataFrame") -> "pd.DataFrame":
        empty = pd.DataFrame({"source_item": pd.Series([], dtype=object),
                              "sim_item": pd.Series([], dtype=object),
                              "sim_val": pd.Series([], dtype="float64")})
        if not len(left) or not len(right):
            return empty
        keys = right["__ik"].to_numpy()
        # columns in key order → stable argsort breaks score ties by
        # smallest key, matching the merge window's (score, key) order
        order = np.argsort(keys, kind="stable")
        keys = keys[order]
        mat = np.array(right["__iv"].to_list(), dtype=np.float64)[order]
        q = np.array(left["__qv"].to_list(), dtype=np.float64)
        if nrm:
            qn = np.linalg.norm(q, axis=1, keepdims=True)
            q = q / np.where(qn == 0, 1.0, qn)  # keep 0-vec rows zero
            n = np.linalg.norm(mat, axis=1, keepdims=True)
            mat = mat / np.where(n == 0, 1.0, n)
        kc = min(kk, mat.shape[0])
        # bounded-scratch block merge shared with the blocked kernel
        # (_gemm_topk); the tighter 64 MB cap reflects that grid cells
        # run MANY concurrent tasks per executor where the blocked
        # kernel streams one Arrow batch at a time
        top_pos, top_val = _gemm_topk(
            q, mat, metric=met, kc=kc,
            scale=scale, higher_is_closer=higher,
            scratch_bytes=64 << 20)
        return pd.DataFrame({
            "source_item": np.repeat(left["__qid"].to_numpy(), kc),
            "sim_item": keys[top_pos.ravel()],
            "sim_val": top_val.ravel(),
        })

    cand_schema = (f"source_item {q_key_field.dataType.simpleString()}, "
                   f"sim_item {key_field.dataType.simpleString()}, "
                   "sim_val double")
    cand = (q_rep.groupby("__gb", "__gs")
            .cogroup(i_rep.groupby("__gb", "__gs"))
            .applyInPandas(_cell, cand_schema))

    return _merge_candidates(cand, items, k=k,
                             higher_is_closer=higher_is_closer,
                             item_key_col=item_key_col,
                             payload_cols=payload_cols,
                             keep_rank_no=keep_rank_no)


def knn_join_multi_k(
    queries: DataFrame,
    items: DataFrame,
    ks: Iterable[int],
    **kwargs,
) -> Mapping[int, DataFrame]:
    """Multi-K search: rank once at max(K), derive each smaller K by filter.

    Reference optimization O2 (faiss_searcher.py:170-183): a List[int] topK
    searches once at ``max(topK)`` and slices per K. Here the ranked frame is
    cached and each K is a filter over it — compute-once / filter-many.
    """
    ks = sorted(set(int(k) for k in ks))
    if not ks:
        raise ValueError("ks must be non-empty")
    kwargs["keep_rank_no"] = True
    ranked = knn_join(queries, items, k=ks[-1], **kwargs).cache()
    return {k: ranked.filter(F.col("rank_no") < k) for k in ks}


def knn_join_arrays(
    queries: DataFrame,
    items: DataFrame,
    **kwargs,
) -> DataFrame:
    """Raw-vector-mode result shape: one row per query with rank-ordered
    neighbor/score arrays.

    Reference parity: without an encoder, ``search`` returns matrix tuples
    ``(items (m,k), distances (m,k), indexes (m,k))`` instead of a long
    frame (faiss_searcher.py:133-136); the un-exploded form here is
    ``(source_item, sim_items array, sim_vals array)``. Per-K slices of a
    max-K result are ``F.slice`` over these arrays (R4,
    faiss_searcher.py:181).
    """
    kwargs["keep_rank_no"] = True
    ranked = knn_join(queries, items, **kwargs)
    return (
        ranked.groupBy("source_item")
        .agg(F.sort_array(F.collect_list(F.struct("rank_no", "sim_item", "sim_val")))
             .alias("__pairs"))
        .select(
            "source_item",
            F.transform(F.col("__pairs"), lambda p: p["sim_item"]).alias("sim_items"),
            F.transform(F.col("__pairs"), lambda p: p["sim_val"]).alias("sim_vals"))
    )


def cal_sim(
    query: DataFrame,
    candidates: DataFrame,
    *,
    query_vec_col: str = "embedding",
    cand_vec_col: str = "embedding",
    cand_key_col: str = "item",
    score_col: str = "score",
) -> DataFrame:
    """Exact 1×N pairwise scoring without an index.

    Reference parity: ``cal_sim(item1, items2)`` (faiss_searcher.py:192-198)
    encodes one query and N candidates and scores with a **raw dot product —
    not normalized, even in cos mode** (a documented reference wrinkle we
    preserve; faiss_searcher.py:195), then sorts descending.

    ``query`` must be a 1-row DataFrame; it is broadcast against candidates.
    """
    q = F.broadcast(query.select(F.col(query_vec_col).alias(_Q_VEC)).limit(1))
    scored = candidates.crossJoin(q).withColumn(
        score_col, M.inner_product(F.col(_Q_VEC), F.col(cand_vec_col)))
    return (
        scored.drop(_Q_VEC, cand_vec_col)
        .orderBy(F.col(score_col).desc(), F.col(cand_key_col).asc())
    )
