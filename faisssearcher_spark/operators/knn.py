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
- **Interpreted scoring, hence the GEMM kernels.** This plan's metric
  expressions are higher-order-function Catalyst exprs (see
  functions/metrics.py). They do not join whole-stage codegen:
  ``ZipWith`` / ``ArrayAggregate`` are ``CodegenFallback`` in Spark 4.1.2,
  so every pair is scored by the interpreter (~226k pairs/s on 3 task
  slots). ``strategy="auto"`` — the plan a flat ``SparkSearcher`` that
  holds no corpus matrix searches through — therefore scores ``cos`` /
  ``ip`` / ``l2`` with BLAS in the blocked, sharded or grid kernel below
  and keeps this plan for every metric a GEMM cannot express.
- **A trained corpus is collected once.** The blocked kernel is split
  into its corpus handle (:class:`BlockedCorpus`: the key-sorted float64
  matrix, keys, payload and squared norms, broadcast) and one ranking
  body (:func:`_rank_rows`), run per Arrow batch of queries on the
  executors (:func:`blocked_rank`) or once on the driver
  (:func:`driver_rank`). ``knn_join(strategy="blocked")`` builds a
  handle per call; a trained flat ``SparkSearcher`` whose corpus
  ``"auto"`` would hand to blocked builds it in ``train()`` and keeps
  it. Its searches run no corpus collect: a search whose driver work
  is within ``DRIVER_RANK_CAP_BYTES`` is collected (one row-bounded
  job, or none for a list), ranked on the driver and returned as a
  local frame, as the reference returns a pandas frame; a larger one or
  a stream ranks in Spark against the broadcasts.
- **One top-k fold, one sharded scan.** Every numpy kernel ranks
  through :func:`_topk_fold`: a caller's per-block scorer streams
  key-ordered item blocks under a scratch bound, and each block's cut
  is an exact partition-select (:func:`_topk_cut`) that keeps the
  smallest keys among tied scores. :func:`_sharded_scan` is the one
  broadcast-queries scan over a distributed item table (queries
  collected and checked on the driver, each Arrow batch sorted by
  (cell, key) and each cell folded against the queries that probe it;
  a flat scan is one cell every query probes): ``strategy="sharded"``
  scores it with a GEMM, and in ann.py ``PQIndex`` with its LUT
  gather, ``SQIndex`` with its decode step, ``IVFIndex`` with a GEMM
  per probed cell and ``IVFPQIndex`` with the cell's q·c plus the LUT
  gather, so all of them break ties the way the catalyst window does.
  :func:`_rank_topk` is the one (score, key) rank window. The scan's
  per-batch body (:func:`_scan_rows`) also runs on the driver over an
  index's held copy of its table (:class:`ScanRows`,
  :func:`driver_scan`), under the same two bounds as a held flat corpus.
- **One payload rule.** Payload attaches by corpus row, as the
  reference's ``self.items.iloc[sim_ind]`` (faiss_searcher.py:146-147)
  and the catalyst plan do: every numpy kernel emits each candidate
  with its own corpus row's payload columns (:func:`_emit`), so two
  rows with one key keep their own payloads and no path joins payload
  back by key.
- Skewed query_ids can't occur (each query id appears exactly n times by
  construction) so no salting is needed; AQE handles partition sizing.

Determinism: FAISS breaks distance ties by index order; we order by
``(score, item_id)`` so ties are deterministic and oracle-checkable
(SURVEY.md §7 hard-part c).
"""

from __future__ import annotations

import functools
from typing import Callable, Iterable, Mapping, NamedTuple, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from faisssearcher_spark.functions import metrics as M
from faisssearcher_spark.functions.vector import l2_normalize

_Q_VEC = "__q_vec"
_SRC = "source_item"

#: default cap on broadcasting the query side (catalyst strategy) — the
#: same order as Spark's autoBroadcastJoinThreshold ballpark for a frame
#: that every executor must hold in memory.
QUERY_BROADCAST_CAP_BYTES = 64 << 20
#: default cap on single-machine corpus materialization (blocked strategy
#: collects the item matrix to the driver and broadcasts it).
ITEMS_MEMORY_CAP_BYTES = 256 << 20
#: largest corpus estimate ``strategy="auto"`` hands a small query set to
#: the blocked kernel; past it the per-search corpus collect costs more
#: than sharded's corpus scan (measurements in :func:`_auto_strategy`).
BLOCKED_SMALL_QUERY_ITEMS_BYTES = 8 << 20
#: largest driver-side work a holding searcher ranks on the driver
#: (:meth:`BlockedCorpus.driver_bytes`: the query matrix plus the ranked
#: rows, held at once as pandas, Arrow and a JVM LocalRelation); a
#: larger search ranks on the executors (:func:`blocked_rank`). Set
#: where the driver stops winning in ``tools/ab_driver_rank.py``
#: (4,096 × 64 cos corpus, 4 cores, 6 alternating rounds per size):
#: the driver's median was lower at every size up to 0.95 MB, by 2–3%
#: at K=100 (128 and 256 queries, half the rounds each); at 1.9 MB (512
#: queries at K=100) the executors won every round, 0.29 s against
#: 0.36 s. Ranked rows cost the driver more than query rows: at K=10 it
#: still won at 27 MB (32,768 queries), a gain this cap leaves out.
DRIVER_RANK_CAP_BYTES = 1 << 20


def _plan_size_bytes(df: DataFrame) -> int | None:
    """Catalyst's optimized-plan size estimate (see
    plans/inspect.plan_size_bytes — shared with the sink compactor);
    module-level so tests can monkeypatch the estimator."""
    from faisssearcher_spark.plans.inspect import plan_size_bytes
    return plan_size_bytes(df)


def _fill_cache(df: DataFrame) -> None:
    """Fill ``df``'s cache in one job: a no-op sink reads every row once,
    where ``count()`` launches three jobs over a cached union. The size
    Spark then measures for the cache is the same either way."""
    df.write.mode("overwrite").format("noop").save()


def _within_hold_bound(df: DataFrame) -> bool:
    """Whether Catalyst's estimate of ``df`` is within
    ``BLOCKED_SMALL_QUERY_ITEMS_BYTES``, the bound under which
    ``"auto"`` picks blocked whatever the query size
    (:func:`_auto_strategy`) and a trained corpus or coded index is
    held on the driver. Call it once ``df``'s cache is filled to read
    the measured size: Spark memoizes a frame's estimate on first use."""
    size = _plan_size_bytes(df)
    return size is not None and size <= BLOCKED_SMALL_QUERY_ITEMS_BYTES


def _measured_bytes(df: DataFrame) -> float:
    """The size Spark measured for ``df``'s filled cache, asked of a new
    frame over it (a frame memoizes its estimate on first use); infinite
    when Catalyst gives none."""
    size = _plan_size_bytes(df.select(*df.columns))
    return float("inf") if size is None else size


def _auto_strategy(q_bytes: int | None, i_bytes: int | None) -> str:
    """Pick the GEMM kernel for ``strategy="auto"`` from the two sides'
    estimated sizes:

    =============  ==================  =========
    queries        items               strategy
    =============  ==================  =========
    any            ≤ 8 MB (``BLOCKED_  blocked  (corpus broadcast,
                   SMALL_QUERY_ITEMS_           per-batch GEMM over
                   BYTES``)                     streaming queries)
    small (≤ cap)  > 8 MB              sharded  (queries broadcast,
                                                corpus never moves,
                                                per-shard GEMM + merge)
    large          ≤ items cap         blocked
    large          > items cap         grid     (block × shard cells)
    =============  ==================  =========

    An unknown estimate is treated as LARGE: every strategy is exact, so
    the only risk of guessing big is extra shuffle — guessing small risks
    an OOM wherever a side is collected or broadcast.

    A one-shot blocked call collects and broadcasts the corpus every
    time, sharded only the query matrix, so for a small query set blocked
    wins only while the corpus is small. Measured per search through the
    facade (``tools/ab_knn_route.py``: raw-vector cosine, 64 queries × 64
    dims, k=10, ten alternating rounds, oracle-checked, ``local[3]`` on 4
    cores), median s blocked / sharded by corpus rows (Catalyst estimate):
    4,096 (2.3 MB) 0.36 / 0.41, 8,192 (4.6 MB) 0.33 / 0.41, 12,288
    (6.9 MB) 0.45 / 0.50 and 14,336 (8.0 MB) 0.49 / 0.53, blocked 10/10
    each; 16,384 (9.2 MB) 0.48 / 0.46 and 0.47 / 0.48 on two runs, 4/10
    and 7/10; 32,768 (18 MB) 0.71 / 0.60, 131,072 (73 MB) 2.38 / 1.50,
    458,752 (257 MB, the items cap) 8.80 / 4.46, sharded 9/10, 10/10,
    10/10. The catalyst plan, which had this quadrant before, took
    2.42 s at 4,096 rows, 9.16 s at 16,384 and 40.7 s at 65,536 (three
    rounds; sharded 1.35 s). Through ``perfbench/run.py
    --workload flat_search --seconds 12`` (4,096 × 64 corpus, ten
    alternating pairs) the blocked pick took the median ``query_p50_s``
    from 1.72 s (quartiles 1.59-1.81) to 0.42 s (0.41-0.48); a sharded
    pick measured 0.50-0.52 s.

    A trained ``SparkSearcher`` whose corpus this rule hands to blocked
    holds the matrix instead (:class:`BlockedCorpus`, built in
    ``train()``), so it pays the collect once per train, not per search.
    Timed as train + S searches per round (``ab_knn_route.py
    --strategies held,sharded --searches S``, six alternating rounds,
    same shape and host), median s held / sharded by corpus rows (the
    estimate of the filled cache): with S=1, 4,096 (2.3 MB) 0.76 / 0.92
    and 16,384 (9.2 MB) 1.02 / 1.07, held 6/6 each; 32,768 (18 MB) 1.55
    / 1.53, held 2/6; 131,072 (73 MB) 5.12 / 3.89, sharded 6/6. With
    S=8: 2.04 / 3.17, 2.99 / 4.30 and 4.78 / 5.88, held 6/6 each;
    131,072 15.65 / 15.14, held 2/6 (one task scores the 64 queries
    against the whole held matrix, where sharded spreads the corpus over
    every slot). Holding thus moves the crossover from between 9 and
    18 MB at one search per train to between 18 and 73 MB at eight; the
    8 MB split stays, since moving it is a claim of its own. The
    catalyst plan stays the fallback for calls no kernel can serve (see
    :func:`_gemm_servable`)."""
    if i_bytes is not None and i_bytes <= BLOCKED_SMALL_QUERY_ITEMS_BYTES:
        return "blocked"
    if q_bytes is not None and q_bytes <= QUERY_BROADCAST_CAP_BYTES:
        return "sharded"
    return ("blocked" if i_bytes is not None
            and i_bytes <= ITEMS_MEMORY_CAP_BYTES else "grid")


def _gemm_servable(metric: str, p: float | None, normalize: bool | None,
                   query_item_col: str | None) -> bool:
    """Whether the blocked / sharded / grid kernels compute what the
    catalyst plan would: a dot-product metric (``cos`` scores as a dot
    only on normalized vectors, so ``normalize=False`` keeps the plan's
    true cosine), no ``p``, and a query id column (the kernels cannot
    mint positional ids across executors)."""
    return (metric in ("cos", "ip", "l2") and p is None
            and not (metric == "cos" and normalize is False)
            and query_item_col is not None)


def _join_defaults(queries: DataFrame, items: DataFrame, *, metric: str,
                   query_vec_col: str, item_vec_col: str, item_key_col: str,
                   query_item_col: str | None,
                   payload_cols: Sequence[str] | None,
                   normalize: bool | None):
    """Check that every named column is in its frame (``ValueError``
    otherwise), then resolve the defaults :func:`knn_join` and
    :func:`radius_join` share: the query id is ``item_key_col`` when the
    queries carry it, ``normalize`` holds for ``cos`` only, and the
    payload is every item column but the key and the vector. Returns
    ``(query_item_col, normalize, payload_cols)``."""
    named = [(query_vec_col, queries, "queries"),
             (item_vec_col, items, "items"), (item_key_col, items, "items")]
    for col, df, side in named:
        if col not in df.columns:
            raise ValueError(f"column {col!r} not found in {side} frame "
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
    if query_item_col is None and item_key_col in queries.columns:
        query_item_col = item_key_col
    if payload_cols is None:
        payload_cols = [c for c in items.columns
                        if c not in (item_vec_col, item_key_col)]
    return (query_item_col, metric == "cos" if normalize is None
            else normalize, list(payload_cols))


def _pair_metric(metric: str, normalize: bool, p: float | None):
    """``(Catalyst metric, higher_is_closer)`` that score a pair; cosine
    on normalized vectors is their dot product (reference O3)."""
    return M.resolve_metric("ip" if metric == "cos" and normalize
                            else metric, p=p)


def _scored_pairs(queries: DataFrame, items: DataFrame, *, metric: str,
                  query_vec_col: str, item_vec_col: str,
                  query_item_col: str | None, item_key_col: str,
                  payload_cols: Sequence[str], normalize: bool,
                  p: float | None, score_scale: int | None):
    """The catalyst plan's scored pairs, written once for
    :func:`knn_join` and :func:`radius_join`: every (query, item) row
    as ``(source_item, sim_item, *payload_cols, sim_val)`` — the query
    id (a positional id without ``query_item_col``, like the reference's
    raw-vector mode), the item key, its payload and the metric (rounded
    to ``score_scale`` decimals). Both sides are L2-normalized under
    ``normalize``. The queries are broadcast (a BroadcastNestedLoopJoin:
    the corpus streams and never shuffles) unless Catalyst estimates
    them past ``QUERY_BROADCAST_CAP_BYTES``; an unknown estimate keeps
    the designed-for m ≪ n broadcast. Returns ``(frame,
    higher_is_closer)``."""
    metric_fn, higher_is_closer = _pair_metric(metric, normalize, p)
    q_vec: Column = F.col(query_vec_col)
    i_vec: Column = F.col(item_vec_col)
    if normalize:
        # on_zero passes the vector: a zero-norm one stays zero (score 0)
        # instead of becoming NaN — Spark sorts NaN above every double in a
        # descending order, so a single zero vector would otherwise rank
        # first for every query; the numpy kernels (blocked/sharded/grid)
        # already keep zero vectors zero, and this aligns all strategies.
        q_vec = l2_normalize(q_vec, on_zero=M.as_double(q_vec))
        i_vec = l2_normalize(i_vec, on_zero=M.as_double(i_vec))
    q_src = (F.col(query_item_col) if query_item_col is not None
             else F.monotonically_increasing_id())
    q = queries.select(q_src.alias(_SRC), q_vec.alias(_Q_VEC))
    it = items.select(i_vec.alias("__i_vec"),
                      F.col(item_key_col).alias("sim_item"),
                      *[F.col(c) for c in payload_cols])
    q_bytes = _plan_size_bytes(queries)
    small_q = q_bytes is None or q_bytes <= QUERY_BROADCAST_CAP_BYTES
    joined = it.join(F.broadcast(q)) if small_q else q.crossJoin(it)
    score = metric_fn(F.col(_Q_VEC), F.col("__i_vec"))
    if score_scale is not None:
        score = F.round(score, score_scale)
    return joined.withColumn("sim_val", score), higher_is_closer


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
      (faiss_searcher.py:146-147): each result row carries its own
      corpus row's payload, on every strategy (default: every column
      but the key and the vector).
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

    - ``"auto"`` (what ``SparkSearcher.search`` runs for a flat searcher
      that holds no corpus matrix): a GEMM kernel
      below picked from Catalyst's size estimates of the two sides (see
      :func:`_auto_strategy` for the matrix and the treat-unknown-as-large
      rule), or ``"catalyst"`` when no kernel can serve the call — a
      metric other than ``cos`` / ``ip`` / ``l2``, ``cos`` with
      ``normalize=False``, a ``p``, or positional query ids. The kernels
      rank the same rows as the plan with two provisos: ``l2`` is
      scored as ||q||² − 2q·x + ||x||² (the plan sums (q − x)²), so two
      items whose distances differ only by float rounding may swap
      ranks unless ``score_scale`` rounds them into a tie; and a
      query id that repeats is ranked per query ROW by blocked (k rows
      each) but per id by the others (k rows in all), so give each
      query its own id.
    - ``"catalyst"`` (default): the pure-plan path above. Scales in BOTH
      dimensions (nothing is collected anywhere) and serves every metric,
      but scores each pair in the interpreter. The queries are broadcast
      unless Catalyst estimates them past ``QUERY_BROADCAST_CAP_BYTES``.
    - ``"blocked"``: for a corpus within ``ITEMS_MEMORY_CAP_BYTES``, any
      query size — the key-ordered corpus matrix (with its payload
      columns, collected in the same Arrow collect) broadcasts to
      executors and
      each Arrow batch of queries scores against it with numpy float64
      matmuls over bounded item blocks (~256 MB score scratch, so worker
      memory stays flat at the corpus cap) folded into a running top-k
      (:func:`_topk_fold`) inside ``mapInPandas``. O(m·n·d) flops in
      BLAS instead of m·n interpreted expression evaluations (~10× at
      bench scale),
      shuffle-free until the small ranked output. Requires the corpus
      (n·d doubles + keys) to fit executor memory; supports
      ``cos``/``ip``/``l2``. Results are bit-identically ranked (float64
      accumulation, ties by item key) and gate-checked against the same
      DuckDB oracle as the catalyst path.
    - ``"sharded"``: the converse — for corpora LARGER than any one
      machine. The (small) query matrix is collected, checked (NULL or
      ragged vectors raise on the driver) and broadcast to executors;
      each Arrow batch of items scores against it with bounded numpy
      GEMMs and emits only its local top-k with those rows' payload
      (:func:`_sharded_scan`, the scan the ann.py indexes share); a
      final window merges the per-shard candidates into the global
      top-k. The corpus never
      moves and the only shuffle is the tiny candidate merge (≤ m·k
      rows per batch), so memory stays constant as the corpus grows —
      `repartition` the items first to choose the shard count. Same
      metrics and the same exact, tie-deterministic ranking as
      "blocked".
    - ``"grid"``: the fourth quadrant — BOTH sides too big for one
      machine. Queries hash into ``n_query_blocks`` blocks, items into
      ``n_item_shards`` shards; a cogrouped ``applyInPandas`` pairs every
      (block × shard) cell (the item side carries the payload columns),
      runs one numpy GEMM per cell emitting that cell's local top-k, and
      a final window merges per-query candidates
      into the global top-k. Data movement is the distributed-GEMM lower
      bound — each query row is replicated ``n_item_shards`` times, each
      item row ``n_query_blocks`` times — and per-executor memory is one
      cell (|queries|/blocks × |items|/shards), tunable independently of
      either total size. Same metrics and exact tie-deterministic
      ranking as "blocked"/"sharded".
    """
    query_item_col, normalize, payload_cols = _join_defaults(
        queries, items, metric=metric, query_vec_col=query_vec_col,
        item_vec_col=item_vec_col, item_key_col=item_key_col,
        query_item_col=query_item_col, payload_cols=payload_cols,
        normalize=normalize)
    if strategy == "auto":
        strategy = (_auto_strategy(_plan_size_bytes(queries),
                                   _plan_size_bytes(items))
                    if _gemm_servable(metric, p, normalize, query_item_col)
                    else "catalyst")
    if strategy in ("blocked", "sharded", "grid"):
        if metric not in ("cos", "ip", "l2"):
            raise ValueError(
                f"{strategy} strategy supports metrics 'cos', 'ip', 'l2'")
        if query_item_col is None:
            raise ValueError(f"{strategy} strategy needs query_item_col (no "
                             "implicit positional ids across executors)")
        kw = dict(metric=metric, k=k, query_vec_col=query_vec_col,
                  item_vec_col=item_vec_col, query_item_col=query_item_col,
                  item_key_col=item_key_col, payload_cols=payload_cols,
                  keep_rank_no=keep_rank_no, normalize=normalize,
                  score_scale=score_scale)
        if strategy == "blocked":
            return _knn_join_blocked(queries, items, **kw)
        if strategy == "sharded":
            return _knn_join_sharded(queries, items, **kw)
        return _knn_join_grid(queries, items, n_query_blocks=n_query_blocks,
                              n_item_shards=n_item_shards, **kw)
    if strategy != "catalyst":
        raise ValueError("strategy must be 'auto', 'catalyst', 'blocked', "
                         "'sharded' or 'grid'")
    scored, higher_is_closer = _scored_pairs(
        queries, items, metric=metric, query_vec_col=query_vec_col,
        item_vec_col=item_vec_col, query_item_col=query_item_col,
        item_key_col=item_key_col, payload_cols=payload_cols,
        normalize=normalize, p=p, score_scale=score_scale)
    return _top_rows(scored, k, higher_is_closer, payload_cols, keep_rank_no)


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
    query_item_col, normalize, payload_cols = _join_defaults(
        queries, items, metric=metric, query_vec_col=query_vec_col,
        item_vec_col=item_vec_col, item_key_col=item_key_col,
        query_item_col=query_item_col, payload_cols=payload_cols,
        normalize=normalize)
    scored, higher_is_closer = _scored_pairs(
        queries, items, metric=metric, query_vec_col=query_vec_col,
        item_vec_col=item_vec_col, query_item_col=query_item_col,
        item_key_col=item_key_col, payload_cols=payload_cols,
        normalize=normalize, p=p, score_scale=score_scale)
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
    _, higher = _pair_metric(metric, metric == "cos" if normalize is None
                             else normalize, kwargs.get("p"))
    loosest = radii[0] if higher else radii[-1]
    base = radius_join(queries, items, radius=loosest, **kwargs).cache()
    return RadiusFrames(
        {r: base if r == loosest else base.filter(
            F.col("sim_val") > r if higher else F.col("sim_val") < r)
         for r in radii}, base)



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



def _topk_cut(key, kb: int):
    """``np.argsort(key, axis=1, kind="stable")[:, :kb]`` without the
    full sort: the positions of each row's ``kb`` smallest keys, in
    (key, position) order — ties resolve to the smallest position and
    NaN sorts last, as in numpy's sort. An exact partition-select:
    ``np.partition`` finds each row's kb-th key, every entry strictly
    below it is kept, and the tied entries at the smallest positions
    fill the rest (a cumsum over the tie mask, only on rows with more
    ties than room); the kb survivors then take a stable sort. Measured
    against the full stable argsort at kb=10 (numpy 1.26, one Xeon core):
    64 × 4,096 4.7 vs 21.0 ms, 64 × 10,000 8.9 vs 58.7 ms, within 2×
    of ``argpartition``, whose tied picks are arbitrary."""
    import numpy as np

    n = key.shape[1]
    if kb < n:
        kth = np.partition(key, kb - 1, axis=1)[:, kb - 1:kb]
        less, tie = key < kth, key == kth
        nan = np.isnan(kth[:, 0])
        if nan.any():   # fewer than kb numbers: all of them, then NaNs
            less[nan] = ~np.isnan(key[nan])
            tie[nan] = ~less[nan]
        need = kb - np.count_nonzero(less, axis=1)
        over = np.flatnonzero(np.count_nonzero(tie, axis=1) > need)
        if len(over):
            t = tie[over]
            tie[over] = t & (np.cumsum(t, axis=1) <= need[over, None])
        idx = np.nonzero(less | tie)[1].reshape(len(key), kb)
    else:
        idx = np.broadcast_to(np.arange(n), key.shape)
    order = np.argsort(np.take_along_axis(key, idx, axis=1), axis=1,
                       kind="stable")
    return np.take_along_axis(idx, order, axis=1)


def _pad16(rows):
    """``rows`` with zero rows appended up to a multiple of 16."""
    import numpy as np

    pad = -len(rows) % 16
    return (np.concatenate([rows, np.zeros((pad, rows.shape[1]), rows.dtype)])
            if pad else rows)


def _gemm_scorer(q, mat, metric: str, *, scale=None, mat_sq=None):
    """The GEMM kernels' block scorer for :func:`_topk_fold`:
    ``score(s, e)`` is the (len(q) × (e − s)) matrix of ``q`` against
    rows ``s:e`` of ``mat`` — a dot product for cos / ip, the FAISS
    squared L2 ||q||² − 2q·x + ||x||² (clamped at 0) for ``l2`` —
    rounded to ``scale`` decimals when given. ``mat_sq`` (the rows'
    squared norms, read only for ``l2``) may be passed precomputed; it
    is derived once here otherwise.

    A (query, row) product should not depend on the batch of queries or
    the block of rows it is scored in: BLAS computes a last partial
    tile with other code, whose last bit can differ (one query then
    scored unequal at 1 and at 7 partitions, or on the driver and on an
    executor), so both sides are padded with zero rows to a multiple of
    16 and the product is cut back to the real ones. The 16 is a
    multiple of the GEMM tile heights of the OpenBLAS 0.3.23 HASWELL
    kernels numpy 1.26 ships, where every batch of 1 to 64 queries then
    gives the same bits; a BLAS with other tile shapes (AVX-512, ARM,
    MKL) is not checked and may differ in the last bit across batches,
    though never in more (``TestQueryBatchInvariance`` asserts the
    equality on the BLAS it runs on)."""
    import numpy as np

    m = len(q)
    if metric == "l2":
        if mat_sq is None:
            mat_sq = (mat * mat).sum(axis=1)
        q_sq = (q * q).sum(axis=1)[:, None]
    q = _pad16(q)

    def dot(s, e):
        return (q @ _pad16(mat[s:e]).T)[:m, :e - s]

    def score(s, e):
        if metric == "l2":
            sims = np.maximum(q_sq - 2.0 * dot(s, e) + mat_sq[None, s:e],
                              0.0)
        else:
            sims = dot(s, e)
        return sims if scale is None else _np_round_exact(sims, scale)

    return score


def _gemm_scan(metric: str, normalize: bool, scale: int | None = None):
    """The ``prepare`` / ``scorer`` pair of a GEMM :func:`_sharded_scan`
    (sharded exact search, IVF): queries and rows unit-scaled when
    ``normalize``, scored by :func:`_gemm_scorer`."""
    def unit(mat):
        return _unit_rows(mat) if normalize else mat

    return {"prepare": lambda qmat: (unit(qmat),),
            "scorer": lambda st, mat, _cell: _gemm_scorer(
                st[0], unit(mat), metric, scale=scale)}


def _topk_fold(score, n_rows: int, n_items: int, kc: int, *,
               higher_is_closer: bool, scratch_bytes: int = 256 << 20):
    """Exact top-``kc`` of ``n_rows`` queries over ``n_items`` KEY-ORDERED
    items, with peak memory bounded by ``scratch_bytes`` + the running
    candidate set (n_rows × 2·kc).

    ``score(s, e)`` returns the (n_rows × (e − s)) scores of items
    ``s:e``: a GEMM (:func:`_gemm_scorer`) for the blocked, sharded and
    grid kernels, the ADC gather for ``PQIndex``, decode + GEMM for
    ``SQIndex``. Items stream through in position-order blocks; each
    block's :func:`_topk_cut` keeps equal scores at the smallest
    position — key order, the catalyst window's (score, key) order —
    and folds into a RUNNING top-kc. The fold preserves the global
    order: running candidates hold strictly smaller positions than the
    incoming block's, both parts are position-ascending among score
    ties, and the merge cut is stable, so ties keep running-before-block
    — position order. An uncapped score matrix materializes
    n_rows × n_items × 8 B — an OOM at the corpus cap and multi-GB
    alloc churn below it; accumulating every block's candidates and
    merging once at the end would grow ∝ n_items/blk.

    Returns ``(top_pos, top_val)`` — (n_rows × kc) arrays of key-order
    positions and scores."""
    import numpy as np

    def rank(v):
        return -v if higher_is_closer else v

    blk = max(1, kc, min(n_items, scratch_bytes // (8 * max(n_rows, 1))))
    pos = np.empty((n_rows, 0), dtype=np.int64)
    val = np.empty((n_rows, 0))
    for s in range(0, n_items, blk):
        sims = score(s, min(s + blk, n_items))
        idx = _topk_cut(rank(sims), min(kc, sims.shape[1]))
        pos = np.concatenate([pos, idx + s], axis=1)
        val = np.concatenate([val, np.take_along_axis(sims, idx, axis=1)],
                             axis=1)
        sel = _topk_cut(rank(val), min(kc, val.shape[1]))
        pos = np.take_along_axis(pos, sel, axis=1)
        val = np.take_along_axis(val, sel, axis=1)
    return pos, val


def _rank_topk(scored: DataFrame, k: int,
               higher_is_closer: bool) -> DataFrame:
    """The one top-k window: ``row_number()`` per ``source_item`` over
    (``sim_val`` best first, ``sim_item`` ascending), the first ``k``
    rows kept with a 0-based ``rank_no`` (reference parity with
    faiss_searcher.py:141's enumerate); every other column passes
    through. The filter sits on the raw row number so Catalyst's
    WindowGroupLimit rewrite fires (it pattern-matches ``rank <= k``):
    a partial top-k runs below the exchange, and each map task ships at
    most m·k rows into the shuffle instead of m·n."""
    order = [F.col("sim_val").desc() if higher_is_closer
             else F.col("sim_val").asc(), F.col("sim_item").asc()]
    w = Window.partitionBy("source_item").orderBy(*order)
    return (scored.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= k)
            .withColumn("rank_no", F.col("__rn") - 1).drop("__rn"))


def _top_rows(scored: DataFrame, k: int, higher_is_closer: bool,
              payload_cols: Sequence[str],
              keep_rank_no: bool = True) -> DataFrame:
    """:func:`_rank_topk`'s rows in the result shape ``(source_item,
    sim_item, sim_val[, rank_no], *payload_cols)``."""
    return _rank_topk(scored, k, higher_is_closer).select(
        "source_item", "sim_item", "sim_val",
        *(["rank_no"] if keep_rank_no else []), *payload_cols)


def _emit(qids, keys, top_pos, top_val, payload=None, order=None, *,
          rank_no: bool = False):
    """The pandas frame a numpy kernel emits from its top-k: one
    ``(source_item, sim_item, sim_val[, rank_no], *payload)`` row per
    (query, candidate). ``top_pos`` / ``top_val`` are
    :func:`_topk_fold`'s (queries × kc) key-order positions and scores;
    ``order`` maps a key-order position to its row of ``keys`` and of
    ``payload`` (a pandas frame of the payload columns, None without
    any), which are already in key order when it is None. Each row carries its own
    corpus row's payload, as the catalyst plan's does."""
    import numpy as np
    import pandas as pd

    kc = top_pos.shape[1]
    rows = top_pos.ravel() if order is None else order[top_pos.ravel()]
    cols = {"source_item": np.repeat(qids, kc), "sim_item": keys[rows],
            "sim_val": top_val.ravel()}
    if rank_no:
        cols["rank_no"] = np.tile(np.arange(kc, dtype=np.int32), len(qids))
    out = pd.DataFrame(cols)
    if payload is None:
        return out
    return pd.concat([out, payload.iloc[rows].reset_index(drop=True)],
                     axis=1)


def _empty_result(queries: DataFrame | DriverQueries, items: DataFrame,
                  *, query_item_col: str, item_key_col: str,
                  payload_cols: Sequence[str],
                  keep_rank_no: bool) -> DataFrame:
    """The typed ``(source_item, sim_item, sim_val[, rank_no], *payload)``
    frame with no rows — what the catalyst plan returns when either side
    is empty, built from the two schemas without running a job."""
    from pyspark.sql import types as T

    fields = _candidate_schema(_query_type(queries, query_item_col),
                               items, item_key_col).fields
    if keep_rank_no:
        fields.append(T.StructField("rank_no", T.IntegerType()))
    fields += [items.schema[c] for c in payload_cols]
    return items.sparkSession.createDataFrame([], T.StructType(fields))


def _unit_rows(mat):
    """Rows scaled to unit L2 norm; a zero row stays zero."""
    import numpy as np

    norms = np.linalg.norm(mat, axis=1, keepdims=True)
    return mat / np.where(norms == 0, 1.0, norms)


class DriverQueries(NamedTuple):
    """A query set already on the driver: one id per query and the
    float32 query matrix, one row each. It is what ``SparkSearcher``
    encodes a list target into (string ids), so a search needs no job
    to build its queries, and what a holding searcher collects a small
    frame target into for :func:`driver_rank` (the frame's ids). The
    indexes that collect their queries (:func:`_sharded_scan`, IVF-PQ,
    NSW) read the matrix itself (:func:`_query_vectors`); a plan that
    needs a frame builds a local one from it (:func:`_query_frame`)."""

    ids: list
    mat: "np.ndarray"


def _query_vectors(queries: DataFrame | DriverQueries, id_col: str,
                   vec_col: str, *, dim: int | None = None):
    """``(ids, float64 matrix)`` of a query set: a frame is collected by
    :func:`_collect_vectors`; :class:`DriverQueries` are read as they
    are, with the same dim check and no job."""
    import numpy as np

    from faisssearcher_spark.functions.vector import check_vector_stats

    if isinstance(queries, DataFrame):
        return _collect_vectors(queries, id_col, vec_col, dim=dim)[:2]
    if not len(queries.ids):
        return np.empty(0, dtype=object), np.empty((0, dim or 0))
    d = queries.mat.shape[1]
    check_vector_stats(vec_col, 0, d, d, dim)
    return (np.asarray(queries.ids, dtype=object),
            queries.mat.astype(np.float64))


def _query_frame(queries: DataFrame | DriverQueries, spark, id_col: str,
                 vec_col: str) -> DataFrame:
    """A frame as it is; :class:`DriverQueries` as a local
    ``(id_col string, vec_col array<float>)`` frame, built from Arrow on
    the driver: no Python UDF and no job."""
    import numpy as np
    import pyarrow as pa
    from pyspark.sql import types as T

    if isinstance(queries, DataFrame):
        return queries
    n, d = len(queries.ids), queries.mat.shape[1]
    vecs = pa.ListArray.from_arrays(
        pa.array(np.arange(n + 1, dtype=np.int32) * d),
        pa.array(np.ascontiguousarray(queries.mat, dtype=np.float32).ravel()))
    return spark.createDataFrame(
        pa.table({id_col: pa.array(queries.ids, pa.string()), vec_col: vecs}),
        T.StructType([T.StructField(id_col, T.StringType()),
                      T.StructField(vec_col, T.ArrayType(T.FloatType()))]))


def _query_type(queries: DataFrame | DriverQueries, query_item_col: str):
    """The Spark type of a query set's ids: a string for DriverQueries."""
    from pyspark.sql import types as T

    return (queries.schema[query_item_col].dataType
            if isinstance(queries, DataFrame) else T.StringType())


def _candidate_schema(query_type, items: DataFrame, item_key_col: str,
                      payload_cols: Sequence[str] = ()):
    """The ``(source_item, sim_item, sim_val, *payload_cols)`` candidate
    frame's schema: the query id's type, then the item key's and the
    payload columns' types in ``items``."""
    from pyspark.sql import types as T

    return T.StructType([
        T.StructField("source_item", query_type),
        T.StructField("sim_item", items.schema[item_key_col].dataType),
        T.StructField("sim_val", T.DoubleType()),
        *[items.schema[c] for c in payload_cols]])


def _project(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """``df.select(*cols)`` (repeats dropped), or ``df`` itself when it
    already is that projection: a ``select`` costs a plan analysis in
    the JVM, several ms of a search ranked on the driver."""
    cols = list(dict.fromkeys(cols))
    return df if df.columns == cols else df.select(*cols)


def _collect_vectors(items: DataFrame, key_col: str, vec_col: str, *,
                     dim: int | None = None, held: bool = False,
                     payload_cols: Sequence[str] = ()):
    """``(keys, float64 matrix, payload)`` of ``items`` in collection
    order, from one Arrow collect of the key, the vector and the
    ``payload_cols`` (a pandas frame of them, None without any), checked
    on the driver with the same errors
    :func:`~faisssearcher_spark.functions.vector.validate_vectors`
    raises (NULL, ragged, wrong dim; all-NULL is "no vectors"). No rows
    gives empty arrays and no error: the caller decides what an empty
    corpus means. ``held=True`` checks the rows as an increment to
    vectors already validated at ``dim``, as validating the union would."""
    import numpy as np
    import pyarrow.compute as pc

    from faisssearcher_spark.functions.vector import check_vector_stats

    tbl = _project(items, [key_col, vec_col, *payload_cols]).toArrow()
    if not tbl.num_rows:
        return np.empty(0), np.empty((0, dim or 0)), None
    vecs = tbl.column(vec_col).combine_chunks()
    bounds = pc.min_max(pc.list_value_length(vecs))
    dmin, dmax = bounds["min"].as_py(), bounds["max"].as_py()
    if held:
        dmin = dim if dmin is None else min(dmin, dim)
        dmax = dim if dmax is None else max(dmax, dim)
    d = check_vector_stats(vec_col, vecs.null_count, dmin, dmax, dim)
    mat = vecs.flatten().to_numpy(zero_copy_only=False)
    payload = (tbl.select(list(payload_cols)).to_pandas() if payload_cols
               else None)
    return (tbl.column(key_col).to_numpy(),
            mat.astype(np.float64).reshape(len(vecs), d), payload)


class _DriverRows:
    """Corpus rows held on the driver for searches ranked there: their
    ``keys``, ``payload`` (a pandas frame, or None) and the query
    ``dim``. Holds the one estimate of a driver-ranked search's memory
    that :class:`BlockedCorpus` and :class:`ScanRows` gate on."""

    keys: "np.ndarray"
    payload: "pd.DataFrame | None"
    dim: int

    @functools.cached_property
    def _row_bytes(self) -> int:
        """Estimated driver bytes of one ranked row: query id, key,
        score and rank at 8 bytes each, plus the mean size of a corpus
        row's payload as pandas holds it."""
        if self.payload is None or not len(self.payload):
            return 32
        used = self.payload.memory_usage(index=False, deep=True).sum()
        return 32 + int(used) // len(self.payload)

    def driver_bytes(self, n_queries: int, k: int) -> int:
        """Estimated driver bytes of ranking ``n_queries`` queries at
        ``k`` against these rows on the driver: their float64 matrix and
        their ranked rows, payload included."""
        return n_queries * (self.dim * 8
                            + min(k, len(self.keys)) * self._row_bytes)


class BlockedCorpus(_DriverRows):
    """The blocked kernel's corpus side, built once on the driver: the
    float64 item matrix in KEY order, its keys, the payload columns
    (a pandas frame, rows in the same order) and (``l2`` only) the
    rows' squared norms (``sq``), kept on the driver and each broadcast
    to the executors. ``fields`` are the Spark fields of the key and the
    payload columns.

    ``knn_join(strategy="blocked")`` builds one per call. A trained flat
    ``SparkSearcher`` holds one from ``train()`` to ``close()`` — the
    FAISS ``IndexFlat`` the reference keeps in the driver
    (faiss_searcher.py:116-125) — so each of its searches is one
    :func:`driver_rank` (or, for a large target, :func:`blocked_rank`)
    with no corpus round trip. Key order is what
    makes the kernel's stable argsorts break score ties by the smallest
    key (the catalyst window's ``(score, key)`` order); sorting once here
    spares every task its own argsort and an n×d matrix copy."""

    def __init__(self, spark, keys, mat, payload, *, metric: str, fields,
                 normalize: bool):
        import numpy as np

        self.metric, self.fields, self.normalize = metric, fields, normalize
        order = np.argsort(keys, kind="stable")
        self.keys, self.mat = keys[order], mat[order]
        self.payload = (None if payload is None
                        else payload.iloc[order].reset_index(drop=True))
        sc = spark.sparkContext
        self._spark = spark
        self.b_mat = sc.broadcast(self.mat)
        self.b_keys = sc.broadcast(self.keys)
        self.b_payload = (None if payload is None
                          else sc.broadcast(self.payload))
        # squared norms are only read by the l2 decomposition — none at
        # all for cos/ip
        self.sq = ((self.mat * self.mat).sum(axis=1) if metric == "l2"
                   else None)
        self.b_sq = None if self.sq is None else sc.broadcast(self.sq)

    @classmethod
    def collect(cls, items: DataFrame, *, item_key_col: str,
                item_vec_col: str, metric: str, normalize: bool,
                dim: int | None = None,
                payload_cols: Sequence[str] = ()) -> "BlockedCorpus | None":
        """One Arrow collect of ``items`` into a handle, validated on the
        driver (see :func:`_collect_vectors`); None for an empty frame."""
        keys, mat, payload = _collect_vectors(
            items, item_key_col, item_vec_col, dim=dim,
            payload_cols=payload_cols)
        if not len(keys):
            return None
        return cls(items.sparkSession, keys,
                   _unit_rows(mat) if normalize else mat, payload,
                   metric=metric, normalize=normalize,
                   fields=[items.schema[c] for c in
                           (item_key_col, *payload_cols)])

    @property
    def dim(self) -> int:
        return self.mat.shape[1]

    @property
    def key_type(self) -> str:
        return self.fields[0].dataType.simpleString()

    def add(self, items: DataFrame, *, item_key_col: str,
            item_vec_col: str) -> "BlockedCorpus":
        """A new handle over these rows plus ``items``'s (with this
        handle's payload columns), collecting only the new rows;
        ``self`` when there are none. The new rows are checked as an
        increment at this handle's dim before anything is built, so a bad
        batch raises and leaves this handle usable."""
        import numpy as np
        import pandas as pd

        keys, mat, payload = _collect_vectors(
            items, item_key_col, item_vec_col, dim=self.dim, held=True,
            payload_cols=[f.name for f in self.fields[1:]])
        if not len(keys):
            return self
        if self.normalize:
            mat = _unit_rows(mat)
        if payload is not None:
            payload = pd.concat([self.payload, payload], ignore_index=True)
        # held rows first: the stable key sort keeps them ahead of new
        # rows with an equal key, the order a collect of the union gives
        return BlockedCorpus(
            self._spark, np.concatenate([self.keys, keys]),
            np.concatenate([self.mat, mat]), payload, metric=self.metric,
            fields=self.fields, normalize=self.normalize)

    def destroy(self) -> None:
        """Remove the broadcasts from the driver and every executor."""
        for b in (self.b_mat, self.b_keys, self.b_payload, self.b_sq):
            if b is not None:
                b.destroy()


def _rank_rows(qids, q, mat, keys, payload, sq, *, metric: str, k: int,
               scale: int | None, normalize: bool, rank_no: bool):
    """The blocked kernel's ranking body, written once for an Arrow
    batch of queries on an executor (:func:`blocked_rank`) and for a
    query set on the driver (:func:`driver_rank`): the top-``k`` of the
    float64 queries ``q`` (unit-scaled first when ``normalize``) over
    the KEY-ORDERED corpus arrays — matrix, keys, payload frame (or
    None) and, for ``l2``, squared norms — as :func:`_emit`'s pandas
    frame. Column position is key rank, so the fold's tie-break by
    position is the catalyst window's (score, key) tie-break."""
    if normalize:
        q = _unit_rows(q)
    top_pos, top_val = _topk_fold(
        _gemm_scorer(q, mat, metric, scale=scale, mat_sq=sq), len(q),
        len(mat), min(k, len(mat)), higher_is_closer=metric in ("cos", "ip"))
    return _emit(qids, keys, top_pos, top_val, payload, rank_no=rank_no)


def _ranked_schema(query_type, fields, keep_rank_no: bool):
    """``(source_item, sim_item, sim_val[, rank_no], *payload)`` with the
    query id's Spark type and ``fields``, the key's and the payload
    columns' Spark fields; ``rank_no`` is never NULL, as the rank
    window's."""
    from pyspark.sql import types as T

    key, *payload = fields
    return T.StructType([
        T.StructField("source_item", query_type),
        T.StructField("sim_item", key.dataType),
        T.StructField("sim_val", T.DoubleType()),
        *([T.StructField("rank_no", T.IntegerType(), False)] if keep_rank_no
          else []), *payload])


def blocked_rank(queries: DataFrame, corpus: BlockedCorpus, *, k: int,
                 query_vec_col: str, query_item_col: str,
                 keep_rank_no: bool, score_scale: int | None) -> DataFrame:
    """The blocked kernel's ranking half: ``mapInPandas`` over the
    queries, one bounded-scratch numpy GEMM fold per Arrow batch against
    the broadcast ``corpus`` (:func:`_rank_rows`), k rows per query ROW,
    each with its own corpus row's payload (``corpus``'s payload
    columns), so no join follows and a query stream can ride it.
    Building the frame launches no job; running it reads the
    broadcasts, so run it before ``corpus`` is destroyed."""
    import numpy as np

    b_mat, b_keys, b_sq = corpus.b_mat, corpus.b_keys, corpus.b_sq
    b_payload = corpus.b_payload
    met, kk, nrm, scale = corpus.metric, k, corpus.normalize, score_scale

    def _score(batches):
        mat, keys = b_mat.value, b_keys.value
        sq = b_sq.value if b_sq is not None else None
        payload = b_payload.value if b_payload is not None else None
        for pdf in batches:
            if not len(pdf):
                continue
            yield _rank_rows(
                pdf["__qid"].to_numpy(),
                np.array(pdf["__qv"].to_list(), dtype=np.float64), mat,
                keys, payload, sq, metric=met, k=kk, scale=scale,
                normalize=nrm, rank_no=keep_rank_no)

    return queries.select(
        F.col(query_item_col).alias("__qid"),
        F.col(query_vec_col).cast("array<double>").alias("__qv"),
    ).mapInPandas(_score, _ranked_schema(
        queries.schema[query_item_col].dataType, corpus.fields,
        keep_rank_no))


def driver_rank(queries: DriverQueries, corpus: BlockedCorpus, *,
                ks: Iterable[int], query_type, keep_rank_no: bool,
                score_scale: int | None) -> dict:
    """:func:`blocked_rank` on the driver, as the reference answers a
    search with one BLAS call in its own process
    (faiss_searcher.py:161-187): ``queries`` ranked once at the largest
    of ``ks`` against ``corpus``'s own matrix (:func:`_rank_rows`, the
    executors' arithmetic; bit for bit where :func:`_gemm_scorer`'s
    padding makes BLAS batch-invariant), each k a filter of that one
    pandas frame. Returns ``{k: local frame}``, each built from Arrow on
    the driver (a LocalTableScan: reading it runs no job) with the
    ``query_type`` query ids and ``corpus``'s key and payload fields;
    it reads no broadcast, so it outlives ``corpus``."""
    import numpy as np

    ks = _sorted_ks(ks)
    n, ids = len(queries.ids), queries.ids
    ranked = _rank_rows(
        ids if isinstance(ids, np.ndarray) else np.asarray(ids, dtype=object),
        np.asarray(queries.mat, dtype=np.float64).reshape(n, corpus.dim),
        corpus.mat, corpus.keys, corpus.payload, corpus.sq,
        metric=corpus.metric, k=ks[-1], scale=score_scale,
        normalize=corpus.normalize, rank_no=True)
    schema = _ranked_schema(query_type, corpus.fields, keep_rank_no)
    out = {}
    for k in ks:
        pdf = ranked[ranked["rank_no"] < k] if k < ks[-1] else ranked
        if not keep_rank_no:
            pdf = pdf.drop(columns="rank_no")
        out[k] = _local_frame(corpus._spark, pdf, schema)
    return out


def _local_frame(spark, pdf, schema) -> DataFrame:
    """A driver-ranked pandas frame as a local DataFrame of ``schema``,
    built from Arrow on the driver: a LocalTableScan, so reading it runs
    no job."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    return spark.createDataFrame(
        pa.Table.from_pandas(pdf, schema=to_arrow_schema(schema),
                             preserve_index=False), schema)


def _probes(probed) -> dict:
    """Each cell of a (queries × nprobe) probe array, mapped to the
    queries that probe it, ascending."""
    import numpy as np

    return {int(c): np.flatnonzero((probed == c).any(axis=1))
            for c in np.unique(probed)}


def _scan_rows(qids, state, probes, keys, rows, cells, payload, *, k: int,
               scorer: Callable, higher_is_closer: bool,
               rank_no: bool = False):
    """The scan's ranking body, written once for an Arrow batch of item
    rows on an executor (:func:`_sharded_scan`) and for a held copy's
    rows on the driver (:func:`driver_scan`): each query's top-``k``
    among the rows it probes, as :func:`_emit`'s pandas frame with the
    rows' own ``payload`` (a pandas frame in row order, or None).

    The rows are sorted by key first, so the fold's position tie-break
    is the rank window's (score, key) order. ``scorer(state, rows, cell)``
    gives the block scorer of ``rows`` (one cell's, ``state`` cut to the
    queries that probe it, under :func:`_cell_scorer`; all of them with
    ``cell=None`` when ``probes`` is None) and :func:`_topk_fold` ranks
    them under a 64 MB scratch bound. A pair whose cell the query does
    not probe scores ``worst`` and is dropped; it ranks after every
    real score, so ``rank_no`` (0-based, per query) stays dense."""
    import numpy as np

    order = np.argsort(keys, kind="stable")
    rows = rows[order]
    worst = -np.inf if higher_is_closer else np.inf
    score = (scorer(state, rows, None) if probes is None else
             _cell_scorer(scorer, state, len(qids), probes, rows,
                          cells[order], worst))
    top_pos, top_val = _topk_fold(
        score, len(qids), len(keys), min(k, len(keys)),
        higher_is_closer=higher_is_closer, scratch_bytes=64 << 20)
    out = _emit(qids, keys, top_pos, top_val, payload, order,
                rank_no=rank_no)
    return out if probes is None else out[out["sim_val"] != worst]


def _scan_col(items: DataFrame, name: str) -> Column:
    """Column ``name`` of ``items`` as a scan's scorer reads it, on the
    executors (:func:`_sharded_scan`) and in a driver copy
    (:meth:`ScanRows.collect`): integer codes as stored, vectors as
    ``array<double>``."""
    from pyspark.sql import types as T

    elem = items.schema[name].dataType.elementType
    col = F.col(name)
    return col if isinstance(elem, T.IntegralType) \
        else col.cast("array<double>")


def _sharded_scan(qids, qmat, items: DataFrame, *, k: int, query_type,
                  item_key_col: str, item_col: str,
                  higher_is_closer: bool, prepare: Callable, scorer: Callable,
                  probe: Callable | None = None,
                  payload_cols: Sequence[str] = ()) -> DataFrame:
    """The broadcast-queries scan over a distributed item table, shared
    by ``knn_join(strategy="sharded")`` and the PQ, SQ, IVF and IVF-PQ
    searches (ann.py): the per-shard half of shard-and-merge.

    The caller collects and checks the queries on the driver
    (:func:`_query_vectors`: NULL, ragged and wrong-dim vectors raise
    before any job) and decides what an empty set means: ``qids`` are
    their ids (Spark type ``query_type``) and ``qmat`` their float64
    matrix, one row each. ``prepare(qmat)`` turns the matrix into the
    state every executor needs: a tuple of arrays with one row per query
    (the query matrix, a PQ LUT tensor) or None, broadcast with the
    query ids.

    ``probe`` makes the scan cell-aware (IVF): ``probe(qmat)`` gives
    each query's probed cells, a (queries × nprobe) int array computed
    on the driver, and ``items`` has an int ``cell`` column; only rows
    of probed cells are read. A flat scan (``probe=None``) is the case
    of one cell that every query probes.

    Each Arrow batch of ``item_col`` values, stacked into one array,
    runs :func:`_scan_rows` and emits each query's local top-k among the
    rows it probes, with the ``payload_cols`` of the rows it emits: the
    payload of a result row is its own corpus row's. Rank the
    candidates with :func:`_rank_topk` (or :func:`_top_rows`).

    Returns the ``(source_item, sim_item, sim_val, *payload_cols)``
    candidate frame. ``scorer`` ships to the executors: it must close
    over arrays, not over a DataFrame or an index."""
    import numpy as np

    cols = [F.col(item_key_col).alias("__ik"),
            _scan_col(items, item_col).alias("__iv")]
    probes = None
    if probe is not None:
        probes = _probes(probe(qmat))
        # array_contains over an array literal, not isin: Spark compiles
        # an int isin's values into the generated code (a switch), so
        # every new set of probed cells would compile a new stage
        items = items.where(F.array_contains(F.lit(sorted(probes)),
                                             F.col("cell")))
        cols.append(F.col("cell").alias("__ic"))
    payload = list(payload_cols)
    b_state = items.sparkSession.sparkContext.broadcast(
        (qids, prepare(qmat), probes))

    def _local(batches):
        qids, state, probes = b_state.value
        for pdf in batches:
            if not len(pdf):
                continue
            yield _scan_rows(
                qids, state, probes, pdf["__ik"].to_numpy(),
                np.array(pdf["__iv"].to_list()),
                None if probes is None else pdf["__ic"].to_numpy(),
                pdf[payload] if payload else None, k=k, scorer=scorer,
                higher_is_closer=higher_is_closer)

    return items.select(*cols, *payload).mapInPandas(
        _local, _candidate_schema(query_type, items, item_key_col, payload))


class ScanRows(_DriverRows):
    """A scan's item table held on the driver, in KEY order: the keys,
    the rows the scorer reads (codes, or float64 vectors), the ``cell``
    of each row (None for a flat scan), the payload columns (a pandas
    frame, or None) and the Spark fields of the key and the payload.
    ``dim`` is the query dim. What an ann.py index keeps to rank a
    search on the driver (:func:`driver_scan`), as the reference keeps
    its FAISS index in its own process (faiss_searcher.py:116-125)."""

    def __init__(self, keys, rows, cells, payload, *, fields, dim: int):
        import numpy as np

        order = np.argsort(keys, kind="stable")
        self.keys, self.rows = keys[order], rows[order]
        self.cells = None if cells is None else cells[order]
        self.payload = (None if payload is None
                        else payload.iloc[order].reset_index(drop=True))
        self.fields, self.dim = fields, dim

    @classmethod
    def collect(cls, table: DataFrame, *, key_col: str, row_col: str,
                cells: bool, payload_cols: Sequence[str],
                dim: int) -> "ScanRows":
        """One Arrow collect of ``table``'s key, ``cell`` (when
        ``cells``), ``row_col`` and ``payload_cols``; ``row_col`` comes
        back as the executors read it (:func:`_scan_col`)."""
        tbl = table.select(
            key_col, *(["cell"] if cells else []),
            _scan_col(table, row_col).alias(row_col),
            *payload_cols).toArrow()
        n = tbl.num_rows
        rows = tbl.column(row_col).combine_chunks().flatten() \
            .to_numpy(zero_copy_only=False)
        rows = rows.reshape(n, -1) if n else rows.reshape(0, 0)
        return cls(tbl.column(key_col).to_numpy(), rows,
                   tbl.column("cell").to_numpy() if cells else None,
                   tbl.select(list(payload_cols)).to_pandas()
                   if payload_cols else None,
                   fields=[table.schema[c]
                           for c in (key_col, *payload_cols)],
                   dim=dim)


def driver_scan(qids, qmat, held: ScanRows, spark, *, k: int, query_type,
                higher_is_closer: bool, prepare: Callable,
                scorer: Callable, probe: Callable | None = None,
                payload_cols: Sequence[str] = ()) -> DataFrame:
    """:func:`_sharded_scan` and its rank window on the driver, over a
    held copy of the item table: the probed rows (every row without
    ``probe``) run :func:`_scan_rows` once with the scan's own
    ``prepare`` and ``scorer``, and each query's rows come out ranked.
    Returns ``(source_item, sim_item, sim_val, rank_no,
    *payload_cols)``, built from Arrow on the driver (a LocalTableScan:
    reading it runs no job). ``payload_cols`` must be among ``held``'s."""
    import numpy as np

    probes = None if probe is None else _probes(probe(qmat))
    sel = (slice(None) if probes is None else
           np.flatnonzero(np.isin(held.cells, list(probes))))
    payload = list(payload_cols)
    ranked = _scan_rows(
        qids, prepare(qmat), probes, held.keys[sel], held.rows[sel],
        None if probes is None else held.cells[sel],
        held.payload[payload].iloc[sel] if payload else None, k=k,
        scorer=scorer, higher_is_closer=higher_is_closer, rank_no=True)
    by_name = {f.name: f for f in held.fields[1:]}
    return _local_frame(spark, ranked, _ranked_schema(
        query_type, [held.fields[0], *[by_name[c] for c in payload]], True))


def _cell_scorer(scorer, state, n_q: int, probes: dict, rows, cells,
                 worst: float):
    """The block scorer of a cell-aware :func:`_sharded_scan` batch:
    each cell's rows among ``s:e`` scored by ``scorer`` against only the
    ``n_q`` queries that probe the cell (``probes[cell]``, ``state`` cut
    to them), every other (query, row) pair ``worst``."""
    import numpy as np

    def score(s, e):
        c = cells[s:e]
        out = np.full((n_q, e - s), worst)
        by_cell = np.argsort(c, kind="stable")
        cuts = np.flatnonzero(np.diff(c[by_cell])) + 1
        for idx in np.split(by_cell, cuts):
            cell = int(c[idx[0]])
            qi = probes[cell]
            st = tuple(a if a is None else a[qi] for a in state)
            out[np.ix_(qi, idx)] = scorer(st, rows[s + idx], cell)(
                0, len(idx))
        return out

    return score


def _knn_join_blocked(queries: DataFrame, items: DataFrame, *, metric: str,
                      k: int, query_vec_col: str, item_vec_col: str,
                      query_item_col: str, item_key_col: str,
                      payload_cols: Sequence[str], keep_rank_no: bool,
                      normalize: bool, score_scale: int | None) -> DataFrame:
    """Block-matmul exact top-k: broadcast corpus matrix, one numpy GEMM
    per Arrow batch of queries. See ``knn_join(strategy="blocked")``."""
    corpus = BlockedCorpus.collect(
        items, item_key_col=item_key_col, item_vec_col=item_vec_col,
        metric=metric, normalize=normalize, payload_cols=payload_cols)
    if corpus is None:
        # top-k of an empty corpus is an empty result, same as catalyst —
        # the kernel's (0,)-shaped matrix would break axis math
        return _empty_result(queries, items, query_item_col=query_item_col,
                             item_key_col=item_key_col,
                             payload_cols=payload_cols,
                             keep_rank_no=keep_rank_no)
    return blocked_rank(queries, corpus, k=k, query_vec_col=query_vec_col,
                        query_item_col=query_item_col,
                        keep_rank_no=keep_rank_no, score_scale=score_scale)


def _knn_join_sharded(queries: DataFrame, items: DataFrame, *, metric: str,
                      k: int, query_vec_col: str, item_vec_col: str,
                      query_item_col: str, item_key_col: str,
                      payload_cols: Sequence[str], keep_rank_no: bool,
                      normalize: bool, score_scale: int | None) -> DataFrame:
    """Shard-and-merge exact top-k: :func:`_sharded_scan` with a GEMM
    scorer, payload riding the scan, then the one rank window. See
    ``knn_join(strategy="sharded")``."""
    higher = metric in ("cos", "ip")
    qids, qmat = _query_vectors(queries, query_item_col, query_vec_col)
    if not len(qids):
        # no queries, no rows — there is no query matrix to broadcast
        return _empty_result(queries, items, query_item_col=query_item_col,
                             item_key_col=item_key_col,
                             payload_cols=payload_cols,
                             keep_rank_no=keep_rank_no)
    cand = _sharded_scan(
        qids, qmat, items, k=k,
        query_type=_query_type(queries, query_item_col),
        item_key_col=item_key_col,
        item_col=item_vec_col, higher_is_closer=higher,
        payload_cols=payload_cols,
        **_gemm_scan(metric, normalize, score_scale))
    return _top_rows(cand, k, higher, payload_cols, keep_rank_no)


def _knn_join_grid(queries: DataFrame, items: DataFrame, *, metric: str,
                   k: int, query_vec_col: str, item_vec_col: str,
                   query_item_col: str, item_key_col: str,
                   payload_cols: Sequence[str], keep_rank_no: bool,
                   normalize: bool, score_scale: int | None,
                   n_query_blocks: "int | None",
                   n_item_shards: "int | None") -> DataFrame:
    """Grid GEMM exact top-k for the "both sides too big for one machine"
    quadrant: query-block × item-shard cells via cogrouped applyInPandas,
    per-cell GEMM local top-k, global window merge.
    See ``knn_join(strategy="grid")``."""
    import numpy as np
    import pandas as pd

    spark = items.sparkSession
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
        par = spark.sparkContext.defaultParallelism or 8
        side = 1
        while side * side < 2 * par and side < 16:
            side += 1
        n_query_blocks = side if n_query_blocks is None else n_query_blocks
        n_item_shards = side if n_item_shards is None else n_item_shards
    if n_query_blocks < 1 or n_item_shards < 1:
        raise ValueError("n_query_blocks and n_item_shards must be >= 1")

    qb = queries.select(
        F.col(query_item_col).alias("__qid"),
        F.col(query_vec_col).cast("array<double>").alias("__qv"),
        F.pmod(F.xxhash64(F.col(query_item_col)), F.lit(n_query_blocks))
        .cast("int").alias("__gb"))
    ib = items.select(
        F.col(item_key_col).alias("__ik"),
        F.col(item_vec_col).cast("array<double>").alias("__iv"),
        F.pmod(F.xxhash64(F.col(item_key_col)), F.lit(n_item_shards))
        .cast("int").alias("__gs"), *payload_cols)
    # replicate so block b meets shard s exactly once: queries fan out over
    # shard ids, items over block ids — O(m·shards + n·blocks) movement,
    # the distributed-matmul communication lower bound.
    shard_ids = spark.range(n_item_shards).select(
        F.col("id").cast("int").alias("__gs"))
    block_ids = spark.range(n_query_blocks).select(
        F.col("id").cast("int").alias("__gb"))
    q_rep = qb.crossJoin(F.broadcast(shard_ids))
    i_rep = ib.crossJoin(F.broadcast(block_ids))

    higher = metric in ("cos", "ip")

    def _cell(left: "pd.DataFrame", right: "pd.DataFrame") -> "pd.DataFrame":
        if not len(left) or not len(right):
            return pd.DataFrame({"source_item": pd.Series([], dtype=object),
                                 "sim_item": pd.Series([], dtype=object),
                                 "sim_val": pd.Series([], dtype="float64"),
                                 **{c: pd.Series([], dtype=object)
                                    for c in payload_cols}})
        keys = right["__ik"].to_numpy()
        # columns in key order: the fold's position tie-break is the
        # merge window's (score, key) order
        order = np.argsort(keys, kind="stable")
        mat = np.array(right["__iv"].to_list(), dtype=np.float64)[order]
        q = np.array(left["__qv"].to_list(), dtype=np.float64)
        if normalize:
            q, mat = _unit_rows(q), _unit_rows(mat)
        # the tighter 64 MB scratch cap reflects that grid cells run
        # MANY concurrent tasks per executor where the blocked kernel
        # streams one Arrow batch at a time
        top_pos, top_val = _topk_fold(
            _gemm_scorer(q, mat, metric, scale=score_scale), len(q),
            len(mat), min(k, len(mat)), higher_is_closer=higher,
            scratch_bytes=64 << 20)
        return _emit(left["__qid"].to_numpy(), keys, top_pos, top_val,
                     right[payload_cols] if payload_cols else None, order)

    cand = (q_rep.groupby("__gb", "__gs")
            .cogroup(i_rep.groupby("__gb", "__gs"))
            .applyInPandas(_cell, _candidate_schema(
                _query_type(queries, query_item_col), items, item_key_col,
                payload_cols)))
    return _top_rows(cand, k, higher, payload_cols, keep_rank_no)


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
    kwargs["keep_rank_no"] = True
    return multi_k(lambda k: knn_join(queries, items, k=k, **kwargs), ks)


def _sorted_ks(ks: Iterable[int]) -> list:
    """The distinct ks of a multi-K search, ascending; none raises."""
    ks = sorted(set(int(k) for k in ks))
    if not ks:
        raise ValueError("ks must be non-empty")
    return ks


def multi_k(rank_at: Callable[[int], DataFrame],
            ks: Iterable[int]) -> Mapping[int, DataFrame]:
    """``{k: top-k}`` from one cached ``rank_at(max(ks))`` frame (which
    must carry ``rank_no``), each k a filter over it. A local frame (one
    ranked on the driver) is filtered as it is: it already holds its
    rows, and caching it would add a job to read them."""
    ks = _sorted_ks(ks)
    ranked = rank_at(ks[-1])
    if not ranked.isLocal():
        ranked = ranked.cache()
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
