"""Streaming top-K similarity search over a trained corpus.

North-star boundary: online ANN *serving* needs dedicated infrastructure
outside Spark (BASELINE.json) — but continuous BATCHED scoring of a query
stream against a trained corpus is squarely a Structured Streaming job,
and that is what this provides: micro-batch top-K, exactly the blocked
knn kernel, no serving stack.

Why the blocked strategy and not the catalyst plan: per-query ranking
needs `row_number() over (partition by query)`, and non-time windows are
unsupported on streams. The blocked kernel ranks INSIDE `mapInPandas`
(numpy GEMM + top-k fold per Arrow batch), which streams fine — each
micro-batch of queries scores against the broadcast corpus matrix and
emits its own top-K rows independently, each with its own corpus row's
payload (broadcast with the matrix, so no stream-static join follows),
so the operator is stateless: nothing to watermark, state size zero,
output mode append.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from faisssearcher_spark.operators.knn import knn_join


def streaming_knn_search(
    query_stream: DataFrame,
    items: DataFrame,
    *,
    metric: str = "cos",
    k: int = 10,
    query_item_col: str = "query_id",
    item_key_col: str = "item",
    query_vec_col: str = "embedding",
    item_vec_col: str = "embedding",
    payload_cols: list[str] | None = None,
    score_scale: int | None = None,
) -> DataFrame:
    """Top-``k`` neighbors for every query row arriving on the stream.

    ``items`` is a static (batch) DataFrame — the trained corpus;
    ``query_stream`` is a streaming DataFrame carrying
    ``(query_item_col, query_vec_col)``. Returns a streaming DataFrame of
    ``[source_item, sim_item, sim_val, rank_no, *payload]`` rows, one
    micro-batch of results per micro-batch of queries (append mode).
    """
    if not query_stream.isStreaming:
        raise ValueError("query_stream must be a streaming DataFrame; "
                         "use knn_join() for batch queries")
    return knn_join(
        query_stream, items, metric=metric, k=k,
        query_item_col=query_item_col, item_key_col=item_key_col,
        query_vec_col=query_vec_col, item_vec_col=item_vec_col,
        payload_cols=payload_cols, score_scale=score_scale,
        strategy="blocked")
