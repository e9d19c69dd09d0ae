"""faisssearcher_spark — a PySpark-native vector-search analytics engine.

A brand-new engine with the query and data-processing capabilities of the
reference ``mechsihao/FaissSearcher`` (a single-process pandas + FAISS
wrapper), re-expressed as idiomatic Spark:

- the metric library (``backend/faiss_searcher.py:75-90`` in the reference)
  becomes Catalyst-native column expressions (``zip_with``/``aggregate``)
  that run in the JVM — no Python on the scoring path (they are
  ``CodegenFallback``, so interpreted, not whole-stage codegen'd);
- the flagship batched top-K nearest-neighbor search
  (``faiss_searcher.py:161-187``) becomes an exact k-NN similarity join:
  broadcast the small side, score with Catalyst expressions, rank with a
  window (Spark's WindowGroupLimit pushes the K-limit below the shuffle);
- PCA whitening (``vecs_whitening.py``) becomes a distributed
  moment-aggregation fit + driver-side SVD + broadcast affine transform;
- the pluggable encoder (``base_encoder.py``) becomes an Arrow-vectorized
  ``pandas_udf`` factory;
- persistence (pickle in the reference) becomes Parquet + JSON metadata.

Beyond reference parity the package ships the LLM-data-pipeline operators a
100 TB corpus needs: exact & near deduplication (MinHash-LSH, SimHash,
n-gram Jaccard, embedding cosine), text analysis (language id, quality
scoring, token statistics, fingerprinting), approximate nearest-neighbor
search (LSH bucketing), multimodal column plumbing, and event-stream
rollups (batch + Structured Streaming).
"""

import importlib

# Exports resolve on first use (PEP 562), so importing a light submodule
# (``session``, or the worker daemon ``_daemon``, which Spark starts with
# ``python -m`` before it forks workers) does not load numpy, pandas and
# every operator.
_EXPORTS = {
    "SparkSearcher": "faisssearcher_spark.searcher",
    "knn_join": "faisssearcher_spark.operators.knn",
    "cal_sim": "faisssearcher_spark.operators.knn",
    "metrics": "faisssearcher_spark.functions",
    **{name: "faisssearcher_spark.operators" for name in (
        "ann", "balance", "bitext", "bm25", "bpe", "classifier", "curate",
        "decontam", "dedup", "evaluation", "events", "incremental",
        "layout", "maxsim", "multimodal", "privacy", "rerank", "sampling",
        "temporal", "text_analysis", "unigram", "wordpiece")},
}

__all__ = list(_EXPORTS)


def __getattr__(name: str):
    module = _EXPORTS.get(name)
    if module is None:
        raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
    try:
        value = getattr(importlib.import_module(module), name)
    except AttributeError:
        value = importlib.import_module(f"{module}.{name}")
    globals()[name] = value
    return value


__version__ = "0.1.0"
