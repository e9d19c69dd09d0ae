"""Encoder protocol: pluggable text → vector models as Arrow pandas_udfs.

Reference parity: ``backend/base_encoder.py:5-10`` defines the encoder
contract — any object with ``encode(items: List[str]) -> ndarray`` — and
``FaissSearcher.__init__`` auto-wraps a keras ``predict`` into one
(faiss_searcher.py:44-48). The BERT encoder's hand-rolled batch generator
(encoder_utils.py:48-75, batch_size=32) is replaced by Arrow record batches:
Spark streams columnar batches into the Python worker and the encoder sees a
whole batch at once (`spark.sql.execution.arrow.maxRecordsPerBatch`).

Deliberate deviations from the reference (SURVEY.md §2.8):
- no remote-service offload with timeout fallback (bert_encoder.py:81-116) —
  executors run encoders data-parallel; RPC hedging is an anti-pattern here;
- heavy model deps (TF/bert4keras) are NOT imported at engine import time
  (the reference hard-imports them at module load, bert_encoder.py:16-31);
  adapters live behind this protocol and import lazily on executors.
"""

from __future__ import annotations

from typing import Callable, Protocol, runtime_checkable

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, FloatType


@runtime_checkable
class Encoder(Protocol):
    """Anything that maps a batch of strings to an (n, dim) float matrix."""

    #: output dimensionality (validated against probe, like the reference's
    #: dim discovery at faiss_searcher.py:56)
    dim: int

    def encode(self, items: "pd.Series | list[str]") -> np.ndarray:
        ...


def encoder_udf(encoder: Encoder) -> Callable[..., Column]:
    """Wrap an :class:`Encoder` into an Arrow-vectorized pandas_udf.

    The returned callable maps a string column to array<float>. The encoder
    object is serialized to executors once per task (keep it small or make
    it lazily construct its model on first batch).

    The encoder's defining module is registered for pickle-by-value so the
    UDF deserializes on executors even when this package is not on the
    worker PYTHONPATH (e.g. driver scripts run from another directory).
    """
    import sys

    try:
        from pyspark import cloudpickle

        mod = sys.modules.get(type(encoder).__module__)
        if mod is not None and mod.__name__ != "__main__":
            cloudpickle.register_pickle_by_value(mod)
    except Exception:
        pass  # best effort; normal module-reference pickling still applies

    @F.pandas_udf(ArrayType(FloatType()))
    def _encode(texts: pd.Series) -> pd.Series:
        return pd.Series(list(encode_batch(encoder, texts)))

    return _encode


def encode_batch(encoder: Encoder, texts) -> np.ndarray:
    """``encoder.encode(texts)`` as a float32 ``(n, dim)`` matrix; any
    other shape raises. The one encode step of :func:`encoder_udf` and
    of a searcher's driver-side query encode, so the two cannot drift."""
    mat = np.asarray(encoder.encode(texts), dtype=np.float32)
    if mat.ndim != 2:
        raise ValueError(f"encoder returned shape {mat.shape}, want (n, dim)")
    return mat
