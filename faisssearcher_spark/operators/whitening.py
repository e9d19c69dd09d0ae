"""Distributed PCA-whitening: fit / transform / persist.

Reference parity: ``backend/vecs_whitening.py`` — fit computes
``mu = mean(vecs)``, ``cov = np.cov(vecs.T)``, ``U, s, _ = svd(cov)``,
``kernel = U @ diag(1/sqrt(s))[:, :k]``, ``bias = -mu`` (vecs_whitening.py:
25-34); transform is the affine map ``y = (x + bias) @ kernel``
(vecs_whitening.py:44-51); persistence pickles a 1-row pandas frame
(vecs_whitening.py:58-73).

Spark-first redesign (SURVEY.md §7 step 5):

- **fit** never collects vectors. One distributed aggregate computes the
  per-dimension sums and the d×d Gram matrix (map-side combine via
  ``treeAggregate``-like SQL aggregation on array columns); the driver then
  forms the sample covariance ``(XᵀX − n·μμᵀ)/(n−1)`` (matching ``np.cov``'s
  n−1 normalization) and runs the tiny d×d SVD locally. At 100 TB this
  moves O(d²) floats per partition, never O(n·d).
- **transform** broadcasts kernel/bias (d×k + d doubles — a few KB) and runs
  one stacked numpy matmul per Arrow batch inside a pandas_udf — ~d× faster
  than an element-wise SQL matvec; :meth:`VecsWhitening.apply` is that map,
  also run on the driver for a searcher's list queries.
- **persistence** is Parquet, not pickle (S4/S5 in SURVEY.md §2.1).
- **no hidden auto-fit**: the reference fits on the first encode batch when
  unfitted (bert_encoder.py:159-175) — state mutation inside a read path.
  Here ``fit`` is explicit; ``transform`` before ``fit`` raises, matching
  vecs_whitening.py:51's guard.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType


def vector_moments(df: DataFrame, vec_col: str) -> tuple[int, np.ndarray, np.ndarray]:
    """One distributed pass over an array column → ``(n, mean (d,),
    sample covariance (d,d) ddof=1)``.

    Map-side moment aggregation: each partition emits ONE row holding
    (count, column sums, Gram matrix XᵀX flattened) computed with numpy
    over Arrow batches; the driver combines O(partitions × d²) floats —
    never the vectors themselves. Shared by :meth:`VecsWhitening.fit` and
    the gate's whitening self-check.
    """
    vecs = df.select(F.col(vec_col).cast("array<double>").alias("v"))
    d_row = vecs.select(F.size("v").alias("d")).first()
    if d_row is None:
        raise ValueError("cannot compute moments of an empty DataFrame")
    d = d_row["d"]

    def _partition_moments(batches):
        n = 0
        sums = np.zeros(d, dtype=np.float64)
        gram = np.zeros((d, d), dtype=np.float64)
        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.array(pdf["v"].to_list(), dtype=np.float64)
            n += mat.shape[0]
            sums += mat.sum(axis=0)
            gram += mat.T @ mat
        if n:
            yield pd.DataFrame(
                {"n": [n], "sums": [sums.tolist()], "gram": [gram.ravel().tolist()]})

    parts = vecs.mapInPandas(
        _partition_moments,
        "n long, sums array<double>, gram array<double>").collect()
    if not parts:
        raise ValueError("cannot compute moments of an empty DataFrame")
    n = sum(r["n"] for r in parts)
    if n < 2:
        raise ValueError("moment pass needs at least 2 rows")
    col_sums = np.sum([np.array(r["sums"]) for r in parts], axis=0)
    gram = np.sum([np.array(r["gram"]).reshape(d, d) for r in parts], axis=0)
    mu = col_sums / n
    cov = (gram - n * np.outer(mu, mu)) / (n - 1)  # np.cov ddof=1 parity
    return n, mu, cov


class VecsWhitening:
    """PCA-whitening model over an ``array<float|double>`` DataFrame column."""

    def __init__(self, n_components: int):
        self.n_components = n_components
        self.kernel: np.ndarray | None = None  # (d, k)
        self.bias: np.ndarray | None = None    # (d,)
        self.origin_dim: int | None = None

    # -- fit ----------------------------------------------------------------

    def fit(self, df: DataFrame, vec_col: str = "embedding",
            sample_rows: int | None = None) -> "VecsWhitening":
        """Fit kernel/bias from a vector column with one distributed pass.

        ``sample_rows`` mirrors the reference's optional subsampling
        (``whitening_vec_nums``, bert_encoder.py:166-171) but uses a
        deterministic ``limit`` instead of ``np.random.permutation``.
        """
        vecs = df.select(F.col(vec_col).cast("array<double>").alias("v"))
        if sample_rows is not None:
            vecs = vecs.limit(sample_rows)

        d_row = vecs.select(F.size("v").alias("d")).first()
        if d_row is None:
            raise ValueError("cannot fit whitening on an empty DataFrame")
        d = d_row["d"]
        if d < self.n_components:
            # matches vecs_whitening.py:41's guard (message modernized)
            raise ValueError(
                f"n_components ({self.n_components}) must be <= original dim ({d})")

        try:
            n, mu, cov = vector_moments(vecs, "v")
        except ValueError as e:
            raise ValueError(f"whitening fit failed: {e}") from e
        u, s, _ = np.linalg.svd(cov)
        kernel = (u @ np.diag(1.0 / np.sqrt(s)))[:, : self.n_components]

        self.kernel, self.bias, self.origin_dim = kernel, -mu, d
        return self

    # -- transform ------------------------------------------------------------

    def apply(self, mat) -> np.ndarray:
        """``y = (x + bias) @ kernel`` over the rows of ``mat``, in
        float64. The one whitening map of :meth:`transform_expr` and of a
        searcher's driver-side query encode, so the two cannot drift.

        Each row is its own ``(1, d) @ (d, k)`` product: one GEMM over
        the batch picks its BLAS kernels by the batch's shape and the
        thread count, which moves the last bit of a row with the batch it
        arrives in. Per row, a vector whitens to the same bits in any
        Arrow batch and on the driver, at about 1.5-2x the GEMM's time."""
        if self.kernel is None or self.bias is None:
            raise RuntimeError("whitening model must be fit before transform")
        mat = np.asarray(mat, dtype=np.float64)
        if mat.shape[1] != self.kernel.shape[0]:
            # vecs_whitening.py:49's dim guard
            raise ValueError(
                f"input dim {mat.shape[1]} != kernel dim {self.kernel.shape[0]}")
        return np.matmul((mat + self.bias)[:, None, :], self.kernel)[:, 0]

    def transform_expr(self, vec_col: str = "embedding") -> Column:
        """Column expression applying :meth:`apply` via an
        Arrow-vectorized pandas_udf (one numpy call per batch)."""
        if self.kernel is None or self.bias is None:
            raise RuntimeError("whitening model must be fit before transform")
        apply = self.apply  # captured → the model ships with the task

        @F.pandas_udf(ArrayType(DoubleType()))
        def _whiten(batch: pd.Series) -> pd.Series:
            return pd.Series(list(apply(
                np.array(batch.to_list(), dtype=np.float64))))

        return _whiten(F.col(vec_col))

    def transform(self, df: DataFrame, vec_col: str = "embedding",
                  out_col: str | None = None) -> DataFrame:
        return df.withColumn(out_col or vec_col, self.transform_expr(vec_col))

    def fit_transform(self, df: DataFrame, vec_col: str = "embedding",
                      **fit_kwargs) -> DataFrame:
        if self.kernel is None and self.bias is None:
            self.fit(df, vec_col, **fit_kwargs)
        return self.transform(df, vec_col)

    # -- persistence (Parquet, replacing the reference's pickle S4/S5) -------

    def save(self, spark: SparkSession, path: str) -> None:
        if self.kernel is None or self.bias is None:
            raise RuntimeError("nothing to save: model not fit")
        row = {
            "kernel": [[float(v) for v in col] for col in self.kernel.tolist()],
            "bias": [float(v) for v in self.bias.tolist()],
            "n_components": self.n_components,
            "origin_dim": self.origin_dim,
        }
        spark.createDataFrame(
            [(json.dumps(row),)], "payload string"
        ).coalesce(1).write.mode("overwrite").parquet(path)

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "VecsWhitening":
        payload = json.loads(spark.read.parquet(path).first()["payload"])
        model = cls(payload["n_components"])
        model.kernel = np.array(payload["kernel"], dtype=np.float64)
        model.bias = np.array(payload["bias"], dtype=np.float64)
        model.origin_dim = payload["origin_dim"]
        return model

    def expect_components(self, n_components: int) -> "VecsWhitening":
        """Mirror of the load-time n_components check (vecs_whitening.py:72-73)."""
        if self.n_components != n_components:
            raise ValueError(
                f"whitening model n_components {self.n_components} != expected {n_components}")
        return self
