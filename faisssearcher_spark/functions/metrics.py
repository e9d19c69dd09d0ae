"""Distance / similarity metric library.

Reference parity: ``backend/faiss_searcher.py:75-90`` (``set_measure_metric``)
maps a measurement name to a FAISS metric enum and lets FAISS C++ do the
arithmetic. Here every metric is a **Catalyst column expression** over two
``array<float|double>`` columns, built from ``zip_with`` / ``aggregate`` /
``array_max`` higher-order functions, so scoring runs in the JVM and never
crosses into Python.  It is *not* whole-stage-codegen'd: in Spark 4.1.2
``ZipWith`` and ``ArrayAggregate`` implement ``CodegenFallback`` (``javap``
on ``spark-catalyst_2.13-4.1.2.jar``), so every pair is scored by the
expression interpreter.  The benchmark's ``flat_search`` workload traces
about 226k scored pairs/s on 3 task slots.

Conventions (must match FAISS, see SURVEY.md §2.3):

- ``cos`` / ``ip`` are *similarities*: *higher is closer* (FAISS
  METRIC_INNER_PRODUCT returns descending scores). The reference forces
  L2-normalization when measurement == "cos" (faiss_searcher.py:53), so its
  "cos" is inner-product-on-normalized-vectors; :func:`cosine` normalizes
  on the fly instead so it works on raw vectors too.
- all other metrics are *distances*: *lower is closer*.
- ``l2`` is FAISS METRIC_L2, i.e. **squared** Euclidean distance.
- ``l_p`` is FAISS METRIC_Lp which reports ``sum(|x-y|^p)`` without the
  final ``1/p`` root (faiss_searcher.py:82); pass ``root=True`` for the
  true Minkowski distance.

All accumulation is in float64 (inputs are cast to ``array<double>``) so
results are deterministic regardless of the storage dtype.
"""

from __future__ import annotations

from typing import Callable, Union

from pyspark.sql import Column
from pyspark.sql import functions as F

ColumnOrName = Union[Column, str]


def _col(c: ColumnOrName) -> Column:
    return F.col(c) if isinstance(c, str) else c


def as_double(c: ColumnOrName) -> Column:
    """Cast an array<float|double> column to array<double> for stable math."""
    return _col(c).cast("array<double>")


def _sum(arr: Column) -> Column:
    """Left-to-right float64 sum over an array column."""
    return F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x)


# ---------------------------------------------------------------------------
# similarities (higher = closer)
# ---------------------------------------------------------------------------

def inner_product(a: ColumnOrName, b: ColumnOrName) -> Column:
    """Raw dot product — FAISS METRIC_INNER_PRODUCT and the un-normalized
    scoring used by the reference's ``cal_sim`` (faiss_searcher.py:195)."""
    return _sum(F.zip_with(as_double(a), as_double(b), lambda x, y: x * y))


def l2_norm(a: ColumnOrName) -> Column:
    """Euclidean norm of a vector column."""
    va = as_double(a)
    return F.sqrt(_sum(F.zip_with(va, va, lambda x, y: x * y)))


def cosine(a: ColumnOrName, b: ColumnOrName) -> Column:
    """True cosine similarity: dot(a,b) / (|a||b|).

    Equivalent to the reference's "cos" measurement (inner product after
    forced L2 normalization, faiss_searcher.py:53,78,96-98) but usable on
    raw vectors. Zero-norm inputs yield NULL (the reference silently
    divides by zero → NaN; we prefer NULL, documented deviation).
    """
    denom = l2_norm(a) * l2_norm(b)
    return F.when(denom != 0.0, inner_product(a, b) / denom)


# ---------------------------------------------------------------------------
# distances (lower = closer)
# ---------------------------------------------------------------------------

def l2_squared(a: ColumnOrName, b: ColumnOrName) -> Column:
    """FAISS METRIC_L2: squared Euclidean distance (faiss_searcher.py:80)."""
    return _sum(F.zip_with(as_double(a), as_double(b),
                           lambda x, y: (x - y) * (x - y)))


def l2_distance(a: ColumnOrName, b: ColumnOrName) -> Column:
    """True Euclidean distance (sqrt of METRIC_L2)."""
    return F.sqrt(l2_squared(a, b))


def l1(a: ColumnOrName, b: ColumnOrName) -> Column:
    """FAISS METRIC_L1: Manhattan distance (faiss_searcher.py:79)."""
    return _sum(F.zip_with(as_double(a), as_double(b),
                           lambda x, y: F.abs(x - y)))


def l_inf(a: ColumnOrName, b: ColumnOrName) -> Column:
    """FAISS METRIC_Linf: Chebyshev distance (faiss_searcher.py:81)."""
    return F.array_max(F.zip_with(as_double(a), as_double(b),
                                  lambda x, y: F.abs(x - y)))


def l_p(a: ColumnOrName, b: ColumnOrName, p: float, root: bool = False) -> Column:
    """FAISS METRIC_Lp: sum(|x-y|^p), optionally with the 1/p root
    (faiss_searcher.py:82; FAISS reports the sum without the root)."""
    s = _sum(F.zip_with(as_double(a), as_double(b),
                        lambda x, y: F.pow(F.abs(x - y), F.lit(float(p)))))
    return F.pow(s, F.lit(1.0 / p)) if root else s


def bray_curtis(a: ColumnOrName, b: ColumnOrName) -> Column:
    """FAISS METRIC_BrayCurtis: sum|x-y| / sum|x+y| (faiss_searcher.py:83).
    NULL when the denominator is zero."""
    num = l1(a, b)
    den = _sum(F.zip_with(as_double(a), as_double(b),
                          lambda x, y: F.abs(x + y)))
    return F.when(den != 0.0, num / den)


def canberra(a: ColumnOrName, b: ColumnOrName) -> Column:
    """FAISS METRIC_Canberra: sum |x-y| / (|x|+|y|), 0/0 terms contribute 0
    (faiss_searcher.py:84)."""
    return _sum(F.zip_with(
        as_double(a), as_double(b),
        lambda x, y: F.when(F.abs(x) + F.abs(y) != 0.0,
                            F.abs(x - y) / (F.abs(x) + F.abs(y))).otherwise(0.0)))


def jensen_shannon(a: ColumnOrName, b: ColumnOrName) -> Column:
    """FAISS METRIC_JensenShannon (faiss_searcher.py:85).

    FAISS treats inputs as (unnormalized) distributions and computes
    ``0.5 * sum_i( x*ln(2x/(x+y)) + y*ln(2y/(x+y)) )`` with 0*ln(0) == 0.
    Inputs must be non-negative for a meaningful result (as with FAISS).
    """
    def term(x: Column, y: Column) -> Column:
        kx = F.when(x > 0.0, x * F.log(F.lit(2.0) * x / (x + y))).otherwise(0.0)
        ky = F.when(y > 0.0, y * F.log(F.lit(2.0) * y / (x + y))).otherwise(0.0)
        return kx + ky

    return 0.5 * _sum(F.zip_with(as_double(a), as_double(b), term))


# ---------------------------------------------------------------------------
# registry — mirrors the reference's measurement-name dispatch
# (faiss_searcher.py:75-90) including the unknown-metric error (M9).
# ---------------------------------------------------------------------------

MetricFn = Callable[[ColumnOrName, ColumnOrName], Column]

METRICS: dict[str, MetricFn] = {
    "cos": cosine,
    "ip": inner_product,
    "l2": l2_squared,
    "l2_true": l2_distance,
    "l1": l1,
    "l_inf": l_inf,
    "l_p": l_p,  # requires p kwarg via resolve_metric(..., p=...)
    "brayCurtis": bray_curtis,
    "canberra": canberra,
    "jensen_shannon": jensen_shannon,
}

#: True when larger score means more similar (FAISS inner-product family).
HIGHER_IS_CLOSER: dict[str, bool] = {
    "cos": True,
    "ip": True,
    "l2": False,
    "l2_true": False,
    "l1": False,
    "l_inf": False,
    "l_p": False,
    "brayCurtis": False,
    "canberra": False,
    "jensen_shannon": False,
}


def resolve_metric(name: str, p: float | None = None) -> tuple[MetricFn, bool]:
    """Resolve a measurement name → (metric fn, higher_is_closer).

    Unknown names raise ValueError listing the supported set, matching the
    reference's error contract (faiss_searcher.py:87-90).
    """
    if name not in METRICS:
        raise ValueError(
            f"Unsupported measurement {name!r}; supported: {sorted(METRICS)}")
    fn = METRICS[name]
    if name == "l_p":
        if p is None:
            raise ValueError("metric 'l_p' requires the p parameter")
        return (lambda a, b: l_p(a, b, p)), HIGHER_IS_CLOSER[name]
    return fn, HIGHER_IS_CLOSER[name]
