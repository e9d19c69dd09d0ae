"""Metric library: known-answer fixtures, FAISS-convention properties,
and numpy cross-checks (SURVEY.md §5.2-5.3)."""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from faisssearcher_spark.functions import metrics as M


def _pairs_df(spark, a, b):
    return spark.createDataFrame(
        [([float(x) for x in a], [float(y) for y in b])],
        "a array<double>, b array<double>")


def _eval(spark, a, b, expr_fn):
    df = _pairs_df(spark, a, b)
    return df.select(expr_fn(F.col("a"), F.col("b")).alias("v")).first()["v"]


ORTHO = ([1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0])


class TestKnownAnswers:
    def test_cosine_identity(self, spark):
        assert _eval(spark, [1, 2, 3], [1, 2, 3], M.cosine) == pytest.approx(1.0)

    def test_cosine_orthogonal(self, spark):
        assert _eval(spark, *ORTHO, M.cosine) == pytest.approx(0.0)

    def test_cosine_opposite(self, spark):
        assert _eval(spark, [1, 0], [-1, 0], M.cosine) == pytest.approx(-1.0)

    def test_cosine_zero_norm_is_null(self, spark):
        # documented deviation: NULL instead of the reference's NaN
        assert _eval(spark, [0, 0], [1, 0], M.cosine) is None

    def test_l2_is_squared(self, spark):
        # FAISS METRIC_L2 convention: squared distance (SURVEY.md §2.3 M2)
        assert _eval(spark, [0, 0], [3, 4], M.l2_squared) == pytest.approx(25.0)
        assert _eval(spark, [0, 0], [3, 4], M.l2_distance) == pytest.approx(5.0)

    def test_l1(self, spark):
        assert _eval(spark, [1, 2], [4, -2], M.l1) == pytest.approx(7.0)

    def test_linf(self, spark):
        assert _eval(spark, [1, 2], [4, -2], M.l_inf) == pytest.approx(4.0)

    def test_lp_no_root_by_default(self, spark):
        # FAISS reports sum(|x-y|^p) without the 1/p root
        v = _eval(spark, [0, 0], [1, 2], lambda a, b: M.l_p(a, b, 3.0))
        assert v == pytest.approx(9.0)
        v = _eval(spark, [0, 0], [1, 2], lambda a, b: M.l_p(a, b, 3.0, root=True))
        assert v == pytest.approx(9.0 ** (1 / 3))

    def test_bray_curtis(self, spark):
        assert _eval(spark, [1, 2], [3, 4], M.bray_curtis) == pytest.approx(4 / 10)

    def test_canberra_zero_terms(self, spark):
        # 0/0 dims contribute 0
        assert _eval(spark, [0, 1], [0, 3], M.canberra) == pytest.approx(0.5)

    def test_jensen_shannon_identical_is_zero(self, spark):
        assert _eval(spark, [0.5, 0.5], [0.5, 0.5], M.jensen_shannon) \
            == pytest.approx(0.0)

    def test_jensen_shannon_disjoint(self, spark):
        # disjoint distributions: JS = ln(2) per unit mass (0*ln0 == 0)
        v = _eval(spark, [1.0, 0.0], [0.0, 1.0], M.jensen_shannon)
        assert v == pytest.approx(math.log(2.0))

    def test_inner_product_raw(self, spark):
        assert _eval(spark, [1, 2, 3], [4, 5, 6], M.inner_product) \
            == pytest.approx(32.0)


class TestProperties:
    """Symmetry / identity / scale-invariance over random vectors."""

    @pytest.fixture(scope="class")
    def rand_pairs(self, spark):
        rng = np.random.default_rng(7)
        rows = [([float(x) for x in rng.standard_normal(16)],
                 [float(y) for y in rng.standard_normal(16)])
                for _ in range(25)]
        return spark.createDataFrame(rows, "a array<double>, b array<double>")

    @pytest.mark.parametrize("fn", [M.cosine, M.l2_squared, M.l1, M.l_inf,
                                    M.bray_curtis, M.canberra])
    def test_symmetry(self, rand_pairs, fn):
        rows = rand_pairs.select(fn(F.col("a"), F.col("b")).alias("ab"),
                                 fn(F.col("b"), F.col("a")).alias("ba")).collect()
        for r in rows:
            assert r["ab"] == pytest.approx(r["ba"], abs=1e-12)

    @pytest.mark.parametrize("fn", [M.l2_squared, M.l1, M.l_inf, M.canberra])
    def test_identity_zero(self, rand_pairs, fn):
        rows = rand_pairs.select(fn(F.col("a"), F.col("a")).alias("aa")).collect()
        for r in rows:
            assert r["aa"] == pytest.approx(0.0, abs=1e-12)

    def test_cosine_scale_invariance(self, rand_pairs):
        scaled = F.transform(F.col("a"), lambda x: x * 7.5)
        rows = rand_pairs.select(
            M.cosine(F.col("a"), F.col("b")).alias("c1"),
            M.cosine(scaled, F.col("b")).alias("c2")).collect()
        for r in rows:
            assert r["c1"] == pytest.approx(r["c2"], abs=1e-12)

    def test_numpy_crosscheck(self, spark):
        rng = np.random.default_rng(11)
        a, b = rng.standard_normal(32), rng.standard_normal(32)
        assert _eval(spark, a, b, M.cosine) == pytest.approx(
            float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b))), rel=1e-9)
        assert _eval(spark, a, b, M.l2_squared) == pytest.approx(
            float(((a - b) ** 2).sum()), rel=1e-9)
        assert _eval(spark, a, b, M.l1) == pytest.approx(
            float(np.abs(a - b).sum()), rel=1e-9)
        assert _eval(spark, a, b, M.l_inf) == pytest.approx(
            float(np.abs(a - b).max()), rel=1e-9)


class TestExtremeValues:
    """Numerics agreement with numpy float64 on adversarial magnitudes —
    the engine promises float64 accumulation everywhere, so Spark must
    track numpy bit-for-bit-ish (rel 1e-12) or agree on the non-finite."""

    CASES = [
        ("large", [1e150, -1e150, 1e150], [-1e150, 1e150, 1e150]),
        ("tiny", [1e-300, 5e-300, -1e-300], [2e-300, -1e-300, 1e-300]),
        ("mixed_mag", [1e10, 1e-10, -1.0], [-1e-10, 1e10, 1.0]),
        ("neg_zero", [-0.0, 0.0, 1.0], [0.0, -0.0, 1.0]),
    ]

    @pytest.mark.parametrize("name,a,b", CASES)
    def test_matches_numpy(self, spark, name, a, b):
        na, nb = np.array(a), np.array(b)
        want = {
            "l1": float(np.abs(na - nb).sum()),
            "linf": float(np.abs(na - nb).max()),
            "ip": float(na @ nb),
        }
        got = spark.createDataFrame([(a, b)], "a array<double>, b array<double>") \
            .select(M.l1(F.col("a"), F.col("b")).alias("l1"),
                    M.l_inf(F.col("a"), F.col("b")).alias("linf"),
                    M.inner_product(F.col("a"), F.col("b")).alias("ip")) \
            .first()
        for k, w in want.items():
            g = got[k]
            if np.isfinite(w):
                assert g == pytest.approx(w, rel=1e-12, abs=1e-300), (name, k)
            else:
                assert not np.isfinite(g), (name, k)

    def test_l2_overflow_agrees_with_numpy(self, spark):
        # (2e200)^2 overflows float64 → both engines must say +inf
        a, b = [1e200, 0.0], [-1e200, 0.0]
        na, nb = np.array(a), np.array(b)
        with np.errstate(over="ignore"):   # the overflow is the point
            want = float(((na - nb) ** 2).sum())
        got = spark.createDataFrame([(a, b)], "a array<double>, b array<double>") \
            .select(M.l2_squared(F.col("a"), F.col("b")).alias("d")).first()["d"]
        assert np.isinf(want) and np.isinf(got)


class TestRegistry:
    def test_unknown_metric_raises_listing_supported(self):
        with pytest.raises(ValueError, match="Unsupported measurement"):
            M.resolve_metric("euclidean")

    def test_ordering_directions(self):
        # FAISS: inner-product family descends, distances ascend
        assert M.resolve_metric("cos")[1] is True
        assert M.resolve_metric("ip")[1] is True
        for name in ("l2", "l1", "l_inf", "brayCurtis", "canberra",
                     "jensen_shannon"):
            assert M.resolve_metric(name)[1] is False

    def test_lp_requires_p(self):
        with pytest.raises(ValueError, match="requires the p parameter"):
            M.resolve_metric("l_p")
