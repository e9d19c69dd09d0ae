"""Margin-based bitext mining (operators/bitext.py)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from faisssearcher_spark.operators.bitext import margin_scores, mine_bitext


def _corpora(embeddings):
    src = embeddings.filter((F.col("vec_id") % 2 == 0)
                            & (F.col("vec_id") < 80)) \
        .select(F.col("vec_id").alias("src_id"), "embedding")
    tgt = embeddings.filter((F.col("vec_id") % 2 == 1)
                            & (F.col("vec_id") < 80)) \
        .select(F.col("vec_id").alias("tgt_id"), "embedding")
    return src, tgt


def _ref_margins(src_rows, tgt_rows, k):
    """Brute-force numpy reference of the ratio-margin candidate set."""
    sids = [r["src_id"] for r in src_rows]
    tids = [r["tgt_id"] for r in tgt_rows]
    S = np.array([r["embedding"] for r in src_rows], dtype=np.float64)
    T = np.array([r["embedding"] for r in tgt_rows], dtype=np.float64)
    S /= np.linalg.norm(S, axis=1, keepdims=True)
    T /= np.linalg.norm(T, axis=1, keepdims=True)
    C = S @ T.T
    fwd_idx = np.argsort(-C, axis=1, kind="stable")[:, :k]
    bwd_idx = np.argsort(-C.T, axis=1, kind="stable")[:, :k]
    s_avg = {sids[i]: float(np.mean(C[i, fwd_idx[i]]))
             for i in range(len(sids))}
    t_avg = {tids[j]: float(np.mean(C.T[j, bwd_idx[j]]))
             for j in range(len(tids))}
    cand = set()
    for i in range(len(sids)):
        for j in fwd_idx[i]:
            cand.add((sids[i], tids[j]))
    for j in range(len(tids)):
        for i in bwd_idx[j]:
            cand.add((sids[i], tids[j]))
    out = {}
    for sid, tid in cand:
        c = float(C[sids.index(sid), tids.index(tid)])
        out[(sid, tid)] = c / ((s_avg[sid] + t_avg[tid]) / 2)
    return out


class TestMarginScores:
    def test_matches_numpy_reference(self, embeddings):
        src, tgt = _corpora(embeddings)
        got = {(r["src_id"], r["tgt_id"]): r["margin"]
               for r in margin_scores(src, tgt, k=4).collect()}
        want = _ref_margins(src.collect(), tgt.collect(), k=4)
        assert set(got) == set(want)
        for key, m in got.items():
            assert m == pytest.approx(want[key], abs=1e-9)

    def test_candidate_volume_bounded(self, embeddings):
        """Pairs ≤ k·(|src|+|tgt|) — the O(n·m) space is never formed."""
        src, tgt = _corpora(embeddings)
        n = margin_scores(src, tgt, k=3).count()
        assert n <= 3 * (src.count() + tgt.count())

    def test_k_validated(self, embeddings):
        src, tgt = _corpora(embeddings)
        with pytest.raises(ValueError, match="k"):
            margin_scores(src, tgt, k=0)


class TestMineBitext:
    def test_best_per_src_is_argmax(self, embeddings):
        src, tgt = _corpora(embeddings)
        all_scores = {}
        for r in margin_scores(src, tgt, k=4, score_scale=4).collect():
            all_scores.setdefault(r["src_id"], []).append(
                (r["margin"], -r["tgt_id"]))
        mined = mine_bitext(src, tgt, k=4, threshold=0.0,
                            best_per_src=True, score_scale=4).collect()
        assert len(mined) == src.count()
        for r in mined:
            best_m = max(all_scores[r["src_id"]])[0]
            assert r["margin"] == best_m

    def test_threshold_filters(self, embeddings):
        src, tgt = _corpora(embeddings)
        lo = mine_bitext(src, tgt, k=4, threshold=0.0,
                         best_per_src=False).count()
        hi = mine_bitext(src, tgt, k=4, threshold=1.2,
                         best_per_src=False)
        assert hi.count() < lo
        for r in hi.collect():
            assert r["margin"] >= 1.2

    def test_degenerate_neighborhood_margin_is_null(self, spark):
        """Anti-correlated corpora: every neighborhood average is -1, so
        the ratio denominator is negative — the margin must be NULL (not
        a sign-flipped score) and mining must drop the pair."""
        src = spark.createDataFrame(
            [(0, [1.0, 0.0])], "src_id long, embedding array<double>")
        tgt = spark.createDataFrame(
            [(1, [-1.0, 0.0])], "tgt_id long, embedding array<double>")
        rows = margin_scores(src, tgt, k=1).collect()
        assert len(rows) == 1 and rows[0]["margin"] is None
        assert mine_bitext(src, tgt, k=1, threshold=-100.0).count() == 0

    def test_avg_join_broadcast_is_size_dispatched(self, embeddings):
        """The neighborhood-average frames are corpus-proportional: the
        broadcast hint must vanish above the cap (r7 verdict #1 — an
        unconditional hint OOMs at CCMatrix corpus sizes) and the mined
        answer must not depend on the join strategy."""
        from faisssearcher_spark.plans.inspect import (
            broadcast_exchange_subtrees)

        src, tgt = _corpora(embeddings)
        # the catalyst knn plan: its cross-join row estimates are far past
        # autoBroadcastJoinThreshold, so a broadcast of the avg frame can
        # only come from the hint. (The GEMM kernels' mapInPandas output
        # is estimated at its true small size, and Catalyst may then
        # broadcast the avg frame by size, hint or not.)
        hinted = mine_bitext(src, tgt, k=4, threshold=0.0, score_scale=4,
                             strategy="catalyst")
        capped = mine_bitext(src, tgt, k=4, threshold=0.0, score_scale=4,
                             avg_broadcast_cap_bytes=0, strategy="catalyst")
        # the avg subtree aggregates sim_val — above the cap no broadcast
        # may carry it (knn's own broadcasts never touch that column)
        assert any("sim_val" in s
                   for s in broadcast_exchange_subtrees(hinted))
        assert not any("sim_val" in s
                       for s in broadcast_exchange_subtrees(capped))
        key = ["src_id", "tgt_id", "margin"]
        assert sorted(map(tuple, hinted.select(*key).collect())) == \
            sorted(map(tuple, capped.select(*key).collect()))

    def test_cap_none_means_uncapped(self, embeddings):
        """avg_broadcast_cap_bytes=None removes the cap (always
        broadcast — the pre-r8 reading); 0 never hints."""
        from faisssearcher_spark.plans.inspect import (
            broadcast_exchange_subtrees)

        src, tgt = _corpora(embeddings)
        unc = margin_scores(src, tgt, k=4,
                            avg_broadcast_cap_bytes=None)
        assert any("sim_val" in s
                   for s in broadcast_exchange_subtrees(unc))

    def test_planted_translation_pair_mines_first(self, spark,
                                                  embeddings):
        """A src vector that IS a tgt vector (the translated pair) must
        mine with a margin above every hub's — the criterion's point."""
        src, tgt = _corpora(embeddings)
        planted = tgt.filter(F.col("tgt_id") == 1).select(
            F.lit(99990).alias("src_id"), "embedding")
        out = {r["src_id"]: (r["tgt_id"], r["margin"])
               for r in mine_bitext(src.unionByName(planted), tgt, k=4,
                                    threshold=0.0).collect()}
        tid, m = out[99990]
        assert tid == 1
        assert m >= max(v[1] for k, v in out.items() if k != 99990)
