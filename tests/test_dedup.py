"""Dedup suite: planted-duplicate recovery, LSH candidate soundness,
hash determinism vs Python reference implementations."""

import hashlib

import pytest
from pyspark.sql import functions as F

from faisssearcher_spark.operators import dedup, knn


@pytest.fixture(scope="module")
def docs_with_dups(spark):
    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    near = base.replace("today", "tonight")  # 1-token diff
    other = "completely different text about spark query engines and columnar io"
    rows = [(0, base), (1, base), (2, near), (3, other),
            (4, "singleton text unlike anything else entirely")]
    return spark.createDataFrame(rows, "doc_id long, text string")


class TestExact:
    def test_keeps_min_id_survivor(self, docs_with_dups):
        out = dedup.dedup_exact(docs_with_dups, ["text"], tie_col="doc_id")
        ids = sorted(r["doc_id"] for r in out.collect())
        assert ids == [0, 2, 3, 4]  # doc 1 (dup of 0) removed

    def test_no_tie_col_still_one_per_key(self, docs_with_dups):
        out = dedup.dedup_exact(docs_with_dups, ["text"])
        assert out.count() == 4


class TestNgramJaccard:
    def test_finds_planted_near_dups(self, docs_with_dups):
        out = dedup.ngram_jaccard_join(docs_with_dups, n=3, threshold=0.5)
        pairs = {(r["id_a"], r["id_b"]) for r in out.collect()}
        assert (0, 1) in pairs          # exact dup: jaccard 1.0
        assert (0, 2) in pairs          # near dup
        assert not any(3 in p or 4 in p for p in pairs)

    def test_exact_dup_jaccard_is_one(self, docs_with_dups):
        out = dedup.ngram_jaccard_join(docs_with_dups, n=3, threshold=0.99)
        row = {(r["id_a"], r["id_b"]): r["jaccard"] for r in out.collect()}
        assert row[(0, 1)] == pytest.approx(1.0)


class TestMinHash:
    def test_lsh_finds_planted_dups(self, docs_with_dups):
        out = dedup.minhash_lsh_join(docs_with_dups, num_hashes=16, bands=4,
                                     shingle_n=3, verify_threshold=0.5)
        pairs = {(r["id_a"], r["id_b"]) for r in out.collect()}
        assert (0, 1) in pairs

    def test_identical_docs_identical_signature(self, docs_with_dups):
        sigs = dedup.minhash_signatures(docs_with_dups, num_hashes=8).collect()
        by_id = {r["id"]: r["signature"] for r in sigs}
        assert by_id[0] == by_id[1]
        assert by_id[0] != by_id[3]

    def test_signature_matches_python_reference(self, spark):
        # independent Python recomputation of the per-slot salted-md5
        # min-hash definition (round 6: the affine construction was
        # order-biased — see dedup.minhash_slot_salt)
        text = "alpha beta gamma delta"
        df = spark.createDataFrame([(0, text)], "doc_id long, text string")
        sig = dedup.minhash_signatures(df, num_hashes=4).first()["signature"]
        toks = list(dict.fromkeys(text.split()))
        for i in range(4):
            salt = dedup.minhash_slot_salt(i)
            lo = dedup.minhash_slot_start(i) - 1
            expect = min(
                int(hashlib.md5((salt + t).encode())
                    .hexdigest()[lo:lo + 8], 16)
                for t in toks)
            assert sig[i] == expect

    def test_slot_agreement_tracks_jaccard(self, spark):
        """The round-6 regression pin for the order-bias bug: a pair
        with true Jaccard ≈ 0.84 must show slot agreement within the
        binomial band (the affine construction measured 5/16 here —
        a >5σ deficit — because most 'permutations' preserved the
        base-hash order and all picked the same argmin shingle)."""
        base = ("the quick brown fox jumps over the lazy dog near the "
                "river bank at dawn while birds sing softly and the cold "
                "morning mist drifts slowly across the quiet water meadow "
                "toward the old stone bridge")
        near = base.replace("dawn", "dusk")
        df = spark.createDataFrame([(0, base), (1, near)],
                                   "doc_id long, text string")
        sigs = {r["id"]: r["signature"]
                for r in dedup.minhash_signatures(
                    df, num_hashes=32, shingle_n=3).collect()}
        agree = sum(a == b for a, b in zip(sigs[0], sigs[1])) / 32
        assert agree >= 0.6     # J≈0.84, σ≈0.065 → 0.6 is a ~3.7σ floor

    def test_bands_must_divide(self, docs_with_dups):
        with pytest.raises(ValueError, match="divide"):
            dedup.minhash_lsh_join(docs_with_dups, num_hashes=16, bands=5)


class TestSimHash:
    def test_identical_docs_same_fingerprint(self, docs_with_dups):
        fps = {r["id"]: r["simhash"] for r in dedup.simhash(docs_with_dups).collect()}
        assert fps[0] == fps[1]
        assert 0 <= fps[0] < (1 << 32)

    def test_near_dup_small_hamming(self, spark, docs_with_dups):
        fps = {r["id"]: r["simhash"] for r in dedup.simhash(docs_with_dups).collect()}
        ham = bin(fps[0] ^ fps[2]).count("1")
        ham_far = bin(fps[0] ^ fps[3]).count("1")
        assert ham < ham_far

    def test_pairs_finds_exact_dup(self, docs_with_dups):
        out = dedup.simhash_pairs(docs_with_dups, max_hamming=3)
        pairs = {(r["id_a"], r["id_b"]) for r in out.collect()}
        assert (0, 1) in pairs

    def test_pigeonhole_guard(self, docs_with_dups):
        # max_hamming+1 bands must all be non-empty: 33 bands > 32 bits
        with pytest.raises(ValueError, match="pigeonhole"):
            dedup.simhash_pairs(docs_with_dups, bits=32, max_hamming=32)

    def test_wide_hamming_budget_now_allowed(self, docs_with_dups):
        # bits=32 / max_hamming=4 → 5 bands of 7/6 bits (was a hard
        # error under the old fixed-8-bit banding, which needed
        # max_hamming < bits/8); the exact dup must still surface
        out = dedup.simhash_pairs(docs_with_dups, bits=32, max_hamming=4)
        pairs = {(r["id_a"], r["id_b"]) for r in out.collect()}
        assert (0, 1) in pairs


class TestHammingPairs:
    """The shared banded-hamming kernel (dedup.hamming_pairs) that backs
    both simhash_pairs and multimodal.image_near_dup_pairs."""

    def _fps(self, spark, vals):
        return spark.createDataFrame(
            [(i, v) for i, v in enumerate(vals)], "id long, fp long")

    def test_exact_hamming_on_known_ints(self, spark):
        # 0b0 vs 0b111 -> hamming 3; 0b0 vs 1<<20 -> hamming 1
        out = dedup.hamming_pairs(
            self._fps(spark, [0, 7, 1 << 20]), bits=32, max_hamming=3)
        got = {(r["id_a"], r["id_b"]): r["hamming"] for r in out.collect()}
        assert got[(0, 1)] == 3
        assert got[(0, 2)] == 1
        assert (1, 2) not in got  # hamming 4 > max 3

    def test_negative_fingerprints_band_correctly(self, spark):
        # signed 64-bit fps (top byte set): -1 vs -2 differ in 1 bit and
        # must be found via band equality on the HIGH bytes
        out = dedup.hamming_pairs(
            self._fps(spark, [-1, -2]), bits=64, max_hamming=2)
        rows = out.collect()
        assert len(rows) == 1 and rows[0]["hamming"] == 1

    def test_band_plan_is_maximal_width(self):
        # max_hamming+1 bands, as even as possible, low bands first —
        # the key-cardinality contract (r6 verdict #1): the 64-bit /
        # hamming≤3 config gets 4×16-bit bands (2^16 keys per band,
        # 256× the old fixed-byte plan)
        assert dedup.hamming_band_widths(64, 3) == [16, 16, 16, 16]
        assert dedup.hamming_band_widths(64, 4) == [13, 13, 13, 13, 12]
        # the 32-bit / hamming≤3 text config coincides with byte bands —
        # load-bearing: the dedup_simhash_pairs oracle re-derives these
        assert dedup.hamming_band_widths(32, 3) == [8, 8, 8, 8]
        assert dedup.hamming_band_widths(12, 1) == [6, 6]
        with pytest.raises(ValueError, match="pigeonhole"):
            dedup.hamming_band_widths(4, 4)

    def test_non_byte_aligned_bits(self, spark):
        # 12-bit fingerprints band as 2×6 bits; hamming-1 pair found,
        # hamming-2 pair excluded at max_hamming=1
        out = dedup.hamming_pairs(
            self._fps(spark, [0b000000000001, 0b000000000000,
                              0b110000000000]),
            bits=12, max_hamming=1)
        got = {(r["id_a"], r["id_b"]): r["hamming"] for r in out.collect()}
        assert got == {(0, 1): 1}

    def test_full_width_single_band_is_exact_equality(self, spark):
        # max_hamming=0 over 64 bits → one band = the fp itself (the
        # width-64 mask special case must not overflow a signed long)
        out = dedup.hamming_pairs(
            self._fps(spark, [-5, -5, 7]), bits=64, max_hamming=0)
        rows = out.collect()
        assert len(rows) == 1 and rows[0]["hamming"] == 0

    def test_bits_out_of_range(self, spark):
        with pytest.raises(ValueError, match=r"\[1, 64\]"):
            dedup.hamming_pairs(self._fps(spark, [0]), bits=65,
                                max_hamming=1)


class TestEmbeddingCosine:
    def test_near_identical_vectors_found(self, spark):
        rows = [(0, [1.0, 0.0, 0.0]), (1, [0.999, 0.01, 0.0]),
                (2, [0.0, 1.0, 0.0])]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        out = dedup.embedding_cosine_pairs(df, threshold=0.95)
        pairs = {(r["id_a"], r["id_b"]) for r in out.collect()}
        assert pairs == {(0, 1)}

    def test_auto_dispatch_small_runs_blocked(self, embeddings, monkeypatch):
        """auto → blocked below the cap: the plan carries the Arrow
        MapInPandas scoring kernel."""
        monkeypatch.setattr(knn, "_plan_size_bytes", lambda df: 1 << 20)
        out = dedup.embedding_cosine_pairs(embeddings, threshold=0.45,
                                           score_scale=4)
        assert "MapInPandas" in out._jdf.queryExecution() \
            .executedPlan().toString()

    def test_auto_dispatch_large_runs_lsh_no_collect(self, embeddings,
                                                     monkeypatch):
        """auto → lsh above the cap (and on unknown estimates): the
        default path never calls toPandas() on an above-cap corpus."""
        calls = []
        real = dedup.DataFrame.toPandas

        def spy(self):
            calls.append(1)
            return real(self)

        monkeypatch.setattr(dedup.DataFrame, "toPandas", spy)
        for est in (knn.ITEMS_MEMORY_CAP_BYTES + 1, None):
            monkeypatch.setattr(knn, "_plan_size_bytes",
                                lambda df, e=est: e)
            out = dedup.embedding_cosine_pairs(embeddings, threshold=0.45,
                                               score_scale=4)
            out.collect()
            assert not calls  # lsh path: corpus never driver-collected

    def test_auto_dispatch_both_directions_same_pairs(self, embeddings,
                                                      monkeypatch):
        """On a corpus whose every near-pair survives LSH banding, both
        dispatch directions agree with the exact catalyst reference."""
        exact = {(r["id_a"], r["id_b"]): r["cos_sim"]
                 for r in dedup.embedding_cosine_pairs(
                     embeddings, threshold=0.45, score_scale=4,
                     strategy="catalyst").collect()}
        for est in (1 << 20, knn.ITEMS_MEMORY_CAP_BYTES + 1):
            monkeypatch.setattr(knn, "_plan_size_bytes",
                                lambda df, e=est: e)
            got = {(r["id_a"], r["id_b"]): r["cos_sim"]
                   for r in dedup.embedding_cosine_pairs(
                       embeddings, threshold=0.45,
                       score_scale=4).collect()}
            assert set(got) <= set(exact)
            assert all(exact[k] == v for k, v in got.items())
            if est == 1 << 20:          # blocked leg is exact — equality
                assert got == exact

    def test_lsh_subset_of_exact_with_exact_scores(self, embeddings):
        """LSH pairs must be a subset of the exact pair set with identical
        scores (precision 1.0 — every candidate is exactly verified)."""
        exact = dedup.embedding_cosine_pairs(
            embeddings, threshold=0.45, score_scale=4, strategy="catalyst")
        lsh = dedup.embedding_cosine_pairs(
            embeddings, threshold=0.45, score_scale=4, strategy="lsh")
        e = {(r["id_a"], r["id_b"]): r["cos_sim"] for r in exact.collect()}
        l = {(r["id_a"], r["id_b"]): r["cos_sim"] for r in lsh.collect()}
        assert set(l) <= set(e)
        assert all(e[k] == v for k, v in l.items())

    def test_lsh_high_threshold_recall(self, spark):
        """At tight thresholds (the dedup regime) OR-amplification recovers
        essentially every pair: near-identical vector pairs must be found."""
        import numpy as np
        rng = np.random.default_rng(7)
        base = rng.standard_normal((40, 32))
        rows = []
        for i, v in enumerate(base):
            rows.append((2 * i, [float(x) for x in v]))
            rows.append((2 * i + 1,  # tiny perturbation → cos ≈ 0.999
                         [float(x) for x in v + rng.standard_normal(32) * 0.01]))
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        out = dedup.embedding_cosine_pairs(df, threshold=0.99, strategy="lsh",
                                           lsh_tables=8, lsh_bits=4)
        found = {(r["id_a"], r["id_b"]) for r in out.collect()}
        planted = {(2 * i, 2 * i + 1) for i in range(40)}
        assert len(found & planted) >= 39  # ≥97.5% of planted near-dups

    def test_lsh_random_hyperplanes_variant(self, embeddings):
        lsh = dedup.embedding_cosine_pairs(
            embeddings, threshold=0.45, score_scale=4, strategy="lsh",
            lsh_dim=64, lsh_tables=6, lsh_bits=3)
        exact = dedup.embedding_cosine_pairs(
            embeddings, threshold=0.45, score_scale=4, strategy="catalyst")
        assert {(r["id_a"], r["id_b"]) for r in lsh.collect()} \
            <= {(r["id_a"], r["id_b"]) for r in exact.collect()}

    def test_lsh_gemm_impl_matches_expr(self, embeddings):
        """The vectorized GEMM bucket path emits the same verified pairs
        as the SQL expression path (same hyperplanes; differences only
        possible within 1 ulp of a zero projection)."""
        kw = dict(threshold=0.45, score_scale=4, strategy="lsh")
        expr = dedup.embedding_cosine_pairs(embeddings, lsh_impl="expr", **kw)
        gemm = dedup.embedding_cosine_pairs(embeddings, lsh_impl="gemm", **kw)
        assert sorted(map(tuple, expr.collect())) \
            == sorted(map(tuple, gemm.collect()))

    def test_lsh_impl_auto_dispatch(self, embeddings):
        """auto stays on the oracle-parity expr path at the gate's work
        size (8·4·64 = 2048) and switches to the Arrow GEMM above the
        threshold (8·16·64 = 8192)."""
        small = dedup.embedding_cosine_pairs(
            embeddings, strategy="lsh", lsh_bits=4)
        big = dedup.embedding_cosine_pairs(
            embeddings, strategy="lsh", lsh_bits=16)
        assert "MapInPandas" not in small._jdf.queryExecution() \
            .executedPlan().toString()
        assert "MapInPandas" in big._jdf.queryExecution() \
            .executedPlan().toString()

    def test_lsh_impl_validates(self, embeddings):
        with pytest.raises(ValueError, match="lsh_impl"):
            dedup.embedding_cosine_pairs(embeddings, strategy="lsh",
                                         lsh_impl="vectorized")

    def test_lsh_axis_mode_validates_dim(self, spark):
        """r3 ADVICE: axis-aligned bits past the vector length were
        silently constant (element_at null). Now axis mode requires
        tables*bits <= dim up front."""
        rows = [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0])]
        df = spark.createDataFrame(rows,
                                   "vec_id long, embedding array<double>")
        with pytest.raises(ValueError, match="tables\\*bits"):
            dedup.embedding_cosine_pairs(df, strategy="lsh", lsh_tables=8,
                                         lsh_bits=4, lsh_planes="axis")
        # within bounds the axis mode still runs
        out = dedup.embedding_cosine_pairs(df, threshold=0.9,
                                           strategy="lsh", lsh_tables=1,
                                           lsh_bits=3, lsh_planes="axis")
        assert out.count() == 0

    def test_lsh_bad_planes_mode_raises(self, embeddings):
        with pytest.raises(ValueError, match="lsh_planes"):
            dedup.embedding_cosine_pairs(embeddings, strategy="lsh",
                                         lsh_planes="hexagonal")

    def test_lsh_infers_dim_on_default_random(self, spark):
        # no lsh_dim given: dimension probed from the data, random planes
        import numpy as np
        rng = np.random.default_rng(11)
        base = rng.standard_normal((20, 12))
        rows = [(i, [float(x) for x in v]) for i, v in enumerate(base)] + \
               [(100 + i, [float(x) for x in v * 1.001])
                for i, v in enumerate(base)]
        df = spark.createDataFrame(rows,
                                   "vec_id long, embedding array<double>")
        out = dedup.embedding_cosine_pairs(df, threshold=0.999,
                                           strategy="lsh")
        found = {(r["id_a"], r["id_b"]) for r in out.collect()}
        assert {(i, 100 + i) for i in range(20)} <= found

    def test_lsh_random_mode_validates_explicit_dim(self, spark):
        """r4 ADVICE: an lsh_dim that disagrees with the vector length
        null-padded zip_with, zeroed every bit, and collapsed ALL vectors
        into one bucket per table — silently quadratic. Now it raises."""
        rows = [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0])]
        df = spark.createDataFrame(rows,
                                   "vec_id long, embedding array<double>")
        with pytest.raises(ValueError, match="does not match"):
            dedup.embedding_cosine_pairs(df, strategy="lsh", lsh_dim=64,
                                         lsh_tables=2, lsh_bits=2)
        # matching explicit dim still runs
        out = dedup.embedding_cosine_pairs(df, threshold=0.9, strategy="lsh",
                                           lsh_dim=3, lsh_tables=2,
                                           lsh_bits=2)
        assert out.count() == 0

    def test_lsh_no_cartesian_no_broadcast_of_corpus(self, embeddings):
        from faisssearcher_spark.plans import inspect
        plan = inspect.executed_plan(dedup.embedding_cosine_pairs(
            embeddings, threshold=0.9, strategy="lsh"))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_lsh_bad_params_raise(self, embeddings):
        with pytest.raises(ValueError, match="lsh_tables"):
            dedup.embedding_cosine_pairs(embeddings, strategy="lsh",
                                         lsh_tables=0)


class TestPrefixFilter:
    """AllPairs/PPJoin prefix filtering must be result-identical to the
    plain inverted-index join (it only prunes candidates, never pairs)."""

    def test_equal_on_documents(self, documents):
        for t in (0.3, 0.6):
            a = dedup.ngram_jaccard_join(documents, n=3, threshold=t)
            b = dedup.ngram_jaccard_join(documents, n=3, threshold=t,
                                         prefix_filter=True)
            assert sorted(map(tuple, a.collect())) \
                == sorted(map(tuple, b.collect()))

    def test_boilerplate_shingle_prunes(self, spark):
        # every doc shares one boilerplate shingle but nothing else:
        # no pair reaches Jaccard 0.5, and the hot shingle ranks LAST in
        # the document-frequency order so it never joins in prefix mode
        docs = spark.createDataFrame(
            [(i, f"common header line unique{i} words{i} here{i} "
                 f"tail{i} extra{i}") for i in range(20)],
            "doc_id long, text string")
        out = dedup.ngram_jaccard_join(docs, n=3, threshold=0.5,
                                       prefix_filter=True)
        plain = dedup.ngram_jaccard_join(docs, n=3, threshold=0.5)
        assert out.count() == plain.count() == 0

    def test_near_dup_found_through_prefix(self, spark):
        base = ("alpha beta gamma delta epsilon zeta eta theta iota "
                "kappa lambda mu nu xi omicron pi rho sigma tau")
        docs = spark.createDataFrame(
            [(1, base), (2, base + " upsilon"), (3, "totally different "
              "words in this one that share nothing at all with others")],
            "doc_id long, text string")
        got = dedup.ngram_jaccard_join(docs, n=3, threshold=0.5,
                                       prefix_filter=True).collect()
        assert len(got) == 1 and (got[0]["id_a"], got[0]["id_b"]) == (1, 2)

    def test_empty_frame_all_strategies(self, spark):
        """Empty corpus → empty pair set on every strategy (blocked used
        to break on the kernel's 0-row matrix; lsh documents its
        dimension-inference requirement)."""
        emb = spark.createDataFrame([], "vec_id long, embedding array<double>")
        for strategy in ("blocked", "catalyst"):
            out = dedup.embedding_cosine_pairs(emb, threshold=0.5,
                                               strategy=strategy)
            assert out.count() == 0, strategy
            assert out.columns == ["id_a", "id_b", "cos_sim"]
        out = dedup.embedding_cosine_pairs(emb, threshold=0.5,
                                           strategy="lsh", lsh_dim=4)
        assert out.count() == 0
        with pytest.raises(ValueError, match="empty"):
            dedup.embedding_cosine_pairs(emb, threshold=0.5, strategy="lsh")


class TestContainmentJoin:
    """Asymmetric containment pairs (dedup.ngram_containment_join):
    subset duplication that Jaccard structurally misses."""

    @pytest.fixture(scope="class")
    def quoted(self, spark):
        quote = "alpha beta gamma delta epsilon zeta"
        host = quote + " " + " ".join(f"w{i} x{i} y{i}" for i in range(30))
        other = " ".join(f"q{i} r{i} s{i}" for i in range(12))
        return spark.createDataFrame(
            [(0, quote), (1, host), (2, other)],
            "doc_id long, text string")

    def test_quote_fully_contained(self, quoted):
        out = {(r["id_a"], r["id_b"]): r for r in
               dedup.ngram_containment_join(
                   quoted, n=3, threshold=0.9).collect()}
        assert (0, 1) in out
        r = out[(0, 1)]
        assert r["containment_a_in_b"] == pytest.approx(1.0)
        assert r["containment_b_in_a"] < 0.1
        assert r["jaccard"] < 0.1        # jaccard would have missed it
        assert (0, 2) not in out and (1, 2) not in out

    def test_agrees_with_jaccard_on_symmetric_dups(self, docs_with_dups):
        """For threshold-1 exact dups the containment pair set must
        include every jaccard-1 pair."""
        jac = {(r["id_a"], r["id_b"]) for r in dedup.ngram_jaccard_join(
            docs_with_dups, n=3, threshold=0.999).collect()}
        con = {(r["id_a"], r["id_b"]) for r in dedup.ngram_containment_join(
            docs_with_dups, n=3, threshold=0.999).collect()}
        assert jac <= con

    def test_no_broadcast_of_posting_list(self, quoted):
        from faisssearcher_spark.plans import inspect
        plan = inspect.executed_plan(
            dedup.ngram_containment_join(quoted, n=3))
        assert "ShuffledHashJoin" in plan
        assert "CartesianProduct" not in plan


class TestBoilerplate:
    """Per-group frequency-threshold boilerplate removal
    (dedup.boilerplate_spans / remove_boilerplate — the CCNet/
    RefinedWeb template-stripping shape)."""

    ROWS = [
        # srcA: "visit our cookie policy" heads 3 of 4 docs — template
        (0, "A", "visit our cookie policy real content zero here"),
        (1, "A", "visit our cookie policy more actual words one"),
        (2, "A", "visit our cookie policy totally different two"),
        (3, "A", "unique page with no shared template at all"),
        # srcB: the SAME phrase appears once — not boilerplate THERE
        (4, "B", "visit our cookie policy single occurrence in b"),
        (5, "B", "b second page shares nothing with the first"),
    ]

    def _df(self, spark):
        return spark.createDataFrame(
            self.ROWS, "doc_id long, source string, text string")

    def test_all_occurrences_removed_within_group_only(self, spark):
        from faisssearcher_spark.operators.dedup import (boilerplate_spans,
                                                         remove_boilerplate)

        marks = boilerplate_spans(self._df(spark), n=4, min_docs=2)
        by_doc = {r["doc_id"] for r in marks.collect()}
        # ALL three srcA occurrences mark (no keep-first); srcB's single
        # occurrence of the same phrase does not — the group boundary
        assert by_doc == {0, 1, 2}
        out = {r["doc_id"]: r for r in
               remove_boilerplate(self._df(spark), n=4,
                                  min_docs=2).collect()}
        for d in (0, 1, 2):
            assert not out[d]["text"].startswith("visit")
            assert out[d]["n_bp_tokens"] == 4
        for d in (3, 4, 5):
            assert out[d]["n_bp_tokens"] == 0
            assert out[d]["text"] == dict(
                (i, t) for i, _, t in self.ROWS)[d]

    def test_min_doc_frac_threshold(self, spark):
        from faisssearcher_spark.operators.dedup import boilerplate_spans

        df = self._df(spark)
        # 3 of 4 srcA docs carry the window: frac 0.75 keeps it
        # boilerplate at 0.75 but not above
        hit = boilerplate_spans(df, n=4, min_docs=2, min_doc_frac=0.75)
        assert hit.count() == 3
        miss = boilerplate_spans(df, n=4, min_docs=2, min_doc_frac=0.8)
        assert miss.count() == 0

    def test_differs_from_keep_first_span_dedup(self, spark):
        """remove_duplicate_spans keeps the FIRST occurrence (content
        dedup); remove_boilerplate strips every one (template removal) —
        the semantic split the two operators exist for."""
        from faisssearcher_spark.operators.dedup import (
            remove_boilerplate, remove_duplicate_spans)

        df = self._df(spark)
        keep_first = {r["doc_id"]: r["n_dup_tokens"] for r in
                      remove_duplicate_spans(df, n=4).collect()}
        strip_all = {r["doc_id"]: r["n_bp_tokens"] for r in
                     remove_boilerplate(df, n=4, min_docs=2).collect()}
        assert keep_first[0] == 0 and strip_all[0] == 4
        assert keep_first[1] == 4 and strip_all[1] == 4

    def test_validation(self, spark):
        import pytest as _pt

        from faisssearcher_spark.operators.dedup import boilerplate_spans

        df = self._df(spark)
        with _pt.raises(ValueError, match="min_docs"):
            boilerplate_spans(df, min_docs=1)
        with _pt.raises(ValueError, match="min_doc_frac"):
            boilerplate_spans(df, min_doc_frac=1.5)


class TestCanonicalSelection:
    """Cluster canonical policies (dedup.select_canonical /
    drop_near_duplicates — the RefinedWeb 'keep the longest' rule next
    to the legacy min-id convention)."""

    def _fixtures(self, spark):
        docs = spark.createDataFrame(
            [(0, "short", 0.9), (1, "much longer text here", 0.2),
             (2, "mid length", 0.5),
             (7, "singleton never in any cluster", 0.1)],
            "doc_id long, text string, q double")
        clusters = spark.createDataFrame(
            [(0, 0), (1, 0), (2, 0)], "id long, cluster_id long")
        return docs, clusters

    def test_policies(self, spark):
        from faisssearcher_spark.operators.dedup import select_canonical

        docs, clusters = self._fixtures(spark)
        pick = lambda **kw: select_canonical(  # noqa: E731
            docs, clusters, **kw).collect()[0]["canonical_id"]
        assert pick(policy="min_id") == 0
        assert pick(policy="longest") == 1
        assert pick(policy="best", score_col="q") == 0

    def test_longest_ties_break_to_min_id(self, spark):
        from faisssearcher_spark.operators.dedup import select_canonical

        docs = spark.createDataFrame(
            [(5, "aaaa"), (3, "bbbb"), (9, "cc")],
            "doc_id long, text string")
        clusters = spark.createDataFrame(
            [(5, 3), (3, 3), (9, 3)], "id long, cluster_id long")
        got = select_canonical(docs, clusters, policy="longest").collect()
        assert got[0]["canonical_id"] == 3

    def test_string_ids_survive(self, spark):
        """String doc ids must keep their natural type in the ordering
        struct — a cast('long') nulled them, making the dedup a silent
        no-op (review catch)."""
        from faisssearcher_spark.operators.dedup import (
            drop_near_duplicates, select_canonical)

        docs = spark.createDataFrame(
            [("a", "tiny"), ("b", "the much longer one")],
            "doc_id string, text string")
        clusters = spark.createDataFrame(
            [("a", "a"), ("b", "a")], "id string, cluster_id string")
        got = select_canonical(docs, clusters, policy="longest").collect()
        assert got[0]["canonical_id"] == "b"
        kept = drop_near_duplicates(docs, clusters, policy="longest")
        assert {r["doc_id"] for r in kept.collect()} == {"b"}

    def test_drop_keeps_canonical_and_singletons(self, spark):
        from faisssearcher_spark.operators.dedup import \
            drop_near_duplicates

        docs, clusters = self._fixtures(spark)
        kept = drop_near_duplicates(docs, clusters, policy="longest")
        assert {r["doc_id"] for r in kept.collect()} == {1, 7}

    def test_validation(self, spark):
        import pytest as _pt

        from faisssearcher_spark.operators.dedup import select_canonical

        docs, clusters = self._fixtures(spark)
        with _pt.raises(ValueError, match="policy"):
            select_canonical(docs, clusters, policy="nope")
        with _pt.raises(ValueError, match="score_col"):
            select_canonical(docs, clusters, policy="best")

    def test_best_never_picks_null_score(self, spark):
        """An unscored (NULL) member must LOSE — NULL struct fields
        sort first under min, which made NULL the canonical (review
        catch)."""
        from faisssearcher_spark.operators.dedup import select_canonical

        docs = spark.createDataFrame(
            [(1, "x", 0.9), (2, "y", None)],
            "doc_id long, text string, q double")
        clusters = spark.createDataFrame(
            [(1, 1), (2, 1)], "id long, cluster_id long")
        got = select_canonical(docs, clusters, policy="best",
                               score_col="q").collect()
        assert got[0]["canonical_id"] == 1


class TestHammingBandRowsEdges:
    def test_integer_fp_sign_bit_still_pairs(self, spark):
        """An IntegerType fingerprint with bit 31 set must not
        sign-extend through the long cast — that inflated XOR
        popcounts by 32 and silently dropped true pairs (review
        catch)."""
        from faisssearcher_spark.operators.dedup import hamming_pairs

        fps = spark.createDataFrame(
            [(0, -2147483648), (1, 0)], "id long, fp int")
        got = hamming_pairs(fps, bits=32, max_hamming=3).collect()
        assert [(r["id_a"], r["id_b"], r["hamming"]) for r in got] \
            == [(0, 1, 1)]

    def test_null_fps_never_pair_and_never_bucket(self, spark):
        """NULL fingerprints emit no band rows on either layout — on
        the folded path they previously collapsed onto one band_key
        per band, a permanent quadratic candidate bucket (review
        catch)."""
        from faisssearcher_spark.operators.dedup import (hamming_band_rows,
                                                         hamming_pairs)

        fps = spark.createDataFrame(
            [(0, None), (1, None), (2, 7)], "id long, fp long")
        assert hamming_pairs(fps, bits=64, max_hamming=3).count() == 0
        folded = hamming_band_rows(fps, bits=64, max_hamming=3,
                                   fold_key=True)
        assert {r["id"] for r in folded.collect()} == {2}


class TestBandDensityGuard:
    """r13 verdict #7: warn loudly when the corpus estimate outgrows
    the pigeonhole band width (n > RATIO·2^width ⇒ the candidate join
    is ~n²/2^width per band — effectively quadratic)."""

    def test_warns_when_estimate_exceeds_band_capacity(self, spark,
                                                       monkeypatch):
        import warnings

        from faisssearcher_spark.operators import dedup as D

        fps = spark.createDataFrame([(0, 1), (1, 2)], "id long, fp long")
        # bits=32, max_hamming=3 → four 8-bit bands; pretend 10M rows
        monkeypatch.setattr(D, "_estimate_rows", lambda df: 10_000_000)
        with warnings.catch_warnings(record=True) as w:
            warnings.simplefilter("always")
            D.hamming_pairs(fps, bits=32, max_hamming=3)
        msgs = [str(x.message) for x in w
                if issubclass(x.category, RuntimeWarning)]
        assert any("quadratic" in m and "Widen" in m for m in msgs)

    def test_silent_when_sized_or_unknown(self, spark, monkeypatch):
        import warnings

        from faisssearcher_spark.operators import dedup as D

        fps = spark.createDataFrame([(0, 1), (1, 2)], "id long, fp long")
        for est in (None, 100):   # no estimate / comfortably linear
            monkeypatch.setattr(D, "_estimate_rows", lambda df, e=est: e)
            with warnings.catch_warnings(record=True) as w:
                warnings.simplefilter("always")
                D.hamming_pairs(fps, bits=32, max_hamming=3)
            assert not [x for x in w
                        if issubclass(x.category, RuntimeWarning)]

    def test_results_unchanged_under_warning(self, spark, monkeypatch):
        from faisssearcher_spark.operators import dedup as D

        fps = spark.createDataFrame(
            [(0, 0b1010), (1, 0b1011), (2, 0b1010)], "id long, fp long")
        want = D.hamming_pairs(fps, bits=32, max_hamming=3).collect()
        monkeypatch.setattr(D, "_estimate_rows", lambda df: 1 << 30)
        import warnings
        with warnings.catch_warnings():
            warnings.simplefilter("ignore")
            got = D.hamming_pairs(fps, bits=32, max_hamming=3).collect()
        assert sorted(map(tuple, got)) == sorted(map(tuple, want))
