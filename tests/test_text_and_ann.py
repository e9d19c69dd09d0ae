"""Text analysis functions, ANN paths (SignLSH / IVF recall vs exact),
and the vector validation utilities."""

import pytest
from pyspark.sql import functions as F

from faisssearcher_spark.functions import text as T
from faisssearcher_spark.functions.vector import (validate_vectors, vector_dim)
from faisssearcher_spark.operators import ann
from faisssearcher_spark.operators.knn import knn_join


class TestTextFunctions:
    def test_tokens_drop_empties(self, spark):
        df = spark.createDataFrame([("  a  b   c ",), ("", )], "text string")
        out = df.select(T.token_count("text").alias("n")).collect()
        assert [r["n"] for r in out] == [3, 0]

    def test_word_ngrams(self, spark):
        df = spark.createDataFrame([("a b c d",)], "text string")
        out = df.select(T.word_ngrams("text", 3).alias("g")).first()["g"]
        assert out == ["a b c", "b c d"]

    def test_word_ngrams_short_doc_empty(self, spark):
        df = spark.createDataFrame([("a b",)], "text string")
        assert df.select(T.word_ngrams("text", 3).alias("g")).first()["g"] == []

    def test_langid_picks_stopword_majority(self, spark):
        df = spark.createDataFrame(
            [("the cat of the house and the dog",),
             ("el gato de la casa y el perro",),
             ("zzz qqq xxx",)], "text string")
        out = [r[0] for r in df.select(T.detect_language("text")).collect()]
        assert out == ["en", "es", "und"]

    def test_language_confidence_monotone_in_margin(self, spark):
        """Confidence grows strictly with the stopword-rate margin: the
        same 8-token doc with 1..5 English stopword hits (rest neutral)
        must score strictly increasing lang_conf."""
        filler = ["zzz"] * 8
        rows = []
        for hits in range(1, 6):
            toks = ["the"] * hits + filler[: 8 - hits]
            rows.append((hits, " ".join(toks)))
        df = spark.createDataFrame(rows, "hits int, text string")
        out = {r["hits"]: r["c"] for r in df.select(
            "hits", T.language_confidence("text").alias("c")).collect()}
        seq = [out[h] for h in range(1, 6)]
        assert all(b > a for a, b in zip(seq, seq[1:])), seq
        assert all(0.0 < c <= 1.0 for c in seq)

    def test_language_confidence_edges(self, spark):
        from faisssearcher_spark.functions.text import LANG_STOPWORDS
        k = len(LANG_STOPWORDS)
        df = spark.createDataFrame(
            [("zzz qqq xxx",),   # no stopword signal -> uniform 1/K
             (None,),            # NULL text -> same (no evidence)
             ("the of and to in is it that for a " * 3,)],  # pure en
            "text string")
        out = [r[0] for r in
               df.select(T.language_confidence("text")).collect()]
        assert out[0] == pytest.approx(1.0 / k)
        assert out[1] == pytest.approx(1.0 / k)
        assert out[2] > 0.99
        with pytest.raises(ValueError, match="temperature"):
            T.language_confidence("text", temperature=0.0)

    def test_detect_languages_operator_carries_confidence(self, spark):
        from faisssearcher_spark.operators.text_analysis import \
            detect_languages
        df = spark.createDataFrame(
            [(1, "the cat of the house and the dog"), (2, "zzz")],
            "doc_id long, text string")
        out = {r["doc_id"]: r for r in detect_languages(df).collect()}
        assert out[1]["lang_pred"] == "en" and out[1]["lang_conf"] > 0.5
        assert out[2]["lang_pred"] == "und"

    def test_fingerprint_order_insensitive(self, spark):
        df = spark.createDataFrame(
            [("alpha beta gamma",), ("gamma alpha beta",), ("alpha beta",)],
            "text string")
        fps = [r[0] for r in df.select(T.fingerprint("text")).collect()]
        assert fps[0] == fps[1] != fps[2]

    def test_rolling_hash_order_sensitive(self, spark):
        df = spark.createDataFrame(
            [("alpha beta",), ("beta alpha",)], "text string")
        hs = [r[0] for r in df.select(T.rolling_hash("text")).collect()]
        assert hs[0] != hs[1]

    def test_quality_score_range(self, documents):
        out = documents.select(T.quality_score("text").alias("q")).collect()
        assert all(0.0 <= r["q"] <= 1.0 for r in out)

    def test_repetition_signals(self, spark):
        from pyspark.sql import functions as F
        from faisssearcher_spark.operators.text_analysis import quality_scores
        rows = [
            (0, "menu\nhome\nmenu\nabout\nmenu"),     # 'menu' ×3 → 2 dups
            (1, "a b a b a b"),                       # 'a b' bigram ×3 of 5
            (2, "all words unique here now"),
            (3, ""),                                  # empty doc edge
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r["doc_id"]: r for r in quality_scores(df).collect()}
        assert got[0]["n_lines"] == 5 and got[0]["n_dup_lines"] == 2
        assert got[1]["n_bigrams"] == 5 and got[1]["top_bigram_count"] == 3
        assert got[2]["n_dup_lines"] == 0
        assert got[2]["top_bigram_count"] == 1
        assert got[3]["n_lines"] == 0 and got[3]["n_bigrams"] == 0
        assert got[3]["top_bigram_count"] == 0

    def test_gopher_repetition_signals(self, spark):
        from faisssearcher_spark.operators.text_analysis import (
            repetition_signals)
        rows = [
            # 13 tokens (12×1 char + 'xyz'): dup line ×2 → 11 chars
            # beyond first; top2 'a b'×6 → 2·6; top3 tie ('a b a'/'b a b'
            # both ×5) → greatest gram, 3·5; dup-5-gram union covers the
            # 12 alternating tokens, never double-counting overlaps.
            (1, "a b a b a b\na b a b a b\nxyz"),
            (2, "one two three four five six seven"),   # nothing repeats
            (3, "p q r s t p q r s t extra"),   # 5-gram ×2, spans 0-4/5-9
            (4, ""),                                    # empty doc edge
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r["doc_id"]: r.asDict()
               for r in repetition_signals(df, top_ns=(2, 3),
                                           dup_ns=(5,)).collect()}
        assert got[1] == {"doc_id": 1, "total_token_chars": 15,
                          "total_line_chars": 25,
                          "dup_line_chars": 11, "top2_chars": 12,
                          "top3_chars": 15, "dup5_chars": 12}
        assert got[2] == {"doc_id": 2, "total_token_chars": 27,
                          "total_line_chars": 33,
                          "dup_line_chars": 0, "top2_chars": 0,
                          "top3_chars": 0, "dup5_chars": 0}
        assert got[3] == {"doc_id": 3, "total_token_chars": 15,
                          "total_line_chars": 25,
                          "dup_line_chars": 0, "top2_chars": 4,
                          "top3_chars": 6, "dup5_chars": 10}
        assert got[4] == {"doc_id": 4, "total_token_chars": 0,
                          "total_line_chars": 0,
                          "dup_line_chars": 0, "top2_chars": 0,
                          "top3_chars": 0, "dup5_chars": 0}

    def test_repetition_random_docs_match_python_reference(self, spark):
        """30 seeded random docs (skewed small vocab so repeats actually
        occur) checked column-by-column against an independent pure-
        python computation of every signal."""
        import random

        def py_signals(text, top_ns, dup_ns):
            toks = [t for t in text.split() if t]
            lines = [ln.strip() for ln in text.split("\n") if ln.strip()]
            out = {"total_token_chars": sum(map(len, toks)),
                   "total_line_chars": sum(map(len, lines))}
            from collections import Counter
            lc = Counter(lines)
            out["dup_line_chars"] = sum(
                len(l) * (c - 1) for l, c in lc.items() if c >= 2)
            for n in top_ns:
                grams = [" ".join(toks[i:i + n])
                         for i in range(len(toks) - n + 1)]
                gc = Counter(grams)
                if gc:
                    # ties toward the lexicographically greatest gram
                    best = max(gc.items(), key=lambda kv: (kv[1], kv[0]))
                    out[f"top{n}_chars"] = (
                        (len(best[0]) - (n - 1)) * best[1]
                        if best[1] >= 2 else 0)
                else:
                    out[f"top{n}_chars"] = 0
            for n in dup_ns:
                grams = [" ".join(toks[i:i + n])
                         for i in range(len(toks) - n + 1)]
                gc = Counter(grams)
                covered = set()
                for i, g in enumerate(grams):
                    if gc[g] >= 2:
                        covered.update(range(i, i + n))
                out[f"dup{n}_chars"] = sum(len(toks[i]) for i in covered)
            return out

        rng = random.Random(1234)
        vocab = ["aa", "bee", "c", "dddd", "ee", "fff"]
        rows = []
        for i in range(30):
            n_lines = rng.randint(1, 4)
            text = "\n".join(
                " ".join(rng.choice(vocab)
                         for _ in range(rng.randint(0, 12)))
                for _ in range(n_lines))
            rows.append((i, text))
        df = spark.createDataFrame(rows, "doc_id long, text string")
        from faisssearcher_spark.operators.text_analysis import (
            repetition_signals)
        got = {r["doc_id"]: r.asDict()
               for r in repetition_signals(df, top_ns=(2, 3),
                                           dup_ns=(3, 5)).collect()}
        for i, text in rows:
            want = py_signals(text, (2, 3), (3, 5))
            have = {k: v for k, v in got[i].items() if k != "doc_id"}
            assert have == want, (i, text, have, want)

    def test_repetition_null_text_and_empty_top_ns(self, spark):
        from faisssearcher_spark.operators.text_analysis import (
            repetition_signals)
        df = spark.createDataFrame([(1, None), (2, "x y x y x y")],
                                   "doc_id long, text string")
        got = {r["doc_id"]: r.asDict()
               for r in repetition_signals(df, top_ns=(2,),
                                           dup_ns=(3,)).collect()}
        # NULL text zero-fills everywhere (the oracle coalesces to 0)
        assert got[1] == {"doc_id": 1, "total_token_chars": 0,
                          "total_line_chars": 0,
                          "dup_line_chars": 0, "top2_chars": 0,
                          "dup3_chars": 0}
        assert got[2]["top2_chars"] == 6     # 'x y' ×3 → (len 3 − 1)·3
        # top_ns=() produces only the non-top columns instead of crashing
        cols = repetition_signals(df, top_ns=(), dup_ns=(3,)).columns
        assert cols == ["doc_id", "total_token_chars", "total_line_chars",
                        "dup_line_chars", "dup3_chars"]


class TestVectorValidation:
    def test_vector_dim(self, embeddings):
        assert vector_dim(embeddings, "embedding") == 64

    def test_validate_ok(self, embeddings):
        assert validate_vectors(embeddings, "embedding") == 64

    def test_ragged_raises(self, spark):
        df = spark.createDataFrame(
            [([1.0, 2.0],), ([1.0],)], "embedding array<double>")
        with pytest.raises(ValueError, match="ragged"):
            validate_vectors(df, "embedding")

    def test_wrong_dim_raises(self, embeddings):
        with pytest.raises(ValueError, match="expected dim"):
            validate_vectors(embeddings, "embedding", dim=8)

    def test_non_array_raises(self, documents):
        with pytest.raises(TypeError, match="array"):
            vector_dim(documents, "text")


def _recall(approx, exact):
    a = {(r["source_item"], r["sim_item"]) for r in approx.collect()}
    e = {(r["source_item"], r["sim_item"]) for r in exact.collect()}
    return len(a & e) / len(e)


class TestANN:
    @pytest.fixture(scope="class")
    def queries(self, embeddings):
        return embeddings.filter(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("qid"), "embedding")

    @pytest.fixture(scope="class")
    def exact10(self, queries, embeddings):
        return knn_join(queries, embeddings, metric="cos", k=10,
                        query_item_col="qid", item_key_col="vec_id",
                        payload_cols=[]).cache()

    def test_signlsh_self_always_found(self, queries, embeddings):
        lsh = ann.SignLSH(dim=64, num_bits=8, use_leading_dims=True)
        res = lsh.topk(queries, embeddings, k=3, query_item_col="qid",
                       item_key_col="vec_id").collect()
        rank0 = {r["source_item"]: r["sim_item"] for r in res
                 if r["rank_no"] == 0}
        # a query is always in its own bucket → finds itself at rank 0
        assert all(src == item for src, item in rank0.items())

    def test_signlsh_hyperplanes_deterministic(self, queries, embeddings):
        lsh1 = ann.SignLSH(dim=64, num_bits=6, seed=7)
        lsh2 = ann.SignLSH(dim=64, num_bits=6, seed=7)
        r1 = lsh1.topk(queries, embeddings, k=2, query_item_col="qid",
                       item_key_col="vec_id").collect()
        r2 = lsh2.topk(queries, embeddings, k=2, query_item_col="qid",
                       item_key_col="vec_id").collect()
        assert sorted(map(tuple, r1)) == sorted(map(tuple, r2))

    def test_signlsh_multiprobe_candidate_semantics(self, queries,
                                                    embeddings):
        """multiprobe_bits=b widens the candidate set to the query's
        bucket plus its b hamming-1 neighbors over the LOW bits —
        verified against a brute-force bucket-membership filter."""
        bits, b = 8, 3
        lsh = ann.SignLSH(dim=64, num_bits=bits, use_leading_dims=True)
        got = lsh.topk(queries, embeddings, k=50, query_item_col="qid",
                       item_key_col="vec_id",
                       multiprobe_bits=b).collect()
        by_q = {}
        for r in got:
            by_q.setdefault(r["source_item"], set()).add(r["sim_item"])

        import numpy as np
        emb = {r["vec_id"]: np.array(r["embedding"])
               for r in embeddings.collect()}

        def bucket(v):
            return sum(1 << j for j in range(bits) if v[j] >= 0)

        for qid, found in by_q.items():
            qb = bucket(emb[qid])
            probes = {qb} | {qb ^ (1 << j) for j in range(b)}
            expected = {i for i, v in emb.items() if bucket(v) in probes}
            # k=50 >> bucket sizes at sf0.001, so found == full candidates
            assert found == expected, qid

    def test_signlsh_multiprobe_recall_monotone(self, queries, embeddings,
                                                exact10):
        """Recall@10 vs exact must be non-decreasing in multiprobe_bits
        (each probe only ADDS candidates; ranking is exact cosine)."""
        lsh = ann.SignLSH(dim=64, num_bits=8, use_leading_dims=True)
        recalls = []
        for b in (0, 2, 4):
            approx = lsh.topk(queries, embeddings, k=10,
                              query_item_col="qid", item_key_col="vec_id",
                              multiprobe_bits=b)
            recalls.append(_recall(approx, exact10))
        assert recalls == sorted(recalls), recalls
        assert recalls[-1] > recalls[0] or recalls[0] == 1.0

    def test_ivf_recall_vs_exact(self, queries, embeddings, exact10):
        index = ann.IVFIndex(n_cells=8, nprobe=4, metric="cos").fit(
            embeddings, item_key_col="vec_id", item_vec_col="embedding")
        approx = index.search(queries, k=10, query_item_col="qid")
        # nprobe=half the cells → recall should be high (≥0.9 per BASELINE.md)
        assert _recall(approx, exact10) >= 0.9

    def test_ivf_recall_monotone_in_nprobe(self, queries, embeddings,
                                           exact10):
        """Recall@10 must be non-decreasing in nprobe and reach 1.0 at
        nprobe=n_cells (full probe = exact) — the invariant that catches
        spherical-assignment regressions (r4 verdict #8): a broken
        assignment shows up as a recall curve that flattens or dips."""
        index = ann.IVFIndex(n_cells=8, nprobe=1, metric="cos").fit(
            embeddings, item_key_col="vec_id", item_vec_col="embedding")
        recalls = []
        for nprobe in (1, 2, 4, 8):
            index.nprobe = nprobe
            approx = index.search(queries, k=10, query_item_col="qid")
            recalls.append(_recall(approx, exact10))
        assert recalls == sorted(recalls), recalls
        assert recalls[-1] == 1.0
        assert recalls[0] > 0.0  # even 1 probe finds the self-cell matches

    def test_ivf_range_search_full_probe_exact_and_partial_subset(
            self, queries, embeddings):
        """Full probe (nprobe = n_cells) range_search equals brute-force
        radius membership; a partial probe returns a SUBSET of it (the
        FAISS IVF approximation contract) that still contains every
        self-match."""
        import numpy as np

        index = ann.IVFIndex(n_cells=8, nprobe=8, metric="cos").fit(
            embeddings, item_key_col="vec_id", item_vec_col="embedding")
        full = index.range_search(queries, radius=0.3,
                                  query_item_col="qid")
        assert full.columns == ["source_item", "sim_item", "sim_val"]
        full_pairs = {(r["source_item"], r["sim_item"])
                      for r in full.collect()}
        mat = np.array([r["embedding"] for r in embeddings.collect()])
        ids = [r["vec_id"] for r in embeddings.collect()]
        mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
        want = set()
        for qi in range(10):
            sims = mat @ mat[ids.index(qi)]
            want |= {(qi, ids[j]) for j in np.flatnonzero(sims > 0.3)}
        assert full_pairs == want

        index.nprobe = 2
        part_pairs = {(r["source_item"], r["sim_item"])
                      for r in index.range_search(
                          queries, radius=0.3,
                          query_item_col="qid").collect()}
        assert part_pairs <= full_pairs
        assert {(q, q) for q in range(10)} <= part_pairs  # self-cell hit

    def test_ivf_full_probe_is_exact(self, queries, embeddings, exact10):
        index = ann.IVFIndex(n_cells=4, nprobe=4, metric="cos").fit(
            embeddings, item_key_col="vec_id", item_vec_col="embedding")
        approx = index.search(queries, k=10, query_item_col="qid")
        assert _recall(approx, exact10) == 1.0

    def test_ivf_unfit_raises(self, queries):
        with pytest.raises(RuntimeError, match="fit"):
            ann.IVFIndex().search(queries)

    def test_ivf_plan_size_independent_of_n_cells(self, queries, embeddings):
        """VERDICT r2: cell assignment must not embed n_cells×dim centroid
        literals in the plan — plan size must not grow with n_cells."""
        plans = {}
        for n_cells in (4, 32):
            index = ann.IVFIndex(n_cells=n_cells, nprobe=2, metric="cos").fit(
                embeddings, item_key_col="vec_id", item_vec_col="embedding")
            res = index.search(queries, k=3, query_item_col="qid")
            plans[n_cells] = res._jdf.queryExecution().optimizedPlan().toString()
        # 8× the cells must not materially grow the plan text (the old
        # literal expression grew by ~n_cells×dim float literals)
        assert len(plans[32]) < len(plans[4]) + 500

    def test_ivf_save_load_roundtrip(self, spark, queries, embeddings,
                                     tmp_path_factory):
        path = str(tmp_path_factory.mktemp("ivf") / "index")
        index = ann.IVFIndex(n_cells=4, nprobe=2, metric="cos").fit(
            embeddings, item_key_col="vec_id", item_vec_col="embedding")
        before = index.search(queries, k=5, query_item_col="qid").collect()
        index.save(path)
        loaded = ann.IVFIndex.load(spark, path)
        after = loaded.search(queries, k=5, query_item_col="qid").collect()
        assert sorted(map(tuple, before)) == sorted(map(tuple, after))

    def test_ivf_save_unfit_raises(self, tmp_path_factory):
        with pytest.raises(RuntimeError, match="fit"):
            ann.IVFIndex().save(str(tmp_path_factory.mktemp("ivf2")))


class TestChunkDocuments:
    """Sliding token-window chunking: coverage, overlap, tail, edges."""

    def _chunk(self, spark, texts, **kw):
        from faisssearcher_spark.operators.text_analysis import chunk_documents
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
        out = chunk_documents(df, **kw).collect()
        by_doc = {}
        for r in out:
            by_doc.setdefault(r["doc_id"], []).append(
                (r["chunk_idx"], r["chunk_text"], r["n_chunk_tokens"]))
        for v in by_doc.values():
            v.sort()
        return by_doc

    def test_no_overlap_partition(self, spark):
        got = self._chunk(spark, ["a b c d e f g"], max_tokens=3)
        assert [c[1] for c in got[0]] == ["a b c", "d e f", "g"]
        assert [c[2] for c in got[0]] == [3, 3, 1]

    def test_overlap_windows(self, spark):
        got = self._chunk(spark, ["t1 t2 t3 t4 t5 t6 t7 t8 t9 t10"],
                          max_tokens=5, overlap=2)
        texts = [c[1] for c in got[0]]
        assert texts == ["t1 t2 t3 t4 t5", "t4 t5 t6 t7 t8", "t7 t8 t9 t10"]

    def test_every_token_covered(self, spark):
        toks = [f"w{i}" for i in range(23)]
        got = self._chunk(spark, [" ".join(toks)], max_tokens=4, overlap=1)
        covered = set()
        for _, text, _ in got[0]:
            covered.update(text.split())
        assert covered == set(toks)

    def test_short_and_empty_docs(self, spark):
        got = self._chunk(spark, ["only two", "", "   "], max_tokens=10)
        assert got.get(0) == [(0, "only two", 2)]
        assert 1 not in got and 2 not in got

    def test_bad_params_raise(self, spark):
        from faisssearcher_spark.operators.text_analysis import chunk_documents
        df = spark.createDataFrame([(0, "x")], "doc_id long, text string")
        with pytest.raises(ValueError, match="overlap"):
            chunk_documents(df, max_tokens=4, overlap=4)
        with pytest.raises(ValueError, match="max_tokens"):
            chunk_documents(df, max_tokens=0)

    def test_no_shuffle_in_plan(self, spark, documents):
        from faisssearcher_spark.operators.text_analysis import chunk_documents
        from faisssearcher_spark.plans import inspect
        plan = inspect.executed_plan(chunk_documents(documents, max_tokens=64))
        assert "Exchange" not in plan  # chunking explodes map-side


class TestIvfPayload:
    def test_ivf_search_payload_carry(self, embeddings):
        queries = embeddings.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("qid"), "embedding")
        index = ann.IVFIndex(n_cells=4, nprobe=4, metric="cos").fit(
            embeddings, item_key_col="vec_id", item_vec_col="embedding")
        res = index.search(queries, k=3, query_item_col="qid",
                           payload_cols=["label"]).collect()
        assert res
        want = {r["vec_id"]: r["label"]
                for r in embeddings.select("vec_id", "label").collect()}
        assert all(want[r["sim_item"]] == r["label"] for r in res)


class TestTokenFrequencyScore:
    @pytest.fixture(scope="class")
    def ref_corpus(self, spark):
        rows = [(1, "the cat sat"), (2, "the dog sat sat")]
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_fit_counts(self, ref_corpus):
        from faisssearcher_spark.operators.text_analysis import \
            fit_token_frequencies

        vocab = {r["token"]: (r["tf"], r["df"])
                 for r in fit_token_frequencies(ref_corpus).collect()}
        assert vocab == {"the": (2, 2), "cat": (1, 1), "sat": (3, 2),
                         "dog": (1, 1)}

    def test_score_exact_ints_and_oov(self, spark, ref_corpus):
        from faisssearcher_spark.operators.text_analysis import (
            fit_token_frequencies, token_frequency_score)

        vocab = fit_token_frequencies(ref_corpus)
        target = spark.createDataFrame(
            [(10, "the the zebra"),   # tf(the)=2 twice + 1 OOV
             (11, ""),                # empty doc -> zeros, still present
             (12, "sat")],            # tf(sat)=3
            "doc_id long, text string")
        out = {r["doc_id"]: (r["n_tokens"], r["sum_ref_tf"], r["n_oov"])
               for r in token_frequency_score(target, vocab).collect()}
        assert out[10] == (3, 4, 1)
        assert out[11] == (0, 0, 0)
        assert out[12] == (1, 3, 0)

    def test_scoring_own_corpus_has_no_oov(self, documents):
        from faisssearcher_spark.operators.text_analysis import (
            fit_token_frequencies, token_frequency_score)

        vocab = fit_token_frequencies(documents)
        scored = token_frequency_score(documents, vocab)
        assert scored.filter(F.col("n_oov") > 0).count() == 0
        assert scored.count() == documents.count()


def test_ivf_add_items_exhaustive_probe_is_exact(embeddings):
    """IVF add-after-train (FAISS index.add semantics — the quantizer is
    not retrained): with nprobe == n_cells the search is exhaustive, so
    results over base+added must equal the exact path on the full corpus,
    proving added rows landed in searchable cells."""
    from faisssearcher_spark.operators.ann import IVFIndex
    from faisssearcher_spark.operators.knn import knn_join

    base = embeddings.filter(F.col("vec_id") < 400)
    extra = embeddings.filter(F.col("vec_id") >= 400)
    idx = IVFIndex(n_cells=8, nprobe=8, metric="cos").fit(
        base, item_key_col="vec_id", item_vec_col="embedding")
    idx.add_items(extra)
    q = embeddings.filter(F.col("vec_id").isin(1, 450)).select(
        F.col("vec_id").alias("qid"), "embedding")
    approx = {(r["source_item"], r["sim_item"])
              for r in idx.search(q, k=10, query_item_col="qid").collect()}
    exact = {(r["source_item"], r["sim_item"])
             for r in knn_join(q, embeddings, metric="cos", k=10,
                               query_item_col="qid", item_key_col="vec_id",
                               payload_cols=[]).collect()}
    assert approx == exact


def test_ivf_sample_train_mode_exhaustive_is_exact(embeddings):
    """train_mode='sample' (seeded driver Lloyd, the FAISS coarse-
    quantizer discipline) must behave like any other centroid set:
    exhaustive probing equals the exact path, and fit validates
    emptiness / mode names."""
    import pytest as _pt

    from faisssearcher_spark.operators.ann import IVFIndex
    from faisssearcher_spark.operators.knn import knn_join

    idx = IVFIndex(n_cells=8, nprobe=8, metric="cos",
                   train_mode="sample").fit(
        embeddings, item_key_col="vec_id", item_vec_col="embedding")
    q = embeddings.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), "embedding")
    approx = {(r["source_item"], r["sim_item"])
              for r in idx.search(q, k=10, query_item_col="qid").collect()}
    exact = {(r["source_item"], r["sim_item"])
             for r in knn_join(q, embeddings, metric="cos", k=10,
                               query_item_col="qid", item_key_col="vec_id",
                               payload_cols=[]).collect()}
    assert approx == exact
    with _pt.raises(ValueError):
        IVFIndex(train_mode="bogus")
    with _pt.raises(ValueError):
        IVFIndex(train_mode="sample").fit(
            embeddings.filter(F.col("vec_id") < 0),
            item_key_col="vec_id", item_vec_col="embedding")


class TestC4Signals:
    PAGE = ('Good first line with six words here.\n'
            'short line\n'
            'This line uses the word javascript somewhere inside it.\n'
            'Another perfectly fine sentence ends with a question mark?\n'
            '   \n'
            'Trailing line without terminal punctuation at all')

    def _sig(self, spark, text):
        from faisssearcher_spark.operators.text_analysis import c4_signals

        df = spark.createDataFrame([(1, text)], "doc_id long, text string")
        return c4_signals(df).collect()[0]

    def test_line_rules(self, spark):
        """Terminal punctuation + >=5 words + no 'javascript' — only
        lines 1 and 4 of the fixture survive; the blank line never
        counts toward n_lines."""
        r = self._sig(spark, self.PAGE)
        assert r["n_lines"] == 5 and r["n_kept_lines"] == 2
        assert r["clean_text"].splitlines() == [
            "Good first line with six words here.",
            "Another perfectly fine sentence ends with a question mark?"]
        assert r["n_sentences"] == 2
        assert not r["has_lorem"] and not r["has_curly"]

    def test_page_flags_scan_the_raw_page(self, spark):
        """lorem-ipsum / curly flags read the RAW page (C4 drops such
        pages outright), even when the offending line itself was
        already dropped by the line filter."""
        r = self._sig(spark, "x { Lorem Ipsum y\nA real kept line with "
                             "five words.")
        assert r["has_lorem"] and r["has_curly"]
        assert r["n_kept_lines"] == 1

    def test_clean_documents_filter(self, spark):
        """c4_clean_documents == the signals' page predicate: >=
        min_sentences AND neither flag."""
        from faisssearcher_spark.operators.text_analysis import (
            c4_clean_documents, c4_signals)

        rows = [(1, self.PAGE),                       # 2 sentences < 3
                (2, "One good sentence right here now.\n"
                    "Two good sentences right here now!\n"
                    "Three good sentences right here now?"),
                (3, "One good sentence right here now.\n"
                    "Two good sentences right here now!\n"
                    "Three good sentences { right here now?")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        kept = c4_clean_documents(df, min_sentences=3).collect()
        assert [r["id"] for r in kept] == [2]
        assert kept[0]["n_sentences"] == 3
        sig = {r["id"]: r for r in c4_signals(df).collect()}
        want = {i for i, r in sig.items()
                if r["n_sentences"] >= 3 and not r["has_lorem"]
                and not r["has_curly"]}
        assert want == {2}

    def test_null_and_empty_text(self, spark):
        from faisssearcher_spark.operators.text_analysis import c4_signals

        df = spark.createDataFrame([(1, None), (2, "")],
                                   "doc_id long, text string")
        got = {r["id"]: r for r in c4_signals(df).collect()}
        assert got[2]["n_lines"] == 0 and got[2]["n_sentences"] == 0
        # NULL text behaves as empty: zero counters, flags false
        assert got[1]["n_lines"] == 0 and not got[1]["has_lorem"]


class TestRepetitionSignalsColumnOrder:
    def test_caller_order_preserved(self, spark):
        """r13 ADVICE: sorted(set(...)) silently reordered the output
        columns for unsorted size tuples; dedupe must preserve the
        caller's order (duplicates still collapse)."""
        from faisssearcher_spark.operators.text_analysis import (
            repetition_signals)

        df = spark.createDataFrame([(1, "a b a b a b")],
                                   "doc_id long, text string")
        out = repetition_signals(df, top_ns=(4, 2, 4), dup_ns=(10, 5))
        assert [c for c in out.columns if c.startswith("top")] \
            == ["top4_chars", "top2_chars"]
        assert [c for c in out.columns
                if c.startswith("dup") and c != "dup_line_chars"] \
            == ["dup10_chars", "dup5_chars"]
        # values identical to the sorted-call equivalents
        got = out.collect()[0].asDict()
        ref = repetition_signals(df, top_ns=(2, 4), dup_ns=(5, 10)) \
            .collect()[0].asDict()
        assert got == ref
