"""Exact duplicate-span removal (operators/dedup.py:duplicate_spans /
remove_duplicate_spans) — the Lee et al. 2022 ExactSubstr shape as a
relational plan.

Semantics pinned here: a span is an n-token sliding window; every
occurrence of a window text except the corpus-first (by (id, start)) marks
its n token positions for removal; overlapping marked windows merge via
the position-set union; documents reassemble from surviving tokens in
order; unique-only documents pass through byte-identical.
"""

import pytest
from pyspark.sql import functions as F

from faisssearcher_spark.operators.dedup import (duplicate_spans,
                                                 remove_duplicate_spans)


@pytest.fixture(scope="module")
def corpus(spark):
    # 3-token windows; "p q r s" duplicated across docs at different
    # alignments, doc 3 wholly duplicated, doc 4 too short for a window.
    rows = [
        (1, "a b p q r s c d"),
        (2, "x p q r s y z"),      # shares the 4-token passage, shifted
        (3, "p q r s"),            # nothing but the duplicated passage
        (4, "u v"),                # shorter than n -> no windows
        (5, "m n o m n o m n o"),  # intra-doc repetition
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_duplicate_spans_marks_non_first_only(spark, corpus):
    marks = {(r["doc_id"], r["start"])
             for r in duplicate_spans(corpus, n=3).collect()}
    # "p q r" first occurs in doc 1 at start 2; "q r s" at start 3.
    assert (1, 2) not in marks and (1, 3) not in marks
    # doc 2 holds later occurrences of both windows (starts 1 and 2).
    assert (2, 1) in marks and (2, 2) in marks
    # doc 3 likewise (starts 0 and 1).
    assert (3, 0) in marks and (3, 1) in marks
    # doc 4 has no windows at all.
    assert not any(d == 4 for d, _ in marks)
    # doc 5's repeats of "m n o" / "n o m" / "o m n" mark later starts.
    assert (5, 0) not in marks and (5, 3) in marks and (5, 6) in marks


def test_remove_rebuilds_in_order(spark, corpus):
    out = {r["doc_id"]: r
           for r in remove_duplicate_spans(corpus, n=3).collect()}
    # first holder keeps everything, byte-identical
    assert out[1]["text"] == "a b p q r s c d"
    assert out[1]["n_dup_tokens"] == 0
    # doc 2: positions 1..4 covered (union of windows at 1 and 2)
    assert out[2]["text"] == "x y z"
    assert (out[2]["n_tokens"], out[2]["n_dup_tokens"]) == (7, 4)
    # doc 3 fully duplicated -> empty text, kept by default
    assert out[3]["text"] == ""
    assert out[3]["n_dup_tokens"] == 4
    # doc 4 too short for any window -> untouched
    assert out[4]["text"] == "u v" and out[4]["n_dup_tokens"] == 0
    # doc 5: window at 0 survives; positions 3..8 covered
    assert out[5]["text"] == "m n o"
    assert (out[5]["n_tokens"], out[5]["n_dup_tokens"]) == (9, 6)


def test_drop_empty_docs(spark, corpus):
    out = remove_duplicate_spans(corpus, n=3, drop_empty_docs=True)
    ids = {r["doc_id"] for r in out.select("doc_id").collect()}
    assert 3 not in ids and ids == {1, 2, 4, 5}


def test_no_duplicate_window_survives(documents):
    """Corpus property on real testdata: after removal, re-windowing the
    cleaned corpus yields no window text with >1 occurrence... EXCEPT
    windows newly formed by token adjacency across a removed gap, which
    span removal deliberately allows (Lee et al. cut-and-splice). Check
    the conservative invariant instead: every surviving token count
    matches n_tokens - n_dup_tokens and totals shrink."""
    before = documents.select(
        F.size(F.filter(F.split(F.trim("text"), r"\s+"),
                        lambda t: t != "")).alias("n")) \
        .agg(F.sum("n")).collect()[0][0]
    out = remove_duplicate_spans(documents, n=10)
    agg = out.agg(F.sum("n_tokens").alias("t"),
                  F.sum("n_dup_tokens").alias("d")).collect()[0]
    assert agg["t"] == before
    assert 0 < agg["d"] < before
    # reassembled token counts agree with the bookkeeping columns
    bad = out.filter(
        F.size(F.filter(F.split(F.trim("text"), r"\s+"),
                        lambda t: t != ""))
        != F.col("n_tokens") - F.col("n_dup_tokens")).count()
    assert bad == 0


def test_n_validation(spark, corpus):
    with pytest.raises(ValueError):
        duplicate_spans(corpus, n=0)


def test_id_col_collision_rejected(spark, corpus):
    renamed = corpus.withColumnRenamed("doc_id", "start")
    with pytest.raises(ValueError):
        duplicate_spans(renamed, id_col="start", n=3)


def test_randomized_against_python_oracle(spark):
    """Randomized pin: 40 docs over a 6-token alphabet (dense window
    collisions) must match a direct Python implementation of
    keep-first-global span marking + rebuild, for several window sizes."""
    import random

    rng = random.Random(1234)
    alphabet = ["a", "b", "c", "d", "e", "f"]
    docs = {did: [rng.choice(alphabet) for _ in range(rng.randint(0, 25))]
            for did in range(40)}

    def py_remove(n):
        occ = {}
        for did in sorted(docs):
            toks = docs[did]
            for s in range(max(0, len(toks) - n + 1)):
                occ.setdefault(" ".join(toks[s:s + n]), []).append((did, s))
        covered = {did: set() for did in docs}
        for lst in occ.values():
            if len(lst) > 1:
                for did, s in sorted(lst)[1:]:
                    covered[did].update(range(s, s + n))
        return {did: (" ".join(t for i, t in enumerate(toks)
                               if i not in covered[did]),
                      len(toks), len(covered[did]))
                for did, toks in docs.items()}

    df = spark.createDataFrame(
        [(did, " ".join(toks)) for did, toks in docs.items()],
        "doc_id long, text string")
    for n in (2, 3, 5):
        got = {r["doc_id"]: (r["text"], r["n_tokens"], r["n_dup_tokens"])
               for r in remove_duplicate_spans(df, n=n).collect()}
        assert got == py_remove(n), f"mismatch at n={n}"


# ---------------------------------------------------------------------------
# ExactSubstr (arbitrary-length) exact substring dedup
# (operators/dedup.py:exact_substring_spans / remove_exact_substrings)
# ---------------------------------------------------------------------------

from faisssearcher_spark.operators.dedup import (exact_substring_spans,
                                                 remove_exact_substrings)


def test_exsub_spans_merge_and_boundaries(spark):
    """Overlapping matches merge into one maximal interval; ONE unique
    token between two duplicated regions keeps them separate (no window
    straddling a unique token can be duplicated, so coverage runs never
    touch)."""
    rows = [
        (1, "p q r s t u X p q r s t u"),     # intra-doc repeat, gap X
        (2, "a a a a a a"),                   # overlapping self-matches
        (3, "m n o"),                         # unique, no coverage
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    spans = {(r["doc_id"], r["start"], r["end"])
             for r in exact_substring_spans(df, min_len=3).collect()}
    # doc 1: "p q r s t u" occurs at 0 and 7 -> two intervals of len 6,
    # NOT merged across the unique X at position 6
    assert (1, 0, 6) in spans and (1, 7, 13) in spans
    # doc 2: every 3-window of "a a a a a a" repeats -> one full run
    assert (2, 0, 6) in spans
    assert not any(d == 3 for d, _, _ in spans)
    # intervals are disjoint, >= min_len long
    by_doc = {}
    for d, s, e in spans:
        assert e - s >= 3
        for s2, e2 in by_doc.get(d, []):
            assert e <= s2 or s >= e2, "overlapping intervals"
        by_doc.setdefault(d, []).append((s, e))


def test_exsub_keep_first_matches_window_dedup(spark):
    """keep='first' coverage is exactly remove_duplicate_spans at
    n=min_len — the generalization collapses to the existing operator."""
    import random

    rng = random.Random(99)
    rows = [(i, " ".join(rng.choice("abcd") for _ in range(rng.randint(0, 20))))
            for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: (r["text"], r["n_exsub_tokens"])
           for r in remove_exact_substrings(df, min_len=3,
                                            keep="first").collect()}
    ref = {r["doc_id"]: (r["text"], r["n_dup_tokens"])
           for r in remove_duplicate_spans(df, n=3).collect()}
    assert got == ref


def test_exsub_against_arbitrary_length_brute_force(spark):
    """THE recall/precision contract: positions covered by duplicated
    substrings of ANY length >= L (brute-force enumeration, the
    suffix-array semantics of Lee et al. 2022) must equal the operator's
    covered set exactly — window coverage is not an approximation."""
    import random
    from collections import defaultdict

    rng = random.Random(4321)
    docs = {did: [rng.choice("abc") for _ in range(rng.randint(0, 16))]
            for did in range(12)}

    def brute_covered(L):
        occ = defaultdict(list)
        for did, toks in docs.items():
            for s in range(len(toks)):
                for e in range(s + L, len(toks) + 1):
                    occ[tuple(toks[s:e])].append((did, s, e))
        covered = {did: set() for did in docs}
        for lst in occ.values():
            if len(lst) > 1:
                for did, s, e in lst:
                    covered[did].update(range(s, e))
        return covered

    df = spark.createDataFrame(
        [(did, " ".join(toks)) for did, toks in docs.items()],
        "doc_id long, text string")
    for L in (2, 3, 4):
        want = brute_covered(L)
        got = {did: set() for did in docs}
        for r in exact_substring_spans(df, min_len=L).collect():
            got[r["doc_id"]].update(range(r["start"], r["end"]))
        assert got == want, f"coverage mismatch at min_len={L}"
        rem = {r["doc_id"]: r["n_exsub_tokens"]
               for r in remove_exact_substrings(df, min_len=L).collect()}
        assert rem == {d: len(c) for d, c in want.items()}


def test_exsub_keep_none_drops_all_occurrences(spark):
    rows = [(1, "u v p q r w"), (2, "x p q r y")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r["text"]
           for r in remove_exact_substrings(df, min_len=3).collect()}
    # BOTH occurrences of "p q r" go, first included
    assert out == {1: "u v w", 2: "x y"}


def test_exsub_validation(spark):
    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError):
        remove_exact_substrings(df, min_len=0)
    with pytest.raises(ValueError):
        remove_exact_substrings(df, min_len=2, keep="last")
    with pytest.raises(ValueError):
        remove_exact_substrings(df.withColumnRenamed("doc_id", "end"),
                                id_col="end", min_len=2)


def test_exsub_spans_reuse_stamp_guard(spark):
    """The spans= reuse hook validates the producer stamp: a frame
    computed under different min_len/keep (or from a different
    producer) raises instead of silently mis-removing (r10 verdict #6);
    a matching stamp and an unstamped frame both pass through."""
    rows = [(1, "u v p q r w"), (2, "x p q r y")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    spans3 = exact_substring_spans(df, min_len=3)
    # matching stamp: works, result equals the self-computed path
    got = {r["doc_id"]: r["text"]
           for r in remove_exact_substrings(df, min_len=3,
                                            spans=spans3).collect()}
    assert got == {1: "u v w", 2: "x y"}
    with pytest.raises(ValueError, match="min_len"):
        remove_exact_substrings(df, min_len=4, spans=spans3)
    with pytest.raises(ValueError, match="keep"):
        remove_exact_substrings(df, min_len=3, keep="first",
                                spans=spans3)
    with pytest.raises(ValueError, match="id_col"):
        remove_exact_substrings(
            df.withColumnRenamed("doc_id", "docid"), id_col="docid",
            min_len=3, spans=spans3)
    # cross-producer mixup: contaminated_spans frame into the exsub hook
    from faisssearcher_spark.operators import decontam

    ev = spark.createDataFrame([(9, "p q r")], "doc_id long, text string")
    cspans = decontam.contaminated_spans(df, ev, min_len=3)
    with pytest.raises(ValueError, match="producer"):
        remove_exact_substrings(df, min_len=3, spans=cspans)
    with pytest.raises(ValueError, match="producer"):
        decontam.remove_contaminated_spans(df, ev, min_len=3,
                                           spans=spans3)
    with pytest.raises(ValueError, match="min_len"):
        decontam.remove_contaminated_spans(df, ev, min_len=4,
                                           spans=cspans)
    # matching decontam stamp passes
    out = {r["doc_id"]: r["text"]
           for r in decontam.remove_contaminated_spans(
               df, ev, min_len=3, spans=cspans).collect()}
    assert out == {1: "u v w", 2: "x y"}
    # unstamped frame (parquet round-trip analog): documented contract,
    # no raise
    bare = spans3.select("doc_id", "start", "end")
    bare2 = remove_exact_substrings(df, min_len=3, spans=bare)
    assert bare2.count() == 2


# ---------------------------------------------------------------------------
# duplication_profile (operators/dedup.py) — the spectrum diagnostic
# ---------------------------------------------------------------------------

from faisssearcher_spark.operators.dedup import duplication_profile


def test_duplication_profile_against_brute_force(spark):
    import random
    from collections import Counter, defaultdict

    rng = random.Random(77)
    docs = {did: [rng.choice("abc") for _ in range(rng.randint(0, 14))]
            for did in range(14)}
    df = spark.createDataFrame(
        [(did, " ".join(t)) for did, t in docs.items()],
        "doc_id long, text string")
    lengths = (1, 2, 3, 5, 8)
    got = {r["length"]: r.asDict() for r in
           duplication_profile(df, lengths=lengths).collect()}
    n_tokens = sum(len(t) for t in docs.values())
    assert set(got) == set(lengths)
    for L in lengths:
        wins = Counter()
        occ = defaultdict(list)
        for did, toks in docs.items():
            for s in range(len(toks) - L + 1):
                w = tuple(toks[s:s + L])
                wins[w] += 1
                occ[w].append((did, s))
        dup = {w: c for w, c in wins.items() if c > 1}
        covered = set()
        for w in dup:
            for did, s in occ[w]:
                covered.update((did, p) for p in range(s, s + L))
        row = got[L]
        assert row["n_windows"] == sum(wins.values())
        assert row["n_dup_windows"] == len(dup)
        assert row["n_dup_occurrences"] == sum(dup.values())
        assert row["n_covered_tokens"] == len(covered)
        assert row["n_tokens"] == n_tokens
    # the spectrum is monotone: covered mass can only shrink as L grows
    covs = [got[L]["n_covered_tokens"] for L in sorted(lengths)]
    assert all(a >= b for a, b in zip(covs, covs[1:]))


def test_duplication_profile_validation(spark):
    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError):
        duplication_profile(df, lengths=())
    with pytest.raises(ValueError):
        duplication_profile(df, lengths=(0, 2))


# ---------------------------------------------------------------------------
# longest_duplicated_substring (operators/dedup.py) — the tail diagnostic
# ---------------------------------------------------------------------------

from faisssearcher_spark.operators.dedup import longest_duplicated_substring


def test_longest_duplicated_substring_against_brute_force(spark):
    import random
    from collections import Counter

    rng = random.Random(123)
    for trial in range(4):
        docs = {did: [rng.choice("ab") for _ in
                      range(rng.randint(0, 12))]
                for did in range(8)}
        df = spark.createDataFrame(
            [(did, " ".join(t)) for did, t in docs.items()],
            "doc_id long, text string")
        got = longest_duplicated_substring(df)
        # brute force: longest window length with any count > 1
        best = 0
        counts_at_best = Counter()
        L = 1
        while True:
            wins = Counter()
            for toks in docs.values():
                for s in range(len(toks) - L + 1):
                    wins[tuple(toks[s:s + L])] += 1
            dup = {w: c for w, c in wins.items() if c > 1}
            if not dup:
                break
            best, counts_at_best = L, Counter(dup)
            L += 1
        assert got["length"] == best, f"trial {trial}"
        if best:
            assert got["n_occurrences"] == max(counts_at_best.values())
            w = tuple(docs[got["id"]][got["start"]:got["start"] + best])
            assert counts_at_best[w] == got["n_occurrences"]


def test_longest_duplicated_substring_edges(spark):
    # no duplication at all
    df = spark.createDataFrame([(1, "a b c"), (2, "d e f")],
                               "doc_id long, text string")
    assert longest_duplicated_substring(df)["length"] == 0
    # empty corpus
    assert longest_duplicated_substring(df.limit(0))["length"] == 0
    # whole-document twin: the longest dup is the full document
    df2 = spark.createDataFrame([(1, "x y z w"), (2, "x y z w")],
                                "doc_id long, text string")
    got = longest_duplicated_substring(df2)
    assert got == {"length": 4, "id": 1, "start": 0,
                   "n_occurrences": 2}
    # max_len cap
    assert longest_duplicated_substring(df2, max_len=2)["length"] == 2


# ---------------------------------------------------------------------------
# recommend_min_len (operators/dedup.py) — profile-knee chooser
# ---------------------------------------------------------------------------

from faisssearcher_spark.operators.dedup import recommend_min_len


def _mk_docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_recommend_min_len_cliff_block_corpus(spark):
    """All duplication planted as copies of ONE 16-token block: the
    removal curve is flat up to L=16 and zero past it, so the knee is
    the cliff edge — min_len=16 catches the blocks, min_len=32 would
    remove nothing."""
    blk = " ".join(f"B{i}" for i in range(16))
    rows = [(did, blk + " " + " ".join(f"u{did}x{j}" for j in range(20)))
            for did in range(10)]
    got = recommend_min_len(_mk_docs(spark, rows),
                            lengths=(2, 4, 8, 16, 32))
    assert got["min_len"] == 16
    assert got["removal_rate"] == pytest.approx(160 / (36 * 10))
    # the curve itself is returned, flat head + zero tail
    d = dict(got["curve"])
    assert d[2] == d[16] and d[32] == 0.0


def test_recommend_min_len_collision_head_plateau(spark):
    """Small-vocab filler makes short windows collide by chance while a
    planted 32-token block carries the real duplication: the curve has
    a steep collision head and a plateau, and the knee lands past the
    collision regime but at-or-before the block length (the planted
    knee region)."""
    import random

    rng = random.Random(5)
    blk = " ".join(f"B{i}" for i in range(32))
    rows = [(did, blk + " " + " ".join(rng.choice("abcd")
                                       for _ in range(60)))
            for did in range(12)]
    got = recommend_min_len(_mk_docs(spark, rows),
                            lengths=(2, 4, 8, 16, 32, 64))
    assert 4 <= got["min_len"] <= 32
    # sanity: short windows really do over-remove (collision head)
    d = dict(got["curve"])
    assert d[2] > d[got["min_len"]] >= d[32] > d[64] == 0.0


def test_recommend_min_len_edges(spark):
    # no duplication at all -> None
    rows = [(did, " ".join(f"u{did}x{j}" for j in range(12)))
            for did in range(4)]
    got = recommend_min_len(_mk_docs(spark, rows), lengths=(2, 4, 8))
    assert got["min_len"] is None and got["removal_rate"] == 0.0
    # flat curve (exact twins) -> largest probed L (same removal mass,
    # longest match evidence)
    twin = " ".join(f"t{j}" for j in range(16))
    got = recommend_min_len(_mk_docs(spark, [(1, twin), (2, twin)]),
                            lengths=(2, 4, 8, 16))
    assert got["min_len"] == 16 and got["removal_rate"] == 1.0
    # argument contract
    with pytest.raises(ValueError, match="exactly one"):
        recommend_min_len()
    with pytest.raises(ValueError, match="exactly one"):
        recommend_min_len(_mk_docs(spark, [(1, "a")]),
                          profile=_mk_docs(spark, [(1, "a")]))
    with pytest.raises(ValueError, match=">= 3"):
        recommend_min_len(_mk_docs(spark, [(1, "a b c")]),
                          lengths=(2, 4))


def test_recommend_min_len_accepts_precomputed_profile(spark):
    blk = " ".join(f"B{i}" for i in range(16))
    rows = [(did, blk + " " + " ".join(f"u{did}x{j}" for j in range(20)))
            for did in range(10)]
    prof = duplication_profile(_mk_docs(spark, rows),
                               lengths=(2, 4, 8, 16, 32))
    got = recommend_min_len(profile=prof)
    assert got["min_len"] == 16


def test_remove_exact_substrings_auto_min_len(spark):
    """min_len='auto' resolves the knee from the corpus's own curve and
    removes exactly what the explicit call at that knee removes."""
    blk = " ".join(f"B{i}" for i in range(16))
    rows = [(did, blk + " " + " ".join(f"u{did}x{j}" for j in range(20)))
            for did in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    rec = recommend_min_len(df)
    auto = {r["doc_id"]: r["text"]
            for r in remove_exact_substrings(df, min_len="auto").collect()}
    explicit = {r["doc_id"]: r["text"]
                for r in remove_exact_substrings(
                    df, min_len=rec["min_len"]).collect()}
    assert auto == explicit
    assert all(not t.startswith("B0 ") for t in auto.values())
    # no duplication anywhere -> loud refusal, not a no-op scan
    uniq = spark.createDataFrame(
        [(d, " ".join(f"u{d}x{j}" for j in range(12))) for d in range(4)],
        "doc_id long, text string")
    with pytest.raises(ValueError, match="no duplication"):
        remove_exact_substrings(uniq, min_len="auto")
    # mutually exclusive with a precomputed spans frame
    spans = exact_substring_spans(df, min_len=16)
    with pytest.raises(ValueError, match="auto"):
        remove_exact_substrings(df, min_len="auto", spans=spans)


def _stamped_wins(df, n, extra_cols=()):
    """A size-``n`` window-occurrence frame stamped the way the
    text_fingerprints gate builds the one it shares across consumers."""
    from faisssearcher_spark.operators.dedup import (_stamp_spans,
                                                     _token_windows)

    _, wins = _token_windows(df, id_col="doc_id", text_col="text", n=n,
                             extra_cols=tuple(extra_cols))
    return _stamp_spans(wins.select("doc_id", *extra_cols, "start", "__w"),
                        producer="token_windows", n=n, id_col="doc_id",
                        extra_cols=tuple(extra_cols))


class TestWinsHooks:
    """A shared window frame passed through ``wins=`` / ``train_wins=`` /
    ``eval_wins=`` must give every consumer exactly its
    build-my-own-windows result, and a frame built for other parameters
    must be refused."""

    @pytest.fixture(scope="class")
    def docs(self, spark):
        rows = [
            (1, "a b p q r s c d", "s1"),
            (2, "x p q r s y z", "s1"),
            (3, "p q r s", "s2"),
            (4, "u v", "s2"),               # shorter than every n
            (5, "m n o m n o m n o", "s2"),
            (6, "", "s1"),                  # empty text edge
        ]
        return spark.createDataFrame(rows,
                                     "doc_id long, text string, "
                                     "source string")

    def test_wins_consumers_match_plain_paths(self, spark, docs):
        from faisssearcher_spark.operators.decontam import (
            contaminated_spans)
        from faisssearcher_spark.operators.dedup import (
            exact_substring_spans, remove_boilerplate)

        w3 = _stamped_wins(docs, 3)
        w2s = _stamped_wins(docs, 2, extra_cols=("source",))
        pairs = [
            (remove_duplicate_spans(docs, n=3, wins=w3),
             remove_duplicate_spans(docs, n=3)),
            (remove_boilerplate(docs, n=2, min_docs=2, wins=w2s),
             remove_boilerplate(docs, n=2, min_docs=2)),
            (exact_substring_spans(docs, min_len=3, wins=w3),
             exact_substring_spans(docs, min_len=3)),
        ]
        ev = docs.filter(F.col("doc_id") < 3)
        pairs.append(
            (contaminated_spans(docs, ev, min_len=3, train_wins=w3,
                                eval_wins=w3.filter(F.col("doc_id") < 3)),
             contaminated_spans(docs, ev, min_len=3)))
        for got_df, want_df in pairs:
            got = sorted(map(tuple, got_df.collect()))
            want = sorted(map(tuple, want_df.collect()))
            assert got == want

    def test_wins_stamp_mismatch_raises(self, spark, docs):
        with pytest.raises(ValueError, match="different parameters"):
            remove_duplicate_spans(docs, n=3, wins=_stamped_wins(docs, 2))
