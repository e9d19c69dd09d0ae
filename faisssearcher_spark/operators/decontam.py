"""Train/eval contamination detection — cross-corpus n-gram overlap.

The decontamination step every benchmark-honest training pipeline runs:
find training documents that share long word n-grams with an evaluation
set, so they can be dropped (or the eval items flagged) before training.
This is the GPT-3/PaLM-style n-gram collision check expressed as a
relational plan:

    shingle both corpora → equi-join on the shingle (inverted index) →
    per-pair distinct-collision count → overlap fraction vs the eval
    document's shingle count

Scale shape: candidates meet ONLY through the shingle equi-join (no
cross product — the same invariant as the dedup family); the eval side
is typically tiny next to the training corpus, so Catalyst/AQE broadcast
it on real size estimates, and the training corpus never shuffles more
than its exploded shingles. Shingles hash to 64-bit via xxhash64 before
the join so the shuffle carries longs, not strings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from faisssearcher_spark.functions import text as T


def _shingle_ids(df: DataFrame, id_col: str, text_col: str, n: int,
                 out_id: str, tokens_col: str | None = None) -> DataFrame:
    src = (T.word_ngrams(tokens_col, n, pre_tokenized=True)
           if tokens_col is not None else T.word_ngrams(text_col, n))
    grams = df.withColumn("__g", src)
    exploded = grams.select(
        F.col(id_col).alias(out_id),
        F.explode_outer(F.array_distinct(F.col("__g"))).alias("__shingle"))
    return (exploded.filter(F.col("__shingle").isNotNull())
            .select(out_id, F.xxhash64("__shingle").alias("__sh")))


def contamination_pairs(train: DataFrame, eval_df: DataFrame, *,
                        n: int = 8,
                        min_overlap_fraction: float = 0.0,
                        min_collisions: int = 1,
                        train_id_col: str = "doc_id",
                        eval_id_col: str = "doc_id",
                        train_text_col: str = "text",
                        eval_text_col: str = "text",
                        train_tokens_col: str | None = None) -> DataFrame:
    """(train_id, eval_id) pairs sharing ≥ ``min_collisions`` distinct
    word ``n``-grams, with the collision count and the fraction of the
    EVAL document's shingles that collide (the contamination measure —
    an eval item fully contained in a training document scores 1.0).

    ``n`` defaults to 8: long enough that natural-language collisions
    are overwhelmingly true containment, the standard decontamination
    setting; lower it for short eval items (an item with fewer than
    ``n`` tokens has no shingles and cannot be flagged — count such
    items separately via ``token_count``).
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    t = _shingle_ids(train, train_id_col, train_text_col, n, "train_id",
                     tokens_col=train_tokens_col)
    e = _shingle_ids(eval_df, eval_id_col, eval_text_col, n, "eval_id")
    e_sizes = e.groupBy("eval_id").agg(
        F.count("*").alias("__n_eval_shingles"))
    collisions = (
        t.join(e, "__sh")
        .groupBy("train_id", "eval_id")
        .agg(F.count("*").alias("n_collisions")))
    out = (collisions.join(e_sizes, "eval_id")
           .withColumn("overlap_fraction",
                       F.col("n_collisions") / F.col("__n_eval_shingles"))
           .filter((F.col("n_collisions") >= min_collisions)
                   & (F.col("overlap_fraction") >= min_overlap_fraction)))
    return out.select("train_id", "eval_id", "n_collisions",
                      F.round("overlap_fraction", 6).alias("overlap_fraction"))


def decontaminate(train: DataFrame, eval_df: DataFrame, *,
                  n: int = 8, min_overlap_fraction: float = 0.5,
                  train_id_col: str = "doc_id",
                  eval_id_col: str = "doc_id",
                  train_text_col: str = "text",
                  eval_text_col: str = "text",
                  train_tokens_col: str | None = None) -> DataFrame:
    """The training corpus minus every document contaminated against the
    eval set (overlap fraction ≥ threshold for ANY eval item) — one
    anti-join over :func:`contamination_pairs`. ``train_tokens_col``
    reuses a pre-tokenized array column on the train side (the
    share-one-tokenize-scan discipline)."""
    flagged = contamination_pairs(
        train, eval_df, n=n, min_overlap_fraction=min_overlap_fraction,
        train_id_col=train_id_col, eval_id_col=eval_id_col,
        train_text_col=train_text_col, eval_text_col=eval_text_col,
        train_tokens_col=train_tokens_col
    ).select(F.col("train_id").alias(train_id_col)).distinct()
    return train.join(flagged, train_id_col, "left_anti")


def contaminated_spans(train: DataFrame, eval_df: DataFrame, *,
                       min_len: int = 8,
                       train_id_col: str = "doc_id",
                       train_text_col: str = "text",
                       eval_text_col: str = "text",
                       train_tokens_col: str | None = None,
                       eval_tokens_col: str | None = None,
                       train_wins: DataFrame | None = None,
                       eval_wins: DataFrame | None = None) -> DataFrame:
    """Maximal per-TRAIN-document spans covered by any substring of
    length ≥ ``min_len`` tokens that ALSO occurs in the eval set — the
    SURGICAL decontamination granularity (Lee et al. 2022,
    arXiv:2107.06499: cut the overlapping span, keep the document)
    that :func:`decontaminate`'s drop-whole-documents policy wastes
    data on.

    Exactness is the ExactSubstr coverage equivalence
    (``dedup.exact_substring_spans``), applied CROSS-corpus: a train
    position lies inside a shared substring of length ≥ L iff it lies
    inside an L-window whose text occurs in the eval set — every
    L-window of a shared substring is itself shared. So the covered
    set equals what a cross-corpus suffix automaton would mark at
    threshold L: exact recall and precision at token granularity.

    Output ``(id, start, end)`` — disjoint 0-based end-exclusive
    token intervals per train document, each ≥ min_len long.

    Scale shape: eval windows deduplicate to a distinct window-text
    frame (eval-set-sized — tiny next to the corpus, AQE broadcasts
    it on real estimates) and the train windows LEFT-SEMI join it;
    the per-doc gaps-and-islands merge runs over matched starts only.
    Shuffle ∝ train windows; no pairs, no position explode."""
    from faisssearcher_spark.operators.dedup import (_merge_window_runs,
                                                     _token_windows)

    if min_len < 1:
        raise ValueError(f"min_len must be >= 1, got {min_len}")
    if train_id_col in ("start", "end"):
        raise ValueError(f"train_id_col {train_id_col!r} collides with "
                         "an output column; rename it first")
    # ``train_wins`` / ``eval_wins`` reuse precomputed window-occurrence
    # frames (one stamped window frame shared across a composite's
    # span consumers — the share-one-scan discipline).
    # Eval windows only contribute their distinct ``__w`` keys, so any
    # frame carrying the eval set's size-min_len window hashes works.
    if train_wins is not None:
        from faisssearcher_spark.operators.dedup import _check_wins
        _check_wins(train_wins, "contaminated_spans", n=min_len,
                    id_col=train_id_col)
        twins = train_wins
    else:
        _, twins = _token_windows(train, id_col=train_id_col,
                                  text_col=train_text_col, n=min_len,
                                  tokens_col=train_tokens_col)
    if eval_wins is not None:
        meta = getattr(eval_wins, "_fs_spans_meta", None)
        if meta is not None and meta.get("n") != min_len:
            raise ValueError(
                f"contaminated_spans(eval_wins=...) got windows of size "
                f"{meta.get('n')!r}, call expects {min_len}")
        ewins = eval_wins
    else:
        _, ewins = _token_windows(
            eval_df.select(F.lit(0).alias("__eid"),
                           F.col(eval_tokens_col if eval_tokens_col
                                 else eval_text_col)),
            id_col="__eid",
            text_col=eval_text_col, n=min_len,
            tokens_col=eval_tokens_col)
    marks = (twins.join(ewins.select("__w").distinct(), "__w",
                        "left_semi")
             .select(train_id_col, "start"))
    from faisssearcher_spark.operators.dedup import _stamp_spans

    return _stamp_spans(
        _merge_window_runs(marks, id_col=train_id_col, n=min_len),
        producer="contaminated_spans", min_len=min_len,
        id_col=train_id_col)


def remove_contaminated_spans(train: DataFrame, eval_df: DataFrame, *,
                              min_len: int = 8,
                              train_id_col: str = "doc_id",
                              train_text_col: str = "text",
                              eval_text_col: str = "text",
                              drop_empty_docs: bool = False,
                              train_tokens_col: str | None = None,
                              eval_tokens_col: str | None = None,
                              spans: DataFrame | None = None
                              ) -> DataFrame:
    """Cut every eval-shared substring of length ≥ ``min_len`` out of
    the training documents (:func:`contaminated_spans`) and reassemble
    the survivors in order — benchmark-honest decontamination that
    keeps each document's uncontaminated remainder instead of dropping
    the document. Output ``(id, text, n_tokens, n_contam_tokens)``;
    cleaned ``text`` is ``''`` when the whole document was eval
    material.

    ``spans`` reuses a precomputed :func:`contaminated_spans` frame
    (the share-one-scan discipline, mirroring
    ``dedup.remove_exact_substrings``): a caller needing both the span
    report and the removal passes it here so the two plans share one
    identical spans subtree. Must come from the same corpora with the
    same ``min_len``. Frames still carrying their in-session
    :func:`contaminated_spans` stamp are VALIDATED (mismatched
    ``min_len``/``train_id_col``/producer raises); an unstamped frame
    (e.g. round-tripped through parquet) falls back to the documented
    same-parameters contract — mismatches silently mis-remove."""
    from faisssearcher_spark.operators.dedup import (
        _check_spans, _rebuild_without_positions, _token_windows)

    if min_len < 1:
        raise ValueError(f"min_len must be >= 1, got {min_len}")
    if train_id_col in ("start", "end", "pos", "n_tokens",
                        "n_contam_tokens"):
        raise ValueError(f"train_id_col {train_id_col!r} collides with "
                         "an output column; rename it first")
    if spans is not None:
        _check_spans(spans, "remove_contaminated_spans",
                     producer="contaminated_spans", min_len=min_len,
                     id_col=train_id_col)
    toked, _ = _token_windows(train, id_col=train_id_col,
                              text_col=train_text_col, n=min_len,
                              tokens_col=train_tokens_col)
    if spans is None:
        spans = contaminated_spans(
            train, eval_df, min_len=min_len, train_id_col=train_id_col,
            train_text_col=train_text_col, eval_text_col=eval_text_col,
            train_tokens_col=train_tokens_col,
            eval_tokens_col=eval_tokens_col)
    covered = spans.select(
        F.col(train_id_col),
        F.explode(F.sequence(F.col("start"),
                             F.col("end") - F.lit(1))).alias("pos"))
    return _rebuild_without_positions(
        toked, covered, id_col=train_id_col, text_col=train_text_col,
        drop_empty_docs=drop_empty_docs, removed_col="n_contam_tokens")
