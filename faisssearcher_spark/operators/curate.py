"""Corpus curation pipeline — the composed training-data use case.

Single operator chaining the engine's text-analysis and dedup stages the
way a pretraining data pipeline runs them at 100 TB:

    quality scores → threshold filter → language filter →
    exact dedup (content fingerprint) → near-dup dedup
    (MinHash-LSH pairs → connected components → keep min-id per cluster)

Everything before near-dup is a single scan-and-filter projection
(Catalyst collapses the stages; predicates on source columns push down).
The dedup stages join only survivors — filter-first ordering is the
dominant cost lever at scale: quality/lang typically cut 30-70% of a
web corpus before a single shuffle happens.

Every stage has an exact SQL twin, so the end-to-end pipeline is
oracle-checked (query ``curate_documents``), not just its parts.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from faisssearcher_spark.functions import text as T
from faisssearcher_spark.operators import dedup


#: live refcounts for landing-frame plans, keyed by semanticHash —
#: Spark's CacheManager keys cache entries by SEMANTIC PLAN, and the
#: deterministic landing plans (pre-cluster survivor frames) ARE
#: plan-equal across invocations: without the refcount, invocation
#: N−1's deferred finalizer (GC timing is arbitrary under reference
#: cycles) uncached the very entry invocation N had just persisted and
#: was still executing against (r13 measured: the curate exec phase
#: re-paid the whole scored+window pipeline, 1.4–1.8 s vs 0.6 s with
#: the cache intact, every warm bench pass)
_LANDING_REFS: dict[int, int] = {}

#: guards _LANDING_REFS read-modify-writes: releases run from weakref
#: finalizers, whose GC timing can interleave with a live _land call on
#: another thread (r13 ADVICE — the persist-then-retain window).
#: Created unconditionally at import (review catch: a lazy
#: double-checked init is itself unsynchronized — two first callers
#: could each mint their own lock and race anyway).
_LANDING_LOCK = threading.RLock()


def _land(frame: DataFrame,
          landed: "list[tuple[DataFrame, int | None]]") -> DataFrame:
    """Refcount the plan BEFORE persisting it (r13 ADVICE: persisting
    first left a window in which a prior invocation's GC-triggered
    finalizer could still unpersist the plan-equal cache entry between
    this call's persist() and its refcount bump — semanticHash is a
    plan property, so computing it pre-persist retains the same key)."""
    try:
        h = frame.semanticHash()
    except Exception:
        h = None
    if h is not None:
        with _LANDING_LOCK:
            _LANDING_REFS[h] = _LANDING_REFS.get(h, 0) + 1
    try:
        f = frame.persist()
    except BaseException:
        if h is not None:
            with _LANDING_LOCK:
                left = _LANDING_REFS.get(h, 1) - 1
                if left > 0:
                    _LANDING_REFS[h] = left
                else:
                    _LANDING_REFS.pop(h, None)
        raise
    landed.append((f, h))
    return f


def _release_one(f: DataFrame, h: "int | None") -> None:
    """Drop one refcount; unpersist when the last holder releases. A
    semanticHash collision at worst defers the unpersist to the last
    holder; a hash FAILURE (h None) unpersists unconditionally — the
    conservative direction for a leak guard."""
    if h is not None:
        with _LANDING_LOCK:
            left = _LANDING_REFS.get(h, 1) - 1
            if left > 0:
                _LANDING_REFS[h] = left
                return
            _LANDING_REFS.pop(h, None)
    try:
        f.unpersist()
    except Exception:
        # a stopped SparkContext makes unpersist throw; the python
        # deref is the release then
        pass


def _release_on_error(landed: "list[tuple[DataFrame, int | None]]"):
    """Context manager: a build step raising AFTER frames were landed
    but BEFORE :func:`_release_with` could attach the result finalizer
    would otherwise leak those caches for the session (review catch —
    ``exsub_min_len='auto'`` raising on a no-duplication corpus is a
    documented, EXPECTED path, and a caller that catches and retries
    would accumulate one orphaned cache per attempt). Reads ``landed``
    at unwind time, so frames landed after entry are covered; releases
    are refcount-aware, so an overlapping invocation's live entry is
    never evicted."""
    import contextlib

    @contextlib.contextmanager
    def _cm():
        try:
            yield
        except BaseException:
            for f, h in landed:
                _release_one(f, h)
            raise

    return _cm()


def _release_with(result: DataFrame,
                  landed: "list[tuple[DataFrame, int | None]]"
                  ) -> DataFrame:
    """Tie the lifetime of the :func:`_land`-ed frames to the RESULT
    frame's Python object: when the caller drops the result, the
    landing-table caches release back to executor storage — refcounted
    by semantic plan (``_LANDING_REFS``), so overlapping invocations
    whose landing plans are identical don't uncache each other.

    Why not plan-keyed cache reuse across invocations: the pipeline
    embeds driver-collected literal frames (cluster maps, fitted
    thresholds), which classic PySpark lands as RDD-backed plans —
    never plan-equal across calls — so every invocation would otherwise
    ADD cache entries that nothing ever drops (measured: +2 entries per
    ``prepare_pretraining_data`` call). A dropped result may still be
    referenced through derived frames; those stay correct and recompute
    from lineage (the ``unpersist`` contract everywhere else in the
    engine)."""
    import weakref

    def _release(fs=tuple(landed)):
        for f, h in fs:
            _release_one(f, h)

    weakref.finalize(result, _release)
    return result


def curate_documents(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_quality: float = 0.3,
    languages: tuple[str, ...] | None = None,
    min_lang_conf: float | None = None,
    lang_conf_temperature: float = 0.05,
    near_dup_threshold: float | None = 0.5,
    minhash_hashes: int = 16,
    minhash_bands: int = 4,
    shingle_n: int = 3,
    gopher_max_dup_line_frac: float | None = None,
    gopher_max_dup_ngram_frac: float | None = None,
    keep_text: bool = False,
) -> DataFrame:
    """Return the curated survivor set with per-doc quality metadata.

    Output: ``(doc_id, quality, lang_pred, n_tokens)`` — one row per
    surviving document, deterministic (min doc_id survives each exact and
    near-dup group). ``keep_text=True`` appends the ``text`` column —
    the survivor frame already carries it internally, so composing
    pipelines (:func:`prepare_pretraining_data`) read the corpus ONCE
    instead of re-scanning and re-joining the source table to recover
    the text of the surviving ids. With ``min_lang_conf`` set, a ``lang_conf`` column
    joins the output and documents whose language-id confidence
    (:func:`faisssearcher_spark.functions.text.language_confidence`)
    falls below the threshold drop — the argmax alone trusts a single
    stopword hit; the calibrated softmax lets recipes demand real
    evidence. Opt-in (None) keeps the established output contract.

    Driver-memory note: the near-dup stage resolves clusters through
    ``dedup.dedup_clusters``, whose default routes up to 1M near-dup
    edges (tens of MB) through the driver before falling back to the
    distributed branch — lower its ``driver_edge_threshold`` when running
    this pipeline with a constrained driver heap (see that docstring).
    """
    # NOTE on tokenize sharing: materializing the token array into the
    # persisted survivor frame and feeding minhash via tokens_col was
    # measured SLOWER here (+0.4 s at sf0.1): the cached array pays
    # serde both ways while within-projection codegen already CSEs the
    # identical tokens(text) subtrees below, and at 100 TB caching
    # tokens costs storage ∝ corpus where re-tokenizing cached text is
    # one cheap regex pass. The tokens_col plumbing stays available for
    # callers that already carry a token array.
    if min_lang_conf is not None:
        # confidence doubles the langid tokenize load (K more filtered
        # counts), so the opted-in path materializes the token array
        # once and feeds argmax + softmax + count from it (the
        # detect_languages discipline; the HOF expressions are
        # CodegenFallback and the projection does not CSE). The default
        # path keeps its measured single-select shape untouched.
        scored = docs.withColumn("__lt", T.tokens(text_col)).select(
            F.col(id_col).alias("doc_id"),
            F.col(text_col).alias("text"),
            F.round(T.quality_score(text_col), 4).alias("quality"),
            T.detect_language_from_tokens(F.col("__lt"))
            .alias("lang_pred"),
            F.round(T.language_confidence_from_tokens(
                F.col("__lt"), temperature=lang_conf_temperature), 4)
            .alias("lang_conf"),
            F.size("__lt").alias("n_tokens"),
            T.fingerprint(text_col).alias("__fp"),
        )
    else:
        scored = docs.select(
            F.col(id_col).alias("doc_id"),
            F.col(text_col).alias("text"),
            F.round(T.quality_score(text_col), 4).alias("quality"),
            T.detect_language(text_col).alias("lang_pred"),
            T.token_count(text_col).alias("n_tokens"),
            T.fingerprint(text_col).alias("__fp"),
        )
    kept = scored.filter(F.col("quality") >= min_quality)
    if languages is not None:
        kept = kept.filter(F.col("lang_pred").isin(*languages))
    if min_lang_conf is not None:
        kept = kept.filter(F.col("lang_conf") >= min_lang_conf)

    # opt-in Gopher repetition thresholds (Rae et al. 2021 Table A1 —
    # the repetition_signals integers turned into the paper's fractions):
    # drop docs whose duplicate-line char fraction or duplicated-5-gram
    # coverage fraction exceeds the caps. Off by default (None) so the
    # established pipeline contract is unchanged.
    if (gopher_max_dup_line_frac is not None
            or gopher_max_dup_ngram_frac is not None):
        from faisssearcher_spark.operators.text_analysis import (
            repetition_signals)
        # signals run over the SURVIVORS (filter-first, the module
        # doctrine), and only the requested ones: the 5-gram
        # explode/groupBy path is the expensive half — skip it when
        # only the line cap is set
        dup_ns = (5,) if gopher_max_dup_ngram_frac is not None else ()
        rep = repetition_signals(kept.select("doc_id", "text"),
                                 top_ns=(), dup_ns=dup_ns)
        kept = kept.join(rep, "doc_id")
        if gopher_max_dup_line_frac is not None:
            # line chars over LINE chars — dividing by token chars
            # would inflate the fraction past 1.0 (spaces count in the
            # numerator's unit but not the denominator's)
            ltot = F.greatest(F.col("total_line_chars"), F.lit(1)) \
                .cast("double")
            kept = kept.filter(
                F.col("dup_line_chars") / ltot
                <= gopher_max_dup_line_frac)
        if gopher_max_dup_ngram_frac is not None:
            ttot = F.greatest(F.col("total_token_chars"), F.lit(1)) \
                .cast("double")
            kept = kept.filter(
                F.col("dup5_chars") / ttot <= gopher_max_dup_ngram_frac)
        kept = kept.drop("total_token_chars", "total_line_chars",
                         "dup_line_chars", *([
                             "dup5_chars"] if dup_ns else []))

    # exact dedup: one survivor (min id) per content fingerprint
    w = Window.partitionBy("__fp").orderBy(F.col("doc_id").asc())
    kept = (kept.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1).drop("__rn", "__fp"))

    landed: "list[tuple[DataFrame, int | None]]" = []
    if near_dup_threshold is not None:
        # the survivor frame feeds BOTH the near-dup pair generation and
        # the final anti-join; land (persist + refcount) it so the
        # quality scoring + exact dedup window (tokenize-heavy) computes
        # once, not twice — at pipeline scale this is the landing-table
        # materialization the streaming half writes anyway
        # (streaming/curate.py)
        kept = _land(kept, landed)
        with _release_on_error(landed):
            pairs = dedup.minhash_lsh_join(
                kept, id_col="doc_id", text_col="text",
                num_hashes=minhash_hashes, bands=minhash_bands,
                shingle_n=shingle_n, verify_threshold=near_dup_threshold)
            # dedup_clusters probes its edge list EAGERLY — a driver
            # collect failure here must not orphan the persist above
            clusters = dedup.dedup_clusters(pairs)
        # non-minimal cluster members are the near-dup casualties
        drop = clusters.filter(F.col("id") != F.col("cluster_id")) \
            .select(F.col("id").alias("doc_id"))
        kept = kept.join(drop, "doc_id", "left_anti")

    out = kept.select("doc_id", "quality", "lang_pred",
                      *(["lang_conf"] if min_lang_conf is not None
                        else []), "n_tokens",
                      *(["text"] if keep_text else []))
    return _release_with(out, landed) if landed else out


def prepare_pretraining_data(
    docs: DataFrame,
    *,
    reference: DataFrame | None = None,
    eval_docs: DataFrame | None = None,
    curated: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_quality: float = 0.3,
    languages: tuple[str, ...] | None = None,
    near_dup_threshold: float | None = 0.5,
    exsub_min_len: "int | str | None" = None,
    ppl_keep_buckets: tuple[int, ...] = (1, 2),
    ppl_thresholds: "list[float] | str | None" = None,
    classifier_alpha: float | None = 9.0,
    classifier_max_iter: int = 20,
    chunk_max_tokens: int = 512,
    chunk_overlap: int = 0,
    pack_budget: int = 4096,
    pack_shards: int = 32,
    seed: int = 42,
) -> DataFrame:
    """The COMPLETE pretraining-prep path, one call — the composition a
    real 100 TB pipeline runs, built from the engine's gated stages:

        heuristics + exact/near dedup     (curate_documents — oracle-gated;
                                           skipped when a pre-curated
                                           landing frame is passed via
                                           ``curated``)
        → ExactSubstr removal             (remove_exact_substrings, when
                                           ``exsub_min_len`` is given —
                                           an int threshold or ``"auto"``
                                           for the duplication-profile
                                           knee; batch-only, loud on
                                           no-duplication corpora)
        → CCNet perplexity head/middle    (unigram_logppl + buckets, when
          keep                             ``reference`` is given)
        → GPT-3 classifier + Pareto keep  (fit on reference-vs-pool,
                                           relational scoring; skipped when
                                           ``reference`` or ``classifier_
                                           alpha`` is None)
        → eval decontamination            (n-gram collision anti-join,
                                           when ``eval_docs`` is given)
        → context-window chunking         (chunk_documents)
        → token-budget packing            (pack_token_budget)

    Output: one row per training chunk —
    ``(doc_id, chunk_idx, chunk_text, n_tokens, shard, bin)`` — ready to
    write partitioned by ``shard``. Deterministic end to end: every
    stochastic stage draws from the seeded md5 samplers, so reruns and
    repartitions produce the identical corpus.

    Scale shape: stages 1-4 are filters over one persisted survivor
    frame (filter-first: the cheap scans cut the corpus before any
    shuffle); the LM/classifier models are Zipf-small broadcast tables;
    chunking explodes only survivors; packing shuffles once on the
    shard key. ``ppl_thresholds`` switches the perplexity split to the
    scan-only CASE (fit thresholds on a sample/prior epoch) — REQUIRED
    at real scale; pass the string ``"fit"`` to derive the cut points
    from one approxQuantile sketch pass over this run's scored
    survivors (the self-training-epoch shape). The default ntile split
    is a global window for bench/oracle-sized runs.
    """
    from faisssearcher_spark.operators.classifier import (
        fit_quality_classifier, pareto_keep)
    from faisssearcher_spark.operators.decontam import decontaminate
    from faisssearcher_spark.operators.sampling import pack_token_budget
    from faisssearcher_spark.operators.text_analysis import (
        chunk_documents, fit_token_frequencies, perplexity_buckets,
        unigram_logppl)

    base = docs.select(F.col(id_col).alias("doc_id"),
                       F.col(text_col).alias("text"))
    # keep_text: the curate stage returns the survivor TEXT alongside the
    # ids — one corpus scan for the whole pipeline head, instead of a
    # second full scan + id join to recover the surviving rows (r12
    # verdict #4 scan audit). The curate RESULT object must stay
    # referenced until the pipeline result dies: its finalizer releases
    # the curate-internal landing cache (_release_with), which the
    # pipeline's consumers still read through.
    #
    # ``curated`` skips the stage entirely: the LANDING-TABLE shape —
    # a production pipeline materializes curate_documents(
    # keep_text=True) once (or streams into it, streaming/curate.py)
    # and runs prep epochs on top, so re-running heuristics + dedup per
    # epoch would price the same work n times. The frame needs
    # (doc_id, text); quality/near-dup knobs are ignored with it.
    landed: "list[tuple[DataFrame, int | None]]" = []
    if curated is None:
        curated = curate_documents(
            base, min_quality=min_quality, languages=languages,
            near_dup_threshold=near_dup_threshold, keep_text=True)
        # internally-built only: a passed-in landing frame's lifetime
        # (and any cache behind it) belongs to the CALLER — releasing
        # it here would tear down a session-scoped landing table the
        # first time one epoch's result is dropped. key None: curated
        # itself is not persisted (its internal caches release through
        # its OWN finalizer once this strong reference drops); the
        # entry exists to hold that reference until the result dies
        landed.append((curated, None))
    survivors = curated.select("doc_id", "text")
    # the persisted survivor frame carries its token array: every
    # downstream consumer (perplexity scoring, classifier scoring,
    # decontamination shingles, chunking) reuses it via tokens_col —
    # ONE tokenize pass over the corpus instead of one per stage
    # (round-5 verdict #5: stages re-tokenized the persisted text)
    kept = _land(survivors.withColumn("__toks", T.tokens("text")), landed)
    # several stages below run EAGER driver work (duplication profile,
    # approxQuantile, MLlib fits, decontam span checks) — any raise
    # must release the persists registered so far (review catch)
    with _release_on_error(landed):

        if exsub_min_len is not None:
            # ExactSubstr removal (Lee et al. 2022) between dedup and
            # scoring: rewrite survivor text with every duplicated run of
            # ≥ exsub_min_len tokens removed, so perplexity/classifier
            # score the CLEANED text and chunks never carry boilerplate
            # runs. ``"auto"`` fits the threshold from the corpus's own
            # duplication-profile knee (dedup.recommend_min_len) — EAGER by
            # documentation, and LOUD (raises) on a corpus with no
            # duplication signal: a silent no-op scan at 100 TB is worse
            # than an error. Batch-only — the profile and the span
            # self-join need the whole corpus (streaming/curate.py refuses
            # the kwarg for the same reason near-dup stays a batch
            # post-pass).
            from faisssearcher_spark.operators.dedup import (
                remove_exact_substrings)
            cleaned = remove_exact_substrings(
                kept, id_col="doc_id", text_col="text",
                min_len=exsub_min_len, keep="none", drop_empty_docs=True,
                tokens_col="__toks")
            # the rewritten text needs a fresh token array for the
            # downstream tokens_col consumers; the pre-clean frame stays
            # persisted — the span machinery references it from several
            # subplans
            kept = _land(cleaned.select("doc_id", "text")
                         .withColumn("__toks", T.tokens("text")), landed)

        if reference is not None:
            lm = fit_token_frequencies(reference, text_col=text_col)
            # NOT landed (r14, measured): unlike the text_token_stats
            # shape (one vocab feeding ~5 consumers), the LM here has
            # exactly two executions (normalizer collect + scoring join
            # side) and the collect is agg-pruned — persisting it paid
            # full-vocab cache materialization on the FIRST epoch for
            # no steady-state gain (fresh-session probe: cold 25-29 s
            # landed vs 19.8-20.2 unlanded, warm 7.0 vs 6.8 flat)
            scored = unigram_logppl(kept, lm, tokens_col="__toks")
            if ppl_thresholds == "fit":
                # the scale path, self-contained: fit the cut points from
                # one bounded approxQuantile sketch pass over the scored
                # survivors, then bucket with the scan-only CASE — no
                # global ntile window anywhere (r6 verdict #6). CCNet
                # itself fixes thresholds from a held-out run; "fit" is
                # the single-job equivalent for a self-training epoch.
                # The scored frame persists across the two passes (quantile
                # fit + bucket filter) — without it the explode+vocab-join
                # scoring plan runs twice.
                scored = _land(scored, landed)
                n_b = max(len(ppl_keep_buckets) + 1, 3)
                qs = [i / n_b for i in range(1, n_b)]
                ppl_thresholds = (scored.filter(F.col("logppl").isNotNull())
                                  .approxQuantile("logppl", qs, 0.001))
            n_b = max(len(ppl_keep_buckets) + 1,
                      (len(ppl_thresholds) + 1) if ppl_thresholds else 3)
            bucketed = perplexity_buckets(scored, n_buckets=n_b,
                                          thresholds=ppl_thresholds)
            keep_ids = bucketed.filter(
                F.col("ppl_bucket").isin(*ppl_keep_buckets)) \
                .select("doc_id")
            kept = kept.join(keep_ids, "doc_id")

            if classifier_alpha is not None:
                qc = fit_quality_classifier(
                    reference.select(F.col(text_col).alias("text")),
                    kept.select("text"), max_iter=classifier_max_iter)
                kept = pareto_keep(qc.score(kept, tokens_col="__toks"),
                                   key_col="doc_id",
                                   alpha=classifier_alpha, seed=seed) \
                    .drop("quality_score")

        if eval_docs is not None:
            kept = decontaminate(kept, eval_docs,
                                 eval_id_col=id_col, eval_text_col=text_col,
                                 train_tokens_col="__toks")

        chunks = chunk_documents(kept, max_tokens=chunk_max_tokens,
                                 overlap=chunk_overlap, tokens_col="__toks")
        # chunk_documents already reports the slice length — reusing it
        # saves a full re-split of the exploded chunk corpus (the largest
        # frame in the pipeline); chunk_text is space-joined non-empty
        # tokens, so the counts are identical by construction
        chunks = chunks.withColumn("n_tokens", F.col("n_chunk_tokens"))
        chunks = chunks.withColumn(
            "__pack_key",
            F.concat_ws("#", F.col("doc_id").cast("string"),
                        F.col("chunk_idx").cast("string")))
        packed = pack_token_budget(chunks, budget=pack_budget,
                                   size_col="n_tokens",
                                   key_col="__pack_key",
                                   n_shards=pack_shards, seed=seed)
    return _release_with(
        packed.select("doc_id", "chunk_idx", "chunk_text", "n_tokens",
                      "shard", "bin"), landed)


def write_training_shards(packed: DataFrame, path: str) -> dict:
    """Land a packed corpus (the :func:`prepare_pretraining_data` output)
    as training shards: parquet partitioned by ``shard``, rows sorted by
    (bin, doc_id, chunk_idx) within each file so a sequential reader
    streams whole bins, plus a ``_manifest`` directory recording per-
    shard chunk/token/bin totals (the reader's integrity check and the
    sampler's shard-weighting input). Returns the manifest as a dict.

    Scale shape: ONE hash shuffle on the shard key (every downstream
    trainer reads shards independently — no global order exists to
    preserve), an in-partition sort, and a metadata-only manifest agg.
    Idempotent overwrite per shard directory — re-running replaces, the
    exactly-once discipline of streaming/sinks.py.
    """
    import os

    (packed.repartition("shard")
     .sortWithinPartitions("bin", "doc_id", "chunk_idx")
     .write.partitionBy("shard").mode("overwrite")
     .parquet(os.path.join(path, "shards")))
    man = (packed.groupBy("shard")
           .agg(F.count("*").alias("n_chunks"),
                F.sum("n_tokens").alias("n_tokens"),
                F.countDistinct("bin").alias("n_bins"))
           .orderBy("shard"))
    man.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(path, "_manifest"))
    return {int(r["shard"]): {"n_chunks": int(r["n_chunks"]),
                              "n_tokens": int(r["n_tokens"]),
                              "n_bins": int(r["n_bins"])}
            for r in man.collect()}


def prepare_sft_data(
    convs: DataFrame,
    *,
    id_col: str = "conv_id",
    conv_col: str = "messages",
    min_turns: int = 2,
    min_tokens: int = 8,
    max_tokens: int = 8192,
    blocklist: "list[str] | None" = None,
    dedup: bool = True,
    turn_template: str = "<|{role}|>\n{content}\n",
) -> DataFrame:
    """The SFT-corpus prep path, one call — the conversation analog of
    :func:`prepare_pretraining_data`, composed from the engine's stages:

        structure validation   (conversations.conversation_stats —
                                roles_valid + turn/size bounds; array-
                                native, no explode, filter-first)
        → render to text       (conversations.render_training_text —
                                deterministic ChatML-style template)
        → lexical safety       (privacy.blocklist_screen drop mode,
                                when ``blocklist`` is given)
        → exact dedup          (dedup.dedup_exact on the rendered text —
                                keep min conv id; near-dup stays the
                                caller's choice: minhash the rendered
                                column like any document table)

    Output: one row per surviving conversation with the rendered
    ``text`` column plus the stats columns — ready for the downstream
    document machinery (chunk → pack, BPE counts, decontamination all
    operate on ``text`` unchanged).
    """
    from faisssearcher_spark.operators import conversations as C
    from faisssearcher_spark.operators import privacy
    from faisssearcher_spark.operators.dedup import dedup_exact

    stats = C.conversation_stats(convs, conv_col=conv_col)
    kept = stats.filter(
        F.col("roles_valid")
        & (F.col("n_turns") >= min_turns)
        & (F.col("n_tokens_est") >= min_tokens)
        & (F.col("n_tokens_est") <= max_tokens))
    rendered = C.render_training_text(kept, conv_col=conv_col,
                                      turn_template=turn_template)
    if blocklist:
        rendered = privacy.blocklist_screen(rendered, blocklist,
                                            mode="drop")
    if dedup:
        rendered = dedup_exact(rendered, ["text"], tie_col=id_col)
    return rendered
