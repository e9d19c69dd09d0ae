"""Scale sweep: measure the unbounded-scale operator paths on a corpus
grown N× beyond the bench scale factor.

The 100 TB design arguments (VERDICT r4 item #2) are plan-verified —
every candidate generator is an equi-join on a derived key, nothing
item-sized broadcasts — but plans don't prove constants. This module
*measures* them: it synthesizes a ``factor``× replica of the bench
``embeddings`` / ``documents`` tables (sf0.1 × 10 ≈ the sf1 the driver
doesn't ship), times the scale-critical paths at 1× and ``factor``×, and
reports the time ratio. A path whose ratio ≲ factor scales linearly in
corpus size (fixed overheads push it below); a superlinear blowup —
e.g. an LSH whose buckets degenerate, or a join that falls back to a
broadcast nested loop — shows up as ratio ≫ factor.

Corpus synthesis is deterministic and similarity-preserving-in-rate:

- embeddings: replica ``r > 0`` of a vector sign-flips each coordinate
  by ``xxhash64(vec_id, r, i) % 2`` — replicas point in essentially
  random directions relative to the original and to each other, so the
  near-duplicate *rate* stays that of the base corpus and LSH bucket
  occupancy grows linearly (what a 10× real corpus does), rather than
  manufacturing 10-way duplicate cliques whose quadratic pair output
  would confound the join-cost measurement.
- documents: replica ``r > 0`` suffixes every token with ``_r`` — token
  counts and shingle-set sizes are preserved exactly, but no shingle
  collides across replicas, so the posting lists / minhash buckets grow
  linearly and pair output stays proportional to the corpus.

Replica 0 is the untouched base table in both cases.

Scaled tables are materialized to parquet in a temp dir and read back,
so every timed run starts from a real parquet scan (column pruning and
pushdown included) exactly like the gated queries.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import time

from pyspark.sql import DataFrame, SparkSession, functions as F

__all__ = ["scaled_embeddings", "scaled_documents", "run_scale_sweep"]


def scaled_embeddings(emb: DataFrame, factor: int) -> DataFrame:
    """``factor``× replica of an embeddings frame (``vec_id``,
    ``embedding``, ``label``); replica r's vec_id = base·factor + r.

    Replicas pair up even/odd: each EVEN replica r points in an
    essentially random direction (sign-flip by ``xxhash64 % 2`` — rep 0
    is the untouched base), and the following ODD replica r+1 reuses
    r's flip pattern with ~1/16 of the LOW-MASS coordinates (|x| ≤
    ‖v‖/8, so each flip moves cosine by ≤ 2·(1/64)) additionally
    flipped — a planted near-duplicate at cos ≥ 1 − k/32 ≈ 0.9
    regardless of how unevenly the corpus distributes coordinate mass
    (flipping arbitrary coordinates made cos swing to ≈ −0.2 on
    heavy-mass dims). A pair with zero eligible flips (~13%) stays an
    EXACT duplicate — also legitimate verify-join work. So the near-dup
    PAIR count grows linearly with the corpus (factor/2 isolated pairs
    per base vector, never a clique whose quadratic output would
    confound the join-cost measurement), and the LSH sweep's
    exact-verify join has real work at every scale point (r5 verdict
    #3: the x10 leg verified zero candidates, timing bucket hashing but
    never the part that grows)."""
    if factor == 1:
        return emb
    reps = emb.sparkSession.range(factor).withColumnRenamed("id", "rep")
    base_rep = F.col("rep") - F.col("rep") % 2     # odd r shares r-1's flips
    # norm materialized as a row attribute BEFORE the transform — an
    # aggregate referenced inside the lambda would re-evaluate per
    # element (the NOTES.md O(d²) trap)
    norm = F.sqrt(F.aggregate(
        F.transform("embedding", lambda x: x.cast("double") * x),
        F.lit(0.0), lambda a, b: a + b))
    # hashes must key on the BASE id: inside the final select, a bare
    # `vec_id` would resolve to the sibling `vec_id` ALIAS (base·factor
    # + rep) via Spark's lateral-column-alias rule — every replica then
    # hashes differently and the even/odd pairing silently degenerates
    # to mutual randomness (this exact bug shipped in r5: replicas keyed
    # on the output id, which didn't matter when all replicas were
    # meant to be random, but breaks planted pairs)
    flipped = F.transform(
        "embedding",
        lambda x, i: F.when(
            ((base_rep != 0)
             # != 0, not == 1: Spark % keeps the dividend's sign, so
             # "== 1" would flip only positive-odd hashes (25%) and
             # bias every even replica to cos ≈ 0.5 with its base
             & (F.xxhash64(F.col("__base_id"), base_rep, i) % 2 != 0))
            != ((F.col("rep") % 2 == 1)
                & (F.xxhash64(F.col("__base_id"), F.col("rep"), i,
                              F.lit("nd")) % 16 == 0)
                & (F.abs(x) <= F.col("__norm") / 8)),
            -x).otherwise(x).cast("float"))
    return (emb.withColumnRenamed("vec_id", "__base_id")
            .crossJoin(F.broadcast(reps))
            .withColumn("__norm", norm)
            .select(
                (F.col("__base_id") * factor + F.col("rep"))
                .alias("vec_id"),
                F.when(F.col("rep") == 0, F.col("embedding"))
                 .otherwise(flipped).alias("embedding"),
                "label"))


def scaled_documents(docs: DataFrame, factor: int) -> DataFrame:
    """``factor``× replica of a documents frame; replica r suffixes every
    token with ``_r`` (token/shingle counts preserved, no cross-replica
    shingle collisions)."""
    if factor == 1:
        return docs
    reps = docs.sparkSession.range(factor).withColumnRenamed("id", "rep")
    salted = F.concat_ws(
        " ",
        F.transform(
            F.split(F.col("text"), r"\s+"),
            lambda t: F.concat(t, F.lit("_"), F.col("rep").cast("string"))))
    return docs.crossJoin(F.broadcast(reps)).select(
        (F.col("doc_id") * factor + F.col("rep")).alias("doc_id"),
        F.when(F.col("rep") == 0, F.col("text")).otherwise(salted)
         .alias("text"),
        "lang", "source")


def _scale_queries(emb: DataFrame, docs: DataFrame, queries: DataFrame,
                   n_emb: int, factor: int = 1):
    """The scale-critical paths, as thunks over the (scaled) corpora.

    knn strategies run a FIXED query set against the growing corpus —
    the serving shape (cost should be linear in corpus); the dedup paths
    run over the whole corpus (cost linear in corpus when the LSH bucket
    join behaves, quadratic when it degenerates).

    Sign-LSH bucket *resolution grows with log₂(n)* (``bits`` sized so
    expected bucket occupancy n/2^bits stays ~constant) — the standard
    LSH sizing discipline. With fixed bits, random-pair bucket
    collisions are ∝ n²/2^bits, i.e. ANY fixed-resolution LSH goes
    quadratic once n ≫ 2^bits; sizing bits to the corpus keeps expected
    candidates ∝ tables·n·occupancy = linear. (Recall per table drops as
    p^bits — at larger n one compensates with more tables; the sweep
    holds tables fixed because it measures join cost, not recall.)"""
    import math

    from faisssearcher_spark.operators import ann, dedup, knn

    def _knn(strategy):
        return lambda: knn.knn_join(
            queries, emb, metric="cos", k=5,
            query_item_col="vec_id", item_key_col="vec_id",
            strategy=strategy)

    # ~8 expected rows per bucket per table (occupancy constant in n ⇒
    # candidates ∝ tables·n·occupancy = linear; the exact-verify dot
    # product is the per-candidate cost, so occupancy directly prices it)
    lsh_bits = max(4, math.ceil(math.log2(max(n_emb, 2) / 8)))
    return {
        "knn_catalyst": _knn("catalyst"),
        "knn_sharded": _knn("sharded"),
        "knn_grid": _knn("grid"),
        "dedup_minhash_lsh": lambda: dedup.minhash_lsh_join(
            docs, num_hashes=16, bands=4, shingle_n=3,
            verify_threshold=0.3),
        "embedding_lsh": lambda: dedup.embedding_cosine_pairs(
            emb, threshold=0.8, strategy="lsh",
            lsh_tables=8, lsh_bits=lsh_bits),
        # replica token-salting keeps windows replica-local, so duplicate
        # spans (and their removal cost) grow linearly with the corpus
        "dedup_spans": lambda: dedup.remove_duplicate_spans(docs, n=10),
        # arbitrary-length ExactSubstr (r10): same window agg + recovery
        # join as dedup_spans, plus the per-doc gaps-and-islands merge
        # over duplicated starts — the merge's window sort is bounded by
        # doc length, so the leg must track windows linearly too
        "dedup_exsub": lambda: dedup.remove_exact_substrings(
            docs, min_len=10),
        # per-source boilerplate strip (r9): groups stay ~25 sources
        # while docs grow 10× — the (group, window, doc)-distinct agg
        # and recovery join must track windows linearly; replica
        # salting keeps template windows replica-local like dedup_spans
        "dedup_boilerplate": lambda: dedup.remove_boilerplate(
            docs, n=10, min_docs=2),
        # quantized search: fit (bounded driver sample + one encode pass)
        # + ADC over the growing code table — the serving shape for a
        # corpus whose float vectors no longer fit anywhere
        "ann_pq": lambda: ann.PQIndex(m=8, metric="cos", seed=42).fit(
            emb, item_key_col="vec_id", item_vec_col="embedding"
        ).search(queries, k=5, query_item_col="vec_id"),
        # graph search: per-shard NSW build (Python insertion loop — the
        # expensive one-time pass, sharded to the core count so it
        # parallelizes) + beam answering; cost should track corpus
        # linearly at fixed shard count since per-shard size grows
        "ann_nsw": lambda: _nsw_topk(queries, emb),
        # lexical retrieval: postings build is two aggs + a join (∝
        # corpus tokens); a FIXED 20-query search against the growing
        # postings (replica token-salting keeps per-term posting lists
        # the size of the base corpus's, so the equi-join output stays
        # linear — exactly how a real 10× crawl grows the long tail)
        "text_bm25": lambda: _bm25_fit_search(docs),
        # bounded-shuffle heavy hitters over the exploded token stream:
        # the candidate scan emits ≤ m rows per Arrow batch no matter
        # how the key space grows, and only candidate occurrences are
        # counted — cost should track the SCAN (linear), not the
        # distinct-token count (the replica suffixes grow it 10×)
        "heavy_hitters": lambda: _heavy_hitters(docs),
        # banded Hamming near-dup (the simhash / image-dedup kernel):
        # planted 64-bit fingerprint pairs (consecutive ids differ in
        # exactly 2 bits, all other fps random) so the verify join has
        # work growing ∝ n; with maximal-width 4×16-bit bands (r6
        # verdict #1 — was 8×8-bit) random band collisions are
        # ∝ 4·n²/2^17, negligible at these n, so rows AND time should
        # track the corpus linearly
        "hamming_pairs": lambda: _hamming_planted(docs),
        # hot-key join, plain vs salted (NOTES r7 lead #5): a fact table
        # with 30% of rows on ONE key joins a too-big-to-broadcast dim.
        # Plain, the hot key's entire row mass lands in one shuffle
        # partition (serial at any cluster size — unless AQE's skew
        # split rescues it, which is itself worth measuring); salted,
        # the same rows spread across `salts` partitions by
        # construction. Both legs must stay ≲ linear in the corpus; the
        # absolute gap prices the mitigation.
        "skew_join_plain": lambda: _skew_join(docs, salted=False),
        "skew_join_salted": lambda: _skew_join(docs, salted=True),
        # Gopher repetition signals (r8 surface): the explode-heaviest
        # aggregate in the engine — dup-line + top-gram + span-union
        # dup-gram coverage, ~8 map-side-combinable branches over the
        # token stream; cost must track tokens (linear), like text_bm25
        "text_repetition": lambda: _repetition(docs),
        # WordPiece encode in the SERVING shape: a tokenizer trained on
        # the FIXED base corpus (replica 0 — training is driver-bounded
        # on the Zipf-small type table and identical at every scale
        # point; memoized, so best-of-N prices encode only) tokenizes
        # the growing corpus — the 100 TB pass is the pandas_udf encode
        "text_wordpiece": _wordpiece_leg(docs, factor),
        # stupid-backoff bigram LM: fit on the fixed base slice (two
        # aggregates over replica 0, constant at both points), score
        # the growing corpus — explode → Zipf-small LM equi-joins
        "text_bigram_lm": lambda: _bigram_leg(docs, factor),
        # the multimodal dedup path's first MEASURED scale point (r10;
        # it was plan-argued only): shift+noise video twins SQL-
        # synthesized from the scaled doc ids (every even/odd pair is
        # a planted match — pairs ∝ corpus), decoded by the real Y4M
        # parser, banded, and matched through the band-token MinHash.
        # Payload bytes stay inside the one decode stage; only band
        # tokens and signatures shuffle — the leg must track videos
        # linearly. The absolute floor is the one-time Janino compile
        # of the 219-part synth concat (~7 s, measured flat x1→x10 at
        # sf0.1: 7.3 → 8.3 s), so the ratio understates growth until
        # the corpus outweighs the compile — rows are the linearity
        # evidence here
        "video_vmh": lambda: _video_vmh(docs, factor),
        # margin-based bitext mining over planted translations, in the
        # SERVING shape: a FIXED src batch (the base corpus — replica 0
        # of the scaled frame) mines against the growing tgt corpus, so
        # candidates ∝ k·(n_src + m) and the knn GEMM ∝ n_src·m — both
        # linear in the corpus, the honest criterion for this leg.
        # (Symmetric full-corpus mining is n·m work by definition —
        # growing BOTH sides 10× is 100× GEMM, measured ratio ~18 when
        # this leg briefly did that — so the exact path's full-mining
        # cost is quadratic and the ANN/bucketed quadrant is the 100 TB
        # answer, exactly as for self-join dedup.) The size-dispatched
        # margin join (r7 verdict #1) is exercised on the growing side.
        "mine_bitext": lambda: _bitext_planted(emb, factor),
    }


def _hamming_planted(docs: DataFrame) -> DataFrame:
    """Planted fingerprint corpus over the (scaled) documents ids: doc
    2m gets the random 64-bit fp xxhash64(m); doc 2m+1 gets the same fp
    with two adjacent bits (position cycling with m) flipped — one
    verified pair (hamming 2) per id pair, linear in the corpus; every
    other pair is random. Measures the hamming_pairs banded join itself,
    independent of simhash text hashing cost."""
    from faisssearcher_spark.operators.dedup import hamming_pairs

    m = F.floor(F.col("doc_id") / 2)
    base = F.xxhash64(m.cast("long"), F.lit("hp"))
    masks = F.array(*[F.lit(3 << (2 * j)).cast("long") for j in range(31)])
    flip = F.element_at(masks, (m % 31 + 1).cast("int"))
    fp = F.when(F.col("doc_id") % 2 == 0, base) \
        .otherwise(base.bitwiseXOR(flip))
    fps = docs.select(F.col("doc_id").alias("id"), fp.alias("fp"))
    return hamming_pairs(fps, bits=64, max_hamming=3)


def _video_vmh(docs: DataFrame, factor: int = 1) -> DataFrame:
    """Shift+noise-tolerant video matching over the synthesized twin
    corpus (registry._gate_video_shiftnoise_assets — pure-SQL Y4M
    payloads keyed on the scaled doc ids, so every even/odd pair is a
    planted shifted+perturbed match and pair output grows linearly
    with the corpus). Payloads materialize to parquet under
    BENCH_MEMO's temp root once per (corpus, factor) — built on the
    leg's FIRST execution, read thereafter, so best-of-N timing
    measures the operator (decode → band → MinHash), not the one-time
    ~7 s Janino compile of the 219-part synth concat that dominated
    both r10 sweep points (r10 verdict #5)."""
    from faisssearcher_spark.operators.multimodal import \
        video_minhash_near_dup_pairs
    from faisssearcher_spark.registry import (BENCH_MEMO,
                                              _gate_video_shiftnoise_assets,
                                              _memo_key)

    # key on a marker ATTRIBUTE stamped onto the docs frame, not
    # id(docs): a CPython address recycles after GC, so a later sweep
    # over a different corpus could silently hit the previous corpus's
    # payloads — a fresh object at a reused address lacks the marker
    # and gets its own entry (review catch)
    marker = getattr(docs, "_fs_vmh_marker", None)
    if marker is None:
        import uuid

        marker = uuid.uuid4().hex
        docs._fs_vmh_marker = marker

    def _build() -> str:
        path = BENCH_MEMO.tmpdir(prefix="vmh_assets_") + "/assets"
        _gate_video_shiftnoise_assets(docs.select("doc_id")) \
            .write.parquet(path)
        return path

    spark = docs.sparkSession
    path = BENCH_MEMO.get(_memo_key(spark, marker, f"vmh_assets_x{factor}"),
                          _build)
    assets = spark.read.parquet(path)
    return video_minhash_near_dup_pairs(assets, hash_size=8,
                                        max_hamming=1, num_hashes=16,
                                        bands=16, verify_threshold=0.15)


def _bitext_planted(emb: DataFrame, factor: int = 1) -> DataFrame:
    """Planted-translation bitext mining in the serving shape: src is
    the FIXED base corpus (replica 0 of the scaled frame — its ids are
    the multiples of ``factor``), tgt the whole (scaled) corpus under
    offset ids. Every src sentence's exact twin is in tgt (cos = 1 and
    the neighborhood averages never exceed 1, so the twin's margin ≥ 1
    ≥ every hub's) — mined rows == |src| exactly, at every scale
    point, which makes the leg self-verifying. Times the full mining
    path: two knn_joins (fixed × growing and growing × fixed), the
    per-id neighborhood averages, candidate union-distinct, the
    size-dispatched margin join, and the best-per-src window."""
    from faisssearcher_spark.operators.bitext import mine_bitext

    src = emb.filter(F.col("vec_id") % factor == 0) \
        .select(F.col("vec_id").alias("src_id"), "embedding")
    tgt = emb.select((F.col("vec_id") + 10_000_000).alias("tgt_id"),
                     "embedding")
    # strategy pinned to the big-corpus quadrant (block × shard GEMM):
    # auto would pick the catalyst pure-plan path at sweep sizes, whose
    # n² codegen dot is NOT the plan a CCMatrix-scale corpus runs
    return mine_bitext(src, tgt, k=4, threshold=1.0, best_per_src=True,
                       strategy="grid")


def _repetition(docs: DataFrame) -> DataFrame:
    from faisssearcher_spark.operators.text_analysis import \
        repetition_signals

    return repetition_signals(docs)


def _wordpiece_leg(docs: DataFrame, factor: int):
    """Thunk factory: train lazily ONCE (memoized — the deep x100 call
    builds this dict without invoking non-DEEP legs, and eager training
    there would be wasted work), then time token_counts over the
    scaled corpus."""
    from faisssearcher_spark.operators.wordpiece import WordPieceTokenizer

    memo: dict = {}

    def thunk() -> DataFrame:
        if "tok" not in memo:
            base = (docs.filter(F.col("doc_id") % factor == 0)
                    if factor > 1 else docs)
            memo["tok"] = WordPieceTokenizer.train(base, n_merges=200)
        return memo["tok"].token_counts(docs)

    return thunk


def _bigram_leg(docs: DataFrame, factor: int) -> DataFrame:
    from faisssearcher_spark.operators.text_analysis import \
        bigram_backoff_logppl

    ref = (docs.filter(F.col("doc_id") % factor == 0)
           if factor > 1 else docs)
    return bigram_backoff_logppl(docs, ref)


def _skew_join(docs: DataFrame, *, salted: bool,
               reps: int = 200, hot_pct: int = 30,
               n_dim: int = 100_000) -> DataFrame:
    """Skewed fact ⋈ dim with a per-key aggregate on top.

    fact = the (scaled) doc ids exploded ``reps``× — ``hot_pct``% of
    rows carry key 0, the rest spread xxhash-uniform over ``n_dim``
    keys. dim = ``n_dim`` keys with an md5 payload. The dim side is
    pinned ``shuffle_hash``: its post-range static estimate is
    kilobytes, and a broadcast would erase the fact-side shuffle this
    leg exists to measure (at 100 TB the dim that skews you is the one
    too big to broadcast)."""
    from faisssearcher_spark.operators.balance import salted_join

    spark = docs.sparkSession
    key = F.when(F.pmod(F.col("doc_id"), F.lit(100)) < hot_pct, F.lit(0)) \
        .otherwise(F.pmod(F.xxhash64("doc_id", F.lit("sk")),
                          F.lit(n_dim)))
    fact = docs.select(F.col("doc_id"), key.cast("long").alias("k")) \
        .withColumn("rep", F.explode(F.sequence(F.lit(0),
                                                F.lit(reps - 1))))
    dim = spark.range(n_dim).select(
        F.col("id").alias("k"), F.md5(F.col("id").cast("string"))
        .alias("pay")).hint("shuffle_hash")
    if salted:
        j = salted_join(fact, dim, "k", salts=32)
    else:
        j = fact.join(dim, "k")
    return j.groupBy("k").agg(F.count("*").alias("n_rows"),
                              F.min("pay").alias("pay"))


def _heavy_hitters(docs: DataFrame) -> DataFrame:
    from faisssearcher_spark.functions.text import tokens
    from faisssearcher_spark.operators.sketches import heavy_hitters

    toks = docs.select(F.explode_outer(tokens("text")).alias("tok")) \
        .filter(F.col("tok").isNotNull())
    return heavy_hitters(toks, "tok", k=20)


def _nsw_topk(queries: DataFrame, emb: DataFrame) -> DataFrame:
    from faisssearcher_spark.operators.graph import nsw_topk

    return nsw_topk(queries, emb, k=5, m=8, ef_construction=32,
                    ef_search=48,
                    n_shards=int(os.environ.get("SPARK_GRAFT_CPUS", "32")),
                    query_item_col="vec_id", item_key_col="vec_id")


def _bm25_fit_search(docs: DataFrame) -> DataFrame:
    from faisssearcher_spark.operators.bm25 import BM25Index

    q = docs.orderBy("doc_id").limit(20).select(
        F.col("doc_id").alias("qid"), "text")
    return BM25Index().fit(docs).search(q, k=10, query_item_col="qid")


#: legs that also run at the deep scale point: the two whose cost is
#: dominated by work that only exists at large n (LSH exact-verify join,
#: grid GEMM cells), plus the NSW graph build — at 100× the corpus its
#: per-shard insertion loop runs on shards 10× the 10×-point's size,
#: which is what prices the batched-insertion kernel (r6 verdict #4)
#: mine_bitext joined in r13 (the r12 sweep's second-worst 10× ratio,
#: 1.68, had no deep point): fixed src batch against the 100× tgt
#: corpus — candidates stay k·(n_src + m), rows fixed at n_src by
#: best_per_src, so the deep ratio isolates the GEMM + margin join.
DEEP_LEGS = ("embedding_lsh", "knn_grid", "ann_nsw", "mine_bitext")

#: document-corpus legs that also run at the deep point (r9 verdict #3:
#: these are the 100-TB-critical dedup candidate-generation joins —
#: banded minhash equi-join, pigeonhole hamming band join, boilerplate
#: distinct-count + recovery join — and 10× alone can hide a quadratic
#: term that only dominates past it). They need a deep DOCUMENTS
#: corpus, which the embedding-only deep point never built before.
#: video_vmh joined in r13 (the r12 sweep's worst 10× ratio, 1.9, had
#: no deep point): at x100 the planted shift+noise pairs grow with the
#: corpus while the Janino-compile floor stays one-time, so the deep
#: ratio is the first reading where decode+band work dominates compile.
DEEP_DOC_LEGS = ("dedup_minhash_lsh", "hamming_pairs",
                 "dedup_boilerplate", "video_vmh")


def run_scale_sweep(spark: SparkSession, sf_dir: str, *,
                    factor: int = 10, n_queries: int = 20,
                    runs: int = 2, deep_factor: int | None = None) -> dict:
    """Time the scale-critical paths at 1× and ``factor``× the corpus.

    Returns a JSON-able dict:
    ``{"factor": N, "corpus_rows": {...}, "queries": {name:
    {"sec_x1": s, "sec_xN": s, "rows_x1": n, "rows_xN": n,
    "time_ratio": s_xN / s_x1}}}`` — ``time_ratio`` ≲ ``factor`` is the
    linear-scaling criterion (see module docstring).

    ``deep_factor`` (e.g. 100) adds one more corpus point for the
    DEEP_LEGS only (single run — these are the expensive ones), with
    ``time_ratio_deep`` = sec_x{deep} / sec_x{factor}: between x10 and
    x100 BOTH sides carry planted near-dup verification work (see
    :func:`scaled_embeddings`), so this ratio is the honest
    verified-join scaling number.
    """
    from faisssearcher_spark.sources.catalog import load_table

    emb_base = load_table(spark, sf_dir, "embeddings")
    docs_base = load_table(spark, sf_dir, "documents")
    n_emb = emb_base.count()
    # fixed, deterministic query set drawn from the base corpus
    stride = max(1, n_emb // n_queries)
    queries = emb_base.filter(F.col("vec_id") % stride == 0) \
        .select("vec_id", "embedding")

    tmp = tempfile.mkdtemp(prefix="scalebench_")
    result: dict = {"factor": factor, "n_queries": queries.count(),
                    "corpus_rows": {}, "queries": {}}
    try:
        frames: dict[int, tuple[DataFrame, DataFrame]] = {}
        for f in (1, factor):
            epath = f"{tmp}/embeddings_x{f}"
            dpath = f"{tmp}/documents_x{f}"
            scaled_embeddings(emb_base, f).write.parquet(epath)
            scaled_documents(docs_base, f).write.parquet(dpath)
            # repartition to the core count: these corpora are small
            # files, and Spark's open-cost file coalescing would read
            # them as ONE input split — serializing every downstream
            # CodegenFallback expression onto a single thread (measured:
            # a 35 s single-task LSH bucket eval vs ~2 s spread). A real
            # 100 TB input arrives in thousands of splits; this models
            # that, at the price of one tiny shuffle.
            n_part = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
            emb = spark.read.parquet(epath).repartition(n_part)
            docs = spark.read.parquet(dpath).repartition(n_part)
            frames[f] = (emb, docs)
            result["corpus_rows"][f"x{f}"] = {
                "embeddings": emb.count(), "documents": docs.count()}

        for f in (1, factor):
            emb, docs = frames[f]
            n_emb_f = result["corpus_rows"][f"x{f}"]["embeddings"]
            sqs = _scale_queries(emb, docs, queries, n_emb_f,
                                 factor=f)
            for name, thunk in sqs.items():
                best = float("inf")
                for _ in range(runs):
                    t0 = time.time()
                    thunk().write.mode("overwrite").format("noop").save()
                    best = min(best, time.time() - t0)
                q = result["queries"].setdefault(name, {})
                q[f"sec_x{f}"] = round(best, 3)
                # pair-output linearity is part of the evidence for the
                # dedup paths; knn output is n_queries·k by construction,
                # so skip the extra execution there.
                if not name.startswith("knn_"):
                    q[f"rows_x{f}"] = thunk().count()

        if deep_factor:
            dfac = int(deep_factor)
            epath = f"{tmp}/embeddings_x{dfac}"
            dpath = f"{tmp}/documents_x{dfac}"
            scaled_embeddings(emb_base, dfac).write.parquet(epath)
            scaled_documents(docs_base, dfac).write.parquet(dpath)
            n_part = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
            emb_deep = spark.read.parquet(epath).repartition(n_part)
            docs_deep = spark.read.parquet(dpath).repartition(n_part)
            n_deep = emb_deep.count()
            result["corpus_rows"][f"x{dfac}"] = {
                "embeddings": n_deep, "documents": docs_deep.count()}
            sqs = _scale_queries(emb_deep, docs_deep, queries,
                                 n_deep, factor=dfac)
            for name in DEEP_LEGS + DEEP_DOC_LEGS:
                # best-of-2, NOT single-shot: the deep point runs at
                # the END of a long bench session, exactly where
                # first-execution costs inflate (the r4 uptime effect)
                # — one-shot deep readings produced phantom
                # "regressions" three rounds running (r7 ann_pq 5.8,
                # r8 ann_nsw 13.4, r9 nsw 56×), each attributed to
                # drift by quiet-machine repeats after the fact
                best = float("inf")
                for _ in range(2):
                    t0 = time.time()
                    sqs[name]().write.mode("overwrite") \
                        .format("noop").save()
                    best = min(best, time.time() - t0)
                q = result["queries"][name]
                q[f"sec_x{dfac}"] = round(best, 3)
                if not name.startswith("knn_"):
                    q[f"rows_x{dfac}"] = sqs[name]().count()

        for name, q in result["queries"].items():
            base = q["sec_x1"]
            q["time_ratio"] = round(q[f"sec_x{factor}"] / base, 2) \
                if base > 0 else None
            if deep_factor and f"sec_x{int(deep_factor)}" in q:
                mid = q[f"sec_x{factor}"]
                q["time_ratio_deep"] = \
                    round(q[f"sec_x{int(deep_factor)}"] / mid, 2) \
                    if mid > 0 else None
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return result
