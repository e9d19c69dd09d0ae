"""Query registry: every implemented operator as a (spark, sf_dir) -> DataFrame
callable plus its DuckDB oracle SQL (the driver's correctness gate).

Conventions (FIXTURES.md §3):
- every computed column is aliased identically in Spark and SQL;
- similarity/distance scores are rounded to 4 decimals on BOTH sides and
  rounding happens BEFORE ranking, so top-K tie-breaking is deterministic
  across engines (ties broken by item id);
- timestamps are formatted to strings to dodge timezone representation
  differences between engines.

Every entry carries an oracle (NO_ORACLE is empty as of r3): the two
non-SQL-expressible numerics (approx-ANN recall, whitening) emit their
defining invariants as boolean rows against constant-row oracles, so even
they are hash-checked.
"""

from __future__ import annotations

from typing import Callable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from faisssearcher_spark.encoders.mock import HashingEncoder
from faisssearcher_spark.functions import metrics as M
from faisssearcher_spark.functions import text as T
from faisssearcher_spark.memo import LandedFrame, SessionMemo
from faisssearcher_spark.operators import (ann, dedup, events, temporal,
                                           text_analysis)
from faisssearcher_spark.operators.knn import cal_sim, knn_join
from faisssearcher_spark.operators.whitening import VecsWhitening
from faisssearcher_spark.sources.catalog import load_table
# scale-adaptive split floor (no-op on production-sized tables): legs
# whose MAP side is the cost — interpreted tokenize/codec work before
# the first shuffle — opt in per call site; legs that fan one scan into
# many shuffling subtrees measured SLOWER with it (each subtree pays an
# extra exchange: text_fingerprints 4.4 -> 6.1 s) and stay on the raw
# loader. See OPTIMIZATION_r13.md.
from faisssearcher_spark.sources.catalog import load_table_parallel

# ---------------------------------------------------------------------------
# shared SQL fragments (DuckDB dialect)
# ---------------------------------------------------------------------------

# L2-normalized double vector for DuckDB (column `embedding`). The CASE
# guards the zero norm the same way the Spark side does
# (l2_normalize(on_zero=vec), operators/knn.py): a zero vector
# stays zero (score 0) instead of dividing to NaN — DuckDB sorts NaN
# greatest, so an unguarded oracle would rank a zero vector FIRST while
# Spark ranks it last (r2 ADVICE divergence).
_NORM = ("list_transform(embedding::DOUBLE[], x -> x * "
         "(CASE WHEN list_sum(list_transform(embedding::DOUBLE[], y -> y*y)) = 0 "
         "THEN 0.0 ELSE 1.0 / "
         "sqrt(list_sum(list_transform(embedding::DOUBLE[], y -> y*y))) END))")

# dot product of two double lists a, b
def _dot(a: str, b: str) -> str:
    return (f"list_sum(list_transform(range(1, len({a})+1), "
            f"i -> {a}[i] * {b}[i]))")

# whitespace tokens, empties dropped (matches functions/text.py::tokens)
_TOKS = ("list_filter(regexp_split_to_array(trim(text), '\\s+'), "
         "t -> t != '')")

_MD5INT = "('0x' || substring(md5({x}), 1, 8))::BIGINT"

#: the bench session memo (faisssearcher_spark/memo.py): fitted indexes,
#: the curate landing frame, the store arcs' collected rows and the
#: streamed-CMS state dir. The reference trains once and searches many
#: times (faiss_searcher.py:116-125 trains, :161 searches the trained
#: index); without the memo every bench invocation re-paid the driver
#: training (~1-2 s numpy Lloyd for OPQ) plus the corpus encode pass, so
#: the isolated pass timed "train+encode+search" where a serving
#: deployment pays only "search", and single-sample train noise read as
#: a search regression (r11 verdict #2). The fit is priced once in the
#: cold pass; warm/isolated price the steady state. The store-arc bench
#: entries (dedup_incremental_screen, dedup_upsert_screen,
#: dedup_fpstore_screen, text_cms_stream) refresh their entry so they
#: time the real I/O while the gate queries reuse it. bench.py closes
#: the memo at pass boundaries and at the end of the run.
BENCH_MEMO = SessionMemo()


def _memo_key(spark: SparkSession, sf_dir: str, spec: str) -> tuple:
    """BENCH_MEMO key: entries hold live session-bound DataFrames, so a
    second session in the same process re-builds instead of inheriting
    handles into a stopped one."""
    return (spark.sparkContext.applicationId, sf_dir, spec)


# ===========================================================================
# 1. vector parity surface (reference operators)
# ===========================================================================

def q_knn_cosine_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: exact top-5 cosine neighbors for 20 query vectors
    (reference J1/W1/W2/M1 path, faiss_searcher.py:161-187)."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"), "embedding")
    res = knn_join(q, emb, metric="cos", k=5, query_item_col="qid",
                   item_key_col="vec_id", payload_cols=["label"],
                   score_scale=4)
    return res.select(F.col("source_item").cast("long").alias("source_item"),
                      F.col("sim_item").cast("long").alias("sim_item"),
                      "sim_val", "rank_no", "label")


def q_knn_radius_cos(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FAISS range_search parity (operators/knn.radius_join): every item
    with cosine > 0.25 of each of the 20 query vectors — unordered, no
    top-k cap, strict inequality on the rounded score (both engines
    filter the same 4dp values, so strictness is engine-portable).
    rank_no rides the gate schema as the -1 sentinel."""
    from faisssearcher_spark.operators.knn import radius_join
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"), "embedding")
    res = radius_join(q, emb, metric="cos", radius=0.25,
                      query_item_col="qid", item_key_col="vec_id",
                      payload_cols=["label"], score_scale=4)
    return res.select(F.col("source_item").cast("long").alias("source_item"),
                      F.col("sim_item").cast("long").alias("sim_item"),
                      "sim_val", F.lit(-1).alias("rank_no"), "label")


ORACLE_KNN_COS = f"""
WITH q AS (SELECT vec_id AS qid, {_NORM} AS qv FROM embeddings WHERE vec_id < 20),
     it AS (SELECT vec_id, label, {_NORM} AS iv FROM embeddings),
     scored AS (SELECT q.qid, it.vec_id, it.label,
                       round({_dot('q.qv', 'it.iv')}, 4) AS sim_val
                FROM q CROSS JOIN it),
     ranked AS (SELECT *, row_number() OVER
                  (PARTITION BY qid ORDER BY sim_val DESC, vec_id ASC) AS rn
                FROM scored)
SELECT qid AS source_item, vec_id AS sim_item, sim_val,
       (rn - 1)::INT AS rank_no, label
FROM ranked WHERE rn <= 5
"""


def q_knn_l2_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-5 under squared-L2 (FAISS METRIC_L2 convention, ascending)."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"), "embedding")
    res = knn_join(q, emb, metric="l2", k=5, query_item_col="qid",
                   item_key_col="vec_id", payload_cols=[], score_scale=4)
    return res.select(F.col("source_item").cast("long").alias("source_item"),
                      F.col("sim_item").cast("long").alias("sim_item"),
                      "sim_val", "rank_no")


ORACLE_KNN_L2 = f"""
WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
           FROM embeddings WHERE vec_id < 20),
     it AS (SELECT vec_id, embedding::DOUBLE[] AS iv FROM embeddings),
     scored AS (SELECT q.qid, it.vec_id,
                       round(list_sum(list_transform(range(1, len(q.qv)+1),
                             i -> (q.qv[i]-it.iv[i])*(q.qv[i]-it.iv[i]))), 4) AS sim_val
                FROM q CROSS JOIN it),
     ranked AS (SELECT *, row_number() OVER
                  (PARTITION BY qid ORDER BY sim_val ASC, vec_id ASC) AS rn
                FROM scored)
SELECT qid AS source_item, vec_id AS sim_item, sim_val, (rn - 1)::INT AS rank_no
FROM ranked WHERE rn <= 5
"""


def q_knn_blocked_cos_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME query as knn_cosine_top5 through the blocked-matmul
    strategy (broadcast corpus matrix + numpy GEMM in mapInPandas) —
    hash-checked against the identical oracle to prove the fast path is
    exact, ties included."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"), "embedding")
    res = knn_join(q, emb, metric="cos", k=5, query_item_col="qid",
                   item_key_col="vec_id", payload_cols=["label"],
                   score_scale=4, strategy="blocked")
    return res.select(F.col("source_item").cast("long").alias("source_item"),
                      F.col("sim_item").cast("long").alias("sim_item"),
                      "sim_val", "rank_no", "label")


def q_knn_sharded_cos_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME query as knn_cosine_top5 through the shard-and-merge
    strategy (broadcast query matrix + per-item-shard local top-k +
    candidate merge — the plan for corpora larger than one machine).
    Items are repartitioned to 7 shards so the merge genuinely crosses
    shard boundaries; hash-checked against the identical oracle."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"), "embedding")
    res = knn_join(q, emb.repartition(7), metric="cos", k=5,
                   query_item_col="qid", item_key_col="vec_id",
                   payload_cols=["label"], score_scale=4,
                   strategy="sharded")
    return res.select(F.col("source_item").cast("long").alias("source_item"),
                      F.col("sim_item").cast("long").alias("sim_item"),
                      "sim_val", "rank_no", "label")


def q_knn_grid_cos_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME query as knn_cosine_top5 through the grid strategy
    (query-block × item-shard cogrouped GEMM cells + two-level top-k
    merge — the plan when BOTH sides exceed one machine). A non-trivial
    3×5 grid so the merge genuinely crosses cell boundaries; hash-checked
    against the identical oracle."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"), "embedding")
    res = knn_join(q, emb, metric="cos", k=5, query_item_col="qid",
                   item_key_col="vec_id", payload_cols=["label"],
                   score_scale=4, strategy="grid",
                   n_query_blocks=3, n_item_shards=5)
    return res.select(F.col("source_item").cast("long").alias("source_item"),
                      F.col("sim_item").cast("long").alias("sim_item"),
                      "sim_val", "rank_no", "label")


def q_knn_cos_strategies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALL FOUR knn_join execution strategies answering the identical
    query (top-5 cosine for 20 query vectors with payload carry),
    tag-unioned into one gate row: catalyst (pure-plan BNLJ + window),
    blocked (broadcast corpus GEMM), sharded (broadcast queries,
    per-shard local top-k + merge), grid (block × shard cogrouped GEMM
    cells). Every variant must hash-match the SAME DuckDB oracle
    replicated once per strategy tag — one driver row proves the whole
    strategy matrix exact, ties included (r3 verdict #2: the variants
    held three of the 54 registry slots while the driver records 50).

    EXTENDED (round 7) with a ``filtered`` leg — the vector-DB
    "metadata filter + vector search" composition: the item-side
    predicate (``label <= 3``) composes declaratively with the knn
    kernel, so Catalyst pushes it into the parquet scan (pinned in
    tests/test_plans.py) and the filtered corpus is never
    materialized; its oracle branch applies the same WHERE.

    EXTENDED (round 8) with a ``radius`` leg — FAISS range_search
    parity (operators/knn.radius_join): all pairs with rounded cosine
    strictly above 0.25, no top-k, rank_no = -1 sentinel."""
    parts = []
    for tag, fn in (("auto", q_knn_auto_cos_top5),
                    ("catalyst", q_knn_cosine_top5),
                    ("blocked", q_knn_blocked_cos_top5),
                    ("sharded", q_knn_sharded_cos_top5),
                    ("grid", q_knn_grid_cos_top5),
                    ("filtered", q_knn_filtered_cos_top5),
                    ("radius", q_knn_radius_cos)):
        parts.append(fn(spark, sf_dir).select(
            F.lit(tag).alias("strategy"), "source_item", "sim_item",
            "sim_val", "rank_no", "label"))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def q_knn_auto_cos_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME query as knn_cosine_top5 through ``strategy="auto"`` —
    the size-estimated dispatch (operators/knn.py) picks the kernel from
    Catalyst's real byte estimates end-to-end; hash-checked against the
    identical oracle so whichever kernel it routes to must be exact."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"), "embedding")
    res = knn_join(q, emb, metric="cos", k=5, query_item_col="qid",
                   item_key_col="vec_id", payload_cols=["label"],
                   score_scale=4, strategy="auto")
    return res.select(F.col("source_item").cast("long").alias("source_item"),
                      F.col("sim_item").cast("long").alias("sim_item"),
                      "sim_val", "rank_no", "label")


def q_knn_filtered_cos_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-filtered vector search: top-5 cosine over only the
    ``label <= 3`` slice of the corpus. The predicate is an input to the
    same declarative kernel — no dedicated "filtered index" machinery,
    Catalyst prunes at the scan."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"), "embedding")
    items = emb.filter(F.col("label") <= 3)
    res = knn_join(q, items, metric="cos", k=5, query_item_col="qid",
                   item_key_col="vec_id", payload_cols=["label"],
                   score_scale=4)
    return res.select(F.col("source_item").cast("long").alias("source_item"),
                      F.col("sim_item").cast("long").alias("sim_item"),
                      "sim_val", "rank_no", "label")


ORACLE_KNN_STRATEGIES = f"""
WITH base AS ({ORACLE_KNN_COS}),
     fq AS (SELECT vec_id AS qid, {_NORM} AS qv FROM embeddings
            WHERE vec_id < 20),
     fit AS (SELECT vec_id, label, {_NORM} AS iv FROM embeddings
             WHERE label <= 3),
     fsc AS (SELECT fq.qid, fit.vec_id, fit.label,
                    round({_dot('fq.qv', 'fit.iv')}, 4) AS sim_val
             FROM fq CROSS JOIN fit),
     frk AS (SELECT *, row_number() OVER
               (PARTITION BY qid ORDER BY sim_val DESC, vec_id ASC) AS rn
             FROM fsc)
SELECT s.strategy, b.source_item, b.sim_item, b.sim_val, b.rank_no, b.label
FROM base b CROSS JOIN (SELECT unnest(['auto', 'catalyst', 'blocked',
                                      'sharded', 'grid']) AS strategy) s
UNION ALL
SELECT 'filtered', qid, vec_id, sim_val, (rn - 1)::INT, label
FROM frk WHERE rn <= 5
UNION ALL
SELECT 'radius', q.qid, it.vec_id,
       round({_dot('q.qv', 'it.iv')}, 4), (-1)::INT, it.label
FROM (SELECT vec_id AS qid, {_NORM} AS qv FROM embeddings
      WHERE vec_id < 20) q
CROSS JOIN (SELECT vec_id, label, {_NORM} AS iv FROM embeddings) it
WHERE round({_dot('q.qv', 'it.iv')}, 4) > 0.25
"""


def q_knn_self_similar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs self-similarity (item-to-item recommendation shape):
    EVERY vector queries the full corpus for its top-3 cosine neighbors —
    the m=n workload where the blocked GEMM path is ~17× the per-pair
    expression plan at sf0.1."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.select(F.col("vec_id").alias("qid"), "embedding")
    res = knn_join(q, emb, metric="cos", k=3, query_item_col="qid",
                   item_key_col="vec_id", payload_cols=[],
                   score_scale=4, strategy="blocked")
    return res.select(F.col("source_item").cast("long").alias("source_item"),
                      F.col("sim_item").cast("long").alias("sim_item"),
                      "sim_val", "rank_no")


ORACLE_KNN_SELF = f"""
WITH q AS (SELECT vec_id AS qid, {_NORM} AS qv FROM embeddings),
     it AS (SELECT vec_id, {_NORM} AS iv FROM embeddings),
     scored AS (SELECT q.qid, it.vec_id,
                       round({_dot('q.qv', 'it.iv')}, 4) AS sim_val
                FROM q CROSS JOIN it),
     ranked AS (SELECT *, row_number() OVER
                  (PARTITION BY qid ORDER BY sim_val DESC, vec_id ASC) AS rn
                FROM scored)
SELECT qid AS source_item, vec_id AS sim_item, sim_val, (rn - 1)::INT AS rank_no
FROM ranked WHERE rn <= 3
"""


def q_cal_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cal_sim parity (faiss_searcher.py:192-198): raw dot product of one
    query vector against every item, all N returned ranked."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0)
    res = cal_sim(q, emb, cand_key_col="vec_id")
    return res.select(F.col("vec_id").alias("sim_item"),
                      F.round("score", 4).alias("score"), "label")


ORACLE_CAL_SIM = f"""
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
     it AS (SELECT vec_id, label, embedding::DOUBLE[] AS iv FROM embeddings)
SELECT it.vec_id AS sim_item, round({_dot('q.qv', 'it.iv')}, 4) AS score, label
FROM q CROSS JOIN it
"""


def q_pairwise_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full metric library M1-M8 over consecutive-id vector pairs.

    EXTENDED (round 7 session 4, the 50-cap column pattern) with
    margin-based bitext mining (operators/bitext.py, Artetxe & Schwenk
    2019): evens < 100 are the source corpus, odds < 100 the target;
    every EVEN id_a row carries its best-margin mined target
    (``bitext_tgt``) and the ratio margin at 4dp (``bitext_margin``) —
    forward/backward k-NN, neighborhood averages, candidate union, and
    the best-per-src window all value-checked against a brute-force
    DuckDB twin. Odd rows carry the engine-standard sentinels (-1,
    0.0 — NULLs render differently across engines)."""
    from faisssearcher_spark.operators.bitext import mine_bitext

    emb = load_table(spark, sf_dir, "embeddings")
    a = emb.filter(F.col("vec_id") < 100).select(
        F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    b = emb.select((F.col("vec_id") - 1).alias("id_a"),
                   F.col("embedding").alias("vb"))
    pairs = a.join(b, "id_a")
    abs_a = F.transform(M.as_double("va"), F.abs)
    abs_b = F.transform(M.as_double("vb"), F.abs)
    src = emb.filter((F.col("vec_id") % 2 == 0) & (F.col("vec_id") < 100)) \
        .select(F.col("vec_id").alias("src_id"), "embedding")
    tgt = emb.filter((F.col("vec_id") % 2 == 1) & (F.col("vec_id") < 100)) \
        .select(F.col("vec_id").alias("tgt_id"), "embedding")
    mined = mine_bitext(src, tgt, k=4, threshold=0.0, best_per_src=True,
                        score_scale=4) \
        .select(F.col("src_id").alias("id_a"),
                F.col("tgt_id").alias("bitext_tgt"),
                F.col("margin").alias("bitext_margin"))
    return pairs.select(
        "id_a",
        F.round(M.cosine("va", "vb"), 4).alias("cos_sim"),
        F.round(M.inner_product("va", "vb"), 4).alias("ip"),
        F.round(M.l2_squared("va", "vb"), 4).alias("l2_sq"),
        F.round(M.l1("va", "vb"), 4).alias("l1_dist"),
        F.round(M.l_inf("va", "vb"), 4).alias("linf_dist"),
        F.round(M.l_p("va", "vb", 3.0), 4).alias("lp3_dist"),
        F.round(M.bray_curtis("va", "vb"), 4).alias("braycurtis_dist"),
        F.round(M.canberra("va", "vb"), 4).alias("canberra_dist"),
        F.round(M.jensen_shannon(abs_a, abs_b), 4).alias("js_div"),
    ).join(mined, "id_a", "left") \
        .withColumn("bitext_tgt",
                    F.coalesce(F.col("bitext_tgt"), F.lit(-1)))\
        .withColumn("bitext_margin",
                    F.coalesce(F.col("bitext_margin"), F.lit(0.0)))


ORACLE_PAIRWISE = """
WITH a AS (SELECT vec_id AS id_a, embedding::DOUBLE[] AS va
           FROM embeddings WHERE vec_id < 100),
     b AS (SELECT vec_id - 1 AS id_a, embedding::DOUBLE[] AS vb FROM embeddings),
     p AS (SELECT a.id_a, va, vb,
                  list_transform(va, x -> abs(x)) AS aa,
                  list_transform(vb, x -> abs(x)) AS ab
           FROM a JOIN b USING (id_a))
SELECT id_a,
  round(list_sum(list_transform(range(1, len(va)+1), i -> va[i]*vb[i]))
        / (sqrt(list_sum(list_transform(va, x -> x*x)))
           * sqrt(list_sum(list_transform(vb, x -> x*x)))), 4) AS cos_sim,
  round(list_sum(list_transform(range(1, len(va)+1), i -> va[i]*vb[i])), 4) AS ip,
  round(list_sum(list_transform(range(1, len(va)+1),
        i -> (va[i]-vb[i])*(va[i]-vb[i]))), 4) AS l2_sq,
  round(list_sum(list_transform(range(1, len(va)+1), i -> abs(va[i]-vb[i]))), 4) AS l1_dist,
  round(list_max(list_transform(range(1, len(va)+1), i -> abs(va[i]-vb[i]))), 4) AS linf_dist,
  round(list_sum(list_transform(range(1, len(va)+1), i -> abs(va[i]-vb[i])**3)), 4) AS lp3_dist,
  round(list_sum(list_transform(range(1, len(va)+1), i -> abs(va[i]-vb[i])))
        / list_sum(list_transform(range(1, len(va)+1), i -> abs(va[i]+vb[i]))), 4) AS braycurtis_dist,
  round(list_sum(list_transform(range(1, len(va)+1),
        i -> CASE WHEN abs(va[i]) + abs(vb[i]) != 0
                  THEN abs(va[i]-vb[i]) / (abs(va[i])+abs(vb[i])) ELSE 0 END)), 4) AS canberra_dist,
  round(0.5 * list_sum(list_transform(range(1, len(aa)+1), i ->
        (CASE WHEN aa[i] > 0 THEN aa[i]*ln(2*aa[i]/(aa[i]+ab[i])) ELSE 0 END)
      + (CASE WHEN ab[i] > 0 THEN ab[i]*ln(2*ab[i]/(aa[i]+ab[i])) ELSE 0 END))), 4) AS js_div,
  coalesce(bb.tid, -1) AS bitext_tgt,
  coalesce(bb.m, 0.0) AS bitext_margin
FROM p
LEFT JOIN (SELECT sid, tid, m FROM bbest WHERE rn = 1) bb
  ON p.id_a = bb.sid
"""

# bitext-margin twin CTEs (brute-force forward/backward top-4,
# neighborhood averages, candidate union, ratio margin, best per src)
# injected into ORACLE_PAIRWISE's WITH list
_ORACLE_BITEXT_CTES = f"""
     be AS (SELECT vec_id, {_NORM} AS v FROM embeddings
            WHERE vec_id < 100),
     bsrc AS (SELECT vec_id AS sid, v FROM be WHERE vec_id % 2 = 0),
     btgt AS (SELECT vec_id AS tid, v FROM be WHERE vec_id % 2 = 1),
     ball AS (SELECT sid, tid, {_dot('bsrc.v', 'btgt.v')} AS c
              FROM bsrc CROSS JOIN btgt),
     bfwd AS (SELECT *, row_number() OVER
                (PARTITION BY sid ORDER BY c DESC, tid ASC) AS rn
              FROM ball),
     bbwd AS (SELECT *, row_number() OVER
                (PARTITION BY tid ORDER BY c DESC, sid ASC) AS rn
              FROM ball),
     bsa AS (SELECT sid, avg(c) AS sa FROM bfwd WHERE rn <= 4
             GROUP BY sid),
     bta AS (SELECT tid, avg(c) AS ta FROM bbwd WHERE rn <= 4
             GROUP BY tid),
     bcand AS (SELECT sid, tid, max(c) AS c FROM (
                 SELECT sid, tid, c FROM bfwd WHERE rn <= 4
                 UNION ALL SELECT sid, tid, c FROM bbwd WHERE rn <= 4)
               GROUP BY sid, tid),
     bmar AS (SELECT sid, tid,
                     round(CASE WHEN (sa + ta) / 2 > 0
                                THEN c / ((sa + ta) / 2) END, 4) AS m
              FROM bcand JOIN bsa USING (sid) JOIN bta USING (tid)),
     -- WHERE replays mine_bitext exactly: the threshold filter
     -- (margin >= 0 at the gate's threshold=0.0; NULL = degenerate
     -- denominator) applies BEFORE the best-per-src window
     bbest AS (SELECT sid, tid, m, row_number() OVER
                 (PARTITION BY sid ORDER BY m DESC, tid ASC) AS rn
               FROM bmar WHERE m >= 0)"""

ORACLE_PAIRWISE = ORACLE_PAIRWISE.replace(
    "           FROM a JOIN b USING (id_a))",
    "           FROM a JOIN b USING (id_a)),"
    + _ORACLE_BITEXT_CTES)


def q_vector_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalization building block (P3/A4): per-vector L2 norm and dim.

    EXTENDED (round 7, the 50-cap column pattern) with the int8 storage
    codec (functions/vector.quantize_i8 — the 4× embedding-column
    compression a 100 TB store runs): ``i8_scale`` is the per-vector
    symmetric scale (max|x|/127, float32) and ``i8_self_dot`` the
    integer-space self dot product times scale² — every code, the scale
    quantization, and the exact long accumulation are value-checked
    against a DuckDB twin that replays the same double→code→float32
    arithmetic.

    EXTENDED again (round 7, session 2) with the fp16 codec
    (functions/vector.quantize_f16 — IEEE 754 binary16 bit patterns as
    array<smallint>, the 2× codec with uniform RELATIVE precision):
    ``f16_hash`` is the md5 of the comma-joined code list (every bit
    pattern — sign, corrected exponent, round-half-even mantissa,
    subnormals — checked verbatim) and ``f16_dsum`` the sum of decoded
    values times 2^24, an EXACT long (the smallest half is 2^-24), so
    the decode leg needs no float tolerance either.

    EXTENDED once more (round 7, session 3) with the 1-bit sign codec
    (functions/vector.quantize_b1 — the 32× Hamming-prefilter codec):
    ``b1_hash`` is the md5 of the comma-joined 32-bit sign words (the
    packing layout bit-for-bit) and ``b1_pop`` the total popcount
    (= count of non-negative coordinates) — both exact integers, the
    DuckDB twin rebuilds the words from the float signs.

    EXTENDED once more (round 7, session 4) with Matryoshka prefix
    truncation (functions/vector.mrl_truncate, Kusupati et al. 2022):
    ``mrl16_hash`` is the md5 of the renormalized first-16 prefix with
    components serialized as round(x·1e4) longs — slice, fold-order
    norm, divide, and scaling all replayed by the twin; the two-stage
    search built on it is ``ann.mrl_rerank_topk`` (recall floor in
    tests)."""
    from faisssearcher_spark.functions.vector import (f16_int24, i8_dot,
                                                      mrl_truncate,
                                                      quantize_b1,
                                                      quantize_f16,
                                                      quantize_i8)

    emb = load_table(spark, sf_dir, "embeddings")
    q = quantize_i8("embedding")
    f16 = emb.select("vec_id", quantize_f16("embedding").alias("__f")) \
        .select(
            "vec_id",
            F.md5(F.array_join(
                F.transform("__f", lambda c: c.cast("string")),
                ",")).alias("f16_hash"),
            F.aggregate(F.transform("__f", f16_int24),
                        F.lit(0).cast("long"),
                        lambda acc, x: acc + x).alias("f16_dsum"))
    b1 = emb.select("vec_id", quantize_b1("embedding").alias("__b")) \
        .select(
            "vec_id",
            F.md5(F.array_join(
                F.transform("__b", lambda c: c.cast("string")),
                ",")).alias("b1_hash"),
            F.aggregate(
                F.transform("__b", lambda w: F.bit_count(w).cast("long")),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x).alias("b1_pop"))
    mrl = emb.select(
        "vec_id",
        F.md5(F.array_join(
            F.transform(mrl_truncate("embedding", 16),
                        lambda x: F.round(x * 10000).cast("long")
                                   .cast("string")),
            ",")).alias("mrl16_hash"))
    return emb.select(
        "vec_id",
        F.round(M.l2_norm("embedding"), 4).alias("l2_norm"),
        F.size("embedding").alias("dim"),
    ).join(
        emb.select("vec_id", q.alias("__q"))
        .select("vec_id", F.col("__q.scale").alias("i8_scale"),
                F.round(i8_dot("__q", "__q"), 4).alias("i8_self_dot")),
        "vec_id").join(f16, "vec_id").join(b1, "vec_id") \
        .join(mrl, "vec_id")


# fp16 encode CTE chain, staged exactly like functions/vector.
# quantize_f16: (sign, |x|, corrected clamped exponent) ->
# round-half-even mantissa -> bit assembly with mantissa-overflow bump
# and saturating exponent overflow (0x7BFF = 31743).
# `safe` = 1.0 for zeros so log2 never sees 0 (zeros take the m = 0
# subnormal path whatever e is); rewritten inline because lambdas bind
# no intermediates. Shared by ORACLE_NORMS (f16_hash/f16_dsum columns)
# and the EmbeddingStore 'estore' leg oracle (which decodes the codes
# back for the screen's cosine). __SRC__ must be a CTE exposing
# (vec_id, v DOUBLE[]); emits __P__1, __P__2 and __P__c (column ``u``:
# the unsigned 16-bit patterns).
_F16_CTE_TPL = """__P__1 AS (SELECT vec_id, list_transform(v, x -> {
              's': CASE WHEN x < 0 THEN 1 ELSE 0 END,
              'a': abs(x),
              'e': greatest(CASE
                 WHEN (CASE WHEN abs(x) = 0 THEN 1.0 ELSE abs(x) END)
                      >= 2.0 * power(2, floor(log2(
                        CASE WHEN abs(x) = 0 THEN 1.0 ELSE abs(x) END)))
                   THEN floor(log2(CASE WHEN abs(x) = 0 THEN 1.0
                                        ELSE abs(x) END))::INT + 1
                 WHEN (CASE WHEN abs(x) = 0 THEN 1.0 ELSE abs(x) END)
                      < power(2, floor(log2(
                        CASE WHEN abs(x) = 0 THEN 1.0 ELSE abs(x) END)))
                   THEN floor(log2(CASE WHEN abs(x) = 0 THEN 1.0
                                        ELSE abs(x) END))::INT - 1
                 ELSE floor(log2(CASE WHEN abs(x) = 0 THEN 1.0
                                      ELSE abs(x) END))::INT END,
                 -14) }) AS t
           FROM __SRC__),
     __P__2 AS (SELECT vec_id, list_transform(t, q -> {
              's': q.s, 'e': q.e,
              'm': CASE
                WHEN q.a * power(2, 10 - q.e)
                     - floor(q.a * power(2, 10 - q.e)) > 0.5
                  THEN floor(q.a * power(2, 10 - q.e))::BIGINT + 1
                WHEN q.a * power(2, 10 - q.e)
                     - floor(q.a * power(2, 10 - q.e)) < 0.5
                  THEN floor(q.a * power(2, 10 - q.e))::BIGINT
                ELSE floor(q.a * power(2, 10 - q.e))::BIGINT
                     + floor(q.a * power(2, 10 - q.e))::BIGINT % 2 END })
              AS t
           FROM __P__1),
     __P__c AS (SELECT vec_id, list_transform(t, q -> CASE
              WHEN (CASE WHEN q.m = 2048 THEN q.e + 1 ELSE q.e END) > 15
                THEN q.s * 32768 + 31743
              WHEN (CASE WHEN q.m = 2048 THEN 1024 ELSE q.m END) < 1024
                THEN q.s * 32768
                     + (CASE WHEN q.m = 2048 THEN 1024 ELSE q.m END)
              ELSE q.s * 32768
                   + ((CASE WHEN q.m = 2048 THEN q.e + 1 ELSE q.e END)
                      + 15) * 1024
                   + (CASE WHEN q.m = 2048 THEN 1024 ELSE q.m END) - 1024
              END) AS u
           FROM __P__2)"""


def _f16_u_ctes(src: str, p: str) -> str:
    return _F16_CTE_TPL.replace("__SRC__", src).replace("__P__", p)


ORACLE_NORMS = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
     p AS (SELECT vec_id, v,
                  list_max(list_transform(v, x -> abs(x))) / 127.0 AS sd
           FROM e),
     c AS (SELECT vec_id, v, sd::REAL AS scale,
                  list_transform(v, x -> CASE WHEN sd = 0 THEN 0
                      ELSE round(x / sd)::BIGINT END) AS codes
           FROM p),
     {_f16_u_ctes('e', 'f')},
     f AS (SELECT vec_id,
                  md5(array_to_string(list_transform(u, x ->
                      (CASE WHEN x >= 32768 THEN x - 65536
                            ELSE x END)::VARCHAR), ',')) AS f16_hash,
                  list_sum(list_transform(u, x ->
                      (CASE WHEN x >= 32768 THEN -1 ELSE 1 END)
                      * (CASE WHEN (x % 32768) // 1024 = 0
                              THEN (x % 32768) % 1024
                              ELSE (((x % 32768) % 1024 + 1024)
                                    * power(2, (x % 32768) // 1024 - 1)
                                   )::BIGINT END)))::BIGINT AS f16_dsum
           FROM fc),
     -- 1-bit sign codec twin: bit j of word w set iff v[32w+j] >= 0
     b1 AS (SELECT vec_id,
                   list_transform(range(0, (len(v) + 31) // 32), w ->
                     list_sum(list_transform(range(0, 32), j ->
                       CASE WHEN w * 32 + j < len(v)
                             AND v[w * 32 + j + 1] >= 0
                            THEN (1::BIGINT << j)
                            ELSE 0 END))::BIGINT) AS words
            FROM e),
     b AS (SELECT vec_id,
                  md5(array_to_string(list_transform(words, x ->
                      x::VARCHAR), ',')) AS b1_hash,
                  list_sum(list_transform(words, x ->
                      bit_count(x)))::BIGINT AS b1_pop
           FROM b1),
     -- Matryoshka prefix twin: slice 16, renormalize (the same fold
     -- order as functions/vector.l2_normalize), components scaled to
     -- 1e4 longs (the knn_matrix integer-serialization precedent)
     mr AS (SELECT vec_id, v[1:16] AS s FROM e),
     m AS (SELECT vec_id,
                  md5(array_to_string(list_transform(
                      list_transform(s, x -> x / sqrt(list_sum(
                          list_transform(s, y -> y*y)))),
                      x -> round(x * 10000)::BIGINT::VARCHAR),
                      ',')) AS mrl16_hash
           FROM mr)
SELECT c.vec_id,
       round(sqrt(list_sum(list_transform(v, x -> x*x))), 4) AS l2_norm,
       len(v) AS dim,
       scale AS i8_scale,
       round((list_sum(list_transform(codes, x -> x*x))::DOUBLE
              * scale::DOUBLE) * scale::DOUBLE, 4) AS i8_self_dot,
       f.f16_hash, f.f16_dsum, b.b1_hash, b.b1_pop, m.mrl16_hash
FROM c JOIN f ON c.vec_id = f.vec_id JOIN b ON c.vec_id = b.vec_id
JOIN m ON c.vec_id = m.vec_id
"""


def q_multik_rank_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-K semantics (O2, faiss_searcher.py:170-183): the K=2 slice of a
    K=5 ranked result equals a direct K=2 search; output is the K=2 slice."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), "embedding")
    from faisssearcher_spark.operators.knn import knn_join_multi_k
    multi = knn_join_multi_k(q, emb, [2, 5], metric="cos",
                             query_item_col="qid", item_key_col="vec_id",
                             payload_cols=[], score_scale=4)
    res = multi[2]
    return res.select(F.col("source_item").cast("long").alias("source_item"),
                      F.col("sim_item").cast("long").alias("sim_item"),
                      "sim_val", "rank_no")


ORACLE_MULTIK = f"""
WITH q AS (SELECT vec_id AS qid, {_NORM} AS qv FROM embeddings WHERE vec_id < 10),
     it AS (SELECT vec_id, {_NORM} AS iv FROM embeddings),
     scored AS (SELECT q.qid, it.vec_id,
                       round({_dot('q.qv', 'it.iv')}, 4) AS sim_val
                FROM q CROSS JOIN it),
     ranked AS (SELECT *, row_number() OVER
                  (PARTITION BY qid ORDER BY sim_val DESC, vec_id ASC) AS rn
                FROM scored)
SELECT qid AS source_item, vec_id AS sim_item, sim_val, (rn - 1)::INT AS rank_no
FROM ranked WHERE rn <= 2
"""


def _q_searcher_text_hash_leg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The encoder-mode vector leg on its own (reference mode 1,
    README.md:27-41) — shared by the searcher_text_knn composite and the
    rerank gate (which must rerank ONE candidate set, not the union).
    The trained searcher (corpus encode = the pandas_udf hash pass) is
    memoized per session — the reference's train-once/search-many
    contract (faiss_searcher.py:116-125 vs :161), same discipline the
    ANN bench family follows."""
    from faisssearcher_spark.searcher import SparkSearcher
    docs = load_table(spark, sf_dir, "documents")

    def _build():
        corpus = docs.select("text", "lang", "source")
        return SparkSearcher(corpus, encoder=HashingEncoder(dim=8),
                             measurement="cos").train()

    searcher = BENCH_MEMO.get(_memo_key(spark, sf_dir, "searcher_hash8"),
                              _build)
    queries = [r["text"] for r in
               docs.filter(F.col("doc_id") < 5).orderBy("doc_id").collect()]
    res = searcher.search(queries, topK=3, keep_rank_no=True, score_scale=4)
    return res.select("source_item", "sim_item", "sim_val", "rank_no",
                      "lang", "source")


def q_searcher_text_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end text search, tag-union composite (50-cap pattern):

    - ``hash_knn`` — encoder-mode vector search (reference mode 1,
      README.md:27-41): documents encoded with the deterministic
      HashingEncoder pandas_udf, cosine top-3 with payload carry — the
      full U1→P3→J1→J2 pipeline;
    - ``bm25`` — lexical retrieval over the same corpus/queries
      (operators/bm25.py): inverted postings with precomputed partial
      scores, Lucene idf, k1=1.2 b=0.75, top-3 (round-5 session 3);
    - ``rrf`` — reciprocal rank fusion of the two legs (c=60) — the
      hybrid-search shape; fused sim_val is exact rational arithmetic
      on the legs' ranks, so it hash-matches with NO rounding."""
    from faisssearcher_spark.operators.bm25 import BM25Index, rrf_fuse
    docs = load_table_parallel(spark, sf_dir, "documents")

    # the rrf leg re-reads BOTH base legs, so each retrieval must not
    # execute twice in the union — and persist() here would accumulate
    # cached RDDs in executor storage across repeated bench invocations
    # (r6 ADVICE). The legs are ≤ 15 rows by construction: land them as
    # literal frames instead (each retrieval plan runs exactly once, the
    # broadcast-ranked small-side discipline, nothing stays cached).
    def _landed(df: DataFrame) -> DataFrame:
        return spark.createDataFrame(df.collect(), df.schema)

    def _hash_leg() -> DataFrame:
        return _landed(_q_searcher_text_hash_leg(spark, sf_dir))

    def _bm25_leg() -> DataFrame:
        # fit memoized per session (train-once/search-many, the pattern
        # the ANN family follows — r12 verdict #3: the leg re-fit BM25
        # and re-encoded the corpus every invocation; the fitted
        # postings/idf frames are the index's _cached_state,
        # re-registered on hit)
        bm = _bm25_docs(spark, sf_dir, docs)
        qdf = docs.filter(F.col("doc_id") < 5).select(
            F.col("text").alias("qid"), "text")
        raw = bm.search(qdf, k=3, query_item_col="qid",
                        query_text_col="text", score_scale=4)
        # the index ids by doc_id (texts are not guaranteed unique at
        # every sf) — map sim_item to the text + payload for the shared
        # schema
        side = docs.select(F.col("doc_id").alias("sim_item"),
                           F.col("text").alias("__sim_text"), "lang",
                           "source")
        return _landed(raw.join(side, "sim_item").select(
            "source_item", F.col("__sim_text").alias("sim_item"),
            "sim_val", "rank_no", "lang", "source"))

    # the two retrieval legs are INDEPENDENT until the rrf fusion (each
    # lands as a literal frame), and each one's arc is a sequential
    # driver composition (fit memo → search plan → collect) — overlap
    # them on two driver threads so the second leg's jobs back-fill the
    # first's scheduling gaps (guide §2.6). Rows are computed by the
    # exact same plans as the sequential form and landed before fusion,
    # so results are identical; FIFO scheduling favors the earlier-
    # submitted hash leg, matching the old execution order.
    from concurrent.futures import ThreadPoolExecutor
    with ThreadPoolExecutor(max_workers=2) as pool:
        f_hash = pool.submit(_hash_leg)
        f_bm25 = pool.submit(_bm25_leg)
        hash_leg = f_hash.result()
        bm25_leg = f_bm25.result()

    fused = rrf_fuse(
        [hash_leg.select("source_item", "sim_item", "rank_no"),
         bm25_leg.select("source_item", "sim_item", "rank_no")], k=3)
    pay = docs.select(F.col("text").alias("sim_item"), "lang", "source")
    rrf_leg = fused.join(pay, "sim_item").select(
        "source_item", "sim_item", "sim_val", "rank_no", "lang", "source")

    return (hash_leg.select(F.lit("hash_knn").alias("strategy"), "*")
            .unionByName(bm25_leg.select(F.lit("bm25").alias("strategy"),
                                         "*"))
            .unionByName(rrf_leg.select(F.lit("rrf").alias("strategy"),
                                        "*")))


def _oracle_encoder(dim: int = 8) -> str:
    enc = HashingEncoder(dim=dim).duckdb_sql("text")
    return (f"SELECT text, lang, source, {enc} AS emb FROM documents")


_ORACLE_SEARCHER_TEXT_HASH = f"""
WITH enc AS ({_oracle_encoder(8)}),
     nrm AS (SELECT text, lang, source,
                    list_transform(emb, x -> x / sqrt(list_sum(
                        list_transform(emb, y -> y*y)))) AS v
             FROM enc),
     q AS (SELECT d.text AS source_item, n.v AS qv
           FROM documents d JOIN nrm n ON d.text = n.text
           WHERE d.doc_id < 5),
     scored AS (SELECT q.source_item, nrm.text AS sim_item, nrm.lang, nrm.source,
                       round({_dot('q.qv', 'nrm.v')}, 4) AS sim_val
                FROM q CROSS JOIN nrm),
     ranked AS (SELECT *, row_number() OVER
                  (PARTITION BY source_item ORDER BY sim_val DESC, sim_item ASC) AS rn
                FROM scored)
SELECT source_item, sim_item, sim_val, (rn - 1)::INT AS rank_no, lang, source
FROM ranked WHERE rn <= 3
"""

# BM25 leg: Lucene idf, k1=1.2 b=0.75, distinct query terms, score
# rounded to 4dp BEFORE ranking, ties on doc_id — mirrors
# operators/bm25.py term for term (same association order everywhere a
# float divide/multiply chain could drift; avgdl is exact-integer
# sum/count).
_ORACLE_SEARCHER_TEXT_BM25 = f"""
WITH t AS (SELECT doc_id, text, lang, source, {_TOKS} AS toks
           FROM documents),
     st AS (SELECT (SELECT sum(len(toks)) FROM t)::DOUBLE
                   / (SELECT count(*) FROM t) AS avgdl,
                   (SELECT count(*) FROM t)::DOUBLE AS n),
     post AS (SELECT doc_id, tok, count(*)::DOUBLE AS tf
              FROM (SELECT doc_id, unnest(toks) AS tok FROM t)
              GROUP BY doc_id, tok),
     dft AS (SELECT tok, count(*)::DOUBLE AS df FROM post GROUP BY tok),
     dl AS (SELECT doc_id, len(toks) AS dl FROM t),
     w AS (SELECT post.doc_id, post.tok,
                  ln(1 + (n - df + 0.5) / (df + 0.5)) * tf * 2.2
                  / (tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / avgdl)) AS w
           FROM post JOIN dft USING (tok) JOIN dl USING (doc_id), st),
     q AS (SELECT text AS source_item, unnest(list_distinct(toks)) AS tok
           FROM t WHERE doc_id < 5),
     sc AS (SELECT q.source_item, w.doc_id, round(sum(w.w), 4) AS sim_val
            FROM q JOIN w ON q.tok = w.tok GROUP BY q.source_item, w.doc_id),
     bm_rk AS (SELECT sc.*, row_number() OVER (PARTITION BY source_item
                 ORDER BY sim_val DESC, doc_id ASC) AS rn FROM sc)
SELECT r.source_item, d.text AS sim_item, r.sim_val,
       (r.rn - 1)::INT AS rank_no, d.lang, d.source
FROM bm_rk r JOIN documents d ON r.doc_id = d.doc_id
WHERE r.rn <= 3
"""

ORACLE_SEARCHER_TEXT = f"""
WITH hash_leg AS ({_ORACLE_SEARCHER_TEXT_HASH}),
     bm25_leg AS ({_ORACLE_SEARCHER_TEXT_BM25}),
     legs AS (SELECT source_item, sim_item,
                     1.0 / (60 + rank_no + 1) AS r FROM hash_leg
              UNION ALL
              SELECT source_item, sim_item,
                     1.0 / (60 + rank_no + 1) FROM bm25_leg),
     fus AS (SELECT source_item, sim_item, sum(r) AS sim_val
             FROM legs GROUP BY source_item, sim_item),
     fus_rk AS (SELECT fus.*, row_number() OVER (PARTITION BY source_item
                  ORDER BY sim_val DESC, sim_item ASC) AS rn FROM fus),
     rrf_leg AS (SELECT f.source_item, f.sim_item, f.sim_val,
                        (f.rn - 1)::INT AS rank_no, d.lang, d.source
                 FROM fus_rk f JOIN documents d ON f.sim_item = d.text
                 WHERE f.rn <= 3)
SELECT 'hash_knn' AS strategy, * FROM hash_leg
UNION ALL SELECT 'bm25', * FROM bm25_leg
UNION ALL SELECT 'rrf', * FROM rrf_leg
"""


def q_knn_matrix_output(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw-vector-mode array output (faiss_searcher.py:133-136): one row per
    query, rank-ordered neighbor-id and score arrays.

    Gate representation: the arrays are serialized to comma-joined strings
    (ids verbatim; scores scaled to 1e4 integers) because the driver's
    canonicalizer sorts/hashes flat scalar columns. The underlying operator
    (``knn_join_arrays``) still returns true array columns."""
    from faisssearcher_spark.operators.knn import knn_join_arrays
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), "embedding")
    res = knn_join_arrays(q, emb, metric="cos", k=3, query_item_col="qid",
                          item_key_col="vec_id", payload_cols=[],
                          score_scale=4)
    return res.select(
        F.col("source_item").cast("long").alias("source_item"),
        F.array_join(
            F.transform("sim_items",
                        lambda x: x.cast("long").cast("string")),
            ",").alias("sim_items"),
        F.array_join(
            F.transform("sim_vals",
                        lambda v: F.round(v * 10000).cast("long")
                                   .cast("string")),
            ",").alias("sim_vals"))


ORACLE_KNN_MATRIX = f"""
WITH q AS (SELECT vec_id AS qid, {_NORM} AS qv FROM embeddings WHERE vec_id < 10),
     it AS (SELECT vec_id, {_NORM} AS iv FROM embeddings),
     scored AS (SELECT q.qid, it.vec_id,
                       round({_dot('q.qv', 'it.iv')}, 4) AS sim_val
                FROM q CROSS JOIN it),
     ranked AS (SELECT *, row_number() OVER
                  (PARTITION BY qid ORDER BY sim_val DESC, vec_id ASC) AS rn
                FROM scored)
SELECT qid AS source_item,
       string_agg(CAST(vec_id AS VARCHAR), ',' ORDER BY rn) AS sim_items,
       string_agg(CAST(CAST(round(sim_val * 10000) AS BIGINT) AS VARCHAR),
                  ',' ORDER BY rn) AS sim_vals
FROM ranked WHERE rn <= 3 GROUP BY qid
"""


# ===========================================================================
# 2. ANN (bucketed approximate path — oracle-checkable variant)
# ===========================================================================

def q_ann_lsh_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH bucketed top-3: candidates restricted to the query's
    8-bit sign bucket (leading dims — zero plan constants), cosine-ranked.
    The item⋈query meeting is an equi-join on the bucket key.

    Round 8 extension (the 50-gate fold pattern): each pair row also
    carries the query's ranked-retrieval metrics
    (operators/evaluation.retrieval_metrics) of this LSH top-3 against
    brute-force cosine top-5 ground truth — recall@3 = hits/5,
    precision@3 = hits/3, AP and nDCG normalized by min(5,3), so every
    denominator path is distinct. All floats are single divisions or
    sums of Python-literal log2 discounts (evaluation.py portability
    note)."""
    from faisssearcher_spark.operators import evaluation
    emb = load_table(spark, sf_dir, "embeddings")
    lsh = ann.SignLSH(dim=64, num_bits=8, use_leading_dims=True)
    q = emb.filter(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("qid"), "embedding")
    # candidate-sized frames feeding 2-3 plan branches each (pair rows +
    # per-query metrics + the macro row): persist per evaluation.py's
    # recompute note — res is ≤150 rows, truth ≤250, per_q 50
    res = lsh.topk(q, emb, k=3, query_item_col="qid",
                   item_key_col="vec_id").persist()
    truth = knn_join(q, emb, metric="cos", k=5, query_item_col="qid",
                     item_key_col="vec_id", payload_cols=[]).persist()
    per_q = evaluation.retrieval_metrics(res, truth, k=3).withColumn(
        "source_item", F.col("source_item").cast("long")).persist()
    # the one-row macro summary rides every row as constant columns —
    # the k_anonymity_report fold precedent (q_text_langid)
    macro = evaluation.summarize_retrieval(per_q).select(
        "n_queries",
        F.col("recall_at_k").alias("macro_recall"),
        F.col("precision_at_k").alias("macro_precision"),
        F.col("mrr").alias("macro_mrr"),
        F.col("map").alias("macro_map"),
        F.col("ndcg").alias("macro_ndcg"))
    pairs = res.select(
        F.col("source_item").cast("long").alias("source_item"),
        F.col("sim_item").cast("long").alias("sim_item"),
        F.round("sim_val", 4).alias("sim_val"), "rank_no")
    return pairs.join(per_q, on="source_item").crossJoin(F.broadcast(macro))


def _eval_met_ctes(k: int) -> str:
    """Shared metric-replay CTE fragment (the operators/evaluation.py
    twin): consumes prior CTEs ``res(qid, vec_id, rank)`` (0-based,
    already cut to the top-k) and ``truth(qid, vec_id)``; defines
    nrel/hits/per_hit/agg/met. One builder serves both retrieval
    oracles so the metric semantics cannot desynchronize. The discount
    and cumulative-ideal tables are the SAME Python literals the Spark
    plan embeds (evaluation.dcg_discounts / idcg_totals) — shortest-repr
    decimals parse to identical doubles, so neither engine evaluates
    log2 at query time. ::DOUBLE on every literal: a bare decimal in
    DuckDB types DECIMAL(17,16) and the sum would run exact-decimal
    instead of IEEE (NOTES.md)."""
    from faisssearcher_spark.operators.evaluation import (dcg_discounts,
                                                          idcg_totals)
    disc_case = " ".join(f"WHEN {r} THEN {w!r}::DOUBLE"
                         for r, w in enumerate(dcg_discounts(k)))
    ideal_case = " ".join(f"WHEN {m + 1} THEN {w!r}::DOUBLE"
                          for m, w in enumerate(idcg_totals(k)))
    return f"""nrel AS (SELECT qid, count(*) AS n_rel FROM truth GROUP BY qid),
     hits AS (SELECT res.qid, res.rank FROM res
              JOIN truth ON res.qid = truth.qid
                        AND res.vec_id = truth.vec_id),
     per_hit AS (SELECT qid, rank,
                        row_number() OVER (PARTITION BY qid
                                           ORDER BY rank) AS nth
                 FROM hits),
     agg AS (SELECT qid, count(*) AS n_hits, min(rank) AS first,
                    sum(nth::DOUBLE / (rank + 1)) AS ap_sum,
                    sum(CASE rank {disc_case} END) AS dcg
             FROM per_hit GROUP BY qid),
     met AS (SELECT n.qid, n.n_rel,
                    coalesce(a.n_hits, 0) AS n_hits,
                    round(coalesce(a.n_hits, 0) / n.n_rel, 4)
                        AS recall_at_k,
                    round(coalesce(a.n_hits, 0) / {float(k)!r}, 4)
                        AS precision_at_k,
                    round(CASE WHEN a.first IS NOT NULL
                               THEN 1.0 / (a.first + 1)
                               ELSE 0.0 END, 4) AS rr,
                    round(coalesce(a.ap_sum, 0.0) / least(n.n_rel, {k}), 4)
                        AS ap,
                    round(coalesce(a.dcg, 0.0)
                          / (CASE least(n.n_rel, {k}) {ideal_case} END), 4)
                        AS ndcg
             FROM nrel n LEFT JOIN agg a ON n.qid = a.qid)"""


def _eval_base_ctes(max_qid: int, k_res: int, n_truth: int) -> str:
    """LSH-results + exact-truth CTE prefix shared by both retrieval
    oracles: e/q = 8 leading-dim sign buckets, res = in-bucket cosine
    top-``k_res`` (unrounded ranking, ties by vec_id — the engine rule),
    truth = brute-force cosine top-``n_truth``."""
    return f"""e AS (SELECT vec_id, {_NORM} AS v,
                  list_sum(list_transform(range(1, 9),
                      j -> CASE WHEN embedding[j] >= 0
                                THEN (1::BIGINT << (j-1)) ELSE 0 END)) AS bucket
           FROM embeddings),
     q AS (SELECT vec_id AS qid, v AS qv, bucket FROM e
           WHERE vec_id < {max_qid}),
     scored AS (SELECT q.qid, e.vec_id, {_dot('q.qv', 'e.v')} AS sim_val
                FROM q JOIN e USING (bucket)),
     res AS (SELECT *, rn - 1 AS rank FROM
               (SELECT *, row_number() OVER (PARTITION BY qid
                  ORDER BY sim_val DESC, vec_id ASC) AS rn FROM scored)
             WHERE rn <= {k_res}),
     ex_scored AS (SELECT q.qid, e.vec_id, {_dot('q.qv', 'e.v')} AS sim_val
                   FROM q CROSS JOIN e),
     truth AS (SELECT qid, vec_id FROM
                 (SELECT *, row_number() OVER (PARTITION BY qid
                    ORDER BY sim_val DESC, vec_id ASC) AS rn FROM ex_scored)
               WHERE rn <= {n_truth})"""


def _oracle_lsh_with_eval(k: int = 3, n_truth: int = 5) -> str:
    """DuckDB twin of the extended q_ann_lsh_bucket: the original LSH
    top-3 pair rows joined with per-query retrieval metrics against
    exact top-5 ground truth, plus the one-row macro summary riding
    every row (the k_anonymity_report fold precedent)."""
    return f"""
WITH {_eval_base_ctes(50, k, n_truth)},
     {_eval_met_ctes(k)},
     macro AS (SELECT count(*)::BIGINT AS n_queries,
                      round(avg(recall_at_k), 4) AS macro_recall,
                      round(avg(precision_at_k), 4) AS macro_precision,
                      round(avg(rr), 4) AS macro_mrr,
                      round(avg(ap), 4) AS macro_map,
                      round(avg(ndcg), 4) AS macro_ndcg
               FROM met)
SELECT r.qid AS source_item, r.vec_id AS sim_item,
       round(r.sim_val, 4) AS sim_val, (r.rn - 1)::INT AS rank_no,
       m.n_rel, m.n_hits, m.recall_at_k, m.precision_at_k, m.rr, m.ap,
       m.ndcg, macro.*
FROM res r JOIN met m ON r.qid = m.qid CROSS JOIN macro
"""


ORACLE_LSH_WITH_EVAL = _oracle_lsh_with_eval()


def q_retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranked-retrieval metric suite (operators/evaluation.py): score the
    sign-LSH approximate index against brute-force cosine ground truth —
    the validate-your-index workflow a FAISS user runs before shipping an
    approximate index (the recall contract in ``ann_ivf_recall``
    generalized to recall/precision/MRR/AP/nDCG per query).

    results = LSH-bucketed top-5 (8 leading-dim sign bits, the
    oracle-replayable variant); truth = exact cosine top-3 over the same
    corpus. n_rel=3 vs k=5 keeps every denominator distinct (recall /3,
    precision /5, AP /min(3,5)). All floats are single divisions or ≤5-term
    sums of Python-literal log2 discounts — see evaluation.py's
    engine-portability note. Bench-only entry (the driver's 50-row gate
    carries these metrics via the ann_lsh_bucket_top3 fold); its DuckDB
    twin is pinned in tests/test_evaluation.py."""
    from faisssearcher_spark.operators import evaluation
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 30).select(
        F.col("vec_id").alias("qid"), "embedding")
    lsh = ann.SignLSH(dim=64, num_bits=8, use_leading_dims=True)
    res = lsh.topk(q, emb, k=5, query_item_col="qid", item_key_col="vec_id")
    truth = knn_join(q, emb, metric="cos", k=3, query_item_col="qid",
                     item_key_col="vec_id", payload_cols=[])
    per_q = evaluation.retrieval_metrics(res, truth, k=5)
    return per_q.withColumn("source_item",
                            F.col("source_item").cast("long"))


def _oracle_retrieval_eval(k: int = 5, n_truth: int = 3) -> str:
    """Standalone twin of q_retrieval_eval (per-query rows only) — built
    from the same shared fragments as the driver-gated fold."""
    return f"""
WITH {_eval_base_ctes(30, k, n_truth)},
     {_eval_met_ctes(k)}
SELECT qid AS source_item, n_rel, n_hits, recall_at_k, precision_at_k,
       rr, ap, ndcg
FROM met
"""



# ===========================================================================
# 3. dedup suite
# ===========================================================================

#: bloom gate config — small enough that the oracle's position set stays
#: a cheap CTE, big enough for a real (≈2-3%) false-positive rate at
#: sf0.01's 50 src1 keys, so the gate exercises FPs, not just members
_BLOOM_BITS, _BLOOM_HASHES = 1024, 4


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup membership, tag-unioned (the 50-cap extension pattern):

    ``exact`` — one survivor (min doc_id) per (lang, source) key.

    ``bloom_known`` — docs flagged as possible members of a Bloom filter
    fit on the src1 doc_ids (``operators/bloom.py``, md5 hashing): the
    incremental-ingest screen. The decision — all k md5-derived bit
    positions present in the fit set's position set — is deterministic,
    so even the APPROXIMATE filter is exactly oracle-checkable: the
    DuckDB twin rebuilds the position set and replays the k IN-tests,
    false positives included."""
    from faisssearcher_spark.operators.bloom import fit_bloom

    docs = load_table(spark, sf_dir, "documents")
    exact = dedup.dedup_exact(docs, ["lang", "source"], tie_col="doc_id") \
        .select(F.lit("exact").alias("tag"), "doc_id", "lang", "source")
    bf = fit_bloom(docs.filter(F.col("source") == "src1"),
                   key_col="doc_id", n_bits=_BLOOM_BITS,
                   n_hashes=_BLOOM_HASHES, hash_method="md5")
    known = bf.filter_known(docs, "doc_id") \
        .select(F.lit("bloom_known").alias("tag"), "doc_id", "lang",
                "source")
    return exact.unionByName(known)


def _oracle_bloom_pos(i: int, key_sql: str) -> str:
    """DuckDB twin of bloom_position_exprs(hash_method='md5')."""
    return (f"(('0x' || substring(md5('bloom{i}|42|' || {key_sql}), 1, 8))"
            f"::BIGINT % {_BLOOM_BITS})")


ORACLE_DEDUP_EXACT = f"""
WITH bloompos AS (
  SELECT DISTINCT pos FROM (
    {' UNION ALL '.join(
        f"SELECT {_oracle_bloom_pos(i, 'doc_id::VARCHAR')} AS pos "
        f"FROM documents WHERE source = 'src1'"
        for i in range(_BLOOM_HASHES))}
  )
)
SELECT 'exact' AS tag, doc_id, lang, source FROM (
  SELECT doc_id, lang, source,
         row_number() OVER (PARTITION BY lang, source ORDER BY doc_id ASC) AS rn
  FROM documents) WHERE rn = 1
UNION ALL
SELECT 'bloom_known' AS tag, doc_id, lang, source
FROM documents d
WHERE {' AND '.join(
    _oracle_bloom_pos(i, 'd.doc_id::VARCHAR') +
    ' IN (SELECT pos FROM bloompos)'
    for i in range(_BLOOM_HASHES))}
"""


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by word-3-gram Jaccard ≥ 0.3 (plain inverted-index
    join — the measured-faster plan on this unskewed corpus; the PPJoin
    prefix-filtered variant stays selectable for hot-shingle-skewed
    corpora and is proven result-identical in
    tests/test_dedup.py::TestPrefixFilter)."""
    docs = load_table_parallel(spark, sf_dir, "documents")
    res = dedup.ngram_jaccard_join(docs, n=3, threshold=0.3)
    return res.select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))


ORACLE_NGRAM_JACCARD = f"""
WITH t AS (SELECT doc_id AS id, {_TOKS} AS toks FROM documents),
     sh AS (SELECT id, list_distinct(list_transform(
                range(1, greatest(len(toks)-2, 0)+1),
                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS g
            FROM t),
     sizes AS (SELECT id, len(g) AS n_sh FROM sh),
     ex AS (SELECT id, unnest(g) AS s FROM sh),
     common AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_common
                FROM ex a JOIN ex b ON a.s = b.s AND a.id < b.id
                GROUP BY 1, 2)
SELECT id_a, id_b,
       round(n_common::DOUBLE / (sa.n_sh + sb.n_sh - n_common), 4) AS jaccard
FROM common
JOIN sizes sa ON sa.id = id_a
JOIN sizes sb ON sb.id = id_b
WHERE n_common::DOUBLE / (sa.n_sh + sb.n_sh - n_common) >= 0.3
"""


#: corpus bound for the minhash gate's incremental-store leg (see the
#: inline comment in q_dedup_minhash_lsh); >= the sf0.01 doc_id range so
#: the correctness gate is uncapped
INC_CAP = 1000


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(16) + 4-band LSH candidates over 3-gram shingles, verified
    with exact shingle-set Jaccard ≥ 0.3."""
    docs = load_table_parallel(spark, sf_dir, "documents")
    res = dedup.minhash_lsh_join(docs, num_hashes=16, bands=4, shingle_n=3,
                                 verify_threshold=0.3)
    pairs = res.select(F.lit("pairs").alias("leg"), "id_a", "id_b",
                       F.round("jaccard", 4).alias("jaccard"))

    # tag-union leg 2 (round 6): INCREMENTAL screening — the even half
    # of the corpus commits its banded signatures to a persisted
    # MinHashStore (operators/incremental.py), the odd half screens
    # against that state, and every (new, known) hit with
    # signature-estimated Jaccard ≥ 0.5 is a gate row. est_jaccard is
    # the exact rational (agreeing slots)/16, so the DuckDB twin —
    # which rebuilds the same salted-md5 signatures, bands, and
    # candidate join — matches bit-for-bit. This checks the store's
    # full commit→screen arc including the parquet round-trip. The leg
    # runs on the first INC_CAP doc_ids: it verifies the ARC (two
    # signature passes + state I/O per invocation would otherwise
    # dominate the flagship gate's bench cost at larger sf), while the
    # store's scale behavior rides the same signature/band machinery
    # the uncapped pairs leg and the scale sweep already measure. The
    # correctness gate's sf0.01 corpus sits entirely under the cap.
    # the arc is ~10 eager Spark jobs of fixed launch overhead (meta
    # read/write, state write, screen, collect) producing a
    # DETERMINISTIC row set per corpus — it runs once per session
    # (memoized) and ALSO has its own bench entry
    # (dedup_incremental_screen, ordered before this query in bench.py)
    # so this flagship gate's cold number prices only its declarative
    # legs (r6 verdict #7)
    inc = _mh_leg_df(spark, BENCH_MEMO.get(
        _memo_key(spark, sf_dir, "mh_incremental"),
        lambda: _incremental_arc_rows(spark, sf_dir)))

    # tag-union leg (round 10): the MERGE/upsert maintenance arc —
    # commit a corpus with planted WRONG vintages (every doc_id%10==0
    # even carries its odd neighbor's text), upsert the corrected
    # batch (delete-matched + insert), compact, screen. The expected
    # hits are EXACTLY the 'incremental' leg's (post-merge state ==
    # the true even corpus), so the oracle twin is a one-line
    # duplicate — but a broken merge fails LOUDLY: a surviving stale
    # row k is its odd neighbor's signature, so screening odd k+1
    # yields a guaranteed extra (k+1, k, est=1.0) hit the oracle
    # doesn't expect.
    up = _mh_leg_df(spark, BENCH_MEMO.get(
        _memo_key(spark, sf_dir, "mh_upsert"),
        lambda: _upsert_arc_rows(spark, sf_dir)))
    return pairs.unionByName(inc).unionByName(up)


#: the MinHash-arc legs' row schema — single-sourced for the four
#: construction sites (review catch: the idiom was copy-pasted)
_MH_LEG_SCHEMA = "leg string, id_a long, id_b long, jaccard double"


def _mh_leg_df(spark: SparkSession, rows: list) -> DataFrame:
    """Driver rows → a leg frame (empty-safe) under _MH_LEG_SCHEMA."""
    return (spark.createDataFrame(rows, _MH_LEG_SCHEMA) if rows
            else spark.createDataFrame([], _MH_LEG_SCHEMA))


def _incremental_arc_rows(spark: SparkSession, sf_dir: str) -> list:
    """The MinHashStore commit→screen arc over the first INC_CAP doc_ids
    (even half commits, odd half screens at est ≥ 0.5), materialized to
    driver rows — shared by the gate leg (memoized per corpus per
    session) and the dedicated bench entry (which re-runs it fresh to
    time the real state I/O, then refreshes the memo)."""
    import tempfile

    from faisssearcher_spark.operators.incremental import MinHashStore

    docs = load_table_parallel(spark, sf_dir, "documents")
    capped = docs.filter(F.col("doc_id") < INC_CAP)
    with tempfile.TemporaryDirectory(prefix="mhstore_gate_") as tmp:
        store = MinHashStore(spark, tmp, num_hashes=16, bands=4,
                             shingle_n=3)
        store.commit(capped.filter(F.col("doc_id") % 2 == 0))
        hits = store.screen(capped.filter(F.col("doc_id") % 2 == 1),
                            threshold=0.5)
        # materialize before the TemporaryDirectory vanishes: the
        # gate returns a lazy frame the driver evaluates later
        inc_rows = hits.select(
            F.lit("incremental").alias("leg"),
            F.col("new_id").alias("id_a"),
            F.col("known_id").alias("id_b"),
            F.round("est_jaccard", 4).alias("jaccard")).collect()
    return inc_rows


def _upsert_arc_rows(spark: SparkSession, sf_dir: str) -> list:
    """The MinHashStore MERGE arc: commit the even half with PLANTED
    WRONG vintages (doc_id % 10 == 0 evens carry their odd neighbor's
    text), ``upsert`` the corrected batch, ``compact``, then screen the
    odd half at est ≥ 0.5. Post-merge state equals the true even
    corpus, so the expected hits are the 'incremental' leg's — while a
    merge that leaves stale rows produces guaranteed extra est=1.0
    hits (the stale signature IS an odd document's), and a compact
    that loses rows drops expected hits. The store runs
    ``layout='epoch'``, so the arc gates the BOUNDED merge path
    (epoch append + tombstone + epoch-outranks-tombstone resolution +
    fold compaction); the flat full-rewrite path is pinned EQUAL to
    it in tests/test_incremental_merge.py, and all three stores share
    the one _merge_state/_rewrite_state code path."""
    import tempfile

    from faisssearcher_spark.operators.incremental import MinHashStore

    docs = load_table_parallel(spark, sf_dir, "documents")
    capped = docs.filter(F.col("doc_id") < INC_CAP).select("doc_id", "text")
    evens = capped.filter(F.col("doc_id") % 2 == 0)
    odds = capped.filter(F.col("doc_id") % 2 == 1)
    # planted wrong vintage: doc_id%10==0 evens carry doc_id+1's text
    nxt = capped.select((F.col("doc_id") - 1).alias("doc_id"),
                        F.col("text").alias("__next"))
    planted = (evens.join(nxt, "doc_id", "left")
               .withColumn("text",
                           F.when((F.col("doc_id") % 10 == 0)
                                  & F.col("__next").isNotNull(),
                                  F.col("__next"))
                           .otherwise(F.col("text")))
               .drop("__next"))
    corrected = evens.filter(F.col("doc_id") % 10 == 0)
    with tempfile.TemporaryDirectory(prefix="mhstore_upsert_") as tmp:
        store = MinHashStore(spark, tmp, num_hashes=16, bands=4,
                             shingle_n=3, layout="epoch")
        store.commit(planted)
        store.upsert(corrected)
        store.compact()
        hits = store.screen(odds, threshold=0.5)
        up_rows = hits.select(
            F.lit("upsert").alias("leg"),
            F.col("new_id").alias("id_a"),
            F.col("known_id").alias("id_b"),
            F.round("est_jaccard", 4).alias("jaccard")).collect()
    return up_rows


def _oracle_minhash_sig() -> str:
    """Signature expression with the SAME per-slot md5 salts and digest
    windows as the Spark plan (dedup.minhash_slot_salt/_start — the
    round-6 min-wise-independent construction, four 32-bit slots per
    128-bit digest; the old hash-once + affine permutation was
    order-biased, see those docstrings)."""
    from faisssearcher_spark.operators.dedup import (minhash_slot_salt,
                                                     minhash_slot_start)

    comps = ", ".join(
        "list_min(list_transform(g, x -> ('0x' || substring(md5("
        f"'{minhash_slot_salt(i)}' || x), {minhash_slot_start(i)}, 8"
        "))::BIGINT))"
        for i in range(16))
    return f"[{comps}]"


_MINHASH_CTES = f"""t AS (SELECT doc_id AS id, {_TOKS} AS toks FROM documents),
     sh AS (SELECT id, list_distinct(list_transform(
                range(1, greatest(len(toks)-2, 0)+1),
                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS g
            FROM t),
     hsh AS (SELECT id, g,
                    list_transform(g, x -> ('0x' || substring(md5(x), 1, 8))::BIGINT) AS hs
             FROM sh),
     sig AS (SELECT id, g, {_oracle_minhash_sig()} AS sg FROM hsh),
     banded AS (SELECT id, g, b.band_idx,
                       array_to_string(sg[b.band_idx*4+1 : b.band_idx*4+4], '|') AS band_val
                FROM sig, (SELECT unnest(range(0, 4)) AS band_idx) b),
     cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
              FROM banded a JOIN banded b
                ON a.band_idx = b.band_idx AND a.band_val = b.band_val
                   AND a.id < b.id),
     verified AS (SELECT id_a, id_b,
                         len(list_filter(sa.g, x -> list_contains(sb.g, x)))::DOUBLE
                         / (len(sa.g) + len(sb.g)
                            - len(list_filter(sa.g, x -> list_contains(sb.g, x)))) AS jaccard
                  FROM cand
                  JOIN sh sa ON sa.id = id_a
                  JOIN sh sb ON sb.id = id_b)"""

#: the self-join pair set alone — the clusters oracle embeds this inside
#: its RECURSIVE component resolution (the two-leg gate query below
#: cannot nest there: a top-level UNION ALL inside a recursive CTE's
#: body parses as the anchor/recursive split, and its incremental rows
#: are not edges anyway)
ORACLE_MINHASH_PAIRS = f"""
WITH {_MINHASH_CTES}
SELECT id_a, id_b, round(jaccard, 4) AS jaccard
FROM verified WHERE jaccard >= 0.3
"""

ORACLE_MINHASH = f"""
WITH {_MINHASH_CTES},
     inc_cand AS (SELECT DISTINCT n.id AS new_id, k.id AS known_id
                  FROM banded n JOIN banded k
                    ON n.band_idx = k.band_idx AND n.band_val = k.band_val
                       AND n.id % 2 = 1 AND k.id % 2 = 0
                       AND n.id < {INC_CAP} AND k.id < {INC_CAP}),
     inc AS (SELECT new_id, known_id,
                    len(list_filter(range(1, 17),
                        j -> sn.sg[j] = sk.sg[j]))::DOUBLE / 16 AS est
             FROM inc_cand
             JOIN sig sn ON sn.id = new_id
             JOIN sig sk ON sk.id = known_id)
SELECT 'pairs' AS leg, id_a, id_b, round(jaccard, 4) AS jaccard
FROM verified WHERE jaccard >= 0.3
UNION ALL
SELECT 'incremental', new_id, known_id, round(est, 4)
FROM inc WHERE est >= 0.5
UNION ALL
-- the MERGE/upsert arc: post-merge state == the true even corpus, so
-- the expected hits are the incremental leg's exactly; stale rows
-- surviving a broken merge would add est=1.0 hits this set lacks
SELECT 'upsert', new_id, known_id, round(est, 4)
FROM inc WHERE est >= 0.5
"""


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash fingerprint per document (tf-weighted bit votes)."""
    docs = load_table_parallel(spark, sf_dir, "documents")
    return dedup.simhash(docs, bits=32).withColumnRenamed("id", "doc_id")


ORACLE_SIMHASH = f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
     h AS (SELECT doc_id,
                  list_transform(toks, x -> {_MD5INT.format(x='x')}) AS hs
           FROM t)
SELECT doc_id,
       list_sum(list_transform(range(0, 32), j ->
           CASE WHEN list_sum(list_transform(hs,
                     h -> CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END)) > 0
                THEN (1::BIGINT << j) ELSE 0 END))::BIGINT AS simhash
FROM h
"""


#: synthetic gate image: 9×8-pixel P6 PPM (exactly the dHash 8×9
#: resample grid, so the area-mean resize is identity and the oracle can
#: compute each comparison from the raw pixel bytes). Pixels are gray
#: (R=G=B) with value = first md5 byte of "<group>|<idx>"; docs share a
#: group pairwise (doc_id % 250) and the second member zeroes pixel
#: (0,0), flipping at most one dHash bit — planted near-dups at hamming
#: ≤ 1. The header is hex("P6\\n9 8\\n255\\n").
_PPM_HEADER_HEX = "50360a3920380a3235350a"


def _gate_image_assets(docs: DataFrame) -> DataFrame:
    """(asset_id, modality, payload): the deterministic PPM corpus —
    payload bytes are built with pure SQL (md5 → hex → unhex), then the
    REAL native decode path parses them back, so decode→resize→dhash is
    checked end-to-end against the oracle's analytic pixel values."""
    g = (F.col("doc_id") % 250).cast("string")
    m = F.floor(F.col("doc_id") / 250)
    parts = [F.lit(_PPM_HEADER_HEX)]
    for idx in range(72):
        hx = F.substring(F.md5(F.concat(g, F.lit(f"|{idx}"))), 1, 2)
        if idx == 0:
            hx = F.when(m == 1, F.lit("00")).otherwise(hx)
        parts.append(F.concat(hx, hx, hx))       # gray: R=G=B
    return docs.select(F.col("doc_id").alias("asset_id"),
                       F.lit("image").alias("modality"),
                       F.unhex(F.concat(*parts)).alias("payload"))


#: 44-byte RIFF header for the synthetic gate WAVs: PCM16 mono, 8 kHz,
#: 128 samples (256 data bytes) — the constant prefix of build_wav's
#: output at that shape, so the SQL-built payloads are canonical WAV.
_WAV_HEADER_HEX = ("524946462401000057415645666d7420100000000100010040"
                   "1f0000803e0000020010006461746100010000")


def _gate_audio_assets(docs: DataFrame) -> DataFrame:
    """(asset_id, modality, payload): deterministic PCM16 WAV corpus —
    128 little-endian int16 samples per doc from md5("<doc_id>|a<block>")
    hex (16 blocks × 8 samples), concatenated after the constant RIFF
    header with pure SQL, then parsed back by the REAL numpy WAV parser,
    so build→decode→frame→feature is checked end-to-end against the
    oracle's analytic sample arithmetic."""
    g = F.col("doc_id").cast("string")
    parts = [F.lit(_WAV_HEADER_HEX)]
    for block in range(16):
        parts.append(F.md5(F.concat(g, F.lit(f"|a{block}"))))
    return docs.select(F.col("doc_id").alias("asset_id"),
                       F.lit("audio").alias("modality"),
                       F.unhex(F.concat(*parts)).alias("payload"))


def _gate_audio_twin_assets(docs: DataFrame) -> DataFrame:
    """Near-dup audio twins for the ``afp`` leg: even/odd doc pairs
    share sample blocks 0-14 (the md5 salt keys on doc_id with its low
    bit cleared) and each keeps its OWN block 15 — so a twin pair's
    energy-delta fingerprints agree on bits 0-13 and can differ only on
    the last real transition, planting verifiable hamming ≤ 1 pairs."""
    base = (F.col("doc_id") - F.col("doc_id") % 2).cast("string")
    own = F.col("doc_id").cast("string")
    parts = [F.lit(_WAV_HEADER_HEX)]
    for block in range(16):
        salt = base if block < 15 else own
        parts.append(F.md5(F.concat(salt, F.lit(f"|a{block}"))))
    return docs.select(F.col("doc_id").alias("asset_id"),
                       F.lit("audio").alias("modality"),
                       F.unhex(F.concat(*parts)).alias("payload"))


#: Y4M stream header for the synthetic gate videos: 9×8 Cmono
#: (grayscale — the one colorspace the codec-free parser implements),
#: the exact dHash resample grid so area-mean resize is identity and
#: the oracle computes fingerprints from the raw plane bytes
_Y4M_HEADER_HEX = b"YUV4MPEG2 W9 H8 F25:1 Cmono\n".hex()
_Y4M_FRAME_HEX = b"FRAME\n".hex()


def _gate_video_assets(docs: DataFrame) -> DataFrame:
    """(asset_id, modality, payload): deterministic 2-frame Cmono Y4M
    corpus — frame f's pixel idx is the first md5 byte of
    "<doc_id>|v<f>|<idx>", concatenated after the stream/frame markers
    with pure SQL, then parsed back by the REAL numpy Y4M parser, so
    build→decode→frame→feature is checked end-to-end against the
    oracle's analytic pixel arithmetic (the image-PPM / audio-WAV
    pattern applied to the third modality)."""
    g = F.col("doc_id").cast("string")
    parts = [F.lit(_Y4M_HEADER_HEX)]
    for f in range(2):
        parts.append(F.lit(_Y4M_FRAME_HEX))
        for idx in range(72):
            parts.append(F.substring(
                F.md5(F.concat(g, F.lit(f"|v{f}|{idx}"))), 1, 2))
    return docs.select(F.col("doc_id").alias("asset_id"),
                       F.lit("video").alias("modality"),
                       F.unhex(F.concat(*parts)).alias("payload"))


def _gate_video_twin_assets(docs: DataFrame) -> DataFrame:
    """Near-dup video twins for the ``vfp`` leg: even/odd doc pairs
    share every pixel (the md5 salt keys on doc_id with its low bit
    cleared) except the ODD twin zeroes frame 1's pixel (0,0) — so a
    twin pair's frame-0 dHashes are identical and frame 1 differs in
    at most one comparison bit: planted aligned-frame pairs at
    per-frame hamming ≤ 1 on BOTH frames."""
    base = (F.col("doc_id") - F.col("doc_id") % 2).cast("string")
    odd = F.col("doc_id") % 2 == 1
    parts = [F.lit(_Y4M_HEADER_HEX)]
    for f in range(2):
        parts.append(F.lit(_Y4M_FRAME_HEX))
        for idx in range(72):
            hx = F.substring(
                F.md5(F.concat(base, F.lit(f"|v{f}|{idx}"))), 1, 2)
            if f == 1 and idx == 0:
                hx = F.when(odd, F.lit("00")).otherwise(hx)
            parts.append(hx)
    return docs.select(F.col("doc_id").alias("asset_id"),
                       F.lit("video").alias("modality"),
                       F.unhex(F.concat(*parts)).alias("payload"))


def _gate_video_shiftnoise_assets(docs: DataFrame) -> DataFrame:
    """Shifted AND noisy video twins for the ``vmh`` leg — the fourth
    quadrant of the (aligned?, noisy?) matrix: 3-frame videos where the
    ODD twin shows the even base's frames 1..3 (temporal shift by one)
    and zeroes pixel (0,0) on the two SHARED frames (re-encode noise:
    per-frame dHash hamming ≤ 1, so exact-hash set matching can miss
    them and frame-index alignment never exists). Salt prefix ``|w``
    keeps this corpus independent of the ``|v`` twin corpora."""
    base = (F.col("doc_id") - F.col("doc_id") % 2).cast("string")
    odd = F.col("doc_id") % 2 == 1
    parts = [F.lit(_Y4M_HEADER_HEX)]
    for pos in range(3):
        parts.append(F.lit(_Y4M_FRAME_HEX))
        for idx in range(72):
            even_hx = F.substring(
                F.md5(F.concat(base, F.lit(f"|w{pos}|{idx}"))), 1, 2)
            odd_hx = (F.lit("00") if pos < 2 and idx == 0
                      else F.substring(
                          F.md5(F.concat(base,
                                         F.lit(f"|w{pos + 1}|{idx}"))),
                          1, 2))
            parts.append(F.when(odd, odd_hx).otherwise(even_hx))
    return docs.select(F.col("doc_id").alias("asset_id"),
                       F.lit("video").alias("modality"),
                       F.unhex(F.concat(*parts)).alias("payload"))


def _fpstore_arc_rows(spark: SparkSession, sf_dir: str) -> list:
    """The FingerprintStore commit→screen arc (operators/incremental.py
    — the third store, Hamming fingerprints): even doc_ids commit their
    32-bit SimHash prints as banded state, odd doc_ids screen at
    hamming ≤ 3 against it. Candidates are exactly the (odd, even)
    band-sharing pairs of the batch hamming_pairs plan (same
    hamming_band_widths(32, 3) bands), so the DuckDB twin derives the
    leg from the SAME banded candidate CTE the 'text' leg uses."""
    import tempfile

    from faisssearcher_spark.operators.incremental import FingerprintStore

    docs = load_table_parallel(spark, sf_dir, "documents")
    fps = dedup.simhash(docs, bits=32)
    with tempfile.TemporaryDirectory(prefix="fpstore_gate_") as tmp:
        store = FingerprintStore(spark, tmp, bits=32, max_hamming=3)
        store.commit(fps.filter(F.col("id") % 2 == 0), fp_col="simhash")
        hits = store.screen(fps.filter(F.col("id") % 2 == 1),
                            fp_col="simhash")
        # Arrow collect (guide §6): the hit set is ~40k rows at sf0.1
        # and the py4j row path paid ~2.5 s converting them one by one
        # (measured 2.91 vs 0.41+0.10 toPandas+tolist, values
        # identical); .tolist() restores native Python types so the
        # createDataFrame consumers see the exact same rows
        pdf = hits.select(
            F.lit("fpstore").alias("leg"),
            F.col("new_id").alias("id_a"),
            F.col("known_id").alias("id_b"),
            F.col("hamming").cast("int").alias("hamming")).toPandas()
        rows = [tuple(r) for r in pdf.to_numpy().tolist()]
    return rows


def q_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs within hamming ≤ 3 of the 32-bit
    fingerprint: pigeonhole byte-band equi-join candidates + XOR/popcount
    verification — the full pair pipeline, not just the fingerprints.

    EXTENDED (round 6, the 50-cap tag-union pattern) with perceptual
    image dedup (operators/multimodal.py) on a deterministic synthetic
    PPM corpus (see _gate_image_assets): ``image_fp`` rows carry every
    (asset_id, dHash) pair — the native binary decode → area-mean
    resize → difference-hash path value-checked against the oracle's
    analytic bit arithmetic — and ``image`` rows are the banded-hamming
    near-dup pairs (≤ 4 bits) over those 64-bit fingerprints. Round 7
    adds the ``audio`` leg: SQL-built PCM16 WAV payloads parsed by the
    real numpy RIFF decoder into exact per-frame integer features
    (multimodal.audio_features)."""
    from faisssearcher_spark.operators.multimodal import (
        image_near_dup_pairs, perceptual_hash)

    docs = load_table_parallel(spark, sf_dir, "documents")
    text_leg = dedup.simhash_pairs(docs, bits=32, max_hamming=3).select(
        F.lit("text").alias("leg"), "id_a", "id_b", "hamming")
    assets = _gate_image_assets(docs)
    fp_leg = perceptual_hash(assets, decoder="native", hash_size=8).select(
        F.lit("image_fp").alias("leg"),
        F.col("asset_id").alias("id_a"),
        F.col("phash").alias("id_b"),
        F.lit(-1).alias("hamming"))
    pair_leg = image_near_dup_pairs(assets, decoder="native", hash_size=8,
                                    max_hamming=4).select(
        F.lit("image").alias("leg"), "id_a", "id_b", "hamming")

    # tag-union leg 4 (round 6): video frame-sampling semantics
    # (multimodal.frame_sample) — synthetic per-doc durations, one row
    # per sampled offset, mapped into the pair schema as
    # (asset_id, frame_idx, frame_offset_ms); the offsets are pure
    # duration arithmetic the oracle replays exactly (the decode itself
    # stays the documented stub).
    from faisssearcher_spark.operators.multimodal import frame_sample

    videos = docs.select(
        F.col("doc_id").alias("asset_id"),
        F.lit("video").alias("modality"),
        ((F.col("doc_id") % 20) * 700 + 100).alias("duration_ms"))
    frames_leg = frame_sample(videos, every_ms=1000, max_frames=8).select(
        F.lit("frames").alias("leg"),
        F.col("asset_id").alias("id_a"),
        F.col("frame_idx").cast("long").alias("id_b"),
        F.col("frame_offset_ms").cast("int").alias("hamming"))

    # tag-union leg 5 (round 7): the audio feature-extract path
    # (multimodal.audio_features) — SQL-built PCM16 WAV payloads (see
    # _gate_audio_assets) decode through the REAL numpy RIFF parser and
    # frame into 4×32-sample windows; every per-frame feature is an
    # exact integer (energy = Σs², zero-crossings, peak |s|), packed as
    # id_a = asset·10+frame, id_b = energy, hamming = zcr·65536+peak.
    from faisssearcher_spark.operators.multimodal import audio_features

    audio_leg = audio_features(_gate_audio_assets(docs), frame_samples=32,
                               max_frames=4).select(
        F.lit("audio").alias("leg"),
        (F.col("asset_id") * 10 + F.col("frame_idx")).alias("id_a"),
        F.col("energy").alias("id_b"),
        (F.col("zcr") * 65536 + F.col("peak")).cast("int").alias("hamming"))

    # tag-union leg 6 (round 7): audio near-dup dedup
    # (multimodal.audio_near_dup_pairs) — energy-delta-sign fingerprints
    # through the SAME banded pigeonhole kernel as text/image, over a
    # twin corpus with planted even/odd near-dups (_gate_audio_twin_assets:
    # 15 shared blocks ⇒ hamming ≤ 1); the oracle rebuilds fingerprints
    # analytically and brute-force verifies popcount(xor) ≤ 1.
    from faisssearcher_spark.operators.multimodal import audio_near_dup_pairs

    afp_leg = audio_near_dup_pairs(_gate_audio_twin_assets(docs),
                                   frame_samples=8, n_bits=16,
                                   max_hamming=1).select(
        F.lit("afp").alias("leg"), "id_a", "id_b",
        F.col("hamming").cast("int").alias("hamming"))

    # tag-union leg 7 (round 9): the REAL video decode path — SQL-built
    # 2-frame Cmono Y4M payloads (see _gate_video_assets) parse through
    # the numpy YUV4MPEG2 parser into exact per-frame integer features
    # (multimodal.video_frame_features: luma_sum, luma_max, frame-diff
    # motion), packed as id_a = asset·10+frame, id_b = luma_sum,
    # hamming = motion·256 + luma_max.
    from faisssearcher_spark.operators.multimodal import (
        video_frame_features, video_near_dup_pairs)

    video_leg = video_frame_features(_gate_video_assets(docs)).select(
        F.lit("video").alias("leg"),
        (F.col("asset_id") * 10 + F.col("frame_idx")).alias("id_a"),
        F.col("luma_sum").alias("id_b"),
        (F.col("motion") * 256 + F.col("luma_max")).cast("int")
        .alias("hamming"))

    # tag-union leg 8 (round 9): aligned-frame video near-dup — per-
    # frame dHash (the SAME _dhash_from_gray definition as the image
    # leg) through the frame-aligned banded-hamming kernel over a twin
    # corpus with planted even/odd pairs (_gate_video_twin_assets: one
    # pixel differs on frame 1 ⇒ per-frame hamming ≤ 1 on both frames);
    # hamming slot carries n_matching_frames (== 2 for planted pairs).
    vfp_leg = video_near_dup_pairs(_gate_video_twin_assets(docs),
                                   hash_size=8, max_hamming=1,
                                   min_matching_frames=2).select(
        F.lit("vfp").alias("leg"), "id_a", "id_b",
        F.col("n_matching_frames").cast("int").alias("hamming"))

    # tag-union leg 9 (round 9): shift-TOLERANT video matching
    # (multimodal.video_shifted_near_dup_pairs) — videos as SETS of
    # frame dHashes, candidates from one equi-join on the hash value
    # itself; the twins share frame 0 verbatim (and frame 1 iff the
    # zeroed pixel left the dHash bits unchanged), so the shared-hash
    # counts are exact and engine-replayable. hamming slot carries
    # n_shared_hashes.
    from faisssearcher_spark.operators.multimodal import \
        video_shifted_near_dup_pairs

    vshift_leg = video_shifted_near_dup_pairs(
        _gate_video_twin_assets(docs)).select(
        F.lit("vshift").alias("leg"), "id_a", "id_b",
        F.col("n_shared_hashes").cast("int").alias("hamming"))

    # tag-union leg 12 (round 10): shift+NOISE-tolerant video matching
    # (multimodal.video_minhash_near_dup_pairs) — videos as sets of
    # pigeonhole band tokens of their frame dHashes (the shared
    # hamming_band_rows kernel, frame_idx-free) through the standard
    # banded MinHash LSH (minhash_lsh_join's pre-tokenized path).
    # Twins (_gate_video_shiftnoise_assets) are shifted one frame AND
    # per-frame perturbed, so exact-hash set matching (vshift) has no
    # guaranteed hit while each shared frame still shares its low band
    # token; r=1 (bands=num_hashes=16) for high LSH recall at the
    # planted jaccard ≈ 0.2. hamming slot carries round(jaccard·1e4).
    from faisssearcher_spark.operators.multimodal import \
        video_minhash_near_dup_pairs

    vmh_leg = video_minhash_near_dup_pairs(
        _gate_video_shiftnoise_assets(docs), hash_size=8,
        max_hamming=1, num_hashes=16, bands=16,
        verify_threshold=0.15).select(
        F.lit("vmh").alias("leg"), "id_a", "id_b",
        F.round(F.col("jaccard") * 10000).cast("int").alias("hamming"))

    # tag-union leg 11 (round 9): integer-exact coarse spectrum
    # (multimodal.audio_band_energies) — the {0,±1}-twiddle DFT bins
    # (DC / quarter-band / Nyquist powers) over the same SQL-built
    # WAVs, packed as id_a = asset·10+frame, id_b = p_dc,
    # hamming = (p_mid·31 + p_nyq) mod 1e9+7.
    from faisssearcher_spark.operators.multimodal import \
        audio_band_energies

    spec_leg = audio_band_energies(_gate_audio_assets(docs),
                                   max_frames=4).select(
        F.lit("spec").alias("leg"),
        (F.col("asset_id") * 10 + F.col("frame_idx")).alias("id_a"),
        F.col("p_dc").alias("id_b"),
        ((F.col("p_mid") * 31 + F.col("p_nyq")) % 1000000007)
        .cast("int").alias("hamming"))

    # tag-union leg 10 (round 9): the FingerprintStore commit→screen
    # arc (the third incremental store — Hamming prints; see
    # _fpstore_arc_rows), memoized per session and priced under its
    # own bench entry dedup_fpstore_screen, the store-arc discipline.
    fp_rows = BENCH_MEMO.get(_memo_key(spark, sf_dir, "fpstore"),
                             lambda: _fpstore_arc_rows(spark, sf_dir))
    fp_schema = "leg string, id_a long, id_b long, hamming int"
    fpstore_leg = (spark.createDataFrame(fp_rows, fp_schema) if fp_rows
                   else spark.createDataFrame([], fp_schema))

    # tag-union leg 12 (round 11): the corpus duplication SPECTRUM
    # (dedup.duplication_profile) — per probe length L the duplicated-
    # window counts and the covered-token mass (== what ExactSubstr at
    # min_len=L removes, by the coverage equivalence), melted into the
    # pair schema as (leg='profile_<metric>', id_a=L, id_b=value).
    prof_leg = dedup.duplication_profile(
        docs, lengths=_PROFILE_LENGTHS).select(
        "length",
        F.explode(F.create_map(
            F.lit("n_windows"), F.col("n_windows"),
            F.lit("n_dup_windows"), F.col("n_dup_windows"),
            F.lit("n_dup_occurrences"), F.col("n_dup_occurrences"),
            F.lit("n_covered_tokens"), F.col("n_covered_tokens"),
            F.lit("n_tokens"), F.col("n_tokens"))).alias("k", "v")) \
        .select(F.concat(F.lit("profile_"), F.col("k")).alias("leg"),
                F.col("length").cast("long").alias("id_a"),
                F.col("v").alias("id_b"),
                F.lit(-1).cast("int").alias("hamming"))
    return (text_leg.unionByName(fp_leg).unionByName(pair_leg)
            .unionByName(frames_leg).unionByName(audio_leg)
            .unionByName(afp_leg).unionByName(video_leg)
            .unionByName(vfp_leg).unionByName(vshift_leg)
            .unionByName(fpstore_leg).unionByName(spec_leg)
            .unionByName(vmh_leg).unionByName(prof_leg))


def _dhash_case_terms(var: str = "vs") -> str:
    """Analytic dHash of a 72-value (9×8, row-major, 1-based) gray list
    ``var``: comparison (i,k) = pixel(i,k+1) > pixel(i,k) contributes
    two's-complement weight 2^(63−j) (j = i·8+k; j=0 is the sign bit) —
    exactly dhash_int's MSB-first packing. Shared by the image-phash
    and per-frame video-fingerprint twins (the engine shares ONE
    _dhash_from_gray definition the same way)."""
    terms = []
    for i in range(8):
        for k in range(8):
            j = i * 8 + k
            w = -(1 << 63) if j == 0 else (1 << (63 - j))
            terms.append(f"CASE WHEN {var}[{i * 9 + k + 2}] > "
                         f"{var}[{i * 9 + k + 1}] THEN {w} ELSE 0 END")
    return " + ".join(terms)


def _oracle_image_phash() -> str:
    """Analytic dHash twin over the synthetic PPM corpus (see
    :func:`_dhash_case_terms` for the bit arithmetic)."""
    phash = _dhash_case_terms("vs")
    return f"""
img AS (SELECT doc_id, (doc_id % 250)::VARCHAR AS g,
               doc_id // 250 AS m
        FROM documents),
vals AS (SELECT doc_id,
                list_transform(range(0, 72),
                  idx -> CASE WHEN m = 1 AND idx = 0 THEN 0
                         ELSE ('0x' || substring(md5(g || '|' ||
                              idx::VARCHAR), 1, 2))::BIGINT END) AS vs
         FROM img),
iph AS (SELECT doc_id AS asset_id, ({phash})::BIGINT AS phash FROM vals)
"""


def _oracle_hamming_banded(bits: int, max_hamming: int) -> str:
    """DuckDB twin of the maximal-width pigeonhole banding — generated
    from the SAME band plan (dedup.hamming_band_widths) the Spark kernel
    uses, so candidate generation can never drift between engines. At
    the gate's 32-bit / hamming≤3 config this emits 4×8-bit bands
    (identical keys to the pre-r7 fixed-byte plan, so historical hashes
    are unchanged); the plan itself is what changed for wider configs."""
    from faisssearcher_spark.operators.dedup import hamming_band_widths

    widths = hamming_band_widths(bits, max_hamming)
    parts = []
    for b, w in enumerate(widths):
        off = sum(widths[:b])
        val = "simhash" if off == 0 else f"(simhash >> {off})"
        if w < 64:
            val = f"({val} & {(1 << w) - 1})"
        parts.append(f"SELECT doc_id AS id, simhash, {b} AS band_idx, "
                     f"{val} AS band_val FROM fp")
    return "\nUNION ALL\n".join(parts)


#: probe lengths for the duplication-spectrum leg — doubling, capped
#: at 16 (the gate corpus's docs run ~40-60 tokens; longer probes are
#: all-zero rows that check nothing)
_PROFILE_LENGTHS = (1, 2, 4, 8, 16)


def _oracle_dup_profile(lengths: "tuple[int, ...]" = _PROFILE_LENGTHS
                        ) -> str:
    """DuckDB twin of the duplication_profile leg: per probe length,
    the window CTE pattern of the exsub twin (windows are STRINGS here
    where the engine keys on xxhash64 of the token array — __w never
    leaves the operator, so the outputs agree), gaps-and-islands for
    the covered mass, melted to (leg, L, value, -1) rows."""
    blocks = []
    for L in lengths:
        blocks.append(f"""
SELECT leg, {L}::BIGINT AS id_a, v AS id_b, -1 AS hamming
FROM (
  WITH dpt AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
       dpw AS (SELECT doc_id, s - 1 AS start,
                      array_to_string(list_slice(toks, s, s + {L} - 1),
                                      ' ') AS w
               FROM (SELECT doc_id, toks, len(toks) AS ntok
                     FROM dpt WHERE len(toks) >= {L}) d,
                    unnest(generate_series(1, ntok - {L} + 1)) AS u(s)),
       dpd AS (SELECT w, count(*) AS c FROM dpw GROUP BY w
               HAVING count(*) > 1),
       dpi AS (SELECT doc_id, start,
                      sum(CASE WHEN prev IS NULL OR start - prev > {L}
                               THEN 1 ELSE 0 END)
                          OVER (PARTITION BY doc_id
                                ORDER BY start) AS isl
               FROM (SELECT doc_id, start,
                            lag(start) OVER (PARTITION BY doc_id
                                             ORDER BY start) AS prev
                     FROM dpw JOIN dpd USING (w))),
       dps AS (SELECT doc_id, min(start) AS s, max(start) + {L} AS e
               FROM dpi GROUP BY doc_id, isl)
  SELECT 'profile_n_windows' AS leg,
         (SELECT count(*) FROM dpw)::BIGINT AS v
  UNION ALL SELECT 'profile_n_dup_windows',
         (SELECT count(*) FROM dpd)::BIGINT
  UNION ALL SELECT 'profile_n_dup_occurrences',
         (SELECT coalesce(sum(c), 0) FROM dpd)::BIGINT
  UNION ALL SELECT 'profile_n_covered_tokens',
         (SELECT coalesce(sum(e - s), 0) FROM dps)::BIGINT
  UNION ALL SELECT 'profile_n_tokens',
         (SELECT coalesce(sum(len(toks)), 0) FROM dpt)::BIGINT
)""")
    return "\nUNION ALL\n".join(blocks)


ORACLE_SIMHASH_PAIRS = f"""
WITH fp AS ({ORACLE_SIMHASH.strip().rstrip()}),
     banded AS ({_oracle_hamming_banded(32, 3)}),
     cand AS (SELECT DISTINCT a.id AS id_a, a.simhash AS fp_a,
                     b.id AS id_b, b.simhash AS fp_b
              FROM banded a JOIN banded b
                ON a.band_idx = b.band_idx AND a.band_val = b.band_val
                   AND a.id < b.id),
     {_oracle_image_phash().strip()},
     afp_s AS (
       -- twin-corpus samples: blocks 0-14 salt on doc_id with the low
       -- bit cleared (even/odd pairs share them), block 15 on doc_id
       SELECT doc_id, b,
              list_transform(range(0, 8), j ->
                ((('0x' || substring(h, j * 4 + 3, 2)
                        || substring(h, j * 4 + 1, 2))::BIGINT
                  + 32768) % 65536 - 32768)) AS ss
       FROM (SELECT doc_id, b,
                    md5((CASE WHEN b < 15 THEN doc_id - doc_id % 2
                         ELSE doc_id END)::VARCHAR
                        || '|a' || b::VARCHAR) AS h
             FROM documents, unnest(range(0, 16)) AS t(b))),
     afp_e AS (
       SELECT doc_id, b,
              list_sum(list_transform(ss, s -> s * s))::BIGINT AS e
       FROM afp_s),
     afp_bits AS (
       SELECT doc_id, b, e,
              coalesce(lead(e) OVER (PARTITION BY doc_id ORDER BY b),
                       0) AS e_next
       FROM afp_e),
     afp_fp AS (
       SELECT doc_id AS id,
              sum(CASE WHEN e_next > e THEN (1::BIGINT << b)
                  ELSE 0 END)::BIGINT AS fp
       FROM afp_bits GROUP BY doc_id),
     vvals AS (
       -- gate Y4M frames: pixel idx of frame f is the first md5 byte
       -- of "<doc_id>|v<f>|<idx>" (see _gate_video_assets)
       SELECT doc_id, f,
              list_transform(range(0, 72), idx ->
                ('0x' || substring(md5(doc_id::VARCHAR || '|v'
                     || f::VARCHAR || '|' || idx::VARCHAR),
                     1, 2))::BIGINT) AS vs
       FROM documents, unnest(range(0, 2)) AS t(f)),
     wvals AS (
       -- twin corpus: pixels salt on doc_id with the low bit cleared;
       -- the odd twin zeroes frame 1's pixel 0 (_gate_video_twin_assets)
       SELECT doc_id, f,
              list_transform(range(0, 72), idx ->
                CASE WHEN doc_id % 2 = 1 AND f = 1 AND idx = 0 THEN 0
                ELSE ('0x' || substring(md5(
                        (doc_id - doc_id % 2)::VARCHAR || '|v'
                        || f::VARCHAR || '|' || idx::VARCHAR),
                        1, 2))::BIGINT END) AS vs
       FROM documents, unnest(range(0, 2)) AS t(f)),
     wfp AS (SELECT doc_id, f, ({_dhash_case_terms('vs')})::BIGINT AS fhash
             FROM wvals),
     zvals AS (
       -- shift+noise twin corpus (salt |w): odd doc shows the even
       -- base's frames pos+1, pixel (0,0) zeroed on shared frames
       SELECT doc_id, pos,
              list_transform(range(0, 72), idx ->
                CASE WHEN doc_id % 2 = 1 AND pos < 2 AND idx = 0 THEN 0
                ELSE ('0x' || substring(md5(
                        (doc_id - doc_id % 2)::VARCHAR || '|w'
                        || (CASE WHEN doc_id % 2 = 1 THEN pos + 1
                            ELSE pos END)::VARCHAR
                        || '|' || idx::VARCHAR),
                        1, 2))::BIGINT END) AS vs
       FROM documents, unnest(range(0, 3)) AS t(pos)),
     zfp AS (SELECT doc_id, ({_dhash_case_terms('vs')})::BIGINT AS fhash
             FROM zvals),
     ztok AS (SELECT DISTINCT doc_id,
                     -- every band masks to its width (hamming_band_rows
                     -- masks band 1 too: (fp >> 32) & 0xFFFFFFFF, so
                     -- band values are ALWAYS non-negative strings)
                     b.band_idx::VARCHAR || ':' ||
                     (CASE WHEN b.band_idx = 0 THEN fhash & 4294967295
                           ELSE (fhash >> 32) & 4294967295
                      END)::VARCHAR AS tok
              FROM zfp, (SELECT unnest(range(0, 2)) AS band_idx) b),
     zset AS (SELECT doc_id, list(tok) AS g FROM ztok GROUP BY doc_id),
     zsig AS (SELECT doc_id, g, {_oracle_minhash_sig()} AS sg FROM zset),
     zband AS (SELECT doc_id, b.band_idx, sg[b.band_idx + 1] AS band_val
               FROM zsig, (SELECT unnest(range(0, 16)) AS band_idx) b),
     zcand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
               FROM zband a JOIN zband b
                 ON a.band_idx = b.band_idx AND a.band_val = b.band_val
                    AND a.doc_id < b.doc_id),
     zver AS (SELECT id_a, id_b,
                     len(list_filter(sa.g, x -> list_contains(sb.g, x)))::DOUBLE
                     / (len(sa.g) + len(sb.g)
                        - len(list_filter(sa.g, x -> list_contains(sb.g, x))))
                     AS j
              FROM zcand
              JOIN zset sa ON sa.doc_id = id_a
              JOIN zset sb ON sb.doc_id = id_b)
SELECT 'text' AS leg, id_a, id_b, bit_count(xor(fp_a, fp_b))::INT AS hamming
FROM cand WHERE bit_count(xor(fp_a, fp_b)) <= 3
UNION ALL
SELECT 'image_fp', asset_id, phash, -1 FROM iph
UNION ALL
SELECT 'image', a.asset_id, b.asset_id,
       bit_count(xor(a.phash, b.phash))::INT
FROM iph a JOIN iph b ON a.asset_id < b.asset_id
WHERE bit_count(xor(a.phash, b.phash)) <= 4
UNION ALL
SELECT 'frames', doc_id,
       unnest(range(0, least(floor(((doc_id % 20) * 700 + 100 - 1)
                                   / 1000.0)::BIGINT, 7) + 1)),
       (unnest(range(0, least(floor(((doc_id % 20) * 700 + 100 - 1)
                                    / 1000.0)::BIGINT, 7) + 1)) * 1000)::INT
FROM documents
UNION ALL
SELECT 'audio', doc_id * 10 + f, energy, (zcr * 65536 + peak)::INT
FROM (
  SELECT doc_id, f,
         list_sum(list_transform(w, s -> s * s))::BIGINT AS energy,
         list_sum(list_transform(range(1, 32), i ->
             CASE WHEN (w[i] >= 0) != (w[i + 1] >= 0)
                  THEN 1 ELSE 0 END))::BIGINT AS zcr,
         list_max(list_transform(w, s -> abs(s))) AS peak
  FROM (
    -- sample i (0-based): 16-bit LE int16 from hex chars 4j+1..4j+4 of
    -- md5("<doc_id>|a<i//8>") (j = i%8): bytes write in md5 hex order,
    -- WAV reads little-endian, so the value is 0x<p2><p1>; the
    -- (+32768) % 65536 - 32768 fold maps [0,65535] to signed int16.
    SELECT doc_id, f,
           list_slice(list_transform(range(0, 128), i ->
               (('0x' || substring(md5(doc_id::VARCHAR || '|a' ||
                                       (i // 8)::VARCHAR),
                                   (i % 8) * 4 + 3, 2)
                      || substring(md5(doc_id::VARCHAR || '|a' ||
                                       (i // 8)::VARCHAR),
                                   (i % 8) * 4 + 1, 2))::BIGINT
                + 32768) % 65536 - 32768),
             f * 32 + 1, f * 32 + 32) AS w
    FROM documents, unnest(range(0, 4)) AS t(f)
  )
)
UNION ALL
SELECT 'afp', a.id, b.id, bit_count(xor(a.fp, b.fp))::INT
FROM afp_fp a JOIN afp_fp b ON a.id < b.id
WHERE bit_count(xor(a.fp, b.fp)) <= 1
UNION ALL
SELECT 'video', a.doc_id * 10 + a.f, list_sum(a.vs)::BIGINT,
       ((CASE WHEN a.f = 0 THEN 0 ELSE
           list_sum(list_transform(range(1, 73),
                                   i -> abs(a.vs[i] - p.vs[i])))
         END) * 256 + list_max(a.vs))::INT
FROM vvals a LEFT JOIN vvals p
  ON p.doc_id = a.doc_id AND p.f = a.f - 1
UNION ALL
SELECT 'vfp', a.doc_id, b.doc_id, count(*)::INT
FROM wfp a JOIN wfp b ON a.f = b.f AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.fhash, b.fhash)) <= 1
GROUP BY a.doc_id, b.doc_id
HAVING count(*) >= 2
UNION ALL
SELECT 'vshift', a.doc_id, b.doc_id, count(*)::INT
FROM (SELECT DISTINCT doc_id, fhash FROM wfp) a
JOIN (SELECT DISTINCT doc_id, fhash FROM wfp) b
  ON a.fhash = b.fhash AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
HAVING count(*) >= 1
UNION ALL
-- integer-exact coarse spectrum: the {{0,±1}}-twiddle DFT bins per
-- 8-sample frame of the SQL-built WAVs (DC / quarter-band / Nyquist
-- powers — pure integer arithmetic, zero float caveats)
SELECT 'spec', doc_id * 10 + f, (dc * dc)::BIGINT,
       (((re2 * re2 + im2 * im2) * 31 + nyq * nyq)
        % 1000000007)::INT
FROM (
  SELECT doc_id, f,
         list_sum(w)::BIGINT AS dc,
         (w[1] - w[3] + w[5] - w[7])::BIGINT AS re2,
         (w[2] - w[4] + w[6] - w[8])::BIGINT AS im2,
         (w[1]-w[2]+w[3]-w[4]+w[5]-w[6]+w[7]-w[8])::BIGINT AS nyq
  FROM (
    SELECT doc_id, f,
           list_slice(list_transform(range(0, 128), i ->
               (('0x' || substring(md5(doc_id::VARCHAR || '|a' ||
                                       (i // 8)::VARCHAR),
                                   (i % 8) * 4 + 3, 2)
                      || substring(md5(doc_id::VARCHAR || '|a' ||
                                       (i // 8)::VARCHAR),
                                   (i % 8) * 4 + 1, 2))::BIGINT
                + 32768) % 65536 - 32768),
             f * 8 + 1, f * 8 + 8) AS w
    FROM documents, unnest(range(0, 4)) AS t(f)
  )
)
UNION ALL
-- the FingerprintStore arc: odds screen against committed evens —
-- exactly the (odd, even) band-sharing pairs of the same banded
-- candidate set the 'text' leg verifies (new_id = the odd side)
SELECT 'fpstore',
       CASE WHEN id_a % 2 = 1 THEN id_a ELSE id_b END,
       CASE WHEN id_a % 2 = 1 THEN id_b ELSE id_a END,
       bit_count(xor(fp_a, fp_b))::INT
FROM cand
WHERE bit_count(xor(fp_a, fp_b)) <= 3 AND (id_a + id_b) % 2 = 1
UNION ALL
-- shift+noise-tolerant video matching: banded MinHash LSH (r=1, 16
-- slots) over per-video band-token sets, exact band-token Jaccard
-- verified at >= 0.15, packed as round(j*1e4)
SELECT 'vmh', id_a, id_b, round(j * 10000)::INT
FROM zver WHERE j >= 0.15
UNION ALL
-- corpus duplication spectrum: per probe length the duplicated-window
-- counts and covered-token mass (the ExactSubstr removal-rate curve)
{_oracle_dup_profile()}
"""


def q_dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic near-dup pairs: cosine ≥ 0.45 over the embeddings table."""
    emb = load_table_parallel(spark, sf_dir, "embeddings")
    res = dedup.embedding_cosine_pairs(emb, threshold=0.45, score_scale=4)
    return res


ORACLE_EMB_NEARDUP = f"""
WITH e AS (SELECT vec_id, {_NORM} AS v FROM embeddings)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round({_dot('a.v', 'b.v')}, 4) AS cos_sim
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE round({_dot('a.v', 'b.v')}, 4) >= 0.45
"""


def q_dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The unbounded-scale semantic near-dup path: OR-amplified sign-LSH
    candidate buckets (8 tables × 4 sign-bits, seeded RANDOM Gaussian
    hyperplanes — the default; axis-aligned bits degenerate on
    anisotropic embeddings, r3 ADVICE) + exact dot-product verification.
    The oracle replicates the EXACT plane constants and bucket
    assignment in SQL, so the gate checks the full candidate-generation
    + verify pipeline, not just the survivors' scores."""
    emb = load_table_parallel(spark, sf_dir, "embeddings")
    res = dedup.embedding_cosine_pairs(emb, threshold=0.45, score_scale=4,
                                       strategy="lsh", lsh_tables=8,
                                       lsh_bits=4, lsh_dim=64)
    return res


def _oracle_emb_lsh(tables: int = 8, bits: int = 4,
                    threshold: float = 0.45, dim: int = 64,
                    seed: int = 42) -> str:
    # Random-hyperplane twin (dedup.lsh_hyperplanes is the single source
    # of the plane constants): bit j of table t = sign of the projection
    # onto plane t·bits+j, inlined as an explicit left-associated
    # multiply-add chain so the float64 summation order matches Spark's
    # zip_with → aggregate fold term for term.
    from faisssearcher_spark.operators.dedup import lsh_hyperplanes

    planes = lsh_hyperplanes(tables, bits, dim, seed)

    def proj(row: int) -> str:
        return " + ".join(
            f"(embedding[{i + 1}]::DOUBLE * {float(planes[row][i])!r})"
            for i in range(dim))

    def bucket(t: int) -> str:
        return " + ".join(
            f"(CASE WHEN ({proj(t * bits + j)}) >= 0 "
            f"THEN {1 << j} ELSE 0 END)" for j in range(bits))

    per_table = "\nUNION ALL\n".join(
        f"SELECT vec_id AS id, {t} AS t, ({bucket(t)}) AS bucket "
        f"FROM embeddings" for t in range(tables))
    return f"""
WITH tb AS ({per_table}),
     cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
              FROM tb a JOIN tb b
                ON a.t = b.t AND a.bucket = b.bucket AND a.id < b.id),
     e AS (SELECT vec_id, {_NORM} AS v FROM embeddings)
SELECT id_a, id_b, round({_dot('ea.v', 'eb.v')}, 4) AS cos_sim
FROM cand JOIN e ea ON ea.vec_id = id_a JOIN e eb ON eb.vec_id = id_b
WHERE round({_dot('ea.v', 'eb.v')}, 4) >= {threshold}
"""


#: EmbeddingStore gate-leg parameters: axis planes (the oracle-trivial
#: variant), 16 tables × 4 sign bits (= the full 64-dim budget; recalls
#: all 10 cross-parity ground-truth pairs at sf0.01), cosine ≥ 0.45
#: (the corpus's near-dup band — there are NO pairs above 0.8 in the
#: synthetic testdata, so a higher threshold would gate an empty set)
ESTORE_TABLES, ESTORE_BITS, ESTORE_THRESHOLD = 16, 4, 0.45


def _estore_arc_rows(spark: SparkSession, sf_dir: str,
                     tables: int = ESTORE_TABLES,
                     bits: int = ESTORE_BITS) -> list:
    """The EmbeddingStore commit→screen arc (operators/incremental.py):
    even vec_ids commit their axis-plane buckets + fp16 codes to a
    persisted store, odd vec_ids screen against the DECODED state at
    cos ≥ ESTORE_THRESHOLD — the full composition (sign-LSH bucketing,
    f16 encode, parquet round-trip, bucket equi-join, f16 decode,
    cosine verify) materialized to driver rows. The r7 verdict's one
    gate-less composition; every stage here is the exact op its DuckDB
    twin replays (axis buckets are raw coordinate signs, f16 codes are
    bit-deterministic, the decode is exact integer·2⁻²⁴)."""
    import tempfile

    from faisssearcher_spark.operators.incremental import EmbeddingStore

    emb = load_table_parallel(spark, sf_dir, "embeddings")
    with tempfile.TemporaryDirectory(prefix="estore_gate_") as tmp:
        store = EmbeddingStore(spark, tmp, dim=64, tables=tables,
                               bits=bits, planes_mode="axis")
        store.commit(emb.filter(F.col("vec_id") % 2 == 0))
        hits = store.screen(emb.filter(F.col("vec_id") % 2 == 1),
                            threshold=ESTORE_THRESHOLD, score_scale=4)
        rows = hits.select(
            F.lit("estore").alias("strategy"),
            F.col("new_id").alias("id_a"),
            F.col("known_id").alias("id_b"),
            F.col("cos_sim")).collect()
    return rows


def q_dedup_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic near-dup strategies over the same corpus and threshold,
    tag-unioned into one gate row: 'blocked' (exhaustive blocked-GEMM
    pairs — the recall-1.0 baseline), 'lsh' (OR-amplified sign-LSH
    candidate buckets + exact verification — the unbounded-scale path),
    and 'estore' (round 8: the incremental EmbeddingStore commit→screen
    composition — even half committed as axis-buckets + fp16 codes, odd
    half screened against the decoded state). Each side hash-matches its
    own oracle: the blocked oracle is the plain all-pairs SQL; the LSH
    oracle replicates the exact bucket assignment; the estore oracle
    replays buckets, f16 encode, DECODE and the screen cosine, so the
    whole store arc is value-checked cross-engine, not just tested."""
    emb = load_table_parallel(spark, sf_dir, "embeddings")
    blocked = dedup.embedding_cosine_pairs(emb, threshold=0.45,
                                           score_scale=4,
                                           strategy="blocked")
    lsh = dedup.embedding_cosine_pairs(emb, threshold=0.45, score_scale=4,
                                       strategy="lsh", lsh_tables=8,
                                       lsh_bits=4)
    est_rows = BENCH_MEMO.get(_memo_key(spark, sf_dir, "estore"),
                              lambda: _estore_arc_rows(spark, sf_dir))
    schema = "strategy string, id_a long, id_b long, cos_sim double"
    est = spark.createDataFrame(est_rows, schema) if est_rows \
        else spark.createDataFrame([], schema)
    return (blocked.select(F.lit("blocked").alias("strategy"), "*")
            .unionByName(lsh.select(F.lit("lsh").alias("strategy"), "*"))
            .unionByName(est))


def _oracle_estore() -> str:
    """DuckDB twin of the EmbeddingStore arc: axis sign-buckets on the
    raw coordinates (bit j of table t = sign of coordinate t·bits+j),
    candidates = (odd, even) pairs sharing any (t, bucket), history
    side f16-encoded then DECODED (integer mantissa units × 2⁻²⁴ —
    every decoded half is exactly this double), screen cosine with the
    same dot/norm association as functions/metrics.cosine, rounded at
    4dp BEFORE the threshold filter (the screen's score_scale order)."""
    t, b, thr = ESTORE_TABLES, ESTORE_BITS, ESTORE_THRESHOLD
    bucket = (f"list_sum(list_transform(range(0, {b}), j -> CASE WHEN "
              f"embedding[tt.t * {b} + j + 1] >= 0 THEN (1 << j) "
              f"ELSE 0 END))")
    return f"""
WITH en AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
            WHERE vec_id % 2 = 1),
     ek AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
            WHERE vec_id % 2 = 0),
     ebn AS (SELECT vec_id AS id, tt.t, {bucket} AS bucket
             FROM embeddings, (SELECT unnest(range(0, {t})) AS t) tt
             WHERE vec_id % 2 = 1),
     ebk AS (SELECT vec_id AS id, tt.t, {bucket} AS bucket
             FROM embeddings, (SELECT unnest(range(0, {t})) AS t) tt
             WHERE vec_id % 2 = 0),
     ecand AS (SELECT DISTINCT n.id AS new_id, k.id AS known_id
               FROM ebn n JOIN ebk k
                 ON n.t = k.t AND n.bucket = k.bucket),
     {_f16_u_ctes('ek', 'ef')},
     edec AS (SELECT vec_id, list_transform(u, x ->
                 (CASE WHEN x >= 32768 THEN -1.0 ELSE 1.0 END)
                 * (CASE WHEN (x % 32768) // 1024 = 0
                         THEN ((x % 32768) % 1024)::DOUBLE
                         ELSE (((x % 32768) % 1024 + 1024)
                               * power(2, (x % 32768) // 1024 - 1)) END)
                 * power(2.0, -24)) AS dv
              FROM efc),
     esc AS (SELECT new_id, known_id,
                    round(CASE WHEN sqrt(list_sum(list_transform(nv.v,
                               x -> x*x)))
                             * sqrt(list_sum(list_transform(d.dv,
                               x -> x*x))) <> 0
                          THEN list_sum(list_transform(
                                 range(1, len(nv.v)+1),
                                 i -> nv.v[i] * d.dv[i]))
                             / (sqrt(list_sum(list_transform(nv.v,
                                  x -> x*x)))
                                * sqrt(list_sum(list_transform(d.dv,
                                  x -> x*x)))) END, 4) AS cos_sim
             FROM ecand
             JOIN en nv ON nv.vec_id = new_id
             JOIN edec d ON d.vec_id = known_id)
SELECT 'estore' AS strategy, new_id AS id_a, known_id AS id_b, cos_sim
FROM esc WHERE cos_sim >= {thr}
"""


def _oracle_emb_neardup_strategies() -> str:
    return f"""
SELECT 'blocked' AS strategy, * FROM ({ORACLE_EMB_NEARDUP})
UNION ALL
SELECT 'lsh' AS strategy, * FROM ({_oracle_emb_lsh()})
UNION ALL
SELECT * FROM ({_oracle_estore()})
"""


# ===========================================================================
# 4. text analysis
# ===========================================================================

#: fixed merge table for the BPE-encode gate leg (r6 verdict #3): the
#: deterministic output of BPETokenizer.train(n_merges=28) on the sf0.01
#: documents corpus, frozen so the gate checks ENCODE (the greedy
#: lowest-rank merge loop) — training stays pytest-covered. Includes
#: multi-level cascades (('jo','in</w>') needs ('j','o') and
#: ('i','n</w>') first), so merge ordering is genuinely exercised.
FIXED_BPE_MERGES = [
    ("e", "r"), ("e", "</w>"), ("n", "</w>"), ("er", "</w>"), ("o", "w"),
    ("ow", "</w>"), ("o", "r"), ("s", "t"), ("h", "</w>"), ("a", "t"),
    ("l", "u"), ("i", "n"), ("a", "</w>"), ("g", "</w>"), ("y", "</w>"),
    ("a", "r"), ("p", "ar"), ("t", "</w>"), ("i", "n</w>"), ("j", "o"),
    ("jo", "in</w>"), ("a", "s"), ("as", "h</w>"), ("h", "ash</w>"),
    ("r", "ow</w>"), ("at", "c"), ("atc", "h</w>"), ("b", "atch</w>"),
]


def _oracle_bpe_ctes() -> str:
    """DuckDB twin of BPETokenizer(FIXED_BPE_MERGES).encode_expr: the
    greedy merge loop unrolls as a recursive CTE over the corpus's
    DISTINCT word types (each step merges the pair with the lowest
    (rank, position) — coalesced to a no-match sentinel so fully-merged
    single-symbol words terminate). Emits ``bpe_doc(doc_id, n_bpe_tokens,
    bpe_hash)``; word order re-assembles via unnest WITH ORDINALITY."""
    merge_vals = ", ".join(
        f"({i}, '{a.replace(chr(39), chr(39) * 2)}', "
        f"'{b.replace(chr(39), chr(39) * 2)}')"
        for i, (a, b) in enumerate(FIXED_BPE_MERGES))
    return f"""
bm(rank, l, r) AS (VALUES {merge_vals}),
brk AS (SELECT map(list(l || chr(31) || r), list(rank)) AS mp FROM bm),
bwx AS (SELECT doc_id, toks[u.s] AS w, u.s AS ord
        FROM (SELECT doc_id, {_TOKS} AS toks FROM documents),
             unnest(generate_series(1, len(toks))) AS u(s)),
bdw AS (SELECT DISTINCT w FROM bwx),
binit AS (SELECT w, list_append(string_split(w, ''), '</w>') AS syms,
                 FALSE AS done
          FROM bdw),
benc(w, syms, done) AS (
  SELECT * FROM binit
  UNION ALL
  SELECT w,
         CASE WHEN br >= 999999 THEN syms
              ELSE list_concat(list_concat(syms[1:bi-1],
                       [syms[bi] || syms[bi+1]]), syms[bi+2:]) END,
         br >= 999999
  FROM (SELECT w, syms, coalesce(best.r, 999999) AS br,
               coalesce(best.i, 0) AS bi
        FROM (SELECT w, syms,
                     list_sort(list_transform(range(1, len(syms)),
                       i -> {{'r': coalesce(
                                 brk.mp[syms[i] || chr(31) || syms[i+1]][1],
                                 999999),
                             'i': i}}))[1] AS best
              FROM benc, brk WHERE NOT done))
),
bencw AS (SELECT w, syms FROM benc WHERE done),
bpe_doc AS (SELECT bwx.doc_id,
                   sum(len(syms))::INT AS n_bpe_real,
                   md5(string_agg(array_to_string(syms, ' '), ' '
                                  ORDER BY bwx.ord)) AS bpe_hash
            FROM bwx JOIN bencw USING (w)
            GROUP BY bwx.doc_id)"""


#: fixed WordPiece vocabulary for the encode gate leg (round 8): the
#: deterministic output of WordPieceTokenizer.train(n_merges=24) on the
#: sf0.01 documents corpus (max_piece_len derives to 4), frozen so the
#: gate checks ENCODE (the greedy longest-match-first scan, ##
#: continuation pieces, [UNK] collapse) — likelihood-scored merge
#: training stays pytest-covered, the FIXED_BPE_MERGES discipline.
FIXED_WORDPIECE_VOCAB = [
    '##a', '##b', '##c', '##d', '##e', '##g', '##h', '##i', '##k', '##l',
    '##m', '##n', '##o', '##p', '##r', '##s', '##t', '##u', '##w', '##y',
    'a', 'b', 'c', 'd', 'f', 'g', 'h', 'j', 'k', 'l', 'm', 'o', 'p', 'q',
    'r', 's', 't', 'v', 'w', 'qu', 'li', 'wi', 'lin', 'win', 'wind', 'fi',
    'bi', '##in', 'big', 'ag', 'agg', 'th', '##sh', '##ch', '##bl', 'fil',
    '##us', 'cus', '##up', '##lu', 'sp', '##lum', '##lumn',
]


def _oracle_wordpiece_ctes() -> str:
    """DuckDB twin of WordPieceTokenizer(FIXED_WORDPIECE_VOCAB)
    .encode_expr: the greedy longest-match-first scan replayed as a
    recursive CTE over the corpus's DISTINCT word types (reusing the
    BPE CTEs' ``bwx``/``bdw`` word frames). Each step matches the
    longest k whose piece — ``##``-prefixed when not word-initial — is
    in the vocabulary (``list_max`` over the matching lengths IS
    longest-first, since every k is tested); a step with no match, or a
    word past the 100-char cap, marks the word failed and its tokens
    collapse to ['[UNK]']. Emits ``wp_doc(doc_id, n_wp_real,
    wp_hash)``."""
    from faisssearcher_spark.operators.wordpiece import (UNK,
                                                         WordPieceTokenizer)

    mpl = WordPieceTokenizer(FIXED_WORDPIECE_VOCAB).max_piece_len
    vocab_vals = ", ".join(
        f"('{p.replace(chr(39), chr(39) * 2)}')"
        for p in FIXED_WORDPIECE_VOCAB)
    return f"""
wvoc(piece) AS (VALUES {vocab_vals}),
wvl AS (SELECT list(piece) AS vl FROM wvoc),
wenc(w, pos, pieces, failed) AS (
  SELECT w, 1, CAST([] AS VARCHAR[]), len(w) > 100 FROM bdw
  UNION ALL
  SELECT w,
         CASE WHEN k IS NULL THEN len(w) + 1 ELSE (pos + k)::INT END,
         CASE WHEN k IS NULL THEN pieces
              ELSE list_append(pieces,
                     CASE WHEN pos = 1 THEN substring(w, pos, k)
                          ELSE '##' || substring(w, pos, k) END) END,
         k IS NULL
  FROM (SELECT w, pos, pieces,
               list_max(list_filter(
                 range(1, least({mpl}, len(w) - pos + 1) + 1),
                 kk -> list_contains(wvl.vl,
                       CASE WHEN pos = 1
                            THEN substring(w, pos, kk::INT)
                            ELSE '##' || substring(w, pos, kk::INT)
                            END)))::INT AS k
        FROM wenc, wvl
        WHERE pos <= len(w) AND NOT failed)
),
wdone AS (SELECT w, CASE WHEN failed THEN ['{UNK}'] ELSE pieces END
                     AS fin
          FROM wenc WHERE pos > len(w) OR failed),
wp_doc AS (SELECT bwx.doc_id,
                  sum(len(fin))::INT AS n_wp_real,
                  md5(string_agg(array_to_string(fin, ' '), ' '
                                 ORDER BY bwx.ord)) AS wp_hash
           FROM bwx JOIN wdone USING (w)
           GROUP BY bwx.doc_id)"""


#: deterministic output of UnigramTokenizer.train(vocab_size=48,
#: max_piece_len=6) on the sf0.01 documents corpus, frozen so the gate
#: checks ENCODE (the Viterbi max-likelihood segmentation) — EM training
#: stays pytest-covered, the FIXED_BPE_MERGES discipline. Values are
#: full-precision reprs: both engines parse them to the identical double,
#: and the DP then runs the same adds/compares on both sides.
#: Regenerated (r8) from the vectorized EM fit — the canonical trainer;
#: three values moved by one ulp vs the scalar loop (numpy SIMD
#: exp/log1p vs libm), piece set identical.
FIXED_UNIGRAM_PIECES = [
    ('a', -2.987141059146974), ('agg', -4.059911402968987),
    ('b', -4.08471263372532), ('batch', -4.01739544242329),
    ('c', -38.49109984059026), ('column', -4.020602286432869),
    ('custom', -4.020602286432869), ('d', -4.044301186768712),
    ('data', -4.0489663263949645), ('e', -2.689885259039894),
    ('f', -4.110147530873141), ('filter', -4.021673523814368),
    ('g', -3.3870012648290677), ('h', -4.126618979427862),
    ('hash', -4.006805290864403), ('i', -3.3858739181655872),
    ('j', -38.49109984059026), ('join', -3.988987430051166),
    ('k', -4.07901839125681), ('key', -4.0632576715112725),
    ('l', -38.49109984059026), ('line', -4.046634125150816),
    ('m', -4.071095943975255), ('merge', -4.0378920111424685),
    ('n', -4.073361774056631), ('o', -3.999988944288373),
    ('order', -4.0444448990825785), ('ow', -4.018086230006105),
    ('p', -38.49109984059026), ('par', -3.3881466464165895),
    ('q', -4.090436747809209), ('r', -2.644850172614948),
    ('ro', -4.141194627764883), ('row', -4.101627890954602),
    ('s', -3.338459514399191), ('scan', -4.01846324818412),
    ('slow', -4.037881334041221), ('small', -4.027046991875511),
    ('st', -3.453691153314697), ('t', -2.9643999215574484),
    ('table', -4.048834346060418), ('u', -4.090436747809209),
    ('up', -4.0532493642695355), ('v', -38.49109984059026),
    ('value', -4.061022862602916), ('vector', -4.044438734587381),
    ('w', -4.038600339438205), ('y', -4.0892865653399895),
]


def _oracle_unigram_ctes() -> str:
    """DuckDB twin of UnigramTokenizer(FIXED_UNIGRAM_PIECES)
    .encode_expr: the Viterbi DP unrolls as a recursive CTE over the
    distinct word types, carrying the last-K (dp, path) window as lists
    (the working table only exposes the previous iteration, so the
    window rides each row). Candidate rule mirrors
    operators/unigram.viterbi_segment exactly: k = 1..min(K, j), OOV
    single chars cost UNK_LOGP, OOV longer pieces are unreachable
    (−1e18 sentinel), argmax ties prefer the longer piece
    (sort on (−score, −k)). COMPOSES AFTER _oracle_bpe_ctes — reuses
    its ``bwx`` (per-doc ordered words) and ``bdw`` (distinct words).
    Emits ``uni_doc(doc_id, n_uni_real, uni_hash)``."""
    from faisssearcher_spark.operators.unigram import UNK_LOGP
    k_max = max(len(p) for p, _ in FIXED_UNIGRAM_PIECES)
    keys = ", ".join(
        "'" + p.replace("'", "''") + "'" for p, _ in FIXED_UNIGRAM_PIECES)
    vals = ", ".join(
        (f"{lp!r}::DOUBLE" if i == 0 else repr(lp))
        for i, (_, lp) in enumerate(FIXED_UNIGRAM_PIECES))

    def lp(sub: str) -> str:
        return (f"CASE WHEN k = 1 THEN coalesce((um.mp[{sub}])[1], "
                f"{UNK_LOGP!r}) ELSE coalesce((um.mp[{sub}])[1], "
                f"-1e18) END")

    return f"""
um AS (SELECT map([{keys}], [{vals}]) AS mp),
uvit(w, j, dps, paths) AS (
  SELECT w, 1, [0.0::DOUBLE], [''] FROM bdw
  UNION ALL
  SELECT w, j + 1,
         (list_prepend(best.s, dps))[1:{k_max}],
         (list_prepend(best.p, paths))[1:{k_max}]
  FROM (
    SELECT w, j, dps, paths,
      (list_sort(list_transform(range(1, least({k_max}, j) + 1), k ->
         struct_pack(
           negs := -(dps[k] + {lp('w[j-k+1:j]')}),
           negk := -k,
           s := dps[k] + {lp('w[j-k+1:j]')},
           p := paths[k] || CASE WHEN paths[k] = '' THEN ''
                                 ELSE ' ' END || w[j-k+1:j]
         ))))[1] AS best
    FROM uvit, um WHERE j <= len(w)
  )
),
uencw AS (SELECT w, paths[1] AS path FROM uvit WHERE j = len(w) + 1),
uni_doc AS (SELECT bwx.doc_id,
                   sum(len(string_split(path, ' ')))::INT AS n_uni_real,
                   md5(string_agg(path, ' ' ORDER BY bwx.ord))
                       AS uni_hash
            FROM bwx JOIN uencw USING (w)
            GROUP BY bwx.doc_id)"""


def _fused_subword_expr(bpe_tok, uni_tok, wp_tok, text_col: str):
    """ONE Arrow boundary crossing for all three subword encoders
    (r13, guide §4): the text column ships to the Python worker once
    instead of three times, the ASCII-whitespace word split runs once
    per text instead of once per tokenizer, and the three per-word
    kernels (BPE merge loop, Unigram Viterbi, WordPiece greedy scan)
    run over the shared split with their own Zipf caches. Returns a
    ``struct<bpe,uni,wp>`` of the three ``array<string>`` encodings —
    field-for-field identical to the tokenizers' independent
    ``encode_expr`` passes (pinned in tests/test_token_stats.py;
    the kernels and the split are shared code, not copies)."""
    import re

    from faisssearcher_spark.operators.bpe import _encode_word
    from faisssearcher_spark.operators.unigram import viterbi_segment
    from faisssearcher_spark.operators.wordpiece import \
        encode_word as _wp_encode_word

    ranks = {p: i for i, p in enumerate(bpe_tok.merges)}
    ulogp, umpl = uni_tok.pieces, uni_tok.max_piece_len
    wvocab, wmpl, wmwl = (wp_tok._set, wp_tok.max_piece_len,
                          wp_tok.max_word_len)
    # MUST split exactly like functions/text.tokens — see the bpe.py
    # Unicode-whitespace trap note
    ascii_ws = re.compile(r"[ \t\n\x0b\f\r]+")

    @F.pandas_udf("struct<bpe:array<string>,uni:array<string>,"
                  "wp:array<string>>")
    def _enc3(batch: pd.Series) -> pd.DataFrame:
        bcache: dict[str, list[str]] = {}
        ucache: dict[str, list[str]] = {}
        wcache: dict[str, list[str]] = {}

        def enc_text(text):
            if text is None:
                return ([], [], [])
            b_out: list[str] = []
            u_out: list[str] = []
            w_out: list[str] = []
            for w in ascii_ws.split(text.strip(" \t\n\x0b\f\r")):
                if not w:
                    continue
                got = bcache.get(w)
                if got is None:
                    got = bcache[w] = _encode_word(w, ranks)
                b_out.extend(got)
                got = ucache.get(w)
                if got is None:
                    got = ucache[w] = viterbi_segment(w, ulogp, umpl)
                u_out.extend(got)
                got = wcache.get(w)
                if got is None:
                    got = wcache[w] = _wp_encode_word(w, wvocab, wmpl,
                                                      wmwl)
                w_out.extend(got)
            return (b_out, u_out, w_out)

        res = batch.map(enc_text)
        return pd.DataFrame({"bpe": res.map(lambda t: t[0]),
                             "uni": res.map(lambda t: t[1]),
                             "wp": res.map(lambda t: t[2])})

    return _enc3(F.col(text_col))


def q_text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc token stats, EXTENDED (50-cap column pattern) with the
    CCNet-style reference-frequency score: a vocabulary is fit on the
    src1 slice (`fit_token_frequencies`) and every document reports the
    summed reference term frequency of its tokens plus its
    out-of-reference-vocabulary token count — exact integers, so the
    DuckDB twin matches bit-for-bit where a float log-prob could not.

    EXTENDED AGAIN (round 5) with the DSIR importance log-weight
    (``dsir_log_weights``, Xie et al. 2023): target = the src1 slice,
    raw = the whole corpus, add-1 smoothing, rounded to 4 decimals so
    the DuckDB ``ln`` twin matches across libm implementations.

    EXTENDED AGAIN (round 5 session 3) with CCNet perplexity filtering
    (``unigram_logppl`` + ``perplexity_buckets``, Wenzek et al. 2020):
    per-doc cross-entropy under the add-1 unigram LM fit on the src1
    slice (4dp-rounded), plus the head/middle/tail third each document
    lands in (ntile over the non-null scores, id tiebreak; empty docs
    bucket 0).

    EXTENDED AGAIN (round 7, r6 verdict #3 — the last oracle-less
    family): BPE ENCODE over the FIXED_BPE_MERGES table
    (``operators/bpe.py`` — the greedy lowest-rank merge loop, the one
    deterministic-but-iterative kernel the gates had not covered).
    ``n_bpe_tokens`` is the exact subword count and ``bpe_hash`` the md5
    of the space-joined encoded stream, so every merge application is
    value-checked; the DuckDB twin replays the loop as a recursive CTE
    over the distinct word types (argmin on (rank, position) with the
    same strict-< tie rule, term by term). Training itself stays
    pytest-only (the pair-count/merge loop is driver-iterative by
    design), which is why the gate fixes the merges.

    EXTENDED AGAIN (round 7 continuation) with UNIGRAM-LM ENCODE over
    the FIXED_UNIGRAM_PIECES table (``operators/unigram.py``,
    SentencePiece's other model type): Viterbi maximum-likelihood
    segmentation per word, ties to the longer final piece, OOV chars
    at UNK_LOGP. ``n_uni_real``/``uni_hash`` value-check every DP
    decision; the DuckDB twin re-runs the DP as a window-carrying
    recursive CTE (same adds, same compares — bit-identical doubles).
    EM training stays pytest-only, mirroring BPE.

    EXTENDED AGAIN (round 8) with WORDPIECE ENCODE over the
    FIXED_WORDPIECE_VOCAB table (``operators/wordpiece.py``, the BERT
    family — the third subword tokenizer): greedy longest-match-first
    against the vocabulary, ``##`` continuation pieces, unmatched words
    collapsing to [UNK]. ``n_wp_real``/``wp_hash`` value-check every
    match length and the UNK collapses; the DuckDB twin replays the
    scan as a recursive CTE. Likelihood-scored merge training stays
    pytest-only, the same split as BPE/unigram."""
    from faisssearcher_spark.operators.bpe import BPETokenizer
    from faisssearcher_spark.operators.unigram import UnigramTokenizer
    from faisssearcher_spark.operators.wordpiece import WordPieceTokenizer

    docs = load_table(spark, sf_dir, "documents")
    stats = text_analysis.token_stats(docs)
    # one FUSED Arrow encode pass for all three subword tokenizers
    # (r13, guide §4 — was three ArrowEvalPython nodes each shipping
    # the full text column to Python and re-splitting it): materialize
    # the struct once, derive all six columns from the attribute (the
    # r7 lesson stands: repeated references to the pandas_udf
    # expression would not reliably CSE)
    e3 = _fused_subword_expr(BPETokenizer(FIXED_BPE_MERGES),
                             UnigramTokenizer(dict(FIXED_UNIGRAM_PIECES)),
                             WordPieceTokenizer(FIXED_WORDPIECE_VOCAB),
                             "text")
    # split floor on THIS subtree only: with the three encode subtrees
    # fused the floor's price fell from three exchanges to one, and the
    # ab pair flipped (fused subtree 1.33 flat vs 0.79 floored steady —
    # the r13 revert note measured the 3-exchange form); the remaining
    # subtrees keep the raw scan shape that measurement pinned
    subw = load_table_parallel(spark, sf_dir, "documents") \
        .select("doc_id", e3.alias("__e3")).select(
        "doc_id",
        F.size(F.col("__e3.bpe")).alias("n_bpe_real"),
        F.md5(F.concat_ws(" ", F.col("__e3.bpe"))).alias("bpe_hash"),
        F.size(F.col("__e3.uni")).alias("n_uni_real"),
        F.md5(F.concat_ws(" ", F.col("__e3.uni"))).alias("uni_hash"),
        F.size(F.col("__e3.wp")).alias("n_wp_real"),
        F.md5(F.concat_ws(" ", F.col("__e3.wp"))).alias("wp_hash"))
    from faisssearcher_spark.operators.curate import (_land,
                                                      _release_on_error,
                                                      _release_with)

    # land the two LM tables for the invocation (r14, guide §2.4): the
    # src1 vocabulary feeds the frequency score, the DSIR target side
    # AND the perplexity LM (≈5 executions of the same tokenize+count
    # otherwise — the dsir/ppl normalizer collects re-run it eagerly
    # too), and the raw vocabulary feeds DSIR twice. Both are
    # Zipf-small count tables — cacheable at any corpus scale. Values
    # unchanged; released when the result frame dies; error guard per
    # the q_text_quality note. unigram_logppl does NOT re-land its
    # projection of the already-landed ref (review catch: a duplicate
    # cache entry of the same Zipf table, churn for no recompute saved).
    landed: list = []
    with _release_on_error(landed):
        ref = _land(text_analysis.fit_token_frequencies(
            docs.filter(F.col("source") == "src1")), landed)
        score = text_analysis.token_frequency_score(docs, ref) \
            .select("doc_id", "sum_ref_tf", "n_oov")
        raw_ref = _land(text_analysis.fit_token_frequencies(docs),
                        landed)
        dsir = text_analysis.dsir_log_weights(docs, ref, raw_ref,
                                              score_scale=4,
                                              landed=landed) \
            .select("doc_id", F.col("logw").alias("dsir_logw"))
        ppl = text_analysis.perplexity_buckets(
            text_analysis.unigram_logppl(docs, ref, score_scale=4),
            n_buckets=3) \
            .select("doc_id", "logppl", "ppl_bucket")
        out = (stats.join(score, "doc_id").join(dsir, "doc_id")
               .join(ppl, "doc_id").join(subw, "doc_id"))
    return _release_with(out, landed)


ORACLE_TOKEN_STATS = f"""
WITH RECURSIVE t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
     {_oracle_bpe_ctes().strip()},
     {_oracle_unigram_ctes().strip()},
     {_oracle_wordpiece_ctes().strip()},
     ref AS (SELECT tok, count(*)::BIGINT AS tf
             FROM (SELECT unnest({_TOKS}) AS tok
                   FROM documents WHERE source = 'src1')
             GROUP BY tok),
     ex AS (SELECT doc_id, unnest(toks) AS tok FROM t),
     sc AS (SELECT ex.doc_id,
                   sum(coalesce(ref.tf, 0))::BIGINT AS sum_ref_tf,
                   sum(CASE WHEN ref.tf IS NULL THEN 1 ELSE 0 END)::BIGINT
                       AS n_oov
            FROM ex LEFT JOIN ref ON ex.tok = ref.tok
            GROUP BY ex.doc_id),
     refr AS (SELECT tok, count(*)::BIGINT AS tf
              FROM (SELECT unnest({_TOKS}) AS tok FROM documents)
              GROUP BY tok),
     voc AS (SELECT coalesce(a.tok, b.tok) AS tok,
                    coalesce(a.tf, 0)::DOUBLE AS tf_t,
                    coalesce(b.tf, 0)::DOUBLE AS tf_r
             FROM ref a FULL JOIN refr b ON a.tok = b.tok),
     tots AS (SELECT sum(tf_t) AS n_t, sum(tf_r) AS n_r,
                     count(*)::DOUBLE AS v FROM voc),
     lr AS (SELECT tok,
                   ln((tf_t + 1) / (n_t + v + 1))
                   - ln((tf_r + 1) / (n_r + v + 1)) AS lr
            FROM voc, tots),
     dsir AS (SELECT ex.doc_id,
                     round(sum(coalesce(lr.lr,
                         (SELECT ln(1 / (n_t + v + 1))
                          - ln(1 / (n_r + v + 1)) FROM tots))), 4)
                         AS dsir_logw
              FROM ex LEFT JOIN lr ON ex.tok = lr.tok
              GROUP BY ex.doc_id),
     lmt AS (SELECT sum(tf)::DOUBLE AS n_lm, count(*)::DOUBLE AS v_lm
             FROM ref),
     nlp AS (SELECT tok, -ln((tf + 1) / (n_lm + v_lm + 1)) AS nlp
             FROM ref, lmt),
     ppl AS (SELECT ex.doc_id,
                    round(sum(coalesce(nlp.nlp,
                        (SELECT -ln(1 / (n_lm + v_lm + 1)) FROM lmt)))
                          / count(*), 4) AS logppl
             FROM ex LEFT JOIN nlp ON ex.tok = nlp.tok
             GROUP BY ex.doc_id),
     buck AS (SELECT doc_id, logppl,
                     ntile(3) OVER (ORDER BY logppl, doc_id)
                         AS ppl_bucket
              FROM ppl)
SELECT t.doc_id,
       len(toks) AS n_tokens,
       len(list_distinct(toks)) AS n_distinct_tokens,
       list_sum(list_transform(toks, x -> ceil(length(x) / 4.0)::INT))::INT AS n_bpe_tokens,
       round(list_sum(list_transform(toks, x -> length(x)))::DOUBLE / len(toks), 4) AS avg_token_len,
       coalesce(sc.sum_ref_tf, 0) AS sum_ref_tf,
       coalesce(sc.n_oov, 0) AS n_oov,
       coalesce(dsir.dsir_logw, 0.0) AS dsir_logw,
       buck.logppl AS logppl,
       coalesce(buck.ppl_bucket, 0)::INT AS ppl_bucket,
       coalesce(bpe_doc.n_bpe_real, 0) AS n_bpe_real,
       coalesce(bpe_doc.bpe_hash, md5('')) AS bpe_hash,
       coalesce(uni_doc.n_uni_real, 0) AS n_uni_real,
       coalesce(uni_doc.uni_hash, md5('')) AS uni_hash,
       coalesce(wp_doc.n_wp_real, 0) AS n_wp_real,
       coalesce(wp_doc.wp_hash, md5('')) AS wp_hash
FROM t LEFT JOIN sc ON t.doc_id = sc.doc_id
LEFT JOIN dsir ON t.doc_id = dsir.doc_id
LEFT JOIN buck ON t.doc_id = buck.doc_id
LEFT JOIN bpe_doc ON t.doc_id = bpe_doc.doc_id
LEFT JOIN uni_doc ON t.doc_id = uni_doc.doc_id
LEFT JOIN wp_doc ON t.doc_id = wp_doc.doc_id
"""


def q_text_token_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language token-count distribution (p25/p50/p75/max) — the
    length-histogram diagnostic every curation pass starts with. Exact
    interpolated percentiles (Spark ``percentile`` ≡ DuckDB
    ``quantile_cont``: both evaluate h=(n−1)p with linear interpolation;
    the quarter weights are binary-exact so the doubles agree bit-for-bit
    on integer inputs).

    The scale path rides along self-verified: ``approx_percentile``
    (a mergeable quantile sketch — single pass, bounded memory, the
    only option when one partition's values can't all be held) must land
    within the sketch's accuracy bound of the exact p50, emitted as a
    hash-checked boolean against a constant-true oracle (the
    ann_ivf_recall pattern)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("lang", T.token_count("text").alias("n"))
    res = (toks.groupBy("lang")
           .agg(F.count("*").alias("n_docs"),
                F.round(F.percentile("n", F.lit(0.25)), 4).alias("p25_tokens"),
                F.round(F.percentile("n", F.lit(0.5)), 4).alias("p50_tokens"),
                F.round(F.percentile("n", F.lit(0.75)), 4).alias("p75_tokens"),
                F.max("n").alias("max_tokens"),
                F.approx_percentile("n", F.lit(0.5), F.lit(10_000))
                .alias("__p50_sketch")))
    return res.select(
        "lang", "n_docs", "p25_tokens", "p50_tokens", "p75_tokens",
        "max_tokens",
        # accuracy=10000 → rank error ≤ n/10000; on integer token counts
        # a generous ±5% value band holds with huge margin
        (F.abs(F.col("__p50_sketch") - F.col("p50_tokens"))
         <= 0.05 * F.col("p50_tokens") + 1).alias("sketch_within_5pct"))


ORACLE_TOKEN_PERCENTILES = f"""
WITH t AS (SELECT lang, len({_TOKS}) AS n FROM documents)
SELECT lang, count(*) AS n_docs,
       round(quantile_cont(n, 0.25), 4) AS p25_tokens,
       round(quantile_cont(n, 0.50), 4) AS p50_tokens,
       round(quantile_cont(n, 0.75), 4) AS p75_tokens,
       max(n) AS max_tokens,
       true AS sketch_within_5pct
FROM t GROUP BY lang
"""


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/Gopher quality signals, EXTENDED (round 8, the 50-cap column
    pattern) with the stupid-backoff CONDITIONAL bigram LM score
    (``bigram_backoff_logppl``, Brants et al. 2007): fit on the src1
    slice, λ = 0.4, 4dp — the order-sensitive sibling of
    text_token_stats' unigram logppl. The oracle recounts both LM
    tables and replays every per-pair -ln term (seen bigram /
    backoff-to-unigram / OOV floor) and the first-token unigram rule.

    Round 8, same fold pattern: the full Gopher repetition-filter
    integer set (text_analysis.repetition_signals — duplicate-line
    chars beyond first, top-{2,3,4}-gram char weight, duplicated-
    {5,10}-gram span-union coverage, total token chars); the oracle
    replays each from positional n-gram CTEs (_rep_ctes)."""
    from faisssearcher_spark.operators.curate import (_release_on_error,
                                                      _release_with)

    docs = load_table_parallel(spark, sf_dir, "documents")
    ref = docs.filter(F.col("source") == "src1")
    # landed: the bigram LM's unigram table executed 3x per invocation
    # (normalizer collect + two join sides) — persist it for the
    # invocation, released when the result dies (r14, guide §2.4).
    # The error guard covers the operator's eager collects and
    # documented raises between landing and the finalizer attach
    # (review catch — same leak class _release_on_error exists for)
    landed: list = []
    with _release_on_error(landed):
        bg = text_analysis.bigram_backoff_logppl(docs, ref,
                                                 landed=landed) \
            .select("doc_id", "bigram_logppl")
        rep = text_analysis.repetition_signals(docs)
        out = (text_analysis.quality_scores(docs)
               .join(bg, "doc_id").join(rep, "doc_id"))
    return _release_with(out, landed)


_SW_EN = "['the','a','of','and','to','in','is','it','that','for']"


def _rep_ctes(top_ns=(2, 3, 4), dup_ns=(5, 10)) -> tuple[str, str, str]:
    """CTE/column/join fragments replaying text_analysis.repetition_signals
    (the Gopher repetition-filter integers) in DuckDB: positional n-gram
    frames via unnest(generate_series(...)) (no WITH ORDINALITY in this
    DuckDB — NOTES.md), top-gram tie toward the lexicographically
    greatest gram (matches Spark's max(struct(cnt, gram))), duplicated-
    gram coverage as a DISTINCT position union. All ::BIGINT — DuckDB
    sum() yields HUGEINT which fetches as float64."""
    ctes, cols, joins = [], [], []
    for n in sorted(set(top_ns) | set(dup_ns)):
        gram = " || ' ' || ".join(f"toks[u.s+{j}]" for j in range(n))
        ctes.append(
            f"gp{n} AS (SELECT doc_id, u.s AS gpos, {gram} AS gram\n"
            f"           FROM t, unnest(generate_series(1, "
            f"greatest(len(toks) - {n - 1}, 0))) AS u(s))")
    for n in top_ns:
        ctes.append(
            f"tp{n} AS (SELECT doc_id, CASE WHEN c >= 2 THEN "
            f"(length(gram) - {n - 1})::BIGINT * c ELSE 0 END AS w FROM\n"
            f"           (SELECT doc_id, gram, count(*) AS c,\n"
            f"                   row_number() OVER (PARTITION BY doc_id\n"
            f"                     ORDER BY count(*) DESC, gram DESC) AS rn\n"
            f"            FROM gp{n} GROUP BY doc_id, gram) WHERE rn = 1)")
        cols.append(f"coalesce(tp{n}.w, 0)::BIGINT AS top{n}_chars")
        joins.append(f"LEFT JOIN tp{n} ON m.doc_id = tp{n}.doc_id")
    for n in dup_ns:
        ctes.append(
            f"dg{n} AS (SELECT doc_id, gram FROM gp{n}\n"
            f"           GROUP BY doc_id, gram HAVING count(*) >= 2)")
        ctes.append(
            f"cv{n} AS (SELECT DISTINCT p.doc_id, p.gpos + v.o AS pos\n"
            f"           FROM gp{n} p JOIN dg{n} USING (doc_id, gram),\n"
            f"                unnest(generate_series(0, {n - 1})) AS v(o))")
        ctes.append(
            f"cc{n} AS (SELECT c.doc_id, "
            f"sum(length(tt.toks[c.pos]))::BIGINT AS w\n"
            f"           FROM cv{n} c JOIN t tt ON c.doc_id = tt.doc_id\n"
            f"           GROUP BY c.doc_id)")
        cols.append(f"coalesce(cc{n}.w, 0)::BIGINT AS dup{n}_chars")
        joins.append(f"LEFT JOIN cc{n} ON m.doc_id = cc{n}.doc_id")
    ctes.append(
        "rdl AS (SELECT doc_id, sum(length(l)::BIGINT * (c - 1))::BIGINT "
        "AS w FROM\n"
        "         (SELECT doc_id, l, count(*) AS c FROM\n"
        "            (SELECT doc_id, unnest(ls) AS l FROM t)\n"
        "          GROUP BY doc_id, l HAVING count(*) >= 2)\n"
        "         GROUP BY doc_id)")
    ctes.append(
        "rtot AS (SELECT doc_id, coalesce(list_sum(list_transform(toks, "
        "x -> length(x))), 0)::BIGINT AS w, "
        "coalesce(list_sum(list_transform(ls, "
        "x -> length(x))), 0)::BIGINT AS lw FROM t)")
    cols.insert(0, "coalesce(rdl.w, 0)::BIGINT AS dup_line_chars")
    cols.insert(0, "rtot.lw AS total_line_chars")
    cols.insert(0, "rtot.w AS total_token_chars")
    joins.insert(0, "LEFT JOIN rdl ON m.doc_id = rdl.doc_id")
    joins.insert(0, "JOIN rtot ON m.doc_id = rtot.doc_id")
    return (",\n     ".join(ctes), ",\n       ".join(cols), "\n".join(joins))


_REP_CTES, _REP_COLS, _REP_JOINS = _rep_ctes()

ORACLE_QUALITY = f"""
WITH t AS (SELECT doc_id, text, {_TOKS} AS toks,
                  list_filter(list_transform(str_split(text, chr(10)),
                                             x -> trim(x)),
                              x -> x != '') AS ls,
                  list_transform(range(1, greatest(len({_TOKS}) - 1, 0) + 1),
                                 i -> {_TOKS}[i] || ' ' || {_TOKS}[i+1]) AS g2
           FROM documents),
     m AS (SELECT doc_id, ls, g2,
                  len(toks) AS n,
                  len(list_filter(toks, x -> list_contains({_SW_EN}, lower(x))))::DOUBLE
                    / len(toks) AS swr,
                  length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))::DOUBLE
                    / length(text) AS pr
           FROM t),
     -- stupid-backoff bigram LM fit on src1 (bigram_backoff_logppl
     -- twin): conditional -ln terms replayed per (prev, cur) pair,
     -- first token scores the unigram, unseen bigrams pay -ln(0.4)
     -- over the unigram, OOV floors at -ln(0.4 / N)
     bgu AS (SELECT tok, count(*)::BIGINT AS c1
             FROM (SELECT unnest({_TOKS}) AS tok FROM documents
                   WHERE source = 'src1')
             GROUP BY tok),
     bgn AS (SELECT sum(c1)::DOUBLE AS nr FROM bgu),
     bgb AS (SELECT vw, count(*)::BIGINT AS c2
             FROM (SELECT unnest(list_transform(
                     range(1, greatest(len({_TOKS}) - 1, 0) + 1),
                     i -> {_TOKS}[i] || ' ' || {_TOKS}[i+1])) AS vw
                   FROM documents WHERE source = 'src1')
             GROUP BY vw),
     bgp AS (SELECT doc_id,
                    CASE WHEN u.s = 1 THEN NULL
                         ELSE toks[u.s - 1] END AS prev,
                    toks[u.s] AS cur
             FROM t, unnest(generate_series(1, len(toks))) AS u(s)),
     bgj AS (SELECT p.doc_id, p.prev,
                    coalesce(-ln(uc.c1 / bgn.nr),
                             -ln(0.4 / bgn.nr)) AS ut,
                    -ln(bb.c2 / up.c1) AS bt
             FROM bgp p CROSS JOIN bgn
             LEFT JOIN bgu uc ON uc.tok = p.cur
             LEFT JOIN bgb bb ON bb.vw = p.prev || ' ' || p.cur
             LEFT JOIN bgu up ON up.tok = p.prev),
     bgd AS (SELECT doc_id,
                    round(sum(CASE WHEN prev IS NULL THEN ut
                                   ELSE coalesce(bt, ut - ln(0.4)) END)
                          / count(*), 4) AS bigram_logppl
             FROM bgj GROUP BY doc_id),
     {_REP_CTES}
SELECT m.doc_id,
       round(swr, 4) AS stopword_ratio,
       round(pr, 4) AS punct_ratio,
       round((CASE WHEN n BETWEEN 5 AND 10000 THEN 1.0 ELSE 0.2 END)
             * (0.5 + 0.5 * (CASE WHEN swr >= 0.05 THEN 1.0 ELSE 0.0 END))
             * (1.0 - least(1.0, 3.0 * pr)), 4) AS quality,
       len(ls)::INT AS n_lines,
       (len(ls) - len(list_distinct(ls)))::INT AS n_dup_lines,
       coalesce(list_max(list_transform(list_distinct(g2),
                x -> len(list_filter(g2, y -> y = x)))), 0)::INT
         AS top_bigram_count,
       len(g2)::INT AS n_bigrams,
       bgd.bigram_logppl AS bigram_logppl,
       {_REP_COLS}
FROM m LEFT JOIN bgd USING (doc_id)
{_REP_JOINS}
"""


#: gate blocklist — lowercase word-character terms (the RE2 oracle can
#: replicate the \b..\b bounded pattern; lookaround edges are Java-only)
#: with no shared prefixes, so Java's leftmost-first and RE2's
#: leftmost-longest alternation agree on every match.
BLOCKLIST_TERMS = ["spark", "merge", "filter", "columnar"]


def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language id, EXTENDED (round 6, the 50-cap column pattern) with
    the privacy screens:

    - ``n_blocked_terms`` — blocklist_screen (privacy.py) hit count per
      doc on BLOCKLIST_TERMS; the oracle counts the same
      ``(?i)\\b(...)\\b`` alternation with regexp_extract_all.
    - ``suppressed`` — whether suppress_below_k (quasi = lang × source,
      k = 3) would drop the doc, derived as NOT-kept from the operator's
      own left-semi output so the gate checks the real filter plan.
    - ``k / n_groups / min_group_size / n_violating_groups /
      n_violating_rows / is_k_anonymous`` — the one-row
      k_anonymity_report broadcast onto every doc (constant columns;
      the oracle recomputes them as scalar aggregates over the same
      group sizes)."""
    from faisssearcher_spark.operators.privacy import (blocklist_screen,
                                                       k_anonymity_report,
                                                       suppress_below_k)

    docs = load_table_parallel(spark, sf_dir, "documents")
    # r12: + lang_conf — softmax confidence over length-invariant
    # stopword rates (functions/text.py:language_confidence), rounded to
    # the gate's 4dp float convention; the oracle replays the identical
    # exp arithmetic (the classifier-gate precedent)
    base = text_analysis.detect_languages(docs) \
        .withColumn("lang_conf", F.round("lang_conf", 4))
    screened = blocklist_screen(docs, BLOCKLIST_TERMS) \
        .select("doc_id", "n_blocked_terms")
    kept = suppress_below_k(docs, ["lang", "source"], k=3) \
        .select("doc_id", F.lit(False).alias("suppressed"))
    report = k_anonymity_report(docs, ["lang", "source"], k=3).select(
        "k", "n_groups", "min_group_size", "n_violating_groups",
        "n_violating_rows", "is_k_anonymous")
    return (base.join(screened, "doc_id")
            .join(kept, "doc_id", "left")
            .withColumn("suppressed", F.coalesce("suppressed", F.lit(True)))
            .crossJoin(F.broadcast(report)))


def _oracle_langid() -> str:
    from faisssearcher_spark.functions.text import LANG_STOPWORDS
    score_cols = []
    for lang in sorted(LANG_STOPWORDS):
        arr = "[" + ",".join(f"'{w}'" for w in LANG_STOPWORDS[lang]) + "]"
        score_cols.append(
            f"len(list_filter(toks, x -> list_contains({arr}, lower(x)))) AS s_{lang}")
    structs = ", ".join(
        f"{{'hits': s_{lang}, 'lang': '{lang}'}}" for lang in sorted(LANG_STOPWORDS))
    # the language_confidence softmax, replayed term-for-term (rates =
    # hits / max(n_tokens, 1), temperature 0.05)
    exps = [f"exp(s_{lang} / nt / 0.05)" for lang in sorted(LANG_STOPWORDS)]
    conf = f"greatest({', '.join(exps)}) / ({' + '.join(exps)})"
    pat = "(?i)\\b(" + "|".join(BLOCKLIST_TERMS) + ")\\b"
    # null-safe tokens: lang_conf on NULL text must be the uniform 1/K
    # (the Spark side coalesces to '' inside language_confidence)
    toks_sql = _TOKS.replace("trim(text)", "trim(coalesce(text, ''))")
    return f"""
WITH t AS (SELECT doc_id, {toks_sql} AS toks FROM documents),
     s AS (SELECT doc_id, greatest(len(toks), 1) AS nt,
                  {', '.join(score_cols)} FROM t),
     best AS (SELECT doc_id,
                     list_max(list_filter([{structs}], p -> p.hits > 0)) AS b,
                     round({conf}, 4) AS lang_conf
              FROM s),
     scr AS (SELECT doc_id,
                    len(regexp_extract_all(coalesce(text, ''),
                        '{pat}'))::INT AS n_blocked_terms
             FROM documents),
     gs AS (SELECT lang, source, count(*) AS n
            FROM documents GROUP BY 1, 2),
     rep AS (SELECT 3 AS k, count(*) AS n_groups, min(n) AS min_group_size,
                    sum(CASE WHEN n < 3 THEN 1 ELSE 0 END)::BIGINT
                        AS n_violating_groups,
                    sum(CASE WHEN n < 3 THEN n ELSE 0 END)::BIGINT
                        AS n_violating_rows,
                    min(n) >= 3 AS is_k_anonymous
             FROM gs)
SELECT best.doc_id, coalesce(b.lang, 'und') AS lang_pred,
       best.lang_conf,
       scr.n_blocked_terms,
       coalesce(gs.n < 3, TRUE) AS suppressed,
       rep.k, rep.n_groups, rep.min_group_size, rep.n_violating_groups,
       rep.n_violating_rows, rep.is_k_anonymous
FROM best
JOIN scr USING (doc_id)
JOIN documents d ON d.doc_id = best.doc_id
LEFT JOIN gs ON gs.lang IS NOT DISTINCT FROM d.lang
            AND gs.source IS NOT DISTINCT FROM d.source
CROSS JOIN rep
"""


def q_text_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc fingerprints, EXTENDED (the 50-cap column-extension
    pattern) with the C4-style global segment dedup: documents chunk
    into 10-token segments, every duplicate segment occurrence corpus-
    wide is removed keep-first by (doc_id, chunk_idx)
    (``dedup_segments`` — one skew-absorbed agg keyed by segment text),
    and each doc reports how many of its segments survived plus the md5
    of its reassembled deduped text ('' when nothing survived).

    EXTENDED AGAIN (round 5) with the Lee et al. 2022 ExactSubstr shape
    (``remove_duplicate_spans``): sliding 10-token windows, non-first
    duplicate occurrences corpus-wide mark their positions, documents
    rebuild from surviving tokens — ``n_dup_span_tokens`` counts removed
    tokens and ``span_clean_hash`` is the md5 of the rebuilt text
    (md5('') when fully duplicated). Catches duplicated passages at ANY
    alignment, which the disjoint chunk dedup above cannot."""
    from faisssearcher_spark.operators.dedup import (dedup_segments,
                                                     remove_duplicate_spans)
    from faisssearcher_spark.operators.text_analysis import chunk_documents

    docs = load_table(spark, sf_dir, "documents")
    # ONE tokenized frame feeds fingerprints, segment dedup, and span
    # removal (round-5 verdict: each component re-derived tokens from
    # text). Shared LAZILY, not .cache()d: at gate scale the in-memory
    # materialization + lost codegen fusion cost ~6× more than the
    # recompute it saves (measured 9.2 s vs 1.5 s first-run at sf0.1);
    # the tokens_col plumbing is the part that matters — a pipeline
    # whose stages are expensive caches this frame (see
    # prepare_pretraining_data).
    toked = docs.select("doc_id", "text", "source",
                        T.tokens("text").alias("__toks"))
    # r14 continuation, measured and NOT taken: a hash exchange AFTER
    # this projection, hoping ReuseExchange would dedup the ~8 join
    # branches' scan+tokenize into one pass. It cannot: per-branch
    # column pruning rewrites each branch's exchange to a DIFFERENT
    # projection of toked, so no two exchange subtrees are identical —
    # plan went 46 -> 60 Exchanges with ReusedExchange still 0 and
    # steady noop 4.1 -> 5.2 s (every branch kept its tokenize AND
    # gained a shuffle). Sharing the tokens for real means persisting
    # them, which is the r5-measured 6x serde loss.
    fp = text_analysis.fingerprints(toked, tokens_col="__toks")

    # r14 (r13 verdict #2): the ExactSubstr and decontam subtrees both
    # build 8-token windows over the SAME corpus — ONE wins frame now
    # feeds both (the wins= reuse hooks), and the decontam EVAL windows
    # are a filter of it (the eval set is a slice of this corpus), so
    # the separate eval tokenize+window subtree is gone. Window VALUES
    # are identical by construction (same xxhash64 over the same
    # slices) ⇒ the gate hash is unchanged. A landed multi-size window
    # union (one tagged pass for n∈{5,8,10}, persisted+refcounted) was
    # measured here and reverted: it won first-execution but lost
    # steady state at the single-row-group local shape (numbers in
    # OPTIMIZATION_r14.md). The wins= hooks are pinned in
    # tests/test_dedup_spans.py.
    from faisssearcher_spark.operators.dedup import (_stamp_spans,
                                                     _token_windows)

    _, w8raw = _token_windows(toked, id_col="doc_id", text_col="text",
                              n=8, tokens_col="__toks")
    w8 = _stamp_spans(w8raw.select("doc_id", "start", "__w"),
                      producer="token_windows", n=8, id_col="doc_id",
                      extra_cols=())

    spans = remove_duplicate_spans(toked, n=10,
                                   tokens_col="__toks").select(
        "doc_id",
        F.col("n_dup_tokens").alias("n_dup_span_tokens"),
        F.md5("text").alias("span_clean_hash"))

    # EXTENDED AGAIN (round 9) with per-source frequency-threshold
    # boilerplate removal (dedup.remove_boilerplate — the CCNet/
    # RefinedWeb template-stripping shape, ALL occurrences of a window
    # seen in ≥2 distinct docs of one source drop, vs the keep-first
    # passage dedup above): n_bp_tokens counts stripped tokens and
    # bp_clean_hash is the md5 of the rebuilt text (md5('') when the
    # whole doc was template). 5-token windows so the sf0.01 corpus
    # produces non-trivial per-source hits.
    from faisssearcher_spark.operators.dedup import remove_boilerplate

    bp = remove_boilerplate(toked, n=5, min_docs=2,
                            tokens_col="__toks").select(
        "doc_id", "n_bp_tokens", F.md5("text").alias("bp_clean_hash"))

    # EXTENDED AGAIN (round 10) with ARBITRARY-LENGTH ExactSubstr
    # dedup (dedup.exact_substring_spans / remove_exact_substrings —
    # the Lee et al. 2022 suffix-array semantics, exact at token
    # granularity: window coverage equals duplicated-substring coverage
    # for every match length ≥ min_len). keep='none' (ALL occurrences
    # drop — the released tool's behavior, vs the keep-first span leg
    # above); 8-token threshold so the leg differs from both the n=10
    # span leg and the n=5 boilerplate leg. n_exsub_spans /
    # exsub_max_len oracle-check the gaps-and-islands interval merge
    # itself, not just the rebuilt text.
    from faisssearcher_spark.operators.dedup import (
        exact_substring_spans, remove_exact_substrings)

    exspans = exact_substring_spans(toked, min_len=8,
                                    tokens_col="__toks", wins=w8)
    # ONE spans subtree feeds both the interval stats and the removal
    # (the spans= share-one-scan hook): the two legs' plans contain an
    # identical spans fragment, so exchange reuse evaluates the heavy
    # window-agg half once per action instead of twice
    exr = remove_exact_substrings(toked, min_len=8, tokens_col="__toks",
                                  spans=exspans).select(
        "doc_id", "n_exsub_tokens", F.md5("text").alias("exsub_clean_hash"))
    exs = (exspans.groupBy("doc_id")
           .agg(F.count("*").cast("int").alias("n_exsub_spans"),
                F.max(F.col("end") - F.col("start")).cast("int")
                 .alias("exsub_max_len")))

    # EXTENDED AGAIN (round 10) with SURGICAL span-level
    # decontamination (decontam.remove_contaminated_spans — cut every
    # eval-shared substring >= 8 tokens, keep the remainder; the
    # cross-corpus ExactSubstr coverage equivalence): eval set =
    # doc_id < 40 (those docs clean to '' against themselves WHEN they
    # have >= 8 tokens — shorter ones yield no windows on either side
    # and pass through), same 8-token windows as the exsub legs so the
    # oracle derives eval windows from the SAME ewin CTE.
    from faisssearcher_spark.operators.decontam import (
        contaminated_spans, remove_contaminated_spans)

    evdocs = toked.filter(F.col("doc_id") < 40)
    # eval docs are a slice of the SAME corpus, so their windows are a
    # filter of the shared wins frame — no separate eval window build
    ew8 = w8.filter(F.col("doc_id") < 40)
    ctspans = contaminated_spans(
        toked, evdocs, min_len=8, train_tokens_col="__toks",
        eval_tokens_col="__toks", train_wins=w8, eval_wins=ew8)
    ct = remove_contaminated_spans(
        toked, evdocs, min_len=8, train_tokens_col="__toks",
        eval_tokens_col="__toks", spans=ctspans).select(
        "doc_id", "n_contam_tokens",
        F.md5("text").alias("contam_clean_hash"))

    chunks = chunk_documents(toked, max_tokens=10, overlap=0,
                             tokens_col="__toks")
    totals = chunks.groupBy("doc_id").agg(
        F.count("*").cast("int").alias("n_chunks"))
    kept = dedup_segments(chunks, id_col="doc_id", pos_col="chunk_idx",
                          seg_col="chunk_text")
    rebuilt = kept.groupBy("doc_id").agg(
        F.count("*").cast("int").alias("n_kept_chunks"),
        F.md5(F.array_join(
            F.transform(
                F.array_sort(F.collect_list(
                    F.struct("chunk_idx", "chunk_text"))),
                lambda s: s["chunk_text"]),
            " ")).alias("dedup_hash"))

    # EXTENDED (round-5 session 4) with operators/diffing.corpus_diff:
    # diff this snapshot against a deterministic "refresh" — every 11th
    # doc dropped, every 7th rewritten — so the full-outer fingerprint
    # diff's removed/changed/unchanged classification is oracle-checked
    # (the 'added' branch has no fingerprints row to land on by
    # construction; it is pinned in tests/test_diffing.py).
    from faisssearcher_spark.operators.diffing import corpus_diff

    refreshed = (toked.select("doc_id", "text")
                 .filter(F.col("doc_id") % 11 != 0)
                 .withColumn("text",
                             F.when(F.col("doc_id") % 7 == 0,
                                    F.concat(F.coalesce(F.col("text"),
                                                        F.lit("")),
                                             F.lit(" __refreshed")))
                             .otherwise(F.col("text"))))
    diff = corpus_diff(toked.select("doc_id", "text"), refreshed).select(
        F.col("key").alias("doc_id"), F.col("status").alias("diff_status"))

    out = (fp.join(totals, "doc_id", "left")
              .join(rebuilt, "doc_id", "left")
              .join(spans, "doc_id", "left")
              .join(bp, "doc_id", "left")
              .join(exr, "doc_id", "left")
              .join(exs, "doc_id", "left")
              .join(ct, "doc_id", "left")
              .join(diff, "doc_id", "left")
              .select("doc_id", "fingerprint", "rolling_hash", "norm_hash",
                      "diff_status",
                      F.coalesce("n_chunks", F.lit(0)).alias("n_chunks"),
                      F.coalesce("n_kept_chunks", F.lit(0))
                       .alias("n_kept_chunks"),
                      F.coalesce("dedup_hash", F.lit(""))
                       .alias("dedup_hash"),
                      F.coalesce("n_dup_span_tokens", F.lit(0))
                       .alias("n_dup_span_tokens"),
                      F.coalesce("span_clean_hash", F.lit(""))
                       .alias("span_clean_hash"),
                      F.coalesce("n_bp_tokens", F.lit(0))
                       .alias("n_bp_tokens"),
                      F.coalesce("bp_clean_hash", F.lit(""))
                       .alias("bp_clean_hash"),
                      F.coalesce("n_exsub_tokens", F.lit(0))
                       .alias("n_exsub_tokens"),
                      F.coalesce("exsub_clean_hash", F.lit(""))
                       .alias("exsub_clean_hash"),
                      F.coalesce("n_exsub_spans", F.lit(0))
                       .alias("n_exsub_spans"),
                      F.coalesce("exsub_max_len", F.lit(0))
                       .alias("exsub_max_len"),
                      F.coalesce("n_contam_tokens", F.lit(0))
                       .alias("n_contam_tokens"),
                      F.coalesce("contam_clean_hash", F.lit(""))
                       .alias("contam_clean_hash")))
    return out


ORACLE_FINGERPRINTS = rf"""
WITH t AS (SELECT doc_id, text, source, {_TOKS} AS toks FROM documents),
     f AS (SELECT doc_id,
                  md5(array_to_string(list_sort(list_distinct(
                      list_transform(toks, x -> lower(x)))), ' ')) AS fingerprint,
                  md5(trim(regexp_replace(regexp_replace(lower(text),
                      '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')))
                      AS norm_hash,
                  list_reduce(
                      list_prepend(0::BIGINT,
                          list_transform(toks, x -> ('0x' || substring(md5(x), 1, 8))::BIGINT)),
                      (acc, h) -> (acc * 31 + h) % 1000000007) AS rolling_hash
           FROM t),
     ch AS (SELECT doc_id, (s - 1) // 10 AS chunk_idx,
                   array_to_string(list_slice(toks, s, s + 9), ' ') AS chunk_text
            FROM (SELECT doc_id, toks, len(toks) AS n
                  FROM t WHERE len(toks) > 0) d,
                 unnest(generate_series(1, greatest(n, 1), 10)) AS u(s)),
     tot AS (SELECT doc_id, count(*)::INT AS n_chunks FROM ch GROUP BY doc_id),
     kept AS (SELECT doc_id, chunk_idx, chunk_text
              FROM (SELECT *, row_number() OVER (PARTITION BY chunk_text
                        ORDER BY doc_id, chunk_idx) AS rn FROM ch)
              WHERE rn = 1),
     reb AS (SELECT doc_id, count(*)::INT AS n_kept_chunks,
                    md5(string_agg(chunk_text, ' ' ORDER BY chunk_idx)) AS dedup_hash
             FROM kept GROUP BY doc_id),
     win AS (SELECT doc_id, s - 1 AS start,
                    array_to_string(list_slice(toks, s, s + 9), ' ') AS w
             FROM (SELECT doc_id, toks, len(toks) AS ntok
                   FROM t WHERE len(toks) >= 10) d,
                  unnest(generate_series(1, ntok - 10 + 1)) AS u(s)),
     dupw AS (SELECT doc_id, start
              FROM (SELECT *, row_number() OVER (PARTITION BY w
                        ORDER BY doc_id, start) AS rn FROM win)
              WHERE rn > 1),
     cov AS (SELECT DISTINCT doc_id, start + o AS pos
             FROM dupw, unnest(generate_series(0, 9)) AS g(o)),
     tp AS (SELECT doc_id, u.p - 1 AS pos, toks[u.p] AS tok
            FROM t, unnest(generate_series(1, len(toks))) AS u(p)),
     keeptok AS (SELECT tp.doc_id, tp.pos, tp.tok
                 FROM tp LEFT JOIN cov
                   ON tp.doc_id = cov.doc_id AND tp.pos = cov.pos
                 WHERE cov.pos IS NULL),
     spanreb AS (SELECT doc_id, count(*)::INT AS n_kept_tok,
                        md5(string_agg(tok, ' ' ORDER BY pos)) AS span_clean_hash
                 FROM keeptok GROUP BY doc_id),
     bwin AS (SELECT doc_id, source, s - 1 AS start,
                     array_to_string(list_slice(toks, s, s + 4), ' ') AS w
              FROM (SELECT doc_id, source, toks, len(toks) AS ntok
                    FROM t WHERE len(toks) >= 5) d,
                   unnest(generate_series(1, ntok - 5 + 1)) AS u(s)),
     bpw AS (SELECT source, w
             FROM (SELECT source, w, count(DISTINCT doc_id) AS nd
                   FROM bwin GROUP BY source, w)
             WHERE nd >= 2),
     bcov AS (SELECT DISTINCT doc_id, start + o AS pos
              FROM (SELECT b.doc_id, b.start FROM bwin b
                    JOIN bpw ON b.source = bpw.source AND b.w = bpw.w) m,
                   unnest(generate_series(0, 4)) AS g(o)),
     bkeep AS (SELECT tp.doc_id, tp.pos, tp.tok
               FROM tp LEFT JOIN bcov
                 ON tp.doc_id = bcov.doc_id AND tp.pos = bcov.pos
               WHERE bcov.pos IS NULL),
     breb AS (SELECT doc_id, count(*)::INT AS n_kept_tok,
                     md5(string_agg(tok, ' ' ORDER BY pos)) AS bp_clean_hash
              FROM bkeep GROUP BY doc_id),
     ewin AS (SELECT doc_id, s - 1 AS start,
                     array_to_string(list_slice(toks, s, s + 7), ' ') AS w
              FROM (SELECT doc_id, toks, len(toks) AS ntok
                    FROM t WHERE len(toks) >= 8) d,
                   unnest(generate_series(1, ntok - 8 + 1)) AS u(s)),
     edup AS (SELECT doc_id, start
              FROM (SELECT doc_id, start,
                           count(*) OVER (PARTITION BY w) AS c FROM ewin)
              WHERE c > 1),
     eisl AS (SELECT doc_id, start,
                     sum(CASE WHEN prev IS NULL OR start - prev > 8
                              THEN 1 ELSE 0 END)
                         OVER (PARTITION BY doc_id ORDER BY start) AS isl
              FROM (SELECT doc_id, start,
                           lag(start) OVER (PARTITION BY doc_id
                                            ORDER BY start) AS prev
                    FROM edup)),
     espans AS (SELECT doc_id, min(start) AS s, max(start) + 8 AS e
                FROM eisl GROUP BY doc_id, isl),
     estat AS (SELECT doc_id, count(*)::INT AS n_exsub_spans,
                      max(e - s)::INT AS exsub_max_len
               FROM espans GROUP BY doc_id),
     ecov AS (SELECT doc_id, s + o AS pos
              FROM espans, unnest(generate_series(0, e - s - 1)) AS g(o)),
     ekeep AS (SELECT tp.doc_id, tp.pos, tp.tok
               FROM tp LEFT JOIN ecov
                 ON tp.doc_id = ecov.doc_id AND tp.pos = ecov.pos
               WHERE ecov.pos IS NULL),
     ereb AS (SELECT doc_id, count(*)::INT AS n_kept_tok,
                     md5(string_agg(tok, ' ' ORDER BY pos)) AS exsub_clean_hash
              FROM ekeep GROUP BY doc_id),
     cwin AS (SELECT DISTINCT w FROM ewin WHERE doc_id < 40),
     cdup AS (SELECT e.doc_id, e.start
              FROM ewin e JOIN cwin ON e.w = cwin.w),
     cisl AS (SELECT doc_id, start,
                     sum(CASE WHEN prev IS NULL OR start - prev > 8
                              THEN 1 ELSE 0 END)
                         OVER (PARTITION BY doc_id ORDER BY start) AS isl
              FROM (SELECT doc_id, start,
                           lag(start) OVER (PARTITION BY doc_id
                                            ORDER BY start) AS prev
                    FROM cdup)),
     cspan AS (SELECT doc_id, min(start) AS s, max(start) + 8 AS e
               FROM cisl GROUP BY doc_id, isl),
     ccov AS (SELECT doc_id, s + o AS pos
              FROM cspan, unnest(generate_series(0, e - s - 1)) AS g(o)),
     ckeep AS (SELECT tp.doc_id, tp.pos, tp.tok
               FROM tp LEFT JOIN ccov
                 ON tp.doc_id = ccov.doc_id AND tp.pos = ccov.pos
               WHERE ccov.pos IS NULL),
     creb AS (SELECT doc_id, count(*)::INT AS n_kept_tok,
                     md5(string_agg(tok, ' ' ORDER BY pos)) AS contam_clean_hash
              FROM ckeep GROUP BY doc_id),
     ntok AS (SELECT doc_id, len(toks)::INT AS n_tok FROM t)
SELECT f.doc_id, f.fingerprint, f.rolling_hash, f.norm_hash,
       CASE WHEN f.doc_id % 11 = 0 THEN 'removed'
            WHEN f.doc_id % 7 = 0 THEN 'changed'
            ELSE 'unchanged' END AS diff_status,
       coalesce(tot.n_chunks, 0) AS n_chunks,
       coalesce(reb.n_kept_chunks, 0) AS n_kept_chunks,
       coalesce(reb.dedup_hash, '') AS dedup_hash,
       (ntok.n_tok - coalesce(spanreb.n_kept_tok, 0)) AS n_dup_span_tokens,
       coalesce(spanreb.span_clean_hash, md5('')) AS span_clean_hash,
       (ntok.n_tok - coalesce(breb.n_kept_tok, 0)) AS n_bp_tokens,
       coalesce(breb.bp_clean_hash, md5('')) AS bp_clean_hash,
       (ntok.n_tok - coalesce(ereb.n_kept_tok, 0)) AS n_exsub_tokens,
       coalesce(ereb.exsub_clean_hash, md5('')) AS exsub_clean_hash,
       coalesce(estat.n_exsub_spans, 0) AS n_exsub_spans,
       coalesce(estat.exsub_max_len, 0) AS exsub_max_len,
       (ntok.n_tok - coalesce(creb.n_kept_tok, 0)) AS n_contam_tokens,
       coalesce(creb.contam_clean_hash, md5('')) AS contam_clean_hash
FROM f
LEFT JOIN tot ON f.doc_id = tot.doc_id
LEFT JOIN reb ON f.doc_id = reb.doc_id
LEFT JOIN spanreb ON f.doc_id = spanreb.doc_id
LEFT JOIN breb ON f.doc_id = breb.doc_id
LEFT JOIN ereb ON f.doc_id = ereb.doc_id
LEFT JOIN estat ON f.doc_id = estat.doc_id
LEFT JOIN creb ON f.doc_id = creb.doc_id
JOIN ntok ON f.doc_id = ntok.doc_id
"""


def q_text_ngram_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-20 word trigrams (deterministic tie-break), each
    carrying its count-min-sketch estimate (operators/sketches.py): the
    relational CMS collapses the unbounded trigram key space into a
    4×512 cell grid with md5-derived buckets, so the DuckDB twin
    reproduces every cell — and therefore every estimate — bit-for-bit.
    CMS guarantees cms_est ≥ freq; at this width collisions add the
    occasional overcount, identically in both engines.

    EXTENDED (round 10) with the STREAMING count-min state: the same
    trigram frame replays as a multi-epoch availableNow stream through
    ``streaming/sketches.cms_sketch_sink`` (per-epoch cell-wise SUM
    into the prior epoch's state — CMS cells are additive, so the
    final state is bit-identical to the one-shot batch sketch no
    matter the batching), and the top-20 point-query against that
    state lands as ``cms_est_streamed``. The oracle aliases its batch
    estimate twice — equality IS the stream≡batch parity claim. The
    eager stream run is memoized per corpus per session (BENCH_MEMO)
    and priced FRESH under its own bench entry (text_cms_stream,
    ordered before this query in bench.py)."""
    from faisssearcher_spark.operators import sketches
    from faisssearcher_spark.streaming.sketches import read_sketch_state

    docs = load_table_parallel(spark, sf_dir, "documents")
    grams = (docs.select(F.explode_outer(T.word_ngrams("text", 3))
                         .alias("ngram"))
             .filter(F.col("ngram").isNotNull()))
    state = BENCH_MEMO.get(_memo_key(spark, sf_dir, "cms_stream"),
                           lambda: _cms_stream_state(spark, grams))
    # top-20 and the batch sketch both read the LANDED gram files (the
    # stream build materialized them) instead of re-tokenizing the
    # corpus once per subtree — identical multiset, identical counts
    landed = _cms_landed_grams(spark, state)
    top = _landed_top_ngrams(landed)
    cms = sketches.cms_table(landed, "ngram", depth=4, width=512)
    est = sketches.cms_lookup(cms, top, "ngram", depth=4, width=512)

    scms = read_sketch_state(spark, state)
    streamed = sketches.cms_lookup(scms, top, "ngram", depth=4,
                                   width=512,
                                   out_col="cms_est_streamed")
    return (est.join(streamed, ["ngram", "freq"])
            .orderBy(F.col("freq").desc(), F.col("ngram").asc()))


def _cms_stream_state(spark: SparkSession, grams: DataFrame) -> str:
    """Replay ``grams`` as a 4-file availableNow stream through the
    count-min sink and return the state directory. The directory sits
    under BENCH_MEMO's temp root and is removed at exit, never earlier:
    a returned state path may still back a lazy, not-yet-executed
    plan."""
    from faisssearcher_spark.streaming.sketches import cms_sketch_sink

    root = BENCH_MEMO.tmpdir(prefix="ngram_cms_stream_")
    gpath = f"{root}/grams"
    # HASH-partitioned by ngram, not round-robin repartition(4): round
    # robin pays sortBeforeRepartition (a full sort of every trigram
    # string per task — retry determinism Spark enforces on round-robin
    # only); any 4-way split yields the identical additive CMS state,
    # so take the sort-free one (guide §2.3: shuffle fewer/cheaper
    # bytes). r13 measured: leg iso 4.93 → see OPTIMIZATION_r13.md.
    grams.repartition(4, F.col("ngram")).write.parquet(gpath)
    gstream = (spark.readStream.schema(grams.schema)
               .option("maxFilesPerTrigger", 1).parquet(gpath))
    cms_sketch_sink(gstream, value_col="ngram",
                    state_dir=f"{root}/state",
                    checkpoint_dir=f"{root}/ckpt",
                    depth=4, width=512).awaitTermination()
    return f"{root}/state"


def _landed_top_ngrams(landed: DataFrame, top: int = 20) -> DataFrame:
    """Top-``top`` ngrams of a landed gram frame with the
    ngram_frequencies tie-break contract (freq desc, ngram asc — ties
    toward the lexicographically smallest shingle) in ONE place for
    both CMS gate legs (review catch: the contract was inlined twice)."""
    return (landed.groupBy("ngram").agg(F.count("*").alias("freq"))
            .orderBy(F.col("freq").desc(), F.col("ngram").asc())
            .limit(top))


def _cms_landed_grams(spark: SparkSession, state: str) -> DataFrame:
    """The trigram frame LANDED next to a stream state by
    :func:`_cms_stream_state` — the same multiset of ngrams the state
    was built from, as a columnar parquet read. Both CMS queries derive
    their batch-side legs (top-20, batch cms_table) from THIS frame
    instead of re-tokenizing + re-exploding the corpus per subtree
    (guide §1.2/#2: the tokenize HOFs are CodegenFallback and each
    subtree re-paid them; counts over the landed multiset are identical
    by construction, so the oracle hash is untouched). The files
    outlive the call and are removed at exit with the state dir (see
    _cms_stream_state)."""
    import os

    return spark.read.parquet(os.path.join(os.path.dirname(state),
                                           "grams"))


ORACLE_NGRAM_FREQ = f"""
WITH t AS (SELECT {_TOKS} AS toks FROM documents),
     g AS (SELECT unnest(list_transform(range(1, greatest(len(toks)-2, 0)+1),
                  i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS ngram
           FROM t),
     top AS (SELECT ngram, count(*) AS freq FROM g GROUP BY ngram
             ORDER BY freq DESC, ngram ASC LIMIT 20),
     cells AS (SELECT d.i AS row_idx,
                      ('0x' || substring(md5('cms|' || d.i || '|' || g.ngram), 1, 8))::BIGINT % 512 AS bucket,
                      count(*) AS cnt
               FROM g, (SELECT unnest(range(4)) AS i) d
               GROUP BY 1, 2)
SELECT top.ngram, top.freq, min(cells.cnt) AS cms_est,
       -- stream≡batch parity: the streamed CMS state is the cell-wise
       -- sum of per-epoch sketches == the one-shot batch sketch
       min(cells.cnt) AS cms_est_streamed
FROM top JOIN cells
  ON cells.bucket = ('0x' || substring(md5('cms|' || cells.row_idx || '|' || top.ngram), 1, 8))::BIGINT % 512
GROUP BY top.ngram, top.freq
ORDER BY freq DESC, ngram ASC
"""


# ===========================================================================
# 5. relational / events (extended inventory over the TPC-H-ish tables)
# ===========================================================================

def q_tpch_q1_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan-heavy grouped aggregation with derived measures.
    Filter pushes to the parquet scan; partial aggregation map-side."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
             F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
             F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
             .alias("sum_disc_price"),
             F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))
                           * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
             F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
             F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
             F.round(F.avg("l_discount"), 4).alias("avg_disc"),
             F.count("*").alias("count_order"))
    )


ORACLE_Q1 = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
       round(avg(l_quantity), 4) AS avg_qty,
       round(avg(l_extendedprice), 4) AS avg_price,
       round(avg(l_discount), 4) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q_tpch_q3_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way join + grouped revenue + deterministic top-10.
    customer is the small side (broadcast); orders⋈lineitem shuffles on
    the join key."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .filter((F.col("c_mktsegment") == "BUILDING")
                & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")))
        .groupBy("l_orderkey")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
             .alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


ORACLE_Q3 = """
SELECT l_orderkey,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY l_orderkey
ORDER BY revenue DESC, l_orderkey ASC LIMIT 10
"""


def q_tpch_q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way star join, revenue per nation. Dimension
    tables broadcast; only orders⋈lineitem shuffles."""
    region = load_table(spark, sf_dir, "region")
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    sup = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .filter(cust.c_nationkey == sup.s_nationkey)
        .join(F.broadcast(nation), sup.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .filter(F.col("r_name") == "ASIA")
        .groupBy("n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
             .alias("revenue"))
    )


ORACLE_Q5 = """
SELECT n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
GROUP BY n_name
"""


def q_top_customers_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window ranking: top-3 customers by account balance per nation
    (rank-limit pushes below the shuffle via WindowGroupLimit)."""
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    w = Window.partitionBy("n_name").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey").asc())
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .withColumn("rank_in_nation", F.row_number().over(w))
        .filter(F.col("rank_in_nation") <= 3)
        .select("n_name", "c_custkey", "c_name",
                F.round("c_acctbal", 2).alias("acctbal"), "rank_in_nation")
    )


ORACLE_TOP_CUSTOMERS = """
SELECT n_name, c_custkey, c_name, round(c_acctbal, 2) AS acctbal,
       rank_in_nation
FROM (SELECT n_name, c_custkey, c_name, c_acctbal,
             row_number() OVER (PARTITION BY n_name
                                ORDER BY c_acctbal DESC, c_custkey ASC)
               AS rank_in_nation
      FROM customer JOIN nation ON c_nationkey = n_nationkey)
WHERE rank_in_nation <= 3
"""


def q_customer_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left join + aggregation: per-customer order counts including
    zero-order customers.

    EXTENDED (round 7, the 50-cap tag-union pattern) with a CUBE leg —
    the multi-dimensional rollup surface (Spark ``cube()`` compiles to
    one Expand + one aggregate, the OLAP grouping-sets shape): order
    count and spend over every subset of (o_orderpriority,
    o_orderstatus), the grouping-set id derived engine-portably from
    the NULLed-out dimensions (both corpora are non-null there, so a
    NULL dimension value uniquely marks the rolled-up sets).

    EXTENDED again (round 7, session 2) with a ``salted`` leg — the
    skew lever (operators/balance.salted_join): the orders→customer
    dimension join runs THROUGH the salted path (random salt on the
    fact side, dimension replicated per salt, composite join key) and
    aggregates per market segment; the DuckDB twin is the PLAIN join +
    aggregate, because salting must be invisible in the answer. This
    gates the semantics-preservation contract cross-engine; the
    balance claim itself (hot keys actually spread over partitions) is
    pinned with real spark_partition_id() counts in
    tests/test_balance.py."""
    from faisssearcher_spark.operators.balance import salted_join

    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey", "c_mktsegment")
        .agg(F.count("o_orderkey").alias("n_orders"),
             F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 2)
             .alias("total_spent"))
        .select(F.lit("per_cust").alias("leg"), "c_custkey",
                "c_mktsegment", "n_orders", "total_spent"))
    gid = (F.when(F.col("o_orderpriority").isNull(), 2).otherwise(0)
           + F.when(F.col("o_orderstatus").isNull(), 1).otherwise(0))
    cube_leg = (
        orders.cube("o_orderpriority", "o_orderstatus")
        .agg(F.count("o_orderkey").alias("n_orders"),
             F.round(F.sum("o_totalprice"), 2).alias("total_spent"))
        .select(F.lit("cube").alias("leg"),
                gid.cast("long").alias("c_custkey"),
                F.concat_ws("/",
                            F.coalesce("o_orderpriority", F.lit("ALL")),
                            F.coalesce("o_orderstatus", F.lit("ALL")))
                .alias("c_mktsegment"),
                "n_orders", "total_spent"))
    salted = (
        salted_join(
            orders.select("o_custkey", "o_orderkey", "o_totalprice"),
            cust.select(F.col("c_custkey").alias("o_custkey"),
                        "c_mktsegment"),
            "o_custkey", salts=8)
        .groupBy("c_mktsegment")
        .agg(F.count("o_orderkey").alias("n_orders"),
             F.round(F.sum("o_totalprice"), 2).alias("total_spent"))
        .select(F.lit("salted").alias("leg"),
                F.lit(-1).cast("long").alias("c_custkey"),
                "c_mktsegment", "n_orders", "total_spent"))
    return per_cust.unionByName(cube_leg).unionByName(salted)


ORACLE_CUSTOMER_STATS = """
SELECT 'per_cust' AS leg, c_custkey, c_mktsegment,
       count(o_orderkey) AS n_orders,
       round(coalesce(sum(o_totalprice), 0), 2) AS total_spent
FROM customer LEFT JOIN orders ON c_custkey = o_custkey
GROUP BY c_custkey, c_mktsegment
UNION ALL
SELECT 'cube',
       (CASE WHEN o_orderpriority IS NULL THEN 2 ELSE 0 END
        + CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END)::BIGINT,
       coalesce(o_orderpriority, 'ALL') || '/'
           || coalesce(o_orderstatus, 'ALL'),
       count(o_orderkey),
       round(sum(o_totalprice), 2)
FROM orders
GROUP BY CUBE (o_orderpriority, o_orderstatus)
UNION ALL
-- salted leg: the salt is semantics-invisible, so the twin is the
-- PLAIN dimension join + aggregate
SELECT 'salted', -1::BIGINT, c_mktsegment,
       count(o_orderkey),
       round(sum(o_totalprice), 2)
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


def q_events_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly rollup, EXTENDED (round 6, the 50-cap tag-union pattern)
    with two oracle-less round-5 families:

    ``resample`` — daily-grid resample with forward-fill per user
    (operators/events.resample_fill_forward, step 86400, avg): mapped
    into the rollup schema as (hour = epoch-seconds string of the
    bucket, event_type = 'user_<id>', avg_value = filled value @4dp;
    n_events/sum_value carry sentinels). Fill-forward is plain SQL —
    last_value IGNORE NULLS over the generated per-user grid — so the
    DuckDB twin replicates grid construction, per-bucket aggregation,
    and the fill.

    ``psi`` — Population Stability Index drift between the even and odd
    event_id halves of the events table (operators/diffing.drift_report
    on ['value'], 10 buckets). Bucket edges are the old half's EXACT
    deciles passed via the explicit ``edges`` parameter (Spark
    ``percentile`` and DuckDB ``quantile_cont`` interpolate identically
    — verified bit-equal), so the whole bucket→fraction→Σ(Δp·ln)
    pipeline is value-checked: (hour = column name, event_type = 'psi',
    n_events = n_old, sum_value = n_new, avg_value = psi @6dp)."""
    from faisssearcher_spark.operators.diffing import drift_report
    from faisssearcher_spark.operators.events import resample_fill_forward

    ev = load_table(spark, sf_dir, "events")
    rollup = events.hourly_rollup(ev).select(
        F.lit("rollup").alias("leg"), "hour", "event_type", "n_events",
        "sum_value", "avg_value")

    rs = resample_fill_forward(ev, step_s=86400, agg="avg")
    resample = rs.select(
        F.lit("resample").alias("leg"),
        F.col("bucket_ts").cast("double").cast("long").cast("string")
        .alias("hour"),
        F.concat(F.lit("user_"), F.col("user_id").cast("string"))
        .alias("event_type"),
        F.lit(-1).cast("long").alias("n_events"),
        F.lit(0.0).alias("sum_value"),
        F.coalesce(F.round(F.col("value"), 4), F.lit(PSI_NULL_SENTINEL))
        .alias("avg_value"))

    old = ev.filter(F.col("event_id") % 2 == 0)
    new = ev.filter(F.col("event_id") % 2 == 1)
    qs = [i / 10 for i in range(1, 10)]
    deciles = old.selectExpr(
        f"percentile(value, array({','.join(map(str, qs))})) AS e") \
        .first()["e"]
    drift = drift_report(old, new, ["value"], buckets=10,
                         edges={"value": [float(x) for x in deciles]})
    psi = drift.select(
        F.lit("psi").alias("leg"),
        F.col("column").alias("hour"),
        F.lit("psi").alias("event_type"),
        F.col("n_old").alias("n_events"),
        F.col("n_new").cast("double").alias("sum_value"),
        F.col("psi").alias("avg_value"))
    return rollup.unionByName(resample).unionByName(psi)


PSI_NULL_SENTINEL = -999999.0


def _oracle_hourly_composite() -> str:
    # psi leg: bucket index = count of edges strictly below the value
    # (the drift_report ascending CASE-overwrite chain collapses to a
    # descending first-match); fractions floor at 1e-6 exactly as the
    # operator does.
    edge_cases = " ".join(
        f"WHEN value > e[{i}] THEN {i}" for i in range(9, 0, -1))
    return f"""
SELECT 'rollup' AS leg,
       strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
       event_type,
       count(*) AS n_events,
       round(sum(value), 2) AS sum_value,
       round(avg(value), 4) AS avg_value
FROM events GROUP BY 1, 2, 3
UNION ALL
SELECT 'resample',
       g.bucket::VARCHAR,
       'user_' || g.key::VARCHAR,
       -1, 0.0,
       coalesce(round(last_value(b.v IGNORE NULLS) OVER (
           PARTITION BY g.key ORDER BY g.bucket
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4),
           {PSI_NULL_SENTINEL!r})
FROM (SELECT key, unnest(range(b0, b1 + 1, 86400)) AS bucket
      FROM (SELECT user_id AS key,
                   min((floor(extract(epoch FROM ts) / 86400)
                        * 86400)::BIGINT) AS b0,
                   max((floor(extract(epoch FROM ts) / 86400)
                        * 86400)::BIGINT) AS b1
            FROM events GROUP BY 1)) g
LEFT JOIN (SELECT user_id AS key,
                  (floor(extract(epoch FROM ts) / 86400)
                   * 86400)::BIGINT AS bucket,
                  avg(value) AS v
           FROM events GROUP BY 1, 2) b
  ON b.key = g.key AND b.bucket = g.bucket
UNION ALL
SELECT 'psi', 'value', 'psi', n_old, n_new::DOUBLE, round(psi, 6)
FROM (
  WITH olds AS (SELECT value FROM events
                WHERE event_id % 2 = 0 AND value IS NOT NULL),
       news AS (SELECT value FROM events
                WHERE event_id % 2 = 1 AND value IS NOT NULL),
       ed AS (SELECT quantile_cont(value,
                [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS e FROM olds),
       ob AS (SELECT CASE {edge_cases} ELSE 0 END AS b FROM olds, ed),
       nb AS (SELECT CASE {edge_cases} ELSE 0 END AS b FROM news, ed),
       oc AS (SELECT b, count(*)::DOUBLE AS c FROM ob GROUP BY b),
       nc AS (SELECT b, count(*)::DOUBLE AS c FROM nb GROUP BY b),
       tot AS (SELECT (SELECT count(*) FROM olds)::DOUBLE AS n_old,
                      (SELECT count(*) FROM news)::DOUBLE AS n_new),
       buckets AS (SELECT unnest(range(0, 10)) AS b),
       fr AS (SELECT buckets.b,
                     coalesce(oc.c, 0) / tot.n_old AS po,
                     coalesce(nc.c, 0) / tot.n_new AS pn
              FROM buckets
              CROSS JOIN tot
              LEFT JOIN oc ON oc.b = buckets.b
              LEFT JOIN nc ON nc.b = buckets.b)
  SELECT sum((pn - po) * ln(greatest(pn, 1e-6) / greatest(po, 1e-6)))
           AS psi,
         (SELECT n_old FROM tot)::BIGINT AS n_old,
         (SELECT n_new FROM tot)::BIGINT AS n_new
  FROM fr)
"""


ORACLE_HOURLY = _oracle_hourly_composite()


def q_events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return events.json_props(ev)


ORACLE_JSON = """
SELECT event_type,
       count(prop_val) AS n_with_prop,
       sum(prop_val)::BIGINT AS sum_prop,
       max(prop_val) AS max_prop
FROM (SELECT event_type, json_extract_string(props, '$.k')::BIGINT AS prop_val
      FROM events)
GROUP BY event_type
"""


def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return events.sessionize(ev, gap_minutes=30)


ORACLE_SESSIONIZE = """
WITH g AS (SELECT user_id, ts,
                  CASE WHEN epoch(ts) - lag(epoch(ts)) OVER
                         (PARTITION BY user_id ORDER BY ts ASC) > 1800
                         OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts ASC)
                            IS NULL
                       THEN 1 ELSE 0 END AS new_session
           FROM events),
     s AS (SELECT user_id, ts,
                  sum(new_session) OVER (PARTITION BY user_id ORDER BY ts ASC
                      ROWS UNBOUNDED PRECEDING)::BIGINT AS session_id
           FROM g)
SELECT user_id, session_id, count(*) AS n_events,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end
FROM s GROUP BY user_id, session_id
"""


def q_events_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join: each click matched to the user's most recent
    view at-or-before it, voided past a 1-hour tolerance (operators/
    temporal.asof_join — union + ordered window scan, one shuffle)."""
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click") \
        .select("event_id", "user_id", "ts")
    views = ev.filter(F.col("event_type") == "view") \
        .select("user_id", "ts", "event_id", "value")
    res = temporal.asof_join(clicks, views, on="user_id",
                             right_cols=["event_id", "value"],
                             tolerance_seconds=3600, tie_break="event_id")
    return res.select(
        "event_id", "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
        F.col("right_event_id").alias("view_event_id"),
        F.round("right_value", 2).alias("view_value"))


ORACLE_ASOF = """
WITH clicks AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
     views  AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'view')
SELECT c.event_id, c.user_id,
       strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS ts,
       CASE WHEN epoch(c.ts) - epoch(v.ts) <= 3600 THEN v.event_id END AS view_event_id,
       CASE WHEN epoch(c.ts) - epoch(v.ts) <= 3600 THEN round(v.value, 2) END AS view_value
FROM clicks c ASOF LEFT JOIN views v
  ON c.user_id = v.user_id AND v.ts <= c.ts
"""


def q_events_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join: each click matched to the user's NEXT view
    at-or-after it within 1 hour (direction='forward' — the reversed
    union-scan; DuckDB's ASOF JOIN mirrors it with v.ts >= c.ts)."""
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click") \
        .select("event_id", "user_id", "ts")
    views = ev.filter(F.col("event_type") == "view") \
        .select("user_id", "ts", "event_id", "value")
    res = temporal.asof_join(clicks, views, on="user_id",
                             right_cols=["event_id", "value"],
                             tolerance_seconds=3600, tie_break="event_id",
                             direction="forward")
    return res.select(
        "event_id", "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
        F.col("right_event_id").alias("view_event_id"),
        F.round("right_value", 2).alias("view_value"))


ORACLE_ASOF_FORWARD = """
WITH clicks AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
     views  AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'view')
SELECT c.event_id, c.user_id,
       strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS ts,
       CASE WHEN epoch(v.ts) - epoch(c.ts) <= 3600 THEN v.event_id END AS view_event_id,
       CASE WHEN epoch(v.ts) - epoch(c.ts) <= 3600 THEN round(v.value, 2) END AS view_value
FROM clicks c ASOF LEFT JOIN views v
  ON c.user_id = v.user_id AND v.ts >= c.ts
"""


def q_events_asof_directions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All three as-of join directions over the same click/view inputs,
    tag-unioned into one gate row: backward (most recent view at-or-
    before), forward (next view at-or-after), nearest (whichever is
    closer in time, ties backward) — each within a 1-hour tolerance.
    The oracle mirrors backward/forward with DuckDB's native ASOF JOIN
    and derives nearest by combining the two candidate sets with the
    identical gating + tie rule, so the union-scan implementation of
    every direction (operators/temporal.py:31-152) is hash-checked."""
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click") \
        .select("event_id", "user_id", "ts")
    views = ev.filter(F.col("event_type") == "view") \
        .select("user_id", "ts", "event_id", "value")
    parts = []
    for direction in ("backward", "forward", "nearest"):
        res = temporal.asof_join(clicks, views, on="user_id",
                                 right_cols=["event_id", "value"],
                                 tolerance_seconds=3600,
                                 tie_break="event_id", direction=direction)
        parts.append(res.select(
            F.lit(direction).alias("direction"),
            "event_id", "user_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
            F.col("right_event_id").alias("view_event_id"),
            F.round("right_value", 2).alias("view_value")))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


ORACLE_ASOF_DIRECTIONS = """
WITH clicks AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
     views  AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'view'),
     bk AS (SELECT c.event_id, c.user_id, c.ts,
                   v.event_id AS vid, v.value AS vval, v.ts AS vts
            FROM clicks c ASOF LEFT JOIN views v
              ON c.user_id = v.user_id AND v.ts <= c.ts),
     fw AS (SELECT c.event_id,
                   v.event_id AS vid, v.value AS vval, v.ts AS vts
            FROM clicks c ASOF LEFT JOIN views v
              ON c.user_id = v.user_id AND v.ts >= c.ts),
     nr AS (SELECT b.event_id, b.user_id, b.ts,
                   b.vid AS b_vid, b.vval AS b_vval,
                   f.vid AS f_vid, f.vval AS f_vval,
                   (b.vts IS NOT NULL
                    AND epoch(b.ts) - epoch(b.vts) <= 3600) AS b_ok,
                   (f.vts IS NOT NULL
                    AND epoch(f.vts) - epoch(b.ts) <= 3600) AS f_ok,
                   epoch(b.ts) - epoch(b.vts) AS b_age,
                   epoch(f.vts) - epoch(b.ts) AS f_age
            FROM bk b JOIN fw f ON b.event_id = f.event_id)
SELECT 'backward' AS direction, event_id, user_id,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts,
       CASE WHEN epoch(ts) - epoch(vts) <= 3600 THEN vid END AS view_event_id,
       CASE WHEN epoch(ts) - epoch(vts) <= 3600 THEN round(vval, 2) END AS view_value
FROM bk
UNION ALL
SELECT 'forward', c.event_id, c.user_id,
       strftime(c.ts, '%Y-%m-%d %H:%M:%S'),
       CASE WHEN epoch(f.vts) - epoch(c.ts) <= 3600 THEN f.vid END,
       CASE WHEN epoch(f.vts) - epoch(c.ts) <= 3600 THEN round(f.vval, 2) END
FROM clicks c JOIN fw f ON c.event_id = f.event_id
UNION ALL
SELECT 'nearest', event_id, user_id,
       strftime(ts, '%Y-%m-%d %H:%M:%S'),
       CASE WHEN NOT b_ok THEN (CASE WHEN f_ok THEN f_vid END)
            WHEN NOT f_ok THEN b_vid
            WHEN f_age < b_age THEN f_vid
            ELSE b_vid END,
       round(CASE WHEN NOT b_ok THEN (CASE WHEN f_ok THEN f_vval END)
                  WHEN NOT f_ok THEN b_vval
                  WHEN f_age < b_age THEN f_vval
                  ELSE b_vval END, 2)
FROM nr
"""


def q_events_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-interval join: every click within 30 minutes AFTER an error
    by the same user (operators/temporal.range_join — time-bucketed
    equi-join, no per-key cross product)."""
    ev = load_table(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error") \
        .select("user_id", "event_id", "ts")
    clicks = ev.filter(F.col("event_type") == "click") \
        .select("user_id", "event_id", "ts")
    res = temporal.range_join(errors, clicks, on="user_id",
                              lower_seconds=0.0, upper_seconds=1800.0)
    delta = F.col("r_ts").cast("double") - F.col("l_ts").cast("double")
    return res.select(
        "user_id",
        F.col("l_event_id").alias("error_id"),
        F.col("r_event_id").alias("click_id"),
        F.round(delta, 1).alias("delta_s"))


ORACLE_RANGE_JOIN = """
SELECT e.user_id, e.event_id AS error_id, c.event_id AS click_id,
       round(epoch(c.ts) - epoch(e.ts), 1) AS delta_s
FROM (SELECT user_id, event_id, ts FROM events WHERE event_type = 'error') e
JOIN (SELECT user_id, event_id, ts FROM events WHERE event_type = 'click') c
  ON e.user_id = c.user_id
 AND epoch(c.ts) - epoch(e.ts) >= 0 AND epoch(c.ts) - epoch(e.ts) <= 1800
"""


def _sample_bucket_sql(key_sql: str, seed: int = 42, op: str = "") -> str:
    """DuckDB twin of operators/sampling.sample_bucket — identical md5
    arithmetic (including the per-operator ``op`` salt prefix that
    decorrelates composed samplers), so sample membership matches Spark
    row-for-row."""
    prefix = f"{op}|{seed}|" if op else f"{seed}|"
    return (f"(('0x' || substring(md5('{prefix}' || ({key_sql})::VARCHAR), "
            f"1, 8))::BIGINT % 1000000)")


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate GROUPS: connected components (min-label propagation)
    over the MinHash-LSH pair list — the "keep one per cluster" resolution
    step of a dedup pipeline. Oracle: recursive-CTE transitive closure.

    EXTENDED (round 7, the 50-cap column pattern) with the ``split``
    column from ``sampling.leakage_safe_split`` (test_fraction = 0.1):
    every member of a connected near-dup cluster draws its train/test
    tag from the CLUSTER representative, so near-duplicates can never
    straddle the split boundary — the oracle replays the identical
    'split'-salted md5 bucket keyed on the recursive CTE's cluster id.
    The clusters are computed ONCE and passed in (``clusters=``), so
    the gate still runs a single pair-join pass.

    EXTENDED AGAIN (round 9) with ``canon_longest``
    (dedup.select_canonical, policy='longest' — the RefinedWeb keep
    rule: the member with the most characters represents the cluster,
    ties to min id), value-checked per member against a window twin."""
    from faisssearcher_spark.operators.sampling import leakage_safe_split

    docs = load_table_parallel(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_join(docs, num_hashes=16, bands=4,
                                   shingle_n=3, verify_threshold=0.3)
    clusters = dedup.dedup_clusters(pairs)
    tagged = leakage_safe_split(docs, clusters=clusters, key_col="doc_id",
                                test_fraction=0.1,
                                keep_cluster_col="cluster_id")
    canon = dedup.select_canonical(docs, clusters, policy="longest")
    return (tagged.filter(F.col("cluster_id").isNotNull())
            .join(canon, "cluster_id")
            .select(F.col("doc_id").alias("id"), "cluster_id", "split",
                    F.col("canonical_id").alias("canon_longest"))
            .orderBy("id"))


ORACLE_DEDUP_CLUSTERS = f"""
WITH RECURSIVE pairs AS ({ORACLE_MINHASH_PAIRS}),
  edges AS (SELECT id_a AS a, id_b AS b FROM pairs
            UNION SELECT id_b, id_a FROM pairs),
  reach(id, r) AS (
    SELECT DISTINCT a, a FROM edges
    UNION
    SELECT e.a, reach.r FROM edges e JOIN reach ON reach.id = e.b),
  comp AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
  canon AS (SELECT cluster_id, doc_id AS canon FROM (
      SELECT comp.cluster_id, d.doc_id,
             row_number() OVER (PARTITION BY comp.cluster_id
                 ORDER BY length(coalesce(d.text, '')) DESC,
                          d.doc_id) AS rn
      FROM comp JOIN documents d ON d.doc_id = comp.id)
    WHERE rn = 1)
SELECT comp.id, comp.cluster_id,
       CASE WHEN {_sample_bucket_sql('comp.cluster_id', op='split')} < 100000
            THEN 'test' ELSE 'train' END AS split,
       canon.canon AS canon_longest
FROM comp JOIN canon USING (cluster_id)
"""


def q_tpch_q6_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: tight scan-filter-aggregate. Every predicate pushes
    into the parquet scan (PushedFilters) and only 4 columns are read."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter((F.col("l_shipdate") >= "1996-01-01")
                  & (F.col("l_shipdate") < "1997-01-01")
                  & (F.col("l_discount").between(0.03, 0.07))
                  & (F.col("l_quantity") < 24))
        .agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2)
             .alias("revenue"),
             F.count("*").alias("n_rows"))
    )


ORACLE_Q6 = """
SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
       count(*) AS n_rows
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.03 AND 0.07
  AND l_quantity < 24
"""


def q_tpch_q18_big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: having-filtered aggregate (orders above a quantity
    threshold) joined back to customer — the aggregate runs FIRST so the
    join input is the small filtered set, and the customer join broadcasts."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    big = (li.groupBy("l_orderkey")
           .agg(F.round(F.sum("l_quantity"), 1).alias("total_qty"))
           .filter(F.col("total_qty") > 150))
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .select(F.col("c_name"), F.col("c_custkey"), F.col("o_orderkey"),
                F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
                F.round("o_totalprice", 2).alias("o_totalprice"),
                F.col("total_qty"))
    )


ORACLE_Q18 = """
WITH big AS (SELECT l_orderkey, round(sum(l_quantity), 1) AS total_qty
             FROM lineitem GROUP BY l_orderkey
             HAVING sum(l_quantity) > 150)
SELECT c.c_name, c.c_custkey, o.o_orderkey,
       strftime(o.o_orderdate, '%Y-%m-%d') AS o_orderdate,
       round(o.o_totalprice, 2) AS o_totalprice, big.total_qty
FROM big
JOIN orders o ON big.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
"""


def q_orders_semi_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape on the slimmed schema: LEFT SEMI join — 1996 orders
    that have at least one returned line, counted per priority. The semi
    join never duplicates orders however many lines matched, and ships
    only the join key from the lineitem side."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    returned = li.filter(F.col("l_returnflag") == "R").select("l_orderkey")
    return (
        orders.filter((F.col("o_orderdate") >= "1996-01-01")
                      & (F.col("o_orderdate") < "1997-01-01"))
        .join(returned, orders.o_orderkey == returned.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


ORACLE_SEMI_RETURNS = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders o
WHERE o.o_orderdate >= '1996-01-01' AND o.o_orderdate < '1997-01-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
GROUP BY o_orderpriority
"""


def q_parts_never_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI join — parts with no line shipped since 2001 (the
    dead-stock query), per brand. The anti join ships only l_partkey from
    the filtered big side (shipdate predicate pushes to the scan) and
    emits each part at most once.

    EXTENDED (round 6, the 50-cap tag-union pattern) with the Deequ-
    style data-quality suite (operators/expect.py): seven constraint
    kinds evaluated over the part table in ONE aggregation pass, each
    verdict + observed value hash-matched against a DuckDB twin that
    recomputes the identical aggregate — the report itself becomes the
    gated artifact, exactly how the suite gates a landing table in
    production."""
    from faisssearcher_spark.operators import expect as E

    part = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")
    recent = li.filter(F.col("l_shipdate") >= "2001-01-01").select("l_partkey")
    anti = (
        part.join(recent, part.p_partkey == F.col("l_partkey"), "left_anti")
        .groupBy("p_brand")
        .agg(F.count("*").alias("n_stale"),
             F.round(F.avg("p_retailprice"), 2).alias("avg_price"))
    )
    report = E.check(part, [
        E.not_null("p_name"),
        E.unique("p_partkey"),
        E.completeness("p_brand", min_ratio=0.99),
        E.in_range("p_size", 1, 50),
        E.non_negative("p_retailprice"),
        E.matches("p_brand", r"^Brand#\d+$"),
        E.accepted_values("p_brand",
                          [f"Brand#{i}" for i in range(1, 6)]),
        E.row_count_between(1, None),
    ])
    pad_anti = anti.select(
        F.lit("anti").alias("leg"), "p_brand", "n_stale", "avg_price",
        F.lit("").alias("constraint"), F.lit("").alias("col"),
        F.lit(False).alias("passed"), F.lit(0.0).alias("observed"))
    pad_exp = report.select(
        F.lit("expect").alias("leg"),
        F.lit("").alias("p_brand"),
        F.lit(-1).cast("long").alias("n_stale"),
        F.lit(0.0).alias("avg_price"),
        "constraint", F.col("column").alias("col"), "passed",
        F.col("observed").cast("double"))
    return pad_anti.unionByName(pad_exp)


ORACLE_PARTS_NEVER_ORDERED = r"""
SELECT 'anti' AS leg, p_brand, count(*) AS n_stale,
       round(avg(p_retailprice), 2) AS avg_price,
       '' AS "constraint", '' AS col, FALSE AS passed, 0.0 AS observed
FROM part p
WHERE NOT EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_partkey = p.p_partkey
                    AND l.l_shipdate >= '2001-01-01')
GROUP BY p_brand
UNION ALL
SELECT 'expect', '', -1, 0.0, "constraint", col, passed, observed FROM (
  SELECT 'not_null' AS "constraint", 'p_name' AS col,
         sum(CASE WHEN p_name IS NULL THEN 1 ELSE 0 END)::DOUBLE
           AS observed,
         sum(CASE WHEN p_name IS NULL THEN 1 ELSE 0 END) = 0 AS passed
  FROM part
  UNION ALL
  SELECT 'unique', 'p_partkey',
         (count(p_partkey) - count(DISTINCT p_partkey))::DOUBLE,
         count(p_partkey) = count(DISTINCT p_partkey)
  FROM part
  UNION ALL
  SELECT 'completeness', 'p_brand',
         count(p_brand)::DOUBLE / greatest(count(*), 1),
         count(p_brand)::DOUBLE / greatest(count(*), 1) >= 0.99
  FROM part
  UNION ALL
  SELECT 'in_range', 'p_size',
         sum(CASE WHEN p_size IS NULL
                    OR (p_size >= 1 AND p_size <= 50)
                  THEN 0 ELSE 1 END)::DOUBLE,
         sum(CASE WHEN p_size IS NULL
                    OR (p_size >= 1 AND p_size <= 50)
                  THEN 0 ELSE 1 END) = 0
  FROM part
  UNION ALL
  SELECT 'non_negative', 'p_retailprice',
         sum(CASE WHEN p_retailprice IS NULL OR p_retailprice >= 0
                  THEN 0 ELSE 1 END)::DOUBLE,
         sum(CASE WHEN p_retailprice IS NULL OR p_retailprice >= 0
                  THEN 0 ELSE 1 END) = 0
  FROM part
  UNION ALL
  SELECT 'matches', 'p_brand',
         sum(CASE WHEN p_brand IS NULL
                    OR regexp_matches(p_brand, '^Brand#\d+$')
                  THEN 0 ELSE 1 END)::DOUBLE,
         sum(CASE WHEN p_brand IS NULL
                    OR regexp_matches(p_brand, '^Brand#\d+$')
                  THEN 0 ELSE 1 END) = 0
  FROM part
  UNION ALL
  SELECT 'accepted_values', 'p_brand',
         sum(CASE WHEN p_brand IS NULL
                    OR p_brand IN ('Brand#1','Brand#2','Brand#3',
                                   'Brand#4','Brand#5')
                  THEN 0 ELSE 1 END)::DOUBLE,
         sum(CASE WHEN p_brand IS NULL
                    OR p_brand IN ('Brand#1','Brand#2','Brand#3',
                                   'Brand#4','Brand#5')
                  THEN 0 ELSE 1 END) = 0
  FROM part
  UNION ALL
  SELECT 'row_count_between', '*', count(*)::DOUBLE, count(*) >= 1
  FROM part)
"""


def q_lineitem_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-dimensional subtotal aggregation, tag-unioned (the 50-cap
    extension pattern): ``rollup`` = returnflag → linestatus hierarchy
    with subtotals and a grand total; ``gsets`` = explicit GROUPING SETS
    over the two one-dimension slices (the cells ROLLUP skips — together
    they cover the full CUBE). Both plan as one Expand + a single hash
    aggregate, not one pass per grouping set, so the scan cost is
    independent of the number of sets."""
    li = load_table(spark, sf_dir, "lineitem")

    def agg_sets(grouped, tag: str) -> DataFrame:
        return (
            grouped.agg(F.count("*").alias("n_rows"),
                        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
                        F.round(F.avg("l_discount"), 4).alias("avg_disc"))
            .select(F.lit(tag).alias("tag"),
                    F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
                    F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
                    "n_rows", "sum_price", "avg_disc"))

    rollup = agg_sets(li.rollup("l_returnflag", "l_linestatus"), "rollup")
    gsets = agg_sets(
        li.groupingSets([["l_returnflag"], ["l_linestatus"]],
                        "l_returnflag", "l_linestatus"), "gsets")
    return rollup.unionByName(gsets)


ORACLE_ROLLUP = """
SELECT 'rollup' AS tag,
       coalesce(l_returnflag, 'ALL') AS returnflag,
       coalesce(l_linestatus, 'ALL') AS linestatus,
       count(*) AS n_rows,
       round(sum(l_extendedprice), 2) AS sum_price,
       round(avg(l_discount), 4) AS avg_disc
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
UNION ALL
SELECT 'gsets' AS tag,
       coalesce(l_returnflag, 'ALL') AS returnflag,
       coalesce(l_linestatus, 'ALL') AS linestatus,
       count(*) AS n_rows,
       round(sum(l_extendedprice), 2) AS sum_price,
       round(avg(l_discount), 4) AS avg_disc
FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
"""


def q_events_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact + approximate (HLL++) distinct users per event type, plus the
    mergeable-sketch invariants from operators/sketches.py: ``hll_ok``
    (whole-pass DataSketches HLL estimate within 5% of exact) and
    ``hll_merge_ok`` (per-day sketches UNIONED per type land within 2% of
    the whole-pass estimate — the store-fine-roll-up-coarse property that
    lets a 100 TB pipeline answer distinct-count rollups from stored
    few-KB sketches instead of rescanning). Approx columns are checked as
    booleans so the row stays deterministic enough to oracle-check."""
    from faisssearcher_spark.operators import sketches

    ev = load_table(spark, sf_dir, "events")
    res = (ev.groupBy("event_type")
           .agg(F.countDistinct("user_id").alias("n_users"),
                F.approx_count_distinct("user_id", rsd=0.01).alias("n_users_approx"),
                F.count("*").alias("n_events")))
    daily = sketches.hll_sketches(
        ev.withColumn("day", F.to_date("ts")), ["event_type", "day"],
        "user_id")
    rolled = sketches.hll_rollup(daily, ["event_type"]) \
        .withColumnRenamed("n_distinct_approx", "hll_rolled")
    whole = sketches.hll_rollup(
        sketches.hll_sketches(ev, ["event_type"], "user_id"),
        ["event_type"]) \
        .withColumnRenamed("n_distinct_approx", "hll_whole")
    return (res.join(rolled, "event_type").join(whole, "event_type")
            .select(
                "event_type", "n_users", "n_events",
                (F.abs(F.col("n_users_approx") - F.col("n_users"))
                 <= 0.05 * F.col("n_users")).alias("approx_within_5pct"),
                (F.abs(F.col("hll_whole") - F.col("n_users"))
                 <= 0.05 * F.col("n_users")).alias("hll_ok"),
                (F.abs(F.col("hll_rolled") - F.col("hll_whole"))
                 <= 0.02 * F.col("hll_whole")).alias("hll_merge_ok")))


ORACLE_DISTINCT_USERS = """
SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events,
       true AS approx_within_5pct, true AS hll_ok, true AS hll_merge_ok
FROM events GROUP BY event_type
"""


def q_streaming_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful STREAMING operator (applyInPandasWithState): gap
    sessionization run as an availableNow stream over the events parquet,
    drained to a table. Deterministic: emits exactly the batch sessions
    that are provably closed at end-of-input — a later event exists past
    the gap, or the final watermark (max ts − 1h) passed last_ts + gap."""
    from faisssearcher_spark.streaming import events as sev
    from faisssearcher_spark.streaming import sessionize as ssz

    stream = sev.read_events_stream(spark, f"{sf_dir}/events.parquet")
    out = ssz.sessionize_stream(stream, gap_minutes=30, watermark="1 hour")
    name = "q_stateful_sessions"
    sev.run_to_memory(out, name, output_mode="append")
    res = spark.table(name)
    return res.select(
        "user_id",
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        F.date_format("session_end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
        "n_events", F.round("sum_value", 2).alias("sum_value"))


ORACLE_STREAMING_SESSIONIZE = """
WITH g AS (SELECT user_id, ts, value,
                  CASE WHEN epoch(ts) - lag(epoch(ts)) OVER
                         (PARTITION BY user_id ORDER BY ts ASC) > 1800
                         OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts ASC)
                            IS NULL
                       THEN 1 ELSE 0 END AS new_session
           FROM events),
     s AS (SELECT user_id, ts, value,
                  sum(new_session) OVER (PARTITION BY user_id ORDER BY ts ASC
                      ROWS UNBOUNDED PRECEDING) AS session_seq
           FROM g),
     sess AS (SELECT user_id, session_seq,
                     min(ts) AS session_start, max(ts) AS session_end,
                     count(*) AS n_events, round(sum(value), 2) AS sum_value,
                     max(max(ts)) OVER (PARTITION BY user_id) AS user_last_ts
              FROM s GROUP BY user_id, session_seq),
     wm AS (SELECT max(ts) AS max_ts FROM events)
SELECT user_id,
       strftime(session_start, '%Y-%m-%d %H:%M:%S') AS session_start,
       strftime(session_end, '%Y-%m-%d %H:%M:%S') AS session_end,
       n_events, sum_value
FROM sess, wm
WHERE session_end < user_last_ts                    -- gap-closed (not final)
   OR epoch(max_ts) - 3600 > epoch(session_end) + 1800  -- timeout-closed
"""


def q_searcher_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieve-then-rerank, tag-union composite (50-cap pattern):

    ``jaccard`` — reference U6 interact mode (bert_encoder.py:187-192):
    cosine top-3 candidates re-scored by the deterministic token-Jaccard
    pair scorer (pandas_udf cross-encoder protocol), re-ranked per query.

    ``maxsim`` — ColBERT-style late interaction (operators/maxsim.py,
    round 7): the SAME candidate set re-scored token-level — sum over
    distinct query tokens of the max cosine against the doc's tokens,
    token vectors from the md5 HashingEncoder encoded once per distinct
    token (broadcast vocab join, pure Catalyst, no Python). The oracle
    replays vocab → normalize → dot → max → sum with the identical
    association order; the final sum rounds at 4dp (the dsir rule —
    per-token maxes are exact comparisons, only sum order can drift)."""
    from faisssearcher_spark.operators.maxsim import maxsim_rerank
    from faisssearcher_spark.operators.rerank import rerank_pairs

    raw = _q_searcher_text_hash_leg(spark, sf_dir).drop("rank_no") \
        .select("source_item", "sim_item", "sim_val")
    # land the ≤15-row first stage as literals (the _landed discipline):
    # the jaccard leg references it once but maxsim_score references its
    # candidate frame from FOUR subplans — un-landed, the knn retrieval
    # plan would execute 5× per gate run
    base = spark.createDataFrame(raw.collect(), raw.schema)
    cols = ["source_item", "sim_item", "sim_val", "rerank_score",
            "rank_no"]
    jac = rerank_pairs(base, k=2, score_scale=4).select(*cols)
    mx = maxsim_rerank(base, k=2, score_scale=4).select(
        "source_item", "sim_item", "sim_val",
        F.col("maxsim_score").alias("rerank_score"), "rank_no")
    return (jac.select(F.lit("jaccard").alias("strategy"), *cols)
            .unionByName(mx.select(F.lit("maxsim").alias("strategy"),
                                   *cols)))


def _oracle_token_vec(tok_sql: str) -> str:
    """DuckDB twin of ``HashingEncoder(dim=8).spark_expr`` on a single
    token, L2-normalized (component / sqrt(sum of squares) — the same
    operation order as functions.vector.l2_normalize)."""
    v = HashingEncoder(dim=8).duckdb_sql(tok_sql)
    return (f"list_transform({v}, x -> x / sqrt(list_sum("
            f"list_transform({v}, y -> y*y))))")


ORACLE_RERANK = f"""
WITH base AS ({_ORACLE_SEARCHER_TEXT_HASH}),
     toks AS (SELECT *,
                list_distinct(list_filter(
                    regexp_split_to_array(trim(source_item), '\\s+'), t -> t != '')) AS ta,
                list_distinct(list_filter(
                    regexp_split_to_array(trim(sim_item), '\\s+'), t -> t != '')) AS tb
              FROM base),
     scored AS (SELECT source_item, sim_item, sim_val,
                       round(CASE WHEN len(ta) + len(tb) = 0 THEN 0.0
                             ELSE len(list_filter(ta, x -> list_contains(tb, x)))::DOUBLE
                                  / (len(ta) + len(tb)
                                     - len(list_filter(ta, x -> list_contains(tb, x))))
                             END, 4) AS rerank_score
                FROM toks),
     ranked AS (SELECT *, row_number() OVER
                  (PARTITION BY source_item
                   ORDER BY rerank_score DESC, sim_item ASC) AS rn
                FROM scored),
     mvocab AS (SELECT DISTINCT tok FROM (
                  SELECT unnest(ta) AS tok FROM toks
                  UNION ALL SELECT unnest(tb) FROM toks)),
     mvec AS (SELECT tok, {_oracle_token_vec('tok')} AS nv FROM mvocab),
     mexp AS (SELECT t.source_item, t.sim_item, t.sim_val,
                     qa.qtok, qb.dtok
              FROM toks t, unnest(t.ta) AS qa(qtok),
                   unnest(t.tb) AS qb(dtok)),
     mdot AS (SELECT e.source_item, e.sim_item, e.sim_val, e.qtok,
                     {_dot('va.nv', 'vb.nv')} AS d
              FROM mexp e JOIN mvec va ON e.qtok = va.tok
                          JOIN mvec vb ON e.dtok = vb.tok),
     mmax AS (SELECT source_item, sim_item, sim_val, qtok, max(d) AS m
              FROM mdot GROUP BY source_item, sim_item, sim_val, qtok),
     mscore AS (SELECT source_item, sim_item, sim_val,
                       round(sum(m), 4) AS rerank_score
                FROM mmax GROUP BY source_item, sim_item, sim_val),
     mfull AS (SELECT b.source_item, b.sim_item, b.sim_val,
                      coalesce(s.rerank_score, 0.0) AS rerank_score
               FROM base b LEFT JOIN mscore s
                 ON b.source_item = s.source_item
                AND b.sim_item = s.sim_item),
     mranked AS (SELECT *, row_number() OVER
                   (PARTITION BY source_item
                    ORDER BY rerank_score DESC, sim_item ASC) AS rn
                 FROM mfull)
SELECT 'jaccard' AS strategy, source_item, sim_item, sim_val,
       rerank_score, (rn - 1)::INT AS rank_no
FROM ranked WHERE rn <= 2
UNION ALL
SELECT 'maxsim', source_item, sim_item, sim_val,
       rerank_score, (rn - 1)::INT AS rank_no
FROM mranked WHERE rn <= 2
"""


#: deterministic gate-classifier weight scale: w(token) =
#: md5-bucket('w|token')/1e6 − 0.5 ∈ [−0.5, 0.5) — the engine-standard
#: md5 uniform, so the (token, weight) table derives identically in
#: Spark and DuckDB with no model shipping.
CLF_INTERCEPT = -0.25


def q_curate_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus curation (the composed 100 TB pipeline): quality
    threshold → exact dedup by content fingerprint → MinHash-LSH near-dup
    removal keeping min doc_id per cluster. Oracle re-derives the whole
    pipeline in SQL including the recursive-CTE component resolution.

    EXTENDED (round 6, the 50-cap tag-union pattern) with two
    previously oracle-less families:

    ``classifier`` — QualityClassifier.score (explode → vocab join →
    per-row margin sum → sigmoid, operators/classifier.py) +
    pareto_keep (the GPT-3 keep rule on the md5-uniform 'pareto' draw).
    The vocabulary is the src1 slice's distinct tokens with md5-derived
    weights (CLF_INTERCEPT note above), so the ENTIRE scoring + keep
    pipeline is value-checked cross-engine with no fitted model to
    ship; rows are the Pareto survivors with quality = score@4dp.

    ``conv`` — SFT conversation prep (operators/conversations.py):
    documents grouped 20-a-piece into 25 alternating user/assistant
    conversations, then conversation_stats (turn counts, token
    estimate, the roles_valid structural contract) and
    render_training_text (ChatML-style rendering, hashed). The oracle
    rebuilds the conversations with ordered list aggregation and
    replicates every list expression."""
    from faisssearcher_spark.operators.classifier import (QualityClassifier,
                                                          pareto_keep)
    from faisssearcher_spark.operators.conversations import (
        conversation_stats, render_training_text)
    from faisssearcher_spark.operators.curate import curate_documents
    from faisssearcher_spark.operators.sampling import SAMPLE_DENOM

    docs = load_table_parallel(spark, sf_dir, "documents")

    def pad(df, **over):
        cols = {"n_turns": F.lit(-1), "n_user_turns": F.lit(-1),
                "n_assistant_turns": F.lit(-1),
                "roles_valid": F.lit(False), "render_hash": F.lit("")}
        cols.update(over)
        return df.select("leg", "doc_id", "quality", "lang_pred",
                         "n_tokens", *[v.alias(k) if not isinstance(v, str)
                                       else F.col(v).alias(k)
                                       for k, v in cols.items()])

    cur = pad(curate_documents(docs, min_quality=0.3, languages=None,
                               near_dup_threshold=0.3)
              .select(F.lit("curate").alias("leg"), "*"))

    # tag-union leg 4 (round 9): the C4 cleaning recipe
    # (text_analysis.c4_signals) over SQL-SYNTHESIZED multi-line pages
    # — the testdata corpus is single-line, which would make every line
    # signal vacuous, so the page builds deterministically from the
    # doc's tokens in BOTH engines (the SQL-built WAV/Y4M asset move):
    # line 1 = 6 words + '.' (kept), line 2 = 3 words unpunctuated
    # (dropped: no terminal punct), line 3 = a lorem-ipsum sentence on
    # doc_id%7 (kept as a LINE, flags the PAGE) else 5 words + '?',
    # line 4 = a curly+javascript line on doc_id%5 (dropped AND flags)
    # else 6 words + '!'. Packed into the pad schema: n_tokens =
    # n_kept_lines, n_turns = n_lines, n_user_turns = n_sentences,
    # n_assistant_turns = has_lorem·2 + has_curly, roles_valid = the
    # page-survives predicate, render_hash = md5(clean_text).
    from faisssearcher_spark.operators.text_analysis import c4_signals

    c4_toks = T.tokens("text")

    def _c4_line(start: int, n: int, punct: str):
        return F.concat(F.concat_ws(" ", F.slice(c4_toks, start, n)),
                        F.lit(punct))

    c4_page = F.concat_ws(
        "\n", _c4_line(1, 6, "."), _c4_line(7, 3, ""),
        F.when(F.col("doc_id") % 7 == 0,
               F.lit("Lorem ipsum dolor sit amet."))
        .otherwise(_c4_line(10, 5, "?")),
        F.when(F.col("doc_id") % 5 == 0,
               F.lit("var cfg = { javascript };"))
        .otherwise(_c4_line(15, 6, "!")))
    c4_sig = c4_signals(docs.select("doc_id", c4_page.alias("text")))
    c4_leg = pad(c4_sig.select(
        F.lit("c4").alias("leg"),
        F.col("id").alias("doc_id"),
        F.lit(0.0).alias("quality"),
        F.lit("c4").alias("lang_pred"),
        F.col("n_kept_lines").cast("long").alias("n_tokens"),
        F.col("n_lines").cast("int").alias("c4_n_lines"),
        F.col("n_sentences").cast("int").alias("c4_n_sent"),
        (F.when(F.col("has_lorem"), 2).otherwise(0)
         + F.when(F.col("has_curly"), 1).otherwise(0)).alias("c4_flags"),
        ((F.col("n_sentences") >= 3) & ~F.col("has_lorem")
         & ~F.col("has_curly")).alias("c4_keep"),
        F.md5("clean_text").alias("c4_hash")),
        n_turns="c4_n_lines", n_user_turns="c4_n_sent",
        n_assistant_turns="c4_flags", roles_valid="c4_keep",
        render_hash="c4_hash")

    vocab = (docs.filter(F.col("source") == "src1")
             .select(F.explode(T.tokens("text")).alias("token")).distinct()
             .withColumn("weight",
                         T.md5_int(F.concat(F.lit("w|"), F.col("token")))
                         % F.lit(SAMPLE_DENOM)
                         / F.lit(float(SAMPLE_DENOM)) - F.lit(0.5)))
    clf = QualityClassifier(vocab, CLF_INTERCEPT)
    scored = clf.score(docs.select("doc_id", "text"), out_col="__qs")
    kept = pareto_keep(scored, key_col="doc_id", score_col="__qs",
                       alpha=9.0, seed=42)
    clf_leg = pad(kept.select(
        F.lit("classifier").alias("leg"), "doc_id",
        F.round("__qs", 4).alias("quality"),
        F.lit("clf").alias("lang_pred"),
        F.lit(-1).cast("long").alias("n_tokens")))

    convs = (docs.select(
        (F.col("doc_id") % 25).alias("conv_id"),
        F.struct(F.col("doc_id").alias("ord"),
                 F.when(F.floor(F.col("doc_id") / 25) % 2 == 0, "user")
                 .otherwise("assistant").alias("role"),
                 F.coalesce(F.col("text"), F.lit("")).alias("content"))
        .alias("turn"))
        .groupBy("conv_id")
        .agg(F.transform(F.array_sort(F.collect_list("turn")),
                         lambda s: F.struct(s["role"].alias("role"),
                                            s["content"].alias("content")))
             .alias("messages")))
    stats = conversation_stats(convs, conv_col="messages")
    rendered = render_training_text(stats, conv_col="messages",
                                    out_col="__rt")
    conv_leg = pad(rendered.select(
        F.lit("conv").alias("leg"),
        F.col("conv_id").alias("doc_id"),
        F.lit(0.0).alias("quality"),
        F.lit("conv").alias("lang_pred"),
        F.col("n_tokens_est").cast("long").alias("n_tokens"),
        "n_turns", "n_user_turns", "n_assistant_turns", "roles_valid",
        F.md5("__rt").alias("render_hash")),
        n_turns="n_turns", n_user_turns="n_user_turns",
        n_assistant_turns="n_assistant_turns", roles_valid="roles_valid",
        render_hash="render_hash")
    return (cur.unionByName(clf_leg).unionByName(conv_leg)
            .unionByName(c4_leg))


def _oracle_curate() -> str:
    from faisssearcher_spark.functions.text import LANG_STOPWORDS

    score_cols = []
    for lang in sorted(LANG_STOPWORDS):
        arr = "[" + ",".join(f"'{w}'" for w in LANG_STOPWORDS[lang]) + "]"
        score_cols.append(
            f"len(list_filter(toks, x -> list_contains({arr}, lower(x)))) AS s_{lang}")
    structs = ", ".join(
        f"{{'hits': s_{lang}, 'lang': '{lang}'}}" for lang in sorted(LANG_STOPWORDS))

    return f"""
WITH RECURSIVE
  t AS (SELECT doc_id, text, {_TOKS} AS toks FROM documents),
  m AS (SELECT doc_id, text, toks, len(toks) AS n,
               len(list_filter(toks, x -> list_contains({_SW_EN}, lower(x))))::DOUBLE
                 / len(toks) AS swr,
               length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))::DOUBLE
                 / length(text) AS pr,
               {', '.join(score_cols)}
        FROM t),
  q AS (SELECT doc_id, text, toks, n AS n_tokens,
               round((CASE WHEN n BETWEEN 5 AND 10000 THEN 1.0 ELSE 0.2 END)
                     * (0.5 + 0.5 * (CASE WHEN swr >= 0.05 THEN 1.0 ELSE 0.0 END))
                     * (1.0 - least(1.0, 3.0 * pr)), 4) AS quality,
               coalesce(list_max(list_filter([{structs}], p -> p.hits > 0)).lang,
                        'und') AS lang_pred,
               md5(array_to_string(list_sort(list_distinct(
                   list_transform(toks, x -> lower(x)))), ' ')) AS fp
        FROM m),
  kept AS (SELECT * FROM (
             SELECT *, row_number() OVER (PARTITION BY fp
                                          ORDER BY doc_id ASC) AS rn
             FROM q WHERE quality >= 0.3)
           WHERE rn = 1),
  sh AS (SELECT doc_id AS id, list_distinct(list_transform(
              range(1, greatest(len(toks)-2, 0)+1),
              i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS g
         FROM kept),
  hsh AS (SELECT id, g,
                 list_transform(g, x -> ('0x' || substring(md5(x), 1, 8))::BIGINT) AS hs
          FROM sh),
  sig AS (SELECT id, g, {_oracle_minhash_sig()} AS sg FROM hsh),
  banded AS (SELECT id, g, b.band_idx,
                    array_to_string(sg[b.band_idx*4+1 : b.band_idx*4+4], '|') AS band_val
             FROM sig, (SELECT unnest(range(0, 4)) AS band_idx) b),
  cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
           FROM banded a JOIN banded b
             ON a.band_idx = b.band_idx AND a.band_val = b.band_val
                AND a.id < b.id),
  verified AS (SELECT id_a, id_b
               FROM (SELECT id_a, id_b,
                            len(list_filter(sa.g, x -> list_contains(sb.g, x)))::DOUBLE
                            / (len(sa.g) + len(sb.g)
                               - len(list_filter(sa.g, x -> list_contains(sb.g, x)))) AS j
                     FROM cand
                     JOIN sh sa ON sa.id = id_a
                     JOIN sh sb ON sb.id = id_b)
               WHERE j >= 0.3),
  edges AS (SELECT id_a AS a, id_b AS b FROM verified
            UNION SELECT id_b, id_a FROM verified),
  reach(id, r) AS (
    SELECT DISTINCT a, a FROM edges
    UNION
    SELECT e.a, reach.r FROM edges e JOIN reach ON reach.id = e.b),
  clusters AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)
SELECT doc_id, quality, lang_pred, n_tokens
FROM kept
WHERE doc_id NOT IN (SELECT id FROM clusters WHERE id != cluster_id)
"""


def _oracle_curate_extended() -> str:
    """The three-leg curate gate twin: the recursive-CTE curation
    pipeline, the md5-weight classifier + Pareto keep, and the ordered
    list-agg conversation rebuild."""
    pareto_u = (f"({_sample_bucket_sql('doc_id', op='pareto')} + 0.5)"
                f" / 1000000.0")
    sentinels = ("-1 AS n_turns, -1 AS n_user_turns, "
                 "-1 AS n_assistant_turns, FALSE AS roles_valid, "
                 "'' AS render_hash")
    # coalesce every slice-join: DuckDB list_slice past the list's end
    # is NULL where Spark's F.slice is [] — without it the tail line
    # vanishes from short docs' pages (caught by the gate: n_lines 3
    # vs 4 on 13-token docs)
    def _c4_words(a: int, b: int) -> str:
        return (f"coalesce(array_to_string("
                f"list_slice(toks, {a}, {b}), ' '), '')")

    c4_page = (
        "array_to_string(list_value("
        f"{_c4_words(1, 6)} || '.', "
        f"{_c4_words(7, 9)}, "
        "CASE WHEN doc_id % 7 = 0 THEN 'Lorem ipsum dolor sit amet.' "
        f"ELSE {_c4_words(10, 14)} || '?' END, "
        "CASE WHEN doc_id % 5 = 0 THEN 'var cfg = { javascript };' "
        f"ELSE {_c4_words(15, 20)} || '!' END"
        "), chr(10))")
    return f"""
SELECT 'curate' AS leg, c.*, {sentinels} FROM ({_oracle_curate()}) c
UNION ALL
SELECT 'c4', doc_id, 0.0, 'c4', n_kept::BIGINT, n_lines::INT,
       n_sent::INT, (lorem * 2 + curly)::INT,
       (n_sent >= 3 AND lorem = 0 AND curly = 0), md5(clean_text)
FROM (
  WITH t4 AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
       pg AS (SELECT doc_id, {c4_page} AS page FROM t4),
       ln AS (SELECT doc_id, page,
                     list_filter(list_transform(
                         string_split(page, chr(10)), l -> trim(l)),
                         l -> length(l) > 0) AS nonempty
              FROM pg),
       kp AS (SELECT doc_id, page, nonempty,
                     list_filter(nonempty, l ->
                       regexp_matches(l, '[.!?"]$')
                       AND len(list_filter(
                             string_split_regex(l, '\\s+'),
                             w -> length(w) > 0)) >= 5
                       AND NOT contains(lower(l), 'javascript')) AS kept
              FROM ln)
  SELECT doc_id, len(nonempty) AS n_lines, len(kept) AS n_kept,
         array_to_string(kept, chr(10)) AS clean_text,
         CASE WHEN contains(lower(page), 'lorem ipsum')
              THEN 1 ELSE 0 END AS lorem,
         CASE WHEN contains(page, '{{') THEN 1 ELSE 0 END AS curly,
         len(list_filter(
             string_split_regex(array_to_string(kept, chr(10)),
                                '[.!?"]+'),
             s -> length(trim(s)) > 0)) AS n_sent
  FROM kp)
UNION ALL
SELECT 'classifier', doc_id, round(1.0 / (1.0 + exp(-margin)), 4),
       'clf', (-1)::BIGINT, -1, -1, -1, FALSE, ''
FROM (
  WITH t2 AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
       w AS (SELECT tok,
                    (('0x' || substring(md5('w|' || tok), 1, 8))::BIGINT
                     % 1000000) / 1000000.0 - 0.5 AS w
             FROM (SELECT DISTINCT unnest({_TOKS}) AS tok
                   FROM documents WHERE source = 'src1')),
       m AS (SELECT t2.doc_id,
                    {CLF_INTERCEPT!r} + coalesce(s.msum, 0.0) AS margin
             FROM t2 LEFT JOIN (
               SELECT ex.doc_id, sum(coalesce(w.w, 0.0)) AS msum
               FROM (SELECT doc_id, unnest(toks) AS tok FROM t2) ex
               LEFT JOIN w ON w.tok = ex.tok
               GROUP BY ex.doc_id) s USING (doc_id))
  SELECT doc_id, margin FROM m
  WHERE 1.0 / (1.0 + exp(-margin))
        > 1.0 - (pow({pareto_u}, {(-1.0 / 9.0)!r}) - 1.0))
UNION ALL
SELECT 'conv', conv_id, 0.0, 'conv', n_tokens_est::BIGINT,
       n_turns, n_user_turns, n_assistant_turns, roles_valid,
       md5(rendered)
FROM (
  WITH c AS (SELECT doc_id % 25 AS conv_id, doc_id,
                    CASE WHEN (doc_id // 25) % 2 = 0
                         THEN 'user' ELSE 'assistant' END AS role,
                    coalesce(text, '') AS content
             FROM documents),
       g AS (SELECT conv_id,
                    list(role ORDER BY doc_id) AS roles,
                    list(content ORDER BY doc_id) AS contents,
                    string_agg('<|' || role || '|>' || chr(10) || content
                               || chr(10), '' ORDER BY doc_id) AS rendered
             FROM c GROUP BY conv_id)
  SELECT conv_id,
         len(roles)::INT AS n_turns,
         len(list_filter(roles, r -> r = 'user'))::INT AS n_user_turns,
         len(list_filter(roles, r -> r = 'assistant'))::INT
           AS n_assistant_turns,
         list_sum(list_transform(contents,
                                 s -> ceil(length(s) / 4.0)::INT))::INT
           AS n_tokens_est,
         (len(roles) > 0
          AND len(list_filter(range(1, len(roles) + 1),
                              i -> roles[i] = 'system' AND i > 1)) = 0
          AND len(list_filter(range(1, len(roles)),
                              i -> roles[i] = roles[i + 1])) = 0
          AND list_filter(roles, r -> r != 'system')[1] = 'user'
          AND roles[-1] = 'assistant') AS roles_valid,
         rendered
  FROM g)
"""


def q_curate_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING composite, tag-unioned (the 50-cap extension pattern).

    ``curate`` — curation end-state (streaming/curate.py): the documents
    table replayed as an availableNow stream through quality filter →
    deterministic 50% hash sample → watermarked first-wins exact dedup,
    drained to memory. WHICH duplicate survives is arrival-order
    dependent (legitimately nondeterministic under parallel replay), but
    the surviving FINGERPRINT SET and the one-row-per-fingerprint
    guarantee are exact — so the tag projects to (fingerprint, n_rows)
    and the oracle derives the same set relationally: every fingerprint
    of a quality-passing sampled document, exactly once.

    ``enrich`` — stream-static dimension enrichment (streaming/enrich.py):
    the events stream left-joined to the static customer dimension
    (broadcast, stateless, append-safe) under availableNow, drained, then
    counted per market segment — hash-checked against the batch join
    twin, proving the streaming join loses/duplicates nothing."""
    import tempfile

    from faisssearcher_spark.streaming import curate as scur
    from faisssearcher_spark.streaming import events as sev
    from faisssearcher_spark.streaming.enrich import enrich_stream
    from faisssearcher_spark.streaming.events import run_to_memory

    docs = load_table(spark, sf_dir, "documents")
    # one-day base offset: an event time of exactly epoch 0 sits on the
    # initial-watermark boundary and dropDuplicatesWithinWatermark
    # discards it as late (observed: doc_id 0 vanished from the gate)
    src = docs.select(
        "doc_id", "text",
        F.timestamp_micros((F.col("doc_id") + 86_400) * 1_000_000)
        .alias("ingest_ts"))
    path = tempfile.mkdtemp(prefix="curate_stream_gate_")
    src.write.mode("overwrite").parquet(path)
    stream = spark.readStream.schema(src.schema).parquet(path)
    # watermark must exceed the replayed corpus's ingest_ts span (doc_id
    # seconds) or a duplicate arriving after state expiry would slip
    # through — 24h covers every driver SF
    out = scur.curate_stream(stream, min_quality=0.3, sample_fraction=0.5,
                             watermark="24 hours")
    run_to_memory(out, "q_curate_stream_state", output_mode="append")
    state = spark.table("q_curate_stream_state")
    curate = state.groupBy(F.col("fingerprint").alias("key")) \
        .agg(F.count("*").alias("n_rows")) \
        .select(F.lit("curate").alias("tag"), "key", "n_rows")

    ev = sev.read_events_stream(spark, f"{sf_dir}/events.parquet")
    cust = load_table(spark, sf_dir, "customer")
    enriched = enrich_stream(ev, cust, stream_key="user_id",
                             dim_key="c_custkey",
                             dim_cols=["c_mktsegment"], how="left")
    run_to_memory(enriched.select("event_id", "c_mktsegment"),
                  "q_enrich_stream_state", output_mode="append")
    enrich = (spark.table("q_enrich_stream_state")
              .groupBy(F.coalesce("c_mktsegment", F.lit("UNKNOWN"))
                       .alias("key"))
              .agg(F.count("*").alias("n_rows"))
              .select(F.lit("enrich").alias("tag"), "key", "n_rows"))
    return curate.unionByName(enrich)


def _oracle_curate_stream() -> str:
    return f"""
WITH t AS (SELECT doc_id, text, {_TOKS} AS toks FROM documents),
     m AS (SELECT doc_id, toks, len(toks) AS n,
                  len(list_filter(toks, x -> list_contains({_SW_EN}, lower(x))))::DOUBLE
                    / len(toks) AS swr,
                  length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))::DOUBLE
                    / length(text) AS pr
           FROM t),
     q AS (SELECT doc_id,
                  round((CASE WHEN n BETWEEN 5 AND 10000 THEN 1.0 ELSE 0.2 END)
                        * (0.5 + 0.5 * (CASE WHEN swr >= 0.05 THEN 1.0 ELSE 0.0 END))
                        * (1.0 - least(1.0, 3.0 * pr)), 4) AS quality,
                  md5(array_to_string(list_sort(list_distinct(
                      list_transform(toks, x -> lower(x)))), ' ')) AS fp
           FROM m)
SELECT 'curate' AS tag, fp AS key, 1::BIGINT AS n_rows
FROM q
WHERE quality >= 0.3 AND {_sample_bucket_sql('doc_id', op='sample')} < 500000
GROUP BY fp
UNION ALL
SELECT 'enrich' AS tag, coalesce(c.c_mktsegment, 'UNKNOWN') AS key,
       count(*) AS n_rows
FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 2
"""


#: ln 2 / 90 days — the decayed_sum gate's half-life constant, written
#: once so the Spark call and the DuckDB twin share the same literal
_DECAY_LAMBDA = 0.6931471805599453 / (90 * 86400)


def q_orders_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window FRAME aggregations (beyond ranking): per-customer running
    order total (rows unbounded-preceding), 3-order moving average, and
    the exponentially time-decayed spend (operators/temporal.decayed_sum,
    90-day half-life — the exp-normalization prefix-sum identity) — one
    shuffle on the partition key serves every frame. The decayed column
    rounds to 4dp: the identity multiplies 1-ulp-different exp() results
    (Java StrictMath vs libm) through a bit-identical window sum, so
    cross-engine agreement is relative ~1e-15 — far inside 4dp."""
    from faisssearcher_spark.operators.temporal import decayed_sum

    orders = load_table(spark, sf_dir, "orders")
    w_run = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey") \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_mov = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey") \
        .rowsBetween(-2, Window.currentRow)
    decayed = decayed_sum(orders, key_col="o_custkey", ts_col="o_orderdate",
                          value_col="o_totalprice",
                          half_life_s=90 * 86400.0,
                          order_col="o_orderkey")
    win = decayed.select(
        F.lit("win").alias("leg"),
        "o_custkey", "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
        F.round(F.sum("o_totalprice").over(w_run), 2).alias("running_total"),
        # a moving SUM, not avg: the avg quotient lands on .xx5 round
        # boundaries where Spark (decimal-string HALF_UP) and DuckDB
        # (binary) round() disagree; window sums are bit-identical
        F.round(F.sum("o_totalprice").over(w_mov), 2).alias("moving_sum_3"),
        F.row_number().over(
            Window.partitionBy("o_custkey")
            .orderBy("o_orderdate", "o_orderkey")).alias("order_seq"),
        F.round("decayed_sum", 4).alias("decayed_spend_90d"),
        F.lit(-1).cast("long").alias("zorder_key"))

    # tag-union leg 2 (round 6): the Z-order layout key VALUE-checked —
    # bucket edges are EXACT 16-quantiles fed through zorder_key's
    # explicit `boundaries` override (Spark percentile ≡ DuckDB
    # quantile_cont bit-for-bit, the drift_report edges pattern), so
    # the oracle replays rank-bucketing + Morton bit interleaving per
    # row; only the approxQuantile sketch itself stays un-replayable.
    from faisssearcher_spark.operators.layout import zorder_key

    qs = ",".join(str(q / 16) for q in range(1, 16))
    e = orders.selectExpr(
        f"percentile(CAST(o_totalprice AS DOUBLE), array({qs})) AS e1",
        f"percentile(CAST(o_custkey AS DOUBLE), array({qs})) AS e2") \
        .first()
    zk = zorder_key(orders, ["o_totalprice", "o_custkey"], bits=4,
                    boundaries={"o_totalprice": list(e["e1"]),
                                "o_custkey": list(e["e2"])})
    zleg = zk.select(
        F.lit("zorder").alias("leg"),
        "o_custkey", "o_orderkey",
        F.lit("").alias("o_orderdate"),
        F.lit(0.0).alias("running_total"),
        F.lit(0.0).alias("moving_sum_3"),
        F.lit(-1).alias("order_seq"),
        F.lit(0.0).alias("decayed_spend_90d"),
        F.col("__zorder").alias("zorder_key"))

    # tag-union leg 3 (round 8): the HILBERT key value-checked over the
    # same exact quantile edges — the oracle replays the xy→d
    # reflect-and-swap walk as a recursive CTE (the BPE/unigram
    # replay pattern); the key rides the zorder_key column (it is
    # "the layout key of this leg").
    from faisssearcher_spark.operators.layout import hilbert_key

    hk = hilbert_key(orders, ["o_totalprice", "o_custkey"], bits=4,
                     boundaries={"o_totalprice": list(e["e1"]),
                                 "o_custkey": list(e["e2"])})
    hleg = hk.select(
        F.lit("hilbert").alias("leg"),
        "o_custkey", "o_orderkey",
        F.lit("").alias("o_orderdate"),
        F.lit(0.0).alias("running_total"),
        F.lit(0.0).alias("moving_sum_3"),
        F.lit(-1).alias("order_seq"),
        F.lit(0.0).alias("decayed_spend_90d"),
        F.col("__hilbert").alias("zorder_key"))
    return win.unionByName(zleg).unionByName(hleg)


def _oracle_running_zorder() -> str:
    qs = ",".join(str(q / 16) for q in range(1, 16))
    interleave = " + ".join(
        f"(((b1 >> {i}) & 1) << {2 * i}) + (((b2 >> {i}) & 1) << {2 * i + 1})"
        for i in range(4))
    return f"""
WITH RECURSIVE t AS (
  SELECT *, epoch(o_orderdate) AS ets,
         min(epoch(o_orderdate)) OVER (PARTITION BY o_custkey) AS t0
  FROM orders),
  ze AS (SELECT quantile_cont(o_totalprice::DOUBLE, [{qs}]) AS e1,
                quantile_cont(o_custkey::DOUBLE, [{qs}]) AS e2
         FROM orders),
  zb AS (SELECT o_custkey, o_orderkey,
                len(list_filter(ze.e1,
                    x -> o_totalprice::DOUBLE >= x)) AS b1,
                len(list_filter(ze.e2,
                    x -> o_custkey::DOUBLE >= x)) AS b2
         FROM orders, ze),
  hw AS (SELECT o_custkey, o_orderkey, b1::BIGINT AS hx, b2::BIGINT AS hy,
                0::BIGINT AS d, 3 AS i
         FROM zb
         UNION ALL
         SELECT o_custkey, o_orderkey,
                CASE WHEN ((hy >> i) & 1) = 1 THEN hx
                     WHEN ((hx >> i) & 1) = 1 THEN (1::BIGINT << i) - 1 - hy
                     ELSE hy END,
                CASE WHEN ((hy >> i) & 1) = 1 THEN hy
                     WHEN ((hx >> i) & 1) = 1 THEN (1::BIGINT << i) - 1 - hx
                     ELSE hx END,
                d + ((1::BIGINT << i) * (1::BIGINT << i)) *
                    xor(3 * ((hx >> i) & 1), (hy >> i) & 1),
                i - 1
         FROM hw WHERE i >= 0)
SELECT 'win' AS leg, o_custkey, o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
       round(sum(o_totalprice) OVER
             (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
              ROWS UNBOUNDED PRECEDING), 2) AS running_total,
       round(sum(o_totalprice) OVER
             (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
              ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 2) AS moving_sum_3,
       row_number() OVER
             (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
             ::INT AS order_seq,
       round(sum(o_totalprice * exp({_DECAY_LAMBDA!r} * (ets - t0))) OVER
             (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
              ROWS UNBOUNDED PRECEDING)
             * exp(-{_DECAY_LAMBDA!r} * (ets - t0)), 4)
             AS decayed_spend_90d,
       (-1)::BIGINT AS zorder_key
FROM t
UNION ALL
SELECT 'zorder', o_custkey, o_orderkey, '', 0.0, 0.0, -1, 0.0,
       ({interleave})::BIGINT
FROM zb
UNION ALL
SELECT 'hilbert', o_custkey, o_orderkey, '', 0.0, 0.0, -1, 0.0, d
FROM hw WHERE i = -1
"""


ORACLE_RUNNING = _oracle_running_zorder()


# ===========================================================================
# 5b. deterministic sampling (training-data mixture surface)
# ===========================================================================

def q_sample_documents_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic samplers, tag-unioned (the 50-cap extension pattern):

    ``bernoulli`` — 25% Bernoulli sample of documents by doc_id hash,
    reproducible engine-to-engine (the oracle recomputes membership row
    by row), shuffle-free, monotone in the fraction.

    ``cap`` — per-source quota (``cap_per_group``, ≤ 30 docs per source
    by independent 'cap'-salted hash order): the "max N docs per domain"
    crawl-balance operator; the oracle replays the identical rank with a
    row_number window.

    ``upsample`` (round 7) — fractional per-stratum repeats
    (``upsample_mixture``: src1 × 2.4, src2 × 0.5, default × 1) with
    every (row, copy) carrying its ``epoch_order_key`` for epoch-1
    shuffling — copy counts, copy numbering, and the 32-bit epoch keys
    are all exact integers the oracle replays from the same md5
    arithmetic. The ``copy``/``epoch_key`` columns sit at -1 on the
    other legs (the cross-engine sentinel rule)."""
    from faisssearcher_spark.operators import sampling
    docs = load_table(spark, sf_dir, "documents")
    neg = F.lit(-1)
    bern = sampling.hash_sample(docs, 0.25, key_col="doc_id") \
        .select(F.lit("bernoulli").alias("tag"), "doc_id", "lang", "source",
                neg.cast("int").alias("copy"),
                neg.cast("long").alias("epoch_key"))
    capped = sampling.cap_per_group(docs, group_col="source", cap=30,
                                    key_col="doc_id") \
        .select(F.lit("cap").alias("tag"), "doc_id", "lang", "source",
                neg.cast("int").alias("copy"),
                neg.cast("long").alias("epoch_key"))
    up = sampling.upsample_mixture(docs, {"src1": 2.4, "src2": 0.5},
                                   stratum_col="source", key_col="doc_id",
                                   default_rate=1.0) \
        .select(F.lit("upsample").alias("tag"), "doc_id", "lang", "source",
                F.col("copy_no").cast("int").alias("copy"),
                sampling.epoch_order_key("doc_id", epoch=1,
                                         copy_col="copy_no")
                .alias("epoch_key"))
    return bern.unionByName(capped).unionByName(up)


ORACLE_SAMPLE_HASH = f"""
SELECT 'bernoulli' AS tag, doc_id, lang, source,
       -1 AS copy, -1 AS epoch_key FROM documents
WHERE {_sample_bucket_sql('doc_id', op='sample')} < 250000
UNION ALL
SELECT 'cap' AS tag, doc_id, lang, source, -1, -1 FROM (
    SELECT doc_id, lang, source,
           row_number() OVER (PARTITION BY source ORDER BY
               {_sample_bucket_sql('doc_id', op='cap')}, doc_id) AS rn
    FROM documents)
WHERE rn <= 30
UNION ALL
SELECT 'upsample', doc_id, lang, source, copy,
       ('0x' || substring(md5('epoch1|42|' || doc_id::VARCHAR || '|'
                              || copy::VARCHAR), 1, 8))::BIGINT
FROM (
  SELECT doc_id, lang, source,
         unnest(range(0,
           CASE source WHEN 'src1' THEN 2 WHEN 'src2' THEN 0 ELSE 1 END
           + CASE WHEN {_sample_bucket_sql('doc_id', op='upsample')} <
                       CASE source WHEN 'src1' THEN 400000
                            WHEN 'src2' THEN 500000 ELSE 0 END
                  THEN 1 ELSE 0 END))::INT AS copy
  FROM documents)
"""


def q_sample_stratified_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source data-mixture sampling, tag-unioned (50-cap pattern):

    ``strat`` — explicit-fraction stratified sample: up-weight src1
    (80%), down-weight src2 (10%), default 30% — one CASE-thresholded
    scan, no join. ``copy`` sits at -1 (the cross-engine sentinel rule).

    ``temp`` (round 8) — TEMPERATURE-derived mixture
    (``temperature_mixture_rates``, the T5/multilingual α-sampling
    rule at α = 0.5): repeat rates computed from the per-source corpus
    counts (rate_i = N·√n_i / Σ√n_j / n_i — α = 0.5 routes through
    IEEE-correctly-rounded sqrt, so the DuckDB twin derives
    bit-identical rates from its own counts) feeding
    ``upsample_mixture``; copy counts and numbering are exact
    integers the oracle replays."""
    from faisssearcher_spark.operators import sampling
    docs = load_table(spark, sf_dir, "documents")
    strat = sampling.stratified_hash_sample(
        docs, {"src1": 0.8, "src2": 0.1}, stratum_col="source",
        key_col="doc_id", default_fraction=0.3) \
        .select(F.lit("strat").alias("tag"), "doc_id", "lang", "source",
                F.lit(-1).cast("int").alias("copy"))
    rates = sampling.temperature_mixture_rates(
        docs, stratum_col="source", alpha=0.5)
    temp = sampling.upsample_mixture(
        docs, rates, stratum_col="source", key_col="doc_id") \
        .select(F.lit("temp").alias("tag"), "doc_id", "lang", "source",
                F.col("copy_no").cast("int").alias("copy"))
    return strat.unionByName(temp)


ORACLE_SAMPLE_STRATIFIED = f"""
WITH tcnt AS (SELECT source AS src, count(*)::DOUBLE AS cnt
              FROM documents GROUP BY source),
     -- sorted-stratum folds, matching temperature_mixture_rates'
     -- Python accumulation order term for term
     ttot AS (SELECT list_sum(list(cnt ORDER BY src)) AS total,
                     list_sum(list(sqrt(cnt) ORDER BY src)) AS denom
              FROM tcnt),
     trate AS (SELECT src, total * sqrt(cnt) / denom / cnt AS rate
               FROM tcnt, ttot),
     tdoc AS (SELECT d.doc_id, d.lang, d.source,
                     trunc(rate)::INT
                     + CASE WHEN {_sample_bucket_sql('d.doc_id',
                                                     op='upsample')}
                              < round((rate - trunc(rate))
                                      * 1000000)::BIGINT
                            THEN 1 ELSE 0 END AS n
              FROM documents d JOIN trate ON d.source = trate.src)
SELECT 'strat' AS tag, doc_id, lang, source, -1 AS copy FROM documents
WHERE {_sample_bucket_sql('doc_id', op='sample')} <
      CASE source WHEN 'src1' THEN 800000 WHEN 'src2' THEN 100000
           ELSE 300000 END
UNION ALL
SELECT 'temp', doc_id, lang, source, u.c::INT
FROM tdoc, unnest(generate_series(0, n - 1)) AS u(c)
"""


def q_sample_pack_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget packing, tag-unioned (the 50-cap extension pattern).

    ``docs`` — whole documents hash into 8 shards and greedily cut into
    ~2000-token training bins within each shard (per-shard windows — no
    global sort, the shape that survives 100 TB).

    ``chunks`` — the COMPOSED pretraining-prep pipeline:
    ``chunk_documents`` (64-token windows, 16 overlap) feeds
    ``pack_token_budget`` (512-token bins) keyed by the stable
    ``doc_id·1e5 + chunk_idx`` chunk key — proving chunks pack
    deterministically end-to-end (stable (shard, bin) per chunk key).
    The oracle replays the identical chunking, shard hash, and
    running-sum cut in SQL."""
    from faisssearcher_spark.operators import sampling
    from faisssearcher_spark.operators.text_analysis import chunk_documents
    docs = load_table(spark, sf_dir, "documents")
    sized = docs.select("doc_id", T.token_count("text").alias("n_tokens"))
    packed = sampling.pack_token_budget(sized, budget=2000,
                                        size_col="n_tokens",
                                        key_col="doc_id", n_shards=8)
    whole = packed.select(
        F.lit("docs").alias("tag"), F.col("doc_id").cast("string").alias("key"),
        "shard", "bin", "n_tokens", "cum_tokens")

    chunks = chunk_documents(docs, max_tokens=64, overlap=16)
    keyed = chunks.select(
        (F.col("doc_id") * 100_000 + F.col("chunk_idx")).alias("pack_key"),
        F.col("n_chunk_tokens"))
    cpacked = sampling.pack_token_budget(keyed, budget=512,
                                         size_col="n_chunk_tokens",
                                         key_col="pack_key", n_shards=8)
    chunked = cpacked.select(
        F.lit("chunks").alias("tag"),
        F.col("pack_key").cast("string").alias("key"),
        "shard", "bin", F.col("n_chunk_tokens").alias("n_tokens"),
        "cum_tokens")
    return whole.unionByName(chunked)


ORACLE_SAMPLE_PACK = f"""
WITH t AS (SELECT doc_id, len({_TOKS}) AS n_tokens,
                  ({_sample_bucket_sql('doc_id', op='pack')} % 8)::INT AS shard
           FROM documents),
     c AS (SELECT doc_id, shard, n_tokens,
                  sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                      ROWS UNBOUNDED PRECEDING)::BIGINT AS cum_tokens
           FROM t),
     tk AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
     ch AS (SELECT doc_id, (s - 1) // 48 AS chunk_idx,
                   len(list_slice(toks, s, s + 63)) AS n_chunk_tokens
            FROM (SELECT doc_id, toks, len(toks) AS n
                  FROM tk WHERE len(toks) > 0) d,
                 unnest(generate_series(1, greatest(n - 16, 1), 48)) AS u(s)),
     ck AS (SELECT doc_id * 100000 + chunk_idx AS pack_key, n_chunk_tokens,
                   ({_sample_bucket_sql('doc_id * 100000 + chunk_idx',
                                        op='pack')} % 8)::INT AS shard
            FROM ch),
     cc AS (SELECT pack_key, shard, n_chunk_tokens,
                   sum(n_chunk_tokens) OVER (PARTITION BY shard
                       ORDER BY pack_key
                       ROWS UNBOUNDED PRECEDING)::BIGINT AS cum_tokens
            FROM ck)
SELECT 'docs' AS tag, doc_id::VARCHAR AS key, shard,
       floor((cum_tokens - n_tokens) / 2000)::INT AS bin,
       n_tokens, cum_tokens
FROM c
UNION ALL
SELECT 'chunks' AS tag, pack_key::VARCHAR AS key, shard,
       floor((cum_tokens - n_chunk_tokens) / 512)::INT AS bin,
       n_chunk_tokens AS n_tokens, cum_tokens
FROM cc
"""


def q_sample_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out-split tagging: every document deterministically 'test'
    (10%) or 'train' by key hash — stable across reruns, repartitions and
    corpus growth (no train/test leakage on append)."""
    from faisssearcher_spark.operators import sampling
    docs = load_table(spark, sf_dir, "documents")
    res = sampling.hash_split(docs, key_col="doc_id", test_fraction=0.1)
    return res.select("doc_id", "split")


ORACLE_SAMPLE_SPLIT = f"""
SELECT doc_id,
       CASE WHEN {_sample_bucket_sql('doc_id', op='split')} < 100000
            THEN 'test' ELSE 'train' END AS split
FROM documents
"""


# ===========================================================================
# 6. self-verifying numeric entries (boolean invariants, constant oracles)
# ===========================================================================

def q_whitening_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA-whitening fit+transform (vecs_whitening.py parity), self-
    verifying: SVD sign ambiguity makes kernel VALUES non-oracle-
    comparable, but the defining invariants are checkable — the whitened
    output must have dimension n_components, (near-)zero mean, and
    (near-)identity sample covariance. Emitted as one boolean row against
    a constant-row oracle, so the gate hash-checks what the old rows-only
    entry could not (a silently-rotted kernel flips cov_is_identity)."""
    import numpy as np
    from faisssearcher_spark.operators.whitening import vector_moments

    emb = load_table(spark, sf_dir, "embeddings")
    model = VecsWhitening(8).fit(emb, "embedding")
    out = model.transform(emb, "embedding", out_col="whitened")
    n, mu, cov = vector_moments(out, "whitened")
    cov_dev = float(np.abs(cov - np.eye(cov.shape[0])).max())
    mean_dev = float(np.abs(mu).max())
    whiten = spark.createDataFrame(
        [(int(cov.shape[0]), bool(cov_dev < 1e-8), bool(mean_dev < 1e-8),
          int(n))],
        "out_dim int, cov_is_identity boolean, mean_is_zero boolean, "
        "n_rows long").select(
        F.lit("whiten").alias("leg"), "*",
        F.lit(-1).cast("long").alias("vec_id"),
        *[F.lit(0.0).alias(f"p{j}") for j in range(PROJ_OUT_DIM)])

    # tag-union leg 2 (round 6): JL random projection 64→8, seed 42 —
    # per-row VALUE check. The seeded Gaussian matrix is the single
    # source shared with the oracle (projection_matrix, the
    # lsh_hyperplanes discipline); the float32 UDF output collapses the
    # GEMM-vs-left-fold accumulation difference below representable
    # resolution, and float32 values are dyadic rationals whose decimal
    # expansions terminate off the .xxxx5 tie points, so round(…, 4) is
    # cross-engine safe without the usual HALF_UP caveat.
    from faisssearcher_spark.operators.projection import random_projection

    proj = random_projection(emb, vec_col="embedding",
                             out_dim=PROJ_OUT_DIM, seed=42,
                             out_col="__proj")
    proj_rows = proj.select(
        F.lit("proj").alias("leg"),
        F.lit(PROJ_OUT_DIM).cast("int").alias("out_dim"),
        F.lit(False).alias("cov_is_identity"),
        F.lit(False).alias("mean_is_zero"),
        F.lit(-1).cast("long").alias("n_rows"),
        F.col("vec_id"),
        *[F.round(F.element_at("__proj", j + 1).cast("double"), 4)
          .alias(f"p{j}") for j in range(PROJ_OUT_DIM)])
    return whiten.unionByName(proj_rows)


PROJ_OUT_DIM = 8


def _oracle_whitening_proj(dim: int = 64, out_dim: int = PROJ_OUT_DIM,
                           seed: int = 42) -> str:
    """DuckDB twin: whitening invariants constant row + the JL
    projection values with the EXACT seeded matrix inlined (left-fold
    float64 sum cast ::REAL to match the UDF's float32 output)."""
    from faisssearcher_spark.operators.projection import projection_matrix

    R = projection_matrix(dim, out_dim, seed=seed)
    pcols = []
    for j in range(out_dim):
        terms = " + ".join(
            f"(embedding[{i + 1}]::DOUBLE * {float(R[i][j])!r})"
            for i in range(dim))
        pcols.append(f"round((({terms}))::REAL::DOUBLE, 4) AS p{j}")
    zeros = ", ".join(f"0.0::DOUBLE AS p{j}" for j in range(out_dim))
    return f"""
SELECT 'whiten' AS leg, 8 AS out_dim, TRUE AS cov_is_identity,
       TRUE AS mean_is_zero,
       (SELECT count(*) FROM embeddings) AS n_rows,
       (-1)::BIGINT AS vec_id, {zeros}
UNION ALL
SELECT 'proj', {out_dim}, FALSE, FALSE, -1, vec_id, {', '.join(pcols)}
FROM embeddings
"""


ORACLE_WHITENING = _oracle_whitening_proj()


def q_ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (corpus-sized cells, 5/8 probed) recall@10 vs the exact path (SURVEY.md
    §5.4), self-verifying: emits the ≥0.9 recall contract as a boolean
    row against a constant oracle so the gate catches recall regressions
    the old rows-only check could not.

    nprobe = 5·n_cells/8 (a 37.5% candidate pruning) because the
    driver's synthetic embeddings are isotropic on the unit sphere —
    measured within-label mean cosine ≈ 0.02, i.e. NO cluster structure —
    which is the worst case for any partition-pruning ANN: a query's
    neighbors spread across many cells (measured recall@10 here: 0.545
    at nprobe=2, 0.76 at nprobe=4, 0.91 at nprobe=8). On real clustered
    embeddings the same index hits 0.9+ at far smaller nprobe (the
    sf0.001 pytest does at nprobe=n_cells/2 with 8 cells).

    The cell count is SIZED FROM THE CORPUS (r6 verdict #2): n_cells =
    2^⌊log₂ √n⌋ (the classic √n rule snapped down to a power of two —
    8 cells at 100 vectors, 16 at 500, 64 at 5 000), nprobe = n_cells/2.
    Probing a constant FRACTION of cells keeps recall roughly constant
    on isotropic data while candidate work per query stays ∝ n/2 — so
    the same gate holds at sf0.001/0.01/0.1 instead of being tuned to
    the driver's sf0.01 corpus (a fixed 16 cells under-recalled at 100
    vectors: ~6 per cell leaves no margin). The NSW leg holds ≥ 0.9 at
    every sf (per-shard recall composes)."""
    import math

    from faisssearcher_spark.sources.catalog import table_num_rows

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"), "embedding")
    # exact footer count — identical to emb.count(), no Spark job
    n_vec = table_num_rows(spark, sf_dir, "embeddings")
    n_cells = max(4, 2 ** int(math.log2(max(n_vec, 16) ** 0.5)))
    nprobe = max(2, n_cells * 5 // 8)
    # PQ code budget also grows with the corpus: at n=2000 the exact
    # top-10 margins shrink enough that 16 subspaces (4 dims each over
    # d=64) leave ADC recall at ~0.71 — not a regression, the standard
    # bytes-per-code ∝ log(corpus) rule. 32 subspaces restore ~0.87
    # (measured; floors below keep their meaning at every sf).
    pq_m = 16 if n_vec <= 1000 else 32
    index = ann.IVFIndex(n_cells=n_cells, nprobe=nprobe,
                         metric="cos").fit(
        emb, item_key_col="vec_id", item_vec_col="embedding")
    approx = index.search(q, k=10, query_item_col="qid")
    exact = knn_join(q, emb, metric="cos", k=10, query_item_col="qid",
                     item_key_col="vec_id", payload_cols=[])
    hits = approx.alias("a").join(
        exact.alias("e"),
        (F.col("a.source_item") == F.col("e.source_item"))
        & (F.col("a.sim_item") == F.col("e.sim_item"))).count()
    total = exact.count()
    recall = float(hits) / total if total else 0.0

    # --- tag-union row 2 (round 5, the 50-cap composite pattern):
    # SemDeDup self-verifying invariants. k-means is iterative (not
    # SQL-expressible), so like the recall row this gates BOOLEAN
    # contracts against a constant oracle: (a) survivors+losers
    # partition the corpus with losers nonempty (threshold low enough
    # for the isotropic testdata to contain semantic near-dups);
    # (b) every removed row was a member of >=1 verified candidate
    # pair; (c) no candidate pair survives whole — one endpoint of
    # every within-cell pair with cos >= threshold was removed.
    from faisssearcher_spark.operators.dedup import (semantic_cell_pairs,
                                                     semantic_dedup)
    thr, cells = 0.35, 8
    n_emb = n_vec   # same table; the footer count above is exact
    pairs = semantic_cell_pairs(emb, threshold=thr, n_cells=cells,
                                seed=42).cache()
    # pass the SAME pair set into dedup: one k-means fit, and the
    # invariants compare survivors against the very pairs that formed them
    surv = semantic_dedup(emb, threshold=thr, n_cells=cells,
                          seed=42, pairs=pairs).select("vec_id").cache()
    n_surv = surv.count()
    paired = pairs.select(F.col("id_a").alias("vec_id")).union(
        pairs.select(F.col("id_b").alias("vec_id"))).distinct()
    removed = emb.select("vec_id").join(surv, "vec_id", "left_anti")
    orphans = removed.join(paired, "vec_id", "left_anti").count()
    both_live = (pairs
                 .join(surv.withColumnRenamed("vec_id", "id_a"), "id_a")
                 .join(surv.withColumnRenamed("vec_id", "id_b"), "id_b")
                 .count())
    sem_ok = (0 < n_surv < n_emb) and orphans == 0 and both_live == 0
    pairs.unpersist()
    surv.unpersist()

    # --- tag-union row 3 (round 5): PQ ADC recall. Product quantization
    # (pq_m subspaces over the 64-dim corpus) against the same exact top-10; Lloyd
    # codebooks are iterative, so this too gates a boolean contract
    # (measured 0.845 at seed 42 on the isotropic corpus; floor 0.7
    # leaves noise margin while catching any codebook/LUT regression).
    pq = ann.PQIndex(m=pq_m, metric="cos", seed=42).fit(
        emb, item_key_col="vec_id", item_vec_col="embedding")
    pq_hits = pq.search(q, k=10, query_item_col="qid").alias("a").join(
        exact.alias("e"),
        (F.col("a.source_item") == F.col("e.source_item"))
        & (F.col("a.sim_item") == F.col("e.sim_item"))).count()
    pq_recall = float(pq_hits) / total if total else 0.0

    # --- tag-union row 5 (round 5 session 3): OPQ rotation + PQ — the learned
    # rotation must not hurt (on the isotropic corpus it is a near-no-op
    # by symmetry; on anisotropic data it strictly helps — pinned in
    # tests/test_opq.py) and the rotated ADC algebra must stay exact:
    # same floor as plain PQ.
    opq = ann.PQIndex(m=pq_m, metric="cos", seed=42, opq=True,
                      opq_iters=6).fit(
        emb, item_key_col="vec_id", item_vec_col="embedding")
    opq_hits = opq.search(q, k=10, query_item_col="qid").alias("a").join(
        exact.alias("e"),
        (F.col("a.source_item") == F.col("e.source_item"))
        & (F.col("a.sim_item") == F.col("e.sim_item"))).count()
    opq_recall = float(opq_hits) / total if total else 0.0

    # --- tag-union row 4 (round 5): IVF,PQ residual ADC (corpus-sized)
    # — recall composes as ivf-pruning × pq-quantization (measured 0.75
    # = 0.91 × ~0.84 at seed 42; floor 0.6 leaves margin).
    ivfpq = ann.IVFPQIndex(n_cells=n_cells, nprobe=nprobe, m=pq_m,
                           metric="cos", seed=42, kmeans_max_iter=8).fit(
        emb, item_key_col="vec_id", item_vec_col="embedding")
    ivfpq_hits = ivfpq.search(q, k=10, query_item_col="qid").alias("a") \
        .join(exact.alias("e"),
              (F.col("a.source_item") == F.col("e.source_item"))
              & (F.col("a.sim_item") == F.col("e.sim_item"))).count()
    ivfpq_recall = float(ivfpq_hits) / total if total else 0.0

    # --- tag-union row 6 (round 6): native NSW graph recall — the
    # HNSW-flavored family member without the faiss import gate
    # (operators/graph.py). Sharded greedy-insertion graphs + beam
    # search; per-shard recall composes upward (every shard searched),
    # so ≥ 0.9 holds even on the isotropic worst-case corpus.
    from faisssearcher_spark.operators.graph import NSWIndex

    nsw = NSWIndex(m=12, ef_construction=48, ef_search=96, metric="cos",
                   n_shards=4).fit(emb, item_key_col="vec_id",
                                   item_vec_col="embedding")
    nsw_hits = nsw.search(q, k=10, query_item_col="qid").alias("a") \
        .join(exact.alias("e"),
              (F.col("a.source_item") == F.col("e.source_item"))
              & (F.col("a.sim_item") == F.col("e.sim_item"))).count()
    nsw_recall = float(nsw_hits) / total if total else 0.0
    return spark.createDataFrame(
        [("ivf_recall", bool(recall >= 0.9), int(total)),
         ("semantic_dedup", bool(sem_ok), int(n_emb)),
         ("pq_recall", bool(pq_recall >= 0.7), int(total)),
         ("opq_recall", bool(opq_recall >= 0.7), int(total)),
         ("ivfpq_recall", bool(ivfpq_recall >= 0.6), int(total)),
         ("nsw_recall", bool(nsw_recall >= 0.9), int(total))],
        "check string, ok boolean, n long")


ORACLE_IVF_RECALL = """
SELECT 'ivf_recall' AS check, TRUE AS ok,
       (SELECT count(*) * 10 FROM embeddings WHERE vec_id < 20) AS n
UNION ALL
SELECT 'semantic_dedup', TRUE, (SELECT count(*) FROM embeddings)
UNION ALL
SELECT 'pq_recall', TRUE,
       (SELECT count(*) * 10 FROM embeddings WHERE vec_id < 20)
UNION ALL
SELECT 'opq_recall', TRUE,
       (SELECT count(*) * 10 FROM embeddings WHERE vec_id < 20)
UNION ALL
SELECT 'ivfpq_recall', TRUE,
       (SELECT count(*) * 10 FROM embeddings WHERE vec_id < 20)
UNION ALL
SELECT 'nsw_recall', TRUE,
       (SELECT count(*) * 10 FROM embeddings WHERE vec_id < 20)
"""


# ===========================================================================
# registry
# ===========================================================================

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    # reference parity (vector search) — the flagship catalyst query is
    # covered inside the strategies composite; its standalone callable
    # stays exported for the driver's entry() smoke check
    "knn_cos_strategies_top5": q_knn_cos_strategies,
    "knn_self_similar": q_knn_self_similar,
    "knn_l2_top5": q_knn_l2_top5,
    "knn_multik_slice": q_multik_rank_filter,
    "knn_matrix_output": q_knn_matrix_output,
    "cal_sim_dot": q_cal_sim,
    "pairwise_metrics": q_pairwise_metrics,
    "vector_norms": q_vector_norms,
    "searcher_text_knn": q_searcher_text_knn,
    "searcher_rerank": q_searcher_rerank,
    # ANN
    "ann_lsh_bucket_top3": q_ann_lsh_bucket,
    "ann_ivf_recall": q_ann_ivf_recall,
    # dedup
    "dedup_exact_keyed": q_dedup_exact,
    "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
    "dedup_minhash_lsh": q_dedup_minhash_lsh,
    "dedup_simhash_fingerprint": q_dedup_simhash,
    "dedup_simhash_pairs": q_dedup_simhash_pairs,
    "dedup_embedding_neardup": q_dedup_embedding_neardup,
    # sampling
    "sample_documents_hash": q_sample_documents_hash,
    "sample_stratified_mixture": q_sample_stratified_mixture,
    "sample_train_test_split": q_sample_train_test_split,
    "sample_pack_token_budget": q_sample_pack_token_budget,
    # text analysis
    "text_token_stats": q_text_token_stats,
    "text_token_percentiles": q_text_token_percentiles,
    "text_quality_scores": q_text_quality,
    "text_language_id": q_text_langid,
    "text_fingerprints": q_text_fingerprints,
    "text_ngram_topk": q_text_ngram_freq,
    # relational / events
    "tpch_q1_pricing": q_tpch_q1_pricing,
    "tpch_q3_shipping": q_tpch_q3_shipping,
    "tpch_q5_local_supplier": q_tpch_q5_local_supplier,
    "top_customers_per_nation": q_top_customers_per_nation,
    "customer_order_stats": q_customer_order_stats,
    "events_hourly_rollup": q_events_hourly_rollup,
    "events_json_props": q_events_json_props,
    "events_sessionize": q_events_sessionize,
    "events_asof_directions": q_events_asof_directions,
    "events_range_join": q_events_range_join,
    "events_distinct_users": q_events_distinct_users,
    "events_streaming_sessionize": q_streaming_sessionize,
    "dedup_clusters": q_dedup_clusters,
    "curate_documents": q_curate_documents,
    "curate_stream": q_curate_stream,
    "tpch_q6_revenue": q_tpch_q6_revenue,
    "tpch_q18_big_orders": q_tpch_q18_big_orders,
    "orders_semi_returns": q_orders_semi_returns,
    "parts_never_ordered": q_parts_never_ordered,
    "lineitem_rollup": q_lineitem_rollup,
    "orders_running_totals": q_orders_running_totals,
    # oracle-less
    "whitening_transform": q_whitening_transform,
}

ORACLES: dict[str, str] = {
    "knn_cos_strategies_top5": ORACLE_KNN_STRATEGIES,
    "knn_self_similar": ORACLE_KNN_SELF,
    "knn_l2_top5": ORACLE_KNN_L2,
    "knn_multik_slice": ORACLE_MULTIK,
    "knn_matrix_output": ORACLE_KNN_MATRIX,
    "cal_sim_dot": ORACLE_CAL_SIM,
    "pairwise_metrics": ORACLE_PAIRWISE,
    "vector_norms": ORACLE_NORMS,
    "searcher_text_knn": ORACLE_SEARCHER_TEXT,
    "searcher_rerank": ORACLE_RERANK,
    "ann_lsh_bucket_top3": ORACLE_LSH_WITH_EVAL,
    "dedup_exact_keyed": ORACLE_DEDUP_EXACT,
    "dedup_ngram_jaccard": ORACLE_NGRAM_JACCARD,
    "dedup_minhash_lsh": ORACLE_MINHASH,
    "dedup_simhash_fingerprint": ORACLE_SIMHASH,
    "dedup_simhash_pairs": ORACLE_SIMHASH_PAIRS,
    "dedup_embedding_neardup": _oracle_emb_neardup_strategies(),
    "sample_documents_hash": ORACLE_SAMPLE_HASH,
    "sample_stratified_mixture": ORACLE_SAMPLE_STRATIFIED,
    "sample_train_test_split": ORACLE_SAMPLE_SPLIT,
    "sample_pack_token_budget": ORACLE_SAMPLE_PACK,
    "text_token_stats": ORACLE_TOKEN_STATS,
    "text_token_percentiles": ORACLE_TOKEN_PERCENTILES,
    "text_quality_scores": ORACLE_QUALITY,
    "text_language_id": _oracle_langid(),
    "text_fingerprints": ORACLE_FINGERPRINTS,
    "text_ngram_topk": ORACLE_NGRAM_FREQ,
    "tpch_q1_pricing": ORACLE_Q1,
    "tpch_q3_shipping": ORACLE_Q3,
    "tpch_q5_local_supplier": ORACLE_Q5,
    "top_customers_per_nation": ORACLE_TOP_CUSTOMERS,
    "customer_order_stats": ORACLE_CUSTOMER_STATS,
    "events_hourly_rollup": ORACLE_HOURLY,
    "events_json_props": ORACLE_JSON,
    "events_sessionize": ORACLE_SESSIONIZE,
    "events_asof_directions": ORACLE_ASOF_DIRECTIONS,
    "events_range_join": ORACLE_RANGE_JOIN,
    "events_distinct_users": ORACLE_DISTINCT_USERS,
    "events_streaming_sessionize": ORACLE_STREAMING_SESSIONIZE,
    "dedup_clusters": ORACLE_DEDUP_CLUSTERS,
    "curate_documents": _oracle_curate_extended(),
    "curate_stream": _oracle_curate_stream(),
    "tpch_q6_revenue": ORACLE_Q6,
    "tpch_q18_big_orders": ORACLE_Q18,
    "orders_semi_returns": ORACLE_SEMI_RETURNS,
    "parts_never_ordered": ORACLE_PARTS_NEVER_ORDERED,
    "lineitem_rollup": ORACLE_ROLLUP,
    "orders_running_totals": ORACLE_RUNNING,
    "whitening_transform": ORACLE_WHITENING,
    "ann_ivf_recall": ORACLE_IVF_RECALL,
}

#: queries with no SQL oracle (driver does a rows-only check)
NO_ORACLE = sorted(set(QUERIES) - set(ORACLES))

#: every gate callable PLUS the per-variant building blocks the composite
#: gates fold together — bench.py and tools/explain_plans.py time/audit
#: the variants individually even though the driver sees one composite
#: row for each family (r3 verdict #2: the registry must hold <= 50
#: driver-checked entries so nothing falls past the driver's cap).
def q_text_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench-only: 256-token windows with 32-token overlap over the
    documents corpus (map-side explode; tested in tests, not driver-gated
    — the registry sits at the driver's 50-row cap)."""
    from faisssearcher_spark.operators.text_analysis import chunk_documents
    docs = load_table(spark, sf_dir, "documents")
    return chunk_documents(docs, max_tokens=256, overlap=32)


def q_events_sessionize_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench-only: the built-in session_window sessionizer (equality vs
    the gated lag+cumsum implementation pinned in tests)."""
    from faisssearcher_spark.operators.events import sessionize_native
    ev = load_table(spark, sf_dir, "events")
    return sessionize_native(ev, gap_minutes=30)


def q_text_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench-only: PII scrub + audit counts over the documents corpus
    (pure codegen'd regex chain — runs at scan speed)."""
    from faisssearcher_spark.operators.privacy import redact_pii
    docs = load_table(spark, sf_dir, "documents")
    return redact_pii(docs)


def q_decontam_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench-only: contamination check of the corpus against a 20-doc
    eval slice (inverted-index n-gram collision join)."""
    from faisssearcher_spark.operators.decontam import contamination_pairs
    docs = load_table_parallel(spark, sf_dir, "documents")
    # the eval slice takes the RAW loader: a limit above the split
    # floor's exchange would pick whichever shuffle blocks land first
    # (nondeterministic, and the plan evaluates the slice subtree twice
    # — the two legs could disagree within one run; review catch)
    ev = (load_table(spark, sf_dir, "documents")
          .limit(20).select("doc_id", "text"))
    return contamination_pairs(docs, ev, n=8)


def q_dedup_lines_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench-only: C4-style corpus-global segment dedup + per-doc
    reassembly over 10-token chunks (the text_fingerprints gate runs the
    same shape; this times it standalone)."""
    from faisssearcher_spark.operators.dedup import dedup_segments
    from faisssearcher_spark.operators.text_analysis import chunk_documents
    docs = load_table(spark, sf_dir, "documents")
    chunks = chunk_documents(docs, max_tokens=10, overlap=0)
    kept = dedup_segments(chunks, id_col="doc_id", pos_col="chunk_idx",
                          seg_col="chunk_text")
    return kept.groupBy("doc_id").agg(
        F.count("*").alias("n_kept"),
        F.md5(F.array_join(F.transform(
            F.array_sort(F.collect_list(F.struct("chunk_idx", "chunk_text"))),
            lambda s: s["chunk_text"]), " ")).alias("dedup_hash"))


def q_sample_cap_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench-only: per-source quota (max 30 docs per source by hash
    rank — WindowGroupLimit-bounded shuffle)."""
    from faisssearcher_spark.operators import sampling
    docs = load_table(spark, sf_dir, "documents")
    return sampling.cap_per_group(docs, group_col="source", cap=30,
                                  key_col="doc_id")


def q_text_token_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench-only: reference-vocabulary fit (src1 slice) + per-doc
    frequency/OOV scoring (the text_token_stats gate columns,
    standalone)."""
    docs = load_table(spark, sf_dir, "documents")
    ref = text_analysis.fit_token_frequencies(
        docs.filter(F.col("source") == "src1"))
    return text_analysis.token_frequency_score(docs, ref)


def q_ann_nsw_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench-only: native NSW graph search end-to-end (per-shard greedy
    graph build inside mapInPandas + beam-search answering for 20
    queries + global window merge, operators/graph.py); the
    ann_ivf_recall gate carries the recall-contract twin."""
    from faisssearcher_spark.operators.graph import nsw_topk

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"), "embedding")
    import os as _os

    return nsw_topk(q, emb, k=10, m=12, ef_construction=48, ef_search=96,
                    n_shards=int(_os.environ.get("SPARK_GRAFT_CPUS", "32")),
                    query_item_col="qid", item_key_col="vec_id")


def _bm25_docs(spark: SparkSession, sf_dir: str, docs: DataFrame):
    """The ONE session-memoized BM25 fit over documents — every bench
    leg that searches it goes through here, so the memo key and the fit
    parameters cannot diverge by call site (review catch: three hand-
    synchronized builders under one key)."""
    from faisssearcher_spark.operators.bm25 import BM25Index

    return BENCH_MEMO.get(_memo_key(spark, sf_dir, "bm25_docs"),
                          lambda: BM25Index().fit(docs, id_col="doc_id",
                                                  text_col="text"))


def q_ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench-only: PQ16 ADC search end-to-end (driver Lloyd codebooks +
    one encode pass + distributed LUT-gather top-10 for 20 queries); the
    ann_ivf_recall gate carries the recall-contract twin. Fit memoized
    per session (train-once/search-many, BENCH_MEMO)."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"), "embedding")
    pq = BENCH_MEMO.get(
        _memo_key(spark, sf_dir, "pq16"),
        lambda: ann.PQIndex(m=16, metric="cos", seed=42)
        .fit(emb, item_key_col="vec_id", item_vec_col="embedding"))
    return pq.search(q, k=10, query_item_col="qid",
                     payload_cols=["label"])


def q_ann_b1_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench-only: binary-quantization search (1-bit sign codes +
    XOR/popcount Hamming prefilter + exact rerank of the 8x shortlist);
    the vector_norms gate value-checks the codec bit-for-bit and
    tests/test_vector_b1.py pins recall vs the exact searcher."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"), "embedding")
    return ann.b1_rerank_topk(q, emb, k=10, factor=8, metric="cos",
                              query_item_col="qid", item_key_col="vec_id")


def q_ann_mrl_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench-only: Matryoshka two-stage search (renormalized first-32
    prefix scan + exact full-width rerank of the 8x shortlist); the
    vector_norms gate value-checks the truncation and
    tests/test_mrl.py pins recall vs the exact searcher."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"), "embedding")
    return ann.mrl_rerank_topk(q, emb, k=10, dims=32, factor=8,
                               metric="cos", query_item_col="qid",
                               item_key_col="vec_id")


def q_ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench-only: IVF16,PQ16 residual ADC end-to-end (k-means cells +
    residual codebooks + one probed-cell scan of the code table scoring
    q·c + the LUT gather, then the rank window); the ann_ivf_recall gate
    carries the recall-contract twin."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"), "embedding")
    idx = BENCH_MEMO.get(
        _memo_key(spark, sf_dir, "ivf16pq16"),
        lambda: ann.IVFPQIndex(n_cells=16, nprobe=8, m=16, metric="cos",
                               seed=42, kmeans_max_iter=8)
        .fit(emb, item_key_col="vec_id", item_vec_col="embedding"))
    return idx.search(q, k=10, query_item_col="qid",
                      payload_cols=["label"])


def q_ann_opq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench-only: OPQ16,PQ16 — the OPQ-NP rotation alternation (Ge et
    al. 2013) on the training sample, then rotated ADC search; the
    rotation rides the encode pandas_udf, so the distributed plan is
    byte-identical to plain PQ."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"), "embedding")
    pq = BENCH_MEMO.get(
        _memo_key(spark, sf_dir, "opq16"),
        lambda: ann.PQIndex(m=16, metric="cos", seed=42, opq=True,
                            opq_iters=6)
        .fit(emb, item_key_col="vec_id", item_vec_col="embedding"))
    return pq.search(q, k=10, query_item_col="qid",
                     payload_cols=["label"])


def q_ann_sq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench-only: SQ8 scalar-quantized search end-to-end (bounds fit +
    encode pass + decode-and-GEMM top-10 for 20 queries)."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"), "embedding")
    sq = BENCH_MEMO.get(
        _memo_key(spark, sf_dir, "sq8"),
        lambda: ann.SQIndex(nbits=8, metric="cos")
        .fit(emb, item_key_col="vec_id", item_vec_col="embedding"))
    return sq.search(q, k=10, query_item_col="qid",
                     payload_cols=["label"])


def q_text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench-only: BM25 end-to-end — inverted-postings fit over the
    corpus (two aggs + one join, partial scores precomputed) and a
    20-query top-10 search (explode → postings equi-join → sum → rank
    window). The searcher_text_knn gate carries the oracle-checked twin
    (bm25 + rrf tag-union legs)."""
    from faisssearcher_spark.operators.bm25 import BM25Index

    docs = load_table_parallel(spark, sf_dir, "documents")
    bm = _bm25_docs(spark, sf_dir, docs)
    q = docs.filter(F.col("doc_id") < 20).select(
        F.col("doc_id").alias("qid"), "text")
    return bm.search(q, k=10, query_item_col="qid",
                     payload_cols=["lang"])


def q_mine_bitext(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench-only: margin-based bitext mining end-to-end over the full
    embeddings corpus (evens = source, odds = target): two strategy-
    dispatched knn passes, neighborhood averages, candidate union,
    best-per-src margin mining. The pairwise_metrics gate carries the
    oracle-checked twin (bitext_tgt/bitext_margin columns)."""
    from faisssearcher_spark.operators.bitext import mine_bitext

    emb = load_table(spark, sf_dir, "embeddings")
    src = emb.filter(F.col("vec_id") % 2 == 0).select(
        F.col("vec_id").alias("src_id"), "embedding")
    tgt = emb.filter(F.col("vec_id") % 2 == 1).select(
        F.col("vec_id").alias("tgt_id"), "embedding")
    # mining is all-pairs-dense on BOTH sides (every row is a query) —
    # the blocked GEMM kernel, not the broadcast-query catalyst plan
    # whose interpreted per-pair cosine measured ~5x slower here
    return mine_bitext(src, tgt, k=4, threshold=1.0, score_scale=4,
                       strategy="blocked")


def q_text_unigram_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench-only: unigram-LM tokenizer end-to-end — EM training over
    the Zipf-small word-type table (driver, bounded like BPE's merge
    loop) + full-corpus Viterbi encode + exact subword token counts
    (operators/unigram.py). The text_token_stats gate carries the
    oracle-checked encode twin over the frozen piece table."""
    from faisssearcher_spark.operators.unigram import UnigramTokenizer

    docs = load_table(spark, sf_dir, "documents")
    tok = UnigramTokenizer.train(docs, vocab_size=64, max_piece_len=6)
    return tok.token_counts(docs)


def q_text_wordpiece_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench-only: WordPiece tokenizer end-to-end — likelihood-scored
    merge training over the Zipf-small word-type table (driver, bounded
    like BPE's merge loop) + full-corpus greedy longest-match encode +
    exact subword token counts (operators/wordpiece.py). The
    text_token_stats gate carries the oracle-checked encode twin over
    the frozen vocabulary."""
    from faisssearcher_spark.operators.wordpiece import WordPieceTokenizer

    docs = load_table(spark, sf_dir, "documents")
    tok = WordPieceTokenizer.train(docs, n_merges=64)
    return tok.token_counts(docs)


def q_text_maxsim_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench-only: the two-stage late-interaction pipeline — BM25 top-10
    first stage over the corpus, then MaxSim token-level rerank of the
    candidate set to top-3 (operators/maxsim.py; one broadcast-vocab
    encode, |Q|·|D| interaction bounded by the candidate set). The
    searcher_rerank gate carries the oracle-checked maxsim twin."""
    from faisssearcher_spark.operators.bm25 import BM25Index
    from faisssearcher_spark.operators.maxsim import maxsim_rerank

    docs = load_table_parallel(spark, sf_dir, "documents")
    bm = _bm25_docs(spark, sf_dir, docs)
    q = docs.filter(F.col("doc_id") < 20).select(
        F.col("doc_id").alias("qid"), "text")
    raw = bm.search(q, k=10, query_item_col="qid")
    qside = docs.select(F.col("doc_id").alias("source_item"),
                        F.col("text").alias("q_text"))
    dside = docs.select(F.col("doc_id").alias("sim_item"),
                        F.col("text").alias("cand_text"))
    with_text = raw.select("source_item", "sim_item") \
        .join(qside, "source_item").join(dside, "sim_item")
    # maxsim references its candidate frame from several subplans — land
    # the ≤200-row first stage as literals so BM25 retrieval executes
    # exactly once (the _landed discipline; see operators/maxsim.py)
    cands = spark.createDataFrame(with_text.collect(), with_text.schema)
    # rank per QUERY ID, not per query text: texts are not guaranteed
    # unique at every sf, and a shared-text window would merge two
    # queries' candidate pools into one k-cut
    return maxsim_rerank(cands, query_col="q_text", cand_col="cand_text",
                         k=3, score_scale=4,
                         partition_cols=["source_item"]) \
        .select("source_item", "sim_item", "maxsim_score", "rank_no")


def q_text_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench-only: the GPT-3 quality-filter pipeline end-to-end — train
    bag-of-words logistic regression (src1 slice = trusted reference,
    rest = raw pool; MLlib CountVectorizer + LogisticRegression), score
    the whole corpus RELATIONALLY (token-weight join + sigmoid, no
    Python), apply the Pareto keep rule. On this synthetic corpus the
    two classes share one token distribution, so scores sit at the class
    prior and the Pareto tail keeps ~0.2% — the MECHANICS are the bench
    subject; separation quality is pinned on separable corpora in
    tests/test_classifier.py."""
    from faisssearcher_spark.operators.classifier import (
        fit_quality_classifier, pareto_keep)

    docs = load_table(spark, sf_dir, "documents")
    pos = docs.filter(F.col("source") == "src1")
    neg = docs.filter(F.col("source") != "src1")
    qc = fit_quality_classifier(pos, neg, max_iter=20)
    return pareto_keep(qc.score(docs), key_col="doc_id")


def q_text_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench-only: bounded-shuffle heavy hitters over the exploded token
    stream (operators/sketches.heavy_hitters) — candidates from a
    per-Arrow-batch local top-m mapInPandas scan, exact counts for the
    broadcast candidate set only. Equality with the exact groupBy top-k
    is pinned in tests/test_sketches.py."""
    from faisssearcher_spark.operators import sketches

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode_outer(T.tokens("text")).alias("tok")) \
        .filter(F.col("tok").isNotNull())
    return sketches.heavy_hitters(toks, "tok", k=20)


def q_events_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench-only: the store-fine/roll-up-coarse HLL pattern — per
    (event_type, day) DataSketches sketches, unioned to per-type distinct
    estimates (operators/sketches.hll_rollup). Accuracy and merge
    invariants are gated on events_distinct_users."""
    from faisssearcher_spark.operators import sketches

    ev = load_table(spark, sf_dir, "events")
    daily = sketches.hll_sketches(
        ev.withColumn("day", F.to_date("ts")), ["event_type", "day"],
        "user_id")
    return sketches.hll_rollup(daily, ["event_type"])


def q_events_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench-only: daily grid resample with forward-fill per user
    (operators/events.resample_fill_forward) — per-(key,bucket) agg,
    sequence-explode dense grid, co-located left join, last(ignorenulls)
    window. Parity with a Python reference is pinned in tests."""
    from faisssearcher_spark.operators.events import resample_fill_forward

    ev = load_table(spark, sf_dir, "events")
    return resample_fill_forward(ev, step_s=86400)


def q_pipeline_pretrain_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench-only: the COMPLETE pretraining-prep composition
    (``prepare_pretraining_data``) — heuristics + exact/near dedup →
    perplexity head/middle keep → classifier + Pareto keep → eval
    decontamination → chunking → token-budget packing. Every
    SQL-expressible stage is oracle-gated on its own. alpha=2 because
    the synthetic classes are indistinguishable (see
    text_quality_classifier).

    The curate stage lands once per session (``BENCH_MEMO`` — the
    landing-table shape a production pipeline materializes once and
    runs prep epochs over; curate_documents prices that stage as its
    own bench leg): the memoized frame passes in via ``curated=``, so
    cold prices curate + prep, warm/iso price the prep epoch."""
    from faisssearcher_spark.operators.curate import (
        curate_documents, prepare_pretraining_data)

    docs = load_table(spark, sf_dir, "documents")

    def _land():
        cur = curate_documents(docs.select("doc_id", "text"),
                               keep_text=True)
        return LandedFrame(cur.select("doc_id", "text"), holds=(cur,))

    landing = BENCH_MEMO.get(
        _memo_key(spark, sf_dir, "curated_landing"), _land)
    ref = docs.filter(F.col("source") == "src1").select("doc_id", "text")
    ev = docs.orderBy("doc_id").limit(50).select("doc_id", "text")
    return prepare_pretraining_data(
        docs.select("doc_id", "text"), reference=ref, eval_docs=ev,
        curated=landing.df,
        classifier_alpha=2.0, classifier_max_iter=10,
        ppl_thresholds="fit",
        chunk_max_tokens=256, pack_budget=2048)


def q_layout_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench-only: Z-order layout job over lineitem on (l_orderkey,
    l_partkey) — the OPTIMIZE ZORDER maintenance shape: one
    approxQuantile sketch pass, one codegen'd key projection, one
    range shuffle + in-partition sort. File-span shrinkage itself is
    pinned from real parquet footers in tests/test_layout.py."""
    from faisssearcher_spark.operators import layout

    li = load_table(spark, sf_dir, "lineitem")
    return layout.zorder_layout(li, ["l_orderkey", "l_partkey"],
                                n_files=32, bits=6)


def q_layout_hilbert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench-only: Hilbert-curve layout job over lineitem on the same
    (l_orderkey, l_partkey) pair as layout_zorder — one sketch pass,
    bits Generate-barrier key steps (pure Catalyst), one range shuffle.
    Key parity with the reference walk and the smaller-per-file-span
    claim vs Z-order are pinned from real parquet footers in
    tests/test_layout.py."""
    from faisssearcher_spark.operators import layout

    # split floor: the Hilbert walk's Generate barriers are the heavy
    # map work (zorder's codegen'd integer key measured a wash and
    # stays raw) — r13: 5.7 -> 3.4 s
    li = load_table_parallel(spark, sf_dir, "lineitem")
    return layout.hilbert_layout(li, ["l_orderkey", "l_partkey"],
                                 n_files=32, bits=6)


def q_text_bpe_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench-only: REAL-tokenizer packing — train a 200-merge BPE on the
    corpus (distributed word counts, driver merges on the Zipf-small
    type table), count exact subword tokens per doc, and pack into
    2048-token training bins (the chars/4 heuristic this replaces
    drifts 2x+ across languages)."""
    from faisssearcher_spark.operators import sampling
    from faisssearcher_spark.operators.bpe import BPETokenizer
    docs = load_table(spark, sf_dir, "documents")
    tok = BPETokenizer.train(docs, n_merges=200)
    counts = tok.token_counts(docs)
    return sampling.pack_token_budget(counts, budget=2048,
                                      size_col="n_bpe_tokens",
                                      key_col="doc_id")


def q_sample_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench-only: DSIR end-to-end — unigram importance weights
    (target = src1 slice, raw = corpus) + Gumbel-top-k draw of 100 docs
    ∝ exp(logw); the text_token_stats gate carries the hash-checked
    dsir_logw twin."""
    from faisssearcher_spark.operators.curate import (_release_on_error,
                                                      _release_with)
    from faisssearcher_spark.operators.sampling import gumbel_topk_sample
    docs = load_table(spark, sf_dir, "documents")
    ref = text_analysis.fit_token_frequencies(
        docs.filter(F.col("source") == "src1"))
    raw_ref = text_analysis.fit_token_frequencies(docs)
    # landed: the union vocab (two LM fits) executes twice per
    # invocation otherwise (normalizer collect + scoring join side);
    # error guard per the q_text_quality note
    landed: list = []
    with _release_on_error(landed):
        w = text_analysis.dsir_log_weights(docs, ref, raw_ref,
                                           landed=landed)
        out = gumbel_topk_sample(w, k=100, weight_col="logw",
                                 key_col="doc_id")
    return _release_with(out, landed)


def q_dedup_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench-only: the corpus duplication spectrum
    (dedup.duplication_profile) at the doubling probe lengths — one
    tokenize pass, |lengths| window aggregations + equi-joins +
    gaps-and-islands merges unioned into one plan. The oracle-checked
    twin rides the dedup_simhash_pairs gate ('profile_*' legs)."""
    docs = load_table_parallel(spark, sf_dir, "documents")
    return dedup.duplication_profile(docs,
                                     lengths=(1, 2, 4, 8, 16, 32))


def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench-only: SemDeDup end-to-end (k-means fit + within-cell pairs
    + components + anti-join) on the embeddings corpus; the
    ann_ivf_recall gate carries its boolean-invariant twin. n_cells
    follows the SemDeDup sizing discipline (grow cells with the corpus
    so within-cell pair work stays bounded): 32 at the bench sf0.1
    (~150 rows/cell) vs 8 at the sf0.01 gate."""
    from faisssearcher_spark.operators.dedup import semantic_dedup
    emb = load_table(spark, sf_dir, "embeddings")
    return semantic_dedup(emb, threshold=0.35, n_cells=32, seed=42)


def q_dedup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench-only: Lee et al. ExactSubstr duplicate-span removal over
    sliding 10-token windows (the text_fingerprints gate carries the
    hash-checked twin; this times the full operator standalone)."""
    from faisssearcher_spark.operators.dedup import remove_duplicate_spans
    docs = load_table(spark, sf_dir, "documents")
    return remove_duplicate_spans(docs, n=10)


def q_text_cms_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench-only: the streamed count-min arc under its own name (the
    store-arc pricing discipline) — trigram re-land as 4 files, the
    multi-epoch cms_sketch_sink replay, the state read and the top-20
    point-query, timed fresh on every invocation (refreshes the gate
    memo so text_ngram_topk's cold number prices only its
    declarative legs)."""
    from faisssearcher_spark.operators import sketches
    from faisssearcher_spark.streaming.sketches import read_sketch_state

    docs = load_table_parallel(spark, sf_dir, "documents")
    grams = (docs.select(F.explode_outer(T.word_ngrams("text", 3))
                         .alias("ngram"))
             .filter(F.col("ngram").isNotNull()))
    state = BENCH_MEMO.refresh(_memo_key(spark, sf_dir, "cms_stream"),
                               lambda: _cms_stream_state(spark, grams))
    # top-20 from the landed gram files, not a second tokenize+explode
    # of the corpus (same multiset — see _cms_landed_grams)
    landed = _cms_landed_grams(spark, state)
    top = _landed_top_ngrams(landed)
    scms = read_sketch_state(spark, state)
    return (sketches.cms_lookup(scms, top, "ngram", depth=4, width=512,
                                out_col="cms_est_streamed")
            .orderBy(F.col("freq").desc(), F.col("ngram").asc()))


def q_dedup_exsub_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench-only: arbitrary-length ExactSubstr removal (keep='none')
    over 10-token minimum matches (the text_fingerprints gate carries
    the hash-checked twin at min_len=8; this times the full operator —
    window agg + recovery join + gaps-and-islands merge + rebuild —
    standalone)."""
    from faisssearcher_spark.operators.dedup import remove_exact_substrings
    docs = load_table(spark, sf_dir, "documents")
    return remove_exact_substrings(docs, min_len=10)


def q_dedup_bloom_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench-only: Bloom incremental-ingest screen on the FAST path
    (xxhash64): fit on the src1 keys (eager — includes the bitmap
    collect), then filter the whole corpus to definitely-new rows."""
    from faisssearcher_spark.operators.bloom import fit_bloom
    docs = load_table(spark, sf_dir, "documents")
    bf = fit_bloom(docs.filter(F.col("source") == "src1"),
                   key_col="doc_id", fpp=0.01)
    return bf.filter_new(docs, "doc_id").select("doc_id", "lang", "source")


def q_dedup_incremental_screen(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Bench-only: the MinHashStore commit→screen arc under its own name
    (r6 verdict #7) — two signature passes, the parquet state write, the
    banded screen join, and the bounded hit collect, timed fresh on
    every invocation (refreshes the gate memo). Ordered before
    dedup_minhash_lsh in BENCH_QUERIES, so that gate's cold number
    prices only its declarative legs while the arc's real cost stays
    visible here."""
    return _mh_leg_df(spark, BENCH_MEMO.refresh(
        _memo_key(spark, sf_dir, "mh_incremental"),
        lambda: _incremental_arc_rows(spark, sf_dir)))


def q_dedup_upsert_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench-only: the MinHashStore MERGE arc under its own name (the
    store-arc pricing discipline) — commit with planted wrong
    vintages, keyed upsert (full-state rewrite + atomic pointer swap),
    compact (second rewrite), screen; timed fresh on every invocation
    (refreshes the gate memo). Prices the maintenance path the three
    stores share, so the append-only dedup_incremental_screen number
    stays comparable across rounds."""
    return _mh_leg_df(spark, BENCH_MEMO.refresh(
        _memo_key(spark, sf_dir, "mh_upsert"),
        lambda: _upsert_arc_rows(spark, sf_dir)))


def q_dedup_fpstore_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench-only: the FingerprintStore commit→screen arc under its own
    name (the store-arc pricing discipline) — simhash pass, banded
    state write, band equi-join screen with popcount verify, timed
    fresh on every invocation (refreshes the gate memo)."""
    rows = BENCH_MEMO.refresh(_memo_key(spark, sf_dir, "fpstore"),
                              lambda: _fpstore_arc_rows(spark, sf_dir))
    schema = "leg string, id_a long, id_b long, hamming int"
    return (spark.createDataFrame(rows, schema) if rows
            else spark.createDataFrame([], schema))


def q_dedup_estore_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench-only: the EmbeddingStore commit→screen arc under its own
    name (the r6 verdict #7 pricing discipline, applied to the r8
    'estore' gate leg) — bucket+f16 encode pass, parquet state write,
    bucket equi-join screen with f16 decode + cosine verify, timed
    fresh on every invocation. It runs corpus-SIZED bucket bits, so it
    never touches the gate leg's fixed-parameter memo (the gate query
    dedup_embedding_neardup is driver-side, not in BENCH_QUERIES).

    Bucket bits are sized from the corpus (expected occupancy ~8 per
    bucket per table — the standard LSH discipline the scale sweep
    measures; the gate's FIXED 16×4 parameterization is tuned to the
    sf0.01 oracle corpus and would degenerate to ~n²/16 candidates
    through the interpreted f16-decode cosine at larger sf: measured
    19 s at sf0.1 fixed vs ~2 s sized)."""
    import math

    from faisssearcher_spark.sources.catalog import table_num_rows

    # sizing only needs the corpus row count — the parquet footers hold
    # it exactly, no distributed count() job (guide §5: keep metadata
    # work off the cluster)
    n = table_num_rows(spark, sf_dir, "embeddings")
    bits = min(8, max(4, math.ceil(math.log2(max(n, 2) / 8))))
    tables = min(ESTORE_TABLES, 64 // bits)   # axis mode: tables*bits<=dim
    rows = _estore_arc_rows(spark, sf_dir, tables=tables, bits=bits)
    schema = "strategy string, id_a long, id_b long, cos_sim double"
    return (spark.createDataFrame(rows, schema) if rows
            else spark.createDataFrame([], schema))


ALL_QUERY_FNS: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    **QUERIES,
    "retrieval_eval": q_retrieval_eval,
    "dedup_incremental_screen": q_dedup_incremental_screen,
    "dedup_upsert_screen": q_dedup_upsert_screen,
    "dedup_estore_screen": q_dedup_estore_screen,
    "dedup_fpstore_screen": q_dedup_fpstore_screen,
    "knn_blocked_cos_top5": q_knn_blocked_cos_top5,
    "knn_sharded_cos_top5": q_knn_sharded_cos_top5,
    "knn_grid_cos_top5": q_knn_grid_cos_top5,
    "dedup_embedding_cosine": q_dedup_embedding_cosine,
    "dedup_embedding_lsh": q_dedup_embedding_lsh,
    "events_asof_join": q_events_asof_join,
    "events_asof_forward": q_events_asof_forward,
    "knn_cosine_top5": q_knn_cosine_top5,
    "text_chunk_documents": q_text_chunk_documents,
    "events_sessionize_native": q_events_sessionize_native,
    "text_redact_pii": q_text_redact_pii,
    "decontam_pairs": q_decontam_pairs,
    "dedup_lines_global": q_dedup_lines_global,
    "sample_cap_per_group": q_sample_cap_per_group,
    "text_token_frequency": q_text_token_frequency,
    "dedup_bloom_screen": q_dedup_bloom_screen,
    "dedup_span_removal": q_dedup_span_removal,
    "dedup_exsub_removal": q_dedup_exsub_removal,
    "text_cms_stream": q_text_cms_stream,
    "dedup_semantic": q_dedup_semantic,
    "dedup_profile": q_dedup_profile,
    "sample_dsir": q_sample_dsir,
    "ann_nsw_topk": q_ann_nsw_topk,
    "ann_pq_topk": q_ann_pq_topk,
    "ann_b1_topk": q_ann_b1_topk,
    "ann_mrl_topk": q_ann_mrl_topk,
    "ann_ivfpq_topk": q_ann_ivfpq_topk,
    "ann_opq_topk": q_ann_opq_topk,
    "ann_sq_topk": q_ann_sq_topk,
    "text_bpe_pack": q_text_bpe_pack,
    "layout_zorder": q_layout_zorder,
    "layout_hilbert": q_layout_hilbert,
    "text_quality_classifier": q_text_quality_classifier,
    "text_bm25_topk": q_text_bm25_topk,
    "text_maxsim_rerank": q_text_maxsim_rerank,
    "text_unigram_encode": q_text_unigram_encode,
    "text_wordpiece_encode": q_text_wordpiece_encode,
    "mine_bitext": q_mine_bitext,
    "pipeline_pretrain_prep": q_pipeline_pretrain_prep,
    "text_heavy_hitters": q_text_heavy_hitters,
    "events_hll_rollup": q_events_hll_rollup,
    "events_resample": q_events_resample,
}
