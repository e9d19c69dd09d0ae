"""Tests of the benchmark's own parts: the seeded generator, the numpy
oracle, operation accounting and the event-log reader.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import filecmp
import os
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import gen  # noqa: E402
import oracle  # noqa: E402
import spans  # noqa: E402
from workloads import Workload  # noqa: E402


def _files(root):
    return sorted(os.path.relpath(os.path.join(d, f), root)
                  for d, _, fs in os.walk(root) for f in fs)


@pytest.mark.parametrize("workload", sorted(gen.GENERATORS))
def test_same_seed_gives_identical_parquet(tmp_path, workload):
    a, b, c = (str(tmp_path / n) for n in "abc")
    gen.generate(workload, 7, a)
    gen.generate(workload, 7, b)
    gen.generate(workload, 8, c)
    names = _files(a)
    assert names and names == _files(b) == _files(c)
    match, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    assert match == names and not mismatch and not errors
    _, differ, _ = filecmp.cmpfiles(a, c, names, shallow=False)
    assert differ == names


def test_planted_near_duplicates_are_near():
    rng = np.random.default_rng(0)
    centers = gen.unit_centers(rng, 4, gen.DIM)
    base = gen.mixture(rng, 50, centers)
    assert oracle.cosine(base, gen.near(rng, base)).min() > 0.99
    assert oracle.cosine(base[:25], base[25:]).max() < 0.9


def _corrupt_cases(keys, scores, worst_key):
    good = [list(zip(keys[0], scores[0]))]
    swapped = [good[0][:-1] + [(worst_key, good[0][-1][1])]]
    short = [good[0][:-1]]
    wrong_score = [[(good[0][0][0], good[0][0][1] + 1e-3)] + good[0][1:]]
    return good, [swapped, short, wrong_score]


def test_oracle_flags_corrupted_results():
    rng = np.random.default_rng(1)
    corpus = rng.standard_normal((40, 8)).astype(np.float32)
    top = oracle.TopK(corpus, np.arange(40), k=5)
    q = corpus[:1] + 0.01
    keys, scores = top.top(q)
    worst = int(np.argmin(top.scores(q)[0]))
    good, corrupted = _corrupt_cases(keys.tolist(), scores.tolist(), worst)
    assert top.check(q, good, exact=True) == (1.0, [])
    wl = Workload(None, spans.Tracer(False), "", "")
    wl.record("search", top.check(q, good, exact=True)[1])
    for bad in corrupted:
        wl.record("search", top.check(q, bad, exact=True)[1])
    assert (wl.attempted, wl.failed) == (4, 3)


def test_screen_check_counts_planted_pairs():
    rng = np.random.default_rng(2)
    known = {i: v for i, v in enumerate(rng.standard_normal((4, 8)).astype(np.float32))}
    new = {10: known[1] + 1e-3, 11: -known[2]}
    sim = float(oracle.cosine(new[10][None], known[1].astype(np.float16)[None])[0])
    recall, problems = oracle.check_screen([(10, 1, sim)], new, known,
                                           {(10, 1)}, 0.9)
    assert (recall, problems) == (1.0, [])
    recall, problems = oracle.check_screen([(11, 2, 0.95)], new, known,
                                           {(10, 1)}, 0.9)
    assert recall == 0.0 and problems


@pytest.fixture(scope="module")
def spark_env(tmp_path_factory):
    root = tmp_path_factory.mktemp("spark")
    os.environ.update(SPARK_GRAFT_CPUS="2", SPARK_DRIVER_MEMORY="1g",
                      SPARK_LOCAL_DIRS=str(root / "local"))
    from faisssearcher_spark.session import get_spark

    spark = get_spark("perfbench-tests")
    spark.sparkContext.setLogLevel("ERROR")
    yield spark, root
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()


def test_oracle_agrees_with_knn_join(spark_env):
    from faisssearcher_spark import knn_join

    spark, _ = spark_env
    rng = np.random.default_rng(3)
    corpus = rng.standard_normal((60, 8)).astype(np.float32)
    corpus[30:40] = corpus[:10]          # exact ties, broken by key
    keys = np.arange(60) * 7 % 61        # keys not in row order
    queries = np.concatenate([corpus[:4] + 0.05,
                              rng.standard_normal((4, 8))]).astype(np.float32)
    norm_c, norm_q = oracle.normalize32(corpus), oracle.normalize32(queries)
    items = spark.createDataFrame(
        [(int(k), v.tolist()) for k, v in zip(keys, norm_c)],
        "key long, vec array<float>")
    qdf = spark.createDataFrame(
        [(int(i), v.tolist()) for i, v in enumerate(norm_q)],
        "qid long, vec array<float>")
    rows = knn_join(qdf, items, metric="ip", k=5, query_vec_col="vec",
                    item_vec_col="vec", query_item_col="qid",
                    item_key_col="key", normalize=False).collect()
    got = {}
    for r in sorted(rows, key=lambda r: (r["source_item"], r["rank_no"])):
        got.setdefault(r["source_item"], []).append((r["sim_item"], r["sim_val"]))
    top = oracle.TopK(corpus, keys, k=5)
    want_keys, want_scores = top.top(queries)
    for qi in range(len(queries)):
        assert [k for k, _ in got[qi]] == want_keys[qi].tolist()
        np.testing.assert_allclose([s for _, s in got[qi]], want_scores[qi],
                                   atol=1e-12)
    recall, problems = top.check(queries, [got[i] for i in range(len(queries))],
                                 exact=True)
    assert (recall, problems) == (1.0, [])


def test_event_log_reader_matches_status_tracker(spark_env):
    from faisssearcher_spark.session import get_spark
    from pyspark import SparkContext

    spark, root = spark_env
    log_dir = str(root / "events")
    os.makedirs(log_dir)
    spark.stop()
    spans.enable_event_log(SparkContext._jvm, log_dir)
    try:
        spark = get_spark("perfbench-tests")
    finally:
        spans.enable_event_log(SparkContext._jvm, log_dir, on=False)
    sc = spark.sparkContext
    tracer = spans.Tracer(True)
    tracer.bind(sc)
    with tracer.span("knn", "shuffle"):
        spark.range(1000, numPartitions=4).repartition(3).count()
    with tracer.span("ann", "scan"):
        spark.range(100, numPartitions=2).collect()
    st = sc.statusTracker()
    expect = {}
    for sp in tracer.spans:
        ids = sorted(st.getJobIdsForGroup(f"{spans.GROUP_PREFIX}{sp.id}"))
        # a stage a later job reuses is listed by both jobs but ran once
        stages = {sid for jid in ids for sid in st.getJobInfo(jid).stageIds}
        infos = [st.getStageInfo(sid) for sid in stages]
        expect[sp.id] = (ids, sum(i.numCompletedTasks for i in infos if i))
    spark.stop()

    jobs = spans.read_event_log(log_dir)
    by_span = spans.attribute(tracer.spans, jobs)
    for sp in tracer.spans:
        ids, tasks = expect[sp.id]
        assert ids and sorted(j.id for j in by_span[sp.id]) == ids
        assert sum(j.tasks for j in by_span[sp.id]) == tasks
    shuffled, scanned = (by_span[sp.id] for sp in tracer.spans)
    read = sum(j.shuffle_read for j in shuffled)
    assert read > 0 and read == sum(j.shuffle_write for j in shuffled)
    assert sum(j.shuffle_read + j.shuffle_write for j in scanned) == 0
    m = spans.layer_metrics(tracer.spans, jobs)
    assert m["knn.jobs"] == len(expect[0][0]) and m["ann.tasks"] == expect[1][1]
    assert m["knn.shuffle_write_mb"] > 0 and m["ann.shuffle_write_mb"] == 0
    assert 0 <= m["knn.driver_s"] <= m["knn.wall_s"]
