"""bench.py's stdout line: the per-query map must survive the size cap."""

import importlib.util
import json
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _bench():
    spec = importlib.util.spec_from_file_location(
        "bench", os.path.join(REPO, "bench.py"))
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def test_compact_line_keeps_every_leg():
    with open(os.path.join(REPO, "BENCH_DETAIL.json")) as fh:
        detail = json.load(fh)
    line = _bench().compact_line(detail)
    assert len(line) <= 1900
    compact = json.loads(line)
    assert set(compact["queries"]) == set(detail["queries"])
    assert len(compact["queries"]) == 68
    assert compact["value"] == detail["value"]


def test_persistent_rdds_counts_cached_frames(spark):
    # the clean-exit record bench.py writes after its final memo close
    persistent_rdds = _bench().persistent_rdds
    sc = spark.sparkContext
    before = persistent_rdds(sc)
    df = spark.range(10)
    df.createOrReplaceTempView("bench_exit_probe")
    spark.catalog.cacheTable("bench_exit_probe")
    df.count()
    cached = persistent_rdds(sc)
    assert cached["count"] == before["count"] + 1
    assert "In-memory table bench_exit_probe" in cached["names"]
    df.unpersist(blocking=True)
    assert persistent_rdds(sc) == before
