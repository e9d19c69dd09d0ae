"""An IVF, PQ, SQ or IVF-PQ index within the hold bound keeps a copy of
its coded table on the driver (ann._CodedIndex._held), taken by its
first search that can use it, and ranks a search there
(knn.driver_scan): the same rows as its Spark scan, and no Spark job to
build or read the result."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from faisssearcher_spark import SparkSearcher
from faisssearcher_spark.encoders import HashingEncoder
from faisssearcher_spark.operators import knn
from faisssearcher_spark.operators.ann import (IVFIndex, IVFPQIndex, PQIndex,
                                               SQIndex)
from faisssearcher_spark.plans import inspect


def _indexes():
    return {
        "ivf": lambda: IVFIndex(n_cells=8, nprobe=3, seed=5,
                                train_mode="sample"),
        "ivf-l2": lambda: IVFIndex(n_cells=8, nprobe=3, seed=5, metric="l2",
                                   train_mode="sample"),
        "pq": lambda: PQIndex(m=8, seed=5),
        "sq": lambda: SQIndex(nbits=8),
        "ivfpq": lambda: IVFPQIndex(n_cells=8, nprobe=3, m=8, seed=5),
    }


def _rows(df):
    """Every result row, ``sim_val`` by its bits."""
    return sorted(tuple(v.hex() if isinstance(v, float) else v for v in r)
                  for r in df.collect())


def _jobs(spark) -> set:
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return set(sc.statusTracker().getJobIdsForGroup(None))


def _no_collect(*args, **kwargs):
    raise AssertionError("the driver copy was collected")


def _queries(embeddings):
    return embeddings.filter(F.col("vec_id") < 12).select(
        F.col("vec_id").alias("qid"), "embedding")


def _driver_and_scan(idx, q, monkeypatch, **kw):
    """The rows of one search ranked on the driver and of the same search
    forced through the scan by a cap no search fits."""
    driver = idx.search(q, query_item_col="qid", **kw)
    assert "LocalTableScan" in inspect.executed_plan(driver)
    with monkeypatch.context() as m:
        m.setattr(knn, "DRIVER_RANK_CAP_BYTES", -1)
        scan = idx.search(q, query_item_col="qid", **kw)
    assert "MapInPandas" in inspect.executed_plan(scan)
    assert driver.schema == scan.schema
    return _rows(driver), _rows(scan)


class TestDriverRouteParity:
    @pytest.mark.parametrize("payload", [[], ["label"]],
                             ids=["bare", "payload"])
    @pytest.mark.parametrize("parts", [1, 7])
    @pytest.mark.parametrize("name", list(_indexes()))
    def test_driver_rows_equal_scan_rows(self, embeddings, monkeypatch,
                                         name, parts, payload):
        items = (embeddings.coalesce(1) if parts == 1
                 else embeddings.repartition(7))
        idx = _indexes()[name]().fit(items, item_key_col="vec_id",
                                     item_vec_col="embedding")
        try:
            driver, scan = _driver_and_scan(
                idx, _queries(embeddings), monkeypatch, k=10,
                payload_cols=payload)
            assert idx._held is not None
        finally:
            idx.close()
        assert len(driver) == 120
        assert driver == scan   # pairs, sim_val bits, rank_no, payload

    @pytest.mark.parametrize("name", list(_indexes()))
    def test_parity_after_add_items(self, spark, embeddings, monkeypatch,
                                    name):
        vid = F.col("vec_id")
        idx = _indexes()[name]().fit(
            embeddings.filter(vid % 3 != 0), item_key_col="vec_id",
            item_vec_col="embedding")
        try:
            idx.search(_queries(embeddings), k=10, query_item_col="qid")
            assert len(idx._held.keys) == embeddings.count() * 2 // 3
            before = _jobs(spark)
            idx.add_items(embeddings.filter(vid % 3 == 0))
            # the collect that refreshes the copy fills the union's cache
            assert len(_jobs(spark) - before) == 1
            assert len(idx._held.keys) == embeddings.count()
            driver, scan = _driver_and_scan(
                idx, _queries(embeddings), monkeypatch, k=10,
                payload_cols=["label"])
        finally:
            idx.close()
        assert driver == scan
        # a query's own row is found whichever batch added it
        assert {(r[0], r[1]) for r in driver if r[3] == 0} >= {(0, 0), (3, 3)}

    @pytest.mark.parametrize("name", list(_indexes()))
    def test_parity_after_save_load(self, spark, embeddings, monkeypatch,
                                    tmp_path, name):
        idx = _indexes()[name]().fit(embeddings, item_key_col="vec_id",
                                     item_vec_col="embedding")
        q = _queries(embeddings)
        try:
            fitted = _rows(idx.search(q, k=10, query_item_col="qid",
                                      payload_cols=["label"]))
            idx.save(str(tmp_path / name))
        finally:
            idx.close()
        loaded = type(idx).load(spark, str(tmp_path / name))
        try:
            assert loaded._held is None   # load runs no job for it
            driver, scan = _driver_and_scan(loaded, q, monkeypatch, k=10,
                                            payload_cols=["label"])
            assert loaded._held is not None
        finally:
            loaded.close()
        assert driver == scan == fitted


class TestDriverRouteBounds:
    def test_copy_holds_codes_not_vectors(self, embeddings):
        idx = IVFPQIndex(n_cells=8, nprobe=3, m=8, seed=5).fit(
            embeddings, item_key_col="vec_id", item_vec_col="embedding")
        try:
            idx.search(_queries(embeddings), k=3, query_item_col="qid")
            held = idx._held
            assert held.rows.shape == (embeddings.count(), 8)
            assert held.rows.dtype == np.int16
            assert [f.name for f in held.fields] == ["vec_id", "label"]
            assert list(held.keys) == sorted(held.keys)
        finally:
            idx.close()

    def test_over_the_hold_bound_keeps_no_copy(self, spark, embeddings,
                                               monkeypatch):
        """A table measured over the bound is never collected: its first
        search fills the cache, reads the size and scans."""
        q = _queries(embeddings)
        idx = PQIndex(m=8, seed=5).fit(embeddings, item_key_col="vec_id",
                                       item_vec_col="embedding")
        monkeypatch.setattr(knn, "BLOCKED_SMALL_QUERY_ITEMS_BYTES", 1)
        monkeypatch.setattr(knn.ScanRows, "collect", _no_collect)
        try:
            res = idx.search(q, k=5, query_item_col="qid")
            assert idx._held is None and idx._size > 1
            assert "MapInPandas" in inspect.executed_plan(res)
            assert res.count() == 60
        finally:
            idx.close()

    def test_add_over_the_bound_drops_the_copy_uncollected(
            self, spark, embeddings, monkeypatch):
        """An add whose rows Catalyst estimates past the bound, beside
        the copy's measured size, fills the union's cache in its one job
        and drops the copy without collecting anything; the union,
        measured within the bound, is copied again by the next search."""
        vid = F.col("vec_id")
        q = _queries(embeddings)
        idx = SQIndex(nbits=8).fit(embeddings.filter(vid % 2 == 0),
                                   item_key_col="vec_id",
                                   item_vec_col="embedding")
        try:
            want = idx.search(q, k=5, query_item_col="qid")
            assert idx._held is not None
            with monkeypatch.context() as m:
                m.setattr(knn, "BLOCKED_SMALL_QUERY_ITEMS_BYTES",
                          int(idx._size) + 1)
                m.setattr(knn.ScanRows, "collect", _no_collect)
                before = _jobs(spark)
                idx.add_items(embeddings.filter(vid % 2 == 1))
                assert len(_jobs(spark) - before) == 1
                assert idx._held is None
            res = idx.search(q, k=5, query_item_col="qid")
            assert len(idx._held.keys) == embeddings.count()
            assert "LocalTableScan" in inspect.executed_plan(res)
            assert _rows(want) != _rows(res)   # the odd rows now rank
        finally:
            idx.close()

    def test_fit_runs_one_job_and_the_first_search_two(self, spark,
                                                       embeddings):
        """fit is its one sample job; the first search fills the coded
        cache and collects the copy (the two jobs a scan ran), and a
        search of a driver query matrix then runs no job, to build or to
        read."""
        embeddings.count()
        before = _jobs(spark)
        idx = IVFPQIndex(n_cells=8, nprobe=3, m=8, seed=5).fit(
            embeddings, item_key_col="vec_id", item_vec_col="embedding")
        try:
            assert len(_jobs(spark) - before) == 1
            assert idx._items.is_cached and idx._held is None
            q = knn.DriverQueries(
                ["a", "b"], np.eye(2, 64, dtype=np.float32))
            for want in (2, 0):
                before = _jobs(spark)
                rows = idx.search(q, k=5, payload_cols=["label"]).collect()
                assert len(_jobs(spark) - before) == want
                assert {r["source_item"] for r in rows} == {"a", "b"}
        finally:
            idx.close()

    def test_probed_cells_without_rows_rank_nothing(self, spark):
        """As the scan reads no row of an empty cell, the driver ranks
        none: an empty result, not a fold over no items."""
        from pyspark.sql import types as T

        held = knn.ScanRows(np.array([3, 1, 2]), np.eye(3),
                            np.array([0, 0, 1]), None,
                            fields=[T.StructField("k", T.LongType())], dim=3)
        assert list(held.keys) == [1, 2, 3]
        res = knn.driver_scan(
            np.array(["q"], dtype=object), np.ones((1, 3)), held, spark,
            k=2, query_type=T.StringType(), higher_is_closer=True,
            prepare=lambda qmat: (qmat,),
            scorer=lambda st, rows, _cell: knn._gemm_scorer(
                st[0], rows, "ip"),
            probe=lambda qmat: np.array([[2]]))
        assert res.collect() == []
        assert res.columns == ["source_item", "sim_item", "sim_val",
                               "rank_no"]

    def test_cap_is_the_driver_work_of_the_query_count(self, embeddings,
                                                       monkeypatch):
        q = _queries(embeddings)
        idx = SQIndex(nbits=8).fit(embeddings, item_key_col="vec_id",
                                   item_vec_col="embedding")
        try:
            idx.search(q, k=5, query_item_col="qid")
            work = idx._held.driver_bytes(12, 5)
            for cap, plan in ((work, "LocalTableScan"),
                              (work - 1, "MapInPandas")):
                monkeypatch.setattr(knn, "DRIVER_RANK_CAP_BYTES", cap)
                res = idx.search(q, k=5, query_item_col="qid")
                assert plan in inspect.executed_plan(res)
        finally:
            idx.close()

    def test_refine_keeps_the_scan(self, embeddings):
        idx = IVFPQIndex(n_cells=8, nprobe=3, m=8, seed=5).fit(
            embeddings, item_key_col="vec_id", item_vec_col="embedding")
        try:
            res = idx.search(_queries(embeddings), k=5, query_item_col="qid",
                             refine_factor=2)
            assert "MapInPandas" in inspect.executed_plan(res)
            assert res.count() == 60
        finally:
            idx.close()

    def test_payload_outside_the_copy_keeps_the_scan(self, embeddings):
        idx = PQIndex(m=8, seed=5).fit(embeddings, item_key_col="vec_id",
                                       item_vec_col="embedding")
        try:
            res = idx.search(_queries(embeddings), k=5, query_item_col="qid",
                             payload_cols=["embedding"])
            assert "MapInPandas" in inspect.executed_plan(res)
            assert res.count() == 60
        finally:
            idx.close()

    def test_empty_query_set_keeps_its_result(self, spark, embeddings):
        empty = _queries(embeddings).filter(F.lit(False))
        ivf = IVFIndex(n_cells=8, nprobe=3, seed=5, train_mode="sample") \
            .fit(embeddings, item_key_col="vec_id", item_vec_col="embedding")
        ivfpq = IVFPQIndex(n_cells=8, nprobe=3, m=8, seed=5).fit(
            embeddings, item_key_col="vec_id", item_vec_col="embedding")
        try:
            res = ivf.search(empty, k=3, query_item_col="qid",
                             payload_cols=["label"])
            assert res.collect() == []
            assert [(f.name, f.dataType.simpleString())
                    for f in res.schema] == [
                ("source_item", "bigint"), ("sim_item", "bigint"),
                ("sim_val", "double"), ("rank_no", "int"),
                ("label", "int")]
            with pytest.raises(ValueError, match="non-empty query set"):
                ivfpq.search(empty, k=3, query_item_col="qid")
        finally:
            ivf.close()
            ivfpq.close()

    def test_unpersist_keeps_and_close_drops_the_copy(self, embeddings):
        idx = SQIndex(nbits=8).fit(embeddings, item_key_col="vec_id",
                                   item_vec_col="embedding")
        q = _queries(embeddings)
        want = _rows(idx.search(q, k=5, query_item_col="qid"))
        idx.unpersist(blocking=True)
        assert idx._held is not None
        assert _rows(idx.search(q, k=5, query_item_col="qid")) == want
        idx.close()
        assert idx._held is None
        with pytest.raises(RuntimeError, match="not fit"):
            idx.search(q, k=5, query_item_col="qid")


class TestSearcherOnTheDriver:
    def test_list_search_runs_no_job(self, spark, documents):
        s = SparkSearcher(documents.select("text", "doc_id"),
                          encoder=HashingEncoder(dim=16),
                          index_param="IVF64,PQ8").train()
        try:
            assert s._index._held is not None   # train took the copy
            before = _jobs(spark)
            rows = s.search(["spark join merge", "vector search"],
                            topK=5).collect()
            assert len(_jobs(spark) - before) == 0
            assert len(rows) == 10
            # a list topK ranks once at the largest K and filters it
            before = _jobs(spark)
            frames = s.search(["spark join merge"], topK=[2, 5])
            got = {k: len(df.collect()) for k, df in frames.items()}
            assert len(_jobs(spark) - before) == 0
            assert got == {2: 2, 5: 5}
        finally:
            s.close()

    def test_rflat_search_keeps_the_scan(self, spark, documents):
        s = SparkSearcher(documents.select("text", "doc_id"),
                          encoder=HashingEncoder(dim=16),
                          index_param="IVF8,PQ8,RFlat").train()
        try:
            assert s._index._held is None   # no search of it would use one
            res = s.search(["spark join merge", "vector search"], topK=5)
            assert "MapInPandas" in inspect.executed_plan(res)
            assert res.count() == 10
        finally:
            s.close()
