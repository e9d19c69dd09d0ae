"""Source catalog: parquet table loads (incl. the TIMESTAMP(NANOS) events
shim), CSV and JSONL corpus readers."""

import pytest
from pyspark.sql import functions as F

from faisssearcher_spark.sources import catalog


class TestCatalog:
    def test_all_tables_load(self, spark, sf_dir):
        tables = catalog.load_tables(spark, sf_dir)
        assert set(tables) == set(catalog.TABLES)
        for name, df in tables.items():
            assert df.columns, name

    def test_events_ts_is_timestamp(self, spark, sf_dir):
        ev = catalog.load_table(spark, sf_dir, "events")
        assert dict(ev.dtypes)["ts"].startswith("timestamp")
        assert ev.filter(F.col("ts").isNull()).count() == 0

    def test_register_views(self, spark, sf_dir):
        catalog.register_views(spark, sf_dir)
        assert spark.sql("SELECT count(*) AS n FROM region").first()["n"] > 0

    def test_failed_footer_probe_is_memoized(self, spark, tmp_path,
                                             monkeypatch):
        # a path pyarrow cannot read is probed once per process; the
        # Spark count fallback answers both calls
        import pyarrow.dataset as ds

        spark.range(5).write.parquet(str(tmp_path / "t.parquet"))
        calls = []

        def unreadable(*args, **kwargs):
            calls.append(args)
            raise OSError("unreadable")

        monkeypatch.setattr(ds, "dataset", unreadable)
        assert catalog.table_num_rows(spark, str(tmp_path), "t") == 5
        assert catalog.table_num_rows(spark, str(tmp_path), "t") == 5
        assert len(calls) == 1


class TestCorpusReaders:
    @pytest.fixture(scope="class")
    def docs_head(self, documents):
        return documents.select("doc_id", "text", "lang").limit(20)

    def test_csv_roundtrip(self, spark, docs_head, tmp_path_factory):
        path = str(tmp_path_factory.mktemp("csv") / "corpus")
        docs_head.write.mode("overwrite").option("header", "true").csv(path)
        back = catalog.load_csv(
            spark, path, schema="doc_id long, text string, lang string")
        assert sorted(map(tuple, back.collect())) \
            == sorted(map(tuple, docs_head.collect()))

    def test_jsonl_roundtrip(self, spark, docs_head, tmp_path_factory):
        path = str(tmp_path_factory.mktemp("jsonl") / "corpus")
        docs_head.write.mode("overwrite").json(path)
        back = catalog.load_jsonl(
            spark, path, schema="doc_id long, text string, lang string")
        assert sorted(map(tuple, back.select("doc_id", "text", "lang").collect())) \
            == sorted(map(tuple, docs_head.collect()))

    def test_jsonl_infers_schema_without_one(self, spark, docs_head,
                                             tmp_path_factory):
        path = str(tmp_path_factory.mktemp("jsonl2") / "corpus")
        docs_head.write.mode("overwrite").json(path)
        back = catalog.load_jsonl(spark, path)
        assert back.count() == 20
        assert {"doc_id", "text", "lang"} <= set(back.columns)


class TestOrc:
    def test_roundtrip_and_pushdown(self, spark, sf_dir, tmp_path_factory):
        from faisssearcher_spark.plans import inspect
        from faisssearcher_spark.sources.catalog import (load_orc,
                                                         load_table,
                                                         write_orc)
        docs = load_table(spark, sf_dir, "documents")
        path = str(tmp_path_factory.mktemp("orc") / "documents")
        write_orc(docs, path)
        back = load_orc(spark, path)
        assert back.count() == docs.count()
        assert set(back.columns) == set(docs.columns)
        # predicate pushdown reaches the ORC scan
        plan = inspect.executed_plan(
            back.filter(F.col("lang") == "en").select("doc_id"))
        assert "PushedFilters" in plan and "lang" in plan
        # column pruning: the scan reads only what the query needs
        assert "ReadSchema: struct<doc_id:bigint,lang:string>" in plan

    def test_explicit_schema_skips_inference(self, spark, sf_dir,
                                             tmp_path_factory):
        from faisssearcher_spark.sources.catalog import (load_orc,
                                                         load_table,
                                                         write_orc)
        ev = load_table(spark, sf_dir, "events").select("event_id", "value")
        path = str(tmp_path_factory.mktemp("orc2") / "events")
        write_orc(ev, path)
        back = load_orc(spark, path,
                        schema="event_id long, value double")
        assert back.schema.simpleString() == \
            "struct<event_id:bigint,value:double>"
