"""Structured Streaming twins (windowed agg, streaming dedup) driven with
availableNow triggers, and the multimodal column plumbing."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from faisssearcher_spark.operators import multimodal
from faisssearcher_spark.streaming import events as sev


@pytest.fixture(scope="module")
def events_stream(spark, sf_dir):
    return sev.read_events_stream(spark, f"{sf_dir}/events.parquet")


class TestStreaming:
    def test_windowed_counts_match_batch(self, spark, sf_dir, events_stream):
        agg = sev.windowed_event_counts(events_stream, window="1 hour",
                                        watermark="1 hour")
        sev.run_to_memory(agg, "win_counts", output_mode="append")
        got = spark.table("win_counts").toPandas()
        # batch ground truth over the same file
        from faisssearcher_spark.sources.catalog import load_table
        batch = (load_table(spark, sf_dir, "events")
                 .groupBy(F.date_format(F.date_trunc("hour", "ts"),
                                        "yyyy-MM-dd HH:mm:ss").alias("window_start"),
                          "event_type")
                 .agg(F.count("*").alias("n_events"))).toPandas()
        g = got.set_index(["window_start", "event_type"])["n_events"].sort_index()
        b = batch.set_index(["window_start", "event_type"])["n_events"].sort_index()
        # append mode only emits windows closed by the final watermark
        # (max_ts − 1h); the trailing windows legitimately stay open, so the
        # stream output must be a prefix-subset of batch with equal counts,
        # and anything missing must be within 2h of the stream's end.
        assert set(g.index) <= set(b.index)
        assert g.equals(b.loc[g.index.intersection(b.index)].sort_index())
        missing = b.index.difference(g.index)
        max_ws = max(ws for ws, _ in b.index)
        import pandas as pd
        cutoff = pd.Timestamp(max_ws) - pd.Timedelta(hours=2)
        assert all(pd.Timestamp(ws) >= cutoff for ws, _ in missing)

    def test_streaming_dedup_drops_duplicate_ids(self, spark, events_stream):
        dedup = sev.streaming_dedup(events_stream, key_cols=["event_id"])
        sev.run_to_memory(dedup, "dedup_events", output_mode="append")
        out = spark.table("dedup_events")
        assert out.count() == out.select("event_id").distinct().count()

    def test_stream_is_streaming(self, events_stream):
        assert events_stream.isStreaming

    def test_enrich_stream_matches_batch_join(self, spark, sf_dir,
                                              events_stream):
        """Stream-static dimension enrichment (availableNow) must equal
        the batch left join — nothing lost, nothing duplicated."""
        from faisssearcher_spark.sources.catalog import load_table
        from faisssearcher_spark.streaming.enrich import enrich_stream
        cust = load_table(spark, sf_dir, "customer")
        out = enrich_stream(events_stream, cust, stream_key="user_id",
                            dim_key="c_custkey", dim_cols=["c_mktsegment"])
        assert out.isStreaming
        sev.run_to_memory(out.select("event_id", "c_mktsegment"),
                          "enrich_vs_batch", output_mode="append")
        got = {(r["event_id"], r["c_mktsegment"])
               for r in spark.table("enrich_vs_batch").collect()}
        ev = load_table(spark, sf_dir, "events")
        want = {(r["event_id"], r["c_mktsegment"])
                for r in ev.join(cust, ev.user_id == cust.c_custkey, "left")
                .select("event_id", "c_mktsegment").collect()}
        assert got == want
        assert spark.table("enrich_vs_batch").count() == ev.count()

    def test_enrich_stream_validation(self, spark, sf_dir, events_stream):
        from faisssearcher_spark.sources.catalog import load_table
        from faisssearcher_spark.streaming.enrich import enrich_stream
        cust = load_table(spark, sf_dir, "customer")
        with pytest.raises(ValueError, match="inner.*left|how"):
            enrich_stream(events_stream, cust, stream_key="user_id",
                          dim_key="c_custkey", how="full")
        with pytest.raises(ValueError, match="lacks"):
            enrich_stream(events_stream, cust, stream_key="user_id",
                          dim_key="c_custkey", dim_cols=["nope"])
        with pytest.raises(ValueError, match="already exist"):
            enrich_stream(events_stream, cust.withColumnRenamed(
                "c_mktsegment", "value"), stream_key="user_id",
                dim_key="c_custkey", dim_cols=["value"])

    def test_streaming_curate_matches_batch_semantics(self, spark, documents,
                                                      tmp_path_factory):
        """curate_stream over an availableNow document stream must keep
        exactly the batch pipeline's (filter + sample) rows, one survivor
        per content fingerprint (which duplicate survives is arrival-order
        dependent; the fingerprint SET is not)."""
        from faisssearcher_spark.streaming import curate as scur
        from faisssearcher_spark.operators import sampling
        from faisssearcher_spark.functions import text as T
        from pyspark.sql import functions as FF

        # +1 day: an ingest_ts of exactly epoch 0 sits on the initial
        # watermark boundary and is dropped as late (see streaming/curate)
        src = documents.select(
            "doc_id", "text",
            FF.timestamp_micros((FF.col("doc_id") + 86_400) * 1_000_000)
            .alias("ingest_ts"))
        path = str(tmp_path_factory.mktemp("docs_stream") / "landing")
        src.write.mode("overwrite").parquet(path)

        stream = (spark.readStream.schema(src.schema).parquet(path))
        out = scur.curate_stream(stream, min_quality=0.3,
                                 sample_fraction=0.5, watermark="1 hour")
        (out.writeStream.format("memory").queryName("curated_docs")
         .outputMode("append").trigger(availableNow=True).start()
         .awaitTermination())
        got = spark.table("curated_docs")

        batch = src.select(
            "doc_id",
            FF.round(T.quality_score("text"), 4).alias("quality"),
            T.fingerprint("text").alias("fingerprint"))
        batch = batch.filter(FF.col("quality") >= 0.3)
        batch = sampling.hash_sample(batch, 0.5, key_col="doc_id")

        got_fps = {r["fingerprint"] for r in got.collect()}
        want_fps = {r["fingerprint"] for r in batch.collect()}
        assert got_fps == want_fps and got_fps
        # one survivor per fingerprint
        assert got.count() == len(got_fps)
        # every surviving doc_id is a member of the deterministic sample
        want_ids = {r["doc_id"] for r in batch.collect()}
        assert {r["doc_id"] for r in got.collect()} <= want_ids

    def test_streaming_min_lang_conf_matches_batch(self, spark,
                                                   tmp_path_factory):
        """The opt-in lang_conf gate is a stateless filter — the
        streaming survivors must equal the batch expression's."""
        from faisssearcher_spark.streaming import curate as scur
        from faisssearcher_spark.functions import text as T
        from pyspark.sql import functions as FF

        good = ("the quick brown fox jumps over the lazy dog and it is "
                "a fine day in the field for a fox to run and jump")
        weak = "the " + " ".join(f"zz{i}" for i in range(30))
        src = spark.createDataFrame(
            [(1, good), (2, weak)], "doc_id long, text string").select(
            "doc_id", "text",
            FF.timestamp_micros((FF.col("doc_id") + 86_400) * 1_000_000)
            .alias("ingest_ts"))
        path = str(tmp_path_factory.mktemp("conf_stream") / "landing")
        src.write.mode("overwrite").parquet(path)
        stream = spark.readStream.schema(src.schema).parquet(path)
        out = scur.curate_stream(stream, min_quality=0.0,
                                 min_lang_conf=0.5, watermark="1 hour")
        (out.writeStream.format("memory").queryName("conf_docs")
         .outputMode("append").trigger(availableNow=True).start()
         .awaitTermination())
        got = spark.table("conf_docs")
        want = {r["doc_id"] for r in src.filter(
            FF.round(T.language_confidence("text"), 4) >= 0.5).collect()}
        assert {r["doc_id"] for r in got.collect()} == want == {1}
        assert "lang_conf" in got.columns

    def test_streaming_hash_sample_matches_batch(self, spark, sf_dir,
                                                 events_stream):
        """The deterministic samplers are stateless filters, so they apply
        unchanged to a stream and must select EXACTLY the batch sample's
        rows (membership is a pure function of the key — no RNG, no
        partition dependence)."""
        from faisssearcher_spark.operators import sampling
        from faisssearcher_spark.sources.catalog import load_table

        sampled = sampling.hash_sample(events_stream, 0.3,
                                       key_col="event_id")
        sev.run_to_memory(sampled.select("event_id"), "sampled_events",
                          output_mode="append")
        got = {r["event_id"] for r in spark.table("sampled_events").collect()}
        batch = sampling.hash_sample(load_table(spark, sf_dir, "events"),
                                     0.3, key_col="event_id")
        want = {r["event_id"] for r in batch.select("event_id").collect()}
        assert got == want


@pytest.fixture(scope="module")
def assets(spark):
    rows = [
        (0, "image", "image/png", b"\x89PNGfake0", 64, 64, None),
        (1, "image", "image/png", b"\x89PNGfake1", 32, 32, None),
        (2, "audio", "audio/wav", b"RIFFfake", None, None, 2500),
        (3, "video", "video/mp4", b"mp4fake", 640, 480, 3500),
        (4, "video", "video/mp4", b"mp4fake2", 640, 480, 60_000),
    ]
    return spark.createDataFrame(rows, multimodal.ASSET_SCHEMA)


class TestMultimodal:
    def test_asset_stats_metadata_only(self, assets):
        stats = {r["modality"]: r["n_assets"]
                 for r in multimodal.asset_stats(assets).collect()}
        assert stats == {"image": 2, "audio": 1, "video": 2}

    def test_real_decoder_gated_on_pillow(self, assets):
        if multimodal.pillow_available():
            pytest.skip("Pillow installed — covered by the real-decode test")
        # plan-BUILD-time failure: no Spark job should launch first
        with pytest.raises(NotImplementedError, match="Pillow"):
            multimodal.decode_media(assets, decoder="real")

    @pytest.mark.skipif("not __import__('faisssearcher_spark.operators."
                        "multimodal', fromlist=['x']).pillow_available()",
                        reason="Pillow not installed")
    def test_real_decoder_decodes_png(self, spark):
        # a real 2x1 PNG (black | white) → grayscale intensity features
        import io

        from PIL import Image

        buf = io.BytesIO()
        Image.frombytes("L", (2, 1), bytes([0, 255])).save(buf, format="PNG")
        df = spark.createDataFrame(
            [(0, "image", "image/png", buf.getvalue(), 2, 1, None)],
            multimodal.ASSET_SCHEMA)
        row = multimodal.decode_media(df, decoder="real",
                                      feature_dim=2).collect()[0]
        assert row["features"] == pytest.approx([0.0, 1.0], abs=0.02)

    @pytest.mark.skipif("not __import__('faisssearcher_spark.operators."
                        "multimodal', fromlist=['x']).pillow_available()",
                        reason="Pillow not installed")
    def test_real_decoder_rejects_non_image(self, assets):
        with pytest.raises(Exception, match="image"):
            multimodal.decode_media(assets.filter("modality = 'audio'"),
                                    decoder="real").collect()

    def test_fake_decoder_deterministic(self, assets):
        a = multimodal.decode_media(assets, decoder="fake").toPandas()
        b = multimodal.decode_media(assets, decoder="fake").toPandas()
        assert len(a) == 5
        assert all(len(f) == multimodal.FEATURE_DIM for f in a["features"])
        fa = {r.asset_id: list(r.features) for r in a.itertuples()}
        fb = {r.asset_id: list(r.features) for r in b.itertuples()}
        assert fa == fb
        assert fa[0] != fa[1]  # different payloads → different features

    def test_decoded_features_feed_knn(self, spark, assets):
        # the seam that matters: decode output joins the vector operators
        from faisssearcher_spark.operators.knn import knn_join
        feats = multimodal.decode_media(assets, decoder="fake")
        q = feats.limit(2).select(F.col("asset_id").alias("qid"),
                                  F.col("features").alias("embedding"))
        it = feats.select("asset_id", F.col("features").alias("embedding"))
        res = knn_join(q, it, metric="cos", k=2, query_item_col="qid",
                       item_key_col="asset_id", payload_cols=[])
        rows = res.filter(F.col("rank_no") == 0).collect()
        assert all(r["source_item"] == r["sim_item"] for r in rows)

    def test_frame_sample_bounds(self, assets):
        frames = multimodal.frame_sample(assets, every_ms=1000, max_frames=16)
        by_asset = frames.groupBy("asset_id").count().collect()
        counts = {r["asset_id"]: r["count"] for r in by_asset}
        assert counts[3] == 4          # 3500ms → frames at 0,1000,2000,3000
        assert counts[4] == 16         # capped at max_frames
        offs = frames.filter(F.col("asset_id") == 3) \
            .select("frame_offset_ms").collect()
        assert sorted(r[0] for r in offs) == [0, 1000, 2000, 3000]

    def test_invalid_decoder_name(self, assets):
        with pytest.raises(ValueError, match="decoder"):
            multimodal.decode_media(assets, decoder="gpu")


class TestPlanInspection:
    def test_pushed_filters_and_helpers(self, spark, embeddings, sf_dir):
        from faisssearcher_spark import plans
        from faisssearcher_spark.operators.knn import knn_join
        q = embeddings.filter(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("qid"), "embedding")
        res = knn_join(q, embeddings, metric="cos", k=2, query_item_col="qid",
                       item_key_col="vec_id")
        assert plans.has_window_group_limit(res)
        assert plans.has_broadcast_join(res)

    def test_pushed_filters_on_parquet_scan(self, spark, sf_dir):
        # NB: must use a table that is NOT .cache()d anywhere in the session —
        # the CacheManager silently swaps matching plans for InMemoryRelation,
        # and cached scans carry no PushedFilters.
        from faisssearcher_spark import plans
        from faisssearcher_spark.sources.catalog import load_table
        li = load_table(spark, sf_dir, "lineitem")
        res = li.filter(F.col("l_orderkey") < 100).select("l_orderkey",
                                                          "l_quantity")
        pushed = plans.pushed_filters(res)
        assert any("l_orderkey" in f for f in pushed)
        # column pruning: the scan's ReadSchema carries only the 2 columns
        assert "l_extendedprice" not in plans.executed_plan(res)


class TestStatefulSessionize:
    def test_emitted_frames_keep_their_dtypes(self, events_stream):
        """applyInPandasWithState's serializer concatenates the emitted
        frames with an all-None object frame (its padding rows). The
        emitter's object columns keep their dtype through that, with no
        pandas FutureWarning about all-NA entries, and Spark sees the
        session schema."""
        import warnings

        import pandas as pd

        from faisssearcher_spark.streaming import sessionize as ssz

        frame = ssz._closed_frame(7, [(0, 60_000_000, 3, 1.234),
                                      (10 ** 12, 10 ** 12, 1, 2.0)])
        assert frame.dtypes.tolist() == [object] * 5
        assert frame.values.tolist() == [[7, 0, 60_000_000, 3, 1.23],
                                         [7, 10 ** 12, 10 ** 12, 1, 2.0]]
        with warnings.catch_warnings():
            warnings.simplefilter("error", FutureWarning)
            for pad_rows in (0, 2):
                pad = pd.DataFrame(dict.fromkeys(frame.columns),
                                   index=range(pad_rows))
                merged = pd.concat([frame, frame, pad], ignore_index=True)
                assert merged.dtypes.tolist() == [object] * 5
        out = ssz.sessionize_stream(events_stream, gap_minutes=30)
        assert out.schema.simpleString() == (
            "struct<user_id:bigint,session_start:timestamp,"
            "session_end:timestamp,n_events:bigint,sum_value:double>")

    def test_closed_sessions_match_batch(self, spark, sf_dir, events_stream):
        from faisssearcher_spark.operators import events as bev
        from faisssearcher_spark.sources.catalog import load_table
        from faisssearcher_spark.streaming import sessionize as ssz

        out = ssz.sessionize_stream(events_stream, gap_minutes=30)
        sev.run_to_memory(out, "stateful_sessions", output_mode="append")
        got = spark.table("stateful_sessions").toPandas()

        batch = bev.sessionize(load_table(spark, sf_dir, "events"),
                               gap_minutes=30).toPandas()

        g = set(got.assign(
            ss=got["session_start"].dt.strftime("%Y-%m-%d %H:%M:%S"))
            [["user_id", "ss", "n_events"]].itertuples(index=False, name=None))
        b = set(batch[["user_id", "session_start", "n_events"]]
                .itertuples(index=False, name=None))
        # every emitted session must be a real batch session, byte-for-byte
        assert g <= b
        # the only sessions a stream may NOT have closed are per-user FINAL
        # sessions still inside the watermark+gap horizon at end of input:
        # a gap-closed session always has a later event proving it over, and
        # the availableNow final watermark times out everything older.
        last = set(batch.sort_values(["user_id", "session_start"])
                   .groupby("user_id").tail(1)
                   [["user_id", "session_start", "n_events"]]
                   .itertuples(index=False, name=None))
        missing = b - g
        assert missing <= last
        # non-final sessions are ALL present
        assert (b - last) <= g


class TestStreamingKnn:
    def test_stream_results_match_batch(self, spark, sf_dir):
        from pyspark.sql import functions as F
        from pyspark.sql.types import (ArrayType, FloatType, IntegerType,
                                       LongType, StructField, StructType)
        from faisssearcher_spark.operators.knn import knn_join
        from faisssearcher_spark.streaming.knn import streaming_knn_search

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        schema = StructType([
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(FloatType())),
            StructField("label", IntegerType()),
        ])
        d, base = f"{sf_dir}", "embeddings.parquet"
        stream = (spark.readStream.schema(schema)
                  .parquet(f"{d}/[{base[0]}]{base[1:]}")
                  .filter(F.col("vec_id") < 10)
                  .select(F.col("vec_id").alias("qid"), "embedding"))

        out = streaming_knn_search(stream, emb, metric="cos", k=3,
                                   query_item_col="qid",
                                   item_key_col="vec_id",
                                   payload_cols=["label"], score_scale=4)
        q = (out.writeStream.format("memory").queryName("stream_knn")
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination()
        got = sorted(map(tuple, spark.table("stream_knn").collect()))

        batch_q = emb.filter(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("qid"), "embedding")
        expected = sorted(map(tuple, knn_join(
            batch_q, emb, metric="cos", k=3, query_item_col="qid",
            item_key_col="vec_id", payload_cols=["label"], score_scale=4,
            strategy="blocked").collect()))
        assert got == expected and len(got) == 30

    def test_payload_per_corpus_row_on_duplicate_keys(self, spark,
                                                      tmp_path_factory):
        """Two corpus rows with one key keep their own payloads in the
        stream's results, as in the catalyst plan's."""
        from faisssearcher_spark.operators.knn import knn_join
        from faisssearcher_spark.streaming.knn import streaming_knn_search

        items = spark.createDataFrame(
            [(0, [1.0, 0.0], "a"), (1, [0.0, 1.0], "b"),
             (1, [0.0, 1.0], "c"), (2, [1.0, 1.0], "d")],
            "vid long, embedding array<double>, label string")
        queries = spark.createDataFrame(
            [(100, [0.0, 1.0]), (101, [1.0, 0.1])],
            "qid long, embedding array<double>")
        path = str(tmp_path_factory.mktemp("stream_dup_q"))
        queries.write.mode("overwrite").parquet(path)
        stream = spark.readStream.schema(queries.schema).parquet(path)
        out = streaming_knn_search(stream, items, k=2, query_item_col="qid",
                                   item_key_col="vid", payload_cols=["label"],
                                   score_scale=4)
        q = (out.writeStream.format("memory").queryName("stream_knn_dup")
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination()

        def rows(df):
            return sorted((r["source_item"], r["sim_item"], r["label"],
                           r["sim_val"]) for r in df.collect())

        got = rows(spark.table("stream_knn_dup"))
        assert got == rows(knn_join(
            queries, items, k=2, query_item_col="qid", item_key_col="vid",
            payload_cols=["label"], score_scale=4))
        assert [r[2] for r in got if r[0] == 100] == ["b", "c"]

    def test_rejects_batch_input(self, spark, sf_dir):
        import pytest
        from pyspark.sql import functions as F
        from faisssearcher_spark.streaming.knn import streaming_knn_search

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        with pytest.raises(ValueError):
            streaming_knn_search(
                emb.select(F.col("vec_id").alias("qid"), "embedding"), emb,
                query_item_col="qid", item_key_col="vec_id")


class TestIdempotentSink:
    def test_replay_does_not_duplicate(self, spark, sf_dir, tmp_path_factory):
        """Crash-replay semantics: wiping the checkpoint and re-running the
        same input re-delivers every epoch with the same batch_id — the
        overwrite-per-epoch sink must converge to the same rows, not
        append duplicates."""
        import shutil

        from faisssearcher_spark.streaming import events as sev
        from faisssearcher_spark.streaming.sinks import (
            idempotent_parquet_sink, read_sink)

        base = tmp_path_factory.mktemp("idem_sink")
        out, ckpt = str(base / "out"), str(base / "ckpt")
        src = f"{sf_dir}/events.parquet"

        def run():
            stream = sev.read_events_stream(spark, src)
            q = idempotent_parquet_sink(
                stream.select("event_id", "user_id", "event_type"),
                path=out, checkpoint_dir=ckpt)
            q.awaitTermination()

        run()
        first = read_sink(spark, out)
        n_first = first.count()
        # NB: capture everything about `first` BEFORE the replay — its
        # file listing is pinned at creation, and the replay legitimately
        # REPLACES those files (re-executing it afterwards would
        # FILE_NOT_EXIST, which is the overwrite doing its job)
        n_first_distinct = first.select("event_id").distinct().count()
        assert n_first > 0
        assert "batch_id" in first.columns  # epoch id as partition column

        shutil.rmtree(ckpt)  # simulate total offset loss → full replay
        run()
        replay = read_sink(spark, out)
        assert replay.count() == n_first
        assert replay.select("event_id").distinct().count() == n_first_distinct

    def test_committed_epochs_not_reprocessed(self, spark, sf_dir,
                                              tmp_path_factory):
        """With the checkpoint intact, a second availableNow run sees no
        new input and must write nothing new."""
        from faisssearcher_spark.streaming import events as sev
        from faisssearcher_spark.streaming.sinks import (
            idempotent_parquet_sink, read_sink)

        base = tmp_path_factory.mktemp("idem_sink2")
        out, ckpt = str(base / "out"), str(base / "ckpt")

        for _ in range(2):
            stream = sev.read_events_stream(spark, f"{sf_dir}/events.parquet")
            idempotent_parquet_sink(
                stream.select("event_id"), path=out,
                checkpoint_dir=ckpt).awaitTermination()
        sink = read_sink(spark, out)
        assert sink.count() == sink.select("event_id").distinct().count()

    def test_compact_sink(self, spark, sf_dir, tmp_path_factory):
        from faisssearcher_spark.streaming import events as sev
        from faisssearcher_spark.streaming.sinks import (
            compact_sink, idempotent_parquet_sink, read_sink)

        base = tmp_path_factory.mktemp("compact")
        out, ckpt, dest = (str(base / d) for d in ("out", "ckpt", "compact"))
        stream = sev.read_events_stream(spark, f"{sf_dir}/events.parquet")
        idempotent_parquet_sink(stream.select("event_id", "user_id"),
                                path=out,
                                checkpoint_dir=ckpt).awaitTermination()
        n_rows = read_sink(spark, out).count()
        n_files = compact_sink(spark, out, dest, target_file_bytes=1 << 20)
        compacted = spark.read.parquet(dest)
        assert compacted.count() == n_rows
        assert "batch_id" not in compacted.columns
        import glob
        assert len(glob.glob(f"{dest}/part-*.parquet")) == n_files
        # r4 ADVICE: in-place compaction would overwrite the landing zone
        # while reading it — must refuse
        with pytest.raises(ValueError, match="landing zone"):
            compact_sink(spark, out, out)
        with pytest.raises(ValueError, match="landing zone"):
            compact_sink(spark, out, out + "/../" + out.rsplit("/", 1)[-1])


class TestStreamingIndexIngest:
    def test_foreachbatch_add_items_indexes_streamed_rows(self, spark,
                                                          embeddings,
                                                          tmp_path):
        """Streaming ingest into a trained ANN index: fit on a base
        slice, feed the remainder through an availableNow stream whose
        foreachBatch calls add_items (FAISS add semantics — no quantizer
        retrain), then verify a streamed row is retrievable with a
        perfect self-match through exhaustive probing."""
        import time

        from faisssearcher_spark.operators.ann import IVFIndex

        base = embeddings.filter(F.col("vec_id") < 400)
        extra = embeddings.filter(F.col("vec_id") >= 400)
        landing = tmp_path / "vec_landing"
        landing.mkdir()
        # two files -> two micro-batches
        extra.filter(F.col("vec_id") % 2 == 0).write.mode("overwrite") \
            .parquet(str(landing / "b1"))
        time.sleep(1.1)
        extra.filter(F.col("vec_id") % 2 == 1).write.mode("overwrite") \
            .parquet(str(landing / "b2"))

        idx = IVFIndex(n_cells=8, nprobe=8, metric="cos",
                       train_mode="sample").fit(
            base, item_key_col="vec_id", item_vec_col="embedding")

        def ingest(batch_df, batch_id):
            if batch_df.count():
                idx.add_items(batch_df)

        (spark.readStream.schema(extra.schema)
         .option("maxFilesPerTrigger", 1)
         .option("recursiveFileLookup", "true")   # b1/b2 are parquet DIRS
         .parquet(str(landing))
         .writeStream.foreachBatch(ingest)
         .trigger(availableNow=True).start().awaitTermination())

        total = idx.assignments().count()
        assert total == embeddings.count()
        probe = extra.limit(1).select(
            F.col("vec_id").alias("qid"), "embedding")
        top = idx.search(probe, k=1, query_item_col="qid").collect()[0]
        assert top["sim_item"] == top["source_item"]
        assert top["sim_val"] == pytest.approx(1.0, abs=1e-6)


def _ppm_bytes(w, h):
    """P6 gradient image with a header comment (legal per the spec)."""
    header = f"P6\n# synthetic\n{w} {h}\n255\n".encode()
    pix = bytes((x * 3 + c) % 256 for y in range(h)
                for x in range(w) for c in range(3))
    return header + pix


def _bmp_bytes(w, h):
    """Uncompressed 24-bit bottom-up BMP of the same gradient."""
    stride = ((w * 3 + 3) // 4) * 4
    rows = b""
    for y in range(h - 1, -1, -1):   # bottom-up storage
        row = bytes(b for x in range(w)
                    for b in ((x * 3 + 2) % 256, (x * 3 + 1) % 256,
                              (x * 3 + 0) % 256))   # BGR on disk
        rows += row + b"\x00" * (stride - len(row))
    off = 14 + 40
    size = off + len(rows)
    head = (b"BM" + size.to_bytes(4, "little") + b"\x00\x00\x00\x00"
            + off.to_bytes(4, "little")
            + (40).to_bytes(4, "little")
            + w.to_bytes(4, "little", signed=True)
            + h.to_bytes(4, "little", signed=True)
            + (1).to_bytes(2, "little") + (24).to_bytes(2, "little")
            + (0).to_bytes(4, "little") + len(rows).to_bytes(4, "little")
            + b"\x00" * 16)
    return head + rows


class TestNativeDecode:
    """Dependency-free PPM/BMP decode (operators/multimodal.py:
    _native_decode_image) — a REAL decode path with zero codecs."""

    def test_ppm_and_bmp_agree_with_python_reference(self, spark):
        import numpy as np
        w, h, dim = 12, 5, 4
        rows = [(0, "image", "image/x-ppm", _ppm_bytes(w, h), w, h, None),
                (1, "image", "image/bmp", _bmp_bytes(w, h), w, h, None)]
        df = spark.createDataFrame(rows, multimodal.ASSET_SCHEMA)
        out = {r["asset_id"]: r["features"]
               for r in multimodal.decode_media(
                   df, decoder="native", feature_dim=dim).collect()}
        # identical pixels through two containers -> identical features
        assert out[0] == pytest.approx(out[1], abs=1e-7)
        # hand-computed reference: gray = mean(RGB), 4 segment means / 255
        gray = np.array([[(x * 3 + 0) % 256 + (x * 3 + 1) % 256
                          + (x * 3 + 2) % 256 for x in range(w)]
                         for _ in range(h)], dtype=np.float64) / 3.0
        segs = np.array_split(gray.ravel(), dim)
        want = [s.mean() / 255.0 for s in segs]
        assert out[0] == pytest.approx(want, abs=1e-6)

    def test_unsupported_magic_raises_per_batch(self, spark):
        rows = [(0, "image", "image/png", b"\x89PNGfake", 8, 8, None)]
        df = spark.createDataFrame(rows, multimodal.ASSET_SCHEMA)
        with pytest.raises(Exception, match="native decode reads"):
            multimodal.decode_media(df, decoder="native").collect()

    def test_native_rejects_non_image_modality(self, assets):
        with pytest.raises(Exception, match="modality"):
            multimodal.decode_media(
                assets.filter("modality = 'audio'"),
                decoder="native").collect()

    def test_native_features_feed_knn(self, spark):
        from faisssearcher_spark.operators.knn import knn_join
        rows = [(i, "image", "image/x-ppm", _ppm_bytes(8 + i, 4), 8 + i,
                 4, None) for i in range(6)]
        df = spark.createDataFrame(rows, multimodal.ASSET_SCHEMA)
        feats = multimodal.decode_media(df, decoder="native",
                                        feature_dim=8) \
            .withColumnRenamed("features", "embedding")
        q = feats.limit(2).select(F.col("asset_id").alias("qid"),
                                  "embedding")
        res = knn_join(q, feats, metric="cos", k=2, query_item_col="qid",
                       item_key_col="asset_id", payload_cols=[])
        assert res.count() == 4


def _noise_ppm(seed, w=32, h=33):
    """P6 image of seeded uniform noise — mixed dHash bits (a gradient
    image would hash to all-ones and make every pair 'near-dup')."""
    import numpy as np
    rng = np.random.default_rng(seed)
    pix = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    return f"P6\n{w} {h}\n255\n".encode() + pix.tobytes()


def _perturb_ppm(payload, seed, n_pixels=20, delta=6):
    """Copy with n_pixels nudged by ±delta — a near-duplicate."""
    import numpy as np
    hdr_end = payload.index(b"255\n") + 4
    pix = np.frombuffer(payload[hdr_end:], dtype=np.uint8).copy()
    rng = np.random.default_rng(seed)
    idx = rng.choice(len(pix), size=n_pixels, replace=False)
    pix[idx] = np.clip(pix[idx].astype(np.int32)
                       + rng.choice([-delta, delta], size=n_pixels),
                       0, 255).astype(np.uint8)
    return payload[:hdr_end] + pix.tobytes()


class TestPerceptualHash:
    """dHash image fingerprints + banded hamming near-dup pairs
    (operators/multimodal.py perceptual_hash / image_near_dup_pairs,
    sharing operators/dedup.hamming_pairs with SimHash)."""

    def test_dhash_deterministic_and_container_independent(self, spark):
        w, h = 12, 9
        a = multimodal.dhash_int(_ppm_bytes(w, h))
        b = multimodal.dhash_int(_bmp_bytes(w, h))
        assert a == multimodal.dhash_int(_ppm_bytes(w, h))
        assert a == b   # identical pixels through two containers

    def test_dhash_is_signed_64bit(self):
        # find a seed whose hash sets the sign bit, then pin it: the
        # value must round-trip Spark LongType (two's complement)
        for seed in range(64):
            v = multimodal.dhash_int(_noise_ppm(seed))
            if v < 0:
                assert v >= -(1 << 63)
                return
        raise AssertionError("no negative dHash in 64 noise images")

    def test_distributed_hash_matches_driver(self, spark):
        rows = [(i, "image", "image/x-ppm", _noise_ppm(i), 32, 33, None)
                for i in range(5)]
        df = spark.createDataFrame(rows, multimodal.ASSET_SCHEMA)
        got = {r["asset_id"]: r["phash"]
               for r in multimodal.perceptual_hash(df).collect()}
        want = {i: multimodal.dhash_int(_noise_ppm(i)) for i in range(5)}
        assert got == want

    def test_near_dup_pairs_find_perturbed_copies_only(self, spark):
        rows = []
        for i in range(3):
            base = _noise_ppm(seed=100 + i)
            rows.append((2 * i, "image", "image/x-ppm", base, 32, 33, None))
            rows.append((2 * i + 1, "image", "image/x-ppm",
                         _perturb_ppm(base, seed=7), 32, 33, None))
        df = spark.createDataFrame(rows, multimodal.ASSET_SCHEMA)
        pairs = {(r["id_a"], r["id_b"])
                 for r in multimodal.image_near_dup_pairs(
                     df, max_hamming=6).collect()}
        assert pairs == {(0, 1), (2, 3), (4, 5)}

    def test_fake_decoder_hashes_arbitrary_bytes(self, spark, assets):
        out = multimodal.perceptual_hash(assets, decoder="fake").collect()
        assert len(out) == assets.count()
        assert all(r["phash"] is not None for r in out)

    def test_native_rejects_non_image(self, spark, assets):
        with pytest.raises(Exception, match="image-only"):
            multimodal.perceptual_hash(
                assets.filter("modality = 'audio'")).collect()

    def test_real_gated_on_pillow(self, assets):
        if multimodal.pillow_available():
            pytest.skip("Pillow present; gate does not trigger")
        with pytest.raises(NotImplementedError, match="Pillow"):
            multimodal.perceptual_hash(assets, decoder="real")


class TestPerceptualHashValidation:
    def test_hash_size_bounded_at_plan_build(self, spark, assets):
        with pytest.raises(ValueError, match=r"\[1, 8\]"):
            multimodal.perceptual_hash(assets, decoder="fake",
                                       hash_size=16)
        with pytest.raises(ValueError, match=r"\[1, 8\]"):
            multimodal.dhash_int(b"P6\n4 4\n255\n" + bytes(48),
                                 hash_size=9)


class TestImageDedupPipeline:
    def test_phash_pairs_resolve_to_clusters(self, spark):
        """End-to-end image dedup: dHash fingerprints → banded hamming
        pairs → the SAME cluster resolution the text dedup paths use —
        keep one asset per visual near-dup group."""
        from faisssearcher_spark.operators.dedup import dedup_clusters

        rows = []
        for i in range(3):                      # 3 groups of 3 variants
            base = _noise_ppm(seed=500 + i)
            rows.append((10 * i, "image", "image/x-ppm", base, 32, 33,
                         None))
            for j in (1, 2):
                rows.append((10 * i + j, "image", "image/x-ppm",
                             _perturb_ppm(base, seed=j), 32, 33, None))
        df = spark.createDataFrame(rows, multimodal.ASSET_SCHEMA)
        pairs = multimodal.image_near_dup_pairs(df, max_hamming=6)
        clusters = dedup_clusters(pairs)
        got = {r["id"]: r["cluster_id"] for r in clusters.collect()}
        for i in range(3):
            assert got[10 * i] == got[10 * i + 1] == got[10 * i + 2] \
                == 10 * i                       # min-id cluster label
        keep = df.join(
            clusters.filter("id != cluster_id")
            .withColumnRenamed("id", "asset_id"),
            "asset_id", "left_anti")
        assert sorted(r["asset_id"] for r in keep.collect()) == [0, 10, 20]


class TestAudio:
    """Dependency-free audio path: pure-numpy WAV parse, windowed
    integer features, exact decimation (operators/multimodal.py)."""

    @staticmethod
    def _tone(n=256, period=16, amp=12000):
        # deterministic square-ish tone: amp * sign(sin-phase), exact ints
        t = np.arange(n)
        return np.where((t // (period // 2)) % 2 == 0, amp, -amp) \
            .astype(np.int16)

    def test_wav_roundtrip_mono(self):
        s = self._tone()
        rate, back = multimodal._parse_wav(multimodal.build_wav(s, 8000))
        assert rate == 8000
        assert back.shape == (256, 1)
        assert np.array_equal(back[:, 0], s)

    def test_wav_roundtrip_stereo(self):
        rng = np.random.default_rng(7)
        s = rng.integers(-32768, 32767, size=(100, 2), dtype=np.int16)
        rate, back = multimodal._parse_wav(multimodal.build_wav(s, 44100))
        assert rate == 44100
        assert np.array_equal(back, s)

    def test_parse_rejects_garbage(self):
        with pytest.raises(ValueError, match="RIFF"):
            multimodal._parse_wav(b"OggS not a wav")
        # RIFF/WAVE but no chunks
        with pytest.raises(ValueError, match="fmt/data"):
            multimodal._parse_wav(b"RIFF\x04\x00\x00\x00WAVE")

    def test_parse_rejects_non_pcm16(self):
        good = bytearray(multimodal.build_wav(self._tone(16), 8000))
        bad_fmt = bytearray(good)
        bad_fmt[20] = 3                         # IEEE float format code
        with pytest.raises(NotImplementedError, match="PCM 16-bit"):
            multimodal._parse_wav(bytes(bad_fmt))
        bad_bits = bytearray(good)
        bad_bits[34] = 8                        # 8-bit samples
        with pytest.raises(NotImplementedError, match="PCM 16-bit"):
            multimodal._parse_wav(bytes(bad_bits))

    def _audio_assets(self, spark, sigs, rate=8000):
        rows = [(i, "audio", "audio/wav",
                 multimodal.build_wav(s, rate), None, None,
                 len(s) * 1000 // rate)
                for i, s in enumerate(sigs)]
        return spark.createDataFrame(rows, multimodal.ASSET_SCHEMA)

    def test_features_match_numpy(self, spark):
        rng = np.random.default_rng(11)
        sigs = [rng.integers(-30000, 30000, size=200, dtype=np.int16)
                for _ in range(3)]
        df = self._audio_assets(spark, sigs)
        got = multimodal.audio_features(df, frame_samples=64,
                                        max_frames=8).toPandas()
        # 200 samples → 3 full 64-sample frames, tail of 8 dropped
        assert sorted(got["frame_idx"][got["asset_id"] == 0]) == [0, 1, 2]
        assert set(got["sample_rate"]) == {8000}
        for r in got.itertuples():
            w = sigs[r.asset_id][r.frame_idx * 64:(r.frame_idx + 1) * 64] \
                .astype(np.int64)
            nonneg = w >= 0
            assert r.energy == int((w * w).sum())
            assert r.zcr == int((nonneg[1:] != nonneg[:-1]).sum())
            assert r.peak == int(np.abs(w).max())

    def test_known_frame_values(self, spark):
        # hand-computable: [3, -4, 5, -6] → energy 9+16+25+36 = 86,
        # zcr 3 (every adjacent pair flips sign), peak 6
        df = self._audio_assets(
            spark, [np.array([3, -4, 5, -6], dtype=np.int16)])
        row = multimodal.audio_features(df, frame_samples=4).collect()[0]
        assert (row["energy"], row["zcr"], row["peak"]) == (86, 3, 6)

    def test_max_frames_cap(self, spark):
        df = self._audio_assets(spark, [self._tone(n=512)])
        got = multimodal.audio_features(df, frame_samples=32,
                                        max_frames=4).toPandas()
        assert sorted(got["frame_idx"]) == [0, 1, 2, 3]

    def test_channel0_used(self, spark):
        left = self._tone(n=64, amp=100)
        right = np.zeros(64, dtype=np.int16)
        stereo = np.stack([left, right], axis=1)
        df = spark.createDataFrame(
            [(0, "audio", "audio/wav", multimodal.build_wav(stereo, 8000),
              None, None, 8)], multimodal.ASSET_SCHEMA)
        row = multimodal.audio_features(df, frame_samples=64).collect()[0]
        assert row["energy"] == int((left.astype(np.int64) ** 2).sum())

    def test_modality_validated(self, spark, assets):
        with pytest.raises(Exception, match="audio"):
            multimodal.audio_features(
                assets.filter("modality = 'image'")).collect()

    def test_decimate_exact(self, spark):
        s = self._tone(n=128)
        df = self._audio_assets(spark, [s])
        out = multimodal.audio_decimate(df, factor=4).collect()[0]
        assert out["sample_rate"] == 2000
        rate, back = multimodal._parse_wav(bytes(out["payload"]))
        assert rate == 2000
        assert np.array_equal(back[:, 0], s[::4])
        # decimated payload feeds the feature stage unchanged
        feats = multimodal.audio_features(
            spark.createDataFrame(
                [(0, "audio", "audio/wav", bytes(out["payload"]),
                  None, None, None)], multimodal.ASSET_SCHEMA),
            frame_samples=32).collect()
        assert len(feats) == 1

    def test_decimate_rejects_non_divisor(self, spark):
        df = self._audio_assets(spark, [self._tone(n=64)], rate=8000)
        with pytest.raises(Exception, match="divide"):
            multimodal.audio_decimate(df, factor=3).collect()


class TestAudioFingerprint:
    """Energy-delta-sign fingerprints + banded near-dup pairs."""

    @staticmethod
    def _ramp(amps, frame=8):
        # per-frame constant amplitude → energy = frame * amp², so the
        # delta-sign bits are exactly sign(amps[f+1]² > amps[f]²)
        return np.concatenate(
            [np.full(frame, a, dtype=np.int16) for a in amps])

    def _assets(self, spark, sigs, rate=8000):
        rows = [(i, "audio", "audio/wav",
                 multimodal.build_wav(s, rate), None, None, None)
                for i, s in enumerate(sigs)]
        return spark.createDataFrame(rows, multimodal.ASSET_SCHEMA)

    def test_known_bits(self, spark):
        # amps 1,3,2,5 → energies rise,fall,rise → bits 0,1,2 = 1,0,1;
        # frame 4 missing (energy 0) → bit 3 = 0 → fp = 0b0101 = 5
        df = self._assets(spark, [self._ramp([1, 3, 2, 5])])
        rows = multimodal.audio_fingerprint(df, frame_samples=8,
                                            n_bits=4).collect()
        assert [(r["asset_id"], r["fp"]) for r in rows] == [(0, 5)]

    def test_trailing_frame_is_silence(self, spark):
        # n_bits covers more frames than the signal has: missing frames
        # read as energy 0, so only the last real→silence transition and
        # real deltas can set bits — never an error
        df = self._assets(spark, [self._ramp([1, 2])])
        rows = multimodal.audio_fingerprint(df, frame_samples=8,
                                            n_bits=16).collect()
        assert rows[0]["fp"] == 1              # only bit 0 (1²→2² rises)

    def test_too_short_emits_no_row(self, spark):
        df = self._assets(spark, [np.array([5, -5], dtype=np.int16)])
        assert multimodal.audio_fingerprint(
            df, frame_samples=8, n_bits=4).count() == 0

    def test_bit63_sign_safe(self, spark):
        # a rise into frame 64 sets bit 63 → negative long, still one row
        amps = [1 if i % 2 else 3 for i in range(65)]
        df = self._assets(spark, [self._ramp(amps, frame=4)])
        rows = multimodal.audio_fingerprint(df, frame_samples=4,
                                            n_bits=64).collect()
        assert rows[0]["fp"] < 0

    def test_near_dup_recovers_perturbed_copy(self, spark):
        rng = np.random.default_rng(3)
        base = rng.integers(-20000, 20000, size=256, dtype=np.int16)
        twin = base.copy()
        twin[-8:] = rng.integers(-20000, 20000, size=8, dtype=np.int16)
        other = rng.integers(-20000, 20000, size=256, dtype=np.int16)
        df = self._assets(spark, [base, twin, other])
        pairs = multimodal.audio_near_dup_pairs(
            df, frame_samples=8, n_bits=31, max_hamming=2).collect()
        ids = {(r["id_a"], r["id_b"]) for r in pairs}
        assert (0, 1) in ids
        # fingerprint identity: perturbing ONLY the last frame can flip
        # at most the bits adjacent to it
        assert all(r["hamming"] <= 2 for r in pairs)

    def test_n_bits_validated(self, spark):
        df = self._assets(spark, [self._ramp([1, 2])])
        with pytest.raises(ValueError, match="n_bits"):
            multimodal.audio_fingerprint(df, n_bits=0)
        with pytest.raises(ValueError, match="n_bits"):
            multimodal.audio_fingerprint(df, n_bits=65)
