"""The benchmark's two workloads.

Each is a closed loop with one client: the next batch is sent only after
the previous one has been fully materialized and checked against the
numpy oracle. The loop runs in rounds of a fixed mix of operations, so
every run measures the same mix whatever the machine's speed. Every call
into a layer runs inside a span named after the layer; a search's result
is collected inside a span of the layer that built its plan (``knn`` for
exact search, ``ann`` for the IVF-PQ index), because that is where its
jobs run.
"""

from __future__ import annotations

import os
import sys
import time
import traceback

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import oracle
from spans import Tracer

K = 10
#: rows of the calibration job: about 0.3 s on 3 task slots
CAL_ROWS = 64_000_000


def calibration_job(spark) -> float:
    """Seconds that a fixed Spark job, which calls nothing of the package,
    takes now: a generated-code scan and hash sum of ``CAL_ROWS`` rows on
    every task slot. It follows the speed the shared host gives this
    machine, which swings by up to 3x within minutes."""
    t = time.perf_counter()
    spark.range(0, CAL_ROWS, numPartitions=spark.sparkContext.defaultParallelism) \
        .select(F.sum(F.hash("id") % 1000)).collect()
    return time.perf_counter() - t


def read_vectors(path: str, *extra: str):
    """``(keys, float32 matrix, *extra columns)`` of a generated table."""
    t = pq.read_table(path)  # a file, or a directory of part files
    vec = t.column("vec").combine_chunks()
    mat = vec.values.to_numpy().reshape(len(t), -1)
    return (t.column("key").to_numpy(), mat,
            *[t.column(c).to_numpy() for c in extra])


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def storage_bytes(sc) -> int:
    """Spark storage (memory plus disk) held by cached RDDs."""
    return sum(info.memSize() + info.diskSize()
               for info in sc._jsc.sc().getRDDStorageInfo())


class Workload:
    """One workload's state and counters; subclasses define ``prepare``,
    ``build``, ``round`` and ``close``."""

    name = ""
    #: (owner, attribute, layer) wrapped in spans on a traced run
    hooks: tuple = ()
    #: the loop also stops when the workload's input batches run out
    max_rounds = 10**9
    #: build_s is the first build (else the median of the loop's builds)
    first_build_timed = False
    #: untimed rounds between the build and the loop, so the timed rounds
    #: do not pay plan compilation and the bulk of the JIT warm-up; a count,
    #: not a time, so a slow host warms up as far as a fast one
    warm_rounds = 5

    def __init__(self, spark, tracer: Tracer, data_dir: str, work_dir: str):
        self.spark, self.tr = spark, tracer
        self.data, self.work = data_dir, work_dir
        self.attempted = self.failed = 0
        self.problems: list[str] = []
        self.first_build_s = 0.0
        #: timed builds whose median is build_s
        self.builds: list[float] = []
        self.build_rows = 0
        self.add_s = 0.0
        self.add_rows = 0
        self.query_lat: list[float] = []
        self.query_rows = 0
        self.recall: list[float] = []
        self.op_lat: list[float] = []
        self.index_bytes = 0
        self.search_build_s = self.search_exec_s = 0.0
        self.knn_pairs = 0
        self.knn_exec_s = 0.0
        self.encode_rows_per_s = 0.0
        self.state_bytes_per_vec = 0.0
        self.measuring = True
        #: calibration job times, one before each timed operation
        self.cal: list[float] = []

    # -- bookkeeping ---------------------------------------------------------

    def record(self, what: str, problems: list[str]) -> bool:
        self.attempted += 1
        if problems:
            self.failed += 1
            self.problems += [f"{what}: {p}" for p in problems[:3]]
        return not problems

    def attempt(self, what: str, fn, *args):
        """Run one operation; an exception counts as a failed operation."""
        try:
            return fn(*args)
        except Exception:
            self.record(what, [traceback.format_exc(limit=3)])
            return None

    def op(self, what: str, fn, *args) -> None:
        """One loop operation, timed while measuring, after a run of the
        calibration job."""
        if self.measuring:
            self.cal.append(calibration_job(self.spark))
        t = time.perf_counter()
        self.attempt(what, fn, *args)
        if self.measuring:
            self.op_lat.append(time.perf_counter() - t)

    def load(self, name: str):
        from faisssearcher_spark.sources.catalog import load_table

        with self.tr.span("sources", "load_table"):
            return load_table(self.spark, self.data, name)

    def run(self, seconds: float) -> None:
        """Read the inputs (untimed), build, build the oracle (untimed),
        warm up, then run whole rounds for about ``seconds``: another round
        starts while at least half of the last one's duration is left. The
        calibration job runs twice before the build, untimed, and then
        right before every timed operation."""
        if self.attempt("prepare", self.prepare) is None:
            return
        for _ in range(2):      # the job's own JIT warm-up
            calibration_job(self.spark)
        t0 = time.perf_counter()
        built = self.attempt("build", self.build)
        self.first_build_s = time.perf_counter() - t0
        if built is None:
            return
        self.record("build", [])
        self.index_bytes = self.measure_index()
        if self.attempt("oracle", self.built) is None:
            return
        # the first rounds pay plan compilation and JIT warm-up that later
        # rounds do not: checked, not timed
        self.measuring = False
        for r in range(self.warm_rounds):
            self.round(r)
        r = self.warm_rounds
        self.measuring = True
        start = time.perf_counter()
        while r < self.max_rounds and self.failed < 5:
            t = time.perf_counter()
            self.round(r)
            r += 1
            now = time.perf_counter()
            if now - start + (now - t) / 2 > seconds:
                break

    def built(self) -> bool:
        """Untimed work once the first build is done."""
        return True

    def measure_index(self) -> int:
        return storage_bytes(self.spark.sparkContext)

    def search(self, searcher, target, qmat, check, exec_layer: str) -> None:
        """One timed ``search`` plus collect, checked by ``check``."""
        t0 = time.perf_counter()
        with self.tr.span("searcher", "search"):
            res = searcher.search(target, topK=K)
            t1 = time.perf_counter()
            with self.tr.span(exec_layer, "exec"):
                rows = res.select("source_item", "sim_item", "sim_val").collect()
        t2 = time.perf_counter()
        recall, problems = check(rows)
        self.record("search", problems)
        if not self.measuring:
            return
        self.query_lat.append(t2 - t0)
        self.query_rows += len(qmat)
        self.recall.append(recall)
        self.search_build_s += t1 - t0
        self.search_exec_s += t2 - t1
        if exec_layer == "knn":
            self.knn_pairs += len(qmat) * self.corpus_rows
            self.knn_exec_s += t2 - t1


def group_rows(rows, order: list) -> tuple[list[list], int]:
    """Result rows grouped per query in ``order`` as lists of
    ``(item, score)``, and the number of rows naming no such query."""
    by_q: dict = {q: [] for q in order}
    stray = 0
    for r in rows:
        hits = by_q.get(r["source_item"])
        if hits is None:
            stray += 1
        else:
            hits.append((r["sim_item"], r["sim_val"]))
    return [by_q[q] for q in order], stray


class FlatSearch(Workload):
    """Raw-vector mode, cosine, no index: exact search through knn_join.
    Each round trains a fresh searcher, then searches one batch."""

    name = "flat_search"

    @property
    def hooks(self):
        from faisssearcher_spark import searcher

        return ((searcher, "knn_join", "knn"),)

    def prepare(self):
        keys, mat = read_vectors(os.path.join(self.data, "corpus.parquet"))
        self.corpus_rows = len(keys)
        qk, qv, qb = read_vectors(os.path.join(self.data, "queries.parquet"), "batch")
        self.qbatches = [(qk[qb == b], qv[qb == b]) for b in np.unique(qb)]
        self.oracle = oracle.TopK(mat, keys, K)
        self.build_rows = self.corpus_rows
        return True

    def build(self):
        from faisssearcher_spark import SparkSearcher

        corpus = self.load("corpus")
        self.queries = self.load("queries")
        with self.tr.span("searcher", "train"):
            self.searcher = SparkSearcher(
                corpus, vec_col="vec", key_col="key", measurement="cos").train()
            for frame in self.searcher._cached_state():
                frame.count()
        return True

    def rebuild(self) -> None:
        self.searcher.close()
        t0 = time.perf_counter()
        self.build()
        if self.measuring:
            self.builds.append(time.perf_counter() - t0)
        self.record("build", [])

    def round(self, r: int) -> None:
        self.op(f"build {r}", self.rebuild)
        self.op(f"search {r}", self.search_batch, r % len(self.qbatches))

    def search_batch(self, b: int) -> None:
        qkeys, qmat = self.qbatches[b]
        target = self.queries.filter(F.col("batch") == b).select("key", "vec")
        order = qkeys.tolist()

        def check(rows):
            return self.oracle.check(qmat, *group_rows(rows, order), exact=True)

        self.search(self.searcher, target, qmat, check, "knn")

    def close(self) -> None:
        self.searcher.close()


class IngestStream(Workload):
    """Encoder mode over documents, indexed and screened: HashingEncoder
    vectors, a fitted VecsWhitening, an IVF-PQ searcher and an
    EmbeddingStore of the corpus vectors, built once. Each timed round
    searches four batches of query texts, then ingests one document batch:
    encode, screen against the store, add the novel documents to the
    searcher, commit the batch to the store."""

    name = "ingest_stream"
    #: a rebuild costs about 15 s, so the one build is build_s
    first_build_timed = True
    #: a warm-up round is one search: two get the search plan compiled
    warm_rounds = 2
    index_param = "IVF64,PQ8"
    #: fewer k-means and codebook iterations than the index defaults keep
    #: the fit within a few seconds at this corpus size
    index_kwargs = {"kmeans_max_iter": 5, "train_iters": 10}
    n_components = 48
    threshold = 0.9

    @property
    def hooks(self):
        from faisssearcher_spark import searcher
        from faisssearcher_spark.operators.ann import IVFPQIndex
        from faisssearcher_spark.operators.whitening import VecsWhitening

        return ((searcher, "encoder_udf", "encoders"),
                (VecsWhitening, "transform_expr", "whitening"),
                *((IVFPQIndex, a, "ann") for a in ("fit", "add_items", "search")))

    def prepare(self):
        docs_t = pq.read_table(os.path.join(self.data, "docs.parquet"))
        self.doc_texts = docs_t.column("text").to_pylist()
        self.doc_ids = docs_t.column("doc_id").to_numpy()
        st = pq.read_table(os.path.join(self.data, "stream.parquet"))
        s_text, s_id = st.column("text").to_pylist(), st.column("doc_id").to_numpy()
        s_batch, s_dup = st.column("batch").to_numpy(), st.column("dup_of").to_numpy()
        self.sbatches = []
        for b in np.unique(s_batch):
            rows = np.flatnonzero(s_batch == b)
            self.sbatches.append(([s_text[j] for j in rows], s_id[rows], s_dup[rows]))
        q = pq.read_table(os.path.join(self.data, "qtexts.parquet"))
        q_text, q_batch = q.column("text").to_pylist(), q.column("batch").to_numpy()
        self.qbatches = [[q_text[j] for j in np.flatnonzero(q_batch == b)]
                         for b in np.unique(q_batch)]
        self.searches = len(self.qbatches) // len(self.sbatches)
        self.max_rounds = len(self.sbatches)
        self.corpus_rows = self.build_rows = len(self.doc_texts)
        return True

    def build(self):
        from faisssearcher_spark import SparkSearcher
        from faisssearcher_spark.encoders.base import encoder_udf
        from faisssearcher_spark.encoders.mock import HashingEncoder
        from faisssearcher_spark.operators.incremental import EmbeddingStore
        from faisssearcher_spark.operators.whitening import VecsWhitening

        self.encoder = HashingEncoder(dim=64)
        self.encode = encoder_udf(self.encoder)
        docs = self.load("docs")
        self.stream = self.load("stream")
        t0 = time.perf_counter()
        with self.tr.span("encoders", "encode"):
            encoded = docs.withColumn("emb", self.encode(F.col("text"))).cache()
            encoded.count()
        self.encode_rows_per_s = self.corpus_rows / (time.perf_counter() - t0)
        with self.tr.span("whitening", "fit"):
            self.whitening = VecsWhitening(self.n_components).fit(encoded, "emb")
        with self.tr.span("searcher", "train"):
            self.searcher = SparkSearcher(
                docs, encoder=self.encoder, whitening=self.whitening,
                measurement="cos", index_param=self.index_param,
                index_kwargs=self.index_kwargs).train()
            for frame in self.searcher._cached_state():
                frame.count()
        self.store_path = os.path.join(self.work, "estore")
        with self.tr.span("incremental", "commit"):
            self.store = EmbeddingStore(self.spark, self.store_path, dim=64)
            self.store.commit(encoded, id_col="doc_id", vec_col="emb")
        encoded.unpersist(blocking=True)
        return True

    def built(self):
        self.builds.append(self.first_build_s)
        raw = self.encoder.encode(self.doc_texts)
        self.known = dict(zip(self.doc_ids.tolist(), raw))
        w = self.whitening
        self.whiten = lambda m: oracle.whiten(m, w.kernel, w.bias)
        self.texts, self.vecs = list(self.doc_texts), self.whiten(raw)
        self.oracle = oracle.TopK(self.vecs, np.array(self.texts, dtype=object), K)
        self.n_searched = self.n_ingested = 0
        return True

    def measure_index(self) -> int:
        return storage_bytes(self.spark.sparkContext) + dir_bytes(self.store_path)

    def round(self, r: int) -> None:
        # warming up an ingest as well would cost a run about 8 s more
        for _ in range(self.searches if self.measuring else 1):
            self.op(f"search {self.n_searched}", self.search_batch,
                    self.n_searched % len(self.qbatches))
            self.n_searched += 1
        if self.measuring:
            self.op(f"ingest {self.n_ingested}", self.ingest, self.n_ingested)
            self.n_ingested += 1

    def search_batch(self, b: int) -> None:
        texts = self.qbatches[b]
        qmat = self.whiten(self.encoder.encode(texts))

        def check(rows):
            return self.oracle.check(qmat, *group_rows(rows, texts), exact=False)

        self.search(self.searcher, texts, qmat, check, "ann")

    def ingest(self, b: int) -> None:
        """Screen the batch against the store, add its novel documents to
        the searcher, commit the whole batch to the store."""
        texts, ids, dup = self.sbatches[b]
        batch = self.stream.filter(F.col("batch") == b).select("text", "doc_id")
        t0 = time.perf_counter()
        with self.tr.span("encoders", "encode"):
            encoded = batch.withColumn("emb", self.encode(F.col("text"))).cache()
            encoded.count()
        with self.tr.span("incremental", "screen"):
            pairs = [tuple(r) for r in self.store.screen(
                encoded, id_col="doc_id", vec_col="emb",
                threshold=self.threshold).collect()]
        dups = {new for new, _, _ in pairs}
        novel = [k for k in ids.tolist() if k not in dups]
        with self.tr.span("searcher", "add_items"):
            self.searcher.add_items(
                batch.filter(F.col("doc_id").isin(novel)).select("text", "doc_id"))
            for frame in self.searcher._cached_state():
                frame.count()
        with self.tr.span("incremental", "commit"):
            self.store.commit(encoded, id_col="doc_id", vec_col="emb")
        encoded.unpersist(blocking=True)
        elapsed = time.perf_counter() - t0

        raw = self.encoder.encode(texts)
        planted = {(k, d) for k, d in zip(ids.tolist(), dup.tolist()) if d >= 0}
        recall, problems = oracle.check_screen(
            pairs, dict(zip(ids.tolist(), raw)), self.known, planted,
            self.threshold)
        if recall < 1.0:
            problems.append(f"screen missed {len(planted) - round(recall * len(planted))}"
                            f" of {len(planted)} planted near-duplicates")
        self.known.update(zip(ids.tolist(), raw))
        keep = [j for j, k in enumerate(ids.tolist()) if k not in dups]
        self.texts += [texts[j] for j in keep]
        self.vecs = np.concatenate([self.vecs, self.whiten(raw[keep])])
        self.oracle = oracle.TopK(self.vecs, np.array(self.texts, dtype=object), K)
        if self.measuring:
            self.add_s += elapsed
            self.add_rows += len(ids)
        self.record("ingest", problems)

    def close(self) -> None:
        # IVFPQIndex.close() leaves its inner IVFIndex's cached cell
        # assignments persisted; release them through that index's own
        # close() so the leak check sees only unexpected leaks
        index = self.searcher._index
        if index is not None and index._ivf is not None:
            index._ivf.close()
        self.searcher.close()
        committed = len(self.known)
        self.state_bytes_per_vec = dir_bytes(self.store_path) / committed


WORKLOADS = {w.name: w for w in (FlatSearch, IngestStream)}


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)
