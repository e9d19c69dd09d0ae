"""Seeded input generator for the benchmark workloads.

Every input is a pure function of ``(workload, seed)``: numpy's PCG64
generator draws the vectors and documents, and pyarrow writes them with
fixed writer options, so one seed gives byte-identical parquet files.

- Vectors are a Gaussian mixture around unit-norm centers; a fixed share
  of the query vectors are planted near-neighbours of corpus rows.
- Documents draw their tokens from a Zipf-distributed vocabulary; a fixed
  share of stream documents are planted near-duplicates (a corpus
  document with its tokens reordered) and of query texts planted
  near-neighbours (a corpus document with its last token replaced).

Tables land as ``<out_dir>/<name>.parquet``, the layout
``sources.catalog.load_table`` reads. Corpora are split into
``CORPUS_FILES`` part files, as a multi-file dataset would be, so the
scan has more than one split.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DIM = 64
#: per-dimension noise around a unit-norm center: in-cluster pairs sit
#: near cos 0.7
SPREAD = 0.08
#: per-dimension noise of a planted near-neighbour (cos to its source is
#: about 0.999)
NEAR_NOISE = 0.005
QUERY_KEY_BASE = 10**9
STREAM_KEY_BASE = 10**8
CORPUS_FILES = 8

#: sizes calibrated for 4 cores: a flat_search batch takes about 1.2 s,
#: most of it scoring pairs; an ingest_stream round (four searches, one
#: ingest) about 16 s; the batch pools last for runs several times faster
SIZES = {
    "flat_search": dict(corpus=4096, centers=32, batches=64, batch=64,
                        planted=0.25),
    "ingest_stream": dict(docs=2048, vocab=5000, zipf=1.2, min_len=6,
                          max_len=20, rounds=16, batch=32, dup_rate=0.25,
                          searches=4, query_batch=16, planted=0.5),
}


def unit_centers(rng: np.random.Generator, k: int, dim: int) -> np.ndarray:
    c = rng.standard_normal((k, dim))
    return c / np.linalg.norm(c, axis=1, keepdims=True)


def mixture(rng: np.random.Generator, n: int, centers: np.ndarray,
            spread: float = SPREAD) -> np.ndarray:
    """``n`` float32 points, each around a uniformly chosen center."""
    idx = rng.integers(0, len(centers), n)
    noise = spread * rng.standard_normal((n, centers.shape[1]))
    return (centers[idx] + noise).astype(np.float32)


def near(rng: np.random.Generator, rows: np.ndarray,
         noise: float = NEAR_NOISE) -> np.ndarray:
    """Copies of ``rows`` with small Gaussian noise."""
    return (rows + noise * rng.standard_normal(rows.shape)).astype(np.float32)


def vector_array(mat: np.ndarray) -> pa.Array:
    """``list<float>`` column from an (n, d) float32 matrix."""
    n, d = mat.shape
    offsets = pa.array(np.arange(0, (n + 1) * d, d, dtype=np.int32))
    values = pa.array(np.ascontiguousarray(mat, dtype=np.float32).ravel())
    return pa.ListArray.from_arrays(offsets, values)


def write_table(out_dir: str, name: str, columns: dict, parts: int = 1) -> str:
    """One parquet file, or a directory of ``parts`` files of contiguous
    row ranges."""
    path = os.path.join(out_dir, f"{name}.parquet")
    table = pa.table(columns)
    if parts == 1:
        pq.write_table(table, path, compression="snappy")
        return path
    os.makedirs(path)
    bounds = np.linspace(0, len(table), parts + 1).astype(int)
    for i in range(parts):
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]),
                       os.path.join(path, f"part-{i:05d}.parquet"),
                       compression="snappy")
    return path


def planted_queries(rng, corpus: np.ndarray, centers: np.ndarray,
                    n: int, rate: float):
    """``n`` query vectors: a ``rate`` share are near-neighbours of random
    corpus rows, the rest fresh mixture draws."""
    n_near = int(round(n * rate))
    src = rng.integers(0, len(corpus), n_near)
    q = np.concatenate([near(rng, corpus[src]),
                        mixture(rng, n - n_near, centers)])
    return q[rng.permutation(n)]


def _batched(n_batches: int, batch: int) -> np.ndarray:
    return np.repeat(np.arange(n_batches, dtype=np.int32), batch)


def gen_flat_search(rng, out_dir: str, s: dict) -> dict:
    """A vector corpus and batches of query vectors."""
    centers = unit_centers(rng, s["centers"], DIM)
    corpus = mixture(rng, s["corpus"], centers)
    nq = s["batches"] * s["batch"]
    queries = planted_queries(rng, corpus, centers, nq, s["planted"])
    write_table(out_dir, "corpus", {
        "key": pa.array(np.arange(len(corpus), dtype=np.int64)),
        "vec": vector_array(corpus)}, CORPUS_FILES)
    write_table(out_dir, "queries", {
        "key": pa.array(QUERY_KEY_BASE + np.arange(nq, dtype=np.int64)),
        "vec": vector_array(queries),
        "batch": pa.array(_batched(s["batches"], s["batch"]))})
    return {"corpus_rows": len(corpus)}


def zipf_tokens(rng, n: int, vocab: int, a: float) -> np.ndarray:
    """``n`` token ranks in ``[0, vocab)`` with P(rank r) ∝ 1/(r+1)^a."""
    p = 1.0 / np.arange(1, vocab + 1) ** a
    return rng.choice(vocab, size=n, p=p / p.sum())


def documents(rng, n: int, s: dict) -> list[str]:
    lens = rng.integers(s["min_len"], s["max_len"] + 1, n)
    toks = zipf_tokens(rng, int(lens.sum()), s["vocab"], s["zipf"])
    out, pos = [], 0
    for ln in lens:
        out.append(" ".join(f"t{r}" for r in toks[pos:pos + ln]))
        pos += ln
    return out


def _shuffled(rng, text: str) -> str:
    """The text's tokens in another order: a different document with the
    same bag of words, so a bag-of-words encoder maps both to one vector."""
    toks = text.split(" ")
    for _ in range(8):
        out = " ".join(rng.permutation(toks))
        if out != text:
            return out
    return text + " " + toks[0]


def gen_ingest_stream(rng, out_dir: str, s: dict) -> dict:
    """A document corpus, a stream of document batches with near-duplicate
    corpus documents planted at ``dup_rate``, and batches of query texts
    with near-neighbours of corpus documents planted at ``planted``."""
    n_new = s["rounds"] * s["batch"]
    n_dup = int(round(s["batch"] * s["dup_rate"]))
    fresh_per_batch = s["batch"] - n_dup
    # unique texts: the text column is the searcher's item key
    pool = list(dict.fromkeys(documents(rng, s["docs"] + n_new + 64, s)))
    docs, fresh = pool[:s["docs"]], pool[s["docs"]:]
    if len(fresh) < s["rounds"] * fresh_per_batch:
        raise ValueError("too many duplicate documents; widen the vocabulary")
    texts, dup_of = [], []
    for r in range(s["rounds"]):
        src = rng.choice(len(docs), n_dup, replace=False)
        batch = [_shuffled(rng, docs[i]) for i in src] \
            + fresh[r * fresh_per_batch:(r + 1) * fresh_per_batch]
        origin = np.concatenate([src, np.full(fresh_per_batch, -1)])
        perm = rng.permutation(s["batch"])
        texts += [batch[i] for i in perm]
        dup_of.append(origin[perm])
    n_q = int(round(s["query_batch"] * s["planted"]))
    queries = []
    for _ in range(s["rounds"] * s["searches"]):
        batch: dict[str, None] = {}
        # planted: a corpus document with its last token replaced, so its
        # source document is the clear nearest neighbour
        for i in rng.choice(len(docs), n_q, replace=False):
            toks = docs[i].split(" ")
            toks[-1] = f"t{int(zipf_tokens(rng, 1, s['vocab'], s['zipf'])[0])}"
            batch[" ".join(toks)] = None
        while len(batch) < s["query_batch"]:
            batch[documents(rng, 1, s)[0]] = None
        queries += list(batch)
    write_table(out_dir, "docs", {
        "text": pa.array(docs),
        "doc_id": pa.array(np.arange(len(docs), dtype=np.int64))}, CORPUS_FILES)
    write_table(out_dir, "stream", {
        "text": pa.array(texts),
        "doc_id": pa.array(STREAM_KEY_BASE + np.arange(n_new, dtype=np.int64)),
        "batch": pa.array(_batched(s["rounds"], s["batch"])),
        "dup_of": pa.array(np.concatenate(dup_of).astype(np.int64))})
    write_table(out_dir, "qtexts", {
        "text": pa.array(queries),
        "batch": pa.array(_batched(s["rounds"] * s["searches"],
                                   s["query_batch"]))})
    return {"corpus_rows": len(docs)}


GENERATORS = {
    "flat_search": gen_flat_search,
    "ingest_stream": gen_ingest_stream,
}


def generate(workload: str, seed: int, out_dir: str) -> dict:
    """Write the workload's tables for ``seed`` under ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, sorted(GENERATORS).index(workload)])
    return GENERATORS[workload](rng, out_dir, SIZES[workload])
