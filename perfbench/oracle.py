"""Numpy oracle for the benchmark's outputs.

Exact float64 top-K with ties broken by ascending item key, which is
``knn_join``'s rule. The scores mirror the engine's arithmetic: vectors
are L2-normalized in float64, stored as float32 (the searcher's storage
format), and scored as float64 dot products. A returned item counts as
correct when its oracle score is within ``TOL`` of the K-th best score,
so an exact tie at the K-th place may resolve either way.
"""

from __future__ import annotations

import numpy as np

TOL = 1e-6


def normalize32(mat: np.ndarray) -> np.ndarray:
    """Rows L2-normalized in float64 then rounded to float32; zero rows
    stay zero (the engine's zero-norm rule)."""
    m = np.asarray(mat, dtype=np.float64)
    norms = np.linalg.norm(m, axis=1, keepdims=True)
    return (m / np.where(norms == 0, 1.0, norms)).astype(np.float32)


def whiten(mat: np.ndarray, kernel: np.ndarray, bias: np.ndarray) -> np.ndarray:
    """``VecsWhitening``'s transform ``(x + bias) @ kernel`` in float64."""
    return (np.asarray(mat, dtype=np.float64) + bias) @ kernel


class TopK:
    """Exact cosine top-K of query rows against a keyed corpus."""

    def __init__(self, corpus: np.ndarray, keys: np.ndarray, k: int = 10):
        self.items = normalize32(corpus).astype(np.float64)
        self.keys = np.asarray(keys)
        self.k = k
        self._pos = {key: i for i, key in enumerate(self.keys.tolist())}

    def scores(self, queries: np.ndarray) -> np.ndarray:
        return normalize32(queries).astype(np.float64) @ self.items.T

    def top(self, queries: np.ndarray):
        """``(keys, scores)`` of each query's top-K, ties by ascending key."""
        s = self.scores(queries)
        order = np.lexsort((np.broadcast_to(self.keys, s.shape), -s), axis=1)
        top = order[:, :self.k]
        return self.keys[top], np.take_along_axis(s, top, axis=1)

    def check(self, queries: np.ndarray, returned: list[list], stray: int = 0,
              *, exact: bool) -> tuple[float, list[str]]:
        """Tie-tolerant recall@K of ``returned`` — one list of
        ``(item_key, sim_val)`` per query row — plus the problems found;
        ``stray`` counts result rows that named no query.

        With ``exact`` every query must get exactly K distinct items, each
        within ``TOL`` of the K-th best, with ``sim_val`` within ``TOL`` of
        the oracle score. Otherwise (an ANN index) a query may get fewer
        rows and only the keys are checked."""
        s = self.scores(queries)
        k = min(self.k, s.shape[1])
        kth = -np.partition(-s, k - 1, axis=1)[:, k - 1]
        hits = 0
        problems = [f"{stray} rows for unknown queries"] if stray else []
        for qi, rows in enumerate(returned):
            keys = [r[0] for r in rows]
            if len(set(keys)) != len(keys):
                problems.append(f"query {qi}: duplicate items")
            if (exact and len(rows) != k) or not 1 <= len(rows) <= k:
                problems.append(f"query {qi}: {len(rows)} rows, want {k}")
            for key, val in rows:
                pos = self._pos.get(key)
                if pos is None:
                    problems.append(f"query {qi}: unknown item {key!r}")
                    continue
                good = s[qi, pos] >= kth[qi] - TOL
                hits += good
                if exact and not good:
                    problems.append(f"query {qi}: item {key!r} scores "
                                    f"{s[qi, pos]:.7f} < K-th {kth[qi]:.7f}")
                if exact and abs(val - s[qi, pos]) > TOL:
                    problems.append(f"query {qi}: sim_val {val:.7f} != "
                                    f"oracle {s[qi, pos]:.7f}")
        return hits / (k * len(returned)), problems


def cosine(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Row-wise cosine of two (n, d) matrices in float64."""
    a = np.asarray(a, dtype=np.float64)
    b = np.asarray(b, dtype=np.float64)
    den = np.linalg.norm(a, axis=1) * np.linalg.norm(b, axis=1)
    return np.where(den == 0, 0.0, (a * b).sum(1) / np.where(den == 0, 1, den))


def check_screen(pairs: list[tuple], new_vecs: dict, known_vecs: dict,
                 planted: set[tuple], threshold: float
                 ) -> tuple[float, list[str]]:
    """Planted-pair recall of an ``EmbeddingStore.screen`` result plus the
    problems found. Every returned ``(new_id, known_id, cos_sim)`` must
    name known vectors and score, against the known side rounded to
    float16 (the store's codec), within ``TOL`` of ``cos_sim`` and at or
    above ``threshold``."""
    problems = []
    seen = set()
    for new_id, known_id, sim in pairs:
        if (new_id, known_id) in seen:
            problems.append(f"duplicate pair {(new_id, known_id)}")
        seen.add((new_id, known_id))
        if new_id not in new_vecs or known_id not in known_vecs:
            problems.append(f"unknown ids {(new_id, known_id)}")
            continue
        known = known_vecs[known_id].astype(np.float16)
        want = float(cosine(new_vecs[new_id][None, :], known[None, :])[0])
        if abs(want - sim) > TOL or want < threshold - TOL:
            problems.append(f"pair {(new_id, known_id)}: cos_sim {sim:.7f},"
                            f" oracle {want:.7f}")
    recall = len(planted & seen) / len(planted) if planted else 1.0
    return recall, problems
