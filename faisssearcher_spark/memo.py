"""Session memo: build once per key, refresh on demand, release explicitly.

The reference trains once and searches many times (faiss_searcher.py:116-125
trains, :161-187 searches the trained index). The bench prices that shape by
memoizing eager work per Spark session (fitted indexes, landed frames,
collected store-arc rows, streamed state dirs) in one :class:`SessionMemo`.

Keys are tuples whose first element is the session id (the bench uses
``(applicationId, sf_dir, spec)``). The lifecycle:

- :meth:`SessionMemo.get` builds a key once. Different keys build
  concurrently; same-key callers wait on a per-key lock and read the
  winner's entry. The per-key lock lives while any caller holds or waits on
  it, so a :meth:`~SessionMemo.close` during a build can never let a second
  caller build the same key. (A double build cannot simply be closed away:
  Spark's CacheManager dedups cached data by logical plan, so a plan-equal
  loser's unpersist would evict the winner's cache too.)
- :meth:`SessionMemo.refresh` always builds and replaces the entry (the
  bench's fresh-timing legs). The entry it replaces may still back a lazy
  plan, so it is released at the next ``close()``, not on replacement.
- :meth:`SessionMemo.close` releases every current and superseded entry
  that has a ``close()``, once each. Plain values (collected rows, paths)
  pin no executor storage and stay memoized.
- A lookup under a new session id drops the dead session's entries
  without calling ``close()``: their SparkContext is gone, so dropping the
  Python references is the release.
- :meth:`SessionMemo.tmpdir` hands out directories under one temp root
  that a single ``atexit`` hook removes (state a lazy plan may still read
  is deleted at exit, never earlier).
"""

from __future__ import annotations

import atexit
import shutil
import tempfile
import threading
from typing import Any, Callable, Hashable


class SessionMemo:
    """Session-keyed build-once / refresh / close store (module docstring)."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._entries: dict = {}
        #: superseded entries that have a close(), as (key, entry)
        self._retired: list = []
        #: key -> [build lock, callers holding or waiting on it]
        self._key_locks: dict = {}
        self._root: str | None = None

    def __contains__(self, key: Hashable) -> bool:
        with self._lock:
            return key in self._entries

    def get(self, key: tuple, build: Callable[[], Any]) -> Any:
        """The entry for ``key``, built by ``build()`` on first use."""
        return self._build(key, build, refresh=False)

    def refresh(self, key: tuple, build: Callable[[], Any]) -> Any:
        """Run ``build()`` and make its result the entry for ``key``."""
        return self._build(key, build, refresh=True)

    def _build(self, key: tuple, build: Callable[[], Any],
               refresh: bool) -> Any:
        with self._lock:
            self._evict_other_sessions(key[0])
            slot = self._key_locks.setdefault(key, [threading.Lock(), 0])
            slot[1] += 1
        try:
            with slot[0]:
                if not refresh:
                    with self._lock:
                        hit = key in self._entries
                        entry = self._entries.get(key)
                    if hit:
                        _recache(entry)
                        return entry
                entry = build()
                with self._lock:
                    old = self._entries.get(key)
                    if old is not None and old is not entry \
                            and hasattr(old, "close"):
                        self._retired.append((key, old))
                    self._entries[key] = entry
                return entry
        finally:
            with self._lock:
                slot[1] -= 1
                if not slot[1]:
                    del self._key_locks[key]

    def _evict_other_sessions(self, session: Hashable) -> None:
        for k in [k for k in self._entries if k[0] != session]:
            del self._entries[k]
        self._retired = [(k, e) for k, e in self._retired
                         if k[0] == session]

    def close(self) -> int:
        """Release every current and superseded entry that has a
        ``close()``; returns how many were released. An entry a build
        still in flight inserts afterwards is released by the next call."""
        with self._lock:
            live = [k for k, e in self._entries.items()
                    if hasattr(e, "close")]
            doomed = [self._entries.pop(k) for k in live]
            doomed += [e for _, e in self._retired]
            self._retired = []
        for entry in doomed:
            try:
                entry.close()
            except Exception:
                # a stopped session makes unpersist() throw; dropping the
                # reference is the release then
                pass
        return len(doomed)

    def tmpdir(self, prefix: str = "") -> str:
        """A fresh directory under the memo's temp root, removed at exit."""
        with self._lock:
            if self._root is None:
                self._root = tempfile.mkdtemp(prefix="fs_session_memo_")
                atexit.register(shutil.rmtree, self._root, True)
        return tempfile.mkdtemp(prefix=prefix, dir=self._root)


def _recache(entry: Any) -> None:
    """Re-register ``cache()`` on entry frames a ``clearCache()`` dropped.

    The bench's isolated pass clears the session cache, which drops a
    fitted index's encoded-state registration for good; re-registering on
    hit (lazy and idempotent) keeps isolated samples pricing the search,
    not encode + search. ``is_cached`` stays True after ``clearCache()``
    (a stale flag); the storage level collapsing to NONE is the signal."""
    state = getattr(entry, "_cached_state", None)
    for frame in state() if state is not None else ():
        level = frame.storageLevel
        if not (level.useMemory or level.useDisk):
            frame.cache()


class LandedFrame:
    """Memo entry for a persisted DataFrame several invocations read (the
    curate survivor table). ``holds`` keeps upstream result objects alive
    so their own release finalizers don't fire while this frame still
    reads through their caches."""

    def __init__(self, df, holds=()):
        self.df = df.persist()
        self._holds = tuple(holds)

    def _cached_state(self):
        return [] if self.df is None else [self.df]

    def close(self) -> None:
        if self.df is not None:
            self.df.unpersist(True)
        self.df = None
        self._holds = ()
