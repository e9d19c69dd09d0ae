"""Physical-plan inspection helpers.

The engine's scale guarantees are *plan-shape* guarantees: the flagship
knn path must broadcast its small side and push the rank limit below the
shuffle; parquet scans must carry pushed filters and pruned schemas.
These helpers make those properties assertable in tests and CI instead of
eyeballed in ``.explain`` output.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def executed_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def has_window_group_limit(df: DataFrame) -> bool:
    """True when Catalyst inserted a WindowGroupLimit (partial per-partition
    top-k below the exchange) — the scalable rank≤k plan."""
    return "WindowGroupLimit" in executed_plan(df)


def has_broadcast_join(df: DataFrame) -> bool:
    plan = executed_plan(df)
    return "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def plan_size_bytes(df: DataFrame) -> int | None:
    """Catalyst's optimized-plan size estimate in bytes, or None when the
    estimate is unavailable/unknown (the JVM signals "no idea" with a
    defaultSizeInBytes near Long.Max). Used by knn_join's auto-strategy
    quadrant pick and the sink compactor's file-count sizing."""
    try:
        stats = df._jdf.queryExecution().optimizedPlan().stats()
        size = int(str(stats.sizeInBytes()))
    except Exception:
        return None
    if size <= 0 or size >= (1 << 62):
        return None
    return size


def broadcast_exchange_subtrees(df: DataFrame) -> list[str]:
    """The plan subtree under each BroadcastExchange node.

    Lets tests assert *what* is being broadcast, not merely that a
    broadcast exists — e.g. the grid knn kernel may broadcast its
    replication range, never the |items|-row corpus. Subtrees are cut by the tree-drawing indentation of
    ``toString`` (children are indented past their parent's ``+-``/``:-``
    marker).
    """
    lines = executed_plan(df).splitlines()

    def depth(ln: str) -> int:
        m = re.search(r"[+:]- ", ln)
        return m.start() if m is not None else -1

    out: list[str] = []
    for i, ln in enumerate(lines):
        if "BroadcastExchange" not in ln:
            continue
        d = depth(ln)
        sub = [ln]
        for nxt in lines[i + 1:]:
            nd = depth(nxt)
            if nd <= d:
                break
            sub.append(nxt)
        out.append("\n".join(sub))
    return out


def pushed_filters(df: DataFrame) -> list[str]:
    """PushedFilters entries from every parquet scan in the plan.

    Spark's plan toString truncates long field lists ("..." with no
    closing bracket), so parse up to the bracket, an ellipsis, or the
    next `key:` — whichever comes first.
    """
    plan = executed_plan(df)
    out: list[str] = []
    for m in re.finditer(
            r"PushedFilters: \[(.*?)(?:\]|\.\.\.|, [A-Z]\w+:)", plan):
        if m.group(1).strip():
            out.extend(s.strip() for s in m.group(1).split(","))
    return out
