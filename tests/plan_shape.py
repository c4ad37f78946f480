"""Read a physical plan string (``executedPlan().toString()``) as a tree, for
the tests that pin which join strategy a scan feeds."""

import re

# a scan's location is truncated in the plan string, so a corpus table is
# matched by its scanned columns instead
BLOCK_INDEX_SCAN = r"\[block_key#\d+L,mention_id#\d+L\]"
CLUSTERS_SCAN = r"\[mention_id#\d+,cluster_id#\d+L\]"


def plan_nodes(plan: str) -> list[tuple[int, str]]:
    """Parse Spark's physical-plan tree string into (depth, text) nodes —
    each tree level adds one 3-char prefix group (':  ', '   ', ':- ', '+- ')."""
    out = []
    for ln in plan.splitlines():
        i = 0
        while ln[i : i + 3] in (":  ", "   ", ":- ", "+- "):
            i += 3
        txt = ln[i:].strip()
        if txt:
            out.append((i // 3, txt))
    return out


def scans(nodes: list[tuple[int, str]], pattern: str = "") -> list[int]:
    """Indexes of the file-scan nodes whose text matches ``pattern``."""
    return [
        i
        for i, (_, t) in enumerate(nodes)
        if ("Scan parquet" in t or "FileScan" in t) and re.search(pattern, t)
    ]


def ancestors(nodes: list[tuple[int, str]], i: int):
    """The texts of node ``i``'s ancestors, nearest first."""
    depth = nodes[i][0]
    for j in range(i - 1, -1, -1):
        d, t = nodes[j]
        if d < depth:
            depth = d
            yield t


def join_above(plan: str, pattern: str, join_type: str) -> set[str]:
    """The strategies ("BroadcastHashJoin", "SortMergeJoin", ...) of the
    nearest ``join_type`` join ("Inner", "LeftAnti", ...) above every scan
    matching ``pattern`` — the join a corpus table feeds, past any semi/anti
    filters on the way."""
    nodes = plan_nodes(plan)
    out = set()
    for i in scans(nodes, pattern):
        for t in ancestors(nodes, i):
            if "Join" in t and f", {join_type}" in t:
                out.add(next(w for w in t.split() if w.endswith("Join")))
                break
    return out
