"""Driver-local union-find for SMALL edge lists.

The distributed connected-components kernel (operators/cc.py) pays
several shuffle/checkpoint jobs PER ROUND — the right trade when the
pair list is millions of rows, pure overhead when it is hundreds (a
near-dup pair list is usually a tiny fraction of the corpus). The
kernel therefore gates on its pair count and routes small graphs
here: one collect of (u, v) ids, a path-compressed
union-find (O(E α(E)) — microseconds at the gate size), one
createDataFrame back. Same adaptive philosophy as a broadcast join —
ship the small side to one node because distribution costs more than it
buys — with the distributed kernel unchanged above the gate.

The collect site lives in this dedicated module so the engine-policy
allowlist (tests/test_engine_policy.py) stays per-purpose: cc.py
itself remains driver-materialization-free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def union_find_labels(
    edges: DataFrame, src: str = "u", dst: str = "v"
) -> DataFrame:
    """(node, comp) for every node appearing in ``edges``; comp = the
    smallest node id of its component (the same canonical labeling the
    distributed kernel produces). Caller gates on edge count."""
    node_type = dict(edges.dtypes)[src]
    rows = edges.select(src, dst).collect()  # gated small (see module doc)

    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for r in rows:
        a, b = r[0], r[1]
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    labels = [(n, find(n)) for n in parent]
    return edges.sparkSession.createDataFrame(
        labels, f"node {node_type}, comp {node_type}"
    )
