"""Driver-local solves for SMALL edge lists: union-find and PageRank.

The distributed graph kernels (operators/cc.py connected components,
operators/graph.py PageRank on a symmetric edge list) pay several
shuffle/checkpoint jobs PER ROUND — the right trade when the edge list
is millions of rows, pure overhead when it is hundreds or a few
thousand. Each kernel counts its edge list before the rounds anyway
(cc: the raw pair count; PageRank: the degree table it sums), compares
that count with its gate below, and routes small graphs here: one Arrow
fetch of the edge ids (``fetch_edges``), the same recurrence on the
driver, one Arrow-built frame back (sources/readers.local_frame). Same
adaptive philosophy as a broadcast join — ship the small side to one
node because distribution costs more than it buys — with the
distributed kernels unchanged above the gates.

The fetch site lives in this dedicated module so the engine-policy
allowlist (tests/test_engine_policy.py) stays per-purpose: cc.py and
graph.py themselves remain driver-materialization-free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from mle_proj_datapipeline_spark.sources.readers import local_frame

# Connected components' gate (unique input pairs): a pure-Python
# union-find over the fetched ids.
DRIVER_MAX_EDGES = 100_000

# PageRank's gate (distinct directed edges of a symmetric edge list).
# The driver arm costs one Arrow fetch plus O(iterations · |E|) NumPy;
# the distributed arm a fixed set of jobs per round. Measured on a
# 4-core local[4] session, 5 rounds, symmetric distinct edge lists,
# seconds per call with its collect (median of 3 warm calls; driver /
# distributed, 4 / 14 jobs): the sf0.01 supplier graph (9,900 edges)
# 0.93 / 2.52; random 99k 0.78 / 3.26; random 299k 0.95 / 3.41; the
# sf0.1 supplier graph (907k) 1.17 / 3.36; random 2.0M 2.80 / 4.69.
# The driver arm wins at every measured size, so the gate is not a
# speed crossover: it bounds what one call ships to the driver (16
# bytes an edge, 16 MB at the gate) and keeps larger graphs
# distributed.
PAGERANK_DRIVER_MAX_EDGES = 1_000_000


def fetch_edges(edges: DataFrame, src: str, dst: str):
    """The (src, dst) columns of a gated-small edge list as one
    ``pyarrow.Table`` — the one driver fetch both solves share."""
    return edges.select(src, dst).toArrow()  # gated small (see module doc)


def union_find_labels(
    edges: DataFrame, src: str = "u", dst: str = "v"
) -> DataFrame:
    """(node, comp) for every node appearing in ``edges``; comp = the
    smallest node id of its component (the same canonical labeling the
    distributed kernel produces). Caller gates on edge count."""
    node_type = dict(edges.dtypes)[src]
    t = fetch_edges(edges, src, dst)

    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in zip(t.column(0).to_pylist(), t.column(1).to_pylist()):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    labels = [(n, find(n)) for n in parent]
    return local_frame(
        edges.sparkSession, labels, f"node {node_type}, comp {node_type}"
    )


def local_pagerank(edges: DataFrame, iterations: int, damping: float) -> DataFrame:
    """(node, r) PageRank of a distinct, symmetric (src, dst) edge list
    on the driver; caller gates on edge count.

    The recurrence is operators/graph.pagerank's: vertex set = the
    sources, rank₀ = 1/n, each round w = r/deg per source, m = Σ w over
    incoming edges, r = (1-d)/n + d·m. Values agree with the
    distributed rounds to summation order (~1 ulp per round). A
    destination that is not a source means the list is not symmetric:
    ValueError, not ranks that leak mass."""
    import numpy as np

    t = fetch_edges(edges, "src", "dst")
    schema = f"node {dict(edges.dtypes)['src']}, r double"
    nodes, s = np.unique(t.column(0).to_numpy(), return_inverse=True)
    n = len(nodes)
    if n == 0:
        return local_frame(edges.sparkSession, [], schema)
    d = t.column(1).to_numpy()
    tgt = np.minimum(np.searchsorted(nodes, d), n - 1)
    if not (nodes[tgt] == d).all():
        raise ValueError(
            "pagerank(symmetric=True): some destinations are not sources; "
            "the edge list is not symmetric"
        )
    deg = np.bincount(s, minlength=n)
    teleport = (1.0 - damping) / n
    r = np.full(n, 1.0 / n)
    for _ in range(iterations):
        w = r / deg
        r = teleport + damping * np.bincount(tgt, weights=w[s], minlength=n)
    return local_frame(
        edges.sparkSession, list(zip(nodes.tolist(), r.tolist())), schema
    )
