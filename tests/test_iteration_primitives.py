"""The shared distributed iteration loops: min-label connected
components (`operators/_util.py`) and level-synchronous BFS
(`operators/graph.py`), checked against plain-Python references."""

from collections import deque

from pyspark.sql import functions as F

from tests.conftest import SF_SMALL


def test_min_label_components_runs_to_fixpoint_on_a_long_path(spark):
    """A 30-node path needs 29 rounds for node 0's label to reach node
    29; the loop must run to the fixpoint, not to a round budget, and
    return one component. An isolated node keeps its own label."""
    from target_s3_parquet_spark.operators._util import min_label_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(29)], "src long, dst long"
    )
    nodes = spark.createDataFrame([(i,) for i in range(31)], "node long")
    got = {
        r.node: r.label for r in min_label_components(edges, nodes).collect()
    }
    assert got == {**{i: 0 for i in range(30)}, 30: 30}


def _python_bfs(adj, seeds, max_hop=8):
    """First-visit hop of every node reachable from ``seeds`` within
    ``max_hop`` hops."""
    hop = {s: 0 for s in seeds}
    todo = deque(seeds)
    while todo:
        u = todo.popleft()
        if hop[u] == max_hop:
            continue
        for v in adj.get(u, ()):
            if v not in hop:
                hop[v] = hop[u] + 1
                todo.append(v)
    return hop


def test_bfs_levels_match_python_bfs_and_the_graph_keys(spark):
    """`_bfs_levels` with one source per node (closeness) and with one
    shared source over several seeds (shortest path) equals a Python
    BFS over the same edge list, and the two graph keys report exactly
    what those distances imply."""
    from target_s3_parquet_spark.operators.graph import (
        _bfs_levels,
        _strong_edges,
        graph_closeness_centrality,
        graph_shortest_path_bfs,
    )
    from target_s3_parquet_spark.operators._util import t

    edges = _strong_edges(spark, SF_SMALL)
    adj: dict[int, list[int]] = {}
    for r in edges.collect():
        adj.setdefault(r.src, []).append(r.dst)
        adj.setdefault(r.dst, []).append(r.src)
    nation = t(spark, SF_SMALL, "nation")
    rows = nation.collect()
    nodes = [r.n_nationkey for r in rows]
    region0 = [r.n_nationkey for r in rows if r.n_regionkey == 0]
    assert adj and region0

    # per-source seeds: all-pairs distances
    seeds = nation.select(F.col("n_nationkey").alias("s"), F.col("n_nationkey").alias("node"))
    got = {(r.s, r.node): r.hop for r in _bfs_levels(edges, seeds).collect()}
    want = {
        (s, v): h for s in nodes for v, h in _python_bfs(adj, [s]).items()
    }
    assert got == want
    closeness = {
        r.nationkey: (r.n_reachable, r.eccentricity, r.harmonic_scaled)
        for r in graph_closeness_centrality(spark, SF_SMALL).collect()
    }
    expect = {}
    for s in nodes:
        d = [h for (src, _), h in want.items() if src == s and h > 0]
        expect[s] = (len(d), max(d, default=0), sum(840 // h for h in d))
    assert closeness == expect

    # one shared seed: multi-source distances
    seeds = nation.filter(F.col("n_regionkey") == 0).select(
        F.lit(0).alias("s"), F.col("n_nationkey").alias("node")
    )
    got = {r.node: r.hop for r in _bfs_levels(edges, seeds).collect()}
    want = _python_bfs(adj, region0)
    assert got == want
    path = {
        r.nationkey: r.hop
        for r in graph_shortest_path_bfs(spark, SF_SMALL).collect()
    }
    assert path == want
