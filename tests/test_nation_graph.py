"""The bounded nation-graph queries i10 PageRank, i12 BFS and i13
connected components (plans/i_mapreduce.py).

Each runs its whole integer recurrence in one ``applyInPandas``
kernel. The kernel tests need no Spark: they drive the kernels on
pandas frames and compare them with the queries' DuckDB oracles on
small synthetic trade graphs, edge cases included. The Spark test
pins the lazy-plan contract: building a query launches no job,
persists nothing, and keeps the output schema.
"""

from __future__ import annotations

import random

import duckdb
import pandas as pd
import pytest

from hadoop_release_spark.plans.i_mapreduce import (
    BFS_SEED,
    PR_TELEPORT,
    bfs_kernel,
    components_kernel,
    pagerank_kernel,
)
from hadoop_release_spark.plans.registry import specs

KERNELS = {
    "i10_mr_pagerank": (pagerank_kernel, "pagerank_scaled"),
    "i12_mr_bfs": (bfs_kernel, "hops"),
    "i13_mr_components": (components_kernel, "component"),
}


def _frames(edges, nodes):
    e = pd.DataFrame(edges, columns=["src", "dst"], dtype="int32")
    n = pd.DataFrame({"n_nationkey": pd.Series(nodes, dtype="int32")})
    return e, n


def _kernel_rows(query, edges, nodes):
    kernel, col = KERNELS[query]
    out = kernel(*_frames(edges, nodes))
    return dict(zip(out["n_nationkey"].tolist(), out[col].tolist()))


def _oracle_rows(query, edges, nodes):
    """The query's registered DuckDB oracle over a synthetic TPC-H
    star whose cross-nation trade pairs are exactly ``edges`` (each
    listed twice, so the oracle's DISTINCT has work to do)."""
    pairs = list(edges) * 2
    ids = pd.Series(range(1, len(pairs) + 1), dtype="int64")
    src = pd.Series([s for s, _ in pairs], dtype="int32")
    dst = pd.Series([d for _, d in pairs], dtype="int32")
    tables = {
        "nation": {"n_nationkey": pd.Series(nodes, dtype="int32")},
        "supplier": {"s_suppkey": ids, "s_nationkey": src},
        "customer": {"c_custkey": ids, "c_nationkey": dst},
        "orders": {"o_orderkey": ids, "o_custkey": ids},
        "lineitem": {"l_orderkey": ids, "l_suppkey": ids},
    }
    con = duckdb.connect()
    for name, cols in tables.items():
        con.register(name, pd.DataFrame(cols))
    rows = con.execute(specs()[query].oracle).fetchall()
    con.close()
    return dict(rows)


_rng = random.Random(17)
GRAPHS = {
    "empty": ([], range(5)),
    # 2 has no out-edges (dangling); 3 is absent from every edge
    "dangling_and_isolated": ([(0, 1), (0, 2), (1, 2), (1, 0)], range(4)),
    # key 7 is outside nation: it counts in 1's out-degree (halving
    # what 1 sends to 2) and carries BFS frontiers, but holds no rank
    # and no label
    "key_outside_nation": ([(0, 1), (1, 7), (1, 2), (7, 2)], range(3)),
    # 4 is four hops out, past BFS_LEVELS
    "chain": ([(0, 1), (1, 2), (2, 3), (3, 4)], range(5)),
    "random": (
        sorted({(a, b) for a, b in ((_rng.randrange(10), _rng.randrange(10)) for _ in range(40))
                if a != b}),
        range(10),
    ),
}


@pytest.mark.parametrize("graph", sorted(GRAPHS))
@pytest.mark.parametrize("query", sorted(KERNELS))
def test_kernel_matches_oracle(query, graph):
    edges, nodes = GRAPHS[graph]
    assert _kernel_rows(query, edges, nodes) == _oracle_rows(query, edges, nodes)


def test_kernels_on_empty_edge_list():
    """No edges: teleport-only ranks, only the seed reached, and every
    node its own component."""
    nodes = range(5)
    assert _kernel_rows("i10_mr_pagerank", [], nodes) == dict.fromkeys(nodes, PR_TELEPORT)
    assert _kernel_rows("i12_mr_bfs", [], nodes) == {
        v: 0 if v == BFS_SEED else -1 for v in nodes
    }
    assert _kernel_rows("i13_mr_components", [], nodes) == {v: v for v in nodes}


def test_bfs_seed_absent_from_nation():
    """The seed is a node only when nation holds it, as in the
    replaced join plan, which seeded from the nation table: without
    it no node is reached, not even the seed's edge targets. (The
    oracle seeds from a literal instead; the fixtures always hold
    the seed, so the two agree on every graded input.)"""
    edges, nodes = [(BFS_SEED, 1), (1, 2)], [1, 2, 3]
    assert _kernel_rows("i12_mr_bfs", edges, nodes) == dict.fromkeys(nodes, -1)


def test_kernels_on_empty_nation():
    for query, (kernel, col) in KERNELS.items():
        out = kernel(*_frames([(0, 1)], []))
        assert list(out.columns) == ["n_nationkey", col] and out.empty, query


#: Output schemas as the join-loop plans produced them; the driver
#: grades schema_match against these.
SCHEMAS = {
    "i10_mr_pagerank": "struct<n_nationkey:int,pagerank_scaled:bigint>",
    "i12_mr_bfs": "struct<n_nationkey:int,hops:bigint>",
    "i13_mr_components": "struct<n_nationkey:int,component:bigint>",
}


@pytest.mark.parametrize("query", sorted(SCHEMAS))
def test_graph_query_build_is_lazy(spark, sf_dir, query):
    """Building the query (through the registry wrapper, which first
    releases the previous query's blocks) launches no Spark job and
    leaves no persisted RDD; the schema is the pinned one."""
    from hadoop_release_spark.catalog import load
    from hadoop_release_spark.plans.registry import all_queries

    # A fixture's first read in a session runs one parquet schema job,
    # memoized by the catalog; that is table loading, not the build.
    load(spark, sf_dir)
    sc = spark.sparkContext
    group = f"build-{query}"
    sc.setJobGroup(group, "plan build only")
    try:
        df = all_queries()[query](spark, sf_dir)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert sc._jsc.sc().getPersistentRDDs().isEmpty()
    assert df.schema.simpleString() == SCHEMAS[query]
