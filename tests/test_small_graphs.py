"""Small graphs in one Arrow task: op220's dense triangle kernel and
op96/op221's union-find components against the distributed algorithms
they stand in for, plus the size and exactness guards that choose
between them.

The one-task paths run whenever the vertex set fits the session's
broadcast budget, which at test scale is always; each fallback is
reached here by setting that budget to -1 (disabled) or by calling the
distributed algorithm directly.
"""

from __future__ import annotations

import itertools
import random
from collections import Counter

import pytest

from ocdb_server_spark.functions import graph_kernels
from ocdb_server_spark.operators import graph
from ocdb_server_spark.registry import load_all

OPS = load_all()
_BUDGET = "spark.sql.autoBroadcastJoinThreshold"


def _brute_triangles(edge_list):
    nbrs: dict[int, set[int]] = {}
    for a, b in edge_list:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    out: Counter = Counter()
    for a, b, c in itertools.combinations(sorted(nbrs), 3):
        if b in nbrs[a] and c in nbrs[a] and c in nbrs[b]:
            out.update((a, b, c))
    return dict(out)


def _hub_graph():
    """op220's hub-graph fixture: node 0 adjacent to everyone, a
    triangle fan off the hub, plus one hub-free triangle."""
    edge_list = [(0, k) for k in range(1, 21)]
    edge_list += [(k, k + 1) for k in range(1, 20)]
    edge_list += [(30, 31), (30, 32), (31, 32)]
    return edge_list


def _random_graphs(rng, count):
    for _ in range(count):
        n = rng.randint(3, 40)
        p = rng.random()
        ids = rng.sample(range(1, 10**6), n)
        yield [
            (ids[a], ids[b]) if ids[a] < ids[b] else (ids[b], ids[a])
            for a in range(n)
            for b in range(a + 1, n)
            if rng.random() < p
        ]


def _rows(df, *cols):
    return {tuple(r[c] for c in cols) for r in df.collect()}


def test_triangle_dense_matches_edge_iterator(spark):
    """The dense A·A∘A task, the broadcast edge-iterator and the
    shuffle edge-iterator return the same rows as brute-force
    enumeration, on the hub graph and on random graphs (random ids, so
    the dense numbering is exercised)."""
    graphs = [_hub_graph()] + list(_random_graphs(random.Random(7), 6))
    saved = spark.conf.get(_BUDGET)
    for edge_list in graphs:
        edges = spark.createDataFrame(edge_list, "s1 long, s2 long")
        expect = set(_brute_triangles(edge_list).items())
        dense = _rows(
            graph._dense_triangle_counts(edges, max_nodes=64),
            "s_suppkey", "n_triangles",
        )
        bcast = _rows(
            graph._triangle_counts(edges, broadcast_adj=True),
            "s_suppkey", "n_triangles",
        )
        try:
            spark.conf.set(_BUDGET, "-1")
            shuffled = _rows(
                graph._triangle_counts(edges, broadcast_adj=False),
                "s_suppkey", "n_triangles",
            )
        finally:
            spark.conf.set(_BUDGET, saved)
        assert dense == bcast == shuffled == expect


def test_triangle_kernel_exactness_and_budget_guard():
    """The dense guard admits n nodes only while every count is exact
    in float64 (n² < 2⁵³) and the kernel's n×n arrays fit the budget;
    counts on a complete graph are exact; more nodes than the task was
    sized for raise instead of allocating."""
    n = 300
    need = graph_kernels.triangle_kernel_bytes(n)
    assert need == 3 * 8 * n * n
    assert graph_kernels.triangle_kernel_fits(n, need)
    assert not graph_kernels.triangle_kernel_fits(n, need - 1)
    # past 2⁵³ no budget admits the float64 kernel
    big = 2**27
    assert not graph_kernels.triangle_kernel_fits(big, 10 * big * big * 8)
    # K_n: every node lies in C(n-1, 2) triangles
    k_n = list(itertools.combinations(range(n), 2))
    got = dict(graph_kernels.triangle_counts(iter(k_n), max_nodes=n))
    assert got == {v: (n - 1) * (n - 2) // 2 for v in range(n)}
    with pytest.raises(ValueError, match="exceed"):
        list(graph_kernels.triangle_counts(iter(k_n), max_nodes=n - 1))


def test_kernel_size_estimates_bound_their_allocations():
    """tracemalloc peaks of both kernels stay within the estimates their
    guards use: a complete graph for the triangle kernel, 10⁴-vertex
    chains (edges made inside the traced region, so every boxed id
    counts) for the union-find."""
    import tracemalloc

    def peak(fn, *args):
        tracemalloc.start()
        try:
            list(fn(*args))
            return tracemalloc.get_traced_memory()[1]
        finally:
            tracemalloc.stop()

    n = 200
    k_n = list(itertools.combinations(range(n), 2))
    assert peak(graph_kernels.triangle_counts, iter(k_n), n) <= (
        graph_kernels.triangle_kernel_bytes(n)
    )
    v = 10_000
    base = 10**12  # ids outside the small-int cache
    chain = ((base + i, base + i + 1) for i in range(v - 1))
    assert peak(graph_kernels.min_label_components, chain) <= (
        graph_kernels.union_find_bytes(v)
    )


def test_triangle_budget_picks_path(spark, sf_dir):
    """op220 at test scale: the default budget takes the one-task path,
    a disabled budget the shuffle edge-iterator, with identical rows."""
    saved = spark.conf.get(_BUDGET)
    op = OPS["op220_triangle_count"].fn
    try:
        dense_df = op(spark, sf_dir)
        spark.conf.set(_BUDGET, "-1")
        fallback_df = op(spark, sf_dir)
        fallback_plan = fallback_df._jdf.queryExecution().executedPlan().toString()
        fallback = _rows(fallback_df, "s_suppkey", "n_triangles")
    finally:
        spark.conf.set(_BUDGET, saved)
    assert "MapInArrow" not in fallback_plan
    assert "array_intersect" in fallback_plan
    assert _rows(dense_df, "s_suppkey", "n_triangles") == fallback and fallback


def _reference_components(edge_list):
    """Min reachable id per endpoint, by breadth-first search."""
    nbrs: dict[int, set[int]] = {}
    for a, b in edge_list:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    label: dict[int, int] = {}
    for start in sorted(nbrs):
        if start in label:
            continue
        frontier, seen = [start], {start}
        while frontier:
            frontier = [m for v in frontier for m in nbrs[v] if m not in seen]
            seen.update(frontier)
        for v in seen:
            label[v] = start
    return label


def _doc_frames(spark, edge_list):
    ids = sorted({v for e in edge_list for v in e} | {10**7})  # one loner
    docs = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    pairs = spark.createDataFrame(edge_list, "doc_a long, doc_b long")
    return docs, pairs


def test_components_union_find_matches_fixpoint(spark):
    """Random graphs (duplicate and reversed pairs, self-loops, chains):
    the one-task union-find and the min-label fixpoint both label every
    endpoint with its min reachable id."""
    rng = random.Random(11)
    for _ in range(8):
        n = rng.randint(2, 40)
        ids = rng.sample(range(1, 10**6), n)
        edge_list = [
            (ids[rng.randrange(n)], ids[rng.randrange(n)])
            for _ in range(rng.randint(1, 2 * n))
        ]
        edge_list += [(b, a) for a, b in edge_list[:3]]
        expect = _reference_components(edge_list)
        docs, pairs = _doc_frames(spark, edge_list)
        dense_df = graph._doc_components(docs, pairs)
        plan = dense_df._jdf.queryExecution().executedPlan().toString()
        assert "MapInArrow" in plan
        dense = {r.id: r.component for r in dense_df.collect()}
        fixpoint = {
            r.id: r.component
            for r in graph.connected_components(
                pairs.selectExpr("doc_a AS src", "doc_b AS dst")
            ).collect()
        }
        assert dense == fixpoint == expect


def test_components_long_chain_union_find_vs_fixpoint(spark):
    """A chain longer than max_iter: the union-find labels every vertex
    with the chain's min id, where the fixpoint raises after max_iter
    iterations instead of returning split labels."""
    chain = [(i + 1, i) for i in range(12)]  # reversed pairs: 12 → 0
    docs, pairs = _doc_frames(spark, chain)
    dense = {r.id: r.component for r in graph._doc_components(docs, pairs).collect()}
    assert dense == {v: 0 for v in range(13)}
    with pytest.raises(ValueError, match="no fixpoint after 3"):
        graph.connected_components(
            pairs.selectExpr("doc_a AS src", "doc_b AS dst"), max_iter=3
        )


def test_components_budget_picks_path(spark, sf_dir):
    """op96 and op221: a disabled budget takes the min-label fixpoint,
    with the same rows as the one-task union-find."""
    saved = spark.conf.get(_BUDGET)
    for name in ("op96_dedup_components", "op221_neardup_canonicalize"):
        op = OPS[name].fn
        dense_df = op(spark, sf_dir)
        dense = sorted(map(tuple, dense_df.collect()))
        try:
            spark.conf.set(_BUDGET, "0")
            fallback_df = op(spark, sf_dir)
            fallback_plan = fallback_df._jdf.queryExecution().executedPlan().toString()
            fallback = sorted(map(tuple, fallback_df.collect()))
        finally:
            spark.conf.set(_BUDGET, saved)
        assert "MapInArrow" not in fallback_plan
        assert dense == fallback and dense, name


def test_union_find_budget_counts_every_doc(spark):
    """The union-find guard sizes the task by the docs count: a budget
    below ``union_find_bytes(n_docs)`` takes the fixpoint."""
    docs, pairs = _doc_frames(spark, [(1, 2), (2, 3), (5, 6)])
    need = graph_kernels.union_find_bytes(docs.count())
    saved = spark.conf.get(_BUDGET)
    try:
        spark.conf.set(_BUDGET, str(need))
        fits = graph._doc_components(docs, pairs)
        spark.conf.set(_BUDGET, str(need - 1))
        over = graph._doc_components(docs, pairs)
    finally:
        spark.conf.set(_BUDGET, saved)
    assert "MapInArrow" in fits._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" not in over._jdf.queryExecution().executedPlan().toString()
    assert {r.id: r.component for r in fits.collect()} == {
        r.id: r.component for r in over.collect()
    } == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5}
