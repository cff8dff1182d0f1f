"""Behavioral tests for the shuffle-based graph operators
(operators/graph.py): PageRank, BFS reachability, near-dup
canonicalization and the triangle count's broadcast guard, each
against a pure-Python reference. The single-task kernels are covered
in test_small_graphs.py."""

from __future__ import annotations

from pyspark.sql import functions as F

from ocdb_server_spark.operators import graph
from ocdb_server_spark.registry import load_all

OPS = load_all()


def _py_pagerank(edges, iters, scale):
    """Reference implementation of op186's EXACT integer recurrence
    (plain dicts, no Spark, no SQL) — the third engine."""
    nodes = sorted({s for s, _ in edges})
    outdeg = {}
    for s, _ in edges:
        outdeg[s] = outdeg.get(s, 0) + 1
    n = len(nodes)
    base = (15 * scale) // (100 * n)
    pr = {v: scale // n for v in nodes}
    for _ in range(iters):
        msgs = {}
        for s, d in edges:
            msgs[d] = msgs.get(d, 0) + pr[s] // outdeg[s]
        pr = {v: base + (85 * msgs.get(v, 0)) // 100 for v in nodes}
    return pr


def test_pagerank_matches_python_reference_on_crafted_graph(spark):
    """Spark's 5-iteration loop must reproduce the pure-Python integer
    recurrence bit-for-bit on a small asymmetric graph (star + chain:
    ranks genuinely differ per node)."""
    from ocdb_server_spark.operators import graph

    # part 0 links suppliers 0,1,2; part 1 links supplier 0; part 2
    # links supplier 2 → node ids via the op's 2p / 2s+1 encoding
    pairs = [(0, 0), (0, 1), (0, 2), (1, 0), (2, 2)]
    edges = [(2 * p, 2 * s + 1) for p, s in pairs] + [
        (2 * s + 1, 2 * p) for p, s in pairs
    ]
    want = _py_pagerank(edges, graph._PR_ITERS, graph._PR_SCALE)

    li = spark.createDataFrame(
        [(p, s) for p, s in pairs], "l_partkey long, l_suppkey long"
    )
    # rebuild the op pipeline on the crafted edge list by monkeypatching
    # load_table's output shape: easiest is to run the same construction
    # inline (the op body is the contract; this mirrors it exactly)
    fwd = li.select(
        (2 * F.col("l_partkey")).alias("src"),
        (2 * F.col("l_suppkey") + 1).alias("dst"),
    )
    rev = li.select(
        (2 * F.col("l_suppkey") + 1).alias("src"),
        (2 * F.col("l_partkey")).alias("dst"),
    )
    e = fwd.unionAll(rev)
    nodes = e.select(F.col("src").alias("node")).distinct()
    outdeg = e.groupBy(F.col("src").alias("node")).agg(
        F.count("*").cast("bigint").alias("outdeg")
    )
    params = nodes.agg(
        F.count("*").cast("bigint").alias("n"),
        F.expr(f"(15 * {graph._PR_SCALE}L) div (100 * count(*))").alias("base_u"),
    )
    ranks = nodes.crossJoin(F.broadcast(params)).select(
        "node", F.expr(f"{graph._PR_SCALE}L div n").alias("u")
    )
    for _ in range(graph._PR_ITERS):
        contrib = ranks.join(outdeg, "node").select(
            "node", F.expr("u div outdeg").alias("contrib")
        )
        msgs = (
            contrib.join(e, contrib.node == e.src)
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("contrib").alias("m"))
        )
        ranks = (
            nodes.join(msgs, "node", "left")
            .crossJoin(F.broadcast(params))
            .select(
                "node",
                F.expr("base_u + (85 * coalesce(m, 0L)) div 100").alias("u"),
            )
        )
    got = {r["node"]: r["u"] for r in ranks.collect()}
    assert got == want
    # asymmetric fixture really distinguishes nodes
    assert len(set(want.values())) > 2


def test_pagerank_is_partitioning_invariant(spark, sf_dir):
    """Integer arithmetic commutes: the exact pr_u values must be
    identical whatever the source layout (the property that makes the
    iterative op hash-certifiable at all)."""
    base = OPS["op186_pagerank"].fn(spark, sf_dir)
    want = sorted(
        (r["node_type"], r["key"], r["pr_u"]) for r in base.collect()
    )
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        got = sorted(
            (r["node_type"], r["key"], r["pr_u"])
            for r in OPS["op186_pagerank"].fn(spark, sf_dir).collect()
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert got == want


def test_pagerank_mass_is_plausible(spark, sf_dir):
    """Sanity on the real table: top-20 ranks positive, sorted desc,
    both node types present (the bipartite graph links every part to
    some supplier)."""
    rows = OPS["op186_pagerank"].fn(spark, sf_dir).collect()
    assert len(rows) == 20
    prs = [r["pr_u"] for r in rows]
    assert prs == sorted(prs, reverse=True)
    assert all(p > 0 for p in prs)


def test_bfs_distances_match_python(spark, sf_dir):
    from ocdb_server_spark.io import load_table

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey"
    ).distinct().collect()
    adj: dict[int, set[int]] = {}
    for r in li:
        p, s = 2 * r.l_partkey, 2 * r.l_suppkey + 1
        adj.setdefault(p, set()).add(s)
        adj.setdefault(s, set()).add(p)
    sup = load_table(spark, sf_dir, "supplier").select("s_suppkey").collect()
    seeds = {2 * r.s_suppkey + 1 for r in sup if r.s_suppkey <= graph._BFS_SEEDS}
    dist = {n: 0 for n in seeds}
    frontier = set(seeds)
    for hop in range(1, graph._BFS_HOPS + 1):
        nxt = set()
        for n in frontier:
            for m in adj.get(n, ()):
                if m not in dist:
                    dist[m] = hop
                    nxt.add(m)
        frontier = nxt
    from collections import Counter

    expect = Counter(
        (d, "part" if n % 2 == 0 else "supplier") for n, d in dist.items()
    )
    got = {
        (r.dist, r.node_type): r.n_nodes
        for r in graph.op213_bfs_reachability(spark, sf_dir).collect()
    }
    assert got == dict(expect)


def test_neardup_canonicalize_planted_clusters(spark):
    """op221's decision pipeline on crafted clusters: two near-dup
    groups + two singletons → exactly two cluster rows, each keeping
    its longest member with exact drop accounting."""
    base_a = "the quick brown fox jumps over the lazy dog again and again today"
    base_b = "spark shuffles partition data across executors during wide joins"
    rows = [
        # cluster A: 3 docs sharing nearly all 2-shingles
        (1, base_a + " extra tail words here", None),
        (2, base_a, None),
        (3, base_a + " extra tail", None),
        # cluster B: 2 docs
        (10, base_b + " at scale", None),
        (11, base_b, None),
        # singletons — entirely different shingle sets
        (20, "completely unrelated text about cooking pasta with garlic", None),
        (21, "orbital mechanics requires delta v budgets for transfers", None),
    ]
    docs = spark.createDataFrame(
        [(i, t, len(t)) for i, t, _ in rows], "doc_id long, text string, n_chars long"
    )
    from ocdb_server_spark.operators.graph import neardup_canonicalize

    out = {r.component: r for r in neardup_canonicalize(docs).collect()}
    assert len(out) == 2, out
    a = out[1]  # min doc_id labels the component
    assert a.n_members == 3
    assert a.keep_doc_id == 1  # longest member of cluster A
    assert a.dropped_docs == 2
    assert a.dropped_chars == sum(len(t) for i, t, _ in rows[1:3])
    b = out[10]
    assert b.n_members == 2
    assert b.keep_doc_id == 10
    assert b.dropped_docs == 1
    assert b.dropped_chars == len(base_b)


def test_triangle_shuffle_fallback_matches_broadcast_on_hub_graph(spark):
    """op220's broadcast guard: the shuffle-join
    fallback for adjacency relations that outgrow the broadcast budget
    must be value-identical to the broadcast path. Synthetic hub graph
    — node 0 adjacent to everyone (the skew case the guard exists
    for), a triangle fan off the hub, plus one hub-free triangle."""
    import itertools

    edge_list = [(0, k) for k in range(1, 21)]           # hub spokes
    edge_list += [(k, k + 1) for k in range(1, 20)]       # fan: (0,k,k+1)
    edge_list += [(30, 31), (30, 32), (31, 32)]           # hub-free triangle
    edges = spark.createDataFrame(edge_list, "s1 int, s2 int")

    bcast = {
        (r.s_suppkey, r.n_triangles)
        for r in graph._triangle_counts(edges, broadcast_adj=True).collect()
    }
    # broadcast_adj=False drops the hint; the PLANNER would still
    # auto-broadcast a relation this tiny, so pin the threshold off to
    # actually exercise the shuffle-join path the guard falls back to
    key = "spark.sql.autoBroadcastJoinThreshold"
    saved = spark.conf.get(key)
    try:
        spark.conf.set(key, "-1")
        fallback_df = graph._triangle_counts(edges, broadcast_adj=False)
        fallback = {
            (r.s_suppkey, r.n_triangles) for r in fallback_df.collect()
        }
    finally:
        spark.conf.set(key, saved)
    assert fallback == bcast and bcast  # identical, non-empty

    # independent reference: brute-force triangle enumeration
    nbrs: dict[int, set[int]] = {}
    for a, b in edge_list:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    from collections import Counter

    expect: Counter = Counter()
    for a, b, c in itertools.combinations(sorted(nbrs), 3):
        if b in nbrs[a] and c in nbrs[a] and c in nbrs[b]:
            expect.update((a, b, c))
    assert bcast == set(expect.items())

    # the fallback plan must actually attach adjacency by shuffle join
    plan = fallback_df._sc._jvm.PythonSQLUtils.explainString(
        fallback_df._jdf.queryExecution(), "formatted"
    )
    assert "BroadcastHashJoin" not in plan, plan[:800]
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan[:800]


def test_triangle_broadcast_guard_tiers(spark, sf_dir):
    """_adjacency_fits_broadcast: tier 1 (node² bound) admits the bench
    graph without touching the edge frame; a tiny budget forces the
    exact tier-2 count, and a disabled budget (-1/0) never broadcasts."""
    from ocdb_server_spark.io import load_table

    li = load_table(spark, sf_dir, "lineitem")
    from pyspark.sql import functions as F

    pairs = li.select("l_partkey", "l_suppkey").distinct()
    a, b = pairs.alias("a"), pairs.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.l_partkey") == F.col("b.l_partkey"))
            & (F.col("a.l_suppkey") < F.col("b.l_suppkey")),
        )
        .select(F.col("a.l_suppkey").alias("s1"), F.col("b.l_suppkey").alias("s2"))
        .distinct()
    )
    key = "spark.sql.autoBroadcastJoinThreshold"
    saved = spark.conf.get(key)
    try:
        # tier 1: the suppliers² worst case fits the session budget
        assert graph._adjacency_fits_broadcast(spark, sf_dir, edges) is True
        # disabled budget: never broadcast
        spark.conf.set(key, "-1")
        assert graph._adjacency_fits_broadcast(spark, sf_dir, edges) is False
        # budget too small even for the exact tier-2 payload
        spark.conf.set(key, "16")
        assert graph._adjacency_fits_broadcast(spark, sf_dir, edges) is False
    finally:
        spark.conf.set(key, saved)
    from ocdb_server_spark.functions.arrow_rows import parse_size_bytes

    assert parse_size_bytes("10MB") == 10 * 1024**2
    assert parse_size_bytes("64m") == 64 * 1024**2
    assert parse_size_bytes("67108864") == 67108864
    assert parse_size_bytes("1g") == 1024**3
