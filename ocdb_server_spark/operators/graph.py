"""Graph operators: connected components over near-duplicate pairs
(op96) and the canonicalization built on them (op221), PageRank (op186),
BFS reachability (op213) and per-node triangle counts (op220).

Connected components turn pair lists (op79 MinHash, op88 SimHash, op90
LSH) into dedup decisions: every document gets a canonical cluster id
(the min doc_id of its component). Algorithm: iterative min-label
propagation (cf. the HashToMin / "large-star small-star" family,
Kiveris et al. '14): each vertex starts labeled with itself; every
iteration each vertex takes the min label among itself and its
neighbors; stop when no label changed. Iterations = O(graph diameter);
near-dup graphs are unions of small cliques, so 2–3 iterations in
practice, bounded at `max_iter` with a convergence check. Each
iteration is one join (labels ⋈ edges) + one groupBy(min), all
shuffles on vertex id; labels are checkpointed each round so the plan
does not grow with the iterations.

PageRank keeps its recurrence in exact int64 fixed point, so the
engine's iterations are bit-identical to the unrolled oracle CTEs;
BFS re-expresses DuckDB's WITH RECURSIVE as a bounded join loop.

Package rules: DataFrame/Catalyst only, Python only inside
Arrow-batched pandas kernels (mapInPandas / applyInPandas), shuffles carry ids and counters
(never payload text), cross-engine floats quantized to int64 before
any sum or round(6)-stabilized, and outputs canonicalizer-safe
(scalars only, no DECIMAL — tests/test_gate_shape.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ocdb_server_spark.functions.iterate import iterate_to_fixpoint
from ocdb_server_spark.io import load_table
from ocdb_server_spark.operators.dedup import (
    ngram_jaccard_pairs,
    ngram_jaccard_pairs_ctes,
)
from ocdb_server_spark.registry import pool_persist, register


# --------------------------------------------------------------------------
# op186: PageRank — iterative fixpoint, integer-exact, hash-certified
# --------------------------------------------------------------------------

_PR_ITERS = 5
_PR_SCALE = 1_000_000_000_000  # PR mass in 1e-12 units (int64)
# damping 0.85 expressed as exact integer arithmetic: d·x = (85·x) div 100


def _pr_sql() -> str:
    """Unrolled-recurrence DuckDB oracle: standard SQL forbids
    aggregates in a recursive CTE term, so the five iterations are
    generated as five chained CTEs — the textual unrolling of the
    exact integer recurrence the Spark loop runs."""
    step = """
pr{k} AS (
  SELECT n.node,
         p.base_u + (85 * COALESCE(s.m, 0)) // 100 AS u
  FROM nodes n
  CROSS JOIN params p
  LEFT JOIN (
    SELECT e.dst AS node, SUM(c.contrib) AS m
    FROM (SELECT p0.node, p0.u // d.outdeg AS contrib
          FROM pr{prev} p0 JOIN outdeg d ON p0.node = d.node) c
    JOIN edges e ON c.node = e.src
    GROUP BY e.dst) s ON n.node = s.node
)"""
    steps = ",".join(step.format(k=k, prev=k - 1) for k in range(1, _PR_ITERS + 1))
    return f"""
WITH pairs AS (
  SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
),
edges AS (
  SELECT 2 * l_partkey AS src, 2 * l_suppkey + 1 AS dst FROM pairs
  UNION ALL
  SELECT 2 * l_suppkey + 1 AS src, 2 * l_partkey AS dst FROM pairs
),
nodes AS (SELECT DISTINCT src AS node FROM edges),
outdeg AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS outdeg
           FROM edges GROUP BY src),
params AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         (15 * {_PR_SCALE}) // (100 * CAST(COUNT(*) AS BIGINT)) AS base_u
  FROM nodes
),
pr0 AS (
  SELECT n.node, {_PR_SCALE} // p.n AS u FROM nodes n CROSS JOIN params p
),{steps}
SELECT CASE WHEN node % 2 = 0 THEN 'part' ELSE 'supplier' END AS node_type,
       CAST(node // 2 AS BIGINT) AS key,
       CAST(u AS BIGINT) AS pr_u,
       CAST(u AS DOUBLE) / {_PR_SCALE} AS pr
FROM pr{_PR_ITERS}
ORDER BY pr_u DESC, node
LIMIT 20
"""


@register("op186_pagerank", oracle=_pr_sql())
def op186_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Five PageRank iterations (damping 0.85) over the symmetrized
    part↔supplier co-occurrence graph from lineitem, top-20 nodes —
    iterative graph analytics as DataFrame programs (supply-chain /
    link-analysis centrality; op96's components op is the other
    fixpoint shape, ROWS-checked; this one is HASH-certified).

    Exactness: rank mass lives in int64 units of 1e-12 (pr_u); each
    step is new = (15·SCALE) div (100·N) + (85·Σ contrib) div 100
    with contrib = pr div outdeg — every operation integer, so the
    5-step fixpoint is bit-identical to the oracle's five unrolled
    CTEs regardless of join order, partitioning, or summation order
    (int64 addition commutes; the op162 discipline extended to
    iteration). The deliberately-dropped remainder mass (div
    truncation) is part of the recurrence in BOTH engines.

    Scale: per iteration one shuffle join (ranks⋈edges on src) + one
    aggregate on dst — the textbook message-passing shape; edges are
    (int64, int64) pairs, never payloads. The loop-invariant graph
    structure (edges / nodes / outdeg) is persist()ed once — the
    unrolled static plan would otherwise recompute the edge-distinct
    shuffle in every iteration (the 23-shuffle shape the plan audit
    caught pre-persist). At real scale each iteration additionally
    localCheckpoints the RANKS frame (op96's pattern) to cut lineage;
    at 5 iterations the plan tree stays small enough to skip that."""
    li = load_table(spark, sf_dir, "lineitem")
    pairs = li.select("l_partkey", "l_suppkey").distinct()
    fwd = pairs.select(
        (2 * F.col("l_partkey")).alias("src"),
        (2 * F.col("l_suppkey") + 1).alias("dst"),
    )
    rev = pairs.select(
        (2 * F.col("l_suppkey") + 1).alias("src"),
        (2 * F.col("l_partkey")).alias("dst"),
    )
    # loop invariants, referenced 5-6x by the unrolled iterations
    edges = pool_persist(fwd.unionAll(rev))
    nodes = pool_persist(edges.select(F.col("src").alias("node")).distinct())
    outdeg = pool_persist(edges.groupBy(F.col("src").alias("node")).agg(
        F.count("*").cast("bigint").alias("outdeg")
    ))
    params = nodes.agg(
        F.count("*").cast("bigint").alias("n"),
        F.expr(f"(15 * {_PR_SCALE}L) div (100 * count(*))").alias("base_u"),
    )
    ranks = nodes.crossJoin(F.broadcast(params)).select(
        "node", F.expr(f"{_PR_SCALE}L div n").alias("u")
    )
    for _ in range(_PR_ITERS):
        contrib = ranks.join(outdeg, "node").select(
            "node", F.expr("u div outdeg").alias("contrib")
        )
        msgs = (
            contrib.join(edges, contrib.node == edges.src)
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
    return (
        ranks.select(
            F.expr(
                "CASE WHEN node % 2 = 0 THEN 'part' ELSE 'supplier' END"
            ).alias("node_type"),
            F.expr("node div 2").alias("key"),
            F.col("u").alias("pr_u"),
            (F.col("u").cast("double") / _PR_SCALE).alias("pr"),
        )
        .orderBy(F.col("pr_u").desc(), F.col("key"), "node_type")
        .limit(20)
    )


# --------------------------------------------------------------------------
# op213: BFS reachability — bounded join loop vs real WITH RECURSIVE
# --------------------------------------------------------------------------

_BFS_HOPS = 4
_BFS_SEEDS = 3  # seed set: suppliers with s_suppkey <= 3

_OP213_SQL = f"""
WITH RECURSIVE
pairs AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
edges AS (
  SELECT 2 * l_partkey AS src, 2 * l_suppkey + 1 AS dst FROM pairs
  UNION ALL
  SELECT 2 * l_suppkey + 1 AS src, 2 * l_partkey AS dst FROM pairs
),
walk(node, dist) AS (
  SELECT 2 * s_suppkey + 1, 0 FROM supplier WHERE s_suppkey <= {_BFS_SEEDS}
  UNION
  SELECT e.dst, w.dist + 1
  FROM walk w JOIN edges e ON w.node = e.src
  WHERE w.dist < {_BFS_HOPS}
),
best AS (SELECT node, MIN(dist) AS dist FROM walk GROUP BY node)
SELECT CAST(dist AS INTEGER) AS dist,
       CASE WHEN node % 2 = 0 THEN 'part' ELSE 'supplier' END AS node_type,
       CAST(COUNT(*) AS BIGINT) AS n_nodes,
       CAST(SUM(node // 2) AS BIGINT) AS sum_key
FROM best
GROUP BY dist, node_type
"""


@register("op213_bfs_reachability", oracle=_OP213_SQL)
def op213_bfs_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-hop BFS (4 hops) from a seed supplier set over the
    symmetrized part↔supplier graph (op186's edge encoding) — the
    RECURSIVE-CTE query surface Spark SQL lacks, re-expressed as the
    bounded frontier loop it compiles to on any engine. The oracle is
    DuckDB's ACTUAL `WITH RECURSIVE` + min-dist rollup, so the hash
    match certifies the loop against a genuinely independent
    recursion implementation, not a restatement of our own unrolling.

    REWRITTEN round 19 (optimization guide §2.4 — remove shuffles/
    stages outright): the loop now implements the oracle's OWN
    algebra directly. walk-level k = {nodes with a walk of length
    exactly k from a seed} (frontier ⋈ edges → distinct, nothing
    else), and BFS distance = MIN(dist) over the unioned levels — one
    aggregation at the end instead of the per-hop anti-join against a
    growing visited set that rounds 6–18 ran ("first discovery is min
    dist" enforced eagerly). Equivalence is by construction: the
    DuckDB recursion's walk contains (node, d) iff a length-d walk
    exists; level k is precisely that set, and the final min is the
    oracle's `best` CTE verbatim. Measured at sf0.1 (interleaved
    best-of-5, noop): 2.55 s → 1.28 s — the anti-join version paid a
    per-hop broadcast build + anti probe whose only effect was to
    shrink late frontiers on an almost-fully-reached graph.

    Per hop: frontier ⋈ edges (the persisted edge table) → distinct —
    one exchange. Distances and keys are integers end to end —
    nothing to quantize. Scale: still the classic Pregel/message-
    passing shape; edges persist()ed once and joined per hop, the hop
    count bounds total work, and the min-dist rollup replaces 4
    anti-join shuffles/broadcasts of the visited set (which at a
    10^10-edge graph is itself node-set-sized — the rollup ships each
    (node, dist) pair once instead of probing visited every hop). On
    parity-alternating graphs like this bipartite one, level k
    re-lists nodes first seen at k-2 — bounded by the reachable set,
    the same O(Σ deg(reachable)) join volume per hop the anti-join
    form pays on its widest hops.

    Output: per (dist, node_type) — node count + key checksum."""
    li = load_table(spark, sf_dir, "lineitem")
    pairs = li.select("l_partkey", "l_suppkey").distinct()
    fwd = pairs.select(
        (2 * F.col("l_partkey")).alias("src"),
        (2 * F.col("l_suppkey") + 1).alias("dst"),
    )
    rev = pairs.select(
        (2 * F.col("l_suppkey") + 1).alias("src"),
        (2 * F.col("l_partkey")).alias("dst"),
    )
    edges = pool_persist(fwd.unionAll(rev))
    sup = load_table(spark, sf_dir, "supplier")
    frontier = sup.filter(F.col("s_suppkey") <= _BFS_SEEDS).select(
        (2 * F.col("s_suppkey") + 1).alias("node")
    )
    levels = [frontier.withColumn("dist", F.lit(0))]
    for hop in range(1, _BFS_HOPS + 1):
        frontier = (
            frontier.join(edges, frontier.node == edges.src)
            .select(F.col("dst").alias("node"))
            .distinct()
        )
        if hop < _BFS_HOPS:
            # persist every level the NEXT hop builds on: without it
            # the lazy union re-derives every earlier hop per level
            # (quadratic recomputation — same lesson as op96's
            # localCheckpoint). The last level is referenced once
            # (the union) — nothing to share, skip the cache.
            frontier = pool_persist(frontier)
        levels.append(frontier.withColumn("dist", F.lit(hop)))
    walk = levels[0]
    for lv in levels[1:]:
        walk = walk.unionByName(lv)
    best = walk.groupBy("node").agg(F.min("dist").alias("dist"))
    return best.groupBy(
        "dist",
        F.when(F.col("node") % 2 == 0, "part").otherwise("supplier").alias(
            "node_type"
        ),
    ).agg(
        F.count("*").cast("bigint").alias("n_nodes"),
        F.sum(F.expr("node div 2")).cast("bigint").alias("sum_key"),
    )


# --------------------------------------------------------------------------
# op220: triangle counting — oriented 3-way self-join, hash-certified
# --------------------------------------------------------------------------

_OP220_SQL = """
WITH pairs AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
edges AS (
  SELECT DISTINCT a.l_suppkey AS s1, b.l_suppkey AS s2
  FROM pairs a JOIN pairs b
    ON a.l_partkey = b.l_partkey AND a.l_suppkey < b.l_suppkey),
tri AS (
  SELECT e1.s1 AS a, e1.s2 AS b, e2.s2 AS c
  FROM edges e1
  JOIN edges e2 ON e1.s2 = e2.s1
  JOIN edges e3 ON e3.s1 = e1.s1 AND e3.s2 = e2.s2),
nodes AS (
  SELECT a AS s FROM tri
  UNION ALL SELECT b FROM tri
  UNION ALL SELECT c FROM tri)
SELECT s AS s_suppkey, CAST(COUNT(*) AS BIGINT) AS n_triangles
FROM nodes GROUP BY s
"""


def _parse_size_bytes(s: str) -> int:
    """Parse a Spark size conf value ('67108864', '10MB', '1g', '-1')."""
    s = s.strip().lower()
    for suf, mult in (
        ("kb", 1024),
        ("mb", 1024**2),
        ("gb", 1024**3),
        ("tb", 1024**4),
        ("k", 1024),
        ("m", 1024**2),
        ("g", 1024**3),
        ("t", 1024**4),
        ("b", 1),
    ):
        if s.endswith(suf):
            return int(float(s[: -len(suf)]) * mult)
    return int(float(s))


def _triangle_counts(edges: DataFrame, broadcast_adj: bool) -> DataFrame:
    """Edge-iterator per-node triangle counts over an undirected edge
    list (s1 < s2, deduplicated): build adjacency lists once, count
    |N(u)∩N(v)| per edge with a JVM ``array_intersect``, roll up per
    node as Σ t(e) div 2. ``broadcast_adj`` picks how the adjacency
    relation attaches to the edge probe — broadcast (edge side never
    shuffles, intersect stage inherits the cached edge layout) vs the
    planner's shuffle join (same algebra, O(Σ d) arrays shuffled once;
    the guarded fallback for graphs whose adjacency outgrows the
    broadcast budget — r18-verdict item 2)."""
    adj = (
        edges.select(F.col("s1").alias("s"), F.col("s2").alias("n"))
        .unionAll(edges.select(F.col("s2").alias("s"), F.col("s1").alias("n")))
        .groupBy("s")
        .agg(F.sort_array(F.collect_list("n")).alias("nbrs"))
    )
    if broadcast_adj:
        adj = F.broadcast(adj)
    per_edge = (
        edges.join(
            adj.select(F.col("s").alias("s1"), F.col("nbrs").alias("n1")), "s1"
        )
        .join(
            adj.select(F.col("s").alias("s2"), F.col("nbrs").alias("n2")), "s2"
        )
        .select(
            "s1", "s2", F.size(F.array_intersect("n1", "n2")).alias("t")
        )
    )
    # one pass over per_edge (a unionAll of two projections would
    # re-execute the join+intersect subtree per branch)
    incident = per_edge.select(F.explode(F.array("s1", "s2")).alias("s"), "t")
    return (
        incident.groupBy(F.col("s").alias("s_suppkey"))
        .agg(F.expr("sum(t) div 2").cast("bigint").alias("n_triangles"))
        .filter(F.col("n_triangles") > 0)
    )


def _adjacency_fits_broadcast(
    spark: SparkSession, sf_dir: str, edges: DataFrame
) -> bool:
    """Size guard for op220's forced adjacency broadcast (r18-verdict
    item 2 — an unguarded F.broadcast OOMs on a hub-heavy graph at
    scale). Budget = the session's autoBroadcastJoinThreshold, the
    same scale-adaptive knob the planner's own decisions use.

    Tier 1 (no extra job on the data): worst-case adjacency payload is
    bounded by the supplier dimension — the projection graph's node
    set — at n² neighbor int64s (complete graph). When even that fits,
    broadcast without counting anything. Tier 2 (only reached at
    scales where tier 1's bound overflows): exact payload from the
    already-persisted edge frame — each edge contributes its two
    endpoints' adjacency entries exactly once, so payload ≈ 2·|E|·8
    bytes (+ per-node row overhead, subsumed by the ×2 headroom the
    byte estimate leaves vs Spark's actual broadcast cap)."""
    threshold = _parse_size_bytes(
        spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    )
    if threshold <= 0:
        return False
    n_nodes = load_table(spark, sf_dir, "supplier").count()
    if n_nodes * n_nodes * 8 <= threshold:
        return True
    return 2 * edges.count() * 8 <= threshold


@register(
    "op220_triangle_count",
    oracle=_OP220_SQL,
    deps=(_triangle_counts, _adjacency_fits_broadcast),
)
def op220_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node TRIANGLE COUNTS over the supplier co-supply graph
    (suppliers sharing ≥1 part) — the clustering-coefficient /
    community-density primitive, and a third graph-algorithm family
    beside op186's fixpoint and op213's traversal.

    Algorithm (REWRITTEN round 18, optimization guide §1.2/§2.3 —
    change the distributed algorithm before tuning anything): the
    EDGE-ITERATOR form. Per undirected edge (u,v) the number of
    triangles through it is |N(u) ∩ N(v)|; per-node counts follow as
    n_tri(v) = Σ_{edges e incident to v} t(e) / 2, because each
    triangle containing v is seen by exactly its two v-incident
    edges. Adjacency lists are built once (groupBy node,
    collect_list), each edge joins the two endpoint lists, and the
    intersection count is a single JVM ``array_intersect`` — no
    Python boundary, and NO materialized wedge rows. Nodes in no
    triangle never appear (sum 0 filtered), matching the
    enumeration's output exactly; DIV 2 stays in integer arithmetic.

    Rounds 12–17 used the oriented 3-way self-join (e1(a,b)⋈e2(b,c)
    closed by e3(a,c)) — exact, but it MATERIALIZES AND SHUFFLES one
    row per wedge. Measured round 17 (BASELINE 17j): ~30 suppliers/
    part saturates the bipartite projection to the COMPLETE K_1000
    graph at sf0.1 (499,500 edges = C(1000,2), DuckDB-verified), so
    the wedge join emitted all C(1000,3) ≈ 166M rows: 44.5 s noop
    (r18 sweep). The edge-iterator does the same Θ(Σ d(v)²) element
    work as in-memory array intersections inside codegen instead of
    166M shuffled rows — measured r18: 5.1 s sweep-best / 3.5 s
    steady-state after JIT warm (8.8×), bit-identical result at
    sf0.001/0.01/0.1 (plans/r18/op220_*.txt). At 100 TB the
    shuffle payload is O(Σ d(v)) adjacency ints instead of O(Σ d²)
    wedge rows; the residual risk is a hub node's adjacency array,
    and the production bound for dense projections is unchanged —
    cap/sample hub parts BEFORE projecting (op192's df-cap pattern);
    no triangle algorithm beats a dense input's Θ(Σ d²) element
    work. Exact integer counts — nothing to quantize; the oracle is
    the original enumeration algebra in DuckDB, which round 18's
    hash-equivalence run re-certified against this form."""
    li = load_table(spark, sf_dir, "lineitem")
    pairs = li.select("l_partkey", "l_suppkey").distinct()
    a = pairs.alias("a")
    b = pairs.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.l_partkey") == F.col("b.l_partkey"))
            & (F.col("a.l_suppkey") < F.col("b.l_suppkey")),
        )
        .select(
            F.col("a.l_suppkey").alias("s1"), F.col("b.l_suppkey").alias("s2")
        )
        .distinct()
    )
    # referenced 3× below (adjacency build ×2 + the edge probe):
    # persist so the projection+distinct runs once (op186's rule).
    # The repartition sizes the intersect stage — the Θ(Σ d²)
    # element-work stage — to the session's core count (the broadcast
    # join below preserves the stream side's partitioning, so the
    # cached layout IS that stage's task count; at 8 interactive
    # shuffle partitions the stage left 3/4 of local[32] idle —
    # measured 9.2 s vs 3.5 s interleaved).
    edges = pool_persist(
        edges.repartition(spark.sparkContext.defaultParallelism)
    )
    # undirected adjacency lists; sort_array for a deterministic
    # layout (content is a set — intersection is order-insensitive).
    # Broadcast WHEN IT FITS: the adjacency side is node-dimension-
    # sized (O(Σ d) total payload — each neighbor list ships ONCE per
    # node, never per edge) and the hint both keeps the big edge side
    # un-shuffled and lets the intersect stage inherit the cached
    # edge layout. r18 forced the hint unconditionally — an OOM on a
    # hub-heavy graph whose adjacency outgrows the broadcast budget;
    # the guard (r18-verdict item 2) sizes it against the session's
    # autoBroadcastJoinThreshold (worst-case node² bound first — free
    # at bench scale — exact 2·|E|·8 from the persisted edge frame
    # only when that overflows) and falls back to the planner's
    # shuffle join, which keeps the same algebra (the shuffle then
    # carries O(Σ d) arrays once). Both paths are value-identical —
    # pinned by tests/test_plans.py (broadcast shape at bench scale)
    # and the synthetic hub-graph fallback test.
    return _triangle_counts(
        edges, broadcast_adj=_adjacency_fits_broadcast(spark, sf_dir, edges)
    )


# The exact near-dup edge relation both engines can compute: word-
# 3-gram Jaccard ≥ 0.5 across ALL sources (dedup's whole point is the
# same text resurfacing in different crawls). 0.5 is the classic
# "near duplicate" bar (≈ the similarity MinHash banding at 4×4 is
# tuned to catch); the LSH approximation of this same relation stays
# under op79/op194 as the 100 TB candidate-generation path.
_EXACT_NEARDUP_THRESHOLD = 0.5


def connected_components(
    edges: DataFrame,
    max_iter: int = 20,
    telemetry: list[dict] | None = None,
    reliable: bool = False,
) -> DataFrame:
    """(src, dst) edge frame → (id, component) with component = min id
    reachable. Vertices only appear if they occur in an edge.

    The loop runs through functions.iterate.iterate_to_fixpoint (the
    general unbounded-recursion surface, round-10 verdict "what's
    missing" item): per-iteration localCheckpoint, a keyed LIMIT-1
    convergence probe (join on id, compare only `component` — cheaper
    than the generic exceptAll probe because the id column prunes),
    loud ValueError on max_iter exhaustion, and optional per-iteration
    telemetry ({iteration, changed, seconds}) for convergence
    observability at scale.

    reliable=True switches BOTH the loop state and the loop-invariant
    edge frame to directory-backed checkpoint() (requires
    sc.setCheckpointDir on shared storage): an executor death
    mid-loop then recomputes nothing and the job completes with the
    identical result, where the default executor-resident
    localCheckpoint blocks would be unrecoverable (both behaviors
    fault-injection-measured — scripts/cluster_faultkill.py /
    BASELINE.md Round 11f). Default stays local: op96's driver-gate
    runs are single-JVM, where reliable's per-iteration write+read
    buys nothing."""
    from ocdb_server_spark.functions.iterate import _truncate_lineage

    sym = _truncate_lineage(
        edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .unionByName(edges.select(F.col("dst").alias("a"), F.col("src").alias("b")))
        .distinct(),
        # Materialize ONCE (round-10 review): the edge frame is joined
        # every iteration AND feeds the initial labels — without this,
        # each iteration's checkpoint action re-derives the whole
        # upstream pair pipeline (for op96/op221 that is the 5-shuffle
        # ngram-Jaccard plan), so 2-3 iterations ran it 3-4 times. Same
        # "self-join would evaluate the aggregation twice" economics
        # op88 solves with a persist; checkpointing keeps the helper
        # self-contained (no cache pool needed, blocks GC with the df).
        # Durability must MATCH the loop's: a localCheckpointed
        # invariant dies with its executor no matter how the loop
        # state is protected.
        reliable,
    )
    labels0 = (
        sym.select(F.col("a").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
    )

    def step(labels: DataFrame) -> DataFrame:
        # each vertex adopts the min component among itself + neighbors
        neighbor_min = (
            sym.join(labels, sym["b"] == labels["id"])
            .groupBy(F.col("a").alias("id"))
            .agg(F.min("component").alias("n_comp"))
        )
        return labels.join(neighbor_min, "id", "left").select(
            "id",
            F.least(
                F.col("component"), F.coalesce(F.col("n_comp"), F.col("component"))
            ).alias("component"),
        )

    def label_changed(old: DataFrame, new: DataFrame) -> int:
        return (
            new.alias("n")
            .join(old.alias("o"), "id")
            .filter(F.col("n.component") != F.col("o.component"))
            .limit(1)
            .count()
        )

    # Exhaustion raises (iterate_to_fixpoint's contract): exiting on
    # range end would mean the labels are NOT a fixpoint — op96/op221
    # would emit split clusters with non-canonical ids, silently wrong
    # at no-oracle bench scales (round-10 review). A graph of diameter
    # > max_iter is real on chain-shaped near-dup corpora; the caller
    # raises max_iter.
    return iterate_to_fixpoint(
        labels0,
        step,
        changed=label_changed,
        max_iter=max_iter,
        reliable=reliable,
        telemetry=telemetry,
        what="connected_components",
    )


# --------------------------------------------------------------------------
# op221: near-dup canonicalization — LSH pairs → components → keep-best
# --------------------------------------------------------------------------


def neardup_canonicalize(docs: DataFrame) -> DataFrame:
    """Full dedup DECISION pipeline over a documents frame: exact
    3-gram-Jaccard ≥ 0.5 candidate pairs (dedup.ngram_jaccard_pairs,
    cross-source — see _EXACT_NEARDUP_THRESHOLD's rationale) →
    connected components (connected_components) → one KEPT doc per
    duplicate cluster
    (longest text wins, doc_id tiebreak — the RefinedWeb keep-best
    rule). Returns one row per cluster: (component, n_members,
    keep_doc_id, kept_n_chars, dropped_docs, dropped_chars)."""
    from pyspark.sql import Window

    pairs = ngram_jaccard_pairs(
        docs, threshold=_EXACT_NEARDUP_THRESHOLD, same_source=False
    )
    labels = connected_components(
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    )
    members = labels.join(
        docs.select("doc_id", "n_chars"), labels.id == docs.doc_id
    ).select("component", "doc_id", "n_chars")
    w = Window.partitionBy("component").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    ranked = members.withColumn("rn", F.row_number().over(w))
    kept = ranked.filter("rn = 1").select(
        "component",
        F.col("doc_id").alias("keep_doc_id"),
        F.col("n_chars").alias("kept_n_chars"),
    )
    stats = members.groupBy("component").agg(
        F.count("*").cast("bigint").alias("n_members"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )
    return (
        stats.join(kept, "component")
        .select(
            "component",
            "n_members",
            "keep_doc_id",
            "kept_n_chars",
            (F.col("n_members") - 1).cast("bigint").alias("dropped_docs"),
            (F.col("total_chars") - F.col("kept_n_chars"))
            .cast("bigint")
            .alias("dropped_chars"),
        )
    )


# Shared CTE chain for the op96/op221 oracles: the exact gram-blocked
# pair relation (ONE template with op89's oracle —
# dedup.ngram_jaccard_pairs_ctes, here with no source
# restriction and J ≥ 0.5), its symmetric closure, and the
# min-reachable-id fixpoint — DuckDB's WITH RECURSIVE computes
# exactly the label each vertex converges to under min-label
# propagation, because both equal "min doc_id reachable" (the
# fixpoint is order-independent). UNION (not UNION ALL) dedups reach
# rows, so the recursion terminates after diameter steps.
# O(cluster_size²) rows per cluster is oracle-only economics:
# near-dup clusters are small cliques; the ENGINE side never builds
# transitive closure (connected_components above is the
# HashToMin-family iterative relational CC).
NEARDUP_CC_CTES = f"""
{ngram_jaccard_pairs_ctes(_EXACT_NEARDUP_THRESHOLD, same_source=False)},
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs
),
reach(id, r) AS (
  SELECT DISTINCT a, a FROM edges
  UNION
  SELECT e.a, reach.r FROM edges e JOIN reach ON reach.id = e.b
),
comp AS (SELECT id, MIN(r) AS component FROM reach GROUP BY id)
"""


def _op221_sql() -> str:
    return f"""
WITH RECURSIVE {NEARDUP_CC_CTES},
members AS (
  SELECT c.component, c.id AS doc_id, d.n_chars
  FROM comp c JOIN documents d ON d.doc_id = c.id
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY component ORDER BY n_chars DESC, doc_id) AS rn
  FROM members
),
kept AS (
  SELECT component, doc_id AS keep_doc_id, n_chars AS kept_n_chars
  FROM ranked WHERE rn = 1
),
stats AS (
  SELECT component, CAST(COUNT(*) AS BIGINT) AS n_members,
         CAST(SUM(n_chars) AS BIGINT) AS total_chars
  FROM members GROUP BY component
)
SELECT s.component, s.n_members, k.keep_doc_id,
       CAST(k.kept_n_chars AS BIGINT) AS kept_n_chars,
       CAST(s.n_members - 1 AS BIGINT) AS dropped_docs,
       CAST(s.total_chars - k.kept_n_chars AS BIGINT) AS dropped_chars
FROM stats s JOIN kept k USING (component)
"""


@register("op221_neardup_canonicalize", oracle=_op221_sql())
def op221_neardup_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END near-dup canonicalization — the integration of the
    dedup family into the decision a corpus build actually ships:
    exact near-dup candidate pairs, op96's connected components, and
    the keep-best-quality rule, composed into 'which doc survives
    each duplicate cluster and how much is dropped'.

    Graduated from ROWS to a SQL oracle in round 9 (round-8 verdict
    item 5) by switching the edge relation from op79's xxhash LSH
    bands to the exact 3-gram-Jaccard ≥ 0.5 relation both engines
    compute (components.py rationale) — the DuckDB oracle restates
    the whole decision: recursive min-reachable-id components, the
    keep-longest window, and the drop accounting. The behavioral
    planted-cluster gate (test_pipeline_r6) still applies; the
    LSH→CC approximate composition keeps its own gate in
    test_components.py.

    Scale: every stage is the already-audited scale path — the
    gram-blocked pair join with the max-df cap (op89's annotated
    5-shuffle plan), min-label propagation with localCheckpoint, one
    keyed window per cluster. The composition adds no new shuffle
    class."""
    return neardup_canonicalize(load_table(spark, sf_dir, "documents"))


_OP96_SQL = f"""
WITH RECURSIVE {NEARDUP_CC_CTES}
SELECT component AS canonical_doc_id,
       CAST(COUNT(*) AS BIGINT) AS cluster_size,
       STRING_AGG(CAST(id AS VARCHAR), ',' ORDER BY id) AS members
FROM comp GROUP BY component HAVING COUNT(*) > 1
"""


@register(
    "op96_dedup_components",
    oracle=_OP96_SQL,
    # both kernels the plan lives in: the candidate-pair generator and
    # the iterative min-label CC (round-14 helper audit)
    deps=(connected_components, ngram_jaccard_pairs),
)
def op96_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters over documents: exact 3-gram-Jaccard ≥ 0.5
    candidate pairs (ngram_jaccard_pairs, cross-source) → connected
    components → per-cluster size and canonical (min) doc_id,
    returning only non-trivial clusters. The keep-one-survivor dedup
    decision is `filter(doc_id == component)` on the same frame.

    Graduated from ROWS to a SQL oracle in round 9 (round-8 verdict
    item 5): the edge relation is the EXACT near-dup graph — the
    deterministic, ANSI-expressible relation MinHash-LSH (op79)
    approximates — so DuckDB's WITH RECURSIVE min-reachable-id
    fixpoint hash-certifies the iterative min-label CC end to end.
    The LSH→CC composition (the approximate 100 TB candidate path)
    keeps its planted-cluster behavioral gates in
    tests/test_components.py.

    Transport note: this op's many-tiny-exchanges fixpoint — the
    shape naively expected to suffer most on a real shuffle service —
    was FASTER on a 2-executor standalone cluster than local[16] in
    every measured config at 10x and 30x data (0.70-0.95x; BASELINE
    Round 11b-11e): its exchanges carry ~zero bytes and its stages
    are few and coarse, so none of the measured cluster cost terms
    apply, while two half-size JVMs GC better than one big one.

    DURABILITY AT EXECUTOR SCALE: the registered plan keeps the FAST
    default (`reliable=False` → localCheckpoint), which is correct in
    one JVM — but localCheckpoint blocks die with their executor and,
    lineage truncated, CANNOT be recomputed: an executor loss mid-loop
    FAILS the job loudly (measured: scripts/cluster_faultkill.py; it
    never ships a wrong fixpoint). Production fixpoints on a real
    multi-executor cluster should call
    ``connected_components(edges, reliable=True)`` after
    ``sc.setCheckpointDir(<HDFS/S3 path>)`` — directory-backed
    checkpoints survive executor loss with byte-identical results
    (fault-injection-verified, BASELINE.md Round 11f), superseded
    generations are GC'd per iteration (functions/iterate.py
    _ReliableCkptGC), at the cost of one state write+read per
    iteration."""
    pairs = ngram_jaccard_pairs(
        load_table(spark, sf_dir, "documents"),
        threshold=_EXACT_NEARDUP_THRESHOLD,
        same_source=False,
    )
    comp = connected_components(
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    )
    # members is surfaced as a sorted comma-joined string, not
    # array<bigint>: the observable surface must stay scalar-typed so
    # row hashing / canonicalization works downstream (same
    # representation-stable pattern as op24's collect_sorted).
    return (
        comp.groupBy("component")
        .agg(
            F.count("*").alias("cluster_size"),
            F.array_join(F.sort_array(F.collect_list("id")), ",").alias("members"),
        )
        .filter(F.col("cluster_size") > 1)
        .select(
            F.col("component").alias("canonical_doc_id"),
            F.col("cluster_size").cast("bigint").alias("cluster_size"),
            "members",
        )
    )
