"""Small inputs in one Arrow task: op220's incidence triangle kernel,
the near-dup pair counts of op89/op96/op221 and op96/op221's
union-find components against the distributed plans they stand in
for and against brute-force references, plus the size and exactness
guards that choose between them.

The one-task paths run whenever the input fits the session's task
budget, which at test scale is always; each fallback is reached here
by setting that budget to -1 (disabled) or by calling the distributed
algorithm directly.
"""

from __future__ import annotations

import itertools
import random
from collections import Counter, defaultdict
from decimal import ROUND_HALF_UP, Decimal

import pyarrow as pa
import pytest

from ocdb_server_spark.functions import graph_kernels
from ocdb_server_spark.functions.text import tokens
from ocdb_server_spark.operators import dedup, graph
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


def _batches(rows, names, size=10_000):
    """``rows`` as Arrow batches of at most ``size`` rows."""
    cols = list(zip(*rows)) if rows else [[] for _ in names]
    batch = pa.RecordBatch.from_arrays([pa.array(list(c)) for c in cols], names=names)
    return [batch.slice(k, size) for k in range(0, max(len(rows), 1), size)]


def _incidence(edge_list, rng):
    """(part, supplier) rows that hold every edge of ``edge_list`` as a
    2-supplier part, plus 1-supplier parts, one part of 4 suppliers
    (a 4-clique) and repeated rows."""
    rows = [(k, s) for k, e in enumerate(edge_list) for s in e]
    base = len(edge_list)
    nodes = sorted({v for e in edge_list for v in e})
    rows += [(base + k, v) for k, v in enumerate(nodes[:5])]  # singletons
    rows += [(base + 5, v) for v in rng.sample(nodes, min(len(nodes), 4))]
    return rows + rng.sample(rows, min(len(rows), 7))  # repeated rows


def _clique_edges(rows):
    """The co-supply edges (s1 < s2) of (part, supplier) rows."""
    parts = defaultdict(set)
    for p, s in rows:
        parts[p].add(s)
    return sorted({e for ss in parts.values() for e in itertools.combinations(sorted(ss), 2)})


def test_triangle_dense_matches_edge_iterator(spark):
    """The incidence A·A∘A task, the broadcast edge-iterator and the
    shuffle edge-iterator over the projected edges return the same rows
    as brute-force enumeration, on the hub graph and on random graphs
    (random ids, so the dense numbering is exercised), each fed as
    incidence rows with 1-supplier parts, ≥ 4-supplier parts and
    repeated rows."""
    rng = random.Random(7)
    graphs = [_hub_graph()] + list(_random_graphs(rng, 6))
    incidences = [_incidence(edge_list, rng) for edge_list in graphs]
    # one part of 6 suppliers (K_6) plus a pendant path
    incidences.append([(0, s) for s in range(10, 16)] + [(1, 1), (1, 2), (2, 2), (2, 3)])
    saved = spark.conf.get(_BUDGET)
    for rows in incidences:
        expect = set(_brute_triangles(_clique_edges(rows)).items())
        pairs = spark.createDataFrame(rows, "l_partkey long, l_suppkey long")
        dense = _rows(
            graph._incidence_triangle_counts(pairs.distinct(), max_nodes=64),
            "s_suppkey", "n_triangles",
        )
        edges = graph._co_supply_edges(pairs.distinct())
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


def test_kernels_stream_batches():
    """The kernels on raw batches: the incidence kernel groups parts
    across batch boundaries, skips rows with a null and raises on rows
    out of part order; every kernel returns no row for a task with no
    batch or only rows with nulls."""
    rows = [(1, 10), (1, 11), (2, 11), (2, 12), (3, 10), (3, 12), (3, None), (None, 13)]
    for size in (1, 2, 3, 100):
        got = dict(graph_kernels.incidence_triangle_counts(
            iter(_batches(rows, ["p", "s"], size)), max_nodes=4
        ))
        assert got == {10: 1, 11: 1, 12: 1}, size
    with pytest.raises(ValueError, match="not sorted"):
        list(graph_kernels.incidence_triangle_counts(
            iter(_batches([(2, 10), (1, 11)], ["p", "s"])), max_nodes=4
        ))
    assert not list(graph_kernels.incidence_triangle_counts(iter([]), max_nodes=4))
    assert graph_kernels.min_label_components(iter([])) == []
    for same_source in (True, False):
        assert graph_kernels.ngram_pair_counts(iter([]), 0.5, same_source) == []
    capped = [(i, None, "x y z".split()) for i in range(51)]  # one gram, df 51
    assert graph_kernels.ngram_pair_counts(
        iter(_batches(capped, ["doc_id", "source", "w"])), 0.1, True
    ) == []


def test_triangle_kernel_exactness_and_budget_guard():
    """The dense guard admits n suppliers only while every count is
    exact in float64 (n² < 2⁵³) and the kernel's n×n arrays and one
    input batch fit the budget; counts on a complete graph are exact;
    more suppliers than the task was sized for raise instead of
    allocating."""
    n = 300
    need = graph_kernels.triangle_kernel_bytes(n)
    assert need == 3 * 8 * n * n + graph_kernels.TRIANGLE_BATCH_BYTES
    assert graph_kernels.triangle_kernel_fits(n, need)
    assert not graph_kernels.triangle_kernel_fits(n, need - 1)
    # past 2⁵³ no budget admits the float64 kernel
    big = 2**27
    assert not graph_kernels.triangle_kernel_fits(big, 10 * big * big * 8)
    # K_n as one part that every supplier supplies: every supplier lies
    # in C(n-1, 2) triangles
    k_n = _batches([(0, v) for v in range(n)], ["p", "s"])
    got = dict(graph_kernels.incidence_triangle_counts(iter(k_n), max_nodes=n))
    assert got == {v: (n - 1) * (n - 2) // 2 for v in range(n)}
    with pytest.raises(ValueError, match="exceed"):
        list(graph_kernels.incidence_triangle_counts(iter(k_n), max_nodes=n - 1))


def _planted_corpus(rng, n_groups, size=50, words=60):
    vocab = [f"w{i}" for i in range(3000)]
    rows = []
    for g in range(n_groups):
        base = " ".join(rng.choices(vocab, k=words))
        rows += [(g * size + j, "s", base) for j in range(size)]
    return rows


def test_kernel_size_estimates_bound_their_allocations(sf_dir):
    """tracemalloc peaks of the kernels stay within the estimates their
    guards use: a complete graph of 2-supplier parts for the triangle
    kernel, 10⁴-vertex chains for the union-find (ids outside the
    small-int cache, boxed inside the traced region), and for the
    near-dup pair counts the documents corpus and clusters of 50
    identical docs, in both source modes."""
    import tracemalloc

    import pyarrow.parquet as pq

    def peak(fn, *args):
        tracemalloc.start()
        try:
            list(fn(*args))
            return tracemalloc.get_traced_memory()[1]
        finally:
            tracemalloc.stop()

    n = 200
    k_n = _batches(
        sorted((k, s) for k, e in enumerate(itertools.combinations(range(n), 2)) for s in e),
        ["p", "s"],
    )
    assert peak(graph_kernels.incidence_triangle_counts, iter(k_n), n) <= (
        graph_kernels.triangle_kernel_bytes(n)
    )
    v = 10_000
    base = 10**12  # ids outside the small-int cache
    chain = _batches([(base + i, base + i + 1) for i in range(v - 1)], ["a", "b"])
    assert peak(graph_kernels.min_label_components, iter(chain)) <= (
        graph_kernels.union_find_bytes(v)
    )
    docs = pq.read_table(f"{sf_dir}/documents.parquet").to_pylist()
    corpora = [
        [(d["doc_id"], d["source"], d["text"]) for d in docs],
        _planted_corpus(random.Random(3), 20),
    ]
    for rows in corpora:
        chars = sum(len(t) for _, _, t in rows)
        toks = [(d, s, t.lower().split(" ")) for d, s, t in rows]
        need = graph_kernels.neardup_kernel_bytes(len(rows), chars)
        for same_source, threshold in ((True, 0.1), (False, 0.5)):
            cols = [0, 1, 2] if same_source else [0, 2]
            batches = _batches(
                [tuple(r[k] for k in cols) for r in toks],
                [["doc_id", "source", "w"][k] for k in cols],
            )
            assert peak(
                graph_kernels.ngram_pair_counts, iter(batches), threshold, same_source
            ) <= need


def _crafted_corpus():
    """(doc_id, text, source) rows that reach every branch of the pair
    count's semantics."""
    rows = [
        # Jaccard exactly 1/2 (2 of 4 grams) and exactly 1/10 (1 of 10)
        (1, "a b c d e f", "s1"),
        (2, "a b c d", "s1"),
        (3, "k l m n o p q r s t u v", "s1"),
        (4, "k l m", "s1"),
        # just below: 1 of 11 grams, 2 of 5
        (5, "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10 c11 c12 c13", "s1"),
        (6, "c1 c2 c3", "s1"),
        (7, "e1 e2 e3 e4 e5 e6 e7", "s2"),
        (8, "e1 e2 e3 e4", "s2"),
        # duplicate doc_id rows, one of them in another source
        (9, "d1 d2 d3 d4 d5", "s1"),
        (9, "d1 d2 d3 x9", "s2"),
        (10, "d1 d2 d3 d4 d5", "s1"),
        # nulls: text, doc_id, source
        (11, None, "s1"),
        (None, "a b c d e f", "s1"),
        (12, "a b c d e f", None),
        (13, "k l m n o", None),
        # empty text, fewer than 3 tokens
        (14, "", "s1"),
        (15, "a b", "s1"),
        (16, "k", "s2"),
        # leading, trailing and doubled spaces make empty tokens
        (17, " sp1 sp2 sp3 sp4", "s1"),
        (18, "sp1 sp2 sp3 sp4 ", "s1"),
        (19, "sp1  sp2 sp3", "s1"),
        (20, "sp1  sp2 sp3 ", "s1"),
        (21, "   ", "s1"),
        (22, "    ", "s1"),
        # case and non-ASCII: final sigma, dotted capital I, sharp s
        (23, "ΟΔΟΣ ΟΔΟΣ ΟΔΟΣ İstanbul Straße", "s3"),
        (24, "οδος οδοσ οδος i̇stanbul STRASSE", "s3"),
        (25, "Οδος Οδος Οδος İSTANBUL straße", "s3"),
        (26, "Hello World Foo Bar", "s3"),
        (27, "hello world foo BAR", "s3"),
    ]
    # a gram held by exactly 50 docs is kept, one held by 51 is capped
    rows += [(100 + i, "g50 h50 k50", "s4") for i in range(50)]
    rows += [(200 + i, "g51 h51 k51", "s4") for i in range(51)]
    return rows


def _round6(x: float) -> float:
    """Spark's ``round(x, 6)``: HALF_UP on the double's decimal form."""
    return float(Decimal(repr(x)).quantize(Decimal("1e-6"), ROUND_HALF_UP))


def _reference_pairs(token_rows, threshold, same_source):
    """ngram_jaccard_pairs' rows by enumeration under the relational
    plan's multiset semantics, from the JVM's token rows."""
    entries = []
    for doc, src, words in token_rows:
        if words is not None:
            grams = {" ".join(words[i:i + 3]) for i in range(len(words) - 2)}
            entries += [(doc, src, g) for g in grams]
    df = defaultdict(set)
    for doc, _, g in entries:
        if doc is not None:
            df[g].add(doc)
    capped = [e for e in entries if len(df[e[2]]) <= 50]
    n = Counter(doc for doc, _, _ in capped)
    by_gram = defaultdict(list)
    for doc, src, g in capped:
        by_gram[g].append((doc, src))
    shared = Counter()
    for posting in by_gram.values():
        for (da, sa), (db, sb) in itertools.product(posting, repeat=2):
            if da is not None and db is not None and da < db and (
                not same_source or (sa is not None and sa == sb)
            ):
                shared[da, db] += 1
    out = set()
    for (a, b), sh in shared.items():
        j = _round6(sh / (n[a] + n[b] - sh))
        if j >= threshold:
            out.add((a, b, j))
    return out


@pytest.mark.parametrize(
    "threshold, same_source", [(0.1, True), (0.5, False), (0.1, False)]
)
def test_neardup_pairs_in_task_match_relational(spark, threshold, same_source):
    """On the crafted corpus the one-task pair count, the relational
    plan (budget -1) and the brute-force reference return the same
    (doc_a, doc_b, jaccard) rows, the exact-threshold pairs included
    and the just-below ones excluded."""
    docs = spark.createDataFrame(
        _crafted_corpus(), "doc_id long, text string, source string"
    )
    in_task = dedup.ngram_jaccard_pairs(docs, threshold, same_source)
    assert "MapInArrow" in in_task._jdf.queryExecution().executedPlan().toString()
    saved = spark.conf.get(_BUDGET)
    try:
        spark.conf.set(_BUDGET, "-1")
        relational = dedup.ngram_jaccard_pairs(docs, threshold, same_source)
        plan = relational._jdf.queryExecution().executedPlan().toString()
        relational = _rows(relational, "doc_a", "doc_b", "jaccard")
    finally:
        spark.conf.set(_BUDGET, saved)
    assert "MapInArrow" not in plan
    token_rows = docs.select("doc_id", "source", tokens(docs.text).alias("w")).collect()
    expect = _reference_pairs(token_rows, threshold, same_source)
    assert _rows(in_task, "doc_a", "doc_b", "jaccard") == relational == expect
    got = {(a, b) for a, b, _ in expect}
    assert (1, 2) in got and (100, 149) in got  # J = 1/2; a df-50 gram
    assert not any(200 <= a for a, _ in got)  # the df-51 gram is capped
    assert ((3, 4) in got) == (threshold == 0.1)  # J = 1/10
    assert (5, 6) not in got and ((7, 8) in got) == (threshold == 0.1)


def test_neardup_budget_counts_rows_and_chars(spark):
    """The pair-count guard sizes the task by the corpus' rows and text
    characters: a budget below ``neardup_kernel_bytes`` takes the
    relational plan, with the same rows."""
    docs = spark.createDataFrame(
        _crafted_corpus(), "doc_id long, text string, source string"
    )
    n_rows, n_chars = dedup.text_size(docs)
    assert (n_rows, n_chars) == (
        len(_crafted_corpus()), sum(len(t or "") for _, t, _ in _crafted_corpus())
    )
    need = graph_kernels.neardup_kernel_bytes(n_rows, n_chars)
    saved = spark.conf.get(_BUDGET)
    try:
        spark.conf.set(_BUDGET, str(need))
        fits = dedup.ngram_jaccard_pairs(docs, 0.1, True)
        spark.conf.set(_BUDGET, str(need - 1))
        over = dedup.ngram_jaccard_pairs(docs, 0.1, True)
    finally:
        spark.conf.set(_BUDGET, saved)
    assert "MapInArrow" in fits._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" not in over._jdf.queryExecution().executedPlan().toString()
    assert _rows(fits, "doc_a", "doc_b", "jaccard") == _rows(
        over, "doc_a", "doc_b", "jaccard"
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
        dense_df = graph._doc_components(pairs, n_docs=docs.count())
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
    dense = {
        r.id: r.component
        for r in graph._doc_components(pairs, n_docs=docs.count()).collect()
    }
    assert dense == {v: 0 for v in range(13)}
    with pytest.raises(ValueError, match="no fixpoint after 3"):
        graph.connected_components(
            pairs.selectExpr("doc_a AS src", "doc_b AS dst"), max_iter=3
        )


def test_components_budget_picks_path(spark, sf_dir):
    """op89, op96 and op221: a disabled budget takes the relational
    pair plan (and, for op96/op221, the min-label fixpoint), with the
    same rows as the one-task kernels."""
    saved = spark.conf.get(_BUDGET)
    for name in (
        "op89_ngram_jaccard", "op96_dedup_components", "op221_neardup_canonicalize"
    ):
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
        fits = graph._doc_components(pairs, n_docs=docs.count())
        spark.conf.set(_BUDGET, str(need - 1))
        over = graph._doc_components(pairs, n_docs=docs.count())
    finally:
        spark.conf.set(_BUDGET, saved)
    assert "MapInArrow" in fits._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" not in over._jdf.queryExecution().executedPlan().toString()
    assert {r.id: r.component for r in fits.collect()} == {
        r.id: r.component for r in over.collect()
    } == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5}
