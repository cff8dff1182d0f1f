"""Behavioral tests for the vector and retrieval operators
(operators/similarity.py): exact k-NN and pairwise thresholds against
numpy brute force, IVF and PQ recall on planted clusters, the Gram
matrix and k-means against numpy, BM25 pruning, and reciprocal-rank
fusion (op263, and op266 served from the persisted index)."""

from __future__ import annotations

import numpy as np
import pytest

from ocdb_server_spark.operators import similarity
from ocdb_server_spark.operators.similarity import (
    _RRF_DEPTH,
    _RRF_K,
    _RRF_TOPK,
    op263_rrf_hybrid_topk,
)
from ocdb_server_spark.registry import load_all

OPS = load_all()


def test_op80_topk_is_exact(spark, sf_dir):
    """op80's top-10 must equal a numpy brute-force over the same data
    (same 6dp rounding, same tie-break by vec_id)."""
    import numpy as np

    from ocdb_server_spark.io import load_table

    rows = load_table(spark, sf_dir, "embeddings").collect()
    q = next(np.array(r["embedding"], dtype=np.float64) for r in rows if r["vec_id"] == 0)
    sims = []
    for r in rows:
        if r["vec_id"] == 0:
            continue
        v = np.array(r["embedding"], dtype=np.float64)
        s = float(np.dot(v, q) / (np.linalg.norm(v) * np.linalg.norm(q)))
        sims.append((round(s, 6), r["vec_id"]))
    expected = sorted(sims, key=lambda t: (-t[0], t[1]))[:10]
    got = [
        (r["sim"], r["vec_id"])
        for r in OPS["op80_sim_cosine_knn"].fn(spark, sf_dir).collect()
    ]
    assert [v for _, v in got] == [v for _, v in expected]
    for (gs, _), (es, _) in zip(got, expected):
        assert gs == pytest.approx(es, abs=2e-6)


def test_op81_pairs_match_brute_force(spark, sf_dir):
    """Blocked pairwise threshold must find exactly the same-label pairs
    a numpy brute force finds above the rounded threshold."""
    import numpy as np

    from ocdb_server_spark.io import load_table

    rows = load_table(spark, sf_dir, "embeddings").collect()
    by_label: dict[int, list] = {}
    for r in rows:
        by_label.setdefault(r["label"], []).append(r)
    expected = set()
    for label, rs in by_label.items():
        for i, a in enumerate(rs):
            va = np.array(a["embedding"], dtype=np.float64)
            for b in rs[i + 1 :]:
                vb = np.array(b["embedding"], dtype=np.float64)
                s = float(np.dot(va, vb) / (np.linalg.norm(va) * np.linalg.norm(vb)))
                if round(s, 6) > 0.8:
                    lo, hi = sorted((a["vec_id"], b["vec_id"]))
                    expected.add((lo, hi))
    got = {
        (min(r["id_a"], r["id_b"]), max(r["id_a"], r["id_b"]))
        for r in OPS["op81_sim_pairwise_threshold"].fn(spark, sf_dir).collect()
    }
    assert got == expected


def test_op95_ivf_vs_exact_top10(spark, sf_dir):
    """IVF (K=√n, nprobe=⌈K/4⌉) must return 10 valid neighbors sorted
    by similarity; its top hit can't beat the exact scan's top hit, and
    recall@10 vs op80's exact answer should be well above the
    ~nprobe/K random-probe floor — the testdata embeddings are UNIFORM
    random (no cluster structure), so high recall is not expected here;
    the ≥0.9 design-point gate runs on the planted-cluster fixture
    below."""
    approx = OPS["op95_sim_ivf_knn"].fn(spark, sf_dir).collect()
    exact = OPS["op80_sim_cosine_knn"].fn(spark, sf_dir).collect()
    assert len(approx) == 10
    sims = [r["sim"] for r in approx]
    assert sims == sorted(sims, reverse=True)
    assert sims[0] <= exact[0]["sim"] + 1e-9
    recall = len({r["vec_id"] for r in approx} & {r["vec_id"] for r in exact}) / 10
    assert recall >= 0.3


def test_ivf_recall_on_planted_clusters(spark):
    """The IVF design-point gate: on data WITH cluster structure (the
    regime IVF exists for), recall@10 vs exact brute force must be
    ≥ 0.9 with the default K=√n codebook and nprobe=⌈K/4⌉.

    Fixture: 20 well-separated clusters × 100 points in 16-dim (unit
    direction per cluster + small noise), deterministic seed. The
    query is cluster 0's point #0; its true top-10 are intra-cluster,
    so recall measures whether √n data-seeded centroids + probe
    pruning keep the right list(s)."""
    import numpy as np

    from ocdb_server_spark.operators.similarity import ivf_topk

    rng = np.random.default_rng(7)
    n_clusters, per, dim = 20, 100, 16
    centers = rng.normal(size=(n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    pts = np.repeat(centers, per, axis=0) + rng.normal(
        scale=0.05, size=(n_clusters * per, dim)
    )
    rows = [(i, [float(x) for x in pts[i]]) for i in range(len(pts))]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    # exact top-10 by cosine, computed in numpy (independent oracle)
    v = pts.astype(np.float32).astype(np.float64)  # match float32 storage
    q = v[0]
    sims = (v @ q) / (np.linalg.norm(v, axis=1) * np.linalg.norm(q))
    sims[0] = -np.inf
    exact = set(np.argsort(-sims)[:10].tolist())

    approx = {r["vec_id"] for r in ivf_topk(e, query_vec_id=0, k=10).collect()}
    recall = len(exact & approx) / 10
    assert recall >= 0.9, f"planted-cluster recall@10 = {recall}"


def test_ivf_lloyd_training_does_not_hurt_recall(spark):
    """One Lloyd iteration on the data-seeded codebook (the production
    training pass, pure DataFrame ops) must keep the planted-cluster
    recall gate — and typically sharpens the lists: trained centroids
    sit at cluster means instead of on sampled points."""
    import numpy as np

    from ocdb_server_spark.operators.similarity import ivf_topk

    rng = np.random.default_rng(7)
    n_clusters, per, dim = 20, 100, 16
    centers = rng.normal(size=(n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    pts = np.repeat(centers, per, axis=0) + rng.normal(
        scale=0.05, size=(n_clusters * per, dim)
    )
    rows = [(i, [float(x) for x in pts[i]]) for i in range(len(pts))]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    v = pts.astype(np.float32).astype(np.float64)
    q = v[0]
    sims = (v @ q) / (np.linalg.norm(v, axis=1) * np.linalg.norm(q))
    sims[0] = -np.inf
    exact = set(np.argsort(-sims)[:10].tolist())

    trained = {
        r["vec_id"]
        for r in ivf_topk(e, query_vec_id=0, k=10, train_iters=1).collect()
    }
    recall = len(exact & trained) / 10
    assert recall >= 0.9, f"trained-codebook recall@10 = {recall}"


def test_pq_recall_on_planted_clusters(spark):
    """PQ-ADC + exact re-rank must keep ≥0.9 recall@10 vs an
    independent numpy brute-force oracle on well-separated clusters
    (same fixture family as the op95 IVF gate, at the real 64-dim)."""
    import numpy as np

    from ocdb_server_spark.operators.similarity import pq_topk

    rng = np.random.default_rng(7)
    n_clusters, per, dim = 20, 100, 64
    centers = rng.normal(size=(n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    pts = np.repeat(centers, per, axis=0) + rng.normal(
        scale=0.05, size=(n_clusters * per, dim)
    )
    rows = [(i, [float(x) for x in pts[i]]) for i in range(len(pts))]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    v = pts.astype(np.float32).astype(np.float64)
    q = v[0]
    sims = (v @ q) / (np.linalg.norm(v, axis=1) * np.linalg.norm(q))
    sims[0] = -np.inf
    exact = set(np.argsort(-sims)[:10].tolist())

    approx = {r["vec_id"] for r in pq_topk(e, query_vec_id=0, k=10).collect()}
    recall = len(exact & approx) / 10
    assert recall >= 0.9, f"PQ recall@10 = {recall}"


def test_pq_scan_is_single_pass_topk(spark, sf_dir):
    """op180's corpus pass must plan like op80: ADC candidates via
    TakeOrderedAndProject, vectors never shuffled (the only exchanges
    allowed belong to the 16-row codebook build)."""
    plan = (
        OPS["op180_pq_ann_knn"]
        .fn(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_bm25_prunes_to_query_terms_before_agg(spark, sf_dir):
    """op183's explode must be filtered to the query terms BEFORE the
    tf aggregate (the optimized plan pushes the IN filter below the
    aggregate), and top-k must plan as TakeOrderedAndProject."""
    df = OPS["op183_bm25_topk"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    first_agg = optimized.index("Aggregate")
    assert "hash, join, scan" in optimized[first_agg:].replace("[", "").replace(
        "]", ""
    ) or "IN (" in optimized[first_agg:], (
        "term filter must sit below the first aggregate"
    )


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    from ocdb_server_spark.io import load_table

    rows = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    ).collect()
    ids = np.array([r.vec_id for r in rows])
    x = np.array([r.embedding for r in rows], dtype=np.float64)
    return ids, x


def test_gram_matrix_matches_numpy(spark, sf_dir, emb):
    _, x = emb
    q = np.round(x * similarity._GRAM_SCALE).astype(np.int64)
    expect = q.T @ q
    got = {
        (r.i, r.j): r.g
        for r in similarity.op211_gram_matrix(spark, sf_dir).collect()
    }
    d = q.shape[1]
    assert len(got) == d * (d + 1) // 2
    for (i, j), g in got.items():
        assert i <= j
        assert g == expect[i, j], (i, j)
    # diagonal entries are sums of squares — strictly non-negative
    assert all(got[(i, i)] >= 0 for i in range(d))


def test_gram_partials_are_per_partition(spark, sf_dir):
    """The mergeable-partial claim: the pre-merge frame carries at most
    d(d+1)/2 rows PER PARTITION, independent of vector count."""
    from ocdb_server_spark.io import load_table

    e = load_table(spark, sf_dir, "embeddings")
    nparts = e.rdd.getNumPartitions()
    out = similarity.op211_gram_matrix(spark, sf_dir)
    # the final agg input is bounded by partitions × triangle size
    assert out.count() == 64 * 65 // 2
    assert nparts * 2080 < e.count() * 64 or e.count() < 2080, (
        "at test scale the bound may not bite, but the structural row "
        "count must hold"
    )


def _kmeans_reference(ids, x, k, iters):
    q = np.round(x * 1000).astype(np.int64) + similarity._KM_OFF
    order = np.argsort(ids)
    ids, q = ids[order], q[order]
    cents = {cid: q[list(ids).index(cid)] for cid in range(k)}
    assign = None
    for _ in range(iters):
        assign = {}
        for vid, row in zip(ids, q):
            dists = sorted(
                (int(((row - c) ** 2).sum()), cid) for cid, c in cents.items()
            )
            assign[vid] = dists[0][1]
        for cid in range(k):
            members = [row for vid, row in zip(ids, q) if assign[vid] == cid]
            if members:
                s = np.sum(members, axis=0)
                cents[cid] = s // len(members)  # all-positive: floor==trunc
    return assign, cents


def test_kmeans_matches_python_reference(spark, sf_dir, emb):
    ids, x = emb
    assign, cents = _kmeans_reference(ids, x, similarity._KM_K, 2)
    got = {r.cluster_id: r for r in similarity.op212_kmeans_lloyd(spark, sf_dir).collect()}
    # every vector assigned exactly once
    assert sum(r.n_members for r in got.values()) == len(ids)
    from collections import Counter

    ref_sizes = Counter(assign.values())
    for cid, row in got.items():
        assert row.n_members == ref_sizes[cid]
        assert row.sum_vec_ids == sum(v for v, c in assign.items() if c == cid)
        assert row.centroid_l1 == int(cents[cid].sum())


# --------------------------------------------------------------------------
# op263: reciprocal-rank fusion
# --------------------------------------------------------------------------


@pytest.fixture(scope="module")
def rrf_rows(spark, sf_dir):
    return op263_rrf_hybrid_topk(spark, sf_dir).collect()


def test_op263_scores_reproduce_from_ranks(rrf_rows):
    """rrf_score must be exactly Σ 1/(K+rank) over the non-null legs —
    fusion uses RANKS only, never raw scores."""
    assert len(rrf_rows) == _RRF_TOPK
    for r in rrf_rows:
        expected = 0.0
        if r.lex_rank is not None:
            expected += 1.0 / (_RRF_K + r.lex_rank)
        if r.dense_rank is not None:
            expected += 1.0 / (_RRF_K + r.dense_rank)
        assert r.rrf_score == expected, r
        assert r.lex_rank is not None or r.dense_rank is not None, r


def test_op263_rank_ranges_and_ordering(rrf_rows):
    """Ranks stay within the per-leg depth, are unique within a leg,
    the query's own doc (id 0) never surfaces, and the output is
    (rrf desc, doc_id) ordered."""
    lex = [r.lex_rank for r in rrf_rows if r.lex_rank is not None]
    den = [r.dense_rank for r in rrf_rows if r.dense_rank is not None]
    assert all(1 <= k <= _RRF_DEPTH for k in lex + den)
    assert len(set(lex)) == len(lex) and len(set(den)) == len(den)
    assert all(r.doc_id != 0 for r in rrf_rows)
    keys = [(-r.rrf_score, r.doc_id) for r in rrf_rows]
    assert keys == sorted(keys)


def test_op263_both_legs_contribute(rrf_rows):
    """The fused top-k must draw from BOTH rankers — a fusion that
    degenerates to one leg (e.g. an empty lexical index) would still
    hash-match a same-bugged oracle, so pin it behaviorally."""
    assert any(r.lex_rank is not None for r in rrf_rows)
    assert any(r.dense_rank is not None for r in rrf_rows)
    # docs found by both rankers outrank equal single-leg ranks by
    # construction; at every shipped SF the planted corpus produces
    # at least one such consensus doc in the top-k
    assert any(
        r.lex_rank is not None and r.dense_rank is not None for r in rrf_rows
    )


def test_op263_consensus_beats_single_leg(rrf_rows):
    """A doc ranked by both legs at ranks (a, b) must score strictly
    above any doc whose only rank is min(a, b) or worse — the RRF
    property that consensus wins."""
    both = [r for r in rrf_rows if r.lex_rank is not None and r.dense_rank is not None]
    single = [r for r in rrf_rows if r.lex_rank is None or r.dense_rank is None]
    for b in both:
        floor_rank = min(b.lex_rank, b.dense_rank)
        for s in single:
            s_rank = s.lex_rank if s.lex_rank is not None else s.dense_rank
            if s_rank >= floor_rank:
                assert b.rrf_score > s.rrf_score, (b, s)


# --------------------------------------------------------------------------
# op266: hybrid retrieval served from the persisted PQ index
# --------------------------------------------------------------------------


@pytest.fixture(scope="module")
def served_rows(spark, sf_dir):
    from ocdb_server_spark.operators.similarity import (
        op266_rrf_hybrid_serving,
    )

    return op266_rrf_hybrid_serving(spark, sf_dir).collect()


def test_op266_no_training_in_query_plan(spark, sf_dir):
    """The serving contract: the fused query plan must carry ZERO
    training aggregation — the codebook subtree is a parquet-artifact
    scan (op180's plan gate extended to the fused plan)."""
    import os

    from ocdb_server_spark.functions.ann_index import index_path
    from ocdb_server_spark.operators.similarity import _PQ_K, op266_rrf_hybrid_serving

    plan = (
        op266_rrf_hybrid_serving(spark, sf_dir)
        ._jdf.queryExecution()
        .toString()
    )
    assert "collect_list" not in plan, "training aggregation leaked into query"
    art = os.path.basename(index_path(sf_dir, "pq", {"k": _PQ_K}))
    assert art in plan, "query must scan the persisted codebook artifact"


def test_op266_scores_reproduce_from_ranks(served_rows):
    """Same fusion arithmetic as op263: rrf_score is exactly
    Σ 1/(60+rank) over the non-null legs."""
    from ocdb_server_spark.operators.similarity import _RRF_K, _RRF_TOPK

    assert len(served_rows) == _RRF_TOPK
    for r in served_rows:
        expected = 0.0
        if r.lex_rank is not None:
            expected += 1.0 / (_RRF_K + r.lex_rank)
        if r.dense_rank is not None:
            expected += 1.0 / (_RRF_K + r.dense_rank)
        assert r.rrf_score == expected, r
        assert r.doc_id != 0, r


def test_op266_lexical_leg_identical_to_op263(spark, sf_dir, served_rows):
    """Swapping the DENSE ranker must not touch the lexical leg: the
    (doc_id, lex_rank) pairs are identical across the twins — only
    dense_rank (and hence fusion order membership) may move."""
    from ocdb_server_spark.operators.similarity import op263_rrf_hybrid_topk

    exact = {
        r.doc_id: r.lex_rank
        for r in op263_rrf_hybrid_topk(spark, sf_dir).collect()
        if r.lex_rank is not None
    }
    for r in served_rows:
        if r.lex_rank is not None and r.doc_id in exact:
            assert r.lex_rank == exact[r.doc_id], r


def test_op266_high_overlap_with_exact_twin(spark, sf_dir, served_rows):
    """The PQ-served top-20 must stay close to the exact twin's: ≥ 70%
    doc overlap (the dense leg's own recall@10 ≥ 0.9 gate lives with
    op180; fusion dampens residual rank noise further)."""
    from ocdb_server_spark.operators.similarity import op263_rrf_hybrid_topk

    exact_ids = {r.doc_id for r in op263_rrf_hybrid_topk(spark, sf_dir).collect()}
    served_ids = {r.doc_id for r in served_rows}
    overlap = len(exact_ids & served_ids) / len(exact_ids)
    assert overlap >= 0.7, f"overlap {overlap:.2f} too low"
