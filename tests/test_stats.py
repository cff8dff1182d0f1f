"""Behavioral tests for the statistics and sketch operators
(operators/stats.py): properties the DuckDB oracle's hash cannot
localize, checked against pure-Python or numpy references and planted
fixtures — sketch error bounds (HLL, CMS, theta, Misra-Gries, bottom-k),
test statistics (PSI, KS, chi², AUC, Wilson) and the partition
invariants of the splitting and sampling ops."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from ocdb_server_spark.operators import stats
from ocdb_server_spark.registry import load_all

OPS = load_all()


def test_op98_shards_balanced_and_stable(spark, sf_dir):
    """Shard assignment must be reproducible across calls, cover all
    docs exactly once, and be roughly balanced (md5 is uniform)."""
    a = OPS["op98_train_shard_assign"].fn(spark, sf_dir).collect()
    b = OPS["op98_train_shard_assign"].fn(spark, sf_dir).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))  # deterministic
    n = len(a)
    by_shard: dict[int, list[int]] = {}
    for r in a:
        by_shard.setdefault(r["shard"], []).append(r["pos"])
    assert sum(len(v) for v in by_shard.values()) == n
    for shard, poss in by_shard.items():
        assert sorted(poss) == list(range(1, len(poss) + 1))  # dense positions
        assert len(poss) > n / 8 * 0.5  # no shard under half the fair share


# ---------------------------------------------------------------- op162


def test_psi_identical_distribution_is_near_zero(spark):
    """A source with the same length distribution as the corpus scores
    PSI ≈ 0; a source concentrated in one bin scores high."""
    rows = []
    doc = 0
    # two sources with identical spread + one source all in bin 0
    for src in ("same_a", "same_b"):
        for length in (60, 160, 260, 360, 460, 560):
            for _ in range(5):
                rows.append((doc, "x", src, length))
                doc += 1
    for _ in range(30):
        rows.append((doc, "x", "spiky", 10))
        doc += 1
    df = spark.createDataFrame(
        [(r[0], r[1], "en", r[2], r[3]) for r in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    import tempfile, os

    with tempfile.TemporaryDirectory() as tmp:
        df.write.parquet(os.path.join(tmp, "documents.parquet"))
        out = {
            r["source"]: r["psi"]
            for r in OPS["op162_drift_psi"].fn(spark, tmp).collect()
        }
    # The corpus is 2/3 spread + 1/3 spiky, so even the spread sources
    # drift from it — but the single-bin source must drift strictly
    # more, the two identically-distributed sources must score
    # identically, and PSI is non-negative by construction.
    assert out["spiky"] > out["same_a"]
    assert abs(out["same_a"] - out["same_b"]) < 1e-9  # symmetric by construction
    assert all(v >= 0 for v in out.values())


# ---------------------------------------------------------------- op163


def test_equidepth_buckets_are_balanced_and_ordered(spark, sf_dir):
    out = sorted(
        OPS["op163_equidepth_histogram"].fn(spark, sf_dir).collect(),
        key=lambda r: r["bucket"],
    )
    assert [r["bucket"] for r in out] == list(range(1, 17))
    counts = [r["n_rows"] for r in out]
    assert max(counts) - min(counts) <= 1  # equi-depth to within 1 row
    # bucket ranges are non-overlapping and increasing
    for a, b in zip(out, out[1:]):
        assert a["hi"] <= b["lo"]


# ---------------------------------------------------------------- op164


def test_time_weighted_avg_planted(spark):
    """value 10 held for 3s then 20 held for 1s -> TWA 12.5; the final
    observation's value never enters (weight 0)."""
    import tempfile, os

    rows = [
        (1, "2024-01-01 00:00:00", 100, "view", 10.0, "{}"),
        (2, "2024-01-01 00:00:03", 100, "view", 20.0, "{}"),
        (3, "2024-01-01 00:00:04", 100, "view", 999.0, "{}"),  # no weight
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string, value double, props string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    with tempfile.TemporaryDirectory() as tmp:
        df.write.parquet(os.path.join(tmp, "events.parquet"))
        out = OPS["op164_time_weighted_avg"].fn(spark, tmp).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_intervals"] == 2
    assert r["covered_sec"] == 4
    assert abs(r["twa_value"] - 12.5) < 1e-9


# ---------------------------------------------------------------- op166


def test_hll_estimates_within_5pct_of_exact(spark, sf_dir):
    """op166 is ROWS-only by design — this is its accuracy evidence."""
    est = {
        (r["level"], r["key"]): r["approx_users"]
        for r in OPS["op166_hll_sketch_rollup"].fn(spark, sf_dir).collect()
    }
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    exact_all = e.select("user_id").distinct().count()
    exact_typed = {
        r["event_type"]: r["n"]
        for r in e.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert abs(est[("all", "*")] - exact_all) <= max(1, 0.05 * exact_all)
    for t, n in exact_typed.items():
        assert abs(est[("event_type", t)] - n) <= max(1, 0.05 * n), t


# ---------------------------------------------------------------- op170


def test_burst_detect_planted(spark):
    """3 events inside 6h trip the detector; spread-out events don't."""
    import tempfile, os

    rows = [
        # user 1: 3 events in 10 minutes -> burst of 3
        (1, "2024-01-01 00:00:00", 1, "view", 0.0, "{}"),
        (2, "2024-01-01 00:05:00", 1, "view", 0.0, "{}"),
        (3, "2024-01-01 00:10:00", 1, "view", 0.0, "{}"),
        # user 2: 3 events 12h apart -> max burst 2 (6h trailing window)
        (4, "2024-01-01 00:00:00", 2, "view", 0.0, "{}"),
        (5, "2024-01-01 06:00:00", 2, "view", 0.0, "{}"),  # exactly 6h -> in frame
        (6, "2024-01-02 00:00:00", 2, "view", 0.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string, value double, props string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    with tempfile.TemporaryDirectory() as tmp:
        df.write.parquet(os.path.join(tmp, "events.parquet"))
        out = {r["user_id"]: r for r in OPS["op170_burst_detect"].fn(spark, tmp).collect()}
    assert 1 in out and out[1]["max_burst"] == 3 and out[1]["n_burst_events"] == 1
    assert 2 not in out  # max burst 2 < K=3


# ---------------------------------------------------------------- op174


def test_weighted_sample_biases_toward_heavy_docs(spark):
    """A-ES with 10 heavy docs (w=10000) among 200 light ones (w=1):
    the k=50 sample must contain ALL heavy docs (P(miss) ~ e^-10000/...
    astronomically small), and be deterministic across runs."""
    import tempfile, os

    rows = [(i, "x", "en", "s", 10_000 if i < 10 else 1) for i in range(210)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    with tempfile.TemporaryDirectory() as tmp:
        df.write.parquet(os.path.join(tmp, "documents.parquet"))
        s1 = {r["doc_id"] for r in OPS["op174_weighted_sample"].fn(spark, tmp).collect()}
        s2 = {r["doc_id"] for r in OPS["op174_weighted_sample"].fn(spark, tmp).collect()}
    assert s1 == s2  # deterministic
    assert len(s1) == 50
    assert set(range(10)) <= s1  # every heavy doc sampled


# ---------------------------------------------------------------- op176


def test_split_partitions_everything_near_98_1_1(spark, sf_dir):
    out = {r["split"]: r for r in OPS["op176_train_val_split"].fn(spark, sf_dir).collect()}
    total_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert sum(r["n_docs"] for r in out.values()) == total_docs
    assert set(out) <= {"train", "val", "test"}
    share = out["train"]["n_docs"] / total_docs
    assert 0.90 <= share <= 1.0  # 98% nominal, loose at small sf
    # stable across runs (pure function of doc_id)
    again = {r["split"]: r["n_docs"] for r in OPS["op176_train_val_split"].fn(spark, sf_dir).collect()}
    assert again == {k: v["n_docs"] for k, v in out.items()}


def test_mg_sketch_superset_guarantee_on_zipf():
    """The Misra-Gries pass must surface every phi-heavy word even when
    the vocabulary (500 words, Zipf-distributed) dwarfs the 32 counters
    — the bound the two-pass exactness of op185 rests on. Pure-Python
    check of the sketch kernel across adversarial batch splits."""
    import collections

    import pandas as pd

    from ocdb_server_spark.operators.stats import (
        _MG_K,
        _mg_sketch_batches,
    )

    # deterministic Zipf-ish stream: word i appears ~N/(i+1) times
    words = []
    for i in range(500):
        words.extend([f"w{i}"] * (3000 // (i + 1)))
    # worst-case-ish order: heavy words first, then the long tail
    truth = collections.Counter(words)
    total = len(words)
    heavy = {w for w, c in truth.items() if c > total / (_MG_K + 1)}
    assert heavy, "fixture must contain heavy words"

    for n_batches in (1, 7, 64):
        per = (len(words) + n_batches - 1) // n_batches
        batches = (
            pd.DataFrame({"word": words[i * per : (i + 1) * per]})
            for i in range(n_batches)
        )
        out = pd.concat(list(_mg_sketch_batches(batches)))
        survivors = set(out["word"])
        assert len(survivors) <= _MG_K
        assert heavy <= survivors, (
            f"{n_batches} batches: lost heavy words {heavy - survivors}"
        )


def test_heavy_hitters_output_is_layout_independent(spark, sf_dir):
    """Candidates vary with partitioning; the exact verify pass must
    erase that — same final rows at 1 vs 7 input partitions."""
    from ocdb_server_spark.io import load_table

    base = OPS["op185_heavy_hitters_mg"].fn(spark, sf_dir)
    want = sorted((r["word"], r["n"]) for r in base.collect())
    # rebuild the op's pipeline over a repartitioned source
    from ocdb_server_spark.operators import stats

    d = load_table(spark, sf_dir, "documents").repartition(7)
    words = d.select(F.explode(F.split("text", " ")).alias("word")).filter(
        F.col("word") != ""
    )
    cands = (
        words.mapInPandas(stats._mg_sketch_batches, "word string, lb long")
        .groupBy("word")
        .agg(F.sum("lb").alias("lb"))
        .select("word")
    )
    total = words.agg(F.count("*").cast("bigint").alias("total"))
    exact = (
        words.join(F.broadcast(cands), "word", "left_semi")
        .groupBy("word")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    got = (
        exact.crossJoin(F.broadcast(total))
        .filter(F.col("n") > F.col("total") / stats._MG_PHI_DEN)
        .select("word", "n")
    )
    assert sorted((r["word"], r["n"]) for r in got.collect()) == want


def test_skew_diagnosis_is_balanced_on_uniform_keys(spark, sf_dir):
    """Uniform TPC-H custkeys must land near the even share in every
    bucket (the report's baseline case), hottest flag unique-ish and
    consistent with n_rows."""
    rows = OPS["op188_skew_diagnosis"].fn(spark, sf_dir).collect()
    assert rows
    max_rows = max(r["n_rows"] for r in rows)
    for r in rows:
        assert r["is_hottest"] == (r["n_rows"] == max_rows)
        # within 3x of even share on uniform keys (loose: small sf)
        assert r["load_ppm_of_even"] < 3_000_000, r
    assert sum(r["n_rows"] for r in rows) > 0


def test_bottomk_sketch_merge_algebra_and_accuracy(spark, sf_dir):
    """(a) the op's merged 'all' sketch must equal the DIRECT global
    bottom-k computed from raw rows (merge = union + cut, exactly);
    (b) the sketch-estimated global median must land within the
    [0.30, 0.70] true-CDF band (64-point sample bound)."""
    from pyspark.sql import Window as W, functions as F

    from ocdb_server_spark.io import load_table
    from ocdb_server_spark.operators import stats

    rows = OPS["op201_bottomk_quantile_sketch"].fn(spark, sf_dir).collect()
    overall = next(r for r in rows if r["level"] == "all")
    assert overall["k"] == stats._BK_K

    e = load_table(spark, sf_dir, "events").select(
        "value", F.xxhash64("event_id").alias("tag")
    )
    direct = (
        e.withColumn("rn", F.row_number().over(W.orderBy("tag")))
        .filter(F.col("rn") <= stats._BK_K)
        .agg(F.expr("round(percentile(value, 0.5), 6)").alias("p50"))
        .collect()[0]["p50"]
    )
    assert overall["est_p50"] == direct, "merge != direct global sketch"

    n = e.count()
    rank = e.filter(F.col("value") <= overall["est_p50"]).count() / n
    assert 0.30 <= rank <= 0.70, f"median estimate rank {rank} out of band"

    # per-type sketches are deterministic: same rows on a re-run
    again = {
        (r["level"], r["key"]): (r["est_p25"], r["est_p50"], r["est_p75"])
        for r in OPS["op201_bottomk_quantile_sketch"].fn(spark, sf_dir).collect()
    }
    first = {
        (r["level"], r["key"]): (r["est_p25"], r["est_p50"], r["est_p75"])
        for r in rows
    }
    assert again == first


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
