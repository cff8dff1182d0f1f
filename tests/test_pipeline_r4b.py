"""Behavioral tests for op161–op170 beyond the DuckDB oracle: planted
fixtures exercising edges the random testdata may not hit, the HLL
accuracy gate (op166 is ROWS-only — this is its correctness evidence),
and the salted-join ≡ plain-join equivalence."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from ocdb_server_spark.registry import load_all

OPS = load_all()


# ---------------------------------------------------------------- op161


def test_zorder_blocks_partition_the_plane(spark, sf_dir):
    """Each z-block's bbox must be a small tile of the 256×256 plane
    (Morton property: a 1024-value z-range spans a 32×32 tile), blocks
    are disjoint in z, and row counts sum to the full table."""
    out = OPS["op161_zorder_layout"].fn(spark, sf_dir).collect()
    li_rows = spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()
    assert sum(r["n_rows"] for r in out) == li_rows
    for r in out:
        # a 10-bit z block = 5 bits x + 5 bits y -> 32×32 tile max
        assert r["max_x"] - r["min_x"] + 1 <= 32
        assert r["max_y"] - r["min_y"] + 1 <= 32
        assert r["bbox_area"] <= 32 * 32
    assert len({r["z_block"] for r in out}) == len(out)


def test_morton_bit_interleave_exact(spark):
    """Spot-check the Morton code against a Python reference."""
    from ocdb_server_spark.operators.lakehouse import _morton

    def py_morton(x, y):
        z = 0
        for i in range(8):
            z |= ((x >> i) & 1) << (2 * i)
            z |= ((y >> i) & 1) << (2 * i + 1)
        return z

    df = spark.createDataFrame(
        [(0, 0), (255, 255), (255, 0), (0, 255), (170, 85), (1, 2)], "x long, y long"
    ).withColumn("z", F.expr(_morton(True, "x", "y")))
    for r in df.collect():
        assert r["z"] == py_morton(r["x"], r["y"]), (r["x"], r["y"])


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


# ---------------------------------------------------------------- op165


def test_entropy_extremes(spark):
    """All-same-token doc -> 0 bits; 4 equally-frequent tokens -> 2 bits."""
    import tempfile, os

    df = spark.createDataFrame(
        [
            (1, "a a a a a a a a", "en", "s", 15),
            (2, "a b c d a b c d", "en", "s", 15),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    with tempfile.TemporaryDirectory() as tmp:
        df.write.parquet(os.path.join(tmp, "documents.parquet"))
        out = {r["doc_id"]: r for r in OPS["op165_token_entropy"].fn(spark, tmp).collect()}
    assert out[1]["entropy_bits"] == 0.0
    assert abs(out[2]["entropy_bits"] - 2.0) < 1e-6
    assert out[1]["n_tokens"] == 8 and out[2]["n_tokens"] == 8


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


# ---------------------------------------------------------------- op167


def test_salted_join_equals_plain_join(spark, sf_dir):
    """Salting must change the distribution, never the answer."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    plain = {
        r["c_mktsegment"]: (r["n"], r["s"])
        for r in o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n"),
            (F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")) / 100.0).alias("s"),
        )
        .collect()
    }
    salted = {
        r["mktsegment"]: (r["n_orders"], r["total_price"])
        for r in OPS["op167_salted_join"].fn(spark, sf_dir).collect()
    }
    assert salted == plain


# ---------------------------------------------------------------- op168


def test_snapshot_diff_planted_all_statuses(spark):
    import tempfile, os

    rows = [
        # user 1: value changes after T1 -> changed
        (1, "2024-01-10 00:00:00", 1, "view", 1.0, "{}"),
        (2, "2024-01-20 00:00:00", 1, "view", 2.0, "{}"),
        # user 2: no events after T1, latest state identical -> unchanged
        (3, "2024-01-11 00:00:00", 2, "click", 5.0, "{}"),
        # user 3: first event after T1 -> added
        (4, "2024-01-21 00:00:00", 3, "purchase", 7.0, "{}"),
        # user 4: same value re-emitted after T1 -> unchanged
        (5, "2024-01-12 00:00:00", 4, "view", 9.0, "{}"),
        (6, "2024-01-22 00:00:00", 4, "view", 9.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string, value double, props string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    with tempfile.TemporaryDirectory() as tmp:
        df.write.parquet(os.path.join(tmp, "events.parquet"))
        out = {r["user_id"]: r["status"] for r in OPS["op168_snapshot_diff"].fn(spark, tmp).collect()}
    assert out == {1: "changed", 2: "unchanged", 3: "added", 4: "unchanged"}


# ---------------------------------------------------------------- op169


def test_unigram_logprob_rare_tokens_score_higher(spark):
    """A doc of corpus-common tokens must score lower avg_neglogp than
    a doc of corpus-rare tokens; hand-check the two-token case."""
    import tempfile, os

    # corpus: 'the' x 9 occurrences, 'rare' x 1
    df = spark.createDataFrame(
        [
            (1, "the the the the", "en", "s", 15),
            (2, "the the the the", "en", "s", 15),
            (3, "the rare", "en", "s", 8),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    with tempfile.TemporaryDirectory() as tmp:
        df.write.parquet(os.path.join(tmp, "documents.parquet"))
        out = {r["doc_id"]: r for r in OPS["op169_unigram_logprob"].fn(spark, tmp).collect()}
    t = 10  # total tokens
    nl_the = math.floor(math.log(t / 9) * 1e6 + 0.5)  # quantized micro-nats
    nl_rare = math.floor(math.log(t / 1) * 1e6 + 0.5)
    assert out[1]["avg_neglogp"] == out[2]["avg_neglogp"]
    assert abs(out[1]["avg_neglogp"] - nl_the / 1e6) < 1e-9
    assert abs(out[3]["avg_neglogp"] - (nl_the + nl_rare) / 2 / 1e6) < 1e-9
    assert out[3]["avg_neglogp"] > out[1]["avg_neglogp"]


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


# ---------------------------------------------------------------- op171


def test_rollup_merge_matches_direct_aggregation(spark, sf_dir):
    """Merging daily partials must equal aggregating raw events
    directly (algebraic-mergeability proof)."""
    from ocdb_server_spark.io import load_table

    e = load_table(spark, sf_dir, "events")
    direct = {
        r["user_id"]: r
        for r in e.groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
        .collect()
    }
    merged = {r["user_id"]: r for r in OPS["op171_rollup_merge"].fn(spark, sf_dir).collect()}
    assert set(merged) == set(direct)
    for u, m in merged.items():
        d = direct[u]
        assert m["n_events"] == d["n_events"]
        assert m["min_value"] == d["min_value"]
        assert m["max_value"] == d["max_value"]
        assert m["n_days"] <= m["n_events"]


# ---------------------------------------------------------------- op172


def test_dpp_join_reads_only_conversion_partitions(spark, sf_dir):
    """Result must only contain the two conversion event types, and
    row counts must match a direct filtered scan."""
    from ocdb_server_spark.io import load_table

    out = {r["event_type"]: r["n_events"] for r in OPS["op172_dpp_join"].fn(spark, sf_dir).collect()}
    assert set(out) == {"signup", "purchase"}
    e = load_table(spark, sf_dir, "events")
    direct = {
        r["event_type"]: r["n"]
        for r in e.filter(F.col("event_type").isin("signup", "purchase"))
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert out == direct


# ---------------------------------------------------------------- op173


def test_ri_audit_clean_on_synthetic_and_catches_planted_orphan(spark, sf_dir):
    """The synthetic star schema is referentially intact (all zeros);
    a planted orphan lineitem must be counted."""
    rows = {r["violation"]: r["n_rows"] for r in OPS["op173_ri_audit"].fn(spark, sf_dir).collect()}
    assert rows == {
        "lineitem_without_order": 0,
        "order_without_customer": 0,
        "lineitem_without_part": 0,
    }
    # planted orphan: an order key that does not exist
    li = spark.createDataFrame([(999999999, 1)], "l_orderkey long, l_partkey long")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    n = li.join(o, li.l_orderkey == o.o_orderkey, "left_anti").count()
    assert n == 1


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


# ---------------------------------------------------------------- op175


def test_pmi_finds_planted_collocation(spark):
    """'san francisco' always co-occurring scores high PMI; a bigram of
    two independent high-frequency fillers scores ~0 and is cut."""
    import tempfile, os

    docs = []
    for i in range(10):
        # 'san francisco' bound pair; 'the' scattered everywhere
        docs.append((i, "the san francisco the city the bay the area", "en", "s", 40))
    df = spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    )
    with tempfile.TemporaryDirectory() as tmp:
        df.write.parquet(os.path.join(tmp, "documents.parquet"))
        out = {r["bigram"]: r for r in OPS["op175_pmi_collocations"].fn(spark, tmp).collect()}
    assert "san francisco" in out
    sf = out["san francisco"]
    assert sf["c_xy"] == 10 and sf["pmi"] > 1.0
    for r in out.values():
        assert r["c_xy"] >= 5 and r["pmi"] > 0


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
