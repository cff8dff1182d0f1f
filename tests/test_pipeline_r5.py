"""Round-5 operator tests (op178–op182): the proofs that plan
assertions and the DuckDB oracle can't express — file-level layout
sortedness (op179), PQ recall vs an independent numpy oracle (op180),
bloom-filter injection + conf hygiene (op182), and the bin-packing
invariant (op178)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from ocdb_server_spark.registry import load_all

OPS = load_all()


def test_compaction_bins_respect_target(spark, sf_dir):
    """Next-fit packing invariant: a bin accumulates files only while
    its cumulative start offset is below the next target boundary, so
    every bin's total is < target + its largest file (only the file
    that straddles the boundary can overshoot)."""
    from ocdb_server_spark.operators.lakehouse import _COMPACT_TARGET

    rows = OPS["op178_compaction_plan"].fn(spark, sf_dir).collect()
    assert rows, "planner must emit at least one bin"
    bins = sorted(r["bin"] for r in rows)
    assert bins == list(range(len(bins))), f"bins must be dense: {bins}"
    for r in rows:
        assert r["total_bytes"] < _COMPACT_TARGET + r["max_file_bytes"], (
            f"bin {r['bin']} overfilled: {r['total_bytes']}"
        )
        assert r["n_files"] >= 1 and r["min_file_bytes"] <= r["max_file_bytes"]


def test_sorted_export_files_really_are_sorted(spark, sf_dir, tmp_path):
    """op179's contract is about the FILES: write the export frame,
    read every parquet file back independently, and assert rows inside
    each file are (lang, doc_id)-sorted and shard-pure. This is what
    gives downstream per-lang scans their row-group skipping."""
    import glob

    import pyarrow.parquet as pq

    from ocdb_server_spark.io import load_table
    from ocdb_server_spark.operators.lakehouse import (
        _N_SHARDS,
        sorted_export_frame,
    )

    out = str(tmp_path / "export")
    sorted_export_frame(
        load_table(spark, sf_dir, "documents")
    ).write.partitionBy("shard").parquet(out)
    shard_dirs = sorted(glob.glob(f"{out}/shard=*"))
    assert len(shard_dirs) == _N_SHARDS
    for d in shard_dirs:
        files = glob.glob(f"{d}/*.parquet")
        assert len(files) == 1, f"{d}: expected ONE file, got {len(files)}"
        t = pq.read_table(files[0]).to_pandas()
        assert not t.empty
        keys = list(zip(t["lang"], t["doc_id"]))
        assert keys == sorted(keys), f"{files[0]}: not (lang, doc_id)-sorted"


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


def test_bloom_filter_is_injected_and_confs_restored(spark, sf_dir):
    """op182 must (a) end up with a runtime bloom filter in its plan —
    bloom_filter_agg on the dim side, might_contain guarding the fact
    scan — and (b) leave the session confs exactly as it found them."""
    before = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    df = OPS["op182_bloom_join_prune"].fn(spark, sf_dir)
    after = {k: spark.conf.get(k) for k in before}
    assert after == before, "op182 leaked session conf changes"
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "might_contain" in plan, "bloom probe missing from fact side"
    assert "bloom_filter_agg" in plan, "bloom build missing from dim side"


def test_skipping_audit_matches_layout_truth(spark, sf_dir):
    """The clustered column (month-partitioned o_orderdate) must make
    every pre-cutoff file skippable and every post-cutoff file not;
    the unclustered o_totalprice must make (almost) nothing skippable
    — the contrast the audit exists to measure."""
    rows = OPS["op181_file_skipping_audit"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["date_skippable"] == (r["month"] < "2000-01"), r
        assert r["min_price"] <= r["max_price"]
    n_price_skip = sum(r["price_skippable"] for r in rows)
    assert n_price_skip <= len(rows) // 2, (
        "unclustered price column should rarely be skippable"
    )


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


def test_binned_range_join_avoids_theta_plan(spark, sf_dir):
    """op184 must plan the interval match as an EQUI join on the bin
    key — never a BroadcastNestedLoopJoin over the raw range
    predicate."""
    plan = (
        OPS["op184_range_join_binned"]
        .fn(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert (
        "BroadcastHashJoin" in plan
        or "SortMergeJoin" in plan
        or "ShuffledHashJoin" in plan
    )


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
