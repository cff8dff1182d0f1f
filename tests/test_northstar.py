"""Behavioral tests for the §2.10 north-star ops that the oracle gate
only rows-checks (op79) or whose float semantics deserve property
checks (op80/op81)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from ocdb_server_spark.operators.dedup import minhash_neardup_pairs
from ocdb_server_spark.registry import load_all

OPS = load_all()


@pytest.fixture(scope="module")
def crafted(spark):
    base = (
        "the quick brown fox jumps over the lazy dog while the cat naps "
        "beside the warm stone wall in the late afternoon sun today"
    )
    return spark.createDataFrame(
        [
            (1, base),
            (2, base),                                  # exact dup
            (3, base.replace("today", "tomorrow")),     # near dup (1 word)
            (4, "spark plans declarative queries with catalyst and runs "
                "them through tungsten whole stage codegen pipelines"),
            (5, "completely unrelated text about parquet row groups and "
                "columnar compression strategies for analytic scans"),
        ],
        "doc_id long, text string",
    )


def test_minhash_finds_exact_and_near_dups(crafted):
    pairs = {
        (r["doc_a"], r["doc_b"]) for r in minhash_neardup_pairs(crafted).collect()
    }
    assert (1, 2) in pairs  # identical signatures must collide in every band
    assert (1, 3) in pairs or (2, 3) in pairs  # 1-word edit keeps ≥1 band
    # unrelated docs must not pair with the fox docs
    for a in (1, 2, 3):
        assert (a, 4) not in pairs and (a, 5) not in pairs


def test_minhash_symmetric_under_id_relabeling(crafted):
    """Candidate generation must depend on text only: relabeling ids
    yields the same pair set (modulo the relabeling)."""
    relabeled = crafted.withColumn("doc_id", F.lit(100) - F.col("doc_id"))
    orig = {
        frozenset((r["doc_a"], r["doc_b"]))
        for r in minhash_neardup_pairs(crafted).collect()
    }
    rel = {
        frozenset((100 - a, 100 - b))
        for fs in (
            {(r["doc_a"], r["doc_b"]) for r in minhash_neardup_pairs(relabeled).collect()}
        )
        for a, b in [tuple(fs)]
    }
    assert orig == rel


def test_op79_surfaces_planted_corpus_dups(spark, sf_dir):
    """Every exact-duplicate text group in the corpus must produce its
    pairs (identical texts ⇒ identical signatures ⇒ all bands match)."""
    from ocdb_server_spark.io import load_table

    docs = load_table(spark, sf_dir, "documents")
    dup_groups = (
        docs.groupBy("text")
        .agg(F.collect_list("doc_id").alias("ids"))
        .filter(F.size("ids") > 1)
        .collect()
    )
    expected = {
        (min(a, b), max(a, b))
        for g in dup_groups
        for i, a in enumerate(g["ids"])
        for b in g["ids"][i + 1 :]
    }
    got = {
        (r["doc_a"], r["doc_b"])
        for r in OPS["op79_minhash_neardup"].fn(spark, sf_dir).collect()
    }
    assert expected <= got


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


# --- hybrid oversized-bucket routing (functions/skew.py graduation) ------


def _direct_bucket_pairs(df):
    return {
        (r["id_a"], r["id_b"])
        for r in (
            df.alias("l")
            .join(
                df.alias("r"),
                F.expr("l.b = r.b AND l.doc_id < r.doc_id"),
            )
            .selectExpr("l.doc_id AS id_a", "r.doc_id AS id_b")
            .collect()
        )
    }


@pytest.fixture(scope="module")
def bucketed(spark):
    """One oversized bucket (120 ids) + 40 small buckets (3 ids each)
    + a singleton — the shape the hybrid router splits."""
    rows = [(i, "HOT") for i in range(120)]
    rows += [(1000 + 10 * b + i, f"s{b}") for b in range(40) for i in range(3)]
    rows += [(99999, "lonely")]
    return spark.createDataFrame(rows, "doc_id long, b string")


def test_hybrid_selfjoin_pairs_matches_direct(bucketed):
    """Coverage invariance: the routed plan (semi/anti split + blocked
    triangle for the oversized bucket) yields the exact pair set of the
    direct self-join, at every routing regime."""
    from ocdb_server_spark.functions.skew import hybrid_selfjoin_pairs

    expected = _direct_bucket_pairs(bucketed)
    assert len(expected) == 120 * 119 // 2 + 40 * 3
    for threshold, n_slices in ((100, 4), (0, 3), (10_000, 8)):
        got = {
            (r["id_a"], r["id_b"])
            for r in hybrid_selfjoin_pairs(
                bucketed, ["b"], "doc_id", threshold=threshold, n_slices=n_slices
            ).collect()
        }
        assert got == expected, f"threshold={threshold} S={n_slices}"


def test_hybrid_selfjoin_shuffle_fallback_and_quoting(spark, bucketed):
    """Round-10 ADVICE hardening: (1) when the oversized-bucket list
    exceeds max_broadcast_buckets the routing falls back to shuffle
    semi/anti joins — same pair set, no F.broadcast of an unbounded
    list; (2) bucket/id identifiers needing backticks (space, hyphen)
    are quoted in every interpolated SQL fragment."""
    from ocdb_server_spark.functions.skew import hybrid_selfjoin_pairs

    expected = _direct_bucket_pairs(bucketed)
    got = {
        (r["id_a"], r["id_b"])
        for r in hybrid_selfjoin_pairs(
            bucketed, ["b"], "doc_id", threshold=0, n_slices=3,
            max_broadcast_buckets=0,  # force the shuffle route
        ).collect()
    }
    assert got == expected

    awkward = bucketed.withColumnRenamed("b", "bucket key").withColumnRenamed(
        "doc_id", "doc-id"
    )
    got2 = {
        (r["id_a"], r["id_b"])
        for r in hybrid_selfjoin_pairs(
            awkward, ["bucket key"], "doc-id", threshold=100, n_slices=4
        ).collect()
    }
    assert got2 == expected


def test_minhash_hybrid_routing_identical(crafted):
    """op79's opt-in hot-bucket routing must be pair-for-pair identical
    to the default direct banding join on the same corpus — including
    under a non-default n_slices (the round-10 ADVICE plumb)."""
    base = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_neardup_pairs(crafted).collect()
    }
    routed = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_neardup_pairs(crafted, hot_bucket_threshold=1).collect()
    }
    assert routed == base and base  # non-empty: the planted dups pair
    sliced = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_neardup_pairs(
            crafted, hot_bucket_threshold=1, n_slices=3
        ).collect()
    }
    assert sliced == base
