"""Behavioral tests for the near-duplicate operators
(operators/dedup.py) and the bucket routing they share
(functions/skew.py): MinHash, substring spans and containment each
recover planted duplicates, and the oversized-bucket hybrid self-join
returns exactly the direct self-join's pairs."""

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


# --- hybrid oversized-bucket routing (functions/skew.py) -----------------


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
    """Routing edge cases: (1) when the oversized-bucket list
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
    under a non-default n_slices, which op79 passes through."""
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


def test_substring_spans_cover_planted_duplicates(spark):
    """sf0.1 plants 8 exact-duplicate texts (FIXTURES.md): each dup doc
    must carry one span covering its ENTIRE token range (overlapping
    windows fused into one maximal span), and spans never exceed doc
    length. Also: a crafted corpus where only a 10-token quote is
    shared must yield exactly that quote's span in both docs."""
    from ocdb_server_spark.operators import dedup

    quote = " ".join(f"q{i}" for i in range(10))
    rows = [
        (1, "aa bb cc dd ee ff gg hh " + quote + " zz yy"),
        (2, quote + " kk ll mm nn oo pp qq rr"),
        (3, "uu vv ww xx " + " ".join(f"u{i}" for i in range(20))),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")

    # run the op body against the crafted frame via a shim loader
    orig = dedup.load_table
    try:
        dedup.load_table = lambda s, sf, name: d
        got = {
            (r["doc_id"], r["span_start"], r["span_len"])
            for r in dedup.op190_substring_dup_spans(spark, "crafted").collect()
        }
    finally:
        dedup.load_table = orig
    # doc1: quote occupies tokens 9..18 → windows 9..11 (L=8) → span (9, 10)
    # doc2: tokens 1..10 → windows 1..3 → span (1, 10)
    assert got == {(1, 9, 10), (2, 1, 10)}, got


def test_substring_spans_on_planted_sf01_dups(spark):
    """The 8 planted duplicate texts at sf0.1 must each surface a
    whole-document span."""
    from pyspark.sql import functions as F

    from ocdb_server_spark.io import load_table

    sf_dir = "/root/testdata/sf0.1"
    d = load_table(spark, sf_dir, "documents")
    dup_texts = (
        d.groupBy("text")
        .agg(F.count("*").alias("c"), F.collect_list("doc_id").alias("ids"))
        .filter(F.col("c") > 1)
        .collect()
    )
    assert dup_texts, "fixture must contain planted dups at sf0.1"
    spans = {
        r["doc_id"]: (r["span_start"], r["span_len"])
        for r in OPS["op190_substring_dup_spans"].fn(spark, sf_dir).collect()
    }
    for row in dup_texts:
        n_tokens = len(row["text"].split(" "))
        for doc_id in row["ids"]:
            assert doc_id in spans, f"dup doc {doc_id} has no span"
            start, length = spans[doc_id]
            assert start == 1 and length == n_tokens, (
                f"doc {doc_id}: expected whole-doc span (1, {n_tokens}), "
                f"got ({start}, {length})"
            )


def test_containment_catches_planted_dups_and_quote_inclusion(spark):
    """sf0.1's 8 planted exact-dup pairs must score containment 1.0 on
    BOTH sides; a crafted quote-inclusion corpus must score ~1.0 on
    the contained side and <0.5 on the containing side — the asymmetry
    Jaccard misses."""
    from pyspark.sql import functions as F

    from ocdb_server_spark.io import load_table
    from ocdb_server_spark.operators import dedup

    rows = OPS["op192_shingle_containment"].fn(
        spark, "/root/testdata/sf0.1"
    ).collect()
    full = [
        r for r in rows if r["containment_a"] == 1.0 and r["containment_b"] == 1.0
    ]
    d = load_table(spark, "/root/testdata/sf0.1", "documents")
    n_dup_pairs = (
        d.groupBy("text").count().filter(F.col("count") > 1).count()
    )
    assert len(full) == n_dup_pairs, (full, n_dup_pairs)

    quote = " ".join(f"q{i}" for i in range(12))
    crafted = spark.createDataFrame(
        [
            (1, quote),  # the tweet: entirely contained
            (2, " ".join(f"w{i}" for i in range(40)) + " " + quote
                + " " + " ".join(f"v{i}" for i in range(40))),
        ],
        "doc_id long, text string",
    )
    orig = dedup.load_table
    try:
        dedup.load_table = lambda s, sf, name: crafted
        got = dedup.op192_shingle_containment(spark, "crafted").collect()
    finally:
        dedup.load_table = orig
    assert len(got) == 1
    r = got[0]
    assert r["doc_a"] == 1 and r["containment_a"] == 1.0
    assert r["containment_b"] < 0.5


def test_minhash_rollup_law_and_duplicate_sources(spark, sf_dir):
    """min(minhash(A), minhash(B)) = minhash(A∪B): the corpus row the
    op derives FROM source signatures must equal the signature computed
    directly from all shingles; and two sources with identical content
    must emit identical signatures (crafted corpus)."""
    from pyspark.sql import functions as F

    from ocdb_server_spark.io import load_table
    from ocdb_server_spark.operators import dedup

    rows = OPS["op194_minhash_rollup"].fn(spark, sf_dir).collect()
    sig = {
        (r["level"], r["key"]): tuple(r[f"mh{i}"] for i in range(dedup._MH_K))
        for r in rows
    }
    corpus = sig[("corpus", "*")]
    srcs = [v for (lvl, _), v in sig.items() if lvl == "source"]
    assert corpus == tuple(min(s[i] for s in srcs) for i in range(dedup._MH_K))

    # direct computation from all shingles, bypassing the rollup
    d = load_table(spark, sf_dir, "documents")
    w = d.select(F.expr("split(lower(text), ' ')").alias("w"))
    shingles = F.expr(
        "array_distinct(filter("
        "  zip_with(w, slice(w, 2, greatest(size(w) - 1, 0)),"
        "           (x, y) -> concat_ws(' ', x, y)),"
        "  s -> contains(s, ' ')))"
    )
    sh = w.select(F.explode(shingles).alias("shingle"))
    direct = sh.agg(
        *[
            F.expr(f"min(xxhash64({i}, shingle)) AS mh{i}")
            for i in range(dedup._MH_K)
        ]
    ).collect()[0]
    assert corpus == tuple(direct[f"mh{i}"] for i in range(dedup._MH_K))

    crafted = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon", "s1"),
            (2, "alpha beta gamma delta epsilon", "s2"),
            (3, "zeta eta theta iota kappa", "s3"),
        ],
        "doc_id long, text string, source string",
    )
    orig = dedup.load_table
    try:
        dedup.load_table = lambda s, sf, name: crafted
        got = {
            r["key"]: tuple(r[f"mh{i}"] for i in range(dedup._MH_K))
            for r in dedup.op194_minhash_rollup(spark, "crafted").collect()
        }
    finally:
        dedup.load_table = orig
    assert got["s1"] == got["s2"], "identical sources must share a signature"
    assert got["s1"] != got["s3"]
