"""Behavioral tests for op154–op160 beyond the DuckDB oracle: planted
fixtures exercising the edges the random testdata may not hit."""

from __future__ import annotations

from pyspark.sql import functions as F

from ocdb_server_spark.registry import load_all

OPS = load_all()


def _prefix_groups(df):
    from ocdb_server_spark.operators.dedup import op154_prefix_dedup  # noqa: F401
    # run op154's logic on a crafted frame via the same expressions
    return (
        df.filter(F.length("text") >= 64)
        .select("doc_id", F.md5(F.expr("substr(lower(text), 1, 64)")).alias("h"))
        .groupBy("h")
        .agg(F.count("*").alias("n"), F.min("doc_id").alias("keeper"))
        .filter(F.col("n") > 1)
    )


def test_prefix_dedup_catches_planted_and_skips_short(spark):
    """Same 64-char prefix + different tails → one group with the min
    doc_id as keeper; docs shorter than 64 chars never participate
    (a 3-char doc equal to another 3-char doc is NOT a prefix dup)."""
    prefix = "x" * 64
    df = spark.createDataFrame(
        [
            (1, prefix + " tail one"),
            (2, prefix + " a completely different continuation"),
            (7, prefix.upper() + " case-insensitive too"),  # lower() normalizes
            (3, "abc"),
            (4, "abc"),
        ],
        "doc_id long, text string",
    )
    rows = _prefix_groups(df).collect()
    assert len(rows) == 1
    assert rows[0]["n"] == 3
    assert rows[0]["keeper"] == 1


def test_chunk_overlap_boundary_math(spark, sf_dir):
    """Chunk invariants on the real table: chunk 0 starts at 0; every
    later chunk starts exactly stride=112 after the previous; len is
    in (0, 128]; the last chunk covers the final token (start + len ==
    n_tokens for the max chunk)."""
    out = OPS["op155_chunk_overlap"].fn(spark, sf_dir)
    bad_len = out.filter((F.col("chunk_len") <= 0) | (F.col("chunk_len") > 128))
    assert bad_len.count() == 0
    bad_start = out.filter(F.col("chunk_start") != F.col("chunk_idx") * 112)
    assert bad_start.count() == 0
    # per doc: max chunk must end exactly at n_tokens (full coverage)
    d = OPS["op155_chunk_overlap"].fn(spark, sf_dir)
    last = (
        d.groupBy("doc_id").agg(
            F.max(F.struct("chunk_idx", "chunk_start", "chunk_len")).alias("m")
        )
    )
    # recompute n_tokens independently
    from ocdb_server_spark.io import load_table

    nt = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr("length(text) - length(replace(text, ' ', '')) + 1").alias("n_tokens"),
    )
    j = last.join(nt, "doc_id").filter(
        F.col("m.chunk_start") + F.col("m.chunk_len") != F.col("n_tokens")
    )
    assert j.count() == 0


def test_budget_pack_respects_cap_and_determinism(spark, sf_dir):
    """No selected prefix exceeds the 2k cap; max cum per lang is within
    (cap - next_doc, cap]; two runs return identical row sets."""
    a = OPS["op157_token_budget_pack"].fn(spark, sf_dir)
    assert a.filter(F.col("cum_tokens") > 2000).count() == 0
    rows1 = sorted(tuple(r) for r in a.collect())
    rows2 = sorted(tuple(r) for r in OPS["op157_token_budget_pack"].fn(spark, sf_dir).collect())
    assert rows1 == rows2
    # every lang present in the corpus contributed something
    from ocdb_server_spark.io import load_table

    langs = {r["lang"] for r in load_table(spark, sf_dir, "documents").select("lang").distinct().collect()}
    got = {r["lang"] for r in a.collect()}
    assert got == langs


def test_mix_report_shares_sum_to_one(spark, sf_dir):
    """char_share sums to ~1 and cum_share is monotone nondecreasing in
    descending-volume order, ending at ~1."""
    rows = (
        OPS["op156_domain_mix_report"].fn(spark, sf_dir)
        .orderBy(F.col("total_chars").desc(), "source")
        .collect()
    )
    total = sum(r["char_share"] for r in rows)
    assert abs(total - 1.0) < 1e-3
    cums = [r["cum_share"] for r in rows]
    assert all(b >= a - 1e-9 for a, b in zip(cums, cums[1:]))
    assert abs(cums[-1] - 1.0) < 1e-6


def test_zipf_slope_is_negative_and_bounded(spark, sf_dir):
    """Rank-frequency slope must be negative for every language (freq
    decreases with rank by construction) and in a sane Zipf-ish band."""
    rows = OPS["op160_zipf_slope"].fn(spark, sf_dir).collect()
    assert rows, "no languages?"
    for r in rows:
        assert -3.0 < r["zipf_slope"] < 0.0, r


def test_bucketed_cojoin_matches_plain_join(spark, sf_dir):
    """The bucketed-table join must return exactly what the plain
    (shuffle/broadcast) join over the raw tables returns."""
    from ocdb_server_spark.io import load_table

    got = {
        (r["o_orderstatus"], r["n_items"], r["sum_qty"])
        for r in OPS["op159_bucketed_cojoin"].fn(spark, sf_dir).collect()
    }
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 40)
    o = load_table(spark, sf_dir, "orders")
    plain = {
        (r["o_orderstatus"], r["n_items"], r["sum_qty"])
        for r in li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_items"),
            F.expr("cast(sum(cast(l_quantity as decimal(18,2))) as double)").alias(
                "sum_qty"
            ),
        )
        .collect()
    }
    assert got == plain
