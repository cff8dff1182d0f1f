"""Behavioral tests for the text operators (operators/text.py):
chunking and packing boundaries, language-model scores with closed
forms, BPE training and application against a pure-Python reference,
and the corpus-build stage invariants."""

from __future__ import annotations

import math

import pytest

from pyspark.sql import functions as F

from ocdb_server_spark.operators import text
from ocdb_server_spark.registry import load_all

OPS = load_all()


# ------------------------------------------------- per-row text ops


def test_op91_pred_matches_marker_votes(spark, sf_dir):
    """Spot-check the argmax/tie-break contract on a few docs."""
    out = OPS["op91_lang_id"].fn(spark, sf_dir)
    assert out.filter(~F.col("pred_lang").isin("de", "en", "es", "fr", "zh", "und")).count() == 0


def test_op92_quality_bounded(spark, sf_dir):
    out = OPS["op92_quality_score"].fn(spark, sf_dir)
    bad = out.filter((F.col("quality") < 0) | (F.col("quality") > 1)).count()
    assert bad == 0


def test_op93_bpe_at_least_ws(spark, sf_dir):
    """The BPE-ish lexer can only split further than whitespace —
    never merge — so its token count dominates."""
    out = OPS["op93_token_count"].fn(spark, sf_dir)
    assert out.filter(F.col("n_bpe_tokens") < F.col("n_ws_tokens")).count() == 0


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


def test_vocab_coverage_shrinks_with_bigger_vocab(spark, sf_dir):
    """OOV must be monotonically non-increasing in vocab size — rebuild
    the op's pipeline at K=4 and K=16 and compare per-lang OOV."""
    from ocdb_server_spark.io import load_table

    d = load_table(spark, sf_dir, "documents")

    def oov_by_lang(k):
        tok = d.select(
            "lang", F.explode(F.split("text", " ")).alias("word")
        ).filter(F.col("word") != "")
        vocab = (
            tok.groupBy("word")
            .agg(F.count("*").alias("c"))
            .orderBy(F.col("c").desc(), "word")
            .limit(k)
            .select("word", F.lit(1).alias("in_vocab"))
        )
        j = tok.join(F.broadcast(vocab), "word", "left").select(
            "lang", F.when(F.col("in_vocab").isNull(), 1).otherwise(0).alias("oov")
        )
        return {
            r["lang"]: r["o"]
            for r in j.groupBy("lang").agg(F.sum("oov").alias("o")).collect()
        }

    small, big = oov_by_lang(4), oov_by_lang(16)
    assert set(small) == set(big)
    for lang in small:
        assert big[lang] <= small[lang]
    # and the registered op agrees with the K=16 rebuild
    got = {
        r["lang"]: r["oov_tokens"]
        for r in OPS["op187_vocab_coverage"].fn(spark, sf_dir).collect()
    }
    assert got == big


def test_bigram_backoff_fires_on_unseen_language(spark):
    """A crafted corpus where the non-en doc shares NO vocabulary with
    the en training slice: every one of its transitions must take the
    backoff path, and its avg_neglogp must exceed the in-model doc's
    (the filter's discriminating direction)."""
    from ocdb_server_spark.operators import text

    rows = [
        (1, "en", "a b c a b c a b"),
        (2, "en", "a b a b c c a b"),
        (3, "zh", "x y z x y z x y"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    orig = text.load_table
    try:
        text.load_table = lambda s, sf, name: d
        got = {
            r["doc_id"]: (r["n_transitions"], r["n_backoff"], r["avg_neglogp"])
            for r in text.op191_bigram_logprob(spark, "crafted").collect()
        }
    finally:
        text.load_table = orig
    assert got[3][0] == got[3][1] == 7, "all zh transitions must back off"
    assert got[1][1] == 0 and got[2][1] == 0
    assert got[3][2] > got[1][2] and got[3][2] > got[2][2]


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
