"""Text operators for LLM training corpora (SURVEY.md §2.10 onward):
per-document and per-corpus statistics, cleaning and PII scrubbing,
language id and quality scores, tokenization (BPE train/apply) and
token budgets, n-gram language-model scores, sequence packing, and the
data-mix and corpus-build pipelines.

Per-row scores (lang-ID, quality, token counts) are pure JVM
expressions: zero shuffle, scan speed on any corpus size. Corpus
statistics shuffle on (language, token) keys with map-side partials.

Package rules: DataFrame/Catalyst only, Python only inside
Arrow-batched pandas kernels (mapInPandas / applyInPandas), shuffles carry ids and counters
(never payload text), cross-engine floats quantized to int64 before
any sum or round(6)-stabilized, and outputs canonicalizer-safe
(scalars only, no DECIMAL — tests/test_gate_shape.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from ocdb_server_spark.functions.text import LANG_MARKERS, STOPWORDS, token_hits, tokens
from ocdb_server_spark.io import load_table
from ocdb_server_spark.operators.stats import _KNUTH, _SHARD_SQL, _mulmod32, shard_assign
from ocdb_server_spark.registry import pool_persist, register


# --------------------------------------------------------------------------
# op115: training-sequence packing
# --------------------------------------------------------------------------

_PACK_BUDGET = 512  # tokens per training sequence

_OP115_SQL = f"""
WITH t AS (
  SELECT source, doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS tokens
  FROM documents),
c AS (
  SELECT source, doc_id, tokens,
         SUM(tokens) OVER (PARTITION BY source ORDER BY doc_id
                           ROWS UNBOUNDED PRECEDING) AS cum
  FROM t)
SELECT source,
       CAST(FLOOR((cum - tokens) / {_PACK_BUDGET}.0) AS BIGINT) AS pack_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(tokens) AS BIGINT) AS n_tokens
FROM c
GROUP BY source, pack_id
"""


@register("op115_seq_pack", oracle=_OP115_SQL)
def op115_seq_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack documents into fixed token-budget training sequences:
    within each source shard, in doc_id order, a document joins the
    pack its running token count (exclusive of itself) falls in.
    This is the contiguous-fill formulation: pack boundaries are
    determined by a per-shard window cumsum — one shuffle on source,
    no global sort, so 100 TB packs shard-parallel (the same
    per-shard-window pattern as op98's train_shard_assign). Output is
    the pack manifest (docs + tokens per pack), which is what a
    dataloader consumes."""
    d = load_table(spark, sf_dir, "documents")
    tokens = F.size(F.split(F.col("text"), " ")).cast("bigint")
    w = (
        W.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    t = d.select("source", "doc_id", tokens.alias("tokens"))
    c = t.withColumn("cum", F.sum("tokens").over(w))
    pack = F.floor((F.col("cum") - F.col("tokens")) / float(_PACK_BUDGET)).cast(
        "bigint"
    )
    return (
        c.withColumn("pack_id", pack)
        .groupBy("source", "pack_id")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("tokens").cast("bigint").alias("n_tokens"),
        )
    )


# --------------------------------------------------------------------------
# op117: lexicon-based PII scrubbing
# --------------------------------------------------------------------------

_PII_PAT = r"\b(customer|key|value)\b"

_OP117_SQL = f"""
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(len(regexp_extract_all(text, '{_PII_PAT}'))) AS BIGINT) AS total_hits,
       CAST(SUM(length(text) -
                length(regexp_replace(text, '{_PII_PAT}', '[X]', 'g'))) AS BIGINT)
         AS chars_removed
FROM documents
GROUP BY lang
"""


@register("op117_pii_scrub", oracle=_OP117_SQL)
def op117_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexicon-based scrub pass: count and redact occurrences of a
    deny-list of terms (stand-ins for a name/credential lexicon — the
    testdata corpus has no real emails/SSNs to match). Pure per-row
    JVM regex (regexp_count / regexp_replace), zero shuffle before the
    5-group aggregate, so it streams at scan speed at any scale; the
    same shape handles the real PII regex battery (emails, phones,
    IP addresses) by swapping the pattern. Reports per-language hit
    and removed-character totals — the audit numbers a scrub job logs."""
    d = load_table(spark, sf_dir, "documents")
    scrubbed = F.regexp_replace(F.col("text"), _PII_PAT, "[X]")
    return d.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(F.regexp_count(F.col("text"), F.lit(_PII_PAT)))
        .cast("bigint")
        .alias("total_hits"),
        F.sum(F.length("text") - F.length(scrubbed))
        .cast("bigint")
        .alias("chars_removed"),
    )


# --------------------------------------------------------------------------
# op118: repetition scoring
# --------------------------------------------------------------------------

_OP118_SQL = """
WITH r AS (
  SELECT doc_id, lang,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
         CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct
  FROM documents)
SELECT doc_id, lang, n_words, n_distinct,
       1 - CAST(n_distinct AS DOUBLE) / CAST(n_words AS DOUBLE) AS rep_ratio
FROM r
WHERE 1 - CAST(n_distinct AS DOUBLE) / CAST(n_words AS DOUBLE) > 0.5
"""


@register("op118_repetition_ratio", oracle=_OP118_SQL)
def op118_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition quality signal: fraction of duplicated words per
    document (1 - distinct/total), filtering to the repetitive tail
    (> 0.5 — Gopher-style repetition filters use exactly this family
    of signals). Per-row expressions only, zero shuffle. The ratio is
    a single IEEE divide of two integers, bit-identical in Spark and
    DuckDB, so both the values and the > 0.5 row set hash-match
    without rounding (SURVEY.md §4.2.3's "same-IEEE-ops" rule)."""
    d = load_table(spark, sf_dir, "documents")
    ws = F.split(F.col("text"), " ")
    n_words = F.size(ws).cast("bigint")
    n_distinct = F.size(F.array_distinct(ws)).cast("bigint")
    r = d.select(
        "doc_id",
        "lang",
        n_words.alias("n_words"),
        n_distinct.alias("n_distinct"),
    )
    ratio = 1 - F.col("n_distinct").cast("double") / F.col("n_words").cast("double")
    return r.withColumn("rep_ratio", ratio).filter(F.col("rep_ratio") > 0.5)


# --------------------------------------------------------------------------
# op119: quality funnel
# --------------------------------------------------------------------------

_OP119_SQL = """
WITH q AS (
  SELECT n_chars >= 200 AS len_ok,
         n_chars >= 200 AND lang <> 'zh' AS lang_ok,
         n_chars >= 200 AND lang <> 'zh'
           AND 1 - CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE)
                 / CAST(len(string_split(text,' ')) AS DOUBLE) <= 0.65 AS rep_ok,
         n_chars >= 200 AND lang <> 'zh'
           AND 1 - CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE)
                 / CAST(len(string_split(text,' ')) AS DOUBLE) <= 0.65
           AND len(string_split(text,' ')) >= 60 AS final_ok
  FROM documents)
SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
       CAST(COUNT(*) FILTER (len_ok) AS BIGINT) AS n_len_ok,
       CAST(COUNT(*) FILTER (lang_ok) AS BIGINT) AS n_lang_ok,
       CAST(COUNT(*) FILTER (rep_ok) AS BIGINT) AS n_rep_ok,
       CAST(COUNT(*) FILTER (final_ok) AS BIGINT) AS n_final
FROM q
"""


@register("op119_quality_funnel", oracle=_OP119_SQL)
def op119_quality_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-cleaning funnel report: how many documents survive each
    successive quality gate (length ≥ 200 chars → language filter →
    repetition ≤ 0.65 → ≥ 60 tokens). One conditional-count aggregate
    over a zero-shuffle scan — the one-pass funnel every filtering run
    reports before committing a training mix. Cascading AND conditions
    (each stage implies the previous) keep the funnel monotone."""
    d = load_table(spark, sf_dir, "documents")
    ws = F.split(F.col("text"), " ")
    rep = 1 - F.size(F.array_distinct(ws)).cast("double") / F.size(ws).cast("double")
    len_ok = F.col("n_chars") >= 200
    lang_ok = len_ok & (F.col("lang") != "zh")
    rep_ok = lang_ok & (rep <= 0.65)
    final_ok = rep_ok & (F.size(ws) >= 60)

    def cnt(cond, name):
        return F.count(F.when(cond, 1)).cast("bigint").alias(name)

    return d.agg(
        F.count("*").cast("bigint").alias("n_total"),
        cnt(len_ok, "n_len_ok"),
        cnt(lang_ok, "n_lang_ok"),
        cnt(rep_ok, "n_rep_ok"),
        cnt(final_ok, "n_final"),
    )


# --------------------------------------------------------------------------
# op120: per-language TF-IDF terms
# --------------------------------------------------------------------------

_OP120_SQL = """
WITH words AS (
  SELECT doc_id, lang, w.word AS word
  FROM documents, UNNEST(string_split(text, ' ')) AS w(word)),
df AS (
  SELECT word, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
  FROM words GROUP BY word),
n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents),
tf AS (
  SELECT lang, word, CAST(COUNT(*) AS BIGINT) AS tf
  FROM words GROUP BY lang, word),
scored AS (
  SELECT tf.lang, tf.word, tf.tf,
         ROUND(tf.tf * ln(n.n_docs / df.df), 6) AS score
  FROM tf JOIN df ON tf.word = df.word CROSS JOIN n),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY lang
                               ORDER BY score DESC, word) AS rnk
  FROM scored)
SELECT lang, word, tf, score, CAST(rnk AS BIGINT) AS rnk
FROM ranked WHERE rnk <= 5
"""


@register("op120_tfidf_terms", oracle=_OP120_SQL)
def op120_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 characteristic terms per language by TF-IDF (tf = term
    occurrences within the language slice, idf = ln(N/df) over the
    whole corpus). Two hash aggregates over the exploded words (both
    map-side partial) + a plain shuffle join of tf⋈df on `word` + a
    partitioned top-k window — no global sort, and the explode carries
    one word per row so the shuffle is O(tokens), the same budget as
    op77's wordcount. The tf⋈df join deliberately does NOT broadcast:
    df is VOCAB-sized (10⁷-10⁸ distinct grams on a web corpus — far
    past any broadcast bar; round-4 verdict item 3). The explicit
    shuffle_merge hint pins a sort-merge join on `word` — both sides
    exchange vocab-sized word rows, never documents, and the hint
    also stops the test-scale auto-broadcast from hiding the
    production plan. Only the 1-row N frame broadcasts. Scores
    are round(6)-stabilized: ln() may differ between libm and the JVM
    in the last ulp, and 6 dp is the cross-engine-stable observable
    (same rule as op80's cosine)."""
    d = load_table(spark, sf_dir, "documents")
    # N as a broadcast 1-row frame, not an eager .count() literal — the
    # plan stays lazy and re-reads fresh data (the op75 round-1 lesson).
    n = d.agg(F.count("*").cast("double").alias("n_docs"))
    words = d.select(
        "doc_id", "lang", F.explode(F.split(F.col("text"), " ")).alias("word")
    )
    df_t = words.groupBy("word").agg(
        F.countDistinct("doc_id").cast("bigint").alias("df")
    )
    tf = words.groupBy("lang", "word").agg(F.count("*").cast("bigint").alias("tf"))
    scored = (
        tf.join(df_t.hint("shuffle_merge"), "word")
        .crossJoin(F.broadcast(n))
        .select(
            "lang",
            "word",
            "tf",
            F.round(
                F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6
            ).alias("score"),
        )
    )
    w = W.partitionBy("lang").orderBy(F.col("score").desc(), "word")
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= 5)
        .select("lang", "word", "tf", "score", "rnk")
    )


# --------------------------------------------------------------------------
# op128: corpus bigram frequencies
# --------------------------------------------------------------------------

_OP128_SQL = """
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
g AS (SELECT array_to_string(ws[t.i:t.i+1], ' ') AS bigram
      FROM w, UNNEST(range(1, len(ws))) AS t(i)),
c AS (SELECT bigram, CAST(COUNT(*) AS BIGINT) AS n FROM g GROUP BY bigram)
SELECT bigram, n,
       CAST(ROW_NUMBER() OVER (ORDER BY n DESC, bigram) AS BIGINT) AS rnk
FROM c
ORDER BY rnk
LIMIT 20
"""


@register("op128_top_bigrams", oracle=_OP128_SQL)
def op128_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 corpus bigrams (op77's unigram wordcount, one order up —
    the co-occurrence statistics a tokenizer/vocab build reads). The
    explode carries one bigram per row (O(tokens) shuffle, same budget
    as op77), the count is a map-side-partial hash agg, and the global
    top-20 runs over the AGGREGATED vocab (vocab-bounded, not
    corpus-bounded), with rank made deterministic by the bigram
    tiebreak."""
    d = load_table(spark, sf_dir, "documents")
    ws = F.split(F.col("text"), " ")
    bigrams = F.when(
        F.size(ws) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(ws) - 1),
            lambda i: F.concat_ws(" ", F.slice(ws, i, 2)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    c = (
        d.select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    w = W.orderBy(F.col("n").desc(), "bigram")
    return (
        c.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= 20)
        .orderBy("rnk")
    )


# --------------------------------------------------------------------------
# op135: temperature-scaled multilingual sampling weights
# --------------------------------------------------------------------------

_ALPHA = 0.3  # sampling temperature (multilingual-LM convention)

_OP135_SQL = f"""
WITH c AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents GROUP BY lang),
p AS (
  SELECT lang, n_docs,
         CAST(n_docs AS DOUBLE) / SUM(n_docs) OVER () AS raw_share,
         CAST(ROUND(POW(CAST(n_docs AS DOUBLE) / SUM(n_docs) OVER (), {_ALPHA}), 6)
              AS DECIMAL(18,6)) AS p6
  FROM c)
SELECT lang, n_docs, raw_share,
       ROUND(CAST(p6 AS DOUBLE) / CAST(SUM(p6) OVER () AS DOUBLE), 6) AS sample_weight
FROM p
"""


@register("op135_sampling_weights", oracle=_OP135_SQL)
def op135_sampling_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled sampling weights per language: weight_l ∝
    (n_l/N)^0.3, the standard multilingual-LM upsampling of low-
    resource languages.

    Determinism: `pow` is libm-vs-JVM ulp-divergent (verified this
    round: last-bit differs for 0.43^0.3), so the powered share is
    round(6)'d and then cast to DECIMAL(18,6) before the normalizing
    sum — decimal addition is exact and order-independent, so the
    denominator can't drift with partition order. Final weight is one
    double divide of identical inputs, re-rounded to 6 dp.

    Scale: one hash agg on lang, then windows over the #langs-row agg
    output (a single tiny partition post-agg — trivially safe)."""
    c = load_table(spark, sf_dir, "documents").groupBy("lang").agg(
        F.count("*").alias("n_docs")
    )
    all_w = W.partitionBy()
    p6 = F.round(
        F.pow(F.col("n_docs").cast("double") / F.sum("n_docs").over(all_w), _ALPHA), 6
    ).cast("decimal(18,6)")
    return (
        c.withColumn("raw_share", F.col("n_docs").cast("double") / F.sum("n_docs").over(all_w))
        .withColumn("p6", p6)
        .select(
            "lang",
            "n_docs",
            "raw_share",
            F.round(
                F.col("p6").cast("double") / F.sum("p6").over(all_w).cast("double"), 6
            ).alias("sample_weight"),
        )
    )


# --------------------------------------------------------------------------
# op137: vocabulary growth curve (Heaps'-law empirics)
# --------------------------------------------------------------------------

_VOCAB_BUCKET = 100  # docs per corpus slice

_OP137_SQL = f"""
WITH w AS (
  SELECT CAST(FLOOR(doc_id / {_VOCAB_BUCKET}.0) AS BIGINT) AS bucket,
         unnest(string_split(text, ' ')) AS word
  FROM documents),
f AS (
  SELECT word, MIN(bucket) AS first_bucket
  FROM w WHERE word <> '' GROUP BY word),
n AS (
  SELECT first_bucket AS bucket, CAST(COUNT(*) AS BIGINT) AS new_words
  FROM f GROUP BY first_bucket)
SELECT bucket, new_words,
       CAST(SUM(new_words) OVER (ORDER BY bucket
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS vocab_size
FROM n
"""


@register("op137_vocab_growth", oracle=_OP137_SQL)
def op137_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary growth curve: per 100-doc corpus slice, how many
    never-before-seen words appear, and the cumulative vocabulary size
    (the empirical Heaps'-law curve a tokenizer-training pipeline
    monitors).

    Plan at scale: explode words → hash agg MIN(bucket) per word (the
    heavy shuffle, but map-side partial MIN collapses each partition
    to its distinct words first) → hash agg per bucket (#buckets
    rows) → one running-sum window over the #buckets-row result, which
    is a single tiny partition post-agg, not a corpus-wide sort."""
    d = load_table(spark, sf_dir, "documents").select(
        F.floor(F.col("doc_id") / _VOCAB_BUCKET).cast("bigint").alias("bucket"),
        F.explode(F.split("text", " ")).alias("word"),
    )
    first = (
        d.filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.min("bucket").alias("first_bucket"))
    )
    per_bucket = first.groupBy(F.col("first_bucket").alias("bucket")).agg(
        F.count("*").alias("new_words")
    )
    running = W.partitionBy().orderBy("bucket").rowsBetween(W.unboundedPreceding, 0)
    return per_bucket.select(
        "bucket",
        "new_words",
        F.sum("new_words").over(running).cast("bigint").alias("vocab_size"),
    )


# --------------------------------------------------------------------------
# op143: token-length histogram per language
# --------------------------------------------------------------------------

_LEN_BIN = 32  # tokens per histogram bin

_OP143_SQL = f"""
WITH t AS (
  SELECT lang, CAST(len(string_split(text, ' ')) AS BIGINT) AS tokens
  FROM documents)
SELECT lang,
       CAST(FLOOR(tokens / {_LEN_BIN}.0) AS BIGINT) AS bin,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(tokens) AS BIGINT) AS total_tokens
FROM t GROUP BY lang, bin
"""


@register("op143_token_len_histogram", oracle=_OP143_SQL)
def op143_token_len_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-length histogram (32-token bins) per language — the
    packing-efficiency / truncation-loss planning table for a training
    run. All-integer math, one hash agg, zero float risk."""
    d = load_table(spark, sf_dir, "documents").select(
        "lang", F.size(F.split("text", " ")).cast("bigint").alias("tokens")
    )
    return d.groupBy(
        "lang", F.floor(F.col("tokens") / _LEN_BIN).cast("bigint").alias("bin")
    ).agg(
        F.count("*").alias("n_docs"),
        F.sum("tokens").alias("total_tokens"),
    )


# --------------------------------------------------------------------------
# op155: overlapping token chunking — context-window packing
# --------------------------------------------------------------------------

_CHUNK, _OVERLAP = 128, 16  # tokens per chunk / overlap with previous
_STRIDE = _CHUNK - _OVERLAP

_OP155_SQL = f"""
WITH t AS (
  SELECT doc_id, lang,
         length(text) - length(replace(text, ' ', '')) + 1 AS n_tokens
  FROM documents
),
c AS (
  SELECT doc_id, lang, n_tokens,
         unnest(range(0, CAST(GREATEST(CEIL((n_tokens - {_OVERLAP}) / {_STRIDE}.0), 1) AS BIGINT))) AS chunk_idx
  FROM t
)
SELECT doc_id,
       CAST(chunk_idx AS BIGINT) AS chunk_idx,
       CAST(chunk_idx * {_STRIDE} AS BIGINT) AS chunk_start,
       CAST(LEAST(n_tokens - chunk_idx * {_STRIDE}, {_CHUNK}) AS BIGINT) AS chunk_len
FROM c
"""


@register("op155_chunk_overlap", oracle=_OP155_SQL)
def op155_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping fixed-size token chunks per document (128-token
    windows, 16-token overlap — the packing shape context-window
    training uses so no boundary loses context). Emits one row per
    chunk: (doc_id, chunk_idx, chunk_start, chunk_len).

    sequence() builds the chunk index array per row and explode fans
    it out — all codegen'd, no shuffle at all until a consumer
    aggregates; chunk COUNT is derived from the whitespace token count,
    so the text column itself never leaves the scan."""
    d = load_table(spark, sf_dir, "documents")
    nt = F.expr("length(text) - length(replace(text, ' ', '')) + 1")
    n_chunks_sql = (
        f"cast(greatest(ceil((n_tokens - {_OVERLAP}) / {_STRIDE}.0), 1) as bigint)"
    )
    return (
        d.select("doc_id", nt.alias("n_tokens"))
        .select(
            "doc_id",
            "n_tokens",
            F.explode(F.expr(f"sequence(0, {n_chunks_sql} - 1)")).alias("chunk_idx"),
        )
        .select(
            "doc_id",
            F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
            (F.col("chunk_idx") * _STRIDE).cast("bigint").alias("chunk_start"),
            F.expr(
                f"cast(least(n_tokens - chunk_idx * {_STRIDE}, {_CHUNK}) as bigint)"
            ).alias("chunk_len"),
        )
    )


# --------------------------------------------------------------------------
# op156: corpus mix report — source shares + cumulative concentration
# --------------------------------------------------------------------------

_OP156_SQL = """
WITH s AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_chars) AS BIGINT) AS total_chars
  FROM documents GROUP BY source
),
tot AS (SELECT SUM(total_chars) AS grand FROM s)
SELECT source, n_docs, total_chars,
       ROUND(total_chars / grand, 6) AS char_share,
       ROUND(SUM(total_chars) OVER (ORDER BY total_chars DESC, source)
             / grand, 6) AS cum_share
FROM s CROSS JOIN tot
"""


@register("op156_domain_mix_report", oracle=_OP156_SQL)
def op156_domain_mix_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mix report per source/domain: doc count, char volume,
    volume share, and cumulative share in descending-volume order (the
    "what fraction of the corpus do the top-k domains own" curve that
    drives mix re-weighting decisions).

    Scale: one partial-agg shuffle over the source key; the window
    runs over #sources rows (thousands at worst), not documents —
    a deliberate contrast with op124's per-row Pareto variant."""
    d = load_table(spark, sf_dir, "documents")
    s = d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )
    grand = s.agg(F.sum("total_chars").alias("grand"))
    w = W.orderBy(F.col("total_chars").desc(), "source").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    return (
        s.crossJoin(F.broadcast(grand))
        .select(
            "source",
            "n_docs",
            "total_chars",
            F.round(F.col("total_chars") / F.col("grand"), 6).alias("char_share"),
            F.round(F.sum("total_chars").over(w) / F.col("grand"), 6).alias(
                "cum_share"
            ),
        )
    )


# --------------------------------------------------------------------------
# op157: greedy per-language token-budget selection
# --------------------------------------------------------------------------

# 2k binds at every test scale (per-lang corpus totals are ≥3.5k tokens
# from sf0.001 up), so the selection filter is actually exercised.
_BUDGET = 2_000  # whitespace tokens per language

_OP157_SQL = f"""
WITH t AS (
  SELECT doc_id, lang,
         length(text) - length(replace(text, ' ', '')) + 1 AS n_tokens
  FROM documents
),
r AS (
  SELECT doc_id, lang, n_tokens,
         SUM(n_tokens) OVER (PARTITION BY lang
                             ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                             ROWS UNBOUNDED PRECEDING) AS cum_tokens
  FROM t
)
SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(cum_tokens AS BIGINT) AS cum_tokens
FROM r WHERE cum_tokens <= {_BUDGET}
"""


@register("op157_token_budget_pack", oracle=_OP157_SQL)
def op157_token_budget_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fill a fixed per-language token budget (2k whitespace tokens)
    by scanning docs in deterministic pseudo-random order (md5 of
    doc_id — unbiased, reproducible, no RNG state) and keeping every
    doc whose running total still fits. The standard "cap each
    language's contribution" step when assembling a multilingual
    training mix (op135 computes the weights; this materializes the
    selection).

    Scale: one shuffle on lang for the running-sum window; the text
    column never moves — token counts are computed at the scan and
    only (doc_id, lang, n_tokens) flows into the window."""
    d = load_table(spark, sf_dir, "documents")
    nt = F.expr("length(text) - length(replace(text, ' ', '')) + 1")
    w = (
        W.partitionBy("lang")
        .orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        d.select("doc_id", "lang", nt.cast("bigint").alias("n_tokens"))
        .withColumn("cum_tokens", F.sum("n_tokens").over(w).cast("bigint"))
        .filter(F.col("cum_tokens") <= _BUDGET)
    )


# --------------------------------------------------------------------------
# op158: unicode/control-char sanitation stats
# --------------------------------------------------------------------------

_OP158_SQL = r"""
WITH s AS (
  SELECT lang, text,
         regexp_replace(text, '[\x00-\x08\x0b\x0c\x0e-\x1f]|\s{2,}', ' ', 'g')
           AS clean
  FROM documents
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN clean <> text THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dirty,
       CAST(SUM(length(text) - length(clean)) AS BIGINT) AS chars_removed
FROM s
GROUP BY lang
"""


@register("op158_unicode_sanitize", oracle=_OP158_SQL)
def op158_unicode_sanitize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sanitation pass stats: collapse control characters and runs of
    whitespace to a single space (the usual pre-tokenizer scrub),
    reporting per language how many docs were touched and how many
    chars disappeared. The scrub itself is regexp_replace — one
    codegen'd pass per row; only the per-lang counters shuffle.

    The regex is identical RE2-safe syntax in Spark (replaces all
    matches by default) and DuckDB (needs the 'g' flag)."""
    d = load_table(spark, sf_dir, "documents")
    clean = F.regexp_replace(
        F.col("text"), r"[\x00-\x08\x0b\x0c\x0e-\x1f]|\s{2,}", " "
    )
    return (
        d.select("lang", "text", clean.alias("clean"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(F.col("clean") != F.col("text"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_dirty"),
            F.sum(F.length("text") - F.length("clean"))
            .cast("bigint")
            .alias("chars_removed"),
        )
    )


# --------------------------------------------------------------------------
# op160: Zipf rank-frequency slope per language
# --------------------------------------------------------------------------

_ZIPF_TOP = 100  # fit over the top-100 ranks per language

_OP160_SQL = f"""
WITH w AS (
  SELECT lang, unnest(string_split(lower(text), ' ')) AS word FROM documents
),
f AS (
  SELECT lang, word, COUNT(*) AS freq FROM w WHERE word <> '' GROUP BY lang, word
),
r AS (
  SELECT lang, freq,
         row_number() OVER (PARTITION BY lang ORDER BY freq DESC, word) AS rank
  FROM f
),
m AS (
  SELECT lang,
         CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(CAST(ROUND(ln(rank), 6) AS DECIMAL(18,6))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(ROUND(ln(freq), 6) AS DECIMAL(18,6))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(ROUND(ln(rank), 6) AS DECIMAL(18,6))
                  * CAST(ROUND(ln(freq), 6) AS DECIMAL(18,6))) AS DOUBLE) AS sxy,
         CAST(SUM(CAST(ROUND(ln(rank), 6) AS DECIMAL(18,6))
                  * CAST(ROUND(ln(rank), 6) AS DECIMAL(18,6))) AS DOUBLE) AS sxx
  FROM r WHERE rank <= {_ZIPF_TOP}
  GROUP BY lang
)
SELECT lang,
       ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS zipf_slope,
       CAST(n AS BIGINT) AS n_ranks
FROM m
"""


@register("op160_zipf_slope", oracle=_OP160_SQL)
def op160_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit per language: least-squares slope of ln(freq) on
    ln(rank) over the top-100 word ranks (natural corpora sit near −1;
    synthetic/spammy text drifts off — a standard corpus-quality
    signal next to op92's per-doc score).

    Determinism discipline (op108's moment method, adapted for logs):
    ln() can differ between libm and the JVM in the last ulp, so each
    log is round(6)-quantized, lifted to DECIMAL(18,6), and the
    moments accumulate as exact decimal sums — order-independent and
    bit-stable on both engines; the slope arithmetic then runs on
    identical doubles. Scale: one shuffle of (lang, word) counts, a
    per-lang top-100 window over word counts (WindowGroupLimit prunes
    the tail before the sort at scale), and a 5-number moment
    aggregate per language."""
    d = load_table(spark, sf_dir, "documents")
    w = d.select(
        "lang", F.explode(F.expr("split(lower(text), ' ')")).alias("word")
    ).filter(F.col("word") != "")
    f = w.groupBy("lang", "word").agg(F.count("*").alias("freq"))
    r = (
        f.withColumn(
            "rank",
            F.row_number().over(
                W.partitionBy("lang").orderBy(F.col("freq").desc(), "word")
            ),
        )
        .filter(F.col("rank") <= _ZIPF_TOP)
        .selectExpr(
            "lang",
            "cast(round(ln(rank), 6) as decimal(18,6)) AS lx",
            "cast(round(ln(freq), 6) as decimal(18,6)) AS ly",
        )
    )
    m = r.groupBy("lang").agg(
        F.expr("cast(count(*) as double)").alias("n"),
        F.expr("cast(sum(lx) as double)").alias("sx"),
        F.expr("cast(sum(ly) as double)").alias("sy"),
        F.expr("cast(sum(lx * ly) as double)").alias("sxy"),
        F.expr("cast(sum(lx * lx) as double)").alias("sxx"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return m.select(
        "lang",
        F.round(slope, 6).alias("zipf_slope"),
        F.col("n").cast("bigint").alias("n_ranks"),
    )


# --------------------------------------------------------------------------
# op165: per-document token entropy — repetition quality signal
# --------------------------------------------------------------------------

_OP165_SQL = """
WITH t AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
c AS (SELECT doc_id, tok, COUNT(*) AS c FROM t GROUP BY 1, 2),
n AS (
  SELECT doc_id, tok, c, SUM(c) OVER (PARTITION BY doc_id) AS n FROM c
),
terms AS (
  SELECT doc_id, n,
         CAST(FLOOR(-(c / CAST(n AS DOUBLE)) * log2(c / CAST(n AS DOUBLE))
                    * 1000000000.0 + 0.5) AS BIGINT) AS term
  FROM n
)
SELECT doc_id,
       CAST(MAX(n) AS BIGINT) AS n_tokens,
       CAST(SUM(term) AS DOUBLE) / 1000000000.0 AS entropy_bits
FROM terms GROUP BY doc_id
"""


@register("op165_token_entropy", oracle=_OP165_SQL)
def op165_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy (bits) of each document's word distribution —
    the information-density quality signal: boilerplate and template
    spam score low, natural prose scores high. Complements op118's
    distinct/total ratio with a frequency-weighted measure (a doc
    repeating one word 90% of the time but with many singletons looks
    fine to op118, not to entropy).

    Per-term -p·log2(p) values are quantized to DECIMAL(20,9) before
    summing (exact, order-free). Scale: tokens explode only as
    (doc_id, token-digest…) — wait, tokens themselves shuffle here;
    at 100 TB hash the token first (xxhash64) as op120 does. The
    per-doc token-count window and final agg share one doc_id
    shuffle."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    c = t.groupBy("doc_id", "tok").agg(F.count("*").alias("c"))
    n = c.withColumn("n", F.sum("c").over(W.partitionBy("doc_id")))
    # floor(x*1e9 + 0.5) -> BIGINT quantization (see op162: IEEE-
    # deterministic in both engines, unlike round-to-decimal); terms
    # -p*log2(p) are >= 0 so floor(+0.5) is plain half-up.
    term = F.expr(
        "cast(floor(-(c / cast(n as double)) * log2(c / cast(n as double))"
        " * 1000000000.0D + 0.5D) as bigint)"
    )
    return (
        n.withColumn("term", term)
        .groupBy("doc_id")
        .agg(
            F.max("n").cast("bigint").alias("n_tokens"),
            (F.sum("term").cast("double") / 1_000_000_000.0).alias("entropy_bits"),
        )
    )


# --------------------------------------------------------------------------
# op169: corpus unigram log-probability — the perplexity-filter shape
# --------------------------------------------------------------------------

_OP169_SQL = """
WITH t AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
freq AS (SELECT tok, COUNT(*) AS tf FROM t GROUP BY tok),
tot AS (SELECT SUM(tf) AS big_t FROM freq),
scored AS (
  SELECT t.doc_id,
         CAST(FLOOR(LN(CAST(big_t AS DOUBLE) / tf) * 1000000.0 + 0.5) AS BIGINT)
           AS nlp
  FROM t JOIN freq ON t.tok = freq.tok CROSS JOIN tot
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(nlp) AS DOUBLE) / (COUNT(*) * 1000000) AS avg_neglogp
FROM scored GROUP BY doc_id
"""


@register("op169_unigram_logprob", oracle=_OP169_SQL)
def op169_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score every document by its mean negative log-probability under
    the corpus's own unigram model — the cheap end of the perplexity-
    filter family (CCNet/Gopher filter on LM perplexity; a unigram
    model is the shuffle-free approximation): low avg_neglogp =
    common-word soup, high = rare-token noise; both tails get cut.

    Two passes over tokens, but the model itself (vocab × count) is
    small and BROADCAST into the scoring join, so the per-token join
    is map-side — no shuffle of the exploded corpus. Per-token
    -ln p quantized to DECIMAL(18,6), summed exactly, one divide at
    the end (op108 discipline)."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    freq = t.groupBy("tok").agg(F.count("*").alias("tf"))
    tot = freq.agg(F.sum("tf").alias("big_t"))
    # Micro-nat fixed point via floor(x*1e6 + 0.5) (see op162 — cross-
    # engine-stable, ln(T/tf) >= 0); exact int64 sums, one final divide.
    model = freq.crossJoin(F.broadcast(tot)).withColumn(
        "nlp",
        F.expr("cast(floor(ln(cast(big_t as double) / tf) * 1000000.0D + 0.5D) as bigint)"),
    )
    return (
        t.join(F.broadcast(model.select("tok", "nlp")), ["tok"])
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_tokens"),
            (F.sum("nlp").cast("double") / (F.count("*") * 1_000_000)).alias(
                "avg_neglogp"
            ),
        )
    )


# --------------------------------------------------------------------------
# op175: PMI collocations — statistically-bound phrases, not just frequent
# --------------------------------------------------------------------------

_PMI_MIN_COUNT = 5


_OP175_SQL = f"""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
uni AS (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS c
  FROM (SELECT unnest(ws) AS tok FROM w) GROUP BY tok
),
nu AS (SELECT SUM(c) AS n_uni FROM uni),
bi AS (
  SELECT bigram, CAST(COUNT(*) AS BIGINT) AS c_xy
  FROM (SELECT array_to_string(ws[t.i:t.i+1], ' ') AS bigram
        FROM w, UNNEST(range(1, len(ws))) AS t(i))
  GROUP BY bigram
),
nb AS (SELECT SUM(c_xy) AS n_bi FROM bi),
s AS (
  SELECT b.bigram, b.c_xy, x.c AS c_x, y.c AS c_y,
         CAST(FLOOR(LN((CAST(b.c_xy AS DOUBLE) / n_bi)
                       / ((CAST(x.c AS DOUBLE) / n_uni)
                          * (CAST(y.c AS DOUBLE) / n_uni)))
                    * 1000000.0 + 0.5) AS BIGINT) AS pmi_u
  FROM bi b
  JOIN uni x ON x.tok = string_split(b.bigram, ' ')[1]
  JOIN uni y ON y.tok = string_split(b.bigram, ' ')[2]
  CROSS JOIN nu CROSS JOIN nb
  WHERE b.c_xy >= {_PMI_MIN_COUNT}
)
SELECT bigram, c_xy, c_x, c_y,
       CAST(pmi_u AS DOUBLE) / 1000000.0 AS pmi
FROM s WHERE pmi_u > 0
"""


@register("op175_pmi_collocations", oracle=_OP175_SQL)
def op175_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information collocations: bigrams whose
    observed frequency beats the independence expectation of their
    parts (PMI > 0, support ≥ 5) — the statistic phrase-mining /
    tokenizer-vocab builds use to find bound phrases that RAW counts
    miss (op128 ranks by count; 'of the' wins there and loses here).

    Scale: unigram and bigram counts are two map-side-partial aggs
    over the exploded corpus; the PMI join runs over the AGGREGATED
    vocab (vocab-sized, broadcast), never over corpus rows. PMI is
    quantized floor(x·1e6+0.5)→int64 at the last step (op162's
    discipline; every input is an exact int64 count, the two totals
    arrive via broadcast)."""
    d = load_table(spark, sf_dir, "documents")
    ws = F.split(F.col("text"), " ")
    toks = d.select(F.explode(ws).alias("tok"))
    uni = toks.groupBy("tok").agg(F.count("*").cast("bigint").alias("c"))
    nu = uni.agg(F.sum("c").alias("n_uni"))
    bigrams = F.when(
        F.size(ws) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(ws) - 1),
            lambda i: F.concat_ws(" ", F.slice(ws, i, 2)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    bi = (
        d.select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").cast("bigint").alias("c_xy"))
        .filter(F.col("c_xy") >= _PMI_MIN_COUNT)
    )
    nb_all = (
        d.select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("c"))
        .agg(F.sum("c").alias("n_bi"))
    )
    x = uni.select(F.col("tok").alias("tx"), F.col("c").alias("c_x"))
    y = uni.select(F.col("tok").alias("ty"), F.col("c").alias("c_y"))
    s = (
        bi.withColumn("tx", F.expr("split(bigram, ' ')[0]"))
        .withColumn("ty", F.expr("split(bigram, ' ')[1]"))
        .join(F.broadcast(x), ["tx"])
        .join(F.broadcast(y), ["ty"])
        .crossJoin(F.broadcast(nu))
        .crossJoin(F.broadcast(nb_all))
        .withColumn(
            "pmi_u",
            F.expr(
                "cast(floor(ln((cast(c_xy as double) / n_bi)"
                " / ((cast(c_x as double) / n_uni)"
                " * (cast(c_y as double) / n_uni))) * 1000000.0D + 0.5D) as bigint)"
            ),
        )
        .filter(F.col("pmi_u") > 0)
    )
    return s.select(
        "bigram",
        "c_xy",
        "c_x",
        "c_y",
        (F.col("pmi_u").cast("double") / 1_000_000.0).alias("pmi"),
    )


# --------------------------------------------------------------------------
# op187: tokenizer vocab coverage — OOV rate vs a top-K vocabulary
# --------------------------------------------------------------------------

_VOCAB_K = 16

_OP187_SQL = f"""
WITH w AS (
  SELECT lang, unnest(string_split(text, ' ')) AS word FROM documents
),
tok AS (SELECT lang, word FROM w WHERE word <> ''),
freq AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY word),
vocab AS (
  SELECT word FROM freq ORDER BY c DESC, word LIMIT {_VOCAB_K}
),
j AS (
  SELECT t.lang,
         CASE WHEN v.word IS NULL THEN 1 ELSE 0 END AS oov
  FROM tok t LEFT JOIN vocab v ON t.word = v.word
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS total_tokens,
       CAST(SUM(oov) AS BIGINT) AS oov_tokens,
       CAST(FLOOR(CAST(SUM(oov) AS DOUBLE) / COUNT(*) * 1000000.0 + 0.5)
            AS BIGINT) AS oov_rate_ppm
FROM j GROUP BY lang
"""


@register("op187_vocab_coverage", oracle=_OP187_SQL)
def op187_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary rate per language against a top-K corpus
    vocabulary — the measurement a tokenizer build runs to size its
    merge table ("how much of each language does a K-entry vocab
    cover?"); op137's vocab-growth curve answers corpus-side, this
    answers per-slice, and a skewed per-lang OOV is the classic sign
    a multilingual vocab under-serves a language.

    Plan: token explode → corpus-frequency agg → top-K TakeOrdered →
    BROADCAST vocab (K rows by construction — the one join in this
    family that is always broadcast-safe, unlike op120's full-df
    table) → left-join + per-lang agg. OOV rate quantized to ppm via
    floor(x·1e6+0.5) (op165's discipline)."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "lang", F.explode(F.split("text", " ")).alias("word")
    ).filter(F.col("word") != "")
    vocab = (
        tok.groupBy("word")
        .agg(F.count("*").cast("bigint").alias("c"))
        .orderBy(F.col("c").desc(), "word")
        .limit(_VOCAB_K)
        .select("word", F.lit(1).alias("in_vocab"))
    )
    j = tok.join(F.broadcast(vocab), "word", "left").select(
        "lang",
        F.when(F.col("in_vocab").isNull(), 1).otherwise(0).alias("oov"),
    )
    return j.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("total_tokens"),
        F.sum("oov").cast("bigint").alias("oov_tokens"),
        F.expr(
            "cast(floor(cast(sum(oov) as double) / count(*)"
            " * 1000000.0D + 0.5D) as bigint)"
        ).alias("oov_rate_ppm"),
    )


# --------------------------------------------------------------------------
# op191: bigram LM scoring with backoff — the CCNet perplexity filter
# --------------------------------------------------------------------------

# Stupid-backoff weight (Brants et al. 2007, public method), exact
# constant in both engines.
_BO = 0.4

_OP191_SQL = f"""
WITH d AS (
  SELECT doc_id, lang, string_split(text, ' ') AS ws,
         len(string_split(text, ' ')) AS n
  FROM documents
),
tr AS (
  SELECT doc_id, lang, ws[i] AS v, ws[i + 1] AS w
  FROM d, UNNEST(range(1, n)) AS u(i)
  WHERE n >= 2
),
bi AS (
  SELECT v, w, CAST(COUNT(*) AS BIGINT) AS cb
  FROM tr WHERE lang = 'en' GROUP BY v, w
),
uni AS (SELECT v, CAST(SUM(cb) AS BIGINT) AS cu FROM bi GROUP BY v),
tot AS (SELECT SUM(cu) AS big_t FROM uni),
scored AS (
  SELECT tr.doc_id,
         CASE WHEN bi.cb IS NOT NULL THEN 0 ELSE 1 END AS backoff,
         CAST(FLOOR(
           CASE
             WHEN bi.cb IS NOT NULL
               THEN LN(CAST(uni.cu AS DOUBLE) / bi.cb)
             WHEN uw.cu IS NOT NULL
               THEN LN(CAST(tot.big_t AS DOUBLE) / ({_BO} * uw.cu))
             ELSE LN(CAST(tot.big_t AS DOUBLE) / {_BO})
           END * 1000000.0 + 0.5) AS BIGINT) AS nlp
  FROM tr
  LEFT JOIN bi ON tr.v = bi.v AND tr.w = bi.w
  LEFT JOIN uni ON tr.v = uni.v
  LEFT JOIN uni uw ON tr.w = uw.v
  CROSS JOIN tot
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_transitions,
       CAST(SUM(backoff) AS BIGINT) AS n_backoff,
       CAST(SUM(nlp) AS DOUBLE) / (COUNT(*) * 1000000) AS avg_neglogp
FROM scored GROUP BY doc_id
"""


@register("op191_bigram_logprob", oracle=_OP191_SQL)
def op191_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score every document under a BIGRAM model trained on the English
    slice, with stupid backoff (Brants et al. 2007) for unseen
    transitions — the real CCNet/Gopher perplexity-filter shape: a
    reference-corpus LM scores the candidate corpus, and the backoff
    path genuinely fires (non-en docs hit it constantly; op169's
    self-trained unigram never could). n_backoff is emitted so the
    filter can ALSO threshold on model coverage.

    Per-transition -ln p: seen bigram → ln(cu(v)/cb(v,w)); unseen with
    known continuation → ln(T/(0.4·cu(w))); fully OOV → ln(T/0.4).
    Every p is a ratio of exact int64 counts (+ one exact constant),
    quantized floor(x·1e6+0.5)→int64 before the per-doc sum (op169's
    discipline), one divide at the end.

    Scale: the model joins are LEFT joins of transitions against the
    bigram/unigram tables keyed on the grams — kept as SHUFFLE joins
    (op120's rule: gram tables are vocab²-sized on a web corpus, no
    broadcast hint), so every shuffle carries gram keys + counts,
    O(tokens). The transition explode is the same budget as op77's
    wordcount."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id", "lang", F.split("text", " ").alias("ws")
    ).withColumn("n", F.size("ws"))
    tr = (
        t.filter(F.col("n") >= 2)
        .select(
            "doc_id",
            "lang",
            F.explode(
                F.expr(
                    "transform(sequence(1, n - 1),"
                    " i -> struct(element_at(ws, i) as v,"
                    " element_at(ws, i + 1) as w))"
                )
            ).alias("s"),
        )
        .select("doc_id", "lang", F.col("s.v").alias("v"), F.col("s.w").alias("w"))
    )
    bi = (
        tr.filter(F.col("lang") == "en")
        .groupBy("v", "w")
        .agg(F.count("*").cast("bigint").alias("cb"))
    )
    uni = bi.groupBy("v").agg(F.sum("cb").cast("bigint").alias("cu"))
    tot = uni.agg(F.sum("cu").alias("big_t"))
    uw = uni.select(F.col("v").alias("w"), F.col("cu").alias("cuw"))
    scored = (
        tr.join(bi.hint("shuffle_merge"), ["v", "w"], "left")
        .join(uni.hint("shuffle_merge"), ["v"], "left")
        .join(uw.hint("shuffle_merge"), ["w"], "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            F.when(F.col("cb").isNotNull(), 0).otherwise(1).alias("backoff"),
            F.expr(
                "cast(floor(CASE"
                " WHEN cb IS NOT NULL THEN ln(cast(cu as double) / cb)"
                f" WHEN cuw IS NOT NULL THEN ln(cast(big_t as double) / ({_BO}D * cuw))"
                f" ELSE ln(cast(big_t as double) / {_BO}D)"
                " END * 1000000.0D + 0.5D) as bigint)"
            ).alias("nlp"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_transitions"),
        F.sum("backoff").cast("bigint").alias("n_backoff"),
        (F.sum("nlp").cast("double") / (F.count("*") * 1_000_000)).alias(
            "avg_neglogp"
        ),
    )


# --------------------------------------------------------------------------
# op216: BPE merge training — 3 unrolled rounds, hash-certified
# --------------------------------------------------------------------------

_BPE_ROUNDS = 3


def _op216_sql() -> str:
    """Unrolled BPE trainer in DuckDB: each round counts adjacent
    symbol pairs over the (vocab-sized) word-frequency table, picks
    the argmax pair under a total (cnt DESC, lhs, rhs) order, and
    applies the merge with plain leftmost-non-overlapping REPLACE —
    the exact string semantics Spark's `replace` shares."""
    ctes = ["""
toks AS (
  SELECT unnest(string_split(text, ' ')) AS word FROM documents),
words AS (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
  FROM toks WHERE word <> '' GROUP BY word),
seqs0 AS (
  SELECT word, freq,
         ' ' || regexp_replace(word, '(.)', '\\1 ', 'g') AS seq
  FROM words)"""]
    for k in range(1, _BPE_ROUNDS + 1):
        ctes.append(f"""
pairs{k} AS (
  SELECT sym[i] AS lhs, sym[i + 1] AS rhs, SUM(freq) AS cnt
  FROM (SELECT string_split(trim(seq), ' ') AS sym, freq FROM seqs{k - 1}),
       UNNEST(range(1, len(sym))) t(i)
  GROUP BY lhs, rhs),
best{k} AS (
  SELECT lhs, rhs, cnt FROM pairs{k}
  ORDER BY cnt DESC, lhs, rhs LIMIT 1),
seqs{k} AS (
  SELECT word, freq,
         replace(seq, ' ' || b.lhs || ' ' || b.rhs || ' ',
                 ' ' || b.lhs || b.rhs || ' ') AS seq
  FROM seqs{k - 1}, best{k} b)""")
    finals = "\nUNION ALL\n".join(
        f"SELECT {k} AS merge_rank, lhs, rhs, lhs || rhs AS merged,"
        f" CAST(cnt AS BIGINT) AS pair_count FROM best{k}"
        for k in range(1, _BPE_ROUNDS + 1)
    )
    return "WITH " + ",".join(ctes) + "\n" + finals


@register("op216_bpe_train", oracle=_op216_sql())
def op216_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE MERGE TRAINING (Sennrich 2016) — the tokenizer-build step
    itself, not a proxy: three merge rounds learned from the corpus,
    hash-certified against the oracle's unrolled restatement.

    The trainer runs on the WORD-FREQUENCY table, not the corpus —
    the classic BPE compression: the corpus is touched once (one
    explode + groupBy to vocab-sized (word, freq)), and every
    subsequent pair-count/merge round is arithmetic over ~|vocab|
    rows. At 100 TB that makes training cost one token scan plus
    per-round vocab-sized aggregates — the reason real tokenizer
    trainers (SentencePiece/HF) do exactly this.

    Determinism: pair selection is argmax under the TOTAL order
    (count DESC, lhs, rhs) — ties cannot diverge; the merge rewrite
    is leftmost-non-overlapping string replace with space sentinels,
    whose greedy-left semantics are identical in Spark, DuckDB and
    Python (pinned vs a pure-python reference BPE in tests). Each
    round's argmax is a 1-row TakeOrdered broadcast-joined into the
    sequence update — the whole 3-round program is one lazy plan.

    The vocab-sized seqs table is persist()ed (round 19): the unrolled
    plan references it from every round's pair branch AND every output
    branch, and exchange reuse left TWO separate corpus scans feeding
    two word-level exchanges (plans/r19/op216_bpe_train_before.txt) —
    the persist makes "the corpus is touched once" true in the
    physical plan, exactly the compression this docstring claimed.

    Output: (merge_rank, lhs, rhs, merged, pair_count) — the learned
    merge table, i.e. the artifact a tokenizer ships."""
    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").cast("bigint").alias("freq"))
    )
    seqs = pool_persist(
        words.select(
            "word",
            "freq",
            F.concat(F.lit(" "), F.regexp_replace("word", "(.)", "$1 ")).alias(
                "seq"
            ),
        )
    )
    merge_rows = []
    for k in range(1, _BPE_ROUNDS + 1):
        pairs = (
            seqs.select(
                F.split(F.trim(F.col("seq")), " ").alias("sym"), "freq"
            )
            # single-symbol words have no pairs — and Spark's
            # sequence(1, 0) is DESCENDING [1, 0], not empty, so the
            # guard is load-bearing, not cosmetic
            .filter(F.expr("size(sym) >= 2"))
            .select(
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(sym) - 1), "
                        "i -> struct(element_at(sym, i) as lhs, "
                        "element_at(sym, i + 1) as rhs))"
                    )
                ).alias("p"),
                "freq",
            )
            .groupBy("p.lhs", "p.rhs")
            .agg(F.sum("freq").alias("cnt"))
        )
        best = pairs.orderBy(F.desc("cnt"), "lhs", "rhs").limit(1)
        merge_rows.append(
            best.select(
                F.lit(k).alias("merge_rank"),
                "lhs",
                "rhs",
                F.concat("lhs", "rhs").alias("merged"),
                F.col("cnt").cast("bigint").alias("pair_count"),
            )
        )
        b = best.select(
            F.col("lhs").alias("_bl"), F.col("rhs").alias("_br")
        )
        seqs = (
            seqs.crossJoin(F.broadcast(b))
            .select(
                "word",
                "freq",
                F.expr(
                    "replace(seq, ' ' || _bl || ' ' || _br || ' ', "
                    "' ' || _bl || _br || ' ')"
                ).alias("seq"),
            )
        )
    out = merge_rows[0]
    for m in merge_rows[1:]:
        out = out.unionByName(m)
    return out


# --------------------------------------------------------------------------
# op217: BPE apply — tokenizer cost report with the learned merges
# --------------------------------------------------------------------------


def _op217_sql() -> str:
    """op216's unrolled trainer, extended: after the merge rounds the
    per-word symbol counts are joined back to the corpus and rolled
    up per language — the 'what does this tokenizer cost on my
    corpus' report."""
    train = _op216_sql()
    # reuse the trainer's CTE chain up to seqs{N}; strip its final SELECT
    ctes = train[: train.rindex("SELECT 1 AS merge_rank")].rstrip()
    assert ctes.endswith(")"), ctes[-80:]
    n = _BPE_ROUNDS
    return f"""{ctes},
wordcost AS (
  SELECT word, len(string_split(trim(seq), ' ')) AS n_bpe,
         length(word) AS n_char
  FROM seqs{n}),
doctoks AS (
  SELECT lang, unnest(string_split(text, ' ')) AS word FROM documents)
SELECT d.lang,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(w.n_char) AS BIGINT) AS char_tokens,
       CAST(SUM(w.n_bpe) AS BIGINT) AS bpe_tokens
FROM doctoks d JOIN wordcost w ON d.word = w.word
WHERE d.word <> ''
GROUP BY d.lang
"""


@register("op217_bpe_apply", oracle=_op217_sql())
def op217_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE APPLY: encode the corpus with op216's learned merge table
    and report per-language token costs (char-level baseline vs
    post-merge BPE count) — the measurement that decides whether a
    tokenizer's merge budget is spent on the right languages.

    Shape: merges apply to the WORD VOCABULARY (op216's compression
    insight — apply is a per-distinct-word rewrite, not a per-token
    one), then the vocab-sized (word → n_bpe) cost table joins back
    to the exploded corpus. That join is vocab⋈corpus — broadcast
    the cost side at any real scale. The merge loop re-derives
    op216's argmax pairs inside the same lazy plan, so train+apply
    is still one Catalyst program with no driver round-trip. The
    vocab-sized seqs table is persist()ed (round 19, op216's fix):
    the unrolled apply plan carried FOUR corpus-scan nodes — three
    re-derivations of the wordcount plus the doctoks leg
    (plans/r19/op217_bpe_apply_before.txt) — now the corpus is
    scanned once for the vocab and once for doctoks, the op's own
    documented shape."""
    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").cast("bigint").alias("freq"))
    )
    seqs = pool_persist(
        words.select(
            "word",
            "freq",
            F.concat(F.lit(" "), F.regexp_replace("word", "(.)", "$1 ")).alias(
                "seq"
            ),
        )
    )
    for _ in range(_BPE_ROUNDS):
        pairs = (
            seqs.select(
                F.split(F.trim(F.col("seq")), " ").alias("sym"), "freq"
            )
            .filter(F.expr("size(sym) >= 2"))
            .select(
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(sym) - 1), "
                        "i -> struct(element_at(sym, i) as lhs, "
                        "element_at(sym, i + 1) as rhs))"
                    )
                ).alias("p"),
                "freq",
            )
            .groupBy("p.lhs", "p.rhs")
            .agg(F.sum("freq").alias("cnt"))
        )
        b = (
            pairs.orderBy(F.desc("cnt"), "lhs", "rhs")
            .limit(1)
            .select(F.col("lhs").alias("_bl"), F.col("rhs").alias("_br"))
        )
        seqs = seqs.crossJoin(F.broadcast(b)).select(
            "word",
            "freq",
            F.expr(
                "replace(seq, ' ' || _bl || ' ' || _br || ' ', "
                "' ' || _bl || _br || ' ')"
            ).alias("seq"),
        )
    wordcost = seqs.select(
        "word",
        F.size(F.split(F.trim(F.col("seq")), " ")).alias("n_bpe"),
        F.length("word").alias("n_char"),
    )
    doctoks = docs.select(
        "lang", F.explode(F.split("text", " ")).alias("word")
    ).filter(F.col("word") != "")
    return (
        doctoks.join(F.broadcast(wordcost), "word")
        .groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_words"),
            F.sum("n_char").cast("bigint").alias("char_tokens"),
            F.sum("n_bpe").cast("bigint").alias("bpe_tokens"),
        )
    )


# --------------------------------------------------------------------------
# op245: dataset card — the one-row datasheet a corpus release ships
# --------------------------------------------------------------------------

_OP245_SQL = """
WITH d AS (SELECT doc_id, text, lang, n_chars FROM documents),
base AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
         CAST(SUM(n_chars) AS BIGINT) AS total_chars,
         CAST(MIN(n_chars) AS BIGINT) AS min_chars,
         CAST(MAX(n_chars) AS BIGINT) AS max_chars
  FROM d),
toks AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS total_tokens,
         CAST(COUNT(DISTINCT word) AS BIGINT) AS vocab
  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM d)
  WHERE word <> ''),
dup AS (
  SELECT CAST(COUNT(*) - COUNT(DISTINCT md5(text)) AS BIGINT) AS exact_dups
  FROM d),
top_lang AS (
  SELECT lang AS top_lang, CAST(COUNT(*) AS BIGINT) AS top_lang_docs
  FROM d GROUP BY lang ORDER BY COUNT(*) DESC, lang LIMIT 1)
SELECT b.n_docs, b.n_langs, b.total_chars, b.min_chars, b.max_chars,
       t.total_tokens, t.vocab, u.exact_dups,
       tl.top_lang, tl.top_lang_docs
FROM base b CROSS JOIN toks t CROSS JOIN dup u CROSS JOIN top_lang tl
"""


@register("op245_dataset_card", oracle=_OP245_SQL)
def op245_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DATASET CARD: the one-row datasheet a corpus release ships
    ("Datasheets for Datasets", Gebru 2018) — doc/lang/char counts,
    token count and vocabulary size, exact-duplicate count, dominant
    language — every number an exact integer drawn from the same
    aggregates the dedicated ops compute (op77 tokens, op75 dedup,
    op97 profile), composed into the single publishable row. The op
    certifies the COMPOSITION: four independent aggregate branches
    cross-joined (all 1-row broadcasts), which is how a real report
    assembles without ever collecting to the driver.

    Scale: each branch is one scan + partial-agged fold to one row;
    Catalyst shares nothing between them here (4 scans at this size)
    — a production variant computes multi-branch aggregates over one
    cached scan, the documented trade."""
    d = load_table(spark, sf_dir, "documents")
    base = d.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.countDistinct("lang").cast("bigint").alias("n_langs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.min("n_chars").cast("bigint").alias("min_chars"),
        F.max("n_chars").cast("bigint").alias("max_chars"),
    )
    toks = (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .agg(
            F.count("*").cast("bigint").alias("total_tokens"),
            F.countDistinct("word").cast("bigint").alias("vocab"),
        )
    )
    dup = d.agg(
        (F.count("*") - F.countDistinct(F.md5("text")))
        .cast("bigint")
        .alias("exact_dups")
    )
    top_lang = (
        d.groupBy("lang")
        .agg(F.count("*").cast("bigint").alias("top_lang_docs"))
        .orderBy(F.desc("top_lang_docs"), "lang")
        .limit(1)
        .select(F.col("lang").alias("top_lang"), "top_lang_docs")
    )
    return (
        base.crossJoin(F.broadcast(toks))
        .crossJoin(F.broadcast(dup))
        .crossJoin(F.broadcast(top_lang))
    )


# --------------------------------------------------------------------------
# op246: temperature-sampling mixture weights — sqrt-exact portability
# --------------------------------------------------------------------------

_OP246_SQL = """
WITH c AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
         SQRT(CAST(COUNT(*) AS DOUBLE)) AS w_raw
  FROM documents GROUP BY lang),
t AS (SELECT SUM(w_raw) AS z FROM c)
SELECT c.lang, c.n_docs,
       ROUND(c.w_raw / t.z, 6) AS mix_weight,
       ROUND(c.w_raw / t.z - CAST(c.n_docs AS DOUBLE)
             / SUM(c.n_docs) OVER (), 6) AS upweight
FROM c CROSS JOIN t
"""


@register("op246_temperature_mix", oracle=_OP246_SQL)
def op246_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEMPERATURE-SAMPLING mixture weights (multilingual training
    mix, XLM-R style): per-language sampling probability ∝ n^(1/τ)
    with τ=2 — upweights low-resource languages relative to their
    natural share, and the `upweight` column reports exactly how
    much. α=1/2 is deliberate: n^0.5 is SQRT, correctly rounded per
    IEEE-754 and bit-identical across engines, where a general POW
    carries no such guarantee (the portability rule that picked this
    temperature is the documented point); the normalization sums ≤
    |langs| doubles — round(6) absorbs association order.

    Scale: one partial-agged groupBy to |langs| rows; everything
    after is constant work."""
    c = load_table(spark, sf_dir, "documents").groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs")
    )
    c = c.withColumn("w_raw", F.sqrt(F.col("n_docs").cast("double")))
    t = c.agg(F.sum("w_raw").alias("z"), F.sum("n_docs").alias("n_total"))
    return (
        c.crossJoin(F.broadcast(t))
        .select(
            "lang",
            "n_docs",
            F.round(F.col("w_raw") / F.col("z"), 6).alias("mix_weight"),
            F.round(
                F.col("w_raw") / F.col("z")
                - F.col("n_docs").cast("double") / F.col("n_total"),
                6,
            ).alias("upweight"),
        )
    )


# --------------------------------------------------------------------------
# op250: end-to-end corpus build — the composed pipeline, certified whole
# --------------------------------------------------------------------------

_CB_MIN_CHARS, _CB_MAX_CHARS = 50, 1000


def _op250_sql() -> str:
    split = f"({_mulmod32('doc_id', _KNUTH, '//')} % 100)"
    return f"""
WITH clean AS (
  SELECT doc_id, text, lang
  FROM documents
  WHERE n_chars BETWEEN {_CB_MIN_CHARS} AND {_CB_MAX_CHARS}),
dedup AS (
  SELECT doc_id, text, lang FROM (
    SELECT doc_id, text, lang,
           ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
    FROM clean) WHERE rn = 1),
split AS (
  SELECT doc_id, text, lang,
         CASE WHEN {split} < 98 THEN 'train'
              WHEN {split} = 98 THEN 'val'
              ELSE 'test' END AS split
  FROM dedup)
SELECT split, lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
       CAST(MIN(doc_id) AS BIGINT) AS min_doc_id,
       CAST(MAX(doc_id) AS BIGINT) AS max_doc_id
FROM split GROUP BY split, lang
"""


@register("op250_corpus_build_pipeline", oracle=_op250_sql())
def op250_corpus_build_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END CORPUS BUILD — the composed pipeline every
    individual op in the north-star family serves, certified as a
    WHOLE: quality gate (length bounds — op92's simplest cut) →
    exact dedup keeping the first occurrence (op75/op76's rule,
    md5-keyed window) → reproducible hash split (op176's 98/1/1,
    _mulmod32) → per-(split, lang) release report (docs, tokens, id
    range). Each stage is individually certified elsewhere; this op
    certifies their COMPOSITION — the interfaces between stages,
    where real pipelines break (a filter reordered after the dedup,
    a split computed pre-dedup, an off-by-one in the keep rule all
    change the hash).

    Scale: filter fuses into the scan; dedup is one digest-keyed
    window (text never shuffles — md5 does); split is map-side
    arithmetic; report is one partial-agged groupBy. The whole build
    is two shuffles end to end at any corpus size."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    clean = d.filter(
        F.col("n_chars").between(_CB_MIN_CHARS, _CB_MAX_CHARS)
    ).select("doc_id", "text", "lang")
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    dedup = (
        clean.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .drop("rn")
    )
    split_expr = F.expr(
        f"({_mulmod32('doc_id', _KNUTH, 'div')} % 100)"
    )
    split = dedup.withColumn(
        "split",
        F.when(split_expr < 98, "train")
        .when(split_expr == 98, "val")
        .otherwise("test"),
    )
    return split.groupBy("split", "lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).cast("bigint").alias("n_tokens"),
        F.min("doc_id").cast("bigint").alias("min_doc_id"),
        F.max("doc_id").cast("bigint").alias("max_doc_id"),
    )


@register(
    "op77_text_wordcount",
    oracle="""
    SELECT word, CAST(COUNT(*) AS BIGINT) AS n
    FROM (SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents)
    WHERE word <> ''
    GROUP BY word
    ORDER BY n DESC, word
    LIMIT 20
    """,
)
def op77_text_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize → word frequencies → top-20 (NS text analysis;
    whitespace tokenizer per FIXTURES.md's space-separated corpus)."""
    d = load_table(spark, sf_dir, "documents")
    words = d.select(
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("word")
    ).filter(F.col("word") != "")
    return (
        words.groupBy("word")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "word")
        .limit(20)
    )


@register(
    "op78_text_stats_by_lang",
    oracle="""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars,
           CAST(SUM(len(string_split(text, ' '))) AS DOUBLE) / COUNT(*) AS avg_words
    FROM documents
    GROUP BY lang
    """,
)
def op78_text_stats_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language doc count / avg chars / avg words — quality-scoring
    shape stats (integer sums are exact, so double division is engine-
    identical)."""
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        (F.sum("n_chars").cast("double") / F.count("*")).alias("avg_chars"),
        (
            F.sum(F.size(F.split(F.col("text"), " ")).cast("bigint")).cast("double")
            / F.count("*")
        ).alias("avg_words"),
    )


# --------------------------------------------------------------- op91


def _sql_hits(words: tuple[str, ...]) -> str:
    lst = ", ".join(f"'{w}'" for w in words)
    return f"len(list_filter(string_split(lower(text), ' '), t -> list_contains([{lst}], t)))"


_OP91_SQL = f"""
WITH s AS (
  SELECT doc_id, lang,
         {_sql_hits(LANG_MARKERS['de'])} AS s_de,
         {_sql_hits(LANG_MARKERS['en'])} AS s_en,
         {_sql_hits(LANG_MARKERS['es'])} AS s_es,
         {_sql_hits(LANG_MARKERS['fr'])} AS s_fr,
         {_sql_hits(LANG_MARKERS['zh'])} AS s_zh
  FROM documents
)
SELECT doc_id,
       CASE WHEN greatest(s_de, s_en, s_es, s_fr, s_zh) = 0 THEN 'und'
            WHEN s_de >= greatest(s_en, s_es, s_fr, s_zh) THEN 'de'
            WHEN s_en >= greatest(s_es, s_fr, s_zh) THEN 'en'
            WHEN s_es >= greatest(s_fr, s_zh) THEN 'es'
            WHEN s_fr >= s_zh THEN 'fr'
            ELSE 'zh' END AS pred_lang,
       lang AS actual_lang
FROM s
"""


@register("op91_lang_id", oracle=_OP91_SQL)
def op91_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language ID by marker-token voting (n-gram heuristic): count
    per-language marker hits, argmax with deterministic lang-ascending
    tie-break, 'und' when no marker fires. Pure per-row expression —
    zero shuffle, scan-speed at any corpus size."""
    d = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    scores = {
        lang: token_hits(toks, words) for lang, words in sorted(LANG_MARKERS.items())
    }
    s = d.select("doc_id", F.col("lang").alias("actual_lang"), *[c.alias(f"s_{l}") for l, c in scores.items()])
    g = lambda *ls: F.greatest(*[F.col(f"s_{x}") for x in ls]) if len(ls) > 1 else F.col(f"s_{ls[0]}")  # noqa: E731
    pred = (
        F.when(g("de", "en", "es", "fr", "zh") == 0, "und")
        .when(F.col("s_de") >= g("en", "es", "fr", "zh"), "de")
        .when(F.col("s_en") >= g("es", "fr", "zh"), "en")
        .when(F.col("s_es") >= g("fr", "zh"), "es")
        .when(F.col("s_fr") >= F.col("s_zh"), "fr")
        .otherwise("zh")
    )
    return s.select("doc_id", pred.alias("pred_lang"), "actual_lang")


# --------------------------------------------------------------- op92

_SQL_STOP = ", ".join(f"'{w}'" for w in STOPWORDS)

# ---- op92/op105 single-source quality + shard kernels --------------
# The round-9 one-template rule (ngram_jaccard_pairs_ctes): op105
# composes op92's scoring and op98's sharding, so the formula and its
# oracle text must exist ONCE each — four drifting copies was the
# op89/op96 desync class all over again (round-13 review).

# the f CTE body: per-doc word/stopword/char features (both engines
# lower+space-split identically)
_QUALITY_F_CTE = f"""SELECT doc_id, text,
         len(string_split(lower(text), ' ')) AS n_words,
         len(list_filter(string_split(lower(text), ' '),
                         t -> list_contains([{_SQL_STOP}], t))) AS n_stop,
         n_chars
  FROM documents"""

# the composite score over the f CTE's columns — deliberately
# UNROUNDED (see op92's docstring: exact power-of-two ties)
_QUALITY_SQL = """0.5 * least(n_words, 100) / 100.0
         + 0.25 * (1 - CAST(n_stop AS DOUBLE) / n_words)
         + 0.25 * least(CAST(n_chars - (n_words - 1) AS DOUBLE) / n_words / 8.0, 1.0)"""


def quality_cols() -> tuple:
    """(n_words, avg_word_len, stopword_ratio, quality) Columns over a
    documents-shaped frame — the ONE Spark copy of _QUALITY_SQL."""
    toks = tokens(F.col("text"))
    n_words = F.size(toks)
    n_stop = token_hits(toks, STOPWORDS)
    awl = (F.col("n_chars") - (n_words - 1)).cast("double") / n_words
    ratio = n_stop.cast("double") / n_words
    quality = (
        F.lit(0.5) * F.least(n_words, F.lit(100)) / 100.0
        + F.lit(0.25) * (F.lit(1) - ratio)
        + F.lit(0.25) * F.least(awl / 8.0, F.lit(1.0))
    )
    return n_words, awl, ratio, quality


_OP92_SQL = f"""
WITH f AS (
  {_QUALITY_F_CTE}
)
SELECT doc_id,
       CAST(n_words AS BIGINT) AS n_words,
       ROUND(CAST(n_chars - (n_words - 1) AS DOUBLE) / n_words, 6) AS avg_word_len,
       ROUND(CAST(n_stop AS DOUBLE) / n_words, 6) AS stopword_ratio,
       {_QUALITY_SQL}
         AS quality
FROM f
"""


@register("op92_quality_score", oracle=_OP92_SQL)
def op92_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality scoring from shape features: length, average
    word length (chars net of single-space separators), stopword ratio,
    combined into a bounded [0,1] score. Feature ratios round to 6dp;
    the composite score is deliberately UNROUNDED: its power-of-two
    denominators produce exact decimal ties (e.g. 0.6640625) that
    HALF_EVEN and HALF_UP break differently, while the raw IEEE double
    — same ops, same order — is bit-identical across engines.
    Pure per-row expressions, zero shuffle."""
    d = load_table(spark, sf_dir, "documents")
    n_words, awl, ratio, quality = quality_cols()
    return d.select(
        "doc_id",
        n_words.cast("bigint").alias("n_words"),
        F.round(awl, 6).alias("avg_word_len"),
        F.round(ratio, 6).alias("stopword_ratio"),
        quality.alias("quality"),
    )


# --------------------------------------------------------------- op93

_BPE_RE = "[a-z]+|[0-9]+|[^a-z0-9 ]"

_OP93_SQL = f"""
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
       CAST(len(regexp_extract_all(lower(text), '{_BPE_RE}')) AS BIGINT) AS n_bpe_tokens
FROM documents
"""


@register("op93_token_count", oracle=_OP93_SQL)
def op93_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace tokens and a BPE-ish regex
    lexer (letter runs | digit runs | single punctuation) — the cheap
    pre-tokenizer count used for corpus budgeting. Per-row regex in
    codegen; zero shuffle."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n_ws_tokens"),
        F.size(F.regexp_extract_all(F.lower(F.col("text")), F.lit(_BPE_RE), 0))
        .cast("bigint")
        .alias("n_bpe_tokens"),
    )


# --------------------------------------------------------------- op105

_OP105_SQL = f"""
WITH f AS (
  {_QUALITY_F_CTE}
),
q AS (
  SELECT doc_id, text,
         {_QUALITY_SQL}
           AS quality
  FROM f
),
k AS (
  SELECT MIN(doc_id) AS doc_id, MIN(quality) AS quality
  FROM q WHERE quality >= 0.5
  GROUP BY md5(text)
),
h AS (
  SELECT doc_id, quality, md5(CAST(doc_id AS VARCHAR)) AS hh FROM k
)
SELECT doc_id, quality,
       {_SHARD_SQL}
FROM h
"""


@register("op105_corpus_clean_pipeline", oracle=_OP105_SQL)
def op105_corpus_clean_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end training-corpus cleaning pipeline as ONE lazy
    plan: quality-score → threshold filter → exact dedup → deterministic
    shard/position assignment. Composes op92 (scoring), op75 (dedup)
    and op98 (sharding) semantics into the shape a 100 TB ingest run
    executes nightly.

    Scale design, stage by stage: scoring is per-row at scan speed
    (zero shuffle); the dedup groups by md5(text) so the ONLY shuffle
    of the corpus carries 16-byte digests + ids — never document text;
    shard assignment is per-row hashing; position is a window
    partitioned by shard (8 independent sorts of 1/8 of the survivors,
    no global sort). Quality stays UNROUNDED (op92's IEEE-parity rule:
    same ops, same order → bit-identical across engines)."""
    d = load_table(spark, sf_dir, "documents")
    _, _, _, quality = quality_cols()
    scored = d.select("doc_id", "text", quality.alias("quality")).filter(
        F.col("quality") >= 0.5
    )
    kept = (
        scored.groupBy(F.md5(F.col("text")).alias("th"))
        .agg(F.min("doc_id").alias("doc_id"), F.min("quality").alias("quality"))
        .drop("th")
    )
    return shard_assign(kept, carry=["quality"])
