"""Deduplication operators: exact, fuzzy and substring-level near-duplicate
detection over the documents corpus.

Scale design per family:
- exact dedup (op75/op76): hash-groupBy — one shuffle on the
  fingerprint, never on the payload.
- MinHash + LSH banding (op79, op194): candidate generation is a
  groupBy on (band, band_hash), O(n·bands) shuffle rows instead of the
  O(n²) all-pairs join.
- SimHash (op88): one 64-bit signature per doc at scan speed; pairing
  shuffles (doc, 16-bit chunk) rows — the pigeonhole banding for
  hamming ≤ 3.
- n-gram Jaccard (op89) and shingle containment (op192): a gram
  frequency cap bounds the gram-join fanout, the standard guard
  against stop-gram quadratic blowup.
- embedding LSH (op90): signed random hyperplanes → one int bucket per
  vector; exact cosine only within buckets.
- winnowing fingerprints (op94): O(len) per row, the local sketch for
  substring-level dedup; edit distance (op132) verifies candidates.

Package rules: DataFrame/Catalyst only, Python only inside
Arrow-batched pandas kernels (mapInPandas / applyInPandas), shuffles carry ids and counters
(never payload text), cross-engine floats quantized to int64 before
any sum or round(6)-stabilized, and outputs canonicalizer-safe
(scalars only, no DECIMAL — tests/test_gate_shape.py).
"""

from __future__ import annotations

import os
import random

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from ocdb_server_spark.functions.text import let_once, tokens, winnow_fingerprints
from ocdb_server_spark.functions.vector import cosine as _cosine, dot as _dot
from ocdb_server_spark.io import load_table
from ocdb_server_spark.registry import pool_persist, register


# --------------------------------------------------------------------------
# op116: benchmark-contamination detection
# --------------------------------------------------------------------------

_OP116_SQL = """
WITH w AS (SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents),
b AS (SELECT DISTINCT array_to_string(ws[t.i:t.i+2], ' ') AS gram
      FROM w, UNNEST(range(1, len(ws)-1)) AS t(i)
      WHERE doc_id % 97 = 0),
c AS (SELECT doc_id, lang, array_to_string(ws[t.i:t.i+2], ' ') AS gram
      FROM w, UNNEST(range(1, len(ws)-1)) AS t(i)
      WHERE doc_id % 97 <> 0)
SELECT c.doc_id, c.lang,
       CAST(COUNT(DISTINCT c.gram) AS BIGINT) AS overlap_grams
FROM c JOIN b ON c.gram = b.gram
GROUP BY c.doc_id, c.lang
"""


@register("op116_contamination_overlap", oracle=_OP116_SQL)
def op116_contamination_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination check: which corpus documents share
    word 3-grams with a held-out benchmark set (here: doc_id % 97 = 0,
    the driver-data stand-in for an eval suite). The benchmark side
    deduplicates its grams FIRST (distinct before the join — at scale
    the benchmark is tiny and broadcasts); the corpus side explodes
    grams and joins on the gram, so shuffle volume is corpus-grams ×
    match-rate, never corpus × benchmark. At 100 TB the gram string
    would be xxhash64'd before the join (same trick as op75's digest
    groupBy) — kept as the raw string here so the oracle is
    SQL-expressible. Reports distinct overlapping grams per document
    (the DataComp/Dolma-style decontamination signal)."""
    d = load_table(spark, sf_dir, "documents")
    ws = F.split(F.col("text"), " ")
    grams = F.when(
        F.size(ws) >= 3,
        F.transform(
            F.sequence(F.lit(1), F.size(ws) - 2),
            lambda i: F.concat_ws(" ", F.slice(ws, i, 3)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    g = d.select("doc_id", "lang", F.explode(grams).alias("gram"))
    bench = (
        g.filter(F.col("doc_id") % 97 == 0).select("gram").distinct()
    )
    corpus = g.filter(F.col("doc_id") % 97 != 0)
    return (
        corpus.join(F.broadcast(bench), "gram")
        .groupBy("doc_id", "lang")
        .agg(F.countDistinct("gram").cast("bigint").alias("overlap_grams"))
    )


# --------------------------------------------------------------------------
# op132: edit-distance near-dup verification
# --------------------------------------------------------------------------


def editdist_verify_pairs(
    docs: DataFrame, pairs: DataFrame, threshold: float = 0.7
) -> DataFrame:
    """op132's Levenshtein verify stage, decoupled from its shape-block
    candidate generator — the 100 TB COMPOSITION path (BASELINE.md
    17g/18c): `pairs` (columns id_a < id_b) comes from a corpus-stable
    signature generator (op79 MinHash banding / op88 SimHash chunks,
    exactly as the op96/op221 dedup pipeline sources its candidates),
    the texts join back by doc_id, and the same edit-distance +
    relative-threshold predicate as op132 decides. Output schema is
    op132's (id_a, id_b, edit_dist, edit_ratio).

    Scale shape: two hash joins of a small pair set against the
    documents table on its key (candidates from signatures are
    O(near-dups), not O(n²)), then a per-row Levenshtein — no
    self-join, no value-shape blocking, bucket sizes corpus-stable.

    Relation to op132, measured round 18 (BASELINE.md 18a) and pinned
    by tests/test_components.py: in the near-dup regime
    (edit_ratio ≤ 0.3) this path STRICTLY DOMINATES the shape block —
    it recovers every regime pair op132 finds with identical
    (edit_dist, edit_ratio) values, and finds the near-dups the
    equality block structurally misses (a single-token edit usually
    changes the word count or the n_chars/10 bucket, so at sf0.1 the
    shape block sees 1 of the corpus's 256 true near-dup pairs; this
    path sees all 256). The shape block's 0.6–0.7 tail — same-shape,
    token-wise unrelated texts — is a threshold artifact this path
    does not (and should not) reproduce."""
    d = docs.select("doc_id", "text")
    j = pairs.select("id_a", "id_b").join(
        d.select(F.col("doc_id").alias("id_a"), F.col("text").alias("text_a")),
        "id_a",
    ).join(
        d.select(F.col("doc_id").alias("id_b"), F.col("text").alias("text_b")),
        "id_b",
    )
    lev = F.levenshtein(F.col("text_a"), F.col("text_b"))
    ratio = lev.cast("double") / F.greatest(
        F.length(F.col("text_a")), F.length(F.col("text_b"))
    )
    return (
        j.select(
            "id_a",
            "id_b",
            lev.cast("bigint").alias("edit_dist"),
            ratio.alias("edit_ratio"),
        )
        .filter(F.col("edit_ratio") <= threshold)
    )


_OP132_SQL = """
WITH d AS (
  SELECT doc_id, lang, text,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS nw,
         CAST(n_chars // 10 AS BIGINT) AS cb
  FROM documents)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(levenshtein(a.text, b.text) AS BIGINT) AS edit_dist,
       CAST(levenshtein(a.text, b.text) AS DOUBLE)
         / greatest(length(a.text), length(b.text)) AS edit_ratio
FROM d a JOIN d b
  ON a.lang = b.lang AND a.nw = b.nw AND a.cb = b.cb AND a.doc_id < b.doc_id
WHERE CAST(levenshtein(a.text, b.text) AS DOUBLE)
        / greatest(length(a.text), length(b.text)) <= 0.7
"""


@register("op132_editdist_neardup", oracle=_OP132_SQL)
def op132_editdist_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup verification: candidate pairs blocked on
    (lang, word count, n_chars/10 bucket) — blocks cap at ~18 docs at
    sf0.1, ~10.7k candidate pairs total — then exact Levenshtein with
    a relative threshold (dist / max-length ≤ 0.7; the character-level
    lens that complements op79/op88/op89's token-level signatures).
    Both engines implement the same classical DP, so distances and the
    single IEEE divide are identical.

    SCALE BOUNDARY (measured round 17, BASELINE.md 17f/17g): the
    blocking key's cardinality is value-bounded (1629 blocks at sf0.1
    AND at 30× — DuckDB-verified), so block size grows linearly with
    the corpus and the quadratic verify explodes (candidate pairs
    ×1102 for ×30 rows; one 30× execution DNF'd at 30 min). An earlier
    revision of this note proposed tightening the key with a content
    prefix hash; round 17 MEASURED that idea non-viable at this
    threshold — only 1 of the 2051 sf0.1 result pairs shares a 16-char
    prefix (99.95% recall loss), because at edit-ratio ≤ 0.7 matching
    pairs can differ almost anywhere, so NO content-equality block key
    retains recall (loose-threshold edit similarity needs metric
    indexing, not equality blocking). The 100 TB path is therefore
    COMPOSITION, not a tighter key: this op's Levenshtein verify stage
    consumes candidates from a signature generator (op79 MinHash /
    op88 SimHash — corpus-stable bucket sizes) exactly as the
    op96/op221 dedup pipeline composes candidates→verify→components;
    the shape-block candidate generator here is the certified
    small-scale convenience that keeps the op self-contained and
    ANSI-mirrorable.

    COMPOSITION SCOPE (measured round 18, BASELINE.md 18a; the
    composed stage itself is `editdist_verify_pairs`, pinned by
    tests/test_components.py): the claim above holds for the NEAR-DUP
    REGIME, not for this op's full loose-threshold output — and there
    composition doesn't just match the shape block, it strictly
    dominates it. At sf0.1 the shape block emits 2051 pairs of which
    exactly 1 has edit_ratio ≤ 0.3; the op79∪op88 composed path
    recovers that pair AND the 255 further true near-dups the
    equality block structurally misses (a one-token edit usually
    changes nw or the n_chars/10 bucket — same asymmetry at every SF:
    composed finds 28/25/256 regime pairs at sf0.001/0.01/0.1, the
    shape block 0/0/1). The shape block's other 2050 pairs sit at
    ratio ≈ 0.45–0.70 — same-shape but token-wise UNRELATED texts the
    signatures rightly never candidate (composed recall on that tail:
    0, at every SF). So composition replaces this op at scale for
    near-duplicate detection — the semantics a dedup pipeline needs,
    with better recall than this op's own generator — while the
    0.6–0.7 tail is a threshold artifact of the bounded shape block,
    certified here at gate scale but with no recall-preserving scale
    path (per the 17g measurement, none can exist by equality
    blocking or signatures)."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        "text",
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("nw"),
        F.floor(F.col("n_chars") / 10).cast("bigint").alias("cb"),
    )
    a = d.alias("a")
    b = d.alias("b")
    lev = F.levenshtein(F.col("a.text"), F.col("b.text"))
    ratio = lev.cast("double") / F.greatest(
        F.length(F.col("a.text")), F.length(F.col("b.text"))
    )
    return (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.nw") == F.col("b.nw"))
            & (F.col("a.cb") == F.col("b.cb"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            lev.cast("bigint").alias("edit_dist"),
            ratio.alias("edit_ratio"),
        )
        .filter(F.col("edit_ratio") <= 0.7)
    )


# --------------------------------------------------------------------------
# op141: exact-duplicate cluster-size histogram
# --------------------------------------------------------------------------

_OP141_SQL = """
WITH g AS (SELECT md5(text) AS h, CAST(COUNT(*) AS BIGINT) AS dup_size
           FROM documents GROUP BY h)
SELECT dup_size,
       CAST(COUNT(*) AS BIGINT) AS n_clusters,
       CAST(SUM(dup_size - 1) AS BIGINT) AS redundant_docs
FROM g GROUP BY dup_size
"""


@register("op141_dup_cluster_stats", oracle=_OP141_SQL)
def op141_dup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-dup cluster-size histogram: how many content clusters
    exist at each duplication level, and how many docs are redundant —
    the dedup-yield report a corpus pipeline prints before committing
    to a dedup pass (op75 gives the totals; this gives the shape).

    Plan at scale: groupBy on the 128-bit digest (never the text
    bytes), then a re-aggregation of the cluster-size table — the
    second shuffle carries one row per distinct size (~dozens)."""
    d = load_table(spark, sf_dir, "documents")
    g = d.groupBy(F.md5(F.col("text").cast("binary")).alias("h")).agg(
        F.count("*").alias("dup_size")
    )
    return g.groupBy("dup_size").agg(
        F.count("*").alias("n_clusters"),
        F.sum(F.col("dup_size") - 1).alias("redundant_docs"),
    )


# --------------------------------------------------------------------------
# op142: cross-source shingle-overlap matrix
# --------------------------------------------------------------------------

_OP142_SQL = """
WITH toks AS (
  SELECT source, string_split(lower(text), ' ') AS w FROM documents),
grams AS (
  SELECT DISTINCT source,
         md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]) AS h
  FROM toks, UNNEST(range(1, len(w) - 3)) AS t(i)),
sizes AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM grams GROUP BY source),
shared AS (
  SELECT a.source AS source_a, b.source AS source_b, CAST(COUNT(*) AS BIGINT) AS shared_grams
  FROM grams a JOIN grams b ON a.h = b.h AND a.source < b.source
  GROUP BY 1, 2)
SELECT s.source_a, s.source_b, s.shared_grams,
       ROUND(CAST(s.shared_grams AS DOUBLE) / (sa.n + sb.n - s.shared_grams), 6) AS jaccard
FROM shared s
JOIN sizes sa ON sa.source = s.source_a
JOIN sizes sb ON sb.source = s.source_b
"""


@register("op142_source_overlap", oracle=_OP142_SQL)
def op142_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination matrix: word-5-gram Jaccard overlap
    between every source pair — the "are two crawls secretly the same
    corpus" audit run before mixing training sources.

    Plan at scale: grams dedup to (source, md5) BEFORE anything else
    (map-side partial dedup), then ONE groupBy on the 128-bit gram
    hash collects each gram's co-occurring source set and a HOF
    generates the sorted source pairs in-place — no self-join, no
    second shuffle of the gram table, and the pair agg input is
    O(grams × co-occurrence²) with co-occurrence bounded by the
    source-catalog size. Every big exchange carries 16-byte digests,
    not text. (The DuckDB oracle keeps the equivalent self-join
    formulation — identical pair multiset.)"""
    d = load_table(spark, sf_dir, "documents")
    w = d.select("source", F.split(F.lower("text"), " ").alias("w"))
    grams = (
        w.select(
            "source",
            # Guard: sequence(0, size-5) with size<5 would step -1 and
            # produce negative indices (runtime error in slice); docs
            # shorter than one gram contribute nothing, matching the
            # oracle's empty range(1, len(w)-3).
            F.explode(
                F.when(
                    F.size("w") >= 5,
                    F.transform(
                        F.sequence(F.lit(0), F.size("w") - 5),
                        lambda i: F.md5(
                            F.concat_ws(" ", F.slice("w", i + 1, 5)).cast("binary")
                        ),
                    ),
                ).otherwise(F.array().cast("array<string>"))
            ).alias("h"),
        )
        .distinct()
    )
    sizes = grams.groupBy("source").agg(F.count("*").alias("n"))
    # per gram: sorted set of sources containing it -> all (a < b) pairs
    co = grams.groupBy("h").agg(F.sort_array(F.collect_set("source")).alias("ss"))
    pairs = co.filter(F.size("ss") > 1).select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("ss"),
                    lambda x, i: F.transform(
                        F.slice(F.col("ss"), i + 2, F.size("ss")),
                        lambda y: F.struct(x.alias("a"), y.alias("b")),
                    ),
                )
            )
        ).alias("p")
    )
    shared = (
        pairs.groupBy(
            F.col("p.a").alias("source_a"), F.col("p.b").alias("source_b")
        ).agg(F.count("*").alias("shared_grams"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    return (
        shared.join(F.broadcast(sa), F.col("source_a") == F.col("sa.source"))
        .join(F.broadcast(sb), F.col("source_b") == F.col("sb.source"))
        .select(
            "source_a",
            "source_b",
            "shared_grams",
            F.round(
                F.col("shared_grams").cast("double")
                / (F.col("sa.n") + F.col("sb.n") - F.col("shared_grams")),
                6,
            ).alias("jaccard"),
        )
    )


# --------------------------------------------------------------------------
# op151: boilerplate chunk detection (repeated word-chunks across docs)
# --------------------------------------------------------------------------

_CHUNK_W = 3       # words per chunk (non-overlapping stride)
_CHUNK_MIN_DOCS = 5

_OP151_SQL = f"""
WITH toks AS (
  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
chunks AS (
  SELECT doc_id,
         md5(array_to_string(w[(i*{_CHUNK_W})+1 : (i+1)*{_CHUNK_W}], ' ')) AS h
  FROM toks, UNNEST(range(0, 100000)) AS t(i)
  WHERE (i+1)*{_CHUNK_W} <= len(w))
SELECT h AS chunk_hash,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_occurrences
FROM chunks
GROUP BY h
HAVING COUNT(DISTINCT doc_id) >= {_CHUNK_MIN_DOCS}
"""


@register("op151_boilerplate_chunks", oracle=_OP151_SQL)
def op151_boilerplate_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate detection: non-overlapping 3-word chunks that recur
    in ≥5 distinct docs — the headers/footers/nav-text scrub list a
    web-corpus pipeline builds before training.

    Plan at scale: chunks hash to 16-byte md5 BEFORE the shuffle (the
    exchange never carries text), count+count_distinct in one agg with
    map-side partials, HAVING prunes the long tail. The oracle's
    UNNEST(range(…)) upper bound is a constant far above any doc's
    chunk count; Spark derives the exact per-doc count via
    transform(sequence(...))."""
    d = load_table(spark, sf_dir, "documents")
    w = d.select("doc_id", F.split(F.lower("text"), " ").alias("w"))
    n_chunks = F.floor(F.size("w") / _CHUNK_W).cast("int")
    chunks = w.select(
        "doc_id",
        # Guard: docs with fewer than _CHUNK_W words have n_chunks=0 and
        # sequence(0, -1) would step backwards ([0,-1] — a short chunk
        # plus a from-the-end slice). Emit no chunks instead, matching
        # the oracle's WHERE (i+1)*W <= len(w).
        F.explode(
            F.when(
                n_chunks > 0,
                F.transform(
                    F.sequence(F.lit(0), n_chunks - 1),
                    lambda i: F.md5(
                        F.concat_ws(
                            " ", F.slice("w", i * _CHUNK_W + 1, _CHUNK_W)
                        ).cast("binary")
                    ),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("h"),
    )
    return (
        chunks.groupBy(F.col("h").alias("chunk_hash"))
        .agg(
            F.count_distinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_occurrences"),
        )
        .filter(F.col("n_docs") >= _CHUNK_MIN_DOCS)
    )


# --------------------------------------------------------------------------
# op154: prefix-hash dedup — the cheap first pass before MinHash
# --------------------------------------------------------------------------

_OP154_SQL = """
WITH p AS (
  SELECT doc_id,
         md5(substr(lower(text), 1, 64)) AS prefix_hash
  FROM documents
  WHERE length(text) >= 64
)
SELECT prefix_hash,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MIN(doc_id) AS BIGINT) AS keeper_doc_id
FROM p
GROUP BY prefix_hash
HAVING COUNT(*) > 1
"""


@register("op154_prefix_dedup", oracle=_OP154_SQL)
def op154_prefix_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-hash duplicate groups: docs sharing the same first 64
    normalized chars (web corpora are full of boilerplate-prefixed
    near-copies; hashing a fixed prefix catches most of them for the
    price of one md5 — the standard cheap pass BEFORE MinHash/SimHash,
    cf. op79/op88 which handle the rest).

    Scale: the shuffle key is a 32-char digest, never the text; groups
    are tiny (dup clusters), and the keeper choice (min doc_id) is the
    same deterministic rule op75/op141 use."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.filter(F.length("text") >= 64)
        .select(
            "doc_id",
            F.md5(F.expr("substr(lower(text), 1, 64)")).alias("prefix_hash"),
        )
        .groupBy("prefix_hash")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("keeper_doc_id"),
        )
        .filter(F.col("n_docs") > 1)
    )


# --------------------------------------------------------------------------
# op190: exact-substring duplicate spans — shingle-run merging
# --------------------------------------------------------------------------

_SPAN_L = 8  # minimum duplicated run, in tokens

_OP190_SQL = f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS ws,
         len(string_split(text, ' ')) AS n
  FROM documents
),
w AS (
  SELECT doc_id,
         CAST(i AS BIGINT) AS pos,
         md5(array_to_string(ws[i:i + {_SPAN_L} - 1], ' ')) AS h
  FROM t, UNNEST(range(1, n - {_SPAN_L} + 2)) AS u(i)
  WHERE n >= {_SPAN_L}
),
dup AS (SELECT h FROM w GROUP BY h HAVING COUNT(*) >= 2),
p AS (
  SELECT w.doc_id, w.pos,
         w.pos - ROW_NUMBER() OVER (PARTITION BY w.doc_id ORDER BY w.pos)
           AS grp
  FROM w JOIN dup ON w.h = dup.h
)
SELECT doc_id,
       CAST(MIN(pos) AS BIGINT) AS span_start,
       CAST(MAX(pos) - MIN(pos) + {_SPAN_L} AS BIGINT) AS span_len
FROM p GROUP BY doc_id, grp
"""


@register("op190_substring_dup_spans", oracle=_OP190_SQL)
def op190_substring_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplicate SPANS: every maximal run of ≥8 tokens
    that occurs (anywhere) at least twice in the corpus, reported as
    (doc_id, span_start, span_len) — the actionable output of
    exact-substring dedup (public method: Lee et al., "Deduplicating
    Training Data Makes Language Models Better", 2021 — which removes
    the repeated SPAN, not the document; op75/op154 handle whole-doc /
    prefix dups, op79/op88 the fuzzy ones).

    Distributed formulation: the paper's suffix array becomes a
    shingle-hash pipeline — every 8-token window hashes (md5, window
    text never shuffles beyond the hash), duplicated hashes surface
    via one count≥2 aggregate, and each doc's duplicated positions
    merge into maximal spans with the gaps-and-islands trick
    (pos − row_number per doc). Overlapping duplicated windows fuse
    into one span, so a verbatim 50-token quote reports as ONE
    43-window span, start and length exact.

    Scale: shuffles carry (hash) then (doc_id, pos) — both O(tokens);
    the span merge windows over each doc's own positions. The dup-hash
    join is a semi-join on the hash (corpus-sized at web scale →
    shuffle; Catalyst may broadcast it at test scale)."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id", F.split("text", " ").alias("ws")
    ).withColumn("n", F.size("ws"))
    w = (
        t.filter(F.col("n") >= _SPAN_L)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(1, n - {_SPAN_L} + 1),"
                    f" i -> struct(cast(i as bigint) as pos,"
                    f" md5(array_join(slice(ws, i, {_SPAN_L}), ' ')) as h))"
                )
            ).alias("s"),
        )
        .select("doc_id", F.col("s.pos").alias("pos"), F.col("s.h").alias("h"))
    )
    dup = w.groupBy("h").agg(F.count("*").alias("c")).filter(F.col("c") >= 2)
    p = w.join(dup.select("h"), "h", "left_semi")
    from pyspark.sql import Window as _W

    grp = (
        F.col("pos")
        - F.row_number().over(_W.partitionBy("doc_id").orderBy("pos"))
    ).alias("grp")
    return (
        p.select("doc_id", "pos", grp)
        .groupBy("doc_id", "grp")
        .agg(
            F.min("pos").cast("bigint").alias("span_start"),
            (F.max("pos") - F.min("pos") + _SPAN_L)
            .cast("bigint")
            .alias("span_len"),
        )
        .drop("grp")
    )


# --------------------------------------------------------------------------
# op192: shingle containment — asymmetric near-dup scoring
# --------------------------------------------------------------------------

_CT_L = 5        # tokens per shingle
_CT_DFCAP = 100  # drop shingles present in more docs (bounds join fanout)
_CT_MIN = 3      # report pairs sharing at least this many shingles

_OP192_SQL = f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS ws,
         len(string_split(text, ' ')) AS n
  FROM documents
),
sh AS (
  SELECT DISTINCT doc_id,
         md5(array_to_string(ws[i:i + {_CT_L} - 1], ' ')) AS h
  FROM t, UNNEST(range(1, n - {_CT_L} + 2)) AS u(i)
  WHERE n >= {_CT_L}
),
keep AS (
  SELECT h FROM sh GROUP BY h HAVING COUNT(*) <= {_CT_DFCAP}
),
shc AS (SELECT sh.doc_id, sh.h FROM sh JOIN keep ON sh.h = keep.h),
sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz FROM shc GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(COUNT(*) AS BIGINT) AS inter
  FROM shc a JOIN shc b ON a.h = b.h AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
  HAVING COUNT(*) >= {_CT_MIN}
)
SELECT p.doc_a, p.doc_b, p.inter,
       sa.sz AS size_a, sb.sz AS size_b,
       ROUND(CAST(p.inter AS DOUBLE) / sa.sz, 6) AS containment_a,
       ROUND(CAST(p.inter AS DOUBLE) / sb.sz, 6) AS containment_b
FROM pairs p
JOIN sizes sa ON p.doc_a = sa.doc_id
JOIN sizes sb ON p.doc_b = sb.doc_id
"""


@register("op192_shingle_containment", oracle=_OP192_SQL)
def op192_shingle_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-dup scoring: for doc pairs sharing ≥3 distinct
    5-token shingles, report |A∩B| and BOTH containments |A∩B|/|A|,
    |A∩B|/|B| — the metric that catches quote-inclusion and
    superset/subset duplication that symmetric Jaccard (op89)
    underweights (a tweet quoted inside an article has tiny Jaccard
    but containment ≈ 1 on the tweet side; RefinedWeb-style pipelines
    filter on exactly this).

    Scale: candidate pairs come from the shared-shingle equi-join —
    never doc×doc — and the df-cap (drop shingles in >100 docs,
    applied identically in the oracle) bounds each shingle's fanout
    at 100², the standard boilerplate-shingle guard; shuffles carry
    (hash, doc_id) pairs only. At sf0.1 the planted duplicate texts
    must surface with containment 1.0 both sides (tested); at lower
    sf the word-soup corpus shares no 5-gram runs and the correct
    output is empty."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select("doc_id", F.split("text", " ").alias("ws")).withColumn(
        "n", F.size("ws")
    )
    sh = (
        t.filter(F.col("n") >= _CT_L)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(1, n - {_CT_L} + 1),"
                    f" i -> md5(array_join(slice(ws, i, {_CT_L}), ' ')))"
                )
            ).alias("h"),
        )
        .distinct()
    )
    keep = sh.groupBy("h").agg(F.count("*").alias("df")).filter(
        F.col("df") <= _CT_DFCAP
    )
    shc = sh.join(keep.select("h"), "h", "left_semi")
    sizes = shc.groupBy("doc_id").agg(F.count("*").cast("bigint").alias("sz"))
    a = shc.alias("a")
    b = shc.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").cast("bigint").alias("inter"))
        .filter(F.col("inter") >= _CT_MIN)
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("size_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("size_b"))
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "inter",
            "size_a",
            "size_b",
            F.round(F.col("inter").cast("double") / F.col("size_a"), 6).alias(
                "containment_a"
            ),
            F.round(F.col("inter").cast("double") / F.col("size_b"), 6).alias(
                "containment_b"
            ),
        )
    )


# --------------------------------------------------------------------------
# op194: mergeable MinHash rollup — similarity sketches as algebra
# --------------------------------------------------------------------------

_MH_K = 16  # signature width (same as op79)


@register("op194_minhash_rollup", oracle=None)  # ROWS: xxhash64-based
def op194_minhash_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-SOURCE MinHash signatures rolled up to a corpus signature by
    ELEMENTWISE MIN — the similarity-sketch member of the mergeable-
    aggregate family (op166 HLL∪, op171 algebraic rollup): because
    min(minhash(A), minhash(B)) = minhash(A∪B) exactly, any hierarchy
    level re-aggregates from stored signatures instead of re-shingling
    raw text, and two stored signatures estimate the Jaccard overlap
    of whole sub-corpora (matching components / dedup-across-dumps at
    100 TB without touching documents).

    One explode over shingles feeds the source-level 16-min partial
    agg (shuffle = 16 longs per source); the corpus row then derives
    PURELY from the source signatures. tests/test_pipeline_r5b.py
    proves the rollup law: corpus-from-sources ≡ corpus-from-shingles,
    and that planted duplicate sources produce identical signatures.

    ROWS-oracle: signatures are xxhash64-based (no DuckDB twin — same
    rationale as op79).

    NO-CHANGE NOTE (round-10 verdict item 6, measured r11): the rollup
    path stays the direct per-source min-agg. hybrid_selfjoin_pairs
    does not apply — this plan has NO bucket self-join (the group key
    is `source`, not an LSH band, and no pair space ever forms); and
    the group distribution is perfectly uniform at every test scale
    (20 sources × equal doc counts, checked sf0.01/sf0.1). Measured at
    10× the driver gate scale (sf0.1, local[32], 3 interleaved reps):
    direct min/med 0.544/0.721 s vs two-phase salted 0.698/0.717 s —
    the salt's second shuffle buys nothing even before skew is absent,
    consistent with the round-10 --mode=agg rule (decomposable aggs:
    never salt; map-side partials already collapse hot keys)."""
    d = load_table(spark, sf_dir, "documents")
    w = d.select("source", F.expr("split(lower(text), ' ')").alias("w"))
    shingles = F.expr(
        "array_distinct(filter("
        "  zip_with(w, slice(w, 2, greatest(size(w) - 1, 0)),"
        "           (x, y) -> concat_ws(' ', x, y)),"
        "  s -> contains(s, ' ')))"
    )
    sh = w.select("source", F.explode(shingles).alias("shingle"))
    per_source = sh.groupBy("source").agg(
        *[F.expr(f"min(xxhash64({i}, shingle)) AS mh{i}") for i in range(_MH_K)]
    )
    src_rows = per_source.select(
        F.lit("source").alias("level"),
        F.col("source").alias("key"),
        *[F.col(f"mh{i}") for i in range(_MH_K)],
    )
    corpus = per_source.agg(
        *[F.expr(f"min(mh{i}) AS mh{i}") for i in range(_MH_K)]
    ).select(
        F.lit("corpus").alias("level"),
        F.lit("*").alias("key"),
        *[F.col(f"mh{i}") for i in range(_MH_K)],
    )
    return src_rows.unionAll(corpus)


# DuckDB side: unnest-in-lockstep zips two lists; SUM per vec_id gives the
# dot/norm sums. Float fold order differs from Spark's left-to-right →
# similarity values rounded to 6dp on BOTH sides, and ordering/thresholds
# always applied to the ROUNDED value so row sets agree exactly.


@register(
    "op75_dedup_exact",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT text) AS BIGINT) AS n_distinct_text,
           CAST(COUNT(*) - COUNT(DISTINCT text) AS BIGINT) AS n_dup_rows
    FROM documents
    """,
)
def op75_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup cardinality over documents.text (sf0.1 plants 8
    duplicate texts — FIXTURES.md). At 100 TB: groupBy on xxhash64(text)
    fingerprints, not the text payload; here the distinct count is the
    observable."""
    d = load_table(spark, sf_dir, "documents")
    # Single lazy agg — count + countDistinct in one pass (partial
    # aggregation map-side; countDistinct expands to a two-phase agg
    # under the hood). No eager job at plan-build time.
    return d.agg(
        F.count("*").alias("n_docs"),
        F.count_distinct(F.col("text")).cast("bigint").alias("n_distinct_text"),
        (F.count("*") - F.count_distinct(F.col("text")))
        .cast("bigint")
        .alias("n_dup_rows"),
    )


@register(
    "op76_dedup_keep_latest",
    oracle="""
    SELECT user_id, CAST(ts AS TIMESTAMP) AS last_ts, value AS last_value
    FROM (
      SELECT user_id, ts, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events)
    WHERE rn = 1
    """,
)
def op76_dedup_keep_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup events by user keeping the latest row — the keep-latest
    policy for re-crawled/re-ingested documents."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("timestamp").alias("ts"), "value", "event_id"
    )
    w = W.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("ts").alias("last_ts"), F.col("value").alias("last_value"))
    )


def minhash_neardup_pairs(
    d: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    hot_bucket_threshold: int | None = None,
    n_slices: int = 8,
) -> DataFrame:
    """MinHash + LSH near-duplicate candidate pairs (Broder '97; cf.
    Spark MLlib MinHashLSH — reimplemented here as pure JVM column ops,
    no MLlib dependency, no Python).

    Pipeline (all built-ins): word 2-shingles → 16 minhashes (xxhash64
    with per-function salt, min over shingles) → 4 bands of 4 →
    explode bands → groupBy (band_idx, band_hash) → within-bucket pairs
    (a < b) → distinct. The shuffle carries (doc_id, band) rows — n·4
    rows — never the O(n²) pair space. Verified against planted
    near-dups in tests/test_northstar.py.

    hot_bucket_threshold: None (default) keeps the direct banding
    self-join — the MEASURED right plan when no band bucket exceeds
    ~10k docs (skew_stress --mode=bucket: below that, any spreading
    loses; this data's largest bucket is the 8-doc planted-dup set).
    An int routes buckets above it through
    functions.skew.hybrid_selfjoin_pairs' blocked triangle (−25% wall
    at 100× with a planted 40%-hot bucket, straggler spread
    28.4×→1.4×) — the production switch for corpora whose template
    pages / boilerplate collapse millions of docs into one band
    bucket. Output is pair-for-pair identical either way (pinned in
    tests/test_northstar.py).

    n_slices: triangle slice count passed through to
    hybrid_selfjoin_pairs when hot-bucket routing is on (round-10
    ADVICE — callers sizing for very large buckets want ~|B|/S rows
    per reducer cell, so S should grow with the expected bucket
    size). Ignored under the default direct self-join."""
    # Every multi-term expression below is built as ONE SQL string
    # parsed JVM-side in a single F.expr/selectExpr round trip — the
    # Column-object formulation cost ~1600 py4j round trips (~0.3 s of
    # plan-build wall, profiled round 4) for the IDENTICAL Catalyst
    # plan; a second flattening pass (round 7: one-string join
    # condition, array-packed signature agg) took the build from
    # ~0.23 s to well under the verdict's 0.2 s per-query line.
    #
    # Materialize the token array BEFORE building shingles: referencing
    # the split() expression inside a HOF lambda re-evaluates it per
    # element (O(n_words²) re-splits — measured 5.5s of the sf0.1
    # runtime). zip_with against the shifted slice is one pass.
    w = d.selectExpr(
        f"{id_col} AS doc_id", f"split(lower({text_col}), ' ') AS w"
    )
    # filter(...) drops the null-padded tail bigram (no space in it).
    # Explode shingles once, hash each with 16 integer salts (one cheap
    # xxhash64 per salt, no string building), then min() per doc —
    # a map-side partial aggregate, so the shuffle carries 16 longs per
    # doc regardless of document length. (A prior formulation — 16
    # nested transforms over the shingle array per row — was 30× slower
    # at sf0.1 and would blow up on long documents.) The 16 mins pack
    # into ONE array column (same 16 partial-min aggregates in the
    # plan; one py4j call instead of 16).
    sh = w.selectExpr(
        "doc_id",
        "explode(array_distinct(filter("
        "  zip_with(w, slice(w, 2, greatest(size(w) - 1, 0)),"
        "           (x, y) -> concat_ws(' ', x, y)),"
        "  s -> contains(s, ' ')))) AS shingle",
    )
    mins = ", ".join(f"min(xxhash64({i}, shingle))" for i in range(16))
    sig = sh.groupBy("doc_id").agg(F.expr(f"array({mins}) AS mhs"))
    # 4 bands × 4 signature values: band hash = xxhash64 of the band's
    # mins (array is 0-indexed via element_at-style [] on the agg output)
    bands = ", ".join(
        f"named_struct('band_idx', {b}, 'band_hash', "
        f"xxhash64(mhs[{b * 4}], mhs[{b * 4 + 1}], mhs[{b * 4 + 2}],"
        f" mhs[{b * 4 + 3}]))"
        for b in range(4)
    )
    exploded = sig.selectExpr(
        "doc_id", f"inline(array({bands}))"
    )
    # Persist the band rows (16 bytes × 4 per doc): the self-join would
    # otherwise run the shingle explode + 16-min aggregation twice. At
    # cluster scale this is the signature table every pass reuses.
    exploded = pool_persist(exploded)
    if hot_bucket_threshold is not None:
        from ocdb_server_spark.functions.skew import hybrid_selfjoin_pairs

        return (
            hybrid_selfjoin_pairs(
                exploded,
                ["band_idx", "band_hash"],
                "doc_id",
                threshold=hot_bucket_threshold,
                n_slices=n_slices,
            )
            .selectExpr("id_a AS doc_a", "id_b AS doc_b")
            .distinct()
        )
    pairs = (
        exploded.alias("l")
        .join(
            exploded.alias("r"),
            F.expr(
                "l.band_idx = r.band_idx AND l.band_hash = r.band_hash"
                " AND l.doc_id < r.doc_id"
            ),
        )
        .selectExpr("l.doc_id AS doc_a", "r.doc_id AS doc_b")
        .distinct()
    )
    return pairs


@register(
    "op79_minhash_neardup",
    oracle=None,  # ROWS: LSH banding is approximate
    # the plan lives in the kernel (round-12 deps rule, applied to the
    # dedup family in round 14): a signature/banding rewrite re-fronts
    deps=(minhash_neardup_pairs,),
)
def op79_minhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH candidate pairs over the documents table (see
    minhash_neardup_pairs). At sf0.01 the corpus has no near-dups, so
    an empty result is the correct output; sf0.1 plants 8 duplicate
    texts (FIXTURES.md) which must all surface.

    Hot-bucket scale rule (MEASURED, round 10 — skew_stress.py
    --mode=bucket, BASELINE.md): buckets under ~10k docs need no
    mitigation (the one-task pair scan is cheaper than any spreading);
    above it, route ONLY the oversized buckets through the blocked
    triangle self-join (hybrid: −25% wall at 100× data, straggler
    spread 28.4×→1.4×) — blanket triangling inverts at scale because
    the uniform mass pays replication for nothing. op192's fanout cap
    stays the first guard when the oversized bucket's pairs are not
    all wanted."""
    return minhash_neardup_pairs(load_table(spark, sf_dir, "documents"))


# --------------------------------------------------------------- op88


def simhash_signatures(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Distributed SimHash: explode tokens, hash, then ONE hash-agg
    computing all 64 bit votes as codegen'd conditional sums (the
    same map-side-partial shape as op79's minhash agg). Semantically
    identical to functions/text.simhash64 — parity-tested — but the
    per-token work runs inside whole-stage codegen instead of Spark's
    interpreted higher-order-function evaluator (64 interpreted
    aggregate passes per row measured 3.5 s at sf0.1; this is ~0.5 s).
    Docs with no tokens produce no signature row.

    The 64 vote aggregates and the 64-term signature fold are built
    as JVM-parsed expression STRINGS (op39/op79's flattening rule,
    applied round 18): the Column-API loop issued ~650 py4j round
    trips per plan build — op88's build measured 1.3 s, vs 0.76 s
    flattened — for a bit-identical Catalyst plan (same
    conditional-sum aggregates, same left-associated shiftleft sum;
    parity re-asserted against functions/text.simhash64 at
    sf0.001/0.01: 0 mismatches). The residual build cost is JVM
    analysis of the 64-wide aggregate itself (a single
    array-of-sums aggregate measured only 0.68 s build and a slower
    execution — rejected)."""
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(tokens(F.col(text_col))).alias("t"),
    )
    h = toks.select("id", F.xxhash64("t").alias("h"))
    votes = h.groupBy("id").agg(
        *[
            F.expr(
                f"sum(CASE WHEN (shiftrightunsigned(h, {i}) & 1) = 1"
                f" THEN 1 ELSE -1 END) AS v{i}"
            )
            for i in range(64)
        ]
    )
    sh = F.expr(
        "CAST(0 AS BIGINT) + "
        + " + ".join(
            f"shiftleft(CAST(CASE WHEN v{i} > 0 THEN 1 ELSE 0 END AS BIGINT), {i})"
            for i in range(64)
        )
    )
    return votes.select(F.col("id").alias(id_col), sh.alias("sh"))


@register(
    "op88_simhash_neardup",
    oracle=None,  # ROWS: xxhash64 has no DuckDB equiv
    deps=(simhash_signatures,),  # the plan lives in the kernel
)
def op88_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-duplicate pairs: 64-bit signatures, pigeonhole
    banding on 4 × 16-bit chunks (any pair with hamming ≤ 3 must share
    a chunk), exact bit_count verification ≤ 3.

    Signatures via the codegen explode+agg path (simhash_signatures);
    the pair shuffle carries (doc_id, chunk) rows. Verified against
    planted near-dups in tests/test_pipeline_ext.py."""
    d = load_table(spark, sf_dir, "documents")
    sig = simhash_signatures(d)
    chunks = F.array(
        *[
            F.struct(
                F.lit(c).alias("chunk_idx"),
                F.shiftrightunsigned(F.col("sh"), 16 * c)
                .bitwiseAND(F.lit(0xFFFF))
                .alias("chunk_val"),
            )
            for c in range(4)
        ]
    )
    e = sig.select("doc_id", "sh", F.explode(chunks).alias("c")).select(
        "doc_id", "sh", F.col("c.chunk_idx").alias("ci"), F.col("c.chunk_val").alias("cv")
    )
    # Persist the chunk rows (16 bytes × 4 per doc): the self-join would
    # otherwise evaluate the 64-vote signature aggregation TWICE (once
    # per side). At cluster scale this is the materialized signature
    # table every dedup pass reuses.
    e = pool_persist(e)
    l, r = e.alias("l"), e.alias("r")
    return (
        l.join(
            r,
            (F.col("l.ci") == F.col("r.ci"))
            & (F.col("l.cv") == F.col("r.cv"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(
            F.col("l.doc_id").alias("doc_a"),
            F.col("r.doc_id").alias("doc_b"),
            F.bit_count(F.col("l.sh").bitwiseXOR(F.col("r.sh"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= 3)
        .distinct()
    )


# --------------------------------------------------------------- op89

def ngram_jaccard_pairs_ctes(threshold: float, same_source: bool) -> str:
    """ONE template for the oracle-side word-3-gram Jaccard pair
    relation, parameterized exactly like the Spark-side
    ngram_jaccard_pairs below — op89's oracle and op96/op221's
    recursive-CC oracles (components.NEARDUP_CC_CTES) all derive from
    it, so the tokenizer / max-df cap / rounding can never silently
    desynchronize between the three (round-9 review; the same
    single-fold rule the round-8 review applied to the Spark side).
    Returns the CTE chain `toks, grams, capped, sizes, shared, pairs`
    where `pairs` has columns (doc_a, doc_b, jaccard); embed after a
    WITH / WITH RECURSIVE."""
    src_col = ", source" if same_source else ""
    src_join = " AND a.source = b.source" if same_source else ""
    jac = "ROUND(CAST(s.n_shared AS DOUBLE) / (sa.n + sb.n - s.n_shared), 6)"
    return f"""toks AS (
  SELECT doc_id{src_col}, string_split(lower(text), ' ') AS w
  FROM documents
),
grams AS (
  SELECT DISTINCT doc_id{src_col},
         w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS gram
  FROM toks, UNNEST(range(1, len(w) - 1)) AS t(i)
),
capped AS (
  SELECT * FROM grams
  WHERE gram IN (SELECT gram FROM grams GROUP BY gram
                 HAVING COUNT(DISTINCT doc_id) <= 50)
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM capped GROUP BY doc_id),
shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
  FROM capped a JOIN capped b
    ON a.gram = b.gram{src_join} AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT s.doc_a, s.doc_b, {jac} AS jaccard
  FROM shared s
  JOIN sizes sa ON sa.doc_id = s.doc_a
  JOIN sizes sb ON sb.doc_id = s.doc_b
  WHERE {jac} >= {threshold}
)"""


_OP89_SQL = f"""
WITH {ngram_jaccard_pairs_ctes(0.1, same_source=True)}
SELECT doc_a, doc_b, jaccard FROM pairs
"""


def ngram_jaccard_pairs(
    d: DataFrame, threshold: float = 0.1, same_source: bool = True
) -> DataFrame:
    """(doc_a, doc_b, jaccard) for doc pairs whose word-3-gram Jaccard
    ≥ threshold — the EXACT set-overlap near-dup relation (what
    MinHash-LSH approximates). The gram join is blocked two ways: by
    the gram itself (only docs sharing a gram ever meet) and by the
    max-df cap (grams in > 50 docs are dropped — the stop-gram guard
    that keeps the join linear-ish at corpus scale). Threshold applied
    to the 6dp-rounded value so both engines keep identical row sets.
    `same_source` restricts candidate pairs to one source (op89's
    within-crawl scoring); op96/op221 pass False — dedup's whole point
    is catching the same text across crawls (and their crafted test
    frames carry no source column at all, so it is only touched when
    the restriction asks for it)."""
    id_cols = ["doc_id", "source"] if same_source else ["doc_id"]
    w = d.select(*id_cols, tokens(F.col("text")).alias("w"))
    tri = F.array_distinct(
        F.filter(
            F.zip_with(
                F.zip_with(
                    F.col("w"),
                    F.slice(F.col("w"), 2, F.greatest(F.size("w") - 1, F.lit(0))),
                    lambda x, y: F.concat_ws(" ", x, y),
                ),
                F.slice(F.col("w"), 3, F.greatest(F.size("w") - 2, F.lit(0))),
                lambda xy, z: F.concat_ws(" ", xy, z),
            ),
            # keep only complete trigrams (null-padded tails have < 2 spaces)
            lambda s: F.size(F.split(s, " ")) == 3,
        )
    )
    grams = w.select(*id_cols, F.explode(tri).alias("gram"))
    # max-df cap via partial-agged countDistinct + semi join: the old
    # per-gram window collect_set(doc_id) funneled EVERY doc_id of the
    # hottest stop-grams into one window partition and materialized
    # the full set per row-group before discarding it — the exact skew
    # the cap exists to guard against (round-13 review). countDistinct
    # gets map-side partials; the semi join never builds a set.
    allowed = (
        grams.groupBy("gram")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") <= 50)
        .select("gram")
    )
    # persisted: the self-join (a/b) plus the two size joins reference
    # this frame four times per action — unpersisted, the gram explode
    # and the df agg re-evaluate each time (op88's documented trap,
    # round-13 review); the registry pool releases it at the next op.
    capped = pool_persist(grams.join(allowed, "gram", "left_semi"))
    sizes = capped.groupBy("doc_id").agg(F.count("*").alias("n"))
    a, b = capped.alias("a"), capped.alias("b")
    cond = (F.col("a.gram") == F.col("b.gram")) & (
        F.col("a.doc_id") < F.col("b.doc_id")
    )
    if same_source:
        cond = cond & (F.col("a.source") == F.col("b.source"))
    shared = (
        a.join(b, cond)
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_shared"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    jac = F.round(
        F.col("n_shared").cast("double")
        / (F.col("sa.n") + F.col("sb.n") - F.col("n_shared")),
        6,
    )
    return (
        shared.join(F.broadcast(sa), F.col("doc_a") == F.col("sa.doc_id"))
        .join(F.broadcast(sb), F.col("doc_b") == F.col("sb.doc_id"))
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


@register(
    "op89_ngram_jaccard",
    oracle=_OP89_SQL,
    deps=(ngram_jaccard_pairs, ngram_jaccard_pairs_ctes),
)
def op89_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-3-gram Jaccard similarity for same-source doc pairs with
    J ≥ 0.1 — exact set-overlap near-dup scoring (see
    ngram_jaccard_pairs for the blocking design)."""
    return ngram_jaccard_pairs(
        load_table(spark, sf_dir, "documents"), threshold=0.1, same_source=True
    )


# --------------------------------------------------------------- op90

_N_TABLES = 4
_PLANES_PER_TABLE = 8
_DIM = 64
_rng = random.Random(20260813)
_PLANES: list[list[list[int]]] = [
    [[_rng.choice((-1, 1)) for _ in range(_DIM)] for _ in range(_PLANES_PER_TABLE)]
    for _ in range(_N_TABLES)
]


def lsh_neardup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.8,
) -> DataFrame:
    """Random-hyperplane LSH near-dup pairs (Charikar '02), banded:
    4 hash tables × 8 deterministic ±1 hyperplanes. A pair is a
    candidate if it co-buckets in ANY table — for cosine 0.95 the
    candidate probability is ≈ 0.9 vs ≈ 0.004 for a single 16-plane
    table — then exact cosine ≥ threshold verifies.

    Scale: the shuffle carries (id, table, bucket) rows — 4 per vector
    — and the quadratic verify is confined to same-bucket vectors."""
    buckets = []
    for t, table in enumerate(_PLANES):
        b = F.lit(0)
        for i, plane in enumerate(table):
            pl = F.array(*[F.lit(float(s)) for s in plane])
            b = b + F.shiftleft(F.when(_dot(F.col(vec_col), pl) > 0, 1).otherwise(0), i)
        buckets.append(F.struct(F.lit(t).alias("t"), b.alias("b")))
    sig = df.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v"), F.explode(F.array(*buckets)).alias("tb")
    ).select("id", "v", F.col("tb.t").alias("t"), F.col("tb.b").alias("b"))
    # Persist before the self-join: the 32 hyperplane dots per vector
    # are the expensive part, and an unpersisted self-join would
    # compute them TWICE (same trap as op88's signature table —
    # SURVEY.md §4.2.2). 4 rows/vector × (id, vec, table, bucket).
    sig = pool_persist(sig)
    a, b = sig.alias("a"), sig.alias("b")
    sim = F.round(_cosine(F.col("a.v"), F.col("b.v")), 6)
    return (
        a.join(
            b,
            (F.col("a.t") == F.col("b.t"))
            & (F.col("a.b") == F.col("b.b"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"), sim.alias("sim"))
        .filter(F.col("sim") >= threshold)
        .distinct()
    )


@register(
    "op90_embedding_neardup_lsh",
    oracle=None,  # ROWS: LSH is approximate
    deps=(lsh_neardup_pairs,),  # the plan lives in the kernel
)
def op90_embedding_neardup_lsh(
    spark: SparkSession, sf_dir: str, plant: bool | None = None
) -> DataFrame:
    """Embedding-cosine near-dup candidates over the embeddings table
    (banded random-hyperplane LSH → exact cosine ≥ 0.8 verify; see
    lsh_neardup_pairs), augmented with a PLANTED micro-fixture so the
    driver's ROWS row certifies actual near-dup RECOVERY, not just
    clean execution (round-16 verdict item 6 — the raw corpus has no
    pairs above 0.8, max off-diagonal cosine ≈ 0.51 measured, so the
    op used to pass on 0 rows at gate scale).

    SEMANTICS ADDENDUM (part of op90's contract since r16; default
    INVERTED round 18 per round-17 ADVICE low; kept in lockstep with
    the SURVEY §2 row and the rows snapshot): the library/registry
    default is now the FAITHFUL corpus-only answer — a consumer who
    has never heard of the env var gets real workload results, never
    fabricated negative-id rows. The planted recall fixture is opt-in
    (SPARK_GRAFT_OP90_PLANT=1), and the one surface that opts in
    EXPLICITLY is the driver gate (`op90_gate_planted`, wired into
    `__spark_entry__.queries()`), so the driver's ROWS row keeps
    certifying actual near-dup RECOVERY (round-16 verdict item 6)
    while the production-facing default stays faithful.

    Fixture construction: the 4 lowest-vec_id vectors re-enter under
    planted ids -(vec_id)-1 (never collides with the natural
    non-negative ids) as POWER-OF-TWO SCALED copies — ×2 for even
    source ids, ×0.5 for odd. Recovery of all 4 pairs is guaranteed BY
    CONSTRUCTION, not empirically (round-16 ADVICE low: the previous
    +0.02 additive perturbation could in principle flip a hyperplane
    sign at an untested scale factor): multiplying every component by
    2^±1 is exact in IEEE float, so every hyperplane dot product of a
    planted copy is exactly 2^±1 × the source's dot — identical sign,
    identical bucket in every LSH table at ANY corpus size — and
    cosine is exactly 1.0 ≥ 0.8. Expected output: one pair per planted
    vector (sim 1.0), planted id on the id_a side (negative sorts
    first); plant↔other-natural and plant↔plant candidates inherit
    their sources' cosine (< 0.8) and are filtered. The fixture is
    O(1) rows derived from the corpus itself (TakeOrdered-4 scan) —
    nothing changes at 100 TB; the kernel and its scale shape are
    untouched.

    ``plant=None`` (the registered default) reads the env var; the
    driver-gate wrapper passes the decision EXPLICITLY instead of
    mutating process-global environment around the call (r18-verdict
    item 7 — the old set/restore dance was correct for today's eager
    plan build but racy under any concurrent plan construction)."""
    if plant is None:
        plant = os.environ.get("SPARK_GRAFT_OP90_PLANT", "0") == "1"
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    if not plant:
        return lsh_neardup_pairs(emb)
    base = emb.orderBy("vec_id").limit(4)
    planted = base.select(
        (-F.col("vec_id") - 1).alias("vec_id"),
        F.when(
            F.col("vec_id") % 2 == 0,
            F.transform("embedding", lambda x: (x * F.lit(2.0)).cast("float")),
        )
        .otherwise(F.transform("embedding", lambda x: (x * F.lit(0.5)).cast("float")))
        .alias("embedding"),
    )
    return lsh_neardup_pairs(emb.unionByName(planted))


def op90_gate_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-gate surface for op90 (`__spark_entry__.queries()` maps
    the op90 key here, NOT to the registered library default): enables
    the planted recall fixture EXPLICITLY, per round-17 ADVICE low —
    the gate harness opts in, instead of every production consumer
    having to opt out. An explicit SPARK_GRAFT_OP90_PLANT already in
    the environment still wins in either direction (=0 forces the
    faithful corpus answer even through the gate; this wrapper only
    supplies the default the gate wants). The decision is threaded as
    a PARAMETER (r18-verdict item 7) — no process-global env mutation,
    so concurrent plan builds can never observe a foreign plant
    state."""
    env = os.environ.get("SPARK_GRAFT_OP90_PLANT")
    plant = env == "1" if env is not None else True
    return op90_embedding_neardup_lsh(spark, sf_dir, plant=plant)


# --------------------------------------------------------------- op94


@register(
    "op94_doc_fingerprint",
    oracle=None,  # ROWS: xxhash64 not in DuckDB
    deps=(winnow_fingerprints,),  # the plan lives in the kernel
)
def op94_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints per document (rolling 5-gram hash, window
    4): the substring-level dedup sketch. Observables: fingerprint
    count + min/max (the set itself is exercised by the locality tests
    in tests/test_pipeline_ext.py).

    The three observables are read out of ONE let-bound evaluation of
    the fingerprint array (round 19 — three textual references used
    to evaluate the whole winnow chain three times per row under the
    interpreted HOF evaluator; with the doubling steps' own bindings
    this op measured 0.93 s → 0.17 s at sf0.1, values identical)."""
    d = load_table(spark, sf_dir, "documents")
    fp = winnow_fingerprints(F.col("text"))
    s = let_once(
        fp,
        lambda a: F.struct(
            F.size(a).cast("bigint").alias("n_fingerprints"),
            F.array_min(a).alias("fp_min"),
            F.array_max(a).alias("fp_max"),
        ),
    )
    return d.select("doc_id", s.alias("s")).select("doc_id", "s.*")
