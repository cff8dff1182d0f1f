"""Statistics operators: mergeable sketches (HLL, count-min, theta,
Misra-Gries, bottom-k), hypothesis tests and intervals, histograms and
drift, EWMA and windowed time-series features, sampling and ML-data
preparation (splits, folds, feature hashing, negative sampling,
calibration). The forecasting recurrences live in forecast.py.

Sketches are certified as exact bucket counts under engine-portable
hashes.

Package rules: DataFrame/Catalyst only, Python only inside
Arrow-batched pandas kernels (mapInPandas), shuffles carry ids and counters
(never payload text), cross-engine floats quantized to int64 before
any sum or round(6)-stabilized, and outputs canonicalizer-safe
(scalars only, no DECIMAL — tests/test_gate_shape.py).
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from ocdb_server_spark.io import load_table
from ocdb_server_spark.operators._helpers import isum, sql_isum
from ocdb_server_spark.registry import pool_persist, register


# --------------------------------------------------------------------------
# op123: time-decayed engagement (EWMA over a bounded frame)
# --------------------------------------------------------------------------

_DECAY = 0.9
_TAPS = 10  # bounded frame: last 10 events


def _ewma_weights() -> list[float]:
    return [_DECAY**k for k in range(_TAPS)]


_OP123_SQL = f"""
WITH w AS (
  SELECT user_id, event_id, ts, value,
         {' + '.join(
             f"coalesce(lag(value, {k}) OVER "
             f"(PARTITION BY user_id ORDER BY ts, event_id), 0.0) * {w!r}"
             for k, w in enumerate(_ewma_weights())
         )} AS decayed
  FROM events)
SELECT user_id, event_id, ROUND(decayed, 6) AS decayed_value
FROM w
"""


@register("op123_ewma_decay", oracle=_OP123_SQL)
def op123_ewma_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decayed engagement score: for each event, the
    exponentially weighted sum of the user's last 10 event values
    (decay 0.9 per step). Implemented as 10 lag taps with weights
    computed ONCE in Python and injected as identical double literals
    into both engines — no libm pow() at query time, so every product
    and the left-to-right sum are bit-identical IEEE sequences in
    Spark and DuckDB. All 10 lags share ONE user_id window sort (one
    shuffle), and the frame is bounded, so cost stays O(taps × rows)
    at any scale — the recursive-EWMA formulation would need either an
    unbounded frame or per-row state."""
    e = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    decayed = None
    for k, wt in enumerate(_ewma_weights()):
        term = F.coalesce(F.lag("value", k).over(w), F.lit(0.0)) * F.lit(wt)
        decayed = term if decayed is None else decayed + term
    return e.select(
        "user_id", "event_id", F.round(decayed, 6).alias("decayed_value")
    )


# --------------------------------------------------------------------------
# op124: Pareto share (top-decile concentration)
# --------------------------------------------------------------------------

_OP124_SQL = """
WITH spend AS (
  SELECT o_custkey,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS s
  FROM orders GROUP BY o_custkey),
b AS (
  SELECT s, NTILE(10) OVER (ORDER BY s DESC, o_custkey) AS decile
  FROM spend)
SELECT CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(COUNT(*) FILTER (decile = 1) AS BIGINT) AS n_top,
       CAST(CAST(SUM(CASE WHEN decile = 1 THEN s END) AS DOUBLE)
            / CAST(SUM(s) AS DOUBLE) AS DOUBLE) AS top_share
FROM b
"""


@register("op124_pareto_share", oracle=_OP124_SQL)
def op124_pareto_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-concentration analysis: what share of total spend comes
    from the top decile of customers. Per-customer spend aggregates in
    exact decimal (order-independent); the decile assignment is an
    NTILE over (spend DESC, custkey) — the unique tiebreak makes the
    boundary deterministic in both engines; the share is ONE double
    divide of two exact decimal totals. Shape at scale: hash agg on
    custkey + a window over the (small) per-customer aggregate +
    single-row rollup — the window input is |customers|, not |orders|."""
    o = load_table(spark, sf_dir, "orders")
    spend = o.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("s")
    )
    w = W.orderBy(F.col("s").desc(), "o_custkey")
    b = spend.select("s", F.ntile(10).over(w).alias("decile"))
    return b.agg(
        F.count("*").cast("bigint").alias("n_customers"),
        F.count(F.when(F.col("decile") == 1, 1)).cast("bigint").alias("n_top"),
        (
            F.sum(F.when(F.col("decile") == 1, F.col("s"))).cast("double")
            / F.sum("s").cast("double")
        ).cast("double").alias("top_share"),
    )


# --------------------------------------------------------------------------
# op131: daily resample + forward fill
# --------------------------------------------------------------------------

_OP131_SQL = """
WITH spine AS (
  SELECT CAST(g.d AS DATE) AS day
  FROM generate_series(DATE '2024-01-01', DATE '2024-01-30',
                       INTERVAL 1 DAY) AS g(d)),
users AS (SELECT DISTINCT user_id FROM events),
daily AS (
  SELECT user_id, CAST(ts AS DATE) AS day, value,
         ROW_NUMBER() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events),
grid AS (
  SELECT u.user_id, s.day, d.value
  FROM users u CROSS JOIN spine s
  LEFT JOIN (SELECT user_id, day, value FROM daily WHERE rn = 1) d
    ON d.user_id = u.user_id AND d.day = s.day)
SELECT user_id, day,
       last_value(value IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY day
           ROWS UNBOUNDED PRECEDING) AS ffill_value
FROM grid
"""


@register("op131_resample_ffill", oracle=_OP131_SQL)
def op131_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resample each user's event series onto a daily grid and
    forward-fill gaps with the last observed value — the time-series
    regularization every feature store runs before model training.
    The spine generates from a literal range (no source scan), the
    per-day last observation is a row_number dedup, and the fill is
    last_value(IGNORE NULLS) over a user-partitioned window. Carried
    values are untouched doubles (no arithmetic), so cross-engine
    equality is exact. Scale: grid is users × days (not events); the
    fill window shares the user_id partitioning with the dedup — at
    100 TB this is one shuffle on user plus a broadcast of the spine."""
    e = load_table(spark, sf_dir, "events")
    spine = spark.range(0, 30).select(
        F.date_add(F.lit("2024-01-01").cast("date"), F.col("id").cast("int")).alias(
            "day"
        )
    )
    users = e.select("user_id").distinct()
    wd = W.partitionBy("user_id", "day").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    daily = (
        e.select("user_id", F.col("ts").cast("date").alias("day"), "value", "ts", "event_id")
        .withColumn("rn", F.row_number().over(wd))
        .filter(F.col("rn") == 1)
        .select("user_id", "day", "value")
    )
    grid = users.crossJoin(F.broadcast(spine)).join(daily, ["user_id", "day"], "left")
    wf = (
        W.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return grid.select(
        "user_id",
        "day",
        F.last("value", ignorenulls=True).over(wf).alias("ffill_value"),
    )


# --------------------------------------------------------------------------
# op136: deterministic hash sample, k docs per language
# --------------------------------------------------------------------------

_SAMPLE_K = 8
_SAMPLE_SALTS = 16

_OP136_SQL = f"""
SELECT lang, doc_id, rk FROM (
  SELECT lang, doc_id,
         CAST(ROW_NUMBER() OVER (PARTITION BY lang
                                 ORDER BY md5('s' || CAST(doc_id AS VARCHAR)), doc_id)
              AS BIGINT) AS rk
  FROM documents)
WHERE rk <= {_SAMPLE_K}
"""


@register("op136_hash_sample_per_lang", oracle=_OP136_SQL)
def op136_hash_sample_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-per-language corpus sample: rank docs by
    md5(salt || doc_id) within language, keep the first k. Hash-ranked
    sampling is reproducible across runs/engines (no RNG state) and
    uniform in expectation — the standard way to cut eval slices from
    a training corpus.

    Skew note: lang cardinality is tiny (~5), so a direct per-lang
    window would funnel the whole corpus through ~5 tasks at 100 TB.
    Implemented instead as the op112 two-phase top-k: rank within
    (lang, salt-of-16) → keep k per salted group → re-rank the ≤16k
    survivors per lang. Identical result set and ranks, 16× the
    parallelism, and the final window sees ≤16k rows per lang.
    The md5 ranks match DuckDB's because both engines hex-encode
    lowercase and compare as strings."""
    d = load_table(spark, sf_dir, "documents").select(
        "lang",
        "doc_id",
        F.md5(F.concat(F.lit("s"), F.col("doc_id").cast("string")).cast("binary")).alias("h"),
    )
    salted = d.withColumn("salt", F.pmod(F.xxhash64("doc_id"), F.lit(_SAMPLE_SALTS)))
    per_salt = W.partitionBy("lang", "salt").orderBy("h", "doc_id")
    survivors = (
        salted.withColumn("srk", F.row_number().over(per_salt))
        .filter(F.col("srk") <= _SAMPLE_K)
    )
    per_lang = W.partitionBy("lang").orderBy("h", "doc_id")
    return (
        survivors.withColumn("rk", F.row_number().over(per_lang).cast("bigint"))
        .filter(F.col("rk") <= _SAMPLE_K)
        .select("lang", "doc_id", "rk")
    )


# --------------------------------------------------------------------------
# op139: embedding-norm min-max feature scaling per label
# --------------------------------------------------------------------------

_OP139_SQL = """
WITH n AS (
  SELECT vec_id, label,
         ROUND(sqrt(list_sum(list_transform(embedding,
               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS norm_r
  FROM embeddings),
b AS (
  SELECT vec_id, label, norm_r,
         MIN(norm_r) OVER (PARTITION BY label) AS mn,
         MAX(norm_r) OVER (PARTITION BY label) AS mx
  FROM n)
SELECT vec_id, label, norm_r,
       ROUND(CASE WHEN mx = mn THEN 0.0 ELSE (norm_r - mn) / (mx - mn) END, 6)
         AS scaled
FROM b
"""


@register("op139_feature_minmax", oracle=_OP139_SQL)
def op139_feature_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-max scale each embedding's L2 norm within its label group —
    the feature-normalization step before norm-based quality filtering
    or mixture balancing.

    Determinism: the sum-of-squares is a sequential HOF fold in both
    engines, but accumulation strategy isn't contractually identical
    (DuckDB list_sum vs Spark aggregate), so the norm is round(6)'d
    FIRST and all downstream min/max/scale arithmetic runs on the
    rounded value — exact comparisons and one double divide from
    there. Scale: zero shuffle for the fold (per-row JVM codegen, no
    Python), one window shuffle on label; with ~10 labels at 100 TB
    the same two-phase salted min/max as op136 applies (documented,
    not needed for the observable)."""
    e = load_table(spark, sf_dir, "embeddings")
    ss = F.aggregate(
        "embedding",
        F.lit(0.0),
        lambda acc, x: acc + x.cast("double") * x.cast("double"),
    )
    n = e.select("vec_id", "label", F.round(F.sqrt(ss), 6).alias("norm_r"))
    by_label = W.partitionBy("label")
    return (
        n.withColumn("mn", F.min("norm_r").over(by_label))
        .withColumn("mx", F.max("norm_r").over(by_label))
        .select(
            "vec_id",
            "label",
            "norm_r",
            F.round(
                F.when(F.col("mx") == F.col("mn"), F.lit(0.0)).otherwise(
                    (F.col("norm_r") - F.col("mn")) / (F.col("mx") - F.col("mn"))
                ),
                6,
            ).alias("scaled"),
        )
    )


# --------------------------------------------------------------------------
# op144: daily-volume anomaly flags (z-score over exact moments)
# --------------------------------------------------------------------------

_OP144_SQL = """
WITH d AS (
  SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY day),
m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS days,
         CAST(SUM(n) AS BIGINT) AS s1,
         CAST(SUM(n * n) AS BIGINT) AS s2
  FROM d)
SELECT day, n,
       ROUND((n - CAST(s1 AS DOUBLE) / days)
             / sqrt(CAST(s2 AS DOUBLE) / days
                    - (CAST(s1 AS DOUBLE) / days) * (CAST(s1 AS DOUBLE) / days)), 6)
         AS z,
       abs((n - CAST(s1 AS DOUBLE) / days)
           / sqrt(CAST(s2 AS DOUBLE) / days
                  - (CAST(s1 AS DOUBLE) / days) * (CAST(s1 AS DOUBLE) / days))) > 2.0
         AS is_anomaly
FROM d, m
"""


@register("op144_daily_anomaly", oracle=_OP144_SQL)
def op144_daily_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily event-volume z-scores with |z|>2 anomaly flags — the
    ops-monitoring pass over an ingest stream's history.

    Determinism: counts are integers, so s1/s2 are EXACT (bigint sums,
    order-free); mean/variance/z are then identical double expressions
    on identical inputs in both engines — the flag threshold compares
    the unrounded z, and only the reported z is round(6). Plan at
    scale: one day-grain agg, a single-row moment agg off it, broadcast
    back over the day table (never a window over raw events)."""
    e = load_table(spark, sf_dir, "events")
    d = e.groupBy(F.col("ts").cast("date").alias("day")).agg(F.count("*").alias("n"))
    m = d.agg(
        F.count("*").alias("days"),
        F.sum("n").alias("s1"),
        F.sum(F.col("n") * F.col("n")).alias("s2"),
    )
    mean = F.col("s1").cast("double") / F.col("days")
    var = F.col("s2").cast("double") / F.col("days") - mean * mean
    z = (F.col("n") - mean) / F.sqrt(var)
    return d.join(F.broadcast(m)).select(
        "day",
        "n",
        F.round(z, 6).alias("z"),
        (F.abs(z) > 2.0).alias("is_anomaly"),
    )


# --------------------------------------------------------------------------
# op162: PSI distribution drift — each source vs the whole corpus
# --------------------------------------------------------------------------

_PSI_BINS = 12  # n_chars bins of width 50, last bin open-ended


_OP162_SQL = f"""
WITH d AS (
  SELECT source,
         CAST(LEAST(FLOOR(n_chars / 50.0), {_PSI_BINS - 1}) AS BIGINT) AS bin
  FROM documents
),
sb AS (SELECT source, bin, COUNT(*) AS cnt FROM d GROUP BY 1, 2),
srcs AS (SELECT source, SUM(cnt) AS n_s FROM sb GROUP BY 1),
bins AS (SELECT unnest(range(0, {_PSI_BINS})) AS bin),
gb AS (SELECT bin, COUNT(*) AS g_cnt FROM d GROUP BY 1),
tot AS (SELECT COUNT(*) AS n_tot FROM d),
grid AS (
  SELECT s.source, s.n_s, b.bin,
         COALESCE(sb.cnt, 0) AS cnt,
         COALESCE(gb.g_cnt, 0) AS g_cnt,
         t.n_tot
  FROM srcs s CROSS JOIN bins b
  LEFT JOIN sb ON sb.source = s.source AND sb.bin = b.bin
  LEFT JOIN gb ON gb.bin = b.bin
  CROSS JOIN tot t
),
terms AS (
  SELECT source, n_s,
         CAST(FLOOR(
           ((cnt + 0.5) / (n_s + {_PSI_BINS / 2.0})
            - (g_cnt + 0.5) / (n_tot + {_PSI_BINS / 2.0}))
           * LN(((cnt + 0.5) / (n_s + {_PSI_BINS / 2.0}))
                / ((g_cnt + 0.5) / (n_tot + {_PSI_BINS / 2.0})))
           * 1000000000.0 + 0.5)
         AS BIGINT) AS term
  FROM grid
)
SELECT source,
       CAST(MAX(n_s) AS BIGINT) AS n_docs,
       CAST(SUM(term) AS DOUBLE) / 1000000000.0 AS psi
FROM terms GROUP BY source
"""


@register("op162_drift_psi", oracle=_OP162_SQL)
def op162_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of each source's doc-length
    distribution against the whole corpus — the standard drift score
    data-quality monitors alarm on (PSI > 0.2 = significant shift).
    Laplace-smoothed (½ doc per bin) so empty bins are defined; the
    full source×bin grid is materialized so missing bins contribute
    their term instead of silently dropping.

    Cross-engine determinism: per-bin PSI terms are IEEE doubles
    (identical op sequence both engines), quantized floor(x·1e9+0.5)
    into int64 BEFORE the sum so the reduction is exact and
    order-independent (see the term comment below for why
    round-to-decimal is NOT stable). Scale: one shuffle over
    (source,bin) digests; the grid is #sources × 12 rows —
    driver-trivial; the global histogram (12 rows) broadcasts."""
    d = load_table(spark, sf_dir, "documents").select(
        "source",
        F.expr(
            f"cast(least(floor(n_chars / 50.0D), {_PSI_BINS - 1}) as bigint)"
        ).alias("bin"),
    )
    sb = d.groupBy("source", "bin").agg(F.count("*").alias("cnt"))
    srcs = sb.groupBy("source").agg(F.sum("cnt").alias("n_s"))
    bins = spark.range(_PSI_BINS).select(F.col("id").alias("bin"))
    gb = d.groupBy("bin").agg(F.count("*").alias("g_cnt"))
    tot = d.agg(F.count("*").alias("n_tot"))
    grid = (
        srcs.crossJoin(F.broadcast(bins))
        .join(sb, ["source", "bin"], "left")
        .join(F.broadcast(gb), ["bin"], "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_s",
            F.coalesce("cnt", F.lit(0)).alias("cnt"),
            F.coalesce("g_cnt", F.lit(0)).alias("g_cnt"),
            "n_tot",
        )
    )
    half = f"{_PSI_BINS / 2.0}D"
    # Quantize each term with floor(x*1e9 + 0.5) -> BIGINT: every step
    # is a single IEEE double op (identical in both engines — Spark's
    # round() goes through BigDecimal while DuckDB's re-rounds in
    # double, so round-to-decimal is NOT cross-engine stable; this is).
    # PSI terms are >= 0, so floor(+0.5) is plain half-up.  The D
    # suffixes matter: Spark parses bare `0.5` in SQL text as
    # DECIMAL(1,1) (and then runs the whole chain in low-scale decimal
    # arithmetic), while DuckDB's `/` always yields DOUBLE — `0.5D`
    # forces the identical all-double evaluation.
    term = F.expr(
        f"cast(floor(((cnt + 0.5D) / (n_s + {half}) - (g_cnt + 0.5D) / (n_tot + {half}))"
        f" * ln(((cnt + 0.5D) / (n_s + {half}))"
        f" / ((g_cnt + 0.5D) / (n_tot + {half}))) * 1000000000.0D + 0.5D) as bigint)"
    )
    return (
        grid.withColumn("term", term)
        .groupBy("source")
        .agg(
            F.max("n_s").cast("bigint").alias("n_docs"),
            (F.sum("term").cast("double") / 1_000_000_000.0).alias("psi"),
        )
    )


# --------------------------------------------------------------------------
# op163: equi-depth histogram — exact NTILE variant
# --------------------------------------------------------------------------

_NTILES = 16

_OP163_SQL = f"""
WITH t AS (
  SELECT l_extendedprice,
         ntile({_NTILES}) OVER (ORDER BY l_extendedprice, l_orderkey, l_linenumber)
           AS bucket
  FROM lineitem
)
SELECT CAST(bucket AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       MIN(l_extendedprice) AS lo,
       MAX(l_extendedprice) AS hi,
       {sql_isum("l_extendedprice")} AS sum_price
FROM t GROUP BY bucket
"""


@register("op163_equidepth_histogram", oracle=_OP163_SQL)
def op163_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact equi-depth histogram: NTILE(16) over extended price (with
    a unique tiebreak so bucket assignment is deterministic), then
    per-bucket count / bounds / exact fixed-point sum. Equi-depth
    bounds are what a range-partitioner or an optimizer's selectivity
    estimator wants — equal row mass per bucket, unlike op110's fixed-
    width bins.

    Scale caveat, by design: exact global NTILE is a total sort into
    ONE window partition — correct at test scale, and the honest
    yardstick for its approximate twin op107 (approx_percentile), which
    is the 100 TB path (sketch-merge boundaries, no global sort). The
    pairing mirrors op26-exact / op107-approx."""
    li = load_table(spark, sf_dir, "lineitem")
    w = W.orderBy("l_extendedprice", "l_orderkey", "l_linenumber")
    return (
        li.select("l_extendedprice", "l_orderkey", "l_linenumber")
        .withColumn("bucket", F.ntile(_NTILES).over(w).cast("bigint"))
        .groupBy("bucket")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.min("l_extendedprice").alias("lo"),
            F.max("l_extendedprice").alias("hi"),
            isum("l_extendedprice").alias("sum_price"),
        )
    )


# --------------------------------------------------------------------------
# op164: time-weighted average — irregular time series done right
# --------------------------------------------------------------------------

_OP164_SQL = """
WITH e AS (
  SELECT user_id, value, epoch_us(ts) AS ep,
         lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS ep_next
  FROM events
),
iv AS (
  SELECT user_id,
         ep_next - ep AS dt_us,
         CAST(FLOOR(value * 1000.0 + 0.5) AS BIGINT) * (ep_next - ep) AS w
  FROM e WHERE ep_next IS NOT NULL
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_intervals,
       CAST(SUM(dt_us) // 1000000 AS BIGINT) AS covered_sec,
       CAST(SUM(w) AS DOUBLE) / (SUM(dt_us) * 1000) AS twa_value
FROM iv GROUP BY user_id HAVING SUM(dt_us) > 0
"""


@register("op164_time_weighted_avg", oracle=_OP164_SQL)
def op164_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average of a sampled metric per user: each
    observation holds until the next one, so its weight is the µs gap
    to the successor (last observation carries no weight). The correct
    mean for irregularly-sampled series — a plain AVG over-counts busy
    periods; this is the standard fix (cf. op123's EWMA, which decays
    instead of holding).

    Determinism: weights are DECIMAL(18,6) × BIGINT µs products summed
    exactly; the single divide at the end is one IEEE op. Scale: one
    shuffle on user_id shared by the lead() window and the aggregate —
    the 'shuffle once by entity' shape (op121)."""
    e = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    iv = (
        e.select(
            "user_id",
            "value",
            F.unix_micros("ts").alias("ep"),
            F.lead(F.unix_micros("ts")).over(w).alias("ep_next"),
        )
        .filter(F.col("ep_next").isNotNull())
        .select(
            "user_id",
            (F.col("ep_next") - F.col("ep")).alias("dt_us"),
            # Fixed-point milli-value × µs gap, all in int64 (exact,
            # order-free; floor(x*1000+0.5) is IEEE-deterministic in
            # both engines, unlike round-to-decimal).  Overflow bound:
            # per-user Σdt_us telescopes to the stream's time span
            # (~2.6e12 µs) × max milli-value ~1e5 → ~2.6e17 ≪ 2^63.
            (
                F.expr("cast(floor(value * 1000.0D + 0.5D) as bigint)")
                * (F.col("ep_next") - F.col("ep"))
            ).alias("w"),
        )
    )
    return (
        iv.groupBy("user_id")
        .agg(
            F.count("*").cast("bigint").alias("n_intervals"),
            # Integer div on both sides (double-cast would round in
            # DuckDB but truncate in Spark — off-by-one at .5+).
            F.expr("cast(sum(dt_us) div 1000000 as bigint)").alias("covered_sec"),
            # One IEEE divide of two exact int64 sums — deterministic.
            (F.sum("w").cast("double") / (F.sum("dt_us") * 1000)).alias("twa_value"),
            F.sum("dt_us").alias("_dt"),
        )
        .filter(F.col("_dt") > 0)
        .drop("_dt")
    )


# --------------------------------------------------------------------------
# op166: HyperLogLog sketch rollup — mergeable cardinality at every level
# --------------------------------------------------------------------------


@register("op166_hll_sketch_rollup", oracle=None)  # approx by design -> ROWS
def op166_hll_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-user cardinality per event_type AND overall from ONE
    pass over the data: build a Datasketches HLL sketch per type
    (hll_sketch_agg), then hll_union_agg merges the five binary
    sketches into the global estimate — no second scan, no exact
    count-distinct shuffle of raw user_ids.

    THE 100 TB rollup pattern: sketches are tiny (≈2^12 buckets),
    associative, and mergeable, so any hierarchy level re-aggregates
    from stored sketches instead of raw data (contrast op19 exact /
    op20 approx_count_distinct, which both re-scan). Approximate by
    design → ROWS-only check; tests/test_stats.py asserts each
    estimate within 5% of the exact count."""
    e = load_table(spark, sf_dir, "events")
    per_type = e.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    typed = per_type.select(
        F.lit("event_type").alias("level"),
        F.col("event_type").alias("key"),
        F.hll_sketch_estimate("sk").cast("bigint").alias("approx_users"),
    )
    overall = per_type.agg(F.hll_union_agg("sk").alias("sk")).select(
        F.lit("all").alias("level"),
        F.lit("*").alias("key"),
        F.hll_sketch_estimate("sk").cast("bigint").alias("approx_users"),
    )
    return typed.unionAll(overall)


# --------------------------------------------------------------------------
# op170: burst detection — bot/abuse hygiene over a sliding time frame
# --------------------------------------------------------------------------

_BURST_WINDOW_SEC = 21_600  # 6 h trailing
_BURST_K = 3  # >= K events in the window flags a burst

_OP170_SQL = f"""
WITH w AS (
  SELECT user_id,
         COUNT(*) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
                        RANGE BETWEEN {_BURST_WINDOW_SEC * 1_000_000} PRECEDING
                        AND CURRENT ROW) AS burst
  FROM events
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(MAX(burst) AS BIGINT) AS max_burst,
       CAST(COUNT(*) FILTER (burst >= {_BURST_K}) AS BIGINT) AS n_burst_events
FROM w GROUP BY user_id
HAVING MAX(burst) >= {_BURST_K}
"""


@register("op170_burst_detect", oracle=_OP170_SQL)
def op170_burst_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burst/bot detection: for every event, count the user's events
    in the trailing 6 h (a RANGE frame over µs epoch — tie-safe by
    definition: equal timestamps land in the same frame regardless of
    sort order), then surface users whose peak burst reaches 3+. The
    rate-limit shape corpus hygiene uses to drop scripted traffic
    before training-data export (cf. op117 PII, op158 sanitize — this
    is the behavioral filter).

    Scale: one shuffle on user_id shared by the window and the
    aggregate; the frame holds only in-window row counts (Spark's
    range frame keeps a running bound, not the payload)."""
    e = load_table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-_BURST_WINDOW_SEC * 1_000_000, 0)
    )
    return (
        e.select("user_id", F.count("*").over(w).alias("burst"))
        .groupBy("user_id")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.max("burst").cast("bigint").alias("max_burst"),
            F.sum(F.when(F.col("burst") >= _BURST_K, 1).otherwise(0))
            .cast("bigint")
            .alias("n_burst_events"),
        )
        .filter(F.col("max_burst") >= _BURST_K)
    )


# --------------------------------------------------------------------------
# op174: weighted reservoir sample — Efraimidis–Spirakis, deterministic
# --------------------------------------------------------------------------

_RES_K = 50
# Knuth multiplicative hash -> uniform in (0,1): pure int64 arithmetic,
# portable to any engine (same constant sources/pyds.py uses).
_KNUTH = 2654435761
_U32 = 4294967296


def _mulmod32(col: str, mult: int, int_div: str) -> str:
    """(col · mult) mod 2³² with every int64 intermediate < 2⁴⁹ —
    overflow-free under Spark 4's default ANSI mode (and in DuckDB)
    for ANY non-negative int64 col. The naive ``col * mult`` raises
    at runtime once col exceeds ~2⁶³/mult ≈ 4.1e9 — i.e. exactly the
    100 TB-corpus doc_ids these ops are written for.
    Identity: with a = col mod 2³² = hi·2¹⁶ + lo,
    a·m ≡ lo·m + ((hi·m mod 2³²)·2¹⁶)  (mod 2³²); bounds
    lo·m, hi·m < 2¹⁶·2³² = 2⁴⁸. Bit-identical to the naive product
    wherever that product doesn't overflow, so existing oracle hashes
    are unchanged. int_div: the engine's integer-division operator
    ('div' in Spark SQL, '//' in DuckDB)."""
    a = f"(({col}) % {_U32})"
    lo = f"({a} % 65536)"
    hi = f"({a} {int_div} 65536)"
    return (
        f"((({lo} * {mult}) % {_U32}"
        f" + ((({hi} * {mult}) % {_U32}) * 65536) % {_U32}) % {_U32})"
    )


_OP174_SQL = f"""
WITH u AS (
  SELECT doc_id, lang, n_chars,
         ({_mulmod32('doc_id', _KNUTH, '//')} + 1.0) / {_U32 + 1}.0 AS u
  FROM documents
),
k AS (
  SELECT doc_id, lang, n_chars,
         -LN(u) / n_chars AS key
  FROM u WHERE n_chars > 0
),
r AS (
  SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS weight,
         ROW_NUMBER() OVER (ORDER BY key, doc_id) AS rn
  FROM k
)
SELECT doc_id, lang, weight, CAST(rn AS BIGINT) AS rn
FROM r WHERE rn <= {_RES_K}
"""


@register("op174_weighted_sample", oracle=_OP174_SQL)
def op174_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis–Spirakis
    A-ES): each doc draws a deterministic uniform u from a Knuth
    multiplicative hash of its id and gets key = -ln(u)/weight; the k
    smallest keys ARE a weighted sample without replacement. The
    standard way to sample a training subset proportional to length /
    quality weights reproducibly — no RNG state, same sample on every
    run and every cluster size (op99/op136 are the unweighted
    stratified/hash siblings).

    Scale: keys are computed at the scan; the global top-k is
    TakeOrderedAndProject-shaped via row_number (k rows per partition
    feed the final sort — never a full global sort of the corpus).
    All arithmetic is int64 + two IEEE double ops (ln, divide) —
    cross-engine exact, no quantization needed."""
    d = load_table(spark, sf_dir, "documents")
    u = F.expr(
        f"({_mulmod32('doc_id', _KNUTH, 'div')} + 1.0D) / {_U32 + 1}.0D"
    )
    k = (
        d.filter(F.col("n_chars") > 0)
        .select(
            "doc_id",
            "lang",
            F.col("n_chars").cast("bigint").alias("weight"),
            (-F.log(u) / F.col("n_chars")).alias("key"),
        )
    )
    w = W.orderBy("key", "doc_id")
    return (
        k.withColumn("rn", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rn") <= _RES_K)
        .drop("key")
    )


# --------------------------------------------------------------------------
# op176: train/val/test split — deterministic hash assignment + stats
# --------------------------------------------------------------------------

# xxhash-family odd prime, deliberately different from op174's Knuth
# constant so the two assignments are decorrelated.
_SPLIT_MULT = 2246822519


_OP176_SQL = f"""
WITH a AS (
  SELECT doc_id, lang, n_chars,
         length(text) - length(replace(text, ' ', '')) + 1 AS n_tokens,
         {_mulmod32('doc_id', _SPLIT_MULT, '//')} AS h
  FROM documents
),
s AS (
  SELECT CASE WHEN h % 100 < 98 THEN 'train'
              WHEN h % 100 = 98 THEN 'val'
              ELSE 'test' END AS split,
         n_chars, n_tokens
  FROM a
)
SELECT split,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
FROM s GROUP BY split
"""


@register("op176_train_val_split", oracle=_OP176_SQL)
def op176_train_val_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 98/1/1 train/val/test assignment by multiplicative
    hash of doc_id, with per-split volume stats — the last step before
    every training export, and the one that must NEVER depend on row
    order, partitioning, or cluster size (a doc's split is a pure
    function of its id, so re-runs and backfills land identically;
    contrast op99's stratified fractions). Uses a different hash
    constant than op174's sampler so sampling and splitting are
    decorrelated.

    Scale: pure map-side arithmetic + one 3-group agg; nothing but
    (split, counters) ever shuffles."""
    d = load_table(spark, sf_dir, "documents")
    nt = F.expr("length(text) - length(replace(text, ' ', '')) + 1")
    h = F.expr(_mulmod32("doc_id", _SPLIT_MULT, "div"))
    split = (
        F.when(h % 100 < 98, F.lit("train"))
        .when(h % 100 == 98, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return (
        d.select(
            split.alias("split"),
            F.col("n_chars"),
            nt.cast("bigint").alias("n_tokens"),
        )
        .groupBy("split")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        )
    )


# --------------------------------------------------------------------------
# op185: Misra-Gries heavy hitters — bounded-memory sketch + exact verify
# --------------------------------------------------------------------------

_MG_K = 32           # counters per partition sketch (memory bound)
_MG_PHI_DEN = 30     # report words with count > total/30 (phi ≈ 3.3%)

_OP185_SQL = f"""
WITH w AS (
  SELECT unnest(string_split(text, ' ')) AS word FROM documents
),
f AS (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS n
  FROM w WHERE word <> '' GROUP BY word
),
t AS (SELECT SUM(n) AS total FROM f)
SELECT word, n
FROM f, t
WHERE n > total / {_MG_PHI_DEN}.0
"""


def _mg_sketch_batches(it):
    """Misra-Gries over a stream of Arrow batches of words: at most
    _MG_K counters live at any moment (decrement-all when full — the
    classic 1982 algorithm). Runs once per PARTITION (the generator
    sees all of a partition's batches), emits the surviving counters.
    Guarantee: any word with true partition count > n_part/( _MG_K+1 )
    survives, so the union over partitions is a SUPERSET of every
    global phi-heavy word for phi ≥ 1/(_MG_K+1)."""
    import pandas as pd

    counters: dict[str, int] = {}
    for batch in it:
        for word in batch["word"]:
            if word in counters:
                counters[word] += 1
            elif len(counters) < _MG_K:
                counters[word] = 1
            else:
                dead = []
                for k in counters:
                    counters[k] -= 1
                    if counters[k] == 0:
                        dead.append(k)
                for k in dead:
                    del counters[k]
    yield pd.DataFrame(
        {"word": list(counters), "lb": [counters[k] for k in counters]}
    )


@register("op185_heavy_hitters_mg", oracle=_OP185_SQL)
def op185_heavy_hitters_mg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phi-heavy-hitters (words with > total/30 of all token
    occurrences) computed the bounded-memory way: a Misra-Gries sketch
    pass (≤32 counters per partition, Arrow-batched mapInPandas over
    JVM-exploded words — the custom-sketch surface: Spark has no MG
    aggregate) yields a small CANDIDATE set guaranteed to contain
    every phi-heavy word; an exact second pass counts ONLY candidates
    (broadcast semi-join, so the verify shuffle carries candidate
    words, never the corpus vocab) and applies the threshold. Sketch
    candidates depend on partition layout; the final exact filter
    makes the OUTPUT layout-independent — which is why this op can
    carry a full SQL oracle while op20/op166 stay ROWS.

    At 100 TB the two-pass shape is the standard heavy-hitters recipe
    (sketch → verify); the sketch pass is the only Python here, one
    dict of ≤32 ints per partition.
    tests/test_stats.py stresses the superset guarantee on a
    500-word Zipf corpus where vocab ≫ counters."""
    d = load_table(spark, sf_dir, "documents")
    words = d.select(F.explode(F.split("text", " ")).alias("word")).filter(
        F.col("word") != ""
    )
    cands = (
        words.mapInPandas(_mg_sketch_batches, "word string, lb long")
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
    return exact.crossJoin(F.broadcast(total)).filter(
        F.col("n") > F.col("total") / _MG_PHI_DEN
    ).select("word", "n")


# --------------------------------------------------------------------------
# op188: partition-skew diagnosis — the report behind every salting fix
# --------------------------------------------------------------------------

_SKEW_BUCKETS = 32
_SKEW_MULT = 2654435761  # op174's Knuth constant, same overflow-free mulmod


def _bucket_sql(col: str, int_div: str) -> str:
    return f"({_mulmod32(col, _SKEW_MULT, int_div)} % {_SKEW_BUCKETS})"


_OP188_SQL = f"""
WITH b AS (
  SELECT {_bucket_sql('o_custkey', '//')} AS bucket FROM orders
),
c AS (
  SELECT CAST(bucket AS BIGINT) AS bucket,
         CAST(COUNT(*) AS BIGINT) AS n_rows
  FROM b GROUP BY bucket
),
t AS (
  SELECT CAST(SUM(n_rows) AS BIGINT) AS total,
         CAST(MAX(n_rows) AS BIGINT) AS max_rows
  FROM c
)
SELECT c.bucket, c.n_rows,
       CAST(FLOOR(CAST(c.n_rows AS DOUBLE) * {_SKEW_BUCKETS}
                  / t.total * 1000000.0 + 0.5) AS BIGINT) AS load_ppm_of_even,
       c.n_rows = t.max_rows AS is_hottest
FROM c, t
"""


@register("op188_skew_diagnosis", oracle=_OP188_SQL)
def op188_skew_diagnosis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-bucket load report for a prospective shuffle key: hash
    o_custkey into 32 buckets (the engine-portable _mulmod32 hash, so
    the oracle sees identical buckets) and report each bucket's row
    count, its load relative to a perfectly even spread (ppm of even
    share, quantized), and whether it is the hottest bucket — the
    diagnosis that decides BETWEEN plain hash join, op167's salting,
    and AQE skew splitting before anyone pays for a failed shuffle.
    On uniform TPC-H keys every bucket sits near 1,000,000 ppm; a
    web-corpus host key would show the 10-100× hot bucket this report
    exists to catch.

    Scale: one map-side-partial agg to 32 rows + a 2-row broadcast
    total — the report costs one scan regardless of table size."""
    o = load_table(spark, sf_dir, "orders")
    b = o.select(F.expr(_bucket_sql("o_custkey", "div")).alias("bucket"))
    c = b.groupBy(F.col("bucket").cast("bigint").alias("bucket")).agg(
        F.count("*").cast("bigint").alias("n_rows")
    )
    t = c.agg(
        F.sum("n_rows").cast("bigint").alias("total"),
        F.max("n_rows").cast("bigint").alias("max_rows"),
    )
    return c.crossJoin(F.broadcast(t)).select(
        "bucket",
        "n_rows",
        F.expr(
            f"cast(floor(cast(n_rows as double) * {_SKEW_BUCKETS}"
            " / total * 1000000.0D + 0.5D) as bigint)"
        ).alias("load_ppm_of_even"),
        (F.col("n_rows") == F.col("max_rows")).alias("is_hottest"),
    )


# --------------------------------------------------------------------------
# op201: bottom-k quantile sketch — mergeable, deterministic, bounded
# --------------------------------------------------------------------------

_BK_K = 64  # sketch size per level


@register("op201_bottomk_quantile_sketch", oracle=None)  # ROWS: xxhash-based
def op201_bottomk_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile estimation via BOTTOM-K sketches (Cohen &
    Kaplan's bottom-k sampling, public method) — the quantile member
    of the mergeable family the round-4/5 notes kept asking for
    (op166 HLL=cardinality, op194 MinHash=similarity, this=quantiles):
    each event_type keeps the 64 rows with the SMALLEST xxhash64(id)
    tags — a deterministic uniform sample, because the hash order is
    independent of the value — and the union of per-type sketches,
    re-cut to its 64 smallest tags, IS exactly the global bottom-k
    sketch (merge = union + cut; tested against the direct global
    computation). Per level the op reports the sketch-estimated
    median and quartiles of `value`.

    Exact-pass contrast: op26/op107 re-scan raw data per level; a
    stored 64-row sketch re-aggregates any hierarchy level in O(k).
    Accuracy: a 64-point uniform sample's median sits within ±0.13 of
    the true CDF position w.h.p. — gated in tests (estimated median's
    true rank within [0.30, 0.70]).

    ROWS-oracle: hash-based sampling has no DuckDB twin (op79's
    rationale); determinism + merge algebra + accuracy are pinned in
    tests/test_stats.py instead."""
    from pyspark.sql import Window as _W

    e = load_table(spark, sf_dir, "events").select(
        "event_type", "value", F.xxhash64("event_id").alias("tag")
    )
    w_type = _W.partitionBy("event_type").orderBy("tag")
    per_type_sk = (
        e.withColumn("rn", F.row_number().over(w_type))
        .filter(F.col("rn") <= _BK_K)
        .drop("rn")
    )

    def level_stats(sk: DataFrame, level_col, key_col) -> DataFrame:
        return sk.groupBy(
            level_col.alias("level"), key_col.alias("key")
        ).agg(
            F.count("*").cast("bigint").alias("k"),
            F.expr("percentile(value, 0.25)").alias("est_p25"),
            F.expr("percentile(value, 0.5)").alias("est_p50"),
            F.expr("percentile(value, 0.75)").alias("est_p75"),
        )
    typed = level_stats(per_type_sk, F.lit("event_type"), F.col("event_type"))
    # merge: union of per-type sketches, re-cut to the k smallest tags
    w_all = _W.orderBy("tag")
    merged = (
        per_type_sk.withColumn("rn", F.row_number().over(w_all))
        .filter(F.col("rn") <= _BK_K)
        .drop("rn")
    )
    overall = level_stats(merged, F.lit("all"), F.lit("*"))
    return typed.unionAll(overall).select(
        "level",
        "key",
        "k",
        F.round("est_p25", 6).alias("est_p25"),
        F.round("est_p50", 6).alias("est_p50"),
        F.round("est_p75", 6).alias("est_p75"),
    )


# --------------------------------------------------------------------------
# op214: ranking-quality AUC — tie-corrected Mann-Whitney, integer-exact
# --------------------------------------------------------------------------

_OP214_SQL = """
WITH scored AS (
  SELECT n_chars AS score,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
  FROM documents),
by_score AS (
  SELECT score,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(pos) AS BIGINT) AS n_pos_g
  FROM scored GROUP BY score),
ranked AS (
  SELECT score, n, n_pos_g,
         COALESCE(SUM(n) OVER (ORDER BY score
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
  FROM by_score),
tot AS (
  SELECT CAST(SUM(n_pos_g) AS BIGINT) AS n_pos,
         CAST(SUM(n - n_pos_g) AS BIGINT) AS n_neg,
         CAST(SUM(n_pos_g * (2 * (before + 1) + (n - 1))) AS BIGINT) AS r2_pos
  FROM ranked)
SELECT n_pos, n_neg,
       r2_pos - n_pos * (n_pos + 1) AS u2,
       CAST(r2_pos - n_pos * (n_pos + 1) AS DOUBLE)
         / CAST(2 * n_pos * n_neg AS DOUBLE) AS auc
FROM tot
"""


@register("op214_auc_ranksum", oracle=_OP214_SQL)
def op214_auc_ranksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-quality AUC via the tie-corrected Mann-Whitney rank
    sum — the "does this score actually separate the classes"
    measurement a quality-filter pipeline runs before gating a corpus
    on a classifier (here: does document length separate en from
    non-en — AUC ≈ 0.5 says no, as designed for this corpus).

    Scale shape: the naive formulation ranks every row in one GLOBAL
    window (a total sort of the corpus). This one aggregates to the
    DISTINCT-SCORE table first (bounded: a score is a bucketed
    measurement, here ≤ ~600 values), runs the cumulative window over
    those few rows, and weights each group's tie-averaged rank by its
    positive count — one scan + one tiny window, no global sort of
    rows. Integer discipline: tie-averaged ranks kept in HALVED units
    (avg_rank·2 = 2·min_rank + (ties−1) — always integral), so U is
    exact int64 algebra and the only float is the final single
    division (exact ints → IEEE double, bit-identical both engines).

    AUC = [Σ_pos avg_rank − n_pos(n_pos+1)/2] / (n_pos·n_neg)."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents").select(
        F.col("n_chars").alias("score"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("pos"),
    )
    by_score = d.groupBy("score").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("pos").cast("bigint").alias("n_pos_g"),
    )
    # window over DISTINCT scores only — the documented bounded
    # exception to the no-unpartitioned-window rule (op178's metadata
    # argument: cardinality is the score's codomain, not the corpus)
    w = Window.orderBy("score").rowsBetween(Window.unboundedPreceding, -1)
    ranked = by_score.withColumn(
        "before", F.coalesce(F.sum("n").over(w), F.lit(0))
    )
    tot = ranked.agg(
        F.sum("n_pos_g").cast("bigint").alias("n_pos"),
        F.sum(F.col("n") - F.col("n_pos_g")).cast("bigint").alias("n_neg"),
        F.sum(
            F.col("n_pos_g")
            * (2 * (F.col("before") + 1) + (F.col("n") - 1))
        )
        .cast("bigint")
        .alias("r2_pos"),
    )
    u2 = F.col("r2_pos") - F.col("n_pos") * (F.col("n_pos") + 1)
    return tot.select(
        "n_pos",
        "n_neg",
        u2.alias("u2"),
        (
            u2.cast("double")
            / (2 * F.col("n_pos") * F.col("n_neg")).cast("double")
        ).alias("auc"),
    )


# --------------------------------------------------------------------------
# op215: count-min sketch point queries — mergeable counters, SQL-certified
# --------------------------------------------------------------------------

_CMS_W = 64  # width (buckets per row)
# depth-3 row hashes: Knuth's multiplicative constant + the two public
# xxhash32 primes — any odd multipliers decorrelate; these are the ones
# already used elsewhere in the package (op174) and in sources/pyds.py.
_CMS_MULTS = (2654435761, 2246822519, 3266489917)
# word -> integer key, portable across engines: first 24 bits of md5.
# Spark: conv(hex, 16, 10); DuckDB: '0x'-prefixed cast. Verified equal.
_CMS_KEY_SPARK = "cast(conv(substr(md5(word), 1, 6), 16, 10) as bigint)"
_CMS_KEY_DUCK = "('0x' || substr(md5(word), 1, 6))::BIGINT"
_CMS_PROBES = ("spark", "batch", "window", "vector", "the", "nonexistentword")


def _cms_bucket(key_expr: str, mult: int, int_div: str) -> str:
    return f"({_mulmod32(key_expr, mult, int_div)} % {_CMS_W})"


def _cms_py_bucket(word: str, mult: int) -> int:
    """The SAME key → row-hash → bucket arithmetic as _cms_bucket,
    evaluated driver-side on a literal probe word (md5 is stable
    across engines; the modular arithmetic is exact in Python ints,
    so this is bit-identical to what either engine computes)."""
    import hashlib

    key = int(hashlib.md5(word.encode()).hexdigest()[:6], 16)
    return ((key * mult) % 4294967296) % _CMS_W


def _op215_buckets_duck(src: str) -> str:
    """UNION ALL of the depth rows: (r, bucket, word) drawn from src —
    every branch carries its own FROM (a shared trailing FROM binds to
    the last branch only; learned the hard way building this op)."""
    return "\nUNION ALL\n".join(
        f"SELECT {r} AS r, {_cms_bucket(_CMS_KEY_DUCK, m, '//')} AS b, word"
        f" FROM {src}"
        for r, m in enumerate(_CMS_MULTS)
    )


def _op215_sql() -> str:
    probes = ", ".join(f"('{w}')" for w in _CMS_PROBES)
    return f"""
WITH toks AS (
  SELECT unnest(string_split(text, ' ')) AS word FROM documents),
w AS (SELECT word FROM toks WHERE word <> ''),
counters AS (
  SELECT r, b, CAST(COUNT(*) AS BIGINT) AS c
  FROM ({_op215_buckets_duck('w')}) GROUP BY r, b),
probes(word) AS (VALUES {probes}),
probe_buckets AS (
  {_op215_buckets_duck('probes')}),
est AS (
  -- LEFT join + COALESCE 0: an EMPTY probe cell is a zero counter
  -- (true CMS semantics — est is then 0 no matter what the other
  -- rows hold). An inner join would silently drop empty cells and
  -- take MIN over the non-empty ones only, diverging from the
  -- Spark side on token-sparse corpora.
  SELECT pb.word, MIN(COALESCE(c.c, 0)) AS est
  FROM probe_buckets pb LEFT JOIN counters c ON pb.r = c.r AND pb.b = c.b
  GROUP BY pb.word),
exact AS (
  SELECT p.word, CAST(COUNT(w.word) AS BIGINT) AS exact_n
  FROM probes p LEFT JOIN w ON w.word = p.word
  GROUP BY p.word)
SELECT e.word, COALESCE(est.est, 0) AS cms_est, e.exact_n,
       COALESCE(est.est, 0) - e.exact_n AS overcount
FROM exact e LEFT JOIN est ON e.word = est.word
"""


@register("op215_cms_pointquery", oracle=_op215_sql())
def op215_cms_pointquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT-MIN SKETCH (Cormode–Muthukrishnan) frequency estimates
    for a fixed probe set, with the exact counts and the (provably
    ≥ 0) overcount alongside — completing the mergeable-summary
    family: HLL=cardinality (op166), MinHash=similarity (op194),
    bottom-k=quantiles (op201), Misra-Gries=heavy hitters (op185),
    CMS=point frequencies.

    Why this sketch is FULLY SQL-certified where op166 stays ROWS:
    CMS counters are themselves exact aggregates — counter[r][b] =
    COUNT(*) of tokens whose row-r hash lands in bucket b — under an
    engine-portable hash (24-bit md5 prefix → _mulmod32 row mixes).
    So the whole sketch state AND the min-over-rows estimates are
    deterministic relational algebra, and the driver hash certifies
    build + merge + probe end to end.

    Merge = Spark's own partial aggregation — and because the probe
    set is known at PLAN time, the sketch build folds further: the
    probes' (row, bucket) cells are computed driver-side (same md5 →
    _mulmod32 arithmetic, evaluated in Python on the literal words),
    so the whole op is 6×(3 cell counts + 1 exact count) = 24
    conditional aggregates over ONE token scan. Each map task emits a
    single 24-counter partial row (that partial row IS the probed
    slice of its partition's sketch; the union is the final reduce),
    the exchange carries #tasks rows total, and a trailing `stack`
    unpivots the 1-row result to the 6-row answer. One scan, one
    tiny shuffle, zero joins — vs. the round-6 shape's two scans +
    counter/probe/exact three-join cascade (~300 ms of stage floor
    at every sf; round-7 bench profile). Materializing the full
    192-cell sketch for AD-HOC probes is the op174 pattern; this op
    certifies the point-query path where probes are literals.

    Estimate guarantee (est ≥ exact; est ≤ exact + εN w.h.p.) is
    asserted in tests/test_stats.py."""
    docs = load_table(spark, sf_dir, "documents")
    toks = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
    )
    # one projection computes the depth-3 bucket of every token once;
    # the 24 conditional counts below all compare against literals
    bucketed = toks.selectExpr(
        "word",
        *[
            f"{_cms_bucket(_CMS_KEY_SPARK, m, 'div')} as b{r}"
            for r, m in enumerate(_CMS_MULTS)
        ],
    )
    aggs = []
    for i, w in enumerate(_CMS_PROBES):
        for r, m in enumerate(_CMS_MULTS):
            cell = _cms_py_bucket(w, m)
            aggs.append(
                F.count(F.when(F.col(f"b{r}") == cell, True)).alias(
                    f"c_{i}_{r}"
                )
            )
        aggs.append(F.count(F.when(F.col("word") == w, True)).alias(f"x_{i}"))
    one = bucketed.agg(*aggs)
    branches = ", ".join(
        f"'{w}', cast(least(c_{i}_0, c_{i}_1, c_{i}_2) as bigint),"
        f" cast(x_{i} as bigint)"
        for i, w in enumerate(_CMS_PROBES)
    )
    return one.selectExpr(
        f"stack({len(_CMS_PROBES)}, {branches}) as (word, cms_est, exact_n)"
    ).select(
        "word",
        "cms_est",
        "exact_n",
        (F.col("cms_est") - F.col("exact_n")).cast("bigint").alias("overcount"),
    )


# --------------------------------------------------------------------------
# op224: feature hashing (the hashing trick) — integer-exact sparse pooling
# --------------------------------------------------------------------------

_FH_BUCKETS = 32
_FH_MULT = 2654435761  # Knuth; bucket = mulmod32(key) % B, sign from bit 16


def _fh_exprs(key_expr: str, int_div: str) -> tuple[str, str]:
    """(bucket, sign) expressions over an integer key — engine-portable:
    bucket from the low bits of the mixed hash, sign from a mid bit
    (bit 16) so bucket and sign are decorrelated."""
    mixed = _mulmod32(key_expr, _FH_MULT, int_div)
    bucket = f"({mixed} % {_FH_BUCKETS})"
    sign = f"(CASE WHEN ({mixed} {int_div} 65536) % 2 = 0 THEN 1 ELSE -1 END)"
    return bucket, sign


def _op224_sql() -> str:
    key = "('0x' || substr(md5(word), 1, 6))::BIGINT"
    bucket, sign = _fh_exprs(key, "//")
    return f"""
WITH toks AS (
  SELECT lang, unnest(string_split(text, ' ')) AS word FROM documents),
w AS (SELECT lang, word FROM toks WHERE word <> '')
SELECT lang, CAST({bucket} AS INTEGER) AS bucket,
       CAST(SUM({sign}) AS BIGINT) AS value,
       CAST(COUNT(*) AS BIGINT) AS n_tokens
FROM w GROUP BY lang, bucket
"""


@register("op224_feature_hashing", oracle=_op224_sql())
def op224_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FEATURE HASHING (the hashing trick, Weinberger 2009): token
    features pooled into a FIXED 32-dim signed sparse vector per
    language — the no-vocabulary featurization that makes streaming /
    unbounded-cardinality features trainable (no dictionary build, no
    OOV, memory fixed at B buckets). The signed hash keeps pooled
    sums unbiased (E[collision contribution] = 0).

    Engine-portable end to end: token → 24-bit md5 key (op215's
    idiom) → _mulmod32 mix → bucket from low bits, SIGN from bit 16
    (decorrelated), ±1 sums in int64 — deterministic algebra, full
    SQL oracle. Scale: one explode + one map-side-combined groupBy to
    (groups × 32) rows; the pooled vector never exceeds B entries
    per group no matter the vocabulary."""
    docs = load_table(spark, sf_dir, "documents")
    toks = (
        docs.select("lang", F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
    )
    bucket, sign = _fh_exprs(_CMS_KEY_SPARK, "div")
    return (
        toks.selectExpr(
            "lang", f"cast({bucket} as int) as bucket", f"{sign} as sgn"
        )
        .groupBy("lang", "bucket")
        .agg(
            F.sum("sgn").cast("bigint").alias("value"),
            F.count("*").cast("bigint").alias("n_tokens"),
        )
    )


# --------------------------------------------------------------------------
# op225: temporal train/test split + cold-start leakage audit
# --------------------------------------------------------------------------

_TSPLIT_CUT = "2024-01-20 00:00:00"  # events span Jan 2024: ~2/3 train, 1/3 test


_OP225_SQL = f"""
WITH tagged AS (
  SELECT user_id, event_type,
         CASE WHEN ts < TIMESTAMP '{_TSPLIT_CUT}' THEN 'train' ELSE 'test' END
           AS split
  FROM events),
train_users AS (
  SELECT DISTINCT user_id FROM tagged WHERE split = 'train')
SELECT t.event_type,
       CAST(SUM(CASE WHEN t.split = 'train' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_train,
       CAST(SUM(CASE WHEN t.split = 'test' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_test,
       CAST(SUM(CASE WHEN t.split = 'test'
                      AND tu.user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_cold_start
FROM tagged t LEFT JOIN train_users tu ON t.user_id = tu.user_id
GROUP BY t.event_type
"""


@register("op225_temporal_split", oracle=_OP225_SQL)
def op225_temporal_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEMPORAL train/test split + cold-start audit — op176's
    hash-split sibling for the time-ordered case: evaluation on
    future data demands a time cutoff, and the first thing to audit
    is COLD-START leakage (test rows from users the train window
    never saw — the rows a per-user model cannot score). Reports per
    event_type: train rows, test rows, cold-start test rows.

    Scale: one scan + one distinct on user_id + one left join keyed
    on user_id (broadcast when the train-user set is small, shuffle
    otherwise — Catalyst's call) + one agg. The cutoff predicate on a
    time-partitioned lake table prunes partitions on both sides."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.when(F.col("ts") < F.lit(_TSPLIT_CUT).cast("timestamp"), "train")
        .otherwise("test")
        .alias("split"),
    )
    train_users = (
        ev.filter("split = 'train'").select("user_id").distinct()
        .withColumn("seen", F.lit(1))
    )
    return (
        ev.join(train_users, "user_id", "left")
        .groupBy("event_type")
        .agg(
            F.sum(F.when(F.col("split") == "train", 1).otherwise(0))
            .cast("bigint")
            .alias("n_train"),
            F.sum(F.when(F.col("split") == "test", 1).otherwise(0))
            .cast("bigint")
            .alias("n_test"),
            F.sum(
                F.when(
                    (F.col("split") == "test") & F.col("seen").isNull(), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_cold_start"),
        )
    )


# --------------------------------------------------------------------------
# op227: score calibration bins (reliability diagram) — integer-exact
# --------------------------------------------------------------------------

_CAL_BINS = 10

_OP227_SQL = f"""
WITH scored AS (
  SELECT n_chars,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
  FROM documents),
rng AS (SELECT MIN(n_chars) AS lo, MAX(n_chars) AS hi FROM scored),
binned AS (
  SELECT LEAST(({_CAL_BINS} * (s.n_chars - r.lo))
                    // (r.hi - r.lo + 1), {_CAL_BINS - 1}) AS bin,
         s.pos
  FROM scored s CROSS JOIN rng r)
SELECT CAST(bin AS INTEGER) AS bin,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(pos) AS BIGINT) AS n_pos,
       CAST(SUM(pos) AS DOUBLE) / COUNT(*) AS pos_rate
FROM binned GROUP BY bin
"""


@register("op227_calibration_bins", oracle=_OP227_SQL)
def op227_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score CALIBRATION bins (reliability diagram): equal-width
    score bins × observed positive rate — with op214's AUC this
    completes the pre-gating evaluation pair every quality-classifier
    deployment runs (AUC says the score RANKS; calibration says the
    score's VALUE means what a threshold assumes).

    Integer discipline: bin = floor(B·(x−lo) / (hi−lo+1)) in exact
    integer arithmetic (the +1 keeps the max in the last bin without
    a float epsilon), min/max broadcast from a 1-row aggregate;
    pos_rate is one exact-int IEEE division per bin. Scale: two scans
    (stats + binning — a cached/known-stats table makes it one) and
    a B-row aggregate; nothing shuffles but the bin partials."""
    d = load_table(spark, sf_dir, "documents").select(
        F.col("n_chars").alias("score"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("pos"),
    )
    rng = d.agg(
        F.min("score").alias("lo"), F.max("score").alias("hi")
    )
    binned = d.crossJoin(F.broadcast(rng)).select(
        F.least(
            F.expr(
                f"cast(({_CAL_BINS} * (score - lo)) div (hi - lo + 1) as bigint)"
            ),
            F.lit(_CAL_BINS - 1),
        ).alias("bin"),
        "pos",
    )
    return binned.groupBy(F.col("bin").cast("int").alias("bin")).agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("pos").cast("bigint").alias("n_pos"),
        (F.sum("pos").cast("double") / F.count("*")).alias("pos_rate"),
    )


# --------------------------------------------------------------------------
# op229: deterministic negative sampling — contrastive-pair construction
# --------------------------------------------------------------------------

_NEG_K = 3
_NEG_PRIME = 40503  # odd step decorrelated from the Knuth constant


def _op229_sql() -> str:
    ks = ", ".join(str(i) for i in range(_NEG_K))
    mixed = _mulmod32(f"(d.doc_id * {_NEG_K} + t.i)", _KNUTH, "//")
    return f"""
WITH n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
cand AS (
  SELECT d.doc_id, d.lang, t.i,
         ({mixed} + {_NEG_PRIME} * t.i) % n.n_docs AS raw_neg
  FROM documents d CROSS JOIN n, (SELECT unnest([{ks}]) AS i) t),
pairs AS (
  SELECT c.doc_id, c.lang, c.i,
         CASE WHEN c.raw_neg = c.doc_id
              THEN (c.raw_neg + 1) % n.n_docs
              ELSE c.raw_neg END AS neg_id
  FROM cand c CROSS JOIN n)
SELECT p.lang, d2.lang AS neg_lang,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(d2.n_chars) AS BIGINT) AS sum_neg_chars
FROM pairs p JOIN documents d2 ON p.neg_id = d2.doc_id
GROUP BY p.lang, neg_lang
"""


@register("op229_negative_sampling", oracle=_op229_sql())
def op229_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic NEGATIVE SAMPLING for contrastive training: each
    document draws k=3 pseudo-random negatives by pure hash
    arithmetic (mulmod32 mix + decorrelated per-slot stride, mod
    corpus size, self-collision bumped) — reproducible across
    re-runs, partitionings and cluster sizes (op176's property,
    extended to PAIR construction), so a training job can rebuild
    the exact pair set from ids alone, no stored pair table.

    Requires contiguous 0..n-1 doc_ids (true of this corpus; a real
    deployment first densifies ids — op98's shard-assign does
    exactly that mapping). Plan: the only data motion is the join of
    (doc_id, neg_id) pairs to the docs table on neg_id — k rows per
    doc, shuffle carries ids; certified via the per-(lang, neg_lang)
    pair-mix aggregate, which any mis-draw perturbs."""
    docs = load_table(spark, sf_dir, "documents")
    n = docs.count()  # scalar corpus size: bounded driver value (like op95's K)
    slots = spark.range(_NEG_K).select(F.col("id").cast("int").alias("i"))
    mixed = _mulmod32(f"(doc_id * {_NEG_K} + i)", _KNUTH, "div")
    cand = (
        docs.select("doc_id", "lang")
        .crossJoin(F.broadcast(slots))
        .selectExpr(
            "doc_id",
            "lang",
            "i",
            f"({mixed} + {_NEG_PRIME} * i) % {n} as raw_neg",
        )
        .selectExpr(
            "doc_id",
            "lang",
            "i",
            f"case when raw_neg = doc_id then (raw_neg + 1) % {n} "
            "else raw_neg end as neg_id",
        )
    )
    d2 = docs.select(
        F.col("doc_id").alias("neg_id"),
        F.col("lang").alias("neg_lang"),
        F.col("n_chars").alias("neg_chars"),
    )
    return (
        cand.join(d2, "neg_id")
        .groupBy("lang", "neg_lang")
        .agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            F.sum("neg_chars").cast("bigint").alias("sum_neg_chars"),
        )
    )


# --------------------------------------------------------------------------
# op232: int64 day-presence bitmaps — bitmap-index algebra in pure SQL
# --------------------------------------------------------------------------

_OP232_SQL = """
WITH b AS (SELECT MIN(CAST(ts AS DATE)) AS d0 FROM events),
bm AS (
  SELECT user_id,
         bit_or(CASE WHEN event_type = 'click'
                     THEN CAST(1 AS BIGINT) << CAST(CAST(ts AS DATE) - d.d0 AS BIGINT)
                     ELSE CAST(0 AS BIGINT) END) AS bm_click,
         bit_or(CASE WHEN event_type = 'purchase'
                     THEN CAST(1 AS BIGINT) << CAST(CAST(ts AS DATE) - d.d0 AS BIGINT)
                     ELSE CAST(0 AS BIGINT) END) AS bm_purchase
  FROM events CROSS JOIN b d
  GROUP BY user_id)
SELECT CAST(bit_count(bm_click) AS BIGINT) AS click_days,
       CAST(bit_count(bm_purchase) AS BIGINT) AS purchase_days,
       CAST(bit_count(bm_click & bm_purchase) AS BIGINT) AS coactive_days,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(SUM(user_id) AS BIGINT) AS sum_user_id
FROM bm
GROUP BY click_days, purchase_days, coactive_days
"""


@register("op232_day_bitmaps", oracle=_OP232_SQL)
def op232_day_bitmaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BITMAP-INDEX algebra on int64 words: per-user day-presence
    bitmaps (bit i = active on day i; the 30-day window fits one
    int64) built with `bit_or(1 << day)` and queried with `&` +
    `bit_count` — the retention/co-activity representation bitmap
    engines (roaring, Pilosa-style) scale to billions of users,
    expressed here entirely in JVM integer aggregates: a bitmap is
    ONE int64 per (user, type) regardless of event count, the AND is
    free, and popcount is a single instruction.

    Output: the (click_days, purchase_days, coactive_days) retention
    histogram with user-checksums — any bit placed on the wrong day
    or a broken AND changes a histogram cell. Scale: one map-side
    combined groupBy(user) — shuffle carries 2 int64 words per user —
    then a histogram agg; longer windows shard into array<bigint>
    word vectors with zip_with(OR), same algebra."""
    ev = load_table(spark, sf_dir, "events")
    b = ev.agg(F.min(F.col("ts").cast("date")).alias("d0"))
    bm = (
        ev.crossJoin(F.broadcast(b))
        .select(
            "user_id",
            F.datediff(F.col("ts").cast("date"), F.col("d0")).alias("day"),
            "event_type",
        )
        # ENFORCED single-word guard (round-6 ADVICE): Spark's shiftleft
        # wraps the shift count mod 64 while DuckDB's << does not, so a
        # fixture spanning >63 days would silently fold day 64 onto bit 0
        # on the Spark side only. assert_true makes a widened fixture
        # FAIL the run instead; the documented widening path is
        # array<bigint> word vectors with zip_with(OR).
        .select(
            "user_id",
            F.expr(
                "ifnull(assert_true(day BETWEEN 0 AND 63,"
                " 'op232_day_bitmaps: day offset outside [0, 63] --"
                " widen the bitmap to array<bigint> word vectors'), day)"
            ).alias("day"),
            "event_type",
        )
        .groupBy("user_id")
        .agg(
            F.expr(
                "bit_or(CASE WHEN event_type = 'click' "
                "THEN shiftleft(cast(1 as bigint), day) ELSE cast(0 as bigint) END)"
            ).alias("bm_click"),
            F.expr(
                "bit_or(CASE WHEN event_type = 'purchase' "
                "THEN shiftleft(cast(1 as bigint), day) ELSE cast(0 as bigint) END)"
            ).alias("bm_purchase"),
        )
    )
    return (
        bm.select(
            F.bit_count("bm_click").cast("bigint").alias("click_days"),
            F.bit_count("bm_purchase").cast("bigint").alias("purchase_days"),
            F.bit_count(F.expr("bm_click & bm_purchase"))
            .cast("bigint")
            .alias("coactive_days"),
            "user_id",
        )
        .groupBy("click_days", "purchase_days", "coactive_days")
        .agg(
            F.count("*").cast("bigint").alias("n_users"),
            F.sum("user_id").cast("bigint").alias("sum_user_id"),
        )
    )


# --------------------------------------------------------------------------
# op237: theta-sketch set algebra — intersection cardinality from sketches
# --------------------------------------------------------------------------

_THETA_K = 256


@register("op237_theta_set_ops", oracle=None)  # ROWS: xxhash64-based (op194's rationale)
def op237_theta_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THETA-SKETCH set operations (KMV / bottom-k framework, Cohen;
    Apache DataSketches' theta family): cardinality of UNION and —
    the capability nothing else in the sketch family provides —
    INTERSECTION of two huge sets estimated from their mergeable
    bottom-k signatures, never from the sets: here, the distinct
    vocabularies of the en and de corpus slices.

    Sketch: per slice, the k=256 smallest xxhash64(word) values
    mapped to (0,1) (KMV). Union: min-merge the two sketches, re-cut
    to k — EXACTLY the union's own sketch (op194's min-merge law).
    Estimators: n̂ = (k−1)/θ with θ = k-th smallest in (0,1);
    intersection = the fraction of the union's below-θ sample found
    in BOTH sketches, scaled by the union estimate. Relative error
    ~1/√k ≈ 6%; the ±15% gate plus the exact truths (emitted
    alongside) are asserted in tests.

    ROWS by design (xxhash64 — op79/op194's rationale); everything
    after the per-slice bottom-k cut is k-row arithmetic: at 100 TB
    the only data-sized work is one distinct+cut per slice, and
    set-overlap questions between any two corpus slices become
    256-row math on stored sketches."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")

    def slice_words(lang: str) -> DataFrame:
        # sets are word 2-SHINGLES (op79's shingle space): the
        # synthetic vocabulary is ~100 words — smaller than k — but
        # its bigram space is thousands, so the ESTIMATOR path is
        # genuinely exercised (exact mode still handled below for
        # slices smaller than k)
        w = docs.filter(F.col("lang") == lang).select(
            F.expr("split(text, ' ')").alias("w")
        )
        sh = F.expr(
            "array_distinct(filter("
            "  zip_with(w, slice(w, 2, greatest(size(w) - 1, 0)),"
            "           (x, y) -> concat_ws(' ', x, y)),"
            "  s -> contains(s, ' ')))"
        )
        return w.select(F.explode(sh).alias("word")).distinct()

    def sketch(words: DataFrame, tag: str) -> DataFrame:
        h = words.select(
            F.lit(tag).alias("side"),
            "word",
            # xxhash64 → uniform in (0,1): shift to non-negative 2^63 space
            (
                (F.xxhash64("word").cast("double") / 9.223372036854776e18 + 1.0)
                / 2.0
            ).alias("u"),
        )
        w = Window.partitionBy("side").orderBy("u", "word")
        return (
            h.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= _THETA_K)
            .select("side", "word", "u")
        )
    a = pool_persist(sketch(slice_words("en"), "a"))
    b = pool_persist(sketch(slice_words("de"), "b"))
    from pyspark.sql import Window

    merged = a.unionByName(b)
    wu = Window.orderBy("u", "word")  # 2k rows — metadata-sized window
    union_sketch = (
        merged.dropDuplicates(["word"])
        .withColumn("rn", F.row_number().over(wu))
        .filter(F.col("rn") <= _THETA_K)
    )
    theta = union_sketch.agg(F.max("u").alias("theta"))
    in_both = (
        union_sketch.join(a.select(F.col("word").alias("wa")), F.col("word") == F.col("wa"), "left_semi")
        .join(b.select(F.col("word").alias("wb")), F.col("word") == F.col("wb"), "left_semi")
        .agg(F.count("*").alias("n_common_sample"))
    )
    th_a = a.agg(F.max("u").alias("th_a"))
    th_b = b.agg(F.max("u").alias("th_b"))
    exact = (
        slice_words("en").withColumn("s", F.lit(1))
        .unionByName(slice_words("de").withColumn("s", F.lit(2)))
        .groupBy("word")
        .agg(F.sum("s").alias("s"))
        .agg(
            F.sum(F.when(F.col("s").isin(1, 3), 1).otherwise(0)).alias("n_a"),
            F.sum(F.when(F.col("s").isin(2, 3), 1).otherwise(0)).alias("n_b"),
            F.count("*").alias("n_union"),
            F.sum(F.when(F.col("s") == 3, 1).otherwise(0)).alias("n_inter"),
        )
    )
    k = float(_THETA_K)
    # exact-mode handling (standard theta semantics): a sketch holding
    # fewer than k values RETAINED ITS WHOLE SET — its estimate is its
    # size, and the intersection scale factor degrades to 1
    ka = a.agg(F.count("*").alias("ka"))
    kb = b.agg(F.count("*").alias("kb"))
    ku = union_sketch.agg(F.count("*").alias("ku"))
    est_a = F.when(F.col("ka") < k, F.col("ka")).otherwise((k - 1) / F.col("th_a"))
    est_b = F.when(F.col("kb") < k, F.col("kb")).otherwise((k - 1) / F.col("th_b"))
    est_u = F.when(F.col("ku") < k, F.col("ku")).otherwise((k - 1) / F.col("theta"))
    return (
        exact.crossJoin(F.broadcast(theta))
        .crossJoin(F.broadcast(th_a))
        .crossJoin(F.broadcast(th_b))
        .crossJoin(F.broadcast(in_both))
        .crossJoin(F.broadcast(ka))
        .crossJoin(F.broadcast(kb))
        .crossJoin(F.broadcast(ku))
        .select(
            F.col("n_a").cast("bigint"),
            F.col("n_b").cast("bigint"),
            F.col("n_union").cast("bigint"),
            F.col("n_inter").cast("bigint"),
            F.round(est_a, 2).alias("est_a"),
            F.round(est_b, 2).alias("est_b"),
            F.round(est_u, 2).alias("est_union"),
            F.round(
                F.col("n_common_sample") / F.col("ku") * est_u, 2
            ).alias("est_inter"),
        )
    )


# --------------------------------------------------------------------------
# op238: Wilson confidence intervals — rates with honest uncertainty
# --------------------------------------------------------------------------

_WILSON_Z = 1.96  # 95% two-sided


def _wilson_sql(p_hat: str, n: str) -> tuple[str, str]:
    z2 = f"({_WILSON_Z} * {_WILSON_Z})"
    center = f"(({p_hat}) + {z2} / (2.0 * {n}))"
    margin = (
        f"({_WILSON_Z} * SQRT((({p_hat}) * (1.0 - ({p_hat})) "
        f"+ {z2} / (4.0 * {n})) / {n}))"
    )
    denom = f"(1.0 + {z2} / {n})"
    return (
        f"ROUND(({center} - {margin}) / {denom}, 6)",
        f"ROUND(({center} + {margin}) / {denom}, 6)",
    )


def _op238_sql() -> str:
    lo, hi = _wilson_sql("CAST(k AS DOUBLE) / n", "CAST(n AS DOUBLE)")
    return f"""
WITH agg AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN value > 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS k
  FROM events GROUP BY event_type)
SELECT event_type, n, k,
       ROUND(CAST(k AS DOUBLE) / n, 6) AS rate,
       {lo} AS wilson_lo,
       {hi} AS wilson_hi
FROM agg
"""


@register("op238_wilson_ci", oracle=_op238_sql())
def op238_wilson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WILSON score intervals (95%) for per-type success rates
    (success := value > 0.5) — a rate without its uncertainty is the
    classic dashboard lie, and Wilson (unlike the normal
    approximation) behaves at small n and extreme rates. Inputs are
    exact int64 (n, k); the interval arithmetic is a fixed dag of
    IEEE ops on exact integers — division, multiply, one SQRT
    (correctly rounded per IEEE-754, identical both engines) —
    round(6)'d at the boundary (op144's z-score discipline). One
    scan, one partial-agged groupBy; the CI math is per-group
    constant work."""
    ev = load_table(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.when(F.col("value") > 0.5, 1).otherwise(0))
        .cast("bigint")
        .alias("k"),
    )
    p = F.col("k").cast("double") / F.col("n")
    n = F.col("n").cast("double")
    z2 = _WILSON_Z * _WILSON_Z
    center = p + z2 / (2.0 * n)
    margin = _WILSON_Z * F.sqrt((p * (1.0 - p) + z2 / (4.0 * n)) / n)
    denom = 1.0 + z2 / n
    return agg.select(
        "event_type",
        "n",
        "k",
        F.round(p, 6).alias("rate"),
        F.round((center - margin) / denom, 6).alias("wilson_lo"),
        F.round((center + margin) / denom, 6).alias("wilson_hi"),
    )


# --------------------------------------------------------------------------
# op239: GROUP k-fold assignment — leakage-free cross-validation splits
# --------------------------------------------------------------------------

_KFOLD = 5


def _op239_sql() -> str:
    fold = f"({_mulmod32('user_id', _KNUTH, '//')} % {_KFOLD})"
    return f"""
WITH tagged AS (
  SELECT {fold} AS fold, user_id, event_type, event_id FROM events)
SELECT CAST(fold AS INTEGER) AS fold,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(SUM(event_id) AS BIGINT) AS checksum
FROM tagged GROUP BY fold
"""


@register("op239_group_kfold", oracle=_op239_sql())
def op239_group_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP k-fold assignment: folds are a pure hash function of the
    GROUP key (user_id), so every row of a user lands in the same
    fold — the leakage-free cross-validation split (row-level folds
    put one user's behavior in both train and validation, inflating
    every metric; sklearn's GroupKFold exists for exactly this).
    op176 (hash split) and op225 (temporal split) complete the
    eval-split triptych.

    Same reproducibility algebra as op176/op229: _mulmod32 on the
    group key, no RNG, identical across re-runs/partitionings/
    clusters; fold balance is inspectable in the output (hash
    uniformity gives ~n/k users per fold). Map-side arithmetic +
    one groupBy — the split costs one scan at any size. The
    disjointness invariant (each user in exactly one fold) is
    asserted in tests."""
    ev = load_table(spark, sf_dir, "events")
    fold = F.expr(f"({_mulmod32('user_id', _KNUTH, 'div')} % {_KFOLD})")
    return (
        ev.select(fold.cast("int").alias("fold"), "user_id", "event_id")
        .groupBy("fold")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
            F.sum("event_id").cast("bigint").alias("checksum"),
        )
    )


# --------------------------------------------------------------------------
# op240: two-sample Kolmogorov-Smirnov — exact D over the distinct grid
# --------------------------------------------------------------------------

_OP240_SQL = """
WITH s AS (
  SELECT n_chars AS x,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_a
  FROM documents WHERE lang IN ('en', 'de')),
tot AS (
  SELECT CAST(SUM(is_a) AS BIGINT) AS n_a,
         CAST(SUM(1 - is_a) AS BIGINT) AS n_b
  FROM s),
grid AS (
  SELECT x,
         CAST(SUM(is_a) AS BIGINT) AS a_here,
         CAST(SUM(1 - is_a) AS BIGINT) AS b_here
  FROM s GROUP BY x),
cum AS (
  SELECT x,
         SUM(a_here) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) AS ca,
         SUM(b_here) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) AS cb
  FROM grid)
SELECT t.n_a, t.n_b,
       CAST(MAX(ABS(c.ca * t.n_b - c.cb * t.n_a)) AS BIGINT) AS d_num,
       t.n_a * t.n_b AS d_den,
       ROUND(CAST(MAX(ABS(c.ca * t.n_b - c.cb * t.n_a)) AS DOUBLE)
             / (t.n_a * t.n_b), 6) AS ks_d
FROM cum c CROSS JOIN tot t
GROUP BY t.n_a, t.n_b
"""


@register("op240_ks_two_sample", oracle=_OP240_SQL)
def op240_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample KOLMOGOROV-SMIRNOV statistic (en vs de document
    lengths) — the nonparametric "did the distribution shift"
    test beside op162's binned PSI: D = max |F_a(x) − F_b(x)|,
    computed EXACTLY on the distinct-value grid (the supremum over a
    step function is attained at a step), kept integer as
    max |ca·n_b − cb·n_a| over n_a·n_b — no float until one final
    division. Scale shape is op214's: aggregate to the bounded
    distinct-value grid first, run the cumulative window over those
    few rows — no global row sort."""
    from pyspark.sql import Window

    s = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("lang").isin("en", "de"))
        .select(
            F.col("n_chars").alias("x"),
            F.when(F.col("lang") == "en", 1).otherwise(0).alias("is_a"),
        )
    )
    tot = s.agg(
        F.sum("is_a").cast("bigint").alias("n_a"),
        F.sum(1 - F.col("is_a")).cast("bigint").alias("n_b"),
    )
    grid = s.groupBy("x").agg(
        F.sum("is_a").cast("bigint").alias("a_here"),
        F.sum(1 - F.col("is_a")).cast("bigint").alias("b_here"),
    )
    w = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, 0)
    cum = grid.select(
        "x",
        F.sum("a_here").over(w).alias("ca"),
        F.sum("b_here").over(w).alias("cb"),
    )
    d = (
        cum.crossJoin(F.broadcast(tot))
        .groupBy("n_a", "n_b")
        .agg(
            F.max(F.abs(F.col("ca") * F.col("n_b") - F.col("cb") * F.col("n_a")))
            .cast("bigint")
            .alias("d_num")
        )
    )
    return d.select(
        "n_a",
        "n_b",
        "d_num",
        (F.col("n_a") * F.col("n_b")).alias("d_den"),
        F.round(
            F.col("d_num").cast("double") / (F.col("n_a") * F.col("n_b")), 6
        ).alias("ks_d"),
    )


# --------------------------------------------------------------------------
# op241: chi-square independence — contingency table, exact-int core
# --------------------------------------------------------------------------

_OP241_SQL = """
WITH o AS (
  SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS obs
  FROM documents GROUP BY lang, source),
r AS (SELECT lang, CAST(SUM(obs) AS BIGINT) AS row_tot FROM o GROUP BY lang),
c AS (SELECT source, CAST(SUM(obs) AS BIGINT) AS col_tot FROM o GROUP BY source),
n AS (SELECT CAST(SUM(obs) AS BIGINT) AS total FROM o),
cells AS (
  SELECT o.lang, o.source, o.obs, r.row_tot, c.col_tot, n.total,
         -- (O*N − R*C)² / (N*R*C): chi² term scaled to avoid
         -- fractional expected counts until the final division
         CAST(o.obs * n.total - r.row_tot * c.col_tot AS DOUBLE) AS num
  FROM o JOIN r ON o.lang = r.lang
        JOIN c ON o.source = c.source
        CROSS JOIN n)
SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(ANY_VALUE(total) AS BIGINT) AS n_total,
       CAST((SELECT COUNT(*) FROM r) - 1 AS BIGINT)
         * CAST((SELECT COUNT(*) FROM c) - 1 AS BIGINT) AS dof,
       -- per-cell term rounded to micro-units and summed as INT64:
       -- integer addition is order-independent, so the sum cannot
       -- flip a last digit under either engine's aggregation order
       -- (round-6 ADVICE item). floor(x*1e6 + 0.5) not ROUND():
       -- identical IEEE double ops in both engines, no half-even vs
       -- half-away dialect gap.
       CAST(SUM(CAST(FLOOR(num * num
                 / (CAST(total AS DOUBLE) * row_tot * col_tot)
                 * 1000000 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000 AS chi2
FROM cells
"""


@register("op241_chi2_independence", oracle=_OP241_SQL)
def op241_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHI-SQUARE independence test for the (lang × source)
    contingency table — "is the language mix the same across
    sources", the categorical sibling of op240's KS: χ² =
    Σ (O−E)²/E restated as Σ (O·N − R·C)² / (N·R·C) so every
    intermediate is a product of EXACT int64 counts and the only
    float work is one per-cell division, after which each term is
    rounded to int64 MICRO-UNITS (floor(x·1e6 + 0.5) — identical
    IEEE ops in both engines) and summed as integers: integer
    addition commutes, so no engine's aggregation order can flip a
    last digit (round-6 ADVICE retired the earlier
    sum-doubles-then-round form, whose coalesce(1) pinned the
    partition but not the row order within it).

    Shape (also round-6 ADVICE — the old form persisted the
    contingency frame without unpersisting and ran two driver-side
    counts): ONE documents scan builds the ≤25-row contingency
    table; row/col/grand marginals are WINDOWS over that tiny frame
    (no persist, no broadcast joins, no driver action anywhere), and
    dof comes from count-distinct in the final agg. The only
    full-data work is the first map-side-combined groupBy; everything
    after moves ≤25 rows."""
    o = load_table(spark, sf_dir, "documents").groupBy("lang", "source").agg(
        F.count("*").cast("bigint").alias("obs")
    )
    from pyspark.sql import Window

    # Windows over the ≤25-row contingency frame — deliberate tiny
    # unpartitioned frame (same class as op245's report assembly).
    cells = o.select(
        "lang",
        "source",
        "obs",
        F.sum("obs").over(Window.partitionBy("lang")).alias("row_tot"),
        F.sum("obs").over(Window.partitionBy("source")).alias("col_tot"),
        F.sum("obs").over(Window.partitionBy()).alias("total"),
    ).withColumn(
        "num",
        (
            F.col("obs") * F.col("total")
            - F.col("row_tot") * F.col("col_tot")
        ).cast("double"),
    )
    term_micro = F.expr(
        "cast(floor(num * num"
        " / (cast(total as double) * row_tot * col_tot)"
        " * 1000000 + 0.5) as bigint)"
    )
    # dof counts DISTINCT GROUP KEYS — including a NULL lang/source
    # group if the fixture ever grows one, because the oracle's
    # (SELECT COUNT(*) FROM r) counts GROUP BY rows and GROUP BY keeps
    # the NULL group. countDistinct alone would drop it (round-7
    # review); the isNull max-flag adds it back.
    n_lang = F.countDistinct("lang") + F.max(
        F.when(F.col("lang").isNull(), 1).otherwise(0)
    )
    n_src = F.countDistinct("source") + F.max(
        F.when(F.col("source").isNull(), 1).otherwise(0)
    )
    return cells.agg(
        F.count("*").cast("bigint").alias("n_cells"),
        F.any_value("total").cast("bigint").alias("n_total"),
        ((n_lang - 1) * (n_src - 1)).cast("bigint").alias("dof"),
        (F.sum(term_micro).cast("double") / F.lit(1000000)).alias("chi2"),
    )


# --------------------------------------------------------------------------
# op242: behavioral Markov transitions — per-user event-type chains
# --------------------------------------------------------------------------

_OP242_SQL = """
WITH o AS (
  SELECT user_id, event_type, ts, event_id,
         LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_type
  FROM events),
t AS (SELECT prev_type, event_type AS next_type FROM o WHERE prev_type IS NOT NULL),
row_tot AS (
  SELECT prev_type, CAST(COUNT(*) AS BIGINT) AS n_from
  FROM t GROUP BY prev_type)
SELECT t.prev_type, t.next_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       r.n_from,
       CAST(COUNT(*) * 1000000 // r.n_from AS BIGINT) AS p_ppm
FROM t JOIN row_tot r ON t.prev_type = r.prev_type
GROUP BY t.prev_type, t.next_type, r.n_from
"""


@register("op242_markov_transitions", oracle=_OP242_SQL)
def op242_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral MARKOV TRANSITION MATRIX: per-user consecutive
    event-type pairs → transition counts and probabilities (exact
    integer ppm: n·10⁶ div n_from — engine-portable floor division,
    no float) — the first-order user-behavior model behind
    next-action prediction, anomaly scoring ("this transition never
    happens") and funnel design; op128's bigram idea lifted from
    token streams to event streams.

    One per-user ordered window (lag) + two aggregates; transitions
    shuffle as (type, type) pairs — |types|² ≤ 25 output rows from
    any volume."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
        .select("prev_type", F.col("event_type").alias("next_type"))
    )
    row_tot = t.groupBy("prev_type").agg(
        F.count("*").cast("bigint").alias("n_from")
    )
    return (
        t.groupBy("prev_type", "next_type")
        .agg(F.count("*").cast("bigint").alias("n"))
        .join(F.broadcast(row_tot), "prev_type")
        .select(
            "prev_type",
            "next_type",
            "n",
            "n_from",
            F.expr("n * 1000000 div n_from").cast("bigint").alias("p_ppm"),
        )
    )


# --------------------------------------------------------------------------
# op244: quantile (rank) normalization — the PIT transform per group
# --------------------------------------------------------------------------

_OP244_SQL = """
WITH pr AS (
  SELECT event_type, value,
         PERCENT_RANK() OVER (PARTITION BY event_type ORDER BY value) AS p
  FROM events),
b AS (
  SELECT event_type,
         -- FLOOR, not bare CAST: DuckDB rounds on double→int casts
         -- (op227's gotcha); Spark truncates
         LEAST(CAST(FLOOR(p * 10) AS BIGINT), 9) AS decile,
         p
  FROM pr)
SELECT event_type, CAST(decile AS INTEGER) AS decile,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(SUM(p), 6) AS sum_p
FROM b GROUP BY event_type, decile
"""


@register("op244_quantile_normalize", oracle=_OP244_SQL)
def op244_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUANTILE (rank) NORMALIZATION per group — the probability-
    integral transform that makes features comparable across
    heterogeneous distributions (the preprocessing step before
    mixing signals with different scales/shapes; op139's min-max
    sibling for the heavy-tailed case). p = PERCENT_RANK(), the
    (rank−1)/(n−1) definition shared verbatim by Spark and DuckDB —
    ties resolve to the min rank in both, so the transform is
    deterministic and this op PINS that cross-engine contract.

    Output: per-(type, decile of p) counts + the quantized p mass —
    a uniform-by-construction histogram whose hash any rank drift
    breaks (CAST truncation of p·10 is floor for the non-negative p
    both engines). Scale: the ordered window runs per group — the
    standard rank-transform cost, one keyed sort; the decile
    histogram collapses it to ≤10 rows/group."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value")
    pr = ev.select(
        "event_type", F.percent_rank().over(w).alias("p")
    )
    return (
        pr.select(
            "event_type",
            F.least((F.col("p") * 10).cast("bigint"), F.lit(9))
            .cast("int")
            .alias("decile"),
            "p",
        )
        .groupBy("event_type", "decile")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.round(F.sum("p"), 6).alias("sum_p"),
        )
    )


# --------------------------------------------------------------------------
# op248: median-of-means — mergeable robust mean, order-statistic exact
# --------------------------------------------------------------------------

_MOM_B = 15  # odd bucket count: the median IS the 8th order statistic


def _op248_sql() -> str:
    bucket = f"({_mulmod32('event_id', _KNUTH, '//')} % {_MOM_B})"
    return f"""
WITH q AS (
  SELECT event_type, {bucket} AS bucket,
         CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS v
  FROM events),
bm AS (
  SELECT event_type, bucket,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(v) AS BIGINT) AS s,
         CAST(SUM(v) AS DOUBLE) / COUNT(*) AS bucket_mean
  FROM q GROUP BY event_type, bucket),
r AS (
  SELECT event_type, bucket_mean,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY bucket_mean, bucket) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS nb
  FROM bm)
SELECT event_type,
       CAST(nb AS BIGINT) AS n_buckets,
       ROUND(bucket_mean / 1000000, 6) AS mom_mean
FROM r WHERE rn = (nb + 1) // 2
"""


@register("op248_median_of_means", oracle=_op248_sql())
def op248_median_of_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MEDIAN-OF-MEANS robust mean estimator: rows hash into 15
    buckets (portable _mulmod32 of event_id — deterministic, not
    RNG), each bucket's exact int64-quantized mean is computed
    map-side, and the estimate is the MEDIAN bucket mean — the
    estimator with exponential concentration under heavy tails where
    the plain mean is wrecked by one outlier, and the standard trick
    for robust aggregation in one pass.

    Exactness: an ODD bucket count makes the median the
    ((b+1)/2)-th ORDER STATISTIC — row_number, not interpolation, so
    the cross-engine percentile-interpolation minefield (op26's
    hard-won territory) is bypassed entirely; bucket means are exact
    int64 sums over counts with one IEEE division each, tiebroken by
    bucket id. Scale: the bucket aggregation is map-side combined
    (15 rows/group/task); the median runs over 15 rows."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    bucket = F.expr(
        f"({_mulmod32('event_id', _KNUTH, 'div')} % {_MOM_B})"
    )
    q = ev.select(
        "event_type",
        bucket.alias("bucket"),
        F.expr("cast(cast(value as decimal(18,6)) * 1000000 as bigint)").alias("v"),
    )
    bm = q.groupBy("event_type", "bucket").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("v").cast("bigint").alias("s"),
    ).withColumn("bucket_mean", F.col("s").cast("double") / F.col("n"))
    w = Window.partitionBy("event_type").orderBy("bucket_mean", "bucket")
    r = bm.select(
        "event_type",
        "bucket_mean",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy("event_type")).alias("nb"),
    )
    return r.filter(F.expr("rn = (nb + 1) div 2")).select(
        "event_type",
        F.col("nb").cast("bigint").alias("n_buckets"),
        F.round(F.col("bucket_mean") / 1_000_000, 6).alias("mom_mean"),
    )


# deterministic (shard, pos) from an `hh` md5-hex column + doc_id
_SHARD_SQL = """CAST(('0x' || substr(hh, 1, 8))::BIGINT % 8 AS BIGINT) AS shard,
       CAST(row_number() OVER (
           PARTITION BY ('0x' || substr(hh, 1, 8))::BIGINT % 8
           ORDER BY hh, doc_id) AS BIGINT) AS pos"""


def shard_assign(df: DataFrame, carry: list[str]) -> DataFrame:
    """(doc_id, *carry, shard, pos) — the ONE Spark copy of
    _SHARD_SQL: md5-of-id prefix mod 8, pos = row_number within the
    shard (8 independent sorts, never a global one)."""
    h = df.select(
        "doc_id", *carry, F.md5(F.col("doc_id").cast("string")).alias("hh")
    )
    shard = (
        F.conv(F.substring("hh", 1, 8), 16, 10).cast("bigint") % 8
    ).alias("shard")
    t = h.select("doc_id", *carry, "hh", shard)
    w = W.partitionBy("shard").orderBy("hh", "doc_id")
    return t.select(
        "doc_id",
        *carry,
        "shard",
        F.row_number().over(w).cast("bigint").alias("pos"),
    )


# --------------------------------------------------------------- op97

_OP97_SQL = """
SELECT 'l_quantity' AS column_name,
       CAST(COUNT(*) - COUNT(l_quantity) AS BIGINT) AS n_nulls,
       CAST(COUNT(DISTINCT l_quantity) AS BIGINT) AS n_distinct,
       CAST(MIN(l_quantity) AS DOUBLE) AS min_val,
       CAST(MAX(l_quantity) AS DOUBLE) AS max_val
FROM lineitem
UNION ALL
SELECT 'l_discount',
       CAST(COUNT(*) - COUNT(l_discount) AS BIGINT),
       CAST(COUNT(DISTINCT l_discount) AS BIGINT),
       CAST(MIN(l_discount) AS DOUBLE), CAST(MAX(l_discount) AS DOUBLE)
FROM lineitem
UNION ALL
SELECT 'l_extendedprice',
       CAST(COUNT(*) - COUNT(l_extendedprice) AS BIGINT),
       CAST(COUNT(DISTINCT l_extendedprice) AS BIGINT),
       CAST(MIN(l_extendedprice) AS DOUBLE), CAST(MAX(l_extendedprice) AS DOUBLE)
FROM lineitem
"""

_PROFILE_COLS = ("l_quantity", "l_discount", "l_extendedprice")


@register("op97_profile_columns", oracle=_OP97_SQL)
def op97_profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality profile of numeric columns (null count, exact
    distinct count, min, max) — the pre-training corpus audit step.

    ONE scan computes every per-column statistic (a single aggregate
    producing a struct per column, exploded to rows) — the oracle's
    UNION ALL shape would scan once per column. At 100 TB the single
    pass is the difference between an audit and three."""
    li = load_table(spark, sf_dir, "lineitem")
    aggs = []
    for c in _PROFILE_COLS:
        aggs += [
            (F.count("*") - F.count(c)).cast("bigint").alias(f"nn_{c}"),
            F.countDistinct(c).cast("bigint").alias(f"nd_{c}"),
            F.min(c).cast("double").alias(f"mn_{c}"),
            F.max(c).cast("double").alias(f"mx_{c}"),
        ]
    one = li.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(c).alias("column_name"),
                F.col(f"nn_{c}").alias("n_nulls"),
                F.col(f"nd_{c}").alias("n_distinct"),
                F.col(f"mn_{c}").alias("min_val"),
                F.col(f"mx_{c}").alias("max_val"),
            )
            for c in _PROFILE_COLS
        ]
    )
    return one.select(F.explode(rows).alias("r")).select("r.*")


# --------------------------------------------------------------- op98

_OP98_SQL = f"""
WITH h AS (
  SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS hh FROM documents
)
SELECT doc_id,
       {_SHARD_SQL}
FROM h
"""


@register("op98_train_shard_assign", oracle=_OP98_SQL)
def op98_train_shard_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-data shuffle + sharding: every doc gets a
    stable (shard, pos) from the md5 of its id — reproducible across
    engines and runs, independent of input order.

    Scale shape: shard = hash prefix mod n is per-row; pos is a window
    PARTITIONED BY shard (n independent sorts, each 1/n of the data) —
    never a single global sort. Writing `partitionBy(shard)` then
    reading shard files in pos order streams a shuffled corpus without
    ever materializing a total order."""
    d = load_table(spark, sf_dir, "documents")
    return shard_assign(d, carry=[])


# --------------------------------------------------------------- op99

# per-language keep fractions (percent) — the training-mix rebalance
_STRATA = {"en": 40, "de": 80, "fr": 80, "es": 80, "zh": 100}

_OP99_CASE = " ".join(
    f"WHEN lang = '{lang}' THEN {pct}" for lang, pct in sorted(_STRATA.items())
)

_OP99_SQL = f"""
SELECT doc_id, lang
FROM (
  SELECT doc_id, lang,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS bucket,
         CASE {_OP99_CASE} ELSE 0 END AS keep_pct
  FROM documents
)
WHERE bucket < keep_pct
"""


@register("op99_stratified_sample", oracle=_OP99_SQL)
def op99_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling for training-mix rebalancing:
    keep a per-language fraction of documents, selected by a stable
    hash bucket of the id (md5 prefix mod 100) rather than RNG — so the
    sample is reproducible across engines, runs, and partitionings,
    and a re-run after new data arrives keeps exactly the old rows plus
    a proportional slice of the new. Pure per-row expressions, zero
    shuffle; full DuckDB oracle."""
    d = load_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % 100
    )
    keep = F.lit(0)
    for lang, pct in sorted(_STRATA.items()):
        keep = F.when(F.col("lang") == lang, pct).otherwise(keep)
    return d.select("doc_id", "lang", bucket.alias("b"), keep.alias("k")).filter(
        F.col("b") < F.col("k")
    ).select("doc_id", "lang")
