"""Guards for the dual-path helpers.

The aggregation/vector helpers accept either a column NAME (compiled
as one JVM-parsed F.expr string — the fast plan-build path) or a
Column object (the composable path). Both must stay semantically
identical: these tests compare their *optimized plans* and their
results, so a future edit to one path can't silently diverge from the
other. Plus a hypothesis property: the scaled-int64 accumulator is
exactly the decimal accumulator on 2-decimal fixed-point data.
"""

from __future__ import annotations

from hypothesis import given, settings, strategies as st

from pyspark.sql import functions as F

from ocdb_server_spark.operators._helpers import davg, dec, dsum, iavg, isum
from ocdb_server_spark.functions import vector


import re


def _optimized(df) -> str:
    # normalize auto-assigned expression ids (#17 etc.) before compare
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return re.sub(r"#\d+", "#", plan)


def test_agg_helpers_str_and_column_paths_plan_identically(spark):
    df = spark.range(5).selectExpr("cast(id as double) + 0.25 as x")
    for helper in (dsum, davg, isum, iavg):
        a = df.agg(helper("x").alias("v"))
        b = df.agg(helper(F.col("x")).alias("v"))
        assert _optimized(a) == _optimized(b), helper.__name__
    a = df.select(dec("x", 12, 2).alias("v"))
    b = df.select(dec(F.col("x"), 12, 2).alias("v"))
    assert _optimized(a) == _optimized(b)


def test_vector_helpers_str_and_column_paths_agree(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0], [0.5, -1.0, 2.0])],
        "id long, a array<float>, b array<float>",
    )
    pairs = [
        (vector.dot("a", "b"), vector.dot(F.col("a"), F.col("b"))),
        (vector.l2_norm("a"), vector.l2_norm(F.col("a"))),
        (vector.cosine("a", "b"), vector.cosine(F.col("a"), F.col("b"))),
    ]
    for s_col, c_col in pairs:
        sv = df.select(s_col.alias("v")).collect()[0]["v"]
        cv = df.select(c_col.alias("v")).collect()[0]["v"]
        assert sv == cv  # bit-identical: same fold over same elements


@settings(max_examples=25, deadline=None)
@given(
    st.lists(
        st.integers(min_value=-10_000_00, max_value=10_000_00),  # cents
        min_size=1,
        max_size=50,
    )
)
def test_isum_equals_dsum_on_fixed_point(spark, cents):
    """For any 2-decimal fixed-point data, the scaled-int64 sum equals
    the exact decimal sum bit-for-bit (the substitution op17 relies
    on)."""
    rows = [(c / 100.0,) for c in cents]
    df = spark.createDataFrame(rows, "x double")
    got = df.agg(
        isum("x").alias("i"), dsum("x").alias("d")
    ).collect()[0]
    assert got["i"] == got["d"]


# ---------------------------------------------------------------------------
# Cross-engine stability of the float-quantization discipline:
# floor(x * scale + 0.5) -> BIGINT must be bit-identical in Spark SQL
# (D-suffixed literals) and DuckDB for any finite double. This is the
# property op162/op164/op165/op169/op171/op175 rely on instead of
# round-to-decimal (which is NOT cross-engine stable: Spark's round()
# goes through BigDecimal, DuckDB's re-rounds in double arithmetic).
# ---------------------------------------------------------------------------


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.floats(
            min_value=-1e6,
            max_value=1e6,
            allow_nan=False,
            allow_infinity=False,
        ),
        min_size=1,
        max_size=50,
    ),
    st.sampled_from([1_000.0, 1_000_000.0, 1_000_000_000.0]),
)
def test_floor_quantize_identical_across_engines(spark, xs, scale):
    """Values are fed to DuckDB through a registered DataFrame (the
    Arrow path — exact bits), NOT inline SQL literals: hypothesis
    found that DuckDB's string→double literal parser can land 1 ULP
    off the correctly-rounded value (e.g. -900720.6668226955 parses to
    the neighboring double), which is a literal-parsing quirk, not a
    floor/multiply divergence. The engine oracles only ever meet
    floats via parquet (exact bits) and simple exactly-representable
    literals (0.5, 50.0, 1e9), so this models the real path."""
    import duckdb as _duck
    import pandas as pd

    sdf = spark.createDataFrame([(i, x) for i, x in enumerate(xs)], "i long, x double")
    got_spark = {
        r["i"]: r["q"]
        for r in sdf.selectExpr(
            "i", f"cast(floor(x * {scale}D + 0.5D) as bigint) as q"
        ).collect()
    }
    con = _duck.connect()
    pdf = pd.DataFrame({"i": range(len(xs)), "x": pd.Series(xs, dtype="float64")})
    con.register("t", pdf)
    got_duck = dict(
        con.execute(
            f"SELECT i, CAST(FLOOR(x * {scale} + 0.5) AS BIGINT) FROM t"
        ).fetchall()
    )
    con.close()
    assert got_spark == got_duck


@settings(max_examples=20, deadline=None)
@given(
    st.lists(
        st.one_of(
            st.integers(min_value=0, max_value=2**62),
            # the band the naive product overflows in (>~4.1e9)
            st.integers(min_value=4_100_000_000, max_value=2**40),
        ),
        min_size=1,
        max_size=30,
        unique=True,
    )
)
def test_mulmod32_matches_bigint_and_never_overflows(spark, ids):
    """op174/op176's _mulmod32 must equal arbitrary-precision
    (id · mult) mod 2³² for ANY non-negative int64 id — including ids
    past ~4.1e9 where the naive int64 product overflows (and raises
    under Spark 4 ANSI mode). Checked against Python big-int on both
    hash constants, in both engines."""
    import duckdb as _duck

    from ocdb_server_spark.operators.stats import (
        _KNUTH,
        _SPLIT_MULT,
        _mulmod32,
    )

    for mult in (_KNUTH, _SPLIT_MULT):
        want = {i: (i * mult) % 2**32 for i in ids}
        sdf = spark.createDataFrame([(i,) for i in ids], "doc_id long")
        got_spark = {
            r["doc_id"]: r["h"]
            for r in sdf.selectExpr(
                "doc_id", f"{_mulmod32('doc_id', mult, 'div')} as h"
            ).collect()
        }
        assert got_spark == want, f"spark diverges for mult={mult}"
        con = _duck.connect()
        vals = ",".join(f"({i})" for i in ids)
        got_duck = dict(
            con.execute(
                f"SELECT doc_id, {_mulmod32('doc_id', mult, '//')}"
                f" FROM (VALUES {vals}) AS t(doc_id)"
            ).fetchall()
        )
        con.close()
        assert got_duck == want, f"duckdb diverges for mult={mult}"


def test_warm_cache_rewarm_keeps_unrelated_normed_cache(spark, sf_dir):
    """Re-warming a table OTHER than 'embeddings' must not evict the
    derived normed-embeddings cache, which would force a surprise
    rebuild; re-warming 'embeddings' itself drops it.

    clear_cache() on exit: plan-shape tests elsewhere in the suite
    assert against COLD loads (test_plans.py's header) — a warm
    'orders' left behind here flips their parquet scans to
    InMemoryTableScan and fails their pruning asserts."""
    from ocdb_server_spark import io as io_mod
    from ocdb_server_spark.session import adopt

    warm = adopt(spark).warm
    try:
        io_mod.warm_cache(spark, sf_dir, names=("embeddings",))
        io_mod.load_embeddings_normed(spark, sf_dir)
        normed_key = (sf_dir, "__embeddings_normed__")
        assert normed_key in warm
        generation = warm[normed_key]

        io_mod.warm_cache(spark, sf_dir, names=("orders",))
        assert warm.get(normed_key) is generation  # survived

        io_mod.warm_cache(spark, sf_dir, names=("embeddings",))
        assert warm.get(normed_key) is None  # correctly dropped
    finally:
        io_mod.clear_cache()


def test_find_datasets_persists_nothing(spark, sf_dir):
    """A serving workload that only calls find_datasets caches nothing:
    the hit count is observed on the page query, so after several
    fetched requests the registry's pool is empty and Spark's
    CacheManager holds no new entry."""
    from ocdb_server_spark import registry as reg_mod
    from ocdb_server_spark.io import load_table
    from ocdb_server_spark.search import (
        DatasetQuery,
        SearchColumns,
        find_datasets,
    )

    part = load_table(spark, sf_dir, "part")
    cols = SearchColumns(order_key="p_partkey")
    cache = spark._jsparkSession.sharedState().cacheManager()
    reg_mod.release_pool()
    before = cache.numCachedEntries()
    for size in (1, 2, 3):
        res = find_datasets(part, DatasetQuery(expr=f"p_size:{size}", count=5), cols)
        page = res.datasets.collect()
        assert res.total_count >= len(page)
    assert reg_mod._POOLED_CACHES == []
    assert cache.numCachedEntries() == before


def test_events_read_respects_external_session_timezone(spark, sf_dir):
    """The events read must not flip the session-wide timezone to UTC
    on an EXTERNAL session that deliberately chose its own — that
    would shift every later timestamp in that session's own
    queries. Only sessions whose timezone stance is ours (get_spark or
    sniffed-bare) get the pin."""
    from ocdb_server_spark.io import load_table

    import warnings as _warnings

    ext = spark.newSession()  # not registered via mark_session_configured
    ext.conf.set("spark.sql.shuffle.partitions", "7")  # configured ≠ bare
    ext.conf.set("spark.sql.session.timeZone", "America/New_York")
    with _warnings.catch_warnings(record=True) as caught:
        _warnings.simplefilter("always")
        load_table(ext, sf_dir, "events").limit(1).collect()
    assert ext.conf.get("spark.sql.session.timeZone") == "America/New_York"
    # the skipped pin must be LOUD, and once only
    assert any("timeZone" in str(w.message) for w in caught), (
        "no warning for a skipped UTC pin on an explicit non-UTC session"
    )
    with _warnings.catch_warnings(record=True) as again:
        _warnings.simplefilter("always")
        load_table(ext, sf_dir, "events").limit(1).collect()
    assert not any("timeZone" in str(w.message) for w in again), (
        "warned twice for the same session"
    )

    bare = spark.newSession()
    bare.conf.set("spark.sql.shuffle.partitions", "200")  # stock default
    bare.conf.set("spark.sql.session.timeZone", "America/New_York")
    load_table(bare, sf_dir, "events").limit(1).collect()
    assert bare.conf.get("spark.sql.session.timeZone") == "UTC"

    # An external session that configured shuffle (skips bare tuning)
    # but left the timezone UNSET — the stance is nobody's, so the pin
    # must apply (the _BARE membership sniff must not stand in for the
    # tz sniff).
    unset = spark.newSession()
    unset.conf.set("spark.sql.shuffle.partitions", "7")  # configured ≠ bare
    unset.conf.unset("spark.sql.session.timeZone")       # JVM default
    assert unset.conf.get("spark.sql.session.timeZone", None) is None
    load_table(unset, sf_dir, "events").limit(1).collect()
    assert unset.conf.get("spark.sql.session.timeZone") == "UTC"

    # An explicit UTC-EQUIVALENT alias (Etc/UTC, GMT) causes no oracle
    # divergence — the JVM-default branch whitelists exactly those
    # aliases, so the explicit branch must stay quiet on them too.
    alias = spark.newSession()
    alias.conf.set("spark.sql.shuffle.partitions", "7")  # configured ≠ bare
    alias.conf.set("spark.sql.session.timeZone", "Etc/UTC")
    with _warnings.catch_warnings(record=True) as quiet:
        _warnings.simplefilter("always")
        load_table(alias, sf_dir, "events").limit(1).collect()
    # the explicit choice is still left alone — only the warning goes
    assert alias.conf.get("spark.sql.session.timeZone") == "Etc/UTC"
    assert not any("timeZone" in str(w.message) for w in quiet), (
        "warned for an explicit UTC-equivalent timezone alias"
    )


def test_upsert_movable_full_rewrite_under_dynamic_session(spark, tmp_path):
    """The movable-partitions branch must not rely on the session's
    partitionOverwriteMode being static: a session configured dynamic
    must not keep the vacated partition's stale copy."""
    from ocdb_server_spark.sinks import upsert_partitioned

    table = str(tmp_path / "movable_dyn")
    base = spark.createDataFrame(
        [(1, 1, "old", "a"), (2, 1, "keep", "b")],
        "id int, version int, val string, part string",
    )
    base.write.partitionBy("part").mode("overwrite").parquet(table)
    moved = spark.createDataFrame(
        [(1, 2, "moved", "b")], "id int, version int, val string, part string"
    )
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    try:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        upsert_partitioned(
            spark, table, moved,
            keys=["id"], order_col="version", partition_col="part",
            immutable_partitions=False,
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    got = {(r.id, r.val, r.part) for r in spark.read.parquet(table).collect()}
    assert got == {(1, "moved", "b"), (2, "keep", "b")}  # no stale copy in a
    assert spark.conf.get("spark.sql.sources.partitionOverwriteMode") == prev
