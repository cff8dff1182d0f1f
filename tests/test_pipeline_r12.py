"""Round-12 operators: behavioral pins for op263 (RRF hybrid
retrieval) and op264 (CDC apply-changes). Value parity against the
DuckDB oracle is covered generically by test_oracle.py; these tests
pin the SEMANTICS each op claims — the properties a hash match alone
would not localize if they broke."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from ocdb_server_spark.io import load_table
from ocdb_server_spark.operators.lakehouse import (
    _CDC_BASE_MIN_KEY,
    op264_cdc_apply_changes,
)
from ocdb_server_spark.operators.similarity import (
    _RRF_DEPTH,
    _RRF_K,
    _RRF_TOPK,
    op263_rrf_hybrid_topk,
)


# --------------------------------------------------------------------------
# op263: reciprocal-rank fusion
# --------------------------------------------------------------------------


@pytest.fixture(scope="module")
def rrf_rows(spark, sf_dir):
    return op263_rrf_hybrid_topk(spark, sf_dir).collect()


def test_op263_scores_reproduce_from_ranks(rrf_rows):
    """rrf_score must be exactly Σ 1/(K+rank) over the non-null legs —
    fusion uses RANKS only, never raw scores."""
    assert len(rrf_rows) == _RRF_TOPK
    for r in rrf_rows:
        expected = 0.0
        if r.lex_rank is not None:
            expected += 1.0 / (_RRF_K + r.lex_rank)
        if r.dense_rank is not None:
            expected += 1.0 / (_RRF_K + r.dense_rank)
        assert r.rrf_score == expected, r
        assert r.lex_rank is not None or r.dense_rank is not None, r


def test_op263_rank_ranges_and_ordering(rrf_rows):
    """Ranks stay within the per-leg depth, are unique within a leg,
    the query's own doc (id 0) never surfaces, and the output is
    (rrf desc, doc_id) ordered."""
    lex = [r.lex_rank for r in rrf_rows if r.lex_rank is not None]
    den = [r.dense_rank for r in rrf_rows if r.dense_rank is not None]
    assert all(1 <= k <= _RRF_DEPTH for k in lex + den)
    assert len(set(lex)) == len(lex) and len(set(den)) == len(den)
    assert all(r.doc_id != 0 for r in rrf_rows)
    keys = [(-r.rrf_score, r.doc_id) for r in rrf_rows]
    assert keys == sorted(keys)


def test_op263_both_legs_contribute(rrf_rows):
    """The fused top-k must draw from BOTH rankers — a fusion that
    degenerates to one leg (e.g. an empty lexical index) would still
    hash-match a same-bugged oracle, so pin it behaviorally."""
    assert any(r.lex_rank is not None for r in rrf_rows)
    assert any(r.dense_rank is not None for r in rrf_rows)
    # docs found by both rankers outrank equal single-leg ranks by
    # construction; at every shipped SF the planted corpus produces
    # at least one such consensus doc in the top-k
    assert any(
        r.lex_rank is not None and r.dense_rank is not None for r in rrf_rows
    )


def test_op263_consensus_beats_single_leg(rrf_rows):
    """A doc ranked by both legs at ranks (a, b) must score strictly
    above any doc whose only rank is min(a, b) or worse — the RRF
    property that consensus wins."""
    both = [r for r in rrf_rows if r.lex_rank is not None and r.dense_rank is not None]
    single = [r for r in rrf_rows if r.lex_rank is None or r.dense_rank is None]
    for b in both:
        floor_rank = min(b.lex_rank, b.dense_rank)
        for s in single:
            s_rank = s.lex_rank if s.lex_rank is not None else s.dense_rank
            if s_rank >= floor_rank:
                assert b.rrf_score > s.rrf_score, (b, s)


# --------------------------------------------------------------------------
# op264: CDC apply-changes
# --------------------------------------------------------------------------


@pytest.fixture(scope="module")
def cdc_pdf(spark, sf_dir):
    return op264_cdc_apply_changes(spark, sf_dir).toPandas()


@pytest.fixture(scope="module")
def cdc_feed(spark, sf_dir):
    """Independent recomputation of the change feed's last-writer rows
    (plain pandas sort, no window functions — a different algorithm
    than the op's)."""
    ev = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "ts", "event_id", "event_type", "value")
        .toPandas()
    )
    ev = ev.sort_values(["user_id", "ts", "event_id"])
    last = ev.groupby("user_id").tail(1).set_index("user_id")
    counts = ev.groupby("user_id").size()
    return last, counts


def test_op264_statuses_partition_the_keyspace(cdc_pdf, spark, sf_dir):
    """inserted ⇔ key below the base floor; unchanged ⇔ key never in
    the feed; updated ⇔ base key with a surviving upsert. All three
    outcomes must actually occur at every shipped SF."""
    assert set(cdc_pdf["status"].unique()) == {"inserted", "updated", "unchanged"}
    ins = cdc_pdf[cdc_pdf.status == "inserted"]
    assert (ins.user_id < _CDC_BASE_MIN_KEY).all()
    assert (ins.n_changes >= 1).all()
    unch = cdc_pdf[cdc_pdf.status == "unchanged"]
    assert (unch.user_id >= _CDC_BASE_MIN_KEY).all()
    assert (unch.n_changes == 0).all()
    upd = cdc_pdf[cdc_pdf.status == "updated"]
    assert (upd.user_id >= _CDC_BASE_MIN_KEY).all()
    assert (upd.n_changes >= 1).all()
    # no key appears twice: MERGE output is a table, not a log
    assert cdc_pdf.user_id.is_unique


def test_op264_last_writer_wins_and_deletes_drop(cdc_pdf, cdc_feed):
    """Every feed key's fate matches the independently recomputed
    last event: terminal 'error' → absent from the output; terminal
    upsert → present with balance == that event's value."""
    last, counts = cdc_feed
    out = cdc_pdf.set_index("user_id")
    n_deleted = 0
    for uid, ev in last.iterrows():
        if ev.event_type == "error":
            assert uid not in out.index, uid
            n_deleted += 1
        else:
            assert uid in out.index, uid
            assert out.loc[uid, "balance"] == ev.value, uid
            assert out.loc[uid, "n_changes"] == counts[uid], uid
    assert n_deleted >= 1, "the feed must exercise the delete path"


def test_op264_unchanged_rows_pass_base_through(cdc_pdf, cdc_feed, spark, sf_dir):
    """Keys untouched by the feed keep their exact base balance (the
    MERGE must never rewrite rows it didn't match)."""
    last, _ = cdc_feed
    base = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") >= _CDC_BASE_MIN_KEY)
        .select("c_custkey", "c_acctbal")
        .toPandas()
        .set_index("c_custkey")
    )
    out = cdc_pdf.set_index("user_id")
    untouched = base.index.difference(last.index)
    assert len(untouched) > 0
    assert (out.loc[untouched, "status"] == "unchanged").all()
    assert (out.loc[untouched, "balance"] == base.loc[untouched, "c_acctbal"]).all()
    # and row accounting closes: base − deletions-of-base + inserts
    deleted_base = [
        uid
        for uid, ev in last.iterrows()
        if ev.event_type == "error" and uid >= _CDC_BASE_MIN_KEY
    ]
    inserted = [
        uid
        for uid, ev in last.iterrows()
        if ev.event_type != "error" and uid < _CDC_BASE_MIN_KEY
    ]
    assert len(out) == len(base) - len(deleted_base) + len(inserted)


# --------------------------------------------------------------------------
# functions/cdc.py: the generic combinator on a planted feed
# --------------------------------------------------------------------------


def test_apply_changes_planted_feed(spark):
    """The library combinator on a hand-built base/feed covering every
    path at once: multi-column payload, non-payload base columns
    preserved through updates, delete-of-existing, delete-of-
    nonexistent (no row), insert, unchanged, and a key whose EARLIER
    delete is superseded by a later upsert (last-writer-wins on the
    op itself, not just the payload)."""
    from ocdb_server_spark.functions.cdc import apply_changes

    base = spark.createDataFrame(
        [(1, 10.0, "a"), (2, 20.0, "b"), (3, 30.0, "c"), (4, 40.0, "d")],
        "k bigint, bal double, tag string",
    )
    # (k, s, op, bal): key1 updated twice (last wins), key2 deleted,
    # key3 delete-then-upsert (upsert wins), key5 inserted,
    # key6 delete-of-nonexistent, key4 untouched
    feed = spark.createDataFrame(
        [
            (1, 1, "U", 11.0),
            (1, 2, "U", 12.0),
            (2, 1, "U", 21.0),
            (2, 2, "D", None),
            (3, 1, "D", None),
            (3, 2, "U", 33.0),
            (5, 1, "U", 55.0),
            (6, 1, "D", None),
        ],
        "k bigint, s bigint, op string, bal double",
    )
    out = {
        r.k: r
        for r in apply_changes(
            base, feed, key="k", seq=["s"], op_col="op", payload=["bal"]
        ).collect()
    }
    assert set(out) == {1, 3, 4, 5}  # 2 deleted, 6 never existed
    assert (out[1].bal, out[1].tag, out[1].status, out[1].n_changes) == (
        12.0, "a", "updated", 2,
    )
    assert (out[3].bal, out[3].tag, out[3].status, out[3].n_changes) == (
        33.0, "c", "updated", 2,
    )
    assert (out[4].bal, out[4].tag, out[4].status, out[4].n_changes) == (
        40.0, "d", "unchanged", 0,
    )
    # inserted key: payload set, non-payload base columns NULL
    assert (out[5].bal, out[5].tag, out[5].status, out[5].n_changes) == (
        55.0, None, "inserted", 1,
    )


def test_apply_changes_idempotent_on_collapsed_feed(spark):
    """Re-applying an already-applied upsert feed must be a no-op on
    values (every key flips to 'updated'/'inserted' status but the
    merged table is value-identical) — the MERGE property that makes
    at-least-once CDC delivery safe when the feed is replayed."""
    from ocdb_server_spark.functions.cdc import apply_changes

    base = spark.createDataFrame(
        [(1, 10.0), (2, 20.0)], "k bigint, bal double"
    )
    feed = spark.createDataFrame(
        [(1, 1, "U", 11.0), (3, 1, "U", 31.0)],
        "k bigint, s bigint, op string, bal double",
    )
    once = apply_changes(base, feed, key="k", seq=["s"], payload=["bal"])
    # feed the FULL previous output back in — status/n_changes are
    # reserved bookkeeping and must be dropped+rewritten, not
    # duplicated into ambiguous columns
    twice = apply_changes(once, feed, key="k", seq=["s"], payload=["bal"])
    assert twice.columns.count("status") == 1
    assert twice.columns.count("n_changes") == 1
    vals_once = sorted((r.k, r.bal) for r in once.collect())
    vals_twice = sorted((r.k, r.bal) for r in twice.collect())
    assert vals_once == vals_twice == [(1, 11.0), (2, 20.0), (3, 31.0)]
    # statuses reflect THIS application: both feed keys re-matched
    st = {r.k: r.status for r in twice.collect()}
    assert st == {1: "updated", 2: "unchanged", 3: "updated"}


def test_apply_changes_null_keys_and_unknown_ops(spark):
    """Round-12 review pins: (a) a NULL-key base row must pass through
    'unchanged' (NULL never matches — standard MERGE ON semantics),
    not be mislabeled 'inserted'; (b) any non-delete op value upserts
    (Debezium-style 'I' feeds work unmodified), never a silent
    NULL-payload touch."""
    from ocdb_server_spark.functions.cdc import apply_changes

    base = spark.createDataFrame(
        [(None, 99.0), (1, 10.0), (2, 20.0)], "k bigint, bal double"
    )
    feed = spark.createDataFrame(
        [(1, 1, "I", 11.0), (3, 1, "c", 33.0), (2, 1, "D", None)],
        "k bigint, s bigint, op string, bal double",
    )
    rows = apply_changes(
        base, feed, key="k", seq=["s"], payload=["bal"]
    ).collect()
    out = {r.k: r for r in rows}
    # NULL-key base row: untouched, correct status, exact balance
    nul = [r for r in rows if r.k is None]
    assert len(nul) == 1 and nul[0].status == "unchanged"
    assert nul[0].bal == 99.0 and nul[0].n_changes == 0
    # 'I' upserts an existing key; 'c' (any non-delete token) inserts
    assert (out[1].bal, out[1].status) == (11.0, "updated")
    assert (out[3].bal, out[3].status) == (33.0, "inserted")
    assert 2 not in out  # the delete still lands
