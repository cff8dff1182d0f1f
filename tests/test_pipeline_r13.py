"""Round-13 operators: behavioral pins for op265 (streaming CDC
apply-changes). Value parity against the DuckDB oracle is covered
generically by test_oracle.py; these tests pin the SEMANTICS — the
properties a hash match alone would not localize if they broke:
order-independence across micro-batches, replay idempotence against a
MUTABLE store, and tombstones keeping deleted keys' watermarks alive.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ocdb_server_spark.functions.cdc import (
    apply_changes,
    apply_changes_incremental,
    finish_store,
    seed_store,
)

FEED_DDL = "user_id int, ts long, event_id long, op string, balance double"
SEQ = ["ts", "event_id"]
SEQ_TYPES = ["long", "long"]

# one feed exercising every merge outcome, with per-key seq order
# deliberately NOT arrival order
FEED_ROWS = [
    (5, 10, 1, "U", 5.1),   # update base key...
    (5, 20, 2, "D", None),  # ...then terminal delete → dropped
    (6, 15, 3, "U", 6.1),   # last writer
    (6, 5, 4, "U", 6.9),    # stale older change — must lose
    (2, 8, 5, "U", 2.1),    # insert (no base row)
    (3, 9, 6, "D", None),   # delete-of-nonexistent → no row
    (7, 30, 7, "D", None),  # delete base key...
    (7, 40, 8, "U", 7.7),   # ...then re-insert at higher seq → updated
]


@pytest.fixture(scope="module")
def cdc_base(spark):
    return spark.createDataFrame(
        [(5, 50.0), (6, 60.0), (7, 70.0), (8, 80.0)],
        "user_id int, balance double",
    )


@pytest.fixture(scope="module")
def oneshot_expected(spark, cdc_base):
    feed = spark.createDataFrame(FEED_ROWS, FEED_DDL)
    return [
        tuple(r)
        for r in apply_changes(
            cdc_base, feed, key="user_id", seq=SEQ, payload=["balance"]
        )
        .orderBy("user_id")
        .collect()
    ]


def _run_incremental(spark, base, batches):
    store = seed_store(base, "user_id", SEQ, SEQ_TYPES)
    for rows in batches:
        b = spark.createDataFrame(rows, FEED_DDL)
        store = apply_changes_incremental(
            store, b, key="user_id", seq=SEQ, payload=["balance"]
        )
    return [
        tuple(r)
        for r in finish_store(store, "user_id", SEQ)
        .orderBy("user_id")
        .collect()
    ]


def test_incremental_equals_oneshot_any_split(spark, cdc_base, oneshot_expected):
    """The op265 contract: applying the feed as micro-batches — under
    ANY split, including ones that put OLDER changes in LATER batches —
    ends byte-identical to one apply_changes over the whole feed."""
    splits = [
        lambda r: r[2] % 2,          # interleaved by event_id (op265's split)
        lambda r: 0 if r[1] > 12 else 1,  # newest changes arrive FIRST
        lambda r: 0,                 # single batch
        lambda r: r[2] % 3,
    ]
    for f in splits:
        batches: dict[int, list] = {}
        for r in FEED_ROWS:
            batches.setdefault(f(r), []).append(r)
        got = _run_incremental(
            spark, cdc_base, [batches[k] for k in sorted(batches)]
        )
        assert got == oneshot_expected, f"split {f} diverged"


def test_replayed_batch_is_idempotent(spark, cdc_base, oneshot_expected):
    """Applying the same batch TWICE through the seq watermark changes
    no value (the manifest skip in the job is the first line of
    defense; the watermark makes even a re-applied batch value-safe —
    only n_changes would inflate, which is exactly why the job's
    marker check must exist and is asserted in-op)."""
    store = seed_store(cdc_base, "user_id", SEQ, SEQ_TYPES)
    b = spark.createDataFrame(FEED_ROWS, FEED_DDL)
    once = apply_changes_incremental(
        store, b, key="user_id", seq=SEQ, payload=["balance"]
    )
    twice = apply_changes_incremental(
        once, b, key="user_id", seq=SEQ, payload=["balance"]
    )
    vals = lambda df: [  # noqa: E731
        (r.user_id, r.balance)
        for r in finish_store(df, "user_id", SEQ).orderBy("user_id").collect()
    ]
    assert vals(twice) == vals(once) == [
        (u, bal) for (u, bal, _s, _n) in oneshot_expected
    ]


def test_tombstone_keeps_watermark_alive(spark, cdc_base):
    """A deleted key must retain its applied-seq watermark: a LATER
    batch carrying an OLDER upsert must not resurrect it (physical
    deletion would lose the watermark and wrongly re-insert)."""
    store = seed_store(cdc_base, "user_id", SEQ, SEQ_TYPES)
    b1 = spark.createDataFrame([(5, 20, 1, "D", None)], FEED_DDL)
    b2 = spark.createDataFrame([(5, 10, 2, "U", 5.5)], FEED_DDL)  # stale
    store = apply_changes_incremental(
        store, b1, key="user_id", seq=SEQ, payload=["balance"]
    )
    store = apply_changes_incremental(
        store, b2, key="user_id", seq=SEQ, payload=["balance"]
    )
    out = finish_store(store, "user_id", SEQ)
    assert out.filter(F.col("user_id") == 5).count() == 0
    # ...and n_changes still counted the stale change for survivors’ audit
    raw = store.filter(F.col("user_id") == 5).collect()
    assert len(raw) == 1 and raw[0]["n_changes"] == 2


def test_seed_store_guards(spark, cdc_base):
    with pytest.raises(ValueError, match="seq_types"):
        seed_store(cdc_base, "user_id", SEQ, ["long"])
    # __-prefixed bookkeeping names are a hard error — never a
    # legitimate user column
    poisoned = cdc_base.withColumn("__deleted", F.lit(True))
    with pytest.raises(ValueError, match="reserve"):
        seed_store(poisoned, "user_id", SEQ, SEQ_TYPES)
    # status/n_changes are apply_changes' RESERVED output names:
    # seeding from a previous application's output (the replay-chain
    # case) drops and rewrites them, mirroring the one-shot path —
    # round-13 review: 'status' used to slip through and finish_store
    # minted a DUPLICATE status column
    chained = cdc_base.withColumn("status", F.lit("updated")).withColumn(
        "n_changes", F.lit(9).cast("bigint")
    )
    store = seed_store(chained, "user_id", SEQ, SEQ_TYPES)
    out = finish_store(store, "user_id", SEQ)
    assert out.columns.count("status") == 1
    assert [r.status for r in out.collect()] == ["unchanged"] * 4
    assert all(r.n_changes == 0 for r in out.collect())


def test_null_key_merge_semantics_match_oneshot(spark):
    """NULL keys follow MERGE ON semantics (never match the BASE) in
    BOTH paths, and the incremental path must not re-insert a new
    NULL row per batch: one-shot collapses all NULL-key changes to one
    winner; incremental's previously-INSERTED NULL row (and only that
    one) absorbs later NULL changes (round-13 review)."""
    base = spark.createDataFrame(
        [(None, 99.0), (8, 80.0)], "user_id int, balance double"
    )
    feed_rows = [
        (None, 10, 1, "U", 1.0),
        (None, 20, 2, "U", 2.0),   # later writer, lands in batch 2
        (8, 15, 3, "U", 8.5),
    ]
    feed = spark.createDataFrame(feed_rows, FEED_DDL)
    exp = sorted(
        (tuple(r) for r in apply_changes(
            base, feed, key="user_id", seq=SEQ, payload=["balance"]
        ).collect()),
        key=repr,
    )
    # split so each batch carries one NULL-key change
    store = seed_store(base, "user_id", SEQ, SEQ_TYPES)
    for rows in ([feed_rows[0], feed_rows[2]], [feed_rows[1]]):
        b = spark.createDataFrame(rows, FEED_DDL)
        store = apply_changes_incremental(
            store, b, key="user_id", seq=SEQ, payload=["balance"]
        )
    got = sorted(
        (tuple(r) for r in finish_store(store, "user_id", SEQ).collect()),
        key=repr,
    )
    assert got == exp
    # the NULL base row passed through unchanged AND exactly one
    # NULL-key insert exists (not one per batch)
    nulls = [t for t in got if t[0] is None]
    assert len(nulls) == 2
    assert {t[2] for t in nulls} == {"unchanged", "inserted"}
    ins = next(t for t in nulls if t[2] == "inserted")
    assert ins[1] == 2.0 and ins[3] == 2  # last writer won, both counted


def test_op265_streaming_matches_op264_batch(spark, sf_dir):
    """The verdict's done-criterion: the streamed, micro-batched,
    replay-hardened op265 ends EXACTLY where op264's one-shot batch
    MERGE ends on the same feed (the in-op asserts additionally prove
    a duplicated batch commits nothing — they run inside this call)."""
    from ocdb_server_spark.operators.lakehouse import (
        op264_cdc_apply_changes,
        op265_stream_cdc_apply_changes,
    )

    got = sorted(
        tuple(r) for r in op265_stream_cdc_apply_changes(spark, sf_dir).collect()
    )
    exp = sorted(
        tuple(r) for r in op264_cdc_apply_changes(spark, sf_dir).collect()
    )
    assert got == exp


# --------------------------------------------------------------------------
# op266: hybrid retrieval served from the persisted PQ index
# --------------------------------------------------------------------------


@pytest.fixture(scope="module")
def served_rows(spark, sf_dir):
    from ocdb_server_spark.operators.similarity import (
        op266_rrf_hybrid_serving,
    )

    return op266_rrf_hybrid_serving(spark, sf_dir).collect()


def test_op266_no_training_in_query_plan(spark, sf_dir):
    """The serving contract: the fused query plan must carry ZERO
    training aggregation — the codebook subtree is a parquet-artifact
    scan (op180's plan gate extended to the fused plan)."""
    import os

    from ocdb_server_spark.functions.ann_index import index_path
    from ocdb_server_spark.operators.similarity import _PQ_K, op266_rrf_hybrid_serving

    plan = (
        op266_rrf_hybrid_serving(spark, sf_dir)
        ._jdf.queryExecution()
        .toString()
    )
    assert "collect_list" not in plan, "training aggregation leaked into query"
    art = os.path.basename(index_path(sf_dir, "pq", {"k": _PQ_K}))
    assert art in plan, "query must scan the persisted codebook artifact"


def test_op266_scores_reproduce_from_ranks(served_rows):
    """Same fusion arithmetic as op263: rrf_score is exactly
    Σ 1/(60+rank) over the non-null legs."""
    from ocdb_server_spark.operators.similarity import _RRF_K, _RRF_TOPK

    assert len(served_rows) == _RRF_TOPK
    for r in served_rows:
        expected = 0.0
        if r.lex_rank is not None:
            expected += 1.0 / (_RRF_K + r.lex_rank)
        if r.dense_rank is not None:
            expected += 1.0 / (_RRF_K + r.dense_rank)
        assert r.rrf_score == expected, r
        assert r.doc_id != 0, r


def test_op266_lexical_leg_identical_to_op263(spark, sf_dir, served_rows):
    """Swapping the DENSE ranker must not touch the lexical leg: the
    (doc_id, lex_rank) pairs are identical across the twins — only
    dense_rank (and hence fusion order membership) may move."""
    from ocdb_server_spark.operators.similarity import op263_rrf_hybrid_topk

    exact = {
        r.doc_id: r.lex_rank
        for r in op263_rrf_hybrid_topk(spark, sf_dir).collect()
        if r.lex_rank is not None
    }
    for r in served_rows:
        if r.lex_rank is not None and r.doc_id in exact:
            assert r.lex_rank == exact[r.doc_id], r


def test_op266_high_overlap_with_exact_twin(spark, sf_dir, served_rows):
    """The PQ-served top-20 must stay close to the exact twin's: ≥ 70%
    doc overlap (the dense leg's own recall@10 ≥ 0.9 gate lives with
    op180; fusion dampens residual rank noise further)."""
    from ocdb_server_spark.operators.similarity import op263_rrf_hybrid_topk

    exact_ids = {r.doc_id for r in op263_rrf_hybrid_topk(spark, sf_dir).collect()}
    served_ids = {r.doc_id for r in served_rows}
    overlap = len(exact_ids & served_ids) / len(exact_ids)
    assert overlap >= 0.7, f"overlap {overlap:.2f} too low"


def test_collapse_feed_keep_seq_tolerates_overlap(spark):
    """keep_seq must not double-select a seq column that is also the
    key or a payload column — the duplicate made every downstream
    F.col reference ambiguous (round-13 review)."""
    from ocdb_server_spark.functions.cdc import collapse_feed

    feed = spark.createDataFrame(
        [(1, 10, 5, "U"), (1, 20, 6, "U")],
        "id int, ts long, event_id long, op string",
    )
    out = collapse_feed(
        feed, key="id", seq=["ts", "event_id"], op_col="op",
        payload=["ts"], keep_seq=True,
    )
    assert out.columns.count("ts") == 1
    [row] = out.collect()
    assert (row.ts, row.event_id, row.n_changes) == (20, 6, 2)
