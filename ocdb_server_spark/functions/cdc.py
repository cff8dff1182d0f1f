"""CDC apply-changes: merge a keyed change feed into a base snapshot.

The library form of op264 (operators/lakehouse.py) — the MERGE INTO /
APPLY CHANGES INTO semantics of a lakehouse upsert sink, exposed as a
reusable DataFrame combinator so a pipeline can merge ANY feed into ANY
snapshot, not just the registered op's tables:

    out = apply_changes(
        base,                       # snapshot: one row per key
        changes,                    # feed: (key, seq..., op, payload...)
        key="user_id",
        seq=["ts", "event_id"],     # total order within a key
        op_col="op",                # 'U' upsert / 'D' delete
        payload=["balance"],        # columns an upsert overwrites
    )

Semantics (deterministic given a total (key, seq) order):
- last-writer-wins: only each key's highest-seq change row acts;
- terminal 'D' drops the key — including delete-of-nonexistent, the
  MERGE no-op case (no row appears);
- terminal 'U' upserts: payload columns replaced for an existing base
  key (status 'updated'), the whole row inserted for a new key
  (status 'inserted'; non-payload base columns stay NULL);
- keys the feed never touches pass through byte-identical
  ('unchanged', n_changes 0).

100 TB shape (the reason this is a combinator and not a loop): the
feed collapses to ≤1 row/key with ONE key-partitioned window — the
shuffle carries only (key, seq, op, payload), and a real CDC feed is
orders smaller than its base — then ONE full-outer sort-merge join on
the key applies it. The base is shuffled at most once and never
windowed; against a bucketed/z-ordered base (op159/op161) the join
co-locates. Spark cannot broadcast a full-outer side, which is the
correct default here anyway: at serving scale both sides are large,
and AQE still locally prunes empty partitions.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window as W, functions as F

#: status values emitted in the ``status`` column
STATUS_INSERTED = "inserted"
STATUS_UPDATED = "updated"
STATUS_UNCHANGED = "unchanged"


def collapse_feed(
    changes: DataFrame,
    key: str,
    seq: Sequence[str],
    op_col: str = "op",
    payload: Sequence[str] = ("value",),
    keep_seq: bool = False,
) -> DataFrame:
    """Collapse a change feed to its last-writer row per key.

    Returns one row per key: (key, op, *payload, n_changes) — plus the
    winning row's ``seq`` columns when ``keep_seq`` (the incremental
    path needs the watermark to guard against out-of-order batches).
    This is the only shuffle the feed pays; everything downstream is
    join-side.
    """
    seq_desc = [F.col(c).desc() for c in seq]
    w_seq = W.partitionBy(key).orderBy(*seq_desc)
    # a seq column that is ALSO the key or a payload column is already
    # in the select — listing it twice would make every downstream
    # F.col(name) ambiguous (round-13 review)
    seq_extra = (
        [c for c in seq if c not in payload and c != key]
        if keep_seq
        else ()
    )
    return (
        changes.withColumn("__rn", F.row_number().over(w_seq))
        .withColumn("__n_changes", F.count("*").over(W.partitionBy(key)))
        .filter(F.col("__rn") == 1)
        .select(
            key,
            op_col,
            *payload,
            *seq_extra,
            F.col("__n_changes").alias("n_changes"),
        )
    )


def apply_changes(
    base: DataFrame,
    changes: DataFrame,
    key: str,
    seq: Sequence[str],
    op_col: str = "op",
    payload: Sequence[str] = ("value",),
    base_key: str | None = None,
    upsert_op: str = "U",
    delete_op: str = "D",
) -> DataFrame:
    """MERGE a change feed into a base snapshot (last-writer-wins).

    base: one row per ``base_key`` (defaults to ``key``); all its
      columns survive. Each payload column must have a base column of
      the SAME NAME to overwrite (align the feed with ``alias`` first
      when names differ).
    changes: the feed; ``op_col`` holds the operation — ``delete_op``
      deletes, ANY other value upserts (collapse_feed's contract, so a
      Debezium-style I/U/D feed works unmodified; ``upsert_op`` is
      kept for signature compatibility). ``seq`` columns give the
      total per-key order. NULL keys follow standard MERGE ON
      semantics: they never match (a NULL-key base row passes through
      'unchanged'; a NULL-key upsert inserts a NULL-key row).

    Output = base columns (payload columns merged) + ``status``
    (inserted/updated/unchanged) + ``n_changes``. Deleted keys emit no
    row. ``status``/``n_changes`` are RESERVED bookkeeping names: if
    the base already carries them (the output of a previous
    apply_changes fed back in — the at-least-once replay case), they
    are dropped and rewritten for THIS application, so chained applies
    stay unambiguous instead of accumulating duplicate columns. The
    op-facing instantiation (and the DuckDB-oracle certification of
    these semantics) is op264_cdc_apply_changes.
    """
    reserved = [c for c in ("status", "n_changes") if c in base.columns]
    if reserved:
        base = base.drop(*reserved)
    bkey = base_key or key
    # Presence marker: side-membership must be tested via a
    # never-NULL literal, NOT via key-nullability (round-12 review —
    # a NULL-key base row matches nothing in the join, and testing
    # base[bkey].isNull() would mislabel it 'inserted'; with the
    # marker it correctly passes through 'unchanged', NULL keys never
    # matching being standard MERGE ON semantics).
    base = base.withColumn("__base_present", F.lit(True))
    last = collapse_feed(changes, key, seq, op_col, payload)
    # Alias EVERY change-side column to a fresh name: aliasing mints
    # new attribute ids, so the join stays resolvable even when base
    # and feed share lineage (e.g. re-applying a feed to the output of
    # a previous apply_changes — the at-least-once replay case pinned
    # in tests), and a same-named key/payload can't collide either.
    last = last.select(
        *[F.col(c).alias(f"__chg_{c}") for c in last.columns]
    )
    chg = lambda c: F.col(f"__chg_{c}")  # noqa: E731
    merged = base.join(
        last, base[bkey] == chg(key), "full_outer"
    ).filter(chg(op_col).isNull() | (chg(op_col) != delete_op))

    is_insert = F.col("__base_present").isNull()
    is_unchanged = chg(op_col).isNull()

    def merged_col(c: str) -> Column:
        if c == bkey:
            return F.coalesce(base[bkey], chg(key)).alias(bkey)
        if c in payload:
            # any surviving non-delete op is an upsert — the exact
            # contract collapse_feed documents ("delete_op deletes,
            # anything else upserts"); gating on == upsert_op would
            # silently treat a Debezium-style 'I' as a NULL-payload
            # touch (round-12 review)
            return (
                F.when(chg(op_col).isNotNull(), chg(c))
                .otherwise(base[c])
                .alias(c)
            )
        return base[c]

    return merged.select(
        *[
            merged_col(c)
            for c in base.columns
            if c != "__base_present"
        ],
        F.when(is_insert, F.lit(STATUS_INSERTED))
        .when(is_unchanged, F.lit(STATUS_UNCHANGED))
        .otherwise(F.lit(STATUS_UPDATED))
        .alias("status"),
        F.coalesce(chg("n_changes"), F.lit(0)).cast("bigint").alias("n_changes"),
    )


# ------------------------------------------------------------------
# Incremental (micro-batch) application — the streaming CDC path
# ------------------------------------------------------------------
# apply_changes above is ONE-SHOT: it assumes the whole feed is in
# hand, so "last writer" is decidable inside the call. A streaming
# feed arrives as micro-batches in ARRIVAL order, which is not seq
# order — batch N+1 can carry a change OLDER than one batch N already
# applied. The incremental store therefore keeps, per key:
#   - the applied seq watermark (__seq_<c> per seq column): a batch's
#     winning change acts only when its seq beats the watermark, so
#     application is ORDER-INDEPENDENT across batches (each key's end
#     value is the global max-seq change, however the feed is split);
#   - a tombstone (__deleted) instead of physically dropping deleted
#     keys: the watermark and change count must survive a delete or a
#     later re-insert in another batch would mis-order / under-count;
#   - __in_base (was the key in the ORIGINAL snapshot): final status
#     depends only on (in base, ever touched), so it must be sticky
#     across batches, not recomputed per batch.
# finish_store() projects this bookkeeping back to apply_changes'
# public output contract — seeding a store, applying the batches in
# ANY split/order, then finishing is certified equivalent to one
# apply_changes call over the concatenated feed (op265 vs op264's
# oracle; also pinned directly in tests/test_lakehouse.py).

#: reserved bookkeeping column names of the incremental store
IN_BASE_COL = "__in_base"
DELETED_COL = "__deleted"


def _seq_col(c: str) -> str:
    return f"__seq_{c}"


def seed_store(
    base: DataFrame,
    key: str,
    seq: Sequence[str],
    seq_types: Sequence[str],
) -> DataFrame:
    """Turn a base snapshot (one row per key) into an incremental CDC
    store: watermark NULL (any change beats it), no tombstones, every
    row marked as originating in the base. ``seq_types`` gives the
    feed's DDL type per seq column (aligned with ``seq``) — the base
    doesn't carry them, and an untyped NULL watermark would seed a
    void column the parquet store can't round-trip."""
    if len(seq) != len(seq_types):
        raise ValueError(
            f"seq_types has {len(seq_types)} entries for {len(seq)} "
            f"seq columns {list(seq)!r}"
        )
    # status/n_changes are apply_changes' documented RESERVED output
    # names: a base that carries them is a previous application's
    # output fed back in (the replay-chain case), so drop-and-rewrite
    # exactly as the one-shot path does — finish_store will mint fresh
    # ones. The __-prefixed bookkeeping names stay a hard error: they
    # are never a legitimate user column (round-13 review: 'status'
    # used to slip through and finish_store minted a duplicate).
    reserved = [c for c in ("status", "n_changes") if c in base.columns]
    if reserved:
        base = base.drop(*reserved)
    clash = (
        {IN_BASE_COL, DELETED_COL} | {_seq_col(c) for c in seq}
    ) & set(base.columns)
    if clash:
        raise ValueError(
            f"seed_store reserves bookkeeping columns {sorted(clash)}; "
            "rename them in `base` first"
        )
    out = (
        base.withColumn(IN_BASE_COL, F.lit(True))
        .withColumn(DELETED_COL, F.lit(False))
        .withColumn("n_changes", F.lit(0).cast("bigint"))
    )
    for c, t in zip(seq, seq_types):
        out = out.withColumn(_seq_col(c), F.lit(None).cast(t))
    return out


def apply_changes_incremental(
    store: DataFrame,
    changes: DataFrame,
    key: str,
    seq: Sequence[str],
    op_col: str = "op",
    payload: Sequence[str] = ("value",),
    delete_op: str = "D",
) -> DataFrame:
    """Merge ONE micro-batch of changes into an incremental store
    (see the module-section comment above for the invariants).

    Plan shape per batch: the batch collapses with one key window
    (shuffle carries only the batch — a micro-batch is tiny), then one
    full-outer join against the store on the key; the store is
    shuffled at most once per batch and never windowed. n_changes
    counts EVERY feed row for the key (matching apply_changes'
    COUNT(*) contract) even when the value itself loses to the
    watermark."""
    last = collapse_feed(
        changes, key, seq, op_col, payload, keep_seq=True
    )
    last = last.select(
        *[F.col(c).alias(f"__chg_{c}") for c in last.columns]
    )
    chg = lambda c: F.col(f"__chg_{c}")  # noqa: E731
    # NULL-key MERGE semantics must match the one-shot twin under any
    # batch split (round-13 review): in apply_changes, NULL keys never
    # match the BASE (a NULL-key base row passes through; a NULL-key
    # upsert inserts one row, because collapse_feed groups all NULL
    # keys into ONE winner). Across batches, each batch has its own
    # NULL winner — so the store's previously-INSERTED NULL row (and
    # only that one: __in_base=false) must absorb later NULL changes,
    # or every batch would insert a fresh NULL row. eqNullSafe keeps
    # the join hash/SMJ-plannable; the conjunct restores never-match-
    # the-base for NULL keys.
    merged = store.join(
        last,
        store[key].eqNullSafe(chg(key))
        & (store[key].isNotNull() | ~store[IN_BASE_COL]),
        "full_outer",
    )

    # does the batch's winning change beat the applied watermark?
    # (struct comparison = lexicographic over the seq columns; a NULL
    # watermark — never touched — loses to any real seq)
    wm = F.struct(*[store[_seq_col(c)] for c in seq])
    batch_seq = F.struct(*[chg(c) for c in seq])
    newer = chg(op_col).isNotNull() & (
        F.col(IN_BASE_COL).isNull()  # brand-new key: nothing to beat
        | store[_seq_col(seq[0])].isNull()
        | (batch_seq > wm)
    )

    cols = []
    for c in store.columns:
        if c == key:
            cols.append(F.coalesce(store[key], chg(key)).alias(key))
        elif c == IN_BASE_COL:
            cols.append(
                F.coalesce(F.col(IN_BASE_COL), F.lit(False)).alias(c)
            )
        elif c == DELETED_COL:
            cols.append(
                F.when(newer, chg(op_col) == delete_op)
                .otherwise(F.coalesce(F.col(DELETED_COL), F.lit(False)))
                .alias(c)
            )
        elif c == "n_changes":
            cols.append(
                (
                    F.coalesce(F.col("n_changes"), F.lit(0))
                    + F.coalesce(chg("n_changes"), F.lit(0))
                )
                .cast("bigint")
                .alias(c)
            )
        elif c in {_seq_col(s) for s in seq}:
            s = c[len("__seq_"):]
            cols.append(F.when(newer, chg(s)).otherwise(store[c]).alias(c))
        elif c in payload:
            cols.append(
                F.when(newer & (chg(op_col) != delete_op), chg(c))
                .otherwise(store[c])
                .alias(c)
            )
        else:
            cols.append(store[c])
    return merged.select(*cols)


def finish_store(store: DataFrame, key: str, seq: Sequence[str]) -> DataFrame:
    """Project an incremental store back to apply_changes' public
    output: tombstones dropped, bookkeeping folded into
    status/n_changes."""
    keep = [
        c
        for c in store.columns
        if c not in {IN_BASE_COL, DELETED_COL, "n_changes"}
        and c not in {_seq_col(s) for s in seq}
    ]
    return store.filter(~F.col(DELETED_COL)).select(
        *keep,
        F.when(~F.col(IN_BASE_COL), F.lit(STATUS_INSERTED))
        .when(F.col("n_changes") == 0, F.lit(STATUS_UNCHANGED))
        .otherwise(F.lit(STATUS_UPDATED))
        .alias("status"),
        F.col("n_changes"),
    )
