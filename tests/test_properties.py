"""Property-based tests (SURVEY.md §5.2.3).

Hypothesis drives the pure-Python surfaces (expr parser round-trip,
header parse) where thousands of examples are free. Spark-side
invariants (paging partition, dedup idempotence, cosine bounds) use
seeded-random data evaluated in ONE batched job per property — a
per-example Spark job would turn a millisecond property into a
minutes-long suite.
"""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from ocdb_server_spark.plans.expr_compiler import (
    BinaryOpQuery,
    FieldRangeQuery,
    FieldValueQuery,
    FieldWildcardQuery,
    QueryParser,
    UnaryOpQuery,
)

# ------------------------------------------------- expr parser round-trip

_field = st.from_regex(r"[a-z][a-z0-9_]{0,8}", fullmatch=True).filter(
    lambda s: s.upper() not in ("AND", "OR", "NOT", "TO")
)
_value = st.from_regex(r"[a-zA-Z0-9_.]{1,10}", fullmatch=True).filter(
    lambda s: s.upper() not in ("AND", "OR", "NOT", "TO") and s[0] not in "+-"
)


def _leaf():
    return st.one_of(
        st.builds(FieldValueQuery, _field, _value),
        st.builds(FieldRangeQuery, _field, _value, _value),
        st.builds(
            FieldWildcardQuery,
            _field,
            _value.map(lambda v: f"*{v}?"),
        ),
    )


_query = st.recursive(
    _leaf(),
    lambda children: st.one_of(
        st.builds(UnaryOpQuery, st.just("NOT"), children),
        st.builds(BinaryOpQuery, st.sampled_from(["AND", "OR"]), children, children),
    ),
    max_leaves=8,
)


def _render(q) -> str:
    """Render an AST back to reference syntax with full parenthesization
    (so precedence can't change the tree)."""
    if isinstance(q, FieldValueQuery):
        return f"{q.field}:{q.value}"
    if isinstance(q, FieldRangeQuery):
        return f"{q.field}:[{q.lo} TO {q.hi}]"
    if isinstance(q, FieldWildcardQuery):
        return f"{q.field}:{q.pattern}"
    if isinstance(q, UnaryOpQuery):
        return f"NOT ({_render(q.child)})"
    if isinstance(q, BinaryOpQuery):
        return f"({_render(q.left)}) {q.op} ({_render(q.right)})"
    raise TypeError(type(q))


@given(_query)
@settings(max_examples=300, deadline=None)
def test_parse_render_roundtrip(q):
    assert QueryParser.parse(_render(q)) == q


@given(st.dictionaries(_field, _value, min_size=1, max_size=8))
@settings(max_examples=200, deadline=None)
def test_parse_header_roundtrip(kv):
    from ocdb_server_spark.sources.seabass import parse_header

    lines = ["/begin_header"] + [f"/{k}={v}" for k, v in kv.items()] + ["/end_header"]
    assert parse_header(lines) == kv


# ------------------------------------------------------ paging invariants


def test_pagination_partitions_the_result(spark, sf_dir):
    """Pages (deterministic total order) are disjoint and their union is
    the whole filtered set — the reference's offset/count contract
    (`find().skip().limit()` [U], op52)."""
    from ocdb_server_spark.io import load_table

    base = load_table(spark, sf_dir, "orders").filter("o_totalprice > 100000")
    total = base.count()
    ordered = base.orderBy("o_orderkey")
    for page_size in (7, 50, 333):
        seen: list[int] = []
        off = 0
        while off < total:
            page = ordered.offset(off).limit(page_size).select("o_orderkey").collect()
            assert len(page) == min(page_size, total - off)
            seen.extend(r["o_orderkey"] for r in page)
            off += page_size
        assert len(seen) == total
        assert len(set(seen)) == total  # disjoint
        assert seen == sorted(seen)     # ordered union = whole


# --------------------------------------------------- dedup idempotence


def test_dedup_idempotent(spark, sf_dir):
    from ocdb_server_spark.io import load_table

    docs = load_table(spark, sf_dir, "documents")
    once = docs.dropDuplicates(["text"])
    twice = once.dropDuplicates(["text"])
    n1, n2 = once.count(), twice.count()
    assert n1 == n2
    assert n1 <= docs.count()


# ------------------------------------------- cosine symmetry and bounds


def test_cosine_properties_batched(spark):
    """cos(a,b) == cos(b,a), |cos| <= 1, cos(a,a) == 1 — checked for 200
    seeded random vector pairs in one Spark job, against numpy."""
    from ocdb_server_spark.functions.vector import cosine

    rng = np.random.default_rng(42)
    pairs = [
        (i, rng.standard_normal(16).tolist(), rng.standard_normal(16).tolist())
        for i in range(200)
    ]
    df = spark.createDataFrame(pairs, "id int, a array<double>, b array<double>")
    from pyspark.sql import functions as F

    out = df.select(
        "id",
        cosine(F.col("a"), F.col("b")).alias("ab"),
        cosine(F.col("b"), F.col("a")).alias("ba"),
        cosine(F.col("a"), F.col("a")).alias("aa"),
    ).collect()
    by_id = {r["id"]: r for r in out}
    for i, a, b in pairs:
        r = by_id[i]
        expect = float(
            np.dot(a, b) / (np.linalg.norm(a) * np.linalg.norm(b))
        )
        assert r["ab"] == pytest.approx(expect, abs=1e-9)
        assert r["ab"] == pytest.approx(r["ba"], abs=1e-12)  # symmetry
        assert -1.0 - 1e-12 <= r["ab"] <= 1.0 + 1e-12        # bounds
        assert r["aa"] == pytest.approx(1.0, abs=1e-12)      # self-similarity


# ------------------------------------------------------------ CDC merge


def test_cdc_incremental_random_feed_batched(spark):
    """Seeded-random CDC feed, three adversarial batch splits: the
    incremental store path must end byte-identical to the one-shot
    apply_changes, and BOTH must match an independent pure-python
    reference of the MERGE semantics (last-writer-wins by (ts, eid),
    terminal delete drops, unmatched base passes through). One batched
    Spark evaluation per split — not per example (module convention)."""
    import random

    from ocdb_server_spark.functions.cdc import (
        apply_changes,
        apply_changes_incremental,
        finish_store,
        seed_store,
    )

    rng = random.Random(20260816)
    n_keys, n_changes = 40, 300
    base_rows = [(k, float(k) * 10) for k in range(10, 35)]
    seqs = rng.sample(range(10_000), n_changes)  # unique seq values
    feed_rows = [
        (
            rng.randrange(n_keys),
            seqs[i],
            i,
            "D" if rng.random() < 0.25 else "U",
            round(rng.uniform(0, 100), 3),
        )
        for i in range(n_changes)
    ]

    # pure-python reference (independent of both Spark paths)
    last: dict = {}
    counts: dict = {}
    for k, ts, eid, op, val in feed_rows:
        counts[k] = counts.get(k, 0) + 1
        if k not in last or (ts, eid) > (last[k][0], last[k][1]):
            last[k] = (ts, eid, op, val)
    base_map = dict(base_rows)
    expected = set()
    for k, bal in base_map.items():
        if k not in last:
            expected.add((k, bal, "unchanged", 0))
        elif last[k][2] != "D":
            expected.add((k, last[k][3], "updated", counts[k]))
    for k, (ts, eid, op, val) in last.items():
        if k not in base_map and op != "D":
            expected.add((k, val, "inserted", counts[k]))

    ddl = "user_id int, ts long, event_id long, op string, balance double"
    base = spark.createDataFrame(base_rows, "user_id int, balance double")
    feed = spark.createDataFrame(feed_rows, ddl)
    oneshot = {
        tuple(r)
        for r in apply_changes(
            base, feed, key="user_id", seq=["ts", "event_id"],
            payload=["balance"],
        ).collect()
    }
    assert oneshot == expected

    splits = [
        lambda r: r[2] % 3,                # interleaved (op265's shape)
        lambda r: 0 if r[1] > 5000 else 1,  # newest changes FIRST
        lambda r: rng.randrange(4),        # seeded-random assignment
    ]
    for f in splits:
        batches: dict = {}
        for r in feed_rows:
            batches.setdefault(f(r), []).append(r)
        store = seed_store(
            base, "user_id", ["ts", "event_id"], ["long", "long"]
        )
        for bid in sorted(batches):
            b = spark.createDataFrame(batches[bid], ddl)
            store = apply_changes_incremental(
                store, b, key="user_id", seq=["ts", "event_id"],
                payload=["balance"],
            )
        got = {
            tuple(r)
            for r in finish_store(store, "user_id", ["ts", "event_id"]).collect()
        }
        assert got == expected, f"split {f} diverged from the reference"
