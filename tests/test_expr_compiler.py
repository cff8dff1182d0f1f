"""Unit tests for the Lucene-ish expr → Column compiler (SURVEY.md
§7.4; mirrors the reference's parser test habit — golden ASTs plus
error positions, `tests/core/query/test_parser.py` [U])."""

from __future__ import annotations

import pytest

from ocdb_server_spark.plans.expr_compiler import (
    BinaryOpQuery,
    FieldRangeQuery,
    FieldValueQuery,
    FieldWildcardQuery,
    PhraseQuery,
    QueryParser,
    QuerySyntaxError,
    UnaryOpQuery,
    compile_expr,
    tokenize,
)

# ------------------------------------------------------------- tokenizer


def test_tokenize_kinds_and_positions():
    toks = tokenize('name:widget AND size:[1 TO 5] "deep sea"')
    kinds = [t.kind for t in toks]
    assert kinds == [
        "word", "colon", "word",          # name : widget
        "word",                            # AND
        "word", "colon",                   # size :
        "lbrack", "word", "word", "word", "rbrack",  # [ 1 TO 5 ]
        "quoted",                          # "deep sea"
    ]
    assert toks[0].pos == 0
    assert toks[-1].text == '"deep sea"'


# ----------------------------------------------------------- parser ASTs


@pytest.mark.parametrize(
    "expr,ast",
    [
        ("chl", PhraseQuery("chl")),
        ('"deep sea"', PhraseQuery("deep sea")),
        ("name:widget", FieldValueQuery("name", "widget")),
        (
            'investigators:"Jane Doe"',
            FieldValueQuery("investigators", "Jane Doe", quoted=True),
        ),
        ("depth:[10 TO 100]", FieldRangeQuery("depth", "10", "100")),
        ("depth:[* TO 100]", FieldRangeQuery("depth", "*", "100")),
        ("name:*widget*", FieldWildcardQuery("name", "*widget*")),
        ("name:?ed*", FieldWildcardQuery("name", "?ed*")),
        ("NOT name:x", UnaryOpQuery("NOT", FieldValueQuery("name", "x"))),
        ("-name:x", UnaryOpQuery("-", FieldValueQuery("name", "x"))),
        ("+name:x", UnaryOpQuery("+", FieldValueQuery("name", "x"))),
        (
            "a:1 AND b:2",
            BinaryOpQuery("AND", FieldValueQuery("a", "1"), FieldValueQuery("b", "2")),
        ),
        (   # juxtaposition = AND (reference grammar)
            "a:1 b:2",
            BinaryOpQuery("AND", FieldValueQuery("a", "1"), FieldValueQuery("b", "2")),
        ),
        (
            "a:1 OR b:2 AND c:3",  # AND binds tighter than OR
            BinaryOpQuery(
                "OR",
                FieldValueQuery("a", "1"),
                BinaryOpQuery("AND", FieldValueQuery("b", "2"), FieldValueQuery("c", "3")),
            ),
        ),
        (
            "(a:1 OR b:2) AND c:3",
            BinaryOpQuery(
                "AND",
                BinaryOpQuery("OR", FieldValueQuery("a", "1"), FieldValueQuery("b", "2")),
                FieldValueQuery("c", "3"),
            ),
        ),
    ],
)
def test_parse_golden(expr, ast):
    assert QueryParser.parse(expr) == ast


@pytest.mark.parametrize(
    "bad",
    [
        "(a:1",            # unclosed paren
        "depth:[1 5]",     # missing TO
        "depth:[1 TO 5",   # unclosed bracket
        "name:",           # missing value
        "a:1)",            # trailing token
    ],
)
def test_parse_errors_raise_with_position(bad):
    with pytest.raises(QuerySyntaxError):
        QueryParser.parse(bad)


# ---------------------------------------------- compiled predicate semantics


@pytest.fixture(scope="module")
def parts(spark):
    return spark.createDataFrame(
        [
            (1, "green widget", 10, "alpha lab"),
            (2, "red gadget", 50, "beta lab"),
            (3, "blue widget", 100, "alpha works"),
            (4, "red widget", 5, "gamma lab"),
        ],
        "id int, name string, size int, affil string",
    )


def _ids(df, cond):
    return sorted(r["id"] for r in df.filter(cond).collect())


def test_compile_field_value(parts):
    assert _ids(parts, compile_expr("name:'red gadget'".replace("'", '"'))) == [2]


def test_compile_range_numeric(parts):
    assert _ids(parts, compile_expr("size:[10 TO 100]")) == [1, 2, 3]
    assert _ids(parts, compile_expr("size:[* TO 10]")) == [1, 4]


def test_compile_wildcard(parts):
    assert _ids(parts, compile_expr("name:*widget*")) == [1, 3, 4]
    assert _ids(parts, compile_expr("name:r?d*")) == [2, 4]


def test_compile_bool_combinators(parts):
    assert _ids(parts, compile_expr("name:*widget* AND size:[10 TO *]")) == [1, 3]
    assert _ids(parts, compile_expr("size:[* TO 5] OR size:[100 TO *]")) == [3, 4]
    assert _ids(parts, compile_expr("NOT name:*widget*")) == [2]
    assert _ids(parts, compile_expr("-name:*widget* size:[* TO 60]")) == [2]


def test_compile_phrase_default_fields(parts):
    cond = compile_expr("lab", default_fields=["name", "affil"])
    assert _ids(parts, cond) == [1, 2, 4]


def test_phrase_without_default_fields_raises():
    with pytest.raises(QuerySyntaxError):
        compile_expr("orphan")


def test_predicate_pushes_into_scan(spark, sf_dir):
    """The compiled Column must reach the parquet scan as a pushed
    filter — the whole point of compiling to Catalyst instead of
    evaluating post-hoc (reference pushes into Mongo; we push into
    the ParquetScan)."""
    from ocdb_server_spark.io import load_table

    df = load_table(spark, sf_dir, "part").filter(
        compile_expr("p_size:[1 TO 15]")
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan
    assert "p_size" in plan.split("PushedFilters:")[1][:200]


# ------------------------------------------- differential semantics


def _sql_of(q) -> str:
    """INDEPENDENT rendering of the same AST to an ANSI-SQL boolean
    expression for DuckDB — a second compiler backend, sharing only
    the `_auto` literal-coercion rule (that rule IS the language
    spec: numeric-looking values compare numerically). Any semantic
    drift between ColumnCompiler and this renderer shows up as a
    count/checksum mismatch in the differential test below."""
    from ocdb_server_spark.plans.expr_compiler import _auto

    def lit(v: str) -> str:
        a = _auto(v)
        return repr(a) if isinstance(a, (int, float)) else f"'{v}'"

    if isinstance(q, PhraseQuery):
        return (
            f"(position('{q.text}' IN text) > 0"
            f" OR position('{q.text}' IN source) > 0)"
        )
    if isinstance(q, FieldValueQuery):
        return f"{q.field} = {lit(q.value)}"
    if isinstance(q, FieldRangeQuery):
        parts = []
        if q.lo != "*":
            parts.append(f"{q.field} >= {lit(q.lo)}")
        if q.hi != "*":
            parts.append(f"{q.field} <= {lit(q.hi)}")
        return "(" + " AND ".join(parts) + ")" if parts else "TRUE"
    if isinstance(q, FieldWildcardQuery):
        pat = q.pattern.replace("*", "%").replace("?", "_")
        return f"{q.field} LIKE '{pat}'"
    if isinstance(q, UnaryOpQuery):
        return f"(NOT {_sql_of(q.child)})"
    if isinstance(q, BinaryOpQuery):
        return f"({_sql_of(q.left)} {q.op} {_sql_of(q.right)})"
    raise TypeError(type(q))


def _expr_of(q) -> str:
    """Render to reference syntax (fully parenthesized) so the test
    exercises the WHOLE pipeline: tokenize → parse → compile."""
    if isinstance(q, PhraseQuery):
        # quoted, not bare: a corpus-derived token that happens to be
        # an operator word ('not', 'and', 'or') would otherwise parse
        # as the operator and crash the round-trip
        return f'"{q.text}"'
    if isinstance(q, FieldValueQuery):
        return f"{q.field}:{q.value}"
    if isinstance(q, FieldRangeQuery):
        return f"{q.field}:[{q.lo} TO {q.hi}]"
    if isinstance(q, FieldWildcardQuery):
        return f"{q.field}:{q.pattern}"
    if isinstance(q, UnaryOpQuery):
        return f"NOT ({_expr_of(q.child)})"
    if isinstance(q, BinaryOpQuery):
        return f"({_expr_of(q.left)}) {q.op} ({_expr_of(q.right)})"
    raise TypeError(type(q))


def _random_ast(rng, pools, depth=0):
    """pools: dict with data-DERIVED value lists (langs, sources,
    tokens, n_chars span, doc_id span) — hardcoding current generator
    values would make the health gate below false-fail the round the
    driver regenerates testdata with different content."""
    tokens = pools["tokens"]
    roll = rng.random()
    if depth >= 3 or roll < 0.45:
        kind = rng.randrange(8)
        if kind == 0:
            return FieldValueQuery("lang", rng.choice(pools["langs"] + ["xx"]))
        if kind == 1:
            return FieldValueQuery(
                "source", rng.choice(pools["sources"] + ["nosuchsrc"])
            )
        if kind == 2:
            lo, hi = pools["n_chars"]
            return FieldValueQuery("n_chars", str(rng.randrange(lo, hi + 1)))
        if kind == 3:
            nlo, nhi = pools["n_chars"]
            span = max(nhi - nlo, 1)
            lo = rng.choice(["*", str(nlo + rng.randrange(0, span + span // 4))])
            hi = rng.choice(["*", str(nlo + rng.randrange(0, span + span // 4))])
            return FieldRangeQuery("n_chars", lo, hi)
        if kind == 4:
            dlo, dhi = pools["doc_id"]
            lo, hi = sorted(rng.randrange(dlo, dhi + 1) for _ in range(2))
            return FieldRangeQuery("doc_id", str(lo), str(hi))
        if kind == 5:
            s = rng.choice(pools["sources"])
            return FieldWildcardQuery(
                "source",
                rng.choice(
                    [s[:-1] + "*", s[:-1] + "?", s[:2] + "*", "*" + s[-1]]
                ),
            )
        if kind == 6:
            lg = rng.choice(pools["langs"])
            return FieldWildcardQuery(
                "lang", rng.choice([lg[0] + "?", lg[0] + "*", "?" + lg[-1]])
            )
        return PhraseQuery(rng.choice(tokens))
    if roll < 0.60:
        return UnaryOpQuery("NOT", _random_ast(rng, pools, depth + 1))
    op = "AND" if roll < 0.80 else "OR"
    return BinaryOpQuery(
        op,
        _random_ast(rng, pools, depth + 1),
        _random_ast(rng, pools, depth + 1),
    )


def test_differential_semantics_vs_duckdb(spark, sf_dir, duck):
    """60 seeded-random query ASTs evaluated through BOTH backends —
    the real pipeline (render → tokenize → parse → compile_expr →
    Catalyst) against an independent SQL rendering in DuckDB — over
    the documents table, compared by exact (match count, Σ doc_id)
    per predicate. One batched job per engine (suite property-test
    discipline: no per-example Spark jobs). Catches semantic drift a
    parse/render roundtrip can't: wildcard translation, range
    endpoint inclusivity, numeric literal coercion, NOT/AND/OR
    composition, default-field phrase search."""
    import os
    import random
    import re

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from ocdb_server_spark.io import load_table

    path = os.path.join(sf_dir, "documents.parquet")
    tbl = pq.read_table(
        path, columns=["text", "lang", "source", "n_chars", "doc_id"]
    )
    texts = tbl["text"].to_pylist()
    tokens = sorted(
        {w for t in texts[:40] for w in re.findall(r"[a-z]{3,8}", t)}
    )[:24] or ["data"]
    nc = sorted(tbl["n_chars"].to_pylist())
    di = sorted(tbl["doc_id"].to_pylist())
    pools = {
        "tokens": tokens,
        "langs": sorted({v for v in tbl["lang"].to_pylist() if v})[:8]
        or ["en"],
        "sources": sorted({v for v in tbl["source"].to_pylist() if v})[:16]
        or ["src0"],
        "n_chars": (int(nc[0]), int(nc[-1])),
        "doc_id": (int(di[0]), int(di[-1])),
    }

    rng = random.Random(8842)
    asts = [_random_ast(rng, pools) for _ in range(60)]

    preds = [
        compile_expr(_expr_of(a), default_fields=["text", "source"])
        for a in asts
    ]
    aggs = []
    for i, p in enumerate(preds):
        aggs.append(
            F.sum(F.when(p, F.col("doc_id")).otherwise(F.lit(0)))
            .cast("long").alias(f"s{i}")
        )
        aggs.append(
            F.sum(F.when(p, F.lit(1)).otherwise(F.lit(0)))
            .cast("long").alias(f"c{i}")
        )
    srow = load_table(spark, sf_dir, "documents").agg(*aggs).collect()[0]

    sel = ", ".join(
        f"CAST(SUM(CASE WHEN {_sql_of(a)} THEN doc_id ELSE 0 END) AS BIGINT)"
        f" AS s{i}, "
        f"CAST(SUM(CASE WHEN {_sql_of(a)} THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS c{i}"
        for i, a in enumerate(asts)
    )
    # session-scoped conftest `duck` fixture already registers the
    # documents view over sf_dir; this test does not duplicate it
    drow = duck.execute(f"SELECT {sel} FROM documents").arrow().to_pandas()

    mismatches = [
        (i, _expr_of(asts[i]), srow[f"c{i}"], int(drow[f"c{i}"][0]))
        for i in range(len(asts))
        if (srow[f"c{i}"], srow[f"s{i}"])
        != (int(drow[f"c{i}"][0]), int(drow[f"s{i}"][0]))
    ]
    assert not mismatches, mismatches[:5]
    # generator health: the comparison must not be vacuous — a decent
    # share of predicates match some-but-not-all rows
    n_rows = len(texts)
    partial = [
        i for i in range(len(asts))
        if 0 < srow[f"c{i}"] < n_rows
    ]
    assert len(partial) >= len(asts) // 3, len(partial)


def test_fieldless_wildcard_compiles_to_like(spark):
    """'chl*' must wildcard-match over the default fields, not compile
    to contains('chl*') — a search for the literal character '*'."""
    df = spark.createDataFrame(
        [("chlorophyll data",), ("nothing here",), ("has chl* star",)],
        "name string",
    )
    col = compile_expr("chl*", default_fields=["name"])
    got = {r.name for r in df.filter(col).collect()}
    assert "chlorophyll data" in got        # prefix-matched, no literal '*'
    assert "nothing here" not in got
    # '?' single-char wildcard too
    col2 = compile_expr("ch?orophyll", default_fields=["name"])
    assert {r.name for r in df.filter(col2).collect()} == {"chlorophyll data"}


def test_quoted_value_pins_string_comparison(spark):
    """version:"1.10" must compare as the STRING
    '1.10' — unquoted numeric-looking terms coerce (1.10 == 1.1 as
    doubles), quoting is the escape hatch."""
    df = spark.createDataFrame(
        [("1.1",), ("1.10",), ("1.100",)], "version string"
    )
    quoted = {r.version for r in df.filter(compile_expr('version:"1.10"')).collect()}
    assert quoted == {"1.10"}
    # unquoted keeps the documented numeric coercion (all equal as 1.1)
    bare = {r.version for r in df.filter(compile_expr("version:1.10")).collect()}
    assert bare == {"1.1", "1.10", "1.100"}


# ------------------------------- token positions, quoting, NULLs, coercion


def test_token_pos_points_at_token_not_whitespace():
    """Token.pos records the token's start, not the start of the
    whitespace before it, so error positions point at the token."""
    toks = tokenize("a )")
    assert [(t.text, t.pos) for t in toks] == [("a", 0), (")", 2)]
    with pytest.raises(QuerySyntaxError, match="at 2"):
        QueryParser.parse("a )")


def test_quoted_range_bounds_pin_strings(spark):
    """Quoted range bounds must not keep their quote chars and compare
    against the literal '\"'. They pin exact string bounds
    (FieldValueQuery.quoted's contract extended to ranges)."""
    q = QueryParser.parse('d:["2020-01-03" TO "2020-01-07"]')
    assert q == FieldRangeQuery(
        "d", "2020-01-03", "2020-01-07", lo_quoted=True, hi_quoted=True
    )
    df = spark.createDataFrame(
        [("2020-01-01",), ("2020-01-05",), ("2020-01-09",)], "d string"
    )
    got = {r.d for r in df.filter(
        compile_expr('d:["2020-01-03" TO "2020-01-07"]')
    ).collect()}
    assert got == {"2020-01-05"}


def test_range_bound_must_be_word_or_quoted():
    with pytest.raises(QuerySyntaxError, match="range bound"):
        QueryParser.parse("d:[( TO 5]")


def test_not_matches_null_fields(spark):
    """The reference compiles NOT to Mongo $not, which MATCHES rows
    where the field is missing/null; SQL's three-valued ~NULL would
    silently drop them."""
    df = spark.createDataFrame(
        [("en",), ("de",), (None,)], "lang string"
    )
    got = {r.lang for r in df.filter(compile_expr("NOT lang:en")).collect()}
    assert got == {"de", None}
    # double negation stays consistent: -(-x) ≡ x for non-null matches
    got2 = {r.lang for r in df.filter(
        compile_expr("NOT (NOT lang:en)")
    ).collect()}
    assert got2 == {"en"}


def test_fully_unbounded_range_means_field_exists(spark):
    """field:[* TO *] is Lucene's 'has a value'
    idiom — it must exclude NULL rows, not compile to lit(True)."""
    df = spark.createDataFrame(
        [(1.5,), (None,), (9.0,)], "depth double"
    )
    got = [r.depth for r in df.filter(compile_expr("depth:[* TO *]")).collect()]
    assert sorted(got) == [1.5, 9.0]


def test_auto_coercion_is_strictly_numeric(spark):
    """Python int()/float() accept '1_000', 'nan',
    'inf', 'Infinity' — those spellings must stay STRING literals."""
    df = spark.createDataFrame(
        [("1_000",), ("1000",), ("nan",), ("inf",)], "station string"
    )
    assert {r.station for r in df.filter(
        compile_expr("station:1_000")
    ).collect()} == {"1_000"}
    assert {r.station for r in df.filter(
        compile_expr("station:nan")
    ).collect()} == {"nan"}
    assert {r.station for r in df.filter(
        compile_expr("station:inf")
    ).collect()} == {"inf"}
    # real numbers still coerce (scientific notation included)
    nums = spark.createDataFrame([(1000,), (7,)], "station int")
    assert {r.station for r in nums.filter(
        compile_expr("station:1e3")
    ).collect()} == {1000}
