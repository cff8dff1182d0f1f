"""Gate-shape self-check: simulate the driver canonicalizer's limits.

Two representational (not logical) failures cost certification
credit in the driver's first sweep:

- op96/op107 returned array-typed columns → the driver's pandas-based
  canonicalizer crashed with `unhashable type: 'list'` (recorded in
  CORRECTNESS_r01.json). This bites ROWS ops too — the rows-only check
  still canonicalizes the frame.
- op06 returned a DECIMAL column → values matched as multisets but the
  Decimal-vs-float representation hashed differently across pandas.

So the contract for every observable surface in `queries()`:

1. no ArrayType / MapType / StructType output column, ever;
2. no DecimalType output column (surface as DOUBLE or canonical
   VARCHAR instead — see operators/_helpers.dsum and op67);
3. column names unique (pandas canonicalization is name-keyed).

This test builds every registered operator's DataFrame and asserts the
schema obeys all three — a regression here would silently cost a green
CORRECTNESS row next sweep.
"""

from __future__ import annotations

import pytest

from pyspark.sql.types import ArrayType, DecimalType, MapType, StructType

from ocdb_server_spark.registry import load_all

OPS = load_all()

# Ops whose fn performs eager work at build time (streaming
# availableNow runs, sink roundtrips). Their schemas are still checked —
# they're just slower; nothing is exempt from the shape contract.
ALL_OPS = sorted(OPS)


def test_row_is_green_predicate():
    """Sweep order: a row that ERRORED must not count as certified —
    else a fixed op sorts behind every never-swept op and, under the
    ~50-entry budget, is never re-checked and sits on a stale crash
    row."""
    from ocdb_server_spark.evidence import _row_is_green

    green_sql = {
        "rows_match": True, "schema_match": True, "hash_match": True,
        "spark_rows": 10, "oracle_rows": 10, "err": None,
    }
    green_rows_only = {
        "rows_match": None, "schema_match": None, "hash_match": None,
        "spark_rows": 27, "oracle_rows": None, "err": "no_oracle",
    }
    crashed = dict(green_rows_only, spark_rows=None, err="TypeError: boom")
    hash_mismatch = dict(green_sql, hash_match=False)
    no_oracle_no_rows = dict(green_rows_only, spark_rows=None)

    assert _row_is_green(green_sql)
    assert _row_is_green(green_rows_only)
    assert not _row_is_green(crashed)
    assert not _row_is_green(hash_mismatch)
    assert not _row_is_green(no_oracle_no_rows)
    assert not _row_is_green(None)


def test_sweep_order_fronts_errored_ops(tmp_path):
    """Sweep-order logic pinned against SYNTHETIC CORRECTNESS fixtures,
    not the repo's LIVE files: a test over live files stops testing
    anything the moment their stale ops get certified.

    Scenario: op_crash's only row is a
    canonicalizer crash, op_flip passed early then errored later,
    op_virgin was never swept; op_green and op_rows are certified.
    All three non-green ops must sort before every certified op, and a
    later round's row must override an earlier one in both directions.
    """
    import json

    from ocdb_server_spark.evidence import sweep_order

    green_sql = {
        "rows_match": True, "schema_match": True, "hash_match": True,
        "spark_rows": 10, "oracle_rows": 10, "err": None,
    }
    green_rows = {
        "rows_match": None, "schema_match": None, "hash_match": None,
        "spark_rows": 27, "oracle_rows": None, "err": "no_oracle",
    }
    crashed = dict(green_rows, spark_rows=None, err="TypeError: boom")

    (tmp_path / "CORRECTNESS_r01.json").write_text(json.dumps({
        "op_green": green_sql,
        "op_rows": green_rows,
        "op_crash": crashed,
        "op_flip": green_sql,          # passed in r1...
        "op_late": crashed,            # crashed in r1...
    }))
    (tmp_path / "CORRECTNESS_r02.json").write_text(json.dumps({
        "op_flip": dict(green_sql, hash_match=False, err=None),  # ...broke in r2
        "op_late": green_rows,         # ...certified in r2
        "op_fresh": green_sql,         # re-certified in r2 (fresh evidence)
    }))

    # op_fresh comes FIRST but has the freshest evidence (r2) — the
    # staleness rule must sort it behind the r1-era certified ops
    # despite input order.
    keys = ["op_fresh", "op_green", "op_rows", "op_crash", "op_flip",
            "op_virgin", "op_late"]
    ordered = sweep_order(keys, str(tmp_path), {})

    front = {"op_crash", "op_flip", "op_virgin"}
    back = {"op_green", "op_rows", "op_late", "op_fresh"}
    assert set(ordered[:3]) == front, f"uncertified ops must front: {ordered}"
    assert set(ordered[3:]) == back, f"certified ops must trail: {ordered}"
    # within the uncertified group, no costs file → op key order
    assert ordered[:3] == ["op_crash", "op_flip", "op_virgin"]
    # certified: STALEST round first (r1 before r2), op key order
    # within a round — op_fresh's r2 evidence sorts it behind r1 ops.
    assert ordered[3:] == ["op_green", "op_rows", "op_fresh", "op_late"]


def test_sweep_order_demotes_oracle_upgraded_ops(tmp_path):
    """The r9 demotion rule: an op that NOW registers a SQL oracle but
    whose latest green driver row was a rows-only (`err: "no_oracle"`)
    check has never had its hash gate run — it must sort into the
    uncertified front group. A genuinely ROWS-only op (oracle=None)
    with the same row shape stays certified. Uses REAL registry keys
    because the rule consults the live REGISTRY's oracle field."""
    import json

    from ocdb_server_spark.evidence import sweep_order
    from ocdb_server_spark.registry import REGISTRY, load_all

    ops = load_all()
    sql_op = "op17_agg_groupby"          # has an oracle today
    rows_op = "op20_agg_approx_count_distinct"  # oracle=None by design
    assert REGISTRY[sql_op].oracle is not None
    assert REGISTRY[rows_op].oracle is None

    green_rows = {
        "rows_match": None, "schema_match": None, "hash_match": None,
        "spark_rows": 5, "oracle_rows": None, "err": "no_oracle",
    }
    green_sql = {
        "rows_match": True, "schema_match": True, "hash_match": True,
        "spark_rows": 5, "oracle_rows": 5, "err": None,
    }
    (tmp_path / "CORRECTNESS_r01.json").write_text(json.dumps({
        sql_op: green_rows,   # green, but under the OLD no-oracle check
        rows_op: green_rows,  # green under its designed check
        "op_other": green_sql,
    }))
    ordered = sweep_order([rows_op, "op_other", sql_op], str(tmp_path), ops)
    assert ordered[0] == sql_op, (
        f"oracle-upgraded op must re-certify first: {ordered}"
    )
    assert set(ordered[1:]) == {rows_op, "op_other"}


def test_sweep_order_demotes_rewritten_oracles(tmp_path):
    """An op whose SQL oracle TEXT changed after its latest SQL-green
    row is uncertified until the new text's hash gate runs.
    oracle_fp.json records {fp, since_round}; a green row with
    round < since_round certified a DIFFERENT oracle. Also pins
    the self-maintenance path: a book whose fp no longer matches the
    registered oracle is refreshed in-place (since_round = latest
    recorded round + 1) before the demotion check."""
    import json

    from ocdb_server_spark.evidence import (
        _oracle_fp,
        certified_rounds,
        src_fp,
        sweep_order,
        write_fp_book,
    )
    from ocdb_server_spark.registry import REGISTRY, load_all

    ops = load_all()
    sql_op = "op17_agg_groupby"
    green_sql = {
        "rows_match": True, "schema_match": True, "hash_match": True,
        "spark_rows": 5, "oracle_rows": 5, "err": None,
    }
    (tmp_path / "CORRECTNESS_r03.json").write_text(
        json.dumps({sql_op: green_sql, "op_other": green_sql})
    )
    fpdir = tmp_path / "ocdb_server_spark"
    fpdir.mkdir()
    cur_fp = _oracle_fp(REGISTRY[sql_op].oracle)
    cur_src = src_fp(REGISTRY[sql_op])

    # Case 1: book says the current text went live AFTER the green row
    # → demoted to the front.
    (fpdir / "oracle_fp.json").write_text(
        json.dumps({sql_op: {"fp": cur_fp, "since_round": 4}})
    )
    ordered = sweep_order(["op_other", sql_op], str(tmp_path), ops)
    assert ordered[0] == sql_op, f"rewritten oracle must re-certify first: {ordered}"

    # Case 2: same book but the green row postdates the rewrite → stays
    # certified (sorts by staleness like any other certified op).
    (fpdir / "oracle_fp.json").write_text(json.dumps(
        {sql_op: {"fp": cur_fp, "since_round": 3, "src_fp": cur_src}}
    ))
    assert sql_op in certified_rounds(str(tmp_path), ops)

    # Case 3: the book's fp is STALE (oracle edited, refresh never ran)
    # — the fold heals the entry in memory (since_round = latest+1 = 4)
    # so the demotion fires; the explicit refresh writes the same entry.
    (fpdir / "oracle_fp.json").write_text(
        json.dumps({sql_op: {"fp": "0" * 16, "since_round": 1}})
    )
    ordered = sweep_order(["op_other", sql_op], str(tmp_path), ops)
    assert ordered[0] == sql_op, f"stale-fp op must re-certify first: {ordered}"
    write_fp_book(str(tmp_path), ops)
    healed = json.loads((fpdir / "oracle_fp.json").read_text())
    assert healed[sql_op]["fp"] == cur_fp
    assert healed[sql_op]["since_round"] == 4

    # Case 4: a MALFORMED entry — fp correct but since_round null
    # (hand-edit / merge mangle) — must be healed, never crash the
    # fold (iter_correctness_rounds' own rule).
    (fpdir / "oracle_fp.json").write_text(
        json.dumps({sql_op: {"fp": cur_fp, "since_round": None}})
    )
    ordered = sweep_order(["op_other", sql_op], str(tmp_path), ops)
    assert ordered[0] == sql_op, f"healed op must re-certify first: {ordered}"
    write_fp_book(str(tmp_path), ops)
    healed = json.loads((fpdir / "oracle_fp.json").read_text())
    assert healed[sql_op]["since_round"] == 4


def test_sweep_order_demotes_rewritten_rows_snapshots(tmp_path):
    """A ROWS-only op's checker is its golden snapshot entry
    (tests/rows_snapshot_sf0.001.json). Rewriting that entry must
    re-front the op exactly as a rewritten SQL oracle does
    — its old rows-green gated a DIFFERENT snapshot. Mirrors
    test_sweep_order_demotes_rewritten_oracles with the snapshot file
    as the fingerprinted text."""
    import json

    from ocdb_server_spark.evidence import (
        certified_rounds,
        src_fp,
        sweep_order,
        write_fp_book,
    )
    from ocdb_server_spark.registry import load_all

    ops = load_all()
    rows_op = "op194_minhash_rollup"
    assert ops[rows_op].oracle is None  # stays ROWS-only by design
    green_rows = {
        "rows_match": None, "schema_match": None, "hash_match": None,
        "spark_rows": 5, "oracle_rows": None, "err": "no_oracle",
    }
    green_sql = {
        "rows_match": True, "schema_match": True, "hash_match": True,
        "spark_rows": 5, "oracle_rows": 5, "err": None,
    }
    (tmp_path / "CORRECTNESS_r03.json").write_text(
        json.dumps({rows_op: green_rows, "op_other": green_sql})
    )
    fpdir = tmp_path / "ocdb_server_spark"
    fpdir.mkdir()
    tdir = tmp_path / "tests"
    tdir.mkdir()
    snap_entry = {"n_rows": 7, "columns": ["a", "b"], "hash": "c0ffee"}
    (tdir / "rows_snapshot_sf0.001.json").write_text(
        json.dumps({rows_op: snap_entry})
    )
    import hashlib

    cur_fp = hashlib.sha256(
        json.dumps(snap_entry, sort_keys=True).encode()
    ).hexdigest()[:16]

    # Case 1: book fp matches the snapshot, green postdates since_round
    # → stays certified.
    cur_src = src_fp(ops[rows_op])
    (fpdir / "oracle_fp.json").write_text(json.dumps(
        {rows_op: {"fp": cur_fp, "since_round": 2, "src_fp": cur_src}}
    ))
    assert rows_op in certified_rounds(str(tmp_path), ops)

    # Case 2: the snapshot entry is REWRITTEN (regenerated after a
    # semantics change) — the fold heals the book (since_round =
    # latest recorded round + 1 = 4) and the demotion fires.
    (tdir / "rows_snapshot_sf0.001.json").write_text(
        json.dumps({rows_op: {**snap_entry, "hash": "deadbeef"}})
    )
    ordered = sweep_order(["op_other", rows_op], str(tmp_path), ops)
    assert ordered[0] == rows_op, (
        f"rewritten-snapshot op must re-certify first: {ordered}"
    )
    write_fp_book(str(tmp_path), ops)
    healed = json.loads((fpdir / "oracle_fp.json").read_text())
    assert healed[rows_op]["since_round"] == 4
    assert healed[rows_op]["fp"] != cur_fp

    # Case 3: no snapshot file on disk (tests-less deploy) — nothing to
    # fingerprint: the book's entry is kept as-is and no ROWS demotion
    # fires (degrade-gracefully, never crash or spuriously demote).
    (tdir / "rows_snapshot_sf0.001.json").unlink()
    (fpdir / "oracle_fp.json").write_text(
        json.dumps({rows_op: {"fp": cur_fp, "since_round": 2}})
    )
    assert rows_op in certified_rounds(str(tmp_path), ops)
    write_fp_book(str(tmp_path), ops)
    kept = json.loads((fpdir / "oracle_fp.json").read_text())
    assert kept[rows_op] == {"fp": cur_fp, "since_round": 2}


@pytest.mark.parametrize("name", ALL_OPS)
def test_output_schema_is_canonicalizer_safe(name, spark, sf_dir):
    df = OPS[name].fn(spark, sf_dir)
    seen: set[str] = set()
    for field in df.schema.fields:
        assert field.name not in seen, f"{name}: duplicate output column {field.name!r}"
        seen.add(field.name)
        dt = field.dataType
        assert not isinstance(dt, (ArrayType, MapType, StructType)), (
            f"{name}: column {field.name!r} is {dt.simpleString()} — complex "
            "types crash the driver's canonicalizer (round-1 op96/op107); "
            "stringify with array_join/to_json or emit scalar columns"
        )
        assert not isinstance(dt, DecimalType), (
            f"{name}: column {field.name!r} is {dt.simpleString()} — DECIMAL "
            "hashes ambiguously across pandas (round-1 op06); cast to "
            "double or canonical varchar on BOTH engine and oracle sides"
        )


def test_sweep_order_demotes_rewritten_plan_source(tmp_path):
    """A PLAN rewrite under an unchanged checker must re-front the op
    without a hand-bumped since_round. Each entry carries src_fp, the
    hash of the op's reachable source (evidence.src_fp). Pins: (1) an
    entry whose src_fp no longer matches the registered plan demotes
    to the front and heals with since_round = latest+1, no hand-bump;
    (2) a matching src_fp is a no-op."""
    import json

    from ocdb_server_spark.evidence import (
        _oracle_fp,
        certified_rounds,
        src_fp,
        sweep_order,
        write_fp_book,
    )
    from ocdb_server_spark.registry import REGISTRY, load_all

    ops = load_all()
    sql_op = "op17_agg_groupby"
    assert src_fp(REGISTRY[sql_op]), "the op's source must fingerprint"
    green_sql = {
        "rows_match": True, "schema_match": True, "hash_match": True,
        "spark_rows": 5, "oracle_rows": 5, "err": None,
    }
    (tmp_path / "CORRECTNESS_r03.json").write_text(
        json.dumps({sql_op: green_sql, "op_other": green_sql})
    )
    fpdir = tmp_path / "ocdb_server_spark"
    fpdir.mkdir()
    cur_fp = _oracle_fp(REGISTRY[sql_op].oracle)
    cur_src = src_fp(REGISTRY[sql_op])

    # Case 1: the registered plan was rewritten (src_fp differs) under
    # an UNCHANGED oracle — the green row certified a different plan:
    # demote to the front, heal since_round to latest+1 = 4.
    (fpdir / "oracle_fp.json").write_text(json.dumps(
        {sql_op: {"fp": cur_fp, "since_round": 2, "src_fp": "0" * 16}}
    ))
    ordered = sweep_order(["op_other", sql_op], str(tmp_path), ops)
    assert ordered[0] == sql_op, (
        f"plan-rewritten op must re-certify first: {ordered}"
    )
    write_fp_book(str(tmp_path), ops)
    healed = json.loads((fpdir / "oracle_fp.json").read_text())
    assert healed[sql_op] == {
        "fp": cur_fp, "since_round": 4, "src_fp": cur_src,
    }

    # Case 2: everything matches — entry untouched, still certified.
    (fpdir / "oracle_fp.json").write_text(json.dumps(
        {sql_op: {"fp": cur_fp, "since_round": 2, "src_fp": cur_src}}
    ))
    assert sql_op in certified_rounds(str(tmp_path), ops)
    write_fp_book(str(tmp_path), ops)
    kept = json.loads((fpdir / "oracle_fp.json").read_text())
    assert kept[sql_op]["since_round"] == 2


def _fps_after(tmp_path, edit):
    """{op: src_fp} over a copy of the package under `tmp_path`, after
    `edit(package_dir)` changes the copy. The repository is never edited."""
    import shutil

    from ocdb_server_spark.evidence import PKG, src_fp

    pkg = tmp_path / "ocdb_server_spark"
    shutil.copytree(PKG, pkg, ignore=shutil.ignore_patterns("__pycache__"))
    edit(pkg)
    return {name: src_fp(op, str(pkg)) for name, op in OPS.items()}


def _add_statement(module: str, func: str):
    """An edit that appends a statement to the body of `module`'s
    top-level function `func`."""
    import ast

    def edit(pkg):
        path = pkg / module
        lines = path.read_text().splitlines(keepends=True)
        (fn,) = (
            st for st in ast.parse("".join(lines)).body
            if isinstance(st, ast.FunctionDef) and st.name == func
        )
        indent = " " * fn.body[0].col_offset
        lines.insert(fn.end_lineno, f"{indent}assert True\n")
        path.write_text("".join(lines))

    return edit


@pytest.mark.parametrize("module, func, must_move", [
    # the shared transformWithState driver under every TWS stream op
    ("streaming/jobs.py", "_tws_run", {
        "op206_stream_tws_user_stats", "op208_stream_centroid_maintenance",
        "op218_stream_tws_topk", "op219_stream_tws_mapstate",
        "op226_stream_session_timers",
    }),
    # the BGZF block reader, reached through BgzfArchive
    ("sources/bgzf.py", "read_block", {"op260_bgzf_splittable_gzip"}),
    # a helper no op reaches
    ("validation.py", "validate", set()),
    # names inside decorators are not followed: @register reaches no op
    ("registry.py", "register", set()),
])
def test_helper_edit_moves_the_ops_that_reach_it(
    tmp_path, module, func, must_move
):
    from ocdb_server_spark.evidence import src_fp

    after = _fps_after(tmp_path, _add_statement(module, func))
    moved = {name for name, op in OPS.items() if after[name] != src_fp(op)}
    assert moved == must_move


def test_moving_a_definition_verbatim_keeps_src_fp(tmp_path):
    """Segments hash in text order, not by module: a definition moved
    verbatim into another module keeps every op's fingerprint."""
    import ast

    def move_tws_run(pkg):
        jobs = pkg / "streaming" / "jobs.py"
        lines = jobs.read_text().splitlines(keepends=True)
        (fn,) = (
            st for st in ast.parse("".join(lines)).body
            if isinstance(st, ast.FunctionDef) and st.name == "_tws_run"
        )
        assert not fn.decorator_list
        seg = lines[fn.lineno - 1:fn.end_lineno]
        del lines[fn.lineno - 1:fn.end_lineno]
        lines.append("from ocdb_server_spark.streaming.tws import _tws_run\n")
        jobs.write_text("".join(lines))
        names = sorted({n.id for n in ast.walk(fn) if isinstance(n, ast.Name)})
        (pkg / "streaming" / "tws.py").write_text("".join(
            [f"from ocdb_server_spark.streaming.jobs import {n}\n" for n in names]
            + ["\n\n"] + seg
        ))

    from ocdb_server_spark.evidence import src_fp

    moved = _fps_after(tmp_path, move_tws_run)
    assert moved == {name: src_fp(op) for name, op in OPS.items()}


def test_backup_correctness_files_are_skipped(tmp_path):
    """CORRECTNESS_r1_v2.json must not parse as round 12 by
    concatenating ALL digits ('1' + '2') and override genuine round-12
    rows. Only fully-numeric round tails are driver records — anything else
    is a backup/rename and must not fold as evidence."""
    import json

    from ocdb_server_spark.evidence import iter_correctness_rounds

    green = {
        "rows_match": True, "schema_match": True, "hash_match": True,
        "spark_rows": 1, "oracle_rows": 1, "err": None,
    }
    bad = dict(green, hash_match=False)
    (tmp_path / "CORRECTNESS_r01.json").write_text(json.dumps({"op_a": green}))
    (tmp_path / "CORRECTNESS_r12.json").write_text(json.dumps({"op_a": green}))
    (tmp_path / "CORRECTNESS_r1_v2.json").write_text(json.dumps({"op_a": bad}))
    folded = list(iter_correctness_rounds(str(tmp_path)))
    assert [rnd for rnd, _ in folded] == [1, 12]
    assert all(rows["op_a"]["hash_match"] for _, rows in folded)


def test_sweep_order_survives_malformed_op_costs(tmp_path):
    """A list-shaped or string-valued op_costs.json must not crash the
    sweep order — and with it every driver entry point. A malformed
    book never breaks the fold."""
    import json

    from ocdb_server_spark.evidence import sweep_order

    green = {
        "rows_match": True, "schema_match": True, "hash_match": True,
        "spark_rows": 1, "oracle_rows": 1, "err": None,
    }
    (tmp_path / "CORRECTNESS_r01.json").write_text(json.dumps({"op_a": green}))
    pkg = tmp_path / "ocdb_server_spark"
    pkg.mkdir()
    (pkg / "op_costs.json").write_text(json.dumps(["not", "a", "dict"]))
    assert sweep_order(["op_a", "op_b"], str(tmp_path), {})  # no crash
    (pkg / "op_costs.json").write_text(
        json.dumps({"op_a": "NaN-ish string", "op_b": 0.5})
    )
    ordered = sweep_order(["op_a", "op_b"], str(tmp_path), {})
    assert set(ordered) == {"op_a", "op_b"}


# Runs load_all() in a fresh interpreter with open() and os.replace()
# refusing writes under the repository root and inspect.getsource()
# raising, and reports which files were opened.
_NO_WRITE_PROBE = r"""
import builtins, inspect, io, json, os, sys

root = os.path.realpath(sys.argv[1])
opened = []
real_open, real_replace = builtins.open, os.replace


def under_root(path):
    return os.path.realpath(os.fspath(path)).startswith(root + os.sep)


def guarded_open(file, mode="r", *args, **kwargs):
    if not isinstance(file, int):
        opened.append(os.fspath(file))
        if any(c in mode for c in "wax+") and under_root(file):
            raise PermissionError(f"write under the repository root: {file}")
    return real_open(file, mode, *args, **kwargs)


def guarded_replace(src, dst, *args, **kwargs):
    if under_root(dst):
        raise PermissionError(f"write under the repository root: {dst}")
    return real_replace(src, dst, *args, **kwargs)


def no_getsource(obj):
    raise AssertionError(f"load_all() read the source of {obj!r}")


builtins.open = io.open = guarded_open
os.replace = guarded_replace
inspect.getsource = no_getsource

from ocdb_server_spark.registry import load_all

ops = load_all()
print(json.dumps({"ops": sorted(ops), "opened": opened}))
"""


def test_load_all_writes_nothing():
    """load_all() only registers: it writes no file under the repository,
    reads no driver evidence (CORRECTNESS_r*.json) or cost book, and
    hashes no source (fingerprints are computed by evidence.src_fp)."""
    import json
    import os
    import subprocess
    import sys

    from ocdb_server_spark.evidence import ROOT

    path = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    env = dict(os.environ, PYTHONPATH=path, PYTHONDONTWRITEBYTECODE="1")
    proc = subprocess.run(
        [sys.executable, "-c", _NO_WRITE_PROBE, ROOT],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert len(out["ops"]) == 267
    assert out["ops"] == sorted(OPS)
    evidence_reads = [
        p for p in out["opened"]
        if os.path.basename(p).startswith("CORRECTNESS_r")
        or os.path.basename(p) == "op_costs.json"
    ]
    assert not evidence_reads, f"load_all() read driver evidence: {evidence_reads}"


def test_fp_book_is_fresh():
    """The committed fingerprint book equals what the explicit refresh
    would write: every oracle, snapshot or plan edit lands together
    with its since_round bump."""
    import json
    import os

    from ocdb_server_spark.evidence import BOOK, ROOT, fresh_fp_book

    want = fresh_fp_book(ROOT, OPS)
    with open(os.path.join(ROOT, BOOK)) as f:
        have = f.read()
    if have != want:
        old, new = json.loads(have), json.loads(want)
        stale = sorted(k for k in old.keys() | new.keys() if old.get(k) != new.get(k))
        raise AssertionError(
            f"{BOOK} is stale for {stale}; run "
            "`python -m ocdb_server_spark.evidence` and commit the result"
        )


def test_modules_are_named_by_family_not_round():
    """Tests and operators live in modules named for the family they
    cover, so a change to a family finds its tests in one place. A
    module named for the round that added it (`_r<N>`, `pipeline_ext`,
    `northstar`) scatters a family across the history of the repo."""
    import os
    import re

    from ocdb_server_spark.evidence import ROOT

    by_round = re.compile(r"_r\d+[a-z]?\.py$|pipeline_ext|northstar")
    named_by_round = [
        f"{d}/{name}"
        for d in ("tests", "ocdb_server_spark/operators")
        for name in sorted(os.listdir(os.path.join(ROOT, d)))
        if by_round.search(name)
    ]
    assert not named_by_round, named_by_round
