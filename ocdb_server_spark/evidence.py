"""Driver evidence: which ops the next correctness sweep checks first.

The driver records one CORRECTNESS_r<N>.json per round and sweeps
``queries()`` under a budget of about 50 entries, in the order the
dict yields them. This module folds those records into per-op
certification rounds and orders the ops so the budget goes to the ops
that need evidence most (``sweep_order``).

A green row only certifies the checker and the plan it ran against.
``oracle_fp.json`` (the fingerprint book) records, per op, the
fingerprint of its checker (``fp``: the oracle SQL, or the golden
snapshot entry for a ROWS-only op), the fingerprint of its registered
plan source (``src_fp``, see ``registry.Op``) and the round from which
that pair is live (``since_round``). A green row older than
``since_round`` certified something else and does not count.

Reading never writes: ``certified_rounds`` heals a stale or malformed
book in memory. ``python -m ocdb_server_spark.evidence`` is the one
step that rewrites the book on disk; tests/test_gate_shape.py fails
while the committed book is stale.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import tempfile
from collections.abc import Iterator, Mapping

from ocdb_server_spark.registry import Op, load_all

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BOOK = os.path.join("ocdb_server_spark", "oracle_fp.json")
COSTS = os.path.join("ocdb_server_spark", "op_costs.json")


def _row_is_green(row: object) -> bool:
    """True iff a driver CORRECTNESS row records a PASS.

    Two green shapes exist:
      - SQL-checked op:   err == None, rows/schema/hash_match all true
      - ROWS-by-design:   err == "no_oracle", spark_rows recorded
        (the designed weaker check — counts as its kind of green)
    Anything else — a traceback in err, a false match flag, a
    no_oracle row that never produced a row count — is NOT green and
    sorts into the re-sweep-first group.
    """
    if not isinstance(row, dict):
        return False
    err = row.get("err")
    if err is None:
        return bool(
            row.get("rows_match")
            and row.get("schema_match")
            and row.get("hash_match")
        )
    if err == "no_oracle":
        return row.get("spark_rows") is not None
    return False


def iter_correctness_rounds(root: str) -> Iterator[tuple[int, dict]]:
    """Yield (round, rows_dict) for every CORRECTNESS_r*.json under
    `root`, in parsed round order (lexicographic filename order would
    put an unpadded r10 before r2 and let an older round's row
    override a newer one). Malformed files are skipped, never raised."""
    rounds: list[tuple[int, str]] = []
    for fname in os.listdir(root):
        if fname.startswith("CORRECTNESS_r") and fname.endswith(".json"):
            # Fully-numeric tails only: a suffixed or renamed file
            # (CORRECTNESS_r1_v2.json) is a backup, not the driver's
            # round record, and must not fold as evidence.
            m = re.fullmatch(r"\d+", fname[len("CORRECTNESS_r"):-len(".json")])
            if m:
                rounds.append((int(m.group(0)), fname))
    for rnd, fname in sorted(rounds):
        try:
            with open(os.path.join(root, fname)) as f:
                rows = json.load(f)
        except Exception:
            continue  # a malformed file must never break the fold
        if isinstance(rows, dict):
            yield rnd, rows


def _oracle_fp(sql: str) -> str:
    """Stable 16-hex fingerprint of an oracle's SQL text."""
    return hashlib.sha256(sql.encode()).hexdigest()[:16]


def _rows_snapshot_fps(root: str) -> dict[str, str] | None:
    """{op: fingerprint of its golden-snapshot entry} for ROWS-only ops.
    A ROWS op's checker is its entry in tests/rows_snapshot_sf0.001.json
    — {n_rows, columns, hash} — so a rewritten snapshot demotes the op
    exactly as a rewritten SQL oracle does. Returns None when the
    snapshot file is absent (a tests-less deploy): the book then keeps
    its entries and no ROWS demotion fires."""
    path = os.path.join(root, "tests", "rows_snapshot_sf0.001.json")
    try:
        with open(path) as f:
            snap = json.load(f)
    except Exception:
        return None
    if not isinstance(snap, dict):
        return None
    return {
        key: hashlib.sha256(
            json.dumps(ent, sort_keys=True).encode()
        ).hexdigest()[:16]
        for key, ent in snap.items()
    }


def _load_fp_book(root: str) -> dict[str, dict]:
    try:
        with open(os.path.join(root, BOOK)) as f:
            book = json.load(f)
        return book if isinstance(book, dict) else {}
    except Exception:
        return {}


def heal_fp_book(
    root: str, latest: int, ops: Mapping[str, Op]
) -> dict[str, dict]:
    """The fingerprint book {op: {"fp", "since_round", "src_fp"}} healed
    against the registered `ops`, in memory.

    An entry is rewritten with since_round = `latest` + 1 (`latest` =
    the newest recorded CORRECTNESS round, i.e. "certifiable from the
    next sweep on") when its checker fingerprint changed, when its plan
    source changed, or when it is malformed (not a dict, or a
    since_round that is not an int — a hand-edit or merge mangle must
    demote and heal, never crash).

    src_fp covers the op function's source plus any helpers it declared
    via register(deps=...). An edit inside an undeclared helper is not
    seen: declare the helper, or bump since_round by hand in the same
    commit. Comment and docstring edits bump too: one safe-side re-check
    beats parsing intent."""
    book = _load_fp_book(root)
    rows_fps = _rows_snapshot_fps(root)
    for key, op in ops.items():
        if op.oracle is not None:
            fp = _oracle_fp(op.oracle)
        elif rows_fps is not None and key in rows_fps:
            fp = rows_fps[key]
        else:
            # ROWS op with no snapshot entry yet (brand-new — it has
            # no green row to protect) or no snapshot file on disk:
            # nothing to fingerprint, keep any on-disk entry as-is.
            continue
        ent = book.get(key)
        if (
            not isinstance(ent, dict)
            or ent.get("fp") != fp
            or not isinstance(ent.get("since_round"), int)
            or (op.src_fp and ent.get("src_fp") != op.src_fp)
        ):
            book[key] = {
                "fp": fp,
                "since_round": latest + 1,
                "src_fp": op.src_fp,
            }
    return book


def _latest_round(root: str) -> int:
    return max((rnd for rnd, _ in iter_correctness_rounds(root)), default=0)


def fresh_fp_book(root: str, ops: Mapping[str, Op]) -> str:
    """The text of `root`'s fingerprint book healed against `ops`."""
    book = heal_fp_book(root, _latest_round(root), ops)
    return json.dumps(book, indent=1, sort_keys=True) + "\n"


def write_fp_book(root: str, ops: Mapping[str, Op]) -> bool:
    """Rewrite `root`'s fingerprint book healed against `ops`; atomic.
    Returns whether the file changed."""
    text = fresh_fp_book(root, ops)
    path = os.path.join(root, BOOK)
    try:
        with open(path) as f:
            if f.read() == text:
                return False
    except OSError:
        pass
    fd, tmp = tempfile.mkstemp(dir=os.path.dirname(path), suffix=".tmp")
    with os.fdopen(fd, "w") as f:
        f.write(text)
    os.replace(tmp, path)
    return True


def certified_rounds(root: str, ops: Mapping[str, Op]) -> dict[str, int]:
    """{op: round of its latest green driver row}, with two demotion
    rules on top:

    1. An oracle upgrade invalidates rows-only certification. When an
       op that used to register oracle=None gains a SQL oracle, its
       old green rows prove only the weaker ran-clean check — the hash
       gate has never run — so it drops out and the next sweep
       re-checks it first.
    2. A checker or plan rewrite invalidates certification. A green row
       older than the book's since_round certified a different oracle,
       snapshot entry or plan.

    Ops missing from `ops` are never demoted. Shared by sweep_order and
    scripts/evidence_age.py so the sweep and the report agree."""
    certified: dict[str, int] = {}
    green_kind: dict[str, str] = {}
    latest = 0
    for rnd, rows in iter_correctness_rounds(root):
        latest = max(latest, rnd)
        for key, row in rows.items():
            if _row_is_green(row):
                certified[key] = rnd
                green_kind[key] = (
                    "rows" if row.get("err") == "no_oracle" else "sql"
                )
            else:
                certified.pop(key, None)
                green_kind.pop(key, None)
    fp_book = heal_fp_book(root, latest, ops)
    for key in list(certified):
        op = ops.get(key)
        if op is None:
            continue
        if op.oracle is not None and green_kind.get(key) == "rows":
            certified.pop(key, None)  # rule 1: oracle upgrade
            continue
        # ROWS ops without a book entry (no snapshot file on disk) fall
        # through with since=0 and are never demoted here.
        ent = fp_book.get(key)
        since = ent.get("since_round", 0) if isinstance(ent, dict) else 0
        if isinstance(since, int) and certified[key] < since:
            certified.pop(key, None)  # rule 2: checker or plan rewrite
    return certified


def sweep_order(
    keys: list[str], root: str, ops: Mapping[str, Op]
) -> list[str]:
    """Order `keys` for the driver's budgeted correctness sweep.

    The sweep records about 50 entries per round in queries() order,
    so the order decides which ops get fresh evidence:

      1. ops with no GREEN row yet — never swept, or swept but
         errored/mismatched, or demoted by certified_rounds — first,
         then
      2. certified ops, stalest driver evidence first (round of the
         latest green row, ascending), so the budget refreshes the ops
         whose evidence predates the most shared-helper churn instead
         of re-checking the same cheap scans every round.

    Within a round, cheapest first: cost is the measured sf0.01 wall
    time from op_costs.json (scripts/sweep_sim.py --dump-costs); ops
    without a measurement come after measured ones. Remaining ties go
    by op key, so the order does not depend on module layout."""
    certified = certified_rounds(root, ops)
    costs: dict[str, float] = {}
    try:
        with open(os.path.join(root, COSTS)) as f:
            raw = json.load(f)
        # a malformed costs book must never break the driver entry points
        if isinstance(raw, dict):
            costs = {
                k: float(v)
                for k, v in raw.items()
                if isinstance(v, (int, float))
            }
    except Exception:
        pass

    def key_fn(k: str):
        # uncertified (round 0) first, then oldest evidence, then cheapest
        return (certified.get(k, 0), costs.get(k, float("inf")), k)

    return sorted(keys, key=key_fn)


if __name__ == "__main__":
    changed = write_fp_book(ROOT, load_all())
    print(f"{BOOK}: {'rewritten' if changed else 'up to date'}")
