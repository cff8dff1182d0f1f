"""Correctness checks against DuckDB over the same parquet files.

Operator results are compared by row count and an order-insensitive
digest of their canonical values; the expected side is the operator's
registered DuckDB oracle. Expected digests are looked up in
``expected.json`` beside this file, keyed by a hash of the generated
data's fingerprint and the oracle SQL, and computed (and kept in the
run's cache file) on a miss. Search requests are compared row by row:
``total_count`` and the page, in page order.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import json
import os

import duckdb

from ocdb_server_spark.io import TABLES
from perfbench.searchgen import render_count_sql, render_sql

EXPECTED_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")


def _cell(v):
    if isinstance(v, float):
        return ("f", repr(v))
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, int):
        return ("i", v)
    if isinstance(v, decimal.Decimal):
        return ("n", str(v))
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return ("t", v.isoformat())
    if isinstance(v, dt.date):
        return ("d", v.isoformat())
    if isinstance(v, bytes):
        return ("x", v.hex())
    if isinstance(v, (list, tuple)):
        return tuple(_cell(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _cell(x)) for k, x in v.items()))
    return v


def _rows(table, cols: list[str]) -> list[tuple]:
    """Canonical rows of an Arrow table, in table order, over ``cols``."""
    data = [table.column(c).to_pylist() for c in cols]
    return [tuple(_cell(col[i]) for col in data) for i in range(table.num_rows)]


def digest(table) -> tuple[int, str]:
    """(row count, order-insensitive digest of names and values)."""
    body = sorted(repr(r) for r in _rows(table, sorted(table.column_names)))
    h = hashlib.sha256(repr(sorted(table.column_names)).encode())
    for line in body:
        h.update(line.encode())
        h.update(b"\n")
    return table.num_rows, h.hexdigest()[:32]


def connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


class Expected:
    """Expected (rows, digest) per oracle, from ``expected.json`` or the
    run cache, else computed with DuckDB."""

    def __init__(self, sf_dir: str, fingerprint: str, cache_path: str) -> None:
        self._sf_dir = sf_dir
        self._fp = fingerprint
        self._cache_path = cache_path
        self._con = None
        self.book: dict[str, list] = {}
        for path in (EXPECTED_PATH, cache_path):
            try:
                with open(path) as f:
                    self.book.update(json.load(f))
            except FileNotFoundError:
                pass
        self.computed: dict[str, list] = {}

    def key(self, sql: str) -> str:
        return hashlib.sha256((self._fp + "\n" + sql).encode()).hexdigest()[:24]

    def get(self, sql: str) -> tuple[int, str]:
        k = self.key(sql)
        if k not in self.book:
            if self._con is None:
                self._con = connect(self._sf_dir)
            self.book[k] = self.computed[k] = list(digest(self._con.execute(sql).arrow()))
        return tuple(self.book[k])

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
        if self.computed:
            cached = {}
            try:
                with open(self._cache_path) as f:
                    cached = json.load(f)
            except FileNotFoundError:
                pass
            cached.update(self.computed)
            with open(self._cache_path, "w") as f:
                json.dump(cached, f, indent=1, sort_keys=True)


def search_mismatch(con, q, total: int, page) -> str | None:
    """None when ``find_datasets``' total and page equal DuckDB's, else
    what differs."""
    want_total = con.execute(render_count_sql(q)).fetchone()[0]
    if want_total != total:
        return f"total_count {total} != {want_total}"
    want = con.execute(render_sql(q)).arrow()
    if want.column_names != page.column_names:
        return f"columns {page.column_names} != {want.column_names}"
    got_rows, want_rows = _rows(page, page.column_names), _rows(want, want.column_names)
    if got_rows != want_rows:
        return f"page differs ({len(got_rows)} vs {len(want_rows)} rows)"
    return None
