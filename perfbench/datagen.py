"""Deterministic synthetic tables in the schema the engine's operators read.

The ten tables (TPC-H-like star schema plus events, documents and
embeddings) follow the column names, types and value ranges of the
engine's test data, so every registered operator runs on them. Row
counts scale with ``sf`` the same way (lineitem ~6M x sf). Unlike the
test data, (l_orderkey, l_linenumber) is unique, so search paging has a
total order. A fixed share of documents are near-copies of earlier ones,
so the near-duplicate operators find pairs.

``generate(out_dir, sf)`` writes one parquet file per table and a
``_DONE`` marker naming the generator version and a digest of the
files' bytes; a directory with a matching marker is reused as is.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VERSION = "2"
DATA_SEED = 42

_WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "en", "en", "es", "zh", "de", "fr"]
_DAY_US = 86_400_000_000


def _days(start: dt.date, n: np.ndarray) -> pa.Array:
    epoch = (start - dt.date(1970, 1, 1)).days
    return pa.array((epoch + n).astype("int64") * _DAY_US, pa.timestamp("us"))


def _tables(sf: float, rng: np.random.Generator) -> dict[str, pa.Table]:
    n_cust = max(10, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_orders = max(100, int(1_500_000 * sf))
    n_events = max(100, int(1_000_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_vecs = max(500, int(20_000 * sf))
    t: dict[str, pa.Table] = {}

    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
        }
    )
    adj = np.array(_PART_ADJ)[rng.integers(0, len(_PART_ADJ), n_part)]
    noun = np.array(_PART_NOUN)[rng.integers(0, len(_PART_NOUN), n_part)]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": np.char.add(np.char.add(adj, " "), noun),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
            "p_type": np.array(_PART_TYPES)[rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
        }
    )
    order_day = rng.integers(0, 2404, n_orders)  # 1995-01-01 .. 2001-08-01
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)],
            "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n_orders), 2),
            "o_orderdate": _days(dt.date(1995, 1, 1), order_day),
            "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_orders)],
        }
    )
    lines = rng.integers(1, 8, n_orders)
    n_li = int(lines.sum())
    okey = np.repeat(np.arange(n_orders), lines)
    first = np.repeat(np.cumsum(lines) - lines, lines)
    qty = rng.integers(1, 51, n_li).astype("float64")
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(okey, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(np.arange(n_li) - first + 1, pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, n_li), 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
            "l_shipdate": _days(
                dt.date(1995, 1, 2),
                np.minimum(order_day[okey] + rng.integers(1, 122, n_li), 2497),
            ),
        }
    )
    ts = np.sort(rng.integers(0, 30 * _DAY_US, n_events))
    epoch_2024 = (dt.date(2024, 1, 1) - dt.date(1970, 1, 1)).days * _DAY_US
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_events), pa.int64()),
            "ts": pa.array(epoch_2024 + ts, pa.timestamp("us")),
            "user_id": pa.array(
                rng.integers(0, max(10, n_events // 66), n_events), pa.int64()
            ),
            "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n_events)],
            "value": np.round(rng.exponential(60.0, n_events), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        }
    )
    texts: list[str] = []
    originals: list[int] = []
    for i in range(n_docs):
        if i >= 20 and rng.random() < 0.04:
            # near-copy of an earlier original: a few words replaced
            words = texts[originals[int(rng.integers(0, len(originals)))]].split()
            for j in rng.integers(0, len(words), int(rng.integers(0, 3))):
                words[j] = _WORDS[int(rng.integers(0, len(_WORDS)))]
        else:
            words = [
                _WORDS[k] for k in rng.integers(0, len(_WORDS), rng.integers(8, 90))
            ]
            originals.append(i)
        texts.append(" ".join(words))
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": texts,
            "lang": np.array(_LANGS)[rng.integers(0, len(_LANGS), n_docs)],
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": pa.array([len(s) for s in texts], pa.int64()),
        }
    )
    labels = rng.integers(0, 10, n_vecs)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] + rng.normal(0.0, 1.0, (n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return t


def _stamp(sf: float) -> str:
    return f"{VERSION} {sf} {DATA_SEED}"


def generate(out_dir: str, sf: float) -> str:
    """Write the tables for ``sf`` under ``out_dir`` (once) and return it."""
    try:
        if fingerprint(out_dir).startswith(_stamp(sf) + " "):
            return out_dir
    except FileNotFoundError:
        pass
    shutil.rmtree(out_dir, ignore_errors=True)
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    rng = np.random.default_rng(DATA_SEED)
    h = hashlib.sha256()
    for name, table in _tables(sf, rng).items():
        path = os.path.join(tmp, f"{name}.parquet")
        pq.write_table(table, path)
        with open(path, "rb") as f:
            h.update(f.read())
    with open(os.path.join(tmp, "_DONE"), "w") as f:
        f.write(f"{_stamp(sf)} {h.hexdigest()[:32]}")
    os.replace(tmp, out_dir)
    return out_dir


def fingerprint(out_dir: str) -> str:
    """The generator version, scale, seed and file digest of ``out_dir``."""
    with open(os.path.join(out_dir, "_DONE")) as f:
        return f.read()
