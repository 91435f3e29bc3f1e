"""Seeded input generation for the benchmark workloads.

Every table is built from ``numpy.random.Generator(PCG64(seed))`` and written
with pyarrow, so one seed gives byte-identical parquet files.  The program
under test only ever sees these files.

- ``tpch``: the star schema at sf0.01 sizes (the shapes and value domains of
  the repository's correctness fixtures, see FIXTURES.md).
- ``documents``: a word-salad corpus with seeded near-duplicates.
- ``warehouse``: the ``compat.MSSQL`` parquet warehouse for ``etl_roundtrip``.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SF001_ROWS = {
    "region": 5,
    "nation": 25,
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ["de", "en", "en", "en", "es", "fr", "zh"]

N_DOCS = 200
NEARDUP_SHARE = 0.3

_EPOCH = dt.datetime(1970, 1, 1)


def _rng(seed: int, stream: int) -> np.random.Generator:
    """One independent generator per table, so adding a table never shifts
    the values of another."""
    return np.random.Generator(np.random.PCG64([seed, stream]))


def _days(start: dt.date, end: dt.date, n: int, rng) -> np.ndarray:
    lo = (dt.datetime.combine(start, dt.time()) - _EPOCH).days
    hi = (dt.datetime.combine(end, dt.time()) - _EPOCH).days
    return rng.integers(lo, hi + 1, n)


def _ts(days: np.ndarray) -> pa.Array:
    micros = days.astype("int64") * 86_400_000_000
    return pa.array(micros, pa.int64()).cast(pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


def tpch_tables(seed: int) -> dict[str, pa.Table]:
    n = SF001_ROWS
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS,
        }
    )
    r = _rng(seed, 1)
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(r.integers(0, 5, 25), pa.int32()),
        }
    )
    r = _rng(seed, 2)
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(range(n["customer"]), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
            "c_nationkey": pa.array(r.integers(0, 25, n["customer"]), pa.int32()),
            "c_acctbal": _money(r, -999.99, 9999.99, n["customer"]),
            "c_mktsegment": [SEGMENTS[i] for i in r.integers(0, 5, n["customer"])],
        }
    )
    r = _rng(seed, 3)
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(range(n["supplier"]), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
            "s_nationkey": pa.array(r.integers(0, 25, n["supplier"]), pa.int32()),
            "s_acctbal": _money(r, -999.99, 9999.99, n["supplier"]),
        }
    )
    r = _rng(seed, 4)
    np_ = n["part"]
    adj, noun = r.integers(0, 8, np_), r.integers(0, 8, np_)
    price = 900.0 + np.round(r.integers(0, 1000, np_) / 10.0, 1)
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(range(np_), pa.int64()),
            "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)],
            "p_brand": [f"Brand#{i}" for i in r.integers(1, 26, np_)],
            "p_type": [PART_TYPES[i] for i in r.integers(0, 6, np_)],
            "p_size": pa.array(r.integers(1, 51, np_), pa.int32()),
            "p_retailprice": price,
        }
    )
    r = _rng(seed, 5)
    no = n["orders"]
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(range(no), pa.int64()),
            "o_custkey": pa.array(r.integers(0, n["customer"], no), pa.int64()),
            "o_orderstatus": [["F", "O", "P"][i] for i in r.integers(0, 3, no)],
            "o_totalprice": _money(r, 1000.0, 500000.0, no),
            "o_orderdate": _ts(_days(dt.date(1995, 1, 1), dt.date(2001, 8, 1), no, r)),
            "o_orderpriority": [PRIORITIES[i] for i in r.integers(0, 5, no)],
        }
    )
    r = _rng(seed, 6)
    nl = n["lineitem"]
    partkey = r.integers(0, np_, nl)
    qty = r.integers(1, 51, nl).astype("float64")
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(r.integers(0, no, nl), pa.int64()),
            "l_partkey": pa.array(partkey, pa.int64()),
            "l_suppkey": pa.array(r.integers(0, n["supplier"], nl), pa.int64()),
            "l_linenumber": pa.array(r.integers(1, 8, nl), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * price[partkey] * r.uniform(0.95, 1.05, nl), 2),
            "l_discount": np.round(r.integers(0, 11, nl) / 100.0, 2),
            "l_tax": np.round(r.integers(0, 9, nl) / 100.0, 2),
            "l_returnflag": [["A", "N", "R"][i] for i in r.integers(0, 3, nl)],
            "l_linestatus": [["F", "O"][i] for i in r.integers(0, 2, nl)],
            "l_shipdate": _ts(_days(dt.date(1995, 1, 2), dt.date(2001, 11, 4), nl, r)),
        }
    )
    return out


def documents_table(seed: int) -> pa.Table:
    """Word-salad documents; a seeded share are near-duplicates of an
    earlier document (one to three word edits), so the near-dup operators
    find real clusters."""
    r = _rng(seed, 7)
    texts: list[list[str]] = []
    for i in range(N_DOCS):
        if i > 0 and r.random() < NEARDUP_SHARE:
            words = list(texts[int(r.integers(0, i))])
            for _ in range(int(r.integers(1, 4))):
                pos = int(r.integers(0, len(words)))
                edit = int(r.integers(0, 3))
                word = VOCAB[int(r.integers(0, len(VOCAB)))]
                if edit == 0:
                    words[pos] = word
                elif edit == 1:
                    words.insert(pos, word)
                elif len(words) > 10:
                    del words[pos]
        else:
            words = [VOCAB[j] for j in r.integers(0, len(VOCAB), int(r.integers(10, 80)))]
        texts.append(words)
    text = [" ".join(w) for w in texts]
    return pa.table(
        {
            "doc_id": pa.array(range(N_DOCS), pa.int64()),
            "text": text,
            "lang": [LANGS[i] for i in r.integers(0, len(LANGS), N_DOCS)],
            "source": [f"src{i % 20}" for i in range(N_DOCS)],
            "n_chars": pa.array([len(t) for t in text], pa.int64()),
        }
    )


def warehouse_tables(seed: int) -> dict[str, pa.Table]:
    """The ``etl_roundtrip`` warehouse: customers, orders, a staging copy of
    part of the customers for ``update_from_table``, and a load table that
    is truncated and reloaded."""
    t = tpch_tables(seed)
    cust = t["customer"]
    orders = t["orders"]
    orders = orders.set_column(
        orders.schema.get_field_index("o_orderdate"),
        "o_orderdate",
        orders["o_orderdate"].cast(pa.date32()),
    )
    r = _rng(seed, 8)
    stage_keys = np.sort(r.choice(len(cust), 300, replace=False))
    stage = pa.table(
        {
            "c_custkey": pa.array(stage_keys, pa.int64()),
            "c_acctbal": _money(r, -999.99, 9999.99, len(stage_keys)),
            "c_mktsegment": [SEGMENTS[i] for i in r.integers(0, 5, len(stage_keys))],
        }
    )
    return {
        "customer": cust,
        "orders": orders,
        "customer_stage": stage,
        "lineitem_load": t["lineitem"].slice(0, 5000).drop(["l_shipdate"]),
    }


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def generate(seed: int, root: str) -> dict[str, str]:
    """Write every input for ``seed`` under ``root``; return the layout.

    ``sf_dir`` holds ``<table>.parquet`` files in the catalog's layout;
    ``warehouse`` holds ``<db>/dbo.<table>/part-0.parquet`` directories.
    Existing files are reused (they are a pure function of the seed).
    """
    sf_dir = os.path.join(root, "sf")
    wh = os.path.join(root, "warehouse")
    done = os.path.join(root, ".complete")
    if not os.path.exists(done):
        for name, tbl in tpch_tables(seed).items():
            _write(tbl, os.path.join(sf_dir, f"{name}.parquet"))
        _write(documents_table(seed), os.path.join(sf_dir, "documents.parquet"))
        for name, tbl in warehouse_tables(seed).items():
            _write(tbl, os.path.join(wh, "etl", f"dbo.{name}", "part-0.parquet"))
        with open(done, "w") as fh:
            fh.write(str(seed))
    return {"sf_dir": sf_dir, "warehouse": wh}
