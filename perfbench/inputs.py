"""Seeded input tables for the benchmark.

Every table is drawn from ``numpy.random.default_rng(seed)`` and written
as one parquet file per table, in the layout and value domains of the
engine's TPC-H-ish test tables (region nation customer supplier part
orders lineitem documents), so the registry queries
and their DuckDB oracles run on them unchanged. The same seed and scale
give byte-identical files; a finished directory is reused.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["red", "blue", "hot", "cold", "new", "small", "large", "green"]
PART_NOUN = ["bolt", "ring", "rod", "plate", "gear", "anvil", "nut", "pin"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
WORDS = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()

_FORMAT = 2  # bump when a generator changes, so stale caches are rebuilt


def _ts(day0: str, offsets_us: np.ndarray) -> pa.Array:
    base = np.datetime64(day0, "us")
    return pa.array(base + offsets_us.astype("timedelta64[us]"),
                    pa.timestamp("us"))


def _days(rng, n: int, lo: str, hi: str) -> pa.Array:
    span = int((np.datetime64(hi, "D") - np.datetime64(lo, "D"))
               .astype(int))
    days = rng.integers(0, span + 1, n).astype("int64")
    return _ts(lo, days * 86_400_000_000)


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def _choice(rng, values: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), n, p=p)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx, pa.int32()), pa.array(values)).cast(pa.string())


def tpch_tables(rng, sf: float) -> dict[str, pa.Table]:
    """region .. lineitem at scale ``sf`` (lineitem has 6M * sf rows)."""
    n_cust, n_supp = int(150_000 * sf), max(int(10_000 * sf), 25)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_li = 4 * n_ord
    return {
        "region": pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": REGIONS}),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": _names("Customer", n_cust),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": _choice(rng, SEGMENTS, n_cust)}),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": _names("Supplier", n_supp),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)}),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                                rng.integers(0, 8, (n_part, 2))]),
            "p_brand": pa.array([f"Brand#{b}" for b in
                                 rng.integers(1, 26, n_part)]),
            "p_type": _choice(rng, PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0}),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": _choice(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, n_ord, 1000.0, 500_000.0),
            "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
            "o_orderpriority": _choice(rng, PRIORITIES, n_ord)}),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
            "l_extendedprice": _money(rng, n_li, 900.0, 105_000.0),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": _choice(rng, ["A", "N", "R"], n_li),
            "l_linestatus": _choice(rng, ["F", "O"], n_li),
            "l_shipdate": _days(rng, n_li, "1995-01-02", "2001-11-04")}),
    }


def documents_table(rng, n: int) -> pa.Table:
    """Whitespace-token documents; 3% are exact copies and 5% one-word
    edits of an earlier document, so the dedup stages have work."""
    words = np.array(WORDS)
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.03:
            texts.append(texts[rng.integers(0, i)])
        elif i > 10 and r < 0.08:
            toks = texts[rng.integers(0, i)].split()
            toks[rng.integers(0, len(toks))] = words[rng.integers(0, len(words))]
            texts.append(" ".join(toks))
        else:
            texts.append(" ".join(words[rng.integers(0, len(words),
                                                     rng.integers(8, 97))]))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": _choice(rng, LANGS, n, p=LANG_P),
        "source": pa.array([f"src{i % 5}" for i in range(n)]),
        "n_chars": pa.array([len(s) for s in texts], pa.int64())})


def indexed_table(rng, n: int) -> pa.Table:
    """Orders-like rows with a dense 0-based ``__row_id__``, the
    persisted index ``operators.sorting.slice_rows`` reads."""
    return pa.table({
        "__row_id__": pa.array(np.arange(n), pa.int64()),
        "customer": pa.array(rng.integers(0, max(n // 10, 1), n), pa.int64()),
        "amount": _money(rng, n, 1.0, 5000.0),
        "day": _days(rng, n, "2021-07-29", "2021-12-26"),
        "segment": _choice(rng, SEGMENTS, n)})


def csv_text(rng, n: int) -> str:
    """A CSV whose columns need each inference outcome: int, float,
    date, bool, and text with empty cells."""
    d0 = dt.date(2015, 1, 1)
    lines = ["id,amount,day,flag,label"]
    for i in range(n):
        label = "" if rng.random() < 0.05 else \
            WORDS[rng.integers(0, len(WORDS))]
        day = d0 + dt.timedelta(days=int(rng.integers(0, 3650)))
        flag = "true" if rng.random() < 0.5 else "false"
        lines.append(f"{i},{rng.integers(0, 10**6) / 100:.2f},{day},"
                     f"{flag},{label}")
    return "\n".join(lines) + "\n"


def build(root: str, seed: int, sizes: dict) -> str:
    """Write the tables named in ``sizes`` under ``root`` (once per seed
    and sizes) and return their directory.

    ``sizes`` keys: ``sf`` (TPC-H tables), ``documents``, ``indexed``
    (row counts) and ``csv`` (CSV rows)."""
    tag = "-".join(f"{k}{v}" for k, v in sorted(sizes.items()))
    out = os.path.join(root, f"seed{seed}-{tag}-v{_FORMAT}")
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    rng = np.random.default_rng(seed)
    tables: dict[str, pa.Table] = {}
    if "sf" in sizes:
        tables.update(tpch_tables(rng, sizes["sf"]))
    if "documents" in sizes:
        tables["documents"] = documents_table(rng, sizes["documents"])
    if "indexed" in sizes:
        tables["indexed"] = indexed_table(rng, sizes["indexed"])
    for name, table in tables.items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    if "csv" in sizes:
        with open(os.path.join(tmp, "orders.csv"), "w") as fh:
            fh.write(csv_text(rng, sizes["csv"]))
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out
