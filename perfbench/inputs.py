"""Seeded input generators. The same seed gives the same tables, row for
row; the benchmark never reads data from outside its checkout.

The tables follow the program's own test tables (``sf0.01``, and ``sf0.1``
for the versioned ``events`` table) in row counts, key cardinalities,
vocabularies and value distributions; ``perfbench/README.md`` lists the
figures measured on those tables that the generators match.
"""

from __future__ import annotations

import datetime as dt
from pathlib import Path

import numpy as np
import pandas as pd

EVENTS_DDL = ("event_id bigint, user_id bigint, event_type string, "
              "value double, event_date date")
EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
FIRST_DAY = dt.date(2024, 1, 1)
N_USERS = 1500


def events_table(rng: np.random.Generator, rows: int, days: int,
                 first_id: int = 0) -> pd.DataFrame:
    """Rows of the versioned ``events`` table (schema ``EVENTS_DDL``).
    ``value`` holds cents as a double, so sums and doublings are exact in
    both pandas and Spark."""
    return pd.DataFrame({
        "event_id": np.arange(first_id, first_id + rows, dtype="int64"),
        "user_id": rng.integers(0, N_USERS, rows).astype("int64"),
        "event_type": rng.choice(EVENT_TYPES, rows),
        "value": event_values(rng, rows),
        "event_date": [FIRST_DAY + dt.timedelta(days=int(d))
                       for d in rng.integers(0, days, rows)],
    })


def event_values(rng: np.random.Generator, n: int) -> np.ndarray:
    """Exponential with mean 50, in whole cents, at least one cent."""
    cents = np.maximum(1, np.rint(rng.exponential(5_000.0, n)))
    return cents.astype("float64") / 100.0


def day(i: int) -> dt.date:
    return FIRST_DAY + dt.timedelta(days=i)


# ------------------------------------------------------- analytics tables

WORDS = ("a agg batch big column customer data dup fast filter group hash "
         "join key line merge order part query row scan slow small sort "
         "spark stream table the value vector window").split()
PART_WORDS = ("anvil blue bolt cold gear gizmo hot large new old plate red "
              "ring rod small widget").split()
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                     "MACHINERY"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                       "5-LOW"])


def _ts(rng, n, start: str, days: int) -> pd.Series:
    base = np.datetime64(start, "us")
    us = rng.integers(0, days * 86_400_000_000, n)
    return pd.Series(base + us.astype("timedelta64[us]"))


def write_analytics_tables(rng: np.random.Generator, out: Path) -> None:
    """Write the tables the analytics ids read, as ``<out>/<name>.parquet``
    (shaped like the program's sf0.01 test tables)."""
    out.mkdir(parents=True, exist_ok=True)
    n_cust, n_orders, n_part, n_supp = 1500, 15000, 2000, 100
    tables = {}
    tables["region"] = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype="int32"),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    tables["nation"] = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype="int32"),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype("int32")})
    tables["customer"] = pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
        "c_acctbal": rng.integers(-99_999, 999_999, n_cust) / 100.0,
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    tables["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
        "s_acctbal": rng.integers(-99_999, 999_999, n_supp) / 100.0})
    tables["part"] = pd.DataFrame({
        "p_partkey": np.arange(n_part, dtype="int64"),
        "p_name": [" ".join(rng.choice(PART_WORDS, 2))
                   for _ in range(n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "SMALL", "MEDIUM", "PROMO",
                              "STANDARD", "LARGE"], n_part),
        "p_size": rng.integers(1, 51, n_part).astype("int32"),
        "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0})
    tables["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(n_orders, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_orders).astype("int64"),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
        "o_totalprice": rng.integers(100_000, 50_000_000, n_orders) / 100.0,
        "o_orderdate": _ts(rng, n_orders, "1995-01-01", 2404).dt.floor("D"),
        "o_orderpriority": rng.choice(PRIORITIES, n_orders)})
    n_li = 60_000
    tables["lineitem"] = pd.DataFrame({
        "l_orderkey": rng.integers(0, n_orders, n_li).astype("int64"),
        "l_partkey": rng.integers(0, n_part, n_li).astype("int64"),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype("int64"),
        "l_linenumber": rng.integers(1, 8, n_li).astype("int32"),
        "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
        "l_extendedprice": rng.integers(90_000, 10_500_000, n_li) / 100.0,
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _ts(rng, n_li, "1995-01-02", 2499).dt.floor("D")})
    n_ev = 10_000
    tables["events"] = pd.DataFrame({
        "event_id": np.arange(n_ev, dtype="int64"),
        "ts": _ts(rng, n_ev, "2024-01-01", 30).sort_values(ignore_index=True),
        "user_id": rng.integers(0, 150, n_ev).astype("int64"),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": event_values(rng, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    n_docs = 500
    tables["documents"] = pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype="int64"),
        "text": [" ".join(rng.choice(WORDS, k))
                 for k in rng.integers(10, 100, n_docs)],
        "lang": rng.choice(["en", "de", "es", "fr", "zh"], n_docs),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)]})
    tables["documents"]["n_chars"] = (
        tables["documents"]["text"].str.len().astype("int64"))
    n_vec = 500
    vecs = rng.standard_normal((n_vec, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)   # unit length
    tables["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(n_vec, dtype="int64"),
        "embedding": list(vecs.astype("float32")),
        "label": rng.integers(0, 10, n_vec).astype("int32")})
    for name, df in tables.items():
        df.to_parquet(out / f"{name}.parquet", index=False)
