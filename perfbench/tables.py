"""Seeded fixture tables for the query_mix workload, and their oracle.

The registry's queries read ten parquet tables (a TPC-H-like star schema
plus ``events``, ``documents`` and ``embeddings``). This module writes
tables of the same schemas, value domains and sizes as the sf0.1 fixture,
drawn from ``seed``, so the benchmark needs no data from outside its
checkout. ``oracle_rows`` runs each query's DuckDB oracle SQL over the same
files; the benchmark checks the Spark rows-out against it.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Row counts of the sf0.1 fixture.
SIZES = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}

_SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
_ADJ = ["red", "small", "hot", "cold", "old", "new", "large", "blue"]
_NOUN = ["gear", "gizmo", "widget", "ring", "plate", "anvil", "bolt", "rod"]
_PTYPES = ["LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]
_LANGS = ["en", "zh", "es", "fr", "de"]
_LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast the row "
    "agg key query a scan batch"
).split()


def _ts_us(rng: np.random.Generator, start: str, days: int, n: int, whole_days: bool) -> pa.Array:
    base = np.datetime64(start, "us")
    if whole_days:
        off = rng.integers(0, days, n).astype("timedelta64[D]").astype("timedelta64[us]")
    else:
        off = rng.integers(0, days * 86_400_000_000, n).astype("timedelta64[us]")
    return pa.array(base + off, type=pa.timestamp("us"))


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def make_tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = SIZES
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": np.arange(n["customer"], dtype=np.int64),
            "c_name": _names("Customer", n["customer"]),
            "c_nationkey": rng.integers(0, 25, n["customer"]).astype(np.int32),
            "c_acctbal": _cents(rng, -999.99, 9999.99, n["customer"]),
            "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n["customer"])],
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
            "s_name": _names("Supplier", n["supplier"]),
            "s_nationkey": rng.integers(0, 25, n["supplier"]).astype(np.int32),
            "s_acctbal": _cents(rng, -999.99, 9999.99, n["supplier"]),
        }
    )
    np_ = n["part"]
    out["part"] = pa.table(
        {
            "p_partkey": np.arange(np_, dtype=np.int64),
            "p_name": np.char.add(
                np.char.add(np.array(_ADJ)[rng.integers(0, 8, np_)], " "),
                np.array(_NOUN)[rng.integers(0, 8, np_)],
            ),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, np_).astype(str)),
            "p_type": np.array(_PTYPES)[rng.integers(0, 6, np_)],
            "p_size": rng.integers(1, 51, np_).astype(np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(np_) % 1000) * 0.1, 2),
        }
    )
    no = n["orders"]
    out["orders"] = pa.table(
        {
            "o_orderkey": np.arange(no, dtype=np.int64),
            "o_custkey": rng.integers(0, n["customer"], no).astype(np.int64),
            "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, no)],
            "o_totalprice": _cents(rng, 1000.0, 500_000.0, no),
            "o_orderdate": _ts_us(rng, "1995-01-01", 2404, no, whole_days=True),
            "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, no)],
        }
    )
    nl = n["lineitem"]
    out["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
            "l_partkey": rng.integers(0, np_, nl).astype(np.int64),
            "l_suppkey": rng.integers(0, n["supplier"], nl).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _cents(rng, 900.0, 105_000.0, nl),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": np.array(["N", "R", "A"])[rng.integers(0, 3, nl)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
            "l_shipdate": _ts_us(rng, "1995-01-02", 2498, nl, whole_days=True),
        }
    )
    ne = n["events"]
    ts = np.sort(
        np.datetime64("2024-01-01", "us")
        + rng.integers(0, 30 * 86_400_000_000, ne).astype("timedelta64[us]")
    )
    out["events"] = pa.table(
        {
            "event_id": np.arange(ne, dtype=np.int64),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": rng.integers(0, 1500, ne).astype(np.int64),
            "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, ne)],
            "value": np.round(rng.exponential(100.0, ne), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )
    nd = n["documents"]
    texts = []
    for _ in range(nd):
        words = rng.choice(_WORDS, size=int(rng.integers(10, 101)))
        texts.append(" ".join(words))
    # a few exact duplicates, so dedup queries have work to find
    for i in rng.choice(nd, size=nd // 50, replace=False):
        texts[i] = texts[(i + 1) % nd]
    out["documents"] = pa.table(
        {
            "doc_id": np.arange(nd, dtype=np.int64),
            "text": texts,
            "lang": np.array(_LANGS)[rng.choice(5, size=nd, p=_LANG_P)],
            "source": [f"src{i % 20}" for i in range(nd)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    nv = n["embeddings"]
    vec = rng.standard_normal((nv, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    out["embeddings"] = pa.table(
        {
            "vec_id": np.arange(nv, dtype=np.int64),
            "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
            "label": rng.integers(0, 10, nv).astype(np.int32),
        }
    )
    return out


def write_tables(seed: int, out_dir: str) -> None:
    """Write the seed's tables as ``<out_dir>/<table>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in make_tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def oracle_rows(sf_dir: str, oracles: dict[str, str]) -> dict[str, int]:
    """Row count of each oracle SQL over the tables in ``sf_dir`` (DuckDB)."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )
        return {
            name: con.execute(f"SELECT count(*) FROM ({sql})").fetchone()[0]
            for name, sql in oracles.items()
        }
    finally:
        con.close()
