"""Deterministic generator for the benchmark's input tables.

Writes the ten tables the engine's query registry reads (TPC-H-ish star
schema plus ``events``, ``documents`` and ``embeddings``) as one parquet
file each, with the column names, types and value domains of the
engine's reference test data: dense 0-based keys, fixed dimension tables
(5 regions, 25 nations), fixed date and timestamp ranges, and entity
cardinalities proportional to the scale factor ``sf``:

    customer 150k·sf   supplier 10k·sf   part 200k·sf   orders 1.5M·sf
    lineitem 6M·sf     events 1M·sf (15k·sf users)
    documents max(500, 50k·sf)   embeddings max(500, 20k·sf), 64-dim

The same ``(sf, seed)`` always gives byte-identical values. Each table
is written as one parquet row group, as in the engine's reference test
data at sf0.1, so Spark scans each table with one task.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["large", "hot", "blue", "old", "cold", "small", "red", "new"]
PART_NOUN = ["ring", "bolt", "plate", "gear", "nut", "pipe", "valve", "spring"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

DAY_US = 86_400 * 1_000_000


def _days(start: str, end: str) -> tuple[int, int]:
    d0 = np.datetime64(start, "D").astype(np.int64)
    d1 = np.datetime64(end, "D").astype(np.int64)
    return int(d0), int(d1)


def _date_col(rng, n: int, start: str, end: str) -> pa.Array:
    d0, d1 = _days(start, end)
    days = rng.integers(d0, d1 + 1, n)
    return pa.array(days * DAY_US, type=pa.timestamp("us"))


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def expected_rows(sf: float) -> dict[str, int]:
    """Row count of every table :func:`generate` writes at ``sf``."""
    return {
        "region": 5,
        "nation": 25,
        "customer": round(150_000 * sf),
        "supplier": round(10_000 * sf),
        "part": round(200_000 * sf),
        "orders": round(1_500_000 * sf),
        "lineitem": round(6_000_000 * sf),
        "events": round(1_000_000 * sf),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
    }


def _documents(rng, n: int) -> dict:
    """Random word sequences over a 30-word vocabulary; about 5% of the
    documents are near-duplicates of an earlier one (its text plus one
    or two trailing ``dup`` tokens), the structure MinHash dedup finds."""
    vocab = np.array(WORDS)
    texts: list[str] = []
    lengths = rng.integers(10, 101, n)
    near = rng.random(n) < 0.05
    for i in range(n):
        if near[i] and i > 0:
            src = texts[int(rng.integers(0, i))]
            texts.append(src + " dup" * int(rng.integers(1, 3)))
        else:
            texts.append(" ".join(rng.choice(vocab, lengths[i])))
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def _embeddings(rng, n: int, dim: int = 64, k: int = 10) -> dict:
    """Unit vectors scattered around ``k`` label centroids."""
    centroids = rng.normal(0.0, 1.0, (k, dim))
    label = rng.integers(0, k, n)
    vecs = centroids[label] + rng.normal(0.0, 1.5, (n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = vecs.astype(np.float32)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(vecs.ravel()), dim).cast(
        pa.list_(pa.float32())
    )
    return {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": emb,
        "label": label.astype(np.int32),
    }


def tables(sf: float, seed: int = 42) -> dict[str, pa.Table]:
    """Build every table in memory."""
    n = expected_rows(sf)
    rng = np.random.default_rng([seed, round(sf * 1_000_000)])
    out: dict[str, dict] = {}
    out["region"] = {
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": REGIONS,
    }
    out["nation"] = {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    }
    nc = n["customer"]
    out["customer"] = {
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": _money(rng, nc, -999.99, 9999.99),
        "c_mktsegment": rng.choice(SEGMENTS, nc),
    }
    ns = n["supplier"]
    out["supplier"] = {
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
        "s_acctbal": _money(rng, ns, -999.99, 9999.99),
    }
    npart = n["part"]
    out["part"] = {
        "p_partkey": np.arange(npart, dtype=np.int64),
        "p_name": np.char.add(
            np.char.add(rng.choice(PART_ADJ, npart), " "),
            rng.choice(PART_NOUN, npart),
        ),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, npart).astype(str)),
        "p_type": rng.choice(PART_TYPES, npart),
        "p_size": rng.integers(1, 51, npart).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 1),
    }
    no = n["orders"]
    out["orders"] = {
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": _money(rng, no, 1000.0, 500000.0),
        "o_orderdate": _date_col(rng, no, "1995-01-01", "2001-08-01"),
        "o_orderpriority": rng.choice(PRIORITIES, no),
    }
    nl = n["lineitem"]
    out["lineitem"] = {
        "l_orderkey": rng.integers(0, no, nl),
        "l_partkey": rng.integers(0, npart, nl),
        "l_suppkey": rng.integers(0, ns, nl),
        "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, nl, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": _date_col(rng, nl, "1995-01-02", "2001-11-04"),
    }
    ne = n["events"]
    t0 = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = np.sort(rng.integers(t0, t0 + 30 * DAY_US, ne))
    out["events"] = {
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": rng.integers(0, max(15, round(15_000 * sf)), ne),
        "event_type": rng.choice(EVENT_TYPES, ne),
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    }
    out["documents"] = _documents(rng, n["documents"])
    out["embeddings"] = _embeddings(rng, n["embeddings"])
    return {name: pa.table(cols) for name, cols in out.items()}


def generate(out_dir: str, sf: float, seed: int = 42) -> dict[str, int]:
    """Write every table to ``out_dir/<name>.parquet``; return row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, t in tables(sf, seed).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"), row_group_size=t.num_rows)
        rows[name] = t.num_rows
    return rows
