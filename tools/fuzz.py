"""Adversarial differential fuzz harness: one table of corpus tiers.

Each ``TIERS`` row builds a synthetic corpus and runs every registry
query whose oracle references only that corpus's tables through
``tools.diffcheck.compare_one`` -- the same pandas-faithful comparator
as the diffcheck gate, so a tier "ok" carries the same weight as a
diffcheck "ok". Both-sides engine errors are SKIPs (corpus shape);
one-sided errors and mismatches are FAILs. docs/TIERS.md describes
every row and the regime it isolates.

    python tools/fuzz.py TIER [query ...]

Prints ``N ok, M skipped, K FAIL`` and exits 1 on any FAIL.
"""

from __future__ import annotations

import datetime
import json
import os
import random
import re
import struct
import sys
from dataclasses import dataclass
from typing import Callable

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402
import pyarrow as pa  # noqa: E402
import pyarrow.compute as pc  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

from tools.diffcheck import compare_one  # noqa: E402

SRC = "/root/testdata/sf0.001"

ALL_TABLES = (
    "region nation customer supplier part orders lineitem "
    "events documents embeddings"
).split()


# --- selection and comparison ---------------------------------------------

def eligible(oracle_sql: str, allowed) -> bool:
    """True iff the oracle references registry tables, all in
    ``allowed``. Word-boundary match: a name inside another word does
    not count."""
    low = oracle_sql.lower()
    refs = {t for t in ALL_TABLES if re.search(rf"\b{t}\b", low)}
    return bool(refs) and refs <= set(allowed)


def select(queries, tables, only=None, exclude_prefixes=()) -> list[str]:
    """Names of the queries a sweep over ``tables`` runs: in ``only``
    (when given), with an oracle, not excluded, and eligible."""
    return [
        name for name, q in queries.items()
        if (not only or name in only)
        and q.oracle
        and not name.startswith(tuple(exclude_prefixes))
        and eligible(q.oracle, tables)
    ]


def connect(path: str, tables):
    """DuckDB connection with one view per table over ``path``."""
    con = duckdb.connect()
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{path}/{t}.parquet')"
        )
    return con


def run_fuzz(spark, con, sf_dir, allowed_tables, only=None,
             exclude_prefixes=(), quiet=False):
    """Run every selected query differentially over the corpus at
    ``sf_dir``. Returns (n_ok, n_skip, failures), failures being
    'name: detail' strings."""
    from emma_spark.workloads import load_all

    qs = load_all()
    n_ok = n_skip = 0
    failures: list[str] = []
    for name in select(qs, allowed_tables, only, exclude_prefixes):
        q = qs[name]
        status, detail = compare_one(spark, con, name, q.fn, q.oracle, sf_dir)
        if status == "ok":
            n_ok += 1
        elif status == "engine-error":
            # Both engines raised: a corpus-shape error (e.g. both
            # raise-on-empty contracts fire), not a divergence. Branch
            # on the status, never the detail text: mismatch details
            # embed row data that can contain the word 'error'.
            n_skip += 1
            if not quiet:
                print(f"SKIP  {name}: {detail[:140]}")
        else:
            failures.append(f"{name}: {detail[:300]}")
            if not quiet:
                print(f"FAIL  {name}: {detail[:300]}")
    return n_ok, n_skip, failures


# --- corpus helpers -------------------------------------------------------

def set_column(tab: pa.Table, col: str, values) -> pa.Table:
    """Replace ``col`` keeping its field (name, type, position).
    ``values`` is a list, an Arrow array, or a function of the old
    column returning either."""
    i = tab.schema.get_field_index(col)
    field = tab.schema.field(i)
    if callable(values):
        values = values(tab.column(col))
    if isinstance(values, (pa.Array, pa.ChunkedArray)):
        values = values.cast(field.type)
    else:
        values = pa.array(values, type=field.type)
    return tab.set_column(i, field, values)


def _write(path: str, name: str, columns: dict) -> None:
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.table(columns), f"{path}/{name}.parquet")


def from_sf0001(edit: Callable[[dict], None]):
    """Builder that reads the ten sf0.001 tables, applies ``edit`` to
    the {name: table} dict in place, and writes them to the path."""
    def build(path: str):
        tabs = {t: pq.read_table(f"{SRC}/{t}.parquet") for t in ALL_TABLES}
        edit(tabs)
        os.makedirs(path, exist_ok=True)
        for t, tab in tabs.items():
            pq.write_table(tab, f"{path}/{t}.parquet")
        return path
    return build


def _inject(path: str, table: str, cols, rng, p: float, draw) -> None:
    """Replace each non-NULL value of ``cols`` by ``draw()`` with
    probability ``p``, rewriting the table in place."""
    tab = pq.read_table(f"{path}/{table}.parquet")
    for c in cols:
        tab = set_column(tab, c, [
            draw() if v is not None and rng.random() < p else v
            for v in tab.column(c).to_pylist()
        ])
    pq.write_table(tab, f"{path}/{table}.parquet")


# --- documents ------------------------------------------------------------

_DOC_ALPHABET = (
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"
    # contested whitespace as ESCAPED literals: the invisible chars are
    # the Java-\s-vs-RE2 coverage this alphabet exists for
    " \t\n\x0b\x0c\r\xa0\u1680\u2000\u2028\u2029\u200b\u3000\x85"
    "İıΣσςßẞÅåÉéŁł"
    "'\".,;:!?-_#()[]{}@/\\|"
    "日本語中文한국어αβγдружба"
    "\U0001f600\U0001f389"
)
_DOC_WORDS = ["the", "spark", "table", "hash", "merge", "window", "stream", "data"]
_LANGS = ["en", "de", "fr", "es", "zh"]


def _write_documents(path: str, docs) -> None:
    _write(path, "documents", {
        "doc_id": [d[0] for d in docs],
        "text": [d[1] for d in docs],
        "lang": [d[2] for d in docs],
        "source": [d[3] for d in docs],
        "n_chars": [d[4] for d in docs],
    })


def build_documents(path: str, n_docs: int = 500, seed: int = 4242):
    rng = random.Random(seed)

    def rand_text():
        # half word-like (so BM25/stopword queries have signal), half chaos
        parts = []
        for _ in range(rng.randint(0, 25)):
            if rng.random() < 0.5:
                parts.append(rng.choice(_DOC_WORDS))
            else:
                parts.append("".join(
                    rng.choice(_DOC_ALPHABET)
                    for _ in range(rng.randint(1, 8))
                ))
        sep = rng.choice([" ", " ", "\t", "\n", "\u1680", "\xa0"])
        return sep.join(parts)

    docs = []
    for i in range(n_docs):
        t = rand_text()
        # NULLs on the attribute columns only; text is the table's
        # primary dimension (a row without content is ingest-rejected)
        lang = None if rng.random() < 0.05 else rng.choice(_LANGS)
        src = None if rng.random() < 0.05 else f"src{rng.randint(0, 4)}"
        n_chars = None if rng.random() < 0.04 else len(t)
        docs.append((i, t, lang, src, n_chars))
    _write_documents(path, docs)
    return path


def build_documents_const(path: str, n_docs: int = 200):
    text = ("the quick brown fox jumps over the lazy dog and then "
            "the dog naps in the warm afternoon sun near the barn")
    _write_documents(path, [
        (i, text, _LANGS[i % 5], f"src{i % 3}", len(text))
        for i in range(n_docs)
    ])
    return path


# --- events ---------------------------------------------------------------

# timestamps stay inside a ~1-month window: the resample/grid/decay
# queries contract on it (a 69-year span makes per-user time grids
# combinatorially huge, an input pathology rather than an engine seam)
_EDGE_TS = [
    datetime.datetime(2024, 1, 1, 0, 0, 0, 0),
    datetime.datetime(2024, 1, 1, 23, 59, 59, 999999),
    datetime.datetime(2024, 1, 15, 0, 0, 0, 1),
    datetime.datetime(2024, 1, 20, 2, 30, 0, 0),
    datetime.datetime(2024, 1, 30, 23, 59, 59, 999999),
    datetime.datetime(2024, 1, 31, 0, 0, 0, 0),
]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
# value domain (docs/SCALE.md): |value| <= 1e6 keeps variance-family
# outputs (cents^2) inside BIGINT on every engine
_EVENT_VALUES = [0.0, 0.005, 0.015, -1.0, -123.455, 2.675, 1e6, 0.001,
                 327.53, 1e-9]

# graph_* derive a hash-graph from event ids that adversarial events
# densify until the recursive-CTE oracles explode (input pathology);
# stream_/pyds_ drive streaming sinks and custom sources, which a
# batch differential does not cover
EVENTS_EXCLUDE = ("stream_", "pyds_", "graph_")


def _write_events(path: str, rows) -> None:
    _write(path, "events", {
        "event_id": pa.array([r[0] for r in rows], pa.int64()),
        "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
        "user_id": pa.array([r[2] for r in rows], pa.int64()),
        "event_type": pa.array([r[3] for r in rows], pa.string()),
        "value": pa.array([r[4] for r in rows], pa.float64()),
        "props": pa.array([r[5] for r in rows], pa.string()),
    })


def build_events(path: str, n_rows: int = 3000, seed: int = 777):
    rng = random.Random(seed)
    rows = []
    base = datetime.datetime(2024, 1, 1)
    for i in range(n_rows):
        if rng.random() < 0.1:
            ts = rng.choice(_EDGE_TS)
        else:
            ts = base + datetime.timedelta(
                seconds=rng.randint(0, 30 * 86400),
                microseconds=rng.randint(0, 999999),
            )
        val = (rng.choice(_EVENT_VALUES) if rng.random() < 0.3
               else round(rng.uniform(0, 400), 2))
        if rng.random() < 0.05:
            val = None
        etype = None if rng.random() < 0.04 else rng.choice(_EVENT_TYPES)
        props = (None if rng.random() < 0.04
                 else json.dumps({"k": rng.randint(0, 99)}))
        # user_id is an FK, so anonymous (NULL) events are in-domain
        uid = None if rng.random() < 0.03 else rng.randint(0, 24)
        rows.append((i, ts, uid, etype, val, props))
    _write_events(path, rows)
    return path


def build_events_const(path: str):
    base = datetime.datetime(2024, 1, 1)
    _write_events(path, [
        (day * 25 + j,
         base + datetime.timedelta(days=day, seconds=j * 3456 + 17,
                                   microseconds=j),
         j % 5, _EVENT_TYPES[j % len(_EVENT_TYPES)], 2.5,
         json.dumps({"k": j % 3}))
        for day in range(12) for j in range(25)
    ])
    return path


# each shape appears about equally often, rotated over the rows in order
_EXOTIC_PROPS = [
    '{"k": 1, "n": 2}',                      # plain valid object
    "42",                                     # top-level number
    "null",                                   # top-level null
    "[1, 2, 3]",                              # top-level array
    '"just a string"',                        # top-level string
    "true",                                   # top-level boolean
    '{"a": 1, "a": 2}',                       # duplicate key
    '{"k": 1, "k": 1}',                       # duplicate key, equal values
    "",                                       # empty string
    "{",                                      # malformed fragment
    '{"k": }',                                # malformed value
    "not json at all",                        # garbage
    None,                                     # NULL props
    '{"": 5}',                                # empty-string key
    '{"a.b": 7, "a\\"q": 8}',                 # dotted / quoted keys
    '{"\\u00e9clair": 9, "\\ud83d\\ude00": 1}',  # unicode keys
    '{"k": {"nested": 1}}',                   # nested object value
    '{"k": [1, 2]}',                          # array value
    '{"k": "  42  "}',                        # whitespace-wrapped numeric
    '{"k": "9_0"}',                           # underscore numeric (py-only)
    '{"k": 9999999999999999999999}',          # beyond-int64 number
    '{"k": 1e308}',                           # huge double
    '{"k": -2147483647}',                     # int32 edge (kept by clamp)
    '{"k": 2147483648}',                      # just past the clamp
    '{"k": true, "m": false}',                # boolean values
    '{"k": null}',                            # null value
    '{"k": "1.5e2"}',                         # scientific string
    '{"outer": {"inner": {"deep": [{"x": 1}]}}}',  # deep nesting
]


def build_props(path: str):
    build_events(path)
    tab = pq.read_table(f"{path}/events.parquet")
    tab = set_column(tab, "props", [
        _EXOTIC_PROPS[i % len(_EXOTIC_PROPS)] for i in range(tab.num_rows)
    ])
    pq.write_table(tab, f"{path}/events.parquet")
    return path


# --- orders ---------------------------------------------------------------

_STATUSES = ["O", "F", "P", "X", "", None]          # X/''/NULL out-of-domain
_PRIORITIES = [
    "1-URGENT", "2-HIGH", "3-MEDIUM", "4-LOW", "5-NOT SPECIFIED",
    "9-BOGUS", None,
]
# prices on the floor(p*100 + 0.5) edge from both sides plus domain
# extremes, all >= 0 (packed-slot folds contract on non-negative
# cents); dates stay post-1970 (div-vs-// truncation diverges before
# it by documented contract)
_EDGE_PRICES = [0.005, 0.015, 0.025, 2.675, 0.0,
                499999.995, 123456.785, 1e-9, None]
_EDGE_DATES = [
    datetime.datetime(1995, 1, 1),
    datetime.datetime(1997, 12, 31, 23, 59, 59),
    datetime.datetime(1998, 1, 1),                 # the drift split point
    datetime.datetime(2001, 8, 1),
]


def _write_orders(path: str, rows) -> None:
    _write(path, "orders", {
        "o_orderkey": pa.array([r[0] for r in rows], pa.int64()),
        "o_custkey": pa.array([r[1] for r in rows], pa.int64()),
        "o_orderstatus": pa.array([r[2] for r in rows], pa.string()),
        "o_totalprice": pa.array([r[3] for r in rows], pa.float64()),
        "o_orderdate": pa.array([r[4] for r in rows], pa.timestamp("us")),
        "o_orderpriority": pa.array([r[5] for r in rows], pa.string()),
    })


def build_orders(path: str, n_rows: int = 4000, seed: int = 2024):
    rng = random.Random(seed)
    base = datetime.datetime(1995, 1, 1)
    rows = []
    for i in range(n_rows):
        # duplicate keys ~5%; heavy-skew customer 0 gets 30% of orders
        okey = (rows[rng.randrange(len(rows))][0]
                if (rows and rng.random() < 0.05) else i)
        ckey = 0 if rng.random() < 0.3 else rng.randint(0, 199)
        status = (rng.choice(_STATUSES) if rng.random() < 0.2
                  else rng.choice(["O", "F", "P"]))
        if rng.random() < 0.25:
            price = rng.choice(_EDGE_PRICES)
        else:
            price = round(rng.uniform(900.0, 500000.0), 2)
        if rng.random() < 0.1:
            date = rng.choice(_EDGE_DATES)
        elif rng.random() < 0.03:
            date = None
        else:
            date = base + datetime.timedelta(
                days=rng.randint(0, 2400), seconds=rng.randint(0, 86399)
            )
        prio = (rng.choice(_PRIORITIES) if rng.random() < 0.15
                else rng.choice(_PRIORITIES[:5]))
        rows.append((okey, ckey, status, price, date, prio))
    _write_orders(path, rows)
    return path


def build_orders_const(path: str):
    base = datetime.datetime(1995, 1, 6)
    _write_orders(path, [
        (week * 40 + slot, slot % 10, ["O", "F", "P"][slot % 3], 1000.0,
         base + datetime.timedelta(days=7 * week + slot % 5,
                                   seconds=3600 * (slot % 7)),
         _PRIORITIES[slot % 5])
        for week in range(8) for slot in range(40)
    ])
    return path


# --- joins micro-warehouse ------------------------------------------------

def build_joins(path: str, seed: int = 777_001):
    """Seven TPC-H-ish tables. Primary keys stay non-NULL; FKs are
    NULL at ~3% and orphaned at ~2%, measures/attributes NULL at ~4%."""
    rng = random.Random(seed)
    n_reg, n_nat, n_cust, n_supp, n_part = 5, 25, 150, 20, 40
    n_ord, n_li = 1500, 4000

    _write(path, "region", {
        "r_regionkey": pa.array(range(n_reg), pa.int32()),
        "r_name": pa.array([f"R{i}" for i in range(n_reg)], pa.string()),
    })
    _write(path, "nation", {
        "n_nationkey": pa.array(range(n_nat), pa.int32()),
        "n_name": pa.array([f"N{i}" for i in range(n_nat)], pa.string()),
        # one NULL region FK + one orphan
        "n_regionkey": pa.array(
            [None if i == 7 else (99 if i == 13 else i % n_reg)
             for i in range(n_nat)], pa.int32()),
    })

    def fk(domain, null_p=0.03, orphan_p=0.02, orphan=10**6):
        r = rng.random()
        if r < null_p:
            return None
        if r < null_p + orphan_p:
            return orphan
        return rng.randrange(domain)

    def acctbal(n):
        return pa.array(
            [None if rng.random() < 0.04
             else round(rng.uniform(-999.99, 9999.99), 2)
             for _ in range(n)], pa.float64())

    segs = ["BUILDING", "MACHINERY", "AUTOMOBILE", None]
    _write(path, "customer", {
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": pa.array([f"C{i}" for i in range(n_cust)], pa.string()),
        "c_nationkey": pa.array([fk(n_nat) for _ in range(n_cust)], pa.int32()),
        "c_acctbal": acctbal(n_cust),
        "c_mktsegment": pa.array(
            [segs[0] if rng.random() < 0.5 else rng.choice(segs)
             for _ in range(n_cust)], pa.string()),
    })
    _write(path, "supplier", {
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": pa.array([f"S{i}" for i in range(n_supp)], pa.string()),
        "s_nationkey": pa.array([fk(n_nat) for _ in range(n_supp)], pa.int32()),
        "s_acctbal": acctbal(n_supp),
    })
    brands = [f"Brand#{i}" for i in range(1, 6)] + [None]
    types = ["STANDARD BRASS", "SMALL PLATED", "ECONOMY TIN", None]
    _write(path, "part", {
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": pa.array([f"P{i}" for i in range(n_part)], pa.string()),
        "p_brand": pa.array([rng.choice(brands) for _ in range(n_part)], pa.string()),
        "p_type": pa.array([rng.choice(types) for _ in range(n_part)], pa.string()),
        "p_size": pa.array(
            [None if rng.random() < 0.04 else rng.randint(1, 50)
             for _ in range(n_part)], pa.int32()),
        "p_retailprice": pa.array(
            [None if rng.random() < 0.04 else round(rng.uniform(900, 2000), 2)
             for _ in range(n_part)], pa.float64()),
    })

    base = datetime.datetime(1995, 1, 1)
    statuses = ["O", "F", "P", None]
    prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-LOW", "5-NOT SPECIFIED", None]
    o_rows = []
    for i in range(n_ord):
        # heavy skew: customer 0 owns 20% of orders
        ck = 0 if rng.random() < 0.2 else fk(n_cust)
        date = (None if rng.random() < 0.02
                else base + datetime.timedelta(days=rng.randint(0, 2000),
                                               seconds=rng.randint(0, 86399)))
        price = (None if rng.random() < 0.04
                 else round(rng.uniform(900.0, 500000.0), 2))
        o_rows.append((i, ck, rng.choice(statuses) if rng.random() < 0.2
                       else rng.choice(statuses[:3]), price, date,
                       rng.choice(prios) if rng.random() < 0.15
                       else rng.choice(prios[:5])))
    _write_orders(path, o_rows)

    flags = ["R", "A", "N", None]
    l_rows = []
    for i in range(n_li):
        l_rows.append((
            rng.randrange(n_ord),                      # l_orderkey: never NULL
            fk(n_part),                                # l_partkey
            fk(n_supp),                                # l_suppkey
            rng.randint(1, 7),                         # l_linenumber
            None if rng.random() < 0.04 else float(rng.randint(1, 50)),
            None if rng.random() < 0.04 else round(rng.uniform(900, 100000), 2),
            None if rng.random() < 0.04 else round(rng.uniform(0, 0.1), 2),
            round(rng.uniform(0, 0.08), 2),
            rng.choice(flags) if rng.random() < 0.15 else rng.choice(flags[:3]),
            rng.choice(["O", "F"]),
            None if rng.random() < 0.02
            else base + datetime.timedelta(days=rng.randint(0, 2000)),
        ))
    # degenerate groups: a zero-variance group 'Z' (constant quantity
    # and price) and a single-row group 'Y', on which ANSI Spark's
    # corr/regr_slope raise DIVIDE_BY_ZERO while DuckDB returns NULL
    for _ in range(30):
        l_rows.append((rng.randrange(n_ord), fk(n_part), fk(n_supp),
                       1, 5.0, 1000.0, 0.02, 0.01, "Z", "O",
                       base + datetime.timedelta(days=100)))
    l_rows.append((rng.randrange(n_ord), fk(n_part), fk(n_supp),
                   1, 7.0, 1234.56, 0.03, 0.0, "Y", "F",
                   base + datetime.timedelta(days=200)))

    _write(path, "lineitem", {
        "l_orderkey": pa.array([r[0] for r in l_rows], pa.int64()),
        "l_partkey": pa.array([r[1] for r in l_rows], pa.int64()),
        "l_suppkey": pa.array([r[2] for r in l_rows], pa.int64()),
        "l_linenumber": pa.array([r[3] for r in l_rows], pa.int32()),
        "l_quantity": pa.array([r[4] for r in l_rows], pa.float64()),
        "l_extendedprice": pa.array([r[5] for r in l_rows], pa.float64()),
        "l_discount": pa.array([r[6] for r in l_rows], pa.float64()),
        "l_tax": pa.array([r[7] for r in l_rows], pa.float64()),
        "l_returnflag": pa.array([r[8] for r in l_rows], pa.string()),
        "l_linestatus": pa.array([r[9] for r in l_rows], pa.string()),
        "l_shipdate": pa.array([r[10] for r in l_rows], pa.timestamp("us")),
    })
    return path


def build_nan(path: str, seed: int = 424_242):
    build_joins(path, seed=seed)
    rng = random.Random(seed + 1)
    # NaN and +-inf at 1.5 * 2%: Spark floor maps NaN to 0 and inf to
    # +-Long.MaxValue silently, so both probe the same quantization class
    specials = [float("nan"), float("nan"), float("inf"), float("-inf")]
    for table, cols in (("lineitem", ["l_quantity", "l_extendedprice"]),
                        ("orders", ["o_totalprice"])):
        _inject(path, table, cols, rng, 1.5 * 0.02,
                lambda: rng.choice(specials))
    return path


def build_negzero(path: str, seed: int = 909_090):
    build_joins(path, seed=seed)
    rng = random.Random(seed + 1)
    _inject(path, "lineitem", ["l_quantity", "l_extendedprice", "l_discount"],
            rng, 0.03, lambda: -0.0)
    _inject(path, "orders", ["o_totalprice"], rng, 0.03, lambda: -0.0)
    build_events(path)
    _inject(path, "events", ["value"], rng, 0.03, lambda: -0.0)
    # -0.0 in vector elements, plus one all-negative-zero vector (zero
    # norm, every component printed with a sign)
    build_embeddings(path)
    tab = pq.read_table(f"{path}/embeddings.parquet")
    vecs = tab.column("embedding").to_pylist()
    for row, v in enumerate(vecs):
        if rng.random() < 0.10 and v is not None:
            vecs[row] = [-0.0 if rng.random() < 0.05 else x for x in v]
    if vecs:
        vecs[0] = [-0.0] * len(vecs[0])
    tab = set_column(tab, "embedding", vecs)
    pq.write_table(tab, f"{path}/embeddings.parquet")
    return path


# --- embeddings -----------------------------------------------------------

_DIM = 64


def _f32(x: float) -> float:
    """Round-trip through float32 so the parquet value IS the python
    value (the corpus must not carry more precision than the column)."""
    return struct.unpack("f", struct.pack("f", x))[0]


def build_embeddings(path: str, n_vecs: int = 500, seed: int = 31337):
    rng = random.Random(seed)
    vecs, labels = [], []
    for i in range(n_vecs):
        kind = rng.random()
        if kind < 0.04:
            v = [0.0] * _DIM  # zero vector
        elif kind < 0.08:
            v = [1.0] * _DIM  # constant vector
        elif kind < 0.12:
            v = [0.0] * _DIM  # one-hot
            v[rng.randrange(_DIM)] = rng.choice([1.0, -1.0, 0.5])
        elif kind < 0.16 and vecs:
            v = list(rng.choice(vecs))  # exact duplicate of an earlier one
        elif kind < 0.22:
            v = [_f32(rng.uniform(-1e-7, 1e-7)) for _ in range(_DIM)]  # tiny
        elif kind < 0.28:
            # domain bound (docs/SCALE.md): |x| <= 30 keeps quantized
            # squared-distance sums inside BIGINT/DECIMAL range
            v = [_f32(rng.uniform(-30.0, 30.0)) for _ in range(_DIM)]  # big
        else:
            v = [_f32(rng.gauss(0.0, 1.0)) for _ in range(_DIM)]
        vecs.append(v)
        # heavy-tailed labels: half the rows land on label 0
        labels.append(0 if rng.random() < 0.5 else rng.randint(1, 9))
    # label 7 becomes a constant group (zero within-group variance),
    # label 8 a single-row group (n-1 corrections divide by zero)
    seen_single = False
    for i, lb in enumerate(labels):
        if lb == 7:
            vecs[i] = [0.25] * _DIM
        elif lb == 8:
            if seen_single:
                labels[i] = 9
            else:
                seen_single = True
    _write(path, "embeddings", {
        "vec_id": pa.array(range(n_vecs), pa.int64()),
        "embedding": pa.array(vecs, pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return path


def build_cross(path: str):
    """Every family's corpus in one directory. Key domains line up:
    events.user_id [0,25) is inside c_custkey [0,150), and
    doc_id = vec_id = range(500)."""
    build_joins(path)
    build_documents(path)
    build_events(path)
    build_embeddings(path)
    return path


# --- edits of the sf0.001 tables ------------------------------------------

# an empty dimension is ingest breakage, not a query-semantics shape
_DIMS = {"region", "nation"}


def _slice_facts(n: int):
    def edit(tabs):
        for t in tabs:
            if t not in _DIMS:
                tabs[t] = tabs[t].slice(0, n)
    return edit


# fact -> [(fk_column, referenced_table, referenced_key)]
_MATCHED_FKS = {
    "lineitem": [
        ("l_partkey", "part", "p_partkey"),
        ("l_suppkey", "supplier", "s_suppkey"),
        ("l_orderkey", "orders", "o_orderkey"),
    ],
    "orders": [("o_custkey", "customer", "c_custkey")],
    "events": [("user_id", "customer", "c_custkey")],
    # the similarity family bridges `vec_id AS doc_id`
    "embeddings": [("vec_id", "documents", "doc_id")],
}
# measures copied row 0 -> row 1 (constant-measure multi-row groups)
_MATCHED_MEASURES = {
    "lineitem": ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
    "orders": ["o_totalprice"],
    "events": ["value"],
}


def _matched(tabs):
    _slice_facts(3)(tabs)
    # FKs onto the kept referenced keys as [k0, k0, k1]; embeddings get
    # one distinct kept doc_id per row so vec_id stays unique
    for fact, fks in _MATCHED_FKS.items():
        tab = tabs[fact]
        n = tab.num_rows
        for col, ref, refkey in fks:
            kept = tabs[ref].column(refkey).to_pylist()
            if fact == "embeddings":
                pattern = [kept[i % len(kept)] for i in range(n)]
            else:
                pattern = [kept[0], kept[0], kept[1]][:n]
            tab = set_column(tab, col, pattern)
        tabs[fact] = tab
    # keep (l_orderkey, l_linenumber) unique under the [o0, o0, o1] cycle
    li = tabs["lineitem"]
    tabs["lineitem"] = set_column(li, "l_linenumber", [1, 2, 1][: li.num_rows])
    for fact, cols in _MATCHED_MEASURES.items():
        tab = tabs[fact]
        if tab.num_rows < 2:
            continue
        for col in cols:
            vals = tab.column(col).to_pylist()
            vals[1] = vals[0]
            tab = set_column(tab, col, vals)
        tabs[fact] = tab


def _fill(value):
    return lambda old: [value] * len(old)


# key columns collapsed to their own minimum (a real key of the right type)
_SKEW_COLS = {
    "customer": ["c_nationkey", "c_mktsegment"],
    "supplier": ["s_nationkey"],
    "part": ["p_brand", "p_type"],
    "orders": ["o_custkey", "o_orderpriority"],
    "lineitem": ["l_partkey", "l_suppkey"],
    "events": ["user_id"],
    "documents": ["source"],
    "embeddings": ["label"],
}


def _skew(tabs):
    for t, cols in _SKEW_COLS.items():
        for c in cols:
            tabs[t] = set_column(
                tabs[t], c, lambda old: [pc.min(old).as_py()] * len(old))


_MID_1996 = datetime.datetime(1996, 6, 15)
_TIES_TEXT = (
    "The quick brown fox jumps over the lazy dog while the dog "
    "sleeps near the quiet river and the fox runs away fast."
)
_TIES_CONSTS = {
    "lineitem": {
        "l_quantity": 10.0,
        "l_extendedprice": 1000.0,
        "l_discount": 0.05,
        "l_tax": 0.02,
        "l_shipdate": _MID_1996,
    },
    "orders": {"o_totalprice": 1000.0, "o_orderdate": _MID_1996},
    "events": {"value": 7.0, "ts": datetime.datetime(2024, 3, 1, 12, 0, 0)},
    "customer": {"c_acctbal": 100.0},
    "supplier": {"s_acctbal": 100.0},
    "part": {"p_retailprice": 500.0},
    "documents": {"text": _TIES_TEXT, "n_chars": len(_TIES_TEXT)},
}


def _ties(tabs):
    for t, consts in _TIES_CONSTS.items():
        for col, value in consts.items():
            tabs[t] = set_column(tabs[t], col, _fill(value))
    # one identical non-zero vector: every pairwise distance ties
    emb = tabs["embeddings"]
    dim = len(emb.column("embedding")[0].as_py())
    tabs["embeddings"] = set_column(
        emb, "embedding", _fill([0.1 * ((i % 4) + 1) for i in range(dim)]))


# nullable-by-contract measures; PKs, FKs, timestamps, documents.text
# and the embedding vector/label are ingest-reject non-NULL
_NULL_MEASURES = {
    "lineitem": ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
    "orders": ["o_totalprice"],
    "events": ["value"],
    "customer": ["c_acctbal"],
    "supplier": ["s_acctbal"],
    "part": ["p_retailprice"],
    "documents": ["n_chars"],
}


def _nullmeasures(tabs):
    for t, cols in _NULL_MEASURES.items():
        for c in cols:
            tabs[t] = set_column(tabs[t], c, _fill(None))


# events start 2024-01-01: day 16 of their span lands on the epoch;
# orders (~1995-2002) move back a whole number of days (10,592)
_EV_OFFSET_US = int(
    (datetime.datetime(2024, 1, 16) - datetime.datetime(1970, 1, 1))
    .total_seconds()) * 10**6
_ORD_OFFSET_US = 10_592 * 86_400 * 10**6


def _shift(offset_us: int):
    return lambda old: pc.subtract(
        old.cast(pa.int64()), pa.scalar(offset_us, pa.int64()))


def _epoch(tabs):
    tabs["events"] = set_column(tabs["events"], "ts", _shift(_EV_OFFSET_US))
    tabs["orders"] = set_column(
        tabs["orders"], "o_orderdate", _shift(_ORD_OFFSET_US))


# (table, column) -> scale landing near the documented domain ceiling
_DOMAINMAX_SCALES = {
    ("events", "value"): 3000.0,            # 327 max -> ~9.8e5
    ("orders", "o_totalprice"): 2.0,        # 5e5 max -> ~1e6
    ("lineitem", "l_extendedprice"): 9.0,   # 1e5 -> ~9.4e5
    ("customer", "c_acctbal"): 100.0,       # +-1e4 -> +-1e6
    ("supplier", "s_acctbal"): 100.0,
    ("part", "p_retailprice"): 1000.0,      # 920 -> 9.2e5
}
_EMB_SCALE = 60.0  # +-0.49 -> +-29.4, under the |x| <= 30 bound


def _scale_cents(k: float):
    """Scale, then re-quantize to exact cents: the corpus contract is
    cent-valued doubles, and sub-cent noise would floor differently
    at the 0.5 boundary on the two engines."""
    return lambda old: pc.divide(
        pc.round(pc.multiply(old.cast(pa.float64()), pa.scalar(100.0 * k))),
        pa.scalar(100.0))


def _scale_vectors(old):
    col = old.combine_chunks()
    values = pc.multiply(col.values.cast(pa.float64()), pa.scalar(_EMB_SCALE))
    return pa.ListArray.from_arrays(col.offsets, values.cast(col.values.type))


def _domainmax(tabs):
    for (t, col), k in _DOMAINMAX_SCALES.items():
        tabs[t] = set_column(tabs[t], col, _scale_cents(k))
    tabs["embeddings"] = set_column(
        tabs["embeddings"], "embedding", _scale_vectors)


# --- the table ------------------------------------------------------------

def _run_corpus(spark, tier, only, quiet):
    tier.build(tier.dir)
    return run_fuzz(spark, connect(tier.dir, tier.tables), tier.dir,
                    tier.tables, only, tier.exclude_prefixes, quiet)


def _run_restart(spark, tier, only, quiet):
    from tools.fuzzcheck_restart import run_restart

    return run_restart(spark, only=only, quiet=quiet)


@dataclass(frozen=True)
class Tier:
    dir: str | None
    build: Callable[[str], object] | None
    tables: frozenset
    scope: frozenset | None = None          # None: every eligible query
    exclude_prefixes: tuple = ()
    runner: Callable = _run_corpus


_ALL = frozenset(ALL_TABLES)
_JOINS = frozenset(
    {"region", "nation", "customer", "supplier", "part", "orders", "lineitem"})

TIERS = {
    "documents": Tier("/tmp/emma_fuzz_sf", build_documents, frozenset({"documents"})),
    "documents_const": Tier("/tmp/emma_fuzz_sf_const", build_documents_const,
                            frozenset({"documents"})),
    "events": Tier("/tmp/emma_fuzz_ev", build_events, frozenset({"events"}),
                   exclude_prefixes=EVENTS_EXCLUDE),
    "events_const": Tier("/tmp/emma_fuzz_ev_const", build_events_const,
                         frozenset({"events"}), exclude_prefixes=EVENTS_EXCLUDE),
    "orders": Tier("/tmp/emma_fuzz_ord", build_orders, frozenset({"orders"})),
    "orders_const": Tier("/tmp/emma_fuzz_ord_const", build_orders_const,
                         frozenset({"orders"})),
    "joins": Tier("/tmp/emma_fuzz_join", build_joins, _JOINS),
    "embeddings": Tier("/tmp/emma_fuzz_emb", build_embeddings,
                       frozenset({"embeddings"})),
    "cross": Tier("/tmp/emma_fuzz_all", build_cross, _ALL),
    # the pandas-seam and moment-aggregate families, where a NaN can be
    # silently dropped as NULL; elsewhere NaN propagation is well defined
    "nan": Tier("/tmp/emma_fuzz_nan", build_nan, _JOINS, scope=frozenset({
        "fold_global", "fold_histogram_pandas_udaf", "fold_reduce_option",
        "fold_product_user_alg", "fold_minmax_struct_ordering",
        "agg_stats_moments",
    })),
    "negzero": Tier("/tmp/emma_fuzz_negzero", build_negzero,
                    _JOINS | {"events", "embeddings"}),
    "props": Tier("/tmp/emma_fuzz_props", build_props, frozenset({"events"}),
                  exclude_prefixes=EVENTS_EXCLUDE),
    "sparse": Tier("/tmp/emma_fuzz_sparse", from_sf0001(_slice_facts(3)), _ALL),
    "empty": Tier("/tmp/emma_fuzz_empty", from_sf0001(_slice_facts(0)), _ALL),
    "skew": Tier("/tmp/emma_fuzz_skew", from_sf0001(_skew), _ALL),
    # Structured Streaming floors the event-time watermark at epoch 0,
    # so stream_* cannot represent pre-1970 event times on any corpus
    "epoch": Tier("/tmp/emma_fuzz_epoch", from_sf0001(_epoch), _ALL,
                  exclude_prefixes=("stream_",)),
    "domainmax": Tier("/tmp/emma_fuzz_domainmax", from_sf0001(_domainmax), _ALL),
    "matched": Tier("/tmp/emma_fuzz_matched", from_sf0001(_matched), _ALL),
    "ties": Tier("/tmp/emma_fuzz_ties", from_sf0001(_ties), _ALL),
    "nullmeasures": Tier("/tmp/emma_fuzz_nullm", from_sf0001(_nullmeasures), _ALL),
    "restart": Tier(None, None, _ALL, runner=_run_restart),
}


def run_tier(spark, name: str, only=None, quiet: bool = False):
    """Build tier ``name`` and run its sweep over ``only`` (default: the
    tier's scope). Returns (n_ok, n_skip, failures)."""
    tier = TIERS[name]
    return tier.runner(spark, tier, only or tier.scope, quiet)


def main(argv) -> int:
    if not argv or argv[0] not in TIERS:
        print(f"usage: python tools/fuzz.py TIER [query ...]\n"
              f"tiers: {' '.join(TIERS)}", file=sys.stderr)
        return 2
    from emma_spark.session import get_spark

    name, only = argv[0], set(argv[1:]) or None
    spark = get_spark(f"fuzz-{name}")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        n_ok, n_skip, failures = run_tier(spark, name, only)
    finally:
        spark.stop()
    print(f"\n{n_ok} ok, {n_skip} skipped, {len(failures)} FAIL")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
