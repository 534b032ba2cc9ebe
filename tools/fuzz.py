"""Adversarial differential fuzz tiers, one table-driven harness.

Each tier writes a synthetic corpus (one parquet file per table) and
runs every registry query whose oracle touches only the tier's tables
through the SAME comparator as tools/diffcheck.py (``compare_one``:
pandas fetchdf/toPandas canonicalization, full-precision float repr,
DESCRIBE type-identity gate) — not a more-forgiving local
normalization, so a fuzz 'ok' carries the same weight as a diffcheck
'ok'. Both-sides engine errors are SKIPs
(corpus-shape contracts such as raise-on-empty folds); one-sided
errors are FAILs. docs/TIERS.md catalogs the tiers and what each one
found; fixed-seed subsets run in tests/test_fuzz_differential.py.

    python tools/fuzz.py --list                   # tier names
    python tools/fuzz.py TIER|all [--all] [query ...]

A tier runs its default scope (only ``cross`` and ``nan`` have one;
``--all`` drops it) or, when query names are given, just those.
Unknown tiers, flags and query names exit 2 before Spark starts; the
exit code is 1 when any tier has a FAIL.

Authoring a tier: write a builder ``build_x(path)`` (derived tiers
transform the sf0.001 tables through ``_derive``), add a ``TIERS``
row, and keep oracle comments free of table-name words (eligibility
is word-boundary matched over the raw oracle string).
"""

from __future__ import annotations

import datetime
import glob
import json
import os
import random
import re
import shutil
import struct
import sys
from dataclasses import dataclass
from pathlib import Path
from typing import Callable

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import duckdb  # noqa: E402
import pyarrow as pa  # noqa: E402
import pyarrow.compute as pc  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

from tools.diffcheck import TABLES as ALL_TABLES  # noqa: E402
from tools.diffcheck import compare_one  # noqa: E402
# SRC: the sf0.001 fixture tables (TESTDATA.md), input of the derived
# tiers and of the restart tier's split
from tools.scanaudit import SF_DIR as SRC  # noqa: E402

JOIN_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem",
)


# ----------------------------------------------------------------------
# core: eligibility + the differential loop
# ----------------------------------------------------------------------
def table_refs(oracle_sql: str) -> set[str]:
    """Registry tables referenced by an oracle, via word-boundary
    match (a name inside another word does not count)."""
    low = oracle_sql.lower()
    return {t for t in ALL_TABLES if re.search(rf"\b{t}\b", low)}


def eligible(oracle_sql: str, allowed: set[str]) -> bool:
    refs = table_refs(oracle_sql)
    return bool(refs) and refs <= allowed


def run_fuzz(
    spark,
    con,
    sf_dir: str,
    allowed_tables: set[str],
    only=None,
    exclude_prefixes: tuple[str, ...] = (),
    quiet: bool = False,
):
    """Run every eligible registry query differentially over the fuzz
    corpus at ``sf_dir``. Returns (n_ok, n_skip, failures) where
    failures is a list of 'name: detail' strings."""
    from emma_spark.workloads import load_all

    qs = load_all()
    n_ok = n_skip = 0
    failures: list[str] = []
    for name, q in qs.items():
        if only and name not in only:
            continue
        if not q.oracle:
            continue
        if name.startswith(exclude_prefixes):
            continue
        if not eligible(q.oracle, allowed_tables):
            continue
        status, detail = compare_one(spark, con, name, q.fn, q.oracle, sf_dir)
        if status == "ok":
            n_ok += 1
        elif status == "engine-error":
            # BOTH-sides corpus-shape errors (e.g. a filter leaves zero
            # rows and each engine's raise-on-empty contract fires) are
            # SKIPs, not differential reds. One-sided errors
            # ('spark-error'/'duck-error') fall through to the failure
            # branch below — a crash on one engine while the other
            # returns rows is exactly the ANSI-divergence class the
            # NaN/degenerate tiers exist to catch. Branch on the
            # STATUS, never the detail text — mismatch details embed
            # row data that can contain the word 'error' (the events
            # corpus generates event_type='error').
            n_skip += 1
            if not quiet:
                print(f"SKIP  {name}: {detail[:140]}")
        else:
            failures.append(f"{name}: {detail[:300]}")
            if not quiet:
                print(f"FAIL  {name}: {detail[:300]}")
    return n_ok, n_skip, failures


def connect(path: str, tables) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per table of the corpus at
    ``path`` (the writer's and the view's directory are one value)."""
    con = duckdb.connect()
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{path}/{t}.parquet')"
        )
    return con


# ----------------------------------------------------------------------
# writing helpers
# ----------------------------------------------------------------------
def _write(path: str, table: str, cols: dict) -> None:
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.table(cols), f"{path}/{table}.parquet")


def _write_rows(path: str, table: str, schema, rows) -> None:
    """Write row tuples as ``table``; ``schema`` is [(column, type)]."""
    _write(path, table, {
        c: pa.array([r[i] for r in rows], t)
        for i, (c, t) in enumerate(schema)
    })


def _rewrite(path: str, table: str, edit) -> None:
    """Read one corpus table as python columns, let ``edit`` change
    them in place, and write it back with its original types."""
    f = f"{path}/{table}.parquet"
    t = pq.read_table(f)
    d = t.to_pydict()
    edit(d)
    pq.write_table(
        pa.table({k: pa.array(v, t.schema.field(k).type) for k, v in d.items()}),
        f,
    )


def _sprinkle(path: str, table: str, cols, rng, p: float, value) -> None:
    """Replace each non-NULL cell of ``cols`` by ``value()`` with
    probability ``p``."""
    def edit(d):
        for c in cols:
            d[c] = [
                value() if v is not None and rng.random() < p else v
                for v in d[c]
            ]

    _rewrite(path, table, edit)


def _set(tab: pa.Table, col: str, values) -> pa.Table:
    """``tab`` with ``col`` replaced: a python list is typed as the
    column, an Arrow array is cast back to the column's type."""
    i = tab.schema.get_field_index(col)
    field = tab.schema.field(i)
    if isinstance(values, list):
        values = pa.array(values, type=field.type)
    else:
        values = values.cast(field.type)
    return tab.set_column(i, field, values)


def _derive(path: str, shape) -> str:
    """Write ``shape(name, table)`` of every sf0.001 table to ``path``."""
    os.makedirs(path, exist_ok=True)
    for t in ALL_TABLES:
        tab = pq.read_table(f"{SRC}/{t}.parquet")
        pq.write_table(shape(t, tab), f"{path}/{t}.parquet")
    return path


DOC_SCHEMA = [
    ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
    ("source", pa.string()), ("n_chars", pa.int64()),
]
EVENT_SCHEMA = [
    ("event_id", pa.int64()), ("ts", pa.timestamp("us")),
    ("user_id", pa.int64()), ("event_type", pa.string()),
    ("value", pa.float64()), ("props", pa.string()),
]
ORDER_SCHEMA = [
    ("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
    ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
    ("o_orderdate", pa.timestamp("us")), ("o_orderpriority", pa.string()),
]
LINEITEM_SCHEMA = [
    ("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
    ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
    ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
    ("l_discount", pa.float64()), ("l_tax", pa.float64()),
    ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
    ("l_shipdate", pa.timestamp("us")),
]


# ----------------------------------------------------------------------
# synthetic family corpora
# ----------------------------------------------------------------------
DOC_ALPHABET = (
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"
    # contested whitespace as ESCAPED literals (a refactor once
    # silently replaced the invisible chars with plain spaces, gutting
    # the Java-\s-vs-RE2 coverage this alphabet exists for)
    " \t\n\x0b\x0c\r\xa0\u1680\u2000\u2028\u2029\u200b\u3000\x85"
    "İıΣσςßẞÅåÉéŁł"
    "'\".,;:!?-_#()[]{}@/\\|"
    "日本語中文한국어αβγдружба"
    "\U0001f600\U0001f389"
)
DOC_WORDS = ["the", "spark", "table", "hash", "merge", "window", "stream", "data"]


def build_documents(path: str, n_docs: int = 500, seed: int = 4242) -> str:
    """Unicode documents: contested whitespace, case-exotic letters,
    CJK/astral chars, empty/short docs — the tokenization, case-fold
    and array-HOF seams pure-ASCII data cannot trigger."""
    rng = random.Random(seed)
    langs = ["en", "de", "fr", "es", "zh"]

    def rand_text():
        # mix: some word-like (so BM25/stopword queries have signal),
        # some chaos
        parts = []
        for _ in range(rng.randint(0, 25)):
            if rng.random() < 0.5:
                parts.append(rng.choice(DOC_WORDS))
            else:
                parts.append(
                    "".join(
                        rng.choice(DOC_ALPHABET)
                        for _ in range(rng.randint(1, 8))
                    )
                )
        sep = rng.choice([" ", " ", "\t", "\n", "\u1680", "\xa0"])
        return sep.join(parts)

    docs = []
    for i in range(n_docs):
        t = rand_text()
        # NULLs on the ATTRIBUTE columns; text stays non-null — it is
        # the table's primary dimension (a row without content is
        # ingest-rejected, like an event without a timestamp)
        lang = None if rng.random() < 0.05 else rng.choice(langs)
        src = None if rng.random() < 0.05 else f"src{rng.randint(0, 4)}"
        n_chars = None if rng.random() < 0.04 else len(t)
        docs.append((i, t, lang, src, n_chars))
    _write_rows(path, "documents", DOC_SCHEMA, docs)
    return path


def build_documents_const(path: str, n_docs: int = 200) -> str:
    """Constant corpus: every document is the IDENTICAL text — zero
    variance in every length/quality/score series (MAD = 0, one global
    shingle set, every pairwise similarity exactly 1), the shapes that
    zero the denominators of outlier z-scores, quality classifiers and
    similarity histograms. Deterministic."""
    text = ("the quick brown fox jumps over the lazy dog and then "
            "the dog naps in the warm afternoon sun near the barn")
    docs = [
        (i, text, ["en", "de", "fr", "es", "zh"][i % 5],
         f"src{i % 3}", len(text))
        for i in range(n_docs)
    ]
    _write_rows(path, "documents", DOC_SCHEMA, docs)
    return path


# timestamps stay inside a ~1-month observation window (the domain the
# resample/grid/decay queries contract on — a 69-year span makes their
# per-user time grids combinatorially huge, which is input pathology,
# not an engine seam; pre-1970 arithmetic is the epoch tier's job)
EDGE_TS = [
    datetime.datetime(2024, 1, 1, 0, 0, 0, 0),
    datetime.datetime(2024, 1, 1, 23, 59, 59, 999999),
    datetime.datetime(2024, 1, 15, 0, 0, 0, 1),
    datetime.datetime(2024, 1, 20, 2, 30, 0, 0),
    datetime.datetime(2024, 1, 30, 23, 59, 59, 999999),
    datetime.datetime(2024, 1, 31, 0, 0, 0, 0),
]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
# value domain contract (docs/SCALE.md): |value| <= 1e9 — beyond that,
# 1e-6-unit quantized sums exceed exact-int64/double-exact ranges on
# EVERY engine. Variance-family outputs (var in cents^2) bound the
# metric domain tightest: |value| <= 1e6 keeps var_c2 inside BIGINT
EDGE_VALUES = [0.0, 0.005, 0.015, -1.0, -123.455, 2.675, 1e6, 0.001, 327.53, 1e-9]

# graph_* derive a hash-graph from event ids; adversarial events
# densify it and the recursive-CTE oracles explode combinatorially
# (input pathology, not an engine seam) — covered by graph tests.
# stream_/pyds_ queries drive streaming sinks / custom datasources —
# out of scope for a batch differential.
EVENT_EXCLUDES = ("stream_", "pyds_", "graph_")


def build_events(path: str, n_rows: int = 3000, seed: int = 777) -> str:
    """Edge-time events: epoch-day boundaries, exact midnights,
    microsecond extremes, rounding-edge and domain-limit values, and
    NULLs in value / event_type / props / user_id (an FK: anonymous
    events are in-domain; a row without a timestamp is not)."""
    rng = random.Random(seed)
    rows = []
    base = datetime.datetime(2024, 1, 1)
    for i in range(n_rows):
        if rng.random() < 0.1:
            ts = rng.choice(EDGE_TS)
        else:
            ts = base + datetime.timedelta(
                seconds=rng.randint(0, 30 * 86400),
                microseconds=rng.randint(0, 999999),
            )
        val = (
            rng.choice(EDGE_VALUES)
            if rng.random() < 0.3
            else round(rng.uniform(0, 400), 2)
        )
        if rng.random() < 0.05:
            val = None
        etype = None if rng.random() < 0.04 else rng.choice(EVENT_TYPES)
        props = (
            None
            if rng.random() < 0.04
            else json.dumps({"k": rng.randint(0, 99)})
        )
        uid = None if rng.random() < 0.03 else rng.randint(0, 24)
        rows.append((i, ts, uid, etype, val, props))
    _write_rows(path, "events", EVENT_SCHEMA, rows)
    return path


def build_events_const(path: str) -> str:
    """Constant series: every day carries EXACTLY the same event count,
    value, type mix and user rotation — zero variance in any daily or
    grouped series, so every ratio-of-moments denominator
    (autocorrelation, ANOVA F, z-scores, CUSUM, MDE-vs-mean) is exactly
    0. Fully deterministic — the degeneracy IS the point."""
    rows, base = [], datetime.datetime(2024, 1, 1)
    i = 0
    for day in range(12):
        for j in range(25):
            ts = base + datetime.timedelta(
                days=day, seconds=j * 3456 + 17, microseconds=j
            )
            rows.append(
                (i, ts, j % 5, EVENT_TYPES[j % len(EVENT_TYPES)], 2.5,
                 json.dumps({"k": j % 3}))
            )
            i += 1
    _write_rows(path, "events", EVENT_SCHEMA, rows)
    return path


DIM = 64


def _f32(x: float) -> float:
    """Round-trip through float32 so the parquet value IS the python
    value (the corpus must not carry more precision than the column)."""
    return struct.unpack("f", struct.pack("f", x))[0]


def build_embeddings(path: str, n_vecs: int = 500, seed: int = 31337) -> str:
    """Degenerate vectors: zero (cosine's division-by-zero seam),
    constant, one-hot, exact duplicates (distance-0 ties), float32
    tiny and large values, heavy-tailed labels; label 7 is a CONSTANT
    group and label 8 a SINGLE-ROW group (zero within-group variance,
    n-1 corrections dividing by zero)."""
    rng = random.Random(seed)
    vecs, labels = [], []
    for i in range(n_vecs):
        kind = rng.random()
        if kind < 0.04:
            v = [0.0] * DIM  # zero vector
        elif kind < 0.08:
            v = [1.0] * DIM  # constant vector
        elif kind < 0.12:
            v = [0.0] * DIM  # one-hot
            v[rng.randrange(DIM)] = rng.choice([1.0, -1.0, 0.5])
        elif kind < 0.16 and vecs:
            v = list(rng.choice(vecs))  # exact duplicate of an earlier one
        elif kind < 0.22:
            v = [_f32(rng.uniform(-1e-7, 1e-7)) for _ in range(DIM)]  # tiny
        elif kind < 0.28:
            # domain bound (docs/SCALE.md): |x| <= 30 keeps the
            # 1e-6-quantized squared-distance sums of the z-score
            # algebra inside BIGINT/DECIMAL range at any corpus size
            v = [_f32(rng.uniform(-30.0, 30.0)) for _ in range(DIM)]  # big
        else:
            v = [_f32(rng.gauss(0.0, 1.0)) for _ in range(DIM)]
        vecs.append(v)
        # heavy-tailed labels: half the rows land on label 0
        labels.append(0 if rng.random() < 0.5 else rng.randint(1, 9))
    const_vec = [0.25] * DIM
    seen_single = False
    for i, lb in enumerate(labels):
        if lb == 7:
            vecs[i] = list(const_vec)
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


ORDER_STATUSES = ["O", "F", "P", "X", "", None]     # X/''/NULL out-of-domain
ORDER_PRIORITIES = [
    "1-URGENT", "2-HIGH", "3-MEDIUM", "4-LOW", "5-NOT SPECIFIED",
    "9-BOGUS", None,
]
# prices hitting the floor(p*100 + 0.5) edge from both sides, plus
# domain extremes; dates stay in the TPC-H-ish window (pre-1970 is an
# input-domain exclusion) and prices stay >= 0 (the TPC-H o_totalprice
# domain; packed-slot folds contract on non-negative cents)
EDGE_PRICES = [0.005, 0.015, 0.025, 2.675, 0.0,
               499999.995, 123456.785, 1e-9, None]
EDGE_DATES = [
    datetime.datetime(1995, 1, 1),
    datetime.datetime(1997, 12, 31, 23, 59, 59),
    datetime.datetime(1998, 1, 1),                 # the drift split point
    datetime.datetime(2001, 8, 1),
]


def build_orders(path: str, n_rows: int = 4000, seed: int = 2024) -> str:
    """NULL-laden orders: NULLs in every nullable column (Spark ASC
    sorts NULLS FIRST, DuckDB LAST), half-cent prices on the rounding
    edge, duplicate and skewed keys, out-of-domain status/priority
    strings (CASE/IN fall-through arms)."""
    rng = random.Random(seed)
    base = datetime.datetime(1995, 1, 1)
    rows = []
    for i in range(n_rows):
        # duplicate keys ~5%; heavy-skew customer 0 gets 30% of orders
        okey = rows[rng.randrange(len(rows))][0] if (rows and rng.random() < 0.05) else i
        ckey = 0 if rng.random() < 0.3 else rng.randint(0, 199)
        status = (rng.choice(ORDER_STATUSES) if rng.random() < 0.2
                  else rng.choice(["O", "F", "P"]))
        if rng.random() < 0.25:
            price = rng.choice(EDGE_PRICES)
        else:
            price = round(rng.uniform(900.0, 500000.0), 2)
        if rng.random() < 0.1:
            date = rng.choice(EDGE_DATES)
        elif rng.random() < 0.03:
            date = None
        else:
            date = base + datetime.timedelta(
                days=rng.randint(0, 2400), seconds=rng.randint(0, 86399)
            )
        prio = (rng.choice(ORDER_PRIORITIES) if rng.random() < 0.15
                else rng.choice(ORDER_PRIORITIES[:5]))
        rows.append((okey, ckey, status, price, date, prio))
    _write_rows(path, "orders", ORDER_SCHEMA, rows)
    return path


def build_orders_const(path: str) -> str:
    """Constant series: one price, one weekday rhythm, one
    status/priority per slot position — the moment-statistic
    denominators (ANOVA F within-variance, Jarque-Bera m2, drift chi2,
    z-bands) are exactly 0. Deterministic."""
    base = datetime.datetime(1995, 1, 6)
    rows = []
    i = 0
    for week in range(8):
        for slot in range(40):
            date = base + datetime.timedelta(
                days=7 * week + slot % 5, seconds=3600 * (slot % 7))
            rows.append((
                i, slot % 10, ["O", "F", "P"][slot % 3], 1000.0, date,
                ORDER_PRIORITIES[slot % 5],
            ))
            i += 1
    _write_rows(path, "orders", ORDER_SCHEMA, rows)
    return path


def build_joins(path: str, seed: int = 777_001) -> str:
    """TPC-H-ish micro-warehouse (the seven JOIN_TABLES) with NULL and
    orphaned FOREIGN KEYS (~3% / ~2%), NULL measures/attributes (~4%),
    duplicate keys and heavy skew. Decides the eqNullSafe-vs-``=``
    class: ``DataBag.equi_join`` matches null == null (reference
    parity) while an oracle's SQL ``=`` never matches NULL. Primary
    keys stay NON-NULL (ingest-reject rule). Lineitem also carries a
    ZERO-VARIANCE flag group 'Z' and a SINGLE-ROW group 'Y' (ANSI
    Spark corr/regr_slope raise DIVIDE_BY_ZERO where DuckDB is NULL)."""
    rng = random.Random(seed)

    def write(name, cols):
        _write(path, name, cols)

    n_reg, n_nat, n_cust, n_supp, n_part = 5, 25, 150, 20, 40
    n_ord, n_li = 1500, 4000

    write("region", {
        "r_regionkey": pa.array(range(n_reg), pa.int32()),
        "r_name": pa.array([f"R{i}" for i in range(n_reg)], pa.string()),
    })
    write("nation", {
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

    segs = ["BUILDING", "MACHINERY", "AUTOMOBILE", None]
    write("customer", {
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": pa.array([f"C{i}" for i in range(n_cust)], pa.string()),
        "c_nationkey": pa.array([fk(n_nat) for _ in range(n_cust)], pa.int32()),
        "c_acctbal": pa.array(
            [None if rng.random() < 0.04
             else round(rng.uniform(-999.99, 9999.99), 2)
             for _ in range(n_cust)], pa.float64()),
        "c_mktsegment": pa.array(
            [segs[0] if rng.random() < 0.5 else rng.choice(segs)
             for _ in range(n_cust)], pa.string()),
    })
    write("supplier", {
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": pa.array([f"S{i}" for i in range(n_supp)], pa.string()),
        "s_nationkey": pa.array([fk(n_nat) for _ in range(n_supp)], pa.int32()),
        "s_acctbal": pa.array(
            [None if rng.random() < 0.04
             else round(rng.uniform(-999.99, 9999.99), 2)
             for _ in range(n_supp)], pa.float64()),
    })
    brands = [f"Brand#{i}" for i in range(1, 6)] + [None]
    types = ["STANDARD BRASS", "SMALL PLATED", "ECONOMY TIN", None]
    write("part", {
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
    _write_rows(path, "orders", ORDER_SCHEMA, o_rows)

    flags = ["R", "A", "N", None]
    l_rows = []
    for i in range(n_li):
        l_rows.append((
            rng.randrange(n_ord),                      # l_orderkey (FK, non-null here: PK part)
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
    for _ in range(30):
        l_rows.append((rng.randrange(n_ord), fk(n_part), fk(n_supp),
                       1, 5.0, 1000.0, 0.02, 0.01, "Z", "O",
                       base + datetime.timedelta(days=100)))
    l_rows.append((rng.randrange(n_ord), fk(n_part), fk(n_supp),
                   1, 7.0, 1234.56, 0.03, 0.0, "Y", "F",
                   base + datetime.timedelta(days=200)))
    _write_rows(path, "lineitem", LINEITEM_SCHEMA, l_rows)
    return path


def build_nan(path: str, seed: int = 424_242) -> str:
    """The joins warehouse with ~1.5% NaN plus ~1.5% ±inf on the
    double measures. NaN is a PRESENT value that is not NULL:
    aggregates skip NULLs but propagate NaN, and Spark's floor maps
    NaN→0 and inf→±Long.MaxValue silently, so both probe the
    silent-zero/garbage class in quantized arithmetic."""
    build_joins(path, seed=seed)
    rng = random.Random(seed + 1)
    specials = [float("nan"), float("nan"), float("inf"), float("-inf")]
    p = 1.5 * 0.02
    for table, cols in (("lineitem", ["l_quantity", "l_extendedprice"]),
                        ("orders", ["o_totalprice"])):
        _sprinkle(path, table, cols, rng, p, lambda: rng.choice(specials))
    return path


def build_negzero(path: str, seed: int = 909_090) -> str:
    """-0.0 in ~3% of the joins warehouse's double measures, the events
    value column, and ~10% of embedding vectors' elements, plus one
    all-negative-zero vector. -0.0 equals 0.0 but prints differently,
    so the full-precision repr comparator sees every place the engines
    disagree about the SIGN of a zero (grouping keys — SPARK-32110 —,
    sums of signed zeros, floor(-0.0))."""
    build_joins(path, seed=seed)
    rng = random.Random(seed + 1)
    _sprinkle(path, "lineitem", ["l_quantity", "l_extendedprice", "l_discount"],
              rng, 0.03, lambda: -0.0)
    _sprinkle(path, "orders", ["o_totalprice"], rng, 0.03, lambda: -0.0)
    build_events(path)
    _sprinkle(path, "events", ["value"], rng, 0.03, lambda: -0.0)
    build_embeddings(path)

    def edit(d):
        for row in range(len(d["embedding"])):
            if rng.random() < 0.10 and d["embedding"][row] is not None:
                d["embedding"][row] = [
                    -0.0 if rng.random() < 0.05 else x
                    for x in d["embedding"][row]
                ]
        if d["embedding"]:
            d["embedding"][0] = [-0.0] * len(d["embedding"][0])

    _rewrite(path, "embeddings", edit)
    return path


# rotated over every event row, in order — each shape appears ~equally
EXOTIC_PROPS = [
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


def build_props(path: str) -> str:
    """The random events corpus with ``props`` rotated over EXOTIC_PROPS:
    top-level non-objects (DuckDB json_keys gives [] where a raw
    json.loads(...).items() kills the Python worker), duplicate keys
    (DuckDB reads the FIRST value, Python's dict keeps the LAST), empty
    strings (DuckDB ''::JSON raises), malformed fragments and grammar
    edges. Deterministic beyond the base builder's fixed seed."""
    build_events(path)
    f = f"{path}/events.parquet"
    tab = pq.read_table(f)
    props = [EXOTIC_PROPS[i % len(EXOTIC_PROPS)] for i in range(tab.num_rows)]
    pq.write_table(_set(tab, "props", props), f)
    return path


# ----------------------------------------------------------------------
# tiers derived from the sf0.001 tables
# ----------------------------------------------------------------------
# dims stay whole — an empty dimension is ingest breakage, not a
# query-semantics shape
DIMS = {"region", "nation"}
N_FACT = 3


def build_sparse(path: str) -> str:
    """SPARSE warehouse: every fact table cut to a 3-row slice with its
    REAL foreign keys, so most selective filters and joins go empty and
    every raise-on-empty asymmetry fires (element_at/min() seeds over
    empty arrays, NULL-vs-0 empty sums, single-row window frames)."""
    return _derive(path, lambda t, tab: tab if t in DIMS else tab.slice(0, N_FACT))


def build_empty(path: str) -> str:
    """EMPTY facts: every fact table LITERALLY empty (schema kept, dims
    whole) — the new-partition-before-first-ingest shape: global
    aggregates over zero rows, empty join sides, empty collected
    arrays, k-row seeds collected from an empty table,
    empty-DataFrame writes and re-reads."""
    return _derive(path, lambda t, tab: tab if t in DIMS else tab.slice(0, 0))


# table -> columns collapsed to that column's own MIN value (so the
# constant is a real, referentially-valid key of the right type)
COLLAPSE = {
    "customer": ["c_nationkey", "c_mktsegment"],
    "supplier": ["s_nationkey"],
    "part": ["p_brand", "p_type"],
    "orders": ["o_custkey", "o_orderpriority"],
    "lineitem": ["l_partkey", "l_suppkey"],
    "events": ["user_id"],
    "documents": ["source"],
    "embeddings": ["label"],
}


def build_skew(path: str) -> str:
    """MONOKEY warehouse: every foreign key and low-cardinality grouping
    key collapsed to ONE value — single-group aggregates (n-1 / k-1
    denominators hit zero), one giant per-user window, maximal tie
    density on ORDER BY prefixes, worst-case join fan-out per key."""
    def shape(t, tab):
        for c in COLLAPSE.get(t, []):
            tab = _set(tab, c, [pc.min(tab.column(c)).as_py()] * len(tab))
        return tab

    return _derive(path, shape)


# events start 2024-01-01; day 16 of their span lands on the epoch.
# orders span ~1995-2002; -29 years of whole days straddles 1970
# (midnight-date canonicalization preserved)
_EV_OFFSET_US = int(
    (datetime.datetime(2024, 1, 16) - datetime.datetime(1970, 1, 1)).total_seconds()
) * 10**6
_ORD_OFFSET_US = 10_592 * 86_400 * 10**6
EPOCH_SHIFTS = {
    "events": ("ts", _EV_OFFSET_US),
    "orders": ("o_orderdate", _ORD_OFFSET_US),
}


def build_epoch(path: str) -> str:
    """EPOCH straddle: events and orders shifted by one fixed offset so
    their timestamps straddle 1970-01-01 while keeping their span —
    every ``div``/``//`` epoch bucketing, date_trunc, gap interval and
    calendar extraction evaluated on NEGATIVE epochs, where
    truncate-toward-zero and floor conventions diverge."""
    def shape(t, tab):
        if t in EPOCH_SHIFTS:
            col, off = EPOCH_SHIFTS[t]
            tab = _set(tab, col, pc.subtract(
                tab.column(col).cast(pa.int64()), pa.scalar(off, pa.int64())))
        return tab

    return _derive(path, shape)


# column -> multiplicative scale, chosen to land near the documented
# domain ceiling (value ±1e6; |embedding| <= 30; prices/balances high
# 1e5-1e6 cents-exact)
SCALES = {
    ("events", "value"): 3000.0,        # 327 max  -> ~9.8e5
    ("orders", "o_totalprice"): 2.0,    # 5e5 max  -> ~1e6
    ("lineitem", "l_extendedprice"): 9.0,   # 1e5 -> ~9.4e5
    ("customer", "c_acctbal"): 100.0,   # ±1e4 -> ±1e6
    ("supplier", "s_acctbal"): 100.0,
    ("part", "p_retailprice"): 1000.0,  # 920 -> 9.2e5
}
_EMB_SCALE = 60.0  # ±0.49 -> ±29.4, under the |x| <= 30 bound


def build_domainmax(path: str) -> str:
    """DOMAIN maximum: every measure scaled to the TOP of its documented
    input domain (docs/SCALE.md), shapes kept — any product or sum that
    should be lifted to DECIMAL(38,0)/HUGEINT but rides LONG wraps or
    raises on one engine only. Scaled money is re-quantized to exact
    cents (a raw scale leaves sub-cent noise both engines would floor
    differently at the 0.5 boundary)."""
    def shape(t, tab):
        for (tt, col), k in SCALES.items():
            if tt == t:
                cents = pc.round(pc.multiply(tab.column(col).cast(pa.float64()),
                                             pa.scalar(100.0 * k)))
                tab = _set(tab, col, pc.divide(cents, pa.scalar(100.0)))
        if t == "embeddings":
            emb = tab.column("embedding").combine_chunks()
            vals = pc.multiply(emb.values.cast(pa.float64()), pa.scalar(_EMB_SCALE))
            tab = _set(tab, "embedding", pa.ListArray.from_arrays(
                emb.offsets, vals.cast(emb.values.type)))
        return tab

    return _derive(path, shape)


# fact → [(fk_column, referenced_table, referenced_key)]; every
# referenced table precedes its fact in ALL_TABLES
FK_MAP = {
    "lineitem": [
        ("l_partkey", "part", "p_partkey"),
        ("l_suppkey", "supplier", "s_suppkey"),
        ("l_orderkey", "orders", "o_orderkey"),
    ],
    "orders": [("o_custkey", "customer", "c_custkey")],
    "events": [("user_id", "customer", "c_custkey")],
    # the similarity family bridges embeddings to documents via
    # `vec_id AS doc_id` — rewrite vec_id onto the kept doc_ids
    # (three distinct values, so vec_id stays unique)
    "embeddings": [("vec_id", "documents", "doc_id")],
}
# measure columns copied row0 → row1 to force constant-measure
# multi-row groups (keys / identifiers excluded)
MEASURES = {
    "lineitem": ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
    "orders": ["o_totalprice"],
    "events": ["value"],
}


def build_matched(path: str) -> str:
    """MATCHED sparse: facts cut to 3 rows AND their foreign keys
    rewritten onto the keys the referenced slice kept, as [k0, k0, k1]
    — joins SURVIVE into single-row (k1) and constant-measure
    multi-row (k0: row 1's measures copied from row 0) groups, the
    zero-variance-denominator shape neither the sparse tier (joins go
    empty) nor the skew tier (one giant group) can produce.
    (l_orderkey, l_linenumber) is re-pinned to stay unique; vec_id is
    rewritten onto the distinct kept doc_ids."""
    done = {}

    def shape(t, tab):
        if t not in DIMS:
            tab = tab.slice(0, N_FACT)
        n = tab.num_rows
        for col, ref, refkey in FK_MAP.get(t, ()):
            kept = done[ref].column(refkey).to_pylist()
            if t == "embeddings":
                # unique bridge: one kept doc_id per row
                pattern = [kept[i % len(kept)] for i in range(n)]
            else:
                pattern = [kept[0], kept[0], kept[1]][:n]
            tab = _set(tab, col, pattern)
        if t == "lineitem":
            tab = _set(tab, "l_linenumber", [1, 2, 1][:n])
        if n >= 2:
            for col in MEASURES.get(t, ()):
                vals = tab.column(col).to_pylist()
                vals[1] = vals[0]
                tab = _set(tab, col, vals)
        done[t] = tab
        return tab

    return _derive(path, shape)


MID_1996 = datetime.datetime(1996, 6, 15)
ONE_TS = datetime.datetime(2024, 3, 1, 12, 0, 0)
TIES_TEXT = (
    "The quick brown fox jumps over the lazy dog while the dog "
    "sleeps near the quiet river and the fox runs away fast."
)
# table -> {column: constant}; applied to every row
TIES_CONSTS = {
    "lineitem": {
        "l_quantity": 10.0,
        "l_extendedprice": 1000.0,
        "l_discount": 0.05,
        "l_tax": 0.02,
        "l_shipdate": MID_1996,
    },
    "orders": {"o_totalprice": 1000.0, "o_orderdate": MID_1996},
    "events": {"value": 7.0, "ts": ONE_TS},
    "customer": {"c_acctbal": 100.0},
    "supplier": {"s_acctbal": 100.0},
    "part": {"p_retailprice": 500.0},
    "documents": {"text": TIES_TEXT, "n_chars": len(TIES_TEXT)},
}


def build_ties(path: str) -> str:
    """TIES: full cardinality with REAL keys, but every measure,
    timestamp, document text and embedding vector pinned to ONE
    constant — every ranking, top-k, argmax, dedup keeper and nearest
    neighbour faces total tie ambiguity, so a query diverges iff a
    selection among tied rows is not pinned to a deterministic total
    order on both engines. Deterministic."""
    def shape(t, tab):
        for col, value in TIES_CONSTS.get(t, {}).items():
            tab = _set(tab, col, [value] * tab.num_rows)
        if t == "embeddings":
            # one identical non-zero vector: every pairwise distance ties
            dim = len(tab.column("embedding")[0].as_py())
            vec = [0.1 * ((i % 4) + 1) for i in range(dim)]
            tab = _set(tab, "embedding", [vec] * tab.num_rows)
        return tab

    return _derive(path, shape)


# table -> columns set entirely NULL (nullable-by-contract measures;
# PKs, FKs, timestamps, documents.text and the embedding vector/label
# are non-null by contract)
NULL_COLS = {
    "lineitem": ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
    "orders": ["o_totalprice"],
    "events": ["value"],
    "customer": ["c_acctbal"],
    "supplier": ["s_acctbal"],
    "part": ["p_retailprice"],
    "documents": ["n_chars"],
}


def build_nullmeasures(path: str) -> str:
    """ALL-NULL measures: groups exist at full cardinality but every
    aggregate over a measure is NULL (count(col) = 0 while count(*) is
    large) — engine-default NULL placement under ORDER BY a NULL
    aggregate, arg_max over an all-NULL column, count(*)-keyed guards,
    COALESCE(sum, 0) asymmetries. Deterministic."""
    def shape(t, tab):
        for col in NULL_COLS.get(t, ()):
            tab = _set(tab, col, [None] * tab.num_rows)
        return tab

    return _derive(path, shape)


# ----------------------------------------------------------------------
# restart-resume: the one tier that stages its own input
# ----------------------------------------------------------------------
RESTART_EXCLUDED = {
    "stream_state_ttl_closed": "event-time timeout closure is "
        "restart-variant by Spark semantics (run-boundary no-data "
        "batches fire timeouts the single-run batch oracle cannot "
        "see); exact variance algebra pinned in tests/test_streaming"
        ".py::test_state_ttl_restart_variance_characterized",
    "stream_two_source_union": "stages its own two-shard source "
        "topology; the managed-staging seam does not apply",
    "stream_cdc_merge_snapshot": "already a multi-epoch checkpointed "
        "foreachBatch drain (in-class by construction)",
    "pyds_stream_source_counts": "single-prefetch synth source; "
        "offset restart pinned in tests/test_streaming.py",
    "pyds_stream_sink_roundtrip": "single-prefetch synth source; "
        "offset restart pinned in tests/test_streaming.py",
}

# workloads that adopt quarantine_future_skew/out_of_band ahead of
# with_watermark — the poison pass runs exactly these
GUARDED = [
    "stream_watermark_append",
    "stream_sliding_watermark_append",
    "stream_windowed_topk_users",
]

# each guarded workload's REQUIRED column (its quarantine_required
# adoption) — the drift pass renames exactly this column away in part2
DRIFT_COLS = {
    "stream_watermark_append": "value",
    "stream_sliding_watermark_append": "event_type",
    "stream_windowed_topk_users": "user_id",
}

# the unguarded negative control for the drift pass: sums `value` with
# no required-columns guard, so the drift class must absorb silently
DRIFT_CONTROL = "stream_tumbling_counts"


class RestartHarness:
    """Owns the managed staging dir and the checkpointed two-run
    drain. One instance per sweep; per-workload keys isolate
    checkpoints/outputs; ``variant`` separates the poison and drift
    passes."""

    def __init__(self, spark):
        from emma_spark.sources import io as eio

        self.spark = spark
        self.base = eio.scratch_dir("emma_restart_")
        self.staged = os.path.join(self.base, "staged")
        os.makedirs(self.staged)
        self.workload = None
        self.variant = "clean"
        self.call_idx = 0
        self._build_splits()

    # --- corpus -----------------------------------------------------
    def _build_splits(self):
        """Split events at the median event time into two single-file
        parquet parts, staged through the engine's own IO (the
        nanos->micros / NTZ->LTZ normalization production staging
        applies)."""
        from pyspark.sql import functions as F

        from emma_spark.sources import io as eio

        con = duckdb.connect()
        t_split = con.execute(
            f"SELECT quantile_cont(ts, 0.5) FROM "
            f"read_parquet('{SRC}/events.parquet')"
        ).fetchone()[0]
        self.t_split = t_split
        ev = eio.read_parquet(self.spark, f"{SRC}/events.parquet").df
        for part, pred in (
            ("part1", F.col("ts") < F.lit(t_split)),
            ("part2", F.col("ts") >= F.lit(t_split)),
        ):
            d = os.path.join(self.base, f"_{part}")
            ev.filter(pred).coalesce(1).write.mode("overwrite").parquet(d)
            (f,) = glob.glob(f"{d}/part-*.parquet")
            shutil.copy(f, os.path.join(self.base, f"{part}.parquet"))
        # the poison row: one real drain-1 row with its event time
        # rewritten to the ms-as-s artifact year (~2100)
        d = os.path.join(self.base, "_poison")
        (
            ev.orderBy("event_id").limit(1)
            .withColumn("ts", F.lit("2100-01-01 00:00:00").cast("timestamp"))
            .withColumn("event_id", F.lit(10**9).cast("bigint"))
            .coalesce(1).write.mode("overwrite").parquet(d)
        )
        (f,) = glob.glob(f"{d}/part-*.parquet")
        shutil.copy(f, os.path.join(self.base, "poison.parquet"))
        self.n_part2 = ev.filter(F.col("ts") >= F.lit(t_split)).count()
        # drifted part2 variants: the producer RENAMES a required
        # column — same rows, column c gone. Written through Spark (not
        # pyarrow): the drift must be a COLUMN rename only, with
        # byte-identical timestamp encoding (a pyarrow round-trip
        # re-encodes ts as TIMESTAMP(NANOS), which Spark's vectorized
        # reader rejects loudly — that's the TYPE face, which fails
        # loudly by design and is not this pass's class)
        p2 = self.spark.read.parquet(os.path.join(self.base, "part2.parquet"))
        for c in sorted(set(DRIFT_COLS.values())):
            d = os.path.join(self.base, f"_drift_{c}")
            (
                p2.withColumnRenamed(c, f"{c}_drifted")
                .coalesce(1).write.mode("overwrite").parquet(d)
            )
            (f,) = glob.glob(f"{d}/part-*.parquet")
            shutil.copy(
                f, os.path.join(self.base, f"part2_drift_{c}.parquet"))

    # --- per-workload phases ----------------------------------------
    def begin(self, workload: str, phase: int, variant: str):
        self.workload = workload
        self.variant = variant
        self.call_idx = 0
        for f in glob.glob(f"{self.staged}/*.parquet"):
            os.remove(f)
        shutil.copy(os.path.join(self.base, "part1.parquet"),
                    os.path.join(self.staged, "part1.parquet"))
        if variant == "poison":
            shutil.copy(os.path.join(self.base, "poison.parquet"),
                        os.path.join(self.staged, "poison.parquet"))
        if phase == 2:
            if variant == "drift":
                # drain 2's producer renamed the workload's required
                # column; the file sorts AFTER part1.parquet, so the
                # phase-2 schema re-inference keeps the FULL schema
                # (probed first-footer-in-listing-order rule) and the
                # file source null-fills the missing column silently
                c = DRIFT_COLS.get(self.workload, "value")
                shutil.copy(
                    os.path.join(self.base, f"part2_drift_{c}.parquet"),
                    os.path.join(self.staged, "part2_drift.parquet"))
            else:
                shutil.copy(os.path.join(self.base, "part2.parquet"),
                            os.path.join(self.staged, "part2.parquet"))

    # --- monkeypatch targets ----------------------------------------
    def stage_events(self, spark, sf_dir: str) -> str:
        assert sf_dir == SRC, sf_dir
        return self.staged

    def run_to_memory(self, stream_df, output_mode="append",
                      state_partitions=None):
        """Checkpointed two-run drain standing in for the memory sink;
        returns the drained frame. append/update accumulate emissions
        across batches AND runs (exactly the memory sink's within-run
        behavior, extended over the restart); complete keeps the last
        full emission (the memory sink truncates per batch in complete
        mode)."""
        from emma_spark.streaming.api import drain_accounting

        key = f"{self.workload}_{self.variant}_{self.call_idx}"
        self.call_idx += 1
        out = os.path.join(self.base, key, "out")
        ckpt = os.path.join(self.base, key, "ckpt")
        spark = self.spark
        mode = output_mode

        def sink(df, _epoch):
            df.write.mode("overwrite" if mode == "complete"
                          else "append").parquet(out)

        prev = spark.conf.get("spark.sql.shuffle.partitions")
        if state_partitions is not None:
            spark.conf.set("spark.sql.shuffle.partitions",
                           str(state_partitions))
        try:
            with drain_accounting(spark) as acct:
                (
                    stream_df.writeStream.foreachBatch(sink)
                    .option("checkpointLocation", ckpt)
                    .outputMode(output_mode)
                    .trigger(availableNow=True)
                    .start()
                    .awaitTermination()
                )
        finally:
            if state_partitions is not None:
                spark.conf.set("spark.sql.shuffle.partitions", prev)
        # The split-boundary analysis (run_restart's docstring) claims
        # NO row is ever late in either drain. MEASURE it per drain: a
        # nonzero dropped-by-watermark count means the analysis is
        # wrong for this workload and the comparison would pass only
        # by luck of what the oracle keeps.
        if acct["dropped_by_watermark"]:
            raise AssertionError(
                f"split-boundary claim violated: drain {key} "
                f"dropped {acct['dropped_by_watermark']} rows by "
                f"watermark ({acct})"
            )
        if glob.glob(f"{out}/*.parquet"):
            return spark.read.parquet(out)
        # zero emissions so far: empty frame, stream's schema
        return spark.createDataFrame([], stream_df.schema)


def eligible_workloads(registry) -> list[str]:
    return [
        n for n in registry
        if (n.startswith("stream_") or n.startswith("pyds_stream"))
        and n not in RESTART_EXCLUDED
    ]


def run_restart(spark, only=None, quiet: bool = False):
    """RESTART-RESUME differential: every eligible stream workload (or
    the ``only`` subset) drained in TWO checkpointed availableNow runs,
    then compared with its batch oracle over the full corpus. Returns
    (n_ok, n_skip, failures) like ``run_fuzz``.

    1. events are split at the median event time into two files;
    2. each workload runs twice against a staging dir that grows
       between runs, run 2 recovering from run 1's checkpoint. The
       workload code itself runs; only ``_stage_events`` and
       ``run_to_memory`` are swapped (RestartHarness);
    3. phase 2's result goes through ``compare_one``;
    4. a POISON pass re-runs the GUARDED workloads with one corrupt
       year-2100 row in drain 1 and still compares against the CLEAN
       oracle: the guard must dead-letter it;
    5. a DRIFT pass re-runs them with part2's REQUIRED column renamed
       away (Spark null-fills it silently), after MEASURING that the
       drift is present, against the part1-only oracle: every drifted
       row must be dead-lettered by quarantine_required. The unguarded
       DRIFT_CONTROL must instead absorb the drift (row counts kept,
       NULL totals, clean-oracle mismatch).

    Split-boundary analysis (why two-run == one-run == oracle): with
    the split at T, the watermark after drain 1 is below T and every
    drain-2 row has ts >= T, so (a) no drain-2 row or window is late;
    (b) a session finalized in drain 1 ended more than the gap before
    any drain-2 event; (c) an unmatched left-outer purchase evicted at
    drain-1 end has no admissible drain-2 click. Every drain asserts
    ``dropped_by_watermark == 0`` under ``drain_accounting``.
    RESTART_EXCLUDED lists the workloads left out, with reasons; they
    are reported as SKIPs."""
    from emma_spark.streaming import api as S
    from emma_spark.workloads import load_all
    from emma_spark.workloads import streaming as ws

    qs = load_all()
    con = connect(SRC, ALL_TABLES)

    h = RestartHarness(spark)
    orig_stage, orig_run = ws._stage_events, S.run_to_memory
    ws._stage_events = h.stage_events
    S.run_to_memory = h.run_to_memory

    # the drift pass's oracle corpus: after drain 2 every drifted
    # part2 row is dead-lettered by quarantine_required, so the VALID
    # corpus the guarded output must equal is part1 alone
    con_p1 = duckdb.connect()
    for t in ALL_TABLES:
        f = (os.path.join(h.base, "part1.parquet") if t == "events"
             else f"{SRC}/{t}.parquet")
        con_p1.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{f}')"
        )

    n_ok = n_skip = 0
    failures: list[str] = []
    try:
        names = eligible_workloads(qs)
        for name, reason in RESTART_EXCLUDED.items():
            if name in qs and (only is None or name in only):
                if not quiet:
                    print(f"SKIP  {name}: {reason}")
                n_skip += 1
        plan = (
            [(n, "clean") for n in names]
            + [(n, "poison") for n in GUARDED if n in names]
            + [(n, "drift") for n in GUARDED if n in names]
        )
        for name, variant in plan:
            if only and name not in only:
                continue
            q = qs[name]
            try:
                h.begin(name, phase=1, variant=variant)
                q.fn(spark, SRC)  # drain 1 (result discarded)
                h.begin(name, phase=2, variant=variant)
                if variant == "drift":
                    # MEASURE the drift before trusting the compare:
                    # the full-schema footer must win the re-inference
                    # (part1 sorts first) and null-fill exactly the
                    # |part2| drifted rows — otherwise the pass would
                    # certify against an input that never drifted
                    from pyspark.sql import functions as F

                    c = DRIFT_COLS[name]
                    n_null = (
                        spark.read.parquet(h.staged)
                        .filter(F.col(c).isNull()).count()
                    )
                    if n_null != h.n_part2:
                        raise AssertionError(
                            f"drift precondition: expected {h.n_part2} "
                            f"null-filled '{c}' rows, saw {n_null}"
                        )
                status, detail = compare_one(
                    spark, con_p1 if variant == "drift" else con,
                    name, q.fn, q.oracle, SRC
                )
            except Exception as ex:  # noqa: BLE001 — reporting tool
                status, detail = "spark-error", repr(ex)[:300]
            tag = f"{name}[{variant}]"
            if status == "ok":
                n_ok += 1
                if not quiet:
                    print(f"ok    {tag}")
            else:
                failures.append(f"{tag}: {status}: {detail[:300]}")
                if not quiet:
                    print(f"FAIL  {tag}: {status}: {detail[:300]}")

        # --- drift NEGATIVE CONTROL: the unguarded workload must
        # ABSORB the same drift silently (healthy row counts, NULL /
        # partial totals, clean-oracle mismatch) — pinning the class
        # the pass exists to catch; if Spark ever starts rejecting
        # drifted reads, this turns red and the tier gets redesigned
        if (only is None or DRIFT_CONTROL in only) and DRIFT_CONTROL in qs:
            tag = f"{DRIFT_CONTROL}[drift-control]"
            try:
                from pyspark.sql import functions as F

                q = qs[DRIFT_CONTROL]
                h.begin(DRIFT_CONTROL, phase=1, variant="drift")
                q.fn(spark, SRC)
                h.begin(DRIFT_CONTROL, phase=2, variant="drift")
                status, _ = compare_one(
                    spark, con, DRIFT_CONTROL, q.fn, q.oracle, SRC
                )
                res = q.fn(spark, SRC)
                n_total = res.agg(F.sum("n")).collect()[0][0]
                n_null_totals = res.filter(F.col("total").isNull()).count()
                n_events = con.execute(
                    "SELECT count(*) FROM events").fetchone()[0]
                if status == "ok":
                    raise AssertionError(
                        "unguarded control MATCHED its clean oracle "
                        "under drift — the absorption class vanished")
                if n_total != n_events or n_null_totals == 0:
                    raise AssertionError(
                        f"expected silent absorption (row counts "
                        f"conserved, NULL totals): sum(n)={n_total} "
                        f"vs {n_events} rows, {n_null_totals} "
                        f"NULL-total windows")
                n_ok += 1
                if not quiet:
                    print(f"ok    {tag} (absorbed: {n_null_totals} "
                          f"NULL-total windows, row counts conserved)")
            except Exception as ex:  # noqa: BLE001 — reporting tool
                failures.append(f"{tag}: {repr(ex)[:300]}")
                if not quiet:
                    print(f"FAIL  {tag}: {repr(ex)[:300]}")
    finally:
        ws._stage_events = orig_stage
        S.run_to_memory = orig_run
    return n_ok, n_skip, failures


# ----------------------------------------------------------------------
# the tier table
# ----------------------------------------------------------------------
# the coverage gap the cross tier closes by default: oracles spanning
# more than one single-family corpus
CROSS_QUERIES = frozenset({
    "pipeline_dataset_fingerprint",
    "scd2_point_in_time_lookup",
    "udf_cogroup_reconcile",
    "search_hybrid_rrf",
    "stream_static_enrich",
})
# the pandas-seam + moment-aggregate families: a registry-wide NaN
# sweep would mostly exercise well-defined NaN propagation, while this
# set is where a silent drop is possible
NAN_SCOPE = frozenset({
    "fold_global", "fold_histogram_pandas_udaf", "fold_reduce_option",
    "fold_product_user_alg", "fold_minmax_struct_ordering",
    "agg_stats_moments",
})


@dataclass(frozen=True)
class Tier:
    """One row of TIERS. ``build`` writes the corpus into ``path``,
    each builder in turn; ``tables`` are the tables a query's oracle
    may touch (exactly the tables the builders write); ``scope`` is the
    default query set (None: every eligible query); ``exclude`` lists
    query-name prefixes never run. A tier with a ``runner`` stages its
    own input and replaces the corpus + run_fuzz path."""

    path: str | None
    build: tuple[Callable[[str], str], ...]
    tables: frozenset[str]
    scope: frozenset[str] | None = None
    exclude: tuple[str, ...] = ()
    runner: Callable | None = None


_ALL = frozenset(ALL_TABLES)
_JOINS = frozenset(JOIN_TABLES)

TIERS: dict[str, Tier] = {
    "documents": Tier("/tmp/emma_fuzz_sf", (build_documents,),
                      frozenset({"documents"})),
    "documents_const": Tier("/tmp/emma_fuzz_sf_const",
                            (build_documents_const,),
                            frozenset({"documents"})),
    "events": Tier("/tmp/emma_fuzz_ev", (build_events,),
                   frozenset({"events"}), exclude=EVENT_EXCLUDES),
    "events_const": Tier("/tmp/emma_fuzz_ev_const", (build_events_const,),
                         frozenset({"events"}), exclude=EVENT_EXCLUDES),
    "embeddings": Tier("/tmp/emma_fuzz_emb", (build_embeddings,),
                       frozenset({"embeddings"})),
    "orders": Tier("/tmp/emma_fuzz_ord", (build_orders,),
                   frozenset({"orders"})),
    "orders_const": Tier("/tmp/emma_fuzz_ord_const", (build_orders_const,),
                         frozenset({"orders"})),
    "joins": Tier("/tmp/emma_fuzz_join", (build_joins,), _JOINS),
    # each family's own generator (same seeds) into one dir, so a cross
    # failure reproduces under that family's tier
    "cross": Tier("/tmp/emma_fuzz_all",
                  (build_joins, build_documents, build_events,
                   build_embeddings),
                  _ALL, scope=CROSS_QUERIES),
    "nan": Tier("/tmp/emma_fuzz_nan", (build_nan,), _JOINS,
                scope=NAN_SCOPE),
    "negzero": Tier("/tmp/emma_fuzz_negzero", (build_negzero,),
                    _JOINS | {"events", "embeddings"}),
    "sparse": Tier("/tmp/emma_fuzz_sparse", (build_sparse,), _ALL),
    "empty": Tier("/tmp/emma_fuzz_empty", (build_empty,), _ALL),
    "skew": Tier("/tmp/emma_fuzz_skew", (build_skew,), _ALL),
    # stream_* is excluded by DOMAIN CONTRACT: Spark's event-time
    # watermark is floored at epoch 0 (every pre-1970 window is
    # dropped as late), documented in streaming/api.py and SCALE.md
    "epoch": Tier("/tmp/emma_fuzz_epoch", (build_epoch,), _ALL,
                  exclude=("stream_",)),
    "domainmax": Tier("/tmp/emma_fuzz_domainmax", (build_domainmax,), _ALL),
    "matched": Tier("/tmp/emma_fuzz_matched", (build_matched,), _ALL),
    "ties": Tier("/tmp/emma_fuzz_ties", (build_ties,), _ALL),
    "nullmeasures": Tier("/tmp/emma_fuzz_nullm", (build_nullmeasures,), _ALL),
    "props": Tier("/tmp/emma_fuzz_props", (build_props,),
                  frozenset({"events"}), exclude=EVENT_EXCLUDES),
    "restart": Tier(None, (), frozenset(), runner=run_restart),
}


def corpus(tier: str) -> str:
    """Build ``tier``'s corpus at its path and return the path."""
    t = TIERS[tier]
    for build in t.build:
        build(t.path)
    return t.path


def run_tier(spark, tier: str, only=None, quiet: bool = False):
    """Run one tier over ``only`` (None: every eligible query)."""
    t = TIERS[tier]
    if t.runner:
        return t.runner(spark, only=only, quiet=quiet)
    path = corpus(tier)
    return run_fuzz(spark, connect(path, t.tables), path, t.tables,
                    only=only, exclude_prefixes=t.exclude, quiet=quiet)


USAGE = "usage: python tools/fuzz.py --list | TIER|all [--all] [query ...]"


def main(argv) -> int:
    if argv == ["--list"]:
        print("\n".join(TIERS))
        return 0
    flags = {a for a in argv if a.startswith("-")}
    args = [a for a in argv if not a.startswith("-")]
    if flags - {"--all"} or not args or args[0] not in {*TIERS, "all"}:
        print(USAGE, file=sys.stderr)
        print(f"tiers: {' '.join(TIERS)}", file=sys.stderr)
        return 2
    from emma_spark.workloads import load_all

    names = set(args[1:])
    unknown = sorted(names - set(load_all()))
    if unknown:
        print(f"unknown query name(s): {' '.join(unknown)}", file=sys.stderr)
        return 2
    tiers = list(TIERS) if args[0] == "all" else [args[0]]

    from emma_spark.session import get_spark

    spark = get_spark(f"fuzz-{args[0]}")
    spark.sparkContext.setLogLevel("ERROR")
    red = False
    for tier in tiers:
        only = names or (None if "--all" in flags else TIERS[tier].scope)
        n_ok, n_skip, failures = run_tier(spark, tier, only)
        print(f"\n{tier}: {n_ok} ok, {n_skip} skipped, {len(failures)} FAIL")
        red = red or bool(failures)
    spark.stop()
    return 1 if red else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
