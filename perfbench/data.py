"""Benchmark inputs: sf0.1 tables shaped like the repository's seed-42
test data (TESTDATA.md), and their sf1 replica built by
``tools/gen_sf.py``.

The benchmark may read only its own checkout, so it does not read the
shared test tables. ``gen_sf01`` writes tables with the same names,
schemas, row counts, key ranges and value domains instead (TPC-H star
schema plus ``events``, ``documents`` and ``embeddings``; one parquet
file and one row group per table, like the test data).
The seed is fixed at 42: the benchmark's ``--seed`` only permutes query
order, so every run of every workload reads the same bytes.

``ensure`` regenerates a scale directory only when its stamp file is
missing, names another generator version or disagrees with the table
sizes on disk.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

DATA_SEED = 42
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
STAMP = "_STAMP.json"

_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_ADJ = "large hot blue old cold small red new".split()
_NOUN = "ring bolt plate gear widget nut screw spring".split()


def _days(rng, start: str, end: str, n: int):
    import numpy as np

    lo = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - lo).astype(int) + 1
    return (lo + rng.integers(0, span, n)).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int):
    import numpy as np

    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n: int, p=None):
    import numpy as np

    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def _tables(seed: int) -> dict:
    """Column dicts of every sf0.1 table (pandas-free, numpy arrays)."""
    import numpy as np

    rng = np.random.default_rng(seed)
    i32 = np.int32
    t: dict[str, dict] = {}
    t["region"] = {
        "r_regionkey": np.arange(5, dtype=i32),
        "r_name": np.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"], dtype=object),
    }
    t["nation"] = {
        "n_nationkey": np.arange(25, dtype=i32),
        "n_name": np.array([f"NATION_{i}" for i in range(25)], dtype=object),
        "n_regionkey": (np.arange(25) % 5).astype(i32),
    }
    n = 15_000
    t["customer"] = {
        "c_custkey": np.arange(n, dtype=np.int64),
        "c_name": np.array([f"Customer#{i:09d}" for i in range(n)], dtype=object),
        "c_nationkey": rng.integers(0, 25, n).astype(i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": _pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n),
    }
    n = 1_000
    t["supplier"] = {
        "s_suppkey": np.arange(n, dtype=np.int64),
        "s_name": np.array([f"Supplier#{i:09d}" for i in range(n)], dtype=object),
        "s_nationkey": rng.integers(0, 25, n).astype(i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n),
    }
    n = 20_000
    keys = np.arange(n, dtype=np.int64)
    names = np.array([f"{a} {b}" for a in _ADJ for b in _NOUN], dtype=object)
    t["part"] = {
        "p_partkey": keys,
        "p_name": names[rng.integers(0, len(names), n)],
        "p_brand": np.array([f"Brand#{i}" for i in rng.integers(1, 26, n)], dtype=object),
        "p_type": _pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n),
        "p_size": rng.integers(1, 51, n).astype(i32),
        "p_retailprice": 900 + (keys % 1000) / 10.0,
    }
    n = 150_000
    t["orders"] = {
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, 15_000, n).astype(np.int64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n),
        "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n),
    }
    n = 600_000
    t["lineitem"] = {
        "l_orderkey": rng.integers(0, 150_000, n).astype(np.int64),
        "l_partkey": rng.integers(0, 20_000, n).astype(np.int64),
        "l_suppkey": rng.integers(0, 1_000, n).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n).astype(i32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n),
        "l_linestatus": _pick(rng, ["F", "O"], n),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n),
    }
    n = 100_000
    start = np.datetime64("2024-01-01T00:00:00", "us")
    month_us = 30 * 86_400 * 1_000_000
    t["events"] = {
        "event_id": np.arange(n, dtype=np.int64),
        # strictly increasing with event_id, like the test data's events
        "ts": start + np.sort(rng.choice(month_us, n, replace=False)).astype("timedelta64[us]"),
        "user_id": rng.integers(0, 1_500, n).astype(np.int64),
        "event_type": _pick(rng, ["click", "error", "purchase", "signup", "view"], n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": np.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], dtype=object),
    }
    n = 5_000
    words = np.array(_WORDS, dtype=object)
    text = [" ".join(words[rng.integers(0, len(words), k)]) for k in rng.integers(10, 101, n)]
    # 5% near-duplicates: another document's text plus a marker word
    for i, j in zip(rng.choice(n, 250, replace=False), rng.integers(0, n, 250)):
        text[i] = text[j] + " dup"
    t["documents"] = {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": np.array(text, dtype=object),
        "lang": _pick(rng, ["en", "de", "es", "fr", "zh"], n, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": np.array([f"src{i % 20}" for i in range(n)], dtype=object),
        "n_chars": np.array([len(s) for s in text], dtype=np.int64),
    }
    n = 2_000
    vec = rng.standard_normal((n, 64))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": list(vec.astype(np.float32)),
        "label": rng.integers(0, 10, n).astype(i32),
    }
    return t


def gen_sf01(out: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out, exist_ok=True)
    for name, cols in _tables(DATA_SEED).items():
        arrays = {}
        for c, v in cols.items():
            if c == "embedding":
                arrays[c] = pa.array(v, type=pa.list_(pa.float32()))
            else:
                arrays[c] = pa.array(v)
        pq.write_table(pa.table(arrays), os.path.join(out, f"{name}.parquet"),
                       row_group_size=1 << 20)


def gen_sf1(src: str, out: str) -> None:
    """Ten key-shifted replicas of ``src`` through the repo's own scaler."""
    from tools import gen_sf

    gen_sf.SRC = src
    gen_sf.gen(out, copies=10)


def table_stats(sf_dir: str) -> dict:
    """Row count and bytes of every table in ``sf_dir``."""
    import pyarrow.parquet as pq

    out = {}
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        out[t] = {"rows": pq.ParquetFile(p).metadata.num_rows, "bytes": os.path.getsize(p)}
    return out


def generator_version() -> str:
    """sha256 of the code that writes the tables, so any change to it
    rebuilds them."""
    from tools import gen_sf

    h = hashlib.sha256(str(DATA_SEED).encode())
    for path in (__file__, gen_sf.__file__):
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _stamp_ok(sf_dir: str, version: str) -> bool:
    """The stamp names this generator version and every table still has
    the byte size recorded when it was written."""
    try:
        with open(os.path.join(sf_dir, STAMP)) as f:
            stamp = json.load(f)
        return stamp["version"] == version and all(
            os.path.getsize(os.path.join(sf_dir, f"{t}.parquet")) == s["bytes"]
            for t, s in stamp["tables"].items()
        )
    except (OSError, ValueError, KeyError):
        return False


def ensure(root: str) -> dict[str, str]:
    """Generated sf0.1 and sf1 directories under ``root``, built only when
    their stamp is missing or stale. Returns ``{"0.1": dir, "1": dir}``."""
    dirs = {"0.1": os.path.join(root, "sf0.1"), "1": os.path.join(root, "sf1")}
    build = {"0.1": gen_sf01, "1": lambda d: gen_sf1(dirs["0.1"], d)}
    version = generator_version()
    rebuilt = False
    for sf, d in dirs.items():
        if not rebuilt and _stamp_ok(d, version):
            continue
        rebuilt = True
        shutil.rmtree(d, ignore_errors=True)
        build[sf](d)
        with open(os.path.join(d, STAMP), "w") as f:
            json.dump({"version": version, "seed": DATA_SEED, "tables": table_stats(d)}, f)
    return dirs
