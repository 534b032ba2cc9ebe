"""Output checks for the benchmark's queries.

Two layers, both outside the timed region:

* **Oracle verdict.** Each query's output is compared with its DuckDB
  oracle by ``tools/diffcheck.compare_one`` (row count, column names,
  output types and an order-insensitive value hash). The comparison
  costs far more than a timed pass (tens of seconds per query at sf1),
  so its verdict is stored together with a content stamp of every
  source file the outputs depend on and of the input tables. A run
  whose stamp matches reuses the verdict; any code or data change
  produces a new stamp and a fresh comparison.
* **Per-run fingerprint.** Every run executes each query once more and
  reduces its output to ``(rows, sum of row hashes)``. The fingerprint
  must equal the one recorded with the ``ok`` verdict, so each run
  proves its own outputs are the oracle-checked ones.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os

STAMPED = (
    "emma_spark/**/*.py",
    "__spark_entry__.py",
    "tools/diffcheck.py",
    "tools/typecheck.py",
    "tools/gen_sf.py",
    "perfbench/*.py",
)


def code_stamp(root: str, data_dirs) -> str:
    """sha256 over the sources that shape the outputs, the input tables'
    stamp files and the engine versions."""
    import duckdb
    import pyspark

    h = hashlib.sha256(f"{pyspark.__version__} {duckdb.__version__}".encode())
    files = sorted({p for pat in STAMPED for p in glob.glob(os.path.join(root, pat), recursive=True)})
    files += [os.path.join(d, "_STAMP.json") for d in data_dirs]
    for p in files:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def fingerprint(df) -> list:
    """``[rows, sum of xxhash64 over every column]`` of a DataFrame's
    output. Map columns are hashed through their JSON form (Spark does
    not hash maps)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import MapType

    cols = [
        F.to_json(F.col(f"`{f.name}`")) if isinstance(f.dataType, MapType) else F.col(f"`{f.name}`")
        for f in df.schema.fields
    ]
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return [int(row["n"]), str(row["h"])]


def oracle_verdicts(spark, queries: dict, sf_dir: str, path: str, stamp: str) -> dict:
    """``{query: {"status", "detail", "fingerprint"}}`` for ``queries``
    (name → registry entry), read from ``path`` when its stamp matches,
    else computed with the DuckDB oracles and stored there."""
    try:
        with open(path) as f:
            cached = json.load(f)
        if cached["stamp"] == stamp and set(cached["queries"]) == set(queries):
            return cached["queries"]
    except (OSError, ValueError, KeyError):
        pass

    import duckdb

    from tools.diffcheck import TABLES, compare_one

    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    out = {}
    try:
        for name, q in queries.items():
            status, detail = compare_one(spark, con, name, q.fn, q.oracle, sf_dir)
            spark.catalog.clearCache()
            fp = fingerprint(q.fn(spark, sf_dir)) if status == "ok" else None
            spark.catalog.clearCache()
            out[name] = {"status": status, "detail": detail, "fingerprint": fp}
    finally:
        con.close()
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump({"stamp": stamp, "queries": out}, f, indent=1)
    return out
