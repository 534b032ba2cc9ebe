"""Local replica of the driver's correctness gate — pandas-faithful.

Runs every ``__spark_entry__.queries()`` entry on Spark and its
``oracle_sql()`` twin on DuckDB over the same parquet dir, then
compares row count, column names, output TYPES, and an
order-insensitive value hash.

Canonicalization matches the driver's observed path, which past
driver reds proved is pandas-based: the DuckDB side is fetched via
``fetchdf()`` (NOT ``fetchall()`` — ``fetchall`` converts HUGEINT to
Python int and hides exactly the divergence the driver sees: HUGEINT
arrives in pandas as float64, ``124750.0`` vs Spark's int64
``124750``) and the Spark side via Arrow ``toPandas()``. Floats are
stringified at full precision via ``repr`` — integer-valued floats are
NOT collapsed to ints, and no significant-digit rounding is applied.
On top of the value hash, Spark's schema and DuckDB's DESCRIBE types
must land in the same pandas dtype family (tools/typecheck.py), so a
type-only divergence fails here even when the stringified values
happen to agree at this SF.

Usage:

    python tools/diffcheck.py [--vanilla | --partitions=N] [sf_dir] [query ...]

Defaults to /root/testdata/sf0.01 and all queries.
"""

from __future__ import annotations

import datetime
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from tools.typecheck import duck_output_types, pair_problems  # noqa: E402

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def _pnorm(v):
    """Stringify one pandas cell the way a dtype-sensitive hasher sees
    it. float64(124750.0) -> '124750.0', int64(124750) -> '124750':
    the two MUST differ, that asymmetry is the whole point."""
    import numpy as np
    import pandas as pd

    if v is None or v is pd.NaT:
        return "\x00"
    if isinstance(v, (np.bool_, bool)):
        return "True" if v else "False"
    if isinstance(v, (np.floating, float)):
        f = float(v)
        if f != f:  # NaN — also how pandas encodes SQL NULL in floats
            return "\x00"
        return repr(f)
    if isinstance(v, (np.integer, int)):
        return str(int(v))
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    if isinstance(v, datetime.date) and not isinstance(v, datetime.datetime):
        # DuckDB fetchdf() renders DATE as a midnight datetime64 while
        # Spark toPandas() keeps datetime.date objects; the driver
        # hashes these EQUAL (click_count_diffs was driver-green
        # with a date output), so canonicalize date -> midnight form
        return f"{v.isoformat()}T00:00:00"
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, np.ndarray):
        return "[" + ",".join(_pnorm(x) for x in v.tolist()) + "]"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_pnorm(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_pnorm(v[k])}" for k in sorted(v)) + "}"
    try:
        if pd.isna(v):
            return "\x00"
    except (TypeError, ValueError):
        pass
    return str(v)


def pdf_bag(pdf) -> list[str]:
    """Order-insensitive canonical rows: columns sorted by name, each
    cell normalized dtype-sensitively, rows sorted."""
    cols = sorted(pdf.columns)
    out = []
    for row in pdf[cols].itertuples(index=False, name=None):
        out.append("\x01".join(_pnorm(v) for v in row))
    out.sort()
    return out


def compare_one(spark, con, name, fn, oracle, sf_dir):
    """Run one query both ways; return (status, detail).

    status: 'ok' | 'rows-only' | 'fail' | 'engine-error' |
    'spark-error' | 'duck-error'. Mirrors the driver's checks (rows /
    schema / value hash) plus the stricter type-identity gate.
    'engine-error' means BOTH engines raised before a comparison could
    happen (corpus-shape problems, e.g. a filter leaves zero rows and
    a downstream raise-on-empty contract fires on each side);
    'spark-error' / 'duck-error' mean exactly one side raised while
    the other returned rows — a one-sided crash IS a differential
    signal (e.g. a reintroduced ANSI DIVIDE_BY_ZERO that DuckDB
    NULLs), so fuzz harnesses flag it instead of skipping. All three
    are distinct from 'fail' (a value mismatch) so callers never have
    to classify by sniffing the detail string, which can embed row
    data that itself contains the word 'error'.
    """
    spark.catalog.clearCache()
    s_err = None
    try:
        sdf = fn(spark, sf_dir)
        sfields = [(f.name, f.dataType.simpleString()) for f in sdf.schema.fields]
        spdf = sdf.toPandas()
    except Exception as ex:  # noqa: BLE001 — this is a reporting tool
        s_err = f"spark error: {ex!r}"[:500]
    if oracle is None:
        if s_err is not None:
            return "spark-error", s_err
        return "rows-only", f"{len(spdf)} rows"
    try:
        dfields = duck_output_types(con, oracle)
        dpdf = con.execute(oracle).fetchdf()
    except Exception as ex:  # noqa: BLE001
        d_err = f"duckdb error: {ex!r}"[:500]
        if s_err is not None:
            return "engine-error", f"{s_err[:240]} ; {d_err[:240]}"
        return "duck-error", f"{d_err} (spark returned {len(spdf)} rows)"
    if s_err is not None:
        return "spark-error", f"{s_err} (duckdb returned {len(dpdf)} rows)"

    problems = []
    scols, dcols = list(spdf.columns), list(dpdf.columns)
    if sorted(scols) != sorted(dcols):
        problems.append(f"cols spark={sorted(scols)} duck={sorted(dcols)}")
    if len(spdf) != len(dpdf):
        problems.append(f"rowcount spark={len(spdf)} duck={len(dpdf)}")
    problems += pair_problems(name, sfields, dfields)
    if not problems:
        sb, db = pdf_bag(spdf), pdf_bag(dpdf)
        if sb != db:
            diffs = [i for i, (a, b) in enumerate(zip(sb, db)) if a != b][:3]
            detail = "; ".join(
                f"row{i} spark={sb[i][:120]!r} duck={db[i][:120]!r}" for i in diffs
            )
            problems.append(f"values differ ({detail})")
    if problems:
        return "fail", "; ".join(problems)
    return "ok", f"{len(spdf)} rows"


def main() -> int:
    import duckdb
    from emma_spark.session import get_spark
    import __spark_entry__ as e

    parts = None
    for a in sys.argv[1:]:
        if a.startswith("--partitions="):
            parts = int(a.split("=", 1)[1])
    argv = [a for a in sys.argv[1:]
            if a != "--vanilla" and not a.startswith("--partitions=")]
    vanilla = "--vanilla" in sys.argv[1:]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])

    if parts is not None:
        # PARTITION-INVARIANCE mode: a hostile layout (odd worker
        # count, tiny input splits so every file fractures, AQE off so
        # nothing re-coalesces) — results must hash IDENTICALLY to the
        # layout-independent DuckDB oracle, so any diff here is an
        # order/partition-sensitivity bug (an unsorted collect_list, a
        # partition-dependent index, a fold that assumes arrival order)
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[7]")
            .config("spark.sql.shuffle.partitions", str(parts))
            .config("spark.default.parallelism", "7")
            .config("spark.sql.files.maxPartitionBytes", "65536")
            .config("spark.sql.files.openCostInBytes", "0")
            .config("spark.sql.adaptive.enabled", "false")
            .appName("diffcheck-partitions")
            .getOrCreate()
        )
    elif vanilla:
        # simulate the driver harness: a plain session with none of the
        # repo factory's confs, so portability regressions surface here
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[32]")
            .config("spark.sql.shuffle.partitions", "32")
            .appName("diffcheck-vanilla")
            .getOrCreate()
        )
    else:
        spark = get_spark("diffcheck")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs, oracles = e.queries(), e.oracle_sql()
    n_pass = n_fail = n_rows_only = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        status, detail = compare_one(spark, con, name, fn, oracles.get(name), sf_dir)
        dt = time.time() - t0
        if status == "ok":
            print(f"ok    {name}: {detail} [{dt:.1f}s]")
            n_pass += 1
        elif status == "rows-only":
            print(f"rows  {name}: {detail} (rows-only) [{dt:.1f}s]")
            n_rows_only += 1
        else:
            print(f"FAIL  {name}: {detail}"[:600])
            n_fail += 1
    print(f"\n{n_pass} ok, {n_rows_only} rows-only, {n_fail} FAIL")
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
