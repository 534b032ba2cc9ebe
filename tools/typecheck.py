"""Cross-engine output-TYPE identity scan (the HUGEINT driver-red class).

The driver canonicalizes BOTH result sets through pandas before
hashing. DuckDB HUGEINT — what ``sum(BIGINT)`` and window sums
silently promote to — arrives via ``fetchdf()`` as float64
(``124750.0``) while Spark's bigint arrives as int64 (``124750``):
a value-hash mismatch at ANY magnitude with rows and schema matching.
That one mechanism was every driver red in rounds 5 and 6.

Two prior defenses missed it:

* the DBAPI cursor ``description`` reports the generic ``'NUMBER'``
  for every numeric type, so a ``dtype == 'HUGEINT'`` test is vacuous;
* ``fetchall()`` converts HUGEINT to a Python int, so value-level
  local diffs look clean.

Only ``DESCRIBE SELECT * FROM (...)`` sees the real DuckDB types.
This module walks every registry oracle with DESCRIBE and every Spark
query's (lazy) schema and demands the pair land in the same pandas
dtype family. Importable (used by tests/test_registry_contracts.py
and tools/diffcheck.py) and runnable:

    python tools/typecheck.py [sf_dir]
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

TABLES = (
    "region nation customer supplier part orders lineitem "
    "events documents embeddings"
).split()

# Spark simpleString -> pandas dtype family after toPandas()
_SPARK_FAMILY = {
    "tinyint": "int", "smallint": "int", "int": "int", "bigint": "int",
    "float": "float32", "double": "float",
    "boolean": "bool", "string": "str", "binary": "bytes",
    "date": "date",
    "timestamp": "ts", "timestamp_ntz": "ts",
}

# DuckDB DESCRIBE column_type -> pandas dtype family after fetchdf().
# HUGEINT/UHUGEINT/DECIMAL are deliberately ABSENT: HUGEINT fetchdf()s
# as float64 and DECIMAL as object(Decimal) — both stringify unlike
# any Spark scalar, so they are banned outright in oracle outputs.
_DUCK_FAMILY = {
    "TINYINT": "int", "SMALLINT": "int", "INTEGER": "int",
    "BIGINT": "int", "UTINYINT": "int", "USMALLINT": "int",
    "UINTEGER": "int", "UBIGINT": "int",
    "FLOAT": "float32", "REAL": "float32", "DOUBLE": "float",
    "BOOLEAN": "bool", "VARCHAR": "str", "BLOB": "bytes",
    "DATE": "date",
    "TIMESTAMP": "ts", "TIMESTAMP WITH TIME ZONE": "ts",
    "TIMESTAMP_NS": "ts", "TIMESTAMP_MS": "ts", "TIMESTAMP_S": "ts",
}

_DUCK_COMPLEX_MARKERS = ("[]", "STRUCT", "MAP(", "LIST", "UNION", "ARRAY")


def duck_output_types(con, oracle_sql: str) -> list[tuple[str, str]]:
    """(column, DuckDB type) via DESCRIBE — the only honest probe."""
    rows = con.execute(
        f"DESCRIBE SELECT * FROM ({oracle_sql})"
    ).fetchall()
    return [(r[0], r[1]) for r in rows]


def pair_problems(
    name: str,
    spark_fields: list[tuple[str, str]],
    duck_fields: list[tuple[str, str]],
) -> list[str]:
    """Mismatch strings for one query; empty list == type-identical."""
    problems: list[str] = []
    dmap = {c: t for c, t in duck_fields}
    for col, styp in spark_fields:
        styp = styp.lower()
        if col not in dmap:
            continue  # column-name mismatch is the comparator's job
        dtyp = dmap[col].upper()
        if any(m in dtyp for m in _DUCK_COMPLEX_MARKERS):
            problems.append(f"{name}.{col}: duck complex type {dtyp}")
            continue
        sfam = _SPARK_FAMILY.get(styp)
        dfam = _DUCK_FAMILY.get(dtyp)
        if sfam is None:
            problems.append(f"{name}.{col}: spark type {styp} unmapped")
        elif dfam is None:
            problems.append(
                f"{name}.{col}: duck {dtyp} vs spark {styp} "
                f"(banned/unmapped duck type)"
            )
        elif sfam != dfam:
            problems.append(
                f"{name}.{col}: duck {dtyp} ({dfam}) vs spark {styp} "
                f"({sfam}) — pandas dtype families differ"
            )
    return problems


def connect_views(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def scan_all(con, schemas: dict) -> list[str]:
    """Type mismatches of the oracle-carrying registry queries in
    ``schemas``: query name -> its Spark schema, or the exception its
    build raised."""
    from emma_spark.workloads import load_all

    qs = load_all()
    out: list[str] = []
    for name, schema in schemas.items():
        q = qs[name]
        if not q.oracle:
            continue
        if isinstance(schema, Exception):
            out.append(f"{name}: spark schema error: {schema!r}"[:200])
            continue
        sfields = [(f.name, f.dataType.simpleString()) for f in schema.fields]
        try:
            dfields = duck_output_types(con, q.oracle)
        except Exception as ex:  # noqa: BLE001
            out.append(f"{name}: duckdb describe error: {ex!r}"[:200])
            continue
        out.extend(pair_problems(name, sfields, dfields))
    return out


def main() -> int:
    from emma_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("typecheck")
    spark.sparkContext.setLogLevel("ERROR")
    from emma_spark.workloads import load_all

    only = set(sys.argv[2:]) or None
    schemas: dict = {}
    for name, q in load_all().items():
        if only and name not in only:
            continue
        try:
            schemas[name] = q.fn(spark, sf_dir).schema
        except Exception as ex:  # noqa: BLE001 — report, keep sweeping
            schemas[name] = ex
    problems = scan_all(connect_views(sf_dir), schemas)
    for p in problems:
        print(p)
    print(f"\n{len(problems)} type mismatches")
    spark.stop()
    return 1 if problems else 0


if __name__ == "__main__":
    raise SystemExit(main())
