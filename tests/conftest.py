"""Shared fixtures: one local SparkSession + a DuckDB oracle.

Mirrors the reference's test strategy (SURVEY §5): every operator is
checked against a local semantic oracle (`ScalaSeq` there, DuckDB here)
with order-insensitive bag equality (`DataBagEquality`).
"""

from __future__ import annotations

import math
import os

import duckdb
import pytest

# tiny-data test runs: small shuffle fan-out beats 32-way task overhead
os.environ.setdefault("SPARK_GRAFT_SHUFFLE_PARTITIONS", "4")
os.environ.setdefault("SPARK_GRAFT_CPUS", "8")

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


@pytest.fixture(scope="session")
def spark():
    from emma_spark.session import get_spark

    s = get_spark("emma-spark-tests")
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def tables(spark):
    from emma_spark.sources import io

    return io.load_tables(spark, SF_DIR)


@pytest.fixture(scope="session")
def registry_builds(spark, tables):
    """Every registry query built once per session: name -> its schema
    (or the exception its build raised) and its build-job count. After
    ``tables``, so the parquet metadata memo is warm."""
    from tools.buildjobs import build_all

    return build_all(spark, SF_DIR)


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    yield con
    con.close()


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 6)
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if hasattr(v, "asDict"):  # Row
        return tuple(sorted((k, _norm(x)) for k, x in v.asDict().items()))
    return v


def as_bag(rows, columns=None):
    """Order-insensitive multiset of rows, columns sorted by name
    (`DataBagEquality` analog)."""
    out = []
    for r in rows:
        if hasattr(r, "asDict"):
            d = r.asDict(recursive=True)
        elif isinstance(r, dict):
            d = r
        else:
            d = dict(zip(columns, r))
        out.append(tuple(sorted((k, _norm(v)) for k, v in d.items())))
    return sorted(out, key=repr)  # repr-key: None/mixed types sort safely


def assert_bag_equal(spark_df, duck_con, sql):
    """Differential check: Spark DataFrame vs DuckDB SQL result."""
    actual = as_bag(spark_df.collect())
    res = duck_con.execute(sql)
    cols = [d[0] for d in res.description]
    expected = as_bag(res.fetchall(), cols)
    assert actual == expected, (
        f"bag mismatch: {len(actual)} vs {len(expected)} rows\n"
        f"first actual:   {actual[:3]}\nfirst expected: {expected[:3]}"
    )
