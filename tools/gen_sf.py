"""Generate a larger scale factor from the driver's sf0.1 parquet by
key-shifted replication — for SCALING MEASUREMENTS only (bench.py with
SPARK_GRAFT_SF_DIR), never for correctness oracles.

The driver's own generator (seed=42, TESTDATA.md) scales sf0.01→sf0.1
by: ×10 entity cardinalities with dense 0-based keys (customer 1.5k→
15k, orders 15k→150k, lineitem 60k→600k, events users 150→1500,
documents 500→5000), FIXED date/timestamp ranges, fixed dims (region 5,
nation 25), and ×4 embeddings (500→2000). This script reproduces that
relationship for sf1: COPIES=10 shifted replicas of every scaled
table, each copy's keys offset by copy_index × (entity cardinality at
sf0.1), with every foreign key remapped by the same offset so join
selectivities and group cardinalities scale exactly as the driver's
generator would (per-customer order counts, per-order line counts,
per-user event counts all stay constant — the TPC-H scaling contract).

Document text is salted per copy (dedup rates must not jump from
~0.2% to 90% just because we replicated); embeddings get 4 copies
with one component nudged per copy (no artificial exact-twin ties).

    python tools/gen_sf.py [--out <repo>/.local/sf1] [--copies 10]
"""
from __future__ import annotations

import argparse
import os
import sys
from pathlib import Path

import duckdb

SRC = "/root/testdata/sf0.1"

# entity cardinality at sf0.1 == the per-copy key offset stride
CARD = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem_order": 150_000,  # l_orderkey strides with orders
    "events": 100_000,
    "events_user": 1_500,
    "documents": 5_000,
    "embeddings": 2_000,
}


def gen(out: str, copies: int = 10) -> None:
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    con.execute(f"SET threads TO {os.cpu_count() or 8}")

    def copy_union(table: str, select_tpl: str, n_copies: int, extra=None) -> None:
        """Write UNION ALL of n key-shifted copies; {i} is the copy
        index available to the per-copy SELECT template (plus any
        per-copy keys from ``extra(i)``)."""
        parts = [
            f"SELECT {select_tpl.format(i=i, **(extra(i) if extra else {}))} "
            f"FROM read_parquet('{SRC}/{table}.parquet')"
            for i in range(n_copies)
        ]
        sql = " UNION ALL ".join(parts)
        con.execute(
            f"COPY ({sql}) TO '{out}/{table}.parquet' (FORMAT PARQUET)"
        )
        n = con.execute(
            f"SELECT count(*) FROM read_parquet('{out}/{table}.parquet')"
        ).fetchone()[0]
        print(f"  {table}: {n:,} rows")

    # fixed dims: straight copies
    for t in ("region", "nation"):
        con.execute(
            f"COPY (SELECT * FROM read_parquet('{SRC}/{t}.parquet')) "
            f"TO '{out}/{t}.parquet' (FORMAT PARQUET)"
        )
        print(f"  {t}: copied")

    copy_union(
        "customer",
        f"c_custkey + {{i}} * {CARD['customer']} AS c_custkey, "
        "c_name, c_nationkey, c_acctbal, c_mktsegment",
        copies,
    )
    copy_union(
        "supplier",
        f"s_suppkey + {{i}} * {CARD['supplier']} AS s_suppkey, "
        "s_name, s_nationkey, s_acctbal",
        copies,
    )
    copy_union(
        "part",
        f"p_partkey + {{i}} * {CARD['part']} AS p_partkey, "
        "p_name, p_brand, p_type, p_size, p_retailprice",
        copies,
    )
    copy_union(
        "orders",
        f"o_orderkey + {{i}} * {CARD['orders']} AS o_orderkey, "
        f"o_custkey + {{i}} * {CARD['customer']} AS o_custkey, "
        "o_orderstatus, o_totalprice, o_orderdate, o_orderpriority",
        copies,
    )
    copy_union(
        "lineitem",
        f"l_orderkey + {{i}} * {CARD['lineitem_order']} AS l_orderkey, "
        f"l_partkey + {{i}} * {CARD['part']} AS l_partkey, "
        f"l_suppkey + {{i}} * {CARD['supplier']} AS l_suppkey, "
        "l_linenumber, l_quantity, l_extendedprice, l_discount, l_tax, "
        "l_returnflag, l_linestatus, l_shipdate",
        copies,
    )
    copy_union(
        "events",
        f"event_id + {{i}} * {CARD['events']} AS event_id, ts, "
        f"user_id + {{i}} * {CARD['events_user']} AS user_id, "
        "event_type, value, props",
        copies,
    )
    # text decorrelated per copy: a short suffix salt is NOT enough —
    # a near-identical copy keeps ~all shingles, so every doc gains
    # (copies-1) MinHash near-twins and LSH bucket sizes grow ×copies
    # (Σ|bucket|² then grows ×copies², which measured as a bogus 17×
    # "super-linear" dedup_minhash_pairs at 10× data). A per-copy
    # PERMUTATION of the frequent letters rewrites ~half the
    # characters, so every shingle (and thus every band signature)
    # becomes copy-specific while length and word shape stay intact —
    # the dup structure of the scaled corpus matches the source's.
    _LETTERS = "etaoinshr"
    perms = ["etaoinshr", "taoinshre", "aoinshret", "oinshreta",
             "inshretao", "nshretaoi", "shretaoin", "hretaoins",
             "retaoinsh", "etaoinsrh"]
    # document copies CAP at the perm count: the decorrelating perms
    # are cyclic rotations, so past 10 copies the cycle repeats and
    # distinct copies become exact text twins — re-creating the
    # correlated-corpus artifact an sf1 measurement once hit. A
    # copies=100 (sf10) corpus therefore scales the relational/event
    # tables 100x while holding the text corpus at 10x; text-family
    # scaling reads come from the sf1 point.
    copy_union(
        "documents",
        f"doc_id + {{i}} * {CARD['documents']} AS doc_id, "
        "CASE WHEN {i} = 0 THEN text "
        f"     ELSE translate(text, '{_LETTERS}', '{{perm}}') END AS text, "
        "lang, source, n_chars",
        min(copies, len(perms)),
        extra=lambda i: {"perm": perms[i % len(perms)]},
    )
    # embeddings scale ×4 in the driver's own sf0.01→sf0.1 step; nudge
    # one component per copy so replicas are not exact twins
    copy_union(
        "embeddings",
        f"vec_id + {{i}} * {CARD['embeddings']} AS vec_id, "
        "list_prepend(embedding[1] + {i} * 0.001, embedding[2:]) "
        "AS embedding, label",
        4,
    )
    con.close()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--out", default=str(Path(__file__).resolve().parents[1] / ".local" / "sf1")
    )
    ap.add_argument("--copies", type=int, default=10)
    a = ap.parse_args()
    print(f"generating {a.out} ({a.copies} copies of {SRC})")
    gen(a.out, a.copies)
    return 0


if __name__ == "__main__":
    sys.exit(main())
