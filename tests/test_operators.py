"""Custom operators: salted skew join (== plain join), as-of join
(== correlated-subquery oracle)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from emma_spark.operators.asof import asof_join
from emma_spark.operators.skew import salted_join, top_keys
from tests.conftest import SF_DIR, as_bag


def test_salted_join_equals_plain_join(spark):
    # heavily skewed left: 90% of rows share key 7
    left = spark.range(2000).select(
        F.when(F.col("id") % 10 < 9, 7).otherwise(F.col("id") % 50).alias("k"),
        F.col("id").alias("lv"),
    )
    right = spark.range(50).select(F.col("id").alias("k"), (F.col("id") * 100).alias("rv"))
    plain = left.join(right, "k").select("k", "lv", "rv")
    salted = salted_join(left, right, "k").select("k", "lv", "rv")
    assert as_bag(salted.collect()) == as_bag(plain.collect())


def test_salted_join_left_outer(spark):
    left = spark.createDataFrame([(1, "a"), (2, "b"), (99, "c")], ["k", "lv"])
    right = spark.createDataFrame([(1, 10), (2, 20)], ["k", "rv"])
    out = salted_join(left, right, "k", how="left").select("k", "lv", "rv")
    assert as_bag(out.collect()) == as_bag(
        [(1, "a", 10), (2, "b", 20), (99, "c", None)], ["k", "lv", "rv"]
    )


def test_top_keys(spark):
    df = spark.createDataFrame([(1,), (1,), (1,), (2,)], ["k"])
    rows = top_keys(df, "k", 1).collect()
    assert rows[0]["k"] == 1 and rows[0]["count"] == 3


def test_asof_join_semantics(spark):
    import datetime as dt

    T = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)
    trades = spark.createDataFrame(
        [(1, T(10), 100.0), (1, T(20), 101.0), (2, T(5), 50.0), (3, T(9), 9.0)],
        ["sym", "ts", "px"],
    )
    quotes = spark.createDataFrame(
        [(1, T(8), 99.5), (1, T(15), 100.5), (1, T(20), 100.9), (2, T(6), 49.9)],
        ["sym", "ts", "bid"],
    )
    out = asof_join(trades, quotes, on="sym", ts="ts")
    got = {(r["sym"], r["ts"].second): (r["bid_right"],
           r["ts_right"].second if r["ts_right"] else None)
           for r in out.collect()}
    assert got[(1, 10)] == (99.5, 8)      # latest quote <= t10
    assert got[(1, 20)] == (100.9, 20)    # tie: simultaneous quote matches
    assert got[(2, 5)] == (None, None)    # quote at t6 is in the future
    assert got[(3, 9)] == (None, None)    # no quotes for key at all
    assert out.count() == trades.count()  # left join: every trade kept


def test_asof_join_tolerance(spark):
    import datetime as dt

    T = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)
    left = spark.createDataFrame([(1, T(30), "x")], ["k", "ts", "v"])
    right = spark.createDataFrame([(1, T(10), 7.0)], ["k", "ts", "m"])
    near = asof_join(left, right, on="k", ts="ts", tolerance_seconds=25)
    far = asof_join(left, right, on="k", ts="ts", tolerance_seconds=5)
    assert near.collect()[0]["m_right"] == 7.0
    assert far.collect()[0]["m_right"] is None


def test_asof_join_against_sql_oracle(spark, tables, duck):
    """events: join each purchase to the user's most recent prior
    click — correlated-subquery oracle in DuckDB."""
    ev = tables["events"].df
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("pid")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("cid")
    )
    out = asof_join(purchases, clicks, on="user_id", ts="ts").select(
        "user_id", "pid", F.col("cid_right").alias("cid")
    )
    sql = """
      SELECT p.user_id, p.event_id AS pid,
             (SELECT c.event_id FROM events c
              WHERE c.event_type = 'click' AND c.user_id = p.user_id
                AND c.ts <= p.ts
              ORDER BY c.ts DESC, c.event_id DESC LIMIT 1) AS cid
      FROM events p WHERE p.event_type = 'purchase'
    """
    rows = duck.execute(sql).fetchall()
    # the window tie-break keeps the LAST right row in (ts, side) order;
    # duplicate click timestamps per user are possible -> compare on ts-level
    # by remapping oracle cid -> its ts
    cid_ts = dict(duck.execute(
        "SELECT event_id, ts FROM events WHERE event_type='click'").fetchall())
    got = {(r["user_id"], r["pid"]): r["cid"] for r in out.collect()}
    assert len(got) == len(rows)
    mismatches = []
    for user_id, pid, cid in rows:
        g = got[(user_id, pid)]
        if g != cid and (g is None or cid is None or cid_ts[g] != cid_ts[cid]):
            mismatches.append((user_id, pid, g, cid))
    assert not mismatches, mismatches[:5]


def test_range_join_matches_nested_loop(spark, tables):
    """Bucketized range join == the naive non-equi join, including
    points matching multiple overlapping intervals."""
    from emma_spark.operators.range import range_join

    o = tables["orders"].df.select("o_orderkey", "o_totalprice")
    iv = spark.createDataFrame(
        [("a", 0.0, 150000.0), ("b", 100000.0, 300000.0), ("c", 120000.0, 120500.0)],
        "band string, lo double, hi double",
    )
    got = range_join(o, iv, "o_totalprice", "lo", "hi", bucket_width=75000).select(
        "o_orderkey", "band"
    )
    want = o.join(
        iv, (F.col("o_totalprice") >= F.col("lo")) & (F.col("o_totalprice") <= F.col("hi"))
    ).select("o_orderkey", "band")
    assert as_bag(got.collect()) == as_bag(want.collect())
    # overlapping intervals: some point matched more than one band
    assert got.groupBy("o_orderkey").count().agg(F.max("count")).collect()[0][0] >= 2


def test_hyper_rollup_partials_equal_direct(spark, tables):
    """Each rollup level re-aggregated from the finer level's partials
    equals direct aggregation from raw rows."""
    from emma_spark.operators.rollup import hyper_rollup, rollup_level

    ev = tables["events"].df.select("user_id", "ts", "value")
    levels = hyper_rollup(ev, "ts", ["user_id"], "value", buckets=["hour", "day"])
    direct_day = rollup_level(ev, "ts", "day", ["user_id"], "value")
    got = as_bag(
        levels["day"].select(
            "bucket_ts", "user_id", "n",
            F.round("v_sum", 6).alias("v_sum"), "v_min", "v_max",
        ).collect()
    )
    want = as_bag(
        direct_day.select(
            "bucket_ts", "user_id", "n",
            F.round("v_sum", 6).alias("v_sum"), "v_min", "v_max",
        ).collect()
    )
    assert got == want


def test_asof_join_forward_direction(spark, duck):
    """direction='forward': earliest right with ts >= left.ts (pandas
    merge_asof parity); oracle = correlated min subquery."""
    from emma_spark.operators.asof import asof_join

    from emma_spark.sources import io

    ev = io.read_parquet(spark, f"{SF_DIR}/events.parquet").df
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("pid")
    )
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts")
    got = asof_join(purchases, clicks, on="user_id", ts="ts", direction="forward").select(
        "pid", F.col("ts_right").alias("next_click")
    )
    want = duck.execute("""
        SELECT p.event_id AS pid,
               (SELECT min(c.ts) FROM events c
                WHERE c.event_type = 'click' AND c.user_id = p.user_id
                  AND c.ts >= p.ts) AS next_click
        FROM events p WHERE p.event_type = 'purchase'
    """).fetchall()
    g = sorted((r["pid"], r["next_click"]) for r in got.collect())
    w = sorted((a, b) for a, b in want)
    assert g == w


def test_hyper_rollup_week_level_partial_merge(spark):
    """Week level re-aggregates day partials; equals direct weekly
    aggregation of raw rows."""
    from emma_spark.operators.rollup import hyper_rollup
    from emma_spark.sources import io

    e = io.read_parquet(spark, f"{SF_DIR}/events.parquet").df.select(
        "ts", "event_type", F.col("value").cast("double").alias("value")
    )
    levels = hyper_rollup(e, "ts", ["event_type"], "value",
                          buckets=["hour", "day", "week"])
    wk = levels["week"].select("bucket_ts", "event_type", "n", "v_min", "v_max")
    direct = (
        e.groupBy(F.date_trunc("week", "ts").alias("bucket_ts"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.min("value").alias("v_min"),
             F.max("value").alias("v_max"))
    )
    assert as_bag(wk.collect()) == as_bag(direct.collect())


def test_approx_percentile_tracks_exact(spark):
    """The documented 100 TB swap for agg_percentiles: approx_percentile
    (bounded-state sketch) stays within tolerance of the exact sort-based
    percentile."""
    from emma_spark.sources import io

    o = io.read_parquet(spark, f"{SF_DIR}/orders.parquet").df
    row = o.agg(
        F.percentile(F.col("o_totalprice"), F.lit(0.5)).alias("exact"),
        F.expr("approx_percentile(o_totalprice, 0.5, 1000)").alias("approx"),
    ).collect()[0]
    assert abs(row["approx"] - row["exact"]) / row["exact"] < 0.02


def test_containment_pairs_matches_bruteforce_sets(spark):
    """llm.dedup.containment_pairs == pure-Python shingle-set math on a
    crafted corpus with a subset-duplicate (short doc quoted inside a
    long one: high containment, low Jaccard — the relation the
    operator exists to catch)."""
    from emma_spark.llm.dedup import containment_pairs

    quote = "the quick brown fox jumps over the lazy dog near the river"
    texts = {
        1: quote,
        2: "PREFACE: " + quote + " -- and then a very long commentary "
           "follows with entirely different material about other topics",
        3: "a completely unrelated document about spark physical plans",
        4: quote,  # exact duplicate of 1
    }
    df = spark.createDataFrame(
        [(k, v) for k, v in texts.items()], "doc_id long, text string"
    )
    got = {
        (r.src, r.dst): (r.inter, r.n_src, r.cont_ppm)
        for r in containment_pairs(df, n=10, t_num=3, t_den=5).collect()
    }

    def sh(t):
        t = t.lower()
        return {t[i:i + 10] for i in range(len(t) - 9)}

    want = {}
    for a in texts:
        for b in texts:
            if a == b:
                continue
            inter = len(sh(texts[a]) & sh(texts[b]))
            n_src = len(sh(texts[a]))
            if 5 * inter >= 3 * n_src:
                want[(a, b)] = (inter, n_src, inter * 10**6 // n_src)
    assert got == want
    # the subset-duplicate is caught in the short->long direction only
    assert (1, 2) in got and (2, 1) not in got


def test_substring_coverage_matches_position_sets(spark, tmp_path):
    """dedup_substring_coverage's window/island dataflow == brute-force
    covered-position sets (independent algorithm, no windows)."""
    from emma_spark.workloads import load_all

    reg = load_all()
    base = "x" * 60
    texts = {
        1: base + "AAAA" + "y" * 10,          # shares 60-char run with 2
        2: "zzz" + base + "BBBB",
        3: "unique " * 12,                     # repeated phrase within itself
        4: "short",                            # < 40 chars: never counted
    }
    import os
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = str(tmp_path)
    pdf = pd.DataFrame(
        {
            "doc_id": list(texts),
            "text": [texts[k] for k in texts],
            "lang": ["en"] * 4,
            "source": ["t"] * 4,
            "n_chars": [len(texts[k]) for k in texts],
        }
    )
    pq.write_table(pa.Table.from_pandas(pdf), os.path.join(d, "documents.parquet"))

    got = {
        r.doc_id: (r.n_chars, r.covered_chars, r.dup_ppm)
        for r in reg["dedup_substring_coverage"].fn(spark, d).collect()
    }

    # brute force: a position is covered iff some 40-gram through it
    # occurs >= 2 times corpus-wide
    from collections import Counter

    grams = Counter()
    for t in texts.values():
        for i in range(len(t) - 39):
            grams[t[i:i + 40]] += 1
    want = {}
    for k, t in texts.items():
        covered = set()
        for i in range(len(t) - 39):
            if grams[t[i:i + 40]] >= 2:
                covered.update(range(i, i + 40))
        if covered:
            want[k] = (len(t), len(covered), len(covered) * 10**6 // len(t))
    assert got == want
    assert 1 in got and 2 in got and 3 in got and 4 not in got


def test_grand_total_on_empty_restores_lattice_row(spark):
    """SQL-standard CUBE/ROLLUP emits the () grouping set even over
    zero input rows; Spark's Expand emits nothing. The filler row must
    appear EXACTLY when the source is empty — and never duplicate the
    real grand-total row when it is not."""
    from emma_spark.operators.rollup import grand_total_on_empty

    src = spark.range(10).select(
        (F.col("id") % 2).cast("string").alias("k"),
        F.col("id").alias("v"),
    )
    filler = lambda: [
        F.lit(None).cast("string").alias("k"),
        F.lit(0).cast("bigint").alias("n"),
        F.lit(None).cast("bigint").alias("s"),
    ]
    agg = lambda d: d.cube("k").agg(
        F.count(F.lit(1)).alias("n"), F.sum("v").alias("s")
    )
    nonempty = grand_total_on_empty(agg(src), src, filler()).collect()
    # 2 detail groups + 1 real grand total, no filler
    assert len(nonempty) == 3
    totals = [r for r in nonempty if r["k"] is None]
    assert len(totals) == 1 and totals[0]["n"] == 10 and totals[0]["s"] == 45

    empty = src.filter(F.lit(False))
    rows = grand_total_on_empty(agg(empty), empty, filler()).collect()
    assert len(rows) == 1
    assert rows[0]["k"] is None and rows[0]["n"] == 0 and rows[0]["s"] is None


def test_quarantine_invalid_json_split(spark):
    """quarantine_invalid_json enforces the JSON quarantine
    contract at the ingest boundary: corrupt documents (malformed /
    non-object / duplicate-keyed / NULL) route to the dead-letter
    leg; both legs partition the input exactly."""
    from emma_spark.llm.text import quarantine_invalid_json

    rows = [
        (1, '{"k": 1}'),            # valid object
        (2, '{"a": {"b": [1]}}'),   # valid nested object
        (3, "  \t{\n}"),            # whitespace-led empty object
        (4, "42"),                  # top-level number
        (5, "[1, 2]"),              # top-level array
        (6, '"str"'),               # top-level string
        (7, '{"a":1,"a":2}'),       # duplicate keys (VARIANT rejects)
        (8, "{"),                   # malformed
        (9, ""),                    # empty string
        (10, None),                 # NULL document
    ]
    df = spark.createDataFrame(rows, "id long, props string")
    valid, quarantine = quarantine_invalid_json(df, "props")
    assert {r.id for r in valid.collect()} == {1, 2, 3}
    assert {r.id for r in quarantine.collect()} == {4, 5, 6, 7, 8, 9, 10}

    # require_object=False admits top-level scalars/arrays (still
    # valid JSON) but keeps malformed / duplicate-keyed / NULL out
    valid2, quar2 = quarantine_invalid_json(df, "props", require_object=False)
    assert {r.id for r in valid2.collect()} == {1, 2, 3, 4, 5, 6}
    assert {r.id for r in quar2.collect()} == {7, 8, 9, 10}
