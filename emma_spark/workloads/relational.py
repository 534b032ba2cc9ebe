"""Relational operator corpus (SURVEY §2.2-§2.6, §2.8 'free gains').

Every query: DataBag/DataFrame plan on the left, ANSI-SQL oracle on the
right, identical output column names (the driver hashes values with
columns sorted by name). Double-typed aggregates are rounded on BOTH
sides so IEEE summation-order differences between engines can't flip
the hash.

Scale notes are attached per query: the plans are written for the
1000-executor / 100 TB case (broadcast hints on dims, partial aggs,
no driver materialization), even though the harness runs them at
sf0.01/sf0.1.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..core import DataBag
from ..llm.text import ascii_lower, WS_RE
from ..functions import alg
from ..operators import rollup as RU
from ..plans.cache import pin
from ..sources import io
from . import (
    _nonfinite,
    corr_mask,
    qsum,
    qsum_sql,
    query,
    rd,
    rd_sql,
    skew_mask,
    sum_long_exact,
)


def T(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataBag]:
    return io.load_tables(spark, sf_dir, *names)


# ----------------------------------------------------------------------
# §2.2 monad ops
# ----------------------------------------------------------------------
@query(
    "map_project",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           floor(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 10000 + 0.5) / 10000 AS net
    FROM lineitem
    """,
)
def map_project(spark, sf_dir):
    """map -> Column projection (api/DataBag.scala:76; native-op path
    SparkSpecializeOps.scala:36-130). Narrow, no shuffle."""
    li = T(spark, sf_dir, "lineitem")["lineitem"]
    return li.map(
        lambda x: {
            "l_orderkey": x.l_orderkey,
            "l_linenumber": x.l_linenumber,
            "net": rd(x.l_extendedprice * (1 - x.l_discount) * (1 + x.l_tax), 4),
        }
    ).df


@query(
    "filter_pushdown",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM orders
    WHERE o_orderstatus = 'O' AND o_totalprice > 150000
    """,
)
def filter_pushdown(spark, sf_dir):
    """withFilter (api/DataBag.scala:93); both predicates reach the
    parquet scan as PushedFilters."""
    o = T(spark, sf_dir, "orders")["orders"]
    return (
        o.filter(lambda x: (x.o_orderstatus == "O") & (x.o_totalprice > 150000))
        .select("o_orderkey", "o_totalprice")
        .df
    )


@query(
    "flatmap_wordcount",
    oracle=f"""
    SELECT word, count(*) AS n FROM (
      SELECT unnest(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '{WS_RE}+')) AS word
      FROM documents
    ) WHERE word != '' GROUP BY word
    """,
    headline=True,
)
def flatmap_wordcount(spark, sf_dir):
    """WordCount — the reference's canonical program
    (emma-examples/.../text/WordCount.scala:25-36): flatMap(split) ->
    filter -> foldGroup(Size). Map-side partial agg keeps the shuffle
    tiny regardless of corpus size."""
    docs = T(spark, sf_dir, "documents")["documents"]
    return (
        docs.flat_map(lambda x: F.split(ascii_lower(x.text), WS_RE + "+"))
        .filter(lambda x: x.value != "")
        .group_by(lambda x: {"word": x.value})
        .agg(alg.Size(name="n"))
        .df
    )


# ----------------------------------------------------------------------
# §2.5 set ops
# ----------------------------------------------------------------------
@query(
    "union_all_bag",
    oracle="""
    SELECT l_orderkey, l_linenumber FROM lineitem WHERE l_discount > 0.05
    UNION ALL
    SELECT l_orderkey, l_linenumber FROM lineitem WHERE l_quantity > 30
    """,
)
def union_all_bag(spark, sf_dir):
    """Bag union keeps duplicates (api/DataBag.scala:112-122) — rows in
    both branches appear twice."""
    li = T(spark, sf_dir, "lineitem")["lineitem"]
    a = li.filter(lambda x: x.l_discount > 0.05).select("l_orderkey", "l_linenumber")
    b = li.filter(lambda x: x.l_quantity > 30).select("l_orderkey", "l_linenumber")
    return a.union(b).df


@query(
    "distinct_pairs",
    oracle="SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
)
def distinct_pairs(spark, sf_dir):
    """distinct (api/DataBag.scala:133) — partial-agg dedup before shuffle."""
    li = T(spark, sf_dir, "lineitem")["lineitem"]
    return li.select("l_returnflag", "l_linestatus").distinct().df


@query(
    "intersect_all",
    oracle="""
    SELECT c_nationkey FROM customer WHERE c_acctbal > 1000
    INTERSECT ALL
    SELECT c_nationkey FROM customer WHERE c_mktsegment = 'BUILDING'
    """,
)
def intersect_all(spark, sf_dir):
    """Multiset intersect — SURVEY §2.5 free gain."""
    c = T(spark, sf_dir, "customer")["customer"]
    a = c.filter(lambda x: x.c_acctbal > 1000).select("c_nationkey")
    b = c.filter(lambda x: x.c_mktsegment == "BUILDING").select("c_nationkey")
    return a.intersect(b).df


@query(
    "except_all",
    oracle="""
    SELECT c_nationkey FROM customer WHERE c_acctbal > 1000
    EXCEPT ALL
    SELECT c_nationkey FROM customer WHERE c_mktsegment = 'BUILDING'
    """,
)
def except_all(spark, sf_dir):
    c = T(spark, sf_dir, "customer")["customer"]
    a = c.filter(lambda x: x.c_acctbal > 1000).select("c_nationkey")
    b = c.filter(lambda x: x.c_mktsegment == "BUILDING").select("c_nationkey")
    return a.subtract(b).df


# ----------------------------------------------------------------------
# §2.3 joins
# ----------------------------------------------------------------------
@query(
    "cross_product",
    oracle="SELECT r_name, n_name FROM region CROSS JOIN nation",
)
def cross_product(spark, sf_dir):
    """cross (MatchCross, Combination.scala:340-367). Only sane with a
    broadcast-size side — Catalyst plans BroadcastNestedLoopJoin."""
    t = T(spark, sf_dir, "region", "nation")
    return t["region"].cross(t["nation"]).select("r_name", "n_name").df


@query(
    "join_equi",
    oracle="""
    SELECT o_orderkey, o_totalprice, c_name FROM orders
    JOIN customer ON o_custkey = c_custkey
    """,
)
def join_equi(spark, sf_dir):
    """equiJoin (MatchEquiJoin, Combination.scala:723-777). Shuffle-hash
    on key; at scale both sides hash-partition on custkey."""
    t = T(spark, sf_dir, "orders", "customer")
    return (
        t["orders"]
        .equi_join(t["customer"], "o_custkey", "c_custkey")
        .select("o_orderkey", "o_totalprice", "c_name")
        .df
    )


@query(
    "join_multiway_revenue",
    oracle="""
    SELECT n_name, sum(floor(l_extendedprice * (1 - l_discount) * 10000 + 0.5)) / 10000 AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY n_name
    """,
    headline=True,
)
def join_multiway_revenue(spark, sf_dir):
    """5-way join cascade (reference: 5-way comprehension joins,
    GraphPreprocessing.scala:34-46) — TPC-H Q5 shape. nation/region are
    broadcast (dim tables). Revenue is PRE-AGGREGATED per orderkey
    BEFORE the fact-fact join (Catalyst does not push aggregates
    through joins): the orderkey exchange then carries one row per
    order instead of every lineitem, and at 100 TB that same exchange
    is exactly the partitioning the orders join needs — one reused
    shuffle of ~4× fewer rows. Quantized cents keep the two-level sum
    exact. Catalyst reorders the rest freely."""
    t = T(spark, sf_dir, "lineitem", "orders", "customer", "nation", "region")
    li_cents = t["lineitem"].group_by(["l_orderkey"]).agg(
        alg.Expr(
            F.sum(F.floor(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000 + F.lit(0.5))),
            name="cents",
        )
    )
    return (
        li_cents
        .equi_join(t["orders"], "l_orderkey", "o_orderkey")
        .equi_join(t["customer"], "o_custkey", "c_custkey")
        .equi_join(t["nation"].broadcast(), "c_nationkey", "n_nationkey")
        .equi_join(t["region"].broadcast(), "n_regionkey", "r_regionkey")
        .group_by(["n_name"])
        .agg(alg.Expr(F.sum("cents") / 10000, name="revenue"))
        .df
    )


@query(
    "join_theta_range",
    oracle="""
    SELECT s_name, c_name FROM supplier JOIN customer
    ON s_nationkey = c_nationkey AND c_acctbal > s_acctbal + 4000
    """,
)
def join_theta_range(spark, sf_dir):
    """Theta join = equi part + non-equi residual (MatchFilter,
    Combination.scala:125-145). The equi conjunct keeps it a hash join
    with the range predicate as post-join filter — NOT a cartesian."""
    t = T(spark, sf_dir, "supplier", "customer")
    return (
        t["supplier"]
        .theta_join(
            t["customer"],
            lambda s, c: (s.s_nationkey == c.c_nationkey) & (c.c_acctbal > s.s_acctbal + 4000),
        )
        .select("s_name", "c_name")
        .df
    )


@query(
    "join_composite_key",
    oracle="""
    SELECT a.l_orderkey, a.l_linenumber, b.l_quantity AS qty2
    FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_linenumber = b.l_linenumber
    """,
)
def join_composite_key(spark, sf_dir):
    """Composite-key self-join (conjunction fusion into one tuple key,
    MatchCollectEqualityGuards Combination.scala:598-658; self-join
    aliasing SparkNtv.scala:79-82)."""
    li = T(spark, sf_dir, "lineitem")["lineitem"]
    return (
        li.equi_join(li, ["l_orderkey", "l_linenumber"])
        .select(
            F.col("l.l_orderkey").alias("l_orderkey"),
            F.col("l.l_linenumber").alias("l_linenumber"),
            F.col("r.l_quantity").alias("qty2"),
        )
        .df
    )


@query(
    "join_left_outer",
    oracle="""
    SELECT c_custkey, o_orderkey FROM customer
    LEFT JOIN orders ON c_custkey = o_custkey
    """,
)
def join_left_outer(spark, sf_dir):
    """Outer join — absent in the reference (SURVEY §2.3), noted there
    as a missing capability (ClickCountDiffs.scala:40-47 comment)."""
    t = T(spark, sf_dir, "customer", "orders")
    return (
        t["customer"]
        .equi_join(t["orders"], "c_custkey", "o_custkey", how="left")
        .select("c_custkey", "o_orderkey")
        .df
    )


@query(
    "join_full_outer",
    oracle="""
    SELECT coalesce(c.c_custkey, o.o_custkey) AS custkey,
           c.c_acctbal, o.n_orders
    FROM (SELECT * FROM customer WHERE c_acctbal > 0) c
    FULL OUTER JOIN (
      SELECT o_custkey, count(*) AS n_orders FROM orders
      WHERE o_totalprice > 150000 GROUP BY o_custkey
    ) o ON c.c_custkey = o.o_custkey
    """,
)
def join_full_outer(spark, sf_dir):
    """Full outer join — absent in the reference (SURVEY §2.3 free gain);
    its only outer-join-like construct is MutableBag's internal
    right-outer merge (SparkMutableBag.scala:41-44). Each side is
    restricted so BOTH null branches occur: positive-balance customers
    without big orders (null n_orders) and negative-balance customers
    with big orders (null c_acctbal). Aggregating the fact side BEFORE
    the join (partial agg + one shuffle on o_custkey) keeps the outer
    join key-unique on both sides — at 100 TB this is agg-then-join,
    never join-then-agg."""
    t = T(spark, sf_dir, "customer", "orders")
    per_cust = (
        t["orders"]
        .filter(lambda x: x.o_totalprice > 150000)
        .group_by(lambda x: {"o_custkey": x.o_custkey})
        .agg(alg.Size(name="n_orders"))
    )
    pos = t["customer"].filter(lambda x: x.c_acctbal > 0)
    joined = pos.equi_join(per_cust, "c_custkey", "o_custkey", how="full")
    return joined.df.select(
        F.coalesce(F.col("c_custkey"), F.col("o_custkey")).alias("custkey"),
        F.col("c_acctbal"),
        F.col("n_orders"),
    )


@query(
    "join_semi",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 200000)
    """,
)
def join_semi(spark, sf_dir):
    """Semi join — reference expresses it as exists+cross
    (BaseCodegenIntegrationSpec.scala:127-139); first-class here."""
    t = T(spark, sf_dir, "customer", "orders")
    big = t["orders"].filter(lambda x: x.o_totalprice > 200000)
    return (
        t["customer"]
        .equi_join(big, "c_custkey", "o_custkey", how="left_semi")
        .select("c_custkey", "c_name")
        .df
    )


@query(
    "join_anti",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def join_anti(spark, sf_dir):
    t = T(spark, sf_dir, "customer", "orders")
    return (
        t["customer"]
        .equi_join(t["orders"], "c_custkey", "o_custkey", how="left_anti")
        .select("c_custkey", "c_name")
        .df
    )


@query(
    "join_broadcast",
    oracle="""
    SELECT n_name, sum(floor(s_acctbal * 10000 + 0.5)) / 10000 AS total_bal FROM supplier
    JOIN nation ON s_nationkey = n_nationkey GROUP BY n_name
    """,
)
def join_broadcast(spark, sf_dir):
    """Explicit broadcast hint (SparkNtv.broadcast, SparkNtv.scala:88-97)
    — dim side ships to every executor, no shuffle of the fact side."""
    t = T(spark, sf_dir, "supplier", "nation")
    return (
        t["supplier"]
        .equi_join(t["nation"].broadcast(), "s_nationkey", "n_nationkey")
        .group_by(["n_name"])
        .agg(alg.Expr(qsum(F.col("s_acctbal"), 4), name="total_bal"))
        .df
    )


# ----------------------------------------------------------------------
# §2.4 grouping & folds
# ----------------------------------------------------------------------
@query(
    "groupby_agg_pricing",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           sum(floor(l_quantity * 10000 + 0.5)) / 10000                 AS sum_qty,
           sum(floor(l_extendedprice * 10000 + 0.5)) / 10000            AS sum_base,
           sum(floor(l_extendedprice * (1 - l_discount) * 10000 + 0.5)) / 10000 AS sum_disc,
           sum(floor(l_quantity * 10000 + 0.5)) / 10000 / count(*)      AS avg_qty,
           sum(floor(l_discount * 1000000 + 0.5)) / 1000000 / count(*)  AS avg_disc,
           count(*)                                                     AS cnt
    FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
    headline=True,
)
def groupby_agg_pricing(spark, sf_dir):
    """TPC-H Q1 shape: foldGroup with multi-aggregate fusion — six
    aggregates, ONE pass (Alg2..Alg22 product algebras + FoldForestFusion,
    native in Spark's hash agg with map-side partials)."""
    li = T(spark, sf_dir, "lineitem")["lineitem"]
    return (
        li.filter(lambda x: x.l_shipdate <= F.lit("1998-09-02").cast("timestamp"))
        .group_by(["l_returnflag", "l_linestatus"])
        .agg(
            alg.Expr(qsum(F.col("l_quantity"), 4), name="sum_qty"),
            alg.Expr(qsum(F.col("l_extendedprice"), 4), name="sum_base"),
            alg.Expr(qsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4), name="sum_disc"),
            alg.Expr(qsum(F.col("l_quantity"), 4) / F.count(F.lit(1)), name="avg_qty"),
            alg.Expr(qsum(F.col("l_discount"), 6) / F.count(F.lit(1)), name="avg_disc"),
            alg.Size(name="cnt"),
        )
        .df
    )


@query(
    "groupby_nest",
    oracle="""
    SELECT n_nationkey, string_agg(s_name, ',' ORDER BY s_name) AS values
    FROM nation JOIN supplier ON n_nationkey = s_nationkey
    GROUP BY n_nationkey
    """,
)
def groupby_nest(spark, sf_dir):
    """Group materialization Group(key, DataBag[A]) (api/DataBag.scala:106)
    — the ONLY operator that materializes a group; fold paths never do.
    The nested bag is serialized to a sorted joined string for the
    driver's hasher (pandas canonicalization can't factorize array
    cells); the true array-of-struct ``nest`` contract is covered by
    tests/test_core.py."""
    t = T(spark, sf_dir, "nation", "supplier")
    j = t["nation"].equi_join(t["supplier"], "n_nationkey", "s_nationkey")
    return (
        j.df.groupBy("n_nationkey")
        .agg(F.array_join(F.sort_array(F.collect_list("s_name")), ",").alias("values"))
    )


@query(
    "groupby_having",
    oracle="""
    SELECT o_custkey, count(*) AS n_orders, sum(floor(o_totalprice * 10000 + 0.5)) / 10000 AS spend
    FROM orders GROUP BY o_custkey
    HAVING count(*) >= 12
    """,
)
def groupby_having(spark, sf_dir):
    o = T(spark, sf_dir, "orders")["orders"]
    return (
        o.group_by(["o_custkey"])
        .having(
            lambda x: x.n_orders >= 12,
            alg.Size(name="n_orders"),
            alg.Expr(qsum(F.col("o_totalprice"), 4), name="spend"),
        )
        .df
    )


@query(
    "fold_product_user_alg",
    oracle="""
    SELECT l_orderkey,
           -- the Fold contract: fold over PRESENT values, empty fold =
           -- the zero seed (collect_list drops NULLs engine-side)
           CASE WHEN count(l_quantity) = 0 THEN '1'
                ELSE CAST(list_reduce(
                       list(CAST(l_quantity AS HUGEINT))
                         FILTER (l_quantity IS NOT NULL),
                       (a, b) -> a * b) AS VARCHAR) END AS prod_qty,
           count(*) AS n,
           CAST(coalesce(sum(CAST(l_quantity * l_quantity AS BIGINT)), 0)
                AS BIGINT) AS sum_sq
    FROM lineitem WHERE l_linenumber <= 5
    GROUP BY l_orderkey
    """,
)
def fold_product_user_alg(spark, sf_dir):
    """Product fold (api/DataBag.scala:274-284, Alg.scala:127-131) plus a
    user monoid Alg (zero=0, init=x*x, plus=+ — the reference's universal
    ``fold(zero)(init, plus)`` consumer, api/DataBag.scala:59-63), fused
    with Size into ONE hash-agg pass. l_linenumber is NOT unique per
    order in the driver data (groups reach 12 rows), so the product can
    exceed 2^53 and a double product would be rounding- and
    partition-order-dependent; both the fold and the oracle therefore
    multiply in EXACT wide-integer arithmetic (decimal(38,0) here,
    HUGEINT in DuckDB) and emit the digits as a string. The user-Alg
    Fold path materializes a per-group array via collect_list — bounded
    by the l_linenumber filter; sum_sq accumulates in exact bigint."""
    li = T(spark, sf_dir, "lineitem")["lineitem"]
    dec = "decimal(38,0)"
    return (
        li.filter(lambda x: x.l_linenumber <= 5)
        .group_by(lambda x: {"l_orderkey": x.l_orderkey})
        .agg(
            alg.Fold(
                zero=F.lit(1).cast(dec),
                init=lambda x: x.cast(dec),
                plus=lambda a, b: a * b,
                e="l_quantity",
                name="prod_qty",
            ),
            alg.Size(name="n"),
            alg.Fold(
                zero=0,
                init=lambda x: (x * x).cast("bigint"),
                plus=lambda a, b: a + b,
                e="l_quantity",
                name="sum_sq",
            ),
        )
        .df.withColumn("prod_qty", F.col("prod_qty").cast("string"))
    )


@query(
    "fold_histogram_pandas_udaf",
    oracle="""
    SELECT l_returnflag,
           count(CASE WHEN l_quantity <= 10 THEN 1 END) AS b0,
           count(CASE WHEN l_quantity > 10 AND l_quantity <= 20 THEN 1 END) AS b1,
           count(CASE WHEN l_quantity > 20 AND l_quantity <= 30 THEN 1 END) AS b2,
           count(CASE WHEN l_quantity > 30 AND l_quantity <= 40 THEN 1 END) AS b3,
           count(CASE WHEN l_quantity > 40 THEN 1 END) AS b4
    FROM lineitem GROUP BY l_returnflag
    """,
)
def fold_histogram_pandas_udaf(spark, sf_dir):
    """foldGroup with a genuinely NON-columnar user algebra — the
    pandas-UDAF fallback (GroupedBag.py_fold): accumulator is a Python
    5-bin histogram vector, init one-hots the bin, plus adds
    elementwise (the reference's arbitrary ``fold(zero)(init, plus)``,
    api/DataBag.scala:59-63, which Column ``F.aggregate`` can't express
    for ragged/vector accumulators). Arrow-batched applyInPandas,
    one key shuffle."""

    def init(q):
        # TOTAL over doubles (NaN and ±inf included): the oracle's CASE
        # chain routes NaN and +inf to b4 (both engines compare NaN
        # greater than any number) and -inf to b0; int() of a
        # non-finite raises, so branch before converting
        b = [0] * 5
        if q != q or q == float("inf"):  # NaN (NaN != NaN in Python) or +inf
            i = 4
        elif q == float("-inf"):
            i = 0
        else:
            i = min(max(int((q - 1) // 10), 0), 4)
        b[i] += 1
        return b

    li = T(spark, sf_dir, "lineitem")["lineitem"]
    return li.group_by(["l_returnflag"]).py_fold(
        zero=[0] * 5,
        init=init,
        plus=lambda a, b: [x + y for x, y in zip(a, b)],
        e="l_quantity",
        result_schema="b0 bigint, b1 bigint, b2 bigint, b3 bigint, b4 bigint",
        finish=tuple,
    ).df


@query(
    "fold_reduce_option",
    oracle="""
    SELECT max(l_quantity) AS ro_max,
           -- data-honest emptiness probe: the sub-zero bag is only
           -- empty when no negative quantities exist (-inf rows in
           -- the fuzz corpus DO land in it — a hardcoded TRUE broke
           -- there, r8 inf fuzz)
           count(CASE WHEN l_quantity < 0 THEN 1 END) = 0
             AS ro_empty_is_none,
           -- count(l_quantity), not count(*): the Python fold runs
           -- over PRESENT values (a NULL is an absent bag element)
           count(l_quantity) AS n,
           -- int-sum over FINITE values only + an explicit poison-row
           -- count: CAST(NaN AS BIGINT) is an error in both engines,
           -- so a total fold must route non-finite elements to a
           -- counter instead of the integer sum (r8 NaN/inf fuzz —
           -- the complete-with-poison-report pattern a 100TB job
           -- needs instead of aborting)
           CAST(sum(CASE WHEN isfinite(l_quantity)
                    THEN CAST(l_quantity AS BIGINT) END) AS BIGINT)
             AS sum_qty,
           count(CASE WHEN NOT isfinite(l_quantity) THEN 1 END)
             AS n_nonfinite
    FROM lineitem
    """,
)
def fold_reduce_option(spark, sf_dir):
    """reduceOption parity (api/DataBag.scala:245-246, Alg.scala:71-75):
    zero-less combine -> value on a non-empty bag, None on an empty
    one (encoded as a BOOLEAN — an all-NULL double column defeats the
    driver's hasher; the None-on-empty value contract itself is
    pytest-covered); plus the two-level Python-monoid global fold
    (DataBag.fold_py: per-partition Arrow partials, driver merge over
    <=#partitions accumulators) computing (count, integer-sum) in one
    pass."""
    import math

    li = T(spark, sf_dir, "lineitem")["lineitem"]
    ro_max = li.reduce_option(lambda a, b: F.greatest(a, b), e="l_quantity")
    ro_empty = li.filter(lambda x: x.l_quantity < 0).reduce_option(
        lambda a, b: F.greatest(a, b), e="l_quantity"
    )
    n, sq, bad = li.fold_py(
        zero=(0, 0, 0),
        # TOTAL init (NaN and ±inf included): finite values feed the exact
        # integer sum, non-finite PRESENT elements are counted, never
        # int()-cast (which raises) and never silently dropped
        init=lambda q: (1, int(q), 0) if math.isfinite(q) else (1, 0, 1),
        plus=lambda a, b: (a[0] + b[0], a[1] + b[1], a[2] + b[2]),
        e="l_quantity",
    )
    return spark.createDataFrame(
        # SQL sum over zero (finite) rows is NULL, a fold's zero is 0
        [(ro_max, ro_empty is None, n, sq if n - bad > 0 else None, bad)],
        schema="ro_max double, ro_empty_is_none boolean, n bigint, "
               "sum_qty bigint, n_nonfinite bigint",
    )


@query(
    "fold_global",
    oracle="""
    SELECT count(*) AS cnt,
           sum(floor(l_quantity * 10000 + 0.5)) / 10000 AS sum_qty,
           min(l_extendedprice) AS min_price,
           max(l_extendedprice) AS max_price,
           count(CASE WHEN l_discount > 0.05 THEN 1 END) AS n_disc,
           max(l_quantity > 49) AS any_big,
           min(l_quantity > 0)  AS all_pos
    FROM lineitem
    """,
)
def fold_global(spark, sf_dir):
    """Global fold forest: size/sum/min/max/count(p)/exists/forall in one
    pass (api/DataBag.scala:216-315) — single-row result."""
    li = T(spark, sf_dir, "lineitem")["lineitem"]
    return li.df.agg(
        F.count(F.lit(1)).alias("cnt"),
        qsum(F.col("l_quantity"), 4).alias("sum_qty"),
        F.min("l_extendedprice").alias("min_price"),
        F.max("l_extendedprice").alias("max_price"),
        F.count_if(F.col("l_discount") > 0.05).alias("n_disc"),
        F.max(F.col("l_quantity") > 49).alias("any_big"),
        F.min(F.col("l_quantity") > 0).alias("all_pos"),
    )


@query(
    "fold_minmax_struct_ordering",
    oracle="""
    WITH ranked AS (
      SELECT l_returnflag, l_quantity, l_extendedprice,
             -- explicit NULLS: Spark struct comparison treats a NULL
             -- field as SMALLEST (first under ASC, last under DESC)
             row_number() OVER (PARTITION BY l_returnflag
                                ORDER BY l_quantity NULLS FIRST,
                                         l_extendedprice NULLS FIRST) AS rmin,
             row_number() OVER (PARTITION BY l_returnflag
                                ORDER BY l_quantity DESC NULLS LAST,
                                         l_extendedprice DESC NULLS LAST)
               AS rmax
      FROM lineitem
    )
    SELECT a.l_returnflag,
           a.l_quantity AS min_qty, a.l_extendedprice AS min_price,
           b.l_quantity AS max_qty, b.l_extendedprice AS max_price
    FROM ranked a JOIN ranked b
      ON a.l_returnflag IS NOT DISTINCT FROM b.l_returnflag
     AND a.rmin = 1 AND b.rmax = 1
    """,
)
def fold_minmax_struct_ordering(spark, sf_dir):
    """min/max by an arbitrary composite Ordering
    (api/DataBag.scala:255-266: ``min``/``max`` take ``Ordering[A]`` —
    here the lexicographic tuple order on (quantity, extendedprice)).
    Spark structs compare lexicographically by field, so the fold is a
    plain one-pass ``F.min/F.max`` over a struct — no window, no sort;
    the oracle cross-checks with explicit rank-1 rows. Ties are
    value-identical, so both formulations are deterministic."""
    li = T(spark, sf_dir, "lineitem")["lineitem"]
    pair = F.struct(F.col("l_quantity"), F.col("l_extendedprice"))
    out = li.group_by(["l_returnflag"]).agg(
        alg.Min(pair, name="__mn", raise_on_empty=False),
        alg.Max(pair, name="__mx", raise_on_empty=False),
    )
    return out.df.select(
        "l_returnflag",
        F.col("__mn.l_quantity").alias("min_qty"),
        F.col("__mn.l_extendedprice").alias("min_price"),
        F.col("__mx.l_quantity").alias("max_qty"),
        F.col("__mx.l_extendedprice").alias("max_price"),
    )


@query(
    "rollup_orders",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, count(*) AS n,
           sum(floor(o_totalprice * 10000 + 0.5)) / 10000 AS total
    FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)
def rollup_orders(spark, sf_dir):
    """Grouping sets — absent in the reference (SURVEY §2.4 free gain).
    The () grouping set survives empty input (count 0, NULL sum — the
    SQL-standard lattice row Spark's Expand drops on an empty scan)."""
    o = T(spark, sf_dir, "orders")["orders"]
    res = (
        o.df.rollup("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"), qsum(F.col("o_totalprice"), 4).alias("total"))
    )
    return RU.grand_total_on_empty(res, o.df, [
        F.lit(None).cast("string").alias("o_orderstatus"),
        F.lit(None).cast("string").alias("o_orderpriority"),
        F.lit(0).cast("bigint").alias("n"),
        F.lit(None).cast("double").alias("total"),
    ])


@query(
    "cube_lineitem",
    oracle="""
    SELECT l_returnflag, l_linestatus, count(*) AS n
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def cube_lineitem(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")["lineitem"]
    res = li.df.cube("l_returnflag", "l_linestatus").agg(F.count(F.lit(1)).alias("n"))
    return RU.grand_total_on_empty(res, li.df, [
        F.lit(None).cast("string").alias("l_returnflag"),
        F.lit(None).cast("string").alias("l_linestatus"),
        F.lit(0).cast("bigint").alias("n"),
    ])


# ----------------------------------------------------------------------
# §2.7 window functions (new capability vs reference)
# ----------------------------------------------------------------------
@query(
    "window_topn_per_group",
    oracle="""
    SELECT c_custkey, o_orderkey, o_totalprice FROM (
      SELECT o_custkey AS c_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders
    ) WHERE rn <= 2
    """,
    headline=True,
)
def window_topn_per_group(spark, sf_dir):
    """Top-N per group — the reference's 'max per group then join back'
    pattern (DirectorsMuses.scala:44-60) via one window pass instead of
    agg+self-join. Deterministic tie-break on the key."""
    o = T(spark, sf_dir, "orders")["orders"]
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .select(F.col("o_custkey").alias("c_custkey"), "o_orderkey", "o_totalprice")
    )


@query(
    "window_running_sum",
    oracle="""
    SELECT o_custkey, o_orderkey,
           sum(floor(o_totalprice * 10000 + 0.5)) OVER (
             PARTITION BY o_custkey
             ORDER BY o_orderdate NULLS FIRST, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / 10000 AS running
    FROM orders
    """,
)
def window_running_sum(spark, sf_dir):
    o = T(spark, sf_dir, "orders")["orders"]
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.df.select(
        "o_custkey", "o_orderkey", (F.sum(F.floor(F.col("o_totalprice") * 10000 + F.lit(0.5))).over(w) / 10000).alias("running")
    )


@query(
    "window_rolling_30d_revenue",
    oracle="""
    SELECT o_custkey, o_orderkey,
           sum(floor(o_totalprice * 100 + 0.5)) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate
             RANGE BETWEEN INTERVAL 30 DAY PRECEDING AND CURRENT ROW
           ) / 100 AS rev_30d
    FROM orders WHERE o_custkey % 19 = 0
    """,
)
def window_rolling_30d_revenue(spark, sf_dir):
    """Time-RANGE window frame: each order's trailing-30-day revenue
    for its customer — the rolling-metric shape (retention, spend
    velocity, rate limiting) that ROWS frames cannot express when
    event spacing is irregular. Spark's rangeBetween needs a numeric
    ordering key, so the timestamp is cast to epoch seconds and the
    frame is [-30·86400, 0] — value-identical to the oracle's
    INTERVAL frame (both ends inclusive, peers-by-value). Partitioned
    by customer: no global sort; per-key frames scan bounded windows.
    Revenue summed in exact cents inside the frame."""
    o = T(spark, sf_dir, "orders")["orders"]
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").cast("long"))
        .rangeBetween(-30 * 86400, 0)
    )
    return (
        o.filter(lambda x: x.o_custkey % 19 == 0)
        .df.select(
            "o_custkey",
            "o_orderkey",
            (F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))).over(w) / 100
             ).alias("rev_30d"),
        )
    )


@query(
    "scd2_status_history",
    oracle="""
    WITH marked AS (
      SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey,
             lag(o_orderstatus) OVER (
               PARTITION BY o_custkey
               ORDER BY o_orderdate NULLS FIRST, o_orderkey
             ) AS prev_status
      FROM orders WHERE o_custkey % 23 = 0
    ), changes AS (
      SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey
      FROM marked
      WHERE prev_status IS NULL OR prev_status <> o_orderstatus
    )
    SELECT o_custkey, o_orderstatus AS status, o_orderdate AS valid_from,
           lead(o_orderdate) OVER (
             PARTITION BY o_custkey
             ORDER BY o_orderdate NULLS FIRST, o_orderkey
           ) AS valid_to,
           lead(o_orderdate) OVER (
             PARTITION BY o_custkey
             ORDER BY o_orderdate NULLS FIRST, o_orderkey
           ) IS NULL AS is_current
    FROM changes
    """,
)
def scd2_status_history(spark, sf_dir):
    """Slowly-Changing-Dimension Type-2 history build — the warehouse
    pattern that turns a change-event stream into validity intervals:
    collapse consecutive identical statuses per customer (lag !=
    current keeps only change points), then close each interval with
    the next change's timestamp (lead; NULL = still current). Both
    window passes are PARTITIONED by the dimension key with a
    deterministic (date, orderkey) order — per-key sequential work,
    no global sort, the same one-shuffle cost as any keyed window at
    100 TB. Companion to incremental_merge_upsert (which keeps only
    the latest row; this keeps the full history)."""
    o = T(spark, sf_dir, "orders")["orders"]
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    marked = (
        o.filter(lambda x: x.o_custkey % 23 == 0)
        .df.select(
            "o_custkey", "o_orderstatus", "o_orderdate", "o_orderkey",
            F.lag("o_orderstatus").over(w).alias("prev_status"),
        )
    )
    changes = marked.filter(
        F.col("prev_status").isNull()
        | (F.col("prev_status") != F.col("o_orderstatus"))
    )
    valid_to = F.lead("o_orderdate").over(w)
    return changes.select(
        "o_custkey",
        F.col("o_orderstatus").alias("status"),
        F.col("o_orderdate").alias("valid_from"),
        valid_to.alias("valid_to"),
        valid_to.isNull().alias("is_current"),
    )


@query(
    "orderby_limit",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
)
def orderby_limit(spark, sf_dir):
    """Global top-k (reference: top(n), api/DataBag.scala:334-340) as a
    bag — TakeOrderedAndProject, no full sort at scale."""
    o = T(spark, sf_dir, "orders")["orders"]
    return (
        o.order_by(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "o_totalprice")
        .df
    )


@query(
    "zip_with_index_ordered",
    oracle="""
    SELECT n_name, row_number() OVER (ORDER BY n_nationkey) - 1 AS index
    FROM nation
    """,
)
def zip_with_index_ordered(spark, sf_dir):
    """zipWithIndex (api/DataBag.scala:152-160) — oracle-checkable
    deterministic variant (indexing an explicit order). The unordered
    contract (dense unique) is covered by tests/test_core.py."""
    n = T(spark, sf_dir, "nation")["nation"]
    w = Window.orderBy("n_nationkey")
    return n.df.select("n_name", (F.row_number().over(w) - 1).cast("long").alias("index"))


# ----------------------------------------------------------------------
# §2.6 scalar expression surface
# ----------------------------------------------------------------------
@query(
    "scalar_expr_surface",
    oracle="""
    SELECT p_partkey,
           starts_with(p_name, 'part_1')                 AS sw,
           contains(p_type, 'BRASS')                     AS ct,
           (p_size IS NOT DISTINCT FROM 10)              AS nse,
           floor((p_retailprice * 0.9 + p_size % 7) * 10000 + 0.5) / 10000 AS arith,
           (NOT (p_size > 20) OR p_brand = 'Brand#13')   AS boole,
           CASE WHEN p_size < 10 THEN 'S' WHEN p_size < 30 THEN 'M' ELSE 'L' END AS bucket,
           translate(p_brand, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz')                                AS lb,
           abs(p_size - 25)                              AS ab
    FROM part
    """,
)
def scalar_expr_surface(spark, sf_dir):
    """The SparkExp node surface (SparkExp.scala:29-120): projection,
    literals, null-safe eq, ordering, boolean algebra, arithmetic,
    startsWith/contains — plus the lambda-fallback funcs the examples
    use (lower/abs/case, SURVEY §2.6)."""
    p = T(spark, sf_dir, "part")["part"]
    return p.map(
        lambda x: {
            "p_partkey": x.p_partkey,
            "sw": x.p_name.startswith("part_1"),
            "ct": x.p_type.contains("BRASS"),
            "nse": x.p_size.eqNullSafe(10),
            "arith": rd(x.p_retailprice * 0.9 + x.p_size % 7, 4),
            "boole": ~(x.p_size > 20) | (x.p_brand == "Brand#13"),
            "bucket": F.when(x.p_size < 10, "S").when(x.p_size < 30, "M").otherwise("L"),
            "lb": ascii_lower(x.p_brand),
            "ab": F.abs(x.p_size - 25),
        }
    ).df


# ----------------------------------------------------------------------
# events: sessionization + time windows (batch analogs of streaming ops)
# ----------------------------------------------------------------------
@query(
    "events_sessionize",
    oracle="""
    WITH gaps AS (
      SELECT user_id, ts,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTE OR
                  lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ), sess AS (
      SELECT user_id,
             CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      FROM gaps
    )
    SELECT user_id, session_id, count(*) AS n_events
    FROM sess GROUP BY user_id, session_id
    """,
)
def events_sessionize(spark, sf_dir):
    """Sessionization (30-min inactivity gap) via lag + running sum —
    the batch shape of a session window; single shuffle on user_id
    serves both windows AND the final aggregation."""
    e = T(spark, sf_dir, "events")["events"]
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wrun = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    new_sess = F.when(
        F.lag("ts").over(w).isNull()
        # exact-microsecond gap: the oracle compares ts - lag(ts) >
        # INTERVAL 30 MINUTE at full precision; a second-floored diff
        # disagrees in the 1800.0-1801.0s band
        | (
            F.expr("unix_micros(ts)") - F.lag(F.expr("unix_micros(ts)")).over(w)
            > 1800000000
        ),
        1,
    ).otherwise(0)
    return (
        e.df.withColumn("new_session", new_sess)
        .withColumn("session_id", F.sum("new_session").over(wrun))
        .groupBy("user_id", "session_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


# there is no events_tumbling_hourly: it would duplicate
# stream_tumbling_counts' oracle (same grouping, same aggregate) and
# hyper_rollup_daily covers batch time-bucket aggregation — one driver
# slot freed for a never-checked query.


# ----------------------------------------------------------------------
# §2.3 comprehension-derived joins (the reference's core mechanism)
@query(
    "comprehension_join_derivation",
    oracle="""
    SELECT n_name AS nation, count(*) AS big_orders
    FROM orders JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE o_totalprice > 150000
    GROUP BY n_name
    """,
)
def comprehension_join_derivation(spark, sf_dir):
    """Joins DERIVED from multi-generator comprehension guards — the
    reference's core query mechanism (no join in the user API; equality
    guards -> equi-joins via the Combination.scala:723-777 cascade,
    rebuilt in plans/comprehension.py). The range guard stays a filter;
    Catalyst broadcasts the dims."""
    from ..plans.comprehension import comprehension

    t = T(spark, sf_dir, "orders", "customer", "nation")
    joined = (
        comprehension(o=t["orders"], c=t["customer"], n=t["nation"])
        .where(lambda x: x.o.o_custkey == x.c.c_custkey)
        .where(lambda x: x.c.c_nationkey == x.n.n_nationkey)
        .where(lambda x: x.o.o_totalprice > 150000)
        .select(lambda x: {"nation": x.n.n_name})
    )
    return joined.group_by(["nation"]).agg(alg.Size(name="big_orders")).df


@query(
    "asof_forward_conversion",
    oracle="""
    WITH c AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
    ), p AS (
      SELECT user_id, ts, min_by(value, event_id) AS value
      -- value IS NOT NULL: Spark min_by keeps a NULL value at the
      -- argmin row where DuckDB arg_min skips it (events fuzz); a
      -- value-less purchase is not an attributable conversion
      FROM events WHERE event_type = 'purchase' AND value IS NOT NULL
      GROUP BY user_id, ts
    ), j AS (
      SELECT c.event_id, c.user_id, c.ts AS c_ts, p.ts AS p_ts, p.value
      FROM c ASOF LEFT JOIN p
        ON c.user_id = p.user_id AND c.ts <= p.ts
    )
    SELECT event_id, user_id,
           CASE WHEN epoch(p_ts) - epoch(c_ts) <= 7200
                THEN floor(value * 10000 + 0.5) / 10000 END AS value_right,
           CASE WHEN epoch(p_ts) - epoch(c_ts) <= 7200 THEN p_ts END
             AS ts_right
    FROM j
    """,
)
def asof_forward_conversion(spark, sf_dir):
    """FORWARD as-of join with tolerance (operators/asof.py
    direction='forward'): each click attaches the next purchase by the
    same user within 2 hours — the conversion-window attribution
    shape. The right side is deduplicated per (user, ts) with a
    deterministic min_by pick first, because an as-of match among
    equal timestamps is otherwise engine-arbitrary. Oracle is
    DuckDB's NATIVE ASOF LEFT JOIN — a genuinely independent
    implementation of the operator (merge-based) validating this
    engine's union+window formulation; same one-shuffle cost as a
    sort-merge join, no pair materialization."""
    e = io.read_parquet(spark, f"{sf_dir}/events.parquet").df
    clicks = e.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purch = (
        e.filter(
            (F.col("event_type") == "purchase")
            & F.col("value").isNotNull()
        )
        .groupBy("user_id", "ts")
        .agg(F.min_by("value", "event_id").alias("value"))
    )
    from ..operators.asof import asof_join

    out = asof_join(
        clicks, purch, on="user_id", ts="ts", right_cols=["value"],
        tolerance_seconds=7200, direction="forward",
    )
    return out.select(
        "event_id",
        "user_id",
        (F.floor(F.col("value_right") * 10000 + F.lit(0.5)) / 10000).alias(
            "value_right"
        ),
        "ts_right",
    )


@query(
    "asof_join_purchases",
    oracle="""
    SELECT p.user_id, p.event_id AS pid,
           (SELECT max(c.ts) FROM events c
            WHERE c.event_type = 'click' AND c.user_id = p.user_id
              AND c.ts <= p.ts) AS click_ts
    FROM events p WHERE p.event_type = 'purchase'
    """,
)
def asof_join_purchases(spark, sf_dir):
    """As-of join (operators/asof.py): each purchase gets the user's
    most recent prior click. union + ONE (key)-shuffle + running
    last(ignorenulls) window — never materializes the quadratic
    pair space a naive range join would."""
    from ..operators.asof import asof_join

    ev = T(spark, sf_dir, "events")["events"].df
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("pid")
    )
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts")
    return asof_join(purchases, clicks, on="user_id", ts="ts").select(
        "user_id", "pid", F.col("ts_right").alias("click_ts")
    )


@query(
    "mutable_bag_update",
    oracle="""
    WITH old AS (
      SELECT o_custkey AS key, sum(floor(o_totalprice * 100 + 0.5)) / 100 AS val
      FROM orders WHERE o_orderdate < DATE '1996-01-01' GROUP BY 1
    ), msgs AS (
      SELECT o_custkey AS key, sum(floor(o_totalprice * 100 + 0.5)) / 100 AS val
      FROM orders WHERE o_orderdate >= DATE '1996-01-01' GROUP BY 1
    )
    SELECT key, val FROM (
      SELECT coalesce(o.key, m.key) AS key,
             CASE WHEN m.val IS NULL THEN o.val
                  ELSE coalesce(o.val, 0) + m.val END AS val
      FROM old o FULL OUTER JOIN msgs m ON o.key = m.key
    )
    -- MutableBag's Option contract: a NULL value means "entry
    -- absent" (seed rows with NULL val are never inserted; a NULL
    -- merge result means "don't insert") — an all-NULL-measure
    -- corpus otherwise diverges on whether NULL-valued keys exist
    WHERE val IS NOT NULL
    """,
)
def mutable_bag_update(spark, sf_dir):
    """MutableBag.update (state.py; api/MutableBag.scala:28-44): keyed
    state seeded with pre-1996 customer spend, one upsert round of 1996+
    spend, final snapshot. Full-outer-join merge — one key shuffle per
    update, state never on the driver."""
    from ..state import MutableBag

    o = T(spark, sf_dir, "orders")["orders"].df
    spend = lambda pred: (
        o.filter(pred)
        .groupBy(F.col("o_custkey").alias("key"))
        .agg(qsum(F.col("o_totalprice"), 2).alias("val"))
    )
    cut = F.col("o_orderdate") < "1996-01-01"
    mb = MutableBag(spend(cut))
    mb.update(spend(~cut), lambda k, old, msg: F.coalesce(old, F.lit(0.0)) + msg)
    return mb.bag().df


@query(
    "sample_reservoir",
    oracle="""
    SELECT c_custkey, c_name FROM (
      SELECT c_custkey, c_name,
             CAST(concat('0x', substr(md5(concat_ws(chr(31),
                  coalesce(CAST(c_custkey AS VARCHAR), chr(1)),
                  coalesce(c_name, chr(1)), '7')), 1, 14)) AS BIGINT) AS __h
      FROM customer ORDER BY __h LIMIT 25
    )
    """,
)
def sample_reservoir(spark, sf_dir):
    """Deterministic k-sample (core.py DataBag.sample;
    api/DataBag.scala:139-150): bottom-k by a seeded PORTABLE md5
    content hash — same result for a given multiset under ANY
    partitioning (stronger than the reference's per-materialization
    reservoir, SparkRDD.scala:86-107) and reproducible by the DuckDB
    oracle bit-for-bit. Only k rows reach the driver. The bag is
    projected to string/int columns first so the stringified row is
    engine-stable (double formatting is not)."""
    c = T(spark, sf_dir, "customer")["customer"].map(
        lambda x: {"c_custkey": x.c_custkey, "c_name": x.c_name}
    )
    rows = c.sample(25, seed=7)
    return spark.createDataFrame(rows, c.df.schema)


@query(
    "click_count_diffs",
    oracle="""
    WITH daily AS (
      SELECT user_id, ts::DATE AS day, count(*) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT c.user_id, c.day, abs(c.n - p.n) AS diff
    FROM daily c JOIN daily p
      ON c.user_id = p.user_id AND c.day = p.day + INTERVAL 1 DAY
    """,
)
def click_count_diffs(spark, sf_dir):
    """ClickCountDiffs (emma-examples/.../ClickCountDiffs.scala:21-52):
    per-key daily counts diffed against the previous day. The reference
    loops over per-day files re-joining each iteration; Spark-first this
    is ONE aggregation + ONE self-equi-join on (user, day-1) — the same
    two-shuffle plan at any number of days, vs N joins in the loop."""
    e = T(spark, sf_dir, "events")["events"]
    daily = (
        e.df.groupBy("user_id", F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    c, p = daily.alias("c"), daily.alias("p")
    return c.join(
        p,
        (F.col("c.user_id") == F.col("p.user_id"))
        & (F.col("c.day") == F.date_add(F.col("p.day"), 1)),
    ).select(
        F.col("c.user_id").alias("user_id"),
        F.col("c.day").alias("day"),
        F.abs(F.col("c.n") - F.col("p.n")).alias("diff"),
    )


@query(
    "csv_roundtrip_agg",
    oracle="""
    SELECT n_regionkey, count(*) AS n, CAST(sum(n_nationkey) AS BIGINT) AS key_sum
    FROM nation GROUP BY n_regionkey
    """,
)
def csv_roundtrip_agg(spark, sf_dir):
    """CSV sink + typed source round-trip (io.write_csv/read_csv;
    api/DataBag.scala:173,417; io/csv/CSV.scala:23-55): nation is
    written to CSV with headers and read back with an explicit schema,
    then aggregated — hash-matching the oracle on the ORIGINAL parquet
    proves the codec loses nothing."""
    n = T(spark, sf_dir, "nation")["nation"]
    path = io.scratch_dir("emma_csv_rt_") + "/nation"
    n.write_csv(path)
    back = io.read_csv(spark, path, schema=n.df.schema, header=True)
    return (
        back.df.groupBy("n_regionkey")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("n_nationkey").alias("key_sum"))
    )


@query(
    "range_join_price_bands",
    oracle="""
    WITH bands(band, lo, hi) AS (VALUES
      ('b0', 0, 100000), ('b1', 50000, 150000),
      ('b2', 100000, 200000), ('b3', 150000, 600000))
    SELECT band, count(*) AS n,
           sum(floor(o_totalprice * 100 + 0.5)) / 100 AS total
    FROM orders JOIN bands ON o_totalprice >= lo AND o_totalprice <= hi
    GROUP BY band
    """,
)
def range_join_price_bands(spark, sf_dir):
    """Range join (operators/range.py): orders against OVERLAPPING
    price bands — bucketized to an equi-join on bucket id (one hash
    join, no BroadcastNestedLoopJoin), exact predicate re-checked after.
    Overlap means some orders match two bands: the bucket scheme still
    emits each (order, band) pair exactly once."""
    from ..operators.range import range_join

    o = T(spark, sf_dir, "orders")["orders"].df.select("o_orderkey", "o_totalprice")
    bands = spark.createDataFrame(
        [("b0", 0, 100000), ("b1", 50000, 150000),
         ("b2", 100000, 200000), ("b3", 150000, 600000)],
        "band string, lo int, hi int",
    )
    joined = range_join(o, bands, "o_totalprice", "lo", "hi", bucket_width=50000)
    return joined.groupBy("band").agg(
        F.count(F.lit(1)).alias("n"), qsum(F.col("o_totalprice"), 2).alias("total")
    )


@query(
    "agg_distinct_counts",
    oracle="""
    SELECT l_returnflag,
           count(DISTINCT l_partkey) AS parts,
           count(DISTINCT l_suppkey) AS supps,
           count(*) AS n
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_distinct_counts(spark, sf_dir):
    """Distinct aggregates (SURVEY §2.4 free gain — absent in the
    reference, which only has bag-level distinct). Spark plans multiple
    count(DISTINCT) via expand + two-phase aggregate — partial dedup
    before the shuffle, no row explosion reaching the driver."""
    li = T(spark, sf_dir, "lineitem")["lineitem"]
    return li.df.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("parts"),
        F.countDistinct("l_suppkey").alias("supps"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "skew_salted_join_agg",
    oracle="""
    SELECT o_orderpriority, count(*) AS n,
           sum(floor(l_extendedprice * 100 + 0.5)) / 100 AS price_sum
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
)
def skew_salted_join_agg(spark, sf_dir):
    """Salted skew join (operators/skew.py): left keys get a random
    salt in [0, factor), the build side is exploded factor times, and
    the join runs on (key, salt) — a hot key's rows spread over factor
    reducers instead of one. The oracle is the PLAIN join: salting must
    be result-invariant."""
    from ..operators.skew import salted_join

    t = T(spark, sf_dir, "lineitem", "orders")
    li = t["lineitem"].df.select("l_orderkey", "l_extendedprice")
    o = t["orders"].df.select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    joined = salted_join(li, o, "l_orderkey", factor=8)
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        qsum(F.col("l_extendedprice"), 2).alias("price_sum"),
    )


@query(
    "directors_muses_shape",
    oracle="""
    WITH per_cust AS (
      SELECT c_nationkey, o_custkey, count(*) AS n_orders
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_nationkey, o_custkey
    ), eligible AS (
      SELECT c_nationkey FROM per_cust
      GROUP BY c_nationkey HAVING count(*) >= 20
    )
    SELECT p.c_nationkey, p.o_custkey, p.n_orders
    FROM per_cust p JOIN eligible e ON p.c_nationkey = e.c_nationkey
    QUALIFY row_number() OVER (
      PARTITION BY p.c_nationkey
      ORDER BY p.n_orders DESC, p.o_custkey ASC) = 1
    """,
)
def directors_muses_shape(spark, sf_dir):
    """DirectorsMuses shape (emma-examples/.../imdb/DirectorsMuses.scala:
    24-75): join -> two-level grouped agg -> having-style filter ->
    argmax per group. The reference computes per-group max then joins
    back; Spark-first it's ONE ranking window over the aggregated rows
    (deterministic tiebreak on custkey) — the c_nationkey shuffle is
    reused by the aggregate, the having filter, and the window."""
    t = T(spark, sf_dir, "orders", "customer")
    per_cust = (
        t["orders"].df
        .join(t["customer"].df, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_nationkey", "o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    eligible = (
        per_cust.groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n_cust"))
        .filter(F.col("n_cust") >= 20)
        .select("c_nationkey")
    )
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("n_orders").desc(), F.col("o_custkey").asc()
    )
    return (
        per_cust.join(eligible, "c_nationkey")
        .withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") == 1)
        .drop("__rk")
    )


@query(
    "hyper_rollup_daily",
    oracle="""
    SELECT date_trunc('day', ts) AS bucket_ts, event_type,
           count(*) AS n,
           sum(floor(value * 1000000 + 0.5)) / 1000000 AS v_sum,
           -- quantized min/max: the Spark side quantizes value BEFORE
           -- the rollup, and floor-quantization is monotonic, so
           -- min(quantized) == quantized(min) — raw min(value) would
           -- diverge on sub-microunit values (r6 events fuzz)
           floor(min(value) * 1000000 + 0.5) / 1000000 AS v_min,
           floor(max(value) * 1000000 + 0.5) / 1000000 AS v_max
    FROM events GROUP BY 1, 2
    """,
)
def hyper_rollup_daily(spark, sf_dir):
    """Hypertable rollup (operators/rollup.py): the DAILY level is
    re-aggregated from the HOURLY level's partials (sum-of-sums,
    min-of-mins, ...), never rescanning raw rows — at 100 TB the daily
    pass reads |hours x keys| rows instead of the event stream. The
    oracle aggregates raw directly: partial merging must be exact."""
    from ..operators.rollup import hyper_rollup

    e = T(spark, sf_dir, "events")["events"].df.select(
        "ts", "event_type", (F.floor(F.col("value") * 1000000 + F.lit(0.5)) / 1000000).alias("value")
    )
    levels = hyper_rollup(e, "ts", ["event_type"], "value", buckets=["hour", "day"])
    d = levels["day"]
    return d.select(
        F.col("bucket_ts").cast("date").alias("bucket_ts"), "event_type", "n",
        (F.floor(F.col("v_sum") * 1000000 + F.lit(0.5)) / 1000000).alias("v_sum"),
        "v_min", "v_max",
    )


_Q3_SQL = """
SELECT l_orderkey,
       sum(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5)) / 100 AS revenue,
       o_orderdate, o_orderpriority
FROM customer JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1995-03-15'
  AND l_shipdate > TIMESTAMP '1995-03-15'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderdate, l_orderkey
LIMIT 10
"""


@query("sql_entry_q3_shape", oracle=_Q3_SQL)
def sql_entry_q3_shape(spark, sf_dir):
    """The SQL entry point (core.sql): bags registered as temp views and
    queried with ANSI SQL — TPC-H Q3 shape (shipping priority). The
    ORACLE IS THE SAME SQL STRING run by DuckDB: one text, two engines.
    Views are plan aliases, so the segment filter and date predicates
    push into the parquet scans; the revenue sum is per-row quantized
    for cross-engine determinism; deterministic ORDER BY tie-breaks
    make the LIMIT stable."""
    from ..core import sql as bag_sql

    t = T(spark, sf_dir, "customer", "orders", "lineitem")
    return bag_sql(
        spark, _Q3_SQL,
        customer=t["customer"], orders=t["orders"], lineitem=t["lineitem"],
    ).df


@query(
    "agg_percentiles",
    oracle="""
    SELECT o_orderpriority,
           floor(quantile_cont(o_totalprice, 0.5) * 10000 + 0.5) / 10000 AS p50,
           floor(quantile_cont(o_totalprice, 0.9) * 10000 + 0.5) / 10000 AS p90,
           count(*) AS n
    FROM orders GROUP BY o_orderpriority
    """,
)
def agg_percentiles(spark, sf_dir):
    """Exact per-group percentiles (median / p90 order value) — both
    engines use the same linear-interpolation definition
    (rank = p·(n−1) over the sorted group), so the values agree to the
    4dp quantization. At 100 TB swap ``F.percentile`` for
    ``F.approx_percentile`` (bounded-state KLL-style sketch) — exact
    percentiles need a per-group sort; the approximate form keeps the
    same call shape."""
    o = T(spark, sf_dir, "orders")["orders"]
    return o.df.groupBy("o_orderpriority").agg(
        rd(F.percentile(F.col("o_totalprice"), F.lit(0.5)), 4).alias("p50"),
        rd(F.percentile(F.col("o_totalprice"), F.lit(0.9)), 4).alias("p90"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "comprehension_composite_theta",
    oracle="""
    SELECT a.l_orderkey, a.l_linenumber AS ln_a, b.l_linenumber AS ln_b,
           CAST(a.l_quantity + b.l_quantity AS BIGINT) AS qty_sum
    FROM lineitem a JOIN lineitem b
      -- IS NOT DISTINCT FROM: the comprehension's `==` is the
      -- reference's Scala VALUE equality (null == null), which the
      -- engine lowers to eqNullSafe whether the guard becomes a join
      -- key or a filter — SQL `=` would silently drop NULL-key pairs
      ON a.l_orderkey = b.l_orderkey
     AND a.l_suppkey IS NOT DISTINCT FROM b.l_suppkey
     AND a.l_linenumber < b.l_linenumber
    """,
)
def comprehension_composite_theta(spark, sf_dir):
    """Comprehension-derived SELF-join with a fused COMPOSITE key and a
    residual theta guard — the three hardest Combination.scala rules in
    one query: two equality guards linking the same generator pair fuse
    into one (orderkey, suppkey) composite join key
    (MatchCollectEqualityGuards :598-658 → MatchEquiJoin :723-777); the
    `<` guard is non-equality, so it stays a post-join filter
    (MatchFilter :125-145); and both generators share lineage, so the
    lowering's side-alias namespace does the self-join column refresh
    (SparkNtv.scala:79-82). ONE hash join on the composite key — never
    a cartesian."""
    from ..plans.comprehension import comprehension

    li = T(spark, sf_dir, "lineitem")["lineitem"]
    pairs = (
        comprehension(a=li, b=li)
        .where(lambda x: x.a.l_orderkey == x.b.l_orderkey)
        .where(lambda x: x.a.l_suppkey == x.b.l_suppkey)
        .where(lambda x: x.a.l_linenumber < x.b.l_linenumber)
        .select(
            lambda x: {
                "l_orderkey": x.a.l_orderkey,
                "ln_a": x.a.l_linenumber,
                "ln_b": x.b.l_linenumber,
                "qty_sum": (x.a.l_quantity + x.b.l_quantity).cast("bigint"),
            }
        )
    )
    return pairs.df


@query(
    "pivot_status_by_priority",
    oracle="""
    SELECT o_orderpriority,
           count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS F,
           count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS O,
           count(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS P,
           sum(CASE WHEN o_orderstatus = 'F'
                    THEN floor(o_totalprice * 100 + 0.5) END) / 100 AS F_total
    FROM orders GROUP BY o_orderpriority
    """,
)
def pivot_status_by_priority(spark, sf_dir):
    """Pivot (wide aggregation) — absent in the reference, a Spark free
    gain: `groupBy().pivot(col, values).agg(...)` compiles to the same
    conditional-aggregate pass the oracle spells out (one shuffle,
    map-side partials; the explicit value list avoids the extra
    distinct-values job AND keeps the schema static, which is what you
    want at 100 TB)."""
    o = T(spark, sf_dir, "orders")["orders"]
    wide = (
        o.df.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(
            F.count(F.lit(1)).alias("n"),
            qsum(F.col("o_totalprice"), 2).alias("total"),
        )
    )
    return wide.select(
        "o_orderpriority",
        F.coalesce(F.col("F_n"), F.lit(0)).alias("F"),
        F.coalesce(F.col("O_n"), F.lit(0)).alias("O"),
        F.coalesce(F.col("P_n"), F.lit(0)).alias("P"),
        F.col("F_total"),
    )


@query(
    "array_hof_surface",
    oracle="""
    SELECT l_orderkey,
           coalesce(array_to_string(list_transform(qs, x -> x * 2), ','), '') AS doubled,
           coalesce(array_to_string(list_filter(qs, x -> x > 25), ','), '')   AS big,
           CAST(coalesce(list_sum(qs), 0) AS BIGINT)                          AS total,
           coalesce(array_to_string(list_sort(qs), ','), '')                  AS sorted_qs,
           len(qs)                                              AS n,
           list_max(qs)                                         AS mx
    FROM (
      -- FILTER: Spark collect_list drops NULL elements; an all-NULL
      -- group's empty fold is the seed 0, where list_sum([]) is NULL.
      -- coalesce to a typed EMPTY list: DuckDB's list() over zero
      -- included rows is NULL where collect_list is [] — len and
      -- list_max must see the empty list (len(NULL) is NULL while
      -- Spark's size([]) is 0)
      SELECT l_orderkey,
             coalesce(list_sort(list(CAST(l_quantity AS BIGINT))
                                FILTER (l_quantity IS NOT NULL)),
                      CAST([] AS BIGINT[])) AS qs
      FROM lineitem WHERE l_orderkey % 97 = 0 GROUP BY l_orderkey
    )
    """,
)
def array_hof_surface(spark, sf_dir):
    """Array higher-order-function surface (transform / filter /
    aggregate / sort / size / array_max) over per-order quantity
    arrays — the Column-expression machinery every llm/ operator is
    built from, exercised directly against DuckDB's list_* twins.
    Arrays built sorted so the bag→array order is engine-independent.
    Array-typed outputs are serialized to ','-joined strings
    (``concat_ws`` / ``array_to_string``) so every output column is a
    scalar that external pandas-based canonicalizers can hash/sort —
    array cells break pandas-based compares (unhashable ``list``)."""
    li = T(spark, sf_dir, "lineitem")["lineitem"]
    base = (
        li.filter(lambda x: x.l_orderkey % 97 == 0)
        .group_by(["l_orderkey"])
        .agg(alg.Expr(F.sort_array(F.collect_list(F.col("l_quantity").cast("bigint"))), name="qs"))
    )
    qs = F.col("qs")
    return base.df.select(
        "l_orderkey",
        F.array_join(F.transform(qs, lambda x: x * 2).cast("array<string>"), ",").alias("doubled"),
        F.array_join(F.filter(qs, lambda x: x > 25).cast("array<string>"), ",").alias("big"),
        F.aggregate(qs, F.lit(0).cast("bigint"), lambda a, x: a + x).alias("total"),
        F.array_join(F.sort_array(qs).cast("array<string>"), ",").alias("sorted_qs"),
        F.size(qs).alias("n"),
        F.array_max(qs).alias("mx"),
    )


@query(
    "unpivot_quantities",
    oracle="""
    SELECT l_orderkey, l_linenumber, 'qty' AS measure, l_quantity AS val
    FROM lineitem WHERE l_orderkey % 199 = 0
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'discount', l_discount
    FROM lineitem WHERE l_orderkey % 199 = 0
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'tax', l_tax
    FROM lineitem WHERE l_orderkey % 199 = 0
    """,
)
def unpivot_quantities(spark, sf_dir):
    """Unpivot / melt (wide → long) — `DataFrame.unpivot` compiles to
    an Expand node: one narrow pass emitting 3 rows per input, no
    shuffle, no self-union scan triplication (the oracle's UNION ALL
    spells out the semantics; Spark reads the table once)."""
    li = T(spark, sf_dir, "lineitem")["lineitem"]
    return (
        li.filter(lambda x: x.l_orderkey % 199 == 0)
        .df.unpivot(
            ["l_orderkey", "l_linenumber"],
            [F.col("l_quantity").alias("qty"),
             F.col("l_discount").alias("discount"),
             F.col("l_tax").alias("tax")],
            "measure", "val",
        )
    )


@query(
    "json_extract_fields",
    oracle="""
    WITH j AS (
      SELECT o_orderkey,
             '{"status": "' || o_orderstatus || '", "price": '
               || CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) || '}' AS doc
      FROM orders WHERE o_orderkey % 131 = 0
    )
    SELECT o_orderkey,
           json_extract_string(doc, '$.status') AS status,
           CAST(json_extract_string(doc, '$.price') AS BIGINT) AS price_cents
    FROM j
    """,
)
def json_extract_fields(spark, sf_dir):
    """Semi-structured surface: JSON documents (built with portable
    string concat so both engines parse IDENTICAL bytes) parsed with
    ``from_json`` against an explicit schema — schema-on-read stays a
    Column expression, no Python. DuckDB twin uses json_extract on the
    same documents."""
    o = T(spark, sf_dir, "orders")["orders"]
    doc = F.concat(
        F.lit('{"status": "'), F.col("o_orderstatus"),
        F.lit('", "price": '),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint").cast("string"),
        F.lit("}"),
    )
    parsed = (
        o.filter(lambda x: x.o_orderkey % 131 == 0)
        .df.select("o_orderkey", doc.alias("doc"))
        .select(
            "o_orderkey",
            F.from_json(F.col("doc"), "status string, price bigint").alias("j"),
        )
    )
    return parsed.select(
        "o_orderkey",
        F.col("j.status").alias("status"),
        F.col("j.price").alias("price_cents"),
    )


@query(
    "datetime_ops_surface",
    oracle="""
    SELECT event_id,
           CAST(year(ts) AS INT) AS y, CAST(month(ts) AS INT) AS m,
           CAST(day(ts) AS INT) AS d, CAST(hour(ts) AS INT) AS h,
           CAST(ts AS DATE) + INTERVAL 30 DAY AS plus30,
           CAST(date_trunc('day', ts) AS TIMESTAMP) AS day_start,
           CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS epoch_s
    FROM events WHERE event_id % 211 = 0
    """,
)
def datetime_ops_surface(spark, sf_dir):
    """Temporal scalar surface (the reference's ``java.time.Instant``
    values, SURVEY §1.2 / Marketing.scala:33): extract fields, date
    arithmetic, truncation, epoch conversion — all Column expressions
    with exact cross-engine semantics (no locale-dependent ops like
    day-of-week numbering)."""
    e = T(spark, sf_dir, "events")["events"]
    ts = F.col("ts")
    return (
        e.filter(lambda x: x.event_id % 211 == 0)
        .df.select(
            "event_id",
            F.year(ts).alias("y"), F.month(ts).alias("m"),
            F.dayofmonth(ts).alias("d"), F.hour(ts).alias("h"),
            F.date_add(ts.cast("date"), 30).cast("timestamp").alias("plus30"),
            F.date_trunc("day", ts).alias("day_start"),
            # NOT unix_timestamp(): it truncates toward ZERO, so on a
            # pre-1970 fractional timestamp it lands one second LATE
            # of the calendar second (-1295401 vs -1295402 — found by
            # the epoch-straddle fuzz tier); date_trunc('second')
            # floors calendar-wise on both engines, then the div over
            # integral microseconds is exact
            F.expr("unix_micros(date_trunc('second', ts)) div 1000000")
             .alias("epoch_s"),
        )
    )


@query(
    "map_ops_surface",
    oracle="""
    WITH m AS (
      SELECT o_custkey,
             map(list(o_orderstatus ORDER BY o_orderstatus),
                 list(cnt ORDER BY o_orderstatus)) AS status_counts
      FROM (SELECT o_custkey, o_orderstatus, count(*) AS cnt
            FROM orders WHERE o_orderstatus IS NOT NULL
            GROUP BY o_custkey, o_orderstatus)
      GROUP BY o_custkey
    )
    SELECT o_custkey,
           coalesce(map_extract(status_counts, 'F')[1], 0) AS f_cnt,
           coalesce(map_extract(status_counts, 'O')[1], 0) AS o_cnt,
           len(map_keys(status_counts)) AS n_statuses
    FROM m
    """,
)
def map_ops_surface(spark, sf_dir):
    """MapType surface (the reference's ``Map[K, V]`` model columns,
    SURVEY §1.2): build a per-customer status→count map with
    map_from_entries, read it back with element_at / map_keys. Maps are
    built from SORTED entry arrays and compared through extracted
    scalars, so engine-internal map ordering can't flip the hash."""
    o = T(spark, sf_dir, "orders")["orders"]
    # NULL can't be a map key (map_from_entries raises; DuckDB map()
    # likewise) — a missing status simply has no entry
    per = o.df.filter(F.col("o_orderstatus").isNotNull()).groupBy(
        "o_custkey", "o_orderstatus"
    ).agg(F.count(F.lit(1)).alias("cnt"))
    m = per.groupBy("o_custkey").agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct(F.col("o_orderstatus"), F.col("cnt"))))
        ).alias("status_counts")
    )
    sc = F.col("status_counts")
    return m.select(
        "o_custkey",
        F.coalesce(F.element_at(sc, "F"), F.lit(0)).alias("f_cnt"),
        F.coalesce(F.element_at(sc, "O"), F.lit(0)).alias("o_cnt"),
        F.size(F.map_keys(sc)).alias("n_statuses"),
    )


@query(
    "udf_arrow_scalar",
    oracle="""
    SELECT o_orderkey,
           CAST(list_sum(list_transform(string_split(CAST(o_orderkey AS VARCHAR), ''),
                                   c -> CAST(c AS BIGINT))) AS BIGINT) AS digit_sum
    FROM orders WHERE o_orderkey % 173 = 0
    """,
)
def udf_arrow_scalar(spark, sf_dir):
    """The Arrow-vectorized UDF escape hatch (functions/udf.arrow_udf;
    SURVEY §2.7 UDF surface): a pandas-batched scalar function — digit
    sum, exact integers — in an otherwise Column-only plan. The plan
    shows ArrowEvalPython (batched), never BatchEvalPython
    (row-at-a-time), which the plan-audit tests ban globally. (This
    particular function IS SQL-expressible — which is what makes it
    oracle-checkable; the hatch exists for the ones that aren't.)"""
    import pandas as pd

    from ..functions.udf import arrow_udf

    @arrow_udf("bigint")
    def digit_sum(s):
        # no type hints: the module's `from __future__ import annotations`
        # stringifies them, which pandas_udf's hint inspection rejects
        return s.astype("string").map(lambda x: sum(int(c) for c in x)).astype("int64")

    o = T(spark, sf_dir, "orders")["orders"]
    return (
        o.filter(lambda x: x.o_orderkey % 173 == 0)
        .df.select("o_orderkey", digit_sum(F.col("o_orderkey")).alias("digit_sum"))
    )


@query(
    "agg_stats_moments",
    oracle="""
    WITH d AS (
      SELECT l_returnflag,
             CASE WHEN isfinite(l_quantity) THEN l_quantity END AS q,
             CASE WHEN isfinite(l_extendedprice)
                  THEN l_extendedprice END AS p,
             (NOT isfinite(l_quantity)
              OR NOT isfinite(l_extendedprice)) AS bad
      FROM lineitem
    )
    SELECT l_returnflag,
           CASE WHEN bool_or(bad) THEN 'NaN'::DOUBLE ELSE
             floor(corr(q, p) * 10000 + 0.5) / 10000 END AS qp_corr,
           CASE WHEN bool_or(bad) THEN 'NaN'::DOUBLE ELSE
             floor(covar_pop(q, p) * 10000 + 0.5) / 10000 END AS qp_covar,
           CASE WHEN bool_or(bad) THEN 'NaN'::DOUBLE ELSE
             floor(stddev_pop(q) * 10000 + 0.5) / 10000 END AS q_stddev,
           -- DuckDB's skewness is the bias-CORRECTED sample g1; Spark's
           -- is population (m3/m2^1.5). Undo the correction factor
           -- sqrt(n(n-1))/(n-2) — the n≈6000 real-data groups hid the
           -- difference under 4dp quantization, small fuzz groups don't.
           -- n<3 → DuckDB NULL vs Spark 0.0, and zero-variance → NULL
           -- vs NaN (r7 ADVICE): both engines pin those groups to 0.
           CASE WHEN bool_or(bad) THEN 'NaN'::DOUBLE
                WHEN count(q) >= 3 AND stddev_pop(q) > 0
                THEN floor(skewness(q)
                           * (count(q) - 2)
                           / sqrt(count(q) * (count(q) - 1.0))
                           * 10000 + 0.5) / 10000
                ELSE 0.0 END AS q_skew
    FROM d GROUP BY l_returnflag
    """,
)
def agg_stats_moments(spark, sf_dir):
    """Statistical aggregate surface (corr / covariance / stddev /
    skewness) — declarative moment aggregates with map-side partials
    (the reference computes these by hand-written Alg folds,
    emma-lib/.../stats/stat.scala:23-62); both engines' moment
    formulations agree to the 4dp quantization on this data.

    POISON CONTRACT: a
    non-finite value anywhere in a group makes that group's four
    moments NaN — explicitly, on both engines. The aggregates
    themselves only ever see FINITE inputs (non-finite masked to NULL
    pre-agg): DuckDB's STDDEV_POP *raises* on a NaN input where Spark
    returns NaN, so letting the engines' native NaN handling decide
    was a one-sided oracle crash on any NaN-bearing corpus, and a
    silently engine-dependent answer besides."""
    li = T(spark, sf_dir, "lineitem")["lineitem"]
    nan = F.lit(float("nan"))
    qd = F.col("l_quantity").cast("double")
    pd_ = F.col("l_extendedprice").cast("double")
    fin_q = F.when(~_nonfinite(qd), F.col("l_quantity"))
    fin_p = F.when(~_nonfinite(pd_), F.col("l_extendedprice"))
    masked = li.df.select(
        "l_returnflag",
        fin_q.alias("q"), fin_p.alias("p"),
        (_nonfinite(qd) | _nonfinite(pd_)).alias("__bad"),
        # group-level safety decided BEFORE the agg (a CASE around the
        # aggregate cannot stop ANSI corr/skewness from dividing by a
        # zero variance — the window mask is the working mechanism;
        # partitioned by the same key, so the exchange is reused)
        corr_mask(fin_q, fin_p, ["l_returnflag"]).alias("__okc"),
        skew_mask(fin_q, ["l_returnflag"]).alias("__oks"),
    )
    q, p = F.col("q"), F.col("p")
    g = masked.groupBy("l_returnflag").agg(
        F.max("__bad").alias("__poison"),
        rd(
            F.corr(F.when(F.col("__okc"), q), F.when(F.col("__okc"), p)), 4
        ).alias("__corr"),
        rd(F.covar_pop(q, p), 4).alias("__covar"),
        rd(F.stddev_pop(q), 4).alias("__stddev"),
        F.coalesce(
            rd(F.skewness(F.when(F.col("__oks"), q)), 4), F.lit(0.0)
        ).alias("__skew"),
    )
    pz = F.col("__poison")
    return g.select(
        "l_returnflag",
        F.when(pz, nan).otherwise(F.col("__corr")).alias("qp_corr"),
        F.when(pz, nan).otherwise(F.col("__covar")).alias("qp_covar"),
        F.when(pz, nan).otherwise(F.col("__stddev")).alias("q_stddev"),
        F.when(pz, nan).otherwise(F.col("__skew")).alias("q_skew"),
    )


@query(
    "string_ops_surface",
    oracle="""
    SELECT p_partkey,
           levenshtein(p_brand, p_type)         AS lev,
           lpad(p_brand, 12, '*')               AS padded,
           reverse(p_name)                      AS rname,
           instr(p_type, 'BRASS')               AS brass_at,
           split_part(p_brand, '#', 2)          AS brand_no,
           translate(p_type, 'AEIOU', 'aeiou') AS lowered_vowels,
           left(p_name, 6)                      AS pre,
           replace(p_type, ' ', '_')            AS snake
    FROM part WHERE p_partkey % 97 = 0
    """,
)
def string_ops_surface(spark, sf_dir):
    """String-function surface beyond SparkExp's startsWith/contains
    (SURVEY §2.6): edit distance, padding, reverse, 1-based find,
    field split, character translation, prefix, replace — all
    bit-identical across engines (pure integer/codepoint semantics,
    no locale)."""
    p = T(spark, sf_dir, "part")["part"]
    return (
        p.filter(lambda x: x.p_partkey % 97 == 0)
        .df.select(
            "p_partkey",
            F.levenshtein("p_brand", "p_type").alias("lev"),
            F.lpad("p_brand", 12, "*").alias("padded"),
            F.reverse("p_name").alias("rname"),
            F.instr("p_type", "BRASS").alias("brass_at"),
            F.split_part(F.col("p_brand"), F.lit("#"), F.lit(2)).alias("brand_no"),
            F.translate("p_type", "AEIOU", "aeiou").alias("lowered_vowels"),
            F.substring("p_name", 1, 6).alias("pre"),
            F.replace(F.col("p_type"), F.lit(" "), F.lit("_")).alias("snake"),
        )
    )


@query(
    "window_rank_variants",
    oracle="""
    SELECT o_custkey, o_orderkey,
           rank()       OVER w AS rnk,
           dense_rank() OVER w AS drnk,
           ntile(4)     OVER w AS quartile,
           lag(o_orderkey)  OVER w AS prev_o,
           lead(o_orderkey) OVER w AS next_o
    FROM orders
    WHERE o_custkey % 211 = 0
    WINDOW w AS (PARTITION BY o_custkey
                 ORDER BY o_orderdate NULLS FIRST, o_orderkey)
    """,
)
def window_rank_variants(spark, sf_dir):
    """The remaining ranking/offset window functions (rank, dense_rank,
    ntile, lag, lead) over a fully deterministic order (date + key
    tie-break) — one partition-shuffle serves all five; at scale the
    o_custkey exchange is the only data movement."""
    o = T(spark, sf_dir, "orders")["orders"]
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        o.filter(lambda x: x.o_custkey % 211 == 0)
        .df.select(
            "o_custkey", "o_orderkey",
            F.rank().over(w).alias("rnk"),
            F.dense_rank().over(w).alias("drnk"),
            F.ntile(4).over(w).alias("quartile"),
            F.lag("o_orderkey").over(w).alias("prev_o"),
            F.lead("o_orderkey").over(w).alias("next_o"),
        )
    )


@query(
    "exists_correlated_q4_shape",
    oracle="""
    SELECT o_orderpriority, count(*) AS n_orders
    FROM orders o
    WHERE o_orderdate >= TIMESTAMP '1995-01-01'
      AND o_orderdate < TIMESTAMP '1995-07-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45)
    GROUP BY o_orderpriority
    """,
)
def exists_correlated_q4_shape(spark, sf_dir):
    """TPC-H Q4 shape: correlated EXISTS — the reference expresses this
    as `exists` + cross (BaseCodegenIntegrationSpec.scala:127-139);
    Spark-first it is a LEFT SEMI join with the correlation predicate
    pushed into the probe side's scan. One orderkey shuffle, probe rows
    pre-filtered before it."""
    t = T(spark, sf_dir, "orders", "lineitem")
    o = t["orders"].filter(
        lambda x: (x.o_orderdate >= "1995-01-01") & (x.o_orderdate < "1995-07-01")
    )
    big_items = t["lineitem"].filter(lambda x: x.l_quantity > 45)
    return (
        o.equi_join(big_items, "o_orderkey", "l_orderkey", how="left_semi")
        .group_by(["o_orderpriority"])
        .agg(alg.Size(name="n_orders"))
        .df
    )


@query(
    "groupby_nest_consume",
    oracle="""
    WITH nested AS (
      SELECT o_custkey, list_sort(list(o_orderkey)) AS orders_bag
      FROM orders GROUP BY o_custkey
    )
    SELECT o_custkey, unnest(orders_bag) AS o_orderkey,
           len(orders_bag) AS n_sibling
    FROM nested WHERE o_custkey % 151 = 0
    """,
)
def groupby_nest_consume(spark, sf_dir):
    """The nest path CONSUMED as a bag (Group(k, DataBag) where values
    are genuinely used as a collection, api/DataBag.scala:106): group
    materialization -> per-element context (sibling count) -> unnest
    back to rows. Sorted arrays make the bag→array order
    engine-independent; the filter keeps materialized groups bounded —
    the nest contract (see GroupedBag.nest max_group_size)."""
    o = T(spark, sf_dir, "orders")["orders"]
    nested = (
        o.filter(lambda x: x.o_custkey % 151 == 0)
        .group_by(["o_custkey"])
        .agg(alg.Expr(F.sort_array(F.collect_list("o_orderkey")), name="orders_bag"))
    )
    return nested.df.select(
        "o_custkey",
        F.explode("orders_bag").alias("o_orderkey"),
        F.size("orders_bag").alias("n_sibling"),
    )


@query(
    "orderby_limit_offset",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 10 OFFSET 10
    """,
)
def orderby_limit_offset(spark, sf_dir):
    """Pagination (LIMIT + OFFSET) over a deterministic total order —
    rows 11-20 by price. Spark's offset composes with the sorted limit
    into a single TakeOrdered-style plan (driver sees 20 rows, skips
    10), not a full sort."""
    o = T(spark, sf_dir, "orders")["orders"]
    return (
        o.order_by(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .df.offset(10).limit(10)
        .select("o_orderkey", "o_totalprice")
    )


@query(
    "q1_pricing_summary_full",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           sum(floor(l_quantity * 10000 + 0.5)) / 10000 AS sum_qty,
           sum(floor(l_extendedprice * 10000 + 0.5)) / 10000 AS sum_base_price,
           sum(floor(l_extendedprice * (1 - l_discount) * 10000 + 0.5)) / 10000 AS sum_disc_price,
           sum(floor(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 10000 + 0.5)) / 10000 AS sum_charge,
           floor(sum(floor(l_quantity * 10000 + 0.5)) / count(*) + 0.5) / 10000 AS avg_qty,
           floor(sum(floor(l_extendedprice * 10000 + 0.5)) / count(*) + 0.5) / 10000 AS avg_price,
           floor(sum(floor(l_discount * 1000000 + 0.5)) / count(*) + 0.5) / 1000000 AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary_full(spark, sf_dir):
    """The COMPLETE TPC-H Q1 pricing summary — all eight aggregates in
    one hash-agg pass (fold-forest fusion by construction): four
    quantized sums, three averages derived as exact-integer-sum /
    count (order-independent, unlike a float avg), and the row count.
    One shuffle of 4 group keys; everything else map-side."""
    li = T(spark, sf_dir, "lineitem")["lineitem"]
    qs = lambda c, s: F.sum(F.floor(c * s + F.lit(0.5)))
    n = F.count(F.lit(1))
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(lambda x: x.l_shipdate <= "1998-09-02")
        .df.groupBy("l_returnflag", "l_linestatus")
        .agg(
            (qs(F.col("l_quantity"), 10000) / 10000).alias("sum_qty"),
            (qs(F.col("l_extendedprice"), 10000) / 10000).alias("sum_base_price"),
            (qs(disc_price, 10000) / 10000).alias("sum_disc_price"),
            (qs(disc_price * (1 + F.col("l_tax")), 10000) / 10000).alias("sum_charge"),
            (F.floor(qs(F.col("l_quantity"), 10000) / n + F.lit(0.5)) / 10000).alias("avg_qty"),
            (F.floor(qs(F.col("l_extendedprice"), 10000) / n + F.lit(0.5)) / 10000).alias("avg_price"),
            (F.floor(qs(F.col("l_discount"), 1000000) / n + F.lit(0.5)) / 1000000).alias("avg_disc"),
            n.alias("count_order"),
        )
    )


# ----------------------------------------------------------------------
# TPC-H shape corpus (round 4): the remaining canonical plan shapes —
# correlated MIN, nation-pair disjunction, outer-join distribution,
# NOT-IN anti + count-distinct, correlated AVG, HAVING + top-k,
# OR-of-ANDs pushdown, anti + global-scalar subquery. Each is the
# reference's comprehension shape a user would actually write
# (SURVEY §2.3/§2.4); schemas adapted to the driver tables (no
# partsupp — lineitem is the part↔supplier link).
# ----------------------------------------------------------------------
@query(
    "q2_min_cost_supplier",
    oracle="""
    WITH cost AS (
      SELECT l_partkey, l_suppkey,
             min(floor(l_extendedprice / l_quantity * 100 + 0.5)) AS unit_c
      FROM lineitem WHERE l_quantity > 0 GROUP BY l_partkey, l_suppkey
    ), best AS (
      SELECT l_partkey, min(unit_c) AS min_c FROM cost GROUP BY l_partkey
    )
    SELECT c.l_partkey AS p_partkey, min(c.l_suppkey) AS s_suppkey,
           min(c.unit_c) / 100 AS min_unit_cost
    FROM cost c JOIN best b
      ON c.l_partkey = b.l_partkey AND c.unit_c = b.min_c
    JOIN part p ON p.p_partkey = c.l_partkey
    WHERE p.p_size >= 30
    GROUP BY c.l_partkey
    """,
)
def q2_min_cost_supplier(spark, sf_dir):
    """TPC-H Q2 shape — correlated MIN subquery (cheapest supplier per
    part) as groupBy-min + join-back, the standard decorrelation
    Catalyst itself applies to scalar subqueries. Unit cost quantized
    to integer cents BEFORE the min so the (part, min) join key is
    exact on both engines; supplier ties resolved by min suppkey.
    Scale: two partial-agg shuffles on l_partkey (the second reuses
    the first's partitioning) + a broadcast of the filtered part dim."""
    t = T(spark, sf_dir, "lineitem", "part")
    li, part = t["lineitem"].df, t["part"].df
    cents = F.floor(F.col("l_extendedprice") / F.col("l_quantity") * 100 + F.lit(0.5))
    cost = (
        li.filter(F.col("l_quantity") > 0)
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min(cents).alias("unit_c"))
    )
    best = cost.groupBy("l_partkey").agg(F.min("unit_c").alias("min_c"))
    dim = F.broadcast(part.filter(F.col("p_size") >= 30).select("p_partkey"))
    return (
        cost.join(best, ["l_partkey"])
        .filter(F.col("unit_c") == F.col("min_c"))
        .join(dim, cost["l_partkey"] == dim["p_partkey"])
        .groupBy(F.col("l_partkey").alias("p_partkey"))
        .agg(
            F.min("l_suppkey").alias("s_suppkey"),
            (F.min("unit_c") / 100).alias("min_unit_cost"),
        )
    )


@query(
    "q7_volume_shipping",
    oracle=f"""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           year(l.l_shipdate) AS l_year,
           {qsum_sql("l.l_extendedprice * (1 - l.l_discount)")} AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
    WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
       OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
    GROUP BY n1.n_name, n2.n_name, year(l.l_shipdate)
    """,
)
def q7_volume_shipping(spark, sf_dir):
    """TPC-H Q7 — volume shipping between two nations, the nation-pair
    DISJUNCTION join filter + year rollup. Plan: both nation dims and
    supplier/customer broadcast (small sides), so the only shuffles are
    the lineitem↔orders equi-join and the final 3-key agg; the pair
    predicate prunes AFTER the broadcast joins, costing nothing extra.
    The reference derives the same join tree from a 6-generator
    comprehension (Combination.scala MatchEquiJoin cascade)."""
    t = T(spark, sf_dir, "lineitem", "orders", "customer", "supplier", "nation")
    li, o = t["lineitem"].df, t["orders"].df
    n = t["nation"].df
    s = t["supplier"].df.join(
        F.broadcast(n.select(F.col("n_nationkey").alias("s_nationkey"),
                             F.col("n_name").alias("supp_nation"))),
        "s_nationkey",
    )
    c = t["customer"].df.join(
        F.broadcast(n.select(F.col("n_nationkey").alias("c_nationkey"),
                             F.col("n_name").alias("cust_nation"))),
        "c_nationkey",
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | (
        (F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1")
    )
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .filter(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(qsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
    )


@query(
    "q13_customer_distribution",
    oracle="""
    SELECT c_count, count(*) AS custdist FROM (
      SELECT c.c_custkey, count(o.o_orderkey) AS c_count
      FROM customer c LEFT JOIN orders o
        ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey
    ) GROUP BY c_count
    """,
)
def q13_customer_distribution(spark, sf_dir):
    """TPC-H Q13 — customer order-count distribution: LEFT OUTER join
    with the filter INSIDE the join condition (customers with zero
    matching orders must survive with count 0 — a WHERE would wrongly
    drop them), then a double aggregation. count(o_orderkey) counts
    non-null matches only, exactly SQL's semantics. Scale: one shuffle
    join on custkey, the second agg's key space is tiny (~distinct
    counts), so its shuffle is negligible."""
    t = T(spark, sf_dir, "customer", "orders")
    c, o = t["customer"].df, t["orders"].df
    per_cust = (
        c.join(
            o,
            (c["c_custkey"] == o["o_custkey"])
            & (o["o_orderpriority"] != "1-URGENT"),
            "left",
        )
        .groupBy(c["c_custkey"])
        .agg(F.count(o["o_orderkey"]).alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@query(
    "q16_parts_supplier_count",
    oracle="""
    SELECT p.p_brand, p.p_size, count(DISTINCT l.l_suppkey) AS supplier_cnt
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_size IN (10, 20, 30, 40)
      AND l.l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
      )
    GROUP BY p.p_brand, p.p_size
    """,
)
def q16_parts_supplier_count(spark, sf_dir):
    """TPC-H Q16 — supplier variety per (brand, size): NOT IN
    (complaint suppliers) lowered to a broadcast LEFT ANTI join (safe
    here because s_suppkey is non-null; a general NOT IN needs the
    null-aware variant), part dim broadcast, then COUNT DISTINCT.
    Scale: distinct-agg expands to a two-phase hash agg on
    (brand, size, suppkey) — partial dedup map-side, no extra
    shuffle beyond the group keys."""
    t = T(spark, sf_dir, "lineitem", "part", "supplier")
    li, p, s = t["lineitem"].df, t["part"].df, t["supplier"].df
    bad = s.filter(F.col("s_acctbal") < 0).select("s_suppkey")
    dim = p.filter(F.col("p_size").isin(10, 20, 30, 40)).select(
        "p_partkey", "p_brand", "p_size"
    )
    return (
        li.join(F.broadcast(bad), li["l_suppkey"] == bad["s_suppkey"], "left_anti")
        .join(F.broadcast(dim), li["l_partkey"] == dim["p_partkey"])
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@query(
    "q17_small_quantity_revenue",
    oracle=f"""
    WITH pq AS (
      SELECT l_partkey, sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) AS sq,
             count(*) AS n
      FROM lineitem GROUP BY l_partkey
    )
    SELECT {qsum_sql("l.l_extendedprice")} / 7 AS avg_yearly
    FROM lineitem l JOIN pq ON l.l_partkey = pq.l_partkey
    WHERE CAST(floor(l.l_quantity * 100 + 0.5) AS BIGINT) * pq.n * 5 < pq.sq
    """,
)
def q17_small_quantity_revenue(spark, sf_dir):
    """TPC-H Q17 — small-quantity order revenue: the correlated
    per-part AVG subquery (qty < 0.2·avg(qty over part)) decorrelated
    into a groupBy + join-back. The threshold compare is EXACT
    integers — qty quantized to centi-units, then q·n·5 < Σq avoids
    the float 0.2·avg both engines would round differently. Scale:
    the per-part agg reuses the join's hash partitioning on
    l_partkey; single scalar output row."""
    li = T(spark, sf_dir, "lineitem")["lineitem"].df
    qq = F.floor(F.col("l_quantity") * 100 + F.lit(0.5)).cast("bigint")
    pq = li.groupBy("l_partkey").agg(
        F.sum(qq).alias("sq"), F.count(F.lit(1)).alias("n")
    )
    return (
        li.join(pq, "l_partkey")
        .filter(qq * F.col("n") * 5 < F.col("sq"))
        .agg((qsum(F.col("l_extendedprice")) / 7).alias("avg_yearly"))
    )


@query(
    "q18_large_volume_orders",
    oracle="""
    WITH big AS (
      SELECT l_orderkey, sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) AS qty_c
      FROM lineitem GROUP BY l_orderkey
      HAVING sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) > 21000
    )
    SELECT c.c_name, o.o_orderkey, o.o_orderdate, o.o_totalprice,
           big.qty_c / 100 AS total_qty
    FROM big JOIN orders o ON big.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    ORDER BY o.o_totalprice DESC, o.o_orderkey LIMIT 10
    """,
)
def q18_large_volume_orders(spark, sf_dir):
    """TPC-H Q18 — large-volume orders: HAVING on a grouped sum, then
    dim joins and a deterministic top-10 (totalprice desc, orderkey
    tiebreak — LIMIT without a total tiebreak is nondeterministic
    across engines AND across Spark partitionings). Scale: the HAVING
    prunes before the joins so only qualifying orderkeys shuffle;
    TakeOrdered(10) never materializes the full sort."""
    t = T(spark, sf_dir, "lineitem", "orders", "customer")
    li, o, c = t["lineitem"].df, t["orders"].df, t["customer"].df
    qq = F.floor(F.col("l_quantity") * 100 + F.lit(0.5)).cast("bigint")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(qq).alias("qty_c"))
        .filter(F.col("qty_c") > 21000)
    )
    return (
        big.join(o, big["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .select(
            "c_name", "o_orderkey", "o_orderdate", "o_totalprice",
            (F.col("qty_c") / 100).alias("total_qty"),
        )
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
    )


@query(
    "q19_disjunctive_revenue",
    oracle=f"""
    SELECT {qsum_sql("l.l_extendedprice * (1 - l.l_discount)")} AS revenue
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'BRAND1' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'BRAND2' AND p.p_size BETWEEN 1 AND 25
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'BRAND3' AND p.p_size BETWEEN 1 AND 35
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
)
def q19_disjunctive_revenue(spark, sf_dir):
    """TPC-H Q19 — discounted revenue under an OR-of-ANDs predicate.
    The single-table conjuncts CAN'T all push below the join (they
    span both sides), but Catalyst factors the common
    per-side implications out of the disjunction
    (l_quantity BETWEEN 1 AND 30 pushes to the scan); the broadcast
    join keeps the disjunction evaluation map-side. One scalar row."""
    t = T(spark, sf_dir, "lineitem", "part")
    li, p = t["lineitem"].df, t["part"].df
    j = li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
    arm = lambda brand, smax, qlo, qhi: (
        (F.col("p_brand") == brand)
        & F.col("p_size").between(1, smax)
        & F.col("l_quantity").between(qlo, qhi)
    )
    return j.filter(
        arm("BRAND1", 15, 1, 11) | arm("BRAND2", 25, 10, 20) | arm("BRAND3", 35, 20, 30)
    ).agg(qsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))


@query(
    "q22_dormant_customers",
    oracle=f"""
    WITH thresh AS (
      SELECT {qsum_sql("c_acctbal", 2)} / count(*) AS avg_bal
      FROM customer WHERE c_acctbal > 0
    )
    SELECT c.c_nationkey, count(*) AS numcust,
           {qsum_sql("c.c_acctbal", 2)} AS totacctbal
    FROM customer c, thresh
    WHERE c.c_acctbal > thresh.avg_bal
      AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                      AND o.o_orderpriority = '1-URGENT')
    GROUP BY c.c_nationkey
    """,
)
def q22_dormant_customers(spark, sf_dir):
    """TPC-H Q22 — wealthy customers with no URGENT order (every
    customer in this corpus has SOME order, so the anti-join side is
    the filtered bag): a global scalar subquery (avg positive balance,
    one row — crossJoin'd, the degenerate broadcast) + LEFT ANTI join,
    grouped by nation. The scalar avg is quantized-sum / count so the threshold
    is the same double on both engines. Scale: anti join shuffles on
    custkey; the scalar side is a 1-row broadcast."""
    t = T(spark, sf_dir, "customer", "orders")
    c, o = t["customer"].df, t["orders"].df
    thresh = c.filter(F.col("c_acctbal") > 0).agg(
        (qsum(F.col("c_acctbal"), 2) / F.count(F.lit(1))).alias("avg_bal")
    )
    return (
        c.crossJoin(F.broadcast(thresh))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(
            o.filter(F.col("o_orderpriority") == "1-URGENT"),
            c["c_custkey"] == o["o_custkey"],
            "left_anti",
        )
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            qsum(F.col("c_acctbal"), 2).alias("totacctbal"),
        )
    )


@query(
    "events_funnel",
    oracle="""
    WITH v AS (
      SELECT user_id, min(ts) AS t FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ), c AS (
      SELECT e.user_id, min(e.ts) AS t
      FROM events e JOIN v ON v.user_id = e.user_id AND e.ts > v.t
      WHERE e.event_type = 'click' GROUP BY e.user_id
    ), p AS (
      SELECT e.user_id, min(e.ts) AS t
      FROM events e JOIN c ON c.user_id = e.user_id AND e.ts > c.t
      WHERE e.event_type = 'purchase' GROUP BY e.user_id
    )
    SELECT (SELECT count(*) FROM v) AS n_view,
           (SELECT count(*) FROM c) AS n_view_click,
           (SELECT count(*) FROM p) AS n_full_funnel
    """,
)
def events_funnel(spark, sf_dir):
    """Ordered funnel (view → later click → later purchase): each
    stage is a per-user MIN over events AFTER the previous stage's
    anchor — the classic behavioral-analytics shape (strictly ordered,
    not mere co-occurrence). Three user-keyed aggs; every join reuses
    the user_id hash partitioning, so one exchange serves the whole
    cascade; output is one row of stage counts."""
    ev = T(spark, sf_dir, "events")["events"].df
    # unpinned: 6 events scans at sf0.001, median ×0.99 sf0.1 / ×1.03 sf1
    v = pin(
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("vt"))
    )
    c = pin(
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("vt"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("ct"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("ct"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("pt"))
    )
    return (
        v.agg(F.count(F.lit(1)).alias("n_view"))
        .crossJoin(c.agg(F.count(F.lit(1)).alias("n_view_click")))
        .crossJoin(p.agg(F.count(F.lit(1)).alias("n_full_funnel")))
    )


@query(
    "q11_important_parts",
    oracle=f"""
    WITH pv AS (
      SELECT l_partkey,
             sum(CAST(floor(l_extendedprice * (1 - l_discount) * 10000 + 0.5)
                      AS BIGINT)) AS val_c
      FROM lineitem GROUP BY l_partkey
    ), tot AS (SELECT sum(val_c) AS total_c, count(*) AS n_parts FROM pv)
    SELECT pv.l_partkey, pv.val_c / 10000 AS part_value
    FROM pv CROSS JOIN tot
    WHERE pv.val_c * tot.n_parts * 100 > tot.total_c * 125
    """,
)
def q11_important_parts(spark, sf_dir):
    """TPC-H Q11 shape — parts whose value exceeds 1.25× the mean
    part share: per-key agg + a 1-row global agg broadcast back, with
    the threshold compare in exact integer cross-multiplied form
    (val·n_parts·100 > total·125 ⟺ val > 1.25·total/n_parts, avoiding
    the float division both engines would round differently). Scale:
    the global total is a second pass over the per-part aggregates
    (tiny), never over raw lineitem."""
    li = T(spark, sf_dir, "lineitem")["lineitem"].df
    val_c = F.sum(
        F.floor(
            F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
            + F.lit(0.5)
        ).cast("bigint")
    )
    pv = li.groupBy("l_partkey").agg(val_c.alias("val_c"))
    tot = pv.agg(
        F.sum("val_c").alias("total_c"), F.count(F.lit(1)).alias("n_parts")
    )
    return (
        pv.crossJoin(F.broadcast(tot))
        .filter(F.col("val_c") * F.col("n_parts") * 100 > F.col("total_c") * 125)
        .select("l_partkey", (F.col("val_c") / 10000).alias("part_value"))
    )


@query(
    "q20_qualified_suppliers",
    oracle="""
    WITH pl AS (
      SELECT l_suppkey, l_partkey,
             sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) AS qty_c
      FROM lineitem GROUP BY l_suppkey, l_partkey
    ), qual AS (
      SELECT DISTINCT pl.l_suppkey
      FROM pl JOIN part p ON p.p_partkey = pl.l_partkey
      WHERE p.p_size <= 5 AND pl.qty_c > 10000
    )
    SELECT s.s_suppkey, s.s_name
    FROM supplier s WHERE s.s_suppkey IN (SELECT l_suppkey FROM qual)
    """,
)
def q20_qualified_suppliers(spark, sf_dir):
    """TPC-H Q20 shape — the nested IN chain (suppliers having moved
    > 100 units of any small part) lowered to agg → dim-filter →
    LEFT SEMI join. The reference's comprehension spells this as
    exists-over-join; the Spark plan is the same two-hash-join
    pipeline with the semi side deduplicated by the join itself
    (no DISTINCT materialization)."""
    t = T(spark, sf_dir, "lineitem", "part", "supplier")
    li, p, s = t["lineitem"].df, t["part"].df, t["supplier"].df
    qq = F.floor(F.col("l_quantity") * 100 + F.lit(0.5)).cast("bigint")
    pl = li.groupBy("l_suppkey", "l_partkey").agg(F.sum(qq).alias("qty_c"))
    small = p.filter(F.col("p_size") <= 5).select("p_partkey")
    qual = (
        pl.join(F.broadcast(small), pl["l_partkey"] == small["p_partkey"])
        .filter(F.col("qty_c") > 10000)
        .select("l_suppkey")
    )
    return (
        s.join(qual, s["s_suppkey"] == qual["l_suppkey"], "left_semi")
        .select("s_suppkey", "s_name")
    )


@query(
    "agg_argmax_surface",
    oracle="""
    SELECT l_returnflag,
           arg_max(l_orderkey, CAST(floor(l_extendedprice * 10000 + 0.5) AS BIGINT)
                               * 10000000 + l_orderkey) AS top_order,
           arg_min(l_orderkey, CAST(floor(l_extendedprice * 10000 + 0.5) AS BIGINT)
                               * 10000000 - l_orderkey) AS bottom_order,
           max(floor(l_extendedprice * 10000 + 0.5)) / 10000 AS top_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_argmax_surface(spark, sf_dir):
    """arg-max/arg-min aggregates (Spark ``max_by``/``min_by`` ↔ DuckDB
    ``arg_max``/``arg_min``) — the 'row achieving the extreme' fold the
    reference writes as fold(Min/Max with Ordering on a projection)
    (Ordering section, SURVEY §2.4). Ties broken INSIDE the ordering
    key (price quantized to integer then orderkey mixed in), because
    max_by's choice among equal keys is engine-defined. The orderkey
    slot is 10^7 — wider than TPC-H's max orderkey at sf1 (6·10^6) —
    so a lower price can never outrank a higher one (a 10^5 slot
    collides); the oracle CASTs floor()'s double to
    BIGINT before the multiply because price_c·10^7 exceeds 2^53."""
    li = T(spark, sf_dir, "lineitem")["lineitem"].df
    price_c = F.floor(F.col("l_extendedprice") * 10000 + F.lit(0.5))
    return li.groupBy("l_returnflag").agg(
        F.max_by(
            F.col("l_orderkey"), price_c * 10000000 + F.col("l_orderkey")
        ).alias("top_order"),
        F.min_by(
            F.col("l_orderkey"), price_c * 10000000 - F.col("l_orderkey")
        ).alias("bottom_order"),
        (F.max(price_c) / 10000).alias("top_price"),
    )


@query(
    "grouping_sets_orders",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, count(*) AS n,
           sum(floor(o_totalprice * 100 + 0.5)) / 100 AS total
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                            (o_orderstatus), ())
    """,
)
def grouping_sets_orders(spark, sf_dir):
    """Explicit GROUPING SETS (the general form of which rollup/cube
    are special cases — SURVEY §2.4 rollup/cube row): the (status,
    priority), (status), () lattice in ONE pass — Spark expands the
    sets map-side and shares a single shuffle, vs three scans for
    three GROUP BYs."""
    o = T(spark, sf_dir, "orders")["orders"].df
    res = o.groupingSets(
        [["o_orderstatus", "o_orderpriority"], ["o_orderstatus"], []],
        "o_orderstatus", "o_orderpriority",
    ).agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))) / 100).alias(
            "total"
        ),
    )
    return RU.grand_total_on_empty(res, o, [
        F.lit(None).cast("string").alias("o_orderstatus"),
        F.lit(None).cast("string").alias("o_orderpriority"),
        F.lit(0).cast("bigint").alias("n"),
        F.lit(None).cast("double").alias("total"),
    ])


@query(
    "incremental_merge_upsert",
    oracle="""
    WITH updates AS (
      SELECT o_orderkey, o_custkey, 'X' AS o_orderstatus,
             floor(o_totalprice * 1.1 * 100 + 0.5) / 100 AS o_totalprice
      FROM orders WHERE o_orderkey % 10 = 0
    ), inserts AS (
      SELECT o_orderkey + 1000000 AS o_orderkey, o_custkey,
             'N' AS o_orderstatus, o_totalprice
      FROM orders WHERE o_orderkey % 97 = 0
    ), delta AS (
      SELECT * FROM updates UNION ALL SELECT * FROM inserts
    )
    SELECT coalesce(d.o_orderkey, s.o_orderkey) AS o_orderkey,
           coalesce(d.o_custkey, s.o_custkey) AS o_custkey,
           coalesce(d.o_orderstatus, s.o_orderstatus) AS o_orderstatus,
           coalesce(d.o_totalprice, s.o_totalprice) AS o_totalprice
    FROM (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
          FROM orders) s
    FULL JOIN delta d ON s.o_orderkey = d.o_orderkey
    """,
    headline=True,
)
def incremental_merge_upsert(spark, sf_dir):
    """MERGE / CDC upsert as a batch plan: snapshot FULL OUTER JOIN
    delta on the key, delta wins per column (update rows overwrite,
    insert rows have no snapshot match, untouched rows pass through) —
    the relational core of Delta/Iceberg MERGE INTO expressed in pure
    DataFrame ops. The delta here is derived deterministically from
    orders (10% updates with +10% price, ~1% inserts beyond the key
    space) so the oracle replays it. Scale: one key-partitioned
    shuffle join; with a sorted/bucketed snapshot the join is
    merge-without-sort, and table formats turn the same plan into
    file-level rewrites."""
    o = T(spark, sf_dir, "orders")["orders"].df.select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    updates = o.filter(F.col("o_orderkey") % 10 == 0).select(
        "o_orderkey", "o_custkey",
        F.lit("X").alias("o_orderstatus"),
        (F.floor(F.col("o_totalprice") * 1.1 * 100 + F.lit(0.5)) / 100).alias(
            "o_totalprice"
        ),
    )
    inserts = o.filter(F.col("o_orderkey") % 97 == 0).select(
        (F.col("o_orderkey") + 1000000).alias("o_orderkey"),
        "o_custkey",
        F.lit("N").alias("o_orderstatus"),
        "o_totalprice",
    )
    delta = updates.unionByName(inserts)
    s, d = o.alias("s"), delta.alias("d")
    merged = s.join(d, F.col("s.o_orderkey") == F.col("d.o_orderkey"), "full")
    pick = lambda c: F.coalesce(F.col(f"d.{c}"), F.col(f"s.{c}")).alias(c)
    return merged.select(
        pick("o_orderkey"), pick("o_custkey"),
        pick("o_orderstatus"), pick("o_totalprice"),
    )


@query(
    "fuzzy_name_pairs",
    oracle="""
    WITH n AS (SELECT DISTINCT p_name FROM part),
    b AS (SELECT p_name, split_part(p_name, ' ', 1) AS blk FROM n)
    SELECT l.p_name AS a, r.p_name AS b,
           levenshtein(l.p_name, r.p_name) AS dist
    FROM b l JOIN b r ON l.blk = r.blk AND l.p_name < r.p_name
    WHERE levenshtein(l.p_name, r.p_name) <= 3
    """,
)
def fuzzy_name_pairs(spark, sf_dir):
    """Fuzzy string matching — edit-distance pairs via attribute
    blocking: block on the first token (the adjective), verify with
    Levenshtein ≤ 3 inside each block. The equi-join on the block key
    keeps it a hash join at Σ|block|² cost; an unblocked
    levenshtein theta-join would plan the n² BNLJ. For open-ended text
    at 100 TB swap the block key for q-gram MinHash buckets
    (llm/dedup.lsh_candidate_pairs) — same plan shape, this query
    fixes the blocking so the oracle replays it exactly."""
    p = T(spark, sf_dir, "part")["part"].df
    n = p.select("p_name").distinct()
    b = n.select("p_name", F.split(F.col("p_name"), " ")[0].alias("blk"))
    l = b.select(F.col("p_name").alias("a"), F.col("blk"))
    r = b.select(F.col("p_name").alias("b"), F.col("blk").alias("blk_r"))
    return (
        l.join(r, (F.col("blk") == F.col("blk_r")) & (F.col("a") < F.col("b")))
        .withColumn("dist", F.levenshtein(F.col("a"), F.col("b")))
        .filter(F.col("dist") <= 3)
        .select("a", "b", "dist")
    )


@query(
    "graph_sssp_bounded",
    oracle="""
    WITH RECURSIVE e AS MATERIALIZED (
      SELECT n_nationkey AS src, (n_nationkey + 1) % 25 AS dst,
             1 + (n_nationkey + (n_nationkey + 1) % 25) % 5 AS w
      FROM nation
      UNION ALL
      SELECT n_nationkey, (6 * n_nationkey + 1) % 25,
             1 + (n_nationkey + (6 * n_nationkey + 1) % 25) % 5
      FROM nation
    ),
    walk(node, dist, depth) AS (
      SELECT CAST(0 AS BIGINT), CAST(0 AS BIGINT), 0
      UNION
      SELECT e.dst, walk.dist + e.w, walk.depth + 1
      FROM walk JOIN e ON walk.node = e.src
      WHERE walk.depth < 6
    )
    SELECT node AS id, min(dist) AS dist FROM walk GROUP BY node
    """,
)
def graph_sssp_bounded(spark, sf_dir):
    """Single-source shortest paths, 6 Bellman-Ford rounds over the
    weighted 25-node functional graph — after k rounds the frontier
    holds EXACTLY min-cost over ≤k-hop paths, which the oracle's
    depth-bounded walk enumeration reproduces (integer weights, so
    both engines agree bit-for-bit). The §2.8 iteration pattern with
    per-round relaxation instead of CC's label broadcast: each round
    is one join + groupBy-min, lineage cut by a pin."""
    n = T(spark, sf_dir, "nation")["nation"].df
    k = F.col("n_nationkey")
    mk = lambda d: [(k).alias("src"), d.alias("dst"), (1 + (k + d) % 5).alias("w")]
    edges = pin(
        n.select(*mk((k + 1) % 25)).unionByName(n.select(*mk((k * 6 + 1) % 25)))
    )
    dist = n.sparkSession.createDataFrame([(0, 0)], "id bigint, dist bigint")
    for _ in range(6):
        relaxed = (
            dist.join(edges, dist["id"] == edges["src"])
            .select(F.col("dst").alias("id"), (F.col("dist") + F.col("w")).alias("dist"))
        )
        dist = pin(
            dist.unionByName(relaxed).groupBy("id").agg(F.min("dist").alias("dist"))
        )
    return dist


@query(
    "q6_forecast_revenue",
    oracle=f"""
    SELECT {qsum_sql("l_extendedprice * l_discount")} AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1995-01-01'
      AND l_shipdate < TIMESTAMP '1996-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark, sf_dir):
    """TPC-H Q6 — the canonical scan-filter-aggregate: every predicate
    pushes to the parquet scan (PushedFilters carries the date range,
    discount band, quantity cap), one partial-agg'd scalar out. The
    query whole-stage codegen was built for."""
    li = T(spark, sf_dir, "lineitem")["lineitem"].df
    return (
        li.filter(
            (F.col("l_shipdate") >= "1995-01-01")
            & (F.col("l_shipdate") < "1996-01-01")
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(qsum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"))
    )


@query(
    "q8_market_share",
    oracle="""
    WITH rev AS (
      SELECT year(o.o_orderdate) AS o_year,
             CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 10000 + 0.5)
                  AS BIGINT) AS vol_c,
             n2.n_name AS supp_nation
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
      WHERE n1.n_regionkey = 1
    )
    SELECT o_year,
           floor(sum(CASE WHEN supp_nation = 'NATION_3' THEN vol_c ELSE 0 END)
                 * 1.0 / sum(vol_c) * 1000000 + 0.5) / 1000000 AS mkt_share
    FROM rev GROUP BY o_year
    """,
)
def q8_market_share(spark, sf_dir):
    """TPC-H Q8 — national market share: NATION_3's fraction of all
    supplier revenue into region 1's customers, per order year. The
    share is a conditional-sum / sum ratio of exact centi-unit
    integers (one grouped agg computes both legs — no second pass, no
    join of two aggregates). Dims broadcast; one fact shuffle."""
    t = T(spark, sf_dir, "lineitem", "orders", "customer", "supplier", "nation")
    li, o = t["lineitem"].df, t["orders"].df
    n = t["nation"].df
    cust = (
        t["customer"].df
        .join(F.broadcast(n.filter(F.col("n_regionkey") == 1)),
              F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey")
    )
    supp = (
        t["supplier"].df
        .join(F.broadcast(n.select(F.col("n_nationkey").alias("s_nk"),
                                   F.col("n_name").alias("supp_nation"))),
              F.col("s_nationkey") == F.col("s_nk"))
        .select("s_suppkey", "supp_nation")
    )
    vol_c = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000 + F.lit(0.5)
    ).cast("bigint")
    rev = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(F.year("o_orderdate").alias("o_year"),
                vol_c.alias("vol_c"), "supp_nation")
    )
    nat = F.sum(F.when(F.col("supp_nation") == "NATION_3", F.col("vol_c")).otherwise(F.lit(0)))
    return rev.groupBy("o_year").agg(
        (F.floor(nat * 1.0 / F.sum("vol_c") * 1000000 + F.lit(0.5)) / 1000000)
        .alias("mkt_share")
    )


@query(
    "q9_profit_by_nation_year",
    oracle=f"""
    SELECT n.n_name AS nation, year(o.o_orderdate) AS o_year,
           {qsum_sql("l.l_extendedprice * (1 - l.l_discount) - 10 * l.l_quantity", 4)}
             AS profit
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_name LIKE '%widget%'
    GROUP BY n.n_name, year(o.o_orderdate)
    """,
)
def q9_profit_by_nation_year(spark, sf_dir):
    """TPC-H Q9 shape — product profit by supplier nation × order
    year, restricted to a part-name LIKE family (no partsupp table in
    this corpus, so supply cost is a 10/unit proxy — the PLAN is Q9's:
    LIKE-filtered part dim broadcast, lineitem⋈orders fact shuffle,
    supplier→nation broadcast chain, two-key agg)."""
    t = T(spark, sf_dir, "lineitem", "orders", "supplier", "nation", "part")
    li, o = t["lineitem"].df, t["orders"].df
    sn = (
        t["supplier"].df
        .join(F.broadcast(t["nation"].df),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("nation"))
    )
    pw = t["part"].df.filter(F.col("p_name").like("%widget%")).select("p_partkey")
    amount = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - 10 * F.col("l_quantity")
    )
    return (
        li.join(F.broadcast(pw), li["l_partkey"] == pw["p_partkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(sn), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("nation", F.year("o_orderdate").alias("o_year"))
        .agg(qsum(amount, 4).alias("profit"))
    )


@query(
    "q10_returned_item_customers",
    oracle=f"""
    SELECT c.c_custkey, c.c_name,
           {qsum_sql("l.l_extendedprice * (1 - l.l_discount)")} AS revenue,
           min(n.n_name) AS nation
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name
    ORDER BY revenue DESC, c.c_custkey LIMIT 20
    """,
)
def q10_returned_item_customers(spark, sf_dir):
    """TPC-H Q10 — top-20 customers by revenue lost to returns:
    returnflag filter at the scan, fact join, grouped quantized
    revenue, TakeOrdered(20) with custkey tiebreak (a bare float
    ORDER BY ... LIMIT is nondeterministic under ties). The quantized
    sum makes the ORDER key itself engine-stable."""
    t = T(spark, sf_dir, "lineitem", "orders", "customer", "nation")
    li, o, c = t["lineitem"].df, t["orders"].df, t["customer"].df
    cn = c.join(
        F.broadcast(t["nation"].df), c["c_nationkey"] == F.col("n_nationkey")
    ).select("c_custkey", "c_name", "n_name")
    return (
        li.filter(F.col("l_returnflag") == "R")
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(cn), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_custkey", "c_name")
        .agg(
            qsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
            F.min("n_name").alias("nation"),
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


@query(
    "q14_promo_revenue_share",
    oracle="""
    SELECT floor(
             sum(CASE WHEN p.p_type = 'PROMO'
                 THEN CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 10000 + 0.5) AS BIGINT)
                 ELSE 0 END) * 100.0
             / sum(CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 10000 + 0.5) AS BIGINT))
             * 1000000 + 0.5) / 1000000 AS promo_pct
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1995-09-01'
      AND l.l_shipdate < TIMESTAMP '1995-10-01'
    """,
)
def q14_promo_revenue_share(spark, sf_dir):
    """TPC-H Q14 — promotional revenue percentage for one month: both
    ratio legs from ONE conditional agg over exact centi-units; the
    date window pushes to the scan, the part dim broadcasts."""
    t = T(spark, sf_dir, "lineitem", "part")
    li, p = t["lineitem"].df, t["part"].df
    rev_c = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000 + F.lit(0.5)
    ).cast("bigint")
    promo = F.sum(F.when(F.col("p_type") == "PROMO", rev_c).otherwise(F.lit(0)))
    return (
        li.filter(
            (F.col("l_shipdate") >= "1995-09-01")
            & (F.col("l_shipdate") < "1995-10-01")
        )
        .join(F.broadcast(p.select("p_partkey", "p_type")),
              li["l_partkey"] == p["p_partkey"])
        .agg(
            (F.floor(promo * 100.0 / F.sum(rev_c) * 1000000 + F.lit(0.5)) / 1000000)
            .alias("promo_pct")
        )
    )


@query(
    "q15_top_supplier",
    oracle=f"""
    WITH srev AS (
      SELECT l_suppkey,
             sum(CAST(floor(l_extendedprice * (1 - l_discount) * 10000 + 0.5)
                      AS BIGINT)) AS rev_c
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey
    ), mx AS (SELECT max(rev_c) AS m FROM srev)
    SELECT s.s_suppkey, s.s_name, srev.rev_c / 10000 AS total_rev
    FROM srev JOIN mx ON srev.rev_c = mx.m
    JOIN supplier s ON s.s_suppkey = srev.l_suppkey
    """,
)
def q15_top_supplier(spark, sf_dir):
    """TPC-H Q15 — top supplier of a quarter: the CREATE VIEW + scalar
    max correlated filter expressed as agg → 1-row max broadcast →
    equality join back (exact integer revenue, so 'the max' is a
    well-defined set on every engine — TPC-H's own spec note about
    ties handled by construction)."""
    t = T(spark, sf_dir, "lineitem", "supplier")
    li, s = t["lineitem"].df, t["supplier"].df
    rev_c = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000 + F.lit(0.5)
    ).cast("bigint")
    srev = (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1996-04-01")
        )
        .groupBy("l_suppkey")
        .agg(F.sum(rev_c).alias("rev_c"))
    )
    mx = srev.agg(F.max("rev_c").alias("m"))
    return (
        srev.crossJoin(F.broadcast(mx))
        .filter(F.col("rev_c") == F.col("m"))
        .join(F.broadcast(s), F.col("l_suppkey") == s["s_suppkey"])
        .select("s_suppkey", "s_name", (F.col("rev_c") / 10000).alias("total_rev"))
    )


@query(
    "window_ntile_quartiles",
    oracle="""
    SELECT o_custkey, o_orderkey,
           ntile(4) OVER (
             PARTITION BY o_custkey
             ORDER BY o_totalprice NULLS FIRST, o_orderkey
           ) AS quartile
    FROM orders WHERE o_custkey % 29 = 0
    """,
)
def window_ntile_quartiles(spark, sf_dir):
    """Per-group quantile bucketing with ntile(4): each customer's
    orders split into spend quartiles — the per-entity percentile
    feature (spend tier, engagement band) feature stores build.
    Deterministic under the (price, orderkey) total order; partitioned
    window, so per-key sequential work only (ntile over an
    UNPARTITIONED window would be the global-sort trap — see
    text_vocab_coverage)."""
    o = T(spark, sf_dir, "orders")["orders"]
    w = Window.partitionBy("o_custkey").orderBy("o_totalprice", "o_orderkey")
    return (
        o.filter(lambda x: x.o_custkey % 29 == 0)
        .df.select(
            "o_custkey", "o_orderkey", F.ntile(4).over(w).alias("quartile")
        )
    )


@query(
    "events_attribution",
    oracle="""
    SELECT user_id,
           min_by(event_type, epoch_us(ts)::HUGEINT * 1000000000000 + event_id)
             AS first_touch,
           max_by(event_type, epoch_us(ts)::HUGEINT * 1000000000000 + event_id)
             AS last_touch,
           count(*) AS n_events,
           sum(floor(value * 10000 + 0.5)) / 10000 AS total_value
    FROM events WHERE event_type IS NOT NULL GROUP BY user_id
    """,
)
def events_attribution(spark, sf_dir):
    """First-touch / last-touch attribution per user: the
    marketing-analytics fold that assigns credit to the first and last
    event of each user's history. ONE hash-agg — min_by/max_by over a
    composite DECIMAL/HUGEINT key (epoch-microseconds·10^12 +
    event_id: the id slot is wider than any event count, so the
    tie-break can never collide — the widened-slot lesson from
    agg_argmax_surface) — no window, no sort, no self-join;
    deterministic on both engines even for same-timestamp events.
    Value totals in exact 10^-4 units."""
    e = io.read_parquet(spark, f"{sf_dir}/events.parquet").df
    okey = F.unix_micros(F.col("ts")).cast("decimal(38,0)") * F.lit(
        1000000000000
    ) + F.col("event_id")
    # an untyped event can't be a touch: Spark min_by/max_by RETURN a
    # NULL value at the arg-extreme row where DuckDB arg_min/arg_max
    # skip NULL values entirely (events fuzz)
    e = e.filter(F.col("event_type").isNotNull())
    return e.groupBy("user_id").agg(
        F.min_by("event_type", okey).alias("first_touch"),
        F.max_by("event_type", okey).alias("last_touch"),
        F.count(F.lit(1)).alias("n_events"),
        (F.sum(F.floor(F.col("value") * 10000 + F.lit(0.5))) / 10000).alias(
            "total_value"
        ),
    )


@query(
    "dq_profile_orders",
    oracle="""
    SELECT 'o_orderkey' AS col, count(*) AS n, count(o_orderkey) AS n_nonnull,
           count(DISTINCT o_orderkey) AS n_distinct,
           CAST(min(o_orderkey) AS DOUBLE) AS min_v,
           CAST(max(o_orderkey) AS DOUBLE) AS max_v
    FROM orders
    UNION ALL
    SELECT 'o_custkey', count(*), count(o_custkey),
           count(DISTINCT o_custkey),
           CAST(min(o_custkey) AS DOUBLE), CAST(max(o_custkey) AS DOUBLE)
    FROM orders
    UNION ALL
    SELECT 'o_totalprice', count(*), count(o_totalprice),
           count(DISTINCT floor(o_totalprice * 100 + 0.5)),
           floor(min(o_totalprice) * 100 + 0.5) / 100,
           floor(max(o_totalprice) * 100 + 0.5) / 100
    FROM orders
    """,
)
def dq_profile_orders(spark, sf_dir):
    """Data-quality profile (expectations-style): per-column row count,
    non-null count, distinct count, min/max — the validation pass every
    ingest pipeline runs before promoting a batch. ALL columns profile
    in ONE scan: Spark fuses the per-column aggregates into a single
    aggregation node (one shuffle of constant-width partials), then the
    three profile rows are unpivoted from one wide row — the oracle's
    UNION ALL spells the semantics but this plan reads the table once.
    Doubles quantized to cents where float identity matters."""
    o = io.read_parquet(spark, f"{sf_dir}/orders.parquet").df
    price_c = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
    wide = o.agg(
        F.count(F.lit(1)).alias("n"),
        F.count("o_orderkey").alias("nn_ok"),
        F.countDistinct("o_orderkey").alias("nd_ok"),
        F.min("o_orderkey").cast("double").alias("mn_ok"),
        F.max("o_orderkey").cast("double").alias("mx_ok"),
        F.count("o_custkey").alias("nn_ck"),
        F.countDistinct("o_custkey").alias("nd_ck"),
        F.min("o_custkey").cast("double").alias("mn_ck"),
        F.max("o_custkey").cast("double").alias("mx_ck"),
        F.count("o_totalprice").alias("nn_tp"),
        F.countDistinct(price_c).alias("nd_tp"),
        (F.min(price_c) / 100).alias("mn_tp"),
        (F.max(price_c) / 100).alias("mx_tp"),
    )
    rows = [
        ("o_orderkey", "nn_ok", "nd_ok", "mn_ok", "mx_ok"),
        ("o_custkey", "nn_ck", "nd_ck", "mn_ck", "mx_ck"),
        ("o_totalprice", "nn_tp", "nd_tp", "mn_tp", "mx_tp"),
    ]
    out = None
    for col, nn, nd, mn, mx in rows:
        one = wide.select(
            F.lit(col).alias("col"),
            F.col("n"),
            F.col(nn).alias("n_nonnull"),
            F.col(nd).alias("n_distinct"),
            F.col(mn).alias("min_v"),
            F.col(mx).alias("max_v"),
        )
        out = one if out is None else out.unionByName(one)
    return out


@query(
    "incremental_agg_maintenance",
    oracle="""
    WITH base AS (
      SELECT o_orderstatus, count(*) AS n,
             sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS total_c
      FROM orders WHERE o_orderkey % 10 != 0 GROUP BY o_orderstatus
    ), delta AS (
      SELECT o_orderstatus, count(*) AS n,
             sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS total_c
      FROM orders WHERE o_orderkey % 10 = 0 GROUP BY o_orderstatus
    ), merged AS (
      SELECT coalesce(b.o_orderstatus, d.o_orderstatus) AS o_orderstatus,
             coalesce(b.n, 0) + coalesce(d.n, 0) AS n,
             coalesce(b.total_c, 0) + coalesce(d.total_c, 0) AS total_c
      FROM base b FULL JOIN delta d ON b.o_orderstatus = d.o_orderstatus
    ), full_ AS (
      SELECT o_orderstatus, count(*) AS n,
             sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS total_c
      FROM orders GROUP BY o_orderstatus
    )
    SELECT m.o_orderstatus, m.n, m.total_c / 100 AS total,
           (m.n = f.n AND m.total_c = f.total_c) AS matches_full
    FROM merged m JOIN full_ f ON m.o_orderstatus = f.o_orderstatus
    """,
)
def incremental_agg_maintenance(spark, sf_dir):
    """Incremental view maintenance for decomposable aggregates: a
    materialized per-status (count, sum) is refreshed by MERGING a
    delta batch's partial aggregate — never rescanning the base (the
    continuous-aggregate refresh pattern; same algebra that makes
    Spark's own partial aggregation work, applied across batches).
    The full-outer merge handles statuses new in the delta; the
    matches_full flag proves merged == recomputed-from-scratch
    (exact integer cents make that equality checkable). At 100 TB the
    delta scan is the only data-proportional cost."""
    o = io.read_parquet(spark, f"{sf_dir}/orders.parquet").df
    pc = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")

    def agg(df):
        return df.groupBy("o_orderstatus").agg(
            F.count(F.lit(1)).alias("n"), F.sum(pc).alias("total_c")
        )

    base = agg(o.filter(F.col("o_orderkey") % 10 != 0)).alias("b")
    delta = agg(o.filter(F.col("o_orderkey") % 10 == 0)).alias("d")
    merged = (
        base.join(
            delta, F.col("b.o_orderstatus") == F.col("d.o_orderstatus"), "full_outer"
        )
        .select(
            F.coalesce(F.col("b.o_orderstatus"), F.col("d.o_orderstatus")).alias(
                "o_orderstatus"
            ),
            (F.coalesce(F.col("b.n"), F.lit(0)) + F.coalesce(F.col("d.n"), F.lit(0))
             ).alias("n"),
            (F.coalesce(F.col("b.total_c"), F.lit(0))
             + F.coalesce(F.col("d.total_c"), F.lit(0))).alias("total_c"),
        )
    )
    full = agg(o).select(
        F.col("o_orderstatus").alias("f_status"),
        F.col("n").alias("f_n"),
        F.col("total_c").alias("f_total_c"),
    )
    return merged.join(
        full, merged["o_orderstatus"] == full["f_status"]
    ).select(
        "o_orderstatus",
        "n",
        (F.col("total_c") / 100).alias("total"),
        ((F.col("n") == F.col("f_n")) & (F.col("total_c") == F.col("f_total_c"))
         ).alias("matches_full"),
    )


@query(
    "events_resample_ffill",
    oracle="""
    WITH ue AS (
      SELECT user_id, time_bucket(INTERVAL 1 HOUR, ts) AS bucket,
             sum(CAST(floor(value * 10000 + 0.5) AS BIGINT)) AS v_c
      FROM events WHERE user_id % 37 = 0
      GROUP BY user_id, time_bucket(INTERVAL 1 HOUR, ts)
    ), spans AS (
      SELECT user_id, min(bucket) AS lo, max(bucket) AS hi
      FROM ue GROUP BY user_id
    ), grid AS (
      SELECT s.user_id, t.b AS bucket
      FROM spans s, unnest(generate_series(s.lo, s.hi, INTERVAL 1 HOUR)) AS t(b)
    )
    SELECT g.user_id, g.bucket,
           last_value(ue.v_c IGNORE NULLS) OVER (
             PARTITION BY g.user_id ORDER BY g.bucket
             ROWS UNBOUNDED PRECEDING
           ) / 10000.0 AS filled,
           ue.v_c IS NOT NULL AS observed
    FROM grid g LEFT JOIN ue ON g.user_id = ue.user_id AND g.bucket = ue.bucket
    """,
)
def events_resample_ffill(spark, sf_dir):
    """Time-series resampling with forward fill: each user's event
    values summed into hourly buckets, the per-user [min, max] hour
    range densified to a complete grid (``sequence`` + explode — rows
    generated ∝ span, never a calendar cross join), gaps carried
    forward with ``last(v, ignorenulls)`` over a PARTITIONED window —
    the standard gap-filling shape feature pipelines and downsampling
    jobs need. Per-user spans keep generation local; the only
    shuffles are the hourly agg and the per-user window. Hour sums in
    exact 10^-4 units; the fill divides once at the end."""
    e = io.read_parquet(spark, f"{sf_dir}/events.parquet").df
    ue = (
        e.filter(F.col("user_id") % 37 == 0)
        .groupBy(
            "user_id",
            F.date_trunc("hour", F.col("ts")).alias("bucket"),
        )
        .agg(
            F.sum(F.floor(F.col("value") * 10000 + F.lit(0.5)).cast("bigint")).alias(
                "v_c"
            )
        )
    )
    spans = ue.groupBy("user_id").agg(
        F.min("bucket").alias("lo"), F.max("bucket").alias("hi")
    )
    grid = spans.select(
        "user_id",
        F.explode(
            F.sequence(F.col("lo"), F.col("hi"), F.expr("interval 1 hour"))
        ).alias("bucket"),
    )
    joined = grid.join(ue, ["user_id", "bucket"], "left")
    w = (
        Window.partitionBy("user_id")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        "user_id",
        "bucket",
        (F.last("v_c", ignorenulls=True).over(w) / 10000.0).alias("filled"),
        F.col("v_c").isNotNull().alias("observed"),
    )


@query(
    "join_bloom_prefilter",
    oracle="""
    SELECT o.o_orderpriority,
           count(*) AS n,
           sum(CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100 + 0.5)
                    AS BIGINT)) / 100 AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_mktsegment = 'AUTOMOBILE'
    GROUP BY o.o_orderpriority
    """,
)
def join_bloom_prefilter(spark, sf_dir):
    """Semi-join reduction via a Bloom runtime filter: the qualifying
    orderkeys (AUTOMOBILE-segment customers) build the relational
    Bloom position set (llm/sketches.bloom_build, m=65536 bits as ≤ m
    rows), and the FACT side is prefiltered by THREE broadcast
    LEFT-SEMI probes — one per hash position — BEFORE its shuffle:
    only true matches + the Bloom's false positives move, and the real
    join then removes the false positives, so the RESULT is provably
    identical to the plain 3-way join (exactly what the oracle runs —
    the filter's FP set cannot affect the answer). Hand-written form
    of Spark's runtime-filter injection (its `bloom_filter_agg` is not
    SQL-registered), kept explicit so the mechanics are testable.
    Broadcast hash semi-joins add no shuffle and no per-row wide
    literals; m must scale with the build-side cardinality (a
    saturated filter is correct but filters nothing)."""
    from ..llm import sketches as SK

    _M, _K = 65536, 3
    t = T(spark, sf_dir, "lineitem", "orders", "customer")
    li, o, c = t["lineitem"].df, t["orders"].df, t["customer"].df
    qual_cust = c.filter(F.col("c_mktsegment") == "AUTOMOBILE").select("c_custkey")
    qual_orders = o.join(
        F.broadcast(qual_cust), o["o_custkey"] == qual_cust["c_custkey"], "left_semi"
    )
    bits = SK.bloom_build(
        qual_orders.select("o_orderkey"), "o_orderkey", m=_M, k=_K
    )
    hexh = SK._md5_hex(F.col("l_orderkey"), "bf")
    filtered = li
    for j in range(_K):
        filtered = filtered.withColumn(
            f"__p{j}", SK._hex_slice_long(hexh, 1 + 10 * j, 10) % _M
        )
    for j in range(_K):
        bj = bits.select(F.col("pos").alias(f"__b{j}"))
        filtered = filtered.join(
            F.broadcast(bj), filtered[f"__p{j}"] == bj[f"__b{j}"], "left_semi"
        )
    filtered = filtered.drop(*[f"__p{j}" for j in range(_K)])
    rev_c = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100 + F.lit(0.5)
    ).cast("bigint")
    return (
        filtered.join(qual_orders, filtered["l_orderkey"] == qual_orders["o_orderkey"])
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum(rev_c) / 100).alias("revenue"),
        )
    )


@query(
    "scd2_point_in_time_lookup",
    oracle="""
    WITH marked AS (
      SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey,
             lag(o_orderstatus) OVER (
               PARTITION BY o_custkey
               ORDER BY o_orderdate NULLS FIRST, o_orderkey
             ) AS prev_status
      FROM orders WHERE o_custkey % 31 = 0
    ), intervals AS (
      SELECT o_custkey, o_orderstatus AS status, o_orderdate AS valid_from,
             lead(o_orderdate) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ) AS valid_to
      FROM marked
      WHERE prev_status IS NULL OR prev_status <> o_orderstatus
    )
    SELECT e.event_id, e.user_id, i.status
    FROM events e JOIN intervals i
      ON e.user_id = i.o_custkey
     AND e.ts >= i.valid_from
     AND (i.valid_to IS NULL OR e.ts < i.valid_to)
    """,
)
def scd2_point_in_time_lookup(spark, sf_dir):
    """Point-in-time dimension lookup against an SCD Type-2 history —
    the join every warehouse runs after building validity intervals
    (scd2_status_history): each event resolves the status that was
    current AT ITS TIMESTAMP (valid_from ≤ ts < valid_to, open
    current interval). The join is an equi-join on the dimension key
    with the interval predicate as residual — per-key interval counts
    are small (one per status change), so the per-key pair blow-up is
    bounded by history length, NOT events×intervals; half-open
    intervals guarantee each event matches at most one row. At 100 TB
    this is one shuffle on the key for each side — same cost as any
    dimension join."""
    o = T(spark, sf_dir, "orders")["orders"]
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    marked = (
        o.filter(lambda x: x.o_custkey % 31 == 0)
        .df.select(
            "o_custkey", "o_orderstatus", "o_orderdate", "o_orderkey",
            F.lag("o_orderstatus").over(w).alias("prev_status"),
        )
    )
    intervals = (
        marked.filter(
            F.col("prev_status").isNull()
            | (F.col("prev_status") != F.col("o_orderstatus"))
        )
        .select(
            "o_custkey",
            F.col("o_orderstatus").alias("status"),
            F.col("o_orderdate").alias("valid_from"),
            F.lead("o_orderdate").over(w).alias("valid_to"),
        )
    )
    e = io.read_parquet(spark, f"{sf_dir}/events.parquet").df
    return (
        e.join(
            intervals,
            (e["user_id"] == intervals["o_custkey"])
            & (e["ts"] >= intervals["valid_from"])
            & (intervals["valid_to"].isNull() | (e["ts"] < intervals["valid_to"])),
        )
        .select("event_id", "user_id", "status")
    )


@query(
    "dq_observed_ingest",
    oracle="""
    SELECT count(*) AS n_rows,
           count(CASE WHEN o_totalprice <= 0 THEN 1 END) AS n_nonpositive,
           count(CASE WHEN o_orderstatus NOT IN ('F','O','P') THEN 1 END)
             AS n_bad_status,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS total_c
    FROM orders
    """,
)
def dq_observed_ingest(spark, sf_dir):
    """Ingest observability with ``Dataset.observe``: validation
    counters (row count, non-positive prices, out-of-domain statuses,
    checksum total) collected DURING a single pass of the data as
    accumulator-style metrics — zero extra scans, zero shuffles; the
    pattern for emitting data-quality metrics from production ingest
    jobs without re-reading the batch. The pass itself is a noop-sink
    write (any real job's write slot); the observed metrics come back
    on the driver and are emitted as the result row. The oracle
    recomputes the same aggregates relationally."""
    from pyspark.sql import Observation

    o = io.read_parquet(spark, f"{sf_dir}/orders.parquet").df
    obs = Observation("dq")
    observed = o.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(F.col("o_totalprice") <= 0, 1)).alias("n_nonpositive"),
        F.count(
            F.when(~F.col("o_orderstatus").isin("F", "O", "P"), 1)
        ).alias("n_bad_status"),
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
        ).alias("total_c"),
    )
    observed.write.mode("overwrite").format("noop").save()
    m = obs.get
    return spark.createDataFrame(
        [(m["n_rows"], m["n_nonpositive"], m["n_bad_status"], m["total_c"])],
        "n_rows: bigint, n_nonpositive: bigint, n_bad_status: bigint, total_c: bigint",
    )


def _zorder_expr(x: str, y: str, bits: int = 16) -> str:
    """Bit-interleave SQL text (identical on Spark and DuckDB: >>, &,
    << on bigints): z = ... y1 x1 y0 x0."""
    # each term fully parenthesized: SQL's `+` binds TIGHTER than `<<`,
    # so `a << 0 + b << 2` would parse as `a << (0 + b) << 2`. The
    # BIGINT cast keeps the shift 64-bit (an INT32 input would
    # overflow `1 << 31` on DuckDB).
    terms = []
    for i in range(bits):
        terms.append(f"(((CAST({x} AS BIGINT) >> {i}) & 1) << {2 * i})")
        terms.append(f"(((CAST({y} AS BIGINT) >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(terms)


@query(
    "layout_zorder_clustering",
    oracle=f"""
    WITH k AS (
      SELECT o_orderkey,
             o_custkey & 65535 AS x,
             (epoch_us(o_orderdate) // 86400000000) & 65535 AS y
      FROM orders WHERE o_orderkey % 199 = 0
    )
    SELECT o_orderkey, {_zorder_expr('x', 'y')} AS zval
    FROM k
    """,
)
def layout_zorder_clustering(spark, sf_dir):
    """Z-order (Morton) clustering key: 16 bits each of customer and
    order-day interleaved into one bigint — the space-filling-curve
    layout key behind Delta/Iceberg Z-ORDER data clustering. Writing
    files range-partitioned by zval co-locates rows close in BOTH
    dimensions, so 2-D predicates (custkey range × date range) prune
    file-level min/max stats far better than a lexicographic sort —
    the 100 TB scan-locality story. The interleave is pure integer
    bit arithmetic (>> & <<), generated from ONE expression string
    for both engines; combine with repartitionByRange(zval) +
    write_parquet at layout time. Epoch-day derived with exact
    integer division of epoch-microseconds."""
    o = T(spark, sf_dir, "orders")["orders"]
    k = (
        o.filter(lambda r: r.o_orderkey % 199 == 0)
        .df.select(
            "o_orderkey",
            (F.col("o_custkey").bitwiseAND(65535)).alias("x"),
            F.expr("(unix_micros(o_orderdate) div 86400000000) & 65535").alias("y"),
        )
    )
    return k.select("o_orderkey", F.expr(_zorder_expr("x", "y")).alias("zval"))


@query(
    "udtf_expand_props",
    # Portability contract: the oracle
    # extracts with a BARE-KEY path (json_extract_string(j, k) treats a
    # non-$ path as one literal key — no '$.' || k concat, which breaks
    # on keys containing '.' or quotes), and numeric coercion follows
    # ONE EXPLICIT GRAMMAR on both engines, never the engines' native
    # string->number parsers: Python int()/float() strip UNICODE
    # whitespace and accept '_' separators, DuckDB TRY_CAST strips only
    # ASCII whitespace and accepts '9_0'/'inf' — so both sides strip
    # the explicit ASCII class, regex-gate with explicit [0-9] classes,
    # and truncate toward zero. Integer literals cast directly (no
    # double round-trip); TRY_CAST on the result turns int64 overflow
    # into NULL. CAST(json AS BIGINT) is banned: DuckDB ROUNDS there
    # while Python int() truncates.
    # Quarantine contract (exotic-props fuzz tier): a 100 TB ingest
    # contains corrupt props; the parser must SKIP those documents on
    # both engines, never kill the job. Quarantined: malformed JSON /
    # empty string / NULL (json_valid gate vs Python json.loads
    # except), top-level non-objects (DuckDB json_keys returns []
    # gracefully where .items() raises), duplicate top-level keys
    # (DuckDB json_extract_string resolves every occurrence to the
    # FIRST value while Python dicts keep the LAST — ambiguous, so
    # the DOCUMENT is dropped, not one reading of it kept), and keys
    # the SQL twin's bare-key path cannot address ('' is an empty
    # path error; leading '$' parses as a JSONPath — '$' alone
    # returns the root; leading '/' parses as a JSON Pointer). The
    # whole document quarantines, never single keys — partial
    # documents would silently under-count.
    oracle="""
    WITH jd AS (
      SELECT CASE WHEN props IS NOT NULL AND json_valid(props)
                  THEN props::JSON END AS jp
      FROM events WHERE event_id % 101 = 0
    ), good AS (
      SELECT CASE WHEN json_type(jp) = 'OBJECT'
                   AND len(json_keys(jp)) = len(list_distinct(json_keys(jp)))
                   AND len(list_filter(json_keys(jp),
                           k -> k = '' OR left(k, 1) = '$'
                                OR left(k, 1) = '/')) = 0
                  THEN jp END AS j
      FROM jd
    ), kv AS (
      SELECT t.k AS prop_key,
             trim(json_extract_string(g.j, t.k),
                  ' ' || chr(9) || chr(10) || chr(13) || chr(12) || chr(11))
               AS s
      FROM good g, unnest(json_keys(g.j)) AS t(k)
    )
    , coerced AS (
      SELECT prop_key,
             CASE
               WHEN s IS NULL THEN NULL
               WHEN regexp_matches(s, '^[+-]?[0-9]+$')
                 THEN TRY_CAST(s AS BIGINT)
               WHEN regexp_matches(s,
                 '^[+-]?([0-9]+\\.?[0-9]*|\\.[0-9]+)([eE][+-]?[0-9]+)?$')
                 THEN TRY_CAST(trunc(TRY_CAST(s AS DOUBLE)) AS BIGINT)
               ELSE NULL
             END AS v
      FROM kv
    )
    SELECT prop_key, count(*) AS n,
           CAST(sum(CASE WHEN v BETWEEN -2147483647 AND 2147483647 THEN v END)
                AS BIGINT) AS total
    FROM coerced
    GROUP BY prop_key
    """,
)
def udtf_expand_props(spark, sf_dir):
    """Python UDTF (table function) — the one SURVEY §2.7 surface not
    expressible as a scalar/aggregate UDF: each input row EXPANDS to a
    variable number of output rows (here: every key/value pair of the
    props JSON document). Registered and invoked via SQL LATERAL
    correlation, with ``spark.sql.execution.pythonUDTF.arrow.enabled``
    so row transfer is Arrow-batched per the engine's no-row-at-a-time
    policy. For THIS fixed schema a pure-Column ``from_json`` +
    explode would do (and is preferred — see json_extract_fields);
    the UDTF form is the seam for genuinely dynamic/imperative
    expansion (unknown keys, custom tokenizers, parsers with state).
    The per-key counts aggregate AFTER the expansion — expansion is
    narrow, the single shuffle is the aggregation."""
    import json
    import re as _re
    import uuid as _uuid

    from pyspark.sql.functions import udtf

    spark.conf.set("spark.sql.execution.pythonUDTF.arrow.enabled", "true")

    @udtf(returnType="prop_key string, prop_val bigint")
    class ExpandProps:
        # mirrors the oracle's explicit numeric grammar EXACTLY: strip
        # the ASCII whitespace class (str.strip() default strips
        # UNICODE spaces — DuckDB does not), regex-gate before parsing
        # (Python int()/float() accept '_' separators and unicode
        # spaces — DuckDB does not), truncate toward zero, NULL on
        # int64 overflow (mirroring TRY_CAST AS BIGINT)
        @staticmethod
        def _to_long(v):
            # int32-range clamp: property counters beyond ±2^31 are
            # NULLed on BOTH engines so the aggregate sum can never
            # overflow int64 on any engine (Spark ANSI sum raises,
            # DuckDB HUGEINT->BIGINT cast raises — neither is a
            # comparable value)
            def fit(iv):
                return iv if -2147483647 <= iv <= 2147483647 else None

            if v is None or isinstance(v, bool):
                return None
            if isinstance(v, int):
                return fit(v)
            if isinstance(v, float):
                try:
                    return fit(int(v))
                except (ValueError, OverflowError):
                    return None
            s = str(v).strip(" \t\n\r\f\x0b")
            if _re.fullmatch(r"[+-]?[0-9]+", s):
                return fit(int(s))
            if _re.fullmatch(
                r"[+-]?([0-9]+\.?[0-9]*|\.[0-9]+)([eE][+-]?[0-9]+)?", s
            ):
                try:
                    return fit(int(float(s)))
                except (ValueError, OverflowError):
                    return None
            return None

        def eval(self, props: str):
            # quarantine contract (see the oracle comment): malformed
            # / non-object / duplicate-keyed / path-colliding-keyed
            # documents are SKIPPED whole on both engines — a corrupt
            # document must never kill the job, and a partially-read
            # one would silently under-count
            if not props:
                return
            try:
                # object_pairs_hook surfaces DUPLICATE keys (a plain
                # dict keeps the last — DuckDB's extract reads the
                # first; the ambiguity quarantines the document)
                pairs = json.loads(props, object_pairs_hook=lambda ps: ps)
            except ValueError:
                return
            if not isinstance(pairs, list) or not all(
                isinstance(p, tuple) for p in pairs
            ):
                return  # top-level non-object
            keys = [k for k, _ in pairs]
            if len(set(keys)) != len(keys):
                return  # duplicate top-level keys
            if any(k == "" or k[0] in "$/" for k in keys):
                return  # keys the SQL twin's bare-key path can't address
            for k, v in pairs:
                yield k, self._to_long(v)

    fname = f"expand_props_{_uuid.uuid4().hex[:8]}"
    spark.udtf.register(fname, ExpandProps)
    e = io.read_parquet(spark, f"{sf_dir}/events.parquet").df
    vname = f"events_{fname}"
    e.filter(F.col("event_id") % 101 == 0).createOrReplaceTempView(vname)
    return spark.sql(f"""
        SELECT t.prop_key, count(*) AS n, sum(t.prop_val) AS total
        FROM {vname} v, LATERAL {fname}(v.props) t
        GROUP BY t.prop_key
    """)


@query(
    "q5_local_supplier_volume",
    oracle="""
    SELECT n_name,
           sum(floor(l_extendedprice * (1 - l_discount) * 10000 + 0.5)) / 10000
             AS revenue
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
                   AND c.c_nationkey = s.s_nationkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY n_name
    """,
)
def q5_local_supplier_volume(spark, sf_dir):
    """TPC-H Q5 — local supplier volume: revenue by nation where the
    CUSTOMER and the SUPPLIER sit in the same nation of one region.
    Completes the corpus's TPC-H coverage (Q1-Q11, Q13-Q20, Q22; the
    Q12/Q21 column gap is documented in docs/QUERIES.md). Plan: the
    region->nation->supplier dim chain collapses via broadcasts, so
    the only real shuffles are lineitem<->orders and orders<->customer
    on their join keys; the same-nation predicate
    (c_nationkey = s_nationkey) is applied as a residual on the
    already-joined row - no extra exchange. The date filter on orders
    prunes BEFORE the fact join (pushed to the orders scan), cutting
    the build side ~6x. Final agg keys on 5 nations - negligible.
    Reference derives this join tree from a 6-generator comprehension
    (Combination.scala MatchEquiJoin cascade, as Q7)."""
    t = T(spark, sf_dir, "customer", "orders", "lineitem", "supplier",
          "nation", "region")
    c, o, li = t["customer"].df, t["orders"].df, t["lineitem"].df
    n = t["nation"].df
    r = t["region"].df.filter(F.col("r_name") == "ASIA")
    nr = F.broadcast(
        n.join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .select("n_nationkey", "n_name")
    )
    s = t["supplier"].df.join(
        nr, F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey", "s_nationkey", "n_name")
    o_f = o.filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    return (
        li.join(o_f, li["l_orderkey"] == o_f["o_orderkey"])
        .join(c, F.col("o_custkey") == c["c_custkey"])
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .groupBy("n_name")
        .agg(qsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
    )


@query(
    "dq_drift_snapshots",
    oracle="""
    SELECT o_orderpriority,
           count(*) FILTER (o_orderdate <  TIMESTAMP '1998-01-01') AS n_h1,
           count(*) FILTER (o_orderdate >= TIMESTAMP '1998-01-01') AS n_h2,
           CAST(coalesce(sum(floor(o_totalprice * 100 + 0.5))
                    FILTER (o_orderdate <  TIMESTAMP '1998-01-01'), 0)
                AS BIGINT) AS price_c_h1,
           CAST(coalesce(sum(floor(o_totalprice * 100 + 0.5))
                    FILTER (o_orderdate >= TIMESTAMP '1998-01-01'), 0)
                AS BIGINT) AS price_c_h2,
           count(DISTINCT o_custkey)
             FILTER (o_orderdate <  TIMESTAMP '1998-01-01') AS nd_cust_h1,
           count(DISTINCT o_custkey)
             FILTER (o_orderdate >= TIMESTAMP '1998-01-01') AS nd_cust_h2
    FROM orders GROUP BY o_orderpriority
    """,
)
def dq_drift_snapshots(spark, sf_dir):
    """Data-drift profile between two snapshots of the same table (the
    check a pipeline runs before promoting a new ingest batch next to
    last week's): per segment, row count, exact cent-sum and distinct
    cardinality for BOTH halves, computed as conditional aggregates in
    ONE scan - no self-join of the table against itself, no second
    read. At 100 TB the alternative (two filtered subqueries joined on
    the group key) reads the data twice and shuffles twice; the FILTER
    form is one pass, one shuffle of constant-width partials per
    priority. Exact cents so the drift comparison is engine-stable."""
    o = io.read_parquet(spark, f"{sf_dir}/orders.parquet").df
    h1 = F.col("o_orderdate") < "1998-01-01"
    h2 = ~h1
    price_c = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
    return o.groupBy("o_orderpriority").agg(
        F.count(F.when(h1, 1)).alias("n_h1"),
        F.count(F.when(h2, 1)).alias("n_h2"),
        F.coalesce(F.sum(F.when(h1, price_c)), F.lit(0)).alias("price_c_h1"),
        F.coalesce(F.sum(F.when(h2, price_c)), F.lit(0)).alias("price_c_h2"),
        F.count_distinct(F.when(h1, F.col("o_custkey"))).alias("nd_cust_h1"),
        F.count_distinct(F.when(h2, F.col("o_custkey"))).alias("nd_cust_h2"),
    )


@query(
    "events_retention_cohorts",
    oracle="""
    WITH d AS (
      SELECT user_id,
             (epoch_us(ts) // 86400000000 - 19723) // 7 AS wk
      FROM events WHERE event_id % 61 = 0
    ),
    f AS (SELECT user_id, min(wk) AS cohort_week FROM d GROUP BY user_id),
    a AS (SELECT DISTINCT user_id, wk FROM d)
    SELECT f.cohort_week, a.wk AS active_week,
           count(DISTINCT a.user_id) AS n_users
    FROM f JOIN a ON f.user_id = a.user_id
    GROUP BY f.cohort_week, a.wk
    """,
)
def events_retention_cohorts(spark, sf_dir):
    """Retention cohort triangle: users grouped by first-seen week x
    week of activity -> distinct active users (the table behind every
    product retention curve). Plan: per-user first-week agg and the
    distinct (user, week) activity table BOTH hash-partition on
    user_id, so the join between them is co-partitioned (AQE reuses
    the exchange - no third shuffle); the final agg's key space is
    weeks^2 (tiny forever). Weeks derived with exact integer division
    of epoch-microseconds (19723 = epoch day of 2024-01-01); floor
    and truncating division agree because event days are all
    post-epoch. The log is sparsified (event_id % 61) so first-seen
    weeks actually spread: the full synthetic log has ~67 events per
    user, which would put every user in cohort week 0 and collapse
    the triangle to one row per week."""
    e = io.read_parquet(spark, f"{sf_dir}/events.parquet").df
    wk = F.expr("(unix_micros(ts) div 86400000000 - 19723) div 7")
    d = e.filter(F.col("event_id") % 61 == 0).select("user_id", wk.alias("wk"))
    first = d.groupBy("user_id").agg(F.min("wk").alias("cohort_week"))
    activity = d.distinct()
    return (
        first.join(activity, "user_id")
        .groupBy("cohort_week", F.col("wk").alias("active_week"))
        .agg(F.count_distinct("user_id").alias("n_users"))
    )


@query(
    "events_anomaly_zscore",
    oracle="""
    WITH daily AS (
      SELECT event_type, epoch_us(ts) // 86400000000 AS day, count(*) AS cnt
      FROM events GROUP BY 1, 2
    ),
    w AS (
      SELECT event_type, day, cnt,
             count(*)        OVER pw AS n,
             sum(cnt)        OVER pw AS s,
             sum(cnt * cnt)  OVER pw AS s2
      FROM daily
      WINDOW pw AS (PARTITION BY event_type ORDER BY day
                    ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
    )
    SELECT event_type, day, cnt,
           CAST((7 * cnt - s)::HUGEINT * (7 * cnt - s) AS BIGINT) AS z2_num,
           CAST(7::HUGEINT * s2 - s::HUGEINT * s AS BIGINT) AS z2_den,
           (7 * cnt - s)::HUGEINT * (7 * cnt - s)
             > 4 * (7::HUGEINT * s2 - s::HUGEINT * s) AS is_anomaly
    FROM w WHERE n = 7
    """,
)
def events_anomaly_zscore(spark, sf_dir):
    """Volume-anomaly detection: per event type, each day's count is
    scored against the trailing 7 days' mean/variance and flagged when
    |z| > 2 - the alerting query every event pipeline runs. The z-test
    is pure INTEGER arithmetic on counts: with s = sum, s2 = sum of
    squares over the 7-day window, z^2 > 4 iff (7*cnt - s)^2 >
    4*(7*s2 - s^2) - no float mean/stddev, so the flag is bit-stable
    across engines and partitionings. Scale: the window runs on the
    POST-AGG daily table (days x event-types rows - bounded by
    calendar time, NOT by corpus size), partitioned by event_type;
    the raw-event scan is one hash-agg shuffle. This is the legitimate
    use of an ordered window that text_vocab_coverage had to be cured
    of: the windowed relation here cannot grow with the data."""
    e = io.read_parquet(spark, f"{sf_dir}/events.parquet").df
    daily = (
        e.groupBy(
            "event_type",
            F.expr("unix_micros(ts) div 86400000000").alias("day"),
        ).agg(F.count(F.lit(1)).alias("cnt"))
    )
    pw = Window.partitionBy("event_type").orderBy("day").rowsBetween(-7, -1)
    w = daily.select(
        "event_type", "day", "cnt",
        F.count(F.lit(1)).over(pw).alias("n"),
        F.sum("cnt").over(pw).alias("s"),
        F.sum(F.col("cnt") * F.col("cnt")).over(pw).alias("s2"),
    ).filter(F.col("n") == 7)
    dev = (7 * F.col("cnt") - F.col("s")).cast("decimal(38,0)")
    den = (
        F.lit(7).cast("decimal(38,0)") * F.col("s2")
        - F.col("s").cast("decimal(38,0)") * F.col("s")
    )
    return w.select(
        "event_type", "day", "cnt",
        (dev * dev).cast("bigint").alias("z2_num"),
        den.cast("bigint").alias("z2_den"),
        (dev * dev > 4 * den).alias("is_anomaly"),
    )


@query(
    "jsonl_roundtrip_agg",
    oracle="""
    SELECT lang, source, count(*) AS n,
           CAST(sum(n_chars) AS BIGINT) AS chars,
           CAST(sum(length(text)) AS BIGINT) AS text_len
    FROM documents GROUP BY lang, source
    """,
)
def jsonl_roundtrip_agg(spark, sf_dir):
    """JSONL sink + typed source round-trip — the corpus interchange
    format (one JSON doc per line) every LLM data pipeline ingests and
    emits: documents are written to JSON-Lines and read back with an
    EXPLICIT schema (schema inference would pre-scan all 100 TB twice;
    read_jsonl documents that contract), then aggregated; the oracle
    runs on the ORIGINAL parquet, so a hash match proves the codec
    round-trips every row, string and count losslessly. The staged
    write is partitioned (one file per task) — at scale the read back
    parallelizes per file with no single-reader choke point."""
    docs = io.read_parquet(spark, f"{sf_dir}/documents.parquet")
    path = io.scratch_dir("emma_jsonl_rt_") + "/documents"
    docs.write_jsonl(path)
    back = io.read_jsonl(spark, path, schema=docs.df.schema)
    return back.df.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_chars").alias("chars"),
        F.sum(F.length("text")).alias("text_len"),
    )


@query(
    "events_interval_merge",
    oracle="""
    WITH iv AS (
      SELECT user_id, epoch_us(ts) // 1000000 AS s,
             epoch_us(ts) // 1000000 + 300 AS e, event_id
      FROM events WHERE user_id < 30
    ),
    marked AS (
      SELECT user_id, s, e, event_id,
             CASE WHEN s > coalesce(max(e) OVER (
                    PARTITION BY user_id ORDER BY s, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                  THEN 1 ELSE 0 END AS new_island
      FROM iv
    ),
    grp AS (
      SELECT user_id, s, e,
             sum(new_island) OVER (PARTITION BY user_id ORDER BY s, event_id
                                   ROWS UNBOUNDED PRECEDING) AS island
      FROM marked
    )
    SELECT user_id, CAST(island AS BIGINT) AS island,
           min(s) AS start_s, max(e) AS end_s,
           count(*) AS n_events
    FROM grp GROUP BY user_id, island
    """,
)
def events_interval_merge(spark, sf_dir):
    """Interval coalescing (gaps-and-islands): each event opens a
    5-minute activity interval; overlapping/touching intervals per
    user merge into maximal islands — the temporal-algebra primitive
    behind sessionization-by-overlap, uptime stitching and
    meeting-room-style range union. Two windows, BOTH partitioned by
    user_id (per-key sequences — nothing global, the partition is the
    parallelism unit at any scale): running max(end) over strictly
    preceding rows detects island starts (> comparison against -1 for
    the first row), a running sum of starts numbers the islands; one
    hash-agg folds each island to [min start, max end, count]. Epoch
    seconds as exact integers."""
    e = io.read_parquet(spark, f"{sf_dir}/events.parquet").df
    iv = e.filter(F.col("user_id") < 30).select(
        "user_id",
        F.expr("unix_micros(ts) div 1000000").alias("s"),
        (F.expr("unix_micros(ts) div 1000000") + 300).alias("e"),
        "event_id",
    )
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    marked = iv.select(
        "user_id", "s", "e", "event_id",
        F.when(
            F.col("s") > F.coalesce(F.max("e").over(w_prev), F.lit(-1)), 1
        ).otherwise(0).alias("new_island"),
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    grp = marked.select(
        "user_id", "s", "e", F.sum("new_island").over(w_run).alias("island")
    )
    return grp.groupBy("user_id", "island").agg(
        F.min("s").alias("start_s"),
        F.max("e").alias("end_s"),
        F.count(F.lit(1)).alias("n_events"),
    )


@query(
    "basket_brand_affinity",
    oracle="""
    WITH ob AS (
      SELECT DISTINCT l.l_orderkey, p.p_brand
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ),
    n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM ob),
    marg AS (SELECT p_brand, count(*) AS cnt FROM ob GROUP BY p_brand),
    co AS (
      SELECT a.p_brand AS brand_a, b.p_brand AS brand_b, count(*) AS co_cnt
      FROM ob a JOIN ob b
        ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
      GROUP BY 1, 2
    )
    SELECT brand_a, brand_b, co_cnt,
           CAST(co_cnt::HUGEINT * n.n_orders * 1000000
                // (ma.cnt::HUGEINT * mb.cnt) AS BIGINT) AS lift_ppm
    FROM co, n
    JOIN marg ma ON co.brand_a = ma.p_brand
    JOIN marg mb ON co.brand_b = mb.p_brand
    WHERE co_cnt >= 20
    """,
)
def basket_brand_affinity(spark, sf_dir):
    """Market-basket co-occurrence ("frequently bought together"):
    brand pairs appearing in the same order, with LIFT in exact
    integer ppm (co·N·10^6 div (cnt_a·cnt_b) — lift > 1e6 means the
    pair co-occurs more than independence predicts). Plan: the
    (order, brand) incidence table is built once with a BROADCAST
    part-dim join + distinct; the pair join self-joins incidence on
    the order key, so candidate volume is Σ_o |brands(o)|² — bounded
    by basket size squared, never |orders|²; marginals and the order
    count ride as broadcasts. The a<b guard halves the pairs and
    kills mirror duplicates at the source, the same canonical-
    orientation trick as triangle enumeration."""
    t = T(spark, sf_dir, "lineitem", "part")
    li, p = t["lineitem"].df, t["part"].df
    # the incidence table feeds the order census, the marginals, and
    # BOTH pair-join legs — PINNED per the used-more-than-once policy
    # (two narrow columns; unpinned this plan compiled the fact join
    # five times)
    ob = pin(
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .select("l_orderkey", "p_brand")
        .distinct()
    )
    n = ob.select("l_orderkey").distinct().agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    marg = ob.groupBy("p_brand").agg(F.count(F.lit(1)).alias("cnt"))
    a, b = ob.alias("a"), ob.alias("b")
    co = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.p_brand") < F.col("b.p_brand")),
        )
        .groupBy(
            F.col("a.p_brand").alias("brand_a"), F.col("b.p_brand").alias("brand_b")
        )
        .agg(F.count(F.lit(1)).alias("co_cnt"))
        .filter(F.col("co_cnt") >= 20)
    )
    ma = marg.select(F.col("p_brand").alias("brand_a"), F.col("cnt").alias("ca"))
    mb = marg.select(F.col("p_brand").alias("brand_b"), F.col("cnt").alias("cb"))
    return (
        co.crossJoin(F.broadcast(n))
        .join(F.broadcast(ma), "brand_a")
        .join(F.broadcast(mb), "brand_b")
        .select(
            "brand_a", "brand_b", "co_cnt",
            F.expr(
                "CAST(CAST(co_cnt AS DECIMAL(38,0)) * n_orders * 1000000"
                " div (CAST(ca AS DECIMAL(38,0)) * cb) AS BIGINT)"
            ).alias("lift_ppm"),
        )
    )


@query(
    "dq_join_explosion_audit",
    oracle="""
    WITH k AS (
      SELECT l_partkey, count(*)::HUGEINT AS c FROM lineitem GROUP BY l_partkey
    )
    SELECT CAST(sum(c * c) AS BIGINT) AS total_pairs,
           count(*) AS n_keys,
           CAST(max(c * c) AS BIGINT) AS max_key_pairs,
           count(*) FILTER (c * c > 100) AS n_hot_keys
    FROM k
    """,
)
def dq_join_explosion_audit(spark, sf_dir):
    """Join-cardinality audit WITHOUT running the join: the output
    size of a self-join on l_partkey is exactly Σ_k c(k)² — computed
    from the per-key count table (one hash-agg + one constant-width
    fold), never by materializing the pairs. This is the pre-flight
    check before any M:N join at 100 TB: total blow-up, the single
    worst key (the one that lands in one task and decides the
    stage's tail latency), and how many keys exceed the
    hot-threshold — the numbers that decide between a plain shuffle
    join, AQE skew splitting, or salting. Same shape audits any
    equi-join by computing per-key counts on each side and
    Σ c_a(k)·c_b(k)."""
    li = T(spark, sf_dir, "lineitem")["lineitem"].df
    k = li.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("c")
    )
    cc = F.col("c") * F.col("c")
    return k.agg(
        F.sum(cc).cast("bigint").alias("total_pairs"),
        F.count(F.lit(1)).alias("n_keys"),
        F.max(cc).cast("bigint").alias("max_key_pairs"),
        F.count(F.when(cc > 100, 1)).alias("n_hot_keys"),
    )


@query(
    "events_heatmap_hour_dow",
    oracle="""
    SELECT (epoch_us(ts) // 86400000000 + 4) % 7 AS dow,
           (epoch_us(ts) // 3600000000) % 24 AS hour,
           count(*) AS n,
           count(DISTINCT user_id) AS n_users
    FROM events GROUP BY 1, 2
    """,
)
def events_heatmap_hour_dow(spark, sf_dir):
    """Activity heatmap (day-of-week x hour-of-day) — the usage-
    pattern matrix behind every ops dashboard. Calendar arithmetic is
    PURE integer math on epoch-microseconds (dow = (epoch_day + 4)
    mod 7, anchored on 1970-01-01 being a Thursday; hour = epoch-hour
    mod 24) — no engine calendar functions, whose week-start and
    timezone conventions differ between engines (Spark dayofweek is
    1-based Sunday-first, DuckDB 0-based — the exact class of silent
    mismatch this corpus avoids by construction). One hash-agg to a
    7x24-bounded result; distinct-user counts partial-aggregate per
    cell."""
    e = io.read_parquet(spark, f"{sf_dir}/events.parquet").df
    return e.groupBy(
        F.expr("(unix_micros(ts) div 86400000000 + 4) % 7").alias("dow"),
        F.expr("(unix_micros(ts) div 3600000000) % 24").alias("hour"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct("user_id").alias("n_users"),
    )


@query(
    "events_markov_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    ),
    pairs AS (
      SELECT prev_type, event_type AS next_type, count(*) AS cnt
      FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2
    ),
    marg AS (SELECT prev_type, sum(cnt) AS n FROM pairs GROUP BY prev_type)
    SELECT p.prev_type, p.next_type, p.cnt,
           CAST(p.cnt::HUGEINT * 1000000 // m.n AS BIGINT) AS prob_ppm
    FROM pairs p JOIN marg m ON p.prev_type = m.prev_type
    """,
)
def events_markov_transitions(spark, sf_dir):
    """First-order Markov transition matrix over user event sequences
    — the behavioral model behind next-action prediction and funnel
    drop-off analysis: P(next | prev) for every event-type pair, as
    exact integer ppm (cnt·10^6 integral-div row marginal). The
    sequence adjacency comes from ONE lag window PARTITIONED by user
    (per-user ordering is the parallelism unit — nothing global,
    same discipline as sessionize), then two hash-aggs over the
    |types|²-bounded pair space; the conditional join is
    broadcast-sized forever. Deterministic tie-break: lag ordered by
    (ts, event_id) so same-timestamp events can't reorder between
    engines."""
    e = io.read_parquet(spark, f"{sf_dir}/events.parquet").df
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    pairs = seq.groupBy("prev_type", F.col("event_type").alias("next_type")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    marg = pairs.groupBy("prev_type").agg(F.sum("cnt").alias("n"))
    return pairs.join(F.broadcast(marg), "prev_type").select(
        "prev_type", "next_type", "cnt",
        F.expr(
            "CAST(CAST(cnt AS DECIMAL(38,0)) * 1000000 div n AS BIGINT)"
        ).alias("prob_ppm"),
    )


@query(
    "orc_roundtrip_agg",
    oracle="""
    SELECT c_mktsegment, count(*) AS n,
           CAST(sum(floor(c_acctbal * 100 + 0.5)) AS BIGINT) AS bal_c,
           count(DISTINCT c_nationkey) AS n_nations
    FROM customer GROUP BY c_mktsegment
    """,
)
def orc_roundtrip_agg(spark, sf_dir):
    """ORC sink + source round-trip (io.read_orc/DataBag.write_orc):
    customer written to ORC and read back, then aggregated — the hash
    match against the ORIGINAL parquet proves the columnar codec
    round-trips rows, doubles and keys losslessly (the same proof
    shape as csv_roundtrip_agg and jsonl_roundtrip_agg, completing
    the text/columnar sink matrix). ORC keeps parquet's scan
    properties — predicate pushdown, column pruning, splittable
    stripes — so swapping formats never changes a plan's scale
    behavior, only its encoding."""
    c = T(spark, sf_dir, "customer")["customer"]
    path = io.scratch_dir("emma_orc_rt_") + "/customer"
    c.write_orc(path)
    back = io.read_orc(spark, path)
    return back.df.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.floor(F.col("c_acctbal") * 100 + F.lit(0.5))).alias("bal_c"),
        F.count_distinct("c_nationkey").alias("n_nations"),
    )


@query(
    "null_semantics_surface",
    oracle="""
    WITH t AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 3 = 0 THEN NULL ELSE o_totalprice END AS p,
             CASE WHEN o_orderkey % 5 = 0 THEN NULL
                  ELSE o_orderpriority END AS pr
      FROM orders WHERE o_orderkey % 7 = 0
    )
    SELECT count(*) AS n_rows,
           count(p) AS n_p,
           count(*) FILTER (p IS NULL) AS n_null_p,
           count(*) FILTER (p IS NOT DISTINCT FROM NULL) AS n_nsafe_null,
           count(*) FILTER (pr IS NOT DISTINCT FROM '1-URGENT') AS n_urgent_nsafe,
           count(*) FILTER (coalesce(pr, 'MISSING') = 'MISSING') AS n_coalesced,
           count(*) FILTER (nullif(pr, '1-URGENT') IS NULL AND pr IS NOT NULL)
             AS n_nullified,
           CAST(sum(floor(coalesce(p, 0) * 100 + 0.5)) AS BIGINT) AS sum_c,
           count(*) FILTER ((p > 100000) IS NULL) AS n_unknown_cmp
    FROM t
    """,
)
def null_semantics_surface(spark, sf_dir):
    """Three-valued-logic surface: the NULL behaviors that silently
    differ between engines if an implementation is careless —
    count(col) vs count(*), null-safe equality (Spark ``<=>`` ≡ SQL
    IS NOT DISTINCT FROM), coalesce/nullif, aggregate null-skipping,
    and comparisons evaluating to UNKNOWN (neither TRUE nor FALSE).
    The reference models optionality as Scala Option fields
    (SURVEY §1.2); this engine maps Option to nullable columns, so
    SQL null semantics ARE the Option semantics and must be exact.
    Pure single-scan conditional aggregation."""
    o = T(spark, sf_dir, "orders")["orders"].df
    t = o.filter(F.col("o_orderkey") % 7 == 0).select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 3 == 0, None)
        .otherwise(F.col("o_totalprice"))
        .alias("p"),
        F.when(F.col("o_orderkey") % 5 == 0, None)
        .otherwise(F.col("o_orderpriority"))
        .alias("pr"),
    )
    unknown_cmp = F.col("p") > 100000
    return t.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("p").alias("n_p"),
        F.count(F.when(F.col("p").isNull(), 1)).alias("n_null_p"),
        F.count(F.when(F.col("p").eqNullSafe(F.lit(None)), 1)).alias(
            "n_nsafe_null"
        ),
        F.count(F.when(F.col("pr").eqNullSafe("1-URGENT"), 1)).alias(
            "n_urgent_nsafe"
        ),
        F.count(
            F.when(F.coalesce("pr", F.lit("MISSING")) == "MISSING", 1)
        ).alias("n_coalesced"),
        F.count(
            F.when(
                F.nullif("pr", F.lit("1-URGENT")).isNull()
                & F.col("pr").isNotNull(),
                1,
            )
        ).alias("n_nullified"),
        F.sum(F.floor(F.coalesce("p", F.lit(0)) * 100 + F.lit(0.5)))
        .cast("bigint")
        .alias("sum_c"),
        F.count(F.when(unknown_cmp.isNull(), 1)).alias("n_unknown_cmp"),
    )


@query(
    "events_user_ltv_decay",
    oracle="""
    WITH d AS (
      SELECT user_id,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS value_c,
             greatest(least((19753 - epoch_us(ts) // 86400000000) // 7, 62), 0) AS w
      FROM events
    )
    SELECT user_id,
           count(*) AS n_events,
           CAST(sum(value_c // (1 << w)) AS BIGINT) AS decayed_value_c,
           CAST(sum(value_c) AS BIGINT) AS raw_value_c
    FROM d GROUP BY user_id
    """,
)
def events_user_ltv_decay(spark, sf_dir):
    """Recency-decayed engagement value per user (the LTV/churn-risk
    score): each event's value is halved for every week of age at the
    observation point (2024-01-31, epoch day 19753) — EXACT integer
    half-life decay (value_c div 2^weeks, a bit shift) instead of
    float exp(-λt), so the score is bit-stable across engines and
    reruns while keeping the economically-meaningful geometric decay
    (shift capped at 62 — beyond that the value is 0 anyway and an
    uncapped shift would overflow on multi-year corpora).
    ONE hash-agg; the decay is narrow arithmetic on the scan. The
    standard float-decay variant differs only in the per-row
    expression — the plan is identical."""
    e = io.read_parquet(spark, f"{sf_dir}/events.parquet").df
    d = e.select(
        "user_id",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("value_c"),
        F.expr(
            # clamped to [0, 62]: events AFTER the observation day would
            # otherwise shift by a NEGATIVE amount — DuckDB errors,
            # Spark masks
            "greatest(least((19753 - unix_micros(ts) div 86400000000)"
            " div 7, 62), 0)"
        ).alias("w"),
    )
    return d.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.expr("value_c div (1 << w)")).cast("bigint").alias(
            "decayed_value_c"
        ),
        F.sum("value_c").cast("bigint").alias("raw_value_c"),
    )


@query(
    "orders_lorenz_curve",
    oracle="""
    WITH pc AS (
      SELECT o_custkey,
             CAST(sum(floor(o_totalprice * 100 + 0.5)) AS BIGINT) AS rev_c
      FROM orders GROUP BY o_custkey
    ),
    mm AS (SELECT min(rev_c) AS lo, max(rev_c) AS hi,
                  count(*) AS n_cust, sum(rev_c) AS total_rev FROM pc),
    binned AS (
      SELECT (pc.rev_c - mm.lo) * 64 // (mm.hi - mm.lo + 1) AS bin,
             count(*) AS n_cust_bin, sum(pc.rev_c) AS rev_bin
      FROM pc, mm GROUP BY 1
    ),
    cum AS (
      SELECT bin,
             sum(n_cust_bin) OVER w AS cum_cust,
             sum(rev_bin) OVER w AS cum_rev
      FROM binned
      WINDOW w AS (ORDER BY bin DESC ROWS UNBOUNDED PRECEDING)
    )
    SELECT bin,
           CAST(cum_cust * 1000000 // mm.n_cust AS BIGINT) AS cum_cust_ppm,
           CAST(cum_rev::HUGEINT * 1000000 // mm.total_rev AS BIGINT)
             AS cum_rev_ppm
    FROM cum, mm
    """,
)
def orders_lorenz_curve(spark, sf_dir):
    """Revenue-concentration (Lorenz/Pareto) curve WITHOUT a global
    sort: per-customer revenue is folded into a 64-cell equi-width
    VALUE HISTOGRAM (exact integer bin arithmetic, as
    sketch_quantile_bins), and the concentration curve — 'the top x%%
    of customers produce y%% of revenue' — is read off the ≤64-row
    descending cumulative. The textbook Lorenz construction sorts
    every customer (one-task global sort, the scale-killer); the
    histogram version is one per-customer hash-agg + one ≤64-cell agg
    + a bounded window, with resolution = one bin width. Shares in
    exact integer ppm (HUGEINT/DECIMAL product before the integral
    divide — cum_rev·10^6 overflows a bigint at sf ≥ 0.1)."""
    from pyspark.sql import Window

    o = io.read_parquet(spark, f"{sf_dir}/orders.parquet").df
    pc = o.groupBy("o_custkey").agg(
        F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)))
        .cast("bigint")
        .alias("rev_c")
    )
    mm = pc.agg(
        F.min("rev_c").alias("lo"), F.max("rev_c").alias("hi"),
        F.count(F.lit(1)).alias("n_cust"), F.sum("rev_c").alias("total_rev"),
    )
    binned = (
        pc.crossJoin(F.broadcast(mm))
        .groupBy(F.expr("(rev_c - lo) * 64 div (hi - lo + 1)").alias("bin"))
        .agg(F.count(F.lit(1)).alias("n_cust_bin"), F.sum("rev_c").alias("rev_bin"))
    )
    w = Window.orderBy(F.desc("bin")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = binned.select(
        "bin",
        F.sum("n_cust_bin").over(w).alias("cum_cust"),
        F.sum("rev_bin").over(w).alias("cum_rev"),
    )
    return cum.crossJoin(F.broadcast(mm)).select(
        "bin",
        F.expr("CAST(cum_cust * 1000000 div n_cust AS BIGINT)").alias(
            "cum_cust_ppm"
        ),
        F.expr(
            "CAST(CAST(cum_rev AS DECIMAL(38,0)) * 1000000 div total_rev"
            " AS BIGINT)"
        ).alias("cum_rev_ppm"),
    )


@query(
    "join_asof_nearest",
    oracle="""
    WITH err AS (
      SELECT event_id AS eid, user_id, epoch_us(ts) AS t
      FROM events WHERE event_type = 'error'
    ),
    clk AS (
      SELECT event_id AS cid, user_id, epoch_us(ts) AS t
      FROM events WHERE event_type = 'click'
    ),
    cand AS (
      SELECT e.eid, e.user_id,
             c.cid, abs(e.t - c.t) AS adist
      FROM err e JOIN clk c
        ON e.user_id = c.user_id
       AND c.t BETWEEN e.t - 1800000000 AND e.t + 1800000000
    )
    SELECT eid, user_id,
           min_by(cid, adist::HUGEINT * 1000000000000 + cid) AS nearest_click,
           min(adist) // 1000000 AS dist_s
    FROM cand GROUP BY eid, user_id
    """,
)
def join_asof_nearest(spark, sf_dir):
    """NEAREST-direction as-of join — completing the as-of family
    (backward: asof_join_purchases; forward: asof_forward_conversion;
    nearest: this): each error event finds the closest click of the
    same user within ±30 min, whichever side it lies on — sensor
    fusion / log correlation semantics. Candidates come from the
    user-key equi-join with the tolerance as a residual range
    predicate (per-user volume bounded by events-per-window, never
    cross-user); the nearest pick is ONE min_by hash-agg with the
    widened composite key (|Δt|·10^6 + click id — microsecond
    distances can tie, the id slot makes the winner deterministic),
    no window, no sort. DuckDB replays the same composite-key pick."""
    e = io.read_parquet(spark, f"{sf_dir}/events.parquet").df
    err = e.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("eid"), "user_id",
        F.unix_micros("ts").alias("t_e"),
    )
    clk = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("cid"),
        F.col("user_id").alias("c_user"),
        F.unix_micros("ts").alias("t_c"),
    )
    tol = 1800 * 1000000
    cand = err.join(
        clk,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("t_c") >= F.col("t_e") - tol)
        & (F.col("t_c") <= F.col("t_e") + tol),
    ).select(
        "eid", "user_id", "cid",
        F.abs(F.col("t_e") - F.col("t_c")).alias("adist"),
    )
    okey = F.col("adist").cast("decimal(38,0)") * F.lit(1000000000000) + F.col(
        "cid"
    )
    return cand.groupBy("eid", "user_id").agg(
        F.min_by("cid", okey).alias("nearest_click"),
        F.expr("min(adist) div 1000000").alias("dist_s"),
    )


@query(
    "events_sliding_batch_counts",
    oracle="""
    WITH ws AS (
      SELECT event_type, t.w AS win_start, count(*) AS n
      FROM (
        SELECT event_type,
               epoch_us(ts) // 1000000 AS s,
               ((epoch_us(ts) // 1000000 - 3600) // 1800 + 1) AS w0
        FROM events
      ) e,
      unnest([e.w0, e.w0 + 1]) AS t(w)
      WHERE t.w * 1800 <= e.s AND e.s < t.w * 1800 + 3600
      GROUP BY 1, 2
    )
    SELECT event_type, win_start * 1800 AS win_start_s, n FROM ws
    """,
)
def events_sliding_batch_counts(spark, sf_dir):
    """BATCH sliding-window aggregation (1 h windows sliding every
    30 min) via explode-to-windows — the batch twin of
    stream_sliding_counts and the pattern behind backfilling any
    streaming sliding metric from historical data: each event emits
    one row per window that covers it (size/slide = 2, a bounded
    literal explode — no window function, no self-join, no range
    join), then one (window, key) hash-agg with map-side partials.
    Window ids are pure integer division on epoch-seconds, so both
    engines enumerate identical windows; the guard predicate drops
    the one candidate that doesn't actually cover early-in-window
    events."""
    e = io.read_parquet(spark, f"{sf_dir}/events.parquet").df
    base = e.select(
        "event_type",
        F.expr("unix_micros(ts) div 1000000").alias("s"),
        F.expr("(unix_micros(ts) div 1000000 - 3600) div 1800 + 1").alias("w0"),
    )
    ex = base.select(
        "event_type", "s",
        F.explode(F.array(F.col("w0"), F.col("w0") + 1)).alias("w"),
    ).filter(
        (F.col("w") * 1800 <= F.col("s")) & (F.col("s") < F.col("w") * 1800 + 3600)
    )
    return ex.groupBy(
        "event_type", (F.col("w") * 1800).alias("win_start_s")
    ).agg(F.count(F.lit(1)).alias("n"))


@query(
    "udf_cogroup_reconcile",
    oracle="""
    WITH ev AS (
      SELECT user_id, count(*) AS n_events,
             CAST(sum(floor(value * 100 + 0.5)) AS BIGINT) AS event_value_c
      FROM events WHERE user_id < 40 GROUP BY user_id
    ),
    cu AS (
      SELECT c_custkey % 40 AS user_id,
             count(*) AS n_accounts,
             CAST(sum(floor(c_acctbal * 100 + 0.5)) AS BIGINT) AS acct_c
      FROM customer WHERE c_custkey % 40 < 40 GROUP BY c_custkey % 40
    )
    SELECT coalesce(ev.user_id, cu.user_id) AS user_id,
           coalesce(ev.n_events, 0) AS n_events,
           coalesce(cu.n_accounts, 0) AS n_accounts,
           coalesce(ev.event_value_c, 0) - coalesce(cu.acct_c, 0) AS delta_c
    FROM ev FULL OUTER JOIN cu ON ev.user_id = cu.user_id
    """,
)
def udf_cogroup_reconcile(spark, sf_dir):
    """COGROUP grouped-map surface — the last pandas-UDF shape in the
    API matrix (scalar: udf_arrow_scalar; grouped agg: py_fold;
    grouped map: fold_histogram_pandas_udaf; table function:
    udtf_expand_props; THIS: two-sided grouped map): both relations
    are hash-partitioned on the key and each key's TWO pandas frames
    arrive in one Python call — the reconciliation/alignment seam for
    logic SQL can't express (per-key sequence alignment, custom
    matching). Arrow-batched like every Python seam here; both sides
    shuffle once on the key, which is exactly a full-outer-join
    exchange. THIS demo logic (counts + exact-cent delta per key) IS
    SQL-expressible — deliberately, so the cogroup machinery itself
    is oracle-checked; swap the body for genuinely imperative
    alignment and the dataflow is unchanged."""
    import pandas as pd

    e = io.read_parquet(spark, f"{sf_dir}/events.parquet").df
    c = T(spark, sf_dir, "customer")["customer"].df
    ev = e.filter(F.col("user_id") < 40).select(
        "user_id", F.floor(F.col("value") * 100 + F.lit(0.5)).alias("v_c")
    )
    cu = c.select((F.col("c_custkey") % 40).alias("user_id"),
                  F.floor(F.col("c_acctbal") * 100 + F.lit(0.5)).alias("b_c"))

    def reconcile(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        uid = int(left["user_id"].iloc[0] if len(left) else right["user_id"].iloc[0])
        ev_sum = int(left["v_c"].sum()) if len(left) else 0
        ac_sum = int(right["b_c"].sum()) if len(right) else 0
        return pd.DataFrame(
            {
                "user_id": [uid],
                "n_events": [len(left)],
                "n_accounts": [len(right)],
                "delta_c": [ev_sum - ac_sum],
            }
        )

    return (
        ev.groupBy("user_id")
        .cogroup(cu.groupBy("user_id"))
        .applyInPandas(
            reconcile,
            "user_id bigint, n_events bigint, n_accounts bigint, delta_c bigint",
        )
    )


@query(
    "parquet_schema_evolution",
    oracle="""
    WITH old AS (
      SELECT n_nationkey, n_name FROM nation WHERE n_nationkey < 13
    ),
    new AS (
      SELECT n_nationkey, n_name, n_regionkey FROM nation
      WHERE n_nationkey >= 13
    )
    SELECT coalesce(u.n_regionkey, -1) AS region, count(*) AS n,
           CAST(sum(u.n_nationkey) AS BIGINT) AS key_sum
    FROM (
      SELECT n_nationkey, n_name, NULL::INTEGER AS n_regionkey FROM old
      UNION ALL
      SELECT n_nationkey, n_name, n_regionkey FROM new
    ) u
    GROUP BY 1
    """,
)
def parquet_schema_evolution(spark, sf_dir):
    """Schema evolution on a parquet directory — the lake reality that
    old files lack columns newer files carry: two batches are written
    with DIFFERENT schemas (the second adds n_regionkey), read back as
    one table with ``mergeSchema``, and rows from pre-evolution files
    surface the new column as NULL (coalesced to a sentinel in the
    report). At 100 TB this is why ingestion never rewrites history:
    the merged read is per-file-schema reconciliation at scan time,
    no data movement. mergeSchema costs a footer read per file — on
    curated lakes pin the canonical schema instead (read_parquet's
    explicit-schema path) and keep mergeSchema for discovery."""
    n = T(spark, sf_dir, "nation")["nation"].df
    base = io.scratch_dir("emma_schevo_")
    n.filter(F.col("n_nationkey") < 13).select(
        "n_nationkey", "n_name"
    ).write.mode("overwrite").parquet(f"{base}/b1")
    n.filter(F.col("n_nationkey") >= 13).select(
        "n_nationkey", "n_name", "n_regionkey"
    ).write.mode("overwrite").parquet(f"{base}/b2")
    merged = spark.read.option("mergeSchema", True).parquet(
        f"{base}/b1", f"{base}/b2"
    )
    return merged.groupBy(
        F.coalesce("n_regionkey", F.lit(-1)).alias("region")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_nationkey").cast("bigint").alias("key_sum"),
    )


@query(
    "variant_ops_surface",
    # The oracle replays Spark's try_variant_get(..., 'bigint')
    # coercion EXACTLY, branching on the JSON value type: numbers
    # TRUNCATE toward zero (never CAST(json AS BIGINT), which rounds in
    # DuckDB), booleans map to 1/0, strings convert only when they are
    # integer literals (Spark nulls "9.5"), everything else is NULL.
    # Same validity gate as udtf_expand_props.
    oracle="""
    WITH kv AS (
      -- validity gate (exotic-props tier, r10): malformed / empty /
      -- NULL docs extract as NULL on both engines (Spark
      -- try_parse_json -> NULL variant; json_valid gate here), and
      -- DUPLICATE-KEY docs quarantine to NULL the same way —
      -- Spark's VARIANT builder rejects duplicate keys outright
      -- where DuckDB's extract would read the first occurrence.
      -- Rows are NEVER filtered out: n counts every event, corrupt
      -- docs just contribute NULL extractions.
      SELECT event_type,
             json_extract_string(good, '$.k') AS s,
             json_type(good, '$.k') AS t,
             json_extract(good, '$.missing') AS miss
      FROM (
        SELECT event_type,
               CASE WHEN len(json_keys(jp)) =
                         len(list_distinct(json_keys(jp)))
                    THEN jp END AS good
        FROM (
          SELECT event_type,
                 CASE WHEN props IS NOT NULL AND json_valid(props)
                      THEN props::JSON END AS jp
          FROM events WHERE event_id % 13 = 0
        )
      )
    ), coerced AS (
      SELECT event_type, miss,
             CASE t
               WHEN 'BOOLEAN' THEN CASE s WHEN 'true' THEN 1 ELSE 0 END
               WHEN 'BIGINT'  THEN CAST(s AS BIGINT)
               WHEN 'UBIGINT' THEN TRY_CAST(s AS BIGINT)
               WHEN 'DOUBLE'  THEN TRY_CAST(trunc(CAST(s AS DOUBLE)) AS BIGINT)
               WHEN 'VARCHAR' THEN CASE
                 WHEN regexp_matches(
                        trim(s, ' ' || chr(9) || chr(10) || chr(13)
                               || chr(12) || chr(11)),
                        '^[+-]?[0-9]+$')
                   THEN TRY_CAST(trim(s, ' ' || chr(9) || chr(10)
                               || chr(13) || chr(12) || chr(11)) AS BIGINT)
                 ELSE NULL END
               ELSE NULL
             END AS k
      FROM kv
    )
    SELECT event_type,
           count(*) AS n,
           CAST(sum(CASE WHEN k BETWEEN -2147483647 AND 2147483647 THEN k END)
                AS BIGINT) AS k_sum,
           count(*) FILTER (miss IS NULL) AS n_missing,
           max(CASE WHEN k BETWEEN -2147483647 AND 2147483647 THEN k END) AS k_max
    FROM coerced
    GROUP BY event_type
    """,
)
def variant_ops_surface(spark, sf_dir):
    """VARIANT type surface (Spark 4's native semi-structured type):
    props parsed ONCE into a binary variant column (``parse_json``),
    then typed path extraction (``variant_get``), missing-path probing
    (``try_variant_get`` → NULL, never an error), and aggregation over
    the extracted values. Versus from_json-with-schema (the
    json_extract_fields query): variant needs NO declared schema, keeps
    the full document, and its binary encoding makes repeated path
    reads cheap — the right default for heterogeneous event/metadata
    blobs at ingestion; project hot paths into real columns when the
    schema stabilizes. The oracle reads the same paths with DuckDB's
    JSON functions — extraction semantics, not encoding, is the
    contract."""
    e = io.read_parquet(spark, f"{sf_dir}/events.parquet").df
    # try_parse_json, not parse_json: a malformed or duplicate-keyed
    # document becomes a NULL variant (every extraction NULL) instead
    # of killing the job — the oracle's validity/dup gates mirror it
    v = e.filter(F.col("event_id") % 13 == 0).select(
        "event_type", F.try_parse_json("props").alias("pv")
    )
    # try_variant_get, not variant_get: a non-castable value must yield
    # NULL like the oracle's CASE, never raise; the int32-range clamp
    # keeps the ANSI sum from overflowing on any engine (same contract
    # as udtf_expand_props)
    k0 = F.try_variant_get(F.col("pv"), "$.k", "bigint")
    k = F.when(k0.between(-2147483647, 2147483647), k0)
    missing = F.try_variant_get(F.col("pv"), "$.missing", "string")
    return v.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(k).cast("bigint").alias("k_sum"),
        F.count(F.when(missing.isNull(), 1)).alias("n_missing"),
        F.max(k).alias("k_max"),
    )


@query(
    "events_session_window_builtin",
    oracle="""
    WITH iv AS (
      SELECT user_id, epoch_us(ts) AS t, event_id
      FROM events WHERE user_id < 20
    ),
    marked AS (
      SELECT user_id, t,
             CASE WHEN t >= coalesce(max(t + 1800000000) OVER (
                    PARTITION BY user_id ORDER BY t, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                  THEN 1 ELSE 0 END AS ni
      FROM iv
    ),
    grp AS (
      SELECT user_id, t,
             sum(ni) OVER (PARTITION BY user_id ORDER BY t
                           ROWS UNBOUNDED PRECEDING) AS sess
      FROM marked
    )
    SELECT user_id, min(t) AS start_us, max(t) + 1800000000 AS end_us,
           count(*) AS n_events
    FROM grp GROUP BY user_id, sess
    """,
)
def events_session_window_builtin(spark, sf_dir):
    """The BUILT-IN ``session_window`` aggregation (dynamic-gap session
    merging inside the engine, one groupBy — usable identically in
    batch and streaming) next to the repo's manual lag-based
    sessionize (events_sessionize): windows [t, t+30 min) merge while
    they OVERLAP, so an exactly-30-minute gap starts a NEW session —
    note the >= in the oracle's island test; the lag-based variant's
    ``diff > gap`` convention would merge that boundary case. Exposing
    both pins the subtle semantic difference instead of letting it
    lurk. Oracle replays the merge as gaps-and-islands on epoch
    microseconds."""
    e = io.read_parquet(spark, f"{sf_dir}/events.parquet").df
    s = (
        e.filter(F.col("user_id") < 20)
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    return s.select(
        "user_id",
        F.unix_micros("session_window.start").alias("start_us"),
        F.unix_micros("session_window.end").alias("end_us"),
        "n_events",
    )


@query(
    "events_feature_store_pit",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_id, event_type, ts,
             count(*) OVER pw AS n_prior,
             coalesce(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) OVER pw, 0)
               AS value_c_prior,
             count(*) FILTER (event_type = 'error') OVER pw AS n_prior_errors
      FROM events
      WINDOW pw AS (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    )
    SELECT event_id AS label_id, user_id, n_prior,
           CAST(value_c_prior AS BIGINT) AS value_c_prior,
           n_prior_errors
    FROM seq WHERE event_type = 'purchase'
    """,
)
def events_feature_store_pit(spark, sf_dir):
    """Point-in-time-correct feature extraction — the temporal-leakage
    guard every training pipeline needs: for each label event (a
    purchase), features are computed over STRICTLY PRIOR events of
    the same user (rows-between … and 1 preceding), so no information
    from at-or-after the label time leaks into its features; a plain
    groupBy join would silently train on the future. One
    user-partitioned ordered window (per-key sequences, the
    parallelism unit at any scale), deterministic (ts, event_id)
    ordering, exact cents. The two-table variant of the same
    discipline is scd2_point_in_time_lookup (dimension-as-of) /
    asof_join_purchases (event-as-of); this is the self-history
    variant that feeds feature stores."""
    e = io.read_parquet(spark, f"{sf_dir}/events.parquet").df
    pw = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    seq = e.select(
        "user_id", "event_id", "event_type",
        F.count(F.lit(1)).over(pw).alias("n_prior"),
        F.coalesce(
            F.sum(
                F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint")
            ).over(pw),
            F.lit(0),
        ).alias("value_c_prior"),
        F.count(F.when(F.col("event_type") == "error", 1)).over(pw).alias(
            "n_prior_errors"
        ),
    )
    return seq.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("label_id"), "user_id", "n_prior",
        "value_c_prior", "n_prior_errors",
    )


@query(
    "dq_referential_integrity",
    oracle="""
    SELECT 'lineitem.l_partkey->part' AS fk, count(*) AS n_rows,
           count(*) FILTER (p.p_partkey IS NULL) AS n_orphans
    FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey
    UNION ALL
    SELECT 'lineitem.l_orderkey->orders', count(*),
           count(*) FILTER (o.o_orderkey IS NULL)
    FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
    UNION ALL
    SELECT 'orders.o_custkey->customer', count(*),
           count(*) FILTER (c.c_custkey IS NULL)
    FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    """,
)
def dq_referential_integrity(spark, sf_dir):
    """Referential-integrity audit — the constraint check a lake must
    run itself (no engine-enforced FKs in parquet land): orphan counts
    for the three core FK relationships, each as one LEFT join with a
    null-probe count. Plan: the dimension sides (part, customer,
    orders-as-dim) broadcast when small or hash-join on the key when
    not — either way one pass per relationship, and a real deployment
    runs the three probes over the SAME fact scan (Spark reuses the
    cached scan across the union branches). Zero orphans is the
    expected result on this corpus — the query's value is the shape;
    its alerting form filters n_orphans > 0."""
    t = T(spark, sf_dir, "lineitem", "orders", "customer", "part")
    li, o = t["lineitem"].df, t["orders"].df
    c, p = t["customer"].df, t["part"].df

    def probe(fact, dim, fk, pk, label):
        d = dim.select(F.col(pk).alias("__pk"))
        return (
            fact.join(d, fact[fk] == F.col("__pk"), "left")
            .agg(
                F.lit(label).alias("fk"),
                F.count(F.lit(1)).alias("n_rows"),
                F.count(F.when(F.col("__pk").isNull(), 1)).alias("n_orphans"),
            )
        )

    return (
        probe(li, p, "l_partkey", "p_partkey", "lineitem.l_partkey->part")
        .unionByName(
            probe(li, o, "l_orderkey", "o_orderkey",
                  "lineitem.l_orderkey->orders")
        )
        .unionByName(
            probe(o, c, "o_custkey", "c_custkey", "orders.o_custkey->customer")
        )
    )


@query(
    "dq_uniqueness_audit",
    oracle="""
    SELECT 'orders.o_orderkey' AS key_col, count(*) AS n_rows,
           count(DISTINCT o_orderkey) AS n_distinct,
           count(*) - count(DISTINCT o_orderkey) AS n_dup_rows
    FROM orders
    UNION ALL
    SELECT 'customer.c_custkey', count(*), count(DISTINCT c_custkey),
           count(*) - count(DISTINCT c_custkey)
    FROM customer
    UNION ALL
    SELECT 'lineitem.(l_orderkey,l_linenumber)', count(*),
           count(DISTINCT l_orderkey * 10000 + l_linenumber),
           count(*) - count(DISTINCT l_orderkey * 10000 + l_linenumber)
    FROM lineitem
    """,
)
def dq_uniqueness_audit(spark, sf_dir):
    """Primary-key uniqueness audit — the other half of constraint
    checking next to dq_referential_integrity (parquet enforces
    neither): row count vs distinct key count per declared key,
    including a COMPOSITE key folded into one comparable value
    (orderkey·10^4 + linenumber — the slot exceeds the 7-line max per
    order, the widened-slot rule again). One count-distinct agg per
    table; at 100 TB swap exact count(distinct) for the portable HLL
    (sketch_hll_distinct) when an approximate uniqueness signal is
    enough — the plan shape is identical."""
    t = T(spark, sf_dir, "orders", "customer", "lineitem")
    o, c, li = t["orders"].df, t["customer"].df, t["lineitem"].df

    def probe(df, key_col, label):
        return df.agg(
            F.lit(label).alias("key_col"),
            F.count(F.lit(1)).alias("n_rows"),
            F.count_distinct(key_col).alias("n_distinct"),
            (F.count(F.lit(1)) - F.count_distinct(key_col)).alias("n_dup_rows"),
        )

    return (
        probe(o, F.col("o_orderkey"), "orders.o_orderkey")
        .unionByName(probe(c, F.col("c_custkey"), "customer.c_custkey"))
        .unionByName(
            probe(
                li,
                F.col("l_orderkey") * 10000 + F.col("l_linenumber"),
                "lineitem.(l_orderkey,l_linenumber)",
            )
        )
    )


@query(
    "events_bot_detection",
    oracle="""
    WITH pm AS (
      SELECT user_id, epoch_us(ts) // 60000000 AS minute, count(*) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT user_id,
           max(n) AS peak_per_minute,
           count(*) AS active_minutes,
           CAST(sum(n) AS BIGINT) AS total_events,
           max(n) >= 5 AS flagged
    FROM pm GROUP BY user_id
    """,
)
def events_bot_detection(spark, sf_dir):
    """Rate-based bot/abuse heuristic: per-user peak events-per-minute
    against a superhuman threshold — the first-line abuse filter every
    event pipeline runs before engagement stats trust the data. TWO
    stacked hash-aggs, both map-side-combinable: (user, minute) cells
    then per-user peak/total — no windows, no sorting, and the
    minute-cell table is what a streaming variant maintains as state
    (stream_tumbling_counts' shape keyed by user). Pure integer
    epoch-minute bucketing."""
    e = io.read_parquet(spark, f"{sf_dir}/events.parquet").df
    pm = e.groupBy(
        "user_id", F.expr("unix_micros(ts) div 60000000").alias("minute")
    ).agg(F.count(F.lit(1)).alias("n"))
    return pm.groupBy("user_id").agg(
        F.max("n").alias("peak_per_minute"),
        F.count(F.lit(1)).alias("active_minutes"),
        F.sum("n").cast("bigint").alias("total_events"),
        (F.max("n") >= 5).alias("flagged"),
    )


@query(
    "orders_yoy_growth",
    oracle="""
    WITH m AS (
      SELECT EXTRACT(year FROM o_orderdate) AS yr,
             EXTRACT(month FROM o_orderdate) AS mo,
             count(*) AS n,
             CAST(sum(floor(o_totalprice * 100 + 0.5)) AS BIGINT) AS rev_c
      FROM orders GROUP BY 1, 2
    )
    SELECT yr, mo, n, rev_c,
           lag(rev_c) OVER (PARTITION BY mo ORDER BY yr) AS rev_c_prev_year,
           CASE WHEN lag(rev_c) OVER (PARTITION BY mo ORDER BY yr) > 0
                THEN CAST(rev_c::HUGEINT * 1000000
                          // lag(rev_c) OVER (PARTITION BY mo ORDER BY yr)
                          AS BIGINT)
           END AS yoy_ppm
    FROM m
    """,
)
def orders_yoy_growth(spark, sf_dir):
    """Year-over-year growth by calendar month — the seasonality-aware
    trend table (compare each month to the SAME month last year, not
    the previous month): monthly revenue cells, then a lag window
    PARTITIONED BY month-of-year over the handful of years. The
    windowed relation is years x months (calendar-bounded — the
    events_anomaly_zscore discipline); growth as exact integer ppm
    with the HUGEINT product rule; first-year months yield NULL
    rather than a fake 100%. EXTRACT(year/month) agrees between
    engines on civil-date fields (unlike week/dow numbering — see
    events_heatmap_hour_dow for the arithmetic alternative)."""
    o = io.read_parquet(spark, f"{sf_dir}/orders.parquet").df
    m = o.groupBy(
        F.year("o_orderdate").alias("yr"), F.month("o_orderdate").alias("mo")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)))
        .cast("bigint")
        .alias("rev_c"),
    )
    w = Window.partitionBy("mo").orderBy("yr")
    prev = F.lag("rev_c").over(w)
    return m.select(
        "yr", "mo", "n", "rev_c",
        prev.alias("rev_c_prev_year"),
        F.when(
            prev > 0,
            F.expr(
                "CAST(CAST(rev_c AS DECIMAL(38,0)) * 1000000"
                " div (lag(rev_c) OVER (PARTITION BY mo ORDER BY yr))"
                " AS BIGINT)"
            ),
        ).alias("yoy_ppm"),
    )


@query(
    "events_dau_wau_stickiness",
    oracle="""
    WITH d AS (
      SELECT user_id,
             epoch_us(ts) // 86400000000 AS day,
             (epoch_us(ts) // 86400000000 - 19723) // 7 AS wk
      FROM events
    ),
    dau AS (SELECT wk, day, count(DISTINCT user_id) AS dau
            FROM d GROUP BY wk, day),
    wau AS (SELECT wk, count(DISTINCT user_id) AS wau FROM d GROUP BY wk)
    SELECT w.wk AS week, w.wau,
           CAST(sum(dau.dau) AS BIGINT) AS dau_sum,
           count(*) AS n_days,
           CAST(sum(dau.dau)::HUGEINT * 1000000 // (count(*) * w.wau)
                AS BIGINT) AS stickiness_ppm
    FROM wau w JOIN dau ON w.wk = dau.wk
    GROUP BY w.wk, w.wau
    """,
)
def events_dau_wau_stickiness(spark, sf_dir):
    """DAU/WAU stickiness per week — the engagement-depth ratio
    (average daily actives over weekly actives; 10^6 ppm = every
    active user active every day): two distinct-count aggs over the
    SAME (user, day, week) projection — both hash-partition on
    compatible keys — joined on the week. Weeks/days by exact epoch
    division (19723 = 2024-01-01, as events_retention_cohorts).
    Partial-day weeks normalize by their actual day count instead of
    a hardcoded 7 — the month boundary would otherwise read as an
    engagement crash."""
    e = io.read_parquet(spark, f"{sf_dir}/events.parquet").df
    d = e.select(
        "user_id",
        F.expr("unix_micros(ts) div 86400000000").alias("day"),
        F.expr("(unix_micros(ts) div 86400000000 - 19723) div 7").alias("wk"),
    )
    dau = d.groupBy("wk", "day").agg(F.count_distinct("user_id").alias("dau"))
    wau = d.groupBy("wk").agg(F.count_distinct("user_id").alias("wau"))
    return (
        wau.join(dau, "wk")
        .groupBy(F.col("wk").alias("week"), "wau")
        .agg(
            F.sum("dau").cast("bigint").alias("dau_sum"),
            F.count(F.lit(1)).alias("n_days"),
            F.expr(
                "CAST(CAST(sum(dau) AS DECIMAL(38,0)) * 1000000"
                " div (count(1) * wau) AS BIGINT)"
            ).alias("stickiness_ppm"),
        )
    )


@query(
    "events_concurrency_sweepline",
    oracle="""
    WITH deltas AS (
      SELECT epoch_us(ts) // 60000000 AS minute, 1 AS d FROM events
      UNION ALL
      SELECT (epoch_us(ts) + 300000000) // 60000000, -1 FROM events
    ),
    pm AS (
      SELECT minute, CAST(sum(d) AS BIGINT) AS net FROM deltas
      GROUP BY minute
    )
    SELECT minute, net,
           CAST(sum(net) OVER (ORDER BY minute ROWS UNBOUNDED PRECEDING)
                AS BIGINT) AS open_sessions
    FROM pm
    """,
)
def events_concurrency_sweepline(spark, sf_dir):
    """Concurrent-session reconstruction by SWEEP LINE: every event
    opens a 5-minute session (+1 at its minute, −1 five minutes
    later); the running sum of per-minute NET deltas is the number of
    concurrently open sessions at every minute — capacity planning's
    core curve (peak concurrency, not peak arrivals). Scale: the
    deltas aggregate to per-MINUTE cells first (one hash-agg with
    map-side combine — the corpus-sized part), and only then does the
    ordered cumsum run, over a CALENDAR-bounded relation (minutes in
    the observation window — ~43k/month regardless of event volume;
    the anomaly-zscore window discipline). For multi-year windows the
    same plan coarsens to hours, or the two-pass range-partitioned
    cumsum (pack_sequences) takes over exactly."""
    e = io.read_parquet(spark, f"{sf_dir}/events.parquet").df
    opens = e.select(
        F.expr("unix_micros(ts) div 60000000").alias("minute"),
        F.lit(1).alias("d"),
    )
    closes = e.select(
        F.expr("(unix_micros(ts) + 300000000) div 60000000").alias("minute"),
        F.lit(-1).alias("d"),
    )
    pm = (
        opens.unionByName(closes)
        .groupBy("minute")
        .agg(F.sum("d").cast("bigint").alias("net"))
    )
    w = Window.orderBy("minute").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return pm.select(
        "minute", "net", F.sum("net").over(w).cast("bigint").alias("open_sessions")
    )


@query(
    "events_path_analysis",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type, 1) OVER w AS p1,
             lag(event_type, 2) OVER w AS p2
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT p2 AS step1, p1 AS step2, event_type AS step3,
           count(*) AS n
    FROM seq WHERE p2 IS NOT NULL
    GROUP BY 1, 2, 3
    ORDER BY n DESC, step1, step2, step3 LIMIT 10
    """,
)
def events_path_analysis(spark, sf_dir):
    """Top user paths (3-step event sequences) — the navigation-flow
    query behind every product-analytics 'paths' view: per-user
    time-ordered trigrams of event types, counted and top-10'd. One
    lag window (two offsets share a single window spec — one sort per
    user partition, the sessionize discipline), a hash-agg over the
    |types|³-bounded path space, and a TakeOrdered(10) report — no
    global sort, no self-joins (the naive 3-way sequence join pays
    two shuffles and an explosion; lag pays zero extra). Deterministic
    (ts, event_id) ordering."""
    e = io.read_parquet(spark, f"{sf_dir}/events.parquet").df
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.col("event_type").alias("step3"),
        F.lag("event_type", 1).over(w).alias("step2"),
        F.lag("event_type", 2).over(w).alias("step1"),
    ).filter(F.col("step1").isNotNull())
    return (
        seq.groupBy("step1", "step2", "step3")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "step1", "step2", "step3")
        .limit(10)
    )


@query(
    "events_ab_test_lift",
    oracle="""
    WITH arms AS (
      SELECT CAST('0x' || substr(md5('ab' || '|'
                   || CAST(user_id AS VARCHAR)), 1, 14) AS BIGINT) % 2
               AS arm,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS v_c
      FROM events WHERE event_type = 'purchase'
    )
    SELECT
      count(*) FILTER (arm = 0) AS n_a,
      count(*) FILTER (arm = 1) AS n_b,
      CAST(sum(v_c) FILTER (arm = 0) AS BIGINT) AS sum_a_c,
      CAST(sum(v_c) FILTER (arm = 1) AS BIGINT) AS sum_b_c,
      CAST(sum(v_c) FILTER (arm = 1)::HUGEINT
           * count(*) FILTER (arm = 0) * 1000000
           // (sum(v_c) FILTER (arm = 0)::HUGEINT
               * count(*) FILTER (arm = 1)) AS BIGINT) AS lift_ppm
    FROM arms
    """,
)
def events_ab_test_lift(spark, sf_dir):
    """A/B experiment readout: users hash-split into two arms (md5 —
    the DETERMINISTIC bucketing real experiment platforms use, so a
    user's arm is stable across sessions, engines and reruns; RNG
    assignment is none of those), purchase value compared as a
    mean-ratio lift in exact ppm (sum_b·n_a·10^6 div (sum_a·n_b) —
    the ratio of per-event means as one integer rational, HUGEINT
    product rule). ONE conditional aggregation over the filtered
    scan; the synthetic split shows ~0 lift by construction — the
    null-experiment calibration check every platform runs before
    trusting its pipeline with real experiments. Significance testing
    adds the anomaly-zscore integer variance machinery over the same
    partials."""
    e = io.read_parquet(spark, f"{sf_dir}/events.parquet").df
    arms = e.filter(F.col("event_type") == "purchase").select(
        (
            F.expr(
                "CAST(conv(substring(md5(concat('ab', '|',"
                " CAST(user_id AS STRING))), 1, 14), 16, 10) AS BIGINT)"
            )
            % 2
        ).alias("arm"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("v_c"),
    )
    a0 = F.col("arm") == 0
    a1 = F.col("arm") == 1
    return arms.agg(
        F.count(F.when(a0, 1)).alias("n_a"),
        F.count(F.when(a1, 1)).alias("n_b"),
        F.sum(F.when(a0, F.col("v_c"))).cast("bigint").alias("sum_a_c"),
        F.sum(F.when(a1, F.col("v_c"))).cast("bigint").alias("sum_b_c"),
        F.expr(
            "CAST(CAST(sum(CASE WHEN arm = 1 THEN v_c END) AS DECIMAL(38,0))"
            " * count(CASE WHEN arm = 0 THEN 1 END) * 1000000"
            " div (CAST(sum(CASE WHEN arm = 0 THEN v_c END) AS DECIMAL(38,0))"
            "      * count(CASE WHEN arm = 1 THEN 1 END)) AS BIGINT)"
        ).alias("lift_ppm"),
    )


@query(
    "events_new_vs_returning",
    oracle="""
    WITH d AS (
      SELECT user_id, event_id,
             epoch_us(ts) // 86400000000 AS day
      FROM events
    ),
    first_seen AS (SELECT user_id, min(day) AS d0 FROM d GROUP BY user_id)
    SELECT d.day,
           count(*) FILTER (d.day = f.d0) AS new_user_events,
           count(*) FILTER (d.day > f.d0) AS returning_events,
           count(DISTINCT d.user_id) FILTER (d.day = f.d0) AS new_users,
           count(DISTINCT d.user_id) FILTER (d.day > f.d0) AS returning_users
    FROM d JOIN first_seen f ON d.user_id = f.user_id
    GROUP BY d.day
    """,
)
def events_new_vs_returning(spark, sf_dir):
    """New-vs-returning split per day — the top-of-dashboard growth
    decomposition (is today's traffic acquisition or retention?):
    each event classifies against its user's FIRST-SEEN day, then one
    conditional agg per day. Plan: the first-seen table and the event
    stream co-partition on user_id (one exchange pair, AQE-reusable),
    the day report is calendar-bounded. The first-seen side is
    exactly what an incremental pipeline maintains as a keyed
    snapshot (stream_cdc_merge_snapshot's min-fold instead of
    last-write-wins) — this query is its batch derivation."""
    e = io.read_parquet(spark, f"{sf_dir}/events.parquet").df
    d = e.select(
        "user_id", F.expr("unix_micros(ts) div 86400000000").alias("day")
    )
    first_seen = d.groupBy("user_id").agg(F.min("day").alias("d0"))
    j = d.join(first_seen, "user_id")
    is_new = F.col("day") == F.col("d0")
    is_ret = F.col("day") > F.col("d0")
    return j.groupBy("day").agg(
        F.count(F.when(is_new, 1)).alias("new_user_events"),
        F.count(F.when(is_ret, 1)).alias("returning_events"),
        F.count_distinct(F.when(is_new, F.col("user_id"))).alias("new_users"),
        F.count_distinct(F.when(is_ret, F.col("user_id"))).alias(
            "returning_users"
        ),
    )


@query(
    "supplier_sourcing_risk",
    oracle="""
    WITH ps AS (
      SELECT l_partkey, count(DISTINCT l_suppkey) AS n_suppliers,
             count(*) AS n_lines
      FROM lineitem GROUP BY l_partkey
    )
    SELECT n_suppliers, count(*) AS n_parts,
           CAST(sum(n_lines) AS BIGINT) AS n_lines
    FROM ps GROUP BY n_suppliers
    """,
)
def supplier_sourcing_risk(spark, sf_dir):
    """Supply-chain sourcing-risk histogram: how many parts depend on
    exactly one supplier (the single-point-of-failure list every
    procurement review starts with), two, three… — a distinct-count
    per part folded into a distribution. Two stacked hash-aggs; the
    second's key space is bounded by the max supplier fan-out. The
    drill-down variant filters n_suppliers = 1 before the second agg
    and joins part names back BROADCAST; at 100 TB swap the exact
    distinct for the grouped HLL when the histogram feeds a dashboard
    rather than a procurement action."""
    li = T(spark, sf_dir, "lineitem")["lineitem"].df
    ps = li.groupBy("l_partkey").agg(
        F.count_distinct("l_suppkey").alias("n_suppliers"),
        F.count(F.lit(1)).alias("n_lines"),
    )
    return ps.groupBy("n_suppliers").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.sum("n_lines").cast("bigint").alias("n_lines"),
    )


@query(
    "orders_rfm_segmentation",
    oracle="""
    WITH c AS (
      SELECT o_custkey AS ck,
             max(CAST(o_orderdate AS DATE)) AS last_d,
             count(*)::BIGINT AS f_cnt,
             CAST(sum(floor(o_totalprice * 100 + 0.5)) AS BIGINT) AS m_cents
      FROM orders GROUP BY 1
    ),
    mx AS (SELECT max(CAST(o_orderdate AS DATE)) AS maxd FROM orders),
    m AS (
      SELECT ck, date_diff('day', last_d, maxd)::BIGINT AS r_days, f_cnt,
             m_cents, m_cents // 10000 AS m_bin
      FROM c, mx
    ),
    n AS (SELECT count(*)::BIGINT AS n FROM m),
    rq AS (
      SELECT min(CASE WHEN 4*cum >= 1*n THEN v END) AS q1,
             min(CASE WHEN 4*cum >= 2*n THEN v END) AS q2,
             min(CASE WHEN 4*cum >= 3*n THEN v END) AS q3
      FROM (SELECT v, sum(cnt) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum
            FROM (SELECT r_days AS v, count(*) AS cnt FROM m GROUP BY 1)), n
    ),
    fq AS (
      SELECT min(CASE WHEN 4*cum >= 1*n THEN v END) AS q1,
             min(CASE WHEN 4*cum >= 2*n THEN v END) AS q2,
             min(CASE WHEN 4*cum >= 3*n THEN v END) AS q3
      FROM (SELECT v, sum(cnt) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum
            FROM (SELECT f_cnt AS v, count(*) AS cnt FROM m GROUP BY 1)), n
    ),
    mq AS (
      SELECT min(CASE WHEN 4*cum >= 1*n THEN v END) AS q1,
             min(CASE WHEN 4*cum >= 2*n THEN v END) AS q2,
             min(CASE WHEN 4*cum >= 3*n THEN v END) AS q3
      FROM (SELECT v, sum(cnt) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum
            FROM (SELECT m_bin AS v, count(*) AS cnt FROM m GROUP BY 1)), n
    )
    SELECT
      (1 + CAST(m.r_days > rq.q1 AS INT) + CAST(m.r_days > rq.q2 AS INT)
         + CAST(m.r_days > rq.q3 AS INT)) AS r_score,
      (1 + CAST(m.f_cnt > fq.q1 AS INT) + CAST(m.f_cnt > fq.q2 AS INT)
         + CAST(m.f_cnt > fq.q3 AS INT)) AS f_score,
      (1 + CAST(m.m_bin > mq.q1 AS INT) + CAST(m.m_bin > mq.q2 AS INT)
         + CAST(m.m_bin > mq.q3 AS INT)) AS m_score,
      count(*)::BIGINT AS n_customers,
      sum(m.m_cents)::BIGINT AS seg_revenue_cents
    FROM m, rq, fq, mq
    GROUP BY 1, 2, 3
    """,
)
def orders_rfm_segmentation(spark, sf_dir):
    """RFM (recency / frequency / monetary) customer segmentation —
    the classic CRM cube — with quartile thresholds read from
    DOMAIN-BOUNDED VALUE HISTOGRAMS instead of the textbook
    ``ntile(4) OVER (ORDER BY metric)``, which is a one-task global
    sort over every customer (the scale-killer this repo's window
    discipline bans). Recency is an integer day count (bounded by the
    corpus date span), frequency a small int, and monetary is
    quantized to $100 bins for thresholding — so each quartile
    boundary comes from a cumsum over a histogram whose size is the
    metric's DOMAIN, not the customer count. ceil-rank semantics
    (4*cum >= k*n) match percentile_disc on both engines; scores
    compare the SAME binned value against the binned thresholds, so
    the result is engine-exact. Plan: one per-customer hash-agg; three
    tiny histogram aggs; three single-row broadcast joins; one final
    segment hash-agg. Money stays in exact integer cents throughout."""
    orders = io.fan_out(io.read_parquet(spark, f"{sf_dir}/orders.parquet").df)
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
    c = orders.groupBy(F.col("o_custkey").alias("ck")).agg(
        F.max(F.col("o_orderdate").cast("date")).alias("last_d"),
        F.count(F.lit(1)).alias("f_cnt"),
        F.sum(cents).alias("m_cents"),
    )
    mx = orders.agg(F.max(F.col("o_orderdate").cast("date")).alias("maxd"))
    # the per-customer RFM table fans out to the count, all three
    # quartile histograms, and the final scoring pass — PINNED per the
    # used-more-than-once policy (unpinned, this plan compiled 14
    # orders FileScans; pinned it is one customer-keyed shuffle
    # materialized once)
    m = pin(c.crossJoin(F.broadcast(mx)).select(
        "ck",
        F.datediff("maxd", "last_d").cast("bigint").alias("r_days"),
        "f_cnt", "m_cents",
        F.expr("m_cents div 10000").alias("m_bin"),
    ))
    n = m.agg(F.count(F.lit(1)).alias("n"))

    def _quartiles(col: str):
        """(q1, q2, q3) single-row DF from the value histogram of
        ``col`` — cumsum window over the bounded value domain only."""
        h = m.groupBy(F.col(col).alias("v")).agg(F.count(F.lit(1)).alias("cnt"))
        w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
        cum = h.select("v", F.sum("cnt").over(w).alias("cum"))
        return (
            cum.crossJoin(F.broadcast(n))
            .agg(
                F.min(F.when(4 * F.col("cum") >= F.col("n"), F.col("v"))).alias("q1"),
                F.min(F.when(4 * F.col("cum") >= 2 * F.col("n"), F.col("v"))).alias("q2"),
                F.min(F.when(4 * F.col("cum") >= 3 * F.col("n"), F.col("v"))).alias("q3"),
            )
        )

    rq = _quartiles("r_days").select(
        F.col("q1").alias("rq1"), F.col("q2").alias("rq2"), F.col("q3").alias("rq3"))
    fq = _quartiles("f_cnt").select(
        F.col("q1").alias("fq1"), F.col("q2").alias("fq2"), F.col("q3").alias("fq3"))
    mq = _quartiles("m_bin").select(
        F.col("q1").alias("mq1"), F.col("q2").alias("mq2"), F.col("q3").alias("mq3"))

    def _score(v, q1, q2, q3):
        return (
            F.lit(1)
            + (F.col(v) > F.col(q1)).cast("int")
            + (F.col(v) > F.col(q2)).cast("int")
            + (F.col(v) > F.col(q3)).cast("int")
        )

    return (
        m.crossJoin(F.broadcast(rq))
        .crossJoin(F.broadcast(fq))
        .crossJoin(F.broadcast(mq))
        .groupBy(
            _score("r_days", "rq1", "rq2", "rq3").alias("r_score"),
            _score("f_cnt", "fq1", "fq2", "fq3").alias("f_score"),
            _score("m_bin", "mq1", "mq2", "mq3").alias("m_score"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("m_cents").alias("seg_revenue_cents"),
        )
    )


@query(
    "udf_map_in_arrow",
    oracle="""
    SELECT l_returnflag,
           CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5)
                    AS BIGINT)) AS BIGINT) AS revenue_cents,
           count(*)::BIGINT AS n
    FROM lineitem WHERE l_quantity < 10
    GROUP BY l_returnflag
    """,
)
def udf_map_in_arrow(spark, sf_dir):
    """The lowest-level Python seam: ``mapInArrow`` — raw
    pyarrow.RecordBatch in, RecordBatch out, no pandas conversion at
    all (one copy cheaper than mapInPandas; the seam you use when the
    Python side is itself Arrow-native, e.g. a tokenizer or decoder
    lib consuming Arrow buffers). Completes the Python-boundary
    matrix: arrow scalar UDF / pandas UDAF / mapInPandas /
    applyInPandas / cogroup / UDTF / mapInArrow. The batch fn is
    pyarrow.compute end to end (vectorized C++, never a Python row
    loop); revenue is quantized to exact integer cents INSIDE the
    batch so the JVM-side re-aggregation is order-independent. Plan:
    narrow filter BEFORE the Arrow exchange (a Python map barrier
    blocks predicate pushdown, so the plan puts the selective gate
    first), then one hash-agg over the seam's slim two-column output."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def rev_batches(it):
        for b in it:
            ext = b.column("l_extendedprice")
            disc = b.column("l_discount")
            rev = pc.cast(
                pc.floor(
                    pc.add(
                        pc.multiply(
                            pc.multiply(ext, pc.subtract(pa.scalar(1.0), disc)),
                            pa.scalar(100.0),
                        ),
                        pa.scalar(0.5),
                    )
                ),
                pa.int64(),
            )
            yield pa.RecordBatch.from_arrays(
                [b.column("l_returnflag"), rev], ["l_returnflag", "rev_c"]
            )

    li = T(spark, sf_dir, "lineitem")["lineitem"]
    slim = li.df.filter(F.col("l_quantity") < 10).select(
        "l_returnflag", "l_extendedprice", "l_discount"
    )
    mapped = slim.mapInArrow(rev_batches, "l_returnflag string, rev_c bigint")
    return mapped.groupBy("l_returnflag").agg(
        F.sum("rev_c").alias("revenue_cents"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "events_point_in_interval",
    oracle="""
    WITH gaps AS (
      SELECT user_id, ts,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTE OR
                  lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ), sess AS (
      SELECT user_id, ts,
             CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS session_id
      FROM gaps
    ), iv AS (
      SELECT user_id, session_id, min(ts) AS s, max(ts) AS e
      FROM sess GROUP BY 1, 2
    ), p AS (SELECT ts FROM events WHERE event_type = 'purchase')
    SELECT iv.user_id, iv.session_id, count(p.ts)::BIGINT AS n_purchases
    FROM iv LEFT JOIN p ON p.ts >= iv.s AND p.ts <= iv.e
    GROUP BY 1, 2
    """,
)
def events_point_in_interval(spark, sf_dir):
    """Point-in-interval join WITHOUT a nested-loop: how many purchase
    events (site-wide) fall inside each user session's time span. A
    raw ``p.ts BETWEEN s.start AND s.end`` join has no equi-key, so
    Spark plans BroadcastNestedLoopJoin — quadratic and
    single-stream at scale. The GRID-BUCKET strategy restores a hash
    join: quantize time into fixed 1-hour buckets, EXPLODE each
    interval to the buckets it covers (bounded by the 30-min-gap
    session definition), tag each point with its single bucket, and
    equi-join on bucket with the exact range predicate as residual —
    each (interval, point) pair meets on exactly one bucket (the
    point's), so no dedup pass is needed. This is the standard
    interval-index decomposition (same trick as the IP-geolocation
    range lookup); bucket width trades explode factor against bucket
    selectivity. Empty sessions are restored by a left join to the
    interval table, mirroring the oracle's LEFT range join. One
    user-key shuffle builds sessions; the join shuffles on bucket —
    uniform by construction (time buckets)."""
    e = T(spark, sf_dir, "events")["events"]
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    new_sess = F.when(
        F.lag("ts").over(w).isNull()
        # exact-microsecond gap: the oracle compares ts - lag(ts) >
        # INTERVAL 30 MINUTE at full precision; a second-floored diff
        # disagrees in the 1800.0-1801.0s band
        | (
            F.expr("unix_micros(ts)") - F.lag(F.expr("unix_micros(ts)")).over(w)
            > 1800000000
        ),
        1,
    ).otherwise(0)
    iv = (
        e.df.withColumn("new_session", new_sess)
        .withColumn("session_id", F.sum("new_session").over(wrun))
        .groupBy("user_id", F.col("session_id").cast("bigint").alias("session_id"))
        .agg(F.min("ts").alias("s"), F.max("ts").alias("e"))
    )
    ivb = iv.withColumn(
        "b",
        F.explode(
            F.sequence(
                F.expr("CAST(s AS LONG) div 3600"), F.expr("CAST(e AS LONG) div 3600")
            )
        ),
    )
    p = (
        e.df.filter(F.col("event_type") == "purchase")
        .select(F.col("ts").alias("pts"))
        .withColumn("pb", F.expr("CAST(pts AS LONG) div 3600"))
    )
    matched = (
        ivb.join(
            p,
            (F.col("pb") == F.col("b"))
            & (F.col("pts") >= F.col("s"))
            & (F.col("pts") <= F.col("e")),
        )
        .groupBy(
            F.col("user_id").alias("mu"),
            F.col("session_id").alias("ms"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # null-safe restore join: anonymous (NULL user_id) sessions are a
    # real group on both engines — the oracle never re-joins on
    # user_id (it GROUPs), so a plain `=` here silently zeroed their
    # purchase counts
    return iv.join(
        matched,
        iv["user_id"].eqNullSafe(F.col("mu"))
        & (iv["session_id"] == F.col("ms")),
        "left",
    ).select(
        "user_id", "session_id", F.coalesce("n", F.lit(0)).alias("n_purchases")
    )


@query(
    "events_resample_linear",
    oracle="""
    WITH ue AS (
      SELECT user_id, time_bucket(INTERVAL 1 HOUR, ts) AS bucket,
             sum(CAST(floor(value * 10000 + 0.5) AS BIGINT)) AS v_c
      FROM events WHERE user_id % 29 = 1
      GROUP BY 1, 2
    ), spans AS (
      SELECT user_id, min(bucket) AS lo, max(bucket) AS hi
      FROM ue GROUP BY user_id
    ), grid AS (
      SELECT s.user_id, t.b AS bucket
      FROM spans s, unnest(generate_series(s.lo, s.hi, INTERVAL 1 HOUR)) AS t(b)
    ), j AS (
      SELECT g.user_id, g.bucket, ue.v_c,
             CAST(epoch(g.bucket) AS BIGINT) // 3600 AS t
      FROM grid g LEFT JOIN ue ON g.user_id = ue.user_id AND g.bucket = ue.bucket
    ), f AS (
      SELECT user_id, bucket, v_c, t,
             last_value(v_c IGNORE NULLS) OVER wp AS v0,
             last_value(CASE WHEN v_c IS NOT NULL THEN t END IGNORE NULLS)
               OVER wp AS t0,
             first_value(v_c IGNORE NULLS) OVER wf AS v1,
             first_value(CASE WHEN v_c IS NOT NULL THEN t END IGNORE NULLS)
               OVER wf AS t1
      FROM j
      WINDOW wp AS (PARTITION BY user_id ORDER BY bucket
                    ROWS UNBOUNDED PRECEDING),
             wf AS (PARTITION BY user_id ORDER BY bucket
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT user_id, bucket,
           CAST(CASE WHEN v_c IS NOT NULL THEN v_c
                ELSE (v0 * (t1 - t) + v1 * (t - t0)) // (t1 - t0)
           END AS BIGINT) AS interp_c,
           v_c IS NOT NULL AS observed
    FROM f
    """,
)
def events_resample_linear(spark, sf_dir):
    """Resampling with LINEAR interpolation — the companion to
    events_resample_ffill for continuous signals (sensor values,
    spend rates) where carrying the last observation forward biases
    downstream features. Same scale shape: hourly pre-agg, per-user
    [min, max] grid densify (rows ∝ span), then BOTH bracketing
    observations via two PARTITIONED windows (last-non-null
    preceding, first-non-null following — grid endpoints are observed
    by construction, so the brackets always exist). The interpolation
    is the weighted mean (v0*(t1-t) + v1*(t-t0)) div (t1-t0) in
    integer 10^-4 units — the rearrangement keeps the numerator
    NON-NEGATIVE, where truncating (Spark ``div``) and flooring
    (DuckDB ``//``) integral division agree, so the result is
    engine-exact with zero float ops (the repo's integral-divide
    rule)."""
    e = io.read_parquet(spark, f"{sf_dir}/events.parquet").df
    ue = (
        e.filter(F.col("user_id") % 29 == 1)
        .groupBy("user_id", F.date_trunc("hour", F.col("ts")).alias("bucket"))
        .agg(
            F.sum(F.floor(F.col("value") * 10000 + F.lit(0.5)).cast("bigint")).alias("v_c")
        )
    )
    spans = ue.groupBy("user_id").agg(
        F.min("bucket").alias("lo"), F.max("bucket").alias("hi")
    )
    grid = spans.select(
        "user_id",
        F.explode(
            F.sequence(F.col("lo"), F.col("hi"), F.expr("interval 1 hour"))
        ).alias("bucket"),
    )
    j = grid.join(ue, ["user_id", "bucket"], "left").withColumn(
        "t", F.expr("CAST(bucket AS LONG) div 3600")
    )
    wp = (
        Window.partitionBy("user_id")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy("bucket")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    t_obs = F.when(F.col("v_c").isNotNull(), F.col("t"))
    f = (
        j.withColumn("v0", F.last("v_c", ignorenulls=True).over(wp))
        .withColumn("t0", F.last(t_obs, ignorenulls=True).over(wp))
        .withColumn("v1", F.first("v_c", ignorenulls=True).over(wf))
        .withColumn("t1", F.first(t_obs, ignorenulls=True).over(wf))
    )
    interp = F.expr("(v0 * (t1 - t) + v1 * (t - t0)) div (t1 - t0)")
    return f.select(
        "user_id", "bucket",
        F.when(F.col("v_c").isNotNull(), F.col("v_c")).otherwise(interp)
          .alias("interp_c"),
        F.col("v_c").isNotNull().alias("observed"),
    )


@query(
    "events_changepoint_cusum",
    oracle="""
    WITH d AS (
      SELECT CAST(epoch(time_bucket(INTERVAL 1 DAY, ts)) AS BIGINT) // 86400
               AS day, count(*)::HUGEINT AS cnt
      FROM events WHERE event_type = 'error' GROUP BY 1
    ),
    tot AS (SELECT sum(cnt) AS tot, count(*)::HUGEINT AS nd FROM d),
    cum AS (
      SELECT day, cnt,
             sum(cnt) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS c,
             row_number() OVER (ORDER BY day) AS k
      FROM d
    )
    SELECT CAST(day AS BIGINT) AS day, CAST(cnt AS BIGINT) AS cnt,
           CAST(nd * c - k * tot AS BIGINT) AS s_scaled,
           (abs(nd * c - k * tot) = (SELECT max(abs(nd2.nd * c2.c - c2.k * nd2.tot))
                                     FROM cum c2, tot nd2)) AS is_peak
    FROM cum, tot
    """,
)
def events_changepoint_cusum(spark, sf_dir):
    """CUSUM change-point detection on the daily error-event rate —
    the monitoring primitive that flags WHEN a metric's level shifted:
    S_k = sum_{d<=k} cnt_d - k * mean is maximal in |.| at the change
    point. The mean is kept as the exact rational tot/n_days by
    scaling everything by n_days (S_scaled = n*cumsum - k*tot — exact
    integers, no division anywhere), so peak selection is an integer
    argmax. The cumulative window runs over the DAILY aggregate — a
    DOMAIN-BOUNDED relation (days in the corpus span), never the raw
    event stream, per the repo's window discipline; the raw scan is
    one filtered hash-agg. Output: the daily CUSUM trajectory with the
    peak day(s) flagged."""
    e = io.read_parquet(spark, f"{sf_dir}/events.parquet").df
    dec = "decimal(38,0)"
    d = (
        e.filter(F.col("event_type") == "error")
        .groupBy(F.expr("CAST(CAST(date_trunc('day', ts) AS LONG) AS DECIMAL(38,0))"
                        " div 86400").alias("day"))
        .agg(F.count(F.lit(1)).cast(dec).alias("cnt"))
    )
    tot = d.agg(F.sum("cnt").alias("tot"), F.count(F.lit(1)).cast(dec).alias("nd"))
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    cum = d.select(
        "day", "cnt",
        F.sum("cnt").over(w).alias("c"),
        F.row_number().over(Window.orderBy("day")).cast(dec).alias("k"),
    ).crossJoin(F.broadcast(tot))
    s = (F.col("nd") * F.col("c") - F.col("k") * F.col("tot"))
    scored = cum.select(
        "day", "cnt", s.alias("s_raw"), F.abs(s).alias("s_abs")
    )
    peak = scored.agg(F.max("s_abs").alias("mx"))
    return scored.crossJoin(F.broadcast(peak)).select(
        F.col("day").cast("bigint").alias("day"),
        F.col("cnt").cast("bigint").alias("cnt"),
        F.col("s_raw").cast("bigint").alias("s_scaled"),
        (F.col("s_abs") == F.col("mx")).alias("is_peak"),
    )


_LATERAL_SQL = """
SELECT n.n_name AS nation, t.s_name, t.bal_c
FROM nation n,
LATERAL (
  SELECT s_name,
         CAST(floor(s_acctbal * 100 + 0.5) AS BIGINT) AS bal_c
  FROM supplier
  WHERE s_nationkey = n.n_nationkey
  ORDER BY bal_c DESC, s_name
  LIMIT 2
) AS t
"""


@query("sql_lateral_topk", oracle=_LATERAL_SQL)
def sql_lateral_topk(spark, sf_dir):
    """Correlated LATERAL subquery — the per-row dependent subplan
    surface (Spark 3.2+/4 `LATERAL`, distinct from the UDTF LATERAL
    VIEW in udtf_expand_props): for every nation, the two
    highest-balance suppliers. ONE SQL TEXT, TWO ENGINES — the oracle
    is the identical string on DuckDB. Catalyst decorrelates the
    lateral into a ranked window/join under the hood rather than
    executing it per outer row, which is exactly the rewrite you'd
    hand-write at scale (this repo's window_topn_per_group); the
    deterministic ORDER BY tie-break (bal DESC, name) makes LIMIT 2
    stable across engines and partitionings. Balances compare in
    exact integer cents."""
    from ..core import sql as bag_sql

    t = T(spark, sf_dir, "nation", "supplier")
    return bag_sql(
        spark, _LATERAL_SQL, nation=t["nation"], supplier=t["supplier"]
    ).df


@query(
    "orders_survival_hazard",
    oracle="""
    WITH c AS (
      SELECT o_custkey, min(CAST(o_orderdate AS DATE)) AS f,
             max(CAST(o_orderdate AS DATE)) AS l
      FROM orders GROUP BY 1
    ),
    mx AS (SELECT max(CAST(o_orderdate AS DATE)) AS m FROM orders),
    t AS (
      SELECT date_diff('day', f, l) // 30 AS bin,
             CASE WHEN l < m - INTERVAL 90 DAY THEN 1 ELSE 0 END AS churn
      FROM c, mx
    ),
    b AS (SELECT bin, count(*)::HUGEINT AS n, sum(churn)::HUGEINT AS d
          FROM t GROUP BY bin),
    s AS (SELECT bin, d,
                 sum(n) OVER (ORDER BY bin DESC ROWS UNBOUNDED PRECEDING)
                   AS at_risk
          FROM b)
    SELECT CAST(bin AS BIGINT) AS bin,
           CAST(at_risk AS BIGINT) AS n_at_risk,
           CAST(d AS BIGINT) AS d_churn,
           CAST(d * 1000000 // at_risk AS BIGINT) AS hazard_ppm
    FROM s
    """,
)
def orders_survival_hazard(spark, sf_dir):
    """Customer-churn LIFE TABLE (the discrete Kaplan-Meier
    ingredients): tenure = days between first and last order, binned
    to 30 days; a customer counts as a churn EVENT only if their last
    order predates the corpus horizon by more than the 90-day quiet
    window (otherwise right-censored — still at risk). Per bin: the
    at-risk count (suffix cumsum over tenure bins — a DOMAIN-BOUNDED
    window, bins ∝ corpus date span, never customer count), churn
    events, and the discrete hazard d/n in exact integer ppm. The
    survival curve S(t) = Π(1-h_b) is a cumulative PRODUCT — floats
    on any engine — so the oracle-checked output is the exact life
    table it derives from. One customer hash-agg + one tiny bin agg."""
    o = io.read_parquet(spark, f"{sf_dir}/orders.parquet").df
    dec = "decimal(38,0)"
    c = o.groupBy("o_custkey").agg(
        F.min(F.col("o_orderdate").cast("date")).alias("f"),
        F.max(F.col("o_orderdate").cast("date")).alias("l"),
    )
    mx = o.agg(F.max(F.col("o_orderdate").cast("date")).alias("m"))
    t = c.crossJoin(F.broadcast(mx)).select(
        F.expr("datediff(l, f) div 30").alias("bin"),
        F.when(F.col("l") < F.date_sub(F.col("m"), 90), 1).otherwise(0).alias("churn"),
    )
    b = t.groupBy("bin").agg(
        F.count(F.lit(1)).cast(dec).alias("n"), F.sum("churn").cast(dec).alias("d")
    )
    w = Window.orderBy(F.desc("bin")).rowsBetween(Window.unboundedPreceding, 0)
    s = b.select("bin", "d", F.sum("n").over(w).alias("at_risk"))
    return s.select(
        F.col("bin").cast("bigint").alias("bin"),
        F.col("at_risk").cast("bigint").alias("n_at_risk"),
        F.col("d").cast("bigint").alias("d_churn"),
        F.expr("CAST(d * 1000000 div at_risk AS BIGINT)").alias("hazard_ppm"),
    )


@query(
    "agg_listagg_ordered",
    oracle="""
    WITH rk AS (
      SELECT o_orderpriority, o_orderkey,
             row_number() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice DESC, o_orderkey) AS r
      FROM orders
    )
    SELECT o_orderpriority,
           string_agg(CAST(o_orderkey AS VARCHAR), ',' ORDER BY r) AS top_keys,
           count(*)::BIGINT AS n
    FROM rk WHERE r <= 3
    GROUP BY o_orderpriority
    """,
)
def agg_listagg_ordered(spark, sf_dir):
    """Ordered string aggregation — Spark 4's ``listagg(...) WITHIN
    GROUP (ORDER BY ...)`` (ANSI 2016), mirrored by DuckDB's
    ``string_agg(... ORDER BY ...)``: the top-3 order keys per
    priority class, concatenated in rank order. String agg is only
    deterministic WITH an explicit within-group order and a
    deterministic rank tie-break (price DESC, then key) — the
    unordered variant is a cross-engine hash-mismatch by
    construction, which is why the repo's surface pins the ordered
    form. The rank window is partitioned (per-priority); the listagg
    input is pre-pruned to ≤ 3 rows per group."""
    o = io.read_parquet(spark, f"{sf_dir}/orders.parquet").df
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), "o_orderkey"
    )
    rk = o.select(
        "o_orderpriority", "o_orderkey", F.row_number().over(w).alias("r")
    ).filter(F.col("r") <= 3)
    return rk.groupBy("o_orderpriority").agg(
        F.expr(
            "listagg(CAST(o_orderkey AS STRING), ',') WITHIN GROUP (ORDER BY r)"
        ).alias("top_keys"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "orders_duplicate_invoice_detect",
    oracle="""
    WITH o AS (
      SELECT o_orderkey, o_custkey,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS price_c,
             CAST(o_orderdate AS DATE) AS d
      FROM orders
    )
    SELECT a.o_orderkey AS key_a, b.o_orderkey AS key_b,
           a.o_custkey,
           abs(a.price_c - b.price_c)::BIGINT AS price_diff_c,
           abs(date_diff('day', a.d, b.d))::BIGINT AS day_gap
    FROM o a JOIN o b
      ON a.o_custkey = b.o_custkey
     AND a.o_orderkey < b.o_orderkey
     AND abs(a.price_c - b.price_c) <= 50000
     AND abs(date_diff('day', a.d, b.d)) <= 365
    """,
)
def orders_duplicate_invoice_detect(spark, sf_dir):
    """Duplicate-invoice detection — the finance-ops fuzzy rule: two
    orders from the SAME customer with amounts within $500 of each
    other, placed within a year, are suspected double-billing. The
    tolerance match on a CONTINUOUS value is the value-space analog
    of events_point_in_interval's grid trick: bucket amounts into
    fixed $1000 cells, probe each row against its own cell and both
    NEIGHBORS (explode to [pb-1, pb, pb+1] on one side only — each
    true pair meets in exactly ONE bucket, the other row's, so no
    dedup pass), and evaluate the exact |diff| <= $500 residual
    inside the hash join. A raw |a.price - b.price| <= tol condition
    has no equi-key and would BNLJ; with the composite
    (custkey, bucket) key the candidates are Sigma|block|^2 over tiny
    per-customer cells. The oracle computes the same answer with the
    direct (quadratic-per-customer) join — losslessness of the
    +/-1-bucket cover is differential-tested by construction. Exact
    integer cents and day arithmetic end to end."""
    o = io.read_parquet(spark, f"{sf_dir}/orders.parquet").df.select(
        "o_orderkey", "o_custkey",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
          .alias("price_c"),
        F.col("o_orderdate").cast("date").alias("d"),
    )
    a = o.select(
        F.col("o_orderkey").alias("key_a"), F.col("o_custkey").alias("cust_a"),
        F.col("price_c").alias("pc_a"), F.col("d").alias("d_a"),
        F.expr("price_c div 100000").alias("pb_a"),
    )
    b = o.select(
        F.col("o_orderkey").alias("key_b"), F.col("o_custkey").alias("cust_b"),
        F.col("price_c").alias("pc_b"), F.col("d").alias("d_b"),
        F.explode(
            F.array(
                F.expr("price_c div 100000 - 1"),
                F.expr("price_c div 100000"),
                F.expr("price_c div 100000 + 1"),
            )
        ).alias("pb_b"),
    )
    return (
        a.join(
            b,
            (F.col("cust_a") == F.col("cust_b"))
            & (F.col("pb_a") == F.col("pb_b"))
            & (F.col("key_a") < F.col("key_b"))
            & (F.abs(F.col("pc_a") - F.col("pc_b")) <= 50000)
            & (F.abs(F.datediff(F.col("d_b"), F.col("d_a"))) <= 365),
        )
        .select(
            "key_a", "key_b",
            F.col("cust_a").alias("o_custkey"),
            F.abs(F.col("pc_a") - F.col("pc_b")).cast("bigint")
              .alias("price_diff_c"),
            F.abs(F.datediff(F.col("d_b"), F.col("d_a"))).cast("bigint")
              .alias("day_gap"),
        )
    )


@query(
    "events_cuped_adjusted_lift",
    oracle="""
    WITH u AS (
      SELECT CAST('0x' || substr(md5('cuped' || '|'
                   || CAST(user_id AS VARCHAR)), 1, 14) AS BIGINT) % 2 AS arm,
             sum(CASE WHEN ts < TIMESTAMP '2024-01-16'
                      THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
                      ELSE 0 END) AS x_c,
             sum(CASE WHEN ts >= TIMESTAMP '2024-01-16'
                      THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
                      ELSE 0 END) AS y_c
      FROM events GROUP BY user_id
    ),
    st AS (
      SELECT count(*)::HUGEINT AS n, sum(x_c)::HUGEINT AS sx,
             sum(y_c)::HUGEINT AS sy,
             sum(x_c::HUGEINT * y_c) AS sxy, sum(x_c::HUGEINT * x_c) AS sxx
      FROM u
    ),
    th AS (
      SELECT CAST(n * sxy - sx * sy AS DOUBLE)
               / CAST(n * sxx - sx * sx AS DOUBLE) AS theta,
             CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mean_x
      FROM st
    ),
    adj AS (
      SELECT arm, y_c,
             CAST(y_c AS DOUBLE) - theta * (CAST(x_c AS DOUBLE) - mean_x)
               AS yadj
      FROM u, th
    )
    SELECT
      count(*) FILTER (arm = 0)::BIGINT AS n_a,
      count(*) FILTER (arm = 1)::BIGINT AS n_b,
      floor((CAST(sum(y_c) FILTER (arm = 1) AS DOUBLE)
               / CAST(count(*) FILTER (arm = 1) AS DOUBLE)
             - CAST(sum(y_c) FILTER (arm = 0) AS DOUBLE)
               / CAST(count(*) FILTER (arm = 0) AS DOUBLE)) * 10000 + 0.5)
        / 10000 AS raw_lift_c,
      floor((sum(floor(yadj * 100 + 0.5)) FILTER (arm = 1) / 100
               / CAST(count(*) FILTER (arm = 1) AS DOUBLE)
             - sum(floor(yadj * 100 + 0.5)) FILTER (arm = 0) / 100
               / CAST(count(*) FILTER (arm = 0) AS DOUBLE)) * 10000 + 0.5)
        / 10000 AS cuped_lift_c,
      floor(any_value(theta) * 1000000 + 0.5) / 1000000 AS theta_q
    FROM adj, th
    """,
)
def events_cuped_adjusted_lift(spark, sf_dir):
    """CUPED variance reduction (Deng et al., WSDM'13 — the standard
    experiment-platform technique): the post-period per-user metric is
    adjusted by its pre-period covariate, Y' = Y - theta(X - mean X)
    with theta = cov(X,Y)/var(X) POOLED across arms (pooling keeps the
    adjustment unbiased for the treatment effect), then the arm
    difference is read off the adjusted means — same expectation as
    the raw lift, strictly smaller variance when pre and post
    correlate. Everything flows from ONE per-user aggregation:
    (arm, X, Y) with deterministic md5 arm hashing; theta comes from
    exact HUGEINT/DECIMAL moment sums pushed through Cramer-style
    double algebra with the oracle mirroring every op in order; the
    adjusted means use the order-independent qsum pattern. The
    synthetic split is a null experiment — both lifts ≈ 0 — which is
    precisely the calibration run platforms use to validate the
    CUPED plumbing before real experiments."""
    e = io.read_parquet(spark, f"{sf_dir}/events.parquet").df
    dec = "decimal(38,0)"
    v_c = "CAST(floor(value * 100 + 0.5) AS BIGINT)"
    u = e.groupBy("user_id").agg(
        F.expr(
            "CAST(conv(substring(md5(concat('cuped', '|',"
            " CAST(user_id AS STRING))), 1, 14), 16, 10) AS BIGINT) % 2"
        ).alias("arm"),
        F.expr(
            f"sum(CASE WHEN ts < TIMESTAMP '2024-01-16' THEN {v_c} ELSE 0 END)"
        ).alias("x_c"),
        F.expr(
            f"sum(CASE WHEN ts >= TIMESTAMP '2024-01-16' THEN {v_c} ELSE 0 END)"
        ).alias("y_c"),
    ).select("arm", "x_c", "y_c")
    st = u.agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum(F.col("x_c").cast(dec)).alias("sx"),
        F.sum(F.col("y_c").cast(dec)).alias("sy"),
        F.sum(F.col("x_c").cast(dec) * F.col("y_c")).alias("sxy"),
        F.sum(F.col("x_c").cast(dec) * F.col("x_c")).alias("sxx"),
    )
    # try_divide: a constant pre-period covariate (var(x) = 0 — the
    # constant-series fuzz shape) makes theta 0/0, where plain ANSI `/`
    # crashes Spark one-sidedly vs the oracle's NULL; try_divide ==
    # DuckDB `/` on zero divisors, and the NULL theta then propagates
    # identically through yadj/cuped_lift on both engines.
    th = st.select(
        F.expr(
            "try_divide(CAST(n * sxy - sx * sy AS DOUBLE),"
            " CAST(n * sxx - sx * sx AS DOUBLE))"
        ).alias("theta"),
        F.expr("CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)").alias("mean_x"),
    )
    adj = u.crossJoin(F.broadcast(th)).select(
        "arm", "y_c",
        F.expr(
            "CAST(y_c AS DOUBLE) - theta * (CAST(x_c AS DOUBLE) - mean_x)"
        ).alias("yadj"),
        "theta",
    )
    return adj.agg(
        F.expr("CAST(count(CASE WHEN arm = 0 THEN 1 END) AS BIGINT)").alias("n_a"),
        F.expr("CAST(count(CASE WHEN arm = 1 THEN 1 END) AS BIGINT)").alias("n_b"),
        # try_divide on the per-arm means too: an EMPTY arm (every
        # user hashing to one side on a degenerate corpus) makes the
        # count 0 — Spark ANSI would crash where DuckDB NULLs
        F.expr(
            "floor((try_divide(CAST(sum(CASE WHEN arm = 1 THEN y_c END) AS DOUBLE),"
            " CAST(count(CASE WHEN arm = 1 THEN 1 END) AS DOUBLE))"
            " - try_divide(CAST(sum(CASE WHEN arm = 0 THEN y_c END) AS DOUBLE),"
            " CAST(count(CASE WHEN arm = 0 THEN 1 END) AS DOUBLE))) * 10000 + 0.5)"
            " / 10000"
        ).alias("raw_lift_c"),
        F.expr(
            "floor((try_divide(sum(CASE WHEN arm = 1 THEN floor(yadj * 100 + 0.5) END) / 100,"
            " CAST(count(CASE WHEN arm = 1 THEN 1 END) AS DOUBLE))"
            " - try_divide(sum(CASE WHEN arm = 0 THEN floor(yadj * 100 + 0.5) END) / 100,"
            " CAST(count(CASE WHEN arm = 0 THEN 1 END) AS DOUBLE))) * 10000 + 0.5)"
            " / 10000"
        ).alias("cuped_lift_c"),
        F.expr("floor(any_value(theta) * 1000000 + 0.5) / 1000000").alias("theta_q"),
    )


@query(
    "orders_ses_level_fold",
    oracle="""
    WITH m AS (
      SELECT o_orderpriority,
             CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE) AS mo,
             sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS rev_c
      -- a monthly series has no slot for a dateless order; a NULL
      -- month would also sort differently in list() vs sort_array()
      FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1, 2
    ),
    arr AS (
      SELECT o_orderpriority,
             list(rev_c ORDER BY mo) AS xs,
             count(*)::BIGINT AS n_months
      FROM m GROUP BY 1
    )
    SELECT o_orderpriority, n_months,
           CAST(list_reduce(xs, (acc, x) -> (3 * x + 7 * acc) // 10)
                AS BIGINT) AS ses_level_c,
           CAST(xs[n_months] AS BIGINT) AS last_month_c
    FROM arr
    """,
)
def orders_ses_level_fold(spark, sf_dir):
    """Simple exponential smoothing (alpha = 0.3) of monthly revenue —
    a SEQUENTIAL recursion (s_k = alpha*x_k + (1-alpha)*s_{k-1}) that
    has no windowed/associative form, computed as an ARRAY FOLD over
    the bounded month dimension: per group, collect the ~80 monthly
    totals into one ordered array (sort_array over (month, x) structs
    — collect_list alone is partition-order nondeterministic) and run
    the recursion with ``aggregate`` / ``list_reduce``. The pattern
    generalizes: any small sequential tail of a large aggregation
    (ETS state, cumulative products, Horner evaluation) rides the
    same fold WITHOUT a driver loop or UDF, because the sequential
    part is DOMAIN-BOUNDED even when the scan is 100 TB. The
    recursion stays in exact integers by re-quantizing each step
    ((3x + 7s) div 10 — truncation, both operands non-negative so
    Spark div == DuckDB //); the big scan is one month hash-agg."""
    o = io.read_parquet(spark, f"{sf_dir}/orders.parquet").df
    m = o.filter(F.col("o_orderdate").isNotNull()).groupBy(
        "o_orderpriority",
        F.date_trunc("month", F.col("o_orderdate").cast("date")).cast("date")
          .alias("mo"),
    ).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint"))
          .alias("rev_c")
    )
    arr = m.groupBy("o_orderpriority").agg(
        F.expr("transform(sort_array(collect_list(struct(mo, rev_c))), s -> s.rev_c)")
          .alias("xs"),
        F.count(F.lit(1)).alias("n_months"),
    )
    return arr.select(
        "o_orderpriority", "n_months",
        F.expr(
            "CAST(aggregate(slice(xs, 2, size(xs) - 1), element_at(xs, 1),"
            " (acc, x) -> (3 * x + 7 * acc) div 10) AS BIGINT)"
        ).alias("ses_level_c"),
        F.expr("CAST(element_at(xs, CAST(n_months AS INT)) AS BIGINT)")
          .alias("last_month_c"),
    )


@query(
    "events_conversion_delay",
    oracle="""
    WITH s AS (SELECT user_id, min(ts) AS st FROM events
               WHERE event_type = 'signup' GROUP BY 1),
    p AS (
      SELECT e.user_id, min(e.ts) AS pt
      FROM events e JOIN s ON s.user_id = e.user_id
       AND e.ts > s.st AND e.ts <= s.st + INTERVAL 24 HOUR
      WHERE e.event_type = 'purchase' GROUP BY 1
    ),
    d AS (
      -- epoch_us // 1000000, never CAST(epoch() AS BIGINT): epoch()
      -- is DOUBLE seconds and the cast ROUNDS where Spark's floors
      SELECT (epoch_us(p.pt) // 1000000 - epoch_us(s.st) // 1000000) // 60
               AS m
      FROM p JOIN s ON p.user_id = s.user_id
    ),
    h AS (SELECT m, count(*) AS cnt FROM d GROUP BY 1),
    cum AS (SELECT m, sum(cnt) OVER (ORDER BY m ROWS UNBOUNDED PRECEDING) AS c
            FROM h),
    n AS (SELECT count(*)::BIGINT AS nn FROM d),
    ns AS (SELECT count(*)::BIGINT AS sn FROM s)
    SELECT sn AS n_signups, nn AS n_converted,
           CAST(nn::HUGEINT * 1000000 // sn AS BIGINT) AS conv_ppm,
           (SELECT min(m) FROM cum, n WHERE 2 * c >= nn)
             AS median_delay_min,
           (SELECT min(m) FROM cum, n WHERE 10 * c >= 9 * nn)
             AS p90_delay_min
    FROM n, ns
    """,
)
def events_conversion_delay(spark, sf_dir):
    """Time-CONSTRAINED conversion (first purchase within 24 h of a
    user's first signup) with the delay distribution — the funnel
    metric product teams actually track (events_funnel is the
    unbounded ordered variant). Delay quantiles come from a VALUE
    HISTOGRAM over minutes (domain bounded by the 1440-minute window
    — the winsorize/RFM discipline: cumsum windows only over bounded
    domains, never a per-user global sort), with ceil-rank selection
    matching percentile_disc on both engines. Two user-keyed aggs
    reusing one partitioning + a <=1440-row histogram; conversion
    rate as an exact integer ppm rational."""

    e = io.read_parquet(spark, f"{sf_dir}/events.parquet").df
    # first-signup and delay tables are PINNED: s fans out to the
    # purchase join, the delay derivation, and the signup count; d to
    # the histogram and the converted count — unpinned, each branch
    # recompiled the events scan (10 FileScans in this plan; the
    # auto-cache used-more-than-once policy applied by hand). Pinned,
    # the whole funnel costs two events scans.
    s = pin(
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id").agg(F.min("ts").alias("st"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(s, "user_id")
        .filter((F.col("ts") > F.col("st"))
                & (F.col("ts") <= F.col("st") + F.expr("interval 24 hours")))
        .groupBy("user_id").agg(F.min("ts").alias("pt"))
    )
    d = pin(p.join(s, "user_id").select(
        F.expr(
            "(unix_micros(pt) div 1000000 - unix_micros(st) div 1000000)"
            " div 60"
        ).alias("m")
    ))
    h = d.groupBy("m").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.orderBy("m").rowsBetween(Window.unboundedPreceding, 0)
    cum = h.select("m", F.sum("cnt").over(w).alias("c"))
    n = d.agg(F.count(F.lit(1)).alias("nn"))
    ns = s.agg(F.count(F.lit(1)).alias("sn"))
    q = cum.crossJoin(F.broadcast(n)).agg(
        F.min(F.when(2 * F.col("c") >= F.col("nn"), F.col("m")))
          .alias("median_delay_min"),
        F.min(F.when(10 * F.col("c") >= 9 * F.col("nn"), F.col("m")))
          .alias("p90_delay_min"),
    )
    return (
        ns.crossJoin(F.broadcast(n)).crossJoin(F.broadcast(q))
        .select(
            F.col("sn").alias("n_signups"),
            F.col("nn").alias("n_converted"),
            F.expr(
                "CASE WHEN sn = 0 THEN CAST(NULL AS BIGINT)"
                " ELSE CAST(CAST(nn AS DECIMAL(38,0)) * 1000000"
                " div sn AS BIGINT) END"
            ).alias("conv_ppm"),
            "median_delay_min", "p90_delay_min",
        )
    )


@query(
    "orders_price_volume_mix",
    oracle="""
    WITH y AS (
      SELECT o_orderpriority AS pri,
             CAST(year(CAST(o_orderdate AS DATE)) AS BIGINT) AS yr,
             count(*)::HUGEINT AS n,
             sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))::HUGEINT AS s
      FROM orders
      WHERE year(CAST(o_orderdate AS DATE)) IN (1996, 1997)
      GROUP BY 1, 2
    ),
    w AS (
      SELECT a.pri, a.n AS n1, a.s AS s1, b.n AS n2, b.s AS s2
      FROM y a JOIN y b ON a.pri = b.pri AND a.yr = 1996 AND b.yr = 1997
    )
    SELECT pri,
           CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
           CAST(s2 - s1 AS BIGINT) AS delta_c,
           CAST((n2 - n1) * s1 // n1 AS BIGINT) AS volume_c,
           CAST((n1 * s2) // n2 - s1 AS BIGINT) AS price_c,
           CAST((s2 - s1) - ((n2 - n1) * s1 // n1)
                - ((n1 * s2) // n2 - s1) AS BIGINT) AS mix_c
    FROM w
    """,
)
def orders_price_volume_mix(spark, sf_dir):
    """Price-volume-mix DECOMPOSITION of the 1996→1997 revenue change
    per priority class — the FP&A bridge chart: ΔR splits into a
    volume effect ((n2-n1)·avg1), a price effect (n1·(avg2-avg1)) and
    a mix/interaction residual. Exactness discipline: averages are
    rationals, so the two primary effects are computed as single
    floored HUGEINT/DECIMAL divisions ((n2-n1)·S1 div n1 and
    n1·S2 div n2 - S1) and the interaction term is defined as the
    RESIDUAL ΔR - volume - price — the decomposition reconciles to
    the exact revenue delta by construction, the property finance
    teams actually audit (floating-point bridges that don't sum to
    the delta are a classic BI bug). One year-filtered hash-agg, one
    tiny self-join on priority; signed integer division truncates
    toward zero identically on both engines here because the oracle
    uses the same // on HUGEINT."""
    o = io.read_parquet(spark, f"{sf_dir}/orders.parquet").df
    dec = "decimal(38,0)"
    y = (
        o.withColumn("yr", F.year(F.col("o_orderdate").cast("date")).cast("bigint"))
        .filter(F.col("yr").isin(1996, 1997))
        .groupBy(F.col("o_orderpriority").alias("pri"), "yr")
        .agg(
            F.count(F.lit(1)).cast(dec).alias("n"),
            F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint"))
              .cast(dec).alias("s"),
        )
    )
    a = y.filter(F.col("yr") == 1996).select(
        "pri", F.col("n").alias("n1"), F.col("s").alias("s1"))
    b = y.filter(F.col("yr") == 1997).select(
        "pri", F.col("n").alias("n2"), F.col("s").alias("s2"))
    return a.join(b, "pri").select(
        "pri",
        F.col("n1").cast("bigint").alias("n1"),
        F.col("n2").cast("bigint").alias("n2"),
        (F.col("s2") - F.col("s1")).cast("bigint").alias("delta_c"),
        F.expr("CAST((n2 - n1) * s1 div n1 AS BIGINT)").alias("volume_c"),
        F.expr("CAST((n1 * s2) div n2 - s1 AS BIGINT)").alias("price_c"),
        F.expr(
            "CAST((s2 - s1) - ((n2 - n1) * s1 div n1)"
            " - ((n1 * s2) div n2 - s1) AS BIGINT)"
        ).alias("mix_c"),
    )


@query(
    "window_value_range_band",
    oracle="""
    WITH o AS (
      SELECT o_orderkey, o_orderpriority,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS price_c
      FROM orders WHERE o_orderkey % 17 = 0
    )
    SELECT o_orderkey, o_orderpriority, price_c,
           count(*) OVER w::BIGINT AS n_band,
           sum(price_c) OVER w::BIGINT AS band_sum_c
    FROM o
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY price_c
                 RANGE BETWEEN 1000000 PRECEDING AND 1000000 FOLLOWING)
    """,
)
def window_value_range_band(spark, sf_dir):
    """VALUE-based RANGE window frame — the third frame kind after
    ROWS (physical offsets) and time-RANGE (window_rolling_30d):
    for each order, the count and sum of SAME-PRIORITY orders priced
    within ±$10,000 — peer-group pricing context. RANGE frames bound
    by the ORDER BY VALUE (here exact integer cents, so the band
    boundary can't wobble on float ties) make the frame
    data-dependent: two equal prices share an identical frame
    regardless of row order, which is what makes the result
    deterministic without a tie-break. Partitioned by priority —
    bounded per-partition sort, no global window; the %17 sparsify
    keeps the O(rows·band) oracle honest at every SF."""
    o = io.read_parquet(spark, f"{sf_dir}/orders.parquet").df.filter(
        F.col("o_orderkey") % 17 == 0
    ).select(
        "o_orderkey", "o_orderpriority",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
          .alias("price_c"),
    )
    w = (
        Window.partitionBy("o_orderpriority")
        .orderBy("price_c")
        .rangeBetween(-1000000, 1000000)
    )
    return o.select(
        "o_orderkey", "o_orderpriority", "price_c",
        F.count(F.lit(1)).over(w).cast("bigint").alias("n_band"),
        F.sum("price_c").over(w).cast("bigint").alias("band_sum_c"),
    )


@query(
    "events_gap_histogram",
    oracle="""
    WITH g AS (
      SELECT event_type,
             epoch_us(ts) // 1000000
               - epoch_us(lag(ts) OVER (PARTITION BY user_id, event_type
                                        ORDER BY ts, event_id)) // 1000000
               AS gap_s
      FROM events
    )
    SELECT event_type,
           CASE WHEN gap_s <= 0 THEN -1
                ELSE length(bin(gap_s))::BIGINT - 1 END AS log2_bucket,
           count(*)::BIGINT AS n,
           min(gap_s)::BIGINT AS min_gap_s,
           max(gap_s)::BIGINT AS max_gap_s
    FROM g WHERE gap_s IS NOT NULL
    GROUP BY 1, 2
    """,
)
def events_gap_histogram(spark, sf_dir):
    """Inter-arrival-time distribution on LOG2 buckets — the
    burstiness profile (bot bursts vs human pacing vs batch-ingest
    spikes live in different octaves): per (user, type), consecutive
    gaps in seconds, bucketed by floor(log2(gap)). The bucket is
    computed as length(bin(gap)) - 1 — integer bit-length, EXACT on
    both engines — never floor(log2(x)): log2 is a transcendental
    whose last-ulp rounding may differ across libm implementations
    and flip a boundary value (4095 vs 4096) into the wrong bucket,
    the same reason text_char_diversity uses Simpson instead of
    entropy. Equal-gap ties (gap 0 within one timestamp) get the -1
    sentinel bucket. One partitioned lag window + one small hash-agg;
    output is |types| x ~25 octaves."""
    e = io.read_parquet(spark, f"{sf_dir}/events.parquet").df
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    # unix_micros div 1000000, NOT cast(ts AS long): the cast floors
    # toward -inf while DuckDB's epoch_us // truncates toward zero —
    # they disagree on pre-1970 timestamps; the repo
    # epoch convention (exactness rules) uses div on microseconds
    sec = F.expr("unix_micros(ts) div 1000000")
    g = e.select(
        "event_type",
        (sec - F.lag(sec).over(w)).alias("gap_s"),
    ).filter(F.col("gap_s").isNotNull())
    return g.groupBy(
        "event_type",
        F.when(F.col("gap_s") <= 0, F.lit(-1))
         .otherwise(F.length(F.bin(F.col("gap_s"))).cast("bigint") - 1)
         .alias("log2_bucket"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("gap_s").cast("bigint").alias("min_gap_s"),
        F.max("gap_s").cast("bigint").alias("max_gap_s"),
    )


@query(
    "events_bitmap_dau",
    headline=True,
    oracle="""
    WITH b AS (
      SELECT CAST(epoch_us(time_bucket(INTERVAL 1 DAY, ts)) // 86400000000
               AS BIGINT) AS day,
             user_id // 63 AS block,
             bit_or(CAST(1 AS BIGINT) << CAST(user_id % 63 AS INT)) AS bits
      FROM events
      GROUP BY 1, 2
    )
    SELECT day,
           sum(bit_count(bits))::BIGINT AS dau,
           count(*)::BIGINT AS n_blocks
    FROM b GROUP BY day
    """,
)
def events_bitmap_dau(spark, sf_dir):
    """Daily active users via BITMAP aggregation — the roaring-bitmap
    pattern as pure dataflow: user ids bucket into 63-bit blocks
    (id div 63), each (day, block) ORs one-hot bits into a single
    BIGINT, and DAU is the sum of popcounts. Two exact integer
    aggregations — bit_or has a map-side partial like any other agg,
    and the intermediate state is ONE LONG per (day, block) instead
    of a hash set of user ids: for N users the distinct-count state
    collapses from O(users·8B) to O(users/63·8B), the reason bitmap
    indexes beat count(distinct) on dense id spaces (sparse spaces →
    HLL, sketch_hll_distinct). 63 bits not 64: 1<<63 would be the
    BIGINT sign bit — ANSI Spark rejects the overflow. Exactly equal
    to count(distinct user_id) by construction; shifts/popcounts are
    engine-exact."""
    e = io.read_parquet(spark, f"{sf_dir}/events.parquet").df
    b = e.groupBy(
        F.expr("CAST(CAST(date_trunc('day', ts) AS LONG) div 86400 AS BIGINT)")
          .alias("day"),
        F.expr("user_id div 63").alias("block"),
    ).agg(
        F.expr("bit_or(shiftleft(CAST(1 AS BIGINT), CAST(user_id % 63 AS INT)))")
          .alias("bits")
    )
    return b.groupBy("day").agg(
        F.expr("CAST(sum(bit_count(bits)) AS BIGINT)").alias("dau"),
        F.count(F.lit(1)).alias("n_blocks"),
    )


@query(
    "csv_gzip_read_agg",
    oracle="""
    SELECT o_orderstatus, count(*)::BIGINT AS n,
           CAST(sum(floor(o_totalprice * 100 + 0.5)) AS BIGINT) AS total_c
    FROM orders WHERE o_orderkey % 11 = 0
    GROUP BY o_orderstatus
    """,
)
def csv_gzip_read_agg(spark, sf_dir):
    """Compressed-text ingestion: a gzip CSV staged through Python's
    gzip (simulating the landing files upstream systems drop), read
    by extension-triggered codec inference, aggregated, and
    hash-matched against the original parquet — proving the codec +
    parse chain loses nothing. The SCALE caveat this query exists to
    document: gzip is NOT SPLITTABLE — one .gz file = one task no
    matter its size, so a 100 GB landing file serializes an entire
    executor; production landing zones shard into many ~128 MB .gz
    files (restoring parallelism file-wise — exactly what the
    executor-side sharded write here produces: one gz member per
    partition), or use a splittable codec/container (bzip2, or
    parquet/ORC with internal zstd) for anything one file large.
    Spark decompresses by extension with no config; the
    explicit-schema contract from read_csv applies unchanged."""
    o = T(spark, sf_dir, "orders")["orders"].df.filter(
        F.col("o_orderkey") % 11 == 0
    ).select("o_orderkey", "o_orderstatus", "o_totalprice")
    path = io.scratch_dir("emma_csvgz_") + "/orders"
    # executor-side sharded .csv.gz write — one gz member per
    # partition, the landing-zone layout that keeps file-wise
    # parallelism despite gzip's unsplittability
    # nullValue sentinel on BOTH sides: CSV's default cannot tell NULL
    # from '' (both land as an empty field, read back as NULL) — the
    # orders fuzz corpus carries both and silently merged two groups.
    # The \\N sentinel (the classic MySQL/Hive convention) makes the
    # round-trip lossless: NULL -> \\N, '' -> empty field -> ''.
    o.write.mode("overwrite").option("header", True).option(
        "compression", "gzip"
    ).option("nullValue", "\\N").csv(path)
    back = io.read_csv(
        spark, path,
        schema="o_orderkey bigint, o_orderstatus string, o_totalprice double",
        header=True,
        null_value="\\N",
    )
    return back.df.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint"))
          .alias("total_c"),
    )


@query(
    "pyds_custom_source_agg",
    oracle="""
    WITH r AS (SELECT unnest(range(20000)) AS id),
    s AS (
      SELECT id,
             CAST(concat('0x', substr(md5('synth|' || CAST(id AS VARCHAR)),
                  1, 14)) AS BIGINT) AS h
      FROM r
    )
    SELECT h % 7 AS g, count(*)::BIGINT AS n,
           sum(h % 10000)::BIGINT AS vc_sum,
           min(id)::BIGINT AS min_id, max(id)::BIGINT AS max_id
    FROM s GROUP BY 1
    """,
)
def pyds_custom_source_agg(spark, sf_dir):
    """Spark 4 PYTHON DATA SOURCE surface (sources/pyds.py): a custom
    connector registered with ``spark.dataSource.register`` and read
    through the normal ``spark.read.format(...)`` path — the seam for
    systems without a built-in connector. The source declares its
    parallelism via ``partitions()`` (each id slice = one task — on a
    real cluster the read fans out across executors exactly like a
    parquet scan) and generates deterministic md5-derived content, so
    the CONNECTOR is differentially tested: the oracle regenerates
    the identical table from ``range()`` with the same md5 math, no
    files involved. The aggregation downstream is ordinary JVM
    dataflow — the Python boundary ends at the scan."""
    from ..sources import pyds

    pyds.register(spark)
    df = (
        spark.read.format("emma_synth")
        .option("n", "20000").option("parts", "8")
        .load()
    )
    return df.groupBy((F.col("h") % 7).alias("g")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("vc").alias("vc_sum"),
        F.min("id").alias("min_id"),
        F.max("id").alias("max_id"),
    )


@query(
    "events_rolling_wau_bitmap",
    oracle="""
    WITH b AS (
      SELECT epoch_us(time_bucket(INTERVAL 1 DAY, ts)) // 86400000000 AS day,
             user_id // 63 AS block,
             bit_or(CAST(1 AS BIGINT) << CAST(user_id % 63 AS INT)) AS bits
      FROM events GROUP BY 1, 2
    ),
    span AS (SELECT min(day) AS lo, max(day) AS hi FROM b),
    grid AS (
      SELECT bl.block, d.day
      FROM (SELECT DISTINCT block FROM b) bl,
           (SELECT unnest(generate_series((SELECT lo FROM span),
                                          (SELECT hi FROM span))) AS day) d
    ),
    g AS (
      SELECT grid.block, grid.day, coalesce(b.bits, 0) AS bits
      FROM grid LEFT JOIN b ON grid.block = b.block AND grid.day = b.day
    ),
    r AS (
      SELECT block, day,
             bit_or(bits) OVER (PARTITION BY block ORDER BY day
                                RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
               AS rolled
      FROM g
    )
    SELECT CAST(day AS BIGINT) AS day,
           sum(bit_count(rolled))::BIGINT AS wau
    FROM r GROUP BY day
    """,
)
def events_rolling_wau_bitmap(spark, sf_dir):
    """ROLLING DISTINCT — trailing-7-day active users per day — the
    aggregation SQL cannot express efficiently (count(DISTINCT) over
    a sliding frame is not decomposable: naive engines re-scan each
    window). The bitmap algebra makes it one pass: per (day,
    user-block) OR-bitmaps (events_bitmap_dau's encoding), the block
    timeline densified over the corpus day span, a bit_or window
    over the trailing 7 days per block (OR is associative — the
    frame composes exactly where count-distinct can't), and popcounts
    summed per day. State per block-day is ONE LONG; the window is
    partitioned by block with a bounded day-range frame — nothing
    global, nothing quadratic, exact (not a sketch). This is the
    production shape for rolling MAU/WAU on dense id spaces; sparse
    ids swap the bitmap for HLL registers (union is also
    associative) at the cost of exactness."""
    e = io.read_parquet(spark, f"{sf_dir}/events.parquet").df
    b = e.groupBy(
        F.expr("CAST(CAST(date_trunc('day', ts) AS LONG) div 86400 AS BIGINT)")
          .alias("day"),
        F.expr("user_id div 63").alias("block"),
    ).agg(
        F.expr("bit_or(shiftleft(CAST(1 AS BIGINT), CAST(user_id % 63 AS INT)))")
          .alias("bits")
    )
    span = b.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
    blocks = b.select("block").distinct()
    grid = blocks.crossJoin(F.broadcast(span)).select(
        "block", F.explode(F.sequence("lo", "hi")).alias("day")
    )
    g = grid.join(b, ["block", "day"], "left").select(
        "block", "day", F.coalesce("bits", F.lit(0)).alias("bits")
    )
    w = Window.partitionBy("block").orderBy("day").rangeBetween(-6, 0)
    r = g.select("block", "day", F.expr("bit_or(bits)").over(w).alias("rolled"))
    return r.groupBy("day").agg(
        F.expr("CAST(sum(bit_count(rolled)) AS BIGINT)").alias("wau")
    )


@query(
    "lineitem_ship_latency",
    oracle="""
    WITH l AS (
      SELECT o.o_orderpriority AS pri,
             date_diff('day', CAST(o.o_orderdate AS DATE),
                       CAST(li.l_shipdate AS DATE)) AS lat
      FROM lineitem li JOIN orders o ON li.l_orderkey = o.o_orderkey
      -- an unlabeled priority is not an SLA class and a dateless pair
      -- has no latency; NULL lat would also order differently in the
      -- two engines' cumulative windows
      WHERE o.o_orderpriority IS NOT NULL AND o.o_orderdate IS NOT NULL
        AND li.l_shipdate IS NOT NULL
    ),
    h AS (SELECT pri, lat, count(*) AS cnt FROM l GROUP BY 1, 2),
    tot AS (SELECT pri, sum(cnt) AS n FROM h GROUP BY pri),
    cum AS (
      SELECT pri, lat,
             sum(cnt) OVER (PARTITION BY pri ORDER BY lat
                            ROWS UNBOUNDED PRECEDING) AS c
      FROM h
    )
    SELECT t.pri,
           CAST(t.n AS BIGINT) AS n_lines,
           (SELECT min(lat) FROM cum WHERE cum.pri = t.pri
             AND 2 * c >= t.n)::BIGINT AS median_days,
           (SELECT min(lat) FROM cum WHERE cum.pri = t.pri
             AND 10 * c >= 9 * t.n)::BIGINT AS p90_days,
           (SELECT max(lat) FROM cum WHERE cum.pri = t.pri)::BIGINT
             AS max_days
    FROM tot t
    """,
)
def lineitem_ship_latency(spark, sf_dir):
    """Order-to-ship latency SLA readout per priority class — the
    fulfillment metric (are '1-URGENT' orders actually shipping
    faster?): day-count latencies summarized as median/p90/max via
    the per-group VALUE-HISTOGRAM quantile pattern (latency domain is
    bounded by the corpus date span, so the cumsum window runs over
    the histogram, never the fact table — the winsorize discipline).
    One fact join (orderkey — at scale co-partitioned/bucketed with
    lineitem), one histogram agg, ceil-rank selection matching
    percentile_disc on both engines."""
    t = io.load_tables(spark, sf_dir, "lineitem", "orders")
    li, o = t["lineitem"].df, t["orders"].df
    l = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .filter(
            F.col("o_orderpriority").isNotNull()
            & F.col("o_orderdate").isNotNull()
            & F.col("l_shipdate").isNotNull()
        )
        .select(
            F.col("o_orderpriority").alias("pri"),
            F.datediff(F.col("l_shipdate").cast("date"),
                       F.col("o_orderdate").cast("date")).alias("lat"),
        )
    )

    # unpinned: 3 lineitem scans at sf0.001, median ×1.15 sf0.1 / ×1.03 sf1
    h = pin(l.groupBy("pri", "lat").agg(F.count(F.lit(1)).alias("cnt")))
    tot = h.groupBy("pri").agg(F.sum("cnt").alias("n"))
    w = Window.partitionBy("pri").orderBy("lat").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = h.select("pri", "lat", F.sum("cnt").over(w).alias("c"))
    q = (
        cum.join(F.broadcast(tot), "pri")
        .groupBy("pri")
        .agg(
            F.min(F.when(2 * F.col("c") >= F.col("n"), F.col("lat")))
              .alias("median_days"),
            F.min(F.when(10 * F.col("c") >= 9 * F.col("n"), F.col("lat")))
              .alias("p90_days"),
            F.max("lat").alias("max_days"),
        )
    )
    return (
        tot.join(q, "pri")
        .select(
            "pri", F.col("n").cast("bigint").alias("n_lines"),
            F.col("median_days").cast("bigint").alias("median_days"),
            F.col("p90_days").cast("bigint").alias("p90_days"),
            F.col("max_days").cast("bigint").alias("max_days"),
        )
    )


_VIT_FOLD = """
  CASE WHEN size(a) = 0 THEN CAST(NULL AS DECIMAL(38,0)) ELSE
  aggregate(
    transform(sequence(1, size(a)), i ->
      CAST(shiftleft(CAST(1 AS BIGINT), i - 1) AS DECIMAL(38,0)) * E + a[i-1]),
    gam * M * M,
    (acc, y) ->
      ((least(acc div (B*M*M), (acc % (B*M*M)) div (M*M)) + abs(y % E - lam0)) * B
       + least(acc div (B*M*M) + gam, (acc % (B*M*M)) div (M*M)) + abs(y % E - lam1)) * M * M
      + (CASE WHEN acc div (B*M*M) <= (acc % (B*M*M)) div (M*M)
              THEN (acc % (M*M)) div M ELSE acc % M END) * M
      + (CASE WHEN acc div (B*M*M) + gam <= (acc % (B*M*M)) div (M*M)
              THEN (acc % (M*M)) div M ELSE acc % M END) + y div E
  ) END"""

_VIT_FOLD_DUCK = """
  list_reduce(
    list_prepend(gam * M * M,
      list_transform(range(1, len(a)+1),
        i -> (CAST(1 AS HUGEINT) << CAST(i - 1 AS INT)) * E + a[i])),
    (acc, y) ->
      ((least(acc // (B*M*M), (acc % (B*M*M)) // (M*M)) + abs(y % E - lam0)) * B
       + least(acc // (B*M*M) + gam, (acc % (B*M*M)) // (M*M)) + abs(y % E - lam1)) * M * M
      + (CASE WHEN acc // (B*M*M) <= (acc % (B*M*M)) // (M*M)
              THEN (acc % (M*M)) // M ELSE acc % M END) * M
      + (CASE WHEN acc // (B*M*M) + gam <= (acc % (B*M*M)) // (M*M)
              THEN (acc % (M*M)) // M ELSE acc % M END) + y // E
  )"""


@query(
    "events_burst_viterbi",
    oracle=f"""
    WITH d AS (
      SELECT epoch_us(time_bucket(INTERVAL 1 DAY, ts)) // 86400000000 AS day,
             count(*)::HUGEINT AS cnt
      FROM events WHERE event_type = 'error' GROUP BY 1
    ),
    span AS (SELECT min(day) AS lo, max(day) AS hi FROM d),
    grid AS (
      SELECT g.day, coalesce(d.cnt, 0) AS cnt
      FROM (SELECT unnest(generate_series((SELECT lo FROM span),
                                          (SELECT hi FROM span))) AS day) g
      LEFT JOIN d ON g.day = d.day
    ),
    arr AS (
      SELECT list(cnt ORDER BY day) AS a, count(*)::HUGEINT AS nd,
             sum(cnt)::HUGEINT AS tot
      FROM grid
    ),
    p AS (
      SELECT a, nd, tot // nd AS lam0, 3 * (tot // nd) + 1 AS lam1,
             (tot // nd) + 1 AS gam,
             1073741824::HUGEINT AS B, 2147483648::HUGEINT AS M,
             8589934592::HUGEINT AS E
      FROM arr
    ),
    v AS (SELECT nd, lam0, {_VIT_FOLD_DUCK} AS r, B, M FROM p)
    SELECT CAST(nd AS BIGINT) AS n_days, CAST(lam0 AS BIGINT) AS lam0,
           CAST(least(r // (B*M*M), (r % (B*M*M)) // (M*M)) AS BIGINT)
             AS total_cost,
           CAST(CASE WHEN r // (B*M*M) <= (r % (B*M*M)) // (M*M)
                THEN 0 ELSE 1 END AS BIGINT) AS final_state,
           CAST(CASE WHEN r // (B*M*M) <= (r % (B*M*M)) // (M*M)
                THEN (r % (M*M)) // M ELSE r % M END AS BIGINT) AS burst_mask,
           bit_count(CAST(CASE WHEN r // (B*M*M) <= (r % (B*M*M)) // (M*M)
                THEN (r % (M*M)) // M ELSE r % M END AS BIGINT))::BIGINT
             AS n_burst_days
    FROM v
    """,
)
def events_burst_viterbi(spark, sf_dir):
    """BURST DETECTION as an exact Viterbi DP (Kleinberg's two-state
    burst automaton, SIGKDD'02, with L1 emission costs): daily error
    counts are explained by a base state (rate lam0 = corpus mean) or
    a burst state (3*lam0+1), with a transition penalty for entering
    a burst; the minimum-cost state sequence marks WHICH days were
    bursty — structurally stronger than per-day thresholding
    (events_anomaly_zscore), because isolated blips don't pay the
    entry penalty but sustained elevation does. The sequential DP
    rides the repo's bounded-array-fold pattern (orders_ses_level_fold)
    with one twist: the Viterbi state (two path costs + two
    backpointer BITMASKS) is PACKED INTO A SINGLE 128-bit integer
    (DECIMAL(38,0)/HUGEINT slots of 2^30/2^31) because a struct
    accumulator evaluates with engine-specific field-update semantics
    (DuckDB 1.0 updates struct_pack fields sequentially), while
    integer div/mod slot extraction is unambiguous everywhere — the
    widened-slot rule graduated into a full DP register file. Exact
    integers end to end; both engines produce the identical packed
    word, hash-checked. Day span must fit the 31-bit mask slot (the
    corpus is 30 days; longer spans widen the slots or segment the
    timeline)."""
    e = io.read_parquet(spark, f"{sf_dir}/events.parquet").df
    dec = "decimal(38,0)"
    d = (
        e.filter(F.col("event_type") == "error")
        .groupBy(F.expr("CAST(CAST(date_trunc('day', ts) AS LONG) div 86400"
                        " AS BIGINT)").alias("day"))
        .agg(F.count(F.lit(1)).cast(dec).alias("cnt"))
    )
    span = d.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
    grid = (
        span.select(F.explode(F.sequence("lo", "hi")).alias("day"))
        .join(d, "day", "left")
        .select("day", F.coalesce("cnt", F.lit(0).cast(dec)).alias("cnt"))
    )
    arr = grid.agg(
        F.expr("transform(sort_array(collect_list(struct(day, cnt))), s -> s.cnt)")
          .alias("a"),
        F.count(F.lit(1)).cast(dec).alias("nd"),
        F.sum("cnt").alias("tot"),
    )
    p = arr.select(
        "a", "nd",
        F.expr("tot div nd").alias("lam0"),
        F.expr("3 * (tot div nd) + 1").alias("lam1"),
        F.expr("(tot div nd) + 1").alias("gam"),
        F.expr(f"CAST(1073741824 AS {dec})").alias("B"),
        F.expr(f"CAST(2147483648 AS {dec})").alias("M"),
        F.expr(f"CAST(8589934592 AS {dec})").alias("E"),
    )
    v = p.select("nd", "lam0", F.expr(_VIT_FOLD).alias("r"), "B", "M")
    best_mask = (
        "CASE WHEN r div (B*M*M) <= (r % (B*M*M)) div (M*M)"
        " THEN (r % (M*M)) div M ELSE r % M END"
    )
    return v.select(
        F.col("nd").cast("bigint").alias("n_days"),
        F.col("lam0").cast("bigint").alias("lam0"),
        F.expr(
            "CAST(least(r div (B*M*M), (r % (B*M*M)) div (M*M)) AS BIGINT)"
        ).alias("total_cost"),
        F.expr(
            "CAST(CASE WHEN r div (B*M*M) <= (r % (B*M*M)) div (M*M)"
            " THEN 0 ELSE 1 END AS BIGINT)"
        ).alias("final_state"),
        F.expr(f"CAST({best_mask} AS BIGINT)").alias("burst_mask"),
        F.expr(f"CAST(bit_count(CAST({best_mask} AS BIGINT)) AS BIGINT)")
          .alias("n_burst_days"),
    )


@query(
    "orders_price_drift_chi2",
    oracle="""
    WITH b AS (
      SELECT o_orderpriority AS pri,
             CAST(year(CAST(o_orderdate AS DATE)) AS BIGINT) AS yr,
             CASE WHEN isnan(o_totalprice) OR isinf(o_totalprice)
                  THEN CAST(NULL AS BIGINT)
                  ELSE CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                       // 1000000 END AS bin,
             count(*)::HUGEINT AS c
      FROM orders WHERE year(CAST(o_orderdate AS DATE)) IN (1996, 1997)
      GROUP BY 1, 2, 3
    ),
    n AS (SELECT pri, yr, sum(c) AS n FROM b GROUP BY 1, 2),
    w AS (
      SELECT coalesce(a.pri, c.pri) AS pri, coalesce(a.bin, c.bin) AS bin,
             coalesce(a.c, 0) AS c1, coalesce(c.c, 0) AS c2
      FROM (SELECT * FROM b WHERE yr = 1996) a
      FULL JOIN (SELECT * FROM b WHERE yr = 1997) c
        ON a.pri = c.pri AND a.bin IS NOT DISTINCT FROM c.bin
    ),
    r AS (
      SELECT w.pri,
             c1 * 1000000 // n1.n AS p, c2 * 1000000 // n2.n AS q
      FROM w
      JOIN n n1 ON w.pri = n1.pri AND n1.yr = 1996
      JOIN n n2 ON w.pri = n2.pri AND n2.yr = 1997
    )
    SELECT pri,
           count(*)::BIGINT AS n_bins,
           CAST(sum((p - q) * (p - q) // (p + q + 1)) AS BIGINT) AS chi2_scaled
    FROM r GROUP BY pri
    """,
)
def orders_price_drift_chi2(spark, sf_dir):
    """Distribution DRIFT between two periods (1996 vs 1997 order
    values, $10k bins, per priority) as a symmetric chi-square
    statistic over ppm-quantized bin rates — the log-free stand-in
    for PSI (population stability index): PSI's (p-q)·ln(p/q) term
    needs a transcendental that is not correctly-rounded across
    engines, while Sigma (p-q)^2/(p+q) ranks drifting segments
    identically and stays in exact integers (rates quantized to ppm
    BEFORE the formula, the repo's rule). Empty bins on either side
    are kept by the FULL join (drift often lives in bins one period
    doesn't have); +1 in the denominator guards the 0/0 bin. The
    monitoring readout every scoring pipeline schedules against its
    training distribution. Two hash-aggs + one full outer join on
    (priority, bin) — all domain-bounded."""

    o = io.read_parquet(spark, f"{sf_dir}/orders.parquet").df
    dec = "decimal(38,0)"
    # the (pri, yr, bin) histogram fans out to both period slices and
    # both per-period totals — PINNED (domain-bounded cells, never
    # data-sized) so the plan costs one orders scan, not the four it
    # compiled unpinned
    # non-finite prices bin to NULL (the corruption bucket) on BOTH
    # engines: Spark's floor silently maps NaN→0 / ±inf→±Long.MaxValue
    # where DuckDB raises casting NaN to BIGINT —
    # without the guard a NaN-priced order lands in the $0 bin on one
    # engine and crashes the other. A drifting corruption RATE is
    # itself drift, so the NULL bucket participates in the statistic.
    from . import _nonfinite

    price = F.col("o_totalprice").cast("double")
    b = pin(
        o.withColumn("yr", F.year(F.col("o_orderdate").cast("date")).cast("bigint"))
        .filter(F.col("yr").isin(1996, 1997))
        .groupBy(
            F.col("o_orderpriority").alias("pri"), "yr",
            F.when(_nonfinite(price), F.lit(None).cast("bigint")).otherwise(
                F.expr(
                    "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"
                    " div 1000000"
                )
            ).alias("bin"),
        )
        .agg(F.count(F.lit(1)).cast(dec).alias("c"))
    )
    n = b.groupBy("pri", "yr").agg(F.sum("c").alias("n"))
    a = b.filter(F.col("yr") == 1996).select(
        "pri", "bin", F.col("c").alias("c1"))
    c = b.filter(F.col("yr") == 1997).select(
        F.col("pri").alias("pri2"), F.col("bin").alias("bin2"),
        F.col("c").alias("c2"))
    # bin joins NULL-SAFELY (<=> / IS NOT DISTINCT FROM on both
    # engines): the NULL corruption bucket present in both periods is
    # ONE (p-q)^2 comparison, not two one-sided bins — plain equality
    # never matches NULL to itself, which would inflate n_bins by 2 and
    # contribute p^2+q^2
    w = (
        a.join(c, (F.col("pri") == F.col("pri2"))
               & F.col("bin").eqNullSafe(F.col("bin2")),
               "full")
        .select(
            F.coalesce("pri", "pri2").alias("pri"),
            F.coalesce("bin", "bin2").alias("bin"),
            F.coalesce("c1", F.lit(0).cast(dec)).alias("c1"),
            F.coalesce("c2", F.lit(0).cast(dec)).alias("c2"),
        )
    )
    n1 = n.filter(F.col("yr") == 1996).select("pri", F.col("n").alias("n1"))
    n2 = n.filter(F.col("yr") == 1997).select("pri", F.col("n").alias("n2"))
    r = (
        w.join(F.broadcast(n1), "pri").join(F.broadcast(n2), "pri")
        .select("pri",
                F.expr("c1 * 1000000 div n1").alias("p"),
                F.expr("c2 * 1000000 div n2").alias("q"))
    )
    return r.groupBy("pri").agg(
        F.count(F.lit(1)).alias("n_bins"),
        F.expr(
            "CAST(sum((p - q) * (p - q) div (p + q + 1)) AS BIGINT)"
        ).alias("chi2_scaled"),
    )


@query(
    "part_abc_xyz_matrix",
    oracle="""
    WITH pr AS (
      SELECT l_partkey AS pk,
             CAST(month(CAST(l_shipdate AS DATE)) AS BIGINT)
               + 12 * CAST(year(CAST(l_shipdate AS DATE)) AS BIGINT) AS mo,
             sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5)
                      AS BIGINT)) AS rev_c,
             sum(CAST(l_quantity AS BIGINT)) AS qty
      FROM lineitem GROUP BY 1, 2
    ),
    per_part AS (
      SELECT pk, sum(rev_c)::HUGEINT AS rev,
             count(*)::HUGEINT AS nm,
             sum(qty)::HUGEINT AS sq, sum(qty * qty)::HUGEINT AS sqq
      FROM pr GROUP BY pk
    ),
    tot AS (SELECT sum(rev) AS total_rev FROM per_part),
    cls AS (
      SELECT pk,
             CASE WHEN rev * 100 >= (SELECT total_rev FROM tot) * 2 // 1000
                  THEN 'A'
                  WHEN rev * 100 >= (SELECT total_rev FROM tot) * 5 // 10000
                  THEN 'B' ELSE 'C' END AS abc,
             CASE WHEN nm * sqq - sq * sq <= (sq * sq) // 4 THEN 'X'
                  WHEN nm * sqq - sq * sq <= (sq * sq) THEN 'Y'
                  ELSE 'Z' END AS xyz
      FROM per_part
    )
    SELECT abc, xyz, count(*)::BIGINT AS n_parts
    FROM cls GROUP BY 1, 2
    """,
)
def part_abc_xyz_matrix(spark, sf_dir):
    """ABC-XYZ inventory segmentation — the supply-chain planning
    matrix: parts classed by revenue IMPORTANCE (A ≥ 0.2% of total
    revenue, B ≥ 0.05% — per-part share thresholds, exact HUGEINT
    cross-multiplication, no global sort) x demand VARIABILITY from
    the monthly-quantity coefficient of variation. CV thresholds
    (0.5 / 1.0) are compared in SQUARED form — n·Σq² − (Σq)² vs
    (Σq)²/4 and (Σq)² — so the classification needs no sqrt, no
    division, no float: the variance identity as an integer
    cross-multiplied inequality (the same move as the z-test
    queries). One (part, month) pre-agg, one per-part agg, one
    single-row broadcast; output is the 9-cell planning matrix."""
    li = io.read_parquet(spark, f"{sf_dir}/lineitem.parquet").df
    dec = "decimal(38,0)"
    pr = li.groupBy(
        F.col("l_partkey").alias("pk"),
        (F.month(F.col("l_shipdate").cast("date")).cast("bigint")
         + 12 * F.year(F.col("l_shipdate").cast("date")).cast("bigint"))
          .alias("mo"),
    ).agg(
        F.sum(F.floor(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
                      + F.lit(0.5)).cast("bigint")).alias("rev_c"),
        F.sum(F.col("l_quantity").cast("bigint")).alias("qty"),
    )
    per_part = pr.groupBy("pk").agg(
        F.sum("rev_c").cast(dec).alias("rev"),
        F.count(F.lit(1)).cast(dec).alias("nm"),
        F.sum("qty").cast(dec).alias("sq"),
        F.sum(F.col("qty").cast(dec) * F.col("qty")).alias("sqq"),
    )
    tot = per_part.agg(F.sum("rev").alias("total_rev"))
    cls = per_part.crossJoin(F.broadcast(tot)).select(
        "pk",
        F.expr(
            "CASE WHEN rev * 100 >= total_rev * 2 div 1000 THEN 'A'"
            " WHEN rev * 100 >= total_rev * 5 div 10000 THEN 'B'"
            " ELSE 'C' END"
        ).alias("abc"),
        F.expr(
            "CASE WHEN nm * sqq - sq * sq <= (sq * sq) div 4 THEN 'X'"
            " WHEN nm * sqq - sq * sq <= (sq * sq) THEN 'Y'"
            " ELSE 'Z' END"
        ).alias("xyz"),
    )
    return cls.groupBy("abc", "xyz").agg(F.count(F.lit(1)).alias("n_parts"))


@query(
    "lineitem_returns_pchart",
    oracle="""
    WITH w AS (
      SELECT (CAST(epoch(CAST(l_shipdate AS TIMESTAMP)) AS BIGINT)
              // 86400) // 7 AS wk,
             count(*)::HUGEINT AS n,
             sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)::HUGEINT AS r
      FROM lineitem GROUP BY 1
    ),
    g AS (SELECT sum(n) AS tn, sum(r) AS tr FROM w)
    SELECT CAST(wk AS BIGINT) AS wk, CAST(n AS BIGINT) AS n,
           CAST(r AS BIGINT) AS r,
           CAST(r * 1000000 // n AS BIGINT) AS rate_ppm,
           ((r * tn - tr * n) * (r * tn - tr * n)
             > 9 * n * tr * (tn - tr)) AS out_of_control
    FROM w, g
    """,
)
def lineitem_returns_pchart(spark, sf_dir):
    """Statistical process control P-CHART on the weekly return rate:
    a week is out-of-control when its rate leaves the 3-sigma binomial
    band around the overall rate p = tr/tn — the quality-monitoring
    primitive manufacturing and ops teams run on every defect stream.
    The control test ((r/n − p)² > 9·p(1−p)/n) is evaluated entirely
    in CROSS-MULTIPLIED integers — multiply both sides by n²·tn²:
    (r·tn − tr·n)² > 9·n·tr·(tn−tr) — exact HUGEINT/DECIMAL products,
    zero division or sqrt (the z-test integer rule). One weekly hash-agg +
    a single-row broadcast; at 100 TB the weekly pre-agg IS the
    chart."""
    li = io.read_parquet(spark, f"{sf_dir}/lineitem.parquet").df
    dec = "decimal(38,0)"
    w = li.groupBy(
        F.expr("(CAST(CAST(l_shipdate AS TIMESTAMP) AS LONG) div 86400) div 7")
          .alias("wk")
    ).agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0)).cast(dec)
          .alias("r"),
    )
    g = w.agg(F.sum("n").alias("tn"), F.sum("r").alias("tr"))
    return w.crossJoin(F.broadcast(g)).select(
        F.col("wk").cast("bigint").alias("wk"),
        F.col("n").cast("bigint").alias("n"),
        F.col("r").cast("bigint").alias("r"),
        F.expr("CAST(r * 1000000 div n AS BIGINT)").alias("rate_ppm"),
        F.expr(
            "(r * tn - tr * n) * (r * tn - tr * n)"
            " > 9 * n * tr * (tn - tr)"
        ).alias("out_of_control"),
    )


@query(
    "orders_seasonal_mase_eval",
    oracle="""
    WITH m AS (
      SELECT o_orderpriority AS pri,
             CAST(year(CAST(o_orderdate AS DATE)) AS BIGINT) * 12
               + CAST(month(CAST(o_orderdate AS DATE)) AS BIGINT) AS mo,
             sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))::HUGEINT
               AS rev
      FROM orders GROUP BY 1, 2
    ),
    e AS (
      SELECT a.pri,
             abs(a.rev - s.rev) AS e_seasonal,
             abs(a.rev - p.rev) AS e_naive
      FROM m a
      JOIN m s ON a.pri = s.pri AND s.mo = a.mo - 12
      JOIN m p ON a.pri = p.pri AND p.mo = a.mo - 1
    )
    SELECT pri, count(*)::BIGINT AS n_eval_months,
           CAST(sum(e_seasonal) AS BIGINT) AS mae_seasonal_c,
           CAST(sum(e_naive) AS BIGINT) AS mae_naive_c,
           CAST(sum(e_seasonal) * 1000000 // sum(e_naive) AS BIGINT)
             AS mase_ppm
    FROM e GROUP BY pri
    """,
)
def orders_seasonal_mase_eval(spark, sf_dir):
    """Forecast-quality baseline: MASE (mean absolute SCALED error,
    Hyndman & Koehler 2006) of the seasonal-naive forecast (month
    m−12) against the one-step naive (month m−1) on per-priority
    monthly revenue — the scale-free benchmark every forecasting
    effort must beat before it earns a model (< 1e6 ppm: seasonality
    carries signal beyond persistence). Equal month counts make the
    MAE ratio equal the sum-of-|error| ratio, so the whole metric is
    ONE exact integer rational in ppm — no division until the final
    integral one, no floats anywhere. Monthly pre-agg + two slim
    self-joins on the (bounded) month index."""

    o = io.read_parquet(spark, f"{sf_dir}/orders.parquet").df
    dec = "decimal(38,0)"
    # the monthly pre-agg is consumed three times (actuals + both
    # naive-forecast legs) — PINNED (priorities × months rows) so the
    # plan costs one orders scan, not three
    m = pin(o.groupBy(
        F.col("o_orderpriority").alias("pri"),
        (F.year(F.col("o_orderdate").cast("date")).cast("bigint") * 12
         + F.month(F.col("o_orderdate").cast("date")).cast("bigint")).alias("mo"),
    ).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint"))
          .cast(dec).alias("rev")
    ))
    a = m.select("pri", "mo", F.col("rev").alias("ra"))
    sjoin = m.select(F.col("pri").alias("ps"), F.col("mo").alias("ms"),
                     F.col("rev").alias("rs"))
    pjoin = m.select(F.col("pri").alias("pp"), F.col("mo").alias("mp"),
                     F.col("rev").alias("rp"))
    e = (
        a.join(sjoin, (F.col("pri") == F.col("ps")) & (F.col("ms") == F.col("mo") - 12))
        .join(pjoin, (F.col("pri") == F.col("pp")) & (F.col("mp") == F.col("mo") - 1))
        .select("pri", F.abs(F.col("ra") - F.col("rs")).alias("e_seasonal"),
                F.abs(F.col("ra") - F.col("rp")).alias("e_naive"))
    )
    return e.groupBy("pri").agg(
        F.count(F.lit(1)).alias("n_eval_months"),
        F.sum("e_seasonal").cast("bigint").alias("mae_seasonal_c"),
        F.sum("e_naive").cast("bigint").alias("mae_naive_c"),
        F.expr(
            "CAST(sum(e_seasonal) * 1000000 div sum(e_naive) AS BIGINT)"
        ).alias("mase_ppm"),
    )


@query(
    "orders_benford_audit",
    oracle="""
    WITH d AS (
      SELECT CAST(substr(CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                              AS VARCHAR), 1, 1) AS BIGINT) AS digit
      FROM orders WHERE o_totalprice >= 1
    ),
    h AS (SELECT digit, count(*)::HUGEINT AS n FROM d GROUP BY digit),
    tot AS (SELECT sum(n) AS tn FROM h),
    ben(digit, exp_ppm) AS (VALUES
      (1, 301030), (2, 176091), (3, 124939), (4, 96910), (5, 79181),
      (6, 66947), (7, 57992), (8, 51153), (9, 45757)),
    j AS (
      SELECT b.digit, b.exp_ppm::HUGEINT AS exp_ppm,
             coalesce(h.n, 0) * 1000000 // t.tn AS obs_ppm
      FROM ben b LEFT JOIN h ON b.digit = h.digit, tot t
    )
    SELECT CAST(digit AS BIGINT) AS digit,
           CAST(obs_ppm AS BIGINT) AS obs_ppm,
           CAST(exp_ppm AS BIGINT) AS exp_ppm,
           CAST((obs_ppm - exp_ppm) * (obs_ppm - exp_ppm) // exp_ppm
                AS BIGINT) AS chi2_term
    FROM j
    """,
)
def orders_benford_audit(spark, sf_dir):
    """BENFORD'S LAW first-digit audit — the forensic-accounting
    screen for fabricated amounts: naturally occurring multi-scale
    money amounts put digit d first with probability log10(1+1/d);
    invented numbers (and TPC-H's UNIFORM prices, as this table
    shows — a deliberate NEGATIVE control with huge chi2 terms)
    deviate hard. The first digit is extracted by STRING slicing of
    the exact integer cents (no log10, no float compare); expected
    frequencies are ppm LITERALS (the only principled way to get
    log-derived constants into a cross-engine-exact query: quantize
    once, share the literal). Per-digit chi-square terms in exact
    integers localize WHICH digits deviate. One scan, 9-row output."""
    o = io.read_parquet(spark, f"{sf_dir}/orders.parquet").df
    dec = "decimal(38,0)"
    d = o.filter(F.col("o_totalprice") >= 1).select(
        F.expr(
            "CAST(substring(CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"
            " AS STRING), 1, 1) AS BIGINT)"
        ).alias("digit")
    )
    h = d.groupBy("digit").agg(F.count(F.lit(1)).cast(dec).alias("n"))
    tot = h.agg(F.sum("n").alias("tn"))
    ben = spark.createDataFrame(
        [(1, 301030), (2, 176091), (3, 124939), (4, 96910), (5, 79181),
         (6, 66947), (7, 57992), (8, 51153), (9, 45757)],
        "digit bigint, exp_ppm bigint",
    )
    j = (
        F.broadcast(ben).join(h, "digit", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "digit",
            F.col("exp_ppm").cast(dec).alias("exp_ppm"),
            F.expr(
                f"coalesce(n, CAST(0 AS {dec})) * 1000000 div tn"
            ).alias("obs_ppm"),
        )
    )
    return j.select(
        F.col("digit").cast("bigint").alias("digit"),
        F.col("obs_ppm").cast("bigint").alias("obs_ppm"),
        F.col("exp_ppm").cast("bigint").alias("exp_ppm"),
        F.expr(
            "CAST((obs_ppm - exp_ppm) * (obs_ppm - exp_ppm) div exp_ppm"
            " AS BIGINT)"
        ).alias("chi2_term"),
    )


@query(
    "events_daily_autocorr",
    oracle="""
    WITH d AS (
      SELECT epoch_us(time_bucket(INTERVAL 1 DAY, ts)) // 86400000000 AS day,
             count(*)::HUGEINT AS c
      FROM events GROUP BY 1
    ),
    lags AS (SELECT CAST(unnest([1, 2, 3, 7]) AS BIGINT) AS k),
    pairs AS (
      SELECT l.k, a.c AS x, b.c AS y
      FROM lags l
      JOIN d a ON true
      JOIN d b ON b.day = a.day + l.k
    ),
    s AS (
      SELECT k, count(*)::HUGEINT AS n, sum(x) AS sx, sum(y) AS sy,
             sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
      FROM pairs GROUP BY k
    )
    SELECT CAST(k AS BIGINT) AS k, CAST(n AS BIGINT) AS n_pairs,
           CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
                THEN floor(CAST(n * sxy - sx * sy AS DOUBLE)
                      / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                             * CAST(n * syy - sy * sy AS DOUBLE)) * 1000000 + 0.5)
                  / 1000000
                END AS autocorr
    FROM s
    """,
)
def events_daily_autocorr(spark, sf_dir):
    """AUTOCORRELATION of the daily event volume at lags 1/2/3/7 —
    the seasonality detector (a spike at lag 7 = weekly rhythm; all
    flat = memoryless traffic): the Pearson correlation of the series
    with its k-shifted self, computed per lag from one daily pre-agg
    via a small lag-join (the bounded day table joined to itself on
    day+k — rows ∝ days × lags, never events). The exactness recipe
    of graph_assortativity: HUGEINT/DECIMAL moment sums, one final
    correctly-rounded sqrt + division mirrored op-for-op, 1e-6
    quantization. Deliberately uses PAIRED means (conditioning both
    ends on the overlap window — the textbook small-sample form)
    rather than the global-mean ACF approximation.

    A zero-variance series (constant daily counts — degenerate but
    reachable) makes the denominator 0: the raw Spark ``floor`` would
    silently map the resulting NaN to 0 where DuckDB keeps NULL/NaN
    (the NaN/inf fuzz class). Both sides gate the whole expression on positive variance with a ROW-level
    CASE over the exact DECIMAL moments (row-level CASE does
    short-circuit — only CASE around an AGGREGATE doesn't), returning
    NULL for degenerate lags on both engines."""
    e = io.read_parquet(spark, f"{sf_dir}/events.parquet").df
    dec = "decimal(38,0)"
    d = e.groupBy(
        F.expr("CAST(CAST(date_trunc('day', ts) AS LONG) div 86400 AS BIGINT)")
          .alias("day")
    ).agg(F.count(F.lit(1)).cast(dec).alias("c"))
    lags = spark.createDataFrame([(1,), (2,), (3,), (7,)], "k bigint")
    a = d.select(F.col("day").alias("da"), F.col("c").alias("x"))
    b = d.select(F.col("day").alias("db"), F.col("c").alias("y"))
    pairs = (
        F.broadcast(lags).crossJoin(a)
        .join(b, F.col("db") == F.col("da") + F.col("k"))
    )
    s = pairs.groupBy("k").agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    return s.select(
        F.col("k").cast("bigint").alias("k"),
        F.col("n").cast("bigint").alias("n_pairs"),
        F.expr(
            "CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0"
            " THEN floor(CAST(n * sxy - sx * sy AS DOUBLE)"
            " / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)"
            " * CAST(n * syy - sy * sy AS DOUBLE)) * 1000000 + 0.5)"
            " / 1000000 END"
        ).alias("autocorr"),
    )


@query(
    "events_conformance_score",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev
      FROM events
    ),
    tr AS (SELECT prev, event_type AS curr FROM seq WHERE prev IS NOT NULL),
    allowed(p, c) AS (VALUES
      ('signup', 'view'), ('view', 'view'), ('view', 'click'),
      ('click', 'view'), ('click', 'purchase'), ('purchase', 'view'),
      ('view', 'error'), ('error', 'view')),
    j AS (
      SELECT tr.prev, tr.curr,
             (allowed.p IS NOT NULL) AS ok
      FROM tr LEFT JOIN allowed
        ON tr.prev = allowed.p AND tr.curr = allowed.c
    )
    SELECT prev, curr, count(*)::BIGINT AS n, any_value(ok) AS conformant
    FROM j GROUP BY prev, curr
    """,
)
def events_conformance_score(spark, sf_dir):
    """Process-mining CONFORMANCE CHECKING: observed user-journey
    transitions audited against the designed process model (the
    allowed-transition edge list: signup->view->click->purchase with
    sanctioned loops) — every transition class reported with its
    volume and whether the model permits it. Non-conformant rows ARE
    the findings: purchase-without-click, error self-loops, signup
    re-entry — the deviations a funnel metric averages away but a
    process auditor must enumerate (the events_markov_transitions
    matrix with a normative layer joined on). One partitioned lag
    window + a broadcast join against the tiny model; output bounded
    by |event types|²."""
    e = io.read_parquet(spark, f"{sf_dir}/events.parquet").df
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tr = (
        e.withColumn("prev", F.lag("event_type").over(w))
        .filter(F.col("prev").isNotNull())
        .select("prev", F.col("event_type").alias("curr"))
    )
    allowed = spark.createDataFrame(
        [("signup", "view"), ("view", "view"), ("view", "click"),
         ("click", "view"), ("click", "purchase"), ("purchase", "view"),
         ("view", "error"), ("error", "view")],
        "p string, c string",
    )
    j = tr.join(
        F.broadcast(allowed),
        (F.col("prev") == F.col("p")) & (F.col("curr") == F.col("c")),
        "left",
    ).select("prev", "curr", F.col("p").isNotNull().alias("ok"))
    return j.groupBy("prev", "curr").agg(
        F.count(F.lit(1)).alias("n"),
        F.any_value(F.col("ok")).alias("conformant"),
    )


@query(
    "orders_fiscal_445_rollup",
    oracle="""
    WITH f AS (
      SELECT date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
               // 7 AS wk,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS rev_c
      FROM orders
      WHERE CAST(o_orderdate AS DATE) >= DATE '1995-01-01'
    ),
    p AS (
      SELECT wk // 13 AS fq,
             CASE WHEN wk % 13 < 4 THEN 0
                  WHEN wk % 13 < 8 THEN 1 ELSE 2 END AS pip,
             rev_c
      FROM f
    )
    SELECT CAST(fq // 4 AS BIGINT) AS fiscal_year,
           CAST((fq % 4) * 3 + pip AS BIGINT) AS fiscal_period,
           count(*)::BIGINT AS n_orders,
           sum(rev_c)::BIGINT AS revenue_c
    FROM p GROUP BY 1, 2
    """,
)
def orders_fiscal_445_rollup(spark, sf_dir):
    """4-4-5 FISCAL CALENDAR rollup — the retail/enterprise reporting
    calendar (quarters of 4+4+5 whole weeks, so periods align to
    weekdays and comparisons are week-structure-clean): every date
    maps to (fiscal year, period 0-11) by PURE INTEGER ARITHMETIC on
    days-since-fiscal-epoch — week div/mod 13 and the 4/8 breakpoints
    — no calendar table, no UDF, trivially codegen'd in the scan
    (contrast with the usual dim_date join: correct too, but this
    shows the calendar IS arithmetic, so the mapping can live in a
    partition expression or a generated column). 52-week fiscal years
    here (the real-world 53rd-week leap rule adds one CASE on the
    year index — noted, not faked). One hash-agg."""
    o = io.read_parquet(spark, f"{sf_dir}/orders.parquet").df
    f = o.filter(F.col("o_orderdate").cast("date") >= F.lit("1995-01-01").cast("date")).select(
        F.expr("datediff(CAST(o_orderdate AS DATE), DATE '1995-01-01') div 7")
          .alias("wk"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
          .alias("rev_c"),
    )
    p = f.select(
        F.expr("wk div 13").alias("fq"),
        F.expr("CASE WHEN wk % 13 < 4 THEN 0 WHEN wk % 13 < 8 THEN 1"
               " ELSE 2 END").alias("pip"),
        "rev_c",
    )
    return p.groupBy(
        F.expr("CAST(fq div 4 AS BIGINT)").alias("fiscal_year"),
        F.expr("CAST((fq % 4) * 3 + pip AS BIGINT)").alias("fiscal_period"),
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("rev_c").alias("revenue_c"),
    )


@query(
    "orders_weekday_anova",
    oracle="""
    WITH d AS (
      SELECT CAST(dayofweek(CAST(o_orderdate AS DATE)) AS BIGINT) AS dow,
             CAST(floor(o_totalprice + 0.5) AS BIGINT) AS y
      FROM orders
    ),
    g AS (
      SELECT dow, count(*)::HUGEINT AS n, sum(y)::HUGEINT AS s,
             sum(y::HUGEINT * y) AS ss
      FROM d GROUP BY dow
    ),
    t AS (
      SELECT sum(n) AS tn, sum(s) AS ts, sum(ss) AS tss,
             count(*)::HUGEINT AS k,
             sum((s * s) // n) AS sgm
      FROM g
    )
    SELECT CAST(k AS BIGINT) AS n_groups, CAST(tn AS BIGINT) AS n_rows,
           CAST(sgm - (ts * ts) // tn AS BIGINT) AS ssb_q,
           CAST(tss - sgm AS BIGINT) AS ssw_q,
           floor((CAST(sgm - (ts * ts) // tn AS DOUBLE)
                  / CAST(k - 1 AS DOUBLE))
                 / (CAST(tss - sgm AS DOUBLE) / CAST(tn - k AS DOUBLE))
                 * 1000000 + 0.5) / 1000000 AS f_stat
    FROM t
    """,
)
def orders_weekday_anova(spark, sf_dir):
    """One-way ANOVA: does mean order value differ by WEEKDAY? The
    F statistic from the classic sum-of-squares decomposition,
    assembled from per-group (n, Σy, Σy²) in ONE hash-agg: between-
    groups SS = Σ(Sg²/ng) − (ΣY)²/N and within SS = ΣY² − Σ(Sg²/ng),
    every term an exact HUGEINT/DECIMAL expression (values quantized
    to whole DOLLARS so the dollar² sums stay inside the BIGINT output
    columns at any SF; the per-group integral divide floors at that
    scale — noise orders of magnitude below any real effect, and
    IDENTICAL on both engines, which is what the hash needs); the one float step is
    the final mean-square ratio, op-order mirrored and 1e-6 quantized.
    TPC-H dates are weekday-uniform so F ≈ 0 — the null-calibration
    readout, same philosophy as the A/B null experiment. The
    moment-sum pattern means 7 groups or 7 million behave identically
    in the plan."""
    o = io.read_parquet(spark, f"{sf_dir}/orders.parquet").df
    dec = "decimal(38,0)"
    d = o.select(
        F.dayofweek(F.col("o_orderdate").cast("date")).cast("bigint").alias("dow"),
        F.floor(F.col("o_totalprice") + F.lit(0.5)).cast("bigint").alias("y"),
    )
    g = d.groupBy("dow").agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum(F.col("y").cast(dec)).alias("s"),
        F.sum(F.col("y").cast(dec) * F.col("y")).alias("ss"),
    )
    t = g.agg(
        F.sum("n").alias("tn"), F.sum("s").alias("ts"), F.sum("ss").alias("tss"),
        F.count(F.lit(1)).cast(dec).alias("k"),
        F.sum(F.expr("(s * s) div n")).alias("sgm"),
    )
    return t.select(
        F.col("k").cast("bigint").alias("n_groups"),
        F.col("tn").cast("bigint").alias("n_rows"),
        F.expr("CAST(sgm - (ts * ts) div tn AS BIGINT)").alias("ssb_q"),
        F.expr("CAST(tss - sgm AS BIGINT)").alias("ssw_q"),
        # try_divide == DuckDB `/` on every degenerate shape (k=1
        # group, zero within-group variance, one row per group): both
        # yield NULL where a plain ANSI `/` would crash Spark
        # one-sidedly.
        F.expr(
            "floor(try_divide("
            "try_divide(CAST(sgm - (ts * ts) div tn AS DOUBLE),"
            " CAST(k - 1 AS DOUBLE)),"
            " try_divide(CAST(tss - sgm AS DOUBLE), CAST(tn - k AS DOUBLE)))"
            " * 1000000 + 0.5) / 1000000"
        ).alias("f_stat"),
    )


@query(
    "orders_jarque_bera",
    oracle="""
    WITH d AS (
      SELECT CAST(floor(o_totalprice / 1000 + 0.5) AS BIGINT) AS x
      FROM orders
    ),
    s AS (
      SELECT count(*)::HUGEINT AS n, sum(x)::HUGEINT AS s1,
             sum(x::HUGEINT * x) AS s2,
             sum(x::HUGEINT * x * x) AS s3,
             sum(x::HUGEINT * x * x * x) AS s4
      FROM d
    ),
    m AS (
      SELECT CAST(n AS DOUBLE) AS nd,
             CAST(n * s2 - s1 * s1 AS DOUBLE) AS m2s,
             CAST(n * n * s3 - 3 * n * s1 * s2 + 2 * s1 * s1 * s1 AS DOUBLE)
               AS m3s,
             CAST(n * n * n * s4 - 4 * n * n * s1 * s3
                  + 6 * n * s1 * s1 * s2 - 3 * s1 * s1 * s1 * s1 AS DOUBLE)
               AS m4s,
             CAST(n AS BIGINT) AS n
      FROM s
    )
    SELECT n,
           floor((m3s / nd) / sqrt((m2s / nd) * (m2s / nd) * (m2s / nd) / nd)
                 * 1000000 + 0.5) / 1000000 AS skewness_q,
           floor((m4s / nd / nd) / ((m2s / nd) * (m2s / nd)) * 1000000 + 0.5)
             / 1000000 AS kurtosis_q,
           floor(nd / 6 * ((m3s / nd) / sqrt((m2s / nd) * (m2s / nd)
                     * (m2s / nd) / nd) * ((m3s / nd)
                     / sqrt((m2s / nd) * (m2s / nd) * (m2s / nd) / nd))
                 + ((m4s / nd / nd) / ((m2s / nd) * (m2s / nd)) - 3)
                   * ((m4s / nd / nd) / ((m2s / nd) * (m2s / nd)) - 3) / 4)
                 * 100 + 0.5) / 100 AS jb_stat
    FROM m
    """,
)
def orders_jarque_bera(spark, sf_dir):
    """JARQUE-BERA normality test on order values: JB = n/6·(S² +
    (K−3)²/4) from skewness and kurtosis — huge here, since TPC-H
    prices are uniform (kurtosis → 1.8, far from the normal 3): the
    distribution-shape audit that should gate any 'mean ± z·sigma'
    alerting rule (normal-theory bands on non-normal data page people
    for nothing). All four raw power sums are exact HUGEINT/DECIMAL
    (dollar-quantized; x⁴ sums stay < 10^38 by orders of magnitude),
    the central-moment expansions (n·S2−S1², the n²S3/n³S4 forms)
    are exact integer algebra CAST ONCE to double, and the remaining
    ratio/sqrt pipeline is op-order mirrored — the moment-statistics
    recipe (assortativity, CUPED, ANOVA) at its fourth power. One
    scan, one row."""
    o = io.read_parquet(spark, f"{sf_dir}/orders.parquet").df
    dec = "decimal(38,0)"
    d = o.select(
        F.expr("CAST(floor(o_totalprice / 1000 + 0.5) AS BIGINT)").alias("x"))
    s = d.agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum(F.col("x").cast(dec)).alias("s1"),
        F.sum(F.col("x").cast(dec) * F.col("x")).alias("s2"),
        F.sum(F.col("x").cast(dec) * F.col("x") * F.col("x")).alias("s3"),
        F.sum(F.col("x").cast(dec) * F.col("x") * F.col("x") * F.col("x"))
          .alias("s4"),
    )
    m = s.select(
        F.expr("CAST(n AS DOUBLE)").alias("nd"),
        F.expr("CAST(n * s2 - s1 * s1 AS DOUBLE)").alias("m2s"),
        F.expr(
            "CAST(n * n * s3 - 3 * n * s1 * s2 + 2 * s1 * s1 * s1 AS DOUBLE)"
        ).alias("m3s"),
        F.expr(
            "CAST(n * n * n * s4 - 4 * n * n * s1 * s3"
            " + 6 * n * s1 * s1 * s2 - 3 * s1 * s1 * s1 * s1 AS DOUBLE)"
        ).alias("m4s"),
        F.col("n").cast("bigint").alias("n"),
    )
    # try_divide mirrors DuckDB `/`-yields-NULL on the degenerate
    # shapes (empty table: nd = 0; constant x: m2s = 0) where a plain
    # ANSI `/` would crash Spark one-sidedly; on every non-degenerate
    # input it is bit-identical to `/`.
    v = "try_divide(m2s, nd)"
    skew = (f"try_divide(try_divide(m3s, nd),"
            f" sqrt(try_divide({v} * {v} * {v}, nd)))")
    kurt = f"try_divide(try_divide(try_divide(m4s, nd), nd), {v} * {v})"
    return m.select(
        "n",
        F.expr(f"floor({skew} * 1000000 + 0.5) / 1000000").alias("skewness_q"),
        F.expr(f"floor({kurt} * 1000000 + 0.5) / 1000000").alias("kurtosis_q"),
        F.expr(
            f"floor(nd / 6 * ({skew} * ({skew})"
            f" + ({kurt} - 3) * ({kurt} - 3) / 4) * 100 + 0.5) / 100"
        ).alias("jb_stat"),
    )


@query(
    "io_wholetext_documents",
    oracle="""
    WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id % 100 = 3)
    SELECT doc_id, length(text)::BIGINT AS n_chars,
           (length(text) - length(replace(text, ' ', '')))::BIGINT
             AS n_spaces
    FROM d
    """,
)
def io_wholetext_documents(spark, sf_dir):
    """WHOLE-FILE text ingestion (``spark.read.text(...,
    wholetext=True)``): one row per FILE, not per line — the mode for
    document corpora stored file-per-doc (the pre-JSONL reality of
    most scraped/archival text), where line-splitting would shred
    documents mid-paragraph. A bounded sample of documents is staged
    file-per-doc (file name = doc id, recovered at read time via
    input_file_name — metadata-only lineage, no content parsing),
    read back whole, and verified against the source rows. Scale
    note: file-per-doc at 100 TB means millions of tiny files — the
    read parallelizes per file but listing dominates; the first job
    of a real pipeline is exactly this read, immediately compacted
    into parquet/JSONL (jsonl_roundtrip_agg), never re-read raw."""
    import os

    docs = io.read_parquet(spark, f"{sf_dir}/documents.parquet").df
    sample = docs.filter(F.col("doc_id") % 100 == 3).select("doc_id", "text")
    d = io.scratch_dir("emma_wholetext_")
    # bounded stage: 1% of docs, written file-per-doc (the layout
    # under test); foreachPartition keeps the write executor-side
    def write_part(rows):
        for r in rows:
            with open(os.path.join(d, f"{r.doc_id}.txt"), "w") as fh:
                fh.write(r.text)

    sample.foreachPartition(write_part)
    if not os.listdir(d):
        # zero sampled docs -> zero staged files, and a glob read over
        # an empty dir raises PATH_NOT_FOUND where the oracle returns
        # zero rows. Local listdir is sound here:
        # this file-per-doc staging demo is local-mode by construction
        # (executors write into the driver's tempdir).
        return spark.createDataFrame(
            [], "doc_id bigint, n_chars bigint, n_spaces bigint")
    back = (
        spark.read.text(d + "/*.txt", wholetext=True)
        .select(
            F.expr(
                "CAST(regexp_extract(input_file_name(), '([0-9]+)\\\\.txt$', 1)"
                " AS BIGINT)"
            ).alias("doc_id"),
            F.col("value").alias("text"),
        )
    )
    return back.select(
        "doc_id",
        F.length("text").cast("bigint").alias("n_chars"),
        (F.length("text") - F.length(F.replace(F.col("text"), F.lit(" "))))
          .cast("bigint").alias("n_spaces"),
    )


@query(
    "sample_topk_per_group_hash",
    oracle="""
    WITH r AS (
      SELECT o_orderpriority AS pri, o_orderkey,
             CAST(concat('0x', substr(md5('smp' || '|'
                  || CAST(o_orderkey AS VARCHAR)), 1, 14)) AS BIGINT)
               AS prio
      FROM orders
    )
    SELECT pri, o_orderkey FROM (
      SELECT pri, o_orderkey,
             row_number() OVER (PARTITION BY pri ORDER BY prio, o_orderkey)
               AS rk
      FROM r
    ) WHERE rk <= 20
    """,
)
def sample_topk_per_group_hash(spark, sf_dir):
    """PER-GROUP deterministic sampling: exactly 20 rows per priority
    class, chosen by md5 hash priority — the bounded-validation-set
    builder (eval slices, human-review queues, per-segment debugging
    samples) with the repo's sampling contract: hash priorities make
    the sample a pure FUNCTION of the data (stable across engines,
    partitionings, reruns, and insert order — RANDOM() is none of
    those, and 'first 20 per group' is insert-order-dependent). The
    rank window is PARTITIONED per group; at 100 TB a pre-filter on
    the hash (prio < threshold estimated from group counts) trims the
    window input first — same result, documented fast path. Id
    tie-break keeps the pathological equal-hash case deterministic
    too."""
    o = io.read_parquet(spark, f"{sf_dir}/orders.parquet").df
    r = o.select(
        F.col("o_orderpriority").alias("pri"), "o_orderkey",
        F.expr(
            "CAST(conv(substring(md5(concat('smp', '|',"
            " CAST(o_orderkey AS STRING))), 1, 14), 16, 10) AS BIGINT)"
        ).alias("prio"),
    )
    w = Window.partitionBy("pri").orderBy("prio", "o_orderkey")
    return (
        r.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 20)
        .select("pri", "o_orderkey")
    )


@query(
    "events_slo_burn_rate",
    oracle="""
    WITH h AS (
      SELECT epoch_us(time_bucket(INTERVAL 1 HOUR, ts)) // 3600000000 AS hr,
             count(*)::HUGEINT AS n,
             sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::HUGEINT
               AS e
      FROM events GROUP BY 1
    ),
    r AS (
      SELECT hr, n, e,
             sum(n) OVER w AS n6, sum(e) OVER w AS e6
      FROM h
      WINDOW w AS (ORDER BY hr RANGE BETWEEN 5 PRECEDING AND CURRENT ROW)
    )
    SELECT CAST(hr AS BIGINT) AS hr,
           CAST(e * 1000000 // n AS BIGINT) AS err_ppm,
           CAST(e6 * 1000000 // n6 AS BIGINT) AS err_ppm_6h,
           CAST(e6 * 1000000 // n6 // 10000 AS BIGINT) AS burn_rate_x,
           (e6 * 100 > n6) AS budget_violated
    FROM r
    """,
)
def events_slo_burn_rate(spark, sf_dir):
    """SLO BURN-RATE monitoring (the SRE-workbook multiwindow alert):
    hourly error fraction and its 6-hour rolling aggregate against a
    99% SLO — burn rate = observed error rate / error budget (1%), in
    exact integers (rate ppm div 10⁴ = multiples of budget;
    violation = e6·100 > n6, cross-multiplied). The rolling window is
    a value-RANGE frame over the BOUNDED hourly table (hours in the
    corpus span — never raw events), so gaps in traffic shrink the
    denominator instead of silently reusing stale hours. The
    synthetic corpus runs ~20% 'error' events, i.e. permanently ~20×
    burn — a pager-storm fixture; the query structure is the
    production one."""
    e = io.read_parquet(spark, f"{sf_dir}/events.parquet").df
    dec = "decimal(38,0)"
    h = e.groupBy(
        F.expr("CAST(CAST(date_trunc('hour', ts) AS LONG) div 3600 AS BIGINT)")
          .alias("hr")
    ).agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).cast(dec)
          .alias("e"),
    )
    w = Window.orderBy("hr").rangeBetween(-5, 0)
    r = h.select(
        "hr", "n", "e",
        F.sum("n").over(w).alias("n6"), F.sum("e").over(w).alias("e6"),
    )
    return r.select(
        F.col("hr").cast("bigint").alias("hr"),
        F.expr("CAST(e * 1000000 div n AS BIGINT)").alias("err_ppm"),
        F.expr("CAST(e6 * 1000000 div n6 AS BIGINT)").alias("err_ppm_6h"),
        F.expr("CAST(e6 * 1000000 div n6 div 10000 AS BIGINT)")
          .alias("burn_rate_x"),
        F.expr("(e6 * 100 > n6)").alias("budget_violated"),
    )


@query(
    "events_cumulative_unique_users",
    oracle="""
    WITH fs AS (
      SELECT user_id,
             min(epoch_us(time_bucket(INTERVAL 1 DAY, ts)) // 86400000000)
               AS first_day
      FROM events GROUP BY user_id
    ),
    nd AS (SELECT first_day AS day, count(*)::HUGEINT AS new_users
           FROM fs GROUP BY 1),
    days AS (
      SELECT DISTINCT epoch_us(time_bucket(INTERVAL 1 DAY, ts))
               // 86400000000 AS day
      FROM events
    )
    SELECT CAST(d.day AS BIGINT) AS day,
           CAST(coalesce(nd.new_users, 0) AS BIGINT) AS new_users,
           CAST(sum(coalesce(nd.new_users, 0))
                  OVER (ORDER BY d.day ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS cumulative_users
    FROM days d LEFT JOIN nd ON d.day = nd.day
    """,
)
def events_cumulative_unique_users(spark, sf_dir):
    """Cumulative UNIQUE users by day — the growth-accounting curve —
    via the FIRST-SEEN reduction: a running count-distinct is
    non-decomposable (every prefix re-counts the set), but each user
    contributes exactly once, on their first-seen day, so cumulative
    distinct = cumsum of first-seen counts: one per-user min, one
    per-day count, one cumsum over the BOUNDED day table. The third
    member of the distinct-counting family: bitmap OR for rolling
    windows (events_rolling_wau_bitmap), HLL for sketched unions,
    first-seen for CUMULATIVE — each exact where the other is wrong
    or wasteful. New-user counts ride along (the daily acquisition
    readout)."""
    e = io.read_parquet(spark, f"{sf_dir}/events.parquet").df
    dec = "decimal(38,0)"
    day = F.expr("CAST(CAST(date_trunc('day', ts) AS LONG) div 86400 AS BIGINT)")
    fs = e.select("user_id", day.alias("day")).groupBy("user_id").agg(
        F.min("day").alias("first_day"))
    nd = fs.groupBy(F.col("first_day").alias("day")).agg(
        F.count(F.lit(1)).cast(dec).alias("new_users"))
    days = e.select(day.alias("day")).distinct()
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    j = days.join(nd, "day", "left").select(
        "day", F.coalesce("new_users", F.lit(0).cast(dec)).alias("new_users"))
    return j.select(
        F.col("day").cast("bigint").alias("day"),
        F.col("new_users").cast("bigint").alias("new_users"),
        F.sum("new_users").over(w).cast("bigint").alias("cumulative_users"),
    )


@query(
    "lineitem_skyline_price_qty",
    oracle="""
    WITH pts AS (
      SELECT l_orderkey, l_linenumber,
             CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS price_c,
             CAST(l_quantity AS BIGINT) AS qty
      -- a point missing either coordinate is not on a price/qty
      -- frontier; a NULL would also order differently in the sweep
      FROM lineitem WHERE l_orderkey % 13 = 0
        AND l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
    ),
    sky AS (
      SELECT p.*,
             coalesce(max(qty) OVER (ORDER BY price_c
                        RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      -1) AS best_cheaper,
             count(*) OVER (PARTITION BY price_c, qty) AS dup_n,
             max(qty) OVER (PARTITION BY price_c) AS best_same_price
      FROM pts p
    )
    SELECT l_orderkey, l_linenumber, price_c, qty
    FROM sky
    WHERE qty > best_cheaper AND qty = best_same_price
    """,
)
def lineitem_skyline_price_qty(spark, sf_dir):
    """SKYLINE (Pareto frontier) operator — minimize price, maximize
    quantity: a line item survives iff NO other point is cheaper with
    at least its quantity (and no same-price point beats it) — the
    multi-criteria shortlist (supplier offers, hotel price/rating)
    relational algebra cannot express without self-join quadratics.
    The 1-D-sweep formulation: sort by price, a point is skyline iff
    its qty exceeds the running max over STRICTLY cheaper points — a
    value-RANGE window (UNBOUNDED .. 1 PRECEDING on integer cents
    excludes price ties exactly) plus a same-price max. At 100 TB the
    global price ordering decomposes two-level: per price-BUCKET maxima
    (bounded relation) prefilter candidates — only rows beating every
    strictly-cheaper bucket's max survive to a final pass over the
    shortlist; the sweep here is the semantics both levels implement.
    Exact integers; %13 sparsify keeps outputs stable-sized across
    SFs."""
    li = io.read_parquet(spark, f"{sf_dir}/lineitem.parquet").df
    pts = li.filter(
        (F.col("l_orderkey") % 13 == 0)
        & F.col("l_extendedprice").isNotNull()
        & F.col("l_quantity").isNotNull()
    ).select(
        "l_orderkey", "l_linenumber",
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("bigint")
          .alias("price_c"),
        F.col("l_quantity").cast("bigint").alias("qty"),
    )
    w_cheaper = (
        Window.orderBy("price_c")
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    w_same = Window.partitionBy("price_c")
    sky = pts.select(
        "l_orderkey", "l_linenumber", "price_c", "qty",
        F.coalesce(F.max("qty").over(w_cheaper), F.lit(-1))
          .alias("best_cheaper"),
        F.max("qty").over(w_same).alias("best_same_price"),
    )
    return sky.filter(
        (F.col("qty") > F.col("best_cheaper"))
        & (F.col("qty") == F.col("best_same_price"))
    ).select("l_orderkey", "l_linenumber", "price_c", "qty")


@query(
    "orders_ks_drift",
    oracle="""
    WITH b AS (
      SELECT CAST(year(CAST(o_orderdate AS DATE)) AS BIGINT) AS yr,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) // 1000000
               AS bin,
             count(*)::HUGEINT AS c
      FROM orders WHERE year(CAST(o_orderdate AS DATE)) IN (1996, 1997)
        AND o_totalprice IS NOT NULL
      GROUP BY 1, 2
    ),
    g AS (
      SELECT bin,
             sum(CASE WHEN yr = 1996 THEN c ELSE 0 END) AS c1,
             sum(CASE WHEN yr = 1997 THEN c ELSE 0 END) AS c2
      FROM b GROUP BY bin
    ),
    n AS (SELECT sum(c1) AS n1, sum(c2) AS n2 FROM g),
    cum AS (
      SELECT bin,
             sum(c1) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS f1,
             sum(c2) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS f2
      FROM g
    )
    , d AS (
      SELECT max(abs(f1 * n.n2 - f2 * n.n1)) AS dmax,
             any_value(n.n1) AS n1, any_value(n.n2) AS n2
      FROM cum, n
    )
    SELECT CAST(n1 AS BIGINT) AS n_1996,
           CAST(n2 AS BIGINT) AS n_1997,
           CAST(dmax AS BIGINT) AS d_scaled,
           CAST(dmax * 1000000 // (n1 * n2) AS BIGINT) AS ks_ppm
    FROM d
    """,
)
def orders_ks_drift(spark, sf_dir):
    """Two-sample KOLMOGOROV-SMIRNOV drift statistic (1996 vs 1997
    order values): D = max |F1(x) − F2(x)| over the shared $10k-binned
    value grid — the CDF-based drift detector that complements the
    chi-square bin test (orders_price_drift_chi2): KS sees a location
    SHIFT that leaves every bin's mass roughly equal-sized bins can
    hide, and it needs no expected-count floor. Cross-multiplied
    exact integers: the supremum is computed on |F1·N2 − F2·N1|
    (common denominator N1·N2 deferred to the final ppm divide) over
    the cumulative window — run on the BINNED value histogram, which
    is what keeps the cum window domain-bounded for continuous values
    (the documented resolution/scale trade; the unbinned statistic
    needs a global sort over distinct prices). One conditional
    hash-agg, one bounded cumsum, one max."""
    o = io.read_parquet(spark, f"{sf_dir}/orders.parquet").df
    dec = "decimal(38,0)"
    b = (
        o.withColumn("yr", F.year(F.col("o_orderdate").cast("date")).cast("bigint"))
        .filter(F.col("yr").isin(1996, 1997))
        .filter(F.col("o_totalprice").isNotNull())  # a NULL bin orders differently in the cum window (orders fuzz)
        .groupBy(
            "yr",
            F.expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) div 1000000")
              .alias("bin"),
        )
        .agg(F.count(F.lit(1)).cast(dec).alias("c"))
    )
    g = b.groupBy("bin").agg(
        F.sum(F.when(F.col("yr") == 1996, F.col("c")).otherwise(0)).alias("c1"),
        F.sum(F.when(F.col("yr") == 1997, F.col("c")).otherwise(0)).alias("c2"),
    )
    n = g.agg(F.sum("c1").alias("n1"), F.sum("c2").alias("n2"))
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    cum = g.select(
        "bin", F.sum("c1").over(w).alias("f1"), F.sum("c2").over(w).alias("f2")
    )
    d = cum.crossJoin(F.broadcast(n)).agg(
        F.max(F.abs(F.col("f1") * F.col("n2") - F.col("f2") * F.col("n1")))
          .alias("dmax"),
        F.any_value("n1").alias("n1"), F.any_value("n2").alias("n2"),
    )
    return d.select(
        F.col("n1").cast("bigint").alias("n_1996"),
        F.col("n2").cast("bigint").alias("n_1997"),
        F.col("dmax").cast("bigint").alias("d_scaled"),
        # empty year-split -> n1*n2 = 0: DuckDB `//` NULLs, ANSI div
        # crashes
        F.expr(
            "CAST(CASE WHEN n1 * n2 = 0 THEN NULL"
            " ELSE dmax * 1000000 div (n1 * n2) END AS BIGINT)"
        ).alias("ks_ppm"),
    )


@query(
    "orders_progressive_fee_bands",
    oracle="""
    WITH o AS (
      SELECT o_orderkey, o_orderpriority,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS p
      FROM orders
    ),
    f AS (
      SELECT o_orderkey, o_orderpriority, p,
             (least(p, 5000000) * 20
              + greatest(least(p, 20000000) - 5000000, 0) * 15
              + greatest(least(p, 40000000) - 20000000, 0) * 10
              + greatest(p - 40000000, 0) * 5) // 1000 AS fee_c
      FROM o
    )
    SELECT o_orderpriority,
           count(*)::BIGINT AS n,
           sum(fee_c)::BIGINT AS total_fee_c,
           CAST(sum(fee_c)::HUGEINT * 1000000 // sum(p) AS BIGINT)
             AS effective_rate_ppm
    FROM f GROUP BY o_orderpriority
    """,
)
def orders_progressive_fee_bands(spark, sf_dir):
    """PROGRESSIVE (marginal) fee bands — the billing/tax-engine
    primitive: 2.0% on the first $50k, 1.5% to $200k, 1.0% to $400k,
    0.5% above — each band's rate applies only to the amount INSIDE
    the band (the classic off-by-a-bracket bug is applying the top
    rate to the whole amount; the marginal form is a sum of clamped
    overlaps, monotone and continuous by construction). Pure per-row
    integer arithmetic: least/greatest clamps at cent precision,
    per-mille rates applied as ×rate //1000 — no band TABLE join
    needed when bands are static (contrast range_join_price_bands,
    the joined variant for dynamic band sets); the effective-rate
    rollup exposes the regressivity curve per segment. Narrow map +
    one hash-agg."""
    o = io.read_parquet(spark, f"{sf_dir}/orders.parquet").df
    p = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
    f = o.select(
        "o_orderpriority", p.alias("p"),
        F.expr(
            "(least(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT), 5000000) * 20"
            " + greatest(least(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT),"
            "     20000000) - 5000000, 0) * 15"
            " + greatest(least(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT),"
            "     40000000) - 20000000, 0) * 10"
            " + greatest(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"
            "     - 40000000, 0) * 5) div 1000"
        ).alias("fee_c"),
    )
    return f.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("fee_c").cast("bigint").alias("total_fee_c"),
        F.expr(
            "CAST(CAST(sum(fee_c) AS DECIMAL(38,0)) * 1000000 div sum(p)"
            " AS BIGINT)"
        ).alias("effective_rate_ppm"),
    )


@query(
    "events_did_estimate",
    oracle="""
    WITH u AS (
      SELECT CAST('0x' || substr(md5('did' || '|'
                   || CAST(user_id AS VARCHAR)), 1, 14) AS BIGINT) % 2
               AS treat,
             CASE WHEN ts >= TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END
               AS post,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
      FROM events WHERE event_type = 'purchase'
    ),
    c AS (
      SELECT treat, post, count(*)::HUGEINT AS n, sum(v)::HUGEINT AS s,
             sum(v::HUGEINT) * 10000 // count(*) AS mean_q4
      FROM u GROUP BY treat, post
    )
    SELECT
      (SELECT CAST(n AS BIGINT) FROM c WHERE treat = 1 AND post = 1)
        AS n_treat_post,
      (SELECT CAST(mean_q4 AS BIGINT) FROM c WHERE treat = 1 AND post = 1)
        AS m11_q4,
      (SELECT CAST(mean_q4 AS BIGINT) FROM c WHERE treat = 1 AND post = 0)
        AS m10_q4,
      (SELECT CAST(mean_q4 AS BIGINT) FROM c WHERE treat = 0 AND post = 1)
        AS m01_q4,
      (SELECT CAST(mean_q4 AS BIGINT) FROM c WHERE treat = 0 AND post = 0)
        AS m00_q4,
      (SELECT CAST((SELECT mean_q4 FROM c WHERE treat = 1 AND post = 1)
             - (SELECT mean_q4 FROM c WHERE treat = 1 AND post = 0)
             - (SELECT mean_q4 FROM c WHERE treat = 0 AND post = 1)
             + (SELECT mean_q4 FROM c WHERE treat = 0 AND post = 0)
             AS BIGINT)) AS did_q4
    """,
)
def events_did_estimate(spark, sf_dir):
    """DIFFERENCE-IN-DIFFERENCES — the quasi-experimental estimator
    for when you can't randomize at exposure time: the treatment
    effect is the treated group's pre→post change MINUS the control
    group's (which absorbs the common time trend that corrupts a
    naive before/after). The 2×2 cell means come from ONE conditional
    aggregation (md5-deterministic treatment assignment, the
    calibration-run pattern of events_ab_test_lift — expected DiD ≈ 0
    on this null fixture); each mean is an exact integral division in
    1e-4-cent units, so the estimator is a four-term integer sum with
    NO float anywhere. Completes the causal toolkit: randomized lift
    (ab_test), variance-reduced lift (CUPED), and the parallel-trends
    workhorse for observational rollouts."""
    e = io.read_parquet(spark, f"{sf_dir}/events.parquet").df
    dec = "decimal(38,0)"
    u = e.filter(F.col("event_type") == "purchase").select(
        (F.expr(
            "CAST(conv(substring(md5(concat('did', '|',"
            " CAST(user_id AS STRING))), 1, 14), 16, 10) AS BIGINT)"
        ) % 2).alias("treat"),
        F.when(F.col("ts") >= F.lit("2024-01-16").cast("timestamp"), 1)
         .otherwise(0).alias("post"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("v"),
    )
    c = u.groupBy("treat", "post").agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum(F.col("v").cast(dec)).alias("s"),
        F.expr(f"sum(CAST(v AS {dec})) * 10000 div count(*)").alias("mean_q4"),
    )
    cells = c.agg(
        F.max(F.when((F.col("treat") == 1) & (F.col("post") == 1),
                     F.col("mean_q4"))).alias("m11"),
        F.max(F.when((F.col("treat") == 1) & (F.col("post") == 0),
                     F.col("mean_q4"))).alias("m10"),
        F.max(F.when((F.col("treat") == 0) & (F.col("post") == 1),
                     F.col("mean_q4"))).alias("m01"),
        F.max(F.when((F.col("treat") == 0) & (F.col("post") == 0),
                     F.col("mean_q4"))).alias("m00"),
        F.max(F.when((F.col("treat") == 1) & (F.col("post") == 1),
                     F.col("n"))).alias("n11"),
    )
    return cells.select(
        F.col("n11").cast("bigint").alias("n_treat_post"),
        F.col("m11").cast("bigint").alias("m11_q4"),
        F.col("m10").cast("bigint").alias("m10_q4"),
        F.col("m01").cast("bigint").alias("m01_q4"),
        F.col("m00").cast("bigint").alias("m00_q4"),
        F.expr("CAST(m11 - m10 - m01 + m00 AS BIGINT)").alias("did_q4"),
    )


@query(
    "events_interval_overlap_join",
    oracle="""
    WITH a AS (
      SELECT event_id, epoch_us(ts) // 1000000 AS s,
             epoch_us(ts) // 1000000 + 1800 AS e
      FROM events WHERE event_type = 'purchase'
    ),
    b AS (
      SELECT event_id, epoch_us(ts) // 1000000 AS s,
             epoch_us(ts) // 1000000 + 900 AS e
      FROM events WHERE event_type = 'click'
    ),
    p AS (
      SELECT a.event_id AS a_id,
             least(a.e, b.e) - greatest(a.s, b.s) AS ov
      FROM a JOIN b ON greatest(a.s, b.s) < least(a.e, b.e)
    )
    SELECT a_id, count(*) AS n_overlaps,
           CAST(sum(ov) AS BIGINT) AS overlap_s
    FROM p GROUP BY a_id
    """,
)
def events_interval_overlap_join(spark, sf_dir):
    """INTERVAL × INTERVAL overlap join without a BNLJ — the general
    case events_point_in_interval's grid decomposition only half
    covered: both sides are intervals (purchase sessions [ts, ts+30m)
    vs click sessions [ts, ts+15m)), and a pair qualifies iff
    max(s_a, s_b) < min(e_a, e_b). Both sides explode to the 30-min
    grid buckets they cover (sequence over s div 1800 .. (e-1) div
    1800 — a bounded ×2-3 fan-out, not a shuffle); candidates meet on
    a bucket hash equi-join; the residual predicate keeps true
    overlaps, and the pair is COUNTED ONCE by crediting it only to the
    bucket containing max(s_a, s_b) — a point both intervals cover by
    definition of overlap, so no post-join distinct is ever needed
    (the dedup-free allocation rule of events_point_in_interval,
    generalized). Output: per purchase interval, the overlapping click
    count and total overlap seconds — exact integers; the oracle runs
    the independent raw theta join, so the differential check proves
    the decomposition neither loses nor double-counts a pair. At 100
    TB the bucket width tunes to the median interval length (cost =
    Σ_bucket |A_b|·|B_b|), exactly like the grid spatial join
    (geo_radius_join)."""
    e = io.read_parquet(spark, f"{sf_dir}/events.parquet").df
    sec = F.expr("unix_micros(ts) div 1000000")
    a = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("a_id"),
        sec.alias("s_a"),
        (sec + 1800).alias("e_a"),
    )
    b = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("b_id"),
        sec.alias("s_b"),
        (sec + 900).alias("e_b"),
    )
    a_ex = a.select(
        "*",
        F.explode(
            F.expr("sequence(s_a div 1800, (e_a - 1) div 1800)")
        ).alias("bucket"),
    )
    b_ex = b.select(
        "*",
        F.explode(
            F.expr("sequence(s_b div 1800, (e_b - 1) div 1800)")
        ).alias("bucket"),
    )
    start = F.greatest("s_a", "s_b")
    end = F.least("e_a", "e_b")
    pairs = (
        a_ex.join(b_ex, "bucket")
        .filter(start < end)
        .filter(F.col("bucket") == F.expr("greatest(s_a, s_b) div 1800"))
        .select("a_id", (end - start).alias("ov"))
    )
    return pairs.groupBy("a_id").agg(
        F.count(F.lit(1)).alias("n_overlaps"),
        F.sum("ov").alias("overlap_s"),
    )


_HOLT_OFF = 10 ** 18          # level slot width in the packed accumulator
_HOLT_BIAS = 5 * 10 ** 17     # signed-trend bias (|trend| < BIAS)
_HOLT_D = f"CAST({_HOLT_OFF} AS DECIMAL(38,0))"
# one Holt step on the packed acc = level * OFF + (trend + BIAS):
#   l' = (3x + 7(l + b)) div 10      (alpha = 0.3)
#   b' = (2(l' - l) + 8b) div 10     (beta  = 0.2)
_HOLT_STEP_SPARK = (
    "((3*x + 7*((acc div CAST(1000000000000000000 AS DECIMAL(38,0))) + (acc % CAST(1000000000000000000 AS DECIMAL(38,0)) - 500000000000000000))) div 10) * CAST(1000000000000000000 AS DECIMAL(38,0)) + (((2*(((3*x + 7*((acc div CAST(1000000000000000000 AS DECIMAL(38,0))) + (acc % CAST(1000000000000000000 AS DECIMAL(38,0)) - 500000000000000000))) div 10) - (acc div CAST(1000000000000000000 AS DECIMAL(38,0)))) + 8*(acc % CAST(1000000000000000000 AS DECIMAL(38,0)) - 500000000000000000)) div 10) + 500000000000000000)"
)
_HOLT_STEP_DUCK = (
    "((3*x + 7*((acc // 1000000000000000000::HUGEINT) + (acc % 1000000000000000000::HUGEINT - 500000000000000000))) // 10) * 1000000000000000000::HUGEINT + (((2*(((3*x + 7*((acc // 1000000000000000000::HUGEINT) + (acc % 1000000000000000000::HUGEINT - 500000000000000000))) // 10) - (acc // 1000000000000000000::HUGEINT)) + 8*(acc % 1000000000000000000::HUGEINT - 500000000000000000)) // 10) + 500000000000000000)"
)


@query(
    "orders_holt_trend_fold",
    oracle=f"""
    WITH m AS (
      SELECT o_orderpriority,
             CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE) AS mo,
             sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS rev_c
      FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1, 2
    ),
    arr AS (
      SELECT o_orderpriority,
             list(rev_c ORDER BY mo)::HUGEINT[] AS xs,
             count(*)::BIGINT AS n_months
      FROM m GROUP BY 1
    ),
    folded AS (
      SELECT o_orderpriority, n_months,
             list_reduce(
               list_concat([xs[1] * {_HOLT_OFF}::HUGEINT
                            + (xs[2] - xs[1] + {_HOLT_BIAS}::HUGEINT)],
                           xs[3:]),
               (acc, x) -> {_HOLT_STEP_DUCK}) AS r
      FROM arr
    )
    SELECT o_orderpriority, n_months,
           CAST(r // {_HOLT_OFF}::HUGEINT AS BIGINT) AS level_c,
           CAST(r % {_HOLT_OFF}::HUGEINT - {_HOLT_BIAS}::HUGEINT AS BIGINT)
             AS trend_c,
           CAST(r // {_HOLT_OFF}::HUGEINT
                + 3 * (r % {_HOLT_OFF}::HUGEINT - {_HOLT_BIAS}::HUGEINT)
                AS BIGINT) AS forecast3_c
    FROM folded
    """,
)
def orders_holt_trend_fold(spark, sf_dir):
    """HOLT'S LINEAR METHOD (double exponential smoothing, alpha=0.3,
    beta=0.2) per priority — the trend-aware extension of
    orders_ses_level_fold, whose COUPLED recursion (level and trend
    each read the other's previous value) cannot be two independent
    folds: the pair rides ONE array fold with both states PACKED into
    a single 128-bit integer (level*10^18 + trend + 5*10^17 — the
    events_burst_viterbi slot technique; struct accumulators have
    engine-specific field-update order in DuckDB, packed arithmetic
    is unambiguous). Init l_1 = x_1, b_1 = x_2 - x_1 (the textbook
    seeding); every step re-quantizes with truncating integral
    division, so the fold is exact on both engines. Domain
    precondition (documented, property-tested): inputs >= 0 and the
    decline bounded so the level never goes negative — the packed
    modulo unpack needs a non-negative accumulator. The 3-step-ahead
    forecast l + 3b is the output a capacity planner reads. Big scan
    = one month hash-agg; the sequential tail is domain-bounded
    (~80 months), never row-scale."""
    o = io.read_parquet(spark, f"{sf_dir}/orders.parquet").df
    m = o.filter(F.col("o_orderdate").isNotNull()).groupBy(
        "o_orderpriority",
        F.date_trunc("month", F.col("o_orderdate").cast("date")).cast("date")
          .alias("mo"),
    ).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint"))
          .alias("rev_c")
    )
    arr = m.groupBy("o_orderpriority").agg(
        F.expr(
            "transform(sort_array(collect_list(struct(mo, rev_c))),"
            " s -> s.rev_c)"
        ).alias("xs"),
        F.count(F.lit(1)).alias("n_months"),
    )
    # get() (0-based, NULL out-of-range) + greatest-clamped slice
    # length: a single-month series made element_at(xs, 2) raise and
    # slice's length go -1 under ANSI where the oracle's xs[2]/xs[3:]
    # just return NULL/[] and the fold NULL-propagates — the NULL
    # seed flows through identically.
    fold = (
        f"aggregate(slice(xs, 3, greatest(size(xs) - 2, 0)),"
        f" CAST(get(xs, 0) AS DECIMAL(38,0)) * {_HOLT_D}"
        f" + (get(xs, 1) - get(xs, 0)"
        f"    + CAST({_HOLT_BIAS} AS DECIMAL(38,0))),"
        f" (acc, x) -> {_HOLT_STEP_SPARK})"
    )
    return arr.selectExpr(
        "o_orderpriority",
        "n_months",
        f"CAST(({fold}) div {_HOLT_D} AS BIGINT) AS level_c",
        f"CAST(({fold}) % {_HOLT_D} - {_HOLT_BIAS} AS BIGINT) AS trend_c",
        f"CAST(({fold}) div {_HOLT_D}"
        f" + 3 * (({fold}) % {_HOLT_D} - {_HOLT_BIAS}) AS BIGINT)"
        f" AS forecast3_c",
    )


@query(
    "parquet_partitioned_roundtrip",
    oracle="""
    SELECT source, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS chars
    FROM documents WHERE lang IN ('en', 'de')
    GROUP BY source
    """,
)
def parquet_partitioned_roundtrip(spark, sf_dir):
    """Hive-partitioned parquet sink + PARTITION-PRUNED read-back
    (io.write_parquet(partition_by=...) — previously exercised only in
    pytest): documents written partitioned by lang, read back with a
    lang predicate that must resolve at PLANNING time (PartitionFilters
    on the scan — asserted in tests/test_plans.py), so only the en/de
    directories are ever listed or read. Hash-matching the oracle on
    the ORIGINAL table proves the partitioned layout loses nothing —
    including rows whose partition value round-trips through the
    directory-name encoding. This is the table-layout contract every
    100 TB warehouse rests on: a date/tenant-partitioned fact is the
    difference between scanning 3 partitions and 3000."""
    docs = io.read_parquet(spark, f"{sf_dir}/documents.parquet")
    path = io.scratch_dir("emma_pq_part_") + "/docs"
    DataBag(docs.df).write_parquet(path, partition_by=["lang"])
    # explicit schema: an EMPTY write leaves only _SUCCESS behind and
    # schema inference fails — the day-one-partition read-back
    # contract is "reader declares the table schema, empty layout
    # reads as zero rows", exactly what a catalog-backed table does
    back = (
        spark.read.schema(docs.df.schema).parquet(path)
        .filter(F.col("lang").isin("en", "de"))
    )
    return back.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_chars").alias("chars"),
    )


@query(
    "udf_grouped_agg_median",
    oracle="""
    WITH v AS (
      SELECT event_type,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS v_c
      -- median over PRESENT values: a NULL would become NaN inside
      -- the pandas seam and garbage under to_numpy(int64)
      FROM events WHERE value IS NOT NULL
    ),
    s AS (
      SELECT event_type, count(*) AS n,
             list(v_c ORDER BY v_c) AS xs
      FROM v GROUP BY event_type
    )
    SELECT event_type, n,
           CAST(CASE WHEN n % 2 = 1 THEN xs[(n + 1) // 2]
                ELSE (xs[n // 2] + xs[n // 2 + 1]) // 2 END AS BIGINT)
             AS median_c
    FROM s
    """,
)
def udf_grouped_agg_median(spark, sf_dir):
    """The GROUPED_AGG pandas UDF flavor — the last cell of the
    Python-seam matrix (arrow scalar / pandas UDAF via applyInPandas /
    mapInPandas / cogroup / UDTF / mapInArrow / THIS): a vectorized
    aggregate whose whole group arrives as one pandas Series and
    returns one scalar — here the exact integer median of cent-
    quantized purchase values (even n: truncated mean of the two
    middles, mirrored in the oracle). The plan is a real partial-free
    ObjectHashAggregate over Arrow batches; the group columns never
    leave the JVM. (Median IS SQL-expressible — that's what makes it
    oracle-checkable; the flavor exists for the aggregates that
    aren't.)"""
    import numpy as np
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    # explicit GROUPED_AGG: the module's `from __future__ import
    # annotations` stringifies type hints, so eval-type inference from
    # a Series -> scalar signature is unavailable
    @pandas_udf("bigint", PandasUDFType.GROUPED_AGG)
    def exact_median(v):
        a = np.sort(v.to_numpy(dtype="int64"))
        n = len(a)
        if n % 2 == 1:
            return int(a[n // 2])
        return int((int(a[n // 2 - 1]) + int(a[n // 2])) // 2)

    # GROUPED_AGG UDFs can't share an agg with JVM aggregates
    # (INVALID_PANDAS_UDF_PLACEMENT) — the count rides the same seam
    @pandas_udf("bigint", PandasUDFType.GROUPED_AGG)
    def group_size(v):
        return len(v)

    e = io.read_parquet(spark, f"{sf_dir}/events.parquet").df
    v = e.filter(F.col("value").isNotNull()).select(
        "event_type",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("v_c"),
    )
    return v.groupBy("event_type").agg(
        group_size(F.col("v_c")).alias("n"),
        exact_median(F.col("v_c")).alias("median_c"),
    )


# Croston packed-state step: acc = z * 4194304 + p_c * 256 + q
#   z   = smoothed demand size (input units x100), 0 = uninitialized
#   p_c = smoothed demand interval x100 (< 16384)
#   q   = periods since last demand (< 256)
# alpha = 0.3 for both recursions; all divisions truncate on
# non-negative operands, so Spark `div` == DuckDB `//` exactly.
_CROSTON_STEP = (
    "CASE WHEN x = 0 THEN acc + 1"
    " WHEN acc {D} 4194304 = 0"
    " THEN x * 4194304 + ((acc % 256) + 1) * 25600 + 1"
    " ELSE ((3 * x + 7 * (acc {D} 4194304)) {D} 10) * 4194304"
    " + (((3 * ((acc % 256) + 1) * 100"
    " + 7 * ((acc % 4194304) {D} 256)) {D} 10) * 256)"
    " + 1 END"
)


@query(
    "part_croston_intermittent",
    oracle=f"""
    WITH m AS (
      SELECT l_partkey,
             (year(CAST(l_shipdate AS DATE)) * 12
              + month(CAST(l_shipdate AS DATE))) AS idx,
             CAST(floor(sum(l_quantity) * 100 + 0.5) AS BIGINT) AS x
      FROM lineitem
      WHERE l_partkey < 20 AND l_shipdate IS NOT NULL
      GROUP BY 1, 2
    ),
    span AS (
      SELECT (year(CAST(min(l_shipdate) AS DATE)) * 12
              + month(CAST(min(l_shipdate) AS DATE))) AS lo,
             (year(CAST(max(l_shipdate) AS DATE)) * 12
              + month(CAST(max(l_shipdate) AS DATE))) AS hi
      FROM lineitem
    ),
    grid AS (
      SELECT p.l_partkey, g.idx, coalesce(m.x, 0) AS x
      FROM (SELECT DISTINCT l_partkey FROM m) p
      CROSS JOIN (SELECT unnest(generate_series((SELECT lo FROM span),
                                                (SELECT hi FROM span)))
                    AS idx) g
      LEFT JOIN m ON m.l_partkey = p.l_partkey AND m.idx = g.idx
    ),
    arr AS (
      SELECT l_partkey, list(x ORDER BY idx) AS xs,
             count(*)::BIGINT AS n_periods,
             count(CASE WHEN x > 0 THEN 1 END)::BIGINT AS n_demands
      FROM grid GROUP BY 1
    ),
    folded AS (
      SELECT l_partkey, n_periods, n_demands,
             list_reduce(list_concat([0::BIGINT], xs),
               (acc, x) -> {_CROSTON_STEP.format(D='//')}) AS r
      FROM arr
    )
    SELECT l_partkey, n_periods, n_demands,
           r // 4194304 AS z_c,
           (r % 4194304) // 256 AS p_c,
           r % 256 AS q_last,
           -- never-initialized state (no demand ever observed, e.g.
           -- an all-NULL quantity ingest densifies to all zeros) has
           -- p_c = 0 and NO forecast: NULL explicitly on both engines
           -- (Spark ANSI `div 0` raises where DuckDB `// 0` NULLs)
           CASE WHEN (r % 4194304) // 256 = 0 THEN NULL
                ELSE r // 4194304 * 1000 // ((r % 4194304) // 256)
           END AS rate_milli
    FROM folded
    """,
)
def part_croston_intermittent(spark, sf_dir):
    """CROSTON'S METHOD for intermittent demand (public, Croston 1972)
    — the forecasting family's third member (level: ses_level_fold;
    level+trend: holt_trend_fold; THIS: sparse series where most
    periods are zero and plain smoothing decays toward zero between
    demands): two coupled recursions — smoothed demand SIZE (updated
    only on demand) and smoothed demand INTERVAL — plus the
    periods-since-demand counter, all three PACKED into one BIGINT
    slot (z·2²² + p_c·2⁸ + q; the Holt/Viterbi technique at narrower
    widths since quantities are small) and run as ONE array fold per
    part over the zero-DENSIFIED month grid (parts × global month
    span, left join, zeros filled — the zeros are the signal here).
    Forecast rate = size div interval in exact milli-units. The big
    scan is one (part, month) hash-agg; the sequential tail is the
    bounded 83-month dimension. Property-tested against the plain
    three-variable recursion."""
    li = io.read_parquet(spark, f"{sf_dir}/lineitem.parquet").df
    idx = F.expr(
        "year(CAST(l_shipdate AS DATE)) * 12 + month(CAST(l_shipdate AS DATE))"
    )
    m = (
        li.filter(
            (F.col("l_partkey") < 20) & F.col("l_shipdate").isNotNull()
        )
        .groupBy("l_partkey", idx.alias("idx"))
        .agg(
            F.floor(F.sum("l_quantity") * 100 + F.lit(0.5))
            .cast("bigint")
            .alias("x")
        )
    )
    span = li.agg(
        F.expr(
            "year(CAST(min(l_shipdate) AS DATE)) * 12"
            " + month(CAST(min(l_shipdate) AS DATE))"
        ).alias("lo"),
        F.expr(
            "year(CAST(max(l_shipdate) AS DATE)) * 12"
            " + month(CAST(max(l_shipdate) AS DATE))"
        ).alias("hi"),
    )
    # per part: month->x entries collapsed to a map, the densified
    # series built by walking the global span (no explode, no second
    # shuffle — the series assembles inside the same per-part agg row)
    arr = (
        m.groupBy("l_partkey")
        .agg(
            F.expr("map_from_entries(collect_list(struct(idx, x)))").alias(
                "mx"
            )
        )
        .crossJoin(F.broadcast(span))
        .select(
            "l_partkey",
            F.expr(
                "transform(sequence(lo, hi),"
                " i -> coalesce(element_at(mx, i), CAST(0 AS BIGINT)))"
            ).alias("xs"),
        )
        .select(
            "l_partkey", "xs",
            F.size("xs").cast("bigint").alias("n_periods"),
            F.expr(
                "CAST(size(filter(xs, x -> x > 0)) AS BIGINT)"
            ).alias("n_demands"),
        )
    )
    fold = (
        "aggregate(xs, CAST(0 AS BIGINT),"
        f" (acc, x) -> {_CROSTON_STEP.format(D='div')})"
    )
    return arr.selectExpr(
        "l_partkey", "n_periods", "n_demands",
        f"({fold}) div 4194304 AS z_c",
        f"(({fold}) % 4194304) div 256 AS p_c",
        f"({fold}) % 256 AS q_last",
        # never-initialized state (no demand ever observed — an
        # all-NULL quantity ingest densifies to all zeros) has
        # p_c = 0 and NO forecast: explicit NULL on both engines
        # (ANSI `div 0` raises where DuckDB `// 0` NULLs)
        f"CASE WHEN (({fold}) % 4194304) div 256 = 0"
        " THEN CAST(NULL AS BIGINT)"
        f" ELSE ({fold}) div 4194304 * 1000"
        f" div ((({fold}) % 4194304) div 256) END AS rate_milli",
    )


@query(
    "orders_forecast_backtest",
    oracle="""
    WITH m AS (
      SELECT o_orderpriority,
             CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE)
               AS mo,
             sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS rev_c
      FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1, 2
    ),
    arr AS (
      SELECT o_orderpriority, list(rev_c ORDER BY mo) AS xs,
             count(*)::BIGINT AS n
      FROM m GROUP BY 1
    ),
    cuts AS (SELECT unnest(generate_series(1, 6)) AS back),
    bt AS (
      SELECT o_orderpriority, n - back AS cutoff,
             CAST(list_reduce(xs[1 : CAST(n - back AS INT)],
               (acc, x) -> (3 * x + 7 * acc) // 10) AS BIGINT) AS fc,
             CAST(xs[CAST(n - back + 1 AS INT)] AS BIGINT) AS actual
      FROM arr, cuts WHERE n - back >= 2
    )
    SELECT o_orderpriority, cutoff, fc, actual,
           CAST(abs(fc - actual)::HUGEINT * 1000000 // actual AS BIGINT)
             AS ape_ppm
    FROM bt
    """,
)
def orders_forecast_backtest(spark, sf_dir):
    """ROLLING-ORIGIN BACKTEST — the evaluation harness that makes the
    forecasting family (SES / Holt / Croston) trustworthy: for each of
    the last 6 month-end cutoffs, fit the SES recursion on history UP
    TO the cutoff only and score the one-step-ahead forecast against
    the actual next month (absolute percentage error in exact ppm).
    Leakage-safe by construction — the fold runs over a PREFIX SLICE
    of the collected series, so no post-cutoff value can touch the
    fit (the events_feature_store_pit discipline applied to
    forecasting). ZERO re-scans: the big aggregation happens once;
    the 6 backtest fits are array folds over slices of the same
    per-group series, fanned out by a 6-row explode. A per-model MAPE
    is one further bounded agg; swapping the folded recursion swaps
    the model under test."""
    o = io.read_parquet(spark, f"{sf_dir}/orders.parquet").df
    m = o.filter(F.col("o_orderdate").isNotNull()).groupBy(
        "o_orderpriority",
        F.date_trunc("month", F.col("o_orderdate").cast("date")).cast("date")
          .alias("mo"),
    ).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint"))
          .alias("rev_c")
    )
    arr = m.groupBy("o_orderpriority").agg(
        F.expr(
            "transform(sort_array(collect_list(struct(mo, rev_c))),"
            " s -> s.rev_c)"
        ).alias("xs"),
        F.count(F.lit(1)).alias("n"),
    )
    bt = (
        arr.select(
            "o_orderpriority", "xs", "n",
            F.explode(F.expr("sequence(1, 6)")).alias("back"),
        )
        .filter(F.col("n") - F.col("back") >= 2)
        .selectExpr(
            "o_orderpriority",
            "n - back AS cutoff",
            "CAST(aggregate(slice(xs, 2, CAST(n - back AS INT) - 1),"
            " element_at(xs, 1), (acc, x) -> (3 * x + 7 * acc) div 10)"
            " AS BIGINT) AS fc",
            "CAST(element_at(xs, CAST(n - back + 1 AS INT)) AS BIGINT)"
            " AS actual",
        )
    )
    return bt.select(
        "o_orderpriority", "cutoff", "fc", "actual",
        F.expr(
            "CAST(CAST(abs(fc - actual) AS DECIMAL(38,0)) * 1000000"
            " div actual AS BIGINT)"
        ).alias("ape_ppm"),
    )


@query(
    "part_inventory_simulation",
    oracle="""
    WITH m AS (
      SELECT l_partkey,
             (year(CAST(l_shipdate AS DATE)) * 12
              + month(CAST(l_shipdate AS DATE))) AS idx,
             CAST(floor(sum(l_quantity) + 0.5) AS BIGINT) AS demand
      FROM lineitem
      WHERE l_partkey < 20 AND l_shipdate IS NOT NULL
      GROUP BY 1, 2
    ),
    span AS (
      SELECT (year(CAST(min(l_shipdate) AS DATE)) * 12
              + month(CAST(min(l_shipdate) AS DATE))) AS lo,
             (year(CAST(max(l_shipdate) AS DATE)) * 12
              + month(CAST(max(l_shipdate) AS DATE))) AS hi
      FROM lineitem
    ),
    grid AS (
      SELECT p.l_partkey, g.idx, coalesce(m.demand, 0) AS demand
      FROM (SELECT DISTINCT l_partkey FROM m) p
      CROSS JOIN (SELECT unnest(generate_series((SELECT lo FROM span),
                                                (SELECT hi FROM span)))
                    AS idx) g
      LEFT JOIN m ON m.l_partkey = p.l_partkey AND m.idx = g.idx
    ),
    arr AS (
      SELECT l_partkey, list(demand ORDER BY idx) AS ds,
             count(*)::BIGINT AS n_periods,
             sum(demand)::BIGINT AS total_demand,
             -- replenishment = average per-period demand (ceil)
             CAST((sum(demand) + count(*) - 1) // count(*) AS BIGINT) AS s
      FROM grid GROUP BY 1
    ),
    folded AS (
      -- acc = inventory * 1048576 + stockout_periods; clamp at 0
      SELECT l_partkey, n_periods, total_demand, s,
             list_reduce(list_concat([0::BIGINT], ds),
               (acc, d) -> CASE
                 WHEN acc // 1048576 + s - d >= 0
                 THEN (acc // 1048576 + s - d) * 1048576 + acc % 1048576
                 ELSE acc % 1048576 + 1 END) AS r
      FROM arr
    )
    SELECT l_partkey, n_periods, total_demand, s,
           r // 1048576 AS ending_inventory,
           r % 1048576 AS stockout_periods,
           CAST((n_periods - r % 1048576)::HUGEINT * 1000000 // n_periods
                AS BIGINT) AS service_ppm
    FROM folded
    """,
)
def part_inventory_simulation(spark, sf_dir):
    """INVENTORY SIMULATION with a non-negativity clamp — the
    replenishment recursion I' = max(I + supply − demand, 0) whose
    clamp makes it NON-LINEAR (no windowed/associative form exists;
    contrast the plain cumsum, which a window handles): per part, the
    monthly demand series (zero-densified grid, the Croston
    infrastructure) folds with inventory and the stockout-period
    count packed into one BIGINT (I·2²⁰ + stockouts); supply is the
    per-part ceiling-average demand, so a perfectly smooth series
    never stocks out and the stockout count measures the part's
    demand LUMPINESS — the service-level (fill-rate) ppm is what an
    inventory planner actually reads. One (part, month) hash-agg;
    sequential tail bounded by the 83-month domain. The same clamped
    fold shape covers battery/credit/quota simulations — any
    accumulate-with-floor process."""
    li = io.read_parquet(spark, f"{sf_dir}/lineitem.parquet").df
    idx = F.expr(
        "year(CAST(l_shipdate AS DATE)) * 12 + month(CAST(l_shipdate AS DATE))"
    )
    m = (
        li.filter(
            (F.col("l_partkey") < 20) & F.col("l_shipdate").isNotNull()
        )
        .groupBy("l_partkey", idx.alias("idx"))
        .agg(
            F.floor(F.sum("l_quantity") + F.lit(0.5))
            .cast("bigint")
            .alias("demand")
        )
    )
    span = li.agg(
        F.expr(
            "year(CAST(min(l_shipdate) AS DATE)) * 12"
            " + month(CAST(min(l_shipdate) AS DATE))"
        ).alias("lo"),
        F.expr(
            "year(CAST(max(l_shipdate) AS DATE)) * 12"
            " + month(CAST(max(l_shipdate) AS DATE))"
        ).alias("hi"),
    )
    arr = (
        m.groupBy("l_partkey")
        .agg(
            F.expr("map_from_entries(collect_list(struct(idx, demand)))")
            .alias("md")
        )
        .crossJoin(F.broadcast(span))
        .select(
            "l_partkey",
            F.expr(
                "transform(sequence(lo, hi),"
                " i -> coalesce(element_at(md, i), CAST(0 AS BIGINT)))"
            ).alias("ds"),
        )
        .select(
            "l_partkey", "ds",
            F.size("ds").cast("bigint").alias("n_periods"),
            F.expr("CAST(aggregate(ds, CAST(0 AS BIGINT),"
                   " (a, x) -> a + x) AS BIGINT)").alias("total_demand"),
        )
        .withColumn(
            "s",
            F.expr("(total_demand + n_periods - 1) div n_periods"),
        )
    )
    fold = (
        "aggregate(ds, CAST(0 AS BIGINT), (acc, d) -> CASE"
        " WHEN acc div 1048576 + s - d >= 0"
        " THEN (acc div 1048576 + s - d) * 1048576 + acc % 1048576"
        " ELSE acc % 1048576 + 1 END)"
    )
    return arr.selectExpr(
        "l_partkey", "n_periods", "total_demand", "s",
        f"({fold}) div 1048576 AS ending_inventory",
        f"({fold}) % 1048576 AS stockout_periods",
        f"CAST(CAST(n_periods - ({fold}) % 1048576 AS DECIMAL(38,0))"
        " * 1000000 div n_periods AS BIGINT) AS service_ppm",
    )


@query(
    "events_alert_debounce",
    oracle="""
    WITH RECURSIVE h AS MATERIALIZED (
      SELECT epoch_us(ts) // 3600000000 AS hr, count(*)::BIGINT AS n
      FROM events WHERE event_type = 'error' GROUP BY 1
    ),
    thr AS MATERIALIZED (
      SELECT CAST(sum(n) // count(*) + 2 AS BIGINT) AS t FROM h
    ),
    cand AS MATERIALIZED (
      SELECT hr FROM h, thr WHERE h.n >= thr.t
    ),
    -- independent algorithm: linear recursion, one emitted alert per
    -- step (next = first candidate past the suppression window)
    emitted AS (
      SELECT min(hr) AS hr FROM cand
      UNION ALL
      SELECT nxt FROM (
        SELECT (SELECT min(c.hr) FROM cand c WHERE c.hr >= e.hr + 6)
          AS nxt
        FROM emitted e
      ) WHERE nxt IS NOT NULL
    )
    SELECT e.hr, h.n,
           (SELECT t FROM thr) AS threshold
    FROM emitted e JOIN h ON e.hr = h.hr
    """,
)
def events_alert_debounce(spark, sf_dir):
    """ALERT DEBOUNCING — the SRE suppression rule that turns a noisy
    condition into a page-worthy signal: an hour whose error count
    exceeds threshold (trailing mean + 2) RAISES an alert only if no
    alert was emitted in the previous 6 hours; suppression windows
    chain from EMITTED alerts, not from every candidate, which makes
    the semantics sequential (interval-merge gets it wrong: a
    candidate inside a suppression window must NOT extend the
    window). The candidate hours are a bounded domain (≤ hours in the
    corpus), so the recursion is an array fold whose accumulator is
    the emitted list itself — append iff ≥ last + 6 — then exploded
    back to rows and joined to the hourly counts. One hourly
    hash-agg scans the events; the fold runs on ≤ 720 elements.
    The ORACLE runs an INDEPENDENT algorithm — a linear recursive CTE
    emitting one alert per step — because DuckDB 1.0's list_reduce
    with a GROWING LIST accumulator silently drops elements
    ([1,10,2,20] folds to [20]; scalar accumulators are unaffected —
    the quirk the SES/Holt/Croston folds never hit). Spark's
    ``aggregate`` is a correct left fold (property-tested against the
    plain scan)."""
    e = io.read_parquet(spark, f"{sf_dir}/events.parquet").df
    h = (
        e.filter(F.col("event_type") == "error")
        .groupBy(F.expr("unix_micros(ts) div 3600000000").alias("hr"))
        .agg(F.count(F.lit(1)).alias("n"))
    )

    # unpinned: 4 events scans at sf0.001, median ×1.20 sf0.1 / ×1.04 sf1
    h = pin(h)
    thr = h.agg(F.expr("sum(n) div count(*) + 2").alias("t"))
    cand = (
        h.crossJoin(F.broadcast(thr))
        .filter(F.col("n") >= F.col("t"))
        .agg(F.expr(
            "transform(sort_array(collect_list(hr)), x -> array(x))"
        ).alias("hrs"))
    )
    # the empty-candidate guard is load-bearing: with ZERO candidate
    # hours (every hour below threshold — the constant-series fuzz
    # shape) ``element_at(hrs, 1)`` raises INVALID_ARRAY_INDEX under
    # ANSI where the oracle's recursive CTE just emits no rows; a
    # row-level CASE short-circuits the seed access and explode of an
    # empty array produces the same zero rows
    emitted = cand.select(
        F.explode(
            F.expr(
                "CASE WHEN size(hrs) < 1 THEN CAST(array() AS array<bigint>)"
                " ELSE aggregate(slice(hrs, 2, size(hrs) - 1),"
                " element_at(hrs, 1),"
                " (acc, x) -> CASE WHEN element_at(x, 1)"
                " >= element_at(acc, size(acc)) + 6"
                " THEN concat(acc, x) ELSE acc END) END"
            )
        ).alias("hr")
    )
    return (
        emitted.join(h, "hr")
        .crossJoin(F.broadcast(thr))
        .select("hr", "n", F.col("t").alias("threshold"))
    )


@query(
    "orders_rolling_median_7d",
    oracle="""
    WITH d AS (
      SELECT epoch_us(time_bucket(INTERVAL 1 DAY,
               CAST(o_orderdate AS TIMESTAMP))) // 86400000000 AS day,
             coalesce(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)), 0)
               AS rev_c
      FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1
    ),
    w AS (
      SELECT day, rev_c,
             list(rev_c) OVER (ORDER BY day RANGE BETWEEN 6 PRECEDING
                               AND CURRENT ROW) AS win
      FROM d
    )
    SELECT day, CAST(rev_c AS BIGINT) AS rev_c,
           len(win)::BIGINT AS n_win,
           CAST(CASE WHEN len(win) % 2 = 1
                THEN list_sort(win)[(len(win) + 1) // 2]
                ELSE (list_sort(win)[len(win) // 2]
                      + list_sort(win)[len(win) // 2 + 1]) // 2 END
                AS BIGINT) AS median_c
    FROM w
    """,
)
def orders_rolling_median_7d(spark, sf_dir):
    """ROLLING MEDIAN — the robust baseline a spike detector compares
    against (a rolling MEAN chases the spike it should flag; the
    median doesn't): per day, the exact median of the trailing 7 days
    of revenue. No built-in windowed median exists on either engine;
    over the BOUNDED daily aggregate the trailing window is ≤ 7
    values, so collect_list over a RANGE frame + one array sort per
    row is exact and O(days·7 log 7) — the window runs on the
    day-level aggregate (≤ a few thousand rows at any corpus size),
    NEVER on raw orders. Even-width medians use the truncated mean of
    the two middles (the udf_grouped_agg_median convention). The
    RANGE frame is day-valued, so calendar gaps shrink the window
    rather than leaking older days in (ROWS would be wrong on sparse
    calendars)."""
    from pyspark.sql import Window

    o = io.read_parquet(spark, f"{sf_dir}/orders.parquet").df
    d = o.filter(F.col("o_orderdate").isNotNull()).groupBy(
        F.expr(
            "unix_micros(CAST(CAST(o_orderdate AS DATE) AS TIMESTAMP))"
            " div 86400000000"
        ).alias("day")
    ).agg(
        # coalesce: a day whose only orders carry NULL prices must be a
        # 0-revenue day, not a NULL — Spark collect_list SKIPS NULLs
        # where DuckDB list() keeps them, so a NULL rev_c silently
        # shrinks the rolling window on one engine only (orders fuzz)
        F.coalesce(
            F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")),
            F.lit(0),
        ).alias("rev_c")
    )
    w = Window.orderBy("day").rangeBetween(-6, 0)
    # window over the DAILY aggregate (bounded), never over raw rows
    win = d.withColumn("win", F.collect_list("rev_c").over(w))
    return win.selectExpr(
        "day", "rev_c",
        "CAST(size(win) AS BIGINT) AS n_win",
        "CAST(CASE WHEN size(win) % 2 = 1"
        " THEN element_at(array_sort(win),"
        "      CAST((size(win) + 1) div 2 AS INT))"
        " ELSE (element_at(array_sort(win), CAST(size(win) div 2 AS INT))"
        "       + element_at(array_sort(win),"
        "         CAST(size(win) div 2 + 1 AS INT))) div 2 END"
        " AS BIGINT) AS median_c",
    )


@query(
    "window_first_last_nth_surface",
    oracle="""
    SELECT o_custkey, o_orderkey,
           first_value(o_orderkey) OVER w AS first_o,
           last_value(o_orderkey) OVER w AS last_o,
           last_value(CASE WHEN o_orderstatus = 'F'
                      THEN CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                      END IGNORE NULLS) OVER w AS last_final_price_c,
           nth_value(o_orderkey, 3) OVER w AS third_o
    FROM orders
    WHERE o_custkey % 211 = 0
    WINDOW w AS (PARTITION BY o_custkey
                 ORDER BY o_orderdate NULLS FIRST, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def window_first_last_nth_surface(spark, sf_dir):
    """The value-offset window functions missing from
    window_rank_variants: first_value / last_value / nth_value over a
    whole-partition frame, plus last_value(... IGNORE NULLS) — the
    'most recent qualifying value' idiom (last finalized price per
    customer) that forward-fill (events_resample_ffill) builds on.
    Deterministic order (date + key tie-break), explicit UNBOUNDED
    frame on both engines (their default frames differ: Spark's
    last_value over the default frame is the CURRENT row — a classic
    cross-engine silent-wrong-answer), one customer-partition
    exchange serves all four functions."""
    from pyspark.sql import Window

    o = io.read_parquet(spark, f"{sf_dir}/orders.parquet").df
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    fprice = F.when(
        F.col("o_orderstatus") == "F",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint"),
    )
    return o.filter(F.col("o_custkey") % 211 == 0).select(
        "o_custkey", "o_orderkey",
        F.first("o_orderkey").over(w).alias("first_o"),
        F.last("o_orderkey").over(w).alias("last_o"),
        F.last(fprice, ignorenulls=True).over(w).alias("last_final_price_c"),
        F.nth_value("o_orderkey", 3).over(w).alias("third_o"),
    )


@query(
    "agg_mode_exact",
    oracle="""
    WITH c AS (
      SELECT o_orderpriority, o_orderstatus, count(*)::BIGINT AS n
      FROM orders GROUP BY 1, 2
    ),
    slot AS (
      SELECT o_orderpriority,
             max(n * 1000 + (ascii(o_orderstatus) - ascii('A'))) AS s,
             CAST(sum(n) AS BIGINT) AS total
      FROM c GROUP BY 1
    )
    SELECT o_orderpriority,
           chr(CAST(s % 1000 + ascii('A') AS INT)) AS mode_status,
           s // 1000 AS mode_n, total
    FROM slot
    """,
)
def agg_mode_exact(spark, sf_dir):
    """Exact per-group MODE (the ANSI aggregate Spark lacks) with a
    DETERMINISTIC tie-break: value counts per group, then the
    widened-slot argmax n·1000 + code — ties broken toward the HIGHER
    status code, encoded in the slot itself, so the answer is
    engine- and partitioning-independent (engine-native mode()
    functions leave ties implementation-defined — unusable under a
    differential oracle). Two hash-aggs, both map-side combinable;
    the slot multiplier exceeds the code domain (the packed-argmax
    rule). The same shape yields any 'most frequent X per Y'
    (top referrer, dominant language) without a ranking window."""
    o = io.read_parquet(spark, f"{sf_dir}/orders.parquet").df
    c = o.groupBy("o_orderpriority", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("n")
    )
    slot = c.groupBy("o_orderpriority").agg(
        F.max(
            F.col("n") * 1000
            + (F.ascii("o_orderstatus") - F.ascii(F.lit("A")))
        ).alias("s"),
        F.sum("n").alias("total"),
    )
    return slot.select(
        "o_orderpriority",
        F.chr(F.expr("CAST(s % 1000 + ascii('A') AS INT)")).alias(
            "mode_status"
        ),
        F.expr("s div 1000").alias("mode_n"),
        "total",
    )


@query(
    "events_bounce_rate",
    oracle="""
    WITH gaps AS (
      SELECT user_id, ts,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id
                         ORDER BY ts, event_id) > INTERVAL 30 MINUTE
                  OR lag(ts) OVER (PARTITION BY user_id
                         ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ),
    sess AS (
      SELECT user_id,
             CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      FROM gaps
    ),
    sizes AS (
      SELECT user_id, session_id, count(*)::BIGINT AS n_events
      FROM sess GROUP BY 1, 2
    )
    SELECT count(*)::BIGINT AS n_sessions,
           count(CASE WHEN n_events = 1 THEN 1 END)::BIGINT AS n_bounces,
           CAST(count(CASE WHEN n_events = 1 THEN 1 END)::HUGEINT
                * 1000000 // count(*) AS BIGINT) AS bounce_ppm,
           CAST(sum(n_events)::HUGEINT * 1000 // count(*) AS BIGINT)
             AS events_per_session_milli
    FROM sizes
    """,
)
def events_bounce_rate(spark, sf_dir):
    """BOUNCE RATE — the engagement headline derived from the
    sessionization the registry already owns (events_sessionize's
    30-min-gap islands): fraction of sessions containing exactly one
    event, plus mean session depth, both exact integer rationals.
    The session windows are PARTITIONED by user (bounded per-user
    work); the roll-up is two hash-aggs. One scan end to end."""
    from pyspark.sql import Window

    e = io.read_parquet(spark, f"{sf_dir}/events.parquet").df
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    gaps = e.select(
        "user_id", "ts",
        F.when(
            prev.isNull()
            | (F.expr("unix_micros(ts)") - F.lag(F.expr("unix_micros(ts)")).over(w)
               > 1800000000),
            1,
        ).otherwise(0).alias("new_session"),
    )
    wr = Window.partitionBy("user_id").orderBy("ts").rowsBetween(
        Window.unboundedPreceding, 0
    )
    sess = gaps.select(
        "user_id", F.sum("new_session").over(wr).alias("session_id")
    )
    sizes = sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    return sizes.agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.count(F.when(F.col("n_events") == 1, 1)).alias("n_bounces"),
        F.expr(
            "CASE WHEN count(1) = 0 THEN CAST(NULL AS BIGINT)"
            " ELSE CAST(CAST(count(CASE WHEN n_events = 1 THEN 1 END)"
            " AS DECIMAL(38,0)) * 1000000 div count(1) AS BIGINT) END"
        ).alias("bounce_ppm"),
        F.expr(
            "CASE WHEN count(1) = 0 THEN CAST(NULL AS BIGINT)"
            " ELSE CAST(CAST(sum(n_events) AS DECIMAL(38,0)) * 1000"
            " div count(1) AS BIGINT) END"
        ).alias("events_per_session_milli"),
    )


@query(
    "orders_seasonal_decompose",
    oracle="""
    WITH m AS (
      SELECT (year(CAST(o_orderdate AS DATE)) * 12
              + month(CAST(o_orderdate AS DATE))) AS idx,
             month(CAST(o_orderdate AS DATE)) AS moy,
             sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS x
      FROM orders GROUP BY 1, 2
    ),
    tr AS (
      SELECT idx, moy, x,
             CASE WHEN count(*) OVER w = 13
                  THEN sum(x) OVER w // 13 END AS trend
      FROM m
      WINDOW w AS (ORDER BY idx RANGE BETWEEN 6 PRECEDING AND 6 FOLLOWING)
    ),
    det AS (
      SELECT idx, moy, x, trend, x - trend AS detr FROM tr
    ),
    seas AS (
      SELECT moy, sum(detr) // count(*) AS seasonal
      FROM det WHERE detr IS NOT NULL GROUP BY moy
    )
    SELECT d.idx, d.moy, CAST(d.x AS BIGINT) AS x,
           CAST(d.trend AS BIGINT) AS trend,
           CAST(s.seasonal AS BIGINT) AS seasonal,
           CAST(d.x - d.trend - s.seasonal AS BIGINT) AS residual
    FROM det d JOIN seas s ON d.moy = s.moy
    WHERE d.trend IS NOT NULL
    """,
)
def orders_seasonal_decompose(spark, sf_dir):
    """CLASSICAL ADDITIVE DECOMPOSITION x = trend + seasonal +
    residual — the diagnostic that separates 'December is always
    high' from 'we are actually growing': trend is a centered
    13-month moving average (emitted only where the full window
    exists — the textbook edge rule), seasonal is the month-of-year
    mean of the detrended series (exact integral division), residual
    is what anomaly detection should actually monitor (raw-value
    z-tests alert on seasonality; residual z-tests alert on
    surprises). Every window and group runs over the BOUNDED month
    table (one hash-agg reduces the scan; ~84 rows after), index-
    valued RANGE frame so missing months shrink the window rather
    than shifting it. All exact integers; truncating division on
    possibly-negative detrended values relies on the verified
    div-truncates-toward-zero equivalence of both engines."""
    from pyspark.sql import Window

    o = io.read_parquet(spark, f"{sf_dir}/orders.parquet").df
    m = o.groupBy(
        F.expr(
            "year(CAST(o_orderdate AS DATE)) * 12"
            " + month(CAST(o_orderdate AS DATE))"
        ).alias("idx"),
        F.expr("month(CAST(o_orderdate AS DATE))").alias("moy"),
    ).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint"))
          .alias("x")
    )
    w = Window.orderBy("idx").rangeBetween(-6, 6)
    tr = m.select(
        "idx", "moy", "x",
        F.when(
            F.count(F.lit(1)).over(w) == 13,
            F.expr("sum(x) OVER (ORDER BY idx RANGE BETWEEN 6 PRECEDING"
                   " AND 6 FOLLOWING) div 13"),
        ).alias("trend"),
    )
    det = tr.withColumn("detr", F.col("x") - F.col("trend"))
    seas = (
        det.filter(F.col("detr").isNotNull())
        .groupBy("moy")
        .agg(F.expr("sum(detr) div count(*)").alias("seasonal"))
    )
    return (
        det.join(seas, "moy")
        .filter(F.col("trend").isNotNull())
        .select(
            "idx", "moy", "x", "trend", "seasonal",
            (F.col("x") - F.col("trend") - F.col("seasonal")).alias(
                "residual"
            ),
        )
    )


@query(
    "orders_segment_migration",
    oracle="""
    WITH s AS (
      SELECT o_custkey,
             CASE WHEN CAST(o_orderdate AS DATE) < DATE '1998-01-01'
                  THEN 0 ELSE 1 END AS period,
             sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS spend_c
      FROM orders GROUP BY 1, 2
    ),
    seg AS (
      SELECT o_custkey, period,
             CAST(least(spend_c // 50000000, 4) AS BIGINT) AS segment
      FROM s
    ),
    t0 AS (SELECT o_custkey, segment FROM seg WHERE period = 0),
    t1 AS (SELECT o_custkey, segment FROM seg WHERE period = 1)
    SELECT coalesce(t0.segment, -1) AS seg_from,
           coalesce(t1.segment, -1) AS seg_to,
           count(*)::BIGINT AS n_customers
    FROM t0 FULL OUTER JOIN t1 ON t0.o_custkey = t1.o_custkey
    GROUP BY 1, 2
    """,
)
def orders_segment_migration(spark, sf_dir):
    """SEGMENT MIGRATION MATRIX — where did last period's customers
    go: per-customer spend in two halves of the corpus (split at
    1998-01-01), banded into five $500k segments (domain-bounded
    integer bands, the RFM convention — no global quantile sort), and
    the FULL OUTER join of the two period maps counts every
    (from, to) transition including acquisitions (from = -1) and
    churn (to = -1) — the two cells a plain inner join silently
    drops, and usually the two cells the business cares most about.
    Two hash-aggs + one key join; the matrix is at most 6×6 rows out
    regardless of customer count."""
    o = io.read_parquet(spark, f"{sf_dir}/orders.parquet").df
    s = o.groupBy(
        "o_custkey",
        F.when(
            F.col("o_orderdate").cast("date") < F.lit("1998-01-01").cast("date"),
            0,
        ).otherwise(1).alias("period"),
    ).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint"))
          .alias("spend_c")
    )
    seg = s.select(
        "o_custkey", "period",
        F.least(F.expr("spend_c div 50000000"), F.lit(4)).alias("segment"),
    )
    t0 = seg.filter(F.col("period") == 0).select(
        "o_custkey", F.col("segment").alias("seg0")
    )
    t1 = seg.filter(F.col("period") == 1).select(
        "o_custkey", F.col("segment").alias("seg1")
    )
    return (
        t0.join(t1, "o_custkey", "full_outer")
        .groupBy(
            F.coalesce("seg0", F.lit(-1)).alias("seg_from"),
            F.coalesce("seg1", F.lit(-1)).alias("seg_to"),
        )
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


@query(
    "events_power_analysis_mde",
    oracle="""
    WITH u AS (
      SELECT CAST(concat('0x', substr(md5('ab' || '|'
               || CAST(user_id AS VARCHAR)), 1, 14)) AS BIGINT) % 2 AS arm,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
      FROM events WHERE event_type = 'purchase'
    ),
    m AS (
      SELECT count(*)::HUGEINT AS n, sum(v)::HUGEINT AS s,
             sum(v::HUGEINT * v)::HUGEINT AS ss
      FROM u
    ),
    v AS (
      SELECT n, s, CAST((n * ss - s * s) // (n * n) AS BIGINT) AS var_c2,
             CAST(s // n AS BIGINT) AS mean_c
      FROM m
    ),
    grid AS (SELECT unnest([1000, 5000, 20000, 100000]) AS n_per_arm)
    SELECT g.n_per_arm,
           v.mean_c, v.var_c2,
           CAST(floor(2.8024 * sqrt(2.0 * v.var_c2 / g.n_per_arm) * 100
                + 0.5) AS BIGINT) AS mde_abs_c2,
           CAST(floor(2.8024 * sqrt(2.0 * v.var_c2 / g.n_per_arm)
                / v.mean_c * 1000000 * 100 + 0.5) AS BIGINT)
             AS mde_rel_ppm_c2
    FROM grid g, v
    """,
)
def events_power_analysis_mde(spark, sf_dir):
    """POWER ANALYSIS — the question that must be answered BEFORE
    events_ab_test_lift is run, not after: at alpha=0.05 two-sided
    and 80% power (z-sum 1.9600 + 0.8424 = 2.8024, a literal — no
    normal quantile function exists on either engine), what's the
    minimum detectable effect at each candidate arm size? MDE =
    2.8024·sqrt(2σ²/n): the population variance comes from ONE
    moment-sum aggregation over the metric (the n·Σx²−(Σx)² integer
    identity), the arm-size grid is a 4-row literal, and the single
    sqrt per row is quantized after (the one-IEEE-sqrt rule).
    Absolute MDE in cents and relative MDE vs the metric mean in
    ppm — the number that decides whether an experiment is even
    worth launching. Completes the experimentation surface: power
    (this) → SRM guardrail → lift → CUPED → DiD."""
    e = io.read_parquet(spark, f"{sf_dir}/events.parquet").df
    dec = "DECIMAL(38,0)"
    u = e.filter(F.col("event_type") == "purchase").select(
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("v")
    )
    m = u.agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum(F.col("v").cast(dec)).alias("s"),
        # cast BEFORE the square: a LONG v*v overflows at |v| >= ~3e9
        # cents per row, and the SUM of squares overflows LONG at 100 TB
        # row counts even for everyday values — decimal(38,0) holds both
        F.sum(F.col("v").cast(dec) * F.col("v").cast(dec)).alias("ss"),
    )
    v = m.select(
        F.expr("CAST((n * ss - s * s) div (n * n) AS BIGINT)").alias(
            "var_c2"
        ),
        F.expr("CAST(s div n AS BIGINT)").alias("mean_c"),
    )
    grid = spark.createDataFrame(
        [(1000,), (5000,), (20000,), (100000,)], "n_per_arm bigint"
    )
    return grid.crossJoin(F.broadcast(v)).select(
        "n_per_arm", "mean_c", "var_c2",
        F.expr(
            "CAST(floor(2.8024 * sqrt(2.0 * var_c2 / n_per_arm) * 100"
            " + 0.5) AS BIGINT)"
        ).alias("mde_abs_c2"),
        # try_divide: an all-zero metric makes mean_c = 0, where plain
        # ANSI `/` crashes Spark one-sidedly vs DuckDB's NULL.
        F.expr(
            "CAST(floor(try_divide(2.8024 * sqrt(2.0 * var_c2 / n_per_arm),"
            " mean_c) * 1000000 * 100 + 0.5) AS BIGINT)"
        ).alias("mde_rel_ppm_c2"),
    )


@query(
    "events_dispersion_index",
    oracle="""
    WITH d AS (
      SELECT epoch_us(ts) // 3600000000 AS hr, count(*)::HUGEINT AS n
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    ),
    m AS (
      SELECT count(*)::HUGEINT AS k, sum(n)::HUGEINT AS s,
             sum(n * n)::HUGEINT AS ss
      FROM d
    )
    SELECT CAST(k AS BIGINT) AS n_hours,
           CAST(s AS BIGINT) AS n_events,
           CAST(s * 1000000 // k AS BIGINT) AS mean_ppm,
           CAST((k * ss - s * s) * 1000000 // (k * k) AS BIGINT)
             AS var_ppm,
           CAST((k * ss - s * s) * 1000000 // (k * s) AS BIGINT)
             AS dispersion_ppm,
           CASE WHEN (k * ss - s * s) * 2 // (k * s) > 3 THEN 1 ELSE 0 END
             AS overdispersed
    FROM m
    """,
)
def events_dispersion_index(spark, sf_dir):
    """INDEX OF DISPERSION (variance-to-mean of hourly counts) — the
    Poissonness check that decides which alerting model is valid: a
    Poisson process has dispersion ~= 1 (var = mean), bursty/clumped
    traffic is overdispersed (> 1, here flagged above 1.5 via the
    integer cross-multiplication 2·var > 3·mean), and a z-score
    alert calibrated on Poisson assumptions fires wrongly on
    overdispersed streams (the events_anomaly_zscore caveat made
    measurable). One hourly hash-agg + one moment roll-up, every
    statistic an exact ppm rational via the n·Σx²−(Σx)² identity."""
    e = io.read_parquet(spark, f"{sf_dir}/events.parquet").df
    dec = "DECIMAL(38,0)"
    d = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy(F.expr("unix_micros(ts) div 3600000000").alias("hr"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    m = d.agg(
        F.count(F.lit(1)).cast(dec).alias("k"),
        F.sum(F.col("n").cast(dec)).alias("s"),
        F.sum((F.col("n") * F.col("n")).cast(dec)).alias("ss"),
    )
    return m.select(
        F.col("k").cast("bigint").alias("n_hours"),
        F.col("s").cast("bigint").alias("n_events"),
        F.expr("CAST(s * 1000000 div k AS BIGINT)").alias("mean_ppm"),
        F.expr(
            "CAST((k * ss - s * s) * 1000000 div (k * k) AS BIGINT)"
        ).alias("var_ppm"),
        F.expr(
            "CAST((k * ss - s * s) * 1000000 div (k * s) AS BIGINT)"
        ).alias("dispersion_ppm"),
        F.expr(
            "CASE WHEN (k * ss - s * s) * 2 div (k * s) > 3"
            " THEN 1 ELSE 0 END"
        ).alias("overdispersed"),
    )


@query(
    "orders_percent_of_total",
    oracle="""
    WITH a AS (
      SELECT year(CAST(o_orderdate AS DATE)) AS yr, o_orderpriority,
             sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS rev_c
      FROM orders GROUP BY 1, 2
    )
    SELECT yr, o_orderpriority, CAST(rev_c AS BIGINT) AS rev_c,
           CAST(rev_c::HUGEINT * 1000000
                // sum(rev_c) OVER (PARTITION BY yr) AS BIGINT)
             AS share_ppm,
           rev_c = max(rev_c) OVER (PARTITION BY yr) AS is_top
    FROM a
    """,
)
def orders_percent_of_total(spark, sf_dir):
    """RATIO-TO-REPORT — the percent-of-total window every BI report
    needs (share of each priority within its year, exact ppm against
    the partition sum) plus the is-top flag: one aggregation to the
    bounded (year × priority) grid, then unframed aggregate windows
    PARTITIONED by year over those few rows — the window never sees
    raw orders. The integer share uses the HUGEINT product rule;
    shares within a year sum to <= 10^6 with truncation (exactly
    10^6 only when the division is exact — the documented
    truncating-ppm convention)."""
    from pyspark.sql import Window

    o = io.read_parquet(spark, f"{sf_dir}/orders.parquet").df
    a = o.groupBy(
        F.expr("year(CAST(o_orderdate AS DATE))").alias("yr"),
        "o_orderpriority",
    ).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint"))
          .alias("rev_c")
    )
    w = Window.partitionBy("yr")
    return a.select(
        "yr", "o_orderpriority", "rev_c",
        F.expr(
            "CAST(CAST(rev_c AS DECIMAL(38,0)) * 1000000"
            " div sum(rev_c) OVER (PARTITION BY yr) AS BIGINT)"
        ).alias("share_ppm"),
        (F.col("rev_c") == F.max("rev_c").over(w)).alias("is_top"),
    )


@query(
    "supplier_herfindahl_index",
    oracle="""
    WITH r AS (
      SELECT s.s_nationkey, l.l_suppkey,
             sum(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT))
               AS rev_c
      FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
      GROUP BY 1, 2
    ),
    t AS (SELECT s_nationkey, sum(rev_c)::HUGEINT AS tot FROM r GROUP BY 1)
    SELECT r.s_nationkey,
           count(*)::BIGINT AS n_suppliers,
           CAST(sum(r.rev_c::HUGEINT * r.rev_c * 1000000
                    // (t.tot * t.tot)) AS BIGINT) AS hhi_ppm,
           CAST(1000000 // count(*) AS BIGINT) AS uniform_hhi_ppm
    FROM r JOIN t ON r.s_nationkey = t.s_nationkey
    GROUP BY r.s_nationkey, t.tot
    """,
)
def supplier_herfindahl_index(spark, sf_dir):
    """HERFINDAHL–HIRSCHMAN concentration INDEX per nation — Σ of
    squared revenue shares, the standard market-concentration
    statistic (complements the Lorenz curve's distributional view
    with a single comparable number; the uniform baseline 1/n is
    emitted alongside, since HHI is only meaningful against it).
    Exact integers end to end: each supplier's share² contributes
    rev²·10⁶ div tot² (HUGEINT products), summed per nation —
    per-term truncation keeps every value engine-identical. Two hash
    aggregations + one slim join; the supplier dimension join
    broadcasts."""
    li = io.read_parquet(spark, f"{sf_dir}/lineitem.parquet").df
    su = io.read_parquet(spark, f"{sf_dir}/supplier.parquet").df
    r = (
        li.join(
            F.broadcast(su.select("s_suppkey", "s_nationkey")),
            li["l_suppkey"] == su["s_suppkey"],
        )
        .groupBy("s_nationkey", "l_suppkey")
        .agg(
            F.sum(
                F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast(
                    "bigint"
                )
            ).alias("rev_c")
        )
    )
    # sum_long_exact, not F.sum(rev_c.cast(decimal)): same exact
    # DECIMAL(38,0) total, three long accumulators instead of the
    # per-row BigDecimal path (measured 2.5x cheaper on the ridge
    # shape). Bounds: rev_c is one supplier's revenue in cents —
    # at TPC-H sf100k (~100 TB) ~6e4 lineitem rows/supplier x ~1.1e7
    # max cents ≈ 6.6e11 per row, a BIGINT; rows per group =
    # suppliers per nation (~4e5 at sf100k) << 2^40.
    t = r.groupBy(F.col("s_nationkey").alias("nk")).agg(
        sum_long_exact(F.col("rev_c")).alias("tot")
    )
    return (
        r.join(t, r["s_nationkey"] == t["nk"])
        .groupBy("s_nationkey", "tot")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.expr(
                "CAST(sum(CAST(rev_c AS DECIMAL(38,0)) * rev_c * 1000000"
                " div (tot * tot)) AS BIGINT)"
            ).alias("hhi_ppm"),
            F.expr("CAST(1000000 div count(1) AS BIGINT)").alias(
                "uniform_hhi_ppm"
            ),
        )
        .drop("tot")
    )


@query(
    "orders_revenue_streaks",
    oracle="""
    WITH d AS (
      SELECT epoch_us(time_bucket(INTERVAL 1 DAY,
               CAST(o_orderdate AS TIMESTAMP))) // 86400000000 AS day,
             sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS rev_c
      FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1
    ),
    thr AS (SELECT sum(rev_c) // count(*) AS mean_c FROM d),
    q AS (
      SELECT day FROM d, thr WHERE d.rev_c > thr.mean_c
    ),
    isl AS (
      SELECT day, day - row_number() OVER (ORDER BY day) AS grp
      FROM q
    ),
    streaks AS (
      SELECT min(day) AS start_day, count(*)::BIGINT AS len
      FROM isl GROUP BY grp
    )
    SELECT len, count(*)::BIGINT AS n_streaks,
           min(start_day) AS first_start_day
    FROM streaks GROUP BY len
    """,
)
def orders_revenue_streaks(spark, sf_dir):
    """CONSECUTIVE-RUN analytics — how long do above-average revenue
    days chain together: qualifying days (daily revenue > corpus
    mean) grouped into maximal consecutive runs with the classic
    day − row_number() island key (consecutive days share the
    difference; any gap breaks it), then the streak-LENGTH histogram
    with each length's count and earliest start. Both windows run
    over the bounded daily table. Streak analysis is the engagement
    primitive behind 'N-day habit' metrics; this is the dataflow,
    with the qualifying predicate as the swappable part. The ordered
    window on qualifying days is a single global-order window over
    <= days rows — bounded by the calendar, never by order volume."""
    from pyspark.sql import Window

    o = io.read_parquet(spark, f"{sf_dir}/orders.parquet").df
    d = o.filter(F.col("o_orderdate").isNotNull()).groupBy(
        F.expr(
            "unix_micros(CAST(CAST(o_orderdate AS DATE) AS TIMESTAMP))"
            " div 86400000000"
        ).alias("day")
    ).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint"))
          .alias("rev_c")
    )
    thr = d.agg(F.expr("sum(rev_c) div count(*)").alias("mean_c"))
    q = d.crossJoin(F.broadcast(thr)).filter(
        F.col("rev_c") > F.col("mean_c")
    )
    w = Window.orderBy("day")  # over qualifying DAYS only (bounded)
    isl = q.select(
        "day", (F.col("day") - F.row_number().over(w)).alias("grp")
    )
    streaks = isl.groupBy("grp").agg(
        F.min("day").alias("start_day"), F.count(F.lit(1)).alias("len")
    )
    return streaks.groupBy("len").agg(
        F.count(F.lit(1)).alias("n_streaks"),
        F.min("start_day").alias("first_start_day"),
    )


@query(
    "part_hierarchy_rollup",
    oracle="""
    WITH leaf AS (
      SELECT l_partkey,
             sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
               AS rev_c
      FROM lineitem GROUP BY 1
    ),
    anc AS (
      SELECT l_partkey // CAST(pow(10, d.d) AS BIGINT) AS node,
             d.d AS depth_up, rev_c
      FROM leaf, unnest(generate_series(0, 6)) AS d(d)
      WHERE l_partkey // CAST(pow(10, d.d) AS BIGINT) > 0 OR d.d = 0
    )
    SELECT node, count(*)::BIGINT AS n_contributing,
           sum(rev_c)::BIGINT AS subtree_rev_c
    FROM anc GROUP BY node
    """,
)
def part_hierarchy_rollup(spark, sf_dir):
    """HIERARCHICAL (tree) ROLLUP — subtree totals at EVERY node of a
    part hierarchy (here the decimal 10-ary tree parent(p) = p div
    10, standing in for a BOM / category tree): the classic recursive
    traversal, flattened into pure dataflow because tree DEPTH is
    bounded (<= 7 for bigint keys) — each leaf EXPLODES to its
    ancestor chain (p, p div 10, p div 100, ...) and ONE hash-agg
    sums every node's subtree, no iteration, no recursion, no join.
    Contrast the three rollup tools now in the registry: GROUPING
    SETS roll up independent ATTRIBUTE lattices, the fixpoint
    machinery walks unbounded GRAPHS, and this ancestor-explode
    covers bounded-depth HIERARCHIES — the org-chart/category case
    that is by far the most common. Leaf aggregation first (one
    part-keyed agg) keeps the fan-out on the part dimension, not the
    lineitem fact."""
    li = io.read_parquet(spark, f"{sf_dir}/lineitem.parquet").df
    leaf = li.groupBy("l_partkey").agg(
        F.sum(
            F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast(
                "bigint"
            )
        ).alias("rev_c")
    )
    anc = leaf.select(
        "rev_c",
        F.explode(
            F.expr(
                "filter(transform(sequence(0, 6), d ->"
                " struct(l_partkey div CAST(pow(10, d) AS BIGINT) AS node,"
                " d AS depth_up)),"
                " s -> s.node > 0 OR s.depth_up = 0)"
            )
        ).alias("a"),
    ).select("rev_c", "a.node")
    return anc.groupBy("node").agg(
        F.count(F.lit(1)).alias("n_contributing"),
        F.sum("rev_c").alias("subtree_rev_c"),
    )


@query(
    "rollup_grouping_id_surface",
    oracle="""
    SELECT coalesce(o_orderstatus, '~') AS status,
           coalesce(o_orderpriority, '~') AS priority,
           CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT)
             AS gid,
           CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
           CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_priority,
           count(*) AS n
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)
def rollup_grouping_id_surface(spark, sf_dir):
    """The GROUPING/GROUPING_ID surface — how a consumer tells a real
    NULL group key from a rollup-generated subtotal WITHOUT sentinel
    rewriting: grouping_id() is the bitmask of rolled-up columns
    (0 = detail row, 1 = priority subtotal, 3 = grand total) and
    grouping(col) isolates one column's bit. rollup_orders
    demonstrated the sentinel-value convention; this emits the
    bitmask columns themselves, which is what BI layers actually
    consume (they key the drill-down state off gid, not off magic
    values). Same single-shuffle ROLLUP expansion; the coalesce to
    '~' here is only for driver hashability of the subtotal rows'
    NULL keys."""
    o = io.read_parquet(spark, f"{sf_dir}/orders.parquet").df
    g = o.rollup("o_orderstatus", "o_orderpriority").agg(
        F.grouping_id().cast("bigint").alias("gid"),
        F.grouping("o_orderstatus").cast("bigint").alias("g_status"),
        F.grouping("o_orderpriority").cast("bigint").alias("g_priority"),
        F.count(F.lit(1)).alias("n"),
    )
    res = g.select(
        F.coalesce("o_orderstatus", F.lit("~")).alias("status"),
        F.coalesce("o_orderpriority", F.lit("~")).alias("priority"),
        "gid", "g_status", "g_priority", "n",
    )
    return RU.grand_total_on_empty(res, o, [
        F.lit("~").alias("status"),
        F.lit("~").alias("priority"),
        F.lit(3).cast("bigint").alias("gid"),
        F.lit(1).cast("bigint").alias("g_status"),
        F.lit(1).cast("bigint").alias("g_priority"),
        F.lit(0).cast("bigint").alias("n"),
    ])


@query(
    "udtf_table_argument",
    oracle="""
    WITH src AS (
      SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 211 = 0
    ),
    rows_ AS (
      SELECT o_orderkey AS id,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS price_c,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) // 5000000
               AS band
      FROM src
    ),
    summary AS (
      SELECT -1 AS id, count(*)::BIGINT AS price_c,
             count(DISTINCT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                   // 5000000)::BIGINT AS band
      FROM src
    )
    SELECT * FROM rows_ UNION ALL SELECT * FROM summary
    """,
)
def udtf_table_argument(spark, sf_dir):
    """Python UDTF with a TABLE ARGUMENT (Spark 4's polymorphic
    table-function form — SQL: ``FROM f(TABLE(v))``): the UDTF
    consumes an entire RELATION row-by-row instead of correlating
    per-row via LATERAL (udtf_expand_props), and its ``terminate()``
    hook emits a trailer row computed over everything it saw — the
    shape of format parsers, sessionizers, and file writers that need
    end-of-input actions. Here each order row passes through with a
    $50k price band, and terminate() appends one id = -1 summary row
    (row count + distinct band count) — both replayed relationally by
    the oracle. Arrow-batched transfer as always; the stateful
    trailer is exactly the part LATERAL correlation cannot express.
    At scale a table-arg UDTF runs per PARTITION of the input
    (terminate per partition — here a single-partition repartition
    pins one global trailer, documented; per-partition trailers +
    a final merge is the production pattern)."""
    import uuid as _uuid

    from pyspark.sql.functions import udtf

    spark.conf.set("spark.sql.execution.pythonUDTF.arrow.enabled", "true")

    @udtf(returnType="id bigint, price_c bigint, band bigint")
    class BandWithTrailer:
        def __init__(self):
            self._n = 0
            self._bands = set()

        def eval(self, row):
            tp = row["o_totalprice"]
            self._n += 1  # count(*) semantics: NULL prices are rows too
            if tp is None:
                # NULL price: NULL band row; a NULL band is invisible
                # to the trailer's DISTINCT count (count(DISTINCT ...)
                # ignores NULLs — the oracle's summary CTE semantics)
                yield int(row["o_orderkey"]), None, None
                return
            price_c = int(tp * 100 + 0.5)
            band = price_c // 5000000
            self._bands.add(band)
            yield int(row["o_orderkey"]), price_c, band

        def terminate(self):
            yield -1, self._n, len(self._bands)

    fname = f"band_trailer_{_uuid.uuid4().hex[:8]}"
    spark.udtf.register(fname, BandWithTrailer)
    o = io.read_parquet(spark, f"{sf_dir}/orders.parquet").df
    vname = f"orders_{fname}"
    # one partition => exactly one terminate() trailer (documented)
    src = o.filter(F.col("o_orderkey") % 211 == 0).select(
        "o_orderkey", "o_totalprice"
    )
    src.repartition(1).createOrReplaceTempView(vname)
    res = spark.sql(f"SELECT * FROM {fname}(TABLE({vname}))")
    # Spark never instantiates the UDTF for a zero-row input, so the
    # terminate() trailer a format-writer owes its consumers vanishes
    # on an empty partition; restore the (id=-1, 0, 0) trailer with
    # the same probe/anti-join device the grouping-set lattice uses.
    return RU.grand_total_on_empty(res, src, [
        F.lit(-1).cast("bigint").alias("id"),
        F.lit(0).cast("bigint").alias("price_c"),
        F.lit(0).cast("bigint").alias("band"),
    ])


# amortization packed state: acc = bal * (64 * 2*10^8) + interest * 64
# + months; OFF_I = 64 caps months < 64, OFF_B caps interest < 2*10^8
# cents; slot max ~ 7.7*10^17 < BIGINT.
_AMORT_STEP = (
    "CASE WHEN acc {D} 12800000000 = 0 THEN acc"
    " ELSE CASE WHEN acc {D} 12800000000"
    "           + (acc {D} 12800000000) {D} 100 - pmt <= 0"
    "      THEN ((acc % 12800000000) {D} 64"
    "            + (acc {D} 12800000000) {D} 100) * 64"
    "           + (acc % 64) + 1"
    "      ELSE (acc {D} 12800000000 + (acc {D} 12800000000) {D} 100"
    "            - pmt) * 12800000000"
    "           + ((acc % 12800000000) {D} 64"
    "              + (acc {D} 12800000000) {D} 100) * 64"
    "           + (acc % 64) + 1 END END"
)


@query(
    "orders_loan_amortization",
    oracle=f"""
    WITH loans AS (
      SELECT o_orderkey,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS principal_c
      FROM orders WHERE o_orderkey % 307 = 0
    ),
    p AS (
      SELECT o_orderkey, principal_c,
             principal_c * 46 // 1000 AS pmt
      FROM loans
    ),
    folded AS (
      SELECT o_orderkey, principal_c, pmt,
             list_reduce(
               list_concat([principal_c * 12800000000],
                           list_transform(generate_series(1, 60), x -> 0)),
               (acc, x) -> {_AMORT_STEP.format(D='//')}) AS r
      FROM p
    )
    SELECT o_orderkey, principal_c, pmt AS pmt_c,
           r % 64 AS months_to_payoff,
           (r % 12800000000) // 64 AS total_interest_c,
           r // 12800000000 AS residual_c
    FROM folded
    """,
)
def orders_loan_amortization(spark, sf_dir):
    """LOAN AMORTIZATION schedule — the fintech recursion (balance
    accrues 1%/month interest, a fixed annuity payment of 4.6% of
    principal amortizes it in ~24-26 months) whose three outputs
    (months to payoff, total interest paid, residual after the
    60-month cap) all require walking the schedule: interest
    compounds on the REMAINING balance, so no closed-form integer
    answer survives the truncating cent arithmetic real ledgers use.
    One fold over a constant 60-step array per loan, with balance,
    accumulated interest, and month count packed in one BIGINT slot
    (widths documented at the step constant); the payoff month adds
    its final partial interest and zeroes the balance — the
    bal == 0 fixpoint then short-circuits remaining steps. Scalar
    packed accumulator, so DuckDB's list_reduce is safe (the
    list-accumulator quirk does not apply). One narrow scan; the
    sequential tail is the bounded 60-month schedule."""
    o = io.read_parquet(spark, f"{sf_dir}/orders.parquet").df
    p = o.filter(F.col("o_orderkey") % 307 == 0).select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
         .cast("bigint").alias("principal_c"),
    ).withColumn("pmt", F.expr("principal_c * 46 div 1000"))
    fold = (
        "aggregate(transform(sequence(1, 60), x -> CAST(0 AS BIGINT)),"
        " principal_c * CAST(12800000000 AS BIGINT),"
        f" (acc, x) -> {_AMORT_STEP.format(D='div')})"
    )
    return p.selectExpr(
        "o_orderkey", "principal_c", "pmt AS pmt_c",
        f"({fold}) % 64 AS months_to_payoff",
        f"(({fold}) % 12800000000) div 64 AS total_interest_c",
        f"({fold}) div 12800000000 AS residual_c",
    )


# token-bucket packed state: acc = prev_ts * 8192 + rejected * 8 + tokens
# (tokens <= 5 < 8; rejected < 1024 — document the width vs per-user
# event counts; prev_ts epoch-seconds)
_TB_STEP = (
    "(x * 8192)"
    " + CASE WHEN least(acc % 8 + (x - acc {D} 8192) {D} 600, 5) >= 1"
    "   THEN ((acc % 8192) {D} 8) * 8"
    "        + (least(acc % 8 + (x - acc {D} 8192) {D} 600, 5) - 1)"
    "   ELSE ((acc % 8192) {D} 8 + 1) * 8"
    "        + least(acc % 8 + (x - acc {D} 8192) {D} 600, 5) END"
)


@query(
    "events_token_bucket_sim",
    oracle=f"""
    WITH e AS (
      SELECT user_id, epoch_us(ts) // 1000000 AS s
      FROM events WHERE user_id % 17 = 0
    ),
    arr AS (
      SELECT user_id, list(s ORDER BY s) AS ts_list,
             count(*)::BIGINT AS n_events
      FROM e GROUP BY 1
    ),
    folded AS (
      SELECT user_id, n_events,
             list_reduce(
               list_concat([ts_list[1] * 8192 + 0 * 8 + 4], ts_list[2:]),
               (acc, x) -> {_TB_STEP.format(D='//')}) AS r
      FROM arr
    )
    SELECT user_id, n_events,
           (r % 8192) // 8 AS n_rejected,
           CAST(((r % 8192) // 8)::HUGEINT * 1000000 // n_events
                AS BIGINT) AS reject_ppm,
           r % 8 AS tokens_left
    FROM folded
    """,
)
def events_token_bucket_sim(spark, sf_dir):
    """TOKEN-BUCKET RATE LIMITER replayed over history — the API-ops
    question 'what would this quota have rejected': each user's
    bucket holds 5 tokens, refills 1 per 600 s of elapsed time
    (capped at 5 — the TWO-SIDED clamp that distinguishes this from
    part_inventory_simulation's one-sided floor), every event
    consumes one token or counts as rejected. The recursion walks
    each user's ordered timestamps, so it folds over the per-user
    sorted event-time array with (prev_ts, rejected, tokens) packed
    in one BIGINT (widths at the step constant; rejected < 1024
    covers the tested SFs' per-user event counts, widen the slot for
    heavier users). First event consumes from a full bucket (seed:
    4 tokens left, 0 rejected). Per-user bounded work after one
    user-keyed collect; scalar packed accumulator keeps DuckDB's
    list_reduce in its safe regime. Output: per-user rejection count,
    exact-ppm rejection rate, and tokens left — the simulation a
    quota proposal ships with."""
    e = io.read_parquet(spark, f"{sf_dir}/events.parquet").df
    arr = (
        e.filter(F.col("user_id") % 17 == 0)
        .select("user_id", F.expr("unix_micros(ts) div 1000000").alias("s"))
        .groupBy("user_id")
        .agg(
            F.sort_array(F.collect_list("s")).alias("ts_list"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
    fold = (
        "aggregate(slice(ts_list, 2, size(ts_list) - 1),"
        " element_at(ts_list, 1) * CAST(8192 AS BIGINT) + 0 * 8 + 4,"
        f" (acc, x) -> {_TB_STEP.format(D='div')})"
    )
    return arr.selectExpr(
        "user_id", "n_events",
        f"(({fold}) % 8192) div 8 AS n_rejected",
        f"CAST(CAST((({fold}) % 8192) div 8 AS DECIMAL(38,0)) * 1000000"
        f" div n_events AS BIGINT) AS reject_ppm",
        f"({fold}) % 8 AS tokens_left",
    )


@query(
    "csv_multiline_roundtrip",
    oracle="""
    SELECT n_nationkey,
           n_name || chr(10) || 'line2:' || CAST(n_regionkey AS VARCHAR)
             AS memo,
           length(n_name || chr(10) || 'line2:'
                  || CAST(n_regionkey AS VARCHAR)) AS memo_len
    FROM nation
    """,
)
def csv_multiline_roundtrip(spark, sf_dir):
    """CSV with EMBEDDED NEWLINES — the parser surface that silently
    corrupts naive pipelines: a quoted field containing a line break
    is one record, but a reader without ``multiLine=true`` splits it
    into two broken rows (Spark's default, because single-line mode
    is what keeps CSV splittable — the correctness/parallelism
    tradeoff this query documents: multiLine forces one task per
    file, so at scale multiline CSV is a LANDING format to convert
    once, like csv_gzip_read_agg's gzip caveat). Synthesized memo
    fields with a real newline round-trip through write_csv (which
    must quote them) and a multiLine read-back; hash-matching the
    oracle built directly from the source table proves no record was
    split or joined."""
    n = io.read_parquet(spark, f"{sf_dir}/nation.parquet").df
    memo = F.concat(
        F.col("n_name"), F.lit("\n"), F.lit("line2:"),
        F.col("n_regionkey").cast("string"),
    )
    src = n.select("n_nationkey", memo.alias("memo"))
    path = io.scratch_dir("emma_csv_ml_") + "/memos"
    DataBag(src).write_csv(path)
    back = io.read_csv(
        spark, path, schema="n_nationkey bigint, memo string",
        header=True, multi_line=True,
    )
    return back.df.select(
        "n_nationkey", "memo", F.length("memo").alias("memo_len")
    )


@query(
    "json_array_file_read",
    oracle="""
    SELECT n_regionkey, count(*) AS n, min(n_name) AS first_name
    FROM nation GROUP BY n_regionkey
    """,
)
def json_array_file_read(spark, sf_dir):
    """Pretty-printed JSON ARRAY files (multiLine JSON) — the other
    JSON layout in the wild besides JSONL: an API dump is usually ONE
    array spanning many lines, which the default line-oriented reader
    shreds into corrupt records; ``multiLine`` parses the whole file
    as one document (and, like multiline CSV, makes the file
    unsplittable — one task per file, landing-format guidance
    applies; JSONL remains the at-scale interchange,
    jsonl_roundtrip_agg). The fixture stages nation as a single
    pretty-printed array (driver-side — 25 rows, a fixture-staging
    collect like the streaming stagers), reads it back with
    explicit schema + multiLine, and aggregates; the oracle runs on
    the ORIGINAL table, so a hash match proves array parsing loses
    nothing."""
    import json
    import os

    n = io.read_parquet(spark, f"{sf_dir}/nation.parquet").df
    rows = [
        {"n_nationkey": r.n_nationkey, "n_name": r.n_name,
         "n_regionkey": r.n_regionkey}
        for r in n.select("n_nationkey", "n_name", "n_regionkey").collect()
    ]
    d = io.scratch_dir("emma_json_arr_")
    with open(os.path.join(d, "nations.json"), "w") as f:
        json.dump(rows, f, indent=2)  # pretty-printed: one array, many lines
    back = (
        spark.read.schema(
            "n_nationkey bigint, n_name string, n_regionkey bigint"
        )
        .option("multiLine", "true")
        .json(d)
    )
    return back.groupBy("n_regionkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("n_name").alias("first_name"),
    )


_RECURSIVE_WALK_SQL = """
WITH RECURSIVE walk(node, depth_up, rev_c) AS (
  SELECT l_partkey AS node, 0 AS depth_up,
         sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS rev_c
  FROM lineitem GROUP BY l_partkey
  UNION ALL
  SELECT node {div} 10, depth_up + 1, rev_c FROM walk WHERE node {div} 10 > 0
)
SELECT depth_up, count(*) AS n_nodes,
       count(DISTINCT node) AS n_distinct_nodes,
       CAST(sum(rev_c) AS BIGINT) AS rev_c
FROM walk GROUP BY depth_up
"""


@query(
    "sql_recursive_cte_walk",
    oracle=_RECURSIVE_WALK_SQL.format(div="//"),
)
def sql_recursive_cte_walk(spark, sf_dir):
    """Native WITH RECURSIVE on Spark (4.0+, SPARK-24497) — the last
    big ANSI surface the engine gained, exercised Spark-side for the
    first time (every prior recursive CTE in this repo lives in the
    DuckDB oracles). The walk climbs the decimal 10-ary part tree
    (parent(p) = p div 10 — the same hierarchy part_hierarchy_rollup
    flattens by bounded-depth ancestor explode) from each part's
    aggregated leaf revenue to the root, then aggregates per level.
    SAME RECURSION, TWO INDEPENDENT ENGINES: DuckDB runs the
    identical text (modulo `div` vs `//` integer division).

    Scale: recursion here is a bounded loop of narrow projections —
    each step is `node div 10` on the previous level's output (no
    join, no shuffle inside a step; the leaf agg is the only
    exchange), and depth <= 7 for bigint keys, so the unrolled plan
    is 7 unioned maps over an ever-shrinking set. This is exactly the
    plan the driver-loop fixpoint machinery (plans/iterate.py) would
    build by hand; the CTE form hands termination to Catalyst. The
    anchor aggregates BEFORE recursing so the recursion fans out on
    the part dimension, never the lineitem fact."""
    li = io.read_parquet(spark, f"{sf_dir}/lineitem.parquet").df
    from ..core import sql as bag_sql

    return bag_sql(
        spark, _RECURSIVE_WALK_SQL.format(div="div"), lineitem=li
    ).df


@query(
    "sql_pipe_syntax_pricing",
    oracle="""
    SELECT l_returnflag, l_linestatus, count(*) AS n,
           CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
             AS BIGINT) AS sum_price_c,
           CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
               * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT)))
             // 100 AS BIGINT) AS disc_rev_c
    FROM lineitem
    WHERE l_quantity < 30
    GROUP BY l_returnflag, l_linestatus
    """,
)
def sql_pipe_syntax_pricing(spark, sf_dir):
    """SQL pipe syntax (Spark 4.0's `|>` operators, from the
    SQL-has-problems-we-can-fix-them paper) — the linear FROM-first
    form of the Q1 pricing summary: WHERE |> EXTEND |> AGGREGATE.
    Each pipe stage is sugar over the same Catalyst plan as the
    nested form (filter -> project -> partial/final hash agg), so
    pushdown, codegen, and AQE apply unchanged — this query pins that
    the sugar is semantics-preserving by hash-matching a classic
    GROUP BY oracle on DuckDB (which has no pipe syntax: different
    text, same answer). Money stays in exact integer cents; the
    net-of-discount revenue multiplies cent-integers and integer-
    divides at the end, so both engines agree bit-for-bit."""
    li = io.read_parquet(spark, f"{sf_dir}/lineitem.parquet").df
    li.createOrReplaceTempView("pipe_lineitem")
    return spark.sql("""
    FROM pipe_lineitem
    |> WHERE l_quantity < 30
    |> EXTEND CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS price_c,
              CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS disc_c
    |> AGGREGATE count(*) AS n, sum(price_c) AS sum_price_c,
                 sum(price_c * (100 - disc_c)) div 100 AS disc_rev_c
       GROUP BY l_returnflag, l_linestatus
    """)


@query(
    "sql_group_by_all_surface",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           count(*) AS n,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS rev_c
    FROM (SELECT * EXCLUDE (o_orderdate) FROM orders) t
    GROUP BY ALL
    """,
)
def sql_group_by_all_surface(spark, sf_dir):
    """Modern SQL sugar surface — `GROUP BY ALL` (group by every
    non-aggregate select item) and star-projection pruning (`SELECT *
    EXCEPT` on Spark, `EXCLUDE` on DuckDB — same semantics, different
    spelling, which is exactly why both texts are written out rather
    than shared): the two quality-of-life forms analysts reach for
    first in both engines. Catalyst resolves GROUP BY ALL to the
    explicit grouping list during analysis, and the star-minus
    projection pushes column pruning into the scan just like a named
    projection (the parquet reader never materializes the excluded
    date column) — so the sugar costs nothing at 100 TB. A hash
    match against DuckDB's independent implementation of the same
    resolution rules pins that both engines infer the SAME grouping
    keys."""
    o = io.read_parquet(spark, f"{sf_dir}/orders.parquet").df
    o.createOrReplaceTempView("gba_orders")
    return spark.sql("""
    SELECT o_orderstatus, o_orderpriority,
           count(*) AS n,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS rev_c
    FROM (SELECT * EXCEPT (o_orderdate) FROM gba_orders) t
    GROUP BY ALL
    """)


@query(
    "join_dynamic_partition_pruning",
    oracle="""
    SELECT d.lang, count(*) AS n, CAST(sum(d.n_chars) AS BIGINT) AS chars
    FROM documents d
    JOIN (SELECT DISTINCT lang FROM documents WHERE doc_id % 97 = 3) s
      ON d.lang = s.lang
    GROUP BY d.lang
    """,
)
def join_dynamic_partition_pruning(spark, sf_dir):
    """DYNAMIC partition pruning — the runtime half of the pruning
    contract (parquet_partitioned_roundtrip pins the PLANNING-time
    half): the fact is written lang-partitioned, but the selective
    predicate lives on a DIMENSION only known at runtime (the
    distinct langs of a keyed document sample), so no static
    PartitionFilter exists when the plan is built. Spark's DPP
    inserts a dynamicpruning#... subquery into the fact scan's
    partition filters — it reuses the dim's broadcast to enumerate
    the surviving lang directories BEFORE the fact scan starts
    (asserted as a plan property in tests/test_plans.py). At 100 TB
    this is THE star-schema join plan: a date-partitioned fact
    joined to dim_date rows selected by month never lists, opens, or
    reads the other 3000 day-directories. The value hash proves the
    pruned plan computes exactly the unpruned semantics."""
    docs = io.read_parquet(spark, f"{sf_dir}/documents.parquet")
    path = io.scratch_dir("emma_pq_dpp_") + "/docs"
    DataBag(docs.df).write_parquet(path, partition_by=["lang"])
    # explicit schema (see parquet_partitioned_roundtrip): an empty
    # write has no files to infer from; a declared schema reads it as
    # zero rows and DPP still prunes the (zero) partitions
    fact = spark.read.schema(docs.df.schema).parquet(path)
    dim = (
        docs.df.filter(F.col("doc_id") % 97 == 3)
        .select("lang").distinct()
    )
    j = fact.join(F.broadcast(dim), "lang")
    return j.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_chars").alias("chars"),
    )


@query(
    "sql_named_parameters",
    oracle="""
    SELECT l_linestatus, count(*) AS n,
           CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS rev_c
    FROM lineitem
    WHERE l_quantity >= 25 AND l_returnflag = 'R'
    GROUP BY l_linestatus
    """,
)
def sql_named_parameters(spark, sf_dir):
    """PARAMETERIZED SQL (Spark 3.4+/4 `spark.sql(text, args=...)`,
    named `:param` markers) — the injection-safe templating surface a
    query service puts in front of the engine: parameters bind as
    TYPED LITERALS during parsing (not string splicing), so a
    malicious value can never change the query's shape, and Catalyst
    constant-folds the bound literals exactly as if they were inline
    — same plan, same pushdown, zero overhead. The oracle runs the
    literal-inlined equivalent on DuckDB; the hash match pins that
    binding is semantically identical to inlining. Both named
    (`:min_qty`) markers here and positional `?` markers exist;
    named is the production choice (self-documenting, reorderable)."""
    li = io.read_parquet(spark, f"{sf_dir}/lineitem.parquet").df
    li.createOrReplaceTempView("param_lineitem")
    return spark.sql(
        """
        SELECT l_linestatus, count(*) AS n,
               CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS rev_c
        FROM param_lineitem
        WHERE l_quantity >= :min_qty AND l_returnflag = :flag
        GROUP BY l_linestatus
        """,
        args={"min_qty": 25, "flag": "R"},
    )


@query(
    "io_schema_evolution_merge",
    oracle="""
    WITH both_batches AS (
      SELECT n_nationkey, n_name, NULL::BIGINT AS n_regionkey
      FROM nation
      UNION ALL
      SELECT n_nationkey, n_name, n_regionkey FROM nation
    )
    SELECT coalesce(n_regionkey, -1) AS region_or_missing,
           count(*) AS n, min(n_name) AS first_name
    FROM both_batches GROUP BY 1
    """,
)
def io_schema_evolution_merge(spark, sf_dir):
    """SCHEMA EVOLUTION on a parquet directory — the table-lifecycle
    event every long-lived 100 TB dataset hits: an early batch was
    written WITHOUT a column (here n_regionkey), a later batch WITH
    it, and `mergeSchema=true` reads both under the union schema,
    NULL-filling the missing column for old files (per-file schemas
    are reconciled at footer-read time; mergeSchema costs one extra
    footer pass, which is why production tables pin the contract in
    a metastore/Delta log instead — this query pins the raw-parquet
    mechanics that those systems build on). The oracle replays the
    union semantics directly; the -1 sentinel keys the driver-
    hashable census of old-batch vs new-batch rows."""
    n = io.read_parquet(spark, f"{sf_dir}/nation.parquet").df
    base = io.scratch_dir("emma_pq_evo_")
    n.select("n_nationkey", "n_name").write.mode("overwrite").parquet(
        f"{base}/batch=1"
    )
    n.select("n_nationkey", "n_name", "n_regionkey").write.mode(
        "overwrite"
    ).parquet(f"{base}/batch=2")
    back = spark.read.option("mergeSchema", "true").parquet(
        f"{base}/batch=1", f"{base}/batch=2"
    )
    return back.groupBy(
        F.coalesce("n_regionkey", F.lit(-1)).alias("region_or_missing")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("n_name").alias("first_name"),
    )


@query(
    "io_parquet_zstd_roundtrip",
    oracle="""
    SELECT l_returnflag, count(*) AS n,
           CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS rev_c
    FROM lineitem WHERE l_orderkey % 13 = 0
    GROUP BY l_returnflag
    """,
)
def io_parquet_zstd_roundtrip(spark, sf_dir):
    """Parquet CODEC surface — write with zstd (the modern default
    for warehouse tables: ~30%% smaller than snappy at comparable
    scan speed, the knob that matters at 100 TB where storage and
    scan bytes dominate cost), read back, aggregate; the hash match
    against the ORIGINAL table proves the codec is bit-lossless
    through the full write/read cycle. Codec choice is per-write
    (`option("compression", "zstd")`), decode is transparent at
    scan — no reader coordination needed, old snappy files and new
    zstd files coexist in one table."""
    li = io.read_parquet(spark, f"{sf_dir}/lineitem.parquet").df
    sample = li.filter(F.col("l_orderkey") % 13 == 0)
    path = io.scratch_dir("emma_pq_zstd_") + "/li"
    sample.write.option("compression", "zstd").mode("overwrite").parquet(path)
    back = spark.read.parquet(path)
    return back.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(
            "CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))"
            " AS BIGINT)"
        ).alias("rev_c"),
    )


@query(
    "events_diff_in_diff",
    oracle="""
    WITH cut AS (
      SELECT min(epoch_us(ts)) + 15 * 86400000000 AS t_cut FROM events
    ),
    cells AS (
      -- user_id IS NOT NULL: an anonymous event has no stable arm
      -- assignment — it belongs in NEITHER arm (the bare CASE's ELSE
      -- silently dumped NULL users into control, where Spark's
      -- NULL-propagating cast made a third group; r10 NULL-user_id
      -- events fuzz)
      SELECT CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END AS treated,
             CASE WHEN epoch_us(ts) >= cut.t_cut THEN 1 ELSE 0 END
               AS post,
             count(*) AS n,
             CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) * 1000000
                  // count(*) AS BIGINT) AS mean_c_ppm
      FROM events, cut WHERE user_id IS NOT NULL GROUP BY 1, 2
    ),
    w AS (
      SELECT
        max(CASE WHEN treated = 1 AND post = 0 THEN mean_c_ppm END) AS tp0,
        max(CASE WHEN treated = 1 AND post = 1 THEN mean_c_ppm END) AS tp1,
        max(CASE WHEN treated = 0 AND post = 0 THEN mean_c_ppm END) AS cp0,
        max(CASE WHEN treated = 0 AND post = 1 THEN mean_c_ppm END) AS cp1,
        CAST(sum(n) AS BIGINT) AS n_total
      FROM cells
    )
    SELECT n_total, tp0 AS treat_pre_ppm, tp1 AS treat_post_ppm,
           cp0 AS ctrl_pre_ppm, cp1 AS ctrl_post_ppm,
           (tp1 - tp0) - (cp1 - cp0) AS did_ppm
    FROM w
    """,
)
def events_diff_in_diff(spark, sf_dir):
    """DIFFERENCE-IN-DIFFERENCES — the quasi-experimental estimator
    for rollouts WITHOUT randomization (feature shipped to a cohort
    at time T): effect = (treated post − treated pre) − (control
    post − control pre), which cancels both the permanent group
    difference and the common time trend, leaving the causal effect
    under parallel trends. Completes the experimentation family next
    to the randomized-path tools (events_cuped_adjusted_lift's
    variance reduction, events_srm_check's validity gate,
    events_experiment_scorecard): DiD is what you reach for when SRM
    would be meaningless because assignment was never random.
    Mechanics: ONE scan into a 2×2 (treated × pre/post) cell agg
    with exact integer ppm means (sum·10^6 div n), then a 4-cell
    pivot and pure integer subtraction — the estimator is two
    shuffles end to end at any scale. The period cut derives from
    the data's min timestamp (+15 days) so the query is SF-portable."""
    e = io.read_parquet(spark, f"{sf_dir}/events.parquet").df
    cut = e.agg(
        (F.min(F.expr("unix_micros(ts)")) + 15 * 86400000000)
        .alias("t_cut")
    )
    cells = (
        # anonymous events carry no stable arm — excluded from the
        # estimator on BOTH engines (see the oracle's WHERE)
        e.filter(F.col("user_id").isNotNull())
        .crossJoin(F.broadcast(cut))
        .groupBy(
            (F.col("user_id") % 2 == 1).cast("int").alias("treated"),
            (F.expr("unix_micros(ts)") >= F.col("t_cut"))
            .cast("int").alias("post"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr(
                "CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))"
                " * 1000000 div count(*) AS BIGINT)"
            ).alias("mean_c_ppm"),
        )
    )
    w = cells.agg(
        F.max(F.when((F.col("treated") == 1) & (F.col("post") == 0),
                     F.col("mean_c_ppm"))).alias("tp0"),
        F.max(F.when((F.col("treated") == 1) & (F.col("post") == 1),
                     F.col("mean_c_ppm"))).alias("tp1"),
        F.max(F.when((F.col("treated") == 0) & (F.col("post") == 0),
                     F.col("mean_c_ppm"))).alias("cp0"),
        F.max(F.when((F.col("treated") == 0) & (F.col("post") == 1),
                     F.col("mean_c_ppm"))).alias("cp1"),
        F.sum("n").cast("bigint").alias("n_total"),
    )
    return w.select(
        "n_total",
        F.col("tp0").alias("treat_pre_ppm"),
        F.col("tp1").alias("treat_post_ppm"),
        F.col("cp0").alias("ctrl_pre_ppm"),
        F.col("cp1").alias("ctrl_post_ppm"),
        ((F.col("tp1") - F.col("tp0")) - (F.col("cp1") - F.col("cp0")))
        .alias("did_ppm"),
    )


@query(
    "orders_forecast_reconcile",
    oracle="""
    WITH m AS (
      SELECT o_orderpriority,
             CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE)
               AS mo,
             sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS rev_c
      FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1, 2
    ),
    bot AS (
      SELECT o_orderpriority,
             CAST(list_reduce(list(rev_c ORDER BY mo),
                              (acc, x) -> (3 * x + 7 * acc) // 10)
                  AS BIGINT) AS fc_c
      FROM m GROUP BY o_orderpriority
    ),
    tot_m AS (SELECT mo, sum(rev_c) AS rev_c FROM m GROUP BY mo),
    top_fc AS (
      SELECT CAST(list_reduce(list(rev_c ORDER BY mo),
                              (acc, x) -> (3 * x + 7 * acc) // 10)
                  AS BIGINT) AS top_c
      FROM tot_m
    ),
    b AS (SELECT sum(fc_c) AS bsum FROM bot),
    alloc AS (
      SELECT o_orderpriority, fc_c,
             CAST(top_c::HUGEINT * fc_c // bsum AS BIGINT) AS q,
             CAST(top_c::HUGEINT * fc_c % bsum AS HUGEINT) AS rem,
             top_c
      FROM bot, top_fc, b
    ),
    d AS (SELECT CAST(max(top_c) - sum(q) AS BIGINT) AS deficit FROM alloc),
    ranked AS (
      SELECT *, row_number() OVER (ORDER BY rem DESC, o_orderpriority)
               AS rk
      FROM alloc
    )
    SELECT o_orderpriority, CAST(fc_c AS BIGINT) AS bottom_fc_c,
           CAST(q AS BIGINT) AS floor_share_c,
           CAST(q + CASE WHEN rk <= d.deficit THEN 1 ELSE 0 END AS BIGINT)
             AS reconciled_c,
           CAST(top_c AS BIGINT) AS top_fc_c
    FROM ranked, d
    """,
)
def orders_forecast_reconcile(spark, sf_dir):
    """HIERARCHICAL FORECAST RECONCILIATION (proportional top-down
    with exact COHERENCE): per-priority SES forecasts and an
    INDEPENDENTLY-fit total-level SES forecast never sum to each
    other — a planning system must emit numbers that do. Reconciled
    share_i = top·bottom_i/Σbottom allocated by the LARGEST-REMAINDER
    method: integer floor shares plus +1 to the `deficit` rows with
    the biggest remainders (deterministic remainder-desc, priority
    tie-break), so Σ reconciled == top EXACTLY — in cents, not
    approximately (the property float scaling cannot give; same
    method a seat-apportionment or budget-split job uses; fractional
    shares in text_mixture_allocation tolerate drift, a financial
    plan cannot). Mechanics: the two SES folds reuse the bounded
    month-array recursion (orders_ses_level_fold), allocation is a
    5-row broadcast arithmetic pass, and the remainder ranking is a
    window over ≤|priorities| rows — nothing global, nothing
    data-sized past the month agg. Forecast completes the family:
    fit (SES/Holt/Croston), backtest, MASE eval, decomposition, and
    now coherent multi-level publication."""
    from pyspark.sql import Window

    o = io.read_parquet(spark, f"{sf_dir}/orders.parquet").df
    # the month aggregate fans out to the per-priority SES fit AND the
    # total-level series; the bottom forecasts feed their sum and the
    # allocation; allocation feeds the deficit probe and the final
    # ranking — all PINNED (every pinned table is bounded by
    # priorities × months, never data-sized). Unpinned, this plan
    # compiled 6 orders FileScans.
    m = pin(o.filter(F.col("o_orderdate").isNotNull()).groupBy(
        "o_orderpriority",
        F.date_trunc("month", F.col("o_orderdate").cast("date"))
         .cast("date").alias("mo"),
    ).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)))
         .cast("bigint").alias("rev_c")
    ))

    def ses(df, keys):
        # seed with the FIRST observation, fold from the second —
        # exactly DuckDB's list_reduce (and the family convention,
        # orders_ses_level_fold). The zero seed this previously used
        # matched the oracle only because a long month series decays
        # the seed by 0.7^n below cent resolution; the constant
        # fuzz corpus (2-3 months) exposed it as a 0.51x divergence. The
        # size guard covers the empty-input global fold (element_at
        # on [] raises under ANSI; DuckDB list_reduce([]) is NULL).
        arr = df.groupBy(*keys).agg(
            F.expr(
                "CASE WHEN size(collect_list(rev_c)) < 1"
                " THEN CAST(NULL AS BIGINT)"
                " ELSE aggregate(slice(transform(array_sort(collect_list("
                "struct(mo, rev_c))), s -> s.rev_c), 2,"
                " size(collect_list(rev_c)) - 1),"
                " element_at(transform(array_sort(collect_list("
                "struct(mo, rev_c))), s -> s.rev_c), 1),"
                " (acc, x) -> (3 * x + 7 * acc) div 10) END"
            ).alias("fc_c")
        )
        return arr

    bot = pin(ses(m, ["o_orderpriority"]))
    tot_m = m.groupBy("mo").agg(F.sum("rev_c").alias("rev_c"))
    top = ses(tot_m, []).withColumnRenamed("fc_c", "top_c")
    b = bot.agg(F.sum("fc_c").alias("bsum"))
    alloc = pin(bot.crossJoin(F.broadcast(top)).crossJoin(F.broadcast(b)).select(
        "o_orderpriority", "fc_c", "top_c",
        F.expr(
            "CAST(CAST(top_c AS DECIMAL(38,0)) * fc_c div bsum AS BIGINT)"
        ).alias("q"),
        F.expr(
            "CAST(CAST(top_c AS DECIMAL(38,0)) * fc_c % bsum"
            " AS DECIMAL(38,0))"
        ).alias("rem"),
    ))
    d = alloc.agg(
        (F.max("top_c") - F.sum("q")).cast("bigint").alias("deficit")
    )
    w = Window.orderBy(F.desc("rem"), "o_orderpriority")
    ranked = alloc.withColumn("rk", F.row_number().over(w))
    return ranked.crossJoin(F.broadcast(d)).select(
        "o_orderpriority",
        F.col("fc_c").cast("bigint").alias("bottom_fc_c"),
        F.col("q").cast("bigint").alias("floor_share_c"),
        (F.col("q") + F.when(F.col("rk") <= F.col("deficit"), 1)
         .otherwise(0)).cast("bigint").alias("reconciled_c"),
        F.col("top_c").cast("bigint").alias("top_fc_c"),
    )


@query(
    "join_shuffle_hash_hint",
    oracle="""
    SELECT s.s_nationkey AS nation, count(*) AS n,
           CAST(sum(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS rev_c
    FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
    GROUP BY s.s_nationkey
    """,
)
def join_shuffle_hash_hint(spark, sf_dir):
    """JOIN-STRATEGY HINT surface — `hint("shuffle_hash")` forces a
    ShuffledHashJoin where the planner would default to sort-merge
    (asserted in tests/test_plans.py): both sides still shuffle on
    the key, but the smaller side builds a hash table per partition
    instead of BOTH sides sorting — the right call when one side is
    much smaller than the other yet too big to broadcast (the
    fact⋈medium-dim shape here: lineitem ⋈ supplier). This is the
    third point on the join-strategy dial the repo now pins —
    broadcast (join_broadcast), sort-merge (every large join), and
    shuffled-hash — and at 100 TB choosing SHJ over SMJ on a
    skew-free medium dim saves the dominant sort. The hash match
    proves the hint changes the PHYSICAL plan only, never the
    result."""
    li = io.read_parquet(spark, f"{sf_dir}/lineitem.parquet").df
    su = io.read_parquet(spark, f"{sf_dir}/supplier.parquet").df
    j = li.join(su.hint("shuffle_hash"),
                li.l_suppkey == su.s_suppkey)
    return j.groupBy(F.col("s_nationkey").alias("nation")).agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(
            "CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))"
            " AS BIGINT)"
        ).alias("rev_c"),
    )


# Packed-slot constants for the weighted-average costing fold:
# state = cost_c * 2^20 + on_hand; event = (qty * 2^34 + price_c) * 2
# + is_issue. Bounds at harness SFs: per-part cost sums < 2^43 so the
# state stays far under 2^63 (widen the slot to DECIMAL(38,0) past
# sf1, as the Holt fold does).
_WAC_H = 1 << 20
_WAC_P = 1 << 34


def _wac_step(acc: str, e: str) -> str:
    """One costing event applied to the packed state (engine-neutral
    integer SQL; `//` is substituted per engine): receipts add
    quantity and cost; issues remove min(qty, on_hand) at the current
    truncating average cost."""
    H, P = _WAC_H, _WAC_P
    hand = f"({acc} % {H})"
    cost = f"({acc} :DIV: {H})"
    qty = f"({e} :DIV: {2 * P})"
    price = f"(({e} :DIV: 2) % {P})"
    iss = f"(CASE WHEN {qty} < {hand} THEN {qty} ELSE {hand} END)"
    rel = (f"(CASE WHEN {hand} > 0 THEN {iss} * {cost} :DIV: {hand}"
           f" ELSE 0 END)")
    return (
        f"CASE WHEN {e} % 2 = 1"
        f" THEN ({cost} - {rel}) * {H} + ({hand} - {iss})"
        f" ELSE ({cost} + {price}) * {H} + ({hand} + {qty}) END"
    )


@query(
    "part_wavg_costing",
    oracle=f"""
    WITH ev AS (
      SELECT l_partkey,
             CAST(l_shipdate AS DATE) AS d, l_orderkey, l_linenumber,
             (CAST(l_quantity AS BIGINT) * {2 * _WAC_P}
              + CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) * 2
              + CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS e
      FROM lineitem WHERE l_partkey < 20
    ),
    arr AS (
      SELECT l_partkey,
             list(e ORDER BY d, l_orderkey, l_linenumber) AS es,
             count(*)::BIGINT AS n_events,
             CAST(sum(CASE WHEN e % 2 = 0 THEN (e // 2) % {_WAC_P}
                      ELSE 0 END) AS BIGINT) AS receipts_cost_c
      FROM ev GROUP BY l_partkey
    ),
    folded AS (
      SELECT l_partkey, n_events, receipts_cost_c,
             list_reduce(list_concat([0::BIGINT], es),
               (acc, e) -> {_wac_step('acc', 'e').replace(':DIV:', '//')})
               AS r
      FROM arr
    )
    SELECT l_partkey, n_events, receipts_cost_c,
           CAST(r % {_WAC_H} AS BIGINT) AS ending_on_hand,
           CAST(r // {_WAC_H} AS BIGINT) AS ending_value_c,
           CAST(receipts_cost_c - r // {_WAC_H} AS BIGINT) AS cogs_c
    FROM folded
    """,
)
def part_wavg_costing(spark, sf_dir):
    """WEIGHTED-AVERAGE inventory COSTING — the ERP valuation
    recursion (IAS 2's other permitted method next to FIFO): receipts
    add quantity and cost, issues relieve stock at the CURRENT
    average unit cost, so the running (on_hand, total_cost) pair is
    a genuinely sequential state — each issue's cost depends on
    every prior event, no windowed form exists. Both state variables
    pack into one BIGINT slot (cost·2²⁰ + on_hand) and each line
    event into another ((qty·2³⁴ + price)·2 + is_issue), so the
    whole recursion is ONE list_reduce/aggregate fold over the
    per-part event array, ordered by (shipdate, orderkey,
    linenumber) — the packed-fold family's first two-variable
    FINANCIAL state (joins SES/Holt smoothing, amortization, token
    bucket, clamped inventory). Issues are clamped to available
    stock, release cost truncates (iss·cost div hand — identical
    truncation both engines), and the COGS report is receipts minus
    ending value, so valuation ties out by construction. One
    (part)-keyed agg; sequential tail bounded by per-part line
    counts. Property-tested against a plain Python replay."""
    li = io.read_parquet(spark, f"{sf_dir}/lineitem.parquet").df
    ev = li.filter(F.col("l_partkey") < 20).select(
        "l_partkey",
        F.col("l_shipdate").cast("date").alias("d"),
        "l_orderkey", "l_linenumber",
        (
            F.col("l_quantity").cast("bigint") * (2 * _WAC_P)
            + F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
              .cast("bigint") * 2
            + F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
        ).alias("e"),
    )
    arr = ev.groupBy("l_partkey").agg(
        F.expr(
            "transform(array_sort(collect_list("
            "struct(d, l_orderkey, l_linenumber, e))), s -> s.e)"
        ).alias("es"),
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.expr(
            f"CAST(sum(CASE WHEN e % 2 = 0 THEN (e div 2) % {_WAC_P}"
            f" ELSE 0 END) AS BIGINT)"
        ).alias("receipts_cost_c"),
    )
    step = _wac_step("acc", "e").replace(":DIV:", "div")
    folded = arr.select(
        "l_partkey", "n_events", "receipts_cost_c",
        F.expr(
            f"aggregate(es, CAST(0 AS BIGINT), (acc, e) -> {step})"
        ).alias("r"),
    )
    return folded.select(
        "l_partkey", "n_events", "receipts_cost_c",
        (F.col("r") % _WAC_H).cast("bigint").alias("ending_on_hand"),
        F.expr(f"CAST(r div {_WAC_H} AS BIGINT)").alias("ending_value_c"),
        F.expr(
            f"CAST(receipts_cost_c - r div {_WAC_H} AS BIGINT)"
        ).alias("cogs_c"),
    )


@query(
    "sql_execute_immediate",
    oracle="""
    SELECT o_orderpriority, count(*) AS n,
           CAST(max(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS max_price_c
    FROM orders WHERE o_orderstatus = 'F'
    GROUP BY o_orderpriority
    """,
)
def sql_execute_immediate(spark, sf_dir):
    """DYNAMIC SQL — `EXECUTE IMMEDIATE` (Spark 4) runs a query held
    in a STRING with positional `?` parameters bound at execution,
    the surface a metadata-driven job builder uses when the query
    text itself is data (stored report definitions, rule tables).
    Completes the templating triple: inline literals, named-parameter
    binding (sql_named_parameters), and now fully dynamic text —
    with the same guarantee, pinned by the hash match against the
    static oracle: the dynamic path parses, binds, and optimizes to
    exactly the plan the static query gets. Parameters bind as typed
    values (not splices), so the injection-safety story carries
    over."""
    li = io.read_parquet(spark, f"{sf_dir}/orders.parquet").df
    li.createOrReplaceTempView("exec_imm_orders")
    return spark.sql(
        """
        EXECUTE IMMEDIATE
        'SELECT o_orderpriority, count(*) AS n,
                CAST(max(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                     AS BIGINT) AS max_price_c
         FROM exec_imm_orders WHERE o_orderstatus = ?
         GROUP BY o_orderpriority'
        USING 'F'
        """
    )


@query(
    "events_watermark_lateness_audit",
    oracle="""
    WITH seq AS (
      SELECT user_id, epoch_us(ts) AS t,
             max(epoch_us(ts)) OVER (
               PARTITION BY user_id
               ORDER BY epoch_us(ts) // 600000000,
                        CAST(concat('0x', substr(md5('arr|' ||
                          CAST(event_id AS VARCHAR)), 1, 14)) AS BIGINT)
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS hwm
      FROM events
    ),
    lat AS (
      SELECT CASE
               WHEN hwm IS NULL OR t >= hwm THEN 0
               ELSE hwm - t END AS late_us
      FROM seq
    )
    SELECT count(*) AS n_events,
           CAST(sum(CASE WHEN late_us > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_out_of_order,
           CAST(sum(CASE WHEN late_us > 300000000 THEN 1 ELSE 0 END)
                AS BIGINT) AS dropped_at_5m,
           CAST(sum(CASE WHEN late_us > 900000000 THEN 1 ELSE 0 END)
                AS BIGINT) AS dropped_at_15m,
           CAST(sum(CASE WHEN late_us > 3600000000 THEN 1 ELSE 0 END)
                AS BIGINT) AS dropped_at_1h,
           CAST(max(late_us) AS BIGINT) AS max_late_us
    FROM lat
    """,
)
def events_watermark_lateness_audit(spark, sf_dir):
    """WATERMARK SIZING AUDIT — the batch analysis every streaming
    deployment should run BEFORE picking `withWatermark`'s delay:
    replay the event log in ARRIVAL order — simulated as 10-minute
    ingest batches with hash-shuffled order inside each batch, the
    shape a collector actually delivers (the raw log is already
    event-time-sorted, so an identity proxy would show zero lateness
    and audit nothing) — track each key's running event-time
    high-water mark, and
    measure how late each out-of-order event arrives behind it. The
    one-row report counts events that a 5-minute / 15-minute / 1-hour
    watermark would silently DROP, plus the worst straggler — read
    it as the completeness-vs-state-size tradeoff curve at three
    candidate operating points (this corpus's streaming queries use
    10-30 min delays; the audit shows what those choices cost).
    Mechanics: one per-key ordered window (partitioned by user —
    never global), then a single scan-level census; at 100 TB the
    window runs per key-partition exactly like the sessionizers.
    Spark's own dropped-row metrics (observe/streaming progress)
    tell you AFTER the fact; this predicts it from history."""
    from pyspark.sql import Window

    e = io.read_parquet(spark, f"{sf_dir}/events.parquet").df
    arr_h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("arr|"), F.col("event_id").cast("string"))),
            1, 14),
        16, 10,
    ).cast("bigint")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.expr("unix_micros(ts) div 600000000"), arr_h)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    seq = e.select(
        F.expr("unix_micros(ts)").alias("t"),
        F.max(F.expr("unix_micros(ts)")).over(w).alias("hwm"),
    )
    lat = seq.select(
        F.when(
            F.col("hwm").isNull() | (F.col("t") >= F.col("hwm")), 0
        ).otherwise(F.col("hwm") - F.col("t")).alias("late_us")
    )
    return lat.agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.when(F.col("late_us") > 0, 1).otherwise(0))
         .cast("bigint").alias("n_out_of_order"),
        F.sum(F.when(F.col("late_us") > 300000000, 1).otherwise(0))
         .cast("bigint").alias("dropped_at_5m"),
        F.sum(F.when(F.col("late_us") > 900000000, 1).otherwise(0))
         .cast("bigint").alias("dropped_at_15m"),
        F.sum(F.when(F.col("late_us") > 3600000000, 1).otherwise(0))
         .cast("bigint").alias("dropped_at_1h"),
        F.max("late_us").cast("bigint").alias("max_late_us"),
    )


@query(
    "events_mta_linear_credit",
    oracle="""
    WITH conv AS (
      SELECT event_id AS cid, user_id, epoch_us(ts) AS ct,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS val_c
      FROM events WHERE event_type = 'purchase'
    ),
    touch AS (
      SELECT event_id AS tid, user_id, epoch_us(ts) AS tt, event_type
      FROM events WHERE event_type != 'purchase'
    ),
    tw AS (
      SELECT c.cid, c.val_c, t.event_type,
             -- tid NULLS LAST pinned: Spark ASC defaults NULLS FIRST,
             -- DuckDB NULLS LAST — a real touch row with NULL
             -- event_id tying on tt would otherwise take a different
             -- rk (and remainder cent) per engine (r10 ADVICE; same
             -- seam as the stream_windowed_topk_users ties fix)
             row_number() OVER (
               PARTITION BY c.cid ORDER BY t.tt, t.tid NULLS LAST) AS rk,
             count(*) OVER (PARTITION BY c.cid) AS n_touch
      FROM conv c JOIN touch t
        ON c.user_id = t.user_id
       AND t.tt < c.ct AND t.tt > c.ct - 604800000000
    ),
    credited AS (
      SELECT event_type,
             val_c // n_touch
               + CASE WHEN rk <= val_c % n_touch THEN 1 ELSE 0 END
               AS credit_c
      FROM tw
    ),
    direct AS (
      SELECT 'direct' AS event_type, val_c AS credit_c
      FROM conv WHERE cid NOT IN (SELECT DISTINCT cid FROM tw)
    )
    SELECT event_type, count(*) AS n_credits,
           CAST(sum(credit_c) AS BIGINT) AS credit_c
    FROM (SELECT * FROM credited UNION ALL SELECT * FROM direct)
    GROUP BY event_type
    """,
)
def events_mta_linear_credit(spark, sf_dir):
    """MULTI-TOUCH ATTRIBUTION, linear model — every touchpoint in
    the 7 days before a purchase shares the conversion value EQUALLY,
    the ad-tech credit model between the two single-touch extremes
    events_attribution pins (first/last). Exactness is the point:
    each conversion's cents split as val div n plus +1 cent to the
    `val mod n` EARLIEST touches (the largest-remainder allocation
    at per-conversion grain — orders_forecast_reconcile's trick
    reused row-scale), so Σ credited cents == Σ converted cents TO
    THE CENT, with converting-but-untouched purchases flowing to a
    'direct' bucket to keep the books closed. Mechanics: the
    touch-window join rides the user equi-join with the time range
    as residual (hash join, no BNLJ), the rank/count windows
    partition per conversion (bounded by one user's week of events,
    never global), and the report is one census agg over touch
    types. This is the revenue-reconciliation property every
    attribution pipeline is audited on — float credit splits leak
    cents at warehouse scale."""
    from pyspark.sql import Window

    e = io.read_parquet(spark, f"{sf_dir}/events.parquet").df
    conv = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("cid"), F.col("user_id").alias("cu"),
        F.expr("unix_micros(ts)").alias("ct"),
        F.floor(F.col("value") * 100 + F.lit(0.5))
         .cast("bigint").alias("val_c"),
    )
    # `matched` — a non-null literal on every touch row — is the
    # left-join sentinel, NOT tid: a real touch row whose event_id is
    # NULL would otherwise be misclassified as 'direct' (full val_c)
    # and dropped from n_touch, diverging from the oracle's
    # inner+anti form (the corpus emits non-null event_id today, but
    # that is a schema assumption, not a contract)
    touch = e.filter(F.col("event_type") != "purchase").select(
        F.col("event_id").alias("tid"), F.col("user_id").alias("tu"),
        F.expr("unix_micros(ts)").alias("tt"), "event_type",
        F.lit(True).alias("matched"),
    )
    # LEFT join: an unmatched conversion surfaces as its own NULL-touch
    # row and becomes the 'direct' bucket inline — the anti-join form
    # referenced the touch-window join twice and recompiled its events
    # lineage per reference (5 events FileScans in this plan); this
    # form is one pass, two events scans, same books-closed credits
    tw = conv.join(
        touch,
        (F.col("cu") == F.col("tu"))
        & (F.col("tt") < F.col("ct"))
        & (F.col("tt") > F.col("ct") - 604800000000),
        "left",
    )
    # tid asc_nulls_last mirrors the oracle's NULLS LAST pin — the
    # NULL-event_id tie-break seam (see oracle comment)
    wr = Window.partitionBy("cid").orderBy("tt", F.col("tid").asc_nulls_last())
    wc = Window.partitionBy("cid")
    credited = tw.select(
        "cid", "val_c", "event_type", "matched",
        F.row_number().over(wr).alias("rk"),
        F.count("matched").over(wc).alias("n_touch"),
    ).select(
        F.when(F.col("matched").isNull(), F.lit("direct"))
         .otherwise(F.col("event_type")).alias("event_type"),
        F.when(F.col("matched").isNull(), F.col("val_c")).otherwise(
            F.expr("val_c div n_touch")
            + F.when(F.col("rk") <= F.col("val_c") % F.col("n_touch"), 1)
               .otherwise(0)
        ).alias("credit_c"),
    )
    return credited.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_credits"),
        F.sum("credit_c").cast("bigint").alias("credit_c"),
    )


@query(
    "events_mta_time_decay",
    oracle="""
    WITH conv AS (
      SELECT event_id AS cid, user_id, epoch_us(ts) AS ct,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS val_c
      FROM events WHERE event_type = 'purchase'
    ),
    touch AS (
      SELECT event_id AS tid, user_id, epoch_us(ts) AS tt, event_type
      FROM events WHERE event_type != 'purchase'
    ),
    tw AS (
      SELECT c.cid, c.val_c, t.event_type, t.tt, t.tid,
             (1::BIGINT << CAST(6 - (c.ct - t.tt) // 86400000000 AS INT))
               AS w
      FROM conv c JOIN touch t
        ON c.user_id = t.user_id
       AND t.tt < c.ct AND t.tt > c.ct - 604800000000
    ),
    ws AS (
      SELECT cid, val_c, event_type, w,
             sum(w) OVER (PARTITION BY cid) AS wsum,
             row_number() OVER (
               PARTITION BY cid ORDER BY w DESC, tt DESC, tid) AS rk
      FROM tw
    ),
    credited AS (
      SELECT event_type,
             CAST(val_c::HUGEINT * w // wsum AS BIGINT)
               + CASE WHEN rk <= val_c
                        - CAST(sum(val_c::HUGEINT * w // wsum)
                               OVER (PARTITION BY cid) AS BIGINT)
                      THEN 1 ELSE 0 END AS credit_c
      FROM ws
    )
    SELECT event_type, count(*) AS n_credits,
           CAST(sum(credit_c) AS BIGINT) AS credit_c
    FROM credited GROUP BY event_type
    """,
)
def events_mta_time_decay(spark, sf_dir):
    """TIME-DECAY multi-touch attribution — recent touches earn
    exponentially more credit (half-life 1 day), completing the
    attribution model family: first/last (events_attribution),
    linear (events_mta_linear_credit), and now decay. The
    exponential is EXACT because ages quantize to whole days inside
    the 7-day window, so the weight is a power of two (1 << (6 -
    age_days)) — no exp(), no floats — and each conversion's cents
    allocate by weight share with the largest-remainder residual
    going to the heaviest-weight touches (weight desc, recency,
    id tie-break), so Σ credited == Σ floor-shares + residual ==
    conversion value to the cent per conversion. Same
    one-hash-join + per-conversion-window shape as the linear
    model; the weight-share products lift to HUGEINT/DECIMAL before
    the integral divide. Conversions with no in-window touches keep
    their value (no row — they are the linear query's 'direct'
    bucket; the two reports compose)."""
    from pyspark.sql import Window

    e = io.read_parquet(spark, f"{sf_dir}/events.parquet").df
    conv = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("cid"), F.col("user_id").alias("cu"),
        F.expr("unix_micros(ts)").alias("ct"),
        F.floor(F.col("value") * 100 + F.lit(0.5))
         .cast("bigint").alias("val_c"),
    )
    touch = e.filter(F.col("event_type") != "purchase").select(
        F.col("event_id").alias("tid"), F.col("user_id").alias("tu"),
        F.expr("unix_micros(ts)").alias("tt"), "event_type",
    )
    tw = conv.join(
        touch,
        (F.col("cu") == F.col("tu"))
        & (F.col("tt") < F.col("ct"))
        & (F.col("tt") > F.col("ct") - 604800000000),
    ).select(
        "cid", "val_c", "event_type", "tt", "tid",
        F.expr(
            "shiftleft(CAST(1 AS BIGINT),"
            " CAST(6 - (ct - tt) div 86400000000 AS INT))"
        ).alias("w"),
    )
    wsum = Window.partitionBy("cid")
    wr = Window.partitionBy("cid").orderBy(
        F.desc("w"), F.desc("tt"), "tid"
    )
    ws = tw.select(
        "cid", "val_c", "event_type", "w",
        F.sum("w").over(wsum).alias("wsum"),
        F.row_number().over(wr).alias("rk"),
    )
    base = F.expr(
        "CAST(CAST(val_c AS DECIMAL(38,0)) * w div wsum AS BIGINT)"
    )
    credited = ws.select(
        "event_type", "rk", "val_c",
        base.alias("b"),
        F.sum(base).over(wsum).alias("bsum"),
    ).select(
        "event_type",
        (F.col("b") + F.when(
            F.col("rk") <= F.col("val_c") - F.col("bsum"), 1
        ).otherwise(0)).alias("credit_c"),
    )
    return credited.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_credits"),
        F.sum("credit_c").cast("bigint").alias("credit_c"),
    )


@query(
    "orders_npv_by_priority",
    oracle="""
    WITH yr AS (
      SELECT o_orderpriority,
             year(CAST(o_orderdate AS DATE))
               - (SELECT min(year(CAST(o_orderdate AS DATE))) FROM orders)
               AS t,
             CAST(sum(floor(o_totalprice * 100 + 0.5)) AS BIGINT) AS cf_c
      FROM orders GROUP BY 1, 2
    )
    SELECT o_orderpriority,
           count(*) AS n_years,
           CAST(sum(cf_c) AS BIGINT) AS undiscounted_c,
           CAST(sum(cf_c::HUGEINT
                    * CAST(pow(10, t) AS HUGEINT)
                    // CAST(pow(11, t) AS HUGEINT)) AS BIGINT) AS npv_c
    FROM yr GROUP BY o_orderpriority
    """,
)
def orders_npv_by_priority(spark, sf_dir):
    """NET PRESENT VALUE — discounted cash flow with the discount
    factor as an EXACT RATIONAL: at a 10%% rate, 1/(1.1)^t is
    (10/11)^t, so each year's cash flow discounts as cf·10^t div
    11^t — integer powers, one truncating divide per term, no
    float pow, no compounding drift (the same year-bucket exactness
    trick as the amortization fold, applied to valuation instead of
    scheduling). Per priority class: the undiscounted total
    alongside the NPV, t measured from the corpus's first year
    (bounded 0..6 here; 11^t fits HUGEINT/DECIMAL far past any
    realistic horizon — 11^30 < 10^32). One year-bucket hash-agg +
    one bounded per-class agg; pow(10,t)/pow(11,t) evaluate on
    INTEGER arguments where both engines are exact (DuckDB pow
    returns a double, but doubles represent every integer below
    2^53 exactly and 11^7 = 1.9e7 is nowhere close)."""
    o = io.read_parquet(spark, f"{sf_dir}/orders.parquet").df
    base_yr = o.agg(
        F.expr("min(year(CAST(o_orderdate AS DATE)))").alias("y0")
    )
    yr = (
        o.crossJoin(F.broadcast(base_yr))
        .groupBy(
            "o_orderpriority",
            F.expr("year(CAST(o_orderdate AS DATE)) - y0").alias("t"),
        )
        .agg(
            F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)))
            .cast("bigint").alias("cf_c")
        )
    )
    return yr.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_years"),
        F.sum("cf_c").cast("bigint").alias("undiscounted_c"),
        F.expr(
            "CAST(sum(CAST(cf_c AS DECIMAL(38,0))"
            " * CAST(pow(10, t) AS DECIMAL(38,0))"
            " div CAST(pow(11, t) AS DECIMAL(38,0))) AS BIGINT)"
        ).alias("npv_c"),
    )
