"""Governance & storage-layout workloads: k-anonymity risk audit,
sample-ratio-mismatch (SRM) guardrail, and a zone-map file-skipping
simulation — the privacy / experiment-integrity / table-layout ops a
production data platform runs beside its queries.

All three are single-pass integer dataflows (no float, no global
sort): risk fractions and chi-square statistics come out as exact ppm
rationals (the ``events_ab_test_lift`` HUGEINT product rule), so the
DuckDB oracle hash-matches bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..sources import io
from . import query

_K = 5  # k-anonymity threshold


@query(
    "dq_k_anonymity",
    oracle=f"""
    WITH qi AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_band
      FROM customer
    ),
    classes AS (
      SELECT c_nationkey, c_mktsegment, bal_band, count(*) AS sz
      FROM qi GROUP BY 1, 2, 3
    )
    SELECT CAST(sum(sz) AS BIGINT) AS n_rows,
           count(*) AS n_classes,
           count(CASE WHEN sz < {_K} THEN 1 END) AS n_unsafe_classes,
           CAST(coalesce(sum(CASE WHEN sz < {_K} THEN sz END), 0)
             AS BIGINT) AS rows_at_risk,
           CAST(coalesce(sum(CASE WHEN sz < {_K} THEN sz END), 0)
                ::HUGEINT * 1000000 // sum(sz) AS BIGINT) AS risk_ppm,
           min(sz) AS min_class_size
    FROM classes
    """,
)
def dq_k_anonymity(spark, sf_dir):
    """K-ANONYMITY audit — the re-identification risk check a training
    corpus or released dataset needs before it leaves the platform: a
    row is k-anonymous iff at least k rows share its quasi-identifier
    tuple (here nation × market segment × $1000 balance band). Two
    hash aggregations, both map-side-combinable: QI tuple → class
    size, then one global roll-up of the risk counters (unsafe classes
    = size < k, rows at risk, exact-ppm risk fraction). Nothing
    global, no join; at 100 TB the QI-class count is bounded by the
    QI domain product, not the row count. Rows in small classes are
    what a suppression/generalization pass would redact — this query
    is the audit that decides whether that pass is needed."""
    c = io.read_parquet(spark, f"{sf_dir}/customer.parquet").df
    classes = c.select(
        "c_nationkey", "c_mktsegment",
        F.floor(F.col("c_acctbal") / 1000.0).cast("bigint").alias("bal_band"),
    ).groupBy("c_nationkey", "c_mktsegment", "bal_band").agg(
        F.count(F.lit(1)).alias("sz")
    )
    unsafe = F.when(F.col("sz") < _K, F.col("sz"))
    return classes.agg(
        F.sum("sz").alias("n_rows"),
        F.count(F.lit(1)).alias("n_classes"),
        F.count(F.when(F.col("sz") < _K, 1)).alias("n_unsafe_classes"),
        F.coalesce(F.sum(unsafe), F.lit(0)).alias("rows_at_risk"),
        F.expr(
            "CAST(CAST(coalesce(sum(CASE WHEN sz < 5 THEN sz END), 0)"
            " AS DECIMAL(38,0)) * 1000000 div sum(sz) AS BIGINT)"
        ).alias("risk_ppm"),
        F.min("sz").alias("min_class_size"),
    )


@query(
    "events_srm_check",
    oracle="""
    WITH u AS (
      SELECT DISTINCT user_id,
             CAST('0x' || substr(md5('ab' || '|'
                    || CAST(user_id AS VARCHAR)), 1, 14) AS BIGINT) % 2
               AS arm
      FROM events WHERE event_type = 'purchase'
    ),
    n AS (
      SELECT count(CASE WHEN arm = 0 THEN 1 END) AS n0,
             count(CASE WHEN arm = 1 THEN 1 END) AS n1
      FROM u
    )
    SELECT n0, n1,
           CAST((n0 - n1)::HUGEINT * (n0 - n1) * 1000000 // (n0 + n1)
                AS BIGINT) AS chi2_ppm,
           CASE WHEN (n0 - n1)::HUGEINT * (n0 - n1) * 1000000
                     // (n0 + n1) > 3841000 THEN 1 ELSE 0 END AS srm_flag
    FROM n
    """,
)
def events_srm_check(spark, sf_dir):
    """SAMPLE-RATIO MISMATCH — the guardrail that must pass before any
    A/B readout (``events_ab_test_lift``'s arms) is trusted: a 50/50
    assignment whose observed unit counts deviate beyond chance means
    the experiment is corrupted (bot filtering, logging loss,
    triggering bugs), and every downstream lift number is garbage.
    Units are DISTINCT users (assignment is per-user, so the test is
    on users, not events — counting events would double-weight heavy
    users). One distinct-aggregate over the same md5 arm hash the
    lift query uses; the 1-dof chi-square against 50/50 collapses to
    (n0-n1)²/(n0+n1), computed as one exact ppm rational and compared
    against the 3.841 (p=0.05) critical value in integer form."""
    e = io.read_parquet(spark, f"{sf_dir}/events.parquet").df
    u = (
        e.filter(F.col("event_type") == "purchase")
        .select("user_id")
        .distinct()
        .select(
            (
                F.expr(
                    "CAST(conv(substring(md5(concat('ab', '|',"
                    " CAST(user_id AS STRING))), 1, 14), 16, 10) AS BIGINT)"
                )
                % 2
            ).alias("arm")
        )
    )
    n = u.agg(
        F.count(F.when(F.col("arm") == 0, 1)).alias("n0"),
        F.count(F.when(F.col("arm") == 1, 1)).alias("n1"),
    )
    # zero enrolled users (day-one empty partition): DuckDB `// 0` is
    # NULL, Spark ANSI `div` raises — row-level CASE (no try_ variant
    # for integer div); the NULL>critical comparison then flags 0 on
    # both engines.
    chi2 = (
        "CASE WHEN n0 + n1 = 0 THEN CAST(NULL AS BIGINT)"
        " ELSE CAST(CAST(n0 - n1 AS DECIMAL(38,0)) * (n0 - n1) * 1000000"
        " div (n0 + n1) AS BIGINT) END"
    )
    return n.select(
        "n0", "n1",
        F.expr(chi2).alias("chi2_ppm"),
        F.expr(f"CASE WHEN {chi2} > 3841000 THEN 1 ELSE 0 END").alias(
            "srm_flag"
        ),
    )


@query(
    "layout_zone_map_pruning",
    oracle="""
    WITH r AS (
      SELECT l_orderkey // 256 AS chunk,
             l_orderkey AS k,
             date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE))
               AS d
      FROM lineitem
    ),
    zm AS (
      SELECT chunk, min(k) AS min_k, max(k) AS max_k,
             min(d) AS min_d, max(d) AS max_d
      FROM r GROUP BY chunk
    ),
    ins AS (
      SELECT count(*) AS n_chunks,
             count(CASE WHEN max_k < 100 OR min_k >= 800 THEN 1 END)
               AS key_skip_n,
             count(CASE WHEN max_d < 9497 OR min_d >= 9557 THEN 1 END)
               AS date_skip_n
      FROM zm
    ),
    bydate AS (
      SELECT count(DISTINCT d // 30) AS n_parts,
             count(DISTINCT CASE WHEN d // 30 < 316 OR d // 30 > 318
                            THEN d // 30 END) AS part_skip_n
      FROM r
    )
    SELECT n_chunks, key_skip_n,
           CAST(key_skip_n::HUGEINT * 1000000 // n_chunks AS BIGINT)
             AS key_skip_ppm,
           date_skip_n,
           CAST(date_skip_n::HUGEINT * 1000000 // n_chunks AS BIGINT)
             AS date_skip_ppm,
           n_parts, part_skip_n
    FROM ins, bydate
    """,
)
def layout_zone_map_pruning(spark, sf_dir):
    """ZONE-MAP FILE SKIPPING simulated from the data itself — the
    Delta/Iceberg/parquet-row-group pruning model, measured instead of
    assumed: chunks of 256 consecutive orderkeys stand in for files of
    an insert-ordered layout; each chunk's min/max of the clustered
    key (l_orderkey) and of an UNCORRELATED column (l_shipdate — corr
    ≈ 0.001 with orderkey in this corpus) are its zone maps. A key
    predicate (orderkey ∈ [100, 800)) skips every chunk whose range
    misses the band — near-total pruning; the same-width date
    predicate (epoch days [9497, 9557) = Jan–Mar 1996) skips almost
    nothing, because every chunk's date range spans the predicate.
    The third section re-partitions BY DATE (30-day partitions — the
    standard date-partitioned table) where the date predicate prunes
    to exactly 3 partitions. This is the query a layout advisor runs
    to decide Z-ORDER/cluster keys: skipping rate is a property of
    data-to-layout correlation, and it quantifies it in one scan +
    one bounded agg (chunk count ≤ keyspace/256, never row count)."""
    li = io.read_parquet(spark, f"{sf_dir}/lineitem.parquet").df
    r = li.select(
        F.expr("l_orderkey div 256").alias("chunk"),
        F.col("l_orderkey").alias("k"),
        F.datediff(
            F.to_date("l_shipdate"), F.lit("1970-01-01").cast("date")
        ).cast("bigint").alias("d"),
    )
    zm = r.groupBy("chunk").agg(
        F.min("k").alias("min_k"), F.max("k").alias("max_k"),
        F.min("d").alias("min_d"), F.max("d").alias("max_d"),
    )
    ins = zm.agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.count(
            F.when((F.col("max_k") < 100) | (F.col("min_k") >= 800), 1)
        ).alias("key_skip_n"),
        F.count(
            F.when((F.col("max_d") < 9497) | (F.col("min_d") >= 9557), 1)
        ).alias("date_skip_n"),
    )
    bydate = r.select(F.expr("d div 30").alias("p")).agg(
        F.countDistinct("p").alias("n_parts"),
        F.countDistinct(
            F.when((F.col("p") < 316) | (F.col("p") > 318), F.col("p"))
        ).alias("part_skip_n"),
    )
    return ins.crossJoin(bydate).select(
        "n_chunks", "key_skip_n",
        F.expr(
            "CASE WHEN n_chunks = 0 THEN CAST(NULL AS BIGINT)"
            " ELSE CAST(CAST(key_skip_n AS DECIMAL(38,0)) * 1000000"
            " div n_chunks AS BIGINT) END"
        ).alias("key_skip_ppm"),
        "date_skip_n",
        F.expr(
            "CASE WHEN n_chunks = 0 THEN CAST(NULL AS BIGINT)"
            " ELSE CAST(CAST(date_skip_n AS DECIMAL(38,0)) * 1000000"
            " div n_chunks AS BIGINT) END"
        ).alias("date_skip_ppm"),
        "n_parts", "part_skip_n",
    )


@query(
    "dq_freshness_completeness",
    oracle="""
    WITH g AS (SELECT max(ts) AS gmax FROM events),
    per AS (
      SELECT event_type, max(ts) AS tmax,
             epoch_us(time_bucket(INTERVAL 1 DAY, max(ts))) // 86400000000
               AS last_day
      FROM events GROUP BY event_type
    ),
    days AS (
      SELECT event_type,
             epoch_us(time_bucket(INTERVAL 1 DAY, ts)) // 86400000000 AS day,
             count(*)::BIGINT AS n
      FROM events GROUP BY 1, 2
    ),
    trail AS (
      SELECT d.event_type,
             sum(CASE WHEN d.day = p.last_day THEN d.n END) AS last_n,
             sum(CASE WHEN d.day BETWEEN p.last_day - 7 AND p.last_day - 1
                 THEN d.n END) AS trail_n,
             count(CASE WHEN d.day BETWEEN p.last_day - 7 AND p.last_day - 1
                   THEN 1 END) AS trail_days
      FROM days d JOIN per p ON d.event_type = p.event_type
      GROUP BY 1
    )
    SELECT p.event_type,
           (epoch_us(g.gmax) - epoch_us(p.tmax)) // 60000000
             AS freshness_lag_min,
           CAST(t.last_n AS BIGINT) AS last_n,
           CAST(t.trail_n AS BIGINT) AS trail_n, t.trail_days,
           CAST(t.last_n::HUGEINT * t.trail_days * 1000000 // t.trail_n
                AS BIGINT) AS completeness_ppm
    FROM per p JOIN trail t ON p.event_type = t.event_type, g
    """,
)
def dq_freshness_completeness(spark, sf_dir):
    """PIPELINE-HEALTH monitor — the two numbers every ingest dashboard
    alerts on, per source (event type): FRESHNESS (minutes between
    this source's newest record and the newest record anywhere — a
    stalled upstream shows as a growing lag) and COMPLETENESS (the
    last full day's volume against its own trailing 7-day mean, as an
    exact ppm ratio — a silent partial load shows as a ratio far from
    10⁶ even when the pipeline 'succeeded'). One scan → per-(type,
    day) hash-agg; the trailing comparison is a bounded conditional
    agg over the day table (≤ types·days rows), no window, no second
    scan. Integer end to end: epoch-microsecond truncating division
    for the lag, cross-multiplied HUGEINT rational for the ratio."""
    e = io.read_parquet(spark, f"{sf_dir}/events.parquet").df
    sec_day = F.expr("unix_micros(ts) div 86400000000")
    g = e.agg(F.max("ts").alias("gmax"))
    per = e.groupBy("event_type").agg(
        F.max("ts").alias("tmax"),
        F.max(sec_day).alias("last_day"),
    )
    days = e.groupBy(
        "event_type", sec_day.alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    trail = (
        days.join(per.select("event_type", "last_day"), "event_type")
        .groupBy("event_type")
        .agg(
            F.sum(F.when(F.col("day") == F.col("last_day"), F.col("n")))
            .alias("last_n"),
            F.sum(
                F.when(
                    (F.col("day") >= F.col("last_day") - 7)
                    & (F.col("day") <= F.col("last_day") - 1),
                    F.col("n"),
                )
            ).alias("trail_n"),
            F.count(
                F.when(
                    (F.col("day") >= F.col("last_day") - 7)
                    & (F.col("day") <= F.col("last_day") - 1),
                    1,
                )
            ).alias("trail_days"),
        )
    )
    return (
        per.join(trail, "event_type")
        .crossJoin(F.broadcast(g))
        .select(
            "event_type",
            F.expr(
                "(unix_micros(gmax) - unix_micros(tmax)) div 60000000"
            ).alias("freshness_lag_min"),
            "last_n", "trail_n", "trail_days",
            F.expr(
                "CAST(CAST(last_n AS DECIMAL(38,0)) * trail_days * 1000000"
                " div trail_n AS BIGINT)"
            ).alias("completeness_ppm"),
        )
    )


@query(
    "events_experiment_scorecard",
    oracle="""
    WITH ev AS (
      SELECT user_id,
             CAST('0x' || substr(md5('ab' || '|'
                    || CAST(user_id AS VARCHAR)), 1, 14) AS BIGINT) % 2
               AS arm,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
      FROM events WHERE event_type = 'purchase'
    ),
    users AS (
      SELECT arm, count(DISTINCT user_id) AS nu FROM ev GROUP BY arm
    ),
    srm AS (
      -- coalesce: an arm with ZERO users has no row in `users`, so a
      -- bare sum() would be NULL where the Spark side's conditional
      -- count is 0 (r9 constant-series fuzz find — unreachable on
      -- corpora where the md5 hash populates both arms)
      SELECT coalesce(sum(CASE WHEN arm = 0 THEN nu END), 0) AS u0,
             coalesce(sum(CASE WHEN arm = 1 THEN nu END), 0) AS u1
      FROM users
    ),
    m AS (
      SELECT count(CASE WHEN arm = 0 THEN 1 END)::HUGEINT AS n0,
             count(CASE WHEN arm = 1 THEN 1 END)::HUGEINT AS n1,
             sum(CASE WHEN arm = 0 THEN v END)::HUGEINT AS s0,
             sum(CASE WHEN arm = 1 THEN v END)::HUGEINT AS s1,
             count(*)::HUGEINT AS n, sum(v)::HUGEINT AS s,
             sum(v::HUGEINT * v)::HUGEINT AS ss
      FROM ev
    )
    SELECT CAST(srm.u0 AS BIGINT) AS users_a,
           CAST(srm.u1 AS BIGINT) AS users_b,
           CAST((srm.u0 - srm.u1)::HUGEINT * (srm.u0 - srm.u1) * 1000000
                // (srm.u0 + srm.u1) AS BIGINT) AS srm_chi2_ppm,
           CASE WHEN (srm.u0 - srm.u1)::HUGEINT * (srm.u0 - srm.u1)
                     * 1000000 // (srm.u0 + srm.u1) > 3841000
                THEN 1 ELSE 0 END AS srm_flag,
           CAST(m.s1 * m.n0 * 1000000 // (m.s0 * m.n1) AS BIGINT)
             AS lift_ppm,
           CAST(floor(2.8024 * sqrt(2.0
                  * CAST((m.n * m.ss - m.s * m.s) // (m.n * m.n) AS BIGINT)
                  / CAST(least(m.n0, m.n1) AS BIGINT))
                / CAST(m.s // m.n AS BIGINT) * 100000000 + 0.5) AS BIGINT)
             AS mde_rel_ppm_c2
    FROM srm, m
    """,
)
def events_experiment_scorecard(spark, sf_dir):
    """The A/B EXPERIMENT SCORECARD — one row, one scan, the three
    numbers a readout meeting actually opens with, each already
    verified as its own query and here certified as a COMPOSITION:
    the SRM guardrail on distinct users (events_srm_check — if this
    flags, stop reading), the mean-ratio lift in exact ppm
    (events_ab_test_lift), and the relative MDE AT THE CURRENT arm
    size (events_power_analysis_mde's formula with n = the smaller
    arm) — the line that says whether the observed lift is even
    resolvable yet. One conditional aggregation over the filtered
    scan plus a distinct-user agg; every statistic an exact integer
    rational except the single quantized sqrt the MDE needs."""
    e = io.read_parquet(spark, f"{sf_dir}/events.parquet").df
    dec = "DECIMAL(38,0)"
    ev = e.filter(F.col("event_type") == "purchase").select(
        "user_id",
        (
            F.expr(
                "CAST(conv(substring(md5(concat('ab', '|',"
                " CAST(user_id AS STRING))), 1, 14), 16, 10) AS BIGINT)"
            )
            % 2
        ).alias("arm"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("v"),
    )
    srm = (
        ev.select("user_id", "arm")
        .distinct()
        .agg(
            F.count(F.when(F.col("arm") == 0, 1)).cast(dec).alias("u0"),
            F.count(F.when(F.col("arm") == 1, 1)).cast(dec).alias("u1"),
        )
    )
    m = ev.agg(
        F.count(F.when(F.col("arm") == 0, 1)).cast(dec).alias("n0"),
        F.count(F.when(F.col("arm") == 1, 1)).cast(dec).alias("n1"),
        # lift INSIDE the aggregate: a LONG sum overflows at 100 TB row
        # counts even for everyday cent values
        F.sum(F.when(F.col("arm") == 0, F.col("v").cast(dec))).alias("s0"),
        F.sum(F.when(F.col("arm") == 1, F.col("v").cast(dec))).alias("s1"),
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum(F.col("v").cast(dec)).alias("s"),
        # cast BEFORE the square: LONG v*v overflows per-row at ~3e9 cents
        F.sum(F.col("v").cast(dec) * F.col("v").cast(dec)).alias("ss"),
    )
    # Zero-denominator guards: Spark's `div`/`/` CRASH under
    # ANSI on a non-NULL numerator over 0 where DuckDB's `//`/`/`
    # return NULL — reachable here on degenerate corpora (no purchase
    # events -> u0+u1 = 0; an all-zero arm -> s0 = 0 or mean 0). A
    # row-level CASE short-circuits (only CASE around an AGGREGATE
    # doesn't), and try_divide == DuckDB `/` on zero divisors.
    chi2 = ("CAST(CASE WHEN u0 + u1 = 0 THEN NULL ELSE"
            " (u0 - u1) * (u0 - u1) * 1000000 div (u0 + u1) END AS BIGINT)")
    return srm.crossJoin(m).select(
        F.col("u0").cast("bigint").alias("users_a"),
        F.col("u1").cast("bigint").alias("users_b"),
        F.expr(chi2).alias("srm_chi2_ppm"),
        F.expr(f"CASE WHEN {chi2} > 3841000 THEN 1 ELSE 0 END").alias(
            "srm_flag"
        ),
        F.expr(
            "CAST(CASE WHEN s0 * n1 = 0 THEN NULL ELSE"
            " s1 * n0 * 1000000 div (s0 * n1) END AS BIGINT)"
        ).alias("lift_ppm"),
        F.expr(
            "CAST(floor(try_divide(2.8024 * sqrt(try_divide(2.0"
            " * CAST((n * ss - s * s) div (n * n) AS BIGINT),"
            " CAST(least(n0, n1) AS BIGINT))),"
            " CAST(s div n AS BIGINT)) * 100000000 + 0.5) AS BIGINT)"
        ).alias("mde_rel_ppm_c2"),
    )
