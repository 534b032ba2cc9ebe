"""Sketch workloads: Count-Min frequency estimation and Bloom
membership over the corpus tables, each with an exact-replay SQL
oracle (the sketches are md5-derived, so DuckDB reproduces every
bucket and bit — see llm/sketches.py's portability contract)."""

from __future__ import annotations

from pyspark.sql import functions as F

from ..llm import sketches as SK
from ..llm.text import tokens
from ..sources import io
from . import query
from .text import SQL_TOKS, sql_md5_long

_CM_D, _CM_W = 4, 512
_BF_M, _BF_K = 8192, 3


def _sql_cm_bucket(row_expr: str, key_expr: str) -> str:
    # row i's bucket = 8-hex-digit slice i of ONE md5('cm|'||key)
    # (llm/sketches._hex_slice_long): substr position 1 + 8*i
    return (
        f"CAST(concat('0x', substr(md5(concat('cm', '|', {key_expr})), "
        f"1 + 8 * ({row_expr}), 8)) AS BIGINT) % {_CM_W}"
    )


def _sql_bf_pos(j_expr: str, key_expr: str) -> str:
    # position j = 10-hex-digit slice j of ONE md5('bf|'||key)
    return (
        f"CAST(concat('0x', substr(md5(concat('bf', '|', {key_expr})), "
        f"1 + 10 * ({j_expr}), 10)) AS BIGINT) % {_BF_M}"
    )


@query(
    "sketch_countmin_tokens",
    oracle=f"""
    WITH toks AS (
      SELECT unnest({SQL_TOKS}) AS token FROM documents
    ), rows_ AS (SELECT unnest([0, 1, 2, 3]) AS row),
    cms AS (
      SELECT row, bucket, count(*) AS cnt FROM (
        SELECT r.row AS row, {_sql_cm_bucket("r.row", "t.token")} AS bucket
        FROM toks t CROSS JOIN rows_ r
      ) GROUP BY row, bucket
    ),
    exact AS (
      SELECT token, count(*) AS exact FROM toks
      GROUP BY token HAVING count(*) >= 50
    ),
    est AS (
      SELECT e.token, min(coalesce(c.cnt, 0)) AS est
      FROM exact e CROSS JOIN rows_ r
      LEFT JOIN cms c
        ON c.row = r.row AND c.bucket = {_sql_cm_bucket("r.row", "e.token")}
      GROUP BY e.token
    )
    SELECT est.token, est.est, exact.exact
    FROM est JOIN exact ON est.token = exact.token
    """,
    headline=True,
)
def sketch_countmin_tokens(spark, sf_dir):
    """Count-Min sketch of corpus token frequencies (d=4 × w=512)
    next to the exact counts for the heavy tokens (≥ 50 occurrences):
    est ≥ exact always, equal when some row is collision-free. The
    sketch build is one d·w-cell shuffle regardless of corpus size;
    the probe join broadcasts the sketch (llm/sketches.py)."""
    from ..plans.cache import pin

    docs = io.read_parquet(spark, f"{sf_dir}/documents.parquet").df
    toks = docs.select(F.explode(tokens(F.col("text"))).alias("token"))
    # ONE scan+tokenization: the (token, count) aggregate is tiny
    # (|vocab| rows) and feeds the sketch build (weighted — identical
    # cells, md5 per distinct token instead of per instance), the
    # heavy-token probe set, and the ground-truth column. Unpinned,
    # Catalyst re-derives it from the corpus THREE times.
    counts = pin(
        toks.groupBy("token").agg(F.count(F.lit(1)).alias("exact"))
    )
    cms = SK.countmin_build(counts, "token", d=_CM_D, w=_CM_W, weight_col="exact")
    exact = counts.filter(F.col("exact") >= 50)
    est = SK.countmin_estimate(
        cms, exact.select("token"), "token", d=_CM_D, w=_CM_W
    )
    return est.join(exact, "token").select("token", "est", "exact")


@query(
    "sketch_bloom_membership",
    oracle=f"""
    WITH js AS (SELECT unnest([0, 1, 2]) AS j),
    bits AS (
      SELECT DISTINCT {_sql_bf_pos("j.j", "CAST(o.o_custkey AS VARCHAR)")} AS pos
      FROM orders o CROSS JOIN js j
    ),
    probes AS (SELECT c_custkey * 3 AS probe_key FROM customer),
    hits AS (
      SELECT p.probe_key, count(b.pos) AS nhit
      FROM probes p CROSS JOIN js j
      LEFT JOIN bits b
        ON b.pos = {_sql_bf_pos("j.j", "CAST(p.probe_key AS VARCHAR)")}
      GROUP BY p.probe_key
    )
    SELECT h.probe_key, h.nhit = {_BF_K} AS maybe_present,
           EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = h.probe_key)
             AS actually_present
    FROM hits h
    """,
)
def sketch_bloom_membership(spark, sf_dir):
    """Bloom-filter membership (m=8192, k=3) of order custkeys, probed
    with c_custkey·3 (≈⅓ true members) and laid next to ground truth:
    no false negatives by construction; the false-positive rows are
    the sketch's documented error. Build and probe are both broadcast
    joins against the ≤ m-row bit set — the orders side is the only
    scan at scale."""
    t = io.load_tables(spark, sf_dir, "orders", "customer")
    o, c = t["orders"].df, t["customer"].df
    bloom = SK.bloom_build(o.select("o_custkey"), "o_custkey", m=_BF_M, k=_BF_K)
    probes = c.select((F.col("c_custkey") * 3).alias("probe_key"))
    got = SK.bloom_contains(bloom, probes, "probe_key", m=_BF_M, k=_BF_K)
    members = o.select(F.col("o_custkey").alias("probe_key")).distinct()
    return (
        got.join(
            members.withColumn("__m", F.lit(1)), ["probe_key"], "left"
        )
        .select(
            "probe_key",
            F.col("maybe_present"),
            F.col("__m").isNotNull().alias("actually_present"),
        )
    )


_HLL_P = 9  # m = 512 registers


def _sql_hll(key_expr: str, group_expr: str, src: str) -> str:
    """Register/rank/estimate replay for the md5-derived HLL: identical
    integer math to llm/sketches.hll_register_table + hll_estimate."""
    m = 1 << _HLL_P
    w = 56 - _HLL_P
    s = w + 1
    k = 7213 * m**3 * (1 << s)
    den = 10000 * m + 10790
    h = sql_md5_long(f"concat('hll', '|', {key_expr})")
    # WHERE key IS NOT NULL mirrors llm/sketches.hll_register_table:
    # NULL keys are invisible to a distinct count (without it DuckDB's
    # NULL-ignoring concat() hashes the bare salt — a phantom distinct)
    return f"""
    hashed AS (
      SELECT {group_expr} AS grp, {h} AS hh FROM {src}
      WHERE {key_expr} IS NOT NULL
    ), regs AS (
      SELECT grp, hh % {m} AS register,
             CASE WHEN hh // {m} = 0 THEN {s}
                  ELSE {s} - length(bin(hh // {m})) END AS rank
      FROM hashed
    ), mx AS (
      SELECT grp, register, max(rank) AS max_rank
      FROM regs GROUP BY grp, register
    ), z AS (
      SELECT grp,
             sum((1::BIGINT << ({s} - max_rank))::HUGEINT) AS zu,
             count(*) AS n_used
      FROM mx GROUP BY grp
    ), est AS (
      SELECT grp, n_used,
             CAST(CAST('{k}' AS HUGEINT) //
                  ({den}::HUGEINT * (zu + ({m} - n_used) * (1::BIGINT << {s})::HUGEINT))
                  AS BIGINT) AS est_distinct
      FROM z
    )"""


@query(
    "sketch_hll_distinct",
    oracle=f"""
    WITH {_sql_hll("CAST(l_partkey AS VARCHAR)", "l_returnflag", "lineitem")}
    SELECT e.grp AS l_returnflag, e.n_used, e.est_distinct, x.exact_distinct
    FROM est e JOIN (
      SELECT l_returnflag, count(DISTINCT l_partkey) AS exact_distinct
      FROM lineitem GROUP BY l_returnflag
    ) x ON e.grp = x.l_returnflag
    """,
)
def sketch_hll_distinct(spark, sf_dir):
    """HyperLogLog distinct-count (llm/sketches.hll_register_table +
    hll_estimate; p=9, m=512) per return flag, next to the exact count
    and the KMV cousin (sketch_kmv_distinct): the industry-standard
    cardinality sketch made engine-portable — md5-derived registers,
    bin()-length ranks, exact-integer harmonic sum, DECIMAL/HUGEINT
    integral divide, so DuckDB reproduces the ESTIMATE bit-for-bit
    (engine-native approx_count_distinct register layouts cannot be
    cross-checked; this can). Build is one hash-agg to ≤ m·|groups|
    register cells, merge = MAX — the canonical 100 TB distinct-count
    plan."""
    li = io.read_parquet(spark, f"{sf_dir}/lineitem.parquet").df
    regs = SK.hll_register_table(li, "l_returnflag", "l_partkey", p=_HLL_P)
    est = SK.hll_estimate(regs, "l_returnflag", p=_HLL_P)
    exact = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("exact_distinct")
    )
    return est.join(exact, "l_returnflag").select(
        "l_returnflag", "n_used", "est_distinct", "exact_distinct"
    )


_QB_BINS = 128


@query(
    "sketch_quantile_bins",
    oracle=f"""
    WITH pc AS (
      SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS c
      FROM orders WHERE o_totalprice IS NOT NULL
    ), mm AS (
      SELECT min(c) AS lo, max(c) AS hi, count(*) AS n FROM pc
    ), binned AS (
      SELECT (pc.c - mm.lo) * {_QB_BINS} // (mm.hi - mm.lo + 1) AS bin,
             count(*) AS cnt
      FROM pc CROSS JOIN mm GROUP BY 1
    ), cum AS (
      SELECT bin, sum(cnt) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cum
      FROM binned
    ), qs AS (SELECT unnest([50, 90, 99]) AS q_pct),
    hit AS (
      SELECT q.q_pct, min(c.bin) AS bin
      FROM qs q CROSS JOIN mm
      JOIN cum c ON c.cum >= (mm.n * q.q_pct + 99) // 100
      GROUP BY q.q_pct
    ), exact AS (
      SELECT 50 AS q_pct,
             CAST(floor(quantile_cont(c, 0.50) * 10000 + 0.5) AS BIGINT)
               AS exact_interp FROM pc
      UNION ALL
      SELECT 90, CAST(floor(quantile_cont(c, 0.90) * 10000 + 0.5) AS BIGINT)
      FROM pc
      UNION ALL
      SELECT 99, CAST(floor(quantile_cont(c, 0.99) * 10000 + 0.5) AS BIGINT)
      FROM pc
    )
    SELECT h.q_pct,
           mm.lo + ((h.bin + 1) * (mm.hi - mm.lo + 1)) // {_QB_BINS} AS approx,
           e.exact_interp
    FROM hit h CROSS JOIN mm JOIN exact e ON e.q_pct = h.q_pct
    """,
)
def sketch_quantile_bins(spark, sf_dir):
    """Bounded-state quantile sketch (llm/sketches.binned_quantiles):
    p50/p90/p99 of order value read off a 128-bin equi-width histogram
    — ONE hash-agg to ≤128 cells no matter the row count, vs the
    per-group sort exact percentiles need. Integer arithmetic end to
    end (bin assignment, ceil-rank, bin-edge read-off all integer
    div), so the oracle reproduces the approximation exactly —
    t-digest/KLL merge orders change their answers, this never does.
    Error ≤ one bin width by construction. The exact interpolated
    percentile (Spark ``percentile`` ≡ DuckDB ``quantile_cont``, 4dp
    quantized) rides along as ground truth."""
    o = io.read_parquet(spark, f"{sf_dir}/orders.parquet").df
    pc = o.filter(F.col("o_totalprice").isNotNull()).select(
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint").alias("c")
    )
    approx = SK.binned_quantiles(pc, "c", qs=[0.5, 0.9, 0.99], bins=_QB_BINS)
    exact = pc.agg(
        *[
            F.floor(F.percentile(F.col("c"), q) * 10000 + F.lit(0.5))
            .cast("bigint")
            .alias(f"e{int(q * 100)}")
            for q in (0.5, 0.9, 0.99)
        ]
    )
    unp = exact.unpivot([], ["e50", "e90", "e99"], "qn", "exact_interp").select(
        F.substring("qn", 2, 3).cast("int").alias("q_pct"), "exact_interp"
    )
    return approx.join(unp, "q_pct").select("q_pct", "approx", "exact_interp")


@query(
    "sketch_quantile_bins_grouped",
    oracle=f"""
    WITH pc AS (
      SELECT o_orderpriority AS grp,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS c
      FROM orders WHERE o_totalprice IS NOT NULL
    ), mm AS (
      SELECT grp, min(c) AS lo, max(c) AS hi, count(*) AS n
      FROM pc GROUP BY grp
    ), binned AS (
      SELECT pc.grp, (pc.c - mm.lo) * {_QB_BINS} // (mm.hi - mm.lo + 1) AS bin,
             count(*) AS cnt
      FROM pc JOIN mm ON pc.grp = mm.grp GROUP BY 1, 2
    ), cum AS (
      SELECT grp, bin,
             sum(cnt) OVER (PARTITION BY grp ORDER BY bin
                            ROWS UNBOUNDED PRECEDING) AS cum
      FROM binned
    ), qs AS (SELECT unnest([50, 90]) AS q_pct),
    hit AS (
      SELECT c.grp, q.q_pct, min(c.bin) AS bin
      FROM qs q
      JOIN mm ON true
      JOIN cum c ON c.grp = mm.grp AND c.cum >= (mm.n * q.q_pct + 99) // 100
      GROUP BY c.grp, q.q_pct
    )
    SELECT h.grp AS o_orderpriority, h.q_pct,
           mm.lo + ((h.bin + 1) * (mm.hi - mm.lo + 1)) // {_QB_BINS} AS approx
    FROM hit h JOIN mm ON h.grp = mm.grp
    """,
)
def sketch_quantile_bins_grouped(spark, sf_dir):
    """PER-GROUP binned quantiles: the equi-width quantile sketch
    generalized to grouped data with NOTHING global — per-group
    min/max/count broadcast back, per-(group,bin) hash-agg (≤ B cells
    per group), cumulative window PARTITIONED by group over ≤ B rows,
    per-group read-off via a min(bin) aggregate. The grouped
    percentile plan that scales where exact per-group percentiles
    (one sort per group) do not; same exact-integer arithmetic as
    sketch_quantile_bins, so the oracle replays it bit-for-bit."""
    from pyspark.sql import Window

    o = io.read_parquet(spark, f"{sf_dir}/orders.parquet").df
    pc = o.filter(F.col("o_totalprice").isNotNull()).select(
        F.col("o_orderpriority").alias("grp"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint").alias("c"),
    )
    mm = pc.groupBy("grp").agg(
        F.min("c").alias("lo"), F.max("c").alias("hi"), F.count("c").alias("n")
    )
    binned = (
        pc.join(F.broadcast(mm), "grp")
        .select(
            "grp", "lo", "hi", "n",
            F.expr(f"CAST((c - lo) * {_QB_BINS} div (hi - lo + 1) AS INT)").alias(
                "bin"
            ),
        )
        .groupBy("grp", "lo", "hi", "n", "bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # unpinned: 4 orders scans at sf0.001, median ×0.96 sf0.1 / ×1.01 sf1
    from ..plans.cache import pin

    binned = pin(binned)
    w = (
        Window.partitionBy("grp")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = binned.withColumn("cum", F.sum("cnt").over(w))
    out = None
    for pct in (50, 90):
        hit = (
            cum.filter(F.col("cum") >= F.expr(f"(n * {pct} + 99) div 100"))
            .groupBy("grp", "lo", "hi")
            .agg(F.min("bin").alias("bin"))
            .select(
                F.col("grp").alias("o_orderpriority"),
                F.lit(pct).alias("q_pct"),
                F.expr(
                    f"lo + ((bin + 1) * (hi - lo + 1)) div {_QB_BINS}"
                ).alias("approx"),
            )
        )
        out = hit if out is None else out.unionByName(hit)
    return out


@query(
    "sketch_cms_merge_rollup",
    oracle=f"""
    WITH toks AS (
      SELECT lang, unnest({SQL_TOKS}) AS token FROM documents
    ), rows_ AS (SELECT unnest([0, 1, 2, 3]) AS row),
    per_lang AS (
      SELECT lang, row, bucket, count(*) AS cnt FROM (
        SELECT lang, r.row AS row,
               {_sql_cm_bucket("r.row", "t.token")} AS bucket
        FROM toks t CROSS JOIN rows_ r
      ) GROUP BY 1, 2, 3
    ),
    merged AS (
      SELECT row, bucket, sum(cnt) AS cnt FROM per_lang GROUP BY 1, 2
    ),
    direct AS (
      SELECT row, bucket, count(*) AS cnt FROM (
        SELECT r.row AS row, {_sql_cm_bucket("r.row", "t.token")} AS bucket
        FROM toks t CROSS JOIN rows_ r
      ) GROUP BY 1, 2
    ),
    probe_keys AS (
      SELECT token FROM toks GROUP BY token HAVING count(*) >= 100
    ), rows2 AS (SELECT unnest([0, 1, 2, 3]) AS row),
    est_m AS (
      SELECT k.token, min(coalesce(m.cnt, 0)) AS est_merged
      FROM probe_keys k CROSS JOIN rows2 r
      LEFT JOIN merged m ON m.row = r.row
       AND m.bucket = CAST(concat('0x', substr(md5(concat('cm', '|', k.token)), 1 + 8 * (r.row), 8)) AS BIGINT) % 512
      GROUP BY k.token
    ),
    est_d AS (
      SELECT k.token, min(coalesce(d.cnt, 0)) AS est_direct
      FROM probe_keys k CROSS JOIN rows2 r
      LEFT JOIN direct d ON d.row = r.row
       AND d.bucket = CAST(concat('0x', substr(md5(concat('cm', '|', k.token)), 1 + 8 * (r.row), 8)) AS BIGINT) % 512
      GROUP BY k.token
    ),
    est AS (
      SELECT est_m.token, est_merged, est_direct
      FROM est_m JOIN est_d ON est_m.token = est_d.token
    )
    SELECT token, CAST(est_merged AS BIGINT) AS est_merged,
           CAST(est_direct AS BIGINT) AS est_direct,
           est_merged = est_direct AS merge_exact
    FROM est
    """,
)
def sketch_cms_merge_rollup(spark, sf_dir):
    """Sketch MERGEABILITY — the property that makes sketches the
    100 TB rollup currency: Count-Min sketches built PER LANGUAGE
    merge by CELL-WISE ADDITION into a corpus-level sketch that is
    IDENTICAL to the sketch built directly over everything (both
    computed here; merge_exact is asserted per probe in the output).
    This is what lets a lakehouse store one small sketch per
    partition/day/tenant and answer any rollup combination by summing
    d·w cells instead of re-scanning raw data — the same algebra HLL
    (register max) and Bloom (bit OR) inherit. Plan: per-lang build =
    one hash-agg keyed (lang, row, bucket); merge = a d·w-row agg;
    probes broadcast against both. md5-derived buckets keep every
    cell engine-replayable (the oracle rebuilds both sketches)."""
    from ..plans.cache import pin

    docs = io.read_parquet(spark, f"{sf_dir}/documents.parquet").df
    # unpinned: 4 documents scans at sf0.001, median ×1.08 sf0.1 / ×0.95 sf1
    toks = pin(
        docs.select("lang", F.explode(tokens(F.col("text"))).alias("token"))
    )
    per_lang = (
        toks.select(
            "lang",
            F.explode(
                F.array(*[
                    F.struct(
                        F.lit(i).alias("row"),
                        (SK._hex_slice_long(SK._md5_hex(F.col("token"), "cm"),
                                            1 + 8 * i, 8) % _CM_W).alias("bucket"),
                    )
                    for i in range(_CM_D)
                ])
            ).alias("__p"),
        )
        .select("lang", "__p.*")
        .groupBy("lang", "row", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    merged = per_lang.groupBy("row", "bucket").agg(F.sum("cnt").alias("cnt"))
    direct = SK.countmin_build(toks, "token", d=_CM_D, w=_CM_W)
    probes = (
        toks.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 100).select("token")
    )
    em = SK.countmin_estimate(merged, probes, "token", d=_CM_D, w=_CM_W).select(
        "token", F.col("est").alias("est_merged"))
    ed = SK.countmin_estimate(direct, probes, "token", d=_CM_D, w=_CM_W).select(
        F.col("token").alias("t2"), F.col("est").alias("est_direct"))
    return (
        em.join(ed, em["token"] == ed["t2"])
        .select(
            "token",
            F.col("est_merged").cast("bigint").alias("est_merged"),
            F.col("est_direct").cast("bigint").alias("est_direct"),
            (F.col("est_merged") == F.col("est_direct")).alias("merge_exact"),
        )
    )


@query(
    "sketch_kmv_audience_overlap",
    oracle=f"""
    WITH ua AS (
      SELECT DISTINCT CAST('0x' || substr(md5('kmv' || '|'
               || CAST(user_id AS VARCHAR)), 1, 14) AS BIGINT) AS h
      FROM events WHERE event_type = 'purchase'
    ),
    ub AS (
      SELECT DISTINCT CAST('0x' || substr(md5('kmv' || '|'
               || CAST(user_id AS VARCHAR)), 1, 14) AS BIGINT) AS h
      FROM events WHERE event_type = 'click'
    ),
    ka AS (SELECT h FROM ua ORDER BY h LIMIT 64),
    kb AS (SELECT h FROM ub ORDER BY h LIMIT 64),
    th AS (
      SELECT least((SELECT CASE WHEN count(*) >= 64 THEN max(h)
                           ELSE {1 << 56} END FROM ka),
                   (SELECT CASE WHEN count(*) >= 64 THEN max(h)
                           ELSE {1 << 56} END FROM kb)) AS theta
    ),
    samp AS (
      SELECT count(*)::BIGINT AS n_sample
      FROM ka JOIN kb ON ka.h = kb.h, th
      WHERE ka.h < th.theta
    ),
    exact AS (
      SELECT count(*)::BIGINT AS exact_overlap
      FROM ua JOIN ub ON ua.h = ub.h
    )
    SELECT (SELECT count(*) FROM ua)::BIGINT AS n_a,
           (SELECT count(*) FROM ub)::BIGINT AS n_b,
           th.theta,
           samp.n_sample,
           CAST(samp.n_sample::HUGEINT * {1 << 56} // th.theta AS BIGINT)
             AS est_overlap,
           exact.exact_overlap
    FROM th, samp, exact
    """,
)
def sketch_kmv_audience_overlap(spark, sf_dir):
    """AUDIENCE OVERLAP from two KMV sketches — the theta-sketch
    set-INTERSECTION estimate (Dasgupta et al., the DataSketches
    theta model — public): how many users both purchased AND clicked,
    answered from two k=64 sketches instead of a full distinct join.
    theta = min of the two k-th minima; the intersection SAMPLE is
    the hash-join of the two k-sets below theta (each sketch is a
    uniform sample of its set at rate theta/2^56, so the estimate is
    |sample| * 2^56 div theta — one exact integral divide). The whole
    dataflow after the two distinct-hash aggs touches <= 2k rows;
    at 100 TB the sketches are the only thing that crosses the wire,
    and THIS is the query shape audience platforms run per
    segment-pair (the exact join alongside is the calibration).
    Deterministic md5 hashing makes every value — sample, theta,
    estimate — replayable bit-for-bit on both engines, unlike
    engine-native theta sketches. Estimator quality: relative error
    ~ 1/sqrt(k) per sketch; the driver-checked row IS the
    measurement."""
    from pyspark.sql import Window

    from ..llm.text import md5_long
    from ..plans.cache import pin

    e = io.read_parquet(spark, f"{sf_dir}/events.parquet").df
    K = 64
    FULL = 1 << 56

    def kset(event_type):
        # each distinct hash set fans out to the k-set rank, the exact
        # overlap join, and the cardinality count — PINNED so those
        # branches share one events scan + distinct shuffle instead of
        # recompiling it per reference (this query compiled 10 events
        # FileScans before; the auto-cache used-more-than-once policy)
        return pin(
            e.filter(F.col("event_type") == event_type)
            .select(md5_long(F.col("user_id").cast("string"), salt="kmv")
                    .alias("h"))
            .distinct()
        )

    ua, ub = kset("purchase"), kset("click")
    w = Window.orderBy("h")  # rank window over <= |distinct| hashes;
    # bounded to k rows immediately after — acceptable single-task tail
    # only on the k-set; the distinct agg above carries the real scale
    ka = ua.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= K)
    kb = ub.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= K)

    def theta_of(kdf):
        return kdf.agg(
            F.when(F.count(F.lit(1)) >= K, F.max("h"))
            .otherwise(F.lit(FULL))
            .alias("t")
        )

    th = (
        theta_of(ka).crossJoin(
            theta_of(kb).select(F.col("t").alias("t2"))
        ).select(F.least("t", "t2").alias("theta"))
    )
    samp = (
        ka.select("h").join(kb.select("h"), "h")
        .crossJoin(F.broadcast(th))
        .filter(F.col("h") < F.col("theta"))
        .agg(F.count(F.lit(1)).alias("n_sample"))
    )
    exact = ua.join(ub, "h").agg(F.count(F.lit(1)).alias("exact_overlap"))
    na = ua.agg(F.count(F.lit(1)).alias("n_a"))
    nb = ub.agg(F.count(F.lit(1)).alias("n_b"))
    return (
        na.crossJoin(nb).crossJoin(th).crossJoin(samp).crossJoin(exact)
        .select(
            "n_a", "n_b", "theta", "n_sample",
            F.expr(
                f"CAST(CAST(n_sample AS DECIMAL(38,0)) * {FULL}"
                " div theta AS BIGINT)"
            ).alias("est_overlap"),
            "exact_overlap",
        )
    )


@query(
    "sketch_hll_merge_rollup",
    oracle=f"""
    WITH {_sql_hll("CAST(user_id AS VARCHAR)",
                   "epoch_us(ts) // 86400000000 // 7", "events")}
    SELECT e.grp AS week, e.n_used, e.est_distinct, x.exact_distinct
    FROM est e JOIN (
      SELECT epoch_us(ts) // 86400000000 // 7 AS week,
             count(DISTINCT user_id) AS exact_distinct
      FROM events GROUP BY 1
    ) x ON e.grp = x.week
    """,
)
def sketch_hll_merge_rollup(spark, sf_dir):
    """HLL MERGEABILITY — the property that makes the sketch the
    production distinct-count plan: DAILY register tables roll up to
    WEEKLY unique-user estimates by taking MAX per (week, register),
    never re-touching the raw events (the DAU→WAU→MAU path; the CMS
    twin is sketch_cms_merge_rollup). The Spark side builds the
    two-level plan a warehouse actually runs — per-day registers
    (one hash-agg, ≤ m·days cells), then the ≤ m·weeks merge — while
    the oracle builds each week's registers DIRECTLY from events in
    one pass; the value-hash match IS the associativity proof
    (max-of-daily-maxes ≡ single-pass max), the same recompute-
    equivalence trick as incremental_agg_maintenance. Exact per-week
    distincts ride along so the sketch error is auditable. At 100 TB
    the daily register tables are what you PERSIST (512 cells/day
    here); every further grain — weekly, monthly, arbitrary date
    ranges — is a bounded merge over cells, not a scan over events."""
    e = io.read_parquet(spark, f"{sf_dir}/events.parquet").df
    daily = SK.hll_register_table(
        e.select(
            F.expr("unix_micros(ts) div 86400000000").alias("day"), "user_id"
        ),
        "day", "user_id", p=_HLL_P,
    )
    weekly_regs = (
        daily.select(
            F.expr("day div 7").alias("week"), "register", "max_rank"
        )
        .groupBy("week", "register")
        .agg(F.max("max_rank").alias("max_rank"))
    )
    est = SK.hll_estimate(weekly_regs, "week", p=_HLL_P)
    exact = e.groupBy(
        F.expr("unix_micros(ts) div 86400000000 div 7").alias("week")
    ).agg(F.countDistinct("user_id").alias("exact_distinct"))
    return est.join(exact, "week").select(
        "week", "n_used", "est_distinct", "exact_distinct"
    )
