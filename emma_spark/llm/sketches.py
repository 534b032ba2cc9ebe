"""Deterministic distributed sketches: Count-Min, Bloom, and HLL.

All sketches are built from the portable 56-bit md5 hash
(:func:`emma_spark.llm.text.md5_long`), so every engine — and every
partitioning of the same engine — produces the SAME sketch bit-for-bit
and an ANSI-SQL oracle can replay estimates exactly. That is the same
portability contract as the KMV sketch (text.kmv_distinct_estimate).
ENGINE-NATIVE register layouts (Spark's ``approx_count_distinct``,
DuckDB's ``approx_count_distinct``) are implementation-defined and can
never be cross-checked — which is why the HLL here derives its
register/rank table from md5 explicitly instead of calling the
built-in: same estimator, portable bits.

Reference anchor: the reference ships fold-based aggregation algebra
(``emma-language/.../api/alg/Alg.scala``) but no sketches; these are
the 100 TB training-data-pipeline additions (count frequencies and
membership at corpus scale without a per-key shuffle of the raw data).

Scale design:
- Build is ONE shuffle of (row, bucket) pairs — d×|input| rows map-side
  reduced to at most d·w sketch cells; w and d are constants, so the
  sketch itself is broadcast-sized no matter how big the corpus.
- Estimate joins the probe keys against the d·w-cell sketch — a
  broadcast hash join, no shuffle of the probe side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .text import md5_long


def _md5_hex(col, salt: str):
    """One md5 per key; derived structures slice its hex digits."""
    return F.md5(
        F.encode(F.concat(F.lit(salt), F.lit("|"), col.cast("string")), "utf-8")
    )


def _hex_slice_long(hexcol, start: int, length: int):
    """Hex substring → non-negative bigint (≤ 14 hex digits = 56 bits)."""
    return F.conv(F.substring(hexcol, start, length), 16, 10).cast("bigint")


def countmin_build(
    df: DataFrame,
    key_col: str,
    d: int = 4,
    w: int = 512,
    weight_col: str | None = None,
) -> DataFrame:
    """Count-Min sketch of key frequencies: ``d`` hash rows × ``w``
    buckets. Returns (row, bucket, cnt) — at most d·w rows.

    Row i's bucket is an 8-hex-digit (32-bit) SLICE of one
    ``md5('cm|'||key)`` — d buckets from a single hash computation
    (md5's 128 bits are plenty for 4×32; per-row salted hashes would
    cost d md5s per input row, and hashing dominates the build's CPU
    at corpus scale). The build explodes the d (row, bucket) pairs
    map-side and hash-aggregates — partial combine keeps the shuffle
    at d·w cells per map task regardless of input size.

    ``weight_col`` builds the identical sketch from a PRE-AGGREGATED
    (key, weight) table — cell = Σ weight instead of Σ 1. When the
    caller already owns a key-count aggregate, this moves the md5
    work from one-per-instance to one-per-DISTINCT-key (the dominant
    build cost on a heavy-tailed corpus) without changing a single
    cell value. Weights are an INTEGER contract: the column is cast
    to BIGINT row-side (fractional weights would silently change
    countmin_estimate's min() arithmetic type and its NULL behavior),
    so a fractional weight is truncated — pre-scale to integer units
    (e.g. cents, ppm) before passing a fractional measure."""
    hexh = _md5_hex(F.col(key_col), "cm")
    # weights must land as non-null BIGINT: double/decimal weights would
    # silently change countmin_estimate's min() arithmetic type, and an
    # all-NULL cell would return NULL where the count path returns a
    # number — cast row-side, coalesce NULL weight to 0
    wcol = (
        F.coalesce(F.col(weight_col).cast("bigint"), F.lit(0).cast("bigint"))
        if weight_col
        else F.lit(1).cast("bigint")
    )
    pairs = [
        F.struct(
            F.lit(i).alias("row"),
            (_hex_slice_long(hexh, 1 + 8 * i, 8) % w).alias("bucket"),
        )
        for i in range(d)
    ]
    return (
        df.select(wcol.alias("__w"), F.explode(F.array(*pairs)).alias("__p"))
        .select("__w", "__p.*")
        .groupBy("row", "bucket")
        .agg(F.sum("__w").alias("cnt"))
    )


def countmin_estimate(
    cms: DataFrame, probes: DataFrame, key_col: str, d: int = 4, w: int = 512
) -> DataFrame:
    """Point-frequency estimates: est(key) = min over rows i of the
    key's bucket count. Always ≥ the true count (collisions only ever
    add); equality when no collision in at least one row. The sketch
    side is d·w rows — broadcast, so the probe side never shuffles."""
    hexh = _md5_hex(F.col(key_col), "cm")
    pairs = [
        F.struct(
            F.lit(i).alias("row"),
            (_hex_slice_long(hexh, 1 + 8 * i, 8) % w).alias("bucket"),
        )
        for i in range(d)
    ]
    exploded = probes.select(
        F.col(key_col), F.explode(F.array(*pairs)).alias("__p")
    ).select(key_col, "__p.*")
    return (
        exploded.join(F.broadcast(cms), ["row", "bucket"], "left")
        .groupBy(key_col)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est"))
    )


def bloom_build(df: DataFrame, key_col: str, m: int = 8192, k: int = 3) -> DataFrame:
    """Bloom filter as a DISTINCT set of set bit positions (≤ m rows,
    one per set bit): position_j(key) = 10-hex-digit slice j of ONE
    ``md5('bf|'||key)``, % m — k positions from a single hash (same
    hash-economy as countmin_build). A position table instead of a
    packed bitmap keeps the structure relational (joinable,
    SQL-replayable) while carrying identical information; at m=8192 it
    is broadcast-sized."""
    hexh = _md5_hex(F.col(key_col), "bf")
    pos = [
        (_hex_slice_long(hexh, 1 + 10 * j, 10) % m).alias("pos") for j in range(k)
    ]
    return (
        df.select(F.explode(F.array(*pos)).alias("pos")).distinct()
    )


def hll_register_table(
    df: DataFrame, group_col: str, key_col: str, p: int = 9
) -> DataFrame:
    """HyperLogLog register table per group: (group, register, max_rank).

    The 56-bit md5 hash splits into a ``p``-bit register index (low
    bits, ``h % 2^p``) and a ``W = 56-p``-bit remainder; the rank is
    the position of the remainder's highest set bit counted from the
    top (``W+1`` when the remainder is 0) — computed with ``bin()``
    string length, an exact integer op on both engines (no log2, whose
    last-ulp behavior is libm-specific). One hash-agg shuffle of at
    most m·|groups| cells regardless of input size — the register
    table IS the mergeable sketch (max is the merge op).
    """
    m = 1 << p
    w = 56 - p
    h = md5_long(F.col(key_col).cast("string"), salt="hll")
    # NULL keys contribute NOTHING to a distinct count — the SQL
    # count(DISTINCT ...) convention this sketch estimates. Unfiltered,
    # a NULL key makes a NULL-register row here while DuckDB's
    # NULL-ignoring concat() hashes the bare salt into a REAL register
    # (one phantom distinct) — both wrong, differently (the events
    # fuzz tier's NULL user_ids).
    base = df.filter(F.col(key_col).isNotNull()).select(
        F.col(group_col), h.alias("__h")
    )
    return (
        base.select(
            group_col,
            F.pmod(F.col("__h"), F.lit(m)).alias("register"),
            F.expr(f"__h div {m}").alias("__rem"),
        )
        .select(
            group_col,
            "register",
            F.when(F.col("__rem") == 0, F.lit(w + 1))
            .otherwise(F.lit(w + 1) - F.length(F.bin(F.col("__rem"))))
            .alias("rank"),
        )
        .groupBy(group_col, "register")
        .agg(F.max("rank").alias("max_rank"))
    )


def hll_estimate(registers: DataFrame, group_col: str, p: int = 9) -> DataFrame:
    """Raw HLL estimate per group from a register table — EXACT integer
    arithmetic end to end, so a SQL oracle reproduces the estimate
    bit-for-bit.

    The harmonic sum Σ 2^(-M_j) is scaled by 2^S (S = max rank =
    56-p+1): used registers contribute ``1 << (S - max_rank)``, the
    (m - n_used) empty registers contribute ``1 << S`` each — all
    exact bigints. α_m = 0.7213/(1 + 1.079/m) enters as the rational
    7213·m / (10000·m + 10790), and the final divide is integral on
    DECIMAL(38,0) (numerator α_num·m²·2^S ≈ 2.7e26 overflows bigint;
    DuckDB mirrors with HUGEINT ``//``). No small-range linear-counting
    correction: it needs ln(), which is not cross-engine-stable — the
    raw estimator is biased below ~2.5m distinct but identically so on
    every engine."""
    m = 1 << p
    s = 56 - p + 1
    K = 7213 * m**3 * (1 << s)
    den = 10000 * m + 10790
    z = registers.groupBy(group_col).agg(
        F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {s} - max_rank)")).alias("__zu"),
        F.count(F.lit(1)).alias("n_used"),
    )
    zs = f"CAST(__zu + ({m} - n_used) * shiftleft(CAST(1 AS BIGINT), {s}) AS DECIMAL(38,0))"
    return z.select(
        group_col,
        "n_used",
        F.expr(
            f"CAST(CAST('{K}' AS DECIMAL(38,0)) div "
            f"(CAST({den} AS DECIMAL(38,0)) * {zs}) AS BIGINT)"
        ).alias("est_distinct"),
    )


def bloom_contains(
    bloom: DataFrame, probes: DataFrame, key_col: str, m: int = 8192, k: int = 3
) -> DataFrame:
    """Membership probe: maybe-present iff ALL k positions are set
    (count of matched positions == k). No false negatives; false
    positives at the classic (1-e^{-kn/m})^k rate. Broadcast join
    against the ≤ m-row position set; probe side stays partitioned."""
    hexh = _md5_hex(F.col(key_col), "bf")
    pos = [
        (_hex_slice_long(hexh, 1 + 10 * j, 10) % m).alias("pos") for j in range(k)
    ]
    exploded = probes.select(F.col(key_col), F.explode(F.array(*pos)).alias("pos"))
    hit = F.lit(1)
    return (
        exploded.join(F.broadcast(bloom.withColumn("__set", hit)), ["pos"], "left")
        .groupBy(key_col)
        .agg((F.count(F.col("__set")) == k).alias("maybe_present"))
    )


def binned_quantiles(
    df: DataFrame, value_col: str, qs: list[float], bins: int = 128
) -> DataFrame:
    """Approximate quantiles from an equi-width histogram — the
    bounded-state quantile sketch: ONE aggregation pass to ≤ ``bins``
    cells regardless of input size (map-side combined), then the
    quantile read-off over those ≤ ``bins`` rows. The t-digest/KLL
    alternative with a portability guarantee: every step is integer
    arithmetic on an INTEGER value column (quantize floats first), so
    a SQL oracle reproduces the approximation exactly — real sketch
    libraries' merge order changes their output, this never does.

    Returns (q_pct, approx) — approx is the upper edge of the first
    bin whose cumulative count reaches ceil(q·n). Error ≤ one bin
    width = (max-min+1)/bins. The cumulative window runs over ≤ bins
    rows (constant, broadcast-scale) — bounded by construction, not by
    data size."""
    from pyspark.sql import Window

    v = F.col(value_col)
    mm = df.agg(
        F.min(v).alias("__lo"),
        F.max(v).alias("__hi"),
        F.count(v).alias("__n"),
    )
    binned = (
        df.crossJoin(F.broadcast(mm))
        .select(
            F.expr(
                f"CAST(({value_col} - __lo) * {bins} div (__hi - __lo + 1) AS INT)"
            ).alias("bin"),
            "__lo", "__hi", "__n",
        )
        .groupBy("bin", "__lo", "__hi", "__n")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # unpinned: 7 orders scans at sf0.001, median ×0.98 sf0.1 / ×0.98 sf1
    from ..plans.cache import pin

    binned = pin(binned)
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = binned.withColumn("cum", F.sum("cnt").over(w))
    out = None
    for q in qs:
        pct = int(round(q * 100))
        # rank = ceil(n·pct/100) in pure integers: (n·pct + 99) div 100
        hit = (
            cum.filter(F.col("cum") >= F.expr(f"(__n * {pct} + 99) div 100"))
            .orderBy("bin")
            .limit(1)
            .select(
                F.lit(pct).alias("q_pct"),
                F.expr(
                    f"__lo + ((bin + 1) * (__hi - __lo + 1)) div {bins}"
                ).alias("approx"),
            )
        )
        out = hit if out is None else out.unionByName(hit)
    return out
