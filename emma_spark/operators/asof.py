"""As-of join (point-in-time join) — a time-series operator Spark and
the reference both lack, built from union + window (no UDF, no range
explosion).

Semantics: for every left row, attach the most recent right row with
``right.ts <= left.ts`` (optionally within ``tolerance``), per key.

Plan shape: tag both sides, union, ONE shuffle on (key) with a sort on
(ts, side-order); a running ``last(right-payload, ignorenulls)`` window
carries the latest right values forward onto each left row. Cost =
one shuffle + one sort over |L|+|R| — the same as a single sort-merge
join, with no per-row range probe. This beats the naive
``L join R on key and r.ts <= l.ts`` + argmax (which materializes all
matching pairs: quadratic in events-per-key).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    ts: str,
    right_cols: list[str] | None = None,
    tolerance_seconds: float | None = None,
    suffix: str = "_right",
    direction: str = "backward",
) -> DataFrame:
    """Left as-of join. Right payload columns arrive suffixed; rows with
    no matching right row get NULLs (and are filtered by tolerance if
    set).

    ``direction="backward"`` (default) attaches the most recent right
    row with ``right.ts <= left.ts``; ``"forward"`` attaches the
    EARLIEST right row with ``right.ts >= left.ts`` (same plan with the
    sort reversed — still one shuffle + one window pass).

    Ties (equal ts): the right row sorts BEFORE the left row at the
    same timestamp, so an exactly-simultaneous right row matches in
    both directions.

    NULL keys (the events fuzz tier's NULL user_ids): SQL join semantics —
    a right row with a NULL key never matches anything, and a left
    row with a NULL key emits with NULL right payload. This matches
    DuckDB's native ASOF JOIN (`=` equality) and pandas merge_asof;
    without the right-side filter below, the window formulation
    would silently treat NULL as a joinable key (all anonymous rows
    forming one pseudo-entity) because PARTITION BY groups NULLs.
    DataBag.equi_join's eqNullSafe is a deliberate, documented
    reference-parity exception — not the default for new operators.
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction!r}")
    right_cols = right_cols or [c for c in right.columns if c not in (on, ts)]

    lt = left.withColumn("__side", F.lit(1))
    for c in right_cols:
        lt = lt.withColumn(f"{c}{suffix}", F.lit(None).cast(right.schema[c].dataType))
    lt = lt.withColumn(f"__ts{suffix}", F.lit(None).cast(right.schema[ts].dataType))

    rt = right.filter(F.col(on).isNotNull()).select(
        F.col(on),
        F.col(ts),
        F.lit(0).alias("__side"),
        *[F.col(c).alias(f"{c}{suffix}") for c in right_cols],
        F.col(ts).alias(f"__ts{suffix}"),
    )
    for c in left.columns:
        if c not in (on, ts):
            rt = rt.withColumn(c, F.lit(None).cast(left.schema[c].dataType))
    rt = rt.select(*lt.columns)

    u = lt.unionByName(rt)
    ts_order = F.col(ts).asc() if direction == "backward" else F.col(ts).desc()
    w = (
        Window.partitionBy(on)
        .orderBy(ts_order, F.col("__side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = [F.last(f"{c}{suffix}", ignorenulls=True).over(w).alias(f"{c}{suffix}") for c in right_cols]
    carried_ts = F.last(f"__ts{suffix}", ignorenulls=True).over(w).alias(f"__ts{suffix}")

    out = (
        u.select(
            *[c for c in left.columns], "__side",
            *carried, carried_ts,
        )
        .filter(F.col("__side") == 1)
        .drop("__side")
    )
    if tolerance_seconds is not None:
        gap = F.col(ts).cast("double") - F.col(f"__ts{suffix}").cast("double")
        if direction == "forward":
            gap = -gap
        within = gap <= tolerance_seconds
        out = out.select(
            *[c for c in left.columns],
            *[
                F.when(within, F.col(f"{c}{suffix}")).alias(f"{c}{suffix}")
                for c in right_cols
            ],
            F.when(within, F.col(f"__ts{suffix}")).alias(f"__ts{suffix}"),
        )
    return out.withColumnRenamed(f"__ts{suffix}", f"{ts}{suffix}")
