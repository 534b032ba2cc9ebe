"""Workload registry: every SURVEY §2 operator declared as a runnable
query over the driver's TPC-H-ish tables, paired with a DuckDB oracle.

This is the rebuild of the reference's differential test strategy
(``BaseCodegenIntegrationSpec`` — every program executed on the backend
and compared with an un-optimized reference run; SURVEY §5 layer 2):
here the oracle is ANSI SQL on the same parquet, run by the driver
harness at sf0.01.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


def rd(col, dp: int):
    """Cross-engine-stable rounding: floor(x*10^dp + 0.5)/10^dp.

    Unlike ``round()`` (whose half-way/ULP behavior differs between
    engines), every step here is a deterministic IEEE op — identical
    inputs give identical doubles in Spark and DuckDB (mirror:
    :func:`rd_sql`).

    NaN and ±inf pass through unchanged. Spark's ``floor`` returns
    LONG and maps NaN→0 and ±inf→±Long.MaxValue, where DuckDB's floor
    keeps them, so non-finite inputs bypass the quantization
    (``tools/fuzz.py nan``).

    Returns DOUBLE for any input type. Callers quantizing a DECIMAL
    column who need a decimal-typed result must quantize explicitly."""
    from pyspark.sql import functions as F

    s = 10 ** dp
    d = col.cast("double")
    q = F.floor(col * s + F.lit(0.5)) / F.lit(s)
    return F.when(_nonfinite(d), d).otherwise(q).cast("double")


def _nonfinite(d):
    """True for NaN or ±inf; ``d`` must be DOUBLE. ``isnan`` misses
    inf, so equality tests catch it (NaN == x is false in both
    engines)."""
    from pyspark.sql import functions as F

    return (
        F.isnan(d)
        | (d == F.lit(float("inf")))
        | (d == F.lit(float("-inf")))
    )


def rd_sql(expr: str, dp: int) -> str:
    s = 10 ** dp
    return f"floor(({expr}) * {s} + 0.5) / {s}"


def qsum(col, dp: int = 4):
    """Order-independent double sum: quantize each row to 10^-dp units
    (an exact integer v = floor(x·10^dp + 0.5)), sum the integers
    exactly, rescale. The result is the same double in Spark and
    DuckDB (mirror: :func:`qsum_sql`) and under any partitioning or
    row order.

    Exactness: the integer sum is :func:`sum_long_exact` of v, exact
    for up to 2^43 rows per group. Quantization itself is exact while
    |x·10^dp| < 2^53 — a per-value domain bound. The exact sum is
    correctly rounded to double once, then divided by 10^dp, so both
    engines produce the same bits.

    Non-finite values propagate as a DuckDB ``sum`` over them would:
    inf, or NaN when mixed or NaN. The exact sum runs over the finite
    rows only (an aggregate is evaluated whatever CASE surrounds it,
    and floor(inf) = Long.MaxValue would overflow under ANSI), while an
    IEEE sum of the non-finite rows, ``bad``, supplies the propagated
    value. ``bad`` is NULL exactly when the group has no non-finite
    row, so ``coalesce(bad, exact)`` selects between them. NULL rows
    are skipped; an all-NULL group sums to NULL."""
    from pyspark.sql import functions as F

    s = 10 ** dp
    d = col.cast("double")
    nf = _nonfinite(d)
    # quantize from d (the double cast), NOT col: floor() over a
    # DECIMAL input stays in decimal arithmetic, whose division rounds
    # HALF_UP at the result scale — the double path is the exact one
    v = F.floor(F.when(~nf, d) * s + F.lit(0.5))  # LONG
    exact = sum_long_exact(v).cast("double") / F.lit(s)
    bad = F.sum(F.when(nf, d))
    return F.coalesce(bad, exact)


def sum_long_exact(v):
    """Exact DECIMAL(38,0) aggregate sum of an integer column.

    Each value, cast to BIGINT, is split into v = a·2^40 + b·2^20 + c
    with a = v >> 40 (arithmetic shift, so exact for negatives) and
    b, c ∈ [0, 2^20) the next two 20-bit fields. Three LONG sums run
    over the rows and are recombined in DECIMAL(38,0) on the
    one-row-per-group side. Exact for every BIGINT value in groups of
    up to 2^40 rows (Σa, with |a| ≤ 2^23), and up to 2^43 rows when
    |v| ≤ 2^53 as in :func:`qsum` (Σc binds). NULL rows are skipped;
    an all-NULL group sums to NULL.

    Why not ``F.sum(v.cast("decimal(38,0)"))``: the decimal partial
    aggregate accumulates a BigDecimal per row, which costs several
    times the whole scan on a multi-sum aggregate.

    Overflow past the row bound raises only under
    ``spark.sql.ansi.enabled=true`` (Spark 4's default, never disabled
    by this engine); with ANSI off a long sum would wrap silently."""
    from pyspark.sql import functions as F

    # BIGINT first: on an INT, shiftright masks its count to 5 bits
    # (shiftright(-1000000::int, 40) is -3907, not -1)
    v = v.cast("bigint")
    m20 = (1 << 20) - 1
    a = F.shiftright(v, 40)
    b = F.shiftright(v, 20).bitwiseAND(F.lit(m20))
    c = v.bitwiseAND(F.lit(m20))
    dec = "decimal(38,0)"
    return (
        F.sum(a).cast(dec) * F.lit(1 << 40)
        + F.sum(b).cast(dec) * F.lit(1 << 20)
        + F.sum(c).cast(dec)
    )


def qsum_sql(expr: str, dp: int = 4) -> str:
    """DuckDB mirror of :func:`qsum` — the same finite/non-finite
    split and the same HUGEINT (= DECIMAL(38,0)) exact sum. The split
    is not optional on this side either: ``CAST('inf' AS HUGEINT)``
    RAISES in DuckDB, so a bare hugeint-cast sum would turn the
    NaN/inf rows (pinned by the NaN/inf fuzz tier) into a one-sided
    oracle crash."""
    s = 10 ** dp
    x = f"({expr})"
    nf = f"(isinf({x}) OR isnan({x}))"
    bad = f"sum(CASE WHEN {nf} THEN {x} END)"
    exact = (
        f"CAST(sum(CASE WHEN NOT {nf} THEN"
        f" CAST(floor({x} * {s} + 0.5) AS HUGEINT) END) AS DOUBLE) / {s}"
    )
    return f"coalesce({bad}, {exact})"


# Degenerate-group guards for ratio-of-moments aggregates. Under ANSI
# Spark, corr / regr_slope / skewness on a zero-variance (or, for
# corr, single-pair) group raise a job-killing DIVIDE_BY_ZERO, where
# DuckDB returns NULL — and a CASE around the aggregate does NOT help:
# Catalyst evaluates every aggregate referenced anywhere in the
# projection, branch taken or not. The working mechanism is masking
# the INPUT rows with a window-computed group-level predicate BEFORE
# the aggregation: the dangerous groups then aggregate over zero rows
# and return NULL without a division ever executing. The window partitions by the
# same keys as the subsequent groupBy, so the exchange is reused — one
# shuffle total.


def corr_mask(x, y, keys):
    """Window boolean: both inputs have positive variance over the
    PAIR-COMPLETE subset in this group — exactly DuckDB's corr NULL
    boundary (NULL for n=1 or either side constant)."""
    from pyspark.sql import Window, functions as F

    w = Window.partitionBy(*keys)
    return (F.stddev_pop(F.when(y.isNotNull(), x)).over(w) > 0) & (
        F.stddev_pop(F.when(x.isNotNull(), y)).over(w) > 0
    )


def regr_mask(y, x, keys):
    """Window boolean for regr_slope/intercept(y, x): var(x) > 0 over
    the pair-complete rows (a constant y is fine — slope 0)."""
    from pyspark.sql import Window, functions as F

    w = Window.partitionBy(*keys)
    return F.stddev_pop(F.when(y.isNotNull(), x)).over(w) > 0


def skew_mask(q, keys):
    """Window boolean for skewness(q): n >= 3 and var > 0 (matches the
    oracle's CASE pin; constant groups would divide by m2 = 0)."""
    from pyspark.sql import Window, functions as F

    w = Window.partitionBy(*keys)
    return (F.count(q).over(w) >= 3) & (F.stddev_pop(q).over(w) > 0)

REGISTRY: dict[str, "Query"] = {}


@dataclass
class Query:
    name: str
    fn: QueryFn
    oracle: Optional[str]  # ANSI SQL for DuckDB; None -> rows-only check
    headline: bool = False  # include in bench.py


def query(name: str, oracle: str | None = None, headline: bool = False):
    def deco(fn: QueryFn) -> QueryFn:
        REGISTRY[name] = Query(name, fn, oracle, headline)
        return fn

    return deco


# The driver's correctness harness checks the FIRST 50 registry entries
# in load order, and ``_PRIORITY`` leads that window: (a) queries
# whose shared helper changed (one per consumer shape, not every
# consumer, per docs/ROTATION.md); (b) queries whose own source
# changed; (c) never-checked carriers of fuzz-fix code; (d) the other
# never-checked queries in docs/ROTATION.md queue order. Every query
# past position 50 stays verified by tools/diffcheck.py --vanilla.
_PRIORITY = [
    # (a) the qsum LONG-path pin: five representatives of its 17
    # consumers (grouped/global/rollup/join/state shapes, both qsum
    # and qsum_sql) certify it for all of them
    "groupby_agg_pricing", "fold_global", "rollup_orders",
    "q9_profit_by_nation_year", "mutable_bag_update",
    # (b) own-source changes: the MTA NULL-tid tie-break pin and the
    # quarantine_out_of_band adoption (the far-future watermark guard)
    "events_mta_linear_credit", "stream_watermark_append",
    # (c) never-checked carriers of fuzz-fix code, verified locally
    # at three scale factors
    "part_croston_intermittent", "udtf_table_argument",
    # (d) never-checked queries, in docs/ROTATION.md queue order
    "dedup_containment_pairs", "dedup_substring_coverage",
    "dedup_similarity_histogram", "dedup_winnowing_fingerprints",
    "dedup_boilerplate_lines", "dedup_quality_keeper",
    "geo_nearest_facility", "geo_dbscan_clusters", "geo_kde_heat_grid",
    "layout_zone_map_pruning", "graph_pagerank_sf",
    "sql_recursive_cte_closure", "graph_random_walks",
    "graph_walk_skipgram_pairs", "graph_pagerank_weighted",
    "graph_scc_closure", "graph_ktruss", "graph_copurchase_projection",
    "graph_greedy_matching", "graph_degree_distribution",
    "graph_clustering_coefficient", "graph_reciprocity",
    "graph_random_walk_corpus", "graph_temporal_reachability",
    "ml_boosted_stumps", "ml_calibration_bins",
    "ml_pinball_quantile_eval", "ml_bootstrap_ci_poisson",
    "ml_kmeans_elbow", "ml_nearest_centroid_confusion",
    "ml_isotonic_calibration", "ml_cohens_kappa",
    "ml_feature_hash_collision_audit", "ml_lift_gains_bands",
    "ml_gbdt_residual_boost", "ml_als_rank1",
    "multimodal_magic_router", "multimodal_scene_cuts",
    "multimodal_phash_neardup", "io_binaryfile_ingest",
    "pipeline_dataset_fingerprint",
]


def load_all() -> dict[str, Query]:
    """Import all workload modules (side effect: registration), ordered
    so the driver's 50-query window lands on ``_PRIORITY``."""
    from . import (  # noqa: F401
        dedup, geo, governance, graph, ml, multimodal, pipeline,
        relational, similarity, sketches, streaming, text,
    )

    missing = [n for n in _PRIORITY if n not in REGISTRY]
    assert not missing, f"_PRIORITY names unknown queries: {missing}"
    rest = [n for n in REGISTRY if n not in _PRIORITY]
    return {n: REGISTRY[n] for n in [*_PRIORITY, *rest]}
