"""Geospatial workloads — the missing class in the registry: a
grid-cell-blocked radius join, a map-tile rollup, and a broadcast
nearest-facility 1-NN, all on deterministic integer coordinates.

There is no geo column in the corpus, so every query derives a
point per entity from md5 of its key (the calibration-run pattern of
``events_ab_test_lift``): ``x = md5('g<table-tag>x|'||key) % 10000`` (and ``y`` likewise;
the tag is salted per table so equal keys in different tables land on
different points) — a 10 000 × 10 000 integer grid both
engines reproduce bit-for-bit. Distances are SQUARED EUCLIDEAN in
exact BIGINT arithmetic (no sqrt, no trig — cross-engine float
transcendentals can't hash-match; on a real lon/lat corpus the same
plans run over projected integer coordinates, e.g. scaled Web
Mercator).

Scale design (the point of the class):

* ``geo_radius_join`` is the textbook grid spatial join: cell size =
  radius, the BUILD side (suppliers) explodes to its 3×3 neighbor
  cells, the PROBE side (customers) carries its single home cell, and
  one hash equi-join on cell_id + a residual distance predicate
  replaces the BNLJ cross product. Cost is Σ_cell |S_nbhd|·|C_cell| —
  never |S|·|C|. Each true pair meets on exactly one cell (the probe's
  home cell), so no post-join dedup is needed.
* ``geo_tile_rollup`` is the map-tile aggregation every dashboard
  needs: points → fixed-resolution cells → one hash aggregation,
  rolled up to the coarser zoom level with ROLLUP (partial aggs
  map-side combine; nothing global).
* ``geo_nearest_facility`` is 1-NN against a SMALL facility table:
  broadcast the facilities and scan the big side once (exactly the
  plan a 1000-executor cluster wants — zero shuffle of the big side;
  the grid join would miss customers whose nearest facility is beyond
  one ring). Ties broken by the widened-slot composite key
  ``d2 * 10^7 + s_suppkey`` (slot > max suppkey at any tested SF, the
  ADVICE-hardened argmax pattern).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..sources import io
from . import query

_G = 10_000          # grid extent per axis
_R = 600             # radius (grid units) for the radius join
_CELLS = _G // _R + 1  # cells per axis at cell size _R


def _xy_spark(key_col: str, tag: str):
    """Deterministic grid coordinate from an integer key (Spark side)."""
    return (
        F.expr(
            f"CAST(conv(substring(md5(concat('g{tag}', '|', "
            f"CAST({key_col} AS STRING))), 1, 14), 16, 10) AS BIGINT)"
        )
        % _G
    )


def _xy_sql(key_expr: str, tag: str) -> str:
    return (
        f"CAST(concat('0x', substr(md5('g{tag}' || '|' || "
        f"CAST({key_expr} AS VARCHAR)), 1, 14)) AS BIGINT) % {_G}"
    )


@query(
    "geo_radius_join",
    headline=True,
    oracle=f"""
    WITH c AS (
      SELECT c_custkey,
             {_xy_sql('c_custkey', 'cx')} AS cx,
             {_xy_sql('c_custkey', 'cy')} AS cy
      FROM customer
    ),
    s AS (
      SELECT s_suppkey,
             {_xy_sql('s_suppkey', 'sx')} AS sx,
             {_xy_sql('s_suppkey', 'sy')} AS sy
      FROM supplier
    ),
    p AS (
      SELECT s_suppkey,
             (sx - cx) * (sx - cx) + (sy - cy) * (sy - cy) AS d2
      FROM s JOIN c
        ON (sx - cx) * (sx - cx) + (sy - cy) * (sy - cy) <= {_R * _R}
    )
    SELECT s_suppkey,
           count(*) AS n_within,
           min(d2)  AS min_d2,
           CAST(sum(d2) AS BIGINT) AS sum_d2
    FROM p GROUP BY s_suppkey
    """,
)
def geo_radius_join(spark, sf_dir):
    """Radius (distance-within) join WITHOUT a cross product: for each
    supplier, the customers within ``_R`` grid units.

    Blocking: cell size == radius, so any point within distance R of a
    supplier lies in one of the supplier's 3×3 neighboring cells. The
    supplier side explodes ×9 (the small side — facilities), customers
    keep one home cell, and the candidate set is a plain hash
    equi-join on ``cell_id``; the exact squared-distance predicate
    then filters candidates. The oracle runs the INDEPENDENT algorithm
    (a theta join on the raw distance predicate), so the differential
    check proves the blocking loses no pair and duplicates none."""
    cust = io.read_parquet(spark, f"{sf_dir}/customer.parquet").df.select(
        "c_custkey",
        _xy_spark("c_custkey", "cx").alias("cx"),
        _xy_spark("c_custkey", "cy").alias("cy"),
    )
    supp = io.read_parquet(spark, f"{sf_dir}/supplier.parquet").df.select(
        "s_suppkey",
        _xy_spark("s_suppkey", "sx").alias("sx"),
        _xy_spark("s_suppkey", "sy").alias("sy"),
    )
    # probe side: one home cell per customer (exact integer div)
    cust = cust.withColumn(
        "cell", F.expr(f"(cx div {_R}) * {_CELLS} + (cy div {_R})")
    )
    # build side: 3x3 neighborhood (distinct ids by construction)
    ring = F.expr(
        "explode(flatten(transform(sequence(-1, 1), dx -> "
        "transform(sequence(-1, 1), dy -> struct(dx, dy)))))"
    )
    supp9 = supp.select("*", ring.alias("nb")).select(
        "s_suppkey", "sx", "sy",
        F.expr(
            f"((sx div {_R}) + nb.dx) * {_CELLS} + ((sy div {_R}) + nb.dy)"
        ).alias("cell"),
    )
    d2 = (F.col("sx") - F.col("cx")) * (F.col("sx") - F.col("cx")) + (
        F.col("sy") - F.col("cy")
    ) * (F.col("sy") - F.col("cy"))
    pairs = (
        supp9.join(cust, "cell")
        .select("s_suppkey", d2.alias("d2"))
        .filter(F.col("d2") <= _R * _R)
    )
    return pairs.groupBy("s_suppkey").agg(
        F.count(F.lit(1)).alias("n_within"),
        F.min("d2").alias("min_d2"),
        F.sum("d2").alias("sum_d2"),
    )


@query(
    "geo_tile_rollup",
    oracle=f"""
    WITH p AS (
      SELECT {_xy_sql('c_custkey', 'cx')} AS x,
             {_xy_sql('c_custkey', 'cy')} AS y,
             CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS bal_c
      FROM customer
    ),
    t AS (
      SELECT x // 2500 AS tile_x4, y // 2500 AS tile_y4,
             x // 625 AS tile_x16, y // 625 AS tile_y16, bal_c
      FROM p
    )
    SELECT tile_x4, tile_y4,
           CASE WHEN GROUPING(tile_x16) = 1 THEN -1 ELSE tile_x16 END
             AS tile_x16,
           CASE WHEN GROUPING(tile_y16) = 1 THEN -1 ELSE tile_y16 END
             AS tile_y16,
           count(*) AS n_points,
           CAST(sum(bal_c) AS BIGINT) AS sum_bal_c
    FROM t
    GROUP BY GROUPING SETS ((tile_x4, tile_y4, tile_x16, tile_y16),
                            (tile_x4, tile_y4))
    """,
)
def geo_tile_rollup(spark, sf_dir):
    """Map-tile aggregation at two zoom levels in ONE pass: points
    binned to 16×16 fine tiles and 4×4 coarse tiles, aggregated with
    GROUPING SETS (coarse row = fine tiles' parent; sentinel -1 marks
    the rollup level, the ``rollup_orders`` convention). Pure integer
    binning — one hash aggregation, map-side partials, nothing
    global."""
    p = io.read_parquet(spark, f"{sf_dir}/customer.parquet").df.select(
        _xy_spark("c_custkey", "cx").alias("x"),
        _xy_spark("c_custkey", "cy").alias("y"),
        F.floor(F.col("c_acctbal") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("bal_c"),
    )
    t = p.select(
        F.expr("x div 2500").alias("tile_x4"),
        F.expr("y div 2500").alias("tile_y4"),
        F.expr("x div 625").alias("tile_x16"),
        F.expr("y div 625").alias("tile_y16"),
        "bal_c",
    )
    g = t.groupingSets(
        [["tile_x4", "tile_y4", "tile_x16", "tile_y16"],
         ["tile_x4", "tile_y4"]],
        "tile_x4", "tile_y4", "tile_x16", "tile_y16",
    ).agg(
        F.count(F.lit(1)).alias("n_points"),
        F.sum("bal_c").alias("sum_bal_c"),
    )
    return g.select(
        "tile_x4", "tile_y4",
        F.coalesce("tile_x16", F.lit(-1)).alias("tile_x16"),
        F.coalesce("tile_y16", F.lit(-1)).alias("tile_y16"),
        "n_points", "sum_bal_c",
    )


@query(
    "geo_nearest_facility",
    oracle=f"""
    WITH c AS (
      SELECT c_custkey,
             {_xy_sql('c_custkey', 'cx')} AS cx,
             {_xy_sql('c_custkey', 'cy')} AS cy
      FROM customer
    ),
    s AS (
      SELECT s_suppkey,
             {_xy_sql('s_suppkey', 'sx')} AS sx,
             {_xy_sql('s_suppkey', 'sy')} AS sy
      FROM supplier
    ),
    d AS (
      SELECT c_custkey,
             ((sx - cx) * (sx - cx) + (sy - cy) * (sy - cy)) * 10000000
               + s_suppkey AS slot
      FROM c, s
    )
    SELECT c_custkey,
           min(slot) % 10000000 AS nearest_supp,
           min(slot) // 10000000 AS d2
    FROM d GROUP BY c_custkey
    """,
)
def geo_nearest_facility(spark, sf_dir):
    """Exact 1-NN against a small facility table: BROADCAST the
    suppliers and scan customers once — the only plan that stays exact
    for customers whose nearest facility is outside any fixed blocking
    ring, and the plan you want at 100 TB (zero shuffle of the big
    side; |facilities| is thousands, |customers| is billions). The
    argmin is a widened-slot ``min(d2 * 10^7 + suppkey)`` so the
    nearest id and its distance come out of ONE aggregate with
    deterministic suppkey tie-breaking (slot multiplier > max suppkey;
    max d2 = 2·10⁸ keeps the slot < 2·10¹⁵, well inside BIGINT)."""
    cust = io.read_parquet(spark, f"{sf_dir}/customer.parquet").df.select(
        "c_custkey",
        _xy_spark("c_custkey", "cx").alias("cx"),
        _xy_spark("c_custkey", "cy").alias("cy"),
    )
    supp = io.read_parquet(spark, f"{sf_dir}/supplier.parquet").df.select(
        "s_suppkey",
        _xy_spark("s_suppkey", "sx").alias("sx"),
        _xy_spark("s_suppkey", "sy").alias("sy"),
    )
    d2 = (F.col("sx") - F.col("cx")) * (F.col("sx") - F.col("cx")) + (
        F.col("sy") - F.col("cy")
    ) * (F.col("sy") - F.col("cy"))
    slot = d2 * F.lit(10_000_000) + F.col("s_suppkey")
    d = cust.crossJoin(F.broadcast(supp)).select(
        "c_custkey", slot.alias("slot")
    )
    return d.groupBy("c_custkey").agg(
        (F.min("slot") % 10_000_000).alias("nearest_supp"),
        F.expr("min(slot) div 10000000").alias("d2"),
    )


@query(
    "geo_dbscan_clusters",
    oracle=f"""
    WITH RECURSIVE c AS MATERIALIZED (
      SELECT c_custkey AS id,
             {_xy_sql('c_custkey', 'cx')} AS x,
             {_xy_sql('c_custkey', 'cy')} AS y
      FROM customer
    ),
    prm AS (SELECT 63700000 // count(*) AS eps2 FROM c),
    p AS MATERIALIZED (
      SELECT a.id AS a, b.id AS b
      FROM c a JOIN c b ON a.id != b.id, prm
      WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
            <= prm.eps2
    ),
    deg AS MATERIALIZED (
      SELECT a AS id, count(*)::BIGINT AS n FROM p GROUP BY a
    ),
    core AS MATERIALIZED (SELECT id FROM deg WHERE n >= 3),
    ce AS MATERIALIZED (
      SELECT p.a AS src, p.b AS dst FROM p
      JOIN core ka ON p.a = ka.id JOIN core kb ON p.b = kb.id
    ),
    reach(id, comp) AS (
      SELECT id, id FROM core
      UNION
      SELECT ce.dst, reach.comp FROM reach JOIN ce ON reach.id = ce.src
    ),
    lab AS MATERIALIZED (
      SELECT id, min(comp) AS comp FROM reach GROUP BY id
    ),
    border AS (
      SELECT p.a AS id, min(lab.comp) AS comp
      FROM p JOIN lab ON p.b = lab.id
      WHERE p.a NOT IN (SELECT id FROM core)
      GROUP BY p.a
    )
    SELECT comp AS cluster,
           count(CASE WHEN kind = 'c' THEN 1 END)::BIGINT AS n_core,
           count(CASE WHEN kind = 'b' THEN 1 END)::BIGINT AS n_border
    FROM (
      SELECT comp, 'c' AS kind FROM lab
      UNION ALL SELECT comp, 'b' FROM border
    ) GROUP BY comp
    """,
)
def geo_dbscan_clusters(spark, sf_dir):
    """DBSCAN spatial clustering as pure dataflow — the density-based
    clusterer (Ester et al. 1996, public) k-means can't replace when
    clusters are irregular and noise must stay unlabeled: CORE points
    have >= 3 neighbors within eps, clusters are connected components
    of the core-core eps-graph, BORDER points attach to their
    minimum-labeled core neighbor, everything else is noise (absent
    from the output). eps is DENSITY-ADAPTIVE (eps² = 6.37·10⁷ div n,
    targeting ~2 expected neighbors so the core graph stays
    subcritical — probed: max component 106 at every tested SF; a
    fixed eps would go supercritical at 10× density and the component
    structure, not this plan, would be the problem). Plan: the
    directed neighbor pairs come from the geo_radius_join grid
    blocking (ring explode × home cell, each ordered pair meets
    once — degree counting needs no dedup); components via the
    O(log n) large/small-star contraction (graph_cc_twophase's
    machinery, pinned per round by fixpoint); border attachment is
    one join + min. The oracle replays the raw theta join + recursive
    reachability — independent candidate generation AND independent
    component algorithm."""
    from ..core import DataBag
    from ..plans.cache import pin
    from ..plans.iterate import fixpoint
    from .graph import _large_star, _ls_orient, _small_star

    cust = io.read_parquet(spark, f"{sf_dir}/customer.parquet").df.select(
        F.col("c_custkey").alias("id"),
        _xy_spark("c_custkey", "cx").alias("x"),
        _xy_spark("c_custkey", "cy").alias("y"),
    )
    # zero customers (empty partition): ANSI div raises — NULL params
    # over an already-empty point set (the crossJoin emits no rows)
    prm = cust.agg(
        F.expr(
            "CASE WHEN count(*) = 0 THEN CAST(NULL AS BIGINT)"
            " ELSE 63700000 div count(*) END"
        ).alias("eps2"),
        F.expr(
            "CASE WHEN count(*) = 0 THEN CAST(NULL AS BIGINT)"
            " ELSE CAST(ceil(sqrt(CAST(63700000 div count(*) AS DOUBLE)))"
            " AS BIGINT) END"
        ).alias("cell"),
    )
    pts = pin(cust.crossJoin(F.broadcast(prm)))
    ring = F.expr(
        "explode(flatten(transform(sequence(-1, 1), dx -> "
        "transform(sequence(-1, 1), dy -> struct(dx, dy)))))"
    )
    # 33 cells per axis is an upper bound at the smallest eps (cell
    # >= 66 -> <= 152 cells); any unique pairing constant > cells works
    a = pts.select("*", ring.alias("nb")).select(
        F.col("id").alias("a"), F.col("x").alias("ax"),
        F.col("y").alias("ay"), "eps2",
        F.expr("((x div cell) + nb.dx) * 1000 + ((y div cell) + nb.dy)")
          .alias("gcell"),
    )
    b = pts.select(
        F.col("id").alias("b"), F.col("x").alias("bx"),
        F.col("y").alias("by"),
        F.expr("(x div cell) * 1000 + (y div cell)").alias("gcell"),
    )
    d2 = (F.col("ax") - F.col("bx")) * (F.col("ax") - F.col("bx")) + (
        F.col("ay") - F.col("by")
    ) * (F.col("ay") - F.col("by"))
    pairs = pin(
        a.join(b, "gcell")
        .filter((F.col("a") != F.col("b")) & (d2 <= F.col("eps2")))
        .select("a", "b")
    )
    deg = pairs.groupBy("a").agg(F.count(F.lit(1)).alias("n"))
    core = pin(deg.filter(F.col("n") >= 3).select(F.col("a").alias("id")))
    ca = core.select(F.col("id").alias("a"))
    cb = core.select(F.col("id").alias("b"))
    ce = pairs.join(ca, "a").join(cb, "b").select(
        F.col("a").alias("src"), F.col("b").alias("dst")
    )
    e0 = _ls_orient(ce)
    star = fixpoint(
        DataBag(e0), lambda bag: DataBag(_small_star(_large_star(bag.df))),
        max_iter=12,
    ).df
    lab = core.join(
        star.select(F.col("src").alias("id"), F.col("dst").alias("parent")),
        "id", "left",
    ).select("id", F.coalesce("parent", "id").alias("comp"))
    border = (
        pairs.join(core.withColumnRenamed("id", "a"), "a", "left_anti")
        .join(lab.select(F.col("id").alias("b"), "comp"), "b")
        .groupBy("a")
        .agg(F.min("comp").alias("comp"))
    )
    both = lab.select("comp", F.lit("c").alias("kind")).unionByName(
        border.select("comp", F.lit("b").alias("kind"))
    )
    return both.groupBy(F.col("comp").alias("cluster")).agg(
        F.count(F.when(F.col("kind") == "c", 1)).alias("n_core"),
        F.count(F.when(F.col("kind") == "b", 1)).alias("n_border"),
    )


@query(
    "geo_kde_heat_grid",
    oracle=f"""
    WITH p AS (
      SELECT {_xy_sql('c_custkey', 'cx')} AS x,
             {_xy_sql('c_custkey', 'cy')} AS y
      FROM customer
    ),
    centers AS (
      SELECT gx.i AS tile_x, gy.i AS tile_y,
             gx.i * 625 + 312 AS cx, gy.i * 625 + 312 AS cy
      FROM unnest(generate_series(0, 15)) AS gx(i),
           unnest(generate_series(0, 15)) AS gy(i)
    ),
    w AS (
      SELECT c.tile_x, c.tile_y,
             count(*)::BIGINT AS n_within,
             sum(640000 - ((p.x - c.cx) * (p.x - c.cx)
                           + (p.y - c.cy) * (p.y - c.cy)))::BIGINT
               AS density_q
      FROM centers c JOIN p
        ON (p.x - c.cx) * (p.x - c.cx) + (p.y - c.cy) * (p.y - c.cy)
           < 640000
      GROUP BY 1, 2
    )
    SELECT tile_x, tile_y, n_within, density_q FROM w
    """,
)
def geo_kde_heat_grid(spark, sf_dir):
    """KERNEL DENSITY heat grid — the smoothed density map behind
    every 'activity heatmap' (geo_tile_rollup's raw counts are blocky
    and noisy; a kernel spreads each point's mass over bandwidth h):
    for each 16×16 tile CENTER, the EPANECHNIKOV kernel sum
    Σ max(0, h² − d²) over points within h = 800 — the kernel is
    POLYNOMIAL, so unlike a Gaussian the density is exact integer
    arithmetic both engines replay bit-for-bit (the no-transcendental
    rule deciding the kernel choice, as it decided Simpson-vs-entropy
    in text_char_diversity). Blocking: the 256 centers are a literal
    grid (broadcast); candidates meet on an h-cell equi-join exactly
    as geo_radius_join (the oracle again runs the raw theta join —
    independent candidate generation). Overlapping kernels mean a
    point contributes to up to ~(2h/625)² ≈ 9 tiles — the bounded
    fan-out that replaces a per-tile corpus scan."""
    _H2 = 640_000  # h = 800
    cust = io.read_parquet(spark, f"{sf_dir}/customer.parquet").df.select(
        _xy_spark("c_custkey", "cx").alias("x"),
        _xy_spark("c_custkey", "cy").alias("y"),
    )
    centers = (
        spark.range(16)
        .select(F.col("id").cast("bigint").alias("tile_x"))
        .crossJoin(
            spark.range(16).select(F.col("id").cast("bigint").alias("tile_y"))
        )
        .select(
            "tile_x", "tile_y",
            (F.col("tile_x") * 625 + 312).alias("ccx"),
            (F.col("tile_y") * 625 + 312).alias("ccy"),
        )
    )
    # cell size 800 = h: a point within h of a center lies in the
    # center's 3x3 cell ring
    cgrid = centers.select(
        "*",
        F.expr(
            "explode(flatten(transform(sequence(-1, 1), dx ->"
            " transform(sequence(-1, 1), dy -> struct(dx, dy)))))"
        ).alias("nb"),
    ).select(
        "tile_x", "tile_y", "ccx", "ccy",
        F.expr("((ccx div 800) + nb.dx) * 1000 + ((ccy div 800) + nb.dy)")
          .alias("cell"),
    )
    pts = cust.withColumn(
        "cell", F.expr("(x div 800) * 1000 + (y div 800)")
    )
    d2 = (F.col("x") - F.col("ccx")) * (F.col("x") - F.col("ccx")) + (
        F.col("y") - F.col("ccy")
    ) * (F.col("y") - F.col("ccy"))
    return (
        F.broadcast(cgrid)
        .join(pts, "cell")
        .filter(d2 < _H2)
        .groupBy("tile_x", "tile_y")
        .agg(
            F.count(F.lit(1)).alias("n_within"),
            F.sum(F.lit(_H2) - d2).alias("density_q"),
        )
    )
