"""K-Means clustering (Lloyd + Forgy init, multiple restarts).

Reference semantics: ``emma-lib/.../ml/clustering/kMeans.scala:26-95``
— `runs` restarts; per run: centroids = seeded k-sample; `iterations`
of [assign each point to nearest centroid (sqdist), recompute centroid
as mean of its points]; keep the run with minimal total distance.

Spark-first lowering:
- centroids are DRIVER state (k×D doubles — tiny), embedded as literal
  array-of-struct expressions each iteration, so assignment is a pure
  projection: ``array_min(transform(centroid_lits, sqdist))`` — a
  narrow map over the points, no join, no shuffle, no UDF, broadcast
  semantics by construction (the reference's auto-broadcast insertion,
  ``SparkBackend.scala:60-100``, done one level earlier).
- centroid recomputation is posexplode → groupBy(cid, pos) → avg —
  ONE shuffle of k·D keys per iteration with map-side partials.
- points should be cached by the caller (auto-cache policy: loop
  closure bag → cache; ``Caching.scala:57-94``); we cache internally.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..linalg import sqdist, vlit


@dataclass
class KMeansResult:
    assignment: DataFrame  # (id, cid, dist) — lazily recomputable
    centroids: list[tuple[int, list[float]]]  # driver-side model
    total_distance: float
    run: int


def _nearest(vec: Column, centroids: list[tuple[int, list[float]]]) -> Column:
    """struct(dist, cid) of the nearest centroid — min over a literal
    array, ties broken by cid (struct ordering)."""
    cands = F.array(
        *[
            F.struct(sqdist(vec, vlit(pos)).alias("dist"), F.lit(cid).alias("cid"))
            for cid, pos in centroids
        ]
    )
    return F.array_min(cands)


def assign(points: DataFrame, centroids: list[tuple[int, list[float]]],
           id_col: str = "id", vec_col: str = "vec") -> DataFrame:
    """Label each point with its nearest centroid (kMeans.scala:61-65)."""
    near = _nearest(F.col(vec_col), centroids)
    return points.select(
        F.col(id_col), F.col(vec_col),
        near["cid"].alias("cid"), near["dist"].alias("dist"),
    )


def _recompute(assigned: DataFrame, vec_col: str = "vec") -> list[tuple[int, list[float]]]:
    """Mean of member points per centroid (kMeans.scala:67-75):
    posexplode + groupBy(cid, pos).avg — k·D result rows."""
    per = (
        assigned.select("cid", F.posexplode(F.col(vec_col)).alias("pos", "v"))
        .groupBy("cid", "pos")
        .agg(F.avg("v").alias("m"))
        .collect()
    )
    acc: dict[int, dict[int, float]] = {}
    for r in per:
        acc.setdefault(r["cid"], {})[r["pos"]] = r["m"]
    return sorted((cid, [d[p] for p in sorted(d)]) for cid, d in acc.items())


def kmeans(
    points: DataFrame,
    k: int,
    runs: int = 1,
    iterations: int = 20,
    seed: int = 452642543145,
    id_col: str = "id",
    vec_col: str = "vec",
) -> KMeansResult:
    """Full kMeans (kMeans.scala:40-92). Deterministic for a fixed seed
    and input multiset (init sample = bottom-k by seeded row hash)."""
    pts = points.select(F.col(id_col), F.col(vec_col)).persist()
    try:
        best: KMeansResult | None = None
        for run in range(1, runs + 1):
            h = F.xxhash64(F.col(vec_col).cast("string"), F.lit(seed + run))
            init = pts.orderBy(h).take(k)
            # EXPLICIT raise on an empty training set (the min/max
            # raise-on-empty contract): zero centroids would otherwise
            # surface as an opaque zero-arg array() AnalysisException
            # deep in _nearest. Fewer points than k is fine — the run
            # just fits fewer clusters.
            if not init:
                raise ValueError(
                    "k-means: empty training set (no rows to seed "
                    "centroids from)"
                )
            centroids = [(i, list(r[vec_col])) for i, r in enumerate(init)]
            for _ in range(iterations):
                assigned = assign(pts, centroids, id_col, vec_col)
                centroids = _recompute(assigned, vec_col)
            assigned = assign(pts, centroids, id_col, vec_col)
            total = assigned.agg(F.sum("dist")).collect()[0][0]
            # all-NULL vectors leave SUM with zero finite inputs ->
            # None; score such a run +inf (never preferable) instead
            # of feeding None into the < comparison on the next run
            if total is None:
                total = float("inf")
            if best is None or total < best.total_distance:
                best = KMeansResult(assigned, centroids, total, run)
        return best
    finally:
        pts.unpersist()
