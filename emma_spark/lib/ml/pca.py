"""PCA top component by power iteration — distributed, exact-integer,
SQL-replayable.

Power iteration on the Gram matrix without materializing it:
v ← normalize(Xᵀ(X v)). Each iteration is

1. ``u_i = Σ_j x_ij·v_j`` — an exact-INTEGER per-row array fold
   (components pre-quantized to 10⁻⁶, v to 10⁻⁹): narrow, no shuffle.
2. ``w_j = Σ_i u_i·x_ij`` — posexplode + groupBy(pos) with DECIMAL(38)
   sums (terms reach ~10²³): ONE shuffle of at most d·#partitions
   partial cells, d rows out.
3. Normalize on the driver (d-row collect — model-as-driver-state,
   same contract as lib/ml/optimization's gradient step): down-scale
   w by 10¹² with FLOOR division, norm via exact integer
   sum-of-squares + one IEEE sqrt, re-quantize v to 10⁻⁹ ints.

Every cross-row aggregation is exact integer arithmetic, so any
engine — and any partitioning — produces the IDENTICAL eigenvector
estimate; the single sqrt and divides per iteration are
correctly-rounded IEEE ops (sqrt is exact by IEEE-754, unlike libm
transcendentals). A SQL oracle unrolls the iterations verbatim
(workloads/ml.py: ml_pca_power_top). Sign is deterministic too: the
all-positive start vector fixes the convergence orientation.

No reference analog (emma-lib has no PCA); a new scale capability:
covariance-free top-component extraction touches the data 2·iters
times and shuffles only d-row vectors.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

QX = 1_000_000          # component quantization (10^-6)
QV = 1_000_000_000      # eigenvector quantization (10^-9)
DOWN = 10**12           # w down-scale before norm (keeps squares in range)


def pca_power_top(
    df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id",
    iters: int = 3, dim: int | None = None,
) -> list[float]:
    """Dominant principal direction of the (uncentered) data matrix as
    a list of ``dim`` floats (10⁻⁹-quantized unit vector)."""
    if dim is None:
        head = df.select(vec_col).first()
        if head is None:
            # empty matrix: no direction exists — empty loading vector
            # (callers materialize it as a zero-row frame)
            return []
        dim = len(head[0])
    xc = df.select(
        F.col(id_col),
        F.transform(
            F.col(vec_col),
            lambda x: F.floor(x.cast("double") * QX + F.lit(0.5)).cast("bigint"),
        ).alias("xc"),
    )
    v_c = [QV // 8] * dim  # 0.125 each: unit for d=64, positive ⇒ fixed sign
    for _ in range(iters):
        vlit = F.array(*[F.lit(int(c)) for c in v_c])
        u = xc.select(
            "xc",
            F.aggregate(
                F.zip_with(F.col("xc"), vlit, lambda a, b: a * b),
                F.lit(0).cast("bigint"),
                lambda acc, t: acc + t,
            ).alias("u"),
        )
        w_rows = (
            u.select(F.posexplode("xc").alias("pos", "x"), "u")
            .groupBy("pos")
            .agg(F.sum(F.col("u").cast("decimal(38,0)") * F.col("x")).alias("w"))
            .collect()
        )
        w = [0] * dim
        for r in w_rows:
            w[r["pos"]] = int(r["w"])
        ws = [wi // DOWN for wi in w]  # floor division (oracle emulates)
        norm = math.sqrt(float(sum(s * s for s in ws)))
        # Degenerate matrix (all-zero embeddings, or every w floored
        # to 0 by DOWN): no direction exists — converge to the zero
        # vector instead of dividing by norm 0 (Python raises
        # ZeroDivisionError where the DuckDB oracle would NULL, a
        # one-sided crash; the oracle mirrors with CASE WHEN nrm > 0).
        if norm == 0.0:
            v_c = [0] * dim
        else:
            v_c = [int(math.floor(s / norm * QV + 0.5)) for s in ws]
    return [c / QV for c in v_c]
