"""Vector algebra over ``array<double>`` Columns — pure expressions.

Reference: ``emma-lib/src/main/scala/org/emmalanguage/lib/linalg/``
(DVector + BLAS ops). Vectors here are plain ``ArrayType(DoubleType)``
columns, so every op stays inside whole-stage codegen — no UDF, no
Python in the hot path (SURVEY §2.6 / §4 #10).
"""

from __future__ import annotations

from typing import Iterable, Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F


def vlit(values: Sequence[float]) -> Column:
    """A literal dense vector."""
    return F.array(*[F.lit(float(v)) for v in values])


def dot(x: Column, y: Column) -> Column:
    """Σ xᵢ·yᵢ via zip_with + aggregate (sequential per-row fold —
    deterministic, same order as any sane oracle)."""
    return F.aggregate(
        F.zip_with(x, y, lambda a, b: a * b), F.lit(0.0), lambda acc, v: acc + v
    )


def sqdist(x: Column, y: Column) -> Column:
    """Squared euclidean distance (the reference kMeans default metric,
    ``lib/linalg/package.scala`` sqdist)."""
    return F.aggregate(
        F.zip_with(x, y, lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def scale(a: Column | float, x: Column) -> Column:
    a = F.lit(float(a)) if not isinstance(a, Column) else a
    return F.transform(x, lambda v: a * v)
