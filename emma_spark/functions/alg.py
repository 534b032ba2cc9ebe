"""Aggregation algebras (``Alg``) compiled to Spark aggregate expressions.

Reference: every aggregate in emma is a commutative-monoid algebra
``Alg[A, B] = (zero, init: A=>B, plus: (B,B)=>B)``
(``emma-language/src/main/scala/org/emmalanguage/api/alg/Alg.scala:38-42``),
and the 17 fold shortcuts on DataBag each instantiate one
(``api/DataBag.scala:216-346``; algs ``Alg.scala:64-176``). Multiple
folds over one bag are fused into a single pass via product algebras
``Alg2..Alg22`` + ``FoldForestFusion``
(``compiler/opt/FoldForestFusion.scala:49-105``).

Spark-first translation: an Alg is anything that can render itself as a
list of aggregate Columns. ``df.agg(a1, ..., aN)`` IS the product
algebra — Catalyst computes all aggregates in one pass with partial
(map-side) aggregation, so both fold-forest fusion and fold-group
fusion (``FoldGroupFusion.scala:46-120``) hold by construction and need
no rewrite pass. Arbitrary user monoids take the (zero, init, plus)
triple and run through ``F.aggregate`` on a collected array only as an
explicit, documented slow path (``Fold``).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any, Callable, Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F

ColumnLike = Any  # Column | str | literal


def _c(x: ColumnLike) -> Column:
    if isinstance(x, Column):
        return x
    if isinstance(x, str):
        return F.col(x)
    return F.lit(x)


def zero_col(zero: Any) -> Column:
    """Lift a fold zero to a Column, widening the accumulator type so
    the merge lambda's operand types match (int -> bigint etc.)."""
    if isinstance(zero, Column):
        return zero
    z = F.lit(zero)
    if isinstance(zero, bool):
        return z
    if isinstance(zero, int):
        return z.cast("bigint")
    if isinstance(zero, float):
        return z.cast("double")
    return z


class Alg:
    """Base: an aggregation compiled to one or more agg Columns.

    ``exprs()`` returns the aggregate Columns (aliased); ``finish(row)``
    post-processes the collected value for driver-side folds.
    """

    name: str = "agg"

    def exprs(self) -> list[Column]:  # pragma: no cover - abstract
        raise NotImplementedError

    def finish(self, value: Any) -> Any:
        return value


@dataclass
class Size(Alg):
    """Bag cardinality (``api/DataBag.scala:287-288``, ``Alg.scala:92-96``)."""

    name: str = "size"

    def exprs(self) -> list[Column]:
        return [F.count(F.lit(1)).alias(self.name)]


@dataclass
class Count(Alg):
    """Conditional count (``api/DataBag.scala:296-297``, ``Alg.scala:99-103``)."""

    p: ColumnLike = None
    name: str = "count"

    def exprs(self) -> list[Column]:
        return [F.count_if(_c(self.p)).alias(self.name)]


@dataclass
class Sum(Alg):
    """Numeric sum; 0 on empty (``api/DataBag.scala:274-278``, ``Alg.scala:120-124``)."""

    e: ColumnLike = None
    name: str = "sum"

    def exprs(self) -> list[Column]:
        return [F.coalesce(F.sum(_c(self.e)), F.lit(0)).alias(self.name)]


@dataclass
class Product(Alg):
    """Numeric product; 1 on empty (``api/DataBag.scala:281-284``, ``Alg.scala:127-131``)."""

    e: ColumnLike = None
    name: str = "product"

    def exprs(self) -> list[Column]:
        return [F.coalesce(F.product(_c(self.e)), F.lit(1.0)).alias(self.name)]


@dataclass
class Min(Alg):
    """Minimum by ordering; raises on empty bag like the reference
    (``api/DataBag.scala:255-259`` ``.get`` on Option, ``Alg.scala:106-110``)."""

    e: ColumnLike = None
    name: str = "min"
    raise_on_empty: bool = True

    def exprs(self) -> list[Column]:
        return [F.min(_c(self.e)).alias(self.name)]

    def finish(self, value: Any) -> Any:
        if value is None and self.raise_on_empty:
            raise ValueError("min of empty bag (DataBag.scala:255-259)")
        return value


@dataclass
class Max(Alg):
    """Maximum by ordering; raises on empty (``api/DataBag.scala:262-266``)."""

    e: ColumnLike = None
    name: str = "max"
    raise_on_empty: bool = True

    def exprs(self) -> list[Column]:
        return [F.max(_c(self.e)).alias(self.name)]

    def finish(self, value: Any) -> Any:
        if value is None and self.raise_on_empty:
            raise ValueError("max of empty bag (DataBag.scala:262-266)")
        return value


@dataclass
class Avg(Alg):
    """Mean — the reference expresses it as Sum/Size (e.g.
    ``emma-lib/.../lib/stats/stat.scala:23-62``); built-in here."""

    e: ColumnLike = None
    name: str = "avg"

    def exprs(self) -> list[Column]:
        return [F.avg(_c(self.e)).alias(self.name)]


@dataclass
class Exists(Alg):
    """∃ p (``api/DataBag.scala:305-309``, ``Alg.scala:134-138``); False on empty."""

    p: ColumnLike = None
    name: str = "exists"

    def exprs(self) -> list[Column]:
        return [F.coalesce(F.max(_c(self.p)), F.lit(False)).alias(self.name)]


@dataclass
class Forall(Alg):
    """∀ p (``api/DataBag.scala:312-315``, ``Alg.scala:141-143``); True on empty."""

    p: ColumnLike = None
    name: str = "forall"

    def exprs(self) -> list[Column]:
        return [F.coalesce(F.min(_c(self.p)), F.lit(True)).alias(self.name)]


@dataclass
class IsEmpty(Alg):
    """(``api/DataBag.scala:216-219``, ``Alg.scala:78-82``)."""

    name: str = "is_empty"

    def exprs(self) -> list[Column]:
        return [(F.count(F.lit(1)) == 0).alias(self.name)]


@dataclass
class CollectList(Alg):
    """Group materialization: values as array (``groupBy`` nesting,
    ``api/DataBag.scala:106``; Spark mapping SURVEY §2.4). Driver-side
    blowup hazard at scale — prefer folded aggregates."""

    e: ColumnLike = None
    name: str = "values"
    sort: bool = False

    def exprs(self) -> list[Column]:
        col = F.collect_list(_c(self.e))
        if self.sort:
            col = F.sort_array(col)
        return [col.alias(self.name)]


@dataclass
class Expr(Alg):
    """Escape hatch: any aggregate Column expression is an Alg."""

    col: Column = None
    name: str = "expr"

    def exprs(self) -> list[Column]:
        return [self.col.alias(self.name)]


@dataclass
class Fold(Alg):
    """Arbitrary user monoid ``(zero, init, plus)`` — structural
    recursion, the reference's universal consumer
    (``api/DataBag.scala:59-63``).

    Compiled as ``F.aggregate(collect_list(init), zero, plus)`` — the
    per-group list materializes, so this is the *explicit* slow path;
    every builtin above is preferred. ``init``/``plus`` operate on
    Columns (stay JVM-side even here).

    Scale contract: use only where the GROUP is bounded (a filter or
    key structure caps rows per group). For unbounded groups use a
    builtin alg, ``GroupedBag.py_fold`` (two-stage partial combine),
    or — for the global case — ``DataBag.reduce``/``reduce_option``,
    which fold per-partition first and never build a whole-bag array.
    """

    zero: Any = None
    init: Callable[[Column], Column] = None
    plus: Callable[[Column, Column], Column] = None
    e: ColumnLike = None
    name: str = "fold"

    def exprs(self) -> list[Column]:
        src = _c(self.e)
        mapped = F.collect_list(self.init(src) if self.init else src)
        return [F.aggregate(mapped, zero_col(self.zero), self.plus).alias(self.name)]


@dataclass
class ReduceOpt(Alg):
    """``reduceOption``: monoid combine WITHOUT a zero element —
    ``None`` on the empty bag (``api/DataBag.scala:245-246``,
    ``Alg.scala:71-75``: fold into ``Option`` with ``Some`` as init and
    an option-lifting plus).

    Compiled as ``F.aggregate`` seeded with the first collected element
    over the rest — same collect_list slow path as :class:`Fold`; the
    ``when(size > 0)`` guard supplies the ``None``-on-empty contract.
    """

    plus: Callable[[Column, Column], Column] = None
    e: ColumnLike = None
    name: str = "reduce_opt"

    def exprs(self) -> list[Column]:
        arr = F.collect_list(_c(self.e))
        rest = F.slice(arr, F.lit(2), F.greatest(F.size(arr) - 1, F.lit(0)))
        red = F.aggregate(rest, F.element_at(arr, 1), self.plus)
        return [F.when(F.size(arr) > 0, red).alias(self.name)]


class BagExpr:
    """The nested group bag in aggregate position — ``Group.values`` as
    a foldable expression.

    This is what lets a HIGHER-ORDER aggregate parameter (the
    reference's ``Proj[L] = DataBag[A] => L``,
    ``emma-examples/.../imdb/GraphPreprocessing.scala:26``) stay on the
    fold-group-fusion path: the HOF receives a BagExpr and calls the
    fold surface (``api/DataBag.scala:216-346``); every call returns an
    aggregate Column, so ``groupBy().agg(proj(bag))`` compiles to ONE
    partial-aggregated hash-agg pass — the group bag never
    materializes, no matter what the caller's lambda computes."""

    def size(self) -> Column:
        return F.count(F.lit(1))

    def count(self, p: ColumnLike) -> Column:
        return F.count_if(_c(p))

    def sum(self, e: ColumnLike) -> Column:
        return F.coalesce(F.sum(_c(e)), F.lit(0))

    def min(self, e: ColumnLike) -> Column:
        return F.min(_c(e))

    def max(self, e: ColumnLike) -> Column:
        return F.max(_c(e))

    def avg(self, e: ColumnLike) -> Column:
        return F.avg(_c(e))

    def exists(self, p: ColumnLike) -> Column:
        return F.coalesce(F.max(_c(p)), F.lit(False))

    def forall(self, p: ColumnLike) -> Column:
        return F.coalesce(F.min(_c(p)), F.lit(True))

    def distinct_size(self, e: ColumnLike) -> Column:
        return F.countDistinct(_c(e))

    def fold(self, zero: Any, init, plus, e: ColumnLike) -> Column:
        return Fold(zero=zero, init=init, plus=plus, e=_c(e)).exprs()[0]


def all_exprs(algs: Sequence[Alg]) -> list[Column]:
    """Product algebra: N algs -> one agg() pass (``Alg2..Alg22``,
    ``FoldForestFusion.scala:49-105`` — native in Spark)."""
    out: list[Column] = []
    for a in algs:
        out.extend(a.exprs())
    return out
