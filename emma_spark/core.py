"""DataBag — the engine's one core abstraction, as a lazy DataFrame wrapper.

Reference contract: ``DataBag[A]`` is a homogeneous, unordered,
duplicate-preserving multiset
(``emma-language/src/main/scala/org/emmalanguage/api/DataBag.scala:26-63``)
whose ops split into lazy transformations (monad ops, grouping, set
ops) and eager actions (folds, ``collect``, ``sample``, writes —
``SparkRDD.scala:45-46``). We reproduce exactly that contract over a
``pyspark.sql.DataFrame``; Catalyst replaces emma's compile-time
rewrites (SURVEY §4: rules 1-8, 13, 14 are Catalyst built-ins).

Design rules (100 TB target):
- every transformation is a DataFrame plan; nothing materializes except
  the documented eager actions;
- lambdas are expression lambdas over :class:`Elem` proxies -> Columns,
  so plans stay inside whole-stage codegen (no Python in the hot path);
- joins/grouping lower to the shuffle-aware built-ins; broadcast is an
  explicit hint (``hint()``) plus Spark's auto threshold.
"""

from __future__ import annotations

from typing import Any, Callable, Iterable, Mapping, Sequence

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .functions import alg as A
from .functions.expr import Elem, ExprFn, compile_predicate, compile_projection, normalize_projection

ColumnLike = Any


def _cols(df: DataFrame, f: ExprFn | Column | str | Sequence, alias: str | None = None) -> list[Column]:
    """Normalize a key/projection spec to Columns.

    ``alias`` resolves columns through a join-side namespace
    (``F.col("l.key")``) — required when both join sides share lineage
    (self-joins and joins between bags derived from one source;
    reference analog: column refresh in ``SparkNtv.scala:79-82``).
    """
    if callable(f) and not isinstance(f, Column):
        out = f(Elem(df, alias))
        return normalize_projection(out, "key")
    if isinstance(f, str):
        return [F.col(f"{alias}.{f}")] if alias else [df[f]]
    if isinstance(f, Column):
        return [f]
    if isinstance(f, Sequence):
        return [
            (F.col(f"{alias}.{c}") if alias else df[c]) if isinstance(c, str) else c
            for c in f
        ]
    raise TypeError(f"bad column spec: {f!r}")


class DataBag:
    """Unordered, duplicate-preserving multiset over a DataFrame plan."""

    def __init__(self, df: DataFrame):
        self._df = df
        self._collected: list | None = None

    # ------------------------------------------------------------------
    # sources (DataBag companions, api/DataBag.scala:381-448)
    # ------------------------------------------------------------------
    @classmethod
    def apply(cls, spark: SparkSession, values: Iterable, schema=None) -> "DataBag":
        """Parallelize a local collection (``api/DataBag.scala:399``;
        Spark impl ``SparkDataset.scala:164-166``).

        Scalar values become single-column ``value`` bags (Dataset[Int]
        analog)."""
        values = list(values)
        if values and not isinstance(values[0], (dict, tuple, list)) and schema is None:
            rows = [(v,) for v in values]
            df = spark.createDataFrame(rows, schema="value " + _infer_sql_type(values[0]))
        else:
            df = spark.createDataFrame(values, schema=schema)
        return cls(df)

    @classmethod
    def empty(cls, spark: SparkSession, schema: str) -> "DataBag":
        """(``api/DataBag.scala:390``; ``SparkDataset.scala:160-162``)."""
        return cls(spark.createDataFrame([], schema=schema))

    @classmethod
    def from_df(cls, df: DataFrame) -> "DataBag":
        """Wrap a native distributed collection (``api/DataBag.scala:381-382``)."""
        return cls(df)

    # ------------------------------------------------------------------
    # monad ops (api/DataBag.scala:76-93)
    # ------------------------------------------------------------------
    def map(self, f: ExprFn) -> "DataBag":
        """Per-element transform (``api/DataBag.scala:76``). The lambda is
        compiled to a projection — emma's native-op specialization
        (``SparkSpecializeOps.scala:36-130``) by construction."""
        return DataBag(self._df.select(*compile_projection(self._df, f)))

    def flat_map(self, f: ExprFn, flatten_struct: bool = False) -> "DataBag":
        """Transform to an array column + flatten (``api/DataBag.scala:85``).

        ``f`` must produce an array Column; each element becomes one row
        (column ``value``). ``flatten_struct=True`` expands an
        array-of-struct into top-level columns."""
        arr = f(Elem(self._df))
        if isinstance(arr, Mapping):
            if len(arr) != 1:
                raise TypeError("flat_map expects exactly one array expression")
            ((name, arr),) = arr.items()
        else:
            name = "value"
        out = self._df.select(F.explode(arr).alias(name))
        if flatten_struct:
            out = out.select(f"{name}.*")
        return DataBag(out)

    def filter(self, p: ExprFn) -> "DataBag":
        """``withFilter`` (``api/DataBag.scala:93``)."""
        return DataBag(self._df.filter(compile_predicate(self._df, p)))

    # with_filter is bound AFTER the _consumes wrapping below so it
    # shares filter's auto-cache use-counting.

    def select(self, *cols: ColumnLike, **named: Column) -> "DataBag":
        """Column-level projection escape hatch (idiomatic-Spark surface)."""
        all_cols = [F.col(c) if isinstance(c, str) else c for c in cols]
        all_cols += [c.alias(n) for n, c in named.items()]
        return DataBag(self._df.select(*all_cols))

    # ------------------------------------------------------------------
    # grouping (api/DataBag.scala:106; foldGroup ComprehensionCombinators.scala:35-38)
    # ------------------------------------------------------------------
    def group_by(self, key: ExprFn | str | Sequence, *key_names: str) -> "GroupedBag":
        """Nesting groupBy. Returns a :class:`GroupedBag` whose ``agg`` is
        the fold-group fusion path (``FoldGroupFusion.scala:46-120`` —
        here simply the direct lowering) and whose ``nest`` is true group
        materialization (``SparkRDD.scala:65-66``)."""
        keys = _cols(self._df, key)
        if key_names:
            keys = [k.alias(n) for k, n in zip(keys, key_names)]
        return GroupedBag(self._df, keys)

    def fold_group(self, key, *algs: A.Alg, **named: Column) -> "DataBag":
        """Fused groupBy+aggregate (``foldGroup``,
        ``api/backend/LocalOps.scala:61-69``; Spark
        ``map(init).reduceByKey(plus)`` ``SparkOps.scala:61-68``).
        Lowered to hash aggregation with map-side partial agg."""
        return self.group_by(key).agg(*algs, **named)

    # ------------------------------------------------------------------
    # folds — eager actions (api/DataBag.scala:59-63, 216-346)
    # ------------------------------------------------------------------
    def fold(self, *algs: A.Alg) -> Any:
        """Structural recursion; N algs fused into ONE pass (fold-forest
        fusion, ``FoldForestFusion.scala:49-105``, native via multi-agg)."""
        row = self._df.agg(*A.all_exprs(algs)).collect()[0]
        vals = [alg.finish(row[alg.name]) for alg in algs]
        return vals[0] if len(vals) == 1 else tuple(vals)

    def size(self) -> int:
        return self.fold(A.Size())

    def count(self, p: ExprFn) -> int:
        return self.fold(A.Count(compile_predicate(self._df, p)))

    def sum(self, e: ExprFn | str = "value"):
        return self.fold(A.Sum(_cols(self._df, e)[0]))

    def product(self, e: ExprFn | str = "value"):
        return self.fold(A.Product(_cols(self._df, e)[0]))

    def min(self, e: ExprFn | str = "value"):
        return self.fold(A.Min(_cols(self._df, e)[0]))

    def max(self, e: ExprFn | str = "value"):
        return self.fold(A.Max(_cols(self._df, e)[0]))

    def exists(self, p: ExprFn) -> bool:
        return self.fold(A.Exists(compile_predicate(self._df, p)))

    def forall(self, p: ExprFn) -> bool:
        return self.fold(A.Forall(compile_predicate(self._df, p)))

    def is_empty(self) -> bool:
        """(``api/DataBag.scala:216-219``) — via limit(1), no full count."""
        return self._df.limit(1).count() == 0

    def non_empty(self) -> bool:
        return not self.is_empty()

    def find(self, p: ExprFn):
        """Arbitrary satisfying element or None (``api/DataBag.scala:323-324``)."""
        rows = self._df.filter(compile_predicate(self._df, p)).take(1)
        return rows[0] if rows else None

    def reduce(self, zero, plus: Callable[[Column, Column], Column], e: ExprFn | str = "value"):
        """Monoid fold (``api/DataBag.scala:235-236``, ``Alg.scala:64-68``).

        Scale path: two-level partial aggregation. Stage 1 folds each
        physical partition's values (grouped on ``spark_partition_id``,
        so no array ever exceeds one partition's rows); stage 2 folds
        the ≤#partitions partials. A single global
        ``F.aggregate(collect_list(...))`` would materialize the WHOLE
        bag as one array in one task — a scale-killer the reference
        avoids the same way (``SparkRDD.fold`` = per-partition fold +
        driver merge, ``SparkRDD.scala:45-46``). Lawfulness (assoc +
        comm ``plus``) makes the partition grouping semantically
        invisible."""
        col = _cols(self._df, e)[0]
        zero = A.zero_col(zero)
        parts = (
            self._df.select(col.alias("__v"), F.spark_partition_id().alias("__pid"))
            .groupBy("__pid")
            .agg(F.aggregate(F.collect_list("__v"), zero, plus).alias("__p"))
        )
        row = parts.agg(F.aggregate(F.collect_list("__p"), zero, plus).alias("r")).collect()[0]
        return row["r"]

    def reduce_option(self, plus: Callable[[Column, Column], Column], e: ExprFn | str = "value"):
        """Zero-less monoid combine; ``None`` on the empty bag
        (``api/DataBag.scala:245-246``, ``Alg.scala:71-75``).

        Same two-level partial-aggregation shape as :meth:`reduce`:
        each partition's values reduce seeded by their first element
        (every partition group is non-empty by construction), then the
        bounded partials reduce once more; zero partitions → zero
        partials → ``None``."""
        col = _cols(self._df, e)[0]
        parts = (
            self._df.select(col.alias("__v"), F.spark_partition_id().alias("__pid"))
            .groupBy("__pid")
            .agg(*A.ReduceOpt(plus=plus, e=F.col("__v"), name="__p").exprs())
        )
        row = parts.agg(*A.ReduceOpt(plus=plus, e=F.col("__p"), name="r").exprs()).collect()[0]
        return row["r"]

    def fold_py(
        self,
        zero,
        init: Callable,
        plus: Callable,
        e: ExprFn | str | None = None,
        fan_in: int = 64,
    ):
        """Arbitrary PYTHON-monoid fold — the reference's universal
        ``fold(zero)(init, plus)`` (``api/DataBag.scala:59-63``) for
        algebras ``F.aggregate`` cannot express (ragged vectors,
        dict accumulators, ...).

        Tree-reduced distributed fold (``RDD.treeAggregate`` shape):
        each partition folds its rows in an Arrow-batched
        ``mapInPandas`` pass and emits ONE pickled accumulator; while
        more than ``fan_in`` partials remain they are repartitioned
        into groups of ≤``fan_in`` and merged executor-side with
        ``plus`` (another tiny ``mapInPandas`` level — the shuffled
        rows are single pickles), so the driver merges at most
        ``fan_in`` accumulators no matter how many partitions the
        input has (a 100k-partition scan costs ⌈log_fan_in⌉ = 2 extra
        micro-stages, not a 100k-pickle driver loop). ``plus`` must be
        associative and commutative and ``zero`` its identity — the
        same lawfulness the reference's Alg demands (Alg.scala:38-42).
        The documented slow path: prefer Column algs whenever the
        algebra is expressible."""
        import math
        import pickle

        import pandas as pd
        from pyspark.sql import types as Ty

        if fan_in < 2:
            raise ValueError("fan_in must be >= 2")
        if e is not None:
            # bag model: a NULL cell is an absent element — filter it
            # ENGINE-side (isNotNull), not with pandas dropna(), which
            # would also drop genuine float NaN values that ARE present
            # bag elements and that a SQL aggregate over the same
            # column would see
            df = (
                self._df.select(_cols(self._df, e)[0].alias("value"))
                .where(F.col("value").isNotNull())
            )
            extract = lambda pdf: list(pdf["value"])
        else:
            df = self._df
            extract = lambda pdf: pdf.to_dict("records")

        def part(batches):
            acc, seen = zero, False
            for pdf in batches:
                for v in extract(pdf):
                    acc = plus(acc, init(v))
                    seen = True
            if seen:
                yield pd.DataFrame({"acc": [pickle.dumps(acc)]})

        def merge(batches):
            acc, seen = zero, False
            for pdf in batches:
                for b in pdf["acc"]:
                    acc = plus(acc, pickle.loads(bytes(b)))
                    seen = True
            if seen:
                yield pd.DataFrame({"acc": [pickle.dumps(acc)]})

        schema = Ty.StructType([Ty.StructField("acc", Ty.BinaryType())])
        partials = df.mapInPandas(part, schema)
        n = df.rdd.getNumPartitions()
        while n > fan_in:
            n = math.ceil(n / fan_in)
            partials = partials.repartition(n).mapInPandas(merge, schema)
        out = zero
        for r in partials.collect():
            out = plus(out, pickle.loads(bytes(r["acc"])))
        return out

    def top(self, n: int, e: ExprFn | str | Sequence = "value") -> list:
        """k-largest as sorted list (``api/DataBag.scala:334-340``,
        merge-based alg ``Alg.scala:153-164``). Distributed TakeOrdered —
        only k rows reach the driver."""
        keys = _cols(self._df, e)
        return self._df.orderBy(*[k.desc() for k in keys]).take(n)

    def bottom(self, n: int, e: ExprFn | str | Sequence = "value") -> list:
        """(``api/DataBag.scala:342-346``)."""
        keys = _cols(self._df, e)
        return self._df.orderBy(*[k.asc() for k in keys]).take(n)

    # ------------------------------------------------------------------
    # joins (derived combinators, ComprehensionCombinators.scala:27-38)
    # ------------------------------------------------------------------
    def cross(self, other: "DataBag", pair: bool = False) -> "DataBag":
        """Cartesian product (``MatchCross`` ``Combination.scala:340-367``;
        Spark ``SparkNtv.scala:72-77``). Default output columns are the
        union of both sides (flat); ``pair=True`` yields emma's exact
        ``(A, B)`` tuple shape as ``_1``/``_2`` struct columns
        (SURVEY §1.2: tuples map to `_1/_2` structs)."""
        left, right = _disambiguate(self._df, other._df)
        out = left.crossJoin(right)
        if pair:
            out = _pair_shape(out, self._df.columns, other._df.columns)
        return DataBag(out)

    def equi_join(
        self,
        other: "DataBag",
        kx: ExprFn | str | Sequence,
        ky: ExprFn | str | Sequence | None = None,
        how: str = "inner",
        pair: bool = False,
    ) -> "DataBag":
        """Equi-join on key extractors (``MatchEquiJoin``
        ``Combination.scala:723-777``; Dataset impl ``SparkNtv.scala:60-70``).

        Composite keys = multiple key columns (conjunction fusion,
        ``Combination.scala:598-658``). Self-joins auto-alias
        (``SparkNtv.scala:79-82`` column refresh). ``how`` extends the
        reference (inner-only there, SURVEY §2.3 'free gains') with
        left/right/full/semi/anti. ``pair=True`` yields emma's exact
        ``(A, B)`` output shape as ``_1``/``_2`` structs."""
        left, right = _disambiguate(self._df, other._df)
        lk = _cols(left, kx, alias="l")
        rk = _cols(right, ky if ky is not None else kx, alias="r")
        cond = None
        for a, b in zip(lk, rk):
            c = a.eqNullSafe(b) if how not in ("left_semi", "left_anti") else (a == b)
            cond = c if cond is None else (cond & c)
        out = left.join(right, cond, how)
        if pair:
            if how not in ("inner", "cross"):
                raise ValueError("pair shape is defined for inner joins only")
            out = _pair_shape(out, self._df.columns, other._df.columns)
        return DataBag(out)

    def join(self, other: "DataBag", on=None, how: str = "inner") -> "DataBag":
        """Idiomatic passthrough join (column-name ``on`` dedups keys)."""
        return DataBag(self._df.join(other._df, on, how))

    def theta_join(self, other: "DataBag", theta: Callable[[Elem, Elem], Column]) -> "DataBag":
        """Non-equi predicate join = cross + filter
        (``MatchFilter`` before/after join extraction,
        ``Combination.scala:125-145``); Catalyst picks BNLJ / broadcast."""
        left, right = _disambiguate(self._df, other._df)
        cond = theta(Elem(left, "l"), Elem(right, "r"))
        return DataBag(left.join(right, cond, "inner"))

    def broadcast(self) -> "DataBag":
        """Broadcast hint (``SparkNtv.broadcast`` ``SparkNtv.scala:88-97``;
        insertion rule ``SparkBackend.scala:60-100``)."""
        return DataBag(F.broadcast(self._df))

    # ------------------------------------------------------------------
    # set ops (api/DataBag.scala:112-133)
    # ------------------------------------------------------------------
    def union(self, other: "DataBag") -> "DataBag":
        """BAG union — keeps duplicates (``api/DataBag.scala:112-122``:
        {1,1,2} ∪ {1,2} = {1,1,2,1,2}). Maps to unionAll, never SQL UNION."""
        return DataBag(self._df.unionByName(other._df))

    def distinct(self) -> "DataBag":
        """(``api/DataBag.scala:133``)."""
        return DataBag(self._df.distinct())

    def intersect(self, other: "DataBag") -> "DataBag":
        """Multiset intersect — absent in the reference (SURVEY §2.5 free
        gain)."""
        return DataBag(self._df.intersectAll(other._df))

    def subtract(self, other: "DataBag") -> "DataBag":
        return DataBag(self._df.exceptAll(other._df))

    # ------------------------------------------------------------------
    # partition ops
    # ------------------------------------------------------------------
    def sample(self, k: int, seed: int = 53948268) -> list:
        """Deterministic k-sample to the driver
        (``api/DataBag.scala:139-150``; distributed reservoir
        ``SparkRDD.scala:86-107`` with ``RanHash``).

        Spark-first scheme with a *stronger* determinism contract:
        bottom-k by a seeded PORTABLE content hash — first 56 bits of
        md5 over the row stringified with the non-printable unit
        separator \\x1f and NULLs encoded as \\x01 (concat_ws would
        silently SKIP nulls, making ('a',NULL,'b') and ('a','b',NULL)
        collide). Deterministic for a given multiset CONTENT regardless
        of partitioning (the reference is only deterministic per
        materialized partitioning) AND reproducible by any engine
        (DuckDB mirror: ``CAST(concat('0x', substr(md5(concat_ws(
        chr(31), coalesce(CAST(c AS VARCHAR), chr(1))..., seed)), 1,
        14)) AS BIGINT)``). Distributed TakeOrdered: only k rows cross
        to the driver."""
        joined = F.concat_ws(
            "\x1f",
            *[F.coalesce(self._df[c].cast("string"), F.lit("\x01")) for c in self._df.columns],
            F.lit(str(seed)),
        )
        h = F.conv(F.substring(F.md5(F.encode(joined, "utf-8")), 1, 14), 16, 10).cast("bigint")
        ordered = self._df.withColumn("__h", h).orderBy("__h").drop("__h")
        return ordered.take(k)

    def zip_with_index(self, index_name: str = "index") -> "DataBag":
        """Dense unique 0-based index (``api/DataBag.scala:152-160``;
        ``SparkRDD.scala:109-110``).

        DataFrame-native two-pass scheme (no RDD round-trip): count rows
        per physical partition, then offset a per-partition row_number —
        same plan shape as RDD.zipWithIndex but stays in Tungsten.
        The __pid-stamped frame is pinned via eager localCheckpoint
        before the count pass: both passes (and any downstream
        recompute under AQE/task retry) must see the same partition
        ids, which a recomputation of the un-pinned plan would not
        guarantee. localCheckpoint (not ``persist``): checkpoint blocks
        are released by the ContextCleaner when the result frame is
        dropped, whereas a persisted frame stays in the CacheManager
        for the session lifetime (there is no safe explicit unpersist
        point — the returned lazy plan keeps reading the cache).

        Tradeoff, not strictly superior: localCheckpoint truncates
        lineage into NON-RELIABLE executor-local storage — lose an
        executor on a real cluster and the job FAILS instead of
        recomputing (a persisted frame would recompute; a reliable
        ``checkpoint()`` to a checkpoint dir would survive). Here the
        pin is small (one stamped pass over the input) and the
        determinism requirement rules out recompute anyway — a retried
        recompute could legally renumber partitions, which is the very
        bug the pin prevents — so fail-and-rerun is the correct
        failure mode. Long-lived multi-hour pins at cluster scale
        select reliable checkpointing engine-wide via
        ``plans.cache.configure_pinning(reliable=True,
        checkpoint_dir=...)`` — this (and every other pin in the
        engine) goes through :func:`plans.cache.pin`."""
        from .plans.cache import pin as _pin

        df = _pin(self._df.withColumn("__pid", F.spark_partition_id()), eager=True)
        w = Window.partitionBy("__pid").orderBy(F.monotonically_increasing_id())
        counts = df.groupBy("__pid").count().orderBy("__pid").collect()
        offsets = {}
        acc = 0
        for r in counts:
            offsets[r["__pid"]] = acc
            acc += r["count"]
        # empty bag: create_map() is map<void,void> and the lookup
        # fails ANALYSIS — there are no rows, so the offset is 0
        if offsets:
            omap = F.create_map(*[F.lit(x) for kv in offsets.items() for x in kv])
            idx = F.col("__rn") + omap[F.col("__pid")]
        else:
            idx = F.col("__rn")
        out = (
            df.withColumn("__rn", F.row_number().over(w) - 1)
            .withColumn(index_name, idx.cast("long"))
            .drop("__pid", "__rn")
        )
        return DataBag(out)

    def order_by(self, *keys: ColumnLike) -> "DataBag":
        """Total order — absent on reference bags (unordered, SURVEY
        §2.5); free Spark capability."""
        ks = [F.col(k) if isinstance(k, str) else k for k in keys]
        return DataBag(self._df.orderBy(*ks))

    def limit(self, n: int) -> "DataBag":
        return DataBag(self._df.limit(n))

    def repartition(self, n: int | None = None, *cols: ColumnLike) -> "DataBag":
        cs = [F.col(c) if isinstance(c, str) else c for c in cols]
        if n is None:
            return DataBag(self._df.repartition(*cs))
        return DataBag(self._df.repartition(n, *cs))

    # ------------------------------------------------------------------
    # caching (runtime combinator `cache`, SparkOps.scala:54-59)
    # ------------------------------------------------------------------
    def cache(self) -> "DataBag":
        return DataBag(self._df.cache())

    def unpersist(self) -> "DataBag":
        self._df.unpersist()
        return self

    # ------------------------------------------------------------------
    # sinks / actions (api/DataBag.scala:173-205)
    # ------------------------------------------------------------------
    def collect(self) -> list:
        """Materialize to the driver, memoized (``api/DataBag.scala:199``;
        ``SparkDataset.scala:114-118``)."""
        if self._collected is None:
            self._collected = self._df.collect()
        return self._collected

    def write_csv(self, path: str, **options) -> None:
        """Overwrite-mode CSV sink (``api/DataBag.scala:173``,
        ``SparkDataset.scala:91-100``)."""
        self._df.write.mode("overwrite").options(header=True, **options).csv(path)

    def write_text(self, path: str) -> None:
        self._df.write.mode("overwrite").text(path)

    def write_jsonl(self, path: str, **options) -> None:
        """JSON-Lines sink (one document per line, the LLM-corpus
        interchange format; overwrite mode like the other sinks)."""
        self._df.write.mode("overwrite").options(**options).json(path)

    def write_orc(self, path: str, **options) -> None:
        """ORC columnar sink (overwrite mode, like the other sinks)."""
        self._df.write.mode("overwrite").options(**options).orc(path)

    def write_parquet(self, path: str, partition_by: Sequence[str] | None = None, **options) -> None:
        w = self._df.write.mode("overwrite").options(**options)
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(path)

    @property
    def df(self) -> DataFrame:
        """``as[DColl]`` escape hatch (``api/DataBag.scala:204-205``)."""
        return self._df

    def explain(self, mode: str = "formatted") -> None:
        self._df.explain(mode)


class GroupedBag:
    """Result of ``group_by`` — fold (aggregate) or nest (materialize).

    Emma's ``Group[K, V]`` (``api/Group.scala:19``): ``agg`` produces the
    foldGroup shape (V = aggregate), ``nest`` the groupBy shape
    (V = nested bag as array column).
    """

    def __init__(self, df: DataFrame, keys: list[Column]):
        self._df = df
        self._keys = keys

    def agg(self, *algs: A.Alg, **named: Column) -> DataBag:
        """foldGroup: hash aggregation with partial (map-side) agg —
        Catalyst-native (`SparkOps.scala:61-68` analogue). Multiple algs
        = one pass (multi-aggregate fusion)."""
        cols = A.all_exprs(algs) + [c.alias(n) for n, c in named.items()]
        return DataBag(self._df.groupBy(*self._keys).agg(*cols))

    def nest(self, name: str = "values", sort: bool = False,
             max_group_size: int | None = None) -> DataBag:
        """True group materialization: ``Group(key, DataBag[A])`` as
        key + array<struct> (``collect_list(struct(*))``, SURVEY §1.1).

        At 100 TB a skewed key OOMs an executor — only use when group
        values are genuinely consumed as a bag; fold paths never
        materialize. ``max_group_size`` is the production guardrail:
        the job FAILS (``raise_error`` inside the plan) the moment any
        group exceeds it, instead of silently building a giant array
        that OOMs three stages later."""
        struct_col = F.struct(*[self._df[c] for c in self._df.columns])
        col = F.collect_list(struct_col)
        if sort:
            col = F.sort_array(col)
        out = self._df.groupBy(*self._keys).agg(col.alias(name))
        if max_group_size is not None:
            guard = F.when(
                F.size(F.col(name)) > max_group_size,
                F.raise_error(
                    F.concat(
                        F.lit(f"nest(): group exceeds max_group_size={max_group_size} (size="),
                        F.size(F.col(name)).cast("string"), F.lit(")"),
                    )
                ),
            ).otherwise(F.col(name))
            out = out.withColumn(name, guard)
        return DataBag(out)

    def having(self, p: Callable[[Elem], Column], *algs: A.Alg, **named: Column) -> DataBag:
        """Grouped agg + post-aggregation filter."""
        bag = self.agg(*algs, **named)
        return bag.filter(p)

    def py_fold(
        self,
        zero,
        init: Callable,
        plus: Callable,
        e,
        result_schema: str,
        finish: Callable | None = None,
    ) -> DataBag:
        """Per-group arbitrary PYTHON-monoid fold — the pandas-UDAF
        fallback completing ``foldGroup`` parity for algebras Columns
        can't express (user Alg in ``api/DataBag.scala:59-63`` with a
        non-encodable accumulator).

        Lowered as a TWO-STAGE ``applyInPandas`` fold — Spark cannot
        merge opaque Python accumulators map-side, so the partial
        combine is rebuilt explicitly:

        1. group on (keys, spark_partition_id): each task folds only
           ONE INPUT PARTITION's rows of a key and emits one pickled
           accumulator — a skewed key's rows spread over as many tasks
           as input partitions instead of landing whole on one;
        2. group on keys: merge the ≤#partitions accumulators per key
           with ``plus``, then ``finish``.

        Lawfulness (assoc + comm ``plus``, Alg.scala:38-42) makes the
        partition split semantically invisible. Prefer Column algs when
        expressible; this path exists for the rest.

        ``result_schema`` is a DDL string for the OUTPUT value columns
        (e.g. ``"b0 bigint, b1 bigint"``); ``finish`` maps the final
        accumulator to a tuple matching it (default: 1-tuple of acc).
        """
        import pandas as pd
        from pyspark.sql import types as Ty

        _v = _cols(self._df, e)[0]
        kdf = self._df.select(
            *self._keys,
            _v.alias("__v"),
            # NULL-presence decided ENGINE-side: pandas cannot tell a
            # SQL NULL from a float NaN once Arrow converts the batch,
            # and a NaN is a PRESENT bag element the fold must see.
            # Rows can't just be filtered out: an
            # all-NULL group still emits acc == zero.
            _v.isNotNull().alias("__present"),
            F.spark_partition_id().alias("__pid"),
        )
        knames = kdf.columns[:-3]
        val_struct = Ty.StructType.fromDDL(result_schema)
        out_fields = list(kdf.schema.fields[:-3]) + list(val_struct.fields)
        schema = Ty.StructType(out_fields)
        names = [f.name for f in out_fields]
        part_fields = list(kdf.schema.fields[:-3]) + [Ty.StructField("__acc", Ty.BinaryType())]
        part_schema = Ty.StructType(part_fields)
        part_names = [f.name for f in part_fields]

        def fold_partition(pdf: pd.DataFrame) -> pd.DataFrame:
            import pickle

            acc = zero
            # the bag model has no nulls: a NULL cell is an ABSENT
            # element, so folds run over present values only — via the
            # engine-computed __present mask, NOT dropna(), which
            # cannot distinguish SQL NULL from a present float NaN
            for v in pdf["__v"][pdf["__present"].to_numpy(dtype=bool)]:
                acc = plus(acc, init(v))
            keyvals = [pdf[n].iloc[0] for n in knames]
            return pd.DataFrame([keyvals + [pickle.dumps(acc)]], columns=part_names)

        def merge_partials(pdf: pd.DataFrame) -> pd.DataFrame:
            import pickle

            acc = zero
            for blob in pdf["__acc"]:
                acc = plus(acc, pickle.loads(bytes(blob)))
            res = finish(acc) if finish else (acc,)
            if not isinstance(res, tuple):
                res = (res,)
            keyvals = [pdf[n].iloc[0] for n in knames]
            return pd.DataFrame([keyvals + list(res)], columns=names)

        partials = kdf.groupBy(*knames, "__pid").applyInPandas(fold_partition, part_schema)
        return DataBag(partials.groupBy(*knames).applyInPandas(merge_partials, schema))


def _consumes(fn):
    """Auto-cache hook (plans/cache.py; Caching.scala:57-94 'used more
    than once' policy): every plan-building/action method counts one
    consumption of each DataBag argument's DataFrame; the second
    consumption inside an ``auto_cache()`` scope persists it."""
    import functools

    @functools.wraps(fn)
    def wrapper(self, *args, **kwargs):
        from .plans.cache import note_use

        note_use(self._df)
        for a in args:
            if isinstance(a, DataBag):
                note_use(a._df)
        return fn(self, *args, **kwargs)

    return wrapper


for _name in (
    "map", "flat_map", "filter", "select", "group_by", "fold_group",
    "fold", "size", "count", "sum", "product", "min", "max", "exists",
    "forall", "is_empty", "non_empty", "find", "reduce", "top", "bottom",
    "cross", "equi_join", "join", "theta_join", "union", "distinct",
    "intersect", "subtract", "sample", "zip_with_index", "order_by",
    "limit", "collect", "reduce_option", "fold_py",
):
    setattr(DataBag, _name, _consumes(getattr(DataBag, _name)))
del _name

# with_filter must alias the WRAPPED filter — binding it before the loop
# would bypass auto-cache use-counting (a bag consumed twice via
# with_filter inside auto_cache() would never persist).
DataBag.with_filter = DataBag.filter


def sql(spark: SparkSession, query: str, **bags: "DataBag | DataFrame") -> DataBag:
    """ANSI-SQL entry point over DataBags: each keyword argument is
    registered as a temp view under its name, then ``query`` runs
    through ``spark.sql`` — the full Catalyst SQL surface (joins,
    windows, grouping sets, CTEs) over engine bags.

    The reference has no SQL layer (SURVEY §1.1: 'no table/column/SQL
    layer'); this is a free capability of the Spark-first rebuild, and
    the views are plain plan aliases — no materialization, pushdown
    and pruning cross the view boundary."""
    for name, bag in bags.items():
        df = bag.df if isinstance(bag, DataBag) else bag
        df.createOrReplaceTempView(name)
    return DataBag(spark.sql(query))


def _disambiguate(left: DataFrame, right: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Self-join column refresh (``SparkNtv.scala:79-82``): alias both
    sides so ambiguous column lineage resolves."""
    return left.alias("l"), right.alias("r")


def _pair_shape(joined: DataFrame, left_cols, right_cols) -> DataFrame:
    """emma's join/cross output type ``(A, B)`` (SURVEY §1.2: tuples →
    ``_1``/``_2`` structs; Dataset ``joinWith`` semantics,
    ``SparkNtv.scala:60-77``)."""
    return joined.select(
        F.struct(*[F.col(f"l.{c}") for c in left_cols]).alias("_1"),
        F.struct(*[F.col(f"r.{c}") for c in right_cols]).alias("_2"),
    )


def _infer_sql_type(v) -> str:
    if isinstance(v, bool):
        return "boolean"
    if isinstance(v, int):
        return "bigint"
    if isinstance(v, float):
        return "double"
    if isinstance(v, str):
        return "string"
    raise TypeError(f"cannot infer schema for {type(v)}")
