"""MutableBag — keyed mutable state for iterative algorithms.

Reference: ``MutableBag[K, V]`` (``emma-language/src/main/scala/org/
emmalanguage/api/MutableBag.scala:23-51``) with one mutator:
``update(ms: DataBag[Group[K, M]])(f: (K, Option[V], M) => Option[V])``
— upsert by key, returning the bag of updated entries. The reference's
Spark impl is a right-outer join + multiput against IndexedRDD
(``emma-spark/src/main/scala/org/emmalanguage/api/SparkMutableBag.scala:41-51``).

Spark-first rebuild: state is a DataFrame ``(key, val)``; ``update`` is
a full-outer-join merge expressed entirely in Columns. Each update
pins the new state (``plans.cache.pin``, eager) to truncate lineage
(the reference's IndexedRDD kept state materialized; same role).
Semantics caveat kept from the reference (``MutableBag.scala:40-43``):
message keys must be unique per update call.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .core import DataBag
from .plans.cache import pin

UpdateFn = Callable[[Column, Column, Column], Column]


class MutableBag:
    """Keyed state table. ``f(key, old_val_or_null, msg) -> new_val_or_null``.

    A null result from ``f`` means "no change" for existing keys /
    "don't insert" for new keys — matching Option semantics of
    ``MutableBag.update`` (``MutableBag.scala:28-44``). The same
    Option contract applies to the SEED state: the reference stores a
    non-optional ``V`` per key, so a NULL value means "entry absent"
    and is dropped at construction (``update`` already drops NULL
    merge results; an all-NULL measure ingest otherwise seeds state
    rows that the first update silently erases — the constructor and
    the mutator must agree).
    """

    def __init__(self, state: DataFrame, key: str = "key", val: str = "val"):
        self.key = key
        self.val = val
        self._state = pin(
            state.select(key, val).filter(F.col(val).isNotNull()), eager=True
        )

    @classmethod
    def from_bag(cls, bag: DataBag, key: str = "key", val: str = "val") -> "MutableBag":
        return cls(bag.df, key, val)

    def update(self, msgs: DataBag | DataFrame, f: UpdateFn, msg_val: str = "val") -> DataBag:
        """Full-outer-join merge; returns the DELTA bag (changed rows),
        mirroring ``SparkMutableBag.update`` (``SparkMutableBag.scala:41-51``).

        Plan shape at scale: shuffle-hash/sort-merge join on the key; with
        a stable key partitioning both sides co-locate. No driver
        materialization.

        The superseded state is not released here: a :meth:`bag`
        snapshot taken before this update still reads its blocks. The
        ContextCleaner frees it once no snapshot references it."""
        mdf = msgs.df if isinstance(msgs, DataBag) else msgs
        k, v = self.key, self.val
        s = self._state.alias("s")
        m = mdf.select(F.col(k).alias(k), F.col(msg_val).alias("__msg")).alias("m")
        joined = s.join(m, F.col(f"s.{k}") == F.col(f"m.{k}"), "full_outer")
        key_col = F.coalesce(F.col(f"s.{k}"), F.col(f"m.{k}"))
        old_val = F.col(f"s.{v}")
        msg_col = F.col("__msg")
        new_val = F.when(msg_col.isNull(), old_val).otherwise(f(key_col, old_val, msg_col))
        merged = joined.select(
            key_col.alias(k),
            new_val.alias("__new"),
            old_val.alias("__old"),
            msg_col.isNotNull().alias("__had_msg"),
        )
        next_state = pin(
            merged.filter(F.col("__new").isNotNull() | F.col("__old").isNotNull())
            .select(F.col(k), F.coalesce(F.col("__new"), F.col("__old")).alias(v)),
            eager=True,
        )
        delta = merged.filter(F.col("__had_msg") & F.col("__new").isNotNull()).select(
            F.col(k), F.col("__new").alias(v)
        )
        self._state = next_state
        return DataBag(pin(delta, eager=True))

    def bag(self) -> DataBag:
        """State snapshot (``MutableBag.scala:46-47``)."""
        return DataBag(self._state)

    def copy(self) -> "MutableBag":
        """(``MutableBag.scala:49-50``)."""
        return MutableBag(self._state, self.key, self.val)
