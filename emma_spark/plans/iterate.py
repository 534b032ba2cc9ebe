"""Driver-loop iteration with auto-caching (SURVEY §2.8, §4 #9).

Reference: while/do-while loops run on the driver; loop-invariant and
loop-carried bags are auto-cached by a compiler pass
(``compiler/opt/Caching.scala:57-130``: cache when used >1x, passed as
loop argument, or referenced from a loop closure); the Spark runtime
combinator is ``SparkOps.cache`` (``SparkOps.scala:54-59``).

Spark never auto-caches, so this module is the rebuild of that pass as
a *runtime service*: :func:`fixpoint` pins every loop-carried state
through :func:`emma_spark.plans.cache.pin` (lineage truncation — long
lineage chains are the classic iterative-Spark failure mode — under the
engine-wide pin mode) and releases superseded states (an improvement
over the reference, which never unpersists — SURVEY §7.3).

Release is RDD-level, not ``DataFrame.unpersist()``: a local
checkpoint persists the Dataset's *internal RDD* in the block manager,
and ``DataFrame.unpersist()`` only evicts CacheManager entries — it is
a silent no-op for checkpoint blocks. Every local pin therefore carries
its RDD id as a ``_ckpt_ids`` handle, and :func:`release` unpersists
it. Unpersisting a local checkpoint destroys the only copy (the lineage
was truncated), so a handle is released only once nothing lazy can
still read it.
"""

from __future__ import annotations

from typing import Callable

from ..core import DataBag
from .cache import pin


def _release_ids(sc, ids) -> None:
    """Unpersist the given RDD ids (non-blocking); missing ids are
    fine — the ContextCleaner may have raced us on a GC'd object."""
    jmap = sc._jsc.getPersistentRDDs()
    for i in ids:
        rdd = jmap.get(i)
        if rdd is not None:
            rdd.unpersist(False)


def _frame(x):
    """The DataFrame behind a DataBag or DataFrame (``getattr(x, "df")``
    would return a Column on a frame with a column named ``df``)."""
    return x.df if isinstance(x, DataBag) else x


def release(bag) -> None:
    """Free the checkpoint blocks behind a bag/DataFrame's ``_ckpt_ids``
    handle (set by :func:`emma_spark.plans.cache.pin`, so carried by
    :func:`fixpoint` results, ``lib.graphs`` results and anything
    passed through :func:`carry_ckpt`). Call it only AFTER the final
    output has been materialized (collected / written / re-pinned):
    the handle's blocks are the only copy of the state — any still-lazy
    plan over them would recompute into nothing. No-op for anything
    else."""
    df = _frame(bag)
    ids = getattr(df, "_ckpt_ids", None)
    if ids:
        _release_ids(df.sparkSession.sparkContext, ids)


def carry_ckpt(df, src):
    """Copy the release handle of ``src`` (a pinned bag/DataFrame)
    onto a DataFrame DERIVED from it, so the eventual consumer — who
    alone knows when the result has been materialized — can free the
    pinned blocks via :func:`release`. A function returning a derived
    frame without it drops the only handle, and each call leaves one
    pinned table behind until JVM GC."""
    ids = getattr(_frame(src), "_ckpt_ids", None)
    if ids:
        df._ckpt_ids = ids
    return df


def _content_sig(df) -> tuple:
    """(count, Σ xxhash64(row)) — a one-pass multiset-content signature.
    Row order and partitioning can't change it; any content change does
    (modulo a vanishing 64-bit collision chance)."""
    from pyspark.sql import functions as F

    # sum in decimal(38,0): full-range 64-bit hashes overflow a bigint
    # sum under ANSI mode
    row = F.xxhash64(F.struct(*[df[c] for c in df.columns])).cast("decimal(38,0)")
    r = df.agg(F.count(F.lit(1)).alias("n"), F.sum(row).alias("h")).collect()[0]
    return (r["n"], r["h"])


def fixpoint(
    init: "DataBag",
    step: Callable[["DataBag"], "DataBag"],
    converged: Callable[["DataBag", "DataBag"], bool] | None = None,
    max_iter: int = 50,
) -> "DataBag":
    """Iterate ``state = step(state)`` until ``converged(old, new)``.

    Default convergence is a CONTENT probe — (count, row-hash-sum)
    equality with the previous state — valid for any step, including
    value-propagation steps whose row count never changes (a bare count
    probe, the reference's usual fixpoint test,
    ``transitiveClosure.scala:27-41``, would falsely converge there).
    Pass ``converged`` for a cheaper problem-specific probe (e.g. the
    monotone label-sum in connected components).

    Persistence contract: every state, the returned one included, is an
    eager :func:`~emma_spark.plans.cache.pin` (materialized,
    lineage-truncated, stored under the engine-wide pin mode). A state
    is released once its successor is materialized and the convergence
    probe has read both, so the block manager holds exactly one state
    table afterwards. Free that last one with :func:`release` when
    done."""
    state = DataBag(pin(init.df, eager=True))
    prev_sig = _content_sig(state.df) if converged is None else None
    for _ in range(max_iter):
        nxt = DataBag(pin(step(state).df, eager=True))
        if converged is None:
            sig = _content_sig(nxt.df)
            done, prev_sig = sig == prev_sig, sig
        else:
            done = converged(state, nxt)
        release(state)
        state = nxt
        if done:
            break
    return state
