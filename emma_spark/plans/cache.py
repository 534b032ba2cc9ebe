"""Auto-cache service — the reference's caching pass as a runtime
ref-counter (SURVEY §4 #9, the one rewrite Catalyst does NOT provide).

Reference policy (``compiler/opt/Caching.scala:57-94``): cache a bag
that is (a) referenced more than once, (b) passed as a loop argument,
or (c) referenced from a loop closure. Case (a) is handled here; (b)
and (c) are owned by :func:`emma_spark.plans.iterate.fixpoint`.

The reference decides statically at compile time. Our analog exploits
laziness: DataBag plans are *constructed* before any action runs, so
counting consumptions at plan-construction time sees the full use
graph before materialization — the second consumption of the same
underlying DataFrame triggers ``persist()`` (lazy itself, so the first
action populates the cache and every later use reads it).

Scoped + off by default: ``with auto_cache():`` activates counting and
unpersists everything it cached on exit (the reference never
unpersists — SURVEY §7.3 flags that as our improvement).
"""

from __future__ import annotations

import threading
from contextlib import contextmanager
from typing import Iterator

_tls = threading.local()


def _scope():
    return getattr(_tls, "scope", None)


@contextmanager
def auto_cache(storage_level: str | None = None) -> Iterator[None]:
    """Activate use-counting auto-cache for the enclosed plan building.

    Nesting reuses the outer scope (one counter, outermost exit
    unpersists)."""
    if _scope() is not None:
        yield
        return
    scope = {"uses": {}, "persisted": [], "level": storage_level}
    _tls.scope = scope
    try:
        yield
    finally:
        _tls.scope = None
        for df in scope["persisted"]:
            df.unpersist()


def note_use(df) -> None:
    """Record one consumption of ``df``; persist on the second.

    Keyed by the DataFrame object: two DataBags wrapping the same
    DataFrame count together, semantically-equal but separately-built
    plans don't (same as the reference, which counts symbol refs, not
    plan equivalence)."""
    scope = _scope()
    if scope is None:
        return
    k = id(df)
    n = scope["uses"].get(k, 0) + 1
    scope["uses"][k] = n
    if n == 2:
        lvl = df.storageLevel
        if not (lvl.useMemory or lvl.useDisk):  # don't fight manual persists
            if scope["level"]:
                from pyspark import StorageLevel

                df.persist(getattr(StorageLevel, scope["level"]))
            else:
                df.persist()
            scope["persisted"].append(df)


def cached_count(df=None) -> int:
    """Introspection for tests: number of auto-persisted DataFrames in
    the active scope (or 0 outside one)."""
    scope = _scope()
    return len(scope["persisted"]) if scope else 0


# ---------------------------------------------------------------- pinning
# The one lineage cut in the engine: every pin (fixpoint states, the LSH
# bucket bag, the curation pipeline's `kept`, zip/pack offsets...) goes
# through pin(), so one policy knob selects how all of them are stored.

_pin_conf = {"reliable": False, "checkpoint_dir": None}


def configure_pinning(reliable: bool = False, checkpoint_dir: str | None = None):
    """Select the engine-wide pin mode.

    Default (``reliable=False``): ``localCheckpoint`` — executor-local
    blocks, zero DFS traffic; an executor loss FAILS the job
    (fail-and-rerun). Right for short jobs and local mode.

    ``reliable=True``: ``checkpoint()`` to ``checkpoint_dir`` (or a
    checkpoint dir already set on the SparkContext) — survives executor
    loss at the cost of a DFS write per pin. Right for multi-hour
    cluster runs where re-running from scratch costs more than the
    write."""
    _pin_conf["reliable"] = bool(reliable)
    _pin_conf["checkpoint_dir"] = checkpoint_dir


@contextmanager
def pinning(reliable: bool = False, checkpoint_dir: str | None = None) -> Iterator[None]:
    """Scoped :func:`configure_pinning` (restores the prior mode)."""
    prev = dict(_pin_conf)
    configure_pinning(reliable, checkpoint_dir)
    try:
        yield
    finally:
        _pin_conf.update(prev)


def pin(df, eager: bool = False):
    """Truncate lineage and materialize-once under the configured mode.

    Lazy by default (``eager=False``): the pin materializes inside the
    first consuming job rather than a separate serialized round.
    Reliable mode is always eager — Spark's ``checkpoint(eager=False)``
    only checkpoints if the plan is later executed via an action on the
    SAME object, which a pin-then-reuse-both-sides pattern does not
    guarantee.

    Release handle: a local pin persists exactly one RDD — the one its
    ``LogicalRDD`` scans — and the returned frame carries that id as
    ``_ckpt_ids``; :func:`emma_spark.plans.iterate.release` frees those
    blocks (``DataFrame.unpersist`` cannot: checkpoint blocks live in
    the block manager, not the CacheManager). Unreleased blocks are
    freed by the ContextCleaner once the frame is garbage. A reliable
    pin persists nothing and carries no handle; its checkpoint files
    are deleted by the ContextCleaner once their RDD is unreachable
    (``get_spark`` sets ``spark.cleaner.referenceTracking.
    cleanCheckpoints``), so a loop that pins every round does not pile
    up one directory per round."""
    if _pin_conf["reliable"]:
        sc = df.sparkSession.sparkContext
        cdir = _pin_conf["checkpoint_dir"]
        if cdir is not None:
            sc.setCheckpointDir(cdir)
        elif sc.getCheckpointDir() is None:
            raise ValueError(
                "reliable pinning needs a checkpoint dir: pass "
                "configure_pinning(reliable=True, checkpoint_dir=...) or "
                "sparkContext.setCheckpointDir(...)"
            )
        return df.checkpoint(eager=True)
    out = df.localCheckpoint(eager=eager)
    out._ckpt_ids = {out._jdf.logicalPlan().rdd().id()}
    return out
