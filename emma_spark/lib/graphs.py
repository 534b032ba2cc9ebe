"""Graph algorithms over edge DataFrames (src, dst).

Reference: ``emma-lib/.../lib/graphs/transitiveClosure.scala:22-44``,
``emma-examples/.../graphs/ConnectedComponents.scala:25-53``,
``EnumerateTriangles.scala:25-42``. The workload registry
(workloads/graph.py) runs these same shapes against recursive-CTE
DuckDB oracles; this module is the reusable API surface.

Scale notes: every iteration pins its state through
``plans.iterate.fixpoint`` (lineage truncation — emma's auto-cache,
``Caching.scala:57-130``); closure uses path doubling (O(log d)
rounds); components propagate min labels with one shuffle per round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..core import DataBag
from ..plans.cache import pin
from ..plans.iterate import fixpoint, release


def transitive_closure(edges: DataFrame, max_iter: int = 20) -> DataFrame:
    """All reachable (src, dst) pairs — path doubling."""
    paths = DataBag(edges.select("src", "dst"))

    def step(p: DataBag) -> DataBag:
        ext = p.equi_join(p, "dst", "src").select(
            F.col("l.src").alias("src"), F.col("r.dst").alias("dst")
        )
        return p.union(ext).distinct()

    bag = fixpoint(paths, step, max_iter=max_iter)
    return bag.df


def connected_components(edges: DataFrame, max_iter: int = 50) -> DataFrame:
    """(id, comp=min reachable id) via min-label propagation."""
    e = edges.select("src", "dst")
    ue = e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))).persist()
    nodes = ue.select(F.col("src").alias("id")).distinct()
    labels = DataBag(nodes.withColumn("comp", F.col("id")))

    def step(lb: DataBag) -> DataBag:
        nbr = (
            lb.df.alias("l")
            .join(ue.alias("e"), F.col("l.id") == F.col("e.src"))
            .select(F.col("e.dst").alias("id"), F.col("l.comp").alias("comp"))
        )
        return DataBag(lb.df.unionByName(nbr).groupBy("id").agg(F.min("comp").alias("comp")))

    def converged(old: DataBag, new: DataBag) -> bool:
        return (
            new.df.agg(F.sum("comp")).collect()[0][0]
            == old.df.agg(F.sum("comp")).collect()[0][0]
        )

    bag = fixpoint(labels, step, converged=converged, max_iter=max_iter)
    ue.unpersist()
    return bag.df


def page_rank_int(
    edges: DataFrame,
    nodes: DataFrame,
    iters: int = 3,
    damping: float = 0.85,
    unit: int = 10**12,
) -> DataFrame:
    """PageRank power iteration in INTEGER micro-units (1 = 1/unit of
    probability mass) — every step is exact integer arithmetic (sums,
    ``div``), so the result is bit-identical on any engine and an SQL
    oracle can replay it. The damping factor is quantized ONCE to
    d100 = round(damping·100) and that same d100 drives both the
    teleport mass and the per-iteration multiply — mixing the float
    ``damping`` into either would leak IEEE rounding (e.g.
    int(0.29·100) == 28) and break mass conservation.

    pr_0 = unit/N;  pr_{i+1}(v) = teleport + (d100 · Σ_{u→v} pr_i(u)
    div outdeg(u)) div 100 with teleport = (unit − d100·unit div 100)
    div N in exact ints. A driver loop over DataFrame joins — emma's
    iteration model (SURVEY §2.8): the loop is control flow, each
    step is a plan. Every node here must have out-edges (no
    dangling-mass term).

    Pins are SIZE-GATED on the node count we compute anyway (under
    ~1000 nodes each pin's materialization round costs more than the
    recompute it saves) and released as described in _power_iterate,
    so the block manager holds one rank table at exit."""
    n = nodes.count()
    if n == 0:
        # an empty node set has no rank distribution: zero rows (every
        # CTE of the SQL replay is empty too); no checkpoint handle —
        # release() is a documented no-op without one
        return nodes.select(F.col("id"), F.lit(0).cast("bigint").alias("pr"))
    d100 = round(damping * 100)
    teleport = (unit - d100 * unit // 100) // n
    pr0 = nodes.select(F.col("id"), F.lit(unit // n).cast("bigint").alias("pr"))
    return _power_iterate(
        edges, nodes, pr0, F.lit(teleport), d100, iters, gate=n >= 1000
    )


def _power_iterate(edges, nodes, pr0, teleport_col, d100, iters, gate):
    """Shared exact-integer power-iteration loop (uniform and
    personalized PageRank): one contribution join + hash-agg per
    round. Each rank table feeds only the next round's contribution
    join, so there is no recompute blowup to prevent; when ``gate`` is
    set the loop pins anyway, because it pays on sf-scaled graphs
    (graph_pagerank_sf in same-seed traced iterative_sf01 runs, one run
    each on 4 cores: 2.30-2.54 s per pass pinned, 2.67-3.31 s
    unpinned). The edge and degree tables are pinned once (read every
    round); each rank table gets a LAZY pin — the logical plan is cut at
    call time, the blocks are written by the next eager job — and only
    every _FLUSH_EVERY-th and the final table is eager, so a shallow
    loop runs as one pipelined Spark job while a deep one holds at most
    _FLUSH_EVERY·|V| rank rows in the block manager.

    Release: every pin is released once an eager materialization makes
    it unreachable, except the returned rank table, which carries its
    own ``_ckpt_ids`` handle for the caller."""
    _FLUSH_EVERY = 8
    pinned = []  # pins made here and not yet released, oldest first

    def cut(df, eager=False):
        if gate:
            df = pin(df, eager=eager)
            pinned.append(df)
        return df

    edges = cut(edges)
    deg = cut(edges.groupBy("src").agg(F.count(F.lit(1)).alias("__d")))
    pr = pr0
    for i in range(iters):
        contrib = (
            edges.join(pr, edges["src"] == pr["id"])
            .join(deg, "src")
            .select(F.col("dst").alias("id"), F.expr("pr div __d").alias("__c"))
            .groupBy("id")
            .agg(F.sum("__c").alias("__c"))
        )
        eager = (i == iters - 1) or ((i + 1) % _FLUSH_EVERY == 0)
        pr = cut(
            nodes.join(contrib, "id", "left").select(
                F.col("id"),
                (
                    teleport_col
                    + F.expr(f"({d100} * coalesce(__c, 0)) div 100")
                ).cast("bigint").alias("pr"),
            ),
            eager=eager,
        )
        if eager:
            # this job wrote every lazy predecessor's blocks, and no
            # live plan reads them any more
            for df in pinned[2:-1]:
                release(df)
            del pinned[2:-1]
    # the final pr is materialized: the edge and degree pins are done
    for df in pinned:
        if df is not pr:
            release(df)
    return pr


def graph_preprocessing(collabs: DataFrame, src: str, dst: str, proj) -> DataFrame:
    """Labeled-edge extraction with a higher-order aggregate parameter —
    GraphPreprocessing parity (``emma-examples/src/main/scala/org/
    emmalanguage/examples/imdb/GraphPreprocessing.scala:26-52``): group
    a bag of collaborations by (src, dst) and label each edge with
    ``proj(cs)``, where ``proj`` is the caller-supplied ``Proj[L] =
    DataBag[Collaboration] => L``.

    ``proj`` receives a :class:`~emma_spark.functions.alg.BagExpr` (the
    group bag in fold position) and returns either one Column or a
    dict of named label Columns (tuple-typed L). Because every BagExpr
    fold is an aggregate expression, the lowering is a single
    partial-aggregated ``groupBy(src, dst).agg(...)`` — the reference's
    fold-group fusion applied THROUGH the HOF parameter, with the
    group bag never materialized."""
    from ..functions.alg import BagExpr

    label = proj(BagExpr())
    if isinstance(label, dict):
        cols = [c.alias(n) for n, c in label.items()]
    else:
        cols = [label.alias("label")]
    return collabs.groupBy(src, dst).agg(*cols)


def triangles(edges: DataFrame) -> DataFrame:
    """Canonical triangles (x<y<z) by 3-way self-join on oriented edges."""
    e = (
        edges.select(
            F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .persist()
    )
    e1 = e.select(F.col("u").alias("x"), F.col("v").alias("y"))
    e2 = e.select(F.col("u").alias("y2"), F.col("v").alias("z"))
    e3 = e.select(F.col("u").alias("x3"), F.col("v").alias("z3"))
    out = (
        e1.join(e2, F.col("y") == F.col("y2"))
        .join(e3, (F.col("x") == F.col("x3")) & (F.col("z") == F.col("z3")))
        .select("x", "y", "z")
    )
    return out


def personalized_page_rank_int(
    edges: DataFrame,
    nodes: DataFrame,
    seed: int,
    iters: int = 3,
    damping: float = 0.85,
    unit: int = 10**12,
) -> DataFrame:
    """PERSONALIZED PageRank (random walk with restart to ONE seed
    node) under the same exact-integer contract as page_rank_int: the
    teleport mass (1-d) goes entirely to the seed instead of being
    spread uniformly, and the walk starts AT the seed (pr_0 = unit at
    seed, 0 elsewhere), so the stationary mass ranks nodes by
    PROXIMITY to the seed — the similarity/recommendation variant of
    PageRank (Jeh & Widom, WWW'03). Same quantized-d100 rule, same
    div-based integer flow, bit-identical on any engine; an SQL
    oracle unrolls the iterations. At scale the per-iteration plan is
    unchanged from uniform PageRank (one join + one hash-agg); only
    the teleport vector differs — it shares _power_iterate and thus
    the same size-gated pins and release."""
    d100 = round(damping * 100)
    teleport = unit - d100 * unit // 100
    n = nodes.count()
    pr0 = nodes.select(
        F.col("id"),
        F.when(F.col("id") == seed, F.lit(unit)).otherwise(F.lit(0))
          .cast("bigint").alias("pr"),
    )
    tele_col = F.when(F.col("id") == seed, F.lit(teleport)).otherwise(F.lit(0))
    return _power_iterate(
        edges, nodes, pr0, tele_col, d100, iters, gate=n >= 1000
    )
