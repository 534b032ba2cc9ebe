"""Similarity search over embedding columns (array<float/double>).

Two paths, matching the engine's scale doctrine:

- **brute-force cosine top-k**: exact; cross join queries × corpus.
  Correct baseline; cost Q×N — fine when Q is small or N fits a
  broadcast. All math in Column expressions (zip_with + aggregate),
  double precision, sequential summation (deterministic, DuckDB-
  mirrorable).
- **LSH-bucketed top-k (random hyperplanes)**: sign-bit bucket per
  vector from fixed seeded hyperplanes; candidates = same bucket (or
  neighboring buckets via multi-probe); exact cosine re-rank inside the
  bucket. Join cost Σ|bucket|² — the 100 TB path. (IVF would swap the
  bucketing for trained centroids; same plan shape: assign -> equi-join
  -> re-rank.)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..plans.cache import pin
from .text import md5_long

# ivf_topk's untrained centroid_mod fallback is O(N^2/mod) — fine for
# demos/tests, a cluster-killer on a real corpus. Hard ceiling:
_IVF_FALLBACK_MAX_ROWS = 100_000


def _rd(col: Column, dp: int) -> Column:
    """Cross-engine-stable rounding (floor(x*10^dp + 0.5)/10^dp)."""
    s = 10 ** dp
    return F.floor(col * s + F.lit(0.5)) / F.lit(s)


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two double-array Columns (sequential fold —
    bit-deterministic; cast float embeddings to double first)."""
    return _dot(a, b) / (_norm(a) * _norm(b))


def as_double(vec: Column) -> Column:
    return F.transform(vec, lambda v: v.cast("double"))


def nonzero(vec: Column) -> Column:
    """Zero-norm gate: TRUE iff any coordinate is nonzero.

    Cosine of a zero-norm vector is undefined — under ANSI the 0/0
    raises DIVIDE_BY_ZERO (found by ``tools/fuzz.py embeddings``; a
    100 TB corpus WILL contain zero embeddings from empty documents or
    padding rows). Every similarity entry point EXCLUDES zero vectors:
    the algebraic form of the ingest-time reject production vector
    stores apply. any-nonzero ⟺ norm² > 0 exactly for float32 inputs
    widened to double (the smallest subnormal squares to ~1e-90,
    representable). SQL twin: ``llm/similarity.SQL_NONZERO``."""
    return F.exists(vec, lambda v: v != 0.0)


def sql_nonzero(col: str) -> str:
    """DuckDB spelling of :func:`nonzero` for the oracle side."""
    return f"len(list_filter({col}, x -> x != 0)) > 0"


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 3,
    round_dp: int = 4,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Output: (query_id, neighbor_id, sim, rank). Plan: broadcast the
    query side (small by construction), per-row cosine in codegen, then
    a window top-k partitioned by query — one shuffle on query_id.
    Ties broken by neighbor id; sim rounded so cross-engine float
    noise can't flip ranks."""
    from pyspark.sql import Window

    q = queries.filter(nonzero(F.col(vec_col))).select(
        F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("qv")
    )
    c = corpus.filter(nonzero(F.col(vec_col))).select(
        F.col(id_col).alias("neighbor_id"), as_double(F.col(vec_col)).alias("cv")
    )
    sims = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            _rd(cosine(F.col("qv"), F.col("cv")), round_dp).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def hyperplane_bucket(vec: Column, dim: int, planes: int = 8, seed: int = 7) -> Column:
    """LSH bucket id: sign bits against `planes` pseudo-random
    hyperplanes. Hyperplane p's j-th coefficient = md5-derived value in
    [-1, 1] — deterministic, no fitted state, identical on any engine.

    The planes are ONE literal array-of-arrays and the sign bits fold
    via nested higher-order functions — a constant-size expression tree
    (an unrolled planes×dim sum blows up analysis + codegen time)."""
    plane_lits = F.array(
        *[
            F.array(*[F.lit(int_hash_unit(p * 10007 + j * 31 + seed)) for j in range(dim)])
            for p in range(planes)
        ]
    )
    vd = F.transform(vec, lambda v: v.cast("double"))
    bits = F.transform(
        plane_lits,
        lambda plane, i: F.when(
            _dot(plane, vd) > 0, F.pow(F.lit(2.0), i).cast("long")
        ).otherwise(F.lit(0).cast("long")),
    )
    return F.aggregate(bits, F.lit(0).cast("long"), lambda a, b: a + b)


def int_hash_unit(i: int) -> float:
    """Deterministic pseudo-random coefficient in [-1, 1] from an int —
    python-side constant folding (hyperplanes are literals in the plan)."""
    import hashlib

    h = int(hashlib.md5(str(i).encode()).hexdigest()[:14], 16)
    return (h / float(1 << 56)) * 2.0 - 1.0


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 3,
    planes: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Approximate top-k: bucket both sides on hyperplane sign bits,
    equi-join on bucket, exact cosine re-rank within candidates.

    The equi-join on bucket is the whole trick: candidate generation is
    a shuffle join on an int key — Σ|bucket|² work instead of Q×N.
    Recall is tunable via `planes` (fewer planes -> bigger buckets) or
    multi-probe (union joins on bucket XOR single-bit masks)."""
    from pyspark.sql import Window

    def with_bucket(df: DataFrame, id_alias: str, vec_alias: str) -> DataFrame:
        return df.filter(nonzero(F.col(vec_col))).select(
            F.col(id_col).alias(id_alias),
            as_double(F.col(vec_col)).alias(vec_alias),
            hyperplane_bucket(F.col(vec_col), dim, planes).alias("bucket"),
        )

    q = with_bucket(queries, "query_id", "qv")
    c = with_bucket(corpus, "neighbor_id", "cv").withColumnRenamed("bucket", "bucket_c")
    cand = q.join(c, (F.col("bucket") == F.col("bucket_c")) & (F.col("query_id") != F.col("neighbor_id")))
    sims = cand.select(
        "query_id", "neighbor_id", _rd(cosine(F.col("qv"), F.col("cv")), 4).alias("sim")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return sims.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 3,
    centroids: list[tuple[int, list[float]]] | None = None,
    centroid_mod: int = 61,
    nprobe: int = 2,
) -> DataFrame:
    """IVF-style approximate top-k: coarse centroids → inverted lists →
    probe → exact re-rank. The third ANN path next to brute force
    (exact, Q×N) and hyperplane LSH (data-independent buckets).

    ``centroids`` (the scale path): a TRAINED driver-side quantizer
    [(cid, vector), ...] — e.g. lib/ml/kmeans centroids or the
    quantized SQL-replayable Lloyd fit. C is FIXED, so assignment is a
    pure narrow projection: each vector folds a literal array of
    (−rounded_sim, cid) structs and takes array_sort's head — O(N·C)
    work, ZERO shuffle, no window, broadcast semantics by construction
    (same trick as lib/ml/kmeans._nearest). Queries probe their
    ``nprobe`` nearest lists the same way; the only shuffles left are
    the cid equi-join and the final per-query top-k window.

    Fallback (``centroids=None``, demo/test mode): centroids = every
    ``centroid_mod``-th corpus vector by id — training-free, but C
    grows ~N/mod so the N×C assignment pass (crossJoin + rank-1
    window, rounded sim + id tie-break) is O(N²/mod): correct at small
    SF, NOT the 100 TB path. ENFORCED, not just documented: the
    fallback refuses corpora above ``_IVF_FALLBACK_MAX_ROWS`` rows
    (the count costs one narrow scan of the id column — nothing next
    to the quadratic join it prevents)."""
    from pyspark.sql import Window

    if centroids is None:
        n_corpus = corpus.select(id_col).count()
        if n_corpus > _IVF_FALLBACK_MAX_ROWS:
            raise ValueError(
                f"ivf_topk centroid_mod fallback is O(N^2/mod) and the corpus "
                f"has {n_corpus} rows (> {_IVF_FALLBACK_MAX_ROWS}): train a "
                f"quantizer (e.g. lib.ml.kmeans) and pass centroids=[(cid, "
                f"vec), ...] — the trained path assigns in O(N*C) with zero "
                f"shuffle"
            )
    if centroids is not None and len(centroids) == 0:
        # zero trained centroids (empty training corpus): no inverted
        # lists exist — a NULL cid assigns nothing, the cid equi-join
        # drops every row, and the result is empty (F.array() of zero
        # structs is array<void> and fails analysis, so the literal
        # candidate array cannot even be built)
        def top_cids(vec: Column, n: int) -> Column:
            return F.lit(None).cast("array<int>")

        assign = corpus.filter(nonzero(F.col(vec_col))).select(
            F.col(id_col).alias("neighbor_id"),
            as_double(F.col(vec_col)).alias("cv"),
            top_cids(as_double(F.col(vec_col)), 1)[0].alias("cid"),
        )
        probes = queries.filter(nonzero(F.col(vec_col))).select(
            F.col(id_col).alias("query_id"),
            as_double(F.col(vec_col)).alias("qv"),
            F.explode(top_cids(as_double(F.col(vec_col)), nprobe)).alias("cid"),
        )
    elif centroids is not None:
        def top_cids(vec: Column, n: int) -> Column:
            cands = F.array(
                *[
                    F.struct(
                        (-_rd(cosine(vec, F.array(*[F.lit(float(x)) for x in cv])), 4)
                         ).alias("negsim"),
                        F.lit(int(cid)).alias("cid"),
                    )
                    for cid, cv in centroids
                ]
            )
            return F.slice(F.array_sort(cands), 1, n).getField("cid")

        assign = corpus.filter(nonzero(F.col(vec_col))).select(
            F.col(id_col).alias("neighbor_id"),
            as_double(F.col(vec_col)).alias("cv"),
            top_cids(as_double(F.col(vec_col)), 1)[0].alias("cid"),
        )
        probes = queries.filter(nonzero(F.col(vec_col))).select(
            F.col(id_col).alias("query_id"),
            as_double(F.col(vec_col)).alias("qv"),
            F.explode(top_cids(as_double(F.col(vec_col)), nprobe)).alias("cid"),
        )
    else:
        cents = F.broadcast(
            corpus.filter(
                (F.col(id_col) % centroid_mod == 0) & nonzero(F.col(vec_col))
            ).select(
                F.col(id_col).alias("cid"), as_double(F.col(vec_col)).alias("cvv")
            )
        )

        def nearest(df: DataFrame, id_alias: str, vec_alias: str, n: int) -> DataFrame:
            base = df.filter(nonzero(F.col(vec_col))).select(
                F.col(id_col).alias(id_alias), as_double(F.col(vec_col)).alias(vec_alias)
            )
            w = Window.partitionBy(id_alias).orderBy(
                F.desc(_rd(cosine(F.col(vec_alias), F.col("cvv")), 4)), F.asc("cid")
            )
            return (
                base.crossJoin(cents)
                .withColumn("__rk", F.row_number().over(w))
                .filter(F.col("__rk") <= n)
                .select(id_alias, vec_alias, "cid")
            )

        assign = nearest(corpus, "neighbor_id", "cv", 1)
        probes = nearest(queries, "query_id", "qv", nprobe)
    sims = (
        probes.join(assign, "cid")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id", "neighbor_id", _rd(cosine(F.col("qv"), F.col("cv")), 4).alias("sim")
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return sims.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def embedding_neardup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    min_sim: float = 0.95,
    blocking: str = "lsh",
    blocks: int = 20,
    planes: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (a < b, sim >= min_sim).

    ``blocking="lsh"`` (the default, the scale path): block key =
    `hyperplane_bucket` sign bits, so candidate pairs are
    similarity-driven — vectors at angle θ co-bucket with probability
    (1 - θ/π)^planes, concentrating exactly the high-cosine pairs the
    operator exists to find, at Σ|bucket|² join cost. Recall/cost
    tunes via ``planes`` (fewer planes → bigger buckets → higher
    recall). ``blocking="mod"`` (explicit demo/test mode only) blocks
    on ``id % blocks``: bounded cost but similarity-blind — it
    inspects only same-residue pairs and silently misses the rest, so
    it is never the default."""
    if blocking == "lsh":
        blk = hyperplane_bucket(F.col(vec_col), dim, planes)
    elif blocking == "mod":
        blk = F.col(id_col) % blocks
    else:
        raise ValueError(f"blocking must be 'lsh' or 'mod', got {blocking!r}")
    base = df.filter(nonzero(F.col(vec_col))).select(
        F.col(id_col), blk.alias("__blk"), as_double(F.col(vec_col)).alias("v")
    )
    if blocking == "lsh":
        base = pin(base)  # unpinned: median ×1.08 sf0.1 / ×1.02 sf1
    l = base.select(F.col(id_col).alias("a"), "__blk", F.col("v").alias("va"))
    r = base.select(F.col(id_col).alias("b"), F.col("__blk").alias("__blk_r"), F.col("v").alias("vb"))
    pairs = l.join(r, (F.col("__blk") == F.col("__blk_r")) & (F.col("a") < F.col("b")))
    return (
        pairs.select("a", "b", _rd(cosine(F.col("va"), F.col("vb")), 4).alias("sim"))
        .filter(F.col("sim") >= min_sim)
    )


def gram_matrix_pandas(df, vec_col: str = "embedding", dim: int = 64):
    """Per-partition numpy Gram accumulation — the SCALE path for
    full-width moment matrices (the exploded exact formulation of
    embedding_corr_matrix fans out d(d+1)/2 rows per vector; this
    moves the O(n·d²) work into vectorized BLAS inside Arrow batches
    and ships ONE (d² + d + 1)-cell partial per partition, combined
    by a final sum — identical cells, because the per-row products
    are the same exact integers). Returns (i, j, n, sx, sy, sxx,
    syy, sxy) for i <= j, 1-based, matching the exploded path."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    q = df.select(
        F.transform(
            as_double(F.col(vec_col)),
            lambda x: F.floor(x * 10000 + F.lit(0.5)).cast("bigint"),
        ).alias("vq")
    )

    def part(batches):
        G = np.zeros((dim, dim), dtype=object)  # exact python ints
        s = np.zeros(dim, dtype=object)
        n = 0
        for pdf in batches:
            for v in pdf["vq"]:
                a = np.array(v, dtype=object)
                G += np.outer(a, a)
                s += a
                n += 1
        rows = {
            "i": [], "j": [], "n": [], "sx": [], "sy": [],
            "sxx": [], "syy": [], "sxy": [],
        }
        for i in range(dim):
            for j in range(i, dim):
                rows["i"].append(i + 1)
                rows["j"].append(j + 1)
                rows["n"].append(n)
                rows["sx"].append(int(s[i]))
                rows["sy"].append(int(s[j]))
                rows["sxx"].append(int(G[i][i]))
                rows["syy"].append(int(G[j][j]))
                rows["sxy"].append(int(G[i][j]))
        yield pd.DataFrame(rows)

    schema = ("i long, j long, n long, sx long, sy long,"
              " sxx long, syy long, sxy long")
    partials = q.mapInPandas(part, schema)
    return partials.groupBy("i", "j").agg(
        F.sum("n").alias("n"),
        F.sum("sx").alias("sx"), F.sum("sy").alias("sy"),
        F.sum("sxx").alias("sxx"), F.sum("syy").alias("syy"),
        F.sum("sxy").alias("sxy"),
    )
