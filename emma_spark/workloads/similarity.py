"""Similarity-search workloads over `embeddings` (array<float> × 64).

The oracles recompute cosine with explicit dot/norm folds so both
engines do the same double-precision sequential arithmetic; sims are
rounded to 4dp before ranking/thresholding with id tie-breaks, so IEEE
noise cannot flip results."""

from __future__ import annotations

from pyspark.sql import functions as F

from ..llm import similarity as S
from ..llm.similarity import int_hash_unit
from ..sources import io
from . import query, sum_long_exact

def sql_cos(a: str = "qv", b: str = "cv") -> str:
    """Cosine of two DOUBLE[] columns as an explicit dot/norm fold."""
    return (
        f"list_sum(list_transform(range(1, len({a})+1), i -> {a}[i] * {b}[i]))"
        f" / (sqrt(list_sum(list_transform({a}, x -> x*x)))"
        f" * sqrt(list_sum(list_transform({b}, x -> x*x))))"
    )


SQL_COS = sql_cos("qv", "cv")

# zero-norm gate (the tools/fuzz.py embeddings finding): cosine of a zero
# vector is 0/0 — every similarity oracle excludes zero vectors exactly
# like the engine side (llm/similarity.nonzero)
NZ = S.sql_nonzero


def _bucket_sql(vcol: str, planes: int = 6, dim: int = 64, seed: int = 7) -> str:
    """SQL twin of llm/similarity.hyperplane_bucket: the SAME md5-derived
    hyperplane coefficients (repr() round-trips doubles exactly, and
    DuckDB parses decimal literals to nearest double — the identical
    bits Spark folds), and the SAME left-to-right sequential dot fold
    (list_reduce ≡ F.aggregate from 0.0: IEEE 0.0+x == x)."""
    bits = []
    for p in range(planes):
        coeffs = ", ".join(
            repr(int_hash_unit(p * 10007 + j * 31 + seed)) for j in range(dim)
        )
        dot = (
            f"list_reduce(list_transform(range(1, {dim + 1}), "
            f"i -> ([{coeffs}])[i] * {vcol}[i]), (a, b) -> a + b)"
        )
        bits.append(f"CASE WHEN {dot} > 0 THEN {1 << p} ELSE 0 END")
    return "CAST(" + " + ".join(bits) + " AS BIGINT)"


@query(
    "ann_topk_cosine",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
               FROM embeddings WHERE vec_id < 10 AND {NZ('embedding')}),
    c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv
          FROM embeddings WHERE {NZ('embedding')}),
    sims AS (
      SELECT query_id, neighbor_id, floor(({SQL_COS}) * 10000 + 0.5) / 10000 AS sim
      FROM q CROSS JOIN c WHERE query_id != neighbor_id
    )
    SELECT query_id, neighbor_id, sim, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY sim DESC, neighbor_id) AS rank
      FROM sims
    ) WHERE rank <= 3
    """,
    headline=True,
)
def ann_topk_cosine(spark, sf_dir):
    """Brute-force exact top-3 cosine neighbors for 10 query vectors:
    broadcast queries × corpus scan + window top-k. The exact baseline
    the LSH path is measured against."""
    emb = io.fan_out(io.read_parquet(spark, f"{sf_dir}/embeddings.parquet").df)
    queries = emb.filter(F.col("vec_id") < 10)
    return S.brute_force_topk(emb, queries, k=3)


@query(
    "embedding_neardup",
    oracle=f"""
    WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
                  WHERE {NZ('embedding')}),
    b AS (SELECT vec_id, v, {_bucket_sql('v', planes=6, dim=64)} AS blk FROM base),
    pairs AS (
      SELECT l.vec_id AS a, r.vec_id AS b, l.v AS qv, r.v AS cv
      FROM b l JOIN b r ON l.blk = r.blk AND l.vec_id < r.vec_id
    )
    SELECT a, b, floor(({SQL_COS}) * 10000 + 0.5) / 10000 AS sim FROM pairs
    WHERE floor(({SQL_COS}) * 10000 + 0.5) / 10000 >= 0.30
    """,
)
def embedding_neardup(spark, sf_dir):
    """Embedding-cosine near-dup pairs with the DEFAULT similarity-
    driven blocking: hyperplane-LSH buckets (6 planes — the same
    literal hyperplanes the ann_lsh query folds), so candidates are
    angle-concentrated rather than id-residue-blind (``blocking="mod"``
    survives as an explicit demo mode). Threshold 0.30 keeps a NONZERO
    matched set on the synthetic data (47 in-bucket pairs >= 0.30 at
    sf0.01, in-bucket max 0.47) — a 0.8 cutoff would trivially pass on
    0 rows; the oracle replays bucketing, join and rounded cosine."""
    emb = io.fan_out(io.read_parquet(spark, f"{sf_dir}/embeddings.parquet").df)
    return S.embedding_neardup_pairs(emb, min_sim=0.30, planes=6, dim=64)


@query(
    "ann_lsh_topk",
    oracle=f"""
    WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
                  WHERE {NZ('embedding')}),
    b AS (SELECT vec_id, v, {_bucket_sql('v', planes=6, dim=64)} AS bucket FROM base),
    q AS (SELECT vec_id AS query_id, v AS qv, bucket FROM b WHERE vec_id < 10),
    c AS (SELECT vec_id AS neighbor_id, v AS cv, bucket AS bucket_c FROM b),
    sims AS (
      SELECT query_id, neighbor_id,
             floor(({SQL_COS}) * 10000 + 0.5) / 10000 AS sim
      FROM q JOIN c ON bucket = bucket_c AND query_id != neighbor_id
    )
    SELECT query_id, neighbor_id, sim, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY sim DESC, neighbor_id) AS rank
      FROM sims
    ) WHERE rank <= 3
    """,
)
def ann_lsh_topk(spark, sf_dir):
    """LSH-bucketed approximate top-k (random hyperplane sign buckets +
    exact re-rank inside buckets). The hyperplanes are literal
    md5-derived constants and the dot is a sequential double fold, so
    the "approximate" query is fully deterministic and its oracle
    replays bucketing + re-rank exactly (same literals, same fold
    order); recall vs brute force is additionally asserted in tests."""
    emb = io.fan_out(io.read_parquet(spark, f"{sf_dir}/embeddings.parquet").df)
    queries = emb.filter(F.col("vec_id") < 10)
    return S.lsh_topk(emb, queries, k=3, planes=6, dim=64)


@query(
    "ann_ivf_topk",
    oracle=f"""
    WITH cents AS (
      SELECT vec_id AS cid, embedding::DOUBLE[] AS cvv
      FROM embeddings WHERE vec_id % 61 = 0 AND {NZ('embedding')}
    ),
    corp AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv
             FROM embeddings WHERE {NZ('embedding')}),
    assign AS (
      SELECT neighbor_id, cv, cid FROM (
        SELECT corp.neighbor_id, corp.cv, cents.cid,
               row_number() OVER (
                 PARTITION BY corp.neighbor_id
                 ORDER BY floor(({sql_cos('cv', 'cvv')}) * 10000 + 0.5) / 10000 DESC,
                          cents.cid) AS rk
        FROM corp CROSS JOIN cents
      ) WHERE rk = 1
    ),
    q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
          FROM embeddings WHERE vec_id < 10 AND {NZ('embedding')}),
    probes AS (
      SELECT query_id, qv, cid FROM (
        SELECT q.query_id, q.qv, cents.cid,
               row_number() OVER (
                 PARTITION BY q.query_id
                 ORDER BY floor(({sql_cos('qv', 'cvv')}) * 10000 + 0.5) / 10000 DESC,
                          cents.cid) AS rk
        FROM q CROSS JOIN cents
      ) WHERE rk <= 2
    ),
    sims AS (
      SELECT query_id, neighbor_id,
             floor(({SQL_COS}) * 10000 + 0.5) / 10000 AS sim
      FROM probes JOIN assign USING (cid)
      WHERE query_id != neighbor_id
    )
    SELECT query_id, neighbor_id, sim, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY sim DESC, neighbor_id) AS rank
      FROM sims
    ) WHERE rank <= 3
    """,
)
def ann_ivf_topk(spark, sf_dir):
    """IVF-style ANN (llm/similarity.ivf_topk), UNTRAINED demo variant:
    deterministic modulo-sampled coarse centroids → inverted-list
    assignment → nprobe=2 probing → equi-join candidates → exact
    cosine re-rank. C grows ~N/61 here, so ann_ivf_trained (fixed-C
    Lloyd quantizer) is the scale path; this row keeps the
    training-free plan value-hash checked."""
    emb = io.fan_out(io.read_parquet(spark, f"{sf_dir}/embeddings.parquet").df)
    queries = emb.filter(F.col("vec_id") < 10)
    return S.ivf_topk(emb, queries, k=3, centroid_mod=61, nprobe=2)


def _ivf_trained_oracle() -> str:
    from .ml import _kmeans_fit_ctes

    return f"""
    WITH {_kmeans_fit_ctes(iters=2, k=4, dims=64)},
    cvec AS (SELECT cid, list(value ORDER BY pos) AS cvv FROM centq GROUP BY cid),
    corp AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv
             FROM embeddings WHERE {NZ('embedding')}),
    assign AS (
      SELECT neighbor_id, cv, cid FROM (
        SELECT corp.neighbor_id, corp.cv, cvec.cid,
               row_number() OVER (
                 PARTITION BY corp.neighbor_id
                 ORDER BY floor(({sql_cos('cv', 'cvv')}) * 10000 + 0.5) / 10000 DESC,
                          cvec.cid) AS rk
        FROM corp CROSS JOIN cvec
      ) WHERE rk = 1
    ),
    q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
          FROM embeddings WHERE vec_id < 10 AND {NZ('embedding')}),
    probes AS (
      SELECT query_id, qv, cid FROM (
        SELECT q.query_id, q.qv, cvec.cid,
               row_number() OVER (
                 PARTITION BY q.query_id
                 ORDER BY floor(({sql_cos('qv', 'cvv')}) * 10000 + 0.5) / 10000 DESC,
                          cvec.cid) AS rk
        FROM q CROSS JOIN cvec
      ) WHERE rk <= 2
    ),
    sims AS (
      SELECT query_id, neighbor_id,
             floor(({SQL_COS}) * 10000 + 0.5) / 10000 AS sim
      FROM probes JOIN assign USING (cid)
      WHERE query_id != neighbor_id
    )
    SELECT query_id, neighbor_id, sim, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY sim DESC, neighbor_id) AS rank
      FROM sims
    ) WHERE rank <= 3
    """


@query("ann_ivf_trained", oracle=_ivf_trained_oracle())
def ann_ivf_trained(spark, sf_dir):
    """IVF with a TRAINED fixed-C quantizer — the 100 TB ANN path
    (closes the untrained variant's C~N/61 scale caveat): centroids
    come from the quantized SQL-replayable Lloyd fit (workloads/ml.
    quantized_kmeans_fit, k=4 over all 64 dims, values on the 1e-6
    grid), collected to the driver (k·D doubles — model-sized state,
    as in lib/ml/kmeans), and assignment becomes a literal-array
    struct-sort projection: O(N·C) narrow work, zero shuffle, no
    window. The oracle replays the entire composition — Lloyd fit
    CTEs, nearest-list assignment, nprobe=2 probing, exact cosine
    re-rank."""
    from .ml import quantized_kmeans_fit

    emb = io.fan_out(io.read_parquet(spark, f"{sf_dir}/embeddings.parquet").df)
    fitted = quantized_kmeans_fit(emb, iters=2, k=4, dims=64).collect()
    acc: dict[int, dict[int, float]] = {}
    for r in fitted:
        acc.setdefault(r["cid"], {})[r["pos"]] = r["value"]
    cents = sorted((cid, [d[p] for p in sorted(d)]) for cid, d in acc.items())
    queries = emb.filter(F.col("vec_id") < 10)
    return S.ivf_topk(emb, queries, k=3, centroids=cents, nprobe=2)


@query(
    "embedding_normalize",
    oracle="""
    SELECT vec_id,
           floor(sqrt(list_sum(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) * 1000000
                 + 0.5) / 1000000 AS l2_norm,
           floor(CAST(embedding[1] AS DOUBLE)
                 / sqrt(list_sum(list_transform(embedding,
                       x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                 * 1000000 + 0.5) / 1000000 AS first_unit
    FROM embeddings
    WHERE len(list_filter(embedding, x -> x != 0)) > 0
    """,
)
def embedding_normalize(spark, sf_dir):
    """Vector arithmetic surface: L2 norm + first unit-vector
    component via array HOFs (``aggregate``/``transform``) — the
    embedding-preprocessing step every ANN path assumes, entirely
    JVM-side Column math (no UDF, no shuffle, whole-stage codegen).
    float32→float64 BEFORE squaring on both engines (DuckDB list_sum
    would otherwise accumulate in float32 and diverge). Zero-norm
    vectors are EXCLUDED (their unit vector is 0/0 — the ingest
    reject, llm/similarity.nonzero)."""
    from ..llm.similarity import _norm, as_double, nonzero

    emb = io.read_parquet(spark, f"{sf_dir}/embeddings.parquet").df
    emb = emb.filter(nonzero(F.col("embedding")))
    v = as_double(F.col("embedding"))
    n = _norm(v)
    return emb.select(
        "vec_id",
        (F.floor(n * 1000000 + F.lit(0.5)) / 1000000).alias("l2_norm"),
        (F.floor(v[0] / n * 1000000 + F.lit(0.5)) / 1000000).alias("first_unit"),
    )


@query(
    "embedding_centroids",
    oracle="""
    WITH pos AS (
      SELECT e.label, t.i AS pos,
             CAST(floor(CAST(e.embedding[t.i] AS DOUBLE) * 1000000 + 0.5)
                  AS BIGINT) AS v_c
      FROM embeddings e,
           unnest(generate_series(1, len(e.embedding))) AS t(i)
    )
    SELECT label, pos, count(*) AS n_vecs,
           floor(sum(v_c) * 1.0 / count(*) + 0.5) / 1000000 AS centroid_val
    FROM pos GROUP BY label, pos
    """,
)
def embedding_centroids(spark, sf_dir):
    """Per-label mean embedding (class centroids) — the aggregation
    behind nearest-centroid classifiers, cluster summaries, and IVF
    quantizer seeding. posexplode → (label, dim) hash-agg: map-side
    partial sums reduce the shuffle to |labels|·d cells no matter how
    many vectors stream through — the ONLY scalable shape for
    vector-mean at 100 TB (collecting vectors to average on a driver
    is the anti-pattern). Components quantized to exact micro-units
    before summing; the mean is one IEEE division + floor, identical
    on both engines. Spark's 0-based posexplode is shifted to the
    oracle's 1-based list indexing."""
    emb = io.read_parquet(spark, f"{sf_dir}/embeddings.parquet").df
    exploded = emb.select(
        "label", F.posexplode(F.col("embedding")).alias("pos0", "v")
    ).select(
        "label",
        (F.col("pos0") + 1).alias("pos"),
        F.floor(F.col("v").cast("double") * 1000000 + F.lit(0.5))
        .cast("bigint")
        .alias("v_c"),
    )
    return exploded.groupBy("label", "pos").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        (F.floor(F.sum("v_c") / F.count(F.lit(1)) + F.lit(0.5)) / 1000000
         ).alias("centroid_val"),
    )


@query(
    "embedding_negative_sample",
    oracle="""
    WITH n AS (SELECT count(*) AS n FROM embeddings),
    a AS (SELECT vec_id AS anchor_id, label AS anchor_label
          FROM embeddings WHERE vec_id < 50),
    cand AS (
      SELECT anchor_id, anchor_label, j,
             (anchor_id * 2654435761 + j * 40503) % n.n AS neg_id
      FROM a, n, unnest([1, 2, 3, 4]) AS t(j)
    )
    SELECT c.anchor_id, c.j, c.neg_id, e.label AS neg_label,
           e.label = c.anchor_label AS is_false_negative
    FROM cand c JOIN embeddings e ON c.neg_id = e.vec_id
    WHERE c.neg_id != c.anchor_id
    """,
)
def embedding_negative_sample(spark, sf_dir):
    """Deterministic negative sampling for contrastive training: each
    anchor draws 4 pseudo-random corpus rows by pure ARITHMETIC on a
    Knuth multiplicative hash ((anchor*2654435761 + j*40503) mod N) —
    no RNG state, no sampling shuffle, bit-identical on any engine,
    partitioning, or rerun (the exponential-clock lesson from
    text_weighted_sample applied to pair mining). The candidate ids
    then fetch their labels/features with ONE equi-join against the
    corpus (uniform key distribution by construction — no hot
    negatives). Rows whose draw collides with the anchor are dropped;
    draws landing on the anchor's own class are FLAGGED
    (is_false_negative) rather than silently kept — the in-batch
    false-negative audit every contrastive pipeline needs. N arrives
    via a 1-row count broadcast, not a driver constant, so the query
    is SF-invariant."""
    emb = io.fan_out(io.read_parquet(spark, f"{sf_dir}/embeddings.parquet").df)
    n = emb.agg(F.count(F.lit(1)).alias("n"))
    a = emb.filter(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("anchor_id"), F.col("label").alias("anchor_label")
    )
    cand = (
        a.crossJoin(F.broadcast(n))
        .select(
            "anchor_id", "anchor_label",
            F.explode(F.array(*[F.lit(j) for j in (1, 2, 3, 4)])).alias("j"),
            "n",
        )
        .select(
            "anchor_id", "anchor_label", "j",
            ((F.col("anchor_id") * 2654435761 + F.col("j") * 40503) % F.col("n"))
            .alias("neg_id"),
        )
        .filter(F.col("neg_id") != F.col("anchor_id"))
    )
    corpus = emb.select(F.col("vec_id").alias("neg_id"),
                        F.col("label").alias("neg_label"))
    return cand.join(corpus, "neg_id").select(
        "anchor_id", "j", "neg_id", "neg_label",
        (F.col("neg_label") == F.col("anchor_label")).alias("is_false_negative"),
    )


@query(
    "embedding_quantize_int8",
    oracle="""
    WITH base AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    scaled AS (
      SELECT vec_id, v,
             list_max(list_transform(v, x -> abs(x))) AS amax
      FROM base
    ),
    coded AS (
      SELECT vec_id, amax,
             list_transform(v, x -> CAST(floor(x / amax * 127 + 0.5)
                                         AS BIGINT)) AS codes,
             v
      FROM scaled WHERE amax > 0
    )
    SELECT vec_id,
           floor(amax * 1000000 + 0.5) / 1000000 AS amax_q,
           codes[1] AS code0,
           len(list_filter(codes, c -> abs(c) = 127)) AS n_sat,
           CAST(list_sum(list_transform(range(1, len(codes) + 1),
             i -> CAST(floor((v[i] - codes[i] * amax / 127)
                             * (v[i] - codes[i] * amax / 127)
                             * 1000000000000 + 0.5) AS BIGINT)))
                AS BIGINT) AS sse_pq
    FROM coded
    """,
)
def embedding_quantize_int8(spark, sf_dir):
    """Symmetric int8 scalar quantization of the embedding column —
    the 4x index-compression step production vector stores apply
    before ANN (SQ8): per-vector absolute-max scale, codes
    floor(x/amax·127 + 0.5), saturation count, and the per-vector
    reconstruction SSE. Entirely narrow array HOFs (transform /
    array_max / aggregate) — codegen'd Column math, no UDF, no
    shuffle; at 100 TB this runs as a map-only pass and writes codes
    alongside the originals for the re-rank stage (quantized scan →
    exact re-rank, the standard two-phase ANN serving shape). Error
    terms are quantized to integer 1e-12 units BEFORE summing, so
    the SSE is exact-integer and engine/order-independent (the qsum
    rule applied elementwise)."""
    from ..llm.similarity import as_double

    emb = io.read_parquet(spark, f"{sf_dir}/embeddings.parquet").df
    v = as_double(F.col("embedding"))
    d = emb.select("vec_id", v.alias("v")).withColumn(
        "amax", F.array_max(F.transform(F.col("v"), lambda x: F.abs(x)))
    ).filter(F.col("amax") > 0)
    coded = d.withColumn(
        "codes",
        F.transform(
            F.col("v"),
            lambda x: F.floor(x / F.col("amax") * 127 + F.lit(0.5)).cast("bigint"),
        ),
    )
    err_sq_c = F.expr(
        "aggregate(zip_with(v, codes, (x, c) -> CAST(floor((x - c * amax / 127)"
        " * (x - c * amax / 127) * 1000000000000 + 0.5) AS BIGINT)),"
        " CAST(0 AS BIGINT), (acc, e) -> acc + e)"
    )
    return coded.select(
        "vec_id",
        (F.floor(F.col("amax") * 1000000 + F.lit(0.5)) / 1000000).alias("amax_q"),
        F.element_at("codes", 1).alias("code0"),
        F.size(F.filter(F.col("codes"), lambda c: F.abs(c) == 127)).cast(
            "bigint"
        ).alias("n_sat"),
        err_sq_c.alias("sse_pq"),
    )


@query(
    "embedding_pq_codes",
    oracle="""
    WITH cb AS (
      SELECT vec_id AS cid, list_transform(embedding, x -> CAST(x AS DOUBLE))
               AS cv
      FROM embeddings WHERE vec_id < 4
    ),
    v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vv
      FROM embeddings WHERE vec_id % 29 = 0
    ),
    dists AS (
      SELECT v.vec_id, t.sub, cb.cid,
             CAST(floor(list_sum(list_transform(range(1, 9),
               i -> (vv[t.sub * 8 + i] - cv[t.sub * 8 + i])
                    * (vv[t.sub * 8 + i] - cv[t.sub * 8 + i])))
               * 1000000000 + 0.5) AS BIGINT) AS dq
      FROM v CROSS JOIN cb, unnest(generate_series(0, 7)) AS t(sub)
    )
    SELECT vec_id, sub,
           min_by(cid, dq * 8 + cid) AS code,
           min(dq) AS dist_q
    FROM dists GROUP BY vec_id, sub
    """,
)
def embedding_pq_codes(spark, sf_dir):
    """Product-quantization (PQ) code assignment — the ANN compression
    step beyond SQ8 (embedding_quantize_int8): the 64-dim vector
    splits into 8 subspaces of 8 dims, each encoded as the id of its
    nearest codebook centroid, turning 256 float bytes into 8 code
    bytes for the IVF-PQ serving shape. The codebook here is 4 fixed
    corpus rows (the trained-quantizer convention of
    ann_ivf_trained); assignment is pure HOF arithmetic — slice, L2
    in a sequential fold (identical IEEE order both engines),
    distance quantized to integer 1e-9 units, argmin via the widened
    min_by key (dq·8 + cid: deterministic under exact ties). Plan:
    one narrow pass over vectors x (8 subspaces × 4 centroids)
    literal comparisons — map-only but for the final (vec, sub)
    hash-agg; at 100 TB this is a scan-shaped encode, codebook
    broadcast."""
    from ..llm.similarity import as_double

    emb = io.read_parquet(spark, f"{sf_dir}/embeddings.parquet").df
    cb = F.broadcast(
        emb.filter(F.col("vec_id") < 4).select(
            F.col("vec_id").alias("cid"), as_double(F.col("embedding")).alias("cv")
        )
    )
    v = emb.filter(F.col("vec_id") % 29 == 0).select(
        "vec_id", as_double(F.col("embedding")).alias("vv")
    )
    dists = (
        v.crossJoin(cb)
        .select(
            "vec_id", "cid", "vv", "cv",
            F.explode(F.sequence(F.lit(0), F.lit(7))).alias("sub"),
        )
        .select(
            "vec_id", "sub", "cid",
            F.floor(
                F.expr(
                    "aggregate(transform(sequence(1, 8),"
                    " i -> (vv[sub * 8 + i - 1] - cv[sub * 8 + i - 1])"
                    "      * (vv[sub * 8 + i - 1] - cv[sub * 8 + i - 1])),"
                    " CAST(0.0 AS DOUBLE), (a, x) -> a + x)"
                )
                * 1000000000
                + F.lit(0.5)
            ).cast("bigint").alias("dq"),
        )
    )
    return dists.groupBy("vec_id", "sub").agg(
        F.min_by("cid", F.col("dq") * 8 + F.col("cid")).alias("code"),
        F.min("dq").alias("dist_q"),
    )


@query(
    "ann_pq_adc_topk",
    oracle="""
    WITH cb AS (
      SELECT vec_id AS cid, list_transform(embedding, x -> CAST(x AS DOUBLE))
               AS cv
      FROM embeddings WHERE vec_id < 4
    ),
    corp AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vv
      FROM embeddings
    ),
    codes AS (
      SELECT vec_id, sub, min_by(cid, dq * 8 + cid) AS code FROM (
        SELECT corp.vec_id, t.sub, cb.cid,
               CAST(floor(list_sum(list_transform(range(1, 9),
                 i -> (vv[t.sub * 8 + i] - cv[t.sub * 8 + i])
                      * (vv[t.sub * 8 + i] - cv[t.sub * 8 + i])))
                 * 1000000000 + 0.5) AS BIGINT) AS dq
        FROM corp CROSS JOIN cb, unnest(generate_series(0, 7)) AS t(sub)
      ) GROUP BY vec_id, sub
    ),
    q AS (SELECT vec_id AS qid, vv AS qv FROM corp WHERE vec_id < 5),
    adc AS (
      SELECT q.qid, t.sub, cb.cid,
             CAST(floor(list_sum(list_transform(range(1, 9),
               i -> (qv[t.sub * 8 + i] - cv[t.sub * 8 + i])
                    * (qv[t.sub * 8 + i] - cv[t.sub * 8 + i])))
               * 1000000000 + 0.5) AS BIGINT) AS dq
      FROM q CROSS JOIN cb, unnest(generate_series(0, 7)) AS t(sub)
    ),
    scored AS (
      SELECT adc.qid, codes.vec_id AS neighbor_id, sum(adc.dq) AS adist
      FROM codes JOIN adc ON codes.sub = adc.sub AND codes.code = adc.cid
      WHERE codes.vec_id != adc.qid
      GROUP BY 1, 2
    )
    SELECT qid AS query_id, neighbor_id,
           CAST(adist AS BIGINT) AS adist, rk AS rank FROM (
      SELECT *, row_number() OVER (PARTITION BY qid
                                   ORDER BY adist, neighbor_id) AS rk
      FROM scored
    ) WHERE rk <= 3
    """,
)
def ann_pq_adc_topk(spark, sf_dir):
    """PQ asymmetric-distance (ADC) top-k — the full IVF-PQ serving
    shape's scoring half: the corpus is stored ONLY as 8 one-byte
    codes per vector (embedding_pq_codes), each query precomputes a
    (subspace × centroid) distance lookup table (8×4 integer cells,
    broadcast), and a candidate's approximate distance is the SUM of
    8 table lookups — no float math ever touches the corpus at query
    time, which is why PQ scans serve billion-vector indexes from
    RAM. Here the lookup is an equi-join of the exploded code table
    against the broadcast ADC table + one (query, vec) hash-agg +
    per-query top-k window; distances are integer-quantized per
    subspace BEFORE summing (exact, order-free). Recall against
    brute force is what the re-rank stage recovers in production;
    this query is the approximate scan itself, oracle-replayed
    bit-for-bit."""
    from ..llm.similarity import as_double

    emb = io.read_parquet(spark, f"{sf_dir}/embeddings.parquet").df
    dbl = emb.select("vec_id", as_double(F.col("embedding")).alias("vv"))
    cb = F.broadcast(
        dbl.filter(F.col("vec_id") < 4).select(
            F.col("vec_id").alias("cid"), F.col("vv").alias("cv")
        )
    )
    sub_dq = (
        "CAST(floor(aggregate(transform(sequence(1, 8),"
        " i -> ({a}[sub * 8 + i - 1] - {b}[sub * 8 + i - 1])"
        "      * ({a}[sub * 8 + i - 1] - {b}[sub * 8 + i - 1])),"
        " CAST(0.0 AS DOUBLE), (a, x) -> a + x) * 1000000000 + 0.5)"
        " AS BIGINT)"
    )
    codes = (
        dbl.crossJoin(cb)
        .select(
            "vec_id", "cid", "vv", "cv",
            F.explode(F.sequence(F.lit(0), F.lit(7))).alias("sub"),
        )
        .select(
            "vec_id", "sub", "cid",
            F.expr(sub_dq.format(a="vv", b="cv")).alias("dq"),
        )
        .groupBy("vec_id", "sub")
        .agg(F.min_by("cid", F.col("dq") * 8 + F.col("cid")).alias("code"))
    )
    q = dbl.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("vv").alias("qv")
    )
    adc = (
        q.crossJoin(cb)
        .select(
            "qid", "cid", "qv", "cv",
            F.explode(F.sequence(F.lit(0), F.lit(7))).alias("sub"),
        )
        .select(
            "qid", "sub", "cid",
            F.expr(sub_dq.format(a="qv", b="cv")).alias("dq"),
        )
    )
    scored = (
        codes.join(
            F.broadcast(adc),
            (codes["sub"] == adc["sub"]) & (codes["code"] == adc["cid"]),
        )
        .filter(F.col("vec_id") != F.col("qid"))
        .groupBy(F.col("qid").alias("query_id"),
                 F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("dq").alias("adist"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy("adist", "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
    )


@query(
    "embedding_semdedup_prune",
    oracle=f"""
    WITH base AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings WHERE {NZ('embedding')}
    ),
    keep AS (
      SELECT label, min(vec_id) AS rep_id FROM base GROUP BY label
    ),
    rep AS (
      SELECT k.label, k.rep_id, b.v AS rv
      FROM keep k JOIN base b ON k.rep_id = b.vec_id
    )
    SELECT b.vec_id, b.label, r.rep_id,
           floor(({sql_cos('b.v', 'r.rv')}) * 10000 + 0.5) / 10000 AS sim,
           b.vec_id != r.rep_id
             AND floor(({sql_cos('b.v', 'r.rv')}) * 10000 + 0.5) / 10000
                 >= 0.55 AS pruned
    FROM base b JOIN rep r ON b.label = r.label
    """,
)
def embedding_semdedup_prune(spark, sf_dir):
    """SemDeDup-style semantic pruning (Abbas et al. 2023): within
    each cluster (labels stand in for the k-means clusters the paper
    uses), items too close to the cluster's kept representative are
    PRUNED — the semantic-level dedup that removes re-phrasings exact
    and MinHash dedup can't see. Plan: one representative per cluster
    (min-id keeper, the dedup_exact rule), representatives joined
    back BROADCAST (|clusters| rows), per-member cosine in codegen,
    threshold flag — cost is one scan + one cluster-key join:
    LINEAR, because members compare only against their cluster rep,
    never pairwise (the paper's trick, same Σ|bucket| vs Σ|bucket|²
    economics as the LSH paths). Threshold 0.55 keeps a nonzero
    pruned set on the synthetic clusters; sims 4dp-quantized for the
    cross-engine compare."""
    from ..llm.similarity import as_double, cosine, nonzero, _rd
    from ..plans.cache import pin

    emb = io.read_parquet(spark, f"{sf_dir}/embeddings.parquet").df
    # unpinned: 3 embeddings scans at sf0.001, median ×1.18 sf0.1 / ×1.15 sf1
    base = pin(emb.filter(nonzero(F.col("embedding"))).select(
        "vec_id", "label", as_double(F.col("embedding")).alias("v")
    ))
    keep = base.groupBy("label").agg(F.min("vec_id").alias("rep_id"))
    rep = F.broadcast(
        keep.join(
            base.select(F.col("vec_id").alias("rep_id"), F.col("v").alias("rv")),
            "rep_id",
        )
    )
    sim = _rd(cosine(F.col("v"), F.col("rv")), 4)
    return base.join(rep, "label").select(
        "vec_id", "label", "rep_id", sim.alias("sim"),
        ((F.col("vec_id") != F.col("rep_id")) & (sim >= 0.55)).alias("pruned"),
    )


@query(
    "embedding_outlier_zscore",
    oracle="""
    WITH pos AS (
      SELECT e.vec_id, e.label, t.i AS dim,
             CAST(floor(CAST(e.embedding[t.i] AS DOUBLE) * 1000000 + 0.5)
                  AS BIGINT) AS v_c
      FROM embeddings e,
           unnest(generate_series(1, len(e.embedding))) AS t(i)
    ),
    cent AS (
      SELECT label, dim, sum(v_c) // count(*) AS c_q FROM pos
      GROUP BY label, dim
    ),
    dist AS (
      SELECT p.vec_id, p.label,
             sum((p.v_c - c.c_q) * (p.v_c - c.c_q)) // 100000000 AS d_s
      FROM pos p JOIN cent c ON p.label = c.label AND p.dim = c.dim
      GROUP BY p.vec_id, p.label
    ),
    stats AS (
      SELECT label, count(*) AS n, sum(d_s) AS s,
             sum(d_s::HUGEINT * d_s) AS s2
      FROM dist GROUP BY label
    )
    SELECT d.vec_id, d.label, CAST(d.d_s AS BIGINT) AS d_s,
           (st.n::HUGEINT * d.d_s - st.s)
             * (st.n::HUGEINT * d.d_s - st.s)
             > 4 * (st.n::HUGEINT * st.s2 - st.s::HUGEINT * st.s)
             AS is_outlier
    FROM dist d JOIN stats st ON d.label = st.label
    WHERE d.vec_id % 17 = 0
    """,
)
def embedding_outlier_zscore(spark, sf_dir):
    """Embedding-space outlier detection — the QA pass that catches
    mis-embedded or mislabeled rows before they poison retrieval or
    training: each vector's squared distance to its cluster centroid
    is z-tested against the cluster's distance distribution, all in
    EXACT integers (the events_anomaly_zscore algebra: (n·d − s)² >
    4(n·s² − s²), DECIMAL/HUGEINT products; distances rescaled by
    10⁸ so squared sums stay in range at any corpus size —
    documented precision trade, irrelevant at z=2 resolution).
    Plan: centroids are one (label, dim) hash-agg (bounded —
    embedding_centroids' shape) joined back; distances one
    per-vector agg; stats per label broadcast. Flagged rows go to
    human review or auto-requeue for re-embedding."""
    from ..llm.similarity import as_double

    emb = io.read_parquet(spark, f"{sf_dir}/embeddings.parquet").df
    pos = emb.select(
        "vec_id", "label",
        F.posexplode(as_double(F.col("embedding"))).alias("i0", "v"),
    ).select(
        "vec_id", "label",
        (F.col("i0") + 1).alias("dim"),
        F.floor(F.col("v") * 1000000 + F.lit(0.5)).cast("bigint").alias("v_c"),
    )
    cent = pos.groupBy("label", "dim").agg(
        F.expr("sum(v_c) div count(1)").alias("c_q")
    )
    dist = (
        pos.join(F.broadcast(cent), ["label", "dim"])
        .groupBy("vec_id", "label")
        .agg(
            F.expr(
                "sum((v_c - c_q) * (v_c - c_q)) div 100000000"
            ).alias("d_s")
        )
    )
    # sum_long_exact over the LONG product d_s*d_s, not a per-row
    # decimal product sum: same exact DECIMAL(38,0) value, three long
    # accumulators instead of the BigDecimal path (2.5x cheaper on the
    # ridge shape). Bounds: |v| <= ~1 unit-norm embeddings give
    # v_c <= ~1e6, so d_s = sum_64((v_c-c_q)^2) div 1e8 <= ~2.6e6 and
    # d_s^2 <= ~7e12 (the product stays in ANSI-checked long
    # arithmetic, << 2^63); rows per group = vectors per label << 2^40
    # at any scale.
    stats = dist.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("d_s").alias("s"),
        sum_long_exact(F.col("d_s") * F.col("d_s")).alias("s2"),
    )
    j = dist.join(F.broadcast(stats), "label")
    dev = F.col("n").cast("decimal(38,0)") * F.col("d_s") - F.col("s")
    den = (
        F.col("n").cast("decimal(38,0)") * F.col("s2")
        - F.col("s").cast("decimal(38,0)") * F.col("s")
    )
    return j.filter(F.col("vec_id") % 17 == 0).select(
        "vec_id", "label", "d_s", (dev * dev > 4 * den).alias("is_outlier")
    )


@query(
    "ann_recall_eval",
    oracle=f"""
    WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
                  WHERE {NZ('embedding')}),
    q AS (SELECT vec_id AS query_id, v AS qv FROM base WHERE vec_id < 10),
    c AS (SELECT vec_id AS neighbor_id, v AS cv FROM base),
    truth AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY floor(({SQL_COS}) * 10000 + 0.5) / 10000 DESC,
                          neighbor_id) AS rank
        FROM q CROSS JOIN c WHERE query_id != neighbor_id
      ) WHERE rank <= 3
    ),
    b AS (SELECT vec_id, v, {_bucket_sql('v', planes=6, dim=64)} AS bucket
          FROM base),
    qb AS (SELECT vec_id AS query_id, v AS qv, bucket FROM b WHERE vec_id < 10),
    cb AS (SELECT vec_id AS neighbor_id, v AS cv, bucket AS bucket_c FROM b),
    approx AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY floor(({SQL_COS}) * 10000 + 0.5) / 10000 DESC,
                          neighbor_id) AS rank
        FROM qb JOIN cb ON bucket = bucket_c AND query_id != neighbor_id
      ) WHERE rank <= 3
    )
    SELECT t.query_id,
           count(a.neighbor_id)::BIGINT AS n_hits,
           CAST(count(a.neighbor_id)::HUGEINT * 1000000 // 3 AS BIGINT)
             AS recall_ppm
    FROM truth t LEFT JOIN approx a
      ON t.query_id = a.query_id AND t.neighbor_id = a.neighbor_id
    GROUP BY t.query_id
    """,
)
def ann_recall_eval(spark, sf_dir):
    """ANN quality evaluation — recall@3 of the hyperplane-LSH index
    against the exact brute-force ranking, PER QUERY: the number every
    vector-search deployment must publish before trading exactness
    for bucket-bounded cost (the ANN-benchmarks protocol, recast as
    one dataflow). Both rankings are deterministic (4dp-quantized
    cosine, id tie-breaks), so recall itself is exact and
    oracle-checkable — the oracle replays BOTH the cross-join truth
    and the bucketed approximation end to end. Plan: the truth side
    is broadcast-queries x corpus (Q·N by design, the exact baseline);
    the approx side is the bucket equi-join; the eval is one slim
    left join on (query, neighbor) + a per-query count. Low recall
    rows pinpoint exactly WHICH queries fall in sparse buckets —
    the signal that drives plane-count/probe tuning."""
    emb = io.fan_out(io.read_parquet(spark, f"{sf_dir}/embeddings.parquet").df)
    queries = emb.filter(F.col("vec_id") < 10)
    truth = S.brute_force_topk(emb, queries, k=3).select("query_id", "neighbor_id")
    approx = S.lsh_topk(emb, queries, k=3, planes=6, dim=64).select(
        F.col("query_id").alias("aq"), F.col("neighbor_id").alias("an")
    )
    return (
        truth.join(
            approx,
            (F.col("query_id") == F.col("aq"))
            & (F.col("neighbor_id") == F.col("an")),
            "left",
        )
        .groupBy("query_id")
        .agg(F.count("an").alias("n_hits"))
        .select(
            "query_id",
            F.col("n_hits").cast("bigint").alias("n_hits"),
            F.expr(
                "CAST(CAST(n_hits AS DECIMAL(38,0)) * 1000000 div 3 AS BIGINT)"
            ).alias("recall_ppm"),
        )
    )


@query(
    "embedding_dim_variance_audit",
    oracle="""
    WITH e AS (
      SELECT vec_id, i - 1 AS dim,
             CAST(floor((embedding::DOUBLE[])[i] * 10000 + 0.5) AS BIGINT)
               AS vq
      FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i)
    ),
    s AS (
      SELECT dim, count(*)::HUGEINT AS n, sum(vq)::HUGEINT AS sv,
             sum(vq * vq)::HUGEINT AS svv
      FROM e GROUP BY dim
    )
    SELECT CAST(dim AS BIGINT) AS dim,
           CAST(sv // n AS BIGINT) AS mean_q4,
           CAST((n * svv - sv * sv) // (n * n) AS BIGINT) AS var_q8,
           ((n * svv - sv * sv) // (n * n)) < 10000 AS is_low_variance
    FROM s
    """,
)
def embedding_dim_variance_audit(spark, sf_dir):
    """Embedding-space health audit: per-DIMENSION mean and variance
    across the corpus — dead dimensions (variance ~ 0) waste index
    space and signal a collapsed or truncated encoder; dominant
    dimensions distort cosine geometry (the anisotropy problem).
    Values quantized to 1e-4 units (vq), so the moments are exact
    integers: var in q8 units via the n·Σv² − (Σv)² identity with
    HUGEINT/DECIMAL products and one integral divide — the same
    transcendental-free moment rule as the z-test family. The
    low-variance flag (< 1e-4 in value² units) is an integer compare.
    Plan: posexplode to (dim, value) — 64 rows per vector, the
    columnar layout every per-dim statistic shares — one 64-group
    hash-agg with map-side partials; nothing global, nothing
    collected. Output is 64 rows regardless of corpus size."""
    emb = io.fan_out(io.read_parquet(spark, f"{sf_dir}/embeddings.parquet").df)
    dec = "decimal(38,0)"
    e = emb.select(
        "vec_id", F.posexplode("embedding").alias("dim", "v")
    ).select(
        "dim",
        F.floor(F.col("v").cast("double") * 10000 + F.lit(0.5)).cast(dec)
          .alias("vq"),
    )
    s = e.groupBy("dim").agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum("vq").alias("sv"),
        F.sum(F.col("vq") * F.col("vq")).alias("svv"),
    )
    return s.select(
        F.col("dim").cast("bigint").alias("dim"),
        F.expr("CAST(sv div n AS BIGINT)").alias("mean_q4"),
        F.expr("CAST((n * svv - sv * sv) div (n * n) AS BIGINT)").alias("var_q8"),
        F.expr("((n * svv - sv * sv) div (n * n)) < 10000")
          .alias("is_low_variance"),
    )


@query(
    "search_hybrid_rrf",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[ \\t\\n\\x0b\\f\\r]+'),
                         t -> t != '') AS tk
      FROM documents
    ),
    tscore AS (
      SELECT doc_id,
             len(list_filter(tk, t -> t = 'merge'))
             + len(list_filter(tk, t -> t = 'window'))
             + len(list_filter(tk, t -> t = 'stream')) AS tf
      FROM toks
    ),
    tcand AS (
      SELECT doc_id, row_number() OVER (ORDER BY tf DESC, doc_id) AS rt
      FROM (SELECT * FROM tscore WHERE tf > 0
            ORDER BY tf DESC, doc_id LIMIT 20)
    ),
    q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings
          WHERE vec_id = 0 AND {NZ('embedding')}),
    vs AS (
      SELECT vec_id AS doc_id,
             floor(({SQL_COS}) * 10000 + 0.5) / 10000 AS sim
      FROM (SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings
            WHERE vec_id != 0 AND {NZ('embedding')}) e, q
    ),
    vcand AS (
      SELECT doc_id, row_number() OVER (ORDER BY sim DESC, doc_id) AS rv
      FROM (SELECT * FROM vs ORDER BY sim DESC, doc_id LIMIT 20)
    ),
    fused AS (
      SELECT coalesce(t.doc_id, v.doc_id) AS doc_id,
             coalesce(1000000 // (60 + t.rt), 0)
             + coalesce(1000000 // (60 + v.rv), 0) AS rrf_ppm,
             t.rt AS rank_text, v.rv AS rank_vec
      FROM tcand t FULL JOIN vcand v ON t.doc_id = v.doc_id
    )
    SELECT doc_id, CAST(rrf_ppm AS BIGINT) AS rrf_ppm,
           CAST(rank_text AS BIGINT) AS rank_text,
           CAST(rank_vec AS BIGINT) AS rank_vec
    FROM fused ORDER BY rrf_ppm DESC, doc_id LIMIT 10
    """,
)
def search_hybrid_rrf(spark, sf_dir):
    """HYBRID RETRIEVAL with reciprocal-rank fusion (Cormack et al.,
    2009 — the fusion modern lexical+vector search ships): a keyword
    leg (term-frequency ranking for the query terms over the
    documents table) and a vector leg (exact cosine to a query
    embedding over the aligned embeddings table) each produce a
    top-20 CANDIDATE LIST — the real-system contract: fusion
    operates on bounded candidate lists, so the rank windows run
    over ≤20 rows, never the corpus — and RRF sums 1/(60+rank) in
    floored ppm (exact integers; absent-from-list contributes 0).
    A doc surfacing on BOTH legs outranks either leg's solo leaders,
    the complementary-evidence property that makes RRF robust
    without score calibration (scores from different legs are
    incomparable; RANKS are not). Deterministic end to end: tf ties
    and cosine ties break by doc id; the final top-10 sorts ≤40 fused
    rows."""
    docs = io.fan_out(io.read_parquet(spark, f"{sf_dir}/documents.parquet").df)
    emb = io.fan_out(io.read_parquet(spark, f"{sf_dir}/embeddings.parquet").df)
    from pyspark.sql import Window

    from ..llm.text import tokens as _tokens

    tf = docs.select(
        "doc_id",
        (F.size(F.filter(_tokens(F.col("text")), lambda t: t == "merge"))
         + F.size(F.filter(_tokens(F.col("text")), lambda t: t == "window"))
         + F.size(F.filter(_tokens(F.col("text")), lambda t: t == "stream"))
         ).alias("tf"),
    )
    tcand = (
        tf.filter(F.col("tf") > 0)
        .orderBy(F.desc("tf"), "doc_id").limit(20)
        .withColumn("rt", F.row_number().over(Window.orderBy(F.desc("tf"),
                                                             "doc_id")))
        .select("doc_id", "rt")
    )
    # zero-norm gate on BOTH legs (the similarity zero-norm contract): a
    # zero query vector means an empty vector leg, not a 0/0 crash
    nz = S.nonzero(F.col("embedding"))
    qv = emb.filter((F.col("vec_id") == 0) & nz).select(
        F.col("embedding").cast("array<double>").alias("qv"))
    cv = emb.filter((F.col("vec_id") != 0) & nz).select(
        F.col("vec_id").alias("doc_id"),
        F.col("embedding").cast("array<double>").alias("cv"))
    sim = F.expr(
        "floor(aggregate(zip_with(qv, cv, (a, b) -> a * b), CAST(0.0 AS DOUBLE),"
        " (acc, x) -> acc + x)"
        " / (sqrt(aggregate(transform(qv, x -> x * x), CAST(0.0 AS DOUBLE),"
        "          (acc, x) -> acc + x))"
        "    * sqrt(aggregate(transform(cv, x -> x * x), CAST(0.0 AS DOUBLE),"
        "          (acc, x) -> acc + x))) * 10000 + 0.5) / 10000"
    )
    vs = cv.crossJoin(F.broadcast(qv)).select("doc_id", sim.alias("sim"))
    vcand = (
        vs.orderBy(F.desc("sim"), "doc_id").limit(20)
        .withColumn("rv", F.row_number().over(Window.orderBy(F.desc("sim"),
                                                             "doc_id")))
        .select(F.col("doc_id").alias("vdoc"), "rv")
    )
    fused = (
        tcand.join(vcand, tcand["doc_id"] == vcand["vdoc"], "full")
        .select(
            F.coalesce("doc_id", "vdoc").alias("doc_id"),
            (F.coalesce(F.expr("1000000 div (60 + rt)"), F.lit(0))
             + F.coalesce(F.expr("1000000 div (60 + rv)"), F.lit(0)))
              .alias("rrf_ppm"),
            F.col("rt").cast("bigint").alias("rank_text"),
            F.col("rv").cast("bigint").alias("rank_vec"),
        )
    )
    return fused.orderBy(F.desc("rrf_ppm"), "doc_id").limit(10)


@query(
    "search_mrr_eval",
    oracle=f"""
    WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
                  WHERE {NZ('embedding')}),
    q AS (SELECT vec_id AS query_id, v AS qv FROM base WHERE vec_id < 10),
    c AS (SELECT vec_id AS neighbor_id, v AS cv FROM base),
    truth AS (
      SELECT query_id, neighbor_id AS true_top1 FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY floor(({SQL_COS}) * 10000 + 0.5) / 10000 DESC,
                          neighbor_id) AS rank
        FROM q CROSS JOIN c WHERE query_id != neighbor_id
      ) WHERE rank = 1
    ),
    b AS (SELECT vec_id, v, {_bucket_sql('v', planes=6, dim=64)} AS bucket
          FROM base),
    qb AS (SELECT vec_id AS query_id, v AS qv, bucket FROM b WHERE vec_id < 10),
    cb AS (SELECT vec_id AS neighbor_id, v AS cv, bucket AS bucket_c FROM b),
    approx AS (
      SELECT query_id, neighbor_id, rank FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY floor(({SQL_COS}) * 10000 + 0.5) / 10000 DESC,
                          neighbor_id) AS rank
        FROM qb JOIN cb ON bucket = bucket_c AND query_id != neighbor_id
      ) WHERE rank <= 10
    )
    SELECT t.query_id, t.true_top1,
           coalesce(a.rank, 0)::BIGINT AS found_rank,
           CASE WHEN a.rank IS NULL THEN 0
                ELSE CAST(1000000 // a.rank AS BIGINT) END AS rr_ppm,
           CASE WHEN a.rank = 1 THEN 1 ELSE 0 END AS hit1
    FROM truth t LEFT JOIN approx a
      ON t.query_id = a.query_id AND t.true_top1 = a.neighbor_id
    """,
)
def search_mrr_eval(spark, sf_dir):
    """ORDER-SENSITIVE retrieval eval — where does the TRUE nearest
    neighbor land in the approximate ranking? ann_recall_eval's
    recall@3 treats the top-k as a set; MRR is the metric that
    punishes an index for burying the right answer at rank 9, and
    hit@1 is the strict serving SLO. Truth = brute-force top-1
    (broadcast-queries × corpus, the exact baseline); candidate list
    = the same 6-plane LSH index ranked to depth 10; the eval is one
    slim left join on (query, true_top1) — reciprocal rank as the
    exact integer rational 10⁶ div rank, 0 when the truth fell
    outside the bucket entirely (the failure recall@k hides inside
    an average). Per-query rows, so sparse-bucket queries are
    directly identifiable; the fleet-level MRR is one further
    bounded agg."""
    from ..plans.cache import pin

    emb = io.fan_out(io.read_parquet(spark, f"{sf_dir}/embeddings.parquet").df)
    # the query set feeds both index probes (brute truth + LSH
    # candidates) — pinned (k rows) so each probe costs one corpus
    # scan, not a corpus + query re-scan apiece
    queries = pin(emb.filter(F.col("vec_id") < 10))
    truth = S.brute_force_topk(emb, queries, k=1).select(
        "query_id", F.col("neighbor_id").alias("true_top1")
    )
    approx = S.lsh_topk(emb, queries, k=10, planes=6, dim=64).select(
        F.col("query_id").alias("aq"),
        F.col("neighbor_id").alias("an"),
        F.col("rank").alias("arank"),
    )
    j = truth.join(
        approx,
        (F.col("query_id") == F.col("aq")) & (F.col("true_top1") == F.col("an")),
        "left",
    )
    return j.select(
        "query_id", "true_top1",
        F.coalesce(F.col("arank"), F.lit(0)).cast("bigint").alias("found_rank"),
        F.when(F.col("arank").isNull(), F.lit(0).cast("bigint")).otherwise(
            F.expr("CAST(1000000 div arank AS BIGINT)")
        ).alias("rr_ppm"),
        F.when(F.col("arank") == 1, 1).otherwise(0).alias("hit1"),
    )


def _jl_signs(k: int = 16, d: int = 64):
    """Deterministic ±1 projection matrix (hashlib — computed once at
    plan build, embedded as a literal in BOTH engines' plans)."""
    import hashlib

    return [
        [
            1
            if int(hashlib.md5(f"jl|{j}|{i}".encode()).hexdigest()[:14], 16)
            % 2 == 0
            else -1
            for i in range(d)
        ]
        for j in range(k)
    ]


_JL_K, _JL_D = 16, 64
_JL_LIT = (
    "array("
    + ", ".join(
        "array(" + ", ".join(str(s) for s in row) + ")"
        for row in _jl_signs(_JL_K, _JL_D)
    )
    + ")"
)
_JL_LIT_DUCK = (
    "["
    + ", ".join(
        "[" + ",".join(str(s) for s in row) + "]" for row in _jl_signs(_JL_K, _JL_D)
    )
    + "]"
)


@query(
    "embedding_random_projection",
    oracle=f"""
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 10000 + 0.5) AS BIGINT))
               AS vq
      FROM embeddings
    ),
    p AS (
      SELECT vec_id, vq,
             list_transform({_JL_LIT_DUCK}::BIGINT[][],
               r -> CAST(list_sum(list_transform(range(1, {_JL_D} + 1),
                      i -> vq[i] * r[i])) AS BIGINT)) AS proj
      FROM q
    ),
    pairs AS (
      SELECT a.vec_id AS a, b.vec_id AS b,
             CAST(list_sum(list_transform(range(1, {_JL_D} + 1),
               i -> (a.vq[i] - b.vq[i]) * (a.vq[i] - b.vq[i])))
               AS BIGINT) AS d2_orig,
             CAST(list_sum(list_transform(range(1, {_JL_K} + 1),
               i -> (a.proj[i] - b.proj[i]) * (a.proj[i] - b.proj[i])))
               AS BIGINT) AS d2_proj
      FROM p a JOIN p b ON b.vec_id = a.vec_id + 1
    )
    SELECT a, b, d2_orig, d2_proj,
           CAST(d2_proj::HUGEINT * 1000000 // ({_JL_K}::HUGEINT * d2_orig)
                AS BIGINT) AS ratio_ppm
    FROM pairs WHERE d2_orig > 0
    """,
)
def embedding_random_projection(spark, sf_dir):
    """JOHNSON–LINDENSTRAUSS random projection (64 → 16 dims, ±1
    Achlioptas matrix — public, "Database-friendly random
    projections", 2001) WITH its distortion audit: each vector's
    projection is 16 exact integer dot products against a
    deterministic sign matrix baked into the plan as a literal
    (hashlib at plan build — both engines evaluate the identical
    constant, no engine hashing in the hot path); the audit joins
    consecutive vector pairs and reports d²_proj / (k·d²_orig) in
    exact ppm, whose concentration around 10⁶ is the JL lemma made
    measurable. Map-only projection (no shuffle — the 4× index-width
    reduction step that runs BEFORE LSH/IVF at 100 TB); the audit
    join is a slim self-join on vec_id+1. Everything integer: the
    1e-4-unit quantization commutes with the ±1 matrix exactly."""
    from ..llm.similarity import as_double

    emb = io.read_parquet(spark, f"{sf_dir}/embeddings.parquet").df
    q = emb.select(
        "vec_id",
        F.transform(
            as_double(F.col("embedding")),
            lambda x: F.floor(x * 10000 + F.lit(0.5)).cast("bigint"),
        ).alias("vq"),
    )
    p = q.select(
        "vec_id", "vq",
        F.expr(
            f"transform({_JL_LIT}, r -> aggregate(zip_with(vq, r,"
            " (x, s) -> x * CAST(s AS BIGINT)), CAST(0 AS BIGINT),"
            " (acc, e) -> acc + e))"
        ).alias("proj"),
    )
    a = p.alias("a")
    b = p.select(
        (F.col("vec_id") - 1).alias("join_id"),
        F.col("vec_id").alias("b_id"),
        F.col("vq").alias("vq_b"),
        F.col("proj").alias("proj_b"),
    ).alias("b")
    pairs = a.join(b, F.col("a.vec_id") == F.col("join_id")).select(
        F.col("a.vec_id").alias("a"),
        F.col("b_id").alias("b"),
        F.expr(
            "CAST(aggregate(zip_with(a.vq, vq_b, (x, y) -> (x - y) * (x - y)),"
            " CAST(0 AS BIGINT), (acc, e) -> acc + e) AS BIGINT)"
        ).alias("d2_orig"),
        F.expr(
            "CAST(aggregate(zip_with(a.proj, proj_b,"
            " (x, y) -> (x - y) * (x - y)),"
            " CAST(0 AS BIGINT), (acc, e) -> acc + e) AS BIGINT)"
        ).alias("d2_proj"),
    )
    return pairs.filter(F.col("d2_orig") > 0).select(
        "a", "b", "d2_orig", "d2_proj",
        F.expr(
            f"CAST(CAST(d2_proj AS DECIMAL(38,0)) * 1000000"
            f" div ({_JL_K} * CAST(d2_orig AS DECIMAL(38,0))) AS BIGINT)"
        ).alias("ratio_ppm"),
    )


@query(
    "embedding_corr_matrix",
    oracle="""
    WITH q AS (
      SELECT list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 10000 + 0.5) AS BIGINT))
               AS vq
      FROM embeddings
    ),
    pairs AS (
      SELECT i.i AS i, j.j AS j, vq[i.i] AS x, vq[j.j] AS y
      FROM q,
           unnest(generate_series(1, 8)) AS i(i),
           unnest(generate_series(1, 8)) AS j(j)
      WHERE i.i <= j.j
    ),
    m AS (
      SELECT i, j, count(*)::HUGEINT AS n,
             sum(x)::HUGEINT AS sx, sum(y)::HUGEINT AS sy,
             sum(x * x)::HUGEINT AS sxx, sum(y * y)::HUGEINT AS syy,
             sum(x * y)::HUGEINT AS sxy
      FROM pairs GROUP BY 1, 2
    )
    SELECT CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j,
           CAST(n * sxy - sx * sy AS BIGINT) AS cov_num,
           CAST(CASE WHEN (n * sxx - sx * sx) = 0
                  OR (n * syy - sy * sy) = 0 THEN 0
                ELSE floor((n * sxy - sx * sy)
                     / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
                     * 10000 + 0.5) END AS BIGINT) AS corr_q4
    FROM m
    """,
)
def embedding_corr_matrix(spark, sf_dir):
    """PAIRWISE CORRELATION MATRIX over the first 8 embedding
    dimensions — the df.stat.corr surface generalized to a matrix in
    ONE pass: the (dim_i, dim_j) fan-out (i <= j) turns every vector
    into its upper-triangle pairs, and a single hash-agg accumulates
    the exact integer moment sums (n, Σx, Σy, Σx², Σy², Σxy) per
    cell — map-side combinable, d(d+1)/2 cells of shuffle regardless
    of corpus size. Covariance numerators are exact integers; the
    final correlation applies ONE IEEE sqrt + 4dp quantization (the
    agg_stats_moments convention). The ×36 row fan-out is the exact
    differential-checkable formulation; the production scale path for
    full-width matrices is the per-partition numpy Gram via
    mapInPandas — tests/test_operators.py proves that path
    cell-identical to this one on the same data."""
    from ..llm.similarity import as_double

    emb = io.read_parquet(spark, f"{sf_dir}/embeddings.parquet").df
    q = emb.select(
        F.transform(
            as_double(F.col("embedding")),
            lambda x: F.floor(x * 10000 + F.lit(0.5)).cast("bigint"),
        ).alias("vq")
    )
    pairs = (
        q.select(
            F.explode(F.expr(
                "flatten(transform(sequence(1, 8), i ->"
                " transform(sequence(i, 8), j ->"
                " struct(i AS i, j AS j, element_at(vq, i) AS x,"
                " element_at(vq, j) AS y))))"
            )).alias("p")
        )
        .select("p.*")
    )
    dec = "DECIMAL(38,0)"
    m = pairs.groupBy("i", "j").agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum(F.col("x").cast(dec)).alias("sx"),
        F.sum(F.col("y").cast(dec)).alias("sy"),
        F.sum((F.col("x") * F.col("x")).cast(dec)).alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast(dec)).alias("syy"),
        F.sum((F.col("x") * F.col("y")).cast(dec)).alias("sxy"),
    )
    return m.select(
        F.col("i").cast("bigint").alias("i"),
        F.col("j").cast("bigint").alias("j"),
        F.expr("CAST(n * sxy - sx * sy AS BIGINT)").alias("cov_num"),
        F.expr(
            "CAST(CASE WHEN (n * sxx - sx * sx) = 0"
            " OR (n * syy - sy * sy) = 0 THEN 0"
            " ELSE floor(CAST(n * sxy - sx * sy AS DOUBLE)"
            " / sqrt(CAST((n * sxx - sx * sx) * (n * syy - sy * sy)"
            " AS DOUBLE)) * 10000 + 0.5) END AS BIGINT)"
        ).alias("corr_q4"),
    )


@query(
    "ann_ivf_pq_topk",
    headline=True,
    oracle="""
    WITH corp AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vv
      FROM embeddings
    ),
    cb AS (
      SELECT vec_id AS cid, vv AS cv FROM corp WHERE vec_id < 4
    ),
    coarse AS (
      SELECT vec_id AS gid, vv AS gv FROM corp
      WHERE vec_id >= 4 AND vec_id < 8
    ),
    fullq AS (
      SELECT corp.vec_id, coarse.gid,
             CAST(floor(list_sum(list_transform(range(1, len(vv) + 1),
               i -> (vv[i] - gv[i]) * (vv[i] - gv[i])))
               * 1000000000 + 0.5) AS BIGINT) AS dq
      FROM corp CROSS JOIN coarse
    ),
    cells AS (
      SELECT vec_id, min_by(gid, dq * 8 + gid) AS cell
      FROM fullq GROUP BY vec_id
    ),
    qprobe AS (
      SELECT vec_id AS qid, gid AS cell FROM (
        SELECT vec_id, gid,
               row_number() OVER (PARTITION BY vec_id
                 ORDER BY dq * 8 + gid) AS rk
        FROM fullq WHERE vec_id < 5
      ) WHERE rk <= 2
    ),
    cand AS (
      SELECT q.qid, c.vec_id
      FROM qprobe q JOIN cells c ON q.cell = c.cell
      WHERE c.vec_id != q.qid
    ),
    codes AS (
      SELECT vec_id, sub, min_by(cid, dq * 8 + cid) AS code FROM (
        SELECT corp.vec_id, t.sub, cb.cid,
               CAST(floor(list_sum(list_transform(range(1, 9),
                 i -> (vv[t.sub * 8 + i] - cv[t.sub * 8 + i])
                      * (vv[t.sub * 8 + i] - cv[t.sub * 8 + i])))
                 * 1000000000 + 0.5) AS BIGINT) AS dq
        FROM corp CROSS JOIN cb, unnest(generate_series(0, 7)) AS t(sub)
      ) GROUP BY vec_id, sub
    ),
    adc AS (
      SELECT corp.vec_id AS qid, t.sub, cb.cid,
             CAST(floor(list_sum(list_transform(range(1, 9),
               i -> (vv[t.sub * 8 + i] - cv[t.sub * 8 + i])
                    * (vv[t.sub * 8 + i] - cv[t.sub * 8 + i])))
               * 1000000000 + 0.5) AS BIGINT) AS dq
      FROM corp CROSS JOIN cb, unnest(generate_series(0, 7)) AS t(sub)
      WHERE corp.vec_id < 5
    ),
    scored AS (
      SELECT cand.qid, cand.vec_id AS neighbor_id, sum(adc.dq) AS adist
      FROM cand
      JOIN codes ON codes.vec_id = cand.vec_id
      JOIN adc ON adc.qid = cand.qid AND adc.sub = codes.sub
              AND adc.cid = codes.code
      GROUP BY 1, 2
    )
    SELECT qid AS query_id, neighbor_id,
           CAST(adist AS BIGINT) AS adist, rk AS rank FROM (
      SELECT *, row_number() OVER (PARTITION BY qid
                                   ORDER BY adist, neighbor_id) AS rk
      FROM scored
    ) WHERE rk <= 3
    """,
)
def ann_ivf_pq_topk(spark, sf_dir):
    """The FULL IVF-PQ index as one dataflow — the composition that
    serves billion-vector search in production (the FAISS IVFPQ
    shape, public): an IVF coarse quantizer (4 cells, trained-
    centroid assignment via the widened-slot argmin) PRUNES the
    corpus to the query's 2 probed cells, and only those candidates
    are scored by the PQ asymmetric-distance scan (8 one-byte codes
    per vector, per-subspace integer-quantized lookup tables). The
    two halves exist separately (ann_ivf_trained, ann_pq_adc_topk);
    the composition is the point: candidates shrink BEFORE any ADC
    work (the cells/qprobe equi-join feeds the code join), so the
    scoring cost is Σ probed-cell sizes, not the corpus. Determinism
    end to end: every distance is floor-quantized to integer 1e-9
    units before any argmin/sum, every tie breaks through the slot
    arithmetic — both engines replay cell assignment, probing, codes,
    and ADC bit-for-bit. The re-rank stage (exact distance on the
    top-k) is ann_topk_cosine's machinery applied to this output."""
    from ..llm.similarity import as_double
    from pyspark.sql import Window

    emb = io.read_parquet(spark, f"{sf_dir}/embeddings.parquet").df
    dbl = emb.select("vec_id", as_double(F.col("embedding")).alias("vv"))
    cb = F.broadcast(
        dbl.filter(F.col("vec_id") < 4).select(
            F.col("vec_id").alias("cid"), F.col("vv").alias("cv")
        )
    )
    coarse = F.broadcast(
        dbl.filter((F.col("vec_id") >= 4) & (F.col("vec_id") < 8)).select(
            F.col("vec_id").alias("gid"), F.col("vv").alias("gv")
        )
    )
    full_dq = (
        "CAST(floor(aggregate(zip_with(vv, gv, (x, y) -> (x - y) * (x - y)),"
        " CAST(0.0 AS DOUBLE), (a, e) -> a + e) * 1000000000 + 0.5)"
        " AS BIGINT)"
    )
    fullq = dbl.crossJoin(coarse).select(
        "vec_id", "gid", F.expr(full_dq).alias("dq")
    )
    from ..plans.cache import pin

    # unpinned: 8 embeddings scans at sf0.001, median ×0.91 sf0.1 / ×0.93 sf1
    fullq = pin(fullq)
    cells = fullq.groupBy("vec_id").agg(
        F.min_by("gid", F.col("dq") * 8 + F.col("gid")).alias("cell")
    )
    wq = Window.partitionBy("vec_id").orderBy(F.col("dq") * 8 + F.col("gid"))
    qprobe = (
        fullq.filter(F.col("vec_id") < 5)
        .withColumn("rk", F.row_number().over(wq))
        .filter(F.col("rk") <= 2)
        .select(F.col("vec_id").alias("qid"), F.col("gid").alias("cell"))
    )
    cand = (
        qprobe.join(cells, "cell")
        .filter(F.col("vec_id") != F.col("qid"))
        .select("qid", "vec_id")
    )
    sub_dq = (
        "CAST(floor(aggregate(transform(sequence(1, 8),"
        " i -> ({a}[sub * 8 + i - 1] - {b}[sub * 8 + i - 1])"
        "      * ({a}[sub * 8 + i - 1] - {b}[sub * 8 + i - 1])),"
        " CAST(0.0 AS DOUBLE), (a, x) -> a + x) * 1000000000 + 0.5)"
        " AS BIGINT)"
    )
    codes = (
        dbl.crossJoin(cb)
        .select(
            "vec_id", "cid", "vv", "cv",
            F.explode(F.sequence(F.lit(0), F.lit(7))).alias("sub"),
        )
        .select(
            "vec_id", "sub", "cid",
            F.expr(sub_dq.format(a="vv", b="cv")).alias("dq"),
        )
        .groupBy("vec_id", "sub")
        .agg(F.min_by("cid", F.col("dq") * 8 + F.col("cid")).alias("code"))
    )
    adc = (
        dbl.filter(F.col("vec_id") < 5)
        .select(F.col("vec_id").alias("qid"), F.col("vv").alias("qv"))
        .crossJoin(cb)
        .select(
            "qid", "cid", "qv", "cv",
            F.explode(F.sequence(F.lit(0), F.lit(7))).alias("sub"),
        )
        .select(
            "qid", "sub", "cid",
            F.expr(sub_dq.format(a="qv", b="cv")).alias("dq"),
        )
    )
    cand = cand.withColumnRenamed("qid", "cqid")
    adc2 = adc.select(
        F.col("qid").alias("aqid"), F.col("sub").alias("asub"),
        F.col("cid").alias("acid"), F.col("dq").alias("adq"),
    )
    scored = (
        cand.join(codes, "vec_id")
        .join(
            F.broadcast(adc2),
            (F.col("cqid") == F.col("aqid"))
            & (F.col("sub") == F.col("asub"))
            & (F.col("code") == F.col("acid")),
        )
        .groupBy(F.col("cqid").alias("query_id"),
                 F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("adq").alias("adist"))
    )
    w = Window.partitionBy("query_id").orderBy("adist", "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("query_id", "neighbor_id", "adist", "rank")
    )


_MMR_Q = 3        # queries
_MMR_CAND = 8     # candidate pool per query
_MMR_PICKS = 3    # diversified picks


@query(
    "search_mmr_diversify",
    oracle=f"""
    WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
                  WHERE {NZ('embedding')}),
    q AS (SELECT vec_id AS qid, v AS qv FROM base WHERE vec_id < {_MMR_Q}),
    c AS (SELECT vec_id AS cid, v AS cv FROM base),
    cand AS (
      SELECT qid, cid,
             CAST(floor(({SQL_COS}) * 10000 + 0.5) AS BIGINT) AS rel
      FROM (
        SELECT qid, cid, qv, cv,
               row_number() OVER (PARTITION BY qid
                 ORDER BY floor(({SQL_COS}) * 10000 + 0.5) DESC, cid) AS rk
        FROM q CROSS JOIN c WHERE qid != cid
      ) WHERE rk <= {_MMR_CAND}
    ),
    ps AS (
      SELECT a.qid, a.cid AS ca, b.cid AS cb,
             CAST(floor(({sql_cos('av', 'bv')}) * 10000 + 0.5) AS BIGINT)
               AS sim
      FROM (SELECT cand.qid, cand.cid, base.v AS av FROM cand
            JOIN base ON cand.cid = base.vec_id) a
      JOIN (SELECT cand.qid, cand.cid, base.v AS bv FROM cand
            JOIN base ON cand.cid = base.vec_id) b
        ON a.qid = b.qid AND a.cid != b.cid
    ),
    s1 AS (
      SELECT qid,
             max((rel + 20000) * 100000 + (99999 - cid)) AS slot
      FROM cand GROUP BY qid
    ),
    p1 AS (
      SELECT qid, 99999 - slot % 100000 AS cid FROM s1
    ),
    s2 AS (
      SELECT c.qid,
             max((2 * c.rel - ps.sim + 60000) * 100000
                 + (99999 - c.cid)) AS slot
      FROM cand c
      JOIN p1 ON c.qid = p1.qid AND c.cid != p1.cid
      JOIN ps ON ps.qid = c.qid AND ps.ca = c.cid AND ps.cb = p1.cid
      GROUP BY c.qid
    ),
    p2 AS (SELECT qid, 99999 - slot % 100000 AS cid FROM s2),
    s3 AS (
      SELECT c.qid,
             max((2 * c.rel - greatest(ps1.sim, ps2.sim) + 60000) * 100000
                 + (99999 - c.cid)) AS slot
      FROM cand c
      JOIN p1 ON c.qid = p1.qid AND c.cid != p1.cid
      JOIN p2 ON c.qid = p2.qid AND c.cid != p2.cid
      JOIN ps ps1 ON ps1.qid = c.qid AND ps1.ca = c.cid
                 AND ps1.cb = p1.cid
      JOIN ps ps2 ON ps2.qid = c.qid AND ps2.ca = c.cid
                 AND ps2.cb = p2.cid
      GROUP BY c.qid
    ),
    p3 AS (SELECT qid, 99999 - slot % 100000 AS cid FROM s3),
    picks AS (
      SELECT qid, 1 AS pick_order, cid FROM p1
      UNION ALL SELECT qid, 2, cid FROM p2
      UNION ALL SELECT qid, 3, cid FROM p3
    )
    SELECT picks.qid AS query_id, picks.pick_order,
           picks.cid AS neighbor_id, cand.rel AS rel_q4
    FROM picks JOIN cand ON picks.qid = cand.qid AND picks.cid = cand.cid
    """,
)
def search_mmr_diversify(spark, sf_dir):
    """MAXIMAL MARGINAL RELEVANCE re-ranking (Carbonell & Goldstein
    1998, public) — the diversity pass between retrieval and display:
    from each query's top-8 relevance candidates, greedily pick 3
    maximizing 2·relevance − max-similarity-to-already-picked, so
    near-duplicate results don't crowd the answer list. The greedy is
    SEQUENTIAL but its horizon is the BOUNDED candidate list, so the
    three steps UNROLL into plain aggs + joins (the widened-slot
    argmax at each step; score biased non-negative before packing;
    id tie-break toward the smaller via 99999 − cid — documented
    width, ids < 10^5). Candidate relevance and all pairwise
    candidate similarities are 4dp-quantized integers, so every
    comparison replays bit-for-bit. Candidate generation is the
    broadcast brute-force ranking (ann_topk_cosine); the pairwise sim
    table is candidates² per query — 64 rows, never corpus-scale."""
    from pyspark.sql import Window

    from ..llm.similarity import as_double, nonzero

    emb = io.fan_out(io.read_parquet(spark, f"{sf_dir}/embeddings.parquet").df)
    base = emb.filter(nonzero(F.col("embedding"))).select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    )
    q = base.filter(F.col("vec_id") < _MMR_Q).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv")
    )
    c = base.select(F.col("vec_id").alias("cid"), F.col("v").alias("cv"))
    cos = (
        "aggregate(zip_with({a}, {b}, (x, y) -> x * y), CAST(0.0 AS DOUBLE),"
        " (acc, e) -> acc + e)"
        " / (sqrt(aggregate(transform({a}, x -> x * x), CAST(0.0 AS DOUBLE),"
        "          (acc, e) -> acc + e))"
        "    * sqrt(aggregate(transform({b}, x -> x * x),"
        "           CAST(0.0 AS DOUBLE), (acc, e) -> acc + e)))"
    )
    relq = F.expr(
        f"CAST(floor(({cos.format(a='qv', b='cv')}) * 10000 + 0.5) AS BIGINT)"
    )
    wr = Window.partitionBy("qid").orderBy(F.desc("rel"), "cid")
    cand = (
        q.crossJoin(c)
        .filter(F.col("qid") != F.col("cid"))
        .select("qid", "cid", relq.alias("rel"))
        .withColumn("rk", F.row_number().over(wr))
        .filter(F.col("rk") <= _MMR_CAND)
        .drop("rk")
    )
    from ..plans.cache import pin

    cand = pin(cand)
    av = base.select(F.col("vec_id").alias("ca"), F.col("v").alias("av"))
    bv = base.select(F.col("vec_id").alias("cb"), F.col("v").alias("bv"))
    ps = pin(
        cand.select("qid", F.col("cid").alias("ca"))
        .join(cand.select(F.col("qid").alias("q2"), F.col("cid").alias("cb")),
              (F.col("qid") == F.col("q2")) & (F.col("ca") != F.col("cb")))
        .drop("q2")
        .join(F.broadcast(av), "ca")
        .join(F.broadcast(bv), "cb")
        .select(
            "qid", "ca", "cb",
            F.expr(
                f"CAST(floor(({cos.format(a='av', b='bv')}) * 10000 + 0.5)"
                " AS BIGINT)"
            ).alias("sim"),
        )
    )
    p1 = cand.groupBy("qid").agg(
        (F.lit(99999) - F.max((F.col("rel") + 20000) * 100000
                              + (99999 - F.col("cid"))) % 100000).alias("cid")
    )
    c2 = (
        cand.join(p1.withColumnRenamed("cid", "p1c"), "qid")
        .filter(F.col("cid") != F.col("p1c"))
        .join(
            ps.select("qid", F.col("ca").alias("cid"),
                      F.col("cb").alias("p1c"), F.col("sim").alias("sim1")),
            ["qid", "cid", "p1c"],
        )
    )
    p2 = c2.groupBy("qid").agg(
        (F.lit(99999) - F.max(
            (2 * F.col("rel") - F.col("sim1") + 60000) * 100000
            + (99999 - F.col("cid"))
        ) % 100000).alias("cid")
    )
    c3 = (
        c2.join(p2.withColumnRenamed("cid", "p2c"), "qid")
        .filter(F.col("cid") != F.col("p2c"))
        .join(
            ps.select("qid", F.col("ca").alias("cid"),
                      F.col("cb").alias("p2c"), F.col("sim").alias("sim2")),
            ["qid", "cid", "p2c"],
        )
    )
    p3 = c3.groupBy("qid").agg(
        (F.lit(99999) - F.max(
            (2 * F.col("rel") - F.greatest("sim1", "sim2") + 60000) * 100000
            + (99999 - F.col("cid"))
        ) % 100000).alias("cid")
    )
    picks = (
        p1.select("qid", F.lit(1).alias("pick_order"), "cid")
        .unionByName(p2.select("qid", F.lit(2).alias("pick_order"), "cid"))
        .unionByName(p3.select("qid", F.lit(3).alias("pick_order"), "cid"))
    )
    return picks.join(cand, ["qid", "cid"]).select(
        F.col("qid").alias("query_id"), "pick_order",
        F.col("cid").alias("neighbor_id"), F.col("rel").alias("rel_q4"),
    )


def _semantic_assign_ctes() -> str:
    """Shared CTE block: trained-quantizer nearest-centroid assignment
    of the full corpus (the same Lloyd fit + rk=1 rule as
    _ivf_trained_oracle)."""
    from .ml import _kmeans_fit_ctes

    return f"""{_kmeans_fit_ctes(iters=2, k=4, dims=64)},
    cvec AS (SELECT cid, list(value ORDER BY pos) AS cvv
             FROM centq GROUP BY cid),
    corp AS (SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings
             WHERE {NZ('embedding')}),
    assign AS (
      SELECT vec_id, cv, cid FROM (
        SELECT corp.vec_id, corp.cv, cvec.cid,
               row_number() OVER (
                 PARTITION BY corp.vec_id
                 ORDER BY floor(({sql_cos('cv', 'cvv')}) * 10000 + 0.5)
                            / 10000 DESC,
                          cvec.cid) AS rk
        FROM corp CROSS JOIN cvec
      ) WHERE rk = 1
    )"""


@query(
    "dedup_semantic_clusters",
    oracle=f"""
    WITH {{}}, 
    pairs AS (
      SELECT l.cid, r.vec_id AS b
      FROM assign l JOIN assign r
        ON l.cid = r.cid AND l.vec_id < r.vec_id
      WHERE floor(({sql_cos('l.cv', 'r.cv')}) * 10000 + 0.5) / 10000 >= 0.30
    ),
    drops AS (SELECT cid, b FROM pairs GROUP BY cid, b)
    SELECT m.cid, count(*) AS n_members,
           count(d.b) AS n_dropped,
           count(*) - count(d.b) AS n_kept
    FROM assign m LEFT JOIN drops d ON m.cid = d.cid AND m.vec_id = d.b
    GROUP BY m.cid
    """.format(_semantic_assign_ctes()),
)
def dedup_semantic_clusters(spark, sf_dir):
    """SEMANTIC deduplication, SemDeDup-style (Abbas et al. 2023):
    cluster the embedding space with a trained quantizer, then search
    for near-duplicates ONLY within each cluster — the published
    recipe that turns the O(N^2) global embedding near-dup problem
    into Sum |cluster|^2, because semantically identical documents
    land in the same cell by construction. A member is DROPPED when a
    lower-id member of its cluster sits at cosine >= 0.30 (the same
    nonzero-matched-set threshold as embedding_neardup); output is
    the per-cluster member/dropped/kept census a curation run reports.

    Composition is entirely from parts this repo already trusts: the
    quantized SQL-replayable Lloyd fit (workloads/ml), the
    literal-centroid O(N*C) zero-shuffle assignment (llm/similarity.
    ivf_topk's trained branch), one within-cluster self-equi-join on
    cid, and a LEFT-JOIN census. At 100 TB: k scales with N (k ~
    N / desired_cell_size keeps cells bounded, the paper uses ~100k
    clusters), assignment stays a narrow projection, and a cell too
    hot for its |cell|^2 verify can sub-block with the hyperplane-LSH
    buckets (embedding_neardup) INSIDE the cell — the two blockers
    compose. Oracle replays fit, assignment, pair join and census."""
    from .ml import quantized_kmeans_fit

    emb = io.fan_out(io.read_parquet(spark, f"{sf_dir}/embeddings.parquet").df)
    fitted = quantized_kmeans_fit(emb, iters=2, k=4, dims=64).collect()
    acc: dict[int, dict[int, float]] = {}
    for r in fitted:
        acc.setdefault(r["cid"], {})[r["pos"]] = r["value"]
    cents = sorted((cid, [d[p] for p in sorted(d)]) for cid, d in acc.items())

    def top_cid(vec):
        if not cents:
            # empty training corpus: zero centroids — NULL cid assigns
            # nothing and the cid self-join yields no pairs (array()
            # of zero structs is array<void>, unanalyzable)
            return F.lit(None).cast("int")
        cands = F.array(
            *[
                F.struct(
                    (-S._rd(S.cosine(vec, F.array(*[F.lit(float(x)) for x in cv])), 4)
                     ).alias("negsim"),
                    F.lit(int(cid)).alias("cid"),
                )
                for cid, cv in cents
            ]
        )
        return F.slice(F.array_sort(cands), 1, 1).getField("cid")[0]

    from ..plans.cache import pin

    assign = pin(emb.filter(S.nonzero(F.col("embedding"))).select(
        "vec_id",
        S.as_double(F.col("embedding")).alias("cv"),
        top_cid(S.as_double(F.col("embedding"))).alias("cid"),
    ))  # consumed 3x (both join sides + census) — one scan, not three
    l, r = assign.alias("l"), assign.alias("r")
    pairs = (
        l.join(r, (F.col("l.cid") == F.col("r.cid"))
               & (F.col("l.vec_id") < F.col("r.vec_id")))
        .filter(S._rd(S.cosine(F.col("l.cv"), F.col("r.cv")), 4) >= 0.30)
        .select(F.col("l.cid").alias("cid"), F.col("r.vec_id").alias("b"))
    )
    drops = pairs.distinct()
    m = assign.join(
        drops, (assign.cid == drops.cid) & (assign.vec_id == drops.b), "left"
    )
    return m.groupBy(assign.cid.alias("cid")).agg(
        F.count(F.lit(1)).alias("n_members"),
        F.count(drops.b).alias("n_dropped"),
        (F.count(F.lit(1)) - F.count(drops.b)).alias("n_kept"),
    )


def _ndcg_discounts(k: int = 10) -> list[int]:
    """1/log2(i+1) position discounts in ppm, for ranks 1..k —
    computed ONCE here (driver-side, plan-build time) and embedded as
    the SAME integer literals in both engines' plans, so no
    transcendental is ever evaluated inside a compared expression."""
    import math

    return [int(math.floor(1_000_000 / math.log2(i + 1) + 0.5))
            for i in range(1, k + 1)]


def _ndcg_oracle() -> str:
    disc = _ndcg_discounts(10)
    idcg = sum((10 - i) * d for i, d in enumerate(disc))
    lit = "[" + ", ".join(str(d) for d in disc) + "]"
    return f"""
    WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
                  WHERE {NZ('embedding')}),
    q AS (SELECT vec_id AS query_id, v AS qv FROM base WHERE vec_id < 10),
    c AS (SELECT vec_id AS neighbor_id, v AS cv FROM base),
    truth AS (
      SELECT query_id, neighbor_id, 11 - rank AS rel FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY floor(({SQL_COS}) * 10000 + 0.5) / 10000 DESC,
                          neighbor_id) AS rank
        FROM q CROSS JOIN c WHERE query_id != neighbor_id
      ) WHERE rank <= 10
    ),
    b AS (SELECT vec_id, v, {_bucket_sql('v', planes=6, dim=64)} AS bucket
          FROM base),
    qb AS (SELECT vec_id AS query_id, v AS qv, bucket FROM b WHERE vec_id < 10),
    cb AS (SELECT vec_id AS neighbor_id, v AS cv, bucket AS bucket_c FROM b),
    approx AS (
      SELECT query_id, neighbor_id, rank FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY floor(({SQL_COS}) * 10000 + 0.5) / 10000 DESC,
                          neighbor_id) AS rank
        FROM qb JOIN cb ON bucket = bucket_c AND query_id != neighbor_id
      ) WHERE rank <= 10
    ),
    gains AS (
      SELECT a.query_id,
             coalesce(t.rel, 0) * ({lit})[a.rank] AS g
      FROM approx a LEFT JOIN truth t
        ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id
    )
    SELECT query_id, CAST(sum(g) AS BIGINT) AS dcg_ppm,
           CAST(sum(g) * 1000000 // {idcg} AS BIGINT) AS ndcg_ppm
    FROM gains GROUP BY query_id
    """


@query("search_ndcg_eval", oracle=_ndcg_oracle())
def search_ndcg_eval(spark, sf_dir):
    """NDCG@10 — the GRADED-relevance retrieval eval that completes
    the triad (ann_recall_eval: set overlap; search_mrr_eval: where
    the single truth landed; here: how well the WHOLE approximate
    ordering agrees with the exact one, with log-position discounts).
    Relevance grades come from the exact ranking itself (brute-force
    top-10 → rel = 11 - true_rank, the standard implicit-feedback
    setup when no human labels exist); the LSH index's top-10 is
    scored Σ rel(doc@i)·disc(i). The 1/log2(i+1) discounts — the one
    transcendental in NDCG's definition — are precomputed ONCE at
    plan-build into a 10-entry integer-ppm literal table shared by
    both engines (same trick as the JL sign matrix), and IDCG@10 is
    a compile-time constant because the truth set always carries
    grades 10..1 — so the whole compared computation is integer
    products, an equi-join, and one grouped sum. At 100 TB: truth
    generation is the expensive exact pass (Q×N broadcast scan), run
    on a sampled query panel exactly as here; the eval itself is one
    slim join on (query, doc)."""
    disc = _ndcg_discounts(10)
    idcg = sum((10 - i) * d for i, d in enumerate(disc))
    from ..plans.cache import pin

    emb = io.fan_out(io.read_parquet(spark, f"{sf_dir}/embeddings.parquet").df)
    # unpinned: 4 embeddings scans at sf0.001, median ×1.11 sf0.1 / ×0.95 sf1
    queries = pin(emb.filter(F.col("vec_id") < 10))
    truth = S.brute_force_topk(emb, queries, k=10).select(
        F.col("query_id").alias("tq"),
        F.col("neighbor_id").alias("tn"),
        (11 - F.col("rank")).alias("rel"),
    )
    approx = S.lsh_topk(emb, queries, k=10, planes=6, dim=64).select(
        "query_id", "neighbor_id", "rank"
    )
    disc_arr = F.array(*[F.lit(d) for d in disc])
    gains = approx.join(
        truth,
        (F.col("query_id") == F.col("tq"))
        & (F.col("neighbor_id") == F.col("tn")),
        "left",
    ).select(
        "query_id",
        (F.coalesce(F.col("rel"), F.lit(0))
         * F.element_at(disc_arr, F.col("rank"))).alias("g"),
    )
    return gains.groupBy("query_id").agg(
        F.sum("g").cast("bigint").alias("dcg_ppm"),
        F.expr(f"CAST(sum(g) * 1000000 div {idcg} AS BIGINT)")
        .alias("ndcg_ppm"),
    )
