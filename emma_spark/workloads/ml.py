"""ML-library workloads (SURVEY §2.9) with DuckDB oracles.

Oracle-able pieces: elementwise vector stats, a kMeans assignment pass
with fixed centroids, naive-Bayes model training on integer-valued
features (sums exact → deterministic), dictionary feature encoding.
The iterative fits (kMeans training loop) are rows-only (non-SQL).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..lib import stats
from ..lib.ml import features as feat
from ..lib.ml.naive_bayes import naive_bayes
from ..plans.cache import pin
from ..sources import io
from . import query, rd, regr_mask, sum_long_exact

# 4 fixed centroids in the embeddings' 8-dim space (first 8 dims used)
CENTROIDS = [
    (0, [0.5] * 8),
    (1, [-0.5] * 8),
    (2, [0.5, -0.5] * 4),
    (3, [-0.5, 0.5] * 4),
]


@query(
    "ml_stats_summarize",
    oracle="""
    SELECT pos - 1 AS pos, count(*)::BIGINT AS n,
           sum(floor(v * 10000 + 0.5)) / 10000 AS sum_q,
           min(v) AS mn, max(v) AS mx
    FROM (SELECT unnest(embedding::DOUBLE[]) AS v,
                 generate_subscripts(embedding, 1) AS pos
          FROM embeddings)
    GROUP BY pos
    """,
)
def ml_stats_summarize(spark, sf_dir):
    """Elementwise vector stats (stat.scala:23-62): posexplode →
    groupBy(pos) — D keys, map-side partials, no driver funnel."""
    emb = io.read_parquet(spark, f"{sf_dir}/embeddings.parquet").df
    e = emb.select(F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "v"))
    return e.groupBy("pos").agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum(F.floor(F.col("v") * 10000 + F.lit(0.5))) / 10000).alias("sum_q"),
        F.min("v").alias("mn"),
        F.max("v").alias("mx"),
    )


def _sqdist_sql(c: list[float]) -> str:
    lits = "[" + ", ".join(str(x) for x in c) + "]"
    return (
        f"list_sum(list_transform(range(1, 9), "
        f"i -> (v[i] - ({lits})[i]) * (v[i] - ({lits})[i])))"
    )


@query(
    "ml_kmeans_assign",
    oracle=f"""
    WITH pts AS (SELECT vec_id, (embedding::DOUBLE[])[1:8] AS v FROM embeddings),
    d AS (SELECT vec_id,
          {', '.join(f"floor(({_sqdist_sql(c)}) * 10000 + 0.5) AS d{cid}" for cid, c in CENTROIDS)}
          FROM pts)
    SELECT vec_id, CASE
      WHEN d0 <= least(d1, d2, d3) THEN 0
      WHEN d1 <= least(d2, d3) THEN 1
      WHEN d2 <= d3 THEN 2 ELSE 3 END AS cid
    FROM d
    """,
    headline=True,
)
def ml_kmeans_assign(spark, sf_dir):
    """One kMeans assignment pass with fixed centroids
    (kMeans.scala:61-65): nearest-centroid argmin as a pure projection
    over a literal centroid array — no join, no shuffle, broadcast by
    construction. Distances quantized before argmin so the oracle's
    tie-break is identical."""
    from ..lib.linalg import sqdist, vlit

    emb = io.read_parquet(spark, f"{sf_dir}/embeddings.parquet").df
    v = F.slice(F.col("embedding").cast("array<double>"), 1, 8)
    cands = F.array(
        *[
            F.struct(
                F.floor(sqdist(v, vlit(c)) * 10000 + F.lit(0.5)).alias("dist"),
                F.lit(cid).alias("cid"),
            )
            for cid, c in CENTROIDS
        ]
    )
    return emb.select("vec_id", F.array_min(cands)["cid"].alias("cid"))


@query(
    "ml_naive_bayes_train",
    oracle="""
    WITH agg AS (
      SELECT l_returnflag AS label, count(*)::BIGINT AS l_cnt,
             sum(l_quantity) AS s0, sum(l_linenumber) AS s1,
             sum(floor(l_discount * 100 + 0.5)) AS s2
      FROM lineitem GROUP BY l_returnflag
    ), tot AS (SELECT sum(l_cnt) AS n_points, count(*) AS n_labels FROM agg)
    SELECT label,
      floor((ln(l_cnt + 1.0) - ln(n_points + n_labels * 1.0)) * 1000000 + 0.5) / 1000000 AS pi,
      floor((ln(s0 + 1.0) - ln(s0 + s1 + s2 + 3.0)) * 1000000 + 0.5) / 1000000 AS t0,
      floor((ln(s1 + 1.0) - ln(s0 + s1 + s2 + 3.0)) * 1000000 + 0.5) / 1000000 AS t1,
      floor((ln(s2 + 1.0) - ln(s0 + s1 + s2 + 3.0)) * 1000000 + 0.5) / 1000000 AS t2
    FROM agg, tot
    """,
)
def ml_naive_bayes_train(spark, sf_dir):
    """Multinomial NB training (naiveBayes.scala:40-67) on
    integer-valued lineitem features (exact sums → cross-engine
    deterministic); theta flattened + rounded for the hash compare."""
    li = io.read_parquet(spark, f"{sf_dir}/lineitem.parquet").df
    data = li.select(
        F.col("l_returnflag").alias("label"),
        F.array(
            F.col("l_quantity"),
            F.col("l_linenumber").cast("double"),
            F.floor(F.col("l_discount") * 100 + F.lit(0.5)).cast("double"),
        ).alias("vec"),
    )
    model = naive_bayes(data, lam=1.0)
    round6 = lambda c: F.floor(c * 1000000 + F.lit(0.5)) / 1000000
    return model.select(
        "label",
        round6(F.col("pi")).alias("pi"),
        round6(F.col("theta")[0]).alias("t0"),
        round6(F.col("theta")[1]).alias("t1"),
        round6(F.col("theta")[2]).alias("t2"),
    )


@query(
    "ml_encode_dict_freq",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[^a-zA-Z0-9_]+'),
                                        t -> t != '')) AS term
      FROM documents
    ), vocab AS (
      SELECT term, row_number() OVER (ORDER BY term) - 1 AS index
      FROM (SELECT DISTINCT term FROM toks)
    )
    SELECT t.doc_id, v.index, count(*)::DOUBLE AS freq
    FROM toks t JOIN vocab v USING (term)
    GROUP BY t.doc_id, v.index
    """,
)
def ml_encode_dict_freq(spark, sf_dir):
    """Dictionary frequency encoding (encode.scala: dict + freq),
    flattened to (doc_id, index, freq). The vocab join broadcasts;
    at 100 TB the dictionary itself stays distributed."""
    docs = io.fan_out(io.read_parquet(spark, f"{sf_dir}/documents.parquet").df)
    toks = docs.select("doc_id", feat.tokenize(F.col("text")).alias("toks"))
    vocab = feat.build_dict(toks)
    e = toks.select("doc_id", F.explode("toks").alias("term"))
    return (
        e.join(F.broadcast(vocab), "term")
        .groupBy("doc_id", "index")
        .agg(F.count(F.lit(1)).cast("double").alias("freq"))
    )


def _kmeans_fit_ctes(iters: int = 2, k: int = 4, dims: int = 8) -> str:
    """Lloyd unrolled as chained CTEs (no WITH prefix), math quantized
    to exact integers at every cross-engine-sensitive spot (squared-
    distance terms and centroid sums), so Spark and DuckDB agree
    bit-for-bit. Ends in relation ``centq`` = (cid, pos, value) with
    value quantized to the 1e-6 grid — reusable as a trained-quantizer
    input by other oracles (ann_ivf_trained)."""
    sql = f"""pts AS (
      SELECT * FROM (
        SELECT vec_id AS id, generate_subscripts(embedding, 1) - 1 AS pos,
               unnest(embedding::DOUBLE[]) AS v
        FROM embeddings
      ) WHERE pos < {dims}
    ),
    c0ids AS (
      SELECT id, row_number() OVER (ORDER BY id) - 1 AS cid
      FROM (SELECT DISTINCT id FROM pts ORDER BY id LIMIT {k})
    ),
    cent0 AS (SELECT c.cid, p.pos, p.v AS c FROM c0ids c JOIN pts p USING (id))
    """
    prev = "cent0"
    for i in range(1, iters + 1):
        sql += f""",
    d{i} AS (
      SELECT p.id, c.cid,
             sum(floor((p.v - c.c) * (p.v - c.c) * 1000000000 + 0.5)) AS d
      FROM pts p JOIN {prev} c USING (pos) GROUP BY p.id, c.cid
    ),
    a{i} AS (
      SELECT id, cid FROM (
        SELECT id, cid, row_number() OVER (PARTITION BY id ORDER BY d, cid) AS rn
        FROM d{i}
      ) WHERE rn = 1
    ),
    cent{i} AS (
      SELECT a.cid, p.pos,
             sum(floor(p.v * 10000 + 0.5)) / (10000.0 * count(*)) AS c
      FROM a{i} a JOIN pts p USING (id) GROUP BY a.cid, p.pos
    )"""
        prev = f"cent{i}"
    return sql + f""",
    centq AS (
      SELECT cid, pos, floor(c * 1000000 + 0.5) / 1000000 AS value FROM {prev}
    )"""


def _kmeans_fit_sql(iters: int = 2, k: int = 4, dims: int = 8) -> str:
    return f"WITH {_kmeans_fit_ctes(iters, k, dims)} SELECT cid, pos, value FROM centq"


def quantized_kmeans_fit(emb, iters: int = 2, k: int = 4, dims: int = 8):
    """Deterministic quantized Lloyd fit (the SQL-replayable twin of
    lib/ml/kmeans): init = the k smallest vec_ids, `iters` full
    assign+update rounds over the first `dims` coordinates, centroids
    out long-format (cid, pos, value) on the 1e-6 grid. Every float op
    quantized to exact integer arithmetic so `_kmeans_fit_ctes`
    replays it bit-for-bit; reused by ml_kmeans_fit and as the trained
    quantizer for ann_ivf_trained."""
    from pyspark.sql import Window

    pts = emb.select(
        F.col("vec_id").alias("id"),
        F.posexplode(F.slice(F.col("embedding").cast("array<double>"), 1, dims)).alias(
            "pos", "v"
        ),
    ).persist()
    init_ids = sorted(r["id"] for r in pts.select("id").distinct().orderBy("id").limit(k).collect())
    # empty input: create_map() is map<void,void> and the lookup fails
    # ANALYSIS; a NULL cid keeps the (empty) plan well-typed
    if init_ids:
        mapping = F.create_map(*[F.lit(x) for i, pid in enumerate(init_ids) for x in (pid, i)])
        cid = mapping[F.col("id")]
    else:
        cid = F.lit(None).cast("int")
    cent = pts.filter(F.col("id").isin(init_ids)).select(
        cid.alias("cid"), "pos", F.col("v").alias("c")
    )
    for _ in range(iters):
        d = (
            pts.join(F.broadcast(cent), "pos")
            .groupBy("id", "cid")
            .agg(
                F.sum(
                    F.floor((F.col("v") - F.col("c")) * (F.col("v") - F.col("c")) * 1000000000 + F.lit(0.5))
                ).alias("d")
            )
        )
        w = Window.partitionBy("id").orderBy("d", "cid")
        assign = d.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1).select("id", "cid")
        cent = (
            assign.join(pts, "id")
            .groupBy("cid", "pos")
            .agg(
                (F.sum(F.floor(F.col("v") * 10000 + F.lit(0.5))) / (10000.0 * F.count(F.lit(1)))).alias("c")
            )
        )
    out = cent.select(
        "cid", "pos", (F.floor(F.col("c") * 1000000 + F.lit(0.5)) / 1000000).alias("value")
    )
    out = pin(out, eager=True)
    pts.unpersist()
    return out


@query("ml_kmeans_fit", oracle=_kmeans_fit_sql())
def ml_kmeans_fit(spark, sf_dir):
    """kMeans Lloyd fit (kMeans.scala:40-92): deterministic init (the k
    smallest vec_ids), 2 full assign+update rounds, centroids out as
    (cid, pos, value).

    Long-format variant chosen so every float op is quantized to exact
    integer arithmetic and a DuckDB oracle can replay the whole fit
    bit-for-bit — upgrading this from the rows-only check. Per round:
    centroids (k·D rows) broadcast into the distance join, argmin via
    window, means from exact integer sums. The wide-vector seeded-init
    variant for production scale remains lib/ml/kmeans.py (pytest:
    cost decreases monotonically, assignment overlap vs golden)."""
    emb = io.fan_out(io.read_parquet(spark, f"{sf_dir}/embeddings.parquet").df)
    return quantized_kmeans_fit(emb, iters=2, k=4, dims=8)


@query(
    "ml_linreg_closed_form",
    oracle="""
    SELECT l_returnflag,
           floor(regr_slope(l_extendedprice, l_quantity) * 10000 + 0.5) / 10000 AS slope,
           floor(regr_intercept(l_extendedprice, l_quantity) * 10000 + 0.5) / 10000 AS intercept
    FROM lineitem GROUP BY l_returnflag
    """,
)
def ml_linreg_closed_form(spark, sf_dir):
    """Per-group closed-form linear regression (lib/ml/regression.py
    linreg_normal; linreg.scala semantics for the 1-feature case):
    price ~ quantity per return flag. One hash aggregate with map-side
    partials — the exact-solution path that needs no SGD loop."""
    li = io.load_tables(spark, sf_dir, "lineitem")["lineitem"]
    y, x = F.col("l_extendedprice"), F.col("l_quantity")
    masked = li.df.select(
        "l_returnflag", "l_quantity", "l_extendedprice",
        # var(x)=0 groups must aggregate over zero rows: ANSI
        # regr_slope divides by it and a CASE around the aggregate
        # cannot prevent the evaluation (window mask, exchange reused)
        regr_mask(y, x, ["l_returnflag"]).alias("__ok"),
    )
    ok = F.col("__ok")
    return masked.groupBy("l_returnflag").agg(
        rd(F.regr_slope(F.when(ok, y), F.when(ok, x)), 4).alias("slope"),
        rd(F.regr_intercept(F.when(ok, y), F.when(ok, x)), 4).alias("intercept"),
    )


@query(
    "ml_kfold_crossval",
    oracle="""
    WITH t AS (
      SELECT l_quantity AS x, l_extendedprice AS y,
             CAST(CAST(concat('0x', substr(md5(concat_ws(chr(31),
                    coalesce(CAST(l_orderkey AS VARCHAR), chr(1)),
                    coalesce(CAST(l_linenumber AS VARCHAR), chr(1)),
                    '13')), 1, 14)) AS BIGINT) % 5 AS INT) AS fold
      FROM lineitem
    ), models AS (
      SELECT ks.k,
             floor(regr_slope(y, x) * 10000 + 0.5) / 10000 AS m,
             floor(regr_intercept(y, x) * 10000 + 0.5) / 10000 AS c
      FROM t CROSS JOIN (SELECT unnest([0, 1, 2, 3, 4]) AS k) ks
      WHERE t.fold != ks.k
      GROUP BY ks.k
    )
    SELECT t.fold AS k, count(*) AS n_test,
           floor(sqrt(sum(floor((y - (m * x + c)) * (y - (m * x + c)) * 100 + 0.5))
                      / (100.0 * count(*))) * 100 + 0.5) / 100 AS rmse
    FROM t JOIN models ON t.fold = models.k
    GROUP BY t.fold
    """,
)
def ml_kfold_crossval(spark, sf_dir):
    """k-fold cross-validation (kfold.scala semantics via
    lib/ml/kfold.split_hash + eval): 5 portable hash folds; for each
    fold k train a closed-form linear regression on the OTHER folds and
    score RMSE on fold k.

    One pass trains all 5 models (cross join with the fold-id dim +
    fold != k filter — a 5x expand, the inherent CV cost, aggregated
    with map-side partials); one join scores them. Cross-engine float
    determinism: models are quantized to 4dp BEFORE scoring, so both
    engines square bit-identical residuals; the squared errors are
    per-row quantized to exact integers before the sum."""
    from ..lib.ml import kfold

    li = io.load_tables(spark, sf_dir, "lineitem")["lineitem"].df
    t = kfold.split_hash(
        li, 5, ["l_orderkey", "l_linenumber"], seed=13, fold_col="fold"
    ).select(
        F.col("l_quantity").alias("x"), F.col("l_extendedprice").alias("y"), "fold"
    )
    ks = spark.range(5).select(F.col("id").cast("int").alias("k"))
    expanded = (
        t.crossJoin(ks)
        .filter(F.col("fold") != F.col("k"))
        .withColumn("__ok", regr_mask(F.col("y"), F.col("x"), ["k"]))
    )
    ok = F.col("__ok")
    models = expanded.groupBy("k").agg(
        rd(F.regr_slope(F.when(ok, F.col("y")), F.when(ok, F.col("x"))), 4).alias("m"),
        rd(F.regr_intercept(F.when(ok, F.col("y")), F.when(ok, F.col("x"))), 4).alias("c"),
    )
    err = F.col("y") - (F.col("m") * F.col("x") + F.col("c"))
    sq = F.floor(err * err * 100 + F.lit(0.5))
    return (
        t.join(models, t["fold"] == models["k"])
        .groupBy(F.col("fold").alias("k"))
        .agg(
            F.count(F.lit(1)).alias("n_test"),
            (F.floor(F.sqrt(F.sum(sq) / (100.0 * F.count(F.lit(1)))) * 100 + F.lit(0.5)) / 100).alias("rmse"),
        )
    )


# ---------------------------------------------------------------- SGD family
# Deterministic replayable gradient descent (the ml_kmeans_fit trick
# applied to optimization/solver/sgd.scala:30-80): rotating modulo
# mini-batches, per-row gradient terms quantized to exact 1e-6-grid
# integers before the cross-row sum, weights re-quantized to the 1e-9
# grid after every update — so a DuckDB CTE chain replays the whole
# fit bit-for-bit. The production solver (lib/ml/optimization.sgd:
# seeded-hash mini-batches, clipping, unquantized floats) remains the
# scale path; this twin exists to put the SGD iteration math under the
# value-hash gate.

_SGD_ITERS = 3
_SGD_MOD = 7  # batch `it` = rows with l_orderkey % 7 == it


def _sgd_feats_sql(logistic: bool):
    """(feature SQL exprs, label SQL expr) — structurally identical to
    the Column builders below."""
    if logistic:
        return (
            ["1.0", "CAST(l_quantity AS DOUBLE) / 10", "l_discount * 10"],
            "CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END",
        )
    return ["1.0", "CAST(l_quantity AS DOUBLE) / 10"], "l_extendedprice / 1000"


def _sgd_feats_cols(logistic: bool):
    """(feature Columns, label Column) — built lazily: Column exprs
    need an active session, and oracles are rendered at import time."""
    if logistic:
        feats = [
            F.lit(1.0),
            F.col("l_quantity").cast("double") / 10,
            F.col("l_discount") * 10,
        ]
        return feats, F.when(F.col("l_returnflag") == "R", 1.0).otherwise(0.0)
    feats = [F.lit(1.0), F.col("l_quantity").cast("double") / 10]
    return feats, F.col("l_extendedprice") / 1000


def _sgd_sql(logistic: bool, lr: float = 0.05) -> str:
    import math

    feats_sql, label_sql = _sgd_feats_sql(logistic)
    nf = len(feats_sql)
    cols = ", ".join(f"{e} AS x{j}" for j, e in enumerate(feats_sql))
    sql = f"""
    WITH d AS (SELECT l_orderkey, {cols}, {label_sql} AS y FROM lineitem),
    w0 AS (SELECT {', '.join(f'0.0 AS w{j}' for j in range(nf))})"""
    for it in range(1, _SGD_ITERS + 1):
        pred = " + ".join(f"w.w{j} * x{j}" for j in range(nf))
        if logistic:
            resid = f"(floor(1.0 / (1.0 + exp(-({pred}))) * 1000000 + 0.5) / 1000000 - y)"
        else:
            resid = f"({pred} - y)"
        gsums = ", ".join(
            f"CAST(sum(CAST(floor({resid} * x{j} * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS g{j}"
            for j in range(nf)
        )
        lrit = repr(lr / math.sqrt(it))
        wnew = ", ".join(
            f"floor((w.w{j} - {lrit} * (g.g{j} / (1000000.0 * g.n))) * 1000000000 + 0.5)"
            f" / 1000000000 AS w{j}"
            for j in range(nf)
        )
        sql += f""",
    g{it} AS (
      SELECT {gsums}, count(*) AS n
      FROM d, w{it - 1} w WHERE l_orderkey % {_SGD_MOD} = {it % _SGD_MOD}
    ),
    w{it} AS (SELECT {wnew} FROM w{it - 1} w, g{it} g)"""
    outs = " UNION ALL ".join(
        f"SELECT CAST({j} AS BIGINT) AS pos, "
        f"floor(w{j} * 1000000 + 0.5) / 1000000 AS weight FROM w{_SGD_ITERS}"
        for j in range(nf)
    )
    return sql + f" {outs}"


def _quantized_sgd_fit(spark, li, logistic: bool, lr: float = 0.05):
    import math

    feats, label = _sgd_feats_cols(logistic)
    d = li.select(
        F.col("l_orderkey"),
        *[e.alias(f"x{j}") for j, e in enumerate(feats)],
        label.alias("y"),
    ).persist()
    try:
        nf = len(feats)
        w = [0.0] * nf
        for it in range(1, _SGD_ITERS + 1):
            pred = sum((F.lit(w[j]) * F.col(f"x{j}") for j in range(1, nf)),
                       F.lit(w[0]) * F.col("x0"))
            if logistic:
                resid = (
                    F.floor((F.lit(1.0) / (F.lit(1.0) + F.exp(-pred))) * 1000000
                            + F.lit(0.5)) / 1000000 - F.col("y")
                )
            else:
                resid = pred - F.col("y")
            row = (
                d.filter(F.col("l_orderkey") % _SGD_MOD == it % _SGD_MOD)
                .agg(
                    *[
                        F.sum(
                            F.floor(resid * F.col(f"x{j}") * 1000000 + F.lit(0.5))
                        ).alias(f"g{j}")
                        for j in range(nf)
                    ],
                    F.count(F.lit(1)).alias("n"),
                )
                .collect()[0]
            )
            if row["n"] == 0 or any(row[f"g{j}"] is None for j in range(nf)):
                # an EMPTY rotation batch NULL-poisons the weights
                # exactly as the oracle's unrolled algebra does (NULL
                # gradient -> NULL weights -> every later batch's
                # residuals NULL, no recovery): emit NULL weights
                # instead of crashing on None arithmetic driver-side
                w = [None] * nf
                break
            lrit = lr / math.sqrt(it)
            w = [
                math.floor((w[j] - lrit * (row[f"g{j}"] / (1000000.0 * row["n"])))
                           * 1000000000 + 0.5) / 1000000000
                for j in range(nf)
            ]
        out = [
            (j, None if w[j] is None
             else math.floor(w[j] * 1000000 + 0.5) / 1000000)
            for j in range(nf)
        ]
        return spark.createDataFrame(out, "pos: bigint, weight: double")
    finally:
        d.unpersist()


@query("ml_sgd_linreg", oracle=_sgd_sql(logistic=False))
def ml_sgd_linreg(spark, sf_dir):
    """Mini-batch gradient descent for linear regression
    (optimization/solver/sgd.scala:30-80 semantics: per-iteration
    batch, mean gradient fold, lr/sqrt(it) step; error objective
    error/rmse.scala): price/1000 ~ quantity/10 over lineitem, 3
    iterations, rotating l_orderkey%7 batches. Quantized at every
    cross-engine-sensitive spot so the oracle CTE chain replays the
    fit exactly; weights out long-format on the 1e-6 grid."""
    li = io.read_parquet(spark, f"{sf_dir}/lineitem.parquet").df
    return _quantized_sgd_fit(spark, li, logistic=False)


@query("ml_logreg_sgd", oracle=_sgd_sql(logistic=True))
def ml_logreg_sgd(spark, sf_dir):
    """Logistic regression by the same quantized SGD loop
    (error/crossentropy.scala: sigmoid residual): P(returnflag='R') ~
    (1, quantity/10, discount*10). The sigmoid is quantized to the
    1e-6 grid before the residual, so the <=2-ulp libm exp()
    difference between engines cannot leak into the hash."""
    li = io.read_parquet(spark, f"{sf_dir}/lineitem.parquet").df
    return _quantized_sgd_fit(spark, li, logistic=True)


@query(
    "ml_eval_scores",
    oracle="""
    WITH d AS (
      SELECT CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END AS label,
             CASE WHEN l_quantity > 25 THEN 1.0 ELSE 0.0 END AS prediction
      FROM lineitem
    ),
    c AS (
      SELECT count(*) FILTER (WHERE label = 1.0 AND prediction = 1.0) AS tp,
             count(*) FILTER (WHERE label != 1.0 AND prediction = 1.0) AS fp,
             count(*) FILTER (WHERE label = 1.0 AND prediction != 1.0) AS fn,
             count(*) FILTER (WHERE label != 1.0 AND prediction != 1.0) AS tn
      FROM d
    )
    SELECT tp, fp, fn, tn,
      floor((tp + tn)::DOUBLE / (tp + fp + fn + tn) * 1000000 + 0.5) / 1000000 AS accuracy,
      floor(tp::DOUBLE / (tp + fp) * 1000000 + 0.5) / 1000000 AS precision,
      floor(tp::DOUBLE / (tp + fn) * 1000000 + 0.5) / 1000000 AS recall,
      floor(2 * (tp::DOUBLE / (tp + fp)) * (tp::DOUBLE / (tp + fn))
            / (tp::DOUBLE / (tp + fp) + tp::DOUBLE / (tp + fn)) * 1000000 + 0.5)
        / 1000000 AS f1
    FROM c
    """,
)
def ml_eval_scores(spark, sf_dir):
    """Classification evaluation (classification/eval.scala): confusion
    counts + accuracy/precision/recall/f1 in ONE aggregate pass
    (lib/ml/eval.scores_df) for a threshold classifier
    (quantity > 25 -> 'R') against the true return flag. Counts are
    exact ints; metrics are ratios of ints quantized at 6dp."""
    from ..lib.ml.eval import scores_df

    li = io.read_parquet(spark, f"{sf_dir}/lineitem.parquet").df
    d = li.select(
        F.when(F.col("l_returnflag") == "R", 1.0).otherwise(0.0).alias("label"),
        F.when(F.col("l_quantity") > 25, 1.0).otherwise(0.0).alias("prediction"),
    )
    return scores_df(d)


def _pca_sql(iters: int = 3) -> str:
    from ..lib.ml.pca import DOWN, QV, QX

    parts = [f"""
    xc AS (
      SELECT e.vec_id, t.i AS pos,
             CAST(floor(CAST(e.embedding[t.i] AS DOUBLE) * {QX} + 0.5)
                  AS BIGINT) AS xc
      FROM embeddings e,
           unnest(generate_series(1, len(e.embedding))) AS t(i)
    ), v0 AS (
      SELECT DISTINCT pos, CAST({QV // 8} AS BIGINT) AS vc FROM xc
    )"""]
    for t in range(1, iters + 1):
        p = t - 1
        parts.append(f"""
    u{t} AS (
      SELECT x.vec_id, sum(x.xc * v.vc) AS u
      FROM xc x JOIN v{p} v ON x.pos = v.pos GROUP BY x.vec_id
    ), w{t} AS (
      SELECT x.pos, sum(CAST(u.u AS HUGEINT) * x.xc) AS w
      FROM xc x JOIN u{t} u ON x.vec_id = u.vec_id GROUP BY x.pos
    ), ws{t} AS (
      -- exact FLOOR division (python //): strip the non-negative
      -- remainder first (DuckDB's bare // truncates toward zero)
      SELECT pos, (w - ((w % {DOWN}) + {DOWN}) % {DOWN}) // {DOWN} AS ws
      FROM w{t}
    ), n{t} AS (
      SELECT sqrt(CAST(sum(ws * ws) AS DOUBLE)) AS nrm FROM ws{t}
    ), v{t} AS (
      -- zero-matrix guard mirrors lib/ml/pca.py: norm 0 converges to
      -- the zero vector on BOTH engines (plain / would NULL here but
      -- crash the Python driver step one-sidedly)
      SELECT pos,
             CASE WHEN n.nrm > 0
                  THEN CAST(floor(CAST(ws AS DOUBLE) / n.nrm * {QV} + 0.5)
                            AS BIGINT)
                  ELSE 0 END AS vc
      FROM ws{t}, n{t} n
    )""")
    return (
        "WITH" + ",".join(parts)
        + f"""
    SELECT pos - 1 AS pos, CAST(vc AS DOUBLE) / {QV} AS loading
    FROM v{iters}
    """
    )


@query("ml_pca_power_top", oracle=_pca_sql(iters=3))
def ml_pca_power_top(spark, sf_dir):
    """Dominant principal direction of the embedding matrix by THREE
    power iterations (lib/ml/pca.pca_power_top) — covariance-free PCA:
    v ← normalize(Xᵀ(Xv)), where Xv is an exact-integer per-row array
    fold (narrow) and Xᵀu is one posexplode + d-cell DECIMAL hash-agg
    per iteration; only d-row vectors ever reach the driver (the
    model-as-driver-state contract shared with the SGD solvers). All
    cross-row sums are exact integers, the per-iteration sqrt/divide
    are correctly-rounded IEEE ops, and the down-scale uses explicit
    floor division — so the unrolled SQL oracle reproduces the
    eigenvector to the 10⁻⁹ quantum. The d×d covariance matrix is
    never materialized: at 100 TB this touches the data 2·iters times
    and shuffles only d-row partials."""
    from ..lib.ml.pca import pca_power_top

    emb = io.read_parquet(spark, f"{sf_dir}/embeddings.parquet").df
    v = pca_power_top(emb, vec_col="embedding", id_col="vec_id", iters=3)
    return spark.createDataFrame(
        [(j, float(v[j])) for j in range(len(v))], "pos: bigint, loading: double"
    )


@query(
    "ml_knn_classify",
    oracle="""
    WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv,
                      label AS true_label
               FROM embeddings WHERE vec_id < 20
                 AND len(list_filter(embedding, x -> x != 0)) > 0),
    c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv, label
          FROM embeddings WHERE vec_id >= 20
            AND len(list_filter(embedding, x -> x != 0)) > 0),
    sims AS (
      SELECT query_id, neighbor_id, label,
             floor((list_sum(list_transform(range(1, len(qv)+1),
                                            i -> qv[i] * cv[i]))
                    / (sqrt(list_sum(list_transform(qv, x -> x*x)))
                       * sqrt(list_sum(list_transform(cv, x -> x*x)))))
                   * 10000 + 0.5) / 10000 AS sim
      FROM q CROSS JOIN c
    ),
    topk AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY sim DESC, neighbor_id) AS rk
        FROM sims) WHERE rk <= 5
    ),
    votes AS (SELECT query_id, label, count(*) AS cnt
              FROM topk GROUP BY 1, 2),
    pred AS (
      SELECT query_id, max_by(label, cnt * 1024 - label) AS pred_label,
             (max(cnt * 1024 - label) + 1023) // 1024 AS votes
      FROM votes GROUP BY query_id
    )
    SELECT p.query_id, q.true_label, p.pred_label, p.votes,
           p.pred_label = q.true_label AS correct
    FROM pred p JOIN q ON p.query_id = q.query_id
    """,
)
def ml_knn_classify(spark, sf_dir):
    """k-nearest-neighbor classification (k=5, cosine): the first 20
    vectors are held-out queries, everything else is the labeled
    corpus; prediction is the majority label of the 5 nearest
    neighbors. The vote is ONE hash-agg with a composite max_by key
    (cnt*1024 - label: highest count wins, ties to the smallest
    label — the widened-slot tie-break rule; vote count recovered
    arithmetically from the same key) — no second window. Neighbor
    search reuses the broadcast-queries x corpus scan + per-query
    top-k window (llm/similarity.brute_force_topk); at 100 TB the
    corpus side would swap to the LSH/IVF bucketed paths
    (ann_lsh_topk / ann_ivf_trained) with the vote unchanged."""
    from ..llm import similarity as S

    emb = io.fan_out(io.read_parquet(spark, f"{sf_dir}/embeddings.parquet").df)
    q = emb.filter(F.col("vec_id") < 20)
    c = emb.filter(F.col("vec_id") >= 20)
    topk = S.brute_force_topk(c, q, k=5)
    labeled = topk.join(
        c.select(F.col("vec_id").alias("neighbor_id"), "label"), "neighbor_id"
    )
    votes = labeled.groupBy("query_id", "label").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    key = F.col("cnt") * 1024 - F.col("label")
    pred = votes.groupBy("query_id").agg(
        F.max_by("label", key).alias("pred_label"),
        F.expr("(max(cnt * 1024 - label) + 1023) div 1024").alias("votes"),
    )
    truth = q.select(F.col("vec_id").alias("query_id"),
                     F.col("label").alias("true_label"))
    return pred.join(truth, "query_id").select(
        "query_id", "true_label", "pred_label", "votes",
        (F.col("pred_label") == F.col("true_label")).alias("correct"),
    )


@query(
    "ml_decision_stump",
    oracle="""
    WITH pts AS (
      SELECT CASE WHEN label < 5 THEN 1 ELSE 0 END AS y,
             t.i AS dim,
             CAST(floor(CAST(e.embedding[t.i] AS DOUBLE) * 1000000 + 0.5)
                  AS BIGINT) AS v_c
      FROM embeddings e,
           unnest(generate_series(1, len(e.embedding))) AS t(i)
    ),
    mm AS (
      SELECT dim, min(v_c) AS lo, max(v_c) AS hi FROM pts GROUP BY dim
    ),
    binned AS (
      SELECT p.dim, (p.v_c - mm.lo) * 16 // (mm.hi - mm.lo + 1) AS bin,
             mm.lo, mm.hi,
             sum(p.y) AS n_pos, count(*) AS n_tot
      FROM pts p JOIN mm ON p.dim = mm.dim
      GROUP BY 1, 2, 3, 4
    ),
    tot AS (SELECT sum(n_pos) AS all_pos, sum(n_tot) AS all_tot FROM binned
            WHERE dim = 1),
    cum AS (
      SELECT dim, bin, lo, hi,
             sum(n_pos) OVER pw AS cum_pos,
             sum(n_tot) OVER pw AS cum_tot
      FROM binned
      WINDOW pw AS (PARTITION BY dim ORDER BY bin ROWS UNBOUNDED PRECEDING)
    ),
    scored AS (
      SELECT dim, bin,
             lo + ((bin + 1) * (hi - lo + 1)) // 16 AS thr_c,
             least(cum_pos, cum_tot - cum_pos)
               + least(t.all_pos - cum_pos,
                       (t.all_tot - cum_tot) - (t.all_pos - cum_pos)) AS err
      FROM cum, tot t
    )
    SELECT min_by(dim, err * 4096 + dim * 64 + bin) AS best_dim,
           min_by(bin, err * 4096 + dim * 64 + bin) AS best_bin,
           min_by(thr_c, err * 4096 + dim * 64 + bin) AS thr_c,
           CAST(min(err) AS BIGINT) AS best_err
    FROM scored
    """,
)
def ml_decision_stump(spark, sf_dir):
    """Decision-stump training (1-level tree) by HISTOGRAM split
    finding — the inner loop of every distributed GBDT (XGBoost/
    LightGBM hist mode), as pure dataflow: quantize each feature to
    integer 1e-6 units, 16 equi-width bins per feature (exact integer
    bin arithmetic, as sketch_quantile_bins), per-(feature, bin)
    label-count hash-agg, cumulative counts over the ≤16-bin window
    PARTITIONED by feature, misclassification error of every
    candidate split in pure integer math, global argmin via one
    min_by with a composite key (err·4096 + dim·64 + bin — err
    dominates, deterministic dim/bin tie-break). Scale: candidate
    stats are (features × bins) cells regardless of row count —
    the reason hist-mode GBDT scales — and the only data-sized ops
    are the dim-explode (narrow) and one hash-agg with map-side
    partials. Binary target y = label < 5."""
    from ..llm.similarity import as_double

    emb = io.read_parquet(spark, f"{sf_dir}/embeddings.parquet").df
    pts = emb.select(
        F.when(F.col("label") < 5, 1).otherwise(0).alias("y"),
        F.posexplode(as_double(F.col("embedding"))).alias("i0", "v"),
    ).select(
        "y",
        (F.col("i0") + 1).alias("dim"),
        F.floor(F.col("v") * 1000000 + F.lit(0.5)).cast("bigint").alias("v_c"),
    )
    mm = pts.groupBy("dim").agg(F.min("v_c").alias("lo"), F.max("v_c").alias("hi"))
    binned = (
        pts.join(F.broadcast(mm), "dim")
        .groupBy(
            "dim",
            F.expr("(v_c - lo) * 16 div (hi - lo + 1)").alias("bin"),
            "lo", "hi",
        )
        .agg(F.sum("y").alias("n_pos"), F.count(F.lit(1)).alias("n_tot"))
    )
    from pyspark.sql import Window

    tot = binned.filter(F.col("dim") == 1).agg(
        F.sum("n_pos").alias("all_pos"), F.sum("n_tot").alias("all_tot")
    )
    pw = (
        Window.partitionBy("dim")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = binned.select(
        "dim", "bin", "lo", "hi",
        F.sum("n_pos").over(pw).alias("cum_pos"),
        F.sum("n_tot").over(pw).alias("cum_tot"),
    )
    scored = cum.crossJoin(F.broadcast(tot)).select(
        "dim", "bin",
        F.expr("lo + ((bin + 1) * (hi - lo + 1)) div 16").alias("thr_c"),
        (
            F.least(F.col("cum_pos"), F.col("cum_tot") - F.col("cum_pos"))
            + F.least(
                F.col("all_pos") - F.col("cum_pos"),
                (F.col("all_tot") - F.col("cum_tot"))
                - (F.col("all_pos") - F.col("cum_pos")),
            )
        ).alias("err"),
    )
    key = F.col("err") * 4096 + F.col("dim") * 64 + F.col("bin")
    return scored.agg(
        F.min_by("dim", key).alias("best_dim"),
        F.min_by("bin", key).alias("best_bin"),
        F.min_by("thr_c", key).alias("thr_c"),
        F.min("err").alias("best_err"),
    )


@query(
    "ml_auc_exact",
    oracle="""
    WITH pts AS (
      SELECT CASE WHEN label < 5 THEN 1 ELSE 0 END AS y,
             CAST(floor(CAST(embedding[1] AS DOUBLE) * 1000000 + 0.5)
                  AS BIGINT) AS sc
      FROM embeddings
    ),
    mm AS (SELECT min(sc) AS lo, max(sc) AS hi FROM pts),
    binned AS (
      SELECT (p.sc - mm.lo) * 256 // (mm.hi - mm.lo + 1) AS bin,
             sum(p.y) AS pos_b, count(*) - sum(p.y) AS neg_b
      FROM pts p, mm GROUP BY 1
    ),
    tot AS (SELECT sum(pos_b) AS p, sum(neg_b) AS n FROM binned),
    cum AS (
      SELECT bin, pos_b, neg_b,
             t.p - coalesce(sum(pos_b) OVER (ORDER BY bin
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0)
               AS pos_above
      FROM binned, tot t
    )
    SELECT CAST(sum(neg_b * (2 * pos_above + pos_b)) AS BIGINT)
             AS auc_num,
           CAST(2 * t.p * t.n AS BIGINT) AS auc_den,
           floor(sum(neg_b * (2 * pos_above + pos_b)) * 1.0
                 / (2 * t.p * t.n) * 1000000 + 0.5) / 1000000 AS auc
    FROM cum, tot t GROUP BY t.p, t.n
    """,
)
def ml_auc_exact(spark, sf_dir):
    """ROC-AUC as an EXACT RATIONAL via the score histogram — the
    pairs-won formulation (AUC·2PN = Σ_b neg_b·(2·pos_above_b +
    pos_b): for each negative, positives in strictly higher bins win,
    same-bin ties count half) — no per-row rank window, no
    global sort: the classic rank-based AUC sorts every prediction
    (one-task bottleneck at 100 TB of scores); the histogram version
    is one (bin) hash-agg to ≤256 cells + a bounded cumulative, the
    same trade every large-scale eval framework makes, and the result
    is bit-stable integers (float AUC accumulations differ per
    summation order). Score = first embedding component in integer
    1e-6 units standing in for a model score; truth y = label < 5.
    The AUC-vs-threshold-sweep equivalence is the textbook one; bin
    resolution bounds the tie coarsening exactly like
    sketch_quantile_bins bounds quantile error."""
    from pyspark.sql import Window

    from ..llm.similarity import as_double

    emb = io.read_parquet(spark, f"{sf_dir}/embeddings.parquet").df
    pts = emb.select(
        F.when(F.col("label") < 5, 1).otherwise(0).alias("y"),
        F.floor(as_double(F.col("embedding"))[0] * 1000000 + F.lit(0.5))
        .cast("bigint")
        .alias("sc"),
    )
    mm = pts.agg(F.min("sc").alias("lo"), F.max("sc").alias("hi"))
    binned = (
        pts.crossJoin(F.broadcast(mm))
        .groupBy(F.expr("(sc - lo) * 256 div (hi - lo + 1)").alias("bin"))
        .agg(
            F.sum("y").alias("pos_b"),
            (F.count(F.lit(1)) - F.sum("y")).alias("neg_b"),
        )
    )
    w = Window.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    tot = binned.agg(F.sum("pos_b").alias("p"), F.sum("neg_b").alias("n"))
    cum = binned.crossJoin(F.broadcast(tot)).select(
        "bin", "pos_b", "neg_b", "p", "n",
        (F.col("p") - F.coalesce(F.sum("pos_b").over(w), F.lit(0))).alias(
            "pos_above"
        ),
    )
    num = F.sum(F.col("neg_b") * (2 * F.col("pos_above") + F.col("pos_b")))
    return (
        cum.groupBy("p", "n")
        .agg(num.cast("bigint").alias("auc_num"))
        .select(
            "auc_num",
            (2 * F.col("p") * F.col("n")).cast("bigint").alias("auc_den"),
            (
                # try_divide: an all-positive or all-negative corpus
                # makes p*n = 0 — DuckDB `/` NULLs, ANSI `/` crashes
                # Spark one-sidedly
                F.floor(
                    F.try_divide(F.col("auc_num"), 2 * F.col("p") * F.col("n"))
                    * 1000000
                    + F.lit(0.5)
                )
                / 1000000
            ).alias("auc"),
        )
    )


def _stump_sql(pts: str, out: str) -> str:
    """One weighted-stump round as SQL CTE fragments: from points
    ``{pts}(vec_id, y, dim, v_c, wt)`` derive ``{out}`` = the 1-row
    best stump (dim, bin, per-dim lo/hi, side labels)."""
    return f"""
    {out}_mm AS (
      SELECT dim, min(v_c) AS lo, max(v_c) AS hi FROM {pts} GROUP BY dim
    ),
    {out}_b AS (
      SELECT p.dim, (p.v_c - m.lo) * 16 // (m.hi - m.lo + 1) AS bin,
             m.lo, m.hi,
             sum(p.wt * p.y) AS pos_w, sum(p.wt) AS tot_w
      FROM {pts} p JOIN {out}_mm m ON p.dim = m.dim
      GROUP BY 1, 2, 3, 4
    ),
    {out}_t AS (
      SELECT sum(pos_w) AS ap, sum(tot_w) AS at FROM {out}_b WHERE dim = 1
    ),
    {out}_c AS (
      SELECT dim, bin, lo, hi,
             sum(pos_w) OVER pw AS cp, sum(tot_w) OVER pw AS ct
      FROM {out}_b
      WINDOW pw AS (PARTITION BY dim ORDER BY bin ROWS UNBOUNDED PRECEDING)
    ),
    {out}_s AS (
      SELECT dim, bin, lo, hi,
             least(cp, ct - cp) + least(t.ap - cp, (t.at - ct) - (t.ap - cp))
               AS werr,
             CASE WHEN 2 * cp > ct THEN 1 ELSE 0 END AS left_lab,
             CASE WHEN 2 * (t.ap - cp) > (t.at - ct) THEN 1 ELSE 0 END
               AS right_lab,
             t.at AS tot_wt
      FROM {out}_c, {out}_t t
    ),
    {out} AS (
      SELECT min_by(dim, werr::HUGEINT * 4096 + dim * 64 + bin) AS dim,
             min_by(bin, werr::HUGEINT * 4096 + dim * 64 + bin) AS bin,
             min_by(lo, werr::HUGEINT * 4096 + dim * 64 + bin) AS lo,
             min_by(hi, werr::HUGEINT * 4096 + dim * 64 + bin) AS hi,
             min_by(left_lab, werr::HUGEINT * 4096 + dim * 64 + bin)
               AS left_lab,
             min_by(right_lab, werr::HUGEINT * 4096 + dim * 64 + bin)
               AS right_lab,
             min(werr) AS werr,
             min_by(tot_wt, werr::HUGEINT * 4096 + dim * 64 + bin) AS tot_wt
      FROM {out}_s
    )"""


def _weighted_stump(pts):
    """Spark twin of _stump_sql: pts(vec_id, y, dim, v_c, wt) -> 1-row
    best weighted stump.

    The per-dim range table and the (dim × 16)-bin histogram are
    PINNED: both are tiny at any data scale (bounded by dims, not
    rows) but fan out to multiple downstream branches, and an unpinned
    reference recompiles the full pts lineage each time (the
    1-row-aggregate fan-out pathology tools/scanaudit.py exists to
    catch — this helper contributed most of ml_boosted_stumps'
    28 compiled embeddings scans). Pinned, one stump costs exactly two
    pts passes: the range scan and the histogram scan."""
    from pyspark.sql import Window

    mm = pin(
        pts.groupBy("dim").agg(F.min("v_c").alias("lo"), F.max("v_c").alias("hi"))
    )
    b = pin(
        pts.join(F.broadcast(mm), "dim")
        .groupBy("dim", F.expr("(v_c - lo) * 16 div (hi - lo + 1)").alias("bin"),
                 "lo", "hi")
        .agg(F.sum(F.col("wt") * F.col("y")).alias("pos_w"),
             F.sum("wt").alias("tot_w"))
    )
    t = b.filter(F.col("dim") == 1).agg(
        F.sum("pos_w").alias("ap"), F.sum("tot_w").alias("at")
    )
    pw = (
        Window.partitionBy("dim").orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = b.select(
        "dim", "bin", "lo", "hi",
        F.sum("pos_w").over(pw).alias("cp"), F.sum("tot_w").over(pw).alias("ct"),
    )
    s = c.crossJoin(F.broadcast(t)).select(
        "dim", "bin", "lo", "hi",
        (
            F.least(F.col("cp"), F.col("ct") - F.col("cp"))
            + F.least(F.col("ap") - F.col("cp"),
                      (F.col("at") - F.col("ct")) - (F.col("ap") - F.col("cp")))
        ).alias("werr"),
        F.when(2 * F.col("cp") > F.col("ct"), 1).otherwise(0).alias("left_lab"),
        F.when(
            2 * (F.col("ap") - F.col("cp")) > (F.col("at") - F.col("ct")), 1
        ).otherwise(0).alias("right_lab"),
        F.col("at").alias("tot_wt"),
    )
    key = (
        F.col("werr").cast("decimal(38,0)") * 4096
        + F.col("dim") * 64 + F.col("bin")
    )
    return s.agg(
        F.min_by("dim", key).alias("dim"),
        F.min_by("bin", key).alias("bin"),
        F.min_by("lo", key).alias("lo"),
        F.min_by("hi", key).alias("hi"),
        F.min_by("left_lab", key).alias("left_lab"),
        F.min_by("right_lab", key).alias("right_lab"),
        F.min("werr").alias("werr"),
        F.min_by("tot_wt", key).alias("tot_wt"),
    )


@query(
    "ml_boosted_stumps",
    oracle=f"""
    WITH pts1 AS (
      SELECT e.vec_id, CASE WHEN label < 5 THEN 1 ELSE 0 END AS y,
             t.i AS dim,
             CAST(floor(CAST(e.embedding[t.i] AS DOUBLE) * 1000000 + 0.5)
                  AS BIGINT) AS v_c,
             CAST(1 AS BIGINT) AS wt
      FROM embeddings e,
           unnest(generate_series(1, len(e.embedding))) AS t(i)
    ),
    {_stump_sql('pts1', 'st1')},
    pred1 AS (
      SELECT p.vec_id, p.y,
             CASE WHEN (p.v_c - s.lo) * 16 // (s.hi - s.lo + 1) <= s.bin
                  THEN s.left_lab ELSE s.right_lab END AS pred
      FROM pts1 p, st1 s WHERE p.dim = s.dim
    ),
    w2 AS (
      SELECT vec_id, CASE WHEN pred = y THEN 1 ELSE 3 END AS wt2 FROM pred1
    ),
    pts2 AS (
      SELECT p.vec_id, p.y, p.dim, p.v_c, CAST(w2.wt2 AS BIGINT) AS wt
      FROM pts1 p JOIN w2 ON p.vec_id = w2.vec_id
    ),
    {_stump_sql('pts2', 'st2')}
    SELECT 1 AS round, dim AS best_dim, bin AS best_bin, left_lab,
           right_lab, CAST(werr AS BIGINT) AS werr,
           CAST(tot_wt AS BIGINT) AS tot_wt
    FROM st1
    UNION ALL
    SELECT 2, dim, bin, left_lab, right_lab, CAST(werr AS BIGINT),
           CAST(tot_wt AS BIGINT)
    FROM st2
    """,
)
def ml_boosted_stumps(spark, sf_dir):
    """TWO-ROUND BOOSTING over histogram stumps — the actual
    AdaBoost/GBDT outer loop as dataflow, not just one split: round 1
    trains the unweighted stump (ml_decision_stump's machinery,
    refactored into the reusable weighted finder); every training row
    is then classified by that stump ARITHMETICALLY (its bin vs the
    broadcast 1-row model — no model object, no UDF) and misclassified
    rows get integer weight 3; round 2 trains on the reweighted bag,
    provably concentrating on the hard examples. Exact integer weights
    (floats would make the argmin engine-dependent) — the reweighting
    ratio is the integer shadow of AdaBoost's exp(α). Scale: each
    round = the stump's (features × bins) histogram agg; the
    inter-round model transfer is a 1-row broadcast; per-row weights
    live in the data, partitioned with it. Rounds sequence on the
    driver exactly like the reference's iterative algorithms
    (SURVEY §2.8)."""
    from ..llm.similarity import as_double

    emb = io.read_parquet(spark, f"{sf_dir}/embeddings.parquet").df
    pts1 = emb.select(
        "vec_id",
        F.when(F.col("label") < 5, 1).otherwise(0).alias("y"),
        F.posexplode(as_double(F.col("embedding"))).alias("i0", "v"),
    ).select(
        "vec_id", "y",
        (F.col("i0") + 1).alias("dim"),
        F.floor(F.col("v") * 1000000 + F.lit(0.5)).cast("bigint").alias("v_c"),
        F.lit(1).cast("bigint").alias("wt"),
    )

    # the round-1 model is a 1-row table consumed by the reweighting
    # join AND the report row — pinned so neither reference recompiles
    # the stump's histogram lineage (same discipline as
    # ml_gbdt_residual_boost's round stats)
    st1 = pin(_weighted_stump(pts1))
    s1 = F.broadcast(st1.select(
        F.col("dim").alias("s_dim"), F.col("bin").alias("s_bin"),
        F.col("lo").alias("s_lo"), F.col("hi").alias("s_hi"),
        F.col("left_lab").alias("s_left"), F.col("right_lab").alias("s_right"),
    ))
    pred1 = (
        pts1.join(s1, F.col("dim") == F.col("s_dim"))
        .select(
            "vec_id", "y",
            F.when(
                F.expr("(v_c - s_lo) * 16 div (s_hi - s_lo + 1)") <= F.col("s_bin"),
                F.col("s_left"),
            ).otherwise(F.col("s_right")).alias("pred"),
        )
    )
    w2 = pred1.select(
        "vec_id",
        F.when(F.col("pred") == F.col("y"), 1).otherwise(3)
        .cast("bigint")
        .alias("wt2"),
    )
    pts2 = pts1.drop("wt").join(w2, "vec_id").withColumnRenamed("wt2", "wt")
    st2 = _weighted_stump(pts2)

    def shape(st, rnd):
        return st.select(
            F.lit(rnd).alias("round"),
            F.col("dim").alias("best_dim"), F.col("bin").alias("best_bin"),
            "left_lab", "right_lab",
            F.col("werr").cast("bigint").alias("werr"),
            F.col("tot_wt").cast("bigint").alias("tot_wt"),
        )

    return shape(st1, 1).unionByName(shape(st2, 2))


@query(
    "ml_calibration_bins",
    oracle="""
    WITH pts AS (
      SELECT CASE WHEN label < 5 THEN 1 ELSE 0 END AS y,
             CAST(floor(CAST(embedding[1] AS DOUBLE) * 1000000 + 0.5)
                  AS BIGINT) AS sc
      FROM embeddings
    ),
    mm AS (SELECT min(sc) AS lo, max(sc) AS hi FROM pts)
    SELECT (p.sc - mm.lo) * 10 // (mm.hi - mm.lo + 1) AS bin,
           count(*) AS n,
           CAST(sum(p.y) AS BIGINT) AS n_pos,
           CAST(sum(p.y)::HUGEINT * 1000000 // count(*) AS BIGINT)
             AS pos_rate_ppm
    FROM pts p, mm GROUP BY 1
    """,
)
def ml_calibration_bins(spark, sf_dir):
    """Calibration / reliability table — the third leg of the eval
    family (threshold-free ranking: ml_auc_exact; point accuracy:
    ml_eval_scores; THIS: score-vs-outcome agreement): predictions
    bucketed into 10 score deciles, each reporting its observed
    positive rate in exact ppm — a calibrated model's rate tracks its
    bin's score level, and the gap drives Platt/isotonic recalibration
    decisions. One histogram hash-agg (10 cells regardless of row
    count) + broadcast min/max; rates as integer rationals, so the
    reliability table replays bit-for-bit."""
    from ..llm.similarity import as_double

    emb = io.read_parquet(spark, f"{sf_dir}/embeddings.parquet").df
    pts = emb.select(
        F.when(F.col("label") < 5, 1).otherwise(0).alias("y"),
        F.floor(as_double(F.col("embedding"))[0] * 1000000 + F.lit(0.5))
        .cast("bigint")
        .alias("sc"),
    )
    mm = pts.agg(F.min("sc").alias("lo"), F.max("sc").alias("hi"))
    return (
        pts.crossJoin(F.broadcast(mm))
        .groupBy(F.expr("(sc - lo) * 10 div (hi - lo + 1)").alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("y").cast("bigint").alias("n_pos"),
            F.expr(
                "CAST(CAST(sum(y) AS DECIMAL(38,0)) * 1000000 div count(1)"
                " AS BIGINT)"
            ).alias("pos_rate_ppm"),
        )
    )


@query(
    "ml_feature_importance_stumps",
    oracle="""
    WITH pts AS (
      SELECT CASE WHEN label < 5 THEN 1 ELSE 0 END AS y,
             t.i AS dim,
             CAST(floor(CAST(e.embedding[t.i] AS DOUBLE) * 1000000 + 0.5)
                  AS BIGINT) AS v_c
      FROM embeddings e,
           unnest(generate_series(1, len(e.embedding))) AS t(i)
    ),
    mm AS (SELECT dim, min(v_c) AS lo, max(v_c) AS hi FROM pts GROUP BY dim),
    binned AS (
      SELECT p.dim, (p.v_c - mm.lo) * 16 // (mm.hi - mm.lo + 1) AS bin,
             sum(p.y) AS pos_b, count(*) AS tot_b
      FROM pts p JOIN mm ON p.dim = mm.dim GROUP BY 1, 2
    ),
    tot AS (SELECT sum(pos_b) AS ap, sum(tot_b) AS at FROM binned
            WHERE dim = 1),
    cum AS (
      SELECT dim, bin,
             sum(pos_b) OVER pw AS cp, sum(tot_b) OVER pw AS ct
      FROM binned
      WINDOW pw AS (PARTITION BY dim ORDER BY bin ROWS UNBOUNDED PRECEDING)
    ),
    per_dim AS (
      SELECT dim,
             min(least(cp, ct - cp)
                 + least(t.ap - cp, (t.at - ct) - (t.ap - cp))) AS best_err
      FROM cum, tot t GROUP BY dim
    )
    SELECT dim, CAST(best_err AS BIGINT) AS best_err FROM per_dim
    ORDER BY best_err, dim LIMIT 10
    """,
)
def ml_feature_importance_stumps(spark, sf_dir):
    """Filter-method feature selection: EVERY feature's best single-
    split misclassification error (the stump search kept per-dim
    instead of argmin'd globally), top-10 most separable features
    reported — the screening pass run before training on thousands of
    raw features. Identical candidate-stat machinery as
    ml_decision_stump ((features x bins) cells, bounded windows, all
    integer); the report is a TakeOrdered(10), never a global sort.
    Scale: importance for 10^4 features costs ONE pass — the
    histogram table just gets 10^4 x 16 cells, still broadcast-sized."""
    from pyspark.sql import Window

    from ..llm.similarity import as_double

    emb = io.read_parquet(spark, f"{sf_dir}/embeddings.parquet").df
    pts = emb.select(
        F.when(F.col("label") < 5, 1).otherwise(0).alias("y"),
        F.posexplode(as_double(F.col("embedding"))).alias("i0", "v"),
    ).select(
        "y", (F.col("i0") + 1).alias("dim"),
        F.floor(F.col("v") * 1000000 + F.lit(0.5)).cast("bigint").alias("v_c"),
    )
    mm = pts.groupBy("dim").agg(F.min("v_c").alias("lo"), F.max("v_c").alias("hi"))
    binned = (
        pts.join(F.broadcast(mm), "dim")
        .groupBy("dim", F.expr("(v_c - lo) * 16 div (hi - lo + 1)").alias("bin"))
        .agg(F.sum("y").alias("pos_b"), F.count(F.lit(1)).alias("tot_b"))
    )
    tot = binned.filter(F.col("dim") == 1).agg(
        F.sum("pos_b").alias("ap"), F.sum("tot_b").alias("at")
    )
    pw = (
        Window.partitionBy("dim").orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = binned.select(
        "dim", "bin",
        F.sum("pos_b").over(pw).alias("cp"), F.sum("tot_b").over(pw).alias("ct"),
    )
    err = (
        F.least(F.col("cp"), F.col("ct") - F.col("cp"))
        + F.least(
            F.col("ap") - F.col("cp"),
            (F.col("at") - F.col("ct")) - (F.col("ap") - F.col("cp")),
        )
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .groupBy("dim")
        .agg(F.min(err).alias("best_err"))
        .orderBy("best_err", "dim")
        .limit(10)
    )


@query(
    "ml_threshold_sweep_f1",
    oracle="""
    WITH pts AS (
      SELECT CASE WHEN label < 5 THEN 1 ELSE 0 END AS y,
             CAST(floor(CAST(embedding[1] AS DOUBLE) * 1000000 + 0.5)
                  AS BIGINT) AS sc
      FROM embeddings
    ),
    mm AS (SELECT min(sc) AS lo, max(sc) AS hi FROM pts),
    binned AS (
      SELECT (p.sc - mm.lo) * 32 // (mm.hi - mm.lo + 1) AS bin,
             sum(p.y) AS pos_b, count(*) - sum(p.y) AS neg_b
      FROM pts p, mm GROUP BY 1
    ),
    tot AS (SELECT sum(pos_b) AS ap, sum(neg_b) AS an FROM binned),
    cum AS (
      SELECT bin,
             t.ap - sum(pos_b) OVER w AS tp,
             t.an - sum(neg_b) OVER w AS fp,
             sum(pos_b) OVER w AS fn
      FROM binned, tot t
      WINDOW w AS (ORDER BY bin ROWS UNBOUNDED PRECEDING)
    ),
    scored AS (
      SELECT bin, CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
             CAST(fn AS BIGINT) AS fn,
             CAST(2 * tp::HUGEINT * 1000000 // (2 * tp + fp + fn) AS BIGINT)
               AS f1_ppm
      FROM cum WHERE tp + fp > 0 AND 2 * tp + fp + fn > 0
    )
    SELECT max_by(bin, f1_ppm * 64 - bin) AS best_bin,
           max(f1_ppm) AS best_f1_ppm,
           max_by(tp, f1_ppm * 64 - bin) AS tp,
           max_by(fp, f1_ppm * 64 - bin) AS fp,
           max_by(fn, f1_ppm * 64 - bin) AS fn
    FROM scored
    """,
)
def ml_threshold_sweep_f1(spark, sf_dir):
    """Operating-point selection: F1 across EVERY candidate threshold
    in one pass — completing the eval family (ranking: ml_auc_exact;
    calibration: ml_calibration_bins; THIS: where to actually cut).
    'Predict positive above bin b' gives TP/FP/FN for all 32 cutoffs
    from ONE histogram + bounded cumulative (no per-threshold rescan
    — the sweep that costs 32 scans done naively); F1 in exact ppm
    (2TP·10⁶ div (2TP+FP+FN), HUGEINT product), argmax via the
    widened max_by key (f1·64 − bin: best F1, ties to the LOWEST bin
    = higher recall at equal F1, stated explicitly instead of left
    to sort luck)."""
    from pyspark.sql import Window

    from ..llm.similarity import as_double

    emb = io.read_parquet(spark, f"{sf_dir}/embeddings.parquet").df
    pts = emb.select(
        F.when(F.col("label") < 5, 1).otherwise(0).alias("y"),
        F.floor(as_double(F.col("embedding"))[0] * 1000000 + F.lit(0.5))
        .cast("bigint")
        .alias("sc"),
    )
    mm = pts.agg(F.min("sc").alias("lo"), F.max("sc").alias("hi"))
    binned = (
        pts.crossJoin(F.broadcast(mm))
        .groupBy(F.expr("(sc - lo) * 32 div (hi - lo + 1)").alias("bin"))
        .agg(
            F.sum("y").alias("pos_b"),
            (F.count(F.lit(1)) - F.sum("y")).alias("neg_b"),
        )
    )
    tot = binned.agg(F.sum("pos_b").alias("ap"), F.sum("neg_b").alias("an"))
    w = Window.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = (
        binned.crossJoin(F.broadcast(tot))
        .select(
            "bin",
            (F.col("ap") - F.sum("pos_b").over(w)).alias("tp"),
            (F.col("an") - F.sum("neg_b").over(w)).alias("fp"),
            F.sum("pos_b").over(w).alias("fn"),
        )
    )
    scored = cum.filter(
        (F.col("tp") + F.col("fp") > 0)
        & (2 * F.col("tp") + F.col("fp") + F.col("fn") > 0)
    ).select(
        "bin", "tp", "fp", "fn",
        F.expr(
            "CAST(2 * CAST(tp AS DECIMAL(38,0)) * 1000000"
            " div (2 * tp + fp + fn) AS BIGINT)"
        ).alias("f1_ppm"),
    )
    key = F.col("f1_ppm") * 64 - F.col("bin")
    return scored.agg(
        F.max_by("bin", key).alias("best_bin"),
        F.max("f1_ppm").alias("best_f1_ppm"),
        F.max_by("tp", key).alias("tp"),
        F.max_by("fp", key).alias("fp"),
        F.max_by("fn", key).alias("fn"),
    )


@query(
    "ml_gridsearch_ridge",
    headline=True,
    oracle="""
    WITH r AS (
      SELECT (l_orderkey * 7 + l_linenumber) % 3 AS fold,
             CAST(floor(l_quantity * 10000 + 0.5) AS BIGINT) AS xq,
             CAST(floor(l_extendedprice / 1000 * 10000 + 0.5) AS BIGINT) AS yq
      FROM lineitem
    ),
    fs AS (
      SELECT fold, count(*)::HUGEINT AS n,
             sum(xq::HUGEINT) AS sx, sum(yq::HUGEINT) AS sy,
             sum(xq::HUGEINT * xq) AS sxx, sum(xq::HUGEINT * yq) AS sxy
      FROM r GROUP BY fold
    ),
    tot AS (SELECT sum(n) AS n, sum(sx) AS sx, sum(sy) AS sy,
                   sum(sxx) AS sxx, sum(sxy) AS sxy FROM fs),
    lams AS (SELECT CAST(unnest([0.0, 10.0, 1000.0]) AS DOUBLE) AS lam),
    tr AS (
      SELECT f.fold, l.lam,
             CAST(t.n - f.n AS DOUBLE) AS nt,
             CAST(t.sx - f.sx AS DOUBLE) / 10000 AS sx,
             CAST(t.sy - f.sy AS DOUBLE) / 10000 AS sy,
             CAST(t.sxx - f.sxx AS DOUBLE) / 100000000 AS sxx,
             CAST(t.sxy - f.sxy AS DOUBLE) / 100000000 AS sxy
      FROM fs f, tot t, lams l
    ),
    b AS (
      SELECT fold, lam,
             (sxy * (nt + lam) - sx * sy)
               / ((sxx + lam) * (nt + lam) - sx * sx) AS b1,
             (sy * (sxx + lam) - sx * sxy)
               / ((sxx + lam) * (nt + lam) - sx * sx) AS b0
      FROM tr
    ),
    ev AS (
      SELECT r.fold, b.lam,
             (CAST(r.yq AS DOUBLE) / 10000
              - (b.b0 + b.b1 * (CAST(r.xq AS DOUBLE) / 10000))) AS res
      FROM r JOIN b ON r.fold = b.fold
    )
    SELECT fold, lam, count(*)::BIGINT AS n_eval,
           floor(sum(floor(res * res * 10000 + 0.5)) / 10000
                 / count(*) * 1000000 + 0.5) / 1000000 AS mse
    FROM ev GROUP BY 1, 2
    """,
)
def ml_gridsearch_ridge(spark, sf_dir):
    """Hyperparameter GRID SEARCH as pure dataflow: 3-fold
    cross-validated ridge regression (price ~ quantity, closed form)
    over a lambda grid — the model-selection loop every training
    pipeline runs, with NO per-cell re-scan of the data. The trick is
    algebraic leave-one-fold-out: closed-form ridge needs only the
    sufficient statistics (n, Sx, Sy, Sxx, Sxy), which are additive —
    so ONE scan computes per-fold sums, each training set's sums are
    total minus held-out fold (exact integer subtraction), and the
    (fold x lambda) model grid materializes from a 3-row x 3-lambda
    broadcast cross join. The 2x2 normal equations solve via Cramer's
    rule in doubles whose every op (add/mul/div — all IEEE
    correctly-rounded) appears in the SAME order in the oracle, so
    betas are bit-identical; sufficient statistics are quantized
    integers (DECIMAL/HUGEINT sums), and held-out MSE uses the
    order-independent qsum pattern. Scale: scan + one 3-key hash-agg
    + a 9-row broadcast back for eval — adding 10x more lambdas or
    folds changes only the tiny grid, never the scan count (contrast
    with naive grid search: k*|grid| full passes)."""
    li = io.read_parquet(spark, f"{sf_dir}/lineitem.parquet").df
    r = li.select(
        F.expr("(l_orderkey * 7 + l_linenumber) % 3").alias("fold"),
        F.expr("CAST(floor(l_quantity * 10000 + 0.5) AS BIGINT)").alias("xq"),
        F.expr("CAST(floor(l_extendedprice / 1000 * 10000 + 0.5) AS BIGINT)").alias("yq"),
    )
    dec = "decimal(38,0)"
    # sum_long_exact, not F.sum(col.cast(dec)): same exact DECIMAL(38,0)
    # values (bit-identical, verified), but three long accumulators per
    # sum instead of a per-row BigDecimal path — the decimal partial
    # aggregate was 0.77 s vs 0.30 s for this scan at sf0.1, and
    # the per-row products stay in overflow-checked long arithmetic
    # (xq, yq <= ~2^20, so xq*xq, xq*yq <= 2^40 << 2^63).
    fs = r.groupBy("fold").agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        sum_long_exact(F.col("xq")).alias("sx"),
        sum_long_exact(F.col("yq")).alias("sy"),
        sum_long_exact(F.col("xq") * F.col("xq")).alias("sxx"),
        sum_long_exact(F.col("xq") * F.col("yq")).alias("sxy"),
    )
    # grand totals via an unpartitioned window over the k-row fold
    # table (exact decimal sums, order-independent) — NOT a second
    # aggregate over fs: a separate `fs.agg(...)` branch recompiles
    # the fold-stats scan (3 lineitem FileScans in the physical plan),
    # while the window keeps the whole model grid inside ONE stats
    # scan + ONE eval scan. The window's partition is the fold table
    # itself — k rows at any data scale, never a data-sized shuffle.
    from pyspark.sql import Window as W

    wall = W.partitionBy()
    tot_over = fs.select(
        "fold", "n", "sx", "sy", "sxx", "sxy",
        F.sum("n").over(wall).alias("tn"),
        F.sum("sx").over(wall).alias("tsx"),
        F.sum("sy").over(wall).alias("tsy"),
        F.sum("sxx").over(wall).alias("tsxx"),
        F.sum("sxy").over(wall).alias("tsxy"),
    )
    lams = spark.range(1).select(
        F.explode(F.array(F.lit(0.0), F.lit(10.0), F.lit(1000.0))).alias("lam")
    )
    tr = (
        tot_over
        .crossJoin(F.broadcast(lams))
        .select(
            "fold", "lam",
            F.expr("CAST(tn - n AS DOUBLE)").alias("nt"),
            F.expr("CAST(tsx - sx AS DOUBLE) / 10000").alias("sx"),
            F.expr("CAST(tsy - sy AS DOUBLE) / 10000").alias("sy"),
            F.expr("CAST(tsxx - sxx AS DOUBLE) / 100000000").alias("sxx"),
            F.expr("CAST(tsxy - sxy AS DOUBLE) / 100000000").alias("sxy"),
        )
    )
    b = tr.select(
        "fold", "lam",
        # try_divide: an unregularized fold (lam = 0) over a
        # degenerate train split (zero rows / zero variance) zeroes
        # the normal-equation determinant — DuckDB `/` NULLs, plain
        # ANSI `/` crashes Spark one-sidedly
        F.expr(
            "try_divide(sxy * (nt + lam) - sx * sy,"
            " (sxx + lam) * (nt + lam) - sx * sx)"
        ).alias("b1"),
        F.expr(
            "try_divide(sy * (sxx + lam) - sx * sxy,"
            " (sxx + lam) * (nt + lam) - sx * sx)"
        ).alias("b0"),
    )
    ev = r.join(F.broadcast(b), "fold").select(
        "fold", "lam",
        F.expr(
            "(CAST(yq AS DOUBLE) / 10000 - (b0 + b1 * (CAST(xq AS DOUBLE) / 10000)))"
        ).alias("res"),
    )
    return ev.groupBy("fold", "lam").agg(
        F.count(F.lit(1)).alias("n_eval"),
        F.expr(
            "floor(sum(floor(res * res * 10000 + 0.5)) / 10000"
            " / count(*) * 1000000 + 0.5) / 1000000"
        ).alias("mse"),
    )


@query(
    "ml_target_encoding_loo",
    oracle="""
    WITH g AS (
      SELECT count(*)::HUGEINT AS gn,
             sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)::HUGEINT AS gp
      FROM orders
    ),
    cat AS (
      SELECT o_orderpriority AS category, count(*)::HUGEINT AS n,
             sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)::HUGEINT AS pos
      FROM orders GROUP BY 1
    )
    SELECT category, CAST(n AS BIGINT) AS n, CAST(pos AS BIGINT) AS pos,
           CAST(1000000 * (pos * (n - 1) * gn + n * 10 * gp)
                // (n * (n + 9) * gn) AS BIGINT) AS avg_loo_ppm,
           CAST(1000000 * ((pos - 1) * gn + 10 * gp)
                // ((n + 9) * gn) AS BIGINT) AS enc_pos_ppm,
           CAST(1000000 * (pos * gn + 10 * gp)
                // ((n + 9) * gn) AS BIGINT) AS enc_neg_ppm
    FROM cat, g
    """,
)
def ml_target_encoding_loo(spark, sf_dir):
    """LEAVE-ONE-OUT target encoding — the leakage-safe categorical
    feature every tabular training pipeline wants: encode category c for row
    i as the smoothed target mean of c EXCLUDING row i,
    enc_i = (pos_c - y_i + m*prior) / (n_c - 1 + m), m=10. The naive
    implementation joins every row back to its category stats; this
    one needs NO per-row pass at all — with y binary, the encoding
    takes exactly two values per category (y_i=1 / y_i=0), and the
    per-category MEAN of the LOO encodings collapses algebraically:
    sum_i (pos - y_i) = pos*(n-1), so avg = (pos*(n-1)*gn + n*m*gp) /
    (n*(n-1+m)*gn) with the global prior gp/gn kept as an exact
    rational. One scan, one small hash-agg, one single-row broadcast;
    everything in exact integer ppm (HUGEINT/DECIMAL products before
    the integral divide). Scale: output is |categories| rows — the
    encoder table you then broadcast-join onto the training scan."""
    o = io.read_parquet(spark, f"{sf_dir}/orders.parquet").df
    y = F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)
    dec = "decimal(38,0)"
    g = o.agg(
        F.count(F.lit(1)).cast(dec).alias("gn"),
        F.sum(y).cast(dec).alias("gp"),
    )
    cat = o.groupBy(F.col("o_orderpriority").alias("category")).agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum(y).cast(dec).alias("pos"),
    )
    return cat.crossJoin(F.broadcast(g)).select(
        "category",
        F.col("n").cast("bigint").alias("n"),
        F.col("pos").cast("bigint").alias("pos"),
        F.expr(
            "CAST(1000000 * (pos * (n - 1) * gn + n * 10 * gp)"
            " div (n * (n + 9) * gn) AS BIGINT)"
        ).alias("avg_loo_ppm"),
        F.expr(
            "CAST(1000000 * ((pos - 1) * gn + 10 * gp)"
            " div ((n + 9) * gn) AS BIGINT)"
        ).alias("enc_pos_ppm"),
        F.expr(
            "CAST(1000000 * (pos * gn + 10 * gp)"
            " div ((n + 9) * gn) AS BIGINT)"
        ).alias("enc_neg_ppm"),
    )


@query(
    "ml_learning_curve",
    oracle="""
    WITH r AS (
      SELECT CAST(concat('0x', substr(md5('lc' || '|'
                   || CAST(l_orderkey AS VARCHAR) || ':'
                   || CAST(l_linenumber AS VARCHAR)), 1, 14)) AS BIGINT) % 10
               AS decile,
             CAST(floor(l_quantity * 10000 + 0.5) AS BIGINT) AS xq,
             CAST(floor(l_extendedprice / 1000 * 10000 + 0.5) AS BIGINT) AS yq
      FROM lineitem
    ),
    ds AS (
      SELECT decile, count(*)::HUGEINT AS n,
             sum(xq::HUGEINT) AS sx, sum(yq::HUGEINT) AS sy,
             sum(xq::HUGEINT * xq) AS sxx, sum(xq::HUGEINT * yq) AS sxy
      FROM r GROUP BY decile
    ),
    fr AS (SELECT CAST(unnest([1, 3, 5, 10]) AS BIGINT) AS k),
    cs AS (
      SELECT fr.k,
             sum(ds.n) AS n, sum(ds.sx) AS sx, sum(ds.sy) AS sy,
             sum(ds.sxx) AS sxx, sum(ds.sxy) AS sxy
      FROM fr JOIN ds ON ds.decile < fr.k
      GROUP BY fr.k
    ),
    u AS (
      SELECT k, CAST(n AS BIGINT) AS n_train, CAST(n AS DOUBLE) AS nd,
             CAST(sx AS DOUBLE) / 10000 AS sxd,
             CAST(sy AS DOUBLE) / 10000 AS syd,
             CAST(sxx AS DOUBLE) / 100000000 AS sxxd,
             CAST(sxy AS DOUBLE) / 100000000 AS sxyd
      FROM cs
    ),
    b AS (
      SELECT k, n_train,
             (nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd) AS b1,
             (syd - ((nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd)) * sxd)
               / nd AS b0
      FROM u
    ),
    ev AS (
      SELECT b.k, b.n_train,
             (CAST(r.yq AS DOUBLE) / 10000
              - (b.b0 + b.b1 * (CAST(r.xq AS DOUBLE) / 10000))) AS res
      FROM r JOIN b ON 1 = 1
    )
    SELECT k, n_train,
           floor(sum(floor(res * res * 10000 + 0.5)) / 10000
                 / count(*) * 1000000 + 0.5) / 1000000 AS mse_full
    FROM ev GROUP BY k, n_train
    """,
)
def ml_learning_curve(spark, sf_dir):
    """LEARNING CURVE from one scan: closed-form OLS (price ~
    quantity) trained on NESTED hash-sampled fractions (10%, 30%,
    50%, 100% — md5 decile < k, so each training set contains the
    smaller ones, the proper learning-curve protocol) and evaluated
    on the full corpus. Like ml_gridsearch_ridge, no per-fraction
    re-scan: sufficient statistics per md5 decile are summed into
    each fraction's stats by a tiny decile<k join — the cumulative
    version of the leave-one-fold-out trick. Betas via the same
    op-order-mirrored double algebra; evaluation broadcasts the
    4-row model table; MSE qsum'd. The curve's shape (marginal error
    vs data volume) is THE capacity-planning readout for paying for
    more training data — here it is flat, the closed-form model
    saturates instantly, which is itself the calibration check."""
    li = io.read_parquet(spark, f"{sf_dir}/lineitem.parquet").df
    dec = "decimal(38,0)"
    r = li.select(
        F.expr(
            "CAST(conv(substring(md5(concat('lc', '|',"
            " CAST(l_orderkey AS STRING), ':',"
            " CAST(l_linenumber AS STRING))), 1, 14), 16, 10) AS BIGINT) % 10"
        ).alias("decile"),
        F.expr("CAST(floor(l_quantity * 10000 + 0.5) AS BIGINT)").alias("xq"),
        F.expr("CAST(floor(l_extendedprice / 1000 * 10000 + 0.5) AS BIGINT)")
          .alias("yq"),
    )
    ds = r.groupBy("decile").agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum(F.col("xq").cast(dec)).alias("sx"),
        F.sum(F.col("yq").cast(dec)).alias("sy"),
        F.sum(F.col("xq").cast(dec) * F.col("xq")).alias("sxx"),
        F.sum(F.col("xq").cast(dec) * F.col("yq")).alias("sxy"),
    )
    fr = spark.range(1).select(
        F.explode(F.array(*[F.lit(k) for k in (1, 3, 5, 10)])).alias("k")
    )
    cs = (
        F.broadcast(fr).crossJoin(ds)
        .filter(F.col("decile") < F.col("k"))
        .groupBy("k")
        .agg(
            F.sum("n").alias("n"), F.sum("sx").alias("sx"),
            F.sum("sy").alias("sy"), F.sum("sxx").alias("sxx"),
            F.sum("sxy").alias("sxy"),
        )
    )
    u = cs.select(
        "k",
        F.col("n").cast("bigint").alias("n_train"),
        F.expr("CAST(n AS DOUBLE)").alias("nd"),
        F.expr("CAST(sx AS DOUBLE) / 10000").alias("sxd"),
        F.expr("CAST(sy AS DOUBLE) / 10000").alias("syd"),
        F.expr("CAST(sxx AS DOUBLE) / 100000000").alias("sxxd"),
        F.expr("CAST(sxy AS DOUBLE) / 100000000").alias("sxyd"),
    )
    # try_divide: a 1-row or zero-variance train slice (the smallest
    # learning-curve fraction on a sparse corpus) zeroes the OLS
    # denominator — DuckDB `/` NULLs, plain ANSI `/` crashes Spark
    # one-sidedly
    b = u.select(
        "k", "n_train",
        F.expr(
            "try_divide(nd * sxyd - sxd * syd, nd * sxxd - sxd * sxd)"
        ).alias("b1"),
        F.expr(
            "try_divide(syd - try_divide(nd * sxyd - sxd * syd,"
            " nd * sxxd - sxd * sxd) * sxd, nd)"
        ).alias("b0"),
    )
    ev = r.crossJoin(F.broadcast(b)).select(
        "k", "n_train",
        F.expr(
            "(CAST(yq AS DOUBLE) / 10000 - (b0 + b1 * (CAST(xq AS DOUBLE) / 10000)))"
        ).alias("res"),
    )
    return ev.groupBy("k", "n_train").agg(
        F.expr(
            "floor(sum(floor(res * res * 10000 + 0.5)) / 10000"
            " / count(*) * 1000000 + 0.5) / 1000000"
        ).alias("mse_full"),
    )


@query(
    "ml_pinball_quantile_eval",
    oracle="""
    WITH o AS (
      SELECT o_orderpriority AS pri,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS y
      FROM orders WHERE o_totalprice IS NOT NULL
    ),
    h AS (SELECT pri, y, count(*) AS cnt FROM o GROUP BY 1, 2),
    tot AS (SELECT pri, sum(cnt) AS n FROM h GROUP BY pri),
    cum AS (
      SELECT pri, y, sum(cnt) OVER (PARTITION BY pri ORDER BY y
                                    ROWS UNBOUNDED PRECEDING) AS c
      FROM h
    ),
    q AS (
      SELECT t.pri,
             (SELECT min(y) FROM cum WHERE cum.pri = t.pri
               AND 10 * c >= 9 * t.n) AS p90,
             (SELECT min(y) FROM cum WHERE cum.pri = t.pri
               AND 2 * c >= t.n) AS p50
      FROM tot t
    )
    SELECT o.pri,
           any_value(q.p90)::BIGINT AS p90_c,
           sum(9 * greatest(o.y - q.p90, 0)
               + greatest(q.p90 - o.y, 0))::BIGINT AS loss10_at_p90,
           sum(9 * greatest(o.y - q.p50, 0)
               + greatest(q.p50 - o.y, 0))::BIGINT AS loss10_at_p50
    FROM o JOIN q ON o.pri = q.pri
    GROUP BY o.pri
    """,
)
def ml_pinball_quantile_eval(spark, sf_dir):
    """Quantile-forecast evaluation with the PINBALL (quantile) loss —
    the scoring rule that makes quantile claims falsifiable: for
    tau = 0.9, loss = 0.9·(y-yhat)+ + 0.1·(yhat-y)+, minimized in
    expectation EXACTLY by the true q90. Scaled by 10 into integers
    (9/1 weights), with two constant predictors per priority — the
    histogram-derived p90 and, as the built-in sanity check, the p50
    (whose 0.9-pinball loss must come out HIGHER, which the resulting
    table shows): the property every forecast-evaluation harness
    should demonstrate on itself before scoring real models. Value
    histogram + ceil-rank quantiles (the bounded-domain pattern), one
    broadcast join back, exact integer cents throughout."""
    o = io.read_parquet(spark, f"{sf_dir}/orders.parquet").df.filter(
        F.col("o_totalprice").isNotNull()  # a NULL y would order
        # differently in the two engines' cumulative windows (fuzz)
    ).select(
        F.col("o_orderpriority").alias("pri"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint").alias("y"),
    )
    from pyspark.sql import Window

    # unpinned: 3 orders scans at sf0.001, median ×0.90 sf0.1 / ×0.96 sf1
    h = pin(o.groupBy("pri", "y").agg(F.count(F.lit(1)).alias("cnt")))
    tot = h.groupBy("pri").agg(F.sum("cnt").alias("n"))
    w = Window.partitionBy("pri").orderBy("y").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = h.select("pri", "y", F.sum("cnt").over(w).alias("c"))
    q = (
        cum.join(F.broadcast(tot), "pri")
        .groupBy("pri")
        .agg(
            F.min(F.when(10 * F.col("c") >= 9 * F.col("n"), F.col("y")))
              .alias("p90"),
            F.min(F.when(2 * F.col("c") >= F.col("n"), F.col("y"))).alias("p50"),
        )
    )
    return (
        o.join(F.broadcast(q), "pri")
        .groupBy("pri")
        .agg(
            F.expr("CAST(any_value(p90) AS BIGINT)").alias("p90_c"),
            F.expr(
                "CAST(sum(9 * greatest(y - p90, 0) + greatest(p90 - y, 0))"
                " AS BIGINT)"
            ).alias("loss10_at_p90"),
            F.expr(
                "CAST(sum(9 * greatest(y - p50, 0) + greatest(p50 - y, 0))"
                " AS BIGINT)"
            ).alias("loss10_at_p50"),
        )
    )


@query(
    "ml_grouped_ols_slopes",
    oracle="""
    WITH j AS (
      SELECT p.p_brand AS brand,
             CAST(floor(l.l_discount * 100 + 0.5) AS BIGINT) AS x,
             CAST(l.l_quantity AS BIGINT) AS y
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ),
    s AS (
      SELECT brand, count(*)::HUGEINT AS n, sum(x)::HUGEINT AS sx,
             sum(y)::HUGEINT AS sy, sum(x * x)::HUGEINT AS sxx,
             sum(x::HUGEINT * y) AS sxy
      FROM j GROUP BY brand
    )
    SELECT brand, CAST(n AS BIGINT) AS n,
           CASE WHEN n * sxx - sx * sx > 0
                THEN floor(CAST(n * sxy - sx * sy AS DOUBLE)
                      / CAST(n * sxx - sx * sx AS DOUBLE) * 1000000 + 0.5)
                  / 1000000
                END AS slope_q,
           CASE WHEN n * sxx - sx * sx > 0
                THEN floor((CAST(sy AS DOUBLE)
                       - CAST(n * sxy - sx * sy AS DOUBLE)
                         / CAST(n * sxx - sx * sx AS DOUBLE)
                         * CAST(sx AS DOUBLE))
                      / CAST(n AS DOUBLE) * 1000000 + 0.5) / 1000000
                END AS intercept_q
    FROM s
    """,
)
def ml_grouped_ols_slopes(spark, sf_dir):
    """MANY-MODELS regression: an OLS fit (quantity ~ discount points)
    PER BRAND in one aggregation — the 'grouped closed-form models'
    pattern that replaces a per-group sklearn loop: sufficient
    statistics per group from a single hash-agg (map-side combinable),
    then the slope/intercept algebra on each group's row. Scaling
    from 25 brands to 25 million model groups changes nothing in the
    plan — that is the point (contrast with applyInPandas-per-group
    fitting, which ships every group's rows into Python). Exact
    HUGEINT/DECIMAL sums; the one double division per group is
    op-order mirrored and 1e-6 quantized; discount pre-quantized to
    integer points so Sxx is exact.

    A DEGENERATE group — a single lineitem, or a brand whose items
    all carry one discount value — makes n·sxx − sx² = 0: under ANSI
    Spark the unguarded division raises DIVIDE_BY_ZERO (killing the
    whole 100 TB job for one constant-x brand) where DuckDB returns
    NULL. Both engines now gate slope AND intercept on positive
    x-variance with the row-level CASE idiom of
    events_daily_autocorr (the matched-sparse fuzz tier generates
    this shape)."""
    t = io.load_tables(spark, sf_dir, "lineitem", "part")
    li, p = t["lineitem"].df, t["part"].df
    dec = "decimal(38,0)"
    j = li.join(p, li["l_partkey"] == p["p_partkey"]).select(
        F.col("p_brand").alias("brand"),
        F.floor(F.col("l_discount") * 100 + F.lit(0.5)).cast("bigint").alias("x"),
        F.col("l_quantity").cast("bigint").alias("y"),
    )
    s = j.groupBy("brand").agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum(F.col("x").cast(dec)).alias("sx"),
        F.sum(F.col("y").cast(dec)).alias("sy"),
        F.sum(F.col("x").cast(dec) * F.col("x")).alias("sxx"),
        F.sum(F.col("x").cast(dec) * F.col("y")).alias("sxy"),
    )
    return s.select(
        "brand", F.col("n").cast("bigint").alias("n"),
        F.expr(
            "CASE WHEN n * sxx - sx * sx > 0"
            " THEN floor(CAST(n * sxy - sx * sy AS DOUBLE)"
            " / CAST(n * sxx - sx * sx AS DOUBLE) * 1000000 + 0.5) / 1000000"
            " END"
        ).alias("slope_q"),
        F.expr(
            "CASE WHEN n * sxx - sx * sx > 0"
            " THEN floor((CAST(sy AS DOUBLE) - CAST(n * sxy - sx * sy AS DOUBLE)"
            " / CAST(n * sxx - sx * sx AS DOUBLE) * CAST(sx AS DOUBLE))"
            " / CAST(n AS DOUBLE) * 1000000 + 0.5) / 1000000"
            " END"
        ).alias("intercept_q"),
    )


# cumulative Poisson(1) thresholds in ppm — quantized ONCE, shared as
# literals by both engines (the Benford rule for transcendental
# constants): P(X<=k) for k = 0..4, tail capped at weight 5
_POIS_PPM = (367879, 735759, 919699, 981012, 996340)


def _boot_weight(u: str) -> str:
    t = _POIS_PPM
    return (
        f"CASE WHEN {u} < {t[0]} THEN 0 WHEN {u} < {t[1]} THEN 1"
        f" WHEN {u} < {t[2]} THEN 2 WHEN {u} < {t[3]} THEN 3"
        f" WHEN {u} < {t[4]} THEN 4 ELSE 5 END"
    )


@query(
    "ml_bootstrap_ci_poisson",
    oracle=f"""
    WITH x AS (
      SELECT event_id, CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
      FROM events WHERE event_type = 'purchase'
    ),
    w AS (
      SELECT b.b, x.v,
             {_boot_weight("CAST(concat('0x', substr(md5('bs|' || CAST(b.b AS VARCHAR) || '|' || CAST(x.event_id AS VARCHAR)), 1, 14)) AS BIGINT) % 1000000")}
               AS wt
      FROM x, (SELECT unnest(range(32)) AS b) b
    ),
    reps AS (
      SELECT b, sum(wt::HUGEINT * v) // sum(wt::HUGEINT) AS mean_c
      FROM w GROUP BY b HAVING sum(wt) > 0
    ),
    arr AS (SELECT list_sort(list(mean_c)) AS ms, count(*)::BIGINT AS nb
            FROM reps),
    pt AS (SELECT sum(v)::HUGEINT // count(*) AS point_c,
                  count(*)::BIGINT AS n FROM x)
    SELECT pt.n, CAST(pt.point_c AS BIGINT) AS point_mean_c,
           arr.nb AS n_replicates,
           CAST(ms[2] AS BIGINT) AS boot_lo_c,
           CAST(ms[nb - 1] AS BIGINT) AS boot_hi_c,
           CAST(ms[(nb + 1) // 2] AS BIGINT) AS boot_median_c
    FROM pt, arr
    """,
)
def ml_bootstrap_ci_poisson(spark, sf_dir):
    """BOOTSTRAP confidence interval at scale — the POISSON bootstrap
    (Chamandy et al., Google 2012): classic resampling needs n draws
    per replicate from a global index (un-distributable); instead
    each row independently receives a Poisson(1)-distributed weight
    per replicate, giving statistically equivalent resamples in ONE
    scan with per-row arithmetic. Weights are DETERMINISTIC — md5 of
    (replicate, event_id) inverted through the Poisson(1) CDF encoded
    as ppm literal thresholds (the Benford rule: transcendental
    constants quantized once and shared, never recomputed via exp())
    — so every engine, partitioning and rerun draws the same 32
    resamples. Replicate means in exact integer cents; the CI is read
    from the SORTED 32-element replicate array (2nd / 31st order
    statistics ≈ 2.5/97.5%). Plan: 32× row amplification via a tiny
    cross join folded into ONE hash-agg of (Σwv, Σw) per replicate —
    at 100 TB you'd carry the 32 weights as an array column and
    posexplode, identical shape; everything after the agg is 32
    rows."""
    e = io.read_parquet(spark, f"{sf_dir}/events.parquet").df
    dec = "decimal(38,0)"
    x = e.filter(F.col("event_type") == "purchase").select(
        "event_id",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("v"),
    )
    b = spark.range(32).select(F.col("id").alias("b"))
    u = ("CAST(conv(substring(md5(concat('bs|', CAST(b AS STRING), '|',"
         " CAST(event_id AS STRING))), 1, 14), 16, 10) AS BIGINT) % 1000000")
    w = x.crossJoin(F.broadcast(b)).select(
        "b", "v", F.expr(_boot_weight(u)).alias("wt")
    )
    reps = (
        w.groupBy("b")
        .agg(
            F.sum(F.col("wt").cast(dec) * F.col("v")).alias("swv"),
            F.sum(F.col("wt").cast(dec)).alias("sw"),
        )
        .filter(F.col("sw") > 0)
        .select(F.expr("swv div sw").alias("mean_c"))
    )
    arr = reps.agg(
        F.sort_array(F.collect_list("mean_c")).alias("ms"),
        F.count(F.lit(1)).alias("nb"),
    )
    pt = x.agg(
        F.expr(f"CAST(sum(CAST(v AS {dec})) div count(*) AS {dec})")
          .alias("point_c"),
        F.count(F.lit(1)).alias("n"),
    )
    return pt.crossJoin(F.broadcast(arr)).select(
        "n",
        F.col("point_c").cast("bigint").alias("point_mean_c"),
        F.col("nb").alias("n_replicates"),
        # get() (0-based, NULL out-of-range) instead of element_at
        # (ANSI raise): zero replicates (empty partition) reads NULL
        # order statistics exactly like the oracle's 1-based ms[i]
        F.expr("CAST(get(ms, 1) AS BIGINT)").alias("boot_lo_c"),
        F.expr("CAST(get(ms, CAST(nb - 2 AS INT)) AS BIGINT)")
          .alias("boot_hi_c"),
        F.expr("CAST(get(ms, CAST((nb + 1) div 2 - 1 AS INT)) AS BIGINT)")
          .alias("boot_median_c"),
    )


@query(
    "ml_kmeans_elbow",
    oracle="""
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 10000 + 0.5) AS BIGINT))
               AS vq
      FROM embeddings
    ),
    c AS (SELECT vec_id AS cid, vq AS cvec FROM q WHERE vec_id < 5),
    cand AS (
      SELECT q.vec_id, c.cid,
             CAST(list_sum(list_transform(range(1, len(vq) + 1),
               i -> (vq[i] - cvec[i]) * (vq[i] - cvec[i]))) AS BIGINT) AS d2
      FROM q, c
    ),
    ks AS (SELECT unnest(generate_series(2, 5)) AS k),
    assign AS (
      SELECT k, vec_id, min(d2) AS d2
      FROM cand JOIN ks ON cid < k GROUP BY 1, 2
    ),
    sse AS (SELECT k, sum(d2)::BIGINT AS sse_q8 FROM assign GROUP BY k)
    SELECT k, sse_q8,
           CAST(coalesce(
             (lag(sse_q8) OVER (ORDER BY k) - sse_q8)::HUGEINT * 1000000
               // lag(sse_q8) OVER (ORDER BY k), 0) AS BIGINT) AS drop_ppm
    FROM sse
    """,
)
def ml_kmeans_elbow(spark, sf_dir):
    """K-SELECTION for clustering (the elbow curve): SSE at k = 2..5
    under the deterministic prefix-centroid init (centroid set for k =
    quantized vectors of vec_id < k — each k's centroids are a PREFIX
    of the next's, so one candidate table serves every k). One scan:
    vectors × 5 broadcast centroids → exact integer d2 (1e-4-unit
    quantized elementwise, the SQ8 qsum rule); a tiny broadcast k-grid
    (cid < k) turns the shared candidates into per-k assignments; two
    hash-aggs produce min-per-(k, vec) and SSE-per-k. The elbow signal
    is the relative SSE drop per added centroid in exact ppm (window
    over the 4-row aggregate — bounded, never over rows). Completes
    the clustering lifecycle: fit (ml_kmeans_fit), assign
    (ml_kmeans_assign), select-k (this)."""
    from ..llm.similarity import as_double
    from pyspark.sql import Window

    emb = io.read_parquet(spark, f"{sf_dir}/embeddings.parquet").df
    q = emb.select(
        "vec_id",
        F.transform(
            as_double(F.col("embedding")),
            lambda x: F.floor(x * 10000 + F.lit(0.5)).cast("bigint"),
        ).alias("vq"),
    )
    cents = q.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("cid"), F.col("vq").alias("cvec")
    )
    d2 = F.expr(
        "aggregate(zip_with(vq, cvec, (x, y) -> (x - y) * (x - y)),"
        " CAST(0 AS BIGINT), (acc, e) -> acc + e)"
    )
    cand = q.crossJoin(F.broadcast(cents)).select("vec_id", "cid", d2.alias("d2"))
    ks = spark.range(2, 6).select(F.col("id").cast("bigint").alias("k"))
    assign = (
        cand.join(F.broadcast(ks), F.col("cid") < F.col("k"))
        .groupBy("k", "vec_id")
        .agg(F.min("d2").alias("d2"))
    )
    sse = assign.groupBy("k").agg(F.sum("d2").alias("sse_q8"))
    w = Window.orderBy("k")  # 4-row aggregate: bounded, never row-scale
    prev = F.lag("sse_q8").over(w)
    return sse.select(
        "k", "sse_q8",
        # the CASE guards a fully-converged predecessor (sse 0 on a
        # degenerate corpus): 0 div 0 crashes ANSI Spark where DuckDB
        # `//` NULLs into the same coalesce
        F.coalesce(
            F.expr(
                "CASE WHEN (lag(sse_q8) OVER (ORDER BY k)) = 0 THEN NULL"
                " ELSE CAST(CAST((lag(sse_q8) OVER (ORDER BY k)) - sse_q8"
                " AS DECIMAL(38,0)) * 1000000"
                " div (lag(sse_q8) OVER (ORDER BY k)) AS BIGINT) END"
            ),
            F.lit(0).cast("bigint"),
        ).alias("drop_ppm"),
    )


@query(
    "ml_nearest_centroid_confusion",
    oracle="""
    WITH q AS (
      SELECT vec_id, label,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 10000 + 0.5) AS BIGINT))
               AS vq
      FROM embeddings
    ),
    pos AS (
      SELECT label, t.i AS pos, vq[t.i] AS v
      FROM q, unnest(generate_series(1, len(vq))) AS t(i)
    ),
    cdim AS (
      SELECT label, pos, sum(v) // count(*) AS c
      FROM pos GROUP BY 1, 2
    ),
    cent AS (
      SELECT label AS clabel, list(c ORDER BY pos) AS cvec
      FROM cdim GROUP BY label
    ),
    cand AS (
      SELECT q.vec_id, q.label,
             CAST(list_sum(list_transform(range(1, len(vq) + 1),
               i -> (vq[i] - cvec[i]) * (vq[i] - cvec[i]))) AS BIGINT) * 16
               + clabel AS slot
      FROM q, cent
    ),
    pred AS (
      SELECT vec_id, label AS actual, min(slot) % 16 AS pred
      FROM cand GROUP BY 1, 2
    )
    SELECT actual, pred, count(*) AS n
    FROM pred GROUP BY 1, 2
    """,
)
def ml_nearest_centroid_confusion(spark, sf_dir):
    """NEAREST-CENTROID (Rocchio) classification + the multiclass
    CONFUSION MATRIX — the eval artifact the binary metrics queries
    (ml_eval_scores, ml_threshold_sweep_f1) don't produce. Training is
    the scalable vector-mean: posexplode → (label, dim) hash-agg →
    exact integral-div centroid coordinate in 1e-4 units (|labels|·d
    cells of shuffle regardless of corpus size), centroids reassembled
    into arrays and BROADCAST; inference is a map-side zip_with d2 per
    (vector, class) and the widened-slot argmin d2·16 + label (16 >
    max label, deterministic low-label tie-break). Resubstitution
    eval by design — the train/test split variant is ml_kfold's
    machinery composed with the same centroid fold. Output is the raw
    (actual, predicted, n) matrix; precision/recall/F1 per class are
    one further bounded agg."""
    from ..llm.similarity import as_double

    emb = io.read_parquet(spark, f"{sf_dir}/embeddings.parquet").df
    q = emb.select(
        "vec_id", "label",
        F.transform(
            as_double(F.col("embedding")),
            lambda x: F.floor(x * 10000 + F.lit(0.5)).cast("bigint"),
        ).alias("vq"),
    )
    cdim = (
        q.select("label", F.posexplode("vq").alias("pos", "v"))
        .groupBy("label", "pos")
        .agg(F.expr("sum(v) div count(*)").alias("c"))
    )
    cent = cdim.groupBy(F.col("label").alias("clabel")).agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("pos", "c"))),
            lambda s: s["c"],
        ).alias("cvec")
    )
    slot = (
        F.expr(
            "aggregate(zip_with(vq, cvec, (x, y) -> (x - y) * (x - y)),"
            " CAST(0 AS BIGINT), (acc, e) -> acc + e)"
        )
        * 16
        + F.col("clabel")
    )
    cand = q.crossJoin(F.broadcast(cent)).select(
        "vec_id", "label", slot.alias("slot")
    )
    pred = cand.groupBy("vec_id", F.col("label").alias("actual")).agg(
        (F.min("slot") % 16).alias("pred")
    )
    return pred.groupBy("actual", "pred").agg(F.count(F.lit(1)).alias("n"))


@query(
    "ml_isotonic_calibration",
    oracle="""
    WITH pts AS (
      SELECT CASE WHEN label < 5 THEN 1 ELSE 0 END AS y,
             CAST(floor(CAST(embedding[1] AS DOUBLE) * 1000000 + 0.5)
                  AS BIGINT) AS sc
      FROM embeddings
    ),
    mm AS (SELECT min(sc) AS lo, max(sc) AS hi FROM pts),
    bins AS (
      SELECT (p.sc - mm.lo) * 10 // (mm.hi - mm.lo + 1) AS bin,
             count(*)::BIGINT AS n, sum(p.y)::BIGINT AS pos
      FROM pts p, mm GROUP BY 1
    ),
    cum AS (
      SELECT bin, n, pos,
             sum(n) OVER (ORDER BY bin) AS cn,
             sum(pos) OVER (ORDER BY bin) AS cpos
      FROM bins
    ),
    iv AS (
      SELECT j.bin AS j, k.bin AS k,
             CAST((k.cpos - (j.cpos - j.pos))::HUGEINT
                  * 1000000000000000000
                  // (k.cn - (j.cn - j.n)) AS BIGINT) AS mean_q18
      FROM cum j JOIN cum k ON j.bin <= k.bin
    ),
    inner_min AS (
      SELECT c.bin AS i, iv.j, min(iv.mean_q18) AS m
      FROM cum c JOIN iv ON iv.j <= c.bin AND iv.k >= c.bin
      GROUP BY 1, 2
    ),
    iso AS (SELECT i AS bin, max(m) AS iso_q18 FROM inner_min GROUP BY i)
    SELECT b.bin, b.n, b.pos,
           CAST(b.pos::HUGEINT * 1000000 // b.n AS BIGINT) AS raw_ppm,
           CAST(iso.iso_q18 // 1000000000000 AS BIGINT) AS iso_ppm
    FROM bins b JOIN iso ON b.bin = iso.bin
    """,
)
def ml_isotonic_calibration(spark, sf_dir):
    """ISOTONIC REGRESSION (PAVA) recalibration of the reliability
    table — the non-parametric step after ml_calibration_bins flags
    miscalibration. PAVA's stack-merge loop is sequential, but its
    MINIMAX characterization (Barlow et al. 1972, public: fitted_i =
    max_{j<=i} min_{k>=i} weighted-mean(y[j..k])) is pure dataflow
    over the BOUNDED bin table: prefix sums over 10 rows, all
    (j <= k) interval means as exact q18 rationals (DECIMAL products,
    one truncating divide — separation: two distinct interval means
    differ by >= 1/(n_a*n_b), so q18 comparisons are exact while the
    corpus is < ~10^9 rows per side; at larger n widen the slot), a
    (i, j, k) triple join bounded at B^3 ~ 1000 rows, min over k then
    max over j. Every engine-side comparison is on identical integers
    — no float, no loop, no UDF; the scan is ONE histogram hash-agg
    (10 cells). Property-tested against the classic stack PAVA.
    Output: per bin, raw vs isotonic-calibrated positive rate (ppm);
    iso_ppm is non-decreasing in bin by construction."""
    from ..llm.similarity import as_double
    from pyspark.sql import Window

    emb = io.read_parquet(spark, f"{sf_dir}/embeddings.parquet").df
    pts = emb.select(
        F.when(F.col("label") < 5, 1).otherwise(0).alias("y"),
        F.floor(as_double(F.col("embedding"))[0] * 1000000 + F.lit(0.5))
        .cast("bigint")
        .alias("sc"),
    )

    mm = pts.agg(F.min("sc").alias("lo"), F.max("sc").alias("hi"))
    # the bin table is PINNED: the cumsum view below is referenced
    # three times (j/k interval legs + the i index) and the raw bins
    # once more in the final join — unpinned, every reference
    # recompiled the embeddings scan (8 FileScans in this plan);
    # pinned state is <= 10 rows at any data scale
    bins = pin(
        pts.crossJoin(F.broadcast(mm))
        .groupBy(F.expr("(sc - lo) * 10 div (hi - lo + 1)").alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("y").cast("bigint").alias("pos"),
        )
    )
    # everything below runs on the <= 10-row bin table (broadcast-size)
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    cum = bins.select(
        "bin", "n", "pos",
        F.sum("n").over(w).alias("cn"),
        F.sum("pos").over(w).alias("cpos"),
    )
    j, k = cum.alias("j"), cum.alias("k")
    iv = j.join(k, F.col("j.bin") <= F.col("k.bin")).select(
        F.col("j.bin").alias("j"),
        F.col("k.bin").alias("k"),
        F.expr(
            "CAST(CAST(k.cpos - (j.cpos - j.pos) AS DECIMAL(38,0))"
            " * 1000000000000000000"
            " div (k.cn - (j.cn - j.n)) AS BIGINT)"
        ).alias("mean_q18"),
    )
    i_tab = cum.select(F.col("bin").alias("i"))
    inner_min = (
        iv.join(
            F.broadcast(i_tab),
            (F.col("j") <= F.col("i")) & (F.col("k") >= F.col("i")),
        )
        .groupBy("i", "j")
        .agg(F.min("mean_q18").alias("m"))
    )
    iso = inner_min.groupBy(F.col("i").alias("bin")).agg(
        F.max("m").alias("iso_q18")
    )
    return bins.join(iso, "bin").select(
        "bin", "n", "pos",
        F.expr(
            "CAST(CAST(pos AS DECIMAL(38,0)) * 1000000 div n AS BIGINT)"
        ).alias("raw_ppm"),
        F.expr("CAST(iso_q18 div 1000000000000 AS BIGINT)").alias("iso_ppm"),
    )


@query(
    "ml_cohens_kappa",
    oracle="""
    WITH q AS (
      SELECT vec_id, label,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 10000 + 0.5) AS BIGINT))
               AS vq
      FROM embeddings
    ),
    pos AS (
      SELECT label, t.i AS pos, vq[t.i] AS v
      FROM q, unnest(generate_series(1, len(vq))) AS t(i)
    ),
    cdim AS (
      SELECT label, pos, sum(v) // count(*) AS c
      FROM pos GROUP BY 1, 2
    ),
    cent AS (
      SELECT label AS clabel, list(c ORDER BY pos) AS cvec
      FROM cdim GROUP BY label
    ),
    cand AS (
      SELECT q.vec_id, q.label,
             CAST(list_sum(list_transform(range(1, len(vq) + 1),
               i -> (vq[i] - cvec[i]) * (vq[i] - cvec[i]))) AS BIGINT) * 16
               + clabel AS slot
      FROM q, cent
    ),
    pred AS (
      SELECT vec_id, label AS actual, min(slot) % 16 AS pred
      FROM cand GROUP BY 1, 2
    ),
    cells AS (
      SELECT actual, pred, count(*)::HUGEINT AS n
      FROM pred GROUP BY 1, 2
    ),
    marg AS (
      SELECT sum(n) AS total,
             sum(CASE WHEN actual = pred THEN n ELSE 0 END) AS diag,
             (SELECT sum(ra.n_a * ca.n_p) FROM
                (SELECT actual AS k, sum(n) AS n_a FROM cells GROUP BY 1) ra
                JOIN
                (SELECT pred AS k, sum(n) AS n_p FROM cells GROUP BY 1) ca
                ON ra.k = ca.k) AS chance_num
      FROM cells
    )
    SELECT CAST(total AS BIGINT) AS n,
           CAST(diag AS BIGINT) AS n_agree,
           CAST(diag * 1000000 // total AS BIGINT) AS po_ppm,
           CAST(chance_num * 1000000 // (total * total) AS BIGINT)
             AS pe_ppm,
           CAST((diag * total - chance_num) * 1000000
                // (total * total - chance_num) AS BIGINT) AS kappa_ppm
    FROM marg
    """,
)
def ml_cohens_kappa(spark, sf_dir):
    """COHEN'S KAPPA — chance-corrected agreement for the
    nearest-centroid classifier against the true labels: raw accuracy
    (p_o) flatters any classifier on imbalanced classes; kappa
    subtracts the agreement the marginals would produce by chance
    (p_e = Σ row·col marginal products / n²). Everything is one exact
    integer rational: kappa = (diag·n − Σ r_k·c_k) / (n² − Σ r_k·c_k)
    in ppm — no float anywhere, so the statistic replays bit-for-bit.
    Reuses the ml_nearest_centroid_confusion dataflow (broadcast
    centroids, widened-slot argmin); the kappa roll-up adds two
    bounded aggs over the ≤ |classes|² confusion cells. The same
    cells→kappa algebra scores ANY pair of labelings (two
    annotators, two model versions)."""
    from ..llm.similarity import as_double

    emb = io.read_parquet(spark, f"{sf_dir}/embeddings.parquet").df
    q = emb.select(
        "vec_id", "label",
        F.transform(
            as_double(F.col("embedding")),
            lambda x: F.floor(x * 10000 + F.lit(0.5)).cast("bigint"),
        ).alias("vq"),
    )
    cdim = (
        q.select("label", F.posexplode("vq").alias("pos", "v"))
        .groupBy("label", "pos")
        .agg(F.expr("sum(v) div count(*)").alias("c"))
    )
    cent = cdim.groupBy(F.col("label").alias("clabel")).agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("pos", "c"))),
            lambda s: s["c"],
        ).alias("cvec")
    )
    slot = (
        F.expr(
            "aggregate(zip_with(vq, cvec, (x, y) -> (x - y) * (x - y)),"
            " CAST(0 AS BIGINT), (acc, e) -> acc + e)"
        )
        * 16
        + F.col("clabel")
    )
    pred = (
        q.crossJoin(F.broadcast(cent))
        .select("vec_id", "label", slot.alias("slot"))
        .groupBy("vec_id", F.col("label").alias("actual"))
        .agg((F.min("slot") % 16).alias("pred"))
    )

    dec = "DECIMAL(38,0)"
    # unpinned: 6 embeddings scans at sf0.001, median ×1.15 sf0.1 / ×1.31 sf1
    cells = pin(pred.groupBy("actual", "pred").agg(
        F.count(F.lit(1)).cast(dec).alias("n")
    ))
    ra = cells.groupBy(F.col("actual").alias("k")).agg(F.sum("n").alias("n_a"))
    ca = cells.groupBy(F.col("pred").alias("k")).agg(F.sum("n").alias("n_p"))
    chance = ra.join(ca, "k").agg(
        F.sum(F.col("n_a") * F.col("n_p")).alias("chance_num")
    )
    tot = cells.agg(
        F.sum("n").alias("total"),
        F.sum(F.when(F.col("actual") == F.col("pred"), F.col("n")).otherwise(
            F.lit(0).cast(dec)
        )).alias("diag"),
    )
    return tot.crossJoin(F.broadcast(chance)).select(
        F.col("total").cast("bigint").alias("n"),
        F.col("diag").cast("bigint").alias("n_agree"),
        F.expr("CAST(diag * 1000000 div total AS BIGINT)").alias("po_ppm"),
        F.expr(
            "CAST(chance_num * 1000000 div (total * total) AS BIGINT)"
        ).alias("pe_ppm"),
        # a single-class corpus (maximal skew) makes p_e = 1 and the
        # chance-correction denominator n² − Σr·c exactly 0: kappa is
        # UNDEFINED — NULL, matching DuckDB's //0 (was an ANSI raise)
        F.expr(
            "CASE WHEN total * total - chance_num = 0"
            " THEN CAST(NULL AS BIGINT)"
            " ELSE CAST((diag * total - chance_num) * 1000000"
            " div (total * total - chance_num) AS BIGINT) END"
        ).alias("kappa_ppm"),
    )


from .text import SQL_TOKS as _SQL_TOKS  # noqa: E402 (oracle twin)


@query(
    "ml_feature_hash_collision_audit",
    oracle=f"""
    WITH d AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
    f AS (
      SELECT DISTINCT unnest(list_concat(
               toks,
               list_transform(range(1, greatest(len(toks), 1)),
                 i -> toks[i] || '_' || toks[i + 1]))) AS feat
      FROM d
    ),
    b AS (
      SELECT CAST(concat('0x', substr(md5('qw' || '|' || feat), 1, 14))
                  AS BIGINT) % 1024 AS bucket
      FROM f
    ),
    occ AS (SELECT bucket, count(*)::BIGINT AS n FROM b GROUP BY bucket)
    SELECT (SELECT count(*) FROM f)::BIGINT AS n_features,
           count(*)::BIGINT AS n_buckets_used,
           coalesce(sum(CASE WHEN n >= 2 THEN n END), 0)::BIGINT
             AS n_colliding_features,
           CAST(coalesce(sum(CASE WHEN n >= 2 THEN n END), 0)::HUGEINT
                * 1000000 // (SELECT count(*) FROM f) AS BIGINT)
             AS collision_ppm,
           max(n) AS max_bucket_occupancy
    FROM occ
    """,
)
def ml_feature_hash_collision_audit(spark, sf_dir):
    """FEATURE-HASHING COLLISION AUDIT — the measurable cost of the
    hashing trick text_quality_classifier_hashed relies on: with the
    same md5 bucketing into D=1024, how many DISTINCT unigram+bigram
    features share a bucket (their weights are permanently
    conflated)? Reports feature count, buckets used, the colliding-
    feature fraction in exact ppm, and the worst bucket — the
    evidence for choosing D (vanilla birthday math says ~n²/2D
    collisions; this measures it on the real vocabulary). One
    distinct-feature aggregate (bounded by vocabulary, not corpus)
    + one 1024-cell histogram."""
    from ..llm.text import tokens as toks_fn

    docs = io.fan_out(io.read_parquet(spark, f"{sf_dir}/documents.parquet").df)
    d = docs.select(toks_fn(F.col("text")).alias("toks"))
    f = d.select(
        F.explode(
            F.expr(
                "concat(toks, zip_with(slice(toks, 1,"
                " greatest(size(toks) - 1, 0)),"
                " slice(toks, 2, greatest(size(toks) - 1, 0)),"
                " (a, b) -> concat(a, '_', b)))"
            )
        ).alias("feat")
    ).distinct()

    b = f.select(
        (
            F.expr(
                "CAST(conv(substring(md5(concat('qw', '|', feat)), 1, 14),"
                " 16, 10) AS BIGINT)"
            )
            % 1024
        ).alias("bucket")
    )
    occ = b.groupBy("bucket").agg(F.count(F.lit(1)).alias("n"))
    tot = f.agg(F.count(F.lit(1)).alias("n_features"))
    coll = F.when(F.col("n") >= 2, F.col("n"))
    return occ.crossJoin(F.broadcast(tot)).agg(
        # empty vocabulary: the crossJoin emits no rows, so max() sees
        # nothing — coalesce to the oracle's scalar-subquery 0, and
        # NULL the ppm ratio (DuckDB x//0) instead of 0-div-0 raising
        F.coalesce(F.max("n_features"), F.lit(0).cast("bigint")).alias(
            "n_features"
        ),
        F.count(F.lit(1)).alias("n_buckets_used"),
        F.coalesce(F.sum(coll), F.lit(0)).cast("bigint").alias(
            "n_colliding_features"
        ),
        F.expr(
            "CASE WHEN coalesce(max(n_features), 0) = 0"
            " THEN CAST(NULL AS BIGINT)"
            " ELSE CAST(CAST(coalesce(sum(CASE WHEN n >= 2 THEN n END), 0)"
            " AS DECIMAL(38,0)) * 1000000 div max(n_features) AS BIGINT) END"
        ).alias("collision_ppm"),
        F.max("n").alias("max_bucket_occupancy"),
    )


@query(
    "ml_lift_gains_bands",
    oracle="""
    WITH scored AS (
      SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS score_c,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS label
      FROM orders
    ),
    mm AS (SELECT min(score_c) AS lo, max(score_c) AS hi,
                  count(*) AS n_all, sum(label) AS n_pos FROM scored),
    banded AS (
      SELECT (s.score_c - mm.lo) * 20 // (mm.hi - mm.lo + 1) AS band,
             count(*) AS n_band, sum(s.label) AS pos_band
      FROM scored s, mm GROUP BY 1
    ),
    cum AS (
      SELECT band,
             sum(n_band) OVER w AS cum_n,
             sum(pos_band) OVER w AS cum_pos
      FROM banded
      WINDOW w AS (ORDER BY band DESC ROWS UNBOUNDED PRECEDING)
    )
    SELECT band,
           CAST(cum_n AS BIGINT) AS cum_n,
           CAST(cum_pos AS BIGINT) AS cum_pos,
           CAST(cum_pos::HUGEINT * 1000000 // mm.n_pos AS BIGINT)
             AS capture_ppm,
           CAST(cum_pos::HUGEINT * mm.n_all * 1000000
                // (mm.n_pos::HUGEINT * cum_n) AS BIGINT) AS lift_ppm
    FROM cum, mm
    """,
)
def ml_lift_gains_bands(spark, sf_dir):
    """GAINS/LIFT table — the campaign-targeting eval artifact ('mail
    the top-scoring x%, capture y% of responders, at z× random'):
    score = order value in cents, positive = finalized status. The
    textbook construction sorts all rows by score and walks deciles
    (global sort + global cumsum — the scale-killer the repo keeps
    refusing); here scores fold into a 20-cell equi-width VALUE
    HISTOGRAM (exact integer binning, as orders_lorenz_curve /
    sketch_quantile_bins) and the cumulative-from-the-top gains and
    lift are read off the <=20-row descending cumulative — one
    hash-agg + one bounded window, resolution = one band. Capture
    and lift in exact integer ppm; the cross-products are lifted to
    DECIMAL/HUGEINT before the integral divide (cum_pos * n_all *
    10^6 overflows BIGINT at warehouse row counts). Complements
    ml_auc_exact (threshold-free ranking quality) with the
    threshold-SWEEP view a targeting decision actually reads."""
    from pyspark.sql import Window

    o = io.read_parquet(spark, f"{sf_dir}/orders.parquet").df
    scored = o.select(
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("bigint").alias("score_c"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("label"),
    )
    # unpinned: 3 orders scans at sf0.001, median ×1.00 sf0.1 / ×1.63 sf1
    mm = pin(scored.agg(
        F.min("score_c").alias("lo"), F.max("score_c").alias("hi"),
        F.count(F.lit(1)).alias("n_all"), F.sum("label").alias("n_pos"),
    ))
    banded = (
        scored.crossJoin(F.broadcast(mm))
        .groupBy(F.expr("(score_c - lo) * 20 div (hi - lo + 1)").alias("band"))
        .agg(F.count(F.lit(1)).alias("n_band"), F.sum("label").alias("pos_band"))
    )
    w = Window.orderBy(F.desc("band")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = banded.select(
        "band",
        F.sum("n_band").over(w).alias("cum_n"),
        F.sum("pos_band").over(w).alias("cum_pos"),
    )
    return cum.crossJoin(F.broadcast(mm)).select(
        "band",
        F.col("cum_n").cast("bigint").alias("cum_n"),
        F.col("cum_pos").cast("bigint").alias("cum_pos"),
        F.expr(
            "CAST(CAST(cum_pos AS DECIMAL(38,0)) * 1000000 div n_pos"
            " AS BIGINT)"
        ).alias("capture_ppm"),
        F.expr(
            "CAST(CAST(cum_pos AS DECIMAL(38,0)) * n_all * 1000000"
            " div (CAST(n_pos AS DECIMAL(38,0)) * cum_n) AS BIGINT)"
        ).alias("lift_ppm"),
    )


def _gbdt_round_sql(data: str, rcol: str, xcol: str, cands: str,
                    pick: str) -> str:
    """One boosting round: conditional residual sums per candidate
    threshold, exact-integer gain S_l^2/n_l + S_r^2/n_r (HUGEINT),
    argmax via min_by on a (-gain, t) slot; leaves = residual means."""
    return f"""
    {pick}_agg AS (
      SELECT c.t,
             sum(CASE WHEN d.{xcol} <= c.t THEN d.{rcol} ELSE 0 END)
               ::HUGEINT AS sl,
             sum(CASE WHEN d.{xcol} <= c.t THEN 1 ELSE 0 END)::HUGEINT
               AS nl,
             sum(d.{rcol})::HUGEINT AS s, count(*)::HUGEINT AS n
      FROM {data} d, (SELECT unnest({cands}) AS t) c
      GROUP BY c.t
    ),
    {pick} AS (
      SELECT min_by(t, key) AS thr,
             min_by(vl, key) AS vl,
             min_by(vr, key) AS vr,
             min_by(nl, key) AS n_left
      FROM (
        SELECT t, nl, sl // nl AS vl, (s - sl) // (n - nl) AS vr,
               -((sl * sl) // nl + ((s - sl) * (s - sl)) // (n - nl))
                 * 100 + t AS key
        FROM {pick}_agg WHERE nl > 0 AND nl < n
      )
    )"""


@query(
    "ml_gbdt_residual_boost",
    oracle=f"""
    WITH base AS (
      SELECT l_quantity AS x1,
             CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS x2,
             CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS y_c
      FROM lineitem
    ),
    f0 AS (SELECT sum(y_c) // count(*) AS mu, count(*) AS n FROM base),
    d1 AS (SELECT x1, x2, y_c - f0.mu AS r FROM base, f0),
    {_gbdt_round_sql('d1', 'r', 'x1',
                     '[5, 10, 15, 20, 25, 30, 35, 40, 45]', 'p1')},
    d2 AS (
      SELECT x1, x2,
             r - CASE WHEN x1 <= p1.thr THEN p1.vl ELSE p1.vr END AS r
      FROM d1, p1
    ),
    {_gbdt_round_sql('d2', 'r', 'x2',
                     '[1, 2, 3, 4, 5, 6, 7, 8, 9]', 'p2')},
    d3 AS (
      SELECT r - CASE WHEN x2 <= p2.thr THEN p2.vl ELSE p2.vr END AS r
      FROM d2, p2
    ),
    m1 AS (SELECT sum(r::HUGEINT * r) // count(*) AS mse FROM d1),
    m2 AS (SELECT sum(r::HUGEINT * r) // count(*) AS mse FROM d2),
    m3 AS (SELECT sum(r::HUGEINT * r) // count(*) AS mse FROM d3)
    SELECT 1 AS round, 'l_quantity' AS feature,
           CAST(p1.thr AS BIGINT) AS thr,
           CAST(p1.n_left AS BIGINT) AS n_left,
           CAST(p1.vl AS BIGINT) AS leaf_left_c,
           CAST(p1.vr AS BIGINT) AS leaf_right_c,
           CAST(m1.mse AS BIGINT) AS mse_before,
           CAST(m2.mse AS BIGINT) AS mse_after
    FROM p1, m1, m2
    UNION ALL
    SELECT 2, 'l_discount_c', CAST(p2.thr AS BIGINT),
           CAST(p2.n_left AS BIGINT),
           CAST(p2.vl AS BIGINT), CAST(p2.vr AS BIGINT),
           CAST(m2.mse AS BIGINT), CAST(m3.mse AS BIGINT)
    FROM p2, m2, m3
    """,
    headline=True,
)
def ml_gbdt_residual_boost(spark, sf_dir):
    """GRADIENT BOOSTING (two rounds of regression stumps on squared
    loss) as pure dataflow — the sequential-ensemble recipe
    (XGBoost/LightGBM's outer loop) on top of ml_decision_stump's
    histogram split finding: fit the global mean, fit a stump to the
    RESIDUALS on quantity, subtract its predictions, fit a second
    stump to the new residuals on discount. With squared loss the
    negative gradient IS the residual, so boosting needs no
    transcendentals: leaf values are integer residual means, split
    gain is the exact variance-reduction surrogate S_l²/n_l +
    S_r²/n_r on HUGEINT/DECIMAL, and the per-round MSE trace
    (monotone decreasing — the fit check) is Σr² div n. Each round
    is ONE pass: a 9-candidate conditional hash-agg (candidates ×
    conditional sums — the hist-mode trick, stats cells independent
    of row count), a 1-row argmax via min_by on a (-gain, t) slot,
    and a broadcast-back residual update; rounds chain lazily with
    no driver loop, no collect. The model summary (threshold, leaf
    values, MSE before/after per round) is the output — at 100 TB
    rounds add one scan each, and the candidate agg is map-side
    combined."""

    li = io.read_parquet(spark, f"{sf_dir}/lineitem.parquet").df
    # every multi-column block in this body is
    # built as SQL STRINGS (one F.expr/selectExpr call per output
    # column) instead of nested Column operator trees. The expression
    # TREES are identical — literal forms included (0.5D = the double
    # literal F.lit(0.5) built; bare 0.5 would parse as DECIMAL(1,1))
    # — so results stay bit-identical (verified at sf0.001/0.01/0.1),
    # but plan construction drops from ~5,000 py4j round trips to
    # ~100 (measured: 1.33 s -> 0.97 s per bench run; cProfile showed
    # construction, not execution, dominates this query).
    base = li.select(
        F.expr("CAST(l_quantity AS BIGINT) AS x1"),
        F.expr("CAST(floor(l_discount * 100 + 0.5D) AS BIGINT) AS x2"),
        F.expr("CAST(floor(l_extendedprice * 100 + 0.5D) AS BIGINT) AS y_c"),
    )
    DEC = "DECIMAL(38,0)"
    # TWO data passes total — one per boosting round. Each round's
    # 1-row stats table is PINNED (it fans out to the next round's
    # residual update and the report row; an unpinned 1-row aggregate
    # re-compiles its whole upstream lineage at every reference —
    # measured 24 lineitem FileScans in the physical plan, zero
    # ReusedExchange, because the branches are distinct plan objects
    # Catalyst never unifies). Round 1 fuses with the mean fit via the
    # exact shift identity (mu is an INTEGER, so the residual moments
    # are linear in the raw y moments), and the post-round MSE derives
    # exactly from the SELECTED split's stats — so neither the mean
    # fit nor any MSE of the trace costs a scan of its own. The
    # identities are NULL-AWARE (aggregate sums skip NULL measures but
    # the oracle's candidate counts n_t do NOT — two different row
    # populations, so each correction term rides its own non-NULL
    # count nn):
    #   Σ_nn{x<=t}(y-mu) = Σ_{x<=t}y - nn_t*mu
    #   Σ_nn(y-mu)       = Σy - nn*mu
    #   Σ_nn(y-mu)^2     = Σy^2 - 2*mu*Σy + nn*mu^2
    #   Σ_nn(r-leaf)^2   = Σr^2 - 2(vl*sl + vr*(s-sl))
    #                      + nlnn*vl^2 + (nn-nlnn)*vr^2
    # (x NULL rows take the ELSE leaf vr on both engines; rows with a
    # NULL measure contribute to counts but never to sums). All exact
    # integer algebra on DECIMAL(38,0) — bit-identical to the oracle's
    # direct replay, including NULL-measure corpora.

    def round_stats(d, xcol, vcol, cands):
        # hist-mode as COLUMNS, not rows: the candidates' conditional
        # sums are 3k+4 aggregate columns over ONE pass of the data —
        # vs the explode-candidates form (broadcast nested-loop join
        # replicating every row k times before a groupBy(t)), same
        # per-row comparison count but no k× row materialization and
        # no join operator at all. The same pass carries Σv² — the
        # MSE numerator — so the fit trace costs no extra scan.
        exprs = []
        for t in cands:
            exprs += [
                f"CAST(sum(CASE WHEN {xcol} <= {t} THEN {vcol} ELSE 0 END)"
                f" AS {DEC}) AS sl_{t}",
                f"CAST(sum(CASE WHEN {xcol} <= {t} THEN 1 ELSE 0 END)"
                f" AS {DEC}) AS nl_{t}",
                f"CAST(sum(CASE WHEN ({xcol} <= {t}) AND ({vcol} IS NOT"
                f" NULL) THEN 1 ELSE 0 END) AS {DEC}) AS nn_{t}",
            ]
        exprs += [
            f"CAST(sum({vcol}) AS {DEC}) AS s",
            f"CAST(count(1) AS {DEC}) AS n",
            f"CAST(count({vcol}) AS {DEC}) AS nn",
            f"sum(CAST({vcol} AS {DEC}) * {vcol}) AS rr",
        ]
        return pin(d.agg(*[F.expr(e) for e in exprs]))

    cands1 = [5, 10, 15, 20, 25, 30, 35, 40, 45]
    cands2 = [1, 2, 3, 4, 5, 6, 7, 8, 9]

    # scan 1: raw y moments + candidate y sums on x1, shifted to
    # residual moments (exact — see identities above) in a 1-row
    # select. Every mu correction is gated on its non-NULL count being
    # positive: a zero count means the term is exactly 0 even when mu
    # itself is NULL (no non-NULL y anywhere), matching the direct
    # replay where the 0-initialized conditional sums stay 0.
    one_y = round_stats(base, "x1", "y_c", cands1)
    MU = "(s div n)"

    def shifted(tot, cnt):
        return (f"CAST({tot} - (CASE WHEN {cnt} > 0 THEN {cnt} * {MU}"
                f" ELSE 0 END) AS {DEC})")

    sel = [f"{MU} AS mu"]
    for t in cands1:
        sel += [f"{shifted(f'sl_{t}', f'nn_{t}')} AS sl_{t}",
                f"nl_{t}", f"nn_{t}"]
    sel += [
        f"{shifted('s', 'nn')} AS s", "n", "nn",
        f"CAST(rr - (CASE WHEN nn > 0 THEN 2 * {MU} * s ELSE 0 END)"
        f" + (CASE WHEN nn > 0 THEN nn * {MU} * {MU} ELSE 0 END)"
        f" AS {DEC}) AS rr",
    ]
    one1 = one_y.selectExpr(*sel)

    def boost_round(one, cands):
        structs = ", ".join(
            f"named_struct('t', {t}, 'sl', sl_{t}, 'nl', nl_{t},"
            f" 'nnl', nn_{t}, 's', s, 'n', n)"
            for t in cands
        )
        agg = one.select(
            F.expr(f"explode(array({structs})) AS z")
        ).select("z.*")
        scored = agg.filter("(nl > 0) AND (nl < n)").selectExpr(
            "t", "nl AS n_left", "sl", "nnl",
            "sl div nl AS vl",
            "(s - sl) div (n - nl) AS vr",
            "-((sl * sl) div nl + ((s - sl) * (s - sl)) div (n - nl))"
            " * 100 + t AS key",
        )
        # sl_star / nlnn_star (the residual sum and non-NULL row count
        # under the chosen threshold) ride along so the post-split MSE
        # derives algebraically — no re-scan of the updated residuals
        return scored.agg(
            F.expr("min_by(t, key) AS thr"),
            F.expr("min_by(vl, key) AS vl"),
            F.expr("min_by(vr, key) AS vr"),
            F.expr("min_by(n_left, key) AS n_left"),
            F.expr("min_by(sl, key) AS sl_star"),
            F.expr("min_by(nnl, key) AS nlnn_star"),
        )

    def mse_of(one):
        # Σr² and n ride the round's single-pass stats row; div on
        # DECIMAL(38,0) is the same exact integer mse as the oracle's
        # sum(r²) // n
        return one.selectExpr("CAST(rr div n AS BIGINT) AS mse")

    def mse_after(one, p):
        # Σ(r - leaf)² expanded over the split's two leaves — exact
        # integer identity over the NON-NULL residual population (NULL
        # x rows take the vr leaf; NULL r rows stay NULL and are
        # skipped by the sum on both engines, while the denominator
        # stays count(*)). NULL thr = no valid split ⇒ NULL, matching
        # the direct replay where every updated residual is NULL.
        return one.crossJoin(F.broadcast(p)).selectExpr(
            "CAST((rr - 2 * (vl * sl_star + vr * (s - sl_star))"
            " + (nlnn_star * vl * vl + (nn - nlnn_star) * vr * vr))"
            " div n AS BIGINT) AS mse"
        )

    p1 = boost_round(one1, cands1)
    d2 = base.crossJoin(
        F.broadcast(one_y.selectExpr(f"{MU} AS mu"))
    ).crossJoin(F.broadcast(p1)).selectExpr(
        "x2",
        "(y_c - mu - CAST(CASE WHEN x1 <= thr THEN vl ELSE vr END"
        " AS BIGINT)) AS r",
    )
    # scan 2: candidate residual sums on x2 (+ Σr² = round-2 input MSE)
    one2 = round_stats(d2, "x2", "r", cands2)
    p2 = boost_round(one2, cands2)

    m1, m2 = mse_of(one1), mse_of(one2)
    m3 = mse_after(one2, p2)
    _report = (
        "CAST(thr AS BIGINT) AS thr",
        "CAST(n_left AS BIGINT) AS n_left",
        "CAST(vl AS BIGINT) AS leaf_left_c",
        "CAST(vr AS BIGINT) AS leaf_right_c",
        "mse_before", "mse_after",
    )
    row1 = (
        p1.crossJoin(m1.withColumnRenamed("mse", "mse_before"))
          .crossJoin(m2.withColumnRenamed("mse", "mse_after"))
          .selectExpr("1 AS round", "'l_quantity' AS feature", *_report)
    )
    row2 = (
        p2.crossJoin(m2.withColumnRenamed("mse", "mse_before"))
          .crossJoin(m3.withColumnRenamed("mse", "mse_after"))
          .selectExpr("2 AS round", "'l_discount_c' AS feature", *_report)
    )
    return row1.unionByName(row2)


def _als_half_sql(rat: str, fixed: str, fixed_key: str, out: str,
                  out_key: str) -> str:
    """One ALS half-step: solve the rank-1 least squares for every
    row of `out_key` with the `fixed` factor held constant —
    u_i = Σ r·v / Σ v² as exact micro-unit integers
    (N·10^12 // D on HUGEINT; factors live in 1e-6 units)."""
    return f"""
    {out} AS (
      SELECT r.{out_key},
             CAST(sum(r.qty * f.w)::HUGEINT * 1000000000000
                  // sum(f.w::HUGEINT * f.w) AS BIGINT) AS w
      FROM {rat} r JOIN {fixed} f ON r.{fixed_key} = f.{fixed_key}
      GROUP BY r.{out_key}
    )"""


@query(
    "ml_als_rank1",
    oracle=f"""
    WITH rat AS (
      SELECT l_suppkey AS s, l_partkey AS p,
             CAST(sum(l_quantity) AS BIGINT) AS qty
      FROM lineitem GROUP BY 1, 2
    ),
    v0 AS (SELECT DISTINCT p, CAST(1000000 AS BIGINT) AS w FROM rat),
    {_als_half_sql('rat', 'v0', 'p', 'u1', 's')},
    {_als_half_sql('rat', 'u1', 's', 'v1', 'p')},
    {_als_half_sql('rat', 'v1', 'p', 'u2', 's')},
    {_als_half_sql('rat', 'u2', 's', 'v2', 'p')},
    pred AS (
      SELECT r.qty, u2.w AS uw, v2.w AS vw
      FROM rat r JOIN u2 ON r.s = u2.s JOIN v2 ON r.p = v2.p
    ),
    sse AS (
      SELECT count(*) AS n_cells,
             CAST(sum(
               (qty * 1000000 - uw::HUGEINT * vw // 1000000)
               * (qty * 1000000 - uw::HUGEINT * vw // 1000000)
             ) // count(*) // 1000000000000 AS BIGINT) AS mse_q
      FROM pred
    )
    SELECT sse.n_cells, sse.mse_q,
           (SELECT count(*) FROM u2) AS n_users,
           (SELECT count(*) FROM v2) AS n_items,
           (SELECT CAST(sum(w) // count(*) AS BIGINT) FROM v2)
             AS mean_item_factor_u
    FROM sse
    """,
)
def ml_als_rank1(spark, sf_dir):
    """ALTERNATING LEAST SQUARES, rank 1 — the collaborative-
    filtering trainer (Spark MLlib's flagship recommender) as exact
    dataflow: factorize the supplier×part quantity matrix r ≈ u·vᵀ
    by alternating closed-form solves, u_i = Σr·v / Σv² with v
    fixed, then symmetrically v with u fixed — rank 1 makes each
    solve a pure ratio of two grouped sums, so NO matrix inverse and
    no float linear algebra; factors live on the 1e-6 integer grid
    (micro-units, N·10^12 HUGEINT/DECIMAL integral divide, the
    quantized-Lloyd convention) and every engine reproduces them
    bit-for-bit. Two full alternations, then the fit report: cell
    count, quantized MSE of u·vᵀ against the ratings, factor counts,
    mean item factor. Each half-step is ONE ratings⋈factor hash-join
    + ONE grouped agg — the factor tables are model-sized (|users|,
    |items| rows), ratings partition by the join key, and steps
    chain lazily exactly like the pagerank/kmeans fixpoints. At
    rank k this generalizes to k×k normal-equation accumulators per
    group (still joins + aggs); rank 1 keeps the oracle replayable
    to the last bit."""
    li = io.read_parquet(spark, f"{sf_dir}/lineitem.parquet").df
    rat = li.groupBy(
        F.col("l_suppkey").alias("s"), F.col("l_partkey").alias("p")
    ).agg(F.sum("l_quantity").cast("bigint").alias("qty"))

    rat = pin(rat)  # the ratings matrix feeds every half-step
    v = rat.select("p").distinct().select(
        "p", F.lit(1000000).cast("bigint").alias("w")
    )

    def half(fixed, fixed_key, out_key):
        # pin: factor tables are model-sized, each feeds the next
        # half-step AND the final report — materializing also keeps
        # the reused `rat` lineage from being re-analyzed per step
        return pin(
            rat.join(fixed, fixed_key)
            .groupBy(out_key)
            .agg(
                F.expr(
                    "CAST(CAST(sum(qty * w) AS DECIMAL(38,0))"
                    " * 1000000000000"
                    " div sum(CAST(w AS DECIMAL(38,0)) * w) AS BIGINT)"
                ).alias("w")
            )
        )

    u = half(v, "p", "s")
    v = half(u, "s", "p")
    u = half(v, "p", "s")
    v = half(u, "s", "p")
    pred = rat.join(u, "s").join(
        v.withColumnRenamed("w", "vw"), "p"
    ).select(
        "qty", F.col("w").alias("uw"), "vw"
    )
    sse = pred.agg(
        F.count(F.lit(1)).alias("n_cells"),
        # Spark `div` on decimals yields LONG, so the diff must be
        # re-lifted to DECIMAL before squaring or the sum overflows
        F.expr(
            "CAST(sum("
            " CAST(qty * 1000000 - CAST(uw AS DECIMAL(38,0)) * vw"
            "      div 1000000 AS DECIMAL(38,0))"
            " * (qty * 1000000 - CAST(uw AS DECIMAL(38,0)) * vw"
            "    div 1000000)"
            ") div count(*) div 1000000000000 AS BIGINT)"
        ).alias("mse_q"),
    )
    nu = u.agg(F.count(F.lit(1)).alias("n_users"))
    nv = v.agg(
        F.count(F.lit(1)).alias("n_items"),
        F.expr("CAST(sum(w) div count(*) AS BIGINT)")
         .alias("mean_item_factor_u"),
    )
    return (
        sse.crossJoin(F.broadcast(nu)).crossJoin(F.broadcast(nv))
        .select("n_cells", "mse_q", "n_users", "n_items",
                "mean_item_factor_u")
    )
