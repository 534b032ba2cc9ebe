"""Library-layer tests (SURVEY §5 layer 4: algorithm/golden-property
tests — KMeansSpec clusters hypercube corners, naiveBayes vs golden
model, linreg recovery, kfold partition properties, stats vs numpy)."""

from __future__ import annotations

import math
import random

import pytest

from pyspark.sql import functions as F


def _vec_df(spark, rows, extra=None):
    data = [(i, list(map(float, v)), *( [extra[i]] if extra else [] )) for i, v in enumerate(rows)]
    cols = ["id", "vec"] + (["label"] if extra else [])
    return spark.createDataFrame(data, cols)


# ---------------------------------------------------------------- stats
def test_stats_match_numpy(spark):
    import numpy as np
    from emma_spark.lib import stats

    rng = random.Random(7)
    rows = [[rng.uniform(-5, 5) for _ in range(4)] for _ in range(200)]
    df = _vec_df(spark, rows)
    a = np.array(rows)
    assert stats.vsum(df) == pytest.approx(a.sum(axis=0).tolist())
    assert stats.vmin(df) == pytest.approx(a.min(axis=0).tolist())
    assert stats.vmax(df) == pytest.approx(a.max(axis=0).tolist())
    assert stats.vmean(df) == pytest.approx(a.mean(axis=0).tolist())
    assert stats.vvariance(df) == pytest.approx(a.var(axis=0).tolist())
    assert stats.vstddev(df) == pytest.approx(a.std(axis=0).tolist())
    summ = {r["pos"]: r for r in stats.summarize(df).collect()}
    assert summ[2]["mean"] == pytest.approx(a.mean(axis=0)[2])
    assert summ[3]["stddev"] == pytest.approx(a.std(axis=0)[3])


# ---------------------------------------------------------------- kmeans
def test_kmeans_hypercube_corners(spark):
    """KMeansSpec.scala:31-64 analog: points jittered around the 4
    corners of a 2-cube must cluster by corner."""
    from emma_spark.lib.ml.kmeans import kmeans

    rng = random.Random(42)
    corners = [(-10.0, -10.0), (-10.0, 10.0), (10.0, -10.0), (10.0, 10.0)]
    rows, truth = [], []
    for ci, (cx, cy) in enumerate(corners):
        for _ in range(30):
            rows.append([cx + rng.uniform(-1, 1), cy + rng.uniform(-1, 1)])
            truth.append(ci)
    df = _vec_df(spark, rows)
    res = kmeans(df, k=4, runs=3, iterations=10, seed=1)
    got = {r["id"]: r["cid"] for r in res.assignment.collect()}
    # same-corner points share a cluster; different corners differ
    by_corner = {}
    for i, t in enumerate(truth):
        by_corner.setdefault(t, set()).add(got[i])
    assert all(len(s) == 1 for s in by_corner.values()), by_corner
    assert len({next(iter(s)) for s in by_corner.values()}) == 4
    # centroids converged to the corners (within jitter)
    cents = sorted(tuple(round(x) for x in pos) for _, pos in res.centroids)
    assert cents == sorted(corners)


# ---------------------------------------------------------------- naive bayes
def test_naive_bayes_model_formulas(spark):
    """Model values must match the reference formulas exactly
    (naiveBayes.scala:40-67) — computed here by hand."""
    from emma_spark.lib.ml.naive_bayes import MULTINOMIAL, naive_bayes, predict

    data = [
        (1.0, [1.0, 0.0, 3.0]),
        (1.0, [2.0, 1.0, 0.0]),
        (0.0, [0.0, 4.0, 1.0]),
    ]
    df = spark.createDataFrame([(l, v) for l, v in data], ["label", "vec"])
    lam, D = 1.0, 3
    model = {r["label"]: r for r in naive_bayes(df, lam=lam).collect()}

    prior_denom = math.log(3 + 2 * lam)
    assert model[1.0]["pi"] == pytest.approx(math.log(2 + lam) - prior_denom)
    assert model[0.0]["pi"] == pytest.approx(math.log(1 + lam) - prior_denom)
    # label 1.0: sums = [3,1,3], total 7 -> denom log(7 + lam*D)
    ev = math.log(7 + lam * D)
    assert list(model[1.0]["theta"]) == pytest.approx(
        [math.log(3 + lam) - ev, math.log(1 + lam) - ev, math.log(3 + lam) - ev]
    )
    # classifier sanity: a label-0-looking point scores label 0
    assert predict(list(model.values()), [0.0, 5.0, 1.0]) == 0.0


def test_naive_bayes_bernoulli_denom(spark):
    from emma_spark.lib.ml.naive_bayes import BERNOULLI, naive_bayes

    df = spark.createDataFrame(
        [(1.0, [1.0, 0.0]), (1.0, [1.0, 1.0]), (0.0, [0.0, 1.0])], ["label", "vec"]
    )
    model = {r["label"]: r for r in naive_bayes(df, lam=0.5, model_type=BERNOULLI).collect()}
    ev = math.log(2 + 2 * 0.5)  # l_cnt + 2λ for label 1.0
    assert list(model[1.0]["theta"]) == pytest.approx(
        [math.log(2 + 0.5) - ev, math.log(1 + 0.5) - ev]
    )


# ---------------------------------------------------------------- regression
def test_linreg_recovers_line(spark):
    from emma_spark.lib.ml.regression import linreg_predict, linreg_train, rmse

    rng = random.Random(3)
    # y = 2 + 3x
    rows = [([x], 2.0 + 3.0 * x + rng.gauss(0, 0.01)) for x in
            [rng.uniform(-1, 1) for _ in range(100)]]
    df = spark.createDataFrame([(v, y) for v, y in rows], ["vec", "label"])
    model = linreg_train(df, learning_rate=1.0, iterations=120)
    assert model.weights[0] == pytest.approx(2.0, abs=0.1)
    assert model.weights[1] == pytest.approx(3.0, abs=0.1)
    assert model.loss_history[-1] < model.loss_history[0]
    assert rmse(linreg_predict(model, df)) < 0.2


def test_logreg_separates(spark):
    from emma_spark.lib.ml.eval import scores
    from emma_spark.lib.ml.regression import logreg_predict, logreg_train

    rng = random.Random(5)
    rows = []
    for _ in range(80):
        x = rng.uniform(-2, 2)
        rows.append(([x], 1.0 if x > 0 else 0.0))
    df = spark.createDataFrame([(v, y) for v, y in rows], ["vec", "label"])
    model = logreg_train(df, learning_rate=1.0, iterations=40)
    pred = logreg_predict(model, df)
    s = scores(pred)
    assert s["accuracy"] >= 0.95, s


def test_scores_df_matches_scores(spark):
    from emma_spark.lib.ml.eval import scores, scores_df

    df = spark.createDataFrame(
        [(1.0, 1.0), (1.0, 0.0), (0.0, 1.0), (0.0, 0.0), (1.0, 1.0), (0.0, 0.0)],
        ["label", "prediction"],
    )
    want = scores(df)
    got = scores_df(df).collect()[0].asDict()
    assert (got["tp"], got["fp"], got["fn"], got["tn"]) == (
        want["tp"], want["fp"], want["fn"], want["tn"]
    )
    for m in ("accuracy", "precision", "recall", "f1"):
        assert abs(got[m] - want[m]) < 1e-6, (m, got[m], want[m])


# ---------------------------------------------------------------- kfold
def test_kfold_partition_properties(spark):
    from emma_spark.lib.ml import kfold

    df = spark.range(1000).withColumn("x", F.col("id") * 2)
    splits = kfold.split(df, [0.25, 0.25, 0.25, 0.25], seed=9).persist()
    sizes = {r["fold_id"]: r["n"] for r in
             splits.groupBy("fold_id").agg(F.count("*").alias("n")).collect()}
    assert set(sizes) == {0, 1, 2, 3}
    assert all(150 <= n <= 350 for n in sizes.values()), sizes
    # select + excluding partition the data exactly
    assert kfold.select(splits, 2).count() + kfold.excluding(splits, 2).count() == 1000
    # deterministic
    again = kfold.split(df, [0.25, 0.25, 0.25, 0.25], seed=9)
    assert splits.select("id", "fold_id").exceptAll(again.select("id", "fold_id")).count() == 0
    splits.unpersist()


# ---------------------------------------------------------------- features
def test_features_tokenize_ngrams_encode(spark):
    from emma_spark.lib.ml import features as feat

    df = spark.createDataFrame([(0, "The quick brown fox"), (1, "the lazy dog")],
                               ["doc_id", "text"])
    toks = df.select("doc_id", feat.tokenize(F.col("text")).alias("toks"))
    got = {r["doc_id"]: r["toks"] for r in toks.collect()}
    assert got[0] == ["the", "quick", "brown", "fox"]

    bi = toks.select("doc_id", feat.ngrams(F.col("toks"), 2).alias("bi"))
    got2 = {r["doc_id"]: r["bi"] for r in bi.collect()}
    assert got2[0] == ["the quick", "quick brown", "brown fox"]
    assert got2[1] == ["the lazy", "lazy dog"]

    vocab = feat.build_dict(toks)
    v = {r["term"]: r["index"] for r in vocab.collect()}
    assert sorted(v) == ["brown", "dog", "fox", "lazy", "quick", "the"]
    assert sorted(v.values()) == list(range(6))

    enc = feat.encode_freq_dict(toks, vocab)
    e0 = {r["doc_id"]: r["vec"] for r in enc.collect()}
    assert e0[0][v["the"]] == 1.0 and e0[0][v["fox"]] == 1.0
    assert len(e0[1]) == 3

    h = toks.select(feat.encode_freq_hash(F.col("toks"), 64).alias("m")).collect()
    assert sum(h[0]["m"].values()) == 4.0  # 4 tokens in doc 0


# ---------------------------------------------------------------- graphs lib
def test_graphs_lib_on_chain(spark):
    from emma_spark.lib.graphs import connected_components, transitive_closure, triangles

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (10, 11), (11, 12), (12, 10)], ["src", "dst"]
    )
    tc = {(r["src"], r["dst"]) for r in transitive_closure(edges).collect()}
    assert (0, 3) in tc and (10, 12) in tc and (2, 3) in tc
    assert len(tc) == 6 + 9  # chain closure 6; cycle reaches all incl. self: 3x3

    cc = {r["id"]: r["comp"] for r in connected_components(edges).collect()}
    assert cc[0] == cc[3] == 0 and cc[10] == cc[12] == 10

    tri = {(r["x"], r["y"], r["z"]) for r in triangles(edges).collect()}
    assert tri == {(10, 11, 12)}


def test_pca_power_top_matches_numpy(spark):
    """3 power iterations on a strongly-1D synthetic cloud recover the
    dominant right singular vector (|cos| > 0.999 vs numpy's SVD)."""
    import numpy as np

    from emma_spark.lib.ml.pca import pca_power_top

    rows = []
    for i in range(200):
        t = (i % 41) - 20
        base = [t * 1.0, t * 0.5, t * 0.25, 0.1 * ((i * 7) % 5 - 2)]
        rows.append((i, [float(x) for x in base]))
    df = spark.createDataFrame(rows, "vec_id: bigint, embedding: array<double>")
    v = np.array(pca_power_top(df, iters=3, dim=4))
    x = np.array([r[1] for r in rows])
    _, _, vt = np.linalg.svd(x, full_matrices=False)
    cos = abs(float(np.dot(v, vt[0]) / (np.linalg.norm(v) * np.linalg.norm(vt[0]))))
    assert cos > 0.999, (cos, v.tolist(), vt[0].tolist())


def test_ml_lib_empty_training_contracts(spark):
    """Driver-scalar contract: lib trainers RAISE a named contract
    error on an empty training set instead of the driver-side
    None-subscript / zero-arg-array crashes `.first()[...]` and
    `take(k)` used to produce."""
    import pytest

    from emma_spark.lib.ml.kmeans import kmeans
    from emma_spark.lib.ml.regression import linreg_train, logreg_train

    empty_pts = spark.createDataFrame([], "id bigint, vec array<double>")
    with pytest.raises(ValueError, match="empty training set"):
        kmeans(empty_pts, k=2)
    empty_inst = spark.createDataFrame([], "vec array<double>, label double")
    with pytest.raises(ValueError, match="empty"):
        linreg_train(empty_inst, iterations=1)
    with pytest.raises(ValueError, match="empty"):
        logreg_train(empty_inst, iterations=1)
