"""Linear & logistic regression over the SGD solver.

Reference: ``emma-lib/.../ml/regression/linreg.scala`` and
``classification/logreg.scala`` — both are `prependBias` + a solver;
prediction applies an error function to the bias-extended instances.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..linalg import dot, vlit
from .optimization import LinearModel, LogisticError, SquaredError, prepend_bias, sgd


def _feature_dim(data: DataFrame) -> int:
    """Feature width from the first row — with an EXPLICIT raise on an
    empty training set (the min/max raise-on-empty contract), not the
    driver-side ``None['vec']`` TypeError ``.first()`` would otherwise
    produce."""
    row = data.select("vec").first()
    if row is None:
        raise ValueError("training set is empty: cannot infer feature dim")
    return len(row["vec"])


def linreg_train(instances: DataFrame, **solver_kw) -> LinearModel:
    """(``linreg.scala`` train = solve ∘ prependBias)."""
    data = prepend_bias(instances)
    d = _feature_dim(data)
    kw = dict(initial_weights=[0.0] * d, err=SquaredError())
    kw.update(solver_kw)
    return sgd(data, **kw)


def logreg_train(instances: DataFrame, **solver_kw) -> LinearModel:
    """(``logreg.scala`` train)."""
    data = prepend_bias(instances)
    d = _feature_dim(data)
    kw = dict(initial_weights=[0.0] * d, err=LogisticError())
    kw.update(solver_kw)
    return sgd(data, **kw)


def linreg_predict(model: LinearModel, instances: DataFrame) -> DataFrame:
    data = prepend_bias(instances)
    return data.withColumn("prediction", dot(F.col("vec"), vlit(model.weights)))


def logreg_predict(model: LinearModel, instances: DataFrame, threshold: float = 0.5) -> DataFrame:
    data = prepend_bias(instances)
    z = dot(F.col("vec"), vlit(model.weights))
    p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    return data.withColumn("probability", p).withColumn(
        "prediction", (p >= threshold).cast("double")
    )


def rmse(predicted: DataFrame, label_col: str = "label") -> float:
    """(``optimization/error/rmse.scala`` analog)."""
    row = predicted.agg(
        F.sqrt(F.avg(F.pow(F.col("prediction") - F.col(label_col), 2))).alias("rmse")
    ).collect()[0]
    return row["rmse"]


def linreg_normal(
    instances: DataFrame, x_col: str = "x", label_col: str = "label"
) -> DataFrame:
    """Closed-form simple linear regression (normal equations) as ONE
    aggregation: slope = cov(x, y)/var(x), intercept = ȳ − slope·x̄.

    The Spark-first alternative to the SGD loop for the 1-feature case
    (linreg.scala's semantics, zero iterations): a single map-side
    partial + final aggregate over any data size; nothing iterative,
    nothing on the driver. Returns a 1-row DataFrame (slope, intercept)
    so it composes with grouped variants via the same aggregate exprs.

    Degenerate-input safe: under ANSI, ``regr_slope`` on constant (or
    single-row) x is a job-killing DIVIDE_BY_ZERO, so the slope is the
    explicit cov/var ratio through ``try_divide`` — NULL on a
    degenerate fit, same values as regr_slope otherwise, still one
    aggregation pass."""
    y, x = F.col(label_col), F.col(x_col)
    xpc = F.when(y.isNotNull(), x)  # pair-complete x, matching covar
    ypc = F.when(x.isNotNull(), y)
    slope = F.try_divide(F.covar_pop(x, y), F.var_pop(xpc))
    return instances.agg(
        slope.alias("slope"),
        (F.avg(ypc) - slope * F.avg(xpc)).alias("intercept"),
    )
