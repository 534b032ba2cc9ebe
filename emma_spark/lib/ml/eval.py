"""Classification evaluation (``emma-lib/.../ml/classification/eval.scala``):
confusion counts + accuracy/precision/recall/f1, in one aggregate pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def confusion(df: DataFrame, label_col: str = "label", pred_col: str = "prediction",
              positive: float = 1.0) -> dict[str, int]:
    p = F.lit(positive)
    row = df.agg(
        F.count_if((F.col(label_col) == p) & (F.col(pred_col) == p)).alias("tp"),
        F.count_if((F.col(label_col) != p) & (F.col(pred_col) == p)).alias("fp"),
        F.count_if((F.col(label_col) == p) & (F.col(pred_col) != p)).alias("fn"),
        F.count_if((F.col(label_col) != p) & (F.col(pred_col) != p)).alias("tn"),
    ).collect()[0]
    return {k: row[k] for k in ("tp", "fp", "fn", "tn")}


def scores(df: DataFrame, label_col: str = "label", pred_col: str = "prediction",
           positive: float = 1.0) -> dict[str, float]:
    c = confusion(df, label_col, pred_col, positive)
    n = sum(c.values())
    acc = (c["tp"] + c["tn"]) / n if n else 0.0
    prec = c["tp"] / (c["tp"] + c["fp"]) if c["tp"] + c["fp"] else 0.0
    rec = c["tp"] / (c["tp"] + c["fn"]) if c["tp"] + c["fn"] else 0.0
    f1 = 2 * prec * rec / (prec + rec) if prec + rec else 0.0
    return {"accuracy": acc, "precision": prec, "recall": rec, "f1": f1, **c}


def scores_df(df: DataFrame, label_col: str = "label", pred_col: str = "prediction",
              positive: float = 1.0, dp: int = 6) -> DataFrame:
    """Confusion counts + accuracy/precision/recall/f1 as ONE 1-row
    DataFrame — the distributed, oracle-checkable twin of `scores`
    (eval.scala semantics): a single aggregate pass with map-side
    partials, metrics derived from the exact integer counts and
    quantized to the 10^-dp grid (ratios of ints -> cross-engine
    deterministic)."""
    p = F.lit(positive)
    s = 10 ** dp
    c = df.agg(
        F.count_if((F.col(label_col) == p) & (F.col(pred_col) == p)).alias("tp"),
        F.count_if((F.col(label_col) != p) & (F.col(pred_col) == p)).alias("fp"),
        F.count_if((F.col(label_col) == p) & (F.col(pred_col) != p)).alias("fn"),
        F.count_if((F.col(label_col) != p) & (F.col(pred_col) != p)).alias("tn"),
    )
    rd = lambda col: F.floor(col * s + F.lit(0.5)) / s
    tp, fp, fn, tn = (F.col(k).cast("double") for k in ("tp", "fp", "fn", "tn"))
    # try_divide throughout: every denominator is data-dependent (a
    # degenerate corpus can have zero positive predictions), and under
    # ANSI a plain double division by zero CRASHES Spark where the
    # DuckDB oracle's `/` returns NULL — try_divide(x, 0) == NULL is
    # exactly DuckDB's contract, so the engines stay aligned on
    # degenerate confusion tables.
    prec = F.try_divide(tp, tp + fp)
    rec = F.try_divide(tp, tp + fn)
    return c.select(
        "tp", "fp", "fn", "tn",
        rd(F.try_divide(tp + tn, tp + fp + fn + tn)).alias("accuracy"),
        rd(prec).alias("precision"),
        rd(rec).alias("recall"),
        rd(F.try_divide(2 * prec * rec, prec + rec)).alias("f1"),
    )
