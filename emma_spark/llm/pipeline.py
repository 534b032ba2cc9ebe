"""End-to-end training-corpus curation: the composition layer over the
LLM-data operators (text quality → exact dedup → near-dup removal →
corpus stats) as ONE lazy DataFrame plan.

This is the shape a 100 TB pre-training pipeline actually runs; every
stage is one of the engine's shuffle-aware operators, so the whole
pipeline is: scan → narrow quality filter (pushed to the scan where
possible) → one content-hash shuffle (exact dedup) → signature build +
one bucket join (near-dup) → one stats aggregation. No driver
materialization anywhere; stages compose as plans, so Catalyst prunes
columns across stage boundaries (e.g. the stats pass never carries
text once token counts are computed).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.cache import pin
from . import dedup as D
from . import text as X


def curate(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 5,
    min_alpha: float = 0.5,
    num_hashes: int = 4,
    shingle: int = 5,
    bands: int = 2,
) -> DataFrame:
    """Quality-gate, exact-dedup, and near-dup-filter a document bag;
    returns the surviving rows (all original columns).

    Near-dup policy: among LSH candidate pairs (a < b), the HIGHER id
    is dropped — deterministic, one pass, no transitive clustering
    (connected-component dedup is available via lib.graphs for
    pipelines that need it)."""
    t = F.col(text_col)
    qm = X.quality_metrics(t)
    gated = docs.filter(
        (F.size(X.tokens(t)) >= min_tokens) & (qm["alpha_ratio"] >= min_alpha)
    )
    # REBALANCE: AQE coalesces the dedup shuffle by BYTES, but the next
    # stage (shingle explode + md5 per shingle) is CPU-bound per row —
    # without the re-spread the whole signature build lands on one task
    # (measured 5x slower at sf0.1). Cheap at any scale: the deduped bag
    # already paid a shuffle, this one moves strictly fewer rows.
    kept = D.drop_exact_dups(gated, text_col=text_col, id_col=id_col).repartition(
        docs.sparkSession.sparkContext.defaultParallelism
    )
    sigs = D.minhash_signature(
        kept, text_col=text_col, id_col=id_col, num_hashes=num_hashes, shingle=shingle
    )
    pairs = D.lsh_candidate_pairs(sigs, id_col=id_col, num_hashes=num_hashes, bands=bands)
    removed = pairs.select(F.col("b").alias(id_col)).distinct()
    return kept.join(removed, id_col, "left_anti")


def corpus_stats(docs: DataFrame, by: str = "lang", text_col: str = "text") -> DataFrame:
    """Per-group corpus accounting: docs, tokens, chars."""
    t = F.col(text_col)
    return docs.groupBy(by).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(X.tokens(t))).alias("total_tokens"),
        F.sum(F.length(t)).alias("total_chars"),
    )


def curate_funnel(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 5,
    min_alpha: float = 0.5,
    num_hashes: int = 4,
    shingle: int = 5,
    bands: int = 2,
) -> DataFrame:
    """Per-stage attrition report for ``curate`` — the funnel table a
    curation run logs so a sudden yield change is attributable to the
    STAGE that caused it: one row with the survivor count after each
    sequential gate (quality → exact dedup → near-dup) and each
    stage's drop count. Same stage semantics and hash math as
    ``curate`` (kept bag pinned once, counts are extra single-row
    aggs off the same lineage — the marginal cost over the pipeline
    itself is three count jobs, not three pipelines)."""
    t = F.col(text_col)
    qm = X.quality_metrics(t)
    gated = docs.filter(
        (F.size(X.tokens(t)) >= min_tokens) & (qm["alpha_ratio"] >= min_alpha)
    )
    # unpinned: 4 documents scans at sf0.001, median ×1.03 sf0.1 / ×1.05 sf1
    kept = pin(
        D.drop_exact_dups(gated, text_col=text_col, id_col=id_col)
        .repartition(docs.sparkSession.sparkContext.defaultParallelism)
    )
    sigs = D.minhash_signature(
        kept, text_col=text_col, id_col=id_col,
        num_hashes=num_hashes, shingle=shingle,
    )
    pairs = D.lsh_candidate_pairs(
        sigs, id_col=id_col, num_hashes=num_hashes, bands=bands
    )
    removed = pairs.select(F.col("b").alias(id_col)).distinct()
    final = kept.join(removed, id_col, "left_anti")

    n_input = docs.agg(F.count(F.lit(1)).alias("c"))
    n_quality = gated.agg(F.count(F.lit(1)).alias("c"))
    n_exact = kept.agg(F.count(F.lit(1)).alias("c"))
    n_final = final.agg(F.count(F.lit(1)).alias("c"))
    return (
        n_input.select(F.col("c").alias("n_input"))
        .crossJoin(n_quality.select(F.col("c").alias("n_after_quality")))
        .crossJoin(n_exact.select(F.col("c").alias("n_after_exact")))
        .crossJoin(n_final.select(F.col("c").alias("n_after_neardup")))
        .select(
            "n_input", "n_after_quality", "n_after_exact", "n_after_neardup",
            (F.col("n_input") - F.col("n_after_quality")).alias("drop_quality"),
            (F.col("n_after_quality") - F.col("n_after_exact")).alias(
                "drop_exact"
            ),
            (F.col("n_after_exact") - F.col("n_after_neardup")).alias(
                "drop_neardup"
            ),
            # zero docs in (day-one empty partition): DuckDB // 0 is
            # NULL, Spark ANSI div raises — row-level CASE
            F.expr(
                "CASE WHEN n_input = 0 THEN CAST(NULL AS BIGINT)"
                " ELSE CAST(CAST(n_after_neardup AS DECIMAL(38,0)) * 1000000"
                " div n_input AS BIGINT) END"
            ).alias("yield_ppm"),
        )
    )
