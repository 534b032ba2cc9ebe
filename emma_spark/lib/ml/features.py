"""Feature extraction: tokenize, n-grams, dictionary & hashing encode.

Reference: ``emma-lib/.../ml/feature/{tokenize,nGrams,encode}.scala`` —
tokenize splits on a pattern; nGrams emits word n-grams; encode builds
(a) a dictionary (distinct + index) and (b) frequency / binary vectors
of width N via hashing or the dictionary.

Spark-first: all per-row ops are array expressions; the dictionary is
distinct + the engine's two-pass range-partitioned zipWithIndex
(``DataBag.zip_with_index``) over lexicographically range-partitioned
terms — dense global indices with NO single-task global window, so a
10^9-term web vocabulary indexes fully parallel. Encoded vectors are
``map<int,double>`` columns (the SVector analog).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ...llm.text import ascii_lower, let_


def tokenize(
    text: Column, pattern: str = r"[^a-zA-Z0-9_]+", lowercase: bool = True
) -> Column:
    """(``tokenize.scala``) split + drop empties. The default pattern is
    the EXPLICIT spelling of ``\\W+`` — Java and RE2 agree on ASCII
    ``\\W`` today, but shorthand classes are exactly where engines
    diverge (``\\s`` has split differently on the two engines), so
    oracles and engine share one literal class."""
    t = ascii_lower(text) if lowercase else text
    return F.filter(F.split(t, pattern), lambda x: x != "")


def ngrams(toks: Column, n: int) -> Column:
    """Word n-grams as space-joined strings (``nGrams.scala``)."""
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(-1)))
    return F.when(F.size(toks) >= n, F.transform(
        idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n))
    )).otherwise(F.array().cast("array<string>"))


def build_dict(df: DataFrame, toks_col: str = "toks") -> DataFrame:
    """Vocabulary -> dense index (``encode.dict``: distinct + index;
    ``encode.scala:44-45`` is literally ``distinct`` + zipWithIndex).
    Deterministic: indexed in lexicographic term order.

    Scale: range-partition the distinct terms by term, sort within
    partitions, then ``zip_with_index`` (per-partition counts → driver
    offsets → partitioned row_number). Ascending partition ranges +
    ascending rows within each partition ⇒ the dense index IS the
    lexicographic rank, with no unpartitioned window anywhere (a
    global ``Window.orderBy(term)`` would be a one-task sort of the
    whole vocabulary)."""
    from ...core import DataBag

    terms = df.select(F.explode(F.col(toks_col)).alias("term")).distinct()
    n_parts = max(df.sparkSession.sparkContext.defaultParallelism, 1)
    ranged = terms.repartitionByRange(n_parts, F.col("term")).sortWithinPartitions(
        "term"
    )
    return DataBag(ranged).zip_with_index("index").df


def encode_freq_hash(toks: Column, n: int = 1 << 10) -> Column:
    """Hashing-trick frequency vector as map<int,double>
    (``encode.freq`` with the native hash; here portable xxhash64).
    The hashed-index array is let-bound (``llm/text.let_``): unbound,
    the lambda would re-hash every token once per DISTINCT index —
    O(n·d) hashes per document."""
    idx = F.transform(toks, lambda t: F.pmod(F.xxhash64(t), F.lit(n)).cast("int"))
    return let_(
        idx,
        lambda ix: F.map_from_entries(
            F.transform(
                F.array_distinct(ix),
                lambda k: F.struct(
                    k.alias("k"),
                    F.size(F.filter(ix, lambda j: j == k))
                    .cast("double")
                    .alias("v"),
                ),
            )
        ),
    )


def encode_freq_dict(df: DataFrame, vocab: DataFrame, toks_col: str = "toks",
                     id_cols: tuple[str, ...] = ("doc_id",)) -> DataFrame:
    """Dictionary frequency encode: explode + join vocab + re-group to
    map<int,double>. The join broadcasts when the vocab is small; at
    100 TB both sides shuffle on the term — no driver-side dict."""
    e = df.select(*id_cols, F.explode(F.col(toks_col)).alias("term"))
    joined = e.join(F.broadcast(vocab), "term")
    return (
        joined.groupBy(*id_cols, "index")
        .agg(F.count(F.lit(1)).cast("double").alias("v"))
        .groupBy(*id_cols)
        .agg(F.map_from_entries(
            F.sort_array(F.collect_list(F.struct(F.col("index").alias("k"), F.col("v"))))
        ).alias("vec"))
    )
