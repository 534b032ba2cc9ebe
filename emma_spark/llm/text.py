"""Text analysis for large-scale training-data pipelines.

All operators are pure Column expressions (JVM-side, whole-stage
codegen): tokenization, quality scoring, language ID, token counting,
fingerprinting. No reference analog (emma has only WordCount-style
token ops, ``emma-examples/.../text/WordCount.scala:26-30`` and
``emma-lib/.../ml/feature/{tokenize,nGrams}.scala``) — this module is
the engine's training-data surface, built to the same rule as the rest
of the engine: no Python in the hot path.

Every function returns Columns (composable) or a DataFrame transform;
deterministic, so the DuckDB oracles in workloads/ can mirror them.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..plans.cache import pin

# THE whitespace contract. Java regex `\s` is `[ \t\n\x0B\f\r]` while
# DuckDB's RE2 `\s` is `[\t\n\f\r ]` — they disagree on \x0B (and any
# future engine may disagree on Unicode space). One edge character in
# one document shifts every downstream token count, so every
# tokenization in the engine AND every DuckDB oracle splits on this
# ONE explicit class (the reference's own WordCount uses an explicit
# pattern for the same reason: emma-examples/.../text/WordCount.scala:26-30).
# WS_SET is the raw char-class body (backslash escapes left literal so
# BOTH regex engines interpret them); WS_RE is the bracketed class;
# WS_RE_EXPR is the double-escaped form for strings that pass through
# Spark SQL literal parsing (F.expr), which eats one backslash level.
WS_SET = r" \t\n\x0b\f\r"
WS_RE = "[" + WS_SET + "]"
WS_RE_EXPR = WS_RE.replace("\\", "\\\\")

# THE case-fold contract (same engine-divergence class as WS_RE):
# full Unicode lowercasing is engine-sensitive — Java's toLowerCase
# maps İ (U+0130) → "i"+combining-dot and applies Greek final-sigma
# context (ΣΙΣΥΦΟΣ → σισυφος), while DuckDB maps İ → i and Σ → σ
# unconditionally (probed live). Any compared text therefore folds
# ONLY A-Z, via translate() — identical, locale-free semantics on both
# engines. Non-ASCII letters pass through unchanged.
ASCII_UPPER = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
ASCII_LOWER = "abcdefghijklmnopqrstuvwxyz"


def let_(col: "Column", body) -> "Column":
    """Per-row LET-BINDING for Column expressions: evaluate ``col``
    once, pass the bound value to ``body``. Spark has no native let;
    a free column referenced inside a higher-order-function lambda is
    re-evaluated PER ELEMENT (measured 5× wall on the minhash shingle
    path), while a lambda variable holds its evaluated value — so a
    1-element ``transform`` is a let."""
    return F.element_at(F.transform(F.array(col), body), 1)


def ascii_lower(col: "Column") -> "Column":
    """ASCII-only case fold (see the contract note above)."""
    return F.translate(col, ASCII_UPPER, ASCII_LOWER)


def sql_ascii_lower(expr: str) -> str:
    """DuckDB twin of :func:`ascii_lower`."""
    return f"translate({expr}, '{ASCII_UPPER}', '{ASCII_LOWER}')"

# languages scored by stopword hits; fixed preference order breaks ties
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "it", "for", "on"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "zu", "mit"),
    "fr": ("le", "la", "les", "et", "est", "un", "une", "de", "du", "pour"),
    "es": ("el", "los", "las", "y", "es", "un", "una", "que", "por", "para"),
}
LANG_ORDER = ("en", "de", "fr", "es")


def _rd(col: Column, dp: int) -> Column:
    """Cross-engine-stable rounding (floor(x*10^dp + 0.5)/10^dp)."""
    s = 10 ** dp
    return F.floor(col * s + F.lit(0.5)) / F.lit(s)


def tokens(text: Column) -> Column:
    """Whitespace tokenization, lowercased, empty tokens dropped.

    Splits on the explicit ``WS_RE`` class — never ``\\s`` — so Spark
    and every SQL oracle agree byte-for-byte on token boundaries."""
    return F.filter(F.split(ascii_lower(text), WS_RE + "+"), lambda t: t != "")


def bpe_ish_tokens(text: Column) -> Column:
    """Sub-word-ish tokenization: splits on whitespace AND on
    letter/digit/punctuation boundaries (a cheap BPE stand-in for token
    counting; real BPE needs a vocab file — see multimodal.decode for
    the stub pattern)."""
    pieces = F.split(
        F.regexp_replace(
            ascii_lower(text), "([0-9]+|[^" + WS_SET + "a-z0-9]+)", r" $1 "
        ),
        WS_RE + "+",
    )
    return F.filter(pieces, lambda t: t != "")


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def char_ngrams(text: Column, n: int = 3, lowercase: bool = True) -> Column:
    """Character n-gram array (sliding window over the raw string,
    1-based substring — identical semantics in DuckDB for the oracle).

    The (folded) source string is LET-BOUND once per row via a
    1-element ``transform``: a free column referenced inside an HOF
    lambda is re-evaluated per element, so an unbound fold would cost
    O(len) case folds per document — measured 5× wall on the minhash
    shingle path at sf0.1. The lambda variable, by contrast, holds the
    evaluated value."""
    src = ascii_lower(text) if lowercase else text
    # guard: sequence(1, 0) in Spark is the DESCENDING [1, 0], not empty
    return let_(
        src,
        lambda t: F.when(
            F.length(t) >= n,
            F.transform(
                F.sequence(F.lit(1), F.length(t) - (n - 1)),
                lambda i: F.substring(t, i, n),
            ),
        ).otherwise(F.array().cast("array<string>")),
    )


def stopword_hits(toks: Column, lang: str) -> Column:
    words = STOPWORDS[lang]
    return F.size(F.filter(toks, lambda t: t.isin(*words)))


def lang_id(text: Column) -> Column:
    """n-gram/stopword-heuristic language ID: argmax of stopword hits
    with fixed-order tie-break; 'und' when nothing matches."""
    toks = tokens(text)
    scores = {lang: stopword_hits(toks, lang) for lang in LANG_ORDER}
    # cascade: first language (in LANG_ORDER) attaining the max wins
    expr = F.lit("und")
    for lang in reversed(LANG_ORDER):
        others = [scores[o] for o in LANG_ORDER if o != lang]
        expr = F.when(
            (scores[lang] > 0) & (scores[lang] >= F.greatest(*others)), F.lit(lang)
        ).otherwise(expr)
    return expr


def quality_metrics(text: Column) -> dict[str, Column]:
    """Quality-scoring feature block: length, token stats, punctuation
    and stopword ratios, alpha ratio. Round ratios at the call site if
    hashing for comparison."""
    toks = tokens(text)
    n_tok = F.size(toks)
    n_chars = F.length(text)
    punct = F.length(F.regexp_replace(text, "[a-zA-Z0-9" + WS_SET + "]", ""))
    alpha = F.length(F.regexp_replace(text, r"[^a-zA-Z]", ""))
    stop_all = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS["en"])))
    return {
        "n_chars": n_chars.cast("bigint"),
        "n_tokens": n_tok.cast("bigint"),
        "avg_token_len": F.when(n_tok > 0, _rd(n_chars.cast("double") / n_tok, 4)).otherwise(F.lit(0.0)),
        "punct_ratio": _rd(punct.cast("double") / F.greatest(n_chars, F.lit(1)), 6),
        "alpha_ratio": _rd(alpha.cast("double") / F.greatest(n_chars, F.lit(1)), 6),
        "stopword_ratio": F.when(n_tok > 0, _rd(stop_all.cast("double") / n_tok, 6)).otherwise(F.lit(0.0)),
    }


def md5_long(col: Column, salt: str | None = None) -> Column:
    """First 56 bits of md5 as a non-negative bigint — the portable hash
    used across dedup/fingerprint ops (DuckDB mirror:
    ``CAST(concat('0x', substr(md5(x), 1, 14)) AS BIGINT)``)."""
    src = F.concat(F.lit(salt), F.lit("|"), col) if salt is not None else col
    return F.conv(F.substring(F.md5(F.encode(src, "utf-8")), 1, 14), 16, 10).cast("bigint")


def fingerprint(text: Column) -> Column:
    """Document fingerprint: md5 of whitespace-normalized lowercase text
    (stable under reflow), as a bigint."""
    norm = F.regexp_replace(F.trim(ascii_lower(text)), WS_RE + "+", " ")
    return md5_long(norm)


def kmv_distinct_estimate(
    df, group_col: str, value_col: str, k: int = 32, id_salt: str = "kmv"
):
    """KMV (k-minimum-values) distinct-count sketch, deterministic form:
    hash each value with the portable 56-bit md5, keep each group's k
    smallest DISTINCT hashes, estimate |distinct| = (k-1)·2^56 / h_k.

    Plan: dedup (group, hash) with map-side partial agg, then a
    rank-k window — the shuffle carries distinct hashes only and the
    driver sees one row per group. Integer arithmetic end to end —
    the numerator (k-1)·2^56 exceeds 2^53 for k ≥ 2, so it is lifted
    to decimal(38,0) and divided with ``div`` (exact integral
    division, matching DuckDB's HUGEINT ``//``) rather than a double
    ``/`` whose floor can be off by one — so any engine reproduces
    the estimate exactly,
    unlike HLL sketches (``approx_count_distinct``), whose registers
    are implementation-defined. Production note: for a mergeable
    always-on sketch use approx_count_distinct; this operator is the
    portable, exactly-reproducible alternative."""
    from pyspark.sql import Window, functions as F

    h = md5_long(F.col(value_col).cast("string"), salt=id_salt)
    distinct_h = df.select(F.col(group_col), h.alias("__h")).distinct()
    w = Window.partitionBy(group_col).orderBy("__h")
    topk = distinct_h.withColumn("__rk", F.row_number().over(w)).filter(
        F.col("__rk") <= k
    )
    return topk.groupBy(group_col).agg(
        F.when(
            F.count(F.lit(1)) < k, F.count(F.lit(1))
        ).otherwise(
            F.expr(
                f"CAST({(k - 1) * (1 << 56)} AS DECIMAL(38,0))"
                " div CAST(max(__h) AS DECIMAL(38,0))"
            )
        ).cast("bigint").alias("est_distinct"),
        F.count(F.lit(1)).alias("n_mins"),
    )


def repetition_metrics(text: Column) -> dict[str, Column]:
    """Gopher-style repetition signals (Rae et al. 2021, 'Scaling
    Language Models', text-quality appendix): the fraction of 2-grams
    that are duplicates and the distinct/total token ratio.
    Boilerplate and crawler loops score high on dup share and low on
    distinct ratio. Pure array HOF math — no shuffle, no UDF; apply
    as a narrow filter BEFORE any dedup shuffle so repeated junk
    never pays a network round-trip."""
    toks = tokens(text)
    n = F.size(toks)
    n_distinct = F.size(F.array_distinct(toks))
    # 2-gram duplicate mass via sort + neighbor compare: among the
    # SORTED 2-gram strings, each adjacent-equal pair marks one
    # occurrence beyond a gram's first — their count is the classic
    # "duplicated n-gram" numerator
    grams = F.zip_with(
        F.slice(toks, 1, F.greatest(n - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(n - 1, F.lit(0))),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    sg = F.array_sort(grams)
    ng = F.size(sg)
    dup_flags = F.zip_with(
        F.slice(sg, 1, F.greatest(ng - 1, F.lit(0))),
        F.slice(sg, 2, F.greatest(ng - 1, F.lit(0))),
        lambda a, b: (a == b).cast("int"),
    )
    n_dup_pairs = F.aggregate(dup_flags, F.lit(0), lambda acc, v: acc + v)
    return {
        "distinct_token_ratio": F.when(
            n > 0, _rd(n_distinct.cast("double") / n, 6)
        ).otherwise(F.lit(1.0)),
        "dup_2gram_share": F.when(
            ng > 1, _rd(n_dup_pairs.cast("double") / ng, 6)
        ).otherwise(F.lit(0.0)),
    }


def pack_sequences(
    df, id_col: str = "doc_id", token_col: str = "n_tokens", ctx: int = 2048
):
    """Token-budget sequence packing: assign documents to training
    context windows of ``ctx`` tokens by cumulative token count in
    ``id_col`` order (pack = floor(cum_before / ctx)). The
    deterministic packing every pretraining data loader needs — not
    optimal bin packing (NP-hard and order-unstable), but reproducible
    on any engine.

    Scale: an UNPARTITIONED ``Window.orderBy`` would drag every row
    into one task — the classic global-cumsum trap. Instead, the
    zip_with_index two-pass scheme: range-partition by id (partition i
    holds a contiguous id range, pinned via eager localCheckpoint so
    retries can't renumber), per-partition token totals to the driver
    (rows ≤ #partitions), exclusive prefix offsets back as a literal
    map, then a PARTITIONED running-sum window. Fully parallel; only
    (pid, sum) pairs ever leave the executors."""
    from pyspark.sql import Window

    spark = df.sparkSession
    n_parts = max(spark.sparkContext.defaultParallelism, 1)
    # NULL token counts would poison the cumulative sum (and the driver
    # offset loop): fail loudly, row-side, JVM-side — no extra pass.
    checked = F.when(
        F.col(token_col).isNull(),
        F.raise_error(F.lit(f"pack_sequences: NULL in {token_col}")).cast("bigint"),
    ).otherwise(F.col(token_col).cast("bigint"))
    part = pin(
        df.withColumn(token_col, checked)
        .repartitionByRange(n_parts, F.col(id_col))
        .sortWithinPartitions(id_col)
        .withColumn("__pid", F.spark_partition_id()),
        eager=True,
    )
    sums = part.groupBy("__pid").agg(F.sum(token_col).alias("s")).orderBy("__pid").collect()
    offsets, acc = {}, 0
    for r in sums:
        offsets[r["__pid"]] = acc
        acc += r["s"]
    w = Window.partitionBy("__pid").orderBy(id_col).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum_local = F.sum(F.col(token_col)).over(w)
    # empty corpus: create_map() is map<void,void> and the lookup
    # fails ANALYSIS — zero partition sums means zero offset
    if offsets:
        omap = F.create_map(*[F.lit(x) for kv in offsets.items() for x in kv])
        offset = omap[F.col("__pid")] + cum_local - F.col(token_col)
    else:
        offset = cum_local - F.col(token_col)
    # integer `div`, not float `/`: float division drifts past 2^53
    # (the same exactness rule the KMV sketch and pagerank follow)
    return part.select(
        F.col(id_col),
        F.col(token_col),
        offset.alias("pack_offset"),
    ).withColumn("pack_id", F.expr(f"pack_offset div {int(ctx)}")).select(
        id_col, token_col, "pack_id", "pack_offset"
    )


def quarantine_invalid_json(
    df: DataFrame, col: str, require_object: bool = True
) -> tuple[DataFrame, DataFrame]:
    """Split a frame into ``(valid, quarantine)`` on the JSON
    QUARANTINE CONTRACT (workloads udtf_expand_props /
    variant_ops_surface; the props fuzz tier): a 100 TB ingest
    contains corrupt JSON documents — malformed fragments, empty
    strings, top-level scalars/arrays, duplicate keys — and a parser
    that meets one must SKIP the document, never kill the job and
    never read it partially. This operator is the ingest-side
    enforcement (the batch sibling of
    streaming.api.quarantine_pre_epoch): route ``valid`` into the
    JSON-consuming plan and ``quarantine`` to a dead-letter sink, so
    corruption is OBSERVED instead of discovered as a worker crash
    three joins downstream.

    Validity is pure Column work (no Python, no shuffle; both legs
    are narrow filters over the shared scan):

    - ``try_parse_json`` non-NULL ⇔ well-formed JSON with UNIQUE keys
      at every depth (Spark's VARIANT builder rejects duplicate-key
      documents outright — probed live);
    - ``require_object`` adds the top-level-object test: for already-
      validated JSON, "first non-whitespace byte is ``{``" is exact
      (the explicit ``[ \\t\\r\\n]`` class, same discipline as WS_RE).

    NULL documents ride the quarantine leg — like a NULL event time
    in quarantine_pre_epoch, ``props IS NULL`` corruption belongs in
    the same dead-letter audit.
    """
    c = F.col(col)
    # `ok` is never three-valued: isNotNull() anchors the conjunction
    # at a real boolean (FALSE AND NULL = FALSE), so the quarantine
    # leg is exactly ~ok — NULL documents land there through the
    # FALSE anchor, not through a separate clause
    ok = c.isNotNull() & F.try_parse_json(c).isNotNull()
    if require_object:
        ok = ok & c.rlike(r"^[ \t\r\n]*\{")
    return df.filter(ok), df.filter(~ok)
