"""Text-analysis workloads over the `documents` table, each mirrored by
a DuckDB oracle that reproduces the exact same math (md5-derived hashes,
identical regexes, identical rounding)."""

from __future__ import annotations

from pyspark.sql import functions as F

from ..llm import text as X
from ..llm.text import ascii_lower, WS_RE, WS_RE_EXPR, WS_SET
from ..plans.cache import pin
from ..sources import io
from . import query

# SQL fragment: lowercased whitespace tokens, empties dropped.
# Splits on the explicit WS_RE class (llm/text.py) — never `\s`, whose
# membership differs between Java regex and DuckDB's RE2.
SQL_TOKS = (
    f"list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '{WS_RE}+'), t -> t != '')"
)
# SQL fragment: md5 -> 56-bit bigint
def sql_md5_long(expr: str) -> str:
    return f"CAST(concat('0x', substr(md5({expr}), 1, 14)) AS BIGINT)"


@query(
    "text_token_count",
    oracle=f"""
    SELECT doc_id, len({SQL_TOKS}) AS n_tokens FROM documents
    """,
)
def text_token_count(spark, sf_dir):
    """Whitespace token counting — pure Column expr, no shuffle."""
    docs = io.fan_out(io.read_parquet(spark, f"{sf_dir}/documents.parquet").df)
    return docs.select("doc_id", X.token_count(F.col("text")).cast("bigint").alias("n_tokens"))


@query(
    "text_quality",
    oracle=rf"""
    SELECT doc_id,
           length(text)::BIGINT AS n_chars,
           len({SQL_TOKS})::BIGINT AS n_tokens,
           CASE WHEN len({SQL_TOKS}) > 0
                THEN floor(length(text)::DOUBLE / len({SQL_TOKS}) * 10000 + 0.5) / 10000
                ELSE 0.0 END AS avg_token_len,
           floor(length(regexp_replace(text, '[a-zA-Z0-9{WS_SET}]', '', 'g'))::DOUBLE
                 / greatest(length(text), 1) * 1000000 + 0.5) / 1000000 AS punct_ratio,
           floor(length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))::DOUBLE
                 / greatest(length(text), 1) * 1000000 + 0.5) / 1000000 AS alpha_ratio,
           CASE WHEN len({SQL_TOKS}) > 0
                THEN floor(len(list_filter({SQL_TOKS},
                     t -> t IN ('the','a','of','and','to','in','is','it','for','on')))::DOUBLE
                     / len({SQL_TOKS}) * 1000000 + 0.5) / 1000000 ELSE 0.0 END AS stopword_ratio
    FROM documents
    """,
)
def text_quality(spark, sf_dir):
    """Quality-scoring feature block (length/punct/stopword ratios)."""
    docs = io.fan_out(io.read_parquet(spark, f"{sf_dir}/documents.parquet").df)
    metrics = X.quality_metrics(F.col("text"))
    return docs.select("doc_id", *[c.alias(n) for n, c in metrics.items()])


def _lang_expr() -> str:
    counts = {
        lang: f"len(list_filter({SQL_TOKS}, t -> t IN ({', '.join(repr(w) for w in words)})))"
        for lang, words in X.STOPWORDS.items()
    }
    # cascade identical to llm.text.lang_id: first lang in LANG_ORDER at max wins
    expr = "'und'"
    for lang in reversed(X.LANG_ORDER):
        others = " , ".join(c for o, c in counts.items() if o != lang)
        expr = (
            f"CASE WHEN {counts[lang]} > 0 AND {counts[lang]} >= greatest({others}) "
            f"THEN '{lang}' ELSE {expr} END"
        )
    return expr


def _lang_sql() -> str:
    return f"SELECT doc_id, {_lang_expr()} AS lang_guess FROM documents"


@query("text_lang_id", oracle=_lang_sql())
def text_lang_id(spark, sf_dir):
    """Stopword-heuristic language ID (argmax cascade, fixed tie-break)."""
    docs = io.fan_out(io.read_parquet(spark, f"{sf_dir}/documents.parquet").df)
    return docs.select("doc_id", X.lang_id(F.col("text")).alias("lang_guess"))


_FP_NORM = f"regexp_replace(trim(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), ' '), '{WS_RE}+', ' ', 'g')"


@query(
    "text_fingerprint",
    oracle=f"""
    SELECT doc_id, {sql_md5_long(_FP_NORM)} AS fp FROM documents
    """,
)
def text_fingerprint(spark, sf_dir):
    """Document fingerprint: md5 of whitespace-normalized text as bigint."""
    docs = io.fan_out(io.read_parquet(spark, f"{sf_dir}/documents.parquet").df)
    return docs.select("doc_id", X.fingerprint(F.col("text")).alias("fp"))


@query(
    "text_tfidf_top_terms",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({SQL_TOKS}) AS term FROM documents
    ), tf AS (
      SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term
    ), dfreq AS (
      SELECT term, count(*) AS df FROM tf GROUP BY term
    ), n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
             tf.tf * n.n_docs / dfreq.df AS score,
             row_number() OVER (
               PARTITION BY tf.doc_id
               ORDER BY tf.tf * n.n_docs / dfreq.df DESC, tf.term
             ) AS rk
      FROM tf JOIN dfreq ON tf.term = dfreq.term CROSS JOIN n
    )
    SELECT doc_id, term, rk, floor(score * 1000000 + 0.5) / 1000000 AS score
    FROM scored WHERE rk <= 3
    """,
)
def text_tfidf_top_terms(spark, sf_dir):
    """Per-document top-3 terms by tf·idf with the LINEAR idf variant
    (tf·N/df — a pure rational of exact integers, so ranking is
    bit-identical on any engine; log-idf would hang the rank order on
    libm's last ulp). Deterministic tie-break (score desc, term asc).
    Plan: tf agg on (doc, term), df agg reusing the same exchange's
    term key, broadcast of the 1-row corpus count, rank-k window per
    doc — term dictionary sizes keep every post-agg stage small."""
    from pyspark.sql import Window

    docs = io.fan_out(io.read_parquet(spark, f"{sf_dir}/documents.parquet").df)
    toks = docs.select("doc_id", F.explode(X.tokens(F.col("text"))).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.count()
    score = F.col("tf") * F.lit(n_docs) / F.col("df")
    w = Window.partitionBy("doc_id").orderBy(score.desc(), F.col("term"))
    return (
        tf.join(dfreq, "term")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select(
            "doc_id", "term", "rk",
            (F.floor(score * 1000000 + F.lit(0.5)) / 1000000).alias("score"),
        )
    )


@query(
    "text_vocab_coverage",
    oracle=f"""
    WITH toks AS (
      SELECT unnest({SQL_TOKS}) AS token FROM documents
    ), counts AS (
      SELECT token, count(*) AS cnt FROM toks GROUP BY token
    ), tot AS (SELECT sum(cnt) AS total FROM counts),
    ranked AS (
      SELECT token, cnt,
             row_number() OVER (ORDER BY cnt DESC, token) AS rank,
             sum(cnt) OVER (ORDER BY cnt DESC, token
                            ROWS UNBOUNDED PRECEDING) AS cum
      FROM counts
    )
    SELECT rank, token, cnt,
           floor(cum * 1.0 / tot.total * 1000000 + 0.5) / 1000000 AS cum_share
    FROM ranked CROSS JOIN tot WHERE rank <= 25
    """,
)
def text_vocab_coverage(spark, sf_dir):
    """Vocabulary coverage curve: top-25 tokens with cumulative share
    of all token occurrences — the 'how small a vocab covers 90% of
    the corpus' planning query every tokenizer build starts with.

    Scale: a web corpus has 10^8–10^9 DISTINCT whitespace tokens, so
    the rank/cumsum window must never see the full vocabulary (a
    global-order window is a one-task sort). The top-25 is carved out first with
    orderBy().limit(25), which Spark executes as TakeOrderedAndProject
    (per-partition top-k, merge k·#parts rows on the driver — no
    global sort ever materializes); the window then runs over 25 rows.
    The corpus-scale work is one (token) hash-agg with map-side
    combine plus a 1-row broadcast total."""
    from pyspark.sql import Window

    docs = io.fan_out(io.read_parquet(spark, f"{sf_dir}/documents.parquet").df)
    toks = docs.select(F.explode(X.tokens(F.col("text"))).alias("token"))
    counts = toks.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    total = counts.agg(F.sum("cnt").alias("total"))
    top25 = counts.orderBy(F.col("cnt").desc(), F.col("token")).limit(25)
    w = Window.orderBy(F.col("cnt").desc(), F.col("token"))
    wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        top25.withColumn("rank", F.row_number().over(w))
        .withColumn("cum", F.sum("cnt").over(wc))
        .crossJoin(F.broadcast(total))
        .select(
            "rank", "token", "cnt",
            (F.floor(F.col("cum") / F.col("total") * 1000000 + F.lit(0.5)) / 1000000
             ).alias("cum_share"),
        )
    )


@query(
    "text_repetition_quality",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {SQL_TOKS} AS toks FROM documents
    ), g AS (
      SELECT doc_id, len(toks) AS n,
             len(list_distinct(toks)) AS nd,
             list_sort(list_transform(generate_series(1, (len(toks)) - 1), i -> toks[i] || ' ' || toks[i+1])) AS sg
      FROM t
    ), d AS (
      SELECT doc_id, n, nd, len(sg) AS ng,
             CASE WHEN len(sg) > 1 THEN
               list_sum(list_transform(generate_series(1, (len(sg)) - 1), i -> CASE WHEN sg[i] = sg[i+1] THEN 1 ELSE 0 END))
             ELSE 0 END AS ndup
      FROM g
    )
    SELECT doc_id,
           CASE WHEN n > 0
                THEN floor(nd * 1.0 / n * 1000000 + 0.5) / 1000000
                ELSE 1.0 END AS distinct_token_ratio,
           CASE WHEN ng > 1
                THEN floor(ndup * 1.0 / ng * 1000000 + 0.5) / 1000000
                ELSE 0.0 END AS dup_2gram_share
    FROM d
    """,
)
def text_repetition_quality(spark, sf_dir):
    """Gopher-style repetition filtering signals per document:
    duplicated-2-gram share + distinct-token ratio (llm/text.
    repetition_metrics) — the narrow pre-dedup junk gate. All array
    HOFs, zero shuffle; the oracle replays the sort-neighbor dup
    count with DuckDB list comprehensions."""
    docs = io.fan_out(io.read_parquet(spark, f"{sf_dir}/documents.parquet").df)
    m = X.repetition_metrics(F.col("text"))
    return docs.select(
        "doc_id",
        m["distinct_token_ratio"].alias("distinct_token_ratio"),
        m["dup_2gram_share"].alias("dup_2gram_share"),
    )


@query(
    "text_pack_sequences",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, len({SQL_TOKS})::BIGINT AS n_tokens FROM documents
    ), c AS (
      SELECT doc_id, n_tokens,
             sum(n_tokens) OVER (ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) - n_tokens
               AS pack_offset
      FROM t
    )
    SELECT doc_id, n_tokens,
           CAST(pack_offset // 2048 AS BIGINT) AS pack_id,
           CAST(pack_offset AS BIGINT) AS pack_offset
    FROM c
    """,
)
def text_pack_sequences(spark, sf_dir):
    """Deterministic sequence packing into 2048-token training
    windows (llm/text.pack_sequences): global ordered cumsum →
    pack_id = floor(offset/2048). One range-partitioned sort of
    (doc_id, n_tokens) pairs — the text itself never moves."""
    docs = io.fan_out(io.read_parquet(spark, f"{sf_dir}/documents.parquet").df)
    with_counts = docs.select(
        "doc_id", F.size(X.tokens(F.col("text"))).cast("bigint").alias("n_tokens")
    )
    return X.pack_sequences(with_counts, "doc_id", "n_tokens", ctx=2048)


_STRAT_RATES = {"en": 200, "de": 500, "es": 500, "fr": 500, "zh": 500}


@query(
    "text_stratified_sample",
    oracle=f"""
    WITH tagged AS (
      SELECT lang,
             {sql_md5_long("concat('strat', '|', CAST(doc_id AS VARCHAR))")}
               % 1000 AS slot
      FROM documents
    )
    SELECT lang, count(*) AS n_total,
           count(*) FILTER (WHERE slot < CASE lang
             WHEN 'en' THEN 200 WHEN 'de' THEN 500 WHEN 'es' THEN 500
             WHEN 'fr' THEN 500 WHEN 'zh' THEN 500 ELSE 100 END)
             AS n_sampled
    FROM tagged GROUP BY lang
    """,
)
def text_stratified_sample(spark, sf_dir):
    """Deterministic stratified sampling — per-language rates applied
    via the portable md5 slot (doc_id is the sampling key, so the
    SAME documents are kept on every engine, every run, every
    partitioning — `df.sampleBy` is seed-stable only within one Spark
    version). Downsampling dominant languages is the canonical corpus
    rebalancing step. Pure narrow ops; the only shuffle is the tiny
    per-lang count."""
    docs = io.fan_out(io.read_parquet(spark, f"{sf_dir}/documents.parquet").df)
    slot = X.md5_long(F.col("doc_id").cast("string"), salt="strat") % 1000
    rate = F.lit(100)
    for lang, r in _STRAT_RATES.items():
        rate = F.when(F.col("lang") == lang, r).otherwise(rate)
    return (
        docs.select("lang", slot.alias("slot"), rate.alias("rate"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.count(F.when(F.col("slot") < F.col("rate"), 1)).alias("n_sampled"),
        )
    )


_BM25_TERMS = ("spark", "table", "hash")
_BM25_K1, _BM25_B = 1.2, 0.75


@query(
    "text_bm25_scores",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, len(tk) AS dl,
             len(list_filter(tk, x -> x = 'spark')) AS tf1,
             len(list_filter(tk, x -> x = 'table')) AS tf2,
             len(list_filter(tk, x -> x = 'hash'))  AS tf3
      FROM (SELECT doc_id, {SQL_TOKS} AS tk FROM documents)
    ), stats AS (
      SELECT count(*) AS n, sum(dl) * 1.0 / count(*) AS avgdl,
             sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
             sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2,
             sum(CASE WHEN tf3 > 0 THEN 1 ELSE 0 END) AS df3
      FROM base WHERE dl > 0
    )
    SELECT b.doc_id,
           floor((
             (CASE WHEN tf1 > 0 THEN ((s.n - s.df1 + 0.5) / (s.df1 + 0.5))
                * (tf1 * (1.2 + 1))
                / (tf1 + 1.2 * (1 - 0.75 + 0.75 * b.dl / s.avgdl)) ELSE 0 END)
             + (CASE WHEN tf2 > 0 THEN ((s.n - s.df2 + 0.5) / (s.df2 + 0.5))
                * (tf2 * (1.2 + 1))
                / (tf2 + 1.2 * (1 - 0.75 + 0.75 * b.dl / s.avgdl)) ELSE 0 END)
             + (CASE WHEN tf3 > 0 THEN ((s.n - s.df3 + 0.5) / (s.df3 + 0.5))
                * (tf3 * (1.2 + 1))
                / (tf3 + 1.2 * (1 - 0.75 + 0.75 * b.dl / s.avgdl)) ELSE 0 END)
           ) * 1000000 + 0.5) / 1000000 AS bm25
    FROM base b CROSS JOIN stats s
    WHERE tf1 + tf2 + tf3 > 0
    """,
    headline=True,
)
def text_bm25_scores(spark, sf_dir):
    """BM25 retrieval scoring for a fixed query (k1=1.2, b=0.75) with
    the RATIONAL idf variant ((N−df+½)/(df+½), no log — the ln would
    hang cross-engine equality on libm's last ulp; the rational form
    is the same monotone relevance ordering and bit-deterministic).

    Plan (2 exchanges; the explode+join form compiled 14): for a
    FIXED literal query the per-term tf is an array-HOF count — no
    token explode, no (doc,term) shuffle, no join. One narrow pass
    computes (dl, tf_spark, tf_table, tf_hash) per doc; one 1-row agg
    derives (N, avgdl, df_i); broadcast back and score — two
    exchanges total, both single-row-scale. Per-term contributions
    sum in FIXED left-to-right order (the old grouped float sum's
    order was engine-arbitrary). At 100 TB the explode path's
    tokens-as-rows intermediate (rows × avg_dl) never materializes;
    the explode+join shape only wins for large/dynamic query
    vocabularies.

    `base` feeds BOTH the corpus-stats aggregate and the scoring pass,
    so it is PINNED — unpinned, the tokenize + 3-term HOF count pass
    over every document ran TWICE (two scans, two fan-out exchanges;
    measured 0.65 s vs 0.45 s at sf0.1, results bit-identical). At
    100 TB the pin holds 5 ints per doc (~40 B) where the re-derivation
    would re-read and re-tokenize the corpus text — the auto-cache
    used-more-than-once policy. The returned DataFrame carries the
    pin's release handle, so a long-lived driver can
    ``plans.iterate.release(result)`` after materializing."""
    from ..plans.iterate import carry_ckpt

    docs = io.fan_out(io.read_parquet(spark, f"{sf_dir}/documents.parquet").df)
    tk = X.tokens(F.col("text"))
    t1, t2, t3 = _BM25_TERMS
    base = pin(docs.select(
        "doc_id",
        F.size(tk).alias("dl"),
        F.size(F.filter(tk, lambda x: x == t1)).alias("tf1"),
        F.size(F.filter(tk, lambda x: x == t2)).alias("tf2"),
        F.size(F.filter(tk, lambda x: x == t3)).alias("tf3"),
    ))
    stats = base.filter(F.col("dl") > 0).agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum("dl") * 1.0 / F.count(F.lit(1))).alias("avgdl"),
        F.sum((F.col("tf1") > 0).cast("bigint")).alias("df1"),
        F.sum((F.col("tf2") > 0).cast("bigint")).alias("df2"),
        F.sum((F.col("tf3") > 0).cast("bigint")).alias("df3"),
    )
    k1, b = _BM25_K1, _BM25_B

    def contrib(tf: str, df: str):
        c = (
            ((F.col("n") - F.col(df) + 0.5) / (F.col(df) + 0.5))
            * (F.col(tf) * (k1 + 1))
            / (F.col(tf) + k1 * (1 - b + b * F.col("dl") / F.col("avgdl")))
        )
        return F.when(F.col(tf) > 0, c).otherwise(F.lit(0.0))

    score = (
        contrib("tf1", "df1") + contrib("tf2", "df2") + contrib("tf3", "df3")
    )
    out = (
        base.crossJoin(F.broadcast(stats))
        .filter(F.col("tf1") + F.col("tf2") + F.col("tf3") > 0)
        .select(
            "doc_id",
            (F.floor(score * 1000000 + F.lit(0.5)) / 1000000).alias("bm25"),
        )
    )
    return carry_ckpt(out, base)


@query(
    "text_decontaminate",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {SQL_TOKS} AS tk FROM documents
    ), grams AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, (len(tk) - 1) - 1), i -> array_to_string(tk[i:i+2], ' '))) AS g
      FROM toks WHERE len(tk) >= 3
    ), bench AS (
      SELECT DISTINCT g FROM grams WHERE doc_id % 50 = 0
    ), hits AS (
      SELECT g.doc_id, count(DISTINCT g.g) AS n_shared
      FROM grams g JOIN bench b ON g.g = b.g
      WHERE g.doc_id % 50 <> 0
      GROUP BY g.doc_id
    )
    SELECT doc_id, n_shared, n_shared >= 5 AS likely_leak FROM hits
    """,
)
def text_decontaminate(spark, sf_dir):
    """Benchmark decontamination — the training-corpus hygiene pass:
    flag training documents sharing token n-grams with an eval set
    (here: every 50th doc stands in as the benchmark; 3-grams at this
    tiny corpus — production uses 8-13-gram VERBATIM matching, same
    plan). Plan: distinct benchmark grams are a broadcast set (eval
    suites are tiny next to a 100 TB corpus), so the corpus side is
    one semi-join-shaped hash probe + per-doc distinct count — the
    corpus shuffles once on (doc, gram), the benchmark never
    shuffles."""
    docs = io.fan_out(io.read_parquet(spark, f"{sf_dir}/documents.parquet").df)
    tk = X.tokens(F.col("text"))
    grams3 = F.transform(
        F.sequence(F.lit(1), F.size(tk) - 2),
        lambda i: F.concat_ws(" ", F.slice(tk, i, 3)),
    )
    g = docs.filter(F.size(tk) >= 3).select(
        "doc_id", F.explode(grams3).alias("g")
    )
    bench = g.filter(F.col("doc_id") % 50 == 0).select("g").distinct()
    return (
        g.filter(F.col("doc_id") % 50 != 0)
        .join(F.broadcast(bench), "g")
        .groupBy("doc_id")
        .agg(F.countDistinct("g").alias("n_shared"))
        .select(
            "doc_id", "n_shared", (F.col("n_shared") >= 5).alias("likely_leak")
        )
    )


@query(
    "text_weighted_sample",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, len({SQL_TOKS}) + 1 AS wt FROM documents
    ), pri AS (
      SELECT doc_id, wt,
             {sql_md5_long("concat('ws', '|', CAST(doc_id AS VARCHAR))")} // wt
               AS priority
      FROM w
    )
    SELECT doc_id, wt, priority FROM pri
    ORDER BY priority, doc_id LIMIT 64
    """,
)
def text_weighted_sample(spark, sf_dir):
    """Deterministic weighted sampling — k docs by smallest integer
    priority md5(id) div weight (the exponential-clock scheme with
    exact integer division, so heavier documents draw systematically
    smaller priorities and every engine selects the IDENTICAL set —
    `sampleBy` fractions are neither weighted per row nor
    cross-engine stable). Weight = token count + 1: the quality-
    weighted corpus subsample every data-mixing recipe needs.
    Scale: priorities are a narrow projection; selection is
    TakeOrdered(k) — only k rows ever reach the driver side of the
    sort, no global sort materialization."""
    docs = io.fan_out(io.read_parquet(spark, f"{sf_dir}/documents.parquet").df)
    wt = (F.size(X.tokens(F.col("text"))) + 1).alias("wt")
    pri = docs.select("doc_id", wt).withColumn(
        "priority",
        F.expr(
            "CAST(conv(substring(md5(encode(concat('ws', '|', "
            "CAST(doc_id AS STRING)), 'utf-8')), 1, 14), 16, 10) AS BIGINT)"
            " div wt"
        ),
    )
    return pri.orderBy("priority", "doc_id").limit(64)


@query(
    "text_bigram_lm",
    oracle=f"""
    WITH t AS (
      SELECT {SQL_TOKS} AS toks FROM documents
    ), bg AS (
      SELECT unnest(list_transform(generate_series(1, (len(toks)) - 1), i -> [toks[i], toks[i + 1]])) AS b
      FROM t WHERE len(toks) >= 2
    ), cnts AS (
      SELECT b[1] AS w1, b[2] AS w2, count(*) AS cnt
      FROM bg GROUP BY b[1], b[2]
    ), tot AS (
      SELECT w1, sum(cnt) AS n_w1 FROM cnts GROUP BY w1
    )
    SELECT c.w1, c.w2, c.cnt,
           CAST(c.cnt * 1000000 // t.n_w1 AS BIGINT) AS cond_ppm
    FROM cnts c JOIN tot t ON c.w1 = t.w1
    ORDER BY c.cnt DESC, c.w1, c.w2 LIMIT 50
    """,
)
def text_bigram_lm(spark, sf_dir):
    """Bigram language-model statistics: corpus bigram counts with the
    conditional probability P(w2|w1) in exact parts-per-million
    (cnt·10^6 integer-div count(w1·)) — the n-gram conditional table
    every statistical LM / next-token-frequency analysis starts from.
    Adjacency built with one arrays_zip of the token array against its
    own tail (narrow, no shuffle); counting is two hash-aggs (bigram,
    then first-word marginal) re-using the same w1 key; the top-50
    report is TakeOrdered, never a global sort. The conditional stays
    a rational of two counts — no float division to drift between
    engines."""
    docs = io.fan_out(io.read_parquet(spark, f"{sf_dir}/documents.parquet").df)
    toks = X.tokens(F.col("text"))
    n = F.size(toks)
    pairs = docs.select(toks.alias("tk"), n.alias("n")).filter(F.col("n") >= 2)
    bg = pairs.select(
        F.explode(
            F.arrays_zip(
                F.slice(F.col("tk"), 1, F.col("n") - 1).alias("w1"),
                F.slice(F.col("tk"), 2, F.col("n") - 1).alias("w2"),
            )
        ).alias("b")
    ).select(F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
    cnts = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cnt"))
    tot = cnts.groupBy("w1").agg(F.sum("cnt").alias("n_w1"))
    return (
        cnts.join(tot, "w1")
        .select(
            "w1", "w2", "cnt", F.expr("cnt * 1000000 div n_w1").alias("cond_ppm")
        )
        .orderBy(F.desc("cnt"), "w1", "w2")
        .limit(50)
    )


@query(
    "text_mixture_allocation",
    oracle=f"""
    WITH per_src AS (
      SELECT source,
             CAST(substr(source, 4) AS INT) % 5 + 1 AS w,
             count(*) AS n_docs,
             sum(len({SQL_TOKS})) AS n_tokens
      FROM documents GROUP BY source
    ), tot AS (SELECT sum(w) AS sw FROM per_src)
    SELECT p.source, p.n_docs, CAST(p.n_tokens AS BIGINT) AS n_tokens,
           CAST(1000000 * p.w // t.sw AS BIGINT) AS target_tokens,
           CAST(least(1000000::HUGEINT,
                 (1000000 * p.w // t.sw) * 1000000 // p.n_tokens)
                AS BIGINT) AS rate_ppm,
           CAST((1000000 * p.w // t.sw) * 100 // p.n_tokens AS BIGINT)
             AS epochs_x100
    FROM per_src p CROSS JOIN tot t
    """,
)
def text_mixture_allocation(spark, sf_dir):
    """Training-mixture allocation: given per-source mixing weights
    and a 10^6-token budget, compute each source's target token count,
    the sampling rate to hit it (capped at 1 — you cannot sample more
    than once per pass), and the oversampling factor (epochs×100) when
    the target EXCEEDS the available tokens — the data-mixing recipe
    arithmetic (DoReMi-style weights → concrete per-source rates)
    every pretraining run resolves before reading a byte. One
    per-source agg + a 1-row broadcast weight total; all allocation
    math is exact integer division, so the plan is engine-portable.
    Weights here derive deterministically from the source id; in
    production they arrive as a literal map from the mixing policy."""
    docs = io.fan_out(io.read_parquet(spark, f"{sf_dir}/documents.parquet").df)
    per_src = (
        docs.select(
            "source",
            (F.expr("CAST(substring(source, 4) AS INT)") % 5 + 1).alias("w"),
            F.size(X.tokens(F.col("text"))).alias("toks"),
        )
        .groupBy("source", "w")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("toks").cast("bigint").alias("n_tokens"),
        )
    )
    tot = per_src.agg(F.sum("w").alias("sw"))
    target = F.expr("1000000 * w div sw")
    return per_src.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_tokens",
        target.alias("target_tokens"),
        F.least(
            F.lit(1000000).cast("bigint"),
            F.expr("(1000000 * w div sw) * 1000000 div n_tokens"),
        ).alias("rate_ppm"),
        F.expr("(1000000 * w div sw) * 100 div n_tokens").alias("epochs_x100"),
    )


_BPE_MERGES = 5


def _bpe_sql(n_merges: int = _BPE_MERGES) -> str:
    parts = [f"""
    w0 AS (
      SELECT word, count(*) AS n,
             ' ' || array_to_string(string_split(word, ''), ' ') || ' ' AS seq
      FROM (SELECT unnest({SQL_TOKS}) AS word FROM documents)
      GROUP BY word
    )"""]
    sel = []
    for k in range(1, n_merges + 1):
        p = k - 1
        parts.append(f"""
    t{k} AS (
      SELECT n, list_filter(string_split(seq, ' '), x -> x != '') AS tk
      FROM w{p}
    ), pc{k} AS (
      SELECT b[1] AS l, b[2] AS r, sum(n) AS cnt FROM (
        SELECT n, unnest(list_transform(generate_series(1, (len(tk)) - 1), i -> [tk[i], tk[i + 1]])) AS b
        FROM t{k} WHERE len(tk) >= 2
      ) GROUP BY b[1], b[2]
    ), b{k} AS (
      SELECT l, r, cnt FROM pc{k} ORDER BY cnt DESC, l, r LIMIT 1
    ), w{k} AS (
      SELECT w.word, w.n,
             replace(w.seq, ' ' || b.l || ' ' || b.r || ' ',
                     ' ' || b.l || b.r || ' ') AS seq
      FROM w{p} w CROSS JOIN b{k} b
    )""")
        sel.append(
            f"SELECT {k} AS rank, l AS left_tok, r AS right_tok, "
            f"CAST(cnt AS BIGINT) AS cnt FROM b{k}"
        )
    merges_select = "\nUNION ALL\n".join(sel)
    return "WITH" + ",".join(parts) + "\n", merges_select


def _bpe_train_sql() -> str:
    chain, merges = _bpe_sql()
    return chain + merges


def _bpe_apply_sql() -> str:
    chain, _ = _bpe_sql()
    return chain + f"""
    SELECT tok, CAST(sum(n) AS BIGINT) AS cnt FROM (
      SELECT n, unnest(list_filter(string_split(seq, ' '), x -> x != '')) AS tok
      FROM w{_BPE_MERGES}
    ) GROUP BY tok ORDER BY cnt DESC, tok LIMIT 20
    """


@query("text_bpe_train", oracle=_bpe_train_sql())
def text_bpe_train(spark, sf_dir):
    """BPE merge training — the first 5 merge rules learned from the
    corpus: per level, count adjacent token pairs weighted by word
    frequency, take the most frequent pair (ties: lexicographic),
    fuse it everywhere, repeat. This turns the engine's 'BPE-ish'
    tokenizer seam into an actual trainer whose merge table is
    oracle-checked. ENTIRELY lazy dataflow — no driver loop: each
    level is a pair hash-agg (map-side combined, vocab-bounded), a
    1-row TakeOrdered argmax, and a broadcast-back string fuse;
    per-level word tables pin via plans.cache.pin (each feeds two
    consumers — unpinned, level k would recompute level k-1 twice).
    Sequences are space-joined with boundary padding, so a fuse can
    never match mid-token; application is both engines' identical
    leftmost-non-overlapping replace (immediately repeated pairs
    inside one word fuse one-per-round — deterministic on both
    sides). At 100 TB the state is the word-frequency table (vocab-,
    not corpus-sized) — the standard BPE-training working set."""
    merges, _ = _bpe_chain(spark, sf_dir)
    return merges


def _bpe_chain(spark, sf_dir):
    """Build the lazy 5-level merge chain; returns (merges, w_final) —
    the learned merge table and the fully-fused word table."""

    docs = io.fan_out(io.read_parquet(spark, f"{sf_dir}/documents.parquet").df)
    words = (
        docs.select(F.explode(X.tokens(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "word", "n",
            F.concat(
                F.lit(" "), F.concat_ws(" ", F.split(F.col("word"), "")), F.lit(" ")
            ).alias("seq"),
        )
    )
    w = pin(words)
    out = None
    for k in range(1, _BPE_MERGES + 1):
        tk = F.filter(F.split(F.col("seq"), " "), lambda x: x != "")
        pairs = (
            w.select("n", tk.alias("tk"))
            .filter(F.size("tk") >= 2)
            .select(
                "n",
                F.explode(
                    F.arrays_zip(
                        F.slice(F.col("tk"), 1, F.size("tk") - 1).alias("l"),
                        F.slice(F.col("tk"), 2, F.size("tk") - 1).alias("r"),
                    )
                ).alias("b"),
            )
            .groupBy(F.col("b.l").alias("l"), F.col("b.r").alias("r"))
            .agg(F.sum("n").alias("cnt"))
        )
        best = pin(pairs.orderBy(F.desc("cnt"), "l", "r").limit(1))
        out_k = best.select(
            F.lit(k).alias("rank"),
            F.col("l").alias("left_tok"),
            F.col("r").alias("right_tok"),
            "cnt",
        )
        out = out_k if out is None else out.unionByName(out_k)
        w = pin(
            w.crossJoin(F.broadcast(best)).select(
                "word",
                "n",
                F.replace(
                    F.col("seq"),
                    F.concat(F.lit(" "), F.col("l"), F.lit(" "), F.col("r"), F.lit(" ")),
                    F.concat(F.lit(" "), F.col("l"), F.col("r"), F.lit(" ")),
                ).alias("seq"),
            )
        )
    return out, w


@query("text_bpe_apply", oracle=_bpe_apply_sql())
def text_bpe_apply(spark, sf_dir):
    """BPE tokenization with the LEARNED merges — the apply half of
    text_bpe_train: the fully-fused word table (the trainer chain's
    final state) exploded back into subword tokens, weighted by word
    frequency, top-20 by occurrence. This is what the trained
    tokenizer's effective vocabulary looks like over its own training
    corpus — merged units rise, their constituent characters' counts
    fall. Same lazy chain as the trainer (shared builder), one extra
    explode + hash-agg + TakeOrdered(20)."""
    _, w = _bpe_chain(spark, sf_dir)
    toks = F.filter(F.split(F.col("seq"), " "), lambda x: x != "")
    return (
        w.select("n", F.explode(toks).alias("tok"))
        .groupBy("tok")
        .agg(F.sum("n").alias("cnt"))
        .orderBy(F.desc("cnt"), "tok")
        .limit(20)
    )


@query(
    "text_chunk_windows",
    oracle=f"""
    WITH w AS (SELECT doc_id, {SQL_TOKS} AS toks FROM documents),
    c AS (
      SELECT doc_id, i AS chunk_idx,
             least(32, len(toks) - i*24) AS n_toks,
             toks[i*24 + 1] AS head,
             toks[least(i*24 + 32, len(toks))] AS tail
      FROM w, unnest(generate_series(0, greatest((len(toks)-1)//24, 0))) AS t(i)
    )
    SELECT doc_id, chunk_idx, n_toks, head, tail FROM c
    """,
)
def text_chunk_windows(spark, sf_dir):
    """Context-window chunking with overlap — the pretraining prep
    step that cuts each document into model-context-sized pieces
    (window 32 tokens, stride 24, so consecutive chunks share 8
    tokens and no token is lost at a boundary): one row out per
    (doc, window) with its length and boundary tokens. Everything is
    narrow array HOFs (sequence -> slice per start offset) — the
    explode multiplies rows by ~len/stride but involves NO shuffle at
    all; whatever consumes the chunks (packing, tokenizer, dedup)
    decides the first exchange. Contrast with pack_sequences, which
    handles the cross-DOCUMENT grouping problem; this is the
    within-document split."""
    docs = io.fan_out(io.read_parquet(spark, f"{sf_dir}/documents.parquet").df)
    d = docs.select("doc_id", X.tokens(F.col("text")).alias("toks"))
    ex = d.select(
        "doc_id",
        "toks",
        F.posexplode(
            F.expr("sequence(0, greatest(cast((size(toks)-1) div 24 AS int), 0))")
        ).alias("chunk_idx", "start"),
    )
    return ex.select(
        "doc_id",
        F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
        F.least(F.lit(32), F.size("toks") - F.col("start") * 24)
        .cast("bigint")
        .alias("n_toks"),
        # F.get (0-based) — never raises: an EMPTY document yields index
        # 0/-1 here, where element_at errors under ANSI; DuckDB's
        # toks[0] / toks[beyond] return NULL, and get() matches that
        F.get("toks", F.col("start") * 24).alias("head"),
        F.get(
            "toks", F.least(F.col("start") * 24 + 32, F.size("toks")) - 1
        ).alias("tail"),
    )


@query(
    "text_sparse_cosine_pairs",
    oracle=f"""
    WITH d AS (SELECT doc_id, {SQL_TOKS} AS toks FROM documents WHERE doc_id % 7 = 0),
    tf AS (
      SELECT doc_id, t AS token, count(*)::BIGINT AS tf
      FROM (SELECT doc_id, unnest(toks) AS t FROM d) GROUP BY 1, 2
    ),
    norms AS (SELECT doc_id, sum(tf * tf) AS nsq FROM tf GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, sum(a.tf * b.tf) AS num
      FROM tf a JOIN tf b ON a.token = b.token AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, CAST(num AS BIGINT) AS num,
           floor(num / sqrt(na.nsq * nb.nsq) * 10000 + 0.5) / 10000 AS sim
    FROM pairs
    JOIN norms na ON pairs.doc_a = na.doc_id
    JOIN norms nb ON pairs.doc_b = nb.doc_id
    WHERE floor(num / sqrt(na.nsq * nb.nsq) * 10000 + 0.5) / 10000 >= 0.80
    """,
)
def text_sparse_cosine_pairs(spark, sf_dir):
    """All-pairs document cosine similarity over SPARSE term vectors
    via the inverted-index join — the scalable bag-of-words similarity
    pattern (term-at-a-time): tf vectors meet only on terms they
    share, so pair candidates cost Σ_t df(t)² instead of |D|² dense
    dot products. Plan: per-(doc, term) tf hash-agg; self-join of the
    term index on token (+ doc_a < doc_b to halve); pair-sum hash-agg;
    two slim joins to the per-doc norms; integer dot products, one
    IEEE sqrt + 1e-4 quantization at the very end (both engines
    correctly-round sqrt, so the threshold compare is stable). At
    scale the index join gets stop-term pruning (drop df > cap terms
    — exactly the LSH-vs-megabucket tradeoff documented for
    dedup_minhash_pairs); this 31-word synthetic vocabulary needs no
    cap, the sparsified corpus (doc_id % 7) keeps the quadratic
    pair-agg honest at any SF."""
    docs = io.fan_out(io.read_parquet(spark, f"{sf_dir}/documents.parquet").df)
    d = docs.filter(F.col("doc_id") % 7 == 0).select(
        "doc_id", X.tokens(F.col("text")).alias("toks")
    )
    tf = (
        d.select("doc_id", F.explode("toks").alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    norms = tf.groupBy("doc_id").agg(F.sum(F.col("tf") * F.col("tf")).alias("nsq"))
    a, b = tf.alias("a"), tf.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.token") == F.col("b.token"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.sum(F.col("a.tf") * F.col("b.tf")).alias("num"))
    )
    na = norms.select(F.col("doc_id").alias("doc_a"), F.col("nsq").alias("na"))
    nb = norms.select(F.col("doc_id").alias("doc_b"), F.col("nsq").alias("nb"))
    sim = F.floor(
        F.col("num") / F.sqrt(F.col("na") * F.col("nb")) * 10000 + F.lit(0.5)
    ) / 10000
    return (
        pairs.join(na, "doc_a")
        .join(nb, "doc_b")
        .select("doc_a", "doc_b", "num", sim.alias("sim"))
        .filter(F.col("sim") >= 0.80)
    )


@query(
    "text_winsorize_p90",
    oracle="""
    WITH vh AS (
      SELECT lang, n_chars AS v, count(*) AS cnt
      FROM documents WHERE n_chars IS NOT NULL GROUP BY 1, 2
    ),
    tot AS (SELECT lang, sum(cnt) AS n FROM vh GROUP BY lang),
    cum AS (
      SELECT lang, v,
             sum(cnt) OVER (PARTITION BY lang ORDER BY v
                            ROWS UNBOUNDED PRECEDING) AS cum
      FROM vh
    ),
    thr AS (
      SELECT c.lang, min(c.v) AS p90
      FROM cum c JOIN tot t ON c.lang = t.lang
      WHERE c.cum >= (t.n * 90 + 99) // 100
      GROUP BY c.lang
    )
    SELECT d.lang, thr.p90, count(*) AS n_docs,
           CAST(sum(d.n_chars) AS BIGINT) AS raw_sum,
           CAST(sum(least(d.n_chars, thr.p90)) AS BIGINT) AS winsorized_sum
    FROM documents d JOIN thr ON d.lang = thr.lang
    WHERE d.n_chars IS NOT NULL
    GROUP BY d.lang, thr.p90
    """,
)
def text_winsorize_p90(spark, sf_dir):
    """Per-language p90 winsorization of document lengths — the
    outlier-capping pass before length statistics feed sampling
    weights (one mega-document must not dominate a language's token
    budget). The p90 threshold comes from a per-(lang, value) VALUE
    HISTOGRAM: doc-length is a bounded small-int domain, so the
    histogram agg is ≤ |domain| rows per language and the ceil-rank
    cumsum window runs over that bounded relation — partitioned by
    lang, nothing proportional to corpus size (the discipline learned
    from text_vocab_coverage: windows only over domain-bounded
    post-agg tables). Pass 2 broadcasts the thresholds back and
    clamps in one agg. Exact integers end to end; ceil-rank
    (cum >= ceil(0.9 n)) matches percentile_disc semantics on both
    engines."""
    docs = io.fan_out(io.read_parquet(spark, f"{sf_dir}/documents.parquet").df)
    docs = docs.filter(F.col("n_chars").isNotNull())
    vh = docs.groupBy("lang", F.col("n_chars").alias("v")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    tot = vh.groupBy("lang").agg(F.sum("cnt").alias("n"))
    from pyspark.sql import Window

    w = (
        Window.partitionBy("lang")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = vh.select("lang", "v", F.sum("cnt").over(w).alias("cum"))
    thr = (
        cum.join(F.broadcast(tot), "lang")
        .filter(F.col("cum") >= F.expr("(n * 90 + 99) div 100"))
        .groupBy("lang")
        .agg(F.min("v").alias("p90"))
    )
    return (
        docs.join(F.broadcast(thr), "lang")
        .groupBy("lang", "p90")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("raw_sum"),
            F.sum(F.least(F.col("n_chars"), F.col("p90"))).alias("winsorized_sum"),
        )
    )


@query(
    "text_bigram_score",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {SQL_TOKS} AS toks FROM documents
    ), bg AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, (len(toks)) - 1), i -> [toks[i], toks[i + 1]])) AS b
      FROM t WHERE len(toks) >= 2
    ), db AS (
      SELECT doc_id, b[1] AS w1, b[2] AS w2, count(*) AS m
      FROM bg GROUP BY 1, 2, 3
    ), cnts AS (
      SELECT w1, w2, sum(m) AS cnt FROM db GROUP BY w1, w2
    ), tot AS (
      SELECT w1, sum(cnt) AS n_w1 FROM cnts GROUP BY w1
    ), model AS (
      SELECT c.w1, c.w2,
             CAST(c.cnt::HUGEINT * 1000000 // t.n_w1 AS BIGINT) AS cond_ppm
      FROM cnts c JOIN tot t ON c.w1 = t.w1
    )
    SELECT db.doc_id, CAST(sum(db.m) AS BIGINT) AS n_bigrams,
           CAST(sum(db.m * model.cond_ppm) // sum(db.m) AS BIGINT) AS avg_ppm
    FROM db JOIN model ON db.w1 = model.w1 AND db.w2 = model.w2
    GROUP BY db.doc_id
    """,
)
def text_bigram_score(spark, sf_dir):
    """LM-based document quality scoring (the CCNet/perplexity-filter
    shape with rational arithmetic): every document is scored by the
    average corpus-model conditional probability of its own bigram
    transitions — fluent-looking documents score high, shuffled or
    off-distribution ones low; the score drives keep/drop or
    mixture-bucket decisions. All integer: model conditionals in
    exact ppm (cnt*10^6 div marginal), per-doc average as a rational
    of two sums. Plan: per-(doc, bigram) multiplicities FIRST (one
    hash-agg; shrinks the scoring join to distinct transitions per
    doc), corpus model derived FROM those partials (bigram + marginal
    hash-aggs — the raw corpus is never re-scanned), and the model is
    vocabulary-bounded (≤|V|² rows) so the scoring join broadcasts —
    at 100 TB the per-doc table is huge but the model side stays
    megabytes, exactly like tf-idf's broadcast corpus stats. A real
    perplexity filter swaps cond_ppm for a KenLM log-prob UDF (the
    documented external-model seam, as multimodal.decode); dataflow
    unchanged."""
    docs = io.fan_out(io.read_parquet(spark, f"{sf_dir}/documents.parquet").df)
    toks = X.tokens(F.col("text"))
    n = F.size(toks)
    pairs = docs.select(
        "doc_id", toks.alias("tk"), n.alias("n")
    ).filter(F.col("n") >= 2)
    bg = pairs.select(
        "doc_id",
        F.explode(
            F.arrays_zip(
                F.slice(F.col("tk"), 1, F.col("n") - 1).alias("w1"),
                F.slice(F.col("tk"), 2, F.col("n") - 1).alias("w2"),
            )
        ).alias("b"),
    ).select("doc_id", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
    db = bg.groupBy("doc_id", "w1", "w2").agg(F.count(F.lit(1)).alias("m"))
    cnts = db.groupBy("w1", "w2").agg(F.sum("m").alias("cnt"))
    tot = cnts.groupBy("w1").agg(F.sum("cnt").alias("n_w1"))
    model = cnts.join(tot, "w1").select(
        "w1", "w2",
        F.expr(
            "CAST(CAST(cnt AS DECIMAL(38,0)) * 1000000 div n_w1 AS BIGINT)"
        ).alias("cond_ppm"),
    )
    return (
        db.join(F.broadcast(model), ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.sum("m").alias("n_bigrams"),
            F.expr("sum(m * cond_ppm) div sum(m)").alias("avg_ppm"),
        )
    )


_SCAN_KEYWORDS = ("error", "merge", "window", "spark")


@query(
    "text_keyword_scan",
    oracle=f"""
    WITH kw AS (SELECT unnest(['error', 'merge', 'window', 'spark']) AS keyword),
    hits AS (
      SELECT d.lang, kw.keyword,
             (length(d.text) - length(replace(d.text, kw.keyword, '')))
               // length(kw.keyword) AS occ
      FROM documents d CROSS JOIN kw
    )
    SELECT lang, keyword,
           CAST(sum(occ) AS BIGINT) AS n_occurrences,
           count(*) FILTER (occ > 0) AS n_docs_hit
    FROM hits GROUP BY lang, keyword
    """,
)
def text_keyword_scan(spark, sf_dir):
    """Corpus keyword scan — the policy/abuse-term audit every corpus
    release runs (blocklist hits per language before filtering):
    occurrence counts via pure length arithmetic
    ((len - len(replace))/len(kw), exact integers — no regex engine
    differences to reconcile), patterns applied as a BROADCAST
    pattern table cross-joined into the scan (adding a pattern never
    re-reads the corpus — one pass for the whole blocklist), then
    one (lang, keyword) hash-agg with map-side partials. At 100 TB
    this is the map-only scan it should be; for thousand-term lists
    the same plan swaps the cross join for an Aho-Corasick
    mapInPandas seam (documented, like the KenLM/decoder seams)."""
    docs = io.fan_out(io.read_parquet(spark, f"{sf_dir}/documents.parquet").df)
    # literal pattern array, not createDataFrame: stays 100% JVM-side
    # (a Python-RDD source would drag py4j into an otherwise codegen'd
    # scan) and the explode of a 4-element literal is free per row
    kw = F.explode(F.array(*[F.lit(k) for k in _SCAN_KEYWORDS])).alias("keyword")
    hits = docs.select("lang", "text", kw).select(
        "lang", "keyword",
        F.expr(
            "(length(text) - length(replace(text, keyword, '')))"
            " div length(keyword)"
        ).alias("occ"),
    )
    return hits.groupBy("lang", "keyword").agg(
        F.sum("occ").cast("bigint").alias("n_occurrences"),
        F.count(F.when(F.col("occ") > 0, 1)).alias("n_docs_hit"),
    )


@query(
    "text_clean_normalize",
    oracle=r"""
    SELECT doc_id,
           trim(regexp_replace(regexp_replace(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'),
                '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'), ' ') AS clean,
           length(trim(regexp_replace(regexp_replace(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'),
                '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'), ' ')) AS n_clean_chars,
           length(text) - length(replace(replace(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), 'a', ''),
                                         'e', '')) AS n_ae
    FROM documents WHERE doc_id % 11 = 0
    """,
)
def text_clean_normalize(spark, sf_dir):
    """Text normalization/cleaning — the first pass of every corpus
    pipeline: lowercase, strip non-alphanumerics to spaces, collapse
    whitespace runs, trim; plus a letter-frequency probe via exact
    length arithmetic. Pure Column regexps (identical character-class
    semantics in Java regex and RE2 for these patterns — classes with
    shorthand escapes like \\s are where the engines diverge, so the
    patterns here stay explicit), map-only, no shuffle. Unicode NFC/
    NFKC folding is the documented external seam (ICU via a pandas
    UDF — Spark has no built-in normalizer), same pattern as the
    KenLM/decoder seams; the dataflow is unchanged when it lands."""
    docs = io.fan_out(io.read_parquet(spark, f"{sf_dir}/documents.parquet").df)
    clean = F.trim(
        F.regexp_replace(
            F.regexp_replace(ascii_lower(F.col("text")), "[^a-z0-9 ]", " "),
            " +", " ",
        )
    )
    n_ae = F.length("text") - F.length(
        F.replace(F.replace(ascii_lower(F.col("text")), F.lit("a"), F.lit("")),
                  F.lit("e"), F.lit(""))
    )
    return docs.filter(F.col("doc_id") % 11 == 0).select(
        "doc_id",
        clean.alias("clean"),
        F.length(clean).cast("bigint").alias("n_clean_chars"),
        n_ae.cast("bigint").alias("n_ae"),
    )


@query(
    "text_ngram_novelty",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, {SQL_TOKS} AS toks FROM documents WHERE doc_id % 5 = 0
    ),
    sh AS (
      SELECT DISTINCT doc_id,
             toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS g
      FROM w, unnest(range(1, len(toks) - 1)) AS t(i)
      WHERE len(toks) >= 3
    ),
    dfreq AS (SELECT g, count(*) AS df FROM sh GROUP BY g)
    SELECT sh.doc_id,
           count(*) AS n_grams,
           count(*) FILTER (dfreq.df = 1) AS n_unique,
           count(*) FILTER (dfreq.df = 1) * 1000000 // count(*) AS novelty_ppm
    FROM sh JOIN dfreq ON sh.g = dfreq.g
    GROUP BY sh.doc_id
    """,
)
def text_ngram_novelty(spark, sf_dir):
    """Document novelty scoring: the fraction of a document's distinct
    word trigrams that appear NOWHERE else in the corpus (df = 1), in
    exact ppm — high novelty marks fresh content, low novelty marks
    boilerplate/templated text; the diversity signal data-mixing and
    memorization-risk audits use next to dedup. Plan: distinct
    (doc, trigram) pairs (narrow HOF construction + one distinct
    shuffle), trigram document-frequency hash-agg, then ONE join of
    the pair table to the df table on the trigram key and a per-doc
    conditional agg — candidate volume is linear in corpus trigrams,
    never pairwise (contrast dedup_ngram_jaccard, which needs
    pair-level evidence and pays for banding). Corpus sparsified
    (doc_id %% 5) so df=1 trigrams exist at every SF against the
    31-word synthetic vocabulary."""
    docs = io.fan_out(io.read_parquet(spark, f"{sf_dir}/documents.parquet").df)
    w = docs.filter(F.col("doc_id") % 5 == 0).select(
        "doc_id", X.tokens(F.col("text")).alias("toks")
    ).filter(F.size("toks") >= 3)
    sh = w.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(toks) - 2),"
                " i -> concat(toks[i-1], ' ', toks[i], ' ', toks[i+1]))"
            )
        ).alias("g"),
    ).distinct()
    dfreq = sh.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
    return (
        sh.join(dfreq, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count(F.when(F.col("df") == 1, 1)).alias("n_unique"),
            F.expr(
                "count(CASE WHEN df = 1 THEN 1 END) * 1000000 div count(1)"
            ).alias("novelty_ppm"),
        )
    )


@query(
    "text_lang_confusion",
    oracle=f"""
    SELECT lang AS true_lang, {_lang_expr()} AS guessed,
           count(*) AS n
    FROM documents GROUP BY 1, 2
    """,
)
def text_lang_confusion(spark, sf_dir):
    """Language-ID confusion matrix — the QA query behind any
    classifier in the pipeline (how often does the stopword heuristic
    confuse es with fr?): documents grouped by (labeled lang, guessed
    lang). One hash-agg over the narrow classification pass; the
    matrix is |langs|²-bounded forever. The classifier is the SAME
    cascade text_lang_id ships (llm/text.lang_id), so this query also
    regression-pins its decision boundary — a silent cascade change
    shows up as moved matrix mass, not just different per-doc rows."""
    docs = io.fan_out(io.read_parquet(spark, f"{sf_dir}/documents.parquet").df)
    return docs.groupBy(
        F.col("lang").alias("true_lang"),
        X.lang_id(F.col("text")).alias("guessed"),
    ).agg(F.count(F.lit(1)).alias("n"))


@query(
    "text_rouge1_recall",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, doc_id // 2 AS pair_id, doc_id % 2 AS side,
             list_distinct({SQL_TOKS}) AS toks
      FROM documents WHERE doc_id < 200
    ),
    ref AS (SELECT pair_id, unnest(toks) AS tok FROM t WHERE side = 0),
    cand AS (SELECT pair_id, unnest(toks) AS tok FROM t WHERE side = 1),
    ov AS (
      SELECT r.pair_id, count(*) AS n_overlap
      FROM ref r JOIN cand c ON r.pair_id = c.pair_id AND r.tok = c.tok
      GROUP BY r.pair_id
    ),
    rn AS (SELECT pair_id, count(*) AS n_ref FROM ref GROUP BY pair_id)
    SELECT rn.pair_id, rn.n_ref, coalesce(ov.n_overlap, 0) AS n_overlap,
           coalesce(ov.n_overlap, 0) * 1000000 // rn.n_ref AS rouge1_ppm
    FROM rn LEFT JOIN ov ON rn.pair_id = ov.pair_id
    """,
)
def text_rouge1_recall(spark, sf_dir):
    """ROUGE-1 recall at corpus scale — the summarization/generation
    eval that scores each candidate against its reference by distinct
    unigram overlap (|cand ∩ ref| / |ref|, exact ppm): adjacent doc
    pairs (2k = reference, 2k+1 = candidate) stand in for the
    (reference, generation) pairs an eval run produces. Plan: one
    narrow distinct-unigram pass, an equi-join on (pair, token) —
    overlap WITHOUT materializing token sets per pair in one row —
    and two bounded aggs; candidates with zero overlap survive via
    the LEFT join (an inner join would silently drop the worst
    generations — the eval-pipeline bug this query's shape guards
    against). ROUGE-2 is the same plan over the bigram arrays
    (text_bigram_lm's zip construction)."""
    docs = io.fan_out(io.read_parquet(spark, f"{sf_dir}/documents.parquet").df)
    t = docs.filter(F.col("doc_id") < 200).select(
        F.expr("doc_id div 2").alias("pair_id"),
        (F.col("doc_id") % 2).alias("side"),
        F.array_distinct(X.tokens(F.col("text"))).alias("toks"),
    )
    ref = t.filter(F.col("side") == 0).select(
        "pair_id", F.explode("toks").alias("tok")
    )
    cand = t.filter(F.col("side") == 1).select(
        F.col("pair_id").alias("c_pair"), F.explode("toks").alias("c_tok")
    )
    ov = (
        ref.join(
            cand,
            (F.col("pair_id") == F.col("c_pair")) & (F.col("tok") == F.col("c_tok")),
        )
        .groupBy("pair_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    rn = ref.groupBy("pair_id").agg(F.count(F.lit(1)).alias("n_ref"))
    return rn.join(ov, "pair_id", "left").select(
        "pair_id", "n_ref",
        F.coalesce("n_overlap", F.lit(0)).alias("n_overlap"),
        F.expr(
            "coalesce(n_overlap, 0) * 1000000 div n_ref"
        ).alias("rouge1_ppm"),
    )


@query(
    "text_dsir_importance",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang, {SQL_TOKS} AS toks FROM documents
    ),
    bg AS (
      SELECT doc_id, lang,
             {sql_md5_long("b[1] || ' ' || b[2]")} % 64 AS bucket
      FROM (
        SELECT doc_id, lang,
               unnest(list_transform(generate_series(1, (len(toks)) - 1), i -> [toks[i], toks[i + 1]]))
                 AS b
        FROM t WHERE len(toks) >= 2
      )
    ),
    raw AS (
      SELECT bucket, count(*) AS c FROM bg GROUP BY bucket
    ),
    tgt AS (
      SELECT bucket, count(*) AS c FROM bg WHERE lang = 'en' GROUP BY bucket
    ),
    tot AS (
      SELECT (SELECT sum(c) FROM raw) AS tr, (SELECT sum(c) FROM tgt) AS tt
    ),
    rates AS (
      SELECT r.bucket,
             CAST(coalesce(g.c, 0)::HUGEINT * 1000000 // tot.tt AS BIGINT)
               - CAST(r.c::HUGEINT * 1000000 // tot.tr AS BIGINT) AS dppm
      FROM raw r LEFT JOIN tgt g ON r.bucket = g.bucket, tot
    ),
    per_doc AS (
      SELECT bg.doc_id, bg.bucket, count(*) AS m FROM bg GROUP BY 1, 2
    )
    SELECT p.doc_id,
           CAST(sum(p.m) AS BIGINT) AS n_features,
           CAST(sum(p.m * r.dppm) AS BIGINT) AS weight
    FROM per_doc p JOIN rates r ON p.bucket = r.bucket
    WHERE p.doc_id % 3 = 0
    GROUP BY p.doc_id
    """,
)
def text_dsir_importance(spark, sf_dir):
    """DSIR-style importance weighting (Xie et al. 2023, linearized):
    documents are scored by how much their HASHED-BIGRAM feature mass
    sits in buckets over-represented in the TARGET distribution
    (lang='en' here stands in for 'looks like Wikipedia') vs the raw
    corpus — the data-selection weights that bias pretraining
    sampling toward target-like text. The paper's log-likelihood
    ratio is linearized to Σ m_b·(p_target − p_raw) in exact ppm
    (log is not bit-portable across libms; the ORDERING of documents
    — all selection uses — is preserved for the dominant terms and
    every quantity stays an exact integer). Plan: one bigram-hash
    pass; the two 64-bucket distributions are broadcast-sized
    forever; per-doc scoring is one hash-agg + a broadcast join —
    corpus-linear, the paper's own scalability argument."""
    docs = io.fan_out(io.read_parquet(spark, f"{sf_dir}/documents.parquet").df)
    toks = X.tokens(F.col("text"))
    n = F.size(toks)
    pairs = docs.select(
        "doc_id", "lang", toks.alias("tk"), n.alias("n")
    ).filter(F.col("n") >= 2)
    # the bucketed-bigram bag feeds the raw distribution, the target
    # distribution, and the per-doc scoring — PINNED per the
    # used-more-than-once policy (three narrow columns, one
    # tokenize+hash pass instead of the five this plan compiled
    # unpinned)
    bg = pin(pairs.select(
        "doc_id", "lang",
        F.explode(
            F.arrays_zip(
                F.slice(F.col("tk"), 1, F.col("n") - 1).alias("w1"),
                F.slice(F.col("tk"), 2, F.col("n") - 1).alias("w2"),
            )
        ).alias("b"),
    ).select(
        "doc_id", "lang",
        (X.md5_long(F.concat_ws(" ", F.col("b.w1"), F.col("b.w2"))) % 64).alias(
            "bucket"
        ),
    ))
    raw = bg.groupBy("bucket").agg(F.count(F.lit(1)).alias("cr"))
    tgt = bg.filter(F.col("lang") == "en").groupBy("bucket").agg(
        F.count(F.lit(1)).alias("ct")
    )
    tot = raw.agg(F.sum("cr").alias("tr")).crossJoin(
        tgt.agg(F.sum("ct").alias("tt"))
    )
    rates = (
        raw.join(tgt, "bucket", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            (
                F.expr(
                    "CAST(CAST(coalesce(ct, 0) AS DECIMAL(38,0)) * 1000000"
                    " div tt AS BIGINT)"
                )
                - F.expr("CAST(CAST(cr AS DECIMAL(38,0)) * 1000000 div tr AS BIGINT)")
            ).alias("dppm"),
        )
    )
    per_doc = (
        bg.filter(F.col("doc_id") % 3 == 0)
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).alias("m"))
    )
    return (
        per_doc.join(F.broadcast(rates), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("m").cast("bigint").alias("n_features"),
            F.sum(F.col("m") * F.col("dppm")).cast("bigint").alias("weight"),
        )
    )


@query(
    "text_domain_cap_sketch",
    oracle="""
    WITH pc AS (SELECT source, n_chars AS c FROM documents
                WHERE n_chars IS NOT NULL),
    mm AS (
      SELECT source, min(c) AS lo, max(c) AS hi, count(*) AS n
      FROM pc GROUP BY source
    ),
    binned AS (
      SELECT pc.source, (pc.c - mm.lo) * 32 // (mm.hi - mm.lo + 1) AS bin,
             count(*) AS cnt
      FROM pc JOIN mm ON pc.source = mm.source GROUP BY 1, 2
    ),
    cum AS (
      SELECT source, bin,
             sum(cnt) OVER (PARTITION BY source ORDER BY bin
                            ROWS UNBOUNDED PRECEDING) AS cum
      FROM binned
    ),
    thr AS (
      SELECT c.source,
             mm.lo + ((min(c.bin) + 1) * (mm.hi - mm.lo + 1)) // 32 AS cutoff
      FROM cum c JOIN mm ON c.source = mm.source
      WHERE c.cum >= (mm.n * 75 + 99) // 100
      GROUP BY c.source, mm.lo, mm.hi
    )
    SELECT d.source, t.cutoff, count(*) AS n_total,
           count(*) FILTER (d.n_chars >= t.cutoff) AS n_kept
    FROM documents d JOIN thr t ON d.source = t.source
    WHERE d.n_chars IS NOT NULL
    GROUP BY d.source, t.cutoff
    """,
)
def text_domain_cap_sketch(spark, sf_dir):
    """SKETCH-ASSISTED per-domain capping — the scale answer to
    'keep only each domain's best documents': the naive top-k-per-
    domain is a rank window over every domain's full document list
    (a per-domain sort whose partitions are corpus-sized for giant
    domains); instead, each domain's p75 quality cutoff is read off
    the per-group BINNED histogram (sketch_quantile_bins_grouped
    arithmetic — ≤32 cells per domain, nothing proportional to
    domain size), broadcast back, and the cap becomes a stateless
    FILTER. Quality = n_chars here; swap any integer quality score
    (text_bigram_score, token counts) without changing the plan.
    The sketch-as-planning-primitive composition: estimate the
    threshold cheap, apply it as a scan predicate — constant memory,
    no sort, domains processed independently."""
    from pyspark.sql import Window

    docs = io.fan_out(io.read_parquet(spark, f"{sf_dir}/documents.parquet").df)
    # a doc with unknown length can't be quality-capped; a NULL would
    # also order differently in the two engines' cum windows (fuzz)
    docs = docs.filter(F.col("n_chars").isNotNull())
    pc = docs.select("source", F.col("n_chars").alias("c"))
    mm = pc.groupBy("source").agg(
        F.min("c").alias("lo"), F.max("c").alias("hi"), F.count("c").alias("n")
    )
    binned = (
        pc.join(F.broadcast(mm), "source")
        .groupBy(
            "source", "lo", "hi", "n",
            F.expr("CAST((c - lo) * 32 div (hi - lo + 1) AS INT)").alias("bin"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = (
        Window.partitionBy("source")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = binned.withColumn("cum", F.sum("cnt").over(w))
    thr = (
        cum.filter(F.col("cum") >= F.expr("(n * 75 + 99) div 100"))
        .groupBy("source", "lo", "hi")
        .agg(F.min("bin").alias("bin"))
        .select(
            "source",
            F.expr("lo + ((bin + 1) * (hi - lo + 1)) div 32").alias("cutoff"),
        )
    )
    return (
        docs.join(F.broadcast(thr), "source")
        .groupBy("source", "cutoff")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.count(F.when(F.col("n_chars") >= F.col("cutoff"), 1)).alias(
                "n_kept"
            ),
        )
    )


@query(
    "text_epoch_shuffle_plan",
    oracle=f"""
    WITH assign AS (
      SELECT t.epoch, d.doc_id,
             {sql_md5_long("'ep' || CAST(t.epoch AS VARCHAR) || '|' || CAST(d.doc_id AS VARCHAR)")}
               % 8 AS batch,
             len({SQL_TOKS}) AS n_toks
      FROM documents d, unnest([0, 1]) AS t(epoch)
    )
    SELECT epoch, batch, count(*) AS n_docs,
           CAST(sum(n_toks) AS BIGINT) AS n_tokens,
           min(doc_id) AS first_doc
    FROM assign GROUP BY epoch, batch
    """,
)
def text_epoch_shuffle_plan(spark, sf_dir):
    """Reproducible epoch shuffling — the dataloader-order plan
    deterministic pretraining needs (resume a crashed run at epoch 3,
    batch 1041, and see the SAME documents): each (epoch, doc) hashes
    to a batch bucket via md5, so the order varies BETWEEN epochs
    (the training-dynamics requirement) while every epoch's
    assignment replays exactly (the reproducibility requirement) —
    RNG shuffles give you one or the other. Per-epoch-batch manifest
    (doc count, token budget, first doc) in one hash-agg; the
    token-exact packing WITHIN a batch is pack_sequences, and
    contiguous storage layout is multimodal_shard_plan — this query
    is the ordering layer above both."""
    docs = io.fan_out(io.read_parquet(spark, f"{sf_dir}/documents.parquet").df)
    assign = docs.select(
        "doc_id",
        F.size(X.tokens(F.col("text"))).cast("bigint").alias("n_toks"),
        F.explode(F.array(F.lit(0), F.lit(1))).alias("epoch"),
    ).select(
        "epoch", "doc_id", "n_toks",
        (
            X.md5_long(
                F.concat(
                    F.lit("ep"), F.col("epoch").cast("string"),
                    F.lit("|"), F.col("doc_id").cast("string"),
                )
            )
            % 8
        ).alias("batch"),
    )
    return assign.groupBy("epoch", "batch").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_toks").cast("bigint").alias("n_tokens"),
        F.min("doc_id").alias("first_doc"),
    )


_BF_DECON_M, _BF_DECON_K = 4096, 3


def _bf_decon_pos(j_expr: str, key_expr: str) -> str:
    return (
        f"CAST(concat('0x', substr(md5(concat('bf', '|', {key_expr})), "
        f"1 + 10 * ({j_expr}), 10)) AS BIGINT) % {_BF_DECON_M}"
    )


@query(
    "text_decontaminate_bloom",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source, {SQL_TOKS} AS tk FROM documents
    ),
    grams AS (
      SELECT doc_id, source,
             unnest(list_transform(generate_series(1, (len(tk) - 1) - 1), i -> array_to_string(tk[i:i+2], ' '))) AS g
      FROM toks WHERE len(tk) >= 3
    ),
    js AS (SELECT unnest([0, 1, 2]) AS j),
    bloom AS (
      SELECT DISTINCT {_bf_decon_pos("j.j", "g")} AS pos
      FROM grams, js j WHERE source = 'src0'
    ),
    train AS (SELECT DISTINCT doc_id, g FROM grams WHERE source != 'src0'),
    probe AS (
      SELECT t.doc_id, t.g, count(b.pos) AS nhit
      FROM train t CROSS JOIN js j
      LEFT JOIN bloom b ON b.pos = {_bf_decon_pos("j.j", "t.g")}
      GROUP BY t.doc_id, t.g
    )
    SELECT doc_id, count(*) AS n_grams,
           count(*) FILTER (nhit = {_BF_DECON_K}) AS n_maybe_contaminated,
           count(*) FILTER (nhit = {_BF_DECON_K}) * 4
             >= count(*) AS flagged
    FROM probe GROUP BY doc_id
    """,
)
def text_decontaminate_bloom(spark, sf_dir):
    """Benchmark decontamination via a BLOOM FILTER of eval trigrams —
    the memory-scaled variant of text_decontaminate's exact broadcast
    set: at 100 TB the eval suite's distinct n-grams can outgrow a
    comfortable broadcast, but their Bloom position table is m rows
    (here 4096) REGARDLESS of eval size, with strictly one-sided
    error — no false negatives (contamination never slips through;
    the Bloom guarantee that matters here), a tunable false-positive
    rate that only over-flags (cheap to verify exactly afterwards on
    the tiny flagged subset — candidate→verify, the LSH discipline).
    The filter is the portable md5-position bloom (llm/sketches —
    relational, broadcastable, SQL-replayable), so the oracle replays
    membership bit-for-bit. Flag rule: >=25% of a doc's distinct
    word trigrams maybe-present in the eval set."""
    from ..llm import sketches as SK

    docs = io.fan_out(io.read_parquet(spark, f"{sf_dir}/documents.parquet").df)
    toks = docs.select("doc_id", "source", X.tokens(F.col("text")).alias("tk"))
    grams = toks.filter(F.size("tk") >= 3).select(
        "doc_id", "source",
        F.explode(
            F.expr(
                "transform(sequence(1, size(tk) - 2),"
                " i -> concat_ws(' ', slice(tk, i, 3)))"
            )
        ).alias("g"),
    )
    bloom = SK.bloom_build(
        grams.filter(F.col("source") == "src0").select("g"),
        "g", m=_BF_DECON_M, k=_BF_DECON_K,
    )
    train = (
        grams.filter(F.col("source") != "src0").select("doc_id", "g").distinct()
    )
    # per-(doc, gram) probe: bloom_contains groups by the key alone, so
    # inline the same position join keeping the doc association
    hexh = F.md5(F.encode(F.concat(F.lit("bf"), F.lit("|"), F.col("g")), "utf-8"))
    pos = [
        (
            F.conv(F.substring(hexh, 1 + 10 * j, 10), 16, 10).cast("bigint")
            % _BF_DECON_M
        ).alias("pos")
        for j in range(_BF_DECON_K)
    ]
    exploded = train.select(
        "doc_id", "g", F.explode(F.array(*pos)).alias("pos")
    )
    probed = (
        exploded.join(
            F.broadcast(bloom.withColumn("__set", F.lit(1))), ["pos"], "left"
        )
        .groupBy("doc_id", "g")
        .agg((F.count("__set") == _BF_DECON_K).alias("maybe_present"))
    )
    return probed.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.count(F.when(F.col("maybe_present"), 1)).alias(
            "n_maybe_contaminated"
        ),
        (
            F.count(F.when(F.col("maybe_present"), 1)) * 4
            >= F.count(F.lit(1))
        ).alias("flagged"),
    )


@query(
    "text_char_diversity",
    oracle="""
    WITH d AS (SELECT doc_id, translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz') AS t FROM documents),
    x AS (
      SELECT doc_id, t,
             list_filter(list_distinct(string_split(t, '')), c -> c != '')
               AS dc
      FROM d
    )
    SELECT doc_id,
           length(t)::BIGINT AS n_chars,
           len(dc)::BIGINT AS n_distinct,
           CASE WHEN length(t) = 0 THEN 0
                ELSE CAST(
                  ((length(t)::HUGEINT * length(t)
                    - coalesce(list_sum(list_transform(dc,
                        c -> (length(t) - length(replace(t, c, '')))::HUGEINT
                           * (length(t) - length(replace(t, c, ''))))), 0))
                   * 1000000) // (length(t)::HUGEINT * length(t)) AS BIGINT)
           END AS simpson_ppm
    FROM x
    """,
)
def text_char_diversity(spark, sf_dir):
    """Character-diversity quality signal: Simpson/Gini diversity
    1 - Sigma p_c^2 (the probability two random characters differ) in
    exact parts-per-million — the LOG-FREE alternative to character
    entropy. Gibberish and mass-repeated boilerplate (''''''' , aaaa,
    template spam) score near 0 diversity; natural text sits high —
    same filtering power as the entropy heuristic without a single
    transcendental: ``log`` is NOT required correctly-rounded by IEEE
    754, so cross-engine entropy can differ in the last ulp and flip
    a quantized hash, while this is integer arithmetic end to end
    (HUGEINT/DECIMAL products before the integral divide, the repo's
    overflow rule). Plan: pure per-row array HOFs — distinct-char set
    (bounded by the alphabet), per-char counts via length(replace())
    subtraction (no char-row explode), squared-sum fold — a NARROW
    map with zero shuffles, the shape you want for a 100 TB quality
    gate applied before anything wide."""
    docs = io.fan_out(io.read_parquet(spark, f"{sf_dir}/documents.parquet").df)
    t = ascii_lower(F.col("text"))
    d = docs.select("doc_id", t.alias("t")).withColumn(
        "dc", F.filter(F.array_distinct(F.split(F.col("t"), "")), lambda c: c != "")
    )
    ln = F.length("t").cast("decimal(38,0)")
    cnt = lambda c: (F.length("t") - F.length(F.replace(F.col("t"), c))).cast("decimal(38,0)")
    sumsq = F.aggregate(
        F.transform(F.col("dc"), lambda c: cnt(c) * cnt(c)),
        F.lit(0).cast("decimal(38,0)"),
        lambda acc, x: acc + x,
    )
    simpson = F.expr(
        "CAST(((CAST(length(t) AS DECIMAL(38,0)) * length(t) - __sumsq) * 1000000)"
        " div (CAST(length(t) AS DECIMAL(38,0)) * length(t)) AS BIGINT)"
    )
    return (
        d.withColumn("__sumsq", sumsq)
        .select(
            "doc_id",
            F.length("t").cast("bigint").alias("n_chars"),
            F.size("dc").cast("bigint").alias("n_distinct"),
            F.when(F.length("t") == 0, F.lit(0).cast("bigint"))
            .otherwise(simpson)
            .alias("simpson_ppm"),
        )
    )


@query(
    "text_pii_scrub",
    oracle=r"""
    WITH staged AS (
      SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@example.com or call 555-0' || CAST(doc_id % 10000 AS VARCHAR)
               AS t
      FROM documents WHERE doc_id % 4 = 0
    )
    SELECT doc_id,
           len(regexp_extract_all(t,
               '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}'))::BIGINT
             AS n_emails,
           len(regexp_extract_all(t, '555-[0-9]{1,5}'))::BIGINT AS n_phones,
           length(regexp_replace(regexp_replace(t,
               '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
               '555-[0-9]{1,5}', '<PHONE>', 'g'))::BIGINT AS scrubbed_len
    FROM staged
    """,
)
def text_pii_scrub(spark, sf_dir):
    """PII redaction — the regex scrub every shared training corpus
    runs before release (emails, phone patterns -> typed placeholder
    tokens), with per-document match counts for the removal audit
    table. The corpus is synthetic, so the PII is STAGED
    deterministically from doc_id (both engines stage the identical
    string) — the op under test is the scrub itself: JVM-side
    ``regexp_extract_all``/``regexp_replace`` Column exprs (zero
    Python, zero shuffle, fully codegen'd narrow map — at 100 TB this
    runs at scan speed before anything wide). The regex subset used
    (character classes, +, {m,n} bounds) parses identically in Java
    and RE2/DuckDB. Real deployments extend PATTERNS with locale
    rules (SSN, IBAN, street addresses) — same plan shape, more
    alternation."""
    docs = io.fan_out(io.read_parquet(spark, f"{sf_dir}/documents.parquet").df)
    email = r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"
    phone = r"555-[0-9]{1,5}"
    staged = docs.filter(F.col("doc_id") % 4 == 0).select(
        "doc_id",
        F.concat(
            F.col("text"), F.lit(" contact user"), F.col("doc_id").cast("string"),
            F.lit("@example.com or call 555-0"),
            (F.col("doc_id") % 10000).cast("string"),
        ).alias("t"),
    )
    scrubbed = F.regexp_replace(
        F.regexp_replace(F.col("t"), email, "<EMAIL>"), phone, "<PHONE>"
    )
    return staged.select(
        "doc_id",
        F.size(F.regexp_extract_all(F.col("t"), F.lit(email), F.lit(0)))
          .cast("bigint").alias("n_emails"),
        F.size(F.regexp_extract_all(F.col("t"), F.lit(phone), F.lit(0)))
          .cast("bigint").alias("n_phones"),
        F.length(scrubbed).cast("bigint").alias("scrubbed_len"),
    )


@query(
    "pipeline_dpo_pairs",
    oracle="""
    WITH sc AS (
      SELECT doc_id,
             length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))::HUGEINT
               AS score,
             doc_id // 2 AS pair_id
      FROM documents
    ),
    p AS (
      SELECT pair_id,
             sum(doc_id)::HUGEINT AS sid, sum(score) AS ssc,
             max(score * 1000000000000
                 + (1000000000000 - 1 - doc_id)) AS mx
      FROM sc GROUP BY pair_id HAVING count(*) = 2
    )
    SELECT CAST(pair_id AS BIGINT) AS pair_id,
           CAST(999999999999 - (mx % 1000000000000) AS BIGINT) AS chosen_id,
           CAST(sid - (999999999999 - (mx % 1000000000000)) AS BIGINT)
             AS rejected_id,
           CAST((mx // 1000000000000) * 2 - ssc AS BIGINT) AS gap
    FROM p
    WHERE (mx // 1000000000000) * 2 - ssc >= 20
    """,
)
def pipeline_dpo_pairs(spark, sf_dir):
    """Preference-pair (DPO/RLHF reward-data) preparation: adjacent
    documents (pair_id = doc_id div 2) become a (chosen, rejected)
    pair by quality score — here alpha-character count, the stand-in
    for a reward-model score — keeping only pairs whose score gap is
    decisive (>= 20). The shape every preference-tuning corpus build
    needs: pair construction, winner selection with DETERMINISTIC
    tie-breaking (higher score, then LOWER doc_id — encoded in one
    widened-slot integer key score*10^12 + (10^12-1-doc_id), the
    slot wider than any realistic id), and a gap filter. ONE
    hash-shuffle total: both pair members, their ids, scores, winner
    AND loser are recovered ARITHMETICALLY from (max key, sum id,
    sum score) — no self-join of evens to odds, no join back
    (rejected = sums minus chosen; gap = 2*chosen_score - sum_score).
    Exact DECIMAL/HUGEINT integers end to end."""
    docs = io.fan_out(io.read_parquet(spark, f"{sf_dir}/documents.parquet").df)
    dec = "decimal(38,0)"
    sc = docs.select(
        "doc_id",
        F.length(F.regexp_replace(F.col("text"), "[^a-zA-Z]", "")).cast(dec)
          .alias("score"),
        F.expr("doc_id div 2").alias("pair_id"),
    )
    S = "1000000000000"
    p = (
        sc.groupBy("pair_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("doc_id").cast(dec)).alias("sid"),
            F.sum("score").alias("ssc"),
            F.max(F.expr(f"score * {S} + ({S} - 1 - doc_id)")).alias("mx"),
        )
        .filter(F.col("n") == 2)
    )
    chosen_id = F.expr(f"999999999999 - (mx % {S})")
    gap = F.expr(f"(mx div {S}) * 2 - ssc")
    return (
        p.select(
            F.col("pair_id").cast("bigint").alias("pair_id"),
            chosen_id.cast("bigint").alias("chosen_id"),
            (F.col("sid") - chosen_id).cast("bigint").alias("rejected_id"),
            gap.cast("bigint").alias("gap"),
        )
        .filter(F.col("gap") >= 20)
    )


def _mask_sql(i: str) -> str:
    """SQL fragment: deterministic 15% mask decision for position i."""
    return (
        "CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || ':' || "
        f"CAST({i} AS VARCHAR)), 1, 14)) AS BIGINT) % 100 < 15"
    )


@query(
    "text_span_corruption_plan",
    oracle=f"""
    WITH d AS (SELECT doc_id, len({SQL_TOKS})::BIGINT AS n FROM documents)
    SELECT doc_id, n AS n_tokens,
           len(list_filter(range(1, CAST(n + 1 AS BIGINT)),
               i -> {_mask_sql('i')}))::BIGINT AS n_masked,
           len(list_filter(range(1, CAST(n + 1 AS BIGINT)),
               i -> ({_mask_sql('i')}) AND (i = 1 OR NOT ({_mask_sql('i - 1')}))
               ))::BIGINT AS n_spans,
           CASE WHEN n = 0 THEN 0
                ELSE CAST(len(list_filter(range(1, CAST(n + 1 AS BIGINT)),
                         i -> {_mask_sql('i')}))::HUGEINT * 1000000 // n
                     AS BIGINT)
           END AS corruption_ppm
    FROM d
    """,
)
def text_span_corruption_plan(spark, sf_dir):
    """T5/UL2-style SPAN-CORRUPTION planning: decide deterministically
    which token positions of each document get masked (15% rate) and
    report the span structure (masked count, number of contiguous
    spans, realized corruption rate in exact ppm) — the pass a
    denoising-pretraining pipeline runs to budget sentinel tokens and
    target lengths BEFORE writing shards. Mask decisions are
    content-addressed (md5 of doc_id:position → %100 < 15), the
    repo's reproducibility rule: any engine, any partitioning, any
    rerun produces the identical mask — RNG masking is none of those.
    Span starts are mask[i] AND NOT mask[i-1], evaluated with pure
    array HOFs over the position range — a NARROW zero-shuffle map
    (the mask plan rides the same scan as tokenization at 100 TB);
    the oracle replays the identical md5 arithmetic per position."""
    docs = io.fan_out(io.read_parquet(spark, f"{sf_dir}/documents.parquet").df)

    def m(i: str) -> str:
        return (
            "CAST(conv(substring(md5(concat(CAST(doc_id AS STRING), ':', "
            f"CAST({i} AS STRING))), 1, 14), 16, 10) AS BIGINT) % 100 < 15"
        )

    d = docs.select(
        "doc_id", X.token_count(F.col("text")).cast("bigint").alias("n")
    )
    return d.select(
        "doc_id",
        F.col("n").alias("n_tokens"),
        F.expr(
            f"CAST(size(filter(sequence(1, greatest(n, 1)), i -> i <= n AND ({m('i')}))) AS BIGINT)"
        ).alias("n_masked"),
        F.expr(
            "CAST(size(filter(sequence(1, greatest(n, 1)),"
            f" i -> i <= n AND ({m('i')}) AND (i = 1 OR NOT ({m('i - 1')})))) AS BIGINT)"
        ).alias("n_spans"),
        F.expr(
            "CASE WHEN n = 0 THEN 0 ELSE CAST(CAST(size(filter(sequence(1, greatest(n, 1)),"
            f" i -> i <= n AND ({m('i')}))) AS DECIMAL(38,0)) * 1000000 div n AS BIGINT) END"
        ).alias("corruption_ppm"),
    )


SQL_BPE_TOKS = (
    "list_filter(regexp_split_to_array(regexp_replace(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), "
    rf"'([0-9]+|[^{WS_SET}a-z0-9]+)', ' \1 ', 'g'), '{WS_RE}+'), t -> t != '')"
)


@query(
    "text_tokenizer_fertility",
    oracle=f"""
    SELECT lang, count(*)::BIGINT AS n_docs,
           sum(len({SQL_TOKS}))::BIGINT AS ws_tokens,
           sum(len({SQL_BPE_TOKS}))::BIGINT AS sub_tokens,
           CAST(sum(len({SQL_BPE_TOKS}))::HUGEINT * 1000000
                // sum(len({SQL_TOKS})) AS BIGINT) AS fertility_ppm,
           CAST(sum(length(text))::HUGEINT * 1000000
                // sum(len({SQL_BPE_TOKS})) AS BIGINT) AS chars_per_tok_ppm
    FROM documents GROUP BY lang
    """,
)
def text_tokenizer_fertility(spark, sf_dir):
    """Tokenizer FERTILITY audit per language — sub-word tokens per
    whitespace word, the metric that decides whether a tokenizer
    under-serves a language (high fertility = more tokens per word =
    fewer words per context window and higher serving cost; the
    standard multilingual-tokenizer evaluation). Uses the repo's
    deterministic sub-word stand-in (llm/text.bpe_ish_tokens — letter/
    digit/punct boundary splits; a real BPE slots in behind the same
    seam) against whitespace words, plus chars-per-token — both as
    exact integer ppm rationals from ONE scan, token counting in
    narrow array HOFs with a per-language hash-agg. zh showing ~1
    fertility with few whitespace words while chars/token collapses
    is exactly the CJK signature this audit exists to surface."""
    docs = io.fan_out(io.read_parquet(spark, f"{sf_dir}/documents.parquet").df)
    d = docs.select(
        "lang",
        F.size(X.tokens(F.col("text"))).cast("bigint").alias("ws"),
        F.size(X.bpe_ish_tokens(F.col("text"))).cast("bigint").alias("sub"),
        F.length("text").cast("bigint").alias("nc"),
    )
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("ws").alias("ws_tokens"),
        F.sum("sub").alias("sub_tokens"),
        F.expr(
            "CAST(CAST(sum(sub) AS DECIMAL(38,0)) * 1000000 div sum(ws) AS BIGINT)"
        ).alias("fertility_ppm"),
        F.expr(
            "CAST(CAST(sum(nc) AS DECIMAL(38,0)) * 1000000 div sum(sub) AS BIGINT)"
        ).alias("chars_per_tok_ppm"),
    )


@query(
    "text_pair_lcs_similarity",
    oracle=f"""
    WITH a AS (
      SELECT doc_id // 34 AS pid, ({SQL_TOKS})[1:40] AS ta
      FROM documents WHERE doc_id % 34 = 0
    ),
    b AS (
      SELECT doc_id // 34 AS pid, ({SQL_TOKS})[1:40] AS tb
      FROM documents WHERE doc_id % 34 = 17
    ),
    p AS (SELECT a.pid, ta, tb FROM a JOIN b ON a.pid = b.pid),
    l AS (
      SELECT pid, len(ta)::BIGINT AS na, len(tb)::BIGINT AS nb,
        list_reduce(
          list_prepend(list_transform(range(0, len(tb)+1), x -> 0),
            list_transform(range(1, len(ta)+1),
                           i -> list_transform(range(0, len(tb)+1), x -> i))),
          (row, cur) -> list_reduce(
            list_prepend([0],
              list_transform(range(1, len(tb)+1), j ->
                [greatest(row[j+1],
                          row[j] + CASE WHEN ta[cur[1]] = tb[j]
                                   THEN 1 ELSE 0 END)])),
            (acc, e) -> list_append(acc, greatest(e[1], acc[len(acc)]))
          )
        )[len(tb)+1]::BIGINT AS lcs_len
      FROM p
    )
    SELECT pid, na, nb, lcs_len,
           CAST(lcs_len * 1000000 // greatest(na, nb, 1) AS BIGINT) AS lcs_ppm
    FROM l
    """,
)
def text_pair_lcs_similarity(spark, sf_dir):
    """ORDER-SENSITIVE pair similarity: token-level LONGEST COMMON
    SUBSEQUENCE between paired documents (first 40 tokens, the
    documented cost cap) — what Jaccard/minhash can NOT measure (bags
    ignore order: 'dog bites man'/'man bites dog' are Jaccard-1 but
    LCS-distinct), the signal for template detection and
    near-plagiarism with reordering. The O(na*nb) DP runs as a NESTED
    array fold: the outer fold carries the DP ROW as the accumulator
    (the row index rides in the element — lambdas see only (acc,
    element)), the inner fold resolves the left-neighbor dependence
    sequentially; the max(up, diag+match) two-term recurrence is the
    known LCS equivalent that drops the explicit left term from the
    candidate (left propagates via the inner running max). Completes
    the DP-as-fold family (scalar SES -> packed-register Viterbi ->
    array-state LCS); property-tested against a textbook Python LCS.
    At scale this runs per CANDIDATE PAIR (bounded by blocking),
    never all pairs; cost is capped by the token window."""
    docs = io.fan_out(io.read_parquet(spark, f"{sf_dir}/documents.parquet").df)
    toks40 = lambda: F.expr(
        f"slice(filter(split(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '{WS_RE_EXPR}+'), t -> t != ''), 1, 40)"
    )
    a = docs.filter(F.col("doc_id") % 34 == 0).select(
        F.expr("doc_id div 34").alias("pid"), toks40().alias("ta"))
    b = docs.filter(F.col("doc_id") % 34 == 17).select(
        F.expr("doc_id div 34").alias("pid"), toks40().alias("tb"))
    p = a.join(b, "pid")
    l = p.select(
        "pid",
        F.size("ta").cast("bigint").alias("na"),
        F.size("tb").cast("bigint").alias("nb"),
        # empty-side short-circuit: sequence(1, 0) in Spark is the
        # DESCENDING [1, 0], so an empty token list would drive
        # element_at(ta, 1)/element_at(row, 0) out of bounds; LCS with
        # an empty side
        # is 0 by definition, matching the oracle's empty-fold result
        F.expr("""
          IF(size(ta) = 0 OR size(tb) = 0, CAST(0 AS BIGINT),
          CAST(element_at(
            aggregate(
              transform(sequence(1, size(ta)),
                        i -> transform(sequence(0, size(tb)), x -> i)),
              transform(sequence(0, size(tb)), x -> 0),
              (row, cur) -> aggregate(
                transform(sequence(1, size(tb)), j ->
                  greatest(element_at(row, j + 1),
                           element_at(row, j)
                           + IF(element_at(ta, element_at(cur, 1))
                                = element_at(tb, j), 1, 0))),
                array(0),
                (acc, e) -> concat(acc, array(greatest(e, element_at(acc, size(acc)))))
              )
            ), -1) AS BIGINT)) AS lcs_len"""),
    )
    return l.select(
        "pid", "na", "nb", "lcs_len",
        F.expr("CAST(lcs_len * 1000000 div greatest(na, nb, 1) AS BIGINT)")
          .alias("lcs_ppm"),
    )


@query(
    "text_length_outliers_mad",
    oracle="""
    WITH d AS (SELECT doc_id, lang, n_chars::BIGINT AS x FROM documents
               WHERE n_chars IS NOT NULL),
    h AS (SELECT lang, x, count(*) AS cnt FROM d GROUP BY 1, 2),
    tot AS (SELECT lang, sum(cnt) AS n FROM h GROUP BY lang),
    med AS (
      SELECT t.lang, (SELECT min(x) FROM (
               SELECT x, sum(cnt) OVER (PARTITION BY lang ORDER BY x
                                        ROWS UNBOUNDED PRECEDING) AS c
               FROM h WHERE h.lang = t.lang) s
             WHERE 2 * s.c >= t.n) AS m
      FROM tot t
    ),
    dev AS (
      SELECT d.lang, abs(d.x - med.m) AS ax
      FROM d JOIN med ON d.lang = med.lang
    ),
    dh AS (SELECT lang, ax, count(*) AS cnt FROM dev GROUP BY 1, 2),
    mad AS (
      SELECT t.lang, (SELECT min(ax) FROM (
               SELECT ax, sum(cnt) OVER (PARTITION BY lang ORDER BY ax
                                         ROWS UNBOUNDED PRECEDING) AS c
               FROM dh WHERE dh.lang = t.lang) s
             WHERE 2 * s.c >= t.n) AS md
      FROM tot t
    )
    SELECT d.lang, med.m::BIGINT AS median_len, mad.md::BIGINT AS mad,
           count(*) FILTER (abs(d.x - med.m) * 10
                            > 35 * greatest(mad.md, 1))::BIGINT AS n_outliers,
           count(*)::BIGINT AS n_docs
    FROM d JOIN med ON d.lang = med.lang JOIN mad ON d.lang = mad.lang
    GROUP BY d.lang, med.m, mad.md
    """,
)
def text_length_outliers_mad(spark, sf_dir):
    """ROBUST outlier detection on document lengths: median absolute
    deviation (MAD) instead of mean/stddev — a handful of mega-
    documents inflate the stddev until they hide themselves (the
    masking problem); the median/MAD pair has a 50% breakdown point.
    A document is flagged when |x − median| > 3.5·MAD (Iglewicz-
    Hoaglin's modified z-score cutoff, cross-multiplied by 10 into
    exact integers; max(MAD,1) guards degenerate half-constant
    groups). TWO value-histogram median passes (lengths, then
    absolute deviations) — both windows over the bounded length
    domain per language, the repo's quantile discipline — then one
    counting pass. The robust sibling of embedding_outlier_zscore."""
    from pyspark.sql import Window

    docs = io.fan_out(io.read_parquet(spark, f"{sf_dir}/documents.parquet").df)
    d = docs.filter(F.col("n_chars").isNotNull()).select(
        "doc_id", "lang", F.col("n_chars").cast("bigint").alias("x")
    )

    def _median(df, col, out):
        h = pin(df.groupBy("lang", F.col(col).alias("v")).agg(
            F.count(F.lit(1)).alias("cnt")))
        tot = h.groupBy("lang").agg(F.sum("cnt").alias("n"))
        w = Window.partitionBy("lang").orderBy("v").rowsBetween(
            Window.unboundedPreceding, 0)
        cum = h.select("lang", "v", F.sum("cnt").over(w).alias("c"))
        return (
            cum.join(F.broadcast(tot), "lang")
            .groupBy("lang")
            .agg(F.min(F.when(2 * F.col("c") >= F.col("n"), F.col("v")))
                   .alias(out))
        )

    med = _median(d, "x", "m")
    dev = d.join(F.broadcast(med), "lang").select(
        "lang", F.abs(F.col("x") - F.col("m")).alias("ax"))
    mad = _median(dev, "ax", "md")
    return (
        d.join(F.broadcast(med), "lang").join(F.broadcast(mad), "lang")
        .groupBy("lang", "m", "md")
        .agg(
            F.sum(F.when(F.abs(F.col("x") - F.col("m")) * 10
                         > 35 * F.greatest(F.col("md"), F.lit(1)), 1)
                   .otherwise(0)).alias("n_outliers"),
            F.count(F.lit(1)).alias("n_docs"),
        )
        .select(
            "lang", F.col("m").cast("bigint").alias("median_len"),
            F.col("md").cast("bigint").alias("mad"),
            F.col("n_outliers").cast("bigint").alias("n_outliers"),
            "n_docs",
        )
    )


@query(
    "text_mattr_diversity",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, {SQL_TOKS} AS toks FROM documents WHERE doc_id % 5 = 0
    ),
    w AS (
      SELECT doc_id, len(toks)::BIGINT AS n_tokens,
             CASE WHEN len(toks) < 25 THEN NULL ELSE
               list_transform(range(1, len(toks) - 23),
                              i -> len(list_distinct(toks[i:i+24])))
             END AS wd
      FROM d
    )
    SELECT doc_id, n_tokens,
           CASE WHEN wd IS NULL THEN NULL
                ELSE CAST(list_sum(wd) * 1000000 // (len(wd) * 25) AS BIGINT)
           END AS mattr_ppm
    FROM w
    """,
)
def text_mattr_diversity(spark, sf_dir):
    """MATTR — moving-average type-token ratio (Covington & McFall
    2010), the lexical-diversity metric that fixes plain TTR's
    length bias (TTR falls mechanically as documents grow; MATTR
    averages distinct/window over every sliding 25-token window, so
    scores compare across lengths): per window the distinct-type
    count, summed exactly and divided once into ppm. Documents
    shorter than the window are NULL (not a fake score). Pure array
    HOFs — sliding windows via slice() over the token array, a
    zero-shuffle narrow map (the O(n·w) per-row cost is the
    documented price; corpus-scale cost is linear in tokens). The
    %5 sparsify bounds the quadratic-ish per-row work in the oracle
    at every SF."""
    docs = io.fan_out(io.read_parquet(spark, f"{sf_dir}/documents.parquet").df)
    d = docs.filter(F.col("doc_id") % 5 == 0).select(
        "doc_id", X.tokens(F.col("text")).alias("toks")
    )
    w = d.select(
        "doc_id",
        F.size("toks").cast("bigint").alias("n_tokens"),
        F.expr(
            "CASE WHEN size(toks) < 25 THEN NULL ELSE"
            " transform(sequence(1, size(toks) - 24),"
            " i -> size(array_distinct(slice(toks, i, 25)))) END"
        ).alias("wd"),
    )
    return w.select(
        "doc_id", "n_tokens",
        F.expr(
            "CASE WHEN wd IS NULL THEN NULL ELSE"
            " CAST(aggregate(wd, 0L, (a, x) -> a + x) * 1000000"
            " div (size(wd) * 25) AS BIGINT) END"
        ).alias("mattr_ppm"),
    )


@query(
    "text_hapax_ratio",
    oracle=f"""
    WITH toks AS (SELECT unnest({SQL_TOKS}) AS t FROM documents),
    tf AS (SELECT t, count(*)::HUGEINT AS c FROM toks GROUP BY t)
    SELECT count(*)::BIGINT AS vocab_size,
           sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)::BIGINT AS n_hapax,
           CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)::HUGEINT * 1000000
                // count(*) AS BIGINT) AS hapax_vocab_ppm,
           CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)::HUGEINT * 1000000
                // sum(c) AS BIGINT) AS hapax_token_ppm,
           CAST(sum(c) AS BIGINT) AS n_tokens
    FROM tf
    """,
)
def text_hapax_ratio(spark, sf_dir):
    """HAPAX LEGOMENA ratio — corpus-linguistics vocabulary-growth
    signal: the fraction of vocabulary types occurring exactly once
    (and their share of the token mass). High hapax fraction = open
    vocabulary still growing (expect new types with more data; also
    the OOV-rate predictor for a fixed tokenizer); low = saturated or
    template-heavy corpus (this synthetic one, by construction). One
    token hash-agg into the (type, count) relation and one bounded
    agg over it — the vocabulary table is the SAME relation
    text_vocab_coverage / build_dict consume, so in a real pipeline
    this is a free rider on the vocab build. Exact integer ppm."""
    docs = io.fan_out(io.read_parquet(spark, f"{sf_dir}/documents.parquet").df)
    dec = "decimal(38,0)"
    tf = (
        docs.select(F.explode(X.tokens(F.col("text"))).alias("t"))
        .groupBy("t").agg(F.count(F.lit(1)).cast(dec).alias("c"))
    )
    return tf.agg(
        F.count(F.lit(1)).alias("vocab_size"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).cast("bigint")
          .alias("n_hapax"),
        F.expr(
            f"CAST(CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS {dec})"
            " * 1000000 div count(*) AS BIGINT)"
        ).alias("hapax_vocab_ppm"),
        F.expr(
            f"CAST(CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS {dec})"
            " * 1000000 div sum(c) AS BIGINT)"
        ).alias("hapax_token_ppm"),
        F.sum("c").cast("bigint").alias("n_tokens"),
    )


@query(
    "text_char_coverage_vocab",
    oracle="""
    WITH ch AS (
      SELECT unnest(string_split(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '')) AS c FROM documents
    ),
    cf AS (SELECT c, count(*)::HUGEINT AS n FROM ch WHERE c != ''
           GROUP BY c),
    tot AS (SELECT sum(n) AS tn, count(*)::BIGINT AS alphabet FROM cf),
    topk AS (SELECT c, n FROM cf ORDER BY n DESC, c LIMIT 20)
    SELECT (SELECT alphabet FROM tot) AS alphabet_size,
           (SELECT CAST(tn AS BIGINT) FROM tot) AS total_chars,
           (SELECT CAST(sum(n) AS BIGINT) FROM topk) AS top20_chars,
           (SELECT CAST(sum(n) * 1000000 // (SELECT tn FROM tot) AS BIGINT)
            FROM topk) AS coverage_ppm
    """,
)
def text_char_coverage_vocab(spark, sf_dir):
    """CHARACTER COVERAGE for tokenizer-vocabulary planning — the
    statistic behind sentencepiece's character_coverage knob: what
    fraction of the corpus's character mass do the top-K characters
    carry? (Set the byte/char fallback threshold too low and CJK
    corpora overflow into <unk>; too high and the vocab wastes slots
    on noise glyphs.) Top-K selection is a distributed TakeOrdered
    over the character-frequency relation — bounded by the ALPHABET,
    the text_vocab_coverage discipline (never a global window over
    corpus-sized data); counts exact, coverage an integer ppm. The
    char explode is linear in corpus size and runs once per vocab
    build."""
    docs = io.fan_out(io.read_parquet(spark, f"{sf_dir}/documents.parquet").df)
    dec = "decimal(38,0)"
    cf = (
        docs.select(F.explode(F.split(ascii_lower(F.col("text")), "")).alias("c"))
        .filter(F.col("c") != "")
        .groupBy("c").agg(F.count(F.lit(1)).cast(dec).alias("n"))
    )
    tot = cf.agg(F.sum("n").alias("tn"), F.count(F.lit(1)).alias("alphabet"))
    topk = cf.orderBy(F.desc("n"), "c").limit(20)
    tk = topk.agg(F.sum("n").alias("top_n"))
    return (
        tot.crossJoin(F.broadcast(tk))
        .select(
            F.col("alphabet").alias("alphabet_size"),
            F.col("tn").cast("bigint").alias("total_chars"),
            F.col("top_n").cast("bigint").alias("top20_chars"),
            F.expr("CAST(top_n * 1000000 div tn AS BIGINT)")
              .alias("coverage_ppm"),
        )
    )


@query(
    "text_quality_classifier_hashed",
    oracle=f"""
    WITH d AS (SELECT doc_id, lang, {SQL_TOKS} AS toks FROM documents),
    f AS (
      SELECT doc_id, lang,
             list_concat(
               toks,
               list_transform(range(1, greatest(len(toks), 1)),
                 i -> toks[i] || '_' || toks[i + 1])) AS feats
      FROM d
    ),
    s AS (
      SELECT doc_id, lang,
             coalesce(CAST(list_sum(list_transform(feats,
               t -> CAST(concat('0x', substr(md5('qw' || '|' || t), 1, 14))
                         AS BIGINT) % 2001 - 1000)) AS BIGINT), 0)
               AS score_milli
      FROM f
    )
    SELECT doc_id, lang, score_milli,
           CASE WHEN score_milli > 0 THEN 1 ELSE 0 END AS keep
    FROM s
    """,
)
def text_quality_classifier_hashed(spark, sf_dir):
    """CLASSIFIER-BASED quality filtering — the fastText-style linear
    gate CCNet/GPT-3/RedPajama pipelines run after the heuristic
    filters (text_quality): score = Σ w[feature] over hashed unigram
    + bigram features, keep iff score > 0. The weight table here is
    md5-derived (the repo's deterministic stand-in contract — a
    TRAINED weight vector ships as a broadcast map or literal array,
    identical plumbing and cost); the hashing-trick bucket lookup,
    the bigram feature join-free construction (zip of the token array
    with its own tail — array HOFs, no explode), and the per-doc
    integer score are exactly the production dataflow: ZERO shuffles,
    pure narrow map over the corpus scan, so the classifier gate adds
    no exchange to a curation pipeline no matter the corpus size.
    Scores in exact milli-units; both engines replay bit-for-bit."""
    docs = io.fan_out(io.read_parquet(spark, f"{sf_dir}/documents.parquet").df)
    d = docs.select("doc_id", "lang", X.tokens(F.col("text")).alias("toks"))
    f = d.select(
        "doc_id", "lang",
        F.expr(
            "concat(toks, zip_with(slice(toks, 1, greatest(size(toks) - 1, 0)),"
            " slice(toks, 2, greatest(size(toks) - 1, 0)),"
            " (a, b) -> concat(a, '_', b)))"
        ).alias("feats"),
    )
    score = F.expr(
        "CAST(aggregate(transform(feats, t ->"
        " CAST(conv(substring(md5(concat('qw', '|', t)), 1, 14), 16, 10)"
        " AS BIGINT) % 2001 - 1000), CAST(0 AS BIGINT), (acc, x) -> acc + x)"
        " AS BIGINT)"
    )
    return f.select(
        "doc_id", "lang", score.alias("score_milli"),
        F.when(score > 0, 1).otherwise(0).alias("keep"),
    )


@query(
    "text_source_vocab_overlap",
    oracle=f"""
    WITH v AS (
      SELECT DISTINCT source, unnest({SQL_TOKS}) AS tok FROM documents
    ),
    sz AS (SELECT source, count(*)::BIGINT AS n FROM v GROUP BY 1),
    inter AS (
      SELECT a.source AS src_a, b.source AS src_b, count(*)::BIGINT AS inter
      FROM v a JOIN v b ON a.tok = b.tok AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT src_a, src_b, inter,
           (sa.n + sb.n - inter)::BIGINT AS un,
           CAST(inter::HUGEINT * 1000000 // (sa.n + sb.n - inter)
                AS BIGINT) AS jaccard_ppm
    FROM inter
    JOIN sz sa ON inter.src_a = sa.source
    JOIN sz sb ON inter.src_b = sb.source
    """,
)
def text_source_vocab_overlap(spark, sf_dir):
    """CROSS-SOURCE VOCABULARY OVERLAP — the corpus-composition matrix
    a mixture designer (text_mixture_allocation) reads before
    weighting domains: pairwise Jaccard of each source pair's
    DISTINCT token vocabularies, in exact ppm. High overlap means two
    domains contribute redundant lexical signal (near-equivalent for
    mixture purposes); low overlap marks genuinely complementary
    data. One distinct (source, token) aggregate — the shuffle is
    bounded by Σ per-source vocabulary, never corpus tokens — then
    the inverted-index pair join keyed on token (Σ_tok df(tok)² with
    df <= |sources|, so at most |sources|² per token) and two slim
    size joins. Output <= C(|sources|, 2) rows."""
    docs = io.fan_out(io.read_parquet(spark, f"{sf_dir}/documents.parquet").df)
    v = (
        docs.select("source", F.explode(X.tokens(F.col("text"))).alias("tok"))
        .distinct()
    )

    # unpinned: 4 documents scans at sf0.001, median ×1.11 sf0.1 / ×1.09 sf1
    v = pin(v)
    sz = v.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    a, b = v.alias("a"), v.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b")
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sz.select(F.col("source").alias("src_a"), F.col("n").alias("na"))
    sb = sz.select(F.col("source").alias("src_b"), F.col("n").alias("nb"))
    return (
        inter.join(sa, "src_a")
        .join(sb, "src_b")
        .select(
            "src_a", "src_b", "inter",
            (F.col("na") + F.col("nb") - F.col("inter")).alias("un"),
            F.expr(
                "CAST(CAST(inter AS DECIMAL(38,0)) * 1000000"
                " div (na + nb - inter) AS BIGINT)"
            ).alias("jaccard_ppm"),
        )
    )


@query(
    "text_dsir_affinity",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang, {SQL_TOKS} AS toks FROM documents
    ), bg AS (
      SELECT DISTINCT doc_id, lang,
             {sql_md5_long("'dsir|' || b[1] || '|' || b[2]")} % 1024 AS f
      FROM (
        SELECT doc_id, lang,
               unnest(list_transform(generate_series(1, (len(toks)) - 1), i -> [toks[i], toks[i + 1]]))
                 AS b
        FROM t WHERE len(toks) >= 2
      )
    ),
    tgt AS (SELECT f, count(*) AS tgt_cnt FROM bg WHERE lang = 'en'
            GROUP BY f),
    pool AS (SELECT f, count(*) AS all_cnt FROM bg GROUP BY f),
    per_doc AS (
      SELECT bg.doc_id, bg.lang,
             sum((coalesce(tgt.tgt_cnt, 0) + 1) * 1000000
                 // (pool.all_cnt + 1)) // count(*) AS aff_ppm
      FROM bg JOIN pool USING (f) LEFT JOIN tgt USING (f)
      GROUP BY bg.doc_id, bg.lang
    )
    SELECT lang, count(*) AS n_docs,
           CAST(sum(aff_ppm) // count(*) AS BIGINT) AS mean_aff_ppm,
           CAST(min(aff_ppm) AS BIGINT) AS min_aff_ppm,
           CAST(max(aff_ppm) AS BIGINT) AS max_aff_ppm
    FROM per_doc GROUP BY lang
    """,
)
def text_dsir_affinity(spark, sf_dir):
    """DSIR-style data selection (Xie et al. 2023, 'Data Selection
    for LMs via Importance Resampling'): score every pool document by
    how much its HASHED-BIGRAM feature profile looks like a target
    domain (here lang='en'), the published recipe for picking
    pretraining data that matches a quality corpus. The n-gram space
    is hashed into a FIXED 1024-bucket table — that is the load-
    bearing trick: both frequency tables (target, pool) collapse to
    <=1024 rows regardless of corpus size, so the per-feature ratio
    join is a broadcast and the whole scorer is two narrow explodes
    + two bounded hash-aggs + one per-doc agg. True DSIR weights are
    products of probability ratios (log-space floats); to stay on
    the exact-integer contract the score is the additive-smoothed
    MEAN ratio in ppm — sum((tgt+1)·10^6 div (all+1)) div n_feat —
    which preserves the ranking signal (en docs score highest, the
    readout shows the separation per language) without a single
    transcendental. Per-(doc,feature) pairs are DISTINCT'd so long
    docs don't vote a feature twice."""
    docs = io.fan_out(io.read_parquet(spark, f"{sf_dir}/documents.parquet").df)
    toks = X.tokens(F.col("text"))
    n = F.size(toks)
    base = docs.select(
        "doc_id", "lang", toks.alias("tk"), n.alias("n")
    ).filter(F.col("n") >= 2)
    bg = base.select(
        "doc_id", "lang",
        F.explode(
            F.arrays_zip(
                F.slice(F.col("tk"), 1, F.col("n") - 1).alias("w1"),
                F.slice(F.col("tk"), 2, F.col("n") - 1).alias("w2"),
            )
        ).alias("b"),
    ).select(
        "doc_id", "lang",
        (F.conv(
            F.substring(
                F.md5(F.concat(F.lit("dsir|"), F.col("b.w1"),
                               F.lit("|"), F.col("b.w2"))), 1, 14),
            16, 10,
        ).cast("bigint") % 1024).alias("f"),
    ).distinct()
    tgt = bg.filter(F.col("lang") == "en").groupBy("f").agg(
        F.count(F.lit(1)).alias("tgt_cnt")
    )
    pool = bg.groupBy("f").agg(F.count(F.lit(1)).alias("all_cnt"))
    per_doc = (
        bg.join(F.broadcast(pool), "f")
        .join(F.broadcast(tgt), "f", "left")
        .groupBy("doc_id", "lang")
        .agg(
            F.expr(
                "sum((coalesce(tgt_cnt, 0) + 1) * 1000000 div (all_cnt + 1))"
                " div count(*)"
            ).alias("aff_ppm")
        )
    )
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.expr("CAST(sum(aff_ppm) div count(*) AS BIGINT)")
        .alias("mean_aff_ppm"),
        F.min("aff_ppm").cast("bigint").alias("min_aff_ppm"),
        F.max("aff_ppm").cast("bigint").alias("max_aff_ppm"),
    )


@query(
    "text_gopher_rules",
    oracle=f"""
    WITH t AS (
      SELECT lang, text, {SQL_TOKS} AS toks FROM documents
    ), m AS (
      SELECT lang,
             len(toks) AS n_words,
             list_sum(list_transform(toks, t -> length(t))) AS n_tok_chars,
             len(list_filter(toks, t -> regexp_matches(t, '[a-z]')))
               AS n_alpha_words,
             length(text) - length(replace(text, '#', ''))
               + (length(text) - length(replace(text, '...', ''))) // 3
               AS n_symbols,
             len(list_filter(['the','a','of','and','to','in','is','it',
                              'for','on'],
                             w -> list_contains(toks, w))) AS n_stops
      FROM t
    ), flags AS (
      SELECT lang,
             CASE WHEN n_words < 50 OR n_words > 100000
                  THEN 1 ELSE 0 END AS f_wc,
             CASE WHEN n_tok_chars < 3 * n_words
                       OR n_tok_chars > 10 * n_words
                  THEN 1 ELSE 0 END AS f_mwl,
             CASE WHEN n_symbols * 10 > n_words THEN 1 ELSE 0 END AS f_sym,
             CASE WHEN n_alpha_words * 5 < n_words * 4
                  THEN 1 ELSE 0 END AS f_alpha,
             CASE WHEN n_stops < 2 THEN 1 ELSE 0 END AS f_stop
      FROM m
    )
    SELECT lang, count(*) AS n_docs,
           CAST(sum(f_wc) AS BIGINT) AS fail_wordcount,
           CAST(sum(f_mwl) AS BIGINT) AS fail_mean_word_len,
           CAST(sum(f_sym) AS BIGINT) AS fail_symbol_ratio,
           CAST(sum(f_alpha) AS BIGINT) AS fail_alpha_frac,
           CAST(sum(f_stop) AS BIGINT) AS fail_stopwords,
           CAST(sum(CASE WHEN f_wc + f_mwl + f_sym + f_alpha + f_stop = 0
                    THEN 1 ELSE 0 END) AS BIGINT) AS pass_all
    FROM flags GROUP BY lang
    """,
)
def text_gopher_rules(spark, sf_dir):
    """The GOPHER quality-rule card (Rae et al. 2021, Appendix A —
    the published heuristic gate most open corpora still run):
    word-count bounds [50, 100k], mean word length in [3, 10],
    symbol-to-word ratio (# and ...) <= 0.1, >= 80%% of words contain
    a letter, and >= 2 distinct stop words present (the paper's
    'required words' rule, probed with this repo's canonical
    10-stop-word list so the synthetic corpus shows real pass/fail
    variation).
    text_quality emits the raw ratio FEATURES; this is the RULE
    verdict layer a curation run actually gates on, reported as
    per-language fail counts + the pass-all census. Every threshold
    is CROSS-MULTIPLIED into pure integer comparisons (mean word
    length in [3,10] becomes 3n <= chars <= 10n; ratio <= 0.1
    becomes 10·sym <= words) — not one division anywhere, so the two
    engines cannot disagree. All metrics are narrow array-HOF work
    applied before any shuffle; the only exchange is the final
    per-lang census agg. Ellipsis occurrences are counted by
    replace-length delta (non-overlapping left-to-right in both
    engines); stop-word presence probes the 8 literals against the
    token array, so it counts DISTINCT stop words, matching the
    paper's rule."""
    docs = io.fan_out(io.read_parquet(spark, f"{sf_dir}/documents.parquet").df)
    toks = X.tokens(F.col("text"))
    stops = ("array('the','a','of','and','to','in','is','it',"
             "'for','on')")
    m = docs.select(
        "lang",
        F.size(toks).alias("n_words"),
        F.expr(
            f"aggregate(transform(filter(split(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '{WS_RE_EXPR}+'),"
            " t -> t != ''), t -> length(t)), 0, (a, x) -> a + x)"
        ).alias("n_tok_chars"),
        F.size(F.filter(toks, lambda t: t.rlike("[a-z]")))
         .alias("n_alpha_words"),
        (
            F.length("text") - F.length(F.replace(F.col("text"), F.lit("#")))
            + (F.length("text")
               - F.length(F.replace(F.col("text"), F.lit("...")))) / 3
        ).cast("bigint").alias("n_symbols"),
        F.size(
            F.filter(F.expr(stops),
                     lambda w: F.array_contains(toks, w))
        ).alias("n_stops"),
    )
    flags = m.select(
        "lang",
        F.when((F.col("n_words") < 50) | (F.col("n_words") > 100000), 1)
         .otherwise(0).alias("f_wc"),
        F.when(
            (F.col("n_tok_chars") < 3 * F.col("n_words"))
            | (F.col("n_tok_chars") > 10 * F.col("n_words")), 1
        ).otherwise(0).alias("f_mwl"),
        F.when(F.col("n_symbols") * 10 > F.col("n_words"), 1)
         .otherwise(0).alias("f_sym"),
        F.when(F.col("n_alpha_words") * 5 < F.col("n_words") * 4, 1)
         .otherwise(0).alias("f_alpha"),
        F.when(F.col("n_stops") < 2, 1).otherwise(0).alias("f_stop"),
    )
    return flags.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("f_wc").alias("fail_wordcount"),
        F.sum("f_mwl").alias("fail_mean_word_len"),
        F.sum("f_sym").alias("fail_symbol_ratio"),
        F.sum("f_alpha").alias("fail_alpha_frac"),
        F.sum("f_stop").alias("fail_stopwords"),
        F.sum(
            F.when(
                F.col("f_wc") + F.col("f_mwl") + F.col("f_sym")
                + F.col("f_alpha") + F.col("f_stop") == 0, 1
            ).otherwise(0)
        ).alias("pass_all"),
    )


@query(
    "text_langid_confusion",
    oracle=f"""
    WITH pred AS (
      SELECT lang AS true_lang, {_lang_expr()} AS pred_lang FROM documents
    ),
    cm AS (
      SELECT true_lang, pred_lang, count(*) AS n
      FROM pred GROUP BY true_lang, pred_lang
    ),
    row_tot AS (SELECT true_lang, sum(n) AS n_true FROM cm GROUP BY 1),
    col_tot AS (SELECT pred_lang, sum(n) AS n_pred FROM cm GROUP BY 1)
    SELECT cm.true_lang, cm.pred_lang, CAST(cm.n AS BIGINT) AS n,
           CAST(cm.n * 1000000 // r.n_true AS BIGINT) AS recall_ppm,
           CAST(cm.n * 1000000 // c.n_pred AS BIGINT) AS precision_ppm
    FROM cm JOIN row_tot r ON cm.true_lang = r.true_lang
            JOIN col_tot c ON cm.pred_lang = c.pred_lang
    """,
)
def text_langid_confusion(spark, sf_dir):
    """CLASSIFIER EVALUATION OF THE ENGINE'S OWN OPERATOR — the
    lang-id heuristic (text_lang_id's stopword-argmax cascade) scored
    against the corpus's ground-truth lang column as a full confusion
    matrix, with per-cell recall (n / row total) and precision (n /
    column total) in exact integer ppm. This is the eval loop every
    production labeling operator needs welded on: the diagonal shows
    where the heuristic works (en/de/fr/es have stopword tables),
    the 'und' column shows coverage gaps (zh has no table — every zh
    doc lands there BY DESIGN, visible, not silent), and off-diagonal
    cells localize confusable pairs. Cost: one narrow scan (the
    cascade is pure Column arithmetic), one |langs|² hash-agg, two
    bounded marginal aggs joined back — nothing global, nothing
    data-sized after the first agg."""
    docs = io.fan_out(io.read_parquet(spark, f"{sf_dir}/documents.parquet").df)
    pred = docs.select(
        F.col("lang").alias("true_lang"),
        X.lang_id(F.col("text")).alias("pred_lang"),
    )
    cm = pred.groupBy("true_lang", "pred_lang").agg(
        F.count(F.lit(1)).alias("n")
    )
    row_tot = cm.groupBy("true_lang").agg(F.sum("n").alias("n_true"))
    col_tot = cm.groupBy("pred_lang").agg(F.sum("n").alias("n_pred"))
    return (
        cm.join(F.broadcast(row_tot), "true_lang")
        .join(F.broadcast(col_tot), "pred_lang")
        .select(
            "true_lang", "pred_lang", F.col("n").cast("bigint").alias("n"),
            F.expr("CAST(n * 1000000 div n_true AS BIGINT)")
             .alias("recall_ppm"),
            F.expr("CAST(n * 1000000 div n_pred AS BIGINT)")
             .alias("precision_ppm"),
        )
    )


@query(
    "text_collocation_lift",
    oracle=f"""
    WITH t AS (
      SELECT {SQL_TOKS} AS toks FROM documents
    ), bg AS (
      SELECT unnest(list_transform(generate_series(1, (len(toks)) - 1), i -> [toks[i], toks[i + 1]]))
               AS b
      FROM t WHERE len(toks) >= 2
    ), bc AS (
      SELECT b[1] AS w1, b[2] AS w2, count(*) AS n12
      FROM bg GROUP BY b[1], b[2]
    ), uni AS (
      SELECT w, sum(n) AS nw FROM (
        SELECT w1 AS w, sum(n12) AS n FROM bc GROUP BY w1
        UNION ALL
        SELECT w2 AS w, sum(n12) AS n FROM bc GROUP BY w2
      ) GROUP BY w
    ), tot AS (SELECT sum(n12) AS nb FROM bc)
    SELECT w1, w2, CAST(n12 AS BIGINT) AS n12,
           CAST(n12::HUGEINT * tot.nb * 1000000
                // (l.nw::HUGEINT * r.nw) AS BIGINT) AS lift_ppm
    FROM bc JOIN uni l ON bc.w1 = l.w JOIN uni r ON bc.w2 = r.w
    CROSS JOIN tot
    WHERE n12 >= 5
    ORDER BY CAST(n12::HUGEINT * tot.nb * 1000000
                  // (l.nw::HUGEINT * r.nw) AS BIGINT) DESC, w1, w2
    LIMIT 20
    """,
)
def text_collocation_lift(spark, sf_dir):
    """COLLOCATION MINING — which word pairs co-occur MORE than their
    individual frequencies predict (the PMI family, in its exact
    rational form): lift(w1,w2) = P(w1w2) / (P(w1)·P(w2)) =
    n12·N / (n1·n2), emitted in integer ppm with the cross-products
    lifted to HUGEINT/DECIMAL before the single integral divide — so
    no logarithm is ever taken and both engines rank identically
    (log PMI is monotone in lift, so the RANKING is exactly PMI's).
    text_bigram_lm gives the directional conditional P(w2|w1); lift
    is the symmetric association strength that finds multiword
    expressions. Unigram marginals come from summing the bigram
    table itself (positional occurrences), keeping one explode; the
    marginal joins are plain hash joins — the vocabulary is NOT
    broadcastable at web scale (10^8+ distinct tokens).
    Support floor n12 >= 5 (standard collocation practice) kills the
    noise tail; the top-20 report is TakeOrdered on the lift slot
    with word tie-breaks — never a global sort of the vocabulary."""
    docs = io.fan_out(io.read_parquet(spark, f"{sf_dir}/documents.parquet").df)
    toks = X.tokens(F.col("text"))
    n = F.size(toks)
    pairs = docs.select(toks.alias("tk"), n.alias("n")).filter(F.col("n") >= 2)
    bg = pairs.select(
        F.explode(
            F.arrays_zip(
                F.slice(F.col("tk"), 1, F.col("n") - 1).alias("w1"),
                F.slice(F.col("tk"), 2, F.col("n") - 1).alias("w2"),
            )
        ).alias("b")
    ).select(F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
    bc = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n12"))

    bc = pin(bc)  # feeds marginals, totals, and the final join
    uni = (
        bc.groupBy(F.col("w1").alias("w")).agg(F.sum("n12").alias("n"))
        .unionByName(
            bc.groupBy(F.col("w2").alias("w")).agg(F.sum("n12").alias("n"))
        )
        .groupBy("w")
        .agg(F.sum("n").alias("nw"))
    )
    tot = bc.agg(F.sum("n12").alias("nb"))
    l = uni.select(F.col("w").alias("w1"), F.col("nw").alias("n1"))
    r = uni.select(F.col("w").alias("w2"), F.col("nw").alias("n2"))
    j = (
        bc.filter(F.col("n12") >= 5)
        .join(l, "w1")
        .join(r, "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1", "w2", F.col("n12").cast("bigint").alias("n12"),
            F.expr(
                "CAST(CAST(n12 AS DECIMAL(38,0)) * nb * 1000000"
                " div (CAST(n1 AS DECIMAL(38,0)) * n2) AS BIGINT)"
            ).alias("lift_ppm"),
        )
    )
    return j.orderBy(F.desc("lift_ppm"), "w1", "w2").limit(20)
