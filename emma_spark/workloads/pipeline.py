"""End-to-end corpus-curation pipeline workload: the LLM-data operators
COMPOSED (quality gate → exact dedup → LSH near-dup removal → stats),
with a DuckDB oracle that replays every stage bit-for-bit."""

from __future__ import annotations

from pyspark.sql import functions as F

from ..llm import pipeline as P
from ..sources import io
from . import query
from .dedup import _sig_sql
from ..llm.text import WS_RE, WS_RE_EXPR
from .text import SQL_TOKS, sql_md5_long

_ORACLE = f"""
WITH q AS (
  SELECT * FROM documents
  WHERE len({SQL_TOKS}) >= 5
    AND floor(length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))::DOUBLE
              / greatest(length(text), 1) * 1000000 + 0.5) / 1000000 >= 0.5
),
ex AS (
  SELECT * EXCLUDE (rn) FROM (
    SELECT *, row_number() OVER (PARTITION BY {sql_md5_long('text')}
                                 ORDER BY doc_id) AS rn
    FROM q
  ) WHERE rn = 1
),
sig AS ({_sig_sql('ex')}),
pairs AS (
  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
  FROM sig l JOIN sig r ON l.doc_id < r.doc_id
   AND ((l.mh0 = r.mh0 AND l.mh1 = r.mh1) OR (l.mh2 = r.mh2 AND l.mh3 = r.mh3))
),
final AS (
  SELECT ex.* FROM ex LEFT JOIN (SELECT DISTINCT b FROM pairs) rm
    ON ex.doc_id = rm.b
  WHERE rm.b IS NULL
)
SELECT lang, count(*) AS n_docs,
       CAST(sum(len({SQL_TOKS})) AS BIGINT) AS total_tokens,
       CAST(sum(length(text)) AS BIGINT) AS total_chars
FROM final GROUP BY lang
"""


@query("pipeline_corpus_curation", oracle=_ORACLE, headline=True)
def pipeline_corpus_curation(spark, sf_dir):
    """The LLM-data operators composed end-to-end as one lazy plan:
    quality gate (narrow filter) → exact dedup (one content-hash
    shuffle, min-id keeper) → minhash/LSH near-dup removal (bucket
    join + anti join) → per-language corpus stats. The oracle replays
    all four stages, so a hash match certifies the COMPOSITION, not
    just each operator in isolation.

    No fan_out at the scan: the only pre-shuffle work is the quality
    gate + one content-hash md5 (cheap), and the exact-dedup groupBy
    shuffle spreads the survivors before the heavy minhash signature
    pass runs — the round-robin exchange only re-shuffled full text
    payloads for nothing (A/B: ~20% faster, results identical)."""
    docs = io.read_parquet(spark, f"{sf_dir}/documents.parquet").df
    curated = P.curate(docs, min_tokens=5, min_alpha=0.5)
    return P.corpus_stats(curated, by="lang")


_FP = sql_md5_long(f"regexp_replace(trim(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), ' '), '{WS_RE}+', ' ', 'g')")

_INC_ORACLE = f"""
WITH corpus AS (
  SELECT {_FP} AS fp FROM documents WHERE doc_id % 4 != 0
),
batch AS (
  SELECT doc_id, lang, {_FP} AS fp,
         len({SQL_TOKS}) >= 5 AS gated
  FROM documents WHERE doc_id % 4 = 0
),
keeper AS (
  SELECT fp, min(doc_id) AS kd FROM batch WHERE gated GROUP BY fp
),
flags AS (
  SELECT b.doc_id, b.lang, b.gated,
         b.gated AND k.kd = b.doc_id AS self_kept,
         b.gated AND k.kd = b.doc_id
           AND NOT EXISTS (SELECT 1 FROM corpus c WHERE c.fp = b.fp)
           AS is_new
  FROM batch b LEFT JOIN keeper k ON b.fp = k.fp
)
SELECT lang,
       count(*) AS n_arrived,
       count(*) FILTER (gated) AS n_gated,
       count(*) FILTER (self_kept) AS n_self_kept,
       count(*) FILTER (is_new) AS n_new
FROM flags GROUP BY lang
"""


@query("pipeline_incremental_update", oracle=_INC_ORACLE)
def pipeline_incremental_update(spark, sf_dir):
    """INCREMENTAL corpus ingestion — the production counterpart of
    pipeline_corpus_curation's full recompute: an arriving batch
    (doc_id % 4 = 0 simulates the delta) is quality-gated,
    self-deduped, then anti-joined against the EXISTING corpus's
    fingerprint set, so only genuinely new content survives; the
    funnel report (arrived → gated → self-kept → new) is what the
    ingest dashboard shows per batch. Scale: the existing corpus
    contributes ONLY its 56-bit fingerprint column (at 100 TB that
    fingerprint table is ~1% of corpus bytes and lives pre-computed
    next to it — this query derives it inline because the harness has
    no side state); both dedup joins hash-partition on fp; everything
    else is narrow flag arithmetic folded in ONE conditional agg.
    Batch-boundary determinism: keeper = min doc_id per fingerprint,
    the same keeper rule as dedup_exact."""
    docs = io.fan_out(io.read_parquet(spark, f"{sf_dir}/documents.parquet").df)
    from ..llm import text as X

    fp = X.fingerprint(F.col("text"))
    corpus_fp = (
        docs.filter(F.col("doc_id") % 4 != 0).select(fp.alias("fp")).distinct()
    )
    batch = docs.filter(F.col("doc_id") % 4 == 0).select(
        "doc_id", "lang", fp.alias("fp"),
        (F.size(X.tokens(F.col("text"))) >= 5).alias("gated"),
    )
    keeper = (
        batch.filter("gated").groupBy("fp").agg(F.min("doc_id").alias("kd"))
    )
    in_corpus = corpus_fp.withColumn("hit", F.lit(1))
    flags = (
        batch.join(keeper, "fp", "left")
        .join(in_corpus, "fp", "left")
        .select(
            "lang", "gated",
            (F.col("gated") & (F.col("kd") == F.col("doc_id"))).alias("self_kept"),
            (
                F.col("gated")
                & (F.col("kd") == F.col("doc_id"))
                & F.col("hit").isNull()
            ).alias("is_new"),
        )
    )
    return flags.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_arrived"),
        F.count(F.when(F.col("gated"), 1)).alias("n_gated"),
        F.count(F.when(F.col("self_kept"), 1)).alias("n_self_kept"),
        F.count(F.when(F.col("is_new"), 1)).alias("n_new"),
    )


@query(
    "pipeline_dataset_fingerprint",
    oracle="""
    WITH d AS (
      SELECT 'documents' AS tbl, count(*)::HUGEINT AS n,
             sum(CAST(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || '|'
                  || coalesce(text, '<NULL>')), 1, 14)) AS BIGINT) AS HUGEINT)) AS fp
      FROM documents
      UNION ALL
      SELECT 'orders', count(*)::HUGEINT,
             sum(CAST(CAST(concat('0x', substr(md5(CAST(o_orderkey AS VARCHAR)
                  || '|' || coalesce(CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS VARCHAR), '<NULL>')
                  || '|' || coalesce(o_orderstatus, '<NULL>')), 1, 14)) AS BIGINT) AS HUGEINT))
      FROM orders
      UNION ALL
      SELECT 'embeddings', count(*)::HUGEINT,
             sum(CAST(CAST(concat('0x', substr(md5(CAST(vec_id AS VARCHAR) || '|'
                  || coalesce(CAST(len(embedding) AS VARCHAR), '<NULL>')), 1, 14)) AS BIGINT) AS HUGEINT))
      FROM embeddings
    )
    SELECT tbl, CAST(n AS BIGINT) AS n_rows,
           CAST(fp % 9223372036854775783 AS BIGINT) AS fingerprint
    FROM d
    """,
)
def pipeline_dataset_fingerprint(spark, sf_dir):
    """Dataset FINGERPRINTING for reproducibility manifests (the DVC /
    lakeFS primitive): each input table reduces to (row_count,
    content_fingerprint) where the fingerprint is the SUM of per-row
    md5 hashes over the row's semantic content, reduced mod the
    largest 63-bit prime — summation is commutative, so the
    fingerprint is independent of partitioning, task order, engine,
    and file layout (an XOR or sorted-concat scheme would also work;
    sum keeps it one map-side-combinable agg). Two runs disagree on a
    fingerprint ⟺ some row's content changed — the cheap precondition
    check before reusing cached downstream artifacts, and the exact
    lineage stamp a training-run manifest should record next to the
    config hash. Doubles enter the hash only through the repo's
    canonical quantization (cents), never raw float repr. One narrow
    scan + single-row agg per table."""
    t = io.load_tables(spark, sf_dir, "documents", "orders", "embeddings")
    dec = "decimal(38,0)"
    P = "9223372036854775783"

    def fp(df, expr_sql, name):
        return df.agg(
            F.lit(name).alias("tbl"),
            F.count(F.lit(1)).cast(dec).alias("n"),
            F.sum(
                F.expr(
                    "CAST(conv(substring(md5(" + expr_sql + "), 1, 14), 16, 10)"
                    f" AS {dec})"
                )
            ).alias("fp"),
        )

    # NULLness is row content: every nullable field hashes through a
    # sentinel (Spark's concat-with-NULL nulls the whole row hash and
    # sum() silently skips it — a fingerprint that cannot see a field
    # going NULL; DuckDB's concat() skips the NULL instead, a third
    # answer). Same sentinel both engines.
    d = fp(t["documents"].df,
           "concat(CAST(doc_id AS STRING), '|',"
           " coalesce(text, '<NULL>'))", "documents")
    o = fp(t["orders"].df,
           "concat(CAST(o_orderkey AS STRING), '|',"
           " coalesce(CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"
           "          AS STRING), '<NULL>'),"
           " '|', coalesce(o_orderstatus, '<NULL>'))", "orders")
    e = fp(t["embeddings"].df,
           "concat(CAST(vec_id AS STRING), '|',"
           " coalesce(CAST(size(embedding) AS STRING), '<NULL>'))",
           "embeddings")
    return (
        d.unionByName(o).unionByName(e)
        .select(
            "tbl", F.col("n").cast("bigint").alias("n_rows"),
            F.expr(f"CAST(fp % {P} AS BIGINT)").alias("fingerprint"),
        )
    )


_FUNNEL_ORACLE = f"""
WITH q AS (
  SELECT * FROM documents
  WHERE len({SQL_TOKS}) >= 5
    AND floor(length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))::DOUBLE
              / greatest(length(text), 1) * 1000000 + 0.5) / 1000000 >= 0.5
),
ex AS (
  SELECT * EXCLUDE (rn) FROM (
    SELECT *, row_number() OVER (PARTITION BY {sql_md5_long('text')}
                                 ORDER BY doc_id) AS rn
    FROM q
  ) WHERE rn = 1
),
sig AS ({_sig_sql('ex')}),
pairs AS (
  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
  FROM sig l JOIN sig r ON l.doc_id < r.doc_id
   AND ((l.mh0 = r.mh0 AND l.mh1 = r.mh1) OR (l.mh2 = r.mh2 AND l.mh3 = r.mh3))
),
final AS (
  SELECT ex.* FROM ex LEFT JOIN (SELECT DISTINCT b FROM pairs) rm
    ON ex.doc_id = rm.b
  WHERE rm.b IS NULL
),
c AS (
  SELECT (SELECT count(*) FROM documents)::BIGINT AS n_input,
         (SELECT count(*) FROM q)::BIGINT AS n_after_quality,
         (SELECT count(*) FROM ex)::BIGINT AS n_after_exact,
         (SELECT count(*) FROM final)::BIGINT AS n_after_neardup
)
SELECT n_input, n_after_quality, n_after_exact, n_after_neardup,
       n_input - n_after_quality AS drop_quality,
       n_after_quality - n_after_exact AS drop_exact,
       n_after_exact - n_after_neardup AS drop_neardup,
       CAST(n_after_neardup::HUGEINT * 1000000 // n_input AS BIGINT)
         AS yield_ppm
FROM c
"""


@query("pipeline_curation_funnel", oracle=_FUNNEL_ORACLE)
def pipeline_curation_funnel(spark, sf_dir):
    """Per-stage ATTRITION of the curation pipeline — the funnel table
    every corpus run logs (llm/pipeline.curate_funnel): survivors
    after the quality gate, exact dedup, and LSH near-dup removal,
    each stage's drop count, and the end-to-end yield in exact ppm.
    The oracle replays all three gates, so a hash match certifies
    that every drop is attributed to the right stage — the audit that
    turns 'the corpus shrank 4% this run' from a mystery into a
    diff."""
    docs = io.fan_out(io.read_parquet(spark, f"{sf_dir}/documents.parquet").df)
    return P.curate_funnel(docs, min_tokens=5, min_alpha=0.5)


_RAG_ORACLE = f"""
WITH gated AS (
  SELECT doc_id, text FROM documents
  WHERE len({SQL_TOKS}) >= 5
),
ex AS (
  SELECT * EXCLUDE (rn) FROM (
    SELECT *, row_number() OVER (PARTITION BY {sql_md5_long('text')}
                                 ORDER BY doc_id) AS rn
    FROM gated
  ) WHERE rn = 1
),
toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '{WS_RE}+'),
                     t -> t != '') AS tk
  FROM ex
),
chunks AS (
  SELECT doc_id, i AS chunk_idx,
         array_to_string(tk[i*24 + 1 : i*24 + 32], ' ') AS chunk
  FROM toks,
       unnest(generate_series(0, greatest((len(tk)-1)//24, 0))) AS t(i)
),
buckets AS (
  SELECT CAST(concat('0x', substr(md5('rag' || '|' || chunk), 1, 14))
              AS BIGINT) % 256 AS bucket
  FROM chunks
),
occ AS (SELECT bucket, count(*)::BIGINT AS n FROM buckets GROUP BY bucket)
SELECT (SELECT count(*) FROM documents)::BIGINT AS n_docs_in,
       (SELECT count(*) FROM gated)::BIGINT AS n_after_gate,
       (SELECT count(*) FROM ex)::BIGINT AS n_after_dedup,
       (SELECT count(*) FROM chunks)::BIGINT AS n_chunks,
       (SELECT count(*) FROM occ)::BIGINT AS n_buckets_used,
       (SELECT max(n) FROM occ)::BIGINT AS max_bucket
"""


@query("pipeline_rag_corpus_prep", oracle=_RAG_ORACLE)
def pipeline_rag_corpus_prep(spark, sf_dir):
    """RAG INGESTION composed as ONE lazy plan — the retrieval-corpus
    twin of pipeline_corpus_curation's training-corpus pipeline:
    quality gate (narrow) → exact dedup (one content-hash shuffle) →
    context-window CHUNKING (the text_chunk_windows stride-24/width-32
    split, zero-shuffle) → hash-bucketed index assignment (the LSH
    bucket layout an ANN index ingests, 256 buckets) → one manifest
    row with per-stage counts and the index's occupancy skew (max
    bucket — the mega-bucket early warning from dedup_lsh_bucket_stats
    applied at ingest time). Every stage is an operator the registry
    verifies in isolation; this row certifies the COMPOSITION, which
    is what an ingestion job actually ships."""
    from pyspark.sql import Window

    from ..llm.text import md5_long, tokens as toks_fn

    docs = io.fan_out(io.read_parquet(spark, f"{sf_dir}/documents.parquet").df)
    gated = docs.filter(F.size(toks_fn(F.col("text"))) >= 5).select(
        "doc_id", "text"
    )
    w = Window.partitionBy(md5_long(F.col("text"))).orderBy("doc_id")
    from ..plans.cache import pin

    # unpinned: 5 documents scans at sf0.001, median ×1.12 sf0.1 / ×1.11 sf1
    ex = pin(
        gated.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    tk = ex.select("doc_id", toks_fn(F.col("text")).alias("tk"))
    chunks = pin(
        tk.select(
            "doc_id",
            F.posexplode(
                F.expr(
                    "transform(sequence(0, greatest(CAST((size(tk) - 1)"
                    " div 24 AS INT), 0)), i ->"
                    " array_join(slice(tk, i * 24 + 1, 32), ' '))"
                )
            ).alias("chunk_idx", "chunk"),
        )
    )
    occ = (
        chunks.select(
            (
                F.expr(
                    "CAST(conv(substring(md5(concat('rag', '|', chunk)),"
                    " 1, 14), 16, 10) AS BIGINT)"
                )
                % 256
            ).alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    c = lambda df, name: df.agg(F.count(F.lit(1)).alias(name))
    return (
        c(docs, "n_docs_in")
        .crossJoin(c(gated, "n_after_gate"))
        .crossJoin(c(ex, "n_after_dedup"))
        .crossJoin(c(chunks, "n_chunks"))
        .crossJoin(
            occ.agg(
                F.count(F.lit(1)).alias("n_buckets_used"),
                F.max("n").alias("max_bucket"),
            )
        )
    )


_V2_ORACLE = f"""
WITH t AS (
  SELECT doc_id, lang, text, n_chars, {SQL_TOKS} AS toks FROM documents
),
m AS (
  SELECT doc_id, lang, text, n_chars, toks,
         len(toks) AS n_words,
         list_sum(list_transform(toks, x -> length(x))) AS n_tok_chars,
         len(list_filter(toks, x -> regexp_matches(x, '[a-z]')))
           AS n_alpha_words,
         length(text) - length(replace(text, '#', ''))
           + (length(text) - length(replace(text, '...', ''))) // 3
           AS n_symbols,
         len(list_filter(['the','a','of','and','to','in','is','it',
                          'for','on'],
                         w -> list_contains(toks, w))) AS n_stops
  FROM t
),
pass AS (
  SELECT doc_id, lang, text, n_chars, toks, n_words, n_stops FROM m
  WHERE n_words >= 50 AND n_words <= 100000
    AND n_tok_chars >= 3 * n_words AND n_tok_chars <= 10 * n_words
    AND n_symbols * 10 <= n_words
    AND n_alpha_words * 5 >= n_words * 4
    AND n_stops >= 2
),
keep AS (
  SELECT doc_id, lang, toks, n_words FROM (
    SELECT doc_id, lang, toks, n_words,
           row_number() OVER (
             PARTITION BY {sql_md5_long('text')}
             ORDER BY n_chars * 1000 + n_stops DESC, doc_id) AS rk
    FROM pass
  ) WHERE rk = 1
),
bg AS (
  SELECT DISTINCT doc_id, lang,
         {sql_md5_long("'dsir|' || b[1] || '|' || b[2]")} % 1024 AS f
  FROM (
    SELECT doc_id, lang,
           unnest(list_transform(generate_series(1, (len(toks)) - 1), i -> [toks[i], toks[i + 1]]))
             AS b
    FROM keep WHERE len(toks) >= 2
  )
),
tgt AS (SELECT f, count(*) AS tgt_cnt FROM bg WHERE lang = 'en' GROUP BY f),
pool AS (SELECT f, count(*) AS all_cnt FROM bg GROUP BY f),
aff AS (
  SELECT bg.doc_id, bg.lang,
         sum((coalesce(tgt.tgt_cnt, 0) + 1) * 1000000
             // (pool.all_cnt + 1)) // count(*) AS aff_ppm
  FROM bg JOIN pool USING (f) LEFT JOIN tgt USING (f)
  GROUP BY bg.doc_id, bg.lang
),
per_lang AS (
  SELECT k.lang,
         count(*) AS n_kept,
         sum(k.n_words) AS n_tokens,
         sum(a.aff_ppm) // count(*) AS mean_aff_ppm
  FROM keep k JOIN aff a ON k.doc_id = a.doc_id
  GROUP BY k.lang
),
tot AS (SELECT sum(n_tokens) AS tok_sum FROM per_lang),
alloc AS (
  SELECT per_lang.*,
         CAST(1000000::HUGEINT * n_tokens // tot.tok_sum AS BIGINT) AS q,
         CAST(1000000::HUGEINT * n_tokens % tot.tok_sum AS HUGEINT)
           AS rem
  FROM per_lang, tot
),
d AS (SELECT CAST(1000000 - sum(q) AS BIGINT) AS deficit FROM alloc),
ranked AS (
  SELECT *, row_number() OVER (ORDER BY rem DESC, lang) AS rk FROM alloc
)
SELECT lang, CAST(n_kept AS BIGINT) AS n_kept,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(mean_aff_ppm AS BIGINT) AS mean_aff_ppm,
       CAST(q + CASE WHEN rk <= d.deficit THEN 1 ELSE 0 END AS BIGINT)
         AS budget_tokens
FROM ranked, d
"""


@query("pipeline_curation_v2", oracle=_V2_ORACLE)
def pipeline_curation_v2(spark, sf_dir):
    """The fourth-continuation ops composed into ONE lazy curation
    plan — proof the new pieces are pipeline stages, not demo
    islands: Gopher rule gate (text_gopher_rules' integer
    cross-multiplied card, applied as a FILTER before anything
    shuffles) → quality-keeper exact dedup (best surviving copy per
    content hash — here via the rk=1 window form so the kept doc's
    PAYLOAD rides along; dedup_quality_keeper's slot-packed argmax
    is the payload-free census twin) → DSIR hashed-bigram affinity
    scored ON THE KEPT SET (frequency tables rebuilt post-dedup —
    scoring pre-dedup would let duplicate crawls vote their own
    features up) → per-language census with an EXACTLY-COHERENT
    10^6-token budget split (largest-remainder, as
    orders_forecast_reconcile: Σ budget_tokens == 1,000,000 in every
    run, at every SF). Stage order is the cost order: the narrow
    gate drops rows first, the dedup shuffle sees only survivors,
    the bigram explode only keepers, and the allocation window runs
    over ≤|langs| rows. One content-hash shuffle + two bounded
    feature aggs end to end."""
    from pyspark.sql import Window

    from ..llm.text import md5_long, tokens as tok
    from ..plans.cache import pin

    docs = io.fan_out(io.read_parquet(spark, f"{sf_dir}/documents.parquet").df)
    toks = tok(F.col("text"))
    stops = ("array('the','a','of','and','to','in','is','it',"
             "'for','on')")
    m = docs.select(
        "doc_id", "lang", "text", "n_chars", toks.alias("tk"),
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
        F.size(F.filter(F.expr(stops),
                        lambda w: F.array_contains(toks, w)))
         .alias("n_stops"),
    )
    passed = m.filter(
        (F.col("n_words") >= 50) & (F.col("n_words") <= 100000)
        & (F.col("n_tok_chars") >= 3 * F.col("n_words"))
        & (F.col("n_tok_chars") <= 10 * F.col("n_words"))
        & (F.col("n_symbols") * 10 <= F.col("n_words"))
        & (F.col("n_alpha_words") * 5 >= F.col("n_words") * 4)
        & (F.col("n_stops") >= 2)
    )
    w = Window.partitionBy(md5_long(F.col("text"))).orderBy(
        F.desc(F.col("n_chars") * 1000 + F.col("n_stops")), "doc_id"
    )
    keep = pin(
        passed.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("doc_id", "lang", "tk", "n_words")
    )
    bg = keep.filter(F.size("tk") >= 2).select(
        "doc_id", "lang",
        F.explode(
            F.arrays_zip(
                F.slice(F.col("tk"), 1, F.size("tk") - 1).alias("w1"),
                F.slice(F.col("tk"), 2, F.size("tk") - 1).alias("w2"),
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
    bg = pin(bg)
    tgt = bg.filter(F.col("lang") == "en").groupBy("f").agg(
        F.count(F.lit(1)).alias("tgt_cnt"))
    pool = bg.groupBy("f").agg(F.count(F.lit(1)).alias("all_cnt"))
    aff = (
        bg.join(F.broadcast(pool), "f")
        .join(F.broadcast(tgt), "f", "left")
        .groupBy("doc_id")
        .agg(F.expr(
            "sum((coalesce(tgt_cnt, 0) + 1) * 1000000 div (all_cnt + 1))"
            " div count(*)").alias("aff_ppm"))
    )
    per_lang = (
        keep.join(aff, "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("n_words").alias("n_tokens"),
            F.expr("sum(aff_ppm) div count(*)").alias("mean_aff_ppm"),
        )
    )
    tot = per_lang.agg(F.sum("n_tokens").alias("tok_sum"))
    alloc = per_lang.crossJoin(F.broadcast(tot)).select(
        "*",
        F.expr(
            "CAST(CAST(1000000 AS DECIMAL(38,0)) * n_tokens div tok_sum"
            " AS BIGINT)").alias("q"),
        F.expr(
            "CAST(CAST(1000000 AS DECIMAL(38,0)) * n_tokens % tok_sum"
            " AS DECIMAL(38,0))").alias("rem"),
    )
    d = alloc.agg((F.lit(1000000) - F.sum("q")).cast("bigint")
                  .alias("deficit"))
    rw = Window.orderBy(F.desc("rem"), "lang")
    ranked = alloc.withColumn("rk", F.row_number().over(rw))
    return ranked.crossJoin(F.broadcast(d)).select(
        "lang",
        F.col("n_kept").cast("bigint").alias("n_kept"),
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.col("mean_aff_ppm").cast("bigint").alias("mean_aff_ppm"),
        (F.col("q") + F.when(F.col("rk") <= F.col("deficit"), 1)
         .otherwise(0)).cast("bigint").alias("budget_tokens"),
    )
