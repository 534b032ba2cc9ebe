"""Deduplication workloads over `documents`, with DuckDB oracles that
reproduce the hash math bit-for-bit (md5 -> 56-bit bigint)."""

from __future__ import annotations

from pyspark.sql import functions as F

from ..llm import dedup as D
from ..sources import io
from . import query
from .text import SQL_TOKS, sql_md5_long

N_HASHES = 4
SHINGLE = 5

def sql_shingles(shingle: int = SHINGLE) -> str:
    """SQL fragment: char n-gram shingles of the ASCII-folded text
    (translate A-Z, the ``llm/text.ascii_lower`` contract)."""
    return (
        f"list_transform(range(1, greatest(len(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz')) - {shingle - 2}, 1)), "
        f"i -> substr(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), i, {shingle}))"
    )


SQL_SHINGLES = sql_shingles()


def _sig_sql(src: str = "documents", shingle: int = SHINGLE) -> str:
    from ..llm.dedup import MINHASH_P, minhash_coef

    h32 = "CAST(concat('0x', substr(md5(s), 1, 8)) AS BIGINT)"
    mins = []
    for i in range(N_HASHES):
        a, b = minhash_coef(i)
        mins.append(
            f"list_min(list_transform(hs, h -> ({a} * h + {b}) % {MINHASH_P})) AS mh{i}"
        )
    return (
        f"SELECT doc_id, {', '.join(mins)} FROM "
        f"(SELECT doc_id, list_transform({sql_shingles(shingle)}, s -> {h32}) AS hs FROM {src})"
    )


@query(
    "dedup_exact",
    oracle=f"""
    SELECT {sql_md5_long('text')} AS content_hash,
           min(doc_id) AS keeper, count(*) AS n_dups
    FROM documents GROUP BY 1
    """,
    headline=True,
)
def dedup_exact(spark, sf_dir):
    """Exact dedup groups: one hash-shuffle, uniform keys (no skew).

    No fan_out here: the pre-shuffle work is one md5 over each doc
    (trivial), and exact_groups' own groupBy shuffle spreads the rows
    anyway — the round-robin exchange only re-shuffled full text
    payloads for nothing (A/B: ~1.6 s → ~0.4 s, results identical;
    contrast dedup_minhash_pairs, whose per-row signature pass is heavy
    and single-core-bound without it)."""
    docs = io.read_parquet(spark, f"{sf_dir}/documents.parquet").df
    return D.exact_groups(docs)


@query("dedup_minhash_signature", oracle=_sig_sql())
def dedup_minhash_signature(spark, sf_dir):
    """MinHash signatures (4 salted md5 hash funcs over char 5-grams) —
    narrow pass, array exprs only, no UDF, no shuffle."""
    docs = io.fan_out(io.read_parquet(spark, f"{sf_dir}/documents.parquet").df)
    return D.minhash_signature(docs, num_hashes=N_HASHES, shingle=SHINGLE)


@query(
    "dedup_minhash_pairs",
    oracle=f"""
    WITH sig AS ({_sig_sql()})
    SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
    FROM sig l JOIN sig r ON l.doc_id < r.doc_id
     AND ((l.mh0 = r.mh0 AND l.mh1 = r.mh1) OR (l.mh2 = r.mh2 AND l.mh3 = r.mh3))
    """,
    headline=True,
)
def dedup_minhash_pairs(spark, sf_dir):
    """LSH banding (2 bands × 2 rows): candidate pairs via equi-joins on
    band tuples — Σ|bucket|² cost, never n². The 100 TB dedup path."""
    docs = io.fan_out(io.read_parquet(spark, f"{sf_dir}/documents.parquet").df)
    sigs = D.minhash_signature(docs, num_hashes=N_HASHES, shingle=SHINGLE)
    return D.lsh_candidate_pairs(sigs, num_hashes=N_HASHES, bands=2)


def _simhash_sql(bits: int = 16) -> str:
    h = sql_md5_long("tok")
    sums = ", ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s{b}" for b in range(bits)
    )
    packed = " + ".join(f"CASE WHEN s{b} > 0 THEN {1 << b} ELSE 0 END" for b in range(bits))
    return f"""
    WITH tok AS (SELECT doc_id, unnest({SQL_TOKS}) AS tok FROM documents),
    h AS (SELECT doc_id, {h} AS h FROM tok),
    s AS (SELECT doc_id, {sums} FROM h GROUP BY doc_id)
    SELECT doc_id, CAST({packed} AS BIGINT) AS simhash FROM s
    """


@query("dedup_simhash", oracle=_simhash_sql())
def dedup_simhash(spark, sf_dir):
    """16-bit SimHash: explode tokens -> one groupBy(doc) with 16
    conditional sums (map-side partials) -> pack sign bits."""
    docs = io.fan_out(io.read_parquet(spark, f"{sf_dir}/documents.parquet").df)
    return D.simhash(docs, bits=16)


@query(
    "dedup_simhash_pairs",
    oracle=f"""
    WITH s AS ({_simhash_sql()})
    SELECT l.doc_id AS a, r.doc_id AS b,
           bit_count(xor(l.simhash, r.simhash)) AS hamming
    FROM s l JOIN s r
      ON (l.simhash >> 8) = (r.simhash >> 8) AND l.doc_id < r.doc_id
    WHERE bit_count(xor(l.simhash, r.simhash)) <= 3
    """,
)
def dedup_simhash_pairs(spark, sf_dir):
    """SimHash near-dup candidates, block = simhash >> 8 as an EQUI-join
    key (hash join, Σ|bucket|² — the 100 TB path; a hamming theta
    predicate alone would plan BroadcastNestedLoopJoin = n²)."""
    docs = io.fan_out(io.read_parquet(spark, f"{sf_dir}/documents.parquet").df)
    fps = D.simhash(docs, bits=16)
    return D.simhash_near_pairs(fps, max_hamming=3)


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH sig AS ({_sig_sql(shingle=3)}),
    cand AS (
      SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
      FROM sig l JOIN sig r ON l.doc_id < r.doc_id
       AND ((l.mh0 = r.mh0 AND l.mh1 = r.mh1) OR (l.mh2 = r.mh2 AND l.mh3 = r.mh3))
    ),
    sh AS (
      SELECT doc_id,
             list_distinct({sql_shingles(3)}) AS s
      FROM documents
    ),
    pairs AS (
      SELECT a, b,
             len(list_intersect(l.s, r.s)) AS inter,
             len(l.s) + len(r.s) - len(list_intersect(l.s, r.s)) AS uni
      FROM cand JOIN sh l ON cand.a = l.doc_id JOIN sh r ON cand.b = r.doc_id
    )
    SELECT a, b, floor(inter::DOUBLE / uni * 1000000 + 0.5) / 1000000 AS jaccard
    FROM pairs WHERE floor(inter::DOUBLE / uni * 1000000 + 0.5) / 1000000 >= 0.5
    """,
)
def dedup_ngram_jaccard(spark, sf_dir):
    """Exact 3-gram Jaccard with the DEFAULT similarity-driven blocking:
    MinHash-LSH candidates over the same 3-gram universe, then exact
    verification via two id joins (candidate→verify, Σ|bucket|² — the
    scale path; ``blocking="mod"`` remains as an explicit demo mode).
    Integer ratio -> deterministic across engines; the oracle replays
    signatures, banding AND verification."""
    docs = io.fan_out(io.read_parquet(spark, f"{sf_dir}/documents.parquet").df)
    return D.ngram_jaccard_pairs(docs, n=3, min_sim=0.5)


@query(
    "dedup_transitive_groups",
    oracle=f"""
    WITH RECURSIVE sig AS MATERIALIZED ({_sig_sql()}),
    rep AS MATERIALIZED (
      SELECT doc_id,
             min(doc_id) OVER (PARTITION BY mh0, mh1, mh2, mh3) AS rep
      FROM sig
    ),
    p AS MATERIALIZED (
      SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
      FROM sig l JOIN sig r ON l.doc_id < r.doc_id
       AND ((l.mh0 = r.mh0 AND l.mh1 = r.mh1) OR (l.mh2 = r.mh2 AND l.mh3 = r.mh3))
    ),
    -- identical-signature docs form cliques; collapse each clique to
    -- its min-id representative BEFORE the reachability CTE (the
    -- naive reach relation is O(|component|^2) tuples — quadratic in
    -- the raw graph, tractable in the rep graph). Component minima
    -- are preserved: every doc_id >= its rep, and the rep is in the
    -- same component.
    redges AS (
      SELECT DISTINCT lr.rep AS src, rr.rep AS dst
      FROM p JOIN rep lr ON p.a = lr.doc_id
             JOIN rep rr ON p.b = rr.doc_id
      WHERE lr.rep <> rr.rep
    ),
    rsym AS (SELECT src, dst FROM redges UNION SELECT dst, src FROM redges),
    rnodes AS (SELECT DISTINCT src AS id FROM rsym),
    reach(id, comp) AS (
      SELECT id, id FROM rnodes
      UNION
      SELECT rsym.dst, reach.comp FROM reach JOIN rsym ON reach.id = rsym.src
    ),
    rcomp AS (SELECT id, min(comp) AS comp FROM reach GROUP BY id),
    -- explicit DISTINCT: inside WITH RECURSIVE, DuckDB treats UNION in
    -- non-self-referential CTEs as the recursive union (no dedup)
    members AS (
      SELECT DISTINCT doc_id FROM (
        SELECT a AS doc_id FROM p UNION ALL SELECT b FROM p
      )
    )
    SELECT m.doc_id, coalesce(rc.comp, r2.rep) AS keeper
    FROM members m JOIN rep r2 ON m.doc_id = r2.doc_id
    LEFT JOIN rcomp rc ON r2.rep = rc.id
    """,
)
def dedup_transitive_groups(spark, sf_dir):
    """TRANSITIVE near-dup clustering: LSH candidate pairs as an edge
    set, connected components over it, min-id keeper per component —
    the dedup policy that also collapses A~B~C chains where A and C
    never co-bucket. Composes two engine layers (llm.dedup bucket join
    + lib.graphs min-label fixpoint with per-round localCheckpoint);
    the oracle replays both (signature SQL + recursive CTE)."""
    from ..lib.graphs import connected_components

    docs = io.fan_out(io.read_parquet(spark, f"{sf_dir}/documents.parquet").df)
    sigs = D.minhash_signature(docs, num_hashes=N_HASHES, shingle=SHINGLE)
    pairs = D.lsh_candidate_pairs(sigs, num_hashes=N_HASHES, bands=2)
    edges = pairs.select(F.col("a").alias("src"), F.col("b").alias("dst"))
    cc = connected_components(edges)
    from ..plans.iterate import carry_ckpt

    return carry_ckpt(
        cc.select(F.col("id").alias("doc_id"), F.col("comp").alias("keeper")), cc
    )


@query(
    "sketch_kmv_distinct",
    oracle=f"""
    WITH h AS (
      SELECT DISTINCT l_returnflag,
             {sql_md5_long("concat('kmv', '|', CAST(l_partkey AS VARCHAR))")} AS hh
      FROM lineitem
    ), topk AS (
      SELECT l_returnflag, hh,
             row_number() OVER (PARTITION BY l_returnflag ORDER BY hh) AS rk
      FROM h
    ), agg AS (
      SELECT l_returnflag, count(*) AS n_mins, max(hh) AS hk
      FROM topk WHERE rk <= 32 GROUP BY l_returnflag
    ), est AS (
      SELECT l_returnflag,
             CASE WHEN n_mins < 32 THEN n_mins
                  ELSE CAST(CAST(31 * 72057594037927936 AS HUGEINT) // hk
                            AS BIGINT) END AS est_distinct,
             n_mins
      FROM agg
    )
    SELECT e.l_returnflag, e.est_distinct, e.n_mins, x.exact_distinct
    FROM est e JOIN (
      SELECT l_returnflag, count(DISTINCT l_partkey) AS exact_distinct
      FROM lineitem GROUP BY l_returnflag
    ) x ON e.l_returnflag = x.l_returnflag
    """,
)
def sketch_kmv_distinct(spark, sf_dir):
    """KMV distinct-count sketch (llm/text.kmv_distinct_estimate) next
    to the exact count: a deterministic, engine-portable cardinality
    estimator — integer arithmetic end to end, so the DuckDB twin
    reproduces the ESTIMATE exactly (HLL register layouts never
    cross-check). k=32 smallest distinct 56-bit hashes per group."""
    from ..llm.text import kmv_distinct_estimate

    li = io.read_parquet(spark, f"{sf_dir}/lineitem.parquet").df
    est = kmv_distinct_estimate(li, "l_returnflag", "l_partkey", k=32)
    exact = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("exact_distinct")
    )
    return est.join(exact, "l_returnflag")


@query(
    "dedup_paragraph_exact",
    oracle=f"""
    WITH w AS (SELECT doc_id, {SQL_TOKS} AS toks FROM documents),
    ch AS (
      SELECT doc_id, i AS chunk_idx,
             array_to_string(toks[(i*4+1):(i*4+4)], ' ') AS chunk
      FROM w, unnest(generate_series(0, greatest((len(toks)+3)//4 - 1, 0))) AS t(i)
    ),
    win AS (SELECT chunk, min(doc_id::HUGEINT * 1000000000000 + chunk_idx)
              AS wk
            FROM ch GROUP BY chunk),
    kept AS (SELECT CAST(wk // 1000000000000 AS BIGINT) AS doc_id,
                    count(*) AS n_kept
             FROM win GROUP BY 1),
    tot AS (SELECT doc_id, count(*) AS n_chunks FROM ch GROUP BY doc_id)
    SELECT t.doc_id, t.n_chunks, coalesce(k.n_kept, 0) AS n_kept
    FROM tot t LEFT JOIN kept k ON t.doc_id = k.doc_id
    """,
)
def dedup_paragraph_exact(spark, sf_dir):
    """Sub-document (paragraph/span) exact dedup — the C4-style pass
    that removes REPEATED SPANS across a corpus while keeping the
    first occurrence: documents are cut into consecutive 4-token
    chunks, each distinct chunk keeps its globally-first (doc,
    position) occurrence, and every document reports how many of its
    chunks survived. Plan: the chunking is pure array HOFs (narrow —
    split/slice/array_join before anything wide); dedup is ONE
    hash-shuffle of (chunk -> min composite key) with map-side
    partial min; the winner's doc is recovered ARITHMETICALLY from
    the composite key (doc_id·10^12 + chunk_idx in DECIMAL(38,0) —
    the position slot stays wider than any realistic chunk count per
    document, the widened-slot rule), so there is NO join
    back to the exploded chunk table, just a tiny per-doc count agg
    LEFT-joined to the per-doc totals. At 100 TB: explode factor is
    bounded (~tokens/4 rows per doc), both aggs are map-side
    combinable, and nothing global exists in the plan."""
    from ..llm import text as X

    docs = io.fan_out(io.read_parquet(spark, f"{sf_dir}/documents.parquet").df)
    d = docs.select("doc_id", X.tokens(F.col("text")).alias("toks")).select(
        "doc_id",
        F.expr(
            "transform(sequence(0, greatest(cast((size(toks) + 3) div 4 AS int)"
            " - 1, 0)), i -> array_join(slice(toks, i*4+1, 4), ' '))"
        ).alias("chunks"),
    )
    ex = d.select("doc_id", F.posexplode("chunks").alias("chunk_idx", "chunk"))
    win = ex.groupBy("chunk").agg(
        F.min(
            F.col("doc_id").cast("decimal(38,0)") * F.lit(1000000000000)
            + F.col("chunk_idx")
        ).alias("wk")
    )
    kept = (
        win.select(F.expr("CAST(wk div 1000000000000 AS BIGINT)").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )
    tot = d.select("doc_id", F.size("chunks").cast("bigint").alias("n_chunks"))
    return tot.join(kept, "doc_id", "left").select(
        "doc_id", "n_chunks", F.coalesce("n_kept", F.lit(0)).alias("n_kept")
    )


@query(
    "dedup_prefix_jaccard_exact",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, list_distinct({sql_shingles(10)}) AS sh
      FROM documents WHERE doc_id % 3 = 0
    ),
    idx AS (SELECT doc_id, unnest(sh) AS s FROM d),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*)::BIGINT AS inter
      FROM idx a JOIN idx b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    sz AS (SELECT doc_id, len(sh)::BIGINT AS n FROM d)
    SELECT doc_a, doc_b, inter,
           (sa.n + sb.n - inter)::BIGINT AS un,
           floor(inter::DOUBLE / (sa.n + sb.n - inter) * 10000 + 0.5) / 10000
             AS jacc
    FROM pairs
    JOIN sz sa ON pairs.doc_a = sa.doc_id
    JOIN sz sb ON pairs.doc_b = sb.doc_id
    WHERE 10 * inter >= 7 * (sa.n + sb.n - inter)
    """,
)
def dedup_prefix_jaccard_exact(spark, sf_dir):
    """EXACT set-similarity join (Jaccard >= 0.7 on 10-char shingle
    sets) via AllPairs/PPJoin prefix filtering — the LOSSLESS
    candidate-generation alternative to MinHash banding
    (dedup_ngram_jaccard): LSH candidates miss true pairs with
    probability (1-t^r)^b > 0, the prefix filter provably misses
    none. Ordering the universe by ascending document frequency and
    keeping only each set's first ``n - ceil(t*n) + 1`` tokens, any
    two sets with Jaccard >= t MUST share a prefix token (Chaudhuri
    et al., ICDE'06; Xiao et al. WWW'08 — public algorithm), so the
    candidate join runs on the RAREST tokens: bucket sizes follow
    the low tail of the df distribution, Sigma_t df_prefix(t)^2 <<
    Sigma_t df(t)^2 of the naive inverted-index join (the oracle,
    which computes the same answer quadratically and thereby proves
    losslessness differentially).

    Plan at 100 TB: shingling is narrow array HOFs; the df table is
    one hash-agg; the doc->(token, pos) ranking window is PARTITIONED
    by doc (bounded per-doc cardinality, never global); the candidate
    self-join shuffles only prefix tokens (ascending-df order =
    smallest buckets); verification attaches the two shingle arrays
    by id equi-join and intersects per pair — integer threshold
    compare 10*inter >= 7*union, no float until the final display
    quantization. Reference parity: the reference has no set-
    similarity join at all; this is LLM-pipeline surface (SURVEY
    brief: n-gram Jaccard dedup), upgraded from approximate to exact."""
    docs = io.fan_out(io.read_parquet(spark, f"{sf_dir}/documents.parquet").df)
    pairs = D.prefix_jaccard_pairs(
        docs.filter(F.col("doc_id") % 3 == 0), n=10, t_num=7, t_den=10
    )
    jacc = F.floor(F.col("inter") / F.col("un") * 10000 + F.lit(0.5)) / 10000
    return pairs.select("doc_a", "doc_b", "inter", "un", jacc.alias("jacc"))


@query(
    "dedup_lsh_recall_eval",
    oracle=f"""
    WITH dsub AS (SELECT * FROM documents WHERE doc_id % 3 = 0),
    sh AS (
      SELECT doc_id, list_distinct({sql_shingles(10)}) AS s FROM dsub
    ),
    idx AS (SELECT doc_id, unnest(s) AS tok FROM sh),
    ov AS (
      SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS inter
      FROM idx a JOIN idx b ON a.tok = b.tok AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    sz AS (SELECT doc_id, len(s) AS n FROM sh),
    exact_p AS (
      SELECT a, b FROM ov
      JOIN sz sa ON ov.a = sa.doc_id JOIN sz sb ON ov.b = sb.doc_id
      WHERE 10 * inter >= 7 * (sa.n + sb.n - inter)
    ),
    sig AS ({_sig_sql(src="(SELECT * FROM documents WHERE doc_id % 3 = 0)", shingle=10)}),
    cand AS (
      SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
      FROM sig l JOIN sig r ON l.doc_id < r.doc_id
       AND ((l.mh0 = r.mh0 AND l.mh1 = r.mh1) OR (l.mh2 = r.mh2 AND l.mh3 = r.mh3))
    ),
    ver AS (
      SELECT cand.a, cand.b
      FROM cand JOIN sh l ON cand.a = l.doc_id JOIN sh r ON cand.b = r.doc_id
      WHERE 10 * len(list_intersect(l.s, r.s))
            >= 7 * (len(l.s) + len(r.s) - len(list_intersect(l.s, r.s)))
    )
    SELECT (SELECT count(*) FROM exact_p)::BIGINT AS n_exact,
           (SELECT count(*) FROM cand)::BIGINT AS n_candidates,
           (SELECT count(*) FROM ver)::BIGINT AS n_verified,
           CAST(CASE WHEN (SELECT count(*) FROM exact_p) = 0 THEN NULL
                ELSE (SELECT count(*) FROM ver)::HUGEINT * 1000000
                     // (SELECT count(*) FROM exact_p) END AS BIGINT)
             AS recall_ppm
    """,
)
def dedup_lsh_recall_eval(spark, sf_dir):
    """Candidate-generation QUALITY evaluation — the harness every
    approximate dedup deployment needs before trusting LSH at 100 TB:
    ground truth is the LOSSLESS prefix-filter join
    (prefix_jaccard_pairs, Jaccard >= 0.7 on 10-char shingles);
    the system under test is MinHash banding (4 hashes, 2 bands) over
    the SAME shingle universe with exact verification. Verified LSH
    pairs are by construction a SUBSET of the truth (same exact
    criterion, candidates only), so precision is 1 and the metric is
    RECALL = verified/exact in exact ppm — the empirical
    1-(1-t^r)^b. Also reports the raw candidate count (the cost side
    of the tradeoff: bands buy recall with bucket-collision volume).
    Scale: truth via df-ascending prefix buckets, candidates via
    banding buckets — both Σ|bucket|²; three single-row aggs
    broadcast-joined. The oracle replays BOTH algorithms end to end."""
    docs = io.fan_out(io.read_parquet(spark, f"{sf_dir}/documents.parquet").df)
    sub = docs.filter(F.col("doc_id") % 3 == 0)
    exact = D.prefix_jaccard_pairs(sub, n=10, t_num=7, t_den=10)
    sigs = D.minhash_signature(sub, shingle=10)
    cand = D.lsh_candidate_pairs(sigs)
    from ..llm.text import char_ngrams

    base = sub.select(
        "doc_id", F.array_distinct(char_ngrams(F.col("text"), n=10)).alias("sh")
    )
    ver = (
        cand.join(base.select(F.col("doc_id").alias("a"),
                              F.col("sh").alias("sh_a")), "a")
        .join(base.select(F.col("doc_id").alias("b"),
                          F.col("sh").alias("sh_b")), "b")
        .filter(
            F.lit(10) * F.size(F.array_intersect("sh_a", "sh_b"))
            >= F.lit(7) * (F.size("sh_a") + F.size("sh_b")
                           - F.size(F.array_intersect("sh_a", "sh_b")))
        )
    )
    ne = exact.agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("n_exact"))
    nc = cand.agg(F.count(F.lit(1)).alias("n_candidates"))
    nv = ver.agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("n_verified"))
    return (
        ne.crossJoin(nc).crossJoin(nv)
        .select(
            F.col("n_exact").cast("bigint").alias("n_exact"),
            F.col("n_candidates").cast("bigint").alias("n_candidates"),
            F.col("n_verified").cast("bigint").alias("n_verified"),
            F.when(F.col("n_exact") == 0, F.lit(None).cast("bigint"))
            .otherwise(F.expr(
                "CAST(n_verified * 1000000 div n_exact AS BIGINT)"
            ))
            .alias("recall_ppm"),
        )
    )


@query(
    "pipeline_split_leakage_audit",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, text,
             CAST(concat('0x', substr(md5('split' || '|'
                  || CAST(doc_id AS VARCHAR)), 1, 14)) AS BIGINT) % 10 < 8
               AS is_train
      FROM documents WHERE doc_id % 3 = 0
    ),
    sh AS (SELECT doc_id, is_train, list_distinct({sql_shingles(10)}) AS s
           FROM d),
    idx AS (SELECT doc_id, unnest(s) AS tok FROM sh),
    ov AS (
      SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS inter
      FROM idx a JOIN idx b ON a.tok = b.tok AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT ov.a, ov.b, sa.is_train AS ta, sb.is_train AS tb
      FROM ov
      JOIN sh sa ON ov.a = sa.doc_id JOIN sh sb ON ov.b = sb.doc_id
      WHERE 10 * inter >= 7 * (len(sa.s) + len(sb.s) - inter)
    )
    SELECT (SELECT count(*) FROM d WHERE is_train)::BIGINT AS n_train,
           (SELECT count(*) FROM d WHERE NOT is_train)::BIGINT AS n_eval,
           (SELECT count(*) FROM pairs)::BIGINT AS n_neardup_pairs,
           (SELECT count(*) FROM pairs WHERE ta != tb)::BIGINT
             AS n_cross_split,
           CAST(CASE WHEN (SELECT count(*) FROM d WHERE NOT is_train) = 0
                THEN 0
                ELSE (SELECT count(DISTINCT CASE WHEN NOT ta THEN a
                                   WHEN NOT tb THEN b END)
                      FROM pairs WHERE ta != tb)::HUGEINT * 1000000
                  // (SELECT count(*) FROM d WHERE NOT is_train)
           END AS BIGINT) AS eval_contaminated_ppm
    FROM (SELECT 1)
    """,
)
def pipeline_split_leakage_audit(spark, sf_dir):
    """Train/eval SPLIT LEAKAGE audit — the check every training
    pipeline must pass before reporting eval numbers: after a
    deterministic 80/20 hash split (md5, never RNG — the split must
    replay), how many NEAR-DUPLICATE pairs (exact Jaccard >= 0.7 via
    the lossless prefix filter) CROSS the split boundary, and what
    fraction of eval docs are thereby contaminated (an eval doc with
    a near-twin in train inflates measured quality — the leakage
    text_decontaminate catches for n-gram overlap, here at
    whole-document similarity). Exact-duplicate leakage is impossible
    by construction (identical text => identical shingle set => the
    pair appears here with Jaccard 1). Plan: the prefix-filter join
    (rarest-token candidates) + two slim flag joins + counting;
    contamination as exact integer ppm. The oracle replays the split
    hash and the full quadratic truth."""
    docs = io.fan_out(io.read_parquet(spark, f"{sf_dir}/documents.parquet").df)
    sub = docs.filter(F.col("doc_id") % 3 == 0).withColumn(
        "is_train",
        F.expr(
            "CAST(conv(substring(md5(concat('split', '|',"
            " CAST(doc_id AS STRING))), 1, 14), 16, 10) AS BIGINT) % 10 < 8"
        ),
    )
    pairs = D.prefix_jaccard_pairs(sub, n=10, t_num=7, t_den=10)
    flags = sub.select("doc_id", "is_train")
    tagged = (
        pairs.join(flags.select(F.col("doc_id").alias("doc_a"),
                                F.col("is_train").alias("ta")), "doc_a")
        .join(flags.select(F.col("doc_id").alias("doc_b"),
                           F.col("is_train").alias("tb")), "doc_b")
    )
    counts = sub.agg(
        # coalesce: sum over an EMPTY corpus is NULL while the oracle's
        # count(*) FILTER is 0
        F.coalesce(F.sum(F.when(F.col("is_train"), 1).otherwise(0)),
                   F.lit(0)).alias("n_train"),
        F.coalesce(F.sum(F.when(F.col("is_train"), 0).otherwise(1)),
                   F.lit(0)).alias("n_eval"),
    )
    pair_stats = tagged.agg(
        F.count(F.lit(1)).alias("n_neardup_pairs"),
        # coalesce: sum over ZERO pair rows is NULL while the oracle's
        # count(*) FILTER is 0 — an empty near-dup set must report 0
        F.coalesce(
            F.sum(F.when(F.col("ta") != F.col("tb"), 1).otherwise(0)),
            F.lit(0),
        ).alias("n_cross_split"),
        F.countDistinct(
            F.when(F.col("ta") != F.col("tb"),
                   F.when(~F.col("ta"), F.col("doc_a"))
                    .otherwise(F.col("doc_b")))
        ).alias("n_eval_contaminated"),
    )
    return counts.crossJoin(F.broadcast(pair_stats)).select(
        F.col("n_train").cast("bigint").alias("n_train"),
        F.col("n_eval").cast("bigint").alias("n_eval"),
        F.col("n_neardup_pairs").cast("bigint").alias("n_neardup_pairs"),
        F.col("n_cross_split").cast("bigint").alias("n_cross_split"),
        F.expr(
            "CAST(CASE WHEN n_eval = 0 THEN 0 ELSE"
            " CAST(n_eval_contaminated AS DECIMAL(38,0)) * 1000000 div n_eval"
            " END AS BIGINT)"
        ).alias("eval_contaminated_ppm"),
    )


@query(
    "dedup_lsh_bucket_stats",
    oracle=f"""
    WITH sig AS ({_sig_sql(shingle=5)}),
    buckets AS (
      -- HUGEINT lift: mh < 2^32 times the >32-bit prime can exceed
      -- int64 (found by the r6 fuzz on short-doc corpora, where
      -- signature minima stay large); the Spark side lifts to
      -- decimal(38,0) for the same reason
      SELECT 0 AS band, mh0::HUGEINT * 4294967311 + mh1 AS key FROM sig
        WHERE mh0 IS NOT NULL
      UNION ALL
      SELECT 1, mh2::HUGEINT * 4294967311 + mh3 FROM sig
        WHERE mh2 IS NOT NULL
    ),
    bs AS (SELECT band, key, count(*)::HUGEINT AS sz
           FROM buckets GROUP BY 1, 2)
    SELECT CAST(band AS BIGINT) AS band,
           count(*)::BIGINT AS n_buckets,
           CAST(max(sz) AS BIGINT) AS max_bucket,
           CAST(sum(sz * (sz - 1) // 2) AS BIGINT) AS candidate_pairs,
           CAST(sum(CASE WHEN sz = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS singleton_buckets
    FROM bs GROUP BY band
    """,
)
def dedup_lsh_bucket_stats(spark, sf_dir):
    """LSH bucket-distribution INTROSPECTION — the pre-flight the
    repo's own scale notes keep citing: every banded join costs
    Σ|bucket|·(|bucket|−1)/2 candidate comparisons, so this query
    computes that number EXACTLY per band (plus max bucket and
    singleton count) BEFORE anyone runs the join — the mega-bucket
    early-warning (a near-duplicate-saturated corpus collapses into
    one giant bucket and the 'bucketed' join silently goes
    quadratic; the documented mitigation is exact-dedup-first, as
    pipeline_corpus_curation orders its stages). Band keys widen
    (mh0·p + mh1) with a >32-bit prime multiplier so distinct
    signature pairs cannot collide in the key (widened-slot rule).
    One signature build + one bucket hash-agg; output is 2 rows.
    The same introspection applied to dq_join_explosion_audit's
    general joins, specialized to the minhash banding layout."""
    docs = io.fan_out(io.read_parquet(spark, f"{sf_dir}/documents.parquet").df)
    sig = D.minhash_signature(docs, shingle=5)
    dec = "decimal(38,0)"
    P = "4294967311"
    b0 = sig.filter(F.col("mh0").isNotNull()).select(
        F.lit(0).alias("band"),
        F.expr(f"CAST(mh0 AS {dec}) * {P} + mh1").alias("key"))
    b1 = sig.filter(F.col("mh2").isNotNull()).select(
        F.lit(1).alias("band"),
        F.expr(f"CAST(mh2 AS {dec}) * {P} + mh3").alias("key"))
    bs = b0.unionByName(b1).groupBy("band", "key").agg(
        F.count(F.lit(1)).cast(dec).alias("sz"))
    return bs.groupBy(F.col("band").cast("bigint").alias("band")).agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.max("sz").cast("bigint").alias("max_bucket"),
        F.expr("CAST(sum(sz * (sz - 1) div 2) AS BIGINT)")
          .alias("candidate_pairs"),
        F.expr("CAST(sum(CASE WHEN sz = 1 THEN 1 ELSE 0 END) AS BIGINT)")
          .alias("singleton_buckets"),
    )


@query(
    "dedup_containment_pairs",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, list_distinct({sql_shingles(10)}) AS sh
      FROM documents WHERE doc_id % 3 = 0
    ),
    idx AS (SELECT doc_id, len(sh)::BIGINT AS n, unnest(sh) AS s FROM d),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.n AS n_a, b.n AS n_b, count(*)::BIGINT AS inter
      FROM idx a JOIN idx b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2, 3, 4
    ),
    directed AS (
      SELECT doc_a AS src, doc_b AS dst, inter, n_a AS n_src FROM inter
      UNION ALL
      SELECT doc_b AS src, doc_a AS dst, inter, n_b AS n_src FROM inter
    )
    SELECT src, dst, inter, n_src,
           CAST(inter::HUGEINT * 1000000 // n_src AS BIGINT) AS cont_ppm
    FROM directed WHERE 5 * inter >= 3 * n_src
    """,
)
def dedup_containment_pairs(spark, sf_dir):
    """Asymmetric CONTAINMENT dedup (|A∩B|/|A| >= 0.6 on 10-char
    shingle sets) — catches the subset-duplicate relation symmetric
    Jaccard misses (a short doc quoted inside a long one: high
    containment, low Jaccard). Exact inverted-index self-join, pair
    cost Σ df(s)² (the text_sparse_cosine_pairs bound); each unordered
    pair fans out to its two DIRECTED rows, thresholded by the integer
    cross-multiplication 5·inter >= 3·|src| with the exact-ppm
    containment alongside. Same doc_id % 3 sparsified corpus as
    dedup_prefix_jaccard_exact so the two relations are directly
    comparable at any SF. See llm/dedup.containment_pairs."""
    docs = io.fan_out(io.read_parquet(spark, f"{sf_dir}/documents.parquet").df)
    return D.containment_pairs(
        docs.filter(F.col("doc_id") % 3 == 0), n=10, t_num=3, t_den=5
    )


@query(
    "dedup_substring_coverage",
    oracle="""
    WITH inst AS (
      SELECT doc_id, i AS pos,
             CAST(concat('0x', substr(md5(substr(text, i, 40)), 1, 14))
                  AS BIGINT) AS h
      FROM documents,
           unnest(generate_series(1, greatest(len(text) - 39, 0))) AS t(i)
    ),
    marked AS (
      SELECT doc_id, pos, pos + 39 AS e,
             count(*) OVER (PARTITION BY h) AS cnt
      FROM inst
    ),
    dup AS (SELECT doc_id, pos, e FROM marked WHERE cnt >= 2),
    flagged AS (
      SELECT doc_id, pos, e,
             CASE WHEN pos > coalesce(max(e) OVER (PARTITION BY doc_id
               ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND 1
               PRECEDING), -1) THEN 1 ELSE 0 END AS new_island
      FROM dup
    ),
    islands AS (
      SELECT doc_id, pos, e,
             sum(new_island) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS UNBOUNDED PRECEDING) AS island
      FROM flagged
    ),
    spans AS (
      SELECT doc_id, island, max(e) - min(pos) + 1 AS covered
      FROM islands GROUP BY 1, 2
    ),
    per_doc AS (
      SELECT doc_id, sum(covered)::BIGINT AS covered_chars
      FROM spans GROUP BY doc_id
    )
    SELECT d.doc_id, len(d.text)::BIGINT AS n_chars, p.covered_chars,
           CAST(p.covered_chars::HUGEINT * 1000000 // len(d.text)
                AS BIGINT) AS dup_ppm
    FROM per_doc p JOIN documents d ON p.doc_id = d.doc_id
    WHERE len(d.text) > 0
    """,
)
def dedup_substring_coverage(spark, sf_dir):
    """EXACT-SUBSTRING duplication coverage (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better" —
    public): the fraction of each document's characters lying inside
    a 40-char substring that occurs at least twice anywhere in the
    corpus. The suffix-array formulation doesn't distribute; this
    dataflow does, exactly: every position's 40-gram (stride 1),
    hashed to the repo's 56-bit md5 slice; an occurrence count via
    ONE window partitioned by hash (count(*) OVER h — a shuffle on
    the hash, no join, map-side combinable); positions of repeated
    grams become [pos, pos+39] spans, merged per document with the
    gaps-and-islands running-max window (PARTITIONED by doc — bounded
    per-doc work, never global) so overlapping spans aren't double
    counted; coverage is exact integer chars and ppm. Flags the
    boilerplate/mirror contamination paragraph-level dedup
    (dedup_paragraph_exact) can't see when the repeated run doesn't
    align with paragraph boundaries. At 100 TB the hash window's
    skew ceiling is the same mega-bucket story as LSH banding —
    ultra-common grams (licenses, headers) dominate; the standard
    mitigation is dropping grams above a df cap, which only
    UNDER-counts coverage (one-sided, like the bloom decontaminator)."""
    docs = io.fan_out(io.read_parquet(spark, f"{sf_dir}/documents.parquet").df)
    from pyspark.sql import Window

    inst = docs.filter(F.length("text") >= 40).select(
        "doc_id",
        F.posexplode(
            F.expr(
                "transform(sequence(1, greatest(length(text) - 39, 1)),"
                " i -> CAST(conv(substring(md5(substring(text, i, 40)),"
                " 1, 14), 16, 10) AS BIGINT))"
            )
        ).alias("pos0", "h"),
    ).select(
        "doc_id", (F.col("pos0") + 1).alias("pos"),
        (F.col("pos0") + 40).alias("e"), "h",
    )
    cnt_w = Window.partitionBy("h")
    dup = inst.withColumn("cnt", F.count(F.lit(1)).over(cnt_w)).filter(
        F.col("cnt") >= 2
    )
    doc_w = Window.partitionBy("doc_id").orderBy("pos")
    prev_max = F.max("e").over(doc_w.rowsBetween(Window.unboundedPreceding, -1))
    flagged = dup.withColumn(
        "new_island",
        F.when(F.col("pos") > F.coalesce(prev_max, F.lit(-1)), 1).otherwise(0),
    )
    islands = flagged.withColumn(
        "island",
        F.sum("new_island").over(doc_w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    spans = islands.groupBy("doc_id", "island").agg(
        (F.max("e") - F.min("pos") + 1).alias("covered")
    )
    per_doc = spans.groupBy("doc_id").agg(
        F.sum("covered").cast("bigint").alias("covered_chars")
    )
    base = docs.select("doc_id", F.length("text").cast("bigint").alias("n_chars"))
    return per_doc.join(base, "doc_id").filter(F.col("n_chars") > 0).select(
        "doc_id", "n_chars", "covered_chars",
        F.expr(
            "CAST(CAST(covered_chars AS DECIMAL(38,0)) * 1000000"
            " div n_chars AS BIGINT)"
        ).alias("dup_ppm"),
    )


@query(
    "dedup_similarity_histogram",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, list_distinct({sql_shingles(10)}) AS sh
      FROM documents WHERE doc_id % 3 = 0
    ),
    idx AS (SELECT doc_id, unnest(sh) AS s FROM d),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*)::BIGINT AS inter
      FROM idx a JOIN idx b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    sz AS (SELECT doc_id, len(sh)::BIGINT AS n FROM d),
    j AS (
      SELECT inter * 10 // (sa.n + sb.n - inter) AS decile
      FROM pairs
      JOIN sz sa ON pairs.doc_a = sa.doc_id
      JOIN sz sb ON pairs.doc_b = sb.doc_id
    )
    SELECT decile, count(*)::BIGINT AS n_pairs
    FROM j GROUP BY decile
    """,
)
def dedup_similarity_histogram(spark, sf_dir):
    """PAIR-SIMILARITY HISTOGRAM — the evidence a dedup threshold
    decision should rest on: among ALL document pairs sharing any
    shingle, how many fall in each Jaccard decile? A bimodal
    histogram (this corpus: 12k+ background pairs at decile 0, a
    handful of near-dups at decile 9) justifies a clean threshold
    (dedup_prefix_jaccard_exact); a smeared one warns that any
    threshold is arbitrary and LSH banding parameters need re-tuning
    (dedup_lsh_recall_eval then measures the miss rate). Exact
    inverted-index pair intersections (the Σ df² bound), integer
    cross-multiplied threshold and decile binning — no float at all.
    Output is <= 10 rows regardless of corpus size."""
    docs = io.fan_out(io.read_parquet(spark, f"{sf_dir}/documents.parquet").df)
    d = docs.filter(F.col("doc_id") % 3 == 0).select(
        "doc_id",
        F.array_distinct(
            F.expr(
                "CASE WHEN length(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz')) >= 10 THEN"
                " transform(sequence(1, length(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz')) - 9),"
                " i -> substring(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), i, 10))"
                " ELSE CAST(array() AS array<string>) END"
            )
        ).alias("sh"),
    )
    idx = d.select(
        "doc_id", F.size("sh").cast("bigint").alias("n"),
        F.explode("sh").alias("s"),
    )
    a, b = idx.alias("a"), idx.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n").alias("na"),
            F.col("b.n").alias("nb"),
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    j = pairs.select(
        F.expr("inter * 10 div (na + nb - inter)").alias("decile")
    )
    return j.groupBy("decile").agg(F.count(F.lit(1)).alias("n_pairs"))


@query(
    "dedup_winnowing_fingerprints",
    oracle=f"""
    WITH h AS (
      SELECT doc_id,
             list_transform({sql_shingles(8)},
               s -> CAST(concat('0x', substr(md5(s), 1, 14)) AS BIGINT))
               AS hs
      FROM documents
    ),
    w AS (
      SELECT doc_id, len(hs)::BIGINT AS n_shingles,
             CASE WHEN len(hs) >= 4 THEN
               list_distinct(list_transform(
                 range(1, len(hs) - 2),
                 i -> least(hs[i], hs[i+1], hs[i+2], hs[i+3])))
             ELSE list_distinct(hs) END AS fps
      FROM h
    )
    SELECT doc_id, n_shingles,
           len(fps)::BIGINT AS n_fingerprints,
           CASE WHEN len(fps) > 0 THEN list_min(fps) END AS min_fp
    FROM w WHERE n_shingles > 0
    """,
)
def dedup_winnowing_fingerprints(spark, sf_dir):
    """WINNOWING document fingerprints (Schleimer, Wilkerson, Aiken
    2003 — the MOSS algorithm, public): from each sliding window of
    w=4 consecutive 8-char shingle hashes keep the MINIMUM, then
    dedupe — the selection guarantee is that any shared substring of
    length >= w + shingle - 1 (= 11 chars) leaves at least one
    IDENTICAL fingerprint in both documents, while storing only
    ~2/(w+1) of all hashes. The registry's full-gram approach
    (dedup_substring_coverage) keeps every position; winnowing is
    the sublinear-index variant plagiarism/clone detectors actually
    ship. Entirely narrow array HOFs (shingle -> hash -> windowed min
    -> distinct) — ZERO shuffle; whatever consumes the fingerprints
    (an inverted index, exactly dedup_substring_coverage's plan
    downstream) pays the first exchange. Short docs (< w+shingle
    chars) degrade to their distinct hash set, the boundary rule
    both engines replay."""
    docs = io.fan_out(io.read_parquet(spark, f"{sf_dir}/documents.parquet").df)
    h = docs.select(
        "doc_id",
        F.expr(
            "CASE WHEN length(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz')) >= 8 THEN"
            " transform(sequence(1, length(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz')) - 7),"
            " i -> CAST(conv(substring(md5(substring(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), i, 8)),"
            " 1, 14), 16, 10) AS BIGINT))"
            " ELSE CAST(array() AS array<bigint>) END"
        ).alias("hs"),
    )
    w = h.select(
        "doc_id",
        F.size("hs").cast("bigint").alias("n_shingles"),
        F.expr(
            "CASE WHEN size(hs) >= 4 THEN"
            " array_distinct(transform(sequence(1, size(hs) - 3),"
            " i -> least(element_at(hs, i), element_at(hs, i + 1),"
            " element_at(hs, i + 2), element_at(hs, i + 3))))"
            " ELSE array_distinct(hs) END"
        ).alias("fps"),
    )
    return w.filter(F.col("n_shingles") > 0).select(
        "doc_id", "n_shingles",
        F.size("fps").cast("bigint").alias("n_fingerprints"),
        F.when(F.size("fps") > 0, F.array_min("fps")).alias("min_fp"),
    )


@query(
    "dedup_boilerplate_lines",
    oracle=f"""
    WITH d AS (SELECT doc_id, source, {SQL_TOKS} AS toks FROM documents),
    lines AS (
      SELECT doc_id, source,
             array_to_string(toks[i*8 + 1 : i*8 + 8], ' ') AS line
      FROM d, unnest(generate_series(0,
             greatest((len(toks) - 1) // 8, 0))) AS t(i)
      WHERE len(toks) > 0
    ),
    counts AS (
      SELECT source, line, count(*)::BIGINT AS cnt
      FROM lines GROUP BY 1, 2
    )
    SELECT source,
           sum(cnt)::BIGINT AS n_lines,
           count(*)::BIGINT AS n_distinct_lines,
           coalesce(sum(CASE WHEN cnt >= 3 THEN cnt END), 0)::BIGINT
             AS n_boilerplate_instances,
           CAST(coalesce(sum(CASE WHEN cnt >= 3 THEN cnt END), 0)::HUGEINT
                * 1000000 // sum(cnt) AS BIGINT) AS boilerplate_ppm
    FROM counts GROUP BY source
    """,
)
def dedup_boilerplate_lines(spark, sf_dir):
    """WITHIN-SOURCE boilerplate line removal audit — the CCNet rule
    (public): a line repeated across many documents OF THE SAME
    SOURCE is boilerplate (headers, footers, nav chrome), even when
    it is globally rare; grouping by source is what distinguishes
    this from global span dedup (dedup_paragraph_exact), which would
    either miss per-site chrome or over-delete cross-site idioms.
    This corpus is single-line, so 'lines' are synthesized as 8-token
    chunks (the plumbing is identical for real newline splits): one
    narrow chunking pass, one (source, line) hash-agg — partial
    combine bounds the shuffle by the distinct-line count — and a
    per-source roll-up of instances occurring >= 3 times, with the
    removal fraction in exact ppm. The flagged (source, line) table
    is exactly what a scrubbing pass anti-joins against."""
    docs = io.fan_out(io.read_parquet(spark, f"{sf_dir}/documents.parquet").df)
    from .text import SQL_TOKS as _  # noqa: F401 (oracle twin)
    from ..llm.text import tokens as toks_fn

    d = docs.select(
        "doc_id", "source", toks_fn(F.col("text")).alias("toks")
    ).filter(F.size("toks") > 0)
    lines = d.select(
        "source",
        F.explode(
            F.expr(
                "transform(sequence(0, greatest((size(toks) - 1)"
                " div 8, 0)), i -> array_join(slice(toks,"
                " CAST(i * 8 + 1 AS INT), 8), ' '))"
            )
        ).alias("line"),
    )
    counts = lines.groupBy("source", "line").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    bp = F.when(F.col("cnt") >= 3, F.col("cnt"))
    return counts.groupBy("source").agg(
        F.sum("cnt").alias("n_lines"),
        F.count(F.lit(1)).alias("n_distinct_lines"),
        F.coalesce(F.sum(bp), F.lit(0)).cast("bigint").alias(
            "n_boilerplate_instances"
        ),
        F.expr(
            "CAST(CAST(coalesce(sum(CASE WHEN cnt >= 3 THEN cnt END), 0)"
            " AS DECIMAL(38,0)) * 1000000 div sum(cnt) AS BIGINT)"
        ).alias("boilerplate_ppm"),
    )


@query(
    "dedup_quality_keeper",
    oracle=f"""
    WITH scored AS (
      SELECT {sql_md5_long('text')} AS content_hash, doc_id,
             n_chars * 1000
               + len(list_filter(['the','a','of','and','to','in','is','it',
                                  'for','on'],
                     w -> list_contains({SQL_TOKS}, w))) AS q_score
      FROM documents
    )
    SELECT content_hash,
           CAST(count(*) AS BIGINT) AS n_dups,
           CAST(max(q_score * 100000000 + (99999999 - doc_id)) % 100000000
                AS BIGINT) AS keeper_inv,
           CAST(99999999 - max(q_score * 100000000 + (99999999 - doc_id))
                % 100000000 AS BIGINT) AS keeper_id,
           CAST(max(q_score * 100000000 + (99999999 - doc_id))
                // 100000000 AS BIGINT) AS keeper_score
    FROM scored GROUP BY content_hash
    """,
)
def dedup_quality_keeper(spark, sf_dir):
    """QUALITY-AWARE representative selection — the curation decision
    dedup_exact's min(doc_id) keeper sidesteps: within each exact-dup
    group, KEEP THE BEST COPY (highest quality score; here chars·1000
    + distinct-stopword hits, any richer score composes), not the
    accidental lowest id — the policy real corpus builds use because
    duplicate crawls differ in truncation and boilerplate. The argmax
    is ONE slot-packed max per group — q_score·10^8 + (10^8-1 -
    doc_id), score dominates, LOWER id wins exact score ties (the
    inverted-id trick from events_attribution, collision-free while
    doc_id < 10^8; at warehouse id ranges widen the slot to
    DECIMAL) — so quality-keeper dedup costs exactly what min-keeper
    dedup costs: one uniform hash shuffle, no join-back, no window.
    keeper_inv rides along to expose the raw slot for auditability."""
    docs = io.fan_out(io.read_parquet(spark, f"{sf_dir}/documents.parquet").df)
    from ..llm.text import md5_long, tokens as tok

    stops = ("array('the','a','of','and','to','in','is','it',"
             "'for','on')")
    scored = docs.select(
        md5_long(F.col("text")).alias("content_hash"),
        "doc_id",
        (
            F.col("n_chars") * 1000
            + F.size(F.filter(
                F.expr(stops),
                lambda w: F.array_contains(tok(F.col("text")), w),
            ))
        ).alias("q_score"),
    )
    slot = F.col("q_score") * 100000000 + (F.lit(99999999) - F.col("doc_id"))
    return scored.groupBy("content_hash").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_dups"),
        (F.max(slot) % 100000000).cast("bigint").alias("keeper_inv"),
        (F.lit(99999999) - F.max(slot) % 100000000).cast("bigint")
         .alias("keeper_id"),
        F.expr(
            f"CAST(max(q_score * 100000000 + (99999999 - doc_id))"
            f" div 100000000 AS BIGINT)"
        ).alias("keeper_score"),
    )
