"""Deduplication operators for training-data pipelines.

Four families, all shuffle-aware and driver-free:

- **exact**: content-hash groupBy (one shuffle on a 56-bit hash).
- **MinHash + LSH**: char-shingle minhash signatures; band-bucket join
  yields candidate pairs WITHOUT the O(n²) comparison — the scale path
  for 100 TB corpora (pairs are found by equi-join on band keys, so
  cost is Σ bucket², not n²).
- **SimHash**: 16-bit sign-sum fingerprint over token hashes; near-dups
  share fingerprints (or differ in few bits).
- **n-gram Jaccard**: exact set-similarity for candidate pairs (use
  after LSH blocking; provided here with hash-block blocking so it's
  runnable standalone).

Everything is Column-expression based (md5-derived portable hashes) so
the DuckDB oracles in workloads/dedup.py can mirror the math exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

import hashlib

from ..plans.cache import pin
from .text import _rd, char_ngrams, md5_long, tokens

# MinHash universal-hash family: h_i(x) = (a_i * h32(x) + b_i) mod P,
# P prime > 2^32 so products stay < 2^62 (no int64 overflow in either
# engine). Coefficients derived deterministically so DuckDB oracles can
# embed the same literals.
MINHASH_P = 4294967311


def minhash_coef(i: int) -> tuple[int, int]:
    a = int(hashlib.md5(f"a{i}".encode()).hexdigest()[:8], 16) % ((1 << 30) - 2) + 1
    b = int(hashlib.md5(f"b{i}".encode()).hexdigest()[:8], 16) % MINHASH_P
    return a, b


def md5_int32(col: Column) -> Column:
    """First 32 bits of md5 as bigint — the base hash the permutation
    family is applied to (DuckDB mirror:
    ``CAST(concat('0x', substr(md5(x), 1, 8)) AS BIGINT)``)."""
    return F.conv(F.substring(F.md5(F.encode(col, "utf-8")), 1, 8), 16, 10).cast("bigint")

# ----------------------------------------------------------------------
# exact dedup
# ----------------------------------------------------------------------
def exact_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Content-hash dedup groups: (content_hash, keeper=min id, n_dups).
    One hash-shuffle; at 100 TB partition count scales with input, no
    skew (hash keys uniform)."""
    h = md5_long(F.col(text_col))
    return (
        df.select(h.alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias("keeper"), F.count(F.lit(1)).alias("n_dups"))
    )


def drop_exact_dups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the min-id representative of each content group (min_by —
    single pass, no join back)."""
    h = md5_long(F.col(text_col))
    struct_all = F.struct(*[df[c] for c in df.columns])
    return (
        df.withColumn("__h", h)
        .groupBy("__h")
        .agg(F.min_by(struct_all, F.col(id_col)).alias("__row"))
        .select("__row.*")
    )


# ----------------------------------------------------------------------
# MinHash + LSH
# ----------------------------------------------------------------------
def minhash_signature(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 4,
    shingle: int = 5,
) -> DataFrame:
    """MinHash signature columns mh0..mh{k-1} per document.

    Shingles = lowercase char n-grams, hashed ONCE with md5 (32-bit);
    the k signature rows come from a universal-hash permutation family
    ``(a_i*h + b_i) mod P`` over that base hash.

    Plan shape: explode_outer(shingles) → md5 in a PROJECT →
    groupBy(doc).agg(k mins). Spark evaluates higher-order-function
    lambdas interpreted (outside whole-stage codegen), so hashing
    inside ``transform``/``aggregate`` costs ~40µs per element; the
    explode+project+hash-agg form keeps the md5 and the k permutation
    mins fully codegen'd — ~10× faster, and the map-side partial agg
    collapses the exploded rows before the one doc-id shuffle.
    explode_outer keeps short docs (empty shingle set) as NULL
    signatures, matching ``list_min([]) = NULL`` in the oracle."""
    sh = char_ngrams(F.col(text_col), n=shingle)
    e = df.select(F.col(id_col), F.explode_outer(sh).alias("__s"))
    e = e.select(F.col(id_col), md5_int32(F.col("__s")).alias("__h"))
    aggs = []
    for i in range(num_hashes):
        a, b = minhash_coef(i)
        aggs.append(
            F.min((F.lit(a) * F.col("__h") + F.lit(b)) % F.lit(MINHASH_P)).alias(f"mh{i}")
        )
    return e.groupBy(id_col).agg(*aggs)


def lsh_candidate_pairs(
    sigs: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 4,
    bands: int = 2,
) -> DataFrame:
    """LSH banding: split the signature into `bands` bands of
    ``num_hashes // bands`` rows; docs sharing ANY band are candidates.

    Plan shape: EXPLODE each signature into `bands` (band_id, key...)
    bucket rows, then ONE self-equi-join on the bucket key.
    Σ|bucket|² compares, never n² — and vs the naive per-band join
    cascade (`bands` joins + union) it is one exchange and one join
    stage regardless of `bands` (measured 2× faster at sf0.1). Returns
    (a, b) with a < b; NULL signatures (empty docs) drop out of the
    equi-join exactly like the oracle's `=` comparisons.

    PRECONDITION: ``sigs`` holds exactly ONE signature row per
    ``id_col`` value (``minhash_signature`` groups by the id, so its
    output qualifies). The first-matching-band filter below dedups a
    pair by comparing the two rows' signatures, which names the pair
    uniquely only under this precondition: two rows for one id would
    emit that pair more than once.

    FIRST-MATCHING-BAND dedup, not DISTINCT (it removes a shuffle
    outright): a pair that collides in several
    bands used to be emitted once per band and collapsed by a
    ``.distinct()`` — a full exchange + hash-agg over the Σ|bucket|²
    candidate stream, which at sf1 was ~5 s of the query's ~7 s (the
    join itself: 1.5 s). Instead each bucket row carries the doc's
    FULL signature, and a post-join filter keeps a band-b match only
    when no band b' < b also matched — every qualifying pair is
    emitted exactly once by its first matching band, so the join
    output IS the distinct pair set and the candidate stream is never
    re-shuffled. Equivalence: (a,b) qualifies iff SOME band matches;
    the filter selects precisely the minimal matching band's row (the
    coalesce treats an all-NULL earlier band as non-matching, which is
    vacuous anyway — all-NULL signatures never join). Verified
    bit-equal vs the DISTINCT oracle at sf0.001/0.01/0.1.

    The bucket bag feeds BOTH join sides, so it is pinned first — via
    eager localCheckpoint, the auto-cache policy (bag referenced more
    than once → cache; Caching.scala:57-94, SURVEY §4 #9) without the
    CacheManager lifetime leak of `persist` (blocks free on GC); lazy
    (eager=False) so the pin materializes inside the first consuming
    job instead of a separate serialized round. Cluster caveat: the
    default pin is executor-local (non-reliable) — an executor loss
    fails the job rather than recomputing; multi-hour cluster runs
    select ``plans.cache.configure_pinning(reliable=True,
    checkpoint_dir=...)`` and every pin (this one included) switches
    to reliable ``checkpoint()``.
    Without pinning, the full minhash expression tree would be
    re-evaluated for each side."""
    rows = num_hashes // bands
    structs = [
        F.struct(
            F.lit(b).alias("band"),
            *[F.col(f"mh{b * rows + r}").alias(f"k{r}") for r in range(rows)],
        )
        for b in range(bands)
    ]
    mh_cols = [f"mh{i}" for i in range(num_hashes)]
    e = pin(
        sigs.select(
            F.col(id_col), *mh_cols, F.explode(F.array(*structs)).alias("__bkt")
        ).select(id_col, *mh_cols, "__bkt.*")
    )
    keys = ["band"] + [f"k{r}" for r in range(rows)]
    left = e.select(F.col(id_col).alias("a"), *mh_cols, *keys)
    right = e.select(
        F.col(id_col).alias("b"),
        *[F.col(c).alias(f"{c}_r") for c in mh_cols],
        *[F.col(k).alias(f"{k}_r") for k in keys],
    )
    cond = F.col("a") < F.col("b")
    for k in keys:
        cond = cond & (F.col(k) == F.col(f"{k}_r"))
    j = left.join(right, cond, "inner")
    # keep only the FIRST matching band's row for each pair (see
    # docstring): band b survives iff no band b' < b also matches
    keep = F.col("band") == 0
    for b in range(1, bands):
        prior = F.lit(False)
        for bp in range(b):
            m = F.lit(True)
            for r in range(rows):
                # band bp's key k{r} is column mh{bp * rows + r} (the
                # `structs` above), so this conjunction is exactly
                # "band bp's bucket key matches"
                c = f"mh{bp * rows + r}"
                m = m & (F.col(c) == F.col(f"{c}_r"))
            prior = prior | m
        keep = keep | (
            (F.col("band") == b) & ~F.coalesce(prior, F.lit(False))
        )
    return j.filter(keep).select("a", "b")


# ----------------------------------------------------------------------
# SimHash
# ----------------------------------------------------------------------
def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 16,
) -> DataFrame:
    """SimHash fingerprint: per token, hash to `bits` bits; per bit,
    sum +1/-1 across tokens; fingerprint packs the sign bits.

    Explode -> groupBy(id) with `bits` conditional sums — ONE shuffle on
    the doc id with map-side partial aggregation; the packed int is
    computed post-agg. Docs with no tokens are dropped (same as the
    DuckDB unnest oracle)."""
    tok = tokens(F.col(text_col))
    e = df.select(F.col(id_col), F.explode(tok).alias("tok"))
    h = md5_long(F.col("tok"))
    sums = [
        F.sum(F.when(((h.bitwiseAND(F.lit(1 << b))) != 0), 1).otherwise(-1)).alias(f"s{b}")
        for b in range(bits)
    ]
    agg = e.groupBy(id_col).agg(*sums)
    packed = None
    for b in range(bits):
        bit = F.when(F.col(f"s{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        packed = bit if packed is None else packed + bit
    return agg.select(F.col(id_col), packed.cast("bigint").alias("simhash"))


def simhash_near_pairs(fps: DataFrame, id_col: str = "doc_id", max_hamming: int = 2) -> DataFrame:
    """Near-dup pairs by simhash hamming distance, blocked on the
    fingerprint's high bits (above the low byte) so candidate generation
    is an EQUI-join: derive ``block = simhash >> 8`` on both sides and
    hash-join on block equality — Σ|bucket|² compares, never n².
    (``ha >> 8 == hb >> 8`` is exactly ``(ha XOR hb) < 256``, but as a
    key equality Catalyst plans SortMergeJoin/ShuffledHashJoin instead
    of a BroadcastNestedLoopJoin.) Docs differing only in low bits
    still collide; widen blocks (smaller shift) for higher recall."""
    blk = F.shiftright(F.col("simhash"), 8)
    l = fps.select(F.col(id_col).alias("a"), F.col("simhash").alias("ha"), blk.alias("__blk"))
    r = fps.select(F.col(id_col).alias("b"), F.col("simhash").alias("hb"), blk.alias("__blk_r"))
    ham = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    return (
        l.join(r, (F.col("__blk") == F.col("__blk_r")) & (F.col("a") < F.col("b")), "inner")
        .withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("a", "b", "hamming")
    )


# ----------------------------------------------------------------------
# n-gram Jaccard
# ----------------------------------------------------------------------
def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    min_sim: float = 0.5,
    blocking: str = "lsh",
    blocks: int = 25,
    num_hashes: int = 4,
    bands: int = 2,
) -> DataFrame:
    """Exact Jaccard over distinct char n-gram sets for candidate pairs.

    ``blocking="lsh"`` (the default, the scale path): candidates come
    from MinHash banding over the SAME n-gram universe
    (`minhash_signature(shingle=n)` → `lsh_candidate_pairs`), so
    candidate generation is similarity-driven — any pair with high
    shingle overlap co-buckets with high probability — followed by two
    id equi-joins that attach the shingle arrays for EXACT Jaccard
    verification. The classic candidate→verify dedup pipeline:
    Σ|bucket|² + 2 hash joins, never n². ``blocking="mod"`` (explicit
    demo/test mode only) blocks on ``id % blocks``: bounded cost but
    similarity-blind — it scores only same-residue pairs and silently
    misses the rest, so it is never the default. Jaccard via
    array_intersect on distinct-shingle arrays; ratio of ints ->
    deterministic, rounded to 6dp."""
    sh = F.array_distinct(char_ngrams(F.col(text_col), n=n))
    if blocking == "lsh":
        sigs = minhash_signature(
            df, text_col=text_col, id_col=id_col, num_hashes=num_hashes, shingle=n
        )
        cand = lsh_candidate_pairs(sigs, id_col=id_col, num_hashes=num_hashes, bands=bands)
        # shingle arrays feed both verify joins — pin one narrow pass
        base = pin(df.select(F.col(id_col), sh.alias("__sh")))
        pairs = cand.join(
            base.select(F.col(id_col).alias("a"), F.col("__sh").alias("sh_a")), "a"
        ).join(base.select(F.col(id_col).alias("b"), F.col("__sh").alias("sh_b")), "b")
    elif blocking == "mod":
        base = df.select(
            F.col(id_col), (F.col(id_col) % blocks).alias("__blk"), sh.alias("__sh")
        )
        l = base.select(
            F.col(id_col).alias("a"), F.col("__blk"), F.col("__sh").alias("sh_a")
        ).alias("l")
        r = base.select(
            F.col(id_col).alias("b"), F.col("__blk").alias("__blk_r"), F.col("__sh").alias("sh_b")
        ).alias("r")
        pairs = l.join(
            r, (F.col("__blk") == F.col("__blk_r")) & (F.col("a") < F.col("b")), "inner"
        )
    else:
        raise ValueError(f"blocking must be 'lsh' or 'mod', got {blocking!r}")
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    uni = F.size("sh_a") + F.size("sh_b") - inter
    return (
        pairs.withColumn("jaccard", _rd(inter.cast("double") / uni, 6))
        .filter(F.col("jaccard") >= min_sim)
        .select("a", "b", "jaccard")
    )


def prefix_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 10,
    t_num: int = 7,
    t_den: int = 10,
) -> DataFrame:
    """EXACT Jaccard set-similarity join via AllPairs/PPJoin prefix
    filtering (Chaudhuri et al. ICDE'06, Xiao et al. WWW'08 — public
    algorithms): returns every pair with Jaccard(sh_a, sh_b) >=
    t_num/t_den over distinct char n-gram sets, with LOSSLESS
    candidate generation — ordering the universe by ascending df and
    keeping each set's first ``len - ceil(t*len) + 1`` tokens, any
    qualifying pair must share a prefix token (property-tested in
    tests/test_properties.py). Candidates therefore join on the
    RAREST tokens (Σ df_prefix² << Σ df²); verification attaches the
    two shingle arrays by id equi-join and compares with integer
    arithmetic. Columns: (doc_a, doc_b, inter, un) — all bigint.

    The LOSSLESS counterpart to lsh_candidate_pairs: banding misses a
    true pair with probability (1-t^r)^b > 0, the prefix filter never
    does; the price is candidate counts driven by the df distribution
    instead of the band-collision rate (dedup_lsh_recall_eval
    measures the difference)."""
    from pyspark.sql import Window

    from .text import char_ngrams

    # the distinct-shingle arrays feed the prefix index AND both
    # verification joins — pin one narrow shingling pass (the same
    # auto-cache rule as lsh_candidate_pairs' bucket bag)
    d = pin(
        df.select(
            F.col(id_col).alias("doc_id"),
            F.array_distinct(char_ngrams(F.col(text_col), n=n)).alias("sh"),
        )
    )
    ex = d.select(
        "doc_id", F.size("sh").cast("bigint").alias("n"), F.explode("sh").alias("s")
    )
    df_tab = ex.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    plen = F.col("n") - F.expr(f"({t_num} * n + {t_den - 1}) div {t_den}") + F.lit(1)
    w = Window.partitionBy("doc_id").orderBy("df", "s")
    # NOT pinned: Catalyst reuses the shuffle exchange for the two
    # sides of the self-join (ReusedExchange); a localCheckpoint here
    # measured SLOWER (14.7 s vs 6.8 s at sf0.1) than letting the
    # exchange reuse do its job
    prefix = (
        ex.join(df_tab, "s")
        .withColumn("pos", F.row_number().over(w))
        .filter(F.col("pos") <= plen)
        .select("doc_id", "s", "n")
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    # length filter (lossless companion to the prefix filter):
    # J(a,b) <= min(|a|,|b|)/max(|a|,|b|), so J >= t requires
    # t_num*max <= t_den*min — pruned INSIDE the candidate join,
    # before the distinct and the array-intersect verification
    cands = (
        a.join(b, (F.col("a.s") == F.col("b.s"))
               & (F.col("a.doc_id") < F.col("b.doc_id"))
               & (F.lit(t_num) * F.greatest(F.col("a.n"), F.col("b.n"))
                  <= F.lit(t_den) * F.least(F.col("a.n"), F.col("b.n"))))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sa = d.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    sb = d.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("bigint")
    return (
        cands.join(sa, "doc_a").join(sb, "doc_b")
        .select(
            "doc_a", "doc_b", inter.alias("inter"),
            (F.size("sh_a") + F.size("sh_b")).cast("bigint").alias("szs"),
        )
        .select("doc_a", "doc_b", "inter",
                (F.col("szs") - F.col("inter")).alias("un"))
        .filter(F.lit(t_den) * F.col("inter") >= F.lit(t_num) * F.col("un"))
    )


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 10,
    t_num: int = 3,
    t_den: int = 5,
) -> DataFrame:
    """ASYMMETRIC containment join: every ordered pair (src, dst) with
    C(src, dst) = |sh(src) ∩ sh(dst)| / |sh(src)| >= t_num/t_den over
    distinct char n-gram sets. Containment is the dedup relation
    symmetric Jaccard MISSES: a short document wholly quoted inside a
    long one has high containment but low Jaccard (the union is
    dominated by the long doc), so quote-expansion / boilerplate-
    wrapped duplicates survive a Jaccard gate. Broder's resemblance
    vs containment distinction (public, "On the resemblance and
    containment of documents", 1997).

    Plan: one exact inverted-index self-join (the
    text_sparse_cosine_pairs pattern) — pair candidates cost
    Σ_s df(s)², never |D|²; intersection counts come from the join's
    hash-agg, each unordered pair then fans out to its two ordered
    containment rows (exact ppm rational, integer threshold compare
    — no float anywhere). At web scale the index takes the standard
    stop-shingle df cap (documented tradeoff of
    dedup_prefix_jaccard_pairs, which is the LOSSLESS alternative for
    the symmetric case).

    Columns: (src, dst, inter, n_src, cont_ppm) — all bigint."""
    d = pin(
        df.select(
            F.col(id_col).alias("doc_id"),
            F.array_distinct(char_ngrams(F.col(text_col), n=n)).alias("sh"),
        )
    )
    ex = d.select(
        "doc_id",
        F.size("sh").cast("bigint").alias("n"),
        F.explode("sh").alias("s"),
    )
    a, b = ex.alias("a"), ex.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n").alias("n_a"),
            F.col("b.n").alias("n_b"),
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    directed = inter.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("doc_a").alias("src"),
                    F.col("doc_b").alias("dst"),
                    F.col("inter"),
                    F.col("n_a").alias("n_src"),
                ),
                F.struct(
                    F.col("doc_b").alias("src"),
                    F.col("doc_a").alias("dst"),
                    F.col("inter"),
                    F.col("n_b").alias("n_src"),
                ),
            )
        ).alias("p")
    ).select("p.*")
    return directed.filter(
        F.lit(t_den) * F.col("inter") >= F.lit(t_num) * F.col("n_src")
    ).select(
        "src", "dst", "inter", "n_src",
        F.expr(
            "CAST(CAST(inter AS DECIMAL(38,0)) * 1000000"
            " div n_src AS BIGINT)"
        ).alias("cont_ppm"),
    )
