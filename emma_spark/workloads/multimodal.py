"""Multimodal workload: the image feature pipeline end-to-end
(synthetic deterministic blobs — no media table in the harness data;
the decode seam is the documented stub, here the deterministic fake).

The fake featurizer is FNV-1a over the blob bytes, and the blob/meta
are synthesized from ``id`` with portable arithmetic — so the WHOLE
pipeline (synth -> metadata filter -> Arrow-batched mapInPandas decode
-> feature projection) has an exact DuckDB twin and a full value-hash
oracle, not just a rows-only check.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..llm import multimodal as M
from ..sources import io
from . import query

# FNV-1a (32-bit) over the synthesized blob string, written as a DuckDB
# list_reduce — mirrors llm/multimodal._fake_decode byte-for-byte (the
# blob is pure ASCII and < 256 bytes, so the [:256] cap never bites).
_ORACLE = """
WITH imgs AS (
  SELECT id,
         'IMGBLOB:' || CAST(id AS VARCHAR) || ':'
           || repeat('x', CAST(id % 64 + 1 AS INT)) AS s,
         CAST((id + 7) * 2654435761 % 512 + 16 AS INT) AS w,
         CAST((id + 7) * 2654435789 % 512 + 16 AS INT) AS h
  FROM range(256) t(id)
), hashed AS (
  SELECT id, w, h,
    list_reduce(
      list_prepend(CAST(2166136261 AS HUGEINT),
                   list_transform(string_split(s, ''),
                                  c -> CAST(ord(c) AS HUGEINT))),
      (a, b) -> (xor(a, b) * 16777619) % 4294967296
    ) AS acc
  FROM imgs WHERE w >= 32
)
SELECT id,
       CAST(acc % 256 AS BIGINT)          AS b0,
       CAST((acc // 8) % 256 AS BIGINT)   AS b1,
       CAST((acc // 64) % 256 AS BIGINT)  AS b2,
       CAST((acc // 512) % 256 AS BIGINT) AS b3,
       CAST(w AS BIGINT) AS w, CAST(h AS BIGINT) AS h,
       11 AS dim
FROM hashed
"""


@query("multimodal_image_features", oracle=_ORACLE)
def multimodal_image_features(spark, sf_dir):
    """Binary blobs + typed metadata → metadata filter (blob pruned at
    scan) → size-bucket partition key → Arrow-batched feature
    extraction → blob dropped before any shuffle.

    The fake featurizer emits bytes scaled to [0,1]; multiplying back
    by 255 and rounding recovers the exact integers, so the oracle
    compares in exact integer space (no cross-engine double rounding).
    """
    imgs = M.synth_image_table(spark, n=256)
    big = M.filter_by_meta(imgs, F.col("meta.width") >= 32)
    bucketed = big.withColumn("bucket", M.size_bucket(F.col("meta")))
    feats = M.image_features(bucketed)
    byte = lambda i: F.round(F.col("features")[i] * 255).cast("bigint")
    return feats.select(
        "id",
        byte(0).alias("b0"), byte(1).alias("b1"),
        byte(2).alias("b2"), byte(3).alias("b3"),
        F.col("features")[8].cast("bigint").alias("w"),
        F.col("features")[9].cast("bigint").alias("h"),
        F.size("features").cast("int").alias("dim"),
    )


_AUDIO_ORACLE = """
WITH auds AS (
  SELECT id,
         'AUDBLOB:' || CAST(id AS VARCHAR) || ':'
           || repeat('s', CAST(id % 48 + 1 AS INT)) AS s,
         CASE WHEN id % 3 = 0 THEN 16000 ELSE 44100 END AS sr,
         id * 1000 + 100 AS ns
  FROM range(192) t(id)
), hashed AS (
  SELECT id, sr, ns,
    list_reduce(
      list_prepend(CAST(2166136261 AS HUGEINT),
                   list_transform(string_split(s, ''),
                                  c -> CAST(ord(c) AS HUGEINT))),
      (a, b) -> (xor(a, b) * 16777619) % 4294967296
    ) AS acc
  FROM auds WHERE sr = 44100
)
SELECT id,
       CAST(acc % 256 AS BIGINT)        AS b0,
       CAST((acc // 8) % 256 AS BIGINT) AS b1,
       CAST(sr AS BIGINT) AS sr, CAST(ns AS BIGINT) AS ns,
       10 AS dim
FROM hashed
"""


@query("multimodal_audio_features", oracle=_AUDIO_ORACLE)
def multimodal_audio_features(spark, sf_dir):
    """Audio modality end-to-end: typed metadata filter (only 44.1 kHz
    clips decoded — blob pruned for the rest at the scan) → Arrow-
    batched feature extraction → exact integer comparison against the
    FNV oracle."""
    auds = M.synth_audio_table(spark, n=192)
    hq = M.filter_by_meta(auds, F.col("meta.sample_rate") == 44100)
    feats = M.audio_features(hq)
    byte = lambda i: F.round(F.col("features")[i] * 255).cast("bigint")
    return feats.select(
        "id",
        byte(0).alias("b0"), byte(1).alias("b1"),
        F.col("features")[8].cast("bigint").alias("sr"),
        F.col("features")[9].cast("bigint").alias("ns"),
        F.size("features").cast("int").alias("dim"),
    )


@query(
    "multimodal_frame_sample",
    oracle="""
    SELECT id AS video_id, unnest(range(0, id % 100 + 1, 7)) AS frame_no
    FROM range(128) t(id)
    """,
)
def multimodal_frame_sample(spark, sf_dir):
    """Video frame-sampling PLAN (llm/multimodal.frame_sample_plan):
    (video_id, frame_no) rows for every 7th frame, derived from
    METADATA ONLY — no codec, no blob read; the decode of selected
    frames is a separate batched pass. Pure sequence+explode, exactly
    mirrored by the oracle's range unnest."""
    vids = spark.range(128).select(
        F.col("id"),
        F.lit(None).cast("binary").alias("blob"),
        F.struct(
            F.lit(640).alias("width"), F.lit(480).alias("height"),
            (F.col("id") % 100 + 1).cast("long").alias("n_frames"),
            F.lit(25.0).alias("fps"), F.lit("mp4").alias("format"),
        ).alias("meta"),
    )
    return M.frame_sample_plan(vids, every_n=7)


@query(
    "multimodal_chunk_dedup",
    oracle="""
    WITH blobs AS (
      SELECT id,
             repeat('SEG' || CAST(id % 7 AS VARCHAR) || '|',
                    CAST(id % 13 + 3 AS INT)) AS s
      FROM range(400) t(id)
    ), chunks AS (
      SELECT b.id, substr(b.s, CAST(t.off AS INT), 32) AS chunk
      FROM blobs b,
           unnest(generate_series(1, len(b.s), 32)) AS t(off)
    )
    SELECT md5(chunk) AS chunk_hash,
           count(*) AS n_occurrences,
           count(DISTINCT id) AS n_blobs
    FROM chunks GROUP BY md5(chunk) HAVING count(*) >= 2
    """,
)
def multimodal_chunk_dedup(spark, sf_dir):
    """Content-addressed chunk deduplication for binary/blob columns —
    the storage-dedup primitive (CAS/backup systems, media-corpus
    shrinkage): blobs split at fixed 32-byte boundaries, each chunk
    hashed, duplicate chunks counted across blobs. Chunking is
    sequence+explode (rows ∝ blob bytes / chunk size, streamed — the
    blob itself is never shuffled, only 32-byte chunks + hashes);
    counting is one hash-agg with map-side partials. Deterministic
    synthetic blobs (same range(400) convention as the other
    multimodal fixtures) keep a full value oracle; on real data the
    same plan runs over a binary column via substring on bytes.
    Fixed-boundary CDC — rolling-hash (content-defined) boundaries
    would resist insertions, at the cost of a per-byte scan; this is
    the broadcastable first-order variant."""
    blobs = spark.range(400).select(
        "id",
        F.expr(
            "repeat(concat('SEG', CAST(id % 7 AS STRING), '|'), "
            "CAST(id % 13 + 3 AS INT))"
        ).alias("s"),
    )
    chunks = blobs.select(
        "id",
        F.explode(
            F.sequence(F.lit(1), F.length("s"), F.lit(32))
        ).alias("off"),
        "s",
    ).select("id", F.expr("substring(s, off, 32)").alias("chunk"))
    return (
        chunks.groupBy(F.md5(F.encode(F.col("chunk"), "utf-8")).alias("chunk_hash"))
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("id").alias("n_blobs"),
        )
        .filter(F.col("n_occurrences") >= 2)
    )


@query(
    "multimodal_shard_plan",
    oracle="""
    WITH blobs AS (
      SELECT id, (id * 40503 % 4096) + 256 AS n_bytes FROM range(400) t(id)
    ),
    c AS (
      SELECT id, n_bytes,
             sum(n_bytes) OVER (ORDER BY id ROWS UNBOUNDED PRECEDING)
               - n_bytes AS off
      FROM blobs
    )
    SELECT CAST(off // 16384 AS BIGINT) AS shard_id, count(*) AS n_blobs,
           CAST(sum(n_bytes) AS BIGINT) AS shard_bytes,
           min(id) AS first_id, max(id) AS last_id
    FROM c GROUP BY off // 16384
    """,
)
def multimodal_shard_plan(spark, sf_dir):
    """WebDataset-style shard manifest for a blob corpus: assign blobs
    to ~16 KiB output shards by cumulative byte size in id order, then
    fold each shard to its manifest row (count, bytes, id range) — the
    layout-planning step before tarring an image/audio corpus into
    sequentially-readable training shards. The cumulative sum reuses
    llm/text.pack_sequences (range-partitioned two-pass cumsum — NO
    global single-task window; only per-partition (pid, sum) pairs
    reach the driver), applied to a byte column instead of a token
    column: packing tokens into contexts and packing blobs into
    shards are the same dataflow. Deterministic synthetic sizes
    (id*40503 mod 4096 + 256) keep a full value oracle; contiguous id
    ranges per shard (first_id..last_id) are what make the final tar
    write a sequential scan."""
    from ..llm import text as X

    blobs = spark.range(400).select(
        "id", ((F.col("id") * 40503 % 4096) + 256).alias("n_bytes")
    )
    packed = X.pack_sequences(blobs, id_col="id", token_col="n_bytes", ctx=16384)
    return (
        packed.groupBy(F.col("pack_id").alias("shard_id"))
        .agg(
            F.count(F.lit(1)).alias("n_blobs"),
            F.sum("n_bytes").alias("shard_bytes"),
            F.min("id").alias("first_id"),
            F.max("id").alias("last_id"),
        )
    )


@query(
    "multimodal_magic_router",
    oracle="""
    WITH blobs AS (
      SELECT id,
             CASE id % 4
               WHEN 0 THEN concat('PNGX', 'payload', CAST(id AS VARCHAR))
               WHEN 1 THEN concat('RIFF', 'wavdata', CAST(id AS VARCHAR))
               WHEN 2 THEN concat('JFIF', 'jpegdata', CAST(id AS VARCHAR))
               ELSE concat('{"meta":', CAST(id AS VARCHAR), '}')
             END AS s
      FROM range(400) t(id)
    ),
    routed AS (
      SELECT id, octet_length(s::BLOB) AS n_bytes,
             CASE
               WHEN substr(s, 1, 4) = 'PNGX' THEN 'image/png'
               WHEN substr(s, 1, 4) = 'JFIF' THEN 'image/jpeg'
               WHEN substr(s, 1, 4) = 'RIFF' THEN 'audio/riff'
               WHEN substr(s, 1, 1) = '{' THEN 'application/json'
               ELSE 'unknown'
             END AS mime
      FROM blobs
    )
    SELECT mime, count(*) AS n, CAST(sum(n_bytes) AS BIGINT) AS total_bytes
    FROM routed GROUP BY mime
    """,
)
def multimodal_magic_router(spark, sf_dir):
    """Modality routing by MAGIC BYTES — the first thing a multimodal
    ingest does with an opaque blob column: sniff the header signature
    and route each blob to its decoder path, trusting bytes over file
    extensions (which lie). Pure BINARY-column ops — substring on
    binary compares raw bytes, no decode, no UDF — so routing 100 TB
    of blobs is a map-only scan; partition the write by the routed
    mime and every downstream decoder reads only its own files.
    Deterministic synthetic blobs carry ASCII stand-ins for the real
    signatures (\\x89PNG, \\xFF\\xD8 JPEG SOI, RIFF) purely so the
    differential oracle stays printable (DuckDB 1.0 lacks substr on
    BLOB, so the oracle routes on the pre-encoding string — same
    semantics); Spark routes on the BINARY column itself, the plan a
    real ingest runs."""
    blobs = spark.range(400).select(
        "id",
        F.encode(
            F.when(F.col("id") % 4 == 0,
                   F.concat(F.lit("PNGXpayload"), F.col("id").cast("string")))
            .when(F.col("id") % 4 == 1,
                  F.concat(F.lit("RIFFwavdata"), F.col("id").cast("string")))
            .when(F.col("id") % 4 == 2,
                  F.concat(F.lit("JFIFjpegdata"), F.col("id").cast("string")))
            .otherwise(F.concat(F.lit('{"meta":'),
                                F.col("id").cast("string"), F.lit("}"))),
            "UTF-8",
        ).alias("blob"),
    )
    def magic(sig: str, n: int):
        return F.expr(f"substring(blob, 1, {n})") == F.encode(F.lit(sig), "UTF-8")
    mime = (
        F.when(magic("PNGX", 4), "image/png")
        .when(magic("JFIF", 4), "image/jpeg")
        .when(magic("RIFF", 4), "audio/riff")
        .when(magic("{", 1), "application/json")
        .otherwise("unknown")
    )
    return (
        blobs.select(mime.alias("mime"),
                     F.octet_length("blob").alias("n_bytes"))
        .groupBy("mime")
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum("n_bytes").cast("bigint").alias("total_bytes"))
    )


@query(
    "multimodal_scene_cuts",
    oracle="""
    WITH v AS (SELECT id AS video_id, id % 100 + 1 AS n_frames
               FROM range(128) t(id)),
    fr AS (
      SELECT video_id, f.f AS frame_no,
             CAST(concat('0x', substr(md5('fr|' || CAST(video_id AS VARCHAR)
                  || ':' || CAST(f.f AS VARCHAR)), 1, 8)) AS BIGINT) % 1000
               AS feat
      FROM v, unnest(generate_series(0, n_frames - 1, 7)) AS f(f)
    ),
    d AS (
      SELECT video_id, frame_no, feat,
             feat - lag(feat) OVER (PARTITION BY video_id ORDER BY frame_no)
               AS dv
      FROM fr
    )
    SELECT video_id, count(*)::BIGINT AS n_sampled,
           sum(CASE WHEN abs(dv) > 600 THEN 1 ELSE 0 END)::BIGINT AS n_cuts,
           max(abs(dv))::BIGINT AS max_jump
    FROM d GROUP BY video_id
    """,
)
def multimodal_scene_cuts(spark, sf_dir):
    """Video SCENE-CUT detection plumbing: sampled frames (the
    frame_sample_plan grid, every 7th frame) carry a per-frame
    feature — here an md5-derived deterministic stand-in for the real
    decoder's frame embedding (the documented multimodal seam:
    swapping in a real codec changes ONE pandas-UDF body, none of
    this dataflow) — and a cut fires when consecutive sampled frames'
    features jump by more than the threshold. The temporal diff is a
    lag window PARTITIONED by video (frames per video bounded, never
    global); output is one row per video with sampled/cut counts —
    the shard-able shot-segmentation manifest a video-training
    pipeline stores next to each asset. Exact integer features and
    diffs; the oracle replays the grid and the hash."""
    vids = spark.range(128).select(
        F.col("id").alias("video_id"),
        (F.col("id") % 100 + 1).cast("long").alias("n_frames"),
    )
    fr = vids.select(
        "video_id",
        F.explode(
            F.sequence(F.lit(0), F.col("n_frames") - 1, F.lit(7))
        ).alias("frame_no"),
    ).select(
        "video_id", "frame_no",
        (F.expr(
            "CAST(conv(substring(md5(concat('fr', '|',"
            " CAST(video_id AS STRING), ':', CAST(frame_no AS STRING))),"
            " 1, 8), 16, 10) AS BIGINT)"
        ) % 1000).alias("feat"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("video_id").orderBy("frame_no")
    d = fr.withColumn("dv", F.col("feat") - F.lag("feat").over(w))
    return d.groupBy("video_id").agg(
        F.count(F.lit(1)).alias("n_sampled"),
        F.sum(F.when(F.abs("dv") > 600, 1).otherwise(0)).cast("bigint")
          .alias("n_cuts"),
        F.max(F.abs("dv")).cast("bigint").alias("max_jump"),
    )


@query(
    "multimodal_phash_neardup",
    oracle="""
    WITH img AS (
      SELECT id,
             xor(CAST(concat('0x', substr(md5('ph' || '|'
                   || CAST(id // 4 AS VARCHAR)), 1, 14)) AS BIGINT),
                 1::BIGINT << CAST(5 * (id % 4) AS INT)) AS ph
      FROM range(256) t(id)
    ),
    blocks AS (
      SELECT id, ph, k.k AS k,
             (ph // (1::BIGINT << CAST(14 * k.k AS INT))) % 16384 AS blk
      FROM img, (SELECT unnest([0, 1, 2, 3]) AS k) k
    ),
    cand AS (
      SELECT DISTINCT a.id AS ida, b.id AS idb, a.ph AS pha, b.ph AS phb
      FROM blocks a JOIN blocks b
        ON a.k = b.k AND a.blk = b.blk AND a.id < b.id
    )
    SELECT ida, idb, bit_count(xor(pha, phb))::BIGINT AS hamming
    FROM cand WHERE bit_count(xor(pha, phb)) <= 3
    """,
)
def multimodal_phash_neardup(spark, sf_dir):
    """PERCEPTUAL-HASH near-duplicate detection for media — the image
    analog of simhash text dedup: each asset carries a 56-bit pHash
    (here a deterministic stand-in derived from the asset id — a real
    pHash is a DCT over the decoded thumbnail, the documented decoder
    seam of multimodal_image_features; the DEDUP dataflow downstream
    of the hash is exactly this), and near-dups are pairs within
    Hamming distance 3. Blocking is the pigeonhole split: 4 blocks of
    14 bits — any pair differing in ≤ 3 bits matches EXACTLY on ≥ 1
    block, so candidates come from 4 block equi-joins (Σ|bucket|²,
    the dedup_simhash_pairs bound) with zero false negatives;
    verification is one bit_count(xor) compare. The synthetic hashes
    plant quartets of single-bit-flipped variants (pairwise Hamming
    2) so the query provably finds every planted pair and nothing
    else — both engines replay the same integers bit-for-bit."""
    ids = spark.range(256)
    ph = F.expr(
        "CAST(conv(substring(md5(concat('ph', '|',"
        " CAST(id div 4 AS STRING))), 1, 14), 16, 10) AS BIGINT)"
    )
    img = ids.select(
        "id",
        F.expr(
            "CAST(conv(substring(md5(concat('ph', '|',"
            " CAST(id div 4 AS STRING))), 1, 14), 16, 10) AS BIGINT)"
            " ^ shiftleft(CAST(1 AS BIGINT), CAST(5 * (id % 4) AS INT))"
        ).alias("ph"),
    )
    blocks = img.select(
        "id", "ph",
        F.explode(F.expr("sequence(0, 3)")).alias("k"),
    ).withColumn(
        "blk",
        F.expr("(ph div shiftleft(CAST(1 AS BIGINT), CAST(14 * k AS INT)))"
               " % 16384"),
    )
    a, b = blocks.alias("a"), blocks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.k") == F.col("b.k"))
            & (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("ida"),
            F.col("b.id").alias("idb"),
            F.col("a.ph").alias("pha"),
            F.col("b.ph").alias("phb"),
        )
        .distinct()
    )
    ham = F.bit_count(F.expr("pha ^ phb")).cast("bigint")
    return cand.select("ida", "idb", ham.alias("hamming")).filter(
        F.col("hamming") <= 3
    )


@query(
    "io_binaryfile_ingest",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           CAST(concat('0x', substr(md5(text), 1, 14)) AS BIGINT) AS h56
    FROM documents WHERE doc_id % 29 = 0 AND length(text) > 0
    """,
)
def io_binaryfile_ingest(spark, sf_dir):
    """Raw-blob ingest via Spark's `binaryFile` source — the built-in
    reader every media pipeline starts from (image/audio/video files
    on a bucket -> one row per file with `path`, `length`, opaque
    binary `content`): stage a bounded document sample as loose
    .txt blobs (driver-side fixture staging, ~N/29 files — the same
    precedent as the streaming stagers), read the DIRECTORY back
    through `format("binaryFile")`, recover ids from paths, and
    content-address each blob (56-bit md5 slice). A hash match
    against the original documents table proves the roundtrip loses no
    bytes (utf-8 on disk == DuckDB's string bytes).

    Scale notes: binaryFile packs many small files per task
    (spark.sql.files.maxPartitionBytes governs grouping) and pushes
    `pathGlobFilter`/`modifiedAfter` to the listing, so the 100 TB
    pattern is exactly this plan — list, read, content-address, then
    land as parquet with the blob as a binary column
    (multimodal_chunk_dedup picks up from there). The
    nondeterministic `modificationTime` column is deliberately not
    projected."""
    import os

    d = io.read_parquet(spark, f"{sf_dir}/documents.parquet").df
    # empty documents are excluded from the roundtrip contract: Spark's
    # binaryFile source silently skips zero-byte files, so an
    # empty blob cannot round-trip on any engine
    sample = d.filter(
        (F.col("doc_id") % 29 == 0) & (F.length("text") > 0)
    ).select("doc_id", "text")
    base = io.scratch_dir("emma_binfile_")
    for r in sample.collect():  # bounded: |documents| / 29 files
        with open(os.path.join(base, f"{r.doc_id}.txt"), "wb") as f:
            f.write(r.text.encode("utf-8"))
    files = spark.read.format("binaryFile").option(
        "pathGlobFilter", "*.txt"
    ).load(base)
    return files.select(
        F.regexp_extract(F.col("path"), r"(\d+)\.txt$", 1)
         .cast("bigint").alias("doc_id"),
        F.col("length").alias("n_bytes"),
        F.conv(F.substring(F.md5(F.col("content")), 1, 14), 16, 10)
         .cast("bigint").alias("h56"),
    )
