"""Multimodal columns: image/audio/video as opaque ``binary`` + typed
metadata, with Arrow-batched processing plumbing.

No reference analog (emma is tabular-only); this is the engine's
training-data surface for non-text modalities. The DESIGN is the
deliverable here: schema contract, partition-safe batching, and
pandas-UDF signatures are real and tested; the actual codecs
(PIL/librosa/ffmpeg) are not in this container, so decode is either a
clearly-marked stub (raises) or a deterministic fake (for tests), per
the constructor flag.

Scale notes (100 TB of media):
- blobs never pass through Python row-at-a-time — ``mapInPandas``
  moves them as Arrow binary arrays, batch-sized by
  ``spark.sql.execution.arrow.maxRecordsPerBatch``;
- metadata-only transforms (filter by width, bucket by duration) are
  pure Column ops on the struct column — the blob column is pruned
  out of the scan entirely (check ReadSchema);
- feature extraction emits fixed-width vectors; the blob is dropped
  as early as possible so shuffles move features, not media.
"""

from __future__ import annotations

from typing import Callable, Iterator

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# ---------------------------------------------------------------- schema
IMAGE_META = T.StructType(
    [
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("format", T.StringType()),
    ]
)
AUDIO_META = T.StructType(
    [
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("format", T.StringType()),
    ]
)
VIDEO_META = T.StructType(
    [
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("fps", T.DoubleType()),
        T.StructField("format", T.StringType()),
    ]
)


# ---------------------------------------------------------------- metadata ops
def filter_by_meta(df: DataFrame, predicate: Column) -> DataFrame:
    """Metadata-only filter — never touches the blob; with parquet the
    blob column isn't even read when later projections drop it."""
    return df.filter(predicate)


def size_bucket(meta: Column, edges: list[int] = [64, 256, 1024]) -> Column:
    """Bucket images by max dimension (partitioning/batching key so
    same-shaped media co-locate — decode batches stay uniform).

    NULL metadata buckets to NULL, not to the largest bucket: an
    unknown-size blob must be routable to a quarantine path, not
    silently co-located with the big decodes (tests/test_multimodal_fuzz.py)."""
    m = F.greatest(meta["width"], meta["height"])
    expr = F.lit(len(edges))
    for i in reversed(range(len(edges))):
        expr = F.when(m <= edges[i], F.lit(i)).otherwise(expr)
    return F.when(m.isNull(), F.lit(None)).otherwise(expr)


# ---------------------------------------------------------------- decode plumbing
def _make_fake_decode():
    """Deterministic stand-in for a pixel decoder: FNV-1a over the blob
    into a small feature vector (same length as the real featurizer
    would emit). Lets the full pipeline run end-to-end in this
    container. Returned as a self-contained closure so cloudpickle
    ships it BY VALUE — executors need no importable emma_spark."""

    def fake_decode(blob: bytes, w: int, h: int, c: int) -> list[float]:
        acc = 2166136261
        for b in blob[:256]:
            acc = (acc ^ b) * 16777619 % (1 << 32)
        return [((acc >> (i * 3)) & 0xFF) / 255.0 for i in range(8)] + [float(w), float(h), float(c)]

    return fake_decode


_fake_decode = _make_fake_decode()


def image_features(
    df: DataFrame,
    decode: Callable[[bytes, int, int, int], list[float]] | None = None,
    stub: bool = False,
    id_col: str = "id",
    blob_col: str = "blob",
    meta_col: str = "meta",
) -> DataFrame:
    """blob → fixed-width feature vector via ``mapInPandas`` (Arrow
    batches; blobs never row-at-a-time).

    ``decode=None, stub=True`` raises NotImplementedError at runtime —
    the clearly-marked seam where PIL/torchvision plugs in.
    ``decode=None, stub=False`` uses the deterministic fake."""
    if decode is None:
        if stub:
            def decode(blob, w, h, c):  # pragma: no cover - the real-codec seam
                raise NotImplementedError(
                    "image decode requires a codec (PIL/torchvision); "
                    "pass decode= or use the deterministic fake (stub=False)"
                )
        else:
            decode = _make_fake_decode()

    out_schema = T.StructType(
        [
            T.StructField("id", df.schema[id_col].dataType),
            T.StructField("features", T.ArrayType(T.DoubleType())),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # undecodable rows (NULL blob / missing metadata) yield
            # NULL features instead of killing the batch — at 100 TB a
            # corpus WILL contain them, and one poison row must not
            # fail a 10k-row Arrow batch (tests/test_multimodal_fuzz.py)
            feats = [
                None
                if blob is None or m is None
                or m["width"] is None or m["height"] is None
                or m["channels"] is None
                else decode(blob, m["width"], m["height"], m["channels"])
                for blob, m in zip(pdf[blob_col], pdf[meta_col])
            ]
            yield pd.DataFrame({"id": pdf[id_col], "features": feats})

    # project FIRST so Arrow moves only (id, blob, meta)
    return df.select(id_col, blob_col, meta_col).mapInPandas(run, out_schema)


def frame_sample_plan(
    df: DataFrame,
    every_n: int,
    meta_col: str = "meta",
    id_col: str = "id",
) -> DataFrame:
    """Video frame-sampling PLAN: expand (video_id, frame_no) rows for
    every_n-th frame from metadata ONLY (sequence+explode — no codec,
    no blob). The decode of selected frames is a second, batched pass
    over the blob — at scale this two-phase shape avoids decoding
    frames that get dropped."""
    n = df[meta_col]["n_frames"]
    # zero-frame and NULL-frame-count videos yield no rows; an
    # unguarded sequence(0, -1, k) is an executor-side
    # IllegalArgumentException that fails the whole job
    # (tests/test_multimodal_fuzz.py)
    frames = F.when(
        n >= 1, F.sequence(F.lit(0), (n - 1).cast("long"), F.lit(every_n))
    )
    return df.select(
        F.col(id_col).alias("video_id"),
        F.explode(frames).alias("frame_no"),
    )


def audio_features(
    df: DataFrame,
    decode: Callable[[bytes, int, int], list[float]] | None = None,
    stub: bool = False,
    id_col: str = "id",
    blob_col: str = "blob",
    meta_col: str = "meta",
) -> DataFrame:
    """Audio blob → fixed-width feature vector via ``mapInPandas`` —
    same Arrow-batched plumbing as :func:`image_features`, audio-shaped
    metadata (sample_rate, n_samples). ``stub=True`` raises at the
    librosa/ffmpeg seam; default is the deterministic FNV fake (shipped
    by value — no executor imports)."""
    if decode is None:
        if stub:
            def decode(blob, sr, ns):  # pragma: no cover - the real-codec seam
                raise NotImplementedError(
                    "audio decode requires a codec (librosa/ffmpeg); "
                    "pass decode= or use the deterministic fake (stub=False)"
                )
        else:
            fnv = _make_fake_decode()

            def decode(blob, sr, ns):
                base = fnv(blob, sr, 0, 0)[:8]
                return base + [float(sr), float(ns)]

    out_schema = T.StructType(
        [
            T.StructField("id", df.schema[id_col].dataType),
            T.StructField("features", T.ArrayType(T.DoubleType())),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # same poison-row contract as image_features: undecodable
            # rows yield NULL features, never a batch-killing raise
            feats = [
                None
                if blob is None or m is None
                or m["sample_rate"] is None or m["n_samples"] is None
                else decode(blob, m["sample_rate"], m["n_samples"])
                for blob, m in zip(pdf[blob_col], pdf[meta_col])
            ]
            yield pd.DataFrame({"id": pdf[id_col], "features": feats})

    return df.select(id_col, blob_col, meta_col).mapInPandas(run, out_schema)


def synth_audio_table(spark, n: int = 64) -> DataFrame:
    """Deterministic synthetic audio table (binary blobs + meta),
    portable arithmetic only — mirrors :func:`synth_image_table`."""
    fmt = F.when(F.col("id") % 2 == 0, "wav").otherwise("flac")
    sr = F.when(F.col("id") % 3 == 0, 16000).otherwise(44100)
    ns = (F.col("id") * 1000 + 100).cast("long")
    blob = F.encode(
        F.concat(F.lit("AUDBLOB:"), F.col("id").cast("string"),
                 F.lit(":"), F.repeat(F.lit("s"), (F.col("id") % 48 + 1).cast("int"))),
        "utf-8",
    ).cast("binary")
    return spark.range(n).select(
        F.col("id"),
        blob.alias("blob"),
        F.struct(
            sr.cast("int").alias("sample_rate"), ns.alias("n_samples"),
            F.lit(1).alias("channels"), fmt.alias("format"),
        ).alias("meta"),
    )


def synth_image_table(spark, n: int = 64, seed: int = 7) -> DataFrame:
    """Deterministic synthetic multimodal table (binary blobs + meta)
    for tests/demos — generated distributed (spark.range), not driver
    lists. Widths/heights come from a PORTABLE multiplicative hash
    (Knuth 2654435761) rather than Spark's xxhash64 so an external
    engine (the DuckDB oracle) can reproduce the table bit-for-bit."""
    fmt = F.when(F.col("id") % 3 == 0, "png").otherwise("jpeg")
    w = (((F.col("id") + seed) * F.lit(2654435761)) % 512 + 16).cast("int")
    h = (((F.col("id") + seed) * F.lit(2654435789)) % 512 + 16).cast("int")
    blob = F.encode(
        F.concat(F.lit("IMGBLOB:"), F.col("id").cast("string"),
                 F.lit(":"), F.repeat(F.lit("x"), (F.col("id") % 64 + 1).cast("int"))),
        "utf-8",
    ).cast("binary")
    return spark.range(n).select(
        F.col("id"),
        blob.alias("blob"),
        F.struct(
            w.alias("width"), h.alias("height"),
            F.lit(3).alias("channels"), fmt.alias("format"),
        ).alias("meta"),
    )
