"""Adversarial blob-corpus fuzz for the multimodal + custom-datasource
plumbing: these families synthesize their
registry-query inputs in-query, so the table-level fuzz harnesses
never reach them. This suite feeds the OPERATOR layer the corpus a
100 TB media bucket actually contains — zero-byte files, NUL bytes,
unicode filenames, duplicate shards, oversized blobs, NULL/partial
metadata, zero-frame videos — and pins the contracts:

- binaryFile: zero-byte files are silently SKIPPED by Spark (upstream
  behavior, docs/SCALE.md); everything else round-trips bit-exact.
- image/audio_features: an undecodable row (NULL blob / missing meta)
  yields NULL features; it must never kill the Arrow batch.
- size_bucket: NULL metadata buckets to NULL (quarantine-routable),
  not silently into the largest-decode bucket.
- frame_sample_plan: zero/NULL frame counts contribute no rows; an
  unguarded sequence(0,-1,k) would abort the whole job.
- the Python data source: empty ranges, parts > rows, and fully
  pushed-down filters all produce exact results.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from emma_spark.llm import multimodal as M

pytestmark = pytest.mark.usefixtures("spark")


@pytest.fixture(scope="module")
def blob_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("blobfuzz")
    (d / "empty.bin").write_bytes(b"")
    (d / "nul.bin").write_bytes(b"\x00\x01\x02\x00")
    (d / "uni_é中.bin").write_bytes("héllo 世界".encode("utf-8"))
    (d / "dup1.bin").write_bytes(b"samecontent")
    (d / "dup2.bin").write_bytes(b"samecontent")
    (d / "big.bin").write_bytes(bytes(range(256)) * 4096)  # 1 MiB
    sub = d / "sub"
    sub.mkdir()
    (sub / "nested.bin").write_bytes(b"nested")
    (d / "other.txt").write_bytes(b"not a bin")
    return str(d)


def test_binaryfile_adversarial_dir(spark, blob_dir):
    bf = spark.read.format("binaryFile").option(
        "pathGlobFilter", "*.bin"
    ).load(blob_dir)
    rows = {os.path.basename(r.path): r for r in bf.collect()}
    # zero-byte file silently skipped (Spark upstream contract),
    # non-recursive by default, glob filter applied
    assert set(rows) == {"nul.bin", "uni_é中.bin", "dup1.bin", "dup2.bin", "big.bin"}
    assert bytes(rows["nul.bin"].content) == b"\x00\x01\x02\x00"
    assert bytes(rows["uni_é中.bin"].content) == "héllo 世界".encode("utf-8")
    assert rows["big.bin"].length == 1 << 20
    # duplicate shards: content-addressing collapses them to one hash
    hashes = (
        bf.select(F.md5("content").alias("h"))
        .groupBy("h").count().filter(F.col("count") > 1).collect()
    )
    assert len(hashes) == 1 and hashes[0]["count"] == 2
    # recursiveFileLookup picks up the nested shard too
    rec = spark.read.format("binaryFile").option(
        "pathGlobFilter", "*.bin"
    ).option("recursiveFileLookup", "true").load(blob_dir)
    assert rec.count() == 6


def test_image_features_null_rows_yield_null_features(spark):
    df = spark.createDataFrame(
        [
            (1, b"", (4, 4, 3, "png")),        # empty blob: decodable (FNV seed)
            (2, None, (4, 4, 3, "png")),       # NULL blob
            (3, b"x", (None, 4, 3, "png")),    # NULL width
            (4, b"y", None),                   # NULL meta struct
            (5, bytes(range(256)) * 8, (9, 9, 1, "png")),  # >256B: cap applies
        ],
        "id long, blob binary, meta struct<width:int,height:int,channels:int,format:string>",
    )
    out = {r.id: r.features for r in M.image_features(df).collect()}
    assert set(out) == {1, 2, 3, 4, 5}  # no row lost, no crash
    assert out[2] is None and out[3] is None and out[4] is None
    assert out[1] is not None and len(out[1]) == 11
    assert out[5] is not None and out[5][8:] == [9.0, 9.0, 1.0]


def test_size_bucket_null_meta_is_null(spark):
    df = spark.createDataFrame(
        [(1, (32, 16)), (2, (None, 300)), (3, (None, None)), (4, None)],
        "id long, meta struct<width:int,height:int>",
    )
    out = {r.id: r.b for r in df.select("id", M.size_bucket(F.col("meta")).alias("b")).collect()}
    # greatest() ignores NULL components, so a one-sided NULL still
    # buckets by the known dimension; all-NULL routes to NULL
    assert out == {1: 0, 2: 2, 3: None, 4: None}


def test_frame_sample_zero_and_null_frames(spark):
    vdf = spark.createDataFrame(
        [(1, (0, 30.0, "mp4")), (2, (None, 30.0, "mp4")), (3, (7, 30.0, "mp4"))],
        "id long, meta struct<n_frames:int,fps:double,format:string>",
    )
    got = sorted((r.video_id, r.frame_no) for r in M.frame_sample_plan(vdf, 2).collect())
    assert got == [(3, 0), (3, 2), (3, 4), (3, 6)]


def test_audio_features_null_rows(spark):
    df = spark.createDataFrame(
        [(1, b"abc", (16000, 100)), (2, None, (16000, 100)), (3, b"x", (None, 5))],
        "id long, blob binary, meta struct<sample_rate:int,n_samples:int>",
    )
    out = {r.id: r.features for r in M.audio_features(df).collect()}
    assert out[2] is None and out[3] is None
    assert out[1] is not None and out[1][8:] == [16000.0, 100.0]


def test_pyds_source_degenerate_shapes(spark):
    from emma_spark.sources import pyds

    pyds.register(spark)
    # n=0: empty but well-formed
    empty = spark.read.format("emma_synth").option("n", 0).option("parts", 4).load()
    assert empty.count() == 0 and "id" in empty.columns
    # parts > n: some partitions empty, ids still exact
    few = spark.read.format("emma_synth").option("n", 3).option("parts", 8).load()
    assert sorted(r.id for r in few.collect()) == [0, 1, 2]
    # filter pushed beyond the range: zero rows, no error
    none = (
        spark.read.format("emma_synth").option("n", 10).option("parts", 2).load()
        .filter("id >= 100")
    )
    assert none.count() == 0
    # pushdown correctness at the boundary
    edge = (
        spark.read.format("emma_synth").option("n", 10).option("parts", 3).load()
        .filter("id > 3 AND id <= 7")
    )
    assert sorted(r.id for r in edge.collect()) == [4, 5, 6, 7]
