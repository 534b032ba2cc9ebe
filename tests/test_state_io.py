"""MutableBag semantics (BaseCodegenIntegrationSpec :400-457 analog)
and CSV/Parquet round-trips (DataBagSpec :277-345 analog)."""

from __future__ import annotations

import dataclasses
from typing import Optional

import pytest
from pyspark.sql import functions as F

from emma_spark.core import DataBag
from emma_spark.state import MutableBag
from tests.conftest import as_bag


# ---------------------------------------------------------------- MutableBag
def test_mutable_bag_upsert_and_delta(spark):
    state = MutableBag(spark.createDataFrame([(1, 10), (2, 20)], ["key", "val"]))
    msgs = spark.createDataFrame([(2, 5), (3, 7)], ["key", "val"])
    # f: add msg to old (0 when absent) — plain upsert
    delta = state.update(DataBag(msgs), lambda k, old, m: F.coalesce(old, F.lit(0)) + m)
    assert as_bag(delta.collect()) == as_bag([(2, 25), (3, 7)], ["key", "val"])
    assert as_bag(state.bag().collect()) == as_bag(
        [(1, 10), (2, 25), (3, 7)], ["key", "val"]
    )


def test_mutable_bag_null_means_no_insert(spark):
    state = MutableBag(spark.createDataFrame([(1, 10)], ["key", "val"]))
    msgs = spark.createDataFrame([(1, 100), (9, 1)], ["key", "val"])
    # only update existing keys; never insert
    delta = state.update(DataBag(msgs), lambda k, old, m: F.when(old.isNotNull(), m))
    assert as_bag(delta.collect()) == as_bag([(1, 100)], ["key", "val"])
    assert as_bag(state.bag().collect()) == as_bag([(1, 100)], ["key", "val"])


def test_mutable_bag_copy_isolated(spark):
    state = MutableBag(spark.createDataFrame([(1, 1)], ["key", "val"]))
    snap = state.copy()
    state.update(
        DataBag(spark.createDataFrame([(1, 2)], ["key", "val"])),
        lambda k, old, m: m,
    )
    assert snap.bag().collect()[0]["val"] == 1
    assert state.bag().collect()[0]["val"] == 2


def test_mutable_bag_snapshot_survives_updates(spark):
    """A bag() snapshot reads the state blocks it was taken from; later
    updates must not free them."""
    state = MutableBag(spark.createDataFrame([(1, 1), (2, 2)], ["key", "val"]))
    snap = state.bag()
    for v in (10, 20):
        state.update(
            DataBag(spark.createDataFrame([(1, v), (3, v)], ["key", "val"])),
            lambda k, old, m: m,
        )
    assert as_bag(snap.collect()) == as_bag([(1, 1), (2, 2)], ["key", "val"])
    assert as_bag(state.bag().collect()) == as_bag(
        [(1, 20), (2, 2), (3, 20)], ["key", "val"]
    )


def test_mutable_bag_loop_clickcount_shape(spark):
    """ClickCountDiffs.scala:21-52 shape: per-round counts merged into
    keyed state across iterations."""
    state = MutableBag(spark.createDataFrame([], "key bigint, val bigint"))
    rounds = [[(1, 1), (2, 1)], [(1, 1)], [(2, 1), (3, 1)]]
    for r in rounds:
        msgs = spark.createDataFrame(r, ["key", "val"])
        state.update(DataBag(msgs), lambda k, old, m: F.coalesce(old, F.lit(0)) + m)
    assert as_bag(state.bag().collect()) == as_bag(
        [(1, 2), (2, 2), (3, 1)], ["key", "val"]
    )


# ---------------------------------------------------------------- IO round-trips
@dataclasses.dataclass
class Rec:
    i: int
    s: str
    d: float
    o: Optional[int]


def test_csv_roundtrip_typed(spark, tmp_path):
    from emma_spark.sources import io

    rows = [Rec(1, "a", 1.5, None), Rec(2, "b,c", -2.0, 7)]
    bag = DataBag(spark.createDataFrame([dataclasses.astuple(r) for r in rows],
                                        io.schema_of(Rec)))
    p = str(tmp_path / "csv")
    bag.write_csv(p)
    back = io.read_csv(spark, p, schema=Rec)
    assert as_bag(back.collect()) == as_bag(bag.collect())


def test_parquet_roundtrip(spark, tmp_path):
    from emma_spark.sources import io

    df = spark.range(100).select(
        F.col("id"),
        (F.col("id") % 3).alias("m"),
        F.array(F.col("id").cast("double"), F.lit(0.5)).alias("vec"),
    )
    p = str(tmp_path / "pq")
    DataBag(df).write_parquet(p, partition_by=["m"])
    back = io.read_parquet(spark, p)
    assert back.df.count() == 100
    assert as_bag(back.df.select("id", "vec").collect()) == as_bag(
        df.select("id", "vec").collect()
    )


def test_parquet_ntz_normalized_nested(spark, tmp_path):
    """Naive (NTZ) parquet timestamps — top-level AND nested in a
    struct/array — come back as TIMESTAMP_LTZ meaning the same UTC
    instant, with the session zone pinned to UTC (the documented
    read_parquet side effect)."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from emma_spark.sources import io

    ts = [datetime.datetime(2024, 1, 1, 12, 0, i) for i in range(3)]
    tbl = pa.table(
        {
            "id": pa.array([1, 2, 3], pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "nested": pa.array(
                [{"t": t, "v": i} for i, t in enumerate(ts)],
                pa.struct([("t", pa.timestamp("us")), ("v", pa.int64())]),
            ),
            "arr": pa.array([[t] for t in ts], pa.list_(pa.timestamp("us"))),
        }
    )
    p = str(tmp_path / "ntz.parquet")
    pq.write_table(tbl, p)

    from pyspark.sql import types as T

    back = io.read_parquet(spark, p).df
    sch = dict((f.name, f.dataType) for f in back.schema.fields)
    assert isinstance(sch["ts"], T.TimestampType)
    assert isinstance(sch["nested"].fields[0].dataType, T.TimestampType)
    assert isinstance(sch["arr"].elementType, T.TimestampType)
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    row = back.orderBy("id").first()
    assert row["ts"] == datetime.datetime(2024, 1, 1, 12, 0, 0)
    assert row["nested"]["t"] == datetime.datetime(2024, 1, 1, 12, 0, 0)
    assert row["arr"][0] == datetime.datetime(2024, 1, 1, 12, 0, 0)


def _parquet_jobs(spark) -> int:
    """Spark jobs so far whose name is a parquet schema inference
    (``parquet at …``), read from the status store."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    jobs = sc.statusStore().jobsList(None)
    return sum(jobs.apply(i).name().startswith("parquet at ") for i in range(jobs.size()))


def test_read_parquet_memo_skips_schema_inference(spark, tmp_path):
    """A second read of an unchanged file opens no schema-inference
    job and returns the same rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from emma_spark.sources import io

    p = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2, 3], "s": ["x", "y", "z"]}), p)
    before = _parquet_jobs(spark)
    first = io.read_parquet(spark, p).df
    assert _parquet_jobs(spark) > before
    before = _parquet_jobs(spark)
    second = io.read_parquet(spark, p).df
    assert _parquet_jobs(spark) == before
    assert second.schema == first.schema
    assert sorted(second.collect()) == sorted(first.collect())


def test_read_parquet_memo_reinfers_rewritten_file(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from emma_spark.sources import io

    p = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), p)
    assert io.read_parquet(spark, p).df.columns == ["a"]
    pq.write_table(pa.table({"a": [1, 2], "b": ["u", "v"]}), p)
    back = io.read_parquet(spark, p).df
    assert back.columns == ["a", "b"]
    assert sorted(back.collect()) == [(1, "u"), (2, "v")]


def test_parquet_dir_stamp_covers_its_data_files(spark, tmp_path):
    """Adding a file to a directory changes its content stamp (and so
    the memoized metadata); hidden files do not."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from emma_spark.sources import io

    d = tmp_path / "dir"
    d.mkdir()
    pq.write_table(pa.table({"a": [1, 2]}), str(d / "part-0.parquet"))
    s0 = io._content_stamp(str(d))
    assert io.read_parquet(spark, str(d)).df.count() == 2
    (d / "_SUCCESS").write_text("")
    (d / ".part-0.parquet.crc").write_text("")
    assert io._content_stamp(str(d)) == s0
    pq.write_table(pa.table({"a": [3]}), str(d / "part-1.parquet"))
    assert io._content_stamp(str(d)) != s0
    assert io.read_parquet(spark, str(d)).df.count() == 3
    assert io._content_stamp(str(d / "*.parquet")) is None
    assert io._content_stamp(str(tmp_path / "missing")) is None


def test_read_parquet_memo_keys_inference_confs(spark, tmp_path):
    """Flipping a conf that changes parquet inference re-infers."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    from emma_spark.sources import io

    p = str(tmp_path / "b.parquet")
    pq.write_table(pa.table({"b": pa.array([b"hi"], pa.binary())}), p)
    key = "spark.sql.parquet.binaryAsString"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "false")
        assert isinstance(io.read_parquet(spark, p).df.schema["b"].dataType, T.BinaryType)
        spark.conf.set(key, "true")
        back = io.read_parquet(spark, p).df
        assert isinstance(back.schema["b"].dataType, T.StringType)
        assert back.first()["b"] == "hi"
    finally:
        spark.conf.set(key, old)


def test_read_parquet_ns_directory_matches_file(spark, tmp_path):
    """timestamp[ns] data read from a directory comes back as the same
    µs timestamps as the same table read from a single file."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from emma_spark.sources import io

    ts = [datetime.datetime(2024, 3, 1, 8, 30, i, 123456) for i in range(4)]
    tbl = pa.table(
        {"id": pa.array([1, 2, 3, 4], pa.int64()), "ts": pa.array(ts, pa.timestamp("ns"))}
    )
    f = str(tmp_path / "one.parquet")
    pq.write_table(tbl, f)
    d = tmp_path / "many"
    d.mkdir()
    pq.write_table(tbl.slice(0, 2), str(d / "part-0.parquet"))
    pq.write_table(tbl.slice(2), str(d / "part-1.parquet"))

    from_file = io.read_parquet(spark, f).df
    from_dir = io.read_parquet(spark, str(d)).df
    assert from_dir.dtypes == from_file.dtypes == [("id", "bigint"), ("ts", "timestamp")]
    assert sorted(from_dir.collect()) == sorted(from_file.collect())
    assert sorted(r["ts"] for r in from_file.collect()) == ts

    # Spark's INT96 timestamps read back as pyarrow timestamp[ns], but
    # they are not nanos: no fixup applies to them
    key = "spark.sql.parquet.outputTimestampType"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "INT96")
        from_file.write.parquet(str(tmp_path / "int96"))
    finally:
        spark.conf.set(key, old)
    back = io.read_parquet(spark, str(tmp_path / "int96")).df
    assert back.dtypes == from_file.dtypes
    assert sorted(back.collect()) == sorted(from_file.collect())


def test_read_text(spark, tmp_path):
    from emma_spark.sources import io

    p = str(tmp_path / "txt")
    DataBag(spark.createDataFrame([("hello",), ("world",)], ["value"])).write_text(p)
    back = io.read_text(spark, p)
    assert sorted(r["value"] for r in back.collect()) == ["hello", "world"]


import enum as _enum


class Color(_enum.Enum):
    RED = 1
    BLUE = 2


class Prio(_enum.IntEnum):
    LOW = 0
    HIGH = 9


@dataclasses.dataclass
class Item:
    k: int
    color: Color
    prio: Prio


def test_csv_roundtrip_enum_codec(spark, tmp_path):
    """Enum column codec (io/csv/CSVColumn.scala:40-80): plain Enum by
    NAME, IntEnum by VALUE; both survive a CSV round-trip."""
    from emma_spark.sources import io

    items = [Item(1, Color.RED, Prio.HIGH), Item(2, Color.BLUE, Prio.LOW)]
    schema = io.schema_of(Item)
    assert [f.dataType.simpleString() for f in schema] == ["bigint", "string", "bigint"]
    bag = DataBag(spark.createDataFrame(io.rows_of(items), schema))
    p = str(tmp_path / "enum_csv")
    bag.write_csv(p)
    back = io.read_csv(spark, p, schema=Item)
    got = {r["k"]: (Color[r["color"]], Prio(r["prio"])) for r in back.collect()}
    assert got == {1: (Color.RED, Prio.HIGH), 2: (Color.BLUE, Prio.LOW)}


def test_csv_options_null_comment_delimiter(spark, tmp_path):
    """CSV codec option breadth (io/csv/CSV.scala:23-55): custom
    delimiter, comment lines, and nullValue round-trip."""
    from emma_spark.sources import io

    p = tmp_path / "opt.csv"
    p.mkdir()
    (p / "part.csv").write_text(
        "# leading comment\n"
        "k;name;score\n"
        "1;alpha;2.5\n"
        "# interior comment\n"
        "2;NA;-1.0\n"
        "3;gamma;NA\n"
    )
    bag = io.read_csv(
        spark, str(p), schema="k int, name string, score double",
        delimiter=";", comment="#", null_value="NA",
    )
    rows = {r["k"]: (r["name"], r["score"]) for r in bag.collect()}
    assert rows == {1: ("alpha", 2.5), 2: (None, -1.0), 3: ("gamma", None)}


def test_sql_entry_point_views(spark):
    """core.sql: bags registered as temp views, ANSI SQL over them."""
    from emma_spark import DataBag, sql

    xs = DataBag(spark.createDataFrame([(1, "a"), (2, "b"), (2, "c")], "k int, v string"))
    out = sql(
        spark,
        "SELECT k, count(*) AS n FROM t GROUP BY k HAVING count(*) > 1",
        t=xs,
    )
    assert [(r["k"], r["n"]) for r in out.collect()] == [(2, 2)]


def test_csv_skip_rows(spark, tmp_path):
    """skipRows (io/csv/CSV.scala:23-55): drop N physical lines before
    parsing — preamble junk ahead of the header."""
    from emma_spark.sources import io

    p = tmp_path / "skip.csv"
    p.mkdir()
    (p / "part.csv").write_text(
        "GENERATED 2026-08-13\nsource: unit-test\nk,v\n1,a\n2,b\n"
    )
    bag = io.read_csv(spark, str(p), schema="k int, v string", skip_rows=2)
    assert {(r["k"], r["v"]) for r in bag.collect()} == {(1, "a"), (2, "b")}


def test_csv_skip_rows_per_file(spark, tmp_path):
    """skipRows is PER FILE ('starting at the beginning of the file',
    io/csv/CSV.scala:33): a directory of files each with its own
    preamble + header must yield every file's data rows — a global
    line index would only skip the first file's preamble and would
    swallow data rows elsewhere."""
    from emma_spark.sources import io

    p = tmp_path / "multiskip"
    p.mkdir()
    (p / "a.csv").write_text("PREAMBLE A\nk,v\n1,a\n2,b\n")
    (p / "b.csv").write_text("PREAMBLE B\nk,v\n3,c\n4,d\n")
    (p / "c.csv").write_text("PREAMBLE C\nk,v\n5,e\n")
    bag = io.read_csv(
        spark, str(p), schema="k int, v string", skip_rows=1, header=True
    )
    assert {(r["k"], r["v"]) for r in bag.collect()} == {
        (1, "a"), (2, "b"), (3, "c"), (4, "d"), (5, "e")
    }
    # headerless variant: every physical line after the skip is data
    q = tmp_path / "multiskip_nohdr"
    q.mkdir()
    (q / "a.csv").write_text("junk\n1,a\n2,b\n")
    (q / "b.csv").write_text("junk\n3,c\n")
    bag2 = io.read_csv(
        spark, str(q), schema="k int, v string", skip_rows=1, header=False
    )
    assert {(r["k"], r["v"]) for r in bag2.collect()} == {
        (1, "a"), (2, "b"), (3, "c")
    }


def test_parquet_write_codec_option(spark, tmp_path):
    """Parquet format options (io/parquet/Parquet.scala:24-60): the
    codec passes through to the files."""
    import os

    from emma_spark.sources import io

    p = str(tmp_path / "zstd_pq")
    DataBag(spark.range(10)).write_parquet(p, compression="zstd")
    files = [f for f in os.listdir(p) if f.endswith(".parquet")]
    assert files and all(".zstd." in f for f in files), files
    assert io.read_parquet(spark, p).df.count() == 10


def test_csv_malformed_modes(spark, tmp_path):
    """Ingestion robustness: DROPMALFORMED drops bad rows, PERMISSIVE
    nulls bad fields, FAILFAST raises."""
    from emma_spark.sources import io

    p = tmp_path / "bad.csv"
    p.mkdir()
    (p / "part.csv").write_text("k,v\n1,10\nnot_an_int,20\n3,30\n")
    dropped = io.read_csv(spark, str(p), schema="k int, v int", mode="DROPMALFORMED")
    assert {(r["k"], r["v"]) for r in dropped.collect()} == {(1, 10), (3, 30)}
    permissive = io.read_csv(spark, str(p), schema="k int, v int", mode="PERMISSIVE")
    got = sorted(
        [(r["k"], r["v"]) for r in permissive.collect()],
        key=lambda t: (t[0] is None, t),
    )
    assert got == [(1, 10), (3, 30), (None, 20)]
    with pytest.raises(Exception):
        io.read_csv(spark, str(p), schema="k int, v int", mode="FAILFAST").collect()


def test_jsonl_roundtrip_and_typed_read(spark, tmp_path):
    """write_jsonl -> read_jsonl(schema) round-trips rows exactly;
    unicode and nested-ish strings survive the codec."""
    from emma_spark.core import DataBag
    from emma_spark.sources import io

    rows = [(1, "héllo wörld", 2.5), (2, 'quote " comma, \t tab', -0.25),
            (3, None, 0.0)]
    bag = DataBag(spark.createDataFrame(rows, "k int, txt string, x double"))
    p = str(tmp_path / "docs_jsonl")
    bag.write_jsonl(p)
    back = io.read_jsonl(spark, p, schema="k int, txt string, x double")
    assert sorted(map(tuple, back.collect())) == sorted(rows)


def test_jsonl_malformed_permissive(spark, tmp_path):
    """A malformed JSONL line nulls out under the default PERMISSIVE
    read instead of failing the job."""
    from emma_spark.sources import io

    p = tmp_path / "bad_jsonl"
    p.mkdir()
    (p / "part.json").write_text('{"k": 1}\nNOT JSON\n{"k": 3}\n')
    got = sorted(
        (r["k"] for r in io.read_jsonl(spark, str(p), schema="k int").collect()),
        key=lambda v: (v is None, v),
    )
    assert got == [1, 3, None]


def test_python_datasource_pushdown_shrinks_generated_range(spark):
    """The custom Python data source must consume id-range filters in
    pushFilters (generating [5000, 6000) only) and still produce the
    exact rows — the connector-level pushdown contract."""
    from pyspark.sql import functions as F

    from emma_spark.sources import pyds

    pyds.register(spark)
    df = (
        spark.read.format("emma_synth")
        .option("n", "20000").option("parts", "8").load()
    )
    sub = df.filter((F.col("id") >= 5000) & (F.col("id") < 6000))
    assert sub.count() == 1000
    assert sub.agg(F.sum("id")).collect()[0][0] == sum(range(5000, 6000))


# the registry queries that stage data on disk while they are built
STAGING_QUERIES = (
    "csv_roundtrip_agg", "jsonl_roundtrip_agg", "orc_roundtrip_agg",
    "parquet_schema_evolution", "csv_gzip_read_agg", "io_wholetext_documents",
    "parquet_partitioned_roundtrip", "csv_multiline_roundtrip",
    "json_array_file_read", "join_dynamic_partition_pruning",
    "io_schema_evolution_merge", "io_parquet_zstd_roundtrip",
    "stream_cdc_merge_snapshot", "pyds_stream_sink_roundtrip",
    "io_binaryfile_ingest", "stream_two_source_union", "stream_tumbling_counts",
)


def test_staging_leaves_no_dir_behind(tmp_path):
    """A process that builds every staging query stages under one
    scratch root in its temp dir and, once it exits, leaves no
    ``emma_*`` entry there."""
    import os
    import subprocess
    import sys
    from pathlib import Path

    from tests.conftest import SF_DIR

    code = (
        "import sys\n"
        "from emma_spark.session import get_spark\n"
        "from emma_spark.sources import io\n"
        "from emma_spark.workloads import load_all\n"
        "spark = get_spark('scratch-leak')\n"
        "spark.sparkContext.setLogLevel('ERROR')\n"
        "qs = load_all()\n"
        "for name in sys.argv[2:]:\n"
        "    qs[name].fn(spark, sys.argv[1]).schema\n"
        "print(io._SCRATCH_ROOT)\n"
    )
    env = {**os.environ, "TMPDIR": str(tmp_path), "SPARK_GRAFT_CPUS": "2",
           "SPARK_GRAFT_DRIVER_MEM": "1g"}
    out = subprocess.run(
        [sys.executable, "-c", code, SF_DIR, *STAGING_QUERIES],
        cwd=Path(__file__).resolve().parents[1], env=env,
        capture_output=True, text=True, check=True,
    ).stdout.strip().splitlines()
    assert os.path.dirname(out[-1]) == str(tmp_path), out[-1:]
    assert [p.name for p in tmp_path.iterdir() if p.name.startswith("emma_")] == []


def test_only_sources_io_makes_scratch_dirs():
    """As code, ``mkdtemp``/``gettempdir`` appear only in sources/io.py
    (``scratch_dir``) and streaming/api.py (the drain checkpoint), so
    every staging dir lives under the one per-process scratch root."""
    import io
    import pathlib
    import tokenize

    root = pathlib.Path(__file__).resolve().parents[1] / "emma_spark"
    found = {
        path.relative_to(root).as_posix()
        for path in root.rglob("*.py")
        for t in tokenize.generate_tokens(io.StringIO(path.read_text()).readline)
        if t.type == tokenize.NAME and t.string in ("mkdtemp", "gettempdir")
    }
    assert found == {"sources/io.py", "streaming/api.py"}, found
