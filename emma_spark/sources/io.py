"""Sources & sinks (SURVEY §2.1).

Reference: typed CSV/Parquet/text readers with per-type codec derivation
(``api/DataBag.scala:407-448``; CSV format config ``io/csv/CSV.scala:23-55``
— header, delimiter, quote, escape, comment, nullValue, charset;
Parquet ``io/parquet/Parquet.scala:24-60``). The Spark backend maps these
straight onto DataFrameReader options (``SparkDataset.scala:168-193``) —
so do we, plus schema derivation from Python dataclasses standing in for
emma's ``Meta``/``ExpressionEncoder`` derivation
(``emma-spark/.../api/spark/package.scala:63``).
"""

from __future__ import annotations

import atexit
import dataclasses
import datetime as _dt
import enum
import shutil
import tempfile
import typing
from typing import Optional

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..core import DataBag

_PRIMITIVES = {
    int: T.LongType(),
    float: T.DoubleType(),
    str: T.StringType(),
    bool: T.BooleanType(),
    bytes: T.BinaryType(),
    _dt.datetime: T.TimestampType(),
    _dt.date: T.DateType(),
}


def schema_of(cls) -> T.StructType:
    """Derive a StructType from a dataclass — the ``Meta[A]``/encoder
    analog (SURVEY §1.2): primitives, Optional -> nullable, list ->
    ArrayType, dict -> MapType, nested dataclass -> nested struct."""
    fields = []
    hints = typing.get_type_hints(cls)
    for f in dataclasses.fields(cls):
        tp = hints[f.name]
        dt, nullable = _to_spark_type(tp)
        fields.append(T.StructField(f.name, dt, nullable))
    return T.StructType(fields)


def _to_spark_type(tp) -> tuple[T.DataType, bool]:
    origin = typing.get_origin(tp)
    if origin is typing.Union:
        args = [a for a in typing.get_args(tp) if a is not type(None)]
        if len(args) == 1:
            dt, _ = _to_spark_type(args[0])
            return dt, True
        raise TypeError(f"unsupported union {tp}")
    if origin in (list, tuple):
        (elem,) = typing.get_args(tp)[:1]
        dt, n = _to_spark_type(elem)
        return T.ArrayType(dt, n), False
    if origin is dict:
        k, v = typing.get_args(tp)
        kt, _ = _to_spark_type(k)
        vt, vn = _to_spark_type(v)
        return T.MapType(kt, vt, vn), False
    if dataclasses.is_dataclass(tp):
        return schema_of(tp), False
    if isinstance(tp, type) and issubclass(tp, enum.Enum):
        # enum column codec (reference: io/csv/CSVColumn.scala:40-80
        # derives codecs for scala.Enumeration / Java enums): IntEnum
        # persists by VALUE (long), any other Enum by NAME (string) —
        # both round-trip losslessly through CSV and Parquet.
        if issubclass(tp, enum.IntEnum):
            return T.LongType(), False
        return T.StringType(), False
    if tp in _PRIMITIVES:
        return _PRIMITIVES[tp], False
    raise TypeError(f"unsupported type {tp}")


def rows_of(items) -> list[tuple]:
    """Encode dataclass instances to row tuples under the same codec
    ``schema_of`` derives the schema with: enums by name/value, nested
    dataclasses as nested tuples — the write half of the reference's
    per-type CSV/Parquet converter derivation
    (``io/csv/CSVConverter.scala:37,94-116``)."""

    def encode(v):
        if isinstance(v, enum.IntEnum):
            return int(v)
        if isinstance(v, enum.Enum):
            return v.name
        if dataclasses.is_dataclass(v) and not isinstance(v, type):
            return tuple(encode(getattr(v, f.name)) for f in dataclasses.fields(v))
        if isinstance(v, (list, tuple)):
            return [encode(x) for x in v]
        return v

    return [
        tuple(encode(getattr(it, f.name)) for f in dataclasses.fields(it))
        for it in items
    ]


def read_text(spark: SparkSession, path: str) -> DataBag:
    """(``api/DataBag.scala:407``; ``SparkDataset.scala:168-170``)."""
    return DataBag(spark.read.text(path))


def _list_input_files(spark: SparkSession, path: str) -> list[str]:
    """Resolve a file/dir/glob path to its data files the way Spark's
    own file index does (Hadoop ``globStatus`` + non-hidden children),
    metadata-only. Sorted for a deterministic union order."""
    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(hconf)
    files: list[str] = []
    for st in fs.globStatus(jpath) or []:
        if st.isDirectory():
            for child in fs.listStatus(st.getPath()):
                name = child.getPath().getName()
                if child.isFile() and not name.startswith(("_", ".")):
                    files.append(child.getPath().toString())
        elif st.isFile():
            files.append(st.getPath().toString())
    return sorted(files)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str | type | None = None,
    header: bool = True,
    delimiter: str = ",",
    quote: str = '"',
    escape: str = "\\",
    comment: str | None = None,
    null_value: str = "",
    charset: str = "UTF-8",
    skip_rows: int = 0,
    mode: str = "PERMISSIVE",
    multi_line: bool = False,
) -> DataBag:
    """Typed CSV read; options mirror ``io/csv/CSV.scala:23-55`` mapped as
    in ``SparkDataset.scala:172-183``.

    ``mode`` governs malformed records (real-world ingestion):
    PERMISSIVE (default — bad fields null out), DROPMALFORMED (bad
    rows vanish), FAILFAST (raise). At 100 TB you almost always want
    DROPMALFORMED plus a separate count of dropped rows, never a
    pipeline that dies at row 10^12.

    ``skip_rows`` (the reference's ``skipRows``) drops the first N
    PHYSICAL lines of EACH file before parsing ("starting at the
    beginning of the file", ``io/csv/CSV.scala:33``). Spark's CSV
    reader has no such option, so the skip path enumerates the input
    files (Hadoop FS metadata only — no data read), gives each file
    its own ``textFile().zipWithIndex()`` (indices are per-file, so N
    means N *in that file*, not N across the whole glob), drops each
    non-first file's header line itself (the RDD-backed CSV reader
    only recognizes ONE leading header), and unions. A documented RDD
    round-trip on this cold IO path only; the per-file driver loop
    touches metadata, never rows.

    ``multi_line`` enables quoted fields containing record
    delimiters (newlines). Correctness/parallelism tradeoff: Spark
    cannot split a multiline CSV file, so each file becomes ONE task
    — treat multiline CSV as a landing format and convert once
    (incompatible with ``skip_rows``, which is line-oriented)."""
    if multi_line and skip_rows > 0:
        raise ValueError("multi_line is incompatible with skip_rows")
    if isinstance(schema, type) and dataclasses.is_dataclass(schema):
        schema = schema_of(schema)
    if skip_rows > 0:
        sc = spark.sparkContext
        files = _list_input_files(spark, path)
        if not files:
            raise FileNotFoundError(path)
        parts = []
        for i, f in enumerate(files):
            # first file keeps its header line (the reader consumes it);
            # every other file drops header + skipped rows entirely
            drop = skip_rows if (i == 0 or not header) else skip_rows + 1
            parts.append(
                sc.textFile(f)
                .zipWithIndex()
                .filter(lambda t, _n=drop: t[1] >= _n)
                .keys()
            )
        lines = sc.union(parts) if len(parts) > 1 else parts[0]
        reader = spark.read.options(
            header=header, delimiter=delimiter, quote=quote, escape=escape,
            nullValue=null_value, inferSchema=schema is None, mode=mode,
        )
        if comment:
            reader = reader.option("comment", comment)
        if schema is not None:
            reader = reader.schema(schema)
        return DataBag(reader.csv(lines))
    reader = spark.read.options(
        header=header,
        delimiter=delimiter,
        quote=quote,
        escape=escape,
        nullValue=null_value,
        charset=charset,
        inferSchema=schema is None,
        mode=mode,
        multiLine=multi_line,
    )
    if comment:
        reader = reader.option("comment", comment)
    if schema is not None:
        reader = reader.schema(schema)
    return DataBag(reader.csv(path))


def read_jsonl(
    spark: SparkSession, path: str, schema: T.StructType | str | type | None = None
) -> DataBag:
    """JSON-Lines source — the interchange format LLM corpora actually
    ship in (one JSON document per line). Schema is REQUIRED at scale:
    without it Spark runs a full inference pre-scan over every byte
    before the real read (2x the 100 TB I/O), so passing ``schema=None``
    here is for ad-hoc exploration only. Malformed lines surface in the
    standard ``_corrupt_record`` pattern under PERMISSIVE mode rather
    than failing the job. No reference analog (io/csv, io/parquet only
    — ``io/csv/CSV.scala:23-55`` is the nearest sibling); JSONL is part
    of the training-data surface this engine adds."""
    reader = spark.read
    if schema is not None:
        if isinstance(schema, type):
            schema = schema_of(schema)
        reader = reader.schema(schema)
    return DataBag(reader.json(path))


def read_orc(spark: SparkSession, path: str, schema=None) -> DataBag:
    """ORC columnar source — the other splittable columnar format a
    Spark shop inherits from Hive-era lakes. Same pushdown/pruning
    properties as parquet (PushedFilters/ReadSchema reach the scan);
    schema optional (ORC files are self-describing, no inference
    scan). No reference analog (io/csv, io/parquet only); added for
    lake interop like read_jsonl."""
    reader = spark.read
    if schema is not None:
        if isinstance(schema, type):
            schema = schema_of(schema)
        reader = reader.schema(schema)
    return DataBag(reader.orc(path))


def read_parquet(spark: SparkSession, path: str, schema=None) -> DataBag:
    """(``api/DataBag.scala:427``; ``SparkDataset.scala:185-193``).
    Column pruning + predicate pushdown reach the scan via Catalyst —
    check ``.explain`` shows PushedFilters/ReadSchema.

    Without ``schema``, the schema Spark infers for ``path`` is
    memoized per content stamp (:func:`parquet_schema`), so a path read
    before costs no schema-inference job and no analysis round trip.

    timestamp[ns] parquet columns (Spark reads them as long under
    ``spark.sql.legacy.parquet.nanosAsLong``) are converted to
    microsecond timestamps, matching DuckDB's truncation.

    **Session-wide side effect (by contract):** if the file contains
    naive (NTZ) timestamp columns — top-level or nested inside
    struct/array/map — this call pins ``spark.sql.session.timeZone``
    to UTC for the remainder of the session and casts them to
    TIMESTAMP_LTZ. This engine's timestamp contract is "naive wall
    times are UTC instants"; the pin is what makes the NTZ→LTZ cast
    mean that on any machine. Consequence for callers: later
    string↔timestamp parsing/rendering in the same session also
    happens in UTC, not the JVM-local zone. Pin your own zone AFTER
    the reads if you need different rendering semantics."""
    if isinstance(schema, type) and dataclasses.is_dataclass(schema):
        schema = schema_of(schema)
    ns_cols, inferred = _parquet_meta(spark, path, infer=schema is None)
    df = spark.read.schema(schema or inferred).parquet(path)
    # Naive (isAdjustedToUTC=false) µs/ms parquet timestamps infer as
    # TIMESTAMP_NTZ under Spark's default inferTimestampNTZ — but NTZ
    # is rejected by withWatermark (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE)
    # and diverges from this engine's timestamp contract: naive wall
    # times are TIMESTAMP_LTZ in a UTC session (exactly what the ns
    # fixup produces), so DuckDB's naive TIMESTAMP and Spark render
    # identical instants. Normalize here, at the IO layer, so a
    # vanilla driver session gets the same types as get_spark's; the
    # TZ pin makes the NTZ→LTZ cast read the naive value AS UTC on any
    # machine (cast interprets NTZ in the session zone). Like
    # nanosAsLong, the conf stays set — restoring it would change the
    # meaning of the lazy plan built here.
    fields = inferred or schema
    if not isinstance(fields, T.StructType):  # a DDL string
        fields = df.schema
    fixes, ntz = {}, False
    for f in fields.fields:
        if f.name in ns_cols:
            # integer `div`, NOT `/`: float division of int64 nanos
            # loses precision past 2^53 and lands ±1µs off after floor
            fixes[f.name] = F.timestamp_micros(F.expr(f"{_quote(f.name)} div 1000"))
        elif (dt := _ntz_to_ltz(f.dataType)) is not f.dataType:
            fixes[f.name], ntz = F.col(_quote(f.name)).cast(dt), True
    if ntz:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    if fixes:
        df = df.select(
            *(fixes[n].alias(n) if n in fixes else F.col(_quote(n)) for n in fields.names)
        )
    return DataBag(df)


def _quote(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def _ntz_to_ltz(dt):
    """Rewrite TIMESTAMP_NTZ → TIMESTAMP_LTZ recursively through
    struct/array/map so nested naive timestamps get the same UTC
    normalization as top-level ones (Spark casts struct→struct /
    array→array fieldwise). Returns the ORIGINAL object when nothing
    changed, so callers can cheaply test `is not`."""
    if isinstance(dt, T.TimestampNTZType):
        return T.TimestampType()
    if isinstance(dt, T.ArrayType):
        elem = _ntz_to_ltz(dt.elementType)
        return dt if elem is dt.elementType else T.ArrayType(elem, dt.containsNull)
    if isinstance(dt, T.MapType):
        k, v = _ntz_to_ltz(dt.keyType), _ntz_to_ltz(dt.valueType)
        if k is dt.keyType and v is dt.valueType:
            return dt
        return T.MapType(k, v, dt.valueContainsNull)
    if isinstance(dt, T.StructType):
        fields = [
            T.StructField(f.name, _ntz_to_ltz(f.dataType), f.nullable, f.metadata)
            for f in dt.fields
        ]
        if all(nf.dataType is of.dataType for nf, of in zip(fields, dt.fields)):
            return dt
        return T.StructType(fields)
    return dt


# Parquet metadata memo: (content stamp, inference confs) ->
# (timestamp[ns] column names, inferred Spark schema or None). Pure
# metadata — a rewritten file or directory gets a new stamp, and a
# changed conf a new key, so an entry never outlives what it describes.
_PARQUET_META: dict = {}

# session confs that change what Spark infers for a parquet path
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.caseSensitive",
)


def parquet_schema(spark: SparkSession, path: str) -> T.StructType:
    """The schema ``spark.read.parquet(path)`` infers (before
    :func:`read_parquet`'s timestamp fixups), memoized per content
    stamp: one inference job per file or directory version and conf
    set, none after."""
    return _parquet_meta(spark, path, infer=True)[1]


def _parquet_meta(spark, path: str, infer: bool):
    """``(ns_cols, schema)`` for a parquet path; ``schema`` is None
    unless ``infer``. Sets ``nanosAsLong`` when the data has
    timestamp[ns] columns, before inferring — Spark rejects those
    columns without it (PARQUET_TYPE_ILLEGAL). The conf is
    deliberately NOT restored: the returned plan is lazy and physical
    planning re-reads the conf at action time. Leaving it set is
    harmless within this engine — every ns read goes through
    :func:`read_parquet`, which always applies the matching div-1000
    micros fixup. Globs, non-``file`` URIs and missing paths are
    probed on every call, not memoized."""
    stamped = _content_stamp(path)
    key = None
    if stamped is not None:
        key = (stamped[0], tuple(spark.conf.get(k) for k in _INFERENCE_CONFS))
        hit = _PARQUET_META.get(key)
        # an entry holding ns columns was stored under nanosAsLong=true,
        # so a hit needs no conf write
        if hit is not None and (hit[1] is not None or not infer):
            return hit
    ns_cols = _ns_timestamp_columns(path if stamped is None else stamped[1])
    if ns_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(path).schema if infer else None
    if key is not None:
        key = (key[0], tuple(spark.conf.get(k) for k in _INFERENCE_CONFS))
        _PARQUET_META[key] = (ns_cols, schema)
    return ns_cols, schema


def _content_stamp(path: str):
    """``(stamp, probe_file)`` for a local parquet file or directory,
    or None for a glob, a non-``file`` URI or a missing path. A file's
    stamp is (absolute path, mtime_ns, size); a directory's adds the
    sorted (relative name, mtime_ns, size) of every file Spark lists
    in it (hidden ``_``/``.`` names skipped, like Spark's file index).
    ``probe_file`` is the first data file, whose footer the ns probe
    reads (None for an empty directory)."""
    import os
    from urllib.parse import urlparse

    if any(ch in path for ch in "*?[{\\"):
        return None
    uri = urlparse(path)
    if uri.scheme not in ("", "file"):
        return None
    local = os.path.abspath(uri.path if uri.scheme else path)
    try:
        st = os.stat(local)
    except OSError:
        return None
    if not os.path.isdir(local):
        return (local, st.st_mtime_ns, st.st_size), local
    files = []
    for root, dirs, names in os.walk(local):
        dirs[:] = sorted(d for d in dirs if not _hidden(d))
        for n in names:
            if not _hidden(n):
                fst = os.stat(os.path.join(root, n))
                rel = os.path.relpath(os.path.join(root, n), local)
                files.append((rel, fst.st_mtime_ns, fst.st_size))
    files.sort()
    data = [rel for rel, _, _ in files if not os.path.basename(rel).startswith("_")]
    probe = os.path.join(local, data[0]) if data else None
    return (local, tuple(files)), probe


def _hidden(name: str) -> bool:
    """Spark's ``shouldFilterOutPathName``: ``_``/``.``-prefixed names
    are not data, except partition dirs (``_x=1``) and the parquet
    summary files."""
    if name.startswith(("_metadata", "_common_metadata")):
        return False
    return (name.startswith("_") and "=" not in name) or name.startswith(".")


# the per-process root every scratch dir lives under (scratch_dir)
_SCRATCH_ROOT: str | None = None


def scratch_dir(prefix: str) -> str:
    """A new empty directory for data a query stages on disk and reads
    back lazily. Every one lives under one per-process root, made in
    ``tempfile.gettempdir()`` on the first call and removed at
    interpreter exit, so scratch lives exactly as long as the process
    that can still read it. A killed process leaves its root behind."""
    global _SCRATCH_ROOT
    if _SCRATCH_ROOT is None:
        _SCRATCH_ROOT = tempfile.mkdtemp(prefix="emma_scratch_")
        atexit.register(shutil.rmtree, _SCRATCH_ROOT, ignore_errors=True)
    return tempfile.mkdtemp(prefix=prefix, dir=_SCRATCH_ROOT)


def _ns_timestamp_columns(path) -> list[str]:
    """Top-level TIMESTAMP(NANOS) columns in a parquet file's footer
    (pyarrow; tens of ms); [] when ``path`` is None or unreadable.
    INT96 timestamps (Spark's default output type) are not nanos:
    Spark reads them as TIMESTAMP, so pyarrow must not report them as
    timestamp[ns]."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    if path is None:
        return []
    try:
        schema = pq.ParquetFile(path, coerce_int96_timestamp_unit="us").schema_arrow
    except (OSError, pa.ArrowException):
        return []
    return [
        f.name for f in schema if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
    ]


def fan_out(df, min_parts: int | None = None):
    """Widen a narrow plan before a compute-heavy projection.

    A small single-row-group parquet file scans as ONE task no matter
    how many cores the cluster has (parquet splits only at row-group
    boundaries), so an expensive narrow pass (e.g. hashing every
    shingle of every document) runs on one core. A round-robin
    repartition spreads it. No-op when the input is already wide — the
    100 TB case, where inputs arrive thousands of partitions wide and
    an extra shuffle would be pure loss.

    Width is estimated from Catalyst's size statistics
    (``sizeInBytes / maxPartitionBytes`` ≈ the scan's split count) —
    a driver-side metadata lookup, NOT ``df.rdd.getNumPartitions()``,
    which forces an RDD conversion of the whole plan on every call.
    Plans without file statistics report a huge default sizeInBytes
    and correctly no-op."""
    spark = df.sparkSession
    target = min_parts or spark.sparkContext.defaultParallelism
    try:
        size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        raw = str(spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728"))
        digits = "".join(ch for ch in raw if ch.isdigit())
        max_bytes = int(digits) if digits else 134217728
        est_parts = max(1, size // max_bytes)
    except Exception:
        est_parts = target  # estimation unavailable -> assume wide (no-op)
    if est_parts >= target:
        return df
    return df.repartition(target)


def write_bucketed(
    df, table: str, buckets: int, *keys: str, sort_cols: tuple[str, ...] = (),
) -> None:
    """Bucketed managed table — the co-located-join path (SURVEY brief:
    'bucketing for co-located joins').

    Two tables bucketed by the same keys into the same bucket count
    join WITHOUT an exchange: each bucket pairs 1:1, so at 100 TB the
    recurring shuffle of a fact-fact join is paid ONCE at write time
    and amortized over every subsequent join/aggregation on those keys
    (`spark.sql.sources.bucketing.enabled`, on by default)."""
    w = df.write.mode("overwrite").format("parquet").bucketBy(buckets, *keys)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table)


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataBag]:
    """Load the driver's TPC-H-ish parquet tables (TESTDATA.md)."""
    if not names:
        names = (
            "region", "nation", "customer", "supplier", "part",
            "orders", "lineitem", "events", "documents", "embeddings",
        )
    return {n: read_parquet(spark, f"{sf_dir}/{n}.parquet") for n in names}
