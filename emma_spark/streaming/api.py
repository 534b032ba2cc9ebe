"""Structured Streaming surface (new capability — SURVEY §2.7: the
reference is batch-only; its closest stateful precedent is
``MutableBag.update`` (``api/MutableBag.scala:28-44``), which
``keyed_state`` generalizes to streams).

Design: streams are ordinary DataFrames (lazy plans) — the same
engine surface as DataBag, with event-time windowing + watermarks for
late data, and ``applyInPandasWithState`` for arbitrary keyed state.
Everything is executor-side; state lives in the state store (RocksDB
on a real cluster), never the driver.

WATERMARK DOMAIN CONTRACT (checked by the epoch fuzz tier): event
times must be >= 1970-01-01T00:00Z. Spark's internal watermark metric
is floored at epoch 0, so every pre-epoch window is silently dropped
as late regardless of the configured delay (probed: on a
1970-straddling corpus the surviving windows start exactly at the
epoch — pinned in tests/test_streaming.py::
test_watermark_epoch_floor_contract). Pre-1970 event times in a
watermarked stream are upstream data corruption; quarantine them
BEFORE the watermark — the engine cannot retain them. Full contract
notes: docs/SCALE.md "Epoch-boundary contracts".

The FUTURE side of the same contract: the watermark persists in the
checkpoint, so one far-future event time (ms-parsed-as-s lands in
~2100) advances it past all real data and every later row in a
restart-resume deployment drops silently.
``quarantine_future_skew`` / ``quarantine_out_of_band`` enforce the
bound ahead of ``with_watermark``; the restart-resume differential
tier (``tools/fuzz.py restart``) certifies the class.

The COLUMN face of the same ingest contract: a producer
renaming/dropping a measure column mid-stream is null-filled
silently by the parquet file source — correct row counts,
NULL aggregates, forever. ``quarantine_required`` dead-letters rows
NULL in declared required columns (loud: a drifted producer becomes a
100 %-quarantined batch), and ``pin_topology``'s ``source_schema``
field refuses a restart whose re-inferred schema drifted; the restart
tier's DRIFT pass certifies the class.
"""

from __future__ import annotations

from contextlib import contextmanager
from typing import Callable, Iterable, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def read_stream_parquet(
    spark: SparkSession, path: str, schema: StructType | str, **options
) -> DataFrame:
    """File-source stream (schema mandatory for streaming reads).
    ``maxFilesPerTrigger`` in ``options`` bounds micro-batch size —
    with availableNow it splits a bounded drain into multiple
    sequential epochs (how the tests exercise multi-batch merges)."""
    r = spark.readStream.schema(schema)
    for k, v in options.items():
        r = r.option(k, v)
    return r.parquet(path)


def with_watermark(df: DataFrame, ts_col: str, delay: str) -> DataFrame:
    """Late-data bound; state for windows older than max(event time) −
    delay is evicted — REQUIRED for unbounded-stream aggregations."""
    return df.withWatermark(ts_col, delay)


def quarantine_pre_epoch(
    df: DataFrame, ts_col: str
) -> tuple[DataFrame, DataFrame]:
    """Split a stream (or batch frame) into ``(valid, quarantine)``
    on the WATERMARK DOMAIN CONTRACT above: rows whose event time is
    NULL or before 1970-01-01T00:00Z go to the quarantine leg.

    Spark's watermark metric is floored at epoch 0, so a watermarked
    aggregation SILENTLY DROPS every pre-epoch window — and a 100 TB
    ingest WILL contain corrupt pre-epoch timestamps (zeroed fields,
    sign-flipped epochs, 1969-12-31 off-by-one-day artifacts). The
    operator makes the contract enforceable instead of documentary:
    route ``valid`` into ``with_watermark`` and ``quarantine`` to a
    side sink (dead-letter parquet, metrics), so corruption is
    OBSERVED rather than silently vanishing into the late-row drop
    counter. Both legs are narrow filters on the same lazy plan — no
    shuffle, no extra scan beyond the second leg's own sink; on a
    stream each leg runs as its own query over the shared source.

    NULL event times ride the quarantine leg too: a NULL timestamp
    row is dropped by a watermarked agg just as silently, and
    ``ts IS NULL`` corruption belongs in the same dead-letter audit.
    """
    ts = F.col(ts_col)
    epoch = F.lit("1970-01-01 00:00:00").cast("timestamp")
    return (
        df.filter(ts.isNotNull() & (ts >= epoch)),
        df.filter(ts.isNull() | (ts < epoch)),
    )


def quarantine_future_skew(
    df: DataFrame, ts_col: str, max_skew: str, now_col: str | None = None
) -> tuple[DataFrame, DataFrame]:
    """Split a stream (or batch frame) into ``(valid, quarantine)``
    on the FUTURE half of the watermark domain contract: rows whose
    event time leads processing time by more than ``max_skew`` (or is
    NULL) go to the quarantine leg.

    Why this bound exists: the watermark
    is ``max(event time) - delay`` and it PERSISTS in the checkpoint.
    ONE corrupt far-future row — the classic epoch-millis-parsed-as-
    seconds artifact lands in year ~2100 — advances the checkpointed
    watermark past all real data, so in every subsequent run of a
    restart-resume (incremental-ingest) deployment EVERY real row is
    "late" and silently dropped: one poison row in a 100 TB ingest
    ends the pipeline forever with zero errors. A single bounded
    drain cannot show this (within one availableNow run the watermark
    only advances after the batch), which is exactly why it must be
    guarded at ingest, before ``with_watermark``.

    The bound's rationale: event time may not LEAD the wall clock —
    an event cannot legitimately have happened in the future — so any
    lead beyond ``max_skew`` (producer clock drift + timezone
    mislabeling; "25 hours" covers any tz offset, "7 days" is a
    generous production default) is upstream corruption. Arbitrarily
    LATE data, by contrast, is legitimate and stays on the valid leg
    (the watermark delay, not this guard, decides lateness).

    ``now_col`` pins the reference to an ingest-time column when the
    pipeline records one; the default ``current_timestamp()`` is the
    micro-batch's batch timestamp on a stream (fixed per batch, so
    the predicate is deterministic within a batch) and the query
    start time in batch. Both legs are narrow filters on the same
    lazy plan — no shuffle, no extra scan beyond the second leg's
    own sink.

    NULL-reference routing: a NULL ``now_col`` value
    would make BOTH legs' predicates NULL and silently drop the row
    from both sinks — violating the no-silent-drop contract this
    operator exists for — so rows with a NULL reference ride the
    quarantine leg (a missing ingest timestamp is itself ingest
    corruption). DUAL-SINK CAVEAT: on a stream the two legs run as
    separate queries, so with the default ``current_timestamp()``
    each evaluates its predicate at its OWN batch time — a row
    arriving near the ``now + max_skew`` boundary can fall between
    the two reference instants and land in neither sink. Production
    dual-sink deployments should pass an ingest-time ``now_col``
    (NULL-safe per the above), or split once per batch inside
    ``foreachBatch`` so both legs share one reference instant."""
    ts = F.col(ts_col)
    ref = F.col(now_col) if now_col else F.current_timestamp()
    bound = ref + F.expr(f"INTERVAL {max_skew}")
    return (
        df.filter(ts.isNotNull() & ref.isNotNull() & (ts <= bound)),
        df.filter(ts.isNull() | ref.isNull() | (ts > bound)),
    )


def quarantine_out_of_band(
    df: DataFrame, ts_col: str, max_skew: str, now_col: str | None = None
) -> tuple[DataFrame, DataFrame]:
    """Both halves of the watermark domain contract in ONE split:
    ``valid`` keeps rows with ``epoch <= ts <= now + max_skew``;
    NULL, pre-epoch (silently dropped: Spark floors the watermark
    metric at epoch 0 — see :func:`quarantine_pre_epoch`) and
    far-future (silently poisons the checkpointed watermark — see
    :func:`quarantine_future_skew`) event times all ride the
    quarantine leg to the dead-letter sink. This is the guard a
    production ingest adopts ahead of ``with_watermark``: one narrow
    filter per leg, corruption OBSERVED rather than vanishing.

    A NULL ``now_col`` reference rides the quarantine leg too (a
    three-valued ``~ok`` would otherwise be NULL on both
    legs and the row would silently vanish from both sinks); the
    quarantine predicate is the explicit isNull-term complement, so
    valid ∪ quarantine == input holds row-for-row by construction."""
    ts = F.col(ts_col)
    epoch = F.lit("1970-01-01 00:00:00").cast("timestamp")
    ref = F.col(now_col) if now_col else F.current_timestamp()
    bound = ref + F.expr(f"INTERVAL {max_skew}")
    ok = ts.isNotNull() & ref.isNotNull() & (ts >= epoch) & (ts <= bound)
    bad = ts.isNull() | ref.isNull() | (ts < epoch) | (ts > bound)
    return df.filter(ok), df.filter(bad)


def quarantine_required(df: DataFrame, *cols: str) -> tuple[DataFrame, DataFrame]:
    """Split a stream (or batch frame) into ``(valid, quarantine)``
    on a REQUIRED-COLUMNS contract: rows NULL in ANY of ``cols`` ride
    the quarantine leg. This is the guard for SILENT SOURCE SCHEMA
    DRIFT, the hazard that completes the topology-drift table
    (docs/CHANGES_r11.md §10):

    A producer renaming or dropping a measure column mid-stream (a
    routine redeploy) is ABSORBED by Spark's parquet file source with
    zero errors — the reader null-fills the missing column against
    the pinned schema, so every window emits with a correct row count
    and a NULL aggregate, and the stream runs forever in that state
    (probed, Spark 4; pinned in tests/test_streaming.py::
    test_source_schema_drift_null_fills_unguarded). Every other guard
    is structurally blind to it: :func:`pin_topology` sees an
    unchanged query, both timestamp quarantines see valid event
    times, and :func:`drain_accounting`'s conservation law reads
    ``dropped_by_watermark: 0`` because no ROW was lost — only a
    column. The asymmetry that makes rename/drop the silent member of
    its class: a TYPE change on the same column fails loudly
    (``PARQUET_COLUMN_DATA_TYPE_MISMATCH``) and a GROUP-KEY change
    fails loudly (state schema mismatch) — this operator exists for
    exactly the face Spark accepts wrong.

    With the guard, a renamed/dropped producer column turns into a
    100 %-quarantined batch — loud in any dead-letter monitoring —
    instead of silently NULL-totaled windows with healthy row counts
    (which a downstream ``coalesce(total, 0)`` converts to
    silently-zero revenue). It equally dead-letters ordinary per-row
    NULL corruption in required fields, so adopters' oracles filter
    ``IS NOT NULL`` on the same columns.

    The restart-time face — the caller RE-INFERS the pinned schema
    from a drifted directory (``spark.read.parquet(staged).schema``),
    where the batch reader's footer choice decides between a loud
    analysis error and silent NULLs — is covered by the companion
    convention: pin ``source_schema=schema.simpleString()`` as a
    :func:`pin_topology` field, so a drifted re-inference refuses the
    restart before the query starts.

    Both legs are narrow pushed filters on the same lazy plan — no
    shuffle, no Python; on a stream each leg runs as its own query
    over the shared source. Rows NULL in SEVERAL required columns
    appear once (one quarantine leg, not one per column)."""
    if not cols:
        raise ValueError("quarantine_required needs at least one column")
    ok = F.lit(True)
    bad = F.lit(False)
    for c in cols:
        ok = ok & F.col(c).isNotNull()
        bad = bad | F.col(c).isNull()
    return df.filter(ok), df.filter(bad)


def tumbling(df: DataFrame, ts_col: str, duration: str, *keys: str) -> "GroupedStream":
    """Non-overlapping event-time windows."""
    return GroupedStream(df, [F.window(ts_col, duration).alias("window"), *map(F.col, keys)])


def sliding(df: DataFrame, ts_col: str, duration: str, slide: str, *keys: str) -> "GroupedStream":
    return GroupedStream(
        df, [F.window(ts_col, duration, slide).alias("window"), *map(F.col, keys)]
    )


def session(df: DataFrame, ts_col: str, gap: str, *keys: str) -> "GroupedStream":
    """Session windows: rows within ``gap`` of each other merge."""
    return GroupedStream(
        df, [F.session_window(ts_col, gap).alias("window"), *map(F.col, keys)]
    )


class GroupedStream:
    def __init__(self, df: DataFrame, group_cols):
        self._df = df
        self._group_cols = group_cols

    def agg(self, *aggs, **named) -> DataFrame:
        cols = list(aggs) + [c.alias(n) for n, c in named.items()]
        return self._df.groupBy(*self._group_cols).agg(*cols)


def keyed_state(
    df: DataFrame,
    keys: list[str],
    func: Callable,
    state_schema: StructType | str,
    output_schema: StructType | str,
    output_mode: str = "update",
    timeout: str = "NoTimeout",
) -> DataFrame:
    """Arbitrary keyed state over a stream — the ``MutableBag.update``
    analog (``api/MutableBag.scala:28-44``: upsert by key, emit delta).

    ``func(key, pdf_iter, state)`` is a pandas-batched update function
    (Arrow transfer); state is partitioned by key across executors —
    scales with key cardinality, nothing on the driver."""
    return df.groupBy(*keys).applyInPandasWithState(
        func, output_schema, state_schema, output_mode, timeout
    )


def interval_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    lower: str,
    upper: str,
    how: str = "inner",
) -> DataFrame:
    """Stream-stream equi-join with a time-interval condition:
    ``right_ts ∈ [left_ts − lower, left_ts + upper]`` per key.

    Both inputs must carry watermarks — the interval plus the
    watermarks bound how long each side's rows are retained in join
    state, which is what makes a stream-stream join runnable on an
    unbounded stream (state evicts once the other side's watermark
    passes the interval edge). Matches emit as they arrive (append)."""
    cond = (
        (left[on] == right[on])
        & (right[right_ts] >= F.expr(f"{left_ts} - interval {lower}"))
        & (right[right_ts] <= F.expr(f"{left_ts} + interval {upper}"))
    )
    return left.join(right, cond, how)


@contextmanager
def drain_accounting(spark: SparkSession) -> Iterator[dict]:
    """Ingest-loss accounting for the streaming queries started inside
    the block, filled into the yielded dict on exit:
    ``{"batches", "input_rows", "dropped_by_watermark",
    "final_watermark", "state_partitions"}``::

        with drain_accounting(spark) as acct:
            out = run_to_memory(agg, output_mode="append")
        assert acct["dropped_by_watermark"] == 0

    THE ARRIVAL-ORDER FACE OF THE WATERMARK CONTRACT (the third face,
    after pre-epoch and future-skew): the watermark advances BETWEEN
    micro-batches within a single run, so when input arrives as
    multiple files whose arrival (modification-time) order disagrees
    with event-time order — a late-replicated shard, a backfill file
    landing after newer data, the norm in any object-store ingest —
    one newest-events file processed first advances the watermark and
    every older file's rows are silently dropped as late, with no
    restart and no corrupt timestamp needed (pinned:
    tests/test_streaming.py::test_out_of_order_file_arrival_drops_
    within_single_run — 5 of 12 valid rows vanish). No quarantine can
    catch it (the rows are individually valid); the guards are
    (a) a watermark delay sized to the actual arrival disorder and
    (b) THIS accounting, which makes the loss observable:
    ``input_rows == emitted + dropped_by_watermark + retained`` (rows
    still in unfinalized state), so a nonzero drop count is an alarm,
    never a silent subtraction.

    A ``StreamingQueryListener`` registered for the block sums the
    progress events of the runs whose start it saw, keyed by run id,
    so a query drained before the block is never counted and the sums
    are exact for any batch count. On exit it waits until the listener
    bus has delivered every posted event, then unregisters.
    ``final_watermark`` is the last watermark reported.

    ``state_partitions`` reports the state store's ACTUAL partition
    count (max ``numShufflePartitions`` across state operators, None
    for stateless queries) — which on a restart is the number pinned
    in the CHECKPOINT at first start, not the session conf: probed
    (Spark 4, pinned in tests/test_streaming.py::
    test_shuffle_partition_change_across_restart_is_ignored), a
    restart under a changed ``spark.sql.shuffle.partitions`` silently
    keeps the checkpointed count (benign — results identical — but a
    re-size attempt that "succeeds" without effect is worth an
    observable readback).
    """
    from pyspark.sql.streaming import StreamingQueryListener

    runs: set = set()
    progress: list = []

    class Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            runs.add(event.runId)

        def onQueryProgress(self, event):
            if event.progress.runId in runs:
                progress.append(event.progress)

        def onQueryTerminated(self, event):
            pass

    listener = Listener()
    acct: dict = {}
    spark.streams.addListener(listener)
    try:
        yield acct
    finally:
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        spark.streams.removeListener(listener)
    ops = [so for p in progress for so in p.stateOperators]
    wms = [p.eventTime["watermark"] for p in progress if "watermark" in p.eventTime]
    acct.update(
        batches=len(progress),
        input_rows=sum(p.numInputRows for p in progress),
        dropped_by_watermark=sum(so.numRowsDroppedByWatermark for so in ops),
        final_watermark=wms[-1] if wms else None,
        state_partitions=max((so.numShufflePartitions for so in ops), default=0) or None,
    )


# Checkpoint manager for a drain's scratch checkpoint (see run_to_memory).
_SCRATCH_CKPT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


@contextmanager
def _scoped_conf(spark: SparkSession, conf: dict[str, str]) -> Iterator[None]:
    """Set ``conf`` on the session for the block; on exit put back each
    key's previous value, unsetting the keys that were unset before."""
    prev = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def run_to_memory(
    stream_df: DataFrame,
    name: str | None = None,
    output_mode: str = "append",
    state_partitions: int | None = None,
) -> DataFrame:
    """Drain all available input into an in-memory table (availableNow
    trigger), block until done and return the drained table — turns a
    stream into a queryable batch result (tests / the driver's
    batch-only harness). The sink gets a fresh name unless ``name`` is
    given. Wrap the call in :func:`drain_accounting` to assert the
    conservation law (nonzero ``dropped_by_watermark`` means the
    arrival-order contract above was violated).

    ``state_partitions`` sizes the state store: a streaming query pins
    its shuffle-partition count (= number of state store instances) at
    first start, so it must be sized to STATE-KEY cardinality, not the
    session default meant for large batch shuffles. For a bounded drain
    with thousands of keys a handful of partitions avoids paying
    per-partition store setup; an unbounded production run with many
    millions of keys should pass a number sized to the cluster.

    CHECKPOINT: the memory sink is non-fault-tolerant by definition,
    so the drain's checkpoint is always scratch — deleted when the
    drain ends, never resumed. On a LOCAL master (every process on one
    machine) it goes under ``tempfile.gettempdir()``; on a cluster
    master the default placement is unchanged (executors must reach
    the checkpoint). ``SPARK_GRAFT_STREAM_CKPT`` overrides the base dir
    everywhere; it must be a local directory (a plain path or a
    ``file:`` URI) — any other URI scheme raises ``ValueError``,
    because the scratch checkpoint could not be deleted there.

    Every local scratch checkpoint is written through Spark's
    FileSystem checkpoint manager, set for the drain only (docs/SCALE.md
    "Streaming drain checkpoints"). A drain checkpoint costs forked
    processes, not bytes: without the native Hadoop library the local
    filesystem forks a ``chmod`` for every file it writes, and the
    default FileContext manager's rename forks four ``readlink``s more
    per checkpoint file. Its atomic-overwrite rename buys a scratch
    checkpoint nothing, since a local POSIX rename is atomic. Durable,
    resumable streaming output is ``foreach_batch_parquet`` with a
    caller-provided checkpoint, which keeps Spark's default manager."""
    import os
    import shutil
    import tempfile
    import uuid as _uuid
    from urllib.parse import urlparse

    spark = stream_df.sparkSession
    base = os.environ.get("SPARK_GRAFT_STREAM_CKPT")
    if base is not None:
        url = urlparse(base)
        if url.scheme not in ("", "file"):
            raise ValueError(
                f"SPARK_GRAFT_STREAM_CKPT={base!r}: the drain checkpoint "
                "is scratch deleted after the drain, so it must be a "
                f"local directory, not a {url.scheme!r} URI"
            )
        base = url.path if url.scheme else base
    if base is None and spark.sparkContext.master.startswith("local"):
        base = tempfile.gettempdir()
    tag = f"emma_drain_{_uuid.uuid4().hex}"
    name = name or tag
    ckpt = os.path.join(base, tag) if base else None
    conf = {}
    if state_partitions is not None:
        conf["spark.sql.shuffle.partitions"] = str(state_partitions)
    if ckpt is not None:
        conf["spark.sql.streaming.checkpointFileManagerClass"] = _SCRATCH_CKPT_MANAGER
    try:
        with _scoped_conf(spark, conf):
            w = (
                stream_df.writeStream.format("memory")
                .queryName(name)
                .outputMode(output_mode)
                .trigger(availableNow=True)
            )
            if ckpt is not None:
                w = w.option("checkpointLocation", ckpt)
            w.start().awaitTermination()
    finally:
        if ckpt is not None:
            shutil.rmtree(ckpt, ignore_errors=True)
    return spark.table(name)


def pin_topology(checkpoint: str, **fingerprint) -> None:
    """Pin a streaming query's TOPOLOGY to its checkpoint, and refuse
    to restart if it changed — the guard for the one query-evolution
    class Spark accepts SILENTLY WRONG.

    Probed (Spark 4, pinned in tests/test_streaming.py::
    test_window_duration_change_on_live_checkpoint_is_silently_wrong):
    restarting a windowed aggregation on its live checkpoint after
    changing the WINDOW DURATION (1 h → 2 h — "we widened the rollup
    and redeployed", a routine ops action) raises nothing and emits a
    MIX of old-scheme and new-scheme windows: the carried 1 h state
    row [04:00,05:00) evicts as-is while the same hour's new data
    opens a 2 h window [04:00,06:00) that never merges with it — the
    output contains OVERLAPPING window keys, so any downstream
    range-sum double-counts, with zero errors. Spark CAN'T catch it:
    the state schema (window struct + agg buffer) is identical either
    way — which is also why changing the GROUP KEYS does fail loudly
    (state schema mismatch), and why this guard exists only for the
    parameters the schema doesn't encode.

    Mechanics: writes ``_emma_topology.json`` inside the checkpoint
    directory on first start — resolved through the active session's
    Hadoop FileSystem API, i.e. the same resolver the checkpoint
    itself uses, so the pin works wherever the checkpoint lives
    (``file://``, ``hdfs://``, ``s3a://``; plain local FS when no
    session is active); on every later start, compares the
    caller's fingerprint (any JSON-serializable kwargs — window
    duration/slide, session gap, group keys, whatever identifies the
    topology) and raises ``ValueError`` naming each changed field
    BEFORE the query starts. The watermark DELAY is deliberately the
    caller's choice to include: changing it across restarts is
    documented-allowed Spark semantics (probed: accepted, predictable
    results), so pin it only if the deployment treats it as fixed.
    Call before ``start()`` with the same checkpoint path; one tiny
    driver-side file, no effect on the query plan.

    Include the SOURCE PATH in the fingerprint: the file source's
    seen-files log keys by absolute path, so repointing the query at
    a directory holding the SAME data under a new path replays all of
    it — and the carried watermark then MASKS the replay by dropping
    the already-finalized rows as late while the still-open windows
    silently absorb duplicates (probed: after a repoint the open
    window reads n=2 with zero errors and zero visible duplicate
    emissions; pinned in tests/test_streaming.py::
    test_source_repoint_on_live_checkpoint_double_counts_open_windows).

    Include the SINK PATH too (probed, and pinned in
    tests/test_streaming.py::
    test_sink_repoint_on_live_checkpoint_strands_both_outputs): the
    parquet sink's exactly-once log lives under the OUTPUT dir, so
    repointing the output path on a live checkpoint WRITES WITHOUT
    ERROR but strands both directories — the old dir's metadata log
    stops at the pre-repoint batch (readers see it silently stale,
    forever healthy-looking), while the new dir's log STARTS at the
    post-repoint batch id, so metadata-aware readers of the new dir
    fail loudly (``_spark_metadata/0 doesn't exist``). The repoint
    "succeeds" operationally and no sink ever serves the full data.

    Include the SOURCE SCHEMA in the fingerprint (pass
    ``source_schema=stream.schema`` — a ``StructType`` value is
    normalized to ``simpleString()``): the file source null-fills a
    renamed/dropped producer column SILENTLY against the pinned
    schema (see :func:`quarantine_required` for the live-stream
    guard), and the common harness idiom
    ``spark.read.parquet(staged).schema`` re-infers the pinned schema
    from whatever files exist at restart — over a mixed-schema
    directory the batch reader's footer choice then decides between a
    loud analysis failure and silent NULLs nondeterministically.
    Pinning the schema string turns that restart-time face into a
    refusal BEFORE the query starts (pinned in tests/test_streaming
    .py::test_pin_topology_source_schema_refuses_drifted_reinference).

    FIRST-START CAVEAT: the pin is written before the
    first ``start()``, so if that first start never succeeds the pin
    persists against an empty/dead checkpoint and a corrected
    redeploy with a different fingerprint is refused; the
    check-then-write is also not atomic under concurrent first
    starts. Recovery is the one named in the refusal message: a dead
    checkpoint is deleted WITH its ``_emma_topology.json`` (the pin
    has no meaning apart from the checkpoint it sits in), after which
    the corrected topology pins fresh."""
    import json

    fingerprint = {
        k: (v.simpleString() if isinstance(v, StructType) else v)
        for k, v in fingerprint.items()
    }
    want = json.loads(json.dumps(fingerprint, sort_keys=True, default=str))
    have = _ckpt_read_json(checkpoint, "_emma_topology.json")
    if have is not None:
        if have != want:
            changed = sorted(
                k for k in set(have) | set(want)
                if have.get(k) != want.get(k)
            )
            raise ValueError(
                "streaming topology changed on a live checkpoint "
                f"({checkpoint}): field(s) {changed} differ "
                f"(pinned={ {k: have.get(k) for k in changed} }, "
                f"now={ {k: want.get(k) for k in changed} }). Spark "
                "accepts some of these changes silently wrong (e.g. "
                "window duration: overlapping old/new window keys in "
                "the output) — start a NEW checkpoint (reprocess or "
                "cut over at a window boundary) instead. If this "
                "checkpoint is DEAD (its first start never succeeded, "
                "so the pin outlived it), delete the checkpoint "
                "directory together with its _emma_topology.json and "
                "redeploy."
            )
    else:
        _ckpt_write_text(checkpoint, "_emma_topology.json",
                         json.dumps(want, sort_keys=True))


def _ckpt_fs(path: str):
    """Resolve ``path`` through the Hadoop FileSystem API of the
    active SparkSession — the same resolver the checkpoint itself
    uses, so the topology pin lives wherever the checkpoint lives
    (``file://``, ``hdfs://``, ``s3a://``, …). Returns ``(fs, Path)``
    or ``None`` when no session is active (local-FS fallback)."""
    spark = SparkSession.getActiveSession()
    if spark is None:
        return None
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, p


def _ckpt_read_json(checkpoint: str, name: str):
    """Read ``checkpoint/name`` as JSON, or None if absent."""
    import json
    import os

    resolved = _ckpt_fs(checkpoint)
    if resolved is None:
        f = os.path.join(checkpoint, name)
        if not os.path.exists(f):
            return None
        with open(f) as fh:
            return json.load(fh)
    fs, base = resolved
    spark = SparkSession.getActiveSession()
    f = spark._jvm.org.apache.hadoop.fs.Path(base, name)
    if not fs.exists(f):
        return None
    stream = fs.open(f)
    try:
        text = spark._jvm.org.apache.commons.io.IOUtils.toString(
            stream, "UTF-8")
    finally:
        stream.close()
    return json.loads(text)


def _ckpt_write_text(checkpoint: str, name: str, text: str) -> None:
    """Write ``text`` to ``checkpoint/name`` (creating the directory),
    through the Hadoop FS when a session is active, else local FS."""
    import os

    resolved = _ckpt_fs(checkpoint)
    if resolved is None:
        os.makedirs(checkpoint, exist_ok=True)
        with open(os.path.join(checkpoint, name), "w") as fh:
            fh.write(text)
        return
    fs, base = resolved
    spark = SparkSession.getActiveSession()
    fs.mkdirs(base)
    f = spark._jvm.org.apache.hadoop.fs.Path(base, name)
    out = fs.create(f, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def foreach_batch_parquet(stream_df: DataFrame, path: str, checkpoint: str,
                          output_mode: str = "append",
                          topology: dict | None = None,
                          available_now: bool = False):
    """Continuous parquet sink with checkpointing (exactly-once file
    sink) — the production write path. Pass ``topology`` (any
    JSON-serializable dict identifying the query shape — window
    duration, group keys, …) to :func:`pin_topology` it against the
    checkpoint: restarting with a changed topology then raises
    instead of emitting Spark's silently-mixed output.
    ``available_now=True`` makes it a BOUNDED drain (processes what
    exists, then terminates — ``awaitTermination()`` returns); the
    default is an unbounded continuous query, on which
    ``awaitTermination()`` blocks by design."""
    if topology is not None:
        pin_topology(checkpoint, **topology)
    w = (
        stream_df.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode(output_mode)
    )
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()
