"""Structured Streaming tests: stream results == batch results on the
same data (differential, like everything else), plus keyed state
(the MutableBag.update streaming analog) and watermark plumbing."""

from __future__ import annotations

import datetime
import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from emma_spark.streaming import api as S

from tests.conftest import SF_DIR, as_bag


@pytest.fixture(scope="module")
def staged_events(spark, tmp_path_factory):
    from emma_spark.sources import io

    d = str(tmp_path_factory.mktemp("ev_stream_test"))
    io.read_parquet(spark, f"{SF_DIR}/events.parquet").df.write.mode("overwrite").parquet(d)
    return d


def test_stream_tumbling_equals_batch(spark, staged_events):
    batch = spark.read.parquet(staged_events)
    stream = S.read_stream_parquet(spark, staged_events, batch.schema)

    agg = S.tumbling(stream, "ts", "30 minutes", "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    got = S.run_to_memory(agg, output_mode="complete").select(
        F.col("window.start").alias("s"), "event_type", "n"
    )

    want = (
        batch.groupBy(F.window("ts", "30 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("s"), "event_type", "n")
    )
    assert as_bag(got.collect()) == as_bag(want.collect())


def test_stream_session_window_equals_batch(spark, staged_events):
    batch = spark.read.parquet(staged_events)
    stream = S.read_stream_parquet(spark, staged_events, batch.schema)
    stream = S.with_watermark(stream, "ts", "1 hour")

    agg = S.session(stream, "ts", "10 minutes", "user_id").agg(
        F.count(F.lit(1)).alias("n")
    )
    got = S.run_to_memory(agg, output_mode="complete").select(
        "user_id", F.col("window.start").alias("s"), "n"
    )

    want = (
        batch.groupBy(F.session_window("ts", "10 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select("user_id", F.col("w.start").alias("s"), "n")
    )
    assert as_bag(got.collect()) == as_bag(want.collect())


def test_keyed_state_running_counts(spark, staged_events):
    """applyInPandasWithState: per-user running event count — final
    per-key state must equal the batch groupBy count
    (MutableBag.update upsert semantics, api/MutableBag.scala:28-44)."""
    batch = spark.read.parquet(staged_events)
    stream = S.read_stream_parquet(spark, staged_events, batch.schema)

    def update(key, pdf_iter, state):
        cnt = state.get[0] if state.exists else 0
        for pdf in pdf_iter:
            cnt += len(pdf)
        state.update((cnt,))
        yield pd.DataFrame({"user_id": [key[0]], "n": [cnt]})

    out = S.keyed_state(
        stream,
        keys=["user_id"],
        func=update,
        state_schema="n bigint",
        output_schema="user_id bigint, n bigint",
        output_mode="update",
    )
    got = S.run_to_memory(out, output_mode="update").groupBy("user_id").agg(
        F.max("n").alias("n")
    )
    want = batch.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    assert as_bag(got.collect()) == as_bag(want.collect())


def test_watermark_is_attached(spark, staged_events):
    batch = spark.read.parquet(staged_events)
    stream = S.with_watermark(
        S.read_stream_parquet(spark, staged_events, batch.schema), "ts", "2 hours"
    )
    # watermark node present in the logical plan
    assert "EventTimeWatermark" in stream._jdf.queryExecution().logical().toString()


def test_interval_join_helper_equals_batch(spark, staged_events):
    """S.interval_join (stream-stream) drained == batch interval join."""
    batch = spark.read.parquet(staged_events)
    schema = batch.schema

    def side(df, tcol, idcol):
        return (
            df.filter(F.col("event_type") == ("purchase" if idcol == "pid" else "click"))
            .select(F.col("event_id").alias(idcol), "user_id", F.col("ts").alias(tcol))
        )

    lp = S.with_watermark(S.read_stream_parquet(spark, staged_events, schema), "ts", "2 hours")
    rc = S.with_watermark(S.read_stream_parquet(spark, staged_events, schema), "ts", "2 hours")
    l = side(lp, "p_ts", "pid")
    r = side(rc, "c_ts", "cid").withColumnRenamed("user_id", "c_user")
    j = S.interval_join(
        l, r.withColumnRenamed("c_user", "user_id"), "user_id", "p_ts", "c_ts",
        lower="1 hour", upper="0 seconds",
    ).select("pid", "cid")
    got = S.run_to_memory(j, output_mode="append", state_partitions=2)

    bl, br = side(batch, "p_ts", "pid"), side(batch, "c_ts", "cid").withColumnRenamed("user_id", "u2")
    want = bl.join(
        br,
        (bl["user_id"] == br["u2"])
        & (br["c_ts"] >= F.expr("p_ts - interval 1 hour"))
        & (br["c_ts"] <= bl["p_ts"]),
    ).select("pid", "cid")
    assert as_bag(got.collect()) == as_bag(want.collect())


def test_foreach_batch_parquet_sink(spark, staged_events, tmp_path):
    """Continuous parquet sink with checkpointing: the drained files
    hold exactly the stream's rows."""
    batch = spark.read.parquet(staged_events)
    stream = S.read_stream_parquet(spark, staged_events, batch.schema)
    out = str(tmp_path / "sink")
    ck = str(tmp_path / "ck")
    q = S.foreach_batch_parquet(
        stream.select("event_id", "user_id"), out, ck, output_mode="append"
    )
    q.processAllAvailable()
    q.stop()
    back = spark.read.parquet(out)
    assert back.count() == batch.count()
    assert as_bag(back.select("event_id").collect()) == as_bag(
        batch.select("event_id").collect()
    )


def test_checkpoint_restart_exactly_once(spark, tmp_path):
    """Incremental exactly-once ingestion: drain batch 1 to a
    checkpointed parquet sink, add new input files, drain again with
    the SAME checkpoint — the sink holds every row exactly once (the
    checkpoint remembers processed files; the file sink commits
    atomically via its manifest)."""
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    spark.range(0, 100).withColumn("batch", F.lit(1)).write.mode("append").parquet(src)

    schema = spark.read.parquet(src).schema

    def drain():
        q = (
            spark.readStream.schema(schema).parquet(src)
            .writeStream.format("parquet")
            .option("path", out).option("checkpointLocation", ck)
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination()

    drain()
    assert spark.read.parquet(out).count() == 100
    spark.range(100, 250).withColumn("batch", F.lit(2)).write.mode("append").parquet(src)
    drain()
    back = spark.read.parquet(out)
    assert back.count() == 250
    assert back.select("id").distinct().count() == 250  # no duplicates


def test_keyed_state_event_time_timeout(spark, staged_events):
    """Event-time state TTL: per-user session state registers a
    timeout at (max event time seen + 30 min); when the watermark
    passes it, the state is EVICTED and a final 'closed' record is
    emitted with the accumulated count. availableNow + the terminal
    no-data micro-batch advance the watermark to max(ts) - delay, so
    exactly the users whose last event is older than
    max(ts) - delay - 30min close deterministically — verified
    against the batch computation of the same rule."""
    import pandas as pd

    batch = spark.read.parquet(staged_events)
    stream = S.with_watermark(
        S.read_stream_parquet(spark, staged_events, batch.schema), "ts", "1 hour"
    )

    def update(key, pdf_iter, state):
        if state.hasTimedOut:
            (cnt, last_ms) = state.get
            state.remove()
            yield pd.DataFrame(
                {"user_id": [key[0]], "n": [cnt], "closed": [True]}
            )
            return
        cnt, last_ms = (state.get if state.exists else (0, 0))
        for pdf in pdf_iter:
            cnt += len(pdf)
            if len(pdf):
                last_ms = max(last_ms, int(pdf["ts"].max().timestamp() * 1000))
        state.update((cnt, last_ms))
        state.setTimeoutTimestamp(last_ms + 30 * 60 * 1000)
        yield pd.DataFrame({"user_id": [key[0]], "n": [cnt], "closed": [False]})

    out = S.keyed_state(
        stream,
        keys=["user_id"],
        func=update,
        state_schema="n bigint, last_ms bigint",
        output_schema="user_id bigint, n bigint, closed boolean",
        output_mode="update",
        timeout="EventTimeTimeout",
    )
    drained = S.run_to_memory(out, output_mode="update", state_partitions=4)
    closed = {
        r["user_id"]: r["n"]
        for r in drained.filter(F.col("closed")).collect()
    }
    # batch replay of the eviction rule
    import pyspark.sql.functions as FF
    mx = batch.agg(FF.max("ts")).collect()[0][0]
    horizon = mx - datetime.timedelta(hours=1) - datetime.timedelta(minutes=30)
    want = {
        r["user_id"]: r["n"]
        for r in batch.groupBy("user_id")
        .agg(FF.count(FF.lit(1)).alias("n"), FF.max("ts").alias("last"))
        .filter(FF.col("last") < horizon)
        .collect()
    }
    assert closed == want


def test_pyds_stream_resumes_from_checkpointed_offset(spark, tmp_path):
    """Multi-batch drain of the custom Python streaming source via
    RESTART-RESUME: each availableNow run drains the one prefetched
    batch, commits its offset to the checkpoint, and the next run
    continues from there — the incremental-ingest deployment pattern
    and the engine-side proof that initialOffset/read/commit offsets
    round-trip through the checkpoint log."""
    from pyspark.sql import functions as F

    from emma_spark.sources import pyds

    pyds.register_stream(spark)
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    total = 0
    for _ in range(6):  # 5000 rows / batch 2000 -> 3 productive runs
        st = (
            spark.readStream.format("emma_synth_stream")
            .option("n", "5000").option("batch", "2000").load()
        )
        q = (
            st.writeStream.format("parquet")
            .option("path", out).option("checkpointLocation", ckpt)
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination()
        n = spark.read.parquet(out).count()
        if n == total:  # offset stopped advancing -> fully drained
            break
        total = n
    got = spark.read.parquet(out)
    assert got.count() == 5000
    assert got.select(F.sum("id")).collect()[0][0] == sum(range(5000))
    assert got.select(F.countDistinct("id")).collect()[0][0] == 5000


def test_watermark_epoch_floor_contract(spark, tmp_path):
    """DOMAIN CONTRACT (epoch-straddle tier): Spark's
    watermark metric is floored at epoch 0, so a watermarked append
    aggregation SILENTLY drops every pre-1970 window as late — while
    post-epoch windows from the same corpus emit. If this test ever
    fails with pre-1970 rows PRESENT, Spark lifted the bound: delete
    the with_watermark domain note and re-admit stream_* to
    ``tools/fuzz.py epoch``."""
    from emma_spark.streaming import api as S

    src = str(tmp_path / "ev")
    spark.createDataFrame(
        [(i, __import__("datetime").datetime(1969, 12, 31, 22, 0, 0)
          + __import__("datetime").timedelta(hours=i)) for i in range(6)],
        "id bigint, ts timestamp",
    ).write.parquet(src)
    stream = S.with_watermark(
        S.read_stream_parquet(spark, src, "id bigint, ts timestamp"),
        "ts", "10 minutes",
    )
    agg = S.tumbling(stream, "ts", "1 hour").agg(F.count(F.lit(1)).alias("n"))
    drained = S.run_to_memory(agg, output_mode="append")
    starts = sorted(r["s"] for r in
                    drained.select(F.col("window.start").alias("s")).collect())
    # 6 hourly events straddle midnight: the 2 pre-1970 windows are
    # dropped; of the 4 post-epoch ones, append mode withholds those
    # not yet below the final watermark (max(ts) - 10 min) — at least
    # the 00:00/01:00 windows must emit, and nothing pre-epoch may
    assert all(s >= __import__("datetime").datetime(1970, 1, 1) for s in starts), starts
    assert 2 <= len(starts) <= 4, starts


def test_quarantine_pre_epoch_split(spark):
    """quarantine_pre_epoch is the enforcement operator for the
    watermark domain contract: pre-epoch AND NULL event times route to
    the quarantine leg, everything else to the valid leg, with no row
    lost or duplicated between them."""
    rows = [
        (1, datetime.datetime(1969, 12, 31, 23, 59, 59)),  # pre-epoch
        (2, datetime.datetime(1970, 1, 1, 0, 0, 0)),       # boundary: valid
        (3, None),                                          # NULL ts
        (4, datetime.datetime(1996, 6, 1, 12, 0, 0)),      # ordinary
        (5, datetime.datetime(1969, 1, 1, 0, 0, 0)),       # deep pre-epoch
    ]
    df = spark.createDataFrame(rows, "id bigint, ts timestamp")
    valid, quarantine = S.quarantine_pre_epoch(df, "ts")
    v = sorted(r["id"] for r in valid.collect())
    q = sorted(r["id"] for r in quarantine.collect())
    assert v == [2, 4], v
    assert q == [1, 3, 5], q
    # books closed: the two legs partition the input exactly
    assert sorted(v + q) == [1, 2, 3, 4, 5]


def test_quarantine_pre_epoch_then_watermark_emits_all_valid(spark, tmp_path):
    """The adoption shape (stream_watermark_append): quarantined
    input + watermark drops NOTHING from the valid leg — the same
    straddling corpus that silently loses its pre-epoch windows in
    test_watermark_epoch_floor_contract now surfaces them on the
    quarantine leg instead."""
    src = str(tmp_path / "ev")
    spark.createDataFrame(
        [(i, datetime.datetime(1969, 12, 31, 22, 0, 0)
          + datetime.timedelta(hours=i)) for i in range(6)],
        "id bigint, ts timestamp",
    ).write.parquet(src)
    stream = S.read_stream_parquet(spark, src, "id bigint, ts timestamp")
    valid, _ = S.quarantine_pre_epoch(stream, "ts")
    agg = S.tumbling(S.with_watermark(valid, "ts", "10 minutes"),
                     "ts", "1 hour").agg(F.count(F.lit(1)).alias("n"))
    drained = S.run_to_memory(agg, output_mode="append")
    starts = sorted(r["s"] for r in
                    drained.select(F.col("window.start").alias("s"))
                    .collect())
    assert all(s >= datetime.datetime(1970, 1, 1) for s in starts), starts
    # the quarantine leg is a batch-expressible filter: count the
    # dead-letter rows the watermarked agg would have silently dropped
    _, quarantine = S.quarantine_pre_epoch(
        spark.read.parquet(src), "ts")
    assert quarantine.count() == 2


def test_watermark_late_drop_is_window_granular(spark, tmp_path):
    """The LATE-ROW CONTRACT, pinned across micro-batches (no
    single-drain test can see it: within one availableNow batch the
    watermark is still -inf, so nothing is ever late). Spark drops
    lateness at WINDOW granularity, not row granularity: an arriving
    row is discarded iff its window's END is at or below the current
    watermark (the window's state is already finalized and evicted) —
    a row older than the watermark itself still counts if its window
    is open. A 100 TB backfill job must know which of its stragglers
    silently vanish; this test measures the exact boundary.

    Drain 1 (delay 10 min): rows at 10:10, 10:20, 11:15 → watermark
    advances to 11:05; window [10:00, 11:00) finalizes with n=2.
    Drain 2 adds: 10:30 (window end 11:00 <= 11:05 → DROPPED),
    11:05 (== watermark, window end 12:00 > 11:05 → KEPT), and
    12:30 (advances the watermark to 12:20, closing [11:00, 12:00)
    with n = 2: the 11:15 row + the kept boundary row). The late row
    appears NOWHERE; the batch replay over the same files counts it
    (n=3 in its window) — the delta IS the documented drop."""
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    d = datetime.datetime

    def write(rows):
        spark.createDataFrame(
            [(i, t) for i, t in enumerate(rows)], "event_id long, ts timestamp"
        ).write.mode("append").parquet(src)

    write([d(2024, 1, 1, 10, 10), d(2024, 1, 1, 10, 20),
           d(2024, 1, 1, 11, 15)])
    schema = spark.read.parquet(src).schema

    def drain():
        counts = (
            S.with_watermark(
                S.read_stream_parquet(spark, src, schema), "ts", "10 minutes"
            )
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("w.start").alias("ws"), "n")
        )
        q = (
            counts.writeStream.format("parquet")
            .option("path", out).option("checkpointLocation", ck)
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination()

    drain()
    got1 = {r["ws"]: r["n"] for r in spark.read.parquet(out).collect()}
    assert got1 == {d(2024, 1, 1, 10): 2}  # [10:00) finalized, [11:00) open

    write([d(2024, 1, 1, 10, 30),   # late: window end <= watermark
           d(2024, 1, 1, 11, 5),    # AT the watermark: window open, kept
           d(2024, 1, 1, 12, 30)])  # on-time: advances the watermark
    drain()
    got2 = {r["ws"]: r["n"] for r in spark.read.parquet(out).collect()}
    assert got2 == {d(2024, 1, 1, 10): 2, d(2024, 1, 1, 11): 2}

    # batch replay over the same files counts the late row — the
    # difference is exactly the documented window-granular drop
    batch = {
        r["ws"]: r["n"]
        for r in spark.read.parquet(src)
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("ws"), "n").collect()
    }
    assert batch[d(2024, 1, 1, 10)] == 3      # includes the dropped row
    assert batch[d(2024, 1, 1, 11)] == 2
    assert batch[d(2024, 1, 1, 12)] == 1      # open window, unemitted


def test_quarantine_future_skew_split(spark):
    """quarantine_future_skew enforces the FUTURE half of the
    watermark domain contract: event times leading the wall clock by
    more than the bound (and NULLs) ride the quarantine leg; past
    and near-present rows stay valid — arbitrarily LATE data is
    legitimate (the watermark delay decides lateness, not this
    guard)."""
    now = datetime.datetime.now()
    rows = [
        (1, datetime.datetime(1994, 5, 1)),            # far past: valid
        (2, now - datetime.timedelta(hours=1)),        # recent: valid
        (3, now + datetime.timedelta(hours=20)),       # within bound: valid
        (4, datetime.datetime(2100, 1, 1)),            # ms-as-s artifact
        (5, None),                                     # NULL: quarantine
    ]
    df = spark.createDataFrame(rows, "id bigint, ts timestamp")
    valid, quarantine = S.quarantine_future_skew(df, "ts", "25 hours")
    v = sorted(r["id"] for r in valid.collect())
    q = sorted(r["id"] for r in quarantine.collect())
    assert v == [1, 2, 3], v
    assert q == [4, 5], q


def test_quarantine_out_of_band_split(spark):
    """Both halves in one split: pre-epoch, NULL, and far-future all
    quarantine; everything inside [epoch, now + skew] is valid."""
    now = datetime.datetime.now()
    rows = [
        (1, datetime.datetime(1969, 12, 31, 23, 59, 59)),  # pre-epoch
        (2, datetime.datetime(1970, 1, 1)),                # boundary: valid
        (3, now - datetime.timedelta(days=30)),            # valid
        (4, datetime.datetime(2100, 1, 1)),                # future poison
        (5, None),                                         # NULL
    ]
    df = spark.createDataFrame(rows, "id bigint, ts timestamp")
    valid, quarantine = S.quarantine_out_of_band(df, "ts", "7 days")
    v = sorted(r["id"] for r in valid.collect())
    q = sorted(r["id"] for r in quarantine.collect())
    assert v == [2, 3], v
    assert q == [1, 4, 5], q
    assert sorted(v + q) == [1, 2, 3, 4, 5]


def _drain_to_parquet(stream_df, out, ckpt):
    q = (
        stream_df.writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()


def test_far_future_poison_restart_resume(spark, tmp_path):
    """The confirmed silent mass-drop, closed by
    quarantine_future_skew: two availableNow drains share a
    checkpoint (the incremental-ingest deployment pattern); drain 1
    carries 5 real hourly events plus ONE corrupt year-2100 row (the
    epoch-millis-parsed-as-seconds artifact), drain 2 carries 5 more
    real events.

    UNGUARDED (the hazard, pinned so we notice if Spark ever changes
    the semantics): the poison row advances the checkpointed
    watermark to ~2100, so every drain-2 window is "late" and NONE
    of them emit — 5 real windows silently lost.

    GUARDED: the same pipeline with quarantine_future_skew ahead of
    with_watermark emits ALL 10 finalized real windows across the
    two drains, and the poison row is OBSERVED on the dead-letter
    leg instead of vanishing."""
    base = datetime.datetime(2024, 3, 1, 0, 30, 0)
    real = [(i, base + datetime.timedelta(hours=i)) for i in range(10)]
    poison = (99, datetime.datetime(2100, 1, 1))
    schema = "id bigint, ts timestamp"
    src = str(tmp_path / "src")
    os.makedirs(src)

    def write_batch(rows, fname):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / fname))
        import shutil
        for f in os.listdir(str(tmp_path / fname)):
            if f.endswith(".parquet"):
                shutil.copy(str(tmp_path / fname / f), f"{src}/{fname}.parquet")

    def windows(out):
        import glob
        if not glob.glob(f"{out}/*.parquet"):
            return []
        return sorted(
            r["s"] for r in spark.read.parquet(out)
            .select(F.col("window.start").alias("s")).collect()
        )

    def pipeline(guarded: bool, tag: str):
        stream = S.read_stream_parquet(spark, src, schema)
        dead = None
        if guarded:
            stream, dead = S.quarantine_future_skew(stream, "ts", "7 days")
        wm = S.with_watermark(stream, "ts", "30 minutes")
        agg = S.tumbling(wm, "ts", "1 hour").agg(F.count(F.lit(1)).alias("n"))
        return agg, dead

    # --- unguarded: drain 1 (5 real + poison), then drain 2 (5 real)
    write_batch(real[:5] + [poison], "d1")
    out_u, ck_u = str(tmp_path / "out_u"), str(tmp_path / "ck_u")
    agg, _ = pipeline(False, "u1")
    _drain_to_parquet(agg, out_u, ck_u)
    n_after_d1 = len(windows(out_u))
    write_batch(real[5:], "d2")
    agg, _ = pipeline(False, "u2")
    _drain_to_parquet(agg, out_u, ck_u)
    unguarded = windows(out_u)
    # the poison watermark finalized the 5 drain-1 windows, then every
    # drain-2 row was dropped as late: NOT ONE new window appears
    assert len(unguarded) == n_after_d1 == 5, (n_after_d1, unguarded)
    assert all(w.year == 2024 for w in unguarded)

    # --- guarded: same corpus, same two drains, same checkpoint idiom
    import shutil
    shutil.rmtree(src); os.makedirs(src)
    write_batch(real[:5] + [poison], "d1")
    out_g, ck_g = str(tmp_path / "out_g"), str(tmp_path / "ck_g")
    out_q, ck_q = str(tmp_path / "out_q"), str(tmp_path / "ck_q")
    agg, dead = pipeline(True, "g1")
    _drain_to_parquet(agg, out_g, ck_g)
    _drain_to_parquet(dead, out_q, ck_q)  # dead-letter sink, own ckpt
    write_batch(real[5:], "d2")
    agg, dead = pipeline(True, "g2")
    _drain_to_parquet(agg, out_g, ck_g)
    _drain_to_parquet(dead, out_q, ck_q)
    guarded = windows(out_g)
    # every finalized real window emits: watermark after drain 2 is
    # max(real ts) - 30 min, so windows 0..8 are final; window 9 may
    # stay open (append mode withholds it) — 9 or 10 windows, all real
    assert len(guarded) >= 9, guarded
    assert all(w.year == 2024 for w in guarded)
    assert set(guarded) >= {base.replace(minute=0)
                            + datetime.timedelta(hours=i) for i in range(9)}
    # the poison row is OBSERVED on the dead-letter leg, not vanished
    dead_rows = spark.read.parquet(out_q).collect()
    assert [r["id"] for r in dead_rows] == [99], dead_rows


def test_late_data_across_restart_drops_per_carried_watermark(spark, tmp_path):
    """LATE-DROP ACCOUNTING across a restart (completing the
    restart-resume tier: its median split avoids late rows by
    construction, so this pins the drop side explicitly). Drain 1
    carries 10 hourly events; its terminal no-data batch checkpoints
    the watermark at max(ts) − 30 min = 09:00. Drain 2 carries
    (a) a 02:45 row — its window [02:00,03:00) was finalized and
    EVICTED in drain 1, so the carried watermark drops it silently;
    (b) a 09:45 row — window [09:00,10:00) is still open, so it
    MERGES into state recovered from the checkpoint; (c) an 11:30 row
    that advances the watermark to 11:00 and flushes window 9.
    Exact expectation: windows 0..8 with n=1, window 9 with n=2 —
    one row lost, accounted for. The SAME corpus in ONE drain keeps
    everything (window 2 gets n=2): the restart boundary is the only
    difference, which is precisely the semantics the tier certifies."""
    base = datetime.datetime(2024, 3, 1, 0, 30, 0)
    schema = "id bigint, ts timestamp"
    d1 = [(i, base + datetime.timedelta(hours=i)) for i in range(10)]
    d2 = [
        (100, datetime.datetime(2024, 3, 1, 2, 45)),   # late: dropped
        (101, datetime.datetime(2024, 3, 1, 9, 45)),   # merges into w9
        (102, datetime.datetime(2024, 3, 1, 11, 30)),  # advances wm
    ]

    def agg_over(src):
        stream = S.read_stream_parquet(spark, src, schema)
        wm = S.with_watermark(stream, "ts", "30 minutes")
        return S.tumbling(wm, "ts", "1 hour").agg(F.count(F.lit(1)).alias("n"))

    def stage(rows, src, fname):
        import shutil
        tmp = str(tmp_path / f"_{fname}")
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite").parquet(tmp)
        for f in os.listdir(tmp):
            if f.endswith(".parquet"):
                shutil.copy(os.path.join(tmp, f), f"{src}/{fname}.parquet")

    def emitted(out):
        return {
            r["s"].hour: r["n"]
            for r in spark.read.parquet(out)
            .select(F.col("window.start").alias("s"), "n").collect()
        }

    # restart-resume: two drains, shared checkpoint
    src = str(tmp_path / "src"); os.makedirs(src)
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    stage(d1, src, "d1")
    _drain_to_parquet(agg_over(src), out, ck)
    assert emitted(out) == {h: 1 for h in range(9)}  # 0..8 final at wm 09:00
    stage(d2, src, "d2")
    _drain_to_parquet(agg_over(src), out, ck)
    got = emitted(out)
    want = {h: 1 for h in range(9)} | {9: 2}  # 02:45 dropped, 09:45 merged
    assert got == want, (got, want)

    # control: the SAME corpus in ONE drain loses nothing
    src1 = str(tmp_path / "src1"); os.makedirs(src1)
    out1, ck1 = str(tmp_path / "out1"), str(tmp_path / "ck1")
    stage(d1 + d2, src1, "all")
    _drain_to_parquet(agg_over(src1), out1, ck1)
    got1 = emitted(out1)
    want1 = {h: 1 for h in range(9)} | {2: 2, 9: 2}
    assert got1 == want1, (got1, want1)


def test_out_of_order_file_arrival_drops_within_single_run(spark, tmp_path):
    """THE ARRIVAL-ORDER FACE of the watermark domain contract
    (completing pre-epoch and future-skew, which both need a corrupt
    timestamp; this one needs NONE). The watermark advances BETWEEN
    micro-batches inside a single run, and the file source feeds
    batches in file MODIFICATION-TIME order — so when arrival order
    disagrees with event-time order (a backfill file landing after
    newer data: routine in any object-store ingest), one newest-events
    file processed first poisons the run against every older file.

    Corpus: 12 valid rows in three files. "new" carries hours 10–11
    but the OLDEST mtime (arrived first); "a" (hours 0–4) and "b"
    (hours 5–9) arrive later. maxFilesPerTrigger=1 → three batches.
    Measured Spark 4 semantics (the input-side late filter lags the
    reported watermark by one batch): batch 0 = "new" (wm still
    epoch), batch 1 = "a" (filter wm still epoch — rows ADMITTED and
    immediately finalized by the 11:00 eviction watermark), batch 2 =
    "b" (filter wm now 11:00 — ALL FIVE rows silently dropped).

    The pinned contract: (1) the loss is real — 5 of 12 valid rows
    vanish with zero errors; (2) it is OBSERVED — drain_accounting
    around the drain makes the conservation law hold exactly:
    input == emitted + dropped_by_watermark + retained-in-state;
    (3) the same corpus with arrival order matching event-time order
    loses nothing; (4) a watermark delay sized past the disorder
    (2 days) absorbs it — no drops even in adversarial order. No
    quarantine can guard this class (every row is individually
    valid); delay sizing + accounting are the guards."""
    import shutil

    base = datetime.datetime(2024, 3, 1, 0, 30, 0)
    schema = "id bigint, ts timestamp"

    def stage(src, rows, fname, mtime):
        tmp = str(tmp_path / f"_stage_{fname}_{os.path.basename(src)}")
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite").parquet(tmp)
        for f in os.listdir(tmp):
            if f.endswith(".parquet"):
                dst = f"{src}/{fname}.parquet"
                shutil.copy(os.path.join(tmp, f), dst)
                os.utime(dst, (mtime, mtime))

    rows_new = [(100 + i, base + datetime.timedelta(hours=10 + i)) for i in range(2)]
    rows_a = [(i, base + datetime.timedelta(hours=i)) for i in range(5)]
    rows_b = [(5 + i, base + datetime.timedelta(hours=5 + i)) for i in range(5)]

    def drain(src, delay):
        stream = S.read_stream_parquet(spark, src, schema, maxFilesPerTrigger=1)
        agg = (
            S.tumbling(S.with_watermark(stream, "ts", delay), "ts", "1 hour")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        with S.drain_accounting(spark) as acct:
            drained = S.run_to_memory(agg, output_mode="append",
                                      state_partitions=4)
        emitted = {
            r["s"].hour: r["n"]
            for r in drained
            .select(F.col("window.start").alias("s"), "n").collect()
        }
        return emitted, acct

    # --- adversarial arrival order: newest events, oldest mtime
    adv = str(tmp_path / "adv"); os.makedirs(adv)
    stage(adv, rows_new, "new", 1_000_000)
    stage(adv, rows_a, "a", 2_000_000)
    stage(adv, rows_b, "b", 3_000_000)
    emitted, acct = drain(adv, "30 minutes")
    assert emitted == {0: 1, 1: 1, 2: 1, 3: 1, 4: 1, 10: 1}, emitted
    assert acct["batches"] == 3 and acct["input_rows"] == 12, acct
    assert acct["dropped_by_watermark"] == 5, acct
    # conservation: the only row neither emitted nor dropped is the
    # hour-11 row, retained in its unfinalized window [11:00,12:00)
    retained = acct["input_rows"] - sum(emitted.values()) - acct[
        "dropped_by_watermark"]
    assert retained == 1, acct

    # --- control 1: arrival order matches event-time order → no loss
    ordered = str(tmp_path / "ordered"); os.makedirs(ordered)
    stage(ordered, rows_a, "a", 1_000_000)
    stage(ordered, rows_b, "b", 2_000_000)
    stage(ordered, rows_new, "new", 3_000_000)
    emitted, acct = drain(ordered, "30 minutes")
    assert emitted == {h: 1 for h in range(11)}, emitted
    assert acct["dropped_by_watermark"] == 0, acct
    assert acct["input_rows"] - sum(emitted.values()) == 1  # hour 11 open

    # --- control 2: delay sized past the disorder absorbs it — same
    # adversarial order, nothing dropped (all retained: the final
    # watermark 2024-02-28T11:00 finalizes no window, append emits 0)
    emitted, acct = drain(adv, "2 days")
    assert acct["dropped_by_watermark"] == 0, acct
    assert emitted == {}, emitted
    assert acct["input_rows"] == 12, acct


def test_state_ttl_restart_variance_characterized(spark, tmp_path):
    """CHARACTERIZE the one workload the restart-resume tier excludes
    as genuinely restart-VARIANT (stream_state_ttl_closed): each run's
    terminal no-data batch fires event-time timeouts against THAT
    run's watermark, so a restart closes early exactly the users idle
    past the TTL at the split boundary. This test pins the variance to
    its exact algebra instead of leaving it as prose in the tier's
    EXCLUDED table:

      two_run == single_run  ∪  {users idle>TTL at the boundary AND
                                 still active near the full end}

    with the per-user SUM of closed rows healing everyone else:
    - A: idle at boundary, never returns — closes early in run 1, but
      single-run closes it identically at end-of-stream. Agrees.
    - B: idle at boundary, returns, idle again at end — closes TWICE
      (n=1 each) in two-run vs once (n=2) in single-run; the
      workload's sum(n) per user makes both read 2. Agrees (this is
      why stream_state_ttl_closed sums closed rows before comparing).
    - C: idle at boundary, returns 30 min before stream end — two-run
      emits its early close (n=1), single-run keeps it OPEN (its
      timeout outlives the final watermark). THE divergent class.
    - D: run-2 only — identical both ways.
    - 99/98: watermark anchors; 99 also proves state recovery (state
      carried across the restart closes ONCE with the right count).

    Topology mirrors the workload (update-mode keyed state, 1 h
    watermark delay, 30 min TTL); corpus split at 06:00."""
    import pandas as pd
    import shutil

    schema = "user_id bigint, ts timestamp"
    t = lambda h, m=0: datetime.datetime(2024, 3, 1, h, m)
    run1 = [(1, t(0)), (2, t(0)), (3, t(0)), (99, t(5))]
    run2 = [(2, t(6, 30)), (3, t(11, 30)), (4, t(6)), (98, t(12))]

    def update(key, pdf_iter, state):
        if state.hasTimedOut:
            (cnt, _last) = state.get
            state.remove()
            yield pd.DataFrame({"user_id": [key[0]], "n": [cnt],
                                "closed": [True]})
            return
        cnt, last_ms = (state.get if state.exists else (0, 0))
        for pdf in pdf_iter:
            cnt += len(pdf)
            if len(pdf):
                last_ms = max(last_ms,
                              int(pdf["ts"].max().timestamp() * 1000))
        state.update((cnt, last_ms))
        state.setTimeoutTimestamp(last_ms + 30 * 60 * 1000)
        yield pd.DataFrame({"user_id": [key[0]], "n": [cnt],
                            "closed": [False]})

    def stage(src, rows, fname):
        tmp = str(tmp_path / f"_s_{fname}")
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite").parquet(tmp)
        for f in os.listdir(tmp):
            if f.endswith(".parquet"):
                shutil.copy(os.path.join(tmp, f), f"{src}/{fname}.parquet")

    def drain(src, out, ckpt):
        stream = S.with_watermark(
            S.read_stream_parquet(spark, src, schema), "ts", "1 hour")
        st = S.keyed_state(
            stream, keys=["user_id"], func=update,
            state_schema="n bigint, last_ms bigint",
            output_schema="user_id bigint, n bigint, closed boolean",
            output_mode="update", timeout="EventTimeTimeout")
        q = (st.writeStream.foreachBatch(
                lambda df, _e: df.write.mode("append").parquet(out))
             .option("checkpointLocation", ckpt)
             .outputMode("update").trigger(availableNow=True).start())
        q.awaitTermination()
        return {
            r["user_id"]: r["n"]
            for r in spark.read.parquet(out).filter("closed")
            .groupBy("user_id").agg(F.sum("n").alias("n")).collect()
        }

    # --- single run over the full corpus (== the workload's oracle
    # rule: users with last event < max(ts) − 90 min close)
    one = str(tmp_path / "one"); os.makedirs(one)
    stage(one, run1 + run2, "all")
    single = drain(one, str(tmp_path / "o1"), str(tmp_path / "c1"))
    assert single == {1: 1, 2: 2, 4: 1, 99: 1}, single

    # --- two checkpointed runs split at 06:00
    two = str(tmp_path / "two"); os.makedirs(two)
    out2, ck2 = str(tmp_path / "o2"), str(tmp_path / "c2")
    stage(two, run1, "d1")
    drain(two, out2, ck2)
    stage(two, run2, "d2")
    tworun = drain(two, out2, ck2)
    # the characterized algebra: the restart adds EXACTLY user C's
    # early-close row; everyone else (incl. B's split 1+1 and the
    # state-recovered 99) reads identically
    assert tworun == {**single, 3: 1}, (tworun, single)


def _stage_one(spark, tmp_path, src, rows, fname,
               schema="id bigint, ts timestamp"):
    import shutil
    os.makedirs(src, exist_ok=True)
    tmp = str(tmp_path / f"_w_{fname}_{os.path.basename(src)}")
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "overwrite").parquet(tmp)
    for f in os.listdir(tmp):
        if f.endswith(".parquet"):
            shutil.copy(os.path.join(tmp, f), f"{src}/{fname}.parquet")


def test_window_duration_change_on_live_checkpoint_is_silently_wrong(
        spark, tmp_path):
    """CHARACTERIZE the one query-evolution class Spark accepts
    silently wrong (probed; the reason pin_topology exists):
    restart a 1 h tumbling aggregation on its live checkpoint with the
    window widened to 2 h. No error — and the output mixes the two
    schemes: the carried 1 h state row [04:00,05:00) evicts as-is
    while the run-2 event at 05:30 opens a NEW 2 h window
    [04:00,06:00) that never merges with it. The emitted window keys
    OVERLAP (any downstream range-sum double-counts hour 4) and the
    2 h window under-merges (n=1, not the 2 its span holds). By
    contrast, changing the GROUP KEYS on the same checkpoint fails
    LOUDLY — the state schema changes; window duration doesn't, which
    is exactly why Spark cannot catch it and the fingerprint must.
    Pinned so we notice if Spark ever starts rejecting (or merging)
    either case."""
    base = datetime.datetime(2024, 3, 1, 0, 30, 0)
    d1 = [(i, base + datetime.timedelta(hours=i)) for i in range(5)]
    d2 = [(10 + i, base + datetime.timedelta(hours=5 + i)) for i in range(5)]

    def drain(src, out, ckpt, duration):
        stream = S.read_stream_parquet(spark, src, "id bigint, ts timestamp")
        agg = (
            S.tumbling(S.with_watermark(stream, "ts", "30 minutes"),
                       "ts", duration)
            .agg(F.count(F.lit(1)).alias("n"))
        )
        _drain_to_parquet(agg, out, ckpt)

    src = str(tmp_path / "wsrc")
    out, ck = str(tmp_path / "wout"), str(tmp_path / "wck")
    _stage_one(spark, tmp_path, src, d1, "d1")
    drain(src, out, ck, "1 hour")
    _stage_one(spark, tmp_path, src, d2, "d2")
    drain(src, out, ck, "2 hours")  # ACCEPTED — no error
    got = {
        (r["s"].hour, r["e"].hour): r["n"]
        for r in spark.read.parquet(out).select(
            F.col("window.start").alias("s"),
            F.col("window.end").alias("e"), "n").collect()
    }
    # run 1 emitted 1 h windows 0-3; run 2 evicted the carried 1 h
    # state row (4,5) AND opened the overlapping 2 h window (4,6)
    # holding only the new 05:30 event — plus the clean (6,8) pair
    assert got == {(0, 1): 1, (1, 2): 1, (2, 3): 1, (3, 4): 1,
                   (4, 5): 1, (4, 6): 1, (6, 8): 2}, got

    # group-key change on the same class of checkpoint: LOUD
    src2 = str(tmp_path / "ksrc")
    out2, ck2 = str(tmp_path / "kout"), str(tmp_path / "kck")
    _stage_one(spark, tmp_path, src2, d1, "d1")
    drain(src2, out2, ck2, "1 hour")
    _stage_one(spark, tmp_path, src2, d2, "d2")
    stream = S.read_stream_parquet(spark, src2, "id bigint, ts timestamp")
    agg = (
        S.with_watermark(stream, "ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour").alias("window"),
                 (F.col("id") % 2).alias("par"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    with pytest.raises(Exception):
        _drain_to_parquet(agg, out2, ck2)


def test_pin_topology_blocks_changed_restart(spark, tmp_path):
    """pin_topology turns the silent class above into a refusal at
    restart time: same fingerprint restarts fine (and the two-run
    result is the clean incremental one); a changed window duration
    raises BEFORE the query starts, naming the field."""
    base = datetime.datetime(2024, 3, 1, 0, 30, 0)
    d1 = [(i, base + datetime.timedelta(hours=i)) for i in range(5)]
    d2 = [(10 + i, base + datetime.timedelta(hours=5 + i)) for i in range(5)]

    def agg_of(src, duration):
        stream = S.read_stream_parquet(spark, src, "id bigint, ts timestamp")
        return (
            S.tumbling(S.with_watermark(stream, "ts", "30 minutes"),
                       "ts", duration)
            .agg(F.count(F.lit(1)).alias("n"))
        )

    src = str(tmp_path / "psrc")
    out, ck = str(tmp_path / "pout"), str(tmp_path / "pck")
    _stage_one(spark, tmp_path, src, d1, "d1")
    q = S.foreach_batch_parquet(
        agg_of(src, "1 hour"), out, ck, available_now=True,
        topology={"op": "tumbling_count", "duration": "1 hour",
                  "keys": []})
    q.awaitTermination()

    _stage_one(spark, tmp_path, src, d2, "d2")
    # changed duration: refused before start, field named
    with pytest.raises(ValueError, match="duration"):
        S.foreach_batch_parquet(
            agg_of(src, "2 hours"), out, ck, available_now=True,
            topology={"op": "tumbling_count", "duration": "2 hours",
                      "keys": []})
    # unchanged topology: restarts and produces the clean result
    q = S.foreach_batch_parquet(
        agg_of(src, "1 hour"), out, ck, available_now=True,
        topology={"op": "tumbling_count", "duration": "1 hour",
                  "keys": []})
    q.awaitTermination()
    got = {
        r["s"].hour: r["n"]
        for r in spark.read.parquet(out)
        .select(F.col("window.start").alias("s"), "n").collect()
    }
    assert got == {h: 1 for h in range(9)}, got


def test_source_repoint_on_live_checkpoint_double_counts_open_windows(
        spark, tmp_path):
    """The THIRD topology-drift case (completing window-duration
    and group-keys): repoint the query at a directory holding the
    SAME data under a NEW path, restarting on the live checkpoint.
    The file source's seen-files log keys by absolute path, so the
    whole file replays — and the two silent mechanisms COMPOSE to
    hide it: the carried watermark drops the already-finalized rows
    as late (no duplicate emissions appear), while the still-open
    window absorbs the replayed row into state. Nothing looks wrong
    until that window flushes and reads n=2. Pinned: after the
    repoint the emitted output is byte-identical to before (the
    mask), and after one newer file flushes the open window it emits
    n=2 (the double-count) — zero errors throughout. pin_topology
    with the source path in the fingerprint refuses the repoint."""
    import shutil

    base = datetime.datetime(2024, 3, 1, 0, 30, 0)
    rows10 = [(i, base + datetime.timedelta(hours=i)) for i in range(10)]
    src1, src2 = str(tmp_path / "src1"), str(tmp_path / "src2")
    _stage_one(spark, tmp_path, src1, rows10, "data")
    _stage_one(spark, tmp_path, src2, rows10, "data")

    def drain(src, out, ckpt):
        stream = S.read_stream_parquet(spark, src, "id bigint, ts timestamp")
        agg = (
            S.tumbling(S.with_watermark(stream, "ts", "30 minutes"),
                       "ts", "1 hour")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        _drain_to_parquet(agg, out, ckpt)

    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    drain(src1, out, ck)
    windows = lambda: sorted(
        (r["s"].hour, r["n"]) for r in spark.read.parquet(out)
        .select(F.col("window.start").alias("s"), "n").collect())
    before = windows()
    assert before == [(h, 1) for h in range(9)], before

    drain(src2, out, ck)  # repoint: replay masked by the watermark
    assert windows() == before  # nothing visibly wrong

    # flush the open window: the absorbed duplicate surfaces as n=2
    _stage_one(spark, tmp_path, src2,
               [(100, base + datetime.timedelta(hours=11))], "later")
    drain(src2, out, ck)
    assert windows() == [(h, 1) for h in range(9)] + [(9, 2)], windows()

    # the guard: source path in the fingerprint refuses the repoint
    ck2 = str(tmp_path / "ck2")
    S.pin_topology(ck2, duration="1 hour", source=src1)
    S.pin_topology(ck2, duration="1 hour", source=src1)  # same: ok
    with pytest.raises(ValueError, match="source"):
        S.pin_topology(ck2, duration="1 hour", source=src2)


def test_pin_topology_resolves_checkpoint_uris(spark, tmp_path):
    """pin_topology goes through the checkpoint's own Hadoop
    FileSystem resolver (the production checkpoint is hdfs://or
    s3a://, not a driver-local path), so a scheme'd URI pins and
    refuses exactly like a bare path — and with no active session it
    falls back to the local FS."""
    ck = f"file://{tmp_path}/uri_ck"
    S.pin_topology(ck, duration="1 hour")
    S.pin_topology(ck, duration="1 hour")  # unchanged: ok
    with pytest.raises(ValueError, match="duration"):
        S.pin_topology(ck, duration="2 hours")
    # the file lives where the checkpoint lives
    assert os.path.exists(str(tmp_path / "uri_ck" / "_emma_topology.json"))


def test_quarantine_required_split(spark):
    """quarantine_required enforces the REQUIRED-COLUMNS ingest
    contract (the source-schema-drift guard): rows NULL in ANY
    required column ride the quarantine leg, a multi-NULL row appears
    exactly once, and valid ∪ quarantine == input row-for-row."""
    rows = [
        (1, "a", 1.0),     # valid
        (2, None, 2.0),    # NULL key: quarantine
        (3, "c", None),    # NULL measure: quarantine
        (4, None, None),   # NULL both: quarantine ONCE
        (5, "e", 5.0),     # valid
    ]
    df = spark.createDataFrame(rows, "id bigint, k string, value double")
    valid, quarantine = S.quarantine_required(df, "k", "value")
    v = sorted(r["id"] for r in valid.collect())
    q = sorted(r["id"] for r in quarantine.collect())
    assert v == [1, 5], v
    assert q == [2, 3, 4], q
    with pytest.raises(ValueError):
        S.quarantine_required(df)


def test_quarantine_null_reference_routes_to_quarantine(spark):
    """With an ingest-time ``now_col``, a NULL reference value makes
    BOTH legs' predicates NULL, so unguarded the row would land on
    NEITHER — a silent drop inside the operator built
    to prevent silent drops. Pinned: NULL-reference rows ride the
    quarantine leg in both quarantine_future_skew and
    quarantine_out_of_band, and valid ∪ quarantine == input."""
    t = datetime.datetime(2024, 3, 1, 12, 0, 0)
    rows = [
        (1, t, t),        # in-band, real reference: valid
        (2, t, None),     # NULL reference: quarantine (was: lost)
        (3, None, t),     # NULL event time: quarantine
    ]
    df = spark.createDataFrame(rows, "id bigint, ts timestamp, ing timestamp")
    for op in (S.quarantine_future_skew, S.quarantine_out_of_band):
        valid, quarantine = op(df, "ts", "7 days", now_col="ing")
        v = sorted(r["id"] for r in valid.collect())
        q = sorted(r["id"] for r in quarantine.collect())
        assert v == [1], (op.__name__, v)
        assert q == [2, 3], (op.__name__, q)


def _schema_drift_corpus(spark, tmp_path):
    """The schema-drift repro corpus: drain-1 files carry (k, ts, value);
    the producer then renames value→amount, so drain-2 files carry
    (k, ts, amount). Returns (src, pinned_schema_string)."""
    import shutil

    base = datetime.datetime(2024, 3, 1, 0, 30, 0)
    src = str(tmp_path / "drift_src")
    os.makedirs(src, exist_ok=True)

    def stage(df, fname):
        tmp = str(tmp_path / f"_drift_{fname}")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        for f in os.listdir(tmp):
            if f.endswith(".parquet"):
                shutil.copy(os.path.join(tmp, f), f"{src}/{fname}.parquet")

    d1 = spark.createDataFrame(
        [(i, base + datetime.timedelta(hours=i), float(i)) for i in range(5)],
        "k bigint, ts timestamp, value double",
    )
    stage(d1, "part1")
    return src, base, stage


def test_source_schema_drift_null_fills_unguarded(spark, tmp_path):
    """THE COLUMN FACE of the ingest contract, UNGUARDED — the
    confirmed hazard pinned exactly (so we notice if Spark ever
    starts rejecting it): drain 1 streams (k, ts, value) through a
    windowed sum on a checkpoint; the producer renames value→amount
    and drain 2 resumes from the same checkpoint with the same pinned
    schema. Spark's parquet file source NULL-FILLS the missing column
    with zero errors: every drain-2 window emits with correct n and
    total = NULL, and the stream would run forever in that state.
    Every other guard is structurally blind — pin_topology sees an
    unchanged query, the timestamp quarantines see valid event times,
    drain_accounting reads dropped_by_watermark == 0 (no ROW was
    lost, only a column)."""
    src, base, stage = _schema_drift_corpus(spark, tmp_path)
    schema = "k bigint, ts timestamp, value double"  # pinned at deploy
    out, ck = str(tmp_path / "out_u"), str(tmp_path / "ck_u")

    def drain():
        stream = S.read_stream_parquet(spark, src, schema)
        wm = S.with_watermark(stream, "ts", "30 minutes")
        agg = S.tumbling(wm, "ts", "1 hour").agg(
            F.count(F.lit(1)).alias("n"), F.sum("value").alias("total")
        )
        with S.drain_accounting(spark) as acct:
            (
                agg.writeStream.format("parquet")
                .option("path", out).option("checkpointLocation", ck)
                .outputMode("append").trigger(availableNow=True).start()
                .awaitTermination()
            )
        return acct

    drain()
    # the producer redeploy: drain-2 files carry amount, not value
    d2 = spark.createDataFrame(
        [(10 + i, base + datetime.timedelta(hours=5 + i), 100.0 + i)
         for i in range(5)],
        "k bigint, ts timestamp, amount double",
    )
    stage(d2, "part2")
    acct = drain()
    rows = {
        r["s"].hour: (r["n"], r["total"])
        for r in spark.read.parquet(out)
        .select(F.col("window.start").alias("s"), "n", "total").collect()
    }
    # windows 0..8 finalized (watermark = 09:30 − 30 min); drain-1
    # hours carry real totals, EVERY drain-2 hour is n=1/total=NULL
    assert {h for h in rows} == set(range(9)), rows
    assert all(rows[h] == (1, float(h)) for h in range(5)), rows
    assert all(rows[h] == (1, None) for h in range(5, 9)), rows
    # and the conservation law is blind: no ROW was lost
    assert acct["dropped_by_watermark"] == 0, acct


def test_source_schema_drift_guarded_dead_letters(spark, tmp_path):
    """The same repro GUARDED: quarantine_required("value") ahead of
    the watermark turns the renamed producer column into a
    100 %-quarantined drain — every drifted row OBSERVED on the
    dead-letter leg, zero NULL-totaled windows on the valid leg."""
    src, base, stage = _schema_drift_corpus(spark, tmp_path)
    schema = "k bigint, ts timestamp, value double"
    out, ck = str(tmp_path / "out_g"), str(tmp_path / "ck_g")
    out_q, ck_q = str(tmp_path / "out_q"), str(tmp_path / "ck_q")

    def drain():
        stream = S.read_stream_parquet(spark, src, schema)
        valid, dead = S.quarantine_required(stream, "value")
        wm = S.with_watermark(valid, "ts", "30 minutes")
        agg = S.tumbling(wm, "ts", "1 hour").agg(
            F.count(F.lit(1)).alias("n"), F.sum("value").alias("total")
        )
        for df, o, c in ((agg, out, ck), (dead, out_q, ck_q)):
            q = (
                df.writeStream.format("parquet")
                .option("path", o).option("checkpointLocation", c)
                .outputMode("append").trigger(availableNow=True).start()
            )
            q.awaitTermination()

    drain()
    d2 = spark.createDataFrame(
        [(10 + i, base + datetime.timedelta(hours=5 + i), 100.0 + i)
         for i in range(5)],
        "k bigint, ts timestamp, amount double",
    )
    stage(d2, "part2")
    drain()
    rows = {
        r["s"].hour: (r["n"], r["total"])
        for r in spark.read.parquet(out)
        .select(F.col("window.start").alias("s"), "n", "total").collect()
    }
    # valid-leg watermark never advances past drain-1 data (drift rows
    # are dead-lettered BEFORE the watermark), so exactly hours 0..3
    # finalize — all with real totals, none NULL
    assert rows == {h: (1, float(h)) for h in range(4)}, rows
    # every drifted row is OBSERVED on the dead-letter leg
    dead_rows = spark.read.parquet(out_q).collect()
    assert sorted(r["k"] for r in dead_rows) == [10, 11, 12, 13, 14], dead_rows
    assert all(r["value"] is None for r in dead_rows)


def test_pin_topology_source_schema_refuses_drifted_reinference(spark, tmp_path):
    """The RESTART-TIME face of source-schema drift: the common
    harness idiom re-infers the pinned schema from the staged dir
    (``spark.read.parquet(staged).schema``), and over a mixed-schema
    dir the batch reader takes the FIRST footer in listing order —
    probed this round: whichever file sorts first decides between the
    full schema (silent NULL-fill downstream) and the drifted one
    (loud analysis error), i.e. the outcome rides on FILE NAMES.
    Pinning ``source_schema`` (a StructType, normalized to
    simpleString) makes a drifted re-inference refuse the restart
    BEFORE the query starts, deterministically."""
    src, base, stage = _schema_drift_corpus(spark, tmp_path)
    ck = str(tmp_path / "ck_pin")
    inferred = spark.read.parquet(src).schema
    S.pin_topology(ck, duration="1 hour", source_schema=inferred)
    # same schema re-inferred at a clean restart: accepted
    S.pin_topology(ck, duration="1 hour",
                   source_schema=spark.read.parquet(src).schema)
    # the drifted producer file sorts FIRST (aa < part1), so the
    # restart-time re-inference silently yields the drifted schema…
    d2 = spark.createDataFrame(
        [(10, base + datetime.timedelta(hours=5), 100.0)],
        "k bigint, ts timestamp, amount double",
    )
    stage(d2, "aa_drift")
    drifted = spark.read.parquet(src).schema
    assert "amount" in drifted.simpleString()  # the probed footer rule
    # …and the pin refuses it before the query starts
    with pytest.raises(ValueError, match="source_schema"):
        S.pin_topology(ck, duration="1 hour", source_schema=drifted)


def test_shuffle_partition_change_across_restart_is_ignored(spark, tmp_path):
    """Restart-evolution knob, probed + pinned:
    a streaming query pins its state-partition count in the
    checkpoint at FIRST start, so restarting under a changed
    ``spark.sql.shuffle.partitions`` silently keeps the original
    count. Benign — results stay correct — but the attempted re-size
    "succeeds" with no effect, so drain_accounting exposes the ACTUAL
    count (``state_partitions``) for the deployment to alarm on: a
    state store sized at 4 on a cluster re-deployed for 400 stays 4
    until the checkpoint is rebuilt."""
    import shutil

    base = datetime.datetime(2024, 3, 1, 0, 30, 0)
    schema = "id bigint, ts timestamp"
    src = str(tmp_path / "src"); os.makedirs(src)

    def stage(rows, fname):
        tmp = str(tmp_path / f"_s_{fname}")
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite").parquet(tmp)
        for f in os.listdir(tmp):
            if f.endswith(".parquet"):
                shutil.copy(os.path.join(tmp, f), f"{src}/{fname}.parquet")

    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")

    def drain(conf_parts):
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(conf_parts))
        try:
            stream = S.read_stream_parquet(spark, src, schema)
            agg = S.tumbling(
                S.with_watermark(stream, "ts", "30 minutes"), "ts", "1 hour"
            ).agg(F.count(F.lit(1)).alias("n"))
            with S.drain_accounting(spark) as acct:
                (
                    agg.writeStream.format("parquet")
                    .option("path", out).option("checkpointLocation", ck)
                    .outputMode("append").trigger(availableNow=True).start()
                    .awaitTermination()
                )
            return acct
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)

    stage([(i, base + datetime.timedelta(hours=i)) for i in range(5)], "p1")
    acct1 = drain(4)
    assert acct1["state_partitions"] == 4, acct1
    stage([(10 + i, base + datetime.timedelta(hours=5 + i))
           for i in range(5)], "p2")
    acct2 = drain(16)  # the attempted re-size
    # silently ignored: the checkpointed count wins, observable here
    assert acct2["state_partitions"] == 4, acct2
    # and benign: both drains' windows are correct and complete
    hours = sorted(
        r["s"].hour for r in spark.read.parquet(out)
        .select(F.col("window.start").alias("s")).collect()
    )
    assert hours == list(range(9)), hours


def test_sink_repoint_on_live_checkpoint_strands_both_outputs(spark, tmp_path):
    """Restart-evolution knob, probed + pinned —
    pin_topology's docstring argued the sink path belongs in the
    fingerprint; this is the measured behavior that makes it true.
    Repointing the OUTPUT path of a parquet-sink query on its live
    checkpoint raises nothing at write time, and strands BOTH dirs:
    the old dir's _spark_metadata log stops at the pre-repoint batch
    (a reader sees it silently stale forever), while the new dir's
    log starts at the post-repoint batch id, so a metadata-aware read
    of the new dir fails loudly (_spark_metadata/0 missing). No sink
    ever serves the full data; the guard is the sink path as a
    pin_topology field."""
    import shutil

    base = datetime.datetime(2024, 3, 1, 0, 30, 0)
    schema = "id bigint, ts timestamp"
    src = str(tmp_path / "src"); os.makedirs(src)

    def stage(rows, fname):
        tmp = str(tmp_path / f"_s_{fname}")
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite").parquet(tmp)
        for f in os.listdir(tmp):
            if f.endswith(".parquet"):
                shutil.copy(os.path.join(tmp, f), f"{src}/{fname}.parquet")

    ck = str(tmp_path / "ck")
    out_a, out_b = str(tmp_path / "outA"), str(tmp_path / "outB")

    def drain(out):
        stream = S.read_stream_parquet(spark, src, schema)
        agg = S.tumbling(
            S.with_watermark(stream, "ts", "30 minutes"), "ts", "1 hour"
        ).agg(F.count(F.lit(1)).alias("n"))
        q = (
            agg.writeStream.format("parquet")
            .option("path", out).option("checkpointLocation", ck)
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination()

    def hours(out):
        return sorted(
            r["s"].hour for r in spark.read.parquet(out)
            .select(F.col("window.start").alias("s")).collect()
        )

    stage([(i, base + datetime.timedelta(hours=i)) for i in range(5)], "p1")
    drain(out_a)
    assert hours(out_a) == list(range(4)), hours(out_a)
    stage([(10 + i, base + datetime.timedelta(hours=5 + i))
           for i in range(5)], "p2")
    drain(out_b)  # the repoint: same checkpoint, new output — NO error
    # old dir: silently stale — still exactly the pre-repoint windows
    assert hours(out_a) == list(range(4)), hours(out_a)
    # new dir: data files exist but the metadata-aware read fails
    # loudly — its log starts past batch 0
    assert any(f.endswith(".parquet") for f in os.listdir(out_b))
    with pytest.raises(Exception, match="_spark_metadata"):
        spark.read.parquet(out_b).collect()
    # the guard: sink path in the fingerprint refuses the repoint
    ck2 = str(tmp_path / "ck2")
    S.pin_topology(ck2, duration="1 hour", sink=out_a)
    with pytest.raises(ValueError, match="sink"):
        S.pin_topology(ck2, duration="1 hour", sink=out_b)


def test_no_data_microbatches_off_suppresses_final_flush(spark, tmp_path):
    """THE CONF DEPENDENCE of every bounded append-mode drain, made
    explicit: the final-watermark flush — the
    no-data micro-batch that runs after availableNow exhausts the
    input, advances the watermark to max(ts) − delay, and emits every
    finalized window — exists only while
    ``spark.sql.streaming.noDataMicroBatches.enabled`` is true (its
    default). With it off, the SAME corpus and SAME query emit
    NOTHING from a bounded drain (the watermark never advances past
    the data batch), so the engine's batch-equivalence contract for
    append drains rides on that default; docs/SCALE.md documents
    it."""
    import shutil

    base = datetime.datetime(2024, 3, 1, 0, 30, 0)
    schema = "id bigint, ts timestamp"
    src = str(tmp_path / "src"); os.makedirs(src)
    tmp = str(tmp_path / "_s")
    spark.createDataFrame(
        [(i, base + datetime.timedelta(hours=i)) for i in range(5)], schema
    ).coalesce(1).write.mode("overwrite").parquet(tmp)
    for f in os.listdir(tmp):
        if f.endswith(".parquet"):
            shutil.copy(os.path.join(tmp, f), f"{src}/p1.parquet")

    def drain():
        stream = S.read_stream_parquet(spark, src, schema)
        agg = S.tumbling(
            S.with_watermark(stream, "ts", "30 minutes"), "ts", "1 hour"
        ).agg(F.count(F.lit(1)).alias("n"))
        return S.run_to_memory(
            agg, output_mode="append", state_partitions=4
        ).count()

    conf = "spark.sql.streaming.noDataMicroBatches.enabled"
    assert spark.conf.get(conf) == "true"  # the default the drains ride on
    assert drain() == 4  # watermark 04:30 − 30 min → hours 0..3 final
    spark.conf.set(conf, "false")
    try:
        assert drain() == 0  # same corpus, same query: NOTHING emits
    finally:
        spark.conf.set(conf, "true")


def test_run_to_memory_checkpoint_is_local_scratch(
    spark, staged_events, tmp_path, monkeypatch
):
    """The drain checkpoint is always scratch: under a
    SPARK_GRAFT_STREAM_CKPT ``file:`` URI it is deleted after the
    drain, and a non-file URI scheme (where it could not be deleted)
    is refused before the query starts."""
    batch = spark.read.parquet(staged_events)
    stream = S.read_stream_parquet(spark, staged_events, batch.schema)
    agg = stream.groupBy("event_type").count()
    monkeypatch.setenv("SPARK_GRAFT_STREAM_CKPT", "emma-remote://bucket/ckpt")
    with pytest.raises(ValueError, match="SPARK_GRAFT_STREAM_CKPT"):
        S.run_to_memory(agg, output_mode="complete")
    monkeypatch.setenv("SPARK_GRAFT_STREAM_CKPT", f"file://{tmp_path}")
    drained = S.run_to_memory(agg, output_mode="complete")
    assert drained.count() == batch.select("event_type").distinct().count()
    assert list(tmp_path.iterdir()) == []


_CKPT_MANAGER = "spark.sql.streaming.checkpointFileManagerClass"
_FS_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)
_FC_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileContextBasedCheckpointFileManager"
)


def _conf_at_start(monkeypatch, spark, *keys):
    """Record the session's value of each key every time a streaming
    query starts; returns the list the records are appended to."""
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    seen = []
    start = DataStreamWriter.start

    def recording_start(self, *args, **kwargs):
        seen.append({k: spark.conf.get(k, None) for k in keys})
        return start(self, *args, **kwargs)

    monkeypatch.setattr(DataStreamWriter, "start", recording_start)
    return seen


@pytest.mark.parametrize("preset", [None, _FC_MANAGER], ids=["unset", "preset"])
def test_run_to_memory_scratch_checkpoint_uses_filesystem_manager(
    spark, staged_events, monkeypatch, preset
):
    """A drain's scratch checkpoint is written through the FileSystem
    checkpoint manager (no forked ``readlink`` per rename); the
    caller's own setting of that conf is back after the drain, unset
    if it was unset."""
    monkeypatch.delenv("SPARK_GRAFT_STREAM_CKPT", raising=False)
    if preset is not None:
        spark.conf.set(_CKPT_MANAGER, preset)
    try:
        seen = _conf_at_start(monkeypatch, spark, _CKPT_MANAGER)
        batch = spark.read.parquet(staged_events)
        stream = S.read_stream_parquet(spark, staged_events, batch.schema)
        drained = S.run_to_memory(
            stream.groupBy("event_type").count(), output_mode="complete"
        )
        assert seen == [{_CKPT_MANAGER: _FS_MANAGER}]
        assert spark.conf.get(_CKPT_MANAGER, None) == preset
        assert drained.count() == batch.select("event_type").distinct().count()
    finally:
        spark.conf.unset(_CKPT_MANAGER)


def test_run_to_memory_restores_conf_when_start_raises(
    spark, staged_events, monkeypatch
):
    """A drain whose query fails to start (complete mode on a stream
    with no aggregation) still puts back both confs it set for the
    drain: the state-partition count and the checkpoint manager."""
    monkeypatch.delenv("SPARK_GRAFT_STREAM_CKPT", raising=False)
    partitions = "spark.sql.shuffle.partitions"
    before = spark.conf.get(partitions)
    seen = _conf_at_start(monkeypatch, spark, partitions, _CKPT_MANAGER)
    batch = spark.read.parquet(staged_events)
    stream = S.read_stream_parquet(spark, staged_events, batch.schema)
    with pytest.raises(Exception, match="(?i)complete"):
        S.run_to_memory(stream, output_mode="complete", state_partitions=3)
    assert seen == [{partitions: "3", _CKPT_MANAGER: _FS_MANAGER}]
    assert spark.conf.get(partitions) == before
    assert spark.conf.get(_CKPT_MANAGER, None) is None


def test_stream_staging_runs_once_per_process(spark, tables, monkeypatch):
    """Building stream_tumbling_counts twice in one session stages the
    events table once: the second build reuses the first one's dir."""
    from emma_spark.sources import io
    from emma_spark.workloads import load_all
    from emma_spark.workloads import streaming as ws

    made = []
    scratch_dir = io.scratch_dir
    monkeypatch.setattr(ws, "_STAGED", {})
    monkeypatch.setattr(
        io, "scratch_dir", lambda prefix: made.append(prefix) or scratch_dir(prefix)
    )
    q = load_all()["stream_tumbling_counts"]
    for _ in range(2):
        q.fn(spark, SF_DIR).schema
    assert made == ["emma_stream_"]


def test_drain_accounting_is_exact_past_100_batches(spark, tmp_path):
    """drain_accounting counts every micro-batch of a long drain at the
    default ``numRecentProgressUpdates`` (100): 101 single-row files
    with maxFilesPerTrigger=1 read as 101 batches and 101 input rows,
    and ``input == emitted + dropped + retained`` holds. Rows arrive in
    event-time order an hour apart; the last one lands, earlier than
    the newest row but not late, in the still open last window, so the
    watermark does not move after it and no no-data batch follows."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    n = 101
    conf = "spark.sql.streaming.numRecentProgressUpdates"
    assert spark.conf.get(conf) == "100"
    base = datetime.datetime(2024, 3, 1, 0, 30, 0)
    ts = [base + datetime.timedelta(hours=i) for i in range(n - 1)]
    ts.append(ts[-1] - datetime.timedelta(minutes=20))
    src = str(tmp_path / "src"); os.makedirs(src)
    for i, t in enumerate(ts):
        f = f"{src}/{i:03d}.parquet"
        pq.write_table(pa.table({
            "id": pa.array([i], pa.int64()),
            "ts": pa.array([t], pa.timestamp("us", tz="UTC")),
        }), f)
        os.utime(f, (1_000_000 + i, 1_000_000 + i))
    stream = S.read_stream_parquet(
        spark, src, "id bigint, ts timestamp", maxFilesPerTrigger=1)
    agg = S.tumbling(S.with_watermark(stream, "ts", "30 minutes"),
                     "ts", "1 hour").agg(F.count(F.lit(1)).alias("n"))
    with S.drain_accounting(spark) as acct:
        drained = S.run_to_memory(agg, output_mode="append", state_partitions=1)
    emitted = drained.agg(F.sum("n")).collect()[0][0]
    assert acct["batches"] == n and acct["input_rows"] == n, acct
    assert acct["dropped_by_watermark"] == 0, acct
    # the two rows of the last window are still in state
    assert emitted == n - 2
    assert acct["input_rows"] == emitted + acct["dropped_by_watermark"] + 2


def test_drain_accounting_counts_only_queries_started_inside(spark, tmp_path):
    """A query drained before the block is not counted inside it, and
    the block leaves no listener registered behind."""
    src = str(tmp_path / "src")
    spark.range(5).write.parquet(src)
    stream = S.read_stream_parquet(spark, src, "id bigint")
    listeners = len(spark.streams._jsqm.listListeners())
    S.run_to_memory(stream, output_mode="append")
    with S.drain_accounting(spark) as acct:
        drained = S.run_to_memory(stream, output_mode="append")
    assert drained.count() == 5
    assert acct == {
        "batches": 1,
        "input_rows": 5,
        "dropped_by_watermark": 0,
        "final_watermark": None,
        "state_partitions": None,
    }, acct
    assert len(spark.streams._jsqm.listListeners()) == listeners
