"""Structured Streaming semantics tests (SURVEY §5.2.4).

Finite file-source replays: each parquet file is one micro-batch
(`maxFilesPerTrigger=1` + `processAllAvailable` between appends), so
arrival order — the thing batch fixtures cannot express — is under
test control. These are the real verifications behind the three
rows-only keys (`stream_watermark_late`, `stream_dedup_watermark`)
and the stateful counter's cross-batch continuity.
"""

from __future__ import annotations

import datetime as dt
import shutil
import tempfile
import uuid

import pytest

from pyspark.sql import functions as F

from bigdataprojectspring16_spark.streaming import streams

T0 = dt.datetime(2024, 1, 1, 10, 0, 0)


def _mk(minutes: float, event_id: int, user_id: int = 1, etype: str = "purchase"):
    return (
        event_id,
        user_id,
        etype,
        T0 + dt.timedelta(minutes=minutes),
        1.0,
        '{"k": 1}',
    )


class Replay:
    """Drive a streaming query by appending one parquet file per batch."""

    def __init__(self, spark, out_name: str, build, output_mode: str):
        self.spark = spark
        self.src = tempfile.mkdtemp(prefix="stream-src-")
        self.chk = tempfile.mkdtemp(prefix="stream-chk-")
        self.name = f"{out_name}_{uuid.uuid4().hex[:8]}"
        stream = streams.read_event_stream(spark, self.src)
        self.query = (
            build(stream)
            .writeStream.format("memory")
            .queryName(self.name)
            .outputMode(output_mode)
            .option("checkpointLocation", self.chk)
            .start()
        )
        self._batch = 0

    def feed(self, rows):
        df = self.spark.createDataFrame(rows, streams.EVENTS_SCHEMA)
        df.coalesce(1).write.mode("append").parquet(self.src)
        self._batch += 1
        self.query.processAllAvailable()

    def table(self):
        return self.spark.table(self.name)

    def stop(self):
        self.query.stop()
        shutil.rmtree(self.src, ignore_errors=True)
        shutil.rmtree(self.chk, ignore_errors=True)


def test_watermark_drops_late_event(spark):
    """An event >10 min behind the watermark must not reopen its window."""
    r = Replay(spark, "late", streams.windowed_counts, "append")
    try:
        # batch 1: two events in [10:00, 11:00) + one at 11:25
        # → watermark after batch = 11:15 (max 11:25 − 10 min)
        r.feed([_mk(5, 1), _mk(30, 2), _mk(85, 3)])
        # batch 2: late event at 10:10 (< watermark) → DROPPED;
        # 12:30 event advances watermark to 12:20, finalizing [10,11) & [11,12)
        r.feed([_mk(10, 4), _mk(150, 5)])
        # batch 3: push watermark past 13:00 to flush [12:00, 13:00)
        r.feed([_mk(260, 6)])
        out = {
            row.window_start.strftime("%H:%M"): row.n_events
            for row in r.table().collect()
        }
        # the late event (10:10) is NOT in the closed [10:00, 11:00) window
        assert out["10:00"] == 2
        assert out["11:00"] == 1
    finally:
        r.stop()


def test_dedup_within_watermark_drops_duplicate_ids(spark):
    r = Replay(spark, "dedup", streams.dedup_within_watermark, "append")
    try:
        r.feed([_mk(0, 1), _mk(1, 2)])
        # batch 2: event_id=2 again within the watermark → dropped;
        # event_id=3 is new → kept
        r.feed([_mk(2, 2), _mk(3, 3)])
        ids = sorted(row.event_id for row in r.table().collect())
        assert ids == [1, 2, 3]
    finally:
        r.stop()


def test_stateful_counter_continues_across_batches(spark):
    r = Replay(spark, "counter", streams.stateful_purchase_counter, "update")
    try:
        r.feed([_mk(0, 1), _mk(1, 2)])       # user 1: seq 1, 2
        r.feed([_mk(2, 3), _mk(3, 4, user_id=2)])  # user 1: seq 3 (state!), user 2: seq 1
        rows = {row.event_id: row.purchase_seq for row in r.table().collect()}
        assert rows == {1: 1, 2: 2, 3: 3, 4: 1}
    finally:
        r.stop()


def test_streaming_tumbling_equals_batch_twin(spark):
    """Finite replay through the streaming plan == batch aggregation."""
    rows = [
        _mk(m, i, user_id=i % 3, etype=t)
        for i, (m, t) in enumerate(
            [(0, "click"), (10, "view"), (61, "click"), (62, "view"), (130, "click")]
        )
    ]
    r = Replay(spark, "tumble", streams.tumbling_counts, "append")
    try:
        r.feed(rows)
        r.feed([_mk(600, 99)])  # advance watermark far → flush all real windows
        streamed = {
            (row.window_start, row.event_type): (row.n_events, row.sum_value)
            for row in r.table().collect()
            if row.window_start < T0 + dt.timedelta(minutes=500)
        }
        batch_df = spark.createDataFrame(rows, streams.EVENTS_SCHEMA)
        batch = {
            (row.window_start, row.event_type): (row.n_events, row.sum_value)
            for row in (
                batch_df.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
                .agg(
                    F.count(F.lit(1)).alias("n_events"),
                    (
                        F.sum(
                            (F.col("value") * 100 + F.signum("value") * 0.5)
                            .cast("long")
                            .cast("decimal(28,0)")
                        ).cast("double")
                        / 100.0
                    ).alias("sum_value"),
                )
                .select(
                    F.col("w.start").alias("window_start"),
                    "event_type",
                    "n_events",
                    "sum_value",
                )
            ).collect()
        }
        assert streamed == batch
    finally:
        r.stop()


def test_session_window_streaming(spark):
    """Sessions split on >30-min gaps, end = last event + gap."""
    r = Replay(spark, "session", streams.session_counts, "append")
    try:
        # user 1: events at 0, 10, 20 (one session), then 60 (new session)
        r.feed([_mk(0, 1), _mk(10, 2), _mk(20, 3), _mk(60, 4)])
        r.feed([_mk(600, 99)])  # flush
        sessions = sorted(
            (row.session_start, row.session_end, row.n_events)
            for row in r.table().where(F.col("user_id") == 1).collect()
        )
        assert len(sessions) == 2
        start0, end0, n0 = sessions[0]
        assert n0 == 3
        assert end0 == T0 + dt.timedelta(minutes=50)  # last event 10:20 + 30 min
        start1, end1, n1 = sessions[1]
        assert n1 == 1
        assert start1 == T0 + dt.timedelta(minutes=60)
    finally:
        r.stop()


def test_parquet_sink_with_checkpoint_restart_no_duplicates(spark):
    """File sink + checkpoint: stop the query mid-stream, restart it
    with the same checkpoint, feed more data — every input row lands
    exactly once (the committed-batch log prevents reprocessing)."""
    import os

    src = tempfile.mkdtemp(prefix="sink-src-")
    chk = tempfile.mkdtemp(prefix="sink-chk-")
    out = tempfile.mkdtemp(prefix="sink-out-")

    def start():
        stream = streams.read_event_stream(spark, src)
        return (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", chk)
            .outputMode("append")
            .start()
        )

    def feed(rows):
        df = spark.createDataFrame(rows, streams.EVENTS_SCHEMA)
        df.coalesce(1).write.mode("append").parquet(src)

    q = start()
    try:
        feed([_mk(0, 1), _mk(1, 2)])
        q.processAllAvailable()
        q.stop()
        q = start()  # restart from the same checkpoint
        feed([_mk(2, 3)])
        q.processAllAvailable()
        ids = sorted(r.event_id for r in spark.read.parquet(out).collect())
        assert ids == [1, 2, 3]  # no batch replayed, none lost
    finally:
        q.stop()
        for d in (src, chk, out):
            shutil.rmtree(d, ignore_errors=True)


def test_stateful_counter_apis_agree_on_two_batch_replay(spark):
    """The applyInPandasWithState counter on the RocksDB state store
    continues its per-user count across two micro-batches; the
    executed streaming proof for the declared ``stream_stateful_counter``
    batch twin, asserted against the hand-computed ground truth."""
    old = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        r = Replay(spark, "aip", streams.stateful_purchase_counter, "update")
        try:
            r.feed([_mk(0, 1), _mk(1, 2)])
            r.feed([_mk(2, 3), _mk(3, 4, user_id=2)])
            got = {row.event_id: row.purchase_seq for row in r.table().collect()}
        finally:
            r.stop()
        assert got == {1: 1, 2: 2, 3: 3, 4: 1}
    finally:
        if old:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", old)
        else:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")


def test_stream_static_join_enriches_each_batch(spark):
    """Stream-static join: the streaming side joins a static dim
    (broadcast, re-read per micro-batch) — the standard enrichment
    shape; rows join correctly across multiple batches."""
    from bigdataprojectspring16_spark.tables import load_table

    dim = (
        load_table(spark, "/root/testdata/sf0.001", "customer")
        .select("c_custkey", "c_mktsegment")
    )

    def build(stream):
        return (
            stream.join(F.broadcast(dim), stream.user_id == dim.c_custkey)
            .groupBy("c_mktsegment")
            .agg(F.count(F.lit(1)).alias("n"))
        )

    r = Replay(spark, "enrich", build, "complete")
    try:
        r.feed([_mk(0, 1, user_id=1), _mk(1, 2, user_id=2)])
        r.feed([_mk(2, 3, user_id=1)])
        got = {row.c_mktsegment: row.n for row in r.table().collect()}
        expect = {}
        seg = {
            row.c_custkey: row.c_mktsegment
            for row in dim.where(F.col("c_custkey").isin([1, 2])).collect()
        }
        for uid in (1, 2, 1):
            expect[seg[uid]] = expect.get(seg[uid], 0) + 1
        assert got == expect
    finally:
        r.stop()


def test_stream_stream_interval_join_buffers_both_sides(spark):
    """Inner stream-stream join with two-sided time bound: clicks and
    purchases arrive in separate micro-batches in either order; the
    state store must match across batches, and out-of-range clicks
    must not join."""
    click_src = tempfile.mkdtemp(prefix="stream-clk-")
    buy_src = tempfile.mkdtemp(prefix="stream-buy-")
    chk = tempfile.mkdtemp(prefix="stream-chk-")
    name = f"ssj_{uuid.uuid4().hex[:8]}"
    joined = streams.stream_stream_interval_join(
        streams.read_event_stream(spark, click_src),
        streams.read_event_stream(spark, buy_src),
    )
    query = (
        joined.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", chk)
        .start()
    )

    def feed(src, rows):
        df = spark.createDataFrame(rows, streams.EVENTS_SCHEMA)
        df.coalesce(1).write.mode("append").parquet(src)
        query.processAllAvailable()

    try:
        # batch 1: clicks first — user 1 @ t0, user 2 @ t0+10
        feed(click_src, [_mk(0, 100, 1, "click"), _mk(10, 101, 2, "click")])
        # batch 2: purchases — u1 @ +30 (joins), u2 @ +120 (click too
        # old), u3 @ +30 (no click at all)
        feed(
            buy_src,
            [_mk(30, 200, 1), _mk(120, 201, 2), _mk(30, 202, 3)],
        )
        got = {
            (r.user_id, r.purchase_id, r.click_id)
            for r in spark.table(name).collect()
        }
        assert got == {(1, 200, 100)}
        # batch 3: a LATE click for user 3 @ +15 — purchase 202 is
        # already buffered; the join must emit the pair now.
        feed(click_src, [_mk(15, 102, 3, "click")])
        got = {
            (r.user_id, r.purchase_id, r.click_id)
            for r in spark.table(name).collect()
        }
        assert got == {(1, 200, 100), (3, 202, 102)}
    finally:
        query.stop()
        shutil.rmtree(click_src, ignore_errors=True)
        shutil.rmtree(buy_src, ignore_errors=True)
        shutil.rmtree(chk, ignore_errors=True)


def test_pin_state_store_width_sets_and_restores(spark):
    """State width is a deploy-time constant, not byte-autosized
    (streams.pin_state_store_width; the r13 sf50 replay died on fd
    exhaustion when ~3.2k autosized partitions each opened a RocksDB
    instance — tools/receipts/streaming_sf50_r13.txt)."""
    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        assert streams.pin_state_store_width(spark, 64) == 64
        assert spark.conf.get("spark.sql.shuffle.partitions") == "64"
        # Default width is the documented deploy-time constant.
        assert streams.pin_state_store_width(spark) == 128
        assert spark.conf.get("spark.sql.shuffle.partitions") == "128"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
