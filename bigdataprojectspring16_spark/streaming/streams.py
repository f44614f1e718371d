"""Category J — Structured Streaming forms of the windowing operators.

Builders take a *streaming* DataFrame (``spark.readStream`` file
source over the events schema) and return the transformed streaming
frame; the calls are identical to the batch twins in
``batch_windows.py`` — that identity is the point: one logical plan,
micro-batch-incrementalized by the engine, with the state store
(per-partition, per-executor) holding window/dedup/counter state and
watermarks bounding its size.

Verification strategy (tests/test_streaming.py): finite file-source
replays with manufactured late/duplicate events drive each pipeline
through ``processAllAvailable`` micro-batches and assert the
semantics batch inputs cannot express — late-data drop, dedup within
watermark, and cross-batch state continuity.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..functions import money

#: The events schema as the file stream source needs it declared
#: up-front (streaming sources cannot infer schemas).
EVENTS_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("ts", TimestampType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def pin_state_store_width(spark: SparkSession, width: int = 128) -> int:
    """Pin ``spark.sql.shuffle.partitions`` before starting stateful
    streaming queries, and return the width set.

    Streaming state partitioning is FROZEN at the first micro-batch
    for the life of the checkpoint, and every state partition is its
    own store instance — with RocksDB, its own files and background
    maintenance subprocesses. The batch-side byte autosizer
    (``tables.autosize_shuffle_partitions``, 256 KB/partition) is the
    wrong policy for that: state width must be a deploy-time constant
    sized to the cluster (executors x cores), never to input bytes.
    Measured failure mode (r13 streaming decade, 50M events): the
    autosizer picked ~3.2k partitions and the replay died inside
    RocksDB checkpoint commits with ``error=24, Too many open files``
    against a 20k fd ulimit — receipt
    ``tools/receipts/streaming_sf50_r13.txt``. At the pinned default,
    50M rows of session state is ~390k rows/partition, far inside a
    single store's comfort, with a few hundred fds total.

    Call this AFTER batch-side loads (their autosizing is fine and
    already applied) and BEFORE ``writeStream.start()``.
    """
    spark.conf.set("spark.sql.shuffle.partitions", str(width))
    return width


def read_event_stream(spark: SparkSession, source_dir: str) -> DataFrame:
    """File-source event stream: each parquet file is a micro-batch."""
    return (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(source_dir)
    )


def tumbling_counts(events: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Streaming twin of ``stream_tumbling`` + watermark for append mode.

    Same §MONEY discipline as the batch twin: the state store carries
    exact integer cents (events.value is 2-dp grid), so a window's
    total is identical no matter how micro-batches slice the input.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (
                money.sum_exact(money.cents(F.col("value")))
                .cast("double") / 100.0
            ).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def windowed_counts(events: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Streaming tumbling count per window (no key) — late-drop probe."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_events",
        )
    )


def session_counts(events: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Streaming twin of ``stream_session`` (same session_window call)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
    )


def dedup_within_watermark(events: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Streaming twin of ``stream_dedup_watermark``.

    State holds one entry per event_id until the watermark passes;
    a duplicate arriving within the watermark is dropped, and state
    never grows unboundedly — the property that makes exact dedup
    feasible on an infinite stream.
    """
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


#: Output schema of the stateful purchase counter.
COUNTER_SCHEMA = "user_id bigint, event_id bigint, ts timestamp, purchase_seq bigint"
#: State schema: one running count per user.
COUNTER_STATE_SCHEMA = "n bigint"


def stateful_purchase_counter(events: DataFrame) -> DataFrame:
    """Streaming twin of ``stream_stateful_counter``.

    Arbitrary stateful processing via ``applyInPandasWithState``:
    the per-user purchase count lives in the state store across
    micro-batches. Within a batch, rows are ordered by (ts,
    event_id) before numbering so replays are deterministic; across
    batches the counter continues from state — asserted in
    tests/test_streaming.py by feeding two batches for one user.

    It is the package's only stateful form: Spark 4's
    ``transformWithStateInPandas`` needs ``google.protobuf`` in the
    Python workers, which the project does not depend on.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def count_purchases(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        n = state.get[0] if state.exists else 0
        for pdf in pdfs:
            pdf = pdf.sort_values(["ts", "event_id"])
            seqs = range(n + 1, n + 1 + len(pdf))
            n += len(pdf)
            yield pd.DataFrame(
                {
                    "user_id": pdf["user_id"],
                    "event_id": pdf["event_id"],
                    "ts": pdf["ts"],
                    "purchase_seq": list(seqs),
                }
            )
        state.update((n,))

    return (
        events.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .applyInPandasWithState(
            count_purchases,
            outputStructType=COUNTER_SCHEMA,
            stateStructType=COUNTER_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def stream_stream_interval_join(
    clicks: DataFrame, purchases: DataFrame, watermark: str = "1 hour"
) -> DataFrame:
    """Stream-stream inner join: each purchase paired with same-user
    clicks in the preceding hour (streaming twin of the batch
    ``join_range_interval``).

    Both sides are watermarked and the join has a two-sided time
    constraint — the two conditions Structured Streaming needs to
    bound the join state store: a click can be evicted once the
    purchase-side watermark passes click_ts + 1h, so state is
    O(watermark-window of data), not O(stream). Either side may
    arrive first across micro-batches; the state store buffers and
    matches late counterparts.
    """
    c = clicks.withWatermark("ts", watermark).select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    p = purchases.withWatermark("ts", watermark).select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    return p.join(
        c,
        (p["user_id"] == c["c_user"])
        & (c["click_ts"] <= p["purchase_ts"])
        & (c["click_ts"] >= p["purchase_ts"] - F.expr("INTERVAL 1 HOUR")),
    ).select("user_id", "purchase_id", "purchase_ts", "click_id", "click_ts")
