"""Category J — streaming operators, batch-twin forms (SURVEY §2.J).

The events fixture is a stream table; every windowing operator here
uses the *same* API in batch and streaming (``F.window`` /
``F.session_window`` are identical calls under ``readStream``), so
the declared batch queries are the oracle-checkable twins of the
streaming pipelines wired up in ``streaming/streams.py`` and verified
in tests/test_streaming.py (watermark late-drop, dedup-within-
watermark, stateful counter via applyInPandasWithState).

Scale notes: tumbling/sliding windows are plain hash aggregations on
(window, key) — partial-agg friendly; session windows and the
cumulative counter shuffle once on user_id; watermarks bound state
size in the streaming twins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import money
from ..registry import query
from ..tables import load_skew_table, load_table


@query(
    "stream_tumbling",
    oracle="""
    SELECT
        date_trunc('hour', ts) AS window_start,
        event_type,
        count(*) AS n_events,
        CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE)
            / 100.0 AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling counts + sum(value) per event_type.

    §MONEY r8: a (window × type) value sum grows with event rate, so
    it runs on exact integer cents (events.value is on the 2-dp grid,
    tests/test_money_grid.py) — the identical integer aggregation a
    streaming state store would carry; only the display divides.
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
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


@query(
    "stream_sliding",
    oracle="""
    WITH offs AS (SELECT unnest([0, 15, 30, 45]) AS off_min)
    SELECT
        time_bucket(INTERVAL 15 MINUTE, ts) - off_min * INTERVAL 1 MINUTE
            AS window_start,
        event_type,
        count(*) AS n_events
    FROM events CROSS JOIN offs
    GROUP BY 1, 2
    """,
)
def stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour windows sliding every 15 min (each event in 4 windows).

    Spark assigns each event to its ≤4 overlapping windows directly
    inside the window expression (no self-join); the oracle derives
    the same windows by shifting the 15-minute bucket.
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
        )
    )


@query(
    "stream_session",
    oracle="""
    WITH flagged AS (
        SELECT
            user_id,
            ts,
            CASE WHEN lag(ts) OVER w IS NULL
                      OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                 THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    sessions AS (
        SELECT
            user_id,
            ts,
            sum(new_session) OVER (
                PARTITION BY user_id ORDER BY ts
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
            ) AS session_id
        FROM flagged
    )
    SELECT
        user_id,
        min(ts) AS session_start,
        max(ts) + INTERVAL 30 MINUTE AS session_end,
        count(*) AS n_events
    FROM sessions
    GROUP BY user_id, session_id
    """,
)
def stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session windows split on >30-min gaps.

    Uses Spark's native ``session_window`` (identical call under
    readStream); the oracle reconstructs sessions with the classic
    lag/gap/cumsum rewrite. Spark's session end = last event + gap.

    Physical layout (r13, VERDICT r12 #1): events/customer load via
    the write-once bucketed layout (``tables.load_skew_table``: 50→18
    exchanges across the 8 skew-family keys at sf0.1, rows equal;
    receipts tools/receipts/bucketed_skew_ab_r12.txt and
    bucketed_skew_declared_r13.txt). Semantics are flat-table
    truth either way — the oracle never sees the layout.
    """
    ev = load_skew_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
    )


@query("stream_watermark_late")  # rows-only: semantics verified in streaming tests
def stream_watermark_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark view over tumbling windows (rows-only key).

    Batch form: per-window counts plus a ``closed`` flag marking
    windows a 10-minute watermark would have finalized at
    end-of-stream. The actual late-drop semantics (an event >10 min
    behind the watermark must not reopen a closed window) are
    asserted with a manufactured late micro-batch in
    tests/test_streaming.py — batch inputs have no arrival order, so
    they cannot express it (sanctioned rows-only, SURVEY §2).
    """
    ev = load_table(spark, sf_dir, "events")
    max_ts = ev.agg(F.max("ts").alias("max_ts"))
    win = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_events",
        )
    )
    return win.crossJoin(F.broadcast(max_ts)).select(
        "window_start",
        "window_end",
        "n_events",
        (F.col("window_end") <= F.col("max_ts") - F.expr("INTERVAL 10 MINUTES")).alias(
            "closed"
        ),
    )


@query("stream_dedup_watermark")  # rows-only: duplicates manufactured in tests
def stream_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-by-event_id view (rows-only key).

    Batch twin of ``dropDuplicatesWithinWatermark``: the fixture's
    event_ids are unique, so the declared query deduplicates a
    deliberately duplicated union (events ∪ events) and counts per
    type — proving the dedup actually collapses. The stateful
    watermark-bounded variant runs in tests/test_streaming.py.
    """
    ev = load_table(spark, sf_dir, "events")
    doubled = ev.unionByName(ev)
    return (
        doubled.dropDuplicates(["event_id"])
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


@query(
    "stream_late_events_census",
    oracle="""
    WITH arr AS (
        SELECT event_type, ts,
               max(ts) OVER (
                   PARTITION BY user_id ORDER BY event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS high_water
        FROM events
    )
    SELECT event_type,
           count(*) AS n_events,
           CAST(sum(CASE WHEN ts < high_water - INTERVAL 10 MINUTE
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
           round(CAST(sum(CASE WHEN ts < high_water - INTERVAL 10 MINUTE
                              THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 6) AS late_rate
    FROM arr GROUP BY event_type
    """,
)
def stream_late_events_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-keyed census of the late-event population that
    ``stream_watermark_late`` (rows-only) reasons about: replaying
    each user's events in ``event_id`` (ingest) order, an event is
    "late" if its event time trails that key's high-water mark by
    more than the 10-minute watermark delay — exactly the rows a
    keyed, watermark-bounded stateful operator would drop.

    Batch inputs carry no global arrival order, so the global
    watermark itself stays tests-only (tests/test_streaming.py
    manufactures the late micro-batch); but the per-key lateness
    census IS deterministic in batch (event_id is a total order) and
    therefore hash-checkable — this key closes the driver-signal gap
    the r3 VERDICT flagged for the watermark family. One user_id
    shuffle carries the window; the census agg reuses no extra
    exchange beyond the final event_type partial agg. Scales as a
    plain keyed window at any corpus size.
    """
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    is_late = F.col("ts") < F.col("high_water") - F.expr("INTERVAL 10 MINUTES")
    arr = ev.select(
        "event_type", "ts", F.max("ts").over(w).alias("high_water")
    )
    return arr.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.when(is_late, 1).otherwise(0)).alias("n_late"),
        F.round(
            F.sum(F.when(is_late, 1).otherwise(0)).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("late_rate"),
    )


@query(
    "stream_dedup_census",
    oracle="""
    WITH doubled AS (
        SELECT event_id, event_type FROM events
        UNION ALL
        SELECT event_id, event_type FROM events WHERE event_id % 10 = 0
    )
    SELECT event_type,
           count(*) AS n_raw,
           count(DISTINCT event_id) AS n_distinct,
           count(*) - count(DISTINCT event_id) AS n_dropped
    FROM doubled GROUP BY event_type
    """,
)
def stream_dedup_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-keyed duplicate-collapse census twinned with
    ``stream_dedup_watermark`` (rows-only): re-inject every 10th
    event_id as a duplicate (the fixture's ids are unique, so the
    duplicate population is manufactured deterministically, same
    convention as the rows-only key) and report, per event_type, the
    raw count, the surviving distinct count, and how many rows a
    watermark-bounded ``dropDuplicatesWithinWatermark`` would have
    collapsed.  Batch ``dropDuplicates`` ≡ the streaming form when
    every duplicate arrives inside the watermark — the within-window
    arrival constraint itself is asserted with micro-batches in
    tests/test_streaming.py.  Single hash agg with a map-side
    distinct partial; no extra exchange versus the rows-only twin.
    """
    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type")
    doubled = ev.unionByName(ev.where(F.col("event_id") % 10 == 0))
    return doubled.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_raw"),
        F.count_distinct("event_id").alias("n_distinct"),
        (F.count(F.lit(1)) - F.count_distinct("event_id")).alias("n_dropped"),
    )


@query(
    "stream_stateful_counter",
    oracle="""
    SELECT
        event_id,
        user_id,
        ts,
        count(*) OVER (
            PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        ) AS purchase_seq
    FROM events
    WHERE event_type = 'purchase'
    """,
)
def stream_stateful_counter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running per-user purchase counter — batch twin of the stateful op.

    The streaming form keeps a per-user counter in the state store
    (``applyInPandasWithState``, exercised in tests/test_streaming.py); the batch twin is the
    cumulative window count, which is the oracle-checkable
    equivalent (SURVEY §2.J).
    """
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        ev.where(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            "ts",
            F.count(F.lit(1)).over(w).alias("purchase_seq"),
        )
    )


@query(
    "stream_static_enrich",
    oracle="""
    SELECT
        date_trunc('hour', e.ts) AS window_start,
        c.c_mktsegment,
        count(*) AS n_events,
        CAST(sum(CAST(round(e.value * 100) AS BIGINT)) AS DOUBLE)
            / 100.0 AS sum_value,
        count(DISTINCT e.user_id) AS n_users
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1, 2
    """,
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment: the event stream joined against a
    static dimension (customer), then windowed per segment — the
    canonical Structured Streaming enrichment topology (the static
    side is re-read per micro-batch and broadcast; no state, no
    watermark needed for the join itself).

    This batch twin is oracle-checkable and uses the identical
    ``F.window`` + join calls the ``readStream`` form takes; the
    live streaming leg (joining a file stream against the same dim
    and collecting per-batch results) is asserted in
    tests/test_streaming.py::test_stream_static_join_enriches_each_batch.
    No forced broadcast hint: customer grows with sf (the repo's
    fixed-size-only hint rule, tests/test_plan_shapes.py), so the
    autoBroadcastJoinThreshold / AQE runtime conversion decides —
    at fixture scale that still plans a broadcast, and at 100 TB the
    join degrades safely to a keyed shuffle instead of a driver OOM.
    """
    ev = load_table(spark, sf_dir, "events")
    c = load_table(spark, sf_dir, "customer")
    return (
        ev.join(c, ev.user_id == c.c_custkey)
        .groupBy(F.window("ts", "1 hour").alias("w"), "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (
                money.sum_exact(money.cents(F.col("value")))
                .cast("double") / 100.0
            ).alias("sum_value"),
            F.count_distinct(F.col("user_id")).alias("n_users"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "c_mktsegment",
            "n_events",
            "sum_value",
            "n_users",
        )
    )


@query(
    "stream_join_pairs",
    oracle="""
    SELECT p.user_id AS user_id,
           p.event_id AS purchase_id,
           p.ts AS purchase_ts,
           c.event_id AS click_id,
           c.ts AS click_ts
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id
     AND c.ts BETWEEN p.ts - INTERVAL 1 HOUR AND p.ts
    """,
)
def stream_join_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the stream-stream interval join, executed through
    the SAME function the streaming pipeline wires up
    (``streams.stream_stream_interval_join``): each purchase paired
    with the same user's clicks from the preceding hour, at pair
    granularity.

    ``withWatermark`` is a no-op under batch execution, so this
    declared key hash-verifies the exact join predicate and
    projection the streaming tests replay with micro-batches
    (tests/test_streaming.py) — promoting the one previously
    tests-only §2.J surface to a driver-checkable row.  Scale shape
    is identical in both modes: an equi join on user_id with the
    two-sided time constraint as a residual (batch) / state-eviction
    bound (streaming).
    """
    from .streams import stream_stream_interval_join

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click")
    purchases = ev.where(F.col("event_type") == "purchase")
    return stream_stream_interval_join(clicks, purchases)
