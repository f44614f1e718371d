"""Event-analytics composites: funnel + retention cohorts.

The capstone shapes of a big-data analytics project (the reference's
genre, SURVEY §0): multi-stage behavioral queries composed purely
from the relational operators the engine already has — conditional
aggregation, self-referencing joins on per-user anchors, and
day-bucketed time arithmetic. Everything stays two-phase-aggregable
and shuffle-keyed on user_id / day, so the shapes hold at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import money
from ..registry import query
from ..tables import load_skew_table, load_table, ts_seconds


@query(
    "events_funnel",
    oracle="""
    WITH su AS (
        SELECT user_id, min(ts) AS signup_ts
        FROM events WHERE event_type = 'signup' GROUP BY user_id
    ),
    cl AS (
        SELECT e.user_id, min(ts) AS click_ts
        FROM events e JOIN su USING (user_id)
        WHERE event_type = 'click' AND ts >= signup_ts
        GROUP BY e.user_id
    ),
    pu AS (
        SELECT e.user_id, min(ts) AS purchase_ts
        FROM events e JOIN cl USING (user_id)
        WHERE event_type = 'purchase' AND ts >= click_ts
        GROUP BY e.user_id
    )
    SELECT
        (SELECT count(*) FROM su) AS n_signup,
        (SELECT count(*) FROM cl) AS n_click_after_signup,
        (SELECT count(*) FROM pu) AS n_purchase_after_click,
        round((SELECT count(*) FROM pu)
              / CAST((SELECT count(*) FROM su) AS DOUBLE), 6) AS conversion
    """,
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-stage behavioral funnel: signup → first click → purchase.

    Each stage anchors on the previous stage's per-user timestamp
    (min signup, then min click ≥ it, then min purchase ≥ that), so
    ordering is enforced, not just co-occurrence. Three keyed
    aggregations + two equi-joins on user_id; the final counts are
    single-row global aggregates.

    Physical layout (r13, VERDICT r12 #1): events/customer load via
    the write-once bucketed layout (``tables.load_skew_table``: 50→18
    exchanges across the 8 skew-family keys at sf0.1, rows equal;
    receipts tools/receipts/bucketed_skew_ab_r12.txt and
    bucketed_skew_declared_r13.txt). Semantics are flat-table
    truth either way — the oracle never sees the layout.
    """
    ev = load_skew_table(spark, sf_dir, "events")
    su = (
        ev.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("signup_ts"))
    )
    cl = (
        ev.join(su, "user_id")
        .where((F.col("event_type") == "click") & (F.col("ts") >= F.col("signup_ts")))
        .groupBy("user_id")
        .agg(F.min("ts").alias("click_ts"))
    )
    pu = (
        ev.join(cl, "user_id")
        .where(
            (F.col("event_type") == "purchase") & (F.col("ts") >= F.col("click_ts"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("purchase_ts"))
    )
    n_su = su.agg(F.count(F.lit(1)).alias("n_signup"))
    n_cl = cl.agg(F.count(F.lit(1)).alias("n_click_after_signup"))
    n_pu = pu.agg(F.count(F.lit(1)).alias("n_purchase_after_click"))
    return (
        n_su.crossJoin(n_cl)
        .crossJoin(n_pu)
        .select(
            "n_signup",
            "n_click_after_signup",
            "n_purchase_after_click",
            F.round(
                F.col("n_purchase_after_click")
                / F.col("n_signup").cast("double"),
                6,
            ).alias("conversion"),
        )
    )


@query(
    "retention_cohorts",
    oracle="""
    WITH firstday AS (
        SELECT user_id, min(date_trunc('day', ts)) AS cohort_day
        FROM events GROUP BY user_id
    ),
    activity AS (
        SELECT DISTINCT user_id, date_trunc('day', ts) AS active_day
        FROM events
    )
    SELECT
        cohort_day,
        date_diff('day', cohort_day, active_day) AS day_offset,
        count(*) AS n_users
    FROM activity JOIN firstday USING (user_id)
    WHERE date_diff('day', cohort_day, active_day) <= 7
    GROUP BY cohort_day, day_offset
    """,
)
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: users active N days after first seen.

    Cohort = each user's first active day; one distinct-activity
    aggregation + a join back on user_id; the result is bounded by
    (days × offsets), independent of event volume. Two cross-engine
    hazards handled (SURVEY §5.3): datediff argument order is
    (end, start) in Spark vs (unit, start, end) in DuckDB, and
    day-truncation yields TIMESTAMP in Spark but DATE in DuckDB —
    ``to_date`` aligns the output type.

    Physical layout (r13, VERDICT r12 #1): events/customer load via
    the write-once bucketed layout (``tables.load_skew_table``: 50→18
    exchanges across the 8 skew-family keys at sf0.1, rows equal;
    receipts tools/receipts/bucketed_skew_ab_r12.txt and
    bucketed_skew_declared_r13.txt). Semantics are flat-table
    truth either way — the oracle never sees the layout.
    """
    ev = load_skew_table(spark, sf_dir, "events")
    day = F.to_date(F.col("ts"))
    firstday = ev.groupBy("user_id").agg(F.min(day).alias("cohort_day"))
    activity = ev.select("user_id", day.alias("active_day")).distinct()
    return (
        activity.join(firstday, "user_id")
        .select(
            "cohort_day",
            F.datediff(F.col("active_day"), F.col("cohort_day"))
            .cast("long")
            .alias("day_offset"),
        )
        .where(F.col("day_offset") <= 7)
        .groupBy("cohort_day", "day_offset")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


@query(
    "timeseries_gap_fill",
    oracle="""
    WITH bounds AS (
        SELECT min(CAST(ts AS DATE)) AS lo, max(CAST(ts AS DATE)) AS hi
        FROM events
    ),
    spine AS (
        SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE)
               AS day
        FROM bounds
    ),
    types AS (SELECT DISTINCT event_type FROM events),
    daily AS (
        SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS n
        FROM events GROUP BY 1, 2
    )
    SELECT s.day, t.event_type, coalesce(d.n, 0) AS n_events
    FROM spine s
    CROSS JOIN types t
    LEFT JOIN daily d ON d.day = s.day AND d.event_type = t.event_type
    """,
)
def timeseries_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resample with gap fill: a generated day spine ×
    event types, left-joined to daily counts, missing buckets = 0 —
    the standard densify step before any rolling/window computation
    (a window over sparse days silently skips gaps).

    The spine comes from ``sequence(min_day, max_day)`` + ``explode``
    — generated from one global min/max aggregate, so it is days-sized
    regardless of event volume. Every join side here is DECLARED
    broadcast (the session's earned-broadcast rule: no static-estimate
    broadcasts): ``types`` is enum-bounded and ``daily`` is bounded by
    calendar × enum — both independent of event volume, so the hints
    hold at 100 TB. The only big-data stage is the daily
    pre-aggregation, one two-phase shuffle on (day, type).
    """
    ev = load_table(spark, sf_dir, "events")
    day = F.to_date(F.col("ts"))
    bounds = ev.agg(F.min(day).alias("lo"), F.max(day).alias("hi"))
    spine = bounds.select(
        F.explode(F.sequence(F.col("lo"), F.col("hi"))).alias("day")
    )
    types = ev.select("event_type").distinct()
    daily = (
        ev.groupBy(day.alias("day"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        spine.crossJoin(F.broadcast(types))
        .join(F.broadcast(daily), ["day", "event_type"], "left")
        .select("day", "event_type", F.coalesce("n", F.lit(0)).alias("n_events"))
    )


@query(
    "tpch_q3_topk",
    oracle="""
    SELECT l_orderkey,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           o_orderdate
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
      AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, o_orderdate, l_orderkey
    LIMIT 10
    """,
)
def tpch_q3_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 (shipping priority): top-10 unshipped orders of one
    segment by outstanding revenue — selective filters on both fact
    tables, a 3-way join, grouped revenue, sorted limit.

    The tie-break on (o_orderdate, l_orderkey) makes the top-10 *set*
    deterministic, not just the ordering — LIMIT after ORDER BY on a
    non-unique sort key returns an engine-dependent row choice
    otherwise. Spark executes the limit as TakeOrderedAndProject:
    per-partition top-10 heaps, then a driver-side merge of 10·P rows
    — no global sort materialization at 100 TB.
    """
    c = load_table(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1995-03-15").cast("timestamp")
    )
    l = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1995-03-15").cast("timestamp")
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l, o.o_orderkey == l.l_orderkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(money.money2(money.sum_exact(money.rev_e4())).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.col("revenue").desc(), "o_orderdate", "l_orderkey")
        .limit(10)
    )


@query(
    "sessionize_gap_batch",
    oracle="""
    WITH marked AS (
        SELECT user_id, ts, value,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS is_new
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
        SELECT user_id, ts, value,
               CAST(sum(is_new) OVER (
                   PARTITION BY user_id ORDER BY ts, is_new DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS session_no
        FROM marked
    )
    SELECT user_id, session_no,
           count(*) AS n_events,
           min(ts) AS session_start,
           max(ts) AS session_end,
           round(sum(value), 2) AS session_value
    FROM sess
    GROUP BY user_id, session_no
    """,
)
def sessionize_gap_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization by inactivity gap (30 min), the lag →
    boundary-flag → running-sum technique: a new session starts where
    the gap to the previous same-user event exceeds the threshold,
    and the cumulative count of boundary flags numbers the sessions.

    This is the manual twin of ``stream_session``'s built-in
    ``session_window`` — same semantics, expressed with two windows
    over ONE partitioning (user_id), so Catalyst plans a single
    shuffle + sort and both window operators plus the final
    aggregation ride it. The cumulative-sum window orders by
    (ts, is_new DESC) — tie-safe in both engines even if a boundary
    and a non-boundary event share a timestamp.

    Physical layout (r13, VERDICT r12 #1): events/customer load via
    the write-once bucketed layout (``tables.load_skew_table``: 50→18
    exchanges across the 8 skew-family keys at sf0.1, rows equal;
    receipts tools/receipts/bucketed_skew_ab_r12.txt and
    bucketed_skew_declared_r13.txt). Semantics are flat-table
    truth either way — the oracle never sees the layout.
    """
    ev = load_skew_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # Gap at FULL microsecond precision (unix_micros), not epoch
    # seconds: floor(a) - floor(b) can equal 1800 while the true gap
    # exceeds 30 minutes by a fraction (e.g. b=...0.2s, a=...+1800.3s),
    # silently disagreeing with the oracle's exact INTERVAL compare —
    # the same truncation class the r4 sf0.1 sweep caught on
    # window_range_frame, latent here at fixture density.
    ts_us = F.unix_micros(F.col("ts").cast("timestamp_ltz"))
    gap_us = ts_us - F.lag(ts_us).over(w)
    marked = ev.select(
        "user_id",
        "ts",
        "value",
        F.when(gap_us.isNull() | (gap_us > 1800 * 1_000_000), 1)
        .otherwise(0)
        .alias("is_new"),
    )
    w2 = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts"), F.col("is_new").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sess = marked.withColumn("session_no", F.sum("is_new").over(w2))
    return sess.groupBy("user_id", "session_no").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.round(F.sum("value"), 2).alias("session_value"),
    )


@query(
    "custdist_two_level_agg",
    oracle="""
    WITH per_cust AS (
        SELECT c_custkey, count(o_orderkey) AS c_count
        FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        GROUP BY c_custkey
    )
    SELECT c_count, count(*) AS custdist
    FROM per_cust GROUP BY c_count
    """,
)
def custdist_two_level_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: distribution of customers by order count —
    an aggregate OF an aggregate, where the LEFT join + count(col)
    keeps zero-order customers as c_count = 0 (an inner join would
    silently drop the most interesting bucket).

    Two shuffles by construction (per-customer count, then the
    count-of-counts), but the second input is one row per customer
    and the output is histogram-sized. The first join shuffles on
    c_custkey; at 100 TB AQE handles the order-side skew.
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy(c.c_custkey)
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).alias("custdist")
    )


@query(
    "tpch_q14_promo_share",
    oracle=f"""
    SELECT round(
        100.0 * CAST(sum(CASE WHEN p_type = 'PROMO'
                         THEN {money.REV_E4_SQL}
                         ELSE 0 END) AS DOUBLE)
        / CAST(sum({money.REV_E4_SQL}) AS DOUBLE), 6) AS promo_revenue_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1995-09-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1995-10-01 00:00:00'
    """,
)
def tpch_q14_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promo revenue share in one month — a global
    conditional-aggregate ratio over a fact⋈dim join with a tight
    time filter.

    The date predicate is pushed to the parquet scan (row-group
    skipping does the month pruning at 100 TB; on a date-partitioned
    layout this is partition pruning), part broadcasts, and the ratio
    is one row out of a single two-phase aggregate.
    """
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1995-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1995-10-01").cast("timestamp"))
    )
    p = load_table(spark, sf_dir, "part")
    rev_e4 = money.rev_e4()
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            F.round(
                100.0
                * money.sum_exact(
                    F.when(F.col("p_type") == "PROMO", rev_e4).otherwise(
                        F.lit(0).cast("long")
                    )
                ).cast("double")
                / money.sum_exact(rev_e4).cast("double"),
                6,
            ).alias("promo_revenue_pct")
        )
    )


@query(
    "tpch_q18_large_orders",
    oracle="""
    WITH big AS (
        SELECT l_orderkey, round(sum(l_quantity), 2) AS total_qty
        FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 250
    )
    SELECT c_custkey, c_name, o_orderkey, o_totalprice, total_qty
    FROM big
    JOIN orders ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    """,
)
def tpch_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: large-volume orders and who placed them.

    Aggregate-then-join topology: the fact table is collapsed to
    per-order quantity FIRST and the > 250 filter applied before any
    join, so the join input shrinks from |lineitem| to the few
    qualifying orders (204 at sf0.01). At scale AQE sees the
    filtered side is tiny and broadcast-converts both probe joins —
    the anti-pattern (join lineitem→orders→customer, then
    aggregate) would shuffle the full fact table twice. Quantity
    sums of integral doubles are exact, so the rounded total_qty is
    engine-stable.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("q"))
        .where(F.col("q") > 250)
        .select("l_orderkey", F.round("q", 2).alias("total_qty"))
    )
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select("c_custkey", "c_name", "o_orderkey", "o_totalprice", "total_qty")
    )


@query(
    "events_anomaly_mad",
    oracle="""
    WITH daily AS (
        SELECT event_type, date_trunc('day', ts) AS day, count(*) AS n
        FROM events GROUP BY event_type, day
    ),
    med AS (
        SELECT event_type, quantile_cont(n, 0.5) AS med
        FROM daily GROUP BY event_type
    ),
    dev AS (
        SELECT d.event_type, n, med, abs(n - med) AS adev
        FROM daily d JOIN med USING (event_type)
    ),
    mad AS (
        SELECT event_type, quantile_cont(adev, 0.5) AS mad
        FROM dev GROUP BY event_type
    )
    SELECT v.event_type,
           count(*) AS n_days,
           round(max(med), 4) AS median_daily,
           round(max(mad), 4) AS mad_daily,
           count(*) FILTER (adev > 2.0 * 1.4826 * mad) AS n_anomalies,
           round(max(adev / nullif(1.4826 * mad, 0)), 4) AS max_robust_z
    FROM dev v JOIN mad USING (event_type)
    GROUP BY v.event_type
    """,
)
def events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust daily-volume anomaly detection: median + MAD per event type.

    Median/MAD instead of mean/stddev so the detector isn't poisoned
    by the very outliers it hunts (the production data-quality shape
    for pipeline-volume monitoring). Two tiny per-type exact
    percentile aggregations over the pre-collapsed daily counts —
    the only fact-sized shuffle is the first (type, day) rollup;
    medians run over ~days rows per type and join back as
    broadcasts. Flag threshold 2.0 robust-z (the fixture's uniform
    synthetic volume has no 3-sigma spikes; the operator is
    threshold-agnostic).
    """
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    med = daily.groupBy("event_type").agg(
        F.percentile("n", 0.5).alias("med")
    )
    dev = daily.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("n") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(
        F.percentile("adev", 0.5).alias("mad")
    )
    z = F.col("adev") / F.nullif(F.lit(1.4826) * F.col("mad"), F.lit(0.0))
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.round(F.max("med"), 4).alias("median_daily"),
            F.round(F.max("mad"), 4).alias("mad_daily"),
            F.count_if(
                F.col("adev") > F.lit(2.0) * F.lit(1.4826) * F.col("mad")
            ).alias("n_anomalies"),
            F.round(F.max(z), 4).alias("max_robust_z"),
        )
    )


@query(
    "tpch_q16_supplier_cnt",
    oracle="""
    SELECT p_brand, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE p_brand <> 'Brand#1'
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_size
    """,
)
def tpch_q16_supplier_cnt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct supplier count per part attribute,
    minus an excluded supplier set.

    The NOT IN subquery is written as what Catalyst would rewrite it
    to anyway — a broadcast left-anti join against the (tiny,
    selective) excluded-supplier scan — then one distinct-aggregate
    keyed on (p_brand, p_size). The part dim broadcasts; the only
    fact-sized exchange is the final two-phase distinct agg. The
    fixture set has no partsupp table, so lineitem is the
    part-supplier association, same topology.
    """
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    s = load_table(spark, sf_dir, "supplier")
    bad = s.where(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        li.join(F.broadcast(bad), li.l_suppkey == bad.s_suppkey, "left_anti")
        .join(F.broadcast(p.where(F.col("p_brand") != "Brand#1")),
              F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@query(
    "orders_yoy_growth",
    oracle="""
    WITH yearly AS (
        SELECT n_name, year(o_orderdate) AS yr,
               sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS rev_c
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name, yr
    )
    SELECT n_name, yr,
           CAST(rev_c AS DOUBLE) / 100.0 AS rev,
           round(CAST(rev_c AS DOUBLE)
                 / CAST(lag(rev_c) OVER (PARTITION BY n_name ORDER BY yr)
                        AS DOUBLE) - 1, 6)
               AS yoy_growth
    FROM yearly
    """,
)
def orders_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year revenue growth per nation: agg-then-window.

    The reporting composite: collapse the fact table to (nation,
    year) FIRST — the window then runs over ~|nations| x |years|
    rows, so its sort is trivial at any fact scale (the anti-pattern
    is windowing the raw fact). First year per nation keeps a NULL
    growth (no prior period), matching SQL lag semantics.

    §MONEY r8: nation-year money sums grow with the fact table, so
    they run on exact integer cents; the growth ratio divides two
    exact integers (one IEEE division, identical on both engines)
    before the display round.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    yearly = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name", F.year("o_orderdate").alias("yr"))
        .agg(
            money.sum_exact(money.cents(F.col("o_totalprice"))).alias(
                "_rev_c"
            )
        )
    )
    w = Window.partitionBy("n_name").orderBy("yr")
    return yearly.select(
        "n_name",
        "yr",
        (F.col("_rev_c").cast("double") / 100.0).alias("rev"),
        F.round(
            F.col("_rev_c").cast("double")
            / F.lag("_rev_c").over(w).cast("double")
            - 1,
            6,
        ).alias("yoy_growth"),
    )


@query(
    "events_transition_matrix",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               lag(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS prev
        FROM events
    )
    SELECT prev, event_type AS next, count(*) AS n,
           round(CAST(count(*) AS DOUBLE)
                 / sum(count(*)) OVER (PARTITION BY prev), 6) AS p
    FROM seq WHERE prev IS NOT NULL
    GROUP BY prev, event_type
    """,
)
def events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event streams.

    Behavioral-model input: lag over (user_id, ts) orders each
    user's stream in one shuffle (deterministic (ts, event_id)
    tie-break), pair counts aggregate to a k x k matrix, and the
    row-normalized probability runs as an unordered window over the
    tiny aggregate. The only fact-sized exchange is the user_id
    partitioning the sessionization family already uses.

    Physical layout (r13, VERDICT r12 #1): events/customer load via
    the write-once bucketed layout (``tables.load_skew_table``: 50→18
    exchanges across the 8 skew-family keys at sf0.1, rows equal;
    receipts tools/receipts/bucketed_skew_ab_r12.txt and
    bucketed_skew_declared_r13.txt). Semantics are flat-table
    truth either way — the oracle never sees the layout.
    """
    e = load_skew_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "event_type", F.lag("event_type").over(w).alias("prev")
    ).where(F.col("prev").isNotNull())
    counts = seq.groupBy("prev", F.col("event_type").alias("next")).agg(
        F.count(F.lit(1)).alias("n")
    )
    wp = Window.partitionBy("prev")
    return counts.select(
        "prev",
        "next",
        "n",
        F.round(F.col("n").cast("double") / F.sum("n").over(wp), 6).alias("p"),
    )


@query(
    "orders_rfm_segments",
    oracle=f"""
    WITH rfm AS (
        SELECT o_custkey,
               date_diff('day', max(o_orderdate), TIMESTAMP '2001-12-31')
                   AS recency,
               count(*) AS freq,
               sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS monetary_c
        FROM orders GROUP BY o_custkey
    ),
    cuts AS (
        SELECT quantile_cont(recency, 0.25) AS r1,
               quantile_cont(recency, 0.50) AS r2,
               quantile_cont(recency, 0.75) AS r3,
               quantile_cont(freq, 0.25) AS f1,
               quantile_cont(freq, 0.50) AS f2,
               quantile_cont(freq, 0.75) AS f3,
               quantile_cont(monetary_c, 0.25) AS m1,
               quantile_cont(monetary_c, 0.50) AS m2,
               quantile_cont(monetary_c, 0.75) AS m3
        FROM rfm
    ),
    scored AS (
        SELECT 1 + CAST(recency > r1 AS INT) + CAST(recency > r2 AS INT)
                 + CAST(recency > r3 AS INT) AS r,
               1 + CAST(freq > f1 AS INT) + CAST(freq > f2 AS INT)
                 + CAST(freq > f3 AS INT) AS f,
               1 + CAST(monetary_c > m1 AS INT) + CAST(monetary_c > m2 AS INT)
                 + CAST(monetary_c > m3 AS INT) AS m,
               monetary_c
        FROM rfm CROSS JOIN cuts
    )
    SELECT r, f, m,
           count(*) AS n_customers,
           CAST({money.div_half_up_sql("sum(monetary_c) * 100", "count(*)")}
                AS DOUBLE) / 10000.0 AS avg_monetary
    FROM scored GROUP BY r, f, m
    """,
)
def orders_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: quartile-cutpoint scores on recency /
    frequency / monetary, segment census out.

    The classic CRM composite, built WITHOUT a global ntile window
    (which would serialize all customers through one partition —
    banned by the plan-shape guard): one fact-sized aggregation
    collapses orders to one row per customer, a one-row exact-
    percentile aggregate yields the nine quartile cutpoints, and
    bucket assignment is a broadcast of that row + pure codegen
    comparisons. At 100 TB the only change is `approx_percentile`
    for the cutpoint row — the topology already IS the scale shape
    (same gate pattern as `clean_outlier_iqr`). Value-based buckets
    mean ties share a bucket (unlike ntile's arbitrary equal-count
    splits), which is also the statistically honest choice.
    """
    o = load_table(spark, sf_dir, "orders")
    anchor = F.lit("2001-12-31").cast("timestamp")
    rfm = o.groupBy("o_custkey").agg(
        F.datediff(anchor, F.max("o_orderdate")).alias("recency"),
        F.count(F.lit(1)).alias("freq"),
        # exact cents (money-grid discipline): the float money sum
        # this replaced could flip its last cent with partition order
        # and drag every downstream cutpoint with it
        F.sum(money.cents(F.col("o_totalprice"))).alias("monetary_c"),
    )
    cuts = rfm.agg(
        *[
            F.percentile(c, q).alias(f"{c[0]}{i}")
            for c in ("recency", "freq", "monetary_c")
            for i, q in ((1, 0.25), (2, 0.50), (3, 0.75))
        ]
    )

    def bucket(c: str) -> Column:
        return (
            F.lit(1)
            + (F.col(c) > F.col(f"{c[0]}1")).cast("int")
            + (F.col(c) > F.col(f"{c[0]}2")).cast("int")
            + (F.col(c) > F.col(f"{c[0]}3")).cast("int")
        )

    scored = rfm.crossJoin(F.broadcast(cuts)).select(
        bucket("recency").alias("r"),
        bucket("freq").alias("f"),
        bucket("monetary_c").alias("m"),
        "monetary_c",
    )
    seg = scored.groupBy("r", "f", "m").agg(
        F.count(F.lit(1)).alias("n_customers"),
        money.sum_exact(F.col("monetary_c")).alias("sum_c"),
    )
    # round(avg_dollars, 4) on the exact grid: half-up((cents*100)/n)
    # in 1e-4-dollar units, the column-denominator div_half_up form
    return seg.select(
        "r",
        "f",
        "m",
        "n_customers",
        (
            money.div_half_up(
                F.col("sum_c") * 100, F.col("n_customers")
            ).cast("double")
            / F.lit(10000.0)
        ).alias("avg_monetary"),
    )


@query(
    "events_dau_stickiness",
    oracle="""
    WITH dau AS (
        SELECT event_type, date_trunc('day', ts) AS d,
               count(DISTINCT user_id) AS dau
        FROM events GROUP BY event_type, d
    ),
    wau AS (
        SELECT event_type, date_trunc('week', ts) AS w,
               count(DISTINCT user_id) AS wau
        FROM events GROUP BY event_type, w
    ),
    a AS (SELECT event_type, avg(dau) AS avg_dau FROM dau GROUP BY event_type),
    b AS (SELECT event_type, avg(wau) AS avg_wau FROM wau GROUP BY event_type)
    SELECT event_type,
           round(avg_dau, 4) AS avg_dau,
           round(avg_wau, 4) AS avg_wau,
           round(avg_dau / avg_wau, 6) AS stickiness
    FROM a JOIN b USING (event_type)
    """,
)
def events_dau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engagement stickiness: avg DAU / avg WAU per event type.

    The product-analytics ratio (daily-to-weekly active users; both
    engines truncate weeks to ISO Monday). Two independent exact
    distinct-count rollups — each a two-phase (type, bucket,
    user_id) dedup then count — collapsed to per-type averages and
    joined broadcast-small. `agg_approx_distinct` is the declared
    HLL twin when exact per-bucket distincts stop fitting.
    """
    e = load_table(spark, sf_dir, "events")
    dau = e.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("d")
    ).agg(F.countDistinct("user_id").alias("dau"))
    wau = e.groupBy(
        "event_type", F.date_trunc("week", "ts").alias("w")
    ).agg(F.countDistinct("user_id").alias("wau"))
    a = dau.groupBy("event_type").agg(F.avg("dau").alias("avg_dau"))
    b = wau.groupBy("event_type").agg(F.avg("wau").alias("avg_wau"))
    return a.join(b, "event_type").select(
        "event_type",
        F.round("avg_dau", 4).alias("avg_dau"),
        F.round("avg_wau", 4).alias("avg_wau"),
        F.round(F.col("avg_dau") / F.col("avg_wau"), 6).alias("stickiness"),
    )


@query(
    "orders_abc_by_segment",
    oracle="""
    WITH spend AS (
        SELECT c_mktsegment AS seg, o_custkey AS c,
               sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS rev_c
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY seg, c
    ),
    cum AS (
        SELECT seg, rev_c,
               sum(rev_c) OVER (
                   PARTITION BY seg ORDER BY rev_c DESC, c
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS cum_c,
               sum(rev_c) OVER (PARTITION BY seg) AS tot_c
        FROM spend
    ),
    classed AS (
        -- exact integer class boundaries (money-grid discipline):
        -- share <= 0.5 is 2*cum <= tot, share <= 0.8 is 5*cum <= 4*tot
        SELECT seg, rev_c, tot_c,
               CASE WHEN 2 * cum_c <= tot_c THEN 'A'
                    WHEN 5 * cum_c <= 4 * tot_c THEN 'B'
                    ELSE 'C' END AS cls
        FROM cum
    )
    SELECT seg, cls,
           count(*) AS n_customers,
           CAST(sum(rev_c) AS DOUBLE) / 100.0 AS class_rev,
           round(CAST(sum(rev_c) AS DOUBLE) / CAST(max(tot_c) AS DOUBLE), 6)
               AS rev_share
    FROM classed GROUP BY seg, cls
    """,
)
def orders_abc_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC / Pareto classification of customers within each segment.

    Cumulative-revenue-share classes (A: first 50% of segment
    revenue, B: next 30%, C: tail) via a running sum over the
    per-customer aggregate — windows are PARTITIONED by segment
    (the plan guard bans the global form). Determinism (money-grid
    discipline): per-customer revenue is an exact integer cents sum,
    the running/total window sums are exact decimals over the total
    (rev_c DESC, custkey) order, and the 50%/80% class boundaries are
    integer cross-multiplications — no float ever decides a class.
    The window input is one row per customer, not the fact table.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    spend = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("seg"), F.col("o_custkey").alias("c"))
        .agg(F.sum(money.cents(F.col("o_totalprice"))).alias("rev_c"))
    )
    wc = (
        Window.partitionBy("seg")
        .orderBy(F.desc("rev_c"), F.asc("c"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wt = Window.partitionBy("seg")
    dec = F.col("rev_c").cast(money.MONEY_DEC)
    classed = spend.select(
        "seg",
        "rev_c",
        F.sum(dec).over(wc).alias("cum_c"),
        F.sum(dec).over(wt).alias("tot_c"),
    ).withColumn(
        "cls",
        # exact integer class boundaries: share <= 0.5 is
        # 2*cum <= tot; share <= 0.8 is 5*cum <= 4*tot — no float
        # ratio anywhere near a class boundary
        F.when(2 * F.col("cum_c") <= F.col("tot_c"), "A")
        .when(5 * F.col("cum_c") <= 4 * F.col("tot_c"), "B")
        .otherwise("C"),
    )
    return classed.groupBy("seg", "cls").agg(
        F.count(F.lit(1)).alias("n_customers"),
        (money.sum_exact(F.col("rev_c")).cast("double") / 100.0).alias(
            "class_rev"
        ),
        F.round(
            money.sum_exact(F.col("rev_c")).cast("double")
            / F.max("tot_c").cast("double"),
            6,
        ).alias("rev_share"),
    )


@query(
    "events_moving_avg_7d",
    oracle="""
    WITH bounds AS (
        SELECT min(CAST(ts AS DATE)) AS lo, max(CAST(ts AS DATE)) AS hi
        FROM events
    ),
    spine AS (
        SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE)
               AS day
        FROM bounds
    ),
    types AS (SELECT DISTINCT event_type FROM events),
    daily AS (
        SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS n
        FROM events GROUP BY 1, 2
    ),
    dense AS (
        SELECT s.day, t.event_type, coalesce(d.n, 0) AS n
        FROM spine s
        CROSS JOIN types t
        LEFT JOIN daily d ON d.day = s.day AND d.event_type = t.event_type
    )
    SELECT day, event_type, n,
           round(avg(n) OVER (
               PARTITION BY event_type ORDER BY day
               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW
           ), 4) AS ma7
    FROM dense
    """,
)
def events_moving_avg_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day moving average of daily event volume, gap-filled first.

    The composite `timeseries_gap_fill` exists FOR: a rows-frame
    moving average over sparse days silently spans gaps, so the day
    spine densifies (missing buckets = 0) before the window runs.
    The window input is days x types rows, partitioned by type —
    the fact table is touched once, in the daily pre-aggregation.
    """
    ev = load_table(spark, sf_dir, "events")
    day = F.to_date(F.col("ts"))
    bounds = ev.agg(F.min(day).alias("lo"), F.max(day).alias("hi"))
    spine = bounds.select(
        F.explode(F.sequence(F.col("lo"), F.col("hi"))).alias("day")
    )
    types = ev.select("event_type").distinct()
    daily = ev.groupBy(day.alias("day"), "event_type").agg(
        F.count(F.lit(1)).alias("n0")
    )
    dense = (
        spine.crossJoin(types)
        .join(daily, ["day", "event_type"], "left")
        .select("day", "event_type", F.coalesce("n0", F.lit(0)).alias("n"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-6, Window.currentRow)
    )
    return dense.select(
        "day", "event_type", "n", F.round(F.avg("n").over(w), 4).alias("ma7")
    )


@query(
    "tpch_q4_late_order_priority",
    oracle="""
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1996-04-01'
      AND EXISTS (
          SELECT 1 FROM lineitem l
          WHERE l.l_orderkey = o.o_orderkey
            AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      )
    GROUP BY o_orderpriority
    """,
)
def tpch_q4_late_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (order-priority checking), adapted to this
    schema: orders placed in 1996Q1 with at least one line item
    shipped more than 60 days after the order date, counted per
    priority (the fixture lineitem carries no commit/receipt dates,
    so lateness is ship-vs-order-date).

    The EXISTS compiles to a LEFT SEMI join keyed on the order key
    after the quarter filter prunes the probe side — the smallest
    correct topology: lineitem is never aggregated, just
    semi-probed, and the date predicate on orders reaches the scan.
    """
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    o_q = o.where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    # The lateness predicate correlates both tables (it needs
    # o_orderdate), so the EXISTS is a semi join on the full
    # condition rather than the key alone.
    cond = (o_q.o_orderkey == li.l_orderkey) & (
        li.l_shipdate > o_q.o_orderdate + F.expr("INTERVAL 60 DAYS")
    )
    return (
        o_q.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@query(
    "tpch_q21_sole_late_supplier",
    oracle="""
    WITH late AS (
        SELECT l.l_orderkey, l.l_suppkey
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE o.o_orderstatus = 'F'
          AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
    )
    SELECT s.s_name, count(*) AS numwait
    FROM late l1
    JOIN supplier s ON s.s_suppkey = l1.l_suppkey
    WHERE EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey
          AND l2.l_suppkey <> l1.l_suppkey
    )
    AND NOT EXISTS (
        SELECT 1 FROM late l3
        WHERE l3.l_orderkey = l1.l_orderkey
          AND l3.l_suppkey <> l1.l_suppkey
    )
    GROUP BY s.s_name
    ORDER BY numwait DESC, s.s_name
    LIMIT 10
    """,
)
def tpch_q21_sole_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (suppliers who kept orders waiting): for
    finished orders, the suppliers whose line items were late while
    EVERY other supplier on the same order shipped on time — the
    exists + not-exists double-correlation pattern, adapted to
    ship-vs-order-date lateness.

    Topology: one `late` frame reused on both sides of the
    correlation; EXISTS = LEFT SEMI against other-supplier lines,
    NOT EXISTS = LEFT ANTI against other-supplier late lines — both
    keyed on the order key (one exchange each, AQE-skew tolerant),
    then the supplier-name join (unhinted: supplier grows with sf,
    so the broadcast decision belongs to the threshold/AQE, per the
    repo's fixed-size-only hint rule) and a TakeOrdered top-10.
    """
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    late = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .where(
            (F.col("o_orderstatus") == "F")
            & (
                F.col("l_shipdate")
                > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
            )
        )
        .select("l_orderkey", "l_suppkey")
    )
    l2 = li.select(
        F.col("l_orderkey").alias("k2"), F.col("l_suppkey").alias("s2")
    )
    l3 = late.select(
        F.col("l_orderkey").alias("k3"), F.col("l_suppkey").alias("s3")
    )
    qualified = (
        late.join(
            l2,
            (late.l_orderkey == l2.k2) & (late.l_suppkey != l2.s2),
            "left_semi",
        )
        .join(
            l3,
            (F.col("l_orderkey") == l3.k3) & (F.col("l_suppkey") != l3.s3),
            "left_anti",
        )
    )
    return (
        qualified.join(s, qualified.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(10)
    )


@query(
    "tpch_q22_idle_customers",
    oracle="""
    WITH cutoff AS (
        SELECT sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS bal_c,
               count(*) AS n_pos
        FROM customer WHERE c_acctbal > 0
    )
    SELECT c.c_nationkey,
           count(*) AS numcust,
           CAST(sum(CAST(round(c.c_acctbal * 100) AS BIGINT)) AS DOUBLE)
               / 100.0 AS totacctbal
    FROM customer c CROSS JOIN cutoff
    WHERE CAST(round(c.c_acctbal * 100) AS BIGINT) * cutoff.n_pos
              > cutoff.bal_c
      AND NOT EXISTS (
          SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
      )
    GROUP BY c.c_nationkey
    """,
)
def tpch_q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (global sales opportunity): customers with
    above-average positive balances who have never ordered, rolled
    up per nation (the fixture has no phone column, so the Q22
    country-code grouping becomes the nation key).

    The scalar subquery is a one-row aggregate broadcast back (never
    a shuffle); the NOT EXISTS is a LEFT ANTI join keyed on the
    customer key. Two exchanges total: the anti join and the final
    nation rollup.

    §MONEY r8: the above-average predicate is a comparison against a
    float-aggregate-derived value — the fragile class at any grid —
    so it runs as the exact integer cross-multiplication
    ``cents(bal) * n_pos > sum_cents`` (the q11 cutoff shape), and
    the per-nation balance total sums exact integer cents.
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    cutoff = c.where(F.col("c_acctbal") > 0).agg(
        money.sum_exact(money.cents(F.col("c_acctbal"))).alias("bal_c"),
        F.count(F.lit(1)).alias("n_pos"),
    )
    return (
        c.crossJoin(F.broadcast(cutoff))
        .where(
            money.cents(F.col("c_acctbal")).cast("decimal(38,0)")
            * F.col("n_pos")
            > F.col("bal_c")
        )
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            (
                money.sum_exact(money.cents(F.col("c_acctbal")))
                .cast("double") / 100.0
            ).alias("totacctbal"),
        )
    )


@query(
    "orders_market_basket",
    oracle="""
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
           count(DISTINCT a.l_orderkey) AS support
    FROM lineitem a
    JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2
    HAVING count(DISTINCT a.l_orderkey) >= 2
    ORDER BY support DESC, part_a, part_b
    LIMIT 20
    """,
)
def orders_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket pair mining (2-itemsets): part pairs co-ordered
    in at least 2 distinct orders, top-20 by support — the k=2 core
    of frequent-itemset mining as a plain relational plan.

    The pair join is keyed on the ORDER key, so its fan-out is
    bounded by lines-per-order squared (≈ 4² here, never corpus²) —
    the canonical safe shape for co-occurrence mining at any scale:
    one orderkey-keyed shuffle, a (part, part)-keyed distinct-count
    aggregate, and a TakeOrdered top-k with full tiebreak.
    """
    li = load_table(spark, sf_dir, "lineitem")
    a = li.select(
        F.col("l_orderkey").alias("okey"), F.col("l_partkey").alias("part_a")
    )
    b = li.select(
        F.col("l_orderkey").alias("okey"), F.col("l_partkey").alias("part_b")
    )
    return (
        a.join(b, "okey")
        .where(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count_distinct(F.col("okey")).alias("support"))
        .where(F.col("support") >= 2)
        .orderBy(F.col("support").desc(), "part_a", "part_b")
        .limit(20)
    )


@query(
    "events_decayed_user_value",
    oracle="""
    WITH ref AS (SELECT max(ts) AS ref_ts FROM events)
    SELECT user_id,
           count(*) AS n_events,
           -- floor-quantize-then-sum: per-row decayed value floored to
           -- the 1e-8 grid, so the per-user sum is exact in any order.
           -- exp() is not correctly rounded (JVM vs libm may differ by
           -- 1 ulp), so the grids CAN disagree on a floored integer; the
           -- defense is the two decimal orders of slack between the 1e-8
           -- quantization grid and the 6-dp display round (ADVICE r6)
           round(CAST(sum(CAST(floor(value
                     * exp(-0.05 * (epoch(ref_ts) - epoch(ts)) / 86400.0)
                     * 100000000) AS BIGINT)) AS DOUBLE) / 100000000.0, 6)
               AS decayed_value
    FROM events CROSS JOIN ref
    GROUP BY user_id
    ORDER BY decayed_value DESC, user_id
    LIMIT 20
    """,
)
def events_decayed_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially time-decayed user value (half-life ≈ 14 days at
    λ = 0.05/day): recent activity counts more, the standard
    recency-weighted LTV / engagement score — and unlike a hard
    window cutoff, the decay is algebraic, so the per-user sum is
    map-side combinable like any other sum.

    The reference timestamp is a one-row global max broadcast back
    (never a shuffle); the decay factor is pure codegen arithmetic
    on the scan; one user-keyed aggregate and a TakeOrdered top-20
    with a deterministic tiebreak complete the plan.  Ages use
    FRACTIONAL epoch seconds (timestamp → double) because DuckDB's
    ``epoch()`` keeps microseconds — a whole-second truncation here
    shifts the decay factor by up to λ/86400 per event, which is
    visible after rounding (measured: 2210.765 vs 2210.767).

    Physical layout (r13, VERDICT r12 #1): events/customer load via
    the write-once bucketed layout (``tables.load_skew_table``: 50→18
    exchanges across the 8 skew-family keys at sf0.1, rows equal;
    receipts tools/receipts/bucketed_skew_ab_r12.txt and
    bucketed_skew_declared_r13.txt). Semantics are flat-table
    truth either way — the oracle never sees the layout.
    """
    ev = load_skew_table(spark, sf_dir, "events")
    ref = ev.agg(F.max("ts").alias("ref_ts"))
    frac_secs = lambda c: c.cast("timestamp_ltz").cast("double")
    age_days = (
        frac_secs(F.col("ref_ts")) - frac_secs(F.col("ts"))
    ) / 86400.0
    return (
        ev.crossJoin(F.broadcast(ref))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # floor-quantize-then-sum (money-grid discipline): floor to
            # the 1e-8 grid per row, exact integer sum in any order.
            # exp() is only faithfully (not correctly) rounded, so a
            # 1-ulp JVM/libm divergence can flip a floored integer;
            # the 1e-8-grid -> 6-dp-display slack absorbs it
            F.round(
                money.sum_exact(
                    F.floor(
                        F.col("value") * F.exp(-0.05 * age_days) * 1e8
                    )
                ).cast("double")
                / 1e8,
                6,
            ).alias("decayed_value"),
        )
        .orderBy(F.col("decayed_value").desc(), "user_id")
        .limit(20)
    )


@query(
    "tpch_q2_min_cost_supplier",
    oracle="""
    WITH supply AS (
        SELECT l_partkey, l_suppkey,
               min(l_extendedprice / l_quantity) AS unit_cost
        FROM lineitem GROUP BY l_partkey, l_suppkey
    ),
    eur AS (
        SELECT s_suppkey, s_name, s_acctbal, n_name
        FROM supplier
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'EUROPE'
    ),
    ranked AS (
        SELECT l_partkey, unit_cost, s_suppkey, s_name, s_acctbal, n_name,
               row_number() OVER (
                   PARTITION BY l_partkey
                   ORDER BY unit_cost, s_suppkey
               ) AS rk
        FROM supply JOIN eur ON l_suppkey = s_suppkey
    )
    SELECT p_partkey, p_brand,
           round(unit_cost, 6) AS min_unit_cost,
           s_suppkey, s_name,
           round(s_acctbal, 2) AS s_acctbal,
           n_name
    FROM ranked
    JOIN part ON l_partkey = p_partkey
    WHERE rk = 1 AND p_size IN (15, 25, 35)
    ORDER BY s_acctbal DESC, p_partkey
    LIMIT 100
    """,
)
def tpch_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape adapted to the fixture schema (no partsupp
    table — lineitem serves as the observed part×supplier supply
    matrix): for each part in the size classes {15, 25, 35}, the
    EUROPE supplier offering the minimum observed unit price, ranked
    by supplier account balance.

    Shape notes: the supply matrix is one (part, supp)-keyed
    aggregation of the fact table; the region-filtered supplier dim
    chain broadcasts (fixed-size nation/region, sf-proportional
    supplier joins by key); the per-part argmin is a window
    partitioned by part with a total (unit_cost, s_suppkey) order —
    replacing Q2's correlated MIN subquery with a rank instead of an
    aggregate-then-rejoin on a floating-point equality; and the final
    top-100 is a distributed TakeOrdered under the total
    (s_acctbal DESC, p_partkey) order.
    """
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    p = load_table(spark, sf_dir, "part")
    supply = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost")
    )
    eur = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r.where(F.col("r_name") == "EUROPE")),
              F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    w = Window.partitionBy("l_partkey").orderBy("unit_cost", "s_suppkey")
    best = (
        supply.join(eur, supply.l_suppkey == eur.s_suppkey)
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
    )
    return (
        best.join(p, best.l_partkey == p.p_partkey)
        .where(F.col("p_size").isin(15, 25, 35))
        .select(
            "p_partkey",
            "p_brand",
            F.round("unit_cost", 6).alias("min_unit_cost"),
            "s_suppkey",
            "s_name",
            F.round("s_acctbal", 2).alias("s_acctbal"),
            "n_name",
        )
        .orderBy(F.col("s_acctbal").desc(), "p_partkey")
        .limit(100)
    )


@query(
    "supplier_return_rate_topk",
    oracle="""
    WITH per_supp AS (
        SELECT l_suppkey,
               count(*) AS n_lines,
               count(*) FILTER (WHERE l_returnflag = 'R') AS n_returned
        FROM lineitem GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, n_name, n_lines, n_returned,
           round(CAST(n_returned AS DOUBLE) / n_lines, 6) AS return_rate
    FROM per_supp
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE n_lines >= 20
    ORDER BY return_rate DESC, s_suppkey
    LIMIT 20
    """,
)
def supplier_return_rate_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier reliability screen: the 20 suppliers with the highest
    lineitem return rate (flag 'R'), floored at 20 shipped lines so
    small-sample rates can't top the list — the procurement QA
    composite (who to audit first).

    One supplier-keyed aggregation of the fact table (count +
    conditional count, both map-side combinable), a key join against
    the sf-proportional supplier dim, a fixed-size nation broadcast,
    and a distributed TakeOrdered under the total
    (return_rate DESC, s_suppkey) order — rates derive from exact
    integer counts through one double division, so the rounded
    ranking is engine-stable.
    """
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    per_supp = li.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.count(F.when(F.col("l_returnflag") == "R", 1)).alias("n_returned"),
    )
    return (
        per_supp.where(F.col("n_lines") >= 20)
        .join(s, per_supp.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select(
            "s_suppkey",
            "s_name",
            "n_name",
            "n_lines",
            "n_returned",
            F.round(
                F.col("n_returned").cast("double") / F.col("n_lines"), 6
            ).alias("return_rate"),
        )
        .orderBy(F.col("return_rate").desc(), "s_suppkey")
        .limit(20)
    )


@query(
    "events_inter_arrival_stats",
    oracle="""
    WITH seq AS (
        SELECT event_type,
               epoch_us(ts) - lag(epoch_us(ts)) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS gap_us
        FROM events
    )
    SELECT event_type,
           count(gap_us) AS n_gaps,
           round(avg(gap_us) / 1e6, 6) AS avg_gap_s,
           round(quantile_cont(gap_us, 0.5) / 1e6, 6) AS p50_gap_s,
           round(quantile_cont(gap_us, 0.9) / 1e6, 6) AS p90_gap_s,
           round(max(gap_us) / 1e6, 6) AS max_gap_s
    FROM seq WHERE gap_us IS NOT NULL
    GROUP BY event_type
    """,
)
def events_inter_arrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival profile: the gap from each user's previous event
    (any type), attributed to the current event's type — avg / exact
    p50 / p90 / max seconds per type, the pacing table behind
    session-gap and rate-limit threshold choices
    (``sessionize_gap_batch``'s 30-min cutoff comes from curves like
    this one).

    Gaps are computed in exact integer MICROSECONDS (Spark
    ``unix_micros`` ≡ DuckDB ``epoch_us`` — fractional-seconds
    truncation is the §5.3 hazard this sidesteps) over one user_id
    partitioning with a (ts, event_id) total order, then rolled up
    per type with exact interpolated percentiles — at scale the
    percentile swaps for the mergeable ``approx_percentile`` sketch
    with every other stage unchanged (the `events_anomaly_mad`
    convention).  Each user's first event contributes no gap on
    either engine.

    Physical layout (r13, VERDICT r12 #1): events/customer load via
    the write-once bucketed layout (``tables.load_skew_table``: 50→18
    exchanges across the 8 skew-family keys at sf0.1, rows equal;
    receipts tools/receipts/bucketed_skew_ab_r12.txt and
    bucketed_skew_declared_r13.txt). Semantics are flat-table
    truth either way — the oracle never sees the layout.
    """
    ev = load_skew_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts").cast("timestamp_ltz"))
    seq = ev.select(
        "event_type", (us - F.lag(us).over(w)).alias("gap_us")
    ).where(F.col("gap_us").isNotNull())
    return seq.groupBy("event_type").agg(
        F.count("gap_us").alias("n_gaps"),
        F.round(F.avg("gap_us") / 1e6, 6).alias("avg_gap_s"),
        F.round(F.expr("percentile(gap_us, 0.5)") / 1e6, 6).alias("p50_gap_s"),
        F.round(F.expr("percentile(gap_us, 0.9)") / 1e6, 6).alias("p90_gap_s"),
        F.round(F.max("gap_us") / 1e6, 6).alias("max_gap_s"),
    )


@query(
    "orders_open_backlog_by_month",
    oracle="""
    WITH closes AS (
        SELECT l_orderkey, max(l_shipdate) AS close
        FROM lineitem GROUP BY l_orderkey
    ),
    o AS (
        SELECT o_orderkey, o_orderdate, close
        FROM orders LEFT JOIN closes ON o_orderkey = l_orderkey
    ),
    bounds AS (
        SELECT CAST(date_trunc('month', min(o_orderdate)) AS TIMESTAMP)
                   + INTERVAL 1 MONTH AS lo,
               CAST(date_trunc('month', max(coalesce(close, o_orderdate)))
                   AS TIMESTAMP) + INTERVAL 1 MONTH AS hi
        FROM o
    ),
    spine AS (
        SELECT unnest(generate_series(lo, hi, INTERVAL 1 MONTH)) AS m
        FROM bounds
    )
    SELECT s.m AS month_start,
           count(CASE WHEN o.o_orderdate < s.m
                       AND (o.close IS NULL OR o.close >= s.m)
                      THEN 1 END) AS n_open
    FROM spine s CROSS JOIN o
    GROUP BY s.m
    """,
)
def orders_open_backlog_by_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order backlog at every month boundary: an order is open
    from its placement until its last lineitem ships (never-shipped
    orders stay open) — the classic interval-stabbing census behind
    WIP/backlog charts.

    The oracle states the naive spine × interval form — O(months ×
    orders), fine for a serial engine, catastrophic at 100 TB. The
    declared plan is the BOUNDARY-DELTA rewrite: each order emits a
    +1 at the first month boundary after placement and a −1 at the
    first boundary after close (none if never shipped), deltas
    pre-aggregate per month (map-side combinable, months-sized
    output), and the backlog is the running sum of deltas over the
    months spine — computed by a triangular join of two months-sized
    broadcast frames, so the fact table is touched exactly twice
    (close lookup + delta emit) regardless of how many boundaries
    the spine has, and nothing ever pairs orders with months.
    """
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    closes = li.groupBy(F.col("l_orderkey").alias("o_orderkey")).agg(
        F.max("l_shipdate").alias("close")
    )
    od = o.select("o_orderkey", "o_orderdate").join(closes, "o_orderkey", "left")
    month_after = lambda c: F.date_trunc("month", c) + F.expr("INTERVAL 1 MONTH")
    adds = od.select(month_after(F.col("o_orderdate")).alias("mon")).groupBy(
        "mon"
    ).agg(F.count(F.lit(1)).alias("delta"))
    # Drop boundary clamped to the add boundary: the fixture's random
    # dates include closes BEFORE the order date (empty open interval
    # under the spec), and an unclamped -1 would go negative for the
    # months between the two boundaries.
    drops = (
        od.where(F.col("close").isNotNull())
        .select(
            F.greatest(
                month_after(F.col("close")),
                month_after(F.col("o_orderdate")),
            ).alias("mon")
        )
        .groupBy("mon")
        .agg((-F.count(F.lit(1))).alias("delta"))
    )
    deltas = adds.unionByName(drops)
    bounds = od.agg(
        month_after(F.min("o_orderdate")).alias("lo"),
        month_after(F.max(F.coalesce("close", "o_orderdate"))).alias("hi"),
    )
    spine = bounds.select(
        F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 1 MONTH"))
        ).alias("month_start")
    )
    return (
        spine.join(
            F.broadcast(deltas), F.col("mon") <= F.col("month_start"), "left"
        )
        .groupBy("month_start")
        .agg(F.coalesce(F.sum("delta"), F.lit(0)).alias("n_open"))
    )


@query(
    "events_time_heatmap",
    oracle="""
    WITH cells AS (
        SELECT isodow(ts) - 1 AS weekday, hour(ts) AS hod,
               count(*) AS n_events
        FROM events GROUP BY 1, 2
    ),
    tot AS (SELECT CAST(sum(n_events) AS BIGINT) AS n_total FROM cells)
    SELECT weekday, hod, n_events,
           round(CAST(n_events AS DOUBLE) / n_total, 6) AS share
    FROM cells CROSS JOIN tot
    """,
)
def events_time_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Activity heatmap: event volume per (ISO weekday, hour-of-day)
    cell with corpus share — the seasonality table capacity planning
    and anomaly baselines read (a Monday-9am cell and a Sunday-3am
    cell need different alert thresholds).

    One map-side-combinable aggregate to a ≤ 7×24-cell frame, then a
    1-row total broadcast — a single fact pass at any scale.  Weekday
    numbering is pinned Monday=0 via Spark ``weekday`` ≡ DuckDB
    ``isodow − 1`` (the engines' default DAYOFWEEK numberings
    disagree — Sunday=1 vs Sunday=0 — a §5.3-class hazard); both
    cell keys are cast to BIGINT so no int-width representation
    drift reaches the hash.
    """
    ev = load_table(spark, sf_dir, "events")
    cells = ev.groupBy(
        F.weekday("ts").cast("long").alias("weekday"),
        F.hour("ts").cast("long").alias("hod"),
    ).agg(F.count(F.lit(1)).alias("n_events"))
    tot = cells.agg(F.sum("n_events").alias("n_total"))
    return cells.crossJoin(F.broadcast(tot)).select(
        "weekday",
        "hod",
        "n_events",
        F.round(
            F.col("n_events").cast("double") / F.col("n_total"), 6
        ).alias("share"),
    )
