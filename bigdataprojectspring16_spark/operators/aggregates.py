"""Category D — aggregation (SURVEY §2.D).

Every grouped aggregate here compiles to Spark's two-phase hash
aggregation (partial map-side combine → shuffle on the group keys →
final): at 100 TB the shuffle carries only one row per (partition ×
group), not the input. Money sums are rounded to 2 and averages to 6
decimals identically in query and oracle (doubles, not decimals —
SURVEY §5.3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import money
from ..registry import query
from ..tables import load_table


@query(
    "agg_pricing_summary",
    oracle=f"""
    SELECT
        l_returnflag,
        l_linestatus,
        CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS DOUBLE) AS sum_qty,
        CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE)
            / 100.0 AS sum_base_price,
        {money.money2_sql(f"sum({money.REV_E4_SQL})")} AS sum_disc_price,
        CAST({money.div_half_up_sql(
            f"sum({money.REV_E4_SQL}"
            " * (100 + CAST(round(l_tax * 100) AS BIGINT)))",
            10000,
        )} AS DOUBLE) / 100.0 AS sum_charge,
        round(CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS DOUBLE)
              / count(*), 6) AS avg_qty,
        round(CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                   AS DOUBLE) / 100.0 / count(*), 6) AS avg_price,
        round(CAST(sum(CAST(round(l_discount * 100) AS BIGINT)) AS DOUBLE)
              / 100.0 / count(*), 6) AS avg_disc,
        count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def agg_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship — TPC-H Q1 shape: filtered scan → 8-way grouped agg.

    Money-grid discipline at LONG-SUM SPEED (functions/money.py):
    disc_price is a 4-dp quantity and charge a 6-dp one, so rounding
    a FLOAT sum of them to 2 dp sits on half-cent boundaries (the
    q10 class). A flat decimal(38,0) sum is exact but ~3x slower on
    the fact-sized aggregate (measured: tools/receipts/money_ab_r06.txt, 0.47s ->
    1.38s at sf0.1), so Q1 uses the HIERARCHICAL exact sum: level 1
    aggregates per (group, partition id) in plain BIGINT — exact
    because one task's rows are input-size-bounded — and the partial
    combine is local, so the shuffle carries only |groups| x
    |partitions| partial rows; level 2 merges those partials in
    decimal(38,0), where overflow is impossible at any corpus size.

    Level-1 headroom (ADVICE r6): the bound must hold PER UNIT GRID.
    Every level-1 partial here is e4 or coarser (a 1 GB split cannot
    sum e4 units past ~1e16, 900x under the int64 ceiling) — charge,
    the one e6-grid quantity (only ~10-30x headroom per split, and a
    raised maxPartitionBytes would erode it), is NOT summed at e6:
    since charge_e6 = disc_e4 * (100 + tax_pct) = 100 * disc_e4 +
    disc_e4 * tax_pct, level 1 sums the e4-grid ``disc_e4 * tax_pct``
    term (per-row at most 8% of disc_e4) and level 2 recombines
    100 * disc_t + disctax_t in decimal — exact by distributivity.
    Exactness AND speed; the oracle states the single-level HUGEINT
    e6 form, equal by associativity + distributivity of integer
    arithmetic.
    """
    li = load_table(spark, sf_dir, "lineitem")
    disc_e4 = money.rev_e4()
    disctax_e4 = disc_e4 * money.pct(F.col("l_tax"))
    qty = F.round(F.col("l_quantity"), 0).cast("long")
    partials = (
        li.where(F.col("l_shipdate") <= F.lit("2000-09-02").cast("timestamp"))
        .groupBy(
            "l_returnflag",
            "l_linestatus",
            F.spark_partition_id().alias("_p"),
        )
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum(qty).alias("_qty"),
            F.sum(money.cents(F.col("l_extendedprice"))).alias("_base_c"),
            F.sum(disc_e4).alias("_disc_e4"),
            F.sum(disctax_e4).alias("_disctax_e4"),
            F.sum(money.pct(F.col("l_discount"))).alias("_pct"),
        )
    )
    n = F.sum("_n")
    qty_t = money.sum_exact(F.col("_qty"))
    base_t = money.sum_exact(F.col("_base_c"))
    disc_t = money.sum_exact(F.col("_disc_e4"))
    charge_t = 100 * disc_t + money.sum_exact(F.col("_disctax_e4"))
    pct_t = money.sum_exact(F.col("_pct"))
    return partials.groupBy("l_returnflag", "l_linestatus").agg(
        qty_t.cast("double").alias("sum_qty"),
        (base_t.cast("double") / 100.0).alias("sum_base_price"),
        money.money2(disc_t).alias("sum_disc_price"),
        (money.div_half_up(charge_t, 10000).cast("double") / 100.0).alias(
            "sum_charge"
        ),
        F.round(qty_t.cast("double") / n, 6).alias("avg_qty"),
        F.round(base_t.cast("double") / 100.0 / n, 6).alias("avg_price"),
        F.round(pct_t.cast("double") / 100.0 / n, 6).alias("avg_disc"),
        n.alias("count_order"),
    )


@query(
    "agg_global",
    oracle="""
    SELECT
        count(*) AS n_rows,
        CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE)
            / 100.0 AS sum_price,
        round(CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                   AS DOUBLE) / 100.0 / count(*), 6) AS avg_price,
        round(min(l_extendedprice), 2) AS min_price,
        round(max(l_extendedprice), 2) AS max_price,
        round(stddev_samp(l_extendedprice), 4) AS std_price,
        CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS DOUBLE) AS sum_qty
    FROM lineitem
    """,
)
def agg_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ungrouped count/sum/avg/min/max/stddev over lineitem.

    sum/avg of the price run on the exact cent grid: a GLOBAL money
    sum is the largest group there is — the same shape the §SF1
    decade flipped in agg_rollup's grand-total row — so it gets the
    exact integer sum rather than the grid rule (which only holds
    while n·ulp(total) < half a cent). stddev stays the float
    aggregate (4-dp display, ~1e-9 relative drift — documented
    residual class); quantity is integral so its sum is exact as a
    plain long sum rendered as double.
    """
    li = load_table(spark, sf_dir, "lineitem")
    price_c_sum = money.sum_exact(money.cents(F.col("l_extendedprice")))
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        (price_c_sum.cast("double") / 100.0).alias("sum_price"),
        F.round(
            price_c_sum.cast("double") / 100.0 / F.count(F.lit(1)), 6
        ).alias("avg_price"),
        F.round(F.min("l_extendedprice"), 2).alias("min_price"),
        F.round(F.max("l_extendedprice"), 2).alias("max_price"),
        F.round(F.stddev_samp("l_extendedprice"), 4).alias("std_price"),
        money.sum_exact(
            F.round(F.col("l_quantity"), 0).cast("long")
        ).cast("double").alias("sum_qty"),
    )


@query(
    "agg_distinct_count",
    oracle="""
    SELECT
        CAST(ts AS DATE) AS day,
        count(DISTINCT user_id) AS dau,
        count(*) AS n_events
    FROM events
    GROUP BY CAST(ts AS DATE)
    """,
)
def agg_distinct_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact DAU: count(DISTINCT user_id) + count(*) per day.

    Exact distinct forces a second shuffle keyed on (day, user_id);
    at 100 TB prefer ``agg_approx_distinct`` unless exactness is
    required — both are declared so the trade-off is explicit.
    Grouping key is DATE on both sides (DuckDB date_trunc returns
    DATE, Spark's returns TIMESTAMP — to_date aligns them).
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.to_date(F.col("ts")).alias("day"))
        .agg(
            F.countDistinct("user_id").alias("dau"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


@query("agg_approx_distinct")  # rows-only: approximate results cannot hash-match
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct users per event_type (rsd=1%).

    The 100 TB path for distinct-count: one pass, fixed-size sketch
    per group, no distinct shuffle. Accuracy vs the exact count is
    asserted in tests/test_scale_paths.py; the driver records a
    rows-only check (sanctioned, SURVEY §2 totals note).
    """
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.01).alias("approx_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


@query(
    "agg_rollup",
    oracle="""
    SELECT
        o_orderpriority,
        o_orderstatus,
        count(*) AS n_orders,
        CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
            / 100.0 AS sum_price
    FROM orders
    GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
    """,
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """count+sum by ROLLUP(o_orderpriority, o_orderstatus).

    The price sum is an exact integer-cents sum (§SF1 finding: the
    grand-total row sums the WHOLE table, and at sf1 the float sum's
    accumulated error already crosses the half-cent — the grid rule
    holds only while n·ulp(total) < 0.005)."""
    o = load_table(spark, sf_dir, "orders")
    return o.rollup("o_orderpriority", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        (
            money.sum_exact(money.cents(F.col("o_totalprice"))).cast("double")
            / 100.0
        ).alias("sum_price"),
    )


@query(
    "agg_cube",
    oracle="""
    SELECT
        o_orderstatus,
        c_mktsegment,
        count(*) AS n_orders,
        CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
            / 100.0 AS sum_price
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY CUBE (o_orderstatus, c_mktsegment)
    """,
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """count+sum by CUBE(o_orderstatus, c_mktsegment) after a join;
    exact integer-cents sum (grand-total rows sum the whole fact —
    the §SF1 grid-rule boundary finding, as in agg_rollup)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey, "inner")
        .cube("o_orderstatus", "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            (
                money.sum_exact(
                    money.cents(F.col("o_totalprice"))
                ).cast("double")
                / 100.0
            ).alias("sum_price"),
        )
    )


@query(
    "agg_grouping_sets",
    oracle="""
    SELECT
        o_orderpriority,
        o_orderstatus,
        CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_priority,
        CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
        count(*) AS n_orders,
        CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
            / 100.0 AS sum_price
    FROM orders
    GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
                            (o_orderpriority), ())
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit grouping sets with grouping() marker columns (SQL
    surface); exact integer-cents sum on both engines — the ()
    grouping set sums the whole table, the §SF1 grid-rule boundary
    (Spark's SQL surface spells the cent grid as a decimal sum:
    sum of DECIMAL(28,0) promotes to the exact decimal accumulator,
    and CAST(x*100 + sign*0.5 AS BIGINT) is the cheap truncating
    grid conversion — non-ANSI casts truncate toward zero)."""
    o = load_table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("gs_orders")
    return spark.sql(
        """
        SELECT
            o_orderpriority,
            o_orderstatus,
            CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_priority,
            CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
            count(*) AS n_orders,
            CAST(sum(CAST(CAST(o_totalprice * 100 +
                               signum(o_totalprice) * 0.5 AS BIGINT)
                          AS DECIMAL(28,0))) AS DOUBLE) / 100.0 AS sum_price
        FROM gs_orders
        GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
                                (o_orderpriority), ())
        """
    )


@query(
    "agg_having",
    oracle="""
    SELECT
        n_name,
        count(*) AS n_orders,
        CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
            / 100.0 AS revenue
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n_name
    HAVING sum(CAST(round(o_totalprice * 100) AS BIGINT)) > 500000000
    """,
)
def agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group filter: nations whose 1996 order revenue exceeds 5M.

    Nation-year groups scale with the fact table, and the HAVING
    predicate compares against the aggregate — the doubly fragile
    class (§MONEY r8) — so the revenue sum and its threshold run on
    exact integer cents; only the display divides back to dollars.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    return (
        o.where(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            money.sum_exact(money.cents(F.col("o_totalprice"))).alias(
                "_rev_c"
            ),
        )
        .where(F.col("_rev_c") > 500000000)
        .select(
            "n_name",
            "n_orders",
            (F.col("_rev_c").cast("double") / 100.0).alias("revenue"),
        )
    )


@query(
    "agg_percentiles",
    oracle="""
    SELECT
        o_orderpriority,
        round(quantile_cont(CAST(o_totalprice AS DOUBLE), 0.5), 6) AS p50_price,
        round(quantile_cont(CAST(o_totalprice AS DOUBLE), 0.9), 6) AS p90_price,
        round(quantile_cont(CAST(o_totalprice AS DOUBLE), 0.99), 6) AS p99_price
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (p50/p90/p99) per priority.

    ``percentile`` is the exact linear-interpolation form (matching
    DuckDB ``quantile_cont``); at 100 TB the one-pass sketch twin is
    ``approx_percentile(col, [...], accuracy)`` — same call shape,
    mergeable partial state, covered by the approx-distinct pattern
    already asserted in tests/test_scale_paths.py.
    """
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.round(F.expr("percentile(o_totalprice, 0.5)"), 6).alias("p50_price"),
        F.round(F.expr("percentile(o_totalprice, 0.9)"), 6).alias("p90_price"),
        F.round(F.expr("percentile(o_totalprice, 0.99)"), 6).alias("p99_price"),
    )


@query(
    "agg_corr_covar",
    oracle="""
    SELECT
        l_returnflag,
        round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
        round(covar_samp(l_quantity, l_extendedprice), 4) AS covar_qty_price,
        round(covar_pop(l_quantity, l_discount), 6) AS covar_qty_disc,
        round(stddev_samp(l_extendedprice), 4) AS sd_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_corr_covar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bivariate statistics per group: corr, covariance, stddev.

    All are algebraic aggregates (sum/sum-of-products moments) —
    partial+final two-phase under the hood, no extra pass.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias(
            "covar_qty_price"
        ),
        F.round(F.covar_pop("l_quantity", "l_discount"), 6).alias("covar_qty_disc"),
        F.round(F.stddev_samp("l_extendedprice"), 4).alias("sd_price"),
    )


@query(
    "agg_listagg",
    oracle="""
    SELECT
        r_name,
        string_agg(n_name, ',' ORDER BY n_name) AS nations,
        count(*) AS n_nations
    FROM nation JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
)
def agg_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (LISTAGG / string_agg parity).

    Deterministic because the aggregation sorts within each group;
    group payloads are bounded (nations per region), so the collect
    never concentrates unbounded data on one key.
    """
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias(
                "nations"
            ),
            F.count(F.lit(1)).alias("n_nations"),
        )
    )


@query(
    "agg_conditional",
    oracle="""
    SELECT
        o_orderstatus,
        count(*) FILTER (o_totalprice > 200000) AS n_big,
        count(*) FILTER (o_orderpriority = '1-URGENT') AS n_urgent,
        CAST(sum(CASE WHEN o_orderpriority LIKE '1%' OR o_orderpriority LIKE '2%'
                      THEN CAST(round(o_totalprice * 100) AS BIGINT)
                      ELSE 0 END) AS DOUBLE) / 100.0 AS high_prio_value,
        round(avg(CASE WHEN o_totalprice > 200000 THEN o_totalprice END), 4
        ) AS avg_big
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def agg_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregation: count_if / filtered sums / null-skip avg.

    §MONEY (caught by the r9 sf10 decade audit, the third decade bug
    in a row): the filtered revenue sum runs over per-status groups
    that grow with the fact table, and at sf10 its float form crossed
    the half-cent (Spark ...768.0 vs DuckDB ...767.99 at a ~5e11
    total) — so it sums exact integer cents and divides back only
    for display, like every unbounded-group money sum since r8.
    """
    o = load_table(spark, sf_dir, "orders")
    big = F.col("o_totalprice") > 200000
    return o.groupBy("o_orderstatus").agg(
        F.count_if(big).alias("n_big"),
        F.count_if(F.col("o_orderpriority") == "1-URGENT").alias("n_urgent"),
        (
            money.sum_exact(
                F.when(
                    F.col("o_orderpriority").like("1%")
                    | F.col("o_orderpriority").like("2%"),
                    money.cents(F.col("o_totalprice")),
                ).otherwise(F.lit(0).cast("long"))
            ).cast("double")
            / 100.0
        ).alias("high_prio_value"),
        F.round(F.avg(F.when(big, F.col("o_totalprice"))), 4).alias("avg_big"),
    )


@query(
    "agg_max_by",
    oracle="""
    SELECT
        c_mktsegment,
        max_by(o_orderkey,
               CAST(round(o_totalprice * 100) AS BIGINT) * 10000000
               + o_orderkey) AS top_orderkey,
        round(max(o_totalprice), 2) AS max_price,
        min_by(o_orderkey,
               CAST(round(o_totalprice * 100) AS BIGINT) * 10000000
               + o_orderkey) AS bottom_orderkey,
        round(min(o_totalprice), 2) AS min_price
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def agg_max_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Argmax/argmin aggregation: the orderkey of each segment's most
    and least expensive order via ``max_by``/``min_by`` — a single
    two-phase aggregate, no window + filter round-trip.

    ``max_by`` is non-deterministic under ties, so the ordering value
    is a tie-free encoding: price in integer cents scaled past the key
    range, plus the orderkey itself (cents ≲ 6e7, ×1e7 + key < 2^53 —
    exact in both engines' arithmetic). Deterministic argmax under
    ties is a real 100 TB concern: a plain max_by(key, price) gives
    partition-order-dependent answers.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    rank = (
        F.round(F.col("o_totalprice") * 100).cast("bigint") * 10000000
        + F.col("o_orderkey")
    )
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.max_by("o_orderkey", rank).alias("top_orderkey"),
            F.round(F.max("o_totalprice"), 2).alias("max_price"),
            F.min_by("o_orderkey", rank).alias("bottom_orderkey"),
            F.round(F.min("o_totalprice"), 2).alias("min_price"),
        )
    )


@query(
    "agg_histogram_bins",
    oracle="""
    SELECT CAST(floor(o_totalprice / 50000) AS BIGINT) AS bin,
           count(*) AS n_orders,
           round(min(o_totalprice), 2) AS bin_min,
           round(max(o_totalprice), 2) AS bin_max
    FROM orders
    GROUP BY bin
    """,
)
def agg_histogram_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram: order values bucketed into $50k bins.

    The binning expression ``floor(x / width)`` is plain double
    arithmetic — identical in any engine, foldable into the scan
    projection, and a two-phase aggregate thereafter (the shuffle
    carries ~12 bins × partitions, nothing else). The equal-depth
    (quantile) twin is ``agg_percentiles`` / ``window_ntile_percent``.
    """
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.floor(F.col("o_totalprice") / 50000).cast("bigint").alias("bin")
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.min("o_totalprice"), 2).alias("bin_min"),
            F.round(F.max("o_totalprice"), 2).alias("bin_max"),
        )
    )


@query(
    "agg_bool_and_or",
    oracle="""
    SELECT o_orderstatus,
           bool_and(o_totalprice > 1000) AS all_over_1k,
           bool_or(o_totalprice > 500000) AS any_over_500k,
           bool_and(o_orderpriority IS NOT NULL) AS all_prioritized,
           count(*) AS n_orders
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def agg_bool_and_or(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Universal/existential aggregates: ``bool_and`` (every row
    satisfies) / ``bool_or`` (at least one does) per group — the
    relational ∀/∃ used for data-quality contracts ("all rows priced",
    "any outlier present").

    Both are algebraic (AND/OR are associative-commutative), so the
    shuffle carries one boolean per (partition × group) like any
    partial aggregate — contrast with rewriting as `count(CASE ...)
    = count(*)`, which carries counts to compute the same bit.
    """
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.bool_and(F.col("o_totalprice") > 1000).alias("all_over_1k"),
        F.bool_or(F.col("o_totalprice") > 500000).alias("any_over_500k"),
        F.bool_and(F.col("o_orderpriority").isNotNull()).alias(
            "all_prioritized"
        ),
        F.count(F.lit(1)).alias("n_orders"),
    )


@query(
    "agg_skew_kurtosis",
    oracle="""
    SELECT o_orderpriority,
           count(*) AS n,
           round(avg(o_totalprice), 4) AS mean_price,
           round(stddev_samp(o_totalprice), 4) AS sd_price,
           round(skewness(o_totalprice) * (count(*) - 2)
                 / sqrt(count(*) * (count(*) - 1.0)), 6) AS skew_pop,
           round(kurtosis_pop(o_totalprice), 6) AS kurt_pop
    FROM orders GROUP BY o_orderpriority
    """,
)
def agg_skew_kurtosis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Third/fourth-moment shape statistics per group.

    Distribution-shape profiling (the heavy-tail detector quality
    pipelines run before trusting mean-based gates). Spark's
    `skewness`/`kurtosis` are the population forms (g1, excess g2);
    the oracle maps DuckDB's sample skewness G1 to g1 via
    (n-2)/sqrt(n(n-1)) and uses kurtosis_pop directly — verified
    equal to 1e-12 at fixture scale. Moments are algebraic
    (one-pass, partial-mergeable), so the plan is a plain two-phase
    hash aggregate.
    """
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("o_totalprice"), 4).alias("mean_price"),
        F.round(F.stddev_samp("o_totalprice"), 4).alias("sd_price"),
        F.round(F.skewness("o_totalprice"), 6).alias("skew_pop"),
        F.round(F.kurtosis("o_totalprice"), 6).alias("kurt_pop"),
    )


@query(
    "agg_mode",
    oracle="""
    WITH counts AS (
        SELECT l_returnflag, l_quantity, count(*) AS n
        FROM lineitem GROUP BY l_returnflag, l_quantity
    ),
    ranked AS (
        SELECT l_returnflag, l_quantity, n,
               row_number() OVER (
                   PARTITION BY l_returnflag ORDER BY n DESC, l_quantity ASC
               ) AS rn
        FROM counts
    )
    SELECT l_returnflag, l_quantity AS mode_qty, n AS mode_count
    FROM ranked WHERE rn = 1
    """,
)
def agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic statistical mode per group.

    Native `mode()` breaks ties engine-arbitrarily, so the operator
    is the canonical two-stage rewrite with a total order: exact
    (group, value) counts, then argmax by (count DESC, value ASC)
    — a window over the already-collapsed counts frame (bounded by
    the value domain per group, not the fact table). Both stages
    ride one l_returnflag-compatible partitioning.
    """
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    counts = li.groupBy("l_returnflag", "l_quantity").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("l_returnflag").orderBy(
        F.desc("n"), F.asc("l_quantity")
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "l_returnflag",
            F.col("l_quantity").alias("mode_qty"),
            F.col("n").alias("mode_count"),
        )
    )


@query(
    "agg_salted_topk",
    oracle="""
    SELECT user_id,
           count(*) AS n_events,
           round(sum(value), 6) AS sum_value
    FROM events
    GROUP BY user_id
    ORDER BY n_events DESC, user_id
    LIMIT 15
    """,
)
def agg_salted_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter census through the SALTED two-phase aggregation
    (`plans.skew.salted_aggregate`): top-15 users by event count —
    the manual skew lever declared as an oracle-checked key, proving
    the salted topology computes exactly the plain GROUP BY.

    Phase 1 groups on (user_id, salt) — 8× more groups, 8× smaller
    hot partitions, so one pathological user cannot serialize a
    reducer; phase 2 combines the per-salt partials (count→sum,
    sum→sum — lossless algebra).  The salt values themselves are
    partition-dependent (`rand(seed)`), but the final result is salt-
    assignment-invariant by construction, which is exactly what the
    hash comparison certifies.  The events fixture concentrates on
    10% of user keys (SURVEY §1.3), the skew shape this lever
    exists for; top-15 is a distributed TakeOrdered under the total
    (n_events DESC, user_id) order.

    Residual verification risk (ADVICE r3, acknowledged): row
    MEMBERSHIP and order are exact — the ranking key n_events is an
    integer count, layout-invariant by algebra.  Only the displayed
    ``sum_value`` is a distributed double sum, whose summation order
    is salt/partition-dependent before the round(…, 6); a sum landing
    within float-jitter (~1e-10 relative) of a 5e-7 rounding boundary
    could in principle hash-diverge from the serial oracle on a
    different layout.  This is the SAME failure class as every
    ``round(sum(double), 6)`` column in the registry (any shuffled
    double sum is order-dependent; salting adds one combine layer,
    not a new class), and the round-6 convention absorbs it in
    practice — the salt-assignment-invariance test
    (tests/test_iterative_invariance.py) pins the guarantee we
    actually claim: probabilistic jitter-absorption, not bitwise
    determinism.
    """
    from ..plans.skew import salted_aggregate

    ev = load_table(spark, sf_dir, "events")
    agg = salted_aggregate(
        ev,
        "user_id",
        [("count", "value", "n_events"), ("sum", "value", "sum_raw")],
    )
    return (
        agg.select(
            "user_id",
            "n_events",
            F.round("sum_raw", 6).alias("sum_value"),
        )
        .orderBy(F.col("n_events").desc(), "user_id")
        .limit(15)
    )


@query(
    "agg_multi_distinct",
    oracle="""
    SELECT o_orderpriority,
           count(*) AS n_orders,
           count(DISTINCT o_custkey) AS n_customers,
           count(DISTINCT date_trunc('month', o_orderdate)) AS n_months
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def agg_multi_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Several DISTINCT aggregates with different argument sets in ONE
    aggregation — the shape Catalyst compiles through the Expand
    operator (each input row replicated once per distinct group with
    a grouping id, then a single two-phase aggregate), instead of the
    self-join-per-distinct a naive plan would pay.

    At scale this is the difference between one shuffle of
    (key, gid)-tagged rows and N separate shuffles joined back
    together; the plain count rides the same pass.  `date_trunc`
    month keys only feed a distinct COUNT (never the output), so the
    engines' month-type mismatch (DuckDB DATE vs Spark TIMESTAMP)
    cannot reach the hash.
    """
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.count_distinct(F.col("o_custkey")).alias("n_customers"),
        F.count_distinct(
            F.date_trunc("month", F.col("o_orderdate"))
        ).alias("n_months"),
    )


@query(
    "agg_weighted_percentile",
    oracle="""
    WITH b AS (
        -- value-bucket pre-aggregation: weight per distinct price
        SELECT l_returnflag,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c,
               CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS w
        FROM lineitem GROUP BY 1, 2
    ),
    c AS (
        SELECT l_returnflag, price_c, w,
               sum(w) OVER (PARTITION BY l_returnflag ORDER BY price_c
                            ROWS UNBOUNDED PRECEDING) AS cw,
               sum(w) OVER (PARTITION BY l_returnflag) AS tw
        FROM b
    )
    SELECT l_returnflag,
           CAST(min(CASE WHEN 4 * cw >= tw THEN price_c END) AS DOUBLE)
               / 100.0 AS w_p25,
           CAST(min(CASE WHEN 2 * cw >= tw THEN price_c END) AS DOUBLE)
               / 100.0 AS w_p50,
           CAST(min(CASE WHEN 4 * cw >= 3 * tw THEN price_c END) AS DOUBLE)
               / 100.0 AS w_p75,
           CAST(max(tw) AS BIGINT) AS total_weight
    FROM c GROUP BY l_returnflag
    """,
)
def agg_weighted_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact WEIGHTED percentiles (p25/p50/p75 of l_extendedprice
    weighted by l_quantity, per return flag) — the reweighted-corpus
    statistic (`sample_importance_reweight` produces such weights)
    that Spark has no built-in for (`percentile_approx` is unweighted
    and approximate; r7, SURVEY §2.D).

    Scale shape: a row-level cumulative window would serialize each
    group through one task, and the value-bucket pre-aggregation
    alone doesn't save it for a near-distinct-per-row value like
    l_extendedprice (ADVICE r7: near-row-count buckets would still
    funnel through ~|flags| window partitions). So the cumsum is
    TWO-LEVEL (the sample_domain_cap sharded pattern, r8): buckets
    shard by contiguous price range (`price_c >> 18`, monotone in
    the sort key, so per-shard prefix sums compose exactly), level 1
    cumsums WITHIN each (group, shard) — parallel across shards —
    and level 2 adds per-shard offsets computed on the
    |groups|×|shards|-row totals frame (broadcast back). The
    crossing inequality `k * cumw >= m * total` is pure integer
    arithmetic (quantities are integral, prices on the cent grid),
    so the selected bucket — and therefore the output value — is
    engine-identical with no float comparison anywhere; bucket-level
    and row-level forms select the same value because every row of a
    tied value shares its bucket. Two-level ≡ single-level is pinned
    by tests/test_r8_operators.py.
    """
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    b = (
        li.groupBy(
            "l_returnflag",
            money.cents(F.col("l_extendedprice")).alias("price_c"),
        )
        .agg(F.sum(F.round(F.col("l_quantity"), 0).cast("long")).alias("w"))
        .withColumn("shard", F.shiftright(F.col("price_c"), 18))
    )
    lw = (
        Window.partitionBy("l_returnflag", "shard")
        .orderBy("price_c")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = b.select(
        "l_returnflag", "shard", "price_c", F.sum("w").over(lw).alias("lcw")
    )
    st = b.groupBy("l_returnflag", "shard").agg(F.sum("w").alias("sw"))
    ow = Window.partitionBy("l_returnflag").orderBy("shard")
    offs = st.select(
        "l_returnflag",
        "shard",
        F.coalesce(
            F.sum("sw").over(ow.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0).cast("long"),
        ).alias("off"),
        F.sum("sw").over(Window.partitionBy("l_returnflag")).alias("tw"),
    )
    c = local.join(F.broadcast(offs), ["l_returnflag", "shard"]).select(
        "l_returnflag",
        "price_c",
        (F.col("lcw") + F.col("off")).alias("cw"),
        "tw",
    )
    pick = lambda k, m: (
        F.min(F.when(k * F.col("cw") >= m * F.col("tw"), F.col("price_c")))
        .cast("double") / 100.0
    )
    return c.groupBy("l_returnflag").agg(
        pick(4, 1).alias("w_p25"),
        pick(2, 1).alias("w_p50"),
        pick(4, 3).alias("w_p75"),
        F.max("tw").alias("total_weight"),
    )
