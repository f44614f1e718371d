"""Category A — scans / sources (SURVEY §2.A).

Both keys are deliberately thin: the point is the *plan*, not the
code. ``scan_parquet`` must show a column-pruned parquet scan
(ReadSchema lists only the projected columns) and
``scan_with_pushdown`` must show the predicate in PushedFilters —
asserted by tests/test_plan_shapes.py. At 100 TB these two properties
(pruning + row-group skipping) are the difference between reading
3 columns of a 100 TB table and reading all of it.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import money
from ..functions.hashing import knuth_hash, knuth_hash_sql
from ..registry import query
from ..sources.sinks import publish_once
from ..tables import load_table, table_path


@query(
    "scan_parquet",
    oracle="""
    SELECT l_orderkey, l_partkey, l_quantity
    FROM lineitem
    """,
)
def scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full scan + projection; Catalyst prunes the parquet read schema."""
    return load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )


@query(
    "scan_with_pushdown",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_shipdate
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1996-01-01 00:00:00'
    """,
)
def scan_with_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter that must reach the parquet reader (PushedFilters)."""
    return (
        load_table(spark, sf_dir, "lineitem")
        .where(F.col("l_shipdate") <= F.lit("1996-01-01").cast("timestamp"))
        .select("l_orderkey", "l_linenumber", "l_shipdate")
    )


@query(
    "sample_hash_mod",
    oracle=f"""
    WITH s AS (
        SELECT o_orderpriority, o_totalprice
        FROM orders
        WHERE {knuth_hash_sql("o_orderkey", 97)} < 5
    )
    SELECT o_orderpriority,
           count(*) AS n_sampled,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
               / 100.0 AS sum_price
    FROM s GROUP BY o_orderpriority
    """,
)
def sample_hash_mod(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~5% sample via pre-reduced multiplicative key
    hashing (functions/hashing.py), then an aggregate over the sample.

    ``df.sample()`` is seed×partitioning dependent — useless for a
    reproducible-pipeline contract. Hashing the key with pure BIGINT
    arithmetic gives the identical sample in any engine, any partition
    layout, any cluster size; the prime pre-reduction keeps the
    product int64-safe for ANY key (the raw ``key * 2654435761`` form
    overflows past key ≈ 3.47e9 — TPC-H order keys reach that well
    before the 100 TB SF, and the engines then diverge: ADVICE r6).
    The predicate is Catalyst-foldable and evaluated at the scan, so
    at 100 TB the sample costs one pass, no shuffle beyond the final
    tiny aggregate. The priority-level money sum is over a fixed-rate
    sample of the whole fact table — unbounded group growth — so it
    runs on exact integer cents (§MONEY r8).
    """
    o = load_table(spark, sf_dir, "orders")
    keep = knuth_hash(F.col("o_orderkey"), 97) < 5
    return (
        o.where(keep)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            (
                money.sum_exact(money.cents(F.col("o_totalprice")))
                .cast("double") / 100.0
            ).alias("sum_price"),
        )
    )


@query(
    "sample_stratified",
    oracle=f"""
    WITH s AS (
        SELECT c_mktsegment, c_acctbal
        FROM customer
        WHERE {knuth_hash_sql("c_custkey", 100)} <
              CASE WHEN c_mktsegment = 'BUILDING' THEN 20 ELSE 5 END
    )
    SELECT c_mktsegment, count(*) AS n_sampled,
           CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS DOUBLE)
               / 100.0 AS sum_bal
    FROM s GROUP BY c_mktsegment
    """,
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified deterministic sampling: per-stratum rates (20% for
    BUILDING, 5% elsewhere) via the same multiplicative key hash as
    ``sample_hash_mod`` — the corpus-rebalancing shape (upweight a
    rare slice, downsample the rest) for training-data mixes.

    ``df.sampleBy`` is seeded-random and partition-dependent; the
    arithmetic predicate is reproducible everywhere (pre-reduced so
    the product never overflows int64 — functions/hashing.py) and
    stays a narrow scan-side filter — no shuffle until the final tiny
    aggregate, at any scale. Per-segment balance sums over a
    fixed-rate sample grow with the table, so they run on exact
    integer cents (§MONEY r8).
    """
    c = load_table(spark, sf_dir, "customer")
    rate = F.when(F.col("c_mktsegment") == "BUILDING", 20).otherwise(5)
    keep = knuth_hash(F.col("c_custkey"), 100) < rate
    return (
        c.where(keep)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            (
                money.sum_exact(money.cents(F.col("c_acctbal")))
                .cast("double") / 100.0
            ).alias("sum_bal"),
        )
    )


@query(
    "sample_domain_cap",
    oracle=f"""
    WITH ranked AS (
        SELECT source, n_chars,
               row_number() OVER (
                   PARTITION BY source
                   ORDER BY {knuth_hash_sql("doc_id", 4294967296)}, doc_id
               ) AS rn
        FROM documents
    ),
    totals AS (SELECT source, count(*) AS n_total FROM documents GROUP BY source)
    SELECT r.source,
           count(*) AS n_kept,
           max(n_total) AS n_total,
           round(CAST(count(*) AS DOUBLE) / max(n_total), 4) AS keep_rate,
           round(avg(n_chars), 4) AS avg_chars_kept
    FROM ranked r JOIN totals USING (source)
    WHERE rn <= 50
    GROUP BY r.source
    """,
)
def sample_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain balancing: keep at most K=50 docs per source, deterministically.

    The corpus-mixing primitive: cap each domain's contribution by a
    reproducible hash order (pre-reduced multiplicative hash with the
    raw doc_id as tiebreak, so the order is total and int64-safe for
    any key — same survivors on any engine or partitioning).
    Implemented as exact two-level top-K so the shape
    survives 100 TB: rank within (source, salt) shards first and keep
    K per shard — a shuffle whose partitions are bounded by shard
    granularity — then re-rank only the <= K x 8 survivors per
    source. Per-source top-K is a subset of the union of per-shard
    top-Ks, so the two-level result is exactly the single-level one
    (the oracle states the single-level form). A single
    row_number over 5 whole-domain partitions would serialize each
    domain through one task at scale.
    """
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    k = 50
    h = knuth_hash(F.col("doc_id"), 4294967296)
    shard = F.pmod(F.col("doc_id"), F.lit(8))
    w1 = Window.partitionBy("source", shard).orderBy(h.asc(), F.col("doc_id").asc())
    w2 = Window.partitionBy("source").orderBy(h.asc(), F.col("doc_id").asc())
    survivors = (
        d.withColumn("rn1", F.row_number().over(w1))
        .where(F.col("rn1") <= k)
        .withColumn("rn", F.row_number().over(w2))
        .where(F.col("rn") <= k)
    )
    totals = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_total"))
    return (
        survivors.join(F.broadcast(totals), "source")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.max("n_total").alias("n_total"),
            F.round(
                F.count(F.lit(1)).cast("double") / F.max("n_total"), 4
            ).alias("keep_rate"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars_kept"),
        )
    )


@query(
    "sample_kfold_stratified",
    oracle=f"""
    WITH f AS (
        SELECT lang, {knuth_hash_sql("doc_id", 5)} AS fold, n_chars
        FROM documents
    ),
    g AS (
        SELECT lang, fold, count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS sum_chars
        FROM f GROUP BY lang, fold
    )
    SELECT lang, fold, n_docs, sum_chars,
           round(CAST(n_docs AS DOUBLE)
                 / sum(n_docs) OVER (PARTITION BY lang), 6) AS fold_share
    FROM g
    """,
)
def sample_kfold_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified k-fold assignment (k=5) for
    cross-validation over the document corpus: every doc lands in the
    same fold on any engine, partitioning, or cluster size via the
    multiplicative key hash (same constant as ``sample_hash_mod``),
    reported as a (lang, fold) census with the fold's share within
    its language stratum.

    The fold label is a Catalyst-foldable scan-side expression — no
    shuffle until the tiny (lang x k) aggregate — and the share
    window partitions by lang over the already-aggregated 20-row
    frame, so at 100 TB the cost is one pass + one partial-agg
    shuffle. ``df.randomSplit`` is seed- and partition-dependent;
    this assignment is a pure function of the key, which is what a
    reproducible training pipeline has to be able to re-derive.
    """
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    fold = knuth_hash(F.col("doc_id"), 5)
    g = (
        d.select("lang", fold.alias("fold"), "n_chars")
        .groupBy("lang", "fold")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
        )
    )
    w = Window.partitionBy("lang")
    return g.select(
        "lang",
        "fold",
        "n_docs",
        "sum_chars",
        F.round(
            F.col("n_docs").cast("double") / F.sum("n_docs").over(w), 6
        ).alias("fold_share"),
    )


@query(
    "sample_class_balanced",
    oracle=f"""
    WITH counts AS (
        SELECT lang, count(*) AS n_lang FROM documents GROUP BY lang
    ),
    m AS (SELECT min(n_lang) AS m FROM counts),
    ranked AS (
        SELECT lang, doc_id,
               row_number() OVER (
                   PARTITION BY lang
                   ORDER BY {knuth_hash_sql("doc_id", 4294967296)}, doc_id
               ) AS rn
        FROM documents
    )
    SELECT r.lang,
           CAST(count(*) AS BIGINT) AS n_kept,
           max(n_lang) AS n_total,
           CAST(sum(doc_id) AS BIGINT) AS kept_id_sum,
           round(CAST(count(*) AS DOUBLE) / max(n_lang), 6) AS keep_share
    FROM ranked r CROSS JOIN m JOIN counts USING (lang)
    WHERE rn <= m
    GROUP BY r.lang
    ORDER BY r.lang
    """,
)
def sample_class_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced downsampling: every language keeps exactly the
    MINORITY class's count (adaptive, computed from the data — unlike
    `sample_stratified`'s fixed rates or `sample_domain_cap`'s fixed
    cap), selected by the (pre-reduced hash, doc_id) total order so
    the kept SET is identical on any engine or partitioning
    (`kept_id_sum` pins it, not just the counts) and the hash product
    stays int64-safe for any key (ADVICE r6 — the raw form overflowed
    past doc_id ≈ 3.47e9, where Spark wraps but DuckDB raises).

    Same exact two-level top-K shape as `sample_domain_cap` — rank
    within (lang, shard) first, keep <= m per shard, re-rank the
    survivors per lang — except the cutoff m is a data-dependent
    1-row broadcast instead of a literal. Per-class top-m is a subset
    of the union of per-shard top-ms, so the two-level result equals
    the oracle's single-level form; a single whole-class window would
    serialize 1/|langs| of the corpus through one task at 100 TB.
    """
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    counts = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_lang"))
    m = counts.agg(F.min("n_lang").alias("m"))
    h = knuth_hash(F.col("doc_id"), 4294967296)
    shard = F.pmod(F.col("doc_id"), F.lit(8))
    w1 = Window.partitionBy("lang", shard).orderBy(h.asc(), F.col("doc_id").asc())
    w2 = Window.partitionBy("lang").orderBy(h.asc(), F.col("doc_id").asc())
    survivors = (
        d.crossJoin(F.broadcast(m))
        .withColumn("rn1", F.row_number().over(w1))
        .where(F.col("rn1") <= F.col("m"))
        .withColumn("rn", F.row_number().over(w2))
        .where(F.col("rn") <= F.col("m"))
    )
    return (
        survivors.join(F.broadcast(counts), "lang")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.max("n_lang").alias("n_total"),
            F.sum("doc_id").alias("kept_id_sum"),
            F.round(
                F.count(F.lit(1)).cast("double") / F.max("n_lang"), 6
            ).alias("keep_share"),
        )
        .orderBy("lang")
    )


@query(
    "sample_importance_reweight",
    oracle="""
    WITH g AS (
        SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang
    ),
    tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n_total FROM g),
    w AS (
        SELECT lang, n_docs, n_total,
               round(CAST(n_docs AS DOUBLE) / n_total, 6) AS actual_share,
               target_share,
               target_share * n_total / n_docs AS wt
        FROM (
            SELECT g.lang, g.n_docs, tot.n_total,
                   CAST(CASE g.lang WHEN 'en' THEN 0.35 WHEN 'de' THEN 0.20
                                    WHEN 'es' THEN 0.20 WHEN 'fr' THEN 0.15
                                    ELSE 0.10 END AS DOUBLE) AS target_share
            FROM g CROSS JOIN tot
        )
    ),
    m AS (
        SELECT sum(n_docs * wt ORDER BY lang) AS m1,
               sum(n_docs * wt * wt ORDER BY lang) AS m2
        FROM w
    )
    SELECT lang, n_docs, actual_share, target_share,
           round(wt, 6) AS weight,
           round(m1 * m1 / (m2 * n_total), 6) AS ess_share
    FROM w CROSS JOIN m ORDER BY lang
    """,
)
def sample_importance_reweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus importance reweighting toward a declared target language
    mix (r7, SURVEY §2.A): per-language weight = target_share /
    actual_share, plus the effective-sample-size share
    ESS/n = (Σ n_l·w_l)² / (Σ n_l·w_l² · Σ n_l) — the number that says
    how much of the corpus the reweighted estimator effectively keeps
    (1.0 = no reweighting; small = the mix correction is being paid
    for in variance). The census a training-mix pipeline runs BEFORE
    committing to a target mix (`sample_temperature` reshapes by a
    power law; this hits an explicit target).

    One scan → language-keyed count (two-phase agg) → all shares,
    weights and the ESS derived through 1-ROW TOTALS BROADCASTS over
    the |langs|-row aggregate (the house convention — never an
    unpartitioned window, even on a tiny frame). Per-language
    addends are fixed IEEE expressions over exact integer counts
    (identical doubles on both engines), and the ESS moments m1/m2
    fold them in a PINNED lang-sorted order — a sequential
    ``array_sort`` + ``aggregate`` here, ``sum(... ORDER BY lang)``
    in the oracle — because an unordered float sum's accumulation
    order is partition-dependent even on a 5-row frame (ADVICE r7;
    the kmeans sequential-fold discipline, SCALING.md). Applying the
    weights to rows would be one broadcast join of the |langs|-row
    weight map.
    """
    d = load_table(spark, sf_dir, "documents")
    g = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    tot = g.agg(F.sum("n_docs").alias("n_total"))
    target = (
        F.when(F.col("lang") == "en", 0.35)
        .when(F.col("lang") == "de", 0.20)
        .when(F.col("lang") == "es", 0.20)
        .when(F.col("lang") == "fr", 0.15)
        .otherwise(0.10)
    )
    w = g.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        "n_total",
        F.round(F.col("n_docs").cast("double") / F.col("n_total"), 6).alias(
            "actual_share"
        ),
        target.alias("target_share"),
        (target * F.col("n_total") / F.col("n_docs")).alias("wt"),
    )
    def _ordered_sum(addend):
        """Sequential lang-ordered fold — partition-order-proof."""
        return F.aggregate(
            F.array_sort(
                F.collect_list(F.struct(F.col("lang"), addend.alias("v")))
            ),
            F.lit(0.0),
            lambda acc, s: acc + s["v"],
        )

    m = w.agg(
        _ordered_sum(F.col("n_docs") * F.col("wt")).alias("m1"),
        _ordered_sum(
            F.col("n_docs") * F.col("wt") * F.col("wt")
        ).alias("m2"),
    )
    return (
        w.crossJoin(F.broadcast(m))
        .select(
            "lang",
            "n_docs",
            "actual_share",
            "target_share",
            F.round("wt", 6).alias("weight"),
            F.round(
                F.col("m1") * F.col("m1") / (F.col("m2") * F.col("n_total")),
                6,
            ).alias("ess_share"),
        )
        .orderBy("lang")
    )


def _derived_layout(
    spark: SparkSession, sf_dir: str, source_table: str, layout: str, write
) -> str:
    """Path of the write-once layout ``write(df, loc)`` derives from
    ``source_table`` of ``sf_dir``, published by
    ``sources.sinks.publish_once``.

    The layout lives inside the repo (gitignored) so the declared
    queries never write outside it, at
    ``.tmp_partitioned/<layout>_<sf basename>_<sha1(abs dir)[:12]>``:
    two sf dirs sharing a basename never share a layout (ADVICE r9).
    """
    root = os.path.dirname(os.path.dirname(os.path.dirname(__file__)))
    abs_dir = os.path.abspath(sf_dir)
    tag = hashlib.sha1(abs_dir.encode()).hexdigest()[:12]
    name = (os.path.basename(os.path.normpath(sf_dir)) or "default") + "_" + tag
    loc = os.path.join(root, ".tmp_partitioned", f"{layout}_{name}")
    return publish_once(
        table_path(sf_dir, source_table),
        loc,
        lambda out: write(load_table(spark, sf_dir, source_table), out),
    )


def partitioned_events_path(spark: SparkSession, sf_dir: str) -> str:
    """Events as a hive layout partitioned by ``event_type``.

    One file per partition via a pre-write repartition on the
    partition column — the small-files discipline a 100 TB partitioned
    write needs (a 32-task write of 5 partitions would emit up to 160
    files here, and thousands per partition on a real cluster).
    """

    def write(ev, loc):
        (
            ev.repartition("event_type")
            .write.mode("overwrite")
            .partitionBy("event_type")
            .parquet(loc)
        )

    return _derived_layout(spark, sf_dir, "events", "events_by_type", write)


def partitioned_orders_path(spark: SparkSession, sf_dir: str) -> str:
    """Orders as a hive layout DATE-partitioned by ``order_month``
    (``yyyy-MM`` of ``o_orderdate``, ~80 partitions) — the canonical
    100 TB fact layout (time-partitioned), used by the
    dynamic-partition-pruning key below.

    Same small-files discipline: repartition on the partition column
    first so each month directory holds one file per month, not one
    per write task.
    """

    def write(o, loc):
        om = o.withColumn(
            "order_month", F.date_format("o_orderdate", "yyyy-MM")
        )
        (
            om.repartition("order_month")
            .write.mode("overwrite")
            .partitionBy("order_month")
            .parquet(loc)
        )

    return _derived_layout(spark, sf_dir, "orders", "orders_by_month", write)


@query(
    "scan_dpp_orders_month",
    oracle="""
    WITH dim AS (
        SELECT strftime(l_shipdate, '%Y-%m') AS order_month
        FROM lineitem
        GROUP BY 1
        HAVING 3 * sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
               > count(*)
    )
    SELECT order_month, count(*) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
               / 100.0 AS revenue
    FROM (SELECT strftime(o_orderdate, '%Y-%m') AS order_month,
                 o_totalprice
          FROM orders) o
    JOIN dim USING (order_month)
    GROUP BY 1
    """,
)
def scan_dpp_orders_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning on a DATE-partitioned fact (VERDICT r9
    item 8): monthly order count + revenue for the ship-months whose
    return rate exceeds one-third, answered from the month-partitioned
    orders layout.

    The month list is RUNTIME-ONLY (it depends on an aggregate over
    lineitem), so static partition pruning cannot help — this is
    exactly the shape where Catalyst must plan DYNAMIC partition
    pruning: the dim side (≤ |months| rows after its selective
    HAVING) broadcasts, and the fact scan's ``PartitionFilters``
    gains a ``dynamicpruning`` subquery that reuses that broadcast,
    so only the qualifying month directories (34-48 of 83, measured
    per SF) are ever listed or read — the second thing a 100 TB user
    touches after static pruning (plan-asserted in
    tests/test_plan_shapes.py).

    Shape note: the threshold is a LITERAL exact-integer compare
    (3·r_m > t_m — no float shares, no knife-edge months, identical
    arithmetic both engines). A corpus-relative threshold
    (r_m·T > R·t_m) was tried and rejected: the totals crossJoin
    inside the dim subtree suppresses Catalyst's PartitionPruning
    rule entirely (measured — no dynamicpruning filter is inserted),
    and a whole-corpus rate needs a second lineitem pass anyway.
    Revenue is exact integer cents (§MONEY: month groups grow with
    the fixture).
    """
    li = load_table(spark, sf_dir, "lineitem")
    dim = (
        li.groupBy(
            F.date_format("l_shipdate", "yyyy-MM").alias("order_month")
        )
        .agg(
            F.count(F.lit(1)).alias("t_m"),
            F.sum(
                F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
            ).alias("r_m"),
        )
        .where(F.lit(3) * F.col("r_m") > F.col("t_m"))
        .select("order_month")
    )
    # Explicit schema on read-back (same rule as scan_partitioned_
    # pruned): inference is an extra listing pass at 100 TB and fails
    # outright on an empty layout — the partition column appends as a
    # string to the source schema.
    fact_schema = load_table(spark, sf_dir, "orders").schema.add(
        "order_month", "string"
    )
    fact = spark.read.schema(fact_schema).parquet(
        partitioned_orders_path(spark, sf_dir)
    )
    return (
        fact.join(F.broadcast(dim), "order_month")
        .groupBy("order_month")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            (
                money.sum_exact(money.cents(F.col("o_totalprice")))
                .cast("double") / 100.0
            ).alias("revenue"),
        )
    )


@query(
    "scan_partitioned_pruned",
    oracle="""
    SELECT event_type,
           date_trunc('month', ts) AS month_start,
           count(*) AS n_events,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE)
               / 100.0 AS sum_value
    FROM events
    WHERE event_type IN ('purchase', 'click')
    GROUP BY 1, 2
    """,
)
def scan_partitioned_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned-layout write + pruned read-back (VERDICT r7 item 3):
    materialize events as a hive layout partitioned by event_type,
    then answer a monthly funnel census for the purchase/click types
    from ONLY those partitions.

    At 100 TB every real table is partitioned, and the first thing a
    user touches is a partition predicate — this key makes that a
    scored behavior. The read-back plan must show
    ``PartitionFilters: [event_type IN (purchase,click)]`` with the
    other three partitions never opened (asserted, along with the
    dynamic-partition-pruning variant of the same layout, in
    tests/test_plan_shapes.py); the month rollup is a plain two-phase
    hash aggregate over the surviving 2/5 of the data, money on exact
    integer cents (§MONEY — event-rate-unbounded groups). The oracle
    states the logical spec (filter over the flat table): the
    partitioned detour must be semantically invisible.
    """
    path = partitioned_events_path(spark, sf_dir)
    # Explicit schema on read-back: inference is an extra listing pass
    # at 100 TB and fails outright on an empty layout (no data files
    # to sample) — the same explicit-schema rule as CSV/JSON ingestion
    # (SCALING.md §Scans).
    evp = spark.read.schema(
        load_table(spark, sf_dir, "events").schema
    ).parquet(path)
    return (
        evp.where(F.col("event_type").isin("purchase", "click"))
        .groupBy(
            "event_type",
            F.trunc(F.col("ts"), "month").alias("month_start"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (
                money.sum_exact(money.cents(F.col("value")))
                .cast("double") / 100.0
            ).alias("sum_value"),
        )
    )


def evolved_orders_path(spark: SparkSession, sf_dir: str) -> str:
    """Orders as ONE layout holding TWO parquet batches with DIFFERENT
    schemas — the schema-evolution reality of any long-lived 100 TB
    lake (writers upgraded mid-stream; old files never rewritten).

    Batch 0 ("legacy writer", the deterministic 1/3 of orders with
    ``knuth_hash(o_orderkey, 3) = 0``) is written WITHOUT
    ``o_orderpriority``; batch 1 carries the full schema and is
    appended to the same directory. Published write-once like every
    derived layout (``sources.sinks.publish_once``)."""

    def write(o, loc):
        legacy = knuth_hash(F.col("o_orderkey"), 3) == 0
        o.where(legacy).drop("o_orderpriority").write.mode(
            "overwrite"
        ).parquet(loc)
        o.where(~legacy).write.mode("append").parquet(loc)

    return _derived_layout(spark, sf_dir, "orders", "orders_evolved", write)


@query(
    "scan_schema_evolution",
    oracle=f"""
    SELECT CASE WHEN {knuth_hash_sql('o_orderkey', 3)} = 0 THEN 'LEGACY'
                ELSE o_orderpriority END AS priority,
           count(*) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
               / 100.0 AS revenue
    FROM orders GROUP BY 1
    """,
)
def scan_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution scan: order count + exact-cents revenue per
    priority over a layout whose legacy files PREDATE the
    ``o_orderpriority`` column (``evolved_orders_path``) — legacy rows
    surface as NULL and are reported as the 'LEGACY' tier.

    The read follows the production rule for evolved lakes: the
    EVOLVED schema comes from the catalog (here: the source table's
    schema) and is passed explicitly, so old files resolve missing
    columns to NULL with no inference pass and no failure on an empty
    layout. ``mergeSchema=true`` footer-union inference discovers the
    same schema (equality pinned in tests/test_r10_operators.py) but
    costs a footer read per file at 100 TB — discovery tool, not a
    steady-state plan. The oracle states the logical spec over the
    flat table via the same deterministic batch split: the layout
    detour must be semantically invisible.
    """
    full_schema = load_table(spark, sf_dir, "orders").schema
    df = spark.read.schema(full_schema).parquet(
        evolved_orders_path(spark, sf_dir)
    )
    return (
        df.groupBy(
            F.coalesce(F.col("o_orderpriority"), F.lit("LEGACY")).alias(
                "priority"
            )
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            (
                money.sum_exact(money.cents(F.col("o_totalprice")))
                .cast("double") / 100.0
            ).alias("revenue"),
        )
    )
