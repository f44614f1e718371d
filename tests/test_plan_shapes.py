"""Plan-shape assertions (SURVEY §5.2.3): the physical plans the
engine promises — pushdown reaching the parquet scan, broadcast
where hinted, distributed top-k, and, anywhere in the declared
registry, no all-to-one-partition window and no CartesianProduct
outside the adjudicated allowlist. The two registry-wide guards read
one build of each key: CartesianProduct is a physical operator, so
both check the executed plan, never the optimized logical one.

These guard the 100 TB properties that correctness tests can't see:
a query can hash-match the oracle while reading every column of
every row through a single partition.
"""

from __future__ import annotations

import pytest

from bigdataprojectspring16_spark import QUERIES
from bigdataprojectspring16_spark.operators import joins, scans, sorts
from bigdataprojectspring16_spark.tables import load_table

from .conftest import bucketed_layout_unavailable

SF_DIR = "/root/testdata/sf0.001"


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_filter_pushdown_reaches_parquet_scan(spark):
    plan = _physical(scans.scan_with_pushdown(spark, SF_DIR))
    assert "PushedFilters: [" in plan
    # the shipdate predicate itself is pushed, not just IsNotNull
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert "l_shipdate" in pushed


def test_column_pruning_reaches_parquet_scan(spark):
    plan = _physical(scans.scan_parquet(spark, SF_DIR))
    read_schema = plan.split("ReadSchema: ", 1)[1].splitlines()[0]
    # only the 3 projected columns are read, not all 16 lineitem cols
    assert "l_orderkey" in read_schema
    assert "l_comment" not in read_schema and "l_shipmode" not in read_schema


def test_broadcast_hint_produces_broadcast_join(spark):
    plan = _physical(joins.join_broadcast(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan


def test_orderby_limit_is_take_ordered(spark):
    plan = _physical(sorts.limit_topk(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan


def test_multiway_star_broadcasts_all_dims(spark):
    """Broadcasts are declared, never guessed (session.py r10): the
    two CONSTANT-size dims (nation, region) broadcast by audited hint;
    supplier — which grows with SF — must NOT broadcast (neither a
    static estimate nor an AQE promotion exists under the
    declared-only policy, keeping job counts deterministic)."""
    df = joins.join_multiway_star(spark, SF_DIR)
    plan = _physical(df)
    assert plan.count("BroadcastHashJoin") >= 2
    df.collect()
    final = _physical(df).split("== Initial Plan ==")[0]
    assert "isFinalPlan=true" in final
    assert final.count("BroadcastHashJoin") == 2  # exactly the hints


#: Keys whose ONLY unpartitioned window runs over a provably
#: CONTRACTED frame (the q11/rfm contracted-aggregate convention
#: applied to windows): docs_pack_sequences' top-level offset
#: running sum sees the DOUBLY-contracted supershard frame
#: (|docs|/PACK_SHARD² rows — ~1e4 at a 1e10-doc corpus; r8 added
#: the middle hierarchy level). Its fact-sized and shard-sized
#: windows are partitioned, asserted separately in
#: test_pack_sequences_prefix_sum_is_sharded.
CONTRACTED_WINDOW_KEYS = {"docs_pack_sequences"}


#: Keys whose CartesianProduct was adjudicated constant-bounded (r14,
#: ADVICE r13 #1). Under the declared-only broadcast rule a cross of
#: two constant-bounded frames plans as CartesianProduct unless a
#: broadcast hint marks a side: events_funnel (three 1-row global
#: totals), events_moving_avg_7d (date spine x distinct event-type
#: vocabulary), sim_ann_lsh (Range(16) x Range(64) hyperplane grid).
#: A cartesian on any other key fails, so a data-sized one cannot
#: slip in unnoticed.
CARTESIAN_ALLOWLIST = {"events_funnel", "events_moving_avg_7d", "sim_ann_lsh"}


@pytest.fixture(scope="module")
def executed_plans() -> dict[str, str]:
    """Executed plans the window guard built, each handed once to the
    CartesianProduct guard, so the registry is built once per run."""
    return {}


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_no_unpartitioned_window_in_any_declared_query(spark, name, executed_plans):
    """No declared plan moves the whole input to a single partition
    via an empty window partition spec (the WindowExec warning),
    or crosses the Python boundary row at a time (``BatchEvalPython``;
    the declared UDF keys are Arrow-batched). Its executed plan is
    handed to the CartesianProduct guard below."""
    df = QUERIES[name](spark, SF_DIR)
    physical = executed_plans[name] = _physical(df)
    assert "BatchEvalPython" not in physical, f"{name}: row-at-a-time Python UDF"
    if name in CONTRACTED_WINDOW_KEYS:
        return  # sanctioned contracted-frame window (see allowlist)
    lowered = _optimized(df).lower()
    # windowspecdefinition(partKey1, ..., orderKey1 ASC, ..., frame):
    # if the FIRST argument already has a sort direction, the
    # partition key list is empty -> all-to-one-partition window.
    for chunk in lowered.split("windowspecdefinition(")[1:]:
        first_arg = chunk.split(",", 1)[0]
        assert " asc" not in first_arg and " desc" not in first_arg, (
            f"{name}: window without partition keys: "
            f"windowspecdefinition({chunk[:120]}"
        )


def test_q3_limit_is_take_ordered(spark):
    from bigdataprojectspring16_spark.operators import analytics

    plan = _physical(analytics.tpch_q3_topk(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan


def test_gap_fill_joins_are_broadcast(spark):
    """The day-spine and type joins must broadcast — shuffling the
    daily aggregate against a days-sized spine would be absurd."""
    from bigdataprojectspring16_spark.operators import analytics

    plan = _physical(analytics.timeseries_gap_fill(spark, SF_DIR))
    assert "Broadcast" in plan
    assert "SortMergeJoin" not in plan


def test_sessionize_single_shuffle(spark, monkeypatch):
    """Both windows and the final aggregate ride ONE user_id hash
    partitioning: lag-window partitioning (user_id) satisfies the
    grouping distribution of (user_id, session_no). Since r13 the
    plan reads the bucketed events layout, where even that one
    exchange disappears — the write-time bucketing IS the user_id
    partitioning; the flat fallback (layout unavailable) keeps the
    original single-shuffle contract."""
    from bigdataprojectspring16_spark.operators import analytics

    with monkeypatch.context() as m:
        bucketed_layout_unavailable(m)
        with pytest.warns(UserWarning, match="falling back"):
            plan = _physical(analytics.sessionize_gap_batch(spark, SF_DIR))
    # Bound above AND anchor below (ADVICE r3 + r4): the bad shapes
    # are a SECOND exchange (one per window / one for the aggregate)
    # and a degenerate ZERO-exchange plan (e.g. a planner change
    # collapsing to a single-partition sort) — the user_id hash
    # partitioning is semantically required, so its key must appear.
    assert plan.count("Exchange hashpartitioning") <= 1
    assert "hashpartitioning(user_id" in plan

    plan = _physical(analytics.sessionize_gap_batch(spark, SF_DIR))
    # Bucketed: zero exchanges — the scan itself provides the
    # user_id clustering (tests/test_bucketing.py pins rows-equal).
    assert "Exchange hashpartitioning" not in plan
    assert "Bucketed: true" in plan


def test_latest_by_key_single_shuffle(spark):
    from bigdataprojectspring16_spark.operators import setops

    plan = _physical(setops.dedup_latest_by_key(spark, SF_DIR))
    # Upper bound + required-key anchor (ADVICE r4): see
    # test_sessionize_single_shuffle.
    assert plan.count("Exchange hashpartitioning") <= 1
    assert "hashpartitioning(user_id" in plan


def test_runtime_bloom_filter_lever_engages(spark):
    """Runtime row-level filtering (the 100 TB semi-join reduction
    lever): when a selective filtered side meets a big probe side in
    a shuffle join, the optimizer injects bloom_filter_agg /
    might_contain on the probe scan. Default thresholds
    (creation <= 10 MB, application >= 10 GB) only trigger at real
    scale, so this test lowers them to simulate it and asserts the
    engine's plans are injection-compatible. Confs are restored so
    the shared session is unaffected."""
    from pyspark.sql import functions as F

    saved = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold",
            "0",
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        o = load_table(spark, SF_DIR, "orders").where(
            F.col("o_totalprice") > 500000
        )
        li = load_table(spark, SF_DIR, "lineitem")
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        plan = _optimized(j)
        assert "might_contain" in plan
        assert "bloom_filter_agg" in plan
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_decontaminate_membership_join_is_broadcast(spark):
    """The benchmark gram set is eval-suite-sized, never corpus-sized:
    the membership probe must be a broadcast join, not a shuffle."""
    from bigdataprojectspring16_spark.llmops import text

    plan = _physical(text.text_decontaminate(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan


def test_centroid_assign_is_broadcast_nested_loop(spark):
    """k x dim centroids broadcast over a narrow scan — the E-step must
    not shuffle the corpus against the centroid table."""
    from bigdataprojectspring16_spark.llmops import similarity

    plan = _physical(similarity.sim_centroid_assign(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_q18_aggregates_before_joining(spark):
    """Aggregate-then-join: the physical plan's first fact-sized stage
    is the lineitem pre-aggregation; both probe joins consume its
    (filtered, tiny) output rather than re-shuffling raw lineitem."""
    from bigdataprojectspring16_spark.operators import analytics

    plan = _optimized(analytics.tpch_q18_large_orders(spark, SF_DIR))
    agg_pos = plan.find("Aggregate")
    join_pos = plan.find("Join")
    assert agg_pos != -1 and join_pos != -1
    # optimized plan is printed top-down: joins consume the aggregate,
    # so the outermost nodes are joins and the aggregate sits below
    assert join_pos < agg_pos


DECARTESIANED = [
    "dedup_near_jaccard",
    "dedup_ngram_jaccard",
    "dedup_edit_distance",
    "dedup_embedding_cosine",
    "sim_pairs_threshold",
]


@pytest.mark.parametrize("name", DECARTESIANED)
def test_pair_queries_have_no_nested_loop_join(spark, name):
    """The declared near-dup / similarity pair queries generate pairs
    via keyed equi-joins (prefix-filter candidates or GEMM block
    tiling) — an unbounded nested-loop anywhere in these plans is the
    one shape that cannot survive a 100× scale-up."""
    plan = _physical(QUERIES[name](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan, name
    assert "CartesianProduct" not in plan, name


def test_graph_edge_stage_has_no_nested_loop_join(spark):
    """The CC edge stage must use the prefix-filter candidate join,
    not the all-pairs theta join it replaced."""
    from bigdataprojectspring16_spark.llmops.graph import _near_dup_edges

    d = load_table(spark, SF_DIR, "documents")
    plan = _physical(_near_dup_edges(d, 0.95))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_blocked_all_pairs_is_shuffled_equi_join(spark):
    """blocked_all_pairs must plan as a plain equi-join on the two
    block ids — no broadcast of a corpus-sized side, no nested loop."""
    from pyspark.sql import functions as F

    from bigdataprojectspring16_spark.llmops.similarity import blocked_all_pairs

    e = load_table(spark, SF_DIR, "embeddings")
    a = e.select(F.col("vec_id").alias("vec_a"))
    b = e.select(F.col("vec_id").alias("vec_b"))
    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # kill size-based broadcast so the assertion sees the shape a
        # corpus-sized input would produce, not the tiny-fixture one
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = _physical(blocked_all_pairs(a, b, "vec_a", "vec_b"))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan


def test_skew_join_does_not_force_broadcast_customer(spark):
    """Only the fixed-size nation table may carry a broadcast hint:
    customer grows with sf, so forcing it into a broadcast would OOM
    by construction at 100x (VERDICT r1 'What's wrong' #2). One
    ResolvedHint (nation) in the analyzed plan, no more."""
    df = joins.join_skew_events_customers(spark, SF_DIR)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert analyzed.count("ResolvedHint") == 1


@pytest.mark.parametrize(
    "name",
    [
        "dedup_minhash_lsh",
        "dedup_simhash",
        "dedup_near_jaccard",
        "dedup_ngram_jaccard",
        "dedup_edit_distance",
        "sim_pairs_threshold",
        "dedup_embedding_cosine",
    ],
)
def test_pair_expansion_parallelism_is_pinned(spark, name):
    """Regression guard for the r2 AQE trap: these plans expand small
    inputs ~1000x, and AQE sizes their stages off the SMALL side, so
    without an explicit user repartition (exempt from coalescing) the
    expansion runs nearly serially. The optimized plan must carry at
    least one user RepartitionByExpression."""
    plan = _optimized(QUERIES[name](spark, SF_DIR))
    assert "RepartitionByExpression" in plan, name


def test_subset_containment_has_no_nested_loop_join(spark):
    """Containment candidates come from the rarest-token posting join
    (keyed equi-join) — never the all-pairs theta join the oracle
    specifies."""
    plan = _physical(QUERIES["docs_subset_containment"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_topk_per_centroid_pushes_window_limit(spark):
    """The per-label top-3 compiles to WindowGroupLimit (partial
    per-partition pruning before the exchange), and the k×dim
    centroid table broadcasts — the batch-MIPS shape that scales with
    corpus size only through the narrow scoring scan."""
    plan = _physical(QUERIES["sim_topk_per_centroid"](spark, SF_DIR))
    assert "WindowGroupLimit" in plan
    assert "BroadcastExchange" in plan


def test_quantize_scale_table_broadcasts(spark):
    """The per-dimension absmax table (one row per dim) must
    broadcast back to the (vec, dim) stream — a shuffle join here
    would key on `pos` (64 distinct values), an unscalable hot-key
    exchange."""
    plan = _physical(QUERIES["embeddings_quantize_int8"](spark, SF_DIR))
    assert "BroadcastExchange" in plan


def test_chunk_overlap_fanout_is_narrow(spark):
    """The chunk expansion is sequence+explode — no exchange may sit
    between the scan and the explode; the plan's only shuffles are
    the two keyed rollups."""
    plan = _physical(QUERIES["docs_chunk_overlap"](spark, SF_DIR))
    # <= 2: the two keyed rollups; an exchange between scan and
    # explode (the bad shape) would push the count to 3.
    assert plan.count("Exchange hashpartitioning") <= 2


def test_winsorize_fences_broadcast(spark):
    """Per-type [p5, p95] fences (rows = |event types|) broadcast
    back; the clip pass stays a narrow map over the events scan."""
    plan = _physical(QUERIES["clean_winsorize"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan


def test_range_bucketed_is_shuffled_equi_join(spark):
    """The no-equi-key band join must plan as an equi join on the
    hour bucket — never the BroadcastNestedLoopJoin Spark would pick
    for the raw inequality predicate. Size-based broadcast is killed
    so the assertion sees the corpus-scale shape."""
    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = _physical(QUERIES["join_range_bucketed"](spark, SF_DIR))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan


def test_bigram_pmi_topk_is_take_ordered(spark):
    """The PMI top-20 must be a distributed TakeOrdered (per-partition
    heaps), not a global sort or a single-partition window."""
    plan = _physical(QUERIES["text_bigram_pmi"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan


def test_review_queue_windows_share_one_exchange(spark):
    """The most/least-repetitive extremes use mirrored row_numbers
    over the SAME lang partitioning — the plan must pay exactly one
    hash exchange, not one per window direction."""
    plan = _physical(QUERIES["docs_review_queue"](spark, SF_DIR))
    # Bound, not pin (ADVICE r3): a per-window-direction second
    # exchange is the regression this guards against; the lang key
    # anchor rules out a degenerate zero-exchange plan (ADVICE r4).
    assert plan.count("Exchange hashpartitioning") <= 1
    assert "hashpartitioning(lang" in plan


def test_q2_topk_is_take_ordered(spark):
    plan = _physical(QUERIES["tpch_q2_min_cost_supplier"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan


def test_threshold_sweep_pair_stage_has_no_nested_loop_join(spark):
    """The sweep's single candidate pass at the 0.7 floor must stay
    the keyed prefix equi-join — never the all-pairs theta join its
    oracle specifies. The ONE BroadcastNestedLoopJoin allowed is the
    sanctioned share denominator: a broadcast cross join against the
    1-row band-total frame."""
    plan = _physical(QUERIES["dedup_threshold_sweep"](spark, SF_DIR))
    # <= 1 (ADVICE r3): at most the sanctioned 1-row denominator
    # cross join; a second nested loop would be the all-pairs shape.
    assert plan.count("BroadcastNestedLoopJoin") <= 1
    assert "CartesianProduct" not in plan


def test_payload_near_dup_has_no_nested_loop_join(spark):
    """The binary near-dup pair stage must be the digest-keyed
    prefix-filter equi-join — never the all-pairs theta join of its
    text-twin oracle."""
    plan = _physical(QUERIES["multimodal_payload_near_dup"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_kmeans_rounds_are_one_lazy_plan(spark):
    """The unrolled Lloyd rounds chain as a single plan: each round's
    assignment is the sanctioned k x dim centroid broadcast (nested
    loop over a constant-size side), never a CartesianProduct, and no
    action/driver loop splits the rounds."""
    plan = _physical(QUERIES["kmeans_lloyd_rounds"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    # <= rounds + 1 (ADVICE r3): each nested loop is against the
    # constant-size k x dim centroid frame (2 rounds + final); MORE
    # would mean a fact-sized nested loop crept in, FEWER just means
    # the optimizer fused a round.
    assert 1 <= plan.count("BroadcastNestedLoopJoin") <= 3


def test_pagerank_rounds_have_no_nested_loop_join(spark):
    """Every PageRank round is an equi-join topology (edge-rank join,
    degree join, node left-join) — no nested loop anywhere; the
    rounds chain as one lazy plan and the top-20 is a TakeOrdered."""
    plan = _physical(QUERIES["graph_pagerank_rounds"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan


def test_multi_distinct_compiles_through_expand(spark):
    """Multiple DISTINCT argument sets must plan as one Expand-based
    aggregation, not per-distinct self-joins."""
    plan = _physical(QUERIES["agg_multi_distinct"](spark, SF_DIR))
    assert "Expand" in plan
    assert "Join" not in plan


def test_ivf_topk_candidate_join_is_keyed_and_topk_pushed(spark):
    """The IVF serving plan (r5): the only data-proportional join —
    probed cells ⋈ assigned corpus on the cell id — must be a KEYED
    join (SMJ/SHJ/BHJ), and the per-query top-3 must ride the
    WindowGroupLimit pushdown. BroadcastNestedLoopJoin crosses are
    sanctioned ONLY for the k-row centroid frame broadcasts (Lloyd
    assignment + cell probing)."""
    plan = _physical(QUERIES["sim_ivf_topk"](spark, SF_DIR))
    assert (
        "SortMergeJoin" in plan
        or "ShuffledHashJoin" in plan
        or "BroadcastHashJoin" in plan
    )
    assert "WindowGroupLimit" in plan
    # every nested-loop cross must be a broadcast of the tiny centroid
    # frame (BuildRight of a k-row aggregate) — never corpus×corpus.
    assert "CartesianProduct" not in plan


# --- TPC-H completion set (operators/tpch.py, r5) ---

_TPCH_R5 = [
    "tpch_q5_local_supplier_volume",
    "tpch_q7_volume_shipping",
    "tpch_q8_market_share",
    "tpch_q9_product_profit",
    "tpch_q10_returned_items",
    "tpch_q11_important_stock",
    "tpch_q12_ship_delay_priority",
    "tpch_q17_small_qty_revenue",
    "tpch_q19_disjunctive_revenue",
    "tpch_q20_lead_promo_suppliers",
]


@pytest.mark.parametrize("name", _TPCH_R5)
def test_tpch_r5_no_nested_loop_join(spark, name):
    """None of the multi-join TPC-H completion queries may degrade to
    a nested-loop or cartesian form — every join is keyed (the only
    sanctioned BNLJ in the set is Q15's 1-row scalar-max broadcast,
    asserted separately)."""
    plan = _physical(QUERIES[name](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan, name
    assert "CartesianProduct" not in plan, name


def test_tpch_q6_filters_reach_parquet_scan(spark):
    """Q6 is the suite's scan-agg baseline: all three predicates
    (shipdate range, discount band, quantity cap) must be pushed to
    the reader, and the plan must contain no join or exchange beyond
    the single partial-agg exchange."""
    plan = _physical(QUERIES["tpch_q6_revenue_delta"](spark, SF_DIR))
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, col
    assert "Join" not in plan


def test_tpch_q10_is_take_ordered(spark):
    plan = _physical(QUERIES["tpch_q10_returned_items"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan
    # returnflag prefilter reaches the lineitem scan
    assert "EqualTo(l_returnflag,R)" in plan


def test_tpch_q15_scalar_max_is_one_row_broadcast(spark):
    """Q15's scalar-subquery equality: Catalyst pushes the
    ``rev_cents == max_cents`` equality INTO the crossJoin and plans
    a BroadcastHashJoin keyed on the cents (the r5 guard expected a
    BroadcastNestedLoopJoin — wrong shape for crossJoin + equi-pred,
    VERDICT r5 item 2). The 1-row max aggregate and the supplier dim
    both broadcast; there must be no nested-loop join, cartesian
    product, or sort-merge join anywhere."""
    plan = _physical(QUERIES["tpch_q15_top_supplier"](spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") == 2
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_tpch_q11_agg_keeps_full_key_parallelism(spark):
    """The supply aggregation must shuffle on the FULL
    (n_name, l_partkey) key — pre-partitioning the fact on n_name
    alone would satisfy both the agg and the window with one
    exchange but caps parallelism at |nations| partitions. The
    cutoff window then re-shuffles only the contracted aggregate
    onto n_name; neither side may degenerate to a single
    partition."""
    import re

    plan = _physical(QUERIES["tpch_q11_important_stock"](spark, SF_DIR))
    # agg exchange on the full composite key...
    assert re.search(r"hashpartitioning\(n_name#\d+, l_partkey", plan)
    # ...plus the window's post-agg exchange on n_name alone
    assert re.search(r"hashpartitioning\(n_name#\d+, \d+\)", plan)
    assert "Window" in plan and "SinglePartition" not in plan


def test_bm25_is_filtered_broadcast_take_ordered(spark):
    """BM25's fact-sized stages must stay lean: the token stream
    filters to the 3 query terms before its aggregate, the stats/df
    1-row frames join as DECLARED broadcasts, and the top-10 is a
    TakeOrderedAndProject — never a global sort. The tf⋈dl join side
    is QUERY-DEPENDENT (a stopword query matches the whole corpus),
    so under the declared-only broadcast policy it stays a
    deterministic sort-merge equi-join at every scale."""
    df = QUERIES["text_bm25_topk"](spark, SF_DIR)
    plan = _physical(df)
    assert "TakeOrderedAndProject" in plan
    assert plan.count("BroadcastNestedLoopJoin") == 2  # two 1-row frames
    assert "CartesianProduct" not in plan
    df.collect()
    # executedPlan().toString() prints the FINAL adaptive plan followed
    # by an "== Initial Plan ==" section — assert on the final part.
    final = _physical(df).split("== Initial Plan ==")[0]
    assert "isFinalPlan=true" in final
    assert "BroadcastHashJoin" not in final  # no un-declared broadcast
    assert "SortMergeJoin" in final  # tf⋈dl, deterministic


def test_pack_sequences_prefix_sum_is_sharded(spark):
    """The packing cumsum must be the hierarchical form (r8,
    3 levels): the per-doc window partitions by shard and the
    shard-offset window by supershard (full parallelism over both);
    only the DOUBLY-contracted supershard frame (|docs|/1024^2 rows)
    may pass through a single partition."""
    import re

    plan = _physical(QUERIES["docs_pack_sequences"](spark, SF_DIR))
    # within-shard window partitioned on the shard key
    assert re.search(r"hashpartitioning\(shard#\d+", plan)
    # shard-offset window partitioned on the supershard key
    assert re.search(r"hashpartitioning\(super#\d+", plan)
    # the offsets frames broadcast back — no shuffled join on the fact
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_no_cartesian_product_in_any_declared_query(spark, name, executed_plans):
    """Registry-wide scale guard on the EXECUTED plan: a
    CartesianProduct appears exactly on the adjudicated allowlist.
    Every other cross join is the broadcast of a provably tiny frame
    (1-row totals/cutoffs, kxdim centroids, bucket tables), which
    plans as a BroadcastNestedLoopJoin; a CartesianProduct elsewhere
    means a broadcast hint was lost or a join degenerated — at 100 TB
    the difference between a constant-size build side and |corpus|^2
    work. An allowlisted key that no longer plans one must leave the
    allowlist."""
    plan = executed_plans.pop(name, None) or _physical(
        QUERIES[name](spark, SF_DIR)
    )
    assert ("CartesianProduct" in plan) == (name in CARTESIAN_ALLOWLIST), (
        f"{name}: CartesianProduct presence disagrees with the allowlist"
    )


def test_asof_nearest_single_shuffle_no_join(spark):
    """The nearest as-of must stay the union-tag rewrite: one user_id
    exchange feeding both window passes, and no join operator at all
    (the oracle's two-ASOF-join form is the shape being beaten)."""
    plan = _physical(QUERIES["join_asof_nearest"](spark, SF_DIR))
    assert plan.count("Exchange hashpartitioning") <= 1
    assert "hashpartitioning(user_id" in plan
    assert "Join" not in plan


def test_partitioned_read_back_prunes_partitions(spark):
    """scan_partitioned_pruned (r8): the event_type predicate must be
    a PARTITION filter on the read-back scan — directories for the
    other three types are never opened."""
    df = scans.scan_partitioned_pruned(spark, SF_DIR)
    plan = _physical(df)
    assert "PartitionFilters: [" in plan
    pf = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "event_type" in pf
    # the predicate must not degrade to a post-scan data filter
    assert "purchase" in pf or "IN" in pf.upper()


def test_partitioned_layout_gets_dynamic_partition_pruning(spark):
    """The same partitioned layout under a join whose dim side carries
    a runtime-only selective filter must plan DYNAMIC partition
    pruning: the fact scan's PartitionFilters gains a dynamicpruning
    subquery fed by the dim, so at 100 TB only the joined partitions
    are read — the optimizer's scale lever for star joins on
    partitioned facts (VERDICT r7 item 3)."""
    from pyspark.sql import functions as F

    path = scans.partitioned_events_path(spark, SF_DIR)
    fact = spark.read.parquet(path)
    dim = (
        spark.createDataFrame(
            [("purchase", 1), ("click", 0), ("view", 0)],
            "event_type string, is_rev int",
        )
        .where(F.col("is_rev") == 1)  # runtime-selective, non-foldable
        .select("event_type")
    )
    joined = fact.join(dim, "event_type").groupBy("event_type").count()
    plan = _physical(joined)
    assert "dynamicpruning" in plan.lower(), plan[:2000]
    # and the result only touches the surviving partition
    rows = {r.event_type: r["count"] for r in joined.collect()}
    assert set(rows) == {"purchase"}


def test_scan_dpp_orders_month_plans_dynamic_pruning(spark):
    """scan_dpp_orders_month (VERDICT r9 item 8): the DECLARED key's
    fact scan must carry a dynamicpruning subquery in its
    PartitionFilters — the month list is runtime-only (lineitem
    aggregate), so a plan without DPP reads all ~80 month directories
    at 100 TB."""
    df = scans.scan_dpp_orders_month(spark, SF_DIR)
    plan = _physical(df)
    assert "dynamicpruning" in plan.lower(), plan[:2000]
    assert "PartitionFilters: [" in plan
    pf = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "order_month" in pf
    # dim side broadcasts; the DPP subquery must REUSE that exchange
    # (free pruning), not run the lineitem aggregate a second time —
    # under AQE the reusable subquery prints as SubqueryAdaptiveBroadcast
    # with reuse=true (first flag after the pruning key index).
    assert "BroadcastHashJoin" in plan
    assert (
        "ReusedExchange" in plan
        or "SubqueryBroadcast" in plan
        or "SubqueryAdaptiveBroadcast" in plan
    ), plan[:2000]


def test_join_bucketed_colocated_has_no_join_exchange(spark):
    """join_bucketed_colocated (r10): the orderkey fact⋈fact join must
    run as sort-merge with NO exchange on either side — the bucketed
    write IS the shuffle. The only allowed exchange is the final
    o_orderpriority aggregate's."""
    from bigdataprojectspring16_spark.operators import joins

    df = joins.join_bucketed_colocated(spark, SF_DIR)
    plan = _physical(df)
    assert "SortMergeJoin" in plan
    assert "orderkey" not in "".join(
        seg.split(")", 1)[0]
        for seg in plan.split("Exchange hashpartitioning(")[1:]
    ), plan[:2000]


def test_partitioned_layout_written_once_and_reused(spark):
    """ADVICE r8: the hive layout is written AT MOST ONCE per source
    version (``sources.sinks.publish_once``; its _SRC_STAMP, written
    last, is the completion check) so concurrent readers can never
    observe a mid-overwrite deletion; a second call must return the
    identical published files untouched."""
    import os

    path = scans.partitioned_events_path(spark, SF_DIR)
    assert os.path.exists(os.path.join(path, "_SRC_STAMP"))

    def census(p):
        out = {}
        for root, _dirs, files in os.walk(p):
            for f in files:
                fp = os.path.join(root, f)
                st = os.stat(fp)
                out[os.path.relpath(fp, p)] = (st.st_mtime_ns, st.st_size)
        return out

    before = census(path)
    again = scans.partitioned_events_path(spark, SF_DIR)
    assert again == path
    assert census(path) == before  # bit-for-bit reuse, no rewrite
    # and no staging temp dirs left behind
    base = os.path.dirname(path)
    leftovers = [
        d for d in os.listdir(base)
        if d.startswith(os.path.basename(path) + "_")
    ]
    assert leftovers == []


def test_boilerplate_ngrams_is_keyed_agg_only(spark):
    """The boilerplate census must stay the linear shingle-df shape:
    every aggregate runs partial (map-side combine) before its final
    merge, the shingle df join is a plain equi-join (no nested loop),
    and nothing projects the raw text past the shingle explode."""
    from bigdataprojectspring16_spark.llmops import text as text_mod

    plan = _physical(text_mod.text_boilerplate_ngrams(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # partial aggregation before every exchange: Spark marks the
    # map-side half of a two-phase hash aggregate as partial_*.
    assert "partial_count" in plan or "partial_sum" in plan
