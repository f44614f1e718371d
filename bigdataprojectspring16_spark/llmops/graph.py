"""Duplicate-cluster resolution: connected components over near-dup pairs.

Pairwise near-dup detection (dedup.py) yields *edges*; corpus curation
needs *clusters* — if A~B and B~C, all three are one dup group even
when A~C misses the threshold. That closure is an iterative graph
computation Spark has no built-in operator for, so this module
implements the **alternating large-star / small-star algorithm**
(Kiveris et al., "Connected Components in MapReduce and Beyond",
SoCC'14) as a driver-side loop of keyed DataFrame rounds:

    large-star: every node points its LARGER neighbors at the minimum
                of its neighborhood (incl. itself);
    small-star: every node folds its smaller-or-equal neighbors (and
                itself) onto that minimum.

Alternating the two contracts every component to a star rooted at its
global minimum in **O(log n) rounds** — on a length-n chain the hop
distance to the root roughly doubles per round, vs the O(diameter)
rounds of one-hop label propagation. Each round is two keyed
aggregates + two keyed joins — fully distributed, nothing driver-side
but the (cheap, aggregated) convergence probe. ``localCheckpoint``
after every round truncates the lineage so the plan stays O(1) deep
instead of O(rounds).

Edge generation is linear too: candidates come from the lossless
prefix-filter equi-join (dedup.prefix_jaccard_pairs — recall 1.0
for Jaccard ≥ t, never all-pairs), exact-verified on xxhash64-coded
token sets before entering the fixpoint. The DuckDB oracle expresses
the identical closure as a WITH RECURSIVE reachability query — a
differential check that the star-contraction computes true
transitive closure, not one-hop grouping.
"""

from __future__ import annotations

import time
import warnings

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..plans.barriers import barrier, decade_regime
from ..registry import query
from ..tables import load_table

MAX_ITERATIONS = 25

#: Longest wait, in seconds, for a round's observed row count once its
#: write has returned. The metric is normally there already; past this
#: bound the round is counted by a second job instead of blocking.
OBSERVATION_WAIT_S = 60.0

#: Columns the label pipeline creates or reads internally; a ``carry``
#: column with one of these names would shadow them.
_RESERVED_CARRY = (
    "doc_id", "text", "toks", "set_key", "rep", "src", "dst", "node",
    "component",
)


def _near_dup_edges(d: DataFrame, threshold: float = 0.95) -> DataFrame:
    """Undirected token-Jaccard ≥ threshold edges (src, dst) with the
    same closure as the all-pairs edge set, built linearly.

    Since the edges only feed a connected-components closure, docs
    with IDENTICAL token sets (J = 1 ≥ t always) are contracted to
    one representative first (a groupBy on the set digest — the exact
    dedup_exact_docs shape): each doc gets a spoke edge to its rep,
    and only distinct sets enter the candidate join. Dense dup
    clusters are exactly what a 100 TB near-dup corpus looks like, so
    this contraction is the difference between verifying |distinct|²
    -shaped candidates and |docs|²-shaped ones. Cross-set candidates
    come from the lossless prefix-filter join (recall 1.0 — see
    dedup.prefix_jaccard_pairs), exact-verified on coded arrays; the
    resulting closure is identical to ``dedup_near_jaccard``'s pair
    predicate because any member pair (a, b) of set-groups (A, B) has
    the same Jaccard as the rep pair.
    """
    rep_nodes, rep_edges, spokes = _near_dup_edge_parts(d, threshold)
    return rep_edges.unionByName(spokes)


def _near_dup_edge_parts(
    d: DataFrame, threshold: float = 0.95, carry: tuple[str, ...] = ()
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The near-dup graph split into its contraction parts:
    (rep_nodes(node, *carry), rep_edges(src, dst),
    spokes(src=member, dst=rep, *carry-of-member)).

    Callers that only need the closure run the fixpoint over
    rep_nodes/rep_edges and extend labels across the spokes afterwards
    (:func:`components_over_docs`); callers that need the literal
    member-level edge set union the parts (:func:`_near_dup_edges`).

    ``carry`` names narrow payload columns of ``d`` to thread through
    the label pipeline (r14, guide §2.4): a consumer that needs
    per-doc attributes AFTER labeling (keep-best's n_chars/lang, the
    leakage split's lang) can read them off the labeled frame instead
    of paying a join back onto ``documents`` — two exchanges per
    consumer removed for a few bytes per spoke row. ``carry=()``
    leaves every plan byte-identical to the r13 shape. A ``carry``
    name that collides with an internal column raises ``ValueError``.
    """
    from .dedup import prefix_jaccard_pairs

    clash = sorted(set(carry) & set(_RESERVED_CARRY))
    if clash:
        raise ValueError(
            f"carry={carry!r}: {clash} shadow internal columns "
            f"{_RESERVED_CARRY}"
        )
    t = d.select(
        "doc_id",
        *carry,
        F.array_sort(F.array_distinct(F.split(F.col("text"), " "))).alias("toks"),
    ).withColumn("set_key", F.sha2(F.concat_ws(" ", "toks"), 256))
    # The spoke map and rep node-set never need the token arrays —
    # build them from the 32-byte digest column only, so the label-
    # extension path (components_over_docs) re-evaluates a narrow
    # digest shuffle, never the array-carrying lineage.
    digests = t.select("doc_id", "set_key", *carry)
    rep_ids = digests.groupBy("set_key").agg(
        F.min("doc_id").alias("rep"),
        # The rep IS the group's min doc_id, so min_by(c, doc_id) is
        # exactly that doc's attribute — same shuffle, no extra pass.
        *[F.min_by(c, "doc_id").alias(c) for c in carry],
    )
    spokes = (
        digests.join(rep_ids.select("set_key", "rep"), "set_key")
        .where(F.col("doc_id") != F.col("rep"))
        .select(F.col("doc_id").alias("src"), F.col("rep").alias("dst"), *carry)
    )
    # doc_id == rep alone selects exactly the representative rows: each
    # doc_id occurs once in `digests`, so doc_id determines set_key, and
    # rep is that group's min doc_id — no set_key equality needed (the
    # r4 form's extra set_key predicate resolved both sides to the same
    # attribute and was dead code; left-semi keeps the join key-only).
    rt = t.join(
        rep_ids.select(F.col("rep").alias("doc_id")), "doc_id", "semi"
    ).select("doc_id", "toks")
    # The oracle's edge predicate is the RAW ratio (no rounding).
    rep_edges = (
        prefix_jaccard_pairs(rt, threshold)
        .where(F.col("jaccard") >= threshold)
        .select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    )
    rep_nodes = rep_ids.select(F.col("rep").alias("node"), *carry)
    return rep_nodes, rep_edges, spokes


def components_over_docs(
    d: DataFrame, threshold: float = 0.95, carry: tuple[str, ...] = ()
) -> DataFrame:
    """(doc_id, component, *carry) for the token-Jaccard ≥ threshold
    closure over ALL documents, with the fixpoint run on the
    contracted representative graph only (r4).

    Identical-set members attach to their rep by a single spoke edge
    and have no other edges, so component(member) = component(rep);
    and since each rep is the MIN doc_id of its identical-set group,
    the component minimum over the full graph equals the minimum over
    its reps — labels are unchanged, the star-contraction just never
    sees the |docs|-sized spoke set.  The fixpoint input therefore
    scales with |distinct token sets| (the same contraction dividend
    as the pair pipelines: 21% smaller at sf0.1, compounding with dup
    density at 100 TB), and spoke members rejoin with ONE broadcast-
    friendly equi-join after convergence.

    ``carry`` (r14): narrow ``d`` columns returned alongside each
    doc's label so consumers skip the join back onto ``documents``
    (see :func:`_near_dup_edge_parts`). Each doc's own attribute is
    carried — reps through the node frame, members through their
    spoke row — never the rep's attribute onto a member.
    """
    rep_nodes, rep_edges, spokes = _near_dup_edge_parts(d, threshold, carry)
    rep_labels = connected_components(rep_nodes, rep_edges)
    member_labels = (
        spokes.join(
            rep_labels.select("node", "component"),
            spokes["dst"] == F.col("node"),
        )
        .select(F.col("src").alias("doc_id"), "component", *carry)
    )
    return rep_labels.select(
        F.col("node").alias("doc_id"), "component", *carry
    ).unionByName(member_labels)


def _large_star(edges: DataFrame) -> DataFrame:
    """One large-star round: for each node u, connect every strictly
    larger neighbor to min(Γ(u) ∪ {u}).

    Emits WITHOUT a distinct: the output has at most one row per
    directed (u, v) input pair, so there is no blowup, and the
    following small-star round's aggregates are duplicate-insensitive
    (min) — the round's single trailing distinct dedups everything.

    The neighborhood minimum is a WINDOW aggregate over the src
    partition (r7): every input row needs (src, dst, m) together, and
    a window delivers m in the SAME single shuffle that groups the
    rows, where the r3-r6 groupBy+join form shuffled the frame twice
    (once to aggregate, once to join m back). The entire-partition
    frame is executed by WindowExec with a buffered, SPILLABLE per-key
    row array (ADVICE r7: an unbounded frame is not a running
    aggregate), so a hub node's neighborhood is materialized in one
    task's window buffer — the same memory/skew exposure as the join
    form, which shuffles the full frame on the same key; the win is
    the saved second shuffle (measured −14.7% wall, jobs 75→55:
    tools/receipts/cc_star_ab_r07.txt).
    """
    nbr = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    m = F.least(F.min("dst").over(Window.partitionBy("src")), F.col("src"))
    return (
        nbr.withColumn("m", m)
        .where(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .where(F.col("src") != F.col("dst"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """One small-star round: orient each edge larger→smaller, then for
    each node u connect its smaller neighbors AND u itself to
    min(Γ⁻(u) ∪ {u}).

    Tolerates duplicate input rows (min is duplicate-insensitive;
    row counts stay bounded by the input size) and dedups once at
    the end. Window form (r7): the per-u minimum rides the single
    u-partition shuffle and each row emits BOTH its folded edge
    (v → m) and its self edge (u → m) through one narrow explode —
    the self edge appears once per input row instead of once per u,
    which the trailing distinct (already required by the fold) absorbs
    for free; the r3-r6 groupBy+join form paid a second shuffle to
    join the mins back.
    """
    e = edges.select(
        F.greatest("src", "dst").alias("u"), F.least("src", "dst").alias("v")
    ).where(F.col("u") != F.col("v"))
    m = F.min("v").over(Window.partitionBy("u"))
    return (
        e.withColumn("m", m)
        .select(
            F.explode(
                F.array(
                    F.struct(F.col("v").alias("src"), F.col("m").alias("dst")),
                    F.struct(F.col("u").alias("src"), F.col("m").alias("dst")),
                )
            ).alias("p")
        )
        .select("p.src", "p.dst")
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def connected_components(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """Min-label connected components (see :func:`cc_with_rounds`)."""
    labels, _ = cc_with_rounds(nodes, edges)
    return labels


def _count_materialize(df: DataFrame) -> int:
    """Materialize a (lazily checkpointed) frame with ONE job and
    return its exact row count.

    The count rides the materializing noop write as an ``observe``
    metric (computed by accumulator during the same pass), where the
    r4-r13 signature aggregate paid a partial-agg job plus a
    single-partition final job per round. Measured (r14): 5 jobs per
    star round -> 4 (SCALING.md §CC).

    ``Observation.get`` waits without a limit, so the wait is bounded
    by :data:`OBSERVATION_WAIT_S`; an observation that has not
    completed by then is counted by ``df.count()`` (one more job on
    the already materialized frame) with a warning.
    """
    from pyspark.sql import Observation

    obs = Observation()
    (
        df.observe(obs, F.count(F.lit(1)).alias("n"))
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    if _observation_ready(obs, OBSERVATION_WAIT_S):
        return int(obs.get["n"])
    warnings.warn(
        f"row-count observation not published within "
        f"{OBSERVATION_WAIT_S:g} s; counting with a separate job",
        stacklevel=2,
    )
    return df.count()


def _observation_ready(obs, timeout_s: float) -> bool:
    """True once ``obs``'s metrics are published, False if that has
    not happened within ``timeout_s`` (polls the JVM observation's
    public ``future()``)."""
    fut = obs._jo.future()
    deadline = time.monotonic() + timeout_s
    while not fut.isCompleted():
        if time.monotonic() >= deadline:
            return False
        time.sleep(0.005)
    return True


def _is_star_forest(e: DataFrame) -> bool:
    """True iff the (deduped, downward-oriented) edge set is a forest
    of stars rooted at each component's minimum — the EXACT fixpoint
    test for the alternating star contraction.

    A small-star output always orients src > dst, so a component is a
    finished star iff (1) no src appears twice (each member points at
    exactly one root) and (2) no node is both a src and a dst (roots
    have no outgoing edges). Both facts ride ONE keyed aggregate over
    the endpoint census; since large-star and small-star preserve
    connectivity (Kiveris et al., SoCC'14) and map stars to
    themselves, star-shape at round k proves labels(round k) equal
    the eventual fixpoint labels — no probabilistic signature, no
    extra detect round.
    """
    ends = e.select(
        F.col("src").alias("n"),
        F.lit(1).alias("as_src"),
        F.lit(0).alias("as_dst"),
    ).unionByName(
        e.select(
            F.col("dst").alias("n"),
            F.lit(0).alias("as_src"),
            F.lit(1).alias("as_dst"),
        )
    )
    violations = (
        ends.groupBy("n")
        .agg(
            F.sum("as_src").alias("ns"),
            F.sum("as_dst").alias("nd"),
        )
        .where(
            (F.col("ns") > 1) | ((F.col("ns") > 0) & (F.col("nd") > 0))
        )
    )
    return violations.isEmpty()


def cc_with_rounds(
    nodes: DataFrame, edges: DataFrame
) -> tuple[DataFrame, int]:
    """Connected components via alternating large-star/small-star.

    ``nodes``: column ``node`` (extra columns pass through to the
    output unchanged — the label join preserves them). ``edges``:
    columns ``src``/``dst`` (direction irrelevant — rounds re-orient
    internally). Returns ((node, component, *extras), rounds) where
    component is the minimum node id in the undirected closure and
    rounds is the number of large+small-star rounds run — O(log n)
    even on chains (tests/test_graph.py asserts rounds ≤ log₂(n) + 2
    adversarially).

    Eager: a handful of Spark jobs per round. Convergence is decided
    by the EXACT star-forest test (:func:`_is_star_forest`) on the
    round that PRODUCES the fixpoint, gated on row-count stability so
    the test runs only when it can plausibly pass — one round and one
    probabilistic-signature pass cheaper than the r4-r13 scheme
    (sig-equality + exceptAll confirm needed a full extra round to
    observe that nothing changed). Fixture evidence: 4 rounds instead
    of 5, jobs 57 -> 43 on the bench key (``BENCH_r13.json`` ->
    ``BENCH_r14.json``; the round count is pinned by tests/test_graph.py).
    Raises ``RuntimeError`` when ``MAX_ITERATIONS`` rounds pass without
    reaching the fixpoint, rather than return labels that may be wrong.
    """
    # Lazy round barriers: each is materialized BY the round's own
    # counting write — one job per barrier instead of a checkpoint job
    # plus a probe job, lineage still truncated (SCALING.md §CC, r4).
    e = barrier(
        edges.select(
            F.least("src", "dst").alias("src"), F.greatest("src", "dst").alias("dst")
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    prev_n = _count_materialize(e)
    for rounds in range(1, MAX_ITERATIONS + 1):
        new = barrier(_small_star(_large_star(e)))
        # The noop write materializes the round's checkpoint (the next
        # round references it twice, so it must be stored first) and
        # carries the row count as a free observe metric.
        n_new = _count_materialize(new)
        # Count stability is a necessary condition for star-shape
        # being REACHED AND REPRODUCIBLE cheaply — a still-contracting
        # round rarely lands exactly on the fixpoint count, and when
        # it does the exact test below settles it. The test itself is
        # exact, so a false gate pass costs one aggregate, never
        # correctness; a gate miss costs at most the one detect round
        # the old scheme always paid.
        converged = n_new == prev_n and _is_star_forest(new)
        e, prev_n = new, n_new
        if converged:
            break
    else:
        raise RuntimeError(
            f"connected components did not converge in {MAX_ITERATIONS} "
            "star rounds"
        )
    # Fixpoint is a star per component: src (member) -> dst (= root,
    # the component min). Roots and isolated nodes label themselves.
    stars = e.groupBy(F.col("src").alias("node")).agg(F.min("dst").alias("component"))
    extras = [c for c in nodes.columns if c != "node"]
    return (
        nodes.join(stars, "node", "left").select(
            "node", F.coalesce("component", "node").alias("component"), *extras
        ),
        rounds,
    )


@query(
    "graph_connected_components",
    oracle="""
    WITH RECURSIVE t AS (
        SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
        FROM documents
    ),
    edges AS (
        SELECT a.doc_id AS src, b.doc_id AS dst
        FROM t a JOIN t b ON a.doc_id <> b.doc_id
        WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
              / len(list_distinct(list_concat(a.toks, b.toks))) >= 0.95
    ),
    reach AS (
        SELECT doc_id AS node, doc_id AS lbl FROM documents
        UNION
        SELECT e.dst AS node, r.lbl
        FROM reach r JOIN edges e ON e.src = r.node
        WHERE r.lbl < e.dst
    )
    SELECT comp_id, count(*) AS n_docs FROM (
        SELECT node, min(lbl) AS comp_id FROM reach GROUP BY node
    ) GROUP BY comp_id HAVING count(*) >= 2
    """,
)
def graph_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dup-cluster summary: connected components of the token-Jaccard
    ≥ 0.95 near-dup graph (same edge predicate as
    ``dedup_near_jaccard``), one row per multi-doc cluster with its
    size; component id = smallest doc_id in the cluster.

    The edge stage is the lossless prefix-filter candidate join
    (linear — never all-pairs, see :func:`_near_dup_edges`); the
    closure is the O(log n)-round star contraction. The oracle's WITH
    RECURSIVE reachability propagates each label only while it is
    smaller than the receiving node (`r.lbl < e.dst`) — the component
    minimum is never blocked, so min(lbl) per node is exact and the
    recursion terminates (UNION-distinct over a finite label×node set).
    """
    d = load_table(spark, sf_dir, "documents")
    return (
        components_over_docs(d, 0.95)
        .groupBy(F.col("component").alias("comp_id"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .where(F.col("n_docs") >= 2)
    )


@query(
    "graph_cluster_keep_best",
    oracle="""
    WITH RECURSIVE t AS (
        SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
        FROM documents
    ),
    edges AS (
        SELECT a.doc_id AS src, b.doc_id AS dst
        FROM t a JOIN t b ON a.doc_id <> b.doc_id
        WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
              / len(list_distinct(list_concat(a.toks, b.toks))) >= 0.95
    ),
    reach AS (
        SELECT doc_id AS node, doc_id AS lbl FROM documents
        UNION
        SELECT e.dst AS node, r.lbl
        FROM reach r JOIN edges e ON e.src = r.node
        WHERE r.lbl < e.dst
    ),
    comp AS (
        SELECT node AS doc_id, min(lbl) AS comp_id FROM reach GROUP BY node
    ),
    keep AS (
        SELECT comp_id,
               max_by(d.doc_id, d.n_chars * 1000000 - d.doc_id) AS kept_id
        FROM comp JOIN documents d ON comp.doc_id = d.doc_id
        GROUP BY comp_id
    )
    SELECT d.lang,
           count(*) AS n_survivors,
           CAST(sum(d.n_chars) AS BIGINT) AS total_chars
    FROM keep JOIN documents d ON d.doc_id = keep.kept_id
    GROUP BY d.lang
    """,
)
def graph_cluster_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production dedup composite: transitive dup CLUSTERS (connected
    components of the Jaccard ≥ 0.95 graph) reduced to one canonical
    representative each — the longest doc, ties to the smallest id
    (unique arithmetic score; max_by tie order is engine-specific) —
    then per-lang survivor stats.

    Pair-level keep-best (``dedup_keep_best``) under-dedups transitive
    chains (A~B, B~C, A≁C keeps two of the three); component-level
    selection is what production corpus dedup does (one survivor per
    cluster). Stages: the linear prefix-filter edge join
    (:func:`_near_dup_edges`), the O(log n)-round star-contraction
    fixpoint (see :func:`cc_with_rounds`), a ``max_by`` per component,
    one aggregate — every stage shuffle-keyed, no driver-side data.
    The scoring attributes (n_chars, lang) are CARRIED through the
    label pipeline (r14, guide §2.4), so the r13 shape's two join-backs
    onto ``documents`` (doc_id-keyed for the score, kept_id-keyed for
    the survivor stats) are gone — the winner's struct already holds
    everything the final aggregate reads. Tail exchanges 8 -> 4,
    bench jobs 57 -> 43 with the r14 fixpoint probe
    (``BENCH_r13.json`` -> ``BENCH_r14.json``).
    """
    d = load_table(spark, sf_dir, "documents")
    comp = components_over_docs(d, 0.95, carry=("n_chars", "lang"))
    score = F.col("n_chars") * 1000000 - F.col("doc_id")
    keep = comp.groupBy("component").agg(
        F.max_by(F.struct("doc_id", "n_chars", "lang"), score).alias("kept")
    )
    return (
        keep.select("kept.*")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_survivors"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


def _pagerank_round_sql(r: int) -> str:
    """One unrolled power-iteration round as DuckDB CTEs, in the
    N-scaled form (pr ≈ 1): pr' = 0.15 + 0.85 · Σ inflow, QUANTIZED
    to 6 decimals at the round boundary.

    r8 (§MONEY residual retirement): the inflow sum itself is now
    EXACT — each contribution pr/d (identical IEEE doubles on both
    engines: pr is on the 6-dp grid, d is an integer) is
    floor-quantized to the 1e-9 grid per edge and summed as exact
    BIGINTs, so the one formerly order-dependent float in the
    fixpoint is gone — the value entering the display round is
    identical on any engine, any partitioning (the
    `scalar_math.sum_sqrt_price` floor-quantize-then-sum
    discipline). Grid + accumulator bounds: a node's inflow
    Σ pr/d ≤ Σ pr = N (each source spreads exactly pr across its
    out-edges), so the per-node integer total is ≤ N·1e9 — inside
    int64 for any N < 9.2e9 parts (~5× the 100 TB part count); a
    plain long sum therefore stays exact at long-sum SPEED, where
    the first-cut decimal(38,0) accumulator cost +45% on the bench
    key (the r6 decimal-cliff lesson, SCALING §MONEY)."""
    return f"""
    r{r} AS (
        SELECT n.pid,
               round(0.15 + 0.85 * (CAST(coalesce(s.inflow_q, 0) AS DOUBLE)
                                    / 1e9), 6) AS pr
        FROM nodes n LEFT JOIN (
            SELECT e.v AS pid,
                   sum(CAST(floor(r.pr / deg.d * 1000000000.0)
                            AS BIGINT)) AS inflow_q
            FROM e0 e
            JOIN r{r - 1} r ON e.u = r.pid
            JOIN deg ON e.u = deg.u
            GROUP BY e.v
        ) s ON n.pid = s.pid
    )"""


_PAGERANK_ORACLE = f"""
    WITH e0 AS (
        SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        FROM lineitem a
        JOIN lineitem b ON a.l_orderkey = b.l_orderkey
                       AND a.l_partkey <> b.l_partkey
    ),
    nodes AS (SELECT DISTINCT l_partkey AS pid FROM lineitem),
    deg AS (SELECT u, count(*) AS d FROM e0 GROUP BY u),
    r0 AS (SELECT pid, 1.0 AS pr FROM nodes),{_pagerank_round_sql(1)},{_pagerank_round_sql(2)},{_pagerank_round_sql(3)}
    SELECT pid, pr FROM r3 ORDER BY pr DESC, pid LIMIT 20
"""


@query("graph_pagerank_rounds", oracle=_PAGERANK_ORACLE)
def graph_pagerank_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the part co-order graph (parts are linked when
    they appear in the same order), THREE unrolled power-iteration
    rounds (damping 0.85, N-scaled so ranks sit near 1), top-20 —
    the 'what sells with everything' centrality that raw co-order
    counts miss (a part co-ordered with other central parts outranks
    one with the same degree of peripheral neighbors).

    Edges are keyed on the order key, so their fan-out is bounded by
    lines-per-order² — never corpus² (the `orders_market_basket`
    bound).  Each round is one edge⋈rank equi-join + a target-keyed
    sum + a left join back onto the node set (isolated parts decay
    to the 0.15 base), with ranks QUANTIZED to 6 decimals at every
    round boundary and the inflow sum itself EXACT (r8: per-edge
    contributions floor-quantized to the 1e-9 grid, summed as exact
    integers — the last order-dependent float in the fixpoint is
    retired, see _pagerank_round_sql).  All rounds chain as ONE lazy
    plan — no driver
    loop; the final top-20 is a distributed TakeOrdered under the
    total (pr DESC, pid) order.
    """
    from ..session import pinned_stage_width

    li = load_table(spark, sf_dir, "lineitem")
    # Everything scale-dependent below switches on ONE condition, the
    # decade regime (autosized width ≥ 64x parallelism: sf10's 4096 at
    # local[32]; sf0.1's 64 and sf1's 1024 stay below it, keeping the
    # bench plan and the sf1 receipts, green unsharded at 8 g since
    # r7). The history of each choice is SCALING.md §PR and §PR8G.
    # In the decade regime the pair distinct and the per-round inflow
    # sum are key-sliced at the pinned width, so each task's hash map
    # is bounded by |keys|/width: they are the two measured 8 g
    # AGGREGATE_OUT_OF_MEMORY sites
    # (tools/receipts/sf10_family_audit_b3A4_r10.txt, r11), and their
    # partial maps barely combine (~1.25x), so the skipped combine
    # costs almost no shuffle volume. deg/nodes keep their partial
    # aggregation (real 3-30x combine, never a failure site); sharding
    # every aggregate measured 3x slower at every decade (r11).
    decade = decade_regime(spark)
    width = pinned_stage_width(spark)

    # The edge set, degrees, and node set are loop-INVARIANT but appear
    # in every unrolled round, and Catalyst performs no cross-round
    # common-subexpression elimination: without a materialization
    # barrier the r3 plan re-derived them per round — 32 lineitem scans
    # and 64 aggregates in one query (PLANS.md r3 receipt).  Lazy
    # barriers materialize each ONCE under the final action (still no
    # driver loop, still a single declared plan) and every round
    # re-reads the stored blocks (+6.5% median, SCALING.md §CC). In the
    # decade regime they go DISK_ONLY: the deserialized edge blocks
    # alone are ~7 GB at sf10, unevictable residency that starved the
    # 8 g pool into a heap OOM even with the pair shard (r11).
    if not decade:
        # r5: one keyed aggregate builds the sorted per-order part
        # set; each unordered pair is generated ONCE (u < v) by a
        # narrow combination expansion over the array — the dominant
        # global distinct then dedups half the rows of the self-join
        # form, and the directed edge set is recovered shuffle-free
        # by unioning the swapped copy of the (barriered) undirected
        # set.  Per-order fan-out is lines-per-order²/2, same bound.
        # Measured ~20% faster than the self-join below
        # (tools/receipts/pagerank_edge_ab_r05.txt).
        und = (
            li.groupBy("l_orderkey")
            .agg(F.array_sort(F.collect_set("l_partkey")).alias("ps"))
            .select(
                F.explode(
                    F.flatten(
                        F.transform(
                            "ps",
                            lambda x, i: F.transform(
                                F.slice(F.col("ps"), i + 2, F.size("ps")),
                                lambda y: F.struct(
                                    x.alias("u"), y.alias("v")
                                ),
                            ),
                        )
                    )
                ).alias("p")
            )
            .select("p.u", "p.v")
            .distinct()
        )
        und = barrier(und)
        e0 = und.unionByName(
            und.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
    else:
        # Decade regime: build edges by the orderkey SELF-JOIN. The
        # group build's collect_set buffers and per-row pair arrays
        # are plain on-heap objects OUTSIDE the managed memory pool —
        # at sf10/8 g the one allocation class that can OOM the heap
        # before any spill can engage (r11 fullcheck attempt: 64-128
        # MB GCLocker array allocations in the edge-build stage). The
        # self-join form is SMJ + sharded distinct end-to-end: every
        # byte lives in managed, spillable operators.
        a = li.select(
            F.col("l_orderkey").alias("okey"), F.col("l_partkey").alias("u")
        )
        b = li.select(
            F.col("l_orderkey").alias("okey"), F.col("l_partkey").alias("v")
        )
        e0 = (
            a.join(b, "okey")
            .where(F.col("u") != F.col("v"))
            .select("u", "v")
            .repartition(width, "u", "v")
            .distinct()
        )
        e0 = barrier(e0, disk=True)
    nodes = barrier(
        li.select(F.col("l_partkey").alias("pid")).distinct(), disk=decade
    )
    deg = barrier(
        e0.groupBy("u").agg(F.count(F.lit(1)).alias("d")), disk=decade
    )
    ranks = nodes.select("pid", F.lit(1.0).alias("pr"))
    for _ in range(3):
        # §MONEY r8: exact inflow — floor-quantize each edge's pr/d
        # contribution to the 1e-9 grid (identical doubles on both
        # engines; floor has no half-way semantics) and sum as plain
        # exact BIGINTs (bound: Σ pr/d ≤ Σ pr = N per target, see
        # _pagerank_round_sql — long-sum speed, no decimal cliff),
        # so no order-dependent float survives the round.
        contrib = (
            e0.join(ranks.withColumnRenamed("pid", "u"), "u")
            .join(deg, "u")
            .select(
                F.col("v").alias("pid"),
                F.floor(F.col("pr") / F.col("d") * F.lit(1e9)).alias("c_q"),
            )
        )
        if decade:
            contrib = contrib.repartition(width, "pid")
        inflow = contrib.groupBy("pid").agg(F.sum("c_q").alias("inflow_q"))
        ranks = nodes.join(inflow, "pid", "left").select(
            "pid",
            F.round(
                0.15
                + 0.85
                * (
                    F.coalesce(F.col("inflow_q"), F.lit(0))
                    .cast("double")
                    / F.lit(1e9)
                ),
                6,
            ).alias("pr"),
        )
    return ranks.orderBy(F.col("pr").desc(), "pid").limit(20)
