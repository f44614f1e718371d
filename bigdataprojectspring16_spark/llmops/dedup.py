"""Category K — deduplication operators (SURVEY §2.K).

Exact dedup is a hash-groupBy (one shuffle on the 256-bit digest —
the 100 TB-safe form: the shuffle key is the hash, never the text).
Near-dup pair generation NEVER runs all-pairs: the exact-result keys
(``dedup_near_jaccard``, ``dedup_ngram_jaccard``,
``dedup_edit_distance``) build candidates with *prefix filtering*
(AllPairs / PPJoin, Bayardo et al. WWW'07) — an equi-join on each
set's rarest-token prefix with a provable recall guarantee, so the
result is bit-identical to the O(n²) oracle while the plan stays a
linear chain of keyed shuffles.  The probabilistic twins
(``dedup_minhash_lsh``, ``dedup_simhash``) keep their band joins and
are recall-tested in tests/test_scale_paths.py.

Every set-similarity key in the package verifies its candidates
through ONE function, :func:`exact_jaccard`, and every prefix-filter
key reaches it through :func:`prefix_jaccard_pairs` (code the sets →
candidates → verify) — the one place to prune or re-code the verify.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..plans.barriers import decade_regime
from ..registry import query
from ..session import pinned_stage_width
from ..tables import load_table

#: Shared frames (the contracted rep/member frames, the prefix
#: postings, the band signatures) are referenced from several plan
#: branches and carry NO barrier: they are scan + narrow-map subtrees
#: (tokenize, digest), cheap to re-evaluate, and a checkpoint's job
#: boundary serializes a DAG the scheduler otherwise overlaps
#: (dedup_minhash_lsh a -19.8% median regression with them barriered,
#: SCALING.md §CC "The inverse result"). The rule: let scan + narrow-map
#: subtrees re-evaluate; materialize a subtree that contains a large
#: shuffle (PageRank's edge build, llmops/graph.py).
#:
#: Every set column is coded as xxhash64 BIGINTs by :func:`coded_sets`
#: (SCALING.md §SF100) — before candidate generation on the prefix-
#: filter path, before the verify alone on the minhash path. Jaccard
#: is a function of the token SET, and |intersect| / |union| survive
#: the coding unless two DISTINCT tokens inside one pair's union
#: collide in 64 bits — P < n²/2⁶⁵ ≈ 1e-15 per pair at ~150-token
#: sets. The shuffles then carry 8-byte codes instead of ~15 B strings
#: (sf30/sf50 fit local scratch only coded,
#: tools/receipts/verify_codes_ab_r12.txt).

#: The near-dup Jaccard threshold every pairwise key verifies at.
#: Code sites import this; the ORACLE SQL strings and docstrings
#: deliberately repeat the literal 0.95 — an oracle that read its
#: threshold from the implementation would no longer be independent
#: truth (ADVICE r13 noted the drift hazard of the tools-side copy;
#: tools/sf100_sharded_sweep.py imports this constant now).
NEAR_DUP_JACCARD = 0.95


def coded_sets(t: DataFrame, set_col: str) -> DataFrame:
    """Replace a set column's string elements with xxhash64 codes — the
    package's one coding function. Applied BEFORE candidate generation
    by :func:`prefix_jaccard_pairs`, so the fact-sized posting explode,
    the document-frequency aggregation, the prefix self-join, AND the
    exact-verify all shuffle 8-byte codes instead of ~15 B strings.

    Candidate generation on codes is valid ONLY for the prefix-filter
    family: its recall-1.0 guarantee holds under ANY global token
    order (the AllPairs pigeonhole needs a total order, not a specific
    one), so re-basing the (df, term) order onto (df, code) — and even
    merging the rare colliding term pair into one posting key — can
    only grow the candidate superset, never drop a true pair; the
    exact verify then yields the identical final result. The minhash
    path codes its verify side only: its signatures are functions of
    the token STRINGS, and re-basing them would re-roll the banding's
    per-copy recall."""
    return t.withColumn(set_col, F.transform(set_col, lambda x: F.xxhash64(x)))


def five_gram_set() -> Column:
    """The distinct character 5-grams of ``text``, as the ngram and
    edit-distance oracles' ``list_distinct(list_transform(
    generate_series(1, length(text) - 4), ...))`` — EMPTY for texts
    shorter than 5 characters, where Spark's ``sequence(1, n)`` would
    descend and emit phantom grams."""
    return F.array_distinct(
        F.expr(
            "CASE WHEN length(text) >= 5 THEN"
            " transform(sequence(1, length(text) - 4),"
            "           i -> substring(text, i, 5))"
            " ELSE CAST(array() AS array<string>) END"
        )
    )


def contract_identical_sets(t: DataFrame, set_col: str = "toks"):
    """Collapse docs with identical sets to one representative.

    Near-dup corpora are dense in *exactly* identical token/gram sets
    (~21% of fixture docs at sf0.1, measured), and every similarity
    primitive in this module — Jaccard, minhash signatures, band
    membership, prefix-filter candidacy — is a function of the set,
    so pair generation and verification need only run on one
    representative per distinct set (the min ``doc_id``).  Returns
    ``(reps, members)``: the representative frame (doc_id, set_col)
    and the doc_id → rep_id map used by :func:`expand_rep_pairs`.

    The fingerprint is md5 over the sorted set with each element
    hashed FIRST (fixed-width 32-hex per element), so the digest is
    injective regardless of what characters the elements contain — a
    raw separator-join would collide e.g. token 'a|b' with the pair
    'a','b' on any separator choice.  A narrow map; the group agg and
    the membership join are keyed on the digest — payload arrays
    never shuffle for the contraction itself.
    """
    # Decade pre-shard (r13, the sf50 8 g adjudication): the width
    # guard used to sit ABOVE the contraction (repartition(width,
    # doc_id) on the returned reps, in the minhash bands builder) —
    # where the physical planner ELIDES it as redundant with the
    # membership join's own hash(doc_id, width) output partitioning.
    # The exchange it deferred to is ENSURE_REQUIREMENTS — exactly
    # the origin AQE may coalesce — so at the decades the expensive
    # downstream maps (150x explode → 16 md5 minima) ran at the
    # byte-coalesced width (~32-108 tasks at sf50) with
    # data-proportional per-task state: the borderline allocations
    # behind r12's sf50 8 g UNABLE_TO_ACQUIRE_MEMORY (receipt
    # tools/receipts/sf50_minhash_r13.txt). Repartitioning the
    # SCAN-DERIVED frame — whose partitioning is unknown, so the
    # exchange survives as non-coalescable REPARTITION_BY_NUM — puts
    # the width guard UNDER the membership join: the join, the reps
    # frame, and every downstream doc_id-clustered stage then ride
    # the pinned width for real. Fixture scale is untouched (the
    # decade gate), and tests/test_scale_paths.py pins the guard's
    # presence in a forced-decade plan.
    if decade_regime(t.sparkSession):
        t = t.repartition(pinned_stage_width(t.sparkSession), "doc_id")
    # NARROW digest frame: the arrays never enter the contraction
    # stages (r11, the sf100 lesson — carrying set_col through the
    # sh join put a 1-2 KB/row external sort in the same stage as
    # the digest hash-agg, and at 5M docs the agg's spill fallback
    # could not acquire its initial page). The group agg and the
    # membership join see only (doc_id, sh) / (sh, rep_id) rows;
    # the representative payload is recovered by ONE keyed join of
    # the winner ids back onto t — the single, unavoidable array
    # shuffle, in a stage of its own with no aggregation map
    # competing for the pool.
    fp = t.select(
        "doc_id",
        F.md5(
            F.concat_ws(
                "", F.transform(F.array_sort(set_col), F.md5)
            )
        ).alias("sh"),
    )
    groups = fp.groupBy("sh").agg(F.min("doc_id").alias("rep_id"))
    members = fp.join(groups, "sh").select("doc_id", "rep_id")
    reps = t.join(
        groups.select(F.col("rep_id").alias("doc_id")), "doc_id"
    ).select("doc_id", set_col)
    return reps, members


def expand_rep_pairs(
    rep_pairs: DataFrame,
    members: DataFrame,
    value_col: str = "jaccard",
    identical_value: float = 1.0,
) -> DataFrame:
    """Losslessly expand representative-level similarity pairs back to
    member-level pairs.

    Inter-group: every (member of A) × (member of B) pair inherits the
    verified rep-pair value (the metric is a set function).  Intra-
    group: identical sets pair at ``identical_value`` exactly — no
    verification needed, and for the banded/prefix paths such pairs
    are candidates by construction (identical sets ⇒ identical
    signatures/prefixes).  Output columns: (doc_a, doc_b, value_col)
    with doc_a < doc_b.  The member map is narrow (two longs per
    doc); both joins stay keyed on rep ids — linear at any scale.
    """
    ma = members.select(
        F.col("rep_id").alias("doc_a"), F.col("doc_id").alias("mem_a")
    )
    mb = members.select(
        F.col("rep_id").alias("doc_b"), F.col("doc_id").alias("mem_b")
    )
    inter_group = (
        rep_pairs.join(ma, "doc_a")
        .join(mb, "doc_b")
        .select(
            F.least("mem_a", "mem_b").alias("doc_a"),
            F.greatest("mem_a", "mem_b").alias("doc_b"),
            value_col,
        )
    )
    intra_group = (
        ma.join(mb.withColumnRenamed("doc_b", "doc_a"), "doc_a")
        .where(F.col("mem_a") < F.col("mem_b"))
        .select(
            F.col("mem_a").alias("doc_a"),
            F.col("mem_b").alias("doc_b"),
            F.lit(identical_value).alias(value_col),
        )
    )
    return inter_group.unionByName(intra_group)


def prefix_filter_candidates(
    t: DataFrame, threshold: float, set_col: str = "toks"
) -> DataFrame:
    """Candidate pairs for Jaccard ≥ ``threshold`` via prefix filtering.

    AllPairs/PPJoin (Bayardo et al., "Scaling Up All Pairs Similarity
    Search", WWW'07): order every set by a global token order
    (ascending document frequency — rarest first — ties by term), and
    keep only each set's *prefix* of length

        p(x) = |x| - ceil(threshold * |x|) + 1.

    Guarantee: if J(x, y) ≥ t then |x∩y| ≥ t·|x∪y| ≥ t·max(|x|,|y|),
    so the globally-smallest common token sits within the first
    |x| - ceil(t·|x|) + 1 tokens of x AND the first
    |y| - ceil(t·|y|) + 1 tokens of y — the prefix equi-join has
    recall 1.0, deterministically (no banding luck involved).

    The join key is a single token; ordering by ascending frequency
    makes prefix buckets the *rarest* tokens, which is what bounds
    bucket sizes at 100 TB (a stop-word never lands in a prefix unless
    the set is nearly all stop-words).

    Two further PPJoin prunes — both lossless — run before the caller
    ever touches a full set array (the arrays are the expensive part
    to verify, so candidate count is the cost driver):

    - length filter: J ≥ t ⟹ t·|x| ≤ |y| ≤ |x|/t (inter ≤ min size,
      union ≥ max size);
    - positional filter: the globally-smallest common token w sits at
      position ra in x and rb in y (= the min matched prefix
      positions, since positions follow the global order), and every
      common token lies at-or-after w ⟹
      inter ≤ min(|x| - ra, |y| - rb) + 1, which must reach the
      equivalent-overlap bound ceil(t/(1+t)·(|x|+|y|)).

    Input ``t``: (doc_id, set_col); output: (doc_a, doc_b) with
    doc_a < doc_b, a superset of the true ≥-threshold pairs to be
    exact-verified by the caller.

    Rounding guard: callers (and the DuckDB oracles) apply the final
    filter as ``round(J, 6) >= threshold``, which admits raw J down to
    threshold − 5e-7.  All three prunes therefore cut at
    ``threshold − 1e-6`` — strictly below the rounding half-width —
    so a pair that passes the rounded filter can never be pruned from
    the candidate set (needs ~1e6+ distinct set elements to matter;
    unreachable at fixture scale, conceivable at production scale).
    """
    threshold = threshold - 1e-6
    tok = t.select(
        "doc_id", F.size(set_col).alias("sz"), F.explode(set_col).alias("term")
    )
    freq = tok.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("doc_id").orderBy("df", "term")
    prefix = (
        tok.join(freq, "term")
        .withColumn("rn", F.row_number().over(w))
        .where(
            F.col("rn")
            <= F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")) + 1
        )
        .select("doc_id", "sz", "term", "rn")
    )
    # The self-join EXPANDS the small posting table ~1000x; AQE sizes
    # the join's input stages off the tiny postings and would coalesce
    # them to one partition, serializing the expansion + the partial
    # pair-aggregation. A user repartition by the join key is exempt
    # from AQE coalescing and pins the fan-out (both sides derive from
    # it, so the join stays co-partitioned — one pinned shuffle total).
    # Width is scale-aware (session.pinned_stage_width tracks the
    # autosized shuffle.partitions): at the sf10 decade a fixed
    # defaultParallelism width left per-task expansion slices growing
    # with the data and OOMed the default 8 g heap (VERDICT r9 item 4).
    width = pinned_stage_width(t.sparkSession)
    prefix = prefix.repartition(width, "term")
    pa = prefix.select(
        F.col("doc_id").alias("doc_a"),
        F.col("sz").alias("sz_a"),
        "term",
        F.col("rn").alias("rn_a"),
    )
    pb = prefix.select(
        F.col("doc_id").alias("doc_b"),
        F.col("sz").alias("sz_b"),
        "term",
        F.col("rn").alias("rn_b"),
    )
    need = F.ceil(
        F.lit(threshold / (1.0 + threshold)) * (F.col("sz_a") + F.col("sz_b"))
    )
    return (
        pa.join(pb, "term")
        .where(
            (F.col("doc_a") < F.col("doc_b"))
            & (F.col("sz_b") >= threshold * F.col("sz_a"))
            & (F.col("sz_a") >= threshold * F.col("sz_b"))
        )
        .groupBy("doc_a", "doc_b", "sz_a", "sz_b")
        .agg(F.min("rn_a").alias("ra"), F.min("rn_b").alias("rb"))
        .where(
            F.least(F.col("sz_a") - F.col("ra"), F.col("sz_b") - F.col("rb")) + 1
            >= need
        )
        .select("doc_a", "doc_b")
        # Pin the caller's verify fan-out: the surviving candidate set
        # is small enough for AQE to coalesce the downstream exact-
        # verify (which re-expands cost per row via array ops) onto
        # too few cores. Same scale-aware width as the posting join.
        # Pinned on doc_a ALONE (r13): every caller's verify starts
        # with a join on doc_a, and a (doc_a, doc_b) pin does not
        # satisfy that clustering — it was re-exchanged on doc_a by
        # an AQE-managed ENSURE_REQUIREMENTS shuffle sized off the
        # thin pre-expansion input (the sf50 8 g borderline; see
        # _minhash_candidate_pairs). doc_a skew is bounded by the
        # identical-set contraction upstream.
        .repartition(width, "doc_a")
    )


def exact_jaccard(
    t: DataFrame,
    cand: DataFrame,
    set_col: str = "toks",
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """The exact set-Jaccard verify: ``cand(doc_a, doc_b)`` joined to
    both sides of ``t(doc_id, set_col, *carry)``.

    Returns ``(doc_a, doc_b, <c>_a, <c>_b for c in carry, jaccard)``
    with the UNROUNDED ``|a ∩ b| / |a ∪ b|`` (array_intersect /
    array_union treat their inputs as sets). It does not filter: each
    caller applies the predicate its oracle states — ``round(jaccard,
    6) >= t`` for the pair keys, raw ``jaccard >= t`` for the graph
    edges and the edit-distance candidates.
    """

    def side(s: str) -> DataFrame:
        return t.select(
            F.col("doc_id").alias(f"doc_{s}"),
            *[F.col(c).alias(f"{c}_{s}") for c in carry],
            F.col(set_col).alias(f"{set_col}_{s}"),
        )

    a, b = F.col(f"{set_col}_a"), F.col(f"{set_col}_b")
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return (
        cand.join(side("a"), "doc_a")
        .join(side("b"), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            *[f"{c}_{s}" for c in carry for s in "ab"],
            (inter.cast("double") / union).alias("jaccard"),
        )
    )


def prefix_jaccard_pairs(
    t: DataFrame,
    threshold: float,
    set_col: str = "toks",
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Every pair of ``t(doc_id, set_col, *carry)`` that may reach
    Jaccard ``threshold``, exact-verified: :func:`coded_sets` →
    :func:`prefix_filter_candidates` → :func:`exact_jaccard`. The
    output is :func:`exact_jaccard`'s, unfiltered; the candidates are
    a superset of the pairs with ``round(J, 6) >= threshold``."""
    t = coded_sets(t, set_col)
    cand = prefix_filter_candidates(t, threshold, set_col)
    return exact_jaccard(t, cand, set_col, carry)


@query(
    "dedup_exact_docs",
    oracle="""
    SELECT
        sha256(text) AS content_hash,
        count(*) AS n_copies,
        min(doc_id) AS keeper_doc_id
    FROM documents
    GROUP BY sha256(text)
    """,
)
def dedup_exact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate grouping by SHA-256 content hash.

    Keeps one representative (min doc_id) per hash group — the
    dedup decision a pipeline would apply with a filter on
    ``keeper_doc_id = doc_id``. The fixtures contain a handful of
    exact dups at sf0.1 and none at sf0.01 (measured), so group
    sizes keep the query non-trivial either way.
    """
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy(F.sha2(F.col("text"), 256).alias("content_hash")).agg(
        F.count(F.lit(1)).alias("n_copies"),
        F.min("doc_id").alias("keeper_doc_id"),
    )


@query(
    "dedup_near_jaccard",
    oracle="""
    WITH t AS (
        SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
        FROM documents
    )
    SELECT doc_a, doc_b, jaccard FROM (
        SELECT
            a.doc_id AS doc_a,
            b.doc_id AS doc_b,
            round(
                CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
                / len(list_distinct(list_concat(a.toks, b.toks))),
                6
            ) AS jaccard
        FROM t a JOIN t b ON a.doc_id < b.doc_id
    ) WHERE jaccard >= 0.95
    """,
)
def dedup_near_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs: token-set Jaccard ≥ 0.95, exact result.

    Pairs come from :func:`prefix_jaccard_pairs`: the lossless
    prefix-filter equi-join (recall 1.0 by the prefix pigeonhole
    argument, see :func:`prefix_filter_candidates`), then the exact
    Jaccard on candidates only.  Identical output to the oracle's all-pairs
    CTE with a linear plan: no nested-loop join anywhere
    (tests/test_plan_shapes.py asserts the physical plan).
    """
    d = load_table(spark, sf_dir, "documents")
    full = d.select(
        "doc_id", F.array_distinct(F.split(F.col("text"), " ")).alias("toks")
    )
    # Jaccard and prefix-filter candidacy are set functions, and the
    # prefix pigeonhole guarantee holds under ANY global token order
    # (including the contracted corpus's df order) — so the quadratic
    # phases run on one representative per distinct token set.
    t, m = contract_identical_sets(full)
    rep_pairs = (
        prefix_jaccard_pairs(t, NEAR_DUP_JACCARD)
        .withColumn("jaccard", F.round("jaccard", 6))
        .where(F.col("jaccard") >= NEAR_DUP_JACCARD)
    )
    return expand_rep_pairs(rep_pairs, m)


def _minhash_contraction(spark: SparkSession, sf_dir: str):
    """Phase 1 of the minhash pipeline: tokenized docs contracted to
    one representative per distinct token set. Split out (r13) so the
    decade harness — tools/sf100_sharded_sweep.py, the disk-bounded
    seventh scale point — can drive the pipeline phase-at-a-time with
    parquet persistence between phase-isolated sessions;
    ``dedup_minhash_lsh`` is exactly these ``_minhash_*`` helpers
    chained, so the declared plan is unchanged by the split. The
    tool persists :func:`coded_sets` of this frame and verifies each
    pair shard with the same :func:`exact_jaccard` as phase 4."""
    d = load_table(spark, sf_dir, "documents")
    full = d.select(
        "doc_id", F.array_distinct(F.split(F.col("text"), " ")).alias("toks")
    )
    return contract_identical_sets(full)


def _minhash_bands_frame(spark: SparkSession, t: DataFrame) -> DataFrame:
    """Phase 2: banded minhash signatures (doc_id, sz, band, sig) off
    the contracted rep frame (16 hash fns, 4 bands of 4)."""
    # Decade width guard (r11, the sf100 lesson; RELOCATED r13): the
    # 16-minima partial map holds ~600 B per distinct doc, so its
    # stage must run at pinned width, not an AQE-coalesced one. The
    # pre-explode repartition that used to sit here was silently
    # ELIDED by the physical planner — the contraction join below it
    # already advertised hash(doc_id, width), so the planner dropped
    # the "redundant" user exchange and the stage actually ran at
    # whatever AQE coalesced the join's ENSURE exchange to. The guard
    # now lives INSIDE contract_identical_sets, on the scan-derived
    # frame where REPARTITION_BY_NUM survives; `t` arrives here
    # already pinned in the decade regime.
    toks = t.select("doc_id", F.explode("toks").alias("term"))
    minh = toks.groupBy("doc_id").agg(
        *[
            F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("term")))).alias(f"h{i}")
            for i in range(16)
        ]
    )
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(
                    F.concat(*[F.col(f"h{4 * b + j}") for j in range(4)])
                ).alias("sig"),
            )
            for b in range(4)
        ]
    )
    sizes = t.select("doc_id", F.size("toks").alias("sz"))
    bands = (
        minh.join(sizes, "doc_id")
        .select("doc_id", "sz", F.explode(band_structs).alias("bs"))
        .select(
            "doc_id", "sz", F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig")
        )
    )
    return bands


def _minhash_candidate_pairs(spark: SparkSession, bands: DataFrame) -> DataFrame:
    """Phase 3: deduped candidate pairs from the banded self-join,
    with the lossless PPJoin length prune, pinned at scale-aware
    width for the verify fan-out."""
    cand = (
        bands.select(
            F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"), "band", "sig"
        )
        .join(
            bands.select(
                F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"), "band", "sig"
            ),
            ["band", "sig"],
        )
        # Lossless length prune (PPJoin): J >= 0.95 forces the set
        # sizes within 5% of each other — drop impossible candidates
        # before the expensive exact-verify join.  Cut 1e-6 below the
        # threshold so the rounded final filter (round(J,6) >= 0.95)
        # can never admit a pair this prune dropped.
        .where(
            (F.col("doc_a") < F.col("doc_b"))
            & (F.col("sz_b") >= (NEAR_DUP_JACCARD - 1e-6) * F.col("sz_a"))
            & (F.col("sz_a") >= (NEAR_DUP_JACCARD - 1e-6) * F.col("sz_b"))
        )
        .select("doc_a", "doc_b")
    )
    # ONE pinned exchange closes candidate generation (r13, the sf50
    # 8 g adjudication). The old tail was distinct() → repartition
    # (doc_a, doc_b): the dedup agg exchanged on (doc_a, doc_b), and
    # because hash(doc_a, doc_b) does NOT satisfy the verify join's
    # doc_a clustering, EnsureRequirements re-exchanged the stream on
    # doc_a — an AQE-managed shuffle sized off the THIN pre-expansion
    # input (67 tasks for a 40 GB-output stage at sf50, 2.3 GB peak
    # task memory — the borderline allocation behind r12's
    # UNABLE_TO_ACQUIRE_MEMORY; tools/receipts/sf50_minhash_r13.txt).
    # Repartitioning on doc_a BEFORE the dedup makes hash(doc_a)
    # satisfy BOTH the (doc_a, doc_b) dedup distribution (equal pairs
    # share doc_a) and the verify join's clustering, so the dedup agg
    # and the expanding exact-verify all ride this one user-pinned,
    # scale-aware-width exchange — AQE never sizes the expansion, and
    # the whole tail is one shuffle shorter at every scale. doc_a
    # skew is bounded by the identical-set contraction upstream: a
    # viral duplicate cluster collapses to ONE representative before
    # pairing.
    return cand.repartition(
        pinned_stage_width(spark), "doc_a"
    ).dropDuplicates(["doc_a", "doc_b"])


def _minhash_verify_pairs(t: DataFrame, cand: DataFrame) -> DataFrame:
    """Phase 4: exact token-set Jaccard on the candidates, coded
    map-side (xxhash64, see the module's coding note), threshold 0.95.
    The bands above stay on the token strings (coded_sets docstring)."""
    return (
        exact_jaccard(coded_sets(t, "toks"), cand)
        .withColumn("jaccard", F.round("jaccard", 6))
        .where(F.col("jaccard") >= NEAR_DUP_JACCARD)
    )


@query(
    "dedup_minhash_lsh",
    oracle="""
    WITH toks AS (
        SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS term
        FROM documents
    ),
    minh AS (
        SELECT doc_id, i, min(md5(i || ':' || term)) AS h
        FROM toks CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS i)
        GROUP BY doc_id, i
    ),
    bands AS (
        SELECT doc_id, i // 4 AS band, md5(string_agg(h, '' ORDER BY i)) AS sig
        FROM minh GROUP BY doc_id, i // 4
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a
        JOIN bands b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
    ),
    t AS (
        SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
        FROM documents
    )
    SELECT doc_a, doc_b,
           round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
                 / len(list_distinct(list_concat(a.toks, b.toks))), 6) AS jaccard
    FROM cand JOIN t a ON a.doc_id = doc_a JOIN t b ON b.doc_id = doc_b
    WHERE jaccard >= 0.95
    """,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH banding near-dup join, exact-verified on candidates.

    The full shingle→minhash→band→bucket-join pipeline expressed in
    deterministic DataFrame ops (oracle-checkable, unlike MLlib's
    ``MinHashLSH`` whose hash coefficients are seed-dependent):

    1. minhash_i(doc) = min over tokens of ``md5(i || ':' || term)``
       (string-min of a salted MD5 ≡ a random permutation per i).
       All 16 minima come from ONE map-side-combinable aggregation
       over the exploded tokens — 16 ``min`` agg columns, not a
       tokens×16 crossJoin: the shuffle carries 16 partial minima per
       (doc, partition), never the multiplied token stream.
    2. band signature = md5 of the 4 minhashes in each of 4 bands —
       a narrow projection off the 16 agg columns (no second
       shuffle); docs sharing any band signature become candidate
       pairs — at 100 TB this is the only pair-generating join and
       it is keyed on (band, sig), linear in corpus size, never
       O(n²).
    3. Exact token-set Jaccard recomputed on candidates only
       (LSH proposes, exact verifies); threshold 0.95.

    Recall vs the exact pairwise query is 1.0 at sf0.01 (measured;
    asserted ≥0.9 in tests/test_scale_paths.py).

    Identical-set contraction (r3, the graph path's trick applied
    here): ~21% of fixture docs share an identical token set
    (measured 5000→3935 at sf0.1), and near-dup corpora are exactly
    where that happens at scale.  Minhash signatures, band
    membership, and Jaccard are all functions of the token SET, so
    the pipeline runs on one representative per distinct set (the
    min doc_id) and the result expands losslessly afterwards:
    members of one group pair with jaccard exactly 1.0 (always
    band-mates — identical signatures), and an inter-group member
    pair is a candidate iff its representative pair is.  At sf0.1
    this halves the verify load (1.85 M → 0.93 M candidate pairs)
    and emits 35.6 k result pairs without touching a token array.
    """
    t, m = _minhash_contraction(spark, sf_dir)
    bands = _minhash_bands_frame(spark, t)
    cand = _minhash_candidate_pairs(spark, bands)
    rep_pairs = _minhash_verify_pairs(t, cand)
    return expand_rep_pairs(rep_pairs, m)


@query(
    "dedup_simhash",
    oracle="""
    -- One-pass 32-accumulator form, mirroring the Spark side: the
    -- earlier toks x 32 cross join materialized an 800M-row stream at
    -- sf10 and OOMed the oracle even with spilling; 32 agg columns
    -- over the 25M-token stream is the same math at 1/32 the rows.
    WITH toks AS (
        SELECT doc_id, md5(term) AS h FROM (
            SELECT doc_id, unnest(string_split(text, ' ')) AS term
            FROM documents)
    ),
    bitacc AS (
        SELECT doc_id,
           sum(2 * (((strpos('0123456789abcdef', substr(h, 1, 1)) - 1) // 8) % 2) - 1) AS acc0,
           sum(2 * (((strpos('0123456789abcdef', substr(h, 1, 1)) - 1) // 4) % 2) - 1) AS acc1,
           sum(2 * (((strpos('0123456789abcdef', substr(h, 1, 1)) - 1) // 2) % 2) - 1) AS acc2,
           sum(2 * (((strpos('0123456789abcdef', substr(h, 1, 1)) - 1) // 1) % 2) - 1) AS acc3,
           sum(2 * (((strpos('0123456789abcdef', substr(h, 2, 1)) - 1) // 8) % 2) - 1) AS acc4,
           sum(2 * (((strpos('0123456789abcdef', substr(h, 2, 1)) - 1) // 4) % 2) - 1) AS acc5,
           sum(2 * (((strpos('0123456789abcdef', substr(h, 2, 1)) - 1) // 2) % 2) - 1) AS acc6,
           sum(2 * (((strpos('0123456789abcdef', substr(h, 2, 1)) - 1) // 1) % 2) - 1) AS acc7,
           sum(2 * (((strpos('0123456789abcdef', substr(h, 3, 1)) - 1) // 8) % 2) - 1) AS acc8,
           sum(2 * (((strpos('0123456789abcdef', substr(h, 3, 1)) - 1) // 4) % 2) - 1) AS acc9,
           sum(2 * (((strpos('0123456789abcdef', substr(h, 3, 1)) - 1) // 2) % 2) - 1) AS acc10,
           sum(2 * (((strpos('0123456789abcdef', substr(h, 3, 1)) - 1) // 1) % 2) - 1) AS acc11,
           sum(2 * (((strpos('0123456789abcdef', substr(h, 4, 1)) - 1) // 8) % 2) - 1) AS acc12,
           sum(2 * (((strpos('0123456789abcdef', substr(h, 4, 1)) - 1) // 4) % 2) - 1) AS acc13,
           sum(2 * (((strpos('0123456789abcdef', substr(h, 4, 1)) - 1) // 2) % 2) - 1) AS acc14,
           sum(2 * (((strpos('0123456789abcdef', substr(h, 4, 1)) - 1) // 1) % 2) - 1) AS acc15,
           sum(2 * (((strpos('0123456789abcdef', substr(h, 5, 1)) - 1) // 8) % 2) - 1) AS acc16,
           sum(2 * (((strpos('0123456789abcdef', substr(h, 5, 1)) - 1) // 4) % 2) - 1) AS acc17,
           sum(2 * (((strpos('0123456789abcdef', substr(h, 5, 1)) - 1) // 2) % 2) - 1) AS acc18,
           sum(2 * (((strpos('0123456789abcdef', substr(h, 5, 1)) - 1) // 1) % 2) - 1) AS acc19,
           sum(2 * (((strpos('0123456789abcdef', substr(h, 6, 1)) - 1) // 8) % 2) - 1) AS acc20,
           sum(2 * (((strpos('0123456789abcdef', substr(h, 6, 1)) - 1) // 4) % 2) - 1) AS acc21,
           sum(2 * (((strpos('0123456789abcdef', substr(h, 6, 1)) - 1) // 2) % 2) - 1) AS acc22,
           sum(2 * (((strpos('0123456789abcdef', substr(h, 6, 1)) - 1) // 1) % 2) - 1) AS acc23,
           sum(2 * (((strpos('0123456789abcdef', substr(h, 7, 1)) - 1) // 8) % 2) - 1) AS acc24,
           sum(2 * (((strpos('0123456789abcdef', substr(h, 7, 1)) - 1) // 4) % 2) - 1) AS acc25,
           sum(2 * (((strpos('0123456789abcdef', substr(h, 7, 1)) - 1) // 2) % 2) - 1) AS acc26,
           sum(2 * (((strpos('0123456789abcdef', substr(h, 7, 1)) - 1) // 1) % 2) - 1) AS acc27,
           sum(2 * (((strpos('0123456789abcdef', substr(h, 8, 1)) - 1) // 8) % 2) - 1) AS acc28,
           sum(2 * (((strpos('0123456789abcdef', substr(h, 8, 1)) - 1) // 4) % 2) - 1) AS acc29,
           sum(2 * (((strpos('0123456789abcdef', substr(h, 8, 1)) - 1) // 2) % 2) - 1) AS acc30,
           sum(2 * (((strpos('0123456789abcdef', substr(h, 8, 1)) - 1) // 1) % 2) - 1) AS acc31
        FROM toks GROUP BY doc_id
    ),
    fp AS (
        SELECT doc_id, concat(CASE WHEN acc0 > 0 THEN '1' ELSE '0' END, CASE WHEN acc1 > 0 THEN '1' ELSE '0' END, CASE WHEN acc2 > 0 THEN '1' ELSE '0' END, CASE WHEN acc3 > 0 THEN '1' ELSE '0' END, CASE WHEN acc4 > 0 THEN '1' ELSE '0' END, CASE WHEN acc5 > 0 THEN '1' ELSE '0' END, CASE WHEN acc6 > 0 THEN '1' ELSE '0' END, CASE WHEN acc7 > 0 THEN '1' ELSE '0' END, CASE WHEN acc8 > 0 THEN '1' ELSE '0' END, CASE WHEN acc9 > 0 THEN '1' ELSE '0' END, CASE WHEN acc10 > 0 THEN '1' ELSE '0' END, CASE WHEN acc11 > 0 THEN '1' ELSE '0' END, CASE WHEN acc12 > 0 THEN '1' ELSE '0' END, CASE WHEN acc13 > 0 THEN '1' ELSE '0' END, CASE WHEN acc14 > 0 THEN '1' ELSE '0' END, CASE WHEN acc15 > 0 THEN '1' ELSE '0' END, CASE WHEN acc16 > 0 THEN '1' ELSE '0' END, CASE WHEN acc17 > 0 THEN '1' ELSE '0' END, CASE WHEN acc18 > 0 THEN '1' ELSE '0' END, CASE WHEN acc19 > 0 THEN '1' ELSE '0' END, CASE WHEN acc20 > 0 THEN '1' ELSE '0' END, CASE WHEN acc21 > 0 THEN '1' ELSE '0' END, CASE WHEN acc22 > 0 THEN '1' ELSE '0' END, CASE WHEN acc23 > 0 THEN '1' ELSE '0' END, CASE WHEN acc24 > 0 THEN '1' ELSE '0' END, CASE WHEN acc25 > 0 THEN '1' ELSE '0' END, CASE WHEN acc26 > 0 THEN '1' ELSE '0' END, CASE WHEN acc27 > 0 THEN '1' ELSE '0' END, CASE WHEN acc28 > 0 THEN '1' ELSE '0' END, CASE WHEN acc29 > 0 THEN '1' ELSE '0' END, CASE WHEN acc30 > 0 THEN '1' ELSE '0' END, CASE WHEN acc31 > 0 THEN '1' ELSE '0' END) AS bits
        FROM bitacc
    ),
    bands AS (
        SELECT doc_id, bits, b AS band, substr(bits, b * 8 + 1, 8) AS sig
        FROM fp CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS b)
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.bits AS bits_a, b.bits AS bits_b
        FROM bands a
        JOIN bands b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, hamming FROM (
        SELECT doc_a, doc_b,
               len(list_filter(generate_series(1, 32),
                               i -> substr(bits_a, i, 1) <> substr(bits_b, i, 1)
                   )) AS hamming
        FROM cand
    ) WHERE hamming <= 2
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup: 32-bit fingerprints, banded candidate join.

    Classic Charikar simhash with a deterministic bit source (MD5
    nibble bits — identical arithmetic in the DuckDB oracle):

    1. per (doc, bit j): sum of ±1 over all tokens, + when bit j of
       md5(term) is set; fingerprint bit = sign of the sum (tf-
       weighted because duplicate tokens are NOT distinct here).
       All 32 accumulators come from ONE map-side-combinable
       aggregation (32 ``sum`` agg columns over the exploded tokens,
       md5 computed once per token) — not a tokens×32 crossJoin.
    2. fingerprint = 32-char '0'/'1' string; banded into 4 bytes.
       Candidates share ≥1 exact byte — the pigeonhole guarantee:
       hamming ≤ 3 ⟹ at least one of 4 bands is identical, so the
       bucket join (linear, keyed on (band, sig)) loses nothing at
       the declared hamming ≤ 2 cut. Never O(n²) at 100 TB.
    3. exact Hamming distance on candidates, keep ≤ 2.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("term")
    ).select("doc_id", F.md5("term").alias("h"))
    # bit j of the 128-bit md5, via its hex nibble j div 4.
    bit = [
        F.expr(
            f"((instr('0123456789abcdef', substr(h, {j // 4 + 1}, 1)) - 1)"
            f" div {2 ** (3 - j % 4)}) % 2"
        )
        for j in range(32)
    ]
    acc = toks.groupBy("doc_id").agg(
        *[F.sum(2 * bit[j] - 1).alias(f"acc{j}") for j in range(32)]
    )
    fp = acc.select(
        "doc_id",
        F.concat(
            *[
                F.when(F.col(f"acc{j}") > 0, "1").otherwise("0")
                for j in range(32)
            ]
        ).alias("bits"),
    )
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.expr(f"substr(bits, {b * 8 + 1}, 8)").alias("sig"),
            )
            for b in range(4)
        ]
    )
    bands = (
        fp.withColumn("fp", F.conv(F.col("bits"), 2, 10).cast("long"))
        .select("doc_id", "fp", F.explode(band_structs).alias("bs"))
        .select(
            "doc_id", "fp", F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig")
        )
        # Pin the band self-join's fan-out: the per-doc band table is
        # tiny (4 rows/doc) so AQE would coalesce the join inputs to
        # one partition and serialize the candidate expansion.
        .repartition(pinned_stage_width(spark), "band", "sig")
    )
    cand = (
        bands.select(
            F.col("doc_id").alias("doc_a"), F.col("fp").alias("fp_a"), "band", "sig"
        )
        .join(
            bands.select(
                F.col("doc_id").alias("doc_b"), F.col("fp").alias("fp_b"), "band", "sig"
            ),
            ["band", "sig"],
        )
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "fp_a", "fp_b")
        .distinct()
    )
    # Hamming distance as bit_count(xor) on the integer fingerprint —
    # one ALU op per pair instead of 32 substring comparisons;
    # identical arithmetic to the oracle's per-character filter.
    hamming = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    return (
        cand.select("doc_a", "doc_b", hamming.cast("long").alias("hamming"))
        .where(F.col("hamming") <= 2)
    )


@query(
    "dedup_ngram_jaccard",
    oracle="""
    WITH t AS (
        SELECT doc_id,
               list_distinct(list_transform(
                   generate_series(1, length(text) - 4),
                   i -> substr(text, i, 5))) AS grams
        FROM documents
    )
    SELECT doc_a, doc_b, jaccard FROM (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               round(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
                     / len(list_distinct(list_concat(a.grams, b.grams))), 6
               ) AS jaccard
        FROM t a JOIN t b ON a.doc_id < b.doc_id
    ) WHERE jaccard >= 0.9
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup by character-5-gram Jaccard ≥ 0.9, exact result.

    Character shingles catch reorder/suffix edits that token sets
    miss; the token-set baseline saturates on this corpus's tiny
    vocabulary while 5-grams isolate the 25 true near-dup pairs at
    sf0.01 (measured).  Same lossless prefix-filter candidate join as
    :func:`dedup_near_jaccard` (5-grams are just another set column),
    exact gram-Jaccard on candidates — identical to the all-pairs
    oracle, linear plan.
    """
    d = load_table(spark, sf_dir, "documents")
    t_full = d.select("doc_id", five_gram_set().alias("grams"))
    t, m = contract_identical_sets(t_full, set_col="grams")
    rep_pairs = (
        prefix_jaccard_pairs(t, 0.9, "grams")
        .withColumn("jaccard", F.round("jaccard", 6))
        .where(F.col("jaccard") >= 0.9)
    )
    return expand_rep_pairs(rep_pairs, m)


@query(
    "dedup_embedding_cosine",
    oracle="""
    WITH de AS (
        SELECT doc_id, lang, CAST(embedding AS DOUBLE[]) AS emb
        FROM documents JOIN embeddings ON doc_id = vec_id
    )
    SELECT doc_a, doc_b, cosine, lang_a, lang_b,
           CAST(lang_a = lang_b AS BOOLEAN) AS same_lang
    FROM (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               round(list_dot_product(a.emb, b.emb), 6) AS cosine,
               a.lang AS lang_a, b.lang AS lang_b
        FROM de a JOIN de b ON a.doc_id < b.doc_id
    ) WHERE cosine >= 0.45
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic near-dup: document pairs with embedding cosine ≥ 0.45.

    documents ⋈ embeddings (doc_id = vec_id) carries text metadata
    alongside the vector; cosine ≡ dot product on the L2-normalized
    embeddings. Threshold 0.45 fits the measured distribution (max
    pairwise cosine 0.51 — the corpus embeddings are near-orthogonal,
    so 14 pairs clear the cut at sf0.01). Exact: at a threshold this
    far below the LSH collision regime no bucketing is recall-safe,
    so the all-pairs compute runs through the GEMM-tiled equi-join
    (:func:`..similarity.blocked_all_pairs` — balanced B² tasks, no
    nested loop); a *high*-threshold semantic sweep would instead use
    ``sim_ann_lsh``'s hyperplane buckets as a linear candidate stage.
    """
    from .similarity import blocked_all_pairs, dot

    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "embeddings")
    de = d.join(e, d.doc_id == e.vec_id).select("doc_id", "lang", "embedding")
    a = de.select(
        F.col("doc_id").alias("doc_a"),
        F.col("lang").alias("lang_a"),
        F.col("embedding").alias("emb_a"),
    )
    b = de.select(
        F.col("doc_id").alias("doc_b"),
        F.col("lang").alias("lang_b"),
        F.col("embedding").alias("emb_b"),
    )
    return (
        blocked_all_pairs(a, b, "doc_a", "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(dot(F.col("emb_a"), F.col("emb_b")), 6).alias("cosine"),
            "lang_a",
            "lang_b",
            (F.col("lang_a") == F.col("lang_b")).alias("same_lang"),
        )
        .where(F.col("cosine") >= 0.45)
    )


@query(
    "dedup_edit_distance",
    oracle="""
    WITH t AS (
        SELECT doc_id, text,
               list_distinct(list_transform(
                   generate_series(1, length(text) - 4),
                   i -> substr(text, i, 5))) AS grams
        FROM documents
    ),
    cand AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.text AS ta, b.text AS tb
        FROM t a JOIN t b ON a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
              / len(list_distinct(list_concat(a.grams, b.grams))) >= 0.9
    )
    SELECT doc_a, doc_b,
           levenshtein(ta, tb) AS edit_dist,
           round(levenshtein(ta, tb)
                 / CAST(greatest(length(ta), length(tb)) AS DOUBLE), 6)
               AS rel_dist
    FROM cand
    """,
)
def dedup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-exact near-dup verification: Levenshtein distance on
    shingle-candidate pairs (5-gram Jaccard ≥ 0.9, same predicate as
    ``dedup_ngram_jaccard``), absolute and relative to the longer doc.

    Edit distance is O(len²) per pair — never run it all-pairs. The
    lossless prefix-filter equi-join proposes candidates, the exact
    5-gram Jaccard prunes them to the ~25 true pairs, and the JVM
    ``levenshtein`` runs only on survivors. This candidates→expensive-
    verify split is the canonical two-stage dedup topology, and every
    stage is a keyed shuffle — no nested-loop join in the plan.
    """
    d = load_table(spark, sf_dir, "documents")
    t = d.select("doc_id", "text", five_gram_set().alias("grams"))
    # The gram arrays dominate every shuffle and ship coded
    # (prefix_jaccard_pairs); the levenshtein runs on the carried text.
    lev = F.levenshtein(F.col("text_a"), F.col("text_b"))
    return (
        prefix_jaccard_pairs(t, 0.9, "grams", carry=("text",))
        .where(F.col("jaccard") >= 0.9)
        .select(
            "doc_a",
            "doc_b",
            lev.alias("edit_dist"),
            F.round(
                lev
                / F.greatest(F.length("text_a"), F.length("text_b")).cast("double"),
                6,
            ).alias("rel_dist"),
        )
    )
