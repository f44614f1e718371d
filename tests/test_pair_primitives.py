"""Property-based checks for the r2 pair-generation primitives.

The prefix-filter candidate join's recall guarantee is a theorem
(AllPairs/PPJoin prefix pigeonhole + length + positional bounds) —
Hypothesis hunts for a counterexample on adversarial small set
families the fixtures don't contain (duplicate sets, subsets, empty
intersections, single-token sets). The star-contraction CC is held
to a union-find ground truth AND its O(log n) round bound on random
graphs.
"""

from __future__ import annotations

import math

from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

from bigdataprojectspring16_spark.llmops.dedup import (
    contract_identical_sets,
    expand_rep_pairs,
    five_gram_set,
    prefix_filter_candidates,
    prefix_jaccard_pairs,
)
from bigdataprojectspring16_spark.llmops.graph import cc_with_rounds

SLOW = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

ALPHABET = ["a", "b", "c", "d", "e", "f", "g", "h"]

doc_sets = st.lists(
    st.sets(st.sampled_from(ALPHABET), min_size=1, max_size=6),
    min_size=0,
    max_size=10,
)


@given(sets=doc_sets, threshold=st.sampled_from([0.5, 0.8, 0.9, 0.95]))
@SLOW
def test_prefix_filter_candidates_superset_of_true_pairs(spark, sets, threshold):
    """Every pair with Jaccard >= threshold appears in the candidate
    output — the lossless-recall theorem, adversarially probed."""
    rows = [(i, sorted(s)) for i, s in enumerate(sets)]
    truth = set()
    for i, a in enumerate(sets):
        for j in range(i + 1, len(sets)):
            b = sets[j]
            if len(a & b) / len(a | b) >= threshold:
                truth.add((i, j))
    t = spark.createDataFrame(rows, "doc_id long, toks array<string>")
    got = {
        (r.doc_a, r.doc_b)
        for r in prefix_filter_candidates(t, threshold).collect()
    }
    assert truth <= got, f"missed true pairs: {truth - got}"


@given(
    n=st.integers(min_value=1, max_value=12),
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=11),
            st.integers(min_value=0, max_value=11),
        ),
        min_size=0,
        max_size=15,
    ),
)
@SLOW
def test_star_contraction_matches_union_find(spark, n, edges):
    """cc_with_rounds == union-find ground truth on random graphs
    (self-loops, duplicates, out-of-range edges dropped), within the
    log-round bound."""
    edges = [(a, b) for a, b in edges if a < n and b < n]
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    truth = {x: find(x) for x in range(n)}

    nodes = spark.range(n).select(F.col("id").alias("node"))
    e = spark.createDataFrame(
        edges or [(0, 0)], "src long, dst long"
    )  # empty DataFrames need a schema-carrying row; (0,0) is a no-op self-loop
    labels, rounds = cc_with_rounds(nodes, e)
    got = {r.node: r.component for r in labels.collect()}
    assert got == truth
    assert rounds <= math.log2(max(n, 2)) + 2


@given(
    sets=st.lists(
        st.sets(st.sampled_from(ALPHABET), min_size=1, max_size=6),
        min_size=1,
        max_size=6,
    ),
    copies=st.lists(st.integers(min_value=1, max_value=3), min_size=1, max_size=6),
    threshold=st.sampled_from([0.5, 0.8, 0.95]),
)
@SLOW
def test_contraction_pipeline_equals_all_pairs(spark, sets, copies, threshold):
    """contract -> prefix_jaccard_pairs -> expand must equal the
    brute-force all-pairs result on corpora WITH identical-set
    duplicates (the case the contraction exists for).  Hypothesis
    drives duplicate multiplicities per distinct set, so intra-group,
    inter-group, and singleton paths are all exercised.  A carried
    column must ride with its own side of each pair."""
    # Materialize the corpus: set i repeated copies[i % len(copies)] times.
    docs = []
    for i, s in enumerate(sets):
        for _ in range(copies[i % len(copies)]):
            docs.append((len(docs), sorted(s)))
    truth = set()
    by_id = {i: set(toks) for i, toks in docs}
    for i in range(len(docs)):
        for j in range(i + 1, len(docs)):
            a, b = by_id[i], by_id[j]
            if len(a & b) / len(a | b) >= threshold:
                truth.add((i, j))

    t = spark.createDataFrame(docs, "doc_id long, toks array<string>")
    reps, members = contract_identical_sets(t)
    tagged = reps.withColumn("tag", F.concat(F.lit("d"), F.col("doc_id")))
    pairs = prefix_jaccard_pairs(tagged, threshold, carry=("tag",)).where(
        F.col("jaccard") >= threshold
    )
    for r in pairs.collect():
        assert (r.tag_a, r.tag_b) == (f"d{r.doc_a}", f"d{r.doc_b}")
    got = {
        (r.doc_a, r.doc_b)
        for r in expand_rep_pairs(
            pairs.select("doc_a", "doc_b", "jaccard"), members
        ).collect()
    }
    assert got == truth

def test_contraction_fingerprint_separator_injective(spark):
    """Distinct sets whose tokens contain the old separator character
    must NOT be merged: {'a|b'} vs {'a','b'} collide under a raw
    '|'-join fingerprint but are distinct under the per-element-hash
    digest (round-3 review finding)."""
    t = spark.createDataFrame(
        [(0, ["a|b"]), (1, ["a", "b"])], "doc_id long, toks array<string>"
    )
    reps, members = contract_identical_sets(t)
    assert reps.count() == 2
    assert members.select("rep_id").distinct().count() == 2


def test_short_text_grams_are_empty_not_descending(spark):
    """Texts shorter than the gram width must produce an EMPTY gram
    set on the Spark side, matching DuckDB's empty generate_series —
    Spark's sequence(1, n) DESCENDS for n < 1 and would emit phantom
    grams (round-3 hardening). The builder is the one both gram keys
    (dedup_ngram_jaccard, dedup_edit_distance) use."""
    df = spark.createDataFrame([("ab",), ("",), ("abcdef",)], "text string")
    grams = df.select(five_gram_set().alias("g")).collect()
    assert [r.g for r in grams] == [[], [], ["abcde", "bcdef"]]
