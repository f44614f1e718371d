"""Connected-components loop correctness (llmops/graph.py).

The driver-sim differential (WITH RECURSIVE oracle) covers the
documents-table query; these tests pin the propagation loop itself on
adversarial synthetic graphs the near-dup corpus never produces —
long chains (diameter ≫ 1 forces multiple iterations) and label
flow *against* the edge direction symmetrization.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from bigdataprojectspring16_spark.llmops.graph import (
    cc_with_rounds,
    connected_components,
    graph_connected_components,
)

SF_DIR = "/root/testdata/sf0.001"


def _cc(spark, edge_pairs, n_nodes):
    nodes = spark.range(n_nodes).select(F.col("id").alias("node"))
    e = spark.createDataFrame(edge_pairs, "src long, dst long")
    e = e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    out = connected_components(nodes, e)
    return {r.node: r.component for r in out.collect()}

def test_chain_converges_to_min_label(spark):
    # 0-1-2-3-4 chain plus isolated 5: diameter 4 needs >1 iteration.
    got = _cc(spark, [(0, 1), (1, 2), (2, 3), (3, 4)], 6)
    assert got == {0: 0, 1: 0, 2: 0, 3: 0, 4: 0, 5: 5}

def test_min_label_flows_upstream(spark):
    # Edges all point toward the minimum: 4->3->2->1->0. The
    # symmetrized pass must still pull label 0 back up the chain.
    got = _cc(spark, [(4, 3), (3, 2), (2, 1), (1, 0)], 5)
    assert set(got.values()) == {0}

def test_two_components_and_self_loop(spark):
    got = _cc(spark, [(0, 1), (2, 2), (3, 4), (4, 5)], 6)
    assert got == {0: 0, 1: 0, 2: 2, 3: 3, 4: 3, 5: 3}

def test_chain_rounds_logarithmic(spark):
    """The Kiveris star-contraction must beat O(diameter): a length-64
    path graph (diameter 64, worst case for one-hop propagation) has
    to converge in ≤ log₂(n) + 2 rounds."""
    import math

    n = 64
    nodes = spark.range(n).select(F.col("id").alias("node"))
    e = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "src long, dst long"
    )
    labels, rounds = cc_with_rounds(nodes, e)
    assert {r.component for r in labels.collect()} == {0}
    assert rounds <= math.log2(n) + 2, f"{rounds} rounds on a {n}-chain"


def test_documents_clusters_match_pair_closure(spark):
    """Every near-dup pair's endpoints share a component, and each
    reported cluster size ≥ 2 is consistent with the pair graph."""
    from bigdataprojectspring16_spark.llmops.dedup import dedup_near_jaccard

    pairs = [(r.doc_a, r.doc_b) for r in dedup_near_jaccard(spark, SF_DIR).collect()]
    out = graph_connected_components(spark, SF_DIR).collect()
    sizes = {r.comp_id: r.n_docs for r in out}
    assert all(n >= 2 for n in sizes.values())
    # union-find ground truth from the pairs
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    truth: dict = {}
    for x in parent:
        truth.setdefault(find(x), set()).add(x)
    expect = {min(m): len(m) for m in truth.values() if len(m) >= 2}
    assert sizes == expect


def test_components_over_contraction_equals_full_graph(spark):
    """The r4 rep-graph fixpoint (components_over_docs: CC over
    distinct token sets + spoke label extension) must label every doc
    identically to the full member-level graph at any threshold —
    including a denser 0.8 graph whose clusters mix identical-set
    groups with cross-set near-dup chains."""
    from bigdataprojectspring16_spark.llmops.graph import (
        _near_dup_edges,
        components_over_docs,
    )
    from bigdataprojectspring16_spark.tables import load_table

    d = load_table(spark, SF_DIR, "documents")
    for threshold in (0.8, 0.95):
        full = connected_components(
            d.select(F.col("doc_id").alias("node")),
            _near_dup_edges(d, threshold),
        )
        got = sorted(
            (r.doc_id, r.component)
            for r in components_over_docs(d, threshold).collect()
        )
        want = sorted((r.node, r.component) for r in full.collect())
        assert got == want, f"threshold {threshold}"


def test_is_star_forest_exactness(spark):
    """The r14 convergence test must accept exactly the star forests
    (downward-oriented, one edge per member, roots never sources) and
    reject every mid-contraction shape — it replaced the r4-r13
    probabilistic signature + exceptAll detect round, so its exactness
    IS the fixpoint-stop correctness."""
    from bigdataprojectspring16_spark.llmops.graph import _is_star_forest

    def f(pairs):
        return _is_star_forest(
            spark.createDataFrame(pairs, "src long, dst long")
        )

    assert f([(2, 1), (3, 1)])  # one star
    assert f([(2, 1), (3, 1), (5, 4)])  # forest of two stars
    assert f([])  # empty edge set (all isolated) is converged
    assert not f([(3, 2), (2, 1)])  # chain: 2 is both src and dst
    assert not f([(3, 1), (3, 2)])  # src 3 appears twice
    assert not f([(2, 1), (3, 1), (4, 3)])  # star plus a tail


def test_cc_rounds_stop_on_producing_round(spark):
    """A 2-node pair contracts to its star in round 1; the r14
    star-forest stop must detect that on the producing round (the
    r4-r13 scheme needed round 2 to observe sig stability)."""
    nodes = spark.range(2).select(F.col("id").alias("node"))
    e = spark.createDataFrame([(0, 1)], "src long, dst long")
    labels, rounds = cc_with_rounds(nodes, e)
    assert rounds == 1
    assert {r.node: r.component for r in labels.collect()} == {0: 0, 1: 0}


def test_cc_nodes_extra_columns_pass_through(spark):
    """Extra node-frame columns must survive the label join unchanged
    (the r14 carry path rides this)."""
    nodes = spark.createDataFrame(
        [(0, "a"), (1, "b"), (2, "c")], "node long, tag string"
    )
    e = spark.createDataFrame([(0, 1)], "src long, dst long")
    labels = connected_components(nodes, e)
    got = {(r.node, r.component, r.tag) for r in labels.collect()}
    assert got == {(0, 0, "a"), (1, 0, "b"), (2, 2, "c")}


def test_components_carry_matches_join_back(spark):
    """carry=(...) must label identically to carry=() and return each
    doc's OWN attributes (never the rep's) — value-equal to the r13
    join-back it replaces."""
    from bigdataprojectspring16_spark.llmops.graph import (
        components_over_docs,
    )
    from bigdataprojectspring16_spark.tables import load_table

    d = load_table(spark, SF_DIR, "documents")
    plain = components_over_docs(d, 0.95)
    joined = sorted(
        (r.doc_id, r.component, r.n_chars, r.lang)
        for r in plain.join(
            d.select("doc_id", "n_chars", "lang"), "doc_id"
        ).collect()
    )
    carried = sorted(
        (r.doc_id, r.component, r.n_chars, r.lang)
        for r in components_over_docs(
            d, 0.95, carry=("n_chars", "lang")
        ).collect()
    )
    assert carried == joined


def test_bench_fixture_round_count_pinned(spark):
    """The sf0.1 bench fixture's rep graph must converge in exactly 4
    star rounds with the r14 star-forest stop (r13 sig-equality
    needed 5) — this pins graph_cluster_keep_best's bench job count
    deterministic (jobs_unstable stays empty; VERDICT r13 item 1)."""
    from bigdataprojectspring16_spark.llmops.graph import (
        _near_dup_edge_parts,
    )
    from bigdataprojectspring16_spark.tables import load_table

    d = load_table(spark, "/root/testdata/sf0.1", "documents")
    rep_nodes, rep_edges, _spokes = _near_dup_edge_parts(d, 0.95)
    _labels, rounds = cc_with_rounds(rep_nodes, rep_edges)
    assert rounds == 4, f"sf0.1 rep graph converged in {rounds} rounds"


def test_cc_raises_when_fixpoint_does_not_converge(spark, monkeypatch):
    """Running out of rounds before the star-forest test passes must
    raise, never return labels that may be wrong: a 16-node chain is
    not a star after one round."""
    import pytest

    from bigdataprojectspring16_spark.llmops import graph

    monkeypatch.setattr(graph, "MAX_ITERATIONS", 1)
    nodes = spark.range(16).select(F.col("id").alias("node"))
    e = spark.createDataFrame(
        [(i, i + 1) for i in range(15)], "src long, dst long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        cc_with_rounds(nodes, e)


def test_unpublished_observation_falls_back_to_count(spark, monkeypatch):
    """A round-count observation that never completes must not block:
    past the bounded wait each round is counted by a separate job, with
    a warning, and labels and round counts equal the normal path's."""
    import pytest

    from bigdataprojectspring16_spark.llmops import graph

    nodes = spark.range(16).select(F.col("id").alias("node"))
    e = spark.createDataFrame(
        [(i, i + 1) for i in range(15)], "src long, dst long"
    )
    labels, rounds = cc_with_rounds(nodes, e)
    normal = sorted(tuple(r) for r in labels.collect())

    monkeypatch.setattr(graph, "_observation_ready", lambda obs, timeout_s: False)
    with pytest.warns(UserWarning, match="observation not published"):
        fb_labels, fb_rounds = cc_with_rounds(nodes, e)
    assert fb_rounds == rounds
    assert sorted(tuple(r) for r in fb_labels.collect()) == normal


def test_carry_rejects_internal_column_names(spark):
    """A carry column named like an internal one would shadow it."""
    import pytest

    from bigdataprojectspring16_spark.llmops.graph import (
        components_over_docs,
    )
    from bigdataprojectspring16_spark.tables import load_table

    d = load_table(spark, SF_DIR, "documents").withColumn(
        "component", F.lit(0)
    )
    with pytest.raises(ValueError, match="component"):
        components_over_docs(d, 0.95, carry=("component",))
