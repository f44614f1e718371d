"""Scale-path equivalence tests (SURVEY §5.2.5).

Every exact/declared operator with an approximate 100 TB path gets
its approximation held to a measured accuracy bound against the
exact result on the same data:

- the deterministic banded minhash (dedup_minhash_lsh) vs exact
- the deterministic hyperplane-LSH (sim_ann_lsh) candidates ⊆ truth
- the deterministic IVF index (sim_ivf_topk, sim_ivf_recall_audit):
  recall floor and partition invariance
- approx_count_distinct vs exact countDistinct (rsd bound)
- the algebraic geomean rewrite vs the pandas-UDAF geomean
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from bigdataprojectspring16_spark.llmops import dedup, similarity
from bigdataprojectspring16_spark.tables import load_table

SF_DIR = "/root/testdata/sf0.001"


def _pairs(df):
    return {(r.doc_a, r.doc_b) for r in df.collect()}


def test_banded_minhash_recall_vs_exact(spark):
    exact = _pairs(dedup.dedup_near_jaccard(spark, SF_DIR))
    banded = _pairs(dedup.dedup_minhash_lsh(spark, SF_DIR))
    assert banded <= exact  # candidates are exact-verified
    if exact:
        assert len(banded & exact) / len(exact) >= 0.9


def test_hyperplane_lsh_candidates_are_true_cosines(spark):
    """sim_ann_lsh re-ranks with EXACT cosine: every returned
    (vec_id, cosine) must equal the brute-force cosine for that id."""
    e = load_table(spark, SF_DIR, "embeddings")
    q = e.where(F.col("vec_id") == 0).select(F.col("embedding").alias("q_emb"))
    truth = {
        r.vec_id: r.cosine
        for r in e.where(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.round(
                similarity.dot(F.col("embedding"), F.col("q_emb")), 6
            ).alias("cosine"),
        )
        .collect()
    }
    for r in similarity.sim_ann_lsh(spark, SF_DIR).collect():
        assert truth[r.vec_id] == r.cosine


def test_approx_count_distinct_within_rsd(spark):
    ev = load_table(spark, SF_DIR, "events")
    rows = (
        ev.groupBy("event_type")
        .agg(
            F.count_distinct("user_id").alias("exact"),
            F.approx_count_distinct("user_id", rsd=0.01).alias("approx"),
        )
        .collect()
    )
    for r in rows:
        assert abs(r.approx - r.exact) <= max(3, 0.05 * r.exact)


def test_geomean_algebraic_rewrite_equals_pandas_udaf(spark):
    """exp(avg(ln(x))) — the partial-aggregable 100 TB form — agrees
    with the grouped pandas UDAF to float tolerance."""
    o = load_table(spark, SF_DIR, "orders")
    algebraic = {
        r.o_orderpriority: r.g
        for r in o.groupBy("o_orderpriority")
        .agg(F.exp(F.avg(F.log("o_totalprice"))).alias("g"))
        .collect()
    }

    from bigdataprojectspring16_spark.functions.udfs import geomean_udaf

    udaf = {
        r.o_orderpriority: r.g
        for r in o.groupBy("o_orderpriority")
        .agg(geomean_udaf(F.col("o_totalprice")).alias("g"))
        .collect()
    }
    assert algebraic.keys() == udaf.keys()
    for k in algebraic:
        assert algebraic[k] == pytest.approx(udaf[k], rel=1e-9)


def test_approx_percentile_within_accuracy_of_exact(spark):
    """The one-pass mergeable percentile sketch (the 100 TB twin of
    agg_percentiles) lands within its accuracy bound of the exact
    interpolated percentile."""
    o = load_table(spark, SF_DIR, "orders")
    rows = (
        o.groupBy("o_orderpriority")
        .agg(
            F.expr("percentile(o_totalprice, 0.5)").alias("exact_p50"),
            F.expr("approx_percentile(o_totalprice, 0.5, 1000)").alias("approx_p50"),
        )
        .collect()
    )
    for r in rows:
        assert abs(r.approx_p50 - r.exact_p50) / r.exact_p50 < 0.05


def test_rfm_approx_cutpoints_agree_with_exact(spark):
    """The documented 100 TB drop-in for orders_rfm_segments: swap the
    exact one-row percentile aggregate for approx_percentile. At high
    accuracy the segment census must agree for nearly all customers."""
    from bigdataprojectspring16_spark.tables import load_table as lt

    o = lt(spark, SF_DIR, "orders")
    anchor = F.lit("2001-12-31").cast("timestamp")
    rfm = o.groupBy("o_custkey").agg(
        F.datediff(anchor, F.max("o_orderdate")).alias("recency"),
        F.count(F.lit(1)).alias("freq"),
        F.round(F.sum("o_totalprice"), 2).alias("monetary"),
    )

    def census(cuts_row):
        def bucket(c):
            p = cuts_row
            return (
                F.lit(1)
                + (F.col(c) > F.lit(p[f"{c[0]}1"])).cast("int")
                + (F.col(c) > F.lit(p[f"{c[0]}2"])).cast("int")
                + (F.col(c) > F.lit(p[f"{c[0]}3"])).cast("int")
            )

        return {
            (r.r, r.f, r.m): r.n
            for r in rfm.select(
                bucket("recency").alias("r"),
                bucket("freq").alias("f"),
                bucket("monetary").alias("m"),
            )
            .groupBy("r", "f", "m")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }

    exact_row = rfm.agg(
        *[
            F.percentile(c, q).alias(f"{c[0]}{i}")
            for c in ("recency", "freq", "monetary")
            for i, q in ((1, 0.25), (2, 0.50), (3, 0.75))
        ]
    ).collect()[0]
    approx_row = rfm.agg(
        *[
            F.approx_percentile(c, q, 10000).alias(f"{c[0]}{i}")
            for c in ("recency", "freq", "monetary")
            for i, q in ((1, 0.25), (2, 0.50), (3, 0.75))
        ]
    ).collect()[0]

    exact_census = census(exact_row)
    approx_census = census(approx_row)
    n_total = sum(exact_census.values())
    n_moved = sum(
        abs(exact_census.get(k, 0) - approx_census.get(k, 0))
        for k in set(exact_census) | set(approx_census)
    )
    assert n_moved / n_total <= 0.05


def test_domain_cap_two_level_equals_single_level(spark):
    """sample_domain_cap's salted two-level top-K must select EXACTLY
    the single-level per-source top-K (the oracle states the
    single-level form; this asserts the survivor sets, not just the
    census the declared query returns)."""
    from pyspark.sql import Window

    d = load_table(spark, SF_DIR, "documents")
    k = 50
    h = (F.col("doc_id") * F.lit(2654435761)) % F.lit(4294967296)
    w1 = Window.partitionBy("source", F.pmod(F.col("doc_id"), F.lit(8))).orderBy(
        h.asc(), F.col("doc_id").asc()
    )
    w2 = Window.partitionBy("source").orderBy(h.asc(), F.col("doc_id").asc())
    two_level = {
        (r.source, r.doc_id)
        for r in d.withColumn("rn1", F.row_number().over(w1))
        .where(F.col("rn1") <= k)
        .withColumn("rn", F.row_number().over(w2))
        .where(F.col("rn") <= k)
        .select("source", "doc_id")
        .collect()
    }
    single_level = {
        (r.source, r.doc_id)
        for r in d.withColumn("rn", F.row_number().over(w2))
        .where(F.col("rn") <= k)
        .select("source", "doc_id")
        .collect()
    }
    assert two_level == single_level


def test_deterministic_ivf_recall_audit_floor_and_range(spark):
    """The oracle-checked IVF pair (r5): recall_at_3 values must be
    valid probabilities and the MEAN recall must clear a floor —
    2-of-8 probed cells on near-random unit vectors should still
    find a usable share of true top-3 neighbors; a broken cell join
    (empty candidates) would score 0.0 everywhere."""
    rows = similarity.sim_ivf_recall_audit(spark, SF_DIR).collect()
    assert rows, "no query rows"
    assert all(0.0 <= r.recall_at_3 <= 1.0 for r in rows)
    assert all(r.n_hits == round(r.recall_at_3 * 3) for r in rows)
    mean = sum(r.recall_at_3 for r in rows) / len(rows)
    assert mean >= 0.3, f"mean recall {mean:.3f} below floor"


def test_deterministic_ivf_topk_partition_invariance(spark):
    """The quantized-Lloyd index (and therefore the top-3 sets) must
    not depend on physical layout — the same guarantee the
    kmeans_lloyd_rounds discipline gives: quantized round boundaries
    re-synchronize float aggregation across any partitioning."""
    base = sorted(
        tuple(r) for r in similarity.sim_ivf_topk(spark, SF_DIR).collect()
    )
    e = load_table(spark, SF_DIR, "embeddings").repartition(17)
    v = e.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    assigned, _ = similarity._ivf_cells(v)
    base_cells = sorted(
        (r.vec_id, r.cid)
        for r in similarity._ivf_cells(
            load_table(spark, SF_DIR, "embeddings").select(
                "vec_id", F.col("embedding").cast("array<double>").alias("e")
            )
        )[0].collect()
    )
    alt_cells = sorted((r.vec_id, r.cid) for r in assigned.collect())
    assert base_cells == alt_cells
    assert base  # non-empty top-3 output


def test_knuth_hash_folds_decorrelated(spark):
    """The shared key hash must not degenerate to a key-residue split
    for small moduli (ADVICE r7: KNUTH ≡ 1 mod 5 and mod 10, so the
    old low-order-residue reduction made fold(k, 5) == k % 5 exactly).
    Asserts, for m ∈ {5, 10}: (a) Spark, DuckDB-SQL, and the plain-
    Python reference agree key-for-key; (b) agreement with the raw
    key residue is ≈ 1/m, not 1.0; (c) folds are near-uniform."""
    import duckdb

    from bigdataprojectspring16_spark.functions.hashing import (
        KEY_MOD,
        KNUTH,
        M32,
        knuth_hash,
        knuth_hash_sql,
    )

    keys = list(range(20000))
    for m in (5, 10):
        ref = [(((k % KEY_MOD) * KNUTH) % M32) * m // M32 for k in keys]
        sdf = spark.range(20000).select(
            knuth_hash(F.col("id"), m).alias("h")
        )
        got_spark = [r.h for r in sdf.orderBy("id").collect()]
        assert got_spark == ref
        got_duck = [
            r[0]
            for r in duckdb.sql(
                f"SELECT {knuth_hash_sql('k', m)} FROM (SELECT unnest("
                f"range(20000)) AS k) ORDER BY k"
            ).fetchall()
        ]
        assert got_duck == ref
        same_residue = sum(h == k % m for k, h in zip(keys, ref))
        assert same_residue / len(keys) < 2.0 / m  # old form scored 1.0
        from collections import Counter

        census = Counter(ref)
        for fold in range(m):
            assert abs(census[fold] / len(keys) - 1.0 / m) < 0.02


def test_shuffle_partition_sizing_function():
    """Pin the input-bytes → shuffle-partitions rule (VERDICT r8 item
    2): ceil(bytes/256 KB) rounded up to a power of two, clamped to
    [32 floor, 4096 cap]. Calibration points from the measured sf10
    sweep (bench_sweep_sf10_r08.jsonl): sf1 documents (~6 MB) stays at
    the healthy 32 floor; sf10 documents (~61 MB) lands on 256 — the
    value that restored per-decade linearity."""
    from bigdataprojectspring16_spark.session import (
        shuffle_partitions_for_bytes as size,
    )

    assert size(0) == 32  # floor
    assert size(1) == 32
    assert size(6_055_071) == 32  # sf1 documents.parquet: floor holds
    assert size(10_818_932) == 64  # sf0.1 lineitem: first raise
    assert size(61_001_926) == 256  # sf10 documents: the measured fix
    assert size(140_516_284) == 1024  # sf1 lineitem
    assert size(10**15) == 4096  # cap
    # monotone and power-of-two everywhere
    prev = 0
    for b in [0, 1, 2**18, 2**20, 2**23, 2**25, 2**27, 2**30, 2**34]:
        n = size(b)
        assert n >= prev and (n & (n - 1)) == 0
        prev = n


def test_pinned_stage_width_tracks_autosized_partitions(spark):
    """pinned_stage_width (VERDICT r9 item 4): user-pinned expansion
    repartitions follow the autosized shuffle.partitions — never below
    defaultParallelism, never above the autosize cap. At fixture scale
    (conf == tuned floor 32 ≤ cores) the width is defaultParallelism,
    i.e. bit-identical plans to the pre-fix form."""
    import bigdataprojectspring16_spark.session as S

    key = S._SHUFFLE_PARTITIONS_KEY
    par = spark.sparkContext.defaultParallelism
    orig = spark.conf.get(key)
    try:
        spark.conf.set(key, "32")
        assert S.pinned_stage_width(spark) == max(par, 32)
        spark.conf.set(key, "256")  # the sf10-docs autosized value
        assert S.pinned_stage_width(spark) == max(par, 256)
        spark.conf.set(key, "1000000")  # absurd host value: capped
        assert S.pinned_stage_width(spark) == S._AUTO_PARTITION_CAP
    finally:
        spark.conf.set(key, orig)


def test_autosize_raise_only_and_host_respect(spark):
    """autosize_shuffle_partitions raises monotonically from our own
    values and never clobbers a host-tuned conf in either direction."""
    import bigdataprojectspring16_spark.session as S

    key = S._SHUFFLE_PARTITIONS_KEY
    orig = spark.conf.get(key)
    try:
        spark.conf.set(key, "32")
        S._AUTO_SIZED.pop(spark, None)
        # small input: floor, no change
        assert S.autosize_shuffle_partitions(spark, 10_000) is None
        assert spark.conf.get(key) == "32"
        # big input: raised to the sized value
        assert S.autosize_shuffle_partitions(spark, 61_001_926) == 256
        assert spark.conf.get(key) == "256"
        # bigger input later: raised again (ours), monotone
        assert S.autosize_shuffle_partitions(spark, 140_516_284) == 1024
        # smaller input afterwards: never lowered
        assert S.autosize_shuffle_partitions(spark, 10_000) is None
        assert spark.conf.get(key) == "1024"
        # host tunes mid-session: hands off from then on
        spark.conf.set(key, "48")
        assert S.autosize_shuffle_partitions(spark, 10**12) is None
        assert spark.conf.get(key) == "48"
    finally:
        spark.conf.set(key, orig)
        S._AUTO_SIZED.pop(spark, None)


def test_decade_width_guard_survives_the_optimizer(spark):
    """r13 (the sf50 8 g adjudication): the decade pre-shard must
    appear in the PHYSICAL plan as a REPARTITION_BY_NUM exchange —
    the non-coalescable origin. Its previous placement (above the
    contraction join, which already advertised the same hash
    partitioning) was silently elided by the planner, deferring to an
    AQE-coalescable ENSURE_REQUIREMENTS exchange, so the 150x-explode
    16-minima stage ran at byte-coalesced width with data-
    proportional per-task state. Forced-decade plan at fixture data:
    the guard must survive; fixture-width plan: it must be absent
    (bit-identical plans below the decade gate)."""
    import re

    import bigdataprojectspring16_spark.session as S
    from bigdataprojectspring16_spark import QUERIES

    def doc_id_rbn(plan: str) -> int:
        return len(
            re.findall(
                r"hashpartitioning\(doc_id#\d+L?, \d+\), REPARTITION_BY_NUM",
                plan,
            )
        )

    key = S._SHUFFLE_PARTITIONS_KEY
    orig = spark.conf.get(key)
    par = spark.sparkContext.defaultParallelism
    try:
        spark.conf.set(key, str(64 * par))  # force the decade regime
        plan = (
            QUERIES["dedup_minhash_lsh"](spark, SF_DIR)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert doc_id_rbn(plan) > 0, (
            "decade width guard elided from the physical plan"
        )
    finally:
        spark.conf.set(key, orig)
    plan = (
        QUERIES["dedup_minhash_lsh"](spark, SF_DIR)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # The verify-tail doc_a pin is scale-independent (exactly one
    # RBN); the doc_id decade guard must be absent at fixture width.
    assert doc_id_rbn(plan) == 0, (
        "fixture-scale plan must not carry the decade repartition"
    )
    assert len(re.findall(r"REPARTITION_BY_NUM", plan)) == 1
