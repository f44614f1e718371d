"""Category K — vector similarity search (SURVEY §2.K).

Embeddings are L2-normalized 64-dim float arrays (measured ‖v‖₂=1),
so cosine ≡ dot product. Dot products run JVM-side via
``zip_with`` + ``aggregate`` in double precision — no Python in the
loop. Brute force is the declared/oracle-checked baseline; its
scale paths are deterministic too, so the oracle checks them as
well: ``sim_ann_lsh`` (random-hyperplane LSH buckets) and
``sim_ivf_topk`` (a quantized-Lloyd IVF index), both held to recall
and partition invariance in tests/test_scale_paths.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..tables import load_table


def dot(a: Column, b: Column) -> Column:
    """Dot product of two array<float> columns, computed in double."""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def blocked_all_pairs(
    left: DataFrame,
    right: DataFrame,
    id_left: str,
    id_right: str,
    n_blocks: int = 8,
) -> DataFrame:
    """EXACT all-pairs (id_left < id_right) as a block-tiled equi-join.

    All-pairs scoring is O(n²) compute no matter what — when the exact
    result is required (no ANN recall bargain), the scalable physical
    form is the GEMM-style 2-D tiling, not a broadcast nested-loop:
    each row gets a block id = pmod(hash(id), B); the left side keeps
    its own block as the first key and enumerates all B values of the
    second, the right side mirrors — so every unordered pair of rows
    meets at exactly one of the B² (block, block) join keys (the
    id_left < id_right filter kills the transposed orientation).

    Properties at 100 TB: shuffle volume is 2·n·B rows (choose
    B ≈ sqrt(n²/rows-per-task), so tasks stay memory-bounded), the
    join is a plain shuffled equi-join on (_ba, _bb) with B² evenly
    hashed keys — balanced parallelism, no corpus broadcast, no
    BroadcastNestedLoopJoin (tests/test_plan_shapes.py asserts it).
    """
    all_blocks = F.explode(F.array(*[F.lit(i) for i in range(n_blocks)]))
    # The replicated inputs are 2·n·B small rows while the join output
    # is n² — AQE would size the join stage off the inputs and
    # coalesce the B² tiles onto a few cores, defeating the tiling;
    # a user repartition on the tile key is exempt from coalescing
    # and keeps the join co-partitioned (no further exchange).
    parallelism = left.sparkSession.sparkContext.defaultParallelism
    l = (
        left.withColumn("_ba", F.pmod(F.hash(F.col(id_left)), F.lit(n_blocks)))
        .withColumn("_bb", all_blocks)
        .repartition(parallelism, "_ba", "_bb")
    )
    r = (
        right.withColumn("_bb", F.pmod(F.hash(F.col(id_right)), F.lit(n_blocks)))
        .withColumn("_ba", all_blocks)
        .repartition(parallelism, "_ba", "_bb")
    )
    return (
        l.join(r, ["_ba", "_bb"])
        .where(F.col(id_left) < F.col(id_right))
        .drop("_ba", "_bb")
    )


@query(
    "sim_knn_cosine",
    oracle="""
    SELECT
        e.vec_id AS vec_id,
        round(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                               CAST(q.embedding AS DOUBLE[])), 6) AS cosine
    FROM embeddings e,
         (SELECT embedding FROM embeddings WHERE vec_id = 0) q
    WHERE e.vec_id <> 0
    ORDER BY cosine DESC, e.vec_id
    LIMIT 5
    """,
)
def sim_knn_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force k-NN: top-5 cosine neighbors of vec_id=0.

    The 1-row query side is broadcast; the scan side streams — at
    100 TB this is one pass over the corpus + TakeOrdered(5),
    which is exactly how you'd serve a single query without an
    index.
    """
    e = load_table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") == 0).select(F.col("embedding").alias("q_emb"))
    return (
        e.where(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.round(dot(F.col("embedding"), F.col("q_emb")), 6).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(5)
    )


@query(
    "sim_pairs_threshold",
    oracle="""
    WITH p AS (
        SELECT
            a.vec_id AS vec_a,
            b.vec_id AS vec_b,
            round(list_dot_product(CAST(a.embedding AS DOUBLE[]),
                                   CAST(b.embedding AS DOUBLE[])), 6) AS cosine
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    )
    SELECT vec_a, vec_b, cosine FROM p WHERE cosine >= 0.4
    """,
)
def sim_pairs_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All vector pairs with cosine ≥ 0.4 (embedding near-dup sweep).

    Exact — the 0.4 threshold is far below any LSH collision regime
    (arccos(0.4) ≈ 66°, near-random hyperplane bits), so recall-safe
    bucketing cannot prune here; instead the all-pairs compute runs
    through :func:`blocked_all_pairs` — the GEMM-tiled equi-join —
    which keeps tasks balanced and memory-bounded at any corpus size.
    For a *high* threshold sweep, the linear candidate generator is
    ``sim_ann_lsh``'s hyperplane buckets. Threshold 0.4 chosen from
    the measured similarity distribution (max pairwise cosine 0.51 —
    a 0.95 cut would be vacuously empty).
    """
    e = load_table(spark, sf_dir, "embeddings")
    a = e.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("emb_a"))
    b = e.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("emb_b"))
    return (
        blocked_all_pairs(a, b, "vec_a", "vec_b")
        .select(
            "vec_a",
            "vec_b",
            F.round(dot(F.col("emb_a"), F.col("emb_b")), 6).alias("cosine"),
        )
        .where(F.col("cosine") >= 0.4)
    )


@query(
    "knn_per_label_centroid",
    oracle="""
    WITH ex AS (
        SELECT
            label,
            CAST(unnest(generate_series(1, len(embedding))) AS BIGINT) AS dim,
            unnest(CAST(embedding AS DOUBLE[])) AS v
        FROM embeddings
    )
    SELECT label, dim, round(avg(v), 6) AS centroid_v
    FROM ex
    GROUP BY label, dim
    """,
)
def knn_per_label_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label mean vector (centroid) as (label, dim, value) rows.

    posexplode → two-phase avg keyed on (label, dim): 64·|labels|
    groups regardless of corpus size — trivially 100 TB-safe.
    """
    e = load_table(spark, sf_dir, "embeddings")
    return (
        e.select(
            "label", F.posexplode(F.col("embedding")).alias("pos", "v")
        )
        .groupBy(
            "label", (F.col("pos") + 1).cast("long").alias("dim")
        )
        .agg(F.round(F.avg(F.col("v").cast("double")), 6).alias("centroid_v"))
    )


@query(
    "multimodal_join",
    oracle="""
    SELECT
        lang,
        count(*) AS n_docs,
        round(avg(n_chars), 4) AS avg_chars,
        round(avg(CAST(embedding[1] AS DOUBLE)), 6) AS avg_dim1,
        round(avg(CAST(label AS DOUBLE)), 4) AS avg_label
    FROM documents JOIN embeddings ON doc_id = vec_id
    GROUP BY lang
    """,
)
def multimodal_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixed-modality frame: text + vector + metadata in one pipeline.

    documents ⋈ embeddings on doc_id = vec_id (1:1 aligned ids,
    measured), then per-language stats that consume a text-derived
    column, a vector component, and a label — demonstrating
    multimodal columns flowing through a single relational plan.
    """
    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "embeddings")
    return (
        d.join(e, d.doc_id == e.vec_id)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
            F.round(
                F.avg(F.element_at(F.col("embedding"), 1).cast("double")), 6
            ).alias("avg_dim1"),
            F.round(F.avg(F.col("label").cast("double")), 4).alias("avg_label"),
        )
    )


@query(
    "sim_ann_lsh",
    oracle="""
    WITH proj AS (
        SELECT j, d,
               strpos('0123456789abcdef',
                      substr(md5(j || ',' || d), 1, 1)) - 8.5 AS w
        FROM (SELECT unnest(generate_series(0, 3)) AS j)
        CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS d)
    ),
    ex AS (
        SELECT vec_id,
               CAST(unnest(generate_series(1, len(embedding))) AS INT) - 1 AS d,
               unnest(CAST(embedding AS DOUBLE[])) AS v
        FROM embeddings
    ),
    sums AS (
        SELECT vec_id, j, sum(v * w) AS acc
        FROM ex JOIN proj USING (d) GROUP BY vec_id, j
    ),
    sig AS (
        SELECT vec_id,
               string_agg(CASE WHEN acc > 0 THEN '1' ELSE '0' END,
                          '' ORDER BY j) AS bucket
        FROM sums GROUP BY vec_id
    ),
    cand AS (
        SELECT s.vec_id
        FROM sig s JOIN (SELECT bucket FROM sig WHERE vec_id = 0) q USING (bucket)
        WHERE s.vec_id <> 0
    )
    SELECT e.vec_id AS vec_id,
           round(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                  CAST(q0.embedding AS DOUBLE[])), 6) AS cosine
    FROM embeddings e
    JOIN cand USING (vec_id),
         (SELECT embedding FROM embeddings WHERE vec_id = 0) q0
    ORDER BY cosine DESC, e.vec_id
    LIMIT 5
    """,
)
def sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-5 for vec_id=0 via random-hyperplane LSH buckets.

    The scale path for :func:`sim_knn_cosine`, expressed with
    deterministic hyperplanes so the DuckDB oracle reproduces it
    bit-for-bit, which MLlib's seeded ``BucketedRandomProjectionLSH``
    could not):

    1. 4 pseudo-random hyperplanes: weight(j, d) = first MD5 nibble
       of ``j || ',' || d`` shifted to be symmetric around 0 — a
       256-row broadcast table, never materialized per-vector.
    2. bucket = 4 sign bits of the projections (16 buckets); the
       index build is one pass + a tiny (vec_id, j) aggregation.
    3. candidates = the query vector's bucket only (~1/16 of the
       corpus); exact cosine re-ranks candidates, top-5.

    At 100 TB the bucket column becomes the partition/cluster key,
    so a query touches one partition instead of the full corpus —
    the same IVF-style pruning this query demonstrates.
    """
    e = load_table(spark, sf_dir, "embeddings")
    proj = (
        spark.range(4)
        .select(F.col("id").alias("j"))
        .crossJoin(spark.range(64).select(F.col("id").alias("d")))
        .select(
            "j",
            "d",
            F.expr(
                "instr('0123456789abcdef', substr(md5(concat(j, ',', d)), 1, 1)) - 8.5"
            ).alias("w"),
        )
    )
    ex = e.select(
        "vec_id", F.posexplode(F.col("embedding")).alias("d", "v")
    ).withColumn("v", F.col("v").cast("double"))
    sums = (
        ex.join(F.broadcast(proj), "d")
        .groupBy("vec_id", "j")
        .agg(F.sum(F.col("v") * F.col("w")).alias("acc"))
    )
    sig = (
        sums.select(
            "vec_id", "j", F.when(F.col("acc") > 0, "1").otherwise("0").alias("c")
        )
        .groupBy("vec_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("j", "c"))),
                    lambda x: x["c"],
                ),
                "",
            ).alias("bucket")
        )
    )
    qsig = sig.where(F.col("vec_id") == 0).select("bucket")
    cand = (
        sig.join(F.broadcast(qsig), "bucket")
        .where(F.col("vec_id") != 0)
        .select("vec_id")
    )
    q_emb = e.where(F.col("vec_id") == 0).select(F.col("embedding").alias("q_emb"))
    return (
        e.join(cand, "vec_id")
        .crossJoin(F.broadcast(q_emb))
        .select(
            "vec_id",
            F.round(dot(F.col("embedding"), F.col("q_emb")), 6).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(5)
    )


@query(
    "sim_centroid_assign",
    oracle="""
    WITH dims AS (
        SELECT label, u.i AS pos, avg(embedding[u.i]) AS v
        FROM embeddings, unnest(generate_series(1, len(embedding))) AS u(i)
        GROUP BY label, u.i
    ),
    cents AS (
        SELECT label AS c_label, list(v ORDER BY pos) AS centroid
        FROM dims GROUP BY label
    ),
    assigned AS (
        SELECT vec_id, e.label,
               max_by(c_label,
                      list_dot_product(CAST(embedding AS DOUBLE[]), centroid)
               ) AS assigned
        FROM embeddings e CROSS JOIN cents
        GROUP BY vec_id, e.label
    )
    SELECT label, assigned, count(*) AS n
    FROM assigned GROUP BY label, assigned
    """,
)
def sim_centroid_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid assignment (one k-means E-step) + confusion matrix.

    The iterative-clustering building block at cluster scale: the
    centroid table is tiny (k x dim, independent of corpus size), so
    assignment is a broadcast nested-loop over a narrow scan — no
    all-pairs shuffle, each executor scores its partition locally.
    Centroids are built via posexplode + (label, pos) avg (the
    `knn_per_label_centroid` shape) and re-assembled with
    array_sort(collect_list(struct)); assignment is argmax-by-dot
    (max_by). Iterating this plan with a re-centroid step IS
    distributed k-means; one step is declared because fixpoints
    aren't single-query.
    """
    e = load_table(spark, sf_dir, "embeddings")
    dims = e.select(
        "label", F.posexplode("embedding").alias("pos", "v")
    ).groupBy("label", "pos").agg(F.avg("v").alias("v"))
    cents = (
        dims.groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "v"))),
                lambda s: s.v,
            ).alias("centroid")
        )
        .select(F.col("label").alias("c_label"), "centroid")
    )
    assigned = (
        e.crossJoin(F.broadcast(cents))
        .select(
            "vec_id",
            "label",
            "c_label",
            dot(F.col("embedding"), F.col("centroid")).alias("d"),
        )
        .groupBy("vec_id", "label")
        .agg(F.max_by("c_label", "d").alias("assigned"))
    )
    return assigned.groupBy("label", "assigned").agg(
        F.count(F.lit(1)).alias("n")
    )


# --- deterministic IVF (r5): the IVF scale path as oracle-checked keys


def _ivf_cells(v: DataFrame, k: int = 8, rounds: int = 2):
    """Deterministic IVF coarse quantizer: ``rounds`` quantized Lloyd
    rounds from a deterministic seed, then the final cell assignment —
    delegated to the single shared implementation of the discipline,
    :func:`..llmops.corpus.quantized_lloyd` (one source of truth for
    seeding, 6-decimal round-boundary quantization, and the
    (dist, cid) argmin order — the properties that make the whole IVF
    index exactly oracle-checkable, unlike MLlib ``KMeans``'s
    seed-dependent centers).

    Returns ``(assigned, cents)``: every vector with its cell id
    (vec_id, e, cid) and the k×dim centroid frame (cid, c).
    """
    from .corpus import quantized_lloyd

    assigned, cents = quantized_lloyd(v, k=k, rounds=rounds)
    return assigned.select("vec_id", "e", "cid"), cents


#: Shared oracle prefix: deterministic 8-cell IVF index + the probed
#: candidate set for the vec_id % 50 = 0 query subset (2 cells each).
from .corpus import _kmeans_round_sql as _lloyd_round_sql

_IVF_INDEX_SQL = f"""
    WITH v AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ),
    c0 AS (
        SELECT vec_id AS cid, e AS c FROM v ORDER BY vec_id LIMIT 8
    ),{_lloyd_round_sql(1)},{_lloyd_round_sql(2)},
    dfin AS (
        SELECT v.vec_id, v.e, c.cid,
               list_sum(list_transform(generate_series(1, len(v.e)),
                   i -> (v.e[i] - c.c[i]) * (v.e[i] - c.c[i]))) AS dist
        FROM v CROSS JOIN c2 c
    ),
    cells AS (
        SELECT vec_id, e, cid FROM (
            SELECT *, row_number() OVER (
                PARTITION BY vec_id ORDER BY dist, cid) AS rk
            FROM dfin
        ) WHERE rk = 1
    ),
    q AS (
        SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id % 50 = 0
    ),
    qd AS (
        SELECT q.query_id, q.qe, c.cid,
               list_sum(list_transform(generate_series(1, len(q.qe)),
                   i -> (q.qe[i] - c.c[i]) * (q.qe[i] - c.c[i]))) AS dist
        FROM q CROSS JOIN c2 c
    ),
    qc AS (
        SELECT query_id, qe, cid FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY dist, cid) AS crk
            FROM qd
        ) WHERE crk <= 2
    ),
    ivf_cand AS (
        SELECT qc.query_id, cells.vec_id AS neighbor_id,
               round(list_dot_product(qc.qe, cells.e), 6) AS cosine
        FROM qc JOIN cells ON qc.cid = cells.cid
        WHERE cells.vec_id <> qc.query_id
    ),
    ivf_topk AS (
        SELECT query_id, neighbor_id, cosine FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id
                ORDER BY cosine DESC, neighbor_id) AS rk
            FROM ivf_cand
        ) WHERE rk <= 3
    )"""


@query(
    "sim_ivf_topk",
    oracle=_IVF_INDEX_SQL
    + """
    SELECT query_id, neighbor_id, cosine FROM ivf_topk
    """,
)
def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) approximate top-3 neighbors for the
    deterministic query subset (vec_id % 50 = 0), with a fully
    DETERMINISTIC coarse quantizer — the IVF scale path as an
    oracle-checked registry key.

    Index build: 8 Voronoi cells from 2 quantized Lloyd rounds
    (:func:`_ivf_cells`); every corpus vector is assigned its cell id
    — at 100 TB that cell id is the PARTITION KEY, so the corpus is
    written bucketed by cell and a probe touches n_probe/n_cells of
    the data (here 2/8), never the full scan of the brute-force
    baseline (``sim_knn_cosine``). Probing: each query ranks cells by
    centroid distance (a k×dim broadcast), scores only its 2 nearest
    cells' members via a cell-keyed equi-join, and exact cosine
    re-ranks with the (cosine DESC, vec_id) total order on 6-decimal
    rounded values. Recall against brute force is itself an
    oracle-checked key (``sim_ivf_recall_audit``).
    """
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "embeddings")
    v = e.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    assigned, cents = _ivf_cells(v)
    q = v.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("e").alias("qe")
    )
    qdist = F.aggregate(
        F.zip_with("qe", "c", lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    wq = Window.partitionBy("query_id").orderBy("dist", "cid")
    probed = (
        q.crossJoin(F.broadcast(cents))
        .withColumn("dist", qdist)
        .withColumn("crk", F.row_number().over(wq))
        .where(F.col("crk") <= 2)
        .select("query_id", "qe", "cid")
    )
    cand = probed.join(assigned, "cid").where(
        F.col("vec_id") != F.col("query_id")
    )
    wk = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        cand.select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(dot(F.col("qe"), F.col("e")), 6).alias("cosine"),
        )
        .withColumn("rk", F.row_number().over(wk))
        .where(F.col("rk") <= 3)
        .drop("rk")
    )


@query(
    "sim_ivf_recall_audit",
    oracle=_IVF_INDEX_SQL
    + """,
    brute AS (
        SELECT query_id, neighbor_id FROM (
            SELECT q.query_id, v.vec_id AS neighbor_id,
                   row_number() OVER (
                       PARTITION BY q.query_id
                       ORDER BY round(list_dot_product(q.qe, v.e), 6)
                                    DESC,
                                v.vec_id) AS rk
            FROM q JOIN v ON v.vec_id <> q.query_id
        ) WHERE rk <= 3
    )
    SELECT b.query_id,
           CAST(count(i.neighbor_id) AS BIGINT) AS n_hits,
           round(count(i.neighbor_id) / 3.0, 6) AS recall_at_3
    FROM brute b
    LEFT JOIN ivf_topk i
      ON i.query_id = b.query_id AND i.neighbor_id = b.neighbor_id
    GROUP BY b.query_id
    """,
)
def sim_ivf_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@3 of the deterministic IVF index against brute force,
    per query — the production QA number every ANN deployment ships
    with (an index whose recall silently decays is how a dedup or
    retrieval pipeline rots).

    Brute force: the tiny query frame broadcast against ONE corpus
    pass (the ``sim_knn_cosine`` shape) + per-query top-3 under the
    same (rounded cosine DESC, vec_id) total order as the IVF side.
    Recall joins the two top-3 sets on (query_id, neighbor_id) — a
    keyed equi-join on 3·|queries| rows. Both the index and the
    audit are exact DataFrame plans, so the driver hash-checks the
    recall NUMBER itself — not just that some recall was computed.
    """
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "embeddings")
    v = e.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    q = v.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("e").alias("qe")
    )
    wk = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    brute = (
        v.crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(dot(F.col("qe"), F.col("e")), 6).alias("cosine"),
        )
        .withColumn("rk", F.row_number().over(wk))
        .where(F.col("rk") <= 3)
        .select("query_id", "neighbor_id")
    )
    ivf = sim_ivf_topk(spark, sf_dir).select(
        "query_id", F.col("neighbor_id").alias("ivf_neighbor")
    )
    hits = brute.join(
        ivf,
        (brute["query_id"] == ivf["query_id"])
        & (brute["neighbor_id"] == ivf["ivf_neighbor"]),
        "left",
    ).select(brute["query_id"], "ivf_neighbor")
    return hits.groupBy("query_id").agg(
        F.count("ivf_neighbor").alias("n_hits"),
        F.round(F.count("ivf_neighbor") / 3.0, 6).alias("recall_at_3"),
    )
