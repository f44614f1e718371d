"""Corpus-maintenance operators, round 3 late additions (SURVEY §2.K).

Three operators a standing 100 TB corpus needs once it is no longer
built in one shot but *maintained*: incremental batch-vs-corpus
deduplication (the nightly-ingest shape), PMI collocation mining
(tokenizer/phrase-vocabulary prep), and per-dimension embedding
statistics (the whitening/quantization pre-flight).

Design rules carried over (SURVEY §4): declarative DataFrame
compositions only — digest/term-keyed shuffles, broadcast one-row
totals, no driver-side state, no Python in the hot path.  Oracles
follow the HUGEINT discipline (integer sums CAST to BIGINT).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import knuth_hash, knuth_hash_sql
from ..registry import query
from ..tables import load_table


@query(
    "dedup_incremental_batch",
    oracle=f"""
    WITH d AS (
        SELECT doc_id, source, n_chars, sha256(text) AS digest,
               {knuth_hash_sql("doc_id", 10)} = 7 AS is_batch
        FROM documents
    ),
    corpus AS (SELECT DISTINCT digest FROM d WHERE NOT is_batch),
    bc AS (
        SELECT digest, count(*) AS n_in_batch
        FROM d WHERE is_batch GROUP BY digest
    ),
    cls AS (
        SELECT b.source, b.n_chars,
               CASE WHEN c.digest IS NOT NULL THEN 'dup_vs_corpus'
                    WHEN bc.n_in_batch > 1 THEN 'dup_in_batch'
                    ELSE 'novel' END AS status
        FROM d b
        JOIN bc ON b.digest = bc.digest
        LEFT JOIN corpus c ON b.digest = c.digest
        WHERE b.is_batch
    )
    SELECT source, status, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars
    FROM cls GROUP BY source, status
    """,
)
def dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup: classify a new document batch against
    the standing corpus — ``dup_vs_corpus`` (exact text already
    ingested), ``dup_in_batch`` (exact dup within the batch itself),
    or ``novel`` — reported per (source, status).

    The batch is carved out deterministically (Knuth-hash of doc_id,
    ~10%) so the split is reproducible in any engine; membership
    against the corpus is a digest-keyed LEFT join against the
    corpus's DISTINCT sha256 set and within-batch multiplicity is one
    digest-keyed count — never the text itself.  At 100 TB this is
    exactly the nightly-ingest topology: the full corpus never
    rescans per batch (its digest index is the join input), payloads
    never shuffle (32-byte digests do), and every join is equi-keyed
    on the digest — AQE handles the (tiny batch) × (huge corpus
    index) asymmetry by broadcasting the batch side.
    """
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        "n_chars",
        F.sha2(F.col("text"), 256).alias("digest"),
        (knuth_hash(F.col("doc_id"), 10) == 7).alias("is_batch"),
    )
    corpus = d.where(~F.col("is_batch")).select("digest").distinct()
    batch = d.where(F.col("is_batch"))
    bc = batch.groupBy("digest").agg(F.count(F.lit(1)).alias("n_in_batch"))
    cls = (
        batch.join(bc, "digest")
        .join(corpus.withColumn("in_corpus", F.lit(True)), "digest", "left")
        .select(
            "source",
            "n_chars",
            F.when(F.col("in_corpus").isNotNull(), "dup_vs_corpus")
            .when(F.col("n_in_batch") > 1, "dup_in_batch")
            .otherwise("novel")
            .alias("status"),
        )
    )
    return cls.groupBy("source", "status").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
    )


@query(
    "text_bigram_pmi",
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    uni AS (
        SELECT u.w, count(*) AS c_w
        FROM toks, unnest(t) AS u(w)
        GROUP BY u.w
    ),
    uni_total AS (SELECT CAST(sum(c_w) AS BIGINT) AS n_uni FROM uni),
    big AS (
        SELECT t[g.i] AS w1, t[g.i + 1] AS w2, count(*) AS c_xy
        FROM toks, unnest(generate_series(1, len(t) - 1)) AS g(i)
        WHERE len(t) >= 2
        GROUP BY 1, 2
    ),
    big_total AS (SELECT CAST(sum(c_xy) AS BIGINT) AS n_big FROM big),
    scored AS (
        SELECT w1, w2, c_xy,
               round(ln((CAST(c_xy AS DOUBLE) * n_uni * n_uni)
                        / (CAST(n_big AS DOUBLE) * u1.c_w * u2.c_w)),
                     6) AS pmi
        FROM big
        JOIN uni u1 ON big.w1 = u1.w
        JOIN uni u2 ON big.w2 = u2.w
        CROSS JOIN uni_total CROSS JOIN big_total
        WHERE c_xy >= 20
    )
    SELECT w1, w2, c_xy, pmi
    FROM scored ORDER BY pmi DESC, w1, w2 LIMIT 20
    """,
)
def text_bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI collocation mining: the top-20 adjacent word pairs by
    pointwise mutual information (min pair count 20) — the phrase
    table a tokenizer/vocabulary build runs before merges.

    Shape: one narrow bigram expansion (1-based ``sequence`` mirrors
    the oracle's ``generate_series``; sub-2-token docs are excluded
    before the sequence so Spark's descending-sequence edge case is
    unreachable), two term-keyed counts with map-side partial
    aggregation, two vocabulary-keyed joins (vocab ≪ corpus — AQE
    broadcasts it), one-row totals broadcast, and a distributed
    TakeOrdered top-k — no window, no driver loop.  PMI is computed
    from exact integer counts with the identical double-precision
    expression on both engines (IEEE multiply/divide is deterministic
    given the same operand order), so round-6 ranking with a (w1, w2)
    tiebreak is engine-stable.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(F.split("text", " ").alias("t"))
    uni = (
        toks.select(F.explode("t").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c_w"))
    )
    uni_total = uni.agg(F.sum("c_w").alias("n_uni"))
    big = (
        toks.where(F.size("t") >= 2)
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("t") - 1),
                    lambda i: F.struct(
                        F.element_at("t", i).alias("w1"),
                        F.element_at("t", i + 1).alias("w2"),
                    ),
                )
            ).alias("bg")
        )
        .select("bg.w1", "bg.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c_xy"))
    )
    big_total = big.agg(F.sum("c_xy").alias("n_big"))
    u1 = uni.select(F.col("w").alias("w1"), F.col("c_w").alias("c_w1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("c_w").alias("c_w2"))
    pmi = F.round(
        F.log(
            (F.col("c_xy").cast("double") * F.col("n_uni") * F.col("n_uni"))
            / (F.col("n_big").cast("double") * F.col("c_w1") * F.col("c_w2"))
        ),
        6,
    )
    return (
        big.where(F.col("c_xy") >= 20)
        .join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(uni_total))
        .crossJoin(F.broadcast(big_total))
        .select("w1", "w2", "c_xy", pmi.alias("pmi"))
        .orderBy(F.col("pmi").desc(), "w1", "w2")
        .limit(20)
    )


@query(
    "embeddings_dim_stats",
    oracle="""
    WITH dims AS (
        SELECT u.i AS dim, CAST(embedding[u.i] AS DOUBLE) AS v
        FROM embeddings,
             unnest(generate_series(1, len(embedding))) AS u(i)
    )
    SELECT dim, count(*) AS n_vals,
           round(avg(v), 6) AS mean_v,
           round(stddev_samp(v), 6) AS std_v,
           round(min(v), 6) AS min_v,
           round(max(v), 6) AS max_v,
           round(max(abs(v)), 6) AS absmax_v
    FROM dims GROUP BY dim
    """,
)
def embeddings_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding statistics — mean/std/min/max/absmax
    for every coordinate — the pre-flight for whitening, PCA seeding,
    and the int8 quantization scales (``embeddings_quantize_int8``
    consumes exactly the absmax column).

    One ``posexplode`` (narrow 1:dim expansion) and one dim-keyed
    aggregation; the result is dim rows — constant in corpus size —
    and every statistic is map-side combinable, so at 100 TB this is
    a single pass with a tiny shuffle of partial aggregates.  Spark's
    0-based ``posexplode`` index is shifted to the oracle's 1-based
    ``generate_series`` numbering; float32 inputs promote to double
    identically on both engines, with round-6 smoothing over
    aggregation-order jitter.
    """
    e = load_table(spark, sf_dir, "embeddings")
    dims = e.select(F.posexplode("embedding").alias("pos", "raw")).select(
        (F.col("pos") + 1).alias("dim"), F.col("raw").cast("double").alias("v")
    )
    return dims.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n_vals"),
        F.round(F.avg("v"), 6).alias("mean_v"),
        F.round(F.stddev_samp("v"), 6).alias("std_v"),
        F.round(F.min("v"), 6).alias("min_v"),
        F.round(F.max("v"), 6).alias("max_v"),
        F.round(F.max(F.abs(F.col("v"))), 6).alias("absmax_v"),
    )


@query(
    "text_vocab_coverage",
    oracle="""
    WITH hist AS (
        SELECT u.w AS term, count(*) AS cnt
        FROM documents, unnest(string_split(text, ' ')) AS u(w)
        GROUP BY u.w
    ),
    ranked AS (
        SELECT cnt, row_number() OVER (ORDER BY cnt DESC, term) AS rk
        FROM hist
    ),
    tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total_tokens FROM hist)
    SELECT k,
           CAST(sum(CASE WHEN rk <= k THEN cnt ELSE 0 END) AS BIGINT)
               AS covered_tokens,
           total_tokens,
           round(CAST(sum(CASE WHEN rk <= k THEN cnt ELSE 0 END) AS DOUBLE)
                 / total_tokens, 6) AS coverage
    FROM ranked
    CROSS JOIN tot
    CROSS JOIN (SELECT unnest([10, 100, 1000]) AS k) ks
    GROUP BY k, total_tokens
    """,
)
def text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve: the token-mass share covered by the
    top-k most frequent terms, for k in {10, 100, 1000} — the
    truncation-planning table a tokenizer build consults before
    fixing its vocab size.

    The global frequency ranking is the scale-sensitive step: the
    oracle states it as one unpartitioned ``row_number`` window, but
    the declared plan rides :func:`plans.ranks.with_global_rank` —
    range-repartition on (cnt DESC, term) + per-partition row_number
    + broadcast prefix-sum offsets — so no WindowExec ever sees the
    whole vocabulary in one partition (the repo-wide plan guard
    enforces this).  The tie order (cnt DESC, term) is total, so the
    distributed rank is bit-identical to the oracle's window.  The
    k-fan-out is a narrow 3x expansion of the (vocab-sized) ranked
    table; totals travel as a broadcast 1-row frame.
    """
    from ..plans.ranks import with_global_rank

    d = load_table(spark, sf_dir, "documents")
    hist = (
        d.select(F.explode(F.split("text", " ")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    ranked = with_global_rank(
        hist, [F.col("cnt").desc(), F.col("term")], "rk"
    )
    tot = hist.agg(F.sum("cnt").alias("total_tokens"))
    fan = ranked.select(
        "cnt",
        "rk",
        F.explode(F.array(F.lit(10), F.lit(100), F.lit(1000))).alias("k"),
    )
    cov = fan.groupBy("k").agg(
        F.sum(
            F.when(F.col("rk") <= F.col("k"), F.col("cnt")).otherwise(0)
        ).alias("covered_tokens")
    )
    return cov.crossJoin(F.broadcast(tot)).select(
        "k",
        "covered_tokens",
        "total_tokens",
        F.round(
            F.col("covered_tokens").cast("double") / F.col("total_tokens"), 6
        ).alias("coverage"),
    )


@query(
    "embeddings_whiten_qa",
    oracle="""
    WITH dims AS (
        SELECT vec_id, label, u.i AS dim,
               CAST(embedding[u.i] AS DOUBLE) AS v
        FROM embeddings,
             unnest(generate_series(1, len(embedding))) AS u(i)
    ),
    stats AS (
        SELECT dim, avg(v) AS mu, stddev_samp(v) AS sd
        FROM dims GROUP BY dim
    ),
    w AS (
        SELECT vec_id, label, dim,
               CASE WHEN sd > 0 THEN (v - mu) / sd ELSE 0.0 END AS wv
        FROM dims JOIN stats USING (dim)
    ),
    label_dim AS (
        SELECT label, dim, avg(wv) AS mean_wv FROM w GROUP BY label, dim
    ),
    dim_qa AS (
        SELECT label, max(abs(mean_wv)) AS max_abs_dim_mean
        FROM label_dim GROUP BY label
    ),
    vec_norm AS (
        SELECT vec_id, label, sqrt(sum(wv * wv)) AS nrm
        FROM w GROUP BY vec_id, label
    ),
    norm_qa AS (
        SELECT label, count(*) AS n_vecs, avg(nrm) AS avg_norm
        FROM vec_norm GROUP BY label
    )
    SELECT label, n_vecs,
           round(max_abs_dim_mean, 6) AS max_abs_dim_mean,
           round(avg_norm, 6) AS avg_norm
    FROM norm_qa JOIN dim_qa USING (label)
    """,
)
def embeddings_whiten_qa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitening QA: standardize every coordinate to zero mean / unit
    variance with the per-dimension stats (``embeddings_dim_stats``'s
    μ/σ), then report per label how far the whitened space drifts —
    the largest per-dimension class-mean magnitude (class separation
    survives whitening) and the average whitened vector norm
    (≈ √dim when standardization is healthy).  The gate before
    training similarity models on standardized features.

    Shape: the (dim → μ, σ) table is dim rows — constant in corpus
    size — broadcast back onto the exploded (vec, dim) stream; the
    whitening map is narrow; the two QA branches are keyed
    aggregations ((label, dim) and (vec, label)) that meet in a
    label-keyed join of label-sized frames.  Zero-variance dims
    whiten to 0 on both engines.
    """
    e = load_table(spark, sf_dir, "embeddings")
    dims = e.select(
        "vec_id", "label", F.posexplode("embedding").alias("pos", "raw")
    ).select(
        "vec_id",
        "label",
        (F.col("pos") + 1).alias("dim"),
        F.col("raw").cast("double").alias("v"),
    )
    stats = dims.groupBy("dim").agg(
        F.avg("v").alias("mu"), F.stddev_samp("v").alias("sd")
    )
    wv = F.when(
        F.col("sd") > 0, (F.col("v") - F.col("mu")) / F.col("sd")
    ).otherwise(F.lit(0.0))
    w = dims.join(F.broadcast(stats), "dim").select(
        "vec_id", "label", "dim", wv.alias("wv")
    )
    dim_qa = (
        w.groupBy("label", "dim")
        .agg(F.avg("wv").alias("mean_wv"))
        .groupBy("label")
        .agg(F.max(F.abs(F.col("mean_wv"))).alias("max_abs_dim_mean"))
    )
    norm_qa = (
        w.groupBy("vec_id", "label")
        .agg(F.sqrt(F.sum(F.col("wv") * F.col("wv"))).alias("nrm"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.avg("nrm").alias("avg_norm"),
        )
    )
    return norm_qa.join(dim_qa, "label").select(
        "label",
        "n_vecs",
        F.round("max_abs_dim_mean", 6).alias("max_abs_dim_mean"),
        F.round("avg_norm", 6).alias("avg_norm"),
    )


@query(
    "docs_review_queue",
    oracle="""
    WITH scored AS (
        SELECT doc_id, lang,
               len(string_split(text, ' ')) AS n_toks,
               round(1.0 - CAST(len(list_distinct(string_split(text, ' ')))
                               AS DOUBLE)
                         / len(string_split(text, ' ')), 6) AS rep_score
        FROM documents
        WHERE len(text) > 0
    ),
    ranked AS (
        SELECT *,
               row_number() OVER (
                   PARTITION BY lang ORDER BY rep_score DESC, doc_id
               ) AS rk_worst,
               row_number() OVER (
                   PARTITION BY lang ORDER BY rep_score ASC, doc_id
               ) AS rk_best
        FROM scored
    )
    SELECT lang,
           CASE WHEN rk_worst <= 3 THEN 'most_repetitive'
                ELSE 'least_repetitive' END AS bucket,
           doc_id, n_toks, rep_score
    FROM ranked
    WHERE rk_worst <= 3 OR rk_best <= 3
    """,
)
def docs_review_queue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Human-review sampling: per language, the 3 MOST and 3 LEAST
    repetitive documents (duplicate-token fraction, deterministic
    doc_id tie-break) — the exemplar queue a curation run hands to
    reviewers so threshold changes are judged on concrete head/tail
    cases, not aggregates (``text_repetition_ratio`` reports the
    rates; this selects the evidence).

    Both extremes ride the SAME lang-partitioned shuffle — two
    row_numbers over mirrored orders share one partitioning, so the
    plan pays one exchange; the window group limit prunes
    per-partition before it.  A doc in both tails (tiny stratum)
    appears once, labeled by the `most_repetitive` branch first —
    the CASE order is part of the contract on both engines.
    """
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents").where(F.length("text") > 0)
    toks = F.split("text", " ")
    scored = d.select(
        "doc_id",
        "lang",
        F.size(toks).alias("n_toks"),
        F.round(
            1.0
            - F.size(F.array_distinct(toks)).cast("double") / F.size(toks),
            6,
        ).alias("rep_score"),
    )
    w_worst = Window.partitionBy("lang").orderBy(
        F.col("rep_score").desc(), "doc_id"
    )
    w_best = Window.partitionBy("lang").orderBy(
        F.col("rep_score").asc(), "doc_id"
    )
    ranked = scored.withColumn(
        "rk_worst", F.row_number().over(w_worst)
    ).withColumn("rk_best", F.row_number().over(w_best))
    return ranked.where(
        (F.col("rk_worst") <= 3) | (F.col("rk_best") <= 3)
    ).select(
        "lang",
        F.when(F.col("rk_worst") <= 3, "most_repetitive")
        .otherwise("least_repetitive")
        .alias("bucket"),
        "doc_id",
        "n_toks",
        "rep_score",
    )


@query(
    "dedup_threshold_sweep",
    oracle="""
    WITH t AS (
        SELECT doc_id,
               list_sort(list_distinct(string_split(text, ' '))) AS toks
        FROM documents
    ),
    pairs AS (
        SELECT round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
                     / len(list_distinct(list_concat(a.toks, b.toks))),
                     6) AS j
        FROM t a JOIN t b ON a.doc_id < b.doc_id
    ),
    b AS (
        SELECT CASE WHEN j >= 0.95 THEN '0.95-1.00'
                    WHEN j >= 0.9 THEN '0.90-0.95'
                    WHEN j >= 0.8 THEN '0.80-0.90'
                    ELSE '0.70-0.80' END AS band
        FROM pairs WHERE j >= 0.7
    ),
    tot AS (SELECT count(*) AS n_total FROM b)
    SELECT band, count(*) AS n_pairs,
           round(CAST(count(*) AS DOUBLE) / n_total, 6) AS share
    FROM b CROSS JOIN tot
    GROUP BY band, n_total
    """,
)
def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold-sensitivity sweep: exact counts of near-dup doc pairs
    per Jaccard band (0.70–0.80 / 0.80–0.90 / 0.90–0.95 / 0.95–1.00)
    — the tuning table consulted before fixing a dedup cutoff, showing
    how many pairs each threshold choice keeps or drops.

    One run of the lossless prefix-filter candidate join (Bayardo
    et al. WWW'07) at the SWEEP FLOOR 0.7 covers every band above it
    (recall 1.0 ≥ the floor by the prefix pigeonhole), so the whole
    curve costs one candidate pass, not one per threshold.  Identical
    token sets are contracted first and re-expanded arithmetically —
    a distinct-set group of size g contributes g·(g−1)/2 exact-dup
    pairs to the top band and weight g_a·g_b to each verified
    cross-group pair — so the dense-dup mass never inflates the
    verify join.  The oracle states the all-pairs form; the declared
    plan is the keyed prefix equi-join (nested-loop-free).
    """
    from .dedup import contract_identical_sets, prefix_jaccard_pairs

    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        F.array_sort(F.array_distinct(F.split("text", " "))).alias("toks"),
    )
    reps, members = contract_identical_sets(t)
    sizes = members.groupBy("rep_id").agg(F.count(F.lit(1)).alias("g"))
    intra = sizes.agg(
        F.sum(F.col("g") * (F.col("g") - 1) / 2).cast("long").alias("n_pairs")
    ).select(F.lit("0.95-1.00").alias("band"), "n_pairs")

    ga = sizes.select(F.col("rep_id").alias("doc_a"), F.col("g").alias("g_a"))
    gb = sizes.select(F.col("rep_id").alias("doc_b"), F.col("g").alias("g_b"))
    verified = (
        prefix_jaccard_pairs(reps, 0.7)
        .select("doc_a", "doc_b", F.round("jaccard", 6).alias("j"))
        .where(F.col("j") >= 0.7)
        .join(ga, "doc_a")
        .join(gb, "doc_b")
    )
    band = (
        F.when(F.col("j") >= 0.95, "0.95-1.00")
        .when(F.col("j") >= 0.9, "0.90-0.95")
        .when(F.col("j") >= 0.8, "0.80-0.90")
        .otherwise("0.70-0.80")
    )
    cross = verified.select(
        band.alias("band"), (F.col("g_a") * F.col("g_b")).alias("n_pairs")
    )
    bands = (
        cross.unionByName(intra)
        .groupBy("band")
        .agg(F.sum("n_pairs").alias("n_pairs"))
        .where(F.col("n_pairs") > 0)
    )
    # Share-of-total as a GLOBAL WINDOW over the ≤4-row band frame
    # (r14, guide §2.4): the r13 crossJoin(broadcast(tot)) referenced
    # `bands` twice, duplicating the entire candidate+verify subtree
    # in the plan — AQE stage reuse deduplicated the heavy stages at
    # runtime, but the second reference still re-planned and re-ran
    # every post-exchange tail, and the broadcast build was its own
    # job. One unpartitioned window over 4 rows (constant-bounded by
    # the 4 band literals) computes the same exact integer total in a
    # single reference: bench jobs 22 -> 21, broadcast site retired,
    # plan receipt plans/r14/dedup_threshold_sweep_{before,after}.txt.
    from pyspark.sql import Window

    return bands.select(
        "band",
        "n_pairs",
        F.round(
            F.col("n_pairs").cast("double")
            / F.sum("n_pairs").over(Window.partitionBy()),
            6,
        ).alias("share"),
    )


@query(
    "text_perplexity_bigram",
    oracle="""
    WITH toks AS (
        SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents
    ),
    bg AS (
        SELECT doc_id, lang, t[g.i] AS w1, t[g.i + 1] AS w2
        FROM toks, unnest(generate_series(1, len(t) - 1)) AS g(i)
        WHERE len(t) >= 2
    ),
    uni AS (
        SELECT u.w AS w1, count(*) AS c1
        FROM toks, unnest(t) AS u(w) GROUP BY u.w
    ),
    vocab AS (SELECT CAST(count(*) AS DOUBLE) AS v FROM uni),
    bgc AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2),
    per_doc AS (
        SELECT b.doc_id, b.lang,
               avg(-ln((CAST(c12 AS DOUBLE) + 1) / (c1 + v))) AS nll
        FROM bg b
        JOIN bgc USING (w1, w2)
        JOIN uni USING (w1)
        CROSS JOIN vocab
        GROUP BY b.doc_id, b.lang
    )
    SELECT lang,
           count(*) AS n_docs,
           round(avg(nll), 6) AS avg_nll,
           round(min(nll), 6) AS min_nll,
           round(max(nll), 6) AS max_nll
    FROM per_doc GROUP BY lang
    """,
)
def text_perplexity_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM self-scoring with add-one smoothing: train
    ``p(w2|w1) = (c(w1,w2)+1) / (c(w1)+V)`` on the corpus itself,
    score each doc by mean bigram negative log-likelihood — the
    order-sensitive upgrade of ``text_perplexity_unigram`` (word
    salad with a plausible unigram mix scores high here; docs under
    2 tokens have no bigram and are excluded on both engines).

    Same linear topology as the unigram twin plus one more count
    table: bigram histogram + unigram histogram (both map-side
    combinable), a 1-row vocabulary-size broadcast, then the doc
    bigram stream joins its two count tables by term keys — the only
    corpus-sized shuffles, with AQE skew-splitting the frequent-
    bigram head.  Probabilities derive from exact integer counts
    through one fixed double expression, so per-doc NLLs agree to
    float-jitter absorbed by the round-6 rollups.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", "lang", F.split("text", " ").alias("t"))
    bg = toks.where(F.size("t") >= 2).select(
        "doc_id",
        "lang",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("t") - 1),
                lambda i: F.struct(
                    F.element_at("t", i).alias("w1"),
                    F.element_at("t", i + 1).alias("w2"),
                ),
            )
        ).alias("b"),
    ).select("doc_id", "lang", "b.w1", "b.w2")
    uni = (
        toks.select(F.explode("t").alias("w1"))
        .groupBy("w1")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    vocab = uni.agg(F.count(F.lit(1)).cast("double").alias("v"))
    bgc = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    nll = -F.log(
        (F.col("c12").cast("double") + 1) / (F.col("c1") + F.col("v"))
    )
    per_doc = (
        bg.join(bgc, ["w1", "w2"])
        .join(uni, "w1")
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id", "lang")
        .agg(F.avg(nll).alias("nll"))
    )
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("nll"), 6).alias("avg_nll"),
        F.round(F.min("nll"), 6).alias("min_nll"),
        F.round(F.max("nll"), 6).alias("max_nll"),
    )


def _kmeans_round_sql(r: int) -> str:
    """One unrolled Lloyd round as DuckDB CTEs: assign every vector to
    its nearest centroid from round ``r-1``, then rebuild centroids as
    the per-dimension member means, QUANTIZED to 6 decimals (the
    round-boundary re-synchronization that makes the distributed and
    serial executions bit-comparable)."""
    return f"""
    d{r} AS (
        SELECT v.vec_id, v.e, c.cid,
               list_sum(list_transform(generate_series(1, len(v.e)),
                   i -> (v.e[i] - c.c[i]) * (v.e[i] - c.c[i]))) AS dist
        FROM v CROSS JOIN c{r - 1} c
    ),
    a{r} AS (
        SELECT vec_id, e, cid, dist FROM (
            SELECT *, row_number() OVER (
                PARTITION BY vec_id ORDER BY dist, cid) AS rk
            FROM d{r}
        ) WHERE rk = 1
    ),
    m{r} AS (
        SELECT cid, u.i AS dim, round(avg(e[u.i]), 6) AS mu
        FROM a{r}, unnest(generate_series(1, len(e))) AS u(i)
        GROUP BY cid, u.i
    ),
    c{r} AS (
        SELECT cid, list(mu ORDER BY dim) AS c FROM m{r} GROUP BY cid
    )"""


_KMEANS_ORACLE = f"""
    WITH v AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ),
    c0 AS (
        SELECT vec_id AS cid, e AS c FROM v ORDER BY vec_id LIMIT 4
    ),{_kmeans_round_sql(1)},{_kmeans_round_sql(2)},
    d3 AS (
        SELECT v.vec_id, c.cid,
               list_sum(list_transform(generate_series(1, len(v.e)),
                   i -> (v.e[i] - c.c[i]) * (v.e[i] - c.c[i]))) AS dist
        FROM v CROSS JOIN c2 c
    ),
    a3 AS (
        SELECT vec_id, cid, dist FROM (
            SELECT *, row_number() OVER (
                PARTITION BY vec_id ORDER BY dist, cid) AS rk
            FROM d3
        ) WHERE rk = 1
    )
    SELECT cid, count(*) AS n_vecs, round(sum(dist), 6) AS inertia
    FROM a3 GROUP BY cid
"""


def quantized_lloyd(
    v: DataFrame, k: int, rounds: int
) -> tuple[DataFrame, DataFrame]:
    """The shared quantized-Lloyd discipline (single source of truth —
    used by ``kmeans_lloyd_rounds`` here and the deterministic IVF
    keys in similarity.py): deterministic seeding (the k lowest
    vec_ids), each round's rebuilt centroids QUANTIZED to 6 decimals
    before the next assignment, argmin under the (dist, cid) total
    order — which together make the distributed execution
    hash-identical to a serial SQL oracle (`_kmeans_round_sql` is the
    matching one-round oracle skeleton).

    ``v`` must carry (vec_id, e: array<double>). Returns
    ``(assigned, cents)``: the FINAL assignment (vec_id, e, cid,
    dist) after ``rounds`` update rounds, and the k×dim centroid
    frame (cid, c). Each round broadcasts the tiny centroid frame
    against one narrow corpus pass; the per-round lazy barrier on the
    k-row centroid frame keeps total corpus passes at rounds + 1 (the
    Lloyd minimum) instead of quadratic-in-rounds re-derivation
    (no cross-round CSE in Catalyst — the pagerank invariant-barrier
    lesson, SCALING.md)."""
    from pyspark.sql import Window

    from ..plans.barriers import barrier

    cents = v.orderBy("vec_id").limit(k).select(
        F.col("vec_id").alias("cid"), F.col("e").alias("c")
    )
    dist = F.aggregate(
        F.zip_with("e", "c", lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )

    def assign(c: DataFrame) -> DataFrame:
        w = Window.partitionBy("vec_id").orderBy("dist", "cid")
        return (
            v.crossJoin(F.broadcast(c))
            .withColumn("dist", dist)
            .withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") == 1)
            .select("vec_id", "e", "cid", "dist")
        )

    def update(assigned: DataFrame) -> DataFrame:
        return (
            assigned.select("cid", F.posexplode("e").alias("pos", "val"))
            .groupBy("cid", "pos")
            .agg(F.round(F.avg("val"), 6).alias("mu"))
            .groupBy("cid")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "mu"))),
                    lambda s: s.mu,
                ).alias("c")
            )
        )

    for _ in range(rounds):
        cents = barrier(update(assign(cents)))
    return assign(cents), cents


@query("kmeans_lloyd_rounds", oracle=_KMEANS_ORACLE)
def kmeans_lloyd_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd k-means (k=4), TWO unrolled rounds plus a
    final assignment, exactly oracle-checkable: initialization is
    deterministic (the 4 lowest vec_ids seed the centroids, keyed by
    their own id), and every round's rebuilt centroids are QUANTIZED
    to 6 decimals before the next assignment — the member-mean is the
    one aggregation whose float result depends on row order, so
    quantizing at the round boundary re-synchronizes the distributed
    execution with the serial oracle without changing the algorithm.

    Each round is the canonical Spark k-means topology: assignment is
    a broadcast of the k×dim centroid frame against a narrow scan
    with a SEQUENTIAL per-vector distance fold (`zip_with` +
    `aggregate` — same summation order as the oracle's `list_sum`),
    argmin by a (dist, cid)-ordered per-vector window; the update is
    one (cid, dim)-keyed mean over the exploded members.  Unrolling
    keeps the whole computation ONE lazy plan — no driver loop, no
    action between rounds; at real scale the rounds chain through
    AQE like any other multi-stage plan.
    """
    e = load_table(spark, sf_dir, "embeddings")
    v = e.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    final, _ = quantized_lloyd(v, k=4, rounds=2)
    return final.groupBy("cid").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.round(F.sum("dist"), 6).alias("inertia"),
    )


@query(
    "docs_fold_contamination",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, lang, string_split(text, ' ') AS tk,
               {knuth_hash_sql("doc_id", 5)} = 0 AS is_test
        FROM documents
    ),
    g AS (
        SELECT doc_id, lang, is_test,
               list_distinct(list_transform(
                   generate_series(1, len(tk) - 4),
                   i -> concat_ws(' ', tk[i], tk[i + 1], tk[i + 2],
                                  tk[i + 3], tk[i + 4]))) AS grams
        FROM t WHERE len(tk) >= 5
    ),
    train_grams AS (
        SELECT DISTINCT u.g FROM g, unnest(grams) AS u(g) WHERE NOT is_test
    ),
    test_g AS (
        SELECT doc_id, lang, u.g AS gram
        FROM g, unnest(grams) AS u(g) WHERE is_test
    ),
    per_doc AS (
        SELECT td.doc_id, td.lang,
               count(*) AS n_grams, count(tg.g) AS n_hit
        FROM test_g td LEFT JOIN train_grams tg ON td.gram = tg.g
        GROUP BY td.doc_id, td.lang
    )
    SELECT lang,
           count(*) AS n_test_docs,
           count(CASE WHEN CAST(n_hit AS DOUBLE) / n_grams > 0.05
                      THEN 1 END) AS n_contaminated,
           round(CAST(count(CASE WHEN CAST(n_hit AS DOUBLE) / n_grams > 0.05
                                 THEN 1 END) AS DOUBLE) / count(*),
                 6) AS contamination_rate
    FROM per_doc GROUP BY lang
    """,
)
def docs_fold_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-fold contamination audit: the share of held-out (fold-0)
    docs whose distinct 5-token grams overlap the TRAIN folds' gram
    set by more than 5%, per language — run after any split to
    certify the held-out set isn't answered by training text
    (``docs_leakage_safe_split`` prevents cluster-level leakage;
    this measures what residual gram-level leakage remains).

    Direction matters at scale: here the membership set is the TRAIN
    grams — corpus-sized — so the probe is a gram-keyed equi-join
    (shuffle both sides on the gram), NOT the broadcast that
    ``text_decontaminate`` uses for its eval-suite-sized set; AQE's
    skew split handles the frequent-gram head.  Sub-5-token docs
    carry no gram and are excluded on both engines (the
    descending-sequence guard).
    """
    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        "lang",
        F.split("text", " ").alias("tk"),
        (knuth_hash(F.col("doc_id"), 5) == 0).alias("is_test"),
    ).where(F.size("tk") >= 5)
    gram_at = lambda i: F.concat_ws(
        " ",
        F.element_at("tk", i),
        F.element_at("tk", i + 1),
        F.element_at("tk", i + 2),
        F.element_at("tk", i + 3),
        F.element_at("tk", i + 4),
    )
    g = t.select(
        "doc_id",
        "lang",
        "is_test",
        F.explode(
            F.array_distinct(
                F.transform(F.sequence(F.lit(1), F.size("tk") - 4), gram_at)
            )
        ).alias("gram"),
    )
    train_grams = (
        g.where(~F.col("is_test")).select("gram").distinct()
        .withColumn("hit", F.lit(1))
    )
    per_doc = (
        g.where(F.col("is_test"))
        .join(train_grams, "gram", "left")
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count("hit").alias("n_hit"),
        )
    )
    contaminated = F.count(
        F.when(F.col("n_hit").cast("double") / F.col("n_grams") > 0.05, 1)
    )
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_test_docs"),
        contaminated.alias("n_contaminated"),
        F.round(
            contaminated.cast("double") / F.count(F.lit(1)), 6
        ).alias("contamination_rate"),
    )


def _pca_round_sql(r: int) -> str:
    """One unrolled power-iteration round as DuckDB CTEs, with the
    per-vector projection QUANTIZED to 6 decimals at the round
    boundary (the `kmeans_lloyd_rounds` / `graph_pagerank_rounds`
    discipline: the two float sums per round are the only
    order-dependent values, and quantizing them re-synchronizes the
    distributed execution with the serial oracle)."""
    return f"""
    s{r} AS (
        SELECT vec_id, round(sum(val * v), 6) AS s
        FROM m JOIN v{r - 1} USING (dim) GROUP BY vec_id
    ),
    w{r} AS (
        SELECT dim, sum(val * s) AS w FROM m JOIN s{r} USING (vec_id)
        GROUP BY dim
    ),
    n{r} AS (SELECT sqrt(sum(w * w)) AS nrm FROM w{r}),
    v{r} AS (SELECT dim, round(w / nrm, 6) AS v FROM w{r}, n{r})"""


_PCA_ORACLE = f"""
    WITH m AS (
        SELECT vec_id, u.i AS dim, CAST(embedding[u.i] AS DOUBLE) AS val
        FROM embeddings,
             unnest(generate_series(1, len(embedding))) AS u(i)
    ),
    v0 AS (SELECT DISTINCT dim, 0.125 AS v FROM m),{_pca_round_sql(1)},{_pca_round_sql(2)},{_pca_round_sql(3)}
    SELECT dim, v AS loading FROM v3 ORDER BY dim
"""


@query("embeddings_pca_power", oracle=_PCA_ORACLE)
def embeddings_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the embedding matrix by THREE
    unrolled power-iteration rounds (r7, SURVEY §2.K): the embedding
    QA step after `embeddings_dim_stats`/`embeddings_whiten_qa` —
    a corpus whose first component eats most of the variance has
    collapsed (anisotropic) embeddings, and the loadings say which
    dimensions carry it.

    Distributed matrix-vector product as DataFrame algebra: the
    matrix is the narrow (vec_id, dim, val) explosion of the
    embedding column, hash-repartitioned on vec_id ONCE (r14, guide
    §2.4 "two operations keyed the same way share one exchange"):
    every round's projection aggregate AND back-projection join
    require vec_id clustering, so all six uses across the three
    unrolled rounds ride the same exchange (AQE's stage cache already
    dedups identical subtrees at runtime; the explicit pin makes the
    projection aggregate exchange-FREE as well — its input is now
    clustered on vec_id, so the per-round partial-agg exchange is
    elided: plans/r14/embeddings_pca_power_*.txt, bench jobs
    21 -> 19). Each round broadcasts the 64-row
    direction vector into a dim-keyed join for the per-vector
    projections, then the co-partitioned equi-join + dim-keyed agg
    for the back-projection — at 100 TB the matrix crosses the
    network once, never once per round. The start vector is the
    exact binary 1/8 on every dim; projections and loadings are
    quantized to 6 decimals at each round boundary so the serial
    oracle and the distributed plan walk the identical sequence
    (residual half-boundary risk is the documented PageRank class,
    SCALING.md §MONEY residuals; re-verified hash-MATCH at
    sf0.001/0.01/0.1 after the repartition, since partial-sum
    boundaries moved). sqrt and IEEE multiply/divide are correctly
    rounded — no libm-divergence surface (ADVICE r6 #1).
    """
    e = load_table(spark, sf_dir, "embeddings")
    m = (
        e.select(
            "vec_id",
            F.posexplode(F.col("embedding").cast("array<double>")).alias(
                "pos", "val"
            ),
        )
        .select("vec_id", (F.col("pos") + 1).alias("dim"), "val")
        .repartition("vec_id")
    )
    v = m.select("dim").distinct().select("dim", F.lit(0.125).alias("v"))
    for _ in range(3):
        s = (
            m.join(F.broadcast(v), "dim")
            .groupBy("vec_id")
            .agg(F.round(F.sum(F.col("val") * F.col("v")), 6).alias("s"))
        )
        w = (
            m.join(s, "vec_id")
            .groupBy("dim")
            .agg(F.sum(F.col("val") * F.col("s")).alias("w"))
        )
        nrm = w.agg(F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nrm"))
        v = w.crossJoin(F.broadcast(nrm)).select(
            "dim", F.round(F.col("w") / F.col("nrm"), 6).alias("v")
        )
    return v.select("dim", F.col("v").alias("loading")).orderBy("dim")
