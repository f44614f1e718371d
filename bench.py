#!/usr/bin/env python
"""Benchmark harness — prints ONE JSON line the driver records.

    python bench.py [key ...]

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]. Each query is
executed with a count()-style full materialization (no driver-side
collect of payload rows), timed wall-clock, best-of-N after a warmup
pass that also primes the parquet footer/page cache the way a real
cluster's second query would be. Keys given as arguments replace the
headline set.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
RUNS = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))

#: Headline queries: one per category, spanning scan→agg→join→window
#: →streaming→llm ops. Keys must exist in the registry.
HEADLINE = [
    "agg_pricing_summary",
    "join_multiway_star",
    "join_asof",
    "window_rank_topn",
    "limit_topk",
    "stream_session",
    "explode_wordcount",
    "sim_knn_cosine",
    "dedup_exact_docs",
    "pivot_event_types",
    "text_tfidf_topterms",
    "json_extract",
    # LLM-ops heavy hitters (added r2 — the K-category plans whose
    # regressions were invisible to the original 12-query set).
    "dedup_minhash_lsh",
    "graph_cluster_keep_best",
    "text_decontaminate",
    "sim_ann_lsh",
    # r3 additions: representative new pipeline operators with real
    # data-proportional work (gram joins, LM-vocab join, batch MIPS).
    "text_ngram_novelty",
    "text_perplexity_unigram",
    "sim_topk_per_centroid",
    # r4 additions (VERDICT r3 item 4): the iterative heavy hitters —
    # unrolled multi-round lazy plans whose regressions the flat-query
    # set cannot see — plus one corpus-maintenance representative.
    "kmeans_lloyd_rounds",
    "graph_pagerank_rounds",
    "dedup_threshold_sweep",
    # r5 addition: the deterministic IVF ANN path (quantized-Lloyd
    # index build + probed cell join) — the retrieval-shaped plan the
    # flat set lacked.
    "sim_ivf_topk",
    # r6 additions: BM25 retrieval (filtered-explode + broadcast
    # stats) and GPT-style sequence packing (two-level prefix sum) —
    # the lexical-retrieval and packing-manifest shapes.
    "text_bm25_topk",
    "docs_pack_sequences",
    # r7 additions (VERDICT r6 item 5): the two r6 keys that never
    # joined the bench — nearest-direction as-of join and the
    # data-dependent-cutoff balanced sampler — so they gain a
    # regression anchor (BASELINE.md r7 section).
    "join_asof_nearest",
    "sample_class_balanced",
    # NEW r7 operators (anchored in BASELINE.md r7 section): exact
    # weighted percentiles, the interval-overlap join, the
    # importance-reweight census, and the PCA power iteration.
    "agg_weighted_percentile",
    "join_interval_self_overlap",
    "sample_importance_reweight",
    "embeddings_pca_power",
    # NEW r10 operators: dynamic partition pruning on the
    # month-partitioned orders layout, and the bucketed co-located
    # fact join (the layout/table writes land in the untimed warmup
    # pass, like every other scratch fixture).
    "scan_dpp_orders_month",
    "join_bucketed_colocated",
    # NEW r10 text key: the boilerplate-span census — the linear
    # shingle-df keyed-agg shape (explode + distinct-doc count +
    # join-back), a plan class the headline otherwise samples only
    # through tf-idf.
    "text_boilerplate_ngrams",
    # NEW r10 source key: the mixed-schema (evolved) layout read —
    # explicit-catalog-schema scan over files that predate a column
    # (the layout write lands in the untimed warmup pass).
    "scan_schema_evolution",
]

#: r5 addition: the TPC-H completion set (operators/tpch.py) — the 12
#: queries that closed the full 22-query sweep. Benched as their own
#: group with a separate subtotal so the pre-existing set anchors
#: (original-12 / r2-16 / r3-19 / r4-22) stay comparable.
TPCH_R5 = [
    "tpch_q5_local_supplier_volume",
    "tpch_q6_revenue_delta",
    "tpch_q7_volume_shipping",
    "tpch_q8_market_share",
    "tpch_q9_product_profit",
    "tpch_q10_returned_items",
    "tpch_q11_important_stock",
    "tpch_q12_ship_delay_priority",
    "tpch_q15_top_supplier",
    "tpch_q17_small_qty_revenue",
    "tpch_q19_disjunctive_revenue",
    "tpch_q20_lead_promo_suppliers",
]
HEADLINE = HEADLINE + TPCH_R5


def _release_refs(spark) -> None:
    """Release the finished key's executor-side blocks (r9, VERDICT r8
    item 5). Broadcast relations and localCheckpoint blocks are only
    reclaimed when the ContextCleaner notices their JVM objects are
    unreachable — which needs a GC cycle on BOTH sides of the Py4J
    boundary. Across ~80 consecutive executions the live blocks of
    long-dead plans used to accumulate until a broadcast build failed
    at the default 8g driver heap (local mode: driver == executor).
    One collect per key is off the timed path and keeps the whole
    sf1 sweep inside the default heap.
    """
    import gc

    gc.collect()  # drop Python-side DataFrame/plan refs first
    try:
        spark.sparkContext._jvm.System.gc()
    except Exception:
        pass  # cleaning is best-effort; never fail the bench for it


def main() -> None:
    from bigdataprojectspring16_spark import QUERIES, get_session
    from bigdataprojectspring16_spark.session import session_page_bytes

    spark = get_session("bench")
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")

    timings: dict[str, float] = {}
    job_counts: dict[str, int] = {}
    jobs_unstable: dict[str, list[int]] = {}
    for key in sys.argv[1:] or HEADLINE:
        fn = QUERIES[key]
        fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()  # warmup
        best = float("inf")
        run_jobs: list[int] = []
        for i in range(RUNS):
            # Per-run job group: the Spark job COUNT of a run is a
            # deterministic property of the plan (unlike wall time),
            # so recording it makes noise-vs-regression adjudication
            # of the fixpoint queries mechanical (VERDICT r4 item 7).
            group = f"{key}#run{i}"
            spark.sparkContext.setJobGroup(group, key)
            t0 = time.perf_counter()
            fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
            run_jobs.append(
                len(
                    spark.sparkContext.statusTracker().getJobIdsForGroup(group)
                )
            )
        job_counts[key] = run_jobs[-1]
        # A count FLAP between same-plan runs is itself the signal the
        # field exists to catch (an AQE decision or round count moved
        # mid-bench) — surface it instead of silently keeping run N.
        if len(set(run_jobs)) > 1:
            jobs_unstable[key] = run_jobs
        timings[key] = round(best, 4)
        _release_refs(spark)

    total = round(sum(timings.values()), 4)
    # The r1 baseline (BASELINE.md) covers only the first 12 keys; the
    # 4 LLM-ops keys were added in r2 with their own baseline section.
    # Report the original-12 subtotal so cross-round totals stay
    # comparable against the right anchor.
    original12 = round(sum(timings[k] for k in HEADLINE[:12] if k in timings), 4)
    tpch12 = round(sum(timings[k] for k in TPCH_R5 if k in timings), 4)
    line = json.dumps(
        {
            "metric": "headline_queries_total_best_of_%d" % RUNS,
            "value": total,
            "unit": "sec",
            "original12_sec": original12,
            "tpch12_sec": tpch12,
            "queries": timings,
            "jobs": job_counts,
            "jobs_unstable": jobs_unstable,
            "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
            # What local[...] was asked for, and the parallelism the
            # session actually got.
            "cpus": int(cpus) if cpus.isdigit() else cpus,
            "default_parallelism": spark.sparkContext.defaultParallelism,
            # The managed-memory page the JVM used (SCALING.md
            # "Global rules").
            "page_bytes": session_page_bytes(spark),
        }
    )
    # Stop the JVM FIRST, then print: the JSON is guaranteed to be the
    # final stdout line with nothing left alive to interleave after it
    # (r14, VERDICT r13 issue 1 — BENCH_r12.json's driver record kept
    # only a truncated tail and the whole r13 perf comparison went
    # vacuous). A failed stop must never eat the measurement.
    try:
        spark.stop()
    except Exception:
        pass
    print(line, flush=True)


if __name__ == "__main__":
    main()
