#!/usr/bin/env python
"""Construction-derived output audit of ``dedup_minhash_lsh`` on an
isomorphic-copy documents fixture (the sf20/sf30/sf50/sf100 decade
points, SCALING.md §SF100).

The fixture is COPIES x the sf0.1 corpus with per-copy token prefixes
(``tools/make_copies.py --tables documents``), so the exact result is
known by construction: every near-dup pair lives INSIDE one copy, each
copy's pair set is isomorphic to the sf0.1 pair set, and the
exact-verified banding result must satisfy
  - cross-copy pairs == 0            (disjointness invariant),
  - every sampled copy is a SUBSET of the sf0.1 pair set (precision
    1.0 — the exact-verify stage admits no false pair) with per-copy
    recall >= the floor; hash-EXACT when the copy is complete
    (banding recall is per-copy probabilistic, so an occasional copy
    misses a pair — r12's sf50 copy 250 missed exactly one of
    190,925),
  - total recall = pairs / (COPIES x sf0.1 pairs) >= the 0.9
    contract floor (banding is probabilistic per copy — the COPIES x
    bound is an upper bound, not an equality; precision is 1.0 by
    the exact-verify stage).

COPIES is read off the fixture: max(doc_id) div the doc_id stride + 1.

Usage:
  AUDIT_SF_DIR=.bench_sf30 python tools/minhash_copy_audit.py [copy_id ...]
Default sampled copies: 0, COPIES//2, COPIES-1. AUDIT_REUSE=1 reads back
the pairs an earlier run (or sf100_sharded_sweep.py) wrote inside the
fixture (``make_copies.pairs_out``).
"""
import hashlib
import os
import sys
import time

TOOLS = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(TOOLS)
sys.path.insert(0, REPO)
sys.path.insert(0, TOOLS)

from pyspark.sql import functions as F  # noqa: E402

from bigdataprojectspring16_spark import QUERIES, get_session  # noqa: E402
import make_copies  # noqa: E402

BIG_DIR = os.environ.get("AUDIT_SF_DIR", f"{REPO}/.bench_sf30")
REF_DIR = os.environ.get("AUDIT_REF_DIR", "/root/testdata/sf0.1")
STRIDE = make_copies.STRIDE["doc_id"]
KEY = "dedup_minhash_lsh"


def pair_hash(rows) -> str:
    return hashlib.sha256(
        "\n".join(sorted(repr(tuple(r)) for r in rows)).encode()
    ).hexdigest()[:16]


spark = get_session("minhash-copy-audit")
COPIES = spark.read.parquet(f"{BIG_DIR}/documents.parquet").agg(
    F.max("doc_id")).first()[0] // STRIDE + 1
sample = [int(a) for a in sys.argv[1:]] or [0, COPIES // 2, COPIES - 1]

t0 = time.time()
ref_rows = QUERIES[KEY](spark, REF_DIR).collect()
ref_h = pair_hash(ref_rows)
print(
    f"{REF_DIR} pairs: {len(ref_rows)} ({time.time() - t0:.0f}s), "
    f"hash {ref_h}",
    flush=True,
)

# Materialize the big result ONCE; every audit query reads it back.
# AUDIT_REUSE=1 reuses an existing materialization (e.g. re-running
# only the audit queries after an adjudication-logic fix).
out = make_copies.pairs_out(BIG_DIR)
t0 = time.time()
if not (os.environ.get("AUDIT_REUSE") == "1"
        and os.path.exists(f"{out}/_SUCCESS")):
    QUERIES[KEY](spark, BIG_DIR).write.mode("overwrite").parquet(out)
pairs = spark.read.parquet(out)
total = pairs.count()
expect = COPIES * len(ref_rows)
print(
    f"{BIG_DIR} pairs: {total} ({time.time() - t0:.0f}s); "
    f"expect {expect} = {COPIES}x ref; "
    f"recall {total / expect:.6f}",
    flush=True,
)

cross = pairs.where(
    (F.col("doc_a") / STRIDE).cast("long")
    != (F.col("doc_b") / STRIDE).cast("long")
).count()
print(f"cross-copy pairs (must be 0): {cross}", flush=True)

ref_set = {tuple(r) for r in ref_rows}
copy_fails, exact = [], 0
for c in sample:
    lo, hi = c * STRIDE, c * STRIDE + STRIDE - 1
    rows = (
        pairs.where(F.col("doc_a").between(lo, hi))
        .select(
            (F.col("doc_a") - lo).alias("doc_a"),
            (F.col("doc_b") - lo).alias("doc_b"),
            *[col for col in pairs.columns if col not in ("doc_a", "doc_b")],
        )
        .collect()
    )
    rows_set = {tuple(r) for r in rows}
    false_pairs = len(rows_set - ref_set)
    c_recall = len(rows_set & ref_set) / len(ref_set)
    if len(rows) == len(ref_rows) and pair_hash(rows) == ref_h:
        verdict = "hash-EXACT"
        exact += 1
    elif false_pairs == 0 and c_recall >= 0.9:
        verdict = (f"SUBSET recall {len(rows_set)}/{len(ref_set)} "
                   "(banding miss, precision 1.0)")
    else:
        verdict = f"FAIL ({false_pairs} false pairs, recall {c_recall:.4f})"
        copy_fails.append(c)
    print(f"copy {c}: {len(rows)} pairs -> {verdict}", flush=True)

ok = cross == 0 and not copy_fails and total / expect >= 0.9
print(
    f"\nADJUDICATION: {'PASS' if ok else 'FAIL'} — recall "
    f"{total}/{expect} = {100 * total / expect:.3f}% "
    f"(contract floor 90%); sampled copies: {exact}/{len(sample)} "
    f"hash-EXACT, 0 false pairs in every sample"
    f"{'' if not copy_fails else f'; FAILED {copy_fails}'}; "
    f"cross-copy {cross}",
    flush=True,
)
sys.exit(0 if ok else 1)
