#!/usr/bin/env python
"""sf100 seventh-decade minhash sweep, disk-bounded by pair-sharding
(VERDICT r12 #4).

The unsharded sf100 sweep is DISK-blocked, not plan-blocked: the
exact-verify stage ships candidate-pairs x coded token arrays — ~70 GB
of concurrent shuffle+spill against the sandbox's shared scratch
(SCALING.md §SF100). Band-sharding does NOT help on this fixture
(J≈1 pairs collide in every band, so each band proposes ~all pairs);
PAIR-sharding does: the deduped candidate list is tiny (~16 B/pair
parquet), so it is materialized once, split by xxhash64(doc_a, doc_b)
into N disjoint shards, and each shard's verify join runs in its OWN
subprocess session — its shuffle/spill dies with the JVM before the
next shard starts, bounding concurrent scratch to ~1/N of the verify
volume plus the small persisted artifacts.

Equivalence is by construction — verification is a deterministic
per-pair function, so verify(shard_0) ∪ ... ∪ verify(shard_N-1) =
verify(all candidates); the shards partition the pair set exactly —
and is also MEASURED: ``selfcheck`` runs the same subprocess
orchestration at sf0.1 and asserts the final pair hash equals the
declared ``dedup_minhash_lsh`` plan's result.

This is the local stand-in for what a cluster gets from executor-
local scratch: the per-executor disk bound is the same 1/N slice.
The DECLARED key keeps its single-plan shape (the phases here are
the same ``_minhash_*`` helpers the key chains — dedup.py r13).

Usage:
  python tools/sf100_sharded_sweep.py run        # full sf100 sweep
  python tools/sf100_sharded_sweep.py selfcheck  # sf0.1 equivalence
  (phases construct|verify|expand are internal subprocess entries)

Env: SWEEP_SF_DIR, SWEEP_NSHARDS (default 4), SWEEP_OUT,
SPARK_GRAFT_DRIVER_MEM (per-phase heap, default 16g for the decade
fixture). The shards, codes and members go to a fresh temporary
directory (under $TMPDIR) that is removed once the run has measured
it. OUT (default: ``make_copies.pairs_out(SWEEP_SF_DIR)``, inside the
fixture) stays, for tools/minhash_copy_audit.py to adjudicate.
"""

import json
import os
import shutil
import subprocess
import sys
import tempfile
import threading
import time

TOOLS = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(TOOLS)
sys.path.insert(0, REPO)

from make_copies import pairs_out  # noqa: E402

SF_DIR = os.environ.get("SWEEP_SF_DIR", f"{REPO}/.bench_sf100")
NSHARDS = int(os.environ.get("SWEEP_NSHARDS", "4"))
#: Set by the orchestrator for its phase subprocesses.
SCRATCH = os.environ.get("SWEEP_SCRATCH", "")
OUT = os.environ.get("SWEEP_OUT", pairs_out(SF_DIR))


def _session(name):
    from bigdataprojectspring16_spark import get_session

    return get_session(name)


def phase_construct() -> None:
    """Candidates + coded verify sides + member map, persisted once."""
    from bigdataprojectspring16_spark.llmops.dedup import (
        _minhash_bands_frame,
        _minhash_candidate_pairs,
        _minhash_contraction,
        coded_sets,
    )

    spark = _session("sf100-shard-construct")
    t, m = _minhash_contraction(spark, SF_DIR)
    bands = _minhash_bands_frame(spark, t)
    cand = _minhash_candidate_pairs(spark, bands)
    cand.write.mode("overwrite").parquet(f"{SCRATCH}/cand")
    coded_sets(t, "toks").write.mode("overwrite").parquet(f"{SCRATCH}/codes")
    m.write.mode("overwrite").parquet(f"{SCRATCH}/members")
    n_cand = spark.read.parquet(f"{SCRATCH}/cand").count()
    n_docs = spark.read.parquet(f"{SCRATCH}/codes").count()
    n_mem = spark.read.parquet(f"{SCRATCH}/members").count()
    print(json.dumps({"phase": "construct", "candidates": n_cand,
                      "distinct_sets": n_docs, "members": n_mem}),
          flush=True)
    spark.stop()


def phase_verify(shard: int) -> None:
    """Exact coded Jaccard on one disjoint pair shard."""
    from pyspark.sql import functions as F

    from bigdataprojectspring16_spark.llmops.dedup import (
        NEAR_DUP_JACCARD,
        exact_jaccard,
    )

    spark = _session(f"sf100-shard-verify-{shard}")
    cand = spark.read.parquet(f"{SCRATCH}/cand").where(
        F.pmod(F.xxhash64("doc_a", "doc_b"), F.lit(NSHARDS)) == shard
    )
    codes = spark.read.parquet(f"{SCRATCH}/codes")
    verified = (
        exact_jaccard(codes, cand)
        .withColumn("jaccard", F.round("jaccard", 6))
        .where(F.col("jaccard") >= NEAR_DUP_JACCARD)
    )
    verified.write.mode("overwrite").parquet(f"{SCRATCH}/verified_{shard}")
    n = spark.read.parquet(f"{SCRATCH}/verified_{shard}").count()
    print(json.dumps({"phase": "verify", "shard": shard, "pairs": n}),
          flush=True)
    spark.stop()


def phase_expand() -> None:
    """Union the shards, expand rep pairs to member pairs, write OUT."""
    from bigdataprojectspring16_spark.llmops.dedup import expand_rep_pairs

    spark = _session("sf100-shard-expand")
    rep_pairs = spark.read.parquet(
        *[f"{SCRATCH}/verified_{s}" for s in range(NSHARDS)]
    )
    members = spark.read.parquet(f"{SCRATCH}/members")
    expand_rep_pairs(rep_pairs, members).write.mode("overwrite").parquet(OUT)
    n = spark.read.parquet(OUT).count()
    print(json.dumps({"phase": "expand", "final_pairs": n, "out": OUT}),
          flush=True)
    spark.stop()


def _run_phase(args: list[str], env_extra: dict | None = None) -> float:
    env = {**os.environ, **(env_extra or {})}
    t0 = time.time()
    r = subprocess.run(
        [sys.executable, os.path.abspath(__file__), *args], env=env
    )
    if r.returncode != 0:
        raise SystemExit(f"phase {args} failed rc={r.returncode}")
    return time.time() - t0


class DiskWatch:
    """Min-free sampler: the receipt's 'inside scratch' evidence."""

    def __init__(self, path="/", interval=5.0):
        self.path, self.interval = path, interval
        self.start_free = shutil.disk_usage(path).free
        self.min_free = self.start_free
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._loop, daemon=True)
        self._t.start()

    def _loop(self):
        while not self._stop.wait(self.interval):
            self.min_free = min(
                self.min_free, shutil.disk_usage(self.path).free
            )

    def stop(self) -> tuple[float, float]:
        self._stop.set()
        self._t.join(timeout=2)
        self.min_free = min(self.min_free, shutil.disk_usage(self.path).free)
        gb = 1 << 30
        return self.start_free / gb, (self.start_free - self.min_free) / gb


def _run_phases(env: dict) -> dict:
    """construct, verify per shard, expand: each its own subprocess."""
    walls = {"construct": _run_phase(["construct"], env)}
    for s in range(NSHARDS):
        walls[f"verify_{s}"] = _run_phase(["verify", str(s)], env)
    walls["expand"] = _run_phase(["expand"], env)
    return walls


def orchestrate() -> None:
    heap = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g")
    scratch = tempfile.mkdtemp(prefix="sf100_shards_")
    print(f"sharded sweep: sf_dir={SF_DIR} nshards={NSHARDS} "
          f"scratch={scratch} heap={heap}", flush=True)
    try:
        watch = DiskWatch()
        walls = _run_phases(
            {"SWEEP_SCRATCH": scratch, "SPARK_GRAFT_DRIVER_MEM": heap}
        )
        start_free, peak_draw = watch.stop()
        art = sum(
            os.path.getsize(os.path.join(dp, f))
            for dp, _dn, fns in os.walk(scratch) for f in fns
        ) / (1 << 30)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    print(json.dumps({
        "metric": "sharded_sweep_total_sec",
        "value": round(sum(walls.values()), 1),
        "walls": {k: round(v, 1) for k, v in walls.items()},
        "start_free_gb": round(start_free, 1),
        "peak_disk_draw_gb": round(peak_draw, 1),
        "scratch_artifacts_gb": round(art, 1),
        "nshards": NSHARDS,
        "sf_dir": SF_DIR,
        "out": OUT,
    }), flush=True)


def selfcheck() -> None:
    """Same subprocess orchestration at sf0.1; final hash must equal
    the declared single-plan key's result."""
    import hashlib

    sf_dir = os.environ.get("SWEEP_SF_DIR", "/root/testdata/sf0.1")
    with tempfile.TemporaryDirectory(prefix="sf100_selfcheck_") as tmp:
        out = os.path.join(tmp, "out")
        _run_phases({"SWEEP_SF_DIR": sf_dir, "SWEEP_SCRATCH": tmp,
                     "SWEEP_OUT": out})

        from bigdataprojectspring16_spark import QUERIES

        spark = _session("sf100-selfcheck-compare")
        sharded = sorted(
            repr(tuple(r)) for r in spark.read.parquet(out).collect()
        )
        declared = sorted(
            repr(tuple(r))
            for r in QUERIES["dedup_minhash_lsh"](spark, sf_dir).collect()
        )
        spark.stop()
    h = lambda rows: hashlib.sha256("\n".join(rows).encode()).hexdigest()[:16]
    print(f"selfcheck {sf_dir}: sharded {len(sharded)} pairs hash "
          f"{h(sharded)}; declared {len(declared)} pairs hash "
          f"{h(declared)}; "
          f"{'EQUAL' if sharded == declared else 'MISMATCH'}")
    if sharded != declared:
        raise SystemExit(1)


if __name__ == "__main__":
    mode = sys.argv[1] if len(sys.argv) > 1 else "run"
    if mode == "construct":
        phase_construct()
    elif mode == "verify":
        phase_verify(int(sys.argv[2]))
    elif mode == "expand":
        phase_expand()
    elif mode == "selfcheck":
        selfcheck()
    elif mode == "run":
        orchestrate()
    else:
        raise SystemExit(f"unknown mode {mode!r}")
