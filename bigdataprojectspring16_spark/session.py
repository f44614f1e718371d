"""SparkSession factory with the engine's tuning defaults (SURVEY §4).

Design rule: the engine never collects to the driver inside an
operator; every declared query stays a shuffle-partitioned plan so the
same code runs on local[32] for tests and on a 1000-executor cluster
at 100 TB. AQE handles runtime partition coalescing and skew joins;
the session timezone is pinned to UTC because the fixtures'
timestamps are zone-less and the DuckDB oracle compares them naively
(SURVEY §5.3 — a mismatched session TZ is the #1 hash-failure risk).
"""

from __future__ import annotations

import os
import re
import weakref

from pyspark.sql import SparkSession

#: Configs applied by :func:`get_session` AND re-asserted (the
#: runtime-settable subset) by :func:`ensure_session_confs` on
#: sessions the driver created for us.
ENGINE_CONFS: dict[str, str] = {
    # Correctness-critical (runtime settable).
    "spark.sql.session.timeZone": "UTC",
    # A parquet TIMESTAMP(NANOS) column, which Spark 4 rejects
    # (PARQUET_TYPE_ILLEGAL), reads as int64 ns and the loader
    # converts it to µs timestamps (tables.py, matching DuckDB's ns→µs
    # truncation). The fixtures' events.ts is TIMESTAMP(MICROS,
    # isAdjustedToUTC=false) and does not need it: that naive µs
    # column reads as TIMESTAMP_NTZ.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Adaptive execution: runtime re-plan, partition coalescing,
    # skew-join splitting — the 100 TB levers (SURVEY §4).
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Broadcasts are DECLARED, never guessed (r10). Two measured
    # failure modes retire the guessed paths:
    # - STATIC estimates: a broadcast chosen from Catalyst's static
    #   size estimate cannot be demoted by AQE, and an aggregate's
    #   static estimate is routinely tiny for a data-proportional
    #   result — the sf10 family audit crashed exactly this way
    #   (text_boilerplate_ngrams: ~23M-row shingle-df aggregate
    #   statically planned as the build side, driver OOM).
    # - RUNTIME (AQE) promotion: its stats for BARRIERED fixpoint
    #   frames come from cached-block size ESTIMATES, which vary
    #   run-to-run — the r10 closing bench measured job-count flaps
    #   on the CC and threshold-sweep pipelines ([63,62,62] /
    #   [26,27,27]), and deterministic per-key job counts are part
    #   of this engine's verification contract (BASELINE.md anchors,
    #   jobs_unstable must stay {}).
    # So: a join side is broadcast ONLY when a docstring-audited
    # F.broadcast() hint declares it bounded. Both thresholds are
    # session confs — a deployment that prefers opportunistic runtime
    # promotion over plan determinism can raise the adaptive one.
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    # Arrow for every pandas UDF / applyInPandas boundary.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # ANSI off: we want NULL-on-bad-cast like DuckDB's TRY semantics
    # for the few places we cast strings (json props → int).
    "spark.sql.ansi.enabled": "false",
}

#: Local-test shuffle sizing.  A session left at Spark's UNTUNED
#: default (200) pays ~170 empty tasks of scheduling latency per
#: shuffle at sf0.01, so :func:`ensure_session_confs` lowers it to 32
#: — but ONLY when the current value is exactly the stock default.
#: A host that tuned shuffle.partitions itself (any non-200 value —
#: e.g. thousands on a 1000-executor cluster) is never clobbered:
#: AQE can only coalesce DOWN from this value, so force-setting 32
#: on a real cluster would cap shuffle parallelism (ADVICE.md r2,
#: session.py:45).
_SHUFFLE_PARTITIONS_KEY = "spark.sql.shuffle.partitions"
_SPARK_STOCK_SHUFFLE_PARTITIONS = "200"
_TUNED_SHUFFLE_PARTITIONS = "32"

#: Input-proportional shuffle sizing (VERDICT r8 item 2). The sf10
#: decade measured the failure mode: a fixed 32-partition default
#: thrashes once one reducer's slice of an EXPLODING shuffle (shingle
#: → minhash fan-out is 10-50× the compressed input) outgrows the
#: executor's share of the heap — GCLocker retries, 512 MB
#: page-allocation failures, minhash 3.4× slower, threshold_sweep
#: DNF (>35 min), while 256 partitions restore per-decade linearity
#: (receipt: tools/receipts/bench_sweep_sf10_r08.jsonl). The
#: calibration points: sf1 documents (6 MB compressed) is healthy at
#: the 32 floor; sf10 documents (61 MB) needs ~256 — i.e. one shuffle
#: partition per ~256 KB of compressed parquet input keeps the
#: worst-case (decompress × explode) reducer slice inside a task's
#: memory share. Overshoot is cheap: AQE coalesces DOWN from this
#: number using the REAL map-output sizes; undershoot is the only
#: expensive direction. Counts are rounded up to a power of two so
#: repeated runs see stable plan shapes.
_BYTES_PER_SHUFFLE_PARTITION = 256 * 1024
#: Local-mode cap on auto-sizing; a real cluster's higher parallelism
#: arrives via spark-submit tuning, which autosize never overrides.
_AUTO_PARTITION_CAP = 4096


def shuffle_partitions_for_bytes(
    total_bytes: int,
    floor: int | None = None,
    cap: int = _AUTO_PARTITION_CAP,
) -> int:
    """Initial shuffle-partition count for ``total_bytes`` of
    compressed parquet input: ceil(bytes / 256 KB) rounded up to a
    power of two, clamped to [tuned floor, cap].

    Pure and deterministic (pinned by tests/test_scale_paths.py) so
    the same inputs always produce the same plan shape.
    """
    if floor is None:
        floor = int(_TUNED_SHUFFLE_PARTITIONS)
    raw = max(1, -(-int(total_bytes) // _BYTES_PER_SHUFFLE_PARTITION))
    pow2 = 1 << (raw - 1).bit_length()
    return max(floor, min(cap, pow2))


def pinned_stage_width(spark: SparkSession) -> int:
    """Partition width for a USER-PINNED repartition in an expanding
    stage (posting self-joins, band joins, pair-verify fan-outs).

    Those repartitions exist because AQE would coalesce the stage off
    the SMALL pre-expansion map output (dedup.py:221) — but pinning
    them at ``defaultParallelism`` hard-codes fixture-era width: at
    the sf10 decade the posting self-join's per-task slice grew with
    the data while the width stayed 32, and the pair-verify stage blew
    the default 8 g heap (VERDICT r9 item 4; TaskMemoryManager page-
    allocation failures). The session's ``shuffle.partitions`` already
    tracks input bytes via :func:`autosize_shuffle_partitions` (the
    loader calls it for every input), so the pinned width follows it:
    per-task expanded slices then shrink with the same 256 KB/partition
    rule as every other shuffle, and at fixture scale (≤ the tuned
    floor) the width is ``defaultParallelism`` exactly as before.
    """
    par = spark.sparkContext.defaultParallelism
    try:
        cur = int(spark.conf.get(_SHUFFLE_PARTITIONS_KEY))
    except Exception:
        cur = 0
    return max(par, min(cur, _AUTO_PARTITION_CAP))


#: Sessions we auto-sized, with the value we set — distinguishes our
#: own prior setting (safe to raise again) from a host's deliberate
#: tuning (never clobbered, in either direction).
_AUTO_SIZED: "weakref.WeakKeyDictionary[SparkSession, int]" = (
    weakref.WeakKeyDictionary()
)


def autosize_shuffle_partitions(
    spark: SparkSession, input_bytes: int
) -> int | None:
    """Raise ``spark.sql.shuffle.partitions`` to fit ``input_bytes``.

    Called by the table loader with the on-disk size of each input it
    opens, so a 100 TB user gets the sf10 lesson applied without
    knowing it. Policy:

    - **Raise-only, monotone**: the session conf only ever grows
      (the max input seen so far governs); AQE coalesces the excess
      per-query, so a small query after a big one is not penalized.
    - **Never clobber host tuning**: we only touch the conf when its
      current value is the stock default, our tuned floor, or a value
      this function itself set earlier on this session. Manual
      sizing is therefore Spark's own ``spark.sql.shuffle.partitions``
      set to any other value.

    Returns the newly applied value, or None when left alone.
    """
    required = shuffle_partitions_for_bytes(input_bytes)
    try:
        cur = int(
            spark.conf.get(
                _SHUFFLE_PARTITIONS_KEY, _SPARK_STOCK_SHUFFLE_PARTITIONS
            )
        )
    except Exception:
        return None
    ours = cur in (
        int(_SPARK_STOCK_SHUFFLE_PARTITIONS),
        int(_TUNED_SHUFFLE_PARTITIONS),
        _AUTO_SIZED.get(spark),
    )
    if required > cur and ours:
        try:
            spark.conf.set(_SHUFFLE_PARTITIONS_KEY, str(required))
        except Exception:
            return None
        _AUTO_SIZED[spark] = required
        return required
    return None


#: Spark's ``TaskMemoryManager`` page-table size: a task can hold at
#: most this many pages at once.
_PAGE_TABLE_SIZE = 8192
_PAGE_FLOOR_BYTES = 1 << 20
_MEMORY_UNITS = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}


def page_bytes_for_heap(heap: str) -> int:
    """``spark.buffer.pageSize`` for a driver heap given as a
    ``spark.driver.memory`` string ("8g", "8192m", "24G"; no suffix
    means MiB, as Spark reads it): max(1 MiB, ceil(heap / 8192)).

    8,192 pages then always cover the whole heap, so no task runs out
    of page-table entries before it runs out of memory. And the page
    stays below G1's humongous threshold, half a region, for heaps
    from 2g to 64g (G1 sizes a region to heap / 2048 rounded down to
    a power of two, at most 32 MiB): 1 MiB at 8g, where the threshold
    is 2 MiB. Spark's own choice is nextPow2(execution pool / cores /
    16) capped at 64 MiB, which is the cap on an 8g heap, so every
    sort and hash-aggregate task allocated and zeroed a 64 MiB
    humongous ``long[]`` even for a 3-group result (SCALING.md
    "Global rules").
    """
    m = re.fullmatch(r"(\d+)([kmgt]?)b?", heap.strip().lower())
    if m is None:
        raise ValueError(f"not a spark.driver.memory size: {heap!r}")
    heap_bytes = int(m[1]) * _MEMORY_UNITS[m[2] or "m"]
    return max(_PAGE_FLOOR_BYTES, -(-heap_bytes // _PAGE_TABLE_SIZE))


#: Env-overridable (r7): at the in-repo sf1 decade a full 39-query
#: bench.py pass in ONE session can transiently hold enough live
#: broadcast blocks that an 8g driver heap fails a broadcast build
#: mid-run (each key's sweep passes at 8g; the accumulation across
#: ~80 consecutive executions is what needs headroom — broadcasts
#: are only reclaimed by GC-driven ContextCleaner cycles). Local
#: sizing only; on a cluster this comes from spark-submit.
_DRIVER_MEMORY = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")

#: Startup-only configs (not runtime settable) used when WE build the
#: session (tests / bench). On a real cluster these come from
#: spark-submit; sized here for local[32] with 128 GiB.
_STARTUP_CONFS: dict[str, str] = {
    "spark.driver.memory": _DRIVER_MEMORY,
    # Managed-memory page sized to the heap (page_bytes_for_heap):
    # 1 MiB at 8g instead of Spark's 64 MiB, a G1 humongous object in
    # every sort and aggregate task. Plans, jobs and shuffle bytes do
    # not change. Startup-only: a driver-built session keeps its own.
    "spark.buffer.pageSize": f"{page_bytes_for_heap(_DRIVER_MEMORY)}b",
    # Tuned directly when WE build the session; externally-built
    # sessions only get this if they sit at the stock default (see
    # ensure_session_confs).
    _SHUFFLE_PARTITIONS_KEY: _TUNED_SHUFFLE_PARTITIONS,
    "spark.sql.files.maxPartitionBytes": "128m",
    "spark.ui.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
    # Bucketed-table warehouse for the co-located-join path
    # (tests/test_bucketing.py); kept out of the repo tree.
    "spark.sql.warehouse.dir": "/tmp/spark-graft-warehouse",
    # PySpark records the Python call site of every F.*/Column call
    # (pyspark.errors.utils._with_origin), at ~5 Py4J round trips each
    # — most of the Python plan-building time on a short query. The
    # call site only feeds ANSI runtime errors ("DataFrame query
    # context" with the expression's Python file:line); ANSI is off
    # (ENGINE_CONFS), so the engine never raises them. What is lost:
    # a runtime error would not name the Python line that built the
    # failing expression. Static conf, read once per process.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
}


#: Sessions already asserted — every `spark.conf.get` is a py4j round
#: trip, and load_table runs for each of a query's input tables, so
#: without this cache a 133-key driver sweep pays ~7 RPCs × tables ×
#: keys of pure overhead (VERDICT.md "Next round" item 1).
_CONFS_ASSERTED: weakref.WeakSet = weakref.WeakSet()

#: Sentinel conf re-checked on EVERY call (one py4j RPC): the session
#: timezone is the single most correctness-critical conf (SURVEY
#: §5.3).  If the host or a test mutates it after our first assert,
#: the drift invalidates the cache and the full conf set is
#: re-asserted (ADVICE.md r2, session.py:79).
_SENTINEL_CONF = "spark.sql.session.timeZone"


def invalidate_conf_cache(spark: SparkSession | None = None) -> None:
    """Drop the per-session assert cache (all sessions, or one).

    Call from any code path that deliberately mutates session confs so
    the next query re-asserts the engine's correctness set.
    """
    if spark is None:
        _CONFS_ASSERTED.clear()
    else:
        _CONFS_ASSERTED.discard(spark)


def ensure_session_confs(spark: SparkSession) -> SparkSession:
    """Assert the runtime-settable engine confs on an existing session.

    Every query function calls this, so correctness (TZ, AQE, Arrow)
    holds even when the driver — not us — built the SparkSession.
    Cached per live session object, with a one-RPC sentinel probe per
    call so external conf mutation is detected and repaired.
    """
    if spark in _CONFS_ASSERTED:
        try:
            if spark.conf.get(_SENTINEL_CONF, None) == ENGINE_CONFS[_SENTINEL_CONF]:
                return spark
        except Exception:
            return spark
        _CONFS_ASSERTED.discard(spark)  # drifted — re-assert everything
    for k, v in ENGINE_CONFS.items():
        try:
            if spark.conf.get(k, None) != v:
                spark.conf.set(k, v)
        except Exception:
            pass  # non-settable on this build — startup value wins
    try:
        # Lower ONLY the stock default; never clobber host tuning.
        if (
            spark.conf.get(_SHUFFLE_PARTITIONS_KEY, None)
            == _SPARK_STOCK_SHUFFLE_PARTITIONS
        ):
            spark.conf.set(_SHUFFLE_PARTITIONS_KEY, _TUNED_SHUFFLE_PARTITIONS)
    except Exception:
        pass
    _CONFS_ASSERTED.add(spark)
    return spark


def session_page_bytes(spark: SparkSession) -> int:
    """The managed-memory page size the session's JVM actually uses."""
    env = spark.sparkContext._jvm.org.apache.spark.SparkEnv.get()
    return int(env.memoryManager().pageSizeBytes())


def get_session(app_name: str = "bigdataprojectspring16_spark") -> SparkSession:
    """Build (or fetch) the tuned SparkSession for tests and bench.

    Startup confs, the page size among them, only take effect when
    this call starts the JVM; a session that already exists keeps its
    own.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = SparkSession.builder.appName(app_name).master(f"local[{cpus}]")
    for k, v in {**_STARTUP_CONFS, **ENGINE_CONFS}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    return ensure_session_confs(spark)
