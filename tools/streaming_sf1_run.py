#!/usr/bin/env python
"""Streaming's first decade: sf1 multi-batch replay vs batch twins
(VERDICT r10 item 4).

Every other operator family has sf1/sf10 receipts; the ``readStream``
legs were verified only on fixture-scale manufactured batches. This
tool replays the THREE streaming pipelines over the in-repo sf1
events universe (~1.2M events) as a time-ordered multi-batch
file-source feed, with the RocksDB state-store provider active, and
asserts each pipeline's accumulated output EQUALS the batch twin's
result computed on the same rows in one shot:

  1. session windows   (streams.session_counts — 30-min gap sessions)
  2. stream-stream interval join (streams.stream_stream_interval_join
     — purchases x same-user clicks in the preceding hour, state
     buffered across batches on both sides)
  3. stateful counter  (streams.stateful_purchase_counter —
     applyInPandasWithState running per-user purchase sequence)

The feed slices events into N_BATCHES time-ordered parquet chunks
(one file per chunk, maxFilesPerTrigger=1, processAllAvailable
between appends — each chunk is one micro-batch), then a far-future
sentinel chunk advances the watermark so append-mode outputs flush.
Equality is exact row-set equality plus a sha256 over the sorted,
canonicalized rows (the driver-comparator discipline).

Run:  python tools/make_copies.py --copies 10 --out .bench_sf1
      python tools/streaming_sf1_run.py \
          > tools/receipts/streaming_sf1_r11.txt 2>&1
Env:  STREAMING_SF_DIR (default .bench_sf1 in this checkout; the
      replay reads only events, so the sf50 point is built by
      ``make_copies.py --copies 500 --tables events --out .bench_sf50``)
      STREAMING_BATCHES (default 8)
"""

import datetime as dt
import hashlib
import os
import shutil
import sys
import tempfile
import time
import uuid

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql.window import Window  # noqa: E402

from bigdataprojectspring16_spark import get_session  # noqa: E402
from bigdataprojectspring16_spark.streaming import streams  # noqa: E402
from bigdataprojectspring16_spark.tables import load_table  # noqa: E402

SF_DIR = os.environ.get("STREAMING_SF_DIR", f"{REPO}/.bench_sf1")
N_BATCHES = int(os.environ.get("STREAMING_BATCHES", "8"))
ROCKSDB = (
    "org.apache.spark.sql.execution.streaming.state."
    "RocksDBStateStoreProvider"
)
#: Sentinel far beyond the fixture's time range: flushes watermarked
#: append outputs; its rows are excluded from every comparison.
SENTINEL_TS = dt.datetime(2030, 1, 1)
SENTINEL_USER = -1


def canon(v):
    if isinstance(v, float):
        return f"{v:.6g}"
    return str(v)


def hashed(rows):
    h = hashlib.sha256()
    for row in sorted(tuple(canon(v) for v in r) for r in rows):
        h.update("|".join(row).encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def rows_of(df):
    """Collect via Arrow (``toPandas``) instead of the py4j row path:
    a 47M-row collect through py4j pickling holds the whole result as
    JVM objects first and is the second half of the decade-scale
    driver-heap wall (the first was the memory sink — see
    run_pipeline). Returns the pandas frame; comparison and hashing
    are VECTORIZED (``canon_sorted``) — a pure-python sort of 47M
    tuples costs ~an hour, the numpy sort seconds — and produce the
    exact byte stream ``hashed`` produced over Row tuples, verified
    by bit-equal sf0.1 hashes across the refactor."""
    return df.toPandas()


def canon_sorted(pdf):
    """Canonicalize a collected frame to a SORTED numpy array of
    '|'-joined row strings — the same per-value formatting ``canon``
    applied to Row tuples (floats %.6g, everything else str())."""
    import numpy as np
    import pandas.api.types as pt

    if len(pdf) == 0:
        return np.array([], dtype=object)
    cols = []
    for c in pdf.columns:
        s = pdf[c]
        if pt.is_float_dtype(s):
            cols.append(s.map(lambda v: f"{v:.6g}"))
        elif pt.is_datetime64_any_dtype(s):
            # NOT astype(str): pandas renders datetime64 with a
            # COLUMN-wide format (date-only if every value is
            # midnight; padded microseconds if any value has them) —
            # per-value str(Timestamp) matches str(datetime) exactly.
            cols.append(s.map(str))
        else:
            cols.append(s.astype(str))
    if len(cols) == 1:
        out = cols[0].to_numpy(dtype=object)
        out.sort()
        return out
    # Sort by a \x01-joined key — string order on it equals the old
    # column-tuple order (\x01 sorts below every character the
    # canonical values contain, so '3'<'33' column-wise stays
    # '3\x01…'<'33…'; '|'-joined strings would invert such prefixes;
    # NUL would be the natural choice but pandas str.cat silently
    # DROPS a NUL separator) — then emit the '|'-joined form
    # ``hashed`` hashes.
    import numpy as np

    key = cols[0].str.cat(cols[1:], sep="\x01").to_numpy(dtype=object)
    out = cols[0].str.cat(cols[1:], sep="|").to_numpy(dtype=object)
    return out[np.argsort(key)]


def hashed_arr(arr):
    """sha256 over the sorted canonical rows — byte-identical stream
    to ``hashed`` (per row: row bytes then a newline), chunked."""
    h = hashlib.sha256()
    n = len(arr)
    for lo in range(0, n, 1_000_000):
        chunk = "\n".join(arr[lo:lo + 1_000_000])
        h.update(chunk.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def drop_sentinels(pdf):
    """Vectorized port of the tuple filter: drop rows where any
    NUMERIC column equals SENTINEL_USER or any DATETIME column equals
    SENTINEL_TS (string columns never matched either sentinel under
    python ==, so they are skipped)."""
    import pandas as pd
    import pandas.api.types as pt

    mask = pd.Series(False, index=pdf.index)
    for c in pdf.columns:
        s = pdf[c]
        if pt.is_datetime64_any_dtype(s):
            mask |= s == pd.Timestamp(SENTINEL_TS)
        elif pt.is_numeric_dtype(s):
            mask |= s == SENTINEL_USER
    return pdf[~mask]


def write_chunks(df, out_dir, n):
    """Time-ordered slices, one parquet file each (one micro-batch)."""
    # Tool-only global sort: the replay needs a total time order to
    # slice micro-batches; the single-partition window is sanctioned
    # here (fixture tooling, not engine code).
    ranked = df.withColumn(
        "__b", F.ntile(n).over(Window.orderBy("ts", "event_id"))
    )
    paths = []
    for i in range(1, n + 1):
        p = os.path.join(out_dir, f"chunk_{i:02d}")
        (
            ranked.where(F.col("__b") == i)
            .drop("__b")
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(p)
        )
        paths.append(p)
    return paths


def feed_file(spark, chunk_dir, feed_dir, tag):
    """Move one pre-written chunk into the live feed dir as ONE file.

    The copy is staged OUTSIDE the watched directory and enters it via
    ``os.rename``: the feed dir is listed continuously by the running
    query (no trigger interval), and a non-atomic copy can be listed
    at 0 bytes — a zero-length parquet reads as ZERO ROWS without
    error, the path is marked seen, and the chunk is silently lost
    forever. Measured: the first sf50 session replay lost exactly
    micro-batch 3 this way (5,949,000 of the 5,953,000 missing rows;
    every other batch's increment was the sf0.1 increment ×500 —
    `streaming_sf50_r13.txt` MISMATCH, adjudicated in
    OPTIMIZATION_r13.md §3.6). The race window scales with file size,
    which is why sf0.1 never hit it. rename(2) within one filesystem
    is atomic: the source sees the complete file or nothing.
    """
    parts = [
        f for f in os.listdir(chunk_dir) if f.endswith(".parquet")
    ]
    # A chunk written without coalesce(1) would feed only its first
    # part file and silently lose the rest (ADVICE r13 #3) — fail
    # loudly instead.
    assert len(parts) == 1, (
        f"{chunk_dir}: expected exactly one .parquet part, "
        f"found {len(parts)}: {sorted(parts)[:5]}"
    )
    part = parts[0]
    staged = os.path.join(
        os.path.dirname(feed_dir),
        f".staged_{os.path.basename(feed_dir)}_{tag}.parquet",
    )
    shutil.copy(os.path.join(chunk_dir, part), staged)
    os.rename(staged, os.path.join(feed_dir, f"{tag}.parquet"))


def sentinel_rows(spark):
    return spark.createDataFrame(
        [
            (10**9, SENTINEL_USER, "purchase", SENTINEL_TS, 1.0, "{}"),
            (10**9 + 1, SENTINEL_USER, "click", SENTINEL_TS, 1.0, "{}"),
        ],
        streams.EVENTS_SCHEMA,
    )


def run_pipeline(spark, events, tag, build, output_mode, sources):
    """Replay `events` (dict source_name -> DataFrame) through `build`
    and return (rows, n_batches, wall). `build` receives the
    streaming frames in `sources` order."""
    tmp = tempfile.mkdtemp(prefix=f"sf1-stream-{tag}-")
    feeds = {s: os.path.join(tmp, f"feed_{s}") for s in sources}
    chunked = {}
    for s in sources:
        os.makedirs(feeds[s])
        chunk_root = os.path.join(tmp, f"chunks_{s}")
        chunked[s] = write_chunks(events[s], chunk_root, N_BATCHES)
    chk = os.path.join(tmp, "chk")
    # Accumulate the stream's output in PARQUET via foreachBatch, not
    # the memory sink: the memory sink holds every emitted row as JVM
    # driver-heap objects for the life of the query — at the sf50
    # decade (47M session rows) that OOMs a 16 g driver mid-replay.
    # foreachBatch append has IDENTICAL accumulate semantics for both
    # modes used here (append passes newly-finalized rows once;
    # update passes changed rows per batch, which the memory sink
    # also appends — it never updates in place), with the accumulation
    # on disk. uuid keeps reruns from colliding in /tmp.
    out = os.path.join(tmp, f"out_{uuid.uuid4().hex[:8]}")

    def _append(batch_df, _batch_id):
        batch_df.write.mode("append").parquet(out)

    streams_in = [
        streams.read_event_stream(spark, feeds[s]) for s in sources
    ]
    q = (
        build(*streams_in)
        .writeStream.foreachBatch(_append)
        .outputMode(output_mode)
        .option("checkpointLocation", chk)
        .start()
    )
    t0 = time.time()
    batches = 0

    def _accumulated():
        try:
            return spark.read.parquet(out)
        except Exception:  # no batch has written yet
            return None

    try:
        for i in range(N_BATCHES):
            for s in sources:
                feed_file(spark, chunked[s][i], feeds[s], f"b{i:02d}")
            q.processAllAvailable()
            batches += 1
            acc = _accumulated()
            n_so_far = acc.count() if acc is not None else 0
            print(
                f"  [{tag}] batch {i + 1}/{N_BATCHES}: "
                f"cumulative output rows = {n_so_far}",
                flush=True,
            )
        # sentinel flush: advance the watermark past every real event
        sent = sentinel_rows(spark)
        for s in sources:
            sent.coalesce(1).write.mode("overwrite").parquet(
                os.path.join(tmp, "sent")
            )
            feed_file(
                spark, os.path.join(tmp, "sent"), feeds[s], "zz_sentinel"
            )
        q.processAllAvailable()
        batches += 1
        acc = _accumulated()
        if acc is None:
            import pandas as pd

            pdf = pd.DataFrame()
        else:
            pdf = drop_sentinels(rows_of(acc))
        return pdf, batches, time.time() - t0
    finally:
        q.stop()
        shutil.rmtree(tmp, ignore_errors=True)


def _canon_selfcheck() -> None:
    """The vectorized canonical path must reproduce the original
    Row-tuple ``hashed`` byte-for-byte on a mixed-type sample —
    ``hashed``/``canon`` stay as the reference implementation this
    asserts against (pandas datetime/float rendering has column-wide
    surprises; see canon_sorted)."""
    import pandas as pd

    sample = [
        (1, "a", dt.datetime(2021, 1, 1, 7, 3), 1.25),
        (-3, "b|c", dt.datetime(2021, 1, 1), 0.1234567),
        (7, "z", dt.datetime(2021, 1, 1, 7, 3, 0, 500), 2.0),
        # prefix-colliding first column: tuple order ('3'<'33') must
        # survive the join (a '|'-joined sort would invert it)
        (3, "a", dt.datetime(2021, 1, 1), 1.0),
        (33, "a", dt.datetime(2021, 1, 1), 1.0),
    ]
    pdf = pd.DataFrame(sample, columns=["i", "s", "t", "f"])
    pdf["t"] = pd.to_datetime(pdf["t"])
    assert hashed(sample) == hashed_arr(canon_sorted(pdf)), (
        "vectorized canonicalization drifted from the Row-path form"
    )


def main() -> int:
    _canon_selfcheck()
    # Tool-local startup conf (never part of the product confs): the
    # Arrow collect of a 47M-row accumulated output exceeds the 1 GiB
    # spark.driver.maxResultSize default — a guard against accidental
    # collects that this tool's deliberate, bounded decade collect
    # must step over.
    from bigdataprojectspring16_spark import session as _sess

    _sess._STARTUP_CONFS = {
        **_sess._STARTUP_CONFS,
        "spark.driver.maxResultSize": "8g",
    }
    spark = get_session("streaming_sf1")
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass", ROCKSDB
    )
    # A/B knob (§7.5 residual): the measured replay walls are commit-
    # bound, nearly scale-flat from 100k to 50M events (219 s vs
    # 243 s session) — per-batch RocksDB full-snapshot uploads at the
    # pinned width, not data volume. Changelog checkpointing writes
    # the per-batch delta instead and compacts in the background.
    # Default OFF so existing receipts stay comparable.
    changelog = os.environ.get("STREAMING_ROCKSDB_CHANGELOG", "0") == "1"
    if changelog:
        spark.conf.set(
            "spark.sql.streaming.stateStore.rocksdb."
            "changelogCheckpointing.enabled",
            "true",
        )
    print(f"rocksdb changelog checkpointing: {'ON' if changelog else 'off'}")
    print(f"streaming sf1 decade @ {SF_DIR}, {N_BATCHES} micro-batches, "
          f"RocksDB state store")
    ev = load_table(spark, SF_DIR, "events").select(
        "event_id", "user_id", "event_type", "ts", "value", "props"
    )
    n_ev = ev.count()
    print(f"events: {n_ev} rows")
    # State width is a deploy-time constant, never byte-autosized —
    # see streams.pin_state_store_width's docstring for the measured
    # sf50 fd-exhaustion failure that taught this.
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    width = streams.pin_state_store_width(
        spark, int(os.environ.get("STREAMING_STATE_PARTITIONS", "128"))
    )
    print(f"state-store width pinned: {width} shuffle partitions")
    status = 0
    clicks = ev.where(F.col("event_type") == "click")
    buys = ev.where(F.col("event_type") == "purchase")

    def _report(name, streamed, nb, wall, batch) -> int:
        import numpy as np

        ca, cb = canon_sorted(streamed), canon_sorted(batch)
        ok = len(ca) == len(cb) and bool(np.array_equal(ca, cb))
        print(f"{name}: streamed {len(ca)} rows in {nb} "
              f"batches ({wall:.1f}s), batch twin {len(cb)} rows; "
              f"hash {hashed_arr(ca)} vs {hashed_arr(cb)} -> "
              f"{'MATCH' if ok else 'MISMATCH'}", flush=True)
        return 0 if ok else 1

    # ---- 1. session windows -------------------------------------
    def run_session() -> int:
        streamed, nb, wall = run_pipeline(
            spark, {"ev": ev}, "session", streams.session_counts,
            "append", ["ev"],
        )
        batch = rows_of(
            ev.groupBy(
                F.session_window("ts", "30 minutes").alias("sw"),
                "user_id",
            )
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(
                "user_id",
                F.col("sw.start").alias("session_start"),
                F.col("sw.end").alias("session_end"),
                "n_events",
            )
        )
        return _report("session_windows", streamed, nb, wall, batch)

    # ---- 2. stream-stream interval join -------------------------
    def run_ssjoin() -> int:
        streamed, nb, wall = run_pipeline(
            spark, {"clicks": clicks, "buys": buys}, "ssjoin",
            streams.stream_stream_interval_join, "append",
            ["clicks", "buys"],
        )
        c = clicks.select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        p = buys.select(
            "user_id",
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        batch = rows_of(
            p.join(
                c,
                (p["user_id"] == c["c_user"])
                & (c["click_ts"] <= p["purchase_ts"])
                & (
                    c["click_ts"]
                    >= p["purchase_ts"] - F.expr("INTERVAL 1 HOUR")
                ),
            )
            .select(
                "user_id", "purchase_id", "purchase_ts",
                "click_id", "click_ts",
            )
        )
        return _report("interval_join", streamed, nb, wall, batch)

    # ---- 3. stateful counter (applyInPandasWithState) -----------
    def run_counter() -> int:
        streamed, nb, wall = run_pipeline(
            spark, {"ev": ev}, "counter",
            streams.stateful_purchase_counter, "update", ["ev"],
        )
        batch = rows_of(
            buys.select(
                "user_id", "event_id", "ts",
                F.row_number()
                .over(
                    Window.partitionBy("user_id").orderBy("ts", "event_id")
                )
                .alias("purchase_seq"),
            )
        )
        return _report("stateful_counter", streamed, nb, wall, batch)

    # STREAMING_PIPELINES orders (and optionally subsets) the runs —
    # at the big decade fixtures the interval join dominates the wall
    # by ~10x, so running it LAST lets the cheap pipelines' verdicts
    # land even if the wall budget expires mid-join. Each pipeline
    # prints its verdict as it completes (receipts are incremental).
    runners = {"session": run_session, "ssjoin": run_ssjoin,
               "counter": run_counter}
    order = [p.strip() for p in os.environ.get(
        "STREAMING_PIPELINES", "session,ssjoin,counter").split(",")]
    unknown = [p for p in order if p not in runners]
    if unknown:
        raise SystemExit(f"unknown pipelines {unknown}")
    for name in order:
        status |= runners[name]()

    print(f"RESULT: {'PASS' if status == 0 else 'FAIL'} ({order})")
    return status


if __name__ == "__main__":
    raise SystemExit(main())
