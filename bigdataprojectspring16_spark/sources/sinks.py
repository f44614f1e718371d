"""Sinks: parquet / CSV / JSON writers, optionally hive-partitioned,
and the one write-once publisher for layouts derived from a fixture.

Round-tripped (write → read back → hash-compare) in
tests/test_sources_sinks.py (SURVEY §5.2.6). ``partition_by`` writes
the hive layout that makes downstream partition pruning work — the
scan-side half of that contract is asserted in the same tests.
"""

from __future__ import annotations

import fcntl
import hashlib
import os
import shutil
import warnings
from contextlib import contextmanager

from pyspark.sql import DataFrame

from .readers import source_stamp


def write_parquet(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_csv(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    w = (
        df.write.mode(mode)
        .option("header", "true")
        .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
    )
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.csv(path)


def write_bucketed_table(
    df: DataFrame,
    name: str,
    bucket_cols: list[str],
    num_buckets: int = 8,
    sort_cols: list[str] | None = None,
) -> None:
    """Persist as a bucketed (and optionally sorted) managed table.

    Bucketing pre-shuffles the data once at write time: two tables
    bucketed on the same key with the same bucket count join with NO
    exchange on either side — the standard way to amortize the
    biggest fact⋈fact shuffle at 100 TB across every downstream
    query (asserted in tests/test_bucketing.py).
    """
    w = df.write.mode("overwrite").format("parquet").bucketBy(
        num_buckets, *bucket_cols
    )
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(name)


@contextmanager
def _flock(path: str, mode: int):
    with open(path, "a") as fh:
        fcntl.flock(fh, mode)
        try:
            yield
        finally:
            fcntl.flock(fh, fcntl.LOCK_UN)


def publish_once(src_path: str, loc: str, write) -> str:
    """Publish the layout ``write(loc)`` derives from ``src_path`` at
    most once per version of the source, and return ``loc``.

    - **Freshness.** The layout is fresh only while ``<loc>/_SRC_STAMP``
      equals the source's ``readers.source_stamp`` (summed size, newest
      ``mtime_ns``). Size is in the stamp because a ``cp -p``
      regeneration keeps the old mtime; an mtime ordering alone served
      its stale rows (ADVICE r10).
    - **Completion.** The stamp is written last, so a layout a crashed
      or failed write left behind has none and is rewritten; so is a
      layout from before stamps existed.
    - **Pre-write stamp.** The stamp is taken before ``write`` starts:
      a source regenerated mid-write then mismatches and the next call
      rewrites, where a post-write stamp would pin the old rows to the
      new source (ADVICE r11).
    - **Vanished source.** A source that cannot be stat'd makes the
      layout stale, never served on faith; since it cannot be rebuilt,
      the call warns and raises ``FileNotFoundError`` before deleting
      anything (ADVICE r11).
    - **Concurrency.** Writers hold an exclusive ``flock`` on
      ``<loc>.lock``, beside the layout, so every process that can see
      the layout sees the lock (a lock under ``TMPDIR`` would not be
      shared by a process with another ``TMPDIR``). A fresh layout is
      confirmed under a shared lock, so it is never returned while a
      writer is rewriting it (ADVICE r8, r10). A source regenerated
      after the call returned is inherent to returning a location;
      fixtures should not be regenerated under running readers.

    ``write(loc)`` writes the whole layout to ``loc``, which does not
    exist when it is called.
    """
    stamp_file = os.path.join(loc, "_SRC_STAMP")

    def fresh(stamp) -> bool:
        if stamp is None:
            return False
        try:
            with open(stamp_file) as fh:
                return fh.read() == "%d:%d" % stamp
        except OSError:
            return False

    os.makedirs(os.path.dirname(loc), exist_ok=True)
    lock = loc + ".lock"
    if fresh(source_stamp(src_path)):
        with _flock(lock, fcntl.LOCK_SH):
            if fresh(source_stamp(src_path)):
                return loc
    with _flock(lock, fcntl.LOCK_EX):
        stamp = source_stamp(src_path)
        if fresh(stamp):
            return loc
        if stamp is None:
            warnings.warn(
                f"layout {loc}: source {src_path} cannot be stat'd — "
                "treating the layout as STALE",
                stacklevel=2,
            )
            raise FileNotFoundError(
                f"layout {loc}: source {src_path} cannot be stat'd; "
                "refusing to drop or rewrite the layout"
            )
        shutil.rmtree(loc, ignore_errors=True)
        write(loc)
        with open(stamp_file, "w") as fh:
            fh.write("%d:%d" % stamp)
    return loc


def ensure_bucketed_pair(spark, sf_dir: str) -> tuple[str, str]:
    """Write-once bucketed orders/lineitem tables for ``sf_dir``;
    returns their catalog names.

    Both facts are bucketed on the join key with the same bucket
    count, so the orderkey join needs NO exchange on either side.
    """
    return _ensure_bucketed(
        spark,
        sf_dir,
        (
            ("orders", "b_orders", "o_orderkey", ["o_orderkey"]),
            ("lineitem", "b_lineitem", "l_orderkey", ["l_orderkey"]),
        ),
    )


def ensure_bucketed_events(spark, sf_dir: str) -> tuple[str, str]:
    """Write-once bucketed events/customer tables for ``sf_dir``;
    returns their catalog names.

    The skew-family lever (VERDICT r11 #7): ``events`` bucketed on
    ``user_id`` (sorted by user_id, ts — the sessionization window
    order) and ``customer`` on ``c_custkey`` with the same bucket
    count, so the skewed stream⋈dim equi-join and every
    user_id-keyed aggregation/window read pre-shuffled buckets
    (A/B receipt tools/receipts/bucketed_skew_ab_r12.txt)."""
    return _ensure_bucketed(
        spark,
        sf_dir,
        (
            ("events", "b_events", "user_id", ["user_id", "ts"]),
            ("customer", "b_customer", "c_custkey", ["c_custkey"]),
        ),
    )


def _ensure_bucketed(spark, sf_dir: str, plan) -> tuple[str, ...]:
    """Publish each ``plan`` row (source table, name prefix, bucket
    key, sort cols) as an 8-bucket table through :func:`publish_once`.

    Table names carry a hash of the ABSOLUTE source dir, so distinct
    fixtures never share a layout (ADVICE r9). The catalog is
    per-process but the warehouse persists: a fresh layout an earlier
    process wrote is registered again in place as an external bucketed
    table.
    """
    from ..tables import load_table, table_path

    tag = hashlib.sha1(os.path.abspath(sf_dir).encode()).hexdigest()[:12]
    warehouse = spark.conf.get(
        "spark.sql.warehouse.dir", "/tmp/spark-graft-warehouse"
    ).removeprefix("file:")
    names = []
    for src, prefix, key, sort_cols in plan:
        name = f"{prefix}_{tag}"
        loc = os.path.join(warehouse, name.lower())

        def write(_loc):  # runs inside this iteration's publish_once
            spark.sql(f"DROP TABLE IF EXISTS {name}")
            write_bucketed_table(
                load_table(spark, sf_dir, src),
                name,
                [key],
                num_buckets=8,
                sort_cols=sort_cols,
            )

        publish_once(table_path(sf_dir, src), loc, write)
        if not spark.catalog.tableExists(name):
            cols = ", ".join(
                f"{f.name} {f.dataType.simpleString()}"
                for f in load_table(spark, sf_dir, src).schema.fields
            )
            spark.sql(
                f"CREATE TABLE {name} ({cols}) USING parquet "
                f"CLUSTERED BY ({key}) "
                f"SORTED BY ({', '.join(sort_cols)}) "
                f"INTO 8 BUCKETS LOCATION '{loc}'"
            )
        names.append(name)
    return tuple(names)


def write_json(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.json(path)
