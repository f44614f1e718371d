"""The benchmark's workloads: which keys a pass runs and how one key is
executed and verified.

A query workload's key is a registry key. Executing it builds the
DataFrame (``QUERIES[key](spark, sf_dir)``) and materializes it with a
noop write, as ``bench.py`` does. Verifying it collects the rows and
compares (row count, sorted column names, ``tools/comparator.value_hash``)
with the expected answer recorded in ``expected.json``.

The ``etl_write`` workload's key is one output. Executing it writes
sf data through ``sources.sinks`` into a directory the pass owns.
Verifying it reads the output back and compares a Spark-side,
order-insensitive digest with the same digest of the frame written; an
output that persists a registry key's answer is compared with that
key's expected answer instead.

Each run of this engine pays ~10 s of JVM start and ~20 s of JIT
warm-up in its verifying pass, and the benchmark must fit 4 + 22 runs
per workload into a fixed time budget. So there are two workloads, of a
few keys each, that between them cover every layer: ``relational`` the
loader, Catalyst and execution of short queries; ``etl_write`` the sinks,
and the eager barriers of a fixpoint (k-means rounds).
"""

from __future__ import annotations

import os
import shutil

#: Registry keys per query workload.
QUERY_WORKLOADS: dict[str, tuple[str, ...]] = {
    # Short star-schema queries: the fixed cost per query (parquet
    # schema inference in the loader, Catalyst, job scheduling) is
    # most of each key's wall.
    "relational": (
        "tpch_q6_revenue_delta",
        "tpch_q12_ship_delay_priority",
        "agg_pricing_summary",
        "join_multiway_star",
    ),
}

#: Outputs of the etl_write workload, in their default order: two
#: layouts and a fixpoint's answer.
ETL_OUTPUTS: tuple[str, ...] = (
    "orders_by_month",
    "events_bucketed",
    "kmeans_clusters",
)

#: etl_write outputs that persist a registry key's answer; they are
#: verified against that key's expected answer after the read-back.
ETL_ANSWERS: dict[str, str] = {"kmeans_clusters": "kmeans_lloyd_rounds"}

#: Source tables the etl_write outputs are derived from.
ETL_SOURCES: tuple[str, ...] = ("orders", "events", "embeddings")

WORKLOADS: tuple[str, ...] = (*QUERY_WORKLOADS, "etl_write")


def workload_keys(name: str) -> tuple[str, ...]:
    return QUERY_WORKLOADS[name] if name in QUERY_WORKLOADS else ETL_OUTPUTS


def frame_digest(df):
    """(rows, order-insensitive content hash) of ``df``, computed in Spark."""
    from pyspark.sql import functions as F

    row = df.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).alias("h"),
    ).first()
    return int(row["n"]), str(row["h"])


def data_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) of the data files under ``path``; Spark's
    ``_SUCCESS`` markers and checksum sidecars are not data."""
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.startswith(("_", ".")):
                continue
            total += os.path.getsize(os.path.join(root, n))
            files += 1
    return total, files


class EtlWrite:
    """Writes of sf data through ``sources.sinks``.

    The bucketed output uses the events spec of
    ``sinks.ensure_bucketed_events`` (``user_id``, sorted by
    ``user_id, ts``, 8 buckets) under a table name of the benchmark's
    own, so the engine's write-once layouts are never touched.
    """

    TABLES = {"events_bucketed": "perfbench_events"}

    def __init__(self, spark, sf_dir: str, out_dir: str, warehouse: str):
        self.spark, self.sf_dir = spark, sf_dir
        self.out_dir, self.warehouse = out_dir, warehouse

    def reset(self) -> None:
        """Drop every output, so each pass writes into a fresh place."""
        for table in self.TABLES.values():
            self.spark.sql(f"DROP TABLE IF EXISTS {table}")
            shutil.rmtree(os.path.join(self.warehouse, table), ignore_errors=True)
        shutil.rmtree(self.out_dir, ignore_errors=True)

    def source(self, key: str):
        from pyspark.sql import functions as F

        from bigdataprojectspring16_spark import QUERIES, tables

        if key == "orders_by_month":
            orders = tables.load_table(self.spark, self.sf_dir, "orders")
            return orders.withColumn(
                "order_month", F.date_format("o_orderdate", "yyyy-MM")
            )
        if key == "events_bucketed":
            return tables.load_table(self.spark, self.sf_dir, "events")
        return QUERIES[ETL_ANSWERS[key]](self.spark, self.sf_dir)

    def location(self, key: str) -> str:
        if key in self.TABLES:
            return os.path.join(self.warehouse, self.TABLES[key])
        return os.path.join(self.out_dir, key)

    def write(self, key: str, df) -> None:
        from bigdataprojectspring16_spark.sources import sinks

        if key == "orders_by_month":
            # One file per month directory, as the engine's own
            # month-partitioned layout does.
            sinks.write_parquet(
                df.repartition("order_month"), self.location(key),
                partition_by=["order_month"],
            )
        elif key == "events_bucketed":
            sinks.write_bucketed_table(
                df, self.TABLES[key], ["user_id"], num_buckets=8,
                sort_cols=["user_id", "ts"],
            )
        else:
            sinks.write_parquet(df, self.location(key))

    def read_back(self, key: str):
        if key in self.TABLES:
            return self.spark.table(self.TABLES[key])
        return self.spark.read.parquet(self.location(key))

    def verify(self, key: str, df) -> str | None:
        """None when the output read back equals the frame written."""
        back = self.read_back(key)
        want = dict(df.dtypes)
        got = {c: t for c, t in back.dtypes if c in want}
        if got != want:
            return f"schema {sorted(got.items())} != {sorted(want.items())}"
        cols = sorted(want)
        src, out = frame_digest(df.select(cols)), frame_digest(back.select(cols))
        return None if src == out else f"digest {out} != source {src}"
