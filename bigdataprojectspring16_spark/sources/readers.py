"""Sources: schema-explicit CSV / JSON / parquet ingestion.

The fixtures are parquet-only, so CSV/JSON readers are exercised by
round-trip tests (tests/test_sources_sinks.py) rather than declared
queries (SURVEY §2.A "sources (non-query)"). Schemas are always
explicit: at 100 TB, schema inference is a full extra pass over the
data — never pay it.
"""

from __future__ import annotations

import os
import stat
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def read_csv(
    spark: SparkSession, path: str, schema: StructType | str, header: bool = True
) -> DataFrame:
    """CSV with explicit schema; no inference pass."""
    return (
        spark.read.schema(schema)
        .option("header", str(header).lower())
        .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
        .csv(path)
    )


def read_json(spark: SparkSession, path: str, schema: StructType | str) -> DataFrame:
    """JSON-lines with explicit schema; malformed rows become nulls
    (PERMISSIVE, the ETL-friendly default) rather than failing the job."""
    return spark.read.schema(schema).option("mode", "PERMISSIVE").json(path)


#: Parquet schemas each session has inferred: path -> (stamp, schema).
#: Weakly keyed by the session, like ``session._AUTO_SIZED``: what an
#: inference yields depends on the session's parquet confs (the
#: engine's ``nanosAsLong`` among them).
_PARQUET_SCHEMAS: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary()
)


def source_stamp(path: str) -> tuple[int, int] | None:
    """(summed file bytes, newest ``mtime_ns``) of a parquet file or of
    every entry of a directory layout; None when the local filesystem
    cannot stat it.

    The package's one test of whether an input changed: ``read_parquet``
    reuses a schema, ``tables.load_table`` sizes the shuffle, and
    ``sources.sinks.publish_once`` keeps a derived layout only while
    the stamp holds. Rewriting a file changes it, also when the rewrite
    (``cp -p``) keeps the old mtime but not the old size.
    """
    try:
        st = os.stat(path)
    except OSError:
        return None
    if not stat.S_ISDIR(st.st_mode):
        return st.st_size, st.st_mtime_ns
    size, newest = 0, st.st_mtime_ns
    for root, dirs, files in os.walk(path):
        for name in dirs + files:
            try:
                sub = os.stat(os.path.join(root, name))
            except OSError:
                continue
            newest = max(newest, sub.st_mtime_ns)
            if stat.S_ISREG(sub.st_mode):
                size += sub.st_size
    return size, newest


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Parquet — schema from footers once per session, columnar +
    predicate pushdown.

    Inferring the schema is a Spark job per read. The first read of a
    path in a session pays it; every later read of the unchanged file
    (same bytes and ``mtime_ns``) hands the inferred schema back
    through ``spark.read.schema``, which starts no job. Each read is
    still a fresh relation, so two reads of one table join as distinct
    attributes. A path the local filesystem cannot stat is inferred on
    every read.
    """
    stamp = source_stamp(path)
    seen = _PARQUET_SCHEMAS.setdefault(spark, {})
    hit = seen.get(path)
    if stamp is not None and hit is not None and hit[0] == stamp:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    if stamp is not None:
        seen[path] = (stamp, df.schema)
    return df
