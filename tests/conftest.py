"""Shared fixtures: one SparkSession per test session, a DuckDB
connection with the fixture views registered, and the mirror-oracle
comparator replicating the driver's check (row-count + schema +
order-insensitive value comparison) — run locally before the driver
ever does (SURVEY §5.2.1).
"""

from __future__ import annotations

import contextlib
import glob
import hashlib
import os
import shutil
import sys

import duckdb
import pytest

from bigdataprojectspring16_spark import get_session
from bigdataprojectspring16_spark.tables import TABLE_NAMES

# The verifier tooling (comparator, broadcast audit, driver_sim) lives
# in tools/, outside the package.
sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
from comparator import norm  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")
SF_SMALL = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    spark = get_session("engine-tests")
    yield spark


@contextlib.contextmanager
def knob(spark, conf_key: str, value):
    """Set a session conf for the duration of a block, then restore
    (or unset) it, even on error."""
    prev = spark.conf.get(conf_key, None)
    spark.conf.set(conf_key, str(value))
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(conf_key)
        else:
            spark.conf.set(conf_key, prev)


def drop_derived_layouts(spark, sf_dir: str) -> None:
    """Remove every layout the engine derived from ``sf_dir``: the
    bucketed tables (``b_*_<tag>``), then each warehouse and
    ``.tmp_partitioned`` entry carrying the dir's tag, lock files
    included (``sources/sinks.publish_once``)."""
    tag = hashlib.sha1(os.path.abspath(sf_dir).encode()).hexdigest()[:12]
    for t in spark.catalog.listTables():
        if t.name.startswith("b_") and t.name.endswith(f"_{tag}"):
            spark.sql(f"DROP TABLE IF EXISTS {t.name}")
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    repo = os.path.join(os.path.dirname(__file__), "..")
    for base in (warehouse, os.path.join(repo, ".tmp_partitioned")):
        for p in glob.glob(os.path.join(base, f"*{tag}*")):
            if os.path.isdir(p):
                shutil.rmtree(p)
            else:
                os.remove(p)


def bucketed_layout_unavailable(monkeypatch) -> None:
    """Make the bucketed events/customer layout build raise, as a
    read-only warehouse would, so ``tables.load_skew_table`` takes its
    warn-and-fall-back-to-flat branch."""
    from bigdataprojectspring16_spark.sources import sinks

    def fail(spark, sf_dir):
        raise PermissionError("read-only warehouse")

    monkeypatch.setattr(sinks, "ensure_bucketed_events", fail)


@pytest.fixture(scope="session")
def ddb():
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    yield con
    con.close()


def _sorted_rows(cols, rows):
    """Rows rendered cell by cell with the driver-grade comparator's
    type-tagged ``norm`` (tools/comparator.py: a DuckDB HUGEINT
    arriving as decimal128 never equals a Spark int64, VERDICT.md r2
    item 3), in sorted-column order, sorted for order-insensitivity."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(norm(r[i]) for i in order) for r in rows)


def assert_matches_oracle(spark, ddb, query_fn, oracle: str, sf_dir: str = SF_DIR):
    """The mirror of the driver's t2 check, strict on column names."""
    sdf = query_fn(spark, sf_dir)
    s_cols = sdf.columns
    s_rows = [tuple(r) for r in sdf.collect()]

    # .arrow() is the type-faithful fetch: HUGEINT -> decimal128
    # (Python Decimal), int64 stays int, NULLs in int columns stay
    # None — exactly the representations the driver compares against
    # (a fetchall() int would mask the HUGEINT class entirely).
    d_tab = ddb.execute(oracle).arrow()
    d_cols = list(d_tab.column_names)
    d_rows = [tuple(d[c] for c in d_cols) for d in d_tab.to_pylist()]

    assert sorted(s_cols) == sorted(d_cols), (
        f"column mismatch: spark={sorted(s_cols)} duckdb={sorted(d_cols)}"
    )
    assert len(s_rows) == len(d_rows), (
        f"row count mismatch: spark={len(s_rows)} duckdb={len(d_rows)}"
    )
    s_norm = _sorted_rows(s_cols, s_rows)
    d_norm = _sorted_rows(d_cols, d_rows)
    if s_norm != d_norm:
        diffs = [
            (i, a, b)
            for i, (a, b) in enumerate(zip(s_norm, d_norm))
            if a != b
        ][:5]
        raise AssertionError(
            f"value mismatch ({len(diffs)}+ differing rows shown):\n"
            + "\n".join(f"  row {i}:\n    spark : {a}\n    duckdb: {b}" for i, a, b in diffs)
        )
