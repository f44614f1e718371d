"""Shared fixtures: one SparkSession per test session, a DuckDB
connection with the fixture views registered, and the mirror-oracle
comparator replicating the driver's check (row-count + schema +
order-insensitive value comparison) — run locally before the driver
ever does (SURVEY §5.2.1).
"""

from __future__ import annotations

import contextlib
import datetime
import decimal
import math
import os

import duckdb
import pytest

from bigdataprojectspring16_spark import get_session
from bigdataprojectspring16_spark.tables import TABLE_NAMES

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


@pytest.fixture(scope="session")
def ddb():
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    yield con
    con.close()


def _norm_cell(v):
    """Normalize a value for cross-engine comparison — TYPE-FAITHFUL.

    Every scalar carries a type tag so representation mismatches the
    real driver flags (e.g. a DuckDB HUGEINT sum arriving as
    decimal128 while Spark emits int64) fail here too, even when the
    numeric values are equal (VERDICT.md r2 item 3: Decimal(6) == 6
    in Python, so an untagged comparison is blind to the class).
    """
    if v is None:
        return None
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, int):
        return ("i", v)
    if isinstance(v, float):
        if math.isnan(v):
            return ("f", "NaN")
        # collapse -0.0 and ulp drift beyond declared rounding
        return ("f", round(v, 9) + 0.0)
    if isinstance(v, decimal.Decimal):
        return ("d", str(v))
    if isinstance(v, datetime.datetime):
        return ("t", v.replace(tzinfo=None).isoformat())
    if isinstance(v, datetime.date):
        return ("D", v.isoformat())
    if isinstance(v, (list, tuple)):
        return tuple(_norm_cell(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm_cell(x)) for k, x in v.items()))
    if isinstance(v, (bytes, bytearray)):
        return ("x", bytes(v).hex())
    return ("s", str(v))


def _sorted_rows(cols, rows):
    """Rows as tuples in sorted-column order, sorted for order-insensitivity."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm_cell(r[i]) for i in order) for r in rows]
    return sorted(out, key=lambda t: tuple((x is None, str(x)) for x in t))


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
