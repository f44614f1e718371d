"""Shared fixtures: one SparkSession per test session, DuckDB over the
fixture, and the oracle check replicating the driver's t2 gate
(SURVEY §5.2.1). The DuckDB setup and the check are
``tools/driver_sim.py``'s own (``oracle_db``, ``check``: row count,
sorted column names, order-insensitive value hash), so Tier-1 and the
sweep cannot drift apart. A verdict whose key (SQL, fixture bytes,
comparator bytes) is in the committed ``tools/oracle_cache`` is read
from it; a miss runs DuckDB live and writes nothing.
"""

from __future__ import annotations

import contextlib
import glob
import hashlib
import os
import shutil
import sys

import pytest

from bigdataprojectspring16_spark import get_session

# The verifier tooling (comparator, broadcast audit, driver_sim) lives
# in tools/, outside the package.
sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
from driver_sim import Oracles, check, oracle_db  # noqa: E402

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
    """DuckDB with a view per fixture table; its spill dir goes at teardown."""
    with oracle_db(SF_DIR) as con:
        yield con


@pytest.fixture(scope="session")
def oracles(ddb):
    return Oracles(ddb, SF_DIR)


def assert_matches_oracle(spark, oracles, name: str, query_fn, sql: str):
    """The driver's t2 check of ``query_fn`` against ``sql``, keyed
    ``name`` in the oracle cache; raises with driver_sim's status line
    (the first differing row on a hash mismatch)."""
    sdf = query_fn(spark, oracles.sf_dir)
    srows = [tuple(r) for r in sdf.collect()]
    ok, status, _hit = check(oracles, name, sql, srows, sdf.columns)
    if not ok:
        raise AssertionError(f"{name}: {status}")
