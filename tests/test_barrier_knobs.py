"""The materialization-barrier paths must be result-identical
(SCALING.md §CC / §PR).

The fixture-scale plans are performance choices measured there (the
CC fixpoint and PageRank checkpoint their loop frames locally). The
other paths are the documented 100 TB deployment paths:
``barrierMode=durable`` and the decade-regime PageRank plan. Without
these tests those paths have no regression guard — the parity suite
only ever runs the fixture plans.
"""

from __future__ import annotations

import contextlib
import re

import pytest

from bigdataprojectspring16_spark import QUERIES
from bigdataprojectspring16_spark.plans import barriers

from .conftest import SF_SMALL as SF_DIR
from .conftest import knob


def _rows(spark, key):
    return sorted(tuple(r) for r in QUERIES[key](spark, SF_DIR).collect())


# --- barrier MECHANISM modes (plans/barriers.py) --------------------
#
# The barrier mode decides HOW each barrier materializes (local
# localCheckpoint vs durable checkpoint() — the cluster
# fault-tolerance path). Every mode must be result-identical on keys
# that exercise every barrier site: the CC fixpoint loop and the
# PageRank loop invariants.  (A replicated-persist mode was measured
# and rejected — persist keeps lineage, and the fixpoint's plan tree
# grows exponentially with rounds; see plans/barriers.py docstring.)

_BARRIER_KEYS = ["graph_connected_components", "graph_pagerank_rounds"]


@pytest.mark.parametrize("mode", [m for m in barriers._MODES if m != "local"])
def test_barrier_modes_result_identical(spark, tmp_path, mode):
    base = {k: _rows(spark, k) for k in _BARRIER_KEYS}
    if mode == "durable":
        spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    with knob(spark, barriers.BARRIER_MODE_CONF, mode):
        for k in _BARRIER_KEYS:
            assert _rows(spark, k) == base[k], (mode, k)


def test_barrier_mode_rejects_unknown_value(spark):
    with knob(spark, barriers.BARRIER_MODE_CONF, "bogus"):
        with pytest.raises(ValueError, match="barrierMode"):
            barriers.barrier_mode(spark)


def _pagerank_rows_and_plan(spark, decade: bool):
    """Rows and executed plan of graph_pagerank_rounds in the fixture
    regime or, by forcing the shuffle width to 64x parallelism, in the
    decade regime (plans/barriers.decade_regime)."""
    width = 64 * spark.sparkContext.defaultParallelism
    with contextlib.ExitStack() as stack:
        if decade:
            stack.enter_context(
                knob(spark, "spark.sql.shuffle.partitions", width)
            )
        df = QUERIES["graph_pagerank_rounds"](spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        return sorted(tuple(r) for r in df.collect()), plan


def test_pagerank_edge_build_both_strategies_identical(spark):
    """The decade-regime PageRank plan (self-join edge build, sharded
    pair distinct and inflow sum, DISK_ONLY invariant barriers) must
    return the rows of the fixture-width plan (group edge build,
    partial aggregation, stock barriers). Forcing the shuffle width to
    64x parallelism selects the decade plan on fixture data."""
    base, _ = _pagerank_rows_and_plan(spark, decade=False)
    decade, plan = _pagerank_rows_and_plan(spark, decade=True)
    assert decade == base
    assert len(base) > 0
    assert len(re.findall(r"REPARTITION_BY_NUM", plan)) > 0, (
        "forced-decade plan lost its sharding exchanges"
    )


def test_pagerank_sharded_agg_all_modes_identical(spark):
    # The sharded-aggregation arm (an explicit pid-keyed repartition
    # before each round's inflow sum, decade regime only) must return
    # the exact rows of the partial-aggregation arm the fixture regime
    # runs — sharding changes physical partitioning only, never
    # results. Each plan must also be the arm it claims to be.
    base, base_plan = _pagerank_rows_and_plan(spark, decade=False)
    sharded, sharded_plan = _pagerank_rows_and_plan(spark, decade=True)
    assert base == sharded
    assert "REPARTITION_BY_NUM" not in base_plan
    width = 64 * spark.sparkContext.defaultParallelism
    shards = re.findall(
        rf"hashpartitioning\(pid#\d+L?, {width}\), REPARTITION_BY_NUM",
        sharded_plan,
    )
    assert len(shards) == 3, sharded_plan  # one per unrolled round


def test_barrier_storage_knob(spark):
    """barrier(df, disk=True) keeps the rows, cuts the lineage, and
    stores the blocks DISK_ONLY."""
    sc = spark.sparkContext
    src = spark.range(100).selectExpr("id", "id * 2 AS v")
    before = set(sc._jsc.getPersistentRDDs().keys())
    df = barriers.barrier(src, disk=True)
    assert sorted(df.collect()) == sorted(src.collect())
    logical = df._jdf.queryExecution().logical().toString()
    assert "LogicalRDD" in logical and "Range" not in logical
    levels = [
        rdd.getStorageLevel()
        for i, rdd in sc._jsc.getPersistentRDDs().items()
        if i not in before
    ]
    assert levels and all(
        lv.useDisk() and not lv.useMemory() for lv in levels
    )
