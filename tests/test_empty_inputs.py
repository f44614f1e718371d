"""Empty-input totality sweep (SURVEY §5.2 hardening).

At 100 TB, empty slices are routine — a partition-pruned date range,
a filter that matches nothing, a cold-start table. Every declared
query must *execute* on a zero-row copy of the star schema (same
parquet schemas, no rows) without raising: no divide-by-zero blowups,
no empty-partition UDF crashes, no iterative loop that can't reach
its own fixpoint on an empty edge set. Result contents are free
(global aggregates legitimately return a null-filled row); completing
the job is the contract.
"""

from __future__ import annotations

import shutil
import tempfile

import pytest

from bigdataprojectspring16_spark import QUERIES
from bigdataprojectspring16_spark.tables import TABLE_NAMES, load_table

from .conftest import drop_derived_layouts

SRC_SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def empty_sf_dir(spark):
    d = tempfile.mkdtemp(prefix="sf-empty-")
    for name in TABLE_NAMES:
        df = load_table(spark, SRC_SF, name)
        df.limit(0).coalesce(1).write.mode("overwrite").parquet(
            f"{d}/{name}.parquet"
        )
    yield d
    drop_derived_layouts(spark, d)
    shutil.rmtree(d, ignore_errors=True)


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_total_on_empty_tables(spark, name, empty_sf_dir):
    rows = QUERIES[name](spark, empty_sf_dir).collect()
    assert rows is not None
