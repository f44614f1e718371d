"""SQL entry-point parity (SURVEY §3, entry 3): for every key whose
oracle SQL is portable ANSI, ``spark.sql(oracle)`` over registered
views must produce exactly the DataFrame form's result — the two
surfaces converge on the same logical plan, and this proves it
query by query instead of asserting it in prose.
"""

from __future__ import annotations

import pytest

from bigdataprojectspring16_spark import ORACLES, QUERIES
from bigdataprojectspring16_spark.sql import (
    PORTABLE_SQL_KEYS,
    register_views,
    to_spark_sql,
)
from comparator import value_hash

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module", autouse=True)
def views(spark):
    register_views(spark, SF_DIR)


@pytest.mark.parametrize("name", PORTABLE_SQL_KEYS)
def test_sql_equals_dataframe(spark, name):
    sql_df = spark.sql(to_spark_sql(ORACLES[name]))
    api_df = QUERIES[name](spark, SF_DIR)
    s_cols, a_cols = sql_df.columns, api_df.columns
    assert sorted(s_cols) == sorted(a_cols)
    s = value_hash([tuple(r) for r in sql_df.collect()], s_cols)
    a = value_hash([tuple(r) for r in api_df.collect()], a_cols)
    assert s == a, f"{name}: SQL surface diverges from DataFrame surface"


def test_portable_exclusion_list_pinned():
    """The dual-SQL surface's sanctioned holes are EXACTLY the two
    documented ones (VERDICT r8 item 7) — adding a third exclusion or
    shrinking PORTABLE_SQL_KEYS must touch this test, on purpose."""
    from bigdataprojectspring16_spark.sql import PORTABLE_SQL_EXCLUSIONS

    assert set(PORTABLE_SQL_EXCLUSIONS) == {
        "sample_importance_reweight",
        "multimodal_join",
    }
    for key, reason in PORTABLE_SQL_EXCLUSIONS.items():
        assert key in QUERIES, key
        assert key not in PORTABLE_SQL_KEYS, key
        assert len(reason) > 40, f"{key}: exclusion needs a real reason"
    # The portable surface itself cannot silently shrink either.
    assert len(PORTABLE_SQL_KEYS) == 61
    assert len(set(PORTABLE_SQL_KEYS)) == 61
    assert set(PORTABLE_SQL_KEYS) <= set(QUERIES)
