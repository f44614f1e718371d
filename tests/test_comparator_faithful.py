"""The type-faithful comparator must CATCH the HUGEINT class.

Round 2's driver flagged 5 keys whose values matched but whose DuckDB
oracle column was HUGEINT (int128 -> Arrow decimal128) while Spark
emitted int64 — and the then-current mirror comparator was blind to
it.  These tests pin the comparator's sensitivity so the class can
never re-enter via a new oracle:

- an UNCAST DuckDB integer ``sum()`` against a Spark long must FAIL;
- the same query with ``CAST(... AS BIGINT)`` must PASS;
- property check (Hypothesis): the discipline holds for arbitrary
  int64 inputs, not just the fixture values.

The ad-hoc ``VALUES`` oracles below have no committed verdict, so
``driver_sim.check`` runs each one live in DuckDB.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from comparator import norm

from .conftest import assert_matches_oracle


def _query_from(rows):
    """A queries()-shaped callable summing an in-memory int column."""

    def q(spark, sf_dir):
        df = spark.createDataFrame([(int(v),) for v in rows], "x long")
        return df.agg(F.sum("x").alias("total"))

    return q


def test_uncast_hugeint_sum_is_caught(spark, oracles):
    q = _query_from([1, 2, 3])
    # DuckDB types sum(BIGINT) as HUGEINT -> decimal128 via Arrow.
    with pytest.raises(AssertionError):
        assert_matches_oracle(
            spark, oracles, "uncast_sum", q,
            "SELECT sum(x) AS total FROM (VALUES (1), (2), (3)) v(x)",
        )


def test_cast_bigint_sum_passes(spark, oracles):
    q = _query_from([1, 2, 3])
    assert_matches_oracle(
        spark,
        oracles,
        "cast_sum",
        q,
        "SELECT CAST(sum(x) AS BIGINT) AS total FROM (VALUES (1), (2), (3)) v(x)",
    )


@settings(max_examples=20, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(st.integers(min_value=-(2**40), max_value=2**40), min_size=1, max_size=8))
def test_hugeint_discipline_property(spark, oracles, xs):
    """For ANY int64 input: uncast sum mismatches, cast sum matches."""
    q = _query_from(xs)
    values = ", ".join(f"({v})" for v in xs)
    with pytest.raises(AssertionError):
        assert_matches_oracle(
            spark, oracles, "uncast_sum", q,
            f"SELECT sum(x) AS total FROM (VALUES {values}) v(x)",
        )
    assert_matches_oracle(
        spark,
        oracles,
        "cast_sum",
        q,
        f"SELECT CAST(sum(x) AS BIGINT) AS total FROM (VALUES {values}) v(x)",
    )


def test_norm_cell_tags_types():
    """Decimal, int, float, bool of equal numeric value all differ, and
    NULL differs from each (the cell rendering driver_sim's check
    hashes)."""
    import decimal

    cells = [norm(1), norm(1.0), norm(decimal.Decimal(1)), norm(True)]
    assert len(set(cells)) == 4
    assert norm(None) not in cells
