"""Property-based differential tests (SURVEY §5.2.2): Hypothesis
generates small frames WITH nulls / empties / edge values — the
things the fixtures lack (§1.2: zero nulls) — and every operator
must agree between Spark and DuckDB on them.

Covers: three-valued filter logic, null-skipping aggregates,
null-key join semantics, DISTINCT over nulls.
"""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

from comparator import first_diff, value_hash

maybe_int = st.one_of(st.none(), st.integers(min_value=-100, max_value=100))
maybe_str = st.one_of(st.none(), st.sampled_from(["x", "xy", "abc", "", "xx"]))
key = st.one_of(st.none(), st.integers(min_value=0, max_value=3))

rows_strategy = st.lists(
    st.tuples(key, maybe_int, maybe_str), min_size=0, max_size=25
)

SLOW = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _both(spark, rows):
    pdf = pd.DataFrame(rows, columns=["k", "a", "s"]).astype(
        {"k": "Int64", "a": "Int64", "s": "object"}
    )
    sdf = spark.createDataFrame(pdf.astype(object).where(pdf.notna(), None),
                                "k bigint, a bigint, s string")
    con = duckdb.connect()
    con.register("t", pdf)
    return sdf, con


def _compare(sdf_result, con, sql):
    s_cols = sdf_result.columns
    s_rows = [tuple(r) for r in sdf_result.collect()]
    res = con.execute(sql)
    d_cols = [d[0] for d in res.description]
    d_rows = res.fetchall()
    assert sorted(s_cols) == sorted(d_cols)
    assert value_hash(s_rows, s_cols) == value_hash(d_rows, d_cols), first_diff(
        s_rows, s_cols, d_rows, d_cols
    )


@given(rows=rows_strategy)
@SLOW
def test_filter_three_valued_logic(spark, rows):
    """NULL comparisons are UNKNOWN; WHERE keeps only TRUE."""
    sdf, con = _both(spark, rows)
    from pyspark.sql import functions as F

    out = sdf.where(
        ((F.col("a") > 5) & F.col("s").isNotNull())
        | F.col("s").like("x%")
        | F.col("a").isNull()
    )
    _compare(
        out,
        con,
        """SELECT * FROM t
           WHERE (a > 5 AND s IS NOT NULL) OR s LIKE 'x%' OR a IS NULL""",
    )


@given(rows=rows_strategy)
@SLOW
def test_aggregates_skip_nulls_and_group_nulls_together(spark, rows):
    sdf, con = _both(spark, rows)
    from pyspark.sql import functions as F

    out = sdf.groupBy("k").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("a").alias("n_a"),          # null-skipping
        F.sum("a").alias("sum_a"),          # null if all-null group
        F.min("s").alias("min_s"),
        F.count_distinct(F.col("s")).alias("nd_s"),
    )
    _compare(
        out,
        con,
        """SELECT k, count(*) AS n_rows, count(a) AS n_a, sum(a) AS sum_a,
                  min(s) AS min_s, count(DISTINCT s) AS nd_s
           FROM t GROUP BY k""",
    )


@given(rows=rows_strategy, rows2=rows_strategy)
@SLOW
def test_left_join_null_keys_never_match(spark, rows, rows2):
    sdf, con = _both(spark, rows)
    pdf2 = pd.DataFrame(rows2, columns=["k", "b", "s2"]).astype(
        {"k": "Int64", "b": "Int64", "s2": "object"}
    )
    sdf2 = spark.createDataFrame(
        pdf2.astype(object).where(pdf2.notna(), None), "k bigint, b bigint, s2 string"
    )
    con.register("u", pdf2)
    from pyspark.sql import functions as F

    agg2 = sdf2.groupBy("k").agg(F.sum("b").alias("sum_b"))
    out = sdf.join(agg2, "k", "left").select("k", "a", "s", "sum_b")
    _compare(
        out,
        con,
        """SELECT t.k AS k, a, s, sum_b
           FROM t LEFT JOIN (SELECT k, sum(b) AS sum_b FROM u GROUP BY k) v
           ON t.k = v.k""",
    )


@given(rows=rows_strategy)
@SLOW
def test_distinct_treats_nulls_as_one_group(spark, rows):
    sdf, con = _both(spark, rows)
    _compare(sdf.select("k", "s").distinct(), con, "SELECT DISTINCT k, s FROM t")


@given(rows=rows_strategy)
@SLOW
def test_window_sum_and_row_number_with_null_ordering(spark, rows):
    """Window functions on null-bearing keys: Spark orders NULLS
    FIRST ascending by default, DuckDB NULLS LAST — pinned explicitly
    on both sides so the frames agree (the hazard this engine's
    declared queries avoid by never ordering on nullable keys)."""
    sdf, con = _both(spark, rows)
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    w = Window.partitionBy("k").orderBy(
        F.col("a").asc_nulls_first(), F.col("s").asc_nulls_first()
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    out = sdf.select(
        "k",
        "a",
        "s",
        F.sum("a").over(w).alias("run_a"),
        F.row_number()
        .over(
            Window.partitionBy("k").orderBy(
                F.col("a").asc_nulls_first(), F.col("s").asc_nulls_first()
            )
        )
        .alias("rn"),
    )
    _compare(
        out,
        con,
        """SELECT k, a, s,
                  sum(a) OVER (PARTITION BY k
                               ORDER BY a ASC NULLS FIRST, s ASC NULLS FIRST
                               ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND CURRENT ROW) AS run_a,
                  row_number() OVER (PARTITION BY k
                                     ORDER BY a ASC NULLS FIRST,
                                              s ASC NULLS FIRST) AS rn
           FROM t""",
    )


cast_str = st.one_of(
    st.none(),
    st.sampled_from(
        ["0", "7", "-42", "007", " 12 ", "", " ", "abc", "1a",
         "99999999999999999999", "-"]
    ),
)
cast_rows = st.lists(st.tuples(key, maybe_int, cast_str), min_size=0, max_size=25)


@given(rows=rows_strategy)
@SLOW
def test_bitwise_ops_agree(spark, rows):
    """Bitwise scalars and aggregates over generated ints (incl.
    NULLs): & / >> and bit_or/bit_xor null-skip must agree.
    Non-negative domain only — the declared bitwise surface."""
    from pyspark.sql import functions as F

    sdf, con = _both(spark, rows)
    nn = F.abs(F.col("a"))
    out = sdf.groupBy("k").agg(
        F.sum(nn.bitwiseAND(F.lit(12))).alias("sum_and"),
        F.bit_or(F.shiftright(nn, 2)).alias("or_shift"),
        F.bit_xor(nn).alias("xor_all"),
    )
    _compare(
        out,
        con,
        """SELECT k,
                  sum(abs(a) & 12) AS sum_and,
                  bit_or(abs(a) >> 2) AS or_shift,
                  bit_xor(abs(a)) AS xor_all
           FROM t GROUP BY k""",
    )


@given(rows=cast_rows)
@SLOW
def test_try_cast_agrees_on_malformed_strings(spark, rows):
    """try_cast over digits / signs / padding / garbage / overflow /
    NULL must null out the same rows in both engines."""
    from pyspark.sql import functions as F

    sdf, con = _both(spark, rows)
    c = F.col("s").try_cast("int")
    out = sdf.groupBy("k").agg(
        F.count(c).alias("n_ok"),
        F.sum(c).alias("sum_ok"),
    )
    _compare(
        out,
        con,
        """SELECT k,
                  count(TRY_CAST(s AS INTEGER)) AS n_ok,
                  sum(TRY_CAST(s AS INTEGER)) AS sum_ok
           FROM t GROUP BY k""",
    )


# -- bucketized band-join coverage theorem -------------------------------

#: Epoch seconds that stress the bucket boundaries for BAND=60:
#: exact multiples of the band, off-by-one on both sides, and
#: exactly-band-apart pairs (the inclusive lower edge).
_BOUNDARY_TS = [0, 1, 59, 60, 61, 119, 120, 121, 180, 240]
band_ts = st.lists(
    st.one_of(
        st.sampled_from(_BOUNDARY_TS),
        st.integers(min_value=0, max_value=300),
    ),
    min_size=0,
    max_size=10,
)

FAST = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@given(probe_ts=band_ts, build_ts=band_ts)
@FAST
def test_bucketed_band_join_equals_naive_inequality_join(
    spark, probe_ts, build_ts
):
    """The bucketized rewrite (equi join on epoch buckets + residual)
    must return EXACTLY the pairs of the naive inequality join —
    every qualifying pair once, no duplicates from the 2-bucket probe
    explode, no misses at the inclusive band edges — on adversarial
    boundary timestamps the fixtures don't contain."""
    from pyspark.sql import functions as F

    from bigdataprojectspring16_spark.operators.joins import (
        bucketed_band_join,
    )

    p = spark.createDataFrame(
        [(t,) for t in probe_ts], "sec bigint"
    ).select(F.timestamp_seconds("sec").alias("p_ts"))
    c = spark.createDataFrame(
        [(t,) for t in build_ts], "sec bigint"
    ).select(F.timestamp_seconds("sec").alias("c_ts"))

    got = sorted(
        (r["p_ts"], r["c_ts"])
        for r in bucketed_band_join(p, c, "p_ts", "c_ts", 60).collect()
    )
    naive = sorted(
        (r["p_ts"], r["c_ts"])
        for r in p.join(
            c,
            (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 60 SECOND"))
            & (F.col("c_ts") <= F.col("p_ts")),
        ).collect()
    )
    assert got == naive
