"""Bucketed co-located joins: the write-once/shuffle-never contract.

orders and lineitem are bucketed on the join key with the same
bucket count; the join plan must then contain NO shuffle exchange on
either side (bucketing IS the exchange, paid once at write time).
This is the canonical 100 TB lever for repeated fact⋈fact joins.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from bigdataprojectspring16_spark.sources.sinks import write_bucketed_table
from bigdataprojectspring16_spark.tables import load_table

from .conftest import bucketed_layout_unavailable, drop_derived_layouts

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def bucketed(spark):
    write_bucketed_table(
        load_table(spark, SF_DIR, "orders"),
        "b_orders",
        ["o_orderkey"],
        num_buckets=8,
        sort_cols=["o_orderkey"],
    )
    write_bucketed_table(
        load_table(spark, SF_DIR, "lineitem"),
        "b_lineitem",
        ["l_orderkey"],
        num_buckets=8,
        sort_cols=["l_orderkey"],
    )
    yield
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_bucketed_join_has_no_shuffle(spark, bucketed):
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("b_orders").join(
            spark.table("b_lineitem"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan, (
            "bucketed join still shuffles:\n" + plan[:800]
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_bucketed_join_results_match_unbucketed(spark, bucketed):
    o = load_table(spark, SF_DIR, "orders")
    li = load_table(spark, SF_DIR, "lineitem")
    expect = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("l_quantity"), 2).alias("q"))
    )
    got = (
        spark.table("b_orders")
        .join(spark.table("b_lineitem"), F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("l_quantity"), 2).alias("q"))
    )
    assert sorted(map(tuple, expect.collect())) == sorted(map(tuple, got.collect()))


def test_groupby_on_bucket_key_avoids_shuffle(spark, bucketed):
    """Aggregation keyed on the bucket column also reuses the
    write-time partitioning (no exchange before the final agg)."""
    agg = spark.table("b_lineitem").groupBy("l_orderkey").agg(
        F.sum("l_quantity").alias("qty")
    )
    plan = agg._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan, plan[:800]


#: The two derived-layout families ``sources.sinks.publish_once``
#: serves: the bucketed pair (read through its lineitem table) and the
#: month-partitioned orders path. Each maps to the source table the
#: freshness tests regenerate and its key column.
FAMILIES = {"bucketed": ("lineitem", "l_orderkey"), "path": ("orders", "o_orderkey")}


@pytest.fixture
def fx(spark, tmp_path):
    """orders + lineitem copied into a tmp fixture dir; afterwards the
    tables, layouts and lock files derived from it are removed."""
    import shutil

    fx = tmp_path / "fx"
    fx.mkdir()
    for t in ("orders", "lineitem"):
        shutil.copy(f"{SF_DIR}/{t}.parquet", fx / f"{t}.parquet")
    yield fx
    drop_derived_layouts(spark, str(fx))


def _publish(spark, family, fx):
    """Publish ``family``'s layout over ``fx``: (its handle, a count of
    the rows it serves for the table the tests regenerate)."""
    from bigdataprojectspring16_spark.operators import scans
    from bigdataprojectspring16_spark.sources.sinks import ensure_bucketed_pair

    if family == "bucketed":
        names = ensure_bucketed_pair(spark, str(fx))
        return names, lambda: spark.table(names[1]).count()
    path = scans.partitioned_orders_path(spark, str(fx))
    return path, lambda: spark.read.parquet(path).count()


def _regen_half(fx, family) -> int:
    """Rewrite ``family``'s source table in ``fx`` with its even-keyed
    half (the generator rewriting in place); returns the new count."""
    import duckdb

    table, key = FAMILIES[family]
    con = duckdb.connect()
    con.execute(
        f"""COPY (SELECT * FROM '{SF_DIR}/{table}.parquet'
                  WHERE {key} % 2 = 0)
            TO '{fx}/{table}.parquet' (FORMAT PARQUET)"""
    )
    n = con.execute(f"SELECT count(*) FROM '{fx}/{table}.parquet'").fetchone()[0]
    con.close()
    return n


@pytest.mark.parametrize("family", FAMILIES)
def test_ensure_bucketed_pair_invalidates_on_fixture_regen(spark, fx, family):
    """ADVICE r9 staleness discipline: a regenerated source fixture
    (newer mtime) must rewrite the published layout instead of serving
    the old rows."""
    import os

    handle, rows = _publish(spark, family, fx)
    n_before = rows()

    n_new = _regen_half(fx, family)
    src = fx / f"{FAMILIES[family][0]}.parquet"
    future = os.path.getmtime(src) + 5
    os.utime(src, (future, future))

    handle2, rows2 = _publish(spark, family, fx)
    assert handle2 == handle
    assert rows2() == n_new != n_before
    if family == "bucketed":
        # orders was untouched: its layout is fresh and must be reused.
        assert spark.table(handle2[0]).count() == spark.read.parquet(
            str(fx / "orders.parquet")
        ).count()


@pytest.mark.parametrize("family", FAMILIES)
def test_ensure_bucketed_pair_invalidates_on_preserved_mtime(spark, fx, family):
    """ADVICE r10: freshness is keyed on a (size, mtime_ns) stamp, so a
    regeneration that PRESERVES the source mtime (cp -p, coarse-mtime
    filesystems) but changes content size still invalidates the
    layout — the mtime-ordering check alone would serve stale rows."""
    import os

    handle, rows = _publish(spark, family, fx)
    n_before = rows()

    # Regenerate with half the rows, then PIN the old mtime back onto
    # the new file (the cp -p scenario).
    src = fx / f"{FAMILIES[family][0]}.parquet"
    old = os.stat(src)
    n_new = _regen_half(fx, family)
    os.utime(src, ns=(old.st_mtime_ns, old.st_mtime_ns))

    handle2, rows2 = _publish(spark, family, fx)
    assert handle2 == handle
    assert rows2() == n_new != n_before


def test_ensure_bucketed_pair_stamp_is_pre_write(spark, fx, monkeypatch):
    """ADVICE r11 mid-write TOCTOU: the _SRC_STAMP must record the
    source's stat from BEFORE the bucketed write started. If the
    source is regenerated while the write is in flight, the layout
    holds OLD rows — a post-write stamp would match the NEW source
    and serve those stale rows indefinitely; the pre-write stamp
    mismatches and the next call rewrites. Bucketed only: both
    families share ``publish_once``'s stamping."""
    from bigdataprojectspring16_spark.sources import sinks

    n_before = spark.read.parquet(str(fx / "lineitem.parquet")).count()

    real_write = sinks.write_bucketed_table
    n_new = {}

    def racing_write(df, name, bucket_cols, num_buckets=8, sort_cols=None):
        # The write itself reads the OLD source, then the source is
        # regenerated before control returns — i.e. before any
        # post-write stamping could happen.
        real_write(df, name, bucket_cols, num_buckets, sort_cols)
        if name.startswith("b_lineitem") and not n_new:
            n_new["n"] = _regen_half(fx, "bucketed")

    monkeypatch.setattr(sinks, "write_bucketed_table", racing_write)
    names = sinks.ensure_bucketed_pair(spark, str(fx))
    monkeypatch.setattr(sinks, "write_bucketed_table", real_write)

    # The first call's layout legitimately holds the old rows...
    assert spark.table(names[1]).count() == n_before != n_new["n"]
    # ...but the stamp must NOT match the regenerated source, so the
    # next call detects staleness and rewrites with the new rows.
    names2 = sinks.ensure_bucketed_pair(spark, str(fx))
    assert names2 == names
    assert spark.table(names2[1]).count() == n_new["n"]


@pytest.mark.parametrize("family", FAMILIES)
def test_ensure_bucketed_pair_vanished_source_fails_loud(spark, fx, family):
    """ADVICE r11: a source that cannot be stat'd makes the layout
    STALE (never served on faith), and the writer path refuses to
    drop anything it cannot rebuild — FileNotFoundError, layout
    intact. Restoring the identical file resumes the fast path."""
    handle, rows = _publish(spark, family, fx)
    n_rows = rows()

    src = fx / f"{FAMILIES[family][0]}.parquet"
    hidden = fx / "hidden"
    src.rename(hidden)
    with pytest.warns(UserWarning, match="STALE"):
        with pytest.raises(FileNotFoundError, match="refusing to drop"):
            _publish(spark, family, fx)
    # The refusal left the existing layout fully servable.
    if family == "bucketed":
        assert spark.catalog.tableExists(handle[1])
    assert rows() == n_rows

    # Same bytes back (rename preserves size + mtime_ns): the stamp
    # matches again and the fast path serves without a rewrite.
    hidden.rename(src)
    handle2, rows2 = _publish(spark, family, fx)
    assert handle2 == handle
    assert rows2() == n_rows


# --- r13: the skew-family declared consumer (VERDICT r12 #1) --------


def test_load_skew_table_knob_off_is_flat(spark, monkeypatch):
    """When the bucketed layout cannot be built, the skew loader warns
    and is exactly the flat loader: the plan scans the source parquet,
    and the rows equal the bucketed path's."""
    from bigdataprojectspring16_spark.tables import load_skew_table

    buck = sorted(map(tuple, load_skew_table(spark, SF_DIR, "events").collect()))
    bucketed_layout_unavailable(monkeypatch)
    with pytest.warns(UserWarning, match="falling back to flat parquet scans"):
        got = load_skew_table(spark, SF_DIR, "events")
    assert any("events.parquet" in f for f in got.inputFiles()), (
        "fallback skew load must scan the source parquet"
    )
    assert sorted(map(tuple, got.collect())) == buck


def test_load_skew_table_rows_equal_flat(spark):
    """The bucketed layout holds byte-identical data for both skew
    tables — the layout is a physical detour the semantics never see."""
    from bigdataprojectspring16_spark.tables import load_skew_table

    for name in ("events", "customer"):
        flat = sorted(map(tuple, load_table(spark, SF_DIR, name).collect()))
        buck = sorted(
            map(tuple, load_skew_table(spark, SF_DIR, name).collect())
        )
        assert flat == buck, f"bucketed {name} rows differ from flat"


def test_skew_key_plan_rides_buckets(spark):
    """sessionize_gap_batch keys every window on user_id; under the
    bucketed layout the executed plan must contain NO hash-partition
    exchange — the write-time bucketing is the shuffle (the sf0.1
    receipt measured 2→0 exchanges for this key)."""
    from bigdataprojectspring16_spark import QUERIES

    df = QUERIES["sessionize_gap_batch"](spark, SF_DIR)
    df.write.format("noop").mode("overwrite").save()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan, plan[:800]


def test_skew_key_rows_equal_across_knob(spark, monkeypatch):
    """The skewed events⋈customer join returns identical rows from the
    bucketed layout and from the flat fallback (the declared-plan A/B
    contract, pinned at fixture scale; sf0.1 receipt
    bucketed_skew_declared_r13.txt)."""
    from bigdataprojectspring16_spark import QUERIES

    key = QUERIES["join_skew_events_customers"]
    buck = sorted(map(tuple, key(spark, SF_DIR).collect()))
    bucketed_layout_unavailable(monkeypatch)
    with pytest.warns(UserWarning, match="falling back to flat parquet scans"):
        flat = sorted(map(tuple, key(spark, SF_DIR).collect()))
    assert flat == buck
