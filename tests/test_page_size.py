"""The managed-memory page size (``session.page_bytes_for_heap``) and
the page paths it changes.

The session sets ``spark.buffer.pageSize`` to max(1 MiB, heap / 8192)
instead of Spark's 64 MiB (SCALING.md "Global rules"). A page that
small makes sorts and hash aggregates cross many page boundaries, and
a single row can be larger than a page; each case below is checked
against an expectation computed in Python.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bigdataprojectspring16_spark.session import (
    page_bytes_for_heap,
    session_page_bytes,
)

from .conftest import knob

MIB = 1 << 20
GIB = 1 << 30
SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"


def test_rule_at_default_heap_and_floor():
    assert page_bytes_for_heap("8g") == MIB
    assert page_bytes_for_heap("512m") == MIB


@pytest.mark.parametrize(
    "heap, heap_bytes",
    [("512m", GIB // 2), ("3g", 3 * GIB), ("10g", 10 * GIB),
     ("24g", 24 * GIB), ("100g", 100 * GIB), ("128g", 128 * GIB)]
    + [(f"{1 << k}m", (1 << k) * MIB) for k in range(9, 18)],
)
def test_page_table_covers_heap(heap, heap_bytes):
    assert 8192 * page_bytes_for_heap(heap) >= heap_bytes


def test_heap_spellings_parse_alike():
    assert page_bytes_for_heap("8g") == page_bytes_for_heap("8192m")
    assert page_bytes_for_heap("8192") == page_bytes_for_heap("8G")
    assert page_bytes_for_heap("24G") == page_bytes_for_heap("24g") == 3 * MIB
    with pytest.raises(ValueError):
        page_bytes_for_heap("eight gigs")


def test_session_page_follows_rule(spark):
    heap = spark.conf.get("spark.driver.memory")
    assert session_page_bytes(spark) == page_bytes_for_heap(heap)


def test_one_partition_sort_over_many_pages(spark):
    n = 200_000
    payload = F.lpad(F.col("id").cast("string"), 8, "0")
    df = spark.range(n, numPartitions=1).select(
        ((F.col("id") * 7919) % n).alias("k"), F.repeat(payload, 16).alias("p")
    )
    # 7919 is coprime to n, so k is a permutation of 0..n-1.
    expected = sorted(((i * 7919) % n, f"{i:08d}" * 16) for i in range(n))
    assert sum(len(p) for _, p in expected) >= 20 * session_page_bytes(spark)
    with knob(spark, SHUFFLE_PARTITIONS, 1):
        got = [tuple(r) for r in df.orderBy("k").collect()]
    assert got == expected


def test_one_task_aggregate_past_the_fast_map(spark):
    groups, per_group = 100_000, 3  # the fast map holds 65,536 keys
    df = spark.range(groups * per_group, numPartitions=1).select(
        (F.col("id") % groups).alias("g"), "id"
    )
    with knob(spark, SHUFFLE_PARTITIONS, 1):
        got = {
            r.g: (r.s, r.n)
            for r in df.groupBy("g")
            .agg(F.sum("id").alias("s"), F.count("*").alias("n"))
            .collect()
        }
    assert got == {
        g: (per_group * g + groups * per_group * (per_group - 1) // 2, per_group)
        for g in range(groups)
    }


def test_row_larger_than_a_page(spark):
    big = 3 * MIB
    assert big > session_page_bytes(spark)
    rows = [(i % 3, i, "x" * (big if i == 4 else 10 + i)) for i in range(9)]
    df = spark.createDataFrame(rows, "g long, k long, p string").coalesce(1)
    with knob(spark, SHUFFLE_PARTITIONS, 1):
        ordered = [(r.k, len(r.p)) for r in df.orderBy(F.desc("k")).collect()]
        lists = {
            r.g: sorted(len(p) for p in r.ps)
            for r in df.groupBy("g").agg(F.collect_list("p").alias("ps")).collect()
        }
        by_text = {
            len(r.p): r.n for r in df.groupBy("p").agg(F.count("*").alias("n")).collect()
        }
    assert ordered == [(k, len(p)) for _, k, p in sorted(rows, key=lambda r: -r[1])]
    assert lists == {
        g: sorted(len(p) for gg, _, p in rows if gg == g) for g in range(3)
    }
    assert by_text == {len(p): 1 for _, _, p in rows}
