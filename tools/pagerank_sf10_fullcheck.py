#!/usr/bin/env python
"""Full-universe sf10 correctness check for graph_pagerank_rounds at
the DEFAULT 8 g heap (VERDICT r10 item 2).

The direct 3-round DuckDB oracle at sf10 exceeds local disk (~78 GB
of spill, measured twice: b3A5 r10, attempt-5 r11), so the decade's
hash evidence was a 1-in-16 whole-order sample. This tool replaces
the sample with an EXACT full-universe oracle derived from the
fixture's construction: .bench_sf10 is 100 key-shifted ISOMORPHIC
copies of sf0.1 with disjoint key ranges (tools/make_sf10.py), the
co-order graph therefore decomposes into 100 disjoint isomorphic
components, and PageRank is a per-component computation — every
copy's rank multiset is IDENTICAL to the standalone sf0.1 result
(the update pr' = 0.15 + 0.85·Σ pr/d is local; no global-N term;
quantization is value-only). Hence the sf10 top-20 under the total
(pr DESC, pid) order is exactly the expansion of the sf0.1 result
by pid -> pid + i·100000 (the partkey stride), re-sorted.

Steps:
  1. run the sf0.1 key and verify it against the DuckDB oracle
     (driver-grade comparator) — this anchors the construction;
  2. expand the verified sf0.1 rows to all 100 copies, sort, take 20
     -> the exact full-universe expectation;
  3. run the key at FULL sf10 in this session (8 g heap — assert the
     env) and require exact row equality.

Run:  SPARK_GRAFT_DRIVER_MEM=8g python tools/pagerank_sf10_fullcheck.py \
          > tools/receipts/pagerank_sf10_8g_fullcheck_r11.txt 2>&1
"""

import os
import sys
import time

TOOLS = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(TOOLS)
sys.path.insert(0, REPO)
sys.path.insert(0, TOOLS)

import duckdb  # noqa: E402

from bigdataprojectspring16_spark import ORACLES, QUERIES, get_session  # noqa: E402
from comparator import value_hash  # noqa: E402

SF01 = "/root/testdata/sf0.1"
SF10 = os.environ.get("SF10_DIR", f"{REPO}/.bench_sf10")
PART_STRIDE = 100_000  # tools/make_sf10.py STRIDE["partkey"]
COPIES = 100
TABLES = (
    "region nation customer supplier part orders lineitem "
    "events documents embeddings"
).split()


def main() -> int:
    heap = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
    print(f"pagerank sf10 full-universe check; driver heap = {heap}")
    assert heap == "8g", "receipt must run at the default 8 g heap"
    spark = get_session("pagerank_sf10_fullcheck")

    # -- 1. anchor: sf0.1 vs the DuckDB oracle (driver-grade hash) --
    t0 = time.time()
    sdf = QUERIES["graph_pagerank_rounds"](spark, SF01)
    s01 = [(r.pid, r.pr) for r in sdf.collect()]
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF01}/{t}.parquet')"
        )
    otab = con.execute(ORACLES["graph_pagerank_rounds"]).arrow()
    o01 = list(zip(*(c.to_pylist() for c in otab.columns)))
    con.close()
    cols = ["pid", "pr"]
    sh = value_hash(s01, cols)
    oh = value_hash([tuple(r) for r in o01], cols)
    print(f"sf0.1 anchor: spark {len(s01)} rows vs oracle {len(o01)} "
          f"rows, hash {sh} vs {oh} "
          f"({time.time() - t0:.1f}s)")
    if sh != oh:
        print("RESULT: FAIL (sf0.1 anchor mismatch)")
        return 1

    # -- 2. construction-derived full-universe expectation ----------
    expanded = sorted(
        (
            (pid + i * PART_STRIDE, pr)
            for pid, pr in s01
            for i in range(COPIES)
        ),
        key=lambda t: (-t[1], t[0]),
    )
    expect = expanded[:20]
    # The derivation is complete only if the 20th expanded value
    # strictly beats the worst sf0.1 value seen (rows below sf0.1's
    # cut could otherwise intrude) — with 100 copies per row this
    # holds whenever the sf0.1 top values aren't a 20-deep tie.
    assert expect[-1][1] > min(pr for _pid, pr in s01) or len(
        {pr for _pid, pr in s01}
    ) == 1, "expansion cannot resolve the sf10 top-20 from sf0.1's top-20"

    # -- 3. full sf10 run at the default heap ------------------------
    t0 = time.time()
    s10 = [
        (r.pid, r.pr)
        for r in QUERIES["graph_pagerank_rounds"](spark, SF10).collect()
    ]
    wall = time.time() - t0
    ok = s10 == expect
    print(f"sf10 full universe: {len(s10)} rows in {wall:.1f}s at {heap}; "
          f"hash {value_hash(s10, cols)} vs expected "
          f"{value_hash(expect, cols)} -> {'MATCH' if ok else 'MISMATCH'}")
    if not ok:
        for got, exp in zip(s10, expect):
            if got != exp:
                print(f"  first diff: got {got}, expected {exp}")
                break
    print(f"RESULT: {'PASS' if ok else 'FAIL'}")
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
