"""Dump formatted physical plans for the headline queries → PLANS.md.

Receipts for the plan-quality claims the docstrings and SCALING.md
make: broadcast placements, WindowGroupLimit/TakeOrdered top-k
pushdown, partial aggregates, pushed filters, and the absence of
nested-loop joins can be read directly instead of re-derived.  Run
after plan changes; the committed snapshot is regenerated per round.

    python tools/dump_plans.py [key ...]     # default: bench HEADLINE
"""

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import HEADLINE  # noqa: E402
from plan_text import formatted_plan  # noqa: E402
from bigdataprojectspring16_spark import QUERIES, get_session  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"
OUT = os.path.join(REPO, "PLANS.md")


def main() -> None:
    keys = sys.argv[1:] or HEADLINE
    spark = get_session("dump-plans")
    lines = [
        "# PLANS — formatted physical plans of the headline queries",
        "",
        f"Generated by tools/dump_plans.py at sf0.01 ({len(keys)} queries).",
        "Read these against SCALING.md's claims: broadcasts on the",
        "constant-size sides, TakeOrdered/WindowGroupLimit for top-k,",
        "two-phase (partial_*) aggregates. The PAIR-GENERATING plans",
        "(minhash, near-dup, graph) contain zero BroadcastNestedLoopJoin",
        "/ CartesianProduct (asserted in tests/test_plan_shapes.py); the",
        "BroadcastNestedLoopJoin occurrences below are the sanctioned",
        "broadcast-of-a-provably-tiny-frame cross joins — 1-row totals,",
        "a single query vector, k×dim centroids, 16 hyperplane buckets.",
        "",
        "These are INITIAL (pre-execution) adaptive plans. Under the",
        "declared-only broadcast rule (session.py r10: BOTH broadcast",
        "thresholds -1), a SortMergeJoin on a small side is not a",
        "missed broadcast — it is the deterministic plan for every",
        "side no docstring-audited F.broadcast() hint declares",
        "bounded; the hints are exactly the BroadcastHashJoins here.",
        "",
    ]
    for key in keys:
        df = QUERIES[key](spark, SF_DIR)
        plan = formatted_plan(df)
        lines += [f"## {key}", "", "```", plan.rstrip(), "```", ""]
    with open(OUT, "w") as f:
        f.write("\n".join(lines))
    print(f"wrote {OUT} ({len(keys)} plans)")
    spark.stop()


if __name__ == "__main__":
    main()
