"""The broadcast-bounds invariant (VERDICT r10 item 6).

The r10 policy disables both auto-broadcast thresholds, so every
broadcast in the engine is an explicit, docstring-audited
``F.broadcast`` hint. These tests make that audit mechanical: the AST
scan must stay in bijection with the per-site bound table, and every
site exercised at fixture scale must produce a frame within its
declared bound — so an edit that broadcasts a data-proportional frame
(the sf10 ``text_boilerplate_ngrams`` OOM class) fails CI instead of
failing a decade run. ``tools/broadcast_audit.py`` re-runs the
measured half at the sf1/sf10 decades and writes the receipt.
"""

from __future__ import annotations

import os

from broadcast_audit import (
    BOUND_TABLE,
    capture_counts,
    scan_sites,
    scan_violations,
)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")


def test_every_broadcast_site_has_a_declared_bound():
    """New ``F.broadcast`` call sites must register a bound + reason;
    removed sites must drop their table entry (no stale rows)."""
    sites = {s.key for s in scan_sites()}
    table = set(BOUND_TABLE)
    assert sites - table == set(), (
        f"unregistered broadcast sites (add to BOUND_TABLE with a "
        f"bound and reason): {sorted(sites - table)}"
    )
    assert table - sites == set(), (
        f"stale BOUND_TABLE entries: {sorted(table - sites)}"
    )


def test_site_identity_is_unique():
    keys = [s.key for s in scan_sites()]
    assert len(keys) == len(set(keys))


def test_bounds_are_positive_and_reasoned():
    for key, (bound, reason) in BOUND_TABLE.items():
        assert bound >= 1, key
        assert len(reason) >= 10, key


def test_measured_broadcast_counts_within_bounds(spark):
    """Construct every registry query with the hint instrumented and
    count each captured frame — each must sit within its declared
    bound at fixture scale (the decades re-run this via the tool)."""
    counts, failed = capture_counts(spark, SF_DIR)
    assert failed == []
    over = {
        k: (n, BOUND_TABLE[k][0])
        for k, n in counts.items()
        if n > BOUND_TABLE[k][0]
    }
    assert over == {}, f"broadcast frames over declared bound: {over}"
    # Coverage: the registry must exercise every site except the
    # helpers explicitly marked unexercised in the table.
    unexercised = {
        k for k, (_b, r) in BOUND_TABLE.items()
        if r.startswith("unexercised:")
    }
    missed = {s.key for s in scan_sites()} - set(counts) - unexercised
    assert missed == set(), (
        f"sites never hit by registry construction (mark "
        f"'unexercised:' with a pinning test, or cover them): {missed}"
    )


def test_no_unauditable_broadcast_spellings():
    """ADVICE r11: the audit only understands ``F.broadcast(...)``.
    Any other spelling that would broadcast a frame — a direct
    functions import, another module alias, a .hint('broadcast')
    string — must not exist in the package, or a future edit could
    slip an unbounded broadcast past the pinned invariant."""
    assert scan_violations() == []


def test_scanner_detects_each_forbidden_spelling():
    """The package-clean assertion above can't distinguish 'no
    violations' from 'scanner is blind' — feed each forbidden
    spelling to the per-file detector and assert it fires (the
    non-literal hint case is the ADVICE r12 gap: ``df.hint(h)`` with
    ``h = 'broadcast'`` used to bypass the literal-string check)."""
    from broadcast_audit import scan_source

    firing = [
        "from pyspark.sql.functions import broadcast",
        "import pyspark.sql.functions as pf\npf.broadcast(df)",
        "df.hint('broadcast')",
        "df.hint('BroadcastJoin')",
        "df.hint('mapjoin')",
        "h = 'broadcast'\ndf.hint(h)",          # variable hint name
        "df.hint(*hints)",                       # starred — not a literal
        "df.hint()",                             # no name at all
    ]
    for src in firing:
        assert scan_source("synthetic.py", src), f"scanner blind to: {src!r}"
    clean = [
        "import pyspark.sql.functions as F\nF.broadcast(df)",
        "df.hint('merge')",
        "sc.broadcast([1, 2])",
        "spark.sparkContext.broadcast([1, 2])",
    ]
    for src in clean:
        assert scan_source("synthetic.py", src) == [], f"false positive: {src!r}"
