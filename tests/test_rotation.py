"""Mechanical driver-window rotation (VERDICT r12 #8).

The driver verifies only the first 50 ``queries()`` keys per round, so
that order is the verification schedule. ``__spark_entry__`` derives
it from the committed CORRECTNESS_r*.json history; these tests pin the
unit semantics on synthetic history, the actual window against the
real files, and that importing the package reads no history at all.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import __spark_entry__
from __spark_entry__ import compute_driver_window, correctness_history

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_changed_keys_lead_then_stalest_first():
    keys = ["a", "b", "c", "d", "e"]
    history = {
        "a": (9, True),
        "b": (7, True),
        "c": (8, True),
        "d": (7, True),
        "e": (9, True),
    }
    win = compute_driver_window(keys, changed=["e"], history=history)
    # e (changed) first; then b,d (r7, alphabetical), c (r8), a (r9).
    assert win == ["e", "b", "d", "c", "a"]


def test_failed_last_check_promotes_before_stale():
    keys = ["a", "b", "c"]
    history = {"a": (5, True), "b": (9, False), "c": (1, True)}
    win = compute_driver_window(keys, changed=[], history=history)
    assert win[0] == "b", "a red key must never wait out a rotation"
    assert win[1:] == ["c", "a"]


def test_never_recorded_ranks_stalest():
    keys = ["recorded", "ghost"]
    history = {"recorded": (3, True)}
    win = compute_driver_window(keys, changed=[], history=history)
    assert win == ["ghost", "recorded"]


def test_size_truncation_and_unknown_changed_dropped():
    keys = [f"k{i:02d}" for i in range(10)]
    history = {k: (1, True) for k in keys}
    win = compute_driver_window(
        keys, changed=["k05", "not_a_key"], history=history, size=4
    )
    assert win == ["k05", "k00", "k01", "k02"]


def test_history_reads_real_files(tmp_path):
    (tmp_path / "CORRECTNESS_r01.json").write_text(
        json.dumps({"x": {"hash_match": True}})
    )
    (tmp_path / "CORRECTNESS_r02.json").write_text(
        json.dumps(
            {
                "x": {"hash_match": False, "err": "boom"},
                "y": {"hash_match": False, "err": "no_oracle",
                      "spark_rows": 7},
            }
        )
    )
    (tmp_path / "CORRECTNESS_r03.json").write_text("not json {")
    hist = correctness_history(str(tmp_path))
    assert hist["x"] == (2, False)  # newest wins, failure recorded
    assert hist["y"] == (2, True)  # sanctioned rows-only counts as ok
    assert correctness_history(str(tmp_path / "missing")) == {}


def test_r13_window_is_the_computed_one():
    """``queries()`` must lead with the mechanical window: 50 distinct
    registered keys, the changed keys first, then every r8-stale key —
    what the driver will record as its next CORRECTNESS file. The
    driver checks only those 50, so a drift here silently wastes
    verification slots."""
    import bigdataprojectspring16_spark as engine

    changed = __spark_entry__._CHANGED_KEYS_THIS_ROUND
    win = compute_driver_window(list(engine.QUERIES), changed)
    ordered = list(__spark_entry__.queries())
    assert ordered[:50] == win
    assert sorted(ordered) == sorted(engine.QUERIES)
    assert len(win) == 50 and len(set(win)) == 50
    assert set(win) <= set(engine.QUERIES)
    assert win[: len(changed)] == changed
    hist = correctness_history()
    r8_stale = {k for k, (rnd, _ok) in hist.items() if rnd <= 8}
    missed = r8_stale - set(win)
    assert not missed, f"r8-stale keys left out of the window: {missed}"


_OPEN_PROBE = """
import os, sys
opened = []


def hook(event, args):
    if event == "open" and isinstance(args[0], (str, bytes)):
        opened.append(os.fsdecode(args[0]))


sys.addaudithook(hook)
import bigdataprojectspring16_spark
print("\\n".join(opened))
print("--- queries() ---")
opened.clear()
import __spark_entry__
__spark_entry__.queries()
print("\\n".join(opened))
"""


def test_importing_the_package_opens_no_history_file():
    """The schedule is the contract module's business: importing the
    package must not read CORRECTNESS_r*.json (only ``queries()``
    does, which the second half of the probe shows the hook sees)."""
    out = subprocess.run(
        [sys.executable, "-c", _OPEN_PROBE],
        cwd=ROOT, capture_output=True, text=True, check=True,
    ).stdout
    on_import, on_queries = out.split("--- queries() ---")
    history = re.compile(r"CORRECTNESS_r\d+\.json")
    assert "bigdataprojectspring16_spark" in on_import  # the hook sees opens
    assert not history.findall(on_import)
    assert history.findall(on_queries)
