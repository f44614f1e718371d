"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Implementation lives in ``bigdataprojectspring16_spark`` — this
module only re-exports the registry built by the ``@query``
decorators (single source of truth: each oracle string sits next to
its query function).

Registry order here is the verification schedule: each driver run
checks only the first 50 ``queries()`` keys (every CORRECTNESS_r*.json
holds exactly 50), so :func:`queries` returns the registry in the
order :func:`compute_driver_window` derives from the recorded history
(VERDICT r12 #2 + #8). The package itself keeps registration order
and reads no history file.
"""

from __future__ import annotations

import json
import os
import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

import bigdataprojectspring16_spark as engine

#: The CORRECTNESS files are driver-written siblings of this module.
REPO_ROOT = os.path.dirname(os.path.abspath(__file__))

#: Keys whose executed plan changed since the last driver run; they
#: verify first. The one input the history cannot know, so it stays a
#: hand edit. Empty: no executed plan has changed since r14 (the
#: loader's schema reuse and the collapsed knobs left every masked
#: plan identical).
_CHANGED_KEYS_THIS_ROUND: list[str] = []


def correctness_history(repo_root: str = REPO_ROOT) -> dict[str, tuple[int, bool]]:
    """{key: (newest round the real driver checked it, that check ok)}.

    "ok" = the hash gate passed, or the key is a sanctioned rows-only
    entry (err mentions ``no_oracle``) whose Spark side produced rows.
    A malformed or unreadable history file is skipped — the schedule
    must never break the contract.
    """
    hist: dict[str, tuple[int, bool]] = {}
    try:
        names = os.listdir(repo_root)
    except OSError:
        return hist
    for fn in sorted(names):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", fn)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(os.path.join(repo_root, fn)) as f:
                data = json.load(f)
        except (OSError, ValueError):
            continue
        if not isinstance(data, dict):
            continue
        for key, rec in data.items():
            if not isinstance(rec, dict):
                continue
            ok = bool(rec.get("hash_match")) or (
                "no_oracle" in str(rec.get("err") or "")
                and rec.get("spark_rows", -1) >= 0
            )
            prev = hist.get(key)
            if prev is None or rnd >= prev[0]:
                hist[key] = (rnd, ok)
    return hist


def compute_driver_window(
    keys: list[str],
    changed: list[str],
    history: dict[str, tuple[int, bool]] | None = None,
    size: int = 50,
) -> list[str]:
    """The next driver window: changed-first, then failed-last-check
    (a red key never waits out a rotation), then stalest-first
    (ascending newest-check round, ties alphabetical; never-recorded
    keys rank as round 0), truncated to ``size``."""
    if history is None:
        history = correctness_history()
    changed_in = [k for k in changed if k in set(keys)]
    changed_set = set(changed_in)

    def rank(key: str) -> tuple[int, int, str]:
        rnd, ok = history.get(key, (0, True))
        return (0 if not ok else 1, rnd, key)

    rest = sorted((k for k in keys if k not in changed_set), key=rank)
    return (changed_in + rest)[:size]


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1-shape pricing summary) on sf0.001.

    Only the runtime-settable engine confs are asserted here. The
    managed-memory page (``spark.buffer.pageSize``) is startup-only,
    so a session the driver built keeps the page it was started with;
    only sessions ``session.get_session`` builds get the heap-sized
    page (``session.page_bytes_for_heap``).
    """
    engine.session.ensure_session_confs(spark)
    return engine.QUERIES["agg_pricing_summary"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2, the
    driver window first."""
    window = compute_driver_window(list(engine.QUERIES), _CHANGED_KEYS_THIS_ROUND)
    return {k: engine.QUERIES[k] for k in [*window, *engine.QUERIES]}


def oracle_sql() -> dict[str, str]:
    """DuckDB oracle SQL per key (rows-only keys are omitted)."""
    return dict(engine.ORACLES)
