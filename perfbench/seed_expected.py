"""Write ``expected.json``: the answers the benchmark verifies against.

The answers are the DuckDB oracle verdicts already recorded in
``tools/oracle_cache`` (row count, column names, ``value_hash``) for
every headline key of ``BENCH_r14.json`` and every key a workload runs,
at sf0.1 and sf0.01. The cache names its entries by a fingerprint that
includes file mtimes, so the benchmark does not look entries up there:
it keeps its own copy, guarded by a size-and-content fingerprint of
each fixture directory. The heavy oracles are never re-run.

``BENCH_r14.json``'s per-key job counts are kept as the reference the
traced report compares its build + exec job counts with.

Run from the repository root: ``python3 perfbench/seed_expected.py``.
"""

from __future__ import annotations

import glob
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SF_NAMES = ("sf0.1", "sf0.01")


def main() -> None:
    sys.path[:0] = [HERE, ROOT]
    from run import fixture_fingerprint, testdata_dir
    from workloads import ETL_ANSWERS, QUERY_WORKLOADS

    with open(os.path.join(ROOT, "BENCH_r14.json")) as fh:
        jobs_reference = json.load(fh)["parsed"]["jobs"]
    keys = set(jobs_reference)
    for wl_keys in QUERY_WORKLOADS.values():
        keys.update(wl_keys)
    keys.update(ETL_ANSWERS.values())

    answers: dict[str, dict] = {sf: {} for sf in SF_NAMES}
    for path in glob.glob(os.path.join(ROOT, "tools", "oracle_cache", "*.json")):
        with open(path) as fh:
            entry = json.load(fh)
        sf = os.path.basename(entry["sf_dir"].rstrip("/"))
        if sf not in answers or entry["key"] not in keys:
            continue
        verdict = {k: entry[k] for k in ("nrows", "cols", "value_hash")}
        seen = answers[sf].setdefault(entry["key"], verdict)
        if seen != verdict:
            raise SystemExit(f"conflicting cached verdicts for {entry['key']} at {sf}")
    for sf in SF_NAMES:
        missing = sorted(keys - set(answers[sf]))
        if missing:
            raise SystemExit(f"no cached oracle verdict at {sf} for {missing}")

    out = {
        "fixtures": {
            sf: fixture_fingerprint(os.path.join(testdata_dir(), sf)) for sf in SF_NAMES
        },
        "answers": {sf: dict(sorted(a.items())) for sf, a in answers.items()},
        "jobs_reference": dict(sorted(jobs_reference.items())),
    }
    with open(os.path.join(HERE, "expected.json"), "w") as fh:
        json.dump(out, fh, indent=1)
        fh.write("\n")


if __name__ == "__main__":
    main()
