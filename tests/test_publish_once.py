"""``sources.sinks.publish_once`` without Spark: the write-once rule
every derived fixture layout goes through (the partitioned paths of
``operators/scans.py`` and the bucketed tables of ``sources/sinks.py``).

The Spark-level freshness cases (regenerated, ``cp -p``-regenerated
and vanished sources, for both layout families) are in
tests/test_bucketing.py.
"""

from __future__ import annotations

import os
import pathlib
import subprocess
import sys
import time

import pytest

from bigdataprojectspring16_spark.sources.sinks import publish_once

ROOT = pathlib.Path(__file__).resolve().parent.parent

#: One contender: ``write`` logs its pid, then blocks until ``go``
#: exists, so the test can start the others mid-write.
RACER = r"""
import os, sys, time
from bigdataprojectspring16_spark.sources.sinks import publish_once

src, loc, log, go = sys.argv[1:5]

def write(out):
    with open(log, "a") as fh:
        fh.write(f"{os.getpid()}\n")
    os.makedirs(out)
    while not os.path.exists(go):
        time.sleep(0.02)
    with open(os.path.join(out, "part-0"), "w") as fh:
        fh.write("rows")

print("calling", flush=True)
print(publish_once(src, loc, write), flush=True)
"""


def _source(tmp_path) -> str:
    src = tmp_path / "src.parquet"
    src.write_bytes(b"0123456789")
    return str(src)


def _writer(calls: list):
    def write(out):
        calls.append(out)
        os.makedirs(out)
        (pathlib.Path(out) / "part-0").write_text("rows")

    return write


def _wait_for(path: str, timeout: float = 60.0) -> None:
    end = time.monotonic() + timeout
    while not os.path.exists(path):
        assert time.monotonic() < end, f"{path} never appeared"
        time.sleep(0.02)


def test_racing_processes_write_once(tmp_path):
    """Five processes (more than the cores of a 4-core host) publish
    one layout: the first is held mid-write while the rest start and
    wait on the lock. ``write`` runs once and every call returns
    ``loc``."""
    src = _source(tmp_path)
    loc = str(tmp_path / "layouts" / "events_by_type")
    log, go = str(tmp_path / "writes.log"), str(tmp_path / "go")
    env = {**os.environ, "PYTHONPATH": str(ROOT)}

    def start():
        return subprocess.Popen(
            [sys.executable, "-c", RACER, src, loc, log, go],
            stdout=subprocess.PIPE,
            text=True,
            env=env,
        )

    racers = [start()]
    _wait_for(log)  # the first contender holds the lock, mid-write
    racers += [start() for _ in range(4)]
    for p in racers[1:]:
        assert p.stdout.readline().strip() == "calling"
    time.sleep(0.3)  # let them block on the lock
    pathlib.Path(go).touch()
    outs = [p.communicate(timeout=60)[0].split() for p in racers]

    assert [out[-1] for out in outs] == [loc] * 5
    assert [p.returncode for p in racers] == [0] * 5
    with open(log) as fh:
        assert len(fh.read().split()) == 1  # write ran once
    assert sorted(os.listdir(os.path.dirname(loc))) == [
        "events_by_type",
        "events_by_type.lock",
    ]
    assert sorted(os.listdir(loc)) == ["_SRC_STAMP", "part-0"]


def test_failed_write_leaves_no_stamp_and_is_rewritten(tmp_path):
    src = _source(tmp_path)
    loc = str(tmp_path / "layout")

    def failing(out):
        os.makedirs(out)
        (pathlib.Path(out) / "part-half").write_text("half")
        raise RuntimeError("write failed midway")

    with pytest.raises(RuntimeError, match="midway"):
        publish_once(src, loc, failing)
    assert sorted(os.listdir(loc)) == ["part-half"]  # no stamp

    calls: list = []
    assert publish_once(src, loc, _writer(calls)) == loc
    assert calls == [loc]
    assert sorted(os.listdir(loc)) == ["_SRC_STAMP", "part-0"]
    # Stamped now: the next call serves it without writing.
    assert publish_once(src, loc, _writer(calls)) == loc
    assert calls == [loc]


def test_unstamped_layout_is_rewritten(tmp_path):
    """A complete layout from before stamps existed (Spark's
    ``_SUCCESS`` and data, no ``_SRC_STAMP``) is rewritten once."""
    src = _source(tmp_path)
    loc = tmp_path / "layout"
    loc.mkdir()
    (loc / "_SUCCESS").write_text("")
    (loc / "part-old").write_text("old rows")

    calls: list = []
    publish_once(src, str(loc), _writer(calls))
    publish_once(src, str(loc), _writer(calls))
    assert calls == [str(loc)]
    assert sorted(os.listdir(loc)) == ["_SRC_STAMP", "part-0"]
