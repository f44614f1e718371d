"""One freshness rule for every input and derived layout.

``sources/readers.source_stamp`` is the package's only reading of file
mtimes (schema reuse, shuffle sizing, layout freshness), and
``sources/sinks.publish_once`` is its only taker of file locks (the
write-once publisher). A second module doing either is a second
freshness or publish rule; adding one means editing this test.
"""

from __future__ import annotations

import pathlib
import re

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "bigdataprojectspring16_spark"
MTIME = re.compile(r"st_mtime|getmtime")
LOCK = re.compile(r"\bfcntl\b|\bflock\b|\blockf\b")


def _modules_matching(pattern: re.Pattern) -> set[str]:
    return {
        f.relative_to(PACKAGE).as_posix()
        for f in PACKAGE.rglob("*.py")
        if pattern.search(f.read_text())
    }


def test_only_readers_reads_mtimes():
    assert _modules_matching(MTIME) == {"sources/readers.py"}


def test_only_sinks_takes_file_locks():
    assert _modules_matching(LOCK) == {"sources/sinks.py"}
