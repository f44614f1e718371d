"""Every ``tools/receipts/...`` file the package cites exists."""

from __future__ import annotations

import pathlib
import re

ROOT = pathlib.Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "bigdataprojectspring16_spark"
CITATION = re.compile(r"tools/receipts/[\w.\-]+")


def cited_receipts() -> dict[str, list[str]]:
    """Cited path -> the package files citing it."""
    cited: dict[str, list[str]] = {}
    for src in sorted(PACKAGE.rglob("*.py")):
        for path in CITATION.findall(src.read_text()):
            cited.setdefault(path.rstrip("."), []).append(str(src.relative_to(ROOT)))
    return cited


def test_package_cites_receipts():
    assert len(cited_receipts()) >= 5


def test_every_cited_receipt_exists():
    missing = {p: srcs for p, srcs in cited_receipts().items() if not (ROOT / p).is_file()}
    assert missing == {}
