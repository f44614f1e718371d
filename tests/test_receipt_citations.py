"""Every ``tools/...`` file the package, the scripts, the tests and
the live docs cite exists: receipts and scripts alike, so deleting a
script means repointing its citations. Historical records (BASELINE,
ROADMAP/CHANGES history, VERDICT, OPTIMIZATION_r13) keep their
citations as written."""

from __future__ import annotations

import pathlib
import re

ROOT = pathlib.Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "bigdataprojectspring16_spark"
CITATION = re.compile(r"tools/(?:receipts/[\w.\-]+|[\w\-]+\.py)")
SOURCES = [
    *sorted(PACKAGE.rglob("*.py")),
    *sorted((ROOT / "tools").glob("*.py")),
    *sorted((ROOT / "tests").glob("*.py")),
    ROOT / "bench.py",
    ROOT / "README.md",
    ROOT / "SCALING.md",
    ROOT / ".claude" / "skills" / "verify" / "SKILL.md",
]


def cited_paths() -> dict[str, list[str]]:
    """Cited path -> the source files citing it."""
    cited: dict[str, list[str]] = {}
    for src in SOURCES:
        for path in CITATION.findall(src.read_text()):
            cited.setdefault(path.rstrip("."), []).append(str(src.relative_to(ROOT)))
    return cited


def test_package_cites_receipts():
    assert len([p for p in cited_paths() if p.startswith("tools/receipts/")]) >= 5


def test_every_cited_receipt_exists():
    missing = {p: srcs for p, srcs in cited_paths().items() if not (ROOT / p).is_file()}
    assert missing == {}
