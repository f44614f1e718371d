"""One exact-Jaccard verify and no MLlib in the package.

``llmops/dedup.exact_jaccard`` is the package's only set-Jaccard
verify: every set-similarity key calls it, directly or through
``prefix_jaccard_pairs``, so an added ``array_union`` anywhere else is
a second hand copy of the verify. The seed-dependent MLlib twins are
gone; every scale path is a deterministic, oracle-checked key, so an
import of ``pyspark.ml`` means an unchecked twin came back.
"""

from __future__ import annotations

import re

from .test_freshness_surface import _modules_matching

UNION = re.compile(r"\barray_union\b")
MLLIB = re.compile(r"^\s*(from|import)\s+pyspark\.ml\b", re.M)


def test_only_dedup_spells_the_jaccard_verify():
    assert _modules_matching(UNION) == {"llmops/dedup.py"}


def test_package_imports_no_mllib():
    assert _modules_matching(MLLIB) == set()
