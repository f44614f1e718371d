"""The engine's own session confs are exactly three, each with a
measured or documented purpose (SCALING.md "Barrier mechanism modes"):

- ``barrierMode`` — ``local`` | ``durable`` (the cluster
  fault-tolerance path);
- ``materializeShared`` — the 100 TB dedup barrier flip;
- ``verifyTokenCodes`` — ``on`` | ``off`` (the string-form reference).

Adding a knob means editing this test.
"""

from __future__ import annotations

import pathlib
import re

import pytest

from bigdataprojectspring16_spark.llmops import dedup
from bigdataprojectspring16_spark.plans import barriers

from .conftest import knob

ROOT = pathlib.Path(__file__).resolve().parent.parent
KEY = re.compile(r"spark\.bigdataprojectspring16\.(\w+)")


def named_confs() -> set[str]:
    files = [ROOT / "bench.py"]
    for d in ("bigdataprojectspring16_spark", "tools"):
        files += sorted((ROOT / d).rglob("*.py"))
    return {k for f in files for k in KEY.findall(f.read_text())}


def test_conf_surface_is_pinned():
    assert named_confs() == {
        "barrierMode",
        "materializeShared",
        "verifyTokenCodes",
    }


@pytest.mark.parametrize(
    "conf, value, read",
    [
        (barriers.BARRIER_MODE_CONF, "eager", barriers.barrier_mode),
        (dedup.VERIFY_TOKEN_CODES_CONF, "auto", dedup.verify_token_codes),
    ],
    ids=["barrierMode=eager", "verifyTokenCodes=auto"],
)
def test_removed_conf_values_raise(spark, conf, value, read):
    with knob(spark, conf, value):
        with pytest.raises(ValueError):
            read(spark)
