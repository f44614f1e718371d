"""The engine's own settings are one session conf and two deployment
environment variables, each with a measured or documented purpose
(SCALING.md "Barrier mechanism modes"):

- ``barrierMode`` — ``local`` | ``durable`` (the cluster
  fault-tolerance path);
- ``SPARK_GRAFT_CPUS`` and ``SPARK_GRAFT_DRIVER_MEM`` — the local
  session's core count and driver heap (``session.get_session``).

Every other choice follows what the code can observe (input bytes,
``plans.barriers.decade_regime``). Adding a conf or an environment
variable means editing this test.
"""

from __future__ import annotations

import pathlib
import re

import pytest

from bigdataprojectspring16_spark.plans import barriers

from .conftest import knob

ROOT = pathlib.Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "bigdataprojectspring16_spark"
KEY = re.compile(r"spark\.bigdataprojectspring16\.(\w+)")
ENV = re.compile(
    r"""(?:environ\.get|getenv)\(\s*["'](\w+)["']|environ\[\s*["'](\w+)["']\s*\]"""
)


def named_confs() -> set[str]:
    files = [ROOT / "bench.py"]
    for d in ("bigdataprojectspring16_spark", "tools"):
        files += sorted((ROOT / d).rglob("*.py"))
    return {k for f in files for k in KEY.findall(f.read_text())}


def package_env_vars() -> set[str]:
    return {
        a or b
        for f in sorted(PACKAGE.rglob("*.py"))
        for a, b in ENV.findall(f.read_text())
    }


def test_conf_surface_is_pinned():
    assert named_confs() == {"barrierMode"}


def test_env_surface_is_pinned():
    assert package_env_vars() == {"SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM"}


@pytest.mark.parametrize(
    "conf, value, read",
    [(barriers.BARRIER_MODE_CONF, "eager", barriers.barrier_mode)],
    ids=["barrierMode=eager"],
)
def test_removed_conf_values_raise(spark, conf, value, read):
    with knob(spark, conf, value):
        with pytest.raises(ValueError):
            read(spark)
