"""Mirror of the driver's t2 correctness gate (SURVEY §5.2.1).

Every declared query runs through Spark at sf0.01 and is checked by
``tools/driver_sim.check`` against its DuckDB oracle's verdict (row
count, sorted column names, order-insensitive value hash). The
verdict is read from the committed ``tools/oracle_cache`` when its
key (SQL, fixture bytes, comparator bytes) matches and computed live
otherwise; Tier-1 never writes the cache. The one axis that key
misses, the DuckDB version, is guarded by
``test_cached_verdicts_reproduce_live``. Rows-only keys are
smoke-checked for non-empty output.
"""

from __future__ import annotations

import pytest

import oracle_store  # tools/ is on sys.path (tests/conftest.py)
from bigdataprojectspring16_spark import ORACLES, QUERIES

from .conftest import SF_DIR, SF_SMALL, assert_matches_oracle

ORACLE_KEYS = sorted(ORACLES)
ROWS_ONLY_KEYS = sorted(set(QUERIES) - set(ORACLES))


@pytest.mark.parametrize("key", ORACLE_KEYS)
def test_oracle_parity(spark, oracles, key):
    assert_matches_oracle(spark, oracles, key, QUERIES[key], ORACLES[key])


def test_cached_verdicts_reproduce_live(oracles):
    """Stale-cache guard: ``Oracles.audit`` re-runs every cached verdict
    live but the HEAVY_ORACLE_KEYS (minutes of DuckDB each), and none
    may diverge. A DuckDB upgrade that changes an answer shows on
    these keys as much as on the heavy ones."""
    hits = [k for k in ORACLE_KEYS
            if oracle_store.load(oracles.path(k, ORACLES[k])) is not None]
    diverged = oracles.audit(ORACLES, hits, len(hits))
    assert diverged == [], f"cached verdicts diverge from live DuckDB: {diverged}"


@pytest.mark.parametrize("key", ROWS_ONLY_KEYS)
def test_rows_only_keys_run(spark, key):
    df = QUERIES[key](spark, SF_DIR)
    rows = df.collect()
    assert len(rows) > 0, f"{key} returned no rows"
    assert len(df.columns) > 0


def test_every_query_key_is_snake_case():
    for key in QUERIES:
        assert key.replace("_", "").isalnum() and key == key.lower()


def test_declared_outputs_are_hash_safe(spark):
    """The driver's comparator hashes declared rows cell by cell; a
    nested cell (array/map/struct) crashed its rows-only path in r3
    (`multimodal_features`: unhashable numpy.ndarray). Guard the whole
    registry: every DECLARED output — oracle-keyed or rows-only — must
    consist of atomic columns only. Nested types remain first-class
    *inside* pipelines (toks arrays, meta structs…); they just may not
    be a declared query's final schema."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    bad = {}
    for key, fn in QUERIES.items():
        # sf0.001: schemas are sf-invariant, and constructing the CC /
        # iterative queries runs their fixpoint jobs eagerly — the
        # smallest fixture keeps this schema-only sweep cheap.
        schema = fn(spark, SF_SMALL).schema
        nested = [
            f.name
            for f in schema.fields
            if isinstance(f.dataType, (ArrayType, MapType, StructType))
        ]
        if nested:
            bad[key] = nested
    assert not bad, f"non-hash-safe declared outputs: {bad}"
