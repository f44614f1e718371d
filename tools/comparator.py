"""The driver-sim value comparator: the cell rendering and row hash
that ``driver_sim.py``, ``tests/conftest.py`` and ``perfbench`` share,
in a module that imports neither pyspark nor duckdb.

Type-faithful (VERDICT.md r2 item 3) and float-strict (r5 item 4):
every scalar carries a type tag, and floats render as
``repr(round(v, 9) + 0.0)`` — the tests/conftest.py discipline — so a
cent-level aggregation difference (the r5 ``tpch_q10`` red:
307843.60 vs 307843.59) can never hash equal the way the old
``%.6g`` rendering allowed.
"""
import datetime
import decimal
import hashlib
import math


def norm(v):
    """Type-tagged canonical rendering. bool before int (bool is an
    int subclass); Decimal tagged distinctly from int so a HUGEINT
    oracle column can never silently match a Spark BIGINT."""
    if v is None:
        return "\x00"
    if isinstance(v, bool):
        return "b:" + str(v)
    if isinstance(v, int):
        return f"i:{v}"
    if isinstance(v, float):
        if math.isnan(v):
            return "f:NaN"  # distinct from None's "\x00" — NaN != NULL
        # driver-grade: collapse -0.0 and ulp drift beyond declared
        # rounding, keep full cent-level sensitivity (conftest parity).
        # Known tolerance cliff (ADVICE r6): two values within 1e-10
        # that STRADDLE a 9th-decimal round-half-even boundary still
        # normalize differently — the failure mode is a spurious RED
        # (strict), never a false green, so a receipt red on a
        # 9th-decimal diff should be re-read against this note before
        # being treated as a correctness regression.
        return f"f:{round(v, 9) + 0.0!r}"
    if isinstance(v, decimal.Decimal):
        return "d:" + str(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}={norm(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, datetime.datetime):
        return "t:" + v.isoformat()
    if isinstance(v, datetime.date):
        return "D:" + v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return "x:" + bytes(v).hex()
    return "s:" + str(v)


def value_hash(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(norm(r[i]) for i in order) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]


def first_diff(srows, scols, orows, ocols):
    """Best-effort pointer at the first differing canonical line."""
    so = sorted(range(len(scols)), key=lambda i: scols[i])
    oo = sorted(range(len(ocols)), key=lambda i: ocols[i])
    slines = sorted("|".join(norm(r[i]) for i in so) for r in srows)
    olines = sorted("|".join(norm(r[i]) for i in oo) for r in orows)
    for a, b in zip(slines, olines):
        if a != b:
            return f"spark={a!r} oracle={b!r}"
    return f"lengths {len(slines)} vs {len(olines)}"
