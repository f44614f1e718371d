"""Persistent DuckDB-oracle result cache (VERDICT r11 next-round #2).

Two r11 closing sweeps at sf0.1 died on ORACLE cost, not engine cost:
the edit-distance dynamic program and the all-pairs cosine sweeps run
30-60+ min single-threaded in DuckDB, so a time-boxed full-registry
sweep never reached the tail. The oracle side of the gate is a pure
function of (oracle SQL, input parquet bytes, comparator version) —
so its verdict triple ``(row count, column names, value hash)`` can
be computed once and replayed for free.

Cache entry = one JSON file under ``tools/oracle_cache/`` named
``{key}-{digest}.json`` where ``digest`` = sha256 over

  * the comparator source (``comparator.py`` bytes — the hash
    discipline IS part of the verdict; a comparator change must
    invalidate every cached hash),
  * a per-table fingerprint of the sf dir (name, size and content
    sha256 of each of the ten parquet tables — a copied fixture keeps
    its entries, any changed byte re-keys them), and
  * the oracle SQL string itself.

The cached verdict is exactly what the comparator consumes:
``nrows`` / ``cols`` / ``value_hash``.  Raw rows are NOT cached — on
a hash mismatch the caller re-executes the SQL to produce the
first-diff, so the rare red path pays full price and the green path
pays nothing.  Files carry the sf dir and an ISO timestamp for
receipt-audit transparency; ``driver_sim.py`` prints a per-run HIT
count so a receipt always shows how much of its oracle side was
replayed vs recomputed.
"""
import hashlib
import json
import os
import time

TOOLS_DIR = os.path.dirname(os.path.abspath(__file__))
CACHE_DIR = os.path.join(TOOLS_DIR, "oracle_cache")
TABLES = (
    "region nation customer supplier part orders lineitem "
    "events documents embeddings"
).split()


def comparator_version() -> str:
    with open(os.path.join(TOOLS_DIR, "comparator.py"), "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()[:12]


def data_fingerprint(sf_dir: str) -> str:
    """sha256 over each table's name, size and full-content sha256 — the
    rule of ``perfbench/run.py:fixture_fingerprint``.

    No mtime: a ``cp -r`` copy or a byte-identical regeneration of a
    fixture keeps its cache entries, and a content change re-keys them
    even when it keeps the size and mtime (``cp -p``).
    """
    parts = []
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        try:
            with open(path, "rb") as fh:
                digest = hashlib.file_digest(fh, "sha256").hexdigest()
            parts.append(f"{t}:{os.path.getsize(path)}:{digest}")
        except OSError:
            parts.append(f"{t}:absent")
    return hashlib.sha256("|".join(parts).encode()).hexdigest()[:12]


def cache_path(key: str, sql: str, comp_ver: str, data_fp: str) -> str:
    digest = hashlib.sha256(
        f"{comp_ver}|{data_fp}|{sql}".encode()
    ).hexdigest()[:16]
    return os.path.join(CACHE_DIR, f"{key}-{digest}.json")


def load(path: str):
    """Return the cached verdict dict, or None if absent/corrupt."""
    try:
        with open(path) as fh:
            d = json.load(fh)
        return {"nrows": d["nrows"], "cols": d["cols"],
                "value_hash": d["value_hash"]}
    except (OSError, ValueError, KeyError):
        return None


def store(path: str, key: str, sf_dir: str, verdict: dict,
          elapsed: float) -> None:
    """Write ``verdict`` (the dict ``load`` returns) atomically."""
    os.makedirs(CACHE_DIR, exist_ok=True)
    tmp = f"{path}.tmp.{os.getpid()}"
    with open(tmp, "w") as fh:
        json.dump(
            {
                "key": key,
                "sf_dir": sf_dir,
                **verdict,
                "oracle_secs": round(elapsed, 3),
                "written": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            },
            fh,
            indent=1,
        )
    os.replace(tmp, path)
