#!/usr/bin/env python
"""Key-strided isomorphic copies of a fixture: every decade fixture
above sf0.1 (sf1, sf10, the sf10/sf20/sf30/sf100 documents, the sf50
events) is one command of this script.

Copy i of a table is the source with every key shifted by
``i * STRIDE[key]``, so copies occupy disjoint key ranges while each
keeps the source's FK structure, join fan-out and skew exactly (copy
i's lineitem references copy i's orders, part and supplier; region
and nation stay the shared 25-row dims, written once). Copy 0 is the
source verbatim, so an N-copy build is nested inside every larger
one. Within-copy structure is preserved by construction:

- documents: every token of copy i > 0 gets the prefix ``c<i>_`` (a
  bijection on tokens), and ``n_chars`` is recomputed. Token spaces
  are disjoint across copies, so near-dup pairs and clusters
  replicate per copy instead of cross-linking.
- embeddings: copy i is rotated left by ``i mod dims`` and negated
  when ``i div dims`` is odd. Both are orthogonal, so norms and
  within-copy angles are exact. Copies i < dims only rotate, which is
  how the sf1 fixture was first built (its bytes are unchanged). The
  2 * dims transforms are pairwise distinct, so more copies than that
  are refused, and a post-write check asserts that no copy added a
  duplicate vector beyond those the source already holds.

Everything is a pure function of the source rows (no RNG, no
timestamps), so a fixture is byte-reproducible.

Run:  python tools/make_copies.py --copies 10 --out .bench_sf1
      python tools/make_copies.py --copies 100 --tables documents --out .bench_sf10
"""
import argparse
import os
import shutil
import tempfile

import duckdb

#: Key stride per remapped key, a power of ten above the sf0.1 max.
#: LOAD-BEARING: every committed decade fixture was built with these
#: values, and the copy-isomorphism audits (tools/minhash_copy_audit.py,
#: the copy-expansion arguments in SCALING.md) derive copy ids from
#: them. Changing one silently invalidates the audits of any fixture
#: built under the old value.
STRIDE = {
    "custkey": 100_000,   # max c_custkey 15,000 at sf0.1
    "suppkey": 10_000,    # max s_suppkey 1,000
    "partkey": 100_000,   # max p_partkey 20,000
    "orderkey": 1_000_000,  # max o_orderkey <= 600,000
    "event_id": 1_000_000,  # max event_id <= 100,000
    "user_id": 100_000,
    "doc_id": 10_000,     # max doc_id 4,999
    "vec_id": 10_000,     # max vec_id 1,999
}

#: Remapped columns per table -> STRIDE key. A table with none is a
#: shared dim and is written once.
REMAP = {
    "region": {},
    "nation": {},
    "customer": {"c_custkey": "custkey"},
    "supplier": {"s_suppkey": "suppkey"},
    "part": {"p_partkey": "partkey"},
    "orders": {"o_orderkey": "orderkey", "o_custkey": "custkey"},
    "lineitem": {"l_orderkey": "orderkey", "l_partkey": "partkey",
                 "l_suppkey": "suppkey"},
    "events": {"event_id": "event_id", "user_id": "user_id"},
    "documents": {"doc_id": "doc_id"},
    "embeddings": {"vec_id": "vec_id"},
}
TABLES = list(REMAP)

#: Keys stay far inside int64 and the engine-portable hash bound.
KEY_BOUND = 2**40

_PREFIXED = ("array_to_string(list_transform(string_split(text, ' '), "
             "t -> 'c' || i || '_' || t), ' ')")


def pairs_out(sf_dir: str) -> str:
    """Where the audits write ``dedup_minhash_lsh``'s pairs on the
    fixture ``sf_dir``: inside it, so no two fixtures share one."""
    return os.path.join(os.path.abspath(sf_dir), "_audit_dedup_minhash_lsh")


def _column(table: str, col: str, dims: int) -> str:
    """The SELECT item for one source column of copy ``i``."""
    if col in REMAP[table]:
        return f"{col} + i * {STRIDE[REMAP[table][col]]} AS {col}"
    if (table, col) == ("documents", "text"):
        return f"CASE WHEN i = 0 THEN text ELSE {_PREFIXED} END AS text"
    if (table, col) == ("documents", "n_chars"):
        return (f"CASE WHEN i = 0 THEN n_chars ELSE "
                f"CAST(length({_PREFIXED}) AS BIGINT) END AS n_chars")
    if (table, col) == ("embeddings", "embedding"):
        return (f"CASE WHEN i = 0 THEN embedding ELSE CAST(list_transform("
                f"list_concat(embedding[i % {dims} + 1:], "
                f"embedding[1:i % {dims}]), "
                f"x -> CASE WHEN (i // {dims}) % 2 = 1 THEN -x ELSE x END"
                f") AS FLOAT[]) END AS embedding")
    return col


def _dup_rows(con, path: str) -> int:
    """Rows beyond the first of every group of identical vectors."""
    return con.execute(
        f"SELECT coalesce(sum(c - 1), 0) FROM (SELECT count(*) c "
        f"FROM '{path}' GROUP BY embedding HAVING count(*) > 1)"
    ).fetchone()[0]


def build(copies: int, out: str, tables=TABLES,
          src: str = "/root/testdata/sf0.1") -> None:
    """Write ``copies`` isomorphic copies of each of ``tables`` from
    ``src`` into ``out/<table>.parquet``; raise ``ValueError`` before
    writing anything the copy rules cannot keep disjoint."""
    unknown = set(tables) - set(TABLES)
    if unknown or copies < 1:
        raise ValueError(f"tables {sorted(unknown)}, copies {copies}")
    os.makedirs(out, exist_ok=True)
    spill = tempfile.mkdtemp(prefix=".duckdb_spill_", dir=out)
    con = duckdb.connect()
    try:
        dims = 0
        for t in tables:
            for col, key in REMAP[t].items():
                mx = con.execute(
                    f"SELECT max({col}) FROM '{src}/{t}.parquet'"
                ).fetchone()[0]
                if not mx < STRIDE[key] or copies * STRIDE[key] >= KEY_BOUND:
                    raise ValueError(f"{t}.{col}: max {mx}, stride "
                                     f"{STRIDE[key]}, {copies} copies")
        if "embeddings" in tables:
            lo, dims = con.execute(
                f"SELECT min(len(embedding)), max(len(embedding)) "
                f"FROM '{src}/embeddings.parquet'"
            ).fetchone()
            if lo != dims or copies > 2 * dims:
                raise ValueError(f"{copies} copies of {lo}..{dims}-dim "
                                 f"vectors: at most {2 * lo} distinct transforms")
        con.execute(f"SET temp_directory = '{spill}'")
        con.execute(f"CREATE VIEW copies AS SELECT unnest(range({copies})) AS i")
        for t in tables:
            path = f"{src}/{t}.parquet"
            cols = [r[0] for r in con.execute(
                f"DESCRIBE SELECT * FROM '{path}'").fetchall()]
            if REMAP[t]:
                select = (f"WITH src AS (SELECT * FROM '{path}', copies) "
                          f"SELECT {', '.join(_column(t, c, dims) for c in cols)}"
                          f" FROM src")
            else:
                select = f"SELECT * FROM '{path}'"
            dest = f"{out}/{t}.parquet"
            con.execute(f"COPY ({select}) TO '{dest}' (FORMAT PARQUET)")
            n = con.execute(f"SELECT count(*) FROM '{dest}'").fetchone()[0]
            print(f"{t}: {n} rows", flush=True)
        if "embeddings" in tables:
            budget = _dup_rows(con, f"{src}/embeddings.parquet") * copies
            dups = _dup_rows(con, f"{out}/embeddings.parquet")
            if dups != budget:
                raise AssertionError(f"copies injected duplicate vectors: "
                                     f"{dups} dup rows vs {budget} from source")
            print(f"embeddings distinctness: {dups} dup rows (source {budget})")
    finally:
        con.close()
        shutil.rmtree(spill, ignore_errors=True)
    print(f"wrote {out}")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--copies", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--tables", default=",".join(TABLES),
                    help="comma-separated subset (default: all ten)")
    ap.add_argument("--src", default="/root/testdata/sf0.1")
    a = ap.parse_args()
    build(a.copies, a.out, a.tables.split(","), a.src)


if __name__ == "__main__":
    main()
