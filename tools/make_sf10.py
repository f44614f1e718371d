#!/usr/bin/env python
"""Full-universe synthetic sf10 fixtures (VERDICT r8 item 3).

Extends tools/make_sf1.py's isomorphic-copy mechanism to a THIRD
measured decade for the relational star schema: 100 key-shifted
copies of sf0.1 into ``<repo>/.bench_sf10/`` (gitignored; lineitem
60 M rows ≈ 1.1 GB, whole universe ≈ 1.8 GB). Same construction
guarantees as make_sf1.py — FK structure, join fan-out, and skew
shape identical to sf0.1 within every copy; keys in disjoint ranges;
bit-reproducible (no RNG, no timestamps).

Why a third decade: every new decade so far caught real bugs that
were green at every smaller SF (six §SF1 grid-rule bugs at sf1 in
r7; the shuffle-partition thrash at sf10-docs in r8). The money-grid
keys have never been run where group totals reach ~1e12 cents —
float money sums cross the half-cent once n·ulp(total) outgrows the
grid (SCALING.md §MONEY), which is exactly a magnitude-triggered
class of bug.

documents/embeddings: written by the same construction as
tools/make_sf10_docs.py (documents is bit-identical input-wise:
copy 0 verbatim, per-copy token prefixes; embeddings get a per-copy
orthogonal transform — cyclic dim rotation composed with a
second-cycle negation, since 100 copies exceed the 64 distinct
rotations of a 64-dim vector). An existing documents.parquet from
make_sf10_docs.py is left in place unless FORCE=1.

Run:  python tools/make_sf10.py     (writes .bench_sf10/<table>.parquet)
Then: python tools/driver_sim.py --sf-dir .bench_sf10 @money_tpch
"""
import os

import duckdb

SRC = os.environ.get("SF10_SRC", "/root/testdata/sf0.1")
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.environ.get("SF10_OUT", os.path.join(REPO, ".bench_sf10"))
COPIES = int(os.environ.get("SF10_COPIES", "100"))
FORCE = os.environ.get("FORCE", "") == "1"

#: Key stride per remapped column (same table as make_sf1.py; at 100
#: copies the max remapped key is ~100x stride — still far inside the
#: engine-portable hash bound, and knuth_hash reduces mod 100003
#: before any multiply anyway).
from strides import STRIDE  # noqa: E402 — shared copy-stride table


def main() -> None:
    os.makedirs(OUT, exist_ok=True)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW copies AS SELECT unnest(range({COPIES})) AS i")

    for table, col, stride in [
        ("customer", "c_custkey", STRIDE["custkey"]),
        ("supplier", "s_suppkey", STRIDE["suppkey"]),
        ("part", "p_partkey", STRIDE["partkey"]),
        ("orders", "o_orderkey", STRIDE["orderkey"]),
        ("events", "event_id", STRIDE["event_id"]),
        ("events", "user_id", STRIDE["user_id"]),
        ("documents", "doc_id", STRIDE["doc_id"]),
        ("embeddings", "vec_id", STRIDE["vec_id"]),
    ]:
        mx = con.execute(
            f"SELECT max({col}) FROM '{SRC}/{table}.parquet'"
        ).fetchone()[0]
        assert mx < stride, (table, col, mx, stride)

    def emit(name: str, select: str) -> None:
        dest = f"{OUT}/{name}.parquet"
        if os.path.exists(dest) and not FORCE:
            n = con.execute(f"SELECT count(*) FROM '{dest}'").fetchone()[0]
            print(f"{name}: kept existing ({n} rows)", flush=True)
            return
        con.execute(f"COPY ({select}) TO '{dest}' (FORMAT PARQUET)")
        n = con.execute(f"SELECT count(*) FROM '{dest}'").fetchone()[0]
        print(f"{name}: {n} rows", flush=True)

    for t in ("region", "nation"):
        emit(t, f"SELECT * FROM '{SRC}/{t}.parquet'")

    emit(
        "customer",
        f"""
        SELECT c_custkey + i * {STRIDE['custkey']} AS c_custkey,
               c_name, c_nationkey, c_acctbal, c_mktsegment
        FROM '{SRC}/customer.parquet', copies
        """,
    )
    emit(
        "supplier",
        f"""
        SELECT s_suppkey + i * {STRIDE['suppkey']} AS s_suppkey,
               s_name, s_nationkey, s_acctbal
        FROM '{SRC}/supplier.parquet', copies
        """,
    )
    emit(
        "part",
        f"""
        SELECT p_partkey + i * {STRIDE['partkey']} AS p_partkey,
               p_name, p_brand, p_type, p_size, p_retailprice
        FROM '{SRC}/part.parquet', copies
        """,
    )
    emit(
        "orders",
        f"""
        SELECT o_orderkey + i * {STRIDE['orderkey']} AS o_orderkey,
               o_custkey + i * {STRIDE['custkey']} AS o_custkey,
               o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
        FROM '{SRC}/orders.parquet', copies
        """,
    )
    emit(
        "lineitem",
        f"""
        SELECT l_orderkey + i * {STRIDE['orderkey']} AS l_orderkey,
               l_partkey + i * {STRIDE['partkey']} AS l_partkey,
               l_suppkey + i * {STRIDE['suppkey']} AS l_suppkey,
               l_linenumber, l_quantity, l_extendedprice, l_discount,
               l_tax, l_returnflag, l_linestatus, l_shipdate
        FROM '{SRC}/lineitem.parquet', copies
        """,
    )
    emit(
        "events",
        f"""
        SELECT event_id + i * {STRIDE['event_id']} AS event_id,
               ts,
               user_id + i * {STRIDE['user_id']} AS user_id,
               event_type, value, props
        FROM '{SRC}/events.parquet', copies
        """,
    )
    emit(
        "documents",
        f"""
        WITH src AS (SELECT * FROM '{SRC}/documents.parquet', copies)
        SELECT doc_id + i * {STRIDE['doc_id']} AS doc_id,
               CASE WHEN i = 0 THEN text ELSE array_to_string(
                   list_transform(string_split(text, ' '),
                                  t -> 'c' || i || '_' || t), ' ')
               END AS text,
               lang, source,
               CASE WHEN i = 0 THEN n_chars ELSE CAST(length(
                   array_to_string(
                       list_transform(string_split(text, ' '),
                                      t -> 'c' || i || '_' || t), ' ')
               ) AS BIGINT) END AS n_chars
        FROM src
        """,
    )
    emit(
        "embeddings",
        f"""
        SELECT vec_id + i * {STRIDE['vec_id']} AS vec_id,
               -- Per-copy orthogonal transform: rotate by
               -- ((i % 63) + 1) ∈ [1, 63] (ADVICE r9: never 0, so no
               -- copy i > 0 is bit-identical to copy 0), COMPOSED with
               -- a full-vector negation for the second rotation cycle
               -- (i >= 64). A pure rotation of a 64-dim vector has
               -- only 64 distinct values, so at 100 copies the
               -- pigeonhole forces collisions — (i, i+63) shared a
               -- rotation and injected 36 x 2000 cross-copy
               -- bit-identical vectors (caught by the post-write
               -- distinctness check below). Negation is orthogonal
               -- (within-copy geometry exact) and puts the
               -- same-rotation cross-copy pairs at cosine exactly -1,
               -- far below every positive near-dup threshold.
               CASE WHEN i = 0 THEN embedding ELSE
                   CAST(list_transform(
                       list_concat(embedding[(i % 63) + 2:],
                                   embedding[1:(i % 63) + 1]),
                       x -> CASE WHEN i >= 64 THEN -x ELSE x END
                   ) AS FLOAT[])
               END AS embedding,
               label
        FROM '{SRC}/embeddings.parquet', copies
        """,
    )
    # Post-write distinctness check (the documented construction
    # guarantee): beyond any duplicate groups the sf0.1 source itself
    # carries (scaled by COPIES), the per-copy transforms must inject
    # ZERO new bit-identical vectors. This is what caught the
    # pigeonhole collision of the rotation-only form.
    src_dups = con.execute(
        f"""SELECT coalesce(sum(c - 1), 0) FROM (
                SELECT count(*) c FROM '{SRC}/embeddings.parquet'
                GROUP BY embedding HAVING count(*) > 1)"""
    ).fetchone()[0]
    out_dups = con.execute(
        f"""SELECT coalesce(sum(c - 1), 0) FROM (
                SELECT count(*) c FROM '{OUT}/embeddings.parquet'
                GROUP BY embedding HAVING count(*) > 1)"""
    ).fetchone()[0]
    budget = src_dups * COPIES
    assert out_dups <= budget, (
        f"per-copy transform injected duplicate vectors: "
        f"{out_dups} surplus rows vs source budget {budget}"
    )
    print(f"embeddings distinctness: {out_dups} dup rows (budget {budget})")
    con.close()
    print(f"wrote {OUT}")


if __name__ == "__main__":
    main()
