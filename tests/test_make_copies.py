"""``tools/make_copies.py``, the one copy-fixture generator, on the
sf0.001 fixture in DuckDB alone: copy 0 is the source, builds nest,
copies occupy disjoint key ranges with every FK inside its own copy,
the embedding transforms are orthogonal and add no duplicate vector,
and the guards refuse what the copy rules cannot keep disjoint."""

from __future__ import annotations

import duckdb
import pytest

from .conftest import SF_SMALL
from make_copies import REMAP, STRIDE, TABLES, build  # tools/ is on sys.path


@pytest.fixture(scope="module")
def built(tmp_path_factory):
    """2- and 3-copy builds of every table."""
    root = tmp_path_factory.mktemp("copies")
    for n in (2, 3):
        build(n, str(root / str(n)), TABLES, SF_SMALL)
    return root


def _scalar(sql: str):
    return duckdb.sql(sql).fetchone()[0]


def _missing(a: str, b: str) -> int:
    """Rows of ``a`` (a FROM clause) that ``b`` does not hold, as
    multisets."""
    return _scalar(f"SELECT count(*) FROM (SELECT * FROM {a} "
                   f"EXCEPT ALL SELECT * FROM {b})")


@pytest.mark.parametrize("table", TABLES)
def test_copy_zero_is_the_source(built, table):
    src = f"'{SF_SMALL}/{table}.parquet'"
    out = f"'{built}/3/{table}.parquet'"
    if REMAP[table]:
        col, key = next(iter(REMAP[table].items()))
        out = f"(SELECT * FROM {out} WHERE {col} < {STRIDE[key]})"
    assert _missing(src, out) == 0
    assert _missing(out, src) == 0


@pytest.mark.parametrize("table", TABLES)
def test_smaller_build_nests_in_larger(built, table):
    two, three = (f"'{built}/{n}/{table}.parquet'" for n in (2, 3))
    assert _missing(two, three) == 0
    rows = [_scalar(f"SELECT count(*) FROM {p}") for p in (two, three)]
    src = _scalar(f"SELECT count(*) FROM '{SF_SMALL}/{table}.parquet'")
    assert rows == ([src, src] if not REMAP[table] else [2 * src, 3 * src])


@pytest.mark.parametrize("table", [t for t in TABLES if REMAP[t]])
def test_key_ranges_are_disjoint_across_copies(built, table):
    """Every remapped key of a row lies in that row's copy range, and
    each copy's keys, shifted back, are the source's keys."""
    out = f"'{built}/3/{table}.parquet'"
    copy_ids = [f"{c} // {STRIDE[k]}" for c, k in REMAP[table].items()]
    assert _scalar(f"SELECT count(DISTINCT {copy_ids[0]}) FROM {out}") == 3
    assert _scalar(f"SELECT count(*) FROM {out} WHERE NOT ("
                   + " AND ".join(f"{c} = {copy_ids[0]}" for c in copy_ids)
                   + ")") == 0
    for c, k in REMAP[table].items():
        for i in range(3):
            shifted = (f"(SELECT {c} - {i * STRIDE[k]} FROM {out} "
                       f"WHERE {c} // {STRIDE[k]} = {i})")
            source = f"(SELECT {c} FROM '{SF_SMALL}/{table}.parquet')"
            assert _missing(shifted, source) == 0
            assert _missing(source, shifted) == 0


@pytest.mark.parametrize("child, fk, parent, pk", [
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
])
def test_foreign_keys_resolve_within_their_copy(built, child, fk, parent, pk):
    """Each FK hits a parent key, and that key's copy is the child row's
    copy (the copy of the child's first remapped key)."""
    own, key = next(iter(REMAP[child].items()))
    assert _scalar(
        f"SELECT count(*) FROM '{built}/3/{child}.parquet' c "
        f"LEFT JOIN '{built}/3/{parent}.parquet' p ON c.{fk} = p.{pk} "
        f"WHERE p.{pk} IS NULL OR p.{pk} // {STRIDE[REMAP[parent][pk]]} "
        f"!= c.{own} // {STRIDE[key]}"
    ) == 0


def test_documents_keep_n_chars_and_prefix_tokens(built):
    out = f"'{built}/3/documents.parquet'"
    assert _scalar(f"SELECT count(*) FROM {out} "
                   f"WHERE n_chars != length(text)") == 0
    assert _scalar(
        f"SELECT count(*) FROM {out} WHERE doc_id >= {STRIDE['doc_id']} AND "
        f"NOT list_bool_and(list_transform(string_split(text, ' '), "
        f"t -> starts_with(t, 'c' || (doc_id // {STRIDE['doc_id']}) || '_')))"
    ) == 0


def test_embedding_norms_are_preserved(built):
    """Each vector's multiset of absolute components, and so its norm,
    equals its source vector's: the transforms only permute and negate."""
    assert _scalar(
        f"SELECT count(*) FROM '{built}/3/embeddings.parquet' o "
        f"JOIN '{SF_SMALL}/embeddings.parquet' s "
        f"ON o.vec_id % {STRIDE['vec_id']} = s.vec_id "
        f"WHERE list_sort(list_transform(o.embedding, x -> abs(x))) "
        f"!= list_sort(list_transform(s.embedding, x -> abs(x)))"
    ) == 0


def _dup_rows(path: str) -> int:
    return _scalar(f"SELECT coalesce(sum(c - 1), 0) FROM (SELECT count(*) c "
                   f"FROM '{path}' GROUP BY embedding HAVING count(*) > 1)")


def test_128_copies_inject_no_duplicate_vector(tmp_path):
    """2 * dims copies is the most the rotate-and-negate rule keeps
    pairwise distinct; rotation alone repeats past dims copies."""
    build(128, str(tmp_path), ["embeddings"], SF_SMALL)
    out = f"{tmp_path}/embeddings.parquet"
    assert _scalar(f"SELECT count(*) FROM '{out}'") == 128 * _scalar(
        f"SELECT count(*) FROM '{SF_SMALL}/embeddings.parquet'")
    assert _dup_rows(out) == 128 * _dup_rows(f"{SF_SMALL}/embeddings.parquet")


def test_more_copies_than_transforms_raise(tmp_path):
    with pytest.raises(ValueError, match="distinct transforms"):
        build(129, str(tmp_path), ["embeddings"], SF_SMALL)
    assert not (tmp_path / "embeddings.parquet").exists()


@pytest.mark.parametrize("table, col, key", [
    ("customer", "c_custkey", "custkey"),
    ("lineitem", "l_partkey", "partkey"),
])
def test_key_reaching_its_stride_raises(tmp_path, table, col, key):
    """A source whose key reaches its stride would overlap copy 1."""
    src = tmp_path / "src"
    src.mkdir()
    duckdb.sql(
        f"COPY (SELECT * REPLACE (CASE WHEN {col} = (SELECT max({col}) "
        f"FROM '{SF_SMALL}/{table}.parquet') THEN {STRIDE[key]} "
        f"ELSE {col} END AS {col})"
        f" FROM '{SF_SMALL}/{table}.parquet') "
        f"TO '{src}/{table}.parquet' (FORMAT PARQUET)"
    )
    with pytest.raises(ValueError, match=f"{table}.{col}"):
        build(2, str(tmp_path / "out"), [table], str(src))
    assert not (tmp_path / "out" / f"{table}.parquet").exists()
