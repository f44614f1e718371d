"""``tools/oracle_store.data_fingerprint`` keys the oracle cache on
fixture content: a copy with fresh mtimes keeps its entries, and any
changed byte or missing table re-keys them. No Spark."""

from __future__ import annotations

import os
import shutil

import oracle_store  # tools/ is on sys.path (tests/conftest.py)

from .conftest import SF_SMALL as SF_DIR


def _copy(dst) -> str:
    dst.mkdir()
    for t in oracle_store.TABLES:
        shutil.copyfile(f"{SF_DIR}/{t}.parquet", dst / f"{t}.parquet")
        os.utime(dst / f"{t}.parquet", ns=(1, 1))
    return str(dst)


def test_copy_with_new_mtimes_keeps_the_fingerprint(tmp_path):
    assert oracle_store.data_fingerprint(
        _copy(tmp_path / "fx")
    ) == oracle_store.data_fingerprint(SF_DIR)


def test_one_flipped_byte_changes_the_fingerprint(tmp_path):
    fx = _copy(tmp_path / "fx")
    before = oracle_store.data_fingerprint(fx)
    path = os.path.join(fx, "orders.parquet")
    st = os.stat(path)
    with open(path, "r+b") as fh:
        fh.seek(st.st_size // 2)
        byte = fh.read(1)
        fh.seek(st.st_size // 2)
        fh.write(bytes([byte[0] ^ 1]))
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns))  # cp -p
    assert oracle_store.data_fingerprint(fx) != before


def test_missing_table_changes_the_fingerprint(tmp_path):
    fx = _copy(tmp_path / "fx")
    before = oracle_store.data_fingerprint(fx)
    os.remove(os.path.join(fx, "region.parquet"))
    assert oracle_store.data_fingerprint(fx) != before
