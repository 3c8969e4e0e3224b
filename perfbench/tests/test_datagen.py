"""Self-test: the same seed writes byte-identical inputs, another seed
writes different ones.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import filecmp
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import datagen  # noqa: E402


def _files(root: str) -> list[str]:
    return sorted(
        os.path.relpath(os.path.join(d, f), root)
        for d, _, fs in os.walk(root) for f in fs
    )


def _identical(a: str, b: str) -> bool:
    names = _files(a)
    return names == _files(b) and all(
        filecmp.cmp(os.path.join(a, n), os.path.join(b, n), shallow=False) for n in names
    )


def test_tables_are_a_function_of_the_seed(tmp_path):
    for out in ("a", "b"):
        datagen.write_tables(str(tmp_path / out), seed=7, sf=0.002)
    datagen.write_tables(str(tmp_path / "c"), seed=8, sf=0.002)
    assert _files(str(tmp_path / "a")) == [f"{t}.parquet" for t in sorted(datagen.TABLE_NAMES)]
    assert _identical(str(tmp_path / "a"), str(tmp_path / "b"))
    assert not _identical(str(tmp_path / "a"), str(tmp_path / "c"))


def test_brewery_inputs_are_a_function_of_the_seed(tmp_path):
    info = [datagen.write_brewery_inputs(str(tmp_path / out), seed=7, n_rows=2000)
            for out in ("a", "b")]
    datagen.write_brewery_inputs(str(tmp_path / "c"), seed=8, n_rows=2000)
    assert _identical(str(tmp_path / "a"), str(tmp_path / "b"))
    assert not _identical(str(tmp_path / "a"), str(tmp_path / "c"))
    assert info[0]["bronze_rows"] == 2000
    assert info[0]["update_rows"] == 2000 // 20 + 2000 // 100
    assert info[0]["delete_rows"] == 2000 // 100
    bronze = os.path.join(info[0]["bronze"])
    assert info[0]["bronze_bytes"] == sum(
        os.path.getsize(os.path.join(bronze, f)) for f in os.listdir(bronze)
    )
