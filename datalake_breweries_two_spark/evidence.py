"""Verification evidence: the ``CORRECTNESS_r{N}.json`` snapshots.

Each verification round checks a prefix of ``__spark_entry__.queries()``
against its DuckDB oracle and records one result per query. This module is
the one reader and the one classification of those records; the order of
``queries()`` and the ``audit`` CLI verb both build on it.
"""

from __future__ import annotations

import glob
import json
import os
import re

from datalake_breweries_two_spark import CHECKOUT_DIR

FAIL, RAN, PASS = 0, 1, 2  # RAN: rows-only run of a query with no oracle


def _classify(rec: dict) -> int:
    """FAIL, RAN or PASS for one verification record."""
    if rec.get("err") == "no_oracle":
        return RAN
    if rec.get("err"):
        return FAIL
    if all(rec.get(k) for k in ("rows_match", "schema_match", "hash_match")):
        return PASS
    return FAIL


def correctness_records(repo_dir: str = CHECKOUT_DIR) -> list[tuple[int, str, int]]:
    """``(round, query, status)`` for every record on disk, oldest round
    first (by the parsed round number, so r100 sorts after r17)."""
    snapshots = []
    for path in glob.glob(os.path.join(repo_dir, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if m:
            with open(path) as f:
                snapshots.append((int(m.group(1)), json.load(f)))
    snapshots.sort(key=lambda s: s[0])
    return [
        (rnd, name, _classify(rec))
        for rnd, snap in snapshots
        for name, rec in snap.items()
    ]

