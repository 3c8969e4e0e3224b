"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Implementation lives in ``datalake_breweries_two_spark`` (see SURVEY.md §2
for the operator inventory each query covers); this module is a thin
adapter.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from datalake_breweries_two_spark import entry_queries, evidence


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (the reference's gold-aggregate shape — group-by +
    COUNT(col), ``plugins/brewery_operators.py:373-379`` — on orders) at
    sf0.001."""
    return entry_queries.q_gold_agg(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every registered query, in the order it should be verified.

    Each verification round checks a bounded prefix, so queries without
    passing evidence (failed or never checked) come first; the rest follow
    by the round of their latest record, oldest first.
    """
    # the latest record per query wins; no passing evidence sorts as round -1
    passed_round = {
        name: -1 if status == evidence.FAIL else rnd
        for rnd, name, status in evidence.correctness_records()
    }
    order = sorted(entry_queries.QUERIES, key=lambda q: passed_round.get(q, -1))
    return {name: entry_queries.QUERIES[name] for name in order}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query; keys absent here (engine-specific
    hashing / sketches / streaming / media) get the rows-only check."""
    return dict(entry_queries.ORACLE_SQL)
