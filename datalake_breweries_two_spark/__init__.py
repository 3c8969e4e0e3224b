"""datalake_breweries_two_spark — a PySpark-native analytics engine.

A from-scratch, Spark-first re-expression of the query and data-processing
capabilities of the reference pipeline ``henrique-af/datalake-breweries-two``
(a Bronze→Silver→Gold medallion data lake; see SURVEY.md), extended with the
operators a large-scale LLM training-data pipeline needs (dedup, similarity
search, text analysis, multimodal plumbing).

Design stance (SURVEY.md §7):
  * library-first: every operator is a pure ``DataFrame -> DataFrame``
    function, composable without any orchestration framework;
  * declarative: operators build Catalyst logical plans with the DataFrame /
    SQL API and let Catalyst + Tungsten + AQE pick the physical strategy;
  * scale-aware: each operator's docstring states its shuffle profile and
    the strategy that keeps it viable at ~100 TB inputs (broadcast joins for
    dims, partial aggregation, partition pruning, salting/AQE for skew).
"""

import os

# The checkout this package runs from: verification records and scratch
# live here, and Python workers import the package from it. Defined before
# the submodule imports, which read it.
CHECKOUT_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

from datalake_breweries_two_spark.session import build_session  # noqa: E402
from datalake_breweries_two_spark.catalog import TABLES, load_table, register_views  # noqa: E402

__all__ = ["build_session", "TABLES", "load_table", "register_views"]

__version__ = "0.1.0"
