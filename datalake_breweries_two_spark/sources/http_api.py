"""Paginated HTTP API ingestion (reference S1).

The reference loops ``page``/``per_page=50`` GETs on the DRIVER and ships
the accumulated list through Airflow XCom (reference
``plugins/brewery_operators.py:25-58``; the XCom handoff is the scalability
anti-pattern flagged in SURVEY.md §3). Here:

driver-side fetch → ``spark.createDataFrame(rows, schema)``, correct and
simplest at the reference's ~9k-row size. A paged source whose pages are
fetched by executors, so the driver never holds the payload, is the Python
DataSource in ``paged_api.py``.

``requests`` is imported lazily and the fetch function is injectable so
tests run without network.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def _default_fetch(url: str, page: int, per_page: int) -> list[dict]:
    import requests  # lazy: not needed in tests

    resp = requests.get(url, params={"page": page, "per_page": per_page}, timeout=30)
    resp.raise_for_status()
    return resp.json()


def fetch_paginated_driver(
    spark: SparkSession,
    url: str,
    schema: T.StructType,
    per_page: int = 50,
    fetch: Callable[[str, int, int], list[dict]] = _default_fetch,
) -> DataFrame:
    """Reference-parity ingest: loop pages until a short page, accumulate,
    one ``createDataFrame`` (reference ``plugins/brewery_operators.py:36-56``
    semantics: stop when a page returns < per_page rows)."""
    rows: list[dict] = []
    for page in range(1, 10_000 + 1):
        batch = fetch(url, page, per_page)
        rows.extend(batch)
        if len(batch) < per_page:
            break
    field_names = [f.name for f in schema.fields]
    data = [tuple(r.get(k) for k in field_names) for r in rows]
    return spark.createDataFrame(data, schema)


def check_api_health(url: str, get: Callable[[str, float], int] | None = None) -> bool:
    """API health probe (reference O1): one GET, healthy iff HTTP 200 —
    the reference's ``HttpSensor`` ``response_check`` (reference
    ``dags/dag-brewery_pipeline.py:52-62``). Run it as the pipeline
    prologue; retry/backoff policy belongs to the orchestrator (the
    reference pokes every 10 s), not this probe. ``get`` is injectable so
    tests run without network."""
    if get is None:
        def get(u: str, t: float) -> int:
            import requests  # lazy: not needed in tests

            return requests.get(u, timeout=t).status_code

    try:
        return get(url, 30.0) == 200
    except Exception:
        return False
