"""Projection / scalar-function operators (the reference's silver curation).

Re-expresses the reference's ``_transform_to_silver`` projection — rename,
``trim``, ``lower``, null-skipping ``concat_ws``, string→double cast
(reference ``plugins/brewery_operators.py:246-265``; SURVEY.md §2.1 P1–P5)
— as pure column expressions.

Scale profile: narrow (no shuffle). Every function here is a JVM-side
Catalyst expression inside whole-stage codegen; column pruning means the
parquet scan reads only the referenced columns. This is the cheapest class
of operator at 100 TB — the scan dominates, so the only lever that matters
is reading fewer bytes (projection pushdown does that for free).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def curate_silver_breweries(df: DataFrame) -> DataFrame:
    """The reference's 9-column silver projection, verbatim semantics.

    Parity target: reference ``plugins/brewery_operators.py:255-265`` —
    rename ``name``→``brewery_name`` / ``state_province``→``state``, trim
    name & city, lower-case type, null-skipping address join, double casts.
    """
    return df.select(
        F.col("id"),
        F.trim(F.col("name")).alias("brewery_name"),
        F.lower(F.col("brewery_type")).alias("brewery_type"),
        F.concat_ws(
            ", ", F.col("address_1"), F.col("address_2"), F.col("address_3")
        ).alias("full_address"),
        F.trim(F.col("city")).alias("city"),
        F.col("state_province").alias("state"),
        F.col("country"),
        F.col("longitude").cast("double").alias("longitude"),
        F.col("latitude").cast("double").alias("latitude"),
    )


def null_or_empty(col: str) -> Column:
    """Predicate ``col IS NULL OR col = ''`` — the reference's critical-column
    check (reference ``plugins/data_quality_operator.py:69-70``; F1)."""
    return F.col(col).isNull() | (F.col(col) == "")
