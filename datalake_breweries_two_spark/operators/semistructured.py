"""Semi-structured data: JSON scalar extraction, array/vector column ops.

The reference only ever reads whole-file JSON (``spark.read.json``,
reference ``plugins/brewery_operators.py:189``); these operators add
column-level JSON (``from_json`` with explicit schema — never per-row
inference) and array functions over embedding vectors (SURVEY.md §2.2).

Scale profile: all narrow, codegen'd JVM expressions — no shuffle, no
Python. ``from_json`` with an explicit schema is a single pass; the array
aggregations (``F.aggregate``/``F.zip_with``) run as Catalyst higher-order
functions, NOT Python UDFs, so vectors never cross the JVM↔Python boundary.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def json_get_int(col: str, path: str) -> Column:
    """``get_json_object`` scalar extraction cast to int."""
    return F.get_json_object(F.col(col), path).cast("int")


def vector_norm(col: str) -> Column:
    """L2 norm via the higher-order ``aggregate`` — JVM-side, no UDF.

    Accumulates in double; rounded at call sites for oracle FP stability.
    """
    return F.sqrt(
        F.aggregate(
            F.col(col),
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )


def dot_product(a: Column, b: Column) -> Column:
    """Dot product of two array columns via zip_with + aggregate (JVM-side)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def embedding_stats(embeddings: DataFrame) -> DataFrame:
    """Per-vector stats: dimension, rounded L2 norm, rounded mean component."""
    return embeddings.select(
        F.col("vec_id"),
        F.size(F.col("embedding")).alias("dim"),
        F.round(vector_norm("embedding"), 4).alias("l2_norm"),
        (
            F.round(
                F.aggregate(
                    F.col("embedding"),
                    F.lit(0.0),
                    lambda acc, x: acc + x.cast("double"),
                )
                / F.size(F.col("embedding")),
                4,
            )
            + F.lit(0.0)  # normalize IEEE -0.0 → 0.0 (engines differ)
        ).alias("mean_component"),
    )


def variant_props_rollup(events: DataFrame) -> DataFrame:
    """Spark 4 VARIANT path over the event props: ``parse_json`` → binary
    variant column → typed ``variant_get`` extraction, aggregated per
    event type.

    This is the OPEN-schema twin of ``from_json`` with a declared struct:
    variant defers the schema to read time, which
    is what a 100 TB bronze layer with drifting payloads actually needs —
    new keys land without a schema migration, and the binary variant
    encoding shuffles/aggregates without re-parsing JSON text per access
    (the variant column is parsed ONCE and both extractions read it). All
    aggregated metrics are TYPED extractions — never a re-serialized JSON
    string, whose canonical form (key order, number formatting) is
    engine-specific and can never hash-match another engine. All JVM
    expressions (no Python); one distinct-agg exchange pair.
    """
    parsed = events.select(
        "event_type", F.parse_json(F.col("props")).alias("v")
    )
    k = F.expr("variant_get(v, '$.k', 'bigint')")
    return (
        parsed.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("k").alias("n_with_k"),
            F.sum("k").alias("sum_k"),
            F.countDistinct("k").alias("n_distinct_k"),
        )
    )
