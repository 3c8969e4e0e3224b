"""Ground truth and probes that only the tests use."""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from datalake_breweries_two_spark.operators.similarity import _cosine, _vec_literal
from datalake_breweries_two_spark.plans.advisor import PlanAuditError, audit_plan


def cosine_topk_bruteforce(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    exclude_id: int | None = None,
) -> DataFrame:
    """Exact top-k ``(vec_id, cosine)`` by cosine to a literal query vector,
    ties broken by id: the truth the ANN recall tests compare against."""
    scored = embeddings.select(
        F.col("vec_id"),
        F.round(_cosine(F.col("embedding"), _vec_literal(query_vec)), 4).alias("cosine"),
    )
    if exclude_id is not None:
        scored = scored.filter(F.col("vec_id") != exclude_id)
    return scored.orderBy(F.col("cosine").desc(), F.col("vec_id").asc()).limit(k)


def observed_metrics(obs: Observation, *names: str) -> dict:
    """An ``Observation``'s metrics by name.

    ``Observation.get`` deserializes the metrics row via ``toPyRow``, which
    asserts a schema-carrying row; when AQE re-plans an aggregate
    downstream of the CollectMetrics node (e.g. the ``distinct()`` tail of
    ``lsh_candidate_pairs``), Spark 4.1 hands back a schema-less
    GenericRow and the assert trips. Fall back to positional access in
    observe-expression order (CollectMetrics preserves it).
    """
    try:
        return dict(obs.get)
    except AssertionError:
        jrow = obs._jo.getRow()
        return {n: jrow.get(i) for i, n in enumerate(names)}


def assert_plan_clean(df: DataFrame, **kwargs) -> None:
    """Raise :class:`PlanAuditError` if the audit yields any finding."""
    findings = audit_plan(df, **kwargs)
    if findings:
        raise PlanAuditError(findings)
