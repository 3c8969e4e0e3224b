"""Data-quality gate — single-pass re-engineering of the reference's checks.

The reference's ``DataQualityOperator`` runs ONE SPARK JOB PER CHECK: an
``isEmpty`` probe, a bounded ``limit(N).count()``, then one
``filter(isNull | == '').limit(1).count()`` job per critical column
(reference ``plugins/data_quality_operator.py:41-75``; SURVEY.md §3 entry
point 3). At 100 TB that is 2+K full-or-partial scans of the dataset.

This engine computes the same contract in ONE aggregation job:
``agg(count(*), sum(when(violation,1)) per column)`` — a single scan,
partial-aggregated map-side, one row out. The registry's ``q_is_empty`` and
``q_exists_probe`` express the reference's early-out probes as 1-row
aggregates.

Scale profile: one full scan, partial+final HashAggregate on zero grouping
keys → single-row exchange (bytes, not rows, dominate; no skew possible).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from datalake_breweries_two_spark.operators.projection import null_or_empty


def quality_summary(df: DataFrame, critical_columns: list[str]) -> DataFrame:
    """One-row summary: total row count + per-column null-or-empty counts.

    Parity: the reference's checks at ``plugins/data_quality_operator.py:61-71``
    collapsed into one pass. Column names: ``total_rows``, ``viol_<col>``.
    """
    aggs = [F.count(F.lit(1)).alias("total_rows")]
    for c in critical_columns:
        aggs.append(
            F.sum(F.when(null_or_empty(c), 1).otherwise(0))
            .cast("long")
            .alias(f"viol_{c}")
        )
    return df.agg(*aggs)


@dataclass
class QualityReport:
    total_rows: int
    violations: dict[str, int]
    min_rows: int
    passed: bool = field(init=False)
    failures: list[str] = field(init=False)

    def __post_init__(self) -> None:
        self.failures = []
        if self.total_rows < self.min_rows:
            self.failures.append(
                f"row count {self.total_rows} < required {self.min_rows}"
            )
        for col, n in self.violations.items():
            if n > 0:
                self.failures.append(f"column {col}: {n} null-or-empty values")
        self.passed = not self.failures


def run_quality_gate(
    df: DataFrame, critical_columns: list[str], min_rows: int = 100
) -> QualityReport:
    """Evaluate the full reference contract (≥min rows; critical columns
    non-null/non-empty — ``dags/dag-brewery_pipeline.py:92-100``) in one job.

    Raises nothing; callers decide (the medallion pipeline raises on
    ``not passed`` to block the gold layer, matching the reference's
    ValueError → task-failure behavior)."""
    row = quality_summary(df, critical_columns).first()
    return QualityReport(
        total_rows=row["total_rows"],
        violations={c: row[f"viol_{c}"] for c in critical_columns},
        min_rows=min_rows,
    )


def profile_table(
    df: DataFrame,
    null_check_cols: list[str],
    distinct_col: str,
    numeric_col: str,
) -> DataFrame:
    """One-pass table profile: row count, per-column null counts, distinct
    cardinality, numeric min/max/mean. ONE aggregation job (partial+final
    HashAggregate) — the reference runs one Spark job per checked column
    (``plugins/data_quality_operator.py:69-70``); profiling 50 columns that
    way is 50 scans of a 100 TB table vs exactly one here. Mean computed as
    exact decimal sum / count, surfaced double (order-independent)."""
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in null_check_cols:
        aggs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"nulls_{c}"))
    aggs += [
        F.count_distinct(F.col(distinct_col)).alias(f"distinct_{distinct_col}"),
        F.min(F.col(numeric_col)).alias("min_val"),
        F.max(F.col(numeric_col)).alias("max_val"),
        F.round(
            F.sum(F.col(numeric_col).cast("decimal(18,4)")).cast("double")
            / F.count(F.col(numeric_col)),
            4,
        ).alias("mean_val"),
    ]
    return df.agg(*aggs)


def fk_orphan_count(
    child: DataFrame, parent: DataFrame, child_key: str, parent_key: str
) -> DataFrame:
    """Single-row count of child rows whose key has no parent — the
    referential-integrity check (dbt ``relationships`` test). LEFT ANTI
    join + count: at 100 TB both sides shuffle on the key once (the anti
    join cannot broadcast a 100 TB parent), then the count collapses
    map-side; no row data survives past the join. NULL child keys are
    counted as orphans (they reference nothing)."""
    orphans = child.select(F.col(child_key)).join(
        parent.select(F.col(parent_key)),
        child[child_key] == parent[parent_key],
        "left_anti",
    )
    return orphans.agg(F.count(F.lit(1)).cast("long").alias("n_violations"))


def duplicate_key_count(df: DataFrame, key_cols: list[str]) -> DataFrame:
    """Single-row count of ROWS participating in a duplicated key — the
    uniqueness check (dbt ``unique``). groupBy(key).count → sum of counts
    where count > 1: one key-partitioned aggregate; the second aggregate
    sees one row per distinct key."""
    per_key = df.groupBy(*[F.col(c) for c in key_cols]).agg(
        F.count(F.lit(1)).alias("_n")
    )
    return per_key.filter(F.col("_n") > 1).agg(
        F.coalesce(F.sum("_n"), F.lit(0)).cast("long").alias("n_violations")
    )


def predicate_violation_count(df: DataFrame, violation: "F.Column") -> DataFrame:
    """Single-row count of rows violating a row-level invariant (dbt
    ``accepted_values`` / range tests). One conditional-sum aggregate —
    partial map-side, one row out; NULL predicate results (NULL operands)
    count as violations, matching the audit stance that unknown = broken."""
    return df.agg(
        F.coalesce(
            F.sum(F.when(F.coalesce(violation, F.lit(True)), 1).otherwise(0)),
            F.lit(0),
        ).cast("long").alias("n_violations")
    )


def violation_flag(violation: "F.Column") -> "F.Column":
    """Per-row 0/1 flag with :func:`predicate_violation_count`'s NULL
    stance: a NULL predicate result (NULL operands) counts as a
    violation — unknown = broken."""
    return F.when(F.coalesce(violation, F.lit(True)), 1).otherwise(0)


def non_finite_flag(numeric_col: str) -> "F.Column":
    """Per-row 0/1 flag for a NaN or ±Infinity double.

    Exact-money aggregation (the engine's decimal-sum discipline) RAISES
    on non-finite input by design — and so does DuckDB, Postgres's
    numeric, and every decimal type — so a pipeline must gate on this
    check BEFORE the aggregate, not try_cast the corruption into silent
    NULLs downstream. NULLs are NOT flagged (they have their own
    null-count check); only genuinely non-finite doubles."""
    c = F.col(numeric_col)
    non_finite = F.isnan(c) | (F.abs(c) == F.lit(float("inf")))
    return F.when(non_finite, 1).otherwise(0)


def row_invariant_counts(
    df: DataFrame, checks: list[tuple[str, "F.Column"]]
) -> DataFrame:
    """Several row-level invariant counts from ONE scan + ONE aggregate —
    the multi-check sibling of :func:`predicate_violation_count` (r17,
    guide §2.4: N audit checks over the same table were paying N full
    scans + N aggregate branches for conditional sums that coexist in
    one partial-aggregate pass). ``checks`` pairs each name with a
    per-row 0/1 flag column (:func:`violation_flag` /
    :func:`non_finite_flag` keep each check's documented NULL stance).
    Emits one (check, n_violations, passed) row per check,
    union-compatible with :func:`dq_audit` parts."""
    aggs = [
        F.coalesce(F.sum(flag), F.lit(0)).cast("long").alias(f"_c{i}")
        for i, (_, flag) in enumerate(checks)
    ]
    one = df.agg(*aggs)
    stack_args = ", ".join(
        # check names are engine-internal literals, never user data
        f"'{name}', _c{i}" for i, (name, _) in enumerate(checks)
    )
    return one.select(
        F.expr(
            f"stack({len(checks)}, {stack_args}) AS (check, n_violations)"
        )
    ).select(
        "check",
        F.col("n_violations"),
        (F.col("n_violations") == 0).alias("passed"),
    )


def dq_audit(checks: list[tuple[str, DataFrame]]) -> DataFrame:
    """Union the named single-row check counts into one (check, n_violations)
    relation and flag each row. The composite stays ONE declarative plan —
    Spark runs the per-check aggregates as parallel stages of a single job,
    and each check's scan prunes to just its own columns. This is the
    engine-level analog of a dbt/Deequ test suite over the lake."""
    parts = [
        df.select(
            F.lit(name).alias("check"),
            F.col("n_violations"),
            (F.col("n_violations") == 0).alias("passed"),
        )
        for name, df in checks
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
