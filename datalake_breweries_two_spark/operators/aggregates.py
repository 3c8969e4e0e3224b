"""Aggregation operators: hash agg (the reference's gold layer), rollup/cube,
date_trunc aggregates, batch tumbling windows.

Parity core: the reference's single aggregation is a group-by-count
(``df.groupBy("brewery_type","state").agg(count("id"))``, reference
``plugins/brewery_operators.py:373-379``; SURVEY.md §2.1 A1). Note it is
COUNT(col) — NULL-skipping — not COUNT(*); preserved here.

Scale profile: groupBy → partial HashAggregate (map-side combine) →
exchange on the grouping keys → final HashAggregate. The shuffle moves one
row per (partition × group), not per input row, so low-cardinality groupings
(status × month, type × state) cost near-zero network even at 100 TB. For
high-cardinality or skewed keys, AQE skew handling is on in the session
factory; `two_level_agg` below shows the explicit salting pattern.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def group_count(df: DataFrame, keys: list[str], count_col: str, alias: str) -> DataFrame:
    """The reference's gold aggregate shape: count(col) per key tuple.

    COUNT(col) semantics (skips NULLs) per reference
    ``plugins/brewery_operators.py:379``.
    """
    return df.groupBy(*keys).agg(F.count(F.col(count_col)).alias(alias))


def orders_by_status_month(orders: DataFrame) -> DataFrame:
    """Flagship query — the reference's gold aggregate on the lake schema:
    order count per (status, order month). Scan → project → hash agg."""
    return (
        orders.groupBy(
            F.col("o_orderstatus"),
            F.date_trunc("month", F.col("o_orderdate")).alias("order_month"),
        )
        .agg(F.count(F.col("o_orderkey")).alias("order_count"))
    )


def rollup_counts(df: DataFrame, keys: list[str], count_col: str, alias: str) -> DataFrame:
    """Hierarchical subtotals via ROLLUP — one shuffle, Catalyst expands the
    grouping sets; at scale prefer this over N separate groupBys (N scans)."""
    return df.rollup(*keys).agg(F.count(F.col(count_col)).alias(alias))


def cube_counts(df: DataFrame, keys: list[str], count_col: str, alias: str) -> DataFrame:
    """All grouping-set combinations via CUBE."""
    return df.cube(*keys).agg(F.count(F.col(count_col)).alias(alias))


def date_trunc_agg(
    df: DataFrame, ts_col: str, granularity: str, value_col: str
) -> DataFrame:
    """Time-bucketed aggregate: count + sum(value) per truncated timestamp.

    Sum is computed over a decimal cast so results are order-independent
    (FP addition is not associative; decimal is — oracle-hash-safe,
    SURVEY.md §5 pitfalls) then surfaced as double.
    """
    return (
        df.groupBy(F.date_trunc(granularity, F.col(ts_col)).alias("bucket"))
        .agg(
            F.count(F.col(value_col)).alias("n"),
            F.sum(F.col(value_col).cast("decimal(18,4)"))
            .cast("double")
            .alias("sum_value"),
        )
    )


def sliding_window_agg(
    df: DataFrame, ts_col: str, duration: str, slide: str, value_col: str
) -> DataFrame:
    """Sliding event-time windows (batch twin of the streaming form —
    identical ``F.window(ts, duration, slide)`` expression).

    Each row lands in ``duration/slide`` windows; Catalyst expands that
    fan-out in a codegen'd projection before the partial aggregation, so
    the shuffle carries (window, partial-agg) rows, amplified only by the
    window overlap factor — not by raw row count.
    """
    return (
        df.groupBy(F.window(F.col(ts_col), duration, slide).alias("w"))
        .agg(
            F.count(F.col(value_col)).alias("n"),
            F.sum(F.col(value_col).cast("decimal(18,4)"))
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("n"),
            F.col("sum_value"),
        )
    )


def tumbling_window_agg(
    df: DataFrame, ts_col: str, duration: str, value_col: str
) -> DataFrame:
    """Batch twin of the streaming tumbling window: ``F.window`` buckets.

    Same operator the streaming module uses with a watermark; in batch mode
    it is oracle-checkable (window start == date_trunc for aligned windows).
    """
    return (
        df.groupBy(F.window(F.col(ts_col), duration).alias("w"))
        .agg(
            F.count(F.col(value_col)).alias("n"),
            F.sum(F.col(value_col).cast("decimal(18,4)"))
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("n"),
            F.col("sum_value"),
        )
    )


def two_level_agg(df: DataFrame, key: str, value_col: str) -> DataFrame:
    """Skew-resistant aggregation: salt the key, partial-agg on (key, salt),
    then final-agg on key. Use when one key holds >~1% of 100 TB and AQE's
    skew split is not enough (e.g. a null-heavy join key). Two shuffles, but
    the first moves salted partials, never the raw hot partition.
    """
    salted = df.withColumn("_salt", (F.rand(seed=42) * 32).cast("int"))
    partial = salted.groupBy(F.col(key), F.col("_salt")).agg(
        F.count(F.lit(1)).alias("_cnt"),
        F.sum(F.col(value_col).cast("decimal(18,4)")).alias("_sum"),
    )
    return partial.groupBy(key).agg(
        F.sum("_cnt").cast("long").alias("n"),
        F.sum("_sum").cast("double").alias("sum_value"),
    )


def group_mode(
    df: DataFrame, group_col: str, value_col: str
) -> DataFrame:
    """Deterministic per-group mode: the most frequent ``value_col`` in
    each group, ties broken by the SMALLEST value (Spark's ``mode()``
    leaves ties unspecified, which can never hash-match another engine —
    this count→rank formulation pins one winner everywhere). NULL values
    sort LAST in the tie-break (``asc_nulls_last`` — Spark's bare ASC is
    NULLS FIRST, which would let a NULL mode beat every real value and
    diverge from NULLS-LAST engines); a NULL mode_value therefore appears
    only when NULL is strictly the most frequent value.

    Shuffle profile: a (group, value)-keyed partial agg, then a window on
    the group key over the collapsed counts — the window input is one row
    per distinct (group, value), orders of magnitude smaller than the
    fact table, so the second exchange moves near-nothing at 100 TB.
    """
    counts = df.groupBy(group_col, value_col).agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy(group_col).orderBy(
        F.col("n").desc(), F.col(value_col).asc_nulls_last()
    )
    return (
        counts.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            F.col(group_col),
            F.col(value_col).alias("mode_value"),
            F.col("n").alias("mode_count"),
        )
    )


def zscore_outliers(df: DataFrame, group_col: str, value_col: str, id_col: str) -> DataFrame:
    """Per-group z-score outliers. Group stats are ROUNDED before the
    z computation so the z-scores (and the threshold filter) are a
    deterministic function of exact inputs — the cross-engine-stable way
    to chain FP statistics. Stats join back via broadcast (group
    cardinality is small); the fact side never shuffles."""
    stats = df.groupBy(group_col).agg(
        F.round(
            F.sum(F.col(value_col).cast("decimal(18,4)")).cast("double")
            / F.count(F.col(value_col)),
            4,
        ).alias("mu"),
        F.round(F.stddev_samp(F.col(value_col)), 4).alias("sigma"),
    )
    joined = df.join(F.broadcast(stats), group_col)
    # degenerate groups (all values equal → sigma = 0): Spark's x/0 yields
    # NULL while DuckDB yields ±inf/NaN — guard explicitly so both engines
    # agree the row is not an outlier (matching CASE in the oracle SQL)
    z = F.when(
        F.col("sigma") > 0,
        F.round((F.col(value_col) - F.col("mu")) / F.col("sigma"), 4),
    )
    return (
        joined.select(F.col(id_col), F.col(group_col), z.alias("z"))
        .filter(F.abs(F.col("z")) >= 3.0)
    )


def merge_partial_aggs(
    base_agg: DataFrame, delta_agg: DataFrame, keys: list[str], count_col: str, sum_col: str
) -> DataFrame:
    """Incremental aggregate-view maintenance: merge a maintained (count,
    decimal-sum) aggregate with a delta batch's aggregate WITHOUT
    re-scanning the base data — counts and decimal sums are algebraic, so
    partials combine exactly (bit-identical to a full recompute, which is
    what the oracle checks). This is the 100 TB daily-rollup pattern: the
    reference rebuilds its gold aggregate from the full silver table every
    run (``plugins/brewery_operators.py:196,328``); here only the delta is
    scanned, and the merge shuffles rows proportional to group cardinality,
    not data size. Both inputs carry (keys, count, decimal sum) columns."""
    return (
        base_agg.unionByName(delta_agg)
        .groupBy(*keys)
        .agg(
            F.sum(F.col(count_col)).alias(count_col),
            F.sum(F.col(sum_col)).alias(sum_col),
        )
    )


def corr_matrix(
    df: DataFrame, group_col: str, pairs: list[tuple[str, str]]
) -> DataFrame:
    """Per-group Pearson correlation for each (x, y) column pair, as one
    single-pass grouped aggregate — the co-moment accumulators for every
    pair ride the same partial/final HashAggregate, so a K-pair matrix
    still costs exactly one scan + one group-keyed exchange at 100 TB.

    The reference has no statistical layer at all (its checks stop at
    null/empty counts, ``plugins/data_quality_operator.py:61-71``); this is
    the feature-correlation screen a training-data pipeline runs before
    feature selection. Values are rounded to 4dp AFTER the aggregate: both
    engines' one-pass co-moment updates agree to ~1e-12 relative, so the
    rounded values are cross-engine stable (same discipline as
    ``zscore_outliers``).

    ANSI caveat: Spark 4's ``corr`` THROWS DIVIDE_BY_ZERO on a
    zero-variance group under the default ANSI mode (DuckDB returns
    NULL), so the correlation is assembled from the division-free
    SQL-standard co-moment aggregates — ``regr_sxy / sqrt(regr_sxx *
    regr_syy)`` via ``try_divide`` — which yields NULL for degenerate
    groups in both engines and keeps the whole matrix inside one
    codegen'd HashAggregate.
    """
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for x, y in pairs:
        aggs.append(
            # + 0.0 normalizes IEEE negative zero: Spark's round (BigDecimal)
            # never emits -0.0 but DuckDB's preserves the sign, so a
            # near-zero negative correlation rounding to zero would
            # hash-mismatch (-0.0 vs 0.0) without it
            (
                F.round(
                    F.try_divide(
                        F.regr_sxy(F.col(y), F.col(x)),
                        F.sqrt(
                            F.regr_sxx(F.col(y), F.col(x))
                            * F.regr_syy(F.col(y), F.col(x))
                        ),
                    ),
                    4,
                )
                + F.lit(0.0)
            ).alias(f"corr_{x}_{y}")
        )
    return df.groupBy(group_col).agg(*aggs)


def linreg_by_group(
    df: DataFrame, group_col: str, y_col: str, x_col: str
) -> DataFrame:
    """Per-group simple linear regression (slope / intercept / n) via the
    SQL-standard ``regr_*`` aggregates — closed-form least squares computed
    as one-pass co-moments inside a single grouped aggregate: one scan, one
    group-keyed exchange, whole-stage-codegen'd, no iteration and no
    driver-side math. The distributed-ML contrast: fitting K per-group
    models this way is a single Spark job regardless of group count,
    where a loop of per-group ``numpy.polyfit`` calls would be K driver
    round-trips. Rounded to 4dp post-aggregate (see ``corr_matrix``).
    Groups where x has zero variance return NULL slope/intercept in both
    engines — built from the division-free co-moments (``regr_sxy /
    regr_sxx`` via ``try_divide``) because Spark 4's ``regr_slope``
    throws DIVIDE_BY_ZERO there under default ANSI mode."""
    y, x = F.col(y_col), F.col(x_col)
    slope = F.try_divide(F.regr_sxy(y, x), F.regr_sxx(y, x))
    intercept = F.regr_avgy(y, x) - slope * F.regr_avgx(y, x)
    # + 0.0: negative-zero normalization (see corr_matrix) — a flat fit's
    # slope can round to -0.0 on DuckDB but 0.0 on Spark
    return df.groupBy(group_col).agg(
        (F.round(slope, 4) + F.lit(0.0)).alias("slope"),
        (F.round(intercept, 4) + F.lit(0.0)).alias("intercept"),
        F.regr_count(y, x).cast("long").alias("n_obs"),
    )
