"""Data-cleaning operators: equi-depth binning, winsorization, group-mean
imputation.

The reference's only cleaning is trim/lower/concat_ws projections
(`plugins/brewery_operators.py:255-265`); these are the numeric-cleaning
siblings every training-data pipeline runs before feature extraction.
All three are aggregate-then-broadcast shapes: the per-group statistics
(quantiles, means) reduce to a tiny relation that broadcasts back onto
the fact scan — the fact side never shuffles, so at 100 TB the cost is
one pass for stats plus one map-side pass to apply them.

Cross-engine determinism discipline (same as entry_queries): quantile
edges use DISCRETE quantiles (``percentile_disc`` / DuckDB
``quantile_disc`` — verified index-convention-identical across engines),
so every edge is an actual data element, bit-identical on both sides
with NO interpolation arithmetic at all; a 1-ulp libm difference can
therefore never move a row across a bin/clamp edge (ADVICE r3: the
previous round-to-6dp-after-interpolation scheme could flip an edge by
1e-6 when the two engines' interpolations straddled a rounding
boundary). Group means are decimal-exact sums, rounded before reuse.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def equi_depth_bins(
    df: DataFrame,
    value_col: str,
    id_col: str,
    n_bins: int = 8,
) -> DataFrame:
    """Assign each row an equi-depth (quantile) bin in [0, n_bins).

    Scale-right shape: the naive exact construction is ntile() over a
    GLOBAL sort — one partition swallowing the table (the unpartitioned-
    window smell). Instead the n_bins-1 interior quantile edges are
    computed as ONE exact-percentile aggregate (distributed, no window),
    broadcast, and each row's bin = count of edges strictly below its
    value — a pure projection over the fact scan. Discrete quantiles: each
    edge IS a data element, so both engines compare rows against the
    bit-identical edge; ties at an edge land in the lower bin everywhere.
    """
    edges = df.agg(
        *[
            F.expr(
                f"percentile_disc({i / n_bins!r}) WITHIN GROUP (ORDER BY {value_col})"
            ).alias(f"_e{i}")
            for i in range(1, n_bins)
        ]
    )
    bin_expr = sum(
        (F.col(value_col) > F.col(f"_e{i}")).cast("int") for i in range(1, n_bins)
    )
    return (
        df.crossJoin(F.broadcast(edges))
        .select(
            F.col(id_col),
            F.col(value_col),
            bin_expr.cast("long").alias("bin"),
        )
    )


def winsorize(df: DataFrame, group_col: str, value_col: str, id_col: str) -> DataFrame:
    """Per-group winsorization: clamp values outside the group's
    [0.05, 0.95] exact quantiles — outlier damping that preserves row
    count (unlike the z-score FILTER in aggregates.zscore_outliers).

    One groupBy aggregate produces (lo, hi) per group — discrete
    quantiles, so each bound is an actual group element (bit-identical
    cross-engine, no interpolation) — broadcast back onto the facts; the
    clamped value is least(greatest(v, lo), hi) — a projection, no second
    shuffle.
    """
    bounds = df.groupBy(group_col).agg(
        F.expr(
            f"percentile_disc(0.05) WITHIN GROUP (ORDER BY {value_col})"
        ).alias("_lo"),
        F.expr(
            f"percentile_disc(0.95) WITHIN GROUP (ORDER BY {value_col})"
        ).alias("_hi"),
    )
    clamped = F.least(F.greatest(F.col(value_col), F.col("_lo")), F.col("_hi"))
    return (
        df.join(F.broadcast(bounds), group_col)
        .select(
            F.col(id_col),
            F.col(group_col),
            F.round(clamped, 4).alias("value_winsorized"),
            (
                (F.col(value_col) < F.col("_lo"))
                | (F.col(value_col) > F.col("_hi"))
            ).alias("was_clamped"),
        )
    )


def impute_group_mean(
    df: DataFrame,
    group_col: str,
    value_col: str,
    id_col: str,
) -> DataFrame:
    """Fill NULL values with their group's mean of the observed values.

    The mean is an exact decimal-sum / count (partition-order independent),
    rounded, computed in one groupBy and broadcast back; imputation is a
    coalesce projection. Groups that are entirely NULL stay NULL (no
    global fallback — that's a policy decision for the caller).
    """
    means = df.groupBy(group_col).agg(
        F.round(
            F.sum(F.col(value_col).cast("decimal(18,4)")).cast("double")
            / F.count(F.col(value_col)),
            4,
        ).alias("_mu")
    )
    return (
        df.join(F.broadcast(means), group_col)
        .select(
            F.col(id_col),
            F.col(group_col),
            F.round(F.coalesce(F.col(value_col), F.col("_mu")), 4).alias(
                "value_imputed"
            ),
            F.col(value_col).isNull().alias("was_imputed"),
        )
    )
