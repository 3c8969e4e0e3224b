"""Window functions and top-k (SURVEY.md §2.2: rank, lag, running sum, top-k).

Scale profile:
  * Partitioned windows shuffle once on the partition key, then sort within
    partitions — fine at 100 TB when the partition key has enough
    cardinality. An UNPARTITIONED ordered window is a single-task
    global-sort bottleneck: never ship one (every function here requires a
    partition key).
  * Global top-k uses ``orderBy().limit(k)`` which Catalyst compiles to
    ``TakeOrderedAndProject``: each task keeps a k-row heap, the driver
    merges P×k rows — no global sort, no full shuffle. This is THE way to
    take a top-k off 100 TB.
  * Every ordering carries a unique tie-breaker key so results are
    deterministic (oracle-hash requirement, SURVEY.md §5).
  * Every ASCENDING ordering pins NULLS LAST: Spark's ASC default is
    NULLS FIRST but DuckDB's (and Postgres') is NULLS LAST, so a nullable
    order column would silently rank NULL rows differently cross-engine.
    DESC defaults to NULLS LAST on both engines already.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def rank_in_group(df: DataFrame, part_key: str, order_col: str, tiebreak: str) -> DataFrame:
    """row_number + rank + dense_rank per group by descending ``order_col``,
    deterministic via tiebreak."""
    w = Window.partitionBy(part_key).orderBy(
        F.col(order_col).desc(), F.col(tiebreak).asc_nulls_last()
    )
    return df.select(
        "*",
        F.row_number().over(w).alias("rn"),
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
    )


def top_k_per_group(
    df: DataFrame, part_key: str, order_col: str, tiebreak: str, k: int
) -> DataFrame:
    """Top-k rows per group: window row_number ≤ k. One shuffle on the group
    key; at scale pre-aggregate or pre-filter the frame first if only a tiny
    fraction can be in any top-k."""
    w = Window.partitionBy(part_key).orderBy(
        F.col(order_col).desc(), F.col(tiebreak).asc_nulls_last()
    )
    return (
        df.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)
    )


def global_top_k(df: DataFrame, order_col: str, tiebreak: str, k: int) -> DataFrame:
    """Global top-k via TakeOrderedAndProject (per-task heaps, driver merge)."""
    return df.orderBy(F.col(order_col).desc(), F.col(tiebreak).asc_nulls_last()).limit(k)


def running_sum(
    df: DataFrame, part_key: str, order_col: str, tiebreak: str, value_col: str
) -> DataFrame:
    """Cumulative sum per group in event order.

    Decimal accumulator: running FP sums ARE order-deterministic given the
    total order (part, order_col, tiebreak), but decimal keeps the oracle
    hash exact regardless of engine-internal accumulation width.
    """
    w = (
        Window.partitionBy(part_key)
        .orderBy(F.col(order_col).asc_nulls_last(), F.col(tiebreak).asc_nulls_last())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.select(
        "*",
        F.sum(F.col(value_col).cast("decimal(18,4)"))
        .over(w)
        .cast("double")
        .alias("running_sum"),
    )


def lag_delta(
    df: DataFrame, part_key: str, order_col: str, tiebreak: str, value_col: str
) -> DataFrame:
    """Per-group lag + delta vs previous row (sessionization building block)."""
    w = Window.partitionBy(part_key).orderBy(
        F.col(order_col).asc_nulls_last(), F.col(tiebreak).asc_nulls_last()
    )
    prev = F.lag(F.col(value_col)).over(w)
    return df.select(
        "*",
        prev.alias("prev_value"),
        (F.col(value_col) - prev).alias("delta_value"),
    )


def lead_ntile_pct(
    df: DataFrame, part_key: str, order_col: str, tiebreak: str
) -> DataFrame:
    """Navigation + distribution window functions: lead, ntile(4),
    percent_rank. Deterministic under the (order_col, tiebreak) total order;
    percent_rank is integer-rank arithmetic so the double is identical
    across engines (rounded anyway for hash hygiene)."""
    w = Window.partitionBy(part_key).orderBy(
        F.col(order_col).asc_nulls_last(), F.col(tiebreak).asc_nulls_last()
    )
    return df.select(
        "*",
        F.lead(F.col(order_col)).over(w).alias("next_val"),
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
    )


def first_last_in_group(
    df: DataFrame, part_key: str, order_col: str, tiebreak: str
) -> DataFrame:
    """first_value/last_value over the FULL frame. The frame must be
    explicit ROWS UNBOUNDED PRECEDING..UNBOUNDED FOLLOWING: the SQL default
    frame ends at CURRENT ROW, silently turning last_value into
    'current value'."""
    w = (
        Window.partitionBy(part_key)
        .orderBy(F.col(order_col).asc_nulls_last(), F.col(tiebreak).asc_nulls_last())
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return df.select(
        "*",
        F.first(F.col(tiebreak)).over(w).alias("first_key"),
        F.last(F.col(tiebreak)).over(w).alias("last_key"),
    )


def range_frame_count(
    df: DataFrame, part_key: str, order_col_int: str, radius: int
) -> DataFrame:
    """Value-range window frame: per row, how many group rows have
    ``order_col_int`` within ±radius. RANGE frames are value-based, so ties
    do NOT break determinism (peer rows see identical frames — no tiebreak
    needed). The order column must be integral for exact frame bounds;
    callers convert monetary doubles to cents first."""
    w = (
        Window.partitionBy(part_key)
        .orderBy(F.col(order_col_int).asc_nulls_last())
        .rangeBetween(-radius, radius)
    )
    return df.select("*", F.count(F.lit(1)).over(w).alias("n_neighbors"))


def range_prefix_sums(
    df: DataFrame,
    order_col: "str | list",
    sum_cols: list[str],
    n_parts: int = 32,
) -> DataFrame:
    """EXACT global running sums over an ordering without a global
    single-task window — the distributed prefix-sum pattern.

    An unpartitioned ``Window.orderBy(...)`` funnels the whole relation
    through ONE task (Spark even warns "No Partition Defined"); at 100 TB
    that is the plan's death. This operator gets the same exact result
    with bounded parallelism loss:

      1. range-repartition by the ordering (the same exchange a global
         sort would pay, but evaluated in parallel partitions);
      2. per-partition running sums + whole-partition totals via windows
         PARTITIONED by ``spark_partition_id()`` — P concurrent sorted
         scans sharing one exchange;
      3. the distinct (partition, totals) rows — P of them — get their
         own running sum through a tiny P-row global window, becoming
         each partition's offset;
      4. broadcast-join the offsets back and add.

    ``order_col``: a column name, a Column expression (e.g.
    ``F.col("n").desc()``), or a list of them — the composite ordering
    must be a TOTAL order (no duplicate composite keys): under ties a
    ROWS-frame running sum is not well defined on any engine. Ranking is
    the ``sum_cols=["<ones column>"]`` special case. Output: the input
    columns plus ``cum_<col>`` for each requested sum.

    Determinism: range boundaries are sampled, so PARTITION SIZES vary
    run to run, but each row's cumulative value is partition-invariant —
    offsets always equal the exact sum of everything ordered before the
    partition.
    """
    # String names normalize to asc_nulls_last — the module invariant
    # (every ASCENDING ordering pins NULLS LAST to match DuckDB's ASC
    # default); bare column names otherwise inherit Spark's NULLS FIRST
    # and any nullable order key diverges from its oracle. Callers
    # passing Column expressions must pin null ordering themselves; the
    # SAME expressions feed repartitionByRange and the windows so the
    # range exchange and the per-partition sort can never disagree.
    order_exprs = [
        F.col(c).asc_nulls_last() if isinstance(c, str) else c
        for c in (order_col if isinstance(order_col, list) else [order_col])
    ]
    parts = df.repartitionByRange(n_parts, *order_exprs).withColumn(
        "_pid", F.spark_partition_id()
    )
    w_in = (
        Window.partitionBy("_pid")
        .orderBy(*order_exprs)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("_pid")
    # lazy localCheckpoint: `local` feeds BOTH the output rows and the
    # per-partition offsets below; without it Spark duplicates the whole
    # upstream subtree per branch (spark_partition_id is flagged
    # nondeterministic, which blocks exchange reuse)
    local = parts.select(
        "*",
        *[F.sum(c).over(w_in).alias(f"_local_{c}") for c in sum_cols],
        *[F.sum(c).over(w_all).alias(f"_tot_{c}") for c in sum_cols],
    ).localCheckpoint(eager=False)
    totals = local.select(
        "_pid", *[f"_tot_{c}" for c in sum_cols]
    ).distinct()
    offsets = totals.select(
        "_pid",
        *[
            (F.sum(f"_tot_{c}").over(Window.orderBy("_pid")) - F.col(f"_tot_{c}"))
            .alias(f"_off_{c}")
            for c in sum_cols
        ],
    )
    out = local.join(F.broadcast(offsets), "_pid")
    for c in sum_cols:
        out = out.withColumn(
            f"cum_{c}",
            F.col(f"_local_{c}") + F.coalesce(F.col(f"_off_{c}"), F.lit(0)),
        )
    return out.drop(
        "_pid",
        *[f"_local_{c}" for c in sum_cols],
        *[f"_tot_{c}" for c in sum_cols],
        *[f"_off_{c}" for c in sum_cols],
    )
