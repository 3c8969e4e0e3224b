"""Time-series operators: regular-grid resampling with forward fill.

The reference has no time-series surface (timestamps appear only in bronze
filenames, ``plugins/brewery_operators.py:123``); this is north-star
extension territory — the gap-filling / last-observation-carried-forward
shape every metrics lake needs.

Scale profile: the grid is (distinct keys × slots) — generated inside
executors from a 1-row broadcast of the time bounds (no driver loop, no
collect). Three shuffles total: the per-slot aggregate, the grid↔values
join, and the forward-fill window — all keyed by the entity, so a
1000-executor run partitions cleanly by user and AQE coalesces the
slot-sparse partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_EVENT_TYPE = "event_type"


def resample_ffill(
    events: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    tie_col: str,
    step: str = "1 day",
) -> DataFrame:
    """Resample each key's event stream onto a regular [min, max] grid and
    forward-fill gaps with the last observed value.

    Per slot, "the" value is the latest event by (epoch second, tie id) —
    an exact int64 composite key (seconds × 1e9 + id), portable across
    engines where struct-ordered ``max_by`` is not. Known granularity
    limit: the time half is SECOND-resolution (``unix_timestamp``), so two
    events inside the same second resolve by ``tie_col`` alone, not
    sub-second order — deterministic, oracle-mirrored, but use
    ``unix_micros`` scaled into the id range if sub-second ordering ever
    matters. Slots with no prior observation at all stay NULL (nothing to
    carry forward).

    ``step`` must be a single calendar unit ("1 day", "1 hour", ...): the
    grid bounds and the event→slot truncation are BOTH derived from it, so
    they can never misalign. Multi-unit steps ("15 minutes") would need a
    floor-to-epoch-multiple slotting — rejected explicitly rather than
    silently producing a misaligned grid.
    """
    # A row with no timestamp cannot be slotted, and a NULL value is a
    # non-observation (engines even disagree on whether max_by/arg_max may
    # SELECT a NULL value, so keeping them would be engine-divergent):
    # both are excluded up front, symmetrically with the oracle SQL.
    events = events.filter(
        F.col(ts_col).isNotNull() & F.col(value_col).isNotNull()
    )
    parts = step.strip().split()
    valid_units = {"second", "minute", "hour", "day", "week", "month", "quarter", "year"}
    if len(parts) != 2 or parts[0] != "1" or parts[1].rstrip("s") not in valid_units:
        raise ValueError(
            f"step must be '1 <unit>' with unit in {sorted(valid_units)}; got {step!r}"
        )
    unit = parts[1].rstrip("s")
    t0 = F.date_trunc(unit, F.min(F.col(ts_col))).alias("d0")
    t1 = F.date_trunc(unit, F.max(F.col(ts_col))).alias("d1")
    bounds = events.agg(t0, t1)
    keys = events.select(key_col).distinct()
    grid = keys.crossJoin(F.broadcast(bounds)).select(
        key_col,
        F.explode(F.sequence(F.col("d0"), F.col("d1"), F.expr(f"interval {step}"))).alias(
            "slot"
        ),
    )
    slotted = events.groupBy(
        key_col, F.date_trunc(unit, F.col(ts_col)).alias("slot")
    ).agg(
        F.expr(
            f"max_by({value_col}, unix_timestamp({ts_col}) * 1000000000 + {tie_col})"
        ).alias("slot_value")
    )
    joined = grid.join(slotted, [key_col, "slot"], "left")
    w = (
        Window.partitionBy(key_col)
        .orderBy(F.col("slot").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        key_col,
        "slot",
        F.last(F.col("slot_value"), ignorenulls=True).over(w).alias("value_ffill"),
    )


def coalesce_intervals(
    intervals: DataFrame,
    key_col: str,
    start_col: str,
    end_col: str,
    tie_col: str,
) -> DataFrame:
    """Merge overlapping-or-touching ``[start, end]`` intervals per key
    into maximal islands (the gaps-and-islands union: availability windows,
    media segments, lease ranges — the interval twin of sessionization's
    point-gap split).

    Algorithm: order each key's intervals by (start, end, tie); a row opens
    a NEW island iff its start exceeds the running max of all PRIOR ends
    (touching endpoints merge — ``start == prev_end`` stays in the island);
    the running sum of those open-flags is the island id; one group-by
    collapses each island to its span. Island numbering depends on the tie
    order, but the MERGED OUTPUT is invariant to it — ``tie_col`` only
    pins deterministic execution.

    Scale profile: ONE wide exchange total. Both window expressions share
    a single (key)-partitioned sort, and the follow-up groupBy on
    (key, island) is a superset of that partitioning, so Catalyst adds no
    second shuffle. Per-key interval counts bound the window state; no
    driver participation, no quadratic pair expansion (vs the naive
    self-join overlap test).
    """
    w = Window.partitionBy(key_col).orderBy(
        F.col(start_col).asc(), F.col(end_col).asc(), F.col(tie_col).asc()
    )
    prev_max_end = F.max(F.col(end_col)).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    opens = (
        F.when(
            prev_max_end.isNull() | (F.col(start_col) > prev_max_end), F.lit(1)
        )
        .otherwise(F.lit(0))
        .alias("__opens")
    )
    islands = intervals.select(
        key_col, start_col, end_col, tie_col, opens
    ).withColumn(
        "__island",
        F.sum("__opens").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        islands.groupBy(key_col, "__island")
        .agg(
            F.min(start_col).alias("ivl_start"),
            F.max(end_col).alias("ivl_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            key_col,
            "ivl_start",
            "ivl_end",
            "n_events",
            (
                F.unix_micros(F.col("ivl_end")) - F.unix_micros(F.col("ivl_start"))
            ).alias("covered_us"),
        )
    )


def moving_avg_time(events: DataFrame, days: int = 7) -> DataFrame:
    """Trailing ``days``-day moving average of the daily ``value`` total per
    ``event_type`` — the canonical time-RANGE window frame (``rangeBetween``
    over a day number, NOT rowsBetween: gap days must widen the frame, and
    rows-frames silently miscount when days are missing).

    Daily totals are summed as decimal (exact, partition-order-independent)
    and the frame average is decimal-sum / count, so the result is
    bit-stable across engines. Shuffle profile: one partial-agg groupBy
    (group, day) then one window exchange on the group key — the window
    input is one row per group-day, thousands of times smaller than the
    event stream.
    """
    epoch = F.lit("1970-01-01").cast("date")
    daily = (
        events.groupBy(
            F.col(_EVENT_TYPE), F.to_date(F.col("ts")).alias("day")
        )
        .agg(F.sum(F.col("value").cast("decimal(18,4)")).alias("dec_total"))
        .withColumn("day_num", F.datediff(F.col("day"), epoch).cast("long"))
    )
    w = (
        Window.partitionBy(_EVENT_TYPE)
        .orderBy("day_num")
        .rangeBetween(-(days - 1), 0)
    )
    return daily.select(
        F.col(_EVENT_TYPE),
        F.col("day"),
        (F.round(F.col("dec_total").cast("double"), 4) + F.lit(0.0)).alias("daily_total"),
        (
            F.round(
                F.sum("dec_total").over(w).cast("double")
                / F.count(F.lit(1)).over(w),
                4,
            )
            + F.lit(0.0)
        ).alias(f"avg_{days}d"),
    )
