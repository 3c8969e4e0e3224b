"""Behavioral analytics: funnel conversion and cohort retention.

The reference has no event-analytics surface (its events are Airflow task
logs); these are the two queries every product-analytics workload runs on
an events table, expressed as plain aggregate/join cascades so Catalyst
keeps them whole-stage-codegen'd and every step is an exact SQL oracle.

Scale notes: both operators shuffle only (user_id, timestamp) pairs —
never event payloads — and every aggregate combines map-side first. At
100 TB the events scan prunes to (user_id, ts, event_type) via column
pruning; the per-user state is O(1) per funnel step.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_USER_ID = "user_id"
_TS = "ts"
_EVENT_TYPE = "event_type"


def funnel_stages(
    events: DataFrame,
    steps: tuple[str, ...] = ("view", "click", "purchase"),
    within_minutes: int = 60,
) -> DataFrame:
    """Anchored funnel: per user, the FIRST ``steps[0]`` event, then for
    each later step the earliest matching event strictly after the previous
    stage and within ``within_minutes`` of it.

    Returns one row per user who entered the funnel: the per-stage
    timestamps (NULL once the funnel broke) and ``stage_depth`` = number of
    stages reached. Each stage is one conditional left join + min-aggregate;
    the join key is the user id, so stage N's shuffle reuses stage N-1's
    partitioning.
    """
    interval = F.expr(f"INTERVAL {int(within_minutes)} MINUTES")
    cur = (
        events.filter(F.col(_EVENT_TYPE) == steps[0])
        .groupBy(_USER_ID)
        .agg(F.min(_TS).alias(f"t_{steps[0]}"))
    )
    prev_cols = [f"t_{steps[0]}"]
    for step in steps[1:]:
        # both sides descend from the same events scan — rename the probe
        # side's columns so the join condition relates distinct attributes
        nxt = events.filter(F.col(_EVENT_TYPE) == step).select(
            F.col(_USER_ID).alias("_uid"), F.col(_TS).alias("_ts")
        )
        prev_t = F.col(prev_cols[-1])
        cur = (
            cur.join(
                nxt,
                (F.col(_USER_ID) == F.col("_uid"))
                & (F.col("_ts") > prev_t)
                & (F.col("_ts") <= prev_t + interval),
                "left",
            )
            .groupBy(_USER_ID, *prev_cols)
            .agg(F.min("_ts").alias(f"t_{step}"))
        )
        prev_cols.append(f"t_{step}")
    depth = sum(
        (F.when(F.col(c).isNotNull(), 1).otherwise(0) for c in prev_cols[1:]),
        F.lit(1),
    )
    return cur.select(
        F.col(_USER_ID), *prev_cols, depth.cast("long").alias("stage_depth")
    )


def cohort_retention(events: DataFrame) -> DataFrame:
    """Daily cohort retention triangle: users grouped by first-seen day,
    counted per day-offset of later activity.

    SINGLE-PASS shape (r6 — replaced a two-aggregate + broadcast-join
    plan that ran ~1.7× baseline): one user-keyed aggregate builds each
    user's distinct-day set (``collect_set`` is BOUNDED by the corpus
    timespan — ≤366 elements/user/year — never by event volume, so the
    agg state is small no matter how hot a user is), the cohort day is
    the set's min, and an explode + small (cohort, offset) aggregate
    finishes. One wide exchange on the user id instead of three
    (distinct + first-seen + final) and no join at any scale.

    NULL semantics mirror the original join formulation (and the DuckDB
    oracle) exactly — caught by the r6 nulls-profile sweep: a NULL user
    id joins nothing (excluded up front), while a NULL event time still
    contributes one DISTINCT (user, NULL) day whose offset is NULL —
    ``collect_set`` silently drops NULL elements, so the NULL day rides
    a separate has-null flag and is re-appended before the explode.
    """
    day = F.to_date(F.col(_TS))
    per_user = (
        events.filter(F.col(_USER_ID).isNotNull())
        .groupBy(_USER_ID)
        .agg(
            F.collect_set(day).alias("days"),
            F.max(F.when(day.isNull(), 1).otherwise(0)).alias("has_null_day"),
        )
    )
    all_days = F.when(
        F.col("has_null_day") == 1,
        F.concat(F.col("days"), F.array(F.lit(None).cast("date"))),
    ).otherwise(F.col("days"))
    return (
        per_user.select(
            # array_min skips NULL elements: a user with only NULL-time
            # events has an empty set -> NULL cohort, matching min(ts)
            F.array_min("days").alias("cohort_day"),
            F.explode(all_days).alias("day"),
        )
        .groupBy("cohort_day", F.datediff("day", "cohort_day").cast("long").alias("day_offset"))
        .agg(F.count(F.lit(1)).alias("n_users"))
    )
