"""Stream-stream joins (Structured Streaming).

The reference has no streaming surface at all (SURVEY.md §2 — batch-only
Airflow DAG); this is north-star extension territory: the
view→click-within-N-minutes attribution join every event pipeline needs.

Scale profile: a stream-stream inner join buffers BOTH sides in the state
store; the event-time range condition plus watermarks on both sides lets
Spark evict a buffered row as soon as the watermark passes the farthest
instant it could still match — state is O(events inside the lag window),
not O(stream). Without the time bound (or with only one watermark) state
grows forever; this module makes both mandatory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _attribution_join(
    views: DataFrame,
    clicks: DataFrame,
    max_lag_minutes: int,
    watermark: str,
    how: str,
    always_watermark: bool,
) -> DataFrame:
    """Shared core of the inner/leftOuter attribution joins: project both
    sides, watermark (streaming inputs only, unless ``always_watermark`` —
    an OUTER join emits its null rows only as the watermark advances, so
    the outer variant watermarks unconditionally), and join on the
    user-keyed event-time interval condition."""
    v = views.select(
        F.col("user_id"),
        F.col("ts").alias("view_ts"),
        F.col("event_id").alias("view_id"),
    )
    c = clicks.select(
        F.col("user_id").alias("click_user"),
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    )
    if always_watermark or views.isStreaming:
        v = v.withWatermark("view_ts", watermark)
    if always_watermark or clicks.isStreaming:
        c = c.withWatermark("click_ts", watermark)
    cond = (
        (v["user_id"] == c["click_user"])
        & (c["click_ts"] >= v["view_ts"])
        & (c["click_ts"] <= v["view_ts"] + F.expr(f"interval {max_lag_minutes} minutes"))
    )
    return v.join(c, cond, how).select(
        "user_id", "view_id", "click_id", "view_ts", "click_ts"
    )


def view_click_attribution(
    views: DataFrame,
    clicks: DataFrame,
    max_lag_minutes: int = 30,
) -> DataFrame:
    """Attribute each click to the user's views in the preceding
    ``max_lag_minutes``: inner join on user with
    ``view_ts <= click_ts <= view_ts + lag``.

    Works identically on two streaming frames (the state-bounded
    stream-stream join; append output mode only) and on two batch frames
    (the oracle-checkable twin — tests assert stream == batch). Streaming
    inputs get a 3650-day watermark, wider than any replayed finite file
    stream, so nothing is dropped as late (late-drop semantics are covered
    by the windowed-agg tests).
    """
    return _attribution_join(
        views, clicks, max_lag_minutes, "3650 days", "inner", always_watermark=False
    )


def view_click_attribution_outer(
    views: DataFrame,
    clicks: DataFrame,
    max_lag_minutes: int = 5,
    watermark: str = "2 minutes",
) -> DataFrame:
    """LEFT OUTER stream-stream interval join: every view emits — matched
    views eagerly (the inner part), unmatched views with NULL click columns
    once the global watermark passes the farthest instant a click could
    still match (``view_ts + lag``), i.e. when their state is evicted.

    This is the semantics the inner variant cannot give you: "views that
    never converted" as a STREAM, with state still O(lag window). The
    emission cutoff is deterministic for a drained finite replay: the final
    global watermark is ``min(max view_ts, max click_ts) - watermark``
    (each side's max FLOORED TO WHOLE MILLISECONDS first — Spark's
    event-time stats track milliseconds; the two-watermark MIN policy is
    Spark's default), and an unmatched view has emitted iff
    ``view_ts + lag <= wm - 1ms`` (the state-watermark strictness
    adjustment; boundary semantics pinned by probes at wm, wm-1us, wm-1ms
    and wm+400us — equality at wm or inside the trailing millisecond stays
    buffered). The oracle recomputes exactly that set. Unlike the inner
    twin, the watermark must be REAL (not data-spanning): an outer join
    emits its null rows only as the watermark advances.
    """
    return _attribution_join(
        views, clicks, max_lag_minutes, watermark, "leftOuter", always_watermark=True
    )
