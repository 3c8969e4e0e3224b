"""Structured Streaming: event-time windowed aggregation with watermarks,
plus a custom stateful operator.

The reference's only 'streaming' is Airflow ``@daily`` batch re-runs
(reference ``dags/dag-brewery_pipeline.py:48``); this module provides the
real thing over the ``events`` table shape. The BATCH twin of the tumbling
window (``operators.aggregates.tumbling_window_agg``) shares the same
``F.window`` expression, so the streaming path computes exactly what the
oracle-checked batch query computes.

Scale notes: state store size is bounded by (windows retained × keys);
the watermark bounds retention. ``availableNow`` trigger + parquet source
gives exactly-once batch-over-stream semantics for backfills at any scale.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datalake_breweries_two_spark.catalog import _read_events_via, read_events
from datalake_breweries_two_spark.streaming.sinks import _drive


def read_events_stream(
    spark: SparkSession, path: str, files_per_trigger: int = 1
) -> DataFrame:
    """File-source stream over the events layout (one file per trigger batch
    in tests; kafka in production — same downstream plan). The staged
    files' ts layout is sniffed once at stream definition (a stream needs
    ONE fixed schema) and decoded exactly as ``catalog.read_events`` does.

    ``files_per_trigger`` sizes the micro-batches: each trigger pays a
    fixed cycle — incremental re-plan, state-store open/commit across
    every stateful partition, WAL/offset commit, sink collect — measured
    at 0.5-1.5 s per trigger regardless of batch size at sf0.1, so replay
    harnesses that only need SOME cross-trigger batching should group
    files. The default stays 1 because the time-ordered replay callers
    (``stage_time_ordered_stream`` consumers — sessionize and friends)
    rely on strict one-file-at-a-time in-order delivery."""
    return _read_events_via(
        spark.readStream.option("maxFilesPerTrigger", files_per_trigger), path
    )


# Files a batch relation is staged into for replay: enough that duplicate
# keys can land in different files and so cross a trigger boundary.
_STAGE_SLICES = 4


def stage_events_stream(
    events: DataFrame, dest_dir: str, files_per_trigger: int = 1
) -> DataFrame:
    """Stage a batch events frame as ``_STAGE_SLICES`` round-robin parquet
    files under ``dest_dir`` and return the stream replaying them,
    ``files_per_trigger`` files per micro-batch. The slices are not time
    ordered, so consumers need a watermark wider than the data span (or
    none); use ``stage_time_ordered_stream`` for in-order replay."""
    events.repartition(_STAGE_SLICES).write.mode("overwrite").parquet(dest_dir)
    return read_events_stream(events.sparkSession, dest_dir, files_per_trigger)


def windowed_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "10 minutes",
    slide: str | None = None,
) -> DataFrame:
    """Tumbling (or, with ``slide``, sliding/hopping) event-time window +
    watermark: counts and value sums per (window, event_type). Sliding
    windows multiply state by window/slide overlapping buckets — the
    watermark still bounds total retention. Append-mode compatible:
    results emit when the watermark passes window end; state for closed
    windows is dropped."""
    win = (
        F.window(F.col("ts"), window, slide) if slide else F.window(F.col("ts"), window)
    )
    return (
        events.withWatermark("ts", watermark)
        .groupBy(win.alias("w"), F.col("event_type"))
        .agg(
            F.count(F.col("event_id")).alias("n"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("event_type"),
            F.col("n"),
            F.col("sum_value"),
        )
    )


def stage_keyed_micro_batches(
    spark: SparkSession,
    df: DataFrame,
    key_col: str,
    dest_dir: str,
) -> DataFrame:
    """Stage a batch relation as a replayable micro-batch stream (the
    shared scaffold behind the streaming gate queries — contamination,
    DQ, shard progress):

    * a synthetic ``ingest_ts`` is appended, folded from ``key_col``
      into one bounded day (``1_600_000_000 + pmod(key, 86_400)`` —
      raw int64-extreme keys as seconds would overflow the timestamp
      µs range), with NULL keys coalesced to 0 so their rows stay ABOVE
      the stream's epoch-0 initial watermark instead of being silently
      dropped while the batch oracle counts them;
    * ``_STAGE_SLICES`` round-robin files, so duplicate keys can land
      in different files and exercise cross-trigger state;
    * the returned stream reads the staged parquet with the staged
      relation's OWN schema (no inference), 2 files per micro-batch.

    Two files per trigger: every micro-batch pays a fixed cycle that is
    independent of its size — incremental re-plan + static-side
    re-broadcast, one state-store open/commit per stateful partition,
    WAL/offset/commit log writes, sink collect — measured at 0.5-1.5 s
    per trigger at sf0.1 on slices whose actual aggregation takes
    milliseconds. Two micro-batches halve that fixed cost while keeping
    what the replay exists to exercise: keys still accumulate state
    ACROSS a trigger boundary and update-mode consumers still see per-key
    re-emission. The drained result is trigger-partitioning-invariant
    (the gate consumers reduce the sink by per-key monotone extremes),
    which the oracle re-verifies."""
    staged = df.withColumn(
        "ingest_ts",
        F.timestamp_seconds(
            F.lit(1_600_000_000)
            + F.pmod(F.coalesce(F.col(key_col), F.lit(0)), F.lit(86_400))
        ),
    )
    staged.repartition(_STAGE_SLICES).write.mode("overwrite").parquet(dest_dir)
    return (
        spark.readStream.schema(staged.schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(dest_dir)
    )


def run_stream_to_memory(
    spark: SparkSession,
    stream_df: DataFrame,
    query_name: str,
    output_mode: str = "append",
    no_data_batches: bool = True,
) -> DataFrame:
    """Drive a stream to completion synchronously against the memory sink
    (test/backfill harness): availableNow semantics via processAllAvailable,
    with the drive settings of ``streaming.sinks._drive``.

    ``no_data_batches=False`` disables the trailing empty micro-batch Spark
    runs after the last data batch to advance the watermark. That batch
    exists so APPEND-mode stateful operators can emit rows whose
    window/session closed (``sessionize_stream``'s EventTimeTimeout, outer
    stream-stream joins, append windowed aggs) — those callers MUST keep
    the default. An UPDATE-mode drive whose consumer reads the sink's
    per-key emission extremes (the contamination / DQ / shard-progress
    gate pattern: every component of the state is monotone, the final
    data batch already emitted each touched key's final value, and a
    no-data batch emits nothing in update mode) gets identical results
    without it — saving one full state-store open/commit cycle across
    every partition per drive (~0.4-0.5 s per drive here) and, since the
    trailing batch fires nondeterministically (watermark-advance timing),
    removing run-to-run variance."""
    writer = (
        stream_df.writeStream.outputMode(output_mode).format("memory").queryName(query_name)
    )
    _drive(spark, writer, no_data_batches)
    return spark.sql(f"SELECT * FROM {query_name}")


def stage_time_ordered_stream(
    spark: SparkSession, src_parquet: str, dest_dir: str, n_slices: int = 4
) -> None:
    """Stage a raw events parquet as ``n_slices`` files written SEQUENTIALLY
    in time order, so the file stream source (which orders by modification
    time) replays them as an in-order stream — the arrival order a Kafka
    topic keyed by time would give. A single multi-file write job gives all
    parts the same mtime and the replay order becomes arbitrary, which is
    exactly the pathological input for a session operator.

    Slices are TIME RANGES (min..max ts split n ways), not equal-count
    ntile buckets: an unpartitioned ``ntile`` window would funnel the whole
    table through one partition; range predicates instead push down to the
    parquet scan and each slice write stays fully parallel."""
    ev = read_events(spark, src_parquet)
    # decoded µs timestamps (catalog.read_events); slice arithmetic in
    # integer epoch-micros, boundaries pushed down as timestamp literals
    lo, hi = ev.agg(
        F.min(F.unix_micros(F.col("ts"))), F.max(F.unix_micros(F.col("ts")))
    ).first()
    if lo is None or hi is None:
        raise ValueError(f"{src_parquet}: events table is empty — nothing to slice")
    if lo < 0:
        # Spark initializes every stream's watermark at 1970-01-01 (epoch
        # 0), so PRE-EPOCH event times are below the watermark before the
        # first batch even runs and are SILENTLY dropped by every
        # watermarked stateful operator (found by a temporal-edge probe:
        # a 1969 event vanished from tumbling/dedup state while the batch
        # analogue kept it). Refuse loudly rather than replay a stream
        # that can never match its batch oracle.
        raise ValueError(
            f"{src_parquet}: events before 1970-01-01 UTC (min epoch-us "
            f"{lo}) cannot replay through watermarked stateful operators "
            "— Spark's initial watermark is epoch 0; filter or re-base "
            "pre-epoch rows first"
        )
    span = max(hi - lo, 1)
    for i in range(n_slices):
        lo_us = lo + span * i // n_slices
        hi_us = lo + span * (i + 1) // n_slices
        pred = F.col("ts") >= F.timestamp_micros(F.lit(lo_us))
        if i < n_slices - 1:
            pred = pred & (F.col("ts") < F.timestamp_micros(F.lit(hi_us)))
        (
            ev.filter(pred)
            .coalesce(1)
            .write.mode("overwrite" if i == 0 else "append")
            .parquet(dest_dir)
        )


def sessionize_stream(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Custom stateful streaming operator: per-user sessionization via
    ``applyInPandasWithState`` (Arrow-batched; state = one 4-field row per
    live user, so state-store size is O(active users), not O(events)).

    A session closes when (a) a later event for the user arrives more than
    ``gap_minutes`` after the previous one, or (b) the event-time watermark
    passes ``last_event + gap`` (EventTimeTimeout) — so idle users don't pin
    state forever. Closed sessions are emitted in append mode; sessions
    still open when the stream ends remain in state (standard streaming
    semantics — they'd emit on the next trigger).
    """
    gap_us = gap_minutes * 60 * 1_000_000
    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("session_start", T.TimestampType()),
            T.StructField("session_end", T.TimestampType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("total_value", T.DoubleType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("last_us", T.LongType()),
            T.StructField("start_us", T.LongType()),
            T.StructField("n", T.LongType()),
            T.StructField("total", T.DoubleType()),
        ]
    )

    def fn(key, pdf_iter, state):  # noqa: ANN001 - GroupState has no public stub
        user_id = key[0]
        if state.exists:
            last_us, start_us, n, total = state.get
        else:
            last_us = start_us = None
            n, total = 0, 0.0
        closed: list[tuple] = []

        if state.hasTimedOut:
            if n:
                closed.append((user_id, start_us, last_us, n, total))
            state.remove()
        else:
            # applyInPandasWithState does NOT drop late rows for us (unlike
            # windowed aggregations) — filtering rows behind the watermark
            # is the operator's job
            wm_us = state.getCurrentWatermarkMs() * 1000
            frames = [pdf[["ts", "value"]] for pdf in pdf_iter]
            if frames:
                batch = pd.concat(frames).sort_values("ts")
                for ts, val in zip(batch["ts"], batch["value"]):
                    us = int(ts.value // 1_000)  # pandas ns → epoch µs
                    if us < wm_us:
                        continue  # late beyond allowed lateness: drop
                    if last_us is not None and us - last_us > gap_us:
                        closed.append((user_id, start_us, last_us, n, total))
                        start_us, n, total = None, 0, 0.0
                    if start_us is None:
                        start_us = us
                    n += 1
                    total += float(val) if val == val else 0.0
                    last_us = us
            if last_us is not None:
                state.update((last_us, start_us, n, total))
                # the timeout API is millisecond-epoch; late data (staged
                # files aren't time-ordered) can put last+gap behind the
                # watermark, and a timeout below the watermark is invalid,
                # so clamp — the session then times out on the very next
                # trigger, correct for a session already older than the
                # allowed lateness
                wm = state.getCurrentWatermarkMs()
                state.setTimeoutTimestamp(max(last_us // 1000 + gap_us // 1000, wm + 1))

        if closed:
            yield pd.DataFrame(
                {
                    "user_id": [c[0] for c in closed],
                    "session_start": [pd.Timestamp(c[1], unit="us") for c in closed],
                    "session_end": [pd.Timestamp(c[2], unit="us") for c in closed],
                    "n_events": [c[3] for c in closed],
                    "total_value": [c[4] for c in closed],
                }
            )

    return (
        events.withWatermark("ts", f"{gap_minutes} minutes")
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf="EventTimeTimeout",
        )
    )


def sessionize_batch(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Batch sessionization (the stateful-operator pattern, §'Common OLAP
    patterns'): session id = cumulative count of gap>threshold breaks per
    user. One shuffle on user_id; windows do the rest JVM-side."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    # millisecond epoch gap (matches DuckDB epoch_ms for the oracle twin)
    ms = F.unix_millis(F.col("ts"))
    gap = ms - F.lag(ms).over(w)
    is_new = F.when(gap.isNull() | (gap > gap_minutes * 60 * 1000), 1).otherwise(0)
    with_sess = events.withColumn(
        "session_seq",
        F.sum(is_new).over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("long"),
    )
    return (
        with_sess.groupBy("user_id", "session_seq")
        .agg(
            F.count(F.col("event_id")).alias("n_events"),
            F.min(F.col("ts")).alias("session_start"),
            F.max(F.col("ts")).alias("session_end"),
        )
    )


def dedup_stream(events: DataFrame) -> DataFrame:
    """Streaming exact dedup on event_id, state bounded by the watermark:
    ``dropDuplicatesWithinWatermark`` keeps one state entry per key only
    while the key's event time is inside the watermark horizon, then drops
    it — the standard exactly-once repair for an at-least-once source
    (Kafka redelivery, file re-ingest). State is O(keys within horizon),
    not O(stream length) — the property that makes this run forever at
    100 TB/day. Late duplicates beyond the horizon are dropped by the
    watermark itself, which is also correct dedup behavior (the original
    already emitted)."""
    return events.withWatermark("ts", "10 minutes").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
