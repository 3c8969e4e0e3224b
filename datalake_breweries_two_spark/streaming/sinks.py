"""Streaming → lake sinks: foreachBatch upsert into a versioned table.

The reference's sink story is a daily full overwrite (silver/gold
``mode("overwrite")``, ``plugins/brewery_operators.py:196,328``) plus a
JDBC copy. The streaming-native equivalent of its gold refresh is this
module: a continuously-updating aggregate MERGEd into the versioned lake
table every micro-batch — the Delta `foreachBatch + MERGE` pattern built
on this repo's own versioned-parquet transaction layer (`sources/lake.py`).

Scale profile: per trigger, only the CHANGED aggregate rows cross the
merge (update-mode streaming aggregation emits exactly the keys whose
state changed this batch), and the merge itself is a key-partitioned
full-outer join between a bounded-cardinality aggregate table and a
same-sized delta — at 100 TB the stream's raw volume never touches the
sink path. Exactly-once: the versioned writer publishes each batch's
result as an immutable snapshot behind an atomic pointer swap, so a
crashed batch leaves the previous version readable (re-running the batch
is idempotent because MERGE on the key set converges to the same state).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamWriter

from datalake_breweries_two_spark.sources.lake import (
    latest_table_version,
    merge_upsert,
    read_versioned,
    vacuum_versions,
    write_versioned,
)

# Stateful parallelism of every stream drive, fixed rather than inherited
# from the session's CPU-count default: each micro-batch pays one
# state-store open/commit per partition per stateful operator, which
# dominates the small states these drives hold (measured 1.8-2.5x at
# sf0.1). The conf is frozen into a query's checkpoint at first start, so
# the pin reaches no other (or resumed) query. Sizing it from state volume
# instead is an open ROADMAP item.
_STREAM_SHUFFLE_PARTITIONS = 8

# Table versions kept after each upsert batch: the current one plus one
# for readers mid-swap.
_KEEP_VERSIONS = 2


def _drive(spark: SparkSession, writer: DataStreamWriter, no_data_batches: bool) -> None:
    """Start ``writer`` and block until every available input is processed,
    then stop it. For the drive only, shuffle partitions are pinned to
    ``_STREAM_SHUFFLE_PARTITIONS`` and, with ``no_data_batches=False``, the
    trailing no-data micro-batch is disabled; both confs are restored even
    when the stream fails. The no-data flag is read per trigger, so scoping
    it to this synchronous drive is exact."""
    keys = ("spark.sql.shuffle.partitions", "spark.sql.streaming.noDataMicroBatches.enabled")
    prev = {k: spark.conf.get(k) for k in keys}
    spark.conf.set(keys[0], str(_STREAM_SHUFFLE_PARTITIONS))
    if not no_data_batches:
        spark.conf.set(keys[1], "false")
    try:
        q = writer.start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def stream_upsert_versioned(
    spark: SparkSession,
    updates: DataFrame,
    root: str,
    key_cols: list[str],
    query_name: str = "stream_upsert",
) -> None:
    """Drive an update-mode streaming aggregate to completion, MERGEing
    each micro-batch's emitted rows into the versioned table at ``root``.

    ``updates`` must be a streaming aggregate keyed by ``key_cols`` (update
    output mode: each trigger emits the full current value for every key
    whose aggregate changed — so merge-by-key converges to the same final
    state a batch recompute would produce, which is what the oracle
    checks).

    Retention: every micro-batch publishes a full new table version, so an
    unbounded run would accumulate O(n_batches) snapshots; each batch
    therefore vacuums down to ``_KEEP_VERSIONS``.

    The trailing watermark-advance micro-batch is skipped: it carries an
    EMPTY delta by construction here (update-mode aggregates emit only on
    state change, which requires data), yet would still run a full
    read→merge→write→vacuum cycle and publish a byte-identical version.
    """

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        delta = batch_df
        if latest_table_version(root) is not None:
            base = read_versioned(spark, root)
            merged = merge_upsert(base, delta, key_cols)
        else:
            merged = delta
        write_versioned(merged, root)
        vacuum_versions(root, keep=_KEEP_VERSIONS)

    writer = (
        updates.writeStream.outputMode("update")
        .queryName(query_name)
        .foreachBatch(apply_batch)
    )
    _drive(spark, writer, no_data_batches=False)
