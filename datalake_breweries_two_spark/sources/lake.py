"""Lake read/write: parquet & JSON with explicit schemas, partitioned and
bucketed layouts, latest-snapshot resolution.

Parity targets (SURVEY.md §2.1 S2/S3/S4, K1/K2/K3):
  * JSON scan — reference ``plugins/brewery_operators.py:189`` reads with
    schema inference (an extra full scan); here schemas are explicit.
  * Parquet scan — reference ``:323-324``.
  * Partitioned parquet write — reference ``:194-196`` (hive-partition by
    state, full overwrite). Here one file per partition value, and
    :func:`write_partitioned_dynamic` re-runs replace only touched
    partitions.
  * Latest-object resolution — reference ``:202-225`` lists a bucket and
    takes max(last_modified); here the same driver-side listing against any
    Hadoop-compatible FS, with the caveat that a transaction log (Delta) is
    the real fix at scale.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Parquet scan; Catalyst gets row-group min/max stats for pushdown."""
    return spark.read.parquet(path)


def read_json(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """JSON-lines scan with a REQUIRED explicit schema — the engine never
    pays the reference's inference pass (``plugins/brewery_operators.py:189``)."""
    return spark.read.schema(schema).json(path)


def write_parquet(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    """Full-refresh (overwrite) parquet write, optionally partitioned
    (reference K2/K3 shape). Partition columns become hive-style dirs →
    free partition pruning for readers. Choose partition keys with bounded
    cardinality (state, date), never high-cardinality ids — millions of
    tiny dirs kill the FS at 100 TB.

    A partitioned write first rebalances the rows by the partition columns
    (:func:`_write_partitioned`), so each partition value lands in one file
    (AQE splits only a skewed value into several) instead of one file per
    input task per value: 4 input tasks over 40 states write 40 files, not
    up to 160.

    Overwrite is pinned to STATIC partition-overwrite per write: this is
    the FULL-REFRESH path, so a partition absent from ``df`` must be
    dropped, not silently preserved — the session-level dynamic default
    (set for the incremental path) would otherwise leak in and leave
    stale partitions behind whenever the upstream data loses a partition
    value (exactly how a regenerated corpus once left a ghost partition
    in the medallion silver layer). Incremental writers use
    :func:`write_partitioned_dynamic` explicitly."""
    if partition_by:
        _write_partitioned(df, path, partition_by, "overwrite", overwrite_mode="static")
    else:
        df.write.mode("overwrite").parquet(path)


def write_partitioned_dynamic(df: DataFrame, path: str, partition_by: list[str]) -> None:
    """Dynamic partition overwrite: replace ONLY the hive partitions present
    in ``df``, leaving every other partition's files untouched — the
    incremental-refresh write the reference lacks (its daily job rewrites
    the whole table with ``mode("overwrite")``, ``plugins/
    brewery_operators.py:196,328``; SURVEY.md §4 flags this as the
    partial "incremental/dynamic overwrite" row).

    At 100 TB this is the difference between rewriting a day's partition
    (~0.1% of the table) and rewriting everything: the writer stages new
    files per touched partition and swaps them in, so a daily pipeline is
    O(delta), not O(table). The option is set per-write (not on the
    session) so concurrent full-overwrite writes keep their static
    semantics.
    """
    _write_partitioned(df, path, partition_by, "overwrite", overwrite_mode="dynamic")


def _write_partitioned(
    df: DataFrame,
    path: str,
    partition_by: list[str],
    mode: str,
    overwrite_mode: str | None = None,
) -> None:
    """The one hive-partitioned parquet write. The ``rebalance`` hint
    shuffles rows by the partition columns before the writer splits them
    into dirs, so a value's rows meet in one task and become one file;
    with AQE on, small shuffle partitions coalesce and a skewed one splits
    (Delta's "optimized write" shape). Without it every input task writes
    its own file into every value dir it holds — tasks × values small
    files, which at 100 TB is the small-files problem by construction.
    ``overwrite_mode`` pins ``partitionOverwriteMode`` for this write."""
    writer = df.hint("rebalance", *partition_by).write.mode(mode)
    if overwrite_mode is not None:
        writer = writer.option("partitionOverwriteMode", overwrite_mode)
    writer.partitionBy(*partition_by).parquet(path)


def write_bucketed(
    df: DataFrame, table_name: str, bucket_col: str, n_buckets: int, path: str
) -> None:
    """Bucketed managed table: co-locates both sides of future joins on
    ``bucket_col`` — repeated fact-fact joins on the same key skip their
    shuffle entirely. The 100 TB answer to 'we join on this key every day'."""
    (
        df.write.mode("overwrite")
        .option("path", path)
        .bucketBy(n_buckets, bucket_col)
        .sortBy(bucket_col)
        .saveAsTable(table_name)
    )


def write_range_sorted(
    df: DataFrame, path: str, sort_col: str, n_files: int = 8
) -> None:
    """Range-partitioned, within-file-sorted parquet layout — the
    data-skipping layout for a hot filter column (Z-order-lite for one
    dimension). ``repartitionByRange`` gives each output file a DISJOINT
    value range and the in-file sort tightens every row group's min/max
    stats, so a selective range predicate prunes to ~1 file and a few row
    groups at scan time instead of reading the whole table — at 100 TB
    this is the difference between touching 1/n_files of the bytes and
    all of them. One range-exchange shuffle (sampled bounds), sort is
    in-partition only."""
    from pyspark.sql import functions as F  # local: keep module import light

    (
        df.repartitionByRange(n_files, F.col(sort_col))
        .sortWithinPartitions(sort_col)
        .write.mode("overwrite")
        .parquet(path)
    )


def _morton_interleave(a, b, bits: int):
    """Bit-interleave two ``bits``-wide non-negative ints into a Morton
    (Z-order) code — JVM-side shift/mask expressions, fully codegen'd."""
    from pyspark.sql import functions as F  # local: keep module import light

    m = F.lit(0).cast("long")
    for i in range(bits):
        m = m.bitwiseOR(
            F.shiftleft(F.shiftright(a, i).bitwiseAND(F.lit(1)), 2 * i)
        ).bitwiseOR(
            F.shiftleft(F.shiftright(b, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return m


def write_zorder(
    df: "DataFrame",
    path: str,
    col_a: str,
    col_b: str,
    bits: int = 12,
    n_files: int = 16,
) -> None:
    """Z-order (Morton-curve) layout over TWO numeric columns — the 2-D
    data-skipping layout (Delta's OPTIMIZE ZORDER BY analog, from plain
    parquet). Each column is min-max scaled to ``bits`` bits and the codes
    bit-interleaved, so rows close in (a, b) space land in the same file
    and row group; a 2-D box predicate then prunes on BOTH columns' min/max
    stats — where a single-column sort (``write_range_sorted``) only skips
    on its sort key. One bounded stats agg (4 driver scalars) + one range
    exchange on the Morton code; the sort is in-partition.
    """
    from pyspark.sql import functions as F  # local: keep module import light

    top = (1 << bits) - 1
    row = df.agg(
        F.min(col_a).alias("amin"),
        F.max(col_a).alias("amax"),
        F.min(col_b).alias("bmin"),
        F.max(col_b).alias("bmax"),
    ).first()
    if row["amin"] is None or row["bmin"] is None:
        raise ValueError(
            f"z-order layout needs non-NULL ({col_a}, {col_b}) bounds — "
            "the input relation is empty or all-NULL on a key"
        )

    def scaled(col: str, lo, hi):
        span = float(hi - lo) or 1.0
        return F.least(
            F.lit(top),
            F.floor((F.col(col) - F.lit(float(lo))) / F.lit(span) * top).cast("long"),
        )

    z = _morton_interleave(
        scaled(col_a, row["amin"], row["amax"]),
        scaled(col_b, row["bmin"], row["bmax"]),
        bits,
    )
    (
        df.withColumn("_z", z)
        .repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(path)
    )


def merge_upsert(base: "DataFrame", updates: "DataFrame", key_cols: list[str]) -> "DataFrame":
    """MERGE / upsert semantics over lake tables: update rows whose key
    matches, insert rows that don't — the incremental replacement for the
    reference's daily full overwrite (``plugins/brewery_operators.py:196``,
    acknowledged as a limitation at ``README.md:178``).

    Expressed as a full-outer join + column-wise ``coalesce(update, base)``
    — exactly what a Delta/Iceberg MERGE compiles to under the hood, minus
    the transaction log. At 100 TB: partition the base by a pruning key and
    semi-join-prune the rewrite to touched partitions, so the join reads
    the update set + affected partitions, never the whole table. Column
    sets must match. Keys join NULL-SAFELY: a NULL key is one mergeable
    key value like any other (update-side presence is detected via an
    explicit marker column, never via the key's own nullness — detecting
    it by key would turn a NULL-key upsert into an all-NULL row).
    """
    from pyspark.sql import functions as F  # local: keep module import light

    value_cols = [c for c in base.columns if c not in key_cols]
    assert set(base.columns) == set(updates.columns), "schemas must match"
    # prefix the update side so self-derived updates (base and updates from
    # the same scan) never hit Spark's ambiguous-self-join analyzer error
    u = updates.select(
        [F.col(c).alias(f"_u_{c}") for c in updates.columns]
        + [F.lit(1).alias("_u__present")]
    )
    cond = None
    for k in key_cols:
        c = F.col(k).eqNullSafe(F.col(f"_u_{k}"))
        cond = c if cond is None else (cond & c)
    joined = base.join(u, cond, "full_outer")
    matched = F.col("_u__present").isNotNull()
    out_cols = [
        F.coalesce(F.col(f"_u_{k}"), F.col(k)).alias(k) for k in key_cols
    ] + [
        # matched rows take the update's value (even if NULL — the update
        # row wins wholesale, standard MERGE semantics); unmatched keep
        # base; inserts take the update (base side is all-null there)
        F.when(matched, F.col(f"_u_{c}")).otherwise(F.col(c)).alias(c)
        for c in value_cols
    ]
    return joined.select(*out_cols)


def diff_snapshots(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
    include_new_values: bool = False,
) -> DataFrame:
    """Change-data capture between two table snapshots (Delta CDF's
    insert/update/delete feed, computed from plain parquet): full-outer
    join on the key, classify each key as ``insert`` (new only),
    ``delete`` (old only) or ``update`` (present in both, any value
    column differing null-safely); unchanged rows are dropped. Feed it two
    :func:`read_versioned` snapshots to diff table versions.

    Scale profile: ONE key-partitioned shuffle join; the output is
    proportional to the churn, not the table. At 100 TB partition both
    snapshots by the same pruning key so the join runs partition-wise.
    Column sets must match.
    """
    from pyspark.sql import functions as F  # local: keep module import light

    assert set(old.columns) == set(new.columns), "schemas must match"
    value_cols = [c for c in old.columns if c not in key_cols]
    o = old.select([F.col(c).alias(f"_o_{c}") for c in old.columns])
    n = new.select([F.col(c).alias(f"_n_{c}") for c in new.columns])
    cond = None
    for k in key_cols:
        c = F.col(f"_o_{k}").eqNullSafe(F.col(f"_n_{k}"))
        cond = c if cond is None else (cond & c)
    joined = o.join(n, cond, "full_outer")
    in_old = F.col(f"_o_{key_cols[0]}").isNotNull()
    in_new = F.col(f"_n_{key_cols[0]}").isNotNull()
    changed = None
    for c in value_cols:
        d = ~F.col(f"_o_{c}").eqNullSafe(F.col(f"_n_{c}"))
        changed = d if changed is None else (changed | d)
    change_type = (
        F.when(~in_new, F.lit("delete"))
        .when(~in_old, F.lit("insert"))
        .when(changed if changed is not None else F.lit(False), F.lit("update"))
    )
    out_keys = [
        F.coalesce(F.col(f"_n_{k}"), F.col(f"_o_{k}")).alias(k) for k in key_cols
    ]
    out_cols = [*out_keys, change_type.alias("change_type")]
    if include_new_values:
        # carry the NEW value columns so the feed is applyable downstream
        # (NULL for deletes — apply_changes never reads them there)
        out_cols += [F.col(f"_n_{c}").alias(c) for c in value_cols]
    return (
        joined.select(*out_cols)
        .filter(F.col("change_type").isNotNull())
    )


def latest_snapshot_dir(base_dir: str) -> str:
    """Resolve the most recent snapshot subdirectory by mtime (reference
    S4: max-by-last_modified object listing,
    ``plugins/brewery_operators.py:202-225``). Driver-side listing is O(n
    objects): fine for snapshot dirs, wrong for millions of objects — a
    Delta/Iceberg transaction log replaces this at scale."""
    entries = [
        os.path.join(base_dir, d)
        for d in os.listdir(base_dir)
        if os.path.isdir(os.path.join(base_dir, d))
    ]
    if not entries:
        raise FileNotFoundError(f"no snapshot dirs under {base_dir}")
    return max(entries, key=os.path.getmtime)


def build_scd2(
    changelog: DataFrame,
    key_col: str,
    ts_col: str,
    tie_col: str,
    attr_cols: list[str],
) -> DataFrame:
    """Changelog → SCD2 (type-2 slowly-changing dimension) history.

    Each change row becomes a version valid over [its ts, next change's ts);
    the latest version per key is open-ended (valid_to NULL / is_current).
    The reference rebuilds its dimension by full daily overwrite
    (``plugins/brewery_operators.py:196``) and keeps no history; SCD2 is
    the lake-native replacement. One window shuffle on the key; incremental
    maintenance at 100 TB composes this over only the keys present in the
    day's changelog, then ``merge_upsert``s the affected key ranges.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F  # local: keep module import light

    w = Window.partitionBy(key_col).orderBy(F.col(ts_col).asc(), F.col(tie_col).asc())
    nxt = F.lead(F.col(ts_col)).over(w)
    return changelog.select(
        key_col,
        *attr_cols,
        F.col(ts_col).alias("valid_from"),
        nxt.alias("valid_to"),
        nxt.isNull().cast("int").alias("is_current"),
    )


# --------------------------------------------------------------------------
# Versioned tables — atomic swaps via a pointer file (minimal
# transaction-log layout; the Parquet/Delta north star without delta-spark)
# --------------------------------------------------------------------------
#
#   table_root/
#     _latest            one line: the current version dir name ("v00002")
#     v00001/ *.parquet  immutable snapshot
#     v00002/ *.parquet  immutable snapshot
#
# Writers stage a NEW version dir, then publish it by atomically replacing
# the pointer file (POSIX rename; one object PUT on S3-like stores). Old
# versions stay on disk until vacuumed, so an in-flight reader that already
# resolved its directory never observes a half-swapped table — the property
# an in-place rmtree+rename swap cannot give.

_POINTER = "_latest"


def latest_table_version(root: str) -> str | None:
    """Current published version name, or None for an empty table."""
    ptr = os.path.join(root, _POINTER)
    if not os.path.exists(ptr):
        return None
    with open(ptr) as fh:
        return fh.read().strip() or None


def _publish_version(root: str, version: str) -> None:
    tmp = os.path.join(root, f".{_POINTER}.tmp")
    with open(tmp, "w") as fh:
        fh.write(version)
    os.replace(tmp, os.path.join(root, _POINTER))  # atomic on POSIX


def write_versioned(
    df: DataFrame, root: str, partition_by: list[str] | None = None
) -> str:
    """Write ``df`` as the table's next immutable version and atomically
    publish it; returns the new version name. ``mode("error")`` on the
    version dir guarantees a concurrent writer can never clobber a
    published snapshot (last publisher wins the pointer race; both version
    dirs remain intact)."""
    os.makedirs(root, exist_ok=True)
    cur = latest_table_version(root)
    nxt = f"v{(int(cur[1:]) if cur else 0) + 1:05d}"
    out = os.path.join(root, nxt)
    if partition_by:
        _write_partitioned(df, out, partition_by, "error")
    else:
        df.write.mode("error").parquet(out)
    _publish_version(root, nxt)
    return nxt


def read_versioned(spark: SparkSession, root: str, version: str | None = None) -> DataFrame:
    """Read the published (or an explicitly pinned — time travel) version."""
    v = version or latest_table_version(root)
    if v is None:
        raise FileNotFoundError(f"no published version under {root}")
    return read_parquet(spark, os.path.join(root, v))


def compact_versioned(
    spark: SparkSession, root: str, target_rows_per_file: int = 1_000_000
) -> tuple[str, int]:
    """Atomic compaction: rewrite the current version into
    ceil(rows / target_rows_per_file) files as a NEW version, publish by
    pointer swap. Returns (new_version, file_count). Readers of the old
    version are undisturbed; run :func:`vacuum_versions` once they drain."""
    import math

    if target_rows_per_file < 1:
        raise ValueError(f"target_rows_per_file must be >= 1, got {target_rows_per_file}")
    df = read_versioned(spark, root)
    n_rows = df.count()
    n_parts = max(1, math.ceil(n_rows / target_rows_per_file))
    src_parts = df.rdd.getNumPartitions()
    sized = df.coalesce(n_parts) if n_parts < src_parts else df.repartition(n_parts)
    nxt = write_versioned(sized, root)
    out_dir = os.path.join(root, nxt)
    return nxt, len([f for f in os.listdir(out_dir) if f.endswith(".parquet")])


def vacuum_versions(root: str, keep: int = 2) -> list[str]:
    """Drop all but the ``keep`` newest version dirs (never the published
    one); returns the removed names. The retention window is the reader
    drain time — Delta's VACUUM with the same contract. ``keep`` < 1
    raises ``ValueError``: a vacuum never removes the published version."""
    import re
    import shutil

    if keep < 1:
        raise ValueError(f"keep must be >= 1, got {keep}")
    current = latest_table_version(root)
    versions = sorted(
        d for d in os.listdir(root)
        if re.fullmatch(r"v\d{5}", d) and os.path.isdir(os.path.join(root, d))
    )
    doomed = [v for v in versions[:-keep] if v != current]
    for v in doomed:
        shutil.rmtree(os.path.join(root, v))
    return doomed


def delete_keys_versioned(
    spark: SparkSession,
    root: str,
    key_col: str,
    keys_df: DataFrame,
) -> str:
    """Right-to-be-forgotten pass: publish a new table version with every
    row whose ``key_col`` appears in ``keys_df`` removed — the GDPR/CCPA
    erasure primitive a lakehouse needs (the reference's only delete story
    is the daily full overwrite).

    Implementation is a LEFT ANTI join (the deletion set broadcasts — it
    is always tiny relative to the table) followed by an atomic versioned
    publish: readers of the previous version are undisturbed, the swap is
    crash-safe, and the old version remains for audit until
    ``vacuum_versions`` retires it. At 100 TB, partition-prune first when
    deletions cluster (e.g. by user-partitioned layouts); the anti join
    itself never shuffles the table — only the broadcast probe."""
    from pyspark.sql import functions as F

    base = read_versioned(spark, root)
    remaining = base.join(
        F.broadcast(keys_df.select(F.col(key_col)).distinct()), key_col, "left_anti"
    )
    return write_versioned(remaining, root)


def apply_changes(
    base: DataFrame, changes: DataFrame, key_cols: list[str]
) -> DataFrame:
    """Apply a CDC feed (``diff_snapshots(..., include_new_values=True)``
    output: keys + change_type + new values) to a snapshot — the replica-
    maintenance half of the CDF story: ``apply_changes(v1, diff(v1, v2))``
    reconstructs v2 exactly (the oracle checks precisely that).

    Deletes drop via an anti join on the delete keys; inserts/updates
    MERGE via :func:`merge_upsert`. Shuffles are keyed on ``key_cols``
    throughout and sized by the churn, not the table — at 100 TB this is
    how a downstream replica follows an upstream table without full
    rescans.
    """
    from pyspark.sql import functions as F

    deletes = changes.filter(F.col("change_type") == "delete").select(
        *[F.col(k) for k in key_cols]
    )
    upserts = changes.filter(F.col("change_type") != "delete").drop("change_type")
    kept = base.join(deletes, key_cols, "left_anti")
    return merge_upsert(kept, upserts, key_cols)
