"""Set operators & distinct (SURVEY.md §2.2).

Scale profile: ``distinct``/``intersect``/``except`` all shuffle on the full
row; keep the projection narrow FIRST (select the key columns before the set
op) so the shuffle moves keys, not whole rows. ``union`` is free (no
shuffle — just plan concatenation); ``unionByName`` is the safe variant when
lineages differ. ``approx_count_distinct`` (HyperLogLog++) replaces exact
distinct counting at 100 TB: fixed-size sketches merge map-side, error ~2%.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from datalake_breweries_two_spark.operators.sampling import md5_60

_KLL_PROBS = (0.5, 0.9, 0.99)  # the quantiles the KLL rollups extract


def distinct_rows(df: DataFrame, cols: list[str]) -> DataFrame:
    return df.select(*cols).distinct()


def union_all(a: DataFrame, b: DataFrame) -> DataFrame:
    """UNION ALL by column NAME (position-based union silently mismatches
    when lineages reorder columns)."""
    return a.unionByName(b)


def intersect_rows(a: DataFrame, b: DataFrame) -> DataFrame:
    return a.intersect(b)


def except_rows(a: DataFrame, b: DataFrame) -> DataFrame:
    """EXCEPT ALL (multiset difference) — matches SQL EXCEPT ALL semantics."""
    return a.exceptAll(b)


def count_distinct_exact(df: DataFrame, col: str, alias: str) -> DataFrame:
    return df.agg(F.countDistinct(F.col(col)).alias(alias))


def count_distinct_approx(df: DataFrame, col: str, alias: str) -> DataFrame:
    """HLL++ sketch count — the 100 TB path for cardinality estimation."""
    return df.agg(F.approx_count_distinct(F.col(col), 0.02).alias(alias))


def hll_partitioned_distinct(
    df: DataFrame,
    group_col: str,
    part_col,
    key_col: str,
) -> DataFrame:
    """Mergeable-sketch distinct counting: build one Datasketches HLL
    sketch per (group, partition) — e.g. per event-type per day — then
    union the binary sketches per group and surface the estimate.

    This is the 100 TB pattern exact ``count_distinct`` can't follow: the
    per-partition sketches are tiny (~KB) mergeable state, so daily
    partitions are sketched ONCE, persisted, and every later rollup is a
    union over sketch bytes — no re-scan of raw keys, no exact-distinct
    shuffle of the full key set. Incremental maintenance (a new day lands →
    union one more sketch) falls out for free, the same algebraic-merge
    shape as ``aggregates.merge_partial_aggs``.

    Returns (group, n_parts, distinct_est) with the estimate as a long.
    Estimate is engine-specific (rows-only correctness contract; accuracy
    vs exact distinct is unit-tested to ~2% at lgConfigK=12).
    """
    sketches = df.groupBy(F.col(group_col), part_col).agg(
        F.hll_sketch_agg(key_col, 12).alias("sketch")
    )
    return sketches.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_parts"),
        F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("distinct_est"),
    )


def kll_quantile_rollup(df: DataFrame, group_col: str, value_col: str) -> DataFrame:
    """Mergeable quantile sketches (Apache DataSketches KLL): one sketch
    per group built with partition-local updates + merges, quantiles
    extracted from the merged sketch.

    This is how percentiles work at 100 TB: the exact `percentile`
    aggregate buffers every value per group; a KLL sketch is KB-sized with
    a proven error bound, partials merge associatively (map-side combine,
    AND across days/partitions of a gold table — store the sketch column,
    merge on read with kll_sketch_merge). Estimates are
    sampling-randomized → engine-specific; accuracy vs the exact
    percentile is unit-tested, and the registry query surfaces the
    bounded rank contract instead (q_kll_quantiles). An all-NULL group
    yields a non-NULL EMPTY 8-byte sketch buffer that
    ``kll_sketch_get_quantile_double`` REFUSES (r12 hostile-sweep find:
    KLL_INVALID_INPUT_SKETCH_BUFFER on the nulls profile), so quantile
    extraction is count-guarded — zero values → NULL quantiles."""
    sk = df.groupBy(group_col).agg(
        F.kll_sketch_agg_double(F.col(value_col)).alias("sk"),
        F.count(F.col(value_col)).alias("_n"),
    )
    return sk.select(
        F.col(group_col),
        *[
            F.when(
                F.col("_n") > 0,
                F.kll_sketch_get_quantile_double("sk", F.lit(p)),
            ).alias(f"p{str(p).replace('0.', '')}")
            for p in _KLL_PROBS
        ],
    )


def kll_merge_on_read(
    spark,
    df: DataFrame,
    group_col: str,
    part_expr,
    value_col: str,
    gold_path: str,
) -> DataFrame:
    """Sketch-once / merge-forever, made PHYSICAL (r13 growth — the r12
    plan's own candidate): per-(group, partition) KLL sketches are built
    in ONE pass, persisted as a partitioned parquet gold table (the
    sketch is just a binary column), then the rollup READS BACK the
    stored sketch bytes and merges them per group with
    ``kll_merge_agg_double`` — raw values are never re-scanned.

    This is the 100 TB quantile story end-to-end: a new day lands → one
    day-local sketch pass appends one partition of KB-sized state; every
    later rollup (any group slice, any day range via partition pruning)
    is a merge over sketch bytes. The exact `percentile` alternative
    re-shuffles every raw value on every rollup.

    Determinism contract: quantile ESTIMATES are sampling-randomized
    (engine-specific), but the merged sketch's ``n`` is EXACT — it must
    equal the raw count of non-NULL values, which is the hash-checkable
    proof that the persisted partials covered every row exactly once.
    Empty cells (a partition whose values are all NULL) produce the
    empty 8-byte sketch buffer that the KLL merge/extract functions
    REFUSE (the r12 nulls-profile find), so merge-on-read filters on
    the stored ``n_values`` count — the gold table keeps the empty cells
    (they carry the count), the merge just skips their buffers.

    Returns (group, n_parts, sketch_n, p50/p90/p99...) — one row per
    group that had ≥1 value.
    """
    cells = df.groupBy(F.col(group_col), part_expr.alias("part_key")).agg(
        F.kll_sketch_agg_double(F.col(value_col)).alias("sk"),
        F.count(F.col(value_col)).alias("n_values"),
    )
    # STATIC overwrite: the engine-wide dynamic partition-overwrite
    # default (session.py) would keep partitions absent from this rebuild
    # — correct for incremental appends, but this query REBUILDS the gold
    # table from scratch, and a stale partition from a previous run (a
    # different scale factor in the same scratch root) would silently
    # merge into the rollup. Caught by the sf0.001→sf0.01 cross-run
    # mismatch on first contact.
    cells.write.mode("overwrite").option(
        "partitionOverwriteMode", "static"
    ).partitionBy("part_key").parquet(gold_path)
    gold = spark.read.parquet(gold_path)
    merged = gold.filter(F.col("n_values") > 0).groupBy(group_col).agg(
        F.kll_merge_agg_double("sk").alias("sk"),
        F.count(F.lit(1)).cast("long").alias("n_parts"),
    )
    return merged.select(
        F.col(group_col),
        F.col("n_parts"),
        F.kll_sketch_get_n_double("sk").cast("long").alias("sketch_n"),
        *[
            F.kll_sketch_get_quantile_double("sk", F.lit(p)).alias(
                f"p{str(p).replace('0.', '')}"
            )
            for p in _KLL_PROBS
        ],
    )


def theta_distinct_overlap(
    df: DataFrame, type_col: str, type_a: str, type_b: str, key_col: str
) -> DataFrame:
    """Distinct-set algebra on Theta sketches: |A|, |B|, |A∪B| estimated
    from three sketches, |A∩B| by inclusion-exclusion — the audience-
    overlap question ("users who did A and B") answered WITHOUT shuffling
    raw keys. At 100 TB the three sketches are KB-sized aggregates over
    one scan each (or stored per-segment and merged); the exact
    alternative is two distinct-shuffles plus a join. Rows-only contract
    (sketch estimates); tolerance vs exact is unit-tested."""
    est_a = F.theta_sketch_estimate(
        F.theta_sketch_agg(F.when(F.col(type_col) == type_a, F.col(key_col)))
    )
    est_b = F.theta_sketch_estimate(
        F.theta_sketch_agg(F.when(F.col(type_col) == type_b, F.col(key_col)))
    )
    est_union = F.theta_sketch_estimate(
        F.theta_sketch_agg(
            F.when(F.col(type_col).isin(type_a, type_b), F.col(key_col))
        )
    )
    return df.agg(
        est_a.cast("long").alias("n_a"),
        est_b.cast("long").alias("n_b"),
        est_union.cast("long").alias("n_union"),
        (est_a + est_b - est_union).cast("long").alias("n_intersect"),
    )


# ---------------------------------------------------------------------------
# Portable HyperLogLog (r8): the cross-engine-checkable twin of the
# Datasketches tier above.
# ---------------------------------------------------------------------------

# alpha_m * m^2 * 2^53 for m=256 registers, precomputed ONCE in Python and
# inlined as the same double literal into the Spark plan and the DuckDB
# oracle, so the single FP division consumes bit-identical inputs.
HLL_P = 8
HLL_M = 1 << HLL_P
_HLL_ALPHA = 0.7213 / (1.0 + 1.079 / HLL_M)
HLL_NUMERATOR = _HLL_ALPHA * HLL_M * HLL_M * float(1 << 53)


def _hll_register_exprs() -> tuple:
    """(bucket, rho) expressions over an md5-hex column ``h`` — pure string
    and integer arithmetic, reproducible on any engine with md5:

    * bucket = first 2 hex chars (8 bits, m=256 registers);
    * rho    = 1 + number of leading zero BITS of the next 13 hex chars
      (52 bits), derived from the hex text itself: 4 bits per leading
      '0' char plus a 4-way CASE on the first non-zero hex digit — no
      floating log2, no engine-specific bit_length.
    """
    bucket = F.conv(F.substring(F.col("h"), 1, 2), 16, 10).cast("int")
    sub = F.substring(F.col("h"), 3, 13)
    stripped = F.expr("TRIM(LEADING '0' FROM substring(h, 3, 13))")
    nz = (F.lit(13) - F.length(stripped)).cast("int")
    first = F.substring(stripped, 1, 1)
    within = (
        F.when(first == "1", 3)
        .when(first.isin("2", "3"), 2)
        .when(first.isin("4", "5", "6", "7"), 1)
        .otherwise(0)
    )
    rho = (
        F.when(F.length(stripped) == 0, F.lit(53))
        .otherwise(nz * 4 + within + 1)
        .cast("int")
    )
    return bucket, rho, sub


def _hll_estimate_expr():
    """The portable-HLL estimate over a (n_used, s_present) register
    summary — ONE definition shared by :func:`hll_union_portable` and
    :func:`hll_merge_on_read` (r14 review finding: the expression was
    duplicated, so an estimator change could silently diverge the two
    portable-HLL queries). Integer-exact harmonic denominator; the
    small-range linear-counting branch's ``ln`` rounds at 4dp per the
    established libm discipline. Value-identical to the inline form it
    replaced (same operations, same literals)."""
    m = HLL_M
    s_total = (
        F.col("s_present")
        + (F.lit(m) - F.col("n_used")).cast("long") * F.lit(1 << 53).cast("long")
    )
    raw = F.lit(HLL_NUMERATOR) / s_total.cast("double")
    v_zero = F.lit(m) - F.col("n_used")
    return F.when(
        (raw <= F.lit(2.5 * m)) & (v_zero > 0),
        F.round(F.lit(float(m)) * F.log(F.lit(float(m)) / v_zero.cast("double")), 4),
    ).otherwise(F.round(raw, 4))


def hll_union_portable(
    df: DataFrame,
    group_col: str,
    part_col,
    key_col: str,
) -> DataFrame:
    """Mergeable distinct-count rollup whose DECISIONS are cross-engine
    checkable: per-(group, partition) register vectors (max rho per
    bucket) merged per group by register-wise MAX — the same
    sketch-once / merge-forever shape as :func:`hll_partitioned_distinct`,
    but over a textbook md5-register HLL instead of opaque Datasketches
    bytes, so a SQL oracle recomputes every register AND the estimate.

    Arithmetic stays integer-exact end to end: the harmonic denominator
    is ``S = Σ 2^(53 - reg)`` with empty registers contributing ``2^53``
    (one bigint per group, max 2^61 — no FP accumulation), and the only
    floating-point steps are the final ``NUMERATOR / S`` division (both
    engines cast the same bigint and divide the same literal) and, on the
    small-range branch, one ``ln`` rounded at 4dp (the established
    libm-ulp discipline of zipf/PMI/bigram). Returns
    (group, n_used_buckets, hll_estimate, exact_distinct, abs_rel_err).

    100 TB shape: stage 1 shuffles one (group, part, bucket, rho) row per
    TOUCHED register — bounded by m=256 per partition, never by keys;
    stage 2 merges registers, n_parts-free; the exact count_distinct here
    is the sf-scale error probe a production rollup would drop.
    """
    keyed = (
        df.filter(F.col(key_col).isNotNull())
        .select(
            F.col(group_col).alias("g"),
            part_col,
            F.md5(F.col(key_col).cast("string")).alias("h"),
        )
    )
    bucket, rho, _ = _hll_register_exprs()
    part_name = keyed.columns[1]
    daily = keyed.select("g", part_name, bucket.alias("bucket"), rho.alias("rho")).groupBy(
        "g", part_name, "bucket"
    ).agg(F.max("rho").alias("reg"))
    merged = daily.groupBy("g", "bucket").agg(F.max("reg").alias("reg"))
    per_group = merged.groupBy("g").agg(
        F.count(F.lit(1)).cast("int").alias("n_used"),
        F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), 53 - reg)")).alias("s_present"),
    )
    exact = (
        df.filter(F.col(key_col).isNotNull())
        .groupBy(F.col(group_col).alias("g2"))
        .agg(F.count_distinct(F.col(key_col)).cast("long").alias("exact_distinct"))
    )
    est = _hll_estimate_expr()
    return (
        # eqNullSafe: a NULL group key is a real group on both sides
        per_group.join(exact, per_group["g"].eqNullSafe(exact["g2"]))
        .select(
            F.col("g").alias(group_col),
            F.col("n_used"),
            est.alias("hll_estimate"),
            F.col("exact_distinct"),
            F.round(
                F.abs(est - F.col("exact_distinct").cast("double"))
                / F.col("exact_distinct").cast("double"),
                4,
            ).alias("abs_rel_err"),
        )
    )


# K-minimum-values (KMV) distinct-set algebra (r8): the cross-engine-
# checkable twin of theta_distinct_overlap. (k-1)·2^60 as one exact
# double literal shared with the oracle (255 × a power of two — 8
# significant bits, exactly representable). k=256: relative error
# ~1/sqrt(k-2) ≈ 6.3%σ (k=64's 12.7%σ read a +30% deterministic draw
# on the sf fixtures); sketches stay KB-sized.
KMV_K = 256
KMV_NUMERATOR = float((KMV_K - 1) * (1 << 60))


def kmv_set_overlap(
    df: DataFrame,
    type_col: str,
    type_a: str,
    type_b: str,
    key_col: str = "user_id",
) -> DataFrame:
    """Audience overlap (|A|, |B|, |A∪B|, inclusion-exclusion |A∩B|) from
    K-minimum-values sketches over the portable md5 60-bit hash — every
    sketch ELEMENT (the k = ``KMV_K`` smallest distinct hash values per
    set), the
    union sketch (min-k of the two sketches' union — identical to
    sketching A∪B directly, which is what the oracle does), and the
    single-division estimates ((k−1)·2^60 / kth-min when full, exact
    member count when the set is smaller than k) are engine-recomputable.

    100 TB shape: one (tag, hash) distinct shuffle, then per-set min-k
    via ``orderBy().limit(k)`` → TakeOrderedAndProject (k-row heaps per
    task, no global sort); sketch merges touch ≤2k rows. The exact
    count_distinct triple is the sf-scale error probe a production
    rollup would drop — estimates never depend on it.
    """
    base = df.filter(
        F.col(key_col).isNotNull() & F.col(type_col).isin(type_a, type_b)
    ).select(
        F.col(type_col).alias("_t"),
        md5_60(F.col(key_col).cast("string")).alias("h"),
    )
    dh = base.distinct()

    def _kmv(rel: DataFrame) -> DataFrame:
        return rel.orderBy(F.col("h").asc()).limit(KMV_K)

    kmv_a = _kmv(dh.filter(F.col("_t") == type_a).select("h"))
    kmv_b = _kmv(dh.filter(F.col("_t") == type_b).select("h"))
    kmv_u = _kmv(kmv_a.union(kmv_b).distinct())

    def _est(kmv_df: DataFrame, name: str) -> DataFrame:
        return kmv_df.agg(
            F.when(F.count("h") < KMV_K, F.count("h").cast("double"))
            .otherwise(
                F.round(F.lit(KMV_NUMERATOR) / F.max("h").cast("double"), 4)
            )
            .alias(name)
        )

    exact = df.filter(F.col(key_col).isNotNull()).agg(
        F.count_distinct(
            F.when(F.col(type_col) == type_a, F.col(key_col))
        ).cast("long").alias("exact_a"),
        F.count_distinct(
            F.when(F.col(type_col) == type_b, F.col(key_col))
        ).cast("long").alias("exact_b"),
        F.count_distinct(
            F.when(F.col(type_col).isin(type_a, type_b), F.col(key_col))
        ).cast("long").alias("exact_union"),
    )
    one = (
        _est(kmv_a, "est_a")
        .crossJoin(F.broadcast(_est(kmv_b, "est_b")))
        .crossJoin(F.broadcast(_est(kmv_u, "est_union")))
        .crossJoin(F.broadcast(exact))
    )
    return one.select(
        "est_a",
        "est_b",
        "est_union",
        F.round(
            F.col("est_a") + F.col("est_b") - F.col("est_union"), 4
        ).alias("est_intersect"),
        "exact_a",
        "exact_b",
        "exact_union",
        (F.col("exact_a") + F.col("exact_b") - F.col("exact_union"))
        .cast("long")
        .alias("exact_intersect"),
    )


def hll_merge_on_read(
    spark,
    df: DataFrame,
    group_col: str,
    part_expr,
    key_col: str,
    gold_path: str,
) -> DataFrame:
    """Sketch-once / merge-forever for DISTINCT COUNTS, made PHYSICAL
    (r14 growth — the r13 plan's own candidate, completing the pair with
    :func:`kll_merge_on_read`): per-(group, partition) portable-HLL
    register vectors are built in ONE pass over the raw keys, persisted
    as a partition-keyed parquet gold table (registers as a sparse
    ``map<bucket, reg>`` column — the "sketch bytes"; plus the cell's
    exact non-NULL key-row count), then the rollup READS BACK the stored
    registers and merges them per group by register-wise MAX — raw keys
    are never re-scanned.

    This is the 100 TB distinct-count story end-to-end: a new day lands →
    one day-local register pass appends one partition of ≤ m=256-entry
    state; every later rollup (any group slice, any day range via
    partition pruning) is a max-merge over stored registers. The exact
    ``count_distinct`` alternative re-shuffles every raw key on every
    rollup.

    Unlike the Datasketches tier (:func:`hll_partitioned_distinct`,
    rows-only by nature), EVERY output here is cross-engine checkable:
    the md5-derived registers, the merged max, the integer-exact harmonic
    denominator, and the estimate reuse :func:`hll_union_portable`'s
    textbook construction, so a DuckDB oracle recomputes the whole
    lifecycle from the raw table. Two physical-coverage proofs ride
    along, both exact: ``n_rows_covered`` = Σ per-cell counts over the
    read-back gold table must equal the raw non-NULL key-row count
    (a lost/stale/duplicated gold partition breaks the sum — the same
    proof shape as kll_merge_on_read's ``sketch_n``), and ``n_parts`` =
    the number of persisted cells merged.

    Returns (group, n_parts, n_rows_covered, n_used, hll_estimate,
    exact_distinct, abs_rel_err) — ``exact_distinct`` is the sf-scale
    error probe a production rollup would drop.
    """
    keyed = df.filter(F.col(key_col).isNotNull()).select(
        F.col(group_col).alias("g"),
        part_expr.alias("part_key"),
        F.md5(F.col(key_col).cast("string")).alias("h"),
    )
    bucket, rho, _ = _hll_register_exprs()
    cells = (
        keyed.select("g", "part_key", bucket.alias("bucket"), rho.alias("rho"))
        .groupBy("g", "part_key", "bucket")
        .agg(F.max("rho").alias("reg"), F.count(F.lit(1)).alias("_n"))
        .groupBy("g", "part_key")
        .agg(
            F.map_from_entries(
                F.sort_array(F.collect_list(F.struct("bucket", "reg")))
            ).alias("registers"),
            F.sum("_n").alias("n_values"),
        )
    )
    # STATIC overwrite for the same reason as kll_merge_on_read: this
    # query REBUILDS the gold table; the session-wide dynamic default
    # would silently keep stale partitions from a previous run at a
    # different scale factor in the same scratch root.
    cells.write.mode("overwrite").option(
        "partitionOverwriteMode", "static"
    ).partitionBy("part_key").parquet(gold_path)
    gold = spark.read.parquet(gold_path)
    merged = (
        gold.select(
            "g",
            F.col("n_values"),
            F.explode(F.col("registers")).alias("bucket", "reg"),
        )
        .groupBy("g", "bucket")
        .agg(F.max("reg").alias("reg"))
        .groupBy("g")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_used"),
            F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), 53 - reg)")).alias(
                "s_present"
            ),
        )
    )
    coverage = gold.groupBy("g").agg(
        F.count(F.lit(1)).cast("long").alias("n_parts"),
        F.sum("n_values").cast("long").alias("n_rows_covered"),
    )
    exact = (
        df.filter(F.col(key_col).isNotNull())
        .groupBy(F.col(group_col).alias("g2"))
        .agg(F.count_distinct(F.col(key_col)).cast("long").alias("exact_distinct"))
    )
    est = _hll_estimate_expr()
    coverage = coverage.withColumnRenamed("g", "g3")
    return (
        # eqNullSafe twice: a NULL group key is a real group in all three
        # branches (the nulls hostile profile)
        merged.join(coverage, merged["g"].eqNullSafe(coverage["g3"]))
        .join(exact, merged["g"].eqNullSafe(exact["g2"]))
        .select(
            F.col("g").alias(group_col),
            F.col("n_parts"),
            F.col("n_rows_covered"),
            F.col("n_used"),
            est.alias("hll_estimate"),
            F.col("exact_distinct"),
            F.round(
                F.abs(est - F.col("exact_distinct").cast("double"))
                / F.col("exact_distinct").cast("double"),
                4,
            ).alias("abs_rel_err"),
        )
    )


def hll_streaming_merge_on_read(
    spark,
    stream: DataFrame,
    raw: DataFrame,
    group_col: str,
    part_expr,
    key_col: str,
    root: str,
) -> DataFrame:
    """The STREAMING producer for the merge-on-read distinct-count gold
    table (r15 growth — the r14 plan's own candidate, closing the loop
    between :func:`hll_merge_on_read` and the ``stream_upsert_versioned``
    publish pattern): micro-batches maintain per-(group, partition,
    bucket) portable-HLL register state as a streaming max/count
    aggregate, each trigger MERGEs the changed registers into the
    versioned register table at ``root``, and the final rollup reads the
    PUBLISHED store back and max-merges registers per group — raw keys
    are never re-scanned after their micro-batch.

    This is the 100 TB continuous-ingest story: events arrive forever;
    register state is bounded by |groups| × |partitions| × m=256 (never
    by raw cardinality — ten billion user_ids still fold into 256
    registers per cell); each trigger ships only the registers whose max
    changed; and any later distinct-count rollup is a max-merge over the
    published store. Update-mode emission + null-safe keyed MERGE makes
    the drained table equal a batch register build, so the whole
    lifecycle stays hash-checkable by the same DuckDB oracle as
    :func:`hll_merge_on_read` (the batch twin) — including the NULL
    partition cell (a NULL event time is a real register cell here;
    date-bucketing is plain ``date_trunc``, not a watermarked window).

    Store grain is (group, partition, bucket) scalar rows rather than the
    batch twin's map column: streaming state lives at the grain the
    aggregate updates, and MERGE replaces single registers instead of
    rewriting whole cell maps.

    Returns the same schema as :func:`hll_merge_on_read`:
    (group, n_parts, n_rows_covered, n_used, hll_estimate,
    exact_distinct, abs_rel_err) — ``exact_distinct`` recomputed from
    ``raw`` as the sf-scale error probe, ``n_rows_covered`` = Σ per-cell
    counts over the READ-BACK store == raw non-NULL key rows (the
    physical-coverage proof: a lost or stale published register partition
    breaks the sum).
    """
    from datalake_breweries_two_spark.sources import lake
    from datalake_breweries_two_spark.streaming.sinks import stream_upsert_versioned

    keyed = stream.filter(F.col(key_col).isNotNull()).select(
        F.col(group_col).alias("g"),
        part_expr.alias("part_key"),
        F.md5(F.col(key_col).cast("string")).alias("h"),
    )
    bucket, rho, _ = _hll_register_exprs()
    updates = (
        keyed.select("g", "part_key", bucket.alias("bucket"), rho.alias("rho"))
        .groupBy("g", "part_key", "bucket")
        .agg(F.max("rho").alias("reg"), F.count(F.lit(1)).alias("n_rows"))
    )
    stream_upsert_versioned(
        spark, updates, root, ["g", "part_key", "bucket"], "hll_register_upsert"
    )
    store = lake.read_versioned(spark, root)
    merged = (
        store.groupBy("g", "bucket")
        .agg(F.max("reg").alias("reg"))
        .groupBy("g")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_used"),
            F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), 53 - reg)")).alias(
                "s_present"
            ),
        )
    )
    coverage = (
        store.groupBy("g", "part_key")
        .agg(F.sum("n_rows").alias("n_values"))
        .groupBy("g")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_parts"),
            F.sum("n_values").cast("long").alias("n_rows_covered"),
        )
        .withColumnRenamed("g", "g3")
    )
    exact = (
        raw.filter(F.col(key_col).isNotNull())
        .groupBy(F.col(group_col).alias("g2"))
        .agg(F.count_distinct(F.col(key_col)).cast("long").alias("exact_distinct"))
    )
    est = _hll_estimate_expr()
    return (
        # eqNullSafe twice: a NULL group key is a real group in all three
        # branches (the nulls hostile profile), same as hll_merge_on_read
        merged.join(coverage, merged["g"].eqNullSafe(coverage["g3"]))
        .join(exact, merged["g"].eqNullSafe(exact["g2"]))
        .select(
            F.col("g").alias(group_col),
            F.col("n_parts"),
            F.col("n_rows_covered"),
            F.col("n_used"),
            est.alias("hll_estimate"),
            F.col("exact_distinct"),
            F.round(
                F.abs(est - F.col("exact_distinct").cast("double"))
                / F.col("exact_distinct").cast("double"),
                4,
            ).alias("abs_rel_err"),
        )
    )
