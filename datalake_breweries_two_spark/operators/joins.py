"""Join operators: equi / outer / semi / anti / multi-way star.

The reference has no joins in code (its Postgres serving layer implies
downstream joins; SURVEY.md §2.2) — these complete the relational surface.

Scale profile, per strategy:
  * ``broadcast`` — dim tables (region/nation/customer at dim scale) ship to
    every executor once; the 100 TB fact side never shuffles. Always the
    right call when one side fits in executor memory (session threshold
    64 MB; explicit ``F.broadcast`` hint used so plans don't silently
    degrade when stats are missing).
  * sort-merge — fact-fact joins shuffle both sides on the key; AQE converts
    to broadcast at runtime if a side turns out small, and splits skewed
    partitions. For repeated fact-fact joins on the same key, bucketing
    (``sources.lake.write_bucketed``) removes the shuffle entirely.
  * semi/anti — Catalyst rewrites to a semi-join that only ships the key
    column of the probe side's build table; prefer over ``IN (collect())``
    driver-side lists, always.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def join_inner(fact: DataFrame, dim: DataFrame, on, broadcast_dim: bool = True) -> DataFrame:
    right = F.broadcast(dim) if broadcast_dim else dim
    return fact.join(right, on, "inner")


def join_left(left: DataFrame, right: DataFrame, on, broadcast_right: bool = False) -> DataFrame:
    r = F.broadcast(right) if broadcast_right else right
    return left.join(r, on, "left")


def join_semi(probe: DataFrame, build: DataFrame, on) -> DataFrame:
    """EXISTS — rows of ``probe`` with a match; build side only ships keys."""
    return probe.join(build, on, "left_semi")


def join_anti(probe: DataFrame, build: DataFrame, on) -> DataFrame:
    """NOT EXISTS — rows of ``probe`` without a match."""
    return probe.join(build, on, "left_anti")


def star_join_revenue(
    region: DataFrame,
    nation: DataFrame,
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
) -> DataFrame:
    """Multi-way star join: revenue per region name.

    Plan shape at scale: lineitem (the 100 TB fact) joins orders
    (sort-merge / AQE), then the chained dim lookups customer→nation→region
    are ALL broadcast — the fact side is never re-shuffled after the first
    join. Revenue summed as decimal for order-independence, surfaced double.
    """
    dims = (
        customer.join(
            F.broadcast(nation), customer.c_nationkey == nation.n_nationkey, "inner"
        )
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey, "inner")
        .select("c_custkey", "r_name")
    )
    enriched = (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey, "inner")
        .join(F.broadcast(dims), orders.o_custkey == dims.c_custkey, "inner")
    )
    # Revenue in exact decimal arithmetic (cast BOTH factors before the
    # multiply): decimal sums are order-independent, so the result is
    # identical regardless of partitioning — double sums are not.
    revenue = F.sum(
        F.col("l_extendedprice").cast("decimal(18,4)")
        * (F.lit(1) - F.col("l_discount")).cast("decimal(18,4)")
    )
    return (
        enriched.groupBy(F.col("r_name").alias("region_name"))
        .agg(
            # round to the product's business precision: the exact 8dp
            # decimal sum can land on ADJACENT doubles across engines'
            # decimal→double casts (oracle rounds identically)
            F.round(revenue.cast("double"), 4).alias("revenue"),
            F.count(F.col("l_orderkey")).alias("n_lineitems"),
        )
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key_col: str,
    ts_col: str,
    right_cols: list[str],
    tie_col: str,
) -> DataFrame:
    """As-of join: for each left row, the latest right row with the same key
    and ``right.ts <= left.ts`` (ties on ts broken by highest ``tie_col``).

    Spark has no native as-of join; the naive range self-join explodes
    quadratically per key. This is the scalable union-trick form: tag both
    sides, union, and carry the most recent right-side row forward with
    ``last(..., ignorenulls=True)`` over a window ordered by
    (ts, tag, tie) — right rows sort before left rows at equal ts, so the
    inclusive <= semantics fall out of the ordering. Exactly ONE shuffle
    (the window exchange on ``key_col``), O(n log n) per key, no pair
    blowup — at 100 TB this is a single repartition of left+right combined.
    All matched right columns come from the SAME row (carried as a struct).

    Returns the left rows (original columns) plus ``asof_<c>`` for each
    requested right column (null when no prior right row exists).
    """
    lt = left.withColumn("_tag", F.lit(1))
    rt_cols = list(dict.fromkeys([key_col, ts_col, tie_col, *right_cols]))
    rt = right.select(*rt_cols).withColumn("_tag", F.lit(0))
    u = lt.unionByName(rt, allowMissingColumns=True)
    w = (
        Window.partitionBy(key_col)
        .orderBy(F.col(ts_col).asc(), F.col("_tag").asc(), F.col(tie_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = F.last(
        F.when(F.col("_tag") == 0, F.struct(*[F.col(c) for c in right_cols])),
        ignorenulls=True,
    ).over(w)
    out = u.withColumn("_asof", carried).filter(F.col("_tag") == 1)
    return out.select(
        *[F.col(c) for c in left.columns],
        *[F.col("_asof").getField(c).alias(f"asof_{c}") for c in right_cols],
    )


def asof_join_nearest(
    left: DataFrame,
    right: DataFrame,
    key_col: str,
    ts_col: str,
    right_cols: list[str],
    tie_col: str,
) -> DataFrame:
    """Nearest as-of join: for each left row, the right row with the same
    key minimizing ``|right.ts - left.ts|`` in EITHER direction — the
    sensor-alignment / closest-quote shape. Ties between an equally-near
    earlier and later row prefer the earlier (backward) one; equal-ts ties
    within a direction keep each direction's own convention (backward:
    highest ``tie_col``, forward: lowest — matching :func:`asof_join` and
    :func:`asof_join_forward` exactly, so nearest == the better of the
    two).

    One tag+union with BOTH carries over the SAME key exchange: the
    backward ``last(...)`` and forward ``first(...)`` windows share
    ``partitionBy(key)``, so Catalyst plans one Exchange and two sorts —
    still no pair expansion, still O(n log n) per key at any scale."""
    lt = left.withColumn("_tag", F.lit(1))
    rt_cols = list(dict.fromkeys([key_col, ts_col, tie_col, *right_cols]))
    rt = right.select(*rt_cols).withColumn("_tag", F.lit(0))
    u = lt.unionByName(rt, allowMissingColumns=True)
    payload = F.struct(
        F.col(ts_col).alias("_rts"), *[F.col(c) for c in right_cols]
    )
    w_b = (
        Window.partitionBy(key_col)
        .orderBy(F.col(ts_col).asc(), F.col("_tag").asc(), F.col(tie_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_f = (
        Window.partitionBy(key_col)
        .orderBy(F.col(ts_col).asc(), F.col("_tag").desc(), F.col(tie_col).asc())
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    back = F.last(
        F.when(F.col("_tag") == 0, payload), ignorenulls=True
    ).over(w_b)
    fwd = F.first(
        F.when(F.col("_tag") == 0, payload), ignorenulls=True
    ).over(w_f)
    tagged = (
        u.withColumn("_back", back)
        .withColumn("_fwd", fwd)
        .filter(F.col("_tag") == 1)
    )
    # unix_micros, not cast("long"): the cast truncates to SECONDS and
    # sub-second differences would tie/flip the nearest choice
    bdiff = F.unix_micros(F.col(ts_col)) - F.unix_micros(F.col("_back._rts"))
    fdiff = F.unix_micros(F.col("_fwd._rts")) - F.unix_micros(F.col(ts_col))
    chosen = (
        F.when(F.col("_back").isNull(), F.col("_fwd"))
        .when(F.col("_fwd").isNull(), F.col("_back"))
        .when(bdiff <= fdiff, F.col("_back"))  # tie → backward
        .otherwise(F.col("_fwd"))
    )
    out = tagged.withColumn("_near", chosen)
    return out.select(
        *[F.col(c) for c in left.columns],
        *[F.col("_near").getField(c).alias(f"asof_{c}") for c in right_cols],
    )


def range_join_bands(facts: DataFrame, bands: DataFrame, value_col: str) -> DataFrame:
    """Range (band) join: each fact row matched to the band whose
    ``[lo, hi)`` interval contains ``value_col``.

    The band table is tiny and static, so the right physical plan is a
    broadcast nested-loop join — the 100 TB fact side streams through
    executors once, no shuffle at all. (If the band table were large, the
    scale path is interval bucketing: assign each fact
    ``floor(value/width)`` and explode each band over the buckets it
    overlaps, turning the range predicate into an equi-join plus a residual
    filter.)
    """
    cond = (F.col(value_col) >= F.col("lo")) & (F.col(value_col) < F.col("hi"))
    return facts.join(F.broadcast(bands), cond, "inner")


def salted_join_agg(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    salt_buckets: int = 8,
    salt_src: Column | None = None,
) -> DataFrame:
    """Skew-mitigated equi-join: salt the fact side, replicate the build side.

    A hot key (one orderkey owning millions of lineitems) makes one shuffle
    partition the straggler of the whole stage. Salting splits each fact key
    into ``salt_buckets`` sub-keys via a deterministic hash of a
    high-cardinality column, and replicates each build row across all
    buckets (explode over a literal sequence — build side grows
    ``salt_buckets``×, fact side not at all). The join key becomes
    (key, salt), so the hot key's rows spread over ``salt_buckets``
    partitions. AQE's skew-join split handles moderate skew automatically;
    explicit salting is the deterministic fix when a single key exceeds what
    partition-splitting can balance (the build row for the hot key is still
    one row per partition here, vs one oversized partition there).

    Result is bit-identical to the unsalted join (the salt columns are
    dropped), so this IS oracle-checkable against the plain join.
    """
    salt = (
        salt_src if salt_src is not None else F.xxhash64(*[F.col(c) for c in fact.columns])
    )
    salted_fact = fact.withColumn("_salt", F.pmod(salt, F.lit(salt_buckets)).cast("int"))
    replicated_dim = dim.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1)).cast("array<int>"))
    )
    joined = salted_fact.join(
        replicated_dim,
        (F.col(fact_key) == F.col(dim_key)) & (salted_fact["_salt"] == replicated_dim["_salt"]),
        "inner",
    )
    return joined.drop("_salt")


def join_full(left: DataFrame, right: DataFrame, on) -> DataFrame:
    """FULL OUTER — unmatched rows of BOTH sides survive with NULLs.

    Scale: a full-outer join can never broadcast (both sides must be
    preserved in full), so it is always a shuffle on the join key; AQE skew
    handling still applies. If one side is dimension-sized, prefer
    left-outer + anti-union, which keeps the fact side broadcast-joinable.
    """
    return left.join(right, on, "full_outer")


def join_cross(left: DataFrame, right: DataFrame) -> DataFrame:
    """Cartesian product. Only sane when one side is tiny — broadcast it so
    the physical plan is BroadcastNestedLoopJoin (fact side never moves),
    never a shuffled CartesianProduct."""
    return left.crossJoin(F.broadcast(right))


def interval_self_join(
    events: DataFrame,
    key_col: str,
    ts_col: str,
    id_col: str,
    tolerance_s: int = 300,
) -> DataFrame:
    """Temporal proximity self-join: pairs of same-key events within
    ±tolerance of each other — WITHOUT the quadratic nested-loop a naive
    non-equi time join produces.

    Each event is bucketed to floor(epoch/tolerance); the left side joins
    the right side replicated into its own and both adjacent buckets
    (covers every |Δt| ≤ tolerance), then the exact predicate filters the
    candidates. The join is a plain equi-join on (key, bucket) — shuffle
    partitioned, AQE-skew-splittable — and candidate pairs per event are
    bounded by the events inside a 3-bucket window, not the whole key
    group. Epoch seconds carry microsecond fractions (timestamp→double)
    so the tolerance boundary is exact and engine-portable.
    """
    sec = F.col(ts_col).cast("double")
    bucket = F.floor(sec / tolerance_s).cast("long")
    a = events.select(
        F.col(key_col).alias("k"),
        F.col(id_col).alias("id_a"),
        sec.alias("sec_a"),
        bucket.alias("bucket"),
    )
    b = events.select(
        F.col(key_col).alias("k"),
        F.col(id_col).alias("id_b"),
        sec.alias("sec_b"),
        F.explode(
            F.array(bucket - 1, bucket, bucket + 1)
        ).alias("bucket"),
    )
    cand = a.join(b, ["k", "bucket"])
    return (
        cand.filter(
            (F.abs(F.col("sec_a") - F.col("sec_b")) <= F.lit(float(tolerance_s)))
            & (F.col("id_a") < F.col("id_b"))
        )
        .select(F.col("k").alias(key_col), "id_a", "id_b")
        .distinct()  # an edge pair can match in multiple replicated buckets
    )


def asof_join_forward(
    left: DataFrame,
    right: DataFrame,
    key_col: str,
    ts_col: str,
    right_cols: list[str],
    tie_col: str,
) -> DataFrame:
    """Forward as-of join: for each left row, the EARLIEST right row with
    the same key and ``right.ts >= left.ts`` (ties at equal ts broken by
    lowest ``tie_col``) — the time-to-next-event shape (conversion lag,
    next-maintenance lookup). Mirror of :func:`asof_join`: tag + union +
    ``first(..., ignorenulls=True)`` over [currentRow, unboundedFollowing]
    ordered by (ts asc, tag DESC, tie asc) — left rows (tag 1) sort BEFORE
    right rows (tag 0) at equal ts, so an equal-ts right row lands inside
    the forward frame and the inclusive >= falls out of the ordering.
    Same scale profile: exactly one key-partitioned shuffle, no pair
    expansion."""
    lt = left.withColumn("_tag", F.lit(1))
    rt_cols = list(dict.fromkeys([key_col, ts_col, tie_col, *right_cols]))
    rt = right.select(*rt_cols).withColumn("_tag", F.lit(0))
    u = lt.unionByName(rt, allowMissingColumns=True)
    w = (
        Window.partitionBy(key_col)
        .orderBy(F.col(ts_col).asc(), F.col("_tag").desc(), F.col(tie_col).asc())
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    carried = F.first(
        F.when(F.col("_tag") == 0, F.struct(*[F.col(c) for c in right_cols])),
        ignorenulls=True,
    ).over(w)
    out = u.withColumn("_next", carried).filter(F.col("_tag") == 1)
    return out.select(
        *[F.col(c) for c in left.columns],
        *[F.col(f"_next.{c}").alias(f"next_{c}") for c in right_cols],
    )
