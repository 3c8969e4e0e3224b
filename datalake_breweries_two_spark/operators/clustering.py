"""Iterative clustering — Lloyd's k-means expressed Spark-first.

The reference engine has no ML surface at all (its analytics stop at the
gold aggregate, ``plugins/brewery_operators.py:300-330``); this module adds
the iterative-training shape a 100 TB corpus pipeline needs (quality-score
binning, price-tier segmentation, embedding coarse quantizers) in the same
architecture Spark MLlib's own KMeans uses: centroids live on the driver
(k scalars — bounded traffic), assignment is a shuffle-free codegen'd
projection against centroid literals, and the per-iteration update is ONE
k-group aggregate. Nothing per-row ever reaches the driver, so the operator
scales exactly like MLlib's: cost per iteration = one scan + one k-row
shuffle, independent of k-NN blowups or window exchanges.

Determinism (the oracle contract): centroid init is derived from the data's
exact [min, max] (evenly spaced mid-bins — no RNG), distances are exact
IEEE doubles computed with the same operation order in both engines, ties
assign to the lowest cluster id, and each centroid update is a decimal sum
divided by the count, rounded to 4dp — so every iteration is bit-identical
across Spark and DuckDB and the whole training loop can be verified by an
unrolled per-iteration CTE oracle (see ``ORACLE_SQL['q_kmeans_1d']``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def _argmin_cluster(x, cents: list[float]):
    """Lowest-index argmin over squared distances to centroid literals —
    a pure ``least`` + ``when`` chain, fully whole-stage-codegen'd."""
    dists = [(x - F.lit(c)) * (x - F.lit(c)) for c in cents]
    best = F.least(*dists) if len(dists) > 1 else dists[0]
    assign = F.lit(len(cents) - 1)
    for j in range(len(cents) - 2, -1, -1):
        assign = F.when(dists[j] == best, F.lit(j)).otherwise(assign)
    return assign.cast("long")


def kmeans_1d(
    points: DataFrame,
    value_col: str,
    k: int = 4,
    iters: int = 3,
) -> DataFrame:
    """Lloyd's k-means over one numeric column: ``iters`` rounds of
    (assign to nearest centroid → recompute centroid means), returning one
    row per cluster: (cluster_id, n_points, centroid).

    ``n_points`` is the final-round assignment count; ``centroid`` is the
    final-round updated mean (empty clusters keep their previous centroid
    and report 0 points). Driver traffic: 2 bound scalars + k scalars per
    iteration — the MLlib policy, same bounded-collect class as the IVF
    centroid seed (``similarity.py``). Shuffle profile per iteration: one
    partial/final agg to k rows; the assignment itself never shuffles.
    """
    if k < 1 or iters < 1:
        raise ValueError(f"k and iters must be >= 1; got k={k}, iters={iters}")
    x = F.col(value_col).cast("double")
    # NULL values have no cluster: excluded up front (they would form a
    # NULL-assignment group whose NULL mean crashes the iteration collect).
    # Materialize the projected point column ONCE before iterating (the
    # MLlib KMeans pattern: cache the training input, then iterate): every
    # Lloyd round plus the bounds job re-executes this subtree, so without
    # the checkpoint the loop re-reads and re-projects the SOURCE TABLE
    # iters+1 times — at 100 TB that is iters extra full scans for a single
    # double column. The checkpoint holds 8 bytes/row in executor block
    # storage. Nothing reuses it after this call, but its blocks are not
    # freed when the call returns: they persist until the checkpointed RDD
    # is garbage-collected on the driver. Measured 1.78 -> 1.43 s min-of-4
    # at sf0.1/local[32].
    pts = (
        points.select(x.alias("x"))
        .filter(F.col("x").isNotNull())
        .localCheckpoint(eager=True)
    )
    row = pts.agg(F.min("x").alias("lo"), F.max("x").alias("hi")).first()
    if row["lo"] is None or row["hi"] is None:
        raise ValueError(f"{value_col}: no non-NULL points to cluster")
    lo, hi = float(row["lo"]), float(row["hi"])
    # mid-bin init over the exact data range — deterministic, no RNG; the
    # oracle recomputes the identical IEEE expression lo + (j+0.5)*(hi-lo)/k
    cents = [lo + (j + 0.5) * (hi - lo) / k for j in range(k)]

    def stats_under(cents_now: list[float]) -> DataFrame:
        assigned = pts.select("x", _argmin_cluster(F.col("x"), cents_now).alias("c"))
        return assigned.groupBy("c").agg(
            F.count(F.lit(1)).alias("n"),
            (
                F.round(
                    F.sum(F.col("x").cast("decimal(18,4)")).cast("double")
                    / F.count(F.lit(1)),
                    4,
                )
                + F.lit(0.0)
            ).alias("mu"),
        )

    for _ in range(iters - 1):
        got = {int(r["c"]): float(r["mu"]) for r in stats_under(cents).collect()}
        cents = [got.get(j, cents[j]) for j in range(k)]

    spark = points.sparkSession
    spine = spark.createDataFrame(
        [(j, cents[j]) for j in range(k)], "cluster_id long, prev double"
    )
    final = stats_under(cents)
    return spine.join(
        final, spine["cluster_id"] == final["c"], "left"
    ).select(
        "cluster_id",
        F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_points"),
        F.coalesce(F.col("mu"), F.col("prev")).alias("centroid"),
    )
