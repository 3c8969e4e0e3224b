"""Graph analytics over derived similarity graphs: k-NN edge construction
and iterative PageRank.

Complements ``dedup.connected_components`` (the other iterative graph op):
where CC propagates min labels to convergence, PageRank runs a FIXED
number of power iterations so the result is deterministic and an exact
(unrolled) SQL oracle exists for it.

Scale notes: the k-NN builder is only ever run on a bounded id subset or
LSH candidates (same policy as ``similarity.cosine_pairs_exact`` — full
quadratic scoring never touches the whole corpus). PageRank's loop keeps
everything distributed: per iteration one join (edges ⋈ ranks, keyed on
the src node) + one aggregate (keyed on dst), scalar-only driver traffic,
and ``localCheckpoint`` every few iterations to truncate lineage —
identical discipline to ``connected_components``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from datalake_breweries_two_spark.operators.similarity import _cosine

_VEC_ID = "vec_id"
_EMBEDDING = "embedding"


def knn_edges(embeddings: DataFrame) -> DataFrame:
    """Directed k-NN graph over the ids below 200: for every node the
    top-3 neighbors by cosine (rounded to 4dp before ranking, ties
    broken by neighbor id — the rounding makes the edge set identical
    across engines, which the PageRank oracle depends on)."""
    sub = embeddings.filter(F.col(_VEC_ID) < 200).select(_VEC_ID, _EMBEDDING)
    a = sub.select(F.col(_VEC_ID).alias("src"), F.col(_EMBEDDING).alias("v_a"))
    b = sub.select(F.col(_VEC_ID).alias("dst"), F.col(_EMBEDDING).alias("v_b"))
    pairs = a.join(F.broadcast(b), F.col("src") != F.col("dst"))
    scored = pairs.select(
        "src", "dst", F.round(_cosine(F.col("v_a"), F.col("v_b")), 4).alias("cos")
    )
    w = Window.partitionBy("src").orderBy(F.desc("cos"), F.asc("dst"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("src", "dst")
    )


UNIT = 100_000_000  # fixed-point scale: 1.0 rank == 1e8 units


def pagerank(edges: DataFrame, num_iter: int = 10) -> DataFrame:
    """Fixed-iteration power-method PageRank: r' = (1-d)/N + d·Σ r_in/deg.

    Ranks are carried as FIXED-POINT int64 units (1e-8): integer sums are
    associative and order-independent, so the trajectory is bit-identical
    across engines and partitionings — double sums are not (summation-order
    ulp drift at one iteration cascades through the rest; observed at
    sf0.1 with per-iteration 8dp rounding of doubles). Each edge
    contributes floor(d·100 · rank / (100·deg)) units. ``N`` is a
    driver-side scalar count of the (bounded) node set — the same
    bounded-collect policy as the IVF centroid seed.

    Dangling nodes (no out-edges — possible on general edge lists, never
    on the k-NN graph where every node has out-degree k) do NOT leak rank
    mass: their damped mass is redistributed uniformly each iteration, the
    standard power-method correction. The per-iteration dangling sum stays
    distributed — a 1-row aggregate broadcast back via crossJoin, no
    driver-side action inside the loop; graphs with no dangling nodes
    (detected by one up-front anti-join probe) skip the correction
    entirely, so the common k-NN path pays nothing.
    """
    d_pct = 85  # the damping factor d = 0.85, in percent
    # materialize the edge relation ONCE: it is consumed in every iteration,
    # and without this the (possibly expensive) edge-construction plan —
    # e.g. the k-NN cosine scoring — re-executes per iteration (measured
    # 10x cost at sf0.1)
    edges = edges.localCheckpoint(eager=True)
    nodes = edges.select(F.col("src").alias("node")).union(
        edges.select(F.col("dst").alias("node"))
    ).distinct()
    n = nodes.count()
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    out_nodes = deg.select(F.col("src").alias("node"))
    has_dangling = (
        nodes.join(out_nodes, "node", "left_anti").limit(1).count() > 0
    )
    # out-degree is STATIC across iterations — attach it to the edge list
    # ONCE (r16, guide §2.4): the old loop re-joined deg to the
    # (edges ⋈ ranks) result every iteration, paying num_iter extra joins
    # for a value that never changes. One upfront join + checkpoint;
    # each iteration is then one join + one aggregate.
    edges = edges.join(deg, "src").localCheckpoint(eager=True)
    teleport = (100 - d_pct) * UNIT // (100 * n)
    ranks = nodes.withColumn("rank_e8", F.lit(UNIT // n).cast("long"))
    for i in range(num_iter):
        contribs = (
            edges.join(ranks, edges["src"] == ranks["node"])
            .select(
                F.col("dst").alias("node"),
                F.floor(
                    (F.lit(d_pct) * F.col("rank_e8")) / (F.lit(100.0) * F.col("deg"))
                ).alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("contrib"))
        )
        new_ranks = nodes.join(contribs, "node", "left")
        if has_dangling:
            dmass = (
                ranks.join(out_nodes, "node", "left_anti")
                .agg(F.coalesce(F.sum("rank_e8"), F.lit(0)).alias("_dmass"))
            )
            ranks = new_ranks.crossJoin(F.broadcast(dmass)).select(
                "node",
                (
                    F.lit(teleport)
                    + F.coalesce(F.col("contrib"), F.lit(0))
                    + F.floor(
                        (F.lit(d_pct) * F.col("_dmass")) / (F.lit(100.0) * F.lit(n))
                    )
                )
                .cast("long")
                .alias("rank_e8"),
            )
        else:
            ranks = new_ranks.select(
                "node",
                (F.lit(teleport) + F.coalesce(F.col("contrib"), F.lit(0)))
                .cast("long")
                .alias("rank_e8"),
            )
        # the dangling branch consumes `ranks` TWICE per iteration
        # (contribs + dmass): without per-iteration lineage truncation the
        # doubly-referenced subtree doubles the plan every iteration
        # (2^3 growth between checkpoints), so dangling
        # graphs checkpoint every step; the k-NN path keeps the cheaper
        # periodic cadence
        if i + 1 < num_iter and (
            has_dangling or (i + 1) % 3 == 0
        ):
            ranks = ranks.localCheckpoint(eager=True)
    return ranks.select(
        "node",
        "rank_e8",
        F.round(F.col("rank_e8") / F.lit(float(UNIT)), 8).alias("rank"),
    )
