"""Declared-query registry: every operator from SURVEY.md §2 as a
``(spark, sf_dir) -> DataFrame`` callable plus (where SQL-expressible) its
DuckDB oracle SQL. Each ``q_*`` function is declared once, by the
:func:`query` decorator that carries its facts (oracle, bench ref, plan
budgets, kind tags); ``QUERIES``, ``ORACLE_SQL``, ``bench.HEADLINE`` and
the plan tests' tables are views of ``REGISTRY``.

Hash-match hygiene applied throughout (SURVEY.md §5):
  * every computed column aliased identically in Spark and SQL;
  * double aggregates computed in exact decimal then surfaced as double
    (order-independent → partition-count-independent);
  * deterministic tie-breakers in every ORDER BY/LIMIT;
  * COUNT(col) vs COUNT(*) chosen deliberately (reference uses COUNT(col),
    ``plugins/brewery_operators.py:379``);
  * Spark int-typed results cast to long where the oracle's are BIGINT.
"""

from __future__ import annotations

import functools
import os
import shutil
from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datalake_breweries_two_spark import CHECKOUT_DIR
from datalake_breweries_two_spark.catalog import TABLES, load_table, register_views
from datalake_breweries_two_spark.operators import (
    aggregates,
    behavior,
    bloom,
    cleaning,
    clustering,
    dedup,
    graph,
    joins,
    multimodal,
    packing,
    quality,
    sampling,
    timeseries,
    semistructured,
    setops,
    similarity,
    text,
    windows,
)
from datalake_breweries_two_spark.operators.projection import null_or_empty
from datalake_breweries_two_spark.operators.setops import (
    HLL_M as _HLL_M,
    HLL_NUMERATOR as _HLL_NUM,
    KMV_K as _KMV_K,
    KMV_NUMERATOR as _KMV_NUM,
)
from datalake_breweries_two_spark.sources import http_api, lake
from datalake_breweries_two_spark.streaming import windows as stream_windows

QueryFn = Callable[[SparkSession, str], DataFrame]


class Query(NamedTuple):
    """Everything declared about one registered query."""

    fn: QueryFn
    # DuckDB SQL over views named after the lake tables; a query whose SQL
    # runs unchanged in both engines passes its own entry to ``_sql``
    oracle: str | None = None
    ref_s: float | None = None  # quiet-host bench seconds; set = headline query
    shuffle_budget: int | None = None  # max wide exchanges in the executed plan
    py4j_budget: int = 2400  # construction round-trips; ≥1.6x all measured ≤ 1469
    python_stage: bool = False  # declares an Arrow-batched Python stage
    no_plan: bool = False  # builds no batch plan to inspect
    always_3: bool = False  # the bench always times three runs


REGISTRY: dict[str, Query] = {}


def query(**facts) -> Callable[[QueryFn], QueryFn]:
    """Register the decorated ``q_*`` function with ``facts``, the fields of
    :class:`Query` after ``fn``."""

    def register(fn: QueryFn) -> QueryFn:
        record = Query(fn, **facts)
        if record.ref_s is not None and record.shuffle_budget is None:
            raise ValueError(f"headline query {fn.__name__} has no shuffle_budget")
        REGISTRY[fn.__name__] = record
        return fn

    return register


# PER-PROCESS scratch root: staged streams / written lakes land under a
# pid-unique dir. A fixed shared path let two concurrent engine processes
# (e.g. the parity suite and the hostile-lake sweep) overwrite each
# other's staged parquet mid-stream, so a streaming query read the OTHER
# process's lake. Same-process queries still share and overwrite their
# own stage dirs by design (each query re-stages).
_SCRATCH_ROOT = os.path.join(CHECKOUT_DIR, ".scratch")
_SCRATCH = os.path.join(_SCRATCH_ROOT, f"pid{os.getpid()}")


@functools.cache
def _sweep_stale_scratch() -> None:
    """Remove the scratch dirs of processes that are gone, once per process.
    Live processes' dirs are never touched; a dir another sweep removed
    first is skipped."""
    try:
        entries = os.listdir(_SCRATCH_ROOT)
    except FileNotFoundError:
        return
    for name in entries:
        if not (name.startswith("pid") and name[3:].isdigit()):
            continue
        try:
            os.kill(int(name[3:]), 0)
            continue  # owner still alive
        except ProcessLookupError:
            pass
        except PermissionError:
            continue  # alive, owned by someone else
        try:
            shutil.rmtree(os.path.join(_SCRATCH_ROOT, name))
        except FileNotFoundError:
            pass


def _scratch(name: str) -> str:
    """Path of ``name`` under this process's scratch dir. The first call
    sweeps dead processes' dirs, so importing the registry deletes nothing."""
    _sweep_stale_scratch()
    return os.path.join(_SCRATCH, name)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, name, sf_dir)


def _sql(spark: SparkSession, sf_dir: str, sql: str) -> DataFrame:
    """Run ``sql`` in Spark over the lake tables it names."""
    register_views(spark, sql, sf_dir)
    return spark.sql(sql)


# ==========================================================================
# Reference-surface parity (SURVEY.md §2.1)
# ==========================================================================

# S1 driver-side paginated ingest: the injected offline fetcher's payload
# is deterministic — pages 1..3 carry ids 3p..3p+2, page 4 is truncated to
# the single id 9 (the short page that terminates the reference's
# pagination loop) — so the whole ingested relation is reconstructible.
@query(oracle="""
    SELECT CAST(i AS VARCHAR) AS id,
           'brew ' || CAST(i AS VARCHAR) AS name,
           'micro' AS brewery_type
    FROM generate_series(0, 9) t(i)
""")
def q_ingest_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1: paginated-API ingest with an injected offline fetcher (the
    reference's loop-until-short-page semantics) → DataFrame.

    FULL ORACLE since r8: the page payload is a pure function of the row
    index (three full 3-row pages + a short 1-row page 4 → ids 0..9), so
    DuckDB reconstructs the exact ingested relation with generate_series
    — the same golden-VALUES discipline as q_python_datasource, which
    scans the executor-side variant of this source."""
    pages = [
        [{"id": str(i), "name": f"brew {i}", "brewery_type": "micro"} for i in range(p * 3, p * 3 + 3)]
        for p in range(4)
    ]
    pages[-1] = pages[-1][:1]  # short page terminates pagination

    def fake_fetch(url: str, page: int, per_page: int) -> list[dict]:
        return pages[page - 1]

    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("id", T.StringType()),
            T.StructField("name", T.StringType()),
            T.StructField("brewery_type", T.StringType()),
        ]
    )
    return http_api.fetch_paginated_driver(
        spark, "offline://breweries", schema, per_page=3, fetch=fake_fetch
    )


@query(oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation")
def q_scan_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2: JSON-lines scan with explicit schema (no inference pass). The
    nation table is round-tripped parquet→JSON→DataFrame."""
    json_dir = _scratch("json_nation")
    _t(spark, sf_dir, "nation").write.mode("overwrite").json(json_dir)
    return lake.read_json(spark, json_dir, TABLES["nation"]).select(
        "n_nationkey", "n_name", "n_regionkey"
    )


@query(oracle="SELECT r_regionkey, r_name FROM region")
def q_scan_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV scan with explicit schema (no inferSchema pass)."""
    csv_dir = _scratch("csv_region")
    _t(spark, sf_dir, "region").write.mode("overwrite").option("header", "true").csv(csv_dir)
    return (
        spark.read.schema(TABLES["region"]).option("header", "true").csv(csv_dir)
        .select("r_regionkey", "r_name")
    )


@query(oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation")
def q_scan_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC scan with explicit schema (columnar alternative to parquet;
    same pushdown/pruning machinery). Round-trips nation parquet→ORC."""
    orc_dir = _scratch("orc_nation")
    _t(spark, sf_dir, "nation").write.mode("overwrite").orc(orc_dir)
    return (
        spark.read.schema(TABLES["nation"]).orc(orc_dir)
        .select("n_nationkey", "n_name", "n_regionkey")
    )


@query(ref_s=0.15, shuffle_budget=0, oracle="""
        SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
        FROM lineitem WHERE l_returnflag = 'R'
    """)
def q_scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3: parquet scan with projection + predicate (both pushed to the
    scan — ReadSchema/PushedFilters visible in .explain)."""
    return (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
    )


# shuffle_budget: pure projection
@query(ref_s=0.14, shuffle_budget=0, oracle="""
        SELECT CAST(p_partkey AS VARCHAR) AS id,
               trim(p_name) AS item_name,
               lower(p_type) AS item_type,
               concat_ws(', ', p_name, p_brand, p_type) AS full_desc,
               CAST(CAST(p_size AS VARCHAR) AS DOUBLE) AS size_double
        FROM part
    """)
def q_silver_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1–P5 composite: the reference's silver curation shape
    (rename/trim/lower/concat_ws/string→double cast,
    ``plugins/brewery_operators.py:255-265``) on the part table."""
    p = _t(spark, sf_dir, "part")
    return p.select(
        F.col("p_partkey").cast("string").alias("id"),
        F.trim(F.col("p_name")).alias("item_name"),
        F.lower(F.col("p_type")).alias("item_type"),
        F.concat_ws(", ", F.col("p_name"), F.col("p_brand"), F.col("p_type")).alias(
            "full_desc"
        ),
        F.col("p_size").cast("string").cast("double").alias("size_double"),
    )


@query(oracle="SELECT c_custkey, trim(c_name) AS name_trimmed FROM customer")
def q_str_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "customer").select(
        "c_custkey", F.trim(F.col("c_name")).alias("name_trimmed")
    )


@query(oracle="SELECT p_partkey, lower(p_type) AS type_lower FROM part")
def q_str_lower(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "part").select(
        "p_partkey", F.lower(F.col("p_type")).alias("type_lower")
    )


@query(oracle="""
        SELECT p_partkey, concat_ws(', ', p_name, p_brand, p_type) AS joined FROM part
    """)
def q_str_concat_ws(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "part").select(
        "p_partkey",
        F.concat_ws(", ", F.col("p_name"), F.col("p_brand"), F.col("p_type")).alias(
            "joined"
        ),
    )


@query(oracle="""
        SELECT p_partkey, CAST(CAST(p_size AS VARCHAR) AS DOUBLE) AS size_double FROM part
    """)
def q_cast_double(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "part").select(
        "p_partkey", F.col("p_size").cast("string").cast("double").alias("size_double")
    )


@query(oracle="""
        SELECT doc_id, lang, source FROM documents
        WHERE text IS NULL OR text = '' OR lang IS NULL OR lang = ''
    """)
def q_filter_null_or_empty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1: the quality predicate as a standalone filter."""
    return (
        _t(spark, sf_dir, "documents")
        .filter(null_or_empty("text") | null_or_empty("lang"))
        .select("doc_id", "lang", "source")
    )


@query(oracle="""
        SELECT CAST(count(CASE WHEN c_acctbal < 0 THEN 1 END) > 0 AS INT) AS exists_flag
        FROM customer
    """)
def q_exists_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2 re-expressed deterministically: existence as a 1-row aggregate
    (the reference's imperative probe is ``limit(1).count() > 0``)."""
    return _t(spark, sf_dir, "customer").agg(
        (F.count(F.when(F.col("c_acctbal") < 0, 1)) > 0).cast("int").alias("exists_flag")
    )


@query(oracle="SELECT CAST(count(*) = 0 AS INT) AS is_empty FROM region")
def q_is_empty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L1 as a 1-row aggregate (imperative twin: DataFrame.isEmpty)."""
    return _t(spark, sf_dir, "region").agg(
        (F.count(F.lit(1)) == 0).cast("int").alias("is_empty")
    )


@query(oracle="""
        SELECT count(*) AS bounded_cnt FROM (SELECT * FROM lineitem LIMIT 100)
    """)
def q_limit_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2: bounded count — counts at most 100 rows via CollectLimit."""
    return (
        _t(spark, sf_dir, "lineitem")
        .limit(100)
        .agg(F.count(F.lit(1)).alias("bounded_cnt"))
    )


# shuffle_budget: one partial→final agg
@query(ref_s=0.22, shuffle_budget=1, oracle="""
        SELECT o_orderstatus,
               CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS order_month,
               count(o_orderkey) AS order_count
        FROM orders GROUP BY o_orderstatus, date_trunc('month', o_orderdate)
    """)
def q_gold_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 — FLAGSHIP: the reference's gold aggregate shape (group-by +
    COUNT(col)) on orders: count per (status, order month)."""
    return aggregates.orders_by_status_month(_t(spark, sf_dir, "orders"))


@query(ref_s=0.18, shuffle_budget=1, oracle="""
        SELECT count(*) AS total_rows,
               CAST(coalesce(sum(CASE WHEN text IS NULL OR text = '' THEN 1 ELSE 0 END), 0) AS BIGINT) AS viol_text,
               CAST(coalesce(sum(CASE WHEN lang IS NULL OR lang = '' THEN 1 ELSE 0 END), 0) AS BIGINT) AS viol_lang,
               CAST(coalesce(sum(CASE WHEN source IS NULL OR source = '' THEN 1 ELSE 0 END), 0) AS BIGINT) AS viol_source
        FROM documents
    """)
def q_quality_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1: full quality contract in ONE pass (vs the reference's
    job-per-column, ``plugins/data_quality_operator.py:69-70``)."""
    return quality.quality_summary(
        _t(spark, sf_dir, "documents"), ["text", "lang", "source"]
    )


# ==========================================================================
# Relational completion (SURVEY.md §2.2)
# ==========================================================================

# shuffle_budget: dim side broadcasts
@query(ref_s=0.23, shuffle_budget=0, oracle="""
        SELECT c_custkey, c_name, n_name AS nation_name
        FROM customer JOIN nation ON c_nationkey = n_nationkey
    """)
def q_join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return joins.join_inner(
        c, n, c.c_nationkey == n.n_nationkey, broadcast_dim=True
    ).select("c_custkey", "c_name", F.col("n_name").alias("nation_name"))


@query(oracle="""
        SELECT o_orderkey, o_totalprice, c_name
        FROM orders LEFT JOIN customer ON o_custkey = c_custkey
    """)
def q_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return joins.join_left(o, c, o.o_custkey == c.c_custkey, broadcast_right=True).select(
        "o_orderkey", "o_totalprice", "c_name"
    )


# shuffle_budget: broadcast semi
@query(shuffle_budget=0, oracle="""
        SELECT c_custkey, c_name FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """)
def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return joins.join_semi(c, o, c.c_custkey == o.o_custkey).select(
        "c_custkey", "c_name"
    )


# shuffle_budget: broadcast anti
@query(shuffle_budget=0, oracle="""
        SELECT c_custkey, c_name FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """)
def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return joins.join_anti(c, o, c.c_custkey == o.o_custkey).select(
        "c_custkey", "c_name"
    )


# shuffle_budget: all four dims broadcast; one fact agg
@query(ref_s=0.83, shuffle_budget=1, oracle="""
        SELECT r_name AS region_name,
               round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                        * CAST(1 - l_discount AS DECIMAL(18,4))) AS DOUBLE), 4) AS revenue,
               count(l_orderkey) AS n_lineitems
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        GROUP BY r_name
    """)
def q_star_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return joins.star_join_revenue(
        _t(spark, sf_dir, "region"),
        _t(spark, sf_dir, "nation"),
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "lineitem"),
    )


# shuffle_budget: TakeOrderedAndProject
@query(ref_s=0.15, shuffle_budget=0, oracle="""
        SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10
    """)
def q_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return windows.global_top_k(
        _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice"),
        "o_totalprice",
        "o_orderkey",
        10,
    )


# shuffle_budget: one group-keyed window
@query(shuffle_budget=1, oracle="""
        SELECT c_custkey, c_mktsegment, c_acctbal, CAST(rn AS INT) AS rn FROM (
            SELECT c_custkey, c_mktsegment, c_acctbal,
                   row_number() OVER (PARTITION BY c_mktsegment
                                      ORDER BY c_acctbal DESC, c_custkey ASC) AS rn
            FROM customer
        ) WHERE rn <= 3
    """)
def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    return windows.top_k_per_group(
        _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment", "c_acctbal"),
        "c_mktsegment",
        "c_acctbal",
        "c_custkey",
        3,
    )


@query(ref_s=0.13, shuffle_budget=1, oracle="""
        SELECT c_custkey, c_mktsegment, c_acctbal,
               CAST(row_number() OVER w AS INT) AS rn,
               CAST(rank()       OVER w AS INT) AS rnk,
               CAST(dense_rank() OVER w AS INT) AS drnk
        FROM customer
        WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey ASC)
    """)
def q_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    return windows.rank_in_group(
        _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment", "c_acctbal"),
        "c_mktsegment",
        "c_acctbal",
        "c_custkey",
    )


@query(ref_s=0.14, shuffle_budget=1, oracle="""
        SELECT o_custkey, o_orderkey,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) OVER (
                   PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS DOUBLE) AS running_sum
        FROM orders
    """)
def q_window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    return windows.running_sum(
        _t(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice"),
        "o_custkey",
        "o_orderdate",
        "o_orderkey",
        "o_totalprice",
    ).select("o_custkey", "o_orderkey", "running_sum")


@query(oracle="""
        SELECT user_id, event_id,
               lag(value) OVER w AS prev_value,
               value - lag(value) OVER w AS delta_value
        FROM events
        WINDOW w AS (PARTITION BY user_id
                     ORDER BY date_trunc('microseconds', ts) ASC, event_id ASC)
    """)
def q_window_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    return windows.lag_delta(
        _t(spark, sf_dir, "events").select("user_id", "event_id", "ts", "value"),
        "user_id",
        "ts",
        "event_id",
        "value",
    ).select("user_id", "event_id", "prev_value", "delta_value")


# shuffle_budget: Expand + one agg exchange
@query(ref_s=0.24, shuffle_budget=1, oracle="""
        SELECT o_orderstatus, o_orderpriority, count(o_orderkey) AS n_orders
        FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
    """)
def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return aggregates.rollup_counts(
        _t(spark, sf_dir, "orders"), ["o_orderstatus", "o_orderpriority"], "o_orderkey", "n_orders"
    )


@query(shuffle_budget=1, oracle="""
        SELECT l_returnflag, l_linestatus, count(l_orderkey) AS n_items
        FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
    """)
def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    return aggregates.cube_counts(
        _t(spark, sf_dir, "lineitem"), ["l_returnflag", "l_linestatus"], "l_orderkey", "n_items"
    )


# shuffle_budget: distinct-values pass + pivot agg
@query(shuffle_budget=2, oracle="""
        SELECT l_returnflag,
               count(CASE WHEN l_linestatus = 'F' THEN l_orderkey END) AS "F",
               count(CASE WHEN l_linestatus = 'O' THEN l_orderkey END) AS "O"
        FROM lineitem GROUP BY l_returnflag
    """)
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(F.count(F.col("l_orderkey")))
        .na.fill(0, ["F", "O"])  # empty cells: match CASE-count oracle's 0
    )


@query(shuffle_budget=1, oracle="SELECT DISTINCT c_mktsegment FROM customer")
def q_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return setops.distinct_rows(_t(spark, sf_dir, "customer"), ["c_mktsegment"])


@query(oracle="SELECT count(DISTINCT o_custkey) AS n_customers FROM orders")
def q_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return setops.count_distinct_exact(
        _t(spark, sf_dir, "orders"), "o_custkey", "n_customers"
    )


# sketch-accuracy contract: exact scalar + TRUE flag —
# a hash match proves the HLL++ estimate is inside tolerance
@query(oracle="""
        SELECT CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
               TRUE AS approx_ok
        FROM lineitem
    """)
def q_approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ surfaced as its BOUNDED ACCURACY CONTRACT (r12, rows-only →
    oracle upgrade, same pattern as q_kll_quantiles/q_theta_overlap): the
    raw estimate is engine-specific, so the query emits the EXACT distinct
    count plus a flag asserting |approx − exact| ≤ 0.15·exact + 2 (7.5x
    the operator's rsd=0.02 — deliberate slack for a deterministic check;
    HLL++ is hash-based and order-independent, so the flag cannot flake
    across partitionings). A hash match PROVES the estimate landed inside
    the documented tolerance; the estimate itself stays available via
    operators/setops.py:count_distinct_approx."""
    li = _t(spark, sf_dir, "lineitem")
    approx = setops.count_distinct_approx(li, "l_partkey", "_approx")
    exact = li.agg(
        F.count_distinct(F.col("l_partkey")).cast("long").alias("n_parts")
    )
    return exact.crossJoin(F.broadcast(approx)).select(
        "n_parts",
        (
            F.abs(F.col("_approx") - F.col("n_parts"))
            <= 0.15 * F.col("n_parts") + 2.0
        ).alias("approx_ok"),
    )


# shuffle_budget: unions are shuffle-free
@query(shuffle_budget=0, oracle="""
        SELECT c_nationkey AS nationkey FROM customer
        UNION ALL
        SELECT s_nationkey AS nationkey FROM supplier
    """)
def q_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return setops.union_all(c, s)


@query(oracle="""
        SELECT c_nationkey AS nationkey FROM customer
        INTERSECT
        SELECT s_nationkey AS nationkey FROM supplier
    """)
def q_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return setops.intersect_rows(c, s)


@query(oracle="""
        SELECT c_nationkey AS nationkey FROM customer
        EXCEPT ALL
        SELECT s_nationkey AS nationkey FROM supplier
    """)
def q_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return setops.except_rows(c, s)


@query(ref_s=0.23, shuffle_budget=1, oracle="""
        SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket,
               count(value) AS n,
               CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        FROM events GROUP BY date_trunc('day', ts)
    """)
def q_date_trunc_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return aggregates.date_trunc_agg(_t(spark, sf_dir, "events"), "ts", "day", "value")


@query(ref_s=0.21, shuffle_budget=1, oracle="""
        -- WHERE mirrors F.window(ts, ...): NULL event time has no window
        -- (the r14 nulls-profile NULL-ts row)
        SELECT date_trunc('hour', ts) AS window_start,
               count(value) AS n,
               CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        FROM events WHERE ts IS NOT NULL GROUP BY date_trunc('hour', ts)
    """)
def q_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the streaming tumbling window (same F.window expr)."""
    return aggregates.tumbling_window_agg(_t(spark, sf_dir, "events"), "ts", "1 hour", "value")


@query(ref_s=0.27, shuffle_budget=1, oracle="""
        WITH expanded AS (
            SELECT value,
                   to_timestamp(s) AS ws
            FROM events,
                 UNNEST(generate_series(
                     CAST(floor(epoch(ts) / 1800) AS BIGINT) * 1800 - 1800,
                     CAST(floor(epoch(ts) / 1800) AS BIGINT) * 1800,
                     1800)) AS t(s)
        )
        SELECT CAST(ws AS TIMESTAMP) AS window_start,
               count(value) AS n,
               CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        FROM expanded GROUP BY ws
    """)
def q_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (1h size, 30min slide): each event in 2 windows.
    Oracle expands the window starts with generate_series in DuckDB."""
    return aggregates.sliding_window_agg(
        _t(spark, sf_dir, "events"), "ts", "1 hour", "30 minutes", "value"
    )


@query(ref_s=0.15, shuffle_budget=1, oracle="""
        SELECT event_type,
               count(CAST(json_extract(props, '$.k') AS INT)) AS n_with_k,
               CAST(sum(CAST(json_extract(props, '$.k') AS INT)) AS BIGINT) AS sum_k
        FROM events GROUP BY event_type
    """)
def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    k = semistructured.json_get_int("props", "$.k")
    return e.groupBy("event_type").agg(
        F.count(k).alias("n_with_k"),
        F.sum(k).cast("long").alias("sum_k"),
    )


@query(ref_s=0.15, shuffle_budget=0, oracle="""
        SELECT vec_id,
               CAST(len(embedding) AS BIGINT) AS dim,
               round(sqrt(list_aggregate(
                   list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                   'sum')), 4) AS l2_norm,
               round(list_aggregate(
                   list_transform(embedding, x -> CAST(x AS DOUBLE)), 'sum')
                   / len(embedding), 4) + 0.0 AS mean_component
        FROM embeddings
    """)
def q_array_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    stats = semistructured.embedding_stats(_t(spark, sf_dir, "embeddings"))
    return stats.select(
        "vec_id", F.col("dim").cast("long").alias("dim"), "l2_norm", "mean_component"
    )


@query(oracle="""
        SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    """)
def q_explode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("token"))


@query(ref_s=0.26, shuffle_budget=1, oracle="""
        SELECT l_returnflag,
               round(stddev_samp(l_quantity), 4) AS sd_qty,
               round(var_samp(l_discount), 4) AS var_disc,
               round(corr(l_quantity, l_extendedprice), 4) + 0.0 AS corr_qty_price,
               round(covar_samp(l_quantity, l_extendedprice), 4) + 0.0 AS covar_qty_price
        FROM lineitem GROUP BY l_returnflag
    """)
def q_stats_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates per group: stddev/variance/corr/covar.
    Rounded to 4 decimals — the estimators are FP-order-sensitive, rounding
    makes the result partition-count-independent in practice. corr is
    assembled from division-free co-moments via try_divide (identical
    math) because Spark 4's corr THROWS ANSI DIVIDE_BY_ZERO on a
    zero-variance group where DuckDB returns NULL — see
    operators/aggregates.py corr_matrix."""
    li = _t(spark, sf_dir, "lineitem")
    qty, price = F.col("l_quantity"), F.col("l_extendedprice")
    corr_safe = F.try_divide(
        F.regr_sxy(price, qty), F.sqrt(F.regr_sxx(price, qty) * F.regr_syy(price, qty))
    )
    return li.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp(F.col("l_quantity")), 4).alias("sd_qty"),
        F.round(F.var_samp(F.col("l_discount")), 4).alias("var_disc"),
        # + 0.0: negative-zero normalization for the signed estimators
        # (see operators/aggregates.py corr_matrix)
        (F.round(corr_safe, 4) + F.lit(0.0)).alias("corr_qty_price"),
        (
            F.round(
                F.covar_samp(F.col("l_quantity"), F.col("l_extendedprice")), 4
            )
            + F.lit(0.0)
        ).alias("covar_qty_price"),
    )


@query(ref_s=0.14, shuffle_budget=1, oracle="""
        SELECT o_orderstatus,
               round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
               round(quantile_cont(o_totalprice, 0.9), 4) AS p90,
               round(quantile_cont(o_totalprice, 0.99), 4) AS p99
        FROM orders GROUP BY o_orderstatus
    """)
def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (Spark ``percentile`` ==
    DuckDB ``quantile_cont``). The approx twin (``approx_percentile``,
    t-digest — the 100 TB single-pass answer) is engine-specific and
    covered by unit tests, not the oracle."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.round(F.expr("percentile(o_totalprice, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(o_totalprice, 0.9)"), 4).alias("p90"),
        F.round(F.expr("percentile(o_totalprice, 0.99)"), 4).alias("p99"),
    )


@query(shuffle_budget=1, oracle="""
        SELECT o_orderpriority,
               arg_max(o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) * 100000000 + o_orderkey) AS top_orderkey,
               arg_min(o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) * 100000000 - o_orderkey) AS bottom_orderkey
        FROM orders GROUP BY o_orderpriority
    """)
def q_minmax_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Argmin/argmax aggregates: the order row holding each group's extreme
    price (max_by/min_by — one pass, no window + filter needed)."""
    o = _t(spark, sf_dir, "orders")
    # deterministic tie-breaks via an EXACT int64 composite key: totalprice
    # has 2 decimals, so price*100 is integral and price*100*1e8 + orderkey
    # fits int64 exactly (struct ordering in arg_max isn't portable SQL)
    key_max = "cast(round(o_totalprice * 100) as bigint) * 100000000 + o_orderkey"
    key_min = "cast(round(o_totalprice * 100) as bigint) * 100000000 - o_orderkey"
    return o.groupBy("o_orderpriority").agg(
        F.expr(f"max_by(o_orderkey, {key_max})").alias("top_orderkey"),
        F.expr(f"min_by(o_orderkey, {key_min})").alias("bottom_orderkey"),
    )


@query(oracle="""
        SELECT c_custkey,
               CASE WHEN c_acctbal < 0 THEN 'overdrawn'
                    WHEN c_acctbal < 1000 THEN 'low'
                    ELSE 'high' END AS balance_band,
               coalesce(nullif(c_mktsegment, 'MACHINERY'), 'OTHER') AS segment_or_other
        FROM customer
    """)
def q_conditional_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE WHEN / coalesce / nullif chains — constant-folded and
    codegen'd by Catalyst."""
    c = _t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.when(F.col("c_acctbal") < 0, "overdrawn")
        .when(F.col("c_acctbal") < 1000, "low")
        .otherwise("high")
        .alias("balance_band"),
        F.coalesce(F.nullif(F.col("c_mktsegment"), F.lit("MACHINERY")), F.lit("OTHER"))
        .alias("segment_or_other"),
    )


@query(oracle="""
        SELECT p_partkey,
               regexp_extract(p_name, '([a-z]+)$', 1) AS last_word,
               substring(p_brand, 1, 5) AS brand_prefix
        FROM part
    """)
def q_regex_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """regexp_extract + substring over part names (same regex dialect for
    this pattern class in Spark and DuckDB)."""
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.regexp_extract(F.col("p_name"), r"([a-z]+)$", 1).alias("last_word"),
        F.substring(F.col("p_brand"), 1, 5).alias("brand_prefix"),
    )


@query(shuffle_budget=1, oracle="""
        SELECT CAST(floor(o_totalprice / 50000) AS BIGINT) AS price_bucket,
               count(o_orderkey) AS n_orders
        FROM orders GROUP BY floor(o_totalprice / 50000)
    """)
def q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram binning via arithmetic (floor division) — one
    codegen'd projection + partial/final count agg; no shuffle of values."""
    o = _t(spark, sf_dir, "orders")
    bucket = F.floor(F.col("o_totalprice") / 50000).cast("long")
    return o.groupBy(bucket.alias("price_bucket")).agg(
        F.count(F.col("o_orderkey")).alias("n_orders")
    )


@query(ref_s=0.25, shuffle_budget=1, oracle="""
        SELECT l_returnflag, l_linestatus,
               CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
               round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                        * CAST(1 - l_discount AS DECIMAL(18,4))) AS DOUBLE), 4) AS sum_disc_price,
               count(l_orderkey) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
    """)
def q_sql_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL surface: TPC-H Q1 shape via spark.sql over a registered view.
    Decimal-exact sums surfaced as double (order-independent)."""
    return _sql(spark, sf_dir, ORACLE_SQL["q_sql_tpch_q1"])


@query(ref_s=0.2, shuffle_budget=1, oracle="""
        WITH l AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
             r AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase')
        SELECT l.event_id, l.user_id,
               (SELECT r.event_id FROM r
                WHERE r.user_id = l.user_id
                  AND date_trunc('microseconds', r.ts) <= date_trunc('microseconds', l.ts)
                ORDER BY date_trunc('microseconds', r.ts) DESC, r.event_id DESC
                LIMIT 1) AS asof_event_id,
               (SELECT r.value FROM r
                WHERE r.user_id = l.user_id
                  AND date_trunc('microseconds', r.ts) <= date_trunc('microseconds', l.ts)
                ORDER BY date_trunc('microseconds', r.ts) DESC, r.event_id DESC
                LIMIT 1) AS asof_value
        FROM l
    """)
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (union-trick, one shuffle): each click event matched to the
    user's latest purchase at-or-before it. No native Spark op — see
    ``operators.joins.asof_join`` for the scale analysis."""
    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    out = joins.asof_join(
        clicks,
        purchases.withColumnRenamed("event_id", "p_event_id"),
        key_col="user_id",
        ts_col="ts",
        right_cols=["p_event_id", "value"],
        tie_col="p_event_id",
    )
    return out.select(
        "event_id",
        "user_id",
        F.col("asof_p_event_id").alias("asof_event_id"),
        F.col("asof_value").alias("asof_value"),
    )


# shuffle_budget: one key exchange, two sorts
@query(ref_s=0.39, shuffle_budget=1, oracle="""
        WITH l AS (SELECT event_id, user_id, ts FROM events
                   WHERE event_type = 'click' AND ts IS NOT NULL),
             r AS (SELECT event_id, user_id, ts, value FROM events
                   WHERE event_type = 'purchase' AND ts IS NOT NULL)
        SELECT l.event_id, l.user_id,
               (SELECT r.event_id FROM r
                WHERE r.user_id = l.user_id
                ORDER BY abs(epoch_us(r.ts) - epoch_us(l.ts)) ASC,
                         (r.ts <= l.ts) DESC,
                         CASE WHEN r.ts <= l.ts THEN -r.event_id
                              ELSE r.event_id END ASC
                LIMIT 1) AS near_event_id,
               (SELECT r.value FROM r
                WHERE r.user_id = l.user_id
                ORDER BY abs(epoch_us(r.ts) - epoch_us(l.ts)) ASC,
                         (r.ts <= l.ts) DESC,
                         CASE WHEN r.ts <= l.ts THEN -r.event_id
                              ELSE r.event_id END ASC
                LIMIT 1) AS near_value
        FROM l
    """)
def q_asof_join_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest as-of join (either direction, one key exchange): each click
    matched to the user's purchase CLOSEST in time — backward preferred on
    exact distance ties. NULL timestamps are excluded on both sides (a
    row without a time has no distance; mirrors the oracle's NULL
    comparison semantics)."""
    ev = _t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    out = joins.asof_join_nearest(
        clicks,
        purchases.withColumnRenamed("event_id", "p_event_id"),
        key_col="user_id",
        ts_col="ts",
        right_cols=["p_event_id", "value"],
        tie_col="p_event_id",
    )
    return out.select(
        "event_id",
        "user_id",
        F.col("asof_p_event_id").alias("near_event_id"),
        F.col("asof_value").alias("near_value"),
    )


@query(ref_s=0.49, shuffle_budget=1, oracle="""
        SELECT band, count(o_orderkey) AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        FROM orders
        JOIN (VALUES ('low', 0.0, 100000.0),
                     ('mid', 100000.0, 250000.0),
                     ('high', 250000.0, 1e9)) b(band, lo, hi)
          ON o_totalprice >= lo AND o_totalprice < hi
        GROUP BY band
    """)
def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (band) join: orders bucketed into static price bands via a
    broadcast non-equi join (zero shuffles on the fact side)."""
    bands = spark.createDataFrame(
        [("low", 0.0, 100000.0), ("mid", 100000.0, 250000.0), ("high", 250000.0, 1e9)],
        "band string, lo double, hi double",
    )
    joined = joins.range_join_bands(
        _t(spark, sf_dir, "orders"), bands, value_col="o_totalprice"
    )
    return joined.groupBy("band").agg(
        F.count(F.col("o_orderkey")).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
        .cast("double")
        .alias("sum_price"),
    )


@query(ref_s=1.51, shuffle_budget=1, oracle="""
        SELECT o_orderpriority, count(l_orderkey) AS n_lineitems,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY o_orderpriority
    """)
def q_skew_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigated salted join (deterministic salt, build side replicated
    8x) — result identical to the plain join, so fully oracle-checked."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    joined = joins.salted_join_agg(
        li,
        orders,
        fact_key="l_orderkey",
        dim_key="o_orderkey",
        salt_buckets=8,
        salt_src=F.xxhash64(F.col("l_orderkey"), F.col("l_linenumber")),
    )
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.col("l_orderkey")).alias("n_lineitems"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,4)"))
        .cast("double")
        .alias("sum_price"),
    )


@query(ref_s=0.26, shuffle_budget=1, oracle="""
        SELECT o_orderstatus, o_orderpriority, count(o_orderkey) AS n_orders
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS beyond rollup/cube — arbitrary grouping combinations in
    one pass (Catalyst Expand: one scan, one shuffle for all sets)."""
    return _sql(spark, sf_dir, ORACLE_SQL["q_grouping_sets"])


@query(ref_s=0.64, shuffle_budget=1, oracle="""
        SELECT l_orderkey,
               round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                        * CAST(1 - l_discount AS DECIMAL(18,4))) AS DOUBLE), 4) AS revenue,
               CAST(o_orderdate AS TIMESTAMP) AS o_orderdate
        FROM customer JOIN orders ON c_custkey = o_custkey
                      JOIN lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
          AND l_shipdate  > TIMESTAMP '1998-06-01 00:00:00'
        GROUP BY l_orderkey, o_orderdate
        ORDER BY revenue DESC, l_orderkey ASC
        LIMIT 10
    """)
def q_sql_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape (shipping-priority revenue): broadcast customer filter
    into the orders⋈lineitem sort-merge; top-10 via TakeOrderedAndProject."""
    return _sql(
        spark,
        sf_dir,
        """
        SELECT l_orderkey,
               round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                        * CAST(1 - l_discount AS DECIMAL(18,4))) AS DOUBLE), 4) AS revenue,
               o_orderdate
        FROM customer JOIN orders ON c_custkey = o_custkey
                      JOIN lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < timestamp '1998-06-01 00:00:00'
          AND l_shipdate  > timestamp '1998-06-01 00:00:00'
        GROUP BY l_orderkey, o_orderdate
        ORDER BY revenue DESC, l_orderkey ASC
        LIMIT 10
        """
    )


@query(ref_s=0.78, shuffle_budget=1, oracle="""
        SELECT n_name,
               round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                        * CAST(1 - l_discount AS DECIMAL(18,4))) AS DOUBLE), 4) AS revenue
        FROM customer JOIN orders   ON c_custkey = o_custkey
                      JOIN lineitem ON l_orderkey = o_orderkey
                      JOIN supplier ON l_suppkey = s_suppkey
                                   AND c_nationkey = s_nationkey
                      JOIN nation   ON s_nationkey = n_nationkey
                      JOIN region   ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY n_name
    """)
def q_sql_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape (local-supplier revenue per nation): five-way join,
    dims broadcast, facts sort-merged; revenue in exact decimal."""
    return _sql(spark, sf_dir, ORACLE_SQL["q_sql_tpch_q5"])


# shuffle_budget: both sides key-partitioned (no broadcast in full outer)
@query(ref_s=0.33, shuffle_budget=2, oracle="""
        SELECT c_custkey, c_name, o_orderkey, o_totalprice
        FROM (SELECT * FROM customer WHERE c_custkey % 3 = 0) c
        FULL OUTER JOIN (SELECT o_orderkey, o_custkey, o_totalprice
                         FROM orders WHERE o_orderkey % 2 = 0) o
          ON c.c_custkey = o.o_custkey
    """)
def q_join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join; each side pre-filtered so both contribute unmatched
    rows (exercises null-extension on both sides)."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_custkey") % 3 == 0)
    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 2 == 0)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )
    return joins.join_full(c, o, c.c_custkey == o.o_custkey).select(
        "c_custkey", "c_name", "o_orderkey", "o_totalprice"
    )


@query(oracle="""
        SELECT n_name, r_name FROM nation CROSS JOIN region
    """)
def q_cross_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded Cartesian product (nation × region, 25×5) — plan is
    BroadcastNestedLoopJoin; the larger side never shuffles."""
    n = _t(spark, sf_dir, "nation").select("n_name")
    r = _t(spark, sf_dir, "region").select("r_name")
    return joins.join_cross(n, r)


@query(ref_s=0.16, shuffle_budget=1, oracle="""
        SELECT c_custkey,
               lead(c_acctbal) OVER w AS next_val,
               CAST(ntile(4) OVER w AS INT) AS quartile,
               round(percent_rank() OVER w, 6) AS pct_rank
        FROM customer
        WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal ASC, c_custkey ASC)
    """)
def q_window_lead_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    return windows.lead_ntile_pct(
        _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment", "c_acctbal"),
        "c_mktsegment",
        "c_acctbal",
        "c_custkey",
    ).select(
        "c_custkey", "next_val", F.col("quartile").cast("int").alias("quartile"), "pct_rank"
    )


@query(oracle="""
        SELECT c_custkey,
               first_value(c_custkey) OVER w AS first_key,
               last_value(c_custkey) OVER w AS last_key
        FROM customer
        WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal ASC, c_custkey ASC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """)
def q_window_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    return windows.first_last_in_group(
        _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment", "c_acctbal"),
        "c_mktsegment",
        "c_acctbal",
        "c_custkey",
    ).select("c_custkey", "first_key", "last_key")


@query(oracle="""
        SELECT c_custkey,
               count(*) OVER (PARTITION BY c_mktsegment
                              ORDER BY CAST(round(c_acctbal * 100) AS BIGINT)
                              RANGE BETWEEN 10000 PRECEDING AND 10000 FOLLOWING
                             ) AS n_neighbors
        FROM customer
    """)
def q_window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame over exact cents (±$100 of neighbors per segment) —
    monetary double converted to integral cents so frame bounds are exact
    in both engines."""
    c = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        F.round(F.col("c_acctbal") * 100).cast("long").alias("bal_cents"),
    )
    return windows.range_frame_count(c, "c_mktsegment", "bal_cents", 10000).select(
        "c_custkey", "n_neighbors"
    )


@query(ref_s=0.4, shuffle_budget=1, oracle="""
        SELECT o_orderpriority, count(o_orderkey) AS n_orders
        FROM orders
        WHERE EXISTS (SELECT 1 FROM lineitem
                      WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        GROUP BY o_orderpriority
    """)
def q_exists_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (adapted to available columns): correlated EXISTS,
    decorrelated by Catalyst into a left-semi join — never a per-row probe."""
    return _sql(spark, sf_dir, ORACLE_SQL["q_exists_subquery"])


@query(oracle="""
        SELECT c_custkey, c_name FROM customer
        WHERE c_nationkey IN (SELECT n_nationkey FROM nation WHERE n_regionkey = 0)
    """)
def q_in_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN (subquery) → left-semi join against the (tiny, broadcast) keyset —
    never a driver-side collect()ed literal list."""
    return _sql(spark, sf_dir, ORACLE_SQL["q_in_subquery"])


@query(oracle="""
        SELECT o_orderkey, o_totalprice FROM orders
        WHERE o_totalprice > 0.5 * (SELECT max(o_totalprice) FROM orders)
    """)
def q_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery: one aggregate job feeds a filter constant (max is
    exact in double — no FP-threshold ambiguity at the boundary)."""
    return _sql(spark, sf_dir, ORACLE_SQL["q_scalar_subquery"])


@query(ref_s=0.16, shuffle_budget=1, oracle="""
        SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                        * CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
               count(l_orderkey) AS n_items
        FROM lineitem
        WHERE l_shipdate >= timestamp '1996-01-01 00:00:00'
          AND l_shipdate <  timestamp '1997-01-01 00:00:00'
          AND l_discount BETWEEN 0.04 AND 0.06
          AND l_quantity < 24
    """)
def q_sql_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape (forecasting revenue change): pure scan-filter-agg;
    every predicate reaches the parquet scan as PushedFilters."""
    return _sql(spark, sf_dir, ORACLE_SQL["q_sql_tpch_q6"])


@query(ref_s=0.23, shuffle_budget=1, oracle="""
        SELECT round(CAST(sum(CASE WHEN p_type = 'ECONOMY'
                             THEN CAST(l_extendedprice AS DECIMAL(18,4))
                                  * CAST(1 - l_discount AS DECIMAL(18,4))
                             ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE), 4) AS promo_revenue,
               round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                        * CAST(1 - l_discount AS DECIMAL(18,4))) AS DOUBLE), 4) AS total_revenue
        FROM lineitem JOIN part ON l_partkey = p_partkey
    """)
def q_sql_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape (promo revenue share): fact⋈dim join + conditional
    aggregate; part broadcasts, lineitem never shuffles. The revenue
    doubles are rounded to 4dp in BOTH dialects: the exact 8dp decimal sum
    can land on ADJACENT doubles across engines' decimal→double casts,
    and the value hash sees different reprs."""
    return _sql(spark, sf_dir, ORACLE_SQL["q_sql_tpch_q14"])


@query(oracle="""
        SELECT o_custkey, count(o_orderkey) AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        FROM orders GROUP BY o_custkey HAVING count(o_orderkey) >= 12
    """)
def q_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY + HAVING — post-aggregate filter (runs after the final
    HashAggregate, before anything is materialized)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(
            F.count(F.col("o_orderkey")).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
            .cast("double")
            .alias("sum_price"),
        )
        .filter(F.col("n_orders") >= 12)
    )


@query(oracle="""
        SELECT p_partkey,
               upper(p_name) AS name_upper,
               replace(p_name, ' ', '_') AS name_snake,
               lpad(p_brand, 10, '0') AS brand_padded,
               reverse(p_name) AS name_rev,
               length(p_name) AS name_len,
               levenshtein(p_brand, 'Brand#1') AS edit_dist
        FROM part
    """)
def q_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-function family: upper/replace/lpad/reverse/length/
    levenshtein — all JVM-codegen'd, no Python in the plan."""
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper(F.col("p_name")).alias("name_upper"),
        F.expr("replace(p_name, ' ', '_')").alias("name_snake"),
        F.lpad(F.col("p_brand"), 10, "0").alias("brand_padded"),
        F.reverse(F.col("p_name")).alias("name_rev"),
        F.length(F.col("p_name")).cast("long").alias("name_len"),
        F.levenshtein(F.col("p_brand"), F.lit("Brand#1")).cast("long").alias("edit_dist"),
    )


@query(oracle="""
        SELECT o_orderkey,
               year(o_orderdate) AS o_year,
               month(o_orderdate) AS o_month,
               day(o_orderdate) AS o_day,
               CAST(o_orderdate + INTERVAL 30 DAY AS DATE) AS due_date,
               datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS days_since_t0,
               last_day(CAST(o_orderdate AS DATE)) AS month_end
        FROM orders
    """)
def q_datetime_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time-function family: calendar extraction, date arithmetic,
    day-diff, month-end — over the orders date column."""
    o = _t(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").cast("long").alias("o_year"),
        F.month("o_orderdate").cast("long").alias("o_month"),
        F.dayofmonth("o_orderdate").cast("long").alias("o_day"),
        F.date_add(d, 30).alias("due_date"),
        F.datediff(d, F.lit("1995-01-01").cast("date")).cast("long").alias("days_since_t0"),
        F.last_day(d).alias("month_end"),
    )


@query(oracle="""
        SELECT event_id,
               CAST(json_extract(props, '$.k') AS INT) AS k_val,
               CAST(json_extract_string(props, '$.tag') AS VARCHAR) AS tag_val
        FROM events
    """)
def q_from_json_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-on-read promotion: ``from_json`` parses the raw props JSON
    string into a typed struct once; absent fields surface as NULL (vs
    per-access ``get_json_object`` re-parsing, q_json_extract)."""
    e = _t(spark, sf_dir, "events")
    parsed = F.from_json(F.col("props"), "k INT, tag STRING")
    return e.select(
        "event_id",
        parsed.getField("k").alias("k_val"),
        parsed.getField("tag").alias("tag_val"),
    )


# shuffle_budget: (doc,term) agg + df agg + norm joins
@query(ref_s=0.98, shuffle_budget=5, oracle="""
        WITH tokens AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
        ), tf AS (
            SELECT doc_id, term, count(*) AS tf FROM tokens
            WHERE length(term) > 0 GROUP BY doc_id, term
        ), dfreq AS (
            SELECT term, count(*) AS df FROM tf GROUP BY term
        ), n AS (
            SELECT count(DISTINCT doc_id) AS n_docs FROM documents
        ), scored AS (
            SELECT tf.doc_id, tf.term,
                   round(tf.tf * ln(n.n_docs / dfreq.df), 4) AS tfidf
            FROM tf JOIN dfreq USING (term) CROSS JOIN n
        )
        SELECT doc_id, term, tfidf, CAST(rn AS INT) AS rn FROM (
            SELECT *, row_number() OVER (
                PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rn
            FROM scored
        ) WHERE rn <= 3
    """)
def q_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF top-3 terms per document (see ``text.tfidf_top_terms`` for
    the shuffle profile). Scores rounded before ranking → deterministic."""
    return text.tfidf_top_terms(
        _t(spark, sf_dir, "documents").select("doc_id", "text"), k=3
    ).select("doc_id", "term", "tfidf", F.col("rn").cast("int").alias("rn"))


@query(ref_s=0.23, shuffle_budget=1, oracle="""
        SELECT token, n FROM (
            SELECT token, count(*) AS n FROM (
                SELECT unnest(string_split(text, ' ')) AS token FROM documents
            ) WHERE length(token) > 0 GROUP BY token
        ) ORDER BY n DESC, token ASC LIMIT 20
    """)
def q_word_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-20 token frequencies via TakeOrderedAndProject."""
    return text.word_count_top(
        _t(spark, sf_dir, "documents").select("doc_id", "text"), k=20
    )


@query(oracle="""
        SELECT c_nationkey,
               string_agg(CAST(c_custkey AS VARCHAR), ',' ORDER BY c_custkey) AS custkeys_csv,
               count(*) AS n_customers
        FROM customer GROUP BY c_nationkey
    """)
def q_collect_list_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic list aggregation: ``collect_list`` ordering is
    partition-order-dependent, so the array is sorted before use — the
    canonical trick for reproducible array aggs at any parallelism. Bounded
    groups only (a group's list must fit in one task's memory)."""
    c = _t(spark, sf_dir, "customer")
    return c.groupBy("c_nationkey").agg(
        F.expr(
            "array_join(transform(array_sort(collect_list(c_custkey)),"
            " x -> cast(x AS string)), ',')"
        ).alias("custkeys_csv"),
        F.count(F.lit(1)).alias("n_customers"),
    )


@query(no_plan=True, oracle="""
    -- WHERE mirrors dropDuplicatesWithinWatermark: a row with NULL event
    -- time cannot be placed in the watermark horizon (r14 nulls row)
    SELECT event_id, user_id, event_type FROM events WHERE ts IS NOT NULL
""")
def q_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact-dedup of an at-least-once replay: 30% of events are
    re-delivered (exact duplicate rows), the union staged as time-ordered
    file slices, then ``dropDuplicatesWithinWatermark`` repairs the stream.
    FULL ORACLE: duplicates are byte-identical rows (same event time), so
    the time-ordered replay never late-drops an original and the drained
    sink must equal SELECT DISTINCT — i.e. the events table itself."""
    from datalake_breweries_two_spark.catalog import read_events

    raw = read_events(spark, os.path.join(sf_dir, "events.parquet"))
    duplicated = raw.union(raw.filter(F.col("event_id") % 3 == 0))
    dup_parquet = _scratch("events_dup_src")
    duplicated.write.mode("overwrite").parquet(dup_parquet)
    stage_dir = _scratch("events_dup_stream")
    stream_windows.stage_time_ordered_stream(spark, dup_parquet, stage_dir, n_slices=4)
    stream = stream_windows.read_events_stream(spark, stage_dir)
    deduped = stream_windows.dedup_stream(stream)
    out = stream_windows.run_stream_to_memory(
        spark, deduped, "q_streaming_dedup_sink", output_mode="append"
    )
    return out.select("event_id", "user_id", "event_type")


# shuffle_budget: slot agg + grid join + ffill window
@query(ref_s=0.28, shuffle_budget=3, oracle="""
        WITH obs AS (
            -- non-observations (NULL ts or NULL value) excluded up front,
            -- mirroring operators/timeseries.py resample_ffill
            SELECT * FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
        ),
        bounds AS (
            SELECT date_trunc('day', min(ts)) AS d0, date_trunc('day', max(ts)) AS d1
            FROM obs
        ),
        keys AS (SELECT DISTINCT user_id FROM obs),
        grid AS (
            SELECT k.user_id, b.d0 + i.i * INTERVAL 1 DAY AS slot
            FROM keys k
            CROSS JOIN bounds b
            CROSS JOIN (SELECT unnest(range(0, 3700)) AS i) i
            WHERE b.d0 + i.i * INTERVAL 1 DAY <= b.d1
        ),
        slotted AS (
            SELECT user_id, date_trunc('day', ts) AS slot,
                   arg_max(value,
                           CAST(floor(epoch(ts)) AS BIGINT) * 1000000000 + event_id
                   ) AS slot_value
            FROM obs GROUP BY user_id, date_trunc('day', ts)
        )
        SELECT g.user_id, g.slot,
               last_value(s.slot_value IGNORE NULLS) OVER (
                   PARTITION BY g.user_id ORDER BY g.slot ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS value_ffill
        FROM grid g LEFT JOIN slotted s
          ON g.user_id = s.user_id AND g.slot = s.slot
    """)
def q_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily resampling of each user's value stream with forward fill —
    the gap-filling shape every metrics lake needs (see
    ``operators.timeseries`` for the shuffle profile)."""
    from datalake_breweries_two_spark.operators import timeseries

    return timeseries.resample_ffill(
        _t(spark, sf_dir, "events").select("user_id", "event_id", "ts", "value"),
        "user_id",
        "ts",
        "value",
        "event_id",
    )


def _media_golden_rows(n: int) -> list[tuple[int, str, bytes]]:
    """Python-side golden recompute of the deterministic media stub
    (mirrors ``multimodal.synthetic_media`` + ``_decode_payload``).

    DuckDB's ``sha256`` accepts VARCHAR only, so blob digests (the
    feature stub) cannot be recomputed in-engine; the expected rows are
    reconstructed here — driver-side pure Python, independent of the
    executors' Arrow/mapInPandas path — and embedded as VALUES oracles."""
    import hashlib

    return [
        (
            i,
            ["image", "audio", "video"][i % 3],
            hashlib.sha256(str(i).encode()).digest() * 32,
        )
        for i in range(n)
    ]


def _media_features_oracle(n: int) -> str:
    import hashlib

    vals = []
    for i, mt, payload in _media_golden_rows(n):
        digest = hashlib.sha256(payload)
        fb = ",".join(str(b) for b in digest.digest()[:8])
        vals.append(
            f"({i}, '{mt}', {len(payload)}, '{digest.hexdigest()}', '{fb}')"
        )
    return (
        "SELECT CAST(media_id AS BIGINT) AS media_id, media_type, "
        "CAST(payload_bytes AS INT) AS payload_bytes, sha256, feature_bytes "
        "FROM (VALUES " + ", ".join(vals) + ") "
        "t(media_id, media_type, payload_bytes, sha256, feature_bytes)"
    )


def _media_frames_oracle(n: int, n_frames: int) -> str:
    import hashlib

    vals = []
    for i, mt, payload in _media_golden_rows(n):
        if mt != "video":
            continue
        for f in range(n_frames):
            digest = hashlib.sha256(payload + bytes([f])).digest()
            fb = ",".join(str(b) for b in digest[:8])
            vals.append(f"({i}, {f}, '{fb}')")
    return (
        "SELECT CAST(media_id AS BIGINT) AS media_id, "
        "CAST(frame_idx AS INT) AS frame_idx, feature_bytes "
        "FROM (VALUES " + ", ".join(vals) + ") "
        "t(media_id, frame_idx, feature_bytes)"
    )


# shuffle_budget: cardinality-changing mapInPandas — no exchange
@query(ref_s=0.45, shuffle_budget=0, python_stage=True,
       oracle=_media_frames_oracle(64, 4))
def q_media_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video → per-frame feature rows via cardinality-changing mapInPandas
    (decode stubbed, plumbing real). The ``feature array<float>`` is
    projected to a canonical scalar (comma-joined recovered digest bytes:
    ``round(x*255)`` inverts the stub's ``b/255.0`` exactly, float32
    roundtrip included) — array-typed outputs can't be canonicalized by
    the driver's pandas sort, and the byte CSV makes the query fully
    oracle-checkable against the Python-side golden recompute. The
    operator itself stays array-returning for library users."""
    media = multimodal.synthetic_media(spark, n=64)
    frames = multimodal.frame_sample(media, n_frames=4)
    return frames.select(
        "media_id",
        "frame_idx",
        F.array_join(
            F.transform(
                F.col("feature"),
                lambda x: F.round(x.cast("double") * 255).cast("int").cast("string"),
            ),
            ",",
        ).alias("feature_bytes"),
    )


@query(no_plan=True, oracle="""
    -- WHERE mirrors the stream-dim INNER join: a NULL user matches no
    -- dimension row, so it contributes to no tier
    SELECT CAST(user_id % 4 AS INT) AS tier, count(event_id) AS n
    FROM events WHERE user_id IS NOT NULL
    GROUP BY CAST(user_id % 4 AS INT)
""")
def q_streaming_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static broadcast join: each micro-batch enriches events with
    a static user→tier dimension, then counts per tier under a watermark.
    The static side re-resolves per trigger (picks up dim updates) and
    broadcasts — the stream never shuffles for the join. FULL ORACLE: the
    final per-tier snapshot equals the batch join+count recompute."""
    from datalake_breweries_two_spark.catalog import read_events

    stream = stream_windows.stage_events_stream(
        read_events(spark, os.path.join(sf_dir, "events.parquet")),
        _scratch("events_enrich_stream"),
    )
    tiers = (
        _t(spark, sf_dir, "events")
        .select("user_id")
        .distinct()
        .withColumn("tier", F.pmod(F.col("user_id"), F.lit(4)).cast("int"))
    )
    enriched = stream.join(F.broadcast(tiers), "user_id")
    agg = (
        enriched.withWatermark("ts", "3650 days")
        .groupBy("tier")
        .agg(F.count(F.col("event_id")).alias("n"))
    )
    out = stream_windows.run_stream_to_memory(
        spark, agg, "q_streaming_enrich_sink", output_mode="update", no_data_batches=False
    )
    # update-mode sink holds one row per trigger; final state = max n per tier
    return out.groupBy("tier").agg(F.max("n").alias("n"))


@query(no_plan=True, oracle="""
    SELECT v.user_id AS user_id, count(*) AS n_attributed
    FROM (SELECT user_id, ts, event_id FROM events WHERE event_type = 'view') v
    JOIN (SELECT user_id AS cu, ts AS cts FROM events WHERE event_type = 'click') c
      ON v.user_id = c.cu
     AND c.cts >= v.ts
     AND c.cts <= v.ts + INTERVAL 30 MINUTE
    GROUP BY v.user_id
""")
def q_streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (view→click attribution within 30 min):
    BOTH sides are watermarked streams over the same staged event files;
    the event-time range bound keeps join state O(lag window). Returns the
    per-user attribution counts. FULL ORACLE: the watermark is wider than
    the data span, so the drained join must equal the batch non-equi join
    — hash-checked against exactly that SQL."""
    from datalake_breweries_two_spark.catalog import read_events
    from datalake_breweries_two_spark.streaming import joins as stream_joins

    stream = stream_windows.stage_events_stream(
        read_events(spark, os.path.join(sf_dir, "events.parquet")),
        _scratch("events_ssjoin_stream"),
    )
    views = stream.filter(F.col("event_type") == "view")
    clicks = stream.filter(F.col("event_type") == "click")
    pairs = stream_joins.view_click_attribution(views, clicks, max_lag_minutes=30)
    out = stream_windows.run_stream_to_memory(
        spark, pairs, "q_streaming_ssjoin_sink", output_mode="append"
    )
    return out.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_attributed"))


@query(ref_s=0.85, shuffle_budget=1, oracle="""
        SELECT o_orderkey, o_totalprice, CAST(big.sum_qty AS DOUBLE) AS sum_qty
        FROM orders JOIN (
            SELECT l_orderkey, sum(CAST(l_quantity AS DECIMAL(18,4))) AS sum_qty
            FROM lineitem GROUP BY l_orderkey
            HAVING sum(CAST(l_quantity AS DECIMAL(18,4))) > 150
        ) big ON o_orderkey = big.l_orderkey
    """)
def q_sql_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape (large-volume orders): aggregate subquery in the
    join input, HAVING on an exact decimal sum."""
    return _sql(spark, sf_dir, ORACLE_SQL["q_sql_tpch_q18"])


@query(ref_s=0.61, shuffle_budget=1, oracle="""
        SELECT a.user_id, a.event_id AS id_a, b.event_id AS id_b
        FROM events a JOIN events b
          ON a.user_id = b.user_id
         AND a.event_id < b.event_id
         AND abs(epoch(a.ts) - epoch(b.ts)) <= 300.0
    """)
def q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same-user event pairs within ±5 minutes via the bucketed temporal
    join (equi-join on (user, time-bucket) + exact filter) — never a
    quadratic nested loop. Oracle is the naive non-equi join."""
    return joins.interval_self_join(
        _t(spark, sf_dir, "events").select("user_id", "event_id", "ts"),
        "user_id",
        "ts",
        "event_id",
        tolerance_s=300,
    )


@query(no_plan=True, oracle="""
    WITH expanded AS (
        SELECT event_id, event_type, value, to_timestamp(s) AS ws
        FROM events,
             UNNEST(generate_series(
                 CAST(floor(epoch(ts) / 1800) AS BIGINT) * 1800 - 1800,
                 CAST(floor(epoch(ts) / 1800) AS BIGINT) * 1800,
                 1800)) AS t(s)
    )
    SELECT CAST(ws AS TIMESTAMP) AS window_start, event_type,
           count(event_id) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
    FROM expanded GROUP BY ws, event_type
""")
def q_streaming_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming SLIDING (hopping) windows — each event lands in
    window/slide overlapping buckets; watermark bounds the multiplied
    state. FULL ORACLE: the watermark is wider than the data span (no
    late drops), so the final per-key snapshot of the update-mode sink
    must equal the batch generate_series expansion exactly."""
    from datalake_breweries_two_spark.catalog import read_events

    stream = stream_windows.stage_events_stream(
        read_events(spark, os.path.join(sf_dir, "events.parquet")),
        _scratch("events_sliding_stream"),
    )
    agg = stream_windows.windowed_event_counts(
        stream, "1 hour", "3650 days", slide="30 minutes"
    )
    out = stream_windows.run_stream_to_memory(
        spark, agg, "q_streaming_sliding_sink", output_mode="update", no_data_batches=False
    )
    return out.groupBy("window_start", "event_type").agg(
        F.max("n").alias("n"),
        F.expr("max_by(sum_value, n)").alias("sum_value"),
    )


@query(oracle="""
        SELECT vec_id,
               CAST(len(list_filter(embedding, x -> x > 0)) AS BIGINT) AS n_positive,
               CAST(len(list_filter(embedding, x -> x > 0.9)) > 0 AS INT) AS has_gt_09,
               CAST(len(list_filter(embedding, x -> NOT (x > -1.5))) = 0 AS INT) AS all_gt_neg15
        FROM embeddings
    """)
def q_array_higher_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions beyond transform/aggregate: filter,
    exists, forall over the embedding vectors — all JVM lambda expressions,
    no Python."""
    e = _t(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id",
        F.size(F.filter(F.col("embedding"), lambda x: x > 0)).cast("long").alias(
            "n_positive"
        ),
        F.exists(F.col("embedding"), lambda x: x > 0.9).cast("int").alias("has_gt_09"),
        F.forall(F.col("embedding"), lambda x: x > -1.5).cast("int").alias(
            "all_gt_neg15"
        ),
    )


@query(oracle="""
        SELECT o_orderstatus,
               bit_or(o_orderkey % 8) AS flags_or,
               bit_and(o_orderkey % 8) AS flags_and
        FROM orders GROUP BY o_orderstatus
    """)
def q_bitwise_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise OR/AND aggregates per group — flag-set accumulation (e.g.
    merging permission/feature bitmasks) in one partial+final agg pass."""
    o = _t(spark, sf_dir, "orders")
    flags = F.pmod(F.col("o_orderkey"), F.lit(8)).cast("long")
    return o.groupBy("o_orderstatus").agg(
        F.bit_or(flags).alias("flags_or"),
        F.bit_and(flags).alias("flags_and"),
    )


@query(oracle="""
        SELECT p_partkey, 'size' AS attribute, CAST(p_size AS DOUBLE) AS value
        FROM part
        UNION ALL
        SELECT p_partkey, 'retailprice' AS attribute, p_retailprice AS value
        FROM part
    """)
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (wide→long melt): per-part numeric attributes become
    (attribute, value) rows — a narrow Expand projection, no shuffle at
    all; the inverse of q_pivot."""
    p = _t(spark, sf_dir, "part").select(
        "p_partkey",
        F.col("p_size").cast("double").alias("size"),
        F.col("p_retailprice").alias("retailprice"),
    )
    return p.unpivot("p_partkey", ["size", "retailprice"], "attribute", "value")


@query(oracle="""
        SELECT o_orderstatus, o_orderpriority,
               count(o_orderkey) AS n_orders,
               CAST(grouping(o_orderstatus) AS INT) AS g_status,
               CAST(grouping(o_orderpriority) AS INT) AS g_priority
        FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """)
def q_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollup with GROUPING() flags: distinguishes a real NULL key from a
    subtotal row — the correctness subtlety naive rollup consumers miss."""
    o = _t(spark, sf_dir, "orders")
    return o.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count(F.col("o_orderkey")).alias("n_orders"),
        F.grouping("o_orderstatus").cast("int").alias("g_status"),
        F.grouping("o_orderpriority").cast("int").alias("g_priority"),
    )


@query(oracle="""
        SELECT lower(p_type) AS item_type, p_brand AS brand,
               count(p_partkey) AS n_items
        FROM part GROUP BY lower(p_type), p_brand
    """)
def q_medallion_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's flagship dataflow end-to-end: part staged as bronze
    JSON-lines → explicit-schema scan → curated silver (trim/lower
    projection, hive-partitioned) → single-pass quality gate → persisted
    gold aggregate → read back from the lake. One session, lake-path
    handoffs, gold computed once — everything the reference's five-task
    Airflow DAG does (SURVEY.md §3), as one Spark application. The oracle
    recomputes the same dataflow declaratively."""
    from datalake_breweries_two_spark.plans.medallion import (
        MedallionConfig,
        run_medallion,
    )

    base = _scratch("medallion_e2e")
    bronze_dir = os.path.join(base, "bronze")
    _t(spark, sf_dir, "part").write.mode("overwrite").json(bronze_dir)
    cfg = MedallionConfig(
        base_dir=base,
        bronze_schema=TABLES["part"],
        curate=lambda df: df.select(
            F.col("p_partkey").alias("id"),
            F.trim(F.col("p_name")).alias("item_name"),
            F.lower(F.col("p_type")).alias("item_type"),
            F.col("p_brand").alias("brand"),
        ),
        aggregate=lambda df: df.groupBy("item_type", "brand").agg(
            F.count(F.col("id")).alias("n_items")
        ),
        silver_partition_by=["item_type"],
        critical_columns=["item_name", "item_type"],
        min_rows=100,
    )
    res = run_medallion(spark, cfg, bronze_dir)
    return lake.read_parquet(spark, res.gold_path).select(
        "item_type", "brand", "n_items"
    )


@query(ref_s=0.73, shuffle_budget=1, oracle="""
        SELECT s_nationkey,
               count(s_suppkey) AS n_suppliers,
               CAST(sum(CAST(s_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS total_bal
        FROM supplier GROUP BY s_nationkey
    """)
def q_versioned_compact_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Versioned-table lifecycle end-to-end: supplier written as a
    deliberately fragmented version (16 small files) → atomic compaction
    publishes a new version via the pointer swap (the old snapshot stays
    readable until vacuum) → the latest version is read back and
    aggregated. The oracle recomputes the aggregate directly over the
    source table — compaction and the version swap must be value-invisible."""
    root = _scratch("versioned_supplier")
    src = _t(spark, sf_dir, "supplier")
    lake.write_versioned(src.repartition(16), root)
    lake.compact_versioned(spark, root, target_rows_per_file=1_000_000)
    lake.vacuum_versions(root, keep=1)
    return (
        lake.read_versioned(spark, root)
        .groupBy("s_nationkey")
        .agg(
            F.count(F.col("s_suppkey")).alias("n_suppliers"),
            F.sum(F.col("s_acctbal").cast("decimal(18,4)"))
            .cast("double")
            .alias("total_bal"),
        )
    )


@query(oracle="""
        SELECT c_custkey, c_name, c_acctbal, CAST(NULL AS VARCHAR) AS c_mktsegment
        FROM customer WHERE c_custkey % 2 = 0
        UNION ALL
        SELECT c_custkey, c_name, c_acctbal, c_mktsegment
        FROM customer WHERE c_custkey % 2 = 1
    """)
def q_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution union: two snapshots with different column ORDER and
    one missing column unioned by NAME (positional union would silently
    mis-align); the missing column nulls in. The lake-ingest shape when a
    field was added mid-stream."""
    old_snap = _t(spark, sf_dir, "customer").filter(
        F.col("c_custkey") % 2 == 0
    ).select("c_custkey", "c_name", "c_acctbal")
    new_snap = _t(spark, sf_dir, "customer").filter(
        F.col("c_custkey") % 2 == 1
    ).select("c_acctbal", "c_custkey", "c_name", "c_mktsegment")
    return old_snap.unionByName(new_snap, allowMissingColumns=True)


@query(oracle="""
        WITH o AS (
            SELECT o_orderkey,
                   CASE WHEN o_totalprice >= 300000.0
                        THEN CAST(floor(o_totalprice / 100000) AS BIGINT) END AS band
            FROM orders
        ), ref(band, label) AS (
            VALUES (3, 'high3'), (4, 'high4'), (NULL, 'small')
        )
        SELECT o_orderkey, label
        FROM o JOIN ref ON o.band IS NOT DISTINCT FROM ref.band
    """)
def q_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (<=>): NULL keys match each other instead of
    disappearing — the semantics audits need when joining on nullable
    attribute columns. Both sides derive a nullable band key."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.when(F.col("o_totalprice") >= 300000.0, F.floor(F.col("o_totalprice") / 100000).cast("long")).alias("band"),
    )
    ref = spark.createDataFrame(
        [(3, "high3"), (4, "high4"), (None, "small")],
        "band long, label string",
    )
    joined = o.join(F.broadcast(ref), o["band"].eqNullSafe(ref["band"]), "inner")
    return joined.select("o_orderkey", "label")


@query(oracle="""
        SELECT l_returnflag, count(*) AS n,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        FROM lineitem GROUP BY l_returnflag
    """)
def q_skew_agg_two_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant two-level aggregation (salted partials → final) —
    result provably identical to the direct group aggregate, which is what
    the oracle computes."""
    return aggregates.two_level_agg(
        _t(spark, sf_dir, "lineitem").select("l_returnflag", "l_extendedprice"),
        "l_returnflag",
        "l_extendedprice",
    )


@query(oracle="""
        WITH RECURSIVE sh AS (
            SELECT doc_id,
                   list_distinct(list_transform(
                       range(1, greatest(len(regexp_split_to_array(lower(trim(text)), '[ \\t\\n\\r\\f\\x0b]+')) - 2, 1) + 1),
                       i -> array_to_string(list_slice(
                                regexp_split_to_array(lower(trim(text)), '[ \\t\\n\\r\\f\\x0b]+'), i, i + 2), ' ')
                   )) AS shingles
            FROM documents
        ),
        sized AS (SELECT doc_id, shingles, len(shingles) AS set_size FROM sh),
        ex AS (SELECT doc_id, set_size, unnest(shingles) AS shingle FROM sized),
        inter AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   a.set_size AS sz_a, b.set_size AS sz_b,
                   count(*) AS n_inter
            FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id, a.set_size, b.set_size
        ),
        pairs AS (
            SELECT id_a, id_b FROM inter
            WHERE round(n_inter / (sz_a + sz_b - n_inter), 4) >= 0.2
        ),
        sym AS (
            SELECT id_a AS s, id_b AS d FROM pairs
            UNION ALL
            SELECT id_b AS s, id_a AS d FROM pairs
        ),
        reach AS (
            SELECT s, d FROM sym
            UNION
            SELECT r.s, y.d FROM reach r JOIN sym y ON r.d = y.s
        ),
        losers AS (
            SELECT s AS doc_id FROM reach GROUP BY s HAVING least(s, min(d)) <> s
        )
        SELECT doc_id, lang, source FROM documents
        WHERE doc_id NOT IN (SELECT doc_id FROM losers)
    """)
def q_dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The actual dedup OUTPUT: drop every near-dup cluster member except
    its canonical (min-id) doc — the corpus a training pipeline would keep.
    Anti-join against the non-canonical cluster members; doc bodies never
    shuffle (only ids move). Pair tier swappable as in q_dedup_clusters:
    exact corpus-wide for the SQL oracle at test scale, LSH-verified
    candidates at 100 TB."""
    pairs = dedup.ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), n=3, threshold=0.2
    )
    comps = dedup.connected_components(pairs, "id_a", "id_b")
    losers = comps.filter(F.col("id") != F.col("comp")).select(
        F.col("id").alias("doc_id")
    )
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    return docs.join(losers, "doc_id", "left_anti")


@query(ref_s=0.6, shuffle_budget=1, oracle="""
        SELECT c_custkey, c_name, n_name,
               round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                        * CAST(1 - l_discount AS DECIMAL(18,4))) AS DOUBLE), 4) AS revenue
        FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        JOIN nation   ON c_nationkey = n_nationkey
        WHERE l_returnflag = 'R'
          AND o_orderdate >= timestamp '1996-01-01 00:00:00'
          AND o_orderdate <  timestamp '1997-01-01 00:00:00'
        GROUP BY c_custkey, c_name, n_name
        ORDER BY revenue DESC, c_custkey ASC
        LIMIT 20
    """)
def q_sql_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape (returned-item revenue, top 20 customers): fact⋈fact
    sort-merge + dim broadcasts + decimal revenue + deterministic top-k."""
    return _sql(spark, sf_dir, ORACLE_SQL["q_sql_tpch_q10"])


# shuffle_budget: cust agg + avg-balance scalar + final agg
@query(ref_s=0.35, shuffle_budget=3, oracle="""
        SELECT c_mktsegment,
               count(c_custkey) AS n_custs,
               CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS total_bal
        FROM customer
        WHERE c_acctbal > (SELECT avg(CAST(c_acctbal AS DECIMAL(18,4)))
                           FROM customer WHERE c_acctbal > 0.0)
          AND NOT EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey
                            AND o_totalprice > 350000.0)
        GROUP BY c_mktsegment
    """)
def q_sql_tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (global sales opportunity): scalar AVG subquery +
    NOT EXISTS anti join, bucketed by segment (the cntrycode analog)."""
    return _sql(spark, sf_dir, ORACLE_SQL["q_sql_tpch_q22"])


# shuffle_budget: the key-partitioned full-outer join
@query(shuffle_budget=2, oracle="""
        SELECT s_suppkey, 'delete' AS change_type
        FROM supplier WHERE s_suppkey % 7 = 0
        UNION ALL
        SELECT s_suppkey, 'update' AS change_type
        FROM supplier WHERE s_suppkey % 7 <> 0 AND s_suppkey % 5 = 0
        UNION ALL
        SELECT s_suppkey + 1000000, 'insert' AS change_type
        FROM supplier WHERE s_suppkey % 11 = 0
    """)
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC between two supplier snapshots (the change feed a downstream
    consumer would ingest): v2 deterministically deletes every 7th key,
    bumps acctbal on every remaining 5th, and inserts shifted copies of
    every 11th. diff_snapshots classifies each key; the oracle recomputes
    the same insert/update/delete sets declaratively."""
    v1 = _t(spark, sf_dir, "supplier")
    kept = v1.filter(F.col("s_suppkey") % 7 != 0)
    updated = kept.withColumn(
        "s_acctbal",
        F.when(
            F.col("s_suppkey") % 5 == 0, F.col("s_acctbal") + F.lit(100.0)
        ).otherwise(F.col("s_acctbal")),
    )
    inserted = v1.filter(F.col("s_suppkey") % 11 == 0).withColumn(
        "s_suppkey", F.col("s_suppkey") + F.lit(1_000_000)
    )
    v2 = updated.unionByName(inserted)
    return lake.diff_snapshots(v1, v2, ["s_suppkey"])


@query(oracle="""
        SELECT o_orderstatus,
               count(o_orderkey) AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_price
        FROM orders
        WHERE o_totalprice >= 100000.0 AND o_totalprice < 120000.0
        GROUP BY o_orderstatus
    """)
def q_range_sorted_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-skipping layout end-to-end: orders staged range-partitioned +
    in-file-sorted on o_totalprice, then a selective range predicate scans
    the layout — the disjoint per-file ranges and tight row-group min/max
    stats confine the read to ~1 of the files. Oracle = the same filter
    aggregate over the source table (the layout must be value-invisible)."""
    path = _scratch("orders_range_sorted")
    lake.write_range_sorted(
        _t(spark, sf_dir, "orders"), path, "o_totalprice", n_files=8
    )
    scanned = spark.read.parquet(path).filter(
        (F.col("o_totalprice") >= 100_000.0) & (F.col("o_totalprice") < 120_000.0)
    )
    return scanned.groupBy("o_orderstatus").agg(
        F.count(F.col("o_orderkey")).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
        .cast("double")
        .alias("total_price"),
    )


@query(ref_s=0.57, shuffle_budget=1, oracle="""
        SELECT n1.n_name AS supp_nation,
               n2.n_name AS cust_nation,
               CAST(year(l_shipdate) AS BIGINT) AS l_year,
               round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                        * CAST(1 - l_discount AS DECIMAL(18,4))) AS DOUBLE), 4) AS revenue
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
           OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
        GROUP BY n1.n_name, n2.n_name, year(l_shipdate)
    """)
def q_sql_tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape (volume shipping between a nation pair): the fact
    joins TWO independent dim chains (supplier→nation, orders→customer→
    nation) — every dim broadcasts, lineitem shuffles once for the
    orders join; the symmetric nation-pair filter is a pushed-down
    disjunction over broadcast columns."""
    return _sql(spark, sf_dir, ORACLE_SQL["q_sql_tpch_q7"])


@query(ref_s=0.26, shuffle_budget=1, oracle="""
        SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                        * CAST(1 - l_discount AS DECIMAL(18,4))) AS DOUBLE), 4) AS revenue
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
               AND l_quantity BETWEEN 1 AND 11)
           OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
               AND l_quantity BETWEEN 10 AND 20)
           OR (p_brand = 'Brand#3'  AND p_size BETWEEN 1 AND 15
               AND l_quantity BETWEEN 20 AND 30)
    """)
def q_sql_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape (discounted revenue, disjunctive predicates): an
    OR-of-ANDs across both join sides — Catalyst pushes the common
    `p_brand IN (...)` / quantity bounds below the join and evaluates the
    residual disjunction post-join; part broadcasts."""
    return _sql(spark, sf_dir, ORACLE_SQL["q_sql_tpch_q19"])


@query(ref_s=0.51, shuffle_budget=1, oracle="""
        SELECT o_year,
               round(CAST(sum(CASE WHEN nation = 'NATION_5' THEN volume ELSE CAST(0 AS DECIMAL(18,8)) END) AS DOUBLE)
                     / CAST(sum(volume) AS DOUBLE), 4) + 0.0 AS mkt_share
        FROM (
            SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
                   CAST(l_extendedprice AS DECIMAL(18,4))
                     * CAST(1 - l_discount AS DECIMAL(18,4)) AS volume,
                   n2.n_name AS nation
            FROM lineitem
            JOIN part     ON p_partkey = l_partkey
            JOIN supplier ON s_suppkey = l_suppkey
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation n1 ON c_nationkey = n1.n_nationkey
            JOIN region   ON n1.n_regionkey = r_regionkey
            JOIN nation n2 ON s_nationkey = n2.n_nationkey
            WHERE r_name = 'ASIA'
              AND o_orderdate BETWEEN DATE '1995-01-01' AND DATE '1996-12-31'
              AND p_type = 'PROMO'
        ) all_nations
        GROUP BY o_year
    """)
def q_sql_tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape (national market share): the deepest dim chain in the
    suite — lineitem joins part + supplier + orders→customer→nation→region,
    with a SECOND nation lookup on the supplier side. Every dim broadcasts;
    the region/part filters prune before the fact shuffle; the share is a
    conditional-sum ratio over exact decimal sums (cast to double and
    rounded only at the surface)."""
    return _sql(spark, sf_dir, ORACLE_SQL["q_sql_tpch_q8"])


# shuffle_budget: orders-per-cust agg + histogram agg
@query(ref_s=0.42, shuffle_budget=2, oracle="""
        SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
        FROM (
            SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
            FROM customer LEFT JOIN orders
              ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
            GROUP BY c_custkey
        ) c_orders
        GROUP BY c_count
    """)
def q_sql_tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape (customer order-count distribution): a LEFT join
    whose extra ON-clause predicate must stay in the join (not become a
    WHERE filter, which would turn it inner), then two stacked aggregations
    — per-customer count, then a histogram over those counts."""
    return _sql(spark, sf_dir, ORACLE_SQL["q_sql_tpch_q13"])


# shuffle_budget: revenue view + max scalar + join-back
@query(ref_s=0.53, shuffle_budget=3, oracle="""
        WITH revenue AS (
            SELECT l_suppkey AS supplier_no,
                   sum(CAST(l_extendedprice AS DECIMAL(18,4))
                       * CAST(1 - l_discount AS DECIMAL(18,4))) AS total_revenue
            FROM lineitem
            WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1996-04-01'
            GROUP BY l_suppkey
        )
        SELECT s_suppkey, s_name,
               round(CAST(total_revenue AS DOUBLE), 4) AS total_revenue
        FROM supplier JOIN revenue ON s_suppkey = supplier_no
        WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
    """)
def q_sql_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape (top supplier): a derived revenue relation consumed
    twice — once joined to supplier, once reduced to its max — with the
    equality comparison done on EXACT decimal sums (no double drift); the
    revenue aggregate computes once and broadcasts its scalar max."""
    return _sql(spark, sf_dir, ORACLE_SQL["q_sql_tpch_q15"])


# shuffle_budget: per-part avg + final agg
@query(ref_s=0.45, shuffle_budget=2, oracle="""
        SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / 7.0, 4)
                 + 0.0 AS avg_yearly
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10
          AND l_quantity < (
              SELECT 0.2 * avg(l2.l_quantity) FROM lineitem l2
              WHERE l2.l_partkey = p_partkey
          )
    """)
def q_sql_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape (small-quantity revenue): a correlated scalar
    subquery per part — Catalyst de-correlates it into a per-partkey
    aggregate joined back to the filtered fact, so the "per-row subquery"
    costs one extra aggregation, not one job per part."""
    return _sql(spark, sf_dir, ORACLE_SQL["q_sql_tpch_q17"])


# shuffle_budget: md5-threshold projection
@query(ref_s=0.11, shuffle_budget=0, oracle="""
        SELECT doc_id, lang,
               CASE WHEN substr(md5(concat_ws(':', CAST(doc_id AS VARCHAR), 'split-v1')), 1, 8)
                         < 'cccccccc' THEN 'train'
                    WHEN substr(md5(concat_ws(':', CAST(doc_id AS VARCHAR), 'split-v1')), 1, 8)
                         < 'e6666666' THEN 'val'
                    ELSE 'test' END AS split
        FROM documents
    """)
def q_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test split: the label is a pure
    function of (doc_id, seed) via lexicographic md5-bucket comparison —
    reproducible across runs, engines, and repartitioning; zero shuffle."""
    return sampling.hash_split(
        _t(spark, sf_dir, "documents").select("doc_id", "lang")
    )


@query(ref_s=0.14, shuffle_budget=0, oracle="""
        SELECT doc_id, lang, source FROM documents
        WHERE substr(md5(concat_ws(':', CAST(doc_id AS VARCHAR), 'sample-v1')), 1, 8)
              < CASE lang WHEN 'en' THEN '80000000'
                          WHEN 'es' THEN '40000000'
                          WHEN 'de' THEN '20000000'
                          WHEN 'zh' THEN 'g'
                          WHEN 'fr' THEN 'g'
                          ELSE '00000000' END
    """)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language deterministic downsample (keep all rare langs, thin
    dominant ones) — hash-threshold filter, no RNG, exact oracle."""
    return sampling.stratified_hash_sample(
        _t(spark, sf_dir, "documents").select("doc_id", "lang", "source"),
        rates={"en": 0.5, "es": 0.25, "de": 0.125, "zh": 1.0, "fr": 1.0},
    )


# shuffle_budget: shingle aggs + broadcast anti cascade
@query(ref_s=1.46, shuffle_budget=4, oracle="""
        WITH sh AS (
            SELECT doc_id,
                   list_distinct(list_transform(
                       range(1, greatest(len(regexp_split_to_array(lower(trim(text)), '[ \\t\\n\\r\\f\\x0b]+')) - 2, 1) + 1),
                       i -> array_to_string(list_slice(
                                regexp_split_to_array(lower(trim(text)), '[ \\t\\n\\r\\f\\x0b]+'), i, i + 2), ' ')
                   )) AS shingles
            FROM documents
        ),
        corpus AS (
            SELECT doc_id, len(shingles) AS n_shingles, unnest(shingles) AS shingle
            FROM sh WHERE doc_id % 20 <> 0
        ),
        bench AS (
            SELECT DISTINCT unnest(shingles) AS shingle FROM sh WHERE doc_id % 20 = 0
        ),
        hits AS (
            SELECT doc_id, n_shingles, count(*) AS n_overlap
            FROM corpus JOIN bench USING (shingle)
            GROUP BY doc_id, n_shingles
        )
        SELECT doc_id, n_overlap,
               CAST(n_shingles AS BIGINT) AS n_shingles,
               round(n_overlap / n_shingles, 4) AS overlap_ratio
        FROM hits
        WHERE round(n_overlap / n_shingles, 4) >= 0.1
    """)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination sweep: training docs (doc_id % 20 != 0)
    whose 3-gram overlap with the held-out benchmark slice (doc_id % 20
    == 0) is ≥ 10% — the benchmark shingle set broadcasts, so corpus
    text never shuffles."""
    docs = _t(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 20 != 0)
    benchmark = docs.filter(F.col("doc_id") % 20 == 0)
    return dedup.decontaminate(corpus, benchmark, n=3, threshold=0.1)


# shuffle_budget: only (id,group,count) crosses Arrow
@query(ref_s=0.32, shuffle_budget=1, python_stage=True, oracle="""
        WITH RECURSIVE tok AS (
            SELECT doc_id, lang,
                   CAST(CASE WHEN trim(text) = '' THEN 0
                        ELSE len(regexp_split_to_array(trim(text), '[ \\t\\n\\r\\f\\x0b]+')) END AS BIGINT) AS n_tokens,
                   row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
            FROM documents
        ),
        packed AS (
            SELECT doc_id, lang, n_tokens, rn,
                   CAST(0 AS BIGINT) AS pack_id,
                   CAST(0 AS BIGINT) AS pack_pos,
                   n_tokens AS running
            FROM tok WHERE rn = 1
            UNION ALL
            SELECT t.doc_id, t.lang, t.n_tokens, t.rn,
                   CASE WHEN p.running + t.n_tokens > 256 THEN p.pack_id + 1 ELSE p.pack_id END,
                   CASE WHEN p.running + t.n_tokens > 256 THEN CAST(0 AS BIGINT) ELSE p.pack_pos + 1 END,
                   CASE WHEN p.running + t.n_tokens > 256 THEN t.n_tokens ELSE p.running + t.n_tokens END
            FROM tok t JOIN packed p ON t.lang = p.lang AND t.rn = p.rn + 1
        )
        SELECT doc_id, lang, n_tokens, pack_id, pack_pos FROM packed
    """)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy 256-token context-window packing per language via
    ``applyInPandas`` — sequential within a group, parallel across
    groups; only (id, lang, count) crosses the Arrow boundary. Exact
    oracle: the same greedy recurrence as a DuckDB recursive CTE."""
    return packing.pack_sequences(_t(spark, sf_dir, "documents"), budget=256)


@query(ref_s=0.35, shuffle_budget=3, oracle="""
        WITH tok AS (
            SELECT doc_id,
                   unnest(regexp_split_to_array(lower(trim(text)), '[ \\t\\n\\r\\f\\x0b]+')) AS token
            FROM documents
        ),
        uni AS (SELECT doc_id, token, count(*) AS c FROM tok GROUP BY 1, 2),
        us AS (
            SELECT doc_id, sum(c) AS n_tokens, count(*) AS n_distinct, max(c) AS top_c
            FROM uni GROUP BY 1
        ),
        big AS (
            SELECT doc_id,
                   unnest(list_transform(
                       range(1, greatest(len(toks) - 1, 0) + 1),
                       i -> array_to_string(list_slice(toks, i, i + 1), ' ')
                   )) AS bigram
            FROM (SELECT doc_id,
                         regexp_split_to_array(lower(trim(text)), '[ \\t\\n\\r\\f\\x0b]+') AS toks
                  FROM documents)
        ),
        bi AS (SELECT doc_id, bigram, count(*) AS c FROM big GROUP BY 1, 2),
        bs AS (SELECT doc_id, sum(c) AS n_bigrams, max(c) AS top_bi_c FROM bi GROUP BY 1)
        SELECT us.doc_id,
               CAST(n_tokens AS BIGINT) AS n_tokens,
               round(n_distinct / n_tokens, 4) AS distinct_ratio,
               round(top_c / n_tokens, 4) AS top_token_frac,
               round(top_bi_c / n_bigrams, 4) AS top_bigram_frac
        FROM us LEFT JOIN bs ON us.doc_id = bs.doc_id
    """)
def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style per-doc repetition signals (distinct-token ratio,
    top-token and top-bigram fractions) — the quality-filter inputs for
    degenerate/spammy document detection."""
    return text.repetition_stats(_t(spark, sf_dir, "documents"))


# shuffle_budget: shingle agg + freq agg + semi-join
@query(ref_s=0.92, shuffle_budget=4, oracle="""
        WITH sh AS (
            SELECT doc_id,
                   unnest(list_distinct(list_transform(
                       range(1, greatest(len(regexp_split_to_array(lower(trim(text)), '[ \\t\\n\\r\\f\\x0b]+')) - 2, 1) + 1),
                       i -> array_to_string(list_slice(
                                regexp_split_to_array(lower(trim(text)), '[ \\t\\n\\r\\f\\x0b]+'), i, i + 2), ' ')
                   ))) AS shingle
            FROM documents
        ),
        dfc AS (SELECT shingle, count(DISTINCT doc_id) AS n_docs FROM sh GROUP BY 1),
        boiler AS (SELECT shingle FROM dfc WHERE n_docs >= 4),
        na AS (SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY 1),
        nb AS (
            SELECT doc_id, count(*) AS n_boiler
            FROM sh JOIN boiler USING (shingle) GROUP BY 1
        )
        SELECT na.doc_id,
               CAST(n_shingles AS BIGINT) AS n_shingles,
               CAST(coalesce(n_boiler, 0) AS BIGINT) AS n_boiler,
               round(coalesce(n_boiler, 0) / n_shingles, 4) AS boiler_frac
        FROM na LEFT JOIN nb ON na.doc_id = nb.doc_id
    """)
def q_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style boilerplate detector: fraction of each doc's distinct
    3-grams that occur in >= 4 distinct documents corpus-wide."""
    return text.boilerplate_fraction(
        _t(spark, sf_dir, "documents"), n=3, min_docs=4
    )


@query(ref_s=0.15, shuffle_budget=0, oracle="""
        WITH dirty AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 3 = 0
                        THEN concat(text, ' contact user', CAST(doc_id AS VARCHAR),
                                    '@example.com from 10.0.',
                                    CAST(doc_id % 256 AS VARCHAR), '.42')
                        ELSE text END AS text
            FROM documents
        )
        SELECT doc_id,
               CAST(len(regexp_extract_all(text,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
               CAST(len(regexp_extract_all(text,
                   '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b')) AS BIGINT) AS n_ips,
               regexp_replace(
                   regexp_replace(text,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                   '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IP>', 'g') AS redacted
        FROM dirty
    """)
def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub (emails + IPv4) with per-doc redaction counts. The corpus
    is word-salad, so every third doc is deterministically contaminated
    in-query first; the redactor then has real work whose output the
    oracle reproduces exactly. Pure projections — no shuffle."""
    docs = _t(spark, sf_dir, "documents")
    dirty = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com from 10.0."),
                (F.col("doc_id") % 256).cast("string"),
                F.lit(".42"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return text.pii_redact(dirty)


# shuffle_budget: per-source counts + threshold + union
@query(ref_s=0.36, shuffle_budget=3, oracle="""
        WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
        m AS (SELECT min(n) AS min_n FROM c),
        r AS (SELECT lang, round(pow(n / min_n, -0.5), 4) AS rate FROM c, m),
        t AS (
            SELECT lang, rate,
                   CASE WHEN rate >= 1.0 THEN 'g'
                        ELSE lpad(lower(to_hex(CAST(floor(rate * 4294967296.0) AS BIGINT))), 8, '0')
                   END AS threshold
            FROM r
        )
        SELECT d.doc_id, d.lang, t.rate
        FROM documents d JOIN t ON d.lang = t.lang
        WHERE substr(md5(concat_ws(':', CAST(d.doc_id AS VARCHAR), 'mix-v1')), 1, 8)
              < t.threshold
    """)
def q_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-flattened language mix (alpha=0.5): dominant langs are
    hash-downsampled toward the rare ones; rates derive from the data and
    membership stays engine-reproducible."""
    return sampling.temperature_sample(
        _t(spark, sf_dir, "documents").select("doc_id", "lang"), alpha=0.5
    )


# shuffle_budget: the shard-keyed window
@query(ref_s=0.18, shuffle_budget=1, oracle="""
        WITH s AS (
            SELECT doc_id,
                   md5(concat_ws(':', CAST(doc_id AS VARCHAR), 'shard-v1')) AS hash
            FROM documents
        )
        SELECT doc_id,
               CAST(strpos('0123456789abcdef', substr(hash, 1, 1)) - 1 AS BIGINT) AS shard,
               CAST(row_number() OVER (
                   PARTITION BY strpos('0123456789abcdef', substr(hash, 1, 1))
                   ORDER BY hash, doc_id) AS BIGINT) AS pos
        FROM s
    """)
def q_shard_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training-shard order: 16 hash shards + rank of
    the md5 digest within each shard — a reproducible corpus shuffle with
    no global sort."""
    return sampling.shard_order(_t(spark, sf_dir, "documents").select("doc_id"))


# shuffle_budget: pure projections
@query(ref_s=0.35, shuffle_budget=0, oracle="""
    WITH x AS (
        SELECT vec_id,
               list_transform(embedding, v -> CAST(v AS DOUBLE)) AS xd
        FROM embeddings
    ),
    s AS (
        SELECT vec_id, xd,
               list_aggregate(list_transform(xd, v -> abs(v)), 'max') AS raw_scale
        FROM x
    ),
    g AS (
        SELECT vec_id, xd,
               CASE WHEN raw_scale = 0 THEN 1.0 ELSE raw_scale END AS scale
        FROM s
    ),
    q AS (
        SELECT vec_id, scale,
               list_transform(xd, v -> CAST(floor(v * 127.0 / scale) AS INT)) AS qv
        FROM g
    )
    SELECT vec_id, scale,
           array_to_string(qv, ',') AS q_csv,
           CAST(list_aggregate(qv, 'sum') AS BIGINT) AS q_sum
    FROM q
""")
def q_quantize_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector max-abs int8 quantization of the embedding table —
    floor-based so the codes are bit-identical across engines; codes
    surfaced as CSV + checksum. Pure projections, no shuffle."""
    return similarity.quantize_embeddings(_t(spark, sf_dir, "embeddings"))


# shuffle_budget: daily agg + group-keyed window
@query(ref_s=0.27, shuffle_budget=2, oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               sum(CAST(value AS DECIMAL(18,4))) AS dec_total
        FROM events GROUP BY 1, 2
    ),
    d2 AS (
        SELECT event_type, day,
               date_diff('day', DATE '1970-01-01', day) AS day_num, dec_total
        FROM daily
    )
    SELECT event_type, day,
           round(CAST(dec_total AS DOUBLE), 4) + 0.0 AS daily_total,
           round(CAST(sum(dec_total) OVER w AS DOUBLE) / count(*) OVER w, 4) + 0.0 AS avg_7d
    FROM d2
    WINDOW w AS (PARTITION BY event_type ORDER BY day_num
                 RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
""")
def q_moving_avg_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day moving average of daily event value per event type —
    the time-RANGE window frame (gap days widen the frame; a rows-frame
    would miscount). Decimal sums inside the frame keep it bit-stable."""
    return timeseries.moving_avg_time(_t(spark, sf_dir, "events"), days=7)


# py4j_budget: measured 1352; z-order write + re-scan at build
@query(ref_s=1.47, shuffle_budget=1, py4j_budget=2600, oracle="""
    SELECT o_orderstatus,
           count(o_orderkey) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_price
    FROM orders
    WHERE o_totalprice >= 100000.0 AND o_totalprice < 150000.0
      AND o_orderdate >= DATE '1995-01-01' AND o_orderdate < DATE '1996-01-01'
    GROUP BY 1
""")
def q_zorder_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout end-to-end: orders staged Morton-interleaved on
    (o_totalprice, order day), then a 2-D box predicate scans the layout —
    both columns' row-group min/max stats prune, unlike a 1-D sort.
    Oracle = the same filter aggregate over the source table (the layout
    must be value-invisible)."""
    path = _scratch("orders_zorder")
    src = _t(spark, sf_dir, "orders").withColumn(
        "o_day",
        F.datediff(F.col("o_orderdate"), F.lit("1970-01-01").cast("date")).cast(
            "long"
        ),
    )
    lake.write_zorder(src, path, "o_totalprice", "o_day", bits=12, n_files=16)
    scanned = spark.read.parquet(path).filter(
        (F.col("o_totalprice") >= 100_000.0)
        & (F.col("o_totalprice") < 150_000.0)
        & (F.col("o_orderdate") >= F.lit("1995-01-01").cast("date"))
        & (F.col("o_orderdate") < F.lit("1996-01-01").cast("date"))
    )
    return scanned.groupBy("o_orderstatus").agg(
        F.count(F.col("o_orderkey")).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
        .cast("double")
        .alias("total_price"),
    )


def _kmeans_oracle_sql(k: int, iters: int, col: str, table: str) -> str:
    """Unrolled Lloyd's-iteration CTE oracle mirroring
    ``clustering.kmeans_1d`` exactly: same IEEE init expression, same
    strict-lowest-index argmin, same decimal-mean 4dp rounding — so every
    iteration is bit-identical to the Spark loop."""
    ks = ", ".join(f"k{j}" for j in range(k))
    init = ", ".join(f"lo + ({j} + 0.5)*(hi - lo)/{k} AS k{j}" for j in range(k))
    dists = ", ".join(f"(x - k{j})*(x - k{j}) AS d{j}" for j in range(k))
    least = ", ".join(f"d{j}" for j in range(k))
    argmin = (
        "CASE "
        + " ".join(f"WHEN d{j} = bd THEN {j}" for j in range(k - 1))
        + f" ELSE {k - 1} END"
    )
    parts = [
        f"WITH b AS (SELECT min(CAST({col} AS DOUBLE)) AS lo,"
        f" max(CAST({col} AS DOUBLE)) AS hi FROM {table}),",
        f"c0 AS (SELECT {init} FROM b),",
        # WHERE mirrors kmeans_1d's NULL-point exclusion: a NULL value has
        # no cluster assignment
        f"p AS (SELECT CAST({col} AS DOUBLE) AS x FROM {table}"
        f" WHERE {col} IS NOT NULL),",
    ]
    for i in range(1, iters + 1):
        parts.append(
            f"a{i} AS (SELECT x, {argmin} AS c FROM ("
            f"SELECT x, least({least}) AS bd, {least} FROM ("
            f"SELECT x, {dists} FROM p, c{i - 1}))),"
        )
        parts.append(
            f"m{i} AS (SELECT c, count(*) AS n,"
            f" round(CAST(sum(CAST(x AS DECIMAL(18,4))) AS DOUBLE)/count(*), 4)"
            f" + 0.0 AS mu FROM a{i} GROUP BY c),"
        )
        if i < iters:
            upd = ", ".join(
                f"coalesce(max(CASE WHEN m.c = {j} THEN m.mu END), max(pr.k{j})) AS k{j}"
                for j in range(k)
            )
            parts.append(f"c{i} AS (SELECT {upd} FROM m{i} m, c{i - 1} pr),")
    spine = ", ".join(f"({j})" for j in range(k))
    prev_case = (
        "CASE s.cluster_id "
        + " ".join(f"WHEN {j} THEN pr.k{j}" for j in range(k))
        + " END"
    )
    parts.append(
        f"s AS (SELECT CAST(j AS BIGINT) AS cluster_id FROM (VALUES {spine}) t(j))"
    )
    parts.append(
        "SELECT s.cluster_id, CAST(coalesce(m.n, 0) AS BIGINT) AS n_points,"
        f" coalesce(m.mu, {prev_case}) AS centroid"
        f" FROM s CROSS JOIN c{iters - 1} pr"
        f" LEFT JOIN m{iters} m ON m.c = s.cluster_id"
    )
    return "\n".join(parts)


# py4j_budget: measured 1550; Lloyd iterations at build
@query(ref_s=1.17, shuffle_budget=1, py4j_budget=3300,
       oracle=_kmeans_oracle_sql(4, 3, "o_totalprice", "orders"))
def q_kmeans_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means over order totals (k=4, 3 iterations): deterministic
    mid-bin init, codegen'd argmin assignment against broadcast centroid
    literals, one k-row agg per iteration — the MLlib training-loop shape
    with a fully unrolled per-iteration CTE oracle."""
    return clustering.kmeans_1d(
        _t(spark, sf_dir, "orders"), "o_totalprice", k=4, iters=3
    )


@query(ref_s=0.21, shuffle_budget=0, oracle=r"""
    WITH t AS (
        SELECT doc_id,
               CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                    ELSE string_split_regex(trim(text), '[ \t\n\r\f\x0b]+') END AS toks
        FROM documents
    ),
    s AS (
        SELECT doc_id, toks,
               unnest(range(0, greatest(len(toks), 1), 48)) AS start
        FROM t
    ),
    c AS (
        SELECT doc_id, start, toks[start + 1 : start + 64] AS chunk FROM s
    )
    SELECT doc_id,
           CAST(start / 48 AS BIGINT) AS chunk_id,
           CAST(len(chunk) AS BIGINT) AS n_tokens,
           array_to_string(chunk, ' ') AS chunk_text
    FROM c
    WHERE len(chunk) > 0
""")
def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (64-token chunks, 16-token
    overlap) — context-window prep before packing. One explode over a
    sequence of chunk starts + slice; zero shuffles, no Python."""
    return text.chunk_documents(
        _t(spark, sf_dir, "documents"), chunk_size=64, overlap=16
    )


# n_parts counts the (type, day) cells the merge consumed — one per
# DISTINCT (event_type, to_date(ts)) incl. NULL days (count(DISTINCT x)
# would skip them, so the cell relation is materialized first); the
# Datasketches estimate surfaces only through the self-diagnosing
# bounded-accuracy flag.
# shuffle_budget: partial sketches + merge (2) + the exact count_distinct probe (2);
# estimate side joins back by broadcast
@query(ref_s=0.34, shuffle_budget=4, oracle="""
    WITH cells AS (
        SELECT DISTINCT event_type, CAST(ts AS DATE) AS day FROM events
    ),
    np AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n_parts
        FROM cells GROUP BY event_type
    ),
    ex AS (
        SELECT event_type,
               CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct
        FROM events GROUP BY event_type
    )
    SELECT ex.event_type, np.n_parts, ex.exact_distinct, 'ok' AS est_ok
    FROM ex JOIN np ON ex.event_type IS NOT DISTINCT FROM np.event_type
""")
def q_hll_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch distinct users per event type: one Datasketches HLL
    sketch per (type, day) unioned per type — the incremental rollup shape
    where later aggregations merge KB-sized sketches instead of re-scanning
    raw keys.

    ROWS-ONLY → ORACLE UPGRADE (r14, retiring the residue the r13 verdict
    named; same bounded-accuracy-contract pattern as
    q_approx_count_distinct/q_kll_quantiles/q_theta_overlap): the raw
    Datasketches estimate is engine-specific, so the query surfaces the
    EXACT distinct count plus a SELF-DIAGNOSING flag asserting
    |est − exact| ≤ 0.15·exact + 2 (7.5x the sketch's lgConfigK=12
    accuracy, which stays unit-tested at ~2%; HLL is hash-based and
    order-independent, so the flag cannot flake across partitionings —
    on the astronomically-rare miss the flag embeds the measured
    estimate instead of an opaque hash diff). ``n_parts`` (the per-day
    cell count the merge consumed) is deterministic and hash-checked
    directly. The raw estimate stays available via
    operators/setops.py:hll_partitioned_distinct; its PHYSICAL
    persisted-gold twin is q_hll_rollup_merge (r14 growth), whose
    portable registers make even the estimate hash-checkable."""
    events = _t(spark, sf_dir, "events")
    sk = setops.hll_partitioned_distinct(
        events, "event_type", F.to_date("ts").alias("day"), "user_id"
    )
    exact = events.groupBy(F.col("event_type").alias("_et")).agg(
        F.count_distinct(F.col("user_id")).cast("long").alias("exact_distinct")
    )
    est = F.coalesce(F.col("distinct_est").cast("double"), F.lit(0.0))
    ok = (
        F.abs(est - F.col("exact_distinct").cast("double"))
        <= 0.15 * F.col("exact_distinct") + 2.0
    )
    return sk.join(
        F.broadcast(exact), F.col("event_type").eqNullSafe(F.col("_et"))
    ).select(
        "event_type",
        "n_parts",
        "exact_distinct",
        F.when(ok, F.lit("ok"))
        .otherwise(F.concat(F.lit("est="), est.cast("string")))
        .alias("est_ok"),
    )


# Portable HLL: every register, the integer harmonic denominator, and the
# single-division estimate recomputed in-engine. Constants (the
# alpha·m²·2^53 numerator, thresholds) are inlined from the same Python
# values the Spark plan embeds; rho comes from the md5 HEX TEXT (4 bits
# per leading '0' + a CASE on the first non-zero digit) so there is no
# floating log2 anywhere; the only libm step is the small-range branch's
# ln, rounded at 4dp per the zipf/PMI discipline. This register/rho/
# estimate CTE block is shared by BOTH portable-HLL oracles. It references
# a `keyed` CTE with columns (g, h, k) and ends at `fin` with
# (g, n_used, exact_distinct, hll_estimate).
_HLL_REGISTER_ESTIMATE_CTES = f"""
    br AS (
        SELECT g,
               CAST(('0x' || substr(h, 1, 2)) AS INT) AS bucket,
               CASE WHEN ltrim(substr(h, 3, 13), '0') = '' THEN 53
                    ELSE (13 - length(ltrim(substr(h, 3, 13), '0'))) * 4
                         + CASE substr(ltrim(substr(h, 3, 13), '0'), 1, 1)
                             WHEN '1' THEN 3
                             WHEN '2' THEN 2 WHEN '3' THEN 2
                             WHEN '4' THEN 1 WHEN '5' THEN 1
                             WHEN '6' THEN 1 WHEN '7' THEN 1
                             ELSE 0 END
                         + 1 END AS rho
        FROM keyed
    ),
    regs AS (SELECT g, bucket, max(rho) AS reg FROM br GROUP BY g, bucket),
    pg AS (
        SELECT g, CAST(count(*) AS INT) AS n_used,
               CAST(sum(CAST(1 AS BIGINT) << (53 - reg)) AS BIGINT) AS s_present
        FROM regs GROUP BY g
    ),
    ex AS (
        SELECT g, CAST(count(DISTINCT k) AS BIGINT) AS exact_distinct
        FROM keyed GROUP BY g
    ),
    est AS (
        SELECT pg.g, pg.n_used, ex.exact_distinct,
               {_HLL_NUM!r} / CAST(pg.s_present
                   + CAST({_HLL_M} - pg.n_used AS BIGINT) * CAST({1 << 53} AS BIGINT)
                   AS DOUBLE) AS raw,
               {_HLL_M} - pg.n_used AS v_zero
        FROM pg JOIN ex ON pg.g IS NOT DISTINCT FROM ex.g
    ),
    fin AS (
        SELECT g, n_used, exact_distinct,
               CASE WHEN raw <= {2.5 * _HLL_M!r} AND v_zero > 0
                    THEN round({float(_HLL_M)!r} * ln({float(_HLL_M)!r} / CAST(v_zero AS DOUBLE)), 4)
                    ELSE round(raw, 4) END AS hll_estimate
        FROM est
    )"""


# shuffle_budget: register build/merge/rollup + exact-probe distinct pair; post-stage-1
# volume is O(groups x 256 registers)
@query(ref_s=0.57, shuffle_budget=5, oracle=f"""
    WITH keyed AS (
        SELECT event_type AS g, md5(CAST(user_id AS VARCHAR)) AS h, user_id AS k
        FROM events WHERE user_id IS NOT NULL
    ),
{_HLL_REGISTER_ESTIMATE_CTES}
    SELECT g AS event_type, n_used, hll_estimate, exact_distinct,
           round(abs(hll_estimate - CAST(exact_distinct AS DOUBLE))
                 / CAST(exact_distinct AS DOUBLE), 4) AS abs_rel_err
    FROM fin
""")
def q_hll_union_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable-HLL distinct users per event type (r8 growth): the same
    sketch-per-(type, day) → register-wise-MAX-merge rollup shape as
    q_hll_partitioned, but over a textbook md5-register HLL whose every
    register value, harmonic denominator (integer-exact Σ 2^(53−reg)),
    and final estimate a DuckDB oracle recomputes — making the mergeable
    -sketch tier itself hash-checkable, not just tolerance-tested. The
    exact count_distinct rides along as the error probe."""
    events = _t(spark, sf_dir, "events")
    return setops.hll_union_portable(
        events, "event_type", F.to_date("ts").alias("day"), "user_id"
    )


# shuffle_budget: user-keyed shuffle reused across stages
@query(ref_s=0.25, shuffle_budget=1, oracle="""
    WITH v AS (
        SELECT user_id, min(ts) AS t_view FROM events
        WHERE event_type = 'view' GROUP BY 1
    ),
    c AS (
        SELECT v.user_id, v.t_view, min(e.ts) AS t_click
        FROM v LEFT JOIN events e
          ON e.user_id = v.user_id AND e.event_type = 'click'
         AND e.ts > v.t_view AND e.ts <= v.t_view + INTERVAL 60 MINUTE
        GROUP BY 1, 2
    ),
    p AS (
        SELECT c.user_id, c.t_view, c.t_click, min(e.ts) AS t_purchase
        FROM c LEFT JOIN events e
          ON e.user_id = c.user_id AND e.event_type = 'purchase'
         AND e.ts > c.t_click AND e.ts <= c.t_click + INTERVAL 60 MINUTE
        GROUP BY 1, 2, 3
    )
    SELECT user_id, t_view, t_click, t_purchase,
           CAST(1 + (CASE WHEN t_click IS NULL THEN 0 ELSE 1 END)
                  + (CASE WHEN t_purchase IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS stage_depth
    FROM p
""")
def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchored view→click→purchase funnel within 60-minute hops: per-user
    stage timestamps + depth. Each stage is a conditional left join +
    min-agg keyed on user_id."""
    return behavior.funnel_stages(_t(spark, sf_dir, "events"))


# shuffle_budget: single pass: user-day-set agg + rollup
@query(ref_s=0.43, shuffle_budget=2, oracle="""
    WITH f AS (
        SELECT user_id, CAST(min(ts) AS DATE) AS cohort_day
        FROM events GROUP BY 1
    ),
    a AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events)
    SELECT f.cohort_day,
           CAST(date_diff('day', f.cohort_day, a.day) AS BIGINT) AS day_offset,
           count(*) AS n_users
    FROM a JOIN f USING (user_id)
    GROUP BY 1, 2
""")
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily cohort retention triangle: first-seen day × day-offset user
    counts from the distinct user-day relation."""
    return behavior.cohort_retention(_t(spark, sf_dir, "events"))


def _pagerank_oracle_sql(num_iter: int = 10) -> str:
    """Unrolled power-iteration oracle: fixed-count iterative algorithms are
    SQL-expressible by chaining one CTE per iteration (recursive CTEs can't
    aggregate in the recursive term). Mirrors graph.pagerank exactly —
    same 4dp edge rounding, fixed-point int64 rank units (1e-8)."""
    sq = (
        "sqrt(list_aggregate(list_transform({v}, "
        "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))"
    )
    cos = (
        "round(list_aggregate(list_transform(range(1, len(ea) + 1), "
        "i -> CAST(ea[i] AS DOUBLE) * CAST(eb[i] AS DOUBLE)), 'sum') "
        f"/ ({sq.format(v='ea')} * {sq.format(v='eb')}), 4)"
    )
    parts = [
        f"""
    WITH sub AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 200),
    pr AS (
        SELECT a.vec_id AS src, b.vec_id AS dst, a.embedding AS ea, b.embedding AS eb
        FROM sub a JOIN sub b ON a.vec_id <> b.vec_id
    ),
    scored AS (SELECT src, dst, {cos} AS cos FROM pr),
    e AS (
        SELECT src, dst FROM (
            SELECT src, dst,
                   row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS rn
            FROM scored
        ) WHERE rn <= 3
    ),
    deg AS (SELECT src, count(*) AS d FROM e GROUP BY 1),
    nodes AS (SELECT DISTINCT node FROM (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
    nn AS (SELECT count(*) AS cnt FROM nodes),
    i0 AS (SELECT node, CAST(floor(100000000 / cnt) AS BIGINT) AS rank_e8 FROM nodes, nn)"""
    ]
    for t in range(num_iter):
        parts.append(
            f"""
    i{t + 1} AS (
        SELECT nd.node,
               CAST(floor(15000000 / nn.cnt) + coalesce(s.contrib, 0) AS BIGINT) AS rank_e8
        FROM nodes nd CROSS JOIN nn
        LEFT JOIN (
            SELECT e.dst AS node,
                   sum(CAST(floor(85 * i{t}.rank_e8 / (100.0 * deg.d)) AS BIGINT)) AS contrib
            FROM e JOIN i{t} ON e.src = i{t}.node JOIN deg ON deg.src = e.src
            GROUP BY e.dst
        ) s ON s.node = nd.node
    )"""
        )
    return ",".join(parts) + (
        f"\n    SELECT node, rank_e8, round(rank_e8 / 100000000.0, 8) AS rank"
        f" FROM i{num_iter}"
    )


# shuffle_budget: last checkpoint-window of iterations
# py4j_budget: measured 3186 in-suite; fixed-point loop runs at build
@query(ref_s=3.75, shuffle_budget=5, py4j_budget=6700, always_3=True,
       oracle=_pagerank_oracle_sql())
def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-iteration PageRank over the cosine 3-NN graph of a bounded
    embedding subset (vec_id < 200). Ranks are fixed-point int64 units so
    the trajectory is bit-identical to the unrolled-CTE oracle (double
    sums drift with summation order); per iteration one src-keyed join +
    one dst-keyed agg, lineage checkpoint every 3."""
    return graph.pagerank(graph.knn_edges(_t(spark, sf_dir, "embeddings")))


# shuffle_budget: bounded broadcast self-join
@query(ref_s=0.28, shuffle_budget=0, oracle="""
        WITH sub AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 50),
        p AS (
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   a.embedding AS ea, b.embedding AS eb
            FROM sub a JOIN sub b ON a.vec_id < b.vec_id
        )
        SELECT id_a, id_b,
               round(
                   list_aggregate(list_transform(range(1, len(ea) + 1),
                       i -> CAST(ea[i] AS DOUBLE) * CAST(eb[i] AS DOUBLE)), 'sum')
                   / (sqrt(list_aggregate(list_transform(ea,
                          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
                      * sqrt(list_aggregate(list_transform(eb,
                          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))),
                   4) + 0.0 AS cosine
        FROM p
    """)
def q_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact pairwise cosine over vec_id<50 — the oracle-checked ground
    truth the approximate ANN paths are judged against."""
    return similarity.cosine_pairs_exact(_t(spark, sf_dir, "embeddings"), max_id=50)


# The IVF pair and the LSH top-k are deterministic end-to-end: centroid
# seeding uses the portable md5-60bit id hash
# (operators/similarity.py:centroid_seeds), the LSH hyperplanes are a pure
# integer-LCG sequence inlined as double literals, and DuckDB's sequential
# list sum is bit-identical to Spark's left fold, so every argmin /
# sign-bit / Hamming-rank / rounded-cosine decision is reproduced exactly
# by their oracles.
# DuckDB mirror of the portable seed hash + driver-side enumeration in
# centroid_seeds: pick n by (hash asc, id asc), re-number by id order.
_IVF_SEEDS_SQL = """
    nn AS (
        SELECT vec_id, embedding FROM embeddings WHERE embedding IS NOT NULL
    ),
    seedpick AS (
        SELECT vec_id, embedding FROM nn
        ORDER BY CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))
                     AS BIGINT) ASC,
                 vec_id ASC
        LIMIT {n_centroids}
    ),
    seeds AS (
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id ASC) - 1 AS INT)
                   AS centroid_id,
               embedding AS cv
        FROM seedpick
    ),
    scored AS (
        SELECT n.vec_id, s.centroid_id,
               coalesce(list_aggregate(list_transform(
                   range(1, len(n.embedding) + 1),
                   i -> (CAST(n.embedding[i] AS DOUBLE) - CAST(s.cv[i] AS DOUBLE))
                      * (CAST(n.embedding[i] AS DOUBLE) - CAST(s.cv[i] AS DOUBLE))),
                   'sum'), 0.0) AS d2
        FROM nn n CROSS JOIN seeds s
    ),
    assigned AS (
        SELECT vec_id, centroid_id
        FROM (SELECT vec_id, centroid_id,
                     ROW_NUMBER() OVER (PARTITION BY vec_id
                                        ORDER BY d2 ASC, centroid_id ASC) AS rn
              FROM scored)
        WHERE rn = 1
    )
"""


# Probe search: rank the 16 seeds by squared distance to the query vector
# (vec 0, lowest id as fallback — same rule as the declared query), keep
# the 4 nearest cells, exact-rescore only their members. `+ 0.0` is
# DuckDB-side negative-zero normalization only: Spark's round never emits
# -0.0, DuckDB's preserves it.
# shuffle_budget: partition-pruned index probe
@query(ref_s=0.45, shuffle_budget=0, oracle="WITH " + _IVF_SEEDS_SQL.format(n_centroids=16) + """
    , q AS (
        -- nn only: NULL embeddings can't be queries (mirrors the declared
        -- draw's isNotNull guard)
        SELECT embedding AS qv FROM nn
        WHERE vec_id = COALESCE(
            (SELECT min(vec_id) FROM nn WHERE vec_id = 0),
            (SELECT min(vec_id) FROM nn))
    ),
    probes AS (
        SELECT centroid_id FROM seeds, q
        ORDER BY coalesce(list_aggregate(list_transform(
                     range(1, len(cv) + 1),
                     i -> (CAST(cv[i] AS DOUBLE) - CAST(qv[i] AS DOUBLE))
                        * (CAST(cv[i] AS DOUBLE) - CAST(qv[i] AS DOUBLE))),
                     'sum'), 0.0) ASC,
                 centroid_id ASC
        LIMIT 4
    ),
    rescored AS (
        SELECT n.vec_id,
               round(
                   coalesce(list_aggregate(list_transform(
                       range(1, len(n.embedding) + 1),
                       i -> CAST(n.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)),
                       'sum'), 0.0)
                   / (sqrt(coalesce(list_aggregate(list_transform(n.embedding,
                          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'), 0.0))
                      * sqrt(coalesce(list_aggregate(list_transform(q.qv,
                          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'), 0.0))),
                   4) + 0.0 AS cosine
        FROM nn n
        JOIN assigned a ON n.vec_id = a.vec_id
        CROSS JOIN q
        WHERE a.centroid_id IN (SELECT centroid_id FROM probes)
    )
    SELECT vec_id, cosine FROM rescored
    ORDER BY cosine DESC NULLS LAST, vec_id ASC LIMIT 10
""")
def q_ivf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF probe ANN search for a fixed query vector (vec_id 0's embedding)
    over a PRECOMPUTED centroid-partitioned index: the one-time
    ``ivf_build_index`` staging step (amortized across queries, keyed by
    corpus dir) writes ``partitionBy("centroid_id")`` parquet; the search is
    then a partition-pruned scan of the n_probe nearest cells only.
    FULL ORACLE since r7 (recall vs brute force stays unit-tested): the
    md5-seeded centroids, the assignment argmin, the driver-side probe
    ranking (Python left-to-right double sum == DuckDB sequential list
    sum), and the rounded cosine rescore are all bit-deterministic, so
    DuckDB recomputes the whole index + probe inline."""
    import hashlib
    import tempfile

    emb = _t(spark, sf_dir, "embeddings")
    # bounded 1-row probe; fall back to the lowest vec_id if the corpus
    # has no vec 0 (deterministic either way, never a None deref). NULL
    # embeddings can't be queries — the guard matches centroid_seeds and
    # the oracle's `nn`-sourced q CTE.
    nn = emb.filter(F.col("embedding").isNotNull())
    qrow = nn.filter(F.col("vec_id") == 0).first()
    if qrow is None:
        qrow = nn.orderBy(F.col("vec_id").asc()).first()
    if qrow is None:
        raise ValueError("embeddings table is empty — nothing to search")
    qvec = [float(x) for x in qrow["embedding"]]
    # cache key = corpus path + mtime: a regenerated corpus invalidates the
    # staged index automatically
    src = os.path.join(sf_dir, "embeddings.parquet")
    mtime = int(os.path.getmtime(src)) if os.path.exists(src) else 0
    # ":v2" = seeding-hash version (r7 moved centroid_seeds from xxhash64
    # to the portable md5-60bit id hash; a cached index built under the
    # old seeding must not serve the oracle-checked query)
    key = hashlib.md5(f"{os.path.abspath(sf_dir)}:{mtime}:v2".encode()).hexdigest()[:12]
    index_dir = os.path.join(tempfile.gettempdir(), f"spark_graft_ivf_{key}")
    # own marker, written AFTER the build: the build is two writes (the
    # corpus, then the centroids), so no single write's _SUCCESS marks a
    # complete index
    marker = os.path.join(index_dir, "_BUILT")
    if not os.path.exists(marker):
        similarity.ivf_build_index(emb, index_dir, n_centroids=16)
        with open(marker, "w") as fh:
            fh.write("ok")
    return similarity.ivf_search(spark, index_dir, qvec, k=10, n_probe=4)


@query(ref_s=0.18, shuffle_budget=2, oracle="""
        SELECT count(*) AS n_rows,
               CAST(coalesce(sum(CASE WHEN c_name IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS nulls_c_name,
               CAST(coalesce(sum(CASE WHEN c_mktsegment IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS nulls_c_mktsegment,
               count(DISTINCT c_mktsegment) AS distinct_c_mktsegment,
               min(c_acctbal) AS min_val,
               max(c_acctbal) AS max_val,
               round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE)
                     / count(c_acctbal), 4) AS mean_val
        FROM customer
    """)
def q_data_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass, one-job table profile (nulls / distinct / min / max /
    mean) — vs the reference's job-per-column gate."""
    return quality.profile_table(
        _t(spark, sf_dir, "customer"),
        null_check_cols=["c_name", "c_mktsegment"],
        distinct_col="c_mktsegment",
        numeric_col="c_acctbal",
    )


@query(ref_s=0.46, shuffle_budget=1, oracle="""
        WITH stats AS (
            SELECT event_type,
                   round(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
                         / count(value), 4) AS mu,
                   round(stddev_samp(value), 4) AS sigma
            FROM events GROUP BY event_type
        )
        SELECT event_id, event_type,
               CASE WHEN sigma > 0 THEN round((value - mu) / sigma, 4) END AS z
        FROM events JOIN stats USING (event_type)
        WHERE sigma > 0 AND abs(round((value - mu) / sigma, 4)) >= 3.0
    """)
def q_outliers_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type z-score outliers (|z| ≥ 3) with rounded-stats
    chaining for cross-engine determinism."""
    return aggregates.zscore_outliers(
        _t(spark, sf_dir, "events").select("event_id", "event_type", "value"),
        "event_type",
        "value",
        "event_id",
    )


# shuffle_budget: delta agg + merge with snapshot
@query(ref_s=0.37, shuffle_budget=2, oracle="""
        SELECT o_orderstatus,
               count(*) AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        FROM orders GROUP BY o_orderstatus
    """)
def q_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental rollup maintenance: base aggregate (90% of orders) merged
    with the delta batch's aggregate — result provably identical to the
    full-recompute oracle without re-scanning the base."""
    o = _t(spark, sf_dir, "orders")
    base = o.filter(F.col("o_orderkey") % 10 != 0)
    delta = o.filter(F.col("o_orderkey") % 10 == 0)

    def agg_of(df: DataFrame) -> DataFrame:
        return df.groupBy("o_orderstatus").agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,4)")).alias("sum_price"),
        )

    merged = aggregates.merge_partial_aggs(
        agg_of(base), agg_of(delta), ["o_orderstatus"], "n_orders", "sum_price"
    )
    return merged.select(
        "o_orderstatus",
        "n_orders",
        F.col("sum_price").cast("double").alias("sum_price"),
    )


# shuffle_budget: converged labels read from checkpoint
# py4j_budget: measured 1365; Pregel at build
@query(ref_s=4.05, shuffle_budget=0, py4j_budget=2900, always_3=True, oracle="""
        WITH RECURSIVE sh AS (
            SELECT doc_id,
                   list_distinct(list_transform(
                       range(1, greatest(len(regexp_split_to_array(lower(trim(text)), '[ \\t\\n\\r\\f\\x0b]+')) - 2, 1) + 1),
                       i -> array_to_string(list_slice(
                                regexp_split_to_array(lower(trim(text)), '[ \\t\\n\\r\\f\\x0b]+'), i, i + 2), ' ')
                   )) AS shingles
            FROM documents
        ),
        sized AS (SELECT doc_id, shingles, len(shingles) AS set_size FROM sh),
        ex AS (SELECT doc_id, set_size, unnest(shingles) AS shingle FROM sized),
        inter AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   a.set_size AS sz_a, b.set_size AS sz_b,
                   count(*) AS n_inter
            FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id, a.set_size, b.set_size
        ),
        pairs AS (
            SELECT id_a, id_b FROM inter
            WHERE round(n_inter / (sz_a + sz_b - n_inter), 4) >= 0.2
        ),
        sym AS (
            SELECT id_a AS s, id_b AS d FROM pairs
            UNION ALL
            SELECT id_b AS s, id_a AS d FROM pairs
        ),
        reach AS (
            SELECT s, d FROM sym
            UNION
            SELECT r.s, y.d FROM reach r JOIN sym y ON r.d = y.s
        )
        SELECT s AS doc_id, least(s, min(d)) AS canonical_id FROM reach GROUP BY s
    """)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster assignment: exact n-gram Jaccard pairs (≥0.2) →
    connected components → every clustered doc labeled with its cluster's
    min doc_id (the canonical copy to keep). Oracle computes the same
    transitive closure with a recursive CTE.

    The pair generator is swappable: exact corpus-wide Jaccard here so the
    oracle can reproduce the pairs in SQL at test scale; at 100 TB the
    SAME connected_components consumes near_duplicates_verified's
    LSH-candidate pairs instead (sub-quadratic; see dedup.py tiering)."""
    pairs = dedup.ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), n=3, threshold=0.2
    )
    comps = dedup.connected_components(pairs, "id_a", "id_b")
    return comps.select(
        F.col("id").alias("doc_id"), F.col("comp").alias("canonical_id")
    )


@query(ref_s=0.12, shuffle_budget=1, oracle="""
        SELECT user_id, event_id, value,
               ts AS valid_from,
               lead(ts) OVER w AS valid_to,
               CAST(lead(ts) OVER w IS NULL AS INT) AS is_current
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    """)
def q_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 dimension history built from the events changelog: per-user
    value versions with [valid_from, valid_to) ranges and a current flag."""
    ev = _t(spark, sf_dir, "events").select("user_id", "event_id", "ts", "value")
    return lake.build_scd2(
        ev, "user_id", "ts", "event_id", ["event_id", "value"]
    )


@query()
def q_sample_seeded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bernoulli TABLESAMPLE with a fixed seed — per-row RNG stream is
    engine-specific, so rows-only check. At scale this is the standard
    corpus-subsampling primitive (no shuffle; sampling happens in the scan
    stage).

    API gotcha (caught by test_sample_seeded_deterministic_and_bounded):
    ``sample(0.1, seed=42)`` — positional fraction in the withReplacement
    slot plus a seed KEYWORD — silently drops the seed and samples with a
    fresh RNG per call; only ``sample(fraction=..., seed=...)`` (or both
    positional) plants the seed in the plan."""
    return _t(spark, sf_dir, "orders").sample(fraction=0.1, seed=42).select(
        "o_orderkey", "o_custkey"
    )


# ==========================================================================
# LLM-data-pipeline extensions (dedup / similarity / text / multimodal)
# ==========================================================================

@query(ref_s=0.22, shuffle_budget=1, oracle="""
        SELECT md5(text) AS fingerprint,
               min(doc_id) AS keep_id,
               count(doc_id) AS dup_count
        FROM documents GROUP BY md5(text)
    """)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.dedup_exact(_t(spark, sf_dir, "documents"))


# The MinHash+LSH near-dup tier (operators/dedup.py: minhash_signatures —
# two md5-derived integers per shingle mixed per seed as
# (h1 + s*h2) mod 2^61-1) with İ-folded tokenizers: a DuckDB oracle
# recomputes every signature value, every band bucket (the raw joined
# signature-slice string — no re-hash), the over-cap bucket drops, and the
# est/exact verify tier.
# Mirrors of _tokens_expr (İ-folded variants only — portable hashing
# requires the fold; see operators/dedup.py:_tokens_expr).
_TOKS_SQL = {
    "whitespace_folded": (
        "regexp_split_to_array(lower(translate(trim(text), 'İ', 'i')),"
        " '[ \\t\\n\\r\\f\\x0b]+')"
    ),
    "bpe": (
        "regexp_extract_all(lower(translate(text, 'İ', 'i')),"
        " '[a-z]+|[0-9]+|[^a-z0-9 \\t\\n\\r\\f\\x0b]')"
    ),
}


def _minhash_lsh_oracle_sql(
    tokenizer: str,
    shingle_n: int,
    num_hashes: int,
    bands: int,
    threshold: float,
    verify: str,
    max_bucket: int = 64,
) -> str:
    """DuckDB mirror of the portable MinHash+LSH near-dup pipeline.

    ``verify="est"`` scores candidate pairs by signature agreement
    fraction (q_dedup_near); ``verify="exact"`` scores them by exact
    shingle-set Jaccard (near_duplicates_verified). Shingling mirrors
    shingle_docs_exploded: docs with fewer than ``shingle_n`` tokens
    contribute one truncated shingle; bpe zero-token docs contribute
    none. The minhash family constants (P = 2^61-1, 55-bit h2 fold)
    are dedup.py's _MINHASH_P / _MINHASH_H2_FOLD."""
    rpb = num_hashes // bands
    # bpe on an empty doc extracts ZERO tokens (doc has no shingles);
    # whitespace split always yields ≥1 token (one "" for empty docs)
    nz = "WHERE len(t) > 0" if tokenizer == "bpe" else ""
    scorer = {
        "est": f"""
    agree AS (
        SELECT c.id_a, c.id_b,
               sum(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END) AS n_agree
        FROM cands c
        JOIN sig sa ON sa.doc_id = c.id_a
        JOIN sig sb ON sb.doc_id = c.id_b AND sb.seed = sa.seed
        GROUP BY c.id_a, c.id_b
    )
    SELECT id_a, id_b, n_agree / {num_hashes} AS est_jaccard
    FROM agree
    WHERE n_agree / {num_hashes} >= {threshold}
""",
        "exact": f"""
    sizes AS (SELECT doc_id, len(shingles) AS sz FROM sh),
    inter AS (
        SELECT c.id_a, c.id_b, count(*) AS n_inter
        FROM cands c
        JOIN ex ea ON ea.doc_id = c.id_a
        JOIN ex eb ON eb.doc_id = c.id_b AND eb.shingle = ea.shingle
        GROUP BY c.id_a, c.id_b
    )
    SELECT i.id_a, i.id_b,
           round(i.n_inter / (za.sz + zb.sz - i.n_inter), 4) AS jaccard
    FROM inter i
    JOIN sizes za ON za.doc_id = i.id_a
    JOIN sizes zb ON zb.doc_id = i.id_b
    WHERE round(i.n_inter / (za.sz + zb.sz - i.n_inter), 4) >= {threshold}
""",
    }[verify]
    return f"""
    WITH toks AS (
        SELECT doc_id, {_TOKS_SQL[tokenizer]} AS t
        FROM documents WHERE text IS NOT NULL
    ),
    nzt AS (SELECT doc_id, t FROM toks {nz}),
    sh AS (
        SELECT doc_id,
               list_distinct(list_transform(
                   range(1, greatest(len(t) - {shingle_n - 1}, 1) + 1),
                   i -> array_to_string(list_slice(t, i, i + {shingle_n - 1}), ' ')
               )) AS shingles
        FROM nzt
    ),
    ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
    th AS (
        SELECT doc_id,
               CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT) AS h1,
               CAST(('0x' || substr(md5('#' || shingle), 1, 15)) AS BIGINT)
                   % 36028797018963968 AS h2,
               shingle
        FROM ex
    ),
    sig AS (
        SELECT doc_id, s.seed,
               min((h1 + s.seed * h2) % 2305843009213693951) AS mh
        FROM th CROSS JOIN (SELECT unnest(range({num_hashes})) AS seed) s
        GROUP BY doc_id, s.seed
    ),
    bnd AS (
        SELECT doc_id, seed // {rpb} AS band,
               string_agg(CAST(mh AS VARCHAR), ',' ORDER BY seed) AS bucket
        FROM sig GROUP BY doc_id, seed // {rpb}
    ),
    sized AS (
        SELECT *, count(*) OVER (PARTITION BY band, bucket) AS _n FROM bnd
    ),
    cands AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM sized a JOIN sized b
          ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
        WHERE a._n <= {max_bucket}
    ),
    {scorer}
"""


# shuffle_budget: the shuffle-hash attach of q_dedup_near_verified
@query(ref_s=2.25, shuffle_budget=6, oracle=_minhash_lsh_oracle_sql(
    "whitespace_folded", 3, 32, 8, 0.4, "est"
))
def q_dedup_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs under a full oracle: the two-md5
    Carter-Wegman minhash family (band buckets = raw signature-slice
    strings) with the İ-folded whitespace tokenizer, so DuckDB
    recomputes every signature value, every band bucket, the over-cap
    bucket drops, and each pair's agreement fraction — the LSH DECISIONS
    are pinned cross-engine, not just the surviving pairs' scores."""
    return dedup.minhash_near_duplicates(
        _t(spark, sf_dir, "documents"),
        num_hashes=32,
        bands=8,
        threshold=0.4,
        tokenizer="whitespace_folded",
    )


# shuffle_budget: band agg + pair distinct + shuffle-hash verify joins. The attach joins
# are hinted shuffle_hash: at sf10 the planner broadcast the corpus-scale
# array/signature side on post-semi-join underestimates and ran out of memory. The 2
# extra candidate-bounded exchanges are the price of never broadcasting a corpus table.
@query(ref_s=3.10, shuffle_budget=6, oracle=_minhash_lsh_oracle_sql(
    "whitespace_folded", 3, 32, 8, 0.2, "exact"
))
def q_dedup_near_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tiered near-dup: LSH candidates verified by EXACT Jaccard restricted
    to candidate pairs (the 100 TB pipeline shape), under a full oracle
    (see q_dedup_near): the oracle reproduces the candidate set exactly,
    then scores it with the same exact-Jaccard SQL the q_ngram_jaccard
    oracle uses."""
    return dedup.near_duplicates_verified(
        _t(spark, sf_dir, "documents"),
        num_hashes=32,
        bands=8,
        threshold=0.2,
        tokenizer="whitespace_folded",
    )


# shuffle_budget: fingerprint anti join (AQE may broadcast)
@query(ref_s=0.18, shuffle_budget=2, oracle="""
    WITH fp AS (SELECT doc_id, md5(text) AS fingerprint FROM documents)
    SELECT b.doc_id, b.fingerprint
    FROM fp b
    WHERE b.doc_id >= 300
      AND NOT EXISTS (SELECT 1 FROM fp p
                      WHERE p.doc_id < 300
                        AND p.fingerprint = b.fingerprint)
""")
def q_incremental_ingest_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus ingestion: only the NOVEL documents of a new
    batch survive — batch rows (doc_id ≥ 300) LEFT-ANTI joined on the
    exact content fingerprint (md5 of text) against the already-ingested
    corpus (doc_id < 300). The cross-run dedup shape every recurring
    crawl/ingest pipeline runs before appending to the lake.

    Scale: one hash-keyed anti join — both sides shuffle on the
    fingerprint only (16-byte keys + ids, never document text); no
    broadcast assumption because the ingested corpus is the BIG side at
    100 TB. NULL-text rows have a NULL fingerprint, which an anti join
    KEEPS (null never equals null) — mirrored by NOT EXISTS, not NOT IN,
    in the oracle."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.md5(F.col("text")).alias("fingerprint")
    )
    prior = docs.filter(F.col("doc_id") < 300).select("fingerprint")
    batch = docs.filter(F.col("doc_id") >= 300)
    return batch.join(prior, "fingerprint", "left_anti").select(
        "doc_id", "fingerprint"
    )


# shuffle_budget: md5 count-distinct + bounded pair count
@query(ref_s=1.0, shuffle_budget=4, oracle="""
    WITH exact AS (
        SELECT count(*) AS n_docs,
               count(DISTINCT md5(text)) AS n_distinct_texts
        FROM documents
    ),
    toks AS (
        SELECT doc_id,
               regexp_extract_all(lower(translate(text, 'İ', 'i')), '[a-z]+|[0-9]+|[^a-z0-9 \\t\\n\\r\\f\\x0b]') AS t
        FROM documents
        WHERE doc_id < 400
    ),
    nz AS (SELECT doc_id, t FROM toks WHERE len(t) > 0),
    sh AS (
        SELECT doc_id,
               list_distinct(list_transform(
                   range(1, greatest(len(t) - 1, 1) + 1),
                   i -> array_to_string(list_slice(t, i, i + 1), ' ')
               )) AS shingles
        FROM nz
    ),
    sized AS (SELECT doc_id, shingles, len(shingles) AS set_size FROM sh),
    ex AS (SELECT doc_id, set_size, unnest(shingles) AS shingle FROM sized),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               a.set_size AS sz_a, b.set_size AS sz_b,
               count(*) AS n_inter
        FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id, a.set_size, b.set_size
    ),
    near AS (
        SELECT CAST(coalesce(sum(CASE WHEN round(n_inter / (sz_a + sz_b - n_inter), 4) >= 0.3
                                      THEN 1 ELSE 0 END), 0) AS BIGINT) AS near_dup_pairs_bounded
        FROM inter
    )
    SELECT n_docs,
           n_docs - n_distinct_texts AS exact_dup_docs,
           round(CAST(n_docs - n_distinct_texts AS DOUBLE) * 100.0 / n_docs, 2)
               AS exact_dup_pct,
           near_dup_pairs_bounded
    FROM exact, near
""")
def q_dedup_rate_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup executive summary — the one-row corpus-health report a
    pipeline emits after every refresh: total docs, exact-duplicate docs
    (corpus-wide md5 fingerprint), exact-dup percentage, and the bounded
    token-level near-dup pair count (same doc_id<400/0.3 fence as
    q_token_jaccard). Two tiny aggregates broadcast-joined into one row;
    the only corpus-wide work is a count-distinct on 16-byte
    fingerprints."""
    docs = _t(spark, sf_dir, "documents")
    exact = docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(F.md5(F.col("text"))).alias("n_distinct_texts"),
    )
    near = dedup.ngram_jaccard_pairs(
        docs.filter(F.col("doc_id") < 400), n=2, threshold=0.3, tokenizer="bpe"
    ).agg(F.count(F.lit(1)).alias("near_dup_pairs_bounded"))
    return exact.crossJoin(F.broadcast(near)).select(
        "n_docs",
        (F.col("n_docs") - F.col("n_distinct_texts")).alias("exact_dup_docs"),
        # try_divide: an empty corpus has no dup rate (NULL on both
        # engines) instead of Spark ANSI throwing on 0/0
        F.round(
            F.try_divide(
                (F.col("n_docs") - F.col("n_distinct_texts")) * F.lit(100.0),
                F.col("n_docs"),
            ),
            2,
        ).alias("exact_dup_pct"),
        "near_dup_pairs_bounded",
    )


# shuffle_budget: bounded pairs; CC labels read from checkpoint (the candidates
# checkpoint truncates the pair lineage)
# py4j_budget: measured 1372; Pregel label propagation at build
@query(ref_s=1.0, shuffle_budget=1, py4j_budget=2900, oracle="""
    WITH RECURSIVE toks AS (
        SELECT doc_id,
               regexp_extract_all(lower(translate(text, 'İ', 'i')), '[a-z]+|[0-9]+|[^a-z0-9 \\t\\n\\r\\f\\x0b]') AS t
        FROM documents
        WHERE doc_id < 400
    ),
    nz AS (SELECT doc_id, t FROM toks WHERE len(t) > 0),
    sh AS (
        SELECT doc_id,
               list_distinct(list_transform(
                   range(1, greatest(len(t) - 1, 1) + 1),
                   i -> array_to_string(list_slice(t, i, i + 1), ' ')
               )) AS shingles
        FROM nz
    ),
    sized AS (SELECT doc_id, shingles, len(shingles) AS set_size FROM sh),
    ex AS (SELECT doc_id, set_size, unnest(shingles) AS shingle FROM sized),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               a.set_size AS sz_a, b.set_size AS sz_b,
               count(*) AS n_inter
        FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id, a.set_size, b.set_size
    ),
    pairs AS (
        SELECT id_a, id_b FROM inter
        WHERE round(n_inter / (sz_a + sz_b - n_inter), 4) >= 0.3
    ),
    sym AS (
        SELECT id_a AS s, id_b AS d FROM pairs
        UNION ALL
        SELECT id_b AS s, id_a AS d FROM pairs
    ),
    reach AS (
        SELECT s, d FROM sym
        UNION
        SELECT r.s, y.d FROM reach r JOIN sym y ON r.d = y.s
    )
    SELECT s AS doc_id, least(s, min(d)) AS canonical_id FROM reach GROUP BY s
""")
def q_token_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKENIZER-AWARE duplicate clusters: exact BPE-ish token 2-gram
    Jaccard pairs (≥0.3) → connected components → every clustered doc
    labeled with its cluster's min doc_id (the canonical copy). The
    tokenizer-aware twin of q_dedup_clusters: same transitive-closure
    oracle (recursive CTE), pairs from token shingles, so punctuation
    variants land in one cluster. BOUNDED to doc_id < 400 (same fence as
    q_token_jaccard): token 2-grams are zipfian, so the corpus-wide exact
    self-join explodes on common bigrams — measured OOM at sf0.1. The
    scale path is unchanged: at 100 TB the SAME connected_components
    consumes q_token_dedup_near's LSH-candidate pairs (frequency-bounded
    buckets), never a corpus-wide exact join."""
    pairs = dedup.ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 400),
        n=2,
        threshold=0.3,
        tokenizer="bpe",
    )
    comps = dedup.connected_components(pairs, "id_a", "id_b")
    return comps.select(
        F.col("id").alias("doc_id"), F.col("comp").alias("canonical_id")
    )


# The fingerprint pair (q_rolling_fingerprint, q_simhash): both hash with
# md5-60 (sampling.md5_60), so DuckDB recomputes every hash decision exactly.
def _simhash_oracle_sql(max_hamming: int, bucket_cap: int) -> str:
    """DuckDB mirror of the portable-simhash near-dup pipeline: 60 md5
    bit-planes, majority vote per bit, the SAME disjoint-block layout as
    the Spark pair generator (shared via ``simhash_block_layout``),
    over-cap bucket drops BEFORE pairing, exact Hamming verify."""
    n_bits = dedup.SIMHASH_BITS
    offsets, widths = dedup.simhash_block_layout(n_bits, max_hamming + 1)
    bit_sums = ",\n               ".join(
        f"sum((h >> {b}) & 1) AS b{b}" for b in range(n_bits)
    )
    sim_terms = "\n                 + ".join(
        f"(CASE WHEN b{b} * 2 >= n THEN {1 << b} ELSE 0 END)"
        for b in range(n_bits)
    )
    blocks_values = ", ".join(
        f"({i}, {offsets[i]}, {(1 << widths[i]) - 1})"
        for i in range(len(offsets))
    )
    return f"""
    WITH toks AS (
        SELECT doc_id,
               unnest(regexp_extract_all(lower(translate(text, 'İ', 'i')),
                      '[a-z]+|[0-9]+|[^a-z0-9 \\t\\n\\r\\f\\x0b]')) AS token
        FROM documents
    ),
    th AS (
        SELECT doc_id,
               CAST(('0x' || substr(md5(token), 1, 15)) AS BIGINT) AS h
        FROM toks
    ),
    bs AS (
        SELECT doc_id, count(*) AS n,
               {bit_sums}
        FROM th GROUP BY doc_id
    ),
    sh AS (
        SELECT doc_id,
               CAST({sim_terms} AS BIGINT) AS simhash
        FROM bs
    ),
    blocks AS (
        SELECT s.doc_id, s.simhash, b.blk,
               (s.simhash >> b.off) & b.mask AS val
        FROM sh s CROSS JOIN (VALUES {blocks_values}) b(blk, off, mask)
    ),
    sized AS (
        SELECT *, count(*) OVER (PARTITION BY blk, val) AS _n FROM blocks
    ),
    pairs AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
               a.simhash AS sh_a, b.simhash AS sh_b
        FROM sized a JOIN sized b
          ON a.blk = b.blk AND a.val = b.val AND a.doc_id < b.doc_id
        WHERE a._n <= {bucket_cap}
    )
    SELECT id_a, id_b,
           CAST(bit_count(xor(sh_a, sh_b)) AS BIGINT) AS hamming
    FROM pairs
    WHERE bit_count(xor(sh_a, sh_b)) <= {max_hamming}
"""


@query(oracle=_simhash_oracle_sql(max_hamming=6, bucket_cap=256))
def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs under a full oracle: 60 md5 bit-planes with
    the İ-pre-folded BPE tokenizer, so DuckDB recomputes every signature
    bit, the disjoint-block bucketing (shared layout via
    ``simhash_block_layout``), the over-cap bucket drops, and the exact
    Hamming verify."""
    pairs = dedup.simhash_near_duplicates(
        _t(spark, sf_dir, "documents"),
        max_hamming=6,
        tokenizer="bpe",
    )
    return pairs.select(
        "id_a", "id_b", F.col("hamming").cast("long").alias("hamming")
    )


@query(ref_s=1.0, shuffle_budget=1, oracle="""
        WITH toks AS (
            SELECT doc_id,
                   regexp_extract_all(lower(translate(text, 'İ', 'i')), '[a-z]+|[0-9]+|[^a-z0-9 \\t\\n\\r\\f\\x0b]') AS t
            FROM documents
            WHERE doc_id < 400
        ),
        nz AS (SELECT doc_id, t FROM toks WHERE len(t) > 0),
        sh AS (
            SELECT doc_id,
                   list_distinct(list_transform(
                       range(1, greatest(len(t) - 1, 1) + 1),
                       i -> array_to_string(list_slice(t, i, i + 1), ' ')
                   )) AS shingles
            FROM nz
        ),
        sized AS (SELECT doc_id, shingles, len(shingles) AS set_size FROM sh),
        ex AS (SELECT doc_id, set_size, unnest(shingles) AS shingle FROM sized),
        inter AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   a.set_size AS sz_a, b.set_size AS sz_b,
                   count(*) AS n_inter
            FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id, a.set_size, b.set_size
        )
        SELECT id_a, id_b,
               round(n_inter / (sz_a + sz_b - n_inter), 4) AS jaccard
        FROM inter
        WHERE round(n_inter / (sz_a + sz_b - n_inter), 4) >= 0.3
    """)
def q_token_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKENIZER-AWARE exact Jaccard over BPE-ish token 2-grams, bounded
    id subset (doc_id < 400) — the tokenizer-aware ground truth the r5
    verdict asked for: shingles are n-grams of WORD PIECES (letter runs /
    digit runs / single punctuation, lowercased), so punctuation and
    spacing variants of a sentence dedup together where whitespace
    shingles (q_ngram_jaccard) treat them as different. Same bounded
    quadratic fencing as q_ngram_jaccard; the corpus-scale path is
    q_token_dedup_near."""
    return dedup.ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 400),
        n=2,
        threshold=0.3,
        tokenizer="bpe",
    )


# shuffle_budget: same tiered shape as q_dedup_near_verified (shuffle-hash attach)
@query(ref_s=3.19, shuffle_budget=6, oracle=_minhash_lsh_oracle_sql(
    "bpe", 2, 32, 8, 0.3, "exact"
))
def q_token_dedup_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-aware tiered near-dup at corpus scale: MinHash+LSH over
    BPE-ish token 2-gram shingles proposes candidates, exact token
    Jaccard verifies them, under a full oracle (see q_dedup_near); the
    bpe tokenizer is İ-folded, so the oracle reuses q_token_jaccard's
    tokenization SQL.
    Surviving pairs remain unit-pinned as a subset of q_token_jaccard's
    exact ground truth with equal scores."""
    return dedup.near_duplicates_verified(
        _t(spark, sf_dir, "documents"),
        shingle_n=2,
        num_hashes=32,
        bands=8,
        threshold=0.3,
        tokenizer="bpe",
    )


@query(ref_s=0.71, shuffle_budget=1, oracle="""
        WITH sh AS (
            SELECT doc_id,
                   list_distinct(list_transform(
                       range(1, greatest(len(regexp_split_to_array(lower(trim(text)), '[ \\t\\n\\r\\f\\x0b]+')) - 2, 1) + 1),
                       i -> array_to_string(list_slice(
                                regexp_split_to_array(lower(trim(text)), '[ \\t\\n\\r\\f\\x0b]+'), i, i + 2), ' ')
                   )) AS shingles
            FROM documents
            WHERE doc_id < 400
        ),
        sized AS (SELECT doc_id, shingles, len(shingles) AS set_size FROM sh),
        ex AS (SELECT doc_id, set_size, unnest(shingles) AS shingle FROM sized),
        inter AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   a.set_size AS sz_a, b.set_size AS sz_b,
                   count(*) AS n_inter
            FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id, a.set_size, b.set_size
        )
        SELECT id_a, id_b,
               round(n_inter / (sz_a + sz_b - n_inter), 4) AS jaccard
        FROM inter
        WHERE round(n_inter / (sz_a + sz_b - n_inter), 4) >= 0.2
    """)
def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard over a BOUNDED id subset (doc_id < 400) — the
    same bounded-ground-truth pattern as q_cosine_pairs: the quadratic
    shingle self-join is fenced to a fixed-size slice, never the corpus
    (the pushed-down id filter caps the self-join input regardless of
    corpus size). The corpus-scale path is the tiered LSH→exact-verify
    pipeline (q_dedup_near_verified), where this exact scorer sees only
    LSH candidates."""
    return dedup.ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 400),
        n=3,
        threshold=0.2,
    )


# shuffle_budget: broadcast query vector, TakeOrdered
@query(ref_s=0.34, shuffle_budget=0, oracle="""
        WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
        SELECT e.vec_id,
               round(
                   list_aggregate(list_transform(range(1, len(e.embedding) + 1),
                       i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)), 'sum')
                   / (sqrt(list_aggregate(list_transform(e.embedding,
                          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
                      * sqrt(list_aggregate(list_transform(q.qv,
                          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))),
               4) AS cosine
        FROM embeddings e, q
        WHERE e.vec_id <> 0
        ORDER BY cosine DESC NULLS LAST, e.vec_id ASC LIMIT 10
    """)
def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force exact cosine top-k against the vec_id=0 query vector,
    joined in-plan (broadcast single-row cross join — no collect)."""
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    scored = (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != 0)
        .select(
            "vec_id",
            # try_divide (similarity._cosine): a zero-norm vector has no
            # direction → NULL cosine, matching DuckDB's x/0→NULL; a plain
            # `/` would throw ANSI DIVIDE_BY_ZERO on such a row. NULLs sort
            # last under desc() on both engines.
            F.round(
                similarity._cosine(F.col("embedding"), F.col("qv")), 4
            ).alias("cosine"),
        )
    )
    return scored.orderBy(F.col("cosine").desc(), F.col("vec_id").asc()).limit(10)


def _lsh_planes_values_sql(n_planes: int, dim: int) -> str:
    """The deterministic hyperplane sequence as DuckDB VALUES rows.

    Generated from the SAME source function the Spark plan embeds
    (operators/similarity.py:_hyperplane — pure integer LCG, no RNG
    state), so the literals are guaranteed identical on both sides;
    Python float repr round-trips to the exact double in DuckDB."""
    from datalake_breweries_two_spark.operators.similarity import _hyperplane

    rows = []
    for b in range(n_planes):
        vals = ", ".join(repr(w) for w in _hyperplane(dim, b))
        rows.append(f"({b}, [{vals}])")
    return ",\n        ".join(rows)


# Semantics mirrored bit-for-bit from cosine_topk_lsh (k=10 → candidate
# budget max(8k, 64) = 80): sign bits coalesce exactly like Spark's
# when(dot >= 0, bit).otherwise(0) — a NULL vector scores FALSE on every
# plane, an EMPTY one folds to dot 0.0 (>= 0 → TRUE); Hamming rank ties
# break on vec_id; the rescore is the same rounded cosine as the exact
# path, NULLS LAST like Spark's desc().
@query(oracle="""
    WITH planes(plane_id, pv) AS (VALUES
        {planes}
    ),
    q AS (
        -- embedding IS NOT NULL everywhere: NULL embeddings can't be
        -- queries (mirrors the declared draw's isNotNull guard)
        SELECT embedding AS qv FROM embeddings
        WHERE embedding IS NOT NULL AND vec_id = COALESCE(
            (SELECT min(vec_id) FROM embeddings
             WHERE vec_id = 0 AND embedding IS NOT NULL),
            (SELECT min(vec_id) FROM embeddings
             WHERE embedding IS NOT NULL))
    ),
    bits AS (
        SELECT e.vec_id, p.plane_id,
               CASE WHEN e.embedding IS NULL THEN FALSE
                    ELSE coalesce(list_aggregate(list_transform(
                             range(1, len(e.embedding) + 1),
                             i -> CAST(e.embedding[i] AS DOUBLE) * pv[i]),
                             'sum'), 0.0) >= 0
               END AS bit
        FROM embeddings e CROSS JOIN planes p
    ),
    qbits AS (
        SELECT p.plane_id,
               coalesce(list_aggregate(list_transform(
                   range(1, len(q.qv) + 1),
                   i -> CAST(q.qv[i] AS DOUBLE) * pv[i]), 'sum'), 0.0) >= 0 AS qbit
        FROM q CROSS JOIN planes p
    ),
    hamm AS (
        SELECT b.vec_id,
               sum(CASE WHEN b.bit <> qb.qbit THEN 1 ELSE 0 END) AS h
        FROM bits b JOIN qbits qb USING (plane_id)
        GROUP BY b.vec_id
    ),
    cand AS (
        SELECT vec_id FROM hamm ORDER BY h ASC, vec_id ASC LIMIT 80
    ),
    rescored AS (
        SELECT e.vec_id,
               round(
                   coalesce(list_aggregate(list_transform(
                       range(1, len(e.embedding) + 1),
                       i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)),
                       'sum'), 0.0)
                   / (sqrt(coalesce(list_aggregate(list_transform(e.embedding,
                          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'), 0.0))
                      * sqrt(coalesce(list_aggregate(list_transform(q.qv,
                          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'), 0.0))),
                   4) + 0.0 AS cosine
        FROM embeddings e JOIN cand ON e.vec_id = cand.vec_id CROSS JOIN q
    )
    SELECT vec_id, cosine FROM rescored
    ORDER BY cosine DESC NULLS LAST, vec_id ASC LIMIT 10
""".format(planes=_lsh_planes_values_sql(48, 64)))
def q_cosine_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-k via the 48-plane random-hyperplane LSH prefilter, for the
    vec_id-0 query vector (lowest id as fallback — same deterministic rule
    as q_ivf_search). FULL ORACLE since r7: the hyperplanes are a pure
    integer-LCG sequence (similarity._hyperplane) inlined as double
    literals into the DuckDB SQL, and r6's raw-float registry validation
    proved DuckDB's sequential list sum bit-equal to Spark's left fold —
    so every sign(v·plane) bit, Hamming rank, candidate cut, and rounded
    rescore is reproduced exactly cross-engine."""
    emb = _t(spark, sf_dir, "embeddings")
    # NULL embeddings can't be queries — same bounded-draw guard as
    # centroid_seeds / ann_recall_curves, mirrored in the oracle's q CTE
    nn = emb.filter(F.col("embedding").isNotNull())
    qrow = nn.filter(F.col("vec_id") == 0).first()
    if qrow is None:
        qrow = nn.orderBy(F.col("vec_id").asc()).first()
    if qrow is None:
        raise ValueError("embeddings table is empty — nothing to search")
    qv = [float(x) for x in qrow["embedding"]]
    return similarity.cosine_topk_lsh(emb, qv, k=10)


# Exact quadratic recompute of the banded-LSH near-dup query: valid as a
# full hash oracle because (a) planted scaled copies are caught by LSH
# with recall exactly 1 (sign(v·plane) is scale-invariant) and (b) no
# natural pair in the synthetic corpus approaches the 0.95 threshold
# (max ≈0.5), so approximate output == exact output deterministically.
# shuffle_budget: band equi-join + pair distinct + 2 re-attach
@query(ref_s=2.4, shuffle_budget=4, oracle="""
    WITH base AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ),
    corpus AS (
        SELECT vec_id, v FROM base
        UNION ALL
        SELECT vec_id + 1000000, list_transform(v, x -> x * 1.5)
        FROM base WHERE vec_id < 20
    )
    SELECT id_a, id_b, cosine FROM (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               round(list_cosine_similarity(a.v, b.v), 4) AS cosine
        FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
    ) WHERE cosine >= 0.95
""")
def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs via BANDED LSH, on a corpus with
    PLANTED duplicates: the synthetic embeddings table is random (max
    natural pair cosine ≈0.5 at sf0.01 — r5 recorded 0 rows), so the
    query augments it with scaled copies (×1.5, id+1000000) of the
    vec_id<20 rows. A scaled copy is exactly parallel (cosine 1.0) and
    sign(v·plane) is scale-invariant, so every planted pair agrees on
    every band — LSH recall for true duplicates is exactly 1 and the
    approximate path's output EQUALS the exact quadratic oracle at
    threshold 0.95, making this hash-checkable end-to-end."""
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias(
            "embedding"
        ),
    )
    twins = emb.filter(F.col("vec_id") < 20).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform(F.col("embedding"), lambda x: x * F.lit(1.5)).alias(
            "embedding"
        ),
    )
    # 8 planes × 2 bands: parallel-vector recall is 1 under ANY banding
    # (the signatures are scale-invariant), and the smaller plane-literal
    # expression tree keeps whole-stage codegen cheap — 12×4 planes
    # measured 4.6 s of fresh-plan JIT at sf0.1 vs ~2 s for 8×2 with the
    # identical (oracle-checked) output
    return similarity.embedding_near_dup_pairs(
        emb.unionByName(twins), threshold=0.95, n_planes=8, n_bands=2
    )


# Full oracle: with BOTH bounded draws (centroid seeds and the recall
# harness's query vectors) on the portable md5-60bit id hash, every tier of the harness is deterministic — exact top-k truth
# (round-6 cosine, id tie-breaks), LSH Hamming-budget candidates
# (integer-LCG plane literals), IVF probe candidates (md5-seeded
# assignment + per-query centroid ranks) — so DuckDB recomputes the
# whole recall report. Every window pins DESC NULLS LAST explicitly
# (Spark's desc() is NULLS LAST; DuckDB's DESC default is not).
# shuffle_budget: evaluation harness: per-tier qid windows + recall joins over tiny
# frames
# py4j_budget: measured 2856; 3-tier recall harness, bounded seed collects
@query(ref_s=3.7, shuffle_budget=18, py4j_budget=5000, oracle="""
    WITH """ + _IVF_SEEDS_SQL.format(n_centroids=8) + """
    , planes(plane_id, pv) AS (VALUES
        {planes}
    ),
    qsel AS (
        SELECT vec_id AS qid, embedding AS qv FROM nn
        ORDER BY CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))
                     AS BIGINT) ASC,
                 vec_id ASC
        LIMIT 3
    ),
    -- round-6 cosine of every (query, corpus) pair except the query row
    -- itself: shared by the truth ranking AND both tiers' rescoring
    pair_cos AS (
        SELECT q.qid, e.vec_id,
               round(
                   coalesce(list_aggregate(list_transform(
                       range(1, len(e.embedding) + 1),
                       i -> CAST(e.embedding[i] AS DOUBLE) * q.qv[i]), 'sum'), 0.0)
                   / (sqrt(coalesce(list_aggregate(list_transform(e.embedding,
                          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'), 0.0))
                      * sqrt(coalesce(list_aggregate(list_transform(q.qv,
                          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'), 0.0))),
                   6) AS cosine
        FROM embeddings e CROSS JOIN qsel q
        WHERE e.vec_id <> q.qid
    ),
    truth AS (
        SELECT qid, vec_id
        FROM (SELECT qid, vec_id,
                     ROW_NUMBER() OVER (PARTITION BY qid
                         ORDER BY cosine DESC NULLS LAST, vec_id ASC) AS rn
              FROM pair_cos)
        WHERE rn <= 10
    ),
    denom AS (SELECT qid, count(*) AS n_truth FROM truth GROUP BY qid),
    -- LSH tier: sign bits vs the 48 plane literals, Hamming rank, budget
    -- cut, rescore by the shared round-6 cosine
    bits AS (
        SELECT e.vec_id, p.plane_id,
               CASE WHEN e.embedding IS NULL THEN FALSE
                    ELSE coalesce(list_aggregate(list_transform(
                             range(1, len(e.embedding) + 1),
                             i -> CAST(e.embedding[i] AS DOUBLE) * pv[i]),
                             'sum'), 0.0) >= 0
               END AS bit
        FROM embeddings e CROSS JOIN planes p
    ),
    qbits AS (
        SELECT q.qid, p.plane_id,
               coalesce(list_aggregate(list_transform(
                   range(1, len(q.qv) + 1),
                   i -> q.qv[i] * pv[i]), 'sum'), 0.0) >= 0 AS qbit
        FROM qsel q CROSS JOIN planes p
    ),
    hamm AS (
        SELECT qb.qid, b.vec_id,
               sum(CASE WHEN b.bit <> qb.qbit THEN 1 ELSE 0 END) AS h
        FROM bits b JOIN qbits qb USING (plane_id)
        GROUP BY qb.qid, b.vec_id
    ),
    lsh_ranked AS (
        SELECT qid, vec_id,
               ROW_NUMBER() OVER (PARTITION BY qid
                   ORDER BY h ASC, vec_id ASC) AS rn_h
        FROM hamm WHERE vec_id <> qid
    ),
    lsh_hits AS (
        SELECT qid, param, vec_id
        FROM (SELECT l.qid, bu.param, l.vec_id,
                     ROW_NUMBER() OVER (PARTITION BY l.qid, bu.param
                         ORDER BY pc.cosine DESC NULLS LAST, l.vec_id ASC) AS rn
              FROM lsh_ranked l
              JOIN (VALUES (16), (64)) bu(param) ON l.rn_h <= bu.param
              JOIN pair_cos pc ON pc.qid = l.qid AND pc.vec_id = l.vec_id)
        WHERE rn <= 10
    ),
    -- IVF tier: per-query centroid ranks over the 8 md5-seeded cells,
    -- candidates from the crank<=n_probe cells, same rescore
    d2q AS (
        SELECT q.qid, s.centroid_id,
               coalesce(list_aggregate(list_transform(
                   range(1, len(s.cv) + 1),
                   i -> (CAST(s.cv[i] AS DOUBLE) - q.qv[i])
                      * (CAST(s.cv[i] AS DOUBLE) - q.qv[i])), 'sum'), 0.0) AS d2
        FROM qsel q CROSS JOIN seeds s
    ),
    cranks AS (
        SELECT qid, centroid_id,
               ROW_NUMBER() OVER (PARTITION BY qid
                   ORDER BY d2 ASC, centroid_id ASC) AS crank
        FROM d2q
    ),
    ivf_hits AS (
        SELECT qid, param, vec_id
        FROM (SELECT c.qid, pr.param, a.vec_id,
                     ROW_NUMBER() OVER (PARTITION BY c.qid, pr.param
                         ORDER BY pc.cosine DESC NULLS LAST, a.vec_id ASC) AS rn
              FROM assigned a
              JOIN cranks c ON a.centroid_id = c.centroid_id
              JOIN (VALUES (1), (4)) pr(param) ON c.crank <= pr.param
              JOIN pair_cos pc ON pc.qid = c.qid AND pc.vec_id = a.vec_id
              WHERE a.vec_id <> c.qid)
        WHERE rn <= 10
    ),
    lsh_recall AS (
        SELECT 'lsh' AS method, g.param,
               round(avg(CASE WHEN coalesce(d.n_truth, 0) = 0 THEN 1.0
                              ELSE coalesce(m.n_hit, 0) / d.n_truth END),
                     4) AS recall
        FROM (SELECT q.qid, bu.param
              FROM qsel q CROSS JOIN (VALUES (16), (64)) bu(param)) g
        LEFT JOIN (SELECT h.qid, h.param, count(*) AS n_hit
                   FROM lsh_hits h
                   JOIN truth t ON t.qid = h.qid AND t.vec_id = h.vec_id
                   GROUP BY h.qid, h.param) m
               ON m.qid = g.qid AND m.param = g.param
        LEFT JOIN denom d ON d.qid = g.qid
        GROUP BY g.param
    ),
    ivf_recall AS (
        SELECT 'ivf' AS method, g.param,
               round(avg(CASE WHEN coalesce(d.n_truth, 0) = 0 THEN 1.0
                              ELSE coalesce(m.n_hit, 0) / d.n_truth END),
                     4) AS recall
        FROM (SELECT q.qid, pr.param
              FROM qsel q CROSS JOIN (VALUES (1), (4)) pr(param)) g
        LEFT JOIN (SELECT h.qid, h.param, count(*) AS n_hit
                   FROM ivf_hits h
                   JOIN truth t ON t.qid = h.qid AND t.vec_id = h.vec_id
                   GROUP BY h.qid, h.param) m
               ON m.qid = g.qid AND m.param = g.param
        LEFT JOIN denom d ON d.qid = g.qid
        GROUP BY g.param
    )
    SELECT method, CAST(param AS INT) AS param, recall FROM (
        SELECT 'brute' AS method, 10 AS param, 1.0 AS recall
        UNION ALL SELECT * FROM lsh_recall
        UNION ALL SELECT * FROM ivf_recall
    ) ORDER BY method, param
""".format(planes=_lsh_planes_values_sql(48, 64)))
def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN recall curves: recall@10 of the LSH candidate-budget tier and
    the IVF probe tier vs exact brute-force, averaged over 3 seeded query
    vectors — the quantified-recall harness the r5 verdict asked for.
    FULL ORACLE since r7 (invariants stay unit-pinned: full budget ⇒
    recall 1, full probes ⇒ recall 1, curves monotone): the query-vector
    draw and centroid seeding both use the portable md5-60bit id hash and
    the LSH planes are integer-LCG literals, so DuckDB recomputes the
    exact truth sets, both candidate tiers, and the averaged recalls."""
    return similarity.ann_recall_curves(
        _t(spark, sf_dir, "embeddings"),
        n_queries=3,
        k=10,
        lsh_budgets=(16, 64),
        ivf_probes=(1, 4),
        n_centroids=8,
    )


@query(oracle="WITH " + _IVF_SEEDS_SQL.format(n_centroids=8) + """
    SELECT centroid_id, CAST(count(*) AS BIGINT) AS n_vectors
    FROM assigned GROUP BY centroid_id
""")
def q_ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF centroid assignment histogram. FULL ORACLE since r7: centroid
    seeding uses the portable md5-60bit id hash (similarity.centroid_seeds)
    and the argmin-of-squared-distance decision is bit-deterministic
    cross-engine (double left-fold == DuckDB sequential list sum, proven
    raw-float-equal across the registry in r6), so DuckDB reproduces the
    exact seed pick, every assignment, and the histogram."""
    assigned = similarity.ivf_assign(_t(spark, sf_dir, "embeddings"), n_centroids=8)
    return assigned.groupBy("centroid_id").agg(F.count(F.lit(1)).alias("n_vectors"))


# shuffle_budget: bigram window + 2 stats aggs + per-doc joins + final agg
@query(ref_s=1.3, shuffle_budget=6, oracle="""
    WITH toks AS (
        SELECT doc_id,
               regexp_extract_all(lower(translate(text, 'İ', 'i')), '[a-z]+|[0-9]+|[^a-z0-9 \\t\\n\\r\\f\\x0b]') AS t
        FROM documents
    ),
    big AS (
        SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
        FROM toks, LATERAL (SELECT unnest(range(1, len(t))) AS i) g
        WHERE len(t) >= 2
    ),
    bstat AS (SELECT w1, w2, count(*) AS cb FROM big GROUP BY 1, 2),
    cstat AS (SELECT w1, count(*) AS cc FROM big GROUP BY 1),
    vocab AS (
        SELECT count(DISTINCT w) AS v
        FROM (SELECT unnest(t) AS w FROM toks)
    ),
    scored AS (
        SELECT b.doc_id,
               ln(CAST(s.cb + 1 AS DOUBLE) / CAST(c.cc + v.v AS DOUBLE)) AS lp
        FROM big b
        JOIN bstat s USING (w1, w2)
        JOIN cstat c USING (w1)
        CROSS JOIN vocab v
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           round(avg(lp), 4) AS avg_logprob
    FROM scored GROUP BY doc_id
""")
def q_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean bigram log-probability under the corpus's own
    add-one-smoothed bigram LM — the statistical-LM quality signal for
    ranking/filtering training documents (see
    operators/text.py:bigram_logprob for the shared-stage plan shape)."""
    return text.bigram_logprob(_t(spark, sf_dir, "documents"))


# shuffle_budget: one conditional-sum aggregate
@query(ref_s=0.55, shuffle_budget=1, oracle="""
    WITH flags AS (
        SELECT
            (length(trim(text)) > 0) AS p1,
            len(regexp_extract_all(lower(translate(text, 'İ', 'i')), '[a-z]+|[0-9]+|[^a-z0-9 \\t\\n\\r\\f\\x0b]')) AS nt,
            list_aggregate(list_transform(
                regexp_extract_all(lower(translate(text, 'İ', 'i')), '[a-z]+|[0-9]+|[^a-z0-9 \\t\\n\\r\\f\\x0b]'),
                x -> length(x)), 'sum') AS sum_len,
            len(list_filter(
                regexp_extract_all(lower(translate(text, 'İ', 'i')), '[a-z]+|[0-9]+|[^a-z0-9 \\t\\n\\r\\f\\x0b]'),
                x -> NOT regexp_matches(x, '^[a-z0-9]'))) AS n_punct
        FROM documents
    ),
    staged AS (
        SELECT p1,
               (p1 AND nt >= 5) AS p2,
               (p1 AND nt >= 5 AND sum_len <= nt * 12) AS p3,
               (p1 AND nt >= 5 AND sum_len <= nt * 12
                   AND n_punct * 2 <= nt) AS p4
        FROM flags
    ),
    agg AS (
        SELECT count(*) AS c0,
               CAST(coalesce(sum(CASE WHEN p1 THEN 1 ELSE 0 END), 0) AS BIGINT) AS c1,
               CAST(coalesce(sum(CASE WHEN p2 THEN 1 ELSE 0 END), 0) AS BIGINT) AS c2,
               CAST(coalesce(sum(CASE WHEN p3 THEN 1 ELSE 0 END), 0) AS BIGINT) AS c3,
               CAST(coalesce(sum(CASE WHEN p4 THEN 1 ELSE 0 END), 0) AS BIGINT) AS c4
        FROM staged
    )
    SELECT 'all' AS stage, 0 AS stage_idx, c0 AS n_docs FROM agg
    UNION ALL SELECT 'nonempty', 1, c1 FROM agg
    UNION ALL SELECT 'min_tokens', 2, c2 FROM agg
    UNION ALL SELECT 'token_len', 3, c3 FROM agg
    UNION ALL SELECT 'punct', 4, c4 FROM agg
""")
def q_quality_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential quality-filter acceptance funnel over documents — five
    survivor counts (all → nonempty → ≥5 tokens → sane token length →
    sane punctuation) from ONE conditional-sum aggregate over one scan;
    every predicate is integer arithmetic (no FP), see
    operators/text.py:quality_filter_funnel."""
    return text.quality_filter_funnel(_t(spark, sf_dir, "documents"))


# shuffle_budget: bigrams are a projection (no token window shuffle); df agg + join
# back/per-doc agg
@query(ref_s=1.04, shuffle_budget=2, oracle="""
    WITH toks AS (
        SELECT doc_id,
               regexp_extract_all(lower(translate(text, 'İ', 'i')), '[a-z]+|[0-9]+|[^a-z0-9 \\t\\n\\r\\f\\x0b]') AS t
        FROM documents
    ),
    big AS (
        SELECT DISTINCT doc_id, t[i] || ' ' || t[i + 1] AS sh
        FROM toks, LATERAL (SELECT unnest(range(1, len(t))) AS i) g
        WHERE len(t) >= 2
    ),
    dfreq AS (SELECT sh, count(*) AS df FROM big GROUP BY sh)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_shingles,
           round(CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
               / count(*), 4) AS dup_frac
    FROM big JOIN dfreq USING (sh)
    GROUP BY doc_id
""")
def q_dup_ngram_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc fraction of distinct token bigrams shared with ANY other
    document (ExactSubstr-lite boilerplate signal) — corpus-wide with no
    quadratic join (see operators/text.py:dup_ngram_fraction)."""
    return text.dup_ngram_fraction(_t(spark, sf_dir, "documents"))


# shuffle_budget: bigram stats + 2 marginal re-aggs of the checkpointed stats
@query(ref_s=0.86, shuffle_budget=3, oracle="""
    WITH toks AS (
        SELECT doc_id,
               regexp_extract_all(lower(translate(text, 'İ', 'i')), '[a-z]+|[0-9]+|[^a-z0-9 \\t\\n\\r\\f\\x0b]') AS t
        FROM documents
    ),
    big AS (
        SELECT t[i] AS w1, t[i + 1] AS w2
        FROM toks, LATERAL (SELECT unnest(range(1, len(t))) AS i) g
        WHERE len(t) >= 2
    ),
    bstat AS (SELECT w1, w2, count(*) AS cb FROM big GROUP BY 1, 2),
    l AS (SELECT w1, CAST(sum(cb) AS BIGINT) AS cl FROM bstat GROUP BY 1),
    r AS (SELECT w2, CAST(sum(cb) AS BIGINT) AS cr FROM bstat GROUP BY 1),
    n AS (SELECT CAST(sum(cb) AS BIGINT) AS nn FROM bstat)
    SELECT w1, w2, cb AS n_pair,
           round(ln(CAST(nn * cb AS DOUBLE) / CAST(cl * cr AS DOUBLE)), 4) AS pmi
    FROM bstat JOIN l USING (w1) JOIN r USING (w2) CROSS JOIN n
    WHERE cb >= 5
    ORDER BY pmi DESC, w1, w2 LIMIT 20
""")
def q_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 bigram collocations by PMI (min count 5) — exact integer
    counts, one rounded ln, total-order tie-break (see
    operators/text.py:pmi_collocations)."""
    return text.pmi_collocations(_t(spark, sf_dir, "documents"), min_count=5, k=20)


# shuffle_budget: doc window + distinct + span window/join + pair agg
@query(ref_s=1.9, shuffle_budget=5, oracle="""
    WITH toks AS (
        SELECT doc_id,
               regexp_extract_all(lower(translate(text, 'İ', 'i')), '[a-z]+|[0-9]+|[^a-z0-9 \\t\\n\\r\\f\\x0b]') AS t
        FROM documents
    ),
    spans AS (
        SELECT DISTINCT doc_id,
               array_to_string(list_slice(t, i, i + 7), ' ') AS span
        FROM toks, LATERAL (SELECT unnest(range(1, len(t) - 7 + 1)) AS i) g
        WHERE len(t) >= 8
    ),
    kept AS (
        SELECT doc_id, span FROM spans
        QUALIFY count(*) OVER (PARTITION BY span) <= 16
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           count(*) AS n_spans
    FROM kept a JOIN kept b ON a.span = b.span AND a.doc_id < b.doc_id
    GROUP BY 1, 2
""")
def q_shared_span_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc pairs sharing a verbatim 8-token span (exact-substring dedup
    evidence) over the WHOLE corpus — safe unfenced because the join is
    span-keyed with a hot-span cap, not an all-pairs quadratic (see
    operators/dedup.py:shared_span_pairs)."""
    return dedup.shared_span_pairs(
        _t(spark, sf_dir, "documents"), span_tokens=8, max_span_docs=16
    )


# shuffle_budget: (q,bucket) local top-k window + q-keyed final window
@query(ref_s=0.7, shuffle_budget=2, oracle="""
    WITH q AS (
        SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < 8
    ),
    scored AS (
        SELECT q.q_id, e.vec_id AS neighbor_id,
               round(
                   list_aggregate(list_transform(range(1, len(e.embedding) + 1),
                       i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)), 'sum')
                   / (sqrt(list_aggregate(list_transform(e.embedding,
                          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
                      * sqrt(list_aggregate(list_transform(q.qv,
                          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))),
               4) + 0.0 AS cosine
        FROM embeddings e JOIN q ON e.vec_id <> q.q_id
    ),
    ranked AS (
        SELECT q_id, neighbor_id, cosine,
               row_number() OVER (PARTITION BY q_id
                   ORDER BY cosine DESC NULLS LAST, neighbor_id ASC) AS rank
        FROM scored
    )
    SELECT q_id, neighbor_id, rank, cosine FROM ranked WHERE rank <= 5
""")
def q_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch exact k-NN join (8 query vectors × top-5 cosine neighbors)
    via broadcast-queries + two-level distributed top-k (see
    operators/similarity.py:knn_join)."""
    return similarity.knn_join(
        _t(spark, sf_dir, "embeddings"), n_queries=8, k=5
    )


# shuffle_budget: (label,dim) centroid agg + label re-aggs; corpus never exchanged
@query(ref_s=0.5, shuffle_budget=5, oracle="""
    WITH ex AS (
        SELECT label, generate_subscripts(embedding, 1) AS dim,
               unnest(embedding) AS x
        FROM embeddings
    ),
    cent AS (
        SELECT label, dim, round(avg(CAST(x AS DOUBLE)), 6) + 0.0 AS c
        FROM ex GROUP BY 1, 2
    ),
    cent_arr AS (
        SELECT label, list(c ORDER BY dim) AS cv FROM cent GROUP BY 1
    ),
    member AS (
        SELECT e.label,
               round(
                   list_aggregate(list_transform(range(1, len(e.embedding) + 1),
                       i -> CAST(e.embedding[i] AS DOUBLE) * ca.cv[i]), 'sum')
                   / (sqrt(list_aggregate(list_transform(e.embedding,
                          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
                      * sqrt(list_aggregate(list_transform(ca.cv,
                          x -> x * x), 'sum'))),
               4) + 0.0 AS cos4
        FROM embeddings e JOIN cent_arr ca ON e.label = ca.label
    ),
    norms AS (
        SELECT label,
               round(sqrt(list_aggregate(list_transform(cv, x -> x * x), 'sum')),
                     4) + 0.0 AS centroid_norm
        FROM cent_arr
    )
    SELECT m.label, count(*) AS n_vecs, any_value(n.centroid_norm) AS centroid_norm,
           round(avg(cos4), 4) + 0.0 AS avg_cos,
           quantile_disc(cos4, 0.5) AS p50_cos,
           min(cos4) AS min_cos
    FROM member m JOIN norms n ON m.label = n.label
    GROUP BY 1
""")
def q_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid + member-cosine cohesion profile
    (see operators/similarity.py:label_centroid_profile)."""
    return similarity.label_centroid_profile(_t(spark, sf_dir, "embeddings"))


# shuffle_budget: (source,lang) agg + 1-row total re-agg (broadcast back)
@query(ref_s=0.37, shuffle_budget=3, oracle="""
    WITH per_cell AS (
        SELECT source, lang,
               count(*) AS n_docs,
               CAST(coalesce(sum(len(regexp_extract_all(
                   lower(translate(text, 'İ', 'i')),
                   '[a-z]+|[0-9]+|[^a-z0-9 \\t\\n\\r\\f\\x0b]'))), 0) AS BIGINT) AS total_tokens,
               round(avg(n_chars), 4) AS avg_chars
        FROM documents GROUP BY source, lang
    ),
    tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS corpus_docs FROM per_cell)
    SELECT source, lang, n_docs, total_tokens, avg_chars,
           round(n_docs * 100.0 / corpus_docs, 2) AS share_pct
    FROM per_cell, tot
""")
def q_corpus_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixture composition report per (source, lang): docs, BPE
    token totals, and each cell's share of the corpus — one grouped
    aggregate + a 1-row broadcast total (see
    operators/text.py:corpus_mix_report)."""
    return text.corpus_mix_report(_t(spark, sf_dir, "documents"))


# shuffle_budget: label agg + 1-row totals re-agg (broadcast back)
@query(ref_s=0.32, shuffle_budget=3, oracle="""
    WITH per_class AS (SELECT label, count(*) AS n FROM embeddings GROUP BY label),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS total, count(*) AS k FROM per_class)
    SELECT label, n,
           round(CAST(total AS DOUBLE) / (k * n), 4) AS inv_weight,
           round(sqrt(CAST(total AS DOUBLE) / n), 4) AS sqrt_inv_weight
    FROM per_class, tot
""")
def q_class_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label inverse-frequency and sqrt-inverse training weights over
    the embeddings labels (see operators/sampling.py:class_balance_weights)."""
    return sampling.class_balance_weights(
        _t(spark, sf_dir, "embeddings"), "label"
    )


# shuffle_budget: range exchange (prefix sum) + P-row offsets + shard agg
@query(ref_s=0.99, shuffle_budget=3, oracle="""
    WITH toks AS (
        SELECT doc_id,
               coalesce(len(regexp_extract_all(
                   lower(translate(text, 'İ', 'i')),
                   '[a-z]+|[0-9]+|[^a-z0-9 \\t\\n\\r\\f\\x0b]')), 0) AS n_tokens
        FROM documents WHERE doc_id IS NOT NULL
    ),
    cum AS (
        SELECT doc_id, n_tokens,
               sum(n_tokens) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
        FROM toks
    )
    SELECT CAST((cum_tokens - n_tokens) // 1000 AS BIGINT) AS shard_id,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS shard_tokens,
           min(doc_id) AS first_id,
           max(doc_id) AS last_id
    FROM cum GROUP BY 1
""")
def q_token_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget shard plan (~1000 BPE tokens per shard) via the
    distributed prefix-sum pattern — the input-shard packing plan of a
    training-data pipeline (see operators/sampling.py:token_budget_shards)."""
    return sampling.token_budget_shards(
        _t(spark, sf_dir, "documents"), budget_tokens=1000
    )


@query(ref_s=0.19, shuffle_budget=1, oracle="""
        SELECT lang,
               count(doc_id) AS n_docs,
               round(avg(n_chars), 4) AS avg_chars,
               CAST(sum(CASE WHEN trim(text) = '' THEN 0
                        ELSE len(regexp_split_to_array(trim(text), '[ \\t\\n\\r\\f\\x0b]+')) END) AS BIGINT)
                   AS total_tokens
        FROM documents GROUP BY lang
    """)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.text_stats_by_lang(_t(spark, sf_dir, "documents"))


@query(ref_s=0.17, shuffle_budget=0, oracle="""
        SELECT doc_id,
               len(text) AS len_chars,
               CAST(CASE WHEN trim(text) = '' THEN 0
                    ELSE len(regexp_split_to_array(trim(text), '[ \\t\\n\\r\\f\\x0b]+')) END AS BIGINT) AS n_tokens,
               round(len(text) / greatest(
                   CASE WHEN trim(text) = '' THEN 0
                        ELSE len(regexp_split_to_array(trim(text), '[ \\t\\n\\r\\f\\x0b]+')) END, 1), 4) AS mean_token_len,
               round(len(regexp_replace(text, '[^.,;:!?]', '', 'g')) / greatest(len(text), 1), 4) AS punct_ratio,
               round(len(list_filter(string_split_regex(lower(text), '[ \\t\\n\\r\\f\\x0b]+'),
                         x -> x IN ('the','and','of','to','is','a','in','that','it','for')))
                   / greatest(CASE WHEN trim(text) = '' THEN 0
                        ELSE len(regexp_split_to_array(trim(text), '[ \\t\\n\\r\\f\\x0b]+')) END, 1), 4) AS stopword_ratio,
               round(len(regexp_replace(text, '[^A-Z]', '', 'g')) / greatest(len(text), 1), 4) AS upper_ratio
        FROM documents
    """)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.text_quality_features(_t(spark, sf_dir, "documents")).select(
        "doc_id",
        "len_chars",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "mean_token_len",
        "punct_ratio",
        "stopword_ratio",
        "upper_ratio",
    )


@query(oracle="""
        SELECT doc_id,
               CAST(CASE WHEN trim(text) = '' THEN 0
                    ELSE len(regexp_split_to_array(trim(text), '[ \\t\\n\\r\\f\\x0b]+')) END AS BIGINT) AS n_ws_tokens,
               CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n\\r\\f\\x0b]')) AS BIGINT) AS n_bpe_tokens
        FROM documents
    """)
def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        text.whitespace_token_count("text").cast("long").alias("n_ws_tokens"),
        text.bpe_ish_token_count("text").cast("long").alias("n_bpe_tokens"),
    )


# shuffle_budget: pure regex projections
@query(shuffle_budget=0, oracle="""
        WITH scores AS (
            SELECT doc_id,
                   CAST((len(p) - len(replace(p, ' the ', ''))) / 5
                      + (len(p) - len(replace(p, ' and ', ''))) / 5
                      + (len(p) - len(replace(p, ' of ', ''))) / 4
                      + (len(p) - len(replace(p, ' to ', ''))) / 4
                      + (len(p) - len(replace(p, ' is ', ''))) / 4 AS INT) AS s_en,
                   CAST((len(p) - len(replace(p, ' el ', ''))) / 4
                      + (len(p) - len(replace(p, ' la ', ''))) / 4
                      + (len(p) - len(replace(p, ' de ', ''))) / 4
                      + (len(p) - len(replace(p, ' que ', ''))) / 5
                      + (len(p) - len(replace(p, ' los ', ''))) / 5 AS INT) AS s_es,
                   CAST((len(p) - len(replace(p, ' der ', ''))) / 5
                      + (len(p) - len(replace(p, ' die ', ''))) / 5
                      + (len(p) - len(replace(p, ' und ', ''))) / 5
                      + (len(p) - len(replace(p, ' das ', ''))) / 5
                      + (len(p) - len(replace(p, ' ist ', ''))) / 5 AS INT) AS s_de,
                   CAST((len(p) - len(replace(p, ' le ', ''))) / 4
                      + (len(p) - len(replace(p, ' la ', ''))) / 4
                      + (len(p) - len(replace(p, ' et ', ''))) / 4
                      + (len(p) - len(replace(p, ' les ', ''))) / 5
                      + (len(p) - len(replace(p, ' des ', ''))) / 5 AS INT) AS s_fr
            FROM (SELECT doc_id, concat(' ', lower(coalesce(text, '')), ' ') AS p
                  FROM documents)
        )
        SELECT doc_id,
               CASE WHEN greatest(s_en, s_es, s_de, s_fr) <= 0 THEN 'und'
                    WHEN s_fr >= s_en AND s_fr >= s_es AND s_fr >= s_de THEN 'fr'
                    WHEN s_es >= s_en AND s_es >= s_de THEN 'es'
                    WHEN s_en >= s_de THEN 'en'
                    ELSE 'de' END AS pred_lang,
               CAST(greatest(s_en, s_es, s_de, s_fr) AS BIGINT) AS lang_score
        FROM scores
    """)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.language_id_heuristic(_t(spark, sf_dir, "documents")).select(
        "doc_id", "pred_lang", F.col("lang_score").cast("long").alias("lang_score")
    )


@query(shuffle_budget=0, oracle="""
        SELECT doc_id,
               md5(text) AS fingerprint,
               CAST(strpos('0123456789abcdef', substr(md5(text), 1, 1)) - 1 AS BIGINT) AS fp_bucket
        FROM documents
    """)
def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.fingerprint_md5(_t(spark, sf_dir, "documents")).select(
        "doc_id", "fingerprint", F.col("fp_bucket").cast("long").alias("fp_bucket")
    )


@query(oracle="""
    SELECT doc_id,
           list_min(list_transform(
               range(1, greatest(length(text) - 15, 1) + 1),
               i -> CAST(('0x' || substr(md5(substr(text, CAST(i AS INT), 16)),
                                         1, 15)) AS BIGINT)
           )) AS robust_fingerprint
    FROM documents
""")
def q_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint (min md5-60 hash over 16-char shingles of the
    RAW text — no lowering, so no case-fold divergence surface), under a
    full oracle: DuckDB recomputes every shingle hash and the min."""
    return text.rolling_hash_fingerprint(
        _t(spark, sf_dir, "documents")
    ).select("doc_id", "robust_fingerprint")


# shuffle_budget: one user-keyed window
@query(ref_s=0.56, shuffle_budget=1, oracle="""
        WITH norm AS (
            SELECT user_id, event_id, date_trunc('microseconds', ts) AS ts FROM events
        ),
        gaps AS (
            SELECT user_id, event_id, ts,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 2 * 60 * 1000
                        THEN 1 ELSE 0 END AS is_new
            FROM norm
            WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
        ),
        sess AS (
            SELECT user_id, event_id, ts,
                   CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
            FROM gaps
        )
        SELECT user_id, session_seq,
               count(event_id) AS n_events,
               min(ts) AS session_start,
               max(ts) AS session_end
        FROM sess GROUP BY user_id, session_seq
    """)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization, 2-minute inactivity gap — the events tables
    span ~43 minutes, so a 30-minute gap would degenerate to one session
    per user; 2 minutes exercises real session breaks at every SF."""
    return stream_windows.sessionize_batch(_t(spark, sf_dir, "events"), gap_minutes=2)


# shuffle_budget: mapInPandas over a local table — no exchange
@query(ref_s=0.5, shuffle_budget=0, python_stage=True, no_plan=True,
       oracle=_media_features_oracle(48))
def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: binary payloads → mapInPandas feature extraction
    (decode stubbed; plumbing real). FULL ORACLE since r7: the stub is
    deterministic, so the expected rows — including the feature vector,
    surfaced as recovered digest bytes (``round(x*255)`` inverts the
    stub's ``b/255.0`` through the float32 roundtrip exactly) — are
    reconstructed Python-side and embedded as a VALUES oracle (DuckDB's
    sha256 is VARCHAR-only, so blob digests can't be recomputed
    in-engine)."""
    media = multimodal.synthetic_media(spark, n=48)
    return multimodal.extract_features(media).select(
        "media_id",
        "media_type",
        "payload_bytes",
        "sha256",
        F.array_join(
            F.transform(
                F.col("feature"),
                lambda x: F.round(x.cast("double") * 255).cast("int").cast("string"),
            ),
            ",",
        ).alias("feature_bytes"),
    )


# Streaming full oracles: drained stream state == batch recompute (the
# staging/watermark choices in each query guarantee no late drops — see
# the query docstrings).
@query(no_plan=True, oracle="""
    -- WHERE mirrors the streaming window(ts, ...): NULL event time has
    -- no window and never enters watermarked state (r14 nulls row)
    SELECT date_trunc('hour', ts) AS window_start, event_type,
           count(event_id) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
    FROM events WHERE ts IS NOT NULL
    GROUP BY date_trunc('hour', ts), event_type
""")
def q_streaming_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming tumbling-window counts driven to completion via
    the memory sink (update mode) — FULL ORACLE: the staged slices are
    time-ordered, so the 10-minute watermark never drops a row, and the
    final per-key snapshot (arg-max by the monotone count) must equal the
    batch recompute exactly — streaming correctness is hash-checked, not
    just rows-counted."""
    # file-stream source needs a DIRECTORY; stage as 4 sequential time
    # slices so maxFilesPerTrigger=1 yields multiple in-order batches
    # (watermark advances between batches, exercising state cleanup,
    # without late-dropping anything)
    stage_dir = _scratch("events_stream")
    stream_windows.stage_time_ordered_stream(
        spark, os.path.join(sf_dir, "events.parquet"), stage_dir
    )
    stream = stream_windows.read_events_stream(spark, stage_dir)
    agg = stream_windows.windowed_event_counts(stream, "1 hour", "10 minutes")
    out = stream_windows.run_stream_to_memory(
        spark, agg, "q_streaming_tumbling_sink", output_mode="update", no_data_batches=False
    )
    # update-mode sink holds every intermediate emission; the final state
    # per key is the row with the largest (strictly increasing) count
    return out.groupBy("window_start", "event_type").agg(
        F.max("n").alias("n"),
        F.expr("max_by(sum_value, n)").alias("sum_value"),
    )


_SESS_SENTINEL_USER = -(2**62)  # no generated or hostile fixture uses it


# Streaming sessionization: the sentinel-drained sink closes EVERY
# session, so the stream must equal the batch gap-split recompute —
# q_sessionize's oracle minus the session_seq surrogate, with count(*)
# (the stream counts rows, not non-null event_ids) and ts IS NOT NULL
# (NULL-ts rows never pass the time-range slice predicates, so they never
# enter the stream).
@query(python_stage=True, no_plan=True, oracle="""
    WITH norm AS (
        SELECT user_id, event_id, date_trunc('microseconds', ts) AS ts
        FROM events WHERE ts IS NOT NULL
    ),
    gaps AS (
        SELECT user_id, event_id, ts,
               -- epoch_us, not epoch_ms: the stateful operator compares
               -- inter-event gaps in integer MICROSECONDS
               CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 2 * 60 * 1000000
                    THEN 1 ELSE 0 END AS is_new
        FROM norm
        WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    ),
    sess AS (
        SELECT user_id, ts,
               CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
        FROM gaps
    )
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) AS session_end,
           CAST(count(*) AS BIGINT) AS n_events
    FROM sess GROUP BY user_id, session_seq
""")
def q_streaming_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState): per-user
    sessions with event-time timeout. Closed sessions agree with the batch
    sessionizer (asserted in tests/test_operators.py).

    FULL ORACLE since r8, via a watermark-past-end DRAIN: a sentinel event
    (user ``_SESS_SENTINEL_USER``, ts = max + 3×gap) is appended as the
    stream's final slice, so after it the watermark (sentinel − gap) sits
    beyond every real session's ``last_event + gap`` timeout and the
    no-data micro-batch closes ALL remaining sessions before the drive
    ends. With every session closed, the drained sink (sentinel filtered
    back out) must equal the batch gap-split recompute — the same
    drained==batch discipline as q_streaming_dedup. ``total_value`` is
    projected away: it is a Python-side left-fold double whose tie order
    is arrival order, the one field with no portable recompute; the
    stateful semantics under test (session boundaries and sizes) are the
    grouping keys and counts. NULL-ts rows never enter the stream (the
    time-range slice predicates exclude them), mirrored in the oracle.

    gap=2 minutes: the generated events tables span ~43 minutes, so a gap
    of 30 minutes could never close a session in append mode (a timeout
    fires only when the watermark passes last_event+gap — needs a span of
    at least 2x the gap); 2 minutes produces real closures at every SF."""
    from pyspark.sql import types as T

    stage_dir = _scratch("events_stream_sess")
    # sequentially-written time slices → the file source replays an
    # in-order stream (see stage_time_ordered_stream docstring)
    stream_windows.stage_time_ordered_stream(
        spark, os.path.join(sf_dir, "events.parquet"), stage_dir
    )
    # the drain sentinel, appended AFTER the last data slice (sequential
    # write → latest mtime → replayed last by the file source)
    ev = _t(spark, sf_dir, "events")
    hi_us = ev.agg(F.max(F.unix_micros(F.col("ts")))).first()[0]
    if hi_us is None:
        # all-NULL ts: stage_time_ordered_stream raises the same way, but
        # the sentinel math must not depend on that call ordering
        raise ValueError(
            f"{sf_dir}/events.parquet: events table has no non-NULL ts — "
            "nothing to sessionize"
        )
    gap_us = 2 * 60 * 1_000_000
    sentinel = spark.createDataFrame(
        [(2**62, _SESS_SENTINEL_USER, "drain", None, None)],
        T.StructType(
            [
                T.StructField("event_id", T.LongType()),
                T.StructField("user_id", T.LongType()),
                T.StructField("event_type", T.StringType()),
                T.StructField("props", T.StringType()),
                T.StructField("value", T.DoubleType()),
            ]
        ),
    ).withColumn("ts", F.timestamp_micros(F.lit(int(hi_us) + 3 * gap_us)))
    sentinel.select([f.name for f in ev.schema.fields]).coalesce(1).write.mode(
        "append"
    ).parquet(stage_dir)
    stream = stream_windows.read_events_stream(spark, stage_dir)
    sess = stream_windows.sessionize_stream(stream, gap_minutes=2)
    out = stream_windows.run_stream_to_memory(
        spark, sess, "q_streaming_sessionize_sink", output_mode="append"
    )
    # eqNullSafe: a NULL user_id is a real (groupable) session key — plain
    # != would evaluate NULL and silently drop its sessions (caught by the
    # nulls sweep)
    return out.filter(~F.col("user_id").eqNullSafe(_SESS_SENTINEL_USER)).select(
        "user_id", "session_start", "session_end", "n_events"
    )


# shuffle_budget: key-partitioned full-outer merge
@query(ref_s=0.43, shuffle_budget=2, oracle="""
        WITH base AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
        upd AS (
            SELECT o_orderkey, 'U' AS o_orderstatus, o_totalprice * 2 AS o_totalprice
            FROM base WHERE o_orderkey % 100 = 0
            UNION ALL
            SELECT o_orderkey + 10000000, 'N', 1.0 FROM base WHERE o_orderkey % 1000 = 0
        )
        SELECT coalesce(u.o_orderkey, b.o_orderkey) AS o_orderkey,
               CASE WHEN u.o_orderkey IS NOT NULL THEN u.o_orderstatus
                    ELSE b.o_orderstatus END AS o_orderstatus,
               CASE WHEN u.o_orderkey IS NOT NULL THEN u.o_totalprice
                    ELSE b.o_totalprice END AS o_totalprice
        FROM base b FULL OUTER JOIN upd u ON b.o_orderkey = u.o_orderkey
    """)
def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE/upsert over the orders table: keys %100==0 updated (status 'U',
    price doubled), keys %1000==0 re-inserted as new rows — the incremental
    replacement for the reference's daily full overwrite. Full oracle (the
    same full-outer-join rewrite in SQL)."""
    base = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    updates = base.filter(F.col("o_orderkey") % 100 == 0).select(
        "o_orderkey",
        F.lit("U").alias("o_orderstatus"),
        (F.col("o_totalprice") * 2).alias("o_totalprice"),
    ).unionByName(
        base.filter(F.col("o_orderkey") % 1000 == 0).select(
            (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"),
            F.lit("N").alias("o_orderstatus"),
            F.lit(1.0).alias("o_totalprice"),
        )
    )
    return lake.merge_upsert(base, updates, ["o_orderkey"])


@query(oracle="""
        SELECT o_orderpriority, count(l_orderkey) AS n_lineitems,
               CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY o_orderpriority
    """)
def q_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located join: both sides staged as bucketed tables on the
    join key, so the join itself needs NO exchange (asserted in tests) —
    the 100 TB answer for a join repeated every pipeline run. Result is
    identical to the plain join → full oracle."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice"
    )
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    lake.write_bucketed(
        li, "b_lineitem", "l_orderkey", 8, _scratch("b_lineitem")
    )
    lake.write_bucketed(
        orders, "b_orders", "o_orderkey", 8, _scratch("b_orders")
    )
    bl, bo = spark.table("b_lineitem"), spark.table("b_orders")
    joined = bl.join(bo, bl.l_orderkey == bo.o_orderkey, "inner")
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.col("l_orderkey")).alias("n_lineitems"),
        F.sum(F.col("l_quantity").cast("decimal(18,4)")).cast("double").alias("sum_qty"),
    )


# shuffle_budget: tf/df/len aggs over ONE text scan (plan-tested)
@query(ref_s=0.94, shuffle_budget=6, oracle="""
    WITH tokens AS (
        SELECT doc_id, t.token AS term
        FROM documents, unnest(string_split(text, ' ')) AS t(token)
        WHERE length(t.token) > 0
    ),
    doclen AS (SELECT doc_id, count(*) AS dl FROM tokens GROUP BY doc_id),
    avgdl AS (
        SELECT round(CAST(sum(dl) AS DOUBLE) / count(*), 6) AS avgdl FROM doclen
    ),
    n AS (SELECT count(*) AS n_docs FROM documents),
    tf AS (
        SELECT doc_id, term, count(*) AS tf FROM tokens
        WHERE term IN ('spark', 'join', 'data') GROUP BY doc_id, term
    ),
    idf AS (
        SELECT term,
               round(ln(1.0 + (n_docs - count(*) + 0.5) / (count(*) + 0.5)), 6) AS idf
        FROM tf, n GROUP BY term, n_docs
    )
    SELECT tf.doc_id,
           CAST(round(sum(CAST(round(
               idf.idf * (tf.tf * 2.2)
               / (tf.tf + 1.2 * (0.25 + 0.75 * doclen.dl / avgdl.avgdl)), 6)
           AS DECIMAL(18,6))), 4) AS DOUBLE) AS bm25
    FROM tf
    JOIN doclen ON tf.doc_id = doclen.doc_id
    JOIN idf ON tf.term = idf.term
    CROSS JOIN avgdl
    GROUP BY tf.doc_id
""")
def q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 relevance scoring against a fixed query-term set — the
    retrieval-quality twin of q_tfidf (text.py:bm25_scores has the plan
    shape). Full oracle: same Lucene-idf formula in SQL with identical
    rounding discipline."""
    return text.bm25_scores(
        _t(spark, sf_dir, "documents"), query_terms=["spark", "join", "data"]
    )


# shuffle_budget: (doc,token) agg then doc agg
@query(ref_s=0.25, shuffle_budget=2, oracle="""
    WITH tokens AS (
        SELECT doc_id, t.token AS token
        FROM documents, unnest(string_split(text, ' ')) AS t(token)
        WHERE length(t.token) > 0
    ),
    counts AS (SELECT doc_id, token, count(*) AS c FROM tokens GROUP BY doc_id, token)
    SELECT doc_id,
           CAST(sum(c) AS BIGINT) AS n_tokens,
           round(ln(sum(c)) - CAST(sum(CAST(round(c * ln(c), 6) AS DECIMAL(18,6)))
                                   AS DOUBLE) / sum(c), 4) + 0.0 AS entropy_nats
    FROM counts GROUP BY doc_id
""")
def q_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Shannon entropy of the token distribution (nats) — the
    repetition/diversity quality signal; H = ln(n) - sum(c*ln c)/n over
    (doc, token) counts, decimal-summed components."""
    return text.token_entropy(_t(spark, sf_dir, "documents"))


# shuffle_budget: projection + TakeOrdered
@query(ref_s=0.19, shuffle_budget=0, oracle="""
    SELECT doc_id, n_chars AS weight,
           round(ln((CAST(('0x' || substr(md5(concat_ws(':', CAST(doc_id AS VARCHAR),
                                                        'wsample-v1')), 1, 13))
                          AS BIGINT) + 1.0) / 4503599627370496.0)
                 / CAST(n_chars AS DOUBLE), 8) AS es_key
    FROM documents
    WHERE n_chars > 0
    ORDER BY es_key DESC, doc_id ASC
    LIMIT 50
""")
def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement (Efraimidis-
    Spirakis keys from md5 draws, weight = document length) — top-50
    importance-weighted corpus selection, reproducible on any engine or
    partitioning."""
    return sampling.weighted_hash_sample(
        _t(spark, sf_dir, "documents"), weight_col="n_chars", k=50
    )


@query(ref_s=0.9, shuffle_budget=1, oracle="""
    WITH final AS (
        SELECT o_orderkey, o_orderstatus,
               CASE WHEN o_orderstatus = 'F' THEN o_totalprice * 2
                    ELSE o_totalprice END AS o_totalprice
        FROM orders
    )
    SELECT o_orderstatus,
           count(o_orderkey) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_price
    FROM final GROUP BY o_orderstatus
""")
def q_partition_overwrite_dynamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition overwrite end-to-end: orders staged hive-
    partitioned by status, then ONLY the 'F' partition rewritten (prices
    doubled) via partitionOverwriteMode=dynamic — other partitions' files
    untouched (the incremental-refresh write the reference's daily full
    overwrite lacks). Oracle = declarative recompute of the expected final
    table state."""
    path = _scratch("orders_dynpart")
    base = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    lake.write_parquet(base, path, partition_by=["o_orderstatus"])
    delta = base.filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey",
        "o_orderstatus",
        (F.col("o_totalprice") * 2).alias("o_totalprice"),
    )
    lake.write_partitioned_dynamic(delta, path, ["o_orderstatus"])
    final = spark.read.parquet(path)
    return final.groupBy("o_orderstatus").agg(
        F.count(F.col("o_orderkey")).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
        .cast("double")
        .alias("total_price"),
    )


# shuffle_budget: read-back of the published table
@query(ref_s=4.01, shuffle_budget=0, always_3=True, oracle="""
    SELECT user_id,
           count(event_id) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
    FROM events GROUP BY user_id
""")
def q_streaming_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming aggregate → foreachBatch MERGE into a versioned lake table
    (the Delta `foreachBatch + MERGE` pattern on this repo's versioned-
    parquet layer, streaming/sinks.py). Update-mode per-user running
    totals; after the stream drains, the published table state must equal
    a batch recompute — which is exactly what the oracle checks, making
    this the rare STREAMING query with a full SQL oracle."""
    from datalake_breweries_two_spark.catalog import read_events
    from datalake_breweries_two_spark.streaming.sinks import stream_upsert_versioned

    root = _scratch("stream_upsert_table")
    shutil.rmtree(root, ignore_errors=True)
    # 2 files per trigger: halves the fixed per-trigger cost (incremental
    # re-plan, state-store open/commit per partition, one full
    # read->MERGE->publish->vacuum cycle in the foreachBatch sink) while
    # the drive still MERGEs across a trigger boundary — the published
    # converged state the oracle checks is batching-invariant.
    stream = stream_windows.stage_events_stream(
        read_events(spark, os.path.join(sf_dir, "events.parquet")),
        _scratch("events_stream_upsert"),
        files_per_trigger=2,
    )
    agg = stream.groupBy("user_id").agg(
        F.count(F.col("event_id")).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,4)")).alias("dec_total"),
    )
    stream_upsert_versioned(spark, agg, root, ["user_id"], "q_streaming_upsert")
    final = lake.read_versioned(spark, root)
    return final.select(
        "user_id",
        "n_events",
        F.col("dec_total").cast("double").alias("total_value"),
    )


@query(ref_s=0.3, shuffle_budget=0, oracle="""
    WITH m AS (
        SELECT i AS media_id,
               ['image', 'audio', 'video'][(i % 3) + 1] AS media_type,
               repeat(unhex(sha256(CAST(i AS VARCHAR))), 32) AS payload
        FROM generate_series(0, 47) t(i)
    )
    SELECT media_id, media_type,
           CAST(octet_length(payload) AS BIGINT) AS payload_bytes,
           sha256(hex(payload)) AS payload_hex_sha256
    FROM m
""")
def q_media_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload fixity checksums (sha2 over the hex encoding —
    portable across engines whose hash functions are VARCHAR-only) for the
    deterministic synthetic media table. The ONE multimodal query with a
    full oracle: DuckDB reconstructs the same payload bytes
    (repeat(unhex(sha256(i)), 32)) and verifies every checksum."""
    return multimodal.media_checksums(multimodal.synthetic_media(spark, n=48))


# shuffle_budget: the percentile aggregate only
@query(ref_s=0.22, shuffle_budget=1, oracle="""
    WITH e AS (
        SELECT """ + ", ".join(
    f"quantile_disc(o_totalprice, {i}/8.0) AS e{i}" for i in range(1, 8)
) + """
        FROM orders
    )
    SELECT o_orderkey, o_totalprice,
           CAST(""" + " + ".join(
    f"CAST(o_totalprice > e{i} AS INT)" for i in range(1, 8)
) + """ AS BIGINT) AS bin
    FROM orders, e
""")
def q_equi_depth_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (quantile) binning of order totals into 8 bins — exact
    percentile edges as ONE distributed aggregate, broadcast back, bin
    assignment a pure projection (no global-sort ntile window)."""
    return cleaning.equi_depth_bins(
        _t(spark, sf_dir, "orders"), "o_totalprice", "o_orderkey", n_bins=8
    )


# shuffle_budget: the per-group bounds aggregate only
@query(ref_s=0.26, shuffle_budget=1, oracle="""
    WITH b AS (
        SELECT event_type,
               quantile_disc(value, 0.05) AS lo,
               quantile_disc(value, 0.95) AS hi
        FROM events GROUP BY event_type
    )
    SELECT event_id, events.event_type,
           round(least(greatest(value, lo), hi), 4) AS value_winsorized,
           (value < lo OR value > hi) AS was_clamped
    FROM events JOIN b USING (event_type)
""")
def q_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type winsorization at the exact [p05, p95] quantiles —
    outlier damping that preserves row count."""
    return cleaning.winsorize(
        _t(spark, sf_dir, "events"), "event_type", "value", "event_id"
    )


# shuffle_budget: the means aggregate only
@query(ref_s=0.19, shuffle_budget=1, oracle="""
    WITH ev AS (
        SELECT event_id, event_type,
               CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS value
        FROM events
    ),
    m AS (
        SELECT event_type,
               round(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
                     / count(value), 4) AS mu
        FROM ev GROUP BY event_type
    )
    SELECT event_id, ev.event_type,
           round(coalesce(ev.value, m.mu), 4) AS value_imputed,
           ev.value IS NULL AS was_imputed
    FROM ev JOIN m USING (event_type)
""")
def q_impute_group_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-mean imputation over a deterministically nulled value column
    (event_id % 7 == 0 → NULL): decimal-exact group means broadcast back,
    coalesce projection fills the gaps."""
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.when(F.col("event_id") % 7 == 0, F.lit(None).cast("double"))
        .otherwise(F.col("value"))
        .alias("value"),
    )
    return cleaning.impute_group_mean(ev, "event_type", "value", "event_id")


# shuffle_budget: block sizes agg + within-block join
@query(ref_s=0.29, shuffle_budget=2, oracle="""
    WITH k AS (
        SELECT p_partkey, p_name,
               string_split_regex(p_name, '[ \\t\\n\\r\\f\\x0b]+')[-1] AS blk
        FROM part
    ),
    ok AS (SELECT blk FROM k GROUP BY blk HAVING count(*) <= 256),
    b AS (SELECT k.* FROM k JOIN ok USING (blk))
    SELECT a.p_partkey AS id_a, c.p_partkey AS id_b,
           levenshtein(a.p_name, c.p_name) AS edit_dist
    FROM b a JOIN b c USING (blk)
    WHERE a.p_partkey < c.p_partkey
      AND levenshtein(a.p_name, c.p_name) <= 4
""")
def q_fuzzy_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution pairs over part names: blocked on the head noun
    (last token), Levenshtein ≤ 4 within blocks only — candidate scoring
    without a quadratic self-join; JVM-side edit distance."""
    return dedup.fuzzy_blocked_pairs(
        _t(spark, sf_dir, "part"), "p_name", "p_partkey", max_distance=4
    )


# shuffle_budget: md5 dedup + final rollup
@query(ref_s=0.4, shuffle_budget=2, oracle="""
    WITH quality AS (
        SELECT * FROM documents
        WHERE n_chars >= 100
          AND CASE WHEN trim(text) = '' THEN 0
                   ELSE length(regexp_split_to_array(trim(text), '[ \\t\\n\\r\\f\\x0b]+')) END >= 10
    ),
    canonical AS (
        SELECT md5(text) AS content_key,
               min(doc_id) AS doc_id,
               min(n_chars) AS n_chars
        FROM quality GROUP BY md5(text)
    ),
    labeled AS (
        SELECT doc_id, n_chars,
               CASE WHEN substr(md5(concat_ws(':', CAST(doc_id AS VARCHAR), 'split-v1')), 1, 8)
                         < 'cccccccc' THEN 'train'
                    WHEN substr(md5(concat_ws(':', CAST(doc_id AS VARCHAR), 'split-v1')), 1, 8)
                         < 'e6666666' THEN 'val'
                    ELSE 'test' END AS split,
               CAST(strpos('0123456789abcdef',
                    substr(md5(concat_ws(':', CAST(doc_id AS VARCHAR), 'shard-v1')), 1, 1))
                    - 1 AS BIGINT) AS shard
        FROM canonical
    )
    SELECT split, shard,
           count(doc_id) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM labeled GROUP BY split, shard
""")
def q_training_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capstone LLM training-data pipeline, end-to-end in ONE declarative
    plan: quality gate → exact dedup (md5 content key, min-id canonical) →
    deterministic train/val/test split → 16-way shard assignment →
    per-(split, shard) rollup. The whole chain is projections + one
    dedup aggregate — every decision a pure function of content/id, so
    the pipeline is reproducible on any engine at any parallelism (full
    oracle recomputes it declaratively).

    This is the LLM-data sibling of q_medallion_e2e (which mirrors the
    reference's DAG shape, plans/medallion.py): at 100 TB each stage is
    shuffle-free except the dedup groupBy on the md5 key — uniformly
    distributed by construction, AQE-splittable, and the only wide
    exchange before the final bounded-cardinality rollup.
    """
    docs = _t(spark, sf_dir, "documents")
    quality = docs.filter(
        (F.col("n_chars") >= 100) & (text.whitespace_token_count("text") >= 10)
    )
    canonical = (
        quality.groupBy(F.md5(F.col("text")).alias("content_key"))
        .agg(F.min(F.col("doc_id")).alias("doc_id"), F.min("n_chars").alias("n_chars"))
    )
    split = sampling.hash_split(canonical, id_col="doc_id")
    shard = F.conv(
        F.substring(
            F.md5(F.concat_ws(":", F.col("doc_id").cast("string"), F.lit("shard-v1"))),
            1,
            1,
        ),
        16,
        10,
    ).cast("long")
    return (
        split.withColumn("shard", shard)
        .groupBy("split", "shard")
        .agg(
            F.count(F.col("doc_id")).alias("n_docs"),
            F.sum(F.col("n_chars")).cast("long").alias("total_chars"),
        )
    )


@query(ref_s=0.24, shuffle_budget=1, oracle="""
    WITH keyed AS (
        SELECT doc_id, lang, n_chars AS weight,
               round(ln((CAST(('0x' || substr(md5(concat_ws(':', CAST(doc_id AS VARCHAR),
                                                            'wsample-v1')), 1, 13))
                              AS BIGINT) + 1.0) / 4503599627370496.0)
                     / CAST(n_chars AS DOUBLE), 8) AS es_key
        FROM documents
        WHERE n_chars > 0
    ),
    ranked AS (
        SELECT *, row_number() OVER (PARTITION BY lang
                                     ORDER BY es_key DESC, doc_id ASC) AS rn
        FROM keyed
    )
    SELECT doc_id, lang, weight, es_key FROM ranked WHERE rn <= 10
""")
def q_weighted_sample_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language Efraimidis-Spirakis sample (10 docs per lang, weight =
    doc length) — balanced-corpus construction; one group-keyed window
    shuffle, reproducible on any engine/partitioning."""
    return sampling.weighted_hash_sample_per_group(
        _t(spark, sf_dir, "documents"), "lang", "n_chars", 10
    )


# shuffle_budget: decorrelated to one windowed rank
@query(ref_s=1.15, shuffle_budget=1, oracle="""
    SELECT o_orderkey, l.l_linenumber, l.l_extendedprice
    FROM orders, LATERAL (
        SELECT l_linenumber, l_extendedprice FROM lineitem
        WHERE l_orderkey = o_orderkey
        ORDER BY l_extendedprice DESC, l_linenumber ASC LIMIT 2
    ) l
""")
def q_lateral_topk_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery (SQL:2016 surface, Spark 3.2+): per
    order, its top-2 line items by price — the SQL spelling of
    top-k-per-group. Catalyst decorrelates this into the same
    window/rank plan as q_topk_per_group; deterministic (price, line
    number) tie-break. Oracle: identical SQL in DuckDB."""
    return _sql(spark, sf_dir, ORACLE_SQL["q_lateral_topk_join"])


# shuffle_budget: (user,type) agg then user agg
@query(ref_s=0.33, shuffle_budget=2, oracle="""
    WITH c AS (
        SELECT user_id, event_type, count(event_id) AS cnt
        FROM events WHERE event_type IS NOT NULL
        GROUP BY user_id, event_type
    )
    SELECT user_id,
           coalesce(string_agg(CASE WHEN cnt >= 5 THEN event_type END, ','
                               ORDER BY event_type), '') AS frequent_csv,
           string_agg(CAST(cnt * 2 AS VARCHAR), ','
                      ORDER BY event_type) AS doubled_csv
    FROM c GROUP BY user_id
""")
def q_map_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType surface: per-user event-type count map built with
    map_from_entries(sorted entries), then map higher-order functions —
    map_filter (frequent types) and transform_values (doubling) — flattened
    to sorted CSV columns so the result hashes identically on engines
    without Spark's map type. One (user, type) agg, one user agg: two
    bounded-key shuffles."""
    # a map key may not be NULL (Spark raises NULL_MAP_KEY): untyped
    # events contribute no map entry, symmetrically in the oracle
    ev = _t(spark, sf_dir, "events").filter(F.col("event_type").isNotNull())
    cnt = ev.groupBy("user_id", "event_type").agg(F.count("event_id").alias("cnt"))
    m = cnt.groupBy("user_id").agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("event_type", "cnt")))
        ).alias("m")
    )
    return m.select(
        "user_id",
        F.array_join(
            F.map_keys(F.map_filter("m", lambda k, v: v >= 5)), ","
        ).alias("frequent_csv"),
        F.array_join(
            F.transform(
                F.map_values(F.transform_values("m", lambda k, v: v * 2)),
                lambda x: x.cast("string"),
            ),
            ",",
        ).alias("doubled_csv"),
    )


# shuffle_budget: staged agg + broadcast-anti read-back
@query(ref_s=0.82, shuffle_budget=2, oracle="""
    SELECT user_id,
           count(event_id) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
    FROM events
    -- NULL-user rows are NOT in the forget set (the delete pass is an
    -- anti-join on key equality, which never matches NULL): they survive
    WHERE user_id IS NULL OR user_id % 10 != 0
    GROUP BY user_id
""")
def q_gdpr_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten end-to-end: stage a versioned per-user
    aggregate table, erase users with user_id % 10 == 0 via the anti-join
    delete pass (new atomic version; prior version intact for audit),
    then aggregate the published table. Full oracle = declarative
    recompute over the surviving users."""
    root = _scratch("gdpr_table")
    shutil.rmtree(root, ignore_errors=True)
    per_user = (
        _t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.col("event_id")).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)")).alias("dec_total"),
        )
    )
    lake.write_versioned(per_user, root)
    # derive the forget set from the PUBLISHED v1, not by re-running the
    # per-user aggregate (r17, guide §2.4): the staged table already
    # holds exactly per_user's rows, so re-deriving from it reads one
    # pruned column of the published parquet instead of re-scanning and
    # re-shuffling the raw events — at 100 TB the erasure pass must never
    # recompute the table it is deleting from. Same rows by construction.
    forget = (
        lake.read_versioned(spark, root)
        .select("user_id")
        .filter(F.col("user_id") % 10 == 0)
    )
    lake.delete_keys_versioned(spark, root, "user_id", forget)
    final = lake.read_versioned(spark, root)
    return final.select(
        "user_id",
        "n_events",
        F.col("dec_total").cast("double").alias("total_value"),
    )


# shuffle_budget: diff (full-outer) + anti + merge composite
# py4j_budget: measured 1316; merge pipeline materializes at build
@query(ref_s=1.21, shuffle_budget=8, py4j_budget=2600, oracle="""
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 100 = 0 THEN 'U' ELSE o_orderstatus END
               AS o_orderstatus,
           CASE WHEN o_orderkey % 100 = 0 THEN o_totalprice * 2
                ELSE o_totalprice END AS o_totalprice
    FROM orders WHERE o_orderkey % 97 != 0
    UNION ALL
    SELECT o_orderkey + 10000000 AS o_orderkey,
           'N' AS o_orderstatus,
           1.0 AS o_totalprice
    FROM orders WHERE o_orderkey % 1000 = 0
""")
def q_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC round-trip: build v2 from orders by a deterministic transform
    (keys %97==0 deleted; %100==0 updated to status 'U', price doubled;
    %1000==0 re-inserted as new keys), capture the insert/update/delete
    feed with diff_snapshots(include_new_values=True), then APPLY the feed
    back onto v1 — the reconstruction must equal v2 exactly, which is what
    the oracle checks (replica maintenance from a change feed, no full
    rescan)."""
    v1 = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    surviving = v1.filter(F.col("o_orderkey") % 97 != 0)
    v2 = surviving.select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 100 == 0, F.lit("U"))
        .otherwise(F.col("o_orderstatus"))
        .alias("o_orderstatus"),
        F.when(F.col("o_orderkey") % 100 == 0, F.col("o_totalprice") * 2)
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
    ).unionByName(
        v1.filter(F.col("o_orderkey") % 1000 == 0).select(
            (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"),
            F.lit("N").alias("o_orderstatus"),
            F.lit(1.0).alias("o_totalprice"),
        )
    )
    feed = lake.diff_snapshots(v1, v2, ["o_orderkey"], include_new_values=True)
    return lake.apply_changes(v1, feed, ["o_orderkey"])


# shuffle_budget: both sides hash-partitioned + agg (by design)
@query(ref_s=0.64, shuffle_budget=3, oracle="""
    SELECT o_orderdate,
           count(l_orderkey) AS n_items,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
               AS total_price
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderdate
""")
def q_shuffle_hash_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit SHUFFLE_HASH join-strategy hint: orders ⋈ lineitem with the
    build side hash-tabled per partition instead of sort-merge — the right
    call when one side is much smaller per key but too big to broadcast
    (skips both sides' sorts). Result is strategy-invariant (the oracle is
    the plain join); tests/test_plan_discipline.py asserts the plan
    actually uses ShuffledHashJoin."""
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    items = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_quantity"
    )
    joined = items.join(
        orders.hint("shuffle_hash"),
        items["l_orderkey"] == orders["o_orderkey"],
    )
    return joined.groupBy("o_orderdate").agg(
        F.count(F.col("l_orderkey")).alias("n_items"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,4)"))
        .cast("double")
        .alias("total_price"),
    )


@query(ref_s=0.74, shuffle_budget=0, oracle="""
    SELECT o_orderstatus,
           count(o_orderkey) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
               AS total_price
    FROM orders GROUP BY o_orderstatus
""")
def q_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel on the versioned-parquet layer: publish v1 (per-status
    counts), publish v2 (filtered to 'F' only), then read v1 BY VERSION
    PIN while v2 is current — the audit/reproducibility read Delta calls
    time travel, on plain parquet + atomic pointer. Full oracle = v1's
    declarative recompute (proving v2's publish never mutated v1)."""
    root = _scratch("time_travel_table")
    shutil.rmtree(root, ignore_errors=True)
    per_status = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.col("o_orderkey")).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,4)")).alias("dec_total"),
        )
    )
    v1 = lake.write_versioned(per_status, root)
    lake.write_versioned(per_status.filter(F.col("o_orderstatus") == "F"), root)
    pinned = lake.read_versioned(spark, root, version=v1)
    return pinned.select(
        "o_orderstatus",
        "n_orders",
        F.col("dec_total").cast("double").alias("total_price"),
    )


# shuffle_budget: one grouped agg, unpivot is Expand
@query(ref_s=0.22, shuffle_budget=1, oracle="""
    WITH g AS (
        SELECT o_orderstatus,
               count(o_orderkey) AS n,
               sum(CAST(o_totalprice AS DECIMAL(18,4))) AS dec_total
        FROM orders GROUP BY o_orderstatus
    )
    SELECT o_orderstatus, 'count' AS metric, CAST(n AS DOUBLE) AS value FROM g
    UNION ALL
    SELECT o_orderstatus, 'total' AS metric, CAST(dec_total AS DOUBLE) AS value FROM g
""")
def q_exchange_reuse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metric fan-out off ONE shuffle: both per-status metrics computed in
    a single grouped aggregate, then unpivoted (Expand — shuffle-free)
    into (status, metric, value) rows. A naive UNION of two per-metric
    aggregates scans and shuffles the fact table twice; this plan has
    exactly one wide exchange (asserted in plan tests) — the 100 TB
    dashboard-fan-out pattern."""
    orders = _t(spark, sf_dir, "orders")
    grouped = orders.groupBy("o_orderstatus").agg(
        F.count(F.col("o_orderkey")).cast("double").alias("count"),
        F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
        .cast("double")
        .alias("total"),
    )
    return grouped.unpivot(
        ["o_orderstatus"], ["count", "total"], "metric", "value"
    )


@query(ref_s=0.73, shuffle_budget=0, oracle="""
    SELECT i AS item_id,
           CAST(i // 25 AS INT) AS page,
           'item-' || lpad(CAST(i AS VARCHAR), 6, '0') AS name,
           round((i % 97) / 97.0, 6) AS score
    FROM generate_series(0, 199) t(i)
""")
def q_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python DataSource (Spark-4 extension point): the reference's
    paginated-API extract re-planned as a real SCAN — one input partition
    PER PAGE, executor-side fetches (deterministic offline stand-in), no
    driver-side accumulation (sources/paged_api.py). Full oracle: the
    synthetic page payload is a pure function of the row id, reconstructed
    with generate_series."""
    from datalake_breweries_two_spark.sources.paged_api import (
        HAVE_PYTHON_DATASOURCE,
        PagedApiDataSource,
    )

    if not HAVE_PYTHON_DATASOURCE:  # pragma: no cover - pyspark < 4
        raise RuntimeError("Python DataSource API requires pyspark >= 4.0")
    spark.dataSource.register(PagedApiDataSource)
    return (
        spark.read.format("paged_api")
        .option("n_pages", "8")
        .option("per_page", "25")
        .load()
    )


@query(ref_s=2.81, shuffle_budget=0, oracle=REGISTRY["q_python_datasource"].oracle)
def q_python_datasource_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING custom Python DataSource (SimpleDataSourceStreamReader):
    the paginated API as a micro-batch stream — each trigger ingests
    ``pages_per_trigger`` pages, the stream offset IS the page number
    (checkpointable: a crashed ingest resumes at the recorded page
    boundary). Drained stream == batch scan, so this streaming extension
    point carries a FULL oracle.

    pages_per_trigger=2: each micro-batch pays a fixed
    WAL/offset-commit + planning + Python-runner cycle (~0.35 s at the
    quiet floor, several× that under host I/O pressure) regardless of
    row count — 8 one-page triggers were pure fixed cost for 25-row
    batches. Batching 2 pages per trigger halves the trigger count; the
    drained result is batching-invariant (the oracle re-verifies)."""
    from datalake_breweries_two_spark.sources.paged_api import (
        HAVE_PYTHON_DATASOURCE,
        PagedApiStreamDataSource,
    )

    if not HAVE_PYTHON_DATASOURCE:  # pragma: no cover - pyspark < 4
        raise RuntimeError("Python DataSource API requires pyspark >= 4.0")
    spark.dataSource.register(PagedApiStreamDataSource)
    stream = (
        spark.readStream.format("paged_api_stream")
        .option("n_pages", "8")
        .option("per_page", "25")
        .option("pages_per_trigger", "2")
        .load()
    )
    return stream_windows.run_stream_to_memory(
        spark, stream, "q_pyds_stream_sink", output_mode="append"
    )


# shuffle_budget: one order-keyed collect
@query(ref_s=0.42, shuffle_budget=1, oracle="""
    SELECT l_orderkey,
           CAST(count(*) AS INT) AS n_items,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
               AS order_total
    FROM lineitem GROUP BY l_orderkey
""")
def q_nested_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested columnar round-trip: lineitems collected into a sorted
    array<struct> per order (the denormalized at-rest layout that replaces
    the join at 100 TB), then the order total computed INSIDE the array
    domain with F.aggregate (a higher-order fold over the struct array —
    exact decimal accumulator, surfaced double). Oracle = the flat
    groupBy equivalent, proving the nested path loses nothing."""
    items = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    nested = items.groupBy("l_orderkey").agg(
        F.sort_array(
            F.collect_list(F.struct("l_linenumber", "l_extendedprice"))
        ).alias("items")
    )
    # the fold result re-casts to the accumulator type each step (decimal
    # addition widens 18,4 + 18,4 → 19,4, which F.aggregate rejects)
    total = F.aggregate(
        "items",
        F.lit(0).cast("decimal(18,4)"),
        lambda acc, x: (acc + x["l_extendedprice"].cast("decimal(18,4)")).cast(
            "decimal(18,4)"
        ),
    )
    return nested.select(
        "l_orderkey",
        F.size("items").alias("n_items"),
        total.cast("double").alias("order_total"),
    )


# The sketch-accuracy contract: the oracle recomputes the
# EXACT portable scalars and asserts the ok flags are TRUE — a hash match
# means the engine's sketch estimates landed inside the documented
# tolerance. The estimates themselves stay engine-specific by design.
@query(oracle="""
    SELECT event_type,
           CAST(count(value) AS BIGINT) AS n_rows,
           'ok' AS p50_ok, 'ok' AS p90_ok, 'ok' AS p99_ok
    FROM events GROUP BY event_type
""")
def q_kll_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable KLL quantile sketches per event type (p50/p90/p99,
    operators/setops.py:kll_quantile_rollup) surfaced as their BOUNDED
    ACCURACY CONTRACT (r12, rows-only → oracle upgrade): the raw
    estimates are sampling-randomized and engine-specific, so the
    registry query instead measures each estimate's EXACT rank interval
    in the data (count < / count <= via one broadcast join back — the
    group estimates are a handful of rows, events never reshuffle for
    them) and emits (event_type, n_rows, p50_ok, p90_ok, p99_ok) where
    ok := 'ok' when the rank interval intersects p ± 0.05. The slack is
    a deliberate ~3x headroom over KLL k=200's ~1.65% rank-error bound
    so the driver check is deterministic; the TIGHT bound lives in
    test_kll_quantiles_near_exact, and the production operator (which
    returns the estimates themselves) is unchanged. Integer-exact
    inequality arithmetic — no division, tie-safe (an all-ties group's
    estimate has rank interval [0, n], which always intersects).
    SELF-DIAGNOSING FLAGS (r13, ADVICE): the KLL sketch is
    seed-randomized per run, so the gate is probabilistic (the ~3x slack
    makes a miss astronomically unlikely); instead of an opaque hash
    diff on that tail event, a miss emits the MEASURED rank interval in
    the flag value itself ('MISS rank_lt=… rank_le=… n=… band=[lo,hi]%')
    — a flake re-run is immediately diagnosable."""
    ev = _t(spark, sf_dir, "events")
    est = setops.kll_quantile_rollup(ev, "event_type", "value")
    j = ev.join(
        F.broadcast(est.withColumnRenamed("event_type", "_et")),
        ev["event_type"].eqNullSafe(F.col("_et")),
        "left",
    )
    v = F.col("value")

    # no NULL guard needed: a groupBy group has ≥1 row and the summed
    # expression is otherwise(0), so sum() can never be NULL here
    # (unlike q_theta_overlap's GLOBAL agg, whose empty-input coalesce
    # is load-bearing)
    def _lt(b):  # noqa: ANN001 - Column
        return F.sum(F.when(v < b, 1).otherwise(0))

    def _le(b):  # noqa: ANN001 - Column
        return F.sum(F.when(v <= b, 1).otherwise(0))

    agg = j.groupBy("event_type").agg(
        F.count("value").cast("long").alias("n_rows"),
        _lt(F.col("p5")).alias("_lt50"),
        _le(F.col("p5")).alias("_le50"),
        _lt(F.col("p9")).alias("_lt90"),
        _le(F.col("p9")).alias("_le90"),
        _lt(F.col("p99")).alias("_lt99"),
        _le(F.col("p99")).alias("_le99"),
    )
    n = F.col("n_rows")

    def _ok(lt, le, lo, hi):  # noqa: ANN001 - rank-interval intersection
        hit = (F.col(lt) * 100 <= hi * n) & (F.col(le) * 100 >= lo * n)
        # pass → constant 'ok' (hash-checkable); the astronomically-rare
        # miss carries its own evidence instead of an opaque hash diff
        return F.when(hit, F.lit("ok")).otherwise(
            F.concat(
                F.lit("MISS rank_lt="), F.col(lt),
                F.lit(" rank_le="), F.col(le),
                F.lit(" n="), n,
                F.lit(f" band=[{lo},{hi}]%"),
            )
        )

    return agg.select(
        "event_type",
        "n_rows",
        _ok("_lt50", "_le50", 45, 55).alias("p50_ok"),
        _ok("_lt90", "_le90", 85, 95).alias("p90_ok"),
        _ok("_lt99", "_le99", 94, 104).alias("p99_ok"),
    )


@query(oracle="""
    WITH f AS (
        SELECT user_id,
               max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS ha,
               max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS hb
        FROM events
        WHERE user_id IS NOT NULL AND event_type IN ('view', 'click')
        GROUP BY user_id
    )
    SELECT CAST(coalesce(sum(ha), 0) AS BIGINT) AS n_a,
           CAST(coalesce(sum(hb), 0) AS BIGINT) AS n_b,
           CAST(count(*) AS BIGINT) AS n_union,
           CAST(coalesce(sum(CASE WHEN ha = 1 AND hb = 1 THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS n_intersect,
           TRUE AS a_ok, TRUE AS b_ok, TRUE AS union_ok, TRUE AS intersect_ok
    FROM f
""")
def q_theta_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch distinct-set algebra (|view users|, |click users|,
    union, inclusion-exclusion intersection — audience overlap WITHOUT
    shuffling raw keys, operators/setops.py:theta_distinct_overlap)
    surfaced as its BOUNDED ACCURACY CONTRACT (r12, rows-only → oracle
    upgrade): the sketch estimates are engine-specific, so the registry
    query emits the EXACT four cardinalities (one user-keyed flag agg →
    1-row collapse) plus ok flags asserting each estimate lands within
    8% relative (+2 absolute) — ~5x headroom over the 4096-entry theta
    RSE (~1.6%), deliberate slack so the driver check is deterministic;
    the tight bound lives in test_theta_overlap_near_exact. The two
    1-row frames meet in a broadcast cross join (the sanctioned 1-row
    pattern); the intersection's tolerance scales with the UNION (its
    inclusion-exclusion error compounds all three sketches)."""
    ev = _t(spark, sf_dir, "events")
    sk = setops.theta_distinct_overlap(
        ev, "event_type", "view", "click", "user_id"
    ).select(
        F.col("n_a").alias("_ea"),
        F.col("n_b").alias("_eb"),
        F.col("n_union").alias("_eu"),
        F.col("n_intersect").alias("_ei"),
    )
    flags = (
        ev.filter(
            F.col("user_id").isNotNull()
            & F.col("event_type").isin("view", "click")
        )
        .groupBy("user_id")
        .agg(
            F.max(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias("ha"),
            F.max(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("hb"),
        )
    )
    exact = flags.agg(
        F.coalesce(F.sum("ha"), F.lit(0)).cast("long").alias("n_a"),
        F.coalesce(F.sum("hb"), F.lit(0)).cast("long").alias("n_b"),
        F.count(F.lit(1)).cast("long").alias("n_union"),
        F.coalesce(
            F.sum(F.when((F.col("ha") == 1) & (F.col("hb") == 1), 1).otherwise(0)),
            F.lit(0),
        ).cast("long").alias("n_intersect"),
    )

    def _ok(est, ex, scale):  # noqa: ANN001 - |est - exact| <= 8% + 2
        e = F.coalesce(F.col(est), F.lit(0))
        return F.abs(e - F.col(ex)) <= 0.08 * F.col(scale) + 2.0

    return exact.crossJoin(F.broadcast(sk)).select(
        "n_a",
        "n_b",
        "n_union",
        "n_intersect",
        _ok("_ea", "n_a", "n_a").alias("a_ok"),
        _ok("_eb", "n_b", "n_b").alias("b_ok"),
        _ok("_eu", "n_union", "n_union").alias("union_ok"),
        _ok("_ei", "n_intersect", "n_union").alias("intersect_ok"),
    )


# Portable KMV set algebra: min-k sketches, their merge, and the
# (k-1)·2^60 / kth-min estimates recomputed in-engine. The numerator
# literal is the same Python double the Spark plan embeds; a set smaller
# than k holds ALL its hashes, so its estimate is the exact member count.
# shuffle_budget: one (tag,hash) distinct + per-set TakeOrderedAndProject min-k heaps +
# union-sketch distinct + exact-probe distinct pair; every post-stage-1 exchange moves
# <=2k sketch rows
@query(ref_s=0.6, shuffle_budget=6, oracle=f"""
    WITH base AS (
        SELECT event_type AS t,
               CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
                    AS BIGINT) AS h
        FROM events
        WHERE user_id IS NOT NULL AND event_type IN ('view', 'click')
    ),
    dh AS (SELECT DISTINCT t, h FROM base),
    kmv_a AS (SELECT h FROM dh WHERE t = 'view' ORDER BY h ASC LIMIT {_KMV_K}),
    kmv_b AS (SELECT h FROM dh WHERE t = 'click' ORDER BY h ASC LIMIT {_KMV_K}),
    kmv_u AS (
        SELECT h FROM (
            SELECT DISTINCT h FROM (
                SELECT h FROM kmv_a UNION ALL SELECT h FROM kmv_b
            )
        ) ORDER BY h ASC LIMIT {_KMV_K}
    ),
    ea AS (SELECT CASE WHEN count(h) < {_KMV_K} THEN CAST(count(h) AS DOUBLE)
                       ELSE round({_KMV_NUM!r} / CAST(max(h) AS DOUBLE), 4)
                  END AS est_a FROM kmv_a),
    eb AS (SELECT CASE WHEN count(h) < {_KMV_K} THEN CAST(count(h) AS DOUBLE)
                       ELSE round({_KMV_NUM!r} / CAST(max(h) AS DOUBLE), 4)
                  END AS est_b FROM kmv_b),
    eu AS (SELECT CASE WHEN count(h) < {_KMV_K} THEN CAST(count(h) AS DOUBLE)
                       ELSE round({_KMV_NUM!r} / CAST(max(h) AS DOUBLE), 4)
                  END AS est_union FROM kmv_u),
    ex AS (
        SELECT CAST(count(DISTINCT CASE WHEN event_type = 'view'
                                        THEN user_id END) AS BIGINT) AS exact_a,
               CAST(count(DISTINCT CASE WHEN event_type = 'click'
                                        THEN user_id END) AS BIGINT) AS exact_b,
               CAST(count(DISTINCT CASE WHEN event_type IN ('view', 'click')
                                        THEN user_id END) AS BIGINT) AS exact_union
        FROM events WHERE user_id IS NOT NULL
    )
    SELECT est_a, est_b, est_union,
           round(est_a + est_b - est_union, 4) AS est_intersect,
           exact_a, exact_b, exact_union,
           CAST(exact_a + exact_b - exact_union AS BIGINT) AS exact_intersect
    FROM ea, eb, eu, ex
""")
def q_kmv_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-minimum-values distinct-set algebra (r8 growth): the portable,
    hash-checkable twin of q_theta_overlap — |view users|, |click users|,
    union and inclusion-exclusion intersection from min-k sketches of the
    md5 60-bit key hash. The sketch ELEMENTS, the merge (min-k of the two
    sketches' union == the union set's sketch), and the single-division
    estimates are all DuckDB-recomputable; exact counts ride along as the
    sf-scale error probe."""
    return setops.kmv_set_overlap(
        _t(spark, sf_dir, "events"), "event_type", "view", "click", "user_id"
    )


# shuffle_budget: window + island groupBy share one user-keyed exchange
@query(ref_s=0.6, shuffle_budget=1, oracle="""
    WITH iv AS (
        SELECT user_id, event_id, ts AS s,
               ts + (20 + event_id % 90) * INTERVAL 1 SECOND AS e
        FROM events
    ),
    marked AS (
        SELECT user_id, event_id, s, e,
               CASE WHEN max(e) OVER w IS NULL OR s > max(e) OVER w
                    THEN 1 ELSE 0 END AS opens
        FROM iv
        WINDOW w AS (
            PARTITION BY user_id ORDER BY s ASC, e ASC, event_id ASC
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
        )
    ),
    islands AS (
        SELECT user_id, s, e,
               sum(opens) OVER (
                   PARTITION BY user_id ORDER BY s ASC, e ASC, event_id ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS island
        FROM marked
    )
    SELECT user_id,
           min(s) AS ivl_start,
           max(e) AS ivl_end,
           count(*) AS n_events,
           epoch_us(max(e)) - epoch_us(min(s)) AS covered_us
    FROM islands GROUP BY user_id, island
""")
def q_interval_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands interval union: each event opens a deterministic
    [ts, ts + 20+(event_id%90) sec] activity window; overlapping-or-touching
    windows per user merge into maximal islands (operators/timeseries.py:
    coalesce_intervals — single wide exchange, window + island groupBy share
    one user-keyed partitioning). The interval twin of q_sessionize's
    point-gap split; full oracle."""
    from datalake_breweries_two_spark.operators import timeseries

    iv = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.col("ts").alias("s"),
        F.expr(
            "ts + make_interval(0, 0, 0, 0, 0, 0, 20 + event_id % 90)"
        ).alias("e"),
    )
    return timeseries.coalesce_intervals(iv, "user_id", "s", "e", "event_id")


# shuffle_budget: (group,value) agg + tiny group-keyed window
@query(ref_s=0.33, shuffle_budget=2, oracle="""
    WITH counts AS (
        SELECT o_orderstatus, o_orderpriority, count(*) AS n
        FROM orders GROUP BY o_orderstatus, o_orderpriority
    ),
    ranked AS (
        SELECT o_orderstatus, o_orderpriority, n,
               row_number() OVER (
                   PARTITION BY o_orderstatus
                   ORDER BY n DESC, o_orderpriority ASC
               ) AS rn
        FROM counts
    )
    SELECT o_orderstatus, o_orderpriority AS mode_value, n AS mode_count
    FROM ranked WHERE rn = 1
""")
def q_mode_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-group mode (most frequent order priority per
    status, ties to the smallest value) — count→rank formulation because
    engine-native mode() leaves ties unspecified
    (operators/aggregates.py:group_mode). Full oracle."""
    from datalake_breweries_two_spark.operators.aggregates import group_mode

    return group_mode(
        _t(spark, sf_dir, "orders"), "o_orderstatus", "o_orderpriority"
    )


# shuffle_budget: distinct-agg double exchange (count distinct canon)
@query(ref_s=0.16, shuffle_budget=2, oracle="""
    SELECT event_type,
           count(CAST(props->>'$.k' AS BIGINT)) AS n_with_k,
           CAST(sum(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
           count(DISTINCT CAST(props->>'$.k' AS BIGINT)) AS n_distinct_k
    FROM events GROUP BY event_type
""")
def q_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark-4 VARIANT semi-structured path: parse_json → binary variant →
    typed variant_get extractions, aggregated per event type
    (operators/semistructured.py:variant_props_rollup) — the open-schema
    twin of q_from_json_struct. Full oracle: every compared metric is a
    TYPED extraction (never re-serialized JSON text, whose canonical form
    is engine-specific)."""
    return semistructured.variant_props_rollup(_t(spark, sf_dir, "events"))


# shuffle_budget: narrow lateral expansion, no shuffle
# python_stage: ArrowEvalPythonUDTF — the lateral table-function API
@query(ref_s=1.20, shuffle_budget=0, python_stage=True, oracle="""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t, len(string_split(text, ' ')) AS n
        FROM documents
    )
    SELECT doc_id,
           CAST(start // 24 AS INT) AS chunk_idx,
           CAST(least(start + 32, n) - start AS INT) AS n_tokens,
           array_to_string(t[start + 1 : least(start + 32, n)], ' ') AS chunk_text
    FROM toks, LATERAL (SELECT unnest(range(0, n, 24)) AS start) g
""")
def q_udtf_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (Arrow-batched LATERAL table function, Spark-4 extension
    point): overlapping 32-token windows with 8-token overlap per document
    (operators/udtfs.py). Full oracle via range-stepped list slicing."""
    from datalake_breweries_two_spark.operators.udtfs import chunk_documents_udtf

    return chunk_documents_udtf(
        spark, _t(spark, sf_dir, "documents"), size=32, overlap=8
    )


# shuffle_budget: one agg over the merged-generation scan
@query(ref_s=0.59, shuffle_budget=1, oracle="""
    SELECT CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority END AS o_orderpriority,
           count(o_orderkey) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_price
    FROM orders
    GROUP BY CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority END
""")
def q_mergeschema_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution READ path: two parquet generations (v1 without
    o_orderpriority, v2 with it) unified by ``mergeSchema=true`` at scan —
    missing columns null-pad, so the silver layer absorbs additive schema
    drift without a rewrite (the lake twin of q_union_by_name's in-memory
    evolution). One partial→final agg exchange; the generation writes are
    staged actions, not part of the returned plan. Full oracle: the v1/v2
    split is a pure function of o_orderkey parity."""
    orders = _t(spark, sf_dir, "orders")
    base = _scratch("evolved_orders")
    v1 = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    v2 = orders.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"
    )
    v1.write.mode("overwrite").parquet(os.path.join(base, "gen=1"))
    v2.write.mode("overwrite").parquet(os.path.join(base, "gen=2"))
    merged = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(base, "gen=1"), os.path.join(base, "gen=2")
    )
    return merged.groupBy("o_orderpriority").agg(
        F.count("o_orderkey").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
        .cast("double")
        .alias("total_price"),
    )


# shuffle_budget: session-merge partial/final aggregation pair
@query(ref_s=0.64, shuffle_budget=2, oracle="""
    WITH ordered AS (
        SELECT user_id, ts, value, event_id,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w >= INTERVAL 2 MINUTE
                    THEN 1 ELSE 0 END AS opens
        FROM events WHERE ts IS NOT NULL
        WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    ),
    islands AS (
        SELECT user_id, ts, value,
               sum(opens) OVER (
                   PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS island
        FROM ordered
    )
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) + INTERVAL 2 MINUTE AS session_end,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
    FROM islands GROUP BY user_id, island
""")
def q_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NATIVE session windows (F.session_window — Spark's dedicated
    session-aggregation operator, merging events while each arrives within
    the gap of the session's last event): per-user 2-minute-gap sessions
    with exact decimal value sums. The engine-native twin of
    q_sessionize's portable gap-split formulation; session end =
    last event + gap (exclusive), mirrored in the oracle via pairwise-gap
    islands. One session-keyed exchange."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.session_window(F.col("ts"), "2 minutes").alias("sw"),
            F.col("user_id"),
        )
        .agg(
            F.count("event_id").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)"))
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


# shuffle_budget: union-loop step + final per-root agg
@query(ref_s=0.67, shuffle_budget=2, oracle="""
    WITH RECURSIVE chain AS (
        SELECT c_custkey AS root, c_custkey AS cur, 0 AS depth, m.bound AS bound
        FROM customer CROSS JOIN (SELECT max(c_custkey) AS bound FROM customer) m
        WHERE c_custkey % 30 = 0 AND c_custkey > 0
        UNION ALL
        SELECT root, cur * 2, depth + 1, bound FROM chain WHERE cur * 2 <= bound
    )
    SELECT root,
           max(depth) AS max_depth,
           count(*) AS n_nodes,
           max(cur) AS last_node
    FROM chain GROUP BY root
""")
def q_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4 WITH RECURSIVE): a deterministic doubling
    chain walked from every 30th customer key up to the table's max key —
    iteration expressed IN SQL with no driver loop (vs the hand-rolled
    fixed-point joins in operators/graph.py). The recursion bound rides
    along as a carried column so the recursive member stays subquery-free.
    Full oracle: DuckDB runs the identical statement."""
    return _sql(spark, sf_dir, ORACLE_SQL["q_recursive_cte"])


# shuffle_budget: two distinct aggregates (ci + cs) expand pairs
@query(ref_s=0.11, shuffle_budget=4, oracle="""
    WITH v AS (
        SELECT o_orderstatus,
               CASE WHEN o_orderkey % 2 = 0
                    THEN lower(o_orderpriority)
                    ELSE o_orderpriority END AS prio
        FROM orders
    )
    SELECT o_orderstatus,
           count(DISTINCT lower(prio)) AS n_ci,
           count(DISTINCT prio) AS n_cs
    FROM v GROUP BY o_orderstatus
""")
def q_collated_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String collations (Spark 4): a case-insensitive UTF8_LCASE DISTINCT
    folds synthesized case variants of the order priority that a binary
    (case-sensitive) DISTINCT keeps apart — collation-aware semantics
    inside codegen'd aggregation, no lower() rewrite in the query. Oracle
    mirrors UTF8_LCASE with lower() (exact for this ASCII domain)."""
    return _sql(
        spark,
        sf_dir,
        """
        WITH v AS (
            SELECT o_orderstatus,
                   CASE WHEN o_orderkey % 2 = 0
                        THEN lower(o_orderpriority)
                        ELSE o_orderpriority END AS prio
            FROM orders
        )
        SELECT o_orderstatus,
               count(DISTINCT prio COLLATE UTF8_LCASE) AS n_ci,
               count(DISTINCT prio) AS n_cs
        FROM v GROUP BY o_orderstatus
        """
    )


# shuffle_budget: one agg over the staged-XML scan
@query(ref_s=0.5, shuffle_budget=1, oracle="""
    SELECT o_orderstatus,
           count(o_orderkey) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_price
    FROM orders WHERE o_orderkey % 10 = 0
    GROUP BY o_orderstatus
""")
def q_scan_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML scan (Spark 4 NATIVE xml data source — no external package):
    a filtered orders projection staged as XML, read back with an EXPLICIT
    schema (no inference pass, same discipline as the CSV/ORC scans), then
    aggregated. Completes the format surface alongside
    parquet/JSON/CSV/ORC. Full oracle: the staged subset is a pure
    key-parity function of orders."""
    xml_dir = _scratch("xml_orders")
    (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 10 == 0)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .write.mode("overwrite")
        .format("xml")
        .option("rootTag", "orders")
        .option("rowTag", "order")
        .save(xml_dir)
    )
    back = (
        spark.read.format("xml")
        .schema("o_orderkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE")
        .option("rowTag", "order")
        .load(xml_dir)
    )
    return back.groupBy("o_orderstatus").agg(
        F.count("o_orderkey").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
        .cast("double")
        .alias("total_price"),
    )


# shuffle_budget: pandas dialect compiles to the same single-agg plan
@query(ref_s=0.22, shuffle_budget=1, oracle="""
    SELECT o_orderstatus,
           count(*) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_price
    FROM orders GROUP BY o_orderstatus
""")
def q_pandas_api(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pandas API on Spark (pyspark.pandas): the DataFrame loaded through
    the catalog, switched into the pandas dialect (``.pandas_api`` with a
    REAL index column — no synthetic distributed-sequence index stage),
    grouped/aggregated pandas-style, and surfaced back via ``to_spark``.
    Everything compiles to the same JVM plan (no Python nodes, one agg
    exchange — enforced by the shared plan-discipline tests); decimal sums
    keep the engine's hash-exact discipline. Full oracle."""
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.col("o_totalprice").cast("decimal(18,4)").alias("price_dec"),
        # pandas 'count' counts NON-NULL values of the named column, so
        # counting the group column itself would report 0 for the NULL
        # group — count this always-present marker to get SQL's count(*)
        F.lit(1).alias("one"),
    )
    pdf = orders.pandas_api(index_col="o_orderkey")
    # dropna=False: pandas' groupby default silently DROPS NULL group
    # keys where SQL GROUP BY keeps them as a group — pin SQL semantics
    g = pdf.groupby("o_orderstatus", dropna=False).agg(
        n_orders=("one", "count"), total_dec=("price_dec", "sum")
    )
    out = g.to_spark(index_col="o_orderstatus")
    return out.select(
        "o_orderstatus",
        "n_orders",
        F.col("total_dec").cast("double").alias("total_price"),
    )


# shuffle_budget: as-of union-trick: one user-keyed window exchange
@query(ref_s=0.23, shuffle_budget=1, oracle="""
    -- ts comparisons and outputs truncated to microseconds: Spark decodes
    -- every events.ts layout to microsecond timestamps (catalog.py), so a
    -- raw nanosecond fixture would otherwise diverge at sub-us precision
    WITH dim AS (
        SELECT user_id,
               date_trunc('microseconds', ts) AS valid_from,
               lead(date_trunc('microseconds', ts)) OVER w AS valid_to,
               event_id AS dim_version_id,
               value AS dim_value
        FROM events WHERE event_type = 'purchase'
        WINDOW w AS (
            PARTITION BY user_id
            ORDER BY date_trunc('microseconds', ts) ASC, event_id ASC
        )
    ),
    clicks AS (
        SELECT event_id, user_id, date_trunc('microseconds', ts) AS ts
        FROM events WHERE event_type = 'click'
    )
    SELECT c.event_id, c.user_id, c.ts, d.dim_version_id, d.dim_value
    FROM clicks c LEFT JOIN dim d
      ON c.user_id = d.user_id
     AND d.valid_from <= c.ts
     AND (d.valid_to IS NULL OR c.ts < d.valid_to)
""")
def q_pit_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time SCD2 dimension lookup: each click event joined to the
    per-user dimension version (built from the purchase changelog,
    sources/lake.py:build_scd2 semantics) that was valid AT the click's
    event time. Expressed as an AS-OF join against version starts
    (operators/joins.py:asof_join — one shuffle, no per-key pair
    explosion) instead of the naive BETWEEN(valid_from, valid_to)
    theta-join, which degenerates to a per-key cartesian at scale; the
    interval formulation is exactly what the oracle recomputes. Clicks
    before any version keep NULL attributes (left semantics)."""
    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    versions = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.col("event_id").alias("dim_version_id"),
        F.col("value").alias("dim_value"),
    )
    out = joins.asof_join(
        clicks, versions, "user_id", "ts", ["dim_version_id", "dim_value"],
        "dim_version_id",
    )
    return out.select(
        "event_id",
        "user_id",
        "ts",
        F.col("asof_dim_version_id").alias("dim_version_id"),
        F.col("asof_dim_value").alias("dim_value"),
    )


@query(no_plan=True, oracle="""
    WITH v AS (
        SELECT user_id, date_trunc('microseconds', ts) AS view_ts,
               event_id AS view_id
        FROM events WHERE event_type = 'view'
    ),
    c AS (
        SELECT user_id AS click_user, date_trunc('microseconds', ts) AS click_ts,
               event_id AS click_id
        FROM events WHERE event_type = 'click'
    ),
    -- Final global watermark, mirroring Spark EXACTLY (empirically pinned
    -- by boundary probes at wm, wm-1us, wm-1ms, wm+400us): each side's max
    -- event time is FLOORED TO WHOLE MILLISECONDS (event-time stats track
    -- ms), the global watermark is the MIN of the two (default policy),
    -- and state eviction fires iff view_ts + lag <= wm - 1ms (Spark's
    -- state-watermark strictness adjustment) — equality at wm or within
    -- the trailing millisecond stays buffered.
    wm AS (
        SELECT least(date_trunc('milliseconds', (SELECT max(view_ts) FROM v)),
                     date_trunc('milliseconds', (SELECT max(click_ts) FROM c)))
               - INTERVAL 2 MINUTE AS w
    ),
    matched AS (
        SELECT v.user_id, v.view_id, c.click_id
        FROM v JOIN c
          ON v.user_id = c.click_user
         AND c.click_ts >= v.view_ts
         AND c.click_ts <= v.view_ts + INTERVAL 5 MINUTE
    ),
    expired_unmatched AS (
        SELECT v.user_id, v.view_id, NULL AS click_id
        FROM v
        WHERE NOT EXISTS (
                SELECT 1 FROM c
                WHERE c.click_user = v.user_id
                  AND c.click_ts >= v.view_ts
                  AND c.click_ts <= v.view_ts + INTERVAL 5 MINUTE
              )
          AND v.view_ts + INTERVAL 5 MINUTE
              <= (SELECT w FROM wm) - INTERVAL 1 MILLISECOND
    )
    SELECT user_id,
           count(click_id) AS n_attributed,
           CAST(sum(CASE WHEN click_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_expired_unmatched
    FROM (
        SELECT user_id, click_id FROM matched
        UNION ALL
        SELECT user_id, click_id FROM expired_unmatched
    ) GROUP BY user_id
""")
def q_streaming_interval_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER stream-stream interval join — unconverted views surface
    as a stream with NULL click columns when the watermark evicts their
    state (streaming/joins.py:view_click_attribution_outer). FULL ORACLE:
    the staged slices replay in time order, so matched pairs equal the
    batch interval join and the emitted null rows are exactly the
    unmatched views whose ``view_ts + lag`` fell before the final global
    watermark ``min(max view_ts, max click_ts) - delay`` — both recomputed
    in SQL. Per-user counts returned."""
    from datalake_breweries_two_spark.streaming import joins as stream_joins

    stage_dir = _scratch("events_ssjoin_outer_stream")
    stream_windows.stage_time_ordered_stream(
        spark, os.path.join(sf_dir, "events.parquet"), stage_dir, n_slices=4
    )
    stream = stream_windows.read_events_stream(spark, stage_dir)
    views = stream.filter(F.col("event_type") == "view")
    clicks = stream.filter(F.col("event_type") == "click")
    pairs = stream_joins.view_click_attribution_outer(
        views, clicks, max_lag_minutes=5, watermark="2 minutes"
    )
    out = stream_windows.run_stream_to_memory(
        spark, pairs, "q_streaming_ssjoin_outer_sink", output_mode="append"
    )
    return out.groupBy("user_id").agg(
        F.count("click_id").alias("n_attributed"),
        F.sum(F.col("click_id").isNull().cast("long")).alias("n_expired_unmatched"),
    )


# --------------------------------------------------------------------------
# r4: TPC-H Q4/Q12/Q21 shapes (the three remaining queries expressible
# without a partsupp table), statistical aggregates, and a dbt/Deequ-style
# data-quality audit.
# --------------------------------------------------------------------------

# shuffle_budget: semi join broadcasts at smoke sf; one agg
@query(ref_s=0.9, shuffle_budget=1, oracle="""
    SELECT o_orderpriority,
           count(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1997-01-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey
                    AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
    GROUP BY o_orderpriority
""")
def q_sql_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (priority queue): orders in a one-year band that had
    at least one LATE lineitem (shipped >60 days after the order date —
    the l_commitdate < l_receiptdate analog on this schema), counted per
    priority. Spark side is a non-equi LEFT SEMI join (the decorrelated
    form of Q4's EXISTS): the orders side keeps its columns, lineitem
    contributes only existence, and the semi join shuffles just
    (orderkey, shipdate) — at 100 TB no lineitem payload moves."""
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = (F.col("l_orderkey") == F.col("o_orderkey")) & (
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    )
    return (
        orders.join(li, late, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).cast("long").alias("order_count"))
    )


# shuffle_budget: orders broadcast; one linestatus agg
@query(ref_s=0.56, shuffle_budget=1, oracle="""
    SELECT l_linestatus,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_shipdate > o_orderdate + INTERVAL 30 DAY
    GROUP BY l_linestatus
""")
def q_sql_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (shipping modes / late lines): lineitems shipped in
    a one-year band AND slow (>30 days after order date), bucketed by
    linestatus (the shipmode analog), with the two-tier conditional
    priority counts. One equi join + one small-key aggregate; the date
    filters push to the lineitem scan."""
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).cast("long").alias("low_line_count"),
        )
    )


# The textbook correlated EXISTS / NOT EXISTS triple-self-join form — the
# Spark side decorrelates it to one per-order aggregate; results must agree.
# shuffle_budget: per-order distinct pair + join-back + final agg
@query(ref_s=1.56, shuffle_budget=4, oracle="""
    SELECT s_name, count(*) AS numwait
    FROM supplier
    JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
    JOIN orders ON o_orderkey = l1.l_orderkey
    WHERE o_orderstatus = 'F'
      AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 20
""")
def q_sql_tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (suppliers who kept waiting): in finished orders,
    count late lineitems whose supplier was the ONLY late supplier of a
    multi-supplier order. The textbook form is a triple self-join with
    correlated EXISTS / NOT EXISTS over lineitem (the oracle keeps that
    form); Spark-first it decorrelates into ONE per-order aggregate —
    count of distinct suppliers and distinct LATE suppliers — joined back
    to the late lines. lineitem is scanned once for the aggregate and once
    for the candidates instead of three times, and both sides of the
    join are orderkey-partitioned, so at 100 TB the plan is two
    orderkey shuffles rather than two quadratic-risk correlated probes.
    """
    orders = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    li = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_suppkey", "l_shipdate")
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .withColumn(
            "is_late",
            F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"),
        )
    )
    per_order = li.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(F.when(F.col("is_late"), F.col("l_suppkey"))).alias(
            "n_late_supp"
        ),
    )
    sole_late = (
        li.filter(F.col("is_late"))
        .join(per_order, "l_orderkey")
        .filter((F.col("n_supp") >= 2) & (F.col("n_late_supp") == 1))
    )
    supplier = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        sole_late.join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).cast("long").alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(20)
    )


# shuffle_budget: single-pass co-moment agg
@query(ref_s=0.21, shuffle_budget=1, oracle="""
    SELECT l_returnflag,
           count(*) AS n_rows,
           round(corr(l_quantity, l_extendedprice), 4) + 0.0 AS corr_l_quantity_l_extendedprice,
           round(corr(l_extendedprice, l_discount), 4) + 0.0 AS corr_l_extendedprice_l_discount,
           round(corr(l_quantity, l_discount), 4) + 0.0 AS corr_l_quantity_l_discount
    FROM lineitem
    GROUP BY l_returnflag
""")
def q_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-returnflag Pearson correlation matrix over the lineitem measure
    columns — one single-pass grouped aggregate (operators/aggregates.py
    corr_matrix)."""
    from datalake_breweries_two_spark.operators.aggregates import corr_matrix

    return corr_matrix(
        _t(spark, sf_dir, "lineitem"),
        "l_returnflag",
        [
            ("l_quantity", "l_extendedprice"),
            ("l_extendedprice", "l_discount"),
            ("l_quantity", "l_discount"),
        ],
    )


# shuffle_budget: customer broadcast; one regr agg
@query(ref_s=0.36, shuffle_budget=1, oracle="""
    SELECT c_mktsegment,
           round(regr_slope(o_totalprice, c_acctbal), 4) + 0.0 AS slope,
           round(regr_intercept(o_totalprice, c_acctbal), 4) + 0.0 AS intercept,
           regr_count(o_totalprice, c_acctbal) AS n_obs
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
""")
def q_linreg_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-market-segment least-squares fit of order total against customer
    account balance — the regr_* closed-form single-job pattern
    (operators/aggregates.py linreg_by_group); customer broadcast onto the
    orders scan."""
    from datalake_breweries_two_spark.operators.aggregates import linreg_by_group

    orders = _t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    joined = orders.join(
        F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey")
    )
    return linreg_by_group(joined, "c_mktsegment", "o_totalprice", "c_acctbal")


# shuffle_budget: 8 checks in 7 union branches: 2 key aggs x2 + 3 anti-join collapses +
# 1 discount-range agg + 1 fused orders row-invariant agg
@query(ref_s=1.18, shuffle_budget=9, oracle="""
    SELECT 'lineitem_orderkey_fk' AS check,
           count(*) AS n_violations, count(*) = 0 AS passed
    FROM lineitem WHERE l_orderkey IS NULL
       OR NOT EXISTS (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey)
    UNION ALL
    SELECT 'orders_custkey_fk', count(*), count(*) = 0
    FROM orders WHERE o_custkey IS NULL
       OR NOT EXISTS (SELECT 1 FROM customer WHERE c_custkey = o_custkey)
    UNION ALL
    SELECT 'customer_nationkey_fk', count(*), count(*) = 0
    FROM customer WHERE c_nationkey IS NULL
       OR NOT EXISTS (SELECT 1 FROM nation WHERE n_nationkey = c_nationkey)
    UNION ALL
    SELECT 'orders_orderkey_unique',
           CAST(coalesce(sum(n), 0) AS BIGINT), coalesce(sum(n), 0) = 0
    FROM (SELECT count(*) AS n FROM orders GROUP BY o_orderkey HAVING count(*) > 1)
    UNION ALL
    SELECT 'lineitem_line_unique',
           CAST(coalesce(sum(n), 0) AS BIGINT), coalesce(sum(n), 0) = 0
    FROM (SELECT count(*) AS n FROM lineitem
          GROUP BY l_orderkey, l_linenumber HAVING count(*) > 1)
    UNION ALL
    SELECT 'orders_totalprice_positive',
           CAST(coalesce(sum(CASE WHEN o_totalprice <= 0 OR o_totalprice IS NULL
                                  THEN 1 ELSE 0 END), 0) AS BIGINT),
           coalesce(sum(CASE WHEN o_totalprice <= 0 OR o_totalprice IS NULL
                             THEN 1 ELSE 0 END), 0) = 0
    FROM orders
    UNION ALL
    SELECT 'lineitem_discount_range',
           CAST(coalesce(sum(CASE WHEN l_discount < 0 OR l_discount > 1 OR l_discount IS NULL
                                  THEN 1 ELSE 0 END), 0) AS BIGINT),
           coalesce(sum(CASE WHEN l_discount < 0 OR l_discount > 1 OR l_discount IS NULL
                             THEN 1 ELSE 0 END), 0) = 0
    FROM lineitem
    UNION ALL
    SELECT 'orders_totalprice_finite',
           CAST(coalesce(sum(CASE WHEN isnan(o_totalprice) OR isinf(o_totalprice)
                                  THEN 1 ELSE 0 END), 0) AS BIGINT),
           coalesce(sum(CASE WHEN isnan(o_totalprice) OR isinf(o_totalprice)
                             THEN 1 ELSE 0 END), 0) = 0
    FROM orders
""")
def q_dq_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dbt/Deequ-style audit suite over the lake in one declarative plan:
    referential integrity (FK orphans), key uniqueness, and row-level
    invariants, one (check, n_violations, passed) row each
    (operators/quality.py fk_orphan_count / duplicate_key_count /
    predicate_violation_count / dq_audit)."""
    from datalake_breweries_two_spark.operators.quality import (
        dq_audit,
        duplicate_key_count,
        fk_orphan_count,
        non_finite_flag,
        predicate_violation_count,
        row_invariant_counts,
        violation_flag,
    )

    orders = _t(spark, sf_dir, "orders")
    lineitem = _t(spark, sf_dir, "lineitem")
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    checks = [
        (
            "lineitem_orderkey_fk",
            fk_orphan_count(lineitem, orders, "l_orderkey", "o_orderkey"),
        ),
        (
            "orders_custkey_fk",
            fk_orphan_count(orders, customer, "o_custkey", "c_custkey"),
        ),
        (
            "customer_nationkey_fk",
            fk_orphan_count(customer, nation, "c_nationkey", "n_nationkey"),
        ),
        ("orders_orderkey_unique", duplicate_key_count(orders, ["o_orderkey"])),
        (
            "lineitem_line_unique",
            duplicate_key_count(lineitem, ["l_orderkey", "l_linenumber"]),
        ),
        (
            "lineitem_discount_range",
            predicate_violation_count(
                lineitem, (F.col("l_discount") < 0) | (F.col("l_discount") > 1)
            ),
        ),
    ]
    # Both orders row-level invariants from ONE scan + ONE aggregate
    # (r17, guide §2.4: they were two separate full-orders branches for
    # conditional sums that coexist in one partial-agg pass). NaN/Inf
    # corrupt every decimal-exact aggregate downstream (both this engine
    # and DuckDB/Postgres RAISE on them) — gate here first. NULL stances
    # unchanged: NULL price violates positivity (unknown = broken) and
    # does NOT count as non-finite.
    orders_row_checks = row_invariant_counts(
        orders,
        [
            ("orders_totalprice_positive", violation_flag(F.col("o_totalprice") <= 0)),
            ("orders_totalprice_finite", non_finite_flag("o_totalprice")),
        ],
    )
    return dq_audit(checks).unionByName(orders_row_checks)


# shuffle_budget: both rank windows + final agg share one group-keyed exchange
@query(ref_s=0.52, shuffle_budget=1, oracle="""
    WITH ranked AS (
        SELECT l_returnflag,
               CAST(rank() OVER (PARTITION BY l_returnflag ORDER BY l_quantity)
                    AS DOUBLE) AS rx,
               CAST(rank() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice)
                    AS DOUBLE) AS ry
        FROM lineitem
        WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
    )
    SELECT l_returnflag,
           round(regr_sxy(rx, ry)
                 / sqrt(regr_sxx(rx, ry) * regr_syy(rx, ry)), 4) + 0.0
               AS spearman_qty_price,
           count(*) AS n_rows
    FROM ranked
    GROUP BY l_returnflag
""")
def q_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-returnflag Spearman rank correlation of quantity vs extended
    price: rank-transform both measures inside one group-partitioned
    window pass (the two rank() calls share the SAME partition key, so
    Catalyst runs them on one exchange+sort), then the division-free
    co-moment correlation over the integer ranks (see
    operators/aggregates.py corr_matrix for the ANSI rationale).
    Min-rank ties (SQL rank()) are used on BOTH engines, so the rank
    vectors are bit-identical cross-engine — no FP enters until the final
    co-moment division, rounded to 4dp. Scale note: per-group ranking is
    a group-keyed sort, not a global one; the heavy exchange is the same
    single shuffle any per-group window costs."""
    from pyspark.sql import Window

    li = (
        _t(spark, sf_dir, "lineitem")
        .select("l_returnflag", "l_quantity", "l_extendedprice")
        # a rank correlation is defined over complete (x, y) pairs; a NULL
        # in either measure has no rank, and leaving it in would place it
        # differently per engine (Spark ASC=NULLS FIRST, DuckDB=LAST)
        .filter(
            F.col("l_quantity").isNotNull() & F.col("l_extendedprice").isNotNull()
        )
    )
    wq = Window.partitionBy("l_returnflag").orderBy("l_quantity")
    wp = Window.partitionBy("l_returnflag").orderBy("l_extendedprice")
    ranked = li.select(
        "l_returnflag",
        F.rank().over(wq).cast("double").alias("rx"),
        F.rank().over(wp).cast("double").alias("ry"),
    )
    rx, ry = F.col("ry"), F.col("rx")
    rho = F.try_divide(
        F.regr_sxy(rx, ry), F.sqrt(F.regr_sxx(rx, ry) * F.regr_syy(rx, ry))
    )
    # + 0.0: negative-zero normalization (see corr_matrix)
    return ranked.groupBy("l_returnflag").agg(
        (F.round(rho, 4) + F.lit(0.0)).alias("spearman_qty_price"),
        F.count(F.lit(1)).cast("long").alias("n_rows"),
    )


# shuffle_budget: user-keyed window + (type,type) count
@query(ref_s=0.75, shuffle_budget=2, oracle="""
    WITH pairs AS (
        SELECT event_type AS from_type,
               lead(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS to_type
        FROM events
    )
    SELECT from_type, to_type, count(*) AS n_transitions
    FROM pairs
    WHERE to_type IS NOT NULL
    GROUP BY from_type, to_type
    ORDER BY n_transitions DESC, from_type, to_type
    LIMIT 20
""")
def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-type transition (first-order Markov) counts: one
    user-keyed window pass pairs each event with its successor
    (lead over ts, event_id tie-break), then a global pair count and a
    deterministic top-20. The sessionize/funnel sibling for behavioral
    modeling — at 100 TB the only wide exchanges are the user-keyed
    window shuffle and the tiny (type,type)-keyed count."""
    from pyspark.sql import Window

    from datalake_breweries_two_spark.catalog import read_events

    ev = read_events(spark, os.path.join(sf_dir, "events.parquet")).select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = ev.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    return (
        pairs.groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n_transitions"))
        .orderBy(F.desc("n_transitions"), F.asc("from_type"), F.asc("to_type"))
        .limit(20)
    )


# shuffle_budget: fact agg + ~25-row window exchange
@query(ref_s=0.65, shuffle_budget=2, oracle="""
    WITH per_nation AS (
        SELECT r_name, n_name,
               sum(CAST(o_totalprice AS DECIMAL(18,4))) AS _rev
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        GROUP BY r_name, n_name
    )
    SELECT r_name, n_name,
           CAST(_rev AS DOUBLE) AS revenue,
           round(CAST(_rev / sum(_rev) OVER (PARTITION BY r_name) AS DOUBLE), 6)
               AS region_share
    FROM per_nation
""")
def q_percent_of_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share-of-total BI shape: order revenue per (region, nation) and
    each nation's share of its region — one fact aggregate (decimal-exact
    sums; customer/nation/region broadcast onto the orders scan) followed
    by a window ratio over the TINY aggregate relation, so the share
    computation costs a ~25-row exchange regardless of fact size. Ratio
    computed on the decimal sums BEFORE the double cast and rounded —
    cross-engine stable."""
    orders = _t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nat = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    reg = _t(spark, sf_dir, "region").select("r_regionkey", "r_name")
    per_nation = (
        orders.join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(reg), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,4)")).alias("_rev")
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("r_name")
    return per_nation.select(
        "r_name",
        "n_name",
        F.col("_rev").cast("double").alias("revenue"),
        # try_divide: a region whose revenue sums to zero has no defined
        # shares — NULL on both engines (Spark ANSI would otherwise throw
        # DIVIDE_BY_ZERO on the decimal division; DuckDB yields NULL).
        F.round(
            F.try_divide(F.col("_rev"), F.sum("_rev").over(w)).cast("double"), 6
        ).alias("region_share"),
    )


# shuffle_budget: TakeOrdered-style global top-(offset+limit)
@query(ref_s=0.11, shuffle_budget=0, oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 50 OFFSET 100
""")
def q_offset_pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-standard LIMIT/OFFSET pagination (Spark 4 OFFSET support): page 3
    of orders by descending value with a full deterministic sort key.
    Scale note: OFFSET pagination materializes offset+limit rows through a
    TakeOrdered-style global top-k — fine at dashboard page depths, but a
    deep-scroll consumer should switch to keyset pagination (WHERE
    (o_totalprice, o_orderkey) < last_seen ORDER BY ... LIMIT n), which
    this engine expresses as an ordinary pushed-down filter; the reference
    itself paginates its source API by page number
    (``plugins/brewery_operators.py:33-56``) — this is that surface on the
    query side."""
    return _sql(spark, sf_dir, ORACLE_SQL["q_offset_pagination"])


# shuffle_budget: same; NULLS LAST pinned
@query(ref_s=0.11, shuffle_budget=0, oracle="""
    SELECT o_orderkey,
           nullif(o_orderpriority, '4-NOT SPECIFIED') AS pri
    FROM orders
    ORDER BY pri ASC NULLS LAST, o_orderkey
    LIMIT 30
""")
def q_nulls_ordering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit NULLS FIRST / NULLS LAST ordering: engines DISAGREE on the
    default NULL sort position (Spark ASC = NULLS FIRST, DuckDB ASC =
    NULLS LAST), so portable top-k queries must pin it — this query takes
    the first 30 rows under NULLS LAST over a priority column made
    nullable via nullif, with a key tie-break; the picked row SET (which
    is what the order-insensitive hash checks) differs from the default
    Spark ordering, so the pin is load-bearing."""
    return _sql(spark, sf_dir, ORACLE_SQL["q_nulls_ordering"])


# shuffle_budget: sugar compiles to one partial/final agg
@query(ref_s=0.17, shuffle_budget=1, oracle="""
    SELECT o_orderstatus,
           o_orderpriority,
           count(*) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
               AS total_value
    FROM orders
    GROUP BY ALL
""")
def q_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ALL (Spark 4 / modern-SQL sugar): every non-aggregate
    select item becomes a grouping key — compiles to the identical
    partial/final HashAggregate as the explicit form (the plan-budget test
    pins it at one exchange), so the sugar costs nothing at scale."""
    return _sql(spark, sf_dir, ORACLE_SQL["q_group_by_all"])


# shuffle_budget: split projection + distinct-source rollup pair
@query(ref_s=0.18, shuffle_budget=2, oracle="""
    WITH assigned AS (
        -- concat_ws semantics: a NULL group key is SKIPPED, so the draw
        -- becomes md5(seed alone) — all NULL-source docs share one
        -- deterministic split rather than nulling out of the CASE
        SELECT doc_id, source,
               CASE
                 WHEN substr(md5(coalesce(source || ':groupsplit-v1',
                                          'groupsplit-v1')), 1, 8) < 'cccccccc'
                   THEN 'train'
                 WHEN substr(md5(coalesce(source || ':groupsplit-v1',
                                          'groupsplit-v1')), 1, 8) < 'e6666666'
                   THEN 'val'
                 ELSE 'test'
               END AS split
        FROM documents
    )
    SELECT split, count(*) AS n_docs,
           count(DISTINCT source) AS n_sources
    FROM assigned
    GROUP BY split
""")
def q_group_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe split summary: documents split by SOURCE hash (all docs
    of a source share a split — near-dups can't straddle train/test), then
    a per-(split, source-count) sanity rollup
    (operators/sampling.py:group_split). The rollup proves the invariant
    the oracle checks: every source maps to exactly one split."""
    from datalake_breweries_two_spark.operators.sampling import group_split

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return (
        group_split(docs, "source")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.countDistinct("source").cast("long").alias("n_sources"),
        )
    )


# shuffle_budget: floor agg + label-keyed window + summary agg
@query(ref_s=0.3, shuffle_budget=3, oracle="""
    WITH ranked AS (
        SELECT label, vec_id,
               row_number() OVER (
                   PARTITION BY label
                   ORDER BY md5(CAST(vec_id AS VARCHAR) || ':balance-v1'),
                            vec_id) AS rk
        FROM embeddings
    ),
    floor_n AS (
        SELECT min(n) AS f FROM (
            SELECT count(*) AS n FROM embeddings GROUP BY label)
    )
    SELECT label, count(*) AS n_rows, CAST(sum(vec_id) AS BIGINT) AS id_checksum
    FROM ranked, floor_n
    WHERE rk <= f
    GROUP BY label
""")
def q_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced downsample of the embeddings table to min-class
    cardinality, summarized per label (operators/sampling.py:
    balanced_downsample) — the md5-ordered deterministic variant of the
    random undersampling every classifier pipeline runs; checksum of
    picked ids proves both engines selected the IDENTICAL rows, not just
    the same count."""
    from datalake_breweries_two_spark.operators.sampling import balanced_downsample

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "label")
    picked = balanced_downsample(emb, "label", "vec_id")
    return picked.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("vec_id").cast("long").alias("id_checksum"),
    )


# shuffle_budget: user-day dedup + spine + distinct-count pair
@query(ref_s=0.59, shuffle_budget=4, oracle="""
    WITH user_days AS (
        SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS d
        FROM events
    ),
    spine AS (SELECT DISTINCT d AS day FROM user_days)
    SELECT s.day, count(DISTINCT u.user_id) AS wau
    FROM spine s
    JOIN user_days u
      ON u.d <= s.day AND u.d >= s.day - INTERVAL 6 DAY
    GROUP BY s.day
""")
def q_rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct active users (the WAU engagement metric) via
    BOUNDED EXPANSION instead of a range join: events first dedupe to
    (user, day) — the only full-data shuffle — then each user-day fans out
    to the ≤7 report days it supports (explode over a 7-element sequence)
    and a day-keyed distinct count finishes. The naive formulation is a
    `u.day BETWEEN s.day-6 AND s.day` theta join, which Spark executes as
    a nested-loop — at 100 TB the bounded 7x explode of the ALREADY
    DEDUPED user-day relation shuffles strictly less and stays a hash
    join/aggregate. Report days are restricted to days with activity."""
    from datalake_breweries_two_spark.catalog import read_events

    ev = read_events(spark, os.path.join(sf_dir, "events.parquet"))
    user_days = ev.select(
        "user_id", F.to_date(F.date_trunc("day", F.col("ts"))).alias("d")
    ).distinct()
    spine = user_days.select(F.col("d").alias("day")).distinct()
    contrib = user_days.select(
        "user_id",
        F.explode(
            F.sequence(F.col("d"), F.date_add(F.col("d"), 6))
        ).alias("day"),
    )
    return (
        contrib.join(F.broadcast(spine), "day")
        .groupBy("day")
        .agg(F.countDistinct("user_id").cast("long").alias("wau"))
    )


# shuffle_budget: cell-equality hash join (broadcast at test sf)
@query(ref_s=0.79, shuffle_budget=0, oracle="""
    WITH pts AS (
        SELECT c_custkey AS id,
               CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR) || ':lat-v1'), 1, 8))
                    AS BIGINT) / 4294967295.0 * 90.0 - 45.0 AS lat,
               CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR) || ':lon-v1'), 1, 8))
                    AS BIGINT) / 4294967295.0 * 120.0 - 60.0 AS lon
        FROM customer
    ),
    cells AS (
        SELECT id, lat, lon,
               CAST(floor(lat / 2.0) AS BIGINT) AS cx,
               CAST(floor(lon / 2.0) AS BIGINT) AS cy
        FROM pts
    )
    SELECT a.id AS id_a, b.id AS id_b,
           round(2.0 * 6371.0 * asin(sqrt(
               pow(sin((radians(b.lat) - radians(a.lat)) / 2.0), 2)
               + cos(radians(a.lat)) * cos(radians(b.lat))
                 * pow(sin((radians(b.lon) - radians(a.lon)) / 2.0), 2))), 3)
               AS dist_km
    FROM cells a
    JOIN cells b
      ON b.cx BETWEEN a.cx - 1 AND a.cx + 1
     AND b.cy BETWEEN a.cy - 1 AND a.cy + 1
     AND a.id < b.id
    WHERE round(2.0 * 6371.0 * asin(sqrt(
               pow(sin((radians(b.lat) - radians(a.lat)) / 2.0), 2)
               + cos(radians(a.lat)) * cos(radians(b.lat))
                 * pow(sin((radians(b.lon) - radians(a.lon)) / 2.0), 2))), 3) <= 150.0
""")
def q_geo_radius_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-bucketed spatial self-join: customer pairs within 150 km.

    Coordinates are derived deterministically from the customer key (the
    testdata carries none; the md5-uniform draw is IEEE-exact on both
    engines so the inputs to the distance are bit-identical), latitude
    confined to [-45, 45] so a 2-degree grid cell provably covers the
    150 km radius at every latitude in range. Scale shape: each point
    maps to one cell; the LEFT side expands to its 3x3 cell neighborhood
    (bounded 9x) and pairs join on CELL EQUALITY — a hash join over
    ~point-count rows — never the all-pairs cross join a naive
    `haversine(a,b) <= R` theta-join degenerates to. Haversine compared
    on a rounded value (libm sin/cos differ across engines in ulps; the
    ROUNDED distance is the portable quantity, same discipline as the
    stats operators)."""
    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    u1 = F.conv(
        F.substring(F.md5(F.concat_ws(":", F.col("c_custkey").cast("string"), F.lit("lat-v1"))), 1, 8),
        16, 10,
    ).cast("double") / F.lit(4294967295.0)
    u2 = F.conv(
        F.substring(F.md5(F.concat_ws(":", F.col("c_custkey").cast("string"), F.lit("lon-v1"))), 1, 8),
        16, 10,
    ).cast("double") / F.lit(4294967295.0)
    pts = cust.select(
        F.col("c_custkey").alias("id"),
        (u1 * 90.0 - 45.0).alias("lat"),
        (u2 * 120.0 - 60.0).alias("lon"),
    ).select(
        "id", "lat", "lon",
        F.floor(F.col("lat") / 2.0).cast("long").alias("cx"),
        F.floor(F.col("lon") / 2.0).cast("long").alias("cy"),
    )
    left = pts.select(
        F.col("id").alias("id_a"), F.col("lat").alias("lat_a"), F.col("lon").alias("lon_a"),
        F.explode(F.expr("sequence(cx - 1, cx + 1)")).alias("cx"), F.col("cy").alias("cy0"),
    ).select(
        "id_a", "lat_a", "lon_a", "cx",
        F.explode(F.expr("sequence(cy0 - 1, cy0 + 1)")).alias("cy"),
    )
    right = pts.select(
        F.col("id").alias("id_b"), F.col("lat").alias("lat_b"), F.col("lon").alias("lon_b"),
        "cx", "cy",
    )
    joined = left.join(right, ["cx", "cy"]).filter(F.col("id_a") < F.col("id_b"))
    rad = lambda c: F.radians(c)  # noqa: E731
    dlat = (rad(F.col("lat_b")) - rad(F.col("lat_a"))) / 2.0
    dlon = (rad(F.col("lon_b")) - rad(F.col("lon_a"))) / 2.0
    h = F.sin(dlat) ** 2 + F.cos(rad(F.col("lat_a"))) * F.cos(rad(F.col("lat_b"))) * F.sin(dlon) ** 2
    # ONE rounding, used for both the radius filter and the output value:
    # re-rounding 3dp->2dp would land exactly on .xx5 halves where the
    # engines' half-rules disagree (observed: Spark HALF_UP vs DuckDB).
    dist = F.round(2.0 * 6371.0 * F.asin(F.sqrt(h)), 3)
    return (
        joined.select("id_a", "id_b", dist.alias("dist_km"))
        .filter(F.col("dist_km") <= 150.0)
    )


# shuffle_budget: 4 key-count passes x (per-key agg + percentile collapse)
@query(ref_s=0.28, shuffle_budget=8, oracle="""
    WITH k1 AS (SELECT count(*) AS _n FROM lineitem GROUP BY l_orderkey),
         k2 AS (SELECT count(*) AS _n FROM lineitem GROUP BY l_suppkey),
         k3 AS (SELECT count(*) AS _n FROM lineitem GROUP BY l_partkey),
         k4 AS (SELECT count(*) AS _n FROM orders GROUP BY o_custkey)
    SELECT 'lineitem.l_orderkey' AS key_name, count(*) AS n_keys,
           CAST(sum(_n) AS BIGINT) AS total_rows, max(_n) AS max_rows,
           CAST(quantile_disc(_n, 0.5) AS BIGINT) AS p50_rows,
           CAST(quantile_disc(_n, 0.99) AS BIGINT) AS p99_rows,
           round(CAST(max(_n) AS DOUBLE) / quantile_disc(_n, 0.5), 2) AS skew_ratio
    FROM k1
    UNION ALL
    SELECT 'lineitem.l_suppkey', count(*), CAST(sum(_n) AS BIGINT), max(_n),
           CAST(quantile_disc(_n, 0.5) AS BIGINT),
           CAST(quantile_disc(_n, 0.99) AS BIGINT),
           round(CAST(max(_n) AS DOUBLE) / quantile_disc(_n, 0.5), 2)
    FROM k2
    UNION ALL
    SELECT 'lineitem.l_partkey', count(*), CAST(sum(_n) AS BIGINT), max(_n),
           CAST(quantile_disc(_n, 0.5) AS BIGINT),
           CAST(quantile_disc(_n, 0.99) AS BIGINT),
           round(CAST(max(_n) AS DOUBLE) / quantile_disc(_n, 0.5), 2)
    FROM k3
    UNION ALL
    SELECT 'orders.o_custkey', count(*), CAST(sum(_n) AS BIGINT), max(_n),
           CAST(quantile_disc(_n, 0.5) AS BIGINT),
           CAST(quantile_disc(_n, 0.99) AS BIGINT),
           round(CAST(max(_n) AS DOUBLE) / quantile_disc(_n, 0.5), 2)
    FROM k4
""")
def q_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostics — the report you run BEFORE shipping a
    100 TB join: per-key row-count distribution (distinct keys, max,
    discrete p50/p99, max/p50 skew ratio) for each candidate shuffle key,
    unioned into one relation. Each key costs one partial-aggregated
    count pass plus a percentile aggregate over the (small) per-key count
    relation; a skew_ratio in the hundreds says salt this key or rely on
    AQE skew-join before the real workload runs. Counts are exact ints
    and percentile_disc picks actual elements, so every reported number
    is integer-exact cross-engine (only the ratio is FP, rounded)."""
    def one(df: DataFrame, col: str, label: str) -> DataFrame:
        per_key = df.groupBy(F.col(col)).agg(F.count(F.lit(1)).alias("_n"))
        return per_key.agg(
            F.lit(label).alias("key_name"),
            F.count(F.lit(1)).cast("long").alias("n_keys"),
            F.sum("_n").cast("long").alias("total_rows"),
            F.max("_n").cast("long").alias("max_rows"),
            F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY _n)")
            .cast("long").alias("p50_rows"),
            F.expr("percentile_disc(0.99) WITHIN GROUP (ORDER BY _n)")
            .cast("long").alias("p99_rows"),
            F.round(
                F.max("_n").cast("double")
                / F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY _n)"),
                2,
            ).alias("skew_ratio"),
        )
    li = _t(spark, sf_dir, "lineitem")
    parts = [
        one(li, "l_orderkey", "lineitem.l_orderkey"),
        one(li, "l_suppkey", "lineitem.l_suppkey"),
        one(li, "l_partkey", "lineitem.l_partkey"),
        one(_t(spark, sf_dir, "orders"), "o_custkey", "orders.o_custkey"),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# shuffle_budget: month agg + single-row totals + broadcast-back
@query(ref_s=0.48, shuffle_budget=3, oracle="""
    WITH per_part AS (
        SELECT strftime(o_orderdate, '%Y-%m') AS part_value,
               count(*) AS n_rows
        FROM orders
        GROUP BY 1
    ),
    totals AS (
        SELECT sum(n_rows) AS _total, count(*) AS _nparts FROM per_part
    )
    SELECT part_value,
           n_rows,
           round(CAST(n_rows AS DOUBLE) / CAST(_total AS DOUBLE), 6) AS share,
           CASE
             WHEN CAST(n_rows AS DOUBLE)
                  < 0.2 * (CAST(_total AS DOUBLE) / CAST(_nparts AS DOUBLE))
               THEN 'small'
             WHEN CAST(n_rows AS DOUBLE)
                  > 2.0 * (CAST(_total AS DOUBLE) / CAST(_nparts AS DOUBLE))
               THEN 'skewed'
             ELSE 'ok'
           END AS classification
    FROM per_part, totals
""")
def q_partition_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-layout planning report: for a candidate hive partition
    column (order month), rows per partition, share of total, and a
    small-files / skew classification — the sizing pass you run before a
    `partitionBy` write of a 100 TB table (too-small partitions fragment
    the filesystem; too-big ones break executor memory). One grouped
    count + a broadcast single-row total; thresholds compare exact int
    counts against a single IEEE division, deterministic cross-engine."""
    orders = _t(spark, sf_dir, "orders")
    per_part = orders.groupBy(
        F.date_format(F.col("o_orderdate"), "yyyy-MM").alias("part_value")
    ).agg(F.count(F.lit(1)).alias("n_rows"))
    totals = per_part.agg(
        F.sum("n_rows").alias("_total"), F.count(F.lit(1)).alias("_nparts")
    )
    avg = F.col("_total").cast("double") / F.col("_nparts").cast("double")
    return (
        per_part.crossJoin(F.broadcast(totals))
        .select(
            "part_value",
            F.col("n_rows").cast("long").alias("n_rows"),
            F.round(F.col("n_rows").cast("double") / F.col("_total").cast("double"), 6)
            .alias("share"),
            F.when(F.col("n_rows").cast("double") < 0.2 * avg, F.lit("small"))
            .when(F.col("n_rows").cast("double") > 2.0 * avg, F.lit("skewed"))
            .otherwise(F.lit("ok"))
            .alias("classification"),
        )
    )


@query(oracle="""
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
           count(DISTINCT user_id) AS dau
    FROM events
    WHERE user_id IS NOT NULL AND ts IS NOT NULL
    GROUP BY 1
""")
def q_streaming_dau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming daily-active-users: the dedup→aggregate CHAIN shape — a
    watermarked (user, day) dropDuplicates feeding a per-day count in
    update mode. State is one dedup entry per user-day (watermark-bounded)
    plus one counter per day; the raw event volume never reaches the
    aggregation. FULL ORACLE: the staged slices replay in time order so
    the watermark drops nothing, the per-day count is monotone across
    emissions, and the final snapshot (max per day) must equal the batch
    COUNT(DISTINCT user) — streaming correctness is hash-checked against
    the batch recompute."""
    stage_dir = _scratch("events_stream_dau")
    stream_windows.stage_time_ordered_stream(
        spark, os.path.join(sf_dir, "events.parquet"), stage_dir
    )
    stream = stream_windows.read_events_stream(spark, stage_dir)
    per_day = (
        stream.withWatermark("ts", "10 minutes")
        # DAU counts identified users on real days: a NULL user is no
        # user (dropDuplicates would otherwise count it as one), and a
        # NULL ts has no day
        .filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .select(
            F.col("user_id"),
            F.col("ts"),
            F.to_date(F.date_trunc("day", F.col("ts"))).alias("day"),
        )
        .dropDuplicates(["user_id", "day"])
        .groupBy("day")
        .agg(F.count(F.lit(1)).cast("long").alias("dau"))
    )
    out = stream_windows.run_stream_to_memory(
        spark, per_day, "q_streaming_dau_sink", output_mode="update", no_data_batches=False
    )
    return out.groupBy("day").agg(F.max("dau").cast("long").alias("dau"))


# shuffle_budget: union-trick: one user-keyed window exchange
@query(ref_s=0.16, shuffle_budget=1, oracle="""
    WITH clicks AS (
        SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
    ),
    purch AS (
        SELECT event_id AS p_event_id, user_id, ts, value
        FROM events WHERE event_type = 'purchase'
    )
    SELECT c.event_id, c.user_id,
           n.p_event_id AS next_event_id,
           n.value AS next_value
    FROM clicks c
    LEFT JOIN LATERAL (
        SELECT p.p_event_id, p.value
        FROM purch p
        WHERE p.user_id = c.user_id AND p.ts >= c.ts
        ORDER BY p.ts, p.p_event_id
        LIMIT 1
    ) n ON TRUE
""")
def q_asof_join_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join (operators/joins.py:asof_join_forward): each click
    matched to the user's NEXT purchase at-or-after it — the
    time-to-conversion shape; union-trick, one shuffle, no pair blowup."""
    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_event_id"), "user_id", "ts", "value"
    )
    out = joins.asof_join_forward(
        clicks,
        purchases,
        key_col="user_id",
        ts_col="ts",
        right_cols=["p_event_id", "value"],
        tie_col="p_event_id",
    )
    return out.select(
        "event_id",
        "user_id",
        F.col("next_p_event_id").alias("next_event_id"),
        F.col("next_value").alias("next_value"),
    )


# shuffle_budget: one customer-keyed window exchange
@query(ref_s=0.1, shuffle_budget=1, oracle="""
    SELECT o_orderkey,
           o_custkey,
           last_value(pri IGNORE NULLS) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS pri_ffill,
           first_value(pri IGNORE NULLS) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS pri_anchor
    FROM (
        SELECT o_orderkey, o_custkey, o_orderdate,
               nullif(o_orderpriority, '4-NOT SPECIFIED') AS pri
        FROM orders
        WHERE o_custkey % 10 = 0
    )
""")
def q_window_ignore_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IGNORE NULLS window navigation — the gaps-forward-fill idiom as raw
    SQL (the engine's resample operator builds the same shape with the
    DataFrame API): per customer in a keyed band, orders carry the last
    non-null priority seen so far (ffill) and the first non-null ever
    (anchor), with priorities deterministically nulled to create gaps.
    Engines agree on IGNORE NULLS semantics; the frame is rows-based so
    ties are pinned by the (date, key) ordering."""
    return _sql(
        spark,
        sf_dir,
        """
        SELECT o_orderkey,
               o_custkey,
               last_value(pri) IGNORE NULLS OVER (
                   PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS pri_ffill,
               first_value(pri) IGNORE NULLS OVER (
                   PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS pri_anchor
        FROM (
            SELECT o_orderkey, o_custkey, o_orderdate,
                   nullif(o_orderpriority, '4-NOT SPECIFIED') AS pri
            FROM orders
            WHERE o_custkey % 10 = 0
        )
        """
    )


# --------------------------------------------------------------------------
# The five TPC-H queries needing a partsupp table (Q2/Q9/Q11/Q16/Q20), over
# a DERIVED partsupp — the testdata ships none, so the pair relation
# implied by the fact table (DISTINCT (l_partkey, l_suppkey)) is extended
# with md5-derived supplycost/availqty. The derivation is a pure integer
# function of the keys (hex digits -> integer -> /100), so both engines
# materialize the IDENTICAL relation and every downstream comparison is
# exact. This completes all 22 TPC-H query shapes.
# --------------------------------------------------------------------------

# {hex} differs per engine: Spark conv(); DuckDB 0x-prefix cast. Inputs are
# 'pk:sk:<seed>' md5 digests either way.
_PARTSUPP_CTE = """
    partsupp AS (
        SELECT ps_partkey, ps_suppkey,
               1 + ({availhex} % 9999) AS ps_availqty,
               1.0 + CAST({costhex} % 99900 AS DOUBLE) / 100.0 AS ps_supplycost
        FROM (SELECT DISTINCT l_partkey AS ps_partkey,
                              l_suppkey AS ps_suppkey
              FROM lineitem{pair_filter})
    )
"""

_SPARK_HEX = (
    "CAST(conv(substring(md5(concat_ws(':', CAST(ps_partkey AS STRING), "
    "CAST(ps_suppkey AS STRING), '{seed}')), 1, 8), 16, 10) AS BIGINT)"
)
_DUCK_HEX = (
    "CAST(('0x' || substr(md5(CAST(ps_partkey AS VARCHAR) || ':' || "
    "CAST(ps_suppkey AS VARCHAR) || ':{seed}'), 1, 8)) AS BIGINT)"
)


def _tpch_ps_sql(engine: str, body: str, pair_filter: str = "") -> str:
    """``body`` under the derived partsupp CTE, in ``engine``'s md5-hex
    spelling. ``pair_filter`` is an optional WHERE clause on the raw pair
    stream, for a body whose own joins provably discard every pair it
    drops: the derived cost/qty columns are pure per-pair functions of the
    keys, so restricting the pair set never changes a surviving row."""
    hexes = _SPARK_HEX if engine == "spark" else _DUCK_HEX
    return "WITH " + _PARTSUPP_CTE.format(
        availhex=hexes.format(seed="availqty-v1"),
        costhex=hexes.format(seed="cost-v1"),
        pair_filter=pair_filter,
    ) + body


_TPCH_Q2_BODY = """
    , eligible AS (
        SELECT p_partkey, p_brand, s_suppkey, s_name, s_acctbal,
               n_name, ps_supplycost
        FROM partsupp
        JOIN part ON ps_partkey = p_partkey
        JOIN supplier ON ps_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE p_size = 15 AND p_type = 'ECONOMY' AND r_name = 'EUROPE'
    ),
    best AS (
        SELECT *, min(ps_supplycost) OVER (PARTITION BY p_partkey) AS min_cost
        FROM eligible
    )
    SELECT s_acctbal, s_name, n_name, p_partkey, p_brand,
           ps_supplycost AS supplycost
    FROM best
    WHERE ps_supplycost = min_cost
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
    LIMIT 20
"""


# shuffle_budget: partsupp dedup + part-keyed min window
@query(ref_s=1.05, shuffle_budget=2, oracle=_tpch_ps_sql("duck", _TPCH_Q2_BODY))
def q_sql_tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 (minimum-cost supplier): region-scoped part/supplier chain,
    per-part min supplycost via ONE window over the eligible relation (the
    textbook correlated-min subquery decorrelated), deterministic top-20.
    Equality on ps_supplycost is safe: the derived cost is the identical
    pure-integer function of the keys on both engines."""
    return _sql(spark, sf_dir, _tpch_ps_sql("spark", _TPCH_Q2_BODY))


_TPCH_Q9_BODY = """
    SELECT n_name AS nation,
           CAST(year(o_orderdate) AS BIGINT) AS o_year,
           round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                          * CAST(1 - l_discount AS DECIMAL(18,4))
                          - CAST(ps_supplycost AS DECIMAL(18,4))
                            * CAST(l_quantity AS DECIMAL(18,4)))
                      AS DOUBLE), 2) AS sum_profit
    FROM lineitem
    JOIN partsupp ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey
    JOIN part ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN orders ON o_orderkey = l_orderkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE p_name LIKE '%red%'
    GROUP BY n_name, year(o_orderdate)
"""

# Q9's partsupp pair build, pre-filtered to '%red%' parts to cut the widest
# exchange's input before it shuffles: Q9 inner-joins lineitem to part with
# p_name LIKE '%red%', so a pair whose partkey is not a red part can only
# match lineitem rows the part join discards. Restricting the pair-distinct
# (the plan's only non-broadcast exchange besides the final agg) is
# result-invariant; applied to BOTH engines, measured 1.41 -> 0.64 s
# min-of-4 at sf0.1 and verified row-equal.
_TPCH_Q9_PAIR_FILTER = (
    " WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE '%red%')"
)


# shuffle_budget: pair dedup + (nation,year) agg; dims broadcast
@query(ref_s=1.65, shuffle_budget=2, oracle=_tpch_ps_sql(
    "duck", _TPCH_Q9_BODY, _TPCH_Q9_PAIR_FILTER
))
def q_sql_tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 (product-type profit): five-way join of the fact to the
    derived partsupp (BOTH keys — pairs exist by construction), decimal-
    exact profit expression, (nation, year) rollup. The partsupp pair
    build is pre-filtered to '%red%' parts (result-invariant under Q9's
    own part join; see ``_TPCH_Q9_PAIR_FILTER``)."""
    return _sql(
        spark, sf_dir, _tpch_ps_sql("spark", _TPCH_Q9_BODY, _TPCH_Q9_PAIR_FILTER)
    )


_TPCH_Q11_BODY = """
    , scoped AS (
        SELECT ps_partkey,
               CAST(ps_supplycost AS DECIMAL(18,4))
                   * CAST(ps_availqty AS DECIMAL(18,4)) AS value_dec
        FROM partsupp
        JOIN supplier ON ps_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        WHERE n_name = 'NATION_1'
    )
    SELECT ps_partkey, CAST(sum(value_dec) AS DOUBLE) AS part_value
    FROM scoped
    GROUP BY ps_partkey
    HAVING sum(value_dec) * 1000 > (SELECT sum(value_dec) FROM scoped)
"""


# shuffle_budget: pair dedup + part agg + total scalar + having
@query(ref_s=1.26, shuffle_budget=4, oracle=_tpch_ps_sql("duck", _TPCH_Q11_BODY))
def q_sql_tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 (important stock): nation-scoped inventory value per part
    vs a scalar-subquery share threshold — compared in EXACT decimal
    (sum * 1000 > total) so no FP boundary exists at the cutoff."""
    return _sql(spark, sf_dir, _tpch_ps_sql("spark", _TPCH_Q11_BODY))


# Q16-only partsupp: the raw (l_partkey, l_suppkey) pair stream WITHOUT
# the DISTINCT or the derived cost/qty columns, because Q16 is the one
# partsupp query where pair multiplicity provably cannot reach the result:
# its only aggregate is count(DISTINCT ps_suppkey), its filters (part
# attributes, the NOT IN suppkey probe) are row-wise, and it never touches
# ps_availqty/ps_supplycost — so deduping 600k fact rows into pairs (a full
# extra exchange + aggregate pair over the widest relation in the plan)
# buys nothing. Q2/Q9/Q11/Q20 keep the real CTE: they aggregate per-pair
# cost/qty, where multiplicity would corrupt sums. Measured 1.53 -> 0.81 s
# min-of-4 at sf0.1 against the deduped shape and verified row-equal.
_TPCH_PAIRS_CTE = """
    partsupp AS (
        SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey
        FROM lineitem
    )
"""

_TPCH_Q16_BODY = """
    SELECT p_brand, p_type, p_size,
           count(DISTINCT ps_suppkey) AS supplier_cnt
    FROM partsupp
    JOIN part ON p_partkey = ps_partkey
    WHERE p_brand <> 'Brand#9'
      AND p_type NOT LIKE 'PROMO%'
      AND p_size IN (5, 11, 15, 20, 28, 31, 44, 49)
      AND ps_suppkey NOT IN
          (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
"""


# shuffle_budget: pair dedup + distinct-count expand pair
@query(ref_s=0.9, shuffle_budget=3, oracle="WITH " + _TPCH_PAIRS_CTE + _TPCH_Q16_BODY)
def q_sql_tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 (parts/supplier relationship): brand/type/size exclusion
    filters + NOT IN complaint-supplier subquery (negative-balance analog)
    + per-group distinct supplier counts. Runs over the pairs-only
    partsupp (no DISTINCT — every Q16 consumer is duplicate-insensitive;
    see ``_TPCH_PAIRS_CTE`` for the proof and measurement)."""
    return _sql(spark, sf_dir, ORACLE_SQL["q_sql_tpch_q16"])


_TPCH_Q20_BODY = """
    SELECT s_name, s_acctbal
    FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    WHERE n_name = 'NATION_2'
      AND s_suppkey IN (
          SELECT ps_suppkey FROM partsupp
          WHERE ps_partkey IN
                (SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
            AND ps_availqty > (
                SELECT 0.5 * sum(l_quantity) FROM lineitem
                WHERE l_partkey = ps_partkey AND l_suppkey = ps_suppkey
                  AND l_shipdate >= TIMESTAMP '1996-01-01'
                  AND l_shipdate <  TIMESTAMP '1997-01-01'))
    ORDER BY s_name
"""


# shuffle_budget: pair dedup + correlated-agg decorrelation
@query(ref_s=0.65, shuffle_budget=2, oracle=_tpch_ps_sql("duck", _TPCH_Q20_BODY))
def q_sql_tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 (excess-stock suppliers): nested IN chain ending in a
    correlated scalar aggregate (availqty > half the year's shipped
    quantity for that exact pair) — integer-valued doubles, so the 0.5x
    comparison is exact."""
    return _sql(spark, sf_dir, _tpch_ps_sql("spark", _TPCH_Q20_BODY))


# shuffle_budget: median agg + deviation-median agg
@query(ref_s=0.67, shuffle_budget=2, oracle="""
    WITH med AS (
        SELECT l_returnflag,
               quantile_disc(l_extendedprice, 0.5) AS _med
        FROM lineitem GROUP BY l_returnflag
    ),
    dev AS (
        SELECT l.l_returnflag, abs(l.l_extendedprice - m._med) AS _dev, m._med
        FROM lineitem l JOIN med m ON l.l_returnflag = m.l_returnflag
    )
    SELECT l_returnflag,
           max(_med) AS median_price,
           quantile_disc(_dev, 0.5) AS mad,
           count(*) AS n_rows
    FROM dev
    GROUP BY l_returnflag
""")
def q_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median absolute deviation per group — the robust dispersion measure
    (outlier-insensitive sibling of q_stats_agg's stddev). Two discrete-
    percentile aggregates: the group median (an actual data element,
    bit-identical cross-engine), broadcast back, then the median of
    |x - median|. Both medians are percentile_disc, so NO interpolation
    arithmetic exists anywhere — the only FP is the subtraction of exact
    doubles, identical on both engines."""
    li = _t(spark, sf_dir, "lineitem").select("l_returnflag", "l_extendedprice")
    med = li.groupBy("l_returnflag").agg(
        F.expr(
            "percentile_disc(0.5) WITHIN GROUP (ORDER BY l_extendedprice)"
        ).alias("_med")
    )
    dev = li.join(F.broadcast(med), "l_returnflag").select(
        "l_returnflag",
        F.abs(F.col("l_extendedprice") - F.col("_med")).alias("_dev"),
        F.col("_med"),
    )
    return dev.groupBy("l_returnflag").agg(
        F.max("_med").alias("median_price"),
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY _dev)").alias("mad"),
        F.count(F.lit(1)).cast("long").alias("n_rows"),
    )


# shuffle_budget: segment-keyed rank window + agg share one exchange
@query(ref_s=0.5, shuffle_budget=1, oracle="""
    WITH ranked AS (
        SELECT c_mktsegment,
               CAST(o_totalprice AS DECIMAL(18,4)) AS x,
               CAST(row_number() OVER (
                   PARTITION BY c_mktsegment
                   ORDER BY o_totalprice, o_custkey) AS DECIMAL(18,0)) AS i
        FROM orders JOIN customer ON o_custkey = c_custkey
        WHERE o_totalprice IS NOT NULL
    ),
    agg AS (
        SELECT c_mktsegment,
               sum(i * x) AS _ix, sum(x) AS _sx, count(*) AS n_orders
        FROM ranked GROUP BY c_mktsegment
    )
    SELECT c_mktsegment, n_orders,
           round(2.0 * CAST(_ix AS DOUBLE)
                     / (CAST(n_orders AS DOUBLE) * CAST(_sx AS DOUBLE))
                 - (CAST(n_orders AS DOUBLE) + 1.0) / CAST(n_orders AS DOUBLE),
                 6) + 0.0 AS gini
    FROM agg
""")
def q_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini concentration coefficient of order value per market segment —
    the revenue-concentration metric. Rank-based formula
    G = (2*Σ(i*x_i))/(n*Σx) - (n+1)/n over values ranked ascending within
    the group (row_number, key tie-break → integer-exact ranks).
    Numerators/denominators are decimal-exact sums of rank*value products;
    the single final division is the only FP op, rounded to 6dp."""
    from pyspark.sql import Window

    orders = (
        _t(spark, sf_dir, "orders")
        .select("o_custkey", "o_totalprice")
        # concentration is defined over OBSERVED values only; a NULL value
        # has no rank, and leaving it in would shift every other rank
        # differently per engine (Spark ASC=NULLS FIRST, DuckDB=LAST)
        .filter(F.col("o_totalprice").isNotNull())
    )
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    j = orders.join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
    w = Window.partitionBy("c_mktsegment").orderBy("o_totalprice", "o_custkey")
    ranked = j.select(
        "c_mktsegment",
        F.col("o_totalprice").cast("decimal(18,4)").alias("x"),
        F.row_number().over(w).cast("decimal(18,0)").alias("i"),
    )
    agg = ranked.groupBy("c_mktsegment").agg(
        F.sum(F.col("i") * F.col("x")).alias("_ix"),
        F.sum("x").alias("_sx"),
        F.count(F.lit(1)).cast("long").alias("n_orders"),
    )
    n = F.col("n_orders").cast("double")
    # try_divide: a group whose values sum to zero has no defined
    # concentration — NULL on both engines (Spark ANSI would otherwise
    # throw DIVIDE_BY_ZERO even for doubles; DuckDB yields NULL).
    gini = (
        F.try_divide(
            2.0 * F.col("_ix").cast("double"), n * F.col("_sx").cast("double")
        )
        - (n + 1.0) / n
    )
    # + 0.0: negative-zero normalization — a perfectly equal distribution's
    # FP residual can round to -0.0 on DuckDB but 0.0 on Spark
    return agg.select(
        "c_mktsegment", "n_orders", (F.round(gini, 6) + F.lit(0.0)).alias("gini")
    )


# shuffle_budget: digit agg + single-row total + share projection
@query(ref_s=0.38, shuffle_budget=3, oracle="""
    WITH digits AS (
        SELECT CAST(substr(CAST(CAST(round(abs(o_totalprice) * 10000.0)
                                     AS BIGINT) AS VARCHAR), 1, 1) AS INT)
               AS digit
        FROM orders
    ),
    per_digit AS (
        SELECT digit, count(*) AS n FROM digits WHERE digit > 0 GROUP BY digit
    ),
    total AS (SELECT sum(n) AS _t FROM per_digit)
    SELECT digit, n,
           round(CAST(n AS DOUBLE) / CAST(_t AS DOUBLE), 6) AS observed_share,
           round(log10((digit + 1.0) / digit), 6) AS benford_share
    FROM per_digit, total
""")
def q_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit of order totals — the classic fabricated-
    numbers screen (a synthetic-uniform generator like this testdata FAILS
    Benford, which is exactly what the audit should report). First digit
    extracted textually (no log10 FP), counts exact, observed share
    rounded; expected Benford share computed from log10 — both engines'
    log10 of small integers agree to well past 6dp."""
    orders = _t(spark, sf_dir, "orders")
    # first digit via exact integer route: 4dp fixed-point -> BIGINT ->
    # string (BIGINT-to-string never goes scientific, unlike double casts)
    fixed = F.round(F.abs(F.col("o_totalprice")) * 10000.0).cast("bigint")
    digits = orders.select(
        F.substring(fixed.cast("string"), 1, 1).cast("int").alias("digit")
    ).filter(F.col("digit") > 0)
    per_digit = digits.groupBy("digit").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    total = per_digit.agg(F.sum("n").alias("_t"))
    return (
        per_digit.crossJoin(F.broadcast(total))
        .select(
            "digit",
            "n",
            F.round(F.col("n").cast("double") / F.col("_t").cast("double"), 6)
            .alias("observed_share"),
            F.round(
                F.log10((F.col("digit") + 1.0) / F.col("digit")), 6
            ).alias("benford_share"),
        )
    )


# shuffle_budget: token agg + distributed prefix-rank of the vocabulary
@query(ref_s=0.93, shuffle_budget=3, oracle="""
    WITH vocab AS (
        SELECT token, count(*) AS n FROM (
            SELECT unnest(string_split(text, ' ')) AS token FROM documents
        ) WHERE length(token) > 0 GROUP BY token
    ),
    ranked AS (
        SELECT ln(CAST(row_number() OVER (ORDER BY n DESC, token ASC)
                       AS DOUBLE)) AS ln_rank,
               ln(CAST(n AS DOUBLE)) AS ln_freq
        FROM vocab
    )
    SELECT round(regr_sxy(ln_freq, ln_rank) / regr_sxx(ln_freq, ln_rank), 4) + 0.0
               AS zipf_slope,
           count(*) AS vocab_size
    FROM ranked
""")
def q_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit of the corpus token distribution: regression slope of
    ln(freq) on ln(rank) over the frequency-ranked vocabulary (natural
    text ~ -1; a synthetic uniform vocabulary reads near 0 — exactly what
    a corpus-health check should surface). Token counts are exact; ranks
    are exact integer positions (count desc, token tie-break); the
    co-moment regression runs over ln() of exact integers, so the only
    cross-engine noise is libm ulps, absorbed by the 4dp round. One
    explode + one token aggregate; the frequency rank comes from
    operators/windows.py range_prefix_sums (prefix-count of ones over the
    composite ordering) — at corpus scale the vocabulary is itself huge
    (Heaps' law still reaches 1e8+ types), so no single-task rank window
    ever sees it."""
    from datalake_breweries_two_spark.operators.windows import range_prefix_sums

    docs = _t(spark, sf_dir, "documents").select("text")
    tokens = docs.select(
        F.explode(F.split(F.col("text"), " ")).alias("token")
    ).filter(F.length("token") > 0)
    vocab = tokens.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
    ranked = range_prefix_sums(
        vocab.withColumn("_one", F.lit(1)),
        [F.col("n").desc(), F.col("token").asc()],
        ["_one"],
    ).select(
        F.log(F.col("cum__one").cast("double")).alias("ln_rank"),
        F.log(F.col("n").cast("double")).alias("ln_freq"),
    )
    slope = F.try_divide(
        F.regr_sxy(F.col("ln_freq"), F.col("ln_rank")),
        F.regr_sxx(F.col("ln_freq"), F.col("ln_rank")),
    )
    # + 0.0: negative-zero normalization (see operators/aggregates.py
    # corr_matrix) — a flat vocabulary's slope can round to -0.0
    return ranked.agg(
        (F.round(slope, 4) + F.lit(0.0)).alias("zipf_slope"),
        F.count(F.lit(1)).cast("long").alias("vocab_size"),
    )


# shuffle_budget: per-value agg + range + pid window + tiny P-row offsets (distributed
# prefix-sum)
@query(ref_s=1.29, shuffle_budget=4, oracle="""
    WITH tagged AS (
        SELECT o_totalprice AS v, (o_orderstatus = 'F') AS is_a
        FROM orders WHERE o_orderstatus IN ('F', 'O')
          AND o_totalprice IS NOT NULL
    ),
    counts AS (
        SELECT sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS n_a,
               sum(CASE WHEN is_a THEN 0 ELSE 1 END) AS n_b
        FROM tagged
    ),
    cum AS (
        SELECT sum(CASE WHEN is_a THEN 1 ELSE 0 END) OVER (
                   ORDER BY v
                   RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca,
               sum(CASE WHEN is_a THEN 0 ELSE 1 END) OVER (
                   ORDER BY v
                   RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb
        FROM tagged
    )
    SELECT round(max(abs(CAST(ca AS DOUBLE) / CAST(n_a AS DOUBLE)
                         - CAST(cb AS DOUBLE) / CAST(n_b AS DOUBLE))), 6)
               AS ks_stat,
           CAST(max(n_a) AS BIGINT) AS n_a,
           CAST(max(n_b) AS BIGINT) AS n_b
    FROM cum, counts
""")
def q_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic between finished ('F') and
    open ('O') orders' value distributions — the drift test a training
    pipeline runs between data snapshots. D = max |CDF_a - CDF_b|, with
    ties sharing one cumulative value by construction (counts are
    pre-aggregated PER DISTINCT VALUE, so one row per value).
    Counts are exact integers; each CDF is one exact division; the max of
    |differences| is deterministic cross-engine, rounded for safety.
    Scale shape: the full relation is reduced by a distributed per-value
    hash aggregate FIRST (N rows → D distinct values), then the exact
    CDFs come from operators/windows.py range_prefix_sums — the
    distributed prefix-sum pattern whose only global window is over the
    ~32 per-partition totals. No single-task 'No Partition Defined'
    window ever sees the data."""
    from datalake_breweries_two_spark.operators.windows import range_prefix_sums

    # NULL totalprice has no CDF position (matches the NULL-measure
    # exclusion in q_gini/q_spearman_corr); without this Spark's NULLS
    # FIRST vs DuckDB's NULLS LAST puts NULL counts at opposite CDF ends.
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus").isin("F", "O")
        & F.col("o_totalprice").isNotNull()
    )
    tagged = orders.select(
        F.col("o_totalprice").alias("v"),
        (F.col("o_orderstatus") == "F").alias("is_a"),
    )
    counts = tagged.agg(
        F.sum(F.when(F.col("is_a"), 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("is_a"), 0).otherwise(1)).alias("n_b"),
    )
    per_value = tagged.groupBy("v").agg(
        F.sum(F.when(F.col("is_a"), 1).otherwise(0)).alias("a"),
        F.sum(F.when(F.col("is_a"), 0).otherwise(1)).alias("b"),
    )
    cum = range_prefix_sums(per_value, "v", ["a", "b"]).select(
        F.col("cum_a").alias("ca"), F.col("cum_b").alias("cb")
    )
    # try_divide: if one population is absent (n=0) its CDF is undefined —
    # the statistic degrades to NULL on both engines rather than Spark
    # throwing ANSI DIVIDE_BY_ZERO while DuckDB yields NULL.
    return cum.crossJoin(F.broadcast(counts)).agg(
        F.round(
            F.max(
                F.abs(
                    F.try_divide(
                        F.col("ca").cast("double"), F.col("n_a").cast("double")
                    )
                    - F.try_divide(
                        F.col("cb").cast("double"), F.col("n_b").cast("double")
                    )
                )
            ),
            6,
        ).alias("ks_stat"),
        F.max("n_a").cast("long").alias("n_a"),
        F.max("n_b").cast("long").alias("n_b"),
    )


# shuffle_budget: median scalar + contingency agg + margins + final
@query(ref_s=0.3, shuffle_budget=6, oracle="""
    WITH m AS (SELECT quantile_disc(event_id, 0.5) AS m FROM events),
    tagged AS (
        SELECT event_type, (event_id <= m.m) AS first_half FROM events, m
    ),
    tab AS (
        SELECT event_type,
               sum(CASE WHEN first_half THEN 1 ELSE 0 END) AS o1,
               sum(CASE WHEN first_half THEN 0 ELSE 1 END) AS o2
        FROM tagged GROUP BY event_type
    ),
    tot AS (SELECT sum(o1) AS t1, sum(o2) AS t2, sum(o1 + o2) AS tt FROM tab)
    SELECT round(sum(
               pow(o1 - (o1 + o2) * t1 / tt, 2) / ((o1 + o2) * t1 / tt)
             + pow(o2 - (o1 + o2) * t2 / tt, 2) / ((o1 + o2) * t2 / tt)
           ), 6) AS chi2,
           count(*) - 1 AS dof
    FROM tab, tot
""")
def q_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square drift test over a categorical column: does the
    event-type mix differ between the first and second half of the event
    stream? (The categorical sibling of q_ks_test.) Observed counts are
    exact; expected counts are single divisions of exact integers; the
    statistic sums (O-E)^2/E over the contingency table — deterministic
    FP over identical inputs, rounded. One pass builds the table
    (conditional-sum aggregate per type), a broadcast of the tiny margin
    totals finishes it."""
    from datalake_breweries_two_spark.catalog import read_events

    ev = read_events(spark, os.path.join(sf_dir, "events.parquet"))
    median_id = ev.agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY event_id)").alias("m")
    )
    tagged = ev.crossJoin(F.broadcast(median_id)).select(
        "event_type", (F.col("event_id") <= F.col("m")).alias("first_half")
    )
    table = tagged.groupBy("event_type").agg(
        F.sum(F.when(F.col("first_half"), 1).otherwise(0)).alias("o1"),
        F.sum(F.when(F.col("first_half"), 0).otherwise(1)).alias("o2"),
    )
    totals = table.agg(
        F.sum("o1").alias("t1"), F.sum("o2").alias("t2"),
        F.sum(F.col("o1") + F.col("o2")).alias("tt"),
    )
    j = table.crossJoin(F.broadcast(totals))
    # try_divide: a zero expected count (one time-half empty, e.g. a
    # single-event table) NULLs that cell on both engines — Spark ANSI
    # would otherwise throw DIVIDE_BY_ZERO where DuckDB yields NULL.
    e1 = (F.col("o1") + F.col("o2")) * F.col("t1") / F.col("tt")
    e2 = (F.col("o1") + F.col("o2")) * F.col("t2") / F.col("tt")
    cell = F.try_divide((F.col("o1") - e1) ** 2, e1) + F.try_divide(
        (F.col("o2") - e2) ** 2, e2
    )
    return j.agg(
        F.round(F.sum(cell), 6).alias("chi2"),
        (F.count(F.lit(1)) - 1).cast("long").alias("dof"),
    )


# shuffle_budget: decile-edge agg + bin agg + margins + final
@query(ref_s=1.72, shuffle_budget=6, oracle="""
    WITH ref AS (
        SELECT quantile_disc(o_totalprice, 0.1) AS _e1,
               quantile_disc(o_totalprice, 0.2) AS _e2,
               quantile_disc(o_totalprice, 0.3) AS _e3,
               quantile_disc(o_totalprice, 0.4) AS _e4,
               quantile_disc(o_totalprice, 0.5) AS _e5,
               quantile_disc(o_totalprice, 0.6) AS _e6,
               quantile_disc(o_totalprice, 0.7) AS _e7,
               quantile_disc(o_totalprice, 0.8) AS _e8,
               quantile_disc(o_totalprice, 0.9) AS _e9
        FROM orders WHERE o_orderstatus = 'F'
    ),
    binned AS (
        SELECT (o_orderstatus = 'F') AS is_a,
               CAST(o_totalprice > _e1 AS INT) + CAST(o_totalprice > _e2 AS INT)
             + CAST(o_totalprice > _e3 AS INT) + CAST(o_totalprice > _e4 AS INT)
             + CAST(o_totalprice > _e5 AS INT) + CAST(o_totalprice > _e6 AS INT)
             + CAST(o_totalprice > _e7 AS INT) + CAST(o_totalprice > _e8 AS INT)
             + CAST(o_totalprice > _e9 AS INT) AS bin
        FROM orders, ref WHERE o_orderstatus IN ('F', 'O')
    ),
    per_bin AS (
        SELECT bin,
               sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS na,
               sum(CASE WHEN is_a THEN 0 ELSE 1 END) AS nb
        FROM binned GROUP BY bin
    ),
    tot AS (SELECT sum(na) AS ta, sum(nb) AS tb FROM per_bin)
    SELECT round(sum(
               (greatest(CAST(na AS DOUBLE)/ta, 1e-6)
                  - greatest(CAST(nb AS DOUBLE)/tb, 1e-6))
               * ln(greatest(CAST(na AS DOUBLE)/ta, 1e-6)
                      / greatest(CAST(nb AS DOUBLE)/tb, 1e-6))
           ), 6) AS psi,
           count(*) AS n_bins
    FROM per_bin, tot
""")
def q_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population stability index of order value between finished and open
    orders — the standard ML-monitoring drift score. Bins are the DECILE
    edges of the reference ('F') population via percentile_disc (actual
    data elements, bit-identical cross-engine); each population's bin
    shares are exact-count divisions epsilon-floored at 1e-6 (a bin empty
    in one population scores large-but-finite, never ±Infinity);
    PSI = Σ (pa-pb)·ln(pa/pb). Same
    edge-comparison discipline as equi_depth_bins: a row's bin = count of
    edges strictly below its value, a pure projection against the
    broadcast edge row."""
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus").isin("F", "O")
    )
    ref = orders.filter(F.col("o_orderstatus") == "F")
    edges = ref.agg(
        *[
            F.expr(
                f"percentile_disc({i / 10!r}) WITHIN GROUP (ORDER BY o_totalprice)"
            ).alias(f"_e{i}")
            for i in range(1, 10)
        ]
    )
    bin_expr = sum(
        (F.col("o_totalprice") > F.col(f"_e{i}")).cast("int") for i in range(1, 10)
    )
    binned = orders.crossJoin(F.broadcast(edges)).select(
        (F.col("o_orderstatus") == "F").alias("is_a"),
        bin_expr.alias("bin"),
    )
    per_bin = binned.groupBy("bin").agg(
        F.sum(F.when(F.col("is_a"), 1).otherwise(0)).alias("na"),
        F.sum(F.when(F.col("is_a"), 0).otherwise(1)).alias("nb"),
    )
    totals = per_bin.agg(F.sum("na").alias("ta"), F.sum("nb").alias("tb"))
    j = per_bin.crossJoin(F.broadcast(totals))
    # Standard PSI practice: epsilon-floor each share so a bin with zero
    # rows in one population yields a large-but-finite term instead of
    # ±Infinity — the metric must stay usable exactly when drift is
    # extreme. greatest() of an exact int division is bit-identical
    # cross-engine, so the floor preserves oracle parity.
    # try_divide: an entirely-absent population (t=0) yields NULL shares,
    # which greatest() ignores on BOTH engines — so each bin floors to
    # 1e-6 instead of Spark throwing ANSI DIVIDE_BY_ZERO.
    pa = F.greatest(
        F.try_divide(F.col("na").cast("double"), F.col("ta").cast("double")),
        F.lit(1e-6),
    )
    pb = F.greatest(
        F.try_divide(F.col("nb").cast("double"), F.col("tb").cast("double")),
        F.lit(1e-6),
    )
    term = (pa - pb) * F.log(pa / pb)
    return j.agg(
        F.round(F.sum(term), 6).alias("psi"),
        F.count(F.lit(1)).cast("long").alias("n_bins"),
    )


# full-recompute oracle: the maintained view must equal joining ALL orders
# shuffle_budget: anti+union are broadcast/narrow; one final agg
@query(ref_s=0.4, shuffle_budget=1, oracle="""
    SELECT c_mktsegment, c_nationkey,
           count(*) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment, c_nationkey
""")
def q_incremental_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental JOIN-view maintenance — the delta-join half of IVM
    (q_incremental_agg covers the aggregate half). A materialized
    orders⋈customer view is maintained under an orders delta batch
    (10% churn: upserts by orderkey): new-view rows = Δorders ⋈ customer
    only — the base FACT table is never re-joined or re-scanned; the
    merge anti-joins the (tiny) delta key set against the base VIEW and
    unions the freshly joined delta rows. At 100 TB the daily cost is
    O(churn ⋈ dims), not O(facts ⋈ dims) — the reference recomputes its
    whole gold join daily (``plugins/brewery_operators.py:196,328``).
    Result provably identical to the full-recompute oracle."""
    o = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_nationkey"
    )
    base_orders = o.filter(F.col("o_orderkey") % 10 != 0)
    delta_orders = o.filter(F.col("o_orderkey") % 10 == 0)

    def join_view(df: DataFrame) -> DataFrame:
        return df.join(
            F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey")
        ).select(
            "o_orderkey", "o_totalprice", "c_mktsegment", "c_nationkey"
        )

    base_view = join_view(base_orders)          # the materialized view
    delta_view = join_view(delta_orders)        # Δ ⋈ dims only
    delta_keys = delta_orders.select("o_orderkey")
    maintained = base_view.join(
        delta_keys, "o_orderkey", "left_anti"
    ).unionByName(delta_view)
    return maintained.groupBy("c_mktsegment", "c_nationkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
        .cast("double")
        .alias("sum_price"),
    )


# shuffle_budget: one partial-agg max_by groupBy, no window
@query(ref_s=0.32, shuffle_budget=1, oracle="""
    SELECT user_id, event_type, event_id, ts, value FROM (
        SELECT user_id, event_type, event_id, ts, value,
               row_number() OVER (PARTITION BY user_id, event_type
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    ) WHERE rn = 1
""")
def q_dedup_keep_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-latest dedup — the production survivorship variant of
    q_dedup_exact (which keeps the stable minimum): one row per
    (user, event_type), the row with the greatest event time, max
    event_id breaking exact-time ties. max_by over a (ts, id, payload)
    struct: ONE partial-aggregated groupBy, no window sort — at 100 TB
    this shuffles one struct per surviving key, not the raw stream."""
    from datalake_breweries_two_spark.catalog import read_events

    ev = read_events(spark, os.path.join(sf_dir, "events.parquet"))
    picked = ev.groupBy("user_id", "event_type").agg(
        F.max(
            F.struct(F.col("ts"), F.col("event_id"), F.col("value"))
        ).alias("_last")
    )
    return picked.select(
        "user_id",
        "event_type",
        F.col("_last.event_id").alias("event_id"),
        F.col("_last.ts").alias("ts"),
        F.col("_last.value").alias("value"),
    )


# shuffle_budget: one segment-keyed cume_dist window + agg
@query(ref_s=0.75, shuffle_budget=1, oracle="""
    WITH ranked AS (
        SELECT c_mktsegment, o_totalprice,
               cume_dist() OVER (PARTITION BY c_mktsegment
                                 ORDER BY o_totalprice DESC) AS _cd
        FROM orders JOIN customer ON o_custkey = c_custkey
    )
    SELECT c_mktsegment,
           count(*) AS n_top,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
               AS top_revenue,
           min(o_totalprice) AS threshold_value
    FROM ranked WHERE _cd <= 0.05
    GROUP BY c_mktsegment
""")
def q_top_percent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5%-by-value orders per market segment via cume_dist — the
    percentile-threshold filter (distinct from fixed-k q_topk_per_group).
    cume_dist ties share a value, so the cut is deterministic regardless
    of partitioning; one segment-keyed window exchange; summary aggregate
    keeps the output bounded."""
    from pyspark.sql import Window

    orders = _t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    j = orders.join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
    w = Window.partitionBy("c_mktsegment").orderBy(F.desc("o_totalprice"))
    top = j.withColumn("_cd", F.cume_dist().over(w)).filter(F.col("_cd") <= 0.05)
    return top.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("n_top"),
        F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
        .cast("double")
        .alias("top_revenue"),
        F.min("o_totalprice").alias("threshold_value"),
    )


# shuffle_budget: key distinct + range partition; boundary pass is a P-row window
@query(ref_s=1.05, shuffle_budget=2, oracle="""
    WITH keys AS (
        SELECT DISTINCT o_orderkey FROM orders WHERE o_orderkey % 10 <> 3
    ),
    stepped AS (
        SELECT o_orderkey,
               lag(o_orderkey) OVER (ORDER BY o_orderkey) AS _prev
        FROM keys
    )
    SELECT _prev + 1 AS gap_start,
           o_orderkey - 1 AS gap_end,
           o_orderkey - _prev - 1 AS n_missing
    FROM stepped
    WHERE _prev IS NOT NULL AND o_orderkey - _prev > 1
""")
def q_sequence_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap detection in a dense key sequence — the completeness check for
    ingest pipelines (missing orderkey ranges = lost batches). Each
    missing range reports as [gap_start, gap_end]; a synthetic
    10%-deletion makes the check non-vacuous on the clean testdata.

    Scale shape: consecutive-key pairs come from a RANGE-partitioned
    per-partition lag (P parallel sorted scans of the deduped key column
    — never a single-task global window), plus a boundary pass pairing
    each partition's min with the previous partition's max through a
    window over the ~32 per-partition bounds rows. Exactly the gaps the
    global lag would find, with no 'No Partition Defined' bottleneck."""
    from pyspark.sql import Window

    keys = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 10 != 3)  # synth deletions
        .select("o_orderkey")
        .distinct()
    )
    kp = keys.repartitionByRange(32, F.col("o_orderkey")).withColumn(
        "_pid", F.spark_partition_id()
    )
    w_in = Window.partitionBy("_pid").orderBy("o_orderkey")
    # one upstream pass: the unfiltered windowed frame feeds both the
    # intra-partition pairs and the per-partition bounds (lazy checkpoint
    # because spark_partition_id blocks exchange reuse across branches)
    win = kp.select(
        "_pid",
        F.col("o_orderkey"),
        F.lag("o_orderkey").over(w_in).alias("_prev"),
    ).localCheckpoint(eager=False)
    intra = win.filter(F.col("_prev").isNotNull())
    bounds = win.groupBy("_pid").agg(
        F.min("o_orderkey").alias("_pmin"), F.max("o_orderkey").alias("_pmax")
    )
    w_b = Window.orderBy("_pid")  # ~32 rows: the only global window
    cross = (
        bounds.select(
            F.col("_pmin").alias("o_orderkey"),
            F.lag("_pmax").over(w_b).alias("_prev"),
        )
        .filter(F.col("_prev").isNotNull())
    )
    stepped = (
        intra.select("o_orderkey", "_prev")
        .unionByName(cross.select("o_orderkey", "_prev"))
        .filter(F.col("o_orderkey") - F.col("_prev") > 1)
    )
    return stepped.select(
        (F.col("_prev") + 1).alias("gap_start"),
        (F.col("o_orderkey") - 1).alias("gap_end"),
        (F.col("o_orderkey") - F.col("_prev") - 1).alias("n_missing"),
    )


# shuffle_budget: distinct pair agg + ordered string agg
@query(ref_s=0.23, shuffle_budget=2, oracle="""
    SELECT n_name,
           string_agg(c_mktsegment, ',' ORDER BY c_mktsegment) AS segments,
           count(*) AS n_segments
    FROM (SELECT DISTINCT n_name, c_mktsegment
          FROM customer JOIN nation ON c_nationkey = n_nationkey)
    GROUP BY n_name
""")
def q_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-standard LISTAGG ... WITHIN GROUP (Spark 4): ordered string
    aggregation — the denormalized-export shape (one row per nation,
    its market segments concatenated deterministically). The WITHIN
    GROUP order is total (segment names are distinct per group after
    the DISTINCT), so the string is reproducible across partitionings
    and engines."""
    return _sql(
        spark,
        sf_dir,
        """
        SELECT n_name,
               listagg(c_mktsegment, ',')
                   WITHIN GROUP (ORDER BY c_mktsegment) AS segments,
               count(*) AS n_segments
        FROM (SELECT DISTINCT n_name, c_mktsegment
              FROM customer JOIN nation ON c_nationkey = n_nationkey)
        GROUP BY n_name
        """
    )


# shuffle_budget: one partial-aggregated 2D bin count
@query(ref_s=0.32, shuffle_budget=1, oracle="""
    SELECT CAST(floor(o_totalprice / 50000.0) AS BIGINT) AS value_bin,
           CAST(month(o_orderdate) AS BIGINT) AS month_bin,
           count(*) AS n
    FROM orders
    GROUP BY 1, 2
""")
def q_histogram_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D histogram (heat-map counts) of order value x order month —
    equi-width integer binning on both axes via floor arithmetic (exact
    ints end to end, no FP boundary anywhere), one grouped count. The
    BI heat-map shape; at 100 TB it is a single partial-aggregated
    pass."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.select(
            F.floor(F.col("o_totalprice") / 50000.0).cast("long").alias("value_bin"),
            F.month("o_orderdate").cast("long").alias("month_bin"),
        )
        .groupBy("value_bin", "month_bin")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


# shuffle_budget: exact-keys distinct + status agg; bloom words checkpointed, probes
# broadcast
# py4j_budget: measured 1928; build agg + k probe joins materialized
@query(ref_s=0.65, shuffle_budget=2, py4j_budget=3600, oracle="""
    WITH keys AS (
        SELECT DISTINCT c_custkey AS key FROM customer WHERE c_acctbal > 8000
    ),
    pos AS (
        SELECT CAST(('0x' || substr(md5(CAST(key AS VARCHAR) || ':'
                       || CAST(s.seed AS VARCHAR)), 1, 15)) AS BIGINT) % 4032 AS pos
        FROM keys CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS seed) s
    ),
    bloom AS (
        SELECT CAST(pos // 63 AS INT) AS word_idx,
               bit_or(1::BIGINT << CAST(pos % 63 AS INT)) AS word
        FROM pos GROUP BY 1
    ),
    probe AS (
        SELECT o_orderkey, o_custkey, o_orderstatus,
               CAST(('0x' || substr(md5(CAST(o_custkey AS VARCHAR) || ':0'), 1, 15)) AS BIGINT) % 4032 AS p0,
               CAST(('0x' || substr(md5(CAST(o_custkey AS VARCHAR) || ':1'), 1, 15)) AS BIGINT) % 4032 AS p1,
               CAST(('0x' || substr(md5(CAST(o_custkey AS VARCHAR) || ':2'), 1, 15)) AS BIGINT) % 4032 AS p2,
               CAST(('0x' || substr(md5(CAST(o_custkey AS VARCHAR) || ':3'), 1, 15)) AS BIGINT) % 4032 AS p3
        FROM orders
    ),
    checked AS (
        SELECT p.o_orderstatus, p.o_custkey,
               (coalesce(b0.word, 0) & (1::BIGINT << CAST(p.p0 % 63 AS INT))) <> 0
               AND (coalesce(b1.word, 0) & (1::BIGINT << CAST(p.p1 % 63 AS INT))) <> 0
               AND (coalesce(b2.word, 0) & (1::BIGINT << CAST(p.p2 % 63 AS INT))) <> 0
               AND (coalesce(b3.word, 0) & (1::BIGINT << CAST(p.p3 % 63 AS INT))) <> 0
               AS bloom_member
        FROM probe p
        LEFT JOIN bloom b0 ON b0.word_idx = CAST(p.p0 // 63 AS INT)
        LEFT JOIN bloom b1 ON b1.word_idx = CAST(p.p1 // 63 AS INT)
        LEFT JOIN bloom b2 ON b2.word_idx = CAST(p.p2 // 63 AS INT)
        LEFT JOIN bloom b3 ON b3.word_idx = CAST(p.p3 // 63 AS INT)
    )
    SELECT c.o_orderstatus,
           count(*) AS n_orders,
           CAST(sum(CAST(c.bloom_member AS INT)) AS BIGINT) AS n_bloom_pass,
           CAST(sum(CASE WHEN k.key IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_true_match
    FROM checked c LEFT JOIN keys k ON c.o_custkey = k.key
    GROUP BY c.o_orderstatus
""")
def q_bloom_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership (r7): build a 4032-bit packed bloom over
    high-balance customer keys, probe EVERY order against it map-side,
    and report per-status order counts, bloom-pass counts, and exact
    semi-join matches — so the false-positive rate is measured, never
    silent, and the no-false-negative invariant (n_bloom_pass >=
    n_true_match) is visible in the output. The 100 TB shape: the probe
    side never shuffles for the membership test (the filter words
    broadcast); see ``operators/bloom.py`` for the design notes."""
    cust = _t(spark, sf_dir, "customer")
    keys = cust.filter(F.col("c_acctbal") > 8000).select(
        F.col("c_custkey").alias("key")
    ).distinct()
    bl = bloom.build_bloom(keys, "key", n_words=64, k_hashes=4)
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus"
    )
    probed = bloom.bloom_member(orders, "o_custkey", bl, n_words=64, k_hashes=4)
    probed = (
        probed.join(
            F.broadcast(keys), probed["o_custkey"] == keys["key"], "left"
        )
        .withColumn("true_member", F.col("key").isNotNull())
        .drop("key")
    )
    return probed.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("bloom_member").cast("int")).cast("long").alias("n_bloom_pass"),
        F.sum(F.col("true_member").cast("int")).cast("long").alias("n_true_match"),
    )


# shuffle_budget: shingle window/distinct ride one doc_id exchange; (id,seed) agg
# partials
@query(ref_s=0.36, shuffle_budget=1, oracle="""
    WITH toks AS (
        SELECT doc_id,
               regexp_extract_all(lower(translate(text, 'İ', 'i')), '[a-z]+|[0-9]+|[^a-z0-9 \\t\\n\\r\\f\\x0b]') AS t
        FROM documents
        WHERE doc_id < 400
    ),
    ex AS (
        SELECT DISTINCT doc_id,
               array_to_string(list_slice(t, i, i + 2), ' ') AS shingle
        FROM toks, LATERAL (SELECT unnest(range(1, greatest(len(t) - 2, 1) + 1)) AS i) g
        WHERE len(t) >= 1
    ),
    seeded AS (
        SELECT doc_id, shingle, s.seed
        FROM ex CROSS JOIN (SELECT unnest(range(8)) AS seed) s
    )
    SELECT doc_id, CAST(seed AS INT) AS seed,
           min(CAST(('0x' || substr(md5(shingle || ':'
                       || CAST(seed AS VARCHAR)), 1, 15)) AS BIGINT)) AS minhash
    FROM seeded GROUP BY doc_id, seed
""")
def q_minhash_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-portable MinHash signature rows: BPE-ish token 3-gram
    shingles → md5-based 60-bit min-hash per (doc, seed), bounded id
    subset (doc_id < 400, the token-tier fence), under a full oracle over
    the signature VALUES themselves, one md5 per (shingle, seed). BPE
    tokenizer, not
    whitespace: signatures expose the raw shingle STRINGS through md5,
    so the tokenizer must be the İ-pre-folded cross-engine one
    (count/ratio outputs are insensitive to Java-vs-utf8proc lower()
    divergence; hash-of-string outputs are not — unicode sweep)."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 400)
    shingled = dedup.shingle_docs_exploded(docs, n=3, tokenizer="bpe")
    return dedup.minhash_signatures_portable(shingled, num_hashes=8)


# --------------------------------------------------------------------------
# r9 growth (the round's single user-shaped addition): vocabulary-coverage
# profile — the "what vocab size do I need" tokenizer-design report.
# --------------------------------------------------------------------------


# Every milestone is integer-exact: counts and cumulative sums are
# BIGINTs on both engines, the ">= pct%" tests are integer
# cross-products, and the only division is the final coverage share
# (one IEEE divide of exact integers, rounded once at 4dp — the
# established md5-draw discipline). Ties in the frequency ranking are
# broken (n DESC, token ASC); the token strings themselves are made
# cross-engine identical by the İ-folded whitespace tokenizer.
# shuffle_budget: post-checkpoint stages only: the token agg + prefix-sum pipeline runs
# once in the eager localCheckpoint job; total + milestone aggs read the |V|-row
# checkpoint
@query(ref_s=1.04, shuffle_budget=4, oracle="""
    WITH counts AS (
        SELECT token, CAST(count(*) AS BIGINT) AS n FROM (
            SELECT unnest(regexp_split_to_array(
                       lower(translate(trim(text), 'İ', 'i')),
                       '[ \\t\\n\\r\\f\\x0b]+')) AS token
            FROM documents
        ) WHERE length(token) > 0 GROUP BY token
    ),
    tot AS (
        SELECT CAST(sum(n) AS BIGINT) AS total,
               CAST(count(*) AS BIGINT) AS n_distinct
        FROM counts
    ),
    ranked AS (
        SELECT n,
               CAST(sum(n) OVER (ORDER BY n DESC, token ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cum_n,
               CAST(row_number() OVER (ORDER BY n DESC, token ASC)
                   AS BIGINT) AS cum_one
        FROM counts
    ),
    agg AS (
        SELECT CAST(max(t.total) AS BIGINT) AS total_tokens,
               CAST(max(t.n_distinct) AS BIGINT) AS distinct_tokens,
               CAST(max(CASE WHEN cum_one <= 10 THEN cum_n END) AS BIGINT) AS c10,
               CAST(max(CASE WHEN cum_one <= 100 THEN cum_n END) AS BIGINT) AS c100,
               CAST(max(CASE WHEN cum_one <= 10000 THEN cum_n END) AS BIGINT) AS c10000,
               CAST(min(CASE WHEN cum_n * 100 >= t.total * 90 THEN cum_one END) AS BIGINT) AS vocab_p90,
               CAST(min(CASE WHEN cum_n * 100 >= t.total * 95 THEN cum_one END) AS BIGINT) AS vocab_p95,
               CAST(min(CASE WHEN cum_n * 100 >= t.total * 99 THEN cum_one END) AS BIGINT) AS vocab_p99
        FROM ranked CROSS JOIN tot t
    )
    SELECT distinct_tokens, total_tokens,
           round(CAST(c10 AS DOUBLE) / CAST(total_tokens AS DOUBLE), 4) AS cov_10,
           round(CAST(c100 AS DOUBLE) / CAST(total_tokens AS DOUBLE), 4) AS cov_100,
           round(CAST(c10000 AS DOUBLE) / CAST(total_tokens AS DOUBLE), 4) AS cov_10000,
           vocab_p90, vocab_p95, vocab_p99
    FROM agg
""")
def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary-coverage summary: occurrence share of the top
    10/100/10k token types plus the minimum type count reaching
    90/95/99% coverage — one row, exact integer thresholds, distributed
    prefix-sum ranking (never a single-task global window). The size
    tiers straddle the synthetic corpus's 31-type vocabulary so both
    regimes are exercised: cov_10 is a real partial share, cov_100 and
    cov_10000 the saturated (size > |V|) case."""
    return text.vocab_coverage(
        _t(spark, sf_dir, "documents"), vocab_sizes=(10, 100, 10000)
    )


# Stage 1 reuses the q_knn_join oracle shape (4dp cosine, neighbor-id
# tie-break, NULLS LAST); stage 2's token-set cosine is exact-operand
# arithmetic (integer intersection/sizes, sqrt of an exact integer
# product, 0.5·x exact), rounded ONCE at 4dp with +0.0 folding -0.0.
# Both engines feed list_distinct'd İ-folded whitespace tokens so the
# set sizes agree codepoint-for-codepoint.
# shuffle_budget: knn_join's 2 windows + final per-query rank; text joins broadcast
@query(ref_s=0.90, shuffle_budget=3, oracle="""
    WITH q AS (
        SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < 3
    ),
    scored AS (
        SELECT q.q_id, e.vec_id AS neighbor_id,
               round(
                   list_aggregate(list_transform(range(1, len(e.embedding) + 1),
                       i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)), 'sum')
                   / (sqrt(list_aggregate(list_transform(e.embedding,
                          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
                      * sqrt(list_aggregate(list_transform(q.qv,
                          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))),
               4) + 0.0 AS emb_cos
        FROM embeddings e JOIN q ON e.vec_id <> q.q_id
    ),
    retrieved AS (
        SELECT q_id, neighbor_id, emb_cos,
               CAST(row_number() OVER (PARTITION BY q_id
                   ORDER BY emb_cos DESC NULLS LAST, neighbor_id ASC)
                   AS BIGINT) AS retrieval_rank
        FROM scored
        QUALIFY retrieval_rank <= 20
    ),
    tok AS (
        SELECT doc_id,
               list_distinct(regexp_split_to_array(
                   lower(translate(trim(text), 'İ', 'i')),
                   '[ \\t\\n\\r\\f\\x0b]+')) AS toks
        FROM documents
    ),
    rer AS (
        SELECT r.q_id, r.neighbor_id, r.retrieval_rank, r.emb_cos,
               round(0.5 * r.emb_cos
                     + 0.5 * (CAST(len(list_intersect(qt.toks, ct.toks)) AS DOUBLE)
                              / sqrt(CAST(len(qt.toks) * len(ct.toks) AS DOUBLE))),
                     4) + 0.0 AS rerank_score
        FROM retrieved r
        JOIN tok qt ON qt.doc_id = r.q_id
        JOIN tok ct ON ct.doc_id = r.neighbor_id
    )
    SELECT q_id, neighbor_id, retrieval_rank, emb_cos, rerank_score,
           CAST(row_number() OVER (PARTITION BY q_id
               ORDER BY rerank_score DESC NULLS LAST, neighbor_id ASC)
               AS BIGINT) AS final_rank
    FROM rer
    QUALIFY final_rank <= 5
""")
def q_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-then-rerank: embedding-cosine retrieval of 20 candidates
    for each of 3 query vectors (broadcast queries, two-level top-k),
    then a cross-encoder-style rescore of ONLY those candidates against
    the query document's text (token-set cosine blended 50/50 with the
    embedding cosine), final top-5 per query — the standard two-stage
    search/RAG serving pipeline (see operators/similarity.py:
    rerank_topk)."""
    return similarity.rerank_topk(
        _t(spark, sf_dir, "embeddings"),
        _t(spark, sf_dir, "documents"),
        n_queries=3,
        k_retrieve=20,
        k_final=5,
        alpha=0.5,
    )


# The flagged-doc tier is byte-identical to the proven q_decontaminate
# oracle (token COUNTS are İ-insensitive under whitespace splitting —
# comparisons stay engine-side); the report tier is two bigint counts
# per group (one exact-operand rounding) and a decimal-exact ratio sum
# divided once, NULL for clean groups on both engines.
# shuffle_budget: decontaminate's 4 + the source rollup agg; doc-level join
# AQE-broadcast
@query(ref_s=1.22, shuffle_budget=5, oracle="""
    WITH sh AS (
        SELECT doc_id,
               list_distinct(list_transform(
                   range(1, greatest(len(regexp_split_to_array(lower(trim(text)), '[ \\t\\n\\r\\f\\x0b]+')) - 2, 1) + 1),
                   i -> array_to_string(list_slice(
                            regexp_split_to_array(lower(trim(text)), '[ \\t\\n\\r\\f\\x0b]+'), i, i + 2), ' ')
               )) AS shingles
        FROM documents
    ),
    corpus AS (
        SELECT doc_id, len(shingles) AS n_shingles, unnest(shingles) AS shingle
        FROM sh WHERE doc_id % 20 <> 0
    ),
    bench AS (
        SELECT DISTINCT unnest(shingles) AS shingle FROM sh WHERE doc_id % 20 = 0
    ),
    hits AS (
        SELECT doc_id, n_shingles, count(*) AS n_overlap
        FROM corpus JOIN bench USING (shingle)
        GROUP BY doc_id, n_shingles
    ),
    flagged AS (
        SELECT doc_id, round(n_overlap / n_shingles, 4) AS overlap_ratio
        FROM hits
        WHERE round(n_overlap / n_shingles, 4) >= 0.1
    ),
    src AS (
        SELECT doc_id, source FROM documents WHERE doc_id % 20 <> 0
    )
    SELECT s.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(f.overlap_ratio) AS BIGINT) AS n_contaminated,
           round(100.0 * count(f.overlap_ratio) / count(*), 4) AS contamination_pct,
           round(CAST(sum(CAST(f.overlap_ratio AS DECIMAL(18,4))) AS DOUBLE)
                 / count(f.overlap_ratio), 4) + 0.0 AS avg_overlap
    FROM src s LEFT JOIN flagged f USING (doc_id)
    GROUP BY 1
""")
def q_contamination_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source contamination-rate report: which data sources carry the
    most benchmark-contaminated documents (3-gram overlap >= 10% with
    the held-out doc_id % 20 == 0 slice, the q_decontaminate contract),
    as (n_docs, n_contaminated, contamination_pct, avg_overlap) per
    source — the drop-this-source triage table a training team reads
    after the per-doc sweep (see operators/dedup.py:
    contamination_by_group)."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.contamination_by_group(
        docs.filter(F.col("doc_id") % 20 != 0),
        docs.filter(F.col("doc_id") % 20 == 0),
        group_col="source",
        n=3,
        threshold=0.1,
    )


# Every scalar is either integer-exact (counts, BIGINT-cast sums,
# percentile_disc elements, distinct fingerprints) or a single IEEE
# divide of exact operands rounded ONCE; the quality bar compares the
# 4dp-rounded punct ratio on both engines (double-rounding half-rule);
# the dominant language is tie-broken (count DESC, lang ASC NULLS LAST)
# identically; NULL source groups survive via IS NOT DISTINCT FROM.
# shuffle_budget: two-phase distinct-agg on source + tiny (source,lang) agg/window;
# top-lang joins broadcast
@query(ref_s=0.43, shuffle_budget=4, oracle="""
    WITH f AS (
        SELECT source, text,
               CASE WHEN trim(text) = '' THEN 0
                    ELSE len(regexp_split_to_array(trim(text), '[ \\t\\n\\r\\f\\x0b]+')) END AS n_tokens,
               md5(text) AS fp,
               round(len(regexp_replace(text, '[^.,;:!?]', '', 'g'))
                     / greatest(len(text), 1), 4) AS punct_ratio
        FROM documents
    ),
    per_source AS (
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(coalesce(sum(n_tokens), 0) AS BIGINT) AS total_tokens,
               CAST(quantile_disc(n_tokens, 0.5) AS BIGINT) AS p50_tokens,
               count(text) AS n_texts,
               count(DISTINCT fp) AS n_distinct,
               CAST(sum(CASE WHEN n_tokens < 16 OR punct_ratio > 0.3
                             THEN 1 ELSE 0 END) AS BIGINT) AS low_quality_docs
        FROM f GROUP BY source
    ),
    cells AS (
        SELECT source, lang, count(*) AS n FROM documents GROUP BY source, lang
    ),
    top AS (
        SELECT source AS tl_source, lang AS top_lang, n AS top_n,
               row_number() OVER (PARTITION BY source
                   ORDER BY n DESC, lang ASC NULLS LAST) AS rn
        FROM cells QUALIFY rn = 1
    )
    SELECT p.source, p.n_docs, p.total_tokens, p.p50_tokens,
           CAST(p.n_texts - p.n_distinct AS BIGINT) AS exact_dup_docs,
           round((p.n_texts - p.n_distinct) * 100.0 / p.n_texts, 2) AS exact_dup_pct,
           p.low_quality_docs,
           round(p.low_quality_docs * 100.0 / p.n_docs, 2) AS low_quality_pct,
           t.top_lang,
           round(t.top_n * 100.0 / p.n_docs, 2) AS top_lang_pct
    FROM per_source p
    LEFT JOIN top t ON p.source IS NOT DISTINCT FROM t.tl_source
""")
def q_data_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source "data card": the quality × dedup × mix one-pager a
    training team publishes per ingested source before choosing sampling
    weights — volume (docs, whitespace tokens, discrete median length),
    within-source exact-dup rate (md5 fingerprints), C4-style low-quality
    share (< 16 tokens or punct-saturated), dominant language + share
    (see operators/text.py: source_data_card)."""
    return text.source_data_card(
        _t(spark, sf_dir, "documents"), min_tokens=16, max_punct_ratio=0.3
    )


# The drained stream must reproduce the batch sweep bit-for-bit, so the
# oracle IS q_decontaminate's proven SQL: the stream-side HOF shingler
# and the batch window shingler share slice-truncation semantics, the
# broadcast probe preserves per-doc hit counts, and the single rounding
# site (4dp ratio) is shared by filter and output.
# shuffle_budget: drained-sink snapshot agg; the stream itself shuffles only (doc_id,
# n_shingles) pairs
@query(ref_s=3.90, shuffle_budget=1, oracle=REGISTRY["q_decontaminate"].oracle)
def q_streaming_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming benchmark-contamination gate — the in-flight twin of
    q_decontaminate: corpus documents arrive as micro-batches (staged
    slices with a synthetic ingest timestamp; kafka in production) and
    each batch's docs are shingled STATELESSLY (the HOF array shingler —
    window-based shinglers are illegal on streams), probed against the
    static benchmark 3-gram set via a stream-static BROADCAST join
    (corpus text never shuffles; the benchmark set is KBs even when the
    stream is 100 TB/day), then a watermarked update-mode per-doc count
    accumulates overlap. FULL ORACLE: each doc's text lives in one slice,
    the watermark is wider than the data span, so the drained sink's
    final snapshot must equal the batch q_decontaminate recompute —
    hash-checked against exactly that SQL."""
    docs = _t(spark, sf_dir, "documents")
    # the static side of a stream-static join RE-RESOLVES on every
    # trigger — without this eager checkpoint each micro-batch re-scans,
    # re-shingles, and re-aggregates the benchmark corpus (paired A/B at
    # sf0.1: ~0.55 s of the 4-trigger drive, and the waste grows with
    # benchmark size); materialized once, every trigger broadcasts the
    # same tiny shingle relation
    bench_sh = (
        dedup.shingle_docs_exploded(docs.filter(F.col("doc_id") % 20 == 0), n=3)
        .select("shingle")
        .distinct()
        .localCheckpoint(eager=True)
    )
    # shared staging scaffold (streaming/windows.py): synthetic bounded-day
    # ingest_ts folded from doc_id (int64-extreme ids would overflow the
    # timestamp µs range — the r11 extremes-profile find), 4 round-robin
    # slices replayed 2 files per trigger
    stream = stream_windows.stage_keyed_micro_batches(
        spark,
        docs.filter(F.col("doc_id") % 20 != 0).select("doc_id", "text"),
        "doc_id",
        _scratch("docs_contam_stream"),
    )
    exploded = stream.select(
        "doc_id",
        "ingest_ts",
        dedup.word_shingles("text", 3).alias("_sh"),
    ).select(
        "doc_id",
        "ingest_ts",
        F.size("_sh").alias("n_shingles"),
        F.explode("_sh").alias("shingle"),
    )
    hits = exploded.join(F.broadcast(bench_sh), "shingle")
    agg = (
        hits.withWatermark("ingest_ts", "3650 days")
        .groupBy("doc_id", "n_shingles")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    out = stream_windows.run_stream_to_memory(
        spark, agg, "q_streaming_contam_sink", output_mode="update", no_data_batches=False
    )
    # update-mode sink holds one row per trigger a key was touched; each
    # doc's text is staged as ONE parquet row, so every emission for a doc
    # carries the same n_shingles and max(n_overlap) is the final count.
    # GUARD that invariant (r11 advice): if the staging shape ever splits
    # a doc across triggers, its slices carry DIFFERENT n_shingles keys
    # and max would silently undercount — min==max over n_shingles makes
    # that fail loudly at runtime instead (one regular agg, same single
    # exchange as the old (doc_id, n_shingles) grouping).
    snap = (
        out.groupBy("doc_id")
        .agg(
            F.min("n_shingles").alias("_n_sh_min"),
            F.max("n_shingles").alias("n_shingles"),
            F.max("n_overlap").alias("n_overlap"),
        )
        .filter(
            F.assert_true(
                F.col("_n_sh_min") == F.col("n_shingles"),
                F.concat(
                    F.lit("q_streaming_contamination: doc "),
                    F.col("doc_id").cast("string"),
                    F.lit(
                        " emitted multiple n_shingles keys — staging no "
                        "longer writes one row per doc, so max(n_overlap) "
                        "would undercount; sum the per-slice deltas or "
                        "restore one-row staging"
                    ),
                ),
            ).isNull()
        )
        .drop("_n_sh_min")
    )
    ratio = F.round(F.col("n_overlap") / F.col("n_shingles"), 4)
    return snap.filter(ratio >= 0.1).select(
        "doc_id",
        "n_overlap",
        F.col("n_shingles").cast("long").alias("n_shingles"),
        ratio.alias("overlap_ratio"),
    )


# Every scalar is integer-exact (counts, BIGINT sums, id min/max,
# distinct fingerprints) or a single IEEE divide of exact operands
# rounded ONCE; the quality bar compares the 4dp-rounded punct ratio on
# both engines; the shard boundary is exact integer arithmetic on the
# running token sum (same recurrence as q_token_shards); the dominant
# source is tie-broken (count DESC, source ASC NULLS LAST) identically;
# an all-NULL-text shard's dup rate is NULL on both engines (0/0).
# shuffle_budget: checkpointed prefix-sum shard assign feeds shard distinct-agg (2) +
# (shard,source) cells (1) + mix window (1) + shard-keyed join (1)
@query(ref_s=1.70, shuffle_budget=5, oracle="""
    WITH f AS (
        SELECT doc_id, source,
               coalesce(len(regexp_extract_all(
                   lower(translate(text, 'İ', 'i')),
                   '[a-z]+|[0-9]+|[^a-z0-9 \\t\\n\\r\\f\\x0b]')), 0) AS n_tokens,
               md5(text) AS fp,
               round(len(regexp_replace(text, '[^.,;:!?]', '', 'g'))
                     / greatest(len(text), 1), 4) AS punct_ratio
        FROM documents WHERE doc_id IS NOT NULL
    ),
    cum AS (
        SELECT *, sum(n_tokens) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
        FROM f
    ),
    sharded AS (
        SELECT *, CAST((cum_tokens - n_tokens) // 1000 AS BIGINT) AS shard_id
        FROM cum
    ),
    agg AS (
        SELECT shard_id,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS shard_tokens,
               min(doc_id) AS first_id,
               max(doc_id) AS last_id,
               count(fp) AS n_texts,
               count(DISTINCT fp) AS n_distinct,
               CAST(sum(CASE WHEN n_tokens < 16
                             OR punct_ratio > 0.3 THEN 1 ELSE 0 END)
                    AS BIGINT) AS low_quality_docs
        FROM sharded GROUP BY shard_id
    ),
    cells AS (
        SELECT shard_id, source, count(*) AS n
        FROM sharded GROUP BY shard_id, source
    ),
    top AS (
        SELECT shard_id AS ts_shard, source AS top_source, n AS top_n,
               CAST(count(*) OVER (PARTITION BY shard_id) AS BIGINT) AS n_sources,
               row_number() OVER (PARTITION BY shard_id
                   ORDER BY n DESC, source ASC NULLS LAST) AS rn
        FROM cells QUALIFY rn = 1
    )
    SELECT a.shard_id, a.n_docs, a.shard_tokens, a.first_id, a.last_id,
           CAST(a.n_texts - a.n_distinct AS BIGINT) AS exact_dup_docs,
           round((a.n_texts - a.n_distinct) * 100.0 / a.n_texts, 2) AS exact_dup_pct,
           a.low_quality_docs,
           round(a.low_quality_docs * 100.0 / a.n_docs, 2) AS low_quality_pct,
           t.n_sources, t.top_source,
           round(t.top_n * 100.0 / a.n_docs, 2) AS top_source_pct
    FROM agg a LEFT JOIN top t ON a.shard_id = t.ts_shard
""")
def q_shard_data_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-shard data card: for each ~1000-BPE-token training shard from
    the q_token_shards plan, the composition report a data lead reads
    before a run — volume, within-shard exact-dup count, C4-style
    low-quality share, and the source mix (distinct sources, dominant
    source + share). Composes the distributed prefix-sum shard
    assignment with source_data_card's aggregate battery (see
    operators/sampling.py:shard_data_card)."""
    return sampling.shard_data_card(
        _t(spark, sf_dir, "documents"),
        budget_tokens=1000,
        min_tokens=16,
        max_punct_ratio=0.3,
    )


# The drained stream must reproduce the batch audit bit-for-bit, so the
# oracle IS q_dq_audit's proven SQL restricted to the four orders checks:
# uniqueness counts ROWS participating in a duplicated key, NULL custkeys
# are orphans, NULL prices violate the positivity invariant (unknown =
# broken), and NULL prices do NOT count as non-finite — all integer-exact.
# shuffle_budget: drained-sink per-key snapshot agg + single-row audit collapse; the
# stream shuffles only integer quads
@query(ref_s=3.05, shuffle_budget=2, oracle="""
    SELECT 'orders_custkey_fk' AS check,
           count(*) AS n_violations, count(*) = 0 AS passed
    FROM orders WHERE o_custkey IS NULL
       OR NOT EXISTS (SELECT 1 FROM customer WHERE c_custkey = o_custkey)
    UNION ALL
    SELECT 'orders_orderkey_unique',
           CAST(coalesce(sum(n), 0) AS BIGINT), coalesce(sum(n), 0) = 0
    FROM (SELECT count(*) AS n FROM orders GROUP BY o_orderkey HAVING count(*) > 1)
    UNION ALL
    SELECT 'orders_totalprice_positive',
           CAST(coalesce(sum(CASE WHEN o_totalprice <= 0 OR o_totalprice IS NULL
                                  THEN 1 ELSE 0 END), 0) AS BIGINT),
           coalesce(sum(CASE WHEN o_totalprice <= 0 OR o_totalprice IS NULL
                             THEN 1 ELSE 0 END), 0) = 0
    FROM orders
    UNION ALL
    SELECT 'orders_totalprice_finite',
           CAST(coalesce(sum(CASE WHEN isnan(o_totalprice) OR isinf(o_totalprice)
                                  THEN 1 ELSE 0 END), 0) AS BIGINT),
           coalesce(sum(CASE WHEN isnan(o_totalprice) OR isinf(o_totalprice)
                             THEN 1 ELSE 0 END), 0) = 0
    FROM orders
""")
def q_streaming_dq_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming data-quality gate — the in-flight twin of q_dq_audit's
    orders checks: order rows arrive as micro-batches (staged slices with
    a synthetic ingest timestamp; kafka in production) and ONE update-mode
    keyed aggregate accumulates everything each check needs — per-orderkey
    row counts (uniqueness), conditional violation counts for the
    row-level invariants (totalprice positive / finite), and FK-orphan
    flags from a stream-static BROADCAST probe against the static customer
    key set (checkpointed once per run — the static side of a
    stream-static join re-resolves every trigger, the r11 contamination
    lesson). The drained sink's final per-key snapshot reassembles the
    (check, n_violations, passed) audit rows, which must equal the batch
    q_dq_audit recompute over the same orders — hash-checked against
    exactly that SQL. Scale shape: state is one integer quad per distinct
    orderkey (RocksDB-backed in production), the customer side ships as a
    KB-scale distinct-key broadcast, and order rows never shuffle — the
    aggregate's partial quads do."""
    orders = _t(spark, sf_dir, "orders")
    cust_keys = (
        _t(spark, sf_dir, "customer")
        .select("c_custkey")
        .distinct()
        .localCheckpoint(eager=True)
    )
    # shared staging scaffold (streaming/windows.py): synthetic bounded-day
    # ingest_ts (NULL orderkeys coalesced so their rows survive the
    # epoch-0 initial watermark — the batch oracle counts them), 4
    # round-robin slices replayed 2 files per trigger, so duplicate keys
    # cross trigger boundaries
    stream = stream_windows.stage_keyed_micro_batches(
        spark,
        orders.select("o_orderkey", "o_custkey", "o_totalprice"),
        "o_orderkey",
        _scratch("orders_dq_stream"),
    )
    price = F.col("o_totalprice")
    flagged = stream.join(
        F.broadcast(cust_keys),
        stream["o_custkey"] == cust_keys["c_custkey"],
        "left",
    ).select(
        "o_orderkey",
        "ingest_ts",
        # NULL predicate result counts as a violation (unknown = broken),
        # matching operators/quality.py predicate_violation_count
        F.when(F.coalesce(price <= 0, F.lit(True)), 1).otherwise(0).alias("_pos"),
        F.when(F.isnan(price) | (F.abs(price) == F.lit(float("inf"))), 1)
        .otherwise(0)
        .alias("_fin"),
        # left-join miss == orphan; NULL custkeys never match (they
        # reference nothing), same stance as fk_orphan_count's anti join
        F.when(F.col("c_custkey").isNull(), 1).otherwise(0).alias("_orph"),
    )
    agg = (
        flagged.withWatermark("ingest_ts", "3650 days")
        .groupBy("o_orderkey")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("_pos").alias("n_pos"),
            F.sum("_fin").alias("n_fin"),
            F.sum("_orph").alias("n_orph"),
        )
    )
    out = stream_windows.run_stream_to_memory(
        spark, agg, "q_streaming_dq_sink", output_mode="update", no_data_batches=False
    )
    # update-mode sink holds one row per trigger a key was touched, each
    # carrying the key's RUNNING quad; every component is monotone
    # nondecreasing and the final emission maximizes all four at once, so
    # per-key max() is the drained state (a key whose duplicates span
    # slices emits once per slice — exactly the cross-batch accumulation
    # the uniqueness check needs).
    snap = out.groupBy("o_orderkey").agg(
        F.max("n_rows").alias("n_rows"),
        F.max("n_pos").alias("n_pos"),
        F.max("n_fin").alias("n_fin"),
        F.max("n_orph").alias("n_orph"),
    )
    tot = snap.agg(
        F.coalesce(
            F.sum(F.when(F.col("n_rows") > 1, F.col("n_rows")).otherwise(0)),
            F.lit(0),
        ).alias("_uniq"),
        F.coalesce(F.sum("n_pos"), F.lit(0)).alias("_pos"),
        F.coalesce(F.sum("n_fin"), F.lit(0)).alias("_fin"),
        F.coalesce(F.sum("n_orph"), F.lit(0)).alias("_orph"),
    )
    return tot.select(
        F.expr(
            "stack(4,"
            " 'orders_custkey_fk', _orph,"
            " 'orders_orderkey_unique', _uniq,"
            " 'orders_totalprice_positive', _pos,"
            " 'orders_totalprice_finite', _fin) AS (check, n_violations)"
        )
    ).select(
        "check",
        F.col("n_violations").cast("long").alias("n_violations"),
        (F.col("n_violations") == 0).alias("passed"),
    )


# Deterministic scalars are integer-exact: n_rows / sketch_n both equal
# the non-NULL value count (sketch_n coming from the merged sketch is the
# coverage proof), n_parts counts day cells with ≥1 value; the
# randomized quantile estimates surface only through the bounded-rank
# 'ok' flags, exactly as q_kll_quantiles.
# shuffle_budget: gold read-back merge agg (1) + the bounded-rank probe's group agg (1);
# the gold WRITE happens at build, events join the KB-scale estimates by broadcast
@query(ref_s=1.60, shuffle_budget=2, oracle="""
    WITH cells AS (
        SELECT event_type, date_trunc('day', ts) AS pk
        FROM events WHERE value IS NOT NULL
        GROUP BY event_type, date_trunc('day', ts)
    ),
    np AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n_parts
        FROM cells GROUP BY event_type
    ),
    g AS (
        SELECT event_type, CAST(count(value) AS BIGINT) AS n_rows
        FROM events GROUP BY event_type
    )
    SELECT g.event_type, g.n_rows,
           coalesce(np.n_parts, 0) AS n_parts,
           g.n_rows AS sketch_n,
           'ok' AS p50_ok, 'ok' AS p90_ok, 'ok' AS p99_ok
    FROM g LEFT JOIN np ON g.event_type IS NOT DISTINCT FROM np.event_type
""")
def q_kll_rollup_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read sketch rollup end-to-end (r13 growth — the r12
    plan's own candidate): per-(event_type, day) KLL sketches are
    built once, PERSISTED as a day-partitioned parquet gold table, read
    back, and merged per event type with ``kll_merge_agg_double`` —
    the sketch-once / merge-forever lifecycle the KLL tier documents,
    made physical (operators/setops.py:kll_merge_on_read). The events
    tables span 30 days at every SF, so the gold table is exactly the
    daily-partition layout a 100 TB lake would keep (~30 cells per
    group, KB each — a minute grain was rejected on first contact:
    ~39k cells at sf0.1 degenerate into thousands of tiny files).

    Hash-checkable contract: (1) ``sketch_n`` — the merged sketch's
    EXACT row count — must equal the raw non-NULL value count, proving
    the persisted partials covered every row exactly once through the
    parquet round-trip; (2) ``n_parts`` — the number of non-empty
    day cells merged — is recomputed by the oracle; (3) the merged
    quantile estimates surface as the same self-diagnosing bounded-rank
    flags as q_kll_quantiles (merging preserves KLL's k-based rank
    bound, so the ±5% band keeps its ~3x headroom). Empty cells (all
    NULL values in a day) stay in the gold table but their 8-byte
    empty buffers are skipped at merge (the r12 nulls-profile find)."""
    ev = _t(spark, sf_dir, "events")
    est = setops.kll_merge_on_read(
        spark,
        ev,
        "event_type",
        F.date_trunc("day", F.col("ts")),
        "value",
        _scratch("kll_gold"),
    )
    j = ev.join(
        F.broadcast(est.withColumnRenamed("event_type", "_et")),
        ev["event_type"].eqNullSafe(F.col("_et")),
        "left",
    )
    v = F.col("value")

    def _lt(b):  # noqa: ANN001 - Column
        return F.sum(F.when(v < b, 1).otherwise(0))

    def _le(b):  # noqa: ANN001 - Column
        return F.sum(F.when(v <= b, 1).otherwise(0))

    agg = j.groupBy("event_type").agg(
        F.count("value").cast("long").alias("n_rows"),
        F.max("n_parts").alias("_np"),
        F.max("sketch_n").alias("_sn"),
        _lt(F.col("p5")).alias("_lt50"),
        _le(F.col("p5")).alias("_le50"),
        _lt(F.col("p9")).alias("_lt90"),
        _le(F.col("p9")).alias("_le90"),
        _lt(F.col("p99")).alias("_lt99"),
        _le(F.col("p99")).alias("_le99"),
    )
    n = F.col("n_rows")

    def _ok(lt, le, lo, hi):  # noqa: ANN001 - rank-interval intersection
        hit = (F.col(lt) * 100 <= hi * n) & (F.col(le) * 100 >= lo * n)
        return F.when(hit, F.lit("ok")).otherwise(
            F.concat(
                F.lit("MISS rank_lt="), F.col(lt),
                F.lit(" rank_le="), F.col(le),
                F.lit(" n="), n,
                F.lit(f" band=[{lo},{hi}]%"),
            )
        )

    return agg.select(
        "event_type",
        "n_rows",
        F.coalesce(F.col("_np"), F.lit(0)).cast("long").alias("n_parts"),
        F.coalesce(F.col("_sn"), F.lit(0)).cast("long").alias("sketch_n"),
        _ok("_lt50", "_le50", 45, 55).alias("p50_ok"),
        _ok("_lt90", "_le90", 85, 95).alias("p90_ok"),
        _ok("_lt99", "_le99", 94, 104).alias("p99_ok"),
    )


# The drained stream must reproduce the batch shard plan bit-for-bit, so
# the oracle IS q_token_shards' proven SQL at the same budget.
# shuffle_budget: drained-sink per-shard snapshot agg; the stream shuffles only
# (shard_id, quad) state — the shard plan ships as an eager-checkpointed broadcast
@query(ref_s=3.60, shuffle_budget=1, oracle="""
    WITH toks AS (
        SELECT doc_id,
               coalesce(len(regexp_extract_all(
                   lower(translate(text, 'İ', 'i')),
                   '[a-z]+|[0-9]+|[^a-z0-9 \\t\\n\\r\\f\\x0b]')), 0) AS n_tokens
        FROM documents WHERE doc_id IS NOT NULL
    ),
    cum AS (
        SELECT doc_id, n_tokens,
               sum(n_tokens) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
        FROM toks
    )
    SELECT CAST((cum_tokens - n_tokens) // 1000 AS BIGINT) AS shard_id,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS shard_tokens,
           min(doc_id) AS first_id,
           max(doc_id) AS last_id
    FROM cum GROUP BY 1
""")
def q_streaming_shard_progress(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming shard-progress card (r13 growth — the r12 plan's own
    candidate): documents arrive as micro-batches and a keyed update-mode
    aggregate tracks, per training shard, how much of the planned shard
    has landed — the live progress board a data lead watches while a
    backfill fills fixed-token-budget input shards.

    Composition (the q_streaming_dq_gate drive pattern over the
    q_token_shards plan): the shard ASSIGNMENT (doc_id → shard_id) is
    the batch prefix-sum plan, checkpointed once per run (the static
    side of a stream-static join re-resolves every trigger — the r11
    contamination lesson) and broadcast (a shard plan is bounded by the
    backfill window it was planned for; at 100 TB the plan and the
    stream co-partition on doc_id instead). Token counts are computed
    IN-FLIGHT from the streamed text (the same ``_tokens_expr`` BPE
    tokenizer — a stateless JVM projection), so the state proves
    arrival, not the plan: one (count, sum, min, max) tuple per shard.
    The drained sink's final per-shard snapshot must equal the batch
    q_token_shards plan exactly — count/sum rise monotonically and
    min/max shrink/grow monotonically across triggers, so the per-key
    extremes of the update-mode emissions are the final state."""
    from datalake_breweries_two_spark.operators.dedup import _tokens_expr

    docs = _t(spark, sf_dir, "documents")
    plan = (
        sampling.token_shard_assignment(docs, budget_tokens=1000)
        .select("doc_id", "shard_id")
        .localCheckpoint(eager=True)
    )
    stream = stream_windows.stage_keyed_micro_batches(
        spark,
        docs.select("doc_id", "text"),
        "doc_id",
        _scratch("docs_shard_stream"),
    )
    flight = stream.filter(F.col("doc_id").isNotNull()).select(
        "doc_id",
        "ingest_ts",
        F.coalesce(F.size(_tokens_expr("text", "bpe")), F.lit(0))
        .cast("long")
        .alias("n_tokens"),
    )
    joined = flight.join(F.broadcast(plan), "doc_id")
    agg = (
        joined.withWatermark("ingest_ts", "3650 days")
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("shard_tokens"),
            F.min("doc_id").alias("first_id"),
            F.max("doc_id").alias("last_id"),
        )
    )
    out = stream_windows.run_stream_to_memory(
        spark, agg, "q_streaming_shard_progress_sink", output_mode="update", no_data_batches=False
    )
    # update-mode sink: one row per trigger a shard was touched, each
    # carrying the shard's RUNNING card; count/sum only grow, min only
    # shrinks, max only grows — the columnwise extremes are the final
    # snapshot (same invariant family as q_streaming_dq_gate's max()).
    return out.groupBy("shard_id").agg(
        F.max("n_docs").alias("n_docs"),
        F.max("shard_tokens").cast("long").alias("shard_tokens"),
        F.min("first_id").alias("first_id"),
        F.max("last_id").alias("last_id"),
    )


# The register/estimate CTEs are the SHARED _HLL_REGISTER_ESTIMATE_CTES
# fragment (the merge of per-day register maxes equals the global
# per-group max), plus the two physical-coverage integers. n_parts counts
# day CELLS including the NULL-day cell (a NULL-ts row with a non-NULL key
# is a real gold partition, which count(DISTINCT pk) would skip; cells
# are materialized with GROUP BY instead, like the kll and
# hll_partitioned oracles).
# shuffle_budget: register build (g,part,bucket) + cell agg (g,part) at gold-write;
# read-back merge (g,bucket)->(g) + coverage (g) + exact probe — everything after stage
# 1 moves <=256 registers/cell
@query(ref_s=1.88, shuffle_budget=5, oracle=f"""
    WITH keyed AS (
        SELECT event_type AS g, date_trunc('day', ts) AS pk,
               md5(CAST(user_id AS VARCHAR)) AS h, user_id AS k
        FROM events WHERE user_id IS NOT NULL
    ),
    cells AS (SELECT g, pk FROM keyed GROUP BY g, pk),
    np AS (SELECT g, CAST(count(*) AS BIGINT) AS n_parts FROM cells GROUP BY g),
    nr AS (
        SELECT g, CAST(count(*) AS BIGINT) AS n_rows_covered
        FROM keyed GROUP BY g
    ),
    cov AS (
        SELECT np.g, np.n_parts, nr.n_rows_covered
        FROM np JOIN nr ON np.g IS NOT DISTINCT FROM nr.g
    ),
{_HLL_REGISTER_ESTIMATE_CTES}
    SELECT fin.g AS event_type, cov.n_parts, cov.n_rows_covered,
           fin.n_used, fin.hll_estimate, fin.exact_distinct,
           round(abs(fin.hll_estimate - CAST(fin.exact_distinct AS DOUBLE))
                 / CAST(fin.exact_distinct AS DOUBLE), 4) AS abs_rel_err
    FROM fin JOIN cov ON fin.g IS NOT DISTINCT FROM cov.g
""")
def q_hll_rollup_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read DISTINCT-COUNT rollup end-to-end (r14 growth — the
    r13 plan's own candidate, completing the physical sketch-lifecycle
    pair with q_kll_rollup_merge): per-(event_type, day) portable-HLL
    register vectors are built once, PERSISTED as a day-partitioned
    parquet gold table (registers as a sparse map column — the "sketch
    bytes" — plus the cell's exact key-row count), read back, and merged
    per event type by register-wise MAX (operators/setops.py:
    hll_merge_on_read). This makes hll_partitioned_distinct's
    sketch-once / merge-forever story physical AND hash-checkable: where
    the Datasketches tier's estimate is engine-specific (rows-only by
    nature), the md5-register construction lets DuckDB recompute every
    register, the integer-exact harmonic denominator, and the estimate
    itself — so the driver hash-checks the whole lifecycle, not a
    tolerance flag.

    Physical-coverage proofs (both exact integers): ``n_rows_covered``
    = Σ per-cell counts over the READ-BACK gold table must equal the
    raw non-NULL key-row count — a lost, stale, or duplicated gold
    partition breaks the sum (the q_kll_rollup_merge ``sketch_n``
    proof shape); ``n_parts`` counts the persisted day cells merged.
    The exact count_distinct rides along as the error probe a
    production rollup would drop."""
    ev = _t(spark, sf_dir, "events")
    return setops.hll_merge_on_read(
        spark,
        ev,
        "event_type",
        F.date_trunc("day", F.col("ts")),
        "user_id",
        _scratch("hll_gold"),
    )


def _wav_corpus_spec(n: int = 24) -> list[tuple]:
    """Deterministic analytic WAV corpus spec, shared by the Spark query
    and (re-derived arithmetically) the DuckDB oracle: per media_id —
    PCM width 2/3 alternating (16-bit and the r14 24-bit decode), mono /
    stereo, constant-DC vs period-2 alternating signal, amplitude
    (i+1)/32, 400+8i frames at 8 kHz (multiple of 8 so duration_ms is
    an exact integer)."""
    specs = []
    for i in range(n):
        specs.append(
            (
                i,
                2 if i % 2 == 0 else 3,          # PCM sample width (bytes)
                2 if i % 3 == 0 else 1,           # channels
                "const" if i % 4 < 2 else "alt",  # signal kind
                (i + 1) / 32.0,                   # amplitude
                400 + 8 * i,                      # frames
                8000,                             # sample rate
            )
        )
    return specs


# Computed golden: q(width) = round(amp*(2^(8w-1)-1)) / 2^(8w-1) per
# channel (numpy's half-even vs SQL's half-away rounding agree at every
# tie this spec can hit — ties land on odd floors), stereo downmix =
# (q(amp) + q(amp/2)) / 2, and every per-sample magnitude is equal so
# rms = peak = envelope segment = that magnitude exactly.
# shuffle_budget: driver-minted bounded corpus -> mapInPandas decode; no exchange
@query(ref_s=0.90, shuffle_budget=0, python_stage=True, oracle="""
    WITH spec AS (
        SELECT i AS media_id,
               CASE WHEN i % 2 = 0 THEN 32768.0 ELSE 8388608.0 END AS fullscale,
               CASE WHEN i % 3 = 0 THEN 2 ELSE 1 END AS nch,
               (i % 4 < 2) AS is_const,
               (i + 1) / 32.0 AS amp,
               400 + 8 * i AS ns
        FROM generate_series(0, 23) t(i)
    ),
    q AS (
        SELECT media_id, nch, is_const, ns,
               round(amp * (fullscale - 1)) / fullscale AS q1,
               round((amp / 2) * (fullscale - 1)) / fullscale AS q2
        FROM spec
    ),
    m AS (
        SELECT media_id, nch, is_const, ns,
               CASE WHEN nch = 2 THEN (q1 + q2) / 2 ELSE q1 END AS mag
        FROM q
    )
    SELECT media_id,
           8000 AS sample_rate,
           nch AS n_channels,
           CAST(ns AS BIGINT) AS n_samples,
           CAST(ns / 8 AS INT) AS duration_ms,
           round(mag, 4) AS rms,
           round(mag, 4) AS peak,
           CAST(CASE WHEN is_const THEN 0.0 ELSE 1.0 END AS DOUBLE) AS zcr,
           round(mag, 4) AS env0, round(mag, 4) AS env1,
           round(mag, 4) AS env2, round(mag, 4) AS env3
    FROM m
""")
def q_wav_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL-codec media decode as a declared query (r14 growth — the r13
    plan's own candidate, now that the WAV codec is real): a bounded
    corpus of genuine RIFF/WAVE payloads (16-bit AND 24-bit PCM, mono
    and stereo, minted by the encode_wav twin — real container bytes,
    not digest fakes) flows through the standard Arrow-batched
    mapInPandas plumbing (multimodal.extract_wav_features) and the
    decoded features come out ANALYTICALLY checkable: the signals are
    constant-DC and period-2 alternating waves, so after PCM
    quantization every feature is exact rational arithmetic a DuckDB
    oracle recomputes from the spec — rms = peak = the quantized
    amplitude (all |samples| equal, so the float sums stay exact),
    zero-crossing rate is exactly 0 or 1, the 4-segment RMS envelope is
    flat, and duration is an integer by construction. The oracle is
    therefore a COMPUTED golden (round(amp*(2^(8w-1)-1))/2^(8w-1) per
    row), not pasted output — it would catch a decode regression in
    either width path, the stereo downmix, or the quantization
    convention (reference: the reference has no media path at all;
    this extends SURVEY §2.2's multimodal tier).

    Corpus minting is driver-side by design: 24 payloads of ~1-3 KB each
    (the bounded-golden-set class, same as synthetic_media); the
    DISTRIBUTED part under test is the mapInPandas decode plumbing."""
    rows = []
    for i, width, nch, kind, amp, ns, sr in _wav_corpus_spec():
        sig = []
        for j in range(ns):
            base = amp if kind == "const" else (amp if j % 2 == 0 else -amp)
            sig.append(base)
            if nch == 2:
                sig.append(base / 2.0)
        rows.append(
            (i, "audio", bytearray(multimodal.encode_wav(sig, sr, nch, width)))
        )
    media = spark.createDataFrame(
        rows, "media_id long, media_type string, payload binary"
    )
    feats = multimodal.extract_wav_features(media, dim=4)
    env = [
        F.round(F.element_at("feature", k + 1).cast("double"), 4).alias(f"env{k}")
        for k in range(4)
    ]
    return feats.select(
        "media_id",
        "sample_rate",
        "n_channels",
        "n_samples",
        "duration_ms",
        F.round("rms", 4).alias("rms"),
        F.round("peak", 4).alias("peak"),
        F.round("zero_crossing_rate", 4).alias("zcr"),
        *env,
    )


# Exact golden (no quantization): mono magnitude = amp = (i+1)/32,
# stereo downmix = (amp + amp/2)/2 = 3*(i+1)/128 — dyadic rationals with
# at most 7 decimal digits, so round(·, 7) is the identity on both
# engines and the doubles compare bit-equal.
# shuffle_budget: bounded corpus -> mapInPandas decode; no exchange
@query(ref_s=0.90, shuffle_budget=0, python_stage=True, oracle="""
    WITH spec AS (
        SELECT i AS media_id,
               CASE WHEN i % 3 = 0 THEN 2 ELSE 1 END AS nch,
               (i % 4 < 2) AS is_const,
               (i + 1) / 32.0 AS amp,
               400 + 8 * i AS ns
        FROM generate_series(0, 23) t(i)
    ),
    m AS (
        SELECT media_id, nch, is_const, ns,
               CASE WHEN nch = 2 THEN amp * 0.75 ELSE amp END AS mag
        FROM spec
    )
    SELECT media_id,
           8000 AS sample_rate,
           nch AS n_channels,
           CAST(ns AS BIGINT) AS n_samples,
           CAST(ns / 8 AS INT) AS duration_ms,
           round(mag, 7) AS rms,
           round(mag, 7) AS peak,
           CAST(CASE WHEN is_const THEN 0.0 ELSE 1.0 END AS DOUBLE) AS zcr,
           round(mag, 7) AS env0, round(mag, 7) AS env1,
           round(mag, 7) AS env2, round(mag, 7) AS env3
    FROM m
""")
def q_wav_decode_float(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IEEE-float WAV decode as a declared query (r15 growth — the codec
    widened to WAVE_FORMAT_IEEE_FLOAT this round, so the declared
    surface pins it the same way q_wav_decode pins the PCM paths): the
    same bounded analytic corpus shape — constant-DC and period-2
    signals, mono and stereo — but minted as fmt-3 containers (float32
    and float64 alternating, encode_wav(ieee_float=True)) that stdlib
    ``wave`` cannot even open, so the whole decode rides the fallback
    RIFF parser through the standard Arrow-batched mapInPandas plumbing
    (multimodal.extract_wav_features).

    The float oracle is STRICTER than the PCM one: there is no
    quantization step at all — every amplitude (i+1)/32 and stereo
    downmix 3(i+1)/128 is a dyadic rational exactly representable in
    float32, every intermediate (square, equal-value mean, sqrt of an
    exact square, IEEE divide by the frame count) is exact, so
    rms = peak = envelope = the spec amplitude to the last bit and the
    DuckDB oracle recomputes it with plain arithmetic; round(·, 7) on
    both sides is the identity (3/128 = 0.0234375 needs exactly 7
    decimals) and exists only to normalize the column through the
    driver's hash. A decode regression in either float width, the
    chunk walk, or the downmix shifts a full output column.

    Corpus minting is driver-side by design: 24 payloads of ~2-7 KB
    (the bounded-golden-set class); the DISTRIBUTED part under test is
    the mapInPandas decode plumbing (reference: the reference has no
    media path at all; extends SURVEY §2.2's multimodal tier)."""
    rows = []
    for i, _w, nch, kind, amp, ns, sr in _wav_corpus_spec():
        width = 4 if i % 2 == 0 else 8  # float32 / float64 alternating
        sig = []
        for j in range(ns):
            base = amp if kind == "const" else (amp if j % 2 == 0 else -amp)
            sig.append(base)
            if nch == 2:
                sig.append(base / 2.0)
        rows.append(
            (
                i,
                "audio",
                bytearray(
                    multimodal.encode_wav(sig, sr, nch, width, ieee_float=True)
                ),
            )
        )
    media = spark.createDataFrame(
        rows, "media_id long, media_type string, payload binary"
    )
    feats = multimodal.extract_wav_features(media, dim=4)
    env = [
        F.round(F.element_at("feature", k + 1).cast("double"), 7).alias(f"env{k}")
        for k in range(4)
    ]
    return feats.select(
        "media_id",
        "sample_rate",
        "n_channels",
        "n_samples",
        "duration_ms",
        F.round("rms", 7).alias("rms"),
        F.round("peak", 7).alias("peak"),
        F.round("zero_crossing_rate", 7).alias("zcr"),
        *env,
    )


# Verbatim the q_hll_rollup_merge oracle (the streaming register store
# must converge to the batch register build — that IS the check).
# shuffle_budget: read-back rollup: register merge (g,bucket)->(g) 2 + coverage
# (g,part)->(g) 2 + exact probe 1 + final small joins 1; everything after the drain
# moves <=256 registers/cell
@query(ref_s=4.15, shuffle_budget=6, always_3=True,
       oracle=REGISTRY["q_hll_rollup_merge"].oracle)
def q_streaming_hll_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming producer for the merge-on-read distinct-count gold table
    (r15 growth — the r14 plan's own candidate, composing
    q_hll_rollup_merge's register store with q_streaming_upsert's
    foreachBatch-MERGE publish pattern): micro-batches fold event keys
    into per-(event_type, day, bucket) portable-HLL register state, each
    trigger MERGEs the changed registers into a versioned lake table, and
    after the drain the rollup reads the PUBLISHED store back and
    max-merges registers per event type (operators/setops.py:
    hll_streaming_merge_on_read).

    The oracle is q_hll_rollup_merge's verbatim (the shared register/
    estimate CTE fragment): update-mode emission + null-safe keyed MERGE
    must converge the published register store to exactly the batch
    register build, so the streaming lifecycle — state, publish,
    merge-on-read, estimate, and both physical-coverage integers —
    hash-checks end to end. Streaming state is bounded by
    |types| × |days| × 256 registers, never by key cardinality."""
    from datalake_breweries_two_spark.catalog import read_events

    root = _scratch("stream_hll_register_table")
    shutil.rmtree(root, ignore_errors=True)
    ev = read_events(spark, os.path.join(sf_dir, "events.parquet"))
    # 2 files per trigger: same rationale as q_streaming_upsert — halves
    # the fixed per-trigger cycle (replan + register-state store commits +
    # a full MERGE publish per batch) while register maxes still
    # accumulate across a trigger boundary.
    stream = stream_windows.stage_events_stream(
        ev, _scratch("events_stream_hll"), files_per_trigger=2
    )
    out = setops.hll_streaming_merge_on_read(
        spark,
        stream,
        ev,
        "event_type",
        F.date_trunc("day", F.col("ts")),
        "user_id",
        root,
    )
    return out


class _ImageCorpus(NamedTuple):
    """Ramps of a deterministic analytic image corpus. Image ``i`` is
    ``width[0] + i % width[1]`` pixels wide and ``height[0] + 2 * (i %
    height[1])`` tall; the height is even, so the 2×2 luminance grid splits
    exactly on the colour boundary. Its top half has channel ``c`` equal to
    ``(a*i + b) % 256`` for ``(a, b) = top[c]``, its bottom half likewise
    from ``bottom``, unless ``i % const_every == 0`` paints the whole image
    in the top colour."""

    width: tuple[int, int]
    height: tuple[int, int]
    const_every: int
    top: tuple[tuple[int, int], ...]
    bottom: tuple[tuple[int, int], ...]


# Distinct ramps per codec, so the three image queries never hash-collide.
# BMP: odd widths force the 4-byte row padding. GIF: a two-tone image has a
# ≤2-colour palette (LZW minimum code size floor = 2), the densest
# compression case the codec supports.
_BMP_CORPUS = _ImageCorpus(
    (3, 5), (4, 4), 3, ((17, 5), (29, 40), (53, 90)), ((23, 11), (41, 3), (7, 200))
)
_PNG_CORPUS = _ImageCorpus(
    (2, 6), (4, 4), 4, ((19, 7), (31, 50), (59, 80)), ((13, 21), (37, 9), (11, 180))
)
_GIF_CORPUS = _ImageCorpus(
    (4, 4), (6, 3), 5, ((23, 13), (43, 60), (61, 70)), ((17, 31), (29, 17), (13, 160))
)


def _image_corpus_spec(corpus: _ImageCorpus, n: int = 24) -> list[tuple]:
    """``(media_id, width, height, top_rgb, bottom_rgb)`` per image, shared
    by the Spark query and (re-derived arithmetically) the DuckDB oracle."""
    specs = []
    for i in range(n):
        w = corpus.width[0] + i % corpus.width[1]
        h = corpus.height[0] + 2 * (i % corpus.height[1])
        top = tuple((a * i + b) % 256 for a, b in corpus.top)
        bot = top if i % corpus.const_every == 0 else tuple(
            (a * i + b) % 256 for a, b in corpus.bottom
        )
        specs.append((i, w, h, top, bot))
    return specs


def _image_decode_query(
    spark: SparkSession,
    corpus: _ImageCorpus,
    encode: Callable[[list], bytes],
    extract: Callable[..., DataFrame],
) -> DataFrame:
    """REAL-codec image decode as a declared query: a bounded corpus of
    genuine payloads minted by the codec's ``encode`` twin flows through
    the standard Arrow-batched mapInPandas plumbing (``extract``), and the
    decoded features come out ANALYTICALLY checkable: images are constant
    or exact top/bottom two-tone with even heights, so per-channel means
    are half-sums of integers, Rec. 601 luma is a 3-decimal rational, and
    every 2×2 grid tile mean equals its half's luma exactly. The oracle
    recomputes all of it from the corpus ramps (the reference has no media
    path at all).

    Corpus minting is driver-side by design: 24 payloads of a few hundred
    bytes at most (the bounded-golden-set class); the DISTRIBUTED part
    under test is the mapInPandas decode plumbing."""
    rows = []
    for i, w, h, top, bot in _image_corpus_spec(corpus):
        pixels = [[list(top)] * w for _ in range(h // 2)] + [
            [list(bot)] * w for _ in range(h // 2)
        ]
        rows.append((i, "image", bytearray(encode(pixels))))
    media = spark.createDataFrame(
        rows, "media_id long, media_type string, payload binary"
    )
    feats = extract(media, grid=2)
    tiles = [
        F.round(F.element_at("feature", k + 1).cast("double"), 4).alias(f"tile{k}")
        for k in range(4)
    ]
    return feats.select(
        "media_id",
        "width",
        "height",
        F.round("mean_r", 4).alias("mean_r"),
        F.round("mean_g", 4).alias("mean_g"),
        F.round("mean_b", 4).alias("mean_b"),
        F.round("brightness", 4).alias("brightness"),
        *tiles,
    )


def _image_oracle_sql(corpus: _ImageCorpus, n: int = 24) -> str:
    """Computed golden: channel means are integer half-sums, luma is the
    Rec. 601 dot product of integers (exactly 3 decimals — never at a 4dp
    rounding boundary, so the float eval order and the feature array's
    float32 truncation, error ≤ ~1.5e-5, both round away), brightness is
    the 4-decimal half-sum of the two half lumas, and each grid tile is its
    half's luma verbatim."""
    (w0, w_mod), (h0, h_mod) = corpus.width, corpus.height
    (r1, g1, b1), (r2, g2, b2) = (
        [f"({a}*i + {b}) % 256" for a, b in ramps]
        for ramps in (corpus.top, corpus.bottom)
    )
    return f"""
    WITH spec AS (
        SELECT i AS media_id,
               CAST({w0} + (i % {w_mod}) AS INT) AS w,
               CAST({h0} + 2 * (i % {h_mod}) AS INT) AS h,
               (i % {corpus.const_every} = 0) AS is_const,
               CAST({r1} AS DOUBLE) AS r1,
               CAST({g1} AS DOUBLE) AS g1,
               CAST({b1} AS DOUBLE) AS b1,
               CAST({r2} AS DOUBLE) AS r2x,
               CAST({g2} AS DOUBLE) AS g2x,
               CAST({b2} AS DOUBLE) AS b2x
        FROM generate_series(0, {n - 1}) t(i)
    ),
    c AS (
        SELECT media_id, w, h, r1, g1, b1,
               CASE WHEN is_const THEN r1 ELSE r2x END AS r2,
               CASE WHEN is_const THEN g1 ELSE g2x END AS g2,
               CASE WHEN is_const THEN b1 ELSE b2x END AS b2
        FROM spec
    ),
    l AS (
        SELECT media_id, w, h, r1, g1, b1, r2, g2, b2,
               0.299*r1 + 0.587*g1 + 0.114*b1 AS luma1,
               0.299*r2 + 0.587*g2 + 0.114*b2 AS luma2
        FROM c
    )
    SELECT media_id,
           w AS width,
           h AS height,
           round((r1 + r2) / 2, 4) AS mean_r,
           round((g1 + g2) / 2, 4) AS mean_g,
           round((b1 + b2) / 2, 4) AS mean_b,
           round((luma1 + luma2) / 2, 4) AS brightness,
           round(luma1, 4) AS tile0,
           round(luma1, 4) AS tile1,
           round(luma2, 4) AS tile2,
           round(luma2, 4) AS tile3
    FROM l
"""


# shuffle_budget: bounded corpus -> mapInPandas decode; no exchange
@query(ref_s=0.90, shuffle_budget=0, python_stage=True,
       oracle=_image_oracle_sql(_BMP_CORPUS))
def q_bmp_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncompressed 24-bit BI_RGB BMP decode (bottom-up rows, 4-byte row
    padding) through :func:`_image_decode_query`: a regression in header
    parsing, BGR→RGB ordering, the row-order flip, padding arithmetic or
    the luma constants breaks the hash."""
    return _image_decode_query(
        spark, _BMP_CORPUS, multimodal.encode_bmp, multimodal.extract_bmp_features
    )


# shuffle_budget: bounded corpus -> mapInPandas decode; no exchange
@query(ref_s=0.85, shuffle_budget=0, python_stage=True,
       oracle=_image_oracle_sql(_PNG_CORPUS))
def q_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """8-bit truecolor PNG decode (CRC-checked chunks, one zlib-deflated
    IDAT, per-row filter types cycling 0-4 so all five scanline
    reconstructions sit under the hash) through
    :func:`_image_decode_query`: a regression in chunk walking, CRC
    verification, inflate, any filter reconstruction or the luma constants
    breaks the hash."""
    return _image_decode_query(
        spark, _PNG_CORPUS, multimodal.encode_png, multimodal.extract_png_features
    )


# shuffle_budget: bounded corpus -> mapInPandas decode; no exchange
@query(ref_s=0.85, shuffle_budget=0, python_stage=True,
       oracle=_image_oracle_sql(_GIF_CORPUS))
def q_gif_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GIF89a palette-indexed decode (a global colour table of the image's
    distinct colours, a greedy-longest-match LZW stream with variable-width
    codes, clear/end handling and the KwKwK edge; the decoder is also
    pinned against a third-party GIF in the tests, so a matched
    encoder/decoder off-by-one cannot hide) through
    :func:`_image_decode_query`: a regression in header/palette parsing,
    LZW reconstruction, code-width growth or index→RGB mapping breaks the
    hash."""
    return _image_decode_query(
        spark, _GIF_CORPUS, multimodal.encode_gif, multimodal.extract_gif_features
    )


QUERIES: dict[str, QueryFn] = {name: q.fn for name, q in REGISTRY.items()}
ORACLE_SQL: dict[str, str] = {
    name: q.oracle for name, q in REGISTRY.items() if q.oracle is not None
}
