"""Scale-discipline checks on PHYSICAL PLANS, not results.

At 100 TB the plan is the product: a query that silently falls back to
row-at-a-time Python, loses its filter pushdown, or shuffles a side it
could broadcast would be correct-and-unusable. These tests freeze the
plan properties the engine's docstrings promise.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from datalake_breweries_two_spark import entry_queries
from datalake_breweries_two_spark.catalog import load_table
from datalake_breweries_two_spark.entry_queries import REGISTRY
from datalake_breweries_two_spark.plans.advisor import count_wide_exchanges

from .conftest import SF_SMOKE

def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


# ---------------------------------------------------------------------------
# Shared one-build-per-query cache (r10, from the r9 advice).
#
# Three full-registry parametrized tests (no-row-python, wide-shuffle
# budget, py4j construction budget) each used to construct every query
# independently — for build-executing queries (pagerank fixed point,
# z-order write+rescan, streaming drains) that tripled real Spark work.
# `_built` constructs each query exactly once per pytest session and
# caches (DataFrame, filtered py4j RTT count); all three audits read
# the cache. Plan inspection never re-executes, so a cached DataFrame
# is as good as a fresh one for these assertions.
#
# The RTT counter (the r9 standing audit's metric) is filtered two ways
# per the r9 advice: (a) py4j MEMORY commands ('m\n' prefix — the GC
# DetachCommand callbacks py4j emits whenever Python finalizes a
# JavaObject) are excluded, because GC timing is nondeterministic and
# was attributed to whichever query happened to be building
# (the r9 q_dedup_clusters 2667-vs-2600 flake); (b) only the building
# thread is counted, so listener/streaming threads touching the shared
# gateway don't leak in. What remains is the deterministic build-time
# chatter the audit exists to freeze (F.lit blow-ups, per-column py4j
# Column construction).
# ---------------------------------------------------------------------------

_BUILD_CACHE: dict = {}


def _built(spark, name):
    """Construct query `name` once; return (DataFrame, build RTT count)."""
    if name not in _BUILD_CACHE:
        import threading

        import py4j.clientserver as cs
        import py4j.java_gateway as jg
        import py4j.protocol as proto

        counter = {"n": 0}
        ident = threading.get_ident()
        # Capture BOTH originals before either patch so a subclass
        # inheriting GatewayClient.send_command is never counted twice.
        orig_cs = cs.JavaClient.send_command
        orig_jg = jg.GatewayClient.send_command

        def _counting(orig):
            def wrapper(self, command, *a, **k):
                if threading.get_ident() == ident and not (
                    isinstance(command, str)
                    and command.startswith(proto.MEMORY_COMMAND_NAME)
                ):
                    counter["n"] += 1
                return orig(self, command, *a, **k)

            return wrapper

        # Both patch assignments live INSIDE the try so an exception
        # between them (or during the build) can never leak the counting
        # wrapper into the rest of the session (r10 advice). Counts are
        # first-build-in-session measurements: whichever test builds the
        # query first in a warm session records its RTT count, and every
        # later audit reuses that cached build.
        try:
            cs.JavaClient.send_command = _counting(orig_cs)
            jg.GatewayClient.send_command = _counting(orig_jg)
            df = entry_queries.QUERIES[name](spark, SF_SMOKE)
        finally:
            cs.JavaClient.send_command = orig_cs
            jg.GatewayClient.send_command = orig_jg
        _BUILD_CACHE[name] = (df, counter["n"])
    return _BUILD_CACHE[name]


@pytest.mark.parametrize(
    "name", sorted(n for n, q in REGISTRY.items() if not q.no_plan)
)
def test_no_row_at_a_time_python(spark, name):
    """BatchEvalPython = per-row Python UDF: forbidden in every query.
    ArrowEvalPython / mapInPandas are allowed only where a query's
    ``@query`` declares ``python_stage``; everything else is 100% JVM.
    Queries tagged ``no_plan`` build no batch plan to inspect."""
    df = _built(spark, name)[0]
    plan = _plan(df)
    assert "BatchEvalPython" not in plan, f"{name} uses a row-at-a-time Python UDF"
    if not REGISTRY[name].python_stage:
        assert (
            "ArrowEvalPython" not in plan
            and "MapInPandas" not in plan
            and "FlatMapGroupsInPandas" not in plan
        ), f"{name} unexpectedly leaves the JVM"


def test_scan_pushes_filter_and_prunes_columns(spark):
    df = entry_queries.q_scan_parquet(spark, SF_SMOKE)
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(l_returnflag), EqualTo(l_returnflag,R)]" in plan
    # column pruning: only the 4 selected columns reach the scan
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_extendedprice" not in read_schema
    assert "l_quantity" in read_schema


def test_star_join_broadcasts_all_dims(spark):
    plan = _plan(entry_queries.q_star_join(spark, SF_SMOKE))
    assert plan.count("BroadcastHashJoin") >= 3
    # the fact table is never broadcast
    assert "SortMergeJoin" in plan or plan.count("Exchange hashpartitioning") <= 2


def test_topk_uses_take_ordered(spark):
    plan = _plan(entry_queries.q_topk(spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan  # no global sort for a limit-k


def test_gold_agg_partial_aggregation(spark):
    """The flagship must do map-side partial aggregation: two HashAggregate
    nodes around one exchange, so the shuffle carries group rows not data."""
    plan = _plan(entry_queries.q_gold_agg(spark, SF_SMOKE))
    assert plan.count("HashAggregate") >= 2
    assert plan.count("Exchange hashpartitioning") == 1


def test_whole_stage_codegen_everywhere(spark):
    """Core relational queries must sit inside WholeStageCodegen spans.
    (Execute first: AQE's pre-execution plan is a placeholder that hides
    codegen structure until the final plan is materialized.)"""
    for name in ["q_gold_agg", "q_silver_projection", "q_join_inner", "q_topk"]:
        df = entry_queries.QUERIES[name](spark, SF_SMOKE)
        df.collect()  # count() builds a different plan; collect finalizes THIS one
        plan = _plan(df)
        # codegen'd operators print as "*(N) Op" in the executed-plan string
        assert "*(" in plan, f"{name} fell out of codegen:\n{plan[:400]}"


def test_partition_pruning_on_partitioned_layout(spark, tmp_path):
    """Hive-partitioned silver layout must prune partitions at scan."""
    out = str(tmp_path / "part_cust")
    load_table(spark, "customer", SF_SMOKE).write.partitionBy(
        "c_mktsegment"
    ).parquet(out)
    df = spark.read.parquet(out).filter(F.col("c_mktsegment") == "BUILDING")
    plan = _plan(df)
    assert "PartitionFilters" in plan
    assert "c_mktsegment#" in plan.split("PartitionFilters")[1].split("]")[0]


def test_ivf_search_partition_pruned(spark, tmp_path):
    """The IVF probe must be a partition-PRUNED scan of the precomputed
    centroid-partitioned index — never a per-query assignment recompute:
    the corpus scan's PartitionFilters carries centroid_id, and the whole
    plan contains no window/crossJoin assignment machinery."""
    from datalake_breweries_two_spark.operators import similarity

    emb = load_table(spark, "embeddings", SF_SMOKE)
    index_dir = str(tmp_path / "ivf")
    similarity.ivf_build_index(emb, index_dir, n_centroids=8)
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    df = similarity.ivf_search(spark, index_dir, qvec, k=5, n_probe=2)
    plan = _plan(df)
    assert "PartitionFilters" in plan
    assert "centroid_id#" in plan.split("PartitionFilters")[1].split("]")[0]
    assert "Window" not in plan  # no per-query nearest-centroid recompute
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_weighted_sample_take_ordered(spark):
    """Top-k by ES key must be TakeOrderedAndProject (bounded P*k driver
    transfer), never a global Sort."""
    df = entry_queries.QUERIES["q_weighted_sample"](spark, SF_SMOKE)
    plan = _plan(df)
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan.replace("TakeOrderedAndProject", "")


def test_bm25_scans_text_once(spark):
    """bm25's (doc,term) count relation is checkpoint-shared: the final plan
    must NOT re-scan the documents text for each consumer — only the
    count-only N scan and the checkpointed counts remain."""
    df = entry_queries.QUERIES["q_bm25"](spark, SF_SMOKE)
    plan = _plan(df)
    assert plan.count("Scan parquet") <= 1, "documents text re-scanned"
    assert "Scan ExistingRDD" in plan  # the checkpointed counts relation


@pytest.mark.parametrize(
    "name", sorted(n for n, q in REGISTRY.items() if q.shuffle_budget is not None)
)
def test_wide_shuffle_budget(spark, name):
    """Each ``shuffle_budget`` caps the SHUFFLE exchanges (Exchange minus
    BroadcastExchange) of a query's plan, freezing the shuffle profile the
    operator docstrings promise: a regression that adds a wide exchange
    (lost broadcast, lost partial-agg, accidental repartition) fails here
    before it costs anything at scale. Every headline query carries one."""
    budget = REGISTRY[name].shuffle_budget
    wide = count_wide_exchanges(_plan(_built(spark, name)[0]))
    assert wide <= budget, (
        f"{name}: {wide} wide exchanges (budget {budget}) — "
        "a broadcast or partial-agg was lost"
    )


@pytest.mark.parametrize(
    "name",
    ["q_sql_tpch_q6", "q_sql_tpch_q14", "q_sql_tpch_q19", "q_sql_tpch_q3"],
)
def test_selective_scans_push_filters(spark, name):
    """Every selective query's scan must carry non-empty PushedFilters —
    a filter evaluated post-scan reads 100% of the bytes at 100 TB."""
    plan = _plan(entry_queries.QUERIES[name](spark, SF_SMOKE))
    pushed = [
        seg.split("]")[0]
        for seg in plan.split("PushedFilters: [")[1:]
    ]
    assert pushed, f"{name}: no PushedFilters section in any scan"
    assert any(p.strip() for p in pushed), f"{name}: all PushedFilters empty"


def test_shuffle_hash_hint_respected(spark):
    """The SHUFFLE_HASH hint must produce a ShuffledHashJoin (no sort on
    either side), not silently fall back to sort-merge."""
    plan = _plan(entry_queries.QUERIES["q_shuffle_hash_join"](spark, SF_SMOKE))
    assert "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan


def test_exchange_reuse_single_shuffle(spark):
    """Both metrics must fan out from ONE shuffled aggregate (unpivot is
    a shuffle-free Expand) — the fact table never shuffles twice."""
    df = entry_queries.QUERIES["q_exchange_reuse"](spark, SF_SMOKE)
    df.collect()  # AQE finalizes the plan at execution
    plan = _plan(df).split("== Initial Plan ==")[0]  # final plan only
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("Scan parquet") == 1  # one fact scan, not per-metric


def test_runtime_bloom_filter_prunes_probe_scan(spark):
    """Spark's runtime bloom-filter injection (the scan-level runtime
    pruning that matters when a 100 TB probe side meets a selectively
    filtered build side and broadcast is off the table): with the
    application-side size threshold lifted, a selective orders filter must
    inject a bloom_filter_agg on the build side and a might_contain guard
    on the lineitem probe scan. Conf-scoped — the shared session is
    restored either way. In production the only knob to revisit is
    applicationSideScanSizeThreshold (default 10 GB, i.e. injection is
    automatic exactly when the probe side is big enough to care)."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
        orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        df = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "bloom_filter_agg" in plan, "no bloom built on the filtered side"
        assert "might_contain" in plan, "probe scan not guarded by the bloom"
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_bucketed_point_lookup_prunes_buckets(spark, tmp_path):
    """A filter on the bucket column must prune to ONE bucket's files
    (SelectedBucketsCount: 1 out of N) — the hash layout answers point
    lookups with 1/N of the scan at any scale. Needs
    autoBucketedScan.enabled=false: the planner otherwise downgrades a
    plain filter scan to non-bucketed reading and loses the pruning."""
    import io
    from contextlib import redirect_stdout

    from datalake_breweries_two_spark.sources import lake

    conf = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    old = spark.conf.get(conf)
    try:
        spark.conf.set(conf, "false")
        orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet").select(
            "o_orderkey", "o_totalprice"
        )
        lake.write_bucketed(
            orders, "bp_orders_prune", "o_orderkey", 8, str(tmp_path / "bp")
        )
        df = spark.table("bp_orders_prune").filter(F.col("o_orderkey") == 1234)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        assert "Bucketed: true" in plan, plan
        assert "SelectedBucketsCount: 1 out of 8" in plan, plan
    finally:
        spark.conf.set(conf, old)


def test_analyzed_table_stats_reach_the_optimizer(spark):
    """ANALYZE TABLE COMPUTE STATISTICS must surface an exact rowCount to
    the optimizer (queryExecution().optimizedPlan().stats) — the input the
    cost-based optimizer needs for stats-driven join reordering and
    broadcast decisions at scale, where size guesswork is what breaks
    plans. CBO conf-scoped; table dropped after."""
    conf = "spark.sql.cbo.enabled"
    old = spark.conf.get(conf)
    try:
        spark.conf.set(conf, "true")
        orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
        n = orders.count()
        orders.write.mode("overwrite").saveAsTable("stats_orders")
        spark.sql("ANALYZE TABLE stats_orders COMPUTE STATISTICS")
        stats = (
            spark.table("stats_orders")
            ._jdf.queryExecution()
            .optimizedPlan()
            .stats()
        )
        assert stats.rowCount().isDefined(), "no rowCount after ANALYZE"
        assert int(str(stats.rowCount().get())) == n
    finally:
        spark.conf.set(conf, old)
        spark.sql("DROP TABLE IF EXISTS stats_orders")


# ---------------------------------------------------------------------------
# py4j DataFrame-CONSTRUCTION audit.
#
# A whole bottleneck class is invisible to plan inspection: the time to
# BUILD the DataFrame on the Python side. `_signature_expr` once
# assembled 48x64 = 3,072 `F.lit` Column objects, each a ~0.4 ms py4j
# round-trip — 7.5 s of driver-side chatter before Spark saw a single
# plan node (resolved by assembling big literal trees as ONE SQL string
# via `F.expr`). At 100 TB the driver is a shared resource; a query whose
# construction costs seconds of py4j RTTs serializes every concurrent
# submitter behind it.
#
# This audit freezes that property for EVERY bench headline query by
# counting py4j `send_command` round-trips during construction — a
# deterministic proxy for construction latency that the host's 1-5 s
# random stalls cannot flake (wall-clock budgets would). The counter
# lives in `_built` (shared with the other full-registry plan audits,
# one build per query per session) and excludes GC DetachCommand traffic
# and off-thread callers: a process-wide count attributed
# nondeterministic GC finalizer chatter to whichever query was building
# (q_dedup_clusters read 2667 unfiltered, 1365 filtered). Filtered
# in-suite distribution at sf0.001 (full test-file run): median 274, p90
# 1041, max 3186 (q_pagerank, whose fixed-point loop legitimately
# EXECUTES at build time). The regression class this exists to catch
# adds thousands of RTTs (q_ann_recall read 7,224 before the F.expr fix,
# 1,166 after).
#
# Each query's `py4j_budget` sits on its `@query`. The default (2400)
# covers everything measured ≤ 1469 at ≥1.6x. Queries measured above
# ~1300 either execute jobs at build time (iterative fixed points,
# multi-batch streaming drives, e2e write-read pipelines) or drive a
# multi-tier harness; their budgets are ~1.75-2.1x the measurement (the
# fixed-point iteratives ~2.1x: their build executes a convergence loop,
# so per-session iteration-count jitter is real), so a near-doubling of
# construction chatter does not pass silently.
# RE-MEASURE TRIGGER: if any budget flakes ONCE on an otherwise green
# run, re-calibrate with a PY4J_AUDIT_DUMP full-file pass and re-base
# that query's budget to ≥2x the fresh measurement — do not churn the
# query or widen the default.
# ---------------------------------------------------------------------------

# Dev hook: PY4J_AUDIT_DUMP=/path makes the budget test append
# `name<TAB>rtts` lines for re-calibration runs.
_PY4J_AUDIT_DUMP = os.environ.get("PY4J_AUDIT_DUMP")


@pytest.mark.parametrize(
    "name", sorted(n for n, q in REGISTRY.items() if q.ref_s is not None)
)
def test_py4j_construction_budget(spark, name):
    rtts = _built(spark, name)[1]
    if _PY4J_AUDIT_DUMP:
        with open(_PY4J_AUDIT_DUMP, "a") as f:
            f.write(f"{name}\t{rtts}\n")
    budget = REGISTRY[name].py4j_budget
    assert rtts <= budget, (
        f"{name}: {rtts} py4j round-trips to construct (budget {budget}) — "
        "driver-side chatter regression; assemble big literal expressions "
        "as one F.expr SQL string (see SCALING.md, r8)"
    )


# The ten queries of the perfbench ``llm_corpus`` workload.
LLM_CORPUS = [
    "q_dedup_near_verified", "q_minhash_signature", "q_text_quality",
    "q_tfidf", "q_bm25", "q_cosine_topk", "q_embedding_near_dup",
    "q_decontaminate", "q_pii_redact", "q_chunk_documents",
]


def test_codegen_cache_holds_llm_corpus_working_set(spark):
    """A warm session does not recompile its generated classes: one
    llm_corpus pass needs ~208 of them, which the session's codegen cache
    must hold, so a second pass over the same inputs compiles only the few
    classes that differ per run. A cache smaller than the working set
    (Spark's default of 100) recompiles ~200 classes on every pass.

    ``q_bm25``'s plan numbers its whole-stage codegen stages differently
    from run to run. The session keeps stage ids out of generated class
    names, so three warm runs of it must compile no class; with the ids in
    the names, warm runs recompiled up to 8."""
    jvm = spark.sparkContext._jvm
    timer = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def compiles_per_pass(names):
        start = timer.getCount()
        for name in names:
            entry_queries.QUERIES[name](spark, SF_SMOKE).collect()
        return timer.getCount() - start

    compiles_per_pass(LLM_CORPUS)
    compiles = compiles_per_pass(LLM_CORPUS)
    assert compiles < 30, f"a warm llm_corpus pass compiled {compiles} classes"
    bm25 = [compiles_per_pass(["q_bm25"]) for _ in range(3)]
    assert bm25 == [0, 0, 0], f"warm q_bm25 runs compiled {bm25} classes"


def test_py4j_registry_distribution_drift():
    """Registry-WIDE drift guard (r10 advice): the per-query budgets have
    ~2x headroom each, so a uniform creep that stays under every
    individual bar could still double total driver chatter. Assert the
    in-suite median and p90 of the builds this session has already
    cached stay near the r10 calibration (median 274, p90 1041 filtered
    RTTs at sf0.001). Runs meaningfully only after the parametrized
    budget test has populated the build cache; a targeted single-test
    invocation skips."""
    counts = sorted(v[1] for v in _BUILD_CACHE.values())
    if len(counts) < 100:
        pytest.skip("build cache not populated (needs the full budget sweep)")
    median = counts[len(counts) // 2]
    p90 = counts[int(len(counts) * 0.9)]
    assert median <= 600, f"registry median build RTTs drifted: {median} (r10: 274)"
    assert p90 <= 2100, f"registry p90 build RTTs drifted: {p90} (r10: 1041)"
