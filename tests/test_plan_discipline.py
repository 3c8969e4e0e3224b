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
from datalake_breweries_two_spark.plans.advisor import count_wide_exchanges

from .conftest import SF_SMOKE

# Queries allowed to run Python at all: Arrow-batched (mapInPandas /
# applyInPandasWithState) by design. Everything else must be 100% JVM.
ARROW_PYTHON_OK = {
    "q_media_features",
    "q_media_frame_sample",
    "q_streaming_sessionize",
    "q_pack_sequences",
    "q_udtf_chunk",  # ArrowEvalPythonUDTF — the lateral table-function API
    "q_wav_decode",  # r14: the REAL-codec decode IS the declared Python stage
    "q_bmp_decode",  # r15: same class — the BMP decode IS the Python stage
    "q_wav_decode_float",  # r15: fmt-3 decode IS the declared Python stage
    "q_png_decode",  # r16: same class — the PNG decode IS the Python stage
    "q_gif_decode",  # r16: same class — the GIF decode IS the Python stage
}

# Streaming queries produce no batch plan to inspect the same way.
SKIP_PLAN = {
    "q_streaming_tumbling",
    "q_streaming_sessionize",
    "q_streaming_dedup",
    "q_streaming_enrich",
    "q_streaming_sliding",
    "q_streaming_interval_join",
    "q_streaming_interval_join_outer",
    "q_media_features",
}


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
    "name", sorted(n for n in entry_queries.QUERIES if n not in SKIP_PLAN)
)
def test_no_row_at_a_time_python(spark, name):
    """BatchEvalPython = per-row Python UDF: forbidden in every query.
    ArrowEvalPython / mapInPandas are allowed only where declared."""
    df = _built(spark, name)[0]
    plan = _plan(df)
    assert "BatchEvalPython" not in plan, f"{name} uses a row-at-a-time Python UDF"
    if name not in ARROW_PYTHON_OK:
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


# Wide-shuffle budgets: max SHUFFLE exchanges (Exchange minus
# BroadcastExchange) each flagship plan is allowed. These freeze the
# shuffle profile the operator docstrings promise — a regression that
# adds a wide exchange (lost broadcast, lost partial-agg, accidental
# repartition) fails here before it costs anything at scale.
SHUFFLE_BUDGET = {
    "q_gold_agg": 1,            # one partial→final agg
    "q_silver_projection": 0,   # pure projection
    "q_join_inner": 0,          # dim side broadcasts
    "q_star_join": 1,           # all four dims broadcast; one fact agg
    "q_topk": 0,                # TakeOrderedAndProject
    "q_sql_tpch_q1": 1,
    "q_sql_tpch_q6": 1,
    "q_hash_split": 0,          # md5-threshold projection
    "q_stratified_sample": 0,
    "q_pii_redact": 0,
    "q_weighted_sample": 0,     # projection + TakeOrdered
    "q_equi_depth_bins": 1,     # the percentile aggregate only
    "q_winsorize": 1,           # the per-group bounds aggregate only
    "q_impute_group_mean": 1,   # the means aggregate only
    "q_token_entropy": 2,       # (doc,token) agg then doc agg
    "q_word_count": 1,
    "q_dedup_exact": 1,
    "q_training_pipeline_e2e": 2,  # md5 dedup + final rollup
    "q_shard_order": 1,         # the shard-keyed window
    "q_join_semi": 0,           # broadcast semi
    "q_join_anti": 0,           # broadcast anti
    "q_topk_per_group": 1,      # one group-keyed window
    "q_rollup": 1,              # Expand + one agg exchange
    "q_cube": 1,
    "q_pivot": 2,               # distinct-values pass + pivot agg
    "q_distinct": 1,
    "q_union": 0,               # unions are shuffle-free
    "q_lang_id": 0,             # pure regex projections
    "q_fingerprint": 0,
    "q_text_quality": 0,
    "q_histogram": 1,
    "q_minmax_by": 1,
    "q_funnel": 1,              # user-keyed shuffle reused across stages
    "q_sessionize": 1,          # one user-keyed window
    "q_cohort_retention": 2,    # r6 single-pass: user-day-set agg + rollup
    "q_moving_avg_time": 2,     # daily agg + group-keyed window
    "q_snapshot_diff": 2,       # the key-partitioned full-outer join
    "q_cdc_apply": 8,           # diff (full-outer) + anti + merge composite
    "q_nested_rollup": 1,       # one order-keyed collect
    "q_lateral_topk_join": 1,   # decorrelated to one windowed rank
    "q_map_ops": 2,             # (user,type) agg then user agg
    "q_exchange_reuse": 1,      # one grouped agg, unpivot is Expand
    "q_gdpr_delete": 2,         # staged agg + broadcast-anti read-back
    "q_interval_coalesce": 1,   # window + island groupBy share one user-keyed exchange
    "q_mode_agg": 2,            # (group,value) agg + tiny group-keyed window
    "q_variant_extract": 2,     # distinct-agg double exchange (count distinct canon)
    "q_udtf_chunk": 0,          # narrow lateral expansion, no shuffle
    "q_mergeschema_scan": 1,    # one agg over the merged-generation scan
    "q_session_window": 2,      # session-merge partial/final aggregation pair
    "q_recursive_cte": 2,       # union-loop step + final per-root agg
    "q_collated_distinct": 4,   # two distinct aggregates (ci + cs) expand pairs
    "q_scan_xml": 1,            # one agg over the staged-XML scan
    "q_pandas_api": 1,          # pandas dialect compiles to the same single-agg plan
    "q_pit_lookup": 1,          # as-of union-trick: one user-keyed window exchange
    "q_sql_tpch_q4": 1,         # semi join broadcasts at smoke sf; one agg
    "q_sql_tpch_q12": 1,        # orders broadcast; one linestatus agg
    "q_sql_tpch_q21": 4,        # per-order distinct pair + join-back + final agg
    "q_corr_matrix": 1,         # single-pass co-moment agg
    "q_linreg_by_group": 1,     # customer broadcast; one regr agg
    "q_dq_audit": 9,            # 8 checks in 7 union branches: 2 key aggs x2 + 3 anti-join collapses + 1 discount-range agg + 1 fused orders row-invariant agg
    "q_spearman_corr": 1,       # both rank windows + final agg share one group-keyed exchange
    "q_event_transitions": 2,   # user-keyed window + (type,type) count
    "q_percent_of_total": 2,    # fact agg + ~25-row window exchange
    "q_offset_pagination": 0,   # TakeOrdered-style global top-(offset+limit)
    "q_nulls_ordering": 0,      # same; NULLS LAST pinned
    "q_group_by_all": 1,        # sugar compiles to one partial/final agg
    "q_group_split": 2,         # split projection + distinct-source rollup pair
    "q_balanced_sample": 3,     # floor agg + label-keyed window + summary agg
    "q_rolling_active_users": 4,  # user-day dedup + spine + distinct-count pair
    "q_geo_radius_pairs": 0,    # cell-equality hash join (broadcast at test sf)
    "q_skew_report": 8,         # 4 key-count passes x (per-key agg + percentile collapse)
    "q_partition_plan": 3,      # month agg + single-row totals + broadcast-back
    "q_asof_join_forward": 1,   # union-trick: one user-keyed window exchange
    "q_window_ignore_nulls": 1, # one customer-keyed window exchange
    "q_sql_tpch_q2": 2,         # partsupp dedup + part-keyed min window
    "q_sql_tpch_q9": 2,         # pair dedup + (nation,year) agg; dims broadcast
    "q_sql_tpch_q11": 4,        # pair dedup + part agg + total scalar + having
    "q_sql_tpch_q16": 3,        # pair dedup + distinct-count expand pair
    "q_sql_tpch_q20": 2,        # pair dedup + correlated-agg decorrelation
    "q_mad": 2,                 # median agg + deviation-median agg
    "q_gini": 1,                # segment-keyed rank window + agg share one exchange
    "q_benford": 3,             # digit agg + single-row total + share projection
    "q_zipf_slope": 3,          # token agg + distributed prefix-rank of the vocabulary (r5)
    "q_vocab_coverage": 4,      # post-checkpoint stages only: the token agg + prefix-sum pipeline runs once in the eager localCheckpoint job; total + milestone aggs read the |V|-row checkpoint (r9)
    "q_ks_test": 4,             # per-value agg + range + pid window + tiny P-row offsets (distributed prefix-sum, r5)
    "q_chi_square": 6,          # median scalar + contingency agg + margins + final
    "q_psi": 6,                 # decile-edge agg + bin agg + margins + final
    "q_incremental_join": 1,    # anti+union are broadcast/narrow; one final agg
    "q_dedup_keep_latest": 1,   # one partial-agg max_by groupBy, no window
    "q_top_percent": 1,         # one segment-keyed cume_dist window + agg
    "q_sequence_gaps": 2,       # key distinct + range partition; boundary pass is a P-row window (r5)
    "q_listagg": 2,             # distinct pair agg + ordered string agg
    "q_histogram_2d": 1,        # one partial-aggregated 2D bin count
    # ---- r4: budgets frozen for every remaining bench headline query,
    # at each plan's audited round-3 shuffle count (VERDICT r3 found no
    # scale-killer among them) — the table now covers the full headline set.
    "q_scan_parquet": 0,
    "q_quality_summary": 1,
    "q_window_rank": 1,
    "q_window_running_sum": 1,
    "q_date_trunc_agg": 1,
    "q_tumbling_window": 1,
    "q_json_extract": 1,
    "q_array_ops": 0,
    "q_sql_tpch_q3": 1,
    "q_sql_tpch_q5": 1,
    "q_sql_tpch_q14": 1,
    "q_sql_tpch_q18": 1,
    "q_sql_tpch_q10": 1,
    "q_sql_tpch_q22": 3,        # cust agg + avg-balance scalar + final agg
    "q_sql_tpch_q7": 1,
    "q_sql_tpch_q19": 1,
    "q_sql_tpch_q8": 1,
    "q_sql_tpch_q13": 2,        # orders-per-cust agg + histogram agg
    "q_sql_tpch_q15": 3,        # revenue view + max scalar + join-back
    "q_sql_tpch_q17": 2,        # per-part avg + final agg
    "q_resample_ffill": 3,      # slot agg + grid join + ffill window
    "q_exists_subquery": 1,
    "q_join_full": 2,           # both sides key-partitioned (no broadcast in full outer)
    "q_window_lead_ntile": 1,
    "q_asof_join": 1,
    "q_range_join": 1,
    "q_interval_join": 1,
    "q_skew_join_salted": 1,
    "q_grouping_sets": 1,
    "q_sliding_window": 1,
    "q_stats_agg": 1,
    "q_percentiles": 1,
    "q_merge_upsert": 2,        # key-partitioned full-outer merge
    "q_versioned_compact_e2e": 1,
    "q_dedup_clusters": 0,      # converged labels read from checkpoint
    "q_scd2": 1,
    "q_dedup_near_verified": 6, # band agg + pair distinct + shuffle-hash verify joins (r14: the attach joins are hinted shuffle_hash after the sf10 study saw the planner broadcast the corpus-scale array/signature side on post-semi-join underestimates and OOM; the 2 extra candidate-bounded exchanges are the price of never broadcasting a corpus table)
    "q_dedup_near": 6,          # same r14 shuffle-hash attach rationale (was 2 with broadcast attach)
    "q_ngram_jaccard": 1,
    "q_token_jaccard": 1,
    "q_token_dedup_near": 6,  # same tiered shape as q_dedup_near_verified (r14 shuffle-hash attach)
    "q_token_dup_clusters": 1,  # bounded pairs; CC labels read from checkpoint (0 since the r14 cands checkpoint truncates the pair lineage)
    "q_quality_funnel": 1,      # one conditional-sum aggregate
    "q_bigram_logprob": 6,      # bigram window + 2 stats aggs + per-doc joins + final agg
    "q_dedup_rate_report": 4,   # md5 count-distinct + bounded pair count
    "q_corpus_mix": 3,          # (source,lang) agg + 1-row total re-agg (broadcast back)
    "q_class_weights": 3,       # label agg + 1-row totals re-agg (broadcast back)
    "q_token_shards": 3,        # range exchange (prefix sum) + P-row offsets + shard agg
    "q_dup_ngram_fraction": 2,  # r10: bigrams are a projection (no token window shuffle); df agg + join back/per-doc agg
    "q_pmi_collocations": 3,    # bigram stats + 2 marginal re-aggs of the checkpointed stats
    "q_asof_join_nearest": 1,   # one key exchange, two sorts
    "q_incremental_ingest_dedup": 2,  # fingerprint anti join (AQE may broadcast)
    "q_shared_span_pairs": 5,   # doc window + distinct + span window/join + pair agg
    "q_knn_join": 2,            # (q,bucket) local top-k window + q-keyed final window
    "q_rerank_topk": 3,         # knn_join's 2 windows + final per-query rank; text joins broadcast
    "q_label_centroids": 5,     # (label,dim) centroid agg + label re-aggs; corpus never exchanged
    "q_ann_recall": 18,  # evaluation harness: per-tier qid windows + recall joins over tiny frames
    "q_cosine_topk": 0,         # broadcast query vector, TakeOrdered
    "q_cosine_pairs": 0,        # bounded broadcast self-join
    "q_ivf_search": 0,          # partition-pruned index probe
    "q_embedding_near_dup": 4,  # band equi-join + pair distinct + 2 re-attach
    "q_data_profile": 2,
    "q_outliers_zscore": 1,
    "q_incremental_agg": 2,     # delta agg + merge with snapshot
    "q_text_stats": 1,
    "q_tfidf": 5,               # (doc,term) agg + df agg + norm joins
    "q_decontaminate": 4,       # shingle aggs + broadcast anti cascade
    "q_contamination_by_source": 5,  # decontaminate's 4 + the source rollup agg; doc-level join AQE-broadcast
    "q_data_card": 4,           # two-phase distinct-agg on source + tiny (source,lang) agg/window; top-lang joins broadcast
    "q_shard_data_card": 5,     # checkpointed prefix-sum shard assign feeds shard distinct-agg (2) + (shard,source) cells (1) + mix window (1) + shard-keyed join (1)
    "q_streaming_contamination": 1,  # drained-sink snapshot agg; the stream itself shuffles only (doc_id, n_shingles) pairs
    "q_streaming_dq_gate": 2,   # drained-sink per-key snapshot agg + single-row audit collapse; the stream shuffles only integer quads
    "q_kll_rollup_merge": 2,    # gold read-back merge agg (1) + the bounded-rank probe's group agg (1); the gold WRITE happens at build, events join the KB-scale estimates by broadcast
    "q_streaming_shard_progress": 1,  # drained-sink per-shard snapshot agg; the stream shuffles only (shard_id, quad) state — the shard plan ships as an eager-checkpointed broadcast
    "q_pack_sequences": 1,      # only (id,group,count) crosses Arrow
    "q_repetition_stats": 3,
    "q_boilerplate_ngrams": 4,  # shingle agg + freq agg + semi-join
    "q_temperature_mix": 3,     # per-source counts + threshold + union
    "q_pagerank": 5,            # last checkpoint-window of iterations
    "q_zorder_scan": 1,
    "q_quantize_embeddings": 0, # pure projections
    "q_kmeans_1d": 1,
    "q_chunk_documents": 0,
    "q_hll_partitioned": 4,     # partial sketches + merge (2) + the r14 contract upgrade's exact count_distinct probe (2); estimate side joins back by broadcast
    "q_hll_rollup_merge": 5,    # register build (g,part,bucket) + cell agg (g,part) at gold-write; read-back merge (g,bucket)->(g) + coverage (g) + exact probe — everything after stage 1 moves <=256 registers/cell
    "q_wav_decode": 0,          # driver-minted bounded corpus -> mapInPandas decode; no exchange
    "q_bmp_decode": 0,          # r15: same class — bounded corpus -> mapInPandas decode; no exchange
    "q_wav_decode_float": 0,    # r15: same class — fmt-3 corpus -> mapInPandas decode; no exchange
    "q_png_decode": 0,          # r16: same class — compressed-corpus -> mapInPandas decode; no exchange
    "q_gif_decode": 0,          # r16: same class — palette-indexed corpus -> mapInPandas decode; no exchange
    "q_streaming_hll_upsert": 6,  # r15 read-back rollup: register merge (g,bucket)->(g) 2 + coverage (g,part)->(g) 2 + exact probe 1 + final small joins 1 — everything after the drain moves <=256 registers/cell
    "q_hll_union_portable": 5,  # register build/merge/rollup + exact-probe distinct pair; post-stage-1 volume is O(groups x 256 registers)
    "q_kmv_overlap": 6,         # one (tag,hash) distinct + per-set TakeOrderedAndProject min-k heaps + union-sketch distinct + exact-probe distinct pair; every post-stage-1 exchange moves <=2k sketch rows
    "q_bm25": 6,                # tf/df/len aggs over ONE text scan (plan-tested)
    "q_partition_overwrite_dynamic": 1,
    "q_streaming_upsert": 0,    # read-back of the published table
    "q_media_checksum": 0,
    "q_media_features": 0,     # mapInPandas over a local table — no exchange
    "q_media_frame_sample": 0, # cardinality-changing mapInPandas — no exchange
    "q_bloom_filter": 2,       # exact-keys distinct + status agg; bloom words checkpointed, probes broadcast
    "q_minhash_signature": 1,  # shingle window/distinct ride one doc_id exchange; (id,seed) agg partials
    "q_fuzzy_pairs": 2,         # block sizes agg + within-block join
    "q_weighted_sample_per_group": 1,
    "q_shuffle_hash_join": 3,   # both sides hash-partitioned + agg (by design)
    "q_time_travel": 0,
    "q_python_datasource": 0,
    "q_python_datasource_stream": 0,
}


def test_budget_covers_every_headline_query():
    """Every bench headline query must carry a frozen shuffle budget —
    a new headline entry without one would silently escape regression
    protection."""
    import bench

    missing = [n for n in bench.HEADLINE if n not in SHUFFLE_BUDGET]
    assert not missing, f"headline queries without a shuffle budget: {missing}"


@pytest.mark.parametrize("name", sorted(SHUFFLE_BUDGET))
def test_wide_shuffle_budget(spark, name):
    df = _built(spark, name)[0]
    plan = _plan(df)
    wide = count_wide_exchanges(plan)
    assert wide <= SHUFFLE_BUDGET[name], (
        f"{name}: {wide} wide exchanges (budget {SHUFFLE_BUDGET[name]}) — "
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
# py4j DataFrame-CONSTRUCTION audit (standing since r9).
#
# r8 found a whole bottleneck class that no plan inspection can see: the
# time to BUILD the DataFrame on the Python side. `_signature_expr` once
# assembled 48x64 = 3,072 `F.lit` Column objects, each a ~0.4 ms py4j
# round-trip — 7.5 s of driver-side chatter before Spark saw a single
# plan node (the "q_ann_recall protocol drift", resolved by assembling
# big literal trees as ONE SQL string via `F.expr`). At 100 TB the
# driver is a shared resource; a query whose construction costs seconds
# of py4j RTTs serializes every concurrent submitter behind it.
#
# This audit freezes that property for EVERY bench headline query by
# counting py4j `send_command` round-trips during construction — a
# deterministic proxy for construction latency that the sandbox host's
# 1-5 s random stalls cannot flake (wall-clock budgets would). The
# counter lives in `_built` (shared with the other full-registry plan
# audits, one build per query per session) and since r10 excludes GC
# DetachCommand traffic and off-thread callers — the r9 counter was
# process-wide and attributed nondeterministic GC finalizer chatter to
# whichever query was building, which flaked q_dedup_clusters at
# 2667 vs its 2600 budget once in a full-suite run. Measured r10
# filtered in-suite distribution at sf0.001 (full test-file run,
# 2026-08-15): median 274, p90 1041, max 3186 (q_pagerank, whose
# fixed-point loop legitimately EXECUTES at build time; the r9 flake
# query q_dedup_clusters dropped 2667 → 1365 once GC traffic was
# excluded, confirming the noise source). The regression class this
# exists to catch adds thousands of RTTs (q_ann_recall read 7,224
# before the fix, 1,166 after), so ≥1.5x headroom over measured keeps
# convergence-bookkeeping jitter out while any F.lit blow-up still
# fails loudly.
# ---------------------------------------------------------------------------

PY4J_BUILD_BUDGET_DEFAULT = 2400  # covers everything measured ≤ 1469 at ≥1.6x

# Queries measured above ~1300 filtered RTTs — each either executes
# jobs at build time (iterative fixed points, multi-batch streaming
# drives, e2e write-read pipelines) or drives a multi-tier harness.
# Budgets are ~1.75-2.1x the r10 filtered in-suite measurement (noted
# per entry; the exact multiple varies — q_ann_recall 1.75x,
# q_bloom_filter 1.87x, the FIXED-POINT iteratives ~2.1x: their build
# executes a convergence loop, so per-session iteration-count jitter
# is real even with GC traffic filtered at the counter; r11 advice) —
# tightened from 2.5x per the r10 advice so a near-doubling of
# construction chatter no longer passes silently.
# RE-MEASURE TRIGGER: if any entry here flakes ONCE on an otherwise
# green run, re-calibrate with a PY4J_AUDIT_DUMP full-file pass and
# re-base that entry to ≥2x the fresh measurement — do not churn the
# query or widen the default.
PY4J_BUILD_BUDGET = {
    "q_pagerank": 6700,  # measured 3186 in-suite; fixed-point loop runs at build
    "q_ann_recall": 5000,  # measured 2856; 3-tier recall harness, bounded seed collects
    "q_bloom_filter": 3600,  # measured 1928; build agg + k probe joins materialized
    "q_token_dup_clusters": 2900,  # measured 1372; Pregel label propagation at build
    "q_kmeans_1d": 3300,  # measured 1550; Lloyd iterations at build
    "q_dedup_clusters": 2900,  # measured 1365 (r9 flake: 2667 unfiltered vs 2600); Pregel at build
    "q_zorder_scan": 2600,  # measured 1352; z-order write + re-scan at build
    "q_cdc_apply": 2600,  # measured 1316; merge pipeline materializes at build
}

# Dev hook: PY4J_AUDIT_DUMP=/path makes the budget test append
# `name<TAB>rtts` lines for re-calibration runs.
_PY4J_AUDIT_DUMP = os.environ.get("PY4J_AUDIT_DUMP")


def test_py4j_budget_covers_every_headline_query():
    """The explicit-budget keys must all BE headline queries (typo guard),
    and — with the default applying to everything else — every headline
    query is covered by construction."""
    import bench

    unknown = [n for n in PY4J_BUILD_BUDGET if n not in bench.HEADLINE]
    assert not unknown, f"py4j budgets for non-headline queries: {unknown}"


def _headline_names():
    import bench

    return sorted(bench.HEADLINE)


@pytest.mark.parametrize("name", _headline_names())
def test_py4j_construction_budget(spark, name):
    rtts = _built(spark, name)[1]
    if _PY4J_AUDIT_DUMP:
        with open(_PY4J_AUDIT_DUMP, "a") as f:
            f.write(f"{name}\t{rtts}\n")
    budget = PY4J_BUILD_BUDGET.get(name, PY4J_BUILD_BUDGET_DEFAULT)
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
