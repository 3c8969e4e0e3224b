"""Deterministic, engine-portable sampling and dataset splitting.

Training pipelines need splits and samples that are (a) reproducible
across runs, (b) stable under repartitioning, and (c) computable by any
engine that reads the same data — `df.sample()` satisfies none of these
(its Bernoulli draw depends on partition layout and Spark's RNG stream).
The operators here derive every decision from `md5(id || seed)`, so the
same row lands in the same split in Spark, DuckDB, or a bash one-liner.

Portability trick: rather than parsing hex to an integer (whose SQL
spelling differs per engine), decisions compare the first 8 hex chars of
the digest LEXICOGRAPHICALLY against a threshold string. Fixed-width
lowercase hex compares identically to its numeric value, and every
engine produces the same lowercase-hex md5 — so `substr(md5(x),1,8) <
'cccccccc'` IS `hash(x) < 0.8 * 2^32`, everywhere.

At 100 TB both operators are embarrassingly parallel: one projection,
no shuffle, no RNG state, and the split column is a stable partition
key for downstream `partitionBy("split")` writes.

Reference parity: the reference has no sampling surface; this extends
it for the LLM-pipeline tier (SURVEY.md §2.2).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_DOC_ID = "doc_id"
_TEXT = "text"
_LANG = "lang"
_SPLIT_TRAIN = 0.8
_SPLIT_VAL = 0.1


def _hash_bucket_hex(id_col: str, seed: str) -> Column:
    """First 8 hex chars of md5(id || ':' || seed) — a uniform draw in
    [0, 2^32) encoded as a lexicographically ordered string."""
    return F.substring(F.md5(F.concat_ws(":", F.col(id_col).cast("string"), F.lit(seed))), 1, 8)


def md5_60(col: Column) -> Column:
    """The cross-engine 60-bit hash: the first 15 hex chars of ``md5(col)``
    as an exact non-negative BIGINT, bit-identical in any engine with md5.
    DuckDB mirror: ``CAST(('0x' || substr(md5(x), 1, 15)) AS BIGINT)``."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def fraction_to_hex_threshold(frac: float) -> str:
    """Map a fraction in [0, 1] to its 8-hex-char bucket boundary.

    frac >= 1.0 returns "g" — lexicographically above every hex string,
    so `bucket < threshold` keeps ALL rows (a 9-digit "100000000" would
    compare char-wise against 8-digit buckets and keep almost none)."""
    if not 0.0 <= frac <= 1.0:
        raise ValueError(f"fraction must be in [0, 1]; got {frac}")
    if frac >= 1.0:
        return "g"
    return format(int(frac * 0x100000000), "08x")


def _split_label(bucket: Column) -> Column:
    """train/val/test label of a hash bucket: the first 80 % of the bucket
    range is train, the next 10 % val, the rest test."""
    t_train = fraction_to_hex_threshold(_SPLIT_TRAIN)
    t_val = fraction_to_hex_threshold(_SPLIT_TRAIN + _SPLIT_VAL)
    return (
        F.when(bucket < F.lit(t_train), F.lit("train"))
        .when(bucket < F.lit(t_val), F.lit("val"))
        .otherwise(F.lit("test"))
    )


def hash_split(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Assign every row a deterministic train/val/test split label.

    train/val/test fractions are 0.8/0.1/0.1; the label is a pure
    function of the id — append-only ingestion never reshuffles old rows
    between splits.
    """
    return df.withColumn("split", _split_label(_hash_bucket_hex(id_col, "split-v1")))


def stratified_hash_sample(df: DataFrame, rates: dict[str, float]) -> DataFrame:
    """Keep a per-stratum deterministic fraction of rows (e.g. downsample
    dominant languages, keep all of rare ones).

    The per-stratum threshold is a CASE over broadcastable literals, so
    the whole operator is one projection + filter — no shuffle, no
    `sampleBy` RNG, and an exact SQL oracle exists for it.
    """
    bucket = _hash_bucket_hex(_DOC_ID, "sample-v1")
    expr = None
    for stratum, rate in sorted(rates.items()):
        cond = F.col(_LANG) == stratum
        thr = F.lit(fraction_to_hex_threshold(rate))
        expr = F.when(cond, thr) if expr is None else expr.when(cond, thr)
    absent = F.lit(fraction_to_hex_threshold(0.0))  # strata not in rates
    threshold = expr.otherwise(absent) if expr is not None else absent
    return df.filter(bucket < threshold)


def temperature_sample(df: DataFrame, alpha: float = 0.5) -> DataFrame:
    """Temperature-flattened corpus mixing: keep stratum ``l`` with
    probability proportional to ``n_l^(alpha-1)`` (normalized so the rarest
    stratum keeps everything) — the standard multilingual rebalancing that
    downweights dominant languages without dropping rare ones.

    Rates are derived FROM the data (one tiny count agg, broadcast back),
    rounded to 4dp, then converted to the same lexicographic hex threshold
    ``hash_split`` uses — so membership stays a pure function of
    (id, seed, stratum counts) with an exact SQL oracle. Shuffle profile:
    one partial-agg count over strata (rows = #strata) + one broadcast
    join; the corpus itself never shuffles.
    """
    counts = df.groupBy(_LANG).agg(F.count(F.lit(1)).alias("n"))
    min_n = counts.agg(F.min("n").alias("min_n"))
    rates = counts.crossJoin(F.broadcast(min_n)).select(
        F.col(_LANG),
        F.round(F.pow(F.col("n") / F.col("min_n"), F.lit(alpha - 1.0)), 4).alias("rate"),
    )
    threshold = F.when(F.col("rate") >= 1.0, F.lit("g")).otherwise(
        F.lpad(
            F.lower(F.hex(F.floor(F.col("rate") * F.lit(float(0x100000000))).cast("bigint"))),
            8,
            "0",
        )
    )
    bucket = _hash_bucket_hex(_DOC_ID, "mix-v1")
    return (
        df.join(F.broadcast(rates.withColumn("threshold", threshold)), _LANG)
        .filter(bucket < F.col("threshold"))
        .select(F.col(_DOC_ID), F.col(_LANG), F.col("rate"))
    )


def shard_order(df: DataFrame) -> DataFrame:
    """Deterministic global shuffle for training shards: every row gets a
    (shard, position) from the first hex nibble of md5(id || seed) — 16
    shards, position = rank of the full digest within the shard.

    This is how a 100 TB corpus gets a reproducible training order without
    a global sort: the shard assignment is a projection, and the per-shard
    ordering is 16 independent window sorts (one shuffle keyed on shard,
    each partition sorts locally). Re-running on re-partitioned input
    yields byte-identical shard files.
    """
    from pyspark.sql import Window

    h = F.md5(F.concat_ws(":", F.col(_DOC_ID).cast("string"), F.lit("shard-v1")))
    shard = (
        F.expr("instr('0123456789abcdef', substring(_shard_hash, 1, 1))") - 1
    ).cast("long")
    w = Window.partitionBy("shard").orderBy("_shard_hash", _DOC_ID)
    return (
        df.withColumn("_shard_hash", h)
        .withColumn("shard", shard)
        .withColumn("pos", F.row_number().over(w).cast("long"))
        .select(F.col(_DOC_ID), "shard", "pos")
    )


def weighted_hash_sample(df: DataFrame, weight_col: str, k: int) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement (Efraimidis-
    Spirakis A-ES): each row draws u ~ U(0,1] from md5(id || seed) and is
    ranked by key = ln(u) / w — the k largest keys are a weighted sample
    (inclusion probability proportional to weight, exactly the reservoir
    algorithm's distribution) — but with the RNG replaced by the portable
    digest, so the same k rows are chosen by any engine, any partitioning,
    any run.

    This is the importance-weighted corpus selection step (sample documents
    proportional to a quality score) done scale-right: one projection, one
    TakeOrderedAndProject (top-k, no global sort, P*k rows to the driver
    stage). u is the first 13 hex digits (52 bits — exactly representable
    in a double) of the digest, shifted to (0,1]; the key is rounded to
    8dp before ranking with (key desc, id asc) tie-break so the selected
    set is stable across libm implementations.

    Rows with weight <= 0 are excluded (they have zero inclusion
    probability in the A-ES scheme; ln(u)/w would flip sign).
    """
    digest = F.md5(F.concat_ws(":", F.col(_DOC_ID).cast("string"), F.lit("wsample-v1")))
    # 52-bit integer from 13 hex chars; +1 shifts the draw to (0, 2^52]
    u_int = F.conv(F.substring(digest, 1, 13), 16, 10).cast("double") + 1.0
    u = u_int / float(1 << 52)
    key = F.round(F.log(u) / F.col(weight_col).cast("double"), 8)
    return (
        df.filter(F.col(weight_col) > 0)
        .select(F.col(_DOC_ID), F.col(weight_col).alias("weight"), key.alias("es_key"))
        .orderBy(F.col("es_key").desc(), F.col(_DOC_ID).asc())
        .limit(k)
    )


def weighted_hash_sample_per_group(
    df: DataFrame,
    group_col: str,
    weight_col: str,
    k_per_group: int,
) -> DataFrame:
    """Per-stratum Efraimidis-Spirakis sampling: the k heaviest-keyed rows
    within EACH group (e.g. k docs per language, weighted by quality
    score) — the balanced-corpus construction step.

    Same portable md5 draw as :func:`weighted_hash_sample`, but ranked by
    a group-partitioned window instead of a global top-k: one shuffle on
    the group key, each partition keeps k rows — the result is independent
    of both partitioning and the other groups' contents, so strata can be
    sampled incrementally and unioned.
    """
    from pyspark.sql import Window

    digest = F.md5(F.concat_ws(":", F.col(_DOC_ID).cast("string"), F.lit("wsample-v1")))
    u_int = F.conv(F.substring(digest, 1, 13), 16, 10).cast("double") + 1.0
    u = u_int / float(1 << 52)
    key = F.round(F.log(u) / F.col(weight_col).cast("double"), 8)
    w = Window.partitionBy(group_col).orderBy(
        F.col("es_key").desc(), F.col(_DOC_ID).asc()
    )
    return (
        df.filter(F.col(weight_col) > 0)
        .select(
            F.col(_DOC_ID),
            F.col(group_col),
            F.col(weight_col).alias("weight"),
            key.alias("es_key"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k_per_group)
        .select(_DOC_ID, group_col, "weight", "es_key")
    )


def group_split(df: DataFrame, group_col: str) -> DataFrame:
    """Leakage-safe train/val/test split: the assignment hashes the GROUP
    key (source / domain / author), not the row id, so every row of a
    group lands in the same split — near-duplicate documents from one
    source can never straddle the train/test boundary and leak eval data
    into training. Same portable md5 threshold scheme as
    :func:`hash_split` (pure projection, zero shuffle, append-stable);
    the split-fraction guarantee holds over GROUPS, not rows, which is
    the property a leakage-safe split must trade away."""
    return df.withColumn("split", _split_label(_hash_bucket_hex(group_col, "groupsplit-v1")))


def balanced_downsample(df: DataFrame, label_col: str, id_col: str) -> DataFrame:
    """Class-balanced downsampling: keep exactly min-class-count rows per
    label, chosen by deterministic md5 order (portable across engines and
    partitionings). One tiny count aggregate finds the floor, broadcast
    back; one label-keyed window ranks rows by their hash draw. The
    scale shape is a single label-keyed exchange — the window never sees
    a global sort — and the md5 ranking means re-runs and engine swaps
    pick the identical row set (ties impossible: the tie-break is the
    unique id itself)."""
    from pyspark.sql import Window

    digest = F.md5(
        F.concat_ws(":", F.col(id_col).cast("string"), F.lit("balance-v1"))
    )
    floor = df.groupBy(label_col).agg(F.count(F.lit(1)).alias("_n")).agg(
        F.min("_n").alias("_floor")
    )
    w = Window.partitionBy(label_col).orderBy(digest, F.col(id_col))
    ranked = df.withColumn("_rk", F.row_number().over(w))
    return (
        ranked.crossJoin(F.broadcast(floor))
        .filter(F.col("_rk") <= F.col("_floor"))
        .drop("_rk", "_floor")
    )


def class_balance_weights(
    df: DataFrame,
    label_col: str,
) -> DataFrame:
    """Per-class training weights from label frequencies — the table a
    training pipeline feeds its loss-weighting / sampler config: row
    count per class, inverse-frequency weight normalized so the weighted
    class mass is uniform (``total / (n_classes * n_c)``), and the
    milder sqrt-inverse variant (``sqrt(total / n_c)``).

    One partial-aggregated shuffle on the label; the corpus totals are a
    1-row broadcast back onto the per-class rows. All inputs to the FP
    ops are exact integers and each weight is one correctly-rounded
    IEEE op (divide / sqrt) + one final round, so the numbers are
    bit-identical on any engine. NULL labels form their own class (both
    engines keep NULL GROUP BY keys)."""
    per_class = df.groupBy(label_col).agg(F.count(F.lit(1)).alias("n"))
    totals = per_class.agg(
        F.sum("n").alias("_total"), F.count(F.lit(1)).alias("_k")
    )
    return per_class.crossJoin(F.broadcast(totals)).select(
        label_col,
        "n",
        F.round(
            F.try_divide(
                F.col("_total").cast("double"), F.col("_k") * F.col("n")
            ),
            4,
        ).alias("inv_weight"),
        F.round(
            F.sqrt(F.try_divide(F.col("_total").cast("double"), F.col("n"))), 4
        ).alias("sqrt_inv_weight"),
    )


def token_shard_assignment(docs: DataFrame, budget_tokens: int) -> DataFrame:
    """Per-document shard assignment — the (id, n_tokens, shard_id)
    relation behind :func:`token_budget_shards`, exposed on its own
    (r13) so downstream composites (the streaming shard-progress card)
    can join a document stream to the PLAN without recomputing the
    prefix sum. Same recurrence: ``shard_id = (cum_tokens - n_tokens)
    DIV budget`` over the distributed prefix sum, NULL ids excluded."""
    from datalake_breweries_two_spark.operators.dedup import _tokens_expr
    from datalake_breweries_two_spark.operators.windows import range_prefix_sums

    per_doc = docs.filter(F.col(_DOC_ID).isNotNull()).select(
        F.col(_DOC_ID),
        F.coalesce(F.size(_tokens_expr(_TEXT, "bpe")), F.lit(0))
        .cast("long")
        .alias("n_tokens"),
    )
    cum = range_prefix_sums(per_doc, _DOC_ID, ["n_tokens"])
    return cum.select(
        F.col(_DOC_ID),
        "n_tokens",
        F.expr(f"(cum_n_tokens - n_tokens) div {int(budget_tokens)}").alias(
            "shard_id"
        ),
    )


def token_budget_shards(docs: DataFrame, budget_tokens: int) -> DataFrame:
    """Token-budget shard plan: assign documents (in stable ``doc_id``
    order) to contiguous shards of ~``budget_tokens`` BPE-ish tokens
    each — the packing plan a training pipeline computes before writing
    fixed-token-budget input shards.

    A document opens a new shard when the tokens BEFORE it cross the
    next budget boundary: ``shard_id = (cum_tokens - n_tokens) DIV
    budget`` (exact integer arithmetic). The cumulative count comes from
    :func:`~datalake_breweries_two_spark.operators.windows.range_prefix_sums`
    — the distributed prefix-sum pattern, NOT a single-task global
    window — so the plan is one range exchange + one shard-keyed
    aggregate at any corpus size. Rows with a NULL id are excluded (a
    shard plan needs stable ids; mirrored in the oracle), and the
    ordering is total because ids are unique."""
    sharded = token_shard_assignment(docs, budget_tokens)
    return sharded.groupBy("shard_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("shard_tokens"),
        F.min(_DOC_ID).alias("first_id"),
        F.max(_DOC_ID).alias("last_id"),
    )


def shard_data_card(
    docs: DataFrame,
    budget_tokens: int,
    min_tokens: int = 16,
    max_punct_ratio: float = 0.3,
) -> DataFrame:
    """Per-SHARD "data card": what actually landed in each ~token-budget
    training shard — the report a data lead reads next to the shard plan
    before a run (r11 verdict's own r12 growth candidate, composing
    :func:`token_budget_shards`' assignment with the per-group quality ×
    dedup × mix aggregates of ``operators/text.py:source_data_card``).

    Per shard: volume (docs, BPE tokens, id range), the exact-duplicate
    count WITHIN the shard (md5 text fingerprints — a shard full of
    copies of one document trains on one document), the share failing
    the cheap C4-style quality bar (too few tokens, or punctuation-
    saturated on the 4dp-rounded ratio), the number of distinct sources,
    and the dominant source with its share (a shard that is 100% one
    crawl defeats the interleaving the mix was designed for).

    Scale shape: the shard assignment is the distributed prefix-sum
    pattern (range exchange + per-partition windows + P-row offsets —
    never a single-task global window); every aggregate is shard-keyed
    and partially aggregated; the per-shard relation (corpus_tokens /
    budget rows) is NOT broadcast — at 100 TB it is large, so the
    dominant-source rank rides a shard-partitioned window and the final
    join stays shard-keyed (AQE broadcasts it at small scale on its
    own). The corpus text never shuffles: only (id, source, 16-byte
    fingerprint, token count, flag) leaves the scan projection.

    NULL handling: NULL ids are excluded (the shard plan needs stable
    ids, as in token_budget_shards); a NULL text tokenizes to 0 tokens,
    so — unlike source_data_card, where a NULL text escapes the quality
    bar — it counts as low-quality here (0 < min_tokens, both engines);
    NULL sources form their own mix group and can be the dominant one
    (rank tie-break: count DESC, source ASC NULLS LAST).
    """
    from pyspark.sql import Window

    from .dedup import _tokens_expr
    from .text import c4_low_quality_expr
    from .windows import range_prefix_sums

    t = F.col(_TEXT)
    n_tokens = (
        F.coalesce(F.size(_tokens_expr(_TEXT, "bpe")), F.lit(0))
        .cast("long")
    )
    # the SHARED C4-style bar (operators/text.py — one definition for
    # both data cards); NULL text → n_tokens is a REAL 0 → low-quality
    # (the null_text flag keeps the NULL punct_ratio branch from
    # nulling the whole predicate)
    low_q = c4_low_quality_expr(
        _TEXT,
        n_tokens,
        min_tokens,
        max_punct_ratio,
        null_text_is_low_quality=True,
    )
    per_doc = docs.filter(F.col(_DOC_ID).isNotNull()).select(
        F.col(_DOC_ID),
        F.col("source"),
        n_tokens.alias("n_tokens"),
        F.md5(t).alias("_fp"),
        low_q.alias("_low_q"),
    )
    cum = range_prefix_sums(per_doc, _DOC_ID, ["n_tokens"])
    # EAGER checkpoint: the shard assignment feeds TWO aggregates (the
    # shard battery and the source-mix cells); without it each branch
    # replays the prefix-sum offset subtree — distinct + P-row window +
    # broadcast join — doubling four exchanges (the q_vocab_coverage
    # precedent, r9). ~50 bytes/doc materialized, corpus text excluded.
    sharded = cum.select(
        F.col(_DOC_ID),
        "source",
        "n_tokens",
        "_fp",
        "_low_q",
        F.expr(f"(cum_n_tokens - n_tokens) div {int(budget_tokens)}").alias(
            "shard_id"
        ),
    ).localCheckpoint(eager=True)
    shard_agg = sharded.groupBy("shard_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("shard_tokens"),
        F.min(_DOC_ID).alias("first_id"),
        F.max(_DOC_ID).alias("last_id"),
        F.count("_fp").alias("_n_texts"),
        F.countDistinct("_fp").alias("_n_distinct"),
        F.sum(F.when(F.col("_low_q"), 1).otherwise(0))
        .cast("long")
        .alias("low_quality_docs"),
    )
    cells = sharded.groupBy("shard_id", "source").agg(
        F.count(F.lit(1)).alias("_n")
    )
    w_rank = Window.partitionBy("shard_id").orderBy(
        F.col("_n").desc(), F.col("source").asc_nulls_last()
    )
    w_all = Window.partitionBy("shard_id")
    top_source = (
        cells.select(
            F.col("shard_id").alias("_ts_shard"),
            F.col("source").alias("top_source"),
            F.col("_n").alias("_top_n"),
            F.row_number().over(w_rank).alias("_rn"),
            F.count(F.lit(1)).over(w_all).cast("long").alias("n_sources"),
        )
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    dup = F.col("_n_texts") - F.col("_n_distinct")
    return (
        shard_agg.join(
            top_source, F.col("shard_id") == F.col("_ts_shard"), "left"
        )
        .select(
            "shard_id",
            "n_docs",
            "shard_tokens",
            "first_id",
            "last_id",
            dup.cast("long").alias("exact_dup_docs"),
            # try_divide: an all-NULL-text shard has no dup rate (0/0 →
            # NULL on both engines; plain `/` would throw under ANSI)
            F.round(
                F.try_divide(dup * F.lit(100.0), F.col("_n_texts")), 2
            ).alias("exact_dup_pct"),
            "low_quality_docs",
            # n_docs >= 1 by construction of the group — plain divide
            F.round(
                F.col("low_quality_docs") * F.lit(100.0) / F.col("n_docs"), 2
            ).alias("low_quality_pct"),
            "n_sources",
            "top_source",
            F.round(
                F.col("_top_n") * F.lit(100.0) / F.col("n_docs"), 2
            ).alias("top_source_pct"),
        )
    )
