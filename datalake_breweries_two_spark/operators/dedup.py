"""Deduplication operators for LLM training-data pipelines.

Four tiers, cheapest-first (the order a 100 TB pipeline applies them):

  1. **Exact** — hash-groupBy on a content fingerprint. One shuffle on the
     md5 key; at 100 TB shuffle rows are (hash, id) pairs only.
  2. **MinHash + LSH banding** — shingle → per-seed min-hash → band →
     groupBy band signature → pair candidates within buckets. All JVM
     higher-order functions; the only shuffle is on band signatures, whose
     cardinality is ~corpus size × bands, and the quadratic pair expansion
     happens only INSIDE buckets (bounded by bucket size, not corpus size).
  3. **SimHash** — 64-bit hyperplane-free sketch from token hashes; near
     dups differ in few bits. Bucket on rotated prefixes for candidate
     generation.
  4. **Exact n-gram Jaccard** — ground-truth pairwise similarity via
     explode + self-join on shingle; quadratic in bucket co-occurrence, used
     as the verification pass over LSH candidates, never the full corpus.

All hashing derives from md5 (:func:`sampling.md5_60`, the first 15 hex
chars as an exact 60-bit integer) — deterministic across runs, executors
and engines (no Python ``hash()``, which is salted per process), so a
DuckDB oracle recomputes every signature, bucket and pair decision.
"""

from __future__ import annotations

import uuid

from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F

from datalake_breweries_two_spark.operators.sampling import md5_60
from datalake_breweries_two_spark.operators.text import WS_RE

_TEXT = "text"
_DOC_ID = "doc_id"
_BAND_OCCUPANCY = 16  # auto_band_rows' expected threshold collisions per doc
_BAND_ROWS_LO = 4  # auto_band_rows' narrowest band
_CC_MAX_ITER = 25  # connected_components' label-propagation rounds

# --------------------------------------------------------------------------
# 1. Exact dedup
# --------------------------------------------------------------------------

def dedup_exact(docs: DataFrame) -> DataFrame:
    """Exact dedup: keep the min-id representative per distinct text.

    GroupBy on md5(text) so the shuffle key is a 32-char hash, not the
    document body — at 100 TB the shuffle moves ~50 bytes/row regardless of
    document size. Returns (fingerprint, keep_id, dup_count).
    """
    return (
        docs.select(F.md5(F.col(_TEXT)).alias("fingerprint"), F.col(_DOC_ID))
        .groupBy("fingerprint")
        .agg(
            F.min(F.col(_DOC_ID)).alias("keep_id"),
            F.count(F.col(_DOC_ID)).alias("dup_count"),
        )
    )


# --------------------------------------------------------------------------
# Intermediate materialization (shared by the LSH / Jaccard tiers)
# --------------------------------------------------------------------------

# Session conf naming a scratch directory (HDFS/S3/local): when set, EVERY
# multi-consumer intermediate in this module is a durable parquet stage
# under it instead of in-memory localCheckpoint blocks.
STAGE_DIR_CONF = "spark.sparkGraft.dedup.stageDir"

_stage_counter = 0


def _stage(df: DataFrame, tag: str) -> DataFrame:
    """Materialize a multi-consumer intermediate relation exactly once.

    Two media, one contract (lineage truncated, accurate post-
    materialization stats for AQE, nothing registered in the session
    CacheManager):

    * ``STAGE_DIR_CONF`` unset: eager ``localCheckpoint`` — zero-copy
      reuse, but the blocks live in EXECUTOR MEMORY, where storage
      contends with execution. Fine at test scale; an sf10 study (500k
      docs) needed a 24 GiB heap because the shingle/signature/candidate
      checkpoints fought the shuffle for the same heap.
    * ``STAGE_DIR_CONF`` set: write/read a parquet stage under it — the
      100 TB medium. Durable, columnar-compressed, read back with file-
      size stats Catalyst trusts, and ZERO heap residency; the shuffle
      gets the whole execution region. The caller owns the directory
      lifecycle (unique per-stage subdirs prevent collisions between
      queries sharing one scratch root; wipe the root when the query's
      consumers are done).
    """
    stage_dir = df.sparkSession.conf.get(STAGE_DIR_CONF, None)
    if not stage_dir:
        return df.localCheckpoint(eager=True)
    global _stage_counter
    _stage_counter += 1
    # counter for readable ordering in the scratch dir, uuid for collision
    # safety across processes/sessions sharing one root
    path = f"{stage_dir.rstrip('/')}/stage_{_stage_counter:06d}_{tag}_{uuid.uuid4().hex[:8]}"
    df.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.parquet(path)


# --------------------------------------------------------------------------
# Shingling (shared by MinHash / Jaccard)
# --------------------------------------------------------------------------

# BPE-ish tokenizer regex (same class split as text.py's
# bpe_ish_token_count): letter runs, digit runs, single punctuation marks.
# Whitespace is an EXPLICIT class, not \s: Java \s includes U+000B
# (vertical tab) but RE2/DuckDB \s does not, so \s silently diverges on
# \x0b-bearing docs. The explicit class (Java's \s set) is mirrored
# verbatim in every BPE-tokenized oracle SQL.
_BPE_TOKEN_RE = r"[a-z]+|[0-9]+|[^a-z0-9 \t\n\r\f\x0b]"


def _tokens_expr(text_col: str, tokenizer: str) -> Column:
    """Token array for a document under the named tokenizer.

    ``whitespace``: lower + trim + split on runs of whitespace (the
    original shingler — an empty/whitespace-only doc yields one ""
    token, preserved for backward compatibility with existing oracles).
    ``bpe``: lower + BPE-ish regex extraction — punctuation splits from
    words, so "don't stop." and "don' t stop ." shingle identically; an
    empty doc yields ZERO tokens (the doc simply has no shingle set).

    Turkish dotted İ (U+0130) is pre-folded to plain "i" BEFORE lower:
    Java's lower produces "i"+U+0307 (two codepoints, which the regex
    then splits into an extra combining-mark token) while DuckDB's
    utf8proc lower produces bare "i" — the one case-folding divergence
    the unicode sweep surfaced (İstanbul tokenized 3-vs-1 ways)."""
    if tokenizer == "whitespace":
        return F.split(F.lower(F.trim(F.col(text_col))), WS_RE)
    if tokenizer == "whitespace_folded":
        # Same split as "whitespace" but with the Turkish dotted İ
        # pre-folded BEFORE lower (identical to the bpe fold below).
        # Required whenever the token/shingle STRINGS feed a portable
        # hash: Java lower('İ') = "i"+U+0307 while DuckDB's utf8proc
        # emits bare "i" — equality/count outputs are insensitive to the
        # divergence (comparisons stay engine-side) but md5-of-string
        # outputs are not. Production whitespace semantics are otherwise
        # unchanged (empty doc still yields one "" token).
        return F.split(
            F.lower(F.translate(F.trim(F.col(text_col)), "İ", "i")), WS_RE
        )
    if tokenizer == "bpe":
        return F.regexp_extract_all(
            F.lower(F.translate(F.col(text_col), "İ", "i")),
            F.lit(_BPE_TOKEN_RE),
            F.lit(0),
        )
    raise ValueError(f"unknown tokenizer: {tokenizer!r}")


def word_shingles(text_col: str, n: int, tokenizer: str = "whitespace") -> Column:
    """Distinct word n-gram shingles as an array<string> — JVM-side:
    tokenize → sequence → transform(slice+join) → array_distinct.

    Tokenization is :func:`_tokens_expr` — the SAME expression the batch
    shingler (:func:`shingle_docs_exploded`) uses, so the stateless
    array form (the only legal shape on a stream, where window-``lead``
    shinglers are illegal) can never drift from the batch form under any
    tokenizer: same İ→i pre-fold under ``whitespace_folded``/``bpe``,
    same whitespace class, same slice-truncation semantics (docs with
    < ``n`` tokens yield one truncated shingle; a zero-token bpe doc
    yields an EMPTY array, matching the exploded form's zero rows).

    The token array is BOUND as a higher-order-function lambda variable
    (transform over a single-element array) so the tokenizer evaluates
    once per row: slicing the raw split expression inside the
    index-transform lambda re-runs the tokenizer per SHINGLE —
    O(tokens · len) per doc, the executor-side re-evaluation hazard
    measured at 26 s vs 0.9 s on the r10 dup_ngram_fraction study (see
    operators/text.py: dup_ngram_fraction)."""
    tokens = _tokens_expr(text_col, tokenizer)

    def _from_t(t: Column) -> Column:
        count = F.greatest(F.size(t) - n + 1, F.lit(1))
        shingles = F.transform(
            F.sequence(F.lit(1), count),
            lambda i: F.array_join(F.slice(t, i, n), " "),
        )
        # only the bpe tokenizer can yield zero tokens (whitespace emits
        # one "" token for an empty doc); an empty token array must give
        # an empty shingle set, not [""], to mirror posexplode's no-rows
        return F.when(F.size(t) == 0, F.array().cast("array<string>")).otherwise(
            shingles
        )

    return F.array_distinct(F.get(F.transform(F.array(tokens), _from_t), 0))


def shingle_docs_exploded(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    tokenizer: str = "whitespace",
) -> DataFrame:
    """DISTINCT (id, shingle) rows — the hot-path shingler.

    posexplode + window ``lead`` instead of array higher-order functions:
    lambda expressions are interpreted in Spark while window lead + concat_ws
    are whole-stage-codegen'd (~5× faster measured at sf0.1). Degenerate
    docs (< n tokens) contribute one truncated shingle, matching
    ``word_shingles``'s slice-truncation semantics.

    ``tokenizer="bpe"`` switches to the BPE-ish regex tokenization
    (:data:`_BPE_TOKEN_RE`) — the tokenizer-aware dedup tier: shingles are
    n-grams of word pieces, so punctuation/spacing variants of the same
    sentence dedup together. Docs with zero tokens (empty text) have no
    shingles under bpe.

    Shuffle profile: one exchange on id (window) + one on (id, shingle)
    (distinct); both carry short strings, and the downstream minhash agg
    reuses the distinct's partitioning.
    """
    kept = _shingled_rows(docs, text_col, id_col, n, tokenizer)
    return kept.select(F.col(id_col), F.col("shingle")).distinct()


def _shingled_rows(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    tokenizer: str = "whitespace",
) -> DataFrame:
    """NON-distinct (id, shingle) rows from the codegen'd window shingler —
    the shared prefix of :func:`shingle_docs_exploded` (which distincts
    them) and :func:`shingle_sets_with_size` (which set-aggregates them
    on the window's own id partitioning, r16). Output partitioning is
    hashpartitioning(id) from the lead window — downstream id-keyed
    aggregates reuse it with no new exchange."""
    tokens = _tokens_expr(text_col, tokenizer)
    ex = docs.select(F.col(id_col), F.posexplode(tokens).alias("pos", "token"))
    w = Window.partitionBy(id_col).orderBy("pos")
    leads = [F.col("token")] + [F.lead("token", i).over(w) for i in range(1, n)]
    shingled = ex.select(
        F.col(id_col),
        F.col("pos"),
        F.concat_ws(" ", *leads).alias("shingle"),
        leads[-1].isNotNull().alias("_full"),
    )
    kept = shingled.filter(F.col("_full") | (F.col("pos") == 0))
    return kept.select(F.col(id_col), F.col("shingle"))


def shingle_sets_with_size(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    tokenizer: str = "whitespace",
) -> DataFrame:
    """DISTINCT (id, set_size, shingle) rows in one aggregate (r16, guide
    §1.2 "per-task work" + §2.4): the old exact-Jaccard prefix was
    shingler window → ``distinct()`` (a partial+final HashAggregate pair
    keyed (id, shingle)) → set-size count window (a second Sort+Window
    pipeline). Catalyst already reused the shingler's
    hashpartitioning(id) for all of it (one Exchange either way —
    ClusteredDistribution on (id, shingle) is satisfied by the id
    partitioning; see plans/r16/q_ngram_jaccard_prefix_before.txt), so
    the win is operator work, not shuffles: ONE ``collect_set`` aggregate
    replaces the distinct-aggregate pair AND the second Sort+Window pass,
    and set_size falls out as ``size()`` (measured −13% on the pair
    pipeline at sf0.1, plan: 2 HashAggregate + Sort + Window →
    1 ObjectHashAggregate + Generate). Per-group memory is one doc's
    shingle set — the same bound ``near_duplicates_verified``'s array
    tier already holds."""
    sets = (
        _shingled_rows(docs, text_col, id_col, n, tokenizer)
        .groupBy(id_col)
        .agg(F.collect_set(F.col("shingle")).alias("_shs"))
    )
    return sets.select(
        F.col(id_col),
        F.size(F.col("_shs")).cast("int").alias("set_size"),
        F.explode(F.col("_shs")).alias("shingle"),
    )


# --------------------------------------------------------------------------
# 2. MinHash + LSH
# --------------------------------------------------------------------------

# Carter-Wegman mixing constants for the minhash family: seed s maps a
# shingle's two independent md5-derived integers (h1 full 60-bit, h2
# folded to 55 bits) to (h1 + s*h2) mod P, P = 2^61-1 (prime). The fold
# keeps h1 + s*h2 < 2^60 + s*2^55 under 2^63-1 for every seed s ≤ 224,
# so the mix never overflows a signed 64-bit long under Spark's ANSI
# mode. Two md5s per shingle instead of num_hashes of them — at 100 TB
# the hash is the dominant per-row cost of signature building, so the
# mixed family is ~num_hashes/2 × cheaper than md5(shingle:seed) per
# seed while staying bit-identical in any engine with md5 + 64-bit
# integer arithmetic.
_MINHASH_P = (1 << 61) - 1
_MINHASH_H2_FOLD = 1 << 55
_MINHASH_MAX_HASHES = 224


def minhash_signatures(
    shingled: DataFrame,
    num_hashes: int = 64,
    id_col: str = "doc_id",
) -> DataFrame:
    """MinHash signature per doc from exploded ``(id, shingle)`` rows: for
    seed s, the min over the doc's shingles of the Carter-Wegman hash
    above. A DuckDB oracle can recompute every signature value; pair it
    with an İ-folded tokenizer ("whitespace_folded" / "bpe") so the
    shingle STRINGS entering md5 are cross-engine identical.

    Formulated as a hash-aggregate with ``num_hashes`` min columns rather
    than per-row higher-order array functions: Spark's lambda functions
    are interpreted, but the agg form is whole-stage-codegen'd (~10×
    faster measured at sf0.1) and partial aggregation means the shuffle
    carries one (id, sig) row per doc per partition, not per shingle.
    """
    agg = shingled.groupBy(id_col).agg(*_minhash_min_exprs(num_hashes))
    return agg.select(F.col(id_col), _minhash_signature_expr(num_hashes))


def _minhash_min_exprs(num_hashes: int) -> list:
    """The per-seed ``min(hash_s(shingle)) AS _h{s}`` aggregate columns,
    shared with :func:`near_duplicates_verified`, which rides them on the
    same ``groupBy(id)`` that builds its shingle-set arrays. Each min
    column is ONE F.expr SQL string, not a Column-algebra chain: per-seed
    py4j round-trips were the dominant DataFrame-construction cost of the
    near-dup tier (~0.4 ms per JVM call × ~15 calls × 64 seeds, measured
    via cProfile). min() is duplicate-insensitive, so the exprs are valid
    over both distinct and raw (id, shingle) rows.

    The seed bound is enforced, not just documented: a too-large
    ``num_hashes`` would otherwise surface as a runtime ANSI
    ARITHMETIC_OVERFLOW only on the unlucky shingle whose h2 is near the
    fold ceiling."""
    if not 1 <= num_hashes <= _MINHASH_MAX_HASHES:
        raise ValueError(
            f"minhash supports 1..{_MINHASH_MAX_HASHES} hashes, got {num_hashes}"
        )
    # the SQL spelling of sampling.md5_60
    h1_sql = "CAST(conv(substring(md5(shingle), 1, 15), 16, 10) AS BIGINT)"
    h2_sql = (
        "(CAST(conv(substring(md5(concat('#', shingle)), 1, 15), 16, 10)"
        f" AS BIGINT) % {_MINHASH_H2_FOLD})"
    )
    return [
        F.expr(f"min(({h1_sql} + {s} * {h2_sql}) % {_MINHASH_P}) AS _h{s}")
        for s in range(num_hashes)
    ]


def _minhash_signature_expr(num_hashes: int) -> Column:
    """``array(_h0, ..., _h{n-1}) AS signature`` over the min columns."""
    sig_list = ", ".join(f"_h{s}" for s in range(num_hashes))
    return F.expr(f"array({sig_list}) AS signature")


def minhash_signatures_portable(shingled: DataFrame, num_hashes: int = 8) -> DataFrame:
    """MinHash signature ROWS (id, seed, minhash) from exploded
    ``(id, shingle)`` rows, one md5 per (shingle, seed).

    This is the EXPOSITORY scheme that q_minhash_signature pins value by
    value: one scalar row per (doc, seed) instead of an array column, so
    a DuckDB oracle recomputes every signature value and the driver
    canonicalizer can sort the output. The corpus-scale near-dup tier
    uses :func:`minhash_signatures` instead, whose Carter-Wegman family
    derives all seeds from two md5s per shingle — ~num_hashes/2 × less
    hash work with the same cross-engine recomputability.

    Same shuffle shape as :func:`minhash_signatures`: explode × seeds,
    then a partial-aggregated min keyed on (id, seed) — the shuffle
    carries docs × num_hashes rows, never per-shingle rows."""
    seeded = shingled.select(
        F.col(_DOC_ID),
        F.col("shingle"),
        F.explode(
            F.array(*[F.lit(s) for s in range(num_hashes)])
        ).alias("seed"),
    )
    h = md5_60(F.concat_ws(":", F.col("shingle"), F.col("seed")))
    return seeded.groupBy(_DOC_ID, "seed").agg(F.min(h).alias("minhash"))


def _observe_dropped_sentinels(
    result: DataFrame,
    sentinels: DataFrame,
    obs: Observation,
    size_col: str,
    count_alias: str,
    sum_alias: str,
) -> DataFrame:
    """Shared top-of-plan CollectMetrics workaround: AQE drops observed
    values from intermediate query stages (an aggregate downstream of the
    observe node starts a new stage and the observed row comes back empty,
    Spark 4.1), so the metrics node goes at the TOP — each over-cap group
    emits one sentinel row (result columns NULL + its size in
    ``size_col``), the union is observed, and sentinels are filtered back
    out. Aggregates are coalesced to 0 so an entirely empty plan (no
    result rows AND nothing dropped) reports zeros, not NULLs — production
    alerting compares these numbers."""
    merged = result.withColumn(size_col, F.lit(None).cast("long")).unionByName(
        sentinels
    )
    observed = merged.observe(
        obs,
        F.coalesce(
            F.sum(F.col(size_col).isNotNull().cast("long")), F.lit(0)
        ).alias(count_alias),
        F.coalesce(
            F.sum(F.coalesce(F.col(size_col), F.lit(0))), F.lit(0)
        ).alias(sum_alias),
    )
    return observed.filter(F.col(size_col).isNull()).drop(size_col)


def auto_band_rows(n_docs: int, threshold: float = 0.5) -> int:
    """Corpus-sized LSH band width (rows per band) — the minhash twin of
    :func:`similarity.auto_signature_planes`.

    A FIXED band width is a scale trap: a pair at similarity j collides
    in a band with probability j^r, so with r constant the candidate
    volume from the sub-threshold similarity tail grows quadratically
    with corpus size while true output grows linearly. Sizing r so that
    ``n · threshold^r ≤ 16`` — i.e.
    ``r = ceil(ln(n/16) / ln(1/threshold))`` — bounds the EXPECTED
    threshold-level collisions per document to ~16 even in the worst
    case where every other document sits exactly at the threshold.
    Clamped to [4, 12]: below 4 the S-curve is too flat to discriminate,
    above 12 signature-build cost (num_hashes = bands·r min columns per
    shingle) dominates while the j≤threshold tail is already suppressed
    ≥ 2^12/2^4 = 256x, and the ``max_bucket`` cap + dropped-bucket
    Observation remain the backstop for adversarial buckets. The upper
    clamp also keeps bands·r within the minhash family's
    224-seed bound for both entry points' default ``bands``.

    The honest trade (inherent to banded LSH, not this sizing): with
    bands fixed, growing r raises the S-curve midpoint (1/b)^(1/r)
    toward 1, so recall AT the threshold boundary decays as the corpus
    grows; exact dups (j=1) always collide, and holding
    boundary-recall constant instead would need bands ∝ (1/t)^r —
    exponential, i.e. no-free-lunch. Production dedup at 100 TB targets
    high-j near-dups, where recall stays high."""
    import math

    if threshold <= 0.0 or threshold >= 1.0:
        return _BAND_ROWS_LO
    if n_docs <= _BAND_OCCUPANCY:
        return _BAND_ROWS_LO
    r = math.ceil(math.log(n_docs / _BAND_OCCUPANCY) / math.log(1.0 / threshold))
    return max(_BAND_ROWS_LO, min(12, r))


def lsh_candidate_pairs(
    signatures: DataFrame,
    bands: int = 16,
    rows_per_band: int = 4,
    id_col: str = "doc_id",
    max_bucket: int = 64,
    dropped_obs: "Observation | None" = None,
) -> DataFrame:
    """Band the signatures and emit candidate pairs sharing any band bucket.

    A band's bucket is its joined signature-slice STRING itself — no
    re-hash, so a DuckDB oracle groups on byte-identical keys (shuffle
    rows are ~rows_per_band × 20 chars, still tiny next to the documents
    they stand for).

    Shuffle profile: explode to (band, bucket, id) — bands× row
    amplification but tiny rows — then groupBy bucket and expand pairs
    within buckets only. A bucket-size cap (``max_bucket``, via count
    filter) bounds the quadratic blowup from degenerate buckets (e.g.
    empty docs) — at 100 TB a single hot bucket would otherwise dominate
    the job.

    Recall accounting: dropped buckets silently erode recall.
    Pass a ``pyspark.sql.Observation`` as ``dropped_obs`` and, after the
    query's action runs, read ``dropped_buckets`` (over-cap bucket count)
    and ``dropped_ids`` (their total member rows) from it — the metrics
    ride the same job (the bucket aggregate's exchange is reused for the
    sentinel branch), so a production run can alert on recall erosion at
    zero extra passes.
    """
    # One F.expr string for the whole banded explode (same py4j-chatter
    # economics as the minhash min columns above)
    structs = ", ".join(
        f"struct({b} AS band, array_join(transform(slice(signature, "
        f"{b * rows_per_band + 1}, {rows_per_band}), x -> CAST(x AS STRING)), "
        f"',') AS bucket)"
        for b in range(bands)
    )
    banded = signatures.select(
        F.col(id_col), F.expr(f"explode(array({structs})) AS bb")
    ).select(F.col(id_col), F.col("bb.band"), F.col("bb.bucket"))

    # Hot-bucket safety: pre-count bucket sizes with a window on the SAME
    # (band, bucket) key and drop over-cap buckets BEFORE collect_set —
    # the cap must bound the memory of the collected array itself, not
    # just the downstream pair explosion (a degenerate bucket with
    # millions of members would otherwise materialize one giant array in
    # one task only to be filtered away). The window rides the exchange
    # the bucket aggregate needs anyway, so this adds no shuffle; each
    # doc lands in exactly one bucket per band, so the row count equals
    # the distinct-member count collect_set would have produced.
    w_bucket = Window.partitionBy("band", "bucket")
    sized = banded.withColumn("_n", F.count(F.lit(1)).over(w_bucket))
    grouped = (
        sized.filter(F.col("_n") <= max_bucket)
        .groupBy("band", "bucket")
        .agg(F.sort_array(F.collect_set(F.col(id_col))).alias("ids"))
    )
    capped = grouped.filter(F.size("ids") > 1)
    pairs = capped.select(
        F.explode(
            F.filter(
                F.flatten(
                    F.transform(
                        F.col("ids"),
                        lambda a: F.transform(
                            F.col("ids"), lambda b: F.struct(a.alias("id_a"), b.alias("id_b"))
                        ),
                    )
                ),
                lambda p: p["id_a"] < p["id_b"],
            )
        ).alias("p")
    ).select("p.id_a", "p.id_b").distinct()
    if dropped_obs is None:
        return pairs
    id_type = pairs.schema["id_a"].dataType
    sentinels = (
        sized.filter(F.col("_n") > max_bucket)
        .select("band", "bucket", "_n")
        .distinct()
        .select(
            F.lit(None).cast(id_type).alias("id_a"),
            F.lit(None).cast(id_type).alias("id_b"),
            F.col("_n").cast("long").alias("_dropped_sz"),
        )
    )
    return _observe_dropped_sentinels(
        pairs, sentinels, dropped_obs, "_dropped_sz", "dropped_buckets", "dropped_ids"
    )


def minhash_near_duplicates(
    docs: DataFrame,
    num_hashes: int | None = None,
    bands: int = 16,
    threshold: float = 0.5,
    tokenizer: str = "whitespace",
) -> DataFrame:
    """End-to-end near-dup pairs: shingle → minhash → LSH candidates →
    verify with estimated Jaccard (signature agreement fraction).

    Returns (id_a, id_b, est_jaccard ≥ threshold). The verify join ships
    signatures (num_hashes × 8 bytes) only for CANDIDATE ids, not the corpus.
    With an İ-folded tokenizer every stage — signature values, band
    buckets, agreement fractions — is recomputable by a DuckDB oracle.

    ``num_hashes=None`` (the default) sizes the band width from the
    corpus — ``bands × auto_band_rows(count, threshold)`` (one
    driver-side ``count()`` job; see :func:`auto_band_rows` for the
    quadratic-candidate rationale and the boundary-recall trade). Small
    corpora (≤ 16·2^4 = 256 docs at t=0.5) resolve to 64 (16 bands × 4
    rows). Declared registry queries pass explicit widths so their
    DuckDB oracles recompute identical signatures.

    Session conf ``STAGE_DIR_CONF`` switches the signature/candidate
    intermediates from in-memory localCheckpoint blocks to durable parquet
    stages — the 100 TB medium; see :func:`_stage`.
    """
    if num_hashes is None:
        num_hashes = bands * auto_band_rows(docs.count(), threshold)
    shingled = shingle_docs_exploded(docs, _TEXT, _DOC_ID, 3, tokenizer)
    # The signature table feeds THREE consumers (banding + both sides of the
    # verify join). _stage materializes it ONCE and truncates lineage
    # WITHOUT registering a CacheManager entry — a leaked .persist() here
    # survives the query and silently substitutes into later queries'
    # plans (order-dependent timings; blocks never freed in a long-lived
    # session). At 100 TB set STAGE_DIR_CONF so the
    # signature/candidate intermediates live in a parquet stage instead of
    # executor heap — same contract, durable, zero heap residency.
    sigs = _stage(
        minhash_signatures(shingled, num_hashes, _DOC_ID),
        "minhash_sigs",
    )
    cands = _stage(
        lsh_candidate_pairs(sigs, bands, num_hashes // bands, _DOC_ID),
        "lsh_cands",
    )
    # same candidate-id pruning as near_duplicates_verified: the
    # signature table is num_hashes×8 bytes per DOC — broadcast-fatal at
    # corpus scale; prune it to candidate ids (bare-long lists) before
    # the verify attach so only candidate signatures ever move
    sa = (
        sigs.join(cands.select(F.col("id_a").alias(_DOC_ID)).distinct(),
                  _DOC_ID, "leftsemi")
        .select(F.col(_DOC_ID).alias("id_a"), F.col("signature").alias("sig_a"))
    )
    sb = (
        sigs.join(cands.select(F.col("id_b").alias(_DOC_ID)).distinct(),
                  _DOC_ID, "leftsemi")
        .select(F.col(_DOC_ID).alias("id_b"), F.col("signature").alias("sig_b"))
    )
    # signature agreement unrolled to num_hashes codegen'd positional
    # comparisons — zip_with/filter lambdas are interpreted per-row, the
    # unrolled sum stays inside whole-stage codegen (~10× measured); one
    # F.expr string so construction is one py4j call, not num_hashes×4
    agree = F.expr(
        " + ".join(
            f"CAST(sig_a[{s}] = sig_b[{s}] AS INT)" for s in range(num_hashes)
        )
    )
    # hint("shuffle_hash") on the signature side: same sf10 rationale as
    # near_duplicates_verified's attach joins — never broadcast, build side
    # candidate-bounded per partition (see the comment there)
    est = (
        cands.join(sa.hint("shuffle_hash"), "id_a")
        .join(sb.hint("shuffle_hash"), "id_b")
        .select("id_a", "id_b", (agree / F.lit(num_hashes)).alias("est_jaccard"))
    )
    return est.filter(F.col("est_jaccard") >= threshold)


# --------------------------------------------------------------------------
# 3. SimHash
# --------------------------------------------------------------------------

# SimHash signature width: one bit plane per bit of the md5-60 token hash
SIMHASH_BITS = 60


def simhash_block_layout(n_bits: int, n_blocks: int) -> tuple[list[int], list[int]]:
    """(offsets, widths) of the disjoint block split of an ``n_bits``
    signature into ``n_blocks`` near-equal pieces — shared by the Spark
    pair generator and the oracle-SQL builder so both engines bucket on
    byte-identical block values."""
    base, extra = divmod(n_bits, n_blocks)
    offsets, widths, off = [], [], 0
    for i in range(n_blocks):
        w = base + (1 if i < extra else 0)
        offsets.append(off)
        widths.append(w)
        off += w
    return offsets, widths


def simhash(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    tokenizer: str = "whitespace",
) -> DataFrame:
    """SimHash per doc: per-token md5-60 hash, sum ±1 per bit position,
    sign → bit, over :data:`SIMHASH_BITS` planes.

    Near-duplicate docs land within small Hamming distance; pair generation
    buckets on disjoint signature blocks (pigeonhole — see
    :func:`simhash_near_duplicates`).

    Every signature bit is recomputable by a DuckDB oracle; pair it with
    ``tokenizer="bpe"`` so the token STRINGS entering md5 are the
    İ-pre-folded cross-engine ones (hash-of-string outputs expose Java
    vs utf8proc ``lower()`` divergence that count outputs hide).
    """
    # explode → codegen'd aggregate (same reasoning as minhash_signatures:
    # interpreted lambda functions lose to whole-stage codegen by ~10×)
    exploded = docs.select(
        F.col(id_col),
        F.explode(_tokens_expr(text_col, tokenizer)).alias("token"),
    )
    h = md5_60(F.col("token"))
    bit_sums = [
        F.sum(F.shiftright(h, bit).bitwiseAND(F.lit(1))).alias(f"_b{bit}")
        for bit in range(SIMHASH_BITS)
    ] + [F.count(F.lit(1)).alias("_n")]
    agg = exploded.groupBy(id_col).agg(*bit_sums)
    sim = sum(
        F.when(F.col(f"_b{bit}") * 2 >= F.col("_n"), F.lit(2 ** bit).cast("long"))
        .otherwise(F.lit(0).cast("long"))
        for bit in range(SIMHASH_BITS)
    )
    return agg.select(F.col(id_col), sim.alias("simhash"))


def simhash_near_duplicates(
    docs: DataFrame,
    max_hamming: int = 3,
    tokenizer: str = "whitespace",
) -> DataFrame:
    """Candidate pairs by disjoint-block bucketing, verified by exact
    Hamming distance via bit_count(xor).

    The 60-bit simhash is split into ``max_hamming + 1`` disjoint blocks, so
    by pigeonhole any pair within ``max_hamming`` differing bits agrees
    EXACTLY on at least one whole block — full recall at the requested
    radius (a fixed 4×16-bit split only guarantees distance ≤ 3). The cost
    trade: larger ``max_hamming`` → narrower blocks → more bucket
    collisions → more candidates to verify; buckets above 256 ids are
    dropped (degenerate-content guard, same policy as
    :func:`lsh_candidate_pairs`). At 100 TB keep the radius small or use
    multi-block probe combinations. Shuffle on (block_idx, block_value);
    quadratic expansion happens only inside capped buckets.
    """
    n_blocks = max_hamming + 1
    offsets, widths = simhash_block_layout(SIMHASH_BITS, n_blocks)
    sh = simhash(docs, _TEXT, _DOC_ID, tokenizer=tokenizer)
    blocks = sh.select(
        F.col(_DOC_ID),
        F.col("simhash"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("blk"),
                        F.shiftright(F.col("simhash"), offsets[i])
                        .bitwiseAND(F.lit((1 << widths[i]) - 1))
                        .alias("val"),
                    )
                    for i in range(n_blocks)
                ]
            )
        ).alias("b"),
    ).select(F.col(_DOC_ID), F.col("simhash"), F.col("b.blk"), F.col("b.val"))
    # Same hot-bucket safety as lsh_candidate_pairs: count block sizes on
    # the (blk, val) window and drop over-cap blocks BEFORE collect_set,
    # so a degenerate block never materializes its full member array.
    w_blk = Window.partitionBy("blk", "val")
    sized = blocks.withColumn("_n", F.count(F.lit(1)).over(w_blk))
    grouped = (
        sized.filter(F.col("_n") <= 256)
        .groupBy("blk", "val")
        .agg(
            F.sort_array(
                F.collect_set(
                    F.struct(F.col(_DOC_ID).alias("id"), F.col("simhash").alias("sh"))
                )
            ).alias("members")
        )
    )
    capped = grouped.filter(F.size("members") > 1)
    pairs = capped.select(
        F.explode(
            F.filter(
                F.flatten(
                    F.transform(
                        F.col("members"),
                        lambda a: F.transform(
                            F.col("members"),
                            lambda b: F.struct(
                                a["id"].alias("id_a"),
                                a["sh"].alias("sh_a"),
                                b["id"].alias("id_b"),
                                b["sh"].alias("sh_b"),
                            ),
                        ),
                    )
                ),
                lambda p: p["id_a"] < p["id_b"],
            )
        ).alias("p")
    ).select("p.id_a", "p.id_b", "p.sh_a", "p.sh_b").distinct()
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        pairs.select("id_a", "id_b", ham.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


# --------------------------------------------------------------------------
# 4. Exact n-gram Jaccard (verification tier)
# --------------------------------------------------------------------------

def ngram_jaccard_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    tokenizer: str = "whitespace",
) -> DataFrame:
    """Exact Jaccard over word n-gram sets: explode shingles → self-join on
    shingle → |∩| per pair → |∪| from per-doc set sizes.

    Quadratic in shingle co-occurrence — the ground-truth verifier for LSH
    candidates. At 100 TB run it ONLY on candidate pairs (join against the
    candidate set before the explode), never corpus-wide; corpus-wide here
    is for the oracle-checkable declared query on the small test table.
    Session conf ``STAGE_DIR_CONF`` puts the exploded shingle table in a
    parquet stage instead of executor heap.
    """
    # _stage: both sides of the self-join re-derive the shingling
    # otherwise; checkpoint/parquet-stage (not persist) so nothing leaks
    # into the session CacheManager across queries. shingle_sets_with_size
    # (r16) produces the distinct rows + set sizes with one collect_set
    # aggregate where the old distinct()+count-window prefix paid a
    # distinct-aggregate pair plus a second Sort+Window pass (see its
    # docstring; −13% measured on this pipeline at sf0.1).
    exploded = _stage(
        shingle_sets_with_size(docs, _TEXT, _DOC_ID, n, tokenizer),
        "jaccard_shingles",
    )
    a = exploded.select(
        F.col(_DOC_ID).alias("id_a"), F.col("set_size").alias("sz_a"), "shingle"
    )
    b = exploded.select(
        F.col(_DOC_ID).alias("id_b"), F.col("set_size").alias("sz_b"), "shingle"
    )
    inter = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "sz_a", "sz_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    jac = inter.select(
        "id_a",
        "id_b",
        F.round(
            F.col("n_inter") / (F.col("sz_a") + F.col("sz_b") - F.col("n_inter")), 4
        ).alias("jaccard"),
    )
    return jac.filter(F.col("jaccard") >= threshold)


def near_duplicates_verified(
    docs: DataFrame,
    shingle_n: int = 3,
    num_hashes: int | None = None,
    bands: int = 8,
    threshold: float = 0.5,
    tokenizer: str = "whitespace",
) -> DataFrame:
    """The full tiered near-dup pipeline as it runs at 100 TB:
    MinHash+LSH proposes candidate pairs (sub-quadratic), then EXACT n-gram
    Jaccard verifies ONLY those candidates — the quadratic tier never sees
    the corpus, just |candidates| pairs.

    Shuffle profile: shingle window + distinct + minhash agg (keyed on id),
    band explode + bucket groupBy (keyed on band signature), then two
    candidate joins keyed on id that ship shingle sets only for candidate
    ids. Returns (id_a, id_b, jaccard ≥ threshold) — exact values, LSH
    recall (pairs LSH never proposes are absent; raise num_hashes/bands for
    higher recall).

    ``num_hashes=None`` (the default) sizes the band width from the
    corpus as ``bands × auto_band_rows(count, threshold)`` — see
    :func:`minhash_near_duplicates`; corpora ≤ 256 docs at t=0.5 resolve
    to 32 (8 bands × 4 rows).

    Session conf ``STAGE_DIR_CONF`` switches the shingle/candidate
    intermediates — the tier's biggest heap residents — from in-memory localCheckpoint blocks to durable parquet stages; the
    sf10 run at the DEFAULT 8 GiB heap (SCALING.md) is the measured proof
    this is the 100 TB medium.
    """
    if num_hashes is None:
        num_hashes = bands * auto_band_rows(docs.count(), threshold)
    # ONE pass over the shingle multiset: the shingle-set arrays AND all
    # num_hashes signature mins ride a single groupBy(id) placed directly
    # on the shingler window's output, reusing its hashpartitioning(id),
    # instead of staging the exploded DISTINCT rows and running two
    # id-keyed aggregates over that stage. min() is duplicate-insensitive
    # and collect_set dedups, so skipping the distinct changes nothing.
    # The staged medium holds ONE doc-grain row (set + num_hashes longs)
    # per doc. Measured −21% on the end-to-end tier at sf0.1 (3.26 →
    # 2.57 s interleaved A/B); plan evidence:
    # plans/r16/q_dedup_near_verified_{arrs,sigs}_before vs
    # _combined_after.txt.
    combined = _stage(
        _shingled_rows(docs, _TEXT, _DOC_ID, shingle_n, tokenizer)
        .groupBy(_DOC_ID)
        .agg(
            F.collect_set(F.col("shingle")).alias("shingles"),
            *_minhash_min_exprs(num_hashes),
        ),
        "verified_doc_sigs",
    )
    # (id, shingle-set array) — the array form lets the verify tier be a
    # per-pair array_intersect instead of a shingle self-join
    arrs = combined.select(F.col(_DOC_ID), F.col("shingles"))
    sigs = combined.select(F.col(_DOC_ID), _minhash_signature_expr(num_hashes))
    # _stage: the candidate set feeds THREE consumers below (two id-list
    # prunes + the verify chain); it is candidate-bounded (small), and the
    # accurate post-materialization stats keep AQE building the verify
    # joins on the candidate side.
    cands = _stage(
        lsh_candidate_pairs(sigs, bands, num_hashes // bands, _DOC_ID),
        "verified_cands",
    )
    # Found in the sf1→sf10 study: without the pruning below,
    # the second verify join's build side is the FULL (id, shingle-set)
    # table — the planner broadcast it on size-underestimates, which fit
    # at 50k docs and OOM'd the driver at 500k (and would at 100 TB).
    # Semi-joining the array table down to CANDIDATE ids first makes the
    # docstring's contract ("ship shingle sets only for candidate ids")
    # physical: the id lists are bare longs (auto-broadcastable far past
    # the point arrays are; AQE falls back to SMJ beyond that), and the
    # attach joins then move candidate-bounded relations at any scale.
    a = (
        arrs.join(cands.select(F.col("id_a").alias(_DOC_ID)).distinct(),
                  _DOC_ID, "leftsemi")
        .select(F.col(_DOC_ID).alias("id_a"), F.col("shingles").alias("sh_a"))
    )
    b = (
        arrs.join(cands.select(F.col("id_b").alias(_DOC_ID)).distinct(),
                  _DOC_ID, "leftsemi")
        .select(F.col(_DOC_ID).alias("id_b"), F.col("shingles").alias("sh_b"))
    )
    # hint("shuffle_hash"): the attach joins must NEVER broadcast the array
    # side — post-semi-join size estimates are unreliable (the sf10 study
    # saw the planner broadcast a pruned-but-still-corpus-scale
    # token-shingle table and OOM the driver). Shuffled-hash forces the
    # candidate-pruned side to be a NON-broadcast build side whose
    # per-partition size is candidate-bounded; the sort-merge variant was
    # measured and rejected (1.24-1.42x at test scale vs shuffle_hash
    # ~1.0x — SCALING.md r14 part 3).
    scored = (
        cands.join(a.hint("shuffle_hash"), "id_a")
        .join(b.hint("shuffle_hash"), "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
                / F.size(F.array_union(F.col("sh_a"), F.col("sh_b"))),
                4,
            ).alias("jaccard"),
        )
    )
    return scored.filter(F.col("jaccard") >= threshold)


def connected_components(
    edges: DataFrame, src: str = "id_a", dst: str = "id_b"
) -> DataFrame:
    """Connected components over an undirected edge list — the near-dup
    pair graph → duplicate clusters (each doc labeled with its cluster's
    min doc id, the canonical representative).

    Pregel-style min-label propagation: every node adopts the minimum
    component label among itself and its neighbors, iterated to fixpoint.
    Each iteration is ONE job: shuffle join + partial/final min-agg +
    eager ``localCheckpoint`` (truncating lineage, otherwise the loop
    builds an exponentially deep plan), with the convergence count riding
    that same job as an ``observe()`` metric — no separate count action
    per iteration. The only driver round-trip is the observed scalar —
    node/edge data never leaves executors, so the operator scales to
    billion-edge graphs exactly like GraphX's equivalent.
    """
    from pyspark.sql import Observation
    # materialize the edge list BEFORE symmetrizing: the union reads it
    # twice, and edges usually carry an expensive lineage (the LSH/Jaccard
    # pair join) that must not run twice
    edges = edges.select(F.col(src).alias("s"), F.col(dst).alias("d")).localCheckpoint(
        eager=True
    )
    sym = edges.union(edges.select(F.col("d").alias("s"), F.col("s").alias("d")))
    nodes = sym.select(F.col("s").alias("id")).distinct().withColumn(
        "comp", F.col("id")
    )
    nodes = nodes.localCheckpoint(eager=True)
    # SELF-EDGES fold the node's own label into the neighbor-min pass
    # (r16, guide §2.4): each iteration is then ONE join + ONE aggregate —
    # min(comp) over neighbors∪self IS least(own, neighbor-min), and the
    # old label (for the convergence count) rides the same aggregate as
    # min(comp) over the self-edge row — where the previous shape needed a
    # second (nodes ⋈ neighbor-min) join per iteration to re-attach own
    # labels. One fewer shuffle join × iterations, at +|V| rows unioned
    # into the 2|E| relation. A NULL-id node behaves as before: its
    # self-edge never equi-matches, so its comp stays the neighbor min
    # and it never enters the change count (NULL comparison).
    sym = sym.union(
        nodes.select(F.col("id").alias("s"), F.col("id").alias("d"))
    ).localCheckpoint(eager=True)
    n_changed = 0
    for _ in range(_CC_MAX_ITER):
        updated = (
            sym.join(nodes, sym["d"] == nodes["id"])
            .groupBy("s")
            .agg(
                F.min("comp").alias("comp"),
                F.min(F.when(F.col("d") == F.col("s"), F.col("comp"))).alias(
                    "_old"
                ),
            )
            .select(
                F.col("s").alias("id"),
                F.col("comp"),
                (F.col("comp") < F.col("_old")).alias("_changed"),
            )
        )
        obs = Observation()
        updated = updated.observe(
            obs, F.sum(F.col("_changed").cast("long")).alias("n_changed")
        ).localCheckpoint(eager=True)
        n_changed = int(obs.get["n_changed"] or 0)
        nodes = updated.drop("_changed")
        if n_changed == 0:
            break
    if n_changed != 0:
        # labels are still propagating — returning now would silently
        # mislabel long-path components
        raise RuntimeError(
            f"connected_components did not converge within {_CC_MAX_ITER} "
            f"iterations ({n_changed} labels still changing; iterations ~ "
            "longest path in a component)"
        )
    return nodes


# --------------------------------------------------------------------------
# Benchmark decontamination
# --------------------------------------------------------------------------

def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
    threshold: float = 0.1,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Flag training documents whose word-``n``-gram overlap with a held-out
    benchmark set exceeds ``threshold`` — the standard eval-contamination
    sweep run before any LLM training job.

    Shape: shingle both sides; the benchmark's DISTINCT shingle set (small —
    benchmarks are KBs-to-MBs even when the corpus is 100 TB) broadcasts to
    every executor, so the corpus-side probe is a map-side semi-join with NO
    shuffle of corpus text. The only exchange is the per-doc overlap count on
    ``id`` — integer pairs, not strings.

    Returns (id, n_overlap, n_shingles, overlap_ratio) for docs at or above
    ``threshold``, ratio rounded to 4dp for cross-engine hash stability.
    """
    # codegen'd exploded shingler (~7x the interpreted array-lambda form at
    # sf0.1), materialized once for its two consumers (per-doc size +
    # probe); corpus-scale, so STAGE_DIR_CONF applies here too
    corpus_sh = _stage(
        shingle_docs_exploded(corpus, text_col=text_col, id_col=id_col, n=n),
        "decontam_shingles",
    )
    n_shingles = corpus_sh.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_shingles")
    )
    bench_sh = (
        shingle_docs_exploded(benchmark, text_col=text_col, id_col=id_col, n=n)
        .select("shingle")
        .distinct()
    )
    hits = (
        corpus_sh.join(F.broadcast(bench_sh), "shingle")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    ratio = F.round(F.col("n_overlap") / F.col("n_shingles"), 4)
    return (
        hits.join(n_shingles, id_col)
        .select(
            F.col(id_col),
            F.col("n_overlap"),
            F.col("n_shingles").cast("long").alias("n_shingles"),
            ratio.alias("overlap_ratio"),
        )
        .filter(F.col("overlap_ratio") >= threshold)
    )


def fuzzy_blocked_pairs(
    df: DataFrame,
    name_col: str,
    id_col: str,
    max_distance: int = 4,
    block_cap: int = 256,
    dropped_obs: "Observation | None" = None,
) -> DataFrame:
    """Entity-resolution candidate pairs: names within ``max_distance``
    Levenshtein edits, found WITHOUT a quadratic corpus self-join.

    Rows are blocked on the last whitespace token of the name (the head
    noun for product-style names); only within-block pairs are
    scored, so the join is a plain equi-join on the block key and the
    pairwise Levenshtein runs on candidate pairs only. Blocks larger than
    ``block_cap`` are dropped (degenerate-key guard, same policy as
    lsh_candidate_pairs); pass an ``Observation`` as ``dropped_obs`` to
    get ``dropped_blocks`` / ``dropped_rows`` counts after the action —
    the recall-erosion alarm for production runs (ADVICE r3). Recall is
    bounded by the blocking choice — matches whose block keys differ are
    missed BY DESIGN; widen with multi-pass blocking (e.g. first token +
    soundex) when the match rules require it. Levenshtein is evaluated
    JVM-side (Catalyst expression, codegen) — no Python.
    """
    block = F.element_at(F.split(F.col(name_col), WS_RE), -1)
    keyed = df.select(F.col(id_col), F.col(name_col), block.alias("_blk"))
    sizes = keyed.groupBy("_blk").agg(F.count(F.lit(1)).alias("_n"))
    bounded = keyed.join(
        F.broadcast(sizes.filter(F.col("_n") <= block_cap).select("_blk")), "_blk"
    )
    a = bounded.select(
        F.col("_blk"),
        F.col(id_col).alias("id_a"),
        F.col(name_col).alias("name_a"),
    )
    b = bounded.select(
        F.col("_blk"),
        F.col(id_col).alias("id_b"),
        F.col(name_col).alias("name_b"),
    )
    result = (
        a.join(b, "_blk")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.levenshtein(F.col("name_a"), F.col("name_b")).alias("edit_dist"),
        )
        .filter(F.col("edit_dist") <= max_distance)
    )
    if dropped_obs is None:
        return result
    id_type = keyed.schema[id_col].dataType
    sentinels = sizes.filter(F.col("_n") > block_cap).select(
        F.lit(None).cast(id_type).alias("id_a"),
        F.lit(None).cast(id_type).alias("id_b"),
        F.lit(None).cast("int").alias("edit_dist"),
        F.col("_n").cast("long").alias("_dropped_n"),
    )
    return _observe_dropped_sentinels(
        result, sentinels, dropped_obs, "_dropped_n", "dropped_blocks", "dropped_rows"
    )


def shared_span_pairs(
    docs: DataFrame,
    span_tokens: int = 8,
    max_span_docs: int = 16,
) -> DataFrame:
    """Document pairs sharing at least one EXACT ``span_tokens``-token
    span, with the count of distinct shared spans — the pairwise form of
    exact-substring dedup ("train/test overlap via a verbatim 8-gram" is
    the classic contamination/boilerplate evidence; per-doc aggregate
    form is :func:`~...text.dup_ngram_fraction`).

    Spans are FULL n-grams only (a doc with fewer than ``span_tokens``
    tokens has no span — unlike the truncated-shingle similarity path,
    a verbatim-span claim needs the whole span). Plan: distinct
    (id, span) via the codegen'd posexplode+lead shingler → hot-span
    cap → span-keyed self-equi-join → pair count.

    This is NOT an all-pairs quadratic: the join is keyed on the span,
    so per-span work is (docs sharing that span)². Long spans are
    near-unique outside true boilerplate; the one blowup mode is a
    boilerplate span shared by thousands of docs, so spans occurring in
    more than ``max_span_docs`` documents are DROPPED deterministically
    (a license header in 10k docs is boilerplate, not pairwise overlap
    evidence — the per-doc aggregate view keeps counting it). The cap
    bounds every join group at max_span_docs² pairs, which is what
    makes this safe on the 100 TB corpus; the count rides the same
    span-keyed exchange the join needs. The shingle pipeline is NOT
    computed twice for the self-join: both sides canonicalize to the
    same span-keyed exchange, so AQE stage reuse feeds the second side
    from the first's shuffle output (ReusedExchange in the final plan —
    pinned by test_shared_span_pairs_reuses_span_exchange).

    Reference parity: no dedup surface in the reference (LLM-pipeline
    extension, SURVEY.md §2.2)."""
    tokens = _tokens_expr(_TEXT, "bpe")
    ex = docs.select(F.col(_DOC_ID), F.posexplode(tokens).alias("pos", "token"))
    w = Window.partitionBy(_DOC_ID).orderBy("pos")
    leads = [F.col("token")] + [
        F.lead("token", i).over(w) for i in range(1, span_tokens)
    ]
    spans = (
        ex.select(
            F.col(_DOC_ID),
            F.concat_ws(" ", *leads).alias("span"),
            leads[-1].isNotNull().alias("_full"),
        )
        .filter(F.col("_full"))
        .select(F.col(_DOC_ID), "span")
        .distinct()
    )
    w_span = Window.partitionBy("span")
    kept = (
        spans.withColumn("_ndocs", F.count(F.lit(1)).over(w_span))
        .filter(F.col("_ndocs") <= max_span_docs)
        .select(F.col(_DOC_ID), "span")
    )
    a = kept.select(F.col(_DOC_ID).alias("id_a"), "span")
    b = kept.select(F.col(_DOC_ID).alias("id_b"), "span")
    return (
        a.join(b, "span")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_spans"))
    )


def contamination_by_group(
    corpus: DataFrame,
    benchmark: DataFrame,
    group_col: str = "source",
    n: int = 3,
    threshold: float = 0.1,
) -> DataFrame:
    """Per-domain contamination-rate report: for each value of
    ``group_col`` (source/domain/crawl), the fraction of its corpus
    documents whose word-``n``-gram overlap with the benchmark set is at
    or above ``threshold``, plus the mean overlap ratio of the flagged
    docs — the "which data sources are poisoning my eval" triage table a
    training team reads before deciding what to drop, run after
    ``decontaminate`` flags individual documents.

    Scale shape: composes ``decontaminate`` (benchmark shingles
    broadcast; corpus text never shuffles) with one doc-level LEFT join
    keyed on ``doc_id`` — the flagged relation is tiny relative to the
    corpus (AQE broadcasts it at runtime), and the join payload is
    (id, group) pairs, never text — then one group-keyed aggregate with
    map-side partials.

    Determinism: contamination_pct is one rounding of exact-operand
    arithmetic (two bigint counts; n_docs ≥ 1 per existing group);
    avg_overlap sums the 4dp ratios decimal-exactly before ONE division
    (partition-order independent) and is NULL for clean groups on both
    engines (NULL sum / 0 does not throw — Spark's null-intolerant
    shortcut — and DuckDB yields NULL). A NULL ``group_col`` is a real
    group on both engines (groupBy keeps NULLs); NULL ``doc_id`` rows
    count as unflagged docs symmetrically (join keys never match).

    Reference parity: no dedup/contamination surface in the reference
    (LLM-pipeline extension, SURVEY.md §2.2)."""
    flagged = decontaminate(
        corpus,
        benchmark,
        n=n,
        threshold=threshold,
        id_col=_DOC_ID,
        text_col=_TEXT,
    ).select(_DOC_ID, "overlap_ratio")
    base = corpus.select(F.col(_DOC_ID), F.col(group_col))
    j = base.join(flagged, _DOC_ID, "left")
    return j.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count("overlap_ratio").cast("long").alias("n_contaminated"),
        F.round(
            F.lit(100.0) * F.count("overlap_ratio") / F.count(F.lit(1)), 4
        ).alias("contamination_pct"),
        (
            F.round(
                F.try_divide(
                    F.sum(
                        F.col("overlap_ratio").cast("decimal(18,4)")
                    ).cast("double"),
                    F.count("overlap_ratio"),
                ),
                4,
            )
            + F.lit(0.0)
        ).alias("avg_overlap"),
    )
