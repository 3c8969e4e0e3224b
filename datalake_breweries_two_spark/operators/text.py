"""Text-analysis operators for LLM training-data pipelines.

Language ID (n-gram heuristic), quality scoring (length/punct/stopword
ratios), token counting (whitespace + BPE-ish regex), and document
fingerprinting. All are narrow JVM-side expressions (regex/split/hash) —
no Python in the hot path — so at 100 TB the cost is the scan itself.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from datalake_breweries_two_spark.operators.sampling import md5_60

# Whitespace written as an explicit class instead of \s: Java regex \s
# includes U+000B (vertical tab) while RE2 (DuckDB oracles) does not —
# 'a\x0bb' tokenizes ['a','b'] vs ['a','\x0b','b']. The explicit class
# pins the Java behavior; every oracle SQL mirrors the same class.
WS_RE = r"[ \t\n\r\f\x0b]+"

_TEXT = "text"
_DOC_ID = "doc_id"
_BM25_K1 = 1.2  # term-frequency saturation
_BM25_B = 0.75  # document-length normalization

# Tiny per-language stopword marker lists for the n-gram/stopword heuristic
# language ID. Deliberately small: the point is the Spark-side scoring
# pattern (score per language = marker hit count, argmax via greatest), not
# linguistic accuracy.
_LANG_MARKERS: dict[str, list[str]] = {
    "en": [" the ", " and ", " of ", " to ", " is "],
    "es": [" el ", " la ", " de ", " que ", " los "],
    "de": [" der ", " die ", " und ", " das ", " ist "],
    "fr": [" le ", " la ", " et ", " les ", " des "],
}


def whitespace_token_count(col: str) -> Column:
    """Token count by whitespace split (empty string → 0 tokens)."""
    trimmed = F.trim(F.col(col))
    return F.when(trimmed == "", F.lit(0)).otherwise(
        F.size(F.split(trimmed, WS_RE))
    )


def bpe_ish_token_count(col: str) -> Column:
    """BPE-ish token estimate: count word pieces + digits + punctuation runs
    via regex extraction — a cheap proxy for tokenizer counts at scale."""
    return F.size(
        F.regexp_extract_all(F.col(col), F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\r\f\x0b]"), F.lit(0))
    )


def quality_filter_funnel(docs: DataFrame) -> DataFrame:
    """Stage-by-stage survivor counts of a sequential quality-filter
    pipeline — the acceptance-funnel report a training-data pipeline
    emits after every corpus refresh. Stages (each implies the previous):

      0 all          every document
      1 nonempty     trim(text) is non-empty
      2 min_tokens   ≥5 BPE-ish tokens
      3 token_len    mean token length ≤ 12 chars (sum_len ≤ 12·n — an
                     INTEGER comparison, no division anywhere)
      4 punct        punctuation tokens ≤ half of all tokens (2·p ≤ n)

    SINGLE PASS: all five counts are conditional sums in ONE aggregate
    over one scan — no per-stage jobs, no shuffle of document text (the
    only exchange carries five partial counters). Every predicate is
    exact integer arithmetic, so the funnel is bit-identical on any
    engine (tokenization shared with the dedup tier's ``_tokens_expr``,
    including its Turkish-İ case-folding normalization)."""
    from datalake_breweries_two_spark.operators.dedup import _tokens_expr

    toks = _tokens_expr(_TEXT, "bpe")
    nt = F.size(toks)
    sum_len = F.aggregate(
        F.transform(toks, lambda x: F.length(x)), F.lit(0), lambda a, x: a + x
    )
    n_punct = F.size(F.filter(toks, lambda x: ~x.rlike("^[a-z0-9]")))
    p1 = F.length(F.trim(F.col(_TEXT))) > 0
    p2 = p1 & (nt >= 5)
    p3 = p2 & (sum_len <= nt * 12)
    p4 = p3 & (n_punct * 2 <= nt)

    def cnt(p) -> Column:
        return F.coalesce(
            F.sum(F.when(p, 1).otherwise(0)), F.lit(0)
        ).cast("long")

    agg = docs.agg(
        F.count(F.lit(1)).alias("c0"),
        cnt(p1).alias("c1"),
        cnt(p2).alias("c2"),
        cnt(p3).alias("c3"),
        cnt(p4).alias("c4"),
    )
    return agg.select(
        F.expr(
            "stack(5, 'all', 0, c0, 'nonempty', 1, c1, 'min_tokens', 2, c2,"
            " 'token_len', 3, c3, 'punct', 4, c4)"
        ).alias("stage", "stage_idx", "n_docs")
    )


def text_quality_features(docs: DataFrame) -> DataFrame:
    """Quality-scoring features per document: length, token count, mean token
    length, punctuation ratio, stopword ratio, uppercase ratio.

    These are the standard cheap filters (C4/Gopher-style) used to drop
    boilerplate and garbage before expensive dedup at 100 TB.
    """
    t = F.col(_TEXT)
    n_chars = F.length(t)
    n_tokens = whitespace_token_count(_TEXT)
    n_punct = F.length(F.regexp_replace(t, r"[^.,;:!?]", ""))
    n_upper = F.length(F.regexp_replace(t, r"[^A-Z]", ""))
    # whitespace-token MEMBERSHIP, not a \b regex: \b's notion of a word
    # boundary around non-ASCII (combining marks, CJK) differs between
    # Java regex and RE2/utf8proc, so the regex count diverges
    # cross-engine on unicode text — and token membership is also the
    # definition consistent with the n_tokens denominator
    n_stop = F.size(
        F.filter(
            F.split(F.lower(t), WS_RE),
            lambda x: x.isin(
                "the", "and", "of", "to", "is", "a", "in", "that", "it", "for"
            ),
        )
    )
    return docs.select(
        "*",
        n_chars.alias("len_chars"),
        n_tokens.alias("n_tokens"),
        F.round(n_chars / F.greatest(n_tokens, F.lit(1)), 4).alias("mean_token_len"),
        F.round(n_punct / F.greatest(n_chars, F.lit(1)), 4).alias("punct_ratio"),
        F.round(n_stop / F.greatest(n_tokens, F.lit(1)), 4).alias("stopword_ratio"),
        F.round(n_upper / F.greatest(n_chars, F.lit(1)), 4).alias("upper_ratio"),
    )


def language_id_heuristic(docs: DataFrame) -> DataFrame:
    """Marker-based language ID: score = stopword-marker hits per language,
    argmax with deterministic tie-break on language code; 'und' when no
    marker hits (a NULL text scores 0 -> 'und', never a NULL score).
    Pure expression tree → codegen, no UDF."""
    padded = F.concat(
        F.lit(" "), F.lower(F.coalesce(F.col(_TEXT), F.lit(""))), F.lit(" ")
    )
    scores = [
        F.struct(
            sum(
                (F.length(padded) - F.length(F.replace(padded, F.lit(m), F.lit(""))))
                / len(m)
                for m in markers
            ).cast("int").alias("score"),
            F.lit(lang).alias("lang"),
        )
        for lang, markers in sorted(_LANG_MARKERS.items())
    ]
    best = F.greatest(*scores) if len(scores) > 1 else scores[0]
    return docs.select(
        "*",
        F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("und")).alias(
            "pred_lang"
        ),
        best["score"].alias("lang_score"),
    )


def fingerprint_md5(docs: DataFrame) -> DataFrame:
    """Content fingerprint: md5 hex of the text + a 16-bucket shard key from
    the fingerprint prefix (layout key for fingerprint-partitioned storage)."""
    fp = F.md5(F.col(_TEXT))
    return docs.select(
        "*",
        fp.alias("fingerprint"),
        F.conv(F.substring(fp, 1, 1), 16, 10).cast("int").alias("fp_bucket"),
    )


def rolling_hash_fingerprint(docs: DataFrame, window: int = 16) -> DataFrame:
    """Winnowing-style robust fingerprint: min :func:`md5_60` hash over
    character shingles of length ``window`` — stable under small edits,
    unlike md5 of the whole text, and recomputable by a DuckDB oracle.
    JVM-side: sequence → transform(substring) → array_min — one narrow
    projection, no shuffle; at 100 TB the cost is the scan plus the hash."""
    t = F.col(_TEXT)
    idx = F.sequence(F.lit(1), F.greatest(F.length(t) - window + 1, F.lit(1)))
    return docs.select(
        "*",
        F.array_min(
            F.transform(idx, lambda i: md5_60(t.substr(i, F.lit(window))))
        ).alias("robust_fingerprint"),
    )


def text_stats_by_lang(docs: DataFrame) -> DataFrame:
    """Corpus stats per language: doc count, avg chars, total whitespace
    tokens. One partial-aggregated shuffle on ``lang``."""
    return (
        docs.groupBy("lang")
        .agg(
            F.count(F.col("doc_id")).alias("n_docs"),
            F.round(F.avg(F.col("n_chars")), 4).alias("avg_chars"),
            F.sum(whitespace_token_count("text")).cast("long").alias("total_tokens"),
        )
    )


def c4_low_quality_expr(
    text_col: str,
    n_tokens: Column,
    min_tokens: int,
    max_punct_ratio: float,
    null_text_is_low_quality: bool = False,
) -> Column:
    """The ONE definition of the cheap C4-style quality bar shared by the
    per-source and per-shard data cards (r12 review: the punct-ratio
    expression and bar composition were duplicated and could drift, and
    both oracles encode them byte-for-byte): too few tokens, or
    punctuation-saturated on the ratio rounded ONCE at 4dp — the rounded
    value is what both engines compare (double-rounding half-rule).

    ``n_tokens`` is caller-supplied because the two cards deliberately
    count differently (whitespace vs BPE-ish tokens), as their oracles
    do. ``null_text_is_low_quality`` encodes the cards' one deliberate
    divergence: a NULL text's NULL ratio nulls the predicate, which the
    per-source card counts as NOT low quality (CASE ... ELSE 0) while
    the per-shard card coalesces to True (0 tokens < min on both
    engines)."""
    t = F.col(text_col)
    punct_ratio = F.round(
        F.length(F.regexp_replace(t, r"[^.,;:!?]", ""))
        / F.greatest(F.length(t), F.lit(1)),
        4,
    )
    low_q = (n_tokens < F.lit(min_tokens)) | (punct_ratio > F.lit(max_punct_ratio))
    return F.coalesce(low_q, F.lit(True)) if null_text_is_low_quality else low_q


def source_data_card(
    docs: DataFrame,
    min_tokens: int = 16,
    max_punct_ratio: float = 0.3,
) -> DataFrame:
    """Per-source "data card" — the one-page quality × dedup × mix summary
    a training team publishes for every ingested source before choosing
    its sampling weight: volume (doc count, whitespace-token total,
    discrete median doc length), the exact-duplicate rate WITHIN the
    source (md5 text fingerprints), the share failing a cheap C4-style
    quality bar (too short, or punctuation-saturated), and the dominant
    language with its share.

    Plan: one scan computes the per-doc features (token count, rounded
    punctuation ratio, fingerprint) and a single partial-aggregated
    shuffle on ``source`` carries every scalar — count, token sum,
    discrete p50 (``percentile_disc`` picks actual elements, integer-
    exact cross-engine), distinct fingerprints, low-quality sum. The
    dominant language is a second (source, lang) partial agg ranked by
    a source-partitioned window over the tiny per-cell relation and
    null-safe broadcast-joined back — at 100 TB the per-source relation
    is thousands of rows, never corpus-sized. NULL sources and NULL
    langs survive as their own groups (both engines keep NULL GROUP BY
    keys); NULL texts contribute to n_docs but are excluded from the
    dup-rate denominator (the md5 fingerprint is NULL iff the text is,
    so ``count(_fp)`` matches SQL COUNT(text)).
    """
    t = F.col(_TEXT)
    n_tokens = whitespace_token_count(_TEXT)
    # NULL text → NULL comparison → otherwise(0): counted as NOT low
    # quality, mirroring SQL's CASE WHEN ... THEN 1 ELSE 0 END
    low_q = c4_low_quality_expr(_TEXT, n_tokens, min_tokens, max_punct_ratio)
    # no raw text survives the projection: the md5 fingerprint is NULL
    # iff the text is NULL, so count(_fp) serves as the non-NULL-text
    # count and the aggregate input stays 16-bytes-per-doc wide
    feats = docs.select(
        "source",
        n_tokens.alias("_n_tokens"),
        F.md5(t).alias("_fp"),
        low_q.alias("_low_q"),
    )
    per_source = feats.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.coalesce(F.sum("_n_tokens"), F.lit(0)).cast("long").alias("total_tokens"),
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY _n_tokens)")
        .cast("long")
        .alias("p50_tokens"),
        F.count("_fp").alias("_n_texts"),
        F.countDistinct("_fp").alias("_n_distinct"),
        F.sum(F.when(F.col("_low_q"), 1).otherwise(0))
        .cast("long")
        .alias("low_quality_docs"),
    )
    lang_cells = docs.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("_n"))
    w = Window.partitionBy("source").orderBy(
        F.col("_n").desc(), F.col("lang").asc_nulls_last()
    )
    top_lang = (
        lang_cells.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            F.col("source").alias("_tl_source"),
            F.col("lang").alias("top_lang"),
            F.col("_n").alias("_top_n"),
        )
    )
    dup = F.col("_n_texts") - F.col("_n_distinct")
    return (
        per_source.join(
            F.broadcast(top_lang),
            per_source["source"].eqNullSafe(F.col("_tl_source")),
            "left",
        )
        .select(
            "source",
            "n_docs",
            "total_tokens",
            "p50_tokens",
            dup.cast("long").alias("exact_dup_docs"),
            # try_divide: an all-NULL-text source has no dup rate (0/0 →
            # NULL on both engines; plain `/` would throw under ANSI)
            F.round(F.try_divide(dup * F.lit(100.0), F.col("_n_texts")), 2).alias(
                "exact_dup_pct"
            ),
            "low_quality_docs",
            # n_docs >= 1 by construction of the group — plain divide
            F.round(F.col("low_quality_docs") * F.lit(100.0) / F.col("n_docs"), 2)
            .alias("low_quality_pct"),
            "top_lang",
            F.round(F.col("_top_n") * F.lit(100.0) / F.col("n_docs"), 2).alias(
                "top_lang_pct"
            ),
        )
    )


def corpus_mix_report(docs: DataFrame) -> DataFrame:
    """Corpus-composition ("data mix") report per (source, lang): doc
    count, BPE-ish token total, avg chars, and each cell's share of the
    corpus — the table a training pipeline publishes before choosing
    sampling weights for a data mixture.

    Plan: ONE partial-aggregated shuffle on the (source, lang) grain; the
    corpus total is the same aggregate re-reduced to one row and
    broadcast back (a 1-row BroadcastNestedLoopJoin, never a global
    window). NULL source/lang groups are preserved (both engines keep
    NULL GROUP BY keys). Share is exact-int division rounded once.
    """
    from datalake_breweries_two_spark.operators.dedup import _tokens_expr

    per_cell = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.coalesce(F.sum(F.size(_tokens_expr("text", "bpe"))), F.lit(0))
        .cast("long")
        .alias("total_tokens"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
    )
    total = per_cell.agg(F.sum("n_docs").alias("_corpus_docs"))
    return per_cell.crossJoin(F.broadcast(total)).select(
        "source",
        "lang",
        "n_docs",
        "total_tokens",
        "avg_chars",
        # try_divide is unreachable-0 safety only (a group implies >=1 doc)
        F.round(
            F.try_divide(F.col("n_docs") * F.lit(100.0), F.col("_corpus_docs")), 2
        ).alias("share_pct"),
    )


def tfidf_top_terms(docs: DataFrame, k: int = 3) -> DataFrame:
    """TF-IDF scoring with top-k terms per document.

    Plan shape: explode(split) → (doc,term) count agg (map-side partial
    combine absorbs the token blowup before any shuffle) → doc-frequency as
    a WINDOW COUNT over the term partition (no self-join: the tf rows are
    already one-per-(doc,term), so `count() over (partition by term)` IS
    the document frequency) → per-doc top-k window. Three shuffles on
    bounded-cardinality keys ((doc,term), term, doc); no Python anywhere in
    the plan. The corpus size N enters as a 1-row broadcast cross join — no
    driver-side collect.

    Scores are rounded to 4dp BEFORE ranking so the (tfidf desc, term asc)
    order — and therefore the selected top-k — is stable across engines
    and partition counts (ln() can differ by 1 ulp between libm
    implementations).
    """
    from pyspark.sql import Window

    from datalake_breweries_two_spark.operators.windows import top_k_per_group

    tokens = docs.select(
        F.col(_DOC_ID),
        F.explode(F.split(F.col(_TEXT), " ")).alias("term"),
    ).filter(F.length("term") > 0)
    tf = tokens.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = F.count(F.lit(1)).over(Window.partitionBy("term"))
    n_docs = docs.select(F.count_distinct(F.col(_DOC_ID)).alias("n_docs"))
    scored = (
        tf.withColumn("df", dfreq)
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 4).alias("tfidf"),
        )
    )
    return top_k_per_group(scored, "doc_id", "tfidf", "term", k)


def word_count_top(docs: DataFrame, k: int = 20) -> DataFrame:
    """Global token frequency top-k — the canonical corpus-vocabulary query.
    explode → partial-count agg → TakeOrderedAndProject: the full token
    stream is combined map-side; only per-partition (token,count) pairs
    shuffle, and only P×k rows reach the driver."""
    from datalake_breweries_two_spark.operators.windows import global_top_k

    tokens = docs.select(
        F.explode(F.split(F.col(_TEXT), " ")).alias("token")
    ).filter(F.length("token") > 0)
    counts = tokens.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
    return global_top_k(counts, "n", "token", k)


def vocab_coverage(
    docs: DataFrame,
    vocab_sizes: tuple = (100, 1000, 10000),
    coverage_pcts: tuple = (90, 95, 99),
) -> DataFrame:
    """Vocabulary-coverage profile of a corpus — the tokenizer-design
    question every training pipeline asks before fixing a vocab: what
    fraction of all token OCCURRENCES do the top-N token types cover,
    and how many types does it take to cover X%?

    One summary row: ``distinct_tokens``, ``total_tokens``,
    ``cov_<size>`` (occurrence share of the ``size`` most frequent
    types, 4dp) per requested vocab size, and ``vocab_p<pct>`` (the
    MINIMUM number of types whose cumulative share reaches pct%) per
    requested target. Frequency ranking breaks ties deterministically
    by (count DESC, token ASC); threshold tests are exact integer
    cross-products (``cum_n * 100 >= total * pct``) so no engine ever
    compares floats. Tokens come from the İ-folded whitespace tokenizer
    (see ``_tokens_expr`` in dedup.py — output token STRINGS must be
    cross-engine identical, same discipline as the portable hashes).

    100 TB shape: the token stream never leaves the executors — explode
    feeds a partially-combined (token, count) aggregate, the cumulative
    ranking runs through ``range_prefix_sums`` (range exchange + P
    parallel partition scans + a P-row offset window — never a
    single-task global window). The ranked vocabulary (|V| rows, not
    corpus rows) is eagerly localCheckpoint'ed — the bloom/pagerank
    discipline — because BOTH the corpus total (its last cumulative
    row) and the milestone aggregate read it: without the checkpoint
    the two branches re-tokenize the whole corpus (measured: 2
    FileScans, no runtime ReusedExchange). The total then crosses as a
    broadcast ONE-ROW frame and the milestones fall out of one
    conditional partial aggregate."""
    from datalake_breweries_two_spark.operators.windows import range_prefix_sums

    tokens = docs.select(
        F.explode(
            F.split(
                F.lower(F.translate(F.trim(F.col(_TEXT)), "İ", "i")), WS_RE
            )
        ).alias("token")
    ).filter(F.length("token") > 0)
    counts = tokens.groupBy("token").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    ranked = range_prefix_sums(
        counts.withColumn("one", F.lit(1).cast("long")),
        [F.col("n").desc(), F.col("token").asc_nulls_last()],
        ["n", "one"],
        n_parts=32,
    ).localCheckpoint(eager=True)
    total = ranked.agg(
        F.max("cum_n").alias("total"),
        F.max("cum_one").alias("n_distinct"),
    )
    aggs = [
        F.max("total").alias("total_tokens"),
        F.max("n_distinct").alias("distinct_tokens"),
    ]
    for size in vocab_sizes:
        aggs.append(
            F.max(F.when(F.col("cum_one") <= size, F.col("cum_n"))).alias(
                f"c{size}"
            )
        )
    for pct in coverage_pcts:
        aggs.append(
            F.min(
                F.when(
                    F.col("cum_n") * 100 >= F.col("total") * pct,
                    F.col("cum_one"),
                )
            ).alias(f"vocab_p{pct}")
        )
    summary = ranked.crossJoin(F.broadcast(total)).agg(*aggs)
    out = [F.col("distinct_tokens"), F.col("total_tokens")]
    for size in vocab_sizes:
        out.append(
            F.round(
                F.try_divide(
                    F.col(f"c{size}").cast("double"),
                    F.col("total_tokens").cast("double"),
                ),
                4,
            ).alias(f"cov_{size}")
        )
    out.extend(F.col(f"vocab_p{pct}") for pct in coverage_pcts)
    return summary.select(*out)


# --------------------------------------------------------------------------
# Corpus-quality filters (Gopher/C4-style)
# --------------------------------------------------------------------------

def repetition_stats(docs: DataFrame) -> DataFrame:
    """Per-document repetition signals used by Gopher-style quality filters:
    distinct-token ratio, most-common-token fraction, and most-common-bigram
    fraction (high values of the latter two flag degenerate/spammy docs).

    Shape: one posexplode → two hash-aggregate cascades (token level, then
    doc level), bigrams formed with a per-doc window ``lead`` (codegen'd, no
    Python). Each agg combines map-side; only (doc, gram, count) pairs
    shuffle, keyed by doc id — at 100 TB this is the same profile as the
    shingler the dedup tier already runs. Ratios rounded to 4dp for
    cross-engine hash stability.
    """
    from pyspark.sql import Window

    tokens = docs.select(
        F.col(_DOC_ID),
        F.posexplode(F.split(F.lower(F.trim(F.col(_TEXT))), WS_RE)).alias(
            "pos", "token"
        ),
    )
    uni = tokens.groupBy(_DOC_ID, "token").agg(F.count(F.lit(1)).alias("c"))
    uni_stats = uni.groupBy(_DOC_ID).agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.max("c").alias("top_c"),
    )
    w = Window.partitionBy(_DOC_ID).orderBy("pos")
    nxt = F.lead("token", 1).over(w)
    bigrams = tokens.select(
        F.col(_DOC_ID), F.concat_ws(" ", F.col("token"), nxt).alias("bigram"), nxt.isNotNull().alias("_full")
    ).filter(F.col("_full"))
    bi = bigrams.groupBy(_DOC_ID, "bigram").agg(F.count(F.lit(1)).alias("c"))
    bi_stats = bi.groupBy(_DOC_ID).agg(
        F.sum("c").alias("n_bigrams"), F.max("c").alias("top_bi_c")
    )
    return (
        uni_stats.join(bi_stats, _DOC_ID, "left")
        .select(
            F.col(_DOC_ID),
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.round(F.col("n_distinct") / F.col("n_tokens"), 4).alias("distinct_ratio"),
            F.round(F.col("top_c") / F.col("n_tokens"), 4).alias("top_token_frac"),
            F.round(F.col("top_bi_c") / F.col("n_bigrams"), 4).alias("top_bigram_frac"),
        )
    )


def boilerplate_fraction(docs: DataFrame, n: int = 3, min_docs: int = 4) -> DataFrame:
    """Per-document fraction of distinct word-``n``-grams that are corpus
    boilerplate (shingles occurring in >= ``min_docs`` distinct documents) —
    the C4-style repeated-template detector.

    Shape: the distinct (id, shingle) relation is computed ONCE and consumed
    twice (document-frequency agg, then the probe side); shingle DF is an
    agg keyed on the shingle, re-joined on the same key, so the exchange is
    reused. No text leaves the JVM; counts shuffle as (string, long) pairs.
    """
    from datalake_breweries_two_spark.operators.dedup import shingle_docs_exploded

    sh = shingle_docs_exploded(docs, text_col=_TEXT, id_col=_DOC_ID, n=n)
    sh = sh.localCheckpoint(eager=True)  # two consumers; avoid rescan + reshingle
    df_counts = sh.groupBy("shingle").agg(
        F.countDistinct(_DOC_ID).alias("n_docs")
    )
    flagged = sh.join(
        df_counts.filter(F.col("n_docs") >= min_docs).select("shingle"),
        "shingle",
        "left_semi",
    )
    n_boiler = flagged.groupBy(_DOC_ID).agg(F.count(F.lit(1)).alias("n_boiler"))
    n_all = sh.groupBy(_DOC_ID).agg(F.count(F.lit(1)).alias("n_shingles"))
    return (
        n_all.join(n_boiler, _DOC_ID, "left")
        .select(
            F.col(_DOC_ID),
            F.col("n_shingles").cast("long").alias("n_shingles"),
            F.coalesce(F.col("n_boiler"), F.lit(0)).cast("long").alias("n_boiler"),
            F.round(
                F.coalesce(F.col("n_boiler"), F.lit(0)) / F.col("n_shingles"), 4
            ).alias("boiler_frac"),
        )
    )


_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"


def pii_redact(docs: DataFrame) -> DataFrame:
    """Scrub emails and IPv4 addresses from text, reporting per-doc
    redaction counts — the pre-training PII pass.

    Pure ``regexp_count`` + ``regexp_replace`` projections: JVM-side,
    embarrassingly parallel, no shuffle at any scale. Patterns are kept to
    the RE2-compatible subset so the same regex runs in Spark (Java regex)
    and the DuckDB oracle (RE2) identically.
    """
    n_emails = F.regexp_count(F.col(_TEXT), F.lit(_EMAIL_RE))
    n_ips = F.regexp_count(F.col(_TEXT), F.lit(_IPV4_RE))
    redacted = F.regexp_replace(
        F.regexp_replace(F.col(_TEXT), _EMAIL_RE, "<EMAIL>"), _IPV4_RE, "<IP>"
    )
    return docs.select(
        F.col(_DOC_ID),
        n_emails.cast("long").alias("n_emails"),
        n_ips.cast("long").alias("n_ips"),
        redacted.alias("redacted"),
    )


def chunk_documents(
    docs: DataFrame,
    chunk_size: int = 64,
    overlap: int = 16,
) -> DataFrame:
    """Split each document into overlapping token-window chunks — the
    context-window preparation step before tokenization/packing (RAG
    passage extraction, long-doc training windows).

    Chunk ``i`` covers whitespace tokens ``[i*stride, i*stride+chunk_size)``
    with ``stride = chunk_size - overlap``; the last chunk may be short, and
    chunk starts are generated while ``start < n_tokens`` (empty documents
    yield no chunks). The whole operator is explode-over-``sequence`` plus
    ``slice`` — narrow JVM expressions, ONE cardinality-changing explode and
    zero shuffles, so at 100 TB the cost is the scan plus the (bounded,
    ~``1/stride``-per-token) output fan-out. No Python in the plan.
    """
    if not 0 <= overlap < chunk_size:
        raise ValueError(
            f"need 0 <= overlap < chunk_size; got chunk_size={chunk_size}, overlap={overlap}"
        )
    stride = chunk_size - overlap
    trimmed = F.trim(F.col(_TEXT))
    toks = F.when(
        F.length(trimmed) == 0, F.array().cast("array<string>")
    ).otherwise(F.split(trimmed, WS_RE))
    with_starts = docs.select(
        F.col(_DOC_ID),
        toks.alias("toks"),
    ).select(
        _DOC_ID,
        "toks",
        F.explode(
            F.sequence(
                F.lit(0),
                F.greatest(F.size("toks") - 1, F.lit(0)),
                F.lit(stride),
            )
        ).alias("start"),
    )
    chunk = F.slice(F.col("toks"), F.col("start") + 1, chunk_size)
    return (
        with_starts.select(
            F.col(_DOC_ID),
            (F.col("start") / stride).cast("long").alias("chunk_id"),
            F.size(chunk).cast("long").alias("n_tokens"),
            F.array_join(chunk, " ").alias("chunk_text"),
        )
        .filter(F.col("n_tokens") > 0)
    )


def bigram_logprob(docs: DataFrame) -> DataFrame:
    """Per-document mean bigram log-probability under the corpus's own
    add-one-smoothed bigram LM — the classic statistical-LM quality
    signal a training pipeline uses to rank/filter documents (gibberish
    and boilerplate score far from the corpus mode).

    score(d) = mean over d's bigrams of ln((c(w1,w2)+1) / (c(w1·)+V)),
    with c(·) corpus bigram/context counts and V the distinct-token
    vocabulary size. Exact integer counts; the only FP is ln + one mean,
    rounded 4dp (libm-ulp discipline, same as zipf_slope).

    Plan shape: BPE-ish tokenize → posexplode + per-doc lead window
    builds the bigram relation ONCE (eager localCheckpoint — three
    consumers: bigram stats, context stats, per-doc scoring — same
    shared-stage discipline as bm25). Stats are hash aggregates keyed on
    (w1,w2) / w1; the per-doc join is keyed the same, so output rows =
    input bigrams (no blowup); hot bigrams ("of the") rely on partial
    aggregation + AQE skew splitting. V and the corpus-wide scalars
    broadcast."""
    from datalake_breweries_two_spark.operators.dedup import _tokens_expr

    tokens = docs.select(
        F.col(_DOC_ID), F.posexplode(_tokens_expr(_TEXT, "bpe")).alias("pos", "w1")
    )
    w = Window.partitionBy(_DOC_ID).orderBy("pos")
    big = (
        tokens.select(
            F.col(_DOC_ID), "w1", F.lead("w1").over(w).alias("w2")
        )
        .filter(F.col("w2").isNotNull())
        .localCheckpoint(eager=True)
    )
    bstat = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cb"))
    cstat = big.groupBy("w1").agg(F.count(F.lit(1)).alias("cc"))
    vocab = tokens.agg(F.countDistinct("w1").alias("v"))
    scored = (
        big.join(bstat, ["w1", "w2"])
        .join(cstat, "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            F.col(_DOC_ID),
            F.log(
                (F.col("cb") + F.lit(1)).cast("double")
                / (F.col("cc") + F.col("v")).cast("double")
            ).alias("lp"),
        )
    )
    return scored.groupBy(_DOC_ID).agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.round(F.avg("lp"), 4).alias("avg_logprob"),
    )


def bm25_scores(docs: DataFrame, query_terms: list[str]) -> DataFrame:
    """BM25 relevance of every document against a fixed query-term set —
    the retrieval-scoring twin of :func:`tfidf_top_terms` (reference has no
    text surface; LLM-pipeline tier, SURVEY.md §2.2).

    Uses the Lucene idf variant ln(1 + (N - df + 0.5)/(df + 0.5)), which is
    always positive. Plan shape: the text is exploded and aggregated to the
    (doc, term) count relation ONCE (map-side partial combine absorbs the
    token blowup before the single wide shuffle); an eager localCheckpoint
    materializes that relation so the doc-length, avgdl, tf, and df sides
    all derive from it WITHOUT re-scanning the corpus text (the same
    shared-stage discipline as dedup.py's signature table — at 100 TB,
    stage it to parquet instead). df and N are |query|-row / 1-row
    broadcasts. The final per-doc sum runs over at most |query_terms| rows
    per doc as exact decimals, so the score is partition-order
    independent; idf and the saturation term are rounded before combining
    so libm 1-ulp differences cannot flip the hash (same discipline as
    tfidf).
    """
    tokens = docs.select(
        F.col(_DOC_ID),
        F.explode(F.split(F.col(_TEXT), " ")).alias("term"),
    ).filter(F.length("term") > 0)
    counts = (
        tokens.groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=True)
    )
    doclen = counts.groupBy("doc_id").agg(F.sum("c").alias("dl"))
    # avgdl: exact integer sum / count, rounded — both engines agree exactly
    avgdl = doclen.agg(
        F.round(
            F.sum("dl").cast("double") / F.count(F.lit(1)), 6
        ).alias("avgdl")
    )
    tf = counts.filter(F.col("term").isin(query_terms)).select(
        "doc_id", "term", F.col("c").alias("tf")
    )
    # N counts ALL documents (even token-less ones) — matches the oracle's
    # count(*); this scan is column-pruned to nothing (count-only)
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = dfreq.crossJoin(F.broadcast(n_docs)).select(
        "term",
        F.round(
            F.log(
                F.lit(1.0)
                + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
            ),
            6,
        ).alias("idf"),
    )
    component = F.round(
        F.col("idf")
        * (F.col("tf") * (_BM25_K1 + 1))
        / (
            F.col("tf")
            + _BM25_K1 * (1 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))
        ),
        6,
    )
    return (
        tf.join(doclen, "doc_id")
        .crossJoin(F.broadcast(avgdl))
        .join(F.broadcast(idf), "term")
        .select(F.col("doc_id"), component.cast("decimal(18,6)").alias("c"))
        .groupBy("doc_id")
        # round the EXACT decimal sum (half-up in both engines), THEN cast:
        # rounding after a double cast diverges when the sum lands on a
        # .xxxx5 boundary (Spark rounds the decimal string, DuckDB the
        # binary double)
        .agg(F.round(F.sum("c"), 4).cast("double").alias("bm25"))
    )


def token_entropy(docs: DataFrame) -> DataFrame:
    """Per-document Shannon entropy (nats) of the token distribution — the
    repetition/diversity quality signal that length ratios miss (a doc
    repeating one token 500 times scores ~0; uniformly diverse text scores
    ln(n_distinct)).

    Identity used: H = ln(n) - (sum_t c_t*ln(c_t)) / n, which needs only
    per-(doc,token) counts — one explode, one (doc,token) agg with map-side
    combine, one doc agg. The c*ln(c) terms are rounded then decimal-summed
    so H is partition-order independent and engine-portable; empty docs
    (no tokens) are dropped (entropy undefined).
    """
    tokens = docs.select(
        F.col(_DOC_ID),
        F.explode(F.split(F.col(_TEXT), " ")).alias("token"),
    ).filter(F.length("token") > 0)
    counts = tokens.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("c"))
    per_doc = counts.groupBy("doc_id").agg(
        F.sum("c").alias("n"),
        F.sum(
            F.round(F.col("c") * F.log(F.col("c")), 6).cast("decimal(18,6)")
        ).alias("sum_clnc"),
    )
    return per_doc.select(
        "doc_id",
        F.col("n").cast("long").alias("n_tokens"),
        # + 0.0 normalizes IEEE negative zero: a single-token doc's H is
        # ln(n) - n*ln(n)/n = 0 up to the 6dp component rounding, and the
        # engines disagree on the SIGN of that rounded zero (-0.0 vs 0.0)
        (
            F.round(
                F.log(F.col("n")) - F.col("sum_clnc").cast("double") / F.col("n"),
                4,
            )
            + F.lit(0.0)
        ).alias("entropy_nats"),
    )


def dup_ngram_fraction(docs: DataFrame) -> DataFrame:
    """Per-document fraction of its distinct BPE-ish token bigrams that
    also occur in at least one OTHER document — the cross-document
    duplicated-ngram signal (ExactSubstr-lite): boilerplate and templated
    documents score near 1, original prose near 0.

    Unlike pairwise dedup this needs NO quadratic join at any scale:
    distinct (doc, bigram) pairs → one bigram-keyed count aggregate
    (document frequency) → one linear join back → per-doc aggregate.
    Hot bigrams ("of the") are partial-aggregated map-side and the skew
    join is AQE-splittable; nothing is ever all-pairs. Documents with
    fewer than 2 tokens have no bigram and are absent from the output
    (mirrored in the oracle).

    The per-doc distinct bigram set is built JVM-side from the token
    ARRAY (slice + zip_with + array_distinct) — a pure projection. The
    original r6 construction (posexplode → doc-keyed lead window →
    distinct aggregate) shuffled every corpus TOKEN twice before the
    first useful aggregate; this one ships only the distinct
    (doc, bigram) pairs into the df aggregate (r10, after two >1.5x
    protocol sessions; 3 → 2 wide exchanges — at sf0.1 the saved token
    shuffle roughly trades against the interpreted-HOF constant, at
    100 TB it is the difference between shuffling every corpus token
    and shuffling none). CONSTRUCTION NOTE: the regexp tokenizer must
    be bound as a higher-order-function lambda VARIABLE so it evaluates
    ONCE per row — referencing the raw expression from element_at
    inside a transform re-runs it per ELEMENT (measured 26 s exec at
    sf0.1), and plain column aliasing doesn't help because projection
    collapse re-inlines it per reference (measured 1.13 s exec vs this
    form's 0.87 s). The single-element-array transform binds it:
    transform(array(toks), t -> zip_with(slice(t,..), slice(t,..),
    concat_ws))[0]."""
    from datalake_breweries_two_spark.operators.dedup import _tokens_expr

    toks = _tokens_expr(_TEXT, "bpe")
    pairs_once = F.transform(
        F.array(toks),
        lambda t: F.when(
            F.size(t) >= 2,
            F.zip_with(
                F.slice(t, 1, F.size(t) - 1),
                F.slice(t, 2, F.size(t) - 1),
                lambda a, b: F.concat_ws(" ", a, b),
            ),
        ).otherwise(F.array().cast("array<string>")),
    )
    # explode drops NULL/empty bigram arrays, so <2-token and NULL-text
    # docs are absent from the output exactly as the oracle mirrors
    big = docs.select(
        F.col(_DOC_ID),
        F.explode(F.array_distinct(F.get(pairs_once, 0))).alias("sh"),
    )
    dfreq = big.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
    return (
        big.join(dfreq, "sh")
        .groupBy(_DOC_ID)
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.round(
                F.sum(F.when(F.col("df") >= 2, 1).otherwise(0)).cast("double")
                / F.count(F.lit(1)),
                4,
            ).alias("dup_frac"),
        )
    )


def pmi_collocations(docs: DataFrame, min_count: int = 5, k: int = 20) -> DataFrame:
    """Top-k bigram collocations by pointwise mutual information:
    ``pmi = ln(N * c(w1,w2) / (c(w1,·) * c(·,w2)))`` over corpus BPE-ish
    token bigrams, restricted to bigrams seen at least ``min_count``
    times (PMI is unstable on rare events). The corpus-analysis query a
    pipeline runs to surface multi-word entities worth protecting from
    tokenizer splits.

    All counts are exact integers from hash aggregates (bigram relation
    built once, marginals are two more aggregates of the bigram stats —
    never a rescan); the single ln is rounded 4dp (libm-ulp discipline)
    and the top-k is a TakeOrderedAndProject with a total-order
    tie-break (pmi desc, w1, w2)."""
    from datalake_breweries_two_spark.operators.dedup import _tokens_expr

    tokens = docs.select(
        F.col(_DOC_ID), F.posexplode(_tokens_expr(_TEXT, "bpe")).alias("pos", "w1")
    )
    w = Window.partitionBy(_DOC_ID).orderBy("pos")
    big = (
        tokens.select(F.col(_DOC_ID), "w1", F.lead("w1").over(w).alias("w2"))
        .filter(F.col("w2").isNotNull())
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("cb"))
        .localCheckpoint(eager=True)
    )
    left = big.groupBy("w1").agg(F.sum("cb").alias("cl"))
    right = big.groupBy("w2").agg(F.sum("cb").alias("cr"))
    n = big.agg(F.sum("cb").alias("nn"))
    return (
        big.filter(F.col("cb") >= min_count)
        .join(left, "w1")
        .join(right, "w2")
        .crossJoin(F.broadcast(n))
        .select(
            "w1",
            "w2",
            F.col("cb").alias("n_pair"),
            F.round(
                F.log(
                    (F.col("nn") * F.col("cb")).cast("double")
                    / (F.col("cl") * F.col("cr")).cast("double")
                ),
                4,
            ).alias("pmi"),
        )
        .orderBy(F.col("pmi").desc(), "w1", "w2")
        .limit(k)
    )
