"""Bloom-filter membership: build a compact bitmap over a key set, probe a
big table against it map-side.

The 100 TB use case: semi-join pruning where the build side is too large to
broadcast as raw keys but its BLOOM FILTER is tiny (m bits regardless of
key count). Build is one partial-aggregated ``bit_or`` shuffle producing
``ceil(m/63)`` packed int64 words; probe broadcasts those words and checks
k bit positions per row without shuffling the probe side at all — the same
shape as Spark's runtime row-level bloom pruning
(``spark.sql.optimizer.runtime.bloomFilter.enabled``), but as an explicit,
engine-portable operator (``bloom_filter_agg`` is not in the public
function registry).

Determinism: positions come from ``sampling.md5_60`` of key ':' seed — a
60-bit integer, bit-identical in any engine with md5. Words pack 63 bits
each: bit 63 is unusable because engines disagree on ``1::BIGINT << 63``
(DuckDB raises an overflow error, Java wraps) — one bit of capacity is
cheap, a signed-overflow divergence is not.

Reference scope: the reference engine (henrique-af/datalake-breweries-two)
has no bloom operator; this extends the lake toolkit the same way the
dedup/similarity tiers do.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from datalake_breweries_two_spark.operators.sampling import md5_60

BITS_PER_WORD = 63  # avoid the sign bit: 1<<63 overflows in DuckDB


def _position(key: Column, seed: int, m_bits: int) -> Column:
    """Deterministic bit position in [0, m_bits): 60-bit md5 prefix mod m.
    Non-negative dividend, so ``%`` agrees across engines."""
    h = md5_60(F.concat_ws(":", key.cast("string"), F.lit(seed)))
    return h % F.lit(m_bits)


def build_bloom(
    keys: DataFrame, key_col: str, n_words: int = 16, k_hashes: int = 4
) -> DataFrame:
    """(word_idx int, word long) packed bloom words over the key set.

    One explode (k rows per key — k is small) then a partial-aggregated
    ``bit_or`` grouped on word_idx: the shuffle carries at most
    ``n_words`` rows per upstream partition, so the build cost is one
    map-side pass over the keys regardless of key count."""
    m_bits = n_words * BITS_PER_WORD
    pos = [
        _position(F.col(key_col), s, m_bits).alias(f"_p{s}")
        for s in range(k_hashes)
    ]
    positions = keys.select(*pos).select(
        F.explode(F.array(*[F.col(f"_p{s}") for s in range(k_hashes)])).alias("pos")
    )
    return (
        positions.select(
            (F.col("pos") / BITS_PER_WORD).cast("int").alias("word_idx"),
            (F.col("pos") % BITS_PER_WORD).cast("int").alias("bit"),
        )
        # shiftleft's python binding takes only literal shift amounts —
        # the variable-shift form needs the SQL expression
        .select("word_idx", F.expr("shiftleft(CAST(1 AS BIGINT), bit)").alias("bitmask"))
        .groupBy("word_idx")
        .agg(F.bit_or("bitmask").alias("word"))
    )


def bloom_member(
    probe: DataFrame,
    probe_col: str,
    bloom: DataFrame,
    n_words: int = 16,
    k_hashes: int = 4,
) -> DataFrame:
    """Probe rows + a ``bloom_member`` boolean — true iff ALL k bits are
    set (no false negatives; false positives at the filter's designed
    rate).

    The bloom words broadcast (≤ n_words rows); the probe side never
    shuffles: k broadcast-hash lookups + bit tests per row, then the
    per-row AND is a conditional aggregation keyed on the probe row's
    own columns — kept as one plan with zero wide exchanges of probe
    data beyond the final regroup on the caller's keys."""
    m_bits = n_words * BITS_PER_WORD
    # the words are probed k times — materialize once (≤ n_words rows)
    # so the build pipeline (key scan + distinct + bit_or agg) runs one
    # job instead of being re-planned under every broadcast join
    bloom = bloom.localCheckpoint(eager=True)
    checks = []
    joined = probe
    for s in range(k_hashes):
        p = _position(F.col(probe_col), s, m_bits)
        joined = joined.withColumn(f"_w{s}", (p / BITS_PER_WORD).cast("int"))
        joined = joined.withColumn(f"_b{s}", (p % BITS_PER_WORD).cast("int"))
        joined = joined.withColumn(
            f"_m{s}", F.expr(f"shiftleft(CAST(1 AS BIGINT), _b{s})")
        )
        b = bloom.select(
            F.col("word_idx").alias(f"_w{s}"), F.col("word").alias(f"_word{s}")
        )
        joined = joined.join(F.broadcast(b), f"_w{s}", "left")
        checks.append(
            (F.coalesce(F.col(f"_word{s}"), F.lit(0)).bitwiseAND(F.col(f"_m{s}")) != 0)
        )
    member = checks[0]
    for c in checks[1:]:
        member = member & c
    drop = [f"_w{s}" for s in range(k_hashes)] + [
        f"_b{s}" for s in range(k_hashes)
    ] + [f"_m{s}" for s in range(k_hashes)] + [
        f"_word{s}" for s in range(k_hashes)
    ]
    return joined.withColumn("bloom_member", member).drop(*drop)
