"""Sequence packing: greedy capacity-chunking of documents into
fixed-token-budget context windows — the step between a cleaned corpus
and a tokenized training shard.

Semantics (deterministic, so an exact SQL oracle exists): within each
group (language here; in production, shard key), documents are taken in
``id`` order and appended to the current pack while the running token
total stays within ``budget``; a document that would overflow starts the
next pack. Documents longer than the budget get a pack of their own —
truncation is the tokenizer's job, not the packer's.

This is inherently sequential WITHIN a group (pack boundaries depend on
the running total) but embarrassingly parallel ACROSS groups — exactly
the `groupBy(...).applyInPandas` contract: Spark shuffles each group to
one executor as an Arrow batch, the greedy loop runs vectorized-adjacent
in pandas, and no driver-side collect happens. At 100 TB the group key
must be chosen so groups fit in executor memory (lang × date-bucket ×
hash-bucket in practice); the per-group loop is O(rows) regardless.

Reference parity: no packing surface in the reference (LLM-pipeline
extension, SURVEY.md §2.2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datalake_breweries_two_spark.operators.text import WS_RE

PACKED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("lang", T.StringType()),
        T.StructField("n_tokens", T.LongType()),
        T.StructField("pack_id", T.LongType()),
        T.StructField("pack_pos", T.LongType()),
    ]
)


def pack_sequences(docs: DataFrame, budget: int = 256) -> DataFrame:
    """(doc_id, lang, n_tokens, pack_id, pack_pos): greedy first-fit
    packing in id order per ``lang``; `pack_id` is unique only within the
    group, `pack_pos` is the document's 0-based slot in its pack.

    Token counts are whitespace tokens computed JVM-side BEFORE the
    Arrow hop, so only (id, group, count) crosses into Python — the
    document text itself never leaves the JVM.
    """
    text = F.trim(F.col("text"))
    counted = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("lang"),
        F.when(text == "", F.lit(0))
        .otherwise(F.size(F.split(text, WS_RE)))
        .cast("long")
        .alias("n_tokens"),
    )

    def _pack(pdf):
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        pack_ids, pack_pos = [], []
        pack, pos, running = 0, 0, 0
        for n in pdf["n_tokens"]:
            if pos > 0 and running + n > budget:
                pack += 1
                pos, running = 0, 0
            pack_ids.append(pack)
            pack_pos.append(pos)
            running += n
            pos += 1
        pdf["pack_id"] = pack_ids
        pdf["pack_pos"] = pack_pos
        return pdf[["doc_id", "lang", "n_tokens", "pack_id", "pack_pos"]]

    return counted.groupBy("lang").applyInPandas(_pack, schema=PACKED_SCHEMA)
