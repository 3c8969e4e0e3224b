"""Build a synthetic sf1 decade for the dedup/ANN scaling study (r13).

/root/testdata stops at sf0.1, so the sf0.1 → sf1 decade of SCALING.md's
ratio study needs a 10x corpus with the SAME statistical shape — naive
10x replication would give every document 10 exact copies and explode the
dup-cluster structure the near-dup tiers are sized by. Instead, sf1 is
built as TEN DISJOINT TILES of the real sf0.1 tables:

* documents: tile t applies a Caesar rotation by t to the LETTERS AND
  DIGITS of the text (punctuation/whitespace untouched; digits rotate
  mod 10 since r14 — an ADVICE item: letter-only rotation left
  digit-only tokens identical across tiles, so shingles made entirely
  of such tokens were cross-tile dups beyond the designed structure)
  and offsets doc_id by t * 10^9. The rotation preserves character
  classes, token boundaries, token counts, text lengths, punct ratios,
  and the exact / near-dup structure WITHIN the tile bit-for-bit, while
  making every cross-tile shingle distinct unless it consists solely of
  punctuation tokens (the one residual identity class — no rotation can
  move punctuation without changing punct ratios; negligible for the
  word-shingle tiers, which require alphanumeric tokens) — so the sf1
  corpus has 10x the volume and 10x the dup clusters of sf0.1, none of
  them cross-tile.
* embeddings: tile t cyclically shifts the vector components by t and
  offsets doc_id the same way. A cyclic shift preserves norms and every
  within-tile dot product exactly; cross-tile cosines decorrelate.

* facts (r14): events/orders/lineitem/customer tile by offsetting every
  ENTITY key (event/user/order/customer id) per tile — per-entity
  structure preserved within a tile, disjoint across tiles; timestamps,
  measures, and the shared dims (nation/region/supplier/part, still
  symlinked) untouched. 10x facts over fixed dims in a fixed time
  window — day-cell COUNTS constant, cell CONTENTS 10x.

Output: <checkout>/.scaling/sf1/{documents,embeddings,events,orders,
lineitem,customer}.parquet (+ symlinked dims). Deterministic — no RNG.

Usage:  python tools/make_sf1_tiles.py [out_root] [n_tiles] [nofacts|streamfacts]
(r14: 100-tile "sf10" builds use distinct (letter%26, digit%10) rotation
pairs — unique below 130 tiles — and negate embedding tiles 64+ so the
third decade keeps every cross-tile pair non-duplicate.)
"""

from __future__ import annotations

import os
import string
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from datalake_breweries_two_spark import CHECKOUT_DIR  # noqa: E402
from datalake_breweries_two_spark.session import build_session  # noqa: E402

SRC = "/root/testdata/sf0.1"
N_TILES = 10
ID_STRIDE = 10**9


def caesar_maps(t: int) -> tuple[str, str]:
    # letters rotate mod 26, digits mod 10: the (t%26, t%10) pair is
    # unique for t < lcm(26,10) = 130, so up to 130 tiles have pairwise
    # distinct rotations (needed by the r14 sf10 build's 100 tiles;
    # identical to the original maps for the sf1 build's t < 10)
    lower = string.ascii_lowercase
    upper = string.ascii_uppercase
    digits = string.digits
    c = t % 26
    d = t % 10
    return (
        lower + upper + digits,
        lower[c:] + lower[:c] + upper[c:] + upper[:c] + digits[d:] + digits[:d],
    )


def main(
    out_root: str = os.path.join(CHECKOUT_DIR, ".scaling", "sf1"),
    n_tiles: int = N_TILES,
    facts: bool | str = True,
) -> None:
    # facts: True = all four fact tables (the r14 second-decade build);
    # False = docs/embeddings only (the r14 sf10 dedup-tier build);
    # "stream" = docs/embeddings + orders/customer only (the r15 sf10
    # streaming third decade needs the DQ-gate inputs at 100 tiles but
    # not the 60M-row lineitem or events tiles no study reads there)
    spark = build_session(app_name="make_sf1_tiles")
    os.makedirs(out_root, exist_ok=True)
    # SAFETY: a previous build symlinked fact tables to the read-only
    # /root/testdata; writing "through" such a symlink would hit the
    # target. Unlink every symlink before any write.
    for name in os.listdir(out_root):
        p = os.path.join(out_root, name)
        if os.path.islink(p):
            os.unlink(p)

    docs = spark.read.parquet(os.path.join(SRC, "documents.parquet"))
    tiles = []
    for t in range(n_tiles):
        src_chars, dst_chars = caesar_maps(t)
        tiles.append(
            docs.select(
                (F.col("doc_id") + F.lit(t * ID_STRIDE)).alias("doc_id"),
                F.translate(F.col("text"), src_chars, dst_chars).alias("text"),
                "lang",
                "source",
                "n_chars",
            )
        )
    out = tiles[0]
    for tl in tiles[1:]:
        out = out.unionByName(tl)
    out.repartition(32).write.mode("overwrite").parquet(
        os.path.join(out_root, "documents.parquet")
    )

    emb = spark.read.parquet(os.path.join(SRC, "embeddings.parquet"))
    vec = "embedding"
    etiles = []
    for t in range(n_tiles):
        # cyclic shift by t%64 (the vector dim); tiles 64 apart negate
        # every component instead — negation preserves norms and every
        # within-tile dot product while sending cross-tile cosines to the
        # OPPOSITE sign, so 100-tile builds stay pairwise non-near-dup
        sh = t % 64
        shifted = F.concat(
            F.slice(F.col(vec), sh + 1, F.size(F.col(vec)) - sh),
            F.slice(F.col(vec), 1, sh),
        ) if sh else F.col(vec)
        if (t // 64) % 2 == 1:
            shifted = F.transform(shifted, lambda x: -x)
        etiles.append(
            emb.select(
                (F.col("vec_id") + F.lit(t * ID_STRIDE)).alias("vec_id"),
                shifted.alias(vec),
                "label",
            )
        )
    eout = etiles[0]
    for tl in etiles[1:]:
        eout = eout.unionByName(tl)
    eout.repartition(32).write.mode("overwrite").parquet(
        os.path.join(out_root, "embeddings.parquet")
    )
    # r14: fact-table tiles so the behavioral/relational tiers get a real
    # second decade too (events/orders/lineitem/customer were symlinks to
    # sf0.1 before, which made any decade reading over them meaningless).
    # Tiling discipline: tile t offsets every ENTITY key (event/user/
    # order/customer ids) by t * a per-entity stride so per-entity
    # structure (sessions per user, lineitems per order, orders per
    # customer) is preserved bit-for-bit within a tile and disjoint
    # across tiles; timestamps, types, measures, and the SHARED dimension
    # tables (nation/region/supplier/part) stay untouched — 10x facts
    # over fixed dims and a fixed time window is exactly how a real lake
    # grows, and it keeps day-cell COUNTS constant while cell CONTENTS
    # grow 10x (the merge-on-read gold-table stress case).
    USER_STRIDE = 10**7
    if not facts:
        # LLM-tier-only build (the sf10 third decade): skip fact tiling,
        # symlink everything else below
        for name in os.listdir(SRC):
            dst = os.path.join(out_root, name)
            if not os.path.exists(dst):
                os.symlink(os.path.join(SRC, name), dst)
        print("wrote", out_root, f"({n_tiles} tiles, docs/embeddings only)")
        spark.stop()
        return
    if facts != "stream":
        ev = spark.read.parquet(os.path.join(SRC, "events.parquet"))
        vtiles = []
        for t in range(n_tiles):
            vtiles.append(
                ev.select(
                    (F.col("event_id") + F.lit(t * ID_STRIDE)).alias("event_id"),
                    "ts",
                    (F.col("user_id") + F.lit(t * USER_STRIDE)).alias("user_id"),
                    "event_type",
                    "value",
                    "props",
                )
            )
        vout = vtiles[0]
        for tl in vtiles[1:]:
            vout = vout.unionByName(tl)
        vout.repartition(32).write.mode("overwrite").parquet(
            os.path.join(out_root, "events.parquet")
        )

    cust = spark.read.parquet(os.path.join(SRC, "customer.parquet"))
    ctiles = [
        cust.select(
            (F.col("c_custkey") + F.lit(t * ID_STRIDE)).alias("c_custkey"),
            "c_name",
            "c_nationkey",
            "c_acctbal",
            "c_mktsegment",
        )
        for t in range(n_tiles)
    ]
    cout = ctiles[0]
    for tl in ctiles[1:]:
        cout = cout.unionByName(tl)
    cout.repartition(32).write.mode("overwrite").parquet(
        os.path.join(out_root, "customer.parquet")
    )

    orders = spark.read.parquet(os.path.join(SRC, "orders.parquet"))
    otiles = [
        orders.select(
            (F.col("o_orderkey") + F.lit(t * ID_STRIDE)).alias("o_orderkey"),
            (F.col("o_custkey") + F.lit(t * ID_STRIDE)).alias("o_custkey"),
            "o_orderstatus",
            "o_totalprice",
            "o_orderdate",
            "o_orderpriority",
        )
        for t in range(n_tiles)
    ]
    oout = otiles[0]
    for tl in otiles[1:]:
        oout = oout.unionByName(tl)
    oout.repartition(32).write.mode("overwrite").parquet(
        os.path.join(out_root, "orders.parquet")
    )

    if facts != "stream":
        li = spark.read.parquet(os.path.join(SRC, "lineitem.parquet"))
        ltiles = [
            li.select(
                (F.col("l_orderkey") + F.lit(t * ID_STRIDE)).alias("l_orderkey"),
                "l_partkey",
                "l_suppkey",
                "l_linenumber",
                "l_quantity",
                "l_extendedprice",
                "l_discount",
                "l_tax",
                "l_returnflag",
                "l_linestatus",
                "l_shipdate",
            )
            for t in range(n_tiles)
        ]
        lout = ltiles[0]
        for tl in ltiles[1:]:
            lout = lout.unionByName(tl)
        lout.repartition(32).write.mode("overwrite").parquet(
            os.path.join(out_root, "lineitem.parquet")
        )

    # remaining tables (nation/region/supplier/part) are shared dims;
    # symlink them at sf0.1 so _t() resolves whatever a plan touches
    for name in os.listdir(SRC):
        dst = os.path.join(out_root, name)
        if not os.path.exists(dst):
            os.symlink(os.path.join(SRC, name), dst)
    print("wrote", out_root)
    spark.stop()


if __name__ == "__main__":
    # usage: make_sf1_tiles.py [out_root] [n_tiles] [nofacts]
    args = sys.argv[1:]
    kw = {}
    if len(args) >= 2:
        kw["n_tiles"] = int(args[1])
    if len(args) >= 3 and args[2] == "nofacts":
        kw["facts"] = False
    elif len(args) >= 3 and args[2] == "streamfacts":
        kw["facts"] = "stream"
    main(*(args[:1]), **kw)
