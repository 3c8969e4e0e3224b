"""Full-registry adversarial-lake sweeps: run EVERY oracle-backed query on
a deliberately hostile lake, reporting Spark crashes, DuckDB crashes, and
cross-engine mismatches.

Five profiles (pass as argv[1:]; default runs ALL):

  degenerate — zero-variance / single-element / all-ties groups, all-zero
               segments, one population absent, single-row events, empty /
               one-token documents, zero-vector embeddings.
  nulls      — NULLs in every measure/key/text column: NULL group keys,
               NULL join keys, NULL order/window keys, NULL text, NULL
               embeddings.
  unicode    — hostile TEXT: Turkish dotted-I casefolding, eszett-vs-SS,
               Cyrillic case, CJK, emoji + ZWJ sequences, ligatures, NFD
               combining marks (divergence class: \\b word boundaries
               around non-ASCII differ between Java regex and RE2).
  extremes   — extreme magnitudes at the far interior of the documented
               numeric domain: ~8e8 money / 1e-9 sub-cent values, int64
               DIMENSION keys above 2^53, dates at 1901/2261, events far
               in the future, an 8k-char document and a 5k-char single
               token, ±1e30 embedding components (r6, productized from
               the r5 one-off probe; see build_extremes for the three
               cross-engine DOMAIN BOUNDARIES its wider first run
               mapped).
  skew       — heavy key skew + massive exact ties: one customer owns
               85% of orders, one order carries 200 lineitems, one user
               owns 350/400 events, 40 IDENTICAL documents (pushes every
               shared span past the hot-span cap on both engines), 50
               identical embeddings, 100 tied order totals. Exposes
               incomplete top-k/rank tie-breaks (each engine free to
               pick different rows) and cap-parity drift. First run
               (r6): zero mismatches — tie-break discipline held.

This is the discovery tool behind tests/test_stat_edges.py; run it after
adding queries or changing rounding/division/ordering discipline:

    python tools/degenerate_sweep.py [degenerate|nulls|unicode|extremes|skew]

Expected on a healthy tree: OK = all-but-one per profile, one SPARK CRASH for
q_medallion_e2e (its min-rows/null-column quality gate REJECTING the
hostile bronze is the gate working as designed), zero mismatches.
Divergence classes caught so far: ANSI DIVIDE_BY_ZERO on double division
(DuckDB yields NULL); IEEE negative zero from round(); NULL sort position
(Spark ASC=NULLS FIRST vs DuckDB NULLS LAST); pandas groupby dropping
NULL keys; concat_ws skipping NULLs where || nullifies; merge-upsert
matched-detection via key nullness; map keys may not be NULL; \\b word
boundaries around combining marks (Java regex vs RE2) — stopword counts
now use whitespace-token membership instead.

A temporal-edge probe (unshipped) found that Spark initializes every
stream's WATERMARK at epoch 0, so pre-1970 event times are silently
dropped by all watermarked stateful operators while their batch oracles
keep them — the stream-staging harness now refuses pre-epoch events
loudly (streaming/windows.py), and a 230-year span also showed the
resample oracle's 3700-day grid cap (test scaffolding, documented
there). A NaN/±Infinity probe (also unshipped — no expectation to pin)
put non-finite values into the monetary columns:
BOTH engines raise throughout (Spark ANSI decimal/bigint casts, DuckDB
decimal conversions and moment aggregates alike) — non-finite money is
ill-formed input everywhere, so the engine's answer is the DQ layer's
`non_finite_flag` gate (q_dq_audit `orders_totalprice_finite`), run
BEFORE decimal aggregation, never a try_cast that would launder the
corruption into silent NULLs.
"""
import sys, os, glob, tempfile
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import datetime as dt
import duckdb
import pyarrow as pa, pyarrow.parquet as pq
from tests.test_oracle_parity import _row_multiset  # reuse comparator
from datalake_breweries_two_spark.entry_queries import ORACLE_SQL, QUERIES

_TS = dt.datetime(2024, 1, 1)
ts = pa.timestamp("us")

def w(d, name, schema, rows):
    cols = list(zip(*rows)) if rows else [[] for _ in schema]
    t = pa.Table.from_arrays([pa.array(list(c), type=f.type) for c, f in zip(cols, schema)], schema=schema)
    pq.write_table(t, os.path.join(d, f"{name}.parquet"))


def build_degenerate(d):
    w(d, "region", pa.schema([("r_regionkey", pa.int32()), ("r_name", pa.string())]), [(0,"R0"),(1,"R1")])
    w(d, "nation", pa.schema([("n_nationkey", pa.int32()), ("n_name", pa.string()), ("n_regionkey", pa.int32())]),
      [(0,"N0",0),(1,"N1",0),(2,"N2",1)])
    w(d, "customer", pa.schema([("c_custkey", pa.int64()),("c_name", pa.string()),("c_nationkey", pa.int32()),
      ("c_acctbal", pa.float64()),("c_mktsegment", pa.string())]),
      [(1,"c1",0,5.0,"SV"),(2,"c2",0,5.0,"SV"),(3,"c3",1,1.0,"SINGLE"),(4,"c4",2,0.0,"ZERO"),(5,"c5",2,2.0,"ZERO")])
    w(d, "supplier", pa.schema([("s_suppkey", pa.int64()),("s_name", pa.string()),("s_nationkey", pa.int32()),
      ("s_acctbal", pa.float64())]), [(1,"s1",0,0.0)])   # single supplier, zero balance
    w(d, "part", pa.schema([("p_partkey", pa.int64()),("p_name", pa.string()),("p_brand", pa.string()),
      ("p_type", pa.string()),("p_size", pa.int32()),("p_retailprice", pa.float64())]),
      [(1,"green part","B1","T1",1,0.0)])                # single part, zero price
    w(d, "orders", pa.schema([("o_orderkey", pa.int64()),("o_custkey", pa.int64()),("o_orderstatus", pa.string()),
      ("o_totalprice", pa.float64()),("o_orderdate", ts),("o_orderpriority", pa.string())]),
      [(1,1,"F",100.0,_TS,"1-URGENT"),(2,2,"F",200.0,_TS,"2-HIGH"),(3,3,"F",50.0,_TS,"3-MEDIUM"),
       (4,4,"F",0.0,_TS,"3-MEDIUM"),(5,5,"F",0.0,_TS,"3-MEDIUM"),(6,1,"F",100.0,_TS,"1-URGENT")])
    w(d, "lineitem", pa.schema([("l_orderkey", pa.int64()),("l_partkey", pa.int64()),("l_suppkey", pa.int64()),
      ("l_linenumber", pa.int32()),("l_quantity", pa.float64()),("l_extendedprice", pa.float64()),
      ("l_discount", pa.float64()),("l_tax", pa.float64()),("l_returnflag", pa.string()),
      ("l_linestatus", pa.string()),("l_shipdate", ts)]),
      [(1,1,1,1,7.0,70.0,0.0,0.0,"Z","O",_TS),
       (2,1,1,1,3.0,30.0,0.0,0.0,"C","O",_TS),(2,1,1,2,3.0,30.0,0.0,0.0,"C","O",_TS),
       (2,1,1,3,3.0,30.0,0.0,0.0,"C","O",_TS),
       (3,1,1,1,5.0,55.0,0.0,0.0,"T","O",_TS),(3,1,1,2,5.0,55.0,0.0,0.0,"T","O",_TS),
       (3,1,1,3,5.0,55.0,0.0,0.0,"T","O",_TS),(3,1,1,4,5.0,55.0,0.0,0.0,"T","O",_TS)])
    w(d, "events", pa.schema([("event_id", pa.int64()),("ts", ts),("user_id", pa.int64()),
      ("event_type", pa.string()),("value", pa.float64()),("props", pa.string())]),
      [(1,_TS,1,"click",1.0,"{}")])
    w(d, "documents", pa.schema([("doc_id", pa.int64()),("text", pa.string()),("lang", pa.string()),
      ("source", pa.string()),("n_chars", pa.int64())]),
      [(1,"aaa aaa aaa","en","web",11),
       (2,"","en","web",0),                    # empty text
       (3,"   ","xx","pdf",3)])               # whitespace-only
    w(d, "embeddings", pa.schema([("vec_id", pa.int64()),("embedding", pa.list_(pa.float32())),("label", pa.int32())]),
      [(1,[1.0]+[0.0]*63,0),(2,[0.0]*64,1),(3,[0.5]*64,0)])   # includes a zero vector

def build_nulls(d):
    w(d, "region", pa.schema([("r_regionkey", pa.int32()), ("r_name", pa.string())]),
      [(0, "R0"), (1, None)])
    w(d, "nation", pa.schema([("n_nationkey", pa.int32()), ("n_name", pa.string()), ("n_regionkey", pa.int32())]),
      [(0, "N0", 0), (1, None, 0), (2, "N2", 1)])
    w(d, "customer", pa.schema([("c_custkey", pa.int64()), ("c_name", pa.string()), ("c_nationkey", pa.int32()),
      ("c_acctbal", pa.float64()), ("c_mktsegment", pa.string())]),
      [(1, "c1", 0, 5.0, "A"), (2, None, 0, None, "A"), (3, "c3", 1, 1.0, None),
       (4, "c4", 2, None, None), (5, "c5", None, 2.0, "B")])
    w(d, "supplier", pa.schema([("s_suppkey", pa.int64()), ("s_name", pa.string()), ("s_nationkey", pa.int32()),
      ("s_acctbal", pa.float64())]), [(1, "s1", 0, None), (2, None, 1, 3.0)])
    w(d, "part", pa.schema([("p_partkey", pa.int64()), ("p_name", pa.string()), ("p_brand", pa.string()),
      ("p_type", pa.string()), ("p_size", pa.int32()), ("p_retailprice", pa.float64())]),
      [(1, "alpha part", "B1", "T1", 1, 10.0), (2, None, None, "T2", None, None)])
    w(d, "orders", pa.schema([("o_orderkey", pa.int64()), ("o_custkey", pa.int64()), ("o_orderstatus", pa.string()),
      ("o_totalprice", pa.float64()), ("o_orderdate", ts), ("o_orderpriority", pa.string())]),
      [(1, 1, "F", 100.0, _TS, "1-URGENT"),
       (2, 2, "O", None, _TS, "2-HIGH"),         # NULL price
       (3, 3, "F", 50.0, None, "3-MEDIUM"),      # NULL date
       (4, 4, "O", 70.0, _TS, None),             # NULL priority
       (5, 5, None, 20.0, _TS, "5-LOW"),         # NULL status
       (6, None, "F", 10.0, _TS, "5-LOW")])      # NULL custkey
    w(d, "lineitem", pa.schema([("l_orderkey", pa.int64()), ("l_partkey", pa.int64()), ("l_suppkey", pa.int64()),
      ("l_linenumber", pa.int32()), ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
      ("l_discount", pa.float64()), ("l_tax", pa.float64()), ("l_returnflag", pa.string()),
      ("l_linestatus", pa.string()), ("l_shipdate", ts)]),
      [(1, 1, 1, 1, 7.0, 70.0, 0.1, 0.0, "A", "O", _TS),
       (1, 2, 1, 2, None, 30.0, 0.0, 0.0, "A", "O", _TS),        # NULL qty
       (2, 1, 2, 1, 3.0, None, 0.05, 0.0, "N", "F", _TS),        # NULL price
       (3, 2, 2, 1, 2.0, 20.0, None, None, None, "F", None),     # NULL flag/discount/date
       (4, 1, 1, 1, 4.0, 40.0, 0.0, 0.0, "B", None, _TS)])
    w(d, "events", pa.schema([("event_id", pa.int64()), ("ts", ts), ("user_id", pa.int64()),
      ("event_type", pa.string()), ("value", pa.float64()), ("props", pa.string())]),
      [(1, _TS, 1, "click", 1.0, "{}"),
       (2, _TS + dt.timedelta(seconds=30), 1, None, None, None),   # NULL type/value/props
       (3, _TS + dt.timedelta(seconds=60), 2, "view", 2.0, '{"k": null}'),
       (4, _TS + dt.timedelta(seconds=90), None, "click", None, "{}"),  # NULL user
       # NULL ts with a REAL user/value: a NULL day/window cell whose
       # contents still count — the r14 coverage hole that let the
       # q_hll_rollup_merge oracle's count(DISTINCT pk) NULL-day skip
       # reach the tree (caught by review, not by this sweep)
       (5, None, 3, "view", 4.0, "{}")])
    w(d, "documents", pa.schema([("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
      ("source", pa.string()), ("n_chars", pa.int64())]),
      [(1, "hello world hello", "en", "web", 17),
       (2, None, "en", "web", None),            # NULL text
       (3, "solo token", None, None, 10)])
    w(d, "embeddings", pa.schema([("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())), ("label", pa.int32())]),
      [(0, None, 1), (1, [1.0] + [0.0]*63, 0), (2, [0.5]*64, None)])   # vec 0 NULL: forces every bounded query-vector draw onto its lowest-non-null fallback; + NULL label


def build_unicode(d):
    # benign relational tables (from the degenerate profile's shapes, made
    # non-degenerate), hostile TEXT: casefolding traps (Turkish dotted I,
    # German eszett-vs-SS, Cyrillic case), CJK, emoji + ZWJ sequences,
    # ligatures, NFD combining marks
    w(d, "region", pa.schema([("r_regionkey", pa.int32()), ("r_name", pa.string())]),
      [(0, "R0"), (1, "R1")])
    w(d, "nation", pa.schema([("n_nationkey", pa.int32()), ("n_name", pa.string()), ("n_regionkey", pa.int32())]),
      [(0, "N0", 0), (1, "N1", 0), (2, "N2", 1)])
    w(d, "customer", pa.schema([("c_custkey", pa.int64()), ("c_name", pa.string()), ("c_nationkey", pa.int32()),
      ("c_acctbal", pa.float64()), ("c_mktsegment", pa.string())]),
      [(1, "M\u00fcller", 0, 1.0, "Stra\u00dfe"), (2, "M\u00dcLLER", 0, 2.0, "STRASSE"),
       (3, "mueller", 1, 3.0, "strasse"), (4, "\u0130pek", 2, 4.0, "\u0131\u015f\u0131k"),
       (5, "ipek", 2, 5.0, "I\u015eIK")])
    w(d, "supplier", pa.schema([("s_suppkey", pa.int64()), ("s_name", pa.string()), ("s_nationkey", pa.int32()),
      ("s_acctbal", pa.float64())]), [(1, "s\u00f8ren", 0, 2.0), (2, "S\u00d8REN", 1, 3.0)])
    w(d, "part", pa.schema([("p_partkey", pa.int64()), ("p_name", pa.string()), ("p_brand", pa.string()),
      ("p_type", pa.string()), ("p_size", pa.int32()), ("p_retailprice", pa.float64())]),
      [(1, "caf\u00e9 grinder", "B1", "T1", 1, 10.0), (2, "na\u00efve widget", "B2", "T2", 2, 20.0)])
    w(d, "orders", pa.schema([("o_orderkey", pa.int64()), ("o_custkey", pa.int64()), ("o_orderstatus", pa.string()),
      ("o_totalprice", pa.float64()), ("o_orderdate", ts), ("o_orderpriority", pa.string())]),
      [(1, 1, "F", 100.0, _TS, "1-URGENT"), (2, 2, "O", 200.0, _TS, "2-HIGH"),
       (3, 3, "F", 50.0, _TS, "3-MEDIUM"), (4, 4, "O", 70.0, _TS, "4-NOT SPECIFIED"),
       (5, 5, "F", 20.0, _TS, "5-LOW"), (6, 1, "O", 10.0, _TS, "1-URGENT")])
    w(d, "lineitem", pa.schema([("l_orderkey", pa.int64()), ("l_partkey", pa.int64()), ("l_suppkey", pa.int64()),
      ("l_linenumber", pa.int32()), ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
      ("l_discount", pa.float64()), ("l_tax", pa.float64()), ("l_returnflag", pa.string()),
      ("l_linestatus", pa.string()), ("l_shipdate", ts)]),
      [(1, 1, 1, 1, 7.0, 70.0, 0.1, 0.0, "A", "O", _TS),
       (2, 1, 1, 1, 3.0, 30.0, 0.0, 0.0, "A", "O", _TS),
       (3, 2, 2, 1, 2.0, 20.0, 0.05, 0.0, "B", "F", _TS),
       (4, 2, 1, 1, 4.0, 40.0, 0.0, 0.0, "B", "F", _TS)])
    w(d, "events", pa.schema([("event_id", pa.int64()), ("ts", ts), ("user_id", pa.int64()),
      ("event_type", pa.string()), ("value", pa.float64()), ("props", pa.string())]),
      [(1, _TS, 1, "click", 1.0, "{}"),
       (2, _TS + dt.timedelta(seconds=30), 1, "k\u00f6p", 2.0, '{"note": "\u00fcber"}'),
       (3, _TS + dt.timedelta(seconds=60), 2, "view", 3.0, "{}")])
    w(d, "documents", pa.schema([("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
      ("source", pa.string()), ("n_chars", pa.int64())]),
      [(1, "\u00dcber die Stra\u00dfe ging ein GROSSES Kind", "de", "web", 38),
       (2, "\u0130stanbul'da I\u015eIK ve \u0131\u015f\u0131k birlikte", "tr", "web", 33),
       (3, "caf\u00e9 na\u00efve r\u00e9sum\u00e9 d\u00e9j\u00e0-vu \u00e9l\u00e8ve", "fr", "web", 31),
       (4, "\u65e5\u672c\u8a9e \u30c6\u30ad\u30b9\u30c8 \u306e \u30c8\u30fc\u30af\u30f3 \u5206\u5272", "ja", "pdf", 17),
       (5, "emoji \U0001f44d\U0001f3fd family \U0001f468\u200d\U0001f469\u200d\U0001f467\u200d\U0001f466 test \u2728", "en", "web", 24),
       (6, "\u0414\u0412\u0410 \u0421\u041b\u041e\u0412\u0410 \u0434\u0432\u0430 \u0441\u043b\u043e\u0432\u0430", "ru", "web", 19),
       (7, "\ufb01nancial \ufb02ow ligatures", "en", "pdf", 22),
       (8, "a\u0301ccent combining a\u0301ccent", "en", "web", 24),
       (9, "the cat and the dog sat in the yard for a while", "en", "web", 47),
       # \x0b / \x0c: Java \s includes U+000B, RE2 does not — the r7
       # explicit whitespace class must tokenize these identically
       (10, "vertical\x0btab and form\x0cfeed don't split", "en", "web", 38)])
    w(d, "embeddings", pa.schema([("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())), ("label", pa.int32())]),
      [(0, [1.0] + [0.0]*63, 0), (1, [0.5]*64, 1), (2, [0.25]*64, 0)])

def build_extremes(d):
    # EXTREME magnitudes at the far INTERIOR of the engine's documented
    # numeric domain (r6, productizing the r5 one-off probe): money to
    # ~8e8 with sub-cent 1e-9 values, int64 DIMENSION keys above 2^53
    # (exact in both engines, lossy in any float64 detour), dates at
    # 1901 and 2261, events far in the FUTURE (narrow span at 2200 —
    # pre-epoch is refused by the stream staging by design, and a
    # multi-century span only probes the resample grid cap), one very
    # long document and one very long single token, embedding components
    # at ±1e30 and 1e-30 (norms ~1e61, far from double overflow).
    #
    # DOMAIN BOUNDARIES this profile's first (wider) run DISCOVERED and
    # that now scope the fixture — each is a real cross-engine edge:
    #   * decimal-exact-sums-surfaced-as-double are correctly rounded
    #     ONLY while the scaled sum fits 2^53 (~9e11 at scale 4): Spark's
    #     BigDecimal→double is correctly rounded, but DuckDB casts
    #     decimal→double via scaled-int FP division and loses the last
    #     bits (1e12+0.0001 → 1000000000000.0001 vs ...0000.0). Beyond
    #     ~1e11-money sums, surface DECIMAL, not DOUBLE.
    #   * DuckDB multiplies DECIMAL(18,4)×DECIMAL(18,4) in physical
    #     int64 and overflows at ~1e12 operands (Spark auto-widens);
    #     price×(1-discount) shapes need ≤~8e8 money or DECIMAL(30,4).
    #   * o_orderkey rides q_minmax_by's documented exact int64 composite
    #     key (price·100·1e8 + key): orderkey < 1e8 and price < 9e8 by
    #     contract, so the >2^53 keys live on DIMENSION ids instead.
    #   * events.props "k" is extracted with an INT contract
    #     (q_json_extract): k stays within int32; BIGINT-ranged JSON
    #     numbers belong to q_variant_extract's BIGINT surface.
    big_id = 9007199254740993            # 2^53 + 1
    far = dt.datetime(2200, 1, 1)
    w(d, "region", pa.schema([("r_regionkey", pa.int32()), ("r_name", pa.string())]),
      [(0, "R0"), (2147483647, "RMAX")])
    w(d, "nation", pa.schema([("n_nationkey", pa.int32()), ("n_name", pa.string()), ("n_regionkey", pa.int32())]),
      [(0, "N0", 0), (1, "N" * 500, 0), (2, "N2", 2147483647)])
    w(d, "customer", pa.schema([("c_custkey", pa.int64()), ("c_name", pa.string()), ("c_nationkey", pa.int32()),
      ("c_acctbal", pa.float64()), ("c_mktsegment", pa.string())]),
      [(1, "c1", 0, 800000000.99, "HUGE"), (big_id, "c2", 0, -800000000.99, "HUGE"),
       (3, "c3", 1, 1e-9, "TINY"), (4, "c4", 2, 0.0001, "TINY"), (5, "c5", 2, 123456.1234, "MID")])
    w(d, "supplier", pa.schema([("s_suppkey", pa.int64()), ("s_name", pa.string()), ("s_nationkey", pa.int32()),
      ("s_acctbal", pa.float64())]), [(1, "s1", 0, 800000000.0), (big_id, "s2", 1, 1e-9)])
    w(d, "part", pa.schema([("p_partkey", pa.int64()), ("p_name", pa.string()), ("p_brand", pa.string()),
      ("p_type", pa.string()), ("p_size", pa.int32()), ("p_retailprice", pa.float64())]),
      [(1, "mega part " * 50, "B" * 100, "T1", 2147483647, 800000000.99),
       (big_id, "nano part", "B2", "T2", 1, 1e-9)])
    w(d, "orders", pa.schema([("o_orderkey", pa.int64()), ("o_custkey", pa.int64()), ("o_orderstatus", pa.string()),
      ("o_totalprice", pa.float64()), ("o_orderdate", ts), ("o_orderpriority", pa.string())]),
      [(1, 1, "F", 800000000.99, dt.datetime(1901, 1, 1), "1-URGENT"),
       (2, big_id, "O", 1e-9, dt.datetime(2261, 12, 31), "2-HIGH"),
       (3, 3, "F", 123456.1234, _TS, "3-MEDIUM"),
       (4, 4, "O", 0.0001, _TS, "3-MEDIUM"),
       (5, 5, "F", 500000000.5, _TS, "5-LOW"),
       (99999999, 1, "F", 1.0, _TS, "5-LOW")])
    w(d, "lineitem", pa.schema([("l_orderkey", pa.int64()), ("l_partkey", pa.int64()), ("l_suppkey", pa.int64()),
      ("l_linenumber", pa.int32()), ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
      ("l_discount", pa.float64()), ("l_tax", pa.float64()), ("l_returnflag", pa.string()),
      ("l_linestatus", pa.string()), ("l_shipdate", ts)]),
      [(1, 1, 1, 1, 1000000.0, 800000000.99, 0.0, 0.0, "A", "O", dt.datetime(1901, 1, 1)),
       (1, big_id, 1, 2, 1e-6, 1e-9, 1.0, 0.08, "A", "O", _TS),   # discount exactly 1
       (2, 1, big_id, 1, 3.0, 123456.1234, 0.5, 0.0, "N", "F", dt.datetime(2261, 12, 31)),
       (3, 1, 1, 1, 2147483647.0, 0.0001, 0.0, 0.0, "B", "F", _TS),
       (99999999, 1, 1, 1, 5.0, 50.0, 0.05, 0.0, "B", "O", _TS)])
    w(d, "events", pa.schema([("event_id", pa.int64()), ("ts", ts), ("user_id", pa.int64()),
      ("event_type", pa.string()), ("value", pa.float64()), ("props", pa.string())]),
      [(1, far, big_id, "click", 800000000.99, '{"k": 2147483647}'),
       (2, far + dt.timedelta(seconds=30), big_id, "purchase", 1e-9, '{"k": 1}'),
       (3, far + dt.timedelta(seconds=60), 2, "click", 8e8, "{}"),
       (4, far + dt.timedelta(microseconds=1), 2, "view", 0.0001, '{"k": -2147483647}')])
    long_doc = ("extreme token stress " * 400).strip()          # ~8.4k chars
    long_token = "x" * 5000                                     # one 5k-char token
    w(d, "documents", pa.schema([("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
      ("source", pa.string()), ("n_chars", pa.int64())]),
      [(1, long_doc, "en", "web", len(long_doc)),
       (2, long_token, "en", "web", 5000),
       (3, "normal short text here", "en", "pdf", 22),
       (big_id, "another normal document body", "en", "web", 28)])
    w(d, "embeddings", pa.schema([("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())), ("label", pa.int32())]),
      [(0, [1e30] * 64, 0), (1, [-1e30] * 64, 1), (2, [1e-30] * 64, 0),
       (3, [1e30] + [0.0] * 63, 1), (big_id, [0.5] * 64, 0)])


def build_skew(d):
    """Heavy-skew lake: one hot key owns most rows in every table, with
    MASSIVE exact ties — the shape that exposes (a) incomplete top-k /
    rank tie-breaks (each engine free to pick different rows), (b)
    hot-bucket/hot-span cap behavior (40 identical documents push every
    shared span past the >16-doc cap on BOTH engines), and (c) salted /
    AQE-skew join paths still producing exact results."""
    w(d, "region", pa.schema([("r_regionkey", pa.int32()), ("r_name", pa.string())]), [(0,"R0"),(1,"R1")])
    w(d, "nation", pa.schema([("n_nationkey", pa.int32()), ("n_name", pa.string()), ("n_regionkey", pa.int32())]),
      [(0,"HOTNATION",0),(1,"N1",0),(2,"N2",1)])
    w(d, "customer", pa.schema([("c_custkey", pa.int64()),("c_name", pa.string()),("c_nationkey", pa.int32()),
      ("c_acctbal", pa.float64()),("c_mktsegment", pa.string())]),
      [(i, f"c{i}", 0 if i <= 25 else (i % 3), 5.0 if i <= 20 else float(i), "HOT" if i <= 25 else "COLD")
       for i in range(1, 31)])
    w(d, "supplier", pa.schema([("s_suppkey", pa.int64()),("s_name", pa.string()),("s_nationkey", pa.int32()),
      ("s_acctbal", pa.float64())]), [(1,"s1",0,10.0),(2,"s2",0,10.0),(3,"s3",1,7.0)])
    w(d, "part", pa.schema([("p_partkey", pa.int64()),("p_name", pa.string()),("p_brand", pa.string()),
      ("p_type", pa.string()),("p_size", pa.int32()),("p_retailprice", pa.float64())]),
      [(1,"hot green part","B1","T1",1,10.0),(2,"part two","B1","T1",2,20.0),
       (3,"part three","B1","T2",3,20.0),(4,"part four","B1","T2",1,30.0),(5,"cold part","B9","T9",9,90.0)])
    day = lambda k: _TS + dt.timedelta(days=k)
    w(d, "orders", pa.schema([("o_orderkey", pa.int64()),("o_custkey", pa.int64()),("o_orderstatus", pa.string()),
      ("o_totalprice", pa.float64()),("o_orderdate", ts),("o_orderpriority", pa.string())]),
      [(k, 1 if k <= 170 else (k % 29) + 1, "F" if k % 10 else "O",
        100.0 if k <= 100 else float(k), day(k % 3), "1-URGENT" if k <= 150 else "5-LOW")
       for k in range(1, 201)])
    w(d, "lineitem", pa.schema([("l_orderkey", pa.int64()),("l_partkey", pa.int64()),("l_suppkey", pa.int64()),
      ("l_linenumber", pa.int32()),("l_quantity", pa.float64()),("l_extendedprice", pa.float64()),
      ("l_discount", pa.float64()),("l_tax", pa.float64()),("l_returnflag", pa.string()),
      ("l_linestatus", pa.string()),("l_shipdate", ts)]),
      # 200 lines on the single hot order 1 (hot l_orderkey AND hot part/supp),
      # then one line each for orders 2..101
      [(1, 1, 1, i, 5.0, 50.0, 0.0 if i % 2 else 0.1, 0.0, "A", "O", day(i % 3))
       for i in range(1, 201)]
      + [(k, (k % 5) + 1, (k % 3) + 1, 1, float(k % 7 + 1), 10.0 * (k % 7 + 1),
          0.0, 0.0, "A" if k % 4 else "R", "F", day(k % 3)) for k in range(2, 102)])
    w(d, "events", pa.schema([("event_id", pa.int64()),("ts", ts),("user_id", pa.int64()),
      ("event_type", pa.string()),("value", pa.float64()),("props", pa.string())]),
      # user 1 owns 350 of 400 events; timestamps collide in pairs (ties);
      # 90% clicks; values massively tied
      [(i, _TS + dt.timedelta(minutes=i // 2), 1 if i <= 350 else (i % 7) + 2,
        "click" if i % 10 else "purchase", 1.0 if i <= 300 else float(i % 9),
        '{"k": 1}' if i % 3 else '{"k": 2}')
       for i in range(1, 401)])
    hot_text = ("the exact same boilerplate document body repeated verbatim "
                "across forty separate rows of this corpus for span skew")
    docs = [(i, hot_text, "en", "web", len(hot_text)) for i in range(1, 41)]
    docs += [(40 + i, f"distinct document number {i} with its own unique words and content here",
              "en" if i <= 15 else "de", "web" if i <= 15 else "pdf", 70) for i in range(1, 21)]
    w(d, "documents", pa.schema([("doc_id", pa.int64()),("text", pa.string()),("lang", pa.string()),
      ("source", pa.string()),("n_chars", pa.int64())]), docs)
    w(d, "embeddings", pa.schema([("vec_id", pa.int64()),("embedding", pa.list_(pa.float32())),("label", pa.int32())]),
      # 50 identical unit vectors (max cosine ties), 20 identical others,
      # label 0 owns 70 of 80
      [(i, [1.0] + [0.0] * 63, 0) for i in range(50)]
      + [(50 + i, [0.0, 1.0] + [0.0] * 62, 0 if i <= 14 else 1) for i in range(20)]
      + [(70 + i, [0.5] * 16 + [float(i)] + [0.25] * 47, 1) for i in range(10)])


def run_profile(profile: str) -> int:
    from pyspark.sql import SparkSession
    from datalake_breweries_two_spark.entry_queries import ORACLE_SQL, QUERIES
    from tests.test_oracle_parity import _row_multiset

    d = tempfile.mkdtemp(prefix=f"{profile}_")
    {"degenerate": build_degenerate, "nulls": build_nulls,
     "unicode": build_unicode, "extremes": build_extremes,
     "skew": build_skew}[profile](d)
    spark = (SparkSession.builder.master("local[8]")
             .config("spark.sql.shuffle.partitions", "8")
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.ui.enabled", "false").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    def duck():
        import duckdb
        con = duckdb.connect()
        for p in glob.glob(d + "/*.parquet"):
            con.execute(
                f"CREATE VIEW {os.path.basename(p)[:-8]} AS "
                f"SELECT * FROM read_parquet('{p}')"
            )
        return con

    spark_crash, duck_crash, mismatch, ok = [], [], [], []
    only = {n for n in os.environ.get("SWEEP_ONLY", "").split(",") if n}
    for name in sorted(only & set(ORACLE_SQL) if only else ORACLE_SQL):
        try:
            sdf = QUERIES[name](spark, d)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as ex:
            spark_crash.append((name, f"{type(ex).__name__}: {str(ex)[:130]}"))
            continue
        con = duck()
        try:
            res = con.execute(ORACLE_SQL[name])
            dcols = [x[0] for x in res.description]
            drows = res.fetchall()
        except Exception as ex:
            duck_crash.append((name, f"{type(ex).__name__}: {str(ex)[:130]}"))
            con.close(); continue
        con.close()
        if sorted(scols) != sorted(dcols) or len(srows) != len(drows) or \
           _row_multiset(srows, scols) != _row_multiset(drows, dcols):
            mismatch.append((name, len(srows), len(drows)))
        else:
            ok.append(name)

    print(f"\n[{profile}] OK={len(ok)} SPARK_CRASH={len(spark_crash)} "
          f"DUCK_CRASH={len(duck_crash)} MISMATCH={len(mismatch)}")
    for tag, lst in [("SPARK", spark_crash), ("DUCK", duck_crash)]:
        for n, e in lst:
            print(f"[{profile}] {tag} CRASH {n}: {e}")
    for n, a, b in mismatch:
        print(f"[{profile}] MISMATCH {n}: spark_rows={a} duck_rows={b}")
    bad = len(mismatch) + len(duck_crash) + sum(
        1 for n, _ in spark_crash if n != "q_medallion_e2e"
    )
    return bad


if __name__ == "__main__":
    profiles = sys.argv[1:] or ["degenerate", "nulls", "unicode", "extremes", "skew"]
    raise SystemExit(min(1, sum(run_profile(p) for p in profiles)))
