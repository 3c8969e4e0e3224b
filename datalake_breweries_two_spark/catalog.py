"""Explicit-schema catalog for the lake tables.

The reference pays an extra full scan per run for JSON schema inference
(``spark.read.json`` with no schema, reference ``plugins/brewery_operators.py:189``
— SURVEY.md §4 "Schema-inference avoidance"). This engine registers an
explicit ``StructType`` per table and always reads with it: deterministic
schemas, zero inference scans — at 100 TB an inference pass is a full extra
read of the dataset.

Tables mirror TESTDATA.md / FIXTURES.md (TPC-H-ish star schema + events /
documents / embeddings), plus the reference's own brewery-domain layer
schemas (bronze/silver/gold) used by the medallion pipeline in
``plans/medallion.py``.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

# --------------------------------------------------------------------------
# Synthetic star-schema tables (driver-generated parquet; FIXTURES.md)
# --------------------------------------------------------------------------

TABLES: dict[str, T.StructType] = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
            T.StructField("l_tax", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_shipdate", T.TimestampType()),
        ]
    ),
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    ),
}

# --------------------------------------------------------------------------
# Reference brewery-domain layer schemas (SURVEY.md §1.3, FIXTURES.md)
# --------------------------------------------------------------------------

# Raw API payload fields consumed by the reference's silver projection
# (reference plugins/brewery_operators.py:255-264).
BRONZE_BREWERY_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("brewery_type", T.StringType()),
        T.StructField("address_1", T.StringType()),
        T.StructField("address_2", T.StringType()),
        T.StructField("address_3", T.StringType()),
        T.StructField("city", T.StringType()),
        T.StructField("state_province", T.StringType()),
        T.StructField("country", T.StringType()),
        T.StructField("longitude", T.StringType()),
        T.StructField("latitude", T.StringType()),
    ]
)

# Curated silver schema, defined by the reference's projection
# (reference plugins/brewery_operators.py:255-265).
SILVER_BREWERY_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("brewery_name", T.StringType()),
        T.StructField("brewery_type", T.StringType()),
        T.StructField("full_address", T.StringType()),
        T.StructField("city", T.StringType()),
        T.StructField("state", T.StringType()),
        T.StructField("country", T.StringType()),
        T.StructField("longitude", T.DoubleType()),
        T.StructField("latitude", T.DoubleType()),
    ]
)


def default_sf_dir() -> str:
    return os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


# Two on-disk layouts for events.ts, both seen from the driver's testdata
# generator across regenerations: TIMESTAMP(NANOS) (unreadable as a Spark
# timestamp — spark.sql.legacy.parquet.nanosAsLong in the session factory
# surfaces it as an epoch-nanos long, floor-divided to micros on read) and
# plain TIMESTAMP(MICROS) (read directly). `read_events` sniffs the parquet
# footer and decodes either into the SAME portable schema (`_EVENTS`), so
# every consumer sees microsecond timestamps regardless of the source
# layout. DuckDB oracles use date_trunc('microseconds', ts) to match.
_EVENTS_RAW = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)

# decoded/portable events schema (ts = microsecond timestamp)
_EVENTS = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


# Plausible epoch magnitudes (years ~1998-2220) per int64 unit — disjoint
# decades apart, so a footer min stat lands in exactly one (or none → raise).
_INT64_TS_UNITS = (
    ("seconds", 9 * 10**8, 8 * 10**9),
    ("millis", 9 * 10**11, 8 * 10**12),
    ("micros", 9 * 10**14, 8 * 10**15),
    ("nanos", 9 * 10**17, 8 * 10**18),
)


def _ts_layout_of_file(f: str) -> str:
    """Layout tag for ONE part file's ts column: ``native`` (Spark reads it
    as TimestampType directly — INT96, TIMESTAMP(MILLIS), TIMESTAMP(MICROS)),
    ``nanos`` (TIMESTAMP(NANOS), surfaced as an epoch-nanos long via the
    session's nanosAsLong conf), or ``int64-<unit>`` (bare int64 with no
    parquet logical type; the epoch unit is inferred from footer min/max
    stats by magnitude — a wrong unit guess would silently decode every
    timestamp 1000x off, so an un-inferable column raises instead)."""
    import pyarrow.parquet as _pq

    pf = _pq.ParquetFile(f)
    sch = pf.schema
    # Use the parquet (not arrow) schema: pyarrow reports INT96 as
    # timestamp[ns], but Spark reads INT96 natively as TimestampType — only
    # true TIMESTAMP(NANOS) and bare int64 columns need the long decode.
    idx = next(i for i in range(len(sch)) if sch.column(i).name == "ts")
    col = sch.column(idx)
    if col.physical_type == "INT96":
        return "native"
    lt = str(col.logical_type).lower()
    if "nano" in lt:
        return "nanos"
    if lt != "none":
        return "native"
    stat_min = None
    for rg in range(pf.metadata.num_row_groups):
        s = pf.metadata.row_group(rg).column(idx).statistics
        if s is not None and s.has_min_max:
            stat_min = int(s.min)
            break
    if stat_min is None:
        raise ValueError(
            f"{f}: events.ts is a bare int64 with no parquet logical type and "
            "no footer min/max statistics — cannot infer its epoch unit; "
            "re-write the data with an annotated TIMESTAMP logical type"
        )
    for unit, lo, hi in _INT64_TS_UNITS:
        if lo <= abs(stat_min) < hi:
            return f"int64-{unit}"
    raise ValueError(
        f"{f}: events.ts bare-int64 footer min {stat_min} matches no plausible "
        "epoch unit (seconds/millis/micros/nanos, years ~1998-2220); refusing "
        "to guess a decode factor"
    )


def events_ts_layout(path: str) -> str:
    """Footer sniff over an events parquet file or directory: returns the
    shared ts layout tag (see ``_ts_layout_of_file``). Every part file is
    sniffed (footer reads are millisecond-cheap and a directory can mix
    parts staged by different sessions — a sampled sniff would silently
    misdecode an interleaved minority layout) and the sniff raises on
    disagreement. Called once per query definition, not per partition."""
    import glob as _glob

    files = [path]
    if os.path.isdir(path):
        files = sorted(
            p
            for p in _glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
            if os.path.isfile(p)
        )
        if not files:
            return "native"
    layouts = {f: _ts_layout_of_file(f) for f in files}
    distinct = set(layouts.values())
    if len(distinct) > 1:
        raise ValueError(
            f"{path}: part files disagree on the events.ts layout — {layouts}; "
            "a mixed directory cannot be decoded with one fixed schema"
        )
    return distinct.pop()


def _read_events_via(reader, path: str) -> DataFrame:
    """Read an events parquet path through ``reader`` (``spark.read``, or a
    ``spark.readStream`` with its trigger options set) into the portable
    ``_EVENTS`` schema: the ts layout is sniffed once, and an int64 layout
    is converted to microseconds with exact integer arithmetic (a double
    division would lose precision at 1e18 magnitudes)."""
    from pyspark.sql import functions as F

    layout = events_ts_layout(path)
    if layout == "native":
        return reader.schema(_EVENTS).parquet(path)
    to_micros = {
        "nanos": "ts DIV 1000",
        "int64-nanos": "ts DIV 1000",
        "int64-micros": "ts",
        "int64-millis": "ts * 1000",
        "int64-seconds": "ts * 1000000",
    }[layout]
    return reader.schema(_EVENTS_RAW).parquet(path).select(
        F.col("event_id"),
        F.timestamp_micros(F.expr(to_micros)).alias("ts"),
        F.col("user_id"),
        F.col("event_type"),
        F.col("value"),
        F.col("props"),
    )


def read_events(spark: SparkSession, path: str) -> DataFrame:
    """Batch events reader: any sniffed on-disk ts layout → the `_EVENTS`
    portable schema (microsecond timestamps)."""
    return _read_events_via(spark.read, path)


def load_table(spark: SparkSession, name: str, sf_dir: str | None = None) -> DataFrame:
    """Read one lake table with its explicit schema.

    Scale note: plain ``spark.read.parquet`` — Catalyst gets footer min/max
    stats for predicate pushdown and hive-style partition discovery for
    free; passing the explicit schema skips the footer-sampling schema merge
    step on huge datasets.
    """
    sf_dir = sf_dir or default_sf_dir()
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        return read_events(spark, path)
    return spark.read.schema(TABLES[name]).parquet(path)


def register_views(spark: SparkSession, sql: str, sf_dir: str | None = None) -> None:
    """Register each lake table that ``sql`` names as a temp view under the
    table's own name. This is the SQL surface's only view registrar: the
    DuckDB oracles see the same names, so one SQL text runs in both engines.
    A word of ``sql`` that only looks like a table name (an alias, a
    literal) registers a view that goes unused."""
    words = set(re.findall(r"\w+", sql))
    for name in TABLES:
        if name in words:
            load_table(spark, name, sf_dir).createOrReplaceTempView(name)
