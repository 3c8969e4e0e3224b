"""Local replica of the driver's correctness gate: run every declared query
AND its DuckDB oracle on the same parquet, compare row-count + schema-width +
order-insensitive value-hash. Catches oracle drift before the driver does.

Runs at sf0.001 by default for speed (driver uses sf0.01 — set
SPARK_GRAFT_TEST_SF=/root/testdata/sf0.01 to mirror exactly).
"""

from __future__ import annotations

import math
import os

import duckdb
import pytest

from datalake_breweries_two_spark.entry_queries import ORACLE_SQL, QUERIES

from .conftest import SF_ORACLE, SF_SMOKE

TABLE_NAMES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _duck(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _arrow_class(t) -> str:
    """Coarse cross-engine type class for a DuckDB Arrow output type.

    The driver's value-hash STRINGIFIES cells, so types whose string
    forms differ (Decimal('3') vs 3, 1.5 vs Decimal('1.50'), date vs
    timestamp) hash-mismatch even when the math is identical — DuckDB
    HUGEINT (= arrow decimal128(38,0), the type of an uncast sum(int))
    vs Spark bigint caused the only 3 driver failures in r5. Classes
    below group exactly the types that stringify identically."""
    import pyarrow as pa

    if pa.types.is_boolean(t):
        return "bool"
    if pa.types.is_integer(t):
        return "int"
    if pa.types.is_decimal(t):
        return "decimal"
    if pa.types.is_floating(t):
        return "float"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "str"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_timestamp(t):
        return "ts"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return "array"
    return f"other:{t}"


def _spark_class(dt) -> str:
    from pyspark.sql import types as T

    if isinstance(dt, T.BooleanType):
        return "bool"
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return "int"
    if isinstance(dt, T.DecimalType):
        return "decimal"
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return "float"
    if isinstance(dt, T.StringType):
        return "str"
    if isinstance(dt, T.DateType):
        return "date"
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return "ts"
    if isinstance(dt, T.ArrayType):
        return "array"
    return f"other:{dt}"


def _norm_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # RAW repr, no rounding: the driver's value-hash stringifies
        # cells as-is, so a 9dp-rounded compare here was MORE tolerant
        # than the gate it replicates — a query whose float output isn't
        # explicitly rounded (the repo convention) must fail locally
        # exactly as it would fail the driver. Verified r6: raw-string
        # equality holds for all 211 oracles at sf0.01.
        return repr(v)
    return str(v)


def _row_multiset(rows, colnames) -> list[str]:
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    out = []
    for r in rows:
        vals = list(r)
        out.append("|".join(_norm_cell(vals[i]) for i in order))
    return sorted(out)


def _assert_driver_canonicalizable(name: str, sdf) -> None:
    """Registry-wide output-schema gate (r7, after q_media_frame_sample):
    the driver's pandas canonicalizer sorts every output column, and
    array/map/struct cells raise ``TypeError: unhashable type`` there —
    so NO declared query may emit a top-level complex-typed column.
    Operators may return arrays; the declared query must project them to
    a canonical scalar (see q_media_frame_sample's feature_bytes)."""
    from pyspark.sql import types as T

    bad = {
        f.name: f.dataType.simpleString()
        for f in sdf.schema.fields
        if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType))
    }
    assert not bad, (
        f"{name}: complex-typed output column(s) {bad} — the driver "
        "canonicalizer cannot sort these; project to a scalar"
    )


@pytest.mark.parametrize("name", sorted(ORACLE_SQL.keys()))
def test_oracle_match(spark, name):
    sf_dir = SF_ORACLE
    sdf = QUERIES[name](spark, sf_dir)
    _assert_driver_canonicalizable(name, sdf)
    spark_cols = sdf.columns
    spark_rows = [tuple(r) for r in sdf.collect()]

    con = _duck(sf_dir)
    try:
        res = con.execute(ORACLE_SQL[name])
        duck_cols = [d[0] for d in res.description]
        duck_rows = res.fetchall()
        # Arrow-level type parity (r5 lesson: fetchall() launders HUGEINT
        # through Python int, hiding type skew the driver's stringifying
        # hash catches — re-run the oracle for its raw Arrow schema)
        duck_schema = con.execute(ORACLE_SQL[name]).arrow().schema
    finally:
        con.close()

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column names differ: spark={spark_cols} duck={duck_cols}"
    )
    spark_types = {f.name: _spark_class(f.dataType) for f in sdf.schema.fields}
    duck_types = {
        f.name: _arrow_class(f.type) for f in duck_schema
    }
    skew = {
        c: (spark_types[c], duck_types[c])
        for c in spark_types
        if c in duck_types and spark_types[c] != duck_types[c]
    }
    assert not skew, (
        f"{name}: cross-engine output type skew (spark, duckdb): {skew} — "
        "the driver hash stringifies these differently; cast the oracle "
        "(or the Spark side) so the type classes agree"
    )
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count spark={len(spark_rows)} duck={len(duck_rows)}"
    )
    sm = _row_multiset(spark_rows, spark_cols)
    dm = _row_multiset(duck_rows, duck_cols)
    if sm != dm:
        diffs = [(a, b) for a, b in zip(sm, dm) if a != b][:5]
        raise AssertionError(f"{name}: value mismatch, first diffs: {diffs}")


@pytest.mark.parametrize(
    "name", sorted(k for k in QUERIES if k not in ORACLE_SQL)
)
def test_rows_only_queries_run(spark, name):
    """Engine-specific queries (no SQL oracle): must run and have a stable
    non-empty schema."""
    sdf = QUERIES[name](spark, SF_ORACLE)
    _assert_driver_canonicalizable(name, sdf)
    assert len(sdf.columns) > 0
    n = sdf.count()
    assert n >= 0


def test_comparator_detects_differences():
    """Canary for the gate itself: the order-insensitive multiset compare
    must actually FLAG a single changed value, a dropped row, and a
    column rename — otherwise every green above is vacuous."""
    cols = ["a", "b"]
    base = [(1, "x"), (2, "y"), (3, None)]
    assert _row_multiset(base, cols) == _row_multiset(list(reversed(base)), cols)

    changed = [(1, "x"), (2, "y"), (4, None)]
    assert _row_multiset(base, cols) != _row_multiset(changed, cols)

    dropped = base[:2]
    assert _row_multiset(base, cols) != _row_multiset(dropped, cols)

    # column-name sort must align values by NAME, not position: same rows
    # under swapped column order hash identically...
    swapped_rows = [(r[1], r[0]) for r in base]
    assert _row_multiset(base, ["a", "b"]) == _row_multiset(swapped_rows, ["b", "a"])
    # ...but a rename misaligns the sort order and is caught upstream by
    # the column-name set compare (simulate it here)
    assert sorted(["a", "b"]) != sorted(["a", "c"])

    # float cells compare RAW (driver-strict): sub-ulp differences that a
    # rounded compare would hide must be flagged, NaN is stable
    assert _norm_cell(0.1234567891) != _norm_cell(0.12345678914)
    assert _norm_cell(0.25) == _norm_cell(0.25)
    assert _norm_cell(float("nan")) == "NaN"
    assert _norm_cell(None) == "NULL"
    assert _norm_cell(True) == "1"


def test_type_parity_catches_uncast_hugeint_sum():
    """The r5 driver failures in miniature: an uncast `sum(int)` DuckDB
    oracle types HUGEINT (arrow decimal128(38,0)) while Spark's sum(int)
    is bigint — the class functions MUST disagree on that pair (and agree
    once the oracle casts to BIGINT), else the new schema gate is vacuous."""
    from pyspark.sql import types as T

    con = duckdb.connect()
    try:
        uncast = con.execute("SELECT sum(x) AS s FROM (VALUES (1),(2)) t(x)")
        uncast_t = uncast.arrow().schema.field("s").type
        cast = con.execute(
            "SELECT CAST(sum(x) AS BIGINT) AS s FROM (VALUES (1),(2)) t(x)"
        )
        cast_t = cast.arrow().schema.field("s").type
    finally:
        con.close()

    spark_sum = _spark_class(T.LongType())
    assert _arrow_class(uncast_t) == "decimal"
    assert _arrow_class(uncast_t) != spark_sum
    assert _arrow_class(cast_t) == spark_sum == "int"


def test_oracle_sql_avoids_divergent_regex_classes():
    """Static lint over every oracle: \\s is BANNED — Java regex \\s
    includes U+000B (vertical tab), RE2/DuckDB \\s does not, so any
    oracle using \\s diverges from the Spark side on \\x0b-bearing text
    (r7: the unicode sweep caught exactly one raw-string oracle that a
    global replacement had missed). \\w/\\W/\\S are banned for the same
    class-definition reason. \\d and \\b are ASCII-identical in both
    engines (Java defaults and RE2 both define digit/word as ASCII) and
    are allowed — q_pii_redact's IPv4 boundary uses them, pinned by the
    five-profile sweep."""
    for name, sql in ORACLE_SQL.items():
        for banned in (r"\s", r"\S", r"\w", r"\W"):
            assert banned not in sql, (
                f"{name}: oracle SQL contains {banned!r} — spell the "
                "class explicitly (see operators/text.py WS_RE)"
            )


def _sql_surface() -> list[str]:
    """The registry queries that run SQL text: their ``q_*`` body calls
    ``entry_queries._sql``."""
    import ast
    import inspect

    from datalake_breweries_two_spark import entry_queries

    tree = ast.parse(inspect.getsource(entry_queries))
    return [
        fn.name
        for fn in tree.body
        if isinstance(fn, ast.FunctionDef)
        and fn.name in QUERIES
        and any(
            isinstance(n, ast.Call) and getattr(n.func, "id", None) == "_sql"
            for n in ast.walk(fn)
        )
    ]


SQL_SURFACE = _sql_surface()

_PHYSICAL_VARIANTS = {
    "shuffle_partitions_1": {"spark.sql.shuffle.partitions": "1"},
    "shuffle_partitions_7": {"spark.sql.shuffle.partitions": "7"},
    "aqe_off": {"spark.sql.adaptive.enabled": "false"},
    "no_broadcast": {"spark.sql.autoBroadcastJoinThreshold": "-1"},
}


def _surface_hash(spark, name):
    sdf = QUERIES[name](spark, SF_SMOKE)
    return _row_multiset([tuple(r) for r in sdf.collect()], sdf.columns)


@pytest.fixture(scope="module")
def surface_baseline(spark):
    return {name: _surface_hash(spark, name) for name in SQL_SURFACE}


@pytest.mark.parametrize("variant", sorted(_PHYSICAL_VARIANTS))
def test_sql_surface_invariant_under_physical_confs(spark, surface_baseline, variant):
    """Every SQL-surface query keeps its value hash at sf0.001 when a
    physical choice changes: shuffle partitions 1 or 7, AQE off, or no
    broadcast joins. Each conf set here is restored, also when a query
    raises."""
    assert len(SQL_SURFACE) == 31, SQL_SURFACE
    confs = _PHYSICAL_VARIANTS[variant]
    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        changed = [
            name
            for name in SQL_SURFACE
            if _surface_hash(spark, name) != surface_baseline[name]
        ]
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    assert not changed, f"value hash changed under {confs}: {changed}"
