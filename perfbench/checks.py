"""Output checks, run outside every timed region.

Query results are compared with the engine's DuckDB oracle
(``__spark_entry__.oracle_sql()``) by an order-insensitive value hash with
the hashing rules of ``tests/test_oracle_parity.py``: columns in name order,
``None`` as ``NULL``, booleans as 0/1, floats by their raw ``repr`` (no
rounding), rows compared as a sorted multiset.

The lake checks recompute each expected table from the generated input files
with DuckDB, independently of the Spark code under test.
"""

from __future__ import annotations

import glob
import hashlib
import math
import os

import duckdb


def _norm_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    return str(v)


def value_hash(rows, colnames) -> tuple[int, str]:
    """(row count, digest) of a result, insensitive to row order."""
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    lines = sorted(
        "|".join(_norm_cell(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256("|".join(sorted(colnames)).encode())
    for line in lines:
        h.update(b"\n" + line.encode())
    return len(lines), h.hexdigest()


def oracle_hashes(data_dir: str, tables, sqls: dict[str, str]) -> dict[str, tuple[int, str]]:
    """Run each oracle SQL in DuckDB over the parquet files of ``data_dir``."""
    con = duckdb.connect()
    try:
        for t in tables:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
            )
        out = {}
        for name, sql in sqls.items():
            res = con.execute(sql)
            cols = [d[0] for d in res.description]
            out[name] = value_hash(res.fetchall(), cols)
        return out
    finally:
        con.close()


_BRONZE_COLS = (
    "{'id':'VARCHAR','name':'VARCHAR','brewery_type':'VARCHAR',"
    "'address_1':'VARCHAR','address_2':'VARCHAR','address_3':'VARCHAR',"
    "'city':'VARCHAR','state_province':'VARCHAR','country':'VARCHAR',"
    "'longitude':'VARCHAR','latitude':'VARCHAR'}"
)
_SILVER_COLS = (
    "{'id':'VARCHAR','brewery_name':'VARCHAR','brewery_type':'VARCHAR',"
    "'full_address':'VARCHAR','city':'VARCHAR','state':'VARCHAR',"
    "'country':'VARCHAR','longitude':'DOUBLE','latitude':'DOUBLE'}"
)
_SILVER_ORDER = (
    "id, brewery_name, brewery_type, full_address, city, state, country, "
    "longitude, latitude"
)


def _json(path: str, columns: str) -> str:
    return (
        f"read_json('{path}/*.json', format='newline_delimited', "
        f"columns={columns})"
    )


def _parquet(path: str) -> str:
    return f"read_parquet('{path}/**/*.parquet', hive_partitioning=true)"


class LakeExpectations:
    """Expected lake_ingest outputs, recomputed from the generated files."""

    def __init__(self, inputs: dict) -> None:
        self.con = duckdb.connect()
        bronze = _json(inputs["bronze"], _BRONZE_COLS)
        self.con.execute(f"""
            CREATE TABLE silver AS SELECT
              id, trim(name, ' ') AS brewery_name,
              lower(brewery_type) AS brewery_type,
              concat_ws(', ', address_1, address_2, address_3) AS full_address,
              trim(city, ' ') AS city, state_province AS state, country,
              CAST(longitude AS DOUBLE) AS longitude,
              CAST(latitude AS DOUBLE) AS latitude
            FROM {bronze}""")
        self.con.execute(f"""
            CREATE TABLE gold AS SELECT brewery_type, country,
              count(id) AS brewery_count FROM silver GROUP BY ALL""")
        upd = _json(inputs["updates"], _SILVER_COLS)
        dels = _json(inputs["deletes"], "{'id':'VARCHAR'}")
        self.con.execute(f"""
            CREATE TABLE final AS
            SELECT {_SILVER_ORDER} FROM (
              SELECT * FROM silver WHERE id NOT IN (SELECT id FROM {upd})
              UNION ALL SELECT {_SILVER_ORDER} FROM {upd})
            WHERE id NOT IN (SELECT id FROM {dels})""")
        self.con.execute(f"""
            CREATE TABLE stream AS SELECT state, count(id) AS n_updates,
              count(longitude) AS n_geo
            FROM {upd} GROUP BY state""")
        self.con.execute("""
            CREATE TABLE final_agg AS SELECT state, count(*) AS n,
              count(longitude) AS n_geo FROM final GROUP BY state""")
        self.gold_rows = self.con.execute("SELECT count(*) FROM gold").fetchone()[0]

    def close(self) -> None:
        self.con.close()

    def _same(self, table: str, actual_sql: str) -> str | None:
        diff = self.con.execute(f"""
            SELECT (SELECT count(*) FROM ({actual_sql})),
                   (SELECT count(*) FROM {table}),
                   (SELECT count(*) FROM (({actual_sql}) EXCEPT ALL
                                           (SELECT * FROM {table}))),
                   (SELECT count(*) FROM ((SELECT * FROM {table}) EXCEPT ALL
                                           ({actual_sql})))""").fetchone()
        if diff[0] != diff[1] or diff[2] or diff[3]:
            return f"{table}: rows {diff[0]} vs expected {diff[1]}, {diff[2]}+{diff[3]} differ"
        return None

    def check_gold(self, gold_dir: str) -> str | None:
        return self._same(
            "gold",
            f"SELECT brewery_type, country, brewery_count FROM {_parquet(gold_dir)}",
        )

    def check_final(self, table_dir: str) -> str | None:
        return self._same("final", f"SELECT {_SILVER_ORDER} FROM {_parquet(table_dir)}")

    def check_stream(self, table_dir: str) -> str | None:
        return self._same(
            "stream", f"SELECT state, n_updates, n_geo FROM {_parquet(table_dir)}"
        )

    def check_final_agg(self, rows) -> str | None:
        got = value_hash([tuple(r) for r in rows], ["state", "n", "n_geo"])
        want_rows = self.con.execute("SELECT state, n, n_geo FROM final_agg").fetchall()
        want = value_hash(want_rows, ["state", "n", "n_geo"])
        return None if got == want else f"final_agg: {got} vs expected {want}"


def dir_bytes(path: str) -> int:
    """Total bytes of every file under ``path``."""
    return sum(
        os.path.getsize(f)
        for f in glob.glob(os.path.join(path, "**", "*"), recursive=True)
        if os.path.isfile(f)
    )
