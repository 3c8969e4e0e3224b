"""The three workloads, driven through the engine's public functions.

Each workload writes its inputs once (``prepare``), then runs passes of
operations. An operation produces the caller's full result: ``collect()``
for a query, the completed write for a lake operation. Results are kept or
hashed after each operation, outside its timed span, and checked by
``check`` once timing is over.
"""

from __future__ import annotations

import os
import random
import shutil
import traceback

from pyspark.sql import functions as F
from pyspark.sql import types as T

import checks
import datagen
from datalake_breweries_two_spark.catalog import BRONZE_BREWERY_SCHEMA, SILVER_BREWERY_SCHEMA
from datalake_breweries_two_spark.entry_queries import QUERIES
from datalake_breweries_two_spark.operators.aggregates import group_count
from datalake_breweries_two_spark.operators.projection import curate_silver_breweries
from datalake_breweries_two_spark.plans.medallion import MedallionConfig, run_medallion
from datalake_breweries_two_spark.sources import lake
from datalake_breweries_two_spark.sources.jdbc import JdbcConfig, write_jdbc
from datalake_breweries_two_spark.streaming.sinks import stream_upsert_versioned

# after the package: __spark_entry__ puts a fixed path first on sys.path, and
# the package must come from the checkout this benchmark runs in
import __spark_entry__  # noqa: E402

LAKE_SQL = [
    "q_sql_tpch_q1", "q_sql_tpch_q3", "q_sql_tpch_q5", "q_sql_tpch_q6",
    "q_sql_tpch_q9", "q_sql_tpch_q18", "q_sql_tpch_q21", "q_star_join",
    "q_window_rank", "q_rollup",
]
LLM_CORPUS = [
    "q_dedup_near_verified", "q_minhash_signature", "q_text_quality",
    "q_tfidf", "q_bm25", "q_cosine_topk", "q_embedding_near_dup",
    "q_decontaminate", "q_pii_redact", "q_chunk_documents",
]

_KEYS = T.StructType([T.StructField("id", T.StringType())])


class QueryWorkload:
    """Declared queries at a fixed scale; the seed permutes each pass."""

    def __init__(self, queries: list[str], sf: float) -> None:
        self.queries = queries
        self.sf = sf
        self.results: list[tuple[str, str, tuple[int, str] | None, str | None]] = []

    def prepare(self, work_dir: str, seed: int) -> dict:
        self.seed = seed
        self.data_dir = os.path.join(work_dir, "data")
        rows = datagen.write_tables(self.data_dir, seed, self.sf)
        return {"sf": self.sf, "input_bytes": checks.dir_bytes(self.data_dir),
                "input_rows": rows}

    def pass_ops(self, pass_label: str) -> list[str]:
        order = list(self.queries)
        random.Random(f"{self.seed}/{pass_label}").shuffle(order)
        return order

    def run(self, op: str, spark, layers) -> object:
        with layers.layer("construct"):
            df = QUERIES[op](spark, self.data_dir)
        with layers.layer("action"):
            rows = df.collect()
        return df, rows

    def record(self, pass_label: str, op: str, result, error: str | None) -> int:
        """Hash a result (untimed); returns its row count."""
        if error is not None:
            self.results.append((pass_label, op, None, error))
            return 0
        df, rows = result
        self.results.append((pass_label, op, checks.value_hash(rows, df.columns), None))
        return len(rows)

    def end_pass(self, pass_label: str, spark) -> dict:
        return {}

    def check(self) -> list[tuple[str, str, str]]:
        sqls = {q: __spark_entry__.oracle_sql()[q] for q in self.queries}
        want = checks.oracle_hashes(self.data_dir, datagen.TABLE_NAMES, sqls)
        failures = []
        for pass_label, op, got, error in self.results:
            if error is not None:
                failures.append((pass_label, op, error))
            elif got != want[op]:
                failures.append((pass_label, op, f"value hash {got} != oracle {want[op]}"))
        return failures

    def close(self) -> None:
        pass


class LakeIngestWorkload:
    """Bronze JSON -> medallion -> JDBC, versioned writes, merge, delete,
    compaction, a file stream upsert and a read-back aggregate."""

    OPS = [
        "medallion", "jdbc_write", "write_versioned", "merge_upsert",
        "delete_keys", "compact_vacuum", "stream_upsert", "read_agg",
    ]

    def __init__(self, n_rows: int, nproc: int) -> None:
        self.n_rows = n_rows
        self.jdbc_partitions = nproc
        self.passes: dict[str, dict] = {}
        self.failures: list[tuple[str, str, str]] = []

    def prepare(self, work_dir: str, seed: int) -> dict:
        self.work_dir = work_dir
        self.inputs = datagen.write_brewery_inputs(os.path.join(work_dir, "inputs"), seed, self.n_rows)
        return {
            "bronze_rows": self.n_rows,
            "input_bytes": self.inputs["bronze_bytes"],
            "update_rows": self.inputs["update_rows"],
            "delete_rows": self.inputs["delete_rows"],
        }

    def pass_ops(self, pass_label: str) -> list[str]:
        root = os.path.join(self.work_dir, f"lake-{pass_label}")
        self.passes[pass_label] = {
            "lake": root,
            "table": os.path.join(root, "breweries"),
            "stream": os.path.join(root, "state_updates"),
            "jdbc_url": f"jdbc:derby:memory:perfbench_{pass_label};create=true",
            "label": pass_label,
        }
        self.current = self.passes[pass_label]
        return list(self.OPS)

    def run(self, op: str, spark, layers) -> object:
        return getattr(self, f"_{op}")(spark, layers, self.current)

    def _medallion(self, spark, layers, p):
        cfg = MedallionConfig(
            base_dir=os.path.join(p["lake"], "medallion"),
            bronze_schema=BRONZE_BREWERY_SCHEMA,
            curate=curate_silver_breweries,
            aggregate=lambda df: group_count(
                df, ["brewery_type", "country"], "id", "brewery_count"
            ).orderBy(F.desc("brewery_count")),
            silver_partition_by=["state"],
            critical_columns=["id", "brewery_name", "brewery_type"],
        )
        with layers.layer("medallion"):
            res = run_medallion(spark, cfg, self.inputs["bronze"])
        p["silver"], p["gold"], p["gold_rows"] = res.silver_path, res.gold_path, res.gold_rows
        return res

    def _jdbc_write(self, spark, layers, p):
        cfg = JdbcConfig(
            url=p["jdbc_url"], table="GOLD", user="", password="",
            driver="org.apache.derby.jdbc.EmbeddedDriver",
            num_partitions=self.jdbc_partitions,
        )
        with layers.layer("jdbc"):
            write_jdbc(spark.read.parquet(p["gold"]), cfg)

    def _write_versioned(self, spark, layers, p):
        with layers.layer("lake"):
            return lake.write_versioned(lake.read_parquet(spark, p["silver"]), p["table"])

    def _merge_upsert(self, spark, layers, p):
        with layers.layer("lake"):
            base = lake.read_versioned(spark, p["table"])
            updates = lake.read_json(spark, self.inputs["updates"], SILVER_BREWERY_SCHEMA)
            merged = lake.merge_upsert(base, updates, ["id"])
            return lake.write_versioned(merged, p["table"])

    def _delete_keys(self, spark, layers, p):
        with layers.layer("lake"):
            keys = lake.read_json(spark, self.inputs["deletes"], _KEYS)
            return lake.delete_keys_versioned(spark, p["table"], "id", keys)

    def _compact_vacuum(self, spark, layers, p):
        with layers.layer("lake"):
            version, _ = lake.compact_versioned(spark, p["table"])
            lake.vacuum_versions(p["table"], keep=1)
            return version

    def _stream_upsert(self, spark, layers, p):
        updates = (
            spark.readStream.schema(SILVER_BREWERY_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .json(self.inputs["updates"])
        )
        agg = updates.groupBy("state").agg(
            F.count("id").alias("n_updates"), F.count("longitude").alias("n_geo")
        )
        with layers.layer("stream"):
            stream_upsert_versioned(
                spark, agg, p["stream"], ["state"], query_name=f"state_updates_{p['label']}"
            )

    def _read_agg(self, spark, layers, p):
        with layers.layer("construct"):
            df = lake.read_versioned(spark, p["table"]).groupBy("state").agg(
                F.count(F.lit(1)).alias("n"), F.count("longitude").alias("n_geo")
            )
        with layers.layer("action"):
            rows = df.collect()
        return df, rows

    def record(self, pass_label: str, op: str, result, error: str | None) -> int:
        p = self.passes[pass_label]
        if error is not None:
            self.failures.append((pass_label, op, error))
            return 0
        if op == "read_agg":
            p["final_agg"] = result[1]
            return len(result[1])
        return 0

    def end_pass(self, pass_label: str, spark) -> dict:
        """Lake size after vacuum, and the Derby read-back while the
        in-memory database is alive (untimed)."""
        p = self.passes[pass_label]
        p["stored_bytes"] = checks.dir_bytes(p["lake"])
        try:
            p["jdbc_rows"] = (
                spark.read.format("jdbc")
                .option("url", p["jdbc_url"])
                .option("dbtable", "GOLD")
                .option("driver", "org.apache.derby.jdbc.EmbeddedDriver")
                .load()
                .count()
            )
        except Exception:
            p["jdbc_rows"] = None
            self.failures.append((pass_label, "jdbc_readback", traceback.format_exc(limit=3)))
        _drop_derby(spark, p["jdbc_url"])
        p["table_version"] = lake.latest_table_version(p["table"])
        p["stream_version"] = lake.latest_table_version(p["stream"])
        return {"stored_bytes": p["stored_bytes"], "jdbc_rows": p["jdbc_rows"] or 0}

    def check(self) -> list[tuple[str, str, str]]:
        failures = list(self.failures)
        exp = checks.LakeExpectations(self.inputs)
        try:
            for label, p in self.passes.items():
                failed_ops = {op for lab, op, _ in self.failures if lab == label}
                if failed_ops:
                    continue
                if p.get("gold_rows") != exp.gold_rows:
                    failures.append((label, "medallion",
                                     f"observed gold rows {p.get('gold_rows')} != {exp.gold_rows}"))
                for op, err in (
                    ("medallion", exp.check_gold(p["gold"])),
                    ("jdbc_write", None if p["jdbc_rows"] == exp.gold_rows
                     else f"derby rows {p['jdbc_rows']} != gold rows {exp.gold_rows}"),
                    ("compact_vacuum", exp.check_final(
                        os.path.join(p["table"], p["table_version"]))),
                    ("stream_upsert", exp.check_stream(
                        os.path.join(p["stream"], p["stream_version"]))),
                    ("read_agg", exp.check_final_agg(p["final_agg"])),
                ):
                    if err:
                        failures.append((label, op, err))
        finally:
            exp.close()
        return failures

    def close(self) -> None:
        for p in self.passes.values():
            shutil.rmtree(p["lake"], ignore_errors=True)


def _drop_derby(spark, url: str) -> None:
    """Drop an in-memory Derby database; Derby reports success as an
    SQLException with state 08006."""
    drop = url.replace(";create=true", ";drop=true")
    try:
        spark._jvm.java.sql.DriverManager.getConnection(drop)
    except Exception as exc:  # py4j wraps java.sql.SQLException
        if "08006" not in str(exc) and "dropped" not in str(exc):
            raise
