"""SparkSession factory.

The reference builds three *separate* cold SparkSessions per pipeline run and
never sets ``.master`` (reference ``plugins/brewery_operators.py:229-244,
358-371``, ``plugins/data_quality_operator.py:43-53`` — see SURVEY.md §3).
This engine instead exposes ONE master-agnostic, tuned session factory:

  * master comes from ``SPARK_GRAFT_MASTER`` / ``spark.master`` (defaults to
    ``local[N]`` with N = ``SPARK_GRAFT_CPUS``) so the identical code runs on
    a 1000-executor cluster by pointing the env var at the cluster master;
  * AQE on (runtime shuffle-partition coalescing, skew-join splitting) —
    the single most important knob for 100 TB robustness;
  * shuffle partitions sized to the local core count for tests; on a real
    cluster AQE re-coalesces from ``spark.sql.shuffle.partitions`` anyway;
  * UTC session timezone so timestamp semantics match the DuckDB oracle;
  * Arrow enabled for every pandas-interop path (Pandas UDFs, toPandas).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from datalake_breweries_two_spark import CHECKOUT_DIR

# Spark's generated-class cache (a static conf, default 100 entries). Census
# of 2026-10-19, one session with an unbounded cache, classes counted with
# CodegenMetrics' compilation timer: one pass of every registry query at
# sf0.001 compiles 2,723 classes and a following pass at sf0.01 adds 133,
# 2,856 in all. The cap is the next power of two at or above 1.5x that. A
# cache smaller than the working set thrashes, and Janino recompiles each
# class on every run (one llm_corpus benchmark pass needs ~208).
_CODEGEN_CACHE_ENTRIES = 8192

# Stream checkpoints and state-store deltas go through Hadoop's FileContext
# API, whose ``file`` scheme defaults to the checksummed local FS: it writes a
# ``.crc`` sidecar beside every file and, without libhadoop, forks
# ``/bin/chmod`` for each file it creates, sidecars included. The raw local FS
# writes none. ``fs.file.impl`` (the FileSystem API, which lake writes use)
# must stay the checksummed class: ``FileSystem.getLocal`` casts it to
# ``LocalFileSystem``, and the RocksDB state store calls that.
_LOCAL_ABSTRACT_FS_IMPL = "org.apache.hadoop.fs.local.RawLocalFs"

_DEFAULT_APP = "datalake_breweries_two_spark"


def object_store_conf(
    endpoint: str | None = None,
    access_key: str | None = None,
    secret_key: str | None = None,
    path_style: bool = True,
    ssl: bool = False,
) -> dict[str, str]:
    """s3a profile for object-store (MinIO/S3) lakes — the deployment shape
    the reference hard-wires into every session it builds
    (``plugins/brewery_operators.py:241-242``: endpoint + static keys).

    Config-only (no bucket exists in the sandbox); ``build_session`` merges
    it automatically when ``SPARK_GRAFT_S3_ENDPOINT`` is set, so the same
    code that reads ``/local/path`` in tests reads ``s3a://bucket/path`` in
    production. Scale choices baked in:

      * **magic committer** (opt-in) — the default directory-rename commit
        is an O(files) server-side COPY on object stores (rename is not
        atomic or free there); the magic committer completes multipart
        uploads at commit time, zero renames. Its
        ``spark.sql.sources.commitProtocolClass`` override is GLOBAL (it
        applies to every write, local paths included) and its classes live
        in the optional spark-hadoop-cloud module that pip-installed
        pyspark does NOT bundle — so it is gated behind
        ``SPARK_GRAFT_S3_MAGIC_COMMITTER=1`` rather than switched on by
        the endpoint alone (an endpoint-only setup would otherwise fail
        EVERY write with ClassNotFoundException). Without the flag, s3a
        writes fall back to the slower-but-correct rename committer;
      * path-style access for MinIO (virtual-host style breaks on
        non-DNS endpoints);
      * static keys only when provided — otherwise the hadoop-aws default
        provider chain (instance profiles, env vars) applies.
    """
    endpoint = endpoint or os.environ.get("SPARK_GRAFT_S3_ENDPOINT", "")
    if not endpoint:
        return {}
    conf = {
        "spark.hadoop.fs.s3a.endpoint": endpoint,
        "spark.hadoop.fs.s3a.path.style.access": str(path_style).lower(),
        "spark.hadoop.fs.s3a.connection.ssl.enabled": str(ssl).lower(),
        "spark.hadoop.fs.s3a.fast.upload": "true",
        "spark.hadoop.fs.s3a.connection.maximum": "96",
    }
    if os.environ.get("SPARK_GRAFT_S3_MAGIC_COMMITTER", "") == "1":
        conf.update(
            {
                "spark.hadoop.fs.s3a.committer.name": "magic",
                "spark.sql.sources.commitProtocolClass": (
                    "org.apache.spark.internal.io.cloud.PathOutputCommitProtocol"
                ),
                "spark.sql.parquet.output.committer.class": (
                    "org.apache.spark.internal.io.cloud.BindingParquetOutputCommitter"
                ),
            }
        )
    access_key = access_key or os.environ.get("SPARK_GRAFT_S3_ACCESS_KEY", "")
    secret_key = secret_key or os.environ.get("SPARK_GRAFT_S3_SECRET_KEY", "")
    if access_key and secret_key:
        conf["spark.hadoop.fs.s3a.access.key"] = access_key
        conf["spark.hadoop.fs.s3a.secret.key"] = secret_key
    return conf


def build_session(
    app_name: str = _DEFAULT_APP,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    quiet_bounded_window_warn: bool | None = None,
) -> SparkSession:
    """Build (or fetch) the shared tuned SparkSession.

    One session per process — the reference's 3-cold-JVMs-per-run pattern
    (SURVEY.md §3 "Critical deployment fact") is deliberately not replicated.

    ``quiet_bounded_window_warn``: the WindowExec
    "No Partition Defined" WARN demotion is OPT-IN per caller —
    bench/tests/CLI pass ``True`` (their only unpartitioned window is the
    advisor-proof-gated ≤ n_parts-row offsets frame, so the warning is
    pure cry-wolf there), while ad-hoc/interactive sessions keep the
    genuine warning for user queries the declared-plan gate never sees.
    ``None`` defers to env ``SPARK_GRAFT_QUIET_WINDOW_WARN`` (default off).
    Note the demotion is JVM-logger-wide once applied: any opt-in caller
    in the same process quiets subsequent sessions too.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if master is None:
        master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", cpus))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Parquet TIMESTAMP(NANOS) (e.g. the events table) is read as a long
        # of epoch-nanos; catalog.load_table converts to TimestampType via
        # exact integer division (Spark has no native ns timestamp).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Write timestamps as TIMESTAMP(MICROS), not the legacy INT96: a
        # standard parquet logical type every engine (DuckDB, pyarrow)
        # reads as a timestamp.
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.sql.codegen.cache.maxEntries", str(_CODEGEN_CACHE_ENTRIES))
        # Keep the whole-stage codegen stage id out of the generated class
        # name: the ids of one plan shift between runs, and a class whose
        # source differs only in its name misses the cache above and is
        # compiled again on every run.
        .config("spark.sql.codegen.useIdInClassName", "false")
        .config("spark.hadoop.fs.AbstractFileSystem.file.impl", _LOCAL_ABSTRACT_FS_IMPL)
        # Python workers import the package from the checkout whatever the
        # driver's cwd. This reaches local-mode workers and executors that
        # share the checkout's path; shipping the package to other hosts
        # (a zip via addPyFile) is not done here.
        .config("spark.executorEnv.PYTHONPATH", CHECKOUT_DIR)
    )
    merged_conf = {**object_store_conf(), **(extra_conf or {})}
    for k, v in merged_conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if quiet_bounded_window_warn is None:
        quiet_bounded_window_warn = (
            os.environ.get("SPARK_GRAFT_QUIET_WINDOW_WARN", "0") == "1"
        )
    if quiet_bounded_window_warn:
        _silence_bounded_window_warning(spark)
    return spark


def _silence_bounded_window_warning(spark: SparkSession) -> None:
    """Demote WindowExec's "No Partition Defined" WARN to ERROR (r12
    verdict item 4; opt-in per session since r14 — see ``build_session``'s
    ``quiet_bounded_window_warn``, so interactive sessions keep the
    warning for plans the advisor gate never reads).

    The only unpartitioned window any declared plan is ALLOWED to contain
    is ``range_prefix_sums``' per-partition offsets pass — a frame of
    ≤ ``n_parts`` rows by construction (one ``distinct(_pid, totals)`` row
    per range partition; operators/windows.py). That bound cannot be
    expressed to Spark: the warning fires on the empty partition spec
    alone, regardless of input size, and a ``partitionBy(lit(0))`` dodge
    is constant-folded back to the empty spec by Catalyst (verified on
    4.1). The blanket log warning is therefore replaced by a STRONGER
    per-plan guarantee: ``plans/advisor.py`` flags every unpartitioned
    window in every declared plan unless the ≤ n_parts-row aggregate
    proof is visible in the plan tree itself
    (:func:`plans.advisor._pid_window_input_bounded`), and
    ``tests/test_plan_discipline.py`` runs that gate registry-wide. A
    100 TB operator reading bench logs sees a clean tail instead of a
    cry-wolf warning about a provably bounded 32-row frame.
    """
    jvm = spark.sparkContext._jvm
    level = jvm.org.apache.logging.log4j.Level.ERROR
    configurator = jvm.org.apache.logging.log4j.core.config.Configurator
    for cls in ("WindowExec", "WindowGroupLimitExec"):
        configurator.setLevel(f"org.apache.spark.sql.execution.window.{cls}", level)
