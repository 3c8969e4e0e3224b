"""End-to-end medallion pipeline tests on brewery-shaped data (the
reference's own domain: bronze JSON → silver curation → quality gate →
gold aggregate; reference dags/dag-brewery_pipeline.py:103-119)."""

from __future__ import annotations

import json
import os

import pytest

from datalake_breweries_two_spark.catalog import BRONZE_BREWERY_SCHEMA
from datalake_breweries_two_spark.operators.aggregates import group_count
from datalake_breweries_two_spark.operators.projection import curate_silver_breweries
from .conftest import SF_SMOKE
from datalake_breweries_two_spark.plans.medallion import (
    MedallionConfig,
    QualityGateError,
    run_medallion,
)

N_ROWS = 120


def _write_bronze(tmp_path, n=N_ROWS, break_quality=False):
    bronze_dir = str(tmp_path / "bronze")
    os.makedirs(bronze_dir, exist_ok=True)
    rows = []
    for i in range(n):
        rows.append(
            {
                "id": "" if (break_quality and i < 5) else f"b{i:04d}",
                "name": f"  Brewery {i} ",
                "brewery_type": ["Micro", "NANO", "brewpub"][i % 3],
                "address_1": f"{i} Main St",
                "address_2": None if i % 2 else "Suite 2",
                "address_3": None,
                "city": f" City{i % 7} ",
                "state_province": f"State{i % 5}",
                "country": "United States",
                "longitude": str(-120.0 + i * 0.01),
                "latitude": str(40.0 + i * 0.01),
            }
        )
    with open(os.path.join(bronze_dir, "part-0.json"), "w") as f:
        f.write("\n".join(json.dumps(r) for r in rows))
    return bronze_dir


def _config(tmp_path):
    return MedallionConfig(
        base_dir=str(tmp_path / "lake"),
        bronze_schema=BRONZE_BREWERY_SCHEMA,
        curate=curate_silver_breweries,
        aggregate=lambda df: group_count(
            df, ["brewery_type", "state"], "id", "brewery_count"
        ),
        silver_partition_by=["state"],
        critical_columns=["id", "brewery_name", "brewery_type"],
        min_rows=100,
    )


def test_medallion_end_to_end(spark, tmp_path):
    bronze_dir = _write_bronze(tmp_path)
    result = run_medallion(spark, _config(tmp_path), bronze_dir)

    assert result.quality.passed
    assert result.quality.total_rows == N_ROWS
    assert result.gold_rows == 3 * 5  # types × states

    silver = spark.read.parquet(result.silver_path)
    # curation semantics: trim, lower, null-skipping concat_ws, double casts
    row = silver.filter(silver.id == "b0001").first()
    assert row["brewery_name"] == "Brewery 1"
    assert row["brewery_type"] in ("micro", "nano", "brewpub")
    assert ", Suite 2" not in row["full_address"] or row["full_address"].count(",") == 1
    assert isinstance(row["longitude"], float)
    # partitioned layout: hive-style state dirs exist
    assert any(d.startswith("state=") for d in os.listdir(result.silver_path))

    gold = spark.read.parquet(result.gold_path)
    assert gold.columns == ["brewery_type", "state", "brewery_count"]
    assert gold.agg({"brewery_count": "sum"}).first()[0] == N_ROWS


def test_quality_gate_blocks_gold(spark, tmp_path):
    bronze_dir = _write_bronze(tmp_path, break_quality=True)
    cfg = _config(tmp_path)
    with pytest.raises(QualityGateError, match="id"):
        run_medallion(spark, cfg, bronze_dir)
    assert not os.path.exists(os.path.join(cfg.base_dir, "gold"))


def test_quality_gate_min_rows(spark, tmp_path):
    bronze_dir = _write_bronze(tmp_path, n=50)
    with pytest.raises(QualityGateError, match="row count"):
        run_medallion(spark, _config(tmp_path), bronze_dir)


def test_readme_counts_match_registry():
    """README's query/oracle counts must track the live registry — the
    contract doc may never drift from what the driver enumerates."""
    import re

    import __spark_entry__ as e

    n_q, n_o = len(e.queries()), len(e.oracle_sql())
    readme = open(os.path.join(os.path.dirname(__file__), "..", "README.md")).read()
    claims = re.findall(r"(\d+) (?:declared )?queries", readme)
    assert claims and all(int(c) == n_q for c in claims), (claims, n_q)
    m = re.search(r"(\d+) with a\s+DuckDB oracle", readme)
    assert m and int(m.group(1)) == n_o, (m, n_o)


def test_spark_entry_adapter_contract(spark, tmp_path, monkeypatch):
    """The driver-facing adapter must (a) smoke-run entry(), (b) expose
    every registry query exactly once (no drops, no dups), (c) only
    declare oracles for registered queries, and (d) order queries for the
    bounded prefix each verification round checks: no passing evidence
    (never checked, or failed in the latest record) first, then by the
    round of the latest record, oldest first, registry order breaking
    ties."""
    import functools
    import importlib.util
    import json

    from datalake_breweries_two_spark import evidence
    from datalake_breweries_two_spark.entry_queries import ORACLE_SQL, QUERIES

    spec = importlib.util.spec_from_file_location(
        "spark_entry_contract",
        os.path.join(os.path.dirname(__file__), "..", "__spark_entry__.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    q = mod.queries()
    assert set(q) == set(QUERIES), "rotation dropped or invented queries"
    assert list(q) != [], "empty registry"
    o = mod.oracle_sql()
    assert set(o) == set(ORACLE_SQL)
    assert set(o) <= set(q), "oracle declared for unregistered query"

    ok = {"err": None, "rows_match": True, "schema_match": True,
          "hash_match": True}
    a, b, c, d, f, r = list(QUERIES)[:6]
    snapshots = {
        1: {a: ok, b: ok, f: ok},
        2: {c: ok, r: {"err": "no_oracle"}},
        3: {b: ok, f: {**ok, "hash_match": False}},
    }
    for rnd, snap in snapshots.items():
        (tmp_path / f"CORRECTNESS_r{rnd:02d}.json").write_text(json.dumps(snap))
    monkeypatch.setattr(
        evidence,
        "correctness_records",
        functools.partial(evidence.correctness_records, str(tmp_path)),
    )
    assert list(mod.queries()) == [d, f, *list(QUERIES)[6:], a, c, r, b]

    flagship = mod.entry(spark)
    assert flagship.count() >= 0
    assert len(flagship.columns) >= 2


def test_medallion_plan_gate_blocks_row_python(spark, tmp_path):
    """A user-supplied aggregate that smuggles in a row-at-a-time Python
    UDF must abort the pipeline BEFORE the gold write (error-level advisor
    finding); the clean pipeline reports zero error findings."""
    import json as _json

    from pyspark.sql import functions as F
    from pyspark.sql.functions import udf

    from datalake_breweries_two_spark.catalog import BRONZE_BREWERY_SCHEMA
    from datalake_breweries_two_spark.plans.advisor import PlanAuditError
    from datalake_breweries_two_spark.plans.medallion import (
        MedallionConfig,
        run_medallion,
    )

    bronze_dir = str(tmp_path / "bronze")
    os.makedirs(bronze_dir)
    rows = [
        {"id": str(i), "name": f"b{i}", "brewery_type": "micro",
         "address_1": "x", "address_2": None, "address_3": None,
         "city": "c", "state_province": "s", "country": "US",
         "longitude": "1.0", "latitude": "2.0"}
        for i in range(150)
    ]
    with open(os.path.join(bronze_dir, "page0.json"), "w") as f:
        for r in rows:
            f.write(_json.dumps(r) + "\n")

    bad = udf(lambda s: (s or "").upper())

    def curate(df):
        return df.select("id", "name", "brewery_type")

    def bad_aggregate(df):
        return df.groupBy(bad(F.col("brewery_type")).alias("t")).count()

    cfg = MedallionConfig(
        base_dir=str(tmp_path / "lake"),
        bronze_schema=BRONZE_BREWERY_SCHEMA,
        curate=curate,
        aggregate=bad_aggregate,
        critical_columns=["id", "name"],
        min_rows=100,
    )
    with pytest.raises(PlanAuditError):
        run_medallion(spark, cfg, bronze_dir)
    # gold must NOT have been written
    assert not os.path.exists(os.path.join(str(tmp_path / "lake"), "gold"))

    def good_aggregate(df):
        return df.groupBy("brewery_type").count()

    cfg2 = MedallionConfig(
        base_dir=str(tmp_path / "lake2"),
        bronze_schema=BRONZE_BREWERY_SCHEMA,
        curate=curate,
        aggregate=good_aggregate,
        critical_columns=["id", "name"],
        min_rows=100,
    )
    res = run_medallion(spark, cfg2, bronze_dir)
    assert res.gold_rows == 1
    assert [f for f in res.plan_findings if f.severity == "error"] == []


def test_cli_surface(spark, tmp_path):
    """The CLI verbs must work in-process: list-queries covers the full
    registry, run-medallion executes the brewery pipeline end-to-end, and
    audit-query returns exit 0 on a clean plan. (spark fixture keeps the
    JVM warm; the CLI builds/stops its own session via the shared
    factory, which getOrCreate()-reuses this one.)"""
    import io
    import json as _json
    from contextlib import redirect_stderr, redirect_stdout

    from datalake_breweries_two_spark.__main__ import main
    from datalake_breweries_two_spark.entry_queries import QUERIES

    out = io.StringIO()
    with redirect_stdout(out):
        assert main(["list-queries"]) == 0
    listed = dict(
        line.split("\t") for line in out.getvalue().strip().splitlines()
    )
    assert set(listed) == set(QUERIES)

    bronze_dir = str(tmp_path / "bronze")
    os.makedirs(bronze_dir)
    rows = [
        {"id": str(i), "name": f"b{i}", "brewery_type": ["micro", "nano"][i % 2],
         "address_1": "x", "address_2": None, "address_3": None,
         "city": "c", "state_province": "s", "country": "US",
         "longitude": "1.0", "latitude": "2.0"}
        for i in range(120)
    ]
    with open(os.path.join(bronze_dir, "page0.json"), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    out = io.StringIO()
    with redirect_stdout(out):
        rc = main([
            "run-medallion", "--bronze-dir", bronze_dir,
            "--base-dir", str(tmp_path / "lake"),
        ])
    assert rc == 0
    res = _json.loads(out.getvalue())
    assert res["quality_passed"] is True and res["gold_rows"] == 2

    out, err = io.StringIO(), io.StringIO()
    with redirect_stdout(out), redirect_stderr(err):
        rc = main(["audit-query", "q_topk", "--sf-dir", SF_SMOKE])
    assert rc == 0


def test_bench_noise_canary_shape(spark):
    """The r16 noise canary must produce the machine-readable
    host-condition stamp BENCH_DETAIL.json promises: all documented keys,
    n_runs samples, index = median/ref, and a positive ref constant (the
    job is engine-independent, so only the shape is assertable here)."""
    import bench

    assert 0 < bench.CANARY_REF_END_SEC < bench.CANARY_REF_START_SEC
    c = bench._noise_canary(
        spark, cpus=4, ref_sec=bench.CANARY_REF_START_SEC, n_runs=3
    )
    assert sorted(c) == [
        "cpus", "max_index", "max_sec", "median_sec", "noise_index",
        "ref_sec", "runs",
    ]
    assert c["cpus"] == 4
    assert len(c["runs"]) == 3 and all(s > 0 for s in c["runs"])
    assert c["ref_sec"] == bench.CANARY_REF_START_SEC
    assert c["noise_index"] == round(c["median_sec"] / c["ref_sec"], 3)
    assert c["max_sec"] == max(c["runs"]) and c["max_index"] >= c["noise_index"]


def test_bench_reference_covers_headline():
    """Every bench headline query has a positive quiet-host reference time
    (the stall detector's threshold)."""
    import bench

    unsized = [n for n, ref in bench.HEADLINE.items() if not ref > 0]
    assert not unsized, f"headline queries without a positive ref: {unsized}"


def test_no_hard_coded_checkout_path():
    """Nothing may assume where the checkout lives: paths derive from
    ``__file__``."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    needle = os.path.join(os.sep, "root", "repo")
    paths = [os.path.join(root, f) for f in ("__spark_entry__.py", "bench.py")]
    for sub in ("datalake_breweries_two_spark", "tests", "tools"):
        for dirpath, _, files in os.walk(os.path.join(root, sub)):
            paths += [os.path.join(dirpath, f) for f in files if f.endswith(".py")]
    offenders = [p for p in paths if needle in open(p, encoding="utf-8").read()]
    assert not offenders, offenders


def test_python_workers_import_package_from_any_cwd(tmp_path):
    """A query whose decode stage runs in Python workers succeeds when the
    driver's cwd is outside the checkout: the workers import the package
    from the checkout, not from the cwd they inherit."""
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = (
        "import sys\n"
        f"sys.path.insert(0, {root!r})\n"
        "from datalake_breweries_two_spark.entry_queries import QUERIES\n"
        "from datalake_breweries_two_spark.session import build_session\n"
        "spark = build_session(app_name='cwd', shuffle_partitions=2)\n"
        f"print('ROWS', len(QUERIES['q_wav_decode'](spark, {SF_SMOKE!r}).collect()))\n"
        "spark.stop()\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    proc = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert "ROWS 24" in proc.stdout, proc.stdout


def test_tools_scripts_compile_and_resolve_package_imports():
    """Every ``tools/*.py`` compiles, and every name it imports from the
    package resolves, so deleting a helper cannot leave a broken script
    behind unnoticed. Parses and imports only; no script runs."""
    import ast
    import importlib

    pkg = "datalake_breweries_two_spark"
    tools = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
    scripts = sorted(f for f in os.listdir(tools) if f.endswith(".py"))
    assert scripts
    unresolved = []
    for script in scripts:
        path = os.path.join(tools, script)
        with open(path, encoding="utf-8") as fh:
            tree = ast.parse(fh.read(), path)
        compile(tree, path, "exec")
        for node in ast.walk(tree):
            if not isinstance(node, ast.ImportFrom) or node.level:
                continue
            if node.module != pkg and not node.module.startswith(pkg + "."):
                continue
            mod = importlib.import_module(node.module)
            for alias in node.names:
                if hasattr(mod, alias.name):
                    continue
                try:
                    importlib.import_module(f"{node.module}.{alias.name}")
                except ModuleNotFoundError:
                    unresolved.append((script, node.module, alias.name))
    assert not unresolved, unresolved


def test_no_spark_sql_literal_copies_an_oracle():
    """A query whose SQL runs unchanged in Spark and DuckDB passes its
    ``ORACLE_SQL`` entry to Spark instead of a second copy of the text. No
    string literal passed to a call in ``entry_queries.py`` may equal an
    oracle once whitespace, case and a ``_v`` view-name suffix are
    normalised. Parses only; no query runs."""
    import ast
    import re

    from datalake_breweries_two_spark import entry_queries

    def norm(sql):
        return " ".join(re.sub(r"\b(\w+)_v\b", r"\1", sql).lower().split())

    oracles = {norm(sql): name for name, sql in entry_queries.ORACLE_SQL.items()}
    with open(entry_queries.__file__, encoding="utf-8") as fh:
        tree = ast.parse(fh.read())
    copies = [
        (node.lineno, oracles[norm(arg.value)])
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        for arg in node.args
        if isinstance(arg, ast.Constant)
        and isinstance(arg.value, str)
        and norm(arg.value) in oracles
    ]
    assert not copies, f"SQL literals that copy an oracle (line, oracle): {copies}"


def test_no_per_query_name_table_outside_the_registry():
    """A query's facts live on its ``@query`` in ``entry_queries.py``. No
    dict or set literal elsewhere in the package, ``bench.py``,
    ``__spark_entry__.py``, ``tools/`` or ``tests/`` may name three or more
    registered queries as keys or elements; lists (test parametrizations,
    workload lists) stay allowed. Parses only; no query runs."""
    import ast
    import glob

    from datalake_breweries_two_spark import entry_queries

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    names = set(entry_queries.QUERIES)
    paths = [os.path.join(root, f) for f in ("bench.py", "__spark_entry__.py")]
    for pattern in ("datalake_breweries_two_spark/**/*.py", "tools/*.py", "tests/*.py"):
        paths += glob.glob(os.path.join(root, pattern), recursive=True)
    tables = []
    for path in paths:
        if os.path.samefile(path, entry_queries.__file__):
            continue
        with open(path, encoding="utf-8") as fh:
            tree = ast.parse(fh.read())
        targets = {
            id(node.value): ast.unparse(getattr(node, "target", None) or node.targets[0])
            for node in ast.walk(tree)
            if isinstance(node, (ast.Assign, ast.AnnAssign))
        }
        for node in ast.walk(tree):
            if isinstance(node, ast.Dict):
                elts = node.keys
            elif isinstance(node, ast.Set):
                elts = node.elts
            else:
                continue
            named = [e for e in elts if isinstance(e, ast.Constant) and e.value in names]
            if len(named) >= 3:
                where = f"{os.path.relpath(path, root)}:{node.lineno}"
                tables.append(f"{where} {targets.get(id(node), '<literal>')}")
    assert not tables, f"per-query name tables outside the registry: {tables}"


def test_registry_import_deletes_no_scratch_dir():
    """Importing the registry deletes nothing: a dead process's scratch dir
    survives a reload of ``entry_queries``, and this process's first
    scratch path sweeps it."""
    import importlib
    import shutil
    import subprocess
    import sys

    from datalake_breweries_two_spark import entry_queries

    dead = subprocess.Popen([sys.executable, "-c", "pass"])
    dead.wait()
    planted = os.path.join(entry_queries._SCRATCH_ROOT, f"pid{dead.pid}")
    os.makedirs(planted, exist_ok=True)
    try:
        reloaded = importlib.reload(entry_queries)
        assert os.path.isdir(planted), "importing the registry swept scratch"
        reloaded._scratch("probe")
        assert not os.path.exists(planted), "the first scratch path did not sweep"
    finally:
        shutil.rmtree(planted, ignore_errors=True)


@pytest.mark.parametrize("text", ["{not json", "[]"], ids=["malformed", "list"])
def test_cli_audit_rejects_a_bad_waivers_file(tmp_path, capsys, text):
    """A WAIVERS.json that is not a readable JSON object fails the audit
    with a message naming the file, instead of silently waiving nothing."""
    from datalake_breweries_two_spark.__main__ import main

    path = tmp_path / "WAIVERS.json"
    path.write_text(text)
    assert main(["audit", "--repo-dir", str(tmp_path)]) == 2
    assert str(path) in capsys.readouterr().err


def test_cli_audit_accounting_matches_artifacts(capsys):
    """The `audit` verb must enumerate the registry exactly once, derive
    statuses only from CORRECTNESS_r*.json evidence, and exit 0 while no
    driver failure exists on disk."""
    import json as _json

    from datalake_breweries_two_spark.__main__ import main

    rc = main(["audit", "--repo-dir", os.path.join(os.path.dirname(__file__), "..")])
    out = capsys.readouterr()
    assert rc == 0
    rows = [l for l in out.out.splitlines() if l.startswith("| q_")]
    import __spark_entry__ as e

    assert len(rows) == len(e.queries())
    summary = _json.loads(out.err.strip().splitlines()[-1])
    assert summary["registry"] == len(e.queries())
    assert summary["with_oracle"] == len(e.oracle_sql())
    # tripwire: any UNWAIVED driver failure (or a regression of a
    # previously-passing query) must turn the suite red; a failure whose
    # fix landed and is documented in WAIVERS.json is tolerated until the
    # driver's re-check round replaces the evidence
    assert summary["driver_fail"] == summary["driver_fail_waived"], (
        "unwaived driver failures on disk — fix them or document the "
        "pending fix in WAIVERS.json"
    )
    assert summary["regressed"] == []
    assert (
        summary["driver_pass"]
        + summary["driver_rows_only_run"]
        + summary["driver_fail"]
        + summary["local_only"]
        == summary["registry"]
    )
