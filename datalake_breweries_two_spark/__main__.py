"""Command-line entry point: ``python -m datalake_breweries_two_spark``.

The reference's operational surface is an Airflow DAG definition
(``dags/dag-brewery_pipeline.py``) — scheduling, retries, and task wiring
live in Airflow. This engine is a library, so the CLI covers the same
operational verbs directly:

  list-queries                      enumerate the declared registry
  run-query NAME [--sf-dir DIR]     run one declared query, print rows
  run-medallion --bronze-dir D --base-dir B
                                    execute bronze→silver→gate→gold
  audit-query NAME [--sf-dir DIR]   plan-advisor findings for a query
  audit [--repo-dir DIR]            coverage table: registry × driver
                                    CORRECTNESS evidence, regenerated
                                    from the artifacts on disk

Scheduling stays external by design (cron/Airflow/dbt invoke this CLI):
one engine process per run, one shared SparkSession inside it — NOT the
reference's three cold JVMs per DAG run (SURVEY.md §3).
"""

from __future__ import annotations

import argparse
import json
import sys

from datalake_breweries_two_spark import CHECKOUT_DIR


def _build_session(app_name: str):
    """Returns (session, owns_it): the CLI must stop only sessions IT
    created — under an embedding process (tests, a notebook) getOrCreate
    returns the host's live session, and stopping that would kill the
    host's JVM mid-run. getActiveSession() alone is thread-local (a host
    session created on another thread would read as absent), so ownership
    is decided by checking the process-global default session too and by
    identity: we own the session only if NO session object existed
    beforehand in either slot."""
    from pyspark.sql import SparkSession

    from datalake_breweries_two_spark.session import build_session

    preexisting = (
        SparkSession.getActiveSession() is not None
        # PySpark's process-global slot (the JVM default session's Python
        # mirror) has no public accessor; read it defensively so a
        # pyspark rename degrades to the thread-local check, never to a
        # crash.
        or getattr(SparkSession, "_instantiatedSession", None) is not None
    )
    return (
        build_session(app_name=app_name, quiet_bounded_window_warn=True),
        not preexisting,
    )


def _maybe_stop(spark, owns: bool) -> None:
    if owns:
        spark.stop()


def cmd_list_queries(_args: argparse.Namespace) -> int:
    from datalake_breweries_two_spark import entry_queries

    oracles = set(entry_queries.ORACLE_SQL)
    for name in entry_queries.QUERIES:
        kind = "oracle" if name in oracles else "rows-only"
        print(f"{name}\t{kind}")
    return 0


def cmd_run_query(args: argparse.Namespace) -> int:
    from datalake_breweries_two_spark import entry_queries

    if args.name not in entry_queries.QUERIES:
        print(f"unknown query: {args.name}", file=sys.stderr)
        return 2
    spark, owns = _build_session(f"cli:{args.name}")
    try:
        df = entry_queries.QUERIES[args.name](spark, args.sf_dir)
        rows = df.limit(args.limit).collect()
        for r in rows:
            print(json.dumps(r.asDict(), default=str))
        print(f"# {len(rows)} row(s) shown (limit {args.limit}); "
              f"schema: {df.schema.simpleString()}", file=sys.stderr)
    finally:
        _maybe_stop(spark, owns)
    return 0


def cmd_audit_query(args: argparse.Namespace) -> int:
    from datalake_breweries_two_spark import entry_queries
    from datalake_breweries_two_spark.plans.advisor import audit_plan

    if args.name not in entry_queries.QUERIES:
        print(f"unknown query: {args.name}", file=sys.stderr)
        return 2
    spark, owns = _build_session(f"cli-audit:{args.name}")
    try:
        df = entry_queries.QUERIES[args.name](spark, args.sf_dir)
        findings = audit_plan(df)
        for f in findings:
            print(json.dumps({"rule": f.rule, "severity": f.severity,
                              "detail": f.detail}))
        if not findings:
            print("# plan clean", file=sys.stderr)
    finally:
        _maybe_stop(spark, owns)
    return 1 if any(f.severity == "error" for f in findings) else 0


def cmd_audit(args: argparse.Namespace) -> int:
    """Regenerate the coverage-accounting table from the artifacts: for
    every registry query, its oracle kind and its hard driver-verification
    status derived from the CORRECTNESS_r{N}.json snapshots on disk —
    never hand-kept, so the table cannot drift from the evidence."""
    import os

    from datalake_breweries_two_spark import entry_queries, evidence

    best: dict[str, tuple[int, int]] = {}  # name -> (status, round)
    latest: dict[str, tuple[int, int]] = {}  # name -> (status, round)
    for rnd, name, status in evidence.correctness_records(args.repo_dir):
        # keep the FIRST round a status was earned; upgrade on better status
        if name not in best or status > best[name][0]:
            best[name] = (status, rnd)
        latest[name] = (status, rnd)

    # Waivers: a driver FAIL whose fix already landed but awaits its
    # re-check round stays visible in the table yet does not flip the
    # exit code — ONLY when WAIVERS.json documents it with a reason. A
    # missing file waives nothing; a file that cannot be read as a JSON
    # object fails the audit rather than silently waiving nothing.
    waivers_path = os.path.join(args.repo_dir, "WAIVERS.json")
    try:
        with open(waivers_path) as f:
            raw = json.load(f)
    except FileNotFoundError:
        raw = {}
    except (OSError, ValueError) as exc:
        print(f"{waivers_path}: unreadable waivers: {exc!r}", file=sys.stderr)
        return 2
    if not isinstance(raw, dict):
        print(f"{waivers_path}: waivers must be a JSON object, not "
              f"{type(raw).__name__}", file=sys.stderr)
        return 2
    waivers = {k: v for k, v in raw.items() if isinstance(v, str) and v.strip()}

    oracles = set(entry_queries.ORACLE_SQL)
    label = {evidence.PASS: "pass", evidence.RAN: "ran", evidence.FAIL: "FAIL"}
    counts = {"pass": 0, "ran": 0, "FAIL": 0, "local": 0}
    regressed: list[str] = []
    unwaived_fail: list[str] = []
    stale_waivers: list[str] = []
    print("| query | oracle | best | latest |")
    print("|---|---|---|---|")
    for name in entry_queries.QUERIES:
        kind = "duckdb" if name in oracles else "rows-only"
        if name in best:
            rank, rnd = best[name]
            lrank, lrnd = latest[name]
            status = f"{label[rank]}-r{rnd}"
            lstatus = f"{label[lrank]}-r{lrnd}"
            # the LATEST evidence decides health: a query that passed in
            # r3 but failed in r5 is a regression, not a pass
            if lrank == evidence.FAIL and rank > evidence.FAIL:
                regressed.append(name)
                lstatus += " REGRESSED"
            counts[label[lrank if lrank == evidence.FAIL else rank]] += 1
            if lrank == evidence.FAIL:
                if name in waivers:
                    lstatus += " (waived)"
                else:
                    unwaived_fail.append(name)
            elif name in waivers:
                stale_waivers.append(name)
        else:
            status, lstatus = "local", "-"
            counts["local"] += 1
            if name in waivers:
                stale_waivers.append(name)
        print(f"| {name} | {kind} | {status} | {lstatus} |")
    for name in stale_waivers:
        print(f"# stale waiver (query not failing): {name}", file=sys.stderr)
    summary = {
        "registry": len(entry_queries.QUERIES),
        "with_oracle": len(oracles),
        "driver_pass": counts["pass"],
        "driver_rows_only_run": counts["ran"],
        "driver_fail": counts["FAIL"],
        "driver_fail_waived": counts["FAIL"] - len(unwaived_fail),
        "regressed": regressed,
        "local_only": counts["local"],
    }
    print(json.dumps(summary, sort_keys=True), file=sys.stderr)
    return 1 if unwaived_fail else 0


def cmd_run_medallion(args: argparse.Namespace) -> int:
    from pyspark.sql import functions as F

    from datalake_breweries_two_spark.catalog import BRONZE_BREWERY_SCHEMA
    from datalake_breweries_two_spark.operators.aggregates import group_count
    from datalake_breweries_two_spark.operators.projection import (
        curate_silver_breweries,
    )
    from datalake_breweries_two_spark.plans.medallion import (
        MedallionConfig,
        run_medallion,
    )

    cfg = MedallionConfig(
        base_dir=args.base_dir,
        bronze_schema=BRONZE_BREWERY_SCHEMA,
        curate=curate_silver_breweries,
        aggregate=lambda df: group_count(
            df, ["brewery_type", "country"], "id", "brewery_count"
        ).orderBy(F.desc("brewery_count")),
        silver_partition_by=["country"],
        critical_columns=["id", "brewery_name", "brewery_type"],
        min_rows=args.min_rows,
    )
    spark, owns = _build_session("cli:medallion")
    try:
        res = run_medallion(spark, cfg, args.bronze_dir)
        print(json.dumps({
            "silver_path": res.silver_path,
            "gold_path": res.gold_path,
            "gold_rows": res.gold_rows,
            "quality_passed": res.quality.passed,
            "plan_warnings": [f.rule for f in res.plan_findings],
        }))
    finally:
        _maybe_stop(spark, owns)
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="datalake_breweries_two_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    sub.add_parser("list-queries").set_defaults(fn=cmd_list_queries)

    rq = sub.add_parser("run-query")
    rq.add_argument("name")
    rq.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    rq.add_argument("--limit", type=int, default=20)
    rq.set_defaults(fn=cmd_run_query)

    aq = sub.add_parser("audit-query")
    aq.add_argument("name")
    aq.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    aq.set_defaults(fn=cmd_audit_query)

    au = sub.add_parser("audit")
    au.add_argument("--repo-dir", default=CHECKOUT_DIR)
    au.set_defaults(fn=cmd_audit)

    rm = sub.add_parser("run-medallion")
    rm.add_argument("--bronze-dir", required=True)
    rm.add_argument("--base-dir", required=True)
    rm.add_argument("--min-rows", type=int, default=100)
    rm.set_defaults(fn=cmd_run_medallion)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    raise SystemExit(main())
