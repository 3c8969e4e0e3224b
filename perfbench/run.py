"""Repository benchmark: one workload per process, full results, checked.

Usage, from the repository root:

    python3 perfbench/run.py --workload lake_sql --seed 1 --seconds 10 --trace 0

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. The line before it
is the run context (seed, scale, nproc, Spark version, load average, pass
times and quartiles, tail percentile). ``perfbench/README.md`` describes
the workloads and defines every metric.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Scale of each workload: a warm pass takes 5-10 s on 4 cores, so a run is a
# JIT warm-up pass plus two timed passes (README.md). lake_sql runs by hand
# only; BENCHMARK.json names the other two (README.md says why).
SQL_SF = 0.02
LLM_SF = 0.02
BRONZE_ROWS = 10_000
MIN_PASSES = 2
WORKLOADS = ("lake_sql", "llm_corpus", "lake_ingest")


def process_start_epoch() -> float:
    """Wall-clock time at which this process started (from /proc)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return time.time() - uptime + start_ticks / os.sysconf("SC_CLK_TCK")


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise ValueError(f"no VmHWM for process {pid}")


def cpu_ticks() -> list[int]:
    """Host-wide CPU ticks: user, nice, system, idle, iowait, irq, softirq,
    steal. Steal is time the hypervisor ran another guest on our CPUs."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def tail(samples: list[float]) -> tuple[float, float, int]:
    """Latency at the highest percentile with at least ten samples beyond
    it: (value, percentile, sample count)."""
    xs = sorted(samples)
    i = len(xs) - 11
    if i < 0:
        raise ValueError(f"{len(xs)} samples: a tail needs at least 11")
    return xs[i], 100.0 * (i + 1) / len(xs), len(xs)


class Layers:
    """Opens a layer span; when traced, also tags the Spark jobs the layer
    runs with a job group and counts them through ``statusTracker()``."""

    def __init__(self, spark, tracer, traced: bool) -> None:
        self.sc = spark.sparkContext
        self.tracer = tracer
        self.traced = traced
        self.op_label = ""

    @contextmanager
    def layer(self, name: str):
        group = f"{self.op_label}/{name}"
        if self.traced:
            self.sc.setJobGroup(group, group)
        with self.tracer.span(name) as span:
            yield span
        if self.traced:
            span.attrs["group"] = group
            span.attrs["jobs"] = len(self.sc.statusTracker().getJobIdsForGroup(group))
            self.sc.setJobGroup("untimed", "untimed")


def make_workload(name: str, nproc: int):
    import workloads

    if name == "lake_sql":
        return workloads.QueryWorkload(workloads.LAKE_SQL, SQL_SF)
    if name == "llm_corpus":
        return workloads.QueryWorkload(workloads.LLM_CORPUS, LLM_SF)
    return workloads.LakeIngestWorkload(BRONZE_ROWS, nproc)


def session_conf(work_dir: str, traced: bool) -> dict[str, str]:
    """Keep every file Spark, Derby and the JVM write inside ``work_dir``."""
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work_dir, "local"),
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        "spark.sql.streaming.checkpointLocation": os.path.join(work_dir, "checkpoints"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={work_dir}/tmp -Dderby.system.home={work_dir}/derby "
            "-XX:-UsePerfData"
        ),
    }
    if traced:
        log_dir = os.path.join(work_dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{log_dir}",
            "spark.eventLog.compress": "false",
        })
    return conf


def stop_spark(spark) -> None:
    """Stop the session and wait until the JVM it launched has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def run(args, work_dir: str) -> dict:
    t_process = process_start_epoch()
    nproc = os.cpu_count() or 1
    os.makedirs(os.path.join(work_dir, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work_dir, "tmp")
    tempfile.tempdir = None
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    sys.path.insert(0, ROOT)

    import pyspark

    from datalake_breweries_two_spark.session import build_session

    import telemetry

    context = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "nproc": nproc, "spark": pyspark.__version__, "loadavg_start": loadavg(),
    }
    tracer = telemetry.Tracer()
    workload = make_workload(args.workload, nproc)
    spark = listener = None
    passes = []
    attempted = 0
    t_first_op = None

    def run_pass(label: str) -> None:
        nonlocal attempted, t_first_op
        with tracer.span("pass", label=label) as s_pass:
            for op in workload.pass_ops(label):
                spark.catalog.clearCache()
                layers.op_label = f"{label}/{op}"
                error = result = None
                if label != "warm" and t_first_op is None:
                    t_first_op = time.time()
                with tracer.span("op", op=op, label=label) as s_op:
                    try:
                        result = workload.run(op, spark, layers)
                    except Exception:
                        error = traceback.format_exc()
                attempted += 1
                s_op.attrs["ok"] = error is None
                s_op.attrs["rows"] = workload.record(label, op, result, error)
                if args.trace and error is None and isinstance(result, tuple):
                    s_op.attrs["catalyst"] = telemetry.catalyst_phases(result[0])
        s_pass.attrs.update(workload.end_pass(label, spark))
        passes.append(s_pass)

    try:
        with tracer.span("inputs"):
            context.update(workload.prepare(work_dir, args.seed))
        with tracer.span("session") as s_session:
            spark = build_session(
                app_name=f"perfbench-{args.workload}",
                extra_conf=session_conf(work_dir, bool(args.trace)),
                quiet_bounded_window_warn=True,
            )
        spark.sparkContext.setLogLevel("ERROR")
        if args.trace:
            listener = telemetry.StreamListener()
            spark.streams.addListener(listener)
        layers = Layers(spark, tracer, bool(args.trace))

        with tracer.span("workload", workload=args.workload):
            # untimed warm-up on the target data: the JIT keeps warming for
            # several passes, a smaller warm-up input leaves it cold
            run_pass("warm")
            t_measure = time.perf_counter()
            ticks = cpu_ticks()
            k = 1
            while k <= MIN_PASSES or time.perf_counter() - t_measure < args.seconds:
                run_pass(f"p{k}")
                k += 1

        ticks = [b - a for a, b in zip(ticks, cpu_ticks())]
        context["steal_share"] = ticks[7] / max(1, sum(ticks))
        peak_rss = vm_hwm_mb("self") + vm_hwm_mb(spark.sparkContext._gateway.proc.pid)
        failures = workload.check()
        if listener is not None and not listener.wait_all():
            print("warning: streaming listener missed a termination event", file=sys.stderr)
    finally:
        if spark is not None:
            stop_spark(spark)
        workload.close()

    for label, op, err in failures:
        print(f"FAILED {args.workload} {label} {op}: {err.strip()}", file=sys.stderr)
    context["loadavg_end"] = loadavg()

    timed = [s for s in passes if s.attrs["label"] != "warm"]
    ops = [[c for c in tracer.children(s) if c.name == "op"] for s in timed]
    pass_s = [sum(o.dur for o in p) for p in ops]
    by_op: dict[str, list[float]] = {}
    for o in (o for p in ops for o in p):
        by_op.setdefault(o.attrs["op"], []).append(o.dur)
    # a pass of each operation's median latency: from three passes on, one
    # slow pass (a burst of host contention) moves it less than the median
    # of whole passes
    median_pass_s = sum(statistics.median(v) for v in by_op.values())
    lat = [o.dur for p in ops for o in p if o.attrs["ok"]]
    if len(lat) < 11:
        # too few successes for a tail; the run reports correct = false, so
        # take the latencies of every operation, failed ones too
        lat = [o.dur for p in ops for o in p]
    tail_s, tail_pct, n = tail(lat)
    q1, _, q3 = statistics.quantiles(pass_s, n=4)
    context.update({
        "passes": len(pass_s), "pass_s": pass_s, "pass_q1_s": q1, "pass_q3_s": q3,
        "query_tail_percentile": tail_pct, "query_samples": n,
        "peak_rss_mb": peak_rss,
    })

    if args.trace:
        metrics = telemetry.per_layer(
            tracer, timed, s_session, listener,
            telemetry.parse_event_log(os.path.join(work_dir, "eventlog")), nproc,
            context["input_bytes"],
        )
        metrics["trace.pass_s"] = (median_pass_s, "s")
        metrics["peak_rss_mb"] = (peak_rss, "MB")
    else:
        metrics = {
            "setup_s": (t_first_op - t_process, "s"),
            "pass_s": (median_pass_s, "s"),
            "query_p50_s": (statistics.median(lat), "s"),
            "query_tail_s": (tail_s, "s"),
        }
    tracer.write(os.path.join(
        ROOT, ".perfbench_out",
        f"{args.workload}-seed{args.seed}-trace{args.trace}.spans.jsonl",
    ))
    print("context " + json.dumps(context, sort_keys=True))
    return {
        "correct": not failures,
        "attempted": attempted,
        "failed": len({(label, op) for label, op, _ in failures}),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main() -> int:
    parser = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    parser.add_argument("--workload", required=True, choices=WORKLOADS)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args()
    # on SIGTERM, unwind through the finally blocks: stop Spark, wait for
    # the JVM and remove the run directory
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    work_dir = os.path.join(ROOT, ".perfbench_tmp", f"{args.workload}-{os.getpid()}")
    try:
        result = run(args, work_dir)
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work_dir))
        except OSError:
            pass  # another run's directory is still there
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
