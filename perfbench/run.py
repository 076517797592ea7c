"""Benchmark of the OTLP -> Parquet engine: one command, two workloads.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 10 --trace 0

Run from the repository root. Every input is generated from `--seed` under
`.perfbench_work/` in the current directory, which is deleted again at the
end. The last line of standard output is one JSON object:
`{"correct", "attempted", "failed", "metrics"}`; with `--trace 0` the
metrics are the end-to-end metrics of BENCHMARK.json, with `--trace 1` its
per-layer metrics, and `--spans FILE` writes the traced run's spans as an
OTLP/JSON ExportTraceServiceRequest. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# workload -> the module whose run(ctx, session_s) measures it
WORKLOADS = {"ingest": "ingest_batch", "query": "query"}


class Context:
    """What a workload gets: the session, a tracer, a private work dir and
    the run's parameters. Failures are recorded by name."""

    def __init__(self, args, spark, tracer, work: str) -> None:
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.attempted = 0
        self.failures: list[str] = []

    def check(self, ok: bool, name: str) -> None:
        """Count one checked operation; a failed one is printed by name."""
        self.attempted += 1
        if not ok:
            self.failures.append(name)
            print(f"FAILED {name}", file=sys.stderr, flush=True)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


def _prepare_env(work: str) -> None:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["TMPDIR"] = tmp
    # the JVM's temp files stay in the work dir too
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 1)
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    # the Python workers must run the interpreter this process runs
    os.environ["PYSPARK_PYTHON"] = sys.executable


def start_session(work: str):
    from otlp2parquet_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the gateway JVM, and wait until every process this
    run started has exited."""
    from pyspark import SparkContext

    from noise import descendants

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 20
    while (left := descendants(os.getpid())) and time.monotonic() < deadline:
        for pid in left:
            try:
                os.kill(pid, signal.SIGTERM if time.monotonic() < deadline - 10 else signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.2)
        for pid in left:
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--spans", help="write the traced run's spans (OTLP/JSON) here")
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sys.path[:0] = [ROOT, HERE]
    import otlp2parquet_spark  # noqa: F401  (fail before any work when absent)

    import noise
    from spans import Tracer

    work = os.path.join(os.getcwd(), ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _prepare_env(work)
    module = __import__(WORKLOADS[args.workload])

    cal_before = noise.cal_kernel()
    spark = None
    try:
        with noise.RssSampler() as rss, noise.Interval() as interval:
            t0 = time.perf_counter()
            spark = start_session(work)
            session_s = time.perf_counter() - t0
            tracer = Tracer(spark, counters=bool(args.trace), seed=args.seed)
            ctx = Context(args, spark, tracer, work)
            e2e, layers = module.run(ctx, session_s)
        layers.update({
            "session.start_s": session_s,
            "bench.steal_pct": interval.steal_pct,
            "bench.load_1m": interval.load_1m,
        })
        e2e["peak_rss_mb"] = rss.peak / 2**20
        if args.spans:
            with open(args.spans, "w") as f:
                json.dump(tracer.to_otlp(args.workload), f)
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)
    layers["bench.cal_kernel_s"] = statistics.median([cal_before, noise.cal_kernel()])

    # the values not printed go to stderr: traced end-to-end values give
    # the tracing overhead, untraced noise stamps tell a noisy host
    print(json.dumps({"end_to_end": e2e, "layers": layers}), file=sys.stderr)
    if args.trace:
        names = [(m["name"], m["unit"]) for m in spec["per_layer"]]
        values = layers
    else:
        names = [(m["name"], m["unit"]) for m in spec["end_to_end"]]
        values = e2e
    missing = [n for n, _ in names if n not in values]
    if missing and not args.trace:
        raise RuntimeError(f"workload did not measure {missing}")
    metrics = {n: {"value": float(values.get(n, 0.0)), "unit": u} for n, u in names}
    print(json.dumps({
        "correct": not ctx.failures,
        "attempted": ctx.attempted,
        "failed": len(ctx.failures),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
