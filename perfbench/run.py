"""Run one benchmark workload and print its result.

    python3 perfbench/run.py --workload cdc_ingest --seed 1 --seconds 12 --trace 0

Run from the repository root.  The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``; every workload reports the same names).  The line before
it reports the host's CPU steal and busy shares for the run and each
phase, and the workload's own figures (``detail``).  Every run is also appended
to ``.bench_out/runs.jsonl``; traced runs write their spans to
``.bench_out/spans/``.  Scratch data lives in ``.bench_work/`` and is
removed when the run ends.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()  # set-up time counts from here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from contextlib import nullcontext  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.stats import HostCpu, RssSampler, process_tree  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402
from perfbench.workloads import WORKLOADS, Ctx  # noqa: E402


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def configure_env(work: str) -> int:
    """Point every scratch location Spark, the JVM and Python use into
    ``work`` and pin the engine's parallelism to this host's CPUs.  The
    driver heap stays at the engine's own default."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # every JVM (spark-submit's launcher too) keeps its perf counters in
    # memory instead of a file under /tmp/hsperfdata_<user>
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:+PerfDisableSharedMem"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", shlex.quote(f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"),
        "--driver-java-options", shlex.quote(f"-Djava.io.tmpdir={tmp}"),
        "pyspark-shell",
    ])
    return cpus


def stop_spark(spark) -> None:
    """Stop the session, wait for the JVM it launched to exit, then for
    the JVM's own children (Python workers) to go too."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    others = [pid for pid in process_tree(os.getpid()) if pid != os.getpid()]
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the launcher exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 10
    for pid in others:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "cdc_demo_spark")):
        print(f"no cdc_demo_spark package under {ROOT}: run from a full checkout",
              file=sys.stderr)
        return 2
    os.chdir(ROOT)
    out_dir = os.path.join(ROOT, ".bench_out")
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(out_dir, "spans"), exist_ok=True)
    cpus = configure_env(work)

    host = HostCpu()
    spark = None
    try:
        # only traced runs sample memory: a sample walks the JVM's page
        # tables (tens of ms, under its mmap lock), which would slow the
        # operations the end-to-end metrics time
        rss = RssSampler()
        with rss if args.trace else nullcontext():
            from cdc_demo_spark.session import get_spark

            with host.phase("session"):
                spark = get_spark(f"perfbench-{args.workload}")
                spark.sparkContext.setLogLevel("ERROR")
            session_s = time.perf_counter() - T_PROCESS
            ctx = Ctx(spark=spark, tracer=Tracer(spark), host=host, work=work,
                      seed=args.seed, seconds=args.seconds, trace=bool(args.trace),
                      t_process=T_PROCESS, rss=rss)
            ctx.tracer.enabled, ctx.tracer.op_id = ctx.trace, "setup"
            WORKLOADS[args.workload](ctx)
            if args.trace:
                ctx.tracer.write(os.path.join(
                    out_dir, "spans", f"{args.workload}-s{args.seed}-{os.getpid()}.jsonl"))
            with host.phase("stop"):
                stop_spark(spark)
            spark = None
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    ctx.e2e["setup_s"] = (ctx.setup_s, "s")
    cpu = host.total()
    ctx.layer["session.start_s"] = (session_s, "s")
    ctx.layer["fixture_s"] = (ctx.setup_s - session_s, "s")
    if args.trace:
        ctx.layer["peak_rss_mb"] = ctx.detail["peak_rss_mb"] = (rss.peak_mb, "MB")
    ctx.layer["host.steal_pct"] = (cpu["steal_pct"], "%")
    ctx.layer["host.busy_pct"] = (cpu["busy_pct"], "%")
    metrics = ctx.layer if args.trace else ctx.e2e
    result = {
        "correct": ctx.failed == 0 and all(ctx.gates.values()),
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in sorted(metrics.items())},
    }
    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "cpus": cpus, "time": time.time(), "host": cpu,
              "phases": host.phases, "gates": ctx.gates, "info": ctx.info,
              "ops": ctx.ops, "detail": ctx.detail,
              "e2e": result["metrics"] if not args.trace else None,
              "layer": result["metrics"] if args.trace else None,
              "correct": result["correct"], "attempted": ctx.attempted, "failed": ctx.failed}
    with open(os.path.join(out_dir, "runs.jsonl"), "a") as f:
        f.write(json.dumps(record) + "\n")
    print("host: " + json.dumps({"cpus": cpus, **cpu, "phases": host.phases,
                                 "info": ctx.info, "detail": ctx.detail}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
