"""Control-plane benchmark: geo write→sync→read, and the analytics suite.

Usage (from the repository root)::

    python3 perfbench/run.py --workload geo_write_sync --seed 1 --seconds 15 --trace 0

One process runs one workload on ``local[<nproc / 2>]``: it generates the
workload's inputs from ``--seed``, warms up on a throwaway state, builds
the starting state several times (``setup_s`` is the median), then runs a
closed loop for ``--seconds`` and checks every result.  Times in the JSON
line are CPU time of the benchmark's processes (see
``workloads.CpuClock``); wall-clock figures are printed above it.
``--trace 1`` wraps the package's ``control``, ``lake`` and
query-registry surfaces with in-memory spans and reports per-layer
numbers instead of end-to-end ones.  Human-readable lines go first; the
last line of stdout is the JSON result.  All scratch state lives under
``.perfbench/`` in the working directory and is removed at exit, except
the span dump of a traced run.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE_DIR = ".perfbench"
DRIVER_MEM = "2g"


def _prepare_env(work: str) -> None:
    """Make the package importable by Spark's Python workers, size the
    session for this machine, and keep every scratch file inside
    ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    # half the cores as task slots: the driver's Python process, the JVM's
    # own threads and Spark's Python workers need the rest, and a shared
    # host's cores oversubscribed by the benchmark itself spread its timings
    os.environ["SPARK_GRAFT_CPUS"] = str(max(1, len(os.sched_getaffinity(0)) // 2))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None  # re-read TMPDIR


def _start_spark(work: str):
    from iceberg_hybrid_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    spark = get_spark(
        "perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.enabled": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            # no hsperfdata file in the system temp dir; a fixed set of JIT
            # compiler threads, so the CPU clock can leave them out; a
            # stop-the-world collector, whose CPU time follows allocation
            # (G1 starts concurrent marking whenever the heap passes its
            # threshold, so one window held a cycle and the next none: its
            # GC time moved between 0.2 and 1.3 CPU s per suite pass)
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
                " -XX:-UseDynamicNumberOfCompilerThreads -XX:+UseSerialGC",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    spark.stop()
    if proc is None:
        return
    if proc.stdin:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except Exception:  # noqa: BLE001 — any failure to exit is forced
        proc.kill()
        proc.wait(timeout=30)


def _peak_rss_mb(spark) -> float:
    """Peak resident set of the Python driver plus the JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is not None:
        with open(f"/proc/{proc.pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


def _steal_ticks() -> int:
    """Clock ticks, summed over this machine's CPUs, that the host gave to
    other guests while these CPUs had work to run."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8])


def _install_tracer(tracer) -> int:
    import importlib

    import hooks

    names = [
        "control.backpressure", "control.event_bus", "control.gate", "control.leases",
        "control.metrics", "control.paths", "control.registry", "control.router",
        "control.sync", "control.tokens",
        "lake.catalog", "lake.gc", "lake.replication", "lake.schemas", "lake.table",
        "queries.spec",
    ]
    mods = [importlib.import_module(f"iceberg_hybrid_spark.{n}") for n in names]
    n = tracer.install(mods)
    hooks.attach(tracer)
    return n


def run(workload: str, seed: int, seconds: float, trace: bool, scale: float = 1.0,
        steps: int | None = None) -> dict:
    import report
    import workloads
    from tracer import Tracer

    t_start = time.perf_counter()
    work = os.path.join(os.getcwd(), STATE_DIR, f"run-{os.getpid()}-{time.time_ns()}")
    os.makedirs(work)
    try:
        _prepare_env(work)
        spark = _start_spark(work)
        try:
            tracer = Tracer()
            wrapped = _install_tracer(tracer) if trace else 0
            rec = workloads.Recorder(spark, tracer, trace=False,
                                     cpu=workloads.CpuClock(spark.sparkContext._gateway.proc.pid))
            wl = workloads.WORKLOADS[workload](spark, rec, work, seed, scale)
            out = workloads.Outcome()
            phases = {"start_spark": time.perf_counter() - t_start}
            t = time.perf_counter()
            # warm the JVM on a throwaway state, then time fresh set-ups;
            # the last one is the state the timed loop runs on
            wl.setup()
            out.warmup_ops = wl.warm_up()
            phases["warm_up"] = time.perf_counter() - t
            t = time.perf_counter()
            wall = []
            for _ in range(workloads.SETUP_REPEATS):
                t0, c0 = time.perf_counter(), rec.cpu()
                wl.setup()
                out.setup_s.append(rec.cpu() - c0)
                wall.append(time.perf_counter() - t0)
            out.facts["setup_wall_s"] = (statistics.median(wall), "s")
            phases["setups"] = time.perf_counter() - t
            steal0 = _steal_ticks()
            rec.discard()
            rec.trace = trace
            wl.measure(workloads.Budget(seconds, steps), out, traced_every=2 if trace else 1)
            stolen = (_steal_ticks() - steal0) / os.sysconf("SC_CLK_TCK")
            out.facts["host_steal_pct"] = (100.0 * stolen / (out.measured_s * os.cpu_count()), "%")
            out.ops = list(rec.ops)
            t = time.perf_counter()
            if hasattr(wl, "check"):
                out.failures.extend(wl.check())
            phases["check"] = time.perf_counter() - t
            for name, secs in phases.items():
                out.facts[f"phase.{name}_s"] = (secs, "s")
            out.facts["peak_rss_mb"] = (_peak_rss_mb(spark), "MB")
            if trace:
                jobs = report.job_counts(spark, [o.op_id for o in out.ops])
                dump = os.path.join(os.getcwd(), STATE_DIR, f"spans-{workload}-{seed}.tsv")
                tracer.dump(dump)
                return report.traced(workload, out, tracer, jobs, wrapped, dump)
            return report.end_to_end(workload, out, seed)
        finally:
            _stop_spark(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["geo_write_sync", "analytics_suite"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input-size factor; below 1 for smoke runs")
    ap.add_argument("--steps", type=int, default=None,
                    help="time exactly this many loop steps instead of --seconds")
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "iceberg_hybrid_spark")):
        print(f"perfbench: package iceberg_hybrid_spark not found under {ROOT}", file=sys.stderr)
        return 2
    for p in (HERE, ROOT):
        if p not in sys.path:
            sys.path.insert(0, p)
    result = run(args.workload, args.seed, args.seconds, bool(args.trace), args.scale, args.steps)
    for line in result.pop("report"):
        print(line)
    sys.stdout.flush()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
