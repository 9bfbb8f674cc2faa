"""Benchmark entry point.

    python3 perfbench/run.py --workload refresh --seed 3 --seconds 10 --trace 0

Run from the root of a checkout. The run generates its inputs from the
seed under ``.perfbench_work/`` (removed at exit; ``refresh`` also keeps
seed-independent inputs in ``.perfbench_cache/``), starts the engine's
own session on ``local[nproc]``, sets the workload up, then runs timed
iterations until ``--seconds`` have passed (at least one), checks the
outputs outside the timed region and prints one JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones (``wall_s``,
``setup_s``); with ``--trace 1`` the per-layer ones, measured by wrapping
the package's public functions from outside (``tracer.py``). Every run also
writes an artifact with the host facts to ``.perfbench_out/``, and a
traced run writes its spans there too.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

# A run is cut off after this long; no new iteration starts past it.
ITERATION_DEADLINE_S = 120.0


def _parse(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _host_facts(root: str, spark) -> dict:
    import pyspark
    from workloads import package_sha256

    commit = None
    if os.path.isdir(os.path.join(root, ".git")):
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=root, capture_output=True, text=True
        ).stdout.strip() or None
    sc = spark.sparkContext
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "pyspark": pyspark.__version__,
        "git_commit": commit,
        "package_sha256": package_sha256(root),
    }


class _Jvm:
    """CPU, GC and peak RSS of the driver JVM, read from /proc and the
    JVM's management beans."""

    def __init__(self, spark) -> None:
        self.pid = spark.sparkContext._gateway.proc.pid
        self.jvm = spark.sparkContext._jvm

    def cpu_s(self) -> float:
        with open(f"/proc/{self.pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")

    def gc_s(self) -> float:
        beans = self.jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(b.getCollectionTime() for b in beans) / 1e3

    def peak_rss_mb(self) -> float:
        with open(f"/proc/{self.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
        return 0.0


def _stop(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv: list[str]) -> int:
    args = _parse(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "vmware_graph_spark", "__init__.py")) or not (
        os.path.isfile(os.path.join(root, "bench.py"))
    ):
        print("perfbench: run from the root of a checkout of the engine", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        return _run(args, root, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args: argparse.Namespace, root: str, work: str) -> int:
    import tracer as tracing
    from workloads import SF, WORKLOADS, Context

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    load_at_start = os.getloadavg()[0]
    out_dir = os.path.join(root, ".perfbench_out")
    # Keep every file Spark, the JVM and Python write inside the checkout.
    tmp = os.path.join(work, "tmp")
    events = os.path.join(work, "eventlog")
    for d in (tmp, events):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    submit = [
        "--driver-java-options", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "--conf", "spark.ui.showConsoleProgress=false",
    ]
    if args.trace:
        submit += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{events}",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(submit + ["pyspark-shell"])

    tracer = tracing.Tracer() if args.trace else tracing.NoTrace()
    if args.trace:
        tracer.install()
    from vmware_graph_spark.session import get_spark

    spark = get_spark(f"perfbench-{args.workload}")
    spark.sparkContext.setLogLevel("ERROR")
    if args.trace:
        tracer.attach(spark)
    jvm = _Jvm(spark)
    ctx = Context(
        spark=spark, tracer=tracer, root=root, work=work,
        tables=os.path.join(work, "tables"), seed=args.seed,
    )
    wl = WORKLOADS[args.workload]()
    wl.setup(ctx)
    setup_s = time.perf_counter() - T_PROCESS - ctx.input_s

    walls: list[float] = []
    loads: list[float] = []
    errors: list[str] = []
    attempted = failed = 0
    jvm_cpu = jvm_gc = 0.0
    loop_start = time.perf_counter()
    while attempted == 0 or time.perf_counter() - loop_start < args.seconds:
        if walls and time.perf_counter() - T_PROCESS + max(walls) > ITERATION_DEADLINE_S:
            break
        loads.append(os.getloadavg()[0])
        tracer.run_id = attempted
        attempted += 1
        try:
            cpu0, gc0 = jvm.cpu_s(), jvm.gc_s() if args.trace else 0.0
            with tracer.span("bench.iteration", "bench"):
                t0 = time.perf_counter()
                out = wl.iteration(ctx, attempted - 1)
                wall = time.perf_counter() - t0
            jvm_cpu += jvm.cpu_s() - cpu0
            jvm_gc += jvm.gc_s() - gc0 if args.trace else 0.0
            tracer.run_id = -1
            errs = wl.check(ctx, out)
        except Exception as e:  # a failed iteration counts toward error_rate
            errs = [f"iteration {attempted - 1} raised {type(e).__name__}: {e}"]
        else:
            walls.append(wall)
        finally:
            tracer.run_id = -1
        if errs:
            failed += 1
            errors += errs
    peak_rss = jvm.peak_rss_mb()
    facts = _host_facts(root, spark)
    if args.trace:
        tracer.uninstall()
    _stop(spark)
    for err in errors:
        print(f"check failed: {err}")
    if not walls:
        return 1

    wall = statistics.median(walls)
    end_to_end = {
        "wall_s": {"value": wall, "unit": "s"},
        "setup_s": {"value": setup_s, "unit": "s"},
    }
    report = dict(end_to_end)
    report["error_rate"] = {"value": failed / attempted, "unit": "ratio"}
    report.update(wl.extra_metrics())
    artifact = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "sf": SF, "host": facts,
        "load_1m_at_start": load_at_start, "load_1m_per_run": loads,
        "input_generation_s": ctx.input_s, "walls_s": walls,
        "jvm_cpu_s_per_run": jvm_cpu / attempted, "jvm_peak_rss_mb": peak_rss,
        "errors": errors, "metrics": report,
    }
    metrics = end_to_end
    if args.trace:
        layer = tracing.layer_metrics(tracer, len(walls))
        layer.update(tracing.spark_metrics(events, tracer.spans, len(walls)))
        layer.update({
            "jvm.cpu_s": jvm_cpu / len(walls), "jvm.gc_s": jvm_gc / len(walls),
            "jvm.peak_rss_mb": peak_rss, "trace.wall_s": wall,
        })
        units = dict(tracing.per_layer_metrics())
        metrics = {k: {"value": layer[k], "unit": u} for k, u in units.items()}
        artifact["per_layer"] = metrics
        stamp = f"{args.workload}-seed{args.seed}-{int(time.time())}"
        tracer.dump(os.path.join(out_dir, f"spans-{stamp}.jsonl"))
    os.makedirs(out_dir, exist_ok=True)
    name = f"run-{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}.json"
    with open(os.path.join(out_dir, name), "w") as f:
        json.dump(artifact, f, indent=1)

    for k, m in report.items():
        print(f"{args.workload} {k} {m['value']:.4f} {m['unit']}")
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
