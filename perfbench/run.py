"""Benchmark entry point.

    python3 perfbench/run.py --workload cube_service --seed 1 --seconds 10 --trace 0

Run it from the repository root. It starts a local Spark session on every
core (`local[nproc]`), builds the workload's inputs from the seed, warms up
where the workload does, measures for `--seconds`, checks every output,
and prints as its last line one JSON object: `correct`, `attempted`,
`failed` and `metrics`. With
`--trace 0` the metrics are the end-to-end metrics of BENCHMARK.json; with
`--trace 1` they are its per-layer metrics, and the spans are written to
`.perfbench_out/`. The line before it is the run's record: environment,
failed fraction, store counts and any problems found.

All files a run makes go under `.perfbench_tmp/` in the working directory
and are removed when it ends, and the Spark JVM is stopped and waited for.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

END_TO_END = {"setup_s": "s", "op_cpu_s": "s"}  # name -> unit


def layer_units() -> dict[str, str]:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def parse_args(argv):
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def isolate(root: str) -> str:
    """Per-run directory under the working directory; temp files, Spark
    local dirs and the JVM's tmpdir all go there."""
    base = os.path.join(root, ".perfbench_tmp")
    os.makedirs(base, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="run-", dir=base)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        # no hsperfdata file under /tmp: the JVM writes only inside the run
        # dir. C1 only: with the C2 compiler the CPU an operation costs keeps
        # falling for hundreds of operations, as compiler threads work in
        # the background, so a short run would measure a point on that
        # curve that moves with the host's load; with C1 it is flat after
        # a few operations.
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        " -XX:TieredStopAtLevel=1'",
        "--conf spark.ui.showConsoleProgress=false",
        # the job census reads the status store after the window: keep
        # every job and stage of a run in it
        "--conf spark.ui.retainedJobs=100000",
        "--conf spark.ui.retainedStages=100000",
        "pyspark-shell",
    ])
    return run_dir


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:  # a hung JVM is killed, then reaped
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this process plus the Spark JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{jvm_pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


def git_commit(root: str) -> str:
    head = os.path.join(root, ".git", "HEAD")
    if not os.path.exists(head):
        return "unknown (not a git checkout)"
    with open(head) as f:
        ref = f.read().strip()
    if ref.startswith("ref: "):
        path = os.path.join(root, ".git", ref[5:])
        if os.path.exists(path):
            with open(path) as f:
                return f.read().strip()
    return ref


def summary(ops, setup_s: float) -> dict[str, float]:
    """The end-to-end metrics, and the operations' wall time: median
    latency and completed operations per second of the window."""
    starts = min(op.start for op in ops)
    ends = max(op.start + op.wall_s for op in ops)
    return {
        "setup_s": setup_s,
        "op_cpu_s": statistics.median(op.cpu_s for op in ops),
        "op_p50_s": statistics.median(op.wall_s for op in ops),
        "ops_per_s": len(ops) / (ends - starts),
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "ophidia_server_spark")):
        print("run from the repository root: ophidia_server_spark/ not found",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    # a terminated run still stops its JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    run_dir = isolate(root)
    os.chdir(run_dir)
    spark = None
    try:
        import layers
        from cpuclock import host_steal_s
        from spans import Tracer
        from workloads import WORKLOADS, Bench

        from ophidia_server_spark.session import get_spark

        t0 = time.perf_counter()
        spark = get_spark("perfbench")
        session_s = time.perf_counter() - t0
        tracer = Tracer(enabled=bool(args.trace))
        b = Bench(spark, args.seed, args.seconds, tracer, run_dir)
        b.setup["session.start_s"] = session_s
        steal0, t_workload = host_steal_s(), time.perf_counter()
        ops = WORKLOADS[args.workload](b)
        # share of the CPUs' time the hypervisor gave to other guests
        steal = (host_steal_s() - steal0) / (
            (time.perf_counter() - t_workload) * os.cpu_count())
        setup_s = min(op.start for op in ops) - T_PROCESS
        if b.server is not None:
            b.server.stop()
        summ = summary(ops, setup_s)
        rss = peak_rss_mb(spark)
        metrics = {k: summ[k] for k in END_TO_END}
        if args.trace:
            metrics = layers.per_layer(b, ops, summ, layer_units())
            metrics["process.peak_rss_mb"] = rss
            out = os.path.join(root, ".perfbench_out")
            os.makedirs(out, exist_ok=True)
            tracer.dump(os.path.join(out, f"{args.workload}-seed{args.seed}-spans.json"))
        sc = spark.sparkContext
        record = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "master": sc.master,
            "defaultParallelism": sc.defaultParallelism,
            "nproc": len(os.sched_getaffinity(0)),
            "git_commit": git_commit(root),
            "failed_frac": b.tally.failed / max(1, b.tally.attempted),
            "ops": len(ops), "op_walls_s": [round(op.wall_s, 4) for op in ops],
            "op_cpu_s": [round(op.cpu_s, 3) for op in ops],
            "host_steal_frac": steal,
            "setup": b.setup, **b.record,
            "problems": b.tally.problems,
            "summary": summ, "peak_rss_mb": rss,
        }
    finally:
        if spark is not None:
            stop_spark(spark)
        os.chdir(root)
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:  # another run still has its directory there
            pass
    units = {**END_TO_END, **(layer_units() if args.trace else {})}
    print(json.dumps({"record": record}))
    print(json.dumps({
        "correct": b.tally.failed == 0,
        "attempted": b.tally.attempted,
        "failed": b.tally.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
