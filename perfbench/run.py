"""sparkts benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 20 --trace 0

Run from the root of a checkout.  The launcher pins the host before Spark
starts: SPARK_GRAFT_CPUS is the usable core count, SPARK_GRAFT_DRIVER_MEM
is sized to the machine's RAM, and SPARK_LOCAL_DIRS plus the working
directory (spark-warehouse/, metastore_db) live in a scratch directory
under `.bench_tmp/` that is removed at exit.  `--trace 1` reports the
per-layer metrics instead of the end-to-end ones and writes the span log
to `.bench_traces/`.  Without the program next to it the command fails
before printing a result.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import time

import layers
import spans
import workloads

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def process_age_s() -> float:
    """Seconds since this process started, interpreter start-up included."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def host_info() -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    java = subprocess.run(["java", "-version"], capture_output=True, text=True).stderr
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "ram_mb": mem_kb // 1024,
        "python": platform.python_version(),
        "java": java.splitlines()[0] if java else "unknown",
    }


def pin_host(tmp: str, info: dict) -> None:
    os.environ["SPARK_GRAFT_CPUS"] = str(info["nproc"])
    # a quarter of RAM, at most 4 GB: the whole working set is far smaller
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{min(4096, info['ram_mb'] // 4)}m"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    os.environ["PYSPARK_SUBMIT_ARGS"] = "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    os.makedirs(os.environ["SPARK_LOCAL_DIRS"])
    os.chdir(tmp)


class Ctx:
    def __init__(self, spark, tracer, seed, tmp):
        self.spark, self.tracer, self.seed, self.tmp = spark, tracer, seed, tmp
        self.layer: dict[str, float] = {}  # per-layer numbers measured directly


def import_program():
    """The program under test, from this checkout only."""
    sys.path.insert(0, ROOT)
    import redistimeseries_spark

    where = os.path.dirname(os.path.abspath(redistimeseries_spark.__file__))
    if os.path.dirname(where) != ROOT:
        raise ImportError(f"redistimeseries_spark found outside the checkout: {where}")


def stop_spark(spark) -> None:
    """Stop the session, the py4j gateway and the JVM, and wait for every
    child process to end."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        proc = gw.proc
        gw.shutdown()
        proc.stdin.close()  # the gateway JVM exits at EOF on stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while spans.descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)
    for pid in spans.descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except OSError:
            pass


def main() -> int:
    ap = argparse.ArgumentParser(description="sparkts benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops Spark and removes its scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    info = host_info()
    tmp = os.path.join(ROOT, ".bench_tmp", f"run-{os.getpid()}")
    os.makedirs(tmp)
    try:
        pin_host(tmp, info)
        try:
            import_program()
        except ImportError as exc:
            print(f"cannot import the program: {exc}", file=sys.stderr)
            return 2
        return run(args, info, tmp)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(os.path.join(ROOT, ".bench_tmp"))
        except OSError:
            pass


def run(args, info, tmp) -> int:
    import pyspark
    from pyspark import SparkContext

    from redistimeseries_spark import get_spark

    spark = get_spark(f"bench-{args.workload}")
    spark.sparkContext.setLogLevel("ERROR")
    session_s = process_age_s()

    mem = spans.MemorySampler(SparkContext._gateway.proc.pid)
    tracer = spans.Tracer(spark, bool(args.trace))
    ctx = Ctx(spark, tracer, args.seed, tmp)
    ctx.layer["session.start_s"] = session_s
    info["spark"] = pyspark.__version__
    try:
        wl = workloads.WORKLOADS[args.workload](ctx)
        t0 = time.perf_counter()
        wl.setup()
        setup_s = session_s + (time.perf_counter() - t0)
        mem.start()
        t0 = time.perf_counter()
        wl.measure(args.seconds)
        wall = time.perf_counter() - t0
        # the JVM's peak RSS follows G1's time-driven heap sizing and spreads
        # too far between runs to gate on, so it is a per-layer metric
        ctx.layer["mem.peak_rss_jvm_mb"], peak_rss_python_mb = mem.stop()
        wl.check()
        if args.trace:
            wl.trace_extra()
        e2e = wl.e2e()
        e2e["setup_s"] = setup_s
        e2e["peak_rss_python_mb"] = peak_rss_python_mb
    finally:
        stop_spark(spark)

    attempted = len(wl.ops) + len(wl.verdicts)
    failed = len(wl.failures)
    print(f"host: {json.dumps(info)}")
    print(f"generator: {json.dumps(workloads.gen.spec_dict(wl.spec))} seed={args.seed}")
    print(f"measured: {wall:.2f}s, {len(wl.ops)} ops, setup {setup_s:.2f}s "
          f"(session {session_s:.2f}s)")
    for name, st in layers.op_summary(wl.ops).items():
        print(f"  op {name:<28} n={st['n']:<3} p50={st['p50_ms']:9.1f} ms "
              f"failed={st['failed']}")
    for name, ok in wl.verdicts:
        print(f"  check {name:<25} {'ok' if ok else 'FAILED'}")
    for k, v in wl.info().items():
        print(f"  {k}={v:.4g}")
    print(f"failed_frac: {failed}/{attempted} = {failed / attempted:.4f}"
          + (f" ({', '.join(sorted(set(wl.failures)))})" if failed else ""))
    if args.trace:
        metrics = layers.per_layer(ctx, wl, e2e)
        os.makedirs(os.path.join(ROOT, ".bench_traces"), exist_ok=True)
        tracer.write(os.path.join(ROOT, ".bench_traces", f"{args.workload}-{args.seed}.jsonl"))
        self_s = sorted(tracer.self_times().items(), key=lambda kv: -kv[1])
        print("self time by span: " + ", ".join(f"{n} {s:.2f}s" for n, s in self_s[:12]))
        units = layers.LAYER
    else:
        metrics, units = e2e, layers.E2E
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
