"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload queries-light --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the engine. Inputs are generated from
``--seed`` under ``.bench_work/`` and removed afterwards; traced runs keep
their spans under ``.bench_out/``. With ``--trace 0`` the result holds the
end-to-end metrics, with ``--trace 1`` the per-layer metrics (see
``metrics.py``). ``--size tiny`` shrinks every input for the smoke tests.
"""

from __future__ import annotations

import argparse
import compileall
import contextlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "ai_powered_e_commerce_analytics_spark"
# Each set-up starts a JVM and runs a first job, 10-20 s on 4 cores; a
# third one would not fit the benchmark's runs into its hour.
SETUPS = 2
CORES = 4
HEAP = "2g"
# The median ``trace.speed_probe`` time on the host the bounds were set on
# (4 vCPUs of a shared Intel Xeon host) while the host took under 1% of
# their time; scaled_cpu_s is the passes' CPU time as it would be at that
# probe time, each pass scaled by the probe's median while it ran.
PROBE_REF_S = 0.0022
STARTED = time.perf_counter()


def parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full")
    return p.parse_args(argv)


def configure_env(work: str) -> dict[str, str]:
    """Keep every file Spark, the JVM and Python write inside ``work``."""
    for d in ("local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = str(min(CORES, os.cpu_count() or CORES))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    # Sized to the sf0.01 inputs, as the engine's own tests do; the
    # engine's default of 32 is for inputs a hundred times larger.
    os.environ["SPARK_SHUFFLE_PARTITIONS"] = "8"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    return {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # A fixed-size, pre-touched heap: otherwise how much of it is
        # resident depends on GC timing, and peak_rss_mb varied twofold
        # run to run. It now moves with off-heap and Python worker memory.
        "spark.driver.extraJavaOptions":
            f"-Xms{HEAP} -XX:+AlwaysPreTouch -XX:-UsePerfData "
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }


def steal_s() -> float:
    """Seconds the host has kept this machine's CPUs from running it."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def tear_down(spark) -> None:
    """Stop the session and its JVM, so that the next set-up starts a new
    JVM, as a fresh process would."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    gateway.shutdown()
    gateway.proc.stdin.close()  # the gateway JVM exits at EOF on its stdin
    gateway.proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def main(argv=None) -> int:
    args = parse(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: the {PACKAGE} package is not in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = None
    try:
        conf = configure_env(work)  # before any import that may cache TMPDIR
        from perfbench.workloads import WORKLOADS

        if args.workload not in WORKLOADS:
            print(f"perfbench: unknown workload {args.workload!r}; "
                  f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
            return 2
        result, spark = measure(args, work, conf, WORKLOADS[args.workload])
    finally:
        if spark is not None:
            tear_down(spark)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # kept while another run uses it
            os.rmdir(os.path.dirname(work))
    print(json.dumps(result))
    return 0


def measure(args, work, conf, workload_cls):
    from ai_powered_e_commerce_analytics_spark.session import get_spark
    from perfbench import metrics
    from perfbench.trace import ProcSampler, StatusStore, StorageSampler, Tracer, attribute_jobs

    workload = workload_cls(work, args.seed, args.size)
    # Byte-compile up front, so the first run in a fresh checkout does not
    # spend its measured pass compiling the modules its workers import.
    compileall.compile_dir(os.path.join(ROOT, PACKAGE), quiet=1)

    def set_up():
        t0 = time.perf_counter()
        spark = get_spark(extra_conf=conf)
        starts.append(time.perf_counter() - t0)
        workload.warm_up(spark)
        setups.append(time.perf_counter() - t0)
        return spark

    # Every set-up starts a new JVM, so setup_s holds the JVM launch and the
    # first job. The first set-up's session runs the pass; the others come
    # after it, so the pass always runs in a JVM that ran only the warm-up.
    setups, starts = [], []
    spark = set_up()

    sc = spark.sparkContext
    tracer = Tracer(sc, bool(args.trace))
    store = StatusStore(sc) if args.trace else None
    latencies: list[float] = []
    failures: list[str] = []
    walls, cpus, probes, steals = [], [], [], []
    passes = workload.passes(args.seconds)
    with ProcSampler(sc._gateway.proc.pid) as proc, (
        StorageSampler(store) if args.trace else contextlib.nullcontext()
    ) as storage:
        for i in range(passes):
            cpu0, steal0, t0 = proc.cpu_s(), steal_s(), time.perf_counter()
            with tracer.span(f"pass {i}", "bench") as last:
                workload.run_pass(spark, tracer, latencies, failures)
            cpus.append(proc.cpu_s() - cpu0)
            t1 = time.perf_counter()
            walls.append(t1 - t0)
            probes.append(proc.probe_s(t0, t1))
            steals.append((steal_s() - steal0) / (CORES * (t1 - t0)))

    try:
        mismatched, errs = workload.check(spark)
    except Exception:  # a crashed check is a failed check, not a crashed run
        traceback.print_exc()
        mismatched, errs = 1, ["correctness check raised"]
    for e in failures + errs:
        print(f"perfbench: FAILED {e}", file=sys.stderr)
    attempted = len(latencies)
    failed = min(attempted, len(failures) + mismatched)

    if args.trace:  # the last pass
        values = attribute_jobs(tracer, store, last)
        values.update(workload.layer_metrics())
        values["share.cached_rdds"] = len(storage.rdds)
        values["share.cached_bytes"] = storage.peak_bytes
        self_s = tracer.self_times(last)
        values.update({f"{name}_s": self_s.get(name, 0.0) for name in metrics.SELF_TIME_LAYERS})
        values["trace.wall_s"] = last.end - last.start
        os.makedirs(os.path.join(ROOT, ".bench_out"), exist_ok=True)
        tracer.dump(os.path.join(ROOT, ".bench_out", f"spans-{args.workload}-{args.seed}.json"))
    else:
        values = {
            "scaled_cpu_s": sum(c * PROBE_REF_S / p for c, p in zip(cpus, probes)),
            "peak_rss_mb": proc.peak_bytes / 2**20,
            "disk_bytes_per_input_byte":
                (workload.input_bytes + workload.stored_bytes()) / workload.input_bytes,
        }
    for _ in range(SETUPS - 1):
        tear_down(spark)
        spark = set_up()
    values["setup_s"] = statistics.median(setups)
    values["session.start_s"] = statistics.median(starts)
    if not args.trace:
        # Wall-clock figures vary too much between runs on a shared host to
        # be end-to-end metrics; they are reported here for reading.
        print(f"perfbench: {args.workload} seed={args.seed} ops={attempted} "
              f"failed={failed} error_rate={failed / max(attempted, 1):.4f} "
              f"op_p50_s={statistics.median(latencies):.3f} "
              f"setups={[round(s, 3) for s in setups]} "
              f"walls={[round(w, 3) for w in walls]} cpus={[round(c, 3) for c in cpus]} "
              f"probe_ms={[round(p * 1e3, 3) for p in probes]} "
              f"steal={[round(x, 3) for x in steals]} "
              f"ops_s={[round(x, 3) for x in latencies]} "
              f"run_s={time.perf_counter() - STARTED:.1f}", file=sys.stderr)
    spec = metrics.PER_LAYER if args.trace else metrics.END_TO_END
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        # a layer a workload never uses reports 0
        "metrics": {k: {"value": values.get(k, 0.0), "unit": u} for k, u in spec.items()},
    }
    return result, spark


if __name__ == "__main__":
    sys.exit(main())
