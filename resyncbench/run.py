"""Resync benchmark: one command, one workload, one JSON result line.

    python3 resyncbench/run.py --workload jdbc_resync --seed 1 --seconds 8 --trace 0

Runs from the root of a checkout of this repository, in one process and
one local Spark session (``local[n]``, n = ``SPARK_GRAFT_CPUS`` or at most
4 of this machine's cores) with a single closed-loop client: the next
operation starts when the previous one has finished, as a batch operator
would drive the pipeline.

The run sets the workload up ``SETUP_REPS`` times, each in a fresh JVM
(session start, input generation, seeding or preload), and reports the
median, warms it with
untimed operations, then repeats passes for ``--seconds``. It checks the
outputs with DuckDB and prints a table of every metric with its unit and
sample count, then the result line. ``--trace 0`` reports the end-to-end
metrics; ``--trace 1`` alternates untraced and traced passes and reports
the per-layer metrics, span self times and the tracing overhead. The exit
code is non-zero when any check fails.

Everything the run writes (inputs, lake, Derby, Spark's local and
warehouse directories, logs) lives under ``.resyncbench_work/`` in the
checkout and is removed at exit.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import signal
import sys
import time
import traceback

T0 = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3
PACKAGE = "etl_complete_with_spark_spark"


def parse(argv=None) -> argparse.Namespace:
    from workloads import SCALES, WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=sorted(SCALES), default="full",
                   help="input sizes; 'tiny' is for the benchmark's own smoke tests")
    return p.parse_args(argv)


def spark_conf(work: str, trace: bool) -> dict:
    java = " ".join([
        f"-Dderby.system.home={work}/derby-home",
        f"-Dderby.stream.error.file={work}/derby.log",
        f"-Djava.io.tmpdir={work}/tmp",
        "-Duser.timezone=UTC",
        "-XX:-UsePerfData",
    ])
    conf = {
        "spark.driver.extraJavaOptions": java,
        "spark.sql.warehouse.dir": f"{work}/spark-warehouse",
        "spark.ui.enabled": "true" if trace else "false",
    }
    if trace:  # stage counters are diffed, so no stage may be evicted mid-run
        conf["spark.ui.retainedStages"] = "100000"
        conf["spark.ui.retainedJobs"] = "100000"
    return conf


def isolate(work: str) -> None:
    """Point every scratch location of Spark, Derby and Python at ``work``."""
    for sub in ("tmp", "spark-local", "derby-home"):
        os.makedirs(os.path.join(work, sub))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # spark-submit's launcher is a JVM of its own; keep its perf data file
    # out of the system temp directory too.
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp"
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "spark-local")
    # Data-trained catalog oracles read this at import; the benchmark's
    # queries need none of them, so point it at an empty directory.
    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = os.path.join(work, "tmp")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(min(len(os.sched_getaffinity(0)), 4)))


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - the JVM must not outlive the run
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def measure(args, work: str, load_start) -> tuple[dict, list, dict]:
    """Set up, warm, run and check one workload. Returns (result, table
    rows, box context)."""
    import box
    import metrics
    from spans import SliceClock, Tracer, instrument
    from workloads import SCALES, WORKLOADS, Env

    from etl_complete_with_spark_spark.observability import measure_jobs
    from etl_complete_with_spark_spark.session import get_spark

    conf = spark_conf(work, bool(args.trace))
    env = Env(ROOT, args.seed, SCALES[args.scale], None, None)
    env.tracer = Tracer(measure=(lambda: measure_jobs(env.spark)) if args.trace else None)
    env.slices = SliceClock(env.tracer)
    wl = WORKLOADS[args.workload]()
    inst = instrument(env.tracer, env.slices)
    checks: list = []
    passes: list = []  # (PassResult, cpu_s, traced)
    setup_times: list[float] = []
    phases: dict = {"start_s": time.perf_counter() - T0, "setup_reps_s": setup_times}
    try:
        prev = None
        for rep in range(SETUP_REPS):
            if prev is not None:  # every repetition starts its own JVM
                wl.release(env)
                stop_spark(env.spark)
                env.spark = None
                shutil.rmtree(prev)
            prev = os.path.join(work, f"rep{rep}")
            env.tracer.enabled = bool(args.trace)
            t0 = time.perf_counter()
            with env.tracer.span("setup"):
                with env.tracer.span("session.get_spark"):
                    env.spark = get_spark(app_name=f"resyncbench-{args.workload}",
                                          extra_conf=conf)
                inputs = wl.setup(env, prev)
            setup_times.append(time.perf_counter() - t0)
            env.tracer.enabled = False
        checks += wl.setup_checks(env)
        t0 = time.perf_counter()
        wl.warmup(env)
        phases["warmup_s"] = time.perf_counter() - t0
        t_start = time.perf_counter()
        while True:
            # Traced and untraced passes alternate; which comes first
            # follows the seed, so the warm-up trend does not bias the
            # overhead estimate one way over a set of runs.
            traced = bool(args.trace) and (len(passes) + args.seed) % 2 == 1
            env.tracer.enabled = traced
            cpu0 = box.tree_cpu_s()
            with env.tracer.span("pass"):
                result = wl.run_pass(env)
            cpu = box.tree_cpu_s() - cpu0
            env.tracer.enabled = False
            if result is None:  # generated inputs exhausted
                break
            passes.append((result, cpu, traced))
            done = time.perf_counter() - t_start >= args.seconds
            if done and (not args.trace or len(passes) >= 2):
                break
        phases["measure_s"] = time.perf_counter() - t_start
        t0 = time.perf_counter()
        checks += wl.checks(env)
        phases["checks_s"] = time.perf_counter() - t0
        jvm = getattr(type(env.spark.sparkContext)._gateway, "proc", None)
        rss = box.peak_rss_mb([os.getpid()] + ([jvm.pid] if jvm else []))
        context = box.context(env.spark, ROOT, load_start)
        wl.release(env)
    finally:
        inst.restore()
        if env.spark is not None:
            stop_spark(env.spark)

    plain = [(p, c) for p, c, t in passes if not t]
    e2e, table = metrics.end_to_end(setup_times, plain, rss)
    # Operations: batches or queries, slices, slice retries and checks.
    ops = sum(len(p.ops) + len(p.extra.get("slice_s", [])) for p, _, _ in passes)
    retries = sum(sum(p.extra.get("pipeline.retries", [])) for p, _, _ in passes)
    failed_checks = [c for c in checks if not c[1]]
    attempted = ops + retries + len(checks)
    failed = retries + len(failed_checks)
    table.append(("failed_frac", failed / attempted, "ratio", attempted))
    if args.trace:
        layer, span_table = metrics.per_layer(
            env.tracer, [p for p, _, t in passes if t], [p for p, _ in plain])
        values, units = layer, metrics.PER_LAYER
    else:
        span_table = []
        values, units = e2e, metrics.END_TO_END
    result = {
        "correct": not failed_checks,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(values[k]), "unit": units[k][0]} for k in units},
    }
    context["inputs"] = inputs
    context["pass_s"] = [round(p.wall, 4) for p, _ in plain]
    context["op_s"] = [round(x, 4) for p, _ in plain for x in p.ops]
    phases["total_s"] = time.perf_counter() - T0
    context["phases"] = phases
    context["op"] = wl.op
    return result, table, {"context": context, "checks": checks, "spans": span_table}


def report(args, result, table, extra) -> None:
    print(f"# resyncbench workload={args.workload} seed={args.seed} "
          f"seconds={args.seconds:g} trace={args.trace} scale={args.scale}")
    print("# box " + json.dumps(extra["context"], sort_keys=True, default=str))
    print(f"# end-to-end (untraced passes; one operation = one {extra['context']['op']})")
    print(f"#   {'metric':<24}{'value':>16}  {'unit':<8}{'n':>6}")
    for name, value, unit, n in table:
        print(f"#   {name:<24}{value:>16.6g}  {unit:<8}{n:>6}")
    if extra["spans"]:
        print("# spans (traced passes, then set-up): calls, total_s, median_s, "
              "median_self_s, total_self_s, shuffle_write_bytes")
        for name, calls, total, med, med_self, tot_self, shuffle in extra["spans"]:
            print(f"#   {name:<44}{calls:>6}{total:>10.4f}{med:>10.4f}{med_self:>10.4f}"
                  f"{tot_self:>10.4f}{shuffle:>14}")
    for name, ok, detail in extra["checks"]:
        print(f"# check {'ok  ' if ok else 'FAIL'} {name}: {detail}")
    print(json.dumps(result))


def main(argv=None) -> int:
    # A terminated run still stops its JVM and removes its files.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path.insert(0, ROOT)
    args = parse(argv)
    if importlib.util.find_spec(PACKAGE) is None:
        print(f"resyncbench: package {PACKAGE!r} not found under {ROOT}", file=sys.stderr)
        return 2
    import box

    load_start = box.loadavg()
    work = os.path.join(ROOT, ".resyncbench_work", f"{args.workload}-{os.getpid()}")
    try:
        isolate(work)
        try:
            result, table, extra = measure(args, work, load_start)
        except Exception:  # noqa: BLE001 - a failed operation fails the run
            traceback.print_exc()
            print("resyncbench: an operation failed; no result", file=sys.stderr)
            return 1
        report(args, result, table, extra)
        return 0 if result["correct"] else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main())
