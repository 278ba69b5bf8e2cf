"""Benchmark of the keyed engine: one closed-loop client on local[nproc].

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: registry_mix, headline_sf0.1, keyed_epochs (see workloads.py and
README.md). Every operation's output is checked; a wrong or failed one
counts as failed and is listed by name.

With --trace 0 the last stdout line carries the end-to-end metrics. With
--trace 1 the run first makes a --trace 0 run of the same operations in a
process of its own, then a traced run of them. The traced run gives the
per-layer metrics (spans around layer calls plus the Spark event log, summed
per job group); the two runs' walls give the tracing overhead. The line
before the last one holds the run's conditions and, with --trace 1, the
traced run's spans and action records.

All files the run writes go to `.perfbench_work/` at the repository root and
are deleted at the end.
"""

from __future__ import annotations

import argparse
import gc
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = ("setup_s", "op_p50_s", "op_p90_s", "ops_per_s", "ok_ratio", "driver_retained_mb")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--state-keys", type=int, default=None,
                   help="keyed_epochs state size, for scaling checks")
    return p.parse_args(argv)


def prepare_environment(work: str) -> None:
    """Make the engine importable in Python workers whatever the working
    directory, and keep temporary files inside the work directory."""
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM, the launcher's too, would otherwise write /tmp/hsperfdata_*
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        [os.environ.get("JAVA_TOOL_OPTIONS", ""), "-XX:-UsePerfData"]
    ).strip()
    import tempfile

    tempfile.tempdir = None


def conditions(seed: int) -> dict:
    try:
        with open(os.path.join(ROOT, "plans_golden.json"), "rb") as fh:
            pins = hashlib.md5(fh.read()).hexdigest()
    except OSError:
        pins = None
    return {
        "seed": seed,
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg_start": os.getloadavg(),
        "plans_golden_md5": pins,
    }


def builder(work: str, nproc: int, trace: bool):
    from hpmr_spark.engine import session_builder

    b = (
        session_builder("perfbench", master=f"local[{nproc}]")
        .config("spark.local.dir", os.path.join(work, "local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}")
        .config("spark.ui.showConsoleProgress", "false")
    )
    if trace:
        events = os.path.join(work, "events")
        os.makedirs(events, exist_ok=True)
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", "file://" + events)
            .config("spark.eventLog.compress", "false")
            # Spark 4 rolls event logs into a directory by default
            .config("spark.eventLog.rolling.enabled", "false")
        )
    return b


def warm_up(spark) -> None:
    """One exchange with partial and final aggregation and one Arrow collect,
    on generated data. The workload's warm-up cycle does the rest."""
    from pyspark.sql import functions as F

    spark.range(0, 1000).groupBy((F.col("id") % 100).alias("k")).agg(
        F.count("id").alias("n")
    ).toPandas()


def set_up(wl, work: str, nproc: int, trace: bool):
    t0 = time.perf_counter()
    spark = builder(work, nproc, trace).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    warm_up(spark)
    t2 = time.perf_counter()
    wl.prepare(spark)
    t3 = time.perf_counter()
    return spark, {"session_s": t1 - t0, "warmup_s": t2 - t1, "prepare_s": t3 - t2, "setup_s": t3 - t0}


def clear_cache(spark) -> int:
    """Drop every cached frame and persisted RDD; return how many RDDs an
    operation left persisted."""
    jsc = spark.sparkContext._jsc
    rdds = list(jsc.getPersistentRDDs().values())
    spark.catalog.clearCache()
    for rdd in rdds:
        rdd.unpersist(False)
    return len(rdds)


def execute(op, tracer, traced: bool):
    """Run one operation; return (wall seconds, output, error or None)."""
    t0 = time.perf_counter()
    try:
        with tracer.op(traced) as root:
            out = op.run(tracer)
        err = None
    except Exception as e:  # a failed op stays in the run, counted and named
        out, err, root = None, f"{type(e).__name__}: {str(e)[:300]}", None
    wall = time.perf_counter() - t0
    if root is not None:
        op.extra["span"] = root["id"]
    return wall, out, err


def check(op, out, err):
    if err is not None:
        return err
    try:
        return op.check(out)
    except Exception as e:
        return f"check raised {type(e).__name__}: {str(e)[:300]}"


def run_op(spark, wl, tracer, op, traced: bool) -> dict:
    """Run and check one operation."""
    wall, out, err = execute(op, tracer, traced)
    op.extra["leaked_persists"] = clear_cache(spark) if wl.clears_cache else 0
    return {"name": op.name, "wall_s": wall, "error": check(op, out, err), "extra": op.extra}


def measure(spark, wl, tracer, seconds: float, traced: bool):
    """The closed loop. A warm-up cycle runs first and is checked but not
    timed. Then a fixed number of whole cycles runs, as many as take about
    `seconds` on the 4-core host the benchmark was defined on, so every run
    measures the same mix of operations."""
    cycles = wl.cycles()
    start = time.perf_counter()
    warm = [run_op(spark, wl, tracer, op, False) for op in wl.warm_cycle(cycles)]
    warm_s = time.perf_counter() - start
    records = []
    start = time.perf_counter()
    for _ in range(max(1, round(seconds / wl.cycle_s))):
        for op in next(cycles):
            records.append(run_op(spark, wl, tracer, op, traced))
    return warm, warm_s, records, time.perf_counter() - start


def jvm_memory(spark) -> dict:
    """The driver JVM's peak RSS (VmHWM), then the heap and non-heap memory it
    retains, in MB. Retained memory is read after rounds of full collection,
    each of which first collects Python's garbage, so that Python proxies no
    longer pin JVM objects. Rounds repeat until the heap has stopped
    shrinking for two rounds: Spark's context cleaner frees shuffle and
    broadcast state only after a collection has found it unreachable."""
    jvm = spark._jvm
    pid = jvm.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        hwm = next(int(line.split()[1]) for line in fh if line.startswith("VmHWM:"))
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    heaps = [float("inf")]
    while len(heaps) < 10 and not (len(heaps) > 2 and heaps[-3] - heaps[-1] < 1.0):
        gc.collect()
        jvm.System.gc()
        heaps.append(mx.getHeapMemoryUsage().getUsed() / 2**20)
        time.sleep(0.5)  # the cleaner works on its own thread
    return {
        "rss_peak_mb": hwm / 1024.0,
        "retained_mb": heaps[-1] + mx.getNonHeapMemoryUsage().getUsed() / 2**20,
    }


def end_to_end(records, setup, memory) -> dict:
    from stats import harrell_davis, ratio

    walls = [r["wall_s"] for r in records]
    ok = sum(1 for r in records if r["error"] is None)
    values = {
        "setup_s": setup["setup_s"],
        "op_p50_s": harrell_davis(walls, 0.5),
        # linear interpolation between order statistics (numpy's default);
        # Harrell-Davis gives the slowest of 15 samples 40% of the p90
        "op_p90_s": statistics.quantiles(walls, n=10, method="inclusive")[-1],
        # one client: throughput over the time operations ran, leaving out
        # the benchmark's own output checks between them
        "ops_per_s": ratio(len(records), sum(walls)),
        "ok_ratio": ratio(ok, len(records)),
        "driver_retained_mb": memory["retained_mb"],
    }
    units = {"setup_s": "s", "op_p50_s": "s", "op_p90_s": "s", "ops_per_s": "1/s",
             "ok_ratio": "ratio", "driver_retained_mb": "MB"}
    return {k: {"value": values[k], "unit": units[k]} for k in END_TO_END}


def stop_jvm() -> None:
    """Stop the Spark session, then the JVM the session started, and wait."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def run_pass(wl, args, work: str, cond: dict, traced: bool) -> dict:
    """Set up a session in a new JVM, run the workload's cycles, stop the JVM."""
    spark, setup = set_up(wl, work, cond["nproc"], traced)
    sc = spark.sparkContext
    cond.update(master=sc.master, default_parallelism=sc.defaultParallelism,
                spark=spark.version)
    from spans import Tracer

    tracer = Tracer(spark)
    if traced:
        tracer.install()
    warm, warm_s, records, elapsed = measure(spark, wl, tracer, args.seconds, traced)
    p = {"setup": setup, "tracer": tracer, "warm": warm, "warm_s": warm_s, "records": records,
         "measured_s": elapsed, "memory": jvm_memory(spark), "app_id": sc.applicationId}
    stop_jvm()
    return p


def untraced_run(args) -> tuple[dict, dict]:
    """The --trace 0 run of the same operations, in a Python process and JVM
    of its own, so that neither run finds the other's first-use costs paid.
    Returns its details line and its result line."""
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"]
    if args.state_keys is not None:
        cmd += ["--state-keys", str(args.state_keys)]
    out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=True).stdout
    details, result = out.splitlines()[-2:]
    return json.loads(details), json.loads(result)


def main(argv) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import hpmr_spark.engine  # noqa: F401
        import bench  # noqa: F401
        import tools.selfcheck  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2

    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    wl_cls = WORKLOADS[args.workload]
    sizes = {} if args.state_keys is None else {"state_keys": args.state_keys}
    trace = bool(args.trace)
    plain = untraced_run(args) if trace else None
    cond = conditions(args.seed)
    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    prepare_environment(work)
    try:
        p = run_pass(wl_cls(args.seed, **sizes), args, work, cond, trace)
        cond["loadavg_end"] = os.getloadavg()
        if trace:
            from layers import per_layer

            details, _ = plain
            metrics = per_layer(
                p["tracer"], p["records"],
                [{"name": n, "wall_s": w} for n, w in details["op_walls_s"]],
                details["setup"], details["memory"],
                os.path.join(work, "events", p["app_id"]), cond["nproc"],
            )
        else:
            metrics = end_to_end(p["records"], p["setup"], p["memory"])
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run is still using it
            pass

    failed = {r["name"]: r["error"] for r in p["warm"] + p["records"] if r["error"] is not None}
    attempted = len(p["warm"]) + len(p["records"])
    details = {
        "workload": args.workload,
        "trace": args.trace,
        "conditions": cond,
        "ops": len(p["records"]),
        "warm_ops": len(p["warm"]),
        "warm_s": p["warm_s"],
        "measured_s": p["measured_s"],
        "setup": p["setup"],
        "memory": p["memory"],
        "failed_ops": failed,
        "op_walls_s": [[r["name"], round(r["wall_s"], 4)] for r in p["records"]],
    }
    if trace:
        untraced, result = plain
        failed.update({f"{n} (untraced run)": e for n, e in untraced["failed_ops"].items()})
        attempted += result["attempted"]
        details.update(untraced=untraced, spans=p["tracer"].spans, actions=p["tracer"].actions)
    print(json.dumps(details))
    print(json.dumps({
        "correct": not failed,
        "attempted": attempted,
        "failed": len(failed),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
