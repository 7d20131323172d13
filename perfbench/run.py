"""fuel_spark benchmark: one workload, one seed, one JSON result line.

Usage (from the repository root):

    python3 perfbench/run.py --workload train_stream --seed 1 \\
        --seconds 10 --trace 0

``--trace 0`` measures the end-to-end metrics of BENCHMARK.json with
tracing off.  ``--trace 1`` runs the same passes, untraced and traced in
turn, and prints the per-layer metrics, including the tracing overhead;
the spans go to ``--trace-out``.  The last stdout line is

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

and the line before it records the host and software context.  Spark
runs at ``local[nproc]`` with that many shuffle partitions; everything a
run writes lives in a work directory under ``.perfbench_work/`` that is
removed at exit.  See DESIGN.md for the workloads and metric definitions.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
for path in (ROOT, HERE):
    if path not in sys.path:
        sys.path.insert(0, path)

STAGE_REPEATS = 3
T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"perfbench: {time.perf_counter() - T0:7.2f}s {msg}",
          file=sys.stderr, flush=True)


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=None,
                    help="scale factor (default: the workload's own)")
    ap.add_argument("--pins", default=os.path.join(HERE, "pins.json"))
    ap.add_argument("--trace-out", default=None,
                    help="span file (default .perfbench_out/"
                    "trace_<workload>_<seed>.json)")
    return ap.parse_args(argv)


def host_env(work: str) -> dict[str, str]:
    """Session sizing through the env vars ``fuel_spark.session`` reads:
    local[nproc], nproc shuffle partitions, a quarter of RAM (1-8 GB)."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_kb = int(fh.readline().split()[1])
    mem_gb = max(1, min(8, mem_kb // (4 * 1024 * 1024)))
    return {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_SHUFFLE": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{mem_gb}g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": os.path.join(work, "tmp"),
    }


def session_conf(work: str) -> dict[str, str]:
    tmp = os.path.join(work, "tmp")
    return {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        # the tracer reads jobs and stages back from the status store
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "10000",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work}",
    }


def start_spark(work: str):
    for d in ("local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ.update(host_env(work))
    from fuel_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("fuel_spark-perfbench", extra_conf=session_conf(work))
    start_s = time.perf_counter() - t0
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    # Late tasks of already-collected jobs log one 'non-existent
    # accumulator' stack trace each after System.gc(); real failures
    # surface as Python exceptions, so this logger carries only noise.
    jvm = sc._jvm
    jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
        "org.apache.spark.scheduler.DAGScheduler",
        jvm.org.apache.logging.log4j.Level.OFF)
    return spark, start_s


def stop_spark(spark) -> None:
    """Stop every streaming query, the session and the JVM, and wait for
    the JVM to exit."""
    for q in spark.streams.active:
        q.stop()
    sc = spark.sparkContext
    sc.setLogLevel("OFF")
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def instrument(tracer) -> None:
    """Spans around the public functions of every engine layer."""
    import importlib
    import pkgutil

    import fuel_spark.functions
    import fuel_spark.ops
    import fuel_spark.plans.analytics
    import fuel_spark.schemes
    import fuel_spark.sources.tables
    import fuel_spark.streaming.serve
    from fuel_spark.streams import DataStream

    for info in pkgutil.iter_modules(fuel_spark.ops.__path__):
        tracer.instrument(importlib.import_module(f"fuel_spark.ops.{info.name}"),
                          "ops")
    tracer.instrument(fuel_spark.functions, "ops")
    tracer.instrument(fuel_spark.plans.analytics, "plans")
    tracer.instrument(fuel_spark.schemes, "schemes")
    tracer.instrument(fuel_spark.sources.tables, "sources")
    tracer.instrument(fuel_spark.streaming.serve, "streaming")
    tracer.instrument_methods(DataStream, ("get_epoch_iterator", "resume"),
                              "streams")
    from pyspark.sql.classic.dataframe import DataFrame

    tracer.capture_actions(DataFrame, "toLocalIterator")


class Ctx:
    def __init__(self, args, spark, tracer, pins, counter):
        self.workload, self.seed, self.sf = args.workload, args.seed, args.sf
        self.spark, self.tracer, self.pins = spark, tracer, pins
        self.counter = counter


def pass_count(wl, seconds: float, trace: bool) -> int:
    """The number of timed passes: about ``seconds`` of passes on the
    4-CPU reference host, at least the workload's minimum, and whole
    groups of four when tracing.  It does not depend on how fast this
    run goes, so a slow host does not move the median onto the earlier,
    slower passes."""
    n = max(wl.min_passes, round(seconds / wl.pass_s))
    return 4 * -(-n // 4) if trace else n


def timed_passes(wl, n: int, trace: bool) -> tuple[list[dict], list[dict]]:
    """Run ``n`` passes; return the untraced and the traced ones.

    With ``trace``, passes go untraced, traced, traced, untraced and so
    on: the passes of a fresh JVM keep getting faster, and this order
    cancels a steady drift between the two medians.  A traced pass is a
    root span."""
    from measure import quiesce

    tracer = wl.ctx.tracer
    plain, traced = [], []
    for i in range(n):
        quiesce(wl.spark)
        tracer.enabled = trace and i % 4 in (1, 2)
        with tracer.span("pass", "pass") as sp:
            try:
                r = wl.run_pass()
            except Exception as exc:  # noqa: BLE001 - counted, not raised
                wl.ctx.counter.error("pass", exc)
                r = {}
        tracer.enabled = False
        if r:
            r["pass_span"] = sp
            (plain if sp is None else traced).append(r)
            log(f"pass {i + 1}{' traced' if sp else ''}: {r['wall_s']:.3f} s")
    return plain, traced


def run(args, spark, start_s: float, work: str) -> tuple[dict, dict]:
    """Set up, warm, and measure one workload; return (result, context)."""
    from measure import Host, Tracer, median
    from workloads import WORKLOADS, Counter

    import metrics as M

    cls, default_sf = WORKLOADS[args.workload]
    if args.sf is None:
        args.sf = default_sf
    with open(args.pins) as fh:
        pins = json.load(fh)
    tracer = Tracer(spark, f"{args.workload}-{args.seed}")
    if args.trace:
        instrument(tracer)
    counter = Counter()
    ctx = Ctx(args, spark, tracer, pins, counter)
    wl = cls(ctx)

    log("session started")
    write_s = []
    for i in range(STAGE_REPEATS):
        out_dir = os.path.join(work, f"stage{i}")
        t0 = time.perf_counter()
        rows, size = wl.write(out_dir)
        write_s.append(time.perf_counter() - t0)
        if i:
            shutil.rmtree(os.path.join(work, f"stage{i - 1}"))
    t0 = time.perf_counter()
    wl.open()
    open_s = time.perf_counter() - t0
    stage_s = median(write_s) + open_s
    log(f"staged {rows} rows, {size} bytes: writes "
        f"{', '.join(f'{w:.2f}' for w in write_s)} s, open {open_s:.2f} s")
    t0 = time.perf_counter()
    try:
        wl.warm()
    except Exception as exc:  # noqa: BLE001 - counted, not raised
        counter.error("warm pass", exc)
    warm_s = time.perf_counter() - t0
    log("warm pass done")
    try:
        wl.settle()
    except Exception as exc:  # noqa: BLE001 - counted, not raised
        counter.error("settle pass", exc)
    if wl.settle_passes:
        log(f"{wl.settle_passes} settle passes done")
    host = Host()
    host.start()
    plain, traced = timed_passes(
        wl, pass_count(wl, args.seconds, bool(args.trace)), bool(args.trace))
    tracer.enabled = bool(args.trace)
    extra = wl.finish()
    tracer.enabled = False
    hostm = host.stop()
    log(f"measured {len(plain) + len(traced)} passes")

    setup = {"start_s": start_s, "stage_s": stage_s,
             "warm_s": warm_s, "rows": rows, "bytes": size}
    if args.trace:
        tracer.collect_counts(tracer.spans)
        metrics = M.per_layer(setup, plain, traced, extra, hostm, tracer,
                              counter, len(os.sched_getaffinity(0)))
        write_trace(args, tracer)
    else:
        metrics = M.end_to_end(setup, plain)
    result = M.result(metrics, counter, trace=bool(args.trace))
    context = context_line(args, spark, hostm, len(plain) + len(traced))
    return result, context


def write_trace(args, tracer) -> None:
    from measure import layer_totals

    path = args.trace_out or os.path.join(
        ROOT, ".perfbench_out", f"trace_{args.workload}_{args.seed}.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    totals = layer_totals(tracer.spans)
    with open(path, "w") as fh:
        json.dump({"layers": totals,
                   "spans": [sp.as_dict(tracer.run_id)
                             for sp in tracer.spans]}, fh)
    print(json.dumps({"trace_file": path, "self_s": {
        k: round(v["self_s"], 6) for k, v in totals.items()}}))


def git_commit() -> str:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
        return out.stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def context_line(args, spark, hostm, passes: int) -> dict:
    conf = spark.sparkContext.getConf()
    return {"context": {
        "workload": args.workload, "seed": args.seed, "sf": args.sf,
        "seconds": args.seconds, "trace": args.trace, "passes": passes,
        "cpus": len(os.sched_getaffinity(0)),
        "master": conf.get("spark.master"),
        "driver_memory": conf.get("spark.driver.memory"),
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "spark_version": spark.version,
        "java_version": spark.sparkContext._jvm.System.getProperty(
            "java.version"),
        "python_version": sys.version.split()[0],
        "git_commit": git_commit(),
        "load_avg": list(os.getloadavg()),
        "steal_pct": hostm["steal_pct"],
    }}


def main(argv=None) -> int:
    args = parse_args(argv)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    try:
        spark, start_s = start_spark(work)
        try:
            result, context = run(args, spark, start_s, work)
        finally:
            stop_spark(spark)
            log("spark stopped")
    finally:
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if not os.listdir(parent):
            os.rmdir(parent)
    print(json.dumps(context))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
