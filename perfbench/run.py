"""Benchmark of the frontpage_spark engine, run from the repository root.

  python3 perfbench/run.py --workload {etl,query_suite} --seed N \\
      --seconds S --trace {0,1} [--smoke]

Workloads (one process, one closed-loop client, ``local[nproc / 2]``):

- ``etl``: seeded raw ads through the paper's raw-to-clean pipeline,
  first as an ``availableNow`` stream of one file per micro-batch, then
  as one whole-directory batch run (``perfbench/etl.py``).
- ``query_suite``: a fixed sample of 10 of the 77 headline queries on
  seeded sf0.01 tables, each checked against its DuckDB oracle
  (``perfbench/suite.py``).

Each workload measures one fixed pass, sized to take about 20 s on four
cores, whatever ``--seconds`` says: a loop bounded by time would make
the work, and so ``wall_s``, depend on the box's speed.

Set-up (``get_spark`` plus a first action) runs three times in a row,
the first also starting the JVM; ``setup_s`` is their median. Inputs are
generated from ``--seed`` under ``.perfbench/`` in the repository root,
and everything Spark and Python write goes there too.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end ones of ``BENCHMARK.json``; with ``--trace 1`` they are its
per-layer ones, from spans around each call into the engine and from
Spark's event log. A traced run also writes every per-layer number of
its workload and the span list under ``.perfbench/<run>/trace/``. The
line before the last holds the run's context (box, versions, sizes, the
traced run's end-to-end figures). ``--smoke`` shrinks every input.
"""

from __future__ import annotations

import argparse
import gc
import importlib
import json
import math
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = {"etl": "etl", "query_suite": "suite"}  # name -> module
SETUPS = 3
REQUIRED = (
    "frontpage_spark/__init__.py",
    "fixtures/html_corpus.parquet",
    "fixtures/html_golden.parquet",
    "tools/check.py",
)


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", required=True, type=int, choices=(0, 1))
    p.add_argument("--smoke", action="store_true", help="tiny inputs, for the smoke test")
    return p.parse_args(argv)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def spark_cores() -> int:
    """Task slots of the local master: half the cores, so that the
    driver, the JVM's GC and JIT threads and the forked Python workers
    have the other half instead of queueing behind the tasks."""
    return max(1, cores() // 2)


def prepare_env(work: str, trace: bool) -> str:
    """Point every scratch location of Spark and Python into ``work``;
    turn the event log on for a traced run. Must run before pyspark
    starts its JVM."""
    tmp = os.path.join(work, "tmp")
    events = os.path.join(work, "events")
    for d in (tmp, events):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(spark_cores())
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    args = [
        "--driver-java-options", f"-Djava.io.tmpdir={tmp}",
        "--conf", f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
    ]
    if trace:
        args += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{events}",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])
    return events


def setup_session(tracer):
    """Set up ``SETUPS`` times (stopping the previous session) and keep
    the last session. Returns it with one (get_spark_s, first_action_s)
    pair per set-up."""
    from frontpage_spark.session import get_spark

    samples = []
    spark = None
    for _ in range(SETUPS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        with tracer.span("session.get_spark", "setup"):
            spark = get_spark("perfbench")
        t1 = time.perf_counter()
        with tracer.span("session.first_action", "setup"):
            spark.range(1).count()
        samples.append((t1 - t0, time.perf_counter() - t1))
        spark.sparkContext.setLogLevel("ERROR")
    return spark, samples


def floor_s(spark, n: int = 5) -> float:
    """Median wall time of ``range(1).count()``: the fixed cost of one
    trivial job on this box."""
    times = []
    for _ in range(n):
        t0 = time.perf_counter()
        spark.range(1).count()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def jvm_peak_rss_mb(spark) -> float:
    """VmHWM of the JVM that pyspark launched."""
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def retained_heap_mb(spark) -> float:
    """JVM heap still in use after a full collection: what the
    engine keeps alive between calls (caches, kept frames, plans).
    Python collects first, so py4j releases the JVM objects that only
    dead Python handles still pinned."""
    jvm = spark._jvm
    for _ in range(3):
        gc.collect()
        jvm.java.lang.System.gc()
        # the ContextCleaner drops blocks of collected broadcasts and
        # shuffles on its own thread; give it time before the next pass
        time.sleep(0.5)
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()
    return heap.getUsed() / 2**20


def leaked_rdds(spark) -> int:
    """Persisted RDDs left after clearCache and release_kept."""
    from frontpage_spark import plans

    spark.catalog.clearCache()
    plans.release_kept()
    return len(spark.sparkContext._jsc.getPersistentRDDs())


def stop_jvm(spark) -> None:
    """Stop Spark, then end the JVM and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def geomean(values: list[float]) -> float:
    return math.exp(statistics.mean(math.log(v) for v in values))


def end_to_end(result: dict, setup_s: float, heap_mb: float) -> dict[str, float]:
    ops = list(result["op_latency_s"].values())
    return {
        "setup_s": setup_s,
        "wall_s": result["wall_s"],
        "op_geomean_s": geomean(ops),
        "heap_retained_mb": heap_mb,
    }


def per_op(result: dict, tracer, log, cores_: int, floor: float,
           setups: list[tuple[float, float]]) -> dict[str, float]:
    """The per-layer metrics every workload reports, over the ops behind
    its latency metrics (micro-batches, or queries)."""
    ops = result["op_latency_s"]
    stats = [log.ops[op] for op in ops if op in log.ops]
    plans_ = [result["op_plans"][op] for op in ops if op in result["op_plans"]]
    build: dict[str, float] = {}
    for s in tracer.spans:
        if s.name == "ops.build" and s.op in ops:
            build[s.op] = build.get(s.op, 0.0) + s.end - s.start
    n = len(ops)
    return {
        "session.get_spark_s": statistics.median(a for a, _ in setups),
        "session.first_action_s": statistics.median(b for _, b in setups),
        "session.floor_s": floor,
        "ops.build_s": statistics.median(build.values()),
        "ops.execute_s": statistics.median(ops[op] - build.get(op, 0.0) for op in ops),
        "ops.analysis_ms": statistics.mean(p["analysis_ms"] for p in plans_),
        "ops.optimization_ms": statistics.mean(p["optimization_ms"] for p in plans_),
        "ops.planning_ms": statistics.mean(p["planning_ms"] for p in plans_),
        "ops.jobs": sum(s.jobs for s in stats) / n,
        "ops.stages": sum(s.stages for s in stats) / n,
        "ops.tasks": sum(s.tasks for s in stats) / n,
        "plans.exchanges_per_op": statistics.mean(p["exchanges"] for p in plans_),
        "exec.core_busy_frac": sum(s.run_ms for s in stats) / 1000 / (sum(ops.values()) * cores_),
        "exec.gc_s_per_op": sum(s.gc_ms for s in stats) / 1000 / n,
        "exec.scan_bytes_per_op": sum(s.input_bytes for s in stats) / n,
        "exec.shuffle_write_bytes_per_op": sum(s.shuffle_write_bytes for s in stats) / n,
        "exec.python_rows_per_op": sum(s.python_rows for s in stats) / n,
    }


def commit() -> str:
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.SubprocessError):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: not a frontpage_spark checkout, missing {missing}", file=sys.stderr)
        return 2
    work = os.path.join(
        ROOT, ".perfbench", f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    )
    shutil.rmtree(work, ignore_errors=True)
    events = prepare_env(work, bool(args.trace))
    sys.path.insert(0, ROOT)

    import duckdb
    import pyspark

    from spans import EventLog, Tracer, event_log_file

    workload = importlib.import_module(WORKLOADS[args.workload])
    load_start = os.getloadavg()
    tracer = Tracer(bool(args.trace))
    t_start = time.perf_counter()
    spark, setups = setup_session(tracer)
    try:
        setup_s = statistics.median(a + b for a, b in setups)
        floor = floor_s(spark)
        t_workload = time.perf_counter()
        result = workload.run(spark, tracer, work, ROOT, args.seed, args.seconds, args.smoke)
        t_after = time.perf_counter()
        rss_mb = jvm_peak_rss_mb(spark)
        leaked = leaked_rdds(spark)
        heap_mb = retained_heap_mb(spark)
        app_id = spark.sparkContext.applicationId
    finally:
        stop_jvm(spark)
    t_end = time.perf_counter()

    failures = list(result["failures"])
    if leaked:
        failures.append(f"{leaked} persisted RDDs left after clearCache and release_kept")
    e2e = end_to_end(result, setup_s, heap_mb)
    context = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "smoke": args.smoke,
        "nproc": cores(),
        "spark_cores": spark_cores(),
        "loadavg_start": [round(x, 2) for x in load_start],
        "loadavg_end": [round(x, 2) for x in os.getloadavg()],
        "floor_s": floor,
        "commit": commit(),
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "python": sys.version.split()[0],
        "setup_samples_s": [[round(a, 4), round(b, 4)] for a, b in setups],
        "peak_rss_mb": rss_mb,
        # where the run's time went: set-up and floor, the workload (inputs,
        # measuring, checks), heap and teardown
        "phases_s": {
            "setup": round(t_workload - t_start, 3),
            "workload": round(t_after - t_workload, 3),
            "after": round(t_end - t_after, 3),
        },
        "end_to_end": e2e,
        "failures": failures[:20],
        **result["context"],
    }
    if args.trace:
        log = EventLog(event_log_file(events, app_id))
        metrics = per_op(result, tracer, log, spark_cores(), floor, setups)
        layers = {
            **metrics,
            **workload.layer_metrics(result, tracer, log, spark_cores()),
            "plans.leaked_rdds": leaked,
            "self_s": tracer.self_times(),
        }
        trace_dir = os.path.join(work, "trace")
        os.makedirs(trace_dir, exist_ok=True)
        tracer.write(os.path.join(trace_dir, "spans.json"))
        with open(os.path.join(trace_dir, "layers.json"), "w") as f:
            json.dump({"context": context, "layers": layers}, f, indent=1, sort_keys=True)
        context["trace_dir"] = os.path.relpath(trace_dir, ROOT)
    else:
        metrics = e2e
    for d in os.listdir(work):
        if d != "trace":
            shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    if not args.trace:
        os.rmdir(work)

    print(json.dumps({"context": context}))
    print(json.dumps({
        "correct": not failures,
        "attempted": result["attempted"],
        "failed": min(result["attempted"], len(failures)),
        "metrics": {k: {"value": v, "unit": UNITS[k]} for k, v in metrics.items()},
    }), flush=True)
    return 0


UNITS = {
    "setup_s": "s", "wall_s": "s", "op_geomean_s": "s",
    "heap_retained_mb": "MB",
    "session.get_spark_s": "s", "session.first_action_s": "s", "session.floor_s": "s",
    "ops.build_s": "s", "ops.execute_s": "s",
    "ops.analysis_ms": "ms", "ops.optimization_ms": "ms", "ops.planning_ms": "ms",
    "ops.jobs": "count", "ops.stages": "count", "ops.tasks": "count",
    "plans.exchanges_per_op": "count", "exec.core_busy_frac": "fraction",
    "exec.gc_s_per_op": "s", "exec.scan_bytes_per_op": "bytes",
    "exec.shuffle_write_bytes_per_op": "bytes", "exec.python_rows_per_op": "count",
}


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
