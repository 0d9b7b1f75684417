"""SparkSession factory + runtime tuning.

Defaults target the test harness (local[$SPARK_GRAFT_CPUS]) but every
setting is the one we would ship on a large multi-executor cluster:
AQE on (runtime join re-planning, skew-join splitting, partition
coalescing), shuffle partitions sized to the parallelism, Arrow for
the rare pandas-UDF path, UTC session time zone for deterministic
timestamp arithmetic.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Conf that can be applied to an already-running session (runtime-settable).
RUNTIME_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    # Dimension tables here are tiny (region/nation class); the threshold
    # mostly matters for AQE's runtime broadcast decisions.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
}


def default_parallelism() -> int:
    try:
        return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    except ValueError:
        return 32


# Below this much input, AQE is a net loss: each adaptive query stage
# is an extra job round (materialize → re-plan → schedule) whose fixed
# cost only pays off when shuffles move enough data to re-plan ABOUT.
# Measured on the sf0.1 suite: AQE on + 32 shuffle partitions = 5.7s,
# AQE off + 8 partitions = 4.6s for the same seven queries. A real
# table never hits this branch.
_SMALL_INPUT_BYTES = 1 << 30
_dir_bytes_cache: dict[str, int] = {}


def _dir_bytes(path: str) -> int:
    if path not in _dir_bytes_cache:
        try:
            _dir_bytes_cache[path] = sum(
                e.stat().st_size for e in os.scandir(path) if e.name.endswith(".parquet")
            )
        except OSError:
            _dir_bytes_cache[path] = _SMALL_INPUT_BYTES  # unknown → large profile
    return _dir_bytes_cache[path]


def tune(spark: SparkSession, sf_dir: str | None = None) -> SparkSession:
    """Apply runtime-settable conf to an externally-provided session.

    The driver harness hands us its own SparkSession; shuffle-partition
    count and AQE flags are runtime-settable, so queries get the tuned
    plan either way. When ``sf_dir`` is known and tiny, switch to the
    small-input profile (AQE off, few fixed shuffle partitions); at
    cluster scale the AQE profile always wins and is the default.
    """
    small = sf_dir is not None and _dir_bytes(sf_dir) < _SMALL_INPUT_BYTES
    conf = dict(RUNTIME_CONF)
    if small:
        conf["spark.sql.adaptive.enabled"] = "false"
        parts = min(8, default_parallelism())
    else:
        parts = default_parallelism()
    conf["spark.sql.shuffle.partitions"] = str(parts)
    for k, v in conf.items():
        spark.conf.set(k, v)
    return spark


#: One BLAS thread per task: Spark schedules a task per core, so any
#: multi-threaded gemm inside a worker (or the driver, which shares the
#: box in local mode) oversubscribes cores x tasks. Set both in our own
#: environment (inherited by the local-mode daemon and by driver-side
#: numpy) and as executorEnv for real clusters. daemon_preload.py
#: re-asserts them before its numpy import as defense in depth.
BLAS_PIN = {
    "OPENBLAS_NUM_THREADS": "1",
    "OMP_NUM_THREADS": "1",
    "MKL_NUM_THREADS": "1",
    "NUMEXPR_NUM_THREADS": "1",
    "VECLIB_MAXIMUM_THREADS": "1",
}


def get_spark(app_name: str = "frontpage_spark", master: str | None = None) -> SparkSession:
    cpus = default_parallelism()
    # Worker daemons are fresh processes launched with $PYTHONPATH; make
    # sure the engine package (daemon_preload) resolves there.
    _repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    _pp = os.environ.get("PYTHONPATH", "")
    if _repo not in _pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = f"{_repo}{os.pathsep}{_pp}" if _pp else _repo
    for _k, _v in BLAS_PIN.items():
        os.environ.setdefault(_k, _v)
    builder = SparkSession.builder.appName(app_name)
    for _k, _v in BLAS_PIN.items():
        builder = builder.config(f"spark.executorEnv.{_k}", os.environ[_k])
    builder = builder.master(master or f"local[{cpus}]")
    for k, v in RUNTIME_CONF.items():
        builder = builder.config(k, v)
    builder = (
        builder.config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # Static conf: the generated-class cache defaults to 100 entries;
        # a 46-query suite overflows it, so every "warm" run silently
        # recompiles its whole-stage-codegen classes (~0.1-0.5s/query).
        # Production sessions running a query mix hit the same cliff.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        # plans.pin uses RELIABLE checkpoints for fixpoint lineage cuts
        # (executor-loss-proof, unlike localCheckpoint); let the
        # ContextCleaner delete checkpoint files once the RDD is GC'd
        # so long sessions don't accumulate them
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        # Fresh fork per Python task instead of the reused-worker pool.
        # Measured on the pandas-UDF-heavy bench sequence (bpe → audio →
        # dhash → decode → frames at sf0.1, local[32]): reused workers
        # run the SLOW path — 45.2s vs 28.7s (and 83.3s vs 68.5s on a
        # noisy host) — because a stage following a heavy applyInPandas/
        # mapInPandas stage re-dispatches through bloated long-lived
        # workers, while a forked child off the daemon is clean and
        # costs ~ms on Linux. Arrow-batched stages here are seconds
        # long, so per-task spawn amortizes to noise; flip this back on
        # for sub-second micro-batch streaming workloads.
        .config("spark.python.worker.reuse", "false")
        # Pre-import numpy/pandas/pyarrow in the worker daemon so every
        # forked worker inherits them copy-on-write (see
        # daemon_preload.py). Requires the package importable in the
        # worker env — guaranteed here by the PYTHONPATH export below.
        .config("spark.python.daemon.module", "frontpage_spark.daemon_preload")
    )
    return builder.getOrCreate()
