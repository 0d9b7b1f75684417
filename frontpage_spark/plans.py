"""Physical-plan utilities for the 100 TB path: skew mitigation and
shuffle elimination.

AQE's skew-join splitting handles most skew at runtime; these are for
the cases it can't see (pre-aggregated monster keys, deliberate
co-location across many jobs):

- ``salted_join``     static key salting: the skewed side fans a key
  out over n sub-keys, the other side is replicated n×. Turns one
  monster partition into n even ones at the cost of replicating the
  (small) build side.
- ``write_bucketed`` / ``bucketed_table``   hash-bucketed tables on the
  join/agg key: every subsequent join or aggregation on that key runs
  shuffle-FREE (verified in tests by asserting no Exchange in the
  plan). This is how a 100 TB fact table amortizes its one shuffle
  across every downstream query.
"""

from __future__ import annotations

import gc
import os
import threading
import time

from pyspark import SparkContext
from pyspark.sql import DataFrame, SparkSession, functions as F

SALT_COL = "__salt"

# ---- bounded query-scoped caching ------------------------------------------
# Query builders persist() shared intermediates (a shingle table read by
# both sides of a verify join, an edge list fed to a fixpoint).  A bare
# persist() parks blocks in the CacheManager FOREVER unless someone
# remembers to unpersist — harmless in a bench that clearCache()s per
# query, a real leak in a long-lived session running hundreds of queries
# (VERDICT r3).  keep() is persist() with a bounded lifetime: a FIFO of
# the most recent _KEPT_MAX cached frames; registering a new one evicts
# the oldest beyond the cap.  Eviction is always SAFE — an unpersisted
# frame silently recomputes from lineage (unlike a checkpoint, whose
# block loss is fatal) — so the cap trades at worst a recompute of a
# long-finished query's intermediate for a hard bound on cache growth.
# Re-keep()ing an already-registered frame LRU-touches it (moves it to
# the young end instead of double-registering), so a frame a query
# keeps re-using — bpe_train's per-round keep plus nested keeps from
# dedup helpers — isn't evicted mid-use by its own later registrations
# (ADVICE r4).
_KEPT: list[DataFrame] = []
_KEPT_MAX = 8
_KEPT_LOCK = threading.Lock()


def keep(df: DataFrame) -> DataFrame:
    """Persist ``df`` for reuse across plan branches / fixpoint rounds,
    with a bounded cache lifetime (see module comment). Returns the
    persisted frame."""
    df = df.persist()
    evict: list[DataFrame] = []
    with _KEPT_LOCK:
        # identity scan, not list.remove(): DataFrame.__eq__ builds a
        # Column, so equality-based membership would be nonsense here
        for i, ex in enumerate(_KEPT):
            if ex is df:
                del _KEPT[i]
                break
        _KEPT.append(df)
        while len(_KEPT) > _KEPT_MAX:
            evict.append(_KEPT.pop(0))
    for old in evict:
        try:
            old.unpersist()
        except Exception:  # session already stopped — nothing to release
            pass
    return df


def release_kept() -> int:
    """Unpersist every keep()-registered frame, then let the JVM drop
    every object that only dead Python handles still pin (harness/test
    hook for deterministic teardown); returns how many frames were
    released."""
    with _KEPT_LOCK:
        dfs = list(_KEPT)
        _KEPT.clear()
    n = 0
    for df in dfs:
        try:
            df.unpersist()
            n += 1
        except Exception:
            pass
    dfs = df = None  # this frame's references would keep the last frame alive
    _release_dead_handles()
    return n


def _release_dead_handles() -> None:
    """Collect dead py4j handles and wait until the JVM has been told.

    A handle whose Java methods were called sits in a reference cycle
    (``JavaObject`` <-> its cached ``JavaMember``), so only a full
    collection frees it, and py4j's pinned-thread client sends the
    deletes from a finalizer thread that polls its queue once a second.
    Until both have happened the JVM keeps every finished query's plan
    reachable, with its shuffles, broadcasts and metrics, and releases
    them a GC cycle or two later at a time that depends on that poll."""
    gc.collect()
    client = getattr(SparkContext._gateway, "_gateway_client", None)
    pending = getattr(client, "finalizer_deque", None)  # None: deletes are synchronous
    deadline = time.monotonic() + 3.0
    while pending and time.monotonic() < deadline:
        time.sleep(0.01)


def _resolve_ckpt_dir(master: str, app_id: str) -> str:
    """Checkpoint-dir policy for :func:`pin` (ADVICE r9 low): a
    node-local tempdir is only a RELIABLE checkpoint when every
    executor shares the driver's filesystem — true for ``local[*]``
    and ``local-cluster[...]`` (one box), false for any real cluster,
    where the files land on whichever node wrote them and the
    executor-loss guarantee pin is named for silently does not hold
    (Spark merely logs a warning). Fail fast there and demand a
    shared dir via $SPARK_GRAFT_CKPT_DIR."""
    import tempfile

    ckpt = os.environ.get("SPARK_GRAFT_CKPT_DIR")
    if ckpt is not None:
        return ckpt
    if not master.startswith("local"):
        raise RuntimeError(
            "plans.pin: reliable checkpointing on a non-local master "
            f"({master!r}) needs a SHARED checkpoint dir (HDFS/S3/NFS) — "
            "set $SPARK_GRAFT_CKPT_DIR or call sc.setCheckpointDir() with "
            "a DFS path; a node-local tempdir would not survive executor "
            "loss."
        )
    return os.path.join(tempfile.gettempdir(), f"fps-ckpt-{app_id}")


def pin(df: DataFrame) -> DataFrame:
    """Eager lineage cut that SURVIVES executor loss — the fixpoint-
    state counterpart to :func:`keep`.

    ``localCheckpoint`` stores its blocks only on the executors that
    computed them AND truncates lineage, so losing one executor
    mid-fixpoint is fatal to every consumer: the block is gone and the
    truncated lineage cannot recompute it (observed under
    local-cluster: ``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND``;
    tools/fault_probe.py demonstrates it, and Spark's own error text
    recommends reliable checkpointing). ``pin`` is a RELIABLE
    checkpoint: the cut state lands as files under the session
    checkpoint dir, re-readable by ANY executor — on a real cluster
    point ``$SPARK_GRAFT_CKPT_DIR`` at DFS (HDFS/S3) and a lost
    executor costs a re-read, not the job. Iterative operators cut
    per-round state with this (pair lists, rank tables, contracted
    edge sets — all SMALL by design, so the file write is a constant,
    not a data-sized cost); plain shared intermediates that can keep
    their lineage should use ``keep`` instead.

    The input is persisted around the cut so the relation computes
    ONCE (RDD reliable checkpointing otherwise recomputes the lineage
    a second time for the write job), then released — the returned
    frame reads the checkpoint files, not the cache. The checkpoint
    dir is established lazily per application ($SPARK_GRAFT_CKPT_DIR,
    else a per-app tmpdir on local/local-cluster masters ONLY — any
    other master without the env var raises, because a node-local
    tempdir is not reliable there); files are GC-reclaimed when
    ``spark.cleaner.referenceTracking.cleanCheckpoints`` is on
    (session.get_spark sets it), otherwise they live until the app's
    tmpdir is removed."""
    spark = df.sparkSession
    sc = spark.sparkContext
    try:
        has_dir = sc.getCheckpointDir() is not None
    except Exception:
        has_dir = False
    if not has_dir:
        sc.setCheckpointDir(_resolve_ckpt_dir(sc.master or "", sc.applicationId))
    df = df.persist()
    try:
        return df.checkpoint(eager=True)
    finally:
        df.unpersist()


_TAKE_WIDE_LOCK = threading.Lock()


def take_wide(df: DataFrame, n: int) -> list:
    """``df.limit(n).collect()`` that scans every partition in ONE job.

    ``executeTake`` ramps incrementally (1 partition, then
    ``spark.sql.limit.scaleUpFactor``x more per retry) — the right
    trade when a head probably fits in the first partition, but a
    size-GATE probe (limit(cap+1) over a table expected to be near or
    under the cap) almost always exhausts the input, so the ramp just
    pays 2-3 job-scheduling floors for the same scan (r11). Scoping
    ``spark.sql.limit.initialNumPartitions`` to "all" turns the probe
    into one parallel job; the conf is restored afterwards so ordinary
    small limits elsewhere keep the incremental behavior. Driver
    traffic stays bounded by ``n`` exactly as before.

    The save/set/restore is serialized under a module lock (ADVICE
    r11): without it an interleaved take_wide on the same session could
    'restore' the temporary 2^20 value as the permanent one, and a
    concurrent query's small limits would run under the wide setting.
    Limits submitted by OTHER driver threads while a take_wide holds
    the lock still see the session-global conf — callers running
    concurrent query threads on one session should expect the wide
    ramp for the duration (a performance nuance, never a correctness
    one: initialNumPartitions only changes job granularity)."""
    spark = df.sparkSession
    key = "spark.sql.limit.initialNumPartitions"
    with _TAKE_WIDE_LOCK:
        try:
            old = spark.conf.get(key)
        except Exception:
            old = None
        spark.conf.set(key, str(1 << 20))
        try:
            return df.limit(n).collect()
        finally:
            if old is None:
                try:
                    spark.conf.unset(key)
                except Exception:
                    pass
            else:
                spark.conf.set(key, old)


def fan_out(df: DataFrame, min_parts: int | None = None) -> DataFrame:
    """Input-split compensation for CPU-bound narrow stages.

    A Parquet file is only splittable at row-group boundaries; the
    local testdata files are single row groups, so every scan yields
    ONE task and a per-row-heavy stage (regex shingling, md5 minhash,
    Arrow UDFs) runs single-threaded no matter how many cores exist.
    On a production table the scan produces thousands of splits and
    this helper is a no-op; locally it round-robins the rows across
    the default parallelism so the expensive narrow work that follows
    actually uses the machine.

    Only worth the shuffle when downstream per-row CPU >> one pass of
    the rows over the wire — text/vector pipelines yes, plain
    aggregations usually no (their map side is one cheap pass).
    """
    sc = df.sparkSession.sparkContext
    target = min_parts or sc.defaultParallelism
    # Probe width via the scan's file list — cheap metadata, unlike
    # df.rdd.getNumPartitions() which forces full physical planning +
    # RDD lineage materialization on every call. Files under-count
    # splits for multi-row-group files, which only makes the check
    # conservative (a no-op repartition of an already-wide scan).
    try:
        width = len(df.inputFiles())
    except Exception:
        width = df.rdd.getNumPartitions()
    if width >= max(2, target // 2):
        return df
    return df.repartition(target)


def salted_join(
    skewed: DataFrame,
    other: DataFrame,
    key: str,
    n_salt: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Equi-join where ``skewed``'s hot keys are spread over ``n_salt``
    sub-partitions and ``other`` is replicated once per salt value.

    The salt is a deterministic hash of the whole skewed row (xxhash64),
    so repeated runs produce identical partition assignments. Valid for
    inner/left joins keyed on ``key``; the replicated side should be the
    smaller one (its shuffle volume grows n_salt×).
    """
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in skewed.columns]), F.lit(n_salt))
    left = skewed.withColumn(SALT_COL, salt)
    right = other.withColumn(
        SALT_COL, F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1)))
    ).withColumn(SALT_COL, F.col(SALT_COL).cast("bigint"))
    return left.join(right, [key, SALT_COL], how).drop(SALT_COL)


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str,
    n_buckets: int = 16,
    sort: bool = True,
) -> None:
    """Persist ``df`` hash-bucketed (and optionally sorted) on ``key``.

    Joins/aggregations between tables bucketed identically on the join
    key need no Exchange — the bucketing IS the shuffle, paid once at
    write time. (Bucket pruning also applies to key-equality filters.)
    """
    w = df.write.mode("overwrite").bucketBy(n_buckets, key)
    if sort:
        w = w.sortBy(key)
    w.saveAsTable(table)


def bucketed_table(spark: SparkSession, table: str) -> DataFrame:
    return spark.table(table)


def write_partitioned(df: DataFrame, path: str, *cols: str) -> None:
    """Persist hive-style directory-partitioned parquet on ``cols``
    (low-cardinality keys: date, source, category). Reads filtered on a
    partition column prune whole directories BEFORE any I/O — the scan's
    PartitionFilters (asserted in tests) — which is the first-line
    pruning mechanism for a 100 TB date-partitioned fact table (S7's
    'partition by a date column at scale' made concrete)."""
    df.write.mode("overwrite").partitionBy(*cols).parquet(path)


def compact(spark: SparkSession, path: str, target_file_bytes: int = 128 * 1024 * 1024) -> int:
    """Small-file compaction for append-mode parquet sinks.

    Streaming foreachBatch appends one-file-per-partition-per-batch;
    after days of micro-batches a 100 TB sink is millions of KB-sized
    files and every scan pays per-file open/footer costs. Rewrite the
    directory into ``ceil(bytes / target)`` files via coalesce (no
    shuffle — coalesce only merges read splits) and an atomic-ish
    temp-dir swap. Returns the new file count. At cluster scale this
    runs per partition directory (date=...) so compaction is
    incremental and parallel across partitions."""
    import math
    import shutil

    df = spark.read.parquet(path)
    total = sum(
        os.path.getsize(os.path.join(r, f))
        for r, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    )
    n_files = max(1, math.ceil(total / target_file_bytes))
    tmp = path.rstrip("/") + "__compact_tmp"
    df.coalesce(n_files).write.mode("overwrite").parquet(tmp)
    shutil.rmtree(path)
    os.rename(tmp, path)
    return len([f for f in os.listdir(path) if f.endswith(".parquet")])


def count_exchanges(df: DataFrame) -> int:
    """Number of shuffle Exchange nodes in the executed plan — the unit
    tests' scalability assertion."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return sum(
        1
        for line in plan.splitlines()
        if "Exchange hashpartitioning" in line or "Exchange rangepartitioning" in line
    )


def zorder_key(a, b, bits: int = 10):
    """Morton (Z-order) key: interleave the low ``bits`` of two
    non-negative integer columns with pure shift/mask expressions —
    whole-stage codegen'd, no UDF.

    Sorting/range-partitioning a table by this key clusters rows that
    are close in BOTH dimensions into the same files, so parquet
    footer min/max stats prune multi-dimensional box predicates — the
    data-skipping layout a 100 TB fact table wants when queries filter
    on two independent columns (customer AND date) and a single-column
    sort can only serve one of them. ``write_zordered`` below pays one
    range shuffle at write time; every subsequent scan skips files.
    """
    az, bz = a.cast("long"), b.cast("long")
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = z.bitwiseOR(F.shiftleft(F.shiftright(az, i).bitwiseAND(F.lit(1)), 2 * i))
        z = z.bitwiseOR(
            F.shiftleft(F.shiftright(bz, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return z


def write_zordered(
    df: DataFrame,
    path: str,
    xcol: str,
    ycol: str,
    n_files: int = 16,
    bits: int = 10,
) -> None:
    """Persist parquet clustered on the Morton key of (xcol, ycol):
    range-partition into ``n_files`` z-runs (one range shuffle — AQE
    samples the key), sort within each, drop the helper column. Each
    output file then covers a compact z-range, i.e. a small rectangle
    in (x, y) space, so its footer min/max for BOTH columns is tight
    and box predicates skip whole files (asserted in test_plans)."""
    (
        df.withColumn("__z", zorder_key(F.col(xcol), F.col(ycol), bits))
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )


def _bloom_positions(key, num_bits: int, num_hashes: int):
    """k bit positions for a key: xxhash64(key, seed) mod m — computed
    as Spark expressions so build and probe share hash semantics."""
    return F.array(
        *[
            F.pmod(F.xxhash64(key, F.lit(j)), F.lit(num_bits))
            for j in range(num_hashes)
        ]
    )


def bloom_prune(
    big: DataFrame,
    small: DataFrame,
    big_key: str,
    small_key: str | None = None,
    num_bits: int = 1 << 20,
    num_hashes: int = 3,
) -> DataFrame:
    """Semi-join reduction with a Bloom filter (the sketch Spark's
    runtime row-level filtering injects; `bloom_filter_agg` is not a
    public SQL routine in this build, so the sketch is built here from
    first principles).

    Build: each small-side key sets k = ``num_hashes`` bit positions
    (xxhash64 mod m, computed as Spark expressions); ``mapInPandas``
    folds each task's positions into ONE packed uint64 bitmap row, and
    a zip_with bitwise-OR reduces the per-task bitmaps — the shuffle
    carries (tasks × m/8) bytes, never the keys. Probe: the one-row
    bitmap broadcasts and the big side keeps rows whose k positions
    are all set (O(k) array index + mask tests per row, before any
    shuffle of the big side).

    Use when the big side must shuffle anyway and the join is
    selective: non-matching rows die at scan time for the cost of a
    ~m/8-byte broadcast. False positives only let extra rows through —
    the exact join that follows is unchanged, so the transform is
    result-invariant (the oracle for `bloom_prune_join` is the PLAIN
    join). Returns the pruned big side (same schema)."""
    import numpy as np
    import pandas as pd

    sk = small_key or big_key
    n_words = (num_bits + 63) // 64

    def build(batches):
        bm = np.zeros(n_words, dtype="uint64")
        seen = False
        for pdf in batches:
            for positions in pdf["__pos"]:
                seen = True
                p = np.asarray(positions, dtype="int64")
                np.bitwise_or.at(
                    bm, p >> 6, np.uint64(1) << (p & 63).astype("uint64")
                )
        if seen:
            yield pd.DataFrame({"pb": [bm.view("int64").tolist()]})

    partial = small.select(
        _bloom_positions(F.col(sk), num_bits, num_hashes).alias("__pos")
    ).mapInPandas(build, schema="pb array<bigint>")
    zeros = F.array_repeat(F.lit(0).cast("long"), n_words)
    bitmap = partial.agg(
        F.aggregate(
            F.collect_list("pb"),
            zeros,
            lambda acc, v: F.zip_with(acc, v, lambda a, b: a.bitwiseOR(b)),
        ).alias("__bm")
    )

    probe = _bloom_positions(F.col(big_key), num_bits, num_hashes)
    # SQL expr: the Python shiftleft() only takes literal shift amounts
    hit = F.expr(
        "forall(__pp, p -> (element_at(__bm, CAST(shiftright(p, 6) AS INT) + 1)"
        " & shiftleft(CAST(1 AS BIGINT), CAST(p % 64 AS INT))) != 0)"
    )
    return (
        big.withColumn("__pp", probe)
        .join(F.broadcast(bitmap))
        .filter(hit)
        .drop("__bm", "__pp")
    )


def assign_dense_ids(
    df: DataFrame, *order_cols: str, id_col: str = "dense_id", n_parts: int | None = None
) -> DataFrame:
    """Contiguous 0..n-1 ids in global ``order_cols`` order WITHOUT a
    single-partition sort — the scalable zipWithIndex replacement:

    1. a deterministic bucket id from sampled range boundaries (the
       ``global_prefix_stats`` recipe — boundaries are literals, so
       placement is a pure function of the row and ids never vary);
    2. per-partition ``row_number`` (each bucket is its own window
       group, so the sort parallelizes);
    3. partition row-counts — #partitions scalars, the only driver
       data — cumsum into per-partition offsets, shipped back.

    ``monotonically_increasing_id`` is NOT this: it's non-contiguous
    and order-free. A global ``row_number() OVER (ORDER BY ...)`` IS
    this semantically, but Spark executes it on ONE partition — the
    1000-executor anti-pattern. Requires ``order_cols`` to be a total
    order (unique); ties would make ids partition-placement-dependent.

    Since round 6 this is a thin wrapper over ``global_prefix_stats``
    (the generalized two-pass rank/prefix-sum helper): dense id =
    global row number − 1.
    """
    out = global_prefix_stats(
        df, [F.col(c) for c in order_cols], rn_col=id_col, n_parts=n_parts
    )
    return out.withColumn(id_col, (F.col(id_col) - 1).cast("long"))


def _sort_pairs(order_cols):
    """Normalize ``order_cols`` entries into (Column, ascending) pairs.

    Entries are a plain ``Column`` (ascending) or a ``(Column, "desc")``
    / ``(Column, "asc")`` tuple. Sort-order Columns (``F.desc(c)``)
    are rejected with a pointer to the tuple form: the helper needs the
    BASE expression (to sample boundary values and build the bucket
    comparator), and classic PySpark 4 exposes no way to decompose a
    SortOrder Column back into (child, direction)."""
    pairs = []
    for c in order_cols:
        if isinstance(c, tuple):
            col, d = c
            pairs.append((col, str(d).lower() != "desc"))
            continue
        r = repr(c)
        if " DESC NULLS" in r or " ASC NULLS" in r:
            raise TypeError(
                "global_prefix_stats: pass (column, 'desc') tuples, not "
                f"F.desc(...) sort-order columns (got {r}) — the helper "
                "needs the base expression to sample range boundaries"
            )
        pairs.append((c, True))
    return pairs


def _cmp_factory(ascs):
    """Driver-side comparator for sampled key tuples under the total
    order: per-column asc/desc with Spark's default null placement
    (ASC NULLS FIRST / DESC NULLS LAST) and Spark's float total order
    (NaN equals NaN and ranks greater than every other double — Python's
    NaN compares false both ways, which would break totality and let the
    boundary sort disagree with the SQL binary search, ADVICE r7)."""

    def _cmp(a, b):
        for i, asc in enumerate(ascs):
            x, y = a[i], b[i]
            if x is None and y is None:
                continue
            if x is None:
                return -1 if asc else 1
            if y is None:
                return 1 if asc else -1
            x_nan = isinstance(x, float) and x != x
            y_nan = isinstance(y, float) and y != y
            if x_nan or y_nan:
                if x_nan and y_nan:
                    continue
                lt = y_nan  # the non-NaN side is the smaller one
                return (-1 if lt else 1) if asc else (1 if lt else -1)
            if x == y:
                continue
            lt = x < y
            return (-1 if lt else 1) if asc else (1 if lt else -1)
        return 0

    return _cmp


def _pick_bounds(samp, nb, cmp):
    """Sort the sampled key tuples in the total order and pick nb-1
    evenly-spaced, strictly-increasing boundary tuples."""
    import functools

    samp = sorted(samp, key=functools.cmp_to_key(cmp))
    bounds: list[tuple] = []
    m = len(samp)
    if m:
        for j in range(1, nb):
            cand = samp[min(m - 1, (j * m) // nb)]
            if not bounds or cmp(bounds[-1], cand) < 0:
                bounds.append(cand)
    return bounds


def _sql_ident(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def _sql_lit(v, sql_type: str) -> str:
    """Render a sampled boundary value as a Spark SQL literal of the
    key column's exact type (explicit CASTs keep struct field types
    uniform across boundaries and avoid coercion surprises). Strings go
    through unhex(hex(utf8)) so arbitrary content (quotes, backslashes,
    newlines) round-trips byte-exact regardless of parser escaping."""
    import datetime
    import decimal

    if v is None:
        return f"CAST(NULL AS {sql_type})"
    if sql_type in ("tinyint", "smallint", "int", "bigint"):
        return f"CAST({int(v)} AS {sql_type})"
    if sql_type in ("float", "double"):
        f = float(v)
        if f != f:
            s = "NaN"
        elif f == float("inf"):
            s = "Infinity"
        elif f == float("-inf"):
            s = "-Infinity"
        else:
            s = repr(f)
        return f"CAST('{s}' AS {sql_type})"
    if sql_type == "string":
        return f"CAST(unhex('{v.encode('utf-8').hex()}') AS STRING)"
    if sql_type == "date":
        return f"DATE '{v.isoformat()}'"
    if sql_type.startswith("timestamp"):
        if isinstance(v, datetime.datetime):
            return f"CAST('{v.isoformat(sep=' ')}' AS {sql_type})"
        return f"CAST('{v}' AS {sql_type})"
    if sql_type.startswith("decimal"):
        return f"CAST('{decimal.Decimal(v)}' AS {sql_type})"
    if sql_type == "boolean":
        return "TRUE" if v else "FALSE"
    raise TypeError(
        f"global_prefix_stats: unsupported order-key type {sql_type} "
        f"for boundary value {v!r}"
    )


def _bucket_search_sql(names, ascs, types, bounds) -> str:
    """Deterministic range-bucket id as a SQL branchless binary search:
    bucket(x) = #boundaries <= x over the sorted boundary literals.

    Shape matters twice over: the boundaries live in ONE array<struct>
    literal (constant-folded once, bound to a lambda variable via a
    1-element ``transform`` so the array is not re-inlined per field
    reference), and the search is ``aggregate`` over the bit steps
    [2^m..1] — O(log #buckets) comparisons per row with an expression
    tree of O(log + #boundaries) nodes. The round-7 first cut was a
    nested CASE WHEN tree: same O(log) runtime but O(#buckets)
    DUPLICATED comparison subtrees, whose whole-stage codegen cost
    ~3-5 s of one-time JIT per plan. A flat CASE chain or literal-map
    scan would be O(#buckets) per ROW — the cost the round-5
    literal-map review flagged. Because the id is a pure function of
    the row, every job that evaluates it agrees on placement (no
    checkpoint needed to pin boundaries).

    ``names``: SQL identifiers of the key columns; ``ascs``: per-key
    ascending flag (Spark default null placement: ASC NULLS FIRST /
    DESC NULLS LAST); ``types``: per-key Spark SQL type strings;
    ``bounds``: sorted list of boundary value tuples."""
    K = len(bounds)
    if K == 0:
        return "0"
    arr = "array(" + ",".join(
        "named_struct("
        + ",".join(
            f"'c{i}', {_sql_lit(b[i], types[i])}" for i in range(len(names))
        )
        + ")"
        for b in bounds
    ) + ")"
    # key < e (lexicographic, strict booleans; e = the boundary struct)
    lt = "FALSE"
    for name, asc, i in reversed(list(zip(names, ascs, range(len(names))))):
        c, e = _sql_ident(name), f"e.c{i}"
        if asc:
            col_lt = (
                f"(({c} IS NULL AND {e} IS NOT NULL) OR "
                f"({c} IS NOT NULL AND {e} IS NOT NULL AND {c} < {e}))"
            )
        else:
            col_lt = f"({c} IS NOT NULL AND ({e} IS NULL OR {c} > {e}))"
        lt = f"({col_lt} OR (({c} <=> {e}) AND {lt}))"
    bits, b = [], 1
    while b * 2 <= K:
        b *= 2
    while b >= 1:
        bits.append(b)
        b //= 2
    steps = "array(" + ",".join(str(x) for x in bits) + ")"
    # bind e := bounds[pos + bit] once per step via a 1-element transform
    probe = (
        f"element_at(transform(array(element_at({arr}, pos + bit)), "
        f"e -> IF(NOT {lt}, pos + bit, pos)), 1)"
    )
    return (
        f"aggregate({steps}, 0, (pos, bit) -> "
        f"IF(pos + bit > {K}, pos, {probe}))"
    )


def global_prefix_stats(
    df: DataFrame,
    order_cols,
    sums: dict[str, str] | None = None,
    rn_col: str = "rn",
    n_parts: int | None = None,
    totals: dict | None = None,
) -> DataFrame:
    """Global 1-based row_number and inclusive prefix sums over a TOTAL
    order WITHOUT a single-partition WindowExec — the scalable form of
    ``row_number()/SUM() OVER (ORDER BY ...)``, which Spark otherwise
    executes by moving EVERY row to one partition (the 1000-executor
    anti-pattern; VERDICT r5 item 1).

    Recipe (no materialization of the input — VERDICT r6 item 1; the
    round-6 form pinned ``repartitionByRange``'s sampled boundaries
    with an eager full-relation ``localCheckpoint``, which at 100 TB
    writes the whole relation to executor-local disk AND severs
    lineage, so one lost executor fails the job):

    1. ONE bounded sampling job picks explicit range boundaries: the
       ``n_parts*60`` rows with the smallest ``xxhash64`` of the order
       key (a TakeOrderedAndProject over the column-pruned key
       projection — fully parallel, driver receives only the sample;
       no count job, no RNG — and even sample nondeterminism would be
       harmless, the boundaries are collected once and embedded as
       literals so every downstream job shares them), sorted
       driver-side in the total order, evenly-spaced boundary tuples
       kept as PYTHON LITERALS;
    2. ``__part`` = a deterministic bucket id computed FROM THE ROW
       VALUES by a binary-search CASE tree over those literals
       (``_bucket_tree``, O(log n_parts) per row) — the cross-job
       nondeterminism that forced the round-6 checkpoint
       (repartitionByRange resamples boundaries per execution) is gone
       by construction, lineage stays intact, and a lost executor just
       recomputes its split;
    3. per-partition counts and sums (ONE aggregation job — map-side
       combined, shuffles #partitions scalar rows) cumsum into
       exclusive offsets at the driver;
    4. the final plan hash-exchanges on ``__part`` once (the window's
       own partitioning), runs ONE partition-local sort feeding BOTH
       the per-partition ``row_number`` and every per-partition running
       sum, and ships the offsets back size-gated: ≤64 partitions
       inline as literal-map lookups (zero extra plan nodes — the
       measured winner at local scale), above that a broadcast hash
       join on the partition id (O(1) per row at ANY width).

    Cost: two bounded auxiliary jobs (sample + offsets — they shuffle
    only scalars) and exactly ONE full-row exchange (down from round
    6's two exchanges plus a full local-disk materialization). The
    input lineage is recomputed by the auxiliary jobs, so callers
    whose input is an expensive derived relation (a multi-join rollup)
    should ``persist`` THAT bounded rollup themselves — see
    ``rfm_segments`` — rather than have this helper pin an unbounded
    relation for everyone. Several independent orderings over the same
    relation should ride ``global_prefix_stats_multi``, which shares
    the sample and offsets jobs across all of them.

    ``order_cols``: list of Column expressions forming a total order —
    plain Column = ascending, ``(Column, "desc")`` for descending
    (ties would make prefix sums placement-dependent). Null ordering
    follows Spark's defaults: ASC = NULLS FIRST, DESC = NULLS LAST.
    ``sums``: {source_col: output_col} inclusive running sums in the
    global order (integral or double; sums ride the source column's
    Spark type — note float sums accumulate per-partition + offset, a
    DIFFERENT addition order than one sequential window, so
    cross-engine exact comparison needs integer sums, e.g. cents; every
    registry consumer and the fuzz generator sum integers). Downstream
    rank-family functions are arithmetic over ``rn_col`` and the
    (broadcastable) total count: ntile via ``ntile_from_rn``,
    percent_rank = (rn-1)/(N-1), cume_dist = rn/N (total orders have
    no ties).
    ``totals``: pass a dict to receive {rn_col: N, source_col: total}
    — the grand totals fall out of the offsets pass for free, saving
    callers a separate aggregation job.
    """
    return global_prefix_stats_multi(
        df,
        [{"order": order_cols, "sums": sums, "rn_col": rn_col, "totals": totals}],
        n_parts=n_parts,
    )


def global_prefix_stats_multi(
    df: DataFrame, specs: list[dict], n_parts: int | None = None
) -> DataFrame:
    """K INDEPENDENT ``global_prefix_stats`` passes over the SAME
    relation, sharing ONE boundary-sample job and ONE offsets job —
    the fixed-cost amortization for callers like ``rfm_segments``
    (three quintile orderings over one customer rollup), cutting
    3×(sample + offsets + final) = 9 jobs to 3 (VERDICT r6 item 3).

    Each spec: {"order": [Column | (Column, "desc"), ...],
    "sums": {src: out} | None, "rn_col": str, "totals": dict | None}
    with ``global_prefix_stats`` semantics per spec.

    Sharing works because (a) one uniform row sample is a uniform
    sample under EVERY ordering — the driver just re-sorts the same
    sampled tuples per spec to pick that spec's boundaries; (b) the
    per-bucket counts/sums for all K deterministic bucket columns fit
    in ONE aggregation via GROUPING SETS ((__part0), ..., __partK-1))
    — the Expand doubles/triples the aggregation input rows but still
    shuffles only #buckets·K scalar rows; (c) the K windows chain in
    the single final plan exactly as K sequential hash exchanges —
    the same exchanges K separate jobs would each pay once."""
    from pyspark.sql.window import Window

    if n_parts is not None:
        nb = int(n_parts)
    else:
        try:
            nb = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        except (TypeError, ValueError):
            nb = 32

    parsed = []
    for sp in specs:
        pairs = _sort_pairs(sp["order"])
        parsed.append(
            {
                "keys": [c for c, _ in pairs],
                "ascs": [a for _, a in pairs],
                "sort": [c.asc() if a else c.desc() for c, a in pairs],
                "sums": dict(sp.get("sums") or {}),
                "rn": sp.get("rn_col", "rn"),
                "totals": sp.get("totals"),
            }
        )
    K = len(parsed)

    all_srcs: list[str] = []
    for p in parsed:
        for src in p["sums"]:
            if src not in all_srcs:
                all_srcs.append(src)

    # --- job 1: ONE boundary sample serving every spec. The sample
    # also carries the sum source columns: when it EXHAUSTS the input
    # (n <= cap — the size-gate pattern), the driver already holds
    # every key, so the per-bucket counts/sums fall out here and the
    # offsets job is skipped entirely (3 jobs -> 2 for bounded
    # rollups like rfm_segments; unbounded inputs take the normal
    # aggregation path).
    flat = [
        (k, i, c)
        for k, p in enumerate(parsed)
        for i, c in enumerate(p["keys"])
    ]
    proj = df.select(
        *[c.alias(f"__b{k}_{i}") for k, i, c in flat],
        *[F.col(src).alias(f"__sum_{j}") for j, src in enumerate(all_srcs)],
    )
    # cap sizing: TakeOrdered keeps `cap` rows PER PARTITION before the
    # driver merge, so a large cap inflates the sample job even when
    # the input is small (measured: cap 32k turned a 0.1s sample into
    # 0.6s+ on a 15k-row rollup) — keep it at boundary-sample size and
    # let the exhausted fast path engage only for genuinely tiny inputs
    cap = min(max(nb * 60, 200), 200_000)
    hash_cols = [F.col(f"__b{k}_{i}") for k, i, _ in flat]
    samp_rows = proj.orderBy(F.xxhash64(*hash_cols).asc()).limit(cap).collect()
    exhausted = len(samp_rows) < cap
    key_types = {
        (k, i): proj.schema[f"__b{k}_{i}"].dataType.simpleString() for k, i, _ in flat
    }
    for k, p in enumerate(parsed):
        vals = [
            tuple(r[f"__b{k}_{i}"] for i in range(len(p["keys"]))) for r in samp_rows
        ]
        p["cmp"] = _cmp_factory(p["ascs"])
        p["bounds"] = _pick_bounds(vals, nb, p["cmp"])
        p["types"] = [key_types[(k, i)] for i in range(len(p["keys"]))]

    # The bucket expression is generated SQL, so each key expression
    # needs a referencable NAME: plain named columns are used as-is,
    # computed expressions are materialized once as __gk{k}_{i}.
    import re as _re

    gk_cols: dict[str, "Column"] = {}
    for k, p in enumerate(parsed):
        names = []
        for i, c in enumerate(p["keys"]):
            m = _re.fullmatch(r"Column<'([A-Za-z_][A-Za-z0-9_]*)'>", repr(c))
            if m:
                names.append(m.group(1))
            else:
                gk = f"__gk{k}_{i}"
                gk_cols[gk] = c
                names.append(gk)
        p["names"] = names
    wp = df.withColumns(gk_cols) if gk_cols else df
    wp = wp.withColumns(
        {
            f"__part{k}": F.expr(
                f"CAST({_bucket_search_sql(p['names'], p['ascs'], p['types'], p['bounds'])} AS INT)"
            )
            for k, p in enumerate(parsed)
        }
    )

    # --- job 2: ONE offsets aggregation (plain groupBy for K=1,
    # GROUPING SETS above; SKIPPED when the sample exhausted the
    # input — the driver computes the identical per-bucket rollup from
    # the collected rows). Bucket ids are never NULL, so a result row
    # belongs to spec k iff its __part{k} is non-NULL.
    collected = None
    if not exhausted:
        aggs = [F.count(F.lit(1)).alias("__n")] + [
            F.sum(src).alias(f"__s_{i}") for i, src in enumerate(all_srcs)
        ]
        part_cols = [F.col(f"__part{k}") for k in range(K)]
        if K == 1:
            grouped = wp.groupBy(part_cols[0]).agg(*aggs)
        else:
            grouped = wp.groupingSets([[pc] for pc in part_cols], *part_cols).agg(*aggs)
        collected = grouped.collect()

    out = wp
    drop_cols: list[str] = []
    for k, p in enumerate(parsed):
        srcs = list(p["sums"])
        src_idx = {src: all_srcs.index(src) for src in srcs}
        if exhausted:
            # merge-walk the fully-collected keys in this spec's order
            # against its sorted bounds: bucket(x) = #bounds <= x,
            # identical to the SQL binary search by construction
            import functools

            nk = len(p["keys"])
            rows_k = sorted(
                (
                    (
                        tuple(r[f"__b{k}_{i}"] for i in range(nk)),
                        [r[f"__sum_{src_idx[src]}"] for src in srcs],
                    )
                    for r in samp_rows
                ),
                key=functools.cmp_to_key(
                    lambda a, b, _c=p["cmp"]: _c(a[0], b[0])
                ),
            )
            cnt: dict[int, list] = {}
            bi, bounds, cmp = 0, p["bounds"], p["cmp"]
            for key, sums_v in rows_k:
                while bi < len(bounds) and cmp(bounds[bi], key) <= 0:
                    bi += 1
                slot = cnt.setdefault(bi, [0] + [0] * len(srcs))
                slot[0] += 1
                for j, v in enumerate(sums_v):
                    slot[j + 1] += v or 0
            off_rows, acc_n = [], 0
            acc_s = {src: 0 for src in srcs}
            for pid in sorted(cnt):
                off_rows.append((pid, acc_n, *[acc_s[src] for src in srcs]))
                acc_n += cnt[pid][0]
                for j, src in enumerate(srcs):
                    acc_s[src] += cnt[pid][j + 1]
        else:
            rows = sorted(
                (r[f"__part{k}"], r) for r in collected if r[f"__part{k}"] is not None
            )
            off_rows, acc_n = [], 0
            acc_s = {src: 0 for src in srcs}
            for pid, r in rows:
                off_rows.append((pid, acc_n, *[acc_s[src] for src in srcs]))
                acc_n += r["__n"]
                for src in srcs:
                    acc_s[src] += r[f"__s_{src_idx[src]}"] or 0
        if p["totals"] is not None:
            p["totals"][p["rn"]] = acc_n
            p["totals"].update(acc_s)

        pc = f"__part{k}"
        drop_cols.append(pc)
        w = Window.partitionBy(pc).orderBy(*p["sort"])
        wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)

        if len(off_rows) <= 64:
            # FEW partitions: inline the offsets as literal-map lookups
            # — zero extra plan nodes, and a <=64-entry scan per row is
            # cheaper than a broadcast exchange per pass (measured:
            # three chained passes cost ~0.4 s/pass more as joins at
            # local scale)
            def _map(i, _rows=off_rows):
                items = {pid: r[i] for pid, *r in _rows} or {0: 0}
                return F.create_map(*[F.lit(x) for kv in items.items() for x in kv])

            out = out.withColumn(
                p["rn"], (F.row_number().over(w) + _map(0)[F.col(pc)]).cast("long")
            )
            for i, src in enumerate(srcs):
                out = out.withColumn(
                    p["sums"][src], F.sum(src).over(wrun) + _map(i + 1)[F.col(pc)]
                )
            continue

        # MANY partitions (the cluster case): a literal map would scan
        # its entries linearly per ROW — broadcast-join the offsets
        # table instead (O(1) hash lookup per row at any partition
        # count). Typed: integral sums offset as long, float as double
        # (other sum types would need the Spark sum result type
        # threaded through — no consumer sums them, so fail loudly).
        def _off_type(src):
            t = wp.schema[src].dataType.simpleString()
            if t in ("tinyint", "smallint", "int", "bigint"):
                return "bigint"
            if t in ("float", "double"):
                return "double"
            raise TypeError(
                f"global_prefix_stats: unsupported sum column type {t} for {src!r}"
            )

        off_schema = f"{pc} int, __off_rn bigint" + "".join(
            f", __off_{i} {_off_type(src)}" for i, src in enumerate(srcs)
        )
        off_df = df.sparkSession.createDataFrame(off_rows, off_schema)
        out = out.join(F.broadcast(off_df), pc)
        out = out.withColumn(
            p["rn"], (F.row_number().over(w) + F.col("__off_rn")).cast("long")
        )
        for i, src in enumerate(srcs):
            out = out.withColumn(
                p["sums"][src], F.sum(src).over(wrun) + F.col(f"__off_{i}")
            )
        out = out.drop("__off_rn", *[f"__off_{i}" for i in range(len(srcs))])

    return out.drop(*drop_cols, *gk_cols)


def ntile_from_rn(rn, n: int, total: int):
    """SQL-standard ``ntile(n)`` computed ARITHMETICALLY from a global
    1-based row number and the total row count (both from
    ``global_prefix_stats``) — bucket sizes ``total div n`` with the
    first ``total mod n`` buckets one larger, identical to Spark's and
    DuckDB's window ntile but with no global-sort WindowExec. Bucket
    arithmetic is EXACT integer division (SQL ``div``): ``floor`` of a
    double quotient diverges from integer division once the dividend
    nears 2^53 (~4e15 rows — reachable for token-level row numbers at
    the 100 TB contract; ADVICE r6)."""
    q, r = divmod(int(total), int(n))
    big = F.lit(q + 1)
    head = F.lit(r * (q + 1))

    def _idiv(a, b):
        return F.call_function("div", a.cast("long"), b)

    return (
        F.when(rn <= head, _idiv(rn - 1, big))
        .otherwise(F.lit(r) + _idiv(rn - head - 1, F.greatest(F.lit(q), F.lit(1))))
        .cast("long")
        + 1
    )
