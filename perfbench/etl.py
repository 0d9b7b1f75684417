"""The ``etl`` workload: the paper's raw-to-clean pipeline on seeded ads,
first as an ``availableNow`` stream of one file per micro-batch, then as
one whole-directory batch run. ``wall_s`` is the whole pass, stream and
batch run together.

One operation is one micro-batch or the batch run. Each runs

  clean_projection → validate_batch → quarantine_append
                   → enrich → dedup_new_keys → write_append(to_compat(…))

and the batch run ends with ``conform`` over its sink. Micro-batches
re-read the sink's keys before they dedup. Every sink starts empty.

Checks, all outside the timed region: each sink holds exactly the
expected clean rows with no duplicate ``uniq_id``; quarantine counts,
and the batch run's ``conform`` count, match the generator's; the
stream's sink and the batch run's sink have the same order-independent
hash.
"""

from __future__ import annotations

import glob
import os
import statistics
import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from frontpage_spark import conform as C, html, incremental, pipeline as P, sources

import gen_ads
from spans import EventLog, Tracer, plan_stats, total

FULL = {"rows": 4_000, "files": 4}
SMOKE = {"rows": 2_000, "files": 4}


def _has_parquet(path: str) -> bool:
    return bool(glob.glob(os.path.join(path, "*.parquet")))


def sink_digest(df: DataFrame) -> tuple[int, int, str]:
    """(rows, distinct uniq_id, order-independent hash of every column)."""
    cols = sorted(df.columns)
    r = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct("uniq_id").alias("keys"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
    ).first()
    return int(r["n"]), int(r["keys"]), str(r["h"])


class EtlWorkload:
    def __init__(self, spark: SparkSession, tracer: Tracer, work: str, repo: str,
                 seed: int, smoke: bool):
        self.spark, self.tracer, self.work = spark, tracer, work
        self.size = SMOKE if smoke else FULL
        self.expected = gen_ads.generate(
            os.path.join(work, "ads"), repo, seed, self.size["rows"], self.size["files"]
        )
        self.raw_dir = self.expected["raw_dir"]
        with tracer.span("sources.csv_dimension"):
            self.site = sources.csv_dimension(
                spark, self.expected["site_map_path"], gen_ads.SITE_MAP_COLUMNS
            )
        self.empty_keys = spark.createDataFrame([], "uniq_id string")
        self.schema = spark.read.parquet(self.raw_dir).schema
        self.failures: list[str] = []
        self.attempted = 0
        self.op_plans: dict[str, dict] = {}

    # -- the pipeline body, one span per public call ------------------------
    def body(self, raw: DataFrame, keys: DataFrame, sink: str, quarantine: str, op: str) -> None:
        t = self.tracer
        with t.span("op", op):
            with t.span("ops.build"):
                with t.span("pipeline.clean_projection"):
                    clean = P.clean_projection(raw)
                with t.span("pipeline.validate_batch"):
                    good, bad = P.validate_batch(clean, self.site)
            with t.span("pipeline.quarantine_append"):
                P.quarantine_append(bad, quarantine)
            with t.span("ops.build"):
                with t.span("pipeline.enrich"):
                    enriched = P.enrich(good, self.site)
                with t.span("pipeline.dedup_new_keys"):
                    new = P.dedup_new_keys(enriched, keys)
                with t.span("pipeline.to_compat"):
                    out = P.to_compat(new)
            with t.span("pipeline.write_append"):
                P.write_append(out, sink)
        if t.enabled:
            self.op_plans[op] = plan_stats(out)

    # -- stream phase --------------------------------------------------------
    def run_stream(self) -> dict:
        d = os.path.join(self.work, "stream")
        sink, quarantine = os.path.join(d, "sink"), os.path.join(d, "quarantine")
        sc = self.spark.sparkContext
        errors: list[str] = []
        root = None

        def batch_fn(batch: DataFrame, epoch: int) -> None:
            op = f"stream-{epoch}"
            sc.setJobGroup(op, op)
            try:
                with self.tracer.span("incremental.micro_batch", op, parent=root):
                    with self.tracer.span("incremental.sink_key_read"):
                        keys = (
                            self.spark.read.parquet(sink).select("uniq_id")
                            if _has_parquet(sink)
                            else self.empty_keys
                        )
                    self.body(batch, keys, sink, quarantine, op)
            except Exception as e:  # recorded, counted as a failed op
                errors.append(f"{op}: {type(e).__name__}: {str(e)[:200]}")
                raise

        t0 = time.perf_counter()
        with self.tracer.span("incremental.stream_pipeline", "stream") as root:
            q = incremental.stream_pipeline(
                self.spark, self.raw_dir, os.path.join(d, "checkpoint"), batch_fn,
                schema=self.schema, max_files_per_trigger=1,
            )
            try:
                q.awaitTermination()
            except Exception as e:  # a failed micro-batch already logged its error
                if not errors:
                    errors.append(f"stream: {type(e).__name__}: {str(e)[:200]}")
        wall = time.perf_counter() - t0
        progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
        latency = {
            f"stream-{p['batchId']}": p["durationMs"]["triggerExecution"] / 1000
            for p in progress
        }
        add_batch = [p["durationMs"].get("addBatch", 0) / 1000 for p in progress]
        self.attempted += self.size["files"]
        self.failures.extend(errors)
        if len(progress) != self.size["files"]:
            self.failures.append(
                f"stream ran {len(progress)} micro-batches, expected {self.size['files']}"
            )
        return {
            "wall_s": wall, "latency_s": latency, "add_batch_s": add_batch,
            "sink": sink, "quarantine": quarantine,
        }

    # -- batch phase ---------------------------------------------------------
    def run_batch(self) -> dict:
        d = os.path.join(self.work, "batch")
        sink, quarantine = os.path.join(d, "sink"), os.path.join(d, "quarantine")
        op = "batch"
        self.spark.sparkContext.setJobGroup(op, op)
        self.attempted += 1
        t0 = time.perf_counter()
        with self.tracer.span("sources.read_raw", op):
            raw = self.spark.read.parquet(self.raw_dir)
        self.body(raw, self.empty_keys, sink, quarantine, op)
        with self.tracer.span("conform.conform", op):
            C.conform(self.spark.read.parquet(sink), raw).write.mode("overwrite").parquet(
                os.path.join(d, "conformed")
            )
        wall = time.perf_counter() - t0
        return {"wall_s": wall, "sink": sink, "quarantine": quarantine,
                "conformed": os.path.join(d, "conformed")}

    # -- checks (untimed) ----------------------------------------------------
    def check_sink(self, label: str, out: dict) -> str | None:
        """Check one run's outputs against the expected counts; return
        the sink hash, or None when the outputs cannot be read."""
        try:
            return self._check_sink(label, out)
        except Exception as e:  # unreadable output counts as wrong
            self.failures.append(f"{label}: {type(e).__name__}: {str(e)[:200]}")
            return None

    def _check_sink(self, label: str, out: dict) -> str:
        exp = self.expected
        spark = self.spark
        n, keys, h = sink_digest(spark.read.parquet(out["sink"]))
        if n != exp["clean_rows"] or keys != n:
            self.failures.append(
                f"{label}: sink has {n} rows / {keys} keys, expected {exp['clean_rows']} unique"
            )
        reasons = {
            r["reason"]: r["count"]
            for r in spark.read.parquet(out["quarantine"]).groupBy("reason").count().collect()
        }
        want = {
            "unknown_site_id": exp["quarantine_unknown_site_id"],
            "unparseable_post_date": exp["quarantine_unparseable_post_date"],
        }
        if reasons != {k: v for k, v in want.items() if v}:
            self.failures.append(f"{label}: quarantine {reasons}, expected {want}")
        # only the batch run conforms: the stream's sink must hash the same
        # as the batch run's, so conforming it would give the same rows
        if "conformed" in out:
            got = spark.read.parquet(out["conformed"]).count()
            if got != exp["conform_rows"]:
                self.failures.append(
                    f"{label}: conform kept {got}, expected {exp['conform_rows']}"
                )
        return h

    # -- traced only: each layer on its own, on cached inputs ----------------
    def layer_probes(self) -> dict[str, float]:
        spark, t = self.spark, self.tracer
        rows = self.expected["raw_rows"]
        spark.sparkContext.setJobGroup("probe", "probe")

        def timed(name: str, fn) -> float:
            t0 = time.perf_counter()
            with t.span(name, "probe"):
                fn()
            return time.perf_counter() - t0

        def noop(df: DataFrame) -> None:
            df.write.format("noop").mode("overwrite").save()

        raw = spark.read.parquet(self.raw_dir)
        out = {
            "sources.read_raw_s": timed("probe.sources.read_raw", lambda: noop(raw)),
            "sources.csv_dimension_s": timed(
                "probe.sources.csv_dimension",
                lambda: sources.csv_dimension(
                    spark, self.expected["site_map_path"], gen_ads.SITE_MAP_COLUMNS
                ).collect(),
            ),
            "html.extract_s": timed(
                "probe.html.extract_fields",
                lambda: noop(raw.select(html.extract_fields(F.col("ad.read")).alias("h"))),
            ),
        }
        out["html.rows_per_s"] = rows / out["html.extract_s"]
        with_h = raw.select(
            F.col("uniq_id"),
            F.col("ad.url").alias("__url"),
            F.col("ad.scrape_date").alias("__scrape_date"),
            html.extract_fields(F.col("ad.read")).alias("__h"),
        ).cache()
        with_h.count()
        out["functions.derive_clean_s"] = timed(
            "probe.pipeline.derive_clean", lambda: noop(P.derive_clean(with_h))
        )
        clean = P.derive_clean(with_h).cache()
        clean.count()
        good, bad = P.validate_batch(clean, self.site)
        out["pipeline.validate_s"] = timed(
            "probe.pipeline.validate_batch", lambda: (noop(good), noop(bad))
        )
        d = os.path.join(self.work, "probe")
        out["pipeline.quarantine_s"] = timed(
            "probe.pipeline.quarantine_append",
            lambda: P.quarantine_append(bad, os.path.join(d, "quarantine")),
        )
        good = good.cache()
        good.count()
        out["pipeline.enrich_s"] = timed(
            "probe.pipeline.enrich", lambda: noop(P.enrich(good, self.site))
        )
        enriched = P.enrich(good, self.site).cache()
        enriched.count()
        out["pipeline.dedup_s"] = timed(
            "probe.pipeline.dedup_new_keys",
            lambda: noop(P.dedup_new_keys(enriched, self.empty_keys)),
        )
        new = P.dedup_new_keys(enriched, self.empty_keys).cache()
        new.count()
        out["pipeline.write_s"] = timed(
            "probe.pipeline.write_append",
            lambda: P.write_append(P.to_compat(new), os.path.join(d, "sink")),
        )
        sink = spark.read.parquet(os.path.join(d, "sink"))
        out["conform.conform_s"] = timed(
            "probe.conform.conform", lambda: noop(C.conform(sink, raw))
        )
        for df in (new, enriched, good, clean, with_h):
            df.unpersist()
        return out


def run(spark: SparkSession, tracer: Tracer, work: str, repo: str, seed: int,
        seconds: float, smoke: bool) -> dict:
    """One fixed pass, whatever ``seconds`` says: the stream, then one
    batch run. A pass cannot be cut short, and more batch runs on a
    faster box would change what ``wall_s`` covers."""
    w = EtlWorkload(spark, tracer, work, repo, seed, smoke)
    t_measure = time.perf_counter()
    stream = w.run_stream()
    try:
        batch = w.run_batch()
    except Exception as e:  # recorded, counted as a failed op
        w.failures.append(f"batch: {type(e).__name__}: {str(e)[:200]}")
        batch = None
    measured_s = time.perf_counter() - t_measure
    if batch is None or not stream["latency_s"]:
        raise RuntimeError(
            "the batch run or every micro-batch failed: " + "; ".join(w.failures[:3])
        )
    spark.sparkContext.setJobGroup("check", "check")

    hashes = {"stream": w.check_sink("stream", stream), "batch": w.check_sink("batch", batch)}
    if len(set(hashes.values())) != 1:
        w.failures.append(f"sink hashes differ between the stream and the batch run: {hashes}")

    rows = w.expected["raw_rows"]
    result = {
        "op_latency_s": stream["latency_s"],
        "op_plans": w.op_plans,
        "wall_s": measured_s,
        "attempted": w.attempted,
        "failures": w.failures,
        "context": {
            "raw_rows": rows,
            "micro_batches": len(stream["latency_s"]),
            "micro_batch_s": [round(v, 4) for v in stream["latency_s"].values()],
            "expected": {k: v for k, v in w.expected.items() if not k.endswith(("_path", "_dir"))},
            "batch_wall_s": batch["wall_s"],
            "batch_rows_per_s": rows / batch["wall_s"],
            "stream_wall_s": stream["wall_s"],
            "stream_rows_per_s": rows / stream["wall_s"],
            "sink_hash": hashes["stream"],
        },
    }
    result["layers"] = w.layer_probes() if tracer.enabled else {}
    result["stream_add_batch_s"] = stream["add_batch_s"]
    return result


def layer_metrics(result: dict, tracer: Tracer, log: EventLog, cores: int) -> dict[str, float]:
    """The workload's own per-layer metrics from spans and the event log."""
    rows = result["context"]["raw_rows"]
    latency = list(result["op_latency_s"].values())
    batch = log.select("batch")
    stream = log.select("stream-")
    out = dict(result["layers"])
    out.update({
        "pipeline.extract_evals_per_row": total(batch, "arrow_eval_rows") / rows,
        "pipeline.jobs_per_batch": total(batch, "jobs"),
        "pipeline.sink_bytes_per_row": total(batch, "output_bytes") / max(1, total(batch, "output_records")),
        "pipeline.core_busy_frac": (
            total(batch, "run_ms") / 1000 / (result["context"]["batch_wall_s"] * cores)
        ),
        "pipeline.shuffle_write_bytes": total(batch, "shuffle_write_bytes"),
        "sources.scan_bytes": total(batch, "input_bytes"),
        "incremental.batches": len(latency),
        "incremental.add_batch_s": statistics.median(result["stream_add_batch_s"]),
        "incremental.trigger_overhead_s": statistics.median(
            a - b for a, b in zip(latency, result["stream_add_batch_s"])
        ),
        "incremental.sink_key_read_s": statistics.median(
            tracer.durations("incremental.sink_key_read")
        ),
        "incremental.jobs_per_micro_batch": total(stream, "jobs") / max(1, len(stream)),
        "incremental.extract_evals_per_row": total(stream, "arrow_eval_rows") / rows,
    })
    return out

