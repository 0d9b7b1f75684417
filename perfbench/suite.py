"""The ``query_suite`` workload: a fixed sample of the 77 headline queries
on seeded tables.

The sample (``SUITE``) is every fifteenth headline query plus the first
headline query of each ``ext`` domain that those miss (dedup, textstats,
graph, prep): 10 queries, light and heavy, relational and every ``ext``
domain. A pass over all 77 costs about a minute on four cores, mostly fixed
per-query cost, which is more than one benchmark run can spend.

Each query is one operation: the registered query function is called and its
result is collected to pandas, in a fresh session, once, in a fixed
order. Its latency covers both. Every result is then compared, outside
the timer, with the query's DuckDB oracle, computed once per run on the
same tables and normalised the way ``tools/check.py`` does.
"""

from __future__ import annotations

import math
import os
import statistics
import sys
import time
import types

from pyspark.sql import SparkSession

from frontpage_spark.queries import ORACLES, QUERIES

import gen_tables
from spans import EventLog, Tracer, plan_stats, total

# The headline set of bench.py, frozen here so the workload cannot
# change under a comparison between two commits; the workload runs SUITE.
HEADLINE = (
    "phone_mine_segments", "url_parse_tokens", "group_counts_q1", "enrich_broadcast",
    "topk_orders", "json_props_extract", "dedup_exact", "minhash_lsh_candidates",
    "simhash_buckets", "embedding_topk_cosine", "text_quality_by_lang",
    "token_counts_by_source", "doc_fingerprints", "sessionize_users",
    "tumbling_window_counts", "incremental_delta_scan", "sentiment_by_source",
    "rolling_hash_fingerprints", "topn_per_segment", "set_ops_customers",
    "lang_id_heuristic", "salted_skew_join", "asof_click_purchase",
    "percentiles_by_status", "pivot_status_by_year", "range_join_clicks",
    "hash_sample_orders", "stratified_sample_docs", "quantize_embeddings",
    "near_dup_verified", "multimodal_decode", "embedding_near_dup",
    "revenue_topn_q3ish", "regional_revenue_q5ish", "quality_filter_funnel",
    "tfidf_top_terms", "pii_scrub_stats", "session_window_stats", "dup_clusters",
    "kmeans_assign_counts", "boilerplate_token_prune", "zorder_bucket_stats",
    "char_entropy_by_source", "dq_orders_report", "pagerank_part_supplier",
    "embedding_centroids", "small_qty_revenue_q17ish", "scd2_user_state",
    "key_skew_profile", "mad_price_by_status", "cohort_retention",
    "cdc_substring_dups", "kmeans_lloyd_counts", "semantic_dedup_report",
    "benchmark_contamination", "recursive_ancestor_depths",
    "triangle_count_copurchase", "bpe_train_merges", "prefix_filtered_jaccard",
    "audio_rms_profile", "image_dhash_near_dup", "sliding_distinct_users",
    "rolling_zscore_anomalies", "bm25_keyword_search", "quality_score_auc",
    "split_leakage_audit", "order_count_distribution_q13ish",
    "min_cost_supplier_q2ish", "segment_dedup_prune", "luhn_cc_audit",
    "attribution_last_touch", "rfm_segments", "cusum_revenue_alarms",
    "bination_volume_q7ish", "big_order_customers_q18ish", "forecast_revenue_q6ish",
    "embedding_near_dup_lsh",
)
SUITE = (
    *HEADLINE[::15],
    "dedup_exact", "text_quality_by_lang", "pagerank_part_supplier", "bpe_train_merges",
)
DOMAINS = ("dedup", "similarity", "textstats", "graph", "prep", "multimodal")
SF_FULL, SF_SMOKE = 0.01, 0.001


def _names(fn: types.FunctionType, seen: set) -> list[str]:
    """Global and attribute names ``fn`` refers to, depth first through
    its nested code and the helper functions of its own module."""
    seen.add(fn)
    codes, out = [fn.__code__], []
    while codes:
        code = codes.pop(0)
        codes += [c for c in code.co_consts if isinstance(c, types.CodeType)]
        for n in code.co_names:
            out.append(n)
            g = fn.__globals__.get(n)
            if isinstance(g, types.FunctionType) and g.__module__ == fn.__module__ and g not in seen:
                out += _names(g, seen)
    return out


def domain_of(name: str) -> str:
    """The first ``ext`` domain module the query function refers to,
    or ``relational`` when it uses none of them."""
    fn = getattr(QUERIES[name], "__wrapped__", QUERIES[name])
    for n in _names(fn, set()):
        d = n.removeprefix("ext.")
        if d in DOMAINS:
            return d
    return "relational"


def run(spark: SparkSession, tracer: Tracer, work: str, repo: str, seed: int,
        seconds: float, smoke: bool) -> dict:
    sys.path.insert(0, os.path.join(repo, "tools"))
    import check

    missing = [n for n in SUITE if n not in QUERIES or n not in ORACLES]
    if missing:
        raise SystemExit(f"queries or oracles missing from the registry: {missing}")
    tdir = os.path.join(work, "tables")
    rows = gen_tables.generate(tdir, seed, SF_SMOKE if smoke else SF_FULL)
    con = check.duckdb_con(tdir)
    oracles = {n: con.execute(ORACLES[n]).fetchdf() for n in SUITE}
    con.close()

    sc = spark.sparkContext
    latency: dict[str, float] = {}
    op_plans: dict[str, dict] = {}
    failures: list[str] = []
    t_measure = time.perf_counter()
    for name in SUITE:
        op = f"q-{name}"
        sc.setJobGroup(op, op)
        t0 = time.perf_counter()
        try:
            with tracer.span("op", op):
                with tracer.span("ops.build"):
                    df = QUERIES[name](spark, tdir)
                with tracer.span("queries.collect"):
                    got = df.toPandas()
            latency[op] = time.perf_counter() - t0
            if tracer.enabled:
                op_plans[op] = plan_stats(df)
        except Exception as e:  # recorded, counted as a failed op
            failures.append(f"{name}: {type(e).__name__}: {str(e)[:200]}")
            continue
        finally:
            spark.catalog.clearCache()
        problems = check.compare(name, got, oracles[name])
        if problems:
            failures.append(f"{name}: " + " | ".join(problems))
    measured_s = time.perf_counter() - t_measure
    if not latency:
        raise RuntimeError("no query completed: " + "; ".join(failures[:3]))

    return {
        "op_latency_s": latency,
        "wall_s": sum(latency.values()),
        "attempted": len(SUITE),
        "failures": failures,
        "op_plans": op_plans,
        "context": {
            "sf": SF_SMOKE if smoke else SF_FULL,
            "table_rows": rows,
            "queries": len(SUITE),
            "queries_completed": len(latency),
            "measured_s": measured_s,
            "query_s": {op[2:]: round(s, 4) for op, s in latency.items()},
        },
        "layers": {},
    }


def layer_metrics(result: dict, tracer: Tracer, log: EventLog, cores: int) -> dict[str, float]:
    lat = result["op_latency_s"]
    plans_ = list(result["op_plans"].values())
    qs = log.select("q-")
    out: dict[str, float] = {f"queries.{op[2:]}_s": s for op, s in lat.items()}
    by_domain: dict[str, float] = {d: 0.0 for d in (*DOMAINS, "relational")}
    for op, s in lat.items():
        by_domain[domain_of(op[2:])] += s
    for d, s in by_domain.items():
        out["queries.relational_s" if d == "relational" else f"ext.{d}_s"] = s
    out.update({
        "queries.build_s": statistics.median(tracer.durations("ops.build")),
        "queries.analysis_ms": statistics.mean(p["analysis_ms"] for p in plans_),
        "queries.optimization_ms": statistics.mean(p["optimization_ms"] for p in plans_),
        "queries.planning_ms": statistics.mean(p["planning_ms"] for p in plans_),
        "queries.jobs_per_query": total(qs, "jobs") / len(lat),
        "queries.stages_per_query": total(qs, "stages") / len(lat),
        "queries.tasks_per_query": total(qs, "tasks") / len(lat),
        "plans.exchanges_per_query": statistics.mean(p["exchanges"] for p in plans_),
        "queries.shuffle_write_bytes": total(qs, "shuffle_write_bytes"),
        "queries.spill_bytes": total(qs, "spill_bytes"),
        "queries.gc_s": total(qs, "gc_ms") / 1000,
        "queries.core_busy_frac": total(qs, "run_ms") / 1000 / (sum(lat.values()) * cores),
        "queries.geomean_s": math.exp(statistics.mean(math.log(s) for s in lat.values())),
    })
    return out
