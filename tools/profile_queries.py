"""Per-query profiling: warm wall time + Spark job count + stage count.

Separates "slow because many jobs/stages (scheduling floor)" from "slow
because real compute" for the bench's worst Spark/oracle-ratio queries.

Usage: python tools/profile_queries.py [query ...]
Defaults to the current top-gap set from BENCH_local_r05.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DEFAULT = [
    "pagerank_part_supplier",
    "bpe_train_merges",
    "char_entropy_by_source",
    "segment_dedup_prune",
    "triangle_count_copurchase",
    "tfidf_top_terms",
    "image_dhash_near_dup",
    "kmeans_lloyd_counts",
    "min_cost_supplier_q2ish",
    "percentiles_by_status",
    "recursive_ancestor_depths",
    "multimodal_decode",
    "regional_revenue_q5ish",
    "big_order_customers_q18ish",
]


def main() -> None:
    names = sys.argv[1:] or DEFAULT
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from frontpage_spark.queries import QUERIES
    from frontpage_spark.session import get_spark

    spark = get_spark("profile")
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    QUERIES["global_minmax"](spark, sf_dir).collect()

    print(f"{'query':<34} {'build':>7} {'exec':>7} {'total':>7} {'jobs':>5} {'stages':>6}")
    for name in names:
        # one cold run to warm the table loads and codegen, then measure warm
        QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        spark.catalog.clearCache()
        best = None
        for _ in range(3):
            # attribute by job-ID VALUE, not list position: the status
            # store neither guarantees ordering nor unbounded retention
            ids0 = tracker.getJobIdsForGroup(None)
            j0 = max(ids0) if ids0 else -1
            t0 = time.time()
            df = QUERIES[name](spark, sf_dir)
            t1 = time.time()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.time()
            jobs = [j for j in tracker.getJobIdsForGroup(None) if j > j0]
            n_stages = 0
            for j in jobs:
                info = tracker.getJobInfo(j)
                if info is not None:
                    n_stages += len(info.stageIds)
            rec = (t1 - t0, t2 - t1, t2 - t0, len(jobs), n_stages)
            if best is None or rec[2] < best[2]:
                best = rec
            spark.catalog.clearCache()
        b, e, t, nj, ns = best
        print(f"{name:<34} {b:7.3f} {e:7.3f} {t:7.3f} {nj:5d} {ns:6d}")
    spark.stop()


if __name__ == "__main__":
    main()
