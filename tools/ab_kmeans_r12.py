"""Interleaved A/B: kmeans_lloyd with vs without the keep()-persisted
(id, vector) projection across Lloyd passes (r12 VERDICT item 3)."""

from __future__ import annotations

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    rounds = int(os.environ.get("AB_ROUNDS", "7"))

    import frontpage_spark.ext.similarity as S
    from frontpage_spark import plans
    from frontpage_spark.queries import QUERIES
    from frontpage_spark.session import get_spark
    from frontpage_spark.sources import load_table

    spark = get_spark("ab_kmeans")
    spark.sparkContext.setLogLevel("ERROR")
    QUERIES["global_minmax"](spark, sf_dir).collect()

    def run_variant(use_keep: bool) -> float:
        emb = load_table(spark, sf_dir, "embeddings")
        feat = emb.select(F.col("vec_id"), F.col("embedding"))
        if use_keep:
            feat = plans.keep(feat)
        t0 = time.time()
        assigned, _ = ab_lloyd(feat)
        out = assigned.groupBy("cent_id").agg(
            F.count("*").alias("n_members"),
            F.round(
                F.sum(F.round(F.col("sim") * 1e12).cast("long")) / F.lit(1e12) / F.count("*"), 9
            ).alias("avg_sim"),
        )
        out.write.format("noop").mode("overwrite").save()
        dt = time.time() - t0
        spark.catalog.clearCache()
        return dt

    def ab_lloyd(feat, k=8, assign_passes=2):
        cents = feat.orderBy("vec_id").limit(k).select(
            F.col("vec_id").alias("cent_id"), F.col("embedding").alias("ce")
        )
        assigned = S.assign_cosine(feat, cents, "vec_id", "embedding")
        for _ in range(assign_passes - 1):
            upd = S.mean_pool(assigned, "cent_id", "e")
            cents = upd.select("cent_id", F.col("centroid").alias("ce"))
            assigned = S.assign_cosine(feat, cents, "vec_id", "embedding")
        return assigned, cents

    run_variant(True); run_variant(False)  # warm
    res = {True: [], False: []}
    for _ in range(rounds):
        for arm in (True, False):
            res[arm].append(run_variant(arm))
    for arm in (True, False):
        med = statistics.median(res[arm])
        samp = "/".join(f"{s:.2f}" for s in res[arm])
        print(f"keep={arm}: median {med:.3f}  ({samp})")
    spark.stop()


if __name__ == "__main__":
    main()
