"""Session conf: BLAS pinning, and the runtime profile every registered
query applies before it builds (``queries.register`` calls
``session.tune(spark, sf_dir)`` and then builds the plan fresh)."""

from frontpage_spark import plans
from frontpage_spark.queries import QUERIES
from frontpage_spark.session import default_parallelism
from .conftest import SF_DIR


def test_blas_pin_exported_to_executors(spark):
    assert spark.conf.get("spark.executorEnv.OPENBLAS_NUM_THREADS") == "1"
    assert spark.conf.get("spark.executorEnv.OMP_NUM_THREADS") == "1"


def test_registered_query_tunes_then_builds_fresh(spark):
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    old_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.shuffle.partitions", "999")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    try:
        df1 = QUERIES["group_counts_q1"](spark, SF_DIR)
        # the tiny sf dir selects the small-input profile
        assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
        assert spark.conf.get("spark.sql.shuffle.partitions") == str(
            min(8, default_parallelism())
        )
        df2 = QUERIES["group_counts_q1"](spark, SF_DIR)
        assert df2 is not df1
        rows1 = sorted(tuple(r) for r in df1.collect())
        assert rows1 and rows1 == sorted(tuple(r) for r in df2.collect())
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)
        spark.conf.set("spark.sql.adaptive.enabled", old_aqe)


def test_keep_using_query_same_count_across_clear_cache(spark):
    # near_dup_verified keep()s a shared stage; a clearCache() between
    # calls drops it, and the next call rebuilds and re-keeps its own
    n1 = QUERIES["near_dup_verified"](spark, SF_DIR).count()
    spark.catalog.clearCache()
    n2 = QUERIES["near_dup_verified"](spark, SF_DIR).count()
    assert n1 == n2 > 0
    plans.release_kept()
