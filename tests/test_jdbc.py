"""JDBC parity tests (SURVEY.md §2.1 S4/S7/S8 over a real database).

Embedded Derby ships in Spark's jars, so these exercise the actual
JDBC code path — reader partitioning, server-side query pushdown, and
the insert-if-absent sink contract — without a network database. A
Postgres deployment swaps the URL/driver and keeps the same calls.
"""

import uuid

import pytest
from pyspark.sql import functions as F

from frontpage_spark import jdbc


@pytest.fixture()
def derby_url():
    # one in-memory database per test; create=true materializes it
    return f"jdbc:derby:memory:t{uuid.uuid4().hex[:12]};create=true"


def test_jdbc_roundtrip_and_insert_if_absent(spark, derby_url):
    df = spark.createDataFrame(
        [("k1", "a", 1), ("k2", "b", 2), ("k2", "b", 2)], ["uniq_id", "val", "n"]
    )
    # first write: in-batch dup collapses -> 2 rows land
    jdbc.insert_if_absent(df, derby_url, "ads")
    back = jdbc.jdbc_table(spark, derby_url, "ads")
    assert back.count() == 2
    # replay the same batch -> idempotent, nothing new lands
    jdbc.insert_if_absent(df, derby_url, "ads")
    assert jdbc.jdbc_table(spark, derby_url, "ads").count() == 2
    # a new key lands, existing keys skipped
    df2 = spark.createDataFrame([("k2", "x", 9), ("k3", "c", 3)], ["uniq_id", "val", "n"])
    jdbc.insert_if_absent(df2, derby_url, "ads")
    rows = {r["uniq_id"]: r["val"] for r in jdbc.jdbc_table(spark, derby_url, "ads").collect()}
    assert rows == {"k1": "a", "k2": "b", "k3": "c"}  # k2 kept its FIRST value


def test_jdbc_pushdown_query_and_delta_scan(spark, derby_url):
    raw = spark.createDataFrame(
        [(f"k{i}", i) for i in range(10)], ["uniq_id", "n"]
    )
    clean = spark.createDataFrame([(f"k{i}",) for i in range(6)], ["uniq_id"])
    jdbc.write_jdbc(raw, derby_url, "raw_ads")
    jdbc.write_jdbc(clean, derby_url, "clean_ads")

    # server-side aggregate: only one row crosses the wire
    agg = jdbc.pushdown_query(
        spark, derby_url, 'SELECT MAX("n") AS max_n FROM raw_ads'
    )
    assert agg.collect()[0]["MAX_N" if "MAX_N" in agg.columns else "max_n"] == 9

    # delta scan: NOT IN evaluated by the database (etl_process.py:297-301)
    delta = jdbc.jdbc_delta_scan(spark, derby_url, "raw_ads", "clean_ads")
    assert sorted(r["uniq_id"] for r in delta.collect()) == ["k6", "k7", "k8", "k9"]
    limited = jdbc.jdbc_delta_scan(spark, derby_url, "raw_ads", "clean_ads", limit=2)
    assert limited.count() == 2


def test_jdbc_partitioned_read_same_rows(spark, derby_url):
    df = spark.range(0, 100).select(
        F.col("id").cast("int").alias("n"), F.concat(F.lit("v"), F.col("id")).alias("val")
    )
    jdbc.write_jdbc(df, derby_url, "big")
    part = jdbc.jdbc_table(
        spark, derby_url, "big",
        partition_col="n", lower_bound=0, upper_bound=100, num_partitions=4,
    )
    assert part.rdd.getNumPartitions() == 4
    assert part.count() == 100
    assert part.agg(F.sum("n")).collect()[0][0] == sum(range(100))


def test_jdbc_filter_pushdown_in_plan(spark, derby_url):
    jdbc.write_jdbc(
        spark.createDataFrame([(i, i % 3) for i in range(30)], ["id", "flag"]),
        derby_url, "flags",
    )
    scan = jdbc.jdbc_table(spark, derby_url, "flags").filter(F.col("flag") == 1).select("id")
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "flag" in plan  # filter reaches the cursor SQL
    assert scan.count() == 10


def test_streaming_foreachbatch_into_jdbc(spark, tmp_path, derby_url):
    """End-to-end: a file stream drains micro-batches through
    insert_if_absent into the JDBC warehouse — the reference's
    poll-ETL-insert loop (etl_process.py:346-347, scraper.py:153-156)
    as Structured Streaming + a real database sink. Exactly-once-ish:
    replays and cross-batch duplicate keys both collapse server-side."""
    from frontpage_spark.incremental import stream_pipeline

    src = tmp_path / "src"
    src.mkdir()
    b1 = spark.createDataFrame([("k1", 1), ("k2", 2)], ["uniq_id", "n"])
    b2 = spark.createDataFrame([("k2", 2), ("k3", 3)], ["uniq_id", "n"])  # k2 repeats
    b1.coalesce(1).write.mode("append").parquet(str(src))
    b2.coalesce(1).write.mode("append").parquet(str(src))

    def body(df, epoch_id):
        jdbc.insert_if_absent(df, derby_url, "stream_ads")

    q = stream_pipeline(
        spark,
        str(src),
        str(tmp_path / "ckpt"),
        body,
        schema=b1.schema,
        max_files_per_trigger=1,  # force multiple micro-batches
    )
    q.awaitTermination(120)
    rows = {r["uniq_id"]: r["n"] for r in jdbc.jdbc_table(spark, derby_url, "stream_ads").collect()}
    assert rows == {"k1": 1, "k2": 2, "k3": 3}

    # a restart over the same checkpoint re-reads nothing -> still 3 rows
    q2 = stream_pipeline(
        spark, str(src), str(tmp_path / "ckpt"), body, schema=b1.schema
    )
    q2.awaitTermination(120)
    assert jdbc.jdbc_table(spark, derby_url, "stream_ads").count() == 3


def test_postgres_dialect_ddl(spark):
    """VERDICT r3 item 6: the reference's actual sink speaks Postgres
    (`scraper.py:153-156` raw DDL with UNIQUE(uniq_id),
    `etl_process.py:271-289` typed clean table). Derby round-trips prove
    the JDBC mechanics; this pins the POSTGRES dialect mapping Spark
    would emit for our schemas — the exact DDL `write_jdbc` creates
    against a real Postgres URL."""
    from frontpage_spark.jdbc import PG_URL, dialect_ddl
    from frontpage_spark.schemas import CLEAN_NATIVE_SCHEMA

    ddl = dialect_ddl(spark, CLEAN_NATIVE_SCHEMA, "backpage", url=PG_URL)
    # Postgres dialect: strings -> TEXT (not CLOB/VARCHAR), timestamps ->
    # TIMESTAMP, arrays -> TEXT[] (PostgresDialect supports ArrayType)
    assert ddl.startswith('CREATE TABLE backpage ("ad_id" TEXT')
    assert '"post_date" TIMESTAMP' in ddl
    assert '"scrape_date" TIMESTAMP' in ddl
    assert '"phone" TEXT[]' in ddl and '"other_ads" TEXT[]' in ddl
    assert '"uniq_id" TEXT NOT NULL' in ddl
    assert ddl.endswith('UNIQUE ("uniq_id"))')


def test_postgres_dialect_is_selected_by_url(spark):
    from frontpage_spark.jdbc import PG_URL

    d = spark._jvm.org.apache.spark.sql.jdbc.JdbcDialects.get(PG_URL)
    assert "Postgres" in d.toString()
    # Derby URL must NOT pick the Postgres dialect (regression guard for
    # the CLOB workarounds the Derby tests rely on)
    d2 = spark._jvm.org.apache.spark.sql.jdbc.JdbcDialects.get("jdbc:derby:memory:x")
    assert "Postgres" not in d2.toString()


def test_pg_insert_on_conflict_sql_matches_reference_shape():
    from frontpage_spark.jdbc import pg_insert_on_conflict_sql

    sql = pg_insert_on_conflict_sql("backpage_raw", ["id", "uniq_id", "ad"])
    # %s pyformat markers: what psycopg2/pg8000 (the drivers a
    # foreachPartition writer would use) accept — not JDBC '?'
    assert sql == (
        'INSERT INTO backpage_raw ("id", "uniq_id", "ad") VALUES (%s, %s, %s) '
        'ON CONFLICT ("uniq_id") DO NOTHING'
    )


def test_jdbc_identifier_validation():
    from frontpage_spark.jdbc import _check_ident, _pg_quote, pg_insert_on_conflict_sql

    assert _check_ident("ads_raw") == "ads_raw"
    assert _check_ident("app.ads_raw") == "app.ads_raw"
    for bad in ('ads"; DROP TABLE x; --', "a b", 'x"y', "1tab", ""):
        with pytest.raises(ValueError):
            _check_ident(bad)
    assert _pg_quote('we"ird') == '"we""ird"'
    sql = pg_insert_on_conflict_sql("t", ["a", 'b"c'], key="k")
    assert '"b""c"' in sql and 'ON CONFLICT ("k") DO NOTHING' in sql
