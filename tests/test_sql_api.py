"""SQL surface ⇔ Column-builder equivalence (drift control for
frontpage_spark.sql_api) + pure-SQL end-to-end smoke."""

import pyspark.sql.functions as F
import pytest

from frontpage_spark import functions as FF
from frontpage_spark.sql_api import SQL_FUNCTIONS, register_functions, register_views

TRICKY = [
    "http://newyork.site.example/cas/brooklyn/4242/12345678.html",
    "Tuesday, May 2, 2017 11:28 PM call me at 555-123-4567 or five55one234568",
    "  MIXED Case \t\r\n param \x0b ",
    "naïve café — non-ascii ✓ $1,2345678$",
    '{"a": "x", "n": "7"}',
    "",
    None,
]


@pytest.fixture(scope="module")
def sqlready(spark):
    register_functions(spark)
    return spark.createDataFrame([(s,) for s in TRICKY], "s string")


def _pairs(spark, df, sql_expr, col):
    got = df.select(F.expr(sql_expr).alias("a"), col.alias("b")).collect()
    return [(r.a, r.b) for r in got]


@pytest.mark.parametrize(
    "sql_expr,builder",
    [
        ("get_ad_id(s)", lambda: FF.ad_id_from_url("s")),
        ("get_category(s)", lambda: FF.category_from_url("s")),
        ("get_site_id(s)", lambda: FF.site_id_from_url("s")),
        ("parse_verbose_date(s)", lambda: FF.parse_verbose_date("s")),
        ("strip_crlf(s)", lambda: FF.strip_crlf("s")),
        ("get_phone_candidates(s)", lambda: FF.phone_candidates("s")),
        ("phone_extract(s)", lambda: FF.phone_extract("s")),
        ("ascii_sanitize(s)", lambda: FF.ascii_sanitize("s")),
        ("normalize_param(s)", lambda: FF.normalize_param("s")),
        ("json_get(s, 'a')", lambda: FF.json_get("s", "a")),
        ("empty_on_null(s)", lambda: FF.empty_on_null("s")),
    ],
)
def test_sql_udf_matches_column_builder(spark, sqlready, sql_expr, builder):
    for a, b in _pairs(spark, sqlready, sql_expr, builder()):
        assert a == b, f"{sql_expr}: {a!r} != {b!r}"


def test_sql_udf_uniq_and_format(spark, sqlready):
    df = spark.createDataFrame(
        [("2017-05-02 23:28:00", "123", "ny", "cas")], "d string, a string, s string, c string"
    )
    got = df.select(
        F.expr("make_uniq_id(d, a, s, c)").alias("x"),
        FF.uniq_id("d", "a", "s", "c").alias("y"),
        F.expr("format_ts(CAST(d AS TIMESTAMP))").alias("fx"),
        FF.format_ts(F.col("d").cast("timestamp")).alias("fy"),
    ).first()
    assert got.x == got.y
    assert got.fx == got.fy


def test_every_sql_function_is_tested_or_trivial():
    covered = {
        "get_ad_id", "get_category", "get_site_id", "parse_verbose_date",
        "strip_crlf", "get_phone_candidates", "phone_extract", "ascii_sanitize",
        "normalize_param", "json_get", "empty_on_null", "make_uniq_id", "format_ts",
    }
    assert set(SQL_FUNCTIONS) == covered


def test_pure_sql_end_to_end(spark):
    import os

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    register_functions(spark)
    register_views(spark, sf_dir)
    # the flagship phone-mining shape, written by a SQL-only user
    got = spark.sql(
        """
        SELECT c_mktsegment,
               sum(size(get_phone_candidates(c_name))) AS n
        FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment
        """
    ).collect()
    want = (
        spark.read.parquet(f"{sf_dir}/customer.parquet")
        .groupBy("c_mktsegment")
        .agg(F.sum(F.size(FF.phone_candidates("c_name"))).alias("n"))
        .orderBy("c_mktsegment")
        .collect()
    )
    assert got == want
    # view scans keep pushdown: a filtered count agrees with the direct read
    n_sql = spark.sql("SELECT count(*) AS n FROM orders WHERE o_orderstatus = 'F'").first().n
    n_df = spark.read.parquet(f"{sf_dir}/orders.parquet").filter("o_orderstatus = 'F'").count()
    assert n_sql == n_df


def test_chunk_tokens_udtf(spark):
    from frontpage_spark.sql_api import ChunkTokens, register_udtfs

    register_udtfs(spark)
    text = " ".join(f"w{i}" for i in range(10))
    rows = spark.sql(
        f"SELECT * FROM chunk_tokens('{text}', 4, 1)"
    ).collect()
    want = list(ChunkTokens().eval(text, 4, 1))
    assert [(r.chunk_no, r.chunk, r.n_tokens) for r in rows] == want
    # windows overlap by 1 token and cover every token
    chunks = [r.chunk.split(" ") for r in rows]
    for a, b in zip(chunks, chunks[1:]):
        assert a[-1] == b[0]
    assert [t for c in chunks for t in c[:-1]] + [chunks[-1][-1]] == text.split(" ")[:len(
        [t for c in chunks for t in c[:-1]]
    ) + 1]
    # lateral join fan-out over a table
    spark.createDataFrame([(1, text), (2, "a b")], ["doc_id", "text"]).createOrReplaceTempView("__docs")
    lat = spark.sql(
        "SELECT doc_id, c.chunk_no FROM __docs, LATERAL chunk_tokens(text, 4, 1) c"
    ).collect()
    assert sum(1 for r in lat if r.doc_id == 1) == len(want)
    assert sum(1 for r in lat if r.doc_id == 2) == 1


def test_observe_metrics(spark):
    """df.observe: pipeline metrics ride the job (no second scan)."""
    from pyspark.sql import Observation

    obs = Observation("gate")
    df = spark.range(0, 1000).observe(
        obs, F.count(F.lit(1)).alias("n"), F.sum(F.when(F.col("id") % 10 == 0, 1).otherwise(0)).alias("hits")
    )
    assert df.filter("id >= 0").count() == 1000
    assert obs.get == {"n": 1000, "hits": 100}


def test_merge_schema_evolution(spark, tmp_path):
    """Schema evolution on read: mergeSchema unions columns across files."""
    p = str(tmp_path / "evo")
    spark.createDataFrame([(1, "a")], ["id", "x"]).write.parquet(p + "/b1")
    spark.createDataFrame([(2, "b", 9.5)], ["id", "x", "y"]).write.parquet(p + "/b2")
    df = spark.read.option("mergeSchema", True).parquet(p + "/b1", p + "/b2")
    assert set(df.columns) == {"id", "x", "y"}
    rows = {r.id: (r.x, r.y) for r in df.collect()}
    assert rows[1] == ("a", None) and rows[2] == ("b", 9.5)


def test_recursion_rail_scoped_to_cloned_session(spark, tmp_path):
    """ADVICE r10: when recursive_ancestor_depths must raise
    spark.sql.cteRecursionRowLimit above the default (input outgrows
    the 1M-row rail), the raise lands on a CLONED session — the shared
    session's runaway-recursion safety rail stays at its prior value
    for every other recursive query."""
    import os

    from frontpage_spark.queries import QUERIES

    # a customer table big enough to need > 1M total recursion rows
    # (need = (n+1) * 22 > 1M  ->  n > 45453); other tables come from
    # the tiny sf0.001 fixtures via symlink (register_views loads all)
    sf = tmp_path / "sf_big_cust"
    sf.mkdir()
    for t in os.listdir("/root/testdata/sf0.001"):
        if t != "customer.parquet":
            os.symlink(os.path.join("/root/testdata/sf0.001", t), str(sf / t))
    base = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    import pyspark.sql.functions as F

    big = (
        spark.range(50_000)
        .crossJoin(base.limit(1).drop("c_custkey"))
        .withColumn("c_custkey", F.col("id"))
        .drop("id")
    )
    big.select(base.columns).write.parquet(str(sf / "customer.parquet"))

    # warm the shared session's load_table plan cache first — the r11
    # sf1 bench showed the cloned-session path must NOT inherit cached
    # frames bound to the shared session (their temp views would land
    # in the wrong catalog: TABLE_OR_VIEW_NOT_FOUND)
    from frontpage_spark.sources import load_table

    for t in ("customer", "orders", "nation"):
        load_table(spark, str(sf), t)

    # a full clone cache: the new clone must evict only the oldest entry
    from frontpage_spark.queries import _RECURSION_SESSIONS

    saved = dict(_RECURSION_SESSIONS)
    _RECURSION_SESSIONS.clear()
    dummies = [("dummy-app", f"/dummy/{i}") for i in range(16)]
    for k in dummies:
        _RECURSION_SESSIONS[k] = spark
    try:
        before = spark.conf.get("spark.sql.cteRecursionRowLimit", "1000000")
        df = QUERIES["recursive_ancestor_depths"](spark, str(sf))
        assert spark.conf.get("spark.sql.cteRecursionRowLimit", "1000000") == before
        assert (spark.sparkContext.applicationId, str(sf)) in _RECURSION_SESSIONS
        assert len(_RECURSION_SESSIONS) == 16
        assert dummies[0] not in _RECURSION_SESSIONS
        assert all(k in _RECURSION_SESSIONS for k in dummies[1:])
    finally:
        for k in dummies:
            _RECURSION_SESSIONS.pop(k, None)
        _RECURSION_SESSIONS.update(saved)
    # the frame itself runs (on the cloned session's raised rail):
    # 50k keys x up to 6 digits -> >1M total recursion rows
    rows = {r["d"]: r["n"] for r in df.collect()}
    assert rows[0] == 50_000
    assert spark.conf.get("spark.sql.cteRecursionRowLimit", "1000000") == before
