"""The engine must behave identically under a session WITHOUT Arrow.

The driver harness builds its own SparkSession (Arrow off by default); in
round 1 the upsert delta went through pandas, which coerced a None+int
IntegerType column to float64 and crashed createDataFrame
(FIELD_DATA_TYPE_UNACCEPTABLE). Small local frames (crawler.local_df)
are built as ``pyarrow.Table``s typed by the Spark schema: the JVM decodes
them whatever the session's Arrow flag says, None stays None in int
columns, and reading the frame runs no Python task (a frame built from
tuples is a PythonRDD that forks a worker on every evaluation). So a full
crawl — seed, pop, upsert, robots, log flush, snapshot — must run green
with Arrow disabled, and local_df must round-trip every schema exactly.
"""

import tempfile

import pytest

from supercrawler_spark import fixtures
from supercrawler_spark.crawler import (FRONTIER_SCHEMA, METRICS_SCHEMA,
                                        ROBOTS_SCHEMA, CrawlConfig,
                                        SparkCrawler, local_df)
from supercrawler_spark.oracle import OracleConfig, OracleCrawler, web_pages_dict

ARROW_KEY = "spark.sql.execution.arrow.pyspark.enabled"


@pytest.fixture()
def arrow_off(spark):
    prev = spark.conf.get(ARROW_KEY)
    spark.conf.set(ARROW_KEY, "false")
    yield spark
    spark.conf.set(ARROW_KEY, prev)


@pytest.fixture(params=["true", "false"], ids=["arrow_on", "arrow_off"])
def arrow_flag(spark, request):
    prev = spark.conf.get(ARROW_KEY)
    spark.conf.set(ARROW_KEY, request.param)
    yield spark
    spark.conf.set(ARROW_KEY, prev)


_LOCAL_ROWS = [
    (FRONTIER_SCHEMA, [
        {"url_hash": None, "url": "http://a.example/", "host": "a.example",
         "status_code": None, "error_code": None, "error_message": None,
         "num_errors": 0, "next_fetch_time": -1.5e10, "seq": 0},
        {"url_hash": -42, "url": "http://b.example/x", "host": "b.example",
         "status_code": 404, "error_code": "HTTP_ERROR",
         "error_message": "not found", "num_errors": 3,
         "next_fetch_time": float("inf"), "seq": 2**40},
    ]),
    (ROBOTS_SCHEMA, [
        {"robots_key": "http://a.example/robots.txt",
         "robots_txt": "User-agent: *\nDisallow: /x", "deny_status": None,
         "req_err": False, "fetched_at": 0.0},
        {"robots_key": "http://b.example/robots.txt", "robots_txt": None,
         "deny_status": 503, "req_err": None, "fetched_at": None},
    ]),
    (METRICS_SCHEMA, [
        {"cycle_id": 7, "popped": 128, "links_found": 900, "links_new": 311,
         "dedup_hits": 589, "robots_denied": 0, "errors": 12,
         "cycle_time": 1.5e12, "bloom_fpr_est": None},
        {"cycle_id": 8, "popped": 0, "links_found": 0, "links_new": 0,
         "dedup_hits": 0, "robots_denied": None, "errors": 0,
         "cycle_time": 0.25, "bloom_fpr_est": 0.0123},
    ]),
]


@pytest.mark.parametrize("schema,rows", _LOCAL_ROWS + [
    (s, []) for s, _ in _LOCAL_ROWS],
    ids=["frontier", "robots", "metrics",
         "frontier_empty", "robots_empty", "metrics_empty"])
def test_local_df_round_trips_without_python_tasks(arrow_flag, schema, rows):
    """local_df keeps exact types and None in int/string/double columns
    under either Arrow setting, and its plan decodes in the JVM: no
    PythonRDD, so reading the frame forks no Python worker."""
    df = local_df(arrow_flag, rows, schema)
    assert df.schema == schema
    got = [r.asDict() for r in df.collect()]
    assert got == rows
    # exact Python types too: ints must not come back as floats
    names = [f.name for f in schema.fields]
    assert [[type(r[n]) for n in names] for r in got] == \
        [[type(r[n]) for n in names] for r in rows]
    lineage = df._jdf.queryExecution().toRdd().toDebugString()
    assert "PythonRDD" not in lineage, lineage


def test_crawl_parity_without_arrow(arrow_off):
    spark = arrow_off
    seeds, web, _ = fixtures.make_web_fixture(n_hosts=2, pages_per_host=3)
    wd = tempfile.mkdtemp()
    cfg = CrawlConfig(budget=8, order_mode="random")
    cr = SparkCrawler(spark, spark.createDataFrame(web), wd, cfg)
    cr.seed(list(seeds["url"]))
    cr.crawl(max_cycles=30)

    ora = OracleCrawler(web_pages_dict(web),
                        OracleConfig(budget=8, order_mode="random"))
    ora.seed(list(seeds["url"]))
    res = ora.crawl(max_rounds=30)

    assert cr.crawl_order == res.crawl_order
    assert cr.seen_urls() == res.seen_urls()
    # error/status columns survived the tuple path with exact types
    pdf = cr.frontier_pdf()
    ora_states = {u: st for u, (st, ec, em, ne) in res.final_states().items()}
    for _, r in pdf.iterrows():
        s = r["status_code"]
        s = None if s is None or (isinstance(s, float) and s != s) else int(s)
        assert s == ora_states[r["url"]]
