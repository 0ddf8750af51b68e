"""Session hygiene of the queries that bind their inputs in SQL text.

Fixed-name temp views and session conf writes were session-global side
effects: concurrent or later queries in the same session, and the
caller's own views, could observe another run's state. Every query now
binds its frames with `spark.sql(text, **frames)`, whose uniquely named
`_pyspark_*` views are dropped again before the call returns."""

from __future__ import annotations

from hw_kafka_flink_health_spark.queries import QUERIES
from hw_kafka_flink_health_spark.sources.files import register_views
from tests.conftest import SF_DIR
from tests.test_oracle import temp_view_names

#: queries that used to bind fixed-name session views
_SQL_BOUND = (
    "agg_grouping_sets",
    "scalar_subquery_ratio",
    "join_lateral_topn",
    "agg_filter_clause",
    "text_sentences_udtf",
)


def test_recursive_queries_leave_no_temp_views(spark):
    for name in ("recursive_month_spine_revenue", "recursive_part_hierarchy_rollup"):
        df = QUERIES[name](spark, SF_DIR)
        assert df.count() > 0
    leaked = [
        t.name
        for t in spark.catalog.listTables()
        if t.name.startswith(("__rec", "__hw", "_pyspark_"))
    ]
    assert not leaked, leaked


def test_queries_leave_the_callers_views_alone(spark):
    """`sqlrun` registers the tables as session views; building a query
    over another scale factor must neither repoint them nor add one."""
    tables = ("orders", "lineitem", "customer")
    register_views(spark, SF_DIR)
    try:
        views = temp_view_names(spark)
        counts = {t: spark.table(t).count() for t in tables}
        for name in _SQL_BOUND:
            QUERIES[name](spark, "/root/testdata/sf0.01")
        assert temp_view_names(spark) == views
        assert {t: spark.table(t).count() for t in tables} == counts
    finally:
        for v in views:
            spark.catalog.dropTempView(v)


def test_concurrent_recursive_runs_do_not_cross_talk(spark):
    """Two recursive runs interleaved on one session: with uniquely named
    views neither can read the other's bound table."""
    from concurrent.futures import ThreadPoolExecutor

    def run(name: str) -> int:
        return QUERIES[name](spark, SF_DIR).count()

    with ThreadPoolExecutor(max_workers=2) as ex:
        a = ex.submit(run, "recursive_month_spine_revenue")
        b = ex.submit(run, "recursive_part_hierarchy_rollup")
        assert a.result() > 0 and b.result() > 0
