"""Session hygiene of the recursive-CTE queries (round-6 advice):
fixed-name temp views and a permanent recursion-limit mutation were
session-global side effects — concurrent or later queries in the same
session could observe another run's state."""

from __future__ import annotations

from hw_kafka_flink_health_spark.cache import conf_override
from tests.conftest import SF_DIR


def test_recursive_queries_leave_no_temp_views(spark):
    from hw_kafka_flink_health_spark.queries import QUERIES

    for name in (
        "recursive_month_spine_revenue",
        "timeseries_croston",
        "timeseries_dtw_band",
    ):
        df = QUERIES[name](spark, SF_DIR)
        assert df.count() > 0
    leaked = [
        t.name
        for t in spark.catalog.listTables()
        if t.name.startswith(("__rec", "__hw"))
    ]
    assert not leaked, leaked


def test_recursion_headroom_is_monotonic(spark):
    """A later run asking for less headroom must not clip an earlier
    run's raise; the helper only ever raises the cap."""
    from hw_kafka_flink_health_spark.queries.recursive import (
        _ensure_recursion_headroom,
    )

    with conf_override(spark, **{"spark.sql.cteRecursionLevelLimit": "500"}):
        _ensure_recursion_headroom(spark, 400)
        assert spark.conf.get("spark.sql.cteRecursionLevelLimit") == "500"
        _ensure_recursion_headroom(spark, 600)
        assert spark.conf.get("spark.sql.cteRecursionLevelLimit") == "600"


def test_concurrent_recursive_runs_do_not_cross_talk(spark):
    """Two recursive runs interleaved on one session: with uuid-suffixed
    views neither can read the other's staged series."""
    from concurrent.futures import ThreadPoolExecutor

    from hw_kafka_flink_health_spark.queries import QUERIES

    def run(name: str) -> int:
        return QUERIES[name](spark, SF_DIR).count()

    with ThreadPoolExecutor(max_workers=2) as ex:
        a = ex.submit(run, "timeseries_croston")
        b = ex.submit(run, "timeseries_dtw_band")
        assert a.result() > 0 and b.result() > 0
