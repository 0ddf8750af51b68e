from __future__ import annotations

import os
import uuid

import pytest

from hw_kafka_flink_health_spark.schemas import STAR_TABLES
from hw_kafka_flink_health_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"

#: Two suite tiers. The default tier runs every plan-shape / money-idiom /
#: contract / operator-unit test plus the sf0.001 oracle mirror
#: (tests/test_oracle.py: all 420 registered queries, 411 of them
#: value-checked against DuckDB, each also gated on its plan shape and
#: on leaving the session's temp views and SQL conf as it found them, on
#: that same build): 788 tests in 683-897 s on 4 cores at a CPU score
#: (`perfbench/envinfo.py:cpu_score()`) of 400-507 MiB/s (804 s at
#: 446-468 with the session gate), inside a 2670 s verify window with
#: room for a 2x slower host.
#: SPARK_GRAFT_TESTS_FULL=1 adds the slow-marked rest: the
#: pathological-data fuzz sweep (tests/test_fuzz_oracle.py, 729 tests,
#: 556-779 s at a CPU score of 390-490; with it tier-1 would pass
#: 1650 s) and
#: the subprocess bench run, plus the CLI subprocess tests.
RUN_FULL = os.environ.get("SPARK_GRAFT_TESTS_FULL", "").lower() in (
    "1",
    "true",
    "yes",
)


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "slow: full-suite tier; skipped unless SPARK_GRAFT_TESTS_FULL=1",
    )


def pytest_collection_modifyitems(config, items):
    if RUN_FULL:
        return
    skip = pytest.mark.skip(
        reason="slow tier; set SPARK_GRAFT_TESTS_FULL=1 for the full suite"
    )
    for item in items:
        if item.get_closest_marker("slow"):
            item.add_marker(skip)


def count_jobs(spark, label: str, run) -> int:
    """How many Spark jobs `run()` launches, counted under a fresh job group."""
    sc = spark.sparkContext
    group = f"{label}-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in STAR_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()
