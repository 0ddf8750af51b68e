"""Session caches and conf overrides under concurrency and changed input.

Session conf is shared by every thread of a session, and the graph and
dedup caches outlive a single query, so two properties must hold: a
temporary conf override never leaks past its block, even when two
threads override at once, and a cached edge table never outlives a
change to the files it was built from."""

from __future__ import annotations

import shutil
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor

import pyarrow.compute as pc
import pyarrow.parquet as pq

from hw_kafka_flink_health_spark.cache import LRU, conf_override, frame_key
from hw_kafka_flink_health_spark.plans import analyzed_str
from hw_kafka_flink_health_spark.queries import QUERIES
from hw_kafka_flink_health_spark.queries.graph import _cs_edges_undirected
from tests.conftest import SF_DIR

MAX_FIELDS = "spark.sql.debug.maxToStringFields"


def _rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


def test_lru_recency_and_concurrent_misses():
    """A hit refreshes recency; a None key never caches; threads missing
    on one key all get the first inserted value; the size stays capped;
    every keyed lookup counts as one hit or one miss."""
    lru = LRU(2)
    a = lru.get_or_build("a", object)
    lru.get_or_build("b", object)
    assert lru.get_or_build("a", object) is a  # touch a: b is now LRU
    lru.get_or_build("c", object)  # evicts b, not a
    assert lru.get_or_build("a", object) is a
    assert lru.get_or_build(None, object) is not lru.get_or_build(None, object)
    assert (lru.hits, lru.misses, lru.evictions) == (2, 3, 1)

    n = 16  # more threads than cores
    start, fetched = threading.Barrier(n, timeout=60), threading.Barrier(n, timeout=60)

    def slow_build() -> object:
        time.sleep(0.01)
        return object()

    def worker(i: int) -> list:
        start.wait()
        same = lru.get_or_build("shared", slow_build)
        fetched.wait()  # no eviction before every thread has its value
        for j in range(300):
            key = (i + j) % 5
            assert lru.get_or_build(key, lambda: key) == key
        return [same]

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(n) as pool:
            got = [v for out in pool.map(worker, range(n), timeout=120) for v in out]
    finally:
        sys.setswitchinterval(old)
    assert all(v is got[0] for v in got), "concurrent misses returned different values"
    assert len(lru._entries) <= lru.cap
    assert lru.hits + lru.misses == 5 + n + n * 300
    # a miss inserts at most once, and only inserts evict
    assert 0 < lru.evictions <= lru.misses - len(lru._entries)
    assert lru.build_s >= 0.01  # at least one slow_build ran to the end


def test_concurrent_graph_queries_keep_results_and_aqe(spark, tmp_path_factory):
    """Two graph queries built and collected at once in one session: each
    thread misses the edge cache (fresh copies of the inputs) and runs
    `checkpoint_partitioned`, whose AQE-off override must not interleave
    with the other thread's and leave AQE off for the rest of the session."""
    names = ("graph_label_propagation", "graph_kcore")
    serial = {name: _rows(QUERIES[name](spark, SF_DIR)) for name in names}
    for trial in range(3):
        copy = tmp_path_factory.mktemp(f"graph_inputs_{trial}")
        for table in ("orders", "lineitem"):
            shutil.copy(f"{SF_DIR}/{table}.parquet", copy / f"{table}.parquet")
        start = threading.Barrier(len(names), timeout=60)

        def run(name: str, sf_dir: str = str(copy)) -> list[tuple]:
            start.wait()
            return _rows(QUERIES[name](spark, sf_dir))

        with ThreadPoolExecutor(len(names)) as pool:
            got = dict(zip(names, pool.map(run, names, timeout=600)))
        assert got == serial, f"trial {trial}: concurrent results differ"
        assert spark.conf.get("spark.sql.adaptive.enabled") == "true", trial


def test_conf_override_restores_unset_and_edge_cache_tracks_input(spark, tmp_path):
    jconf = spark.conf._jconf
    assert not jconf.contains(MAX_FIELDS), "precondition: the key starts unset"

    # nested: the inner block restores the outer value, the outer block unsets
    with conf_override(spark, **{MAX_FIELDS: "100"}):
        with conf_override(spark, **{MAX_FIELDS: "200"}):
            assert spark.conf.get(MAX_FIELDS) == "200"
        assert spark.conf.get(MAX_FIELDS) == "100"
    assert not jconf.contains(MAX_FIELDS)

    # concurrent: overrides of the same key from several threads, mixed
    # with plan renders that override it internally
    df = spark.read.parquet(f"{SF_DIR}/orders.parquet")

    def hammer(i: int) -> None:
        for _ in range(10):
            with conf_override(spark, **{MAX_FIELDS: str(30 + i)}):
                assert spark.conf.get(MAX_FIELDS) == str(30 + i)
                analyzed_str(df)

    with ThreadPoolExecutor(4) as pool:
        list(pool.map(hammer, range(4), timeout=300))
    assert not jconf.contains(MAX_FIELDS)

    # the undirected edge entry misses after an in-place input overwrite
    for table in ("orders", "lineitem"):
        shutil.copy(f"{SF_DIR}/{table}.parquet", tmp_path / f"{table}.parquet")
    before = _cs_edges_undirected(spark, str(tmp_path))
    orders = pq.read_table(tmp_path / "orders.parquet")
    orders = orders.filter(pc.equal(pc.bit_wise_and(orders["o_orderkey"], 1), 0))
    pq.write_table(orders, tmp_path / "orders.parquet")
    after = _cs_edges_undirected(spark, str(tmp_path))
    assert after is not before, "overwritten input must miss the cache"

    li = pq.read_table(tmp_path / "lineitem.parquet").to_pandas()
    joined = orders.to_pandas().merge(li, left_on="o_orderkey", right_on="l_orderkey")
    pairs = {
        (f"c{c}", f"s{s}") for c, s in zip(joined["o_custkey"], joined["l_suppkey"])
    }
    expected = sorted(pairs | {(d, s) for s, d in pairs})
    assert _rows(after) == expected
    assert _rows(before) != expected


def test_frame_key_skips_files_it_cannot_stat(spark, tmp_path):
    """A frame whose input file os.stat cannot read gets no key: a
    name-only key would serve the cached result of a file that was
    since rewritten."""
    shutil.copy(f"{SF_DIR}/orders.parquet", tmp_path / "orders.parquet")
    df = spark.read.parquet(str(tmp_path / "orders.parquet"))
    assert frame_key(df) is not None
    (tmp_path / "orders.parquet").unlink()
    assert df.inputFiles(), "precondition: the frame still lists its file"
    assert frame_key(df) is None
