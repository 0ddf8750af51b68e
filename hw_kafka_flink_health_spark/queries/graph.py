"""Graph analytics: fixed-point PageRank over the customer->supplier
purchase graph.

Extension surface (SURVEY.md §2.C): the reference has no joins, let alone
iterative graph algorithms (SURVEY.md §2.B). Connected components already
exist (`operators/dedup.py:connected_components`, min-label propagation,
behind `queries/text.py:dedup_clusters`); this adds the other canonical
propagation workload, with two scale-bearing design choices:

* **Fixed-point integer arithmetic.** Ranks are carried in parts-per-
  billion BIGINTs and every operation is integer (`div` truncation,
  integer multiply): bit-identical under any partitioning, any merge
  order, and any engine — which is what makes a value-hash oracle
  possible for an iterative float-ish algorithm at all. (Float PageRank
  differs in the last bits per run; "close" is not checkable by hash.)
* **Unrolled, bounded iterations.** Each iteration is one join + one
  hash aggregate (contributions summed per destination); 3 iterations =
  a plan of 3 shuffle rounds, no driver loop state beyond plan building.
  At 100 TB the edges table partitions on src and the ranks side is the
  small one — broadcast here, shuffle-join at billions of nodes; AQE
  picks per iteration. Dangling nodes (suppliers, which have no
  out-edges) deterministically leak their mass, the standard simplified
  formulation; the teleport term keeps ranks positive.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from hw_kafka_flink_health_spark.cache import LRU, frame_key
from hw_kafka_flink_health_spark.queries._registry import register
from hw_kafka_flink_health_spark.sources.files import checkpoint_partitioned, load_table

_SCALE = 1_000_000_000
_ITERS = 3


def _oracle() -> str:
    """Build the unrolled DuckDB twin: same integer ops, same order."""
    pre = f"""
    WITH edges AS (
      SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                      's' || CAST(l_suppkey AS VARCHAR) AS dst
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    ),
    nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
    nn AS (SELECT count(*) AS n FROM nodes),
    outdeg AS (SELECT src, count(*) AS d FROM edges GROUP BY src),
    r0 AS (SELECT node, ({_SCALE} // n)::BIGINT AS rank FROM nodes CROSS JOIN nn)"""
    its = []
    for i in range(1, _ITERS + 1):
        its.append(f"""
    c{i} AS (
      SELECT e.dst AS node, sum(r.rank // o.d)::BIGINT AS s
      FROM edges e JOIN r{i - 1} r ON e.src = r.node
      JOIN outdeg o ON e.src = o.src
      GROUP BY e.dst
    ),
    r{i} AS (
      SELECT nodes.node,
             (({_SCALE * 15} // 100) // n + (85 * COALESCE(c{i}.s, 0)) // 100)::BIGINT AS rank
      FROM nodes CROSS JOIN nn LEFT JOIN c{i} ON nodes.node = c{i}.node
    )""")
    return pre + "," + ",".join(its) + f"\n    SELECT node, rank FROM r{_ITERS}"


@register("graph_pagerank_cust_supp", oracle=_oracle())
def graph_pagerank_cust_supp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-iteration fixed-point PageRank (damping 0.85, ranks in ppb) on
    the bipartite customer->supplier graph induced by orders+lineitem.
    Every arithmetic step is integer, so the result is bit-exact and
    hash-matches the unrolled DuckDB twin."""
    # shared checkpointed directed list (defined below; Python resolves
    # the name at CALL time) — pagerank's loop re-reads edges 3x per
    # build otherwise
    edges = _cs_edges_directed(spark, sf_dir)
    nodes = edges.select(F.col("src").alias("node")).union(
        edges.select(F.col("dst").alias("node"))
    ).distinct()
    nn = nodes.agg(F.count(F.lit(1)).alias("n"))
    outdeg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    base = nodes.crossJoin(F.broadcast(nn))
    ranks = base.select("node", F.expr(f"{_SCALE} div n").cast("long").alias("rank"))
    tele = F.expr(f"({_SCALE * 15} div 100) div n")
    return _rank_rounds(edges, outdeg, base, tele, ranks)


def _rank_rounds(
    edges: DataFrame, outdeg: DataFrame, base: DataFrame, tele: Column, ranks: DataFrame
) -> DataFrame:
    """The `_ITERS` rank-propagation rounds shared by PageRank and PPR:
    each node's rank splits evenly (`div`) over its out-edges, the
    per-destination sums are damped to 85%, and every node of `base` (the
    node universe, carrying whatever columns `tele` reads) adds its
    teleport share. All integer, so both oracles unroll the same ops."""
    damped = F.expr("(85 * coalesce(s, CAST(0 AS BIGINT))) div 100")
    for _ in range(_ITERS):
        contrib = (
            edges.join(ranks.withColumnRenamed("node", "src"), "src")
            .join(outdeg, "src")
            .groupBy("dst")
            .agg(F.sum(F.expr("rank div d")).cast("long").alias("s"))
        )
        ranks = base.join(
            contrib.withColumnRenamed("dst", "node"), "node", "left"
        ).select("node", (tele + damped).cast("long").alias("rank"))
    return ranks


@register(
    "graph_degree_histogram",
    oracle="""
    WITH edges AS (
      SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                      's' || CAST(l_suppkey AS VARCHAR) AS dst
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    ), deg AS (
      SELECT src, CAST(count(*) AS BIGINT) AS out_deg FROM edges GROUP BY src
    )
    SELECT out_deg, CAST(count(*) AS BIGINT) AS n_nodes
    FROM deg GROUP BY out_deg
    """,
)
def graph_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-degree distribution of the purchase graph (same edge
    derivation as PageRank): the first thing to compute before ANY graph
    workload at scale, because the histogram's tail dictates the
    partitioning strategy (a power-law hub means salting / AQE skew
    handling on the join key). Two hash aggs — degree, then histogram —
    each with map-side partials."""
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    # distinct over the NUMERIC pair — the 'c'/'s' labels of the PageRank
    # edge table are injective per side, so building 2x ~|edges| strings
    # before the distinct shuffle only widened the exchange (measured
    # ~25% of this query's time at sf0.1); label after aggregation if a
    # caller needs node ids
    edges = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select("o_custkey", "l_suppkey")
        .distinct()
    )
    deg = edges.groupBy("o_custkey").agg(F.count(F.lit(1)).cast("long").alias("out_deg"))
    return deg.groupBy("out_deg").agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes")
    )


# The triangle query's oracle embeds the near-dup pair SQL as its edge
# CTE; importing the text module here (it has no import path back to this
# module) guarantees that oracle is registered before we read it.
from hw_kafka_flink_health_spark.queries import text as _text  # noqa: E402, F401


def _triangle_oracle() -> str:
    """Reuse the registered near-dup pair SQL as the edge CTE (single
    source of truth for the edge spec)."""
    from hw_kafka_flink_health_spark.queries._registry import ORACLES

    pairs = ORACLES["dedup_ngram_jaccard"]
    return f"""
    WITH pairs AS ({pairs}),
    t AS (
      SELECT e1.doc1 AS a, e1.doc2 AS b, e2.doc2 AS c
      FROM pairs e1
      JOIN pairs e2 ON e2.doc1 = e1.doc2
      JOIN pairs e3 ON e3.doc1 = e1.doc1 AND e3.doc2 = e2.doc2
    ), r AS (
      SELECT a AS doc_id FROM t
      UNION ALL SELECT b FROM t
      UNION ALL SELECT c FROM t
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_triangles
    FROM r GROUP BY doc_id
    """


@register("graph_triangle_neardup", oracle=_triangle_oracle())
def graph_triangle_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document triangle counts over the near-dup pair graph
    (edges = word-trigram Jaccard >= 0.2 pairs): triangle-dense
    neighborhoods are the tight duplicate clusters worth removing
    wholesale, vs bridge-only chains that connected components alone
    can't distinguish.

    Implements the DISTRIBUTED triangle algorithm — degree orientation
    (each undirected edge directed from its lower-(degree, id) endpoint,
    so every wedge is enumerated exactly once at its lowest-degree apex)
    then wedge closure by joining back against the oriented edge list.
    Orientation bounds the per-node wedge fan-out by min(deg)^2 instead
    of deg^2, the standard hub-taming trick that makes triangle counting
    feasible on power-law graphs at 100 TB. Orientation order is a pure
    tuple comparison — no global rank window anywhere. The id-ordered
    DuckDB twin enumerates the same triangle set."""
    from hw_kafka_flink_health_spark.queries.text import dedup_ngram_jaccard

    # The Jaccard pair pipeline is the expensive subtree and feeds the
    # degree agg, the orientation join, AND the wedge-closure join. The
    # pairs table arrives ALREADY materialized (the session-keyed
    # pairs-cache checkpoint inside ngram_jaccard_pairs), so the three
    # consumers re-read a tiny checkpointed table — a second checkpoint
    # of this projection would only add a job (r12 optimization pass).
    e = dedup_ngram_jaccard(spark, sf_dir).select("doc1", "doc2")
    deg = (
        e.select(F.col("doc1").alias("s"))
        .unionAll(e.select(F.col("doc2").alias("s")))
        .groupBy("s")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    ed = (
        e.join(deg.select(F.col("s").alias("doc1"), F.col("d").alias("d1")), "doc1")
        .join(deg.select(F.col("s").alias("doc2"), F.col("d").alias("d2")), "doc2")
    )
    lt = (F.col("d1") < F.col("d2")) | (
        (F.col("d1") == F.col("d2")) & (F.col("doc1") < F.col("doc2"))
    )
    # oriented edges feed e1, e2 AND the closing join: materialize once
    oe = ed.select(
        F.when(lt, F.col("doc1")).otherwise(F.col("doc2")).alias("src"),
        F.when(lt, F.col("doc2")).otherwise(F.col("doc1")).alias("dst"),
        F.when(lt, F.col("d2")).otherwise(F.col("d1")).alias("ddst"),
    ).localCheckpoint()
    e1, e2 = oe.alias("e1"), oe.alias("e2")
    wedge_order = (F.col("e1.ddst") < F.col("e2.ddst")) | (
        (F.col("e1.ddst") == F.col("e2.ddst")) & (F.col("e1.dst") < F.col("e2.dst"))
    )
    wedges = e1.join(e2, (F.col("e1.src") == F.col("e2.src")) & wedge_order).select(
        F.col("e1.src").alias("apex"),
        F.col("e1.dst").alias("a"),
        F.col("e2.dst").alias("b"),
    )
    closing = oe.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    tri = wedges.join(closing, ["a", "b"])
    return (
        tri.select(F.col("apex").alias("doc_id"))
        .unionAll(tri.select(F.col("a").alias("doc_id")))
        .unionAll(tri.select(F.col("b").alias("doc_id")))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    )


_BFS_ROUNDS = 4
_BFS_SOURCE = "s1"


def _bfs_oracle() -> str:
    """Unrolled min-dist BFS twin: same integer ops, same round count."""
    pre = f"""
    WITH e0 AS (
      SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                      's' || CAST(l_suppkey AS VARCHAR) AS dst
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    ),
    ed AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
    d0 AS (SELECT '{_BFS_SOURCE}' AS node, 0 AS dist)"""
    its = []
    for i in range(1, _BFS_ROUNDS + 1):
        its.append(f"""
    d{i} AS (
      SELECT node, min(dist) AS dist FROM (
        SELECT node, dist FROM d{i - 1}
        UNION ALL
        SELECT ed.dst AS node, d{i - 1}.dist + 1 AS dist
        FROM d{i - 1} JOIN ed ON d{i - 1}.node = ed.src
      ) GROUP BY node
    )""")
    return (
        pre
        + ","
        + ",".join(its)
        + f"\n    SELECT node, CAST(dist AS BIGINT) AS dist FROM d{_BFS_ROUNDS}"
    )


@register("graph_bfs_distance", oracle=_bfs_oracle())
def graph_bfs_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-round BFS shortest hops from supplier s1 over the
    UNDIRECTED customer—supplier graph, integer arithmetic throughout, so
    the unrolled DuckDB twin hash-matches exactly. 4 rounds reach
    everything in this bipartite graph's connected component (diameter
    <= 4 hops for any co-purchasing chain). The twin joins the whole
    reached set each round and keeps min(dist); `_frontier_bfs` joins
    only the frontier — same answers, because min() discards
    re-discoveries. The shared edge table is checkpointed once (the
    orders⋈lineitem distinct is the expensive subtree)."""
    ed = _cs_edges_undirected(spark, sf_dir)
    dist0 = spark.createDataFrame([(_BFS_SOURCE, 0)], "node string, dist int")
    dist = _frontier_bfs(ed, dist0, _BFS_ROUNDS)
    return dist.select("node", F.col("dist").cast("long").alias("dist"))


def _frontier_bfs(ed: DataFrame, dist0: DataFrame, rounds: int) -> DataFrame:
    """Frontier BFS for `rounds` rounds from the dist-0 rows of `dist0`,
    keyed on every column except `dist` (`node`, or `(seed, node)` for a
    multi-source search). Unit edge weights discover distances in
    increasing order, so only LAST round's newly reached rows need to
    join the edge list. Returns every reached row with its hop count.

    The FRONTIER join broadcasts the small side (frontiers shrink after
    the expansion peak), so the checkpointed edge table is probed in
    place and NEVER shuffles — at 100 TB that means one edge
    materialization total. The anti-join against the REACHED set is
    deliberately un-hinted: it grows toward every reached row, and a
    forced broadcast there is a driver/executor OOM at real graph
    cardinalities (round-6 verdict). AQE still picks broadcast while it
    is small and falls back to a shuffled anti-join of two
    reached-set-bounded tables — the edge table is not involved either
    way (plan-asserted in tests/test_plans.py::test_bfs_round_plan_shape)."""
    dist = frontier = dist0.localCheckpoint()
    for i in range(rounds):
        frontier = _bfs_round(ed, frontier, dist, i).localCheckpoint()
        # dist needs no checkpoint of its own: it is a union of already-
        # checkpointed frontiers, so its lineage stays 1 level deep
        dist = dist.unionByName(frontier)
    return dist


def _bfs_round(ed: DataFrame, frontier: DataFrame, dist: DataFrame, i: int) -> DataFrame:
    """One BFS round: expand the frontier over the edge list, then keep
    only rows not yet reached. Every frontier row of round i has dist i,
    so a distinct over the keys is the min-dist aggregate. The frontier
    side is hint-broadcast; the reached-set anti-join is UN-hinted by
    design (see `_frontier_bfs`). Factored out so
    tests/test_plans.py::test_bfs_round_plan_shape can assert the round's
    physical plan on the exact production code path."""
    keys = [c for c in frontier.columns if c != "dist"]
    carried = [c for c in keys if c != "node"]
    hop = (
        ed.join(F.broadcast(frontier), ed["src"] == frontier["node"])
        .select(*carried, F.col("dst").alias("node"))
        .distinct()
    )
    return hop.join(dist, keys, "left_anti").select(*keys, F.lit(i + 1).alias("dist"))


@register(
    "graph_degree_assortativity",
    oracle="""
    WITH e0 AS (
      SELECT DISTINCT concat('c', CAST(o_custkey AS VARCHAR)) AS u,
                      concat('s', CAST(l_suppkey AS VARCHAR)) AS v
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ), e AS (
      SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0
    ), deg AS (
      SELECT u AS node, CAST(count(*) AS BIGINT) AS d FROM e GROUP BY u
    ), j AS (
      SELECT du.d AS x, dv.d AS y
      FROM e JOIN deg du ON e.u = du.node JOIN deg dv ON e.v = dv.node
    ), m AS (
      SELECT CAST(count(*) AS BIGINT) AS m,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(y * y) AS BIGINT) AS syy,
             CAST(sum(x * y) AS BIGINT) AS sxy
      FROM j
    )
    SELECT m AS n_directed_edges,
           CASE WHEN (CAST(m AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                     * (CAST(m AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy) > 0
                THEN (CAST(m AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                     / sqrt((CAST(m AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                            * (CAST(m AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy))
                END AS assortativity
    FROM m
    """,
)
def graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity (Newman's r) of the undirected bipartite
    customer-supplier graph: the Pearson correlation of endpoint degrees
    over the doubled directed edge list. Every sufficient statistic is an
    exact BIGINT sum (degrees are integers), so the centered products and
    the final sqrt/divide are a fixed IEEE expression — bit-identical
    cross-engine, with the zero-variance regular-graph case yielding NULL
    instead of a divide-by-zero. Shape: one distinct-edge shuffle, one
    degree aggregate, two hash joins of the edge list to the (small)
    degree table, one moment aggregate to a single row — no windows, no
    sorts; at 100 TB the degree side co-partitions with the edge key."""
    # the shared checkpointed edge list feeds FOUR consumers here (both
    # union branches, both sides' degree lookups) — the materialization
    # is what stops Catalyst re-running the orders-lineitem join +
    # distinct per consumer
    e = _cs_edges_undirected(spark, sf_dir).select(
        F.col("src").alias("u"), F.col("dst").alias("v")
    )
    deg = e.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("d")
    )
    j = (
        e.join(deg.select(F.col("node").alias("u"), F.col("d").alias("x")), "u")
        .join(deg.select(F.col("node").alias("v"), F.col("d").alias("y")), "v")
        .select("x", "y")
    )
    m = j.agg(
        F.count(F.lit(1)).cast("long").alias("m"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
    )
    md = F.col("m").cast("double")
    vx = md * F.col("sxx") - F.col("sx").cast("double") * F.col("sx")
    vy = md * F.col("syy") - F.col("sy").cast("double") * F.col("sy")
    cov = md * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")
    return m.select(
        F.col("m").alias("n_directed_edges"),
        F.when(vx * vy > 0, cov / F.sqrt(vx * vy)).alias("assortativity"),
    )


# One checkpointed DIRECTED distinct edge list (c<custkey> -> s<suppkey>)
# shared by every query over the customer-supplier graph. The build (the
# orders-lineitem join + distinct) is each graph query's single most
# expensive subtree and is IDENTICAL across k-core / BFS / LPA /
# assortativity / harmonic centrality, so the session cache (see cache.py
# for its keying and staleness argument) returns the same checkpointed
# table instead of rebuilding it per query. Each consumer still derives
# its own projection, so the cache changes wall time and layout only.
#
# r13: every table here is checkpointed HASH-PARTITIONED on its join key
# (`checkpoint_partitioned`; no sort) — the in-session analog of the
# bucketed edge layout a production graph store keeps on disk. Every
# iterative consumer keys its per-round join/aggregate on src, so with the
# layout preserved the edge table never re-shuffles per round; before,
# each round paid an edge exchange which AQE then "optimized" by
# broadcasting the 15 MB edge side and coalescing the node-sized probe
# side to ONE task (the measured 1.3-1.6 s single-task stage inside every
# LPA/PPR round at sf0.1). The undirected (doubled) list is cached as its
# own partitioned checkpoint because a union of two partitioned copies
# has no partitioning. Every consumer's RESULT is partitioning-independent
# (oracle-hash-pinned).
_EDGES = LRU(6)  # directed + undirected + cp incidence, two SF dirs


def _orders_lineitem(spark: SparkSession, sf_dir: str, li_col: str, *tags: str):
    """(cache key, lazy join) for orders ⋈ lineitem projected to
    (o_custkey, `li_col`). The key pins both scans plus `tags`; the join
    is built only on a miss, because analyzing it costs more per hit
    than the key itself."""
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", li_col)
    li_key = frame_key(li)
    key = None if li_key is None else frame_key(orders, li_key, *tags)

    def join() -> DataFrame:
        return orders.join(li, F.col("o_orderkey") == F.col("l_orderkey")).select(
            "o_custkey", li_col
        )

    return key, join


def _cs_edges_directed(spark: SparkSession, sf_dir: str) -> DataFrame:
    key, join = _orders_lineitem(spark, sf_dir, "l_suppkey", "directed")

    def build() -> DataFrame:
        # distinct over the NUMERIC pair before building node strings (the
        # measured ~25% exchange-width win recorded at graph_degree_histogram)
        edges = join().distinct().select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"),
        )
        return checkpoint_partitioned(edges, "src")

    return _EDGES.get_or_build(key, build)


def _cp_incidence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared distinct customer-part incidence list (c, p), checkpointed
    hash-partitioned on p in the same session LRU as the edge tables
    (r13): `graph_adamic_adar` and `graph_jaccard_neighbors` build the
    IDENTICAL orders⋈lineitem distinct and key every downstream
    aggregate/self-join on p — with the layout pinned, the part-degree
    aggregate, the hub cap semi-join and the within-part pair self-join
    all reuse it exchange-free."""
    key, join = _orders_lineitem(spark, sf_dir, "l_partkey", "cp")

    def build() -> DataFrame:
        cp = join().select(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p"))
        return checkpoint_partitioned(cp.distinct(), "p")

    return _EDGES.get_or_build(key, build)


def _cs_edges_undirected(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doubled (symmetrized) copy of the shared directed list, cached as
    its own src-partitioned checkpoint (a union of two partitioned
    tables has no partitioning, so the doubled view must be laid out
    once itself to keep the per-round joins exchange-free). No distinct
    after the union: the c*/s* namespaces are disjoint, so the two
    directed copies of a distinct set are already globally distinct.
    Keyed as the directed list plus "undirected", so it misses whenever
    that does."""
    key, _ = _orders_lineitem(spark, sf_dir, "l_suppkey", "directed", "undirected")

    def build() -> DataFrame:
        e0 = _cs_edges_directed(spark, sf_dir)
        return checkpoint_partitioned(
            e0.unionByName(
                e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
            ),
            "src",
        )

    return _EDGES.get_or_build(key, build)


_KCORE_K = 30
_KCORE_ROUNDS = 4


def _kcore_oracle() -> str:
    """Unrolled peel twin: same K, same bounded round count, same integer
    degree arithmetic — the e{i} CTEs are MATERIALIZED because each is
    read by both the next degree pass and the next filter (DuckDB inlines
    multiply-referenced CTEs otherwise, which goes exponential in R)."""
    pre = """
    WITH e0 AS MATERIALIZED (
      SELECT src, dst FROM (
        SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                        's' || CAST(l_suppkey AS VARCHAR) AS dst
        FROM orders JOIN lineitem ON l_orderkey = o_orderkey
      ) UNION SELECT dst, src FROM (
        SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                        's' || CAST(l_suppkey AS VARCHAR) AS dst
        FROM orders JOIN lineitem ON l_orderkey = o_orderkey
      )
    )"""
    its = []
    for i in range(1, _KCORE_ROUNDS + 1):
        its.append(f"""
    k{i} AS MATERIALIZED (
      SELECT src FROM e{i - 1} GROUP BY src HAVING count(*) >= {_KCORE_K}
    ),
    e{i} AS MATERIALIZED (
      SELECT src, dst FROM e{i - 1}
      WHERE src IN (SELECT src FROM k{i}) AND dst IN (SELECT src FROM k{i})
    )""")
    return (
        pre
        + ","
        + ",".join(its)
        + f"""
    SELECT src AS node, CAST(count(*) AS BIGINT) AS core_degree
    FROM e{_KCORE_ROUNDS} GROUP BY src
    """
    )


@register("graph_kcore", oracle=_kcore_oracle())
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-round k-core decomposition (K=30) of the undirected
    customer—supplier graph: repeatedly drop nodes with degree < K and
    the edges touching them — the standard subgraph-density screen
    (community cores, spam farms, bot rings) and the preprocessing step
    that bounds every downstream clique/triangle workload.

    Distributed shape per round: ONE degree aggregate (map-side combined
    on the src key) and TWO semi-joins that keep only surviving
    endpoints — the edge table shrinks monotonically, so round cost is
    bounded by the previous round's survivors, and `localCheckpoint`
    truncates the growing lineage exactly like connected components.
    The round count is FIXED (4 — measured convergence at test scales is
    2-3 rounds), so the unrolled DuckDB twin runs the identical bounded
    computation and the value hash pins every surviving (node, degree)
    pair. At 100 TB the keep-set semi-joins are the shuffle cost; they
    key on the same src/dst the degree aggregate uses, so AQE reuses
    co-partitioning, and the keep set broadcasts whenever the core is
    small (it is, by construction, after the first peel)."""
    edges = _cs_edges_undirected(spark, sf_dir)
    for rnd in range(_KCORE_ROUNDS):
        keep = (
            edges.groupBy("src")
            .agg(F.count(F.lit(1)).alias("d"))
            .filter(F.col("d") >= _KCORE_K)
            .select("src")
        )
        edges = (
            edges.join(keep, "src", "left_semi")
            .join(keep.select(F.col("src").alias("dst")), "dst", "left_semi")
            .select("src", "dst")
        )
        # every round's survivors feed BOTH next-round consumers (degree
        # agg + semi probes) — checkpoint; the LAST round has exactly one
        # consumer (the final degree agg), so its materialization would
        # be pure waste. NOT checkpoint_partitioned (measured r13): the
        # AQE-off materialization that pins the layout also plans the
        # round's OWN semi-joins statically — the keep side (unknown
        # estimate behind the previous checkpoint) then sort-merge-joins
        # instead of AQE's runtime broadcast, and the round got slower
        # (2.6 -> 4.2 s solo). The per-round ~1M-row degree re-exchange
        # is the cheaper evil at every scale where the keep set
        # broadcasts.
        if rnd < _KCORE_ROUNDS - 1:
            edges = edges.localCheckpoint()
    return edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("core_degree")
    )


@register(
    "graph_adamic_adar",
    oracle="""
    WITH cp AS (
      SELECT DISTINCT o_custkey AS c, l_partkey AS p
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    ), deg AS (
      SELECT p, CAST(count(*) AS BIGINT) AS d FROM cp GROUP BY p
    ), dk AS (SELECT p, d FROM deg WHERE d BETWEEN 2 AND 25),
    pairs AS (
      SELECT a.c AS c1, b.c AS c2, dk.d
      FROM cp a JOIN cp b ON a.p = b.p AND a.c < b.c
      JOIN dk ON dk.p = a.p
    ), aa AS (
      SELECT c1, c2, CAST(count(*) AS BIGINT) AS n_shared,
             round(sum(1.0 / ln(CAST(d AS DOUBLE))), 4) AS aa_score
      FROM pairs GROUP BY c1, c2
    )
    SELECT c1, c2, n_shared, aa_score FROM aa
    ORDER BY aa_score DESC, c1, c2 LIMIT 50
    """,
)
def graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic–Adar link prediction over the customer—part co-purchase
    graph: score a customer pair by Σ 1/ln(deg(p)) over shared parts —
    rare shared neighbors count more — and emit the top-50 predicted
    links. The classic 'who will co-purchase next' / record-linkage
    signal.

    Scale shape: pair generation is the POSTINGS pattern (per-part
    customer lists self-joined within the part), with the same
    hub-frequency cap the Jaccard dedup pipeline uses (parts with
    2 ≤ deg ≤ 25): a hub part's d²/2 pair blowup is cut off exactly
    where its AA contribution (1/ln d) stops mattering — the cap is the
    documented f²-killer, not an accuracy loss. One distinct shuffle,
    one capped self-join, one pair aggregate, global top-50 via
    TakeOrderedAndProject. The bipartite incidence list feeds three
    consumers (both join sides + the degree table), so it is
    localCheckpoint'd once. Ranking orders by the ROUNDED score with
    the pair as tiebreak — engine-independent."""
    # shared p-partitioned incidence checkpoint (r13): jaccard_neighbors
    # builds the identical table; the degree agg / cap join / pair
    # self-join below all key on p and reuse the layout exchange-free
    cp = _cp_incidence(spark, sf_dir)
    deg = cp.groupBy("p").agg(F.count(F.lit(1)).cast("long").alias("d"))
    dk = deg.filter((F.col("d") >= 2) & (F.col("d") <= 25)).select(
        F.col("p").alias("kp"), "d"
    )
    a = cp.alias("a")
    b = cp.alias("b")
    pairs = (
        a.join(b, (F.col("a.p") == F.col("b.p")) & (F.col("a.c") < F.col("b.c")))
        .join(dk, F.col("kp") == F.col("a.p"))
        .select(F.col("a.c").alias("c1"), F.col("b.c").alias("c2"), "d")
    )
    return (
        pairs.groupBy("c1", "c2")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shared"),
            F.round(F.sum(F.lit(1.0) / F.log(F.col("d").cast("double"))), 4).alias(
                "aa_score"
            ),
        )
        .orderBy(F.col("aa_score").desc(), "c1", "c2")
        .limit(50)
    )


@register(
    "graph_hits_bipartite",
    oracle="""
    WITH edges AS MATERIALIZED (
      SELECT DISTINCT o_custkey AS c, l_suppkey AS s
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    ),
    a1 AS MATERIALIZED (
      SELECT s, count(*)::BIGINT AS a1 FROM edges GROUP BY 1
    ),
    h1 AS MATERIALIZED (
      SELECT c, CAST(sum(a1) AS BIGINT) AS h1
      FROM edges JOIN a1 USING (s) GROUP BY 1
    ),
    a2 AS (
      SELECT s, CAST(sum(h1) AS BIGINT) AS a2
      FROM edges JOIN h1 USING (c) GROUP BY 1
    )
    SELECT s AS suppkey, a1.a1 AS in_deg, a2.a2 AS authority
    FROM a2 JOIN a1 USING (s)
    ORDER BY authority DESC, suppkey
    LIMIT 15
    """,
)
def graph_hits_bipartite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs-and-authorities on the bipartite customer->supplier
    graph — the query-independent companion of
    `graph_pagerank_cust_supp` (PageRank rewards being bought from at
    all; HITS authority rewards being bought from by customers who buy
    BROADLY). Two full mutual-reinforcement rounds, entirely in exact
    BIGINT algebra: h0 = 1, a1 = in-degree, h1 = sum of neighbor
    authorities, a2 = sum of neighbor hubs — per-iteration normalization
    only rescales, so dropping it keeps the RANKING identical and the
    integers exact (a2 <= max_deg^2 * |E|, far under 2^63 at any TPC-H
    SF). Top-15 authorities with deterministic (score, suppkey)
    tie-break.

    Shape: the distinct edge list materializes ONCE (localCheckpoint —
    three consumers) and each round is one broadcast-or-shuffle hash
    join + map-side-combined sum; the global top-k plans as
    TakeOrderedAndProject, never a full sort."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    edges = (
        orders.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
        .localCheckpoint()
    )
    a1 = edges.groupBy("s").agg(F.count(F.lit(1)).cast("long").alias("a1"))
    h1 = (
        edges.join(F.broadcast(a1), "s")
        .groupBy("c")
        .agg(F.sum("a1").cast("long").alias("h1"))
    )
    a2 = edges.join(h1, "c").groupBy("s").agg(
        F.sum("h1").cast("long").alias("a2")
    )
    return (
        a2.join(F.broadcast(a1), "s")
        .select(
            F.col("s").alias("suppkey"),
            F.col("a1").alias("in_deg"),
            F.col("a2").alias("authority"),
        )
        .orderBy(F.col("authority").desc(), "suppkey")
        .limit(15)
    )


_LPA_ROUNDS = 3


def _lpa_oracle() -> str:
    """Unrolled semi-synchronous LPA twin: same round count, the same
    mode-with-min-tiebreak pick expressed as a named-struct min over
    (-count, label) — DuckDB orders structs lexicographically exactly
    like Spark. Every round CTE is MATERIALIZED (multiply-referenced
    CTEs inline → exponential otherwise, the k-core/BPE lesson)."""
    pre = """
    WITH ed AS MATERIALIZED (
      SELECT src, dst FROM (
        SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                        's' || CAST(l_suppkey AS VARCHAR) AS dst
        FROM orders JOIN lineitem ON l_orderkey = o_orderkey
      ) UNION SELECT dst, src FROM (
        SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                        's' || CAST(l_suppkey AS VARCHAR) AS dst
        FROM orders JOIN lineitem ON l_orderkey = o_orderkey
      )
    ),
    l1 AS MATERIALIZED (
      SELECT dst AS node, min(src) AS lab FROM ed GROUP BY dst
    )"""
    its = []
    for i in range(2, _LPA_ROUNDS + 1):
        its.append(f"""
    c{i} AS MATERIALIZED (
      SELECT e.dst AS node, l.lab, CAST(count(*) AS BIGINT) AS c
      FROM ed e JOIN l{i - 1} l ON l.node = e.src
      GROUP BY e.dst, l.lab
    ),
    l{i} AS MATERIALIZED (
      SELECT node, (min({{'nc': -c, 'lab': lab}})).lab AS lab
      FROM c{i} GROUP BY node
    )""")
    return (
        pre
        + ","
        + ",".join(its)
        + f"""
    SELECT lab AS community, CAST(count(*) AS BIGINT) AS n_nodes
    FROM l{_LPA_ROUNDS} GROUP BY lab
    ORDER BY n_nodes DESC, community LIMIT 50
    """
    )


@register("graph_label_propagation", oracle=_lpa_oracle())
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by semi-synchronous label propagation over the
    undirected customer—supplier graph: labels start as node ids and each
    round every node adopts its neighbors' MODE label (ties → smallest
    label — the determinism pin async LPA lacks). Three fixed rounds, so
    the unrolled DuckDB twin replays the identical computation and the
    value hash pins the top-50 community census.

    Distributed shape per round: ONE join of the static edge list against
    the current labels (shuffles on the label side only once edges are
    checkpointed + reused), a (node, label) count with map-side combine,
    and a struct-min argmax per node — all hash-partitioned on node, no
    sorts, no driver state. Label tables shrink to distinct labels but
    stay O(nodes); at 100 TB each round is two key-shuffles of a
    node-sized table, the textbook Pregel step expressed relationally."""
    edges = _cs_edges_undirected(spark, sf_dir)
    # Round 1 collapses: labels start as node ids and edges are DISTINCT
    # pairs, so every neighbor-label count is exactly 1 and the
    # mode-with-min-tiebreak is just min(neighbor id) — ONE aggregate
    # instead of a join + two aggregates (the oracle mirrors this).
    # Grouped on SRC (min over dst): on the symmetrized list this is the
    # identical (node, min-neighbor) set — (u,v) and (v,u) both present —
    # and src is the cached table's partitioning key, so the aggregate
    # needs no exchange at all (r13; oracle hash unchanged).
    labels = edges.groupBy(F.col("src").alias("node")).agg(
        F.min("dst").alias("lab")
    )
    for rnd in range(1, _LPA_ROUNDS):
        cnt = (
            edges.join(labels, edges.src == labels.node)
            .groupBy(F.col("dst").alias("n2"), "lab")
            .agg(F.count(F.lit(1)).cast("long").alias("c"))
        )
        labels = (
            cnt.groupBy(F.col("n2").alias("node"))
            .agg(
                F.min(
                    F.struct((-F.col("c")).alias("nc"), F.col("lab").alias("lab"))
                ).alias("m")
            )
            .select("node", F.col("m.lab").alias("lab"))
        )
        # each round's labels feed exactly one consumer (the next join),
        # but the lineage compounds a join+2 aggs per round — checkpoint
        # keeps the plan (and any retry) bounded, as in BFS/k-core.
        if rnd < _LPA_ROUNDS - 1:
            labels = labels.localCheckpoint()
    return (
        labels.groupBy(F.col("lab").alias("community"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
        .orderBy(F.desc("n_nodes"), "community")
        .limit(50)
    )


@register(
    "graph_jaccard_neighbors",
    oracle="""
    WITH cp AS (
      SELECT DISTINCT o_custkey AS c, l_partkey AS p
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    ), dk AS (
      SELECT p FROM cp GROUP BY p HAVING count(*) BETWEEN 2 AND 25
    ), cpk AS (
      SELECT c, p FROM cp WHERE p IN (SELECT p FROM dk)
    ), deg AS (
      SELECT c, CAST(count(*) AS BIGINT) AS d FROM cpk GROUP BY c
    ), pairs AS (
      SELECT a.c AS c1, b.c AS c2, CAST(count(*) AS BIGINT) AS shared
      FROM cpk a JOIN cpk b ON a.p = b.p AND a.c < b.c
      GROUP BY a.c, b.c
    )
    SELECT c1, c2, shared, da.d AS d1, db.d AS d2,
           shared / CAST(da.d + db.d - shared AS DOUBLE) AS jaccard
    FROM pairs
    JOIN deg da ON da.c = pairs.c1
    JOIN deg db ON db.c = pairs.c2
    ORDER BY jaccard DESC, c1, c2 LIMIT 50
    """,
)
def graph_jaccard_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighborhood Jaccard link prediction over the customer—part
    bipartite projection: candidate pairs come ONLY from co-occurrence
    in a shared part (never all-pairs), with hub parts (degree > 25)
    excluded — the same frequency cap that keeps every near-dup pair
    generator linear: pair count is bounded by sum(d_p^2) over capped
    part degrees. Degrees are computed over the SAME capped universe so
    shared/(d1+d2-shared) is a true Jaccard there; the score is one
    exact-integer division, emitted unrounded. Plan: two hash aggregates
    + one self-equi-join on part + two degree joins (AQE broadcasts the
    degree side), then a global top-50 via TakeOrderedAndProject."""
    # shared p-partitioned incidence checkpoint (r13, same table as
    # graph_adamic_adar); dk and the semi-join both key on p, so the
    # capped table derives exchange-free from the cached layout
    cp = _cp_incidence(spark, sf_dir)
    dk = (
        cp.groupBy("p")
        .agg(F.count(F.lit(1)).alias("dp"))
        .filter(F.col("dp").between(2, 25))
        .select("p")
    )
    cpk = cp.join(dk, "p", "left_semi").localCheckpoint()  # feeds 3 consumers
    deg = cpk.groupBy("c").agg(F.count(F.lit(1)).cast("long").alias("d"))
    a = cpk.select(F.col("p").alias("p1"), F.col("c").alias("c1"))
    b = cpk.select(F.col("p").alias("p2"), F.col("c").alias("c2"))
    pairs = (
        a.join(b, (F.col("p1") == F.col("p2")) & (F.col("c1") < F.col("c2")))
        .groupBy("c1", "c2")
        .agg(F.count(F.lit(1)).cast("long").alias("shared"))
    )
    out = (
        pairs.join(deg.select(F.col("c").alias("c1"), F.col("d").alias("d1")), "c1")
        .join(deg.select(F.col("c").alias("c2"), F.col("d").alias("d2")), "c2")
        .select(
            "c1",
            "c2",
            "shared",
            "d1",
            "d2",
            (
                F.col("shared")
                / (F.col("d1") + F.col("d2") - F.col("shared")).cast("double")
            ).alias("jaccard"),
        )
    )
    return out.orderBy(F.desc("jaccard"), "c1", "c2").limit(50)


_HC_SEEDS = ("s1", "s2", "c1", "c7")
_HC_ROUNDS = 3


def _harmonic_oracle() -> str:
    """Unrolled multi-source BFS twin keyed (seed, node); harmonic mass
    emitted as the exact integer 6/d sum (6, 3, 2 for d = 1, 2, 3)."""
    seeds = ", ".join(f"('{s}')" for s in _HC_SEEDS)
    pre = f"""
    WITH e0 AS MATERIALIZED (
      SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                      's' || CAST(l_suppkey AS VARCHAR) AS dst
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    ),
    ed AS MATERIALIZED (
      SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0
    ),
    d0 AS (SELECT seed, seed AS node, 0 AS dist
           FROM (VALUES {seeds}) s(seed))"""
    its = []
    for i in range(1, _HC_ROUNDS + 1):
        its.append(f"""
    d{i} AS MATERIALIZED (
      SELECT seed, node, min(dist) AS dist FROM (
        SELECT seed, node, dist FROM d{i - 1}
        UNION ALL
        SELECT d.seed, ed.dst AS node, d.dist + 1 AS dist
        FROM d{i - 1} d JOIN ed ON d.node = ed.src
      ) GROUP BY seed, node
    )""")
    return (
        pre
        + ","
        + ",".join(its)
        + f"""
    SELECT seed,
           CAST(count(*) FILTER (dist = 1) AS BIGINT) AS n_d1,
           CAST(count(*) FILTER (dist = 2) AS BIGINT) AS n_d2,
           CAST(count(*) FILTER (dist = 3) AS BIGINT) AS n_d3,
           CAST(sum(CASE dist WHEN 1 THEN 6 WHEN 2 THEN 3
                              WHEN 3 THEN 2 ELSE 0 END) AS BIGINT)
             AS harmonic_x6
    FROM d{_HC_ROUNDS} GROUP BY seed
    """
    )


@register("graph_harmonic_centrality", oracle=_harmonic_oracle())
def graph_harmonic_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-depth harmonic centrality for a fixed seed panel: Σ 1/d
    over nodes within 3 hops, the centrality that stays defined on
    disconnected graphs (closeness diverges there). Emitted as the exact
    integer 6·Σ1/d (6, 3, 2 per depth) so the value hash needs no float.

    MULTI-source frontier BFS in one pass: the reached set keys on
    (seed, node), so the four searches share every edge probe and the
    same three rounds — at 100 TB this is the standard trick for
    centrality sampling (k seeds amortize one edge materialization; the
    per-round join cost is frontier-size-bound, not seeds x edges). A
    seed absent from the corpus contributes its dist-0 self row and
    zero counts, identically in both engines."""
    ed = _cs_edges_undirected(spark, sf_dir)
    dist0 = spark.createDataFrame(
        [(s, s, 0) for s in _HC_SEEDS], "seed string, node string, dist int"
    )
    dist = _frontier_bfs(ed, dist0, _HC_ROUNDS)
    return dist.groupBy("seed").agg(
        F.count(F.when(F.col("dist") == 1, 1)).cast("long").alias("n_d1"),
        F.count(F.when(F.col("dist") == 2, 1)).cast("long").alias("n_d2"),
        F.count(F.when(F.col("dist") == 3, 1)).cast("long").alias("n_d3"),
        F.sum(
            F.when(F.col("dist") == 1, 6)
            .when(F.col("dist") == 2, 3)
            .when(F.col("dist") == 3, 2)
            .otherwise(0)
        )
        .cast("long")
        .alias("harmonic_x6"),
    )


_PPR_SEEDS = 5


def _ppr_oracle() -> str:
    """Unrolled integer PPR twin — same div/coalesce order as the Spark
    loop, seeds pinned by the md5-smallest sample (engine-portable)."""
    pre = f"""
    WITH edges0 AS (
      SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                      's' || CAST(l_suppkey AS VARCHAR) AS dst
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    ),
    edges AS (SELECT src, dst FROM edges0
              UNION ALL SELECT dst, src FROM edges0),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    outdeg AS (SELECT src, count(*) AS d FROM edges GROUP BY src),
    seeds AS (SELECT node FROM nodes WHERE node LIKE 'c%'
              ORDER BY md5(node), node LIMIT {_PPR_SEEDS}),
    r0 AS (SELECT n.node,
                  CASE WHEN s.node IS NOT NULL
                       THEN ({_SCALE} // {_PPR_SEEDS})::BIGINT
                       ELSE 0 END AS rank
           FROM nodes n LEFT JOIN seeds s ON n.node = s.node)"""
    its = []
    for i in range(1, _ITERS + 1):
        its.append(f"""
    c{i} AS (
      SELECT e.dst AS node, sum(r.rank // o.d)::BIGINT AS s
      FROM edges e JOIN r{i - 1} r ON e.src = r.node
      JOIN outdeg o ON e.src = o.src
      GROUP BY e.dst
    ),
    r{i} AS (
      SELECT n.node,
             (CASE WHEN sd.node IS NOT NULL
                   THEN ({_SCALE * 15} // 100) // {_PPR_SEEDS}
                   ELSE 0 END
              + (85 * COALESCE(c{i}.s, 0)) // 100)::BIGINT AS rank
      FROM nodes n LEFT JOIN seeds sd ON n.node = sd.node
      LEFT JOIN c{i} ON n.node = c{i}.node
    )""")
    return (
        pre
        + ","
        + ",".join(its)
        + f"""
    SELECT node, rank FROM r{_ITERS}
    ORDER BY rank DESC, node LIMIT 20"""
    )


@register("graph_personalized_pagerank", oracle=_ppr_oracle())
def graph_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank from a pinned 5-customer seed panel on the
    UNDIRECTED purchase graph — the "related to this segment" ranking a
    recommender reads off a graph, vs the global importance
    `graph_pagerank_cust_supp` gives. The teleport term restarts at the
    SEEDS only (85/15 damping), so mass stays in the seeds'
    neighborhood; seeds are the md5-smallest customer nodes (the
    registry's deterministic-sample idiom), and all arithmetic is
    fixed-point ppb BIGINT — bit-identical under any partitioning, so
    the whole 3-round fixed point value-hashes against the unrolled
    DuckDB twin. The doubled edge list makes the walk reversible (no
    dangling leak: every node has out-edges).

    Shape: the shared checkpointed edge cache supplies the edges; nodes/
    outdeg/seed map are checkpointed once; each round is one equi-join +
    one map-side-combined sum; top-20 plans as TakeOrderedAndProject."""
    ed = _cs_edges_undirected(spark, sf_dir)
    nodes = ed.select(F.col("src").alias("node")).distinct()
    outdeg = ed.groupBy("src").agg(F.count(F.lit(1)).alias("d")).localCheckpoint()
    seeds = (
        nodes.filter(F.col("node").startswith("c"))
        .orderBy(F.md5(F.col("node")).asc(), F.col("node").asc())
        .limit(_PPR_SEEDS)
        .withColumn("_seed", F.lit(1))
    )
    # node -> is_seed map, reused by every round's teleport term (and as
    # the node universe): checkpoint once, 4 consumers
    base = nodes.join(F.broadcast(seeds), "node", "left").localCheckpoint()
    tele = F.when(
        F.col("_seed").isNotNull(),
        F.lit((_SCALE * 15 // 100) // _PPR_SEEDS),
    ).otherwise(F.lit(0)).cast("long")
    ranks = base.select(
        "node",
        F.when(F.col("_seed").isNotNull(), F.lit(_SCALE // _PPR_SEEDS))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("rank"),
    )
    ranks = _rank_rounds(ed, outdeg, base, tele, ranks)
    return (
        ranks.orderBy(F.col("rank").desc(), F.col("node").asc())
        .limit(20)
        .select("node", "rank")
    )
