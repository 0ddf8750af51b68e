"""Full-catalog adversarial oracle audit: run EVERY oracled query on a
pathological dataset and hash-compare against its DuckDB oracle, exactly
like the external correctness driver but on data built to hit boundaries.

    python scripts/fuzz_catalog.py [single|nulls|ties|unicode|repart|all]

Scenarios (round-5 findings in brackets):
  single  — 1 row per table: degenerate groups, empty windows
            [quantile ceiling-rank bug; histogram ANSI /0; zscore 0-vs-NULL]
  nulls   — 5 rows, all-NULL group keys, half-NULL measures
            [SCD2 NULL-state run detection; XML concat NULL-propagation;
             3 oracles mis-stating NULL rules]
  ties    — 40 copies of one row, only primary keys vary: zero variance,
            duplicate sort keys [ANSI corr throw; tf-idf norm /0]
  unicode — CJK/emoji/RTL/combining-accent text spliced into documents
            and part names: char-vs-byte parity, regex classes [clean]
  repart  — determinism-under-partitioning (round-7 verdict #2): the SAME
            rows laid out as 1 file vs 16 files, run with
            shuffle.partitions 1 vs 16 and per-file splits, canonical
            outputs diffed Spark-vs-Spark. Catches the stats_anova_f
            class: floating-point sums whose value depends on
            partial-aggregate merge order, surfacing as an
            oracle-vs-engine last-digit flip only under some layouts.

The CI suite pins a ~45-query subset of these (tests/test_fuzz_oracle.py);
this script is the full sweep, to re-run whenever queries are added.
Exit code 0 iff no divergences."""

from __future__ import annotations

import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = os.environ.get("SPARK_GRAFT_FUZZ_BASE_SF", "/root/testdata/sf0.001")

_ONLY: list[str] = []


def _only() -> list[str]:
    """Optional query-name filter (argv names after the scenario) so a
    new pack can be fuzzed in seconds instead of sweeping the full
    catalog; empty means everything."""
    return _ONLY


TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()
PRIMARY_KEYS = {
    "region": "r_regionkey", "nation": "n_nationkey", "customer": "c_custkey",
    "supplier": "s_suppkey", "part": "p_partkey", "orders": "o_orderkey",
    "lineitem": "l_orderkey", "events": "event_id",
    "documents": "doc_id", "embeddings": "vec_id",
}
UNICODE_SNIPPETS = [
    "数据 处理 引擎 🚀 テスト",
    "café naïve résumé ñandú",
    "שלום עולם مرحبا بالعالم",
    "Ωμέγα αλφα έτοιμο",
]


def build(spark, scenario: str, base: str | None = None) -> str:
    """Materialize one pathological dataset (shared with the CI subset in
    tests/test_fuzz_oracle.py — this function is the single source of the
    scenario definitions)."""
    from pyspark.sql import functions as F

    from hw_kafka_flink_health_spark.sources.files import load_table

    base = base or tempfile.mkdtemp(prefix=f"fuzz_{scenario}_")
    for t in TABLES:
        if scenario == "single":
            df = load_table(spark, SF, t).limit(1)
        elif scenario == "nulls":
            df = load_table(spark, SF, t).limit(5)
            if t == "events":
                # NULL user_id too (round-6 review: the md5-unit arm
                # assignment diverges across engines on NULL keys unless
                # queries filter them — make the class un-regressable)
                df = (
                    df.withColumn("event_type", F.lit(None).cast("string"))
                    .withColumn(
                        "value", F.when(F.col("event_id") % 2 == 0, F.col("value"))
                    )
                    .withColumn(
                        "user_id",
                        F.when(F.col("event_id") % 5 != 0, F.col("user_id")),
                    )
                )
            if t == "orders":
                # o_orderdate/o_totalprice NULLs too (round-9 review:
                # ledger_trial_balance filtered ship legs on order date
                # and rolling_median_revenue let a NULL day-sum into the
                # window where collect_list vs list() diverge — both
                # reproduced only on data this scenario never built)
                df = (
                    df.withColumn(
                        "o_orderpriority",
                        F.when(
                            F.col("o_orderkey") % 3 != 0, F.col("o_orderpriority")
                        ),
                    )
                    .withColumn(
                        "o_orderdate",
                        F.when(F.col("o_orderkey") % 7 != 0, F.col("o_orderdate")),
                    )
                    .withColumn(
                        "o_totalprice",
                        F.when(F.col("o_orderkey") % 5 != 0, F.col("o_totalprice")),
                    )
                )
            if t == "lineitem":
                # NULL measures on the biggest fact table (the round-5
                # review flagged that only events/orders were nulled, so
                # lineitem aggregate guards went unexercised); round-9
                # extends to l_extendedprice and l_shipdate — the same
                # NULL-sort-key / NULL-in-window class the order-side
                # extension caught three latent divergences in
                df = (
                    df.withColumn(
                        "l_quantity",
                        F.when(F.col("l_linenumber") % 3 != 0, F.col("l_quantity")),
                    )
                    .withColumn(
                        "l_extendedprice",
                        F.when(
                            F.col("l_linenumber") % 4 != 0, F.col("l_extendedprice")
                        ),
                    )
                    .withColumn(
                        "l_shipdate",
                        F.when(F.col("l_linenumber") % 5 != 0, F.col("l_shipdate")),
                    )
                )
            if t == "documents":
                # text NULL too (round-7 ADVICE: bpe_encode crashed on a
                # NULL __toks batch while its oracle handled null-text
                # docs — the divergence was untested because this
                # scenario never nulled documents.text)
                df = (
                    df.withColumn(
                        "lang", F.when(F.col("doc_id") % 4 != 0, F.col("lang"))
                    )
                    .withColumn(
                        "n_chars",
                        F.when(F.col("doc_id") % 3 != 0, F.col("n_chars")),
                    )
                    .withColumn(
                        "text",
                        F.when(F.col("doc_id") % 5 != 0, F.col("text")),
                    )
                )
        elif scenario == "ties":
            one = load_table(spark, SF, t).limit(1)
            df = (
                one.crossJoin(spark.range(40).selectExpr("id AS __i"))
                .withColumn(PRIMARY_KEYS[t], F.col("__i").cast("long"))
                .drop("__i")
            )
        elif scenario == "unicode":
            df = load_table(spark, SF, t).limit(30)
            snips = F.array(*[F.lit(s) for s in UNICODE_SNIPPETS])
            if t == "documents":
                df = df.withColumn(
                    "text",
                    F.concat(
                        F.element_at(snips, (F.col("doc_id") % 4 + 1).cast("int")),
                        F.lit(" "),
                        F.col("text"),
                        F.lit(" "),
                        F.element_at(snips, ((F.col("doc_id") + 2) % 4 + 1).cast("int")),
                    ),
                ).withColumn("n_chars", F.length("text").cast("long"))
            if t == "part":
                df = df.withColumn("p_name", F.concat(F.col("p_name"), F.lit(" café—κ")))
        else:
            raise ValueError(scenario)
        df.coalesce(1).write.mode("overwrite").parquet(f"{base}/{t}.parquet")
    return base


def sweep(spark, scenario: str) -> list:
    import duckdb

    from hw_kafka_flink_health_spark.queries import ORACLES, QUERIES
    from tests.test_oracle import oracle_diff

    base = build(spark, scenario)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{base}/{t}.parquet/*.parquet')"
        )
    fails = []
    todo = sorted(set(_only()) & set(ORACLES) if _only() else ORACLES)
    for i, name in enumerate(todo):
        t0 = time.time()
        try:
            sdf = QUERIES[name](spark, base).toPandas()
        except Exception as e:
            fails.append((scenario, name, f"spark error: {str(e)[:150]}"))
            print(f"{scenario} {name}: SPARK ERROR", flush=True)
            continue
        try:
            odf = con.execute(ORACLES[name]).df()
        except Exception as e:
            fails.append((scenario, name, f"oracle error: {str(e)[:150]}"))
            print(f"{scenario} {name}: ORACLE ERROR", flush=True)
            continue
        diff = oracle_diff(sdf, odf)
        if diff is not None:
            fails.append((scenario, name, diff[:300]))
            print(f"{scenario} {name}: MISMATCH", flush=True)
        if i % 40 == 0:
            print(f"[{scenario} {i}/{len(todo)}] ({time.time()-t0:.1f}s)", flush=True)
    # rows-only queries (approximate/seeded/iterative — no value oracle)
    # can't hash-compare, but they MUST survive pathological data: this
    # crash-check is what caught the KMeans k>distinct-centers AIOOBE in
    # the IVF/SemDeDup operators (round-5) — degenerate corpora are
    # exactly where sketch/clustering code breaks first.
    rows_only = set(QUERIES) - set(ORACLES)
    if _only():
        rows_only &= set(_only())
    for name in sorted(rows_only):
        try:
            n = len(QUERIES[name](spark, base).toPandas())
            print(f"{scenario} {name}: rows-only ok ({n} rows)", flush=True)
        except Exception as e:
            fails.append((scenario, name, f"rows-only spark error: {str(e)[:150]}"))
            print(f"{scenario} {name}: ROWS-ONLY ERROR", flush=True)
    con.close()
    return fails


def build_repart(spark) -> tuple[str, str]:
    """Materialize the repart scenario: identical rows, two layouts.

    Layout A: one file per table. Layout B: 16 files per table (hash
    round-robin), which under the per-file split confs set in
    sweep_repart scans as 16 partitions — so scan parallelism, partial
    aggregation fan-in, and merge order all differ between the runs
    while the data is row-for-row identical."""
    from hw_kafka_flink_health_spark.sources.files import load_table

    base1 = tempfile.mkdtemp(prefix="fuzz_repart1_")
    base16 = tempfile.mkdtemp(prefix="fuzz_repart16_")
    for t in TABLES:
        df = load_table(spark, SF, t)
        df.coalesce(1).write.mode("overwrite").parquet(f"{base1}/{t}.parquet")
        df.repartition(16).write.mode("overwrite").parquet(f"{base16}/{t}.parquet")
    return base1, base16


# (sf_dir pick, shuffle partitions, maxPartitionBytes, openCostInBytes)
_REPART_RUNS = ((0, "1", str(128 << 20), str(4 << 20)), (1, "16", "65536", "0"))


def sweep_repart(spark) -> list:
    """Run every ORACLED query under two partition layouts and diff the
    canonical Spark outputs against each other (no DuckDB involved —
    cross-engine value agreement is the other scenarios' job; this one
    proves the Spark result is a FUNCTION OF THE ROWS, not of the
    layout). Any divergence is a real oracle hazard: a layout-dependent
    last digit WILL eventually disagree with the sequential DuckDB sum.
    Rows-only queries are exempt from the diff (seeded/approximate tiers
    are layout-dependent by design) but are crash-checked in the other
    scenarios."""
    from hw_kafka_flink_health_spark.cache import conf_override
    from hw_kafka_flink_health_spark.queries import ORACLES, QUERIES
    from tests.test_oracle import oracle_diff

    base1, base16 = build_repart(spark)
    bases = (base1, base16)
    fails = []
    todo = sorted(set(_only()) & set(ORACLES) if _only() else ORACLES)
    for i, name in enumerate(todo):
        t0 = time.time()
        outs = []
        for which, shuf, mpb, ocb in _REPART_RUNS:
            try:
                with conf_override(spark, **{
                    "spark.sql.shuffle.partitions": shuf,
                    "spark.sql.files.maxPartitionBytes": mpb,
                    "spark.sql.files.openCostInBytes": ocb,
                }):
                    outs.append(QUERIES[name](spark, bases[which]).toPandas())
            except Exception as e:
                fails.append(
                    ("repart", name, f"spark error (layout {which}): {str(e)[:150]}")
                )
                print(f"repart {name}: SPARK ERROR", flush=True)
                outs = None
                break
        if outs is None:
            continue
        diff = oracle_diff(*outs)
        if diff is not None:
            fails.append(("repart", name, f"layout-dependent: {diff[:300]}"))
            print(f"repart {name}: LAYOUT-DEPENDENT RESULT", flush=True)
        if i % 40 == 0:
            print(f"[repart {i}/{len(todo)}] ({time.time()-t0:.1f}s)", flush=True)
    return fails


def main() -> None:
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from hw_kafka_flink_health_spark.session import get_spark

    which = sys.argv[1] if len(sys.argv) > 1 else "all"
    all_scen = ["single", "nulls", "ties", "unicode", "repart"]
    scenarios = all_scen if which == "all" else [which]
    _ONLY.extend(sys.argv[2:])
    if _ONLY:
        from hw_kafka_flink_health_spark.queries import QUERIES as _Q

        unknown = sorted(set(_ONLY) - set(_Q))
        if unknown:
            # a typo'd selector must fail loudly, not run 0 queries and
            # report a clean sweep (review finding)
            print(f"unknown query names: {unknown}")
            sys.exit(2)
    spark = get_spark(
        app_name="fuzz_catalog",
        master="local[8]",
        shuffle_partitions=8,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    fails = []
    for s in scenarios:
        fails += sweep_repart(spark) if s == "repart" else sweep(spark, s)
    print(f"\nFUZZ FAILURES: {len(fails)}")
    for f in fails:
        print(" ", f)
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
