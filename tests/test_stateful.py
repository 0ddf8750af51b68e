"""Custom stateful streaming operator (applyInPandasWithState) vs its
batch twin, and the grouped-map escape hatch."""

from __future__ import annotations

import json
import os

from hw_kafka_flink_health_spark.functions.parsing import parse_events_df
from hw_kafka_flink_health_spark.operators.stateful import (
    grouped_zscore,
    new_peak_stream,
    new_peaks_batch,
)


def test_new_peak_stream_matches_batch_twin(spark, tmp_path):
    events = [
        {"patient_id": "p001", "timestamp": "2025-11-19T07:00:00+00:00", "heart_rate_bpm": 80},
        {"patient_id": "p001", "timestamp": "2025-11-19T07:00:10+00:00", "heart_rate_bpm": 75},
        {"patient_id": "p001", "timestamp": "2025-11-19T07:00:20+00:00", "heart_rate_bpm": 95},  # peak
        {"patient_id": "p001", "timestamp": "2025-11-19T07:00:30+00:00", "heart_rate_bpm": 95},  # not strict
        {"patient_id": "p002", "timestamp": "2025-11-19T07:00:05+00:00", "heart_rate_bpm": 60},
        {"patient_id": "p002", "timestamp": "2025-11-19T07:00:15+00:00", "heart_rate_bpm": 61},  # peak
    ]
    src = tmp_path / "peaks"
    os.makedirs(src)
    # two micro-batches to exercise cross-batch state
    with open(src / "b0.json", "w") as f:
        for e in events[:3]:
            f.write(json.dumps({"raw": json.dumps(e)}) + "\n")
    with open(src / "b1.json", "w") as f:
        for e in events[3:]:
            f.write(json.dumps({"raw": json.dumps(e)}) + "\n")
    t0 = os.stat(src / "b0.json").st_mtime
    os.utime(src / "b0.json", (t0 - 60, t0 - 60))

    reader = (
        spark.readStream.schema("raw string").option("maxFilesPerTrigger", "1").json(str(src))
    )
    peaks = new_peak_stream(parse_events_df(reader).select("patient_id", "event_time", "heart_rate_bpm"))
    q = peaks.writeStream.outputMode("append").format("memory").queryName("peaks_stream").start()
    q.processAllAvailable()
    q.stop()
    got = {
        (r.patient_id, r.event_time, r.heart_rate_bpm)
        for r in spark.sql("SELECT * FROM peaks_stream").collect()
    }

    raw_batch = spark.createDataFrame([(json.dumps(e),) for e in events], ["raw"])
    expected = {
        (r.patient_id, r.event_time, r.heart_rate_bpm)
        for r in new_peaks_batch(
            parse_events_df(raw_batch).select("patient_id", "event_time", "heart_rate_bpm")
        ).collect()
    }
    assert got == expected
    assert len(got) == 4  # 80, 95 for p001; 60, 61 for p002


def test_grouped_zscore_properties(spark):
    df = spark.createDataFrame(
        [(1, "a", 1.0), (2, "a", 2.0), (3, "a", 3.0), (4, "b", 10.0)],
        ["event_id", "event_type", "value"],
    )
    rows = {r.event_id: r.zscore for r in grouped_zscore(df).collect()}
    assert abs(rows[1] + 1.0) < 1e-9 and abs(rows[2]) < 1e-9 and abs(rows[3] - 1.0) < 1e-9
    # singleton group: std undefined -> NULL/NaN (SQL window semantics)
    import math as _math

    assert rows[4] is None or _math.isnan(rows[4])


def test_udtf_matches_native_explode(spark):
    """The UDTF escape hatch must agree with the native Catalyst path
    (explode(from_json(...))) on the same input — proving the hatch is a
    semantics-preserving fallback, not a divergent dialect."""
    from pyspark.sql import functions as F

    from hw_kafka_flink_health_spark.functions.udtf_hatch import register_udtfs
    from hw_kafka_flink_health_spark.sources.files import load_table, register_views

    from tests.conftest import SF_DIR

    register_udtfs(spark)
    register_views(spark, SF_DIR)
    via_udtf = spark.sql(
        "SELECT e.event_id, p.k, p.v FROM events e, LATERAL props_kv(e.props) p"
    )
    ev = load_table(spark, SF_DIR, "events")
    native = ev.select(
        "event_id",
        F.explode(F.from_json("props", "map<string,string>")).alias("k", "v"),
    )
    assert via_udtf.count() == native.count() > 0
    assert via_udtf.exceptAll(native).count() == 0
    assert native.exceptAll(via_udtf).count() == 0


def test_ewma_stream_matches_batch_twin(spark, tmp_path):
    """applyInPandasWithState EWMA: GroupState must carry the running
    average across micro-batches; output equals the non-recursive batch
    fold on the same events."""
    from hw_kafka_flink_health_spark.operators.stateful import ewma_batch, ewma_stream

    events = [
        {"patient_id": "p001", "timestamp": "2025-11-19T07:00:00+00:00", "heart_rate_bpm": 80},
        {"patient_id": "p001", "timestamp": "2025-11-19T07:00:10+00:00", "heart_rate_bpm": 100},
        {"patient_id": "p002", "timestamp": "2025-11-19T07:00:05+00:00", "heart_rate_bpm": 60},
        {"patient_id": "p001", "timestamp": "2025-11-19T07:00:20+00:00", "heart_rate_bpm": 90},
        {"patient_id": "p002", "timestamp": "2025-11-19T07:00:15+00:00", "heart_rate_bpm": 66},
    ]
    src = tmp_path / "ewma"
    os.makedirs(src)
    with open(src / "b0.json", "w") as f:
        for e in events[:3]:
            f.write(json.dumps({"raw": json.dumps(e)}) + "\n")
    with open(src / "b1.json", "w") as f:
        for e in events[3:]:
            f.write(json.dumps({"raw": json.dumps(e)}) + "\n")
    t0 = os.stat(src / "b0.json").st_mtime
    os.utime(src / "b0.json", (t0 - 60, t0 - 60))

    reader = (
        spark.readStream.schema("raw string").option("maxFilesPerTrigger", "1").json(str(src))
    )
    parsed = parse_events_df(reader).select("patient_id", "event_time", "heart_rate_bpm")
    q = (
        ewma_stream(parsed)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("ewma_stream_t")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {
        (r.patient_id, r.event_time, r.heart_rate_bpm, round(r.ewma_bpm, 9))
        for r in spark.sql("SELECT * FROM ewma_stream_t").collect()
    }

    raw_batch = spark.createDataFrame([(json.dumps(e),) for e in events], ["raw"])
    expected = {
        (r.patient_id, r.event_time, r.heart_rate_bpm, round(r.ewma_bpm, 9))
        for r in ewma_batch(
            parse_events_df(raw_batch).select("patient_id", "event_time", "heart_rate_bpm")
        ).collect()
    }
    assert got == expected
    # spot-check the recursion: p001 = 80, .2*100+.8*80=84, .2*90+.8*84=85.2
    p1 = sorted(v for v in got if v[0] == "p001")
    assert [round(x[3], 4) for x in p1] == [80.0, 84.0, 85.2]


def test_session_timeout_stream_closes_sessions_via_watermark(spark, tmp_path):
    """EventTimeTimeout sessions: a key's session row is emitted exactly
    when the watermark passes last_event + gap. Batch 1's far-future
    event advances the watermark, which must close (and emit) both
    batch-0 sessions while the future key's own session stays open."""
    from hw_kafka_flink_health_spark.operators.stateful import session_timeout_stream

    events_b0 = [
        {"patient_id": "p001", "timestamp": "2025-11-19T07:00:00+00:00", "heart_rate_bpm": 80},
        {"patient_id": "p001", "timestamp": "2025-11-19T07:00:10+00:00", "heart_rate_bpm": 90},
        {"patient_id": "p002", "timestamp": "2025-11-19T07:00:05+00:00", "heart_rate_bpm": 60},
    ]
    events_b1 = [
        {"patient_id": "p003", "timestamp": "2025-11-19T07:05:00+00:00", "heart_rate_bpm": 70},
    ]
    src = tmp_path / "sessions"
    os.makedirs(src)
    with open(src / "b0.json", "w") as f:
        for e in events_b0:
            f.write(json.dumps({"raw": json.dumps(e)}) + "\n")
    with open(src / "b1.json", "w") as f:
        for e in events_b1:
            f.write(json.dumps({"raw": json.dumps(e)}) + "\n")
    t0 = os.stat(src / "b0.json").st_mtime
    os.utime(src / "b0.json", (t0 - 60, t0 - 60))

    reader = (
        spark.readStream.schema("raw string").option("maxFilesPerTrigger", "1").json(str(src))
    )
    parsed = parse_events_df(reader).withWatermark("event_ts", "5 seconds")
    sessions = session_timeout_stream(
        parsed.select("patient_id", "event_time", "event_ts", "heart_rate_bpm"),
    )
    q = (
        sessions.writeStream.outputMode("append")
        .format("memory")
        .queryName("session_stream")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {
        r.patient_id: (r.session_start, r.session_end, r.n_events, r.avg_bpm)
        for r in spark.sql("SELECT * FROM session_stream").collect()
    }
    base = 1763535600000  # 2025-11-19T07:00:00Z
    assert got == {
        "p001": (base, base + 10_000, 2, 85.0),
        "p002": (base + 5_000, base + 5_000, 1, 60.0),
    }


def test_scalar_pandas_udf_parity_with_native(spark):
    """The scalar Arrow-vectorized UDF escape hatch (@pandas_udf): a
    numpy log1p-scaled score must match the same expression in native
    Catalyst functions exactly (both double math), across Arrow batch
    boundaries. Completes the escape-hatch matrix: scalar pandas_udf /
    grouped applyInPandas / mapInPandas / mapInArrow / UDTF."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    import numpy as np

    # lambda form: the module's `from __future__ import annotations` would
    # stringify `pd.Series` hints beyond pandas_udf's resolver
    score = pandas_udf(lambda v: np.log1p(v.abs()) * 2.0, "double")

    sess = spark.newSession()
    sess.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "100")
    df = sess.range(0, 1000).select(
        (F.col("id") - 500).cast("double").alias("v")
    )
    got = df.select("v", score("v").alias("s"),
                    (F.log1p(F.abs("v")) * 2.0).alias("expect")).collect()
    assert len(got) == 1000
    import math

    for r in got:
        # numpy's log1p and the JVM's StrictMath.log1p may differ in the
        # last ulp — parity means "same math", not "same libm binary"
        assert math.isclose(r["s"], r["expect"], rel_tol=1e-14, abs_tol=1e-14), (
            r["v"], r["s"], r["expect"],
        )


def test_cogrouped_reconcile_matches_relational_twin(spark):
    """cogroup.applyInPandas parity: per-key counts and value-sum delta
    from the cogrouped Python path must equal the full-outer-join
    aggregate twin — including keys present on only ONE side (empty
    frame handed to the UDF)."""
    from pyspark.sql import functions as F

    from hw_kafka_flink_health_spark.operators.stateful import cogrouped_reconcile
    from hw_kafka_flink_health_spark.sources.files import load_table
    from tests.conftest import SF_DIR

    ev = load_table(spark, SF_DIR, "events").select("user_id", "value")
    left = ev.filter(F.col("user_id") % 7 != 0)          # some keys missing right
    right = ev.filter(F.col("user_id") % 5 != 0).select(
        "user_id", (F.col("value") * 0.5).alias("value")  # some keys missing left
    )
    got = {
        r["user_id"]: (r["n_left"], r["n_right"], round(r["value_delta"], 6))
        for r in cogrouped_reconcile(left, right).collect()
    }
    la = left.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("nl"), F.sum("value").alias("sl")
    )
    ra = right.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("nr"), F.sum("value").alias("sr")
    )
    twin = la.join(ra, "user_id", "full_outer").select(
        "user_id",
        F.coalesce("nl", F.lit(0)).alias("nl"),
        F.coalesce("nr", F.lit(0)).alias("nr"),
        (F.coalesce("sl", F.lit(0.0)) - F.coalesce("sr", F.lit(0.0))).alias("delta"),
    )
    expect = {
        r["user_id"]: (r["nl"], r["nr"], round(r["delta"], 6)) for r in twin.collect()
    }
    assert got == expect
    assert any(v[0] == 0 for v in got.values()) and any(v[1] == 0 for v in got.values())


def test_cogrouped_reconcile_honors_key_parameter(spark):
    """A non-default key must label (and type) the key column after itself —
    previously the output dict and schema hardcoded 'user_id', silently
    mislabeling any other key."""
    from hw_kafka_flink_health_spark.operators.stateful import cogrouped_reconcile

    left = spark.createDataFrame([(1, 2.0), (2, 3.0)], ["k", "value"])
    right = spark.createDataFrame([(1, 1.0)], ["k", "value"])
    out = cogrouped_reconcile(left, right, key="k")
    assert out.columns == ["k", "n_left", "n_right", "value_delta"]
    rows = {r["k"]: (r["n_left"], r["n_right"], r["value_delta"]) for r in out.collect()}
    assert rows == {1: (1, 1, 1.0), 2: (1, 0, 3.0)}


def test_cep_followed_by_stream_matches_batch_twin(spark, tmp_path):
    """Cross-batch CEP state: a view in batch 0 must pair with a purchase
    in batch 1; a purchase between them (also batch 1) must consume the
    frontier; out-of-window purchases must not match."""
    import json as _json

    from pyspark.sql import functions as F

    from hw_kafka_flink_health_spark.operators.stateful import cep_followed_by_stream

    rows = [
        # user 1: view .. purchase (match, crosses batch boundary), then a
        # second purchase with no fresh view (no match: frontier consumed)
        (1, 10, 1_000_000, "view"),
        (1, 11, 1_050_000, "click"),
        (1, 12, 1_200_000, "purchase"),
        (1, 13, 1_300_000, "purchase"),
        # user 2: view -> purchase but outside the 600s window (no match)
        (2, 20, 1_000_000, "view"),
        (2, 21, 1_700_001, "purchase"),
        # user 3: purchase with no prior view at all (no match)
        (3, 30, 1_100_000, "purchase"),
    ]
    src = tmp_path / "cep"
    src.mkdir()
    with open(src / "b0.jsonl", "w") as f:
        for r in rows[:2] + rows[4:5]:
            f.write(
                _json.dumps(
                    {"user_id": r[0], "event_id": r[1], "ts_ms": r[2], "event_type": r[3]}
                )
                + "\n"
            )
    with open(src / "b1.jsonl", "w") as f:
        for r in rows[2:4] + rows[5:]:
            f.write(
                _json.dumps(
                    {"user_id": r[0], "event_id": r[1], "ts_ms": r[2], "event_type": r[3]}
                )
                + "\n"
            )
    import os as _os

    t0 = _os.stat(src / "b0.jsonl").st_mtime
    _os.utime(src / "b0.jsonl", (t0 - 60, t0 - 60))

    schema = "user_id long, event_id long, ts_ms long, event_type string"
    reader = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").json(str(src))
    )
    q = (
        cep_followed_by_stream(reader)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("cep_stream")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {
        (r.user_id, r.purchase_event_id, r.view_ms, r.purchase_ms, r.gap_s)
        for r in spark.sql("SELECT * FROM cep_stream").collect()
    }
    assert got == {(1, 12, 1_000_000, 1_200_000, 200)}

    # batch twin on the same rows: same single match (cep_followed_by logic
    # inlined over an in-memory frame with the same column names)
    from pyspark.sql import Window

    df = spark.createDataFrame(rows, schema)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_ms", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    t = df.select(
        "user_id",
        "event_id",
        "event_type",
        "ts_ms",
        F.max(F.when(F.col("event_type") == "view", F.col("ts_ms"))).over(w).alias("lv"),
        F.max(F.when(F.col("event_type") == "purchase", F.col("ts_ms")))
        .over(w)
        .alias("lp"),
    )
    twin = {
        (r.user_id, r.event_id, r.lv, r.ts_ms, (r.ts_ms - r.lv) // 1000)
        for r in t.filter(
            (F.col("event_type") == "purchase")
            & F.col("lv").isNotNull()
            & (F.col("lp").isNull() | (F.col("lv") > F.col("lp")))
            & (F.col("ts_ms") - F.col("lv") <= 600_000)
        ).collect()
    }
    assert got == twin


def test_cep_followed_by_stream_single_batch_holes(spark, tmp_path):
    """Regression for the cummax().shift(1) NaN-hole bug: cummax leaves NaN
    at every other-kind row, so shift(1) blanked any row whose IMMEDIATE
    predecessor was another kind. Two broken paths, both inside one
    micro-batch:

    1. view -> click -> purchase in ONE batch must match (the old code
       missed it: the purchase's predecessor is the click, so last_view
       came out NaN).
    2. carried view + purchase -> click -> purchase in one batch: only the
       FIRST purchase matches; the second must NOT (the old code saw
       last_purch NaN at the second purchase — its predecessor is the
       click — and emitted a false positive against the carried view).
    """
    import json as _json
    import os as _os

    from hw_kafka_flink_health_spark.operators.stateful import cep_followed_by_stream

    b0 = [
        # user 1: the full triple in one batch (scenario 1)
        (1, 10, 1_000_000, "view"),
        (1, 11, 1_050_000, "click"),
        (1, 12, 1_200_000, "purchase"),
        # user 2: just the view — carried into batch 1 (scenario 2 setup)
        (2, 20, 1_000_000, "view"),
    ]
    b1 = [
        # user 2: purchase, click, purchase — first consumes the carried
        # view; second must not match through the click-induced NaN hole
        (2, 21, 1_100_000, "purchase"),
        (2, 22, 1_150_000, "click"),
        (2, 23, 1_200_000, "purchase"),
    ]
    src = tmp_path / "cep_holes"
    src.mkdir()
    for name, batch in (("b0.jsonl", b0), ("b1.jsonl", b1)):
        with open(src / name, "w") as f:
            for r in batch:
                f.write(
                    _json.dumps(
                        {"user_id": r[0], "event_id": r[1], "ts_ms": r[2], "event_type": r[3]}
                    )
                    + "\n"
                )
    t0 = _os.stat(src / "b0.jsonl").st_mtime
    _os.utime(src / "b0.jsonl", (t0 - 60, t0 - 60))

    schema = "user_id long, event_id long, ts_ms long, event_type string"
    reader = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").json(str(src))
    )
    q = (
        cep_followed_by_stream(reader)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("cep_stream_holes")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {
        (r.user_id, r.purchase_event_id, r.view_ms, r.purchase_ms, r.gap_s)
        for r in spark.sql("SELECT * FROM cep_stream_holes").collect()
    }
    assert got == {
        (1, 12, 1_000_000, 1_200_000, 200),
        (2, 21, 1_000_000, 1_100_000, 100),
    }


def test_cep_error_burst_stream_alerts_once_per_run(spark, tmp_path):
    """Quantifier CEP in streaming: a run of 3+ consecutive errors alerts
    exactly ONCE (at the third), runs split across micro-batches still
    alert, non-error events reset the count, and longer runs don't
    re-alert."""
    import json as _json
    import os as _os

    from hw_kafka_flink_health_spark.operators.stateful import cep_error_burst_stream

    rows = [
        # user 1: e e | e e e  -> run of 5 crossing the batch boundary:
        # one alert at the 3rd error (ts 2000)
        (1, 0, 1000, "error"), (1, 1, 1500, "error"),
        (1, 2, 2000, "error"), (1, 3, 2500, "error"), (1, 4, 3000, "error"),
        # user 2: e e view e e  -> reset by the view; no run reaches 3
        (2, 10, 1000, "error"), (2, 11, 1500, "error"),
        (2, 12, 2000, "view"), (2, 13, 2500, "error"), (2, 14, 3000, "error"),
        # user 3: e e e in one batch -> one alert at ts 1200
        (3, 20, 1000, "error"), (3, 21, 1100, "error"), (3, 22, 1200, "error"),
    ]
    b0 = [r for r in rows if r[0] == 1][:2] + [r for r in rows if r[0] == 2][:3]
    b1 = [r for r in rows if r[0] == 1][2:] + [r for r in rows if r[0] == 2][3:] + [
        r for r in rows if r[0] == 3
    ]
    src = tmp_path / "burst"
    src.mkdir()
    for name, batch in (("b0.jsonl", b0), ("b1.jsonl", b1)):
        with open(src / name, "w") as f:
            for u, e, t, ty in batch:
                f.write(
                    _json.dumps(
                        {"user_id": u, "event_id": e, "ts_ms": t, "event_type": ty}
                    )
                    + "\n"
                )
    t0 = _os.stat(src / "b0.jsonl").st_mtime
    _os.utime(src / "b0.jsonl", (t0 - 60, t0 - 60))

    reader = (
        spark.readStream.schema(
            "user_id long, event_id long, ts_ms long, event_type string"
        )
        .option("maxFilesPerTrigger", "1")
        .json(str(src))
    )
    q = (
        cep_error_burst_stream(reader)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("burst_stream")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {
        (r.user_id, r.alert_ms, r.run_len)
        for r in spark.sql("SELECT * FROM burst_stream").collect()
    }
    assert got == {(1, 2000, 3), (3, 1200, 3)}
