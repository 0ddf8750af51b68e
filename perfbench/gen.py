"""Seeded synthesizer for the benchmark's inputs.

`write_tables(out_dir, sf, seed)` writes the ten parquet tables the query
catalog reads (the TPC-H-ish star schema plus `events`, `documents` and
`embeddings`) with the same schemas, row counts per scale factor and value
shapes as the engine's reference fixtures: uniform keys, 2-decimal money,
epoch-aligned dates, a 30-word document vocabulary with ~5% near-duplicate
documents, and unit-norm 64-d embeddings. The same (sf, seed) always gives
byte-identical column values.

`heart_rate_records(...)` makes raw JSON heart-rate messages for the
stream workload, ~5% of them malformed in the two ways the reference's
`parse_event` contract rejects (non-JSON, missing fields).
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
BAD_SHARE = 0.05  # share of heart-rate messages parse_event rejects
EPOCH = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


def _days(rng: np.random.Generator, start: str, span: int, n: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def write_tables(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write all ten tables for scale factor `sf`; return their row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, int(sf * 1e6)])
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), i32), "r_name": pa.array(REGIONS, s)})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], s),
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], s),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust), f64),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust), s)})
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], s),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp), f64)})
    keys = np.arange(n_part)
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    _write(out_dir, "part", {
        "p_partkey": pa.array(keys, i64),
        "p_name": pa.array(rng.choice(names, n_part), s),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], s),
        "p_type": pa.array(rng.choice(PART_TYPES, n_part), s),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array(np.round(900 + (keys % 1000) / 10.0, 1), f64)})
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord), s),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord), f64),
        "o_orderdate": pa.array(_days(rng, "1995-01-01", 2404, n_ord), pa.timestamp("us")),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord), s)})
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(float), f64),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_line), f64),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0, f64),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0, f64),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line), s),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_line), s),
        "l_shipdate": pa.array(_days(rng, "1995-01-02", 2498, n_line), pa.timestamp("us"))})
    # events: 30 days of sorted timestamps with sub-second parts
    offs = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n_ev))
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + offs.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, int(15_000 * sf), n_ev), i64),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_ev), s),
        "value": pa.array(np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)), f64),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], s)})
    # documents: ~5% are near-duplicates ("<text> dup") of another document
    lens = rng.integers(10, 100, n_doc)
    texts = [" ".join(rng.choice(VOCAB, n)) for n in lens]
    for d in np.flatnonzero(rng.random(n_doc) < 0.05):
        src = int(rng.integers(0, n_doc))
        if src != d:
            texts[d] = texts[src] + " dup" * int(rng.integers(1, 3))
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": pa.array(texts, s),
        "lang": pa.array(rng.choice(LANGS, n_doc, p=LANG_P), s),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)], s),
        "n_chars": pa.array([len(t) for t in texts], i64)})
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), i32)})
    return {"customer": n_cust, "orders": n_ord, "lineitem": n_line, "events": n_ev,
            "documents": n_doc, "embeddings": n_emb}


def heart_rate_records(
    rng: np.random.Generator,
    n: int,
    patients: int,
    event_ms: np.ndarray,
) -> tuple[list[str], list[tuple[str, int, int]]]:
    """`n` raw JSON messages stamped with the epoch-ms times `event_ms`.

    Returns (messages, valid) where `valid` lists (patient_id, bpm,
    event_ms) for every message `parse_event` accepts. Patients drift
    between normal, tachycardic and bradycardic baselines so every alert
    class appears.
    """
    pids = rng.integers(0, patients, n)
    base = np.where(pids % 7 == 0, 110, np.where(pids % 11 == 0, 42, 72))
    bpm = base + rng.integers(-10, 16, n)
    bad = rng.random(n) < BAD_SHARE
    msgs, valid = [], []
    for i in range(n):
        pid = f"p{pids[i]:05d}"
        if bad[i]:
            msgs.append("not-json" if i % 2 else json.dumps({"patient_id": pid}))
            continue
        ts = EPOCH + dt.timedelta(milliseconds=int(event_ms[i]))
        msgs.append(json.dumps({
            "patient_id": pid,
            "timestamp": ts.isoformat(timespec="milliseconds"),
            "heart_rate_bpm": int(bpm[i]),
        }))
        valid.append((pid, int(bpm[i]), int(event_ms[i])))
    return msgs, valid


def valid_array(valid: list[tuple[str, int, int]]) -> np.ndarray:
    """(patient index, bpm, event_ms) rows as an int64 array."""
    arr = np.array([(int(p[1:]), b, t) for p, b, t in valid], dtype=np.int64)
    return arr.reshape(-1, 3)
