"""Regenerate PLANS.md: physical-plan evidence for the scale posture.

For a representative slice of the catalog, dump the formatted physical
plan plus the properties that matter at 100 TB (pushdown, pruning,
broadcast choice, codegen coverage, exchange count). Run from repo root:

    python scripts/dump_plans.py
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hw_kafka_flink_health_spark.queries import QUERIES  # noqa: E402
from hw_kafka_flink_health_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# query -> what the plan is evidence OF
SHOWCASE = {
    "q1_pricing_summary": "partial+final hash agg; scan reads only the 7 needed columns with the date filter pushed",
    "q3_shipping_priority": "3-way join: dimension sides broadcast, no shuffle of the fact table beyond the final agg",
    "q18_large_orders": "agg-filter-join pipeline + TakeOrderedAndProject (top-k never sorts the full table)",
    "join_broadcast_part_revenue": "explicit broadcast hint on the dim side",
    "join_asof": "as-of join via union + window — NO BroadcastNestedLoop/CartesianProduct anywhere",
    "dedup_ngram_jaccard": "pairs served from the session-keyed pairs-cache checkpoint (r12; `_PAIRS` LRU in operators/dedup.py, keyed by cache.frame_key): the visible plan is a projection over the materialized pair table; the build itself is one documents scan -> postings shuffle -> pair agg (pre-checkpoint shape pinned by tests/test_plans.py::test_jaccard_postings_no_inferred_generate_filter via capture_checkpoints)",
    "embedding_cosine_topk": "brute-force cosine: query set broadcast, corpus scanned once (round-robin spread when the scan is under-partitioned — the pair fold otherwise runs single-task, r12), per-query top-k via window",
    "timeseries_gapfill": "per-key spine generate + broadcast grid join + single window pass",
    "chunk_documents": "pure narrow chunking: scan -> generate -> project, zero exchanges",
    "hr_alerts_tumbling": "the reference pipeline's batch twin: window agg with partial aggregation before the shuffle",
    "profile_lineitem": "per-column two-level agg branches (pruned single-column scans, map-side combine) instead of one Expand-based multi-distinct",
    "skew_salted_join": "explicit salted join: fact salted, dim exploded n_salts ways, then the plain agg",
    "interval_join_outer_attribution": "left-outer interval join stays a hash-partitionable equi join with time-range residuals",
    "join_interval_binned": "no-equi-key interval containment rewritten as a day-bin equi join — NO BroadcastNestedLoopJoin",
    "text_decontaminate": "benchmark gram set broadcast; corpus grams filtered map-side, one shuffle for the per-doc count",
    "pipeline_pretrain_corpus": "dedup -> quality -> decontaminate -> mixture; the survivor body is checkpointed after the dedup window (r12: the fingerprint-window body shuffle ran 3x, once per consumer branch) so the corpus body is shuffled once",
    "mlprep_domain_mix": "per-source keep rates from a 20-row aggregate broadcast back; corpus filter is map-side",
    "quality_logistic_score": "model inference as columnar math: features + sigmoid in one WholeStageCodegen span over the scan",
    "text_bigram_logprob": "LM scoring: compact model table joins once; probe is per-doc bigram COUNTS, not occurrences",
    "text_paragraph_dedup": "paragraph dedup keeper is min(struct) HashAggregate with map-side partials — hot boilerplate paragraphs collapse before the shuffle, no Window sort",
    "mlprep_shuffle_shards": "deterministic corpus shuffle: md5-draw permutation, fixed uniform shard cuts (no sampled RangePartitioner), one shuffle to shard-partitioned order",
    "events_variant_extract": "VARIANT path: parse_json once, typed variant_get extractions + partial agg in one codegen span",
    "mlprep_feature_hashing": "hashing-trick featurizer: two md5 expressions + one partially-aggregated groupBy, no fitted vocabulary anywhere",
    "join_scd2_pointlookup": "temporal SCD2 lookup: equi join on user_id (hash-partitionable) with interval containment as residual — never a nested loop",
    "join_lateral_topn": "correlated LATERAL decorrelated to a window rank over one equi join — no per-outer-row re-execution",
    "audit_referential_integrity": "six FK orphan audits as one DAG: anti joins with broadcast dims, fact side streams map-side",
    "session_windows_dynamic_gap": "native session merge with per-event gap — same single-shuffle shape as fixed-gap sessions",
    "embedding_hard_negatives": "label-mismatch filter pruned BEFORE the per-query top-k window; anchors broadcast, corpus scanned once",
    "skew_key_report": "hot-key diagnosis with no global window: totals agg + TakeOrdered top-10, scales to billions of keys",
    "text_vocab_coverage": "Zipf coverage via TakeOrderedAndProject per candidate N — per-partition heaps, never a global sort",
    "orders_abc_pareto": "global cumulative share via two-pass distributed prefix sum (range shuffle + bounded offset broadcast) — no single-task global window",
    "rolling_active_users": "exact 7-day rolling distinct: bounded 7x explode of the (user, day) distinct table, never a range join re-scanning each day",
    "events_markov_transitions": "per-user lag window on one user_id exchange; probability window rides the |types|^2 aggregate, not the fact table",
    "text_sparse_cosine_pairs": "sparse tf-idf cosine via token postings join; df cap bounds hot-token pair fan-out (prefix-filter analog)",
    "graph_triangle_neardup": "degree-oriented wedge enumeration + closure join — per-node wedge work bounded by min-degree, the power-law-safe triangle plan",
    "incremental_join_view": "join-view refresh as delta algebra: base + dO|x|L0 + O|x|dL partials merged; full tables never re-joined",
    "cep_journey_counts": "CEP regex-over-sequence: ordering inside array_sort(collect_list) on ONE user_id exchange — no window sort, regex NFA runs once per key",
    "cep_followed_by": "CEP followed-by: two running-max columns over one window spec — the NFA frontier as window state, single exchange+sort",
    "text_bm25_topk": "BM25: tf agg only over query-matching tokens (long tail dies map-side); df/avgdl/N broadcast scalars; per-term top-k window on the tiny scored set",
    "hybrid_rrf_retrieval": "RRF fusion: both arms reduce to <=50-row rankings before the full-outer fusion join — broadcast regardless of corpus size",
    "geo_grid_radius_join": "spatial radius join: probe 3x3 cell ring broadcast (45 rows), fact side never shuffles, haversine only on ring-local candidates — no cross join",
    "merkle_block_diff": "anti-entropy diff: per-block digests map-side combined on both replicas; only O(blocks) digest rows meet in the final join",
    "approx_topk_cms": "count-min sketch: posexplode fan-out then ONE agg whose shuffle is capped at depth*width rows per task, whatever the key cardinality",
    "join_skew_diagnostics": "join pre-flight: per-key fan-out accounting via one map-side-combined agg + broadcast 1-row total; the diagnosed join itself never runs",
    "quantile_sketch_log": "deterministic log-histogram quantile sketch: one partial-agg bucket build; quantile lookup walks the tiny cumulative table",
    "graph_bfs_distance": "bounded-round frontier BFS: per round one broadcast-frontier x edges join + distinct + reached-set anti-join, edges localCheckpointed once. Round 7: the reached-set anti-join is UN-hinted (`F.broadcast(dist)` removed - dist grows toward all reached nodes, and forcing the broadcast was a driver/executor OOM at real graph cardinalities, round-6 verdict item 3). AQE still picks broadcast while dist is small and degrades to a shuffled anti-join of two reached-set-bounded tables; the edge table never shuffles either way - asserted on the production round builder by tests/test_plans.py::test_bfs_round_plan_shape. Final plan below is the 0-exchange union over checkpointed rounds, unchanged",
    "attribution_linear_touch": "multi-touch attribution: next-purchase assignment as a FOLLOWING-frame window — no clicks x purchases range self-join",
    "forecast_seasonal_naive_backtest": "forecast backtest: hourly pre-agg then (user, hr-24h) equi self-join — fact table aggregated once, joined small",
    "cep_error_burst": "quantifier CEP: islands via two row_numbers on ONE user exchange — no self-join, no sequence materialization",
    "pipeline_rag_index": "RAG index build: narrow chunking (zero exchanges) + one embedding join — the only shuffle in the whole pipeline",
    "approx_distinct_kmv": "KMV distinct: one distinct + rank window on the same group exchange; the estimate is oracle-checkable because md5 is its randomness",
    "weighted_median_price": "weighted median: running + total weight share one group exchange; crossing row via conditional min, no second scan",
    "max_concurrent_sessions": "sweep-line peak concurrency: sessionize windows on user exchange, then distributed prefix sum (range shuffle + offset broadcast) — no single-task global window",
    "stats_chi_square_independence": "chi-square screen: ONE map-side-combined agg builds the R x C cell table; all marginals are windows over those few rows — the raw table is never re-scanned",
    "orders_benford_digits": "Benford audit: exact-integer digit extraction in the scan's codegen span, one 9-row agg, windowed total",
    "stats_kaplan_meier_reorder": "Kaplan-Meier: one customer-exchange rank window + per-customer agg; all survival math (at-risk, exp/sum-ln product) rides the tiny life table",
    "timeseries_ohlc_vwap": "OHLC/VWAP bars: ONE hash aggregate — open/close via min_by/max_by over the total-order struct, no per-bar sort; VWAP numerator in exact integer cents",
    "text_cross_doc_dup_spans": "cross-doc dup-span screen (r8 reshape): ONE map-side-combined gram aggregate carrying min(doc_id) for df==1 grams — no postings join-back, no pair generation, hot grams cost one counter",
    "join_asof_nearest": "nearest as-of: backward AND forward running fills off ONE union+window exchange — no range join, no second shuffle",
    "dedup_ngram_containment": "asymmetric containment: same postings->buckets->upper-triangle single-shuffle core as jaccard; only the final scalar differs",
    "privacy_t_closeness": "t-closeness EMD: raw table scanned once into two stacked aggs; distance math on the dense grid from a broadcast band dimension, all integer-exact",
    "events_cusum_changepoint": "CUSUM: daily agg + broadcast stats join; cumulative and argmax windows share one event_type exchange, integer-exact deviations",
    "text_source_token_tvd": "source vocabulary drift: one big token-count shuffle; dense vocab x source grid off a broadcast dimension; pairwise TVD integer-exact to one final division",
    "basket_rules_lift": "association rules: pair supports keyed on the order (basket-width-bounded fan-out); item supports broadcast back; conf/lift in integer micro-units",
    # round-7 additions
    "graph_kcore": "bounded-round k-core peel: per round ONE degree agg + two semi-joins on the shrinking checkpointed edge table; final plan reads the last checkpoint only",
    "timeseries_dtw_band": "banded DTW as one fold: one conditional daily aggregate, left-joined onto range(59), feeds a single FlatMapGroupsInPandas whose DP runs in Python ints - no recursion, no checkpoint, the orders scan runs once",
    "join_bucketed_colocated": "bucketed co-located join: both scans carry SelectedBucketsCount and the SortMergeJoin has ZERO exchanges below it - the shuffle was paid at ingest",
    "stats_levene_test": "two passes: percentile_disc group medians (5 rows, broadcast back), then one moment aggregate + 5-row reduction; SS terms rounded to the 1e6 grain for order-independence",
    "text_keyness_g2": "one (source, token) aggregate + three tiny-aggregate joins back (per-source totals broadcast, token totals co-partitioned, corpus total 1-row); per-source top-10 under WindowGroupLimit",
    "embedding_mutual_nn": "Arrow/BLAS top-1 over the bounded pool, then a reciprocity self-join of the checkpointed (id, nn) table - search cost O(N k), reciprocity O(N)",
    "stats_cochran_armitage": "one map-side-combined aggregate to <=7 dose rows + a 1-row reduction; all sufficient statistics exact BIGINTs",
    # round-9 additions
    "fx_asof_revenue": "as-of FX conversion inverted for scale: the sparse rate dimension forward-fills over its tiny day spine (ONE window), facts equi-join it broadcast - zero fact-side sort; the oracle pins the same semantic via native ASOF JOIN",
    "graph_label_propagation": "semi-synchronous LPA: per round one equi-join against the checkpointed edge list + (node,label) count + struct-min argmax, all hash-partitioned on node; round 1 collapses to min(neighbor) because distinct edges make every count 1",
    "graph_jaccard_neighbors": "neighborhood Jaccard: hub-capped postings self-join generates candidates (bounded by sum d_p^2), degrees join back over the SAME capped universe, global top-50 is TakeOrderedAndProject",
    "eval_clipped_ngram_precision": "BLEU-style clipped precision: staged token arrays (one localCheckpoint) feed four partial-aggregated gram counts; clip joins are co-partitioned on (pair, gram)",
    "finance_sharpe_rolling": "rolling Sharpe on integer sufficient statistics: fact-side hash agg to (region, day), lag + rolling windows over the ~2.4k-day dimension, variance numerator squared in DECIMAL(38,0)",
    "stats_grubbs_test": "Grubbs outlier screen: one stats aggregate, broadcast join-back (stats side = |event_types| rows), one max/argmax aggregate - two passes over events, zero sorts",
    "multimodal_aspect_buckets": "aspect bucketing: one Arrow decode pass over real BMP payloads (checkpointed), bucket aggregate + broadcast join-back of the ~15-row bucket table for the waste sum",
    "experiment_bh_fdr": "BH-FDR over permutation tests: deliberate B=80 replicate explode (rebalance_if_narrow spreads the 1-partition events scan before the 80x generation, r12) (md5-quartered: one hash = four draws) into ONE partial hash aggregate keyed (type, replicate); obs stats checkpointed once and BROADCAST into both the replicate compare and the p-value join; the BH step-up runs on |types| rows with an integer decision rule. The B-vs-corpus lever is the documented scale knob",
    "graph_harmonic_centrality": "multi-source frontier BFS: the reached set keys (seed, node) so 4 seeds share every edge probe; graph_bfs_distance's round loop (`_frontier_bfs`): per round one broadcast-frontier join vs the SHARED checkpointed edge list + distinct + un-hinted anti-join; harmonic sum emitted as exact integer 6*sum(1/d)",
    "graph_hits_bipartite": "HITS, two mutual-reinforcement rounds in exact BIGINT (normalization dropped, ranking identical): edge list checkpointed once for its three consumers, each round one broadcast join + map-side-combined sum, top-15 via TakeOrderedAndProject",
    "versioned_changefeed": "net CDF across mixed DML (append/DV delete/merge): inserts read only span-added files, deletes only DV-targeted old files — O(changes), never O(table); netting is one anti-join of two bounded change sets",
    "supplier_otif": "OTIF vendor scorecard: one orderkey-shuffled equi join + one suppkey hash aggregate, both map-side combined; never-shipped lines counted against the rate without a second pass",
    "spc_imr_revenue": "I-MR control chart: one day-grain hash aggregate, then lag + mean windows over the ~2.4k-day table; all limits derived from integer cents",
    # round-10 additions
    "histogram_equidepth_totalprice": "exact equi-depth histogram over the raw fact via distributed_ntile: ONE range shuffle + id-derived local rank + bounded offset broadcast — the Exchange SinglePartition global window is GONE (VERDICT r9 task 1), and so is the second hashpartitioning(_pid) exchange the r10-r11 window-based local rank paid (r12)",
    "rfm_user_profile": "three exact global quartiles over unbounded user cardinality, each a distributed_ntile pass — three metadata-width range shuffles, zero single-partition windows",
    "mlprep_global_doc_ids": "contiguous global ids via distributed_row_number with the corpus total from the same offsets pass — the row_number()+count() OVER () pair that would plan TWO SinglePartition exchanges plans none",
    "embedding_semdedup_det": "deterministic SemDeDup: pinned md5 centroid sample broadcast for argmax-cosine assignment, per-cluster pair pass (sum of per-cluster squares, never corpus-wide), norms computed once per vector and carried as a column",
    "multimodal_image_phash": "position-sensitive aHash over real decoded BMPs: one Arrow-batched decode pass (checkpointed), 16-bucket reduction inside the pandas op, hash aggregate + join-back for dedup group sizes",
    "graph_personalized_pagerank": "3-round integer PPR on the shared checkpointed edge cache: per round one equi-join + one map-side-combined sum; seed teleport from a checkpointed broadcast map; top-20 = TakeOrderedAndProject",
    "retrieval_ann_recall_at_k": "index acceptance gate: SRP-LSH arm and exact-cosine arm (both value-oracled operators) meet in one left join of <=60-row rankings",
    "join_asof_tolerance": "as-of with a staleness bound: the tolerance is a column mask over the SAME single-shuffle union+window plan as join_asof — no extra exchange",
    "finance_var_historical": "historical VaR/ES: day-grain aggregate, per-region lag window, percentile_disc to a 5-row VaR table broadcast back for the tail scan",
    "timeseries_bollinger_breach": "Bollinger breach census: rolling integer sufficient statistics over the day dimension; the 2-sigma decision is exact integer algebra in DECIMAL(38,0)",
    "events_slo_error_budget": "SLO burn: one fact aggregate to day grain; the rolling window rides the calendar-bounded day table — the legitimate unpartitioned window",
    "text_code_detect": "code-vs-prose router: length/translate/replace signals in one codegen span over the scan + one source-grain aggregate",
    "inventory_abc_xyz_matrix": "ABC-XYZ segmentation: two lineitem aggregates (month then part grain), cumulative-spend rank via global_prefix_sum (no single-partition window over the part table), CV class by integer cross-multiplication, 9-cell rollup",
    "supplier_single_source_risk": "sourcing concentration: two-level distinct aggregate ((part,supplier) partials then part grain) + 3-row bucket rollup, exact cents",
    # round-11 additions
    "text_heaps_vocab_growth": "Heaps' vocabulary curve, r11 rewire: the doc-index rank is distributed_row_number (range shuffle + _pid-local window, total N free from the offsets pass — the crossJoin(broadcast(count)) is gone); the only surviving unpartitioned window cumulates the 10-row decile table (VERDICT r10 #1)",
    "mlprep_negative_pairs": "md5-ring negative sampling, r11 rewire: distributed_row_number ranks the ring, the two successors resolve via equi-joins on the dense BIGINT rank ((rn+k) wrap to 1) — the single-partition global lead window is GONE (VERDICT r10 #2)",
    "retrieval_mmr_rerank": "greedy MMR diversity re-rank: corpus-sized work is ONE cosine_topk pass (query broadcast, corpus scanned once, checkpointed for the two sides of the pairwise join); the inherently-sequential greedy loop runs on the bounded 20-candidate set as ONE FlatMapGroupsInPandas (operators/sequential.py:fold over the 400 pairwise sims, no driver collect), replayed by an unrolled MATERIALIZED-CTE oracle",
    "embedding_matryoshka_recall": "truncated-dim recall audit: four auto-routed cosine passes (8/16/32/64-dim prefixes; the router flips to Arrow/BLAS past ~10M mul-adds), the 4x200-row ranking union checkpointed once for its two consumers",
    "embedding_knn_label_eval": "leave-one-out 5-NN label vote: one auto-routed cosine pass; the 500-row ranking BROADCASTS into the corpus-sized label map (never the reverse); vote argmax via pinned (count DESC, label) order",
    "multimodal_image_tiles": "2-D patch extraction: one Arrow-batched decode+tile pass (numpy bincount per image, tiles never explode into Spark rows), then pure column arithmetic — the vision-ingest plumbing",
    "audit_order_total_reconciliation": "header-vs-lines reconciliation: one lineitem aggregate to order grain (map-side combined), one orderkey equi-join, 1-bp drift decided by integer cross-multiplication",
}

# Measured evidence that is not a single query's plan: kept here so PLANS.md
# regeneration never loses it.
EPILOGUE = """
## mapInPandas vs mapInArrow for binary payloads — measured (this container)

`resize_raw_rgb` (pandas tier) vs `resize_raw_rgb_arrow` (arrow tier), warm
noop-sink runs on local[8], identical pixel math:

| shape | pandas | arrow |
|---|---|---|
| 2000 x 128x128 (~49 KB payloads), batch 64 | 0.52 s | 1.00 s |
| 200 x 512x512 (~786 KB payloads), batch 16 | 0.50 s | 0.53 s |

Honest read: for per-ROW decode work the pandas tier's bulk column
conversion beats per-value Arrow access (`.as_py()` + list building), and
the gap closes — but does not invert — as payloads grow and conversion
amortizes. Choose mapInPandas for row-wise binary ops by default; mapInArrow
earns its keep when the UDF can consume Arrow buffers COLUMN-wise without
materializing Python objects per row (bulk `combine_chunks`/numpy views), or
when pandas dtype coercion (object columns, nullable ints) is itself the bug
risk. Parity between tiers is pinned byte-for-byte by
tests/test_multimodal.py::test_raw_rgb_arrow_tier_parity.

## cosine tier choice — measured crossover (one-off bench, since deleted)

Two exact-top-k tiers do the same job: `cosine_topk` (Catalyst HOF fold,
JVM-side) and `cosine_topk_arrow` (mapInPandas, one BLAS matmul per Arrow
batch). Which wins is a fixed-overhead vs per-pair-throughput tradeoff,
measured on local[32], corpus 20 000 x 16 queries, k=5, warm runs
(2026-08, this container):

| dims | expr (s) | arrow (s) | arrow speedup |
|------|----------|-----------|---------------|
| 64   | 2.23     | 0.87      | 2.6x          |
| 512  | 2.32     | 0.68      | 3.4x          |
| 2048 | 9.11     | 1.94      | 4.7x          |

The headline bench (`embedding_cosine_topk*`, 2 000 x 64-dim corpus, 20
queries) sits on the OTHER side of the crossover: expr 1.5 s vs arrow
2.1 s, because at ~2.6M multiply-adds the arrow tier's fixed cost
(Python worker spin-up + Arrow transfer, ~0.5-1 s) dominates.

**Tier rule:** estimate pair work = corpus_rows x queries x dims. Under
~10M multiply-adds, use the expression tier (zero Python overhead; the
whole plan is one codegen span). Above it, use the arrow tier — its
advantage grows with dims (BLAS vs interpreted fold) and its per-batch
local top-k keeps the shuffle at k x queries rows per batch either way.
At 100 TB corpus scale the arrow tier is the default; the expression
tier remains the oracle-bit-parity baseline and the right choice for
small interactive query sets.

**Wide-array scan sizing (measured OOM):** a 2048-dim float64 array
column at the default `spark.sql.parquet.columnarReaderBatchSize=4096`
allocates ~64 MB of reader buffer per column per task — 32 concurrent
tasks OOM'd a 1 GB heap before any operator ran. For high-dim embedding
scans set columnarReaderBatchSize to 512 (or give executors headroom):
the reader batch is rows x dims x 8 bytes regardless of row count.

## ANN tier bench (one-off bench, since deleted; sf0.1 embeddings: 5k vectors x 64 dims, k=5, 16 queries)

| tier | wall (s) | recall@5 vs exact |
|---|---|---|
| exact brute-force cosine | 2.7 | 1.000 |
| LSH (4 tables) | 3.7 | 0.975 |
| PQ (m=8, 256 centroids, ADC) | 3.5 | 0.325 |
| IVF (16 lists, probe 4) | 7.6 | 0.613 |

**Reading**: at demo scale every approximate tier LOSES to exact brute
force on wall time — the index build/train overhead (k-means for IVF/PQ,
hash banding for LSH) is amortized over far too few corpus vectors, and
recall is strictly worse. This is the honest tier-choice rule the
numbers encode: **exact cosine is the right plan until the corpus is
orders of magnitude past the index overhead** (roughly: train cost ~
O(sample x iters), probe cost ~ corpus/n_lists per query — the
crossover needs corpus >> n_lists x train_sample). The approximate
tiers exist for the 100 TB posture where the exact scan per query is
the thing that cannot run: IVF bounds the scan to probed lists (and
becomes partition pruning when the corpus is written clustered by list),
PQ additionally shrinks the resident corpus ~32x (64 float32 dims -> 8
bytes), LSH needs no trained model at all. Recall at this dimensionality:
LSH ~0.98 (cheap win), IVF 0.61 at probe=4/16 (tunable linearly in
probes), PQ 0.33 (ADC quantization error dominates at 64 dims — PQ is
the memory tier, not the recall tier; production pairs it with an exact
re-rank of the top ~10k codes).

## Round-5 re-measure of the r3->r4 "regression" set (VERDICT r4 item 2)

A one-off A/B script (since deleted): 5 repetitions at sf0.1, order-interleaved so
machine-load drift hits every query equally, with `q1_pricing_summary` as a
load control. Measured 2026-08-14 on the shared machine:

| query | reps (s) | median | min | r3 driver | r4 driver |
|---|---|---|---|---|---|
| q1_pricing_summary (control) | 1.684, 0.446, 0.401, 0.488, 0.412 | 0.446 | 0.401 | — | — |
| rollup_hour_day | 1.066, 0.516, 0.476, 0.470, 0.494 | 0.494 | 0.470 | 0.396 | 0.631 |
| dpp_partitioned_revenue | 1.321, 0.811, 0.747, 0.732, 0.770 | 0.770 | 0.732 | 0.695 | 0.920 |
| dedup_clusters | 5.504, 3.696, 3.460, 3.674, 3.420 | 3.674 | 3.420 | 2.985 | 3.922 |
| privacy_k_anonymity | 0.717, 0.548, 0.611, 0.646, 0.684 | 0.646 | 0.548 | 0.552 | 0.730 |

Conclusion: **variance, plans identical.** Every median lands BETWEEN the r3 and
r4 driver-recorded values; the control query shows the same ~20–30% drift vs its
own recorded best (0.401 min here vs 0.37 in SCALING.md), i.e. the machine — not
the code — moved. Plan evidence: normalized `explain("formatted")` digests
(plan-ids/expr-ids stripped) pinned this round —
`rollup_hour_day ab04f73f44a8` (6 exchanges, hourly exchange reused by the day
grain via AQE), `dpp_partitioned_revenue fed9880772f5` (8 exchanges,
dynamicpruningexpression still on the fact scan), `privacy_k_anonymity
52cacb78b2fe` (4 exchanges); `dedup_clusters` is iterative (per-round plans), its
round count is convergence-bound and unchanged. git confirms no commit since r3
touched any of the four query definitions.

## Round-5 additions: lakehouse DML plan evidence

- **Deletion-vector read** (`read_snapshot` on a table with `dv` sidecars,
  100k rows / 1k deleted, measured this round): the merge-on-read anti-join
  plans as `BroadcastHashJoin ... LeftAnti` with **zero hash exchanges** — the
  sparse vector broadcasts and the data scan is never shuffled. At 100 TB the
  vector side stays proportional to deletes, not table size; a pathological
  dense-delete table degrades to a shuffled anti-join (AQE's call) and is the
  signal to compact (which PURGES the vectors physically).
- **Z-order pruning** (sf test, 16 files over 20k rows, decorrelated dims):
  a 10% slab predicate on EITHER clustered column alone opens ≤ 8/16 files,
  the conjunctive 2-D probe ≤ 6/16 (`tests/test_versioned.py::
  test_zorder_prunes_on_every_clustered_dimension` asserts the file counts
  via `_metadata.file_path`). The Z-value itself is a single codegen'd
  Project of shift/and/or expressions (`tests/test_plans.py::
  test_zvalue_expression_is_jvm_side_codegen`) — no Python, no extra pass.
- **MERGE** (`merge_into`): one staged write for tombstones + one for
  incoming rows; the matched-position derivation is a left-semi join of the
  row-identified scan against the (deduplicated) source keys. Cost is
  O(matched + source); the data files of the base version are never opened
  for write. Scaling: `versioned_merge_upsert` alpha 0.14 over the
  0.01→0.1 decade (SCALING.md).
- **OCC**: version claims are one os.link each — contention costs a retry
  loop over manifest files only, never re-staging data (the staged parquet
  parts are version-agnostic payload; only the manifest re-publishes).

## Streaming state-store posture (round-6): RocksDB opt-in + amplification measured

The engine default stays Spark's HDFS-backed in-memory provider; at real
scale streaming state must move off-heap. `session.py:ROCKSDB_STATE_CONF`
(passed as `get_spark(extra_conf=...)` or applied with `conf_override`)
switches every streaming query to the bundled RocksDB provider with changelog checkpointing (per-batch
deltas instead of full SST snapshot uploads). Engagement is verified, not
assumed: `tests/test_streaming.py::test_streaming_under_rocksdb_state_store`
asserts identical alert output AND rocksdb custom metrics in the query
progress.

**State amplification, measured** (20k events / 50 keys / one watermark-open
tail, this container): a 60 s window sliding by 10 s holds **350 state rows
vs 50 tumbling (7.0×)** and **2.24 MB vs 0.40 MB provider memory (5.6×)** —
every event buffers into `window/slide` copies. That multiplier is why the
heap-backed default caps out: at 100× key cardinality a sliding CEP/window
job's state is `keys × window/slide × open-windows`, which belongs in
RocksDB (off-heap, spillable, incrementally checkpointed), while tumbling
aggregations with modest key counts can keep the cheaper in-memory provider.
Commit latency at this toy scale is within noise (640 ms vs 673 ms per
batch) — the native store costs nothing here and removes the ceiling.

## Sketch oracle tier (round-6): md5-replayable CMS / AMS / Bloom / MinHash-incremental

Every hash-based sketch operator now carries two hash families
(`operators/frequency.py:_seeded_hash`): the production default stays
`xxhash64(key, seed)` (JVM codegen, engine-specific), and an opt-in
`md5` tier derives the same-width non-negative 60-bit value from
`md5(key || '|' || seed)` — reproducible bit-for-bit in DuckDB. The
registered queries run the md5 tier, which is what moved
`approx_topk_cms`, `approx_f2_tokens`, `bloom_prefilter_orders`,
`dedup_incremental_neardup` (via the new asymmetric
`minhash_det_incremental_candidates`), and `dedup_sketch_quality_report`
from rows-only to full value-hash oracles. Plan shape is unchanged by
the tier swap: same posexplode + map-side-combined aggregate, the
shuffle still carries O(d·w) / O(e·c) / O(n_bits) rows whatever the key
cardinality. The md5 expression costs ~2-3× the xxhash codegen path per
row — at 100 TB you run the xxhash tier and keep the md5 tier for
oracle audits on sampled slices (the same two-tier posture as
SimHash/winnowing).

## Deterministic SRP ANN (round-6): the value-oracled ANN family member

`operators/similarity.py:srp_ann_topk` — hyperplane (sign-random-
projection) LSH with every randomness source pinned: ±1 hyperplanes are
md5-parity coins over (dim, bit) pairs, vectors are integer-quantized
(`floor(x·1000)`) so the 16 signature dot products are exact int64
folds with no float-summation-order hazard, 4-bit banding generates
candidates, and exact double cosine re-ranks candidates only. Plan
(verified via explain): signature is ONE narrow codegen projection (16
zip_with/aggregate folds over literal arrays — no explode, no join for
the signature), candidates come from a broadcast band join, top-k runs
under WindowGroupLimit (rank pushdown — no full sort). The seeded ANN
tiers (BucketedRandomProjectionLSH / IVF / PQ) remain the
speed/recall-tunable paths; `embedding_ann_srp` is the one whose whole
pipeline DuckDB replays (CORRECTNESS-gate class), and its planted-
duplicate guarantee (identical vector ⇒ all bands collide ⇒ rank 1) is
pinned in tests/test_approx_operators.py.

## Beyond-sf0.1 probe (round-6): FP-Growth alpha flattens

A one-off probe (since deleted) built a doubled-basket sf0.2 (lineitem
unioned with an order-key-shifted copy — twice the baskets, same item
universe) and interleave-timed `basket_frequent_itemsets` against
sf0.1: **3.77 s → 5.46 s, alpha 0.54 over the 0.1→0.2 doubling** — the
0.64 alpha of the 0.01→0.1 decade FLATTENS past sf0.1, confirming the
cost is ml-fit fixed overhead plus a sub-linear data term, not a
steepening curve.

Round-7 re-probe (quiet box, load_avg 0.53): **3.31 s → 4.71 s, alpha
0.51** — reproduces the flattening with fresh numbers (r6's highest
in-catalog alpha was 0.68 over 0.01→0.1; past sf0.1 the curve bends
down, not up). **minSupport-vs-SF guidance (the documented scale
lever):** minSupport is RELATIVE (0.02 of baskets), so the absolute
support floor already rises linearly with basket count — that is what
keeps the frequent-item list (and therefore FP-tree width and the
conditional-tree recursion) roughly SF-invariant; the growth that
remains is the two linear passes over baskets. Keep the threshold
relative at larger SF; never convert it to an absolute count, which
would re-admit the long tail and genuinely steepen the lattice walk. If
a future corpus widens the ITEM universe (brands here are fixed at 25),
the second lever is capping items per basket to the support-pruned
frequent list before fit — FPGrowth already drops infrequent items, so
the cap only saves shuffle width, not correctness.

## Round-grain audit (round-8): when round(x, d) itself is the bug

An empirical probe (101 doubles walked ulp-by-ulp around 3.13e13, both
engines) established that **Spark and DuckDB round(x, d) DISAGREE on
IDENTICAL doubles once |x|·10^d nears 2^52** — Spark rounds the exact
decimal expansion of the binary value (BigDecimal HALF_UP) while
DuckDB's scaled-multiply path re-rounds x·10^d in binary first, e.g.
x = 31317449957606.543: Spark .54, DuckDB .55. That is the second layer
of the r7 `stats_anova_f` flake (the first being FP partial-aggregate
merge order). Catalog rule derived from the probe: a value-oracled
output may use round(x, d>0) only when |x|·10^d stays well under 2^52
(≈4.5e15; the audit flags at 2^45 for ~100-ulp margin); at larger
magnitudes round at d<=0 (x·1 is exact, and above 2^52 doubles are
integers — both engines agree at any magnitude) or emit unrounded
exact-integer-derived values. The audit sweep (`/tmp round_audit`
methodology: run every oracled query, flag float outputs by shown
fraction digits) found 41 large-magnitude float columns; all but the
two fixed this round (`stats_anova_f`, `q11_important_parts`) are
UNROUNDED exact-integer ratios — deterministic by construction and
repartition-invariant by measurement.

## Determinism-under-partitioning sweep (round-8): the repart scenario

`scripts/fuzz_catalog.py repart` runs every oracled query twice on the
SAME rows — one 1-file layout with shuffle.partitions=1 vs one 16-file
layout scanned as 16 partitions with shuffle.partitions=16 — and diffs
canonical outputs Spark-vs-Spark. Any divergence means the result is a
function of the layout, not the rows, and will eventually hash-mismatch
the sequential DuckDB oracle. First full sweep: **342/343 invariant**;
the one catch was `q11_important_parts` (per-part money sums are exact
multiples of 1e-4 that can land exactly ON a .005 rounding boundary,
where merge order decides the rounded digit; plus a HAVING threshold
comparing float totals) — rebuilt on exact integer ten-thousandths with
an integer threshold inequality (raw·500 > total). `stats_anova_f` got
the same treatment (exact integer-cents sufficient statistics in
DECIMAL(38,0), the k-row cross-group term folded in pinned order).
A 14-query CI subset pins the class (tests/test_fuzz_oracle.py
REPART_RISKY). Cost of the fix, measured (quiet r8 bench vs r7):
`stats_anova_f` 0.50 → 0.90 s — the DECIMAL sufficient-statistics sums
and the pinned-order fold are slower than the old float var_samp by
design; that 0.4 s buys an oracle that cannot flake under any layout,
and the r8-vs-r7 common-228 total still moved 251.9 → 243.4 s (0.97×)
on the same box.

## Cross-doc dup spans reshape (round-8): one postings shuffle, no join

The r7 verdict flagged `text_cross_doc_dup_spans` as the catalog's
highest SCALING alpha (0.70) and a 1.62× round-over-round mover. A/B
re-measure (5 interleaved reps, quiet box): **2.0 s solo vs the 4.03 s
in-driver reading — box noise**, same verdict for
`inventory_fifo_cogs` (1.00 s solo vs 2.16 s in-driver). The reshape
still pays for itself: because each doc's grams are distinct, a df==1
gram's only owner is min(doc_id) INSIDE the same gram aggregate, so
n_shared = n_grams − unique-count and n_grams is the shingle array's
size — the dfreq-join-back (a second full postings shuffle on gram,
hot-key exposed, plus a recomputed explode) is gone. Measured 1.82 s →
1.57 s at sf0.1; a one-off probe (doubled documents, since deleted;
interleaved): **ratio 0.95, alpha ≈ 0 past sf0.1** — the 0.70 alpha was
explode amortization, not a steepening curve. Hot-gram skew posture:
the surviving gram aggregate is map-side combined (a corpus-wide
boilerplate gram collapses to one counter per task before the
shuffle); the per-doc join touches |docs| rows only.

## Round-10 bench re-baseline — the r8->r9 drift adjudicated (2026-08-16)

The r9 record showed a uniform ~1.20x round-over-round slowdown on the
244-query common set, hitting queries r9 never touched. Controlled
same-session A/B (one quiet box, back-to-back, local[32], sf0.1: the
r8-closing tree `4c0de54` replayed first, then the r10 head):

* **r8 code TODAY vs its own r08 record** (same code, zero changes,
  slowest-10 common queries): **1.11x** — pure machine drift. The drift
  class is real and environmental, exactly as the r9 re-measure
  concluded.
* **r10 head vs r8-era code, same session** (244 common queries):
  269.3 s -> 256.3 s = **0.95x total, median per-query 0.97x** — no
  systemic code regression anywhere in two rounds of additions.
* The only >1.5x movers in the controlled A/B are the five
  distributed-rank rewires (`rfm_segment_migration` 0.52->1.49 s,
  `eval_qini_uplift` 0.51->1.10 s, `eval_decile_lift` 0.66->1.07 s,
  plus the histogram/curriculum variants): each rank pass pays a fixed
  ~0.4-1.0 s at sf0.1 for the checkpoint + bounded offset collect that
  replaces the `Exchange SinglePartition` global window — the
  deliberate trade VERDICT r9 task 1 asked for (the old plan funnels
  every fact/user/doc row through ONE task at 100x; the new one is a
  range shuffle + per-partition rank + tiny broadcast, constant
  overhead amortized by data size).
* **Graph-family checkpoint-vs-compute split, measured (VERDICT r11
  #6)**: at sf0.1 the shared edge cache builds once in ~7.8 s (the
  orders⋈lineitem distinct — amortized across the whole family via the
  session LRU), and the iterative headliners then run at a steady state
  of 3.9–4.8 s each (BFS 5.0, LPA 4.5, PPR 3.9 after JIT warm; the
  higher first-rep numbers are session codegen warmup, not plan cost).
  That steady state is ~0.3–0.5 s per round-job of scheduler+codegen
  floor over node-sized tables — overhead that amortizes away at real
  cardinalities (SCALING alpha ≤ 0.27), with no structural cut left
  that doesn't change semantics: the edge list, the expensive subtree,
  is already materialized exactly once.
* r12 halved the rank pass's data movement again: the r10-r11 `Window.partitionBy(_pid)` local rank
  silently paid a SECOND full exchange (Catalyst cannot prove the
  range shuffle already clusters by `_pid`, so it inserted
  `hashpartitioning(_pid)`) — the local (pid, row_number) pair is now
  read straight out of `monotonically_increasing_id()` after
  `sortWithinPartitions` (pure codegen, no Window operator), and
  `global_prefix_scan`'s integral tier computes running sum/max/min in
  one Arrow pass over the sorted checkpoint (exact int64, Python-int
  outputs, loud 2^62 guard). Plan shape pinned one-exchange-no-Window
  by tests/test_skew.py::test_prefix_scan_single_exchange_no_window.
* **r12 optimization round** (OPTIMIZATION_r12.md has per-query numbers
  and before/after plans under plans/r12/): the near-dup pairs table and
  its cluster map are session-cached like the graph edge list (5 queries
  built the identical pipeline, 3 re-ran the identical fixpoint —
  headline family 26 s -> 11 s); single-partition scan stages feeding
  expensive per-row work (80x replicate explodes, per-gram md5 chains,
  the expression-tier cosine fold, the reference JSON parse) are
  round-robin spread via the cached `rebalance_if_narrow` probe
  (experiment_bh_fdr 12.5 -> 5.2 s, doc_winnowing_fingerprint
  9.8 -> 0.9 s on the same box); small multi-consumer aggregates that
  re-ran fact scans are checkpointed (conformal calibration stats,
  abc_xyz part grain, shapley coalition values, FPGrowth basket input,
  markov unnormalized vector); SRP's signature pass routes to the Arrow
  int64-matmul tier at sf0.1 (threshold 5M -> 500K mul-adds; tiers are
  bit-identical and test-pinned) with dim+count probes merged into one
  job. Arrow map tiers were measured and deliberately NOT spread (a
  batch-sized matmul regressed 2x behind an added exchange).

So this class of question is answerable from the artifact alone,
`bench.py` now records a `fingerprint` block with every run: cpu model,
mem, kernel, python/spark versions, and `cpu_score_mib_s` — a ~0.3 s
single-thread md5 probe doing IDENTICAL work every round. Two rounds'
scores ratio directly calibrates box drift before any per-query
comparison is attempted.
"""


def main() -> None:
    spark = get_spark(app_name="dump-plans", shuffle_partitions=32)
    out = [
        "# PLANS — physical-plan evidence (generated by scripts/dump_plans.py"
        f" at {SF_DIR})",
        "",
        "Each section: what the plan demonstrates for the 100 TB posture, then",
        "the formatted physical plan (file paths elided). Plan invariants are",
        "enforced in `tests/test_plans.py`; this file is the human-readable dump.",
        "",
    ]
    for name, why in SHOWCASE.items():
        df = QUERIES[name](spark, SF_DIR)
        # execute via collect so AQE finalizes THIS queryExecution
        # (a noop write would spawn a separate execution and leave it open);
        # showcase queries all return small results
        df.collect()
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        plan = re.sub(r"Location: \S+", "Location: [elided]", plan)
        plan = re.sub(r"file:[^,\]\s]+", "[path]", plan)
        simple = df._jdf.queryExecution().executedPlan().toString()
        exchanges = len(re.findall(r"\bExchange hashpartitioning|\bExchange rangepartitioning|\bExchange SinglePartition", simple))
        broadcasts = simple.count("BroadcastExchange")
        codegen = len(set(re.findall(r"\*\((\d+)\)", simple)))
        out += [
            f"## {name}",
            "",
            f"**Evidence:** {why}.",
            f"**Shuffle exchanges:** {exchanges} · **Broadcasts:** {broadcasts}"
            f" · **WholeStageCodegen spans:** {codegen}",
            "",
            "```",
            plan.strip()[:4000],
            "```",
            "",
        ]
    out.append(EPILOGUE.strip() + "\n")
    with open(os.path.join(os.path.dirname(__file__), "..", "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"wrote PLANS.md ({len(SHOWCASE)} plans + epilogue)")


if __name__ == "__main__":
    main()
