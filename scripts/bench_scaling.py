#!/usr/bin/env python
"""Measure per-query sf0.1 -> sf1.0 scaling ratios (VERDICT r2 ask #1).

At sf0.1 most headline queries are fixed-overhead-bound (0.2-0.8s), so
the driver bench cannot distinguish a scale-correct plan from a lucky
one. This harness runs the headline set plus the heaviest LLM-pipeline
kernels at sf0.1 AND the repo-generated sf1.0 (scripts/gen_scale.py,
10x rows) in one Spark session and reports per-query wall-clock ratios.

A near-linear plan should show ratio <= ~12x (10x data + a log factor
on sorts); anything super-linear is a plan that lies. Results land in
SCALING.json at the repo root; bench.py embeds them into its JSON line
so the driver's BENCH_r{N}.json carries the scale datapoint.

Usage: python scripts/bench_scaling.py [--repeats 2]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

# headline set (bench.py) + the heaviest extended kernels the verdict
# called out by name
QUERIES = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_revenue_forecast",
    "q10_returned_items",
    "window_topk_orders_per_customer",
    "agg_rollup_flag_status",
    "events_sessionization",
    "events_asof_latest_order",
    "dedup_exact",
    "dedup_minhash_lsh",
    "text_quality_score",
    "ann_cosine_topk",
    "text_vocab_encode",
    "pack_token_budget_batches",
    # r5 additions: the remaining heavy kernels with no scale row —
    # connected components (judge measured 46.8s at sf1.0 on r4 code;
    # this records it officially), the bushiest events/graph plans, and
    # the blocked embedding near-dup
    "dedup_components",
    "events_multilevel_rollup",
    "events_funnel",
    "graph_pagerank_bipartite",
    "embedding_near_dup_blocked",
    "knn_label_vote",
    # streaming at scale: foreachBatch incremental dedup of the odd-id
    # crawl against the cached even-id band index (real stream, real
    # checkpoint, parquet sink)
    "stream_incremental_dedup",
    # r6: corpus-wide boilerplate chunk frequency + join-back,
    # bigram-LM surprisal scoring, Markov transitions, FK orphan audit
    "text_boilerplate_chunks",
    "text_bigram_surprisal",
    "events_transition_matrix",
    "dq_orphan_audit",
    # r7: the exact prefix-filtered similarity join (the former
    # inverted-index quadratic curve, now the candidate-bounded plan)
    "dedup_ngram_jaccard",
    # r8: the near-dup histogram mode and the one-pass column profile
    "embedding_near_dup_stats",
    "dq_column_profile",
    # r8 late additions: BM25 retrieval, exact T-overlap join, blocked
    # fuzzy linkage, exact-decimal Lloyd (fixed 5 iterations — the row
    # measures per-iteration shuffle growth, like pagerank)
    "text_bm25_topk",
    "dedup_overlap_pairs",
    "link_fuzzy_part_names",
    "kmeans_embedding_clusters",
    # r9 (VERDICT r8 #9): the decontamination pair — the anti-join
    # filter is a core 100 TB pipeline op and had no scale row
    "contamination_check",
    "text_decontaminate_filter",
    # r9 new ops: DSIR weights, shingle novelty, containment pairs
    "text_dsir_weights",
    "text_shingle_novelty",
    "dedup_containment_pairs",
    # r10 (VERDICT r9 #5): the r9-gated latecomers — all bounded-output
    # rows whose absence let the MAD window shape hide for a round
    "events_anomaly_mad",
    "events_ewma_value",
    "events_gapfill_hourly",
    "dq_lineitem_expectations",
    "sample_global_shuffle",
    "embedding_norm_by_label",
    # r10 new ops: SemDeDup + the real-codec WAV round-trip
    "dedup_semantic_clusters",
    "multimodal_audio_decode",
    # r11 (VERDICT r10 #1): the range join, now a bucketed band
    # equi-join with a non-vacuous band — first-ever scale row
    "join_range_parts_in_price_band",
    # r11 new op: substring-level dedup (cross-doc repeated spans)
    "dedup_substring_spans",
    # r11 new op: real stdlib-PNG codec round-trip
    "multimodal_image_decode",
    # r11 late ops: Gopher coverage-form repetition rules + PII scrub
    "text_ngram_coverage_stats",
    "text_pii_scrub",
    # r11 final wave: real Y4M video codec, BPE induction (merge
    # learning is iterative — the row measures per-merge overhead),
    # the distributed BPE rewrite, and PQ/ADC ANN
    "multimodal_video_decode",
    "text_bpe_merges",
    "text_bpe_token_counts",
    "ann_pq_topk",
    "ann_ivfpq_topk",
    # r11: the broadcast-bloom decontamination path (no corpus
    # shuffle; the row measures build + map-only probe + hit agg)
    "text_decontaminate_bloom",
    # r11: its streaming twin (foreachBatch probe, _mb_id sink)
    "stream_decontaminate_bloom",
    # r11: PCA fit (bounded covariance collect) + map-only projection
    "embedding_pca_project",
    # r12 new op: span REMOVAL (the other half of substring dedup)
    "text_remove_duplicate_spans",
    # r12 new op: BPE corpus encoding (vocab-bounded replace + word join)
    "text_bpe_encode_docs",
    # r12 new op: overlap-fraction contamination score
    "text_contamination_fraction",
    # r13 new ops: the end-to-end clean->dedup->score->decontaminate->
    # pack pipeline through the DAG engine, and the real
    # decode->resize->re-encode->re-parse round trip
    "dag_pipeline_clean_pack",
    "multimodal_resize_native",
    # r13 late op: streaming/batch parity for the codec path
    "stream_image_decode",
)

# VERDICT r6 #6: every scale row now gets a 30x datapoint (was 12/26)
# so the 30x column separates constant-overhead amortization from
# genuine growth across the whole table, not just the heavy kernels.
SF3_QUERIES = (
    # light relational/events rows first (seconds each)...
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_revenue_forecast",
    "q10_returned_items",
    "window_topk_orders_per_customer",
    "agg_rollup_flag_status",
    "events_sessionization",
    "events_asof_latest_order",
    "events_multilevel_rollup",
    "events_funnel",
    "events_transition_matrix",
    "dq_orphan_audit",
    "dedup_exact",
    "text_quality_score",
    "text_vocab_encode",
    "text_boilerplate_chunks",
    "text_bigram_surprisal",
    "dedup_minhash_lsh",
    "ann_cosine_topk",
    "knn_label_vote",
    "pack_token_budget_batches",
    # streaming at 30x: real stream, checkpoint, cached band index
    "stream_incremental_dedup",
    # iterative graph kernel at 30x: per-iteration shuffle scaling
    "graph_pagerank_bipartite",
    "embedding_near_dup_blocked",
    "embedding_near_dup_stats",
    "dq_column_profile",
    "text_bm25_topk",
    "dedup_overlap_pairs",
    "link_fuzzy_part_names",
    "kmeans_embedding_clusters",
    "contamination_check",
    "text_decontaminate_filter",
    "text_dsir_weights",
    "text_shingle_novelty",
    "dedup_containment_pairs",
    "events_anomaly_mad",
    "events_ewma_value",
    "events_gapfill_hourly",
    "dq_lineitem_expectations",
    "sample_global_shuffle",
    "embedding_norm_by_label",
    "dedup_semantic_clusters",
    "multimodal_audio_decode",
    "join_range_parts_in_price_band",
    "dedup_substring_spans",
    "multimodal_image_decode",
    "text_ngram_coverage_stats",
    "text_pii_scrub",
    "multimodal_video_decode",
    "text_bpe_merges",
    "text_bpe_token_counts",
    "ann_pq_topk",
    "ann_ivfpq_topk",
    "text_decontaminate_bloom",
    "stream_decontaminate_bloom",
    "embedding_pca_project",
    # ...heaviest (prefix-join + closure) last: even with per-query
    # session recovery, a JVM death costs every later row its warm cache
    "dedup_ngram_jaccard",
    "dedup_components",
    "text_remove_duplicate_spans",
    "text_bpe_encode_docs",
    "text_contamination_fraction",
    "dag_pipeline_clean_pack",
    "multimodal_resize_native",
    "stream_image_decode",
)

SF_SMALL = "/root/testdata/sf0.1"
SF_BIG = os.path.join(REPO, ".testdata", "sf1.0")
SF_3 = os.path.join(REPO, ".testdata", "sf3.0")
SF_10 = os.path.join(REPO, ".testdata", "sf10")

# VERDICT r6 #8 (stretch): 100x-data points for the scale flagships,
# replacing extrapolation with measurements. r7 added the exact
# prefix+size-filtered dedup path once it became fast enough to
# measure at 100x.
SF10_QUERIES = (
    "dedup_minhash_lsh",
    "stream_incremental_dedup",
    "dedup_ngram_jaccard",
    "dedup_components",
    "graph_pagerank_bipartite",
    # r8 (VERDICT r7 #8): geometry auto-scaling + the per-vector top-K
    # output cap make this measurable at 100x
    "embedding_near_dup_blocked",
    # r9 (VERDICT r8 #6): a second-decade datapoint for BM25, whose
    # 30x ratio rested on an amortization argument
    "text_bm25_topk",
    # r12 new op: span removal rides the substring-spans shuffle plus
    # a doc-keyed anti join — complete its column set at 100x too
    "text_remove_duplicate_spans",
    "text_bpe_encode_docs",
    "text_contamination_fraction",
    # r13 new op: the composed pipeline rides the decontamination
    # shingle join (its heaviest stage) — complete its column set at
    # 100x like its stage queries
    "dag_pipeline_clean_pack",
)


# ---- prose blocks (module-level so scripts/restamp can rebuild the
# JSON's diagnosis text from already-measured rows without re-running) -

QUADRATIC_OUTPUT_OPS = {
    "dedup_components": (
        "pair graph + iterative closure; r7 bounds candidate generation "
        "with the exact prefix filter, so edge input rides rare-shingle "
        "df — remaining growth is verified-pair output and closure "
        "rounds."
    ),
    "embedding_near_dup_blocked": (
        "banded LSH candidates are Sigma bucket^2; r7 derives the band "
        "width from corpus size so bucket occupancy stays ~constant on "
        "uncorrelated data, and r8 bounds the two terms density skew "
        "still drove: an id-ordered within-bucket pairing window "
        "(candidates O(N*bands*W) under any skew) and a per-vector "
        "top-K output cap (result O(N*K))."
    ),
    "dedup_overlap_pairs": (
        "exact T-overlap work is Sigma C(df,2) over shingle document "
        "frequencies, and when a passage >= c shingles is shared by m "
        "documents all C(m,2) pairs genuinely qualify — the OUTPUT is "
        "quadratic in passage multiplicity, so no exact algorithm does "
        "better (prefix filtering measured degenerate for absolute "
        "thresholds; see operators/dedup.py:overlap_pairs). r9 "
        "(VERDICT r8 #3) implements the prescribed upstream bound: "
        "df_cap=64 drops shingles shared by more than 64 documents "
        "before the self-join (mirrored in the DuckDB oracle), which "
        "bounds join work to 32x the element rows — linear in corpus "
        "size — and results to spans rarer than the cap."
    ),
}

SF3_SESSION = (
    "local[16] @ 4g heap, 64 shuffle partitions (per-task memory parity "
    "with the sf1.0 local[32]@2g session; see scripts/bench_scaling.py) "
    "— sf3.0 wall-times are comparable to each other, not to the "
    "32-core sf0.1/sf1.0 columns"
)

NOTES = {
    "embedding_near_dup_blocked": (
        "an r9 re-measure with the 40-52%-faster norm-precompute "
        "verify was run and its rows REVERTED by their own probe "
        "stamps: the window collapsed at row start (probe_sf0.1 read "
        "1.181 vs the 0.425 gate after the 180s retry budget) and "
        "every later number was burst-corrupted (sf3.0 read 33.9s "
        "where the same-code interleaved A/B had just measured min "
        "8.0s; sf10 read 128.7s vs the 28.0s clean wall). The "
        "standing rows are therefore the r8 clean-epoch OLD-code "
        "walls — upper bounds for the current code, whose speedup is "
        "recorded by the sf3.0 A/B in the diagnosis."
    ),
    "dedup_minhash_lsh": (
        "r9 re-measure of every shingle consumer (minhash, "
        "ngram_jaccard, components, overlap, incremental dedup) "
        "AFTER the late-r8 zip-slice shingle rewrite (VERDICT r8 "
        "#7), every row stamped with its probe_sf* reading (the "
        "fixed-work range(1e9) probe taken immediately before the "
        "measurement, gated at 1.25x the core-scaled clean anchor "
        "with sleep-and-retry). CAVEAT on the sf10 column: the sf10 "
        "phase of the r9 run slid into a ~2x host-degradation epoch "
        "mid-phase — rows measured later read progressively worse "
        "vs their r8 walls (minhash 1.33x, stream 1.37x, jaccard "
        "2.6x, components 2.3x) while row-START probes still read "
        "clean (a 6-12 min row can degrade mid-flight). A "
        "control-validated re-measure was attempted and ABORTED "
        "(sf10_remeasure_r9 block): the unchanged-code control "
        "(pagerank) read 1.64x its r8 wall, proving the window, not "
        "the code. The r9 sf10 walls for these four queries are "
        "therefore UPPER BOUNDS; the r8 clean-epoch walls (minhash "
        "54.7, stream 33.4, jaccard 132.3, components 141.9 — "
        "pre-rewrite code the rewrite measured neutral-to-faster at "
        "sf0.1/sf3.0) remain the best clean-epoch estimates."
    ),
    "stream_incremental_dedup": (
        "r7 probe (VERDICT r6 #5), measured rejection: the per-batch "
        "commit mechanism is NOT the cost — A/B at sf1.0 warm gave "
        "12.9s (dynamic partition overwrite) vs 13.2s (direct "
        "partition-path overwrite); the source runs ONE micro-batch "
        "here. The dominant term is the one-time corpus band-index "
        "build+cache (8.6s of ~13s), which this self-contained query "
        "rebuilds per run but production persists bucketed on disk "
        "(minhash_band_index docstring); per-batch incremental work is "
        "~4s. The sink now writes each batch's _mb_id partition "
        "directory directly — same exactly-once-per-batch contract, "
        "commit cost O(1) in table size instead of dynamic overwrite's "
        "staging enumeration as batch count grows."
    ),
}

SF3_DIAGNOSES_RAW = {
    "multimodal_audio_decode": (
        "one Arrow mapInPandas pass, no shuffle; per-row cost is the "
        "wave encode+parse of a bounded (<=500-frame) container, so "
        "wall rides row count linearly."
    ),
    "dedup_semantic_clusters": (
        "Lloyd front half is the kmeans row's shape (k-key shuffles, "
        "<=k-row collects); the within-cluster pass ranks on the "
        "(cid, id-bucket) composite key (windows capped at 256 rows), "
        "pairs O(N*W), decimal dots in codegen; report join is "
        "broadcast <=k rows."
    ),
    "events_anomaly_mad": (
        "r10 rewrite: BOTH medians are grouped partial-merge "
        "aggregates broadcast back (no Window over the ~5-cardinality "
        "type key — the pre-r10 shape was one task sorting every row "
        "of a type); one scan + one group-key shuffle."
    ),
    "events_ewma_value": (
        "8 codegen lag taps on the user_id exchange approximate the "
        "recursion with alpha^8 < 1e-5 truncation error; no Python, "
        "no per-user iteration."
    ),
    "events_gapfill_hourly": (
        "grid = event types x a broadcast 1-row bounds aggregate; the "
        "fill window runs over HOURLY grid rows (grid-sized, not "
        "event-sized) per type."
    ),
    "dq_lineitem_expectations": (
        "one fact scan, conditional-sum scorecard; reduce side is "
        "|rules|-bounded."
    ),
    "sample_global_shuffle": (
        "content-hash shard coordinates; per-shard row_number windows "
        "sort shard-sized runs — no global sort."
    ),
    "embedding_norm_by_label": (
        "per-vector norm in codegen, then a |labels|-bounded "
        "aggregate."
    ),
    "q1_pricing_summary": (
        "single map-side-partial aggregate over the fact scan; 6-group "
        "reduce side is constant-size."
    ),
    "embedding_pca_project": (
        "PCA at scale: fit is one pass of per-partition (n, sum, "
        "outer-product) partials — <=|partitions| rows collected — "
        "and projection is a second map-only pass with the (d x r) "
        "matrix in the closure; growth is two linear scans, no "
        "shuffle anywhere."
    ),
    "q3_shipping_priority": (
        "broadcast dims + one fact shuffle; top-k is TakeOrdered "
        "(per-partition partial)."
    ),
    "q5_local_supplier_volume": (
        "all dims broadcast; one fact-fact shuffle pair."
    ),
    "q6_revenue_forecast": (
        "scan + filter + scalar aggregate; no shuffle of consequence."
    ),
    "q10_returned_items": (
        "fact shuffle on custkey; dims broadcast; reduce side is "
        "|customers|-bounded."
    ),
    "window_topk_orders_per_customer": (
        "rank window on the custkey exchange; per-key groups stay "
        "constant-size as data scales."
    ),
    "agg_rollup_flag_status": (
        "rollup over a 10-group key space; reduce side constant."
    ),
    "events_sessionization": (
        "one user_id exchange, session assembly rides it."
    ),
    "events_asof_latest_order": (
        "as-of backward join rides the union-window partitioning; "
        "per-user streams merge linearly."
    ),
    "events_multilevel_rollup": (
        "minute grain aggregates once; coarser grains re-aggregate the "
        "finer (ReusedExchange) — grain sizes bound the reduce side."
    ),
    "events_funnel": (
        "stage flags are per-user aggregates on one exchange; funnel "
        "count is |stages|-sized."
    ),
    "events_transition_matrix": (
        "one user-window pass then a |types|^2-bounded aggregate."
    ),
    "dq_orphan_audit": (
        "five anti-joins; dim keys broadcast, fact-fact shuffled once."
    ),
    "dedup_exact": (
        "fingerprint groupBy on a short hash key; reduce side is "
        "|distinct docs|."
    ),
    "dedup_ngram_jaccard": (
        "exact prefix-filtered all-pairs similarity join (SSJoin/PPJoin "
        "prefix + size filters, r7; + the PPJoin positional filter, "
        "r8) — the plain inverted index's candidate term Sigma df^2 "
        "measured 163x growth at 30x; prefix candidates ride "
        "rare-shingle df and the integer size filter "
        "(t|A| <= |B| <= |A|/t) prunes cross-length pairs. r8 stage "
        "split (probe_ppjoin_positional, sf3.0): candidates 12s, "
        "verification ~24s of ~37s — verification dominates; the "
        "positional filter prunes 10% of candidates (1.36M -> 1.24M) "
        "at wall parity here and wins at 100x."
    ),
    "text_quality_score": (
        "sub-linear; the r5 10x ratio (3.9) was constant-overhead "
        "amortization, not superlinearity."
    ),
    "text_vocab_encode": (
        "sub-linear; same diagnosis — vocab aggregate is "
        "dictionary-sized, not corpus-sized."
    ),
    "embedding_near_dup_blocked": (
        "auto-scaled LSH geometry (r7): band width derives from corpus "
        "size (bits=11 at sf3.0 vs the old fixed 8 — measured 17.55M "
        "-> 8.65M candidate join rows, 2.03x), cutting the r6 "
        "fixed-geometry 21x curve. r8 (VERDICT r7 #3) bounds the two "
        "remaining density-driven terms, both mirrored in the oracle: "
        "candidates — correlated vectors collide at any width "
        "(measured 8.65M -> 73.6M join rows = 8.5x for 3.33x more "
        "vectors, max bucket 147 -> 438), so bucket members rank by "
        "vec_id and pair only with their next 16 (O(N*bands*W) under "
        "any skew); output — qualifying pairs grew 552x at 30x, so "
        "each vector keeps its top-8 strongest matches (O(N*K))."
    ),
    "dedup_components": (
        "pair generation now uses the exact prefix+size-filtered "
        "similarity join (jaccard_prefix_pairs, r7) — candidate volume "
        "rides rare-shingle df instead of the corpus-wide Sigma df^2 "
        "(measured 163x growth at 30x for the old inverted index); "
        "closure rounds stay O(log n). Was 15.6x / 93s in r6, now "
        "~41s at sf3.0 with sf1.0 at parity."
    ),
    "dedup_minhash_lsh": (
        "decisively sub-linear — banded candidates + rows-based exact "
        "verify hold their shape; the flagship dedup is scale-proven. "
        "(Its sf1.0 column shows +-50% run-to-run GC/page-cache "
        "variance on this host; the 30x ratio is the trustworthy "
        "signal.)"
    ),
    "text_boilerplate_chunks": (
        "sub-linear; chunk-frequency aggregate is vocabulary-bounded "
        "and the join-back stays AQE-adaptive."
    ),
    "text_bigram_surprisal": (
        "sub-linear; bigram/context frequency tables are "
        "vocabulary-bounded."
    ),
    "graph_pagerank_bipartite": (
        "per-iteration dst-aggregate shuffle scales with edges; the "
        "fixed 3-iteration loop keeps the total bounded. Sub-linear "
        "against the 30x bound. r8 combiner probe (VERDICT r7 #7, "
        "scripts/probe_pagerank_combiner.py): the map-side combine "
        "ALREADY plans — partial HashAggregate(partial_sum) precedes "
        "the dst exchange in every iteration — and the narrower "
        "pre-divided (src,dst,frac) cache variant measured 0.95x "
        "(sf1.0 warm min 14.5s current vs 15.2s prediv, identical "
        "results): rejected, plan as written kept."
    ),
    "stream_incremental_dedup": (
        "per-batch cost is O(|batch| x bands) + bucket joins, "
        "independent of corpus size except bucket occupancy — the "
        "docstring claim, measured."
    ),
    "ann_cosine_topk": (
        "linear in the corpus at a fixed query set, as brute force "
        "should be."
    ),
    "knn_label_vote": (
        "rides the same brute-force kernel; vote rollup is "
        "|queries|-sized."
    ),
    "pack_token_budget_batches": (
        "quantile-bucketed prefix sum; the only growing stage is the "
        "per-bucket local cumsum."
    ),
    "embedding_near_dup_stats": (
        "the histogram mode of the bounded near-dup op: shares the "
        "bounded-candidate subplan, then label-keyed integer "
        "aggregates — output |labels| rows at any density."
    ),
    "dq_column_profile": (
        "one scan, one Expand-width shuffle for the multi-column "
        "exact distincts; reduce side is |columns|-bounded."
    ),
    "text_bm25_topk": (
        "one token explode feeds doc-lengths and query-term tf; df / "
        "(N, avgdl) are broadcast 1-row aggregates, scoring is "
        "codegen, top-15 is TakeOrderedAndProject. sf0.1->sf1.0 was "
        "x1.09 (pure overhead amortization), so the 30x ratio is "
        "~(30x tokens) x (half-core session) over a ~1.5s constant — "
        "tokens-linear."
    ),
    "dedup_overlap_pairs": (
        "direct inverted-index count (Sigma C(df,2) join rows + one "
        "pair-keyed aggregate — the prefix-filtered plan measured "
        "degenerate for absolute thresholds and OOMed at sf1.0, see "
        "operators/dedup.py:overlap_pairs), r9-bounded by df_cap=64: "
        "shingles shared by more than 64 documents drop before the "
        "self-join (a count window on the join's own element key — no "
        "extra exchange). Work term MEASURED (DuckDB count of Sigma "
        "C(df,2)): sf0.1 1.27M pairs (no shingle exceeds the cap), "
        "sf3.0 capped 32.2M vs uncapped 224.4M — the cap removes 86% "
        "of the join work and capped growth is 25.5x at 30x data, "
        "sub-linear per unit; the wall ratio above that is the "
        "half-core sf3.0 session (local[16] vs local[32]) over a "
        "1.7s constant-heavy base. The r8 uncapped curve (36.97x, "
        "the table's worst, driven by the 177x uncapped pair growth) "
        "is closed."
    ),
    "link_fuzzy_part_names": (
        "block joins on name tokens over the DISTINCT p_name table, "
        "which is ~capped by the TPC-H name vocabulary — per-block "
        "fan-out, not corpus size, is the knob; Levenshtein runs on "
        "blocked candidates only."
    ),
    "kmeans_embedding_clusters": (
        "fixed 3 Lloyd iterations: map-only assignment with k*d "
        "centroid literals + one k-keyed shuffle of "
        "|partitions|*k partial rows per iteration; driver collects "
        "<= k rows of 64 decimal sums per iteration (bounded-aggregate "
        "law). Growth is the per-iteration scan — data-linear."
    ),
    "contamination_check": (
        "one shingle build shared by both split projections, an "
        "inverted-index equality join between the test (10%) and "
        "train (80%) slices — never test x train pairs — then two "
        "bounded aggregates; join fan-out rides shared-shingle df "
        "like the jaccard join's candidate stage."
    ),
    "text_decontaminate_filter": (
        "the filter half of the check: same shingle join and >= 3 "
        "pair aggregate, then LEFT ANTI join of the train docs "
        "against the contaminated-id set (small by construction, "
        "broadcast at scale) — the op a pipeline actually runs "
        "before export."
    ),
    "text_dsir_weights": (
        "bigram explode is map-only; ONE (doc_id, f) shuffle of "
        "occurrence rows; the raw/target models re-aggregate into "
        "<= 4096 hashed-bucket rows so the log-ratio table is "
        "broadcast BY CONSTRUCTION (plan-pinned: the scoring join "
        "must be a BroadcastHashJoin) — growth is the explode + one "
        "shuffle, data-linear."
    ),
    "text_shingle_novelty": (
        "distinct (doc, shingle) pairs, a shingle-keyed MIN(doc_id) "
        "aggregate, and the merge join back on the same shingle key "
        "— nothing pairwise, so novelty is quadratic-proof at any "
        "passage multiplicity; all three stages linear in shingle "
        "rows."
    ),
    "dedup_containment_pairs": (
        "shares the capped overlap join's front half (df_cap=64 "
        "bounds join work to 32x the element rows) plus two "
        "equi-joins of per-doc totals against the PRUNED pair set "
        "(output-sized, never corpus x corpus) — same linear work "
        "term as the capped overlap row, plus a |docs|-row totals "
        "aggregate."
    ),
    "join_range_parts_in_price_band": (
        "value-aggregated band join: both sides reduce to their "
        "bounded value domains first (acctbal histogram x distinct "
        "prices), the band join runs between the two bounded tables "
        "(integer-cent buckets, probe explodes to bucket +/-1, exact "
        "band residual), and per-price counts broadcast back "
        "map-only — the pair-level alternative measured 66x at 30x "
        "and was rejected."
    ),
    "dedup_substring_spans": (
        "rolling W-token windows are map-only (zip-slice + "
        "posexplode); ONE groupBy(window-fingerprint) for the "
        "distinct-doc count; the join-back is window-keyed linear "
        "and run-merging (pos - row_number) is a per-doc window "
        "over matched positions only — no pairwise joins anywhere."
    ),
    "text_contamination_fraction": (
        "per-doc overlap fraction vs the test-set shingle UNION: two "
        "distinct-shingle aggregates, one shingle-equi semi join "
        "(merge-hinted), doc-keyed totals — all corpus-linear; the "
        "test union is sublinear (distinct shingles of a fixed-rate "
        "split)."
    ),
    "text_bpe_encode_docs": (
        "corpus encoding under the learned tokenizer: the replace "
        "chain runs over the VOCABULARY only (learn's encoded vocab "
        "is reused), the corpus side is one word-equi join plus a "
        "doc-keyed aggregate — the learn loop's per-merge cost is "
        "corpus-invariant (bpe_merge_axis), so growth here is the "
        "vocab aggregate + the join, both corpus-linear."
    ),
    "text_remove_duplicate_spans": (
        "span application: map-only token posexplode, ONE doc-keyed "
        "sort-merge anti join (merge-hinted; spans per doc are few), "
        "and an order-preserving rebuild whose groupBy reuses the "
        "join partitioning — everything corpus-linear; clean_text "
        "reconstruction adds a rows-linear string-build term."
    ),
    "multimodal_image_decode": (
        "encode -> ship binary -> spec-correct stdlib PNG parse is "
        "a per-row Arrow pipeline with NO Exchange (plan-pinned); "
        "growth is the per-row zlib+filter work, rows-linear."
    ),
    "text_ngram_coverage_stats": (
        "per-doc repetition rules: n-gram windows are map-only "
        "zip-slices, the interval-union coverage is one lead() "
        "window per doc over matched positions, and the rollup is "
        "a bounded per-doc aggregate — nothing crosses documents."
    ),
    "text_pii_scrub": (
        "regex redaction is a map-only projection (JVM "
        "regexp_replace chain, no Python); the gate's byte-exact "
        "scrubbed text rides the same scan — rows-linear by "
        "construction."
    ),
    "multimodal_video_decode": (
        "encode -> ship binary -> spec-correct Y4M parse with "
        "every-k-th-frame luma sampling is a per-row Arrow pipeline "
        "with NO Exchange (plan-pinned); growth is the per-row "
        "plane-walk work, rows-linear."
    ),
    "text_bpe_merges": (
        "merge learning is vocabulary-sized, not corpus-sized: ONE "
        "corpus aggregate builds the capped (word, count) vocab, "
        "then each of the fixed n_merges rounds runs a vocab-sized "
        "JVM pair count + a 1-row argmax collect — corpus growth "
        "only touches the first aggregate, so the curve flattens "
        "toward the per-merge constant."
    ),
    "text_bpe_token_counts": (
        "the distributed rewrite check: the learned merge table "
        "(<= n_merges rows) applies as a codegen literal-replace "
        "chain over the vocabulary, then one token explode + "
        "groupBy — growth is the corpus aggregate plus a "
        "vocab-sized rewrite, data-linear."
    ),
    "ann_pq_topk": (
        "codebook training reads a FIXED 2048-vector sample "
        "(constant at any corpus size, the FAISS convention); "
        "encode is map-only (m bytes/vector, no shuffle, "
        "plan-pinned); the ADC scan reads the CODES table — m table "
        "lookups per candidate — emitting per-batch partial "
        "top-refine, and the exact-cosine refine joins only "
        "refine x |Q| rows. Growth is encode + the codes scan, "
        "rows-linear at fixed |Q|."
    ),
    "ann_ivfpq_topk": (
        "the FAISS composition: coarse cells route the scan "
        "(isin(probed cells) — partition pruning once the codes "
        "table is written partitionBy(cell)), residual PQ codes "
        "shrink what the scan reads to m bytes/vector, both "
        "quantizers train on the fixed 2048-vector sample. Growth "
        "is cell assignment + encode (map-only) plus the probed "
        "fraction of the codes scan."
    ),
    "stream_decontaminate_bloom": (
        "streaming/batch parity twin: the bitmap builds once on the "
        "static side, each micro-batch probes map-only in "
        "foreachBatch and overwrites its own _mb_id partition — "
        "growth is the batch query's probe term over the stream "
        "slice plus fixed checkpoint overhead."
    ),
    "text_decontaminate_bloom": (
        "the no-shuffle decontamination path: test shingles build a "
        "2^20-bit filter in one map-only pass (driver ORs <= "
        "|partitions| 128 KiB partial bitmaps), the bitmap rides in "
        "task closures, the train side probes MAP-ONLY, and the only "
        "shuffle is the distinct on HIT rows (contamination-sized). "
        "Growth is the two linear shingle scans."
    ),
    "dag_pipeline_clean_pack": (
        "six fused stages: normalize (map-only), exact dedup (ONE "
        "corpus shuffle keyed by the md5 content hash + ranking "
        "window), per-row quality gate, the decontamination shingle "
        "equi join (merge-hinted, the filter query's plan) with a "
        "broadcast anti join back, and the two-phase prefix-sum pack "
        "— growth tracks the decontamination stage, corpus-linear."
    ),
    "multimodal_resize_native": (
        "encode -> CRC-checked decode -> integer-exact NN downsample "
        "-> stdlib re-encode -> re-parse is a per-row Arrow pipeline "
        "with NO Exchange; growth is per-row zlib+filter work, "
        "rows-linear (the image-decode row's shape plus the encode "
        "side)."
    ),
    "stream_image_decode": (
        "the codec audit under the streaming runtime: per micro-batch "
        "the same per-row Arrow synth+parse as the batch twin, plus "
        "the foreachBatch exactly-once parquet commit — growth is "
        "rows-linear decode work; sink-commit overhead amortizes as "
        "batches grow (the stream_decontaminate_bloom shape)."
    ),
}

SF10_SESSION = (
    "local[16] @ 4g heap, 640 shuffle partitions — per-PARTITION data "
    "parity with the sf1.0 local[32]@2g/64-partition session (10x "
    "data, 10x partitions), per-task heap 4x; wall-times comparable "
    "within the column only"
)

SF10_DIAGNOSES_RAW = {
    "dedup_minhash_lsh": (
        "banded candidates + row-based verify at two decades above the "
        "bench scale; the shuffle is O(N*bands) and per-bucket joins "
        "stay small — the 100 TB claim, measured at 100x."
    ),
    "stream_incremental_dedup": (
        "per-batch banding + bucket joins against a 100x corpus band "
        "index; exactly-once per-batch commit cost amortizes as "
        "batches grow."
    ),
    "dedup_ngram_jaccard": (
        "the exact prefix+size-filtered similarity join at 100x, "
        "attributed by the r8 stage split (probe_ppjoin_positional): "
        "candidates 44.6s / verification ~104s of 148s — verification "
        "dominates, and BOTH stages grow linearly (sf3->sf10 = 3.33x "
        "data: candidates 1.24M -> 4.13M = 3.3x, verified pairs 7,680 "
        "-> 25,600 = 3.33x). The headline ratio over sf1.0 is "
        "inflated ~2x by the half-core sf10 session (local[16] vs "
        "local[32]); per core-unit-of-data the plan is near-linear. "
        "r8 adds the PPJoin positional filter (max overlap bound per "
        "matched prefix element, integer-exact): 10% fewer "
        "candidates, measured 148.2s vs 162.4s without it at 100x."
    ),
    "dedup_components": (
        "exact pair graph + Large-Star/Small-Star closure at 100x; "
        "closure rounds stay O(log n) and the r7 candidate bound "
        "keeps edge input linear-ish in the corpus."
    ),
    "graph_pagerank_bipartite": (
        "iterative kernel at 100x: one dst-keyed shuffle per "
        "iteration over the edge set, static sides persisted — the "
        "per-iteration cost scales with edges, the iteration count "
        "is fixed. The r8 combiner probe confirmed the map-side "
        "partial aggregate is already in the per-iteration plan and "
        "a narrower cached edge row measured 0.95x: no lever left "
        "short of fewer iterations."
    ),
    "embedding_near_dup_blocked": (
        "auto-scaled LSH geometry + the r8 bounded-candidate bucket "
        "window (O(N*bands*W) join rows under any density skew — "
        "uncapped, candidates measured 8.5x for 3.33x more vectors "
        "and the sf10 wall was 156.3s; with the window it is 28.0s) "
        "+ the r8 per-vector top-K output cap (O(N*K) result). The "
        "r9 stage split (scripts/probe_neardup_stages.py, "
        "NEARDUP_STAGES_r09.json — run on the production frames via "
        "_near_dup_frames) answers VERDICT r8 #4 with numbers: at "
        "sf10 the candidate count is 12.28M = 123 per vector, "
        "within 4% of the 8x16=128 design budget (the window bound "
        "HOLDS at 100x), qualifying output is 95,248 pairs (well "
        "under the N*K cap), and the stage shares are signatures "
        "~4%, candidate join ~10%, verify joins+cosine ~86%, top-K "
        "~0 — the wall is the verification of the BOUNDED candidate "
        "set (two id-keyed merge joins shipping 12.3M pairs against "
        "the vector table on 16 cores). The 21.39 ratio is that "
        "linear verify term x100 over a 1.3s constant-heavy sf0.1 "
        "base on half the cores — per core-unit-of-data ~0.11x, "
        "the most sub-linear sf10 row; no super-linear stage exists. "
        "Acting on the split, r9 precomputes each vector's norm once "
        "in the projection instead of twice per candidate pair "
        "(bit-identical cosines, gate-verified): interleaved ABAB at "
        "sf3.0 measured every pair 40-52% faster, min 16.8 -> 8.0s."
    ),
    "text_bm25_topk": (
        "the second-decade datapoint VERDICT r8 #6 asked for: one "
        "token explode feeds doc-lengths and query-term tf, df and "
        "(N, avgdl) are broadcast 1-row aggregates, scoring is "
        "codegen, top-15 is TakeOrderedAndProject — the only term "
        "that grows is the tokens-linear explode+aggregate pass, so "
        "the 100x ratio over a ~1.5s constant-dominated sf0.1 base "
        "stays far below the 100x data factor."
    ),
    "dedup_overlap_pairs": (
        "first capped-overlap 100x point (df_cap=64 contract): the "
        "38x ratio is the half-core session over a 1.7s base — the "
        "join work term itself is DuckDB-counted sub-linear per "
        "unit of data (the cap bounds join rows to 32x element "
        "rows at any scale)."
    ),
    "dedup_semantic_clusters": (
        "SemDeDup's clean sf10 point (r11, both flanks green, "
        "replacing the dirty-marked 82.1s bound): the persisted "
        "Lloyd loop is k-key shuffles + <=k collects, the within-"
        "cluster window partitions on (cid, id-bucket) — never the "
        "bare k-valued cid — and candidates are O(N*W); at-trend "
        "with its 30x 5.01."
    ),
    "multimodal_image_decode": (
        "the stdlib-PNG codec round-trip at 100x: per-row "
        "encode+CRC-verified parse in Arrow kernels, NO Exchange "
        "(plan-pinned) — rows-linear zlib+filter work."
    ),
    "dedup_substring_spans": (
        "r11 clean restamp clearing the earlier dirty-marked 33.5s "
        "upper bound (both flanks green this time): all stages are "
        "window-fingerprint aggregates and a window-keyed linear "
        "join-back — nothing pairwise — so the 100x ratio over a "
        "3.6s sf0.1 base on half the cores is the rolling-window "
        "explode term, data-linear."
    ),
    "multimodal_video_decode": (
        "per-row Y4M parse with every-k-th-frame sampling, NO "
        "Exchange (plan-pinned): the sf10 wall is the Arrow codec "
        "kernel over 100x payload rows on half the cores — "
        "per core-unit-of-data sub-linear, no shuffle term exists."
    ),
    "ann_pq_topk": (
        "trainer reads the FIXED 2048-vector sample (constant), "
        "encode+ADC scan the 200k-vector codes table map-only, the "
        "refine join ships refine x |Q| rows: the 100x ratio is "
        "the codes-scan term over a 2.2s constant-heavy base — "
        "the memory-side design goal (m bytes/vector) measured."
    ),
    "ann_ivfpq_topk": (
        "coarse cells cut the ADC scan to the probed fraction and "
        "residual codes keep it m bytes/vector; both quantizers "
        "train on the fixed sample. The 100x ratio tracks the "
        "probed-cells scan + encode, both map-only."
    ),
    "text_decontaminate_bloom": (
        "the no-shuffle decontamination path at 100x: two linear "
        "shingle scans (filter build + map-only probe against the "
        "closure bitmap) and one contamination-sized distinct; the "
        "ratio over a 1.4s constant-dominated sf0.1 base on half "
        "the cores is the scan term — the exact pass's "
        "inverted-index join is gone entirely."
    ),
    "q1_pricing_summary": (
        "the relational flagship's first 100x point: pushdown-pruned "
        "scan, map-side partial DECIMAL aggregation, one 8-key "
        "shuffle — the wall is the codegen scan+aggregate over 60M "
        "lineitem rows on half the cores, data-linear."
    ),
    "join_range_parts_in_price_band": (
        "the r10-verdict fix measured at 100x: both sides aggregate "
        "to their BOUNDED value domains before the band join, so "
        "the wall is constant-dominated (0.66s at 100x data — "
        "sub-second because the value-domain tables barely grow); "
        "the pair-level alternative this replaced measured 66x at "
        "30x and would be minutes here."
    ),
    "events_anomaly_mad": (
        "the r9 scale-killer rewrite at 100x: one persisted "
        "projection scan, two grouped partial-merge medians "
        "broadcast back, no Window operator — 2.3s for 10M events, "
        "the grouped-aggregate term."
    ),
    "multimodal_audio_decode": (
        "completes the codec trio at sf10: per-row stdlib WAV "
        "encode+parse in Arrow kernels, NO Exchange — 1.9s for 100x "
        "payload rows, the most sub-linear codec row."
    ),
    "text_bpe_merges": (
        "merge learning at 100x: the corpus term is ONE vocabulary "
        "aggregate; the per-merge pair counts stay vocab-sized, so "
        "100x data costs 2x the sf0.1 wall — the flattest iterative "
        "row in the table."
    ),
    "text_bpe_token_counts": (
        "the distributed rewrite check at 100x: corpus vocabulary "
        "aggregate + vocab-sized replace chain + one token-key "
        "shuffle; same flat shape as the merge row."
    ),
    "text_pii_scrub": (
        "map-only JVM regexp_replace chain at 100x: 3.9s for 500k "
        "documents on half the cores — rows-linear, no shuffle "
        "term exists."
    ),
    "text_ngram_coverage_stats": (
        "the heaviest quality filter at 100x: n-gram windows are "
        "map-only zip-slices but the interval-union coverage runs "
        "one lead() window PER DOC over matched positions — the "
        "27.5s wall is that per-doc window term, linear in matched "
        "positions and embarrassingly parallel across docs (the "
        "partition key is doc_id, never a low-cardinality key)."
    ),
    "q5_local_supplier_volume": (
        "broadcast-dim joins at 100x: every dimension side stays a "
        "BroadcastHashJoin (plan-pinned), so the wall is the fact "
        "scan + one group-key shuffle — data-linear."
    ),
    "q10_returned_items": (
        "same broadcast-dim shape as q5 with the returnflag filter "
        "pushed to the scan; the 100x wall is scan + one customer-"
        "key aggregate."
    ),
    "window_topk_orders_per_customer": (
        "the window-family 100x point: one customer-key shuffle "
        "feeds the ranking window; 1.8s for 15M orders — the "
        "per-key sort is bounded by group size, never global."
    ),
    "events_sessionization": (
        "sessionization at 100x: one user_id shuffle + lag/running-"
        "sum windows; 2.2s for 10M events, the single-shuffle "
        "design measured."
    ),
    "dedup_exact": (
        "the simplest dedup at 100x: fingerprint groupBy with "
        "map-side partials — 0.8s for 500k docs, constant-"
        "dominated."
    ),
    "text_quality_score": (
        "the HOF quality filter at 100x: single-pass map-only "
        "column expressions (the measured IN-list-lambda-beats-"
        "explode decision) — 1.2s, rows-linear with no shuffle."
    ),
    "pack_token_budget_batches": (
        "packing at 100x: quantile prefix-sum bucketing — one "
        "bounded percentile aggregate + a bucket-key window; 3.7s "
        "for 500k docs on the r15 host epoch (shuffle probe 2.6 vs "
        "the 1.6 the r14 stamp's 2.4s wall rode; warm same-session "
        "walls 2.8-3.0 — host drift, not the r15 plan-adaptive "
        "offsets change, whose default path keeps the overlapped "
        "broadcast-join plan byte-identical)."
    ),
    "knn_label_vote": (
        "bounded-query kNN vote at 100x: the Arrow brute-force scan "
        "against the fixed query set + one neighbor aggregate; 3.1s "
        "for 200k vectors, scan-linear."
    ),
    "text_decontaminate_filter": (
        "the EXACT pass at 100x — the row that found a real bug: "
        "the first attempt OOM'd the 4g driver because Spark "
        "broadcast the test shingle slice on a garbage post-"
        "aggregate estimate; with both join sides merge-hinted "
        "(the repo-wide law) it runs 16.1s. At this corpus-to-"
        "benchmark ratio the exact and bloom passes cost the same "
        "(both split slices scale together here); bloom's win is "
        "the production shape where train >> test and the shingle "
        "shuffle dominates."
    ),
    "contamination_check": (
        "the audit half at 100x: same merge-hinted shingle join, "
        "two bounded aggregates — 14.6s, join fan-out riding "
        "shared-shingle df as designed."
    ),
    "text_dsir_weights": (
        "DSIR at 100x: one scan + one explode + one (doc, f) "
        "shuffle + the broadcast <=4096-row scoring join "
        "(ReusedExchange pinned) — 13.4s for 500k docs."
    ),
    "text_bigram_surprisal": (
        "bigram-LM scoring at 100x: the distinct-bigram rescore "
        "reuses the frequency exchange; 7.8s, tokens-linear."
    ),
    "text_shingle_novelty": (
        "novelty at 100x: shingle-keyed MIN(doc_id) + merge "
        "join-back, nothing pairwise — 15.4s, shingle-rows-linear "
        "at any passage multiplicity."
    ),
    "dq_column_profile": (
        "the one-pass profile at 100x: a single scan feeding "
        "per-column bounded reduces — 15.6s for the widest-scan "
        "row in the dq family."
    ),
    "stream_decontaminate_bloom": (
        "the streaming twin at 100x: 17.1s vs the batch pass's "
        "16.5s — foreachBatch + checkpoint overhead is ~4% once "
        "the probe term dominates; per-batch work is independent "
        "of history size."
    ),
    "kmeans_embedding_clusters": (
        "the iterative Lloyd kernel at 100x: 5 fixed iterations x "
        "(one k-key shuffle of map-side decimal partials + a <=k-"
        "row collect) over persisted data — 28.9s, per-iteration "
        "cost data-linear and the iteration count a quality knob, "
        "not a scale knob."
    ),
    "embedding_pca_project": (
        "PCA at 100x: 0.75s — the bounded covariance collect plus "
        "one map-only projection pass; the flattest row in the "
        "table, constant-dominated at every measured scale."
    ),
    "embedding_near_dup_stats": (
        "the histogram/mode layer over the blocked near-dup front "
        "half: committed on a second attempt after the protocol "
        "refused a faster-min window whose post control read 79s "
        "(2.1x the band) — the clean-flanked 45.8s stands as the "
        "conservative number; the work term is the bounded-candidate "
        "verify plus output-sized aggregates."
    ),
    "q3_shipping_priority": (
        "broadcast-dim join + date-filtered scan + TakeOrdered "
        "top-10 at 100x — scan-linear."
    ),
    "q6_revenue_forecast": (
        "the pure pushdown row at 100x: filters reach the scan, one "
        "1-row aggregate — the cheapest possible shape."
    ),
    "agg_rollup_flag_status": (
        "ROLLUP over two low-cardinality keys with map-side decimal "
        "partials at 100x — one bounded shuffle."
    ),
    "embedding_norm_by_label": (
        "per-label norm moments at 100x: one label-key aggregate "
        "over JVM vector expressions — bounded output."
    ),
    "link_fuzzy_part_names": (
        "token-blocked fuzzy linkage at 100x: candidates bounded by "
        "block occupancy, Levenshtein only on the pruned pairs."
    ),
    "events_transition_matrix": (
        "Markov transitions at 100x: one user-key window for lag + "
        "one (from,to) aggregate — bounded output."
    ),
    "dq_lineitem_expectations": (
        "the expectations suite at 100x: one scan feeding bounded "
        "conditional aggregates — no shuffle growth."
    ),
    "sample_global_shuffle": (
        "content-hash global shuffle at 100x: per-shard row_number, "
        "no global sort — the documented sampling shape."
    ),
    "events_multilevel_rollup": (
        "minute->hour->day re-aggregation at 100x: the fact scan "
        "happens once and coarser grains fold partial decimal sums "
        "(ReusedExchange pinned)."
    ),
    "events_ewma_value": (
        "EWMA at 100x: 8 codegen lag taps in one user-key window — "
        "single shuffle, rows-linear."
    ),
    "events_funnel": (
        "the funnel at 100x: per-user min-timestamps per stage + a "
        "broadcast 1-row corpus total — bounded output."
    ),
    "events_asof_latest_order": (
        "as-of join at 100x: union + one window pass, no per-row "
        "subqueries — the single-shuffle as-of shape."
    ),
    "ann_cosine_topk": (
        "the exact JVM brute-force baseline at 100x: broadcast "
        "query set, one corpus scan, partial top-k before the "
        "ranking window."
    ),
    "text_vocab_encode": (
        "vocab encoding at 100x: one token aggregate builds the "
        "broadcast vocabulary, the rewrite is map-only."
    ),
    "events_gapfill_hourly": (
        "gap-fill at 100x: the hour grid comes from broadcast "
        "bounds, one merge join against the observed hours."
    ),
    "dq_orphan_audit": (
        "FK orphan audit at 100x: two anti joins on the key "
        "columns, both equi-keyed — scan-linear."
    ),
    "text_boilerplate_chunks": (
        "boilerplate at 100x: vocabulary-bounded chunk frequencies "
        "+ one join-back — the chunk explode is the linear term."
    ),
    "dedup_containment_pairs": (
        "containment at 100x: shares the df_cap=64 overlap front "
        "half (join work <= 32x element rows) plus totals joins "
        "against the pruned pair set."
    ),
    "dag_pipeline_clean_pack": (
        "the composed pipeline at 100x: wall rides the "
        "decontamination shingle join (same merge-hinted plan the "
        "filter query measured at sf10) plus one content-hash dedup "
        "shuffle and the prefix-sum pack — each stage corpus-linear, "
        "no stage pairwise; the headline ratio is inflated ~2x by "
        "the half-core sf10 session (local[16] vs local[32], the "
        "dedup_ngram_jaccard convention) — per core-unit-of-data "
        "the plan is well inside the near-linear band."
    ),
}


def _make_spark(heap: str, cores: int = 0, shuffle: int = 0):
    """One measured session config per heap size.

    Measured heap decision (r5, reconciling bench.py's freeze
    warning): the default ~1g heap cannot hold 32 concurrent
    tasks' unmanaged buffers at sf1.0 (dedup_minhash_lsh dies on
    task-level Java heap space; r4 judge reproduced). bench.py's
    "do NOT raise driver memory" note is about 8-16g heaps, which
    intermittently freeze this host's JVM for minutes — measured
    here, 2g is stable AND faster than the judge's 8g datapoint
    (24.2s cold / 14.8s warm vs 88.8s at 8g: smaller old-gen, no
    multi-second full GCs). bench.py itself stays on the default
    heap; only this scale harness needs the bump. The sf3.0 section
    runs at 4g: 30x data OOMs a 2g heap inside dedup_components'
    checkpoint round (measured r6) and a dead SparkContext poisons
    every later measurement.

    Local-mode over-commit relief (measured, r5): the dedup sort
    spills died allocating the spill READER's own 2x1MB buffers —
    unmanaged memory — while the managed side held its full 0.6
    fraction of a 32-task heap. Halving the managed fraction
    leaves headroom for per-spill-file buffers; with it,
    dedup_ngram_jaccard (26.5s) and dedup_components (15.4s) pass
    sf1.0 in 2g where even 8g previously took 88.8/46.8s.

    The sf3.0 section runs at 4g on HALF the cores (local[16], 64
    shuffle partitions): 30x data OOMed the 32-task session inside
    dedup_components' pair join at both 2g and 4g (measured r6) — the
    lever that works in local mode is per-concurrent-task memory, not
    heap size (8g+ heaps freeze this host, see above). 16 tasks x 4g
    gives each task ~4x the sf1.0 budget, matching the ~3x data each
    of its 64 partitions now carries; a dead SparkContext must also
    not poison later rows, so each sf3 query gets one fresh-JVM retry
    (_reset_pyspark).
    """
    from pyspark.sql import SparkSession

    from mldag_spark.session import recommended_session_confs

    cpus = int(cores or os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("mldag_spark-scaling")
        .config(map=recommended_session_confs())
        .config("spark.driver.memory", heap)
        .config("spark.memory.fraction", "0.5")
        .config("spark.shuffle.file.buffer", "16k")
        .config("spark.sql.shuffle.partitions", str(shuffle or cpus * 2))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _reset_pyspark() -> None:
    """Clear PySpark's cached gateway so getOrCreate launches a FRESH
    JVM. After an executor OOM kills local-mode's single JVM, the py4j
    gateway is dead but still cached in SparkContext._gateway/_jvm —
    a plain builder.getOrCreate() then dies iterating the old conf
    (Py4JError in getAll) instead of recovering (measured r6)."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    try:
        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
    except Exception:
        pass
    try:
        if SparkContext._gateway is not None:
            SparkContext._gateway.shutdown()
    except Exception:
        pass
    SparkContext._gateway = None
    SparkContext._jvm = None
    SparkContext._active_spark_context = None
    SparkSession._instantiatedSession = None
    SparkSession._activeSession = None


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--repeats", type=int, default=2)
    ap.add_argument("--out", default=os.path.join(REPO, "SCALING.json"))
    ap.add_argument(
        "--only",
        default="",
        help="comma-separated query subset; rows merge into an "
        "existing SCALING.json instead of replacing it",
    )
    a = ap.parse_args()

    if not os.path.isdir(SF_BIG):
        print(f"missing {SF_BIG}; run scripts/gen_scale.py first", file=sys.stderr)
        return 1

    only = {n for n in a.only.split(",") if n}
    queries_main = tuple(n for n in QUERIES if not only or n in only)
    queries_sf3 = tuple(n for n in SF3_QUERIES if not only or n in only)

    spark = _make_spark("2g")
    cores_now = 32

    import __spark_entry__ as entrymod
    from mldag_spark.materialize import scope

    qs = entrymod.queries()

    # the sibling sf0.001 tables, as in bench.py's warm-up
    warm_dir = os.path.join(os.path.dirname(SF_SMALL), "sf0.001")

    def warmup(names):
        for name in names:
            try:
                with scope():
                    qs[name](spark, warm_dir).write.mode("overwrite").format("noop").save()
            except Exception:
                pass

    # Probe gate: mid-run steal bursts corrupt whole rows, so before
    # timing each query run bench.py's codegen probe; if it reads above
    # bench.PROBE_FACTOR x the core-scaled clean anchor, sleep and
    # re-probe up to ~180s. The final reading is stamped on the row as
    # probe_sec so every SCALING number carries its own host-condition
    # evidence.
    from bench import PROBE_FACTOR, codegen_probe, probe_anchor

    last_probe = [0.0]

    def _probe_gate() -> float:
        limit = probe_anchor(cores_now) * PROBE_FACTOR
        waited = 0.0
        while True:
            p = codegen_probe(spark)
            if p <= limit or waited >= 180.0:
                last_probe[0] = p
                return p
            time.sleep(15.0)
            waited += 15.0

    def timed(name: str, sf_dir: str) -> float:
        _probe_gate()
        best = float("inf")
        for _ in range(a.repeats):
            # each run's checkpoints and caches are released after its
            # wall is taken (the r10 remeasure lesson: leftover blocks
            # from an earlier query OOMed a later checkpoint chain)
            with scope():
                t0 = time.time()
                qs[name](spark, sf_dir).write.mode("overwrite").format("noop").save()
                best = min(best, time.time() - t0)
        return round(best, 3)

    warmup(queries_main)

    result: dict[str, dict] = {}
    for name in queries_main:
        try:
            t_small = timed(name, SF_SMALL)
            p_small = last_probe[0]
            t_big = timed(name, SF_BIG)
            ratio = round(t_big / t_small, 2) if t_small > 0 else None
            result[name] = {
                "sf0.1_sec": t_small,
                "sf1.0_sec": t_big,
                "ratio": ratio,
                "probe_sf0.1": p_small,
                "probe_sf1.0": last_probe[0],
            }
            print(f"{name:38s} {t_small:7.3f}s -> {t_big:7.3f}s  x{ratio}")
        except Exception as e:
            result[name] = {"error": str(e)[:200]}
            print(f"{name:38s} ERROR {e}", file=sys.stderr)

    def write_out() -> None:
        rows = dict(result)
        if only and os.path.exists(a.out):
            with open(a.out) as f:
                prior = json.load(f).get("queries", {})
            for name, row in rows.items():
                merged = dict(prior.get(name, {}))
                merged.update(row)
                # a fresh success clears a stale failure
                if "sf0.1_sec" in row:
                    merged.pop("error", None)
                if "sf3.0_sec" in row:
                    merged.pop("sf3.0_error", None)
                if "sf10_sec" in row:
                    merged.pop("sf10_error", None)
                prior[name] = merged
            rows = prior
        payload = {
            "data_ratio": 10,
            "near_linear_threshold": 12,
            # ops whose OUTPUT grows super-linearly in the input: the
            # near-linear threshold applies to their quadratic pair
            # bound (100x at 10x data), not to row count. A ratio
            # above 12 here is sub-quadratic, i.e. healthy. Prose
            # blocks live at module level so scripts can re-stamp the
            # JSON from measured rows without re-running.
            "quadratic_output_ops": dict(QUADRATIC_OUTPUT_OPS),
            "sf3.0_session": SF3_SESSION,
            "notes": dict(NOTES),
            # VERDICT r5 #8: one-line diagnoses for the 30x rows. The
            # measured "Nx at 30x data" prefix is generated from the
            # row at write time (ADVICE r6: a hardcoded literal
            # drifted from the re-measured number), so the prose can
            # never disagree with the table.
            "sf3.0_diagnoses": dict(SF3_DIAGNOSES_RAW),
            "sf10_session": SF10_SESSION,
            "sf10_diagnoses_raw": dict(SF10_DIAGNOSES_RAW),
            "repeats": a.repeats,
            "loadavg_1m": round(os.getloadavg()[0], 2),
            "queries": rows,
        }
        # the diagnosis/note literals describe MEASURED rows — prune
        # any whose row lost its datapoint this run, and stamp the
        # measured ratio prefix from the row itself (ADVICE r6), so
        # the prose can never contradict the table it annotates
        payload["sf3.0_diagnoses"] = {
            k: f"{rows[k]['ratio_30x']}x at 30x data: {v}"
            for k, v in payload["sf3.0_diagnoses"].items()
            if "sf3.0_sec" in rows.get(k, {})
        }
        payload["notes"] = {
            k: v for k, v in payload["notes"].items() if k in rows
        }
        payload["sf10_diagnoses"] = {
            k: f"{rows[k]['ratio_100x']}x at 100x data: {v}"
            for k, v in payload.pop("sf10_diagnoses_raw").items()
            if "sf10_sec" in rows.get(k, {})
        }
        # MERGE, don't overwrite: any top-level block this harness does
        # not itself produce (layout_sf1.0 from the retired
        # bench.bench_layout, or future one-off measurements) is
        # carried over verbatim. Two
        # regenerated-artifact data losses in r6 (the layout block, the
        # shard-hash check) were both harnesses overwriting siblings
        # they didn't measure (VERDICT r6 #3).
        if os.path.exists(a.out):
            try:
                with open(a.out) as f:
                    prior_all = json.load(f)
                for key, val in prior_all.items():
                    if key not in payload:
                        payload[key] = val
            except (json.JSONDecodeError, OSError):
                pass
        with open(a.out, "w") as f:
            json.dump(payload, f, indent=1)
        print(f"wrote {a.out}")

    # write the sf0.1/sf1.0 columns NOW: the sf3 section can kill the
    # JVM, and a crash there must not discard the finished rows
    write_out()

    if os.path.isdir(SF_3) and queries_sf3:
        # fresh session with per-task memory scaled for 30x data (see
        # _make_spark); an OOM-killed context must not poison the
        # remaining rows — each query gets one fresh-JVM retry.
        _reset_pyspark()
        spark = _make_spark("4g", cores=16, shuffle=64)
        cores_now = 16
        warmup(queries_sf3)
        for name in queries_sf3:
            row = result.get(name)
            if not row or "sf0.1_sec" not in row:
                continue
            for attempt in (0, 1):
                try:
                    t3 = timed(name, SF_3)
                    row["sf3.0_sec"] = t3
                    row["ratio_30x"] = round(t3 / row["sf0.1_sec"], 2)
                    row["probe_sf3.0"] = last_probe[0]
                    row.pop("sf3.0_error", None)
                    print(f"{name:38s} sf3.0 {t3:7.3f}s  x{row['ratio_30x']} (30x data)")
                    break
                except Exception as e:
                    row["sf3.0_error"] = str(e)[:200]
                    print(f"{name:38s} sf3.0 ERROR {e}", file=sys.stderr)
                    if attempt == 1:
                        break
                    # rebuild the session whether the context died or
                    # the query merely failed: a retry on a fresh JVM
                    # is the only meaningful second attempt here
                    _reset_pyspark()
                    spark = _make_spark("4g", cores=16, shuffle=64)
        cores_now = 16

    write_out()

    queries_sf10 = tuple(n for n in SF10_QUERIES if not only or n in only)
    if os.path.isdir(SF_10) and queries_sf10:
        # 100x stretch (VERDICT r6 #8): 10x the sf1.0 data per the same
        # per-partition budget — shuffle partitions scale with the data
        # (640 = 10 x sf1.0's 64), per-task heap stays at the measured-
        # safe 4g (8g+ freezes this host's JVM).
        _reset_pyspark()
        spark = _make_spark("4g", cores=16, shuffle=640)
        cores_now = 16
        warmup(queries_sf10)
        for name in queries_sf10:
            row = result.get(name)
            if not row or "sf0.1_sec" not in row:
                continue
            for attempt in (0, 1):
                try:
                    t10 = timed(name, SF_10)
                    row["sf10_sec"] = t10
                    row["ratio_100x"] = round(t10 / row["sf0.1_sec"], 2)
                    row["probe_sf10"] = last_probe[0]
                    row.pop("sf10_error", None)
                    print(f"{name:38s} sf10 {t10:8.3f}s  x{row['ratio_100x']} (100x data)")
                    break
                except Exception as e:
                    row["sf10_error"] = str(e)[:200]
                    print(f"{name:38s} sf10 ERROR {e}", file=sys.stderr)
                    if attempt == 1:
                        break
                    _reset_pyspark()
                    spark = _make_spark("4g", cores=16, shuffle=640)
        cores_now = 16
        write_out()

    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
