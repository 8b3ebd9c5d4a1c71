#!/usr/bin/env python
"""Measure per-query scaling curves into SCALING.json.

At sf0.1 most queries are fixed-overhead-bound (0.2-0.8s), so one
scale factor cannot tell a scale-correct plan from a lucky one. This
harness times every query in ``QUERIES`` at sf0.1 and at the generated
sf1.0 (10x rows, ``scripts/gen_scale.py``), then at ``.testdata/sf3.0``
(30x) and, for ``SF10_QUERIES``, ``.testdata/sf10`` (100x) where those
directories exist, and records each wall's ratio to the sf0.1 wall. A
near-linear plan reads <= ~12x at 10x data (10x rows plus a log
factor on sorts).

SCALING.json is the only home of the curve's prose (the session
notes and the per-row diagnoses). A run merges the rows it measured
into the existing file and keeps everything else; each diagnosis's
"Nx at 30x data: " / "Nx at 100x data: " prefix is stamped from its
row, never written by hand (ADVICE r6). To edit the prose, edit the
JSON.

The sf0.1/sf1.0 session runs on ``local[N]``, N from
``SPARK_GRAFT_CPUS`` (default 32, as in bench.py); the sf3.0 and sf10
sessions run on N/2. Every measured column carries its core count
(``cores_sf1.0``) and the probe readings of the gate it passed
(``probe_sf1.0``, ``shuffle_probe_sf1.0``; ``bench.gated_probes``).

Usage: python scripts/bench_scaling.py [--repeats 2] [--only q1,q6]
           [--out SCALING.json]
"""

from __future__ import annotations

import argparse
import copy
import json
import os
import re
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import bench  # noqa: E402  (Spark-free at import)

# Every scale row, measured in this order in each session.
QUERIES = (
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
    # streaming at scale: real stream, checkpoint, cached band index
    "stream_incremental_dedup",
    # iterative graph kernel: per-iteration shuffle scaling
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

# The 100x-data column: the scale flagships, whose curves need a
# second decade to tell amortization from growth.
SF10_QUERIES = (
    "dedup_minhash_lsh",
    "stream_incremental_dedup",
    "dedup_ngram_jaccard",
    "dedup_components",
    "graph_pagerank_bipartite",
    # geometry auto-scaling + the per-vector top-K output cap make
    # this measurable at 100x
    "embedding_near_dup_blocked",
    # BM25's 30x ratio rested on an amortization argument
    "text_bm25_topk",
    # span removal rides the substring-spans shuffle plus a doc-keyed
    # anti join
    "text_remove_duplicate_spans",
    "text_bpe_encode_docs",
    "text_contamination_fraction",
    # the composed pipeline rides the decontamination shingle join,
    # its heaviest stage, like its stage queries
    "dag_pipeline_clean_pack",
)

SF_SMALL = "/root/testdata/sf0.1"
SF_BIG = os.path.join(REPO, ".testdata", "sf1.0")
SF_3 = os.path.join(REPO, ".testdata", "sf3.0")
SF_10 = os.path.join(REPO, ".testdata", "sf10")

# One Spark session per group of columns: (heap, divisor of the host's
# cores, shuffle partitions or 0 for two per core, queries, columns).
# A column is (name, data directory, key of its ratio to sf0.1). 64
# partitions at 30x keep the 32-core sf1.0 session's per-task memory;
# 640 at 100x keep its per-partition data (10x data, 10x partitions).
SESSIONS = (
    ("2g", 1, 0, QUERIES,
     (("sf0.1", SF_SMALL, None), ("sf1.0", SF_BIG, "ratio"))),
    ("4g", 2, 64, QUERIES, (("sf3.0", SF_3, "ratio_30x"),)),
    ("4g", 2, 640, SF10_QUERIES, (("sf10", SF_10, "ratio_100x"),)),
)

# The core count of a column measured before columns carried a
# ``cores_<column>`` stamp: the documented local[32] / local[16].
UNSTAMPED_CORES = {"sf0.1": 32, "sf1.0": 32, "sf3.0": 16, "sf10": 16}

# Diagnosis block -> (its row's ratio key, the data multiple it names).
DIAGNOSES = {
    "sf3.0_diagnoses": ("ratio_30x", 30),
    "sf10_diagnoses": ("ratio_100x", 100),
}
_RATIO_PREFIX = re.compile(r"^\S+x at \d+x data: ")


def merge(prior: dict, rows: dict) -> dict:
    """``prior`` (a loaded SCALING.json) with the measured ``rows``
    merged in; ``prior`` is not modified.

    A row keeps every column it was not re-measured on, and a column
    measured now clears that column's stale ``<column>_error``. Every
    other block is carried over unchanged, except that each diagnosis's
    ratio prefix is re-stamped from its row, and a diagnosis whose row
    has no ratio is dropped."""
    out = copy.deepcopy(prior)
    table = out.setdefault("queries", {})
    for name, row in rows.items():
        merged = table.setdefault(name, {})
        merged.update(row)
        for col in UNSTAMPED_CORES:
            if f"{col}_sec" in row:
                merged.pop(f"{col}_error", None)
    for block, (key, times) in DIAGNOSES.items():
        if block in out:
            out[block] = {
                name: f"{table[name][key]}x at {times}x data: "
                + _RATIO_PREFIX.sub("", text)
                for name, text in out[block].items()
                if key in table.get(name, {})
            }
    return out


def core_changes(prior: dict, rows: dict) -> list[str]:
    """One line per column in ``rows`` that replaces a column of
    ``prior`` measured at another core count."""
    lines = []
    for name, row in rows.items():
        old = prior.get("queries", {}).get(name, {})
        for col, unstamped in UNSTAMPED_CORES.items():
            now, was = row.get(f"cores_{col}"), old.get(f"cores_{col}", unstamped)
            if now is not None and f"{col}_sec" in old and now != was:
                lines.append(f"{name} {col}: {now} cores replace {was}")
    return lines


def _make_spark(heap: str, cores: int, shuffle: int):
    """A fresh session on a fresh JVM, sized for one group of columns.

    Measured heap decisions: the default ~1g heap cannot hold 32
    concurrent tasks' unmanaged buffers at sf1.0 (dedup_minhash_lsh
    died on task-level Java heap space), while 8-16g heaps freeze this
    host's JVM for minutes; 2g is stable and faster than 8g (smaller
    old generation, no multi-second full GCs). The dedup sort spills
    died allocating the spill reader's own buffers, unmanaged memory,
    while the managed side held its full 0.6 fraction, so the managed
    fraction is halved. 30x data OOMed the 32-task session inside
    dedup_components' pair join at both 2g and 4g: the lever that
    works in local mode is per-task memory, so the sf3.0 and sf10
    sessions run half the tasks on 4g."""
    from pyspark.sql import SparkSession

    from mldag_spark.session import recommended_session_confs

    _reset_pyspark()
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("mldag_spark-scaling")
        .config(map=recommended_session_confs())
        .config("spark.driver.memory", heap)
        .config("spark.memory.fraction", "0.5")
        .config("spark.shuffle.file.buffer", "16k")
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _reset_pyspark() -> None:
    """Clear PySpark's cached gateway so getOrCreate launches a FRESH
    JVM. After an executor OOM kills local mode's single JVM, the py4j
    gateway is dead but still cached in SparkContext._gateway/_jvm, and
    a plain builder.getOrCreate() dies iterating the old conf
    (Py4JError in getAll) instead of recovering."""
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
        help="comma-separated query subset (default: every query); "
        "measured rows always merge into the existing --out file",
    )
    a = ap.parse_args()

    if not os.path.isdir(SF_BIG):
        print(f"missing {SF_BIG}; run scripts/gen_scale.py first", file=sys.stderr)
        return 1

    only = {n for n in a.only.split(",") if n}
    prior: dict = {}
    if os.path.exists(a.out):
        with open(a.out) as f:
            prior = json.load(f)
    cpus = bench.resolve_cpus(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    import __spark_entry__ as entrymod
    from mldag_spark.materialize import scope

    qs = entrymod.queries()
    # the sibling sf0.001 tables, as in bench.py's warm-up
    warm_dir = os.path.join(os.path.dirname(SF_SMALL), "sf0.001")

    def timed(spark, name: str, sf_dir: str, gate) -> tuple:
        # mid-run steal bursts corrupt whole rows: wait out a slow
        # probe before timing, and stamp the readings on the column
        codegen, shuffle = bench.gated_probes(spark, *gate)
        best = float("inf")
        for _ in range(a.repeats):
            # each run's checkpoints and caches are released after its
            # wall is taken: leftover blocks from an earlier query once
            # OOMed a later checkpoint chain
            with scope():
                t0 = time.time()
                qs[name](spark, sf_dir).write.mode("overwrite").format("noop").save()
                best = min(best, time.time() - t0)
        return round(best, 3), codegen[-1], shuffle[-1]

    def write() -> None:
        out = merge(prior, result)
        out["repeats"] = a.repeats
        out["loadavg_1m"] = round(os.getloadavg()[0], 2)
        with open(a.out, "w") as f:
            json.dump(out, f, indent=1)
        print(f"wrote {a.out}")

    result: dict[str, dict] = {}
    spark = None
    for i, (heap, divisor, shuffle, names, columns) in enumerate(SESSIONS):
        # later sessions measure only the rows whose sf0.1 wall this
        # run has, so every ratio divides walls of one run
        names = [n for n in names if (not only or n in only)
                 and (i == 0 or "sf0.1_sec" in result.get(n, {}))]
        if not names or not os.path.isdir(columns[0][1]):
            continue
        cores = max(1, cpus // divisor)
        shuffle = shuffle or 2 * cores
        sh_anchor = bench.shuffle_anchor(cores)
        gate = (bench.probe_anchor(cores) * bench.PROBE_FACTOR,
                sh_anchor * bench.SHUFFLE_FACTOR if sh_anchor else None)
        spark = _make_spark(heap, cores, shuffle)
        for name in names:
            try:
                with scope():
                    qs[name](spark, warm_dir).write.mode("overwrite").format("noop").save()
            except Exception:
                pass
        bench.codegen_probe(spark)
        bench.shuffle_probe(spark)

        for name in names:
            row = result.setdefault(name, {})
            # an OOM-killed context must not poison the later rows:
            # each row gets one retry on a fresh JVM
            for attempt in (0, 1):
                new: dict = {}
                try:
                    for col, sf_dir, ratio_key in columns:
                        failed = col
                        sec, probe, sh_probe = timed(spark, name, sf_dir, gate)
                        new.update({f"{col}_sec": sec, f"probe_{col}": probe,
                                    f"shuffle_probe_{col}": sh_probe,
                                    f"cores_{col}": cores})
                        msg = f"{name:38s} {col:5s} {sec:8.3f}s probe {probe}"
                        if ratio_key:
                            base = new.get("sf0.1_sec", row.get("sf0.1_sec"))
                            new[ratio_key] = round(sec / base, 2) if base else None
                            msg += f"  x{new[ratio_key]}"
                        print(msg)
                    row.update(new)
                    for line in core_changes(prior, {name: new}):
                        print(f"cores changed: {line}")
                    break
                except Exception as e:
                    row[f"{failed}_error"] = str(e)[:200]
                    print(f"{name:38s} {failed} ERROR {e}", file=sys.stderr)
                    if attempt == 0:
                        spark = _make_spark(heap, cores, shuffle)
        # write after each session: a later one can kill the JVM, and
        # a crash there must not discard the finished columns
        write()

    if spark is not None:
        spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
