"""Physical-plan regression tests: lock in the scale discipline.

A query can stay correct while silently losing its broadcast hint,
filter pushdown, or column pruning — correctness gates won't notice,
but a 100 TB run will. These tests pin the plan properties the design
depends on (README "Scale design").
"""

from __future__ import annotations

import io
import contextlib

import pytest

from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def registry():
    from mldag_spark.queries import REGISTRY

    return REGISTRY


def test_q1_pushdown_and_pruning(spark, registry):
    plan = _plan(registry["q1_pricing_summary"](spark, SF_DIR))
    # the shipdate filter must reach the parquet scan...
    assert "LessThanOrEqual(l_shipdate" in plan
    # ...and the scan must read only the referenced columns, not all 11
    read = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert read.count(",") <= 7, read
    assert "l_comment" not in plan


def test_dim_joins_broadcast_not_shuffle(spark, registry):
    # q5 joins region/nation/supplier/customer: every dim side must be
    # broadcast; the fact tables must never be re-sorted for a dim join
    plan = _plan(registry["q5_local_supplier_volume"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_partial_aggregation_before_shuffle(spark, registry):
    # map-side combine: a partial_sum/partial-HashAggregate must appear
    # below the exchange for the flagship aggregation
    plan = _plan(registry["q1_pricing_summary"](spark, SF_DIR))
    assert "partial_" in plan or "HashAggregate" in plan
    assert plan.index("HashAggregate") < plan.rindex("Exchange")


def test_no_python_udfs_in_jvm_paths(spark, registry):
    # these operators advertise "no Python in the hot path": their
    # plans must not contain Python evals (Batch/ArrowEvalPython).
    # r16: the full headline set is pinned — it is now also the bench
    # canary set (bench.py CANARY), whose prev-vs-current A/B is only
    # sound for pure-JVM plans (Python workers resolve module
    # functions BY NAME, so a prev-code UDF would silently import the
    # current module on the worker).
    for name in (
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
        "text_boilerplate_chunks",
        "text_bigram_surprisal",
    ):
        plan = _plan(registry[name](spark, SF_DIR))
        assert "EvalPython" not in plan, name


def test_no_cartesian_products_anywhere(spark, registry):
    # scalar-subquery patterns use broadcast 1-row joins, which plan as
    # BroadcastNestedLoopJoin — fine; a CartesianProduct is never fine
    for name in (
        "q11_part_value_concentration",
        "q22_idle_rich_customers",
        "join_range_parts_in_price_band",
        "embedding_near_dup_blocked",
        # r8: the histogram mode shares the subplan but adds its own
        # label-keyed outer joins
        "embedding_near_dup_stats",
        # r7: the funnel's corpus-total join must stay a broadcast
        # 1-row aggregate, never a cartesian
        "text_filter_funnel",
        "dedup_cluster_stats",
        # r8: BM25's (N, avgdl) corpus stats are broadcast 1-row
        # aggregates; the overlap/fuzzy joins are equi-keyed
        "text_bm25_topk",
        "dedup_overlap_pairs",
        "link_fuzzy_part_names",
        # the anti-join decontamination filter: its shingle join and
        # anti join are both equi-keyed
        "text_decontaminate_filter",
        # r12: the overlap-fraction score — shingle semi join and the
        # doc-keyed result join are merge-hinted equi joins
        "text_contamination_fraction",
        # r9: DSIR's totals/log-ratio joins are broadcast 1-row /
        # <=4096-row tables; novelty's first-occurrence join is
        # shingle-equi-keyed; containment's totals joins are
        # id-equi-keyed against the pruned pair set
        "text_dsir_weights",
        "text_shingle_novelty",
        "dedup_containment_pairs",
    ):
        plan = _plan(registry[name](spark, SF_DIR))
        assert "CartesianProduct" not in plan, name


def test_dsir_scoring_join_is_broadcast(spark, registry):
    """text_dsir_weights' scale claim is that the log-ratio table is
    broadcast BY CONSTRUCTION (<= _DSIR_BUCKETS rows regardless of
    corpus size): the per-document scoring join must plan as a
    BroadcastHashJoin, never a shuffled join of the doc-feature rows
    against the model."""
    plan = _plan(registry["text_dsir_weights"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    # the corpus-scale side (doc-feature counts joined to lr) must not
    # sort-merge: a SortMergeJoin would mean the broadcast hint lost
    # and the model table is being shuffled with the corpus
    assert "SortMergeJoin" not in plan


def test_new_text_queries_prune_scans(spark, registry):
    # text_repetition_stats reads only (doc_id, text); corpus_idf reads
    # only text/doc_id — a scan pulling lang/source/n_chars for these
    # 2-column queries would be a pruning regression
    for name, max_cols in (
        ("text_repetition_stats", 2),
        ("corpus_idf_top_terms", 2),
        ("embedding_norm_by_label", 3),
    ):
        plan = _plan(registry[name](spark, SF_DIR))
        for line in plan.splitlines():
            if "ReadSchema" in line:
                assert line.count(",") <= max_cols, (name, line)
        assert "EvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_corpus_idf_uses_broadcast_scalar_and_takeordered(spark, registry):
    # corpus size must join as a broadcast 1-row aggregate, and top-50
    # must plan as TakeOrdered (per-partition partial top-k), not a
    # global Sort of every term
    plan = _plan(registry["corpus_idf_top_terms"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan


@contextlib.contextmanager
def _no_aqe(spark):
    # exchange reuse is only visible pre-execution in the static plan;
    # under AQE the pre-run plan is a placeholder (isFinalPlan=false)
    old = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old)


def _executed(df) -> str:
    # executedPlan exposes ReusedExchange nodes, which the formatted
    # explain of the logical rewrite hides
    return df._jdf.queryExecution().executedPlan().toString()


def test_ngram_jaccard_shuffles_bounded_and_never_broadcasts(spark, registry):
    """The prefix-filtered similarity join (r7) obeys the same law as
    the LSH pipeline since r5: every join side is post-explode/
    post-aggregate (garbage size estimates), so merge hints force
    spillable sort-merge everywhere — the unhinted sf1.0 plan of the
    old inverted index chose THREE BroadcastHashJoins, one building a
    hash table keyed on the shingle STRING over the corpus' element
    rows (task OOM in a 2g harness); a corpus-sized broadcast build
    cannot spill. The r7 plan is bushier than the old 5-exchange
    inverted index (df aggregate + rank window + prefix self-join +
    row-based verification) but every exchange is key-partitioned and
    bounded, the duplicated subtrees ride ReusedExchange, and the
    candidate stage no longer carries the Σ df² term (163× growth
    measured at 30× data)."""
    with _no_aqe(spark):
        plan = _executed(registry["dedup_ngram_jaccard"](spark, SF_DIR))
    assert "BroadcastExchange" not in plan, plan
    assert "BroadcastHashJoin" not in plan, plan
    assert "CartesianProduct" not in plan
    data_shuffles = [
        l for l in plan.splitlines()
        if "Exchange hashpartitioning" in l and "ReusedExchange" not in l
    ]
    # id-repartition, df aggregate + element joins (prefix build +
    # self-join), pair distinct, verification common join re-key.
    # Pinned at the plan's MEASURED exchange count (ADVICE r7 — a
    # round headroom number would let silently added exchanges pass):
    # any change here must be a conscious diff. r15: 13 → 9 — the
    # verification kernel's two size joins became count-over-window
    # on the element rows (two pair-keyed exchanges + the final
    # pair-aggregate exchange gone), and the right verification join
    # reuses the element rows' id-partitioning (subset co-partition,
    # conftest mirrors the bench conf) instead of re-shuffling them
    # onto (id, element).
    assert len(data_shuffles) == 9, plan
    # two source paths (element rows re-derived for the _e-keyed and
    # id-keyed consumers); everything else reuses an exchange. r15:
    # the two size-join subtrees that used to re-consume the shared
    # id exchange are gone (sizes ride the verification windows), so
    # the reuse count drops 5 → 3 with the verification subtree
    # re-using the prefix build's exchanges
    assert plan.count("FileScan parquet") == 2, plan
    assert plan.count("ReusedExchange") == 3, plan


def test_verify_kernel_fingerprints_elements_above_distinct(spark, registry):
    """r15 (guide §2.2): the verification kernel's sorts/joins carry an
    8-byte xxhash64 element fingerprint, not the raw string — but the
    fingerprint must be projected ABOVE the per-id distinct (set sizes
    stay string-exact, and the callers' shared id-keyed exchange still
    feeds the distinct; hashing below it was the r8 trap that split
    that reuse). Pins both halves: the distinct aggregate is keyed on
    the element STRING and its output projects the xxhash64 long that
    every downstream verification operator consumes."""
    plan = _plan(registry["dedup_minhash_lsh"](spark, SF_DIR))
    # fingerprint exists and is born from the string alias _es
    assert "xxhash64(_es" in plan, plan
    # the distinct groups on the string (_es), never on a pre-hashed key
    keyed_lines = [l for l in plan.splitlines() if l.lstrip().startswith("Keys")]
    assert any("_es" in l for l in keyed_lines), plan
    assert not any("xxhash64" in l for l in keyed_lines), plan


def test_minhash_lsh_never_broadcasts_corpus_data(spark, registry):
    """The sf1.0 scale run (r3, judge-reproduced) killed this query
    with `Not enough memory to build and broadcast the table`: every
    side of every join in the LSH pipeline — band index, candidate
    pairs, (id, shingle) element rows, per-doc sizes — scales with the
    CORPUS, and Catalyst's size estimates for post-explode /
    post-distinct outputs are garbage, so the static plan chose five
    BroadcastHashJoins. The merge hints in _lsh_pairs_impl /
    _verify_pairs_by_rows exist to forbid that; this pins it. (This is
    a deliberate exchange-count trade: sort-merge adds shuffles, but
    every one of them spills; a broadcast build of corpus data cannot.)
    """
    with _no_aqe(spark):
        plan = _executed(registry["dedup_minhash_lsh"](spark, SF_DIR))
    assert "BroadcastExchange" not in plan, plan
    assert "BroadcastHashJoin" not in plan, plan
    assert "CartesianProduct" not in plan
    # the incremental batch-vs-index path shares the verify kernel and
    # must obey the same law
    from mldag_spark.functions import shingle_rows
    from mldag_spark.operators.dedup import incremental_lsh_pairs
    from mldag_spark.queries.tables import load

    d = load(spark, SF_DIR, "documents")
    rows = shingle_rows(d, "doc_id", "text", 3)
    batch = rows.filter(F.col("doc_id") % 10 == 0)
    with _no_aqe(spark):
        plan = _executed(
            incremental_lsh_pairs(batch, rows, "doc_id", "shingle")
        )
    assert "BroadcastExchange" not in plan, plan
    assert "CartesianProduct" not in plan


def test_corpus_queries_prune_and_avoid_cartesian(spark, registry):
    for name, max_cols in (
        ("corpus_source_overlap", 3),
        ("corpus_zipf_slope", 2),
        ("corpus_pmi_pairs", 2),
        ("embedding_dim_variance", 1),
    ):
        plan = _plan(registry[name](spark, SF_DIR))
        assert "CartesianProduct" not in plan, name
        reads = [l for l in plan.splitlines() if "ReadSchema" in l]
        assert reads, name
        # every scan reads only the referenced columns
        for read in reads:
            assert read.count(":") - 1 <= max_cols, (name, read)


def test_chunk_sequences_is_narrow_no_shuffle(spark, registry):
    # documents -> training sequences is a pure narrow transform:
    # tokenize + posexplode(sequence) + slice. Any Exchange here would
    # mean the chunker shuffles the whole corpus; any EvalPython would
    # mean per-row Python in the hottest pipeline stage.
    plan = _plan(registry["text_chunk_sequences"](spark, SF_DIR))
    assert "Exchange" not in plan, plan
    assert "EvalPython" not in plan
    for line in plan.splitlines():
        if "ReadSchema" in line:
            assert line.count(",") <= 1, line  # doc_id, text only


def test_source_cap_single_shuffle_pruned_scan(spark, registry):
    # per-source capping: exactly one Exchange (hashpartitioning on
    # source) feeding the rank window; scan reads only the 3 needed
    # columns
    plan = _plan(registry["sample_source_cap"](spark, SF_DIR))
    assert plan.count("+- Exchange") == 1, plan
    assert "hashpartitioning(source" in plan
    # bonus: Spark pushes a rank-limit below the shuffle, so each map
    # task ships at most 15 rows per source — keep that pinned
    assert plan.count("+- WindowGroupLimit") == 2, plan
    assert "EvalPython" not in plan
    for line in plan.splitlines():
        if "ReadSchema" in line:
            assert line.count(",") <= 2, line


def test_multilevel_rollup_scans_once_reuses_exchanges(spark, registry):
    # hypertable rollup: the fact scan must happen exactly once; hour
    # re-aggregates minute's shuffle output and day re-aggregates
    # hour's — both visible as ReusedExchange in the static plan
    with _no_aqe(spark):
        plan = _executed(registry["events_multilevel_rollup"](spark, SF_DIR))
    assert plan.count("FileScan parquet") == 1, plan
    assert plan.count("ReusedExchange") >= 2, plan


def test_cdc_diff_join_reuses_window_partitioning(spark, registry):
    # both as-of states shuffle once on user_id for their rank window;
    # the diff join must ride that partitioning, not add its own
    with _no_aqe(spark):
        plan = _executed(registry["events_cdc_snapshot_diff"](spark, SF_DIR))
    shuffles = [
        l for l in plan.splitlines()
        if "Exchange hashpartitioning" in l and "ReusedExchange" not in l
    ]
    assert len(shuffles) == 2, plan


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """write_bucketed_table's contract: two tables bucketed on the join
    key with the same bucket count sort-merge-join with ZERO Exchange
    nodes — the 100 TB co-location strategy (never re-shuffle the fact
    table for a repeatedly-used key). bench.py measures the wall-clock
    worth of this; the plan property is pinned here."""
    from mldag_spark.sources import write_bucketed_table

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    spark.sql(
        f"CREATE DATABASE IF NOT EXISTS plan_bucket LOCATION '{tmp_path}/wh'"
    )
    try:
        write_bucketed_table(
            li.select("l_orderkey", "l_extendedprice"),
            "plan_bucket.li_b", ["l_orderkey"], 8, sort_cols=["l_orderkey"],
        )
        write_bucketed_table(
            orders.select("o_orderkey", "o_orderstatus"),
            "plan_bucket.o_b", ["o_orderkey"], 8, sort_cols=["o_orderkey"],
        )
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        # safe ONLY because write_bucketed_table guarantees one file
        # per bucket (see its docstring); pins the sort-free read.
        # r16: the session fixture now defaults this to true (it is an
        # engine-contract conf, mldag_spark.session), so save/restore
        # instead of hardcoding false on exit
        prev_ord = spark.conf.get(
            "spark.sql.legacy.bucketedTableScan.outputOrdering"
        )
        spark.conf.set(
            "spark.sql.legacy.bucketedTableScan.outputOrdering", "true"
        )
        try:
            with _no_aqe(spark):
                l, o = spark.table("plan_bucket.li_b"), spark.table("plan_bucket.o_b")
                j = (
                    l.join(o, l["l_orderkey"] == o["o_orderkey"])
                    .groupBy("o_orderstatus")
                    .agg(F.sum("l_extendedprice").alias("rev"))
                )
                plan = _executed(j)
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
            spark.conf.set(
                "spark.sql.legacy.bucketedTableScan.outputOrdering", prev_ord
            )
        join_and_below = plan[plan.index("SortMergeJoin"):]
        # the only allowed exchange is the single-aggregation shuffle
        # ABOVE the join; below it, bucket pruning means zero exchanges
        assert "Exchange" not in join_and_below, plan
        assert "SortMergeJoin" in plan, plan
        # r6: ONE sorted file per bucket means the reader trusts the
        # sortBy metadata and the join needs no per-side Sort either —
        # a multi-file bucket silently re-sorts both sides (measured
        # 0.89x -> 1.19x at sf1.0 when this was fixed)
        assert "Sort " not in join_and_below, plan
        # result parity with the plain-parquet join
        got = {r["o_orderstatus"]: round(r["rev"], 2) for r in j.collect()}
        want = {
            r["o_orderstatus"]: round(r["rev"], 2)
            for r in (
                li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
                .groupBy("o_orderstatus")
                .agg(F.sum("l_extendedprice").alias("rev"))
                .collect()
            )
        }
        assert got == want
    finally:
        spark.sql("DROP DATABASE IF EXISTS plan_bucket CASCADE")


def test_embedding_near_dup_window_rides_join_exchange(spark, registry):
    """r8: the bucket-window rank and the per-vector top-K cap must not
    add data exchanges beyond the ones the plan already needed.

    The within-bucket ROW_NUMBER partitions by exactly the band-join
    keys, so each self-join side carries ONE (label, band, bucket)
    exchange serving both its window and its join input; the top-K
    window adds the single vec_a exchange the output cap requires.
    Pinned at the measured shape (ADVICE r7: measured counts, not
    headroom) so a silently added exchange is a conscious diff.
    """
    df = registry["embedding_near_dup_blocked"](spark, SF_DIR)
    plan = _plan(df)
    # formatted mode lists each Exchange's partitioning on its own
    # "Arguments: hashpartitioning(...)" line
    part_args = [
        l
        for l in plan.splitlines()
        if l.startswith("Arguments: hashpartitioning")
    ]
    bucket_ex = [l for l in part_args if "band" in l]
    assert len(bucket_ex) == 2, plan  # one per self-join side, window rides it
    assert len(part_args) == 4, plan  # + pair-distinct + vec_a top-K window
    assert "CartesianProduct" not in plan


def test_kmeans_is_map_only_plus_one_bounded_shuffle(spark, registry):
    """The Lloyd kernel's scale contract (r8): centroids move as k·d
    literal arrays, the corpus never joins anything — the returned
    plan must be scan → map-only assignment → partial aggregate →
    ONE k-key exchange (+ the cosmetic output sort). Any Join node,
    Python eval, or extra data shuffle means the "broadcast the model,
    not the data" shape regressed."""
    plan = _plan(registry["kmeans_embedding_clusters"](spark, SF_DIR))
    assert "Join" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "EvalPython" not in plan, plan
    data_shuffles = [
        l for l in plan.splitlines()
        if l.startswith("Arguments: hashpartitioning")
    ]
    assert len(data_shuffles) == 1, plan  # the k-key update/stats agg
    # scan reads only (vec_id, embedding) — label is not referenced
    read = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "label" not in read, read


def test_substring_spans_is_aggregate_only_jvm_path(spark, registry):
    # the substring-dedup plan must stay pure JVM (zip-slice windows,
    # no Python eval) with no pairwise join shapes: the only joins are
    # the window-keyed linear join-back (equi) — never a cartesian or
    # nested loop over document pairs
    plan = _plan(registry["dedup_substring_spans"](spark, SF_DIR))
    assert "EvalPython" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_remove_spans_anti_join_merges_never_broadcasts(spark, registry):
    # the removal half (r12): the positional anti join carries a band
    # residual on an id-equi key — it must plan as a sort-merge anti
    # join, never a nested loop; and BOTH post-aggregate join sides
    # (the span table and the rebuilt-doc table, corpus-scaled with
    # garbage size estimates) must merge, never broadcast-build (the
    # sf10 OOM law)
    plan = _plan(registry["text_remove_duplicate_spans"](spark, SF_DIR))
    assert "EvalPython" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "SortMergeJoin LeftAnti" in plan, plan
    assert "BroadcastHashJoin" not in plan, plan


def test_image_decode_is_map_only_no_shuffle(spark, registry):
    # encode → ship binary → parse is a per-row pipeline: the executed
    # plan must contain NO Exchange at all (Arrow kernels compose
    # map-only) — a shuffle here would mean payload bytes moving
    # between executors for no reason
    plan = _plan(registry["multimodal_image_decode"](spark, SF_DIR))
    final = plan.split("== Initial Plan ==")[0]
    assert "Exchange" not in final, final


def test_bpe_pair_counts_are_jvm_native_single_shuffle(spark):
    # the per-merge hot stage of BPE learning runs once per merge over
    # the vocabulary: it must stay whole-stage-codegen JVM (slice +
    # arrays_zip + explode — NO Python eval, NO interpreted
    # higher-order transform(): the k-means k-scan lesson) with
    # exactly the one (l, r)-key aggregate exchange
    from mldag_spark.operators.tokenizer import (
        _pair_counts,
        symbolize,
        word_vocab,
    )
    from mldag_spark.queries.tables import load

    docs = load(spark, SF_DIR, "documents")
    plan = _plan(_pair_counts(symbolize(word_vocab(docs))))
    assert "EvalPython" not in plan, plan
    assert "transform(" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_video_decode_is_map_only_no_shuffle(spark, registry):
    # same law for the Y4M round-trip: encode → ship binary → parse →
    # frame-sample is per-row work; NO Exchange may appear
    plan = _plan(registry["multimodal_video_decode"](spark, SF_DIR))
    final = plan.split("== Initial Plan ==")[0]
    assert "Exchange" not in final, final


def test_range_join_is_bucketed_equi_not_nested_loop(spark, registry):
    # the price-band range join once planned as a broadcast
    # nested-loop join (O(|part|·|supplier|) comparisons — every probe
    # row scans every build row) AND its band matched 0 rows at every
    # scale factor, so ten rounds of gate evidence were vacuous
    # (VERDICT r10 "What's wrong" #1). The rewrite bucketizes both
    # sides into band-width integer buckets over exact cents and
    # equi-joins on the bucket key (probe explodes to bucket ±1, exact
    # band as residual filter): the executed plan must be a hash
    # equi-join, never a nested loop or cartesian.
    df = registry["join_range_parts_in_price_band"](spark, SF_DIR)
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan
    # non-vacuous: the band must actually match rows at test scale
    assert df.limit(1).count() == 1


def test_anomaly_mad_has_no_window_over_group_key(spark, registry):
    # events_anomaly_mad once computed the deviation median with an
    # unbounded `median(...) OVER (PARTITION BY event_type)` — a window
    # over a ~5-cardinality key that serializes every row of a type
    # into one task (VERDICT r9 "What's wrong" #1). Both medians must
    # be grouped aggregates (partial-merge, parallel) with the tiny
    # results broadcast back: no Window operator anywhere in the plan,
    # and the join-backs must be broadcast, not shuffle.
    plan = _plan(registry["events_anomaly_mad"](spark, SF_DIR))
    assert "Window" not in plan, plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan, plan
    # r11 (VERDICT r10 #7): the med/mad/final lineage used to scan the
    # events parquet three times; the persisted 2-column projection
    # means every pass reads the cache and the formatted plan's
    # "Scan parquet (id)" references all collapse to ONE node id
    import re

    scan_ids = set(re.findall(r"Scan parquet\s*\((\d+)\)", plan))
    assert len(scan_ids) == 1, scan_ids
    assert "InMemoryTableScan" in plan


def test_dsir_explode_runs_once_and_lr_table_path_is_identical(
    spark, registry
):
    # ADVICE r9: the target model used to re-count from grams, so the
    # documents scan + bigram explode executed twice. Both models now
    # derive from the single (doc_id, source, f) aggregate via a
    # conditional sum; after AQE the executed plan must contain exactly
    # ONE documents scan, one Generate (explode), and ReusedExchange
    # nodes for the model branches.
    from mldag_spark.queries.text import dsir_log_ratio_table

    df = registry["text_dsir_weights"](spark, SF_DIR)
    self_rows = {r["doc_id"]: r for r in df.collect()}
    plan = _plan(df)
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Scan parquet") == 1, final
    assert final.count("Generate") == 1, final
    assert "ReusedExchange" in final, final

    # production mode: a precomputed (f, lr) artifact passed in must
    # produce bit-identical scores (the 100 TB selection pass never
    # re-counts the target model)
    from mldag_spark.queries.text import (
        dsir_feature_counts,
        text_dsir_weights,
    )

    lr = dsir_log_ratio_table(dsir_feature_counts(spark, SF_DIR))
    prod_rows = {
        r["doc_id"]: r
        for r in text_dsir_weights(spark, SF_DIR, lr_table=lr).collect()
    }
    assert set(prod_rows) == set(self_rows)
    for k, r in self_rows.items():
        assert prod_rows[k]["n_bigrams"] == r["n_bigrams"], k
        assert prod_rows[k]["dsir_logratio"] == r["dsir_logratio"], k


def test_semdedup_window_key_is_composite_and_no_cartesian(spark, registry):
    # dedup_semantic_clusters ranks within (cid, vec_id div 256), never
    # bare cid — a per-cid window with demo k=8 would be the
    # events_anomaly_mad single-task sort shape. The plan must show the
    # composite partition key, no CartesianProduct, and no broadcast of
    # corpus-sized vector data (the pair join is key-equi on the same
    # exchange the window rides).
    plan = _plan(registry["dedup_semantic_clusters"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "windowspecdefinition(cid" in plan and "bkt" in plan, plan


def test_pq_codes_table_is_map_only_no_shuffle(spark):
    # the PQ index build (normalize → encode) is the stage that runs
    # over the full 100 TB corpus: it must compose map-only — an
    # Exchange here would shuffle raw vectors to produce a codes table
    # that inherits the scan partitioning by design
    from mldag_spark.operators.similarity import pq_encode, pq_train

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    books = pq_train(emb, m=8, ksub=16)
    plan = _plan(pq_encode(emb, books))
    final = plan.split("== Initial Plan ==")[0]
    assert "Exchange" not in final, final
    # the codebooks ride in the closure: no join against a model table
    assert "Join" not in final, final


def test_bloom_decontaminate_shuffles_only_hit_rows(spark, registry):
    # the bloom pass's design claim: the corpus side is probed
    # MAP-ONLY (bitmap in the closure) — the only shuffles in the
    # whole query are on the HIT rows (distinct + per-doc count,
    # contamination-sized), and the anti join broadcasts the small
    # dirty-id side. A SortMergeJoin or a shingle-keyed Exchange here
    # would mean the exact pass's corpus shuffle crept back in.
    df = registry["text_decontaminate_bloom"](spark, SF_DIR)
    df.collect()  # AQE: pin the EXECUTED plan
    plan = _plan(df)
    final = plan.split("== Initial Plan ==")[0]
    assert "SortMergeJoin" not in final
    assert "BroadcastHashJoin LeftAnti" in final
    # two shuffle exchanges: hit-row distinct, per-doc hit count
    n_shuffle = sum(
        1 for l in final.splitlines()
        if l.strip().startswith(("+- Exchange", "Exchange"))
        and "BroadcastExchange" not in l
    )
    assert n_shuffle <= 2, final


def test_pq_refine_join_broadcasts_candidates_not_corpus(spark, registry):
    # the exact-refine tail joins refine·|Q| candidate pairs back to
    # the corpus vectors; the candidate side sits behind a window over
    # a mapInPandas stage (garbage static estimate — the
    # decontamination sf10 OOM shape), so it carries an explicit
    # broadcast hint: the corpus must never shuffle for this join
    df = registry["ann_pq_topk"](spark, SF_DIR)
    plan = _plan(df)  # static formatted explain — no AQE marker to split
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan, plan


def test_bpe_encode_capped_vocab_broadcasts(spark):
    """VERDICT r12 #3: with top_words set, the vocab side of the
    corpus-encoding join is model-sized by contract — it must
    broadcast, and the exploded corpus side must never sort for the
    join. Uncapped, the join stays merge (vocab is corpus-derived and
    unbounded)."""
    from mldag_spark.queries.tables import load
    from mldag_spark.queries.text import bpe_encode_docs_frame

    docs = load(spark, SF_DIR, "documents")
    capped = _plan(bpe_encode_docs_frame(docs, n_merges=2, top_words=50))
    assert "BroadcastHashJoin" in capped, capped
    assert "SortMergeJoin" not in capped, capped
    uncapped = _plan(bpe_encode_docs_frame(docs, n_merges=2))
    assert "SortMergeJoin" in uncapped, uncapped


def test_keep_best_member_join_broadcasts_never_sortmerges(spark, registry):
    """VERDICT r13 #1 / r14 #1a + ADVICE r14 #1-#2: the r14 form
    hinted broadcast on the PRESERVED side of a left outer join —
    Spark 4.1 silently drops that hint, and the old assertion passed
    only because the optimizer auto-broadcast the small gate-scale
    quality side. Pin the REAL shape with auto-broadcast disabled, so
    only explicit hints can produce a BroadcastHashJoin: quality is
    pruned member-sized via LeftSemi BuildRight, then the member join
    broadcasts the pruned quality as LeftOuter BuildRight. Both
    registered materializations (exact- and LSH-mined) truncate the
    miner's lineage at the closure's localCheckpoint, so their final
    plans must contain NO SortMergeJoin at all."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for q in ("dedup_keep_best_quality", "dedup_keep_best_lsh"):
            plan = _plan(registry[q](spark, SF_DIR))
            assert "BroadcastHashJoin LeftSemi BuildRight" in plan, (q, plan)
            assert "BroadcastHashJoin LeftOuter BuildRight" in plan, (q, plan)
            assert "SortMergeJoin" not in plan, (q, plan)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_keep_best_over_cap_sortmerges_never_broadcasts(spark, monkeypatch):
    """VERDICT r14 what's-wrong #1: the member set is every
    pair-TOUCHED node — corpus-fraction-sized at web-crawl near-dup
    rates — so above the measured cap the labels⋈quality join must
    SORT-MERGE (member-count-sized exchange), never broadcast an
    unbounded frame. Force the branch with a zero
    ``BROADCAST_MEMBER_CAP``; selection must be identical to the
    broadcast branch."""
    from mldag_spark.operators import dedup
    from mldag_spark.operators.dedup import keep_best_losers

    monkeypatch.setattr(dedup, "BROADCAST_MEMBER_CAP", 0)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (7, 8)], "a long, b long"
        )
        quality = spark.createDataFrame(
            [(1, 0.5), (2, 0.9), (3, 0.7), (7, 0.4), (8, 0.4), (99, 1.0)],
            "doc_id long, qs double",
        )
        big = keep_best_losers(pairs, quality, src="a", dst="b")
        plan = _plan(big)
        assert "SortMergeJoin LeftOuter" in plan, plan
        assert "BroadcastHashJoin" not in plan, plan
        assert sorted(r["doc_id"] for r in big.collect()) == [1, 3, 8]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_fuzzy_pipeline_verification_non_vacuous(spark, registry):
    """r15 (VERDICT r14 #2): the composed LSH → edit-verify →
    keep-best pipeline must DIFFER from the unverified keep-best path
    — the edit filter rejects a measured fraction of the miner's
    pairs, clusters split, and the survivor set strictly GROWS
    (rejecting an edge can only split clusters; each subcluster keeps
    its own best, and the old cluster's best remains the best of its
    subcluster, so every previously-kept doc stays kept and at least
    one previously-dropped doc survives)."""
    fuzzy = {
        r["doc_id"]
        for r in registry["dedup_fuzzy_pipeline"](spark, SF_DIR).collect()
    }
    plain = {
        r["doc_id"]
        for r in registry["dedup_keep_best_lsh"](spark, SF_DIR).collect()
    }
    assert plain < fuzzy, (len(plain), len(fuzzy))


def test_keep_best_losers_is_pair_source_agnostic(spark):
    """The r14 operator contract: pairs in (any miner, any column
    names) → loser ids out, highest quality kept, ties to min id."""
    from mldag_spark.operators.dedup import keep_best_losers

    # component {1,2,3} (chain) + component {7,8}; quality: 2 best in
    # the first cluster, tie between 7 and 8 → 7 kept (min id)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8)], "a long, b long"
    )
    quality = spark.createDataFrame(
        [(1, 0.5), (2, 0.9), (3, 0.7), (7, 0.4), (8, 0.4), (99, 1.0)],
        "doc_id long, qs double",
    )
    losers = keep_best_losers(pairs, quality, src="a", dst="b")
    got = sorted(r["doc_id"] for r in losers.collect())
    assert got == [1, 3, 8]
    # missing-quality members rank LAST, never silently vanish
    # (code-review r14 #3): doc 3 absent from quality -> loses to the
    # known-quality 1 and 2; cluster {7,8} fully unknown -> min id 7
    # kept, 8 dropped (dedup still happens)
    partial = spark.createDataFrame(
        [(1, 0.5), (2, 0.9)], "doc_id long, qs double"
    )
    got2 = sorted(
        r["doc_id"]
        for r in keep_best_losers(pairs, partial, src="a", dst="b").collect()
    )
    assert got2 == [1, 3, 8]


def test_edit_similarity_joins_broadcast_pairs_never_shuffle_text(spark):
    """r14 / VERDICT r14 #1b, re-examined r16 / VERDICT r15 #1:
    edit_similarity_pairs must broadcast the pair side — ID + scalar
    metric columns ONLY, never document text — on BOTH text-annotation
    joins (auto-broadcast disabled, so only the explicit hints can
    produce them), stream the corpus text projection map-only, and
    assemble the two pair-sized text-carrying halves with a
    SORT-MERGE join on (src, dst). The SMJ is a probed decision, not
    a leftover: the no-sort shuffled-hash assembly hard-OOMs its
    non-spillable text hash map at the memory-pressure scale where
    the SMJ completes by spilling, and AQE converts this unhinted
    join to a no-sort broadcast assembly at runtime when a half is
    small (OPTIMIZATION_r16.md §1). The r14 form
    broadcast the first half WITH its text column attached (broadcast
    bytes = n_pairs × doc_bytes, the long-document scale-killer)."""
    from mldag_spark.operators.dedup import edit_similarity_pairs

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        pairs = spark.createDataFrame(
            [(1, 2, 0.9), (3, 4, 0.85)], "doc_a long, doc_b long, jaccard double"
        )
        texts = spark.createDataFrame(
            [(i, f"text {i}") for i in range(6)], "doc_id long, norm string"
        )
        plan = _plan(edit_similarity_pairs(pairs, texts, text_col="norm"))
        # tree section: two hinted ID-side broadcasts + ONE pair-sized
        # shuffle (sort-merge) assembly of the annotated halves
        assert plan.count("BroadcastHashJoin Inner BuildRight") == 2, plan
        assert "SortMergeJoin Inner" in plan, plan
        assert "levenshtein" in plan  # the JVM kernel, not a Python UDF
        # no BroadcastExchange may carry a text column: walk each
        # exchange's detail Input line
        lines = plan.splitlines()
        for i, l in enumerate(lines):
            if ") BroadcastExchange" in l:
                detail = " ".join(lines[i : i + 3])
                assert "_ta" not in detail and "_tb" not in detail, detail
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_corpus_fraction_anti_joins_are_aqe_adaptive(spark, registry):
    """r15 broadcast audit: the drop/dirty/loser id sets fed to the
    corpus anti-joins are DUP-RATE- or CONTAMINATION-RATE-sized, not
    structure-bounded — at web-crawl rates they are corpus-fraction-
    sized and a static F.broadcast hint is the OOM. The convention:
    either the decision comes from a MEASURED count (keep-best — the
    member count the selection already paid for), or the hint is
    omitted and AQE picks from runtime sizes. Pin both halves:

    (a) the logical plans of the unhinted queries carry NO broadcast
        hint on the anti-join's right side (the strategy is AQE's);
    (b) executing at gate scale, AQE still ends up broadcasting the
        small drop set (the fast plan survives the safety change).
    """
    # expected BROADCAST-hint counts: the rate-sized drop/dirty
    # anti-joins contribute ZERO. A F.broadcast call renders as
    # "ResolvedHint (strategy=broadcast)" in analyzed plans (the first
    # assert shipped as "hints=[broadcast]", a string Spark never
    # prints — vacuous; code-review r15 late-2 #1); merge hints are a
    # different strategy and don't count. r16: dag_pipeline_clean_pack
    # dropped from 1 hint to 0 — the packer input is now a lazy
    # localCheckpoint (the 6-scans→1 reuse fix), which is an
    # ExistingRDD leaf, so token_budget_batches takes its
    # driver-literal offsets path (no broadcast branch; both paths
    # value-pinned equal by test_token_budget_batches_on_existing_
    # rdd_source, and the offsets collect is |buckets|-bounded).
    for q, n_hints in (
        ("dedup_keep_representatives", 0),
        ("dag_pipeline_clean_pack", 0),
    ):
        df = registry[q](spark, SF_DIR)
        analyzed = df._jdf.queryExecution().analyzed().toString()
        got = analyzed.lower().count("(strategy=broadcast)")
        assert got == n_hints, (q, got, n_hints)
    # the anti-join pin moves to the frames that CONTAIN the anti
    # join. r16: clean_pack's packed output reads from the lazy
    # `kept` checkpoint, so its own plan no longer shows the
    # decontamination join — assert on the decontaminate NODE's
    # output instead (run.node_outputs), which is the exact frame the
    # checkpoint materializes. dedup_keep_representatives' anti join
    # is still in its returned plan.
    from mldag_spark.queries.dag_pipeline import build_clean_pack_dag

    rep = registry["dedup_keep_representatives"](spark, SF_DIR)
    kept = build_clean_pack_dag(spark).transform(SF_DIR).node_outputs[
        "decontaminate"
    ]["result"]
    for q, df in (("dedup_keep_representatives", rep),
                  ("clean_pack.decontaminate", kept)):
        # execute THIS dataframe's own plan (collect, not count —
        # count() spawns a separate aggregate execution and leaves
        # df's AdaptiveSparkPlan unexecuted/initial) so the explain
        # below shows AQE's FINAL runtime choice
        df.collect()
        final = _plan(df)
        assert "LeftAnti" in final, (q, final)
        # gate-scale drop sets are small: AQE must have picked the
        # broadcast form at runtime, not paid a sort-merge
        assert "BroadcastHashJoin LeftAnti" in final, (q, final)


def test_keep_best_survivors_bounds_loser_broadcast(spark):
    """The survivor anti-join's broadcast decision must come from the
    measured member count (losers <= members), never unconditionally:
    under a forced zero cap the loser set must NOT be broadcast."""
    from mldag_spark.operators import dedup as D
    from mldag_spark.queries.text import keep_best_survivors

    rows = [
        (1, "alpha beta gamma delta epsilon zeta", 36),
        (2, "alpha beta gamma delta epsilon zeta", 36),
        (3, "totally different content here now", 34),
    ]
    d = spark.createDataFrame(rows, "doc_id bigint, text string, n_chars bigint")
    pairs = spark.createDataFrame([(1, 2)], "doc_a bigint, doc_b bigint")

    orig = D.keep_best_losers_counted

    def fake_counted(*a, **k):
        out, _n = orig(*a, **k)
        return out, 10**9  # pretend corpus-fraction-sized

    D.keep_best_losers_counted = fake_counted
    try:
        surv = keep_best_survivors(d, pairs)
        analyzed = surv._jdf.queryExecution().analyzed().toString()
        # keep_best_losers' INTERNAL member joins keep their
        # (measured-count) broadcast hints either way; the forced
        # over-cap branch must drop exactly ONE broadcast hint — the
        # loser anti-join's ("ResolvedHint (strategy=broadcast)" is
        # how F.broadcast prints in analyzed plans; the original
        # "hints=[broadcast]" assert matched nothing — vacuous)
        n_over = analyzed.lower().count("(strategy=broadcast)")
        got = sorted(r["doc_id"] for r in surv.collect())
        assert got == [1, 3]  # keep best of {1,2} (tie -> min id), plus 3
    finally:
        D.keep_best_losers_counted = orig

    # and under the real (tiny) measured count the anti-join hint IS
    # applied — one more broadcast hint than the forced over-cap plan,
    # so the branch is pinned live in both directions
    surv2 = keep_best_survivors(d, pairs)
    analyzed2 = surv2._jdf.queryExecution().analyzed().toString()
    n_under = analyzed2.lower().count("(strategy=broadcast)")
    assert n_under == n_over + 1, (n_under, n_over)


def test_approx_distinct_sketches_never_key_on_distinct_columns(
    spark, registry
):
    """r16 (guide §2.2/§5): mixing COUNT(DISTINCT) with the rsd=0.01
    HLL sketches in one aggregate keyed the first HashAggregate on
    (l_returnflag, l_partkey, l_suppkey, gid) while carrying ~1.6k
    longs of sketch buffer PER GROUP — gigabytes of hash map for 3
    output rows (65 s warm at sf0.1). Pin the split: any aggregate
    computing approx_count_distinct must key on l_returnflag alone."""
    plan = _plan(registry["agg_approx_distinct_counts"](spark, SF_DIR))
    blocks = plan.split("\n\n")
    sketch_blocks = [
        b for b in blocks
        if "HashAggregate" in b and "approx_count_distinct" in b
    ]
    assert sketch_blocks, "expected HLL aggregate nodes in the plan"
    for b in sketch_blocks:
        keys = [l for l in b.splitlines() if l.startswith("Keys")]
        assert keys and all(
            "l_partkey" not in k and "l_suppkey" not in k for k in keys
        ), b.splitlines()[0]


def test_exact_percentiles_share_one_buffer(spark, registry):
    """r16 (guide §5): the exact-percentile queries must compute all
    their quantiles from ONE Percentile aggregate (the array form) —
    per-quantile calls each build and serialize their own value→count
    map over the same column (measured 5.2 s vs 1.85 s at sf0.1)."""
    for name in ("agg_price_percentiles", "agg_approx_percentile_invariant"):
        plan = _plan(registry[name](spark, SF_DIR))
        for line in plan.splitlines():
            if "Functions" in line and "percentile(" in line:
                # one exact-percentile call per aggregate node; the
                # approx sketch in the invariant query rides alongside
                assert line.count(" percentile(") + line.count(
                    "[percentile("
                ) + line.count("partial_percentile(") <= 2, (name, line)
                assert "[0." in line, (name, line)  # array of percentages


def test_text_branch_queries_scan_parquet_once(spark, registry):
    """r15 (OPTIMIZATION_r15.md §4): both text headline queries branch
    one derived frame (chunk fingerprints / bigram occurrences) into a
    frequency aggregate AND a probe join. A lazy localCheckpoint at
    the reuse point makes the scan + tokenize + explode run once; the
    consumer plans then read the checkpointed rows (Scan ExistingRDD)
    instead of re-embedding the parquet scans (6 resp. 4 before)."""
    for name in ("text_boilerplate_chunks", "text_bigram_surprisal"):
        plan = _plan(registry[name](spark, SF_DIR))
        assert "Scan ExistingRDD" in plan, name
        assert "Scan parquet" not in plan, name


def test_cosine_norms_fold_per_row_not_per_pair(spark, registry):
    """r15 (OPTIMIZATION_r15.md §6): each side's L2 norm is projected
    once per row; the (query × corpus) pair projection folds only the
    dot product. Before, the pair Project carried all three folds (dot
    plus two norms) for every pair."""
    for name in (
        "ann_cosine_topk", "knn_label_vote", "ann_hamming_refined_topk"
    ):
        blocks = _plan(registry[name](spark, SF_DIR)).split("\n\n")
        pair = [b for b in blocks if "zip_with(" in b]
        assert pair, name
        assert all(b.count("aggregate(") == 1 for b in pair), name
        for norm in (" AS _qn#", " AS _cn#"):
            assert any(
                norm in b and "zip_with(" not in b for b in blocks
            ), (name, norm)
