"""Sequence/shard packing for training-data export.

:func:`token_budget_batches` assigns documents (ordered by id) to
contiguous batches of at most ``max_tokens`` tokens — the sharding
step before writing training shards of bounded size.

The interesting part is the GLOBAL running sum. The naive
formulation — ``sum().over(Window.orderBy(id))`` with no partition
key — collapses the whole dataset into one task and dies at scale.
This module uses the distributed prefix-sum instead:

1. assign each row a *data-derived* bucket ``_pid`` from quantile
   boundaries of the id column, computed ONCE on the driver and
   embedded as literals — buckets are contiguous id ranges and
   ``_pid`` is monotone in id;
2. a *local* cumulative sum per bucket (window partitioned by
   ``_pid`` — fully parallel, one hash exchange);
3. per-bucket totals (|buckets| rows) cumulated into offsets and
   stitched back PLAN-ADAPTIVELY — broadcast-joined (default: the two
   input evaluations overlap in one job) or, for RDD-backed frames,
   collected driver-side (bounded) into one literal lookup array (see
   the in-function comment for the measured trade and the optimizer
   bug the fallback avoids);
4. global cumsum = local cumsum + bucket offset.

Why data-derived buckets instead of ``repartitionByRange`` +
``spark_partition_id()``: the two downstream consumers (the offsets
aggregate and the final join) each sit on their own plan branch. With
physical-partition ids, their agreement depends on the two branches
observing the SAME range boundaries — i.e. on exchange reuse or on
RangePartitioner's sampling being reproducible across exchanges. It
is not: Spark seeds the range sampler with ``byteswap32(idx ^
(rdd.id << 16))``, which depends on the exchange's RDD id, so two
independently executed range exchanges over identical input can pick
different boundaries, silently corrupting ``batch_id`` with no error
(small-scale tests pass regardless because reservoir sampling collects
whole partitions). AQE partition coalescing breaks it the same way.
With ``_pid`` a pure function of the data embedded as a literal in
BOTH branches, agreement holds by construction — independent of
exchange reuse, AQE, partition counts, and Spark-version sampler
changes. No persist/cache is needed (the r4 persist pinned a
corpus-sized cache entry for the caller's whole session — at 100 TB
that is an eviction storm).

The price is one extra driver-side ``approxQuantile`` scan over the
(id) column at call time — bounded, column-pruned, and amortized
against the window+join it protects. Per-row bucket assignment is a
two-level search over the boundary literals: O(2·sqrt(B)) JVM-side
comparisons per row (B=4096 buckets → ~128 int compares), so the
bucket count can scale with the cluster without a per-row O(B) cost.

The result is partition-invariant: a prefix sum over a total order
(unique ids) does not depend on bucket placement, so batch ids are
deterministic across cluster sizes — pinned by tests including one
that runs under AQE partition coalescing.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window


def _bucket_expr(id_col: str, bounds: list) -> Column:
    """searchsorted(bounds, id): the number of boundary values < id,
    as a two-level JVM-side search over literal arrays.

    ``bounds`` must be sorted ascending. With step S = isqrt(K):
    a coarse pass over every S-th boundary narrows to a slice of
    (S-1) fine boundaries, giving O(K/S + S) ≈ O(2·sqrt(K))
    comparisons per row instead of O(K). Boundaries are compared as
    doubles (approxQuantile's output type); exact tie placement does
    not matter — any monotone-in-id bucketing yields the same prefix
    sum.
    """
    k = len(bounds)
    if k == 0:
        return F.lit(0)
    # one parsed expression instead of k F.lit boundary literals + the
    # lambda Column chains (r16 construction campaign: this builder
    # runs per micro-batch in the streaming packs, so the Column form
    # repaid its py4j cost every trigger). repr(float)+'D' round-trips
    # the exact double; plan-identity-gated via the two pack queries.
    idc = f"CAST(`{id_col}` AS DOUBLE)"

    def count_less(arr_sql: str) -> str:
        return (
            f"aggregate({arr_sql}, 0, (acc, b) -> acc +"
            f" (CASE WHEN {idc} > b THEN 1 ELSE 0 END))"
        )

    def arr_sql(vals: list) -> str:
        return "array(" + ", ".join(
            repr(float(b)) + "D" for b in vals
        ) + ")"

    step = max(1, math.isqrt(k))
    if step == 1:
        return F.expr(count_less(arr_sql(bounds)))
    coarse = bounds[step - 1 :: step]
    c = count_less(arr_sql(coarse))
    # uncertain range: bounds[c*step : c*step + step - 1] (1-based slice)
    fine = count_less(
        f"slice({arr_sql(bounds)}, ({c}) * {step} + 1, {step - 1})"
    )
    return F.expr(f"({c}) * {step} + {fine}")


def token_budget_batches(
    df: DataFrame,
    id_col: str,
    count_col: str,
    max_tokens: int,
) -> DataFrame:
    """(id, count, global_cum, batch_id) — contiguous token-budget
    sharding in id order.

    ``batch_id = floor((global_cum - count) / max_tokens)``: a batch
    boundary falls wherever the running total crosses a multiple of
    ``max_tokens``, so every batch holds <= ``max_tokens`` tokens plus
    at most one straddling document (the standard shard-packing
    contract; split oversized documents upstream if hard caps are
    required).

    ``id_col`` must be numeric (bucket boundaries come from
    ``approxQuantile``); ids are compared as doubles, exact for
    integral ids up to 2^53. The bucket count is the session's
    ``spark.sql.shuffle.partitions`` — it bounds the parallelism of
    the local-cumsum stage, nothing else.

    Note: this function runs one eager ``approxQuantile`` action on
    the (id) column at call time to fix the bucket boundaries (see
    module docstring for why that beats physical-partition ids).
    """
    if max_tokens <= 0:
        raise ValueError("max_tokens must be positive")
    n_buckets = int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
    )
    # cap at the documented design point: bounds/offsets are embedded
    # as literals and (on the RDD path) collected driver-side, so the
    # bucket count must stay driver-bounded no matter how high the
    # session sets shuffle partitions; results are bucketing-invariant
    # (pinned), only local-cumsum parallelism is capped
    n_buckets = min(n_buckets, 4096)
    if n_buckets > 1:
        probs = [i / n_buckets for i in range(1, n_buckets)]
        err = max(1e-4, 1.0 / (4.0 * n_buckets))
        bounds = sorted(set(df.stat.approxQuantile(id_col, probs, err)))
    else:
        bounds = []
    p = df.withColumn("_pid", _bucket_expr(id_col, bounds))

    w_local = (
        Window.partitionBy("_pid")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = p.withColumn("_lcum", F.sum(count_col).over(w_local))

    # Stitching the per-bucket offsets back on is PLAN-ADAPTIVE
    # (r15). Two formulations, identical results:
    #
    # (a) in-plan broadcast join (the default): the offsets are a
    #     second plan branch (groupBy(_pid) totals + a |buckets|-row
    #     cumsum window) broadcast-joined back. Its two full
    #     evaluations of the input lineage sit in ONE job, so the
    #     scheduler overlaps them across the cluster — measured
    #     1.65x faster than (b) at sf10 when the count column is
    #     expensive lineage (tokenize): 2.3s vs 3.7s
    #     (PARITY.md "r15 work"; plan pinned by tests/test_operators.py).
    #
    # (b) driver-literal offsets: per-bucket totals collected (
    #     bounded: |buckets| <= 4096 rows of two longs) and embedded
    #     as ONE literal array, looked up element_at(_pid+1) per row.
    #     No second branch — but the totals action serializes one
    #     extra evaluation of the input lineage before the output
    #     plan runs.
    #
    # (a) is BROKEN when df is backed by an ExistingRDD leaf
    # (foreachBatch micro-batches, createDataFrame(rdd)): constraint
    # propagation infers `bucket_expr(id) <=> _pid` across the
    # deduplicated self-join branches, referencing the other branch's
    # ids — INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND at execution. File,
    # local-relation, and range sources are unaffected (every gate +
    # the plan pins run (a)); RDD-backed frames take (b), which has
    # no second branch to infer into. Both paths are value-pinned
    # against each other (test_token_budget_batches_on_existing_rdd_
    # source).
    plan_str = df._jdf.queryExecution().analyzed().toString()
    if "LogicalRDD" in plan_str or "ExistingRDD" in plan_str:
        totals = {
            r["_pid"]: int(r["_t"])
            for r in p.groupBy("_pid")
            .agg(F.sum(count_col).alias("_t"))
            .collect()
        }
        offs, run = [], 0
        for pid in range(len(bounds) + 1):
            offs.append(run)
            run += totals.get(pid, 0)
        off_arr = F.array(*[F.lit(o).cast("long") for o in offs])
        off_col = F.element_at(off_arr, F.col("_pid") + 1)
        return local.select(
            id_col,
            count_col,
            (F.col("_lcum") + off_col).alias("global_cum"),
            F.floor((F.col("_lcum") + off_col - F.col(count_col)) / max_tokens)
            .cast("int")
            .alias("batch_id"),
        )

    w_off = (
        Window.orderBy("_pid")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    offsets = (
        local.groupBy("_pid")
        .agg(F.sum(count_col).alias("_ptotal"))
        .withColumn(
            "_offset", F.sum("_ptotal").over(w_off) - F.col("_ptotal")
        )
        .select("_pid", "_offset")
    )
    return local.join(F.broadcast(offsets), "_pid").select(
        id_col,
        count_col,
        (F.col("_lcum") + F.col("_offset")).alias("global_cum"),
        F.floor(
            (F.col("_lcum") + F.col("_offset") - F.col(count_col))
            / max_tokens
        )
        .cast("int")
        .alias("batch_id"),
    )
