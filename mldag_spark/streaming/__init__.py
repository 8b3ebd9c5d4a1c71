"""Structured Streaming surface.

The reference is fully batch/synchronous (SURVEY §2.3: no streaming of
any kind — `mldag/mldag.py` is a plain `for` loop), so this module is
the beyond-parity extension: the same DAG/operator vocabulary over
unbounded sources.

Design stance (the 100 TB / always-on path):

- sources are declared with explicit schemas (`readStream` cannot
  infer), watermarks bound state for late data, and every aggregation
  is expressed with the built-in windowing primitives
  (``F.window`` / ``F.session_window``) so state lives in the
  RocksDB/HDFS-backed state store, not in Python.
- custom per-key state uses ``applyInPandasWithState`` — Arrow-batched,
  the only Python-side hook that scales (one state object per key,
  grouped columnar batches).
- tests drive everything with ``trigger(availableNow=True)`` + memory
  sink, which executes the exact streaming plan (state store included)
  over the finite test data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    DataType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
)

from mldag_spark import materialize


def _events_schema(ts_type: DataType) -> StructType:
    return StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", ts_type),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("props", StringType()),
        ]
    )


# default schema for the current testdata (parquet timestamp[us], no tz);
# ``events_stream`` probes the footer and swaps in LongType for nanos data.
EVENTS_SCHEMA = _events_schema(TimestampNTZType())


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``events`` table as an unbounded source.

    Parquet file-stream with an explicit schema (streaming reads cannot
    infer). ``ts`` has shipped as both TIMESTAMP(NANOS) and
    TIMESTAMP(MICROS); a one-footer batch probe picks the matching
    stream schema — forcing a LongType read over microsecond data would
    silently collapse all event time (DIV 1000 of micros ≈ 1970), so
    the dtype must come from the data, never be assumed.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    probed = spark.read.parquet(f"{sf_dir}/events.parquet").schema["ts"].dataType
    # file-stream sources take a directory; select just the events
    # table out of the shared sf_dir with a glob filter
    stream = (
        spark.readStream.schema(_events_schema(probed))
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    if probed.typeName() in ("long", "integer"):
        # raw nanos → truncate to microsecond timestamps in int64
        return stream.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    return stream.withColumn("ts", F.col("ts").cast("timestamp"))


def windowed_rollup(
    events: DataFrame,
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "2 hours",
) -> DataFrame:
    """Tumbling (or sliding, if ``slide`` given) windowed aggregate with
    a watermark bounding state: counts + value sum per (window,
    event_type). Streaming mirror of ``events_hourly_rollup``."""
    win = (
        F.window("ts", window)
        if slide is None
        else F.window("ts", window, slide)
    )
    return (
        events.withWatermark("ts", watermark)
        .groupBy(win.alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # decimal, not double, so the windowed sum is
            # order-independent and matches the batch/DuckDB value
            # exactly at any micro-batch partitioning
            F.round(F.sum(F.col("value").cast("decimal(18,6)")), 2)
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def sessionize(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Gap-based sessionization with the built-in session window (state
    merges adjacent windows per key; watermark closes sessions).
    Streaming mirror of ``events_sessionization``."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("sw"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
        .select(
            "user_id", "n_events", "session_start", "session_end"
        )
    )


def running_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator: cumulative per-user event count and
    value sum, maintained with ``applyInPandasWithState`` (Arrow-batched
    per-key state — the scalable Python-side hook).

    Emits one row per user per micro-batch with the updated totals.
    """
    import pandas as pd  # local import: worker-side dependency
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_events", LongType()),
            StructField("total_value", DoubleType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("n", LongType()),
            # exact integer micro-units: float accumulation across
            # micro-batches is order-dependent in the last bit, which
            # flips the rounded total vs the batch oracle
            StructField("total_micro", LongType()),
        ]
    )

    def update(key, pdfs, state):
        n, total_micro = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            total_micro += int(
                (pdf["value"] * 1_000_000).round().astype("int64").sum()
            )
        state.update((n, total_micro))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_value": [total_micro / 1_000_000],
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_to_memory(
    df: DataFrame, name: str, output_mode: str = "append"
) -> DataFrame:
    """Execute a streaming plan over all currently-available input
    (``availableNow`` trigger) into a memory sink; returns the result
    as a (batch) DataFrame. This is the test/debug harness — production
    sinks go through :func:`write_stream`."""
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return df.sparkSession.table(name)


def write_stream(
    df: DataFrame,
    path: str,
    checkpoint: str,
    fmt: str = "parquet",
    output_mode: str = "append",
):
    """Production sink: checkpointed file sink (exactly-once per file
    commit protocol). Returns the started StreamingQuery."""
    return (
        df.writeStream.format(fmt)
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode(output_mode)
        .start()
    )


def write_stream_upsert(
    df: DataFrame,
    path: str,
    checkpoint: str,
    keys: list[str],
    partition_col: str,
    order_col: str,
):
    """Keyed upsert sink via ``foreachBatch``: merge each micro-batch
    into a partitioned parquet target with last-writer-wins per key.

    The merge is idempotent by construction — replaying a micro-batch
    after a crash recomputes the same per-key winners — so the
    checkpointed ``foreachBatch`` gives effective exactly-once without
    a transactional table format.

    Scale shape: each batch only touches the partitions it contains.
    The batch's distinct ``partition_col`` values (bounded — partition
    columns are low-cardinality by design) select which existing
    partitions to read back; the merge is one union + one rank window
    keyed on ``keys``; the write is a *dynamic* partition overwrite, so
    untouched partitions are never rewritten. Target-side reads prune
    to the affected partitions via partition pruning on the parquet
    layout. At 100 TB the same shape holds: work per batch is
    O(batch + affected-partition data), never O(target).
    """

    def _merge(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        # foreachBatch runs on a py4j callback thread, where no caller's
        # scope is visible: the batch cache and the winners checkpoint
        # are released here, once the write returns
        with materialize.scope():
            batch = materialize.cache(batch)
            affected = [r[0] for r in batch.select(partition_col).distinct().collect()]
            if not affected:
                return
            from pyspark.errors import AnalysisException

            try:
                existing = spark.read.parquet(path).filter(
                    F.col(partition_col).isin(affected)
                )
                # batch rows outrank equal-order existing rows
                merged = batch.withColumn("_pri", F.lit(1)).unionByName(
                    existing.withColumn("_pri", F.lit(0))
                )
            except AnalysisException:
                merged = batch.withColumn("_pri", F.lit(1))  # first batch: no target yet
            from pyspark.sql.window import Window

            w = Window.partitionBy(*keys).orderBy(
                F.desc(order_col), F.desc("_pri")
            )
            winners = (
                merged.withColumn("_rk", F.row_number().over(w))
                .filter(F.col("_rk") == 1)
                .drop("_rk", "_pri")
            )
            # The merged frame reads the same parquet path it overwrites.
            # The eager checkpoint severs that read dependency before the
            # write starts, so a task retry racing the overwrite commit
            # cannot re-scan partially-deleted target files.
            winners = materialize.checkpoint(winners, eager=True)
            (
                winners.write.mode("overwrite")
                # per-write dynamic overwrite: only the partitions present
                # in `winners` are replaced, and the shared session conf is
                # left untouched for unrelated writers.
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy(partition_col)
                .parquet(path)
            )

    return (
        df.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


DOCUMENTS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
        StructField("source", StringType()),
        StructField("n_chars", LongType()),
    ]
)


def documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``documents`` table as an unbounded source — the arriving
    crawl in the incremental-dedup recurrence."""
    return (
        spark.readStream.schema(DOCUMENTS_SCHEMA)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )


def _seed_idempotent_sink(
    spark: SparkSession, out_path: str, checkpoint: str, schema_ddl: str
) -> None:
    """Prepare a per-micro-batch-partitioned parquet sink for the
    at-least-once-safe `_mb_id` overwrite discipline (extracted from
    ``incremental_dedup_stream``, byte-identical behavior):

    - seed the sink with an empty, correctly-typed frame in a
      sentinel ``_mb_id=-1`` partition so readers never race a
      not-yet-created directory (a batch with no output writes
      nothing) — written ONLY if out_path holds no ``_mb_id=*``
      partitions yet (a restart on an existing checkpoint must not
      destroy previously committed output; bare/empty directories
      still get the seed or spark.read could not infer a schema);
    - the seed is NOT a committed batch: only non-sentinel partitions
      trigger the fresh-checkpoint refusal (ADVICE r6) — a FRESH
      checkpoint renumbers micro-batches from 0, so per-_mb_id
      overwrite would leave the old numbering's stale partitions
      alive, silently duplicating rows. Refuse instead.

    Existence checks go through the Hadoop FileSystem API (out_path
    may be s3a://... on a cluster)."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(out_path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    glob_mb = spark._jvm.org.apache.hadoop.fs.Path(f"{out_path}/_mb_id=*")
    statuses = (
        list(fs.globStatus(glob_mb) or []) if fs.exists(jpath) else []
    )
    has_batches = any(
        s.getPath().getName() != "_mb_id=-1" for s in statuses
    )
    if not statuses:
        empty = spark.createDataFrame([], schema_ddl)
        empty.write.mode("overwrite").parquet(f"{out_path}/_mb_id=-1")
    elif has_batches:
        ckpt = spark._jvm.org.apache.hadoop.fs.Path(checkpoint)
        cfs = ckpt.getFileSystem(spark._jsc.hadoopConfiguration())
        if not cfs.exists(ckpt):
            raise ValueError(
                f"out_path {out_path!r} holds batches from a previous "
                f"run but checkpoint {checkpoint!r} is fresh; resume "
                "with the original checkpoint or point at a clean "
                "out_path"
            )


def map_stream_to_parquet(
    stream: DataFrame,
    transform_fn,
    schema_ddl: str,
    out_path: str,
    checkpoint: str,
):
    """Generic DETERMINISTIC micro-batch → parquet pipeline with the
    `_mb_id` idempotency discipline: ``transform_fn(batch) ->
    DataFrame`` runs per micro-batch and its result overwrites that
    batch's own partition directory, so an at-least-once retry
    REPLACES instead of appending — exactly-once per micro-batch id
    within a checkpoint (see ``incremental_dedup_stream`` for the
    full sink-semantics discussion; this is its generalization for
    map-shaped streaming ops like the bloom decontamination probe).
    Runs with an ``availableNow`` trigger and blocks to termination;
    read ``out_path`` for the accumulated result."""
    spark = stream.sparkSession
    _seed_idempotent_sink(spark, out_path, checkpoint, schema_ddl)

    def _process(batch: DataFrame, batch_id: int) -> None:
        transform_fn(batch).write.mode("overwrite").parquet(
            f"{out_path}/_mb_id={int(batch_id)}"
        )

    q = (
        stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def incremental_dedup_stream(
    batch_stream: DataFrame,
    index_rows: DataFrame,
    out_path: str,
    checkpoint: str,
    shingle_fn,
    id_col: str = "doc_id",
    elem_col: str = "shingle",
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 16,
):
    """Streaming incremental near-dup detection: every micro-batch of
    arriving documents is checked against a FIXED historical corpus
    index via ``operators.dedup.incremental_lsh_pairs`` and the matched
    (batch_id, index_id, jaccard) pairs are appended to a parquet sink.

    Scale shape (the production recurrence this mirrors): the corpus
    band index is built ONCE and persisted — in production it lives
    bucketed by (band, bucket) on disk (``sources.write_bucketed_table``)
    so the per-batch bucket join is exchange-free on the index side;
    here it is cached for the stream's lifetime. Per-batch work is
    O(|batch|·bands) banding + bucket joins + row-level verification —
    independent of corpus size except through bucket occupancy, and no
    index×index candidates are ever generated.

    Sink semantics (hardened in r6 per ADVICE r5): ``foreachBatch``
    executes micro-batches AT-LEAST-ONCE, so a plain append sink
    duplicates rows when a batch is retried after a partial write.
    Each micro-batch therefore lands in its own ``_mb_id=<id>``
    partition — written as a direct overwrite of that partition
    directory (r7; previously dynamic partition overwrite — measured
    equivalent at one batch, but the direct write's commit is O(1) in
    table size where dynamic overwrite's staging enumeration grows
    with batch count): a retry REPLACES the partition it had
    partially written instead of appending next to it, and since the
    pair computation is deterministic the sink's contents are
    exactly-once per micro-batch id WITHIN a checkpoint.
    The empty seed that guarantees readers a readable schema is
    written only when ``out_path`` holds no ``_mb_id=*`` partitions
    yet (bare-directory pre-creation still seeds) — restarting a
    stream on an existing checkpoint must never wipe pairs emitted by
    already-committed batches (the checkpoint would suppress their
    replay: silent data loss, the r5 bug). A FRESH checkpoint against
    a sink that already holds batches is refused outright: the new
    run renumbers micro-batches, so per-batch overwrite could leave
    the old numbering's stale partitions alive — silent duplication
    (r6 hardening). The ``_mb_id=-1`` seed alone does NOT trigger the
    refusal — a sink holding only the sentinel has no committed
    batches to duplicate (r7, ADVICE r6).

    ``shingle_fn``: batch DataFrame -> (id, element) rows (e.g.
    ``functions.shingle_rows`` curried with the text column); kept as a
    parameter so callers control tokenization.

    Returns the terminated StreamingQuery; read ``out_path`` for the
    accumulated pairs.
    """
    from mldag_spark.operators.dedup import (
        incremental_lsh_pairs,
        minhash_band_index,
    )

    spark = index_rows.sparkSession

    _seed_idempotent_sink(
        spark, out_path, checkpoint,
        "batch_id bigint, index_id bigint, jaccard double",
    )

    def _process(batch: DataFrame, batch_id: int) -> None:
        rows = shingle_fn(batch)
        pairs = incremental_lsh_pairs(
            rows,
            index_rows,
            id_col=id_col,
            elem_col=elem_col,
            threshold=threshold,
            num_hashes=num_hashes,
            bands=bands,
            index_bands=index_bands,
        )
        # overwrite THIS batch's partition directory directly (the
        # same layout partitionBy would produce — readers infer _mb_id
        # from the dir name, exactly like the seed): a retried batch
        # still replaces only its own partition, so the exactly-once
        # contract is unchanged, but the write skips dynamic-
        # partition-overwrite's table-level staging/commit machinery —
        # measured r7 at sf1.0: 12.9s -> see SCALING notes (VERDICT
        # r6 #5).
        # Visibility caveat (ADVICE r7): on a RETRY the old directory
        # is deleted before the new files commit, so a concurrent
        # reader of out_path can transiently see that one batch's
        # partition missing (dynamic overwrite staged files before the
        # swap; on object stores the delete+write window is longer).
        # Snapshot readers or single-writer-then-read pipelines — the
        # contract here — are unaffected; for live concurrent readers
        # on s3a, prefer write_stream_upsert's dynamic overwrite.
        (
            pairs.selectExpr(
                "cast(batch_id as bigint) batch_id",
                "cast(index_id as bigint) index_id",
                "cast(jaccard as double) jaccard",
            )
            .write.mode("overwrite")
            .parquet(f"{out_path}/_mb_id={int(batch_id)}")
        )

    # the scope releases the cached band index even when the stream
    # dies: a leaked corpus-sized cache outlives the failed query
    with materialize.scope():
        index_bands = materialize.cache(
            minhash_band_index(index_rows, id_col, elem_col, num_hashes, bands)
        )
        index_bands.count()
        q = (
            batch_stream.writeStream.foreachBatch(_process)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return q


def stage_id_ordered_micro_batches(
    df: DataFrame, path: str, n_batches: int, id_col: str
) -> None:
    """Write ``df`` as ``n_batches`` id-range parquet files whose
    (mtime, path) order equals id order, so a ``maxFilesPerTrigger=1``
    file stream delivers micro-batches in nondecreasing ``id_col``
    order — the staging recipe behind the streamed-pack parity gate,
    its test, and its scale probe (ONE definition; the mtime stamp is
    strictly increasing per file because equal mtimes leave the file
    source's ordering to path alone)."""
    import os

    df.repartitionByRange(n_batches, id_col).write.parquet(path)
    parts = sorted(
        f for f in os.listdir(path) if f.endswith(".parquet")
    )
    base = os.path.getmtime(path)
    for i, f in enumerate(parts):
        os.utime(os.path.join(path, f), (base + i, base + i))


def pack_stream(
    stream: DataFrame,
    id_col: str,
    count_col: str,
    max_tokens: int,
    out_path: str,
    checkpoint: str,
    carry_path: str,
):
    """Streaming token-budget packing (r15 — VERDICT r14 #6): the
    GLOBAL running sum behind ``operators.packing.token_budget_batches``
    crosses micro-batch boundaries, and a streaming query gets exactly
    one stateful aggregation — which an unbounded running sum over a
    total order cannot be (the state would be every row ever seen,
    re-emitted). So packing streams as a TWO-PHASE ``foreachBatch``
    recurrence instead:

    1. WITHIN each micro-batch, the distributed prefix sum itself
       (``token_budget_batches`` — quantile buckets, local cumsum,
       offset stitch), so one giant arriving batch still never
       collapses into a single task;
    2. ACROSS batches, a carry: batch N's rows are shifted by the
       token total of batches 0..N-1, read from a tiny carry LEDGER
       (one ``(cum_total)`` row per committed batch in
       ``carry_path/_mb_id=K`` holding the CUMULATIVE total through
       K, so the carry is one O(1) direct read of row N-1) — never
       from driver memory.

    The carry ledger is what makes the handoff IDEMPOTENT under
    at-least-once retries: a retried batch N recomputes
    ``carry_in`` from COMMITTED state only (its predecessor's row;
    its own partial writes sit at ``_mb_id = N`` and are
    never read, then overwritten), so the
    shifted offsets, the batch ids, and the ledger row it rewrites
    are bit-identical to the first attempt — within a checkpoint,
    exactly-once per micro-batch id (the ``_mb_id`` sink discipline,
    applied to state as well as output). Output is written BEFORE the
    ledger row so a crash between the two writes replays the batch
    with the same carry_in.

    Semantics: arriving order IS pack order (batch K packs after
    everything in batches < K; ties within a batch break by
    ``id_col`` via the inner prefix sum) — the production crawl-ingest
    contract. When micro-batches arrive id-ordered, the result equals
    the batch packer row-for-row, which is the gated parity property
    (``stream_pack_batches``). At 100 TB the per-batch carry is one
    single-row file read — no output rescan, no ledger listing.
    """
    spark = stream.sparkSession
    out_ddl = (
        f"{id_col} bigint, {count_col} bigint, "
        "global_cum bigint, batch_id int"
    )
    _seed_idempotent_sink(spark, out_path, checkpoint, out_ddl)
    _seed_idempotent_sink(
        spark, carry_path, checkpoint, "cum_total bigint"
    )

    def _process(batch: DataFrame, batch_id: int) -> None:
        pack_stream_batch(
            batch,
            int(batch_id),
            id_col,
            count_col,
            max_tokens,
            out_path,
            carry_path,
        )

    q = (
        stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def pack_stream_batch(
    batch: DataFrame,
    bid: int,
    id_col: str,
    count_col: str,
    max_tokens: int,
    out_path: str,
    carry_path: str,
) -> None:
    """One micro-batch of :func:`pack_stream` — module-level so the
    retry-idempotence contract is directly REPLAYABLE: calling this
    again with a committed batch's id and input rows must leave the
    sink partition and the carry-ledger row bit-identical (pinned in
    ``tests/test_streaming.py``). The carry reads COMMITTED state
    strictly before ``bid`` only; output commits before the ledger
    row so a crash between the two writes replays with the same
    carry_in.

    The ledger row for batch N holds the CUMULATIVE token total
    through batch N, so the carry is one direct read of the
    predecessor's row (``_mb_id = N-1``) — O(1) per batch, no
    directory listing (a per-batch-total ledger would need a
    sum over all earlier rows: O(B) listing per batch, O(B^2)
    metadata calls over a long-running stream — real money on object
    stores). Micro-batch ids are consecutive within a checkpoint and
    a crashed batch recommits BOTH its output and its ledger row on
    replay before the next id runs, so the predecessor row is always
    committed when batch N starts; a missing predecessor falls back
    to the max-committed-row scan rather than silently packing from
    zero."""
    from mldag_spark.operators.packing import token_budget_batches

    spark = batch.sparkSession
    if bid <= 0:
        carry_in = 0
    else:
        prev = f"{carry_path}/_mb_id={bid - 1}"
        jpath = spark._jvm.org.apache.hadoop.fs.Path(prev)
        fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
        if fs.exists(jpath):
            carry_in = int(
                spark.read.parquet(prev).collect()[0]["cum_total"]
            )
        else:
            # resumed checkpoint whose predecessor id predates this
            # ledger, or non-consecutive ids: fall back to the newest
            # committed row strictly before bid (one listing)
            rows = (
                spark.read.parquet(carry_path)
                .filter((F.col("_mb_id") >= 0) & (F.col("_mb_id") < bid))
                .orderBy(F.col("_mb_id").desc())
                .limit(1)
                .collect()
            )
            carry_in = int(rows[0]["cum_total"]) if rows else 0
    # the packer runs three actions over the batch (quantile bounds,
    # bucket totals, the shifted write); cache so a foreachBatch
    # frame doesn't re-read its micro-batch source per action
    with materialize.scope():
        batch = materialize.cache(batch)
        packed = token_budget_batches(
            batch, id_col, count_col, max_tokens
        )
        shifted = packed.select(
            F.col(id_col).cast("long").alias(id_col),
            F.col(count_col).cast("long").alias(count_col),
            (F.col("global_cum") + F.lit(carry_in))
            .cast("long")
            .alias("global_cum"),
            F.floor(
                (F.col("global_cum") + F.lit(carry_in) - F.col(count_col))
                / max_tokens
            )
            .cast("int")
            .alias("batch_id"),
        )
        shifted.write.mode("overwrite").parquet(
            f"{out_path}/_mb_id={bid}"
        )
    total = (
        spark.read.parquet(f"{out_path}/_mb_id={bid}")
        .agg(F.coalesce(F.sum(count_col), F.lit(0)).alias("t"))
        .collect()[0]["t"]
    )
    spark.createDataFrame(
        [(int(carry_in) + int(total),)], "cum_total bigint"
    ).write.mode("overwrite").parquet(f"{carry_path}/_mb_id={bid}")


def mg_sketch_stream(
    stream: DataFrame,
    elem_col: str,
    k: int,
    sketch_path: str,
    checkpoint: str,
):
    """Streaming Misra-Gries heavy-hitter sketch (r15): the k-counter
    summary is MERGEABLE state maintained across micro-batches under
    the ``_mb_id`` ledger discipline — batch N merges its exact
    per-batch counts into the COMMITTED summary of batch N-1 (one
    direct O(1) read, the ``pack_stream`` carry pattern) and
    overwrites only its own ledger row, so an at-least-once retry
    recomputes bit-identical state. Each committed summary is at most
    ``k`` rows; the merge is the Agarwal et al. rule executed
    RELATIONALLY (union → sum → subtract the (k+1)-th largest —
    fetched via a bounded k+1-row sort-limit — keep positive), so the
    only driver materialization is k+1 rows per batch regardless of
    batch size.

    Guarantee carried across any batch slicing: total undercount per
    element <= N/(k+1), so every element with global frequency
    > N/k has a positive final counter — the drained summary is a
    no-false-negative candidate set for an exact verify pass
    (``stream_heavy_hitters`` gates exactly that against the batch
    two-pass oracle)."""
    spark = stream.sparkSession
    _seed_idempotent_sink(
        spark, sketch_path, checkpoint, f"{elem_col} string, cnt bigint"
    )

    def _process(batch: DataFrame, batch_id: int) -> None:
        mg_sketch_stream_batch(
            batch, int(batch_id), elem_col, k, sketch_path
        )

    q = (
        stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def mg_sketch_stream_batch(
    batch: DataFrame,
    bid: int,
    elem_col: str,
    k: int,
    sketch_path: str,
) -> None:
    """One micro-batch of :func:`mg_sketch_stream` — module-level so
    the retry contract is replayable (the ``pack_stream_batch``
    convention): reads only COMMITTED state strictly before ``bid``,
    writes only its own ledger row."""
    spark = batch.sparkSession
    if bid <= 0:
        prev = spark.createDataFrame(
            [], f"{elem_col} string, cnt bigint"
        )
    else:
        path = f"{sketch_path}/_mb_id={bid - 1}"
        jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
        fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
        if fs.exists(jpath):
            prev = spark.read.parquet(path).select(elem_col, "cnt")
        else:
            # resumed checkpoint predating this ledger: newest
            # committed row-set strictly before bid (one listing)
            committed = (
                spark.read.parquet(sketch_path)
                .filter((F.col("_mb_id") >= 0) & (F.col("_mb_id") < bid))
            )
            rows = (
                committed.select(F.max("_mb_id").alias("m")).collect()
            )
            m = rows[0]["m"]
            prev = (
                committed.filter(F.col("_mb_id") == m)
                .select(elem_col, "cnt")
                if m is not None
                else spark.createDataFrame(
                    [], f"{elem_col} string, cnt bigint"
                )
            )

    counts = (
        batch.select(elem_col)
        .groupBy(elem_col)
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    u = (
        counts.unionByName(prev)
        .groupBy(elem_col)
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )
    # Agarwal et al. merge: if more than k counters survive, subtract
    # the (k+1)-th largest count from all and keep strictly positive
    # (at most k values exceed the (k+1)-th largest, so <= k remain).
    # The sort-limit is k+1 rows — driver-bounded regardless of the
    # batch's distinct-element count — and the new summary is fully
    # derivable from those rows (every survivor has cnt > cut, so it
    # sits inside the top k of topk1; in the <= k case topk1 IS all
    # of u), so the merged aggregation runs ONCE per batch, not once
    # for the cut and again for the write (code-review r15 late-2 #5).
    topk1 = u.orderBy(F.desc("cnt"), F.asc(elem_col)).limit(k + 1).collect()
    if len(topk1) > k:
        cut = int(topk1[-1]["cnt"])
        out = [
            (r[elem_col], int(r["cnt"]) - cut)
            for r in topk1
            if int(r["cnt"]) > cut
        ]
    else:
        out = [(r[elem_col], int(r["cnt"])) for r in topk1]
    spark.createDataFrame(
        out, f"{elem_col} string, cnt bigint"
    ).write.mode("overwrite").parquet(f"{sketch_path}/_mb_id={bid}")
