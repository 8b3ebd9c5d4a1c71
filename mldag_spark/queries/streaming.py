"""Structured Streaming queries (driver contract entries).

Each entry executes the *streaming* plan (state store, watermarks,
session windows) over the finite test data with an ``availableNow``
trigger into a memory sink, so the driver can compare the emitted
result against the batch oracle — streaming/batch parity is exactly
the property worth gating.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from mldag_spark.queries import register
from mldag_spark import streaming as S

_COUNTER = [0]


def _unique(name: str) -> str:
    # memory sink query names must be unique within a session
    _COUNTER[0] += 1
    return f"{name}_{_COUNTER[0]}"


def _stream_workdir(prefix: str) -> str:
    """Fresh parquet-sink + checkpoint work dir, registered for
    removal at interpreter exit (ADVICE r11: repeated registry/bench
    runs were accumulating sink+checkpoint data in the temp dir on
    both foreachBatch paths). Cleanup is deferred to atexit — not
    done eagerly — because the returned DataFrames read the sink
    lazily for the rest of the session."""
    import atexit
    import shutil
    import tempfile

    work = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, work, ignore_errors=True)
    return work


@register(
    "stream_hourly_rollup",
    oracle="""
    SELECT DATE_TRUNC('hour', ts) AS window_start, event_type,
           COUNT(*) AS n_events,
           CAST(ROUND(SUM(CAST((value) AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window streaming aggregate; complete output mode emits
    every window, so the result must equal the batch rollup."""
    ev = S.events_stream(spark, sf_dir)
    out = S.windowed_rollup(ev, window="1 hour", watermark="2 hours")
    res = S.run_to_memory(
        out, _unique("stream_hourly"), output_mode="complete"
    )
    return res.select("window_start", "event_type", "n_events", "total_value")


@register(
    "stream_sessionization",
    oracle="""
    WITH ev AS (
        SELECT user_id, date_trunc('microseconds', ts) AS ts, event_id
        FROM events
    ), flagged AS (
        SELECT user_id, ts, event_id,
               CASE WHEN ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
                    OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
        FROM ev
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
        SELECT user_id, ts,
               CAST(SUM(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS session_no
        FROM flagged
    )
    SELECT user_id,
           COUNT(*) AS n_events,
           MIN(ts) AS session_start,
           MAX(ts) AS session_end
    FROM sessions
    GROUP BY user_id, session_no
    """,
)
def stream_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Built-in ``session_window`` (30-min gap) over the stream; equals
    the batch lag/running-sum sessionization. (Session windows close at
    [first, last+gap); a gap of exactly 30:00.000000 would differ from
    the batch strict-> comparison — measure-zero on µs data.)"""
    ev = S.events_stream(spark, sf_dir)
    out = S.sessionize(ev, gap="30 minutes", watermark="2 hours")
    return S.run_to_memory(
        out, _unique("stream_sessions"), output_mode="complete"
    )


@register(
    "stream_user_totals",
    oracle="""
    SELECT user_id,
           COUNT(*) AS n_events,
           CAST(ROUND(SUM(CAST((value) AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_value
    FROM events
    GROUP BY user_id
    """,
)
def stream_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (``applyInPandasWithState``): final
    per-user totals after draining the stream equal the batch groupBy.
    The test data is a single file → a single micro-batch, so the
    update-mode memory sink holds exactly one row per user."""
    ev = S.events_stream(spark, sf_dir)
    out = S.running_user_totals(ev)
    res = S.run_to_memory(
        out, _unique("stream_totals"), output_mode="update"
    )
    return res.select(
        "user_id",
        "n_events",
        F.round("total_value", 2).alias("total_value"),
    )


@register(
    "stream_sliding_counts",
    oracle="""
    WITH expanded AS (
        SELECT event_type,
               unnest([
                   date_trunc('hour', ts)
                     + CASE WHEN extract(minute from ts) >= 30
                            THEN INTERVAL 30 MINUTE ELSE INTERVAL 0 MINUTE END,
                   date_trunc('hour', ts)
                     + CASE WHEN extract(minute from ts) >= 30
                            THEN INTERVAL 30 MINUTE ELSE INTERVAL 0 MINUTE END
                     - INTERVAL 30 MINUTE
               ]) AS window_start
        FROM events
    )
    SELECT window_start, event_type, COUNT(*) AS n_events
    FROM expanded
    GROUP BY 1, 2
    """,
)
def stream_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window (1h every 30min): every event lands in exactly two
    overlapping windows; the oracle expands the same membership
    manually (trunc-to-half-hour and its predecessor)."""
    ev = S.events_stream(spark, sf_dir)
    out = (
        ev.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "n_events",
        )
    )
    res = S.run_to_memory(out, _unique("stream_sliding"), output_mode="complete")
    return res


@register(
    "stream_dedup_keys",
    oracle="""
    SELECT DISTINCT user_id, event_type FROM events
    """,
)
def stream_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact deduplication: ``dropDuplicates`` on the key
    columns keeps the first arrival per key in the state store — the
    streaming mirror of batch DISTINCT. Only the keys are emitted
    (which arrival wins is arrival-order dependent, so payload columns
    would not be oracle-stable). At 100 TB the state is bounded by key
    cardinality, not stream length; pair with
    ``dropDuplicatesWithinWatermark`` when keys can expire."""
    ev = S.events_stream(spark, sf_dir)
    out = ev.select("user_id", "event_type").dropDuplicates(
        ["user_id", "event_type"]
    )
    return S.run_to_memory(out, _unique("stream_dedup"), output_mode="append")


@register(
    "stream_stream_join",
    oracle="""
    WITH v AS (
        SELECT user_id, date_trunc('microseconds', ts) AS ts FROM events
        WHERE event_type = 'view'
    ),
    c AS (
        SELECT user_id, date_trunc('microseconds', ts) AS ts FROM events
        WHERE event_type = 'click'
    )
    SELECT v.user_id, COUNT(*) AS n_view_click_pairs
    FROM v JOIN c ON c.user_id = v.user_id
              AND c.ts >= v.ts
              AND c.ts <= v.ts + INTERVAL 10 MINUTE
    GROUP BY v.user_id
    """,
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join: views joined to clicks by the same
    user within 10 minutes. Both sides carry watermarks and the join
    condition carries the time bound, so the state store can expire
    rows — the mechanism that keeps stream-stream join state finite on
    an unbounded stream. The availableNow drain over the finite test
    file must equal the batch/DuckDB join."""
    ev = S.events_stream(spark, sf_dir)
    v = (
        ev.filter(F.col("event_type") == "view")
        .select("user_id", F.col("ts").alias("v_ts"))
        .withWatermark("v_ts", "1 hour")
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .selectExpr("user_id AS c_user", "ts AS c_ts")
        .withWatermark("c_ts", "1 hour")
    )
    joined = v.join(
        c,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("v_ts"))
        & (F.col("c_ts") <= F.col("v_ts") + F.expr("INTERVAL 10 MINUTES")),
    )
    res = S.run_to_memory(
        joined.select("user_id"), _unique("stream_ssj"), output_mode="append"
    )
    return res.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_view_click_pairs")
    )


@register(
    "stream_static_enrich",
    oracle="""
    SELECT n_name,
           COUNT(*) AS n_events,
           CAST(ROUND(SUM(CAST((value) AS DECIMAL(18,6))), 2) AS DOUBLE)
               AS total_value
    FROM events
    JOIN customer ON c_custkey = user_id
    JOIN nation ON n_nationkey = c_nationkey
    GROUP BY n_name
    """,
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment: the event stream joins two STATIC
    dimension tables (customer → nation) before a streaming aggregate —
    the standard streaming-ETL enrichment shape. Stream-static joins
    are stateless (each micro-batch joins against the current static
    snapshot; Spark broadcasts the dim side), so unlike stream-stream
    joins they need no watermark state. Complete-mode output must equal
    the batch join+rollup, which is the oracle."""
    from mldag_spark.queries.tables import load

    ev = S.events_stream(spark, sf_dir)
    cust = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_nationkey"
    )
    nat = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nationkey"), "n_name"
    )
    enriched = ev.join(F.broadcast(cust), "user_id").join(
        F.broadcast(nat), "c_nationkey"
    )
    agg = enriched.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(
            F.sum(F.col("value").cast("decimal(18,6)")), 2
        ).cast("double").alias("total_value"),
    )
    res = S.run_to_memory(
        agg, _unique("stream_enrich"), output_mode="complete"
    )
    return res.select("n_name", "n_events", "total_value")


@register(
    "stream_incremental_dedup",
    oracle="""
    WITH t AS (
        SELECT doc_id,
               list_distinct(
                 CASE WHEN len(toks) <= 3
                      THEN [array_to_string(toks, ' ')]
                      ELSE list_transform(range(1, len(toks) - 1),
                           i -> array_to_string(toks[i:i+2], ' '))
                 END) AS sh
        FROM (
            SELECT doc_id,
                   string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')
                       AS toks
            FROM documents
        )
    ), exploded AS (
        SELECT doc_id, unnest(sh) AS shingle FROM t
    ), pairs AS (
        SELECT a.doc_id AS batch_id, b.doc_id AS index_id,
               COUNT(*) AS n_common
        FROM exploded a JOIN exploded b
          ON a.shingle = b.shingle
         AND a.doc_id % 2 = 1 AND b.doc_id % 2 = 0
        GROUP BY 1, 2
    )
    SELECT p.batch_id, p.index_id,
           ROUND(CAST(p.n_common AS DOUBLE)
                 / (len(ta.sh) + len(tb.sh) - p.n_common), 4) AS jaccard
    FROM pairs p
    JOIN t ta ON ta.doc_id = p.batch_id
    JOIN t tb ON tb.doc_id = p.index_id
    WHERE CAST(p.n_common AS DOUBLE)
          / (len(ta.sh) + len(tb.sh) - p.n_common) >= 0.8
    """,
)
def stream_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming incremental-ingestion dedup (VERDICT r2/r4 ask):
    odd doc_ids arrive as the streamed crawl, even doc_ids are the
    persisted historical index; every micro-batch is checked against
    the CACHED band index through ``foreachBatch`` →
    ``incremental_lsh_pairs`` and matches land in a parquet sink.
    Must equal the batch formulation (``dedup_incremental_batch``) —
    streaming/batch parity for the dedup recurrence."""
    from mldag_spark.functions import shingle_rows
    from mldag_spark.queries.tables import load

    d = load(spark, sf_dir, "documents")
    index_rows = shingle_rows(
        d.filter(F.col("doc_id") % 2 == 0), "doc_id", "text", 3
    )
    work = _stream_workdir("stream_incdedup_")
    out_path = f"{work}/pairs"
    S.incremental_dedup_stream(
        S.documents_stream(spark, sf_dir).filter(F.col("doc_id") % 2 == 1),
        index_rows,
        out_path=out_path,
        checkpoint=f"{work}/ckpt",
        shingle_fn=lambda batch: shingle_rows(batch, "doc_id", "text", 3),
        threshold=0.8,
    )
    # drop the sink's idempotency partition column (_mb_id): the
    # logical result is the pair set, not the micro-batch layout
    return spark.read.parquet(out_path).select(
        "batch_id", "index_id", "jaccard"
    )


@register("stream_decontaminate_bloom")  # oracle set below: shares the
# batch query's oracle VERBATIM so the two can never drift

def stream_decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming decontamination — the production crawl-ingest shape:
    the benchmark bloom is built ONCE from the static test split
    (closure-sized bitmap), and every arriving micro-batch of train
    documents is probed MAP-ONLY inside ``foreachBatch``
    (``bloom_survivors`` — contamination is decided per document, so
    any micro-batch slicing computes identical survivors), landing in
    the `_mb_id`-idempotent parquet sink. The result must equal the
    batch query, so it shares ``text_decontaminate_bloom``'s oracle
    VERBATIM — streaming/batch parity is the gated property, exactly
    like ``stream_incremental_dedup``."""
    from mldag_spark.queries.tables import load
    from mldag_spark.queries.text import (
        _split_bucket,
        bloom_survivors,
        decontamination_bloom,
    )

    docs = load(spark, sf_dir, "documents").withColumn(
        "bucket", _split_bucket()
    )
    bitmap = decontamination_bloom(docs)

    stream = (
        S.documents_stream(spark, sf_dir)
        .withColumn("bucket", _split_bucket())
        .filter(F.col("bucket") < 80)
    )
    work = _stream_workdir("stream_decon_")
    out_path = f"{work}/survivors"
    S.map_stream_to_parquet(
        stream,
        lambda batch: bloom_survivors(batch, bitmap).selectExpr(
            "cast(doc_id as bigint) doc_id",
            "cast(source as string) source",
            "cast(n_chars as bigint) n_chars",
        ),
        "doc_id bigint, source string, n_chars bigint",
        out_path=out_path,
        checkpoint=f"{work}/ckpt",
    )
    return spark.read.parquet(out_path).select("doc_id", "source", "n_chars")


# the streaming result must hash-match the BATCH bloom pass — share
# its oracle string verbatim so the two can never drift
from mldag_spark.queries import ORACLES as _ORACLES  # noqa: E402
from mldag_spark.queries.text import _DECON_BLOOM_ORACLE as _DBO  # noqa: E402

_ORACLES["stream_decontaminate_bloom"] = _DBO


@register("stream_image_decode")  # oracle set below: shares the batch
# image-decode query's oracle VERBATIM so the two can never drift


def stream_image_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming media ingest + decode — the crawl shape for the
    MULTIMODAL seam (r13): documents arrive as micro-batches, each
    batch is synthesized into real PNG containers and parsed back by
    the spec-correct stdlib reader inside ``foreachBatch``
    (decode is decided per document, so any micro-batch slicing
    computes identical rows), landing in the ``_mb_id``-idempotent
    parquet sink. The result must equal the batch query, so it shares
    ``multimodal_image_decode``'s oracle VERBATIM — streaming/batch
    parity for the codec path, exactly like
    ``stream_decontaminate_bloom`` did for decontamination. At 100 TB
    this is the ingest-time decode audit: per-row Arrow work, no
    shuffle, exactly-once sink commits per micro-batch."""
    from mldag_spark.operators.multimodal import (
        decode_image_stats,
        synthesize_png,
    )

    work = _stream_workdir("stream_imgdec_")
    out_path = f"{work}/stats"
    S.map_stream_to_parquet(
        S.documents_stream(spark, sf_dir),
        lambda batch: decode_image_stats(
            synthesize_png(batch, "doc_id", "text"), engine="stdlib"
        ).selectExpr(
            "cast(media_id as bigint) media_id",
            "ok",
            "cast(width as int) width",
            "cast(height as int) height",
            "cast(n_pixels as bigint) n_pixels",
        ),
        "media_id bigint, ok boolean, width int, height int, "
        "n_pixels bigint",
        out_path=out_path,
        checkpoint=f"{work}/ckpt",
    )
    return spark.read.parquet(out_path).select(
        "media_id", "ok", "width", "height", "n_pixels"
    )


from mldag_spark.queries.multimodal import (  # noqa: E402
    IMAGE_DECODE_ORACLE as _IDO,
)

_ORACLES["stream_image_decode"] = _IDO


@register(
    "stream_pipeline_clean",
    oracle=f"""
    WITH cleaned AS (
        SELECT doc_id,
               trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS clean
        FROM documents
    ), dedup AS (
        SELECT doc_id, clean FROM (
            SELECT doc_id, clean,
                   ROW_NUMBER() OVER (
                       PARTITION BY md5(clean) ORDER BY doc_id
                   ) AS rk
            FROM cleaned
        ) WHERE rk = 1
    ), scored AS (
        SELECT doc_id, clean,
               len(string_split(clean, ' ')) AS n_tokens,
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                 % 100 AS bucket
        FROM dedup
        WHERE len(string_split(clean, ' ')) BETWEEN 5 AND 1000
          AND CAST(len(list_distinct(string_split(clean, ' '))) AS DOUBLE)
              / len(string_split(clean, ' ')) > 0.3
    ), sh AS (
        SELECT DISTINCT doc_id, bucket,
               array_to_string(toks[u:u+4], ' ') AS s
        FROM (SELECT doc_id, bucket,
                     string_split(clean, ' ') AS toks
              FROM scored) t,
             unnest(generate_series(1, len(toks) - 4)) AS g(u)
    ), hashed AS (
        SELECT doc_id, bucket, s,
               ('0x' || substr(md5(s), 1, 8))::BIGINT AS h1,
               ('0x' || substr(md5(s), 9, 8))::BIGINT AS h2
        FROM sh
    ), pos AS (
        SELECT DISTINCT (h1 + g.i * h2) % {1 << 20} AS p
        FROM (SELECT h1, h2 FROM hashed WHERE bucket >= 90),
             unnest([0, 1, 2, 3]) AS g(i)
    ), dirty AS (
        SELECT doc_id
        FROM hashed
        WHERE bucket < 80
          AND (h1 + 0 * h2) % {1 << 20} IN (SELECT p FROM pos)
          AND (h1 + 1 * h2) % {1 << 20} IN (SELECT p FROM pos)
          AND (h1 + 2 * h2) % {1 << 20} IN (SELECT p FROM pos)
          AND (h1 + 3 * h2) % {1 << 20} IN (SELECT p FROM pos)
        GROUP BY doc_id
        HAVING COUNT(*) >= 3
    )
    SELECT doc_id, n_tokens FROM scored
    WHERE bucket < 80
      AND doc_id NOT IN (SELECT doc_id FROM dirty)
    """,
)
def stream_pipeline_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING twin of ``dag_pipeline_clean_pack``'s first half
    (r14 — VERDICT r13 #7): clean → exact dedup → quality gate →
    bloom decontaminate, composed in ONE Structured Streaming query
    over arriving document micro-batches.

    Why this shape: exact dedup needs CROSS-batch state, and a
    streaming query gets exactly one stateful aggregation — so dedup
    takes it (``groupBy(md5(clean)).agg(min(doc_id), min(clean))``,
    complete mode: deterministic keep-min-id under ANY micro-batch
    slicing, unlike first-arrival ``dropDuplicates``; every member of
    a hash group carries identical text, so ``min(clean)`` IS the
    text). Everything downstream is stateless per-row work on the
    deduped state: the token-count/diversity gate, the md5 train
    bucket, and the bloom probe — which counts distinct hit shingles
    PER ROW (``operators.bloom.bloom_distinct_hits``) because the
    relational distinct+groupBy formulation (``bloom_survivors``)
    would be a second aggregation, which streaming forbids. The test
    bloom is the BATCH-built artifact (the
    ``stream_decontaminate_bloom`` pattern) over the same
    clean→dedup→gate front half's test split.

    The oracle replays all four stages plus the exact bloom
    arithmetic relationally — streaming/batch parity for the composed
    pipeline, the gated property. Honest 100 TB notes: (1)
    complete-mode dedup state carries the representative text; a
    production run keeps (hash, doc_id) state and re-joins text from
    storage, which changes bytes-in-state, not survivors. (2) the
    bloom is sized from the test split's measured distinct-shingle
    count (``decontamination_bloom``, the batch decontamination
    route): one approx-count action, then a bitmap of 16 bits per
    element floored at 2^20, sharded over the 2^32-bit cap. At every
    gate scale the size is that floor, the arithmetic the oracle
    replays. A fixed 2^20-bit filter SATURATES as the split grows
    (measured at sf10: every probe a hit, zero survivors), where the
    sized one keeps survivors corpus-linear (SCALING
    ``stream_pipeline_clean``)."""
    from mldag_spark.operators.bloom import bloom_distinct_hits
    from mldag_spark.queries.tables import load
    from mldag_spark.queries.text import (
        _split_bucket,
        decontamination_bloom,
        pipeline_clean_stage,
        pipeline_dedup_stage,
        pipeline_gate_exprs,
    )

    # batch-side bloom artifact over the pipeline's own test split —
    # built with the SHARED front-half stage contract (queries/
    # text.py; code-review r14 #6), so it can never drift from the
    # streaming formulation below or the batch pipeline DAGs
    d = load(spark, sf_dir, "documents")
    _n, _dr, keep = pipeline_gate_exprs()
    scored = pipeline_dedup_stage(pipeline_clean_stage(d)).filter(keep)
    n_hits = bloom_distinct_hits(decontamination_bloom(
        scored.withColumn("bucket", _split_bucket()), text_col="clean"
    ))

    stream = pipeline_clean_stage(S.documents_stream(spark, sf_dir))
    agg = stream.groupBy(F.md5(F.col("clean")).alias("_h")).agg(
        F.min("doc_id").alias("doc_id"), F.min("clean").alias("clean")
    )
    shingle_arr = F.expr(
        "transform(sequence(1, size(split(clean, ' ')) - 4),"
        " i -> array_join(slice(split(clean, ' '), i, 5), ' '))"
    )
    n_toks, _dr2, keep2 = pipeline_gate_exprs()
    out = (
        agg.withColumn("n_tokens", n_toks)
        .filter(keep2)
        .withColumn("bucket", _split_bucket())
        .filter(F.col("bucket") < 80)
        .withColumn("n_hits", n_hits(shingle_arr))
        .filter(F.col("n_hits") < 3)
        .select("doc_id", "n_tokens")
    )
    res = S.run_to_memory(
        out, _unique("stream_pipeclean"), output_mode="complete"
    )
    return res.select("doc_id", "n_tokens")


@register("stream_pack_batches")  # oracle set below: shares the batch
# packer's oracle VERBATIM so the two can never drift


def stream_pack_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING token-budget packing (r15 — VERDICT r14 #6): the
    pack stage of the training-export pipeline over arriving
    micro-batches. Packing's global running sum cannot live inside a
    streaming aggregation (it is unbounded per-row state and would be
    a SECOND aggregation behind any dedup/gate stage — the
    one-stateful-agg boundary ``stream_pipeline_clean`` documents),
    so it streams as the ``foreachBatch`` two-phase recurrence in
    :func:`mldag_spark.streaming.pack_stream`: the distributed prefix
    sum WITHIN each micro-batch, an idempotent per-batch carry LEDGER
    across batches (committed state, never driver memory — a retried
    batch recomputes its carry from batches strictly before it and
    overwrites only its own partitions, the ``_mb_id`` discipline
    applied to state as well as output).

    Arrival order is pack order, so for the gated property the
    documents arrive as FOUR id-range micro-batches in id order
    (``repartitionByRange`` + per-file mtime stamping +
    ``maxFilesPerTrigger=1``): the streamed result must then equal
    the batch packer ROW-FOR-ROW — ``pack_token_budget_batches``'s
    oracle shared VERBATIM, the ``stream_decontaminate_bloom``
    precedent. The cross-batch carry is non-vacuous by construction
    (every batch after the first is shifted by its predecessors'
    token totals; pinned with a two-batch minimum in
    ``tests/test_streaming.py``)."""
    from mldag_spark.functions import tokenize
    from mldag_spark.queries.tables import load

    d = load(spark, sf_dir, "documents")
    counts = d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.size(tokenize(F.col("text"))).cast("long").alias("n_tokens"),
    )
    work = _stream_workdir("stream_pack_")
    src = f"{work}/src"
    S.stage_id_ordered_micro_batches(counts, src, 4, "doc_id")

    stream = (
        spark.readStream.schema("doc_id bigint, n_tokens bigint")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    S.pack_stream(
        stream,
        "doc_id",
        "n_tokens",
        max_tokens=4096,
        out_path=f"{work}/packed",
        checkpoint=f"{work}/ckpt",
        carry_path=f"{work}/carry",
    )
    return spark.read.parquet(f"{work}/packed").select(
        "doc_id", "n_tokens", "global_cum", "batch_id"
    )


# the streamed pack must hash-match the BATCH packer — share its
# oracle string verbatim so the two can never drift (import the source
# module explicitly: its registration populates ORACLES, and relying
# on an earlier block's import is an ordering trap)
from mldag_spark.queries import ORACLES as _ORACLES2  # noqa: E402
from mldag_spark.queries import text as _text_oracles  # noqa: E402,F401

_ORACLES2["stream_pack_batches"] = _ORACLES2["pack_token_budget_batches"]


@register("stream_heavy_hitters")  # oracle set below: shares the batch
# heavy-hitters oracle VERBATIM so the two can never drift


def stream_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING heavy hitters (r15) — the Misra-Gries k-counter
    summary as MERGEABLE micro-batch state: documents arrive as four
    id-range micro-batches, each batch's exact token counts merge
    into the committed summary of its predecessor under the
    ``_mb_id`` ledger discipline (:func:`mldag_spark.streaming.
    mg_sketch_stream` — O(1) predecessor read, retry recomputes
    bit-identical state, at most k rows committed per batch, k+1-row
    bounded driver materialization per merge regardless of batch
    size). The streaming guarantee — total undercount <= N/(k+1)
    under ANY batch slicing — makes the drained summary a
    no-false-negative candidate set, so the exact verify pass over
    the full corpus returns EXACTLY the batch two-pass result:
    ``text_heavy_hitters``'s oracle shared VERBATIM, the
    ``stream_pack_batches`` precedent."""
    from mldag_spark.functions import tokenize
    from mldag_spark.queries.tables import load

    k = 200
    d = load(spark, sf_dir, "documents")
    tokens = d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.explode(tokenize(F.col("text"))).alias("w"),
    )
    work = _stream_workdir("stream_hh_")
    src = f"{work}/src"
    S.stage_id_ordered_micro_batches(tokens, src, 4, "doc_id")

    S.mg_sketch_stream(
        spark.readStream.schema("doc_id bigint, w string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        "w",
        k,
        sketch_path=f"{work}/sketch",
        checkpoint=f"{work}/ckpt",
    )

    committed = spark.read.parquet(f"{work}/sketch").filter(
        F.col("_mb_id") >= 0
    )
    last = committed.select(F.max("_mb_id").alias("m"))
    cand = (
        committed.join(F.broadcast(last), F.col("_mb_id") == F.col("m"))
        .select("w")
    )
    ex = d.select(F.explode(tokenize(F.col("text"))).alias("w"))
    total = ex.select(F.count(F.lit(1)).cast("long").alias("_n"))
    return (
        ex.join(F.broadcast(cand), "w", "left_semi")
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .crossJoin(F.broadcast(total))
        .filter(F.col("cnt") * k > F.col("_n"))
        .drop("_n")
    )


# the streamed sketch's exact verify must hash-match the batch
# two-pass — share its oracle string verbatim (source module imported
# above for the pack alias; same ORACLES handle)
_ORACLES2["stream_heavy_hitters"] = _ORACLES2["text_heavy_hitters"]


@register("stream_pipeline_pack")  # oracle set below (composes the
# decon stage's oracle CTEs with the pack cumsum — built from the
# same _BLOOM_M constant so the stage rule can never drift)


def stream_pipeline_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END STREAMED export path (r15): streamed bloom
    decontamination chained into streamed token-budget packing — the
    two ``foreachBatch`` stage disciplines composed. Stage 1 IS the
    registered ``stream_decontaminate_bloom`` query (called, not
    re-derived — zero drift with the gated stage): train documents
    arrive as micro-batches, each probed map-only against the
    batch-built test-split bloom, survivors landing in the
    ``_mb_id``-idempotent sink. Stage 2 stages the survivors as four
    id-range micro-batches (``stage_id_ordered_micro_batches`` — the
    deterministic handoff artifact between chained streams) and runs
    :func:`mldag_spark.streaming.pack_stream` over their ``n_chars``
    (a 65536-char shard budget: packing by bytes/chars is the export
    shape when token counts aren't in the survivor schema), with the
    cumulative carry ledger giving idempotent cross-batch offsets.

    The oracle replays decontamination + the survivor-ordered cumsum
    relationally, so the gate pins the WHOLE chain: streamed stage 1
    == the batch bloom pass, and streamed stage 2 == the batch packer
    over exactly those survivors."""
    from mldag_spark.queries import REGISTRY

    survivors = REGISTRY["stream_decontaminate_bloom"](spark, sf_dir)
    counts = survivors.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_chars").cast("long").alias("n_chars"),
    )
    work = _stream_workdir("stream_pipepack_")
    src = f"{work}/src"
    S.stage_id_ordered_micro_batches(counts, src, 4, "doc_id")
    S.pack_stream(
        spark.readStream.schema("doc_id bigint, n_chars bigint")
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        "doc_id",
        "n_chars",
        max_tokens=65536,
        out_path=f"{work}/packed",
        checkpoint=f"{work}/ckpt",
        carry_path=f"{work}/carry",
    )
    return spark.read.parquet(f"{work}/packed").select(
        "doc_id", "n_chars", "global_cum", "batch_id"
    )


from mldag_spark.queries.text import _BLOOM_M as _BM  # noqa: E402

_ORACLES2["stream_pipeline_pack"] = f"""
    WITH t AS (
        SELECT doc_id,
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                 % 100 AS bucket,
               string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')
                   AS toks
        FROM documents
    ), sh AS (
        SELECT DISTINCT doc_id, bucket,
               array_to_string(toks[u:u+4], ' ') AS s
        FROM (SELECT doc_id, bucket, toks,
                     unnest(generate_series(1, len(toks) - 4)) AS u
              FROM t)
    ), hashed AS (
        SELECT doc_id, bucket, s,
               ('0x' || substr(md5(s), 1, 8))::BIGINT AS h1,
               ('0x' || substr(md5(s), 9, 8))::BIGINT AS h2
        FROM sh
    ), pos AS (
        SELECT DISTINCT (h1 + g.i * h2) % {_BM} AS p
        FROM (SELECT h1, h2 FROM hashed WHERE bucket >= 90),
             unnest([0, 1, 2, 3]) AS g(i)
    ), dirty AS (
        SELECT doc_id
        FROM hashed
        WHERE bucket < 80
          AND (h1 + 0 * h2) % {_BM} IN (SELECT p FROM pos)
          AND (h1 + 1 * h2) % {_BM} IN (SELECT p FROM pos)
          AND (h1 + 2 * h2) % {_BM} IN (SELECT p FROM pos)
          AND (h1 + 3 * h2) % {_BM} IN (SELECT p FROM pos)
        GROUP BY doc_id
        HAVING COUNT(*) >= 3
    ), surv AS (
        SELECT d.doc_id, d.n_chars
        FROM documents d
        JOIN t ON t.doc_id = d.doc_id
        WHERE t.bucket < 80
          AND d.doc_id NOT IN (SELECT doc_id FROM dirty)
    ), c AS (
        SELECT doc_id, n_chars,
               CAST(SUM(n_chars) OVER (
                   ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS global_cum
        FROM surv
    )
    SELECT doc_id, n_chars, global_cum,
           CAST((global_cum - n_chars) // 65536 AS INT) AS batch_id
    FROM c
"""
