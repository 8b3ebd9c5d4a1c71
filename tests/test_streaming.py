"""Streaming/batch parity tests (availableNow trigger + memory sink
executes the real streaming plan, state store included)."""

from __future__ import annotations

from pyspark.sql import functions as F

from mldag_spark import streaming as S
from mldag_spark.queries.tables import load


def test_windowed_rollup_matches_batch(spark, sf_dir):
    ev = S.events_stream(spark, sf_dir)
    out = S.run_to_memory(
        S.windowed_rollup(ev, window="1 hour"),
        "t_rollup",
        output_mode="complete",
    )
    batch = (
        load(spark, sf_dir, "events")
        .groupBy(
            F.date_trunc("hour", "ts").alias("window_start"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )
    got = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in out.collect()
    }
    want = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in batch.collect()
    }
    assert got == want


def test_session_window_counts(spark, sf_dir):
    ev = S.events_stream(spark, sf_dir)
    out = S.run_to_memory(
        S.sessionize(ev, gap="30 minutes"),
        "t_sessions",
        output_mode="complete",
    )
    rows = out.collect()
    # sessions partition the events: per-user session counts sum to the
    # user's event count, and sessions never overlap
    per_user_events = dict(
        load(spark, sf_dir, "events")
        .groupBy("user_id")
        .count()
        .collect()
    )
    seen: dict[int, int] = {}
    by_user: dict[int, list] = {}
    for r in rows:
        seen[r["user_id"]] = seen.get(r["user_id"], 0) + r["n_events"]
        by_user.setdefault(r["user_id"], []).append(
            (r["session_start"], r["session_end"])
        )
        assert r["session_start"] <= r["session_end"]
    assert seen == per_user_events
    for spans in by_user.values():
        spans.sort()
        for (s1, e1), (s2, _e2) in zip(spans, spans[1:]):
            assert e1 < s2  # strictly ordered, non-overlapping


def test_stateful_user_totals(spark, sf_dir):
    ev = S.events_stream(spark, sf_dir)
    out = S.run_to_memory(
        S.running_user_totals(ev), "t_totals", output_mode="update"
    )
    # single input file → one micro-batch → exactly the final totals
    got = {
        r["user_id"]: (r["n_events"], round(r["total_value"], 2))
        for r in out.collect()
    }
    want = {
        r["user_id"]: (r["n"], round(r["s"], 2))
        for r in load(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
        .collect()
    }
    assert got == want


def test_file_sink_roundtrip(tmp_path, spark, sf_dir):
    ev = S.events_stream(spark, sf_dir)
    q = S.write_stream(
        S.windowed_rollup(ev, window="6 hours", watermark="1 hour"),
        path=str(tmp_path / "out"),
        checkpoint=str(tmp_path / "ckpt"),
        output_mode="append",
    )
    q.awaitTermination(60)
    q.stop()
    back = spark.read.parquet(str(tmp_path / "out"))
    assert back.columns == [
        "window_start", "window_end", "event_type", "n_events", "total_value"
    ]
    # append mode emits only watermark-closed windows; all but the last
    # hour of data must be present
    assert back.count() > 0


def test_upsert_sink_last_writer_wins_and_idempotent(
    spark, sf_dir, tmp_path, persistent_rdds
):
    # drain the events stream into a keyed upsert target: latest event
    # per (user_id, event_type), partitioned by event_type
    target = str(tmp_path / "target")
    before = persistent_rdds()

    def drain(ckpt: str):
        q = S.write_stream_upsert(
            S.events_stream(spark, sf_dir).select(
                "user_id", "event_type", "ts", "value"
            ),
            target,
            checkpoint=str(tmp_path / ckpt),
            keys=["user_id", "event_type"],
            partition_col="event_type",
            order_col="ts",
        )
        q.awaitTermination()

    drain("ckpt1")
    # each micro-batch releases its batch cache and winners checkpoint
    assert persistent_rdds() <= before
    got = spark.read.parquet(target)

    batch = load(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "value"
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id", "event_type").orderBy(F.desc("ts"))
    want = (
        batch.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .drop("_rk")
    )
    assert got.count() == want.count()
    assert got.exceptAll(want.select(*got.columns)).count() == 0

    # replaying the whole source into the same target (fresh checkpoint
    # = every batch re-delivered) must be a no-op: last-writer-wins
    # merge is idempotent
    drain("ckpt2")
    again = spark.read.parquet(target)
    assert again.count() == want.count()
    assert again.exceptAll(want.select(*again.columns)).count() == 0


def test_incremental_dedup_stream_matches_batch(spark, tmp_path):
    """Streaming foreachBatch incremental dedup against a cached band
    index must emit exactly the pairs the batch formulation finds, and
    leave no persisted band index behind after the stream drains."""
    import os

    import pandas as pd

    from mldag_spark import streaming as S
    from mldag_spark.functions import shingle_rows
    from mldag_spark.operators.dedup import incremental_lsh_pairs

    texts = {
        1: "the quick brown fox jumps over the lazy dog",
        3: "the quick brown fox jumps over the lazy cat",
        5: "completely different text with no overlap here",
        2: "the quick brown fox jumps over the lazy dog",
        4: "another unrelated document body entirely",
    }
    src = str(tmp_path / "docs")
    os.makedirs(src)
    pd.DataFrame(
        {
            "doc_id": list(texts),
            "text": list(texts.values()),
            "lang": ["en"] * 5,
            "source": ["t"] * 5,
            "n_chars": [len(t) for t in texts.values()],
        }
    ).to_parquet(os.path.join(src, "documents.parquet"))

    docs = spark.read.parquet(os.path.join(src, "documents.parquet"))
    index_rows = shingle_rows(
        docs.filter(F.col("doc_id") % 2 == 0), "doc_id", "text", 3
    )
    batch_rows = shingle_rows(
        docs.filter(F.col("doc_id") % 2 == 1), "doc_id", "text", 3
    )
    want = sorted(
        (r["batch_id"], r["index_id"], r["jaccard"])
        for r in incremental_lsh_pairs(
            batch_rows, index_rows, id_col="doc_id", elem_col="shingle",
            threshold=0.5,
        ).collect()
    )
    assert want, "fixture must contain at least one cross near-dup"

    jsc = spark.sparkContext._jsc

    def persistent_ids():
        # id SET, not size: blocks from earlier tests' lazy
        # localCheckpoints are released by the async ContextCleaner at
        # JVM-GC time, so a count can legitimately DROP while this test
        # runs; the invariant under test is only "no NEW persisted RDD
        # (the band index) survives the drained stream".
        it = jsc.getPersistentRDDs().keySet().iterator()
        ids = set()
        while it.hasNext():
            ids.add(it.next())
        return ids

    cached_before = persistent_ids()
    out_path = str(tmp_path / "pairs")
    S.incremental_dedup_stream(
        S.documents_stream(spark, src).filter(F.col("doc_id") % 2 == 1),
        index_rows,
        out_path=out_path,
        checkpoint=str(tmp_path / "ckpt"),
        shingle_fn=lambda b: shingle_rows(b, "doc_id", "text", 3),
        threshold=0.5,
    )
    got = sorted(
        (r["batch_id"], r["index_id"], r["jaccard"])
        for r in spark.read.parquet(out_path).collect()
    )
    assert got == want
    # the cached band index is released once the stream drains
    assert persistent_ids() <= cached_before

    def read_pairs():
        return sorted(
            (r["batch_id"], r["index_id"], r["jaccard"])
            for r in spark.read.parquet(out_path).collect()
        )

    # restart on the SAME checkpoint: no new input files -> zero
    # micro-batches; previously committed pairs must survive (ADVICE
    # r5: the unconditional empty-seed overwrite silently wiped them)
    S.incremental_dedup_stream(
        S.documents_stream(spark, src).filter(F.col("doc_id") % 2 == 1),
        index_rows,
        out_path=out_path,
        checkpoint=str(tmp_path / "ckpt"),
        shingle_fn=lambda b: shingle_rows(b, "doc_id", "text", 3),
        threshold=0.5,
    )
    assert read_pairs() == want

    # a FRESH checkpoint against a sink that already holds batches is
    # refused (r6): a new checkpoint renumbers micro-batches from 0,
    # so per-_mb_id overwrite could leave stale partitions from the
    # old numbering alive — silent duplication. The retry-idempotence
    # contract lives WITHIN a checkpoint (dynamic partition overwrite
    # replaces a retried batch's partition).
    import pytest

    with pytest.raises(ValueError, match="fresh"):
        S.incremental_dedup_stream(
            S.documents_stream(spark, src).filter(F.col("doc_id") % 2 == 1),
            index_rows,
            out_path=out_path,
            checkpoint=str(tmp_path / "ckpt2"),
            shingle_fn=lambda b: shingle_rows(b, "doc_id", "text", 3),
            threshold=0.5,
        )
    assert read_pairs() == want  # refused run left the sink untouched

    # fresh checkpoint + clean sink: full replay reproduces the pairs
    out2 = str(tmp_path / "pairs2")
    S.incremental_dedup_stream(
        S.documents_stream(spark, src).filter(F.col("doc_id") % 2 == 1),
        index_rows,
        out_path=out2,
        checkpoint=str(tmp_path / "ckpt3"),
        shingle_fn=lambda b: shingle_rows(b, "doc_id", "text", 3),
        threshold=0.5,
    )
    assert sorted(
        (r["batch_id"], r["index_id"], r["jaccard"])
        for r in spark.read.parquet(out2).collect()
    ) == want


def test_pipeline_clean_stream_sized_bitmap_matches_gate_at_floor(spark, sf_dir):
    """The registered query sizes its bloom from the test split's
    measured shingle count, and the sizing floors at the gate default:
    at gate scale the bitmap is BIT-IDENTICAL to the fixed 2^20-bit
    build the oracle replays, and the streamed survivors are the
    oracle's. Sizing only diverges when the test split outgrows 2^20
    bits (the measured sf3/sf10 saturation regime)."""
    import duckdb

    from mldag_spark.functions import shingle_rows
    from mldag_spark.operators.bloom import bloom_build, bloom_sized_m_bits
    from mldag_spark.queries import ORACLES
    from mldag_spark.queries.streaming import stream_pipeline_clean
    from mldag_spark.queries.text import (
        _split_bucket,
        decontamination_bloom,
        pipeline_clean_stage,
        pipeline_dedup_stage,
        pipeline_gate_exprs,
    )

    m = bloom_sized_m_bits(1000)  # gate-scale shingle counts << floor
    assert m == 1 << 20
    _n, _dr, keep = pipeline_gate_exprs()
    scored = (
        pipeline_dedup_stage(pipeline_clean_stage(load(spark, sf_dir, "documents")))
        .filter(keep)
        .withColumn("bucket", _split_bucket())
    )
    test_sh = shingle_rows(
        scored.filter(F.col("bucket") >= 90), "doc_id", "clean", 5,
        complete_only=True,
    ).select(F.col("shingle").alias("s"))
    assert decontamination_bloom(scored, text_col="clean") == [
        bloom_build(test_sh, "s", m_bits=m)
    ]
    got = sorted(
        (r["doc_id"], r["n_tokens"])
        for r in stream_pipeline_clean(spark, sf_dir).collect()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'"
    )
    want = sorted(
        tuple(r) for r in con.execute(ORACLES["stream_pipeline_clean"]).fetchall()
    )
    con.close()
    assert got == want and len(got) > 0


def test_pack_stream_matches_batch_and_replays_idempotently(
    spark, tmp_path
):
    """The foreachBatch two-phase pack (r15 — VERDICT r14 #6): with
    id-ordered micro-batches the streamed result must equal the batch
    packer row-for-row, the cross-batch carry must be non-vacuous
    (>= 2 committed batches), and REPLAYING a committed batch must
    leave its sink partition and carry-ledger row bit-identical —
    the at-least-once retry contract, pinned directly."""
    import os

    from mldag_spark.operators.packing import token_budget_batches

    # 12 docs, counts chosen so batch boundaries straddle micro-batches
    rows = [(i, 700 + 97 * (i % 5)) for i in range(1, 13)]
    counts = spark.createDataFrame(rows, "doc_id bigint, n_tokens bigint")
    src = str(tmp_path / "src")
    S.stage_id_ordered_micro_batches(counts, src, 3, "doc_id")
    parts = sorted(f for f in os.listdir(src) if f.endswith(".parquet"))
    assert len(parts) >= 2, "fixture must yield multiple range files"

    stream = (
        spark.readStream.schema("doc_id bigint, n_tokens bigint")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out_path = str(tmp_path / "packed")
    carry_path = str(tmp_path / "carry")
    S.pack_stream(
        stream,
        "doc_id",
        "n_tokens",
        max_tokens=2048,
        out_path=out_path,
        checkpoint=str(tmp_path / "ckpt"),
        carry_path=carry_path,
    )

    def read_out():
        return sorted(
            (r["doc_id"], r["n_tokens"], r["global_cum"], r["batch_id"])
            for r in spark.read.parquet(out_path).collect()
        )

    def read_ledger():
        return sorted(
            (r["_mb_id"], r["cum_total"])
            for r in spark.read.parquet(carry_path)
            .filter(F.col("_mb_id") >= 0)
            .collect()
        )

    want = sorted(
        (r["doc_id"], r["n_tokens"], r["global_cum"], r["batch_id"])
        for r in token_budget_batches(
            counts, "doc_id", "n_tokens", max_tokens=2048
        ).collect()
    )
    got = read_out()
    assert got == want
    ledger = read_ledger()
    assert len(ledger) >= 2, "carry must cross >= 2 micro-batches"
    # cumulative ledger: strictly increasing iff every batch carried
    # a non-zero shift into its successor — the carry is non-vacuous
    for (_m1, c1), (_m2, c2) in zip(ledger, ledger[1:]):
        assert c2 > c1
    # and the final cumulative total is the corpus token total
    assert ledger[-1][1] == sum(n for _i, n in rows)

    # REPLAY a committed middle batch with its original input: the
    # retry recomputes carry_in from batches strictly before it and
    # overwrites only its own partitions — everything bit-identical
    replay_mb, _ = ledger[1]
    replay_rows = spark.read.parquet(f"{out_path}/_mb_id={replay_mb}")
    replay_input = counts.join(
        replay_rows.select("doc_id"), "doc_id", "left_semi"
    )
    # replay through an ExistingRDD-backed frame — the shape a real
    # foreachBatch retry hands the batch function, which routes the
    # packer down its literal-offsets path (the production retry path,
    # not the broadcast-join path a LocalRelation join would take)
    replay_input = spark.createDataFrame(
        replay_input.rdd, replay_input.schema
    )
    S.pack_stream_batch(
        replay_input,
        int(replay_mb),
        "doc_id",
        "n_tokens",
        2048,
        out_path,
        carry_path,
    )
    assert read_out() == want
    assert read_ledger() == ledger

    # restart on the SAME checkpoint: no new files -> zero batches;
    # committed output must survive
    S.pack_stream(
        spark.readStream.schema("doc_id bigint, n_tokens bigint")
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        "doc_id",
        "n_tokens",
        max_tokens=2048,
        out_path=out_path,
        checkpoint=str(tmp_path / "ckpt"),
        carry_path=carry_path,
    )
    assert read_out() == want


def test_mg_sketch_stream_state_and_replay(spark, tmp_path):
    """The streaming Misra-Gries state (r15): per-batch committed
    summaries stay <= k rows, the drained candidate set misses no
    global heavy hitter (the N/(k+1) undercount bound across batch
    slicing), and REPLAYING a committed middle batch leaves its
    ledger row bit-identical — the retry contract, pinned directly."""
    import os

    k = 4
    # 3 heavies spread across id ranges + a long tail fighting for
    # counters in every batch
    rows = []
    rid = 0
    for blk in range(3):
        for _ in range(30):
            rows.append((rid, "h1")); rid += 1
            rows.append((rid, "h2")); rid += 1
        for j in range(25):
            rows.append((rid, f"tail_{blk}_{j}")); rid += 1
    df = spark.createDataFrame(rows, "doc_id bigint, w string")
    n = len(rows)

    src = str(tmp_path / "src")
    S.stage_id_ordered_micro_batches(df, src, 3, "doc_id")
    sketch = str(tmp_path / "sketch")
    S.mg_sketch_stream(
        spark.readStream.schema("doc_id bigint, w string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        "w",
        k,
        sketch_path=sketch,
        checkpoint=str(tmp_path / "ckpt"),
    )

    committed = spark.read.parquet(sketch).filter(F.col("_mb_id") >= 0)
    per_batch = {
        r["_mb_id"]: r["c"]
        for r in committed.groupBy("_mb_id")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    assert len(per_batch) >= 2, "state must cross >= 2 micro-batches"
    assert all(c <= k for c in per_batch.values())

    last = max(per_batch)
    cand = {
        r["w"]
        for r in committed.filter(F.col("_mb_id") == last).collect()
    }
    want_heavy = {
        r["w"]
        for r in df.groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") * k > n)
        .collect()
    }
    assert want_heavy, "fixture must contain heavy hitters"
    assert want_heavy <= cand  # no false negative, ever

    # replay a committed middle batch with its original input rows:
    # ledger must be bit-identical afterwards
    replay_mb = sorted(per_batch)[1]
    ledger_before = sorted(
        (r["_mb_id"], r["w"], r["cnt"]) for r in committed.collect()
    )
    parts = sorted(
        f for f in os.listdir(src) if f.endswith(".parquet")
    )
    replay_input = spark.createDataFrame(
        spark.read.parquet(os.path.join(src, parts[replay_mb])).rdd,
        "doc_id bigint, w string",
    )
    S.mg_sketch_stream_batch(replay_input, int(replay_mb), "w", k, sketch)
    ledger_after = sorted(
        (r["_mb_id"], r["w"], r["cnt"])
        for r in spark.read.parquet(sketch)
        .filter(F.col("_mb_id") >= 0)
        .collect()
    )
    assert ledger_after == ledger_before
