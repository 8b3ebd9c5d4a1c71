"""The registry's queries executed THROUGH the DAG engine.

Everything else in the registry calls the DataFrame API directly; each
query here builds an ``MLDag`` from piped nodes and runs it, so the
engine's construction/routing/scheduling path — and, for the estimator
pipelines, its fit pass — sits inside the driver's DuckDB correctness
gate:

- relational: priority revenue (two sources → join → aggregate) and
  its ``sql_node`` twin (top-3 open-order priorities);
- ML: a ``StandardScaler`` fit, a trained quality classifier, and the
  train/test fit-apply pipeline;
- text: corpus cleaning, the export shard/batch plan, the end-to-end
  clean → dedup → gate → decontaminate → pack pipeline, and the
  fuzzy-dedup chain.

Every node body is defined once, in the node library below; the query
functions and the public ``build_*_dag`` builders only wire. Being
module-level functions, the bodies also pickle, so every
``build_*_dag`` round-trips through ``persistence.save_dag``/
``load_dag``. Sources read through ``SparkSession.active()`` for the
same reason.

The ``docs_src → clean → dedup_exact`` front half shared by the
clean_pack and fit_apply pipelines is wired by ``_front_half``, flat
into the caller's DAG rather than as a nested ``MLDagNode``: a nested
DAG runs with its own empty mixin list (the caller's hooks and spans
would never see its nodes), and under ``fit_transform`` the outer node
would run the inner fit pass and then a second, transform-only pass.

Because every node hands its downstream a *lazy* DataFrame, the DAG
boundary adds zero execution cost: Catalyst sees one fused plan
identical to the hand-written equivalent — the core design claim of
the rebuild (SURVEY.md §1.3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

import mldag_spark as m
from mldag_spark.functions import fingerprint, shingle_rows, tokenize
from mldag_spark.operators.dedup import minhash_lsh_pairs_rows
from mldag_spark.operators.packing import token_budget_batches
from mldag_spark.queries import register
from mldag_spark.queries.tables import dsum, load

# ----------------------------------------------------------------------
# node library: every stage body, defined once
# ----------------------------------------------------------------------


def load_orders(sf_dir):
    return load(SparkSession.active(), sf_dir, "orders")


def load_lineitem(sf_dir):
    return load(SparkSession.active(), sf_dir, "lineitem")


def load_documents(sf_dir):
    return load(SparkSession.active(), sf_dir, "documents")


def load_vectors(sf_dir):
    from pyspark.ml.functions import array_to_vector

    return load(SparkSession.active(), sf_dir, "embeddings").select(
        "vec_id",
        "label",
        array_to_vector(F.col("embedding").cast("array<double>")).alias("v"),
    )


def join_facts(orders, lineitem):
    return orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey)


def priority_revenue(joined):
    return joined.groupBy("o_orderpriority").agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 2).alias(
            "revenue"
        ),
        F.count(F.lit(1)).alias("n_lines"),
    )


def label_stats(df):
    from pyspark.ml.functions import vector_to_array

    x0 = vector_to_array(F.col("scaled")).getItem(0)
    return (
        df.select("label", x0.alias("x0"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(F.avg("x0"), 3).alias("avg_scaled_x0"),
        )
    )


# The lazy checkpoint (no text column: ids, three doubles, label,
# features vector) is written by the eager LBFGS fit on the train
# subset, so the caller's action on the rollup leaf scores the
# materialized features instead of re-tokenizing the corpus. It is
# truly lazy only because no exchange sits below it: under AQE,
# localCheckpoint(eager=False) runs every shuffle and broadcast
# stage below it at the call (tests/test_dedup_closure.py).
def quality_features(sf_dir):
    from pyspark.ml.feature import VectorAssembler

    toks = tokenize(F.col("text"))
    n_tok = F.size(toks).cast("double")
    feats = load_documents(sf_dir).select(
        "doc_id",
        "lang",
        n_tok.alias("f_tokens"),
        (F.length("text").cast("double") / n_tok).alias("f_avg_tok_len"),
        (F.size(F.array_distinct(toks)).cast("double") / n_tok).alias(
            "f_distinct_ratio"
        ),
    ).withColumn(
        # weak label: lexical diversity above a fixed threshold — a
        # deterministic stand-in for human quality ratings
        "label",
        (F.col("f_distinct_ratio") >= 0.55).cast("double"),
    )
    return VectorAssembler(
        inputCols=["f_tokens", "f_avg_tok_len", "f_distinct_ratio"],
        outputCol="features",
    ).transform(feats).localCheckpoint(eager=False)


def train_subset(df):
    # content-free deterministic ~50% split (same md5-bucket trick as
    # sample_deterministic_split)
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 2
    )
    return df.filter(bucket == 0)


def quality_rollup(df):
    return df.groupBy(
        "lang", F.col("prediction").cast("int").alias("predicted_ok")
    ).agg(F.count(F.lit(1)).alias("n_docs"))


def quality_filter(docs):
    toks = tokenize(F.col("text"))
    n = F.size(toks)
    distinct_ratio = F.size(F.array_distinct(toks)).cast("double") / n
    return docs.select(
        "doc_id", "lang", fingerprint(F.col("text")).alias("fp"),
        n.alias("n"), distinct_ratio.alias("dr"),
    ).filter(F.col("n").between(5, 1000) & (F.col("dr") > 0.3))


def dedup_keep_first(docs):
    w = Window.partitionBy("fp").orderBy("doc_id")
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def lang_rollup(docs):
    return docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))


def shuffle_coords(docs):
    hv = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("long")
    w = Window.partitionBy("shard_id").orderBy("hv", "doc_id")
    return (
        docs.select("doc_id", "n_chars", hv.alias("hv"))
        .withColumn("shard_id", F.col("hv") % 8)
        .select(
            "doc_id",
            "n_chars",
            "shard_id",
            F.row_number().over(w).cast("long").alias("pos"),
        )
    )


def char_budget_batches(coords, budget=20000):
    w = (
        Window.partitionBy("shard_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_chars").over(w)
    return coords.select(
        "doc_id",
        "shard_id",
        "pos",
        cum.cast("long").alias("shard_cum"),
        F.floor((cum - F.col("n_chars")) / float(budget))
        .cast("long")
        .alias("batch_id"),
    )


# The clean/dedup/gate stage bodies are the shared front-half contract
# of queries/text.py — one definition across these DAGs and the
# streaming twin. lang rides along for fit_apply's per-lang stats;
# clean_pack never reads it, so Catalyst prunes it from that plan.
def clean(docs):
    return pipeline_clean_stage(docs, "lang")


def dedup_exact(cleaned):
    return pipeline_dedup_stage(cleaned)


def quality_gate(deduped):
    n, _dr, keep = pipeline_gate_exprs()
    return deduped.select("doc_id", "clean", n.alias("n_tokens")).filter(keep)


def decontaminate(scored):
    # the contamination RULE (bucket split, shingle width, >= 3 shared)
    # lives in contaminated_train_ids, shared with
    # text_decontaminate_filter so the stage query and the composed
    # pipeline cannot drift
    #
    # Don't recompute what you can reuse: the gated corpus feeds THREE
    # consumers (the test-split shingle branch, the train-split shingle
    # branch, the kept filter), and the packer downstream re-evaluates
    # its input lineage twice more plus an eager quantile action —
    # without a reuse point the executed plan ran the scan →
    # regex-clean → md5-dedup-window front half SIX times (6 parquet
    # scans, 0 ReusedExchange; AQE cannot reuse because each branch
    # projects/filters differently right above the shared subtree). A
    # localCheckpoint(eager=False) at the reuse point makes it run
    # once. Not lazily: under AQE the call runs the dedup window's
    # shuffle stage (1 job at sf0.01), and only the final stage and the
    # block write wait for the first action (the packer's quantile
    # job). The materialized rows are the gated SURVIVORS (doc_id,
    # clean, n_tokens, bucket): the same bytes the dedup exchange
    # already moved once, stored for the query's own lifetime,
    # reclaimed by ContextCleaner when the result frame drops. Measured
    # at sf0.1: 7.9-8.6 → 2.3-3.3 s warm, executed scans 6 → 1.
    docs = scored.withColumn("bucket", _split_bucket()).localCheckpoint(
        eager=False
    )
    dirty = contaminated_train_ids(docs, text_col="clean")
    # no static broadcast hint: dirty is contamination-rate-sized — AQE
    # broadcasts it when small, sort-merges when not, exactly like the
    # stage queries (text_decontaminate_filter joins dirty unhinted)
    return (
        docs.filter(F.col("bucket") < 80)
        .join(dirty, "doc_id", "left_anti")
        .select("doc_id", "n_tokens")
    )


def pack(kept):
    # same reasoning one stage later: the packer evaluates its input
    # three times (the eager approxQuantile action, the offsets branch,
    # the output branch) — without a reuse point each evaluation
    # re-runs the decontamination shingle self-join. The checkpointed
    # frame is NARROW ((doc_id, n_tokens) survivor rows). Under AQE the
    # call itself runs the self-join's shuffle and broadcast stages
    # (8 jobs at sf0.01).
    kept = kept.localCheckpoint(eager=False)
    return token_budget_batches(
        kept, "doc_id", "n_tokens", max_tokens=4096
    ).withColumn("global_cum", F.col("global_cum").cast("long"))


# The checkpoint (narrow survivors: doc_id, lang, 2-double vector,
# bucket) is written by the eager scaler.fit on the train split, so the
# caller's action on the stats leaf reads those rows instead of
# re-running the clean → dedup-window → gate front half. It is only
# partly lazy: under AQE, localCheckpoint(eager=False) runs the dedup
# window's shuffle stage at the call.
def gated_features(deduped):
    from pyspark.ml.functions import array_to_vector

    n, dr, keep = pipeline_gate_exprs()
    return (
        deduped.filter(keep)
        .select(
            "doc_id",
            "lang",
            array_to_vector(F.array(n.cast("double"), dr)).alias("fv"),
            _split_bucket().alias("bucket"),
        )
        .localCheckpoint(eager=False)
    )


def train_part(feats):
    return feats.filter(F.col("bucket") < 80)


def held_out_part(feats):
    return feats.filter(F.col("bucket") >= 90)


def held_out_stats(df):
    from pyspark.ml.functions import vector_to_array

    x = vector_to_array(F.col("scaled"))
    return (
        df.select("lang", x.getItem(0).alias("s0"), x.getItem(1).alias("s1"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("s0"), 3).alias("avg_scaled_len"),
            F.round(F.avg("s1"), 3).alias("avg_scaled_div"),
        )
    )


def mine_lsh(docs):
    rows = shingle_rows(docs, "doc_id", "text", 3)
    return minhash_lsh_pairs_rows(
        rows, id_col="doc_id", elem_col="shingle", threshold=0.8,
        num_hashes=64, bands=16,
    )


def verify_edit(pairs, docs):
    return fuzzy_verified_pairs(docs, pairs)


def keep_best(verified, docs):
    return keep_best_survivors(docs, verified)


def _front_half(dag):
    """Wire ``docs_src → clean → dedup_exact`` flat into ``dag`` (see
    the module docstring for why not nested); returns ``dedup_exact``."""
    return (
        dag["sf_dir"]
        >> m.as_node(load_documents, name="docs_src")
        >> m.as_node(clean, name="clean")
        >> m.as_node(dedup_exact, name="dedup_exact")
    )


# ----------------------------------------------------------------------
# registered queries and their builders
# ----------------------------------------------------------------------


@register(
    "dag_pipeline_priority_revenue",
    oracle="""
    SELECT o_orderpriority,
           CAST(ROUND(SUM(CAST((l_extendedprice * (1 - l_discount))
                               AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue,
           COUNT(*) AS n_lines
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_orderpriority
    """,
)
def dag_pipeline_priority_revenue(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Two source nodes, a join node and an aggregate node, wired with
    the piping DSL; Catalyst sees one broadcast-joined, partially
    aggregated plan."""
    dag = m.MLDag()
    o_node = dag["sf_dir"] >> m.as_node(load_orders, name="orders_src")
    l_node = dag["sf_dir"] >> m.as_node(load_lineitem, name="lineitem_src")
    j_node = m.as_node(join_facts, name="join_facts")
    o_node["result"] >> j_node["orders"]
    l_node["result"] >> j_node["lineitem"]
    agg = j_node >> m.as_node(priority_revenue, name="priority_revenue")
    agg["result"] >> dag["revenue_by_priority"]

    run = dag.transform(sf_dir)
    return run.outputs["revenue_by_priority"]


@register(
    "dag_ml_standard_scaler",
    oracle="""
    WITH stats AS (
        SELECT AVG(embedding[1]) AS m, STDDEV_SAMP(embedding[1]) AS s
        FROM embeddings
    )
    SELECT label, COUNT(*) AS n_vecs,
           ROUND(AVG((embedding[1] - m) / s), 3) AS avg_scaled_x0
    FROM embeddings, stats
    GROUP BY label
    """,
)
def dag_ml_standard_scaler(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A ``pyspark.ml`` estimator fitted through the DAG's FIT pass:
    source → StandardScaler ``EstimatorNode`` (fit is an eager Spark
    job producing the Model; transform applies it lazily) → per-label
    stats of the scaled first component.

    The oracle reproduces the scaler arithmetic in SQL — Spark ML's
    StandardScaler(withMean, withStd) is (x - mean)/std with the
    SAMPLE std (n-1 denominator), i.e. exactly STDDEV_SAMP. Output is
    rounded to 3 dp: mean/std carry last-bit summation noise, but at
    ~1-magnitude values the rounding boundary is ~1e12 times wider
    than the noise."""
    from pyspark.ml.feature import StandardScaler

    dag = m.MLDag()
    src = dag["sf_dir"] >> m.as_node(load_vectors, name="vectors_src")
    scaler = m.EstimatorNode(
        StandardScaler(
            inputCol="v", outputCol="scaled", withMean=True, withStd=True
        ),
        name="scaler",
    )
    src >> scaler
    stats = scaler >> m.as_node(label_stats, name="label_stats")
    stats["result"] >> dag["scaled_stats"]

    run = dag.fit_transform(sf_dir)
    return run.outputs["scaled_stats"]


@register(
    "dag_text_clean_corpus",
    oracle="""
    WITH t AS (
        SELECT doc_id, lang,
               string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')
                   AS toks,
               md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
        FROM documents
    ), q AS (
        SELECT * FROM t
        WHERE len(toks) BETWEEN 5 AND 1000
          AND CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) > 0.3
    ), keep AS (
        SELECT fp, MIN(doc_id) AS keep_id FROM q GROUP BY fp
    )
    SELECT lang, COUNT(*) AS n_docs
    FROM q JOIN keep ON q.doc_id = keep.keep_id
    GROUP BY lang
    """,
)
def dag_text_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LLM-corpus cleaning pipeline run THROUGH the DAG engine:
    source → quality filter → exact dedup (keep lowest doc_id per
    fingerprint) → per-language rollup, wired as four piped nodes.

    Same design claim as ``dag_pipeline_priority_revenue``: every node
    passes a lazy DataFrame, so Catalyst fuses the whole pipeline into
    one plan — the filter reaches the scan, the dedup window is the
    only wide shuffle, and the rollup is map-side partial."""
    dag = m.MLDag()
    cleaned = (
        dag["sf_dir"]
        >> m.as_node(load_documents, name="docs_src")
        >> m.as_node(quality_filter, name="quality_filter")
        >> m.as_node(dedup_keep_first, name="dedup_keep_first")
        >> m.as_node(lang_rollup, name="lang_rollup")
    )
    cleaned["result"] >> dag["clean_counts"]

    run = dag.transform(sf_dir)
    return run.outputs["clean_counts"]


_SQL_TOPK = """
    SELECT o_orderpriority,
           CAST(ROUND(SUM(CAST((l_extendedprice * (1 - l_discount))
                               AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue
    FROM dag_sql_orders JOIN dag_sql_lineitem ON o_orderkey = l_orderkey
    WHERE o_orderstatus = 'O'
    GROUP BY o_orderpriority
    ORDER BY revenue DESC, o_orderpriority
    LIMIT 3
"""


@register(
    "dag_sql_priority_topk",
    oracle=_SQL_TOPK.replace("dag_sql_orders", "orders").replace(
        "dag_sql_lineitem", "lineitem"
    ),
)
def dag_sql_priority_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI SQL executed THROUGH the DAG: two source nodes pipe into a
    ``sql_node`` whose statement is (modulo view names) the DuckDB
    oracle itself — the most direct possible statement of SQL parity.
    ``spark.sql`` yields a lazy DataFrame, so Catalyst fuses the SQL
    fragment with the DAG plan exactly like the DataFrame nodes."""
    dag = m.MLDag()
    o_node = dag["sf_dir"] >> m.as_node(load_orders, name="orders_src")
    l_node = dag["sf_dir"] >> m.as_node(load_lineitem, name="lineitem_src")
    q = m.sql_node(
        _SQL_TOPK, views=["dag_sql_orders", "dag_sql_lineitem"], name="topk_sql"
    )
    o_node["result"] >> q["dag_sql_orders"]
    l_node["result"] >> q["dag_sql_lineitem"]
    q["result"] >> dag["topk"]

    run = dag.transform(sf_dir)
    return run.outputs["topk"]


@register(
    "dag_export_shard_batches",
    oracle="""
    WITH h AS (
        SELECT doc_id, n_chars,
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                   AS hv
        FROM documents
    ), coords AS (
        SELECT doc_id, n_chars,
               CAST(hv % 8 AS BIGINT) AS shard_id,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY hv % 8 ORDER BY hv, doc_id
               ) AS BIGINT) AS pos
        FROM h
    ), cum AS (
        SELECT doc_id, shard_id, pos,
               SUM(n_chars) OVER (
                   PARTITION BY shard_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS shard_cum,
               n_chars
        FROM coords
    )
    SELECT doc_id, shard_id, pos,
           CAST(shard_cum AS BIGINT) AS shard_cum,
           CAST(FLOOR((shard_cum - n_chars) / 20000.0) AS BIGINT)
               AS batch_id
    FROM cum
    """,
)
def dag_export_shard_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The training-export pipeline composed THROUGH the DAG engine:
    deterministic global shuffle (shard/pos coordinates) → per-shard
    char-budget batch assignment, wired as three ``MLDag`` nodes. The
    engine's claim under test: the DAG boundary is free — Catalyst
    fuses the nodes into one plan whose windows all run on the
    shard_id partitioning (parallel by shard, never a global sort).

    This is the lazy-composition counterpart of the physical writers
    (``sources.write_training_shards``): coordinates and batch ids are
    computed here; the shard layout materializes them.
    """
    dag = m.MLDag()
    src = dag["sf_dir"] >> m.as_node(load_documents, name="docs_src")
    coords = src >> m.as_node(shuffle_coords, name="shuffle_coords")
    batches = coords >> m.as_node(char_budget_batches, name="char_batches")
    batches["result"] >> dag["export_plan"]

    run = dag.transform(sf_dir)
    return run.outputs["export_plan"]


@register("dag_ml_quality_classifier")  # rows-only: LBFGS-trained
# coefficients are not SQL-expressible, so no DuckDB oracle
def dag_ml_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A TRAINED quality classifier through the DAG engine — the
    fit-on-subset / apply-to-all pattern every production quality
    filter uses (FineWeb/DCLM-style: learn a cheap model from weak
    labels, score the whole corpus):

    featurize → deterministic-hash train subset → ``EstimatorNode``
    (pyspark.ml ``LogisticRegression``; the DAG's FIT pass trains the
    Model on the subset only) → ``TransformNode`` applies the FITTED
    model to the FULL corpus (transform-only alias, ordering
    dependency ensures the parent fits first — the reference's
    train/test pattern, ``mldagbase.py:1120-1188``) → per-language
    predicted-quality counts.

    Scale shape: features are pure per-row JVM projections; training
    reduces the subset via pyspark.ml's treeAggregate (no driver-side
    feature matrix); scoring is a per-row model.transform projection;
    only the tiny (lang, prediction) rollup shuffles. Weak labels come
    from a deterministic lexical-diversity rule, so the run is
    reproducible end to end — no rand() anywhere.
    """
    dag = build_quality_classifier_dag(spark)
    run = dag.fit_transform(sf_dir)
    return run.outputs["quality_counts"]


def build_quality_classifier_dag(spark: SparkSession):
    """The five-node featurize → train subset → LogisticRegression →
    apply-to-all → rollup DAG behind ``dag_ml_quality_classifier``."""
    from pyspark.ml.classification import LogisticRegression

    dag = m.MLDag()
    src = dag["sf_dir"] >> m.as_node(quality_features, name="featurize")
    tr = src >> m.as_node(train_subset, name="train_subset")
    lr = m.EstimatorNode(
        LogisticRegression(
            featuresCol="features",
            labelCol="label",
            maxIter=25,
            regParam=0.01,
        ),
        name="quality_lr",
    )
    tr >> lr
    apply_all = m.TransformNode(lr, name="apply_all")
    src >> apply_all
    out = apply_all >> m.as_node(quality_rollup, name="quality_rollup")
    out["result"] >> dag["quality_counts"]
    return dag


# docs_src → clean → dedup_exact → quality gate, shared VERBATIM by the
# clean_pack and fit_apply oracles (the replay of _front_half plus
# pipeline_gate_exprs' token-band and diversity floor)
_FRONT_HALF_ORACLE_CTES = """cleaned AS (
        SELECT doc_id, lang,
               trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS clean
        FROM documents
    ), dedup AS (
        SELECT doc_id, lang, clean FROM (
            SELECT doc_id, lang, clean,
                   ROW_NUMBER() OVER (
                       PARTITION BY md5(clean) ORDER BY doc_id
                   ) AS rk
            FROM cleaned
        ) WHERE rk = 1
    ), gated AS (
        SELECT * FROM dedup
        WHERE len(string_split(clean, ' ')) BETWEEN 5 AND 1000
          AND CAST(len(list_distinct(string_split(clean, ' '))) AS DOUBLE)
              / len(string_split(clean, ' ')) > 0.3
    )"""


@register(
    "dag_pipeline_clean_pack",
    oracle=f"""
    WITH {_FRONT_HALF_ORACLE_CTES}, scored AS (
        SELECT doc_id, clean,
               len(string_split(clean, ' ')) AS n_tokens
        FROM gated
    ), b AS (
        SELECT doc_id, n_tokens, clean,
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                 % 100 AS bucket
        FROM scored
    ), sh AS (
        SELECT DISTINCT doc_id, bucket,
               array_to_string(toks[u:u+4], ' ') AS s
        FROM (SELECT doc_id, bucket,
                     string_split(clean, ' ') AS toks
              FROM b) t,
             unnest(generate_series(1, len(toks) - 4)) AS g(u)
    ), dirty AS (
        SELECT tr.doc_id AS train_doc
        FROM (SELECT * FROM sh WHERE bucket >= 90) te
        JOIN (SELECT * FROM sh WHERE bucket < 80) tr USING (s)
        GROUP BY te.doc_id, tr.doc_id
        HAVING COUNT(*) >= 3
    ), kept AS (
        SELECT doc_id, n_tokens FROM b
        WHERE bucket < 80
          AND doc_id NOT IN (SELECT DISTINCT train_doc FROM dirty)
    ), c AS (
        SELECT doc_id, n_tokens,
               CAST(SUM(n_tokens) OVER (
                   ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS global_cum
        FROM kept
    )
    SELECT doc_id, n_tokens, global_cum,
           CAST((global_cum - n_tokens) // 4096 AS INT) AS batch_id
    FROM c
    """,
)
def dag_pipeline_clean_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END training-data pipeline as ONE MLDag run (r13 —
    VERDICT r12 #8, the north-star demo): every stage the registry
    gates separately, composed through the DAG engine and
    oracle-replayed end to end —

        load → clean (normalize) → dedup (exact, keep min doc_id per
        content hash) → score (length + lexical-diversity gate) →
        decontaminate (drop train docs sharing >= 3 distinct 5-gram
        shingles with the test split) → pack (4096-token batches via
        the distributed prefix sum)

    Output is the PACKED corpus: (doc_id, n_tokens, global_cum,
    batch_id) per surviving document — the artifact a pre-training
    run actually consumes.

    Scale shape per stage: clean is map-only JVM; dedup is ONE
    corpus shuffle KEYED by the md5 content hash (the cleaned text
    rides the exchange once — later stages consume it, so it must
    move once under any formulation) with the ranking window
    keeping one row per group; the quality gate is per-row codegen
    (no shuffle); decontamination is the inverted-index equality join
    of ``text_decontaminate_filter`` (merge-hinted both sides — the
    sf10 broadcast-OOM lesson) with the contaminated-id set anti-
    joined back broadcast; packing is the two-phase partition-offset
    prefix sum of ``operators.packing`` (no single-task collapse).
    Because every node hands its downstream a lazy DataFrame, Catalyst
    fuses all six stages into one physical plan — the DAG boundary
    costs nothing (``dag.explain(run)`` golden pins the composed
    plan's node mapping)."""
    dag = build_clean_pack_dag(spark)
    run = dag.transform(sf_dir)
    return run.outputs["packed_corpus"]


def build_clean_pack_dag(spark: SparkSession):
    """The six-node clean → dedup → score → decontaminate → pack DAG
    behind ``dag_pipeline_clean_pack``, exposed so the physical-view
    golden (tests/test_display.py) can explain the composed run."""
    dag = m.MLDag()
    pipe = (
        _front_half(dag)
        >> m.as_node(quality_gate, name="quality_gate")
        >> m.as_node(decontaminate, name="decontaminate")
        >> m.as_node(pack, name="pack")
    )
    pipe["result"] >> dag["packed_corpus"]
    return dag


@register(
    "dag_pipeline_fit_apply",
    oracle=f"""
    WITH {_FRONT_HALF_ORACLE_CTES}, feats AS (
        SELECT doc_id, lang,
               CAST(len(string_split(clean, ' ')) AS DOUBLE) AS n_tokens,
               CAST(len(list_distinct(string_split(clean, ' '))) AS DOUBLE)
                   / len(string_split(clean, ' ')) AS dr,
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                 % 100 AS bucket
        FROM gated
    ), st AS (
        SELECT AVG(n_tokens) AS m0, STDDEV_SAMP(n_tokens) AS s0,
               AVG(dr) AS m1, STDDEV_SAMP(dr) AS s1
        FROM feats WHERE bucket < 80
    )
    SELECT lang, COUNT(*) AS n_docs,
           ROUND(AVG((n_tokens - m0) / s0), 3) AS avg_scaled_len,
           ROUND(AVG((dr - m1) / s1), 3) AS avg_scaled_div
    FROM feats, st
    WHERE bucket >= 90
    GROUP BY lang
    """,
)
def dag_pipeline_fit_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The train/test FIT pipeline (r14 — VERDICT r13 #6): the
    reference's signature move (SURVEY §2.1 — fit on one input,
    transform another through a ``TransformNode`` alias) threaded
    through the SAME clean → dedup-exact → quality-gate front half as
    ``dag_pipeline_clean_pack``, then:

        featurize (n_tokens, distinct-ratio → vector) →
        train/test split (md5 buckets — the corpus split law) →
        StandardScaler ``EstimatorNode`` FIT on the train split →
        ``TransformNode`` applies the train-fitted model to the
        HELD-OUT test split → per-lang stats of the scaled features

    ``dag.fit_transform`` runs one pass (estimator fit exactly once,
    on train, before the alias applies it); the oracle replays the
    scaler arithmetic relationally ((x - mean)/STDDEV_SAMP over the train split,
    applied to the test split — the ``dag_ml_standard_scaler``
    precedent, 3 dp rounding for summation noise). Scale shape: the
    front half is the clean_pack plan (one content-hash corpus
    shuffle); the scaler fit is one Spark ML summarizer pass over the
    train split; apply is map-only; the stats agg is lang-keyed."""
    dag = build_fit_apply_dag(spark)
    run = dag.fit_transform(sf_dir)
    return run.outputs["fit_apply_stats"]


def build_fit_apply_dag(spark: SparkSession):
    """The nine-node train/test pipeline behind
    ``dag_pipeline_fit_apply``, exposed for the physical-view golden
    (tests/test_display.py)."""
    from pyspark.ml.feature import StandardScaler

    dag = m.MLDag()
    feats = _front_half(dag) >> m.as_node(gated_features, name="featurize")
    tr = feats >> m.as_node(train_part, name="train_split")
    te = feats >> m.as_node(held_out_part, name="test_split")
    scaler = m.EstimatorNode(
        StandardScaler(
            inputCol="fv", outputCol="scaled", withMean=True, withStd=True
        ),
        name="scaler",
    )
    tr >> scaler
    apply_test = m.as_transform("scaler", name="scaler_test")
    te >> apply_test
    stats = apply_test >> m.as_node(held_out_stats, name="test_stats")
    stats["result"] >> dag["fit_apply_stats"]
    return dag


@register("dag_pipeline_fuzzy_dedup", oracle=None)
def dag_pipeline_fuzzy_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The r15 fuzzy-dedup chain run THROUGH the DAG engine: one
    documents source fanning out to three stage nodes —

        docs → mine (MinHash-LSH candidate pairs)
        (pairs, docs) → verify (normalized-Levenshtein ≥ 0.98 filter)
        (verified, docs) → keep_best (quality-aware selection +
                           broadcast anti-join materialization)

    Every stage body is the SHARED frame-level contract from
    ``queries/text.py`` (``fuzzy_verified_pairs`` /
    ``keep_best_survivors``), so this composition and the plain
    ``dedup_fuzzy_pipeline`` query cannot drift — and it shares that
    query's oracle VERBATIM (set below), so the gated property is
    DAG-engine/hand-written parity: the engine's multi-input routing
    (docs feeds three consumers) must compose to the exact same
    result the direct call produces. Because nodes hand each other
    lazy DataFrames, Catalyst fuses the whole chain into the same
    physical plan — the DAG boundary costs nothing (SURVEY §1.3)."""
    dag = build_fuzzy_dedup_dag(spark)
    run = dag.transform(sf_dir)
    return run.outputs["survivors"]


def build_fuzzy_dedup_dag(spark: SparkSession):
    """The four-node mine → verify → keep-best DAG behind
    ``dag_pipeline_fuzzy_dedup``, exposed for the physical-view
    golden (tests/test_display.py)."""
    dag = m.MLDag()
    d_node = dag["sf_dir"] >> m.as_node(load_documents, name="docs_src")
    miner = d_node >> m.as_node(mine_lsh, name="mine_lsh")
    verify = m.as_node(verify_edit, name="verify_edit")
    miner["result"] >> verify["pairs"]
    d_node["result"] >> verify["docs"]
    select = m.as_node(keep_best, name="keep_best")
    verify["result"] >> select["verified"]
    d_node["result"] >> select["docs"]
    select["result"] >> dag["survivors"]
    return dag


# Imported last so this module's queries register ahead of text's, in
# the registry's established order; the stage bodies above resolve
# these names at call time.
from mldag_spark.queries import ORACLES as _ORACLES  # noqa: E402
from mldag_spark.queries.text import (  # noqa: E402
    _FUZZY_PIPELINE_ORACLE,
    _split_bucket,
    contaminated_train_ids,
    fuzzy_verified_pairs,
    keep_best_survivors,
    pipeline_clean_stage,
    pipeline_dedup_stage,
    pipeline_gate_exprs,
)

# DAG-engine/hand-written parity: the composition gates against the
# SAME relational replay as the direct query (the stream twin
# convention — sharing the oracle VERBATIM means the two can never
# drift).
_ORACLES["dag_pipeline_fuzzy_dedup"] = _FUZZY_PIPELINE_ORACLE
