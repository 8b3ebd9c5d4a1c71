"""Similarity-search queries over the ``embeddings`` table."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from mldag_spark.materialize import cache, scope
from mldag_spark.operators.similarity import (
    brute_force_topk,
    brute_force_topk_arrow,
    ivf_topk,
    lsh_bucket_topk,
)
from mldag_spark.queries import register
from mldag_spark.queries.tables import load

_N_QUERIES = 10  # vec_id < 10 form the query set

# PQ/IVF-PQ codebook training set: a FIXED-SIZE deterministic sample
# (hash-ordered TakeOrdered — a bounded top-k, never a global sort),
# the FAISS convention: quantizer quality needs a representative few
# thousand vectors, not the corpus, so training cost is CONSTANT in
# corpus size and only encode + the codes scan grow with data.
_TRAIN_SAMPLE = 2048


def _train_sample(emb: DataFrame) -> DataFrame:
    return emb.orderBy(F.xxhash64(F.col("vec_id"))).limit(_TRAIN_SAMPLE)

# shared by the JVM-expression and Arrow/numpy variants: identical
# results, different execution paths
_TOPK_ORACLE = f"""
    WITH sims AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               ROUND(list_cosine_similarity(
                   CAST(q.embedding AS DOUBLE[]),
                   CAST(c.embedding AS DOUBLE[])), 6) AS cos
        FROM embeddings q
        JOIN embeddings c ON c.vec_id != q.vec_id
        WHERE q.vec_id < {_N_QUERIES}
    ), ranked AS (
        SELECT query_id, neighbor_id, cos,
               ROW_NUMBER() OVER (
                   PARTITION BY query_id ORDER BY cos DESC, neighbor_id
               ) AS rk
        FROM sims
    )
    SELECT query_id, neighbor_id, cos, rk FROM ranked WHERE rk <= 5
"""


@register("ann_cosine_topk", oracle=_TOPK_ORACLE)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-5 for the first 10 vectors
    (pure JVM expressions: zip_with/aggregate + ranking window)."""
    emb = load(spark, sf_dir, "embeddings")
    return brute_force_topk(
        corpus=emb,
        queries=emb.filter(F.col("vec_id") < _N_QUERIES),
        k=5,
    )


@register("ann_cosine_topk_arrow", oracle=_TOPK_ORACLE)
def ann_cosine_topk_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same top-5, Arrow path: one numpy matmul per mapInPandas batch,
    per-batch partial top-k, JVM window merges — the layout that wins
    once |corpus|·|queries| dwarfs the per-batch BLAS cost."""
    emb = load(spark, sf_dir, "embeddings")
    return brute_force_topk_arrow(
        corpus=emb,
        queries=emb.filter(F.col("vec_id") < _N_QUERIES),
        k=5,
    )


@register("ann_ivf_topk")  # no oracle: cell recall is kmeans-specific
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-5: KMeans cells + n_probe nearest lists."""
    emb = load(spark, sf_dir, "embeddings")
    return ivf_topk(
        corpus=emb,
        queries=emb.filter(F.col("vec_id") < _N_QUERIES),
        k=5,
        n_lists=8,
        n_probe=3,
    )


@register("ann_pq_topk")  # no oracle: codebooks are kmeans-specific
def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization top-5 (Jégou et al. 2011) — the MEMORY
    scale path: the per-query scan touches the m-byte codes table
    (16x smaller than the float vectors at m=16 over 64 dims),
    approximate distances are m table lookups (ADC), and true cosine
    is recomputed on the top-R refine set so reported scores are
    exact. m=16/ksub=16/refine=100 measured 0.96 recall@5 vs the
    brute-force baseline on this table; the floor is pinned (not
    assumed) by tests/test_operators.py. Codebooks train on a FIXED
    2048-vector deterministic sample (the FAISS convention), so
    training cost is constant in corpus size and the scaling row
    measures what actually grows: encode + the ADC scan."""
    from mldag_spark.operators.similarity import pq_topk, pq_train

    emb = load(spark, sf_dir, "embeddings")
    books = pq_train(_train_sample(emb), m=16, ksub=16)
    return pq_topk(
        corpus=emb,
        queries=emb.filter(F.col("vec_id") < _N_QUERIES),
        codebooks=books,
        k=5,
        refine=100,
    )


@register("ann_ivfpq_topk")  # no oracle: codebooks are kmeans-specific
def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ top-5 (Jégou et al. 2011 §V) — the composition
    production ANN indexes ship (FAISS IVFPQ): a coarse quantizer
    routes vectors to cells, PQ encodes the RESIDUAL, and a query
    scans only its n_probe cells' m-byte codes — the IVF scan
    reduction times the PQ memory reduction. True cosine is
    recomputed on the refine set so reported scores are exact; the
    recall floor vs brute force is pinned by tests/test_operators.py.
    Both quantizers train on the FIXED 2048-vector sample (see
    ``_train_sample``) — constant training cost at any corpus size."""
    from mldag_spark.operators.similarity import ivfpq_topk, ivfpq_train

    emb = load(spark, sf_dir, "embeddings")
    coarse, books = ivfpq_train(_train_sample(emb), n_lists=8, m=16, ksub=16)
    return ivfpq_topk(
        corpus=emb,
        queries=emb.filter(F.col("vec_id") < _N_QUERIES),
        coarse=coarse,
        codebooks=books,
        k=5,
        n_probe=4,
        refine=100,
    )


@register("embedding_pca_project")  # rows-only: eigendecomposition is
# not SQL-expressible; numpy-pinned + partition-invariant in pytest
def embedding_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA projection of the embedding corpus to its top-8 components
    — the standard pre-transform before PQ/IVF (FAISS PCAMatrix:
    smaller codes, decorrelated subspaces) and the repair for
    anisotropic spaces ``embedding_effective_rank`` diagnoses. Fit is
    driver math on a BOUNDED covariance aggregate (≤|partitions|
    partial rows); projection is map-only with the (d × r) matrix in
    the closure; components are sign-canonicalized and outputs
    rounded, so the result is deterministic under any partitioning
    (property-pinned, with a numpy reference match, in
    tests/test_operators.py)."""
    from mldag_spark.operators.similarity import pca_fit, pca_project

    emb = load(spark, sf_dir, "embeddings")
    mean, comps, _w = pca_fit(emb, r=8)
    return pca_project(emb, mean, comps)


@register("ann_lsh_topk")  # no oracle: bucket recall is hash-specific
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-5 — the scale path (candidates only
    from the query's hyperplane-sign bucket)."""
    emb = load(spark, sf_dir, "embeddings")
    return lsh_bucket_topk(
        corpus=emb,
        queries=emb.filter(F.col("vec_id") < _N_QUERIES),
        k=5,
        n_planes=4,
    )


# banded LSH geometry for embedding near-dup: 8 bands of
# corpus-size-derived width (min 8 bits) over deterministic integer
# hyperplanes (operators/similarity.py det_hyperplane_weights).
# Candidate = same label AND same bucket in >=1 band. For true
# near-dups (cos >= 0.9, p_bit = 0.857) per-pair recall at 8 bits is
# 1-(1-0.857^8)^8 ~ 0.94; tail pairs at the 0.4 threshold
# (p_bit ~ 0.65) surface at ~25-35% — the documented price of
# subquadratic candidates at a threshold that weak.
#
# Width auto-scaling (VERDICT r6 #1): at FIXED width the bucket count
# per band is constant, so bucket occupancy — and the Σ bucket²
# candidate output — grows quadratically with corpus size (measured
# 21x wall at 30x data with 8 bits). _lsh_bits() therefore derives
# the width from the corpus count: the smallest b in [8, 24] with
# 2^b · _LSH_TARGET_BUCKET >= n, i.e. expected occupancy stays at
# ~_LSH_TARGET_BUCKET vectors per band bucket at any N, keeping the
# candidate stage linear. Exact integer logic so the SQL oracle
# derives the identical width from COUNT(*) — no float log2 on either
# engine. Beyond 2^24·32 ≈ 5·10⁸ vectors, raise _LSH_MAX_BITS (and
# the oracle's generate_series bound) or split the corpus by label.
_LSH_BANDS = 8
_LSH_MIN_BITS = 8
_LSH_MAX_BITS = 24
_LSH_TARGET_BUCKET = 32
_DIM = 64
# Output cap (VERDICT r7 #3): at a fixed 0.4 threshold the QUALIFYING
# pair count grows super-linearly on dense corpora (measured 552x
# pairs at 30x data) even though the candidate stage is
# occupancy-bounded — any pair-emitting op at 100 TB needs a bounded-
# output mode. Each vector keeps its top-K strongest matches (by the
# 4-dp rounded cosine both engines already hash-agree on, vec_b
# tiebreak for a total order), making the result O(N·K) rows
# unconditionally. K is mirrored into the oracle's QUALIFY clause.
_NEAR_DUP_TOPK = 8
# Candidate cap (r8): width auto-scaling bounds the AVERAGE bucket
# occupancy, but a dense corpus concentrates correlated vectors into
# the same buckets regardless of width — identical vectors always
# collide — and Sigma bucket^2 then grows super-linearly (measured:
# candidate join rows 8.65M -> 73.6M = 8.5x for 3.33x more vectors
# sf3->sf10; max bucket 147 -> 438). Within each (label, band,
# bucket), vectors are therefore ranked by vec_id and each pairs only
# with its next _LSH_BUCKET_WINDOW members — candidates become
# O(N · bands · W) unconditionally, the same per-vector budget the
# occupancy target was designed for (~8x16=128), now enforced under
# skew too. Deterministic (id order), mirrored exactly in the
# oracle's ROW_NUMBER window; buckets smaller than W are unaffected,
# so small-SF gate results do not change.
_LSH_BUCKET_WINDOW = 16


def _lsh_bits(n: int) -> int:
    """Smallest width b in [_LSH_MIN_BITS, _LSH_MAX_BITS] such that
    2^b * _LSH_TARGET_BUCKET >= n (integer-exact; mirrored in SQL)."""
    for b in range(_LSH_MIN_BITS, _LSH_MAX_BITS + 1):
        if (1 << b) * _LSH_TARGET_BUCKET >= n:
            return b
    return _LSH_MAX_BITS

# the oracle recomputes the identical signatures in pure int64 SQL:
# the same smallest-b width derivation from COUNT(*), floor(x*1e6)
# quantization, Knuth-hash weights, dot>0 bits, bit-packed band
# buckets — exact integer arithmetic end to end, so no float drift
# between Spark and DuckDB is possible at ANY corpus size
_NEAR_DUP_CTES = f"""
    WITH params AS (
        SELECT COALESCE(MIN(b), {_LSH_MAX_BITS}) AS bits
        FROM generate_series({_LSH_MIN_BITS}, {_LSH_MAX_BITS}) t(b)
        WHERE (CAST(1 AS BIGINT) << b) * {_LSH_TARGET_BUCKET} >=
              (SELECT COUNT(*) FROM embeddings)
    ), pos AS (
        SELECT vec_id, label, u - 1 AS i, CAST(embedding[u] AS DOUBLE) AS x
        FROM (SELECT vec_id, label, embedding,
                     unnest(generate_series(1, len(embedding))) AS u
              FROM embeddings)
    ), dots AS (
        SELECT p.vec_id, p.label, j.j,
               SUM(CAST(FLOOR(p.x * 1000000) AS BIGINT) *
                   ((((1 + p.i + {_DIM} * j.j) * 2654435761) % 4294967296)
                    // 4194304 - 512)) AS dot
        FROM pos p
        CROSS JOIN params pr
        CROSS JOIN (SELECT unnest(generate_series(0, {_LSH_BANDS * _LSH_MAX_BITS - 1})) AS j) j
        WHERE j.j < {_LSH_BANDS} * pr.bits
        GROUP BY p.vec_id, p.label, j.j
    ), bits AS (
        SELECT d.vec_id, d.label,
               d.j // pr.bits AS band, d.j % pr.bits AS bit, d.dot
        FROM dots d CROSS JOIN params pr
    ), sigs AS (
        SELECT vec_id, label, band,
               SUM(CASE WHEN dot > 0 THEN CAST(1 AS BIGINT) << bit
                        ELSE 0 END) AS bucket
        FROM bits GROUP BY vec_id, label, band
    ), ranked AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY label, band, bucket ORDER BY vec_id
        ) AS bi
        FROM sigs
    ), cand AS (
        SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label
        FROM ranked a JOIN ranked b
          ON a.label = b.label AND a.band = b.band AND a.bucket = b.bucket
         AND a.vec_id < b.vec_id
         AND b.bi - a.bi <= {_LSH_BUCKET_WINDOW}
    ), qualifying AS (
        SELECT c.vec_a, c.vec_b, c.label,
               ROUND(list_cosine_similarity(
                   CAST(ea.embedding AS DOUBLE[]),
                   CAST(eb.embedding AS DOUBLE[])), 4) AS cos
        FROM cand c
        JOIN embeddings ea ON ea.vec_id = c.vec_a
        JOIN embeddings eb ON eb.vec_id = c.vec_b
        WHERE list_cosine_similarity(
                   CAST(ea.embedding AS DOUBLE[]),
                   CAST(eb.embedding AS DOUBLE[])) >= 0.4
    )
"""

_NEAR_DUP_ORACLE = (
    _NEAR_DUP_CTES
    + f"""
    SELECT vec_a, vec_b, label, cos FROM qualifying
    QUALIFY ROW_NUMBER() OVER (
        PARTITION BY vec_a ORDER BY cos DESC, vec_b
    ) <= {_NEAR_DUP_TOPK}
"""
)

# histogram mode (r8 — the other bounded-output form VERDICT r7 #3
# named): per-label near-dup structure WITHOUT enumerating pairs —
# output is |labels| rows of integer counts no matter how dense the
# corpus. Shares every CTE with the pair query, so the two modes
# cannot drift apart.
_NEAR_DUP_STATS_ORACLE = (
    _NEAR_DUP_CTES
    + """
    , deg AS (
        SELECT label, v, COUNT(*) AS d
        FROM (
            SELECT label, vec_a AS v FROM qualifying
            UNION ALL
            SELECT label, vec_b AS v FROM qualifying
        )
        GROUP BY label, v
    )
    SELECT l.label,
           l.n_vectors,
           COALESCE(p.n_pairs, 0) AS n_pairs,
           COALESCE(d.n_dup, 0) AS n_dup_vectors,
           COALESCE(d.mx, 0) AS max_degree
    FROM (SELECT label, COUNT(*) AS n_vectors FROM embeddings GROUP BY label) l
    LEFT JOIN (
        SELECT label, COUNT(*) AS n_pairs FROM qualifying GROUP BY label
    ) p USING (label)
    LEFT JOIN (
        SELECT label, COUNT(*) AS n_dup, MAX(d) AS mx FROM deg GROUP BY label
    ) d USING (label)
"""
)


@register("embedding_near_dup_blocked", oracle=_NEAR_DUP_ORACLE)
def embedding_near_dup_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, label-blocked AND LSH-banded.

    r5 shipped this as per-label all-pairs (salted for parallelism),
    which is O(block²) candidate pairs — measured 25.4x wall-time at
    10x data (SCALING r5), the one remaining quadratic hot spot: a
    single dominant label at 100 TB recreates the all-pairs problem.

    r6 replaced the candidate generator with banded hyperplane LSH
    (the structure MinHash-LSH uses for text): each vector gets
    ``_LSH_BANDS`` bucket ids from deterministic integer hyperplanes
    (``operators/similarity.banded_signature_udf``), and only pairs
    sharing (label, band, bucket) are verified with the exact JVM
    cosine. Candidates drop from Σ block² to Σ bucket², and the
    verify stage is no longer the scaling term: signatures (one int64
    matmul per Arrow batch), the (label, band, bucket) self-join, and
    the pair-distinct are all linear in N·B. Recall is the banding
    trade (see _LSH_BANDS note above).

    r7 (VERDICT r6 #1) removes the last fixed constant: the band
    WIDTH now derives from the corpus count via :func:`_lsh_bits`
    (one metadata-cheap ``count()``), so per-band bucket occupancy —
    and with it the Σ bucket² candidate output — stays ~constant per
    vector as the corpus grows instead of saturating the 256 buckets
    the old 8-bit geometry offered (measured 21x wall at 30x data).
    The oracle derives the identical width from ``COUNT(*)`` with the
    same integer comparison, so the gate stays exact at any scale.

    r8 (VERDICT r7 #3) bounds the two remaining density-driven terms,
    both mirrored exactly in the oracle:

    - candidates: width auto-scaling bounds AVERAGE occupancy, but
      correlated vectors collide regardless of width (measured:
      candidate join rows 8.65M → 73.6M = 8.5× for 3.33× more
      vectors, max bucket 147 → 438). Bucket members are ranked by
      vec_id and each pairs only with its next ``_LSH_BUCKET_WINDOW``
      members — candidates are O(N·bands·W) under any skew.
    - output: qualifying pairs grew 552× at 30× data; each vec_a now
      keeps its ``_NEAR_DUP_TOPK`` strongest matches (4-dp rounded
      cosine, vec_b tiebreak), so the result is O(N·K).

    Plan shape: signature explode (N·B rows of 4 scalar cols — vectors
    are NOT carried through the band join), bucket-window rank riding
    the join exchange, sort-merge self-join on the composite key,
    distinct on the pair, then two id-keyed joins back to the vector
    table for exact verification and the per-vector top-K window. No
    broadcast of corpus-sized data; no CartesianProduct (pinned by
    test_plans).
    """
    qualifying = _near_dup_qualifying(spark, sf_dir)
    # r8 (VERDICT r7 #3): bounded-output mode — each vec_a keeps only
    # its _NEAR_DUP_TOPK strongest matches, so the result is O(N·K)
    # rows no matter how dense the corpus (552x qualifying-pair growth
    # measured at 30x data with no cap). Ranking uses the 4-dp rounded
    # cosine (the exact value the gate hash-compares, so Spark and
    # DuckDB rank identically) with vec_b as a total-order tiebreak;
    # the window is JVM-side over pairs already thresholded, and its
    # vec_a shuffle is the only added exchange.
    w = Window.partitionBy("vec_a").orderBy(F.desc("cos"), F.asc("vec_b"))
    return (
        qualifying.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= _NEAR_DUP_TOPK)
        .drop("_rk")
    )


def _near_dup_qualifying(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared subplan of the near-dup pair and stats queries: the
    bounded-candidate LSH join plus exact cosine verification —
    (vec_a, vec_b, label, cos) rows at cos >= 0.4, before any
    output cap."""
    return _near_dup_frames(spark, sf_dir)["qualifying"]


def _near_dup_frames(spark: SparkSession, sf_dir: str) -> dict:
    """The near-dup subplan's stage frames, exposed for the scaling
    stage split (NEARDUP_STAGES_r09.json, PARITY.md "r9 work", VERDICT
    r8 #4): 'signatures' (banded signature explode + the bucket-window
    rank), 'candidates' (windowed self-join + pair distinct), and
    'qualifying' (verify joins + exact cosine threshold). The
    production queries consume 'qualifying', so the split times
    exactly the frames the gate runs — it cannot drift from the
    product."""
    from mldag_spark.operators.similarity import banded_signature_udf

    emb = load(spark, sf_dir, "embeddings")
    v = emb.select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    sig = banded_signature_udf(_DIM, _LSH_BANDS, _lsh_bits(emb.count()))
    s = v.withColumn("bands", sig(F.col("v"))).select(
        "vec_id", "label", F.posexplode("bands").alias("band", "bucket")
    )
    # r8 candidate cap (see _LSH_BUCKET_WINDOW): rank bucket members by
    # vec_id and pair each only with its next W members — the window's
    # partition keys equal the join keys, so it rides the join exchange
    w_bucket = Window.partitionBy("label", "band", "bucket").orderBy("vec_id")
    s = s.withColumn("_bi", F.row_number().over(w_bucket))
    cand = (
        s.alias("a")
        .join(
            s.alias("b"),
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id"))
            & (F.col("b._bi") - F.col("a._bi") <= _LSH_BUCKET_WINDOW),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.col("a.label").alias("label"),
        )
        .distinct()
    )
    # r9 (stage-split follow-up): verification is ~86% of the sf10
    # wall (NEARDUP_STAGES_r09.json) and the old per-pair
    # cosine_similarity(va, vb) recomputed BOTH vectors' norms inside
    # every candidate pair — 3x the interpreted-HOF work the dot
    # product needs (dot + 2 norm folds = ~192 element ops/pair over
    # 12.3M pairs at sf10). Precompute each vector's norm ONCE in the
    # projection (N folds, not 2x|candidates|) and carry it through
    # the verify joins: same fold over the same doubles, same final
    # division — bit-identical cosines (hash-pinned by the oracle gate
    # and the dense-corpus cross-engine test), strictly less work.
    from mldag_spark.functions import dot, l2_norm

    vn = v.withColumn("_nrm", l2_norm(F.col("v")))
    pairs = cand.join(
        vn.select(
            F.col("vec_id").alias("vec_a"),
            F.col("v").alias("va"),
            F.col("_nrm").alias("_na"),
        ),
        "vec_a",
    ).join(
        vn.select(
            F.col("vec_id").alias("vec_b"),
            F.col("v").alias("vb"),
            F.col("_nrm").alias("_nb"),
        ),
        "vec_b",
    )
    cos = dot(F.col("va"), F.col("vb")) / (F.col("_na") * F.col("_nb"))
    qualifying = pairs.filter(cos >= 0.4).select(
        "vec_a", "vec_b", "label", F.round(cos, 4).alias("cos")
    )
    return {"signatures": s, "candidates": cand, "qualifying": qualifying}


@register("embedding_near_dup_stats", oracle=_NEAR_DUP_STATS_ORACLE)
def embedding_near_dup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label near-dup structure WITHOUT enumerating pairs — the
    histogram form of the bounded-output playbook (VERDICT r7 #3 named
    both: a per-vector top-K cap, shipped as
    :func:`embedding_near_dup_blocked`, and a count/stats mode, this).

    Output is |labels| rows of integer counts regardless of corpus
    density: vectors per label, qualifying pairs, vectors with at
    least one near-dup, and the maximum per-vector near-dup degree
    (counting both pair roles). Shares the bounded-candidate +
    verification subplan — and every oracle CTE — with the pair
    query, so the two modes cannot drift apart. All aggregates are
    label-bounded; the degree union is two projections of the
    qualifying pairs."""
    qualifying = _near_dup_qualifying(spark, sf_dir)
    emb = load(spark, sf_dir, "embeddings")
    labels = emb.groupBy("label").agg(F.count(F.lit(1)).alias("n_vectors"))
    # ONE reference to the qualifying subtree: explode each pair into
    # its two member rows; every downstream stat derives from the
    # degree table (n_pairs = Σ degree / 2 within a label — each pair
    # contributes exactly two in-label degree entries, so the div is
    # integer-exact). A union of two projections would re-execute the
    # whole LSH + verification subplan per branch — measured 22.0s vs
    # the pair query's 6.7s at sf3.0 before this restructure.
    deg = (
        qualifying.select(
            "label",
            F.explode(F.array(F.col("vec_a"), F.col("vec_b"))).alias("v"),
        )
        .groupBy("label", "v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    deg_stats = deg.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_dup"),
        F.max("d").alias("mx"),
        F.expr("sum(d) div 2").alias("n_pairs_sum"),
    )
    return labels.join(deg_stats, "label", "left").select(
        "label",
        "n_vectors",
        F.coalesce("n_pairs_sum", F.lit(0)).alias("n_pairs"),
        F.coalesce("n_dup", F.lit(0)).alias("n_dup_vectors"),
        F.coalesce("mx", F.lit(0)).alias("max_degree"),
    )


@register(
    "knn_label_vote",
    oracle=f"""
    WITH sims AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, c.label,
               ROUND(list_cosine_similarity(
                   CAST(q.embedding AS DOUBLE[]),
                   CAST(c.embedding AS DOUBLE[])), 6) AS cos
        FROM embeddings q
        JOIN embeddings c ON c.vec_id != q.vec_id
        WHERE q.vec_id < {_N_QUERIES}
    ), ranked AS (
        SELECT query_id, neighbor_id, label, cos,
               ROW_NUMBER() OVER (
                   PARTITION BY query_id ORDER BY cos DESC, neighbor_id
               ) AS rk
        FROM sims
    ), votes AS (
        SELECT query_id, label, COUNT(*) AS n_votes
        FROM ranked WHERE rk <= 5
        GROUP BY query_id, label
    ), winner AS (
        SELECT query_id, label, n_votes,
               ROW_NUMBER() OVER (
                   PARTITION BY query_id ORDER BY n_votes DESC, label
               ) AS vr
        FROM votes
    )
    SELECT query_id, label AS predicted_label, n_votes
    FROM winner WHERE vr = 1
    """,
)
def knn_label_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN classification: majority label among the exact top-5
    neighbors (deterministic tie-breaks at both ranking stages)."""
    emb = load(spark, sf_dir, "embeddings")
    topk = brute_force_topk(
        corpus=emb, queries=emb.filter(F.col("vec_id") < _N_QUERIES), k=5
    )
    labeled = topk.join(
        emb.select(F.col("vec_id").alias("neighbor_id"), "label"),
        "neighbor_id",
    )
    votes = labeled.groupBy("query_id", "label").agg(
        F.count(F.lit(1)).alias("n_votes")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("n_votes"), F.asc("label"))
    return (
        votes.withColumn("vr", F.row_number().over(w))
        .filter(F.col("vr") == 1)
        .select("query_id", F.col("label").alias("predicted_label"), "n_votes")
    )


@register(
    "embedding_norm_by_label",
    oracle="""
    WITH n AS (
        SELECT vec_id, label,
               ROUND(sqrt(list_sum(list_transform(embedding,
                     x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS nrm
        FROM embeddings
    )
    SELECT label,
           COUNT(*) AS n_vecs,
           ROUND(CAST(SUM(CAST(nrm AS DECIMAL(18,6))) AS DOUBLE)
                 / COUNT(*), 4) AS avg_norm,
           ROUND(MIN(nrm), 4) AS min_norm,
           ROUND(MAX(nrm), 4) AS max_norm
    FROM n GROUP BY label
    """,
)
def embedding_norm_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-health stats: per-label L2-norm count/avg/min/max —
    the sanity scan run before indexing a new embedding batch
    (catches unnormalized or collapsed vectors).

    Shape: per-vector sum-of-squares via explode → groupBy(vec_id)
    (codegen conditional-free aggregation; no interpreted
    ``aggregate`` fold per row), norms rounded to 6 before the label
    rollup, and the avg computed as an exact decimal sum over the
    rounded norms so float addition order cannot flip the 4-dp
    result between engines."""
    emb = load(spark, sf_dir, "embeddings")
    x = F.col("x").cast("double")
    norms = (
        emb.select("vec_id", "label", F.explode("embedding").alias("x"))
        .groupBy("vec_id", "label")
        .agg(F.round(F.sqrt(F.sum(x * x)), 6).alias("nrm"))
    )
    return norms.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.round(
            F.sum(F.col("nrm").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1)),
            4,
        ).alias("avg_norm"),
        F.round(F.min("nrm"), 4).alias("min_norm"),
        F.round(F.max("nrm"), 4).alias("max_norm"),
    )


@register(
    "embedding_int8_quantization",
    oracle="""
    WITH q AS (
        SELECT vec_id, label,
               list_max(list_transform(embedding,
                        x -> abs(CAST(x AS DOUBLE)))) AS scale
        FROM embeddings
    )
    SELECT label,
           COUNT(*) AS n_vecs,
           ROUND(CAST(SUM(CAST(ROUND(scale, 6) AS DECIMAL(18,6)))
                      AS DOUBLE) / COUNT(*), 4) AS avg_scale,
           CAST(SUM(CASE WHEN scale > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_quantizable
    FROM q GROUP BY label
    """,
)
def embedding_int8_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization prep: per-vector scale = max |x|
    (quantized value = round(x/scale*127); reconstruction error is
    bounded by scale/254). The 4× storage cut is what makes
    billion-vector ANN indexes fit in memory; this query audits the
    scales per label. JVM-side: explode → groupBy max(abs) — no
    interpreted array folds — then an exact decimal average of
    6-dp-rounded scales so float summation order cannot flip the gate.
    """
    emb = load(spark, sf_dir, "embeddings")
    scales = (
        emb.select("vec_id", "label", F.explode("embedding").alias("x"))
        .groupBy("vec_id", "label")
        .agg(F.max(F.abs(F.col("x").cast("double"))).alias("scale"))
    )
    return scales.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.round(
            F.sum(F.round("scale", 6).cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1)),
            4,
        ).alias("avg_scale"),
        F.sum(F.when(F.col("scale") > 0, 1).otherwise(0))
        .cast("long")
        .alias("n_quantizable"),
    )


@register(
    "embedding_centroid_distances",
    oracle="""
    WITH pos AS (
        SELECT vec_id, label, u AS pos, CAST(embedding[u] AS DOUBLE) AS x
        FROM (SELECT vec_id, label, embedding,
                     unnest(generate_series(1, len(embedding))) AS u
              FROM embeddings)
    ), cent AS (
        SELECT label, pos, ROUND(AVG(x), 6) AS c
        FROM pos GROUP BY label, pos
    ), dist AS (
        SELECT p.vec_id, p.label,
               ROUND(sqrt(SUM((p.x - c.c) * (p.x - c.c))), 6) AS d
        FROM pos p JOIN cent c ON p.label = c.label AND p.pos = c.pos
        GROUP BY p.vec_id, p.label
    )
    SELECT label,
           COUNT(*) AS n_vecs,
           ROUND(CAST(SUM(CAST(d AS DECIMAL(18,6))) AS DOUBLE)
                 / COUNT(*), 4) AS avg_dist,
           ROUND(MAX(d), 4) AS max_dist
    FROM dist GROUP BY label
    """,
)
def embedding_centroid_distances(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-label centroid-distance audit — the outlier scan run on a
    new embedding batch (a max_dist far above avg_dist flags mislabeled
    or corrupted vectors).

    Centroids via posexplode → groupBy(label, pos) — the distributed
    formulation of per-dimension means (never a collect of vectors to
    the driver); distances re-join the exploded stream on (label, pos)
    and aggregate per vector. Centroids and distances round to 6
    before the final exact decimal average, so float summation order
    cannot flip the 4-dp gate."""
    emb = load(spark, sf_dir, "embeddings")
    pos = emb.select(
        "vec_id", "label", F.posexplode("embedding").alias("pos", "x")
    ).withColumn("x", F.col("x").cast("double"))
    cent = pos.groupBy("label", "pos").agg(
        F.round(F.avg("x"), 6).alias("c")
    )
    dist = (
        pos.join(cent, ["label", "pos"])
        .groupBy("vec_id", "label")
        .agg(
            F.round(
                F.sqrt(F.sum((F.col("x") - F.col("c")) ** 2)), 6
            ).alias("d")
        )
    )
    return dist.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.round(
            F.sum(F.col("d").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1)),
            4,
        ).alias("avg_dist"),
        F.round(F.max("d"), 4).alias("max_dist"),
    )


@register(
    "embedding_dim_variance",
    oracle="""
    WITH e AS (
        SELECT unnest(embedding) AS v,
               generate_subscripts(embedding, 1) - 1 AS dim
        FROM embeddings
    )
    SELECT CAST(dim AS INT) AS dim,
           ROUND(AVG(CAST(v AS DOUBLE)), 6) AS mean_val,
           ROUND(var_pop(CAST(v AS DOUBLE)), 6) AS var_val,
           CAST(COUNT(*) AS BIGINT) AS n_vecs
    FROM e GROUP BY 1 ORDER BY 1
    """,
)
def embedding_dim_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension mean/variance of the embedding matrix — the
    collapsed-dimension / anisotropy audit (dead dims show ~0
    variance; a healthy encoder spreads variance). Sum over var_val
    is the covariance trace used for PCA energy budgets.

    Plan: posexplode is a flatMap (no shuffle); the only shuffle is
    the 64-key groupBy with map-side partial moment aggregation, so
    reduce-side traffic is #partitions × #dims rows regardless of
    vector count. All codegen'd — no interpreted HOF folds, no UDFs."""
    emb = load(spark, sf_dir, "embeddings")
    pos = emb.select(F.posexplode("embedding").alias("dim", "v")).withColumn(
        "v", F.col("v").cast("double")
    )
    return (
        pos.groupBy("dim")
        .agg(
            F.round(F.avg("v"), 6).alias("mean_val"),
            F.round(F.var_pop("v"), 6).alias("var_val"),
            F.count(F.lit(1)).alias("n_vecs"),
        )
        .orderBy("dim")
    )


# ---------------------------------------------------------------------------
# k-means over embeddings (r8): the second iterative flagship kernel
# (PageRank being the first) — corpus clustering is the standard
# pre-step for diversity sampling / stratified mixing of training
# data, and the Lloyd iteration is the canonical "broadcast a bounded
# model, shuffle once per iteration" Spark shape.
#
# Determinism contract (both engines, exact at any partitioning):
# - components quantized to 6 dp up front (ROUND on identical doubles);
# - every distance is a sum of per-dimension squares cast to
#   DECIMAL(20,12) — decimal addition is exact and order-free, so
#   assignment argmin (tie-break lower cid) is partition-invariant;
# - centroid updates are exact DECIMAL(18,6) component sums divided
#   by the member count in double, re-rounded to 6 dp — the identical
#   float op sequence in Spark, Python (driver), and DuckDB;
# - empty clusters keep their previous centroid (COALESCE both sides).
_KM_K = 8
_KM_ITERS = 3


def _km_oracle() -> str:
    """Unrolled-Lloyd DuckDB oracle: seeds = the _KM_K lowest vec_ids,
    then _KM_ITERS exact (assign, update) rounds and a final
    assignment — the same decimal arithmetic the Spark side uses, so
    the gate is exact at any corpus size."""
    ctes = [
        f"""
    WITH v AS (
        SELECT vec_id, u - 1 AS pos,
               ROUND(CAST(embedding[u] AS DOUBLE), 6) AS x
        FROM (SELECT vec_id, embedding,
                     unnest(generate_series(1, len(embedding))) AS u
              FROM embeddings)
    ), seedids AS (
        SELECT vec_id, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid
        FROM embeddings ORDER BY vec_id LIMIT {_KM_K}
    ), c0 AS (
        SELECT s.cid, v.pos, v.x AS c
        FROM seedids s JOIN v ON v.vec_id = s.vec_id
    )"""
    ]
    for i in range(1, _KM_ITERS + 1):
        ctes.append(
            f""", d{i} AS (
        SELECT v.vec_id, c.cid,
               SUM(CAST((v.x - c.c) * (v.x - c.c) AS DECIMAL(20,12))) AS d
        FROM v JOIN c{i - 1} c ON v.pos = c.pos
        GROUP BY v.vec_id, c.cid
    ), a{i} AS (
        SELECT vec_id, cid, d FROM d{i}
        QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) = 1
    ), c{i} AS (
        SELECT o.cid, o.pos, COALESCE(n.c, o.c) AS c
        FROM c{i - 1} o LEFT JOIN (
            SELECT a.cid, v.pos,
                   ROUND(CAST(SUM(CAST(v.x AS DECIMAL(18,6))) AS DOUBLE)
                         / COUNT(*), 6) AS c
            FROM a{i} a JOIN v ON v.vec_id = a.vec_id
            GROUP BY a.cid, v.pos
        ) n ON n.cid = o.cid AND n.pos = o.pos
    )"""
        )
    last = _KM_ITERS
    ctes.append(
        f""", dF AS (
        SELECT v.vec_id, c.cid,
               SUM(CAST((v.x - c.c) * (v.x - c.c) AS DECIMAL(20,12))) AS d
        FROM v JOIN c{last} c ON v.pos = c.pos
        GROUP BY v.vec_id, c.cid
    ), aF AS (
        SELECT vec_id, cid, d FROM dF
        QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) = 1
    )"""
    )
    return "".join(ctes)


# shared unrolled-Lloyd prefix (through the final assignment aF):
# the k-means summary and the SemDeDup query append different tails,
# so the two oracles cannot drift apart on the clustering itself
_KM_CTES = _km_oracle()

_KM_ORACLE = _KM_CTES + """
    SELECT CAST(cid AS INT) AS cid,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           ROUND(CAST(SUM(d) AS DOUBLE), 4) AS inertia
    FROM aF GROUP BY cid ORDER BY cid"""


def _km_dist(cent: list[float]):
    """Exact squared-L2 distance of the quantized vector column ``v``
    to a centroid literal: per-dimension squares cast to
    DECIMAL(20,12) folded with exact decimal addition — order-free, so
    the value (and every comparison on it) is partition-invariant and
    engine-identical. The centroid rides along as a k·d-bounded
    literal array: the "broadcast the model" half of the Lloyd shape
    (never a corpus-sized join side).

    Returns the SQL TEXT of the expression, not a Column (r16): the
    Column form built d=64 F.lit py4j round trips per centroid — with
    k centroids per assignment and 4 assignments per query,
    kmeans_embedding_clusters alone cost ~26k construction trips
    (~12 s of the full-registry sweep's driver time). One parsed
    string per centroid is ~1 trip. `repr(float)`+`D` round-trips the
    exact double (shortest-repr invariant), so the literal array is
    bit-identical to the F.lit form — gated on the r15 normalized
    executed-plan diff (modulo bound lambda variable names;
    scripts/plan_normalize.py)."""
    lits = ", ".join(repr(float(c)) + "D" for c in cent)
    return (
        f"aggregate(zip_with(v, array({lits}), "
        "(x, c) -> CAST((x - c) * (x - c) AS DECIMAL(20,12))), "
        "CAST(0 AS DECIMAL(24,12)), "
        "(acc, t) -> CAST((acc + t) AS DECIMAL(24,12)))"
    )


# Above this k, the unrolled decimal assignment switches to the Arrow
# BLAS kernel: the exact-decimal expression tree is O(k·d) interpreted
# higher-order lambdas PER ROW (the minhash "no interpreted transform"
# trap, at scale k) — measured unusable past k~16 (k=64 at sf0.1 did
# not finish in 2 minutes where k=8 takes ~15s end-to-end).
_KM_UNROLL_MAX_K = 16


def _km_assign_blas(df: DataFrame, cents: list[list[float]]) -> DataFrame:
    """Map-only argmin assignment for production k: the (k, d)
    centroid matrix rides in the Arrow kernel closure ("broadcast the
    model"), per-batch distances are ONE vectorized BLAS matmul
    (‖x‖² + ‖c‖² − 2·X@Cᵀ), argmin breaks ties toward the lower cid
    (numpy argmin picks the first minimum — the same convention as
    the decimal struct-min). Float64 instead of exact decimal: at
    production k the decimal tree is per-row interpreted work (see
    _KM_UNROLL_MAX_K); a float tie-flip can only move a vector
    between two EQUIDISTANT clusters, which the gate-sized oracle
    path (k=8, exact decimal) never exercises. Same shape as
    :func:`_km_assign` — no shuffle, no corpus-sized join."""
    import numpy as np
    import pandas as pd

    C = np.asarray(cents, dtype=np.float64)
    cn = (C * C).sum(axis=1)

    def kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                yield pd.DataFrame(
                    {"vec_id": [], "v": [], "cid": [], "d": []}
                )
                continue
            X = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["v"]])
            D = (X * X).sum(axis=1)[:, None] + cn[None, :] - 2.0 * (X @ C.T)
            cid = D.argmin(axis=1)
            d = D[np.arange(len(X)), cid]
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "v": pdf["v"],
                    "cid": cid.astype("int32"),
                    "d": np.maximum(d, 0.0),
                }
            )

    return df.select("vec_id", "v").mapInPandas(
        kernel, schema="vec_id long, v array<double>, cid int, d double"
    )


def _km_assign(df: DataFrame, cents: list[list[float]]) -> DataFrame:
    """argmin over the k centroids via array_min on (d, cid) structs —
    lexicographic struct comparison = exact-decimal distance argmin
    with lower-cid tie-break, all JVM-side codegen. Past
    ``_KM_UNROLL_MAX_K`` centroids the expression-tree cost dominates
    and assignment dispatches to the Arrow BLAS kernel
    (:func:`_km_assign_blas`) — same columns, same tie-break."""
    if len(cents) > _KM_UNROLL_MAX_K:
        return _km_assign_blas(df, cents)
    # ONE parsed expression for the whole k-struct argmin instead of
    # k × (64-lit array + struct + alias) Column chains (r16 — see
    # _km_dist). struct(… AS d, j AS c) analyzes to the exact struct
    # the F.struct(alias) form built (named_struct('d', …) prints
    # differently in plans — caught by the identity gate and avoided);
    # the duplicated array_min tree for the two field extractions
    # matches the Column form's duplication (amin["c"] / amin["d"]
    # also inlined it twice), so the executed plan is unchanged —
    # plan-identity-gated.
    structs = ", ".join(
        f"struct({_km_dist(c)} AS d, {j} AS c)"
        for j, c in enumerate(cents)
    )
    amin = f"array_min(array({structs}))"
    return df.selectExpr(
        "vec_id", "v", f"{amin}.c AS cid", f"{amin}.d AS d"
    )


def _km_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, v) with components 6-dp-quantized — the exactness
    precondition for the decimal distance arithmetic (module note)."""
    emb = load(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x: F.round(x, 6),
        ).alias("v"),
    )


def _km_fit(
    vec: DataFrame, k: int = None, iters: int = None
) -> list[list[float]]:
    """The exact-decimal Lloyd loop (seeds = k lowest vec_ids,
    _KM_ITERS rounds): per-iteration traffic is one k-key shuffle of
    map-side decimal partials and a <= k-row collect — the bounded-
    aggregate law. Shared by the k-means summary query and the
    SemDeDup clustering front half. ``k``/``iters`` default to the
    gate-sized module constants; production callers pass k ~ N /
    target-cluster-size (only the literal count changes — see the
    SemDeDup k-scan row in SCALING.json for the measured cost)."""
    k = _KM_K if k is None else k
    iters = _KM_ITERS if iters is None else iters
    cents = [
        list(r["v"]) for r in vec.orderBy("vec_id").limit(k).collect()
    ]
    # ONE parsed struct expression for the 64 component sums + count
    # instead of 65 Column chains per iteration (r16 construction
    # campaign — the aggregate is an EAGER driver-side action inside
    # the fit loop, not part of the returned plan, so the gate is
    # value equality: the sums are exact DECIMAL(18,6), the quotient/
    # round arithmetic is unchanged, and the resulting centroids are
    # bit-identical — confirmed by the oracle hash of every consumer).
    sums = ", ".join(
        f"sum(CAST(element_at(v, {i + 1}) AS DECIMAL(18,6))) AS s{i}"
        for i in range(_DIM)
    )
    agg_expr = F.expr(f"struct(count(1) AS n, {sums})")
    with scope():
        work = cache(vec)
        for _ in range(iters):
            stats = (
                _km_assign(work, cents)
                .groupBy("cid")
                .agg(agg_expr.alias("st"))
                .collect()
            )
            new = {
                r["cid"]: [
                    round(float(r["st"][f"s{i}"]) / r["st"]["n"], 6)
                    for i in range(_DIM)
                ]
                for r in stats
            }
            cents = [new.get(j, c) for j, c in enumerate(cents)]
    return cents


@register("kmeans_embedding_clusters", oracle=_KM_ORACLE)
def kmeans_embedding_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means over the embedding corpus (k=8, 3 exact
    iterations, seeds = the k lowest vec_ids): per-cluster member
    counts and inertia — the clustering pre-step for diversity-aware
    sampling of training corpora.

    Scale shape — the textbook Spark Lloyd iteration:

    - the model (k·d = 512 doubles) moves, the data does not: each
      iteration's assignment is a map-only pass with centroids inlined
      as literal arrays, and the update is ONE shuffle of k keys with
      map-side partial aggregation (64 exact DECIMAL(18,6) component
      sums + a count per cluster), so reduce-side traffic is
      |partitions|·k rows regardless of corpus size;
    - the per-iteration ``collect()`` is ≤ k rows of 64 sums — the
      bounded-aggregate law (cluster-width bound, never corpus bound);
    - the quantized projection is persisted across the three
      iterations and released before the final assignment, whose
      returned plan rebuilds from the parquet scan (no cache leak into
      the long-lived gate session).

    Determinism: every distance and component sum is exact decimal
    arithmetic over 6-dp-quantized components (see the module note),
    so results are partition-invariant and the unrolled-SQL oracle is
    exact — no convergence tolerance anywhere."""
    vec = _km_quantized(spark, sf_dir)
    cents = _km_fit(vec)
    return (
        _km_assign(vec, cents)
        .groupBy("cid")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.round(F.sum("d").cast("double"), 4).alias("inertia"),
        )
        .orderBy("cid")
    )


# ---------------------------------------------------------------------------
# SemDeDup (r10): semantic deduplication — Abbas et al. 2023,
# "SemDeDup: Data-efficient learning at web-scale through semantic
# deduplication". Cluster the embedding space, then drop near-identical
# members WITHIN each cluster: the published recipe for pruning
# semantically redundant training data that lexical dedup (MinHash,
# n-gram Jaccard) structurally misses — paraphrases, translations,
# re-renders of the same content.
_SEM_ID_BUCKET = 256
_SEM_WINDOW = 16
_SEM_TAU = 0.4

_SEM_ORACLE = _KM_CTES + f"""
    , m AS (
        SELECT vec_id, cid, vec_id // {_SEM_ID_BUCKET} AS bkt,
               ROW_NUMBER() OVER (
                   PARTITION BY cid, vec_id // {_SEM_ID_BUCKET}
                   ORDER BY vec_id
               ) AS rn
        FROM aF
    ), ss AS (
        SELECT vec_id, SUM(CAST(x * x AS DECIMAL(20,12))) AS ss
        FROM v GROUP BY vec_id
    ), prs AS (
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.cid
        FROM m a JOIN m b
          ON a.cid = b.cid AND a.bkt = b.bkt
         AND b.rn > a.rn AND b.rn <= a.rn + {_SEM_WINDOW}
    ), dots AS (
        SELECT p.vec_a, p.vec_b, p.cid,
               SUM(CAST(va.x * vb.x AS DECIMAL(20,12))) AS dot
        FROM prs p
        JOIN v va ON va.vec_id = p.vec_a
        JOIN v vb ON vb.vec_id = p.vec_b AND vb.pos = va.pos
        GROUP BY 1, 2, 3
    ), qual AS (
        SELECT d.cid, d.vec_b
        FROM dots d
        JOIN ss sa ON sa.vec_id = d.vec_a
        JOIN ss sb ON sb.vec_id = d.vec_b
        WHERE CAST(sa.ss AS DOUBLE) > 0 AND CAST(sb.ss AS DOUBLE) > 0
          AND ROUND(CAST(d.dot AS DOUBLE)
                    / sqrt(CAST(sa.ss AS DOUBLE) * CAST(sb.ss AS DOUBLE)),
                    4) >= {_SEM_TAU}
    ), drops AS (
        SELECT cid,
               COUNT(*) AS n_pairs,
               COUNT(DISTINCT vec_b) AS n_dropped
        FROM qual GROUP BY cid
    )
    SELECT CAST(f.cid AS INT) AS cid,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(COALESCE(MAX(d.n_pairs), 0) AS BIGINT) AS n_pairs,
           CAST(COALESCE(MAX(d.n_dropped), 0) AS BIGINT) AS n_dropped,
           -- half-up round at 4dp in EXACT integer arithmetic
           -- (ADVICE r10 #2: rounding the raw double quotient can
           -- ulp-flip between engines on exact decimal-5 ties):
           -- round(n*1e4/m) = (2*n*1e4 + m) // (2*m)
           CAST((COALESCE(MAX(d.n_dropped), 0) * 20000 + COUNT(*))
                // (2 * COUNT(*)) AS DOUBLE) / 10000 AS drop_rate
    FROM aF f LEFT JOIN drops d ON d.cid = f.cid
    GROUP BY f.cid
    ORDER BY f.cid"""


def _sem_members(assigned: DataFrame) -> DataFrame:
    """(vec_id, v, cid) → + (bkt, rn, ss): the SemDeDup member frame.
    bkt = id-bucket of ``_SEM_ID_BUCKET`` (caps every window partition
    regardless of cluster size), rn = rank within (cid, bkt) by
    vec_id, ss = exact decimal self-dot (norm²). Parsed SQL strings
    (r16 construction campaign) — identical analyzed expressions to
    the replaced Column/lambda chains, plan-identity-gated."""
    return assigned.selectExpr(
        "*",
        f"vec_id div {_SEM_ID_BUCKET} AS bkt",
    ).selectExpr(
        "*",
        "row_number() OVER (PARTITION BY cid, bkt ORDER BY vec_id) AS rn",
    ).selectExpr(
        "*",
        "aggregate(transform(v, x -> CAST(x * x AS DECIMAL(20,12))), "
        "CAST(0 AS DECIMAL(24,12)), "
        "(acc, t) -> CAST((acc + t) AS DECIMAL(24,12))) AS ss",
    )


def _sem_qual_pairs(a_m: DataFrame, b_m: DataFrame) -> DataFrame:
    """Qualifying SemDeDup pairs between two member frames (columns of
    :func:`_sem_members`): equi-join on (cid, bkt), later member
    (from ``b_m``) within ``_SEM_WINDOW`` ranks of the earlier (from
    ``a_m``), exact-decimal cosine >= ``_SEM_TAU``. Returns
    (cid, vec_a, vec_b, cos). Parsed SQL strings (r16 construction
    campaign) — identical analyzed expressions to the replaced
    Column/lambda chains, plan-identity-gated; the tau threshold stays
    a Python float handed to Column.__ge__ (NOT inlined into SQL text,
    where it would parse as a decimal literal — the r15 trap)."""
    a = a_m.selectExpr(
        "vec_id AS vec_a", "v AS va", "ss AS ssa", "cid", "bkt",
        "rn AS rna",
    )
    b = b_m.selectExpr(
        "vec_id AS vec_b", "v AS vb", "ss AS ssb", "cid AS cidb",
        "bkt AS bktb", "rn AS rnb",
    )
    dot = (
        "aggregate(zip_with(va, vb, (x, y) -> CAST(x * y AS"
        " DECIMAL(20,12))), CAST(0 AS DECIMAL(24,12)),"
        " (acc, t) -> CAST((acc + t) AS DECIMAL(24,12)))"
    )
    cos = (
        f"ROUND(CAST({dot} AS DOUBLE) / SQRT(CAST(ssa AS DOUBLE)"
        " * CAST(ssb AS DOUBLE)), 4)"
    )
    return (
        a.join(
            b,
            F.expr(
                "cid = cidb AND bkt = bktb AND rnb > rna"
                f" AND rnb <= rna + {_SEM_WINDOW}"
            ),
        )
        .filter("CAST(ssa AS DOUBLE) > 0 AND CAST(ssb AS DOUBLE) > 0")
        .selectExpr("cid", "vec_a", "vec_b", f"{cos} AS cos")
        .filter(F.col("cos") >= _SEM_TAU)
    )


def semdedup_tail_index(m: DataFrame, window: int = None) -> DataFrame:
    """The bounded artifact an incremental SemDeDup pipeline PERSISTS:
    per (cid, bkt), the member count (as max rn) and the last
    ``window`` members with their (v, ss, rn). Because window pairing
    looks back at most ``window`` ranks, these rows are the ONLY
    historical state a future batch can pair with — index size is
    O(|cid,bkt groups| · window), independent of corpus size."""
    window = _SEM_WINDOW if window is None else window
    counts = m.groupBy("cid", "bkt").agg(F.max("rn").alias("n_hist"))
    return (
        m.join(counts, ["cid", "bkt"])
        .filter(F.col("rn") > F.col("n_hist") - window)
        .select("cid", "bkt", "vec_id", "v", "ss", "rn", "n_hist")
    )


def semdedup_incremental_pairs(
    tail: DataFrame, batch_assigned: DataFrame
) -> DataFrame:
    """Incremental SemDeDup (VERDICT r10 #9): qualifying pairs whose
    LATER member arrives in the new batch, given a frozen-centroid
    assignment of the batch and the persisted tail index of the
    historical corpus — the semantic counterpart of
    ``operators.dedup.incremental_lsh_pairs``.

    Append contract: batch vec_ids exceed every historical vec_id, so
    historical ranks are unchanged and window pairing (backward-
    looking) splits exactly into (pairs within history) ∪ (pairs
    whose later member is in the batch) — the recurrence
    ``full == historical ∪ incremental`` is pinned by a property
    test on frozen centroids. New batch ranks continue the historical
    count (rn = n_hist + rank-within-batch); a batch member's window
    reaches back at most ``_SEM_WINDOW`` ranks, exactly the tail the
    index keeps. In production the id-buckets are arrival-ordered, so
    each batch appends into the active bucket and this per-batch work
    is O(|batch|·W) joins against a broadcast-sized tail — corpus
    size never re-enters; a ``foreachBatch`` stream composes this the
    same way ``incremental_dedup_stream`` composes the LSH variant."""
    bm = _sem_members(batch_assigned)
    counts = tail.select("cid", "bkt", "n_hist").distinct()
    bm = (
        bm.join(F.broadcast(counts), ["cid", "bkt"], "left")
        .withColumn(
            "rn", F.col("rn") + F.coalesce(F.col("n_hist"), F.lit(0))
        )
        .select("cid", "bkt", "vec_id", "v", "ss", "rn")
    )
    partners = tail.select(
        "cid", "bkt", "vec_id", "v", "ss", "rn"
    ).unionByName(bm)
    return _sem_qual_pairs(partners, bm)


@register("dedup_semantic_incremental")  # rows-only: the split point,
# frozen centroids, and pair set are deterministic, but the recurrence
# (full == historical ∪ incremental) is the contract under test and is
# pinned by a property test, not SQL-expressible cluster assignment
def dedup_semantic_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SemDeDup over a frozen-centroid index: the last
    quarter of the embedding id space plays the arriving batch, the
    first three quarters the indexed history. Centroids are fit on
    history ONLY (the frozen-model production contract), the batch is
    assigned map-only against them, and new qualifying pairs come from
    :func:`semdedup_incremental_pairs` against the persisted-shape
    tail index — per-batch work O(|batch|·W), corpus size never
    re-enters."""
    vec = _km_quantized(spark, sf_dir)
    hi = vec.agg(F.max("vec_id").alias("mx")).collect()[0]["mx"]
    split = (int(hi) + 1) * 3 // 4
    hist = vec.filter(F.col("vec_id") < split)
    batch = vec.filter(F.col("vec_id") >= split)
    cents = _km_fit(hist)
    hm = _sem_members(_km_assign(hist, cents).select("vec_id", "v", "cid"))
    tail = semdedup_tail_index(hm)
    batch_assigned = _km_assign(batch, cents).select("vec_id", "v", "cid")
    return semdedup_incremental_pairs(tail, batch_assigned).orderBy(
        "vec_a", "vec_b"
    )


@register("dedup_semantic_clusters", oracle=_SEM_ORACLE)
def dedup_semantic_clusters(
    spark: SparkSession, sf_dir: str, k: int = None
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): k-means the embedding corpus,
    then inside each cluster mark members whose cosine similarity to
    an earlier member reaches ``_SEM_TAU`` as semantic duplicates —
    the published recipe for pruning paraphrase-level redundancy that
    lexical dedup cannot see. Output is the per-cluster prune report
    (members, qualifying pairs, dropped count, drop rate); the keeper
    is the lowest-id member of each similar pair (deterministic
    representative, same convention as ``dedup_keep_representatives``).

    Scale shape, term by term:

    - clustering is the shared exact-decimal Lloyd (:func:`_km_fit`):
      per iteration one k-key shuffle of map-side decimal partials
      and a <= k-row collect; assignment is map-only with the k·d
      model inlined as literals. The demo k=8 is gate-sized —
      production SemDeDup scales k with corpus (k ~ N / target
      cluster size), which changes ONLY the literal count.
    - the within-cluster ranking partitions by (cid, vec_id div
      ``_SEM_ID_BUCKET``) — a composite key whose cardinality grows
      with the corpus, NOT by bare cid (a per-cid window would be the
      events_anomaly_mad single-task sort shape the r9 verdict
      flagged; the id-bucket factor caps every window partition at
      ``_SEM_ID_BUCKET`` rows regardless of cluster size).
    - each member pairs only with the next ``_SEM_WINDOW`` ranked
      members of its (cluster, bucket) — candidates are O(N·W) under
      any skew, the embedding_near_dup_blocked bound. Pairs that
      straddle bucket boundaries are out of contract (the LSH-banding
      style recall trade), mirrored exactly in the oracle so the gate
      is exact.
    - cosine is computed from exact DECIMAL(20,12) sums of 6-dp
      component products (the _km_dist discipline): decimal addition
      is order-free, so dot and norm are partition-invariant and
      bit-identical across engines — the >= tau comparison CANNOT
      ulp-flip between Spark and DuckDB, unlike a float-summed dot.
    - the per-cluster report joins a <= k-row drops aggregate back to
      member counts: broadcast-sized by construction.
    """
    vec = _km_quantized(spark, sf_dir)
    cents = _km_fit(vec, k=k)
    assigned = _km_assign(vec, cents).select("vec_id", "v", "cid")
    m = _sem_members(assigned)
    qual = _sem_qual_pairs(m, m).select("cid", "vec_b", "cos")
    drops = qual.groupBy("cid").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.countDistinct("vec_b").alias("n_dropped"),
    )
    members = assigned.groupBy("cid").agg(
        F.count(F.lit(1)).alias("n_members")
    )
    return (
        members.join(F.broadcast(drops), "cid", "left")
        .select(
            F.col("cid").cast("int").alias("cid"),
            "n_members",
            F.coalesce(F.col("n_pairs"), F.lit(0)).alias("n_pairs"),
            F.coalesce(F.col("n_dropped"), F.lit(0)).alias("n_dropped"),
            # exact integer half-up at 4dp (mirrors the oracle; the
            # former ROUND(double quotient) could ulp-flip on ties —
            # ADVICE r10 #2): round(n*1e4/m) = (2n*1e4 + m) DIV (2m),
            # all in int64, then one exact int→double conversion
            (
                F.expr(
                    "(COALESCE(n_dropped, 0) * 20000 + n_members) "
                    "DIV (2 * n_members)"
                ).cast("double")
                / 10000
            ).alias("drop_rate"),
        )
        .orderBy("cid")
    )


@register("embedding_effective_rank")  # rows-only: eigendecomposition
# is not SQL-expressible; numpy-pinned + partition-invariant in pytest
def embedding_effective_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space anisotropy audit: eigenvalue spectrum of the
    corpus covariance — top-component shares and the entropy-based
    effective rank (exp of the eigenvalue-share entropy). Collapsed
    embedding spaces (anisotropy, dead dimensions) silently ruin
    cosine retrieval; this is the standard health check.

    Scale shape — the bounded-aggregate pattern: each partition's
    Arrow kernel reduces its vectors to ONE partial (n, Σx, Σxxᵀ) row
    via a single BLAS syrk-style matmul per batch, so the driver
    collects ≤ |partitions| rows of 1+64+64² doubles (bounded by
    cluster width, never by corpus size) and finishes with an O(d³)
    eigendecomposition on the 64×64 covariance — driver math on a
    fixed-size aggregate, the same law as the scalar-subquery
    broadcasts. Results are rounded to 4 dp so float summation order
    across partitions cannot leak into the output."""
    import numpy as np

    emb = load(spark, sf_dir, "embeddings")
    dim = 64

    def partials(batches):
        import pandas as pd

        n = 0
        s = np.zeros(dim)
        ss = np.zeros((dim, dim))
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.array(list(pdf["embedding"]), dtype=np.float64)
            n += m.shape[0]
            s += m.sum(axis=0)
            ss += m.T @ m
        if n:
            yield pd.DataFrame(
                {"n": [n], "s": [s.tolist()], "ss": [ss.ravel().tolist()]}
            )

    rows = (
        emb.select("embedding")
        .mapInPandas(partials, "n long, s array<double>, ss array<double>")
        .collect()
    )
    n = sum(r["n"] for r in rows)
    if n == 0:
        # empty corpus: a well-typed all-zero stats frame beats a
        # ZeroDivisionError / un-reshapeable empty sum (ADVICE r6)
        out = [(k, 0.0) for k in (
            "dim", "n_vectors", "trace", "top1_share", "top5_share",
            "effective_rank",
        )]
        return spark.createDataFrame(out, "stat string, value double")
    s = np.sum([r["s"] for r in rows], axis=0)
    ss = np.sum([r["ss"] for r in rows], axis=0).reshape(dim, dim)
    mean = s / n
    cov = ss / n - np.outer(mean, mean)
    w = np.clip(np.linalg.eigvalsh(cov)[::-1], 0.0, None)
    tr = float(w.sum())
    if tr <= 0.0:
        # identical vectors: zero covariance — the spectrum carries no
        # information; report rank/shares as 0 instead of NaN
        shares = np.zeros_like(w)
        eff_rank = 0.0
    else:
        shares = w / tr
        nz = shares[shares > 0]
        eff_rank = float(np.exp(-(nz * np.log(nz)).sum()))
    out = [
        ("dim", float(dim)),
        ("n_vectors", float(n)),
        ("trace", round(tr, 4)),
        ("top1_share", round(float(shares[0]), 4)),
        ("top5_share", round(float(shares[:5].sum()), 4)),
        ("effective_rank", round(eff_rank, 4)),
    ]
    return spark.createDataFrame(out, "stat string, value double")


@register(
    "ann_hamming_topk",
    oracle=f"""
    WITH packed AS (
        SELECT vec_id,
               CAST(list_sum(list_transform(range(0, 32),
                    i -> CASE WHEN embedding[i+1] >= 0
                              THEN (1::BIGINT << i) ELSE 0 END))
                    AS BIGINT) AS w0,
               CAST(list_sum(list_transform(range(32, 64),
                    i -> CASE WHEN embedding[i+1] >= 0
                              THEN (1::BIGINT << (i - 32)) ELSE 0 END))
                    AS BIGINT) AS w1
        FROM embeddings
    ), sims AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               CAST(bit_count(xor(q.w0, c.w0))
                    + bit_count(xor(q.w1, c.w1)) AS INT) AS hamming
        FROM packed q
        JOIN packed c ON c.vec_id != q.vec_id
        WHERE q.vec_id < {_N_QUERIES}
    ), ranked AS (
        SELECT query_id, neighbor_id, hamming,
               ROW_NUMBER() OVER (
                   PARTITION BY query_id
                   ORDER BY hamming, neighbor_id
               ) AS rk
        FROM sims
    )
    SELECT query_id, neighbor_id, hamming, rk FROM ranked WHERE rk <= 5
    """,
)
def ann_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-quantization ANN (r14): sign-bit pack every vector into
    two BIGINT words (16 B vs 256 B of floats), rank by
    popcount-of-xor Hamming distance — the memory-FOOTPRINT path
    modern embedding indexes run as their coarse stage (sign
    quantization preserves angular order in expectation:
    P[bit differs] = θ/π, the SimHash estimator). Everything is JVM
    codegen (static CASE-sum packing, ``bit_count``/``bitwiseXOR``
    scan — no UDF, no floats touched after packing), and the DuckDB
    oracle replays packing AND distance bit-for-bit — this entry is
    the ARITHMETIC gate. The measured scale economics are recorded
    honestly on the operator and SCALING ``hamming_ann``: at local
    scales the Arrow/BLAS float scan wins on wall; the 32× byte cut
    buys corpus-per-executor and broadcast/shuffle volume, and a
    64-bit sketch needs corpus-fraction refine widths."""
    from mldag_spark.operators.similarity import binary_sign_topk

    emb = load(spark, sf_dir, "embeddings")
    return binary_sign_topk(
        corpus=emb,
        queries=emb.filter(F.col("vec_id") < _N_QUERIES),
        k=5,
        dim=64,
    )


@register(
    "ann_hamming_refined_topk",
    oracle=f"""
    WITH packed AS (
        SELECT vec_id,
               CAST(list_sum(list_transform(range(0, 32),
                    i -> CASE WHEN embedding[i+1] >= 0
                              THEN (1::BIGINT << i) ELSE 0 END))
                    AS BIGINT) AS w0,
               CAST(list_sum(list_transform(range(32, 64),
                    i -> CASE WHEN embedding[i+1] >= 0
                              THEN (1::BIGINT << (i - 32)) ELSE 0 END))
                    AS BIGINT) AS w1
        FROM embeddings
    ), sims AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               bit_count(xor(q.w0, c.w0))
                 + bit_count(xor(q.w1, c.w1)) AS hamming
        FROM packed q
        JOIN packed c ON c.vec_id != q.vec_id
        WHERE q.vec_id < {_N_QUERIES}
    ), coarse AS (
        SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY query_id
                       ORDER BY hamming, neighbor_id
                   ) AS crk
            FROM sims
        ) WHERE crk <= 200
    ), scored AS (
        SELECT s.query_id, s.neighbor_id,
               ROUND(list_cosine_similarity(
                   CAST(q.embedding AS DOUBLE[]),
                   CAST(c.embedding AS DOUBLE[])), 6) AS cos
        FROM coarse s
        JOIN embeddings q ON q.vec_id = s.query_id
        JOIN embeddings c ON c.vec_id = s.neighbor_id
    )
    SELECT query_id, neighbor_id, cos, rk FROM (
        SELECT query_id, neighbor_id, cos,
               ROW_NUMBER() OVER (
                   PARTITION BY query_id ORDER BY cos DESC, neighbor_id
               ) AS rk
        FROM scored
    ) WHERE rk <= 5
    """,
)
def ann_hamming_refined_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION composition of binary quantization (r14):
    sign-sketch Hamming coarse stage → exact-cosine refine on the
    top-200 candidates — reported scores are TRUE cosines, the float
    table streams against the broadcast candidate set (the PQ refine
    law), and the whole pipeline (packing arithmetic, integer coarse
    ranking, float refine ranking) is ANSI-replayed by the oracle.
    Recall vs the exact baseline is a function of the refine width
    RELATIVE TO CORPUS SIZE — ≥ 0.9 at refine=200 on the 500-vector
    gate table (pinned in tests/test_operators.py), degrading to
    0.46 at 200k vectors with the same fixed width (SCALING
    ``hamming_ann``, recorded as the honest operating curve); the
    widen knob (more sketch bits via rotations) is documented on the
    operator."""
    from mldag_spark.operators.similarity import binary_sign_topk

    emb = load(spark, sf_dir, "embeddings")
    return binary_sign_topk(
        corpus=emb,
        queries=emb.filter(F.col("vec_id") < _N_QUERIES),
        k=5,
        dim=64,
        refine=200,
    )
