"""Similarity search over embedding columns (``array<float>``).

- :func:`brute_force_topk` — exact cosine top-k. One broadcast of the
  (small) query set, one scan of the corpus, per-partition partial
  top-k via the ranking window. The correctness baseline.
- :func:`lsh_bucket_topk` — random-hyperplane LSH: corpus and queries
  are bucketed by sign-pattern; candidate generation only probes the
  query's bucket (plus multi-probe neighbors), so the scan cost drops
  from O(N·Q) to O(N·Q/2^planes) expected — the 100 TB path. Recall
  is approximate; verification still computes true cosine.

Cosine math in the exact path is a pure JVM expression; bucketing and
batch kernels are Arrow-vectorized pandas UDFs (one BLAS call per
batch), never row-at-a-time Python.
"""

from __future__ import annotations

from typing import Optional

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

from mldag_spark.functions import dot, l2_norm
from mldag_spark.materialize import checkpoint, collect_bounded


def _cosine_arrow():
    """Arrow-vectorized cosine for CANDIDATE SCORING hot paths (IVF /
    LSH verification): one einsum per Arrow batch instead of an
    interpreted zip_with/aggregate fold per row — the same
    measured-~100x rule that moved the minhash signatures off column
    lambdas. The exact brute-force baseline keeps the pure-JVM
    expression (no Python in that plan, pinned by test)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def cos(qv: pd.Series, cv: pd.Series) -> pd.Series:
        if len(qv) == 0:
            return pd.Series([], dtype="float64")
        a = np.array(list(qv), dtype=np.float64)
        b = np.array(list(cv), dtype=np.float64)
        num = np.einsum("ij,ij->i", a, b)
        den = np.sqrt(np.einsum("ij,ij->i", a, a)) * np.sqrt(
            np.einsum("ij,ij->i", b, b)
        )
        return pd.Series(num / den)

    return cos


def _as_double(col):
    return col.cast("array<double>")


# Driver-side collects in this module are bounded BY CONTRACT (query
# sets, refine·|Q| candidate sets, training samples). The cap makes
# that contract enforceable (VERDICT r11 #3; the bounded-collect law,
# ``materialize.collect_bounded``): an oversized input is an ERROR
# with a clear message, never a silent driver OOM.
_QUERY_COLLECT_CAP = 65536


def _collect_bounded(df: DataFrame, cap: int, what: str) -> list[dict]:
    """The rows of ``df`` as dicts, or an error past ``cap`` rows:
    :func:`mldag_spark.materialize.collect_bounded` for every
    query-set / candidate-set / sample collect, whose inputs are
    bounded by contract."""
    table = collect_bounded(df, cap)
    if table is None:
        raise ValueError(
            f"{what} exceeds {cap} rows; driver-side collects in ANN "
            "operators are bounded by contract — pass a bounded "
            f"{what} (or raise the cap deliberately)"
        )
    return table.to_pylist()


def _check_rotation(rotation, dim: int) -> Optional[np.ndarray]:
    """Driver-side validation of an OPQ rotation (code-review r13
    late finding #4): a truncated/transposed matrix would otherwise
    silently redefine the model dimension (``X @ R`` succeeds, dim is
    read from the ROTATED matrix) and train a valid-looking model in
    the wrong space. Returns the float64 matrix, or None."""
    if rotation is None:
        return None
    R = np.asarray(rotation, dtype=np.float64)
    if R.shape != (dim, dim):
        raise ValueError(
            f"rotation must be ({dim}, {dim}) to match the vector "
            f"dimension; got {R.shape}"
        )
    return R


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact cosine top-k neighbors for each query vector.

    Output: (query_id, neighbor_id, cos) with deterministic ranking
    (cosine rounded to 6 before ranking; ties broken by neighbor id).
    """
    # r15 (guide §4-adjacent: interpreted HOF folds are the "UDF" of
    # this JVM path): per-pair cosine_similarity re-folded BOTH
    # vectors' norms inside every (corpus × query) pair — 3 array
    # folds per pair where the dot product needs 1. Precompute each
    # side's norm ONCE per row (queries pre-broadcast, corpus in the
    # scan projection) and divide by the product: same fold over the
    # same doubles, same final division — bit-identical cosines (the
    # embedding_near_dup_stats precedent, r9).
    # selectExpr strings (r15): construction is inside the driver
    # contract's timed region; the SQL forms parse to the same
    # Catalyst expressions as the Column chains (0.0D keeps the fold
    # zero a DOUBLE literal, matching F.lit(0.0); lambda variable
    # names are cosmetic), verified by a normalized executed-plan
    # diff. ~200 fewer py4j round trips per construction.
    q = queries.selectExpr(
        f"`{id_col}` AS query_id",
        f"CAST(`{vec_col}` AS ARRAY<DOUBLE>) AS qv",
    ).selectExpr(
        "query_id",
        "qv",
        "SQRT(aggregate(qv, 0.0D, (acc, v) -> acc + v * v)) AS _qn",
    )
    c = corpus.selectExpr(
        f"`{id_col}` AS neighbor_id",
        f"CAST(`{vec_col}` AS ARRAY<DOUBLE>) AS cv",
    ).selectExpr(
        "neighbor_id",
        "cv",
        "SQRT(aggregate(cv, 0.0D, (acc, v) -> acc + v * v)) AS _cn",
    )
    sims = (
        c.crossJoin(F.broadcast(q))
        .filter("neighbor_id != query_id")
        .selectExpr(
            "query_id",
            "neighbor_id",
            "ROUND(aggregate(zip_with(qv, cv, (x, y) -> x * y), 0.0D, "
            "(acc, v) -> acc + v) / (_qn * _cn), 6) AS cos",
        )
    )
    return sims.selectExpr(
        "query_id",
        "neighbor_id",
        "cos",
        "row_number() OVER (PARTITION BY query_id "
        "ORDER BY cos DESC, neighbor_id ASC) AS rk",
    ).filter(f"rk <= {int(k)}")


def brute_force_topk_arrow(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact cosine top-k via Arrow-batched numpy matmul.

    Same contract/result as :func:`brute_force_topk`, different engine
    path: the query set is collected once into a numpy matrix and
    closed over (Spark broadcasts the serialized closure to every
    worker); each ``mapInPandas`` batch of corpus vectors then computes
    a (batch × queries) similarity matrix in one BLAS call and emits
    only each batch's local top-k per query, so the JVM-side window
    ranks |partitions|·k·|Q| candidate rows instead of |corpus|·|Q|.
    This is the 100 TB brute-force layout: scan stays distributed and
    columnar, Python cost is one matmul per Arrow batch, and the
    shuffle carries only partial top-k rows.
    """
    import numpy as np

    q_rows = _collect_bounded(
        queries.select(id_col, vec_col), _QUERY_COLLECT_CAP, "query set"
    )
    q_ids = np.array([r[id_col] for r in q_rows], dtype=np.int64)
    q_mat = np.array([r[vec_col] for r in q_rows], dtype=np.float64)
    q_norm = q_mat / np.linalg.norm(q_mat, axis=1, keepdims=True)

    out_schema = "query_id long, neighbor_id long, cos double"

    def kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            mat = np.array(list(pdf[vec_col]), dtype=np.float64)
            mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
            sims = mat @ q_norm.T                        # (batch, |Q|)
            sims = np.round(sims, 6)
            mask = ids[:, None] == q_ids[None, :]
            sims[mask] = -np.inf                         # drop self-pairs
            top = min(k, sims.shape[0])
            # Per-query local top-k within this batch. Ties at the
            # local boundary must be broken exactly like the final
            # window (cos DESC, neighbor_id ASC) or a tied smaller-id
            # neighbor can be evicted in-batch and diverge from
            # brute_force_topk.
            out_q, out_n, out_c = [], [], []
            for j in range(sims.shape[1]):
                col = sims[:, j]
                if top < col.shape[0]:
                    kth = -np.partition(-col, top - 1)[top - 1]
                    cand = np.nonzero(col >= kth)[0]  # includes boundary ties
                else:
                    cand = np.arange(col.shape[0])
                order = cand[np.lexsort((ids[cand], -col[cand]))][:top]
                keep = np.isfinite(col[order])
                order = order[keep]
                out_q.append(np.full(order.shape[0], q_ids[j]))
                out_n.append(ids[order])
                out_c.append(col[order])
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "neighbor_id": np.concatenate(out_n),
                    "cos": np.concatenate(out_c),
                }
            )

    partial = corpus.select(id_col, vec_col).mapInPandas(
        kernel, schema=out_schema
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos"), F.asc("neighbor_id")
    )
    return (
        partial.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "cos", "rk")
    )


def ivf_fit(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_lists: int = 16,
    seed: int = 42,
):
    """Train the IVF index ONCE: pyspark.ml KMeans over the corpus,
    returning ``(centroids (n_lists × dim) ndarray, assigned
    DataFrame (neighbor_id, cv, cell))``. The production handoff is
    the same as IVF-PQ's: write ``assigned`` ``partitionBy("cell")``
    and pass both back into :func:`ivf_topk` — per-query cost is then
    a pruned scan + probe join, never a re-clustering of the corpus
    (the training job must not run once per query set)."""
    import numpy as np

    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        _as_double(F.col(vec_col)).alias("cv"),
    ).withColumn("_feat", array_to_vector("cv"))
    km = KMeans(k=n_lists, seed=seed, featuresCol="_feat", predictionCol="cell")
    model = km.fit(c)
    assigned = model.transform(c).select("neighbor_id", "cv", "cell")
    centroids = np.array([np.asarray(ctr) for ctr in model.clusterCenters()])
    return centroids, assigned


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_lists: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    centroids=None,
    assigned: Optional[DataFrame] = None,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: KMeans partitions the
    corpus into ``n_lists`` cells; each query probes only its
    ``n_probe`` nearest cells.

    Scale shape: the corpus is clustered once (:func:`ivf_fit`) and
    written partitioned by cell; per query the candidate join is an
    equality join on the cell id, so the scan cost drops to
    ~``n_probe/n_lists`` of brute force. Centroids (n_lists × dim
    floats) are the only driver-side state. Recall depends on
    ``n_probe`` — true cosine is computed on candidates, so reported
    scores are exact.

    ``centroids`` + ``assigned``: the precomputed :func:`ivf_fit`
    model (pass the ``partitionBy("cell")`` artifact back for real
    partition pruning — the ivfpq codes-artifact pattern, ADVICE
    r11). Both or neither; when absent the fit runs here (convenient
    at test scale, a per-query training job at 100 TB).
    """
    import numpy as np

    if (centroids is None) != (assigned is None):
        raise ValueError("pass both centroids and assigned, or neither")
    if centroids is None:
        centroids, assigned = ivf_fit(corpus, id_col, vec_col, n_lists, seed)
    else:
        centroids = np.asarray(centroids, dtype=np.float64)
        assigned = assigned.select("neighbor_id", "cv", "cell")
    # validate DRIVER-side: with a precomputed model the n_lists
    # default is ignored, and an oversized n_probe would otherwise
    # surface as an opaque unequal-length-arrays PythonException
    # inside the executor kernel (code-review r12 finding #2)
    if not 1 <= n_probe <= len(centroids):
        raise ValueError(
            f"n_probe={n_probe} out of range for {len(centroids)} cells"
        )

    # Probe assignment stays distributed: the (n_lists × dim) centroid
    # matrix is closed over (broadcast with the task closure) and each
    # Arrow batch of queries computes its n_probe nearest cells with
    # one vectorized distance matrix — no driver-side per-query loop,
    # so large query sets scale with the cluster.
    #
    # Broadcast layout (VERDICT r12 #7): the probe frame carries ONLY
    # (query_id, cell) id pairs — 12 bytes each — and the query
    # VECTORS broadcast once in a separate (query_id, qv) frame,
    # instead of shipping each 8·dim-byte vector n_probe times inside
    # the probe rows. Broadcast bytes drop ~n_probe× at production
    # probe counts; results are identical (same cell candidate join,
    # qv re-attached by query id — pinned by the exhaustive-probe ==
    # brute-force test).

    def probe_kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            qm = np.array(list(pdf["qv"]), dtype=np.float64)
            d = ((qm[:, None, :] - centroids[None, :, :]) ** 2).sum(axis=2)
            cells = np.argsort(d, axis=1, kind="stable")[:, :n_probe]
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(
                        pdf["query_id"].to_numpy(), n_probe
                    ),
                    "cell": cells.ravel().astype("int32"),
                }
            )

    # materialize the query projection ONCE (eager localCheckpoint):
    # it is read twice below (probe kernel + qv re-attach join), and a
    # nondeterministic queries frame (unseeded sample, multi-partition
    # limit) re-evaluated per scan could otherwise yield two different
    # row sets — the join would silently drop queries (code-review r13
    # finding #1)
    qdf = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qv")
    )
    qdf = checkpoint(qdf, eager=True)
    probe_pairs = qdf.mapInPandas(
        probe_kernel, "query_id long, cell int"
    )

    sims = (
        assigned.join(F.broadcast(probe_pairs), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .join(F.broadcast(qdf), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(_cosine_arrow()(F.col("qv"), F.col("cv")), 6).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos"), F.asc("neighbor_id")
    )
    return (
        sims.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "cos", "rk")
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).round(6).tolist()


def signature_udf(planes: list[list[float]]):
    """Sign-pattern bucket id of a vector against fixed hyperplanes.

    Arrow-batched: one (batch × dim) @ (dim × n_planes) BLAS matmul
    per batch plus a bit-pack, instead of n_planes interpreted
    ``zip_with``/``aggregate`` folds per row (the repo-wide
    interpreted-HOF tax — see operators/dedup.py minhash notes).
    """

    planes_mat = np.asarray(planes, dtype=np.float64)
    pows = (1 << np.arange(planes_mat.shape[0], dtype=np.int64))

    @F.pandas_udf("long")
    def _sig(vs: pd.Series) -> pd.Series:
        if len(vs) == 0:
            return pd.Series([], dtype="int64")
        mat = np.array(list(vs), dtype=np.float64)
        bits = (mat @ planes_mat.T) > 0
        return pd.Series((bits * pows).sum(axis=1))

    return _sig


def multiprobe_buckets_udf(planes: list[list[float]], n_probe: int):
    """Multi-probe LSH probe sequence (Lv et al. 2007, "Multi-Probe
    LSH"): per query, the home bucket plus single-bit-flip buckets in
    order of INCREASING margin |q·plane| — the planes the query sits
    closest to are the ones most likely to have split it from a true
    neighbor, so those flips are probed first. Arrow-batched: one
    (batch × dim) @ (dim × n_planes) matmul, an argsort of |margins|,
    and ``n_probe`` bucket ids per row (array column; the caller
    explodes). ``n_probe=1`` degenerates to the home bucket."""
    from pyspark.sql.functions import pandas_udf

    W = np.array(planes, dtype=np.float64)  # (n_planes, dim)
    n_planes = len(planes)
    if not 1 <= n_probe <= n_planes + 1:
        raise ValueError("n_probe must be in [1, n_planes+1]")
    pows = 1 << np.arange(n_planes, dtype=np.int64)

    @pandas_udf("array<long>")
    def _probes(vs: pd.Series) -> pd.Series:
        if len(vs) == 0:
            return pd.Series([], dtype=object)
        mat = np.array(list(vs), dtype=np.float64)
        proj = mat @ W.T                              # (n, n_planes)
        home = ((proj > 0) * pows).sum(axis=1)        # (n,)
        order = np.argsort(np.abs(proj), axis=1, kind="stable")
        out = np.empty((len(mat), n_probe), dtype=np.int64)
        out[:, 0] = home
        for j in range(1, n_probe):
            out[:, j] = home ^ pows[order[:, j - 1]]
        return pd.Series(list(out))

    return _probes


def lsh_bucket_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_planes: int = 4,
    dim: int = 64,
    n_probe: int = 1,
) -> DataFrame:
    """Approximate cosine top-k via random-hyperplane bucketing.

    Corpus rows and query rows land in one of 2^n_planes buckets; the
    candidate join is an equality join on the bucket id (shuffle-
    partitioned by bucket — each executor sees only its buckets).
    True cosine is computed on candidates; rows short of k neighbors
    reflect the recall/efficiency trade.

    ``n_probe`` (r12): multi-probe LSH — each query also probes
    ``n_probe - 1`` single-bit-flip buckets in increasing-margin
    order (:func:`multiprobe_buckets_udf`), recovering most of the
    recall lost to an unlucky plane at ~n_probe× the candidate cost —
    FAR cheaper than the classical alternative of more hash tables
    (which re-scans and re-stores the corpus per table). The corpus
    side is bucketed ONCE either way; recall is weakly monotone in
    ``n_probe`` under exact verification (pinned by test).
    """
    planes = _hyperplanes(dim, n_planes)
    sig = signature_udf(planes)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        _as_double(F.col(vec_col)).alias("cv"),
    ).withColumn("bucket", sig(F.col("cv")))
    if n_probe == 1:
        q = queries.select(
            F.col(id_col).alias("query_id"),
            _as_double(F.col(vec_col)).alias("qv"),
        ).withColumn("bucket", sig(F.col("qv")))
    else:
        probes = multiprobe_buckets_udf(planes, n_probe)
        q = queries.select(
            F.col(id_col).alias("query_id"),
            _as_double(F.col(vec_col)).alias("qv"),
        ).withColumn(
            "bucket", F.explode(probes(F.col("qv")))
        )
    sims = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(_cosine_arrow()(F.col("qv"), F.col("cv")), 6).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos"), F.asc("neighbor_id")
    )
    return (
        sims.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "cos", "rk")
    )


# --- deterministic banded LSH (oracle-replicable) ---------------------
#
# Integer-arithmetic hyperplane signatures: every step (quantization,
# weights, dot products, bit packing) is exact int64 math, so a SQL
# oracle can reproduce the buckets bit-for-bit — no float-summation-
# order hazard between engines. Weight for (plane j, dim i) over a
# dim-d vector:
#
#     k = 1 + i + d*j
#     w(j, i) = ((k * 2654435761) % 2^32) // 2^22 - 512      # [-512, 511]
#
# (Knuth multiplicative hash; the // 2^22 keeps the well-mixed HIGH
# bits of the 32-bit product). Vector values quantize as
# floor(x * 10^6) — a single IEEE multiply then an exact floor, both
# identical across engines. A signature bit is (sum_i q_i * w(j,i)) > 0;
# r consecutive bits pack into one band bucket.

_DET_LSH_MULT = 2654435761
_DET_LSH_MOD = 1 << 32
_DET_LSH_DIV = 1 << 22
_DET_LSH_SCALE = 1_000_000


def det_hyperplane_weights(dim: int, n_planes: int) -> np.ndarray:
    """(n_planes, dim) int64 weight matrix per the formula above.

    KNOWN QUALITY LIMIT (measured r15): the map k → k·MULT mod 2^32
    is LINEAR, so row b+1's keys are row b's shifted by dim·MULT —
    the rows are near-translates of one another (inter-row |corr| up
    to 1.0), i.e. the family spans very few independent directions
    and adding planes adds almost no angular information. This is
    tolerable where it is used — LSH BANDING whose candidates are
    always exact-verified downstream (weak planes cost candidates/
    recall, never correctness; the banded near-dup path measures and
    caps exactly that) — and the gated oracle replays this exact
    arithmetic, so it stays frozen here. Anything that needs planes
    to carry INDEPENDENT information (the binary-sketch widen knob)
    must use :func:`det_rotation_weights` instead: measured on 20 k
    unit vectors, sign-agreement/angle correlation is 0.25 for this
    family at ANY width vs 0.80 (256 bits) / 0.89 (512) for the
    avalanche family."""
    k = 1 + np.arange(dim, dtype=np.int64)[None, :] + dim * np.arange(
        n_planes, dtype=np.int64
    )[:, None]
    return (k * _DET_LSH_MULT) % _DET_LSH_MOD // _DET_LSH_DIV - 512


def _splitmix64(x: np.ndarray) -> np.ndarray:
    """Vectorized splitmix64 finalizer (Steele/Lea/Flood's SplitMix,
    the JDK SplittableRandom mix — public constants): full-avalanche
    uint64 → uint64, so arithmetic-progression keys come out
    statistically independent — exactly what the linear multiplicative
    map above does NOT provide."""
    M = np.uint64
    x = x + M(0x9E3779B97F4A7C15)
    x = (x ^ (x >> M(30))) * M(0xBF58476D1CE4E5B9)
    x = (x ^ (x >> M(27))) * M(0x94D049BB133111EB)
    return x ^ (x >> M(31))


def det_rotation_weights(dim: int, n_planes: int) -> np.ndarray:
    """(n_planes, dim) int64 hyperplane matrix for the binary-sketch
    WIDEN path: weight(b, i) = top-24 signed bits of
    splitmix64(1 + i + dim·b) — i.i.d.-uniform in [-2^23, 2^23),
    deterministic integer arithmetic any engine replays exactly.
    |Σ q_i·w_bi| ≤ 10^6 · 2^23 · dim ≈ 2^49·(dim/64): exact in
    int64, no overflow for any practical dim."""
    k = (
        1
        + np.arange(dim, dtype=np.uint64)[None, :]
        + np.uint64(dim) * np.arange(n_planes, dtype=np.uint64)[:, None]
    )
    return (_splitmix64(k) >> np.uint64(40)).astype(np.int64) - (1 << 23)


def banded_signature_udf(dim: int, n_bands: int, band_bits: int):
    """Arrow-vectorized ``array<double> -> array<long>`` of per-band
    bucket ids: one int64 matmul (n_batch x dim) @ (dim x n_planes)
    per Arrow batch plus a bit-pack — the per-vector cost is
    O(dim * n_bands * band_bits) exact integer ops, independent of
    corpus size."""
    from pyspark.sql.functions import pandas_udf

    w = det_hyperplane_weights(dim, n_bands * band_bits)
    pows = 1 << np.arange(band_bits, dtype=np.int64)

    @pandas_udf("array<long>")
    def _sig(vs: pd.Series) -> pd.Series:
        if len(vs) == 0:
            return pd.Series([], dtype=object)
        mat = np.array(list(vs), dtype=np.float64)
        q = np.floor(mat * _DET_LSH_SCALE).astype(np.int64)
        bits = (q @ w.T) > 0
        buckets = (
            bits.reshape(len(q), n_bands, band_bits) * pows
        ).sum(axis=2)
        return pd.Series(list(buckets))

    return _sig


# ---------------------------------------------------------------------------
# Product quantization (Jégou et al. 2011, "Product Quantization for
# Nearest Neighbor Search") — the memory side of ANN at 100 TB: a
# 64-dim float32 vector is 256 bytes; its PQ code is m bytes (32x
# smaller at m=8). The index that must be scanned per query is the
# CODES table, so the working set — and the shuffle, if any stage
# needs one — shrinks by the same factor. Search is ADC (asymmetric
# distance computation): each query precomputes an (m × ksub) lookup
# table of subspace distances to every centroid, and a candidate's
# approximate distance is m table lookups, no float math per
# dimension. True cosine is recomputed on the top-R refine set, so
# reported scores are exact (the IVF/LSH contract).
# ---------------------------------------------------------------------------


# Quantizer training inputs are SAMPLES by contract (the FAISS
# convention: a representative few thousand vectors train codebooks
# as well as the corpus does). The trainers therefore collect the
# sample once and run in-memory Lloyd — a pyspark.ml fit per
# subspace was measured at ~35s of pure scheduler overhead for a
# 2048-row sample that numpy trains in milliseconds. The cap makes
# an accidental full-corpus collect an ERROR, not an OOM.
_TRAIN_COLLECT_CAP = 65536


def _require_training_rows(n: int, k: int, what: str) -> None:
    """The undersized mirror of ``_TRAIN_COLLECT_CAP`` (ADVICE r11):
    a training sample with <= k rows makes ``_np_lloyd`` pad the
    codebook with all-zero centroids — duplicate/degenerate codewords
    that silently skew ADC rankings. Make it an error, not a skew."""
    if n <= k:
        raise ValueError(
            f"quantizer training input has {n} rows but {what}={k} "
            "centers were requested; a sample smaller than the "
            "codebook degenerates to zero-padded centroids — pass a "
            f"larger sample (> {k} rows)"
        )


def _collect_training_matrix(corpus: DataFrame, vec_col: str) -> np.ndarray:
    rows = _collect_bounded(
        corpus.select(vec_col), _TRAIN_COLLECT_CAP,
        "quantizer training input",
    )
    if not rows:
        raise ValueError("empty quantizer training input")
    X = np.array([r[vec_col] for r in rows], dtype=np.float64)
    n = np.linalg.norm(X, axis=1, keepdims=True)
    n[n == 0] = 1.0
    return X / n


def _np_lloyd(
    X: np.ndarray, k: int, seed: int, iters: int = 25
) -> np.ndarray:
    """Seeded in-memory Lloyd for quantizer training: deterministic
    sample init, matmul distances, empty clusters reseeded to the
    point farthest from its centroid. Training sets are
    closure-sized by contract, so this runs in milliseconds."""
    rng = np.random.default_rng(seed)
    n = len(X)
    if n <= k:
        C = np.zeros((k, X.shape[1]))
        C[:n] = X
        return C
    C = X[rng.choice(n, size=k, replace=False)].copy()
    xn = (X * X).sum(axis=1)
    for _ in range(iters):
        d = (C * C).sum(axis=1)[None, :] - 2.0 * (X @ C.T)
        a = np.argmin(d, axis=1)
        # full squared distance to the assigned center (the matmul
        # form drops the per-row ||x||², constant per ROW but needed
        # for the farthest-point argmax ACROSS rows)
        full = xn + d[np.arange(n), a]
        # successive farthest points for empty-cluster reseeds: two
        # clusters emptying in the same iteration must NOT both get
        # the single argmax row (identical centroids = a permanently
        # wasted code point)
        far_order = iter(np.argsort(-full))
        moved = False
        for j in range(k):
            mask = a == j
            nc = X[mask].mean(axis=0) if mask.any() else X[next(far_order)]
            if not np.allclose(nc, C[j]):
                moved = True
            C[j] = nc
        if not moved:
            break
    return C


def pq_train(
    corpus: DataFrame,
    vec_col: str = "embedding",
    m: int = 8,
    ksub: int = 16,
    seed: int = 42,
) -> np.ndarray:
    """Train the (m, ksub, dim/m) PQ codebooks: the (bounded, sampled
    — see ``_TRAIN_COLLECT_CAP``) training input is collected once,
    unit-normalized (normalization makes subspace L2 rank-equivalent
    to cosine downstream), sliced into ``m`` subspaces, and each
    subspace gets a seeded in-memory Lloyd of ``ksub`` centers. The
    model is m·ksub·(dim/m) = dim·ksub floats — a few KB that rides
    in task closures forever after ("broadcast the model", never the
    data); training cost is CONSTANT in corpus size because the
    sample is."""
    X = _collect_training_matrix(corpus, vec_col)
    _require_training_rows(len(X), ksub, "ksub")
    dim = X.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    dsub = dim // m
    Xs = X.reshape(len(X), m, dsub)
    return np.stack(
        [_np_lloyd(Xs[:, j, :], ksub, seed + j) for j in range(m)]
    )  # (m, ksub, dsub)


def _pq_reconstruct(Y: np.ndarray, codebooks: np.ndarray) -> np.ndarray:
    """Nearest-codeword reconstruction of rotated sample Y under the
    given codebooks — the OPQ objective's quantizer half."""
    n = len(Y)
    m, ksub, dsub = codebooks.shape
    Ys = Y.reshape(n, m, dsub)
    out = np.empty_like(Y)
    for j in range(m):
        cb = codebooks[j]
        d = (cb * cb).sum(axis=1)[None, :] - 2.0 * (Ys[:, j, :] @ cb.T)
        out[:, j * dsub: (j + 1) * dsub] = cb[np.argmin(d, axis=1)]
    return out


def pq_sq_error(X: np.ndarray, rotation: np.ndarray,
                codebooks: np.ndarray) -> float:
    """Mean squared quantization error ||XR − q(XR)||² — the objective
    both PQ (R = I) and OPQ minimize; exposed for tests/diagnostics."""
    Y = X @ rotation
    return float(((Y - _pq_reconstruct(Y, codebooks)) ** 2).sum(axis=1).mean())


def opq_train(
    corpus: DataFrame,
    vec_col: str = "embedding",
    m: int = 8,
    ksub: int = 16,
    seed: int = 42,
    iters: int = 10,
) -> tuple[np.ndarray, np.ndarray]:
    """OPQ — Optimized Product Quantization (Ge et al. 2013): learn an
    orthonormal rotation R jointly with the PQ codebooks so the
    subspace split stops fighting correlated dimensions. Alternating
    minimization on the bounded training sample (the PQ/IVF-PQ
    training contract — all driver-side numpy):

    1. fix R, retrain per-subspace codebooks on X·R (seeded Lloyd);
    2. fix codes, solve the orthogonal Procrustes problem
       R = argmin ||X·R − X̂|| = U·Vᵀ from SVD(Xᵀ·X̂), where X̂ is the
       codebook reconstruction.

    Returns (rotation (dim × dim), codebooks (m, ksub, dim/m)) — feed
    BOTH into :func:`pq_encode` / :func:`pq_topk` via ``rotation=``.
    The rotation is orthonormal (pinned), so cosine — and therefore
    the exact refine — is unchanged; only code assignment quality
    improves (objective non-increase pinned vs the R = I PQ
    baseline)."""
    if iters < 1:
        raise ValueError(
            f"iters must be >= 1 (got {iters}); zero iterations would "
            "train no codebooks at all"
        )
    X = _collect_training_matrix(corpus, vec_col)
    _require_training_rows(len(X), ksub, "ksub")
    dim = X.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    dsub = dim // m

    R = np.eye(dim)
    books = None
    best = None
    for it in range(iters):
        Y = X @ R
        Ys = Y.reshape(len(X), m, dsub)
        books = np.stack(
            [_np_lloyd(Ys[:, j, :], ksub, seed + j) for j in range(m)]
        )
        err = pq_sq_error(X, R, books)
        # keep the best (R, books) seen: per-step Lloyd is a local
        # minimizer, so the alternation is not guaranteed monotone —
        # returning the argmin IS
        if best is None or err < best[0]:
            best = (err, R.copy(), books.copy())
        Xhat = _pq_reconstruct(Y, books)
        U, _sv, Vt = np.linalg.svd(X.T @ Xhat)
        R = U @ Vt
    _err, R, books = best
    return R, books


def _unit_normalized(df: DataFrame, vec_col: str) -> DataFrame:
    """Adds ``_uv`` = vec / ||vec|| (JVM expressions; zero vectors
    pass through unscaled rather than dividing by zero)."""
    v = _as_double(F.col(vec_col))
    nrm = F.sqrt(
        F.aggregate(
            v, F.lit(0.0), lambda acc, x: acc + x * x
        )
    )
    return df.withColumn(
        "_uv",
        F.when(nrm == 0, v).otherwise(
            F.transform(v, lambda x: x / nrm)
        ),
    )


def pq_encode(
    corpus: DataFrame,
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rotation: Optional[np.ndarray] = None,
) -> DataFrame:
    """(vec_id, code binary): each vector quantized to m uint8
    subspace-centroid ids — m BYTES per vector. Map-only Arrow
    kernel: per batch, per subspace, one ||x||²+||c||²−2·X@Cᵀ matmul
    and an argmin; the codebooks ride in the closure. No shuffle —
    the codes table inherits the scan partitioning.

    ``rotation``: the learned OPQ rotation (:func:`opq_train`) — an
    orthonormal (dim × dim) matrix applied inside the same kernel
    before subspace slicing (one extra matmul per batch; rotation is
    cosine-invariant so downstream exact refine is untouched)."""
    m, ksub, dsub = codebooks.shape
    if ksub > 256:
        raise ValueError("ksub must fit a uint8 code")
    cb = codebooks.astype(np.float64)
    cn = (cb * cb).sum(axis=2)  # (m, ksub)
    R = _check_rotation(rotation, m * dsub)

    def kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                yield pd.DataFrame({"vec_id": [], "code": []})
                continue
            X = np.array(list(pdf["_uv"]), dtype=np.float64)
            if R is not None:
                X = X @ R
            n = len(X)
            Xs = X.reshape(n, m, dsub)
            codes = np.empty((n, m), dtype=np.uint8)
            for j in range(m):
                d = cn[j][None, :] - 2.0 * (Xs[:, j, :] @ cb[j].T)
                codes[:, j] = np.argmin(d, axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "code": [c.tobytes() for c in codes],
                }
            )

    return (
        _unit_normalized(corpus, vec_col)
        .select(F.col(id_col).alias("vec_id"), "_uv")
        .mapInPandas(kernel, "vec_id long, code binary")
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    refine: int = 50,
    codes: Optional[DataFrame] = None,
    rotation: Optional[np.ndarray] = None,
) -> DataFrame:
    """PQ/ADC approximate top-k with exact refine.

    ``codes``: a precomputed (vec_id, code) table (the published
    artifact) — skips the per-query corpus re-encode; falls back to
    :func:`pq_encode` when absent. Codes must come from the SAME
    codebooks model (and the same ``rotation``, when OPQ-trained).

    ``rotation``: the OPQ rotation (:func:`opq_train`): queries are
    rotated before the LUT build and the corpus inside the encode
    kernel; the exact-cosine refine is untouched (orthonormal
    rotations preserve cosine).

    Stage 1 (ADC scan — the scale path): the bounded query set is
    collected once (the brute-force/IVF bounded-collect contract),
    each query's (m × ksub) distance lookup table is computed from
    the codebooks, and an Arrow kernel scans the CODES table — m
    bytes per corpus row — emitting per-batch partial top-``refine``
    candidates per query (argpartition, vectorized lookups; no float
    math per dimension). A ranking window keeps the global
    top-``refine``.

    Stage 2 (exact refine): candidates equi-join back to the corpus
    vectors by id (only refine·|Q| rows move), true cosine is
    computed (Arrow BLAS), and the final window emits exact-scored
    (query_id, neighbor_id, cos, rk) — the IVF/LSH output contract:
    approximate candidate set, exact reported scores."""
    m, ksub, dsub = codebooks.shape
    cb = codebooks.astype(np.float64)

    q = _collect_bounded(
        _unit_normalized(queries, vec_col)
        .select(
            F.col(id_col).alias("query_id"), "_uv",
            # raw vector collected alongside: the exact-refine tail
            # reuses THIS row set instead of re-evaluating `queries`
            _as_double(F.col(vec_col)).alias("_raw"),
        ),
        _QUERY_COLLECT_CAP, "query set",
    )
    if not q:
        raise ValueError("empty query set")
    qids = np.array([r["query_id"] for r in q], dtype=np.int64)
    Q = np.array([r["_uv"] for r in q], dtype=np.float64)
    R = _check_rotation(rotation, m * dsub)
    if R is not None:
        Q = Q @ R
    Qs = Q.reshape(len(q), m, dsub)
    # LUT[q, j, c] = ||q_j - c||² up to the per-query constant ||q_j||²
    # (constant per query → rank-free): -2·q_j·c + ||c||²
    cn = (cb * cb).sum(axis=2)
    lut = np.stack(
        [cn[j][None, :] - 2.0 * (Qs[:, j, :] @ cb[j].T) for j in range(m)],
        axis=1,
    )  # (n_q, m, ksub)

    if codes is None:
        codes = pq_encode(corpus, codebooks, id_col, vec_col, rotation)
    codes = codes.select("vec_id", "code")

    def adc_kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf["vec_id"].to_numpy()
            C = np.frombuffer(
                b"".join(pdf["code"]), dtype=np.uint8
            ).reshape(len(ids), m)
            # approx distance of every corpus row to every query:
            # sum of m table lookups — (n, n_q)
            d = np.zeros((len(ids), len(qids)), dtype=np.float64)
            for j in range(m):
                d += lut[:, j, :][:, C[:, j]].T
            # drop self BEFORE truncation (its ~0 ADC distance would
            # burn one of this batch's r candidate slots)
            d[ids[:, None] == qids[None, :]] = np.inf
            r = min(refine, len(ids))
            part = np.argpartition(d, r - 1, axis=0)[:r]  # (r, n_q)
            out_q = np.repeat(qids, r)
            out_n = ids[part.T.ravel()]
            out_d = np.take_along_axis(d, part, axis=0).T.ravel()
            keep = np.isfinite(out_d)
            yield pd.DataFrame(
                {
                    "query_id": out_q[keep],
                    "neighbor_id": out_n[keep],
                    "adc": out_d[keep],
                }
            )

    # self-matches are dropped IN the kernel (before truncation) —
    # no neighbor_id == query_id row can reach this plan, pinned by
    # the no-self assertion in tests/test_operators.py
    partial = codes.mapInPandas(
        adc_kernel, "query_id long, neighbor_id long, adc double"
    )
    wr = Window.partitionBy("query_id").orderBy(
        F.asc("adc"), F.asc("neighbor_id")
    )
    cand = (
        partial.withColumn("_r", F.row_number().over(wr))
        .filter(F.col("_r") <= refine)
        .select("query_id", "neighbor_id")
    )

    return _exact_refine(
        cand, corpus, [(r["query_id"], r["_raw"]) for r in q],
        id_col, vec_col, k, max_candidates=refine * len(qids),
    )


def _exact_refine(
    cand: DataFrame,
    corpus: DataFrame,
    q_pairs: list,
    id_col: str,
    vec_col: str,
    k: int,
    max_candidates: int,
) -> DataFrame:
    """Shared PQ/IVFPQ refine tail: (query_id, neighbor_id) candidate
    pairs equi-join back to the corpus vectors by id (only
    refine·|Q| rows move), TRUE cosine is computed (Arrow BLAS), and
    the ranking window emits exact-scored (query_id, neighbor_id,
    cos, rk) — approximate candidate set, exact reported scores.

    ``q_pairs`` is the caller's ALREADY-COLLECTED [(query_id, raw
    vector)] list — the refine must see exactly the row set the ADC
    stage built its LUTs from, so the queries frame is never
    re-evaluated here (a nondeterministic frame — unseeded sample,
    multi-partition limit — would otherwise feed a different row set
    to the qv re-attach join and silently drop or mis-score queries;
    code-review r13 late finding #1, the shared-level fix of the
    ivf_topk localCheckpoint issue).

    The candidate side is refine·|Q| rows BY CONSTRUCTION but sits
    behind a window over a mapInPandas stage — exactly the
    garbage-static-estimate shape that OOM'd the decontamination
    join at sf10 — so it is COLLECTED (the bounded-collect law: the
    same contract that already collects the query set bounds
    refine·|Q|) and re-created as a local frame before the broadcast
    join. This also decouples the broadcast build from the ADC scan's
    latency: hinting the lazy `cand` would put the whole codes-scan
    pipeline inside ``spark.sql.broadcastTimeout``, turning a slow
    scan into a hard query failure. The corpus side never shuffles
    for this join (plan-pinned)."""
    spark = corpus.sparkSession
    # the construction bound is refine*|Q| (callers pass it exactly):
    # capping at the query-set cap here would REJECT valid calls —
    # e.g. 1,000 queries x refine=100 is 100k id pairs, ~1.6 MB, fine
    # (code-review r12 finding #1)
    cand_rows = _collect_bounded(
        cand, max_candidates, "refine candidate set"
    )
    cand_local = spark.createDataFrame(
        [(r["query_id"], r["neighbor_id"]) for r in cand_rows],
        "query_id long, neighbor_id long",
    )
    qdf = spark.createDataFrame(
        [(int(qid), list(qv)) for qid, qv in q_pairs],
        "query_id long, qv array<double>",
    )
    cvec = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        _as_double(F.col(vec_col)).alias("cv"),
    )
    sims = (
        F.broadcast(cand_local).join(cvec, "neighbor_id")
        .join(F.broadcast(qdf), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                _cosine_arrow()(F.col("qv"), F.col("cv")), 6
            ).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos"), F.asc("neighbor_id")
    )
    return (
        sims.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "cos", "rk")
    )


# ---------------------------------------------------------------------------
# IVF-PQ (Jégou et al. 2011 §V) — the composition production indexes
# actually ship (FAISS IVFPQ): a coarse quantizer routes each vector
# to one of n_lists cells and PQ encodes the RESIDUAL x − c(x), so
# the per-cell codes see a tighter distribution than raw vectors and
# each query scans only its n_probe cells' codes — both the IVF scan
# reduction (n_probe/n_lists of the corpus) and the PQ memory
# reduction (m bytes/vector) at once. At 100 TB the codes table is
# written PARTITIONED BY cell, so the isin(probed cells) filter
# becomes partition pruning and a query touches only its cells'
# files.
# ---------------------------------------------------------------------------


def ivfpq_train(
    corpus: DataFrame,
    vec_col: str = "embedding",
    n_lists: int = 8,
    m: int = 8,
    ksub: int = 16,
    seed: int = 42,
    rotation: Optional[np.ndarray] = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Train (coarse centroids (n_lists, dim), residual PQ codebooks
    (m, ksub, dim/m)). The (bounded, sampled — see
    ``_TRAIN_COLLECT_CAP``) training input is collected once; the
    coarse quantizer is a seeded in-memory Lloyd over the
    unit-normalized sample, residuals x − c(x) are taken against it
    with the SAME argmin arithmetic the encode kernel uses, and each
    subspace gets an independent Lloyd over its residual slice. The
    whole model is (n_lists + ksub)·dim floats — closure-sized;
    training cost is CONSTANT in corpus size because the sample is.

    ``rotation`` (r13): the learned OPQ rotation (:func:`opq_train`)
    — the FAISS ``OPQ…,IVF…,PQ…`` composition: training, encoding,
    and search all operate in the rotated space (pass the SAME
    matrix to :func:`ivfpq_encode` / :func:`ivfpq_topk`). Orthonormal
    rotations preserve cosine, so the exact refine is untouched;
    only the subspace split quality improves on correlated
    dimensions."""
    X = _collect_training_matrix(corpus, vec_col)
    _require_training_rows(len(X), n_lists, "n_lists")
    _require_training_rows(len(X), ksub, "ksub")
    rotation = _check_rotation(rotation, X.shape[1])
    if rotation is not None:
        X = X @ rotation
    dim = X.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    dsub = dim // m
    coarse = _np_lloyd(X, n_lists, seed)

    d = (coarse * coarse).sum(axis=1)[None, :] - 2.0 * (X @ coarse.T)
    R = X - coarse[np.argmin(d, axis=1)]
    Rs = R.reshape(len(R), m, dsub)
    books = np.stack(
        [_np_lloyd(Rs[:, j, :], ksub, seed + 1 + j) for j in range(m)]
    )
    return coarse, books


def _field_ddl(schema, name: str) -> str:
    """StructField → DDL snippet ("vec_id bigint") — shared by every
    kernel that derives its output schema from the input's."""
    return schema[name].simpleString().replace(":", " ", 1)


def _residuals(
    corpus: DataFrame, coarse: np.ndarray, vec_col: str,
    rotation: Optional[np.ndarray] = None,
) -> DataFrame:
    """Map-only (original columns minus ``vec_col``, cell int,
    _res array<double>): unit-normalize, optionally rotate (the OPQ
    composition — one extra matmul per batch, the matrix rides the
    closure), assign the nearest coarse centroid (one matmul per
    Arrow batch; ties to the lower cell id), subtract it. The raw
    vector column is dropped IN the kernel — encode ships m-byte
    codes, not 8·dim-byte doubles. The SAME kernel serves train,
    encode, and any re-assignment, so the cell arithmetic cannot
    drift between stages."""
    cm = coarse.astype(np.float64)
    cn = (cm * cm).sum(axis=1)
    R = _check_rotation(rotation, cm.shape[1])

    cols = [f.name for f in corpus.schema.fields if f.name != vec_col]
    out_schema = ", ".join(
        [_field_ddl(corpus.schema, c) for c in cols]
        + ["cell int", "_res array<double>"]
    )

    def kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.array(list(pdf["_uv"]), dtype=np.float64)
            if R is not None:
                X = X @ R
            d = cn[None, :] - 2.0 * (X @ cm.T)
            cell = np.argmin(d, axis=1)
            res = X - cm[cell]
            out = pdf.drop(columns=["_uv", vec_col]).copy()
            out["cell"] = cell.astype(np.int32)
            out["_res"] = list(res)
            yield out

    return _unit_normalized(corpus, vec_col).mapInPandas(kernel, out_schema)


def ivfpq_encode(
    corpus: DataFrame,
    coarse: np.ndarray,
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rotation: Optional[np.ndarray] = None,
) -> DataFrame:
    """(vec_id, cell, code binary): cell assignment + residual PQ
    codes, map-only (both models ride in closures, no shuffle, no
    model-table join — plan-pinned). m uint8 codes + an int cell id
    per vector; at scale, write this ``partitionBy("cell")``.
    ``rotation``: the OPQ matrix the model was trained with (see
    :func:`ivfpq_train`) — applied inside the residual kernel."""
    m, ksub, dsub = codebooks.shape
    if ksub > 256:
        raise ValueError("ksub must fit a uint8 code")
    cb = codebooks.astype(np.float64)
    cn = (cb * cb).sum(axis=2)  # (m, ksub)

    def kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            R = np.array(list(pdf["_res"]), dtype=np.float64)
            n = len(R)
            Rs = R.reshape(n, m, dsub)
            codes = np.empty((n, m), dtype=np.uint8)
            for j in range(m):
                d = cn[j][None, :] - 2.0 * (Rs[:, j, :] @ cb[j].T)
                codes[:, j] = np.argmin(d, axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "cell": pdf["cell"],
                    "code": [c.tobytes() for c in codes],
                }
            )

    named = corpus.select(F.col(id_col).alias("vec_id"), vec_col)
    return _residuals(named, coarse, vec_col, rotation).select(
        "vec_id", "cell", "_res"
    ).mapInPandas(kernel, "vec_id long, cell int, code binary")


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    coarse: np.ndarray,
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_probe: int = 4,
    refine: int = 50,
    codes: Optional[DataFrame] = None,
    rotation: Optional[np.ndarray] = None,
) -> DataFrame:
    """IVF-PQ approximate top-k with exact refine.

    ``rotation`` (r13): the OPQ matrix the coarse/codebooks model was
    trained with (:func:`ivfpq_train` ``rotation=``) — the FAISS
    ``OPQ,IVF,PQ`` composition. Queries are rotated before cell
    probing and LUT construction; codes must come from
    :func:`ivfpq_encode` with the SAME matrix. The exact-cosine
    refine is untouched (orthonormal rotations preserve cosine).

    The bounded query set is collected once; each query picks its
    ``n_probe`` nearest cells and precomputes one (m × ksub) ADC
    lookup table PER PROBED CELL from the residual q − c(cell) (the
    residual trick: distances within a cell are taken in that cell's
    residual frame). The codes scan filters to the union of probed
    cells (partition pruning when the codes table is written
    partitioned by cell), groups each Arrow batch by cell, and scores
    candidates with m table lookups each — per-batch partial
    top-``refine`` per query, global ranking window, then the shared
    exact-cosine refine tail (:func:`_exact_refine`).

    ``codes``: a precomputed (vec_id, cell, code) table — the
    production path (ADVICE r11): pass the ``partitionBy("cell")``
    parquet artifact back in and the ``isin(probed cells)`` filter
    becomes REAL partition pruning on disk, so each query pays a
    ~n_probe/n_lists fraction of the codes scan instead of a
    full-corpus re-encode. Falls back to :func:`ivfpq_encode` over
    ``corpus`` when absent (codes must have been produced by the SAME
    coarse/codebooks model — artifact round-trip pinned by test)."""
    m, ksub, dsub = codebooks.shape
    cm = coarse.astype(np.float64)
    cb = codebooks.astype(np.float64)
    cbn = (cb * cb).sum(axis=2)  # (m, ksub)

    q = _collect_bounded(
        _unit_normalized(queries, vec_col)
        .select(
            F.col(id_col).alias("query_id"), "_uv",
            # raw vector collected alongside: the exact-refine tail
            # reuses THIS row set instead of re-evaluating `queries`
            _as_double(F.col(vec_col)).alias("_raw"),
        ),
        _QUERY_COLLECT_CAP, "query set",
    )
    if not q:
        raise ValueError("empty query set")
    qids = np.array([r["query_id"] for r in q], dtype=np.int64)
    Q = np.array([r["_uv"] for r in q], dtype=np.float64)
    rotation = _check_rotation(rotation, cm.shape[1])
    if rotation is not None:
        Q = Q @ rotation
    dq = ((cm * cm).sum(axis=1)[None, :] - 2.0 * (Q @ cm.T))
    probed = np.argsort(dq, axis=1, kind="stable")[:, :n_probe]  # (n_q, p)

    # luts[(qi, cell)] = (m, ksub) table of subspace residual distances.
    # coarse_term[(qi, cell)] = ||q - c(cell)||² — FAISS's dis0: the
    # LUT sums estimate ||r̂||² − 2(q−c)·r̂, which is the true distance
    # MINUS this per-cell constant; candidates from DIFFERENT probed
    # cells are ranked in one global window, so dropping it would make
    # their scores incommensurable (far-cell noise crowding out
    # near-cell neighbors — a silent recall hole no loose floor
    # catches).
    qn = (Q * Q).sum(axis=1)
    luts: dict[tuple[int, int], np.ndarray] = {}
    coarse_term: dict[tuple[int, int], float] = {}
    for qi in range(len(qids)):
        for cell in probed[qi]:
            t = (Q[qi] - cm[cell]).reshape(m, dsub)
            luts[(qi, int(cell))] = np.stack(
                [
                    cbn[j] - 2.0 * (cb[j] @ t[j])
                    for j in range(m)
                ]
            )
            # dq holds ||c||² − 2 q·c; add ||q||² for the full norm
            coarse_term[(qi, int(cell))] = float(
                qn[qi] + dq[qi, int(cell)]
            )

    cells = sorted({int(c) for row in probed for c in row})
    if codes is None:
        codes = ivfpq_encode(
            corpus, coarse, codebooks, id_col, vec_col, rotation
        )
    codes = codes.select("vec_id", "cell", "code").filter(
        F.col("cell").isin(cells)
    )

    qi_by_cell: dict[int, list[int]] = {}
    for qi in range(len(qids)):
        for cell in probed[qi]:
            qi_by_cell.setdefault(int(cell), []).append(qi)

    def adc_kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            frames = []
            for cell, grp in pdf.groupby("cell"):
                cell = int(cell)
                ids = grp["vec_id"].to_numpy()
                C = np.frombuffer(
                    b"".join(grp["code"]), dtype=np.uint8
                ).reshape(len(ids), m)
                for qi in qi_by_cell.get(cell, ()):
                    lut = luts[(qi, cell)]
                    d = np.full(len(ids), coarse_term[(qi, cell)])
                    for j in range(m):
                        d += lut[j][C[:, j]]
                    # drop self BEFORE truncation, or the query's own
                    # ~0-distance code burns one of this batch's r
                    # candidate slots
                    d[ids == qids[qi]] = np.inf
                    r = min(refine, len(ids))
                    part = np.argpartition(d, r - 1)[:r]
                    keep = np.isfinite(d[part])
                    part = part[keep]
                    frames.append(
                        pd.DataFrame(
                            {
                                "query_id": np.full(len(part), qids[qi]),
                                "neighbor_id": ids[part],
                                "adc": d[part],
                            }
                        )
                    )
            if frames:
                yield pd.concat(frames, ignore_index=True)

    # self-matches dropped in-kernel, as in pq_topk
    partial = codes.mapInPandas(
        adc_kernel, "query_id long, neighbor_id long, adc double"
    )
    wr = Window.partitionBy("query_id").orderBy(
        F.asc("adc"), F.asc("neighbor_id")
    )
    cand = (
        partial.withColumn("_r", F.row_number().over(wr))
        .filter(F.col("_r") <= refine)
        .select("query_id", "neighbor_id")
    )
    return _exact_refine(
        cand, corpus, [(r["query_id"], r["_raw"]) for r in q],
        id_col, vec_col, k, max_candidates=refine * len(qids),
    )


# ---------------------------------------------------------------------------
# PCA — the standard embedding pre-transform (FAISS PCAMatrix): fit is
# driver math on a BOUNDED covariance aggregate (each partition
# reduces to one (n, Σx, Σxxᵀ) row — ≤|partitions| rows collected, the
# effective-rank pattern), and projection is map-only with the (d × r)
# matrix riding in the closure. Used for dimensionality reduction
# before PQ/IVF (smaller codes, decorrelated subspaces) and for
# whitening-style embedding-space repairs.
# ---------------------------------------------------------------------------


def pca_fit(
    corpus: DataFrame,
    vec_col: str = "embedding",
    r: int = 8,
    expect_dim: Optional[int] = None,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Fit PCA over the corpus: returns (mean (d,), components (d, r),
    eigvals (r,)) with components sign-canonicalized (the largest-
    magnitude entry of each eigenvector is made positive) so the
    model — and everything projected through it — is deterministic
    under any partitioning. One distributed pass: per-partition
    (n, Σx, Σxxᵀ) partials via one syrk-style matmul per Arrow batch,
    driver collects ≤|partitions| rows and runs the O(d³) eigh on the
    d×d covariance.

    ``expect_dim`` (r14, code-review r14 #4): when the caller knows
    the width by contract (a featurizer artifact), pass it — the
    first() dim probe job is skipped, and the partials kernel
    verifies EVERY row's width in the same pass it already makes,
    surfacing any mismatch as a clear driver-side ValueError naming
    the observed width range instead of an opaque numpy shape error
    (and instead of a separate validation scan — with a live decode
    lineage that scan re-decoded the whole corpus)."""
    if expect_dim is None:
        first = corpus.select(vec_col).first()
        if first is None:
            raise ValueError("empty PCA fit input")
        dim = len(first[0])
    else:
        dim = int(expect_dim)
    if not 1 <= r <= dim:
        raise ValueError(f"r must be in [1, {dim}]")

    def partials(batches):
        n = 0
        s = np.zeros(dim)
        ss = np.zeros((dim, dim))
        blo, bhi = None, None
        for pdf in batches:
            if not len(pdf):
                continue
            lens = np.fromiter(
                (len(x) for x in pdf[vec_col]),
                dtype=np.int64, count=len(pdf),
            )
            good = lens == dim
            if not good.all():
                bad = lens[~good]
                lo, hi = int(bad.min()), int(bad.max())
                blo = lo if blo is None else min(blo, lo)
                bhi = hi if bhi is None else max(bhi, hi)
            rows_ok = (
                list(pdf[vec_col])
                if good.all()
                else [x for x, g in zip(pdf[vec_col], good) if g]
            )
            if rows_ok:
                m = np.array(rows_ok, dtype=np.float64)
                n += m.shape[0]
                s += m.sum(axis=0)
                ss += m.T @ m
        if n or blo is not None:
            yield pd.DataFrame(
                {"n": [n], "s": [s.tolist()], "ss": [ss.ravel().tolist()],
                 "blo": [blo], "bhi": [bhi]}
            )

    rows = corpus.select(vec_col).mapInPandas(
        partials,
        "n long, s array<double>, ss array<double>, blo int, bhi int",
    ).collect()
    bad_lo = min((r0["blo"] for r0 in rows if r0["blo"] is not None),
                 default=None)
    bad_hi = max((r0["bhi"] for r0 in rows if r0["bhi"] is not None),
                 default=None)
    if bad_lo is not None:
        got = (str(bad_lo) if bad_lo == bad_hi
               else f"{bad_lo}..{bad_hi} (inconsistent)")
        raise ValueError(
            f"PCA fit input has vectors of dim {got}, expected {dim}"
        )
    if not any(row["n"] for row in rows):
        raise ValueError("empty PCA fit input")
    n = sum(row["n"] for row in rows)
    s = np.sum([row["s"] for row in rows], axis=0)
    ss = np.sum([row["ss"] for row in rows], axis=0).reshape(dim, dim)
    mean = s / n
    cov = ss / n - np.outer(mean, mean)
    w, v = np.linalg.eigh(cov)          # ascending
    w = np.clip(w[::-1], 0.0, None)[:r]
    v = v[:, ::-1][:, :r]
    for j in range(v.shape[1]):         # deterministic sign
        if v[np.argmax(np.abs(v[:, j])), j] < 0:
            v[:, j] = -v[:, j]
    return mean, v, w


def pca_project(
    corpus: DataFrame,
    mean: np.ndarray,
    components: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 6,
) -> DataFrame:
    """(``id_col``, proj array<double>): centered projection onto the
    fitted components — map-only, the (d × r) matrix in the closure,
    one matmul per Arrow batch; rounded so partition/summation order
    cannot leak into the output. The id column keeps its name AND
    type (schema derived from the input, the ``_residuals``
    convention — a string doc_id works as well as a long vec_id)."""
    mu = np.asarray(mean, dtype=np.float64)
    V = np.asarray(components, dtype=np.float64)
    id_ddl = _field_ddl(corpus.schema, id_col)

    def kernel(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.array(list(pdf[vec_col]), dtype=np.float64)
            P = np.round((X - mu) @ V, round_dp)
            yield pd.DataFrame(
                {id_col: pdf[id_col], "proj": list(P)}
            )

    return corpus.select(id_col, vec_col).mapInPandas(
        kernel, f"{id_ddl}, proj array<double>"
    )


# ---------------------------------------------------------------------------
# ANN model artifacts (r13): the codes table ships to reliable storage
# (partitionBy("cell") parquet — the IVF-PQ contract), but the MODEL
# matrices (coarse centroids, codebooks, OPQ rotation) lived only in
# driver memory, so a restart could silently pair codes with a
# retrained model. These two functions round-trip any named set of
# float64 arrays through a tiny DataFrame (one row per array: name,
# shape, row-major data) — parquet doubles are IEEE-exact, so the
# round-trip is BIT-identical (pinned by test) and the model travels
# next to its codes.
# ---------------------------------------------------------------------------


def ann_model_to_df(spark, **arrays) -> DataFrame:
    """Serialize named float64 ndarrays to a (name, shape, data)
    DataFrame — write it parquet next to the codes artifact. Model
    matrices are closure-sized by contract (a few KB), so the frame
    is trivially small."""
    rows = []
    for name, arr in sorted(arrays.items()):
        a = np.asarray(arr, dtype=np.float64)
        rows.append((name, list(a.shape), a.ravel().tolist()))
    return spark.createDataFrame(
        rows, "name string, shape array<int>, data array<double>"
    )


def ann_model_from_df(df: DataFrame) -> dict:
    """Load the :func:`ann_model_to_df` artifact back into
    {name: ndarray} — bounded collect (a model frame is rows-per-array
    small by construction; the cap catches a wrong-table mistake)."""
    rows = _collect_bounded(df, 256, "ANN model artifact")
    out = {}
    for r in rows:
        out[r["name"]] = np.array(
            r["data"], dtype=np.float64
        ).reshape(tuple(r["shape"]))
    return out


def binary_sign_pack(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    out_id: str = "vec_id",
    prefix: str = "w",
    n_bits: Optional[int] = None,
) -> DataFrame:
    """Binary (sign) quantization: pack each vector's sign bits into
    32-bit BIGINT words (32-bit words so the packing stays inside
    signed-long range and an ANSI oracle replays it bit-for-bit).

    ``n_bits=None`` (the gated arithmetic): 1 bit per NATIVE
    dimension — bit i of word j = 1 iff ``vec[32j+i] >= 0``,
    ``ceil(dim/32)`` words. Each word is a STATIC sum of codegen'd
    CASE terms (the minhash wide-projection convention — no
    interpreted lambdas), so packing is map-only JVM and a 64-dim
    float vector shrinks 256 B → 16 B, the memory trick behind
    modern binary embedding indexes.

    ``n_bits=N`` (r15, VERDICT r14 #3 — the WIDEN knob the measured
    recall cliff prescribes): a dim-d vector can donate only d native
    sign bits, and the SCALING ``hamming_ann`` diagnosis measured
    the 64-bit sketch's recall collapsing at fixed refine as the
    corpus grows (0.90 → 0.46 recall@5 at R=200 by 200k vectors —
    the θ/π SimHash estimator's variance). More bits need more
    hyperplanes: bit b = sign of the ROTATED projection
    ``Σ_i floor(vec[i]·10⁶) · W[b,i] > 0`` with the full-avalanche
    integer-deterministic matrix (:func:`det_rotation_weights` —
    exact int64 arithmetic, every engine replays it bit-for-bit;
    |dot| ≤ 2^49, no overflow). NOT the LSH banding family
    (:func:`det_hyperplane_weights`): that linear map's rows are
    near-translates of one another, so widening with it ADDS NO
    information — measured recall@5 0.18 (native 64-bit) → 0.04
    (256 "wide" linear bits) on 20 k vectors at R=50, vs recovery
    with the avalanche family (pinned by test).
    Packing runs as ONE Arrow-batched int64 matmul per batch (the
    :func:`banded_signature_udf` kernel shape) — the widen path
    trades the all-JVM projection for O(dim·n_bits) exact integer
    ops per vector, still map-only, still deterministic. Measured
    recall recovery: SCALING.json ``hamming_ann.widen`` (PARITY.md
    "r15 work"). ``n_bits`` must be a
    multiple of 32."""
    if n_bits is None:
        # ONE parsed selectExpr instead of dim × (getItem + when +
        # lit + cast) Column chains (r16 construction campaign: the
        # Column form cost ~7.5k py4j round trips per pack, two packs
        # per topk query). CASE WHEN / array[i] / {v}L literals
        # analyze to the identical Catalyst nodes (constant-folded
        # casts included) — normalized executed-plan diff: IDENTICAL.
        cols = []
        for j in range(0, dim, 32):
            hi = min(j + 32, dim)
            terms = " + ".join(
                f"(CASE WHEN `{vec_col}`[{i}] >= 0"
                f" THEN CAST({1 << (i - j)} AS BIGINT)"
                " ELSE CAST(0 AS BIGINT) END)"
                for i in range(j, hi)
            )
            cols.append(
                f"CAST(0 AS BIGINT) + {terms} AS `{prefix}{j // 32}`"
            )
        return df.selectExpr(f"`{id_col}` AS `{out_id}`", *cols)
    if n_bits % 32:
        raise ValueError(f"n_bits must be a multiple of 32 (got {n_bits})")
    from pyspark.sql.functions import pandas_udf

    w = det_rotation_weights(dim, n_bits)
    nwords = n_bits // 32
    pows = 1 << np.arange(32, dtype=np.int64)

    @pandas_udf("array<long>")
    def _pack(vs: pd.Series) -> pd.Series:
        if len(vs) == 0:
            return pd.Series([], dtype=object)
        # NULL / wrong-width vectors pack as ALL-ZERO words — the same
        # row-survives-ranks-poorly behavior the native CASE path gives
        # a NULL embedding, instead of failing the whole job on
        # np.array(ragged) (code-review r15 #2)
        vals = list(vs)
        valid = np.array(
            [v is not None and len(v) == dim for v in vals], dtype=bool
        )
        mat = np.zeros((len(vals), dim), dtype=np.float64)
        if valid.any():
            mat[valid] = np.array(
                [v for v, ok in zip(vals, valid) if ok], dtype=np.float64
            )
        q = np.floor(mat * _DET_LSH_SCALE).astype(np.int64)
        bits = (q @ w.T) > 0  # (n, n_bits), exact int64 arithmetic
        bits[~valid] = False
        words = (
            bits.reshape(len(vals), nwords, 32) * pows
        ).sum(axis=2)  # (n, nwords), each < 2^32
        return pd.Series(list(words))

    packed = df.select(
        F.col(id_col).alias(out_id), _pack(F.col(vec_col)).alias("_pw")
    )
    return packed.select(
        out_id,
        *[
            F.col("_pw").getItem(j).alias(f"{prefix}{j}")
            for j in range(nwords)
        ],
    )


def binary_sign_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    dim: int = 64,
    refine: Optional[int] = None,
    n_bits: Optional[int] = None,
) -> DataFrame:
    """Hamming top-k over sign-quantized vectors — the binary-
    quantization ANN coarse stage (asymmetric of nothing: both sides
    pack, distance = popcount(xor), entirely JVM ``bit_count`` /
    ``bitwiseXOR`` codegen — no UDF, no floats on the scan). 32× less
    memory traffic than the float scan; production composes this as
    the candidate generator with an exact-cosine refine (the
    ``pq_topk(refine=)`` convention).

    ``refine=None``: output (query_id, neighbor_id, hamming, rk),
    ranked hamming ASC with neighbor-id ties. ``refine=R``: take the
    hamming top-R candidates per query, recompute EXACT cosine on
    just those, and return (query_id, neighbor_id, cos, rk) — the
    reported scores are true cosines. Candidate ids broadcast back
    against the corpus floats (candidate-sized, the PQ refine law) —
    the float table is scanned, never shuffled. Both modes are
    deterministic and ANSI-replayable end to end.

    MEASURED operating honesty (SCALING ``hamming_ann``): ``refine``
    is a RECALL knob that must scale with the corpus — a 64-bit
    sketch (1 bit/dim, the θ/π SimHash estimator, high-variance at
    dim=64) reads recall@5 ≈ 0.9 at R=200 over 500 vectors but 0.46
    at R=200 over 200k (R is effectively a corpus FRACTION here). The
    widen knob is ``n_bits`` (r15): more sketch bits via
    deterministic integer hyperplane rotations
    (:func:`binary_sign_pack` ``n_bits=``) — measured at 200k
    vectors/R=200, recall@5 recovers 0.46 (64-bit native) → 0.86
    (256-bit rotated) → 0.94 (512-bit); recorded in SCALING.json
    ``hamming_ann.widen``.
    And at local scales the Arrow/BLAS float
    scan simply WINS on wall (0.7–0.8 s vs 5.6–7.5 s at sf1–sf10):
    the binary path's 32× memory cut buys footprint (bigger corpus
    per executor, smaller broadcast/shuffle bytes), not single-node
    wall — use it when the float table cannot fit the bandwidth
    budget, not as a latency play."""
    if refine is not None:
        refine = int(refine)
        if refine < k:
            raise ValueError(f"refine must be >= k (got {refine} < {k})")
    nwords = -(-dim // 32) if n_bits is None else n_bits // 32
    q = binary_sign_pack(
        queries, id_col, vec_col, dim, out_id="query_id", prefix="qw",
        n_bits=n_bits,
    )
    c = binary_sign_pack(
        corpus, id_col, vec_col, dim, out_id="neighbor_id", prefix="cw",
        n_bits=n_bits,
    )
    # one parsed expression for the popcount sum (r16 construction
    # campaign) — `^`/bit_count/int casts analyze identically to the
    # replaced bitwiseXOR Column chain; plan-identity-gated
    ham = "CAST(0 AS INT) + " + " + ".join(
        f"CAST(bit_count(cw{j} ^ qw{j}) AS INT)" for j in range(nwords)
    )
    sims = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .selectExpr("query_id", "neighbor_id", f"{ham} AS hamming")
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(
        F.asc("hamming"), F.asc("neighbor_id")
    )
    coarse = (
        sims.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= (k if refine is None else refine))
    )
    if refine is None:
        return coarse.select("query_id", "neighbor_id", "hamming", "rk")
    cand = coarse.select("query_id", "neighbor_id")
    # norms precomputed once per row, not re-folded per candidate pair
    # (bit-identical: the brute_force_topk note)
    cvec = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        _as_double(F.col(vec_col)).alias("cv"),
    ).withColumn("_cn", l2_norm(F.col("cv")))
    qvec = queries.select(
        F.col(id_col).alias("query_id"),
        _as_double(F.col(vec_col)).alias("qv"),
    ).withColumn("_qn", l2_norm(F.col("qv")))
    # candidate set is refine·|Q| rows (post-window: garbage estimate
    # → explicit hint); the corpus float table streams, never shuffles
    scored = (
        cvec.join(F.broadcast(cand), "neighbor_id")
        .join(F.broadcast(qvec), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                dot(F.col("qv"), F.col("cv"))
                / (F.col("_qn") * F.col("_cn")),
                6,
            ).alias("cos"),
        )
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.desc("cos"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w2))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "cos", "rk")
    )
