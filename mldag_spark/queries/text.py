"""Text-analysis + deduplication queries over ``documents``.

The training-data-pipeline operator set: token statistics, quality
scoring, language ID, fingerprinting, exact dedup, n-gram-Jaccard
near-dup detection (exact and MinHash-LSH-accelerated).

Scale stance: every query is expressed with JVM-side primitives
(split/regexp/explode/groupBy) — linear scans, one shuffle per
aggregation; pair-generation for near-dups goes through the exact
prefix+size-filtered similarity join (r7,
``operators.dedup.jaccard_prefix_pairs`` — candidates ride
rare-shingle df, never Σ df² and never a cartesian product).
MinHash-LSH (in ``vectors``/``operators.dedup``) remains the
probabilistic alternative where even exact-candidate verification is
too much.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from mldag_spark.functions import (
    bpe_ish_tokens,
    fingerprint,
    normalize_text,
    shingles,
    tokenize,
)
from mldag_spark.materialize import checkpoint
from mldag_spark.queries import register
from mldag_spark.queries.tables import load

# Tiny deterministic stopword lists per language for the heuristic
# language-ID scorer (identical literals in the SQL oracles).
_LANG_WORDS = {
    "en": ("the", "a", "of", "and", "to"),
    "de": ("der", "die", "das", "und", "ist"),
    "fr": ("le", "la", "et", "les", "des"),
    "es": ("el", "la", "los", "y", "es"),
}


@register(
    "text_token_stats",
    oracle="""
    SELECT doc_id,
           len(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '))
               AS n_tokens,
           len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]'))
               AS n_bpe_tokens,
           length(text) AS n_chars,
           ROUND(CAST(length(replace(text, ' ', '')) AS DOUBLE)
                 / len(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')), 4)
               AS avg_token_len
    FROM documents
    """,
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + BPE-ish regex tokens."""
    d = load(spark, sf_dir, "documents")
    toks = tokenize(F.col("text"))
    return d.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(bpe_ish_tokens(F.col("text"))).alias("n_bpe_tokens"),
        F.length("text").alias("n_chars"),
        F.round(
            F.length(F.regexp_replace("text", " ", "")).cast("double")
            / F.size(toks),
            4,
        ).alias("avg_token_len"),
    )


@register(
    "text_quality_score",
    oracle="""
    WITH t AS (
        SELECT doc_id,
               string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')
                   AS toks,
               length(text) AS n_chars
        FROM documents
    )
    SELECT doc_id,
           len(toks) AS n_tokens,
           ROUND(CAST(len(list_filter(toks,
                 w -> w IN ('the','a','of','and','to'))) AS DOUBLE)
                 / len(toks), 4) AS stopword_ratio,
           ROUND(CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 4)
               AS distinct_ratio,
           CASE WHEN len(toks) BETWEEN 5 AND 1000
                 AND CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) > 0.3
                THEN 1 ELSE 0 END AS quality_pass
    FROM t
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality gating: length bounds, stopword ratio, lexical diversity
    — the standard pre-training corpus filters.

    Shape note (measured, 500k-doc corpus, local[8]): this stays on
    the per-row formulation — size/array_distinct are codegen'd and
    the single interpreted ``F.filter`` IN-lambda costs ~0.8s of 7.0s
    total, while every explode→groupBy rewrite (direct countDistinct
    17.7s, two-phase (doc_id, w) pre-agg 16.5s) pays a full
    token-level shuffle that dominates. The explode rewrite wins only
    when per-element work is heavy (minhash: 64 hash exprs/token — see
    operators/dedup.py) or many lambdas stack (text_language_id: 4
    filters → 2× win). One IN-list over a 5-word set is not that
    case."""
    # parsed SQL strings (r15): identical analyzed expressions to the
    # replaced Column chains (normalized executed-plan diff verified),
    # fewer py4j round trips in the timed construction region
    d = load(spark, sf_dir, "documents")
    t = d.selectExpr(
        "doc_id",
        r"split(trim(regexp_replace(lower(text), '\\s+', ' ')), ' ') AS toks",
        "length(text) AS n_chars",
    )
    words = ", ".join(f"'{w}'" for w in _LANG_WORDS["en"])
    dr = "CAST(size(array_distinct(toks)) AS DOUBLE) / size(toks)"
    return t.selectExpr(
        "doc_id",
        "size(toks) AS n_tokens",
        f"ROUND(CAST(size(filter(toks, w -> w IN ({words}))) AS DOUBLE)"
        " / size(toks), 4) AS stopword_ratio",
        f"ROUND({dr}, 4) AS distinct_ratio",
        # explicit >=/<= rather than BETWEEN: SQL BETWEEN triggers the
        # Spark 4 common-subexpression rewrite (an extra _common_expr
        # Project) that Column.between never built — spelled out, the
        # plan stays byte-identical to the replaced Column form
        f"CASE WHEN ((size(toks) >= 5 AND size(toks) <= 1000)"
        f" AND ({dr}) > 0.3)"
        " THEN 1 ELSE 0 END AS quality_pass",
    )


def _lang_score_sql(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in _LANG_WORDS[lang])
    return f"len(list_filter(toks, w -> w IN ({words})))"


@register(
    "text_language_id",
    oracle=f"""
    WITH t AS (
        SELECT doc_id,
               string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')
                   AS toks
        FROM documents
    ), scored AS (
        SELECT doc_id,
               {_lang_score_sql("en")} AS s_en,
               {_lang_score_sql("de")} AS s_de,
               {_lang_score_sql("fr")} AS s_fr,
               {_lang_score_sql("es")} AS s_es
        FROM t
    )
    SELECT doc_id,
           CASE
             WHEN s_en = 0 AND s_de = 0 AND s_fr = 0 AND s_es = 0 THEN 'unknown'
             WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
             WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
             WHEN s_fr >= s_es THEN 'fr'
             ELSE 'es'
           END AS lang_pred
    FROM scored
    """,
)
def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID by stopword-hit scoring (deterministic
    tie-break by fixed language priority en>de>fr>es).

    Shape: explode → groupBy(doc_id) with one conditional sum per
    language — codegen'd ``IN`` predicates over tiny literal lists —
    instead of per-row interpreted ``F.filter`` lambdas (one per
    language per element). Measured on a 500k-doc corpus (local[8]):
    5.5s vs 11.2s for the 4-lambda HOF form — the 4 stacked
    interpreted filters outweigh the one token-level shuffle here
    (contrast text_quality_score, where they don't). A token in two
    languages' lists counts for both, same as the per-list filters
    did."""
    d = load(spark, sf_dir, "documents")
    ex = d.select("doc_id", F.explode(tokenize(F.col("text"))).alias("w"))
    scored = ex.groupBy("doc_id").agg(
        *[
            F.sum(F.when(F.col("w").isin(*words), 1).otherwise(0))
            .cast("int")
            .alias(f"s_{lang}")
            for lang, words in _LANG_WORDS.items()
        ]
    )
    pred = (
        F.when(
            (F.col("s_en") == 0) & (F.col("s_de") == 0)
            & (F.col("s_fr") == 0) & (F.col("s_es") == 0),
            "unknown",
        )
        .when(
            (F.col("s_en") >= F.col("s_de"))
            & (F.col("s_en") >= F.col("s_fr"))
            & (F.col("s_en") >= F.col("s_es")),
            "en",
        )
        .when((F.col("s_de") >= F.col("s_fr")) & (F.col("s_de") >= F.col("s_es")), "de")
        .when(F.col("s_fr") >= F.col("s_es"), "fr")
        .otherwise("es")
    )
    return scored.select("doc_id", pred.alias("lang_pred"))


@register(
    "text_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
    FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic document fingerprint (md5 of normalized text)."""
    d = load(spark, sf_dir, "documents")
    return d.select("doc_id", fingerprint(F.col("text")).alias("fp"))


@register(
    "dedup_exact",
    oracle="""
    SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
           MIN(doc_id) AS keep_doc_id,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY 1
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on the normalized-text fingerprint,
    keep the smallest doc_id per group. One shuffle on a short hash key
    — the canonical 100 TB exact-dedup plan."""
    d = load(spark, sf_dir, "documents")
    return (
        d.select(fingerprint(F.col("text")).alias("fp"), "doc_id")
        .groupBy("fp")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


# Exact n-gram Jaccard near-dup pairs via an inverted shingle index.
_JACCARD_ORACLE = """
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
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM exploded a JOIN exploded b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT p.doc_a, p.doc_b,
           ROUND(CAST(p.n_common AS DOUBLE)
                 / (len(ta.sh) + len(tb.sh) - p.n_common), 4) AS jaccard
    FROM pairs p
    JOIN t ta ON ta.doc_id = p.doc_a
    JOIN t tb ON tb.doc_id = p.doc_b
    WHERE CAST(p.n_common AS DOUBLE)
          / (len(ta.sh) + len(tb.sh) - p.n_common) >= 0.8
"""


@register("dedup_ngram_jaccard", oracle=_JACCARD_ORACLE)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard near-dup pairs (jaccard >= 0.8), via the
    prefix-filtered all-pairs similarity join
    (``operators.dedup.jaccard_prefix_pairs``).

    r2-r6 ran the plain inverted index here: self-join every distinct
    (doc, shingle) row on the shingle. That plan's candidate volume
    is Σ df² over shingles — r7 measured it growing 163× at 30× data
    (corpus-wide boilerplate shingles have document frequency ∝
    corpus size: max df 25 → 690), the quadratic curve behind
    ``dedup_components``' 93 s SCALING row. Prefix filtering joins
    only each document's ~(1-t)·|X| RAREST shingles (rank by global
    (df, shingle) order); the smallest common shingle of any
    qualifying pair provably lands in both prefixes, so the result is
    still EXACT — same output, candidate fan-out driven by rare-df
    shingles instead of the corpus-wide maximum. Verification counts
    intersections over the full element rows (row-based, spillable;
    merge-hinted everywhere — post-aggregate size estimates are
    garbage, the repo-wide law)."""
    from mldag_spark.functions import shingle_rows
    from mldag_spark.operators.dedup import jaccard_prefix_pairs

    d = load(spark, sf_dir, "documents")
    rows = shingle_rows(d, "doc_id", "text", 3)
    return jaccard_prefix_pairs(rows, "doc_id", "shingle", 0.8)


@register("dedup_simhash")  # no oracle: hash-function-specific fingerprints
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup candidate pairs (hamming <= 2 on 16-bit
    fingerprints, banded by fingerprint halves)."""
    from mldag_spark.operators.dedup import simhash_pairs

    d = load(spark, sf_dir, "documents")
    t = d.select("doc_id", tokenize(F.col("text")).alias("toks"))
    return simhash_pairs(t, id_col="doc_id", token_col="toks", max_hamming=2)


@register("dedup_minhash_lsh", oracle=_JACCARD_ORACLE)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH near-dup pairs, verified with exact Jaccard — the
    100 TB fuzzy-dedup plan.

    shingle → 64 minhashes (xxhash64 with 64 seeds, all JVM-side) →
    16 bands × 4 rows → band-bucket self-join emits candidate pairs →
    exact Jaccard on candidates only. With r=4,b=16 a pair at
    jaccard 0.8 is caught with p = 1-(1-0.8^4)^16 ≈ 0.9996, so the
    output matches the exact oracle in expectation; candidate
    verification guarantees no false positives. Unlike the exact
    inverted-index plan, the LSH join fan-out is bounded by band
    buckets, not shingle document-frequency.
    """
    from mldag_spark.functions import shingle_rows
    from mldag_spark.operators.dedup import minhash_lsh_pairs_rows

    d = load(spark, sf_dir, "documents")
    rows = shingle_rows(d, "doc_id", "text", 3)
    return minhash_lsh_pairs_rows(
        rows, id_col="doc_id", elem_col="shingle", threshold=0.8,
        num_hashes=64, bands=16,
    )


# Exact shared-passage detection: absolute common-shingle count.
# shared CTE prefix of the T-overlap and containment oracles: distinct
# 3-shingles per doc, df-capped at 64 (the overlap_pairs(df_cap=64)
# mirror) — the two pair queries cannot drift apart on the element
# space they count over
_OVERLAP_CTES = """
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
    ), capped AS (
        -- mirror of overlap_pairs(df_cap=64): drop shingles whose
        -- document frequency exceeds the cap before the self-join
        SELECT doc_id, shingle FROM (
            SELECT doc_id, shingle,
                   COUNT(*) OVER (PARTITION BY shingle) AS df
            FROM exploded
        ) WHERE df <= 64
    )
"""

_OVERLAP_ORACLE = (
    _OVERLAP_CTES
    + """
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
    FROM capped a JOIN capped b
      ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    HAVING COUNT(*) >= 20
"""
)

_CONTAINMENT_ORACLE = (
    _OVERLAP_CTES
    + """
    , totals AS (
        SELECT doc_id, COUNT(*) AS n FROM capped GROUP BY 1
    ), pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM capped a JOIN capped b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
        HAVING COUNT(*) >= 10
    )
    SELECT doc_a, doc_b, n_common,
           LEAST(ta.n, tb.n) AS n_small,
           ROUND(CAST(n_common AS DOUBLE) / LEAST(ta.n, tb.n), 4)
               AS containment
    FROM pairs
    JOIN totals ta ON ta.doc_id = doc_a
    JOIN totals tb ON tb.doc_id = doc_b
    WHERE CAST(n_common AS DOUBLE) / LEAST(ta.n, tb.n) >= 0.9
"""
)


@register("dedup_overlap_pairs", oracle=_OVERLAP_ORACLE)
def dedup_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared-passage pairs: documents with >= 20 common distinct
    3-gram shingles, via the exact inverted-index T-overlap join
    (``operators.dedup.overlap_pairs``).

    The ABSOLUTE-count contract complements the Jaccard near-dup
    family: a long document quoting a short one wholesale has low
    whole-document Jaccard (the union is dominated by the long doc)
    but a common-shingle count equal to the quoted span's length —
    exactly what contamination / quote / boilerplate-span detection
    needs. NOT the prefix-filtered shape of ``dedup_ngram_jaccard``:
    for an absolute threshold the prefix is |X| - c + 1 ≈ the whole
    document and prefix filtering provably degenerates (measured at
    sf1.0 — see the operator docstring), so the plan is the direct
    index count: one shingle equality join + one pair-keyed
    aggregate, work Σ C(df,2) over shingle document frequencies.

    ``df_cap=64`` (mirrored in the oracle's ``capped`` CTE) bounds
    that Σ C(df,2) to 32·|shingle rows| — linear in corpus size —
    by dropping shingles shared by more than 64 documents before the
    self-join: exactly the upstream cap the scale contract
    prescribes. Templated boilerplate spans shared corpus-wide stop
    contributing quadratic pairs; a passage shared by <= 64 docs
    (real contamination/quotes) still matches exactly."""
    from mldag_spark.functions import shingle_rows
    from mldag_spark.operators.dedup import overlap_pairs

    d = load(spark, sf_dir, "documents")
    rows = shingle_rows(d, "doc_id", "text", 3)
    return overlap_pairs(rows, "doc_id", "shingle", min_overlap=20, df_cap=64)


@register("dedup_containment_pairs", oracle=_CONTAINMENT_ORACLE)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-containment pairs over the documents corpus: the smaller
    document's (df-capped) distinct 3-shingle set is >= 90% inside the
    larger's — the sub-document INCLUSION detector (quoted or embedded
    documents, wrapper pages). Jaccard-based dedup structurally misses
    these: a short doc fully quoted inside a long one has near-zero
    Jaccard but containment 1.0, which is why corpus curation runs a
    containment pass alongside the similarity pass.

    Same scale contract as ``dedup_overlap_pairs`` (shared operator
    helpers AND a shared oracle CTE prefix): df_cap=64 bounds the
    inverted-index self-join to rare shingles, min_overlap=10 prunes
    the pair aggregate before the per-document totals join back, and
    the totals are counted over the SAME capped element space so
    containment keeps its [0,1] meaning."""
    from mldag_spark.functions import shingle_rows
    from mldag_spark.operators.dedup import containment_pairs

    d = load(spark, sf_dir, "documents")
    rows = shingle_rows(d, "doc_id", "text", 3)
    return containment_pairs(
        rows, "doc_id", "shingle",
        min_overlap=10, min_containment=0.9, df_cap=64,
    )


@register("text_winnow_overlap")  # no oracle: fingerprint selection is hash-specific
def text_winnow_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial-overlap detection via winnowing fingerprints: doc pairs
    sharing >= 3 rolling-hash fingerprints, with the shared count.
    Catches shared passages (quotes/boilerplate) that whole-document
    Jaccard dilutes away. Join is an inverted index on fp — the same
    bounded-fanout shape as the shingle index."""
    from mldag_spark.functions import winnow_fingerprints

    d = load(spark, sf_dir, "documents")
    fps = winnow_fingerprints(d, "doc_id", "text", k=3, w=4)
    a, b = fps.alias("a"), fps.alias("b")
    return (
        a.join(
            b,
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared_fps"))
        .filter(F.col("n_shared_fps") >= 3)
    )


_COMPONENTS_ORACLE_BODY = f"""
    jp AS (
        {_JACCARD_ORACLE}
    ),
    edges AS (
        SELECT doc_a AS u, doc_b AS v FROM jp
        UNION ALL
        SELECT doc_b AS u, doc_a AS v FROM jp
    ),
    reach(node, comp) AS (
        SELECT u, u FROM (SELECT DISTINCT u FROM edges)
        UNION
        SELECT e.v, r.comp
        FROM reach r JOIN edges e ON e.u = r.node
    ),
    labels AS (
        SELECT node, MIN(comp) AS component FROM reach GROUP BY node
    )
"""


@register(
    "dedup_components",
    oracle=f"""
    WITH RECURSIVE {_COMPONENTS_ORACLE_BODY}
    SELECT node AS doc_id, component FROM labels
    """,
)
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate GROUPS from near-dup pairs: connected components over
    the exact 3-gram-Jaccard >= 0.8 pair graph (component id = min
    doc_id of the group).

    Pair generation is the oracle-matched prefix-filtered similarity
    join of ``dedup_ngram_jaccard`` (exact, and its candidate stage
    is bounded by rare-shingle df — the r7 fix for the 93 s
    quadratic SCALING curve this query carried at 30× data);
    clustering is alternating Large-Star/Small-Star (see
    ``operators.dedup.connected_components``) — O(log² n) shuffle
    rounds independent of cluster diameter, the shape that survives
    chain-shaped duplicate clusters at 100 TB. The DuckDB oracle
    computes the same closure with a recursive CTE.

    Note on the r6-suggested representative-collapse: measured at
    sf1.0/sf3.0, 99.84 % of documents are fingerprint-unique and
    shingle-set-unique, so collapsing exact-duplicate groups before
    pair generation cannot bound this corpus' edge input; the df²
    candidate term was the actual super-linear driver (see
    ``jaccard_prefix_pairs``).
    """
    from mldag_spark.operators.dedup import connected_components

    pairs = dedup_ngram_jaccard(spark, sf_dir)
    return connected_components(pairs, "doc_a", "doc_b").select(
        F.col("node").alias("doc_id"), "component"
    )


@register(
    "dedup_keep_representatives",
    oracle=f"""
    WITH RECURSIVE {_COMPONENTS_ORACLE_BODY}
    SELECT d.doc_id, d.n_chars
    FROM documents d
    WHERE d.doc_id NOT IN
          (SELECT node FROM labels WHERE node != component)
    """,
)
def dedup_keep_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The materialized dedup: keep ONE representative (min doc_id) per
    duplicate group, all singletons untouched — i.e. drop every
    component member that is not its component's id. This is the actual
    corpus-shrinking step a training-data pipeline runs after pair
    mining + clustering; implemented as an anti-join of the
    non-representative id set against documents, with the join
    strategy left to AQE's runtime size (the drop set is
    dup-rate-sized, not structure-bounded)."""
    from mldag_spark.operators.dedup import connected_components

    pairs = dedup_ngram_jaccard(spark, sf_dir)
    labels = connected_components(pairs, "doc_a", "doc_b")
    drop = labels.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias("doc_id")
    )
    d = load(spark, sf_dir, "documents")
    # no static broadcast hint (r15 broadcast audit): the drop set is
    # corpus-fraction-sized at real near-dup rates, so the join
    # strategy is left to AQE's runtime size measurement — small drop
    # sets still broadcast (verified at gate scale), huge ones
    # sort-merge instead of OOMing, the same convention the
    # decontaminate stage queries use
    return d.join(drop, "doc_id", "left_anti").select(
        "doc_id", "n_chars"
    )


# the quality metric + best-member selection + survivor select,
# shared VERBATIM by every keep-best oracle (exact-mined, LSH-mined,
# and the composed fuzzy pipeline) so the replays can never drift —
# each caller composes it after its own closure producing `labels`
# (code-review r15 #5, the _EDIT_VERIFY_ORACLE_CTES pattern)
_KEEP_BEST_TAIL_ORACLE = """
    , q AS (
        SELECT doc_id,
               CAST(len(list_distinct(string_split(trim(regexp_replace(
                        lower(text), '\\s+', ' ', 'g')), ' '))) AS DOUBLE)
               / len(string_split(trim(regexp_replace(
                        lower(text), '\\s+', ' ', 'g')), ' ')) AS qs
        FROM documents
    ), best AS (
        SELECT node FROM (
            SELECT l.node,
                   ROW_NUMBER() OVER (
                       PARTITION BY l.component
                       ORDER BY q.qs DESC, l.node
                   ) AS rk
            FROM labels l JOIN q ON q.doc_id = l.node
        ) WHERE rk = 1
    )
    SELECT d.doc_id, d.n_chars, ROUND(q.qs, 4) AS kept_quality
    FROM documents d
    JOIN q ON q.doc_id = d.doc_id
    WHERE d.doc_id NOT IN (SELECT node FROM labels)
       OR d.doc_id IN (SELECT node FROM best)
    """

# shared by the exact-mined and LSH-mined keep-best queries VERBATIM:
# at gate scale the r=4,b=16 LSH pair set equals the exact pair set
# (p(catch) ≈ 0.9996 at the 0.8 threshold, candidates exact-verified
# — dedup_minhash_lsh already gates against the exact _JACCARD_ORACLE),
# so both materializations replay against the exact closure
_KEEP_BEST_ORACLE = f"""
    WITH RECURSIVE {_COMPONENTS_ORACLE_BODY}
    {_KEEP_BEST_TAIL_ORACLE}"""


@register("dedup_keep_best_quality", oracle=_KEEP_BEST_ORACLE)
def dedup_keep_best_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-AWARE dedup materialization (r13): keep the
    highest-quality member of each duplicate cluster — the
    RefinedWeb/Gopher refinement of ``dedup_keep_representatives``,
    which keeps the FIRST (min doc_id) member. "First seen" is an
    accident of crawl order; production pipelines keep the best copy
    (here: lexical diversity = distinct-token ratio, ties to the
    lower doc_id — deterministic and engine-exact, the ratio is a
    small-integer division both engines compute identically).

    Plan shape (r14: selection extracted into the pair-source-
    agnostic ``operators.dedup.keep_best_losers`` — VERDICT r13 #2 —
    shared with the LSH-mined ``dedup_keep_best_lsh``): the exact
    prefix-filtered pair miner + Large-Star/Small-Star closure (both
    existing, candidate-bounded), ONE broadcast join of the (tiny by
    the dedup-rate law) cluster-member set against per-doc quality
    (hint now REAL and plan-pinned — VERDICT r13 #1), a
    per-component ranking window over member rows only
    (cluster-sized, never corpus-sized), and a broadcast anti join of
    the losers against documents with the kept row's quality
    recomputed inline — every corpus-sized stage is linear and no
    corpus-sized frame ever sort-merges; only cluster members pay the
    quality ranking."""
    pairs = dedup_ngram_jaccard(spark, sf_dir)
    return _keep_best_materialize(spark, sf_dir, pairs)


def _doc_quality(d: DataFrame) -> DataFrame:
    """(doc_id, qs) lexical-diversity quality: distinct-token ratio —
    the shared metric of both keep-best queries."""
    toks = tokenize(F.col("text"))
    return d.select(
        "doc_id",
        (
            F.size(F.array_distinct(toks)).cast("double") / F.size(toks)
        ).alias("qs"),
    )


def _keep_best_materialize(
    spark: SparkSession, sf_dir: str, pairs: DataFrame
) -> DataFrame:
    """Shared back half of the keep-best queries — loads documents and
    delegates to the frame-level :func:`keep_best_survivors`."""
    return keep_best_survivors(load(spark, sf_dir, "documents"), pairs)


def keep_best_survivors(d: DataFrame, pairs: DataFrame) -> DataFrame:
    """Frame-level keep-best materialization (shared by the three
    registered keep-best queries and the ``dag_pipeline_fuzzy_dedup``
    DAG node): losers from ``keep_best_losers_counted`` (measured-size
    member join inside), anti-join against the documents frame with
    the broadcast decision taken from the SAME measured member count
    the selection already paid for (r15 broadcast audit: at web-crawl
    near-dup rates the loser set is corpus-fraction-sized and an
    unconditional broadcast is the OOM, the r14 what's-wrong #1 class
    — losers <= members, so the member count is a conservative bound
    and costs no extra job), kept quality recomputed inline on the
    survivors (same single-scan expression — no corpus×corpus join
    anywhere)."""
    from mldag_spark.operators.dedup import (
        BROADCAST_MEMBER_CAP,
        keep_best_losers_counted,
    )

    losers, n_members = keep_best_losers_counted(pairs, _doc_quality(d))
    if n_members <= BROADCAST_MEMBER_CAP:
        losers = F.broadcast(losers)
    toks = tokenize(F.col("text"))
    qs = F.size(F.array_distinct(toks)).cast("double") / F.size(toks)
    return (
        d.join(losers, "doc_id", "left_anti")
        .select("doc_id", "n_chars", F.round(qs, 4).alias("kept_quality"))
    )


@register("dedup_keep_best_lsh", oracle=_KEEP_BEST_ORACLE)
def dedup_keep_best_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware keep-best dedup over MINHASH-LSH pairs (r14,
    VERDICT r13 #2) — the composition that actually runs at 100 TB:
    the exact prefix-filtered miner behind ``dedup_keep_best_quality``
    shuffles one row per (doc, rare shingle), while the LSH miner
    emits a fixed ``bands`` rows per document regardless of shingle
    skew, so the fuzzy path is the one a production fuzzy-dedup
    keeps. Selection is the pair-source-agnostic
    ``operators.dedup.keep_best_losers`` (pairs in → losers out),
    shared verbatim with the exact-mined query, and the
    materialization half is shared too (broadcast-hinted member join,
    cluster-sized ranking window, broadcast anti-join).

    Oracle: the exact closure + best-member CTE — valid because the
    r=4,b=16 LSH pair set is exact-verified and equals the exact pair
    set at gate scale (``dedup_minhash_lsh`` gates against the exact
    ``_JACCARD_ORACLE`` on the same corpus; p(catch) ≈ 0.9996 at
    jaccard 0.8)."""
    pairs = dedup_minhash_lsh(spark, sf_dir)
    return _keep_best_materialize(spark, sf_dir, pairs)


# The miner → edit-verify CTE chain, shared VERBATIM by the
# verification gate and the composed fuzzy pipeline below (so the two
# replays can never drift): shingle → prefix-filtered Jaccard >= 0.8
# pairs → normalized-Levenshtein annotation.
_EDIT_VERIFY_ORACLE_CTES = """t AS (
        SELECT doc_id,
               list_distinct(
                 CASE WHEN len(toks) <= 3
                      THEN [array_to_string(toks, ' ')]
                      ELSE list_transform(range(1, len(toks) - 1),
                           i -> array_to_string(toks[i:i+2], ' '))
                 END) AS sh,
               array_to_string(toks, ' ') AS norm
        FROM (
            SELECT doc_id,
                   string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')
                       AS toks
            FROM documents
        )
    ), exploded AS (
        SELECT doc_id, unnest(sh) AS shingle FROM t
    ), pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM exploded a JOIN exploded b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ), jp AS (
        SELECT p.doc_a, p.doc_b,
               ROUND(CAST(p.n_common AS DOUBLE)
                     / (len(ta.sh) + len(tb.sh) - p.n_common), 4)
                   AS jaccard,
               -- two empty-normalized docs: defined as identical
               -- (1.0), mirroring the operator's divide-by-zero guard
               CASE WHEN greatest(len(ta.norm), len(tb.norm)) = 0
                    THEN 1.0
                    ELSE ROUND(1.0
                         - CAST(levenshtein(ta.norm, tb.norm) AS DOUBLE)
                         / greatest(len(ta.norm), len(tb.norm)), 4)
               END AS edit_sim
        FROM pairs p
        JOIN t ta ON ta.doc_id = p.doc_a
        JOIN t tb ON tb.doc_id = p.doc_b
        WHERE CAST(p.n_common AS DOUBLE)
              / (len(ta.sh) + len(tb.sh) - p.n_common) >= 0.8
    )"""


@register(
    "dedup_edit_verified",
    oracle=f"""
    WITH {_EDIT_VERIFY_ORACLE_CTES}
    SELECT doc_a, doc_b, jaccard, edit_sim,
           edit_sim >= 0.99 AS is_near_exact
    FROM jp
    """,
)
def dedup_edit_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance verification of near-dup candidates (r14): every
    shingle-Jaccard >= 0.8 pair annotated with its normalized
    Levenshtein similarity and a near-exact flag (edit_sim >= 0.99)
    — the character-level second stage a production dedup runs when
    the downstream policy differs for true near-copies vs merely
    shingle-similar documents (Jaccard over shingle SETS is blind to
    repetition counts and ordering; edit distance is not). Candidates
    come from the exact prefix-filtered miner so the oracle replays
    the WHOLE pipeline relationally (DuckDB's ``levenshtein`` is the
    same unit-cost DP as Spark's JVM kernel); in production the miner
    slot takes MinHash-LSH pairs unchanged
    (``operators.dedup.edit_similarity_pairs`` is pair-source-
    agnostic, like ``keep_best_losers``). The O(len²) DP runs per
    CANDIDATE pair only — dedup-rate-bounded, never corpus-quadratic
    — and the corpus text projection is streamed against the
    broadcast pair set, never shuffled."""
    from mldag_spark.operators.dedup import edit_similarity_pairs

    pairs = dedup_ngram_jaccard(spark, sf_dir)
    d = load(spark, sf_dir, "documents")
    texts = d.select("doc_id", normalize_text(F.col("text")).alias("norm"))
    out = edit_similarity_pairs(
        pairs, texts, id_col="doc_id", text_col="norm"
    )
    return out.select(
        "doc_a", "doc_b", "jaccard", "edit_sim",
        (F.col("edit_sim") >= 0.99).alias("is_near_exact"),
    )


# verification threshold for the composed fuzzy pipeline: strict
# enough to REJECT a measured fraction of the miner's candidates at
# gate scale (8/28 pairs at sf0.001, 7/25 at sf0.01 — the composition
# is non-vacuous by measurement, not hope), loose enough that true
# near-copies survive; both engines compare the 4-dp ROUNDED value,
# and no gate-scale pair sits within 0.0015 of the boundary
_FUZZY_EDIT_THRESHOLD = 0.98

_FUZZY_PIPELINE_ORACLE = f"""
    WITH RECURSIVE {_EDIT_VERIFY_ORACLE_CTES},
    vp AS (
        SELECT doc_a, doc_b FROM jp
        WHERE edit_sim >= {_FUZZY_EDIT_THRESHOLD}
    ),
    edges AS (
        SELECT doc_a AS u, doc_b AS v FROM vp
        UNION ALL
        SELECT doc_b AS u, doc_a AS v FROM vp
    ),
    reach(node, comp) AS (
        SELECT u, u FROM (SELECT DISTINCT u FROM edges)
        UNION
        SELECT e.v, r.comp
        FROM reach r JOIN edges e ON e.u = r.node
    ),
    labels AS (
        SELECT node, MIN(comp) AS component FROM reach GROUP BY node
    )
    {_KEEP_BEST_TAIL_ORACLE}"""


@register("dedup_fuzzy_pipeline", oracle=_FUZZY_PIPELINE_ORACLE)
def dedup_fuzzy_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE production fuzzy-dedup chain as one query (r15,
    VERDICT r14 #2): MinHash-LSH candidate mining →
    edit-distance verification (only pairs with normalized
    Levenshtein similarity >= 0.98 count as duplicates) →
    quality-aware keep-best selection → surviving corpus. The three
    stages exist and gate individually (``dedup_minhash_lsh``,
    ``dedup_edit_verified``, ``dedup_keep_best_lsh``); this is their
    composition — the pipeline a 100 TB web-corpus dedup actually
    runs, where the shingle-set miner's false candidates (ordering-
    and repetition-blind Jaccard) must NOT collapse documents that a
    character-level check can tell apart.

    Non-vacuity is measured, not assumed: at gate scale the edit
    filter rejects 8/28 (sf0.001) and 7/25 (sf0.01) of the miner's
    pairs, so the survivor set provably differs from the unverified
    ``dedup_keep_best_lsh`` path (pinned by test).

    Plan shape — every stage keeps its audited scale discipline: the
    LSH miner is band-bucket-bounded (fixed ``bands`` rows per doc);
    verification broadcasts ID-only pair rows and shuffle-joins the
    two pair-sized text halves (never broadcasting text — VERDICT
    r14 #1b); selection counts the member set and picks broadcast vs
    sort-merge from the measured size (#1a); the final anti-join
    broadcasts the loser ids against the corpus. The oracle replays
    all three stages relationally (exact-Jaccard pairs stand in for
    the LSH pair set — exact-verified equal at gate scale, the
    ``_KEEP_BEST_ORACLE`` precedent — then DuckDB ``levenshtein``,
    recursive closure, best-member selection)."""
    pairs = dedup_minhash_lsh(spark, sf_dir)
    d = load(spark, sf_dir, "documents")
    return keep_best_survivors(d, fuzzy_verified_pairs(d, pairs))


def fuzzy_verified_pairs(d: DataFrame, pairs: DataFrame) -> DataFrame:
    """Frame-level edit-verification stage of the fuzzy pipeline
    (shared by ``dedup_fuzzy_pipeline`` and the DAG composition):
    candidate pairs in, (doc_a, doc_b) pairs whose normalized
    Levenshtein similarity clears ``_FUZZY_EDIT_THRESHOLD`` out."""
    from mldag_spark.operators.dedup import edit_similarity_pairs

    texts = d.select("doc_id", normalize_text(F.col("text")).alias("norm"))
    verified = edit_similarity_pairs(
        pairs, texts, id_col="doc_id", text_col="norm"
    )
    return verified.filter(
        F.col("edit_sim") >= _FUZZY_EDIT_THRESHOLD
    ).select("doc_a", "doc_b")


@register(
    "text_top_terms",
    oracle="""
    WITH toks AS (
      SELECT lang,
             unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS tok
      FROM documents
    ),
    freq AS (
      SELECT lang, tok, COUNT(*) AS n
      FROM toks WHERE tok <> '' GROUP BY 1, 2
    )
    SELECT lang, tok, n, rnk FROM (
      SELECT lang, tok, n,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n DESC, tok) AS rnk
      FROM freq
    ) WHERE rnk <= 10
    """,
)
def text_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary ranking: top-10 terms per language.

    explode → groupBy(lang, tok) with map-side partial counts →
    per-lang row_number window.  The window input is the aggregated
    term dictionary (vocabulary-sized, not corpus-sized), so the sort
    per language stays small at any corpus scale; ties are broken
    lexicographically so the top-k set is deterministic for the
    value-hash gate."""
    d = load(spark, sf_dir, "documents")
    freq = (
        d.select("lang", F.explode(tokenize(F.col("text"))).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("lang", "tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("lang").orderBy(F.desc("n"), F.asc("tok"))
    return freq.select(
        "lang", "tok", "n", F.row_number().over(w).alias("rnk")
    ).filter(F.col("rnk") <= 10)


@register(
    "sample_deterministic_split",
    oracle="""
    WITH tagged AS (
        SELECT doc_id, lang,
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                 % 100 AS bucket
        FROM documents
    )
    SELECT CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'val'
                ELSE 'test' END AS split,
           lang,
           COUNT(*) AS n_docs
    FROM tagged
    GROUP BY 1, 2
    """,
)
def sample_deterministic_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test split by content-free key
    hash (md5 of the id, not rand()): the assignment is a pure
    per-row projection, so it is stable across runs, engines, cluster
    sizes and re-partitions — the property a reproducible training
    pipeline needs, and why rand()-based sampling is the wrong tool.
    No shuffle until the final tiny (split, lang) rollup."""
    d = load(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 100
    )
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    return (
        d.select(split.alias("split"), "lang")
        .groupBy("split", "lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@register(
    "sample_global_shuffle",
    oracle="""
    WITH h AS (
        SELECT doc_id,
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                   AS hv
        FROM documents
    )
    SELECT doc_id,
           CAST(hv % 8 AS BIGINT) AS shard_id,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY hv % 8 ORDER BY hv, doc_id
           ) AS BIGINT) AS pos
    FROM h
    """,
)
def sample_global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle into training shards — the export
    step between curation and the data loader: every document gets a
    pseudorandom but reproducible (shard_id, pos) coordinate from a
    content-free key hash, so the training order is stable across
    runs, engines and cluster sizes (same property argued at
    :func:`sample_deterministic_split`; rand() would not survive a
    re-partition).

    Scale shape: the hash is a per-row projection (no shuffle); the
    only shuffle is the per-shard ``row_number`` sort, which
    partitions BY SHARD — at 100 TB you raise the shard count so each
    sort fits an executor (the window never sees more than one
    shard), then ``write.partitionBy(shard_id)`` + sortWithinPartitions
    lands loader-ready files. No global single-partition sort anywhere.
    """
    d = load(spark, sf_dir, "documents")
    hv = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("long")
    w = Window.partitionBy("shard_id").orderBy("hv", "doc_id")
    return (
        d.select("doc_id", hv.alias("hv"))
        .withColumn("shard_id", F.col("hv") % 8)
        .select(
            "doc_id",
            "shard_id",
            F.row_number().over(w).cast("long").alias("pos"),
            "hv",
        )
        .drop("hv")
    )


@register(
    "text_repetition_stats",
    oracle="""
    WITH t AS (
        SELECT doc_id,
               string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')
                   AS toks
        FROM documents
    ), tf AS (
        SELECT doc_id, w, COUNT(*) AS c
        FROM (SELECT doc_id, unnest(toks) AS w FROM t)
        GROUP BY doc_id, w
    ), top AS (
        SELECT doc_id, MAX(c) AS mx, CAST(SUM(c) AS BIGINT) AS n
        FROM tf GROUP BY doc_id
    ), bg AS (
        SELECT doc_id, toks[u] || ' ' || toks[u + 1] AS b
        FROM (SELECT doc_id, toks,
                     unnest(generate_series(1, len(toks) - 1)) AS u
              FROM t)
    ), bgs AS (
        SELECT doc_id, COUNT(*) AS nb, COUNT(DISTINCT b) AS nd
        FROM bg GROUP BY doc_id
    )
    SELECT top.doc_id,
           top.n AS n_tokens,
           ROUND(CAST(top.mx AS DOUBLE) / top.n, 4) AS top_tok_ratio,
           ROUND(COALESCE(1 - CAST(bgs.nd AS DOUBLE) / bgs.nb, 0), 4)
               AS dup_bigram_ratio
    FROM top LEFT JOIN bgs ON top.doc_id = bgs.doc_id
    """,
)
def text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition signals — the Gopher/C4-style
    filters: top-token frequency ratio and duplicate-bigram ratio.

    Shape: token frequencies via explode → groupBy(doc_id, w) (the
    measured-fast pattern for heavy per-element work); bigrams built
    JVM-side with ``arrays_zip(slice, slice)`` — no interpreted HOF
    lambdas, no self-join — then one groupBy for distinct-vs-total.
    Both aggregations shuffle on doc_id and join on tiny per-doc rows.
    """
    d = load(spark, sf_dir, "documents")
    t = d.select("doc_id", tokenize(F.col("text")).alias("toks"))
    tf = (
        t.select("doc_id", F.explode("toks").alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    top = tf.groupBy("doc_id").agg(
        F.max("c").alias("mx"), F.sum("c").alias("n")
    )
    n = F.size("toks")
    z = F.arrays_zip(
        F.slice("toks", 1, n - 1), F.slice("toks", 2, n - 1)
    )
    bg = t.select("doc_id", F.explode(z).alias("z")).select(
        "doc_id",
        F.concat_ws(" ", F.col("z")["0"], F.col("z")["1"]).alias("b"),
    )
    bgs = bg.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("nb"), F.countDistinct("b").alias("nd")
    )
    return (
        top.join(bgs, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n").alias("n_tokens"),
            F.round(F.col("mx").cast("double") / F.col("n"), 4).alias(
                "top_tok_ratio"
            ),
            F.round(
                F.coalesce(
                    F.lit(1) - F.col("nd").cast("double") / F.col("nb"),
                    F.lit(0.0),
                ),
                4,
            ).alias("dup_bigram_ratio"),
        )
    )


@register(
    "corpus_idf_top_terms",
    oracle="""
    WITH tok AS (
        SELECT DISTINCT doc_id,
               unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '))
                   AS w
        FROM documents
    ), dfs AS (
        SELECT w, COUNT(*) AS df FROM tok GROUP BY w
    )
    SELECT w AS term, df,
           ROUND(ln(CAST((SELECT COUNT(DISTINCT doc_id) FROM documents)
                         AS DOUBLE) / df), 4) AS idf
    FROM dfs
    ORDER BY df DESC, term
    LIMIT 50
    """,
)
def corpus_idf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level document frequency + IDF for the 50 most common
    terms — the inverted-index statistic behind TF-IDF weighting and
    stopword discovery on a new corpus.

    Shape: per-doc dedup happens **inside the row** via
    ``array_distinct`` (codegen, no (doc_id, w) pre-shuffle), so the
    only shuffle is the term-level groupBy; the corpus size joins in
    as a broadcast 1-row aggregate, and top-50 is a JVM
    TakeOrdered, not a full sort."""
    d = load(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        F.explode(F.array_distinct(tokenize(F.col("text")))).alias("w"),
    )
    dfs = tok.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    total = d.agg(F.countDistinct("doc_id").alias("n_docs"))
    return (
        dfs.crossJoin(F.broadcast(total))
        .select(
            F.col("w").alias("term"),
            "df",
            F.round(
                F.log(F.col("n_docs").cast("double") / F.col("df")), 4
            ).alias("idf"),
        )
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(50)
    )


@register(
    "contamination_check",
    oracle="""
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
    ), pairs AS (
        SELECT te.doc_id AS test_doc, tr.doc_id AS train_doc,
               COUNT(*) AS shared
        FROM (SELECT * FROM sh WHERE bucket >= 90) te
        JOIN (SELECT * FROM sh WHERE bucket < 80) tr USING (s)
        GROUP BY te.doc_id, tr.doc_id
    )
    SELECT test_doc AS doc_id,
           COUNT(*) AS n_train_matches,
           CAST(MAX(shared) AS BIGINT) AS max_shared
    FROM pairs
    WHERE shared >= 3
    GROUP BY test_doc
    """,
)
def contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test contamination scan: for every test-split document,
    count train-split documents sharing >= 3 distinct 5-gram shingles
    (the n-gram-overlap decontamination pass run before evaluating on
    held-out data).

    Shape: shingles via posexplode + window-lead (codegen, one shuffle
    on doc_id — same layout as ``shingle_sets``), then an inverted-
    index equality join on the shingle string between the two split
    projections — never test×train pairs. Scale note: like
    ``dedup_ngram_jaccard``, join fan-out grows with shingle document
    frequency; at 100 TB run the same check over MinHash signatures
    first and verify only candidates."""
    from mldag_spark.functions import shingle_rows

    d = load(spark, sf_dir, "documents")
    sh = (
        shingle_rows(
            d.withColumn("bucket", _split_bucket()), "doc_id", "text", 5,
            carry=("bucket",), complete_only=True,
        )
        .select("doc_id", "bucket", F.col("shingle").alias("s"))
        .distinct()
    )
    test = sh.filter(F.col("bucket") >= 90).select(
        F.col("doc_id").alias("test_doc"), "s"
    )
    train = sh.filter(F.col("bucket") < 80).select(
        F.col("doc_id").alias("train_doc"), "s"
    )
    pairs = (
        # merge hints on BOTH post-aggregate sides (the repo-wide law,
        # cf. dedup_substring_spans): at sf10 the static size estimate
        # for the test slice is garbage and Spark broadcast tens of
        # millions of shingle rows — 4g-driver OOM, found by the 100x
        # remeasure; the shingle join must stay sort-merge
        test.hint("merge").join(train.hint("merge"), "s")
        .groupBy("test_doc", "train_doc")
        .agg(F.count(F.lit(1)).alias("shared"))
        .filter(F.col("shared") >= 3)
    )
    return pairs.groupBy("test_doc").agg(
        F.count(F.lit(1)).alias("n_train_matches"),
        F.max("shared").alias("max_shared"),
    ).select(
        F.col("test_doc").alias("doc_id"), "n_train_matches", "max_shared"
    )


_CONTAM_FRAC_ORACLE = """
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
    ), test_set AS (
        SELECT DISTINCT s FROM sh WHERE bucket >= 90
    ), train AS (
        SELECT doc_id, s FROM sh WHERE bucket < 80
    ), hits AS (
        SELECT tr.doc_id, COUNT(*) AS n_contaminated
        FROM train tr JOIN test_set te USING (s)
        GROUP BY tr.doc_id
    )
    SELECT tr.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(COALESCE(MAX(h.n_contaminated), 0) AS BIGINT)
               AS n_contaminated,
           CAST(ROUND(COALESCE(MAX(h.n_contaminated), 0)
                      / COUNT(*), 4) AS DOUBLE) AS contaminated_frac,
           (COALESCE(MAX(h.n_contaminated), 0) / COUNT(*)) >= 0.1
               AS flagged
    FROM train tr LEFT JOIN hits h USING (doc_id)
    GROUP BY tr.doc_id
"""


@register("text_contamination_fraction", oracle=_CONTAM_FRAC_ORACLE)
def text_contamination_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document contamination SCORE (r12) — the n-gram overlap
    FRACTION rule (the GPT-3-style "dirty document" criterion:
    fraction of a train document's distinct 13-grams — 5-grams here,
    the corpus's shingle contract — found anywhere in the held-out
    set), complementing the pairwise >=3-shared-shingle rule of
    ``contamination_check``: that flags pair evidence, this scores
    aggregate leakage against the test-set UNION and keeps every
    train doc (frac 0 included) so a pipeline can threshold, audit,
    or reweight. Shape: one distinct-shingle build per split (the
    shared shuffle), the test side collapsed to a distinct shingle
    SET (sublinear), one shingle-equi LEFT SEMI join (merge-hinted —
    both sides post-aggregate), and a doc-keyed aggregate. At 100 TB
    compose with the broadcast-Bloom probe (`bloom_survivors`) to
    prefilter map-only before the exact join."""
    from mldag_spark.functions import shingle_rows

    d = load(spark, sf_dir, "documents")
    sh = (
        shingle_rows(
            d.withColumn("bucket", _split_bucket()), "doc_id", "text", 5,
            carry=("bucket",), complete_only=True,
        )
        .select("doc_id", "bucket", F.col("shingle").alias("s"))
        .distinct()
    )
    test_set = (
        sh.filter(F.col("bucket") >= 90).select("s").distinct()
    )
    train = sh.filter(F.col("bucket") < 80).select("doc_id", "s")
    hit = (
        train.hint("merge").join(test_set.hint("merge"), "s", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_contaminated"))
    )
    totals = train.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_shingles")
    )
    frac = F.coalesce(F.col("n_contaminated"), F.lit(0)).cast(
        "double"
    ) / F.col("n_shingles")
    return (
        totals.join(hit.hint("merge"), "doc_id", "left")
        .select(
            "doc_id",
            "n_shingles",
            F.coalesce(F.col("n_contaminated"), F.lit(0)).alias(
                "n_contaminated"
            ),
            F.round(frac, 4).alias("contaminated_frac"),
            (frac >= 0.1).alias("flagged"),
        )
    )


# The filter half of decontamination: the surviving TRAIN split.
_DECON_ORACLE = """
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
    ), dirty AS (
        SELECT tr.doc_id AS train_doc
        FROM (SELECT * FROM sh WHERE bucket >= 90) te
        JOIN (SELECT * FROM sh WHERE bucket < 80) tr USING (s)
        GROUP BY te.doc_id, tr.doc_id
        HAVING COUNT(*) >= 3
    )
    SELECT d.doc_id, d.source, d.n_chars
    FROM documents d
    JOIN t ON t.doc_id = d.doc_id
    WHERE t.bucket < 80
      AND d.doc_id NOT IN (SELECT DISTINCT train_doc FROM dirty)
"""


# ---------------------------------------------------------------------------
# The pipeline front-half CONTRACT (r14, code-review r14 #6): the
# clean → exact-dedup → quality-gate stages are shared by the batch
# pipeline DAGs (dag_pipeline_clean_pack, dag_pipeline_fit_apply) and
# the streaming twin (stream_pipeline_clean) — one definition, so the
# keep-first rule and the gate thresholds cannot drift between the
# three compositions (the contaminated_train_ids precedent).
# ---------------------------------------------------------------------------

_GATE_MIN_TOKENS = 5
_GATE_MAX_TOKENS = 1000
_GATE_MIN_DIVERSITY = 0.3


def pipeline_clean_stage(docs: DataFrame, *carry: str) -> DataFrame:
    """(doc_id, *carry, clean) — the normalize stage (map-only JVM)."""
    return docs.select(
        "doc_id", *carry, normalize_text(F.col("text")).alias("clean")
    )


def pipeline_dedup_stage(cleaned: DataFrame) -> DataFrame:
    """Exact dedup, keep-first (min doc_id) per md5 content hash —
    ONE corpus shuffle keyed by the hash; the cleaned text rides this
    exchange once (measured: SCALING ``pipeline_clean_pack``)."""
    w = Window.partitionBy(F.md5(F.col("clean"))).orderBy("doc_id")
    return (
        cleaned.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .drop("_rk")
    )


def pipeline_gate_exprs():
    """(n_tokens, diversity, keep) expressions over a pre-normalized
    ``clean`` column — token-count band + lexical-diversity floor,
    per-row codegen (no shuffle)."""
    toks = F.split(F.col("clean"), " ")
    n = F.size(toks)
    dr = F.size(F.array_distinct(toks)).cast("double") / n
    keep = n.between(_GATE_MIN_TOKENS, _GATE_MAX_TOKENS) & (
        dr > _GATE_MIN_DIVERSITY
    )
    return n, dr, keep


def contaminated_train_ids(
    docs_bucketed: DataFrame,
    text_col: str = "text",
    k: int = 5,
    min_shared: int = 3,
) -> DataFrame:
    """(doc_id) — the train-bucket documents sharing >= ``min_shared``
    distinct ``k``-gram shingles with ANY test-bucket document. The
    decontamination CONTRACT in one place (code-review r13 #3):
    ``text_decontaminate_filter`` and the end-to-end pipeline DAG
    (``dag_pipeline_clean_pack``) both call this, so the bucket
    thresholds / shingle width / shared-count rule cannot drift
    between the stage query and the composed pipeline. Expects a
    ``bucket`` column (``_split_bucket``). Plan: one inverted-index
    equality join between the two split projections of one shingle
    build (never test × train pairs), merge-hinted both sides — the
    sf10 broadcast-OOM lesson (see contamination_check)."""
    from mldag_spark.functions import shingle_rows

    sh = (
        shingle_rows(docs_bucketed, "doc_id", text_col, k,
                     carry=("bucket",), complete_only=True)
        .select("doc_id", "bucket", F.col("shingle").alias("s"))
        .distinct()
    )
    test = sh.filter(F.col("bucket") >= 90).select(
        F.col("doc_id").alias("test_doc"), "s"
    )
    train = sh.filter(F.col("bucket") < 80).select(
        F.col("doc_id").alias("train_doc"), "s"
    )
    return (
        test.hint("merge").join(train.hint("merge"), "s")
        .groupBy("test_doc", "train_doc")
        .agg(F.count(F.lit(1)).alias("shared"))
        .filter(F.col("shared") >= min_shared)
        .select(F.col("train_doc").alias("doc_id"))
        .distinct()
    )


@register("text_decontaminate_filter", oracle=_DECON_ORACLE)
def text_decontaminate_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontaminated TRAIN split — the filter half of
    ``contamination_check``: drop every train-bucket document sharing
    >= 3 distinct 5-gram shingles with ANY test-bucket document and
    return the survivors (doc_id, source, n_chars). This is the op a
    training pipeline actually runs before export; the check variant
    is the audit report.

    Same split and shingle contract as the check (md5-bucket 90+ =
    test, < 80 = train, complete 5-grams only via
    ``shingle_rows(complete_only=True)``), so the two queries agree
    on which documents are contaminated. Plan: one inverted-index
    equality join between the two split projections of one shingle
    build (never test x train pairs), a >= 3 HAVING on the pair
    aggregate, then LEFT ANTI join back to the train docs — at 100 TB
    the anti join's right side is the contaminated-id set (small by
    construction), broadcastable; the shingle join is the same
    df-driven fan-out as the check, MinHash-prescreened in production
    (see the check's docstring). The contamination rule itself lives
    in :func:`contaminated_train_ids`, shared with the end-to-end
    pipeline DAG."""
    d = load(spark, sf_dir, "documents")
    docs = d.withColumn("bucket", _split_bucket())
    dirty = contaminated_train_ids(docs)
    return (
        docs.filter(F.col("bucket") < 80)
        .join(dirty, "doc_id", "left_anti")
        .select("doc_id", "source", "n_chars")
    )


# Bloom membership constants shared by the Spark query and its
# oracle: 2^20-bit bitmap, k=4 double-hashed md5 positions. The
# oracle replays the EXACT bloom arithmetic as a position-set
# semi-join, so the gate compares identical results — deterministic
# false positives included — rather than trusting the filter.
_BLOOM_M = 1 << 20

_DECON_BLOOM_ORACLE = f"""
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
        SELECT DISTINCT (h1 + g.i * h2) % {_BLOOM_M} AS p
        FROM (SELECT h1, h2 FROM hashed WHERE bucket >= 90),
             unnest([0, 1, 2, 3]) AS g(i)
    ), dirty AS (
        SELECT doc_id
        FROM hashed
        WHERE bucket < 80
          AND (h1 + 0 * h2) % {_BLOOM_M} IN (SELECT p FROM pos)
          AND (h1 + 1 * h2) % {_BLOOM_M} IN (SELECT p FROM pos)
          AND (h1 + 2 * h2) % {_BLOOM_M} IN (SELECT p FROM pos)
          AND (h1 + 3 * h2) % {_BLOOM_M} IN (SELECT p FROM pos)
        GROUP BY doc_id
        HAVING COUNT(*) >= 3
    )
    SELECT d.doc_id, d.source, d.n_chars
    FROM documents d
    JOIN t ON t.doc_id = d.doc_id
    WHERE t.bucket < 80
      AND d.doc_id NOT IN (SELECT doc_id FROM dirty)
"""


@register("text_decontaminate_bloom", oracle=_DECON_BLOOM_ORACLE)
def text_decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontaminated TRAIN split via a broadcast Bloom filter — the
    NO-SHUFFLE scale path for the same contract as
    ``text_decontaminate_filter`` (md5 split buckets, complete
    5-grams, drop train docs with >= 3 distinct test-shared
    shingles).

    Why it exists: the exact pass shuffles every train shingle
    through an inverted-index join, but the join's other side — the
    benchmark corpus — is SMALL by construction. Here the test
    shingles build a sized filter in one map-only pass (per-
    partition numpy bitmaps, driver ORs <= |partitions| partials),
    the bitmap rides in task closures, and the 100 TB train side is
    probed MAP-ONLY: the only shuffle in the whole query is the
    distinct on HIT shingle rows (contamination-sized,
    not corpus-sized). The price is a deterministic, arithmetic-
    defined false-positive set — extra drops, never missed
    contamination, the safe direction for decontamination. The
    DuckDB oracle replays the exact bloom arithmetic (position-set
    semi-join), so the gate compares identical results, FPs
    included; tests/test_operators.py pins the superset property
    (bloom drops ⊇ exact drops) against the exact pass. The filter
    is sized from the measured test shingle count
    (:func:`decontamination_bloom`), so it never saturates into
    all-drops at scale (SCALING ``stream_pipeline_clean``), and at
    every gate scale the size is the 2^20 floor the oracle replays."""
    d = load(spark, sf_dir, "documents")
    docs = d.withColumn("bucket", _split_bucket())
    bitmap = decontamination_bloom(docs)
    return bloom_survivors(docs.filter(F.col("bucket") < 80), bitmap)


def _split_bucket():
    return (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 100
    )


def decontamination_bloom(
    docs: DataFrame, text_col: str = "text"
) -> list[bytes]:
    """Build the test-split bloom set (k=4) from a documents frame
    carrying the md5 ``bucket`` column — one map-only pass over the
    complete 5-grams of the test slice's ``text_col`` (dup-bearing
    rows: the OR is idempotent, so no distinct and no shuffle).

    Sizing (r15, VERDICT r14 #4): routed through
    ``operators.bloom.bloom_build_sized`` — ONE approx-count pass
    measures the distinct test-shingle count, the bitmap sizes from
    it (floored at the 2^20 registry default), and an over-2^32-bit
    corpus shards automatically instead of raising sizing advice.
    The r14 scale probe showed WHY the fixed filter was wrong: at
    sf10 the 2^20 bitmap SATURATES into all-drops (SCALING
    ``stream_pipeline_clean``). The gated oracle replays the 2^20
    arithmetic; the auto-sizer provably returns that floor for any
    test split under ~59 k distinct shingles (16 b/element + 10 %
    pad), which covers the largest driver gate scale with ~2.7×
    margin (sf0.1 measures ~22 k distinct; sf0.01 and sf0.001 are
    1–2 orders below the boundary). If a future gate scale crosses
    the floor the divergence is a LOUD hash-mismatch red, not silent
    corruption — and sizing deliberately diverges there, because a
    saturated filter's "match" is the wrong answer, not a gate
    property worth preserving."""
    from mldag_spark.functions import shingle_rows
    from mldag_spark.operators.bloom import bloom_build_sized

    sh = shingle_rows(
        docs.filter(F.col("bucket") >= 90), "doc_id", text_col, 5,
        complete_only=True,
    ).select(F.col("shingle").alias("s"))
    return bloom_build_sized(sh, "s", floor_bits=_BLOOM_M)


def bloom_survivors(
    train_docs: DataFrame, bitmap: "bytes | list[bytes]"
) -> DataFrame:
    """The probe half, shared by the batch query and the streaming
    micro-batch path (contamination is decided per document, so any
    slicing of the train side computes identical survivors): map-only
    probe on dup-bearing shingle rows (duplicates probe identically,
    so filter-then-distinct == distinct-then-filter), distinct on the
    HIT rows only (contamination-sized), >= 3 distinct-hit docs drop,
    survivors (doc_id, source, n_chars). Accepts either bloom regime
    (one bitmap or the sharded set ``bloom_build_sized`` returns);
    sizing is derived from the bitmaps themselves, so a
    production-SIZED filter probes correctly with no extra
    parameter."""
    from mldag_spark.functions import shingle_rows
    from mldag_spark.operators.bloom import bloom_probe

    probe = bloom_probe(bitmap)
    sh = shingle_rows(
        train_docs, "doc_id", "text", 5, complete_only=True
    ).select("doc_id", F.col("shingle").alias("s"))
    dirty = (
        sh.filter(probe(F.col("s")))
        .select("doc_id", "s")
        .distinct()
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("hits"))
        .filter(F.col("hits") >= 3)
        .select("doc_id")
    )
    return (
        train_docs.join(dirty, "doc_id", "left_anti")
        .select("doc_id", "source", "n_chars")
    )


# DSIR feature space: hashed bigram buckets. 4096 keeps the
# log-ratio table broadcast-trivial at ANY corpus size (the paper
# uses 10^4; the bucket count is a quality/κ-variance knob, not a
# scale knob — the table is |B| rows no matter how many documents).
_DSIR_BUCKETS = 4096
# target split: the in-domain exemplar bucket (sources src0-src3,
# ~20% of the corpus) standing in for the paper's "formal text"
# target sample
_DSIR_TARGET = "source IN ('src0', 'src1', 'src2', 'src3')"

_DSIR_ORACLE = f"""
    WITH t AS (
        SELECT doc_id, source,
               string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS arr
        FROM documents
    ), grams AS (
        SELECT doc_id, source,
               ('0x' || substr(md5(arr[i] || ' ' || arr[i+1]), 1, 8))::BIGINT
                 % {_DSIR_BUCKETS} AS f
        FROM t, unnest(generate_series(1, len(arr) - 1)) AS s(i)
    ), df AS (
        SELECT doc_id, f, COUNT(*) AS c FROM grams GROUP BY 1, 2
    ), raw AS (
        SELECT f, COUNT(*) AS cr FROM grams GROUP BY 1
    ), tgt AS (
        SELECT f, COUNT(*) AS ct FROM grams
        WHERE {_DSIR_TARGET} GROUP BY 1
    ), totals AS (
        SELECT (SELECT SUM(cr) FROM raw) AS nr,
               (SELECT COALESCE(SUM(ct), 0) FROM tgt) AS nt
    ), lr AS (
        SELECT raw.f,
               CAST(ROUND(
                   ln((COALESCE(tgt.ct, 0) + 1.0) / (totals.nt + {_DSIR_BUCKETS}))
                 - ln((raw.cr + 1.0) / (totals.nr + {_DSIR_BUCKETS})), 6)
               AS DECIMAL(18,6)) AS lr
        FROM raw LEFT JOIN tgt USING (f) CROSS JOIN totals
    )
    SELECT df.doc_id,
           CAST(SUM(df.c) AS BIGINT) AS n_bigrams,
           ROUND(CAST(SUM(df.c * lr.lr) AS DOUBLE) / SUM(df.c), 4)
               AS dsir_logratio
    FROM df JOIN lr USING (f)
    GROUP BY df.doc_id
"""


def dsir_feature_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, source, f, c) hashed-bigram feature counts — the shared
    front half of :func:`text_dsir_weights` and
    :func:`dsir_log_ratio_table`. One map-only zip-slice explode, one
    (doc_id, source, f) shuffle; source rides the key (one source per
    doc, same granularity) so BOTH DSIR models derive from this frame
    and the explode subtree executes exactly once (ADVICE r9: the old
    target model re-counted from grams, duplicating the documents scan
    + bigram explode). The explicit null filter mirrors the
    isnotnull(f) the scoring join infers on its side — without it the
    totals branch's subtree differs by exactly that filter and AQE
    cannot ReusedExchange it."""
    d = load(spark, sf_dir, "documents")
    pretok = d.select(
        "doc_id", "source", tokenize(F.col("text")).alias("toks")
    )
    toks = F.col("toks")
    m = F.size(toks) - 1
    grams = pretok.select(
        "doc_id",
        "source",
        F.explode(
            F.arrays_zip(F.slice(toks, 1, m), F.slice(toks, 2, m))
        ).alias("_z"),
    ).select(
        "doc_id",
        "source",
        (
            F.conv(
                F.substring(
                    F.md5(F.concat_ws(" ", F.col("_z.0"), F.col("_z.1"))),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % _DSIR_BUCKETS
        ).alias("f"),
    )
    return (
        grams.filter(F.col("f").isNotNull())
        .groupBy("doc_id", "source", "f")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def dsir_log_ratio_table(
    df_counts: DataFrame, target_filter: str = _DSIR_TARGET
) -> DataFrame:
    """Build the DSIR per-feature log-ratio table (f, lr) from
    (doc_id, source, f, c) feature counts. At most ``_DSIR_BUCKETS``
    rows by construction — in production this is computed ONCE against
    the trusted exemplar set, written to parquet, and passed to
    :func:`text_dsir_weights` as ``lr_table`` so the 100 TB selection
    pass never re-counts the target model.

    The raw AND target counts come out of ONE f-keyed aggregate (the
    target count is a conditional sum, not a filtered re-aggregation):
    a separate ``df_counts.filter(target)`` branch looks like reuse at
    the DataFrame level, but Catalyst pushes the source filter down
    through the aggregate into the scan, duplicating the explode
    subtree — the exact double-scan ADVICE r9 flagged. The conditional
    sum is not pushable, so both models ride the same exchange."""
    feat = df_counts.groupBy("f").agg(
        F.sum("c").alias("cr"),
        F.sum(
            F.when(F.expr(target_filter), F.col("c")).otherwise(F.lit(0))
        ).alias("ct"),
    )
    totals = feat.agg(
        F.sum("cr").alias("nr"),
        F.coalesce(F.sum("ct"), F.lit(0)).alias("nt"),
    )
    b = F.lit(_DSIR_BUCKETS)
    return feat.crossJoin(F.broadcast(totals)).select(
        "f",
        F.round(
            F.log((F.col("ct") + 1.0) / (F.col("nt") + b))
            - F.log((F.col("cr") + 1.0) / (F.col("nr") + b)),
            6,
        )
        .cast("decimal(18,6)")
        .alias("lr"),
    )


@register("text_dsir_weights", oracle=_DSIR_ORACLE)
def text_dsir_weights(
    spark: SparkSession, sf_dir: str, lr_table: DataFrame | None = None
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every document
    by the average log-likelihood ratio of its hashed bigram features
    under a target-domain unigram-feature model vs the raw-corpus
    model — the published recipe for selecting pre-training data that
    looks like a trusted exemplar set. Positive ``dsir_logratio``
    means "more target-like than the corpus average"; resampling
    proportional to exp(weight) is the paper's selection step (the
    weights are the engine-side deliverable; sampling composes with
    ``sample_weighted_mix``).

    Model: hashed bigrams into ``_DSIR_BUCKETS`` buckets (md5-derived
    bucket id, the repo's cross-engine hash), add-1 smoothed bucket
    unigram models p(f) = (c(f)+1)/(N+B) for the target split (an
    in-domain source bucket here) and the full corpus. Per-feature
    log ratios are rounded to 6dp and cast DECIMAL(18,6) so the
    per-document SUM is exact integer-scaled arithmetic — partition-
    order-invariant and engine-agreed (the ``text_bigram_surprisal``
    law); only the final length-normalized division returns to float.

    Plan shape (100 TB): the bigram explode is the map-only zip-slice
    pipeline and runs ONCE — doc-feature counts shuffle once on
    (doc_id, source, f) (source is functionally dependent on doc_id,
    so the grouping is the same (doc_id, f) granularity), and BOTH the
    raw and target models re-aggregate those counts into at most B
    rows each, so the log-ratio table is broadcast-sized BY
    CONSTRUCTION — the per-document scoring join ships ≤4096 rows to
    every executor and the final rollup rides the doc-keyed aggregate.
    Pass ``lr_table`` (a published (f, lr) artifact from
    :func:`dsir_log_ratio_table`) for the production selection pass:
    one explode + one (doc, f) shuffle + a broadcast scoring join,
    with no target re-count at all."""
    df_counts = dsir_feature_counts(spark, sf_dir)
    lr = lr_table if lr_table is not None else dsir_log_ratio_table(
        df_counts
    )
    # lr is <= _DSIR_BUCKETS rows by construction — broadcast it
    return (
        df_counts.join(F.broadcast(lr), "f")
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_bigrams"),
            F.round(
                F.sum(F.col("c") * F.col("lr")).cast("double")
                / F.sum("c"),
                4,
            ).alias("dsir_logratio"),
        )
    )


@register(
    "text_shingle_novelty",
    oracle="""
    WITH t AS (
        SELECT doc_id,
               string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS arr
        FROM documents
    ), sh AS (
        SELECT DISTINCT doc_id,
               CASE WHEN len(arr) <= 3 THEN array_to_string(arr, ' ')
                    ELSE array_to_string(arr[u:u+2], ' ') END AS shingle
        FROM t, unnest(generate_series(1, GREATEST(len(arr) - 2, 1))) AS s(u)
    ), first AS (
        SELECT shingle, MIN(doc_id) AS first_doc FROM sh GROUP BY 1
    )
    SELECT sh.doc_id,
           COUNT(*) AS n_shingles,
           CAST(SUM(CASE WHEN first.first_doc = sh.doc_id
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
           ROUND(SUM(CASE WHEN first.first_doc = sh.doc_id
                          THEN 1.0 ELSE 0 END) / COUNT(*), 4) AS novelty
    FROM sh JOIN first USING (shingle)
    GROUP BY sh.doc_id
    """,
)
def text_shingle_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty: the share of a document's distinct
    3-shingles that appear in NO earlier document (corpus order =
    doc_id) — the first-occurrence attribution used to measure how
    much genuinely new text each crawl increment contributes (novelty
    ~1 = fresh content, ~0 = restatement of what the corpus already
    has). The corpus-wide aggregate of ``n_novel`` over snapshots is
    the dedup-rate curve; this is its per-document form.

    Plan: distinct (doc, shingle) pairs from the map-only zip-slice
    shingle build, a shingle-keyed MIN(doc_id) ("who said it first" —
    an aggregate, never a pairwise join), a merge join of the pair
    rows back to the first-occurrence table on the same shingle key
    (exchange reuse), and a doc-keyed rollup. Every stage is linear
    in the shingle rows; nothing is pairwise, so — unlike the overlap
    join — novelty is quadratic-proof at any multiplicity."""
    from mldag_spark.functions import shingle_rows

    d = load(spark, sf_dir, "documents")
    sh = shingle_rows(d, "doc_id", "text", 3).distinct()
    first = sh.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    novel = F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
    return (
        sh.hint("merge")
        .join(first.hint("merge"), "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(novel).cast("long").alias("n_novel"),
            F.round(
                F.sum(novel).cast("double") / F.count(F.lit(1)), 4
            ).alias("novelty"),
        )
    )


@register(
    "pack_token_budget_batches",
    oracle="""
    WITH t AS (
        SELECT doc_id,
               len(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '))
                   AS n_tokens
        FROM documents
    ), c AS (
        SELECT doc_id, n_tokens,
               CAST(SUM(n_tokens) OVER (
                   ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS global_cum
        FROM t
    )
    SELECT doc_id, n_tokens, global_cum,
           CAST((global_cum - n_tokens) // 4096 AS INT) AS batch_id
    FROM c
    """,
)
def pack_token_budget_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget shard packing (4096-token batches in doc_id order)
    via the distributed prefix-sum in ``operators.packing`` — the
    oracle is the single-window SQL cumsum, proving the two-phase
    partition-offset formulation computes the identical global running
    total without ever collapsing the data into one task."""
    from mldag_spark.operators.packing import token_budget_batches

    d = load(spark, sf_dir, "documents")
    counts = d.select(
        "doc_id", F.size(tokenize(F.col("text"))).alias("n_tokens")
    )
    return token_budget_batches(
        counts, "doc_id", "n_tokens", max_tokens=4096
    ).withColumn("global_cum", F.col("global_cum").cast("long"))


@register(
    "pack_batch_boundaries",
    oracle="""
    WITH t AS (
        SELECT doc_id,
               len(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '))
                   AS n_tokens
        FROM documents
    ), c AS (
        SELECT doc_id, n_tokens,
               CAST(SUM(n_tokens) OVER (
                   ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS global_cum
        FROM t
    ), b AS (
        SELECT doc_id, n_tokens,
               CAST((global_cum - n_tokens) // 4096 AS INT) AS batch_id,
               global_cum - n_tokens AS gbegin
        FROM c
    )
    SELECT doc_id, batch_id,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY batch_id ORDER BY gbegin
           ) AS INT) AS seq_in_batch,
           CAST(gbegin - batch_id * 4096 AS BIGINT) AS begin_off,
           CAST(gbegin - batch_id * 4096 + n_tokens AS BIGINT) AS end_off
    FROM b
    """,
)
def pack_batch_boundaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-batch DOCUMENT BOUNDARY offsets (r14) — the attention-mask
    artifact sequence packing actually ships: a packed batch holds
    several documents back to back, and the trainer needs each
    document's [begin, end) token offsets within its batch to build
    the block-diagonal attention mask (the "packing without
    cross-contamination" requirement; an ``end_off`` past the 4096
    budget marks the straddling document this greedy cum-sum packer
    carries into the next batch). Composes directly on
    ``pack_token_budget_batches``'s distributed prefix sum — no new
    corpus pass — plus ONE batch-keyed ranking window whose input is
    (doc_id, 4 ints) rows, text long gone; the per-batch partitions
    are budget-bounded (≤ 4096 tokens ⇒ ≤ 820 docs at the 5-token
    gate floor), so the added exchange is output-sized and skew-free
    by construction. The packer itself is CALLED, not re-derived
    (code-review r14 late #2): a budget or tokenization change in
    ``pack_token_budget_batches`` flows through here by
    construction, so the offsets always describe the batches the
    packer actually emits."""
    packed = pack_token_budget_batches(spark, sf_dir)
    gbegin = (F.col("global_cum") - F.col("n_tokens")).cast("long")
    w = Window.partitionBy("batch_id").orderBy("gbegin")
    return (
        packed.withColumn("gbegin", gbegin)
        .withColumn("seq_in_batch", F.row_number().over(w))
        .select(
            "doc_id",
            "batch_id",
            "seq_in_batch",
            (F.col("gbegin") - F.col("batch_id").cast("long") * 4096)
            .alias("begin_off"),
            (
                F.col("gbegin")
                - F.col("batch_id").cast("long") * 4096
                + F.col("n_tokens")
            ).cast("long").alias("end_off"),
        )
    )


@register(
    "sample_balanced_per_lang",
    oracle="""
    WITH ranked AS (
        SELECT doc_id, lang,
               ROW_NUMBER() OVER (
                   PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
               ) AS rk
        FROM documents
    )
    SELECT doc_id, lang FROM ranked WHERE rk <= 40
    """,
)
def sample_balanced_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balanced subset: exactly min(40, |lang|) documents per language,
    chosen by content-free hash order — the deterministic equivalent of
    per-stratum random sampling for building balanced training mixes.
    Hash order (not doc_id order) avoids correlating the sample with
    ingestion order; determinism makes the mix reproducible across
    runs, engines, and cluster sizes. One shuffle on lang; the rank
    window partitions by a real key so work distributes."""
    d = load(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        d.select("doc_id", "lang", F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") <= 40)
        .select("doc_id", "lang")
    )


@register(
    "text_unigram_logprob",
    oracle="""
    WITH tok AS (
        SELECT doc_id,
               unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '))
                   AS w
        FROM documents
    ), cf AS (
        SELECT w, COUNT(*) AS c FROM tok GROUP BY w
    ), tot AS (
        SELECT COUNT(*) AS t FROM tok
    )
    SELECT doc_id,
           COUNT(*) AS n_tokens,
           ROUND(AVG(ln(CAST(c AS DOUBLE) / t)), 4) AS avg_logprob
    FROM tok JOIN cf USING (w), tot
    GROUP BY doc_id
    """,
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model scoring: mean log-probability of each
    document's tokens under the corpus unigram distribution — the
    cheap stand-in for the perplexity filters used to rank pre-training
    data (low avg_logprob = rare-token-heavy = candidate junk).

    Two passes over the token explode: corpus frequencies (one term
    shuffle), then a frequency join back to the token stream and a
    per-doc aggregate. The corpus total joins as a broadcast 1-row
    aggregate. All codegen; scoring against a FIXED reference corpus
    at 100 TB replaces the first pass with a broadcast lookup table."""
    d = load(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(tokenize(F.col("text"))).alias("w"))
    cf = tok.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    tot = tok.agg(F.count(F.lit(1)).alias("t"))
    return (
        tok.join(cf, "w")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(
                F.avg(F.log(F.col("c").cast("double") / F.col("t"))), 4
            ).alias("avg_logprob"),
        )
    )


@register(
    "text_bm25_topk",
    oracle="""
    WITH tok AS (
        SELECT doc_id,
               unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '))
                   AS w
        FROM documents
    ), dl AS (
        SELECT doc_id, COUNT(*) AS ndl FROM tok GROUP BY doc_id
    ), stats AS (
        SELECT (SELECT COUNT(*) FROM documents) AS n,
               (SELECT CAST(SUM(ndl) AS DOUBLE) / COUNT(*) FROM dl) AS avgdl
    ), tf AS (
        SELECT doc_id, w, COUNT(*) AS tf FROM tok
        WHERE w IN ('dup', 'spark', 'window', 'merge')
        GROUP BY doc_id, w
    ), df AS (
        SELECT w, COUNT(*) AS df FROM tf GROUP BY w
    ), scored AS (
        SELECT tf.doc_id,
               COUNT(*) AS n_terms,
               SUM(
                   ln(1 + (s.n - df.df + 0.5) / (df.df + 0.5))
                   * tf.tf * 2.2
                   / (tf.tf + 1.2 * (0.25 + 0.75 * dl.ndl / s.avgdl))
               ) AS score
        FROM tf
        JOIN df USING (w)
        JOIN dl USING (doc_id), stats s
        GROUP BY tf.doc_id
    )
    SELECT doc_id, n_terms, ROUND(score, 4) AS bm25
    FROM scored
    -- rank by the ROUNDED score (ADVICE r8): Spark's partial-sum order
    -- and DuckDB's summation can differ in the last ulps, so a
    -- sub-1e-4 near-tie at the rank-15/16 boundary must not flip the
    -- gate between engines
    ORDER BY ROUND(score, 4) DESC, doc_id
    LIMIT 15
    """,
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval: top-15 documents for the query terms
    {dup, spark, window, merge} under Okapi BM25 (k1=1.2, b=0.75,
    idf = ln(1 + (N-df+0.5)/(df+0.5)) — the Lucene/Robertson-Spärck
    Jones variant, always positive). 'dup' appears in <1% of
    documents, so its idf dominates — the ranking demonstrably
    rewards the rare term, not raw term count.

    The retrieval plan, Spark-shaped: one token explode feeds BOTH
    per-doc lengths and the query-term tf table (Catalyst reuses the
    scan); df and the (N, avgdl) corpus stats are tiny aggregates
    broadcast to the tf rows (|terms| and 1 row); scoring is pure
    codegen arithmetic; top-15 is TakeOrderedAndProject (per-partition
    heap + driver merge of 15-row heads — no global sort shuffle). At
    100 TB this is exactly a scatter-gather query over an inverted
    index: the tf table is the posting-list scan, df/avgdl the
    precomputed index stats."""
    d = load(spark, sf_dir, "documents")
    terms = ["dup", "spark", "window", "merge"]
    tok = d.select("doc_id", F.explode(tokenize(F.col("text"))).alias("w"))
    dl = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("ndl"))
    n_docs = d.agg(F.count(F.lit(1)).alias("n"))
    avgdl = dl.agg(
        (F.sum("ndl").cast("double") / F.count(F.lit(1))).alias("avgdl")
    )
    tf = (
        tok.filter(F.col("w").isin(terms))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_tbl = tf.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        F.lit(1)
        + (F.col("n") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    term_score = idf * F.col("tf") * F.lit(2.2) / (
        F.col("tf")
        + F.lit(1.2)
        * (F.lit(0.25) + F.lit(0.75) * F.col("ndl") / F.col("avgdl"))
    )
    scored = (
        tf.join(F.broadcast(df_tbl), "w")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(n_docs))
        .crossJoin(F.broadcast(avgdl))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.sum(term_score).alias("score"),
        )
    )
    # rank by the ROUNDED score (ADVICE r8): float summation order can
    # differ between Spark and the DuckDB oracle in the last ulps; with
    # unrounded ranking a near-tie at the rank-15/16 boundary could
    # flip between engines even though every DISPLAYED value matches
    return (
        scored.select(
            "doc_id", "n_terms", F.round("score", 4).alias("bm25")
        )
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(15)
    )


@register(
    "sample_temperature_mix",
    oracle="""
    WITH mass AS (
        SELECT source, COUNT(*) AS n_docs,
               SUM(n_chars) AS chars_s
        FROM documents GROUP BY source
    ), powed AS (
        SELECT source, n_docs, chars_s,
               POWER(chars_s / (SELECT SUM(chars_s) FROM mass), 0.7) AS p
        FROM mass
    )
    SELECT source,
           n_docs,
           ROUND(chars_s / (SELECT SUM(chars_s) FROM powed), 6) AS char_share,
           ROUND(p / (SELECT SUM(p) FROM powed), 6) AS weight,
           CAST(ROUND(10000 * p / (SELECT SUM(p) FROM powed), 0) AS BIGINT)
               AS expected_docs
    FROM powed
    """,
)
def sample_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based source mixing (the multilingual-sampling
    calculation of mC4/XLM-R): per-source sampling weight
    ``w_s ∝ (char-mass share)^α`` with α=0.7, flattening the head so
    low-resource sources are over-sampled relative to their size, plus
    the expected document count for a 10k-doc budget.

    Scale shape: one groupBy(source) over a 2-column projection (the
    scan reads only source/n_chars), then all normalization happens on
    the |sources|-row aggregate — the totals join back as broadcast
    1-row cross joins, never a driver collect, so the same plan holds
    when the corpus is 100 TB and sources number in the thousands."""
    d = load(spark, sf_dir, "documents")
    alpha = 0.7
    mass = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("chars_s"),
    )
    tot_chars = mass.groupBy().agg(
        F.sum("chars_s").alias("_tc")
    )
    powed = mass.crossJoin(F.broadcast(tot_chars)).select(
        "source", "n_docs", "chars_s",
        F.pow(F.col("chars_s") / F.col("_tc"), alpha).alias("p"),
    )
    tot_p = powed.groupBy().agg(
        F.sum("p").alias("_tp"), F.sum("chars_s").alias("_tc")
    )
    return powed.crossJoin(F.broadcast(tot_p)).select(
        "source",
        "n_docs",
        F.round(F.col("chars_s") / F.col("_tc"), 6).alias("char_share"),
        F.round(F.col("p") / F.col("_tp"), 6).alias("weight"),
        F.round(F.lit(10000) * F.col("p") / F.col("_tp"), 0)
        .cast("long")
        .alias("expected_docs"),
    )


@register(
    "corpus_dedup_rate_by_source",
    oracle=r"""
    WITH fp AS (
        SELECT doc_id, source,
               md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS f
        FROM documents
    ), grp AS (
        SELECT f, COUNT(*) AS n FROM fp GROUP BY f
    )
    SELECT fp.source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN grp.n > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_docs,
           ROUND(CAST(SUM(CASE WHEN grp.n > 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 4) AS dup_rate
    FROM fp JOIN grp USING (f)
    GROUP BY fp.source
    """,
)
def corpus_dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup observability: per source, how many documents share their
    normalized-text fingerprint with at least one other document
    ANYWHERE in the corpus — the rollup a curation pipeline watches to
    see which acquisition source ships duplicated content.

    Scale shape: fingerprint is a per-row projection; one
    groupBy(fingerprint) builds the corpus-wide group sizes; the join
    back is keyed on the fingerprint (both sides shuffled once on the
    same key) and the final rollup is |sources| rows. No arrays, no
    self-join on text."""
    d = load(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    fp = d.select("doc_id", "source", F.md5(norm).alias("f"))
    grp = fp.groupBy("f").agg(F.count(F.lit(1)).alias("n"))
    return (
        fp.join(grp, "f")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("n") > 1, 1).otherwise(0))
            .cast("long")
            .alias("n_dup_docs"),
            F.round(
                F.sum(F.when(F.col("n") > 1, 1).otherwise(0)).cast("double")
                / F.count(F.lit(1)),
                4,
            ).alias("dup_rate"),
        )
    )


# Per-source sampling weights for the deterministic data-mixing query
# (identical literals in the SQL oracle).
_MIX_WEIGHTS = {"src0": 100, "src1": 75, "src2": 50, "src3": 25}


@register(
    "sample_weighted_mix",
    oracle="""
    WITH tagged AS (
        SELECT doc_id, source,
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || source), 1, 8))::BIGINT
                 % 100 AS bucket
        FROM documents
    )
    SELECT source, COUNT(*) AS n_sampled
    FROM tagged
    WHERE bucket < CASE source
                   WHEN 'src0' THEN 100 WHEN 'src1' THEN 75
                   WHEN 'src2' THEN 50 WHEN 'src3' THEN 25
                   ELSE 0 END
    GROUP BY source
    """,
)
def sample_weighted_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic data mixing: each source is down-sampled to its
    configured weight (src0 100%, src1 75%, src2 50%, src3 25%) by a
    content-free hash threshold — how a training mix re-weights
    sources without rand() (reproducible across runs/engines/cluster
    sizes, and a document's keep/drop decision never changes when
    other sources are added). Pure per-row projection + tiny rollup."""
    d = load(spark, sf_dir, "documents")
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.col("doc_id").cast("string"), "source")),
                1, 8,
            ),
            16, 10,
        ).cast("long") % 100
    )
    threshold = F.lit(0)
    for src, wgt in _MIX_WEIGHTS.items():
        threshold = F.when(F.col("source") == src, wgt).otherwise(threshold)
    return (
        d.select("doc_id", "source", bucket.alias("bucket"))
        .filter(F.col("bucket") < threshold)
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_sampled"))
    )


@register(
    "corpus_source_overlap",
    oracle="""
    WITH tok AS (
        SELECT doc_id, source,
               string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')
                   AS toks
        FROM documents
    ), sh AS (
        SELECT DISTINCT source, shingle
        FROM (
            SELECT source,
                   unnest(CASE WHEN len(toks) <= 3
                               THEN [array_to_string(toks, ' ')]
                               ELSE list_transform(range(1, len(toks) - 1),
                                    i -> array_to_string(toks[i:i+2], ' '))
                          END) AS shingle
            FROM tok
        )
    ), sizes AS (
        SELECT source, COUNT(*) AS n_sh FROM sh GROUP BY source
    ), inter AS (
        SELECT a.source AS source_a, b.source AS source_b,
               COUNT(*) AS n_common
        FROM sh a JOIN sh b
          ON a.shingle = b.shingle AND a.source < b.source
        GROUP BY 1, 2
    )
    SELECT i.source_a, i.source_b, i.n_common,
           ROUND(CAST(i.n_common AS DOUBLE)
                 / (sa.n_sh + sb.n_sh - i.n_common), 4) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.source = i.source_a
    JOIN sizes sb ON sb.source = i.source_b
    ORDER BY source_a, source_b
    """,
)
def corpus_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise 3-gram-shingle Jaccard between *sources* — the corpus
    cross-contamination matrix that tells you which crawl slices are
    near-copies of each other before you weight a training mix.

    Plan shape (100 TB stance): (source, shingle) distinct is one hash
    shuffle; the self-join keys on shingle (inverted index — only
    shared shingles pair up) and the pair rollup keys on
    (source_a, source_b), whose cardinality is bounded by
    #sources² regardless of corpus size; per-source set sizes are a
    #sources-row aggregate, broadcast back. No per-document pair
    blow-up anywhere: documents disappear after the distinct."""
    from mldag_spark.functions import shingle_rows

    d = load(spark, sf_dir, "documents")
    sh = (
        shingle_rows(d, "doc_id", "text", 3, carry=("source",))
        .select("source", "shingle")
        .distinct()
    )
    sizes = sh.groupBy("source").agg(F.count(F.lit(1)).alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("a.source") < F.col("b.source"))
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = F.broadcast(sizes.select(F.col("source").alias("source_a"), F.col("n_sh").alias("_na")))
    sb = F.broadcast(sizes.select(F.col("source").alias("source_b"), F.col("n_sh").alias("_nb")))
    return (
        inter.join(sa, "source_a")
        .join(sb, "source_b")
        .select(
            "source_a", "source_b", "n_common",
            F.round(
                F.col("n_common").cast("double")
                / (F.col("_na") + F.col("_nb") - F.col("n_common")),
                4,
            ).alias("jaccard"),
        )
        .orderBy("source_a", "source_b")
    )


@register(
    "corpus_zipf_slope",
    oracle="""
    WITH tf AS (
        SELECT source, w, COUNT(*) AS freq
        FROM (
            SELECT source,
                   unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '))
                       AS w
            FROM documents
        )
        GROUP BY source, w
    ), ranked AS (
        SELECT source, freq,
               ROW_NUMBER() OVER (PARTITION BY source
                                  ORDER BY freq DESC, w) AS rnk
        FROM tf
    )
    SELECT source,
           COUNT(*) AS n_terms,
           ROUND(covar_pop(ln(rnk), ln(freq)) / var_pop(ln(rnk)), 4)
               AS zipf_slope
    FROM ranked
    WHERE rnk <= 100
    GROUP BY source
    ORDER BY source
    """,
)
def corpus_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency slope per source: OLS slope of ln(freq) on
    ln(rank) over each source's 100 most frequent terms. Natural text
    sits near -1; heavily templated/boilerplate slices drift away —
    a cheap corpus-health screen for a training mix.

    Plan: token explode → (source, term) count (one shuffle) →
    per-source row_number window (shuffle on source) → two-moment
    aggregate. The window input is already term-level aggregated, so
    the window never sees raw token volume; slope uses
    covar_pop/var_pop (single-pass, map-side partial)."""
    d = load(spark, sf_dir, "documents")
    tf = (
        d.select("source", F.explode(tokenize(F.col("text"))).alias("w"))
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    wnd = Window.partitionBy("source").orderBy(F.desc("freq"), F.asc("w"))
    ranked = tf.select(
        "source", "freq", F.row_number().over(wnd).alias("rnk")
    ).filter(F.col("rnk") <= 100)
    lnr, lnf = F.log(F.col("rnk").cast("double")), F.log(F.col("freq").cast("double"))
    return (
        ranked.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.round(F.covar_pop(lnr, lnf) / F.var_pop(lnr), 4).alias("zipf_slope"),
        )
        .orderBy("source")
    )


@register(
    "corpus_pmi_pairs",
    oracle="""
    WITH tok AS (
        SELECT DISTINCT doc_id,
               unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '))
                   AS w
        FROM documents
    ), dfs AS (
        SELECT w, COUNT(*) AS df FROM tok GROUP BY w
    ), top AS (
        SELECT w, df FROM dfs ORDER BY df DESC, w LIMIT 30
    ), ft AS (
        SELECT t.doc_id, t.w FROM tok t JOIN top ON top.w = t.w
    ), pairs AS (
        SELECT a.w AS term_a, b.w AS term_b, COUNT(*) AS n_docs_pair
        FROM ft a JOIN ft b ON a.doc_id = b.doc_id AND a.w < b.w
        GROUP BY 1, 2
    )
    SELECT p.term_a, p.term_b, p.n_docs_pair,
           ROUND(ln(CAST(p.n_docs_pair AS DOUBLE)
                    * (SELECT COUNT(DISTINCT doc_id) FROM documents)
                    / (ta.df * tb.df)), 4) AS pmi
    FROM pairs p
    JOIN top ta ON ta.w = p.term_a
    JOIN top tb ON tb.w = p.term_b
    WHERE p.n_docs_pair >= 5
    ORDER BY pmi DESC, term_a, term_b
    LIMIT 50
    """,
)
def corpus_pmi_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information of term co-occurrence (document
    level) among the corpus's 30 highest-DF terms — surfaces phrase
    structure vs independence in a slice (templated corpora show
    extreme PMI mass).

    Plan: per-doc distinct terms stay in-row (array_distinct before
    explode); DF rollup is one term-keyed shuffle; the top-30 cap is
    broadcast back as a semi-join filter, so the doc-level self-join
    fans out at most C(30,2)=435 pairs per document regardless of
    document length or corpus size; the pair rollup keys on a ≤435-row
    space. N and per-term DFs join in as broadcasts."""
    d = load(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(F.array_distinct(tokenize(F.col("text")))).alias("w")
    )
    dfs = tok.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    top = dfs.orderBy(F.desc("df"), F.asc("w")).limit(30)
    ft = tok.join(F.broadcast(top.select("w")), "w")
    a = ft.select(F.col("doc_id"), F.col("w").alias("term_a"))
    b = ft.select(F.col("doc_id"), F.col("w").alias("term_b"))
    pairs = (
        a.join(b, "doc_id")
        .filter(F.col("term_a") < F.col("term_b"))
        .groupBy("term_a", "term_b")
        .agg(F.count(F.lit(1)).alias("n_docs_pair"))
        .filter(F.col("n_docs_pair") >= 5)
    )
    n_docs = d.agg(F.countDistinct("doc_id").alias("n_docs"))
    ta = F.broadcast(top.select(F.col("w").alias("term_a"), F.col("df").alias("_dfa")))
    tb = F.broadcast(top.select(F.col("w").alias("term_b"), F.col("df").alias("_dfb")))
    return (
        pairs.join(ta, "term_a")
        .join(tb, "term_b")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "term_a", "term_b", "n_docs_pair",
            F.round(
                F.log(
                    F.col("n_docs_pair").cast("double") * F.col("n_docs")
                    / (F.col("_dfa") * F.col("_dfb"))
                ),
                4,
            ).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), "term_a", "term_b")
        .limit(50)
    )


@register(
    "text_pii_redact",
    oracle="""
    WITH synth AS (
        SELECT doc_id,
               text || ' contact: ' || source || '@example.com or +1-555-'
                    || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS raw
        FROM documents
    ), red AS (
        SELECT doc_id, raw,
               regexp_replace(
                   regexp_replace(
                       raw,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                       '[EMAIL]', 'g'),
                   '\\+1-555-[0-9]{4}', '[PHONE]', 'g') AS redacted
        FROM synth
    )
    SELECT doc_id,
           len(regexp_extract_all(raw,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS n_emails,
           len(regexp_extract_all(raw, '\\+1-555-[0-9]{4}')) AS n_phones,
           length(redacted) AS redacted_chars,
           len(regexp_extract_all(redacted,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))
             + len(regexp_extract_all(redacted, '\\+1-555-[0-9]{4}'))
               AS residual_matches
    FROM red
    """,
)
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: count and redact email/phone-shaped spans (the
    pre-training privacy filter). The corpus itself contains no PII, so
    the gate synthesizes contact strings from existing columns — same
    fixture pattern as the multimodal suite — and then verifies the
    generic operators (``functions.redact`` / ``pattern_count``) found
    and removed every span (``residual_matches`` must be 0 per row).

    All codegen'd regexp_replace/regexp_count chains — a pure per-row
    projection, no shuffle at all; patterns live in the Java∩RE2
    dialect so the same literal runs on both engines."""
    from mldag_spark.functions import PII_PATTERNS, pattern_count, redact

    d = load(spark, sf_dir, "documents")
    raw = F.concat(
        F.col("text"), F.lit(" contact: "), F.col("source"),
        F.lit("@example.com or +1-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    red = redact(raw, PII_PATTERNS)
    return d.select(
        "doc_id",
        pattern_count(raw, PII_PATTERNS["email"]).alias("n_emails"),
        pattern_count(raw, PII_PATTERNS["phone"]).alias("n_phones"),
        F.length(red).alias("redacted_chars"),
        (
            pattern_count(red, PII_PATTERNS["email"])
            + pattern_count(red, PII_PATTERNS["phone"])
        ).alias("residual_matches"),
    )


@register(
    "dedup_incremental_batch",
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
def dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingestion dedup: treat odd doc_ids as today's crawl
    batch and even doc_ids as the existing corpus index, and find every
    batch document that near-duplicates (exact Jaccard >= 0.8) an
    index document — WITHOUT generating any index×index candidates.

    This is the production recurrence: the index side's band table
    (``operators.dedup.minhash_band_index``) and shingle sets persist
    bucketed by join key, so each day's cost is O(|batch|·bands) plus
    bucket joins — independent of total corpus size except through
    bucket occupancy. The oracle recomputes the batch×index pair set
    with the exact inverted index; LSH recall at the 0.8 threshold is
    1-(1-0.8⁴)¹⁶ ≈ 0.9996 per pair (and verification removes every
    false positive), so the gate also measures that no pair slipped
    through banding at these SFs."""
    from mldag_spark.functions import shingle_rows
    from mldag_spark.operators.dedup import incremental_lsh_pairs

    d = load(spark, sf_dir, "documents")
    rows = shingle_rows(d, "doc_id", "text", 3)
    batch = rows.filter(F.col("doc_id") % 2 == 1)
    index = rows.filter(F.col("doc_id") % 2 == 0)
    return incremental_lsh_pairs(
        batch, index, id_col="doc_id", elem_col="shingle",
        threshold=0.8, num_hashes=64, bands=16,
    )


@register(
    "text_vocab_encode",
    oracle="""
    WITH tok AS (
        SELECT doc_id,
               unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '))
                   AS w,
               generate_subscripts(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '), 1) - 1
                   AS pos
        FROM documents
    ), vocab AS (
        SELECT w, ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, w) AS id
        FROM tok GROUP BY w
        ORDER BY COUNT(*) DESC, w LIMIT 1000
    ), head AS (
        SELECT t.doc_id, t.pos, COALESCE(v.id, 0) AS id
        FROM tok t LEFT JOIN vocab v ON v.w = t.w
        WHERE t.pos < 16
    )
    SELECT doc_id,
           array_to_string(list(id ORDER BY pos), ',') AS ids,
           CAST(SUM(CASE WHEN id = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
           CAST(COUNT(*) AS BIGINT) AS n_encoded
    FROM head GROUP BY doc_id
    """,
)
def text_vocab_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-style vocabulary encoding: build a frequency-ranked
    top-1000 vocab (id 1 = most frequent; deterministic ties by term),
    then map each document's first 16 tokens to ids (0 = OOV) — the
    text→ids step that precedes sequence packing in a training
    pipeline.

    Scale shape: vocab build is one term-keyed shuffle + a top-K; the
    vocab joins back as a BROADCAST (bounded at K entries) so encoding
    is a map-only pass over token rows; per-doc sequence assembly is
    ``sort_array(collect_list(struct(pos,id)))`` — codegen'd, no
    interpreted lambdas — and the id sequence ships as a CSV string so
    the cross-engine gate compares exact token order. The prefix
    filter (pos < 16) prunes token rows BEFORE the encode join, so
    cost tracks documents, not document length."""
    d = load(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.posexplode(tokenize(F.col("text"))).alias("pos", "w")
    )
    # top-K FIRST (TakeOrdered — distributed partial top-k per
    # partition, never a global sort), THEN rank the K survivors with
    # a single-partition window that only ever sees K rows. Ranking
    # before limiting would pull every distinct term of the corpus
    # into one window partition.
    top = (
        tok.groupBy("w").agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), F.asc("w"))
        .limit(1000)
    )
    vocab = top.select(
        "w",
        F.row_number()
        .over(Window.orderBy(F.desc("freq"), F.asc("w")))
        .alias("id"),
    )
    head = (
        tok.filter(F.col("pos") < 16)
        .join(F.broadcast(vocab), "w", "left")
        .select("doc_id", "pos", F.coalesce("id", F.lit(0)).alias("id"))
    )
    seq = F.sort_array(F.collect_list(F.struct("pos", "id"))).getField("id")
    return head.groupBy("doc_id").agg(
        F.array_join(seq, ",").alias("ids"),
        F.sum(F.when(F.col("id") == 0, 1).otherwise(0)).alias("n_oov"),
        F.count(F.lit(1)).alias("n_encoded"),
    )


@register(
    "text_chunk_sequences",
    oracle="""
    WITH t AS (
        SELECT doc_id,
               string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')
                   AS toks
        FROM documents
    ), s AS (
        SELECT doc_id, toks,
               unnest(range(0, greatest(len(toks), 1), 48)) AS start_pos
        FROM t
    )
    SELECT doc_id,
           start_pos // 48 AS chunk_id,
           start_pos,
           len(list_slice(toks, start_pos + 1, start_pos + 64)) AS n_chunk_tokens,
           array_to_string(list_slice(toks, start_pos + 1, start_pos + 64), ' ')
               AS chunk_text
    FROM s
    """,
)
def text_chunk_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window sequence chunking: split each document's token
    stream into seq_len=64 chunks with stride 48 (16-token overlap) —
    the documents→training-sequences step of a pretraining pipeline.

    Scale shape: a pure narrow transformation — tokenize, generate the
    chunk starts with ``sequence`` (bounded at n_tokens/stride entries
    per row), ``posexplode``, ``slice``. No shuffle, no UDF; output
    rows ~= input tokens x (seq_len/stride) / seq_len, so the fan-out
    is a constant factor and the stage pipelines with the parquet scan
    at any corpus size. Every chunk is recomputable from (doc_id,
    start_pos), so the op is restart-safe without checkpointing.
    """
    seq_len, stride = 64, 48
    d = load(spark, sf_dir, "documents")
    starts = F.sequence(
        F.lit(0), F.greatest(F.size("toks") - 1, F.lit(0)), F.lit(stride)
    )
    return (
        d.select("doc_id", tokenize(F.col("text")).alias("toks"))
        .select("doc_id", "toks", F.posexplode(starts).alias("chunk_id", "start_pos"))
        .select(
            "doc_id",
            F.col("chunk_id").cast("long").alias("chunk_id"),
            "start_pos",
            F.slice("toks", F.col("start_pos") + 1, seq_len).alias("chunk"),
        )
        .select(
            "doc_id",
            "chunk_id",
            "start_pos",
            F.size("chunk").alias("n_chunk_tokens"),
            F.array_join("chunk", " ").alias("chunk_text"),
        )
    )


@register(
    "sample_source_cap",
    oracle="""
    SELECT doc_id, source, src_rank
    FROM (
        SELECT doc_id, source,
               ROW_NUMBER() OVER (
                   PARTITION BY source
                   ORDER BY n_chars DESC, doc_id
               ) AS src_rank
        FROM documents
    )
    WHERE src_rank <= 15
    """,
)
def sample_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source frequency capping: keep at most N=15 documents per
    source, preferring longer documents (n_chars DESC, doc_id tiebreak)
    — the domain/source-balancing step that stops a single crawl host
    from dominating a training mix.

    Scale shape: one shuffle on ``source`` + a rank-filter window.
    Source cardinality is modest, so a heavy-hitter source makes one
    hot window partition; the mitigation at 100 TB is a two-phase cap:
    per-source counts first (map-side combinable), then an approximate
    per-source n_chars threshold via percentile so only near-boundary
    rows enter the exact window. That refinement changes no results,
    so the single-window form is the reference semantics here.
    """
    d = load(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    return (
        d.withColumn("src_rank", F.row_number().over(w))
        .filter(F.col("src_rank") <= 15)
        .select("doc_id", "source", "src_rank")
    )


@register(
    "sample_kfold_assignment",
    oracle="""
    WITH tagged AS (
        SELECT doc_id, lang,
               ('0x' || substr(md5('fold:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                 % 5 AS fold
        FROM documents
    )
    SELECT fold, lang, COUNT(*) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc,
           CAST(MAX(doc_id) AS BIGINT) AS max_doc
    FROM tagged
    GROUP BY 1, 2
    """,
)
def sample_kfold_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-fold cross-validation assignment (k=5): fold id
    from a salted content-free key hash, so folds are disjoint, stable
    across engines/cluster sizes, and independent of the train/val/
    test split hash (different salt ⇒ uncorrelated buckets — reusing
    the split hash would make fold 0 a subset of 'train' and leak the
    holdout design).

    Scale shape: fold assignment is a pure per-row projection (no
    shuffle, no rand()); only the tiny (fold, lang) audit rollup
    shuffles. Selecting fold i's train/eval sides downstream is a
    filter, never a re-shuffle.
    """
    d = load(spark, sf_dir, "documents")
    fold = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("fold:"), F.col("doc_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 5
    )
    return (
        d.select(fold.alias("fold"), "lang", "doc_id")
        .groupBy("fold", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
    )


# Boilerplate chunk removal (C4/RefinedWeb line-dedup adapted to
# word-chunk units — the driver's synthetic documents carry no
# newlines, so the "line" is a fixed window of _BP_W consecutive
# normalized tokens). A chunk is boilerplate when the identical chunk
# text occurs in >= _BP_MIN_DOCS distinct documents corpus-wide.
_BP_W = 4
_BP_MIN_DOCS = 2


@register(
    "text_boilerplate_chunks",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS arr
        FROM documents
    ), chunks AS (
        SELECT doc_id, len(arr) AS n_tokens,
               array_to_string(arr[((i - 1) * {_BP_W} + 1):((i - 1) * {_BP_W} + {_BP_W})], ' ') AS chunk
        FROM toks, unnest(generate_series(1, len(arr) // {_BP_W})) AS t(i)
    ), boiler AS (
        SELECT chunk FROM chunks
        GROUP BY chunk HAVING COUNT(DISTINCT doc_id) >= {_BP_MIN_DOCS}
    ), flagged AS (
        SELECT c.doc_id, c.n_tokens,
               CASE WHEN b.chunk IS NULL THEN 0 ELSE 1 END AS is_b
        FROM chunks c LEFT JOIN boiler b USING (chunk)
    )
    SELECT doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           COUNT(*) AS n_chunks,
           CAST(SUM(is_b) AS BIGINT) AS boiler_chunks,
           CAST(n_tokens - {_BP_W} * SUM(is_b) AS BIGINT) AS kept_tokens
    FROM flagged
    GROUP BY doc_id, n_tokens
    """,
)
def text_boilerplate_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-based boilerplate removal (the C4 "drop any line that
    occurs >= k times in the corpus" rule, with fixed 4-token chunks
    standing in for lines — this corpus has no newlines): flag every
    chunk whose exact text appears in >= 2 distinct documents and
    report, per document, how many chunks survive and the cleaned
    token budget.

    Scale shape: chunking is a pure per-row ``transform`` over the
    token array (no explode until the chunk level, so the exploded
    relation is |tokens|/W rows, not |tokens|). The corpus-wide
    frequency pass and the join back are both keyed on
    ``xxhash64(chunk)`` — an 8-byte shuffle key instead of the chunk
    string, the same fingerprint trick ``dedup_exact`` uses (string
    equality and 64-bit-hash equality diverge only on a hash
    collision). Distinct-doc counting is a two-level aggregate; the
    final per-doc rollup is |docs| rows.

    Single-scan (r15): the chunk frame is lazily localCheckpoint'ed at
    its reuse point, so the scan + regex tokenize + chunk explode runs
    ONCE and both branches (frequency + probe) read the materialized
    (doc_id, n_tokens, ck) blocks — 24 B/row, the narrowest possible
    reuse frame thanks to the 8-byte ck fingerprint. The producer
    still executes inside the caller's action because no exchange sits
    below the checkpoint; the caller's ``materialize.scope()`` releases
    the blocks. Measured at sf0.1: 0.794 → 0.688 s (interleaved A/B,
    identical rows at sf0.001 and sf0.1). The r8-r14 two-scan shape
    was itself a deliberate trade against a dense_rank window over
    ``partitionBy(ck)`` — still
    rejected, unchanged rationale: boilerplate keys are BY DEFINITION
    the hottest keys in the corpus, a window puts a mega-frequent
    chunk's every occurrence into one partition, while the aggregate
    keeps map-side partial combining and AQE picks broadcast-vs-merge
    for the join-back at runtime."""
    d = load(spark, sf_dir, "documents")
    # materialize the token array in its own projection: referencing
    # `toks` through a column (not the raw expression) keeps Catalyst
    # from inlining the regex split into EVERY lambda slice below —
    # measured 5.5x on the chunking stage at sf0.1
    # selectExpr strings (r15): identical analyzed expressions to the
    # replaced Column chains (normalized executed-plan diff verified),
    # fewer py4j round trips in the driver contract's timed
    # construction region.
    pretok = d.selectExpr(
        "doc_id",
        r"split(trim(regexp_replace(lower(text), '\\s+', ' ')), ' ') AS toks",
    )
    n_full = f"CAST(size(toks) / {_BP_W} AS INT)"
    # sequence(0, -1) counts DOWN in Spark, so guard the <W-token doc.
    # Probed and rejected (r8): explode(sequence) + per-row codegen
    # slice instead of this transform() lambda — interleaved A/B at
    # sf0.1 measured 0.67s HOF vs 0.75s explode (chunks are few per
    # doc, and the explode row carries the whole token array per
    # chunk); the zip-slice rewrite that paid off for k-gram shingles
    # does not transfer to stride-W chunking.
    chunk_arr = (
        f"CASE WHEN {n_full} > 0 THEN "
        f"transform(sequence(0, {n_full} - 1), "
        f"i -> array_join(slice(toks, i * {_BP_W} + 1, {_BP_W}), ' ')) "
        "ELSE CAST(array() AS ARRAY<STRING>) END"
    )
    # no exchange below, so this executes inside the caller's timed
    # action, once
    chunks = checkpoint(
        pretok.selectExpr(
            "doc_id",
            "CAST(size(toks) AS LONG) AS n_tokens",
            f"explode({chunk_arr}) AS chunk",
        ).selectExpr("doc_id", "n_tokens", "xxhash64(chunk) AS ck")
    )
    boiler = (
        chunks.groupBy("ck")
        .agg(F.expr("count(DISTINCT doc_id) AS ndocs"))
        .filter(f"ndocs >= {_BP_MIN_DOCS}")
        .selectExpr("ck", "1 AS is_b")
    )
    return (
        chunks.join(boiler, "ck", "left")
        .groupBy("doc_id", "n_tokens")
        .agg(
            F.expr("count(1) AS n_chunks"),
            F.expr("CAST(coalesce(sum(is_b), 0) AS LONG) AS boiler_chunks"),
        )
        .selectExpr(
            "doc_id",
            "n_tokens",
            "n_chunks",
            "boiler_chunks",
            # (boiler_chunks * W): the replaced Column form spelled
            # W * F.col(...), which Python __rmul__ hands back
            # operand-swapped — kept so the plan stays byte-identical
            f"CAST(n_tokens - (boiler_chunks * {_BP_W}) AS LONG)"
            " AS kept_tokens",
        )
    )


@register(
    "text_bigram_surprisal",
    oracle="""
    WITH t AS (
        SELECT doc_id,
               string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS arr
        FROM documents
    ), grams AS (
        SELECT doc_id, arr[i] || ' ' || arr[i+1] AS bg, arr[i] AS w1
        FROM t, unnest(generate_series(1, len(arr) - 1)) AS s(i)
    ), bf AS (
        SELECT bg, COUNT(*) AS cb FROM grams GROUP BY 1
    ), cf AS (
        SELECT w1, COUNT(*) AS cw FROM grams GROUP BY 1
    )
    SELECT doc_id, COUNT(*) AS n_bigrams,
           ROUND(CAST(SUM(CAST(ROUND(-log2(CAST(cb AS DOUBLE) / cw), 6)
                               AS DECIMAL(18,6))) AS DOUBLE)
                 / COUNT(*), 4) AS avg_surprisal
    FROM grams JOIN bf USING (bg) JOIN cf USING (w1)
    GROUP BY doc_id
    """,
)
def text_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model scoring: mean surprisal (-log2 P(w2|w1))
    of each document under the corpus bigram MLE — one level up from
    ``text_unigram_logprob``: a rare-WORD document and a
    shuffled-word-salad document score the same under a unigram LM,
    but only the salad has improbable TRANSITIONS. This is the cheap
    Spark-first stand-in for the KenLM perplexity filters (CCNet
    et al.) used to rank pre-training data — high avg_surprisal =
    disfluent = candidate junk.

    P(w2|w1) = c(w1 w2) / c_left(w1), where the context count is w1's
    occurrences as a bigram LEFT (so probabilities per context sum to
    exactly 1 and every observed bigram has c >= 1 — no smoothing term
    to disagree on). Plan: bigram build is a per-row ``transform`` on
    the pre-materialized token array (the boilerplate-chunks CSE
    lesson), then one explode feeds the bigram and context frequency
    aggregates and the score join-back; the per-doc rollup is |docs|
    rows. At 100 TB with a FIXED reference LM, both frequency passes
    become broadcast lookups; here AQE picks join sides from the
    measured vocabulary size at runtime."""
    # selectExpr strings (r15): identical analyzed expressions to the
    # replaced Column chains, fewer py4j round trips in the driver
    # contract's timed construction region (oracle hash-pinned at
    # sf0.001/sf0.01; the checkpoint hides the producer from plan
    # dumps, so row equality is the gate here)
    d = load(spark, sf_dir, "documents")
    pretok = d.selectExpr(
        "doc_id",
        r"split(trim(regexp_replace(lower(text), '\\s+', ' ')), ' ') AS toks",
    )
    # bigrams by zipping the token array against its own 1-shifted
    # slice (the r8 shingle_rows shape, k=2): ordinary JVM expressions
    # instead of a per-element interpreted transform() lambda; a
    # 1-token doc slices to two empty arrays and yields no rows, same
    # as the replaced when(n >= 2, ...) guard
    m = "size(toks) - 1"
    # r15: grams feeds both the frequency branch and the probe join,
    # so without a reuse point the scan + regex tokenize + explode
    # executes twice. The lazy checkpoint materializes it once inside
    # the caller's action (no exchange sits below it); the blocks are
    # the same occurrence-scale rows the probe join shuffles anyway,
    # so no new scale class of data is stored. Interleaved A/B at
    # sf0.1: ckpt faster in 3/4 warm passes (min 0.99 → 0.96 s),
    # identical rows at sf0.001 and sf0.1.
    grams = checkpoint(
        pretok.selectExpr(
            "doc_id",
            f"explode(arrays_zip(slice(toks, 1, {m}), slice(toks, 2, {m})))"
            " AS _z",
        ).selectExpr("doc_id", "concat_ws(' ', _z.`0`, _z.`1`) AS bg")
    )
    # r8 (VERDICT r7 #4): score each DISTINCT bigram once — log2,
    # round and the decimal cast run |distinct bg| times, built from
    # the vocabulary-sized bf/cf tables — and join occurrences
    # straight to the score on bg, where the join can reuse bf's
    # exchange. The w1 context join leaves the occurrence scale
    # entirely (it was an occurrence-sized shuffle in r7). Two
    # variants were measured and rejected at sf0.1 warm
    # (min-of-3 in one session):
    #   - r7 per-occurrence scoring (grams⋈bf⋈cf): 1.20s — the w1
    #     join rides occurrence rows;
    #   - VERDICT #4's (doc,bg) pre-aggregate + k-weighted decimal:
    #     1.20s — the pre-aggregate adds an occurrence-scale exchange
    #     while map-side partials barely reduce (bigrams are ~unique
    #     within a doc), refuting the "decimal chain is ~50% of the
    #     query" attribution;
    #   - this hybrid: 1.07s, identical rows to both.
    # The per-occurrence decimal SUM stays (partition-invariant by
    # construction; measured not the dominant term).
    bf = grams.groupBy("bg").agg(F.expr("count(1) AS cb"))
    w1 = "substring_index(bg, ' ', 1)"
    cf = bf.groupBy(F.expr(f"{w1} AS w1")).agg(F.expr("sum(cb) AS cw"))
    score = (
        bf.selectExpr("bg", "cb", f"{w1} AS w1")
        .join(cf, "w1")
        .selectExpr(
            "bg",
            "CAST(ROUND(-log2(CAST(cb AS DOUBLE) / cw), 6)"
            " AS DECIMAL(18,6)) AS _surp",
        )
    )
    return (
        grams.join(score, "bg")
        .groupBy("doc_id")
        .agg(
            F.expr("count(1) AS n_bigrams"),
            F.expr(
                "ROUND(CAST(sum(_surp) AS DOUBLE) / count(1), 4)"
                " AS avg_surprisal"
            ),
        )
    )


@register(
    "text_filter_funnel",
    oracle="""
    WITH t AS (
        SELECT doc_id,
               string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')
                   AS toks,
               replace(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ', '')
                   AS chars
        FROM documents
    ), staged AS (
        SELECT CASE
            WHEN len(toks) NOT BETWEEN 5 AND 1000 THEN 1
            WHEN CAST(length(chars) AS DOUBLE) / len(toks)
                 NOT BETWEEN 2 AND 12 THEN 2
            WHEN CAST(len(regexp_extract_all(chars, '[^a-z0-9]')) AS DOUBLE)
                 / GREATEST(length(chars), 1) > 0.2 THEN 3
            WHEN (CASE WHEN list_contains(toks, 'the') THEN 1 ELSE 0 END
                + CASE WHEN list_contains(toks, 'a') THEN 1 ELSE 0 END
                + CASE WHEN list_contains(toks, 'of') THEN 1 ELSE 0 END
                + CASE WHEN list_contains(toks, 'and') THEN 1 ELSE 0 END
                + CASE WHEN list_contains(toks, 'to') THEN 1 ELSE 0 END)
                 < 2 THEN 4
            WHEN CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
                 <= 0.3 THEN 5
            ELSE 0 END AS stage
        FROM t
    ), agg AS (
        SELECT stage, COUNT(*) AS n FROM staged GROUP BY stage
    ), rules(stage, rule) AS (
        VALUES (1, 'length_5_1000'), (2, 'mean_word_len_2_12'),
               (3, 'symbol_ratio_le_0.2'), (4, 'min_2_stopwords'),
               (5, 'distinct_ratio_gt_0.3')
    )
    SELECT r.stage, r.rule,
           CAST(COALESCE(a.n, 0) AS BIGINT) AS n_dropped,
           CAST((SELECT SUM(n) FROM agg)
                - SUM(COALESCE(a.n, 0)) OVER (ORDER BY r.stage)
                AS BIGINT) AS n_remaining
    FROM rules r LEFT JOIN agg a ON a.stage = r.stage
    """,
)
def text_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style quality-filter cascade with per-rule drop
    accounting — the report every pre-training cleaning run produces:
    rules applied in a fixed order, each document charged to the FIRST
    rule it fails, output one row per rule with how many documents it
    dropped and how many survive the cascade so far.

    Rules (deterministic, integer/ratio arithmetic identical in the
    SQL oracle): token count in [5, 1000]; mean word length in
    [2, 12]; non-alphanumeric symbol ratio over non-space chars
    <= 0.2; at least 2 distinct English stopwords present; lexical
    diversity (distinct/total tokens) > 0.3 — the Rae et al. (Gopher)
    repetition-and-quality heuristics, minus the ones needing an LM.

    Scale shape: one scan computes every per-doc predicate as codegen
    column math (no UDFs, no explode — array_contains/size over the
    pre-split token array), the first-fail stage is a single nested
    CASE, and the aggregate is a 6-group map-side-partial count. The
    cumulative "remaining" column is a window over the 6-row
    aggregate; corpus size joins back as a broadcast 1-row aggregate
    (the repo's scalar-subquery law) — driver never sees per-doc
    rows. At 100 TB this is exactly one pass over the corpus."""
    d = load(spark, sf_dir, "documents")
    toks = F.col("toks")
    n = F.size(toks)
    chars = F.col("chars")
    mean_len = F.length(chars).cast("double") / n
    sym_ratio = F.size(
        F.regexp_extract_all(chars, F.lit("[^a-z0-9]"), 0)
    ).cast("double") / F.greatest(F.length(chars), F.lit(1))
    n_stop = sum(
        F.array_contains(toks, w).cast("int") for w in _LANG_WORDS["en"]
    )
    distinct_ratio = F.size(F.array_distinct(toks)).cast("double") / n
    staged = d.select(
        tokenize(F.col("text")).alias("toks"),
        F.regexp_replace(normalize_text(F.col("text")), " ", "").alias(
            "chars"
        ),
    ).select(
        F.when(~n.between(5, 1000), 1)
        .when(~mean_len.between(2, 12), 2)
        .when(sym_ratio > 0.2, 3)
        .when(n_stop < 2, 4)
        .when(distinct_ratio <= 0.3, 5)
        .otherwise(0)
        .alias("stage")
    )
    agg = staged.groupBy("stage").agg(F.count(F.lit(1)).alias("n"))
    rules = spark.createDataFrame(
        [
            (1, "length_5_1000"),
            (2, "mean_word_len_2_12"),
            (3, "symbol_ratio_le_0.2"),
            (4, "min_2_stopwords"),
            (5, "distinct_ratio_gt_0.3"),
        ],
        "stage int, rule string",
    )
    total = agg.agg(F.sum("n").alias("_total"))
    w = Window.orderBy("stage").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        rules.join(agg, "stage", "left")
        .withColumn("n_dropped", F.coalesce(F.col("n"), F.lit(0)))
        .crossJoin(F.broadcast(total))
        .select(
            "stage",
            "rule",
            F.col("n_dropped").cast("long").alias("n_dropped"),
            (F.col("_total") - F.sum("n_dropped").over(w))
            .cast("long")
            .alias("n_remaining"),
        )
    )


@register(
    "dedup_cluster_stats",
    oracle=f"""
    WITH RECURSIVE {_COMPONENTS_ORACLE_BODY},
    sizes AS (
        SELECT component, COUNT(*) AS cluster_size
        FROM labels GROUP BY 1
    )
    SELECT cluster_size, COUNT(*) AS n_clusters,
           CAST(cluster_size * COUNT(*) AS BIGINT) AS n_docs
    FROM sizes GROUP BY 1
    """,
)
def dedup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster size histogram: how many near-dup groups of
    each size the corpus contains, and how many documents they hold —
    the one-page summary a dedup run is judged by (a fat tail of
    large clusters means templated/boilerplate content; the n_docs
    column totals the removable mass). Rides the same exact
    prefix-filtered pair graph + Large-Star/Small-Star closure as
    ``dedup_components``; both added aggregates are |clusters|- then
    |distinct sizes|-bounded, so the histogram costs two tiny
    shuffles on top of the clustering."""
    from mldag_spark.operators.dedup import connected_components

    pairs = dedup_ngram_jaccard(spark, sf_dir)
    labels = connected_components(pairs, "doc_a", "doc_b")
    sizes = labels.groupBy("component").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters"),
        (F.col("cluster_size") * F.count(F.lit(1)))
        .cast("long")
        .alias("n_docs"),
    )


@register(
    "corpus_bigram_coverage",
    oracle="""
    WITH t AS (
        SELECT string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')
                   AS arr
        FROM documents
    ), grams AS (
        SELECT arr[i] || ' ' || arr[i+1] AS bg
        FROM t, unnest(generate_series(1, len(arr) - 1)) AS s(i)
    ), freq AS (
        SELECT bg, COUNT(*) AS n FROM grams GROUP BY 1
    ), top AS (
        SELECT bg, n, ROW_NUMBER() OVER (ORDER BY n DESC, bg) AS rnk
        FROM freq
    )
    SELECT rnk, bg, n,
           ROUND(CAST(SUM(n) OVER (ORDER BY rnk) AS DOUBLE)
                 / (SELECT SUM(n) FROM freq), 4) AS cum_share
    FROM top WHERE rnk <= 20
    """,
)
def corpus_bigram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram coverage curve: the 20 most frequent bigrams and the
    cumulative share of all bigram occurrences they account for — the
    boilerplate-concentration diagnostic (a top-20 covering a large
    share means templated text dominates; complements the unigram
    Zipf slope in ``corpus_zipf_slope``).

    Plan: per-row bigram build over the pre-materialized token array
    (the Catalyst-CSE lesson — no token-level explode before the
    bigram level), one map-side-partial frequency aggregate, then the
    top-20 is taken with orderBy+limit (plans as TakeOrderedAndProject
    — per-partition partial top-k, never a global sort of the
    vocabulary); rank and the cumulative sum are windows over the
    20-row result, and the corpus total joins back as a broadcast
    1-row aggregate. Ties break on the bigram string so the curve is
    deterministic for the value-hash gate."""
    d = load(spark, sf_dir, "documents")
    pretok = d.select(tokenize(F.col("text")).alias("toks"))
    toks = F.col("toks")
    n = F.size(toks)
    # zip-slice bigrams (the shingle_rows shape, k=2) — codegen, no
    # interpreted transform() lambda; 1-token docs yield no rows
    m = n - 1
    freq = (
        pretok.select(
            F.explode(
                F.arrays_zip(F.slice(toks, 1, m), F.slice(toks, 2, m))
            ).alias("_z")
        )
        .select(F.concat_ws(" ", F.col("_z.0"), F.col("_z.1")).alias("bg"))
        .groupBy("bg")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    total = freq.agg(F.sum("n").alias("_total"))
    top = freq.orderBy(F.desc("n"), F.asc("bg")).limit(20)
    w_rank = Window.orderBy(F.desc("n"), F.asc("bg"))
    w_cum = w_rank.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        top.crossJoin(F.broadcast(total))
        .select(
            F.row_number().over(w_rank).alias("rnk"),
            "bg",
            "n",
            F.round(
                F.sum("n").over(w_cum).cast("double") / F.col("_total"), 4
            ).alias("cum_share"),
        )
    )


# ---------------------------------------------------------------------------
# substring-level dedup: maximal cross-document repeated token spans
# ---------------------------------------------------------------------------
_SUBSTR_W = 20

_SUBSTR_ORACLE = f"""
    WITH t AS (
        SELECT doc_id,
               string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')
                   AS toks
        FROM documents
    ), wins AS (
        SELECT doc_id, CAST(i AS INT) AS pos,
               array_to_string(toks[i:i+{_SUBSTR_W - 1}], ' ') AS win
        FROM t, LATERAL unnest(range(1, len(toks) - {_SUBSTR_W} + 2)) AS u(i)
        WHERE len(toks) >= {_SUBSTR_W}
    ), dup AS (
        SELECT win FROM wins GROUP BY win HAVING COUNT(DISTINCT doc_id) >= 2
    ), marked AS (
        SELECT w.doc_id, w.pos FROM wins w JOIN dup d USING (win)
    ), runs AS (
        SELECT doc_id, pos,
               pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos)
                   AS grp
        FROM marked
    )
    SELECT doc_id,
           CAST(MIN(pos) AS INT) AS span_start,
           CAST(MAX(pos) + {_SUBSTR_W - 1} AS INT) AS span_end,
           CAST(MAX(pos) + {_SUBSTR_W - 1} - MIN(pos) + 1 AS INT)
               AS span_tokens,
           COUNT(*) AS n_windows
    FROM runs GROUP BY doc_id, grp"""


@register("dedup_substring_spans", oracle=_SUBSTR_ORACLE)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level dedup (VERDICT r10 #8): maximal token spans
    repeated verbatim ACROSS distinct documents — the Lee et al. 2022
    "Deduplicating Training Data..." pass that document-level
    exact/fuzzy/semantic dedup cannot see (a license block pasted into
    a thousand otherwise-unique files never trips a document
    fingerprint). Suffix arrays don't distribute; the Spark-honest
    shape is fixed-length rolling windows + aggregate-only span
    merging (``operators.dedup.substring_spans``): window build is
    map-only, duplication is one groupBy(window), the join-back is
    window-keyed and linear, and span merging shuffles one row per
    marked position with a per-document (bounded) sort. W=20 tokens
    sized to this corpus's 10-99-token documents; production W=50 on
    the same code path."""
    d = load(spark, sf_dir, "documents")
    from mldag_spark.operators.dedup import substring_spans

    pre = d.select("doc_id", tokenize(F.col("text")).alias("toks"))
    return substring_spans(pre, "doc_id", "toks", window=_SUBSTR_W)


_SPAN_REMOVE_ORACLE = f"""
    WITH t AS (
        SELECT doc_id,
               string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')
                   AS toks
        FROM documents
    ), wins AS (
        SELECT doc_id, CAST(i AS INT) AS pos,
               array_to_string(toks[i:i+{_SUBSTR_W - 1}], ' ') AS win
        FROM t, LATERAL unnest(range(1, len(toks) - {_SUBSTR_W} + 2)) AS u(i)
        WHERE len(toks) >= {_SUBSTR_W}
    ), dup AS (
        SELECT win FROM wins GROUP BY win HAVING COUNT(DISTINCT doc_id) >= 2
    ), marked AS (
        SELECT w.doc_id, w.pos FROM wins w JOIN dup d USING (win)
    ), runs AS (
        SELECT doc_id, pos,
               pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos)
                   AS grp
        FROM marked
    ), spans AS (
        SELECT doc_id, MIN(pos) AS s, MAX(pos) + {_SUBSTR_W - 1} AS e
        FROM runs GROUP BY doc_id, grp
    ), pos AS (
        SELECT doc_id, CAST(i AS INT) AS pos, toks[i] AS tok
        FROM t, LATERAL unnest(range(1, len(toks) + 1)) AS u(i)
    ), kept AS (
        SELECT p.doc_id, p.pos, p.tok FROM pos p
        WHERE NOT EXISTS (
            SELECT 1 FROM spans s
            WHERE s.doc_id = p.doc_id AND p.pos BETWEEN s.s AND s.e
        )
    ), rebuilt AS (
        SELECT doc_id, COUNT(*) AS n_kept,
               string_agg(tok, ' ' ORDER BY pos) AS clean_text
        FROM kept GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(len(t.toks) AS INT) AS n_tokens,
           CAST(len(t.toks) - COALESCE(r.n_kept, 0) AS INT) AS n_removed,
           COALESCE(r.clean_text, '') AS clean_text
    FROM t LEFT JOIN rebuilt r USING (doc_id)"""


@register("text_remove_duplicate_spans", oracle=_SPAN_REMOVE_ORACLE)
def text_remove_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REMOVAL half of substring-level dedup (r12): Lee et al.
    2022 cut the repeated passages out of the training corpus —
    detection alone cleans nothing. ``operators.dedup.remove_spans``
    drops every token position covered by a detected span and
    rebuilds the cleaned text in order; the gate verifies the cleaned
    TEXT byte-for-byte per document (the PII-scrub lesson: scrubbed
    output, not just counts), including all-covered docs emitting
    (n_kept=0, ''). Scale shape: map-only posexplode, one doc-keyed
    anti join (merge-hinted — span side is a garbage-estimate
    post-aggregate), and a rebuild groupBy that reuses the join's
    partitioning."""
    d = load(spark, sf_dir, "documents")
    from mldag_spark.operators.dedup import remove_spans, substring_spans

    pre = d.select("doc_id", tokenize(F.col("text")).alias("toks"))
    spans = substring_spans(pre, "doc_id", "toks", window=_SUBSTR_W)
    return remove_spans(pre, spans, "doc_id", "toks").select(
        "doc_id",
        F.col("n_tokens").cast("int").alias("n_tokens"),
        F.col("n_removed").cast("int").alias("n_removed"),
        "clean_text",
    )


# ---------------------------------------------------------------------------
# Repetition filters (Gopher/MassiveText rules, token-n-gram form)
# ---------------------------------------------------------------------------
_REP_ORACLE = """
    WITH t AS (
        SELECT doc_id,
               string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')
                   AS toks
        FROM documents
    ), base AS (
        SELECT doc_id, len(toks) AS n FROM t
    ), g2 AS (
        SELECT doc_id, CAST(i AS INT) AS pos,
               array_to_string(toks[i:i+1], ' ') AS g
        FROM t, LATERAL unnest(range(1, len(toks))) AS u(i)
        WHERE len(toks) >= 2
    ), c2 AS (
        SELECT doc_id, g, COUNT(*) AS c FROM g2 GROUP BY doc_id, g
    ), top AS (
        SELECT doc_id, g AS top_gram, c AS top2_count FROM (
            SELECT doc_id, g, c,
                   ROW_NUMBER() OVER (
                       PARTITION BY doc_id ORDER BY c DESC, g
                   ) AS rn
            FROM c2
        ) WHERE rn = 1
    ), tcov AS (
        SELECT g2.doc_id, COUNT(DISTINCT v.p) AS cov
        FROM g2
        JOIN top ON g2.doc_id = top.doc_id AND g2.g = top.top_gram,
        LATERAL unnest([g2.pos, g2.pos + 1]) AS v(p)
        GROUP BY g2.doc_id
    ), g5 AS (
        SELECT doc_id, CAST(i AS INT) AS pos,
               array_to_string(toks[i:i+4], ' ') AS g
        FROM t, LATERAL unnest(range(1, len(toks) - 3)) AS u(i)
        WHERE len(toks) >= 5
    ), c5dup AS (
        SELECT doc_id, g FROM (
            SELECT doc_id, g, COUNT(*) AS c FROM g5 GROUP BY doc_id, g
        ) WHERE c >= 2
    ), cov5 AS (
        SELECT g5.doc_id, COUNT(DISTINCT v.p) AS cov
        FROM g5 JOIN c5dup USING (doc_id, g),
        LATERAL unnest(range(g5.pos, g5.pos + 5)) AS v(p)
        GROUP BY g5.doc_id
    )
    SELECT b.doc_id,
           CAST(b.n AS INT) AS n_tokens,
           t.top_gram,
           CAST(COALESCE(t.top2_count, 0) AS BIGINT) AS top2_count,
           CAST((2 * COALESCE(tc.cov, 0) * 10000 + b.n) // (2 * b.n)
                AS DOUBLE) / 10000 AS top2_frac,
           CAST((2 * COALESCE(c5.cov, 0) * 10000 + b.n) // (2 * b.n)
                AS DOUBLE) / 10000 AS dup5_frac
    FROM base b
    LEFT JOIN top t USING (doc_id)
    LEFT JOIN tcov tc USING (doc_id)
    LEFT JOIN cov5 c5 USING (doc_id)"""


def _gram_rows(pre: DataFrame, k: int) -> DataFrame:
    """(doc_id, pos, g) — k-gram rows WITH 1-based positions (the
    zip-slice map-only shape plus posexplode)."""
    toks = F.col("toks")
    m = F.size(toks) - (k - 1)
    zipped = F.arrays_zip(*[F.slice(toks, i + 1, m) for i in range(k)])
    return (
        pre.filter(F.size(toks) >= k)
        .select("doc_id", F.posexplode(zipped).alias("_p0", "_z"))
        .select(
            "doc_id",
            (F.col("_p0") + 1).alias("pos"),
            F.concat_ws(" ", *[F.col(f"_z.{i}") for i in range(k)]).alias("g"),
        )
    )


@register("text_ngram_coverage_stats", oracle=_REP_ORACLE)
def text_ngram_coverage_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/MassiveText repetition filters (Rae et al. 2021, table
    A1) in their COVERAGE form — the complement of the count-ratio
    signals ``text_repetition_stats`` already publishes: per
    document, the fraction of token
    positions covered by (a) occurrences of the single most frequent
    2-gram and (b) all 5-grams that repeat within the document.
    High values = boilerplate/degenerate repetition — the published
    pre-training quality rule family alongside length/stopword
    heuristics (``text_quality_score``).

    Coverage semantics, not count semantics: overlapping occurrences
    count each token position ONCE (``a a a`` has 2-gram "a a" twice
    but covers 3 positions, not 4) — matching the paper's "fraction
    of characters contained within" definition at token granularity.
    Argmax tie-break is the lexicographically smallest gram, pinned
    identically in both engines. Fractions are rounded half-up at 4dp
    in exact int64 ((2·cov·10⁴+n) DIV 2n — the ADVICE r10 #2
    discipline, applied from day one).

    Plan shape: gram build is the map-only zip-slice pipeline with
    positions; counts shuffle on (doc_id, gram); the argmax window
    partitions by doc_id (bounded by per-doc distinct grams, never
    corpus size); coverage re-joins gram rows on (doc_id, gram) —
    equi, linear — and distinct-counts positions per doc. Every stage
    is linear in token count."""
    d = load(spark, sf_dir, "documents")
    pre = d.select("doc_id", tokenize(F.col("text")).alias("toks"))
    base = pre.select("doc_id", F.size("toks").alias("n"))

    g2 = _gram_rows(pre, 2)
    c2 = g2.groupBy("doc_id", "g").agg(F.count(F.lit(1)).alias("c"))
    rn = F.row_number().over(
        Window.partitionBy("doc_id").orderBy(F.desc("c"), F.asc("g"))
    )
    top = (
        c2.withColumn("rn", rn)
        .filter(F.col("rn") == 1)
        .select(
            "doc_id", F.col("g").alias("top_gram"),
            F.col("c").alias("top2_count"),
        )
    )
    # coverage = interval-union length of the width-k windows at the
    # marked start positions. Computed with ONE lead() window per doc
    # (successive starts p1 < p2 overlap iff p2 - p1 < k, so each
    # non-last start contributes min(k, next-pos) and the last
    # contributes k) — mathematically identical to the oracle's
    # explode-positions + COUNT DISTINCT, but with no ×k row
    # explosion and no corpus-wide distinct shuffle (the first
    # formulation measured 2.6× the wall of this one at sf3.0)
    def interval_cov(occ: DataFrame, k: int, out: str) -> DataFrame:
        w = Window.partitionBy("doc_id").orderBy("pos")
        nxt = F.lead("pos").over(w)
        contrib = F.when(nxt.isNull(), F.lit(k)).otherwise(
            F.least(F.lit(k), nxt - F.col("pos"))
        )
        return (
            occ.select("doc_id", contrib.alias("_c"))
            .groupBy("doc_id")
            .agg(F.sum("_c").alias(out))
        )

    topkey = top.select(
        F.col("doc_id").alias("_tdoc"), F.col("top_gram").alias("_tg")
    )
    # merge hints: topkey/dup5 are post-aggregate projections whose
    # size estimates are garbage (the repo-wide law; the substring-
    # spans sf10 run measured the failure mode — a wrongly-broadcast
    # corpus-scaled side OOMs the driver). Sort-merge is spill-safe
    # and both joins are equi-keyed.
    tcov = interval_cov(
        g2.join(
            topkey.hint("merge"),
            (F.col("doc_id") == F.col("_tdoc")) & (F.col("g") == F.col("_tg")),
        ).select("doc_id", "pos"),
        2,
        "cov2",
    )

    g5 = _gram_rows(pre, 5)
    c5 = g5.groupBy("doc_id", "g").agg(F.count(F.lit(1)).alias("c"))
    dup5 = c5.filter(F.col("c") >= 2).select("doc_id", "g")
    cov5 = interval_cov(
        g5.join(dup5.hint("merge"), ["doc_id", "g"]).select("doc_id", "pos"),
        5,
        "cov5",
    )

    frac = lambda cov: (  # noqa: E731  exact int64 half-up at 4dp
        F.expr(f"(2 * COALESCE({cov}, 0) * 10000 + n) DIV (2 * n)")
        .cast("double") / 10000
    )
    return (
        base.join(top, "doc_id", "left")
        .join(tcov, "doc_id", "left")
        .join(cov5, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n").cast("int").alias("n_tokens"),
            "top_gram",
            F.coalesce(F.col("top2_count"), F.lit(0))
            .cast("long").alias("top2_count"),
            frac("cov2").alias("top2_frac"),
            frac("cov5").alias("dup5_frac"),
        )
    )


# ---------------------------------------------------------------------------
# PII scrubbing (pre-training redaction pass)
# ---------------------------------------------------------------------------
# Regex subset chosen to behave identically in Java (Spark) and RE2
# (DuckDB): character classes, bounded quantifiers, alternation — no
# lookaround, no backreferences.
_PII_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}"
_PII_PHONE = "[+][0-9]{1,2}[ ][(][0-9]{3}[)][ ][0-9]{3}-[0-9]{4}"
_PII_IP = "[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}"

_PII_ORACLE = f"""
    WITH aug AS (
        SELECT doc_id,
               text || ' contact user' || doc_id ||
               '@mail.example.com or +1 (555) ' ||
               lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') ||
               '-0199 from 10.' || (doc_id % 256) || '.0.7' AS text
        FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{_PII_EMAIL}')) AS INT)
               AS n_emails,
           CAST(len(regexp_extract_all(text, '{_PII_PHONE}')) AS INT)
               AS n_phones,
           CAST(len(regexp_extract_all(text, '{_PII_IP}')) AS INT)
               AS n_ips,
           regexp_replace(
             regexp_replace(
               regexp_replace(text, '{_PII_EMAIL}', '<EMAIL>', 'g'),
               '{_PII_PHONE}', '<PHONE>', 'g'),
             '{_PII_IP}', '<IP>', 'g') AS clean_text
    FROM aug"""


@register("text_pii_scrub", oracle=_PII_ORACLE)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (the standard pre-training cleanup pass: emails,
    phone numbers, IPv4 addresses → typed placeholder tokens) plus
    per-document redaction counts for the removal audit. All JVM-side
    regexp_replace / regexp_extract_all — map-only, no shuffle, no
    Python; the regex subset (classes, bounded quantifiers, no
    lookaround) is chosen to evaluate identically under Java regex
    (Spark) and RE2 (DuckDB), and the gate verifies the SCRUBBED TEXT
    byte-for-byte, not just the counts.

    The synthetic corpus contains no PII (no '@', no digits), so the
    gate would be vacuous on raw text — the range-join lesson. Both
    engines therefore append identical deterministic PII derived from
    doc_id (an email, a +1 (555) phone, a 10.x.0.7 IP) before
    scrubbing: non-vacuous counts (≥1 of each class per row) and a
    non-trivial replacement on every document."""
    d = load(spark, sf_dir, "documents")
    aug = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"), F.col("doc_id").cast("string"),
            F.lit("@mail.example.com or +1 (555) "),
            F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
            F.lit("-0199 from 10."),
            (F.col("doc_id") % 256).cast("string"), F.lit(".0.7"),
        ).alias("text"),
    )
    n = lambda pat: F.size(  # noqa: E731
        F.regexp_extract_all(F.col("text"), F.lit(pat), F.lit(0))
    )
    clean = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), _PII_EMAIL, "<EMAIL>"),
            _PII_PHONE, "<PHONE>",
        ),
        _PII_IP, "<IP>",
    )
    return aug.select(
        "doc_id",
        n(_PII_EMAIL).alias("n_emails"),
        n(_PII_PHONE).alias("n_phones"),
        n(_PII_IP).alias("n_ips"),
        clean.alias("clean_text"),
    )


# ---------------------------------------------------------------------------
# BPE tokenizer induction (r11): learn the merge table over the corpus
# — the tokenizer-training job of an LLM data pipeline. The iterative
# algorithm is oracle-matched the same way the Lloyd loop is: the
# oracle replays every merge as a generated CTE chain, so Spark and
# DuckDB cannot drift on the argmax pair, the tie-break, or the
# greedy-left-to-right rewrite semantics (both engines' replace() is
# leftmost-non-overlapping on the self-delimiting symbol encoding —
# see operators/tokenizer.py).
# ---------------------------------------------------------------------------

_BPE_N = 6          # gate-sized merge count (production: thousands)
_BPE_TOP = 30       # token-count result bound


def _bpe_oracle_ctes(n_merges: int) -> str:
    """CTE chain replaying BPE learning in DuckDB: w0 = symbolized
    word vocabulary, then per merge i a pair-count CTE (p{i}), the
    argmax-pair CTE (b{i}, tie-break (c DESC, l, r) — identical to
    the Spark orderBy), and the rewrite CTE (w{i+1}, plain replace
    with the same self-delimiting pattern literals)."""
    soh, eot = chr(30), chr(31)
    parts = [f"""
    WITH w0 AS (
        SELECT regexp_replace(w, '(.)', '{soh}\\1{eot}', 'g') AS s, cnt
        FROM (
            SELECT w, COUNT(*) AS cnt
            FROM (
                SELECT unnest(string_split(trim(regexp_replace(
                           lower(text), '\\s+', ' ', 'g')), ' ')) AS w
                FROM documents WHERE text IS NOT NULL
            ) AS toks
            -- mirror word_vocab's delimiter exclusion (r14, ADVICE
            -- r13 #1): words containing SOH/EOT cannot be represented
            -- in the delimited encoding and are excluded on BOTH
            -- engines; such a word still reaches the ENCODE oracle's
            -- corpus side (docw) and counts as OOV there, matching
            -- the Spark LEFT join
            WHERE w <> '' AND NOT contains(w, '{soh}')
              AND NOT contains(w, '{eot}')
            GROUP BY w
        ) AS vocab
    )"""]
    for i in range(n_merges):
        parts.append(f"""
    , p{i} AS (
        SELECT syms[j] AS l, syms[j+1] AS r, SUM(cnt) AS c
        FROM (
            SELECT string_split(substring(s, 2, length(s)-2),
                                '{eot}{soh}') AS syms, cnt
            FROM w{i}
        ) AS e, unnest(generate_series(1, len(syms) - 1)) AS t(j)
        GROUP BY l, r
    ), b{i} AS (
        SELECT l, r, c FROM p{i} ORDER BY c DESC, l, r LIMIT 1
    ), w{i + 1} AS (
        SELECT replace(s, '{soh}' || b.l || '{eot}{soh}' || b.r || '{eot}',
                       '{soh}' || b.l || b.r || '{eot}') AS s, cnt
        FROM w{i}, b{i} AS b
    )""")
    return "".join(parts)


_BPE_MERGES_ORACLE = _bpe_oracle_ctes(_BPE_N) + "\n" + "\nUNION ALL".join(
    f"""
    SELECT CAST({i + 1} AS INT) AS merge_rank, l AS left_sym,
           r AS right_sym, l || r AS merged,
           CAST(c AS BIGINT) AS pair_count
    FROM b{i}"""
    for i in range(_BPE_N)
)

_BPE_TOKENS_ORACLE = _bpe_oracle_ctes(_BPE_N) + f"""
    SELECT tok, CAST(SUM(cnt) AS BIGINT) AS n_occurrences
    FROM (
        SELECT unnest(string_split(substring(s, 2, length(s)-2),
                                   '{chr(31)}{chr(30)}')) AS tok, cnt
        FROM w{_BPE_N}
    ) AS e
    GROUP BY tok
    ORDER BY n_occurrences DESC, tok
    LIMIT {_BPE_TOP}
"""


@register("text_bpe_merges", oracle=_BPE_MERGES_ORACLE)
def text_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge-table learning (Sennrich et al. 2016) — the ordered
    merge rules themselves. Scale shape per operators/tokenizer.py:
    one corpus aggregate to the word vocabulary, then per merge a
    vocab-sized pair count (slice + arrays_zip, pure JVM), ONE 1-row
    argmax collect (the Lloyd bounded-collect law), and a codegen
    literal replace. The oracle replays the identical algorithm as a
    generated CTE chain — argmax, tie-break, and greedy rewrite all
    engine-matched."""
    from mldag_spark.operators.tokenizer import bpe_learn

    docs = load(spark, sf_dir, "documents")
    merges, _enc = bpe_learn(docs, "text", n_merges=_BPE_N)
    return spark.createDataFrame(
        [
            (m.rank, m.left, m.right, m.left + m.right, m.count)
            for m in merges
        ],
        "merge_rank int, left_sym string, right_sym string, "
        "merged string, pair_count long",
    )


@register("text_bpe_token_counts", oracle=_BPE_TOKENS_ORACLE)
def text_bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learned-token occurrence counts after the full merge sequence —
    the DISTRIBUTED check of BPE training: any divergence in any
    merge's rewrite on any word in the vocabulary shows up in these
    totals (far stronger than checking the merge table alone, which a
    vacuously-agreeing pair ordering could satisfy). Top-30 by
    (count desc, token) via TakeOrdered."""
    from mldag_spark.operators.tokenizer import bpe_learn, token_counts

    docs = load(spark, sf_dir, "documents")
    _merges, enc = bpe_learn(docs, "text", n_merges=_BPE_N)
    return token_counts(enc, top_n=_BPE_TOP)


_BPE_ENCODE_ORACLE = _bpe_oracle_ctes(_BPE_N) + f"""
    , vocab_enc AS (
        SELECT replace(replace(s, '{chr(30)}', ''), '{chr(31)}', '') AS w,
               len(string_split(substring(s, 2, length(s)-2),
                                '{chr(31)}{chr(30)}')) AS n_toks
        FROM w{_BPE_N}
    ), docw AS (
        SELECT doc_id,
               unnest(string_split(trim(regexp_replace(
                   lower(text), '\\s+', ' ', 'g')), ' ')) AS w
        FROM documents WHERE text IS NOT NULL
    )
    SELECT d.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(v.n_toks) AS BIGINT) AS n_bpe_tokens,
           CAST(COUNT(*) FILTER (WHERE v.n_toks IS NULL) AS BIGINT)
               AS n_oov
    FROM docw d LEFT JOIN vocab_enc v USING (w)
    WHERE d.w <> ''
    GROUP BY d.doc_id
"""


def bpe_encode_docs_frame(
    docs: DataFrame,
    n_merges: int = 6,
    top_words=None,
) -> DataFrame:
    """Per-document subword counts under a BPE tokenizer trained on
    the same corpus — the composable half of ``text_bpe_encode_docs``
    (exposed so callers can set ``top_words``).

    Join layout (VERDICT r12 #3): when ``top_words`` caps the
    vocabulary the vocab side is MODEL-sized by contract, so it
    broadcasts — the 100 TB corpus side never sorts or shuffles for
    the join (plan-pinned by test). Uncapped, the vocab is
    corpus-derived and unbounded, so the join stays merge-hinted
    (the garbage-estimate law: the vocab sits post-aggregate behind a
    replace chain, where a broadcast mis-estimate would hang the
    build inside broadcastTimeout).

    OOV accounting (ADVICE r12 #4): the corpus joins LEFT so a capped
    vocabulary degrades LOUDLY — every word still counts toward
    ``n_words``, out-of-vocab words are tallied per document in
    ``n_oov``, and ``n_bpe_tokens`` sums only in-vocab words (NULL if
    a document is entirely OOV). The r12 inner join silently dropped
    OOV words from BOTH counts."""
    from mldag_spark.operators.tokenizer import bpe_learn, encoded_word_tokens

    _merges, enc = bpe_learn(
        docs, "text", n_merges=n_merges, top_words=top_words
    )
    vocab_toks = encoded_word_tokens(enc)
    vt = (
        F.broadcast(vocab_toks) if top_words is not None
        else vocab_toks.hint("merge")
    )
    docw = docs.select(
        "doc_id", F.explode(tokenize(F.col("text"))).alias("w")
    ).filter(F.length("w") > 0)
    return (
        docw.join(vt, "w", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_toks").alias("n_bpe_tokens"),
            F.sum(
                F.when(F.col("n_toks").isNull(), F.lit(1)).otherwise(
                    F.lit(0)
                )
            ).alias("n_oov"),
        )
    )


@register("text_bpe_encode_docs", oracle=_BPE_ENCODE_ORACLE)
def text_bpe_encode_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CORPUS-ENCODING half of BPE (r12) — the job that actually
    runs at 100 TB once merges are learned: every document's subword
    token count under the trained tokenizer (the number an LLM
    pipeline budgets, packs, and bills by). Scale shape: encode the
    VOCABULARY once (replace work stays vocab-bounded — the learn
    loop already produced the encoded vocab), recover (word ->
    n_subwords) by stripping the symbol delimiters
    (``encoded_word_tokens``), and the corpus side does ONE equi join
    on the word plus a doc-keyed aggregate — no per-document replace
    chain anywhere. See :func:`bpe_encode_docs_frame` for the join
    layout (broadcast when capped, merge-hinted here) and the r13
    LEFT-join OOV accounting, which the oracle replays (n_oov — all
    zero at the uncapped gate, pinned non-vacuously for capped vocabs
    by test)."""
    docs = load(spark, sf_dir, "documents")
    return bpe_encode_docs_frame(docs, n_merges=_BPE_N)


@register(
    "text_heavy_hitters",
    oracle=r"""
    WITH t AS (
        SELECT unnest(string_split(
            trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '
        )) AS w
        FROM documents
    ), tot AS (
        SELECT COUNT(*) AS n FROM t
    ), c AS (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt FROM t GROUP BY w
    )
    SELECT c.w, c.cnt FROM c, tot WHERE c.cnt * 200 > tot.n
    """,
)
def text_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters over the corpus token stream (r15) — every token
    whose frequency exceeds N/200, with EXACT counts, via the two-pass
    Misra-Gries shape in :mod:`mldag_spark.operators.sketches`:
    per-partition k-counter summaries (Arrow ``mapInPandas``, batch
    counts merged with the Agarwal et al. summary-merge rule) whose
    candidate UNION provably misses no global heavy hitter, then one
    broadcast-semi-filtered exact aggregate over candidates only. The
    scale contract is the map-side bound: the sketch emits <= k rows
    per partition and the exact pass shuffles candidate tokens only —
    the full token domain (billions of keys at corpus scale) never
    shuffles. Output is <= k-1 rows by construction (at most k-1
    elements can each exceed N/k). The DuckDB oracle computes the same
    set the slow way — full groupBy + threshold — so the gate proves
    the sketch path loses nothing."""
    from mldag_spark.operators.sketches import heavy_hitters_exact

    d = load(spark, sf_dir, "documents")
    ex = d.select(
        F.explode(tokenize(F.col("text"))).alias("w")
    )
    return heavy_hitters_exact(ex, "w", 200)
