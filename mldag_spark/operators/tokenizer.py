"""BPE tokenizer induction (byte-pair-encoding merge learning).

The one tokenizer-side training job an LLM data pipeline runs over the
corpus itself: learn the merge table that defines the subword
vocabulary (Sennrich et al. 2016, "Neural Machine Translation of Rare
Words with Subword Units"). The scale shape is the textbook one —

1. ONE corpus-sized aggregate to the (word, count) vocabulary (the
   only pass whose cost is corpus-linear; distinct words are sublinear
   in corpus size, and ``top_words`` caps the tail exactly the way
   production trainers do);
2. per merge: a map-only adjacent-pair expansion over the VOCAB (not
   the corpus), one (l, r)-key shuffle with map-side partial sums, and
   a 1-row collect of the argmax pair — the same bounded-collect law
   as the Lloyd loop in ``queries/vectors.py`` (<= k rows per round);
3. the rewrite is a literal JVM ``replace`` (whole-stage codegen, no
   Python) appended to the symbolization chain over the persisted
   vocabulary; every ``CHECKPOINT_EVERY`` merges the encoded vocab is
   materialized and the chain reset, so plan depth and per-merge cost
   stay bounded at production merge counts (measured to 1,024 merges
   — SCALING.json ``bpe_merge_axis``).

Symbol strings are self-delimiting: every symbol is rendered as
``\\x1e<sym>\\x1f`` (record-separator / unit-separator control chars,
which never appear in normalized corpus words). The merge of pair
(l, r) is then the plain string replacement

    \\x1e l \\x1f \\x1e r \\x1f   ->   \\x1e lr \\x1f

whose leftmost-non-overlapping semantics (identical in Java's
``String.replace``, DuckDB's ``replace`` and Python's ``str.replace``)
is EXACTLY the greedy left-to-right merge of textbook BPE — including
runs: ``a a a a a`` merges to ``aa aa a``, never ``aa a aa``. The
start+end markers make cross-symbol false matches impossible (a
symbol can neither match a suffix of its left neighbour nor a prefix
of its right one), which a bare-separator encoding gets wrong.

Tie-break when several pairs share the top count: lexicographically
smallest (l, r) — deterministic and engine-identical (symbols are
ASCII from normalized words, so binary and default collations agree).
"""

from __future__ import annotations

from typing import TYPE_CHECKING, NamedTuple, Optional

from pyspark.sql import DataFrame, functions as F

from mldag_spark.functions import tokenize
from mldag_spark.materialize import (
    cache, checkpoint, collect_bounded, release,
)

if TYPE_CHECKING:
    import pyarrow as pa

# Start-of-symbol / end-of-symbol markers. normalize_text only
# collapses WHITESPACE (ADVICE r13 #1 — the old comment overstated),
# so corpus words could in principle contain other ASCII control
# characters; any character except these two delimiters round-trips
# the delimited encoding faithfully (split/replace/ordering all agree
# with the raw form — UTF-8 byte order equals code-point order). A
# word CONTAINING the delimiters themselves would silently corrupt
# the encoding, so :func:`word_vocab` excludes such words on every
# path (training, routing, and the encode join all build on it) —
# the corpus precondition, enforced rather than assumed.
SOH = "\x1e"
EOT = "\x1f"


class Merge(NamedTuple):
    rank: int          # 1-based merge order
    left: str
    right: str
    count: int         # pair count at the time of the merge


def word_vocab(
    docs: DataFrame, text_col: str = "text",
    top_words: Optional[int] = None,
) -> DataFrame:
    """(w, cnt) word-frequency vocabulary — the single corpus-sized
    aggregate of BPE training. ``top_words`` keeps only the most
    frequent words ((cnt desc, w) order, a bounded TakeOrdered): the
    standard production cap — rare-word tails contribute almost no
    pair mass but dominate vocabulary cardinality at 100 TB.

    Words containing the symbol delimiters (SOH/EOT, 0x1E/0x1F) are
    EXCLUDED here — they cannot be represented in the delimited
    encoding, and every BPE path (trainer routing, both merge loops,
    the encode join) builds on this aggregate, so the exclusion is
    uniform by construction (ADVICE r13 #1)."""
    words = docs.select(
        F.explode(tokenize(F.col(text_col))).alias("w")
    ).filter(
        (F.length("w") > 0) & ~F.col("w").contains(SOH)
        & ~F.col("w").contains(EOT)
    )
    vocab = words.groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
    if top_words is not None:
        vocab = vocab.orderBy(F.col("cnt").desc(), "w").limit(top_words)
    return vocab


def symbolize(vocab: DataFrame) -> DataFrame:
    """(s, cnt): each word rendered as its delimited character-symbol
    string (``\\x1ec\\x1f`` per char) — one JVM regexp_replace."""
    return vocab.select(
        F.regexp_replace(F.col("w"), "(.)", SOH + "$1" + EOT).alias("s"),
        "cnt",
    )


def _pair_counts(enc: DataFrame) -> DataFrame:
    """(l, r, c): adjacent-symbol pair counts weighted by word count.
    Pure JVM — slice + arrays_zip + explode (no interpreted
    higher-order lambdas: the k-means k-scan lesson), one (l, r)-key
    shuffle with map-side partial aggregation."""
    syms = F.split(
        F.expr("substring(s, 2, length(s)-2)"), EOT + SOH
    ).alias("syms")
    return (
        enc.select("cnt", syms)
        .filter(F.size("syms") >= 2)
        .select(
            "cnt",
            F.expr("slice(syms, 1, size(syms)-1)").alias("ls"),
            F.expr("slice(syms, 2, size(syms)-1)").alias("rs"),
        )
        .select("cnt", F.explode(F.arrays_zip("ls", "rs")).alias("z"))
        .select(
            F.col("z.ls").alias("l"), F.col("z.rs").alias("r"), "cnt"
        )
        .groupBy("l", "r")
        .agg(F.sum("cnt").alias("c"))
    )


def merge_pattern(left: str, right: str) -> tuple[str, str]:
    """(search, replacement) literals realizing the merge of (l, r)
    on the delimited representation."""
    return (
        SOH + left + EOT + SOH + right + EOT,
        SOH + left + right + EOT,
    )


# Materialize the encoded vocabulary and reset the replace chain
# every this-many merges. Without batching, merge i evaluates i
# nested ``replace`` expressions (O(n²) total vocab passes) and the
# final plan is an n_merges-deep expression tree — at production
# merge counts (tens of thousands) Catalyst analysis/codegen becomes
# the bottleneck long before data does. With batching, plan depth is
# <= CHECKPOINT_EVERY at all times and total vocab work is O(n·K):
# per-merge cost stays flat as the merge count grows (measured to
# 1,024 merges on the sf0.1 vocabulary — SCALING.json
# `bpe_merge_axis`).
CHECKPOINT_EVERY = 64


# Vocabularies of at most this many words train on the driver: one
# collect of the cached vocabulary, then the in-memory merge loop. The
# cap bounds driver memory (the bounded-collect law,
# ``materialize.collect_bounded``); a larger vocabulary takes the
# distributed merge loop instead of a driver OOM. Production tokenizer
# vocabs are ~10^5 words (top_words-capped by the same
# sample-bounded-training contract the quantizers follow), far under
# this.
_LOCAL_VOCAB_CAP = 1 << 20


def _local_merge_loop(
    words: list[list[str]], counts: list[int], n_merges: int
) -> list[Merge]:
    """Driver-side BPE merge loop over an in-memory vocabulary —
    BIT-IDENTICAL to the distributed argmax/replace loop (pinned by
    test at n_merges >= 64) but paying zero Spark job latency per
    merge. Incremental statistics in the Sennrich reference-
    implementation shape: a pair -> count table, a pair -> word index
    so each merge touches only the words that CONTAIN the pair, and a
    lazy-invalidation heap ordered (count desc, l, r) — the exact
    (c DESC, l, r) argmax/tie-break of the distributed path (symbols
    are ASCII, so Python's and Spark's orderings agree). The rewrite
    is the same greedy leftmost-non-overlapping scan ``F.replace``
    performs on the delimited encoding. Amortized cost per merge is
    O(touched words · their length + log #pairs) instead of a
    vocab-sized Spark job."""
    import heapq
    from collections import Counter, defaultdict

    stats: Counter = Counter()
    indices: defaultdict = defaultdict(Counter)
    for wi, (syms, cnt) in enumerate(zip(words, counts)):
        for pair in zip(syms, syms[1:]):
            stats[pair] += cnt
            indices[pair][wi] += 1
    heap = [(-c, l, r) for (l, r), c in stats.items()]
    heapq.heapify(heap)
    merges: list[Merge] = []
    for rank in range(1, n_merges + 1):
        # pop stale entries (count changed since push) until the top
        # of the heap matches the live table — classic lazy deletion
        while heap:
            negc, l, r = heap[0]
            cur = stats.get((l, r), 0)
            if cur == -negc and cur > 0:
                break
            heapq.heappop(heap)
            if cur > 0:
                heapq.heappush(heap, (-cur, l, r))
        if not heap:
            break  # vocabulary fully merged — matches the empty-top break
        negc, l, r = heapq.heappop(heap)
        merges.append(Merge(rank, l, r, -negc))
        pair = (l, r)
        new_sym = l + r
        touched: set = set()
        for wi in list(indices[pair]):
            syms = words[wi]
            cnt = counts[wi]
            # decrement postings in lockstep with the pair counts so
            # posting lists hold exactly the words that CONTAIN each
            # pair — without this, stale (pair -> word) entries
            # accumulate for the whole run and late merges rescan
            # long-gone words (code-review r13 finding #4)
            for p in zip(syms, syms[1:]):
                stats[p] -= cnt
                ic = indices[p]
                ic[wi] -= 1
                if ic[wi] <= 0:
                    del ic[wi]
            out: list[str] = []
            i, n = 0, len(syms)
            while i < n:  # greedy leftmost non-overlapping == replace
                if i + 1 < n and syms[i] == l and syms[i + 1] == r:
                    out.append(new_sym)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            words[wi] = out
            for p in zip(out, out[1:]):
                stats[p] += cnt
                indices[p][wi] += 1
                touched.add(p)
        indices.pop(pair, None)
        stats.pop(pair, None)
        for p in touched:
            c2 = stats.get(p, 0)
            if c2 > 0:
                heapq.heappush(heap, (-c2, p[0], p[1]))
    return merges


def _bpe_learn_local(
    spark, vocab: "pa.Table", n_merges: int
) -> tuple[list[Merge], DataFrame]:
    """Local trainer over the collected (w, cnt) vocabulary: the
    in-memory merge loop, with the encoded vocabulary returned as a
    local DataFrame in the same (s, cnt) delimited shape the
    distributed loop produces."""
    words = [list(w) for w in vocab.column("w").to_pylist()]
    counts = [int(c) for c in vocab.column("cnt").to_pylist()]
    merges = _local_merge_loop(words, counts, n_merges)
    enc_rows = [
        ("".join(SOH + s + EOT for s in syms), cnt)
        for syms, cnt in zip(words, counts)
    ]
    return merges, spark.createDataFrame(enc_rows, "s string, cnt long")


def bpe_learn(
    docs: DataFrame,
    text_col: str = "text",
    n_merges: int = 6,
    top_words: Optional[int] = None,
) -> tuple[list[Merge], DataFrame]:
    """Learn ``n_merges`` BPE merges over the corpus; returns the
    ordered merge table and the final encoded vocabulary (s, cnt)
    with every merge applied.

    The (w, cnt) vocabulary is built once (the corpus-sized aggregate,
    distributed) and cached; one bounded collect of it
    (``materialize.collect_bounded``) both measures it and, when it
    has at most ``_LOCAL_VOCAB_CAP`` words, fetches it. The path
    follows the measured size (r13, VERDICT r12 #1):

    - fits: the merge loop runs driver-side with incremental pair
      statistics (:func:`_local_merge_loop`): ~10k merges run in
      SECONDS (SCALING.json ``bpe_local_trainer``). A
      ``top_words``-capped vocabulary (the sample-bounded-training
      contract the PQ/IVF quantizers follow) fits whenever
      ``top_words`` is at most the cap.
    - too large: the distributed loop. Each learned merge is a
      vocab-sized pair-count job, a 1-row argmax collect and one
      literal JVM ``replace`` appended to the expression chain; every
      ``CHECKPOINT_EVERY`` merges the encoded vocabulary is
      snapshotted by an eager checkpoint (a lineage cut; each snapshot
      releases the one it supersedes, so the working set is one
      vocab-sized snapshot) and the chain restarts at depth 0.
      Per-merge cost is vocab-bounded AND merge-count-invariant
      (measured flat to 1,024 merges — SCALING.json
      ``bpe_merge_axis``), but it is ~0.9 s of Spark JOB LATENCY per
      merge, so 32k merges cost ~8 h of scheduler overhead.

    Merges AND the returned encoded vocabulary are bit-identical on
    either path (pinned by test at n_merges >= 64, across a lineage
    cut), so routing never changes answers."""
    if n_merges < 0:
        raise ValueError("n_merges must be >= 0")
    # everything after cache(vocab) runs under ONE try/finally that
    # releases it, so a raise anywhere below cannot leak the cached
    # vocabulary across the ~150-query registry (ADVICE r14 #4)
    vocab = cache(word_vocab(docs, text_col, top_words))
    try:
        table = collect_bounded(vocab, _LOCAL_VOCAB_CAP)
        if table is not None:
            return _bpe_learn_local(docs.sparkSession, table, n_merges)
        base = cache(symbolize(vocab))
        merges: list[Merge] = []
        enc = base
        snap: Optional[DataFrame] = None
        chain_depth = 0
        try:
            for i in range(n_merges):
                top = (
                    _pair_counts(enc)
                    .orderBy(F.col("c").desc(), "l", "r")
                    .limit(1)
                    .collect()
                )
                if not top:
                    break  # vocabulary fully merged — nothing to pair
                l, r, c = top[0]["l"], top[0]["r"], int(top[0]["c"])
                merges.append(Merge(i + 1, l, r, c))
                pat, rep = merge_pattern(l, r)
                enc = enc.withColumn(
                    "s", F.replace(F.col("s"), F.lit(pat), F.lit(rep))
                )
                chain_depth += 1
                if chain_depth >= CHECKPOINT_EVERY:
                    enc = checkpoint(enc, eager=True)
                    if snap is not None:
                        release(snap)
                    snap, chain_depth = enc, 0
        finally:
            # no cache leaks across the ~150-query registry: the
            # returned frame recomputes its (cheap, vocab-sized)
            # lineage lazily if a consumer materializes it after the
            # loop
            release(base)
        return merges, enc
    finally:
        release(vocab)


def token_counts(enc: DataFrame, top_n: Optional[int] = None) -> DataFrame:
    """(tok, n_occurrences): learned-token occurrence counts over the
    encoded vocabulary — the distributed check that every merge was
    applied identically on every word. One explode + one token-key
    shuffle; ``top_n`` bounds the result via TakeOrdered on
    (n desc, tok)."""
    syms = F.split(
        F.expr("substring(s, 2, length(s)-2)"), EOT + SOH
    ).alias("tok")
    out = (
        enc.select(F.explode(syms).alias("tok"), "cnt")
        .groupBy("tok")
        .agg(F.sum("cnt").alias("n_occurrences"))
    )
    if top_n is not None:
        out = out.orderBy(F.col("n_occurrences").desc(), "tok").limit(top_n)
    return out


def bpe_apply(enc: DataFrame, merges) -> DataFrame:
    """Apply an ORDERED merge table to a symbolized vocabulary — the
    production path: merges are learned once (or loaded from the
    published parquet artifact, <= n_merges rows by construction,
    collected once) and applied as the same codegen literal-replace
    chain ``bpe_learn`` builds — with the same ``CHECKPOINT_EVERY``
    chain batching, so plan depth stays bounded at production merge
    counts — making artifact-driven encoding bit-identical to
    learn-time encoding. Accepts the ``text_bpe_merges`` DataFrame
    shape (merge_rank, left_sym, right_sym) or a list of
    :class:`Merge`."""
    if isinstance(merges, DataFrame):
        rows = merges.orderBy("merge_rank").collect()
        pairs = [(r["left_sym"], r["right_sym"]) for r in rows]
    else:
        pairs = [(m.left, m.right) for m in merges]
    snap: Optional[DataFrame] = None
    chain_depth = 0
    for left, right in pairs:
        pat, rep = merge_pattern(left, right)
        enc = enc.withColumn(
            "s", F.replace(F.col("s"), F.lit(pat), F.lit(rep))
        )
        chain_depth += 1
        if chain_depth >= CHECKPOINT_EVERY:
            enc = checkpoint(enc, eager=True)
            if snap is not None:
                release(snap)
            snap, chain_depth = enc, 0
    return enc


def encoded_word_tokens(enc: DataFrame) -> DataFrame:
    """(w, n_toks) from an encoded vocabulary: the word recovered by
    stripping the symbol delimiters, the token count by splitting on
    them — the lookup table the corpus-encoding pass joins against
    (encode the VOCABULARY once, join the corpus by word: the
    production layout that keeps replace work vocab-bounded while the
    100 TB side does only an equi join)."""
    return enc.select(
        F.regexp_replace(F.col("s"), f"[{SOH}{EOT}]", "").alias("w"),
        F.size(
            F.split(F.expr("substring(s, 2, length(s)-2)"), EOT + SOH)
        ).alias("n_toks"),
    )
