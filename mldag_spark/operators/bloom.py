"""Broadcast Bloom-filter membership — the no-shuffle side channel
for anti-join-shaped ops (decontamination, blocklists, seen-before
checks).

The exact decontamination pass (`queries/text.py
text_decontaminate_filter`) is an inverted-index equality join: every
TRAIN shingle is shuffled at least once. But the right side of that
join — the benchmark/test corpus — is SMALL by construction, which is
exactly the shape a Bloom filter collapses: build an m-bit filter
over the test shingles once (one bounded pass), broadcast the bitmap
(m/8 bytes rides in a task closure), and the 100 TB train side is
probed MAP-ONLY — no shuffle of corpus shingles at all. The price is
a deterministic, arithmetic-defined false-positive set (extra drops,
never missed contamination — the safe direction for
decontamination).

Spark 4.1 registers ``bloom_filter_agg`` but not ``might_contain``,
and its filter binary is engine-private either way — so membership
here is defined by PORTABLE arithmetic both Spark and an ANSI oracle
can replay bit-for-bit (the repo's md5 convention, cf. the split
bucket in `queries/text.py`):

    h1 = int(md5(x)[0:8], 16)        # first 8 hex chars
    h2 = int(md5(x)[8:16], 16)       # next 8 hex chars
    position_i = (h1 + i*h2) % m_bits,   i = 0..k-1   (double hashing)

A value is "contained" iff all k positions are set. DuckDB replays
this as a position-set semi-join, so the gate compares EXACT results
— false positives included — rather than trusting the filter.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Column, functions as F

from mldag_spark.materialize import cache, scope

BLOOM_M_BITS = 1 << 20  # registered-query default: 128 KiB bitmap
BLOOM_K = 4


def _h1h2(col: Column) -> tuple[Column, Column]:
    md = F.md5(col)
    h1 = F.conv(F.substring(md, 1, 8), 16, 10).cast("long")
    h2 = F.conv(F.substring(md, 9, 8), 16, 10).cast("long")
    return h1, h2


def _h3(col: Column) -> Column:
    """Shard-routing hash: md5 chars 17–24 — disjoint from the
    position hashes' chars 1–16, so routing never conditions a
    shard's population on its position bits (bloom_build_sharded)."""
    return F.conv(F.substring(F.md5(col), 17, 8), 16, 10).cast("long")


# Above this many bytes of driver-bound partial bitmaps
# (|partitions| × m/8), bloom_build switches to the distributed
# chunk-keyed tree merge: a production-sized filter (m_bits = 2^30 →
# 128 MiB) over 32 partitions is 4 GiB of partials — exactly the
# collect the bounded-collect law exists to forbid (ADVICE r11 /
# VERDICT r11 #7).
BLOOM_TREE_MERGE_THRESHOLD = 256 << 20
_BLOOM_CHUNK_BYTES = 4 << 20
# Tree-merge fanout: each reduction level ORs at most this many copies
# of a chunk in one task, so per-task memory is <= fanout × chunk
# (128 MiB at the defaults) REGARDLESS of partition count — the r12
# single-level groupBy(ci) merge materialized all ~|partitions| copies
# of a chunk in ONE task, which merely moved the OOM from the driver
# to an executor at high partition counts (ADVICE r12 #1). Levels are
# ceil(log_fanout(|partitions|)): 4096 partitions → 3 shuffles whose
# volume shrinks fanout× per level. Grouping keys on floor(src /
# fanout) — consecutive ranges — so the per-task bound holds even if
# AQE gives the source MORE runtime partitions than the pre-execution
# estimate (ADVICE r13 #3).
_BLOOM_TREE_FANOUT = 32


def bloom_build(
    df: DataFrame,
    col: str,
    m_bits: int = BLOOM_M_BITS,
    k: int = BLOOM_K,
) -> bytes:
    """Build the m-bit filter over ``df[col]`` and return the bitmap.

    One MAP-ONLY pass: position arithmetic is JVM expressions, each
    partition ORs its positions into a local numpy bitmap
    (``np.bitwise_or.at`` — idempotent, so no distinct and therefore
    NO shuffle anywhere in the small-m path). Production sizes
    ``m_bits`` to the small side's cardinality (~16 bits/element
    keeps FPR < 0.5% at k=4).

    Partial-bitmap merge, chosen from |partitions|·m/8, the bytes of
    partials a driver merge would collect:

    - up to ``BLOOM_TREE_MERGE_THRESHOLD`` (read at call time), the
      driver ORs the ≤|partitions| partials (m/8 bytes each). Right
      for registry-sized filters.
    - above it, the tree merge: each partition's kernel emits its
      bitmap as chunk-keyed pieces tagged with the source partition
      id; the copies of each chunk are then OR-reduced through
      ceil(log_fanout(|partitions|)) ``groupBy(chunk, src // fanout)``
      levels, each task touching at most ``_BLOOM_TREE_FANOUT``
      copies (per-task memory <= fanout·chunk bytes, CONSTANT in
      partition count — a real ``treeAggregate``, not a single-level
      gather); the driver collects exactly ONE bitmap's worth of
      chunks (m/8 bytes total). First-level shuffle volume is the
      same |partitions|·m/8 bytes the driver path would collect,
      spread across the cluster, and each further level shrinks it
      fanout×.

    Both paths are bit-identical by construction (OR is associative/
    commutative; pinned by test)."""
    if m_bits % 8:
        raise ValueError("m_bits must be a multiple of 8")
    h1, h2 = _h1h2(F.col(col))
    # NULLs are not members: md5(NULL) is NULL and would reach the
    # kernel as NaN positions (int-cast crash); drop them here, and
    # the probe returns false for NULL symmetrically
    pos = df.filter(F.col(col).isNotNull()).select(
        F.explode(
            F.array(*[(h1 + F.lit(i) * h2) % m_bits for i in range(k)])
        ).alias("p")
    )
    nbytes = m_bits // 8
    # one plan->RDD conversion serves both the routing and the tree
    # reduction width (code-review r13 finding #6)
    n_parts = max(pos.rdd.getNumPartitions(), 1)

    if n_parts * nbytes <= BLOOM_TREE_MERGE_THRESHOLD:
        def kernel(batches):
            bm = np.zeros(nbytes, dtype=np.uint8)
            seen = False
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                p = pdf["p"].to_numpy(dtype=np.int64)
                np.bitwise_or.at(
                    bm, p >> 3,
                    (1 << (p & 7).astype(np.uint8)).astype(np.uint8),
                )
                seen = True
            if seen:
                yield pd.DataFrame({"bm": [bm.tobytes()]})

        out = np.zeros(nbytes, dtype=np.uint8)
        for row in pos.mapInPandas(kernel, "bm binary").collect():
            out |= np.frombuffer(row["bm"], dtype=np.uint8)
        return out.tobytes()

    chunk = _BLOOM_CHUNK_BYTES

    def chunk_kernel(batches):
        bm = np.zeros(nbytes, dtype=np.uint8)
        seen = False
        src = 0
        for pdf in batches:
            if len(pdf) == 0:
                continue
            src = int(pdf["src"].iloc[0])  # constant within a task
            p = pdf["p"].to_numpy(dtype=np.int64)
            np.bitwise_or.at(
                bm, p >> 3,
                (1 << (p & 7).astype(np.uint8)).astype(np.uint8),
            )
            seen = True
        if seen:
            # only chunks with at least one set bit ship — a sparse
            # partition contributes nothing to most of the bitmap
            for ci in range(0, nbytes, chunk):
                piece = bm[ci: ci + chunk]
                if piece.any():
                    yield pd.DataFrame(
                        {"ci": [ci], "src": [src], "bm": [piece.tobytes()]}
                    )

    def or_chunks(key, pdf):
        acc = None
        for b in pdf["bm"]:
            a = np.frombuffer(b, dtype=np.uint8)
            acc = a.copy() if acc is None else (acc | a)
        return pd.DataFrame(
            {"ci": [int(key[0])], "src": [int(key[1])],
             "bm": [acc.tobytes()]}
        )

    partials = pos.withColumn(
        "src", F.spark_partition_id().cast("long")
    ).mapInPandas(chunk_kernel, "ci long, src long, bm binary")
    # OR is associative/commutative, so any reduction tree yields the
    # same bitmap (bit-identity vs the driver merge pinned by test). Each
    # level groups CONSECUTIVE src ranges of size fanout
    # (floor(src / fanout), which also becomes the next level's src),
    # so a task gathers at most fanout copies of a chunk BY
    # CONSTRUCTION — unlike the old `src % width` keying, whose width
    # came from a pre-execution getNumPartitions() that AQE
    # coalescing/skew-splitting can overrun at runtime, silently
    # weakening the memory bound (ADVICE r13 #3). The level count
    # still derives from the pre-execution estimate; if runtime
    # produced MORE partitions than estimated, a few (<= overrun /
    # fanout^levels) rows per chunk survive the reduction — the
    # driver OR below absorbs them, so the bound stays hard and
    # bit-identity is unconditional.
    width = n_parts
    while width > 1:
        width = -(-width // _BLOOM_TREE_FANOUT)  # ceil-div
        partials = (
            partials.withColumn(
                "src",
                F.floor(F.col("src") / _BLOOM_TREE_FANOUT).cast("long"),
            )
            .groupBy("ci", "src")
            .applyInPandas(or_chunks, "ci long, src long, bm binary")
        )
    merged = partials.collect()
    out = np.zeros(nbytes, dtype=np.uint8)
    for row in merged:
        ci = int(row["ci"])
        piece = np.frombuffer(row["bm"], dtype=np.uint8)
        out[ci: ci + len(piece)] |= piece
    return out.tobytes()


def bloom_might_contain(
    bitmap: bytes, m_bits: int = BLOOM_M_BITS, k: int = BLOOM_K
):
    """Column function: ``f(col) -> boolean`` membership probe.

    The bitmap rides in the task closure (broadcast once per
    executor); h1/h2 stay JVM-side and the k bit tests are one
    vectorized numpy pass per Arrow batch — the probe composes
    map-only with any scan."""
    bm = np.frombuffer(bitmap, dtype=np.uint8)
    if len(bm) * 8 != m_bits:
        raise ValueError("bitmap length does not match m_bits")

    @F.pandas_udf("boolean")
    def _probe(h1: pd.Series, h2: pd.Series) -> pd.Series:
        if len(h1) == 0:
            return pd.Series([], dtype="bool")
        # NULL input -> NULL md5 -> NaN here; not a member (mirrors
        # the build side dropping NULLs)
        valid = h1.notna().to_numpy()
        a = h1.fillna(0).to_numpy(dtype=np.int64)
        b = h2.fillna(0).to_numpy(dtype=np.int64)
        ok = valid.copy()
        for i in range(k):
            p = (a + i * b) % m_bits
            ok &= ((bm[p >> 3] >> (p & 7)) & 1).astype(bool)
        return pd.Series(ok)

    def apply(col: Column) -> Column:
        h1, h2 = _h1h2(col)
        return _probe(h1, h2)

    return apply


def bloom_distinct_hits(
    bitmap: "bytes | list[bytes]",
    m_bits: int = BLOOM_M_BITS,
    k: int = BLOOM_K,
):
    """Column function: ``f(array<string>) -> int`` — how many
    DISTINCT elements of the array the filter contains. The PER-ROW
    form of the :func:`bloom_might_contain` + distinct + groupBy-count
    pattern (``queries.text.bloom_survivors``), for plans that cannot
    aggregate twice — a Structured Streaming query whose one stateful
    aggregation is already spent on dedup counts hit shingles per
    document STATELESSLY with this (``stream_pipeline_clean``).
    Hashing is the same md5 double-hash arithmetic the builder and the
    ANSI oracle replay, and it runs JVM-SIDE: the distinct elements'
    (h1, h2) pairs are computed with ``transform`` + the shared
    ``_h1h2`` expressions (interpreted per element, but still the JVM
    md5 kernel — a per-element Python ``hashlib`` loop here measured
    orders slower, code-review r14 #5), and only the ``array<long>``
    hash columns cross to Python, where the k bit tests run as ONE
    flattened numpy pass per Arrow batch — the :func:`bloom_might_contain`
    convention, row-batched.

    Accepts either bloom regime (r15, completing VERDICT r14 #4): a
    single bitmap, or the sharded set :func:`bloom_build_sized`
    returns over the 2^32-bit cap — shard routing adds one more
    JVM-hashed ``_h3`` array and a vectorized per-element shard
    lookup, single-shard call sites pay nothing extra (the routing
    arrays are only built when n_shards > 1)."""
    if isinstance(bitmap, (bytes, bytearray)):
        bitmaps = [bytes(bitmap)]
        if len(bitmaps[0]) * 8 != m_bits:
            raise ValueError("bitmap length does not match m_bits")
    else:
        bitmaps = [bytes(b) for b in bitmap]
        if not bitmaps:
            raise ValueError("bitmaps must be non-empty")
        if len({len(b) for b in bitmaps}) != 1:
            raise ValueError("all shard bitmaps must share one size")
        m_bits = len(bitmaps[0]) * 8
    stack = np.stack([np.frombuffer(b, dtype=np.uint8) for b in bitmaps])
    n_shards = len(bitmaps)

    def _flatten(series_list, lens, total):
        cols = []
        for s in series_list:
            a = np.empty(total, dtype=np.float64)
            pos = 0
            for x, n in zip(s, lens):
                if n:
                    a[pos:pos + n] = np.asarray(x, dtype=np.float64)
                    pos += n
            cols.append(a)
        return cols

    @F.pandas_udf("int")
    def _hits(*hs: pd.Series) -> pd.Series:
        h1s = hs[0]
        lens = np.fromiter(
            (0 if a is None else len(a) for a in h1s),
            dtype=np.int64, count=len(h1s),
        )
        total = int(lens.sum())
        if total == 0:
            return pd.Series(np.zeros(len(h1s), dtype=np.int32))
        # float64 staging: a NULL element hashes to NULL -> NaN here,
        # and is not a member (mirrors bloom_might_contain / the
        # builder dropping NULLs); h-values < 2^32 and k*h2 < 2^35
        # stay exactly representable
        flat = _flatten(hs, lens, total)
        a, b = flat[0], flat[1]
        ok = ~(np.isnan(a) | np.isnan(b))
        aa = np.nan_to_num(a).astype(np.int64)
        bb = np.nan_to_num(b).astype(np.int64)
        if n_shards > 1:
            shard = np.nan_to_num(flat[2]).astype(np.int64) % n_shards
            for i in range(k):
                p = (aa + i * bb) % m_bits
                ok &= ((stack[shard, p >> 3] >> (p & 7)) & 1).astype(bool)
        else:
            bm = stack[0]
            for i in range(k):
                p = (aa + i * bb) % m_bits
                ok &= ((bm[p >> 3] >> (p & 7)) & 1).astype(bool)
        # per-row sum of the flattened membership mask
        csum = np.concatenate(([0], np.cumsum(ok.astype(np.int64))))
        ends = np.cumsum(lens)
        starts = ends - lens
        return pd.Series((csum[ends] - csum[starts]).astype(np.int32))

    def apply(col: Column) -> Column:
        uniq = F.array_distinct(col)
        h1s = F.transform(uniq, lambda s: _h1h2(s)[0])
        h2s = F.transform(uniq, lambda s: _h1h2(s)[1])
        if n_shards > 1:
            h3s = F.transform(uniq, lambda s: _h3(s))
            return _hits(h1s, h2s, h3s)
        return _hits(h1s, h2s)

    return apply


# The double-hash positions are (h1 + i·h2) % m with h1, h2 drawn
# from 32-bit md5 slices: for m > 2^32 the i=0 hash can only reach
# the first 2^32 positions and the others cover skewed sub-ranges —
# the uniformity (and therefore the FPR contract) silently breaks.
# 2^32 bits = 512 MiB supports 2^28 (~268M) elements at 16 bits each;
# beyond that, shard the element space across several filters.
_BLOOM_MAX_M_BITS = 1 << 32


def bloom_sized_m_bits(
    n_elements: int, bits_per_element: int = 16,
    floor_bits: int = BLOOM_M_BITS,
) -> int:
    """PRODUCTION bitmap sizing: the next power of two >=
    ``bits_per_element``·``n_elements`` (16 bits/element keeps FPR
    < 0.5 % at k=4), floored at the registry default. The r14
    pipeline scale probe measured WHY this matters: a fixed 2^20-bit
    filter over the sf10 test split's ~2.2M distinct shingles
    SATURATES — every bit set, every probe a hit, every train doc
    "contaminated", zero survivors. A bloom's false-positive rate is
    a sizing contract, not a constant; callers at scale must size
    from a measured (or bounded) element count.

    Raises above ``_BLOOM_MAX_M_BITS`` (2^32): the md5 double-hash
    positions are 32-bit-derived, so a larger bitmap would be
    NON-UNIFORMLY addressed and the FPR promise silently broken
    (code-review r14 late #1) — at that scale shard the element
    space across ``ceil(need / 2^32)`` filters instead."""
    if n_elements < 0:
        raise ValueError("n_elements must be >= 0")
    need = max(int(n_elements) * int(bits_per_element), int(floor_bits), 8)
    m = 1
    while m < need:
        m <<= 1
    if m > _BLOOM_MAX_M_BITS:
        raise ValueError(
            f"bloom sizing needs {m} bits but the md5 double-hash "
            f"addresses at most {_BLOOM_MAX_M_BITS} uniformly; shard "
            f"the element space across {-(-need // _BLOOM_MAX_M_BITS)} "
            "filters (one bloom per shard, probe all)"
        )
    return m


def bloom_build_sharded(
    df: DataFrame,
    col: str,
    n_elements: int,
    bits_per_element: int = 16,
    k: int = BLOOM_K,
) -> list[bytes]:
    """The >2^32-bit regime :func:`bloom_sized_m_bits` refuses with
    "shard the element space": build ``ceil(16n / 2^32)`` filters,
    each owning the elements whose ``h1 % n_shards`` routes to it, so
    every shard stays inside the md5 double-hash's uniform 2^32-bit
    address range and the per-element FPR contract holds at ANY
    element count. One filtered build pass per shard (production
    persists the element frame once; shards build from the cached
    scan); :func:`bloom_might_contain_sharded` routes probes by the
    same arithmetic, so an element is tested against exactly the
    filter that would have absorbed it.

    Routing hashes md5 chars 17–24 (``_h3``) — a slice DISJOINT from
    the position hashes' chars 1–16: routing by ``h1 % n_shards``
    would condition each shard's population on ``h1``'s residue, and
    whenever gcd(n_shards, m) > 1 the i=0 position ``h1 % m`` could
    then only reach a fraction of the shard's bitmap — the same
    non-uniformity class the 2^32 cap exists to prevent.

    The multi-shard build runs one filtered pass per shard, so the
    element frame is persisted INTERNALLY for the loop and released
    before returning (ADVICE r14 #3) — callers no longer pay
    ``n_shards`` re-scans of a 100 TB source, and no caching contract
    leaks into the signature."""
    if n_elements < 1:
        raise ValueError("n_elements must be >= 1")
    need = int(n_elements) * int(bits_per_element)
    n_shards = max(1, -(-need // _BLOOM_MAX_M_BITS))
    per_shard_m = bloom_sized_m_bits(
        -(-int(n_elements) // n_shards), bits_per_element
    )
    h3 = _h3(F.col(col))
    if n_shards == 1:
        return [bloom_build(df, col, m_bits=per_shard_m, k=k)]
    from pyspark import StorageLevel

    # DISK_ONLY: the frame is scanned once per shard and never
    # random-accessed — buying heap with an over-2^32-element frame
    # is all cost (the connected_components checkpoint rationale)
    with scope():
        df = cache(df, StorageLevel.DISK_ONLY)
        return [
            bloom_build(
                df.filter((h3 % n_shards) == s), col,
                m_bits=per_shard_m, k=k,
            )
            for s in range(n_shards)
        ]


def bloom_build_sized(
    df: DataFrame,
    col: str,
    n_elements: int | None = None,
    bits_per_element: int = 16,
    k: int = BLOOM_K,
    floor_bits: int = BLOOM_M_BITS,
) -> list[bytes]:
    """The production entry point (r15, VERDICT r14 #4): size from
    the element count and route to ONE filter or the sharded set —
    never an advice-bearing ValueError. Callers that used to call
    :func:`bloom_sized_m_bits` + :func:`bloom_build` by hand (and
    got a raise at >2^28 elements telling them to shard manually)
    call this instead; probe the result with :func:`bloom_probe`.

    ``n_elements=None`` measures the count with ONE
    ``approx_count_distinct`` pass (map-side partial, no shuffle of
    the elements) padded by 10 %: the sizer rounds up to the next
    power of two anyway, so a ±5 % HLL estimate moves the effective
    bits/element between ~15 and 32 — the FPR contract holds on
    either side of the rounding boundary. Duplicate-bearing frames
    are fine: sizing wants the DISTINCT count (duplicates set the
    same bits), which is exactly what the sketch estimates.

    Returns ``list[bytes]`` in both regimes (length 1 under the 2^32
    cap) so the probe path is uniform."""
    if n_elements is None:
        row = df.filter(F.col(col).isNotNull()).agg(
            F.approx_count_distinct(col).alias("n")
        ).collect()[0]
        n_elements = max(1, int(row["n"] * 1.1))
    need = max(
        int(n_elements) * int(bits_per_element), int(floor_bits), 8
    )
    if need <= _BLOOM_MAX_M_BITS:
        m = bloom_sized_m_bits(
            n_elements, bits_per_element, floor_bits=floor_bits
        )
        return [bloom_build(df, col, m_bits=m, k=k)]
    return bloom_build_sharded(
        df, col, n_elements, bits_per_element=bits_per_element, k=k
    )


def bloom_probe(bitmaps: "bytes | list[bytes]", k: int = BLOOM_K):
    """Column-function probe for either bloom regime: a single bitmap
    (or 1-element list) gets the plain two-hash
    :func:`bloom_might_contain`; a sharded set routes through
    :func:`bloom_might_contain_sharded`. Membership arithmetic is
    identical either way — routing only picks WHICH bitmap absorbs
    an element, never where its bits land."""
    if isinstance(bitmaps, (bytes, bytearray)):
        return bloom_might_contain(bytes(bitmaps), m_bits=len(bitmaps) * 8, k=k)
    if len(bitmaps) == 1:
        return bloom_might_contain(
            bitmaps[0], m_bits=len(bitmaps[0]) * 8, k=k
        )
    return bloom_might_contain_sharded(list(bitmaps), k=k)


def bloom_might_contain_sharded(
    bitmaps: list[bytes], k: int = BLOOM_K
):
    """Column function: membership probe against a sharded filter set
    (:func:`bloom_build_sharded`) — route by the dedicated ``_h3``
    slice, test the routed shard with the standard double-hash
    arithmetic. All shard bitmaps ride the closure (total bytes =
    16n/8 regardless of shard count)."""
    if not bitmaps:
        raise ValueError("bitmaps must be non-empty")
    mb = [np.frombuffer(b, dtype=np.uint8) for b in bitmaps]
    sizes = {len(b) for b in mb}
    if len(sizes) != 1:
        raise ValueError("all shard bitmaps must share one size")
    m_bits = len(mb[0]) * 8
    n_shards = len(mb)
    stack = np.stack(mb)  # (n_shards, nbytes)

    @F.pandas_udf("boolean")
    def _probe(
        h1: pd.Series, h2: pd.Series, h3: pd.Series
    ) -> pd.Series:
        if len(h1) == 0:
            return pd.Series([], dtype="bool")
        valid = h1.notna().to_numpy()
        a = h1.fillna(0).to_numpy(dtype=np.int64)
        b = h2.fillna(0).to_numpy(dtype=np.int64)
        shard = (h3.fillna(0).to_numpy(dtype=np.int64) % n_shards)
        ok = valid.copy()
        for i in range(k):
            p = (a + i * b) % m_bits
            byte = stack[shard, p >> 3]
            ok &= ((byte >> (p & 7)) & 1).astype(bool)
        return pd.Series(ok)

    def apply(col: Column) -> Column:
        h1, h2 = _h1h2(col)
        return _probe(h1, h2, _h3(col))

    return apply
