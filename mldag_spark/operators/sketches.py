"""Frequency sketches: distributed heavy hitters.

:func:`heavy_hitters_exact` finds every element whose global frequency
exceeds ``N/k`` (N = total element rows) with EXACT counts, in the
standard two-pass shape a 100 TB corpus needs:

1. **Candidate pass — per-partition Misra-Gries summaries** (Arrow
   ``mapInPandas``, at most ``k`` counters each, batch counts merged
   with the summary-merge rule of Agarwal et al.: add counts, then
   subtract the (k+1)-th largest from all and drop non-positive).
   Soundness of the UNION of per-partition candidates: if
   ``freq(x) > N/k`` globally then ``freq_p(x) > N_p/k`` in at least
   one partition p (otherwise summing the per-partition bounds gives
   ``freq(x) <= N/k``), and within that partition the merged-MG error
   bound (``estimate >= true - N_p/k``) keeps x's counter positive —
   so x is a candidate. No false negatives; false positives are fine
   (pass 2 removes them).
2. **Exact pass** — one broadcast LEFT SEMI of the element rows
   against the candidate set (map-side filter: the shuffle carries
   candidate elements only, <= k·partitions distinct keys), exact
   groupBy counts, filter ``count·k > N``.

Why not a plain groupBy-count over everything: correctness-equal, but
the full-domain aggregate shuffles EVERY distinct element (a token
domain at corpus scale is billions of keys); the sketch bounds the
map output at ``k`` rows per partition and the exact pass's shuffle at
the candidate set. Why not ``count_min``: CM gives approximate counts
and needs a second exact pass anyway for exact output; MG candidates
are strictly smaller state for the same no-false-negative guarantee.

All three evaluations of the element lineage (candidates, total,
exact counts) sit in ONE job as plan branches (two broadcast builds +
the probe scan), so the scheduler overlaps them — the packer A/B
lesson (PARITY.md "r15 work") applied from the start.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def _mg_merge(counters: dict, add: dict, k: int) -> dict:
    """Merge a batch's exact counts into a Misra-Gries summary of at
    most ``k`` counters (Agarwal et al. summary merge: add, then
    subtract the (k+1)-th largest count and drop non-positive —
    preserves the MG bound ``estimate >= true - N_seen/k``)."""
    for e, c in add.items():
        counters[e] = counters.get(e, 0) + c
    if len(counters) > k:
        vals = sorted(counters.values(), reverse=True)
        cut = vals[k]
        counters = {e: c - cut for e, c in counters.items() if c > cut}
    return counters


def misra_gries_candidates(
    rows: DataFrame, elem_col: str, k: int
) -> DataFrame:
    """DISTINCT candidate elements from per-partition Misra-Gries
    summaries — a SUPERSET of every element with global frequency
    > N/k (see module docstring), at most ``k`` rows per input
    partition before the distinct."""
    if k <= 0:
        raise ValueError("k must be positive")

    def kernel(batches):
        import pandas as pd

        counters: dict = {}
        for pdf in batches:
            # vectorized per-batch exact counts, then one dict merge
            # per distinct element (not per row)
            vc = pdf[elem_col].value_counts()
            counters = _mg_merge(
                counters, {e: int(c) for e, c in vc.items()}, k
            )
        yield pd.DataFrame({elem_col: list(counters.keys())})

    # output schema mirrors the input element type (the first cut
    # hardcoded string — any numeric elem_col died in Arrow
    # conversion; code-review r15 late-2 #3); nulls are excluded
    # HERE and from N in heavy_hitters_exact, consistently
    dt = dict(rows.dtypes)[elem_col]
    return (
        rows.select(elem_col)
        .filter(F.col(elem_col).isNotNull())
        .mapInPandas(kernel, f"{elem_col} {dt}")
        .distinct()
    )


def heavy_hitters_exact(
    rows: DataFrame, elem_col: str, k: int
) -> DataFrame:
    """(elem, cnt) for every NON-NULL element with exact global count
    ``cnt * k > N`` — by construction at most k-1 rows, broadcast-safe
    everywhere downstream. Null elements are excluded from BOTH the
    candidate set and N (a null candidate cannot match an equi
    semi-join, and counting nulls in N while never emitting them
    would silently break the groupBy-equality contract — code-review
    r15 late-2 #4). Fully lazy: candidates, the total, and the exact
    counts are plan branches of one job."""
    nn = rows.filter(F.col(elem_col).isNotNull())
    cand = misra_gries_candidates(rows, elem_col, k)
    total = nn.select(
        F.count(F.lit(1)).cast("long").alias("_n")
    )
    counts = (
        nn.join(F.broadcast(cand), elem_col, "left_semi")
        .groupBy(elem_col)
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    return (
        counts.crossJoin(F.broadcast(total))
        .filter(F.col("cnt") * k > F.col("_n"))
        .drop("_n")
    )
