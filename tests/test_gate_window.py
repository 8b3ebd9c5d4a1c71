"""Pins the driver-contract gate window.

The driver's correctness gate checks only the FIRST 50 entries of
``__spark_entry__.queries()`` (dict insertion order). These tests pin
that the window is representative: every operator category and
LLM-pipeline component has at least one entry inside it, and no
rows-only (oracle-less) query burns a gated slot. Each gated query,
run inside ``materialize.scope()``, leaves nothing persisted.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from mldag_spark.materialize import scope

GATE_N = 50


def _window():
    return list(entrymod.queries())[:GATE_N]


def test_registry_order_is_gate_order_prefix():
    names = list(entrymod.queries())
    assert names[: len(entrymod._GATE_ORDER)] == entrymod._GATE_ORDER
    assert len(names) == len(set(names))


def test_every_gated_query_has_an_oracle():
    oracles = entrymod.oracle_sql()
    missing = [n for n in _window() if n not in oracles]
    assert missing == [], f"rows-only queries inside gate window: {missing}"


def test_gate_window_covers_all_categories():
    window = _window()

    def any_with(prefix_or_names):
        if isinstance(prefix_or_names, str):
            return any(n.startswith(prefix_or_names) for n in window)
        return any(n in window for n in prefix_or_names)

    # SURVEY §2.3 categories + LLM-pipeline components
    assert any_with("dag_")           # DAG engine fit/transform
    assert any_with("text_")          # text analysis
    assert any_with("dedup_")         # deduplication (exact + LSH + CC)
    assert "dedup_minhash_lsh" in window
    assert "dedup_components" in window
    assert any_with("ann_")           # similarity search
    assert any_with("stream_")        # structured streaming
    assert any_with("multimodal_")    # multimodal columns
    assert "sample_deterministic_split" in window
    assert any_with("join_")          # joins incl. range
    assert "join_range_parts_in_price_band" in window
    # salted-skew coverage (r9: join_salted_nation_volume banked after
    # multi-round green; the salted AGGREGATE keeps the skew category
    # in-window)
    assert "agg_salted_returnflag_totals" in window
    assert any_with("window_")        # window functions
    assert any_with("agg_")           # aggregations
    assert any_with("setop_")         # set operations
    assert any_with(["sort_top15_orders"])  # sort/limit
    assert any_with(["scalar_expressions"])  # projection/scalar fns
    # r10: events_grouped_zscore banked after nine green gated rounds;
    # the events category is carried by the seven entries below and the
    # real-codec audio decode joined the multimodal block
    assert "multimodal_audio_decode" in window
    # scalar/event-series breadth (r9: events_json_extract banked after
    # eight green gated rounds; the three r9-rotated event-series
    # queries carry the events category)
    assert any_with([
        "events_anomaly_mad", "events_ewma_value", "events_gapfill_hourly",
    ])


@pytest.mark.parametrize("name", _window())
def test_gated_query_leaves_nothing_persisted(
    name, spark, sf_dir, persistent_rdds
):
    before = persistent_rdds()
    with scope():
        df = entrymod.queries()[name](spark, sf_dir)
        df.write.mode("overwrite").format("noop").save()
    assert persistent_rdds() <= before, f"{name} left persisted RDDs"


def test_all_registered_queries_still_reachable():
    from mldag_spark.queries import REGISTRY

    assert set(entrymod.queries()) == set(REGISTRY)


def test_entry_smoke(spark):
    """The driver's first check: entry(spark) runs the flagship query
    through the DAG engine and returns a materializable DataFrame with
    a stable schema."""
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 1
    assert df.columns[0] == "l_returnflag"
