"""Testdata schema-drift guard.

The driver regenerates /root/testdata between rounds and has already
changed a physical dtype once (events.ts: TIMESTAMP(NANOS) ->
timestamp[us]), which silently collapsed all event time in the
streaming source — green schema, plausible rows, wrong values; no
exception anywhere. These tests pin (a) the canonical engine dtype for
every column of every table as seen THROUGH the loaders, and (b) a
value-level parity check of an event-time aggregate against an
independent pyarrow/pandas recomputation, which is the only kind of
check that catches the silent-collapse failure mode.
"""

from __future__ import annotations

import pandas as pd
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from mldag_spark.queries.tables import TABLES, load

SF_DIR = "/root/testdata/sf0.001"

# Canonical dtypes every consumer of load() may assume. If a driver
# regen changes the physical parquet type, the loader must keep mapping
# it HERE — a diff in this table is an intentional engine change, never
# a side effect of new testdata.
CANONICAL = {
    "region": {
        "r_regionkey": "int",
        "r_name": "string",
    },
    "nation": {
        "n_nationkey": "int",
        "n_name": "string",
        "n_regionkey": "int",
    },
    "customer": {
        "c_custkey": "bigint",
        "c_name": "string",
        "c_nationkey": "int",
        "c_acctbal": "double",
        "c_mktsegment": "string",
    },
    "supplier": {
        "s_suppkey": "bigint",
        "s_name": "string",
        "s_nationkey": "int",
        "s_acctbal": "double",
    },
    "part": {
        "p_partkey": "bigint",
        "p_name": "string",
        "p_brand": "string",
        "p_type": "string",
        "p_size": "int",
        "p_retailprice": "double",
    },
    "orders": {
        "o_orderkey": "bigint",
        "o_custkey": "bigint",
        "o_orderstatus": "string",
        "o_totalprice": "double",
        "o_orderdate": "timestamp_ntz",
        "o_orderpriority": "string",
    },
    "lineitem": {
        "l_orderkey": "bigint",
        "l_partkey": "bigint",
        "l_suppkey": "bigint",
        "l_linenumber": "int",
        "l_quantity": "double",
        "l_extendedprice": "double",
        "l_discount": "double",
        "l_tax": "double",
        "l_returnflag": "string",
        "l_linestatus": "string",
        "l_shipdate": "timestamp_ntz",
    },
    "events": {
        "event_id": "bigint",
        "ts": "timestamp",
        "user_id": "bigint",
        "event_type": "string",
        "value": "double",
        "props": "string",
    },
    "documents": {
        "doc_id": "bigint",
        "text": "string",
        "lang": "string",
        "source": "string",
        "n_chars": "bigint",
    },
    "embeddings": {
        "vec_id": "bigint",
        "embedding": "array<float>",
        "label": "int",
    },
}


@pytest.mark.parametrize("table", TABLES)
def test_loader_maps_every_column_to_canonical_dtype(spark, table):
    got = dict(load(spark, SF_DIR, table).dtypes)
    want = CANONICAL[table]
    assert got == want, (
        f"{table}: loader dtypes drifted.\n  got:  {got}\n  want: {want}\n"
        "If the driver regenerated testdata with new physical types, fix "
        "the LOADER mapping (queries/tables.py), not this table."
    )


def test_streaming_schema_matches_batch(spark):
    """The streaming events source must produce the same schema as the
    batch loader — it declares its schema explicitly (readStream can't
    infer), which is exactly where drift hides."""
    from mldag_spark.streaming import events_stream

    stream = events_stream(spark, SF_DIR)
    assert dict(stream.dtypes) == CANONICAL["events"]


def test_event_time_values_match_pyarrow_recomputation(spark):
    """Value-level guard for the silent-collapse mode: recompute the
    hourly rollup with pyarrow/pandas (no Spark reader, no loader code)
    and require exact group parity. A dtype mishandling that shifts or
    collapses event time changes the number of (hour, type) groups and
    every max(ts); an AnalysisException-style guard can never catch it.
    """
    pdf = pq.read_table(f"{SF_DIR}/events.parquet").to_pandas()
    # independent recomputation: floor to the hour in pandas
    ts = pd.to_datetime(pdf["ts"])
    expected_groups = (
        pd.DataFrame({"hour": ts.dt.floor("h"), "event_type": pdf["event_type"]})
        .groupby(["hour", "event_type"])
        .size()
    )
    expected_max_ts = ts.max().to_pydatetime().replace(tzinfo=None)

    e = load(spark, SF_DIR, "events")
    got = (
        e.groupBy(F.date_trunc("hour", "ts").alias("hour"), "event_type")
        .count()
        .collect()
    )
    assert len(got) == len(expected_groups), (
        f"hourly-rollup group count {len(got)} != pyarrow {len(expected_groups)}"
        " — event time was shifted or collapsed by the loader"
    )
    got_max = e.agg(F.max("ts")).collect()[0][0].replace(tzinfo=None)
    assert got_max == expected_max_ts, (
        f"max(ts) {got_max!r} != pyarrow {expected_max_ts!r}"
    )


def test_streaming_event_time_not_collapsed(spark, tmp_path):
    """Same value-level guard through the STREAMING source (the site
    that actually broke): run the windowed rollup availableNow and
    compare the distinct window count against pyarrow."""
    from mldag_spark.streaming import events_stream, windowed_rollup

    pdf = pq.read_table(f"{SF_DIR}/events.parquet").to_pandas()
    ts = pd.to_datetime(pdf["ts"])
    # append mode emits a window only once the watermark (max event time
    # at 0s delay) passes its END — the final in-progress hour stays in
    # state, so expected = closed windows only.
    groups = (
        pd.DataFrame({"h": ts.dt.floor("h"), "t": pdf["event_type"]})
        .groupby(["h", "t"])
        .size()
        .reset_index()
    )
    expected = int((groups["h"] + pd.Timedelta(hours=1) <= ts.max()).sum())

    out = windowed_rollup(events_stream(spark, SF_DIR), watermark="0 seconds")
    q = (
        out.writeStream.format("memory")
        .queryName("drift_guard_rollup")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    n = spark.sql("select count(*) n from drift_guard_rollup").collect()[0]["n"]
    assert n == expected, (
        f"streaming hourly rollup emitted {n} windows, pyarrow says {expected}"
        " — event time collapsed in the streaming source"
    )


def test_schema_cache_invalidates_on_in_place_part_rewrite(spark, tmp_path):
    """ADVICE r15: for directory-style parquet datasets, rewriting a
    part file in place does not change the directory's own mtime/size,
    so a (dir-stat)-keyed schema cache would serve a stale schema.
    The cache keys directories on the part files' aggregate
    (newest mtime, total size, count) instead — pin that a rewritten
    part re-infers."""
    import os
    import shutil

    from mldag_spark.queries.tables import _read_parquet

    d = str(tmp_path / "ds")
    spark.range(5).selectExpr("id AS a").coalesce(1).write.parquet(d)
    assert _read_parquet(spark, d).schema.fieldNames() == ["a"]

    # rewrite the single part file IN PLACE with a different schema,
    # then restore the directory's own mtime so only the part changed
    dir_stat = os.stat(d)
    part = [f for f in os.listdir(d) if f.endswith(".parquet")][0]
    tmp2 = str(tmp_path / "ds2")
    spark.range(7).selectExpr("id AS b", "id AS c").coalesce(1).write.parquet(
        tmp2
    )
    part2 = [f for f in os.listdir(tmp2) if f.endswith(".parquet")][0]
    shutil.copyfile(os.path.join(tmp2, part2), os.path.join(d, part))
    for f in os.listdir(d):  # a real writer replaces checksums too
        if f.endswith(".crc"):
            os.remove(os.path.join(d, f))
    os.utime(d, (dir_stat.st_atime, dir_stat.st_mtime))

    assert _read_parquet(spark, d).schema.fieldNames() == ["b", "c"]


def test_schema_cache_sees_nested_partition_rewrite(spark, tmp_path):
    """ADVICE r16 #1: in a Hive-partitioned layout the part files sit
    one level down (``col=val/part-*.parquet``), so rewriting one in
    place changes neither the table directory nor its listing. The
    cache key walks every level's part files — pin that ``load`` then
    re-infers and serves the added column."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from mldag_spark.queries.tables import load

    sf = tmp_path / "sf"
    part_dir = sf / "region.parquet" / "k=1"
    part_dir.mkdir(parents=True)
    part = str(part_dir / "part-00000.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), part)
    assert load(spark, str(sf), "region").schema.fieldNames() == ["a", "k"]

    # rewrite the nested part IN PLACE with an extra column, then put
    # back both directories' own mtimes so only the part file changed
    stats = {d: os.stat(d) for d in (sf / "region.parquet", part_dir)}
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), part)
    for d, st in stats.items():
        os.utime(d, (st.st_atime, st.st_mtime))

    df = load(spark, str(sf), "region")
    assert df.schema.fieldNames() == ["a", "b", "k"]
    assert sorted(r["b"] for r in df.collect()) == ["x", "y"]
