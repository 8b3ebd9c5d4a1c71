"""Table access for the TPC-H-ish test schema.

Scale notes (the 100 TB design stance):

- Reads go through ``spark.read.parquet`` so Catalyst gets predicate
  pushdown, column pruning and partition pruning for free — every
  query should show ``PushedFilters``/narrow ``ReadSchema`` in its
  physical plan.
- ``DIM_TABLES`` are the broadcast-join side: at any scale factor
  ``region``(5)/``nation``(25) are tiny and ``supplier``/``part``/
  ``customer`` stay orders of magnitude below the fact tables, so
  joins against them should be broadcast, never shuffled. ``dim()``
  wraps them in ``F.broadcast`` hints.
- Fact tables (``lineitem``, ``orders``, ``events``) are left to AQE:
  with ``spark.sql.adaptive.enabled`` the shuffle partition count and
  skew splitting adapt at runtime.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

# Small enough to broadcast at every realistic scale factor; customer
# is borderline at very large SF — callers join it via ``dim()`` only
# when the probe side is a fact table.
DIM_TABLES = {"region", "nation", "supplier", "part", "customer"}

# Schema cache (metadata only, never data): each schema-INFERRING
# ``spark.read.parquet`` pays a footer read + parse at DataFrame-
# construction time, ~55 ms per call warm on this host — and the
# headline bench constructs ~38 scans per pass, all over the same
# static tables. Production reads resolve schemas from a catalog
# (metastore/Iceberg manifest) and never pay per-query inference;
# this cache is the path-table analog. Keyed on (absolute path,
# mtime, size) so a rewritten input invalidates; stores only the
# StructType — the scan itself still reads the parquet bytes on
# every execution.
_SCHEMA_CACHE: dict[tuple, object] = {}


def stat_key(path: str) -> tuple:
    """Freshness key of a parquet dataset: (absolute path, mtime, size)
    for a file; for a directory-style dataset (the normal Spark write
    layout) the part files' aggregate (newest mtime, total size,
    count), since an in-place part-file rewrite does not touch the
    directory's own mtime/size. The walk descends into Hive-partitioned
    ``col=val/`` levels; hidden and ``_``-prefixed entries (markers
    such as ``_SUCCESS``, checksums) are skipped at every level.
    Raises OSError when the path cannot be stat'ed."""
    st = os.stat(path)
    if not os.path.isdir(path):
        return (os.path.abspath(path), st.st_mtime, st.st_size)
    parts = []
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
        parts.extend(
            os.stat(os.path.join(root, f))
            for f in files
            if not f.startswith((".", "_"))
        )
    return (
        os.path.abspath(path),
        max((p.st_mtime for p in parts), default=st.st_mtime),
        sum(p.st_size for p in parts),
        len(parts),
    )


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    try:
        key = stat_key(path)
    except OSError:
        # unstatable (e.g. non-local FS): fall back to plain inference
        return spark.read.parquet(path)
    sch = _SCHEMA_CACHE.get(key)
    if sch is None:
        df = spark.read.parquet(path)
        _SCHEMA_CACHE[key] = df.schema
        return df
    return spark.read.schema(sch).parquet(path)


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; available: {TABLES}")
    if name == "events":
        # events.ts has shipped as both parquet TIMESTAMP(NANOS) (read as
        # raw int64 nanos via the legacy flag, since the vectorized reader
        # rejects nanos) and TIMESTAMP(MICROS)/NTZ. Dispatch on the dtype
        # the reader actually produces — assuming one of them silently
        # corrupts the other (a DIV 1000 on microseconds collapses all
        # event time to ~1970).
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = _read_parquet(spark, f"{sf_dir}/{name}.parquet")
        ts_type = df.schema["ts"].dataType.typeName()
        if ts_type in ("long", "integer"):
            # raw nanos → truncate to Spark's microsecond timestamps.
            # `DIV` keeps the arithmetic in int64 — float division would
            # lose precision above 2^53.
            return df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
        # timestamp / timestamp_ntz → normalize to TimestampType so every
        # downstream consumer (and the oracle schema hash) sees one dtype.
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return _read_parquet(spark, f"{sf_dir}/{name}.parquet")


def dim(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """A dimension table with a broadcast-join hint attached."""
    return F.broadcast(load(spark, sf_dir, name))


# Exact-summation guards live with the other reusable column helpers;
# re-exported here because every query module already imports tables.
from mldag_spark.functions import davg, davg_sql, dsum, dsum_sql  # noqa: E402,F401
