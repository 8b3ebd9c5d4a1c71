"""Continuous oracle coverage for every UNGATED oracle-backed query.

The driver's correctness gate hash-checks only the first 50 entries of
``__spark_entry__.queries()`` at sf0.01; the rest of the registry used
to be verified only by ad-hoc ``scripts/check_oracle.py`` runs, so a
regression in a rotated-out query went uncaught until its next gate
rotation (ADVICE r5). This module closes that hole: every registered
query with an oracle that is NOT in the current gate window is
compared against its DuckDB oracle at sf0.001 on every pytest run —
the same rows/columns/values comparison the driver applies, at the
smallest scale factor so the whole sweep stays cheap.

Gated queries are deliberately excluded: the driver already checks
them at a 10x larger SF each round; re-running them here would only
slow the suite.
"""

from __future__ import annotations

import importlib.util
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
SF_DIR = "/root/testdata/sf0.001"

# reuse the driver-mirror comparison (normalize) from the script
_spec = importlib.util.spec_from_file_location(
    "_check_oracle", REPO / "scripts" / "check_oracle.py"
)
_check_oracle = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(_check_oracle)
normalize = _check_oracle.normalize
TABLES = _check_oracle.TABLES

sys.path.insert(0, str(REPO))
import __spark_entry__ as entrymod  # noqa: E402

_QUERIES = entrymod.queries()
_ORACLES = entrymod.oracle_sql()
_GATED = set(list(_QUERIES)[:50])
UNGATED_WITH_ORACLE = sorted(n for n in _ORACLES if n not in _GATED)


@pytest.fixture(scope="module")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    yield con
    con.close()


@pytest.mark.parametrize("name", UNGATED_WITH_ORACLE)
def test_ungated_query_matches_oracle(name, spark, duck):
    sdf = _QUERIES[name](spark, SF_DIR).toPandas()
    odf = duck.execute(_ORACLES[name]).df()
    assert sorted(sdf.columns) == sorted(odf.columns)
    assert len(sdf) == len(odf)
    a, b = normalize(sdf), normalize(odf)
    assert a == b, f"{name}: first diffs {[p for p in zip(a, b) if p[0] != p[1]][:3]}"


def test_approx_distinct_counts_keeps_null_key_group(spark, tmp_path):
    """The oracle's GROUP BY keeps a NULL-key group; the query's join of
    its exact and sketch halves on that key must keep it too."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    li = pq.read_table(f"{SF_DIR}/lineitem.parquet")
    i = li.schema.get_field_index("l_returnflag")
    flags = li.column(i).to_pylist()
    flags[0] = None
    col = pa.array(flags, li.column(i).type)
    li = li.set_column(i, li.schema.field(i), col)
    pq.write_table(li, tmp_path / "lineitem.parquet")

    name = "agg_approx_distinct_counts"
    sdf = _QUERIES[name](spark, str(tmp_path)).toPandas()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW lineitem AS SELECT * FROM '{tmp_path}/lineitem.parquet'"
    )
    odf = con.execute(_ORACLES[name]).df()
    con.close()
    assert sdf["l_returnflag"].isna().sum() == 1
    assert len(sdf) == len(odf) == len(set(flags))
    assert normalize(sdf) == normalize(odf)
