"""Connected-components closure: the driver finish and the star rounds
return the same labels, each path leaves storage as the contract says,
and the fuzzy-dedup DAG's closure node stays within its job budget.

Also pins the job count of a lazy ``localCheckpoint`` under the
engine's session confs: with AQE on, the call itself runs every
shuffle and broadcast stage below it.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

import mldag_spark as m
from mldag_spark.operators import dedup
from mldag_spark.operators.dedup import connected_components


@pytest.fixture()
def star_path(monkeypatch):
    """Route every closure through the Large-Star/Small-Star rounds."""
    monkeypatch.setattr(dedup, "_LOCAL_CLOSURE_EDGES", 0)


def _both_paths(monkeypatch, edges):
    """(driver-path labels, star-path labels) of one edge frame."""
    local = connected_components(edges)
    with monkeypatch.context() as mp:
        mp.setattr(dedup, "_LOCAL_CLOSURE_EDGES", 0)
        return local, connected_components(edges)


def _labels(df):
    return {(r["node"], r["component"]) for r in df.collect()}


# small id range so generated edges collide into shared components
ids = st.integers(0, 40)
edge_lists = st.lists(st.tuples(ids, ids), max_size=40)


def _chain(n: int, start: int = 100) -> list[tuple[int, int]]:
    return [(start + i, start + i + 1) for i in range(n)]


@given(
    edges=st.one_of(
        edge_lists,
        # long chains, walked in either direction, plus noise edges
        st.tuples(st.integers(2, 30), st.booleans(), edge_lists).map(
            lambda t: (_chain(t[0]) if t[1]
                       else [(b, a) for a, b in reversed(_chain(t[0]))])
            + t[2]
        ),
    ),
    ddl=st.sampled_from([
        "doc_a bigint, doc_b bigint",
        "doc_a int, doc_b int",
        "doc_a int, doc_b bigint",
    ]),
)
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_driver_path_matches_star_path(spark, monkeypatch, edges, ddl):
    # self-loops, duplicates and reversed copies of the generated edges
    edges = edges + [(a, a) for a, _ in edges[:3]] + [
        (b, a) for a, b in edges[:5]
    ] + edges[:2]
    local, star = _both_paths(monkeypatch, spark.createDataFrame(edges, ddl))
    assert local.schema == star.schema
    assert _labels(local) == _labels(star)


def test_driver_path_empty_edges_keeps_schema(spark, monkeypatch):
    df = spark.createDataFrame([], "doc_a int, doc_b int")
    local, star = _both_paths(monkeypatch, df)
    assert local.schema == star.schema
    assert local.dtypes == [("node", "int"), ("component", "int")]
    assert local.count() == star.count() == 0


def test_driver_path_is_a_local_relation(spark):
    df = spark.createDataFrame(_chain(10), ["doc_a", "doc_b"])
    labels = connected_components(df)
    plan = labels._jdf.queryExecution().optimizedPlan().toString()
    assert plan.startswith("LocalRelation"), plan


def test_driver_path_leaves_no_persistent_rdd(spark):
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    df = spark.createDataFrame(_chain(10, start=0), ["doc_a", "doc_b"])
    out = connected_components(df, "doc_a", "doc_b")
    assert out.count() == 11
    assert jsc.getPersistentRDDs().size() == before


def test_driver_path_fires_one_action_over_the_checkpoint(spark, spark_jobs):
    """A driver-sized graph is measured and fetched by one bounded
    collect of its lazy edge checkpoint: two jobs in all, the first
    the ``distinct`` shuffle stage that the lazy checkpoint call runs
    (test_lazy_local_checkpoint_runs_its_exchanges_at_the_call), the
    second the collect that writes and reads the checkpoint. An eager
    checkpoint, a signature aggregate and a separate collect took
    five."""
    df = spark.createDataFrame(_chain(10, start=0), ["doc_a", "doc_b"])
    with spark_jobs("closure.driver_path") as ids:
        out = connected_components(df, "doc_a", "doc_b")
    assert len(ids) == 2, ids
    assert out.count() == 11


def test_star_path_releases_checkpoint_blocks(spark, star_path):
    """Forced-star twin of
    test_operators.py::test_connected_components_releases_checkpoint_blocks:
    every round's snapshot is freed once the next one materializes, and
    at most the final snapshot backing the result stays persisted."""
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    # a diameter-10 chain forces several Large-Star/Small-Star rounds
    df = spark.createDataFrame(_chain(10, start=0), ["doc_a", "doc_b"])
    out = connected_components(df, "doc_a", "doc_b")
    assert out.count() == 11
    assert jsc.getPersistentRDDs().size() <= before + 1


class _GroupNode(m.MLDagMixin):
    """Runs one named node's transform inside its own job group."""

    def __init__(self, jobs, node: str) -> None:
        self.jobs, self.node, self.ids = jobs, node, []

    def _transform(self, call_next, node, *a, **kw):
        if node.name != self.node:
            return call_next(*a, **kw)
        with self.jobs(f"node.{node.name}") as ids:
            out = call_next(*a, **kw)
        self.ids = ids
        return out


def test_fuzzy_dedup_keep_best_job_budget(spark, spark_jobs, sf_dir):
    """The closure finishes on the driver at this scale, so keep_best
    fires its checkpoint's exchange and one bounded collect instead of
    ~10 star rounds (35 jobs when every round ran on Spark)."""
    from mldag_spark.queries.dag_pipeline import build_fuzzy_dedup_dag

    dag = build_fuzzy_dedup_dag(spark)
    probe = _GroupNode(spark_jobs, "keep_best")
    dag.mixins.append(probe)
    out = dag.transform(sf_dir).outputs["survivors"]
    assert probe.ids, "keep_best ran no Spark job"
    assert len(probe.ids) <= 15, len(probe.ids)
    assert out.count() > 0


def test_lazy_local_checkpoint_runs_its_exchanges_at_the_call(
    spark, spark_jobs
):
    """``localCheckpoint(eager=False)`` is lazy only above its last
    exchange: with AQE on (``recommended_session_confs()``), the call
    executes the plan's shuffle and broadcast stages, and only the
    final stage and the block write wait for the first action."""
    from pyspark.sql import functions as F

    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    facts = spark.range(0, 2000).selectExpr("id % 50 AS k", "id AS v")
    dim = spark.range(0, 50).selectExpr("id AS k", "id * 2 AS w")
    frame = (
        facts.groupBy("k").agg(F.sum("v").alias("s"))
        .join(F.broadcast(dim), "k")
    )
    with spark_jobs("lazy_ckpt.call") as at_call:
        ckpt = frame.localCheckpoint(eager=False)
    with spark_jobs("lazy_ckpt.action") as at_action:
        assert ckpt.count() == 50
    # one job for the groupBy's shuffle stage, one for the broadcast
    assert len(at_call) == 2, at_call
    assert at_action, "the final stage should still run at the action"
