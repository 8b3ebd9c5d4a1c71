"""``mldag_spark.materialize``: what ``scope()`` collects survives the
block's actions and is released on exit, also after an explicit
``release``; with no scope open nothing is registered, so a frame
outlives any unrelated scope. ``collect_bounded`` returns a frame's
rows up to its cap and nothing past it."""

from __future__ import annotations

from pyspark.sql import functions as F

from mldag_spark.materialize import (
    cache, checkpoint, collect_bounded, release, scope,
)


def _frame(spark):
    return spark.range(200).withColumn("k", F.col("id") % 7)


def test_scope_keeps_frames_through_actions_and_frees_them_on_exit(
    spark, persistent_rdds
):
    before = persistent_rdds()
    with scope():
        # a shuffle below the checkpoint: the lazy call runs it, the
        # blocks are written by the first action
        ck = checkpoint(_frame(spark).groupBy("k").count())
        c = cache(_frame(spark))
        for _ in range(2):
            assert ck.count() == 7
            assert c.filter("k = 0").count() == 29
        assert len(persistent_rdds() - before) == 2
        # an explicit release inside the scope; the exit frees it again
        release(c)
        assert len(persistent_rdds() - before) == 1
    assert persistent_rdds() <= before


def test_no_scope_registers_nothing(spark, persistent_rdds):
    before = persistent_rdds()
    ck = checkpoint(_frame(spark), eager=True)
    c = cache(_frame(spark))
    assert c.count() == 200
    mine = persistent_rdds() - before
    assert len(mine) == 2
    with scope():
        assert checkpoint(_frame(spark), eager=True).count() == 200
    assert mine <= persistent_rdds()
    assert ck.agg(F.sum("id")).first()[0] == c.agg(F.sum("id")).first()[0]
    release(ck)
    release(c)
    assert persistent_rdds() <= before



def test_collect_bounded_returns_rows_at_the_cap_and_none_past_it(spark):
    df = _frame(spark)
    table = collect_bounded(df, 200)
    assert table.num_rows == 200
    assert table.column_names == ["id", "k"]
    assert sorted(table.column("id").to_pylist()) == list(range(200))
    assert collect_bounded(df, 199) is None
    assert collect_bounded(df.limit(0), 0).num_rows == 0
