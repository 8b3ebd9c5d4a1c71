"""``mldag_spark.materialize``: what ``scope()`` collects survives the
block's actions and is released on exit, also after an explicit
``release``; with no scope open nothing is registered, so a frame
outlives any unrelated scope."""

from __future__ import annotations

from pyspark.sql import functions as F

from mldag_spark.materialize import cache, checkpoint, release, scope


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

