"""Session-conf contract: the confs in ``recommended_session_confs`` that
change cost, not plans, are pinned by what they are for."""

from __future__ import annotations

from tests.conftest import SF_DIR

# the three DAG pipelines with a public builder, run the way their
# registry functions run them: (builder, MLDag verb, output)
DAG_PIPELINES = (
    ("build_fit_apply_dag", "fit_transform", "fit_apply_stats"),
    ("build_clean_pack_dag", "transform", "packed_corpus"),
    ("build_fuzzy_dedup_dag", "transform", "survivors"),
)


def _compiles(spark) -> int:
    """Whole-stage and expression classes compiled so far in this JVM
    (local mode: driver and executors share one codegen cache)."""
    cm = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return cm.METRIC_COMPILATION_TIME().getCount()


def _run_pipelines(spark) -> int:
    from mldag_spark.queries import dag_pipeline

    before = _compiles(spark)
    for builder, verb, output in DAG_PIPELINES:
        dag = getattr(dag_pipeline, builder)(spark)
        df = getattr(dag, verb)(SF_DIR).outputs[output]
        df.write.mode("overwrite").format("noop").save()
    return _compiles(spark) - before


def test_codegen_cache_holds_a_dag_round(spark):
    """One round of the three DAG pipelines generates about 250 distinct
    classes, more than the codegen cache's default 100 entries, so at
    the default size every round recompiles nearly all of them (about
    230). Sized by ``recommended_session_confs``, a repeat round finds
    them cached and compiles none. AQE can re-plan a stage differently
    when sibling stages finish in another order, and each such variant
    compiles once when first seen; so the pin is that a round with no
    compile at all arrives within three rounds after the first."""
    from mldag_spark.session import recommended_session_confs

    conf = "spark.sql.codegen.cache.maxEntries"
    assert recommended_session_confs()[conf] == "4096"
    assert spark.sparkContext.getConf().get(conf) == "4096"

    counts = [_run_pipelines(spark)]
    while counts[-1] and len(counts) < 4:
        counts.append(_run_pipelines(spark))
    assert counts[-1] == 0, f"compiles per round: {counts}"
