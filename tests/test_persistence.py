"""Persistence round-trips: structure, function payloads, fitted
Spark ML models (the reference's serialization is verified-broken;
ours must actually round-trip)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import mldag_spark as m
from mldag_spark.persistence import load_dag, save_dag


def scale_qty(df):
    return df.withColumn("q2", F.col("l_quantity") * 2)


def summarize(df):
    return df.agg(F.round(F.sum("q2"), 2).alias("total"))


def test_function_dag_roundtrip(tmp_path, spark, sf_dir):
    dag = m.MLDag()
    n1 = dag["df"] >> m.as_node(scale_qty)
    n2 = m.as_node(summarize)
    n1 >> n2
    n2["result"] >> dag["total"]

    save_dag(dag, str(tmp_path / "dag"))
    back = load_dag(str(tmp_path / "dag"))

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    want = dag.transform(li).outputs["total"].collect()
    got = back.transform(li).outputs["total"].collect()
    assert got == want
    assert back.input_names == dag.input_names


def test_fitted_estimator_roundtrip(tmp_path, spark, sf_dir):
    from pyspark.ml.feature import StandardScaler, VectorAssembler

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_quantity", "l_extendedprice"
    )
    dag = m.MLDag()

    def assemble(df):
        return VectorAssembler(
            inputCols=["l_quantity", "l_extendedprice"], outputCol="features"
        ).transform(df)

    n1 = dag["df"] >> m.as_node(assemble)
    n2 = m.EstimatorNode(
        estimator=StandardScaler(inputCol="features", outputCol="scaled"),
        name="scaler",
    )
    n1 >> n2
    n2["result"] >> dag["out"]
    dag.fit(li)
    assert n2.model is not None

    save_dag(dag, str(tmp_path / "dag"))
    back = load_dag(
        str(tmp_path / "dag"), overrides={"assemble": assemble}
    )
    # the fitted model must be restored (not refitted)
    scaler = back.node_dict["scaler"]
    assert scaler.model is not None
    assert scaler.model.mean == n2.model.mean

    got = back.transform(li).outputs["out"]
    want = dag.transform(li).outputs["out"]
    assert got.schema == want.schema
    assert got.count() == want.count()


def a():
    return 1


def b():
    return 2


def test_dependency_roundtrip(tmp_path):
    dag = m.MLDag()
    na = dag.add(m.as_node(a))
    nb = dag.add(m.as_node(b))
    nb.add_dependency(na, name="after_a")
    save_dag(dag, str(tmp_path / "dag"))
    back = load_dag(str(tmp_path / "dag"))
    deps = back.node_dict["b"].dependencies
    assert "after_a" in deps and deps["after_a"].name == "a"


def optional_scale(df, factor=3):
    return df.withColumn("q3", F.col("l_quantity") * factor)


def test_roundtrip_preserves_input_default_and_kind(tmp_path, spark, sf_dir):
    """A loaded DAG must keep optional inputs optional: to_dict/from_dict
    re-derive each MLDagInput's default and kind from the live slot
    definition, so dag.transform(df) (without the optional arg) still
    works after a save/load cycle."""
    import inspect

    dag = m.MLDag()
    node = dag["df"] >> m.as_node(optional_scale)
    dag.set_input(node, slot="factor", name="factor")
    node["result"] >> dag["out"]

    save_dag(dag, str(tmp_path / "dag"))
    back = load_dag(str(tmp_path / "dag"))

    by_name = {i.name: i for i in back.inputs}
    assert by_name["factor"].default == 3
    assert by_name["factor"].kind == inspect.Parameter.POSITIONAL_OR_KEYWORD

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").limit(5)
    want = dag.transform(li).outputs["out"].collect()
    got = back.transform(li).outputs["out"].collect()  # default applies
    assert got == want


@pytest.mark.parametrize(
    "builder, output, fitted",
    [
        ("build_clean_pack_dag", "packed_corpus", False),
        ("build_fuzzy_dedup_dag", "survivors", False),
        ("build_fit_apply_dag", "fit_apply_stats", True),
        ("build_quality_classifier_dag", "quality_counts", True),
    ],
)
def test_pipeline_builder_roundtrip(tmp_path, spark, sf_dir, builder, output,
                                    fitted):
    """Every registry ``build_*_dag`` saves and loads with no overrides
    (its node bodies are module-level, so they pickle), and the loaded
    DAG's transform yields the same rows as the original's — after
    ``fit_transform`` for the pipelines with an estimator, so the
    persisted fitted model is what gets applied."""
    from mldag_spark.queries import dag_pipeline

    dag = getattr(dag_pipeline, builder)(spark)
    if fitted:
        dag.fit_transform(sf_dir)
    save_dag(dag, str(tmp_path / "dag"))
    back = load_dag(str(tmp_path / "dag"))
    assert list(back.node_dict) == list(dag.node_dict)

    def rows(d):
        return sorted(map(tuple, d.transform(sf_dir).outputs[output].collect()))

    assert rows(back) == rows(dag)
