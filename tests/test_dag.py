"""End-to-end DAG engine tests on scalar payloads.

Parity model: reference ``tests/test_mldag.py`` — the engine is
payload-agnostic, so the same assertions the reference makes on ints
and tuples hold here (DataFrame payloads are covered in the Spark
test modules)."""

import inspect

import pytest

from mldag_spark import (
    DummyNode,
    EstimatorNode,
    FunctionNode,
    MLDag,
    MLDagError,
    MLDagMixin,
    NodeBase,
    NodeExecutionError,
    SlotError,
    TransformNode,
    as_node,
    as_transform,
    returns,
)


def test_single_function_node_roundtrip():
    dag = MLDag()

    def double(x):
        return x * 2

    node = dag >> double
    node["result"] >> dag["doubled"]
    run = dag.transform(21)
    assert run.outputs == {"doubled": 42}


def test_default_output_name_is_result():
    node = FunctionNode(func=lambda x: x, name="f")
    assert [o.name for o in node.outputs] == ["result"]


def test_returns_decorator_outputs():
    @returns(["a", "b"])
    def split(x):
        return x, x + 1

    dag = MLDag()
    n = dag >> split
    n["a"] >> dag["first"]
    n["b"] >> dag["second"]
    run = dag.transform(1)
    assert run.outputs == {"first": 1, "second": 2}


def test_docstring_returns_outputs():
    def f(x):
        """Do things.

        Returns
        -------
        left : int
            the left part
        right : int
            the right part
        """
        return x, -x

    n = FunctionNode(func=f)
    assert [o.name for o in n.outputs] == ["left", "right"]


def test_annotation_literal_outputs():
    def f(x) -> ("p", "q"):  # noqa: F821
        return x, x

    n = FunctionNode(func=f)
    assert [o.name for o in n.outputs] == ["p", "q"]


def test_chained_pipeline():
    dag = MLDag()
    inc = dag >> (lambda x: x + 1)
    dbl = inc >> (lambda x: x * 2)
    dbl["result"] >> dag["out"]
    assert dag.transform(5).outputs == {"out": 12}


def test_diamond_topology_and_multi_input():
    @returns(["a", "b"])
    def split(x):
        return x + 1, x + 2

    def merge(a, b):
        return a * b

    dag = MLDag()
    s = dag >> split
    m = as_node(merge)
    s["a"] >> m["a"]
    s["b"] >> m["b"]
    m["result"] >> dag["out"]
    assert dag.transform(1).outputs == {"out": 6}


def test_input_names_include_run_id():
    dag = MLDag()

    def scaler(X):
        return X

    dag.set_input(as_node(scaler, name="scaler"))
    assert dag.input_names == ["X_scaler", "run_id"]


def test_signature_regenerates_after_set_input():
    dag = MLDag()
    dag >> as_node(lambda x: x, name="f1")
    sig = inspect.signature(dag.transform)
    assert "x_f1" in sig.parameters
    dag2 = MLDag()
    dag2["named"] >> as_node(lambda y: y, name="f2")
    assert "named" in inspect.signature(dag2.transform).parameters


def test_multi_arg_routing_by_name():
    def foo(arg1, arg2):
        return arg1 - arg2

    dag = MLDag()
    n = as_node(foo)
    dag["a"] >> n["arg1"]
    dag["b"] >> n["arg2"]
    n["result"] >> dag["res"]
    assert dag.transform(10, 3).outputs == {"res": 7}
    assert dag.transform(b=3, a=10).outputs == {"res": 7}


def test_variadic_args_kwargs_slots():
    @returns(["alist", "kdict"])
    def collect(*args, **kwargs):
        return list(args), dict(kwargs)

    dag = MLDag()
    n = dag >> collect
    n["alist"] >> dag["a"]
    n["kdict"] >> dag["k"]
    run = dag.transform(1, 2, 3, x=10, y=20)
    assert run.outputs == {"a": [1, 2, 3], "k": {"x": 10, "y": 20}}


def test_defaults_flow_through():
    def f(x, y=5):
        return x + y

    dag = MLDag()
    n = dag >> f
    n["result"] >> dag["out"]
    assert dag.transform(1).outputs == {"out": 6}
    assert dag.transform(1, 2).outputs == {"out": 3}


class _Scaler:
    """sklearn-style estimator: fit mutates, transform applies."""

    def __init__(self):
        self.mean = None
        self.calls = []

    def fit(self, xs):
        self.calls.append("fit")
        self.mean = sum(xs) / len(xs)
        return self

    def transform(self, xs):
        self.calls.append("transform")
        return [x - self.mean for x in xs]


class _Model:
    """Leaf estimator — transform should be skipped during fit."""

    def __init__(self):
        self.calls = []
        self.fitted_on = None

    def fit(self, xs):
        self.calls.append("fit")
        self.fitted_on = list(xs)
        return self

    def transform(self, xs):
        self.calls.append("transform")
        return xs


def test_fit_pass_skips_leaf_transform():
    dag = MLDag()
    scaler, model = _Scaler(), _Model()
    s = dag >> as_node(scaler, name="scaler")
    m = s >> as_node(model, name="model")
    m["result"] >> dag["out"]
    run = dag.fit([1.0, 2.0, 3.0])
    # scaler fit+transform; model fit only (leaf-elision)
    assert scaler.calls == ["fit", "transform"]
    assert model.calls == ["fit"]
    # downstream fit consumed upstream *transformed* output
    assert model.fitted_on == [-1.0, 0.0, 1.0]
    assert run.outputs == {}  # leaf transform skipped => no outputs
    run2 = dag.transform([4.0, 5.0])
    assert scaler.calls == ["fit", "transform", "transform"]
    assert model.calls == ["fit", "transform"]
    assert run2.outputs == {"out": [2.0, 3.0]}


def test_fit_transform_runs_one_pass():
    """fit_transform is one run: per node ``fit`` then ``transform``,
    leaves included, so no non-leaf transform runs twice; its outputs
    equal a fit pass followed by a transform pass."""
    starts = []

    class CountRuns(MLDagMixin):
        def _start_run(self, run_id):
            starts.append(run_id)

    def build(mixins=()):
        dag = MLDag(mixins=list(mixins))
        scaler, model = _Scaler(), _Model()
        s = dag >> as_node(scaler, name="scaler")
        m = s >> as_node(model, name="model")
        m["result"] >> dag["out"]
        return dag, scaler, model

    dag, scaler, model = build([CountRuns()])
    run = dag.fit_transform([1.0, 2.0, 3.0])
    assert scaler.calls == ["fit", "transform"]
    assert model.calls == ["fit", "transform"]
    assert model.fitted_on == [-1.0, 0.0, 1.0]
    assert len(starts) == 1

    two_pass, _, _ = build()
    two_pass.fit([1.0, 2.0, 3.0])
    assert run.outputs == two_pass.transform([1.0, 2.0, 3.0]).outputs
    assert run.outputs == {"out": [-1.0, 0.0, 1.0]}


def test_transform_node_train_test_pattern():
    dag = MLDag()
    scaler = _Scaler()
    s = dag["train"] >> as_node(scaler, name="scaler")
    t = TransformNode(parent_node_name="scaler", name="scaler_test")
    dag["test"] >> t
    s["result"] >> dag["train_out"]
    t["result"] >> dag["test_out"]
    dag.fit(train=[0.0, 2.0], test=[1.0])
    run = dag.transform(train=[0.0, 2.0], test=[1.0])
    assert run.outputs["train_out"] == [-1.0, 1.0]
    assert run.outputs["test_out"] == [0.0]
    # fit ran exactly once, on the train input
    assert scaler.calls.count("fit") == 1


def test_as_transform_factory_fixed():
    t = as_transform("scaler", name="alias")
    assert isinstance(t, TransformNode)
    assert t.parent_node_name == "scaler"


def test_nested_dag_node():
    inner = MLDag()
    n = inner >> as_node(lambda x: x + 100, name="inc")
    n["result"] >> inner["res"]

    outer = MLDag()
    sub = outer >> inner  # auto-wrapped into MLDagNode
    sub["res"] >> outer["final"]
    assert outer.transform(1).outputs == {"final": 101}


def test_dependencies_order_only():
    order = []

    def first(x):
        order.append("first")
        return x

    def second(y):
        order.append("second")
        return y

    dag = MLDag()
    a = dag["xa"] >> as_node(first, name="a")
    b = dag["xb"] >> as_node(second, name="b")
    b.add_dependency(a)
    b["result"] >> dag["out"]
    dag.transform(xa=1, xb=2)
    assert order == ["first", "second"]


def test_dependency_cycle_detected():
    from mldag_spark import GraphError

    dag = MLDag()
    a = dag["xa"] >> as_node(lambda x: x, name="a")
    b = dag["xb"] >> as_node(lambda y: y, name="b")
    a.add_dependency(b)
    b.add_dependency(a)
    with pytest.raises(GraphError):
        dag.transform(xa=1, xb=2)


def test_single_writer_per_input_slot():
    dag = MLDag()
    a = dag >> as_node(lambda x: x, name="a")
    b = dag >> as_node(lambda y: y, name="b")
    c = as_node(lambda z: z, name="c")
    dag.connect(a, c)
    with pytest.raises(SlotError):
        dag.connect(b, c)


def test_duplicate_dag_output_rejected():
    dag = MLDag()
    a = dag >> as_node(lambda x: x, name="a")
    a["result"] >> dag["out"]
    with pytest.raises(SlotError):
        a["result"] >> dag["out"]


def test_unknown_slot_rejected():
    n = as_node(lambda x: x, name="f")
    with pytest.raises(SlotError):
        n["nope"]


def test_empty_slot_name_rejected():
    from mldag_spark import NodeSlot

    n = as_node(lambda x: x, name="f")
    with pytest.raises(SlotError):
        NodeSlot(n, "")


def test_node_error_wrapped():
    def boom(x):
        raise ValueError("inner")

    dag = MLDag()
    n = dag >> boom
    n["result"] >> dag["out"]
    with pytest.raises(NodeExecutionError) as ei:
        dag.transform(1)
    assert "boom" in str(ei.value)
    assert isinstance(ei.value.__cause__, ValueError)


def test_output_arity_mismatch_raises():
    @returns(["a", "b"])
    def bad(x):
        return (x,)  # declares 2, returns 1

    dag = MLDag()
    n = dag >> bad
    n["a"] >> dag["out"]
    with pytest.raises(MLDagError):
        dag.transform(1)


def test_dict_output_key_mismatch_raises():
    @returns(["a", "b"])
    def bad(x):
        return {"a": 1, "c": 2}

    dag = MLDag()
    n = dag >> bad
    n["a"] >> dag["out"]
    with pytest.raises(MLDagError):
        dag.transform(1)


def test_dict_output_routing():
    @returns(["a", "b"])
    def good(x):
        return {"b": x * 2, "a": x}

    dag = MLDag()
    n = dag >> good
    n["a"] >> dag["pa"]
    n["b"] >> dag["pb"]
    assert dag.transform(3).outputs == {"pa": 3, "pb": 6}


def test_mixin_hooks_order():
    events = []

    class M(MLDagMixin):
        def __init__(self, tag):
            self.tag = tag

        def _transform(self, call_next, node, *a, **k):
            events.append(f"{self.tag}:pre:{node.name}")
            out = call_next(*a, **k)
            events.append(f"{self.tag}:post:{node.name}")
            return out

        def _start_run(self, run_id):
            events.append(f"{self.tag}:start")

        def _end_run(self, run_id):
            events.append(f"{self.tag}:end")

    dag = MLDag(mixins=[M("inner"), M("outer")])
    n = dag >> as_node(lambda x: x, name="f")
    n["result"] >> dag["out"]
    dag.transform(1)
    assert events[0] == "inner:start"
    assert events[1] == "outer:start"
    # outermost mixin = last in list wraps first
    assert events[2] == "outer:pre:f"
    assert events[3] == "inner:pre:f"
    assert events[4] == "inner:post:f"
    assert events[5] == "outer:post:f"
    assert events[-2:] == ["inner:end", "outer:end"]


def test_mixin_end_run_fires_on_error():
    ended = []

    class M(MLDagMixin):
        def _end_run(self, run_id):
            ended.append(run_id)

    def boom(x):
        raise RuntimeError

    dag = MLDag(mixins=[M()])
    n = dag >> boom
    n["result"] >> dag["out"]
    with pytest.raises(NodeExecutionError):
        dag.transform(1, run_id="rid")
    assert ended == ["rid"]


def test_run_id_propagates():
    dag = MLDag()
    n = dag >> as_node(lambda x: x, name="f")
    n["result"] >> dag["out"]
    run = dag.transform(1, run_id="my-run")
    assert run.run_id == "my-run"


def test_auto_naming_and_collision():
    dag = MLDag()
    d1 = dag >> DummyNode()
    d2 = dag >> DummyNode()
    assert d1.name == "dummy_node"
    assert d2.name == "dummy_node_1"


def test_fit_transform_two_passes():
    dag = MLDag()
    scaler = _Scaler()
    s = dag >> as_node(scaler, name="scaler")
    s["result"] >> dag["out"]
    run = dag.fit_transform([1.0, 3.0])
    assert run.outputs == {"out": [-1.0, 1.0]}
    assert scaler.calls == ["fit", "transform"]  # fit pass elides leaf transform


def test_estimator_node_pyspark_style_contract():
    class Est:
        def fit(self, data):
            class Model:
                def transform(self, d):
                    return [x * 10 for x in d]

            return Model()

    n = EstimatorNode(estimator=Est())
    n.fit([1, 2])
    assert n.transform([1, 2]) == [10, 20]


def test_to_dict_from_dict_roundtrip():
    dag = MLDag()
    a = dag >> as_node(lambda x: x + 1, name="a")
    b = a >> as_node(lambda x: x * 2, name="b")
    b["result"] >> dag["out"]
    spec = dag.to_dict()

    nodes = {
        "a": as_node(lambda x: x + 1, name="a"),
        "b": as_node(lambda x: x * 2, name="b"),
    }
    dag2 = MLDag.from_dict(spec, nodes)
    assert dag2.transform(3).outputs == {"out": 8}


def test_fit_transform_param_list_validation():
    with pytest.raises(MLDagError):

        class Bad(NodeBase):
            def fit(self, x, y):
                return self

            def transform(self, x):
                return x


def test_to_dot_renders():
    from mldag_spark.display import to_dot

    dag = MLDag()
    a = dag >> as_node(lambda x: x, name="a")
    a["result"] >> dag["out"]
    dot = to_dot(dag)
    assert '"a"' in dot and "digraph" in dot


def test_fit_transform_docstring_synthesis():
    """Golden numpydoc synthesis, byte-identical to the reference's
    layout (tests/test_mldag_doc.py:40-95; full golden matrix in
    tests/test_docstrings.py): verb-specific summary, 18-dash rules,
    per-param type from the downstream callable, 'Downstream node -
    <name>' descriptions, verb-specific run_id and MLDagRun blocks."""
    import textwrap

    from pyspark.sql import DataFrame

    def scale(df: DataFrame, factor: int = 2):
        return df

    dag = MLDag()
    node = dag["df"] >> as_node(scale)
    dag.set_input(node, slot="factor", name="factor")

    expected_fit = textwrap.dedent("""\
        Main method for fitting mldag.
        Sequentially calls fit and transform in width-first order

        Parameters
        ------------------
        df : DataFrame
            Downstream node - scale

        factor : int
            Downstream node - scale

        run_id : optional, str
            run identifier string

        Returns
        ------------------
        run : MLDagRun
            computed mldag run""")
    assert dag.fit.__doc__ == expected_fit

    assert dag.transform.__doc__.startswith(
        "Method for transforming based on previously fitted parameters"
    )
    assert "run_id : str, optional" in dag.transform.__doc__
    assert (
        "run : MLDagRun\n    computed mldag run containing all node outputs"
        in dag.transform.__doc__
    )


@pytest.mark.parametrize("fail", [False, True], ids=["ok", "raises"])
@pytest.mark.parametrize("caller", ["caller label", None], ids=["set", "unset"])
def test_run_restores_callers_job_description(spark, fail, caller):
    """A run labels each node's Spark jobs with the node's name; once it
    ends, the caller's own description is back, whether the run
    succeeded or a node raised."""
    sc = spark.sparkContext
    seen = []

    def count(x):
        seen.append(sc.getLocalProperty("spark.job.description"))
        n = spark.range(x).count()
        if fail:
            raise ValueError("boom")
        return n

    dag = MLDag()
    (dag >> count)["result"] >> dag["n"]
    sc.setJobDescription(caller)
    try:
        if fail:
            with pytest.raises(NodeExecutionError):
                dag.transform(3)
        else:
            assert dag.transform(3).outputs == {"n": 3}
        assert seen[0].startswith("mldag[") and seen[0].endswith(" count")
        assert sc.getLocalProperty("spark.job.description") == caller
    finally:
        sc.setJobDescription(None)


def test_sql_node_slots_and_mixing(spark, sf_dir):
    """sql_node declares one input slot per view name, registers the
    incoming DataFrames as temp views, and its lazy spark.sql result
    pipes into downstream DataFrame nodes like any other output."""
    from pyspark.sql import functions as F

    from mldag_spark import sql_node

    q = sql_node(
        "SELECT r_regionkey, upper(r_name) AS rname FROM t_region",
        views=["t_region"],
    )
    assert [s.name for s in q.inputs] == ["t_region"]

    dag = MLDag()
    dag["df"] >> q
    tail = as_node(
        lambda df: df.filter(F.col("r_regionkey") >= 0).orderBy("rname"),
        name="tail",
    )
    q >> tail
    tail["result"] >> dag["out"]

    region = spark.read.parquet(f"{sf_dir}/region.parquet")
    out = dag.transform(region).outputs["out"]
    # the view is dropped once spark.sql has analyzed the statement;
    # the lazy result still runs without it
    assert not spark.catalog.tableExists("t_region")
    rows = out.collect()
    assert len(rows) == region.count()
    assert all(r["rname"] == r["rname"].upper() for r in rows)


def test_sql_node_input_count_mismatch():
    from mldag_spark import sql_node

    q = sql_node("SELECT 1", views=["a", "b"])
    import pytest

    with pytest.raises(TypeError):
        q.transform()  # missing both inputs


def test_cache_and_checkpoint_nodes(spark, sf_dir):
    from mldag_spark import cache_node, checkpoint_node

    dag = MLDag()
    src = dag["df"] >> as_node(lambda df: df.select("r_regionkey"), name="proj")
    c = cache_node()
    src >> c
    c["result"] >> dag["cached"]

    region = spark.read.parquet(f"{sf_dir}/region.parquet")
    out = dag.transform(region).outputs["cached"]
    assert out.storageLevel.useMemory or out.storageLevel.useDisk
    out.unpersist()

    dag2 = MLDag()
    src2 = dag2["df"] >> as_node(lambda df: df.select("r_regionkey"), name="proj")
    ck = checkpoint_node()
    src2 >> ck
    ck["result"] >> dag2["cut"]
    cut = dag2.transform(region).outputs["cut"]
    assert cut.count() == region.count()
    # lineage truncated: the checkpointed plan no longer scans parquet
    plan = cut._sc._jvm.PythonSQLUtils.explainString(
        cut._jdf.queryExecution(), "simple"
    )
    assert "Scan parquet" not in plan and "FileScan" not in plan


def test_quality_classifier_deterministic(spark, sf_dir):
    """dag_ml_quality_classifier is rows-only (no SQL oracle for
    LBFGS); pin the properties that matter instead: group counts sum
    to the corpus size, the trained model exists on the estimator node
    after fit, and two independent runs produce identical output."""
    from mldag_spark.queries import REGISTRY
    from mldag_spark.queries.tables import load

    fn = REGISTRY["dag_ml_quality_classifier"]
    a = {tuple(r) for r in fn(spark, sf_dir).collect()}
    b = {tuple(r) for r in fn(spark, sf_dir).collect()}
    assert a == b
    n_docs = load(spark, sf_dir, "documents").count()
    assert sum(r[2] for r in a) == n_docs
    preds = {r[1] for r in a}
    assert preds <= {0, 1} and len(preds) == 2


def test_fit_apply_transform_pass_reuses_fit_materialization(spark, sf_dir):
    """The featurize frame is a lazy localCheckpoint, so the stats
    leaf reads the rows the eager scaler.fit already materialized
    instead of re-running the clean → dedup-window front half. Pins:
    the stats leaf's plan reads the checkpoint (no parquet re-scan),
    and a second run of the same dag on another sf_dir never serves
    the first run's rows."""
    import io
    import contextlib

    from mldag_spark.queries.dag_pipeline import build_fit_apply_dag

    dag = build_fit_apply_dag(spark)
    run = dag.fit_transform(sf_dir)
    stats = run.outputs["fit_apply_stats"]
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        stats.explain(mode="formatted")
    plan = buf.getvalue()
    assert "ExistingRDD" in plan
    assert "Scan parquet" not in plan and "FileScan" not in plan

    # same dag instance, different input dir: fresh rows, not stale ones.
    # The sibling is the smallest other scale-factor directory beside
    # sf_dir, so the second run works whatever fixture sf_dir names.
    import glob
    import os

    here = os.path.realpath(sf_dir)
    siblings = [
        p for p in sorted(glob.glob(os.path.join(os.path.dirname(here), "sf*")))
        if os.path.isdir(p) and os.path.realpath(p) != here
    ]
    if not siblings:
        pytest.skip(f"no sibling scale-factor directory beside {sf_dir}")
    other = siblings[0]
    assert os.path.realpath(other) != here
    run2 = dag.fit_transform(other)
    a = {tuple(r) for r in stats.collect()}
    b = {tuple(r) for r in run2.outputs["fit_apply_stats"].collect()}
    assert a != b


def test_fit_apply_memo_serves_fresh_rows_after_inplace_rewrite(
    spark, sf_dir, tmp_path
):
    """Running the same dag again after an in-place parquet rewrite
    gives what a fresh dag gives, not the first run's checkpointed
    rows."""
    import os
    import shutil

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from mldag_spark.queries.dag_pipeline import build_fit_apply_dag

    data = tmp_path / "sf"
    data.mkdir()
    docs = data / "documents.parquet"
    shutil.copyfile(os.path.join(sf_dir, "documents.parquet"), docs)

    def stats(dag):
        run = dag.fit_transform(str(data))
        return sorted(tuple(r) for r in run.outputs["fit_apply_stats"].collect())

    dag = build_fit_apply_dag(spark)
    before = stats(dag)
    table = pq.read_table(docs)
    pq.write_table(
        table.filter(pc.equal(pc.bit_wise_and(table["doc_id"], 1), 0)), docs
    )
    after = stats(dag)
    assert after != before
    assert after == stats(build_fit_apply_dag(spark))


def test_quality_classifier_scores_from_fit_materialization(spark, sf_dir):
    """Twin of the fit_apply pin: the classifier's featurize frame
    (tokenize ×3 over the corpus) is lazily checkpointed, so the
    rollup leaf scores from the features the LBFGS fit materialized
    instead of re-tokenizing."""
    import io
    import contextlib

    from mldag_spark.queries import REGISTRY

    out = REGISTRY["dag_ml_quality_classifier"](spark, sf_dir)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain(mode="formatted")
    plan = buf.getvalue()
    assert "ExistingRDD" in plan
    assert "Scan parquet" not in plan and "FileScan" not in plan


def test_fit_apply_fit_transform_transforms_each_node_once(spark, sf_dir):
    """One fit_transform of the fit-apply pipeline transforms every
    node once and fits the scaler once: the clean → dedup → featurize
    front half is built once, not once per pass."""
    from collections import Counter

    from mldag_spark.queries.dag_pipeline import build_fit_apply_dag

    calls = Counter()

    class CountCalls(MLDagMixin):
        def _fit(self, call_next, node, *a, **k):
            calls[(node.name, "fit")] += 1
            return call_next(*a, **k)

        def _transform(self, call_next, node, *a, **k):
            calls[(node.name, "transform")] += 1
            return call_next(*a, **k)

    dag = build_fit_apply_dag(spark)
    dag.mixins.append(CountCalls())
    dag.fit_transform(sf_dir)
    assert {n: calls[(n, "transform")] for n in dag.node_dict} == {
        n: 1 for n in dag.node_dict
    }
    assert calls[("scaler", "fit")] == 1
