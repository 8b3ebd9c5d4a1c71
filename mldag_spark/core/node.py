"""Node model: the vertices of an executable fit/transform DAG.

Node kinds (parity with reference §2.1 of SURVEY.md):

- :class:`FunctionNode`  — wraps a plain callable; stateless
  (``/root/reference/mldag/core/mldagbase.py:768-854``)
- :class:`EstimatorNode` — wraps an estimator object with
  ``fit``/``transform`` — including ``pyspark.ml`` Estimators whose
  ``fit`` returns a Model (``mldagbase.py:857-977``)
- :class:`MLDagNode`     — nests a whole DAG as one node
  (``mldagbase.py:980-1117``)
- :class:`TransformNode` — transform-only alias of another node found
  by name in the same graph; used for the fit-on-train /
  apply-on-test pattern (``mldagbase.py:1120-1188``)
- :class:`DummyNode`     — identity (``mldagbase.py:1254-1266``)

Piping DSL: ``a >> b``, ``a['out'] >> b['in']``, ``b << a`` — sugar
over :meth:`mldag_spark.core.dag.MLDag.connect`
(``mldagbase.py:376-447,114-191``).

The payload flowing on edges is opaque to this layer; in practice it is
a lazy ``pyspark.sql.DataFrame`` (so piping composes Catalyst logical
plans for free) but any Python object works, which the parity tests
exercise with scalars.
"""

from __future__ import annotations

import inspect
import io
import pickle
from typing import Any, Callable, Optional

from mldag_spark.core.graph import Edge, Graph, Vertex
from mldag_spark.core.introspect import (
    InputSlot,
    OutputSlot,
    get_input_slots,
    get_output_slots,
)
from mldag_spark.exceptions import GraphError, MLDagError, SlotError

_EMPTY_ANN = inspect.Parameter.empty


def bind_documented(
    obj: Any, verb: str, doc: str, signature: Optional[inspect.Signature] = None
) -> None:
    """Shadow ``obj``'s class method ``verb`` with an instance wrapper
    carrying a synthesized ``__doc__`` (and ``__signature__``, when
    given) — how a DAG and a dag-as-node advertise their ports."""
    base = getattr(type(obj), verb)

    def method(*args, **kwargs):
        return base(obj, *args, **kwargs)

    method.__doc__ = doc
    method.__name__ = verb
    if signature is not None:
        method.__signature__ = signature
    setattr(obj, verb, method)


def snake_case(name: str) -> str:
    out = []
    for i, ch in enumerate(name):
        if ch.isupper() and i > 0 and (not name[i - 1].isupper()):
            out.append("_")
        out.append(ch.lower())
    return "".join(out)


class NodeSlot:
    """Proxy for one named port of a node: ``node['slot']``.

    Supports per-port piping with ``>>`` / ``<<``; whether the slot acts
    as an input or an output is decided by which side of the pipe it is
    on (mirrors ``mldagbase.py:89-191``).
    """

    def __init__(self, node: "NodeBase", slot: str) -> None:
        if not slot:
            raise SlotError("slot name must be a non-empty string")
        self.node = node
        self.slot = slot

    def __repr__(self) -> str:
        return f"<NodeSlot {self.node.name or self.node}[{self.slot!r}]>"

    def __rshift__(self, other):
        """``self`` is the upstream (output) side."""
        from mldag_spark.core.dag import DagSlot, MLDag

        if isinstance(other, DagSlot):
            other.dag.set_output(other.name, self.node, upstream_slot=self.slot)
            return other
        if isinstance(other, NodeSlot):
            self.node._pipe_to(other.node, self.slot, other.slot)
            return other.node
        if isinstance(other, MLDag):
            raise SlotError(
                "pipe into a named dag output: node['out'] >> dag['output_name']"
            )
        other = as_node(other)
        self.node._pipe_to(other, self.slot, None)
        return other

    def __lshift__(self, other):
        """``self`` is the downstream (input) side."""
        from mldag_spark.core.dag import DagSlot

        if isinstance(other, DagSlot):
            other.dag.set_input(self.node, name=other.name, slot=self.slot)
            return other
        if isinstance(other, NodeSlot):
            other.node._pipe_to(self.node, other.slot, self.slot)
            return other.node
        other = as_node(other)
        other._pipe_to(self.node, None, self.slot)
        return other


class NodeConnection(Edge):
    """The typed wire of the dataflow graph: an edge plus the upstream
    output-slot and downstream input-slot names, validated against the
    two nodes' live port lists (``mldagbase.py:194-241``)."""

    def __init__(
        self,
        upstream: "NodeBase",
        downstream: "NodeBase",
        upstream_slot: str,
        downstream_slot: str,
    ) -> None:
        if upstream_slot not in {s.name for s in upstream.outputs}:
            raise SlotError(
                f"{upstream} has no output slot {upstream_slot!r}; "
                f"available: {[s.name for s in upstream.outputs]}"
            )
        if downstream_slot not in {s.name for s in downstream.inputs}:
            raise SlotError(
                f"{downstream} has no input slot {downstream_slot!r}; "
                f"available: {[s.name for s in downstream.inputs]}"
            )
        super().__init__(upstream, downstream)
        self.upstream_slot = upstream_slot
        self.downstream_slot = downstream_slot

    def to_dict(self) -> dict:
        return {
            "upstream_slot": self.upstream_slot,
            "downstream_slot": self.downstream_slot,
        }

    def __repr__(self) -> str:
        return (
            f"<{getattr(self.upstream, 'name', '?')}[{self.upstream_slot!r}] -> "
            f"{getattr(self.downstream, 'name', '?')}[{self.downstream_slot!r}]>"
        )


class NodeBase(Vertex):
    """Vertex + ``fit``/``transform`` + named input/output slots +
    non-dataflow dependencies."""

    def __init__(self, name: Optional[str] = None) -> None:
        super().__init__()
        self.name: Optional[str] = name
        self._inputs: Optional[list[InputSlot]] = None
        self._outputs: Optional[list[OutputSlot]] = None
        # order-only constraints: list of node references
        self.dependencies: dict[str, "NodeBase"] = {}

    def __init_subclass__(cls, **kw) -> None:
        super().__init_subclass__(**kw)
        # class-registration validation (parity: NodeBaseMeta,
        # mldagbase.py:244-270): if a subclass defines *both* fit and
        # transform in its own body, their parameter lists must match —
        # inputs are defined by ``transform`` and ``fit`` must accept
        # the same data.
        d = cls.__dict__
        if "fit" in d and "transform" in d:
            fp = list(inspect.signature(d["fit"]).parameters)
            tp = list(inspect.signature(d["transform"]).parameters)
            if fp != tp:
                raise MLDagError(
                    f"{cls.__name__}: fit{fp} and transform{tp} must have "
                    "identical parameter lists"
                )

    # -- ports ------------------------------------------------------------
    @property
    def inputs(self) -> list[InputSlot]:
        if self._inputs is None:
            self._inputs = get_input_slots(self.transform)
        return self._inputs

    @property
    def outputs(self) -> list[OutputSlot]:
        if self._outputs is None:
            self._outputs = get_output_slots(self.transform)
        return self._outputs

    def __getitem__(self, slot: str) -> NodeSlot:
        known = {s.name for s in self.inputs} | {s.name for s in self.outputs}
        if slot not in known:
            raise SlotError(f"{self} has no slot {slot!r}; available: {sorted(known)}")
        return NodeSlot(self, slot)

    # -- fit / transform contract -----------------------------------------
    def fit(self, *args, **kwargs) -> "NodeBase":
        """Train this node. Default: stateless no-op returning self."""
        return self

    def transform(self, *args, **kwargs):
        raise NotImplementedError

    def is_leaf(self) -> bool:
        return self._graph is not None and not self._graph.get_downstream_edges(self)

    # -- dependencies (order-only, no data) --------------------------------
    def add_dependency(self, node: "NodeBase", name: Optional[str] = None) -> None:
        if name is None:
            name = f"dep{len(self.dependencies)}"
        if name in self.dependencies:
            raise MLDagError(f"dependency {name!r} already exists on {self}")
        self.dependencies[name] = node

    def remove_dependency(self, name: str) -> None:
        del self.dependencies[name]

    # -- piping DSL --------------------------------------------------------
    def _pipe_to(
        self,
        other: "NodeBase",
        upstream_slot: Optional[str],
        downstream_slot: Optional[str],
    ) -> None:
        graph = self._resolve_common_graph(other)
        from mldag_spark.core.dag import MLDag

        if not isinstance(graph, MLDag):
            raise GraphError("nodes must belong to an MLDag to be piped")
        graph.connect(self, other, upstream_slot, downstream_slot)

    def __rshift__(self, other):
        from mldag_spark.core.dag import DagSlot

        if isinstance(other, DagSlot):
            other.dag.set_output(other.name, self, upstream_slot=None)
            return other
        if isinstance(other, NodeSlot):
            self._pipe_to(other.node, None, other.slot)
            return other.node
        other = as_node(other)
        self._pipe_to(other, None, None)
        return other

    def __lshift__(self, other):
        if isinstance(other, NodeSlot):
            other.node._pipe_to(self, other.slot, None)
            return other.node
        other = as_node(other)
        other._pipe_to(self, None, None)
        return other

    # -- persistence -------------------------------------------------------
    def dump(self, stream: io.IOBase) -> None:
        """Persist fitted state. Default: nothing to persist."""

    def load(self, stream: io.IOBase) -> None:
        pass

    def to_dict(self) -> dict:
        return {
            "kind": type(self).__name__,
            "name": self.name,
            "inputs": [s.name for s in self.inputs],
            "outputs": [s.name for s in self.outputs],
        }

    def __repr__(self) -> str:
        return f"<{type(self).__name__} {self.name or hex(id(self))}>"


class FunctionNode(NodeBase):
    """Wraps a plain callable as a stateless node.

    Inputs = the function's parameters; outputs resolved by the
    ``@returns`` → docstring → annotation → ``'result'`` chain.
    """

    def __init__(self, func: Optional[Callable] = None, name: Optional[str] = None):
        super().__init__(name=name)
        if func is None:
            raise MLDagError("FunctionNode requires a callable")
        self.func = func
        if name is None and getattr(func, "__name__", "<lambda>") != "<lambda>":
            self.name = func.__name__
        self._inputs = get_input_slots(func)
        self._outputs = get_output_slots(func)
        if func.__doc__:
            self.__doc__ = func.__doc__

    def fit(self, *args, **kwargs) -> "FunctionNode":
        return self

    def transform(self, *args, **kwargs):
        return self.func(*args, **kwargs)


class EstimatorNode(NodeBase):
    """Wraps any estimator exposing ``transform`` and/or ``fit``.

    Two contracts are supported transparently:

    - sklearn-style: ``est.fit(X)`` mutates ``est``; ``est.transform(X)``
    - pyspark.ml-style: ``est.fit(df)`` returns a Model;
      ``model.transform(df)`` applies it. The fitted Model is captured
      and used for subsequent transforms.
    """

    def __init__(self, estimator: Any = None, name: Optional[str] = None):
        super().__init__(name=name)
        if estimator is None:
            raise MLDagError("EstimatorNode requires an estimator object")
        self.estimator = estimator
        self.model: Any = None  # fitted pyspark.ml Model, when applicable
        if name is None:
            self.name = snake_case(type(estimator).__name__)
        ref = getattr(estimator, "transform", None) or getattr(estimator, "fit")
        # doc/type introspection must see the WRAPPED method (its
        # docstring types / annotations), not EstimatorNode.transform
        self._introspect_ref = ref
        self._inputs = get_input_slots(ref)
        # pyspark.ml signatures carry an optional ``params`` argument —
        # keep only data-carrying required slots plus variadics
        self._inputs = [s for s in self._inputs if s.name != "params"]
        self._outputs = get_output_slots(ref)

    def fit(self, *args, **kwargs) -> "EstimatorNode":
        fit = getattr(self.estimator, "fit", None)
        if fit is None:
            return self
        result = fit(*args, **kwargs)
        if result is not None and result is not self.estimator and hasattr(
            result, "transform"
        ):
            self.model = result
        return self

    def transform(self, *args, **kwargs):
        target = self.model if self.model is not None else self.estimator
        return target.transform(*args, **kwargs)

    def dump(self, stream: io.IOBase) -> None:
        pickle.dump({"estimator": self.estimator, "model": self.model}, stream)

    def load(self, stream: io.IOBase) -> None:
        state = pickle.load(stream)
        self.estimator = state["estimator"]
        self.model = state["model"]


class MLDagNode(NodeBase):
    """Nests a whole DAG as a single node.

    ``fit`` delegates to the inner dag's fit; ``transform`` returns the
    inner dag's outputs as a tuple in declared order.
    """

    def __init__(self, mldag=None, name: Optional[str] = None):
        super().__init__(name=name)
        from mldag_spark.core.dag import MLDag

        if not isinstance(mldag, MLDag):
            raise MLDagError("MLDagNode requires an MLDag")
        self.mldag = mldag
        self._refresh_ports()

    def _refresh_ports(self) -> None:
        self._inputs = [
            InputSlot(name=i.name, default=i.default) for i in self.mldag.inputs
        ]
        # carry output types onto this node's slots so a dag nested in
        # ANOTHER dag propagates them a further level up
        self._outputs = [
            OutputSlot(
                name=o.name,
                annotation=self._output_type_name(o) or _EMPTY_ANN,
            )
            for o in self.mldag.outputs
        ]
        self._synthesize_docs()

    def _output_type_name(self, out) -> str | None:
        """Display type of a dag output = the type of its source node's
        output slot (flows through arbitrary nesting: an inner
        MLDagNode's slots were themselves resolved this way —
        ``test_mldag_doc.py:96-158`` pins two-level propagation)."""
        for slot in out.node.outputs:
            if slot.name == out.slot and slot.annotation is not _EMPTY_ANN:
                return str(slot.annotation)
        return None

    def _synthesize_docs(self) -> None:
        """Instance-level ``fit``/``transform`` wrappers whose
        ``__doc__`` is byte-identical to the reference goldens
        (``/root/reference/tests/test_mldag_doc.py:77-95,146-158,
        238-252,294-323``): dag inputs as Parameters (deduped, typed
        from the bound node), dag outputs as Returns (typed from the
        source node), no run_id block."""
        returns: list[str] = []
        for o in self.mldag.outputs:
            t = self._output_type_name(o)
            returns += [f"{o.name} : {t}" if t else o.name,
                        f"    Output of {o.node.name}", ""]
        names = dict.fromkeys(x.name for x in self.mldag.inputs)
        for verb in ("fit", "transform"):
            doc = self.mldag._render_docstring(verb, names, returns)
            bind_documented(self, verb, doc)

    def fit(self, *args, **kwargs) -> "MLDagNode":
        self.mldag.fit(*args, **kwargs)
        return self

    def transform(self, *args, **kwargs):
        run = self.mldag.transform(*args, **kwargs)
        ordered = tuple(run.outputs[o.name] for o in self.mldag.outputs)
        if len(ordered) == 1:
            return ordered[0]
        return ordered


class TransformNode(NodeBase):
    """Transform-only alias of another node, resolved **by name at call
    time** in the same graph. ``fit`` is a no-op; an ordering dependency
    on the parent is added automatically so the parent is always fitted
    first (reference behavior ``mldagbase.py:1131-1188`` [verified]).
    """

    def __init__(self, parent_node_name=None, name: Optional[str] = None):
        super().__init__(name=name)
        if isinstance(parent_node_name, NodeBase):
            parent_node_name = parent_node_name.name
        if not parent_node_name:
            raise MLDagError("TransformNode requires parent_node_name")
        self.parent_node_name = parent_node_name
        self._ports_copied = False

    def _parent(self) -> NodeBase:
        from mldag_spark.core.dag import MLDag

        if not isinstance(self._graph, MLDag):
            raise MLDagError(f"{self} is not attached to an MLDag")
        try:
            return self._graph.node_dict[self.parent_node_name]
        except KeyError:
            raise MLDagError(
                f"parent node {self.parent_node_name!r} not found in graph"
            ) from None

    def _on_added_to_graph(self) -> None:
        parent = self._parent()
        self._inputs = list(parent.inputs)
        self._outputs = list(parent.outputs)
        self.add_dependency(parent, name="transformer")
        self._ports_copied = True

    @property
    def inputs(self) -> list[InputSlot]:
        if not self._ports_copied and self._graph is not None:
            self._on_added_to_graph()
        return self._inputs or []

    @property
    def outputs(self) -> list[OutputSlot]:
        if not self._ports_copied and self._graph is not None:
            self._on_added_to_graph()
        return self._outputs or []

    def fit(self, *args, **kwargs) -> "TransformNode":
        return self

    def transform(self, *args, **kwargs):
        return self._parent().transform(*args, **kwargs)


class DummyNode(NodeBase):
    """Identity node for examples and tests."""

    def fit(self, data):
        return self

    def transform(self, data):
        return data


def as_node(obj: Any, name: Optional[str] = None) -> NodeBase:
    """Factory: callable → FunctionNode, MLDag → MLDagNode,
    NodeBase → itself, anything with ``transform``/``fit`` →
    EstimatorNode (``mldagbase.py:1191-1226``)."""
    from mldag_spark.core.dag import MLDag

    if isinstance(obj, NodeBase):
        if name is not None:
            obj.name = name
        return obj
    if isinstance(obj, MLDag):
        return MLDagNode(mldag=obj, name=name)
    if callable(obj) and not hasattr(obj, "transform"):
        return FunctionNode(func=obj, name=name)
    if hasattr(obj, "transform") or hasattr(obj, "fit"):
        return EstimatorNode(estimator=obj, name=name)
    raise MLDagError(f"cannot convert {obj!r} to a node")


def sql_node(
    query: str,
    views: list[str],
    name: Optional[str] = None,
) -> FunctionNode:
    """Node executing an ANSI-SQL statement over its input DataFrames.

    ``views`` declares the node's input slots: each incoming DataFrame
    registers as a temp view under the matching name before the query
    runs, so upstream nodes pipe straight into ``FROM <view>`` clauses:

        j = sql_node("SELECT * FROM o JOIN l ON o_orderkey = l_orderkey",
                     views=["o", "l"])

    ``spark.sql`` returns a lazy DataFrame like every other node, so
    Catalyst still fuses the SQL fragment with the surrounding DAG
    plan — mixing SQL nodes and DataFrame nodes costs nothing.
    ``spark.sql`` analyzes the statement eagerly, so the views are
    dropped as soon as it returns and nothing outlives the call. (Temp
    views are session-scoped: concurrent DAGs in one session should
    use distinct view names.)
    """

    sig = inspect.Signature(
        [
            inspect.Parameter(v, inspect.Parameter.POSITIONAL_OR_KEYWORD)
            for v in views
        ]
    )

    def _impl(*args, **kwargs):
        bound = sig.bind(*args, **kwargs)
        dfs = [bound.arguments[v] for v in views]
        for vname, df in zip(views, dfs):
            df.createOrReplaceTempView(vname)
        spark = dfs[0].sparkSession
        try:
            return spark.sql(query)
        finally:
            for vname in views:
                spark.catalog.dropTempView(vname)

    _impl.__signature__ = sig
    _impl.__name__ = name or "sql"
    return FunctionNode(func=_impl, name=_impl.__name__)


def cache_node(
    name: Optional[str] = None, storage_level: str = "MEMORY_AND_DISK"
) -> FunctionNode:
    """Identity node that caches the passing DataFrame
    (:func:`mldag_spark.materialize.cache`).

    Spark recomputes a DataFrame's lineage for every downstream
    consumer; placing a cache node at a DAG fan-out point makes the
    shared prefix compute once. ``storage_level`` names any
    ``pyspark.StorageLevel`` constant (``MEMORY_AND_DISK`` spills
    rather than evicting under pressure — the safe default at scale).
    """

    def _impl(df):
        from pyspark import StorageLevel

        from mldag_spark.materialize import cache

        return cache(df, getattr(StorageLevel, storage_level))

    _impl.__name__ = name or "cache"
    return FunctionNode(func=_impl, name=_impl.__name__)


def checkpoint_node(
    name: Optional[str] = None, eager: bool = True
) -> FunctionNode:
    """Identity node that truncates plan lineage
    (:func:`mldag_spark.materialize.checkpoint`) — for iterative DAGs
    whose plans otherwise grow with every round (the same reason
    ``connected_components`` in operators/dedup.py checkpoints between
    Large-Star/Small-Star rounds). Eager by default: the cut happens at
    wiring time, not at first downstream action; ``checkpoint``'s
    docstring says what ``eager=False`` still runs under AQE."""

    def _impl(df):
        from mldag_spark.materialize import checkpoint

        return checkpoint(df, eager=eager)

    _impl.__name__ = name or "checkpoint"
    return FunctionNode(func=_impl, name=_impl.__name__)


def as_transform(obj: Any, name: Optional[str] = None) -> TransformNode:
    """Factory for :class:`TransformNode`. Accepts a node or a node
    name. (The reference's version is broken as shipped — it passes the
    wrong kwarg and always raises, SURVEY §2.1 [verified]; fixed here.)
    """
    return TransformNode(parent_node_name=obj, name=name)
