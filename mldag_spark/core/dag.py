"""``MLDag`` — the executable fit/transform DAG — and its executor.

Execution semantics (parity with reference, SURVEY §3):

- **fit pass** (``dag.fit``): nodes run in Kahn topological order
  (breadth-first tie-break, honoring order-only dependencies); each
  node is ``fit`` then ``transform``-ed so downstream ``fit`` consumes
  upstream *transformed* output — except **leaf nodes, whose transform
  is skipped** because nobody consumes it
  (``/root/reference/mldag/mldag.py:523-559,380``).
- **transform pass** (``dag.transform``): only ``transform`` per node,
  leaves included; ``run.outputs`` is filled for every declared DAG
  output (``mldag.py:561-599``).
- node failures are re-raised as :class:`NodeExecutionError` with the
  original as ``__cause__`` (``mldag.py:382-383``).
- the public ``fit``/``transform`` signatures are **synthesized** from
  the DAG's unbound input slots and regenerated after every
  ``set_input`` so ``inspect.signature(dag.fit)`` always reflects the
  current ports (``mldagbase.py:1815-1847``); ``run_id`` is always a
  keyword parameter (reference [verified]).

Spark-first departures from the reference:

- **no deepcopy of node inputs** — the reference deep-copies every
  input before each fit and transform call (``mldag.py:485,493``),
  its dominant cost; Spark DataFrames are immutable so isolation is
  free.
- payloads are expected to be *lazy* DataFrames: ``transform`` composes
  Catalyst logical plans and no job runs until a sink/estimator
  materializes; each node call is tagged with a Spark job description
  for UI attribution.
- **``fit_transform`` is one pass** — the reference runs ``fit`` and
  then a full ``transform`` (``mldagbase.py:689-691``), so every
  non-leaf transform ran twice; here each node is ``fit`` then
  ``transform``-ed once, leaves included, in one run. The fit pass
  already transforms every non-leaf node with its fitted state, so the
  outputs are unchanged.
"""

from __future__ import annotations

import inspect
import keyword
import uuid
from collections import defaultdict
from dataclasses import dataclass, field
from typing import Any, Callable, Iterable, Iterator, Optional

from mldag_spark.core.graph import Graph
from mldag_spark.core.introspect import InputSlot
from mldag_spark.core.node import (
    NodeBase,
    NodeConnection,
    NodeSlot,
    as_node,
    bind_documented,
    snake_case,
)
from mldag_spark.exceptions import (
    GraphError,
    MLDagError,
    NodeExecutionError,
    SlotError,
)

_EMPTY = inspect.Parameter.empty
_VAR_POS = inspect.Parameter.VAR_POSITIONAL
_VAR_KW = inspect.Parameter.VAR_KEYWORD
_POS_ONLY = inspect.Parameter.POSITIONAL_ONLY
_POS_OR_KW = inspect.Parameter.POSITIONAL_OR_KEYWORD
_KW_ONLY = inspect.Parameter.KEYWORD_ONLY

# ordering buckets for synthesized signatures
_KIND_ORDER = {_POS_ONLY: 0, _POS_OR_KW: 1, _VAR_POS: 2, _KW_ONLY: 3, _VAR_KW: 4}


@dataclass(frozen=True)
class MLDagInput:
    """Externally-visible parameter bound to a (node, slot) pair."""

    name: str
    node: NodeBase
    slot: str
    default: Any = _EMPTY
    kind: inspect._ParameterKind = _POS_OR_KW


@dataclass(frozen=True)
class MLDagOutput:
    name: str
    node: NodeBase
    slot: str


class DagSlot:
    """Proxy for a named DAG port: ``dag['x'] >> node['slot']`` declares
    an input; ``node['out'] >> dag['res']`` declares an output."""

    def __init__(self, dag: "MLDag", name: str) -> None:
        self.dag = dag
        self.name = name

    def __rshift__(self, other):
        if isinstance(other, NodeSlot):
            self.dag.set_input(other.node, name=self.name, slot=other.slot)
            return other.node
        other = as_node(other)
        self.dag.set_input(other, name=self.name)
        return other

    def __lshift__(self, other):
        if isinstance(other, NodeSlot):
            self.dag.set_output(self.name, other.node, upstream_slot=other.slot)
            return other.node
        other = as_node(other)
        self.dag.set_output(self.name, other)
        return other


class MLDagRun:
    """One execution of a DAG. Single-use (``mldag.py:361-363``)."""

    def __init__(self, run_id: Optional[str] = None) -> None:
        self.run_id = run_id or str(uuid.uuid4())
        self.inputs: dict[str, dict[str, Any]] = {}
        self.node_inputs: dict[str, dict[str, Any]] = defaultdict(dict)
        self.node_outputs: dict[str, dict[str, Any]] = {}
        self.outputs: dict[str, Any] = {}


class MLDagMixin:
    """Around-advice hooks wrapped around every node call
    (``mldagbase.py:1290-1326``). Outermost mixin = last in the list."""

    def _fit(self, call_next: Callable, node: NodeBase, *args, **kwargs):
        return call_next(*args, **kwargs)

    def _transform(self, call_next: Callable, node: NodeBase, *args, **kwargs):
        return call_next(*args, **kwargs)

    def _start_run(self, run_id: str) -> None:
        pass

    def _end_run(self, run_id: str) -> None:
        pass


class MLDag(Graph):
    """A graph of fit/transform nodes with named public inputs/outputs."""

    def __init__(self, mixins: Optional[list[MLDagMixin]] = None) -> None:
        super().__init__()
        self.inputs: list[MLDagInput] = []
        self.outputs: list[MLDagOutput] = []
        self.node_dict: dict[str, NodeBase] = {}
        self.mixins: list[MLDagMixin] = list(mixins or [])
        self._update_signatures()

    # ------------------------------------------------------------------
    # vertex bookkeeping
    # ------------------------------------------------------------------
    def _on_vertex_added(self, vertex) -> None:
        if not isinstance(vertex, NodeBase):
            raise GraphError("only NodeBase vertices may join an MLDag")
        if vertex.name is None:
            vertex.name = snake_case(type(vertex).__name__)
        base, n = vertex.name, 0
        while vertex.name in self.node_dict:
            n += 1
            vertex.name = f"{base}_{n}"
        self.node_dict[vertex.name] = vertex
        hook = getattr(vertex, "_on_added_to_graph", None)
        if hook is not None and getattr(vertex, "_ports_copied", True) is False:
            try:
                hook()
            except MLDagError:
                pass  # parent may not be attached yet; resolved lazily

    def _on_vertex_removed(self, vertex) -> None:
        if isinstance(vertex, NodeBase) and vertex.name in self.node_dict:
            del self.node_dict[vertex.name]
        self.inputs = [i for i in self.inputs if i.node is not vertex]
        self.outputs = [o for o in self.outputs if o.node is not vertex]
        self._update_signatures()

    def add(self, obj: Any, name: Optional[str] = None) -> NodeBase:
        """Attach an object (node / callable / estimator / dag) as a node."""
        node = as_node(obj, name=name)
        self.add_vertex(node)
        return node

    # ------------------------------------------------------------------
    # wiring
    # ------------------------------------------------------------------
    def connect(
        self,
        upstream: NodeBase,
        downstream: NodeBase,
        upstream_slot: Optional[str] = None,
        downstream_slot: Optional[str] = None,
    ) -> NodeConnection:
        """Wire one output slot to one input slot, inferring each side
        when unambiguous (``mldagbase.py:1849-1913``): a unique output;
        a unique *unbound required* input (falling back to a unique
        unbound input of any kind). Ambiguity raises."""
        for v in (upstream, downstream):
            if v.graph is None:
                self.add_vertex(v)
            elif v.graph is not self:
                raise GraphError(f"{v!r} belongs to a different graph")

        if upstream_slot is None:
            outs = upstream.outputs
            if len(outs) != 1:
                raise SlotError(
                    f"{upstream} has {len(outs)} output slots "
                    f"{[o.name for o in outs]}; specify upstream_slot"
                )
            upstream_slot = outs[0].name

        if downstream_slot is None:
            unbound = [
                s for s in downstream.inputs
                if s.is_variadic or not self._slot_is_bound(downstream, s.name)
            ]
            required = [s for s in unbound if s.required]
            pool = required or unbound
            if len(pool) != 1:
                raise SlotError(
                    f"cannot infer input slot on {downstream}; candidates: "
                    f"{[s.name for s in pool]}"
                )
            downstream_slot = pool[0].name

        slot_def = self._input_slot_def(downstream, downstream_slot)
        if not slot_def.is_variadic and self._slot_is_bound(downstream, downstream_slot):
            raise SlotError(
                f"input slot {downstream_slot!r} of {downstream} already has a "
                "writer (single-writer-per-input-slot)"
            )
        conn = NodeConnection(upstream, downstream, upstream_slot, downstream_slot)
        self.add_edge(conn)
        return conn

    def disconnect(self, upstream: NodeBase, downstream: NodeBase) -> None:
        for e in self.get_edges(upstream, downstream):
            self.remove_edge(e)

    def _input_slot_def(self, node: NodeBase, slot: str) -> InputSlot:
        for s in node.inputs:
            if s.name == slot:
                return s
        raise SlotError(f"{node} has no input slot {slot!r}")

    def _slot_is_bound(self, node: NodeBase, slot: str) -> bool:
        """A slot is bound if an edge writes to it or it is a DAG input."""
        for e in self.get_upstream_edges(node):
            if isinstance(e, NodeConnection) and e.downstream_slot == slot:
                return True
        return any(i.node is node and i.slot == slot for i in self.inputs)

    # ------------------------------------------------------------------
    # public ports
    # ------------------------------------------------------------------
    def set_input(
        self,
        node: Any,
        name: Optional[str] = None,
        slot: Optional[str] = None,
        suffix: Optional[str] = None,
    ) -> NodeBase:
        """Attach ``node`` and register external input(s).

        With ``slot=None`` every unbound input slot is registered; the
        default public name is ``f'{slot}_{node.name}'`` (or
        ``slot + suffix``), variadic slots keep the canonical names
        ``args``/``kwargs`` (``mldagbase.py:1705-1813``).
        """
        node = as_node(node)
        if node.graph is None:
            self.add_vertex(node)
        elif node.graph is not self:
            raise GraphError(f"{node!r} belongs to a different graph")

        if slot is not None:
            slots = [self._input_slot_def(node, slot)]
        else:
            slots = [
                s for s in node.inputs
                if s.is_variadic or not self._slot_is_bound(node, s.name)
            ]
            if name is not None and len(slots) > 1:
                required = [s for s in slots if s.required]
                if len(required) == 1:
                    slots = required
                else:
                    raise SlotError(
                        f"explicit input name {name!r} is ambiguous over slots "
                        f"{[s.name for s in slots]}; specify slot"
                    )
        if not slots:
            raise SlotError(f"{node} has no unbound input slots")

        for s in slots:
            if not s.is_variadic and self._slot_is_bound(node, s.name):
                raise SlotError(
                    f"input slot {s.name!r} of {node} already has a writer"
                )
            if s.is_variadic:
                public = "args" if s.kind == _VAR_POS else "kwargs"
            elif name is not None:
                public = name
            elif suffix is not None:
                public = f"{s.name}{suffix}"
            else:
                public = f"{s.name}_{node.name}"
            self.inputs.append(
                MLDagInput(
                    name=public, node=node, slot=s.name,
                    default=s.default, kind=s.kind,
                )
            )
        self._update_signatures()
        return node

    def remove_input(self, name: str) -> None:
        before = len(self.inputs)
        self.inputs = [i for i in self.inputs if i.name != name]
        if len(self.inputs) == before:
            raise SlotError(f"no DAG input named {name!r}")
        self._update_signatures()

    def remove_input_node(self, node: NodeBase) -> None:
        self.inputs = [i for i in self.inputs if i.node is not node]
        self._update_signatures()

    def set_output(
        self, name: str, node: Any, upstream_slot: Optional[str] = None
    ) -> None:
        node = as_node(node)
        if any(o.name == name for o in self.outputs):
            raise SlotError(f"DAG output {name!r} already declared")
        if node.graph is None:
            self.add_vertex(node)
        if upstream_slot is None:
            outs = node.outputs
            if len(outs) != 1:
                raise SlotError(
                    f"{node} has {len(outs)} outputs; specify upstream_slot"
                )
            upstream_slot = outs[0].name
        if upstream_slot not in {o.name for o in node.outputs}:
            raise SlotError(f"{node} has no output slot {upstream_slot!r}")
        self.outputs.append(MLDagOutput(name=name, node=node, slot=upstream_slot))

    # ------------------------------------------------------------------
    # synthesized public signature
    # ------------------------------------------------------------------
    @property
    def input_names(self) -> list[str]:
        return [p for p in self._signature.parameters]

    def _build_signature(self) -> inspect.Signature:
        """Merge all ``MLDagInput``s into one coherent signature.

        Simplified from the reference's 300-line synthesis
        (``_connectable_utils.py:269-480``): duplicates with the same
        kind merge (conflicting defaults drop the default); the same
        name with *different* kinds is rejected outright instead of
        resolved by a priority ladder (SURVEY §7 design decision).
        """
        merged: dict[str, MLDagInput] = {}
        for i in self.inputs:
            if i.name in merged:
                prev = merged[i.name]
                if prev.kind != i.kind:
                    raise SlotError(
                        f"DAG input {i.name!r} declared with conflicting kinds "
                        f"{prev.kind!s} vs {i.kind!s}"
                    )
                default = prev.default if prev.default == i.default else _EMPTY
                merged[i.name] = MLDagInput(
                    i.name, prev.node, prev.slot, default, prev.kind
                )
            else:
                merged[i.name] = i
        params = [
            inspect.Parameter(
                i.name,
                # Python-keyword input names ('in', 'for', ...) are
                # legal DAG ports in the reference
                # (test_mldag_doc.py:246: p['in'] >> a); inspect only
                # admits keyword names as POSITIONAL_ONLY, which still
                # binds positionally and renders in docs
                _POS_ONLY if keyword.iskeyword(i.name) else i.kind,
                default=(i.default if i.default is not _EMPTY else _EMPTY),
            )
            for i in merged.values()
        ]
        # bucket by kind; required-before-defaulted within positional
        params.sort(key=lambda p: (
            _KIND_ORDER[p.kind],
            0 if p.default is _EMPTY else 1,
        ))
        if "run_id" not in merged:
            params.append(
                inspect.Parameter("run_id", _KW_ONLY, default=None)
            )
        # keyword params must come before **kwargs
        params.sort(key=lambda p: (_KIND_ORDER[p.kind],))
        return inspect.Signature(params)

    _DOC_HEADERS = {
        # verb-specific summary lines matching the reference's wording
        # (tests/test_mldag_doc.py:40-95). Since r5 the full layout is
        # byte-identical to the reference's goldens: 18-dash section
        # rules, the fit-specific `run_id : optional, str` inversion,
        # and the shorter fit Returns text (pinned in
        # tests/test_docstrings.py against every reference golden).
        "fit": (
            "Main method for fitting mldag.\n"
            "Sequentially calls fit and transform in width-first order"
        ),
        "transform": (
            "Method for transforming based on previously fitted parameters"
        ),
        "fit_transform": (
            "Fits the mldag, then transforms with the freshly fitted "
            "parameters in one pass"
        ),
    }

    def _param_type_name(self, name: str) -> Optional[str]:
        """Infer a display type for a DAG input from the downstream
        node (reference behavior ``mldagbase.py:1783-1795``): the bound
        slot's entry in the node callable's numpydoc Parameters section
        wins (``test_mldag_doc.py:258-301`` pins `in_a : a_type` from a
        docstring-only type), else the signature annotation
        (``test_mldag_doc.py:12,46`` pins `i_X : str` from `X: str`)."""
        from mldag_spark.core.introspect import docstring_param_types

        for i in self.inputs:
            if i.name != name:
                continue
            fn = (
                getattr(i.node, "_introspect_ref", None)
                or getattr(i.node, "func", None)
                or getattr(i.node, "transform", None)
            )
            doc_type = docstring_param_types(inspect.getdoc(fn)).get(i.slot)
            if doc_type:
                return doc_type
            try:
                ann = inspect.signature(fn).parameters[i.slot].annotation
            except (TypeError, ValueError, KeyError):
                continue
            if ann is inspect.Parameter.empty:
                continue
            return getattr(ann, "__name__", str(ann))
        return None

    # the reference's 18-dash section rule (test_mldag_doc.py:51,57)
    _DOC_RULE = "-" * 18

    # verb-specific run_id and Returns blocks, byte-identical to the
    # reference goldens (test_mldag_doc.py:46-55 fit — note the
    # inverted `optional, str` — and :57-71 transform)
    _DOC_RUN_ID = {
        "fit": "run_id : optional, str\n    run identifier string",
        "transform": "run_id : str, optional\n    mldag run identifier",
        "fit_transform": "run_id : str, optional\n    mldag run identifier",
    }
    _DOC_RETURNS = {
        "fit": "run : MLDagRun\n    computed mldag run",
        "transform": (
            "run : MLDagRun\n"
            "    computed mldag run containing all node outputs"
        ),
        "fit_transform": (
            "run : MLDagRun\n"
            "    computed mldag run containing all node outputs"
        ),
    }

    def _render_docstring(
        self, verb: str, names: Iterable[str], returns: list[str]
    ) -> str:
        """numpydoc body for ``verb``: one Parameters entry per name in
        ``names`` (typed from the bound node, listing the nodes it feeds;
        ``run_id`` gets the verb's fixed entry), then the ``returns``
        lines. Shared by this DAG's own verbs and by ``MLDagNode``."""
        lines = [self._DOC_HEADERS[verb], "", "Parameters", self._DOC_RULE]
        for name in names:
            if name == "run_id":
                lines += [self._DOC_RUN_ID[verb], ""]
                continue
            targets = dict.fromkeys(i.node.name for i in self.inputs if i.name == name)
            type_name = self._param_type_name(name)
            head = f"{name} : {type_name}" if type_name else name
            lines += [head, f"    Downstream node - {', '.join(targets)}", ""]
        lines += ["Returns", self._DOC_RULE] + returns
        return "\n".join(lines).strip()

    def _update_signatures(self) -> None:
        self._signature = self._build_signature()
        self._param_mapping: dict[str, list[tuple[NodeBase, str]]] = defaultdict(list)
        for i in self.inputs:
            self._param_mapping[i.name].append((i.node, i.slot))
        for verb in ("fit", "transform", "fit_transform"):
            doc = self._render_docstring(
                verb, self._signature.parameters, [self._DOC_RETURNS[verb]]
            )
            bind_documented(self, verb, doc, self._signature)

    # ------------------------------------------------------------------
    # argument parsing / routing
    # ------------------------------------------------------------------
    def _parse_arguments(self, args, kwargs):
        """Map DAG-level args onto per-node slot dicts using the
        synthesized signature (``mldagbase.py:1915-1982``)."""
        try:
            bound = self._signature.bind(*args, **kwargs)
        except TypeError as e:
            raise MLDagError(f"bad arguments for DAG: {e}") from e
        bound.apply_defaults()
        arguments = dict(bound.arguments)
        run_id = arguments.pop("run_id", None)
        per_node: dict[NodeBase, dict[str, Any]] = defaultdict(dict)
        for pname, value in arguments.items():
            param = self._signature.parameters[pname]
            for node, slot in self._param_mapping.get(pname, []):
                if param.kind == _VAR_POS:
                    per_node[node].setdefault(slot, []).extend(value)
                elif param.kind == _VAR_KW:
                    per_node[node].setdefault(slot, {}).update(value)
                else:
                    per_node[node][slot] = value
        return per_node, run_id

    @staticmethod
    def _build_call(node: NodeBase, slot_values: dict[str, Any]):
        """Per-node dict → ``(args, kwargs)`` matching the node's real
        signature (inverse of ``inspect.getcallargs``,
        ``_connectable_utils.py:93-147``)."""
        args: list[Any] = []
        kwargs: dict[str, Any] = {}
        has_varpos = any(s.kind == _VAR_POS for s in node.inputs)
        for s in node.inputs:
            if s.kind == _VAR_POS:
                args.extend(slot_values.get(s.name, []))
            elif s.kind == _VAR_KW:
                kwargs.update(slot_values.get(s.name, {}))
            elif s.kind == _POS_ONLY or (has_varpos and s.kind == _POS_OR_KW):
                if s.name in slot_values:
                    args.append(slot_values[s.name])
                elif s.default is not _EMPTY:
                    args.append(s.default)
                else:
                    raise MLDagError(
                        f"missing value for required slot {s.name!r} of {node}"
                    )
            else:
                if s.name in slot_values:
                    kwargs[s.name] = slot_values[s.name]
                elif s.default is _EMPTY:
                    raise MLDagError(
                        f"missing value for required slot {s.name!r} of {node}"
                    )
        return args, kwargs

    @staticmethod
    def _parse_node_output(node: NodeBase, value: Any) -> dict[str, Any]:
        """Normalize a node's return into ``{output_name: value}``
        (``mldag.py:14-67``). A single-output node may return any value;
        multi-output nodes must return a tuple/list of matching arity or
        a dict with exactly the declared keys."""
        outs = [o.name for o in node.outputs]
        if len(outs) == 1:
            return {outs[0]: value}
        if isinstance(value, dict):
            if set(value) != set(outs):
                raise MLDagError(
                    f"{node} returned dict keys {sorted(value)} but declares "
                    f"outputs {outs}"
                )
            return dict(value)
        if isinstance(value, (tuple, list)):
            if len(value) != len(outs):
                raise MLDagError(
                    f"{node} returned {len(value)} values but declares "
                    f"{len(outs)} outputs {outs}"
                )
            return dict(zip(outs, value))
        raise MLDagError(
            f"{node} declares {len(outs)} outputs {outs} but returned a "
            f"single {type(value).__name__}"
        )

    def _route_downstream(
        self, run: MLDagRun, node: NodeBase, outputs: dict[str, Any]
    ) -> None:
        for e in self.get_downstream_edges(node):
            if not isinstance(e, NodeConnection):
                continue
            value = outputs[e.upstream_slot]
            target = e.downstream
            slot_def = self._input_slot_def(target, e.downstream_slot)
            store = run.node_inputs[target.name]
            if slot_def.kind == _VAR_POS:
                store.setdefault(e.downstream_slot, []).append(value)
            elif slot_def.kind == _VAR_KW:
                store.setdefault(e.downstream_slot, {})[e.upstream_slot] = value
            else:
                if e.downstream_slot in store:
                    raise MLDagError(
                        f"duplicate value for slot {e.downstream_slot!r} of "
                        f"{target}"
                    )
                store[e.downstream_slot] = value

    # ------------------------------------------------------------------
    # execution
    # ------------------------------------------------------------------
    def _schedule(self) -> Iterator[NodeBase]:
        """Kahn-style topological order, breadth-first tie-break, honoring
        order-only dependencies (``mldag.py:394-459``)."""
        nodes = [v for v in self._vertices.values() if isinstance(v, NodeBase)]
        done: set[int] = set()
        remaining = list(nodes)
        while remaining:
            progressed = False
            for n in list(remaining):
                ups = {id(e.upstream) for e in self.get_upstream_edges(n)}
                deps = {id(d) for d in n.dependencies.values()}
                if ups <= done and deps <= done:
                    yield n
                    done.add(id(n))
                    remaining.remove(n)
                    progressed = True
            if remaining and not progressed:
                raise GraphError(
                    "cycle detected (possibly via dependencies): "
                    f"{[n.name for n in remaining]}"
                )

    def _wrap_mixins(self, verb: str, node: NodeBase, call: Callable) -> Callable:
        wrapped = call
        for mixin in self.mixins:  # outermost = last in list
            hook = getattr(mixin, f"_{verb}")

            def make(hook, inner):
                def call_next(*a, **k):
                    return hook(inner, node, *a, **k)

                return call_next

            wrapped = make(hook, wrapped)
        return wrapped

    @staticmethod
    def _active_spark_context():
        try:
            from pyspark.sql import SparkSession

            spark = SparkSession.getActiveSession()
            return None if spark is None else spark.sparkContext
        except Exception:
            return None

    @staticmethod
    def _set_job_description(sc, value: str | None) -> None:
        # None clears the property
        if sc is not None:
            try:
                sc.setJobDescription(value)
            except Exception:
                pass

    @classmethod
    def _tag_spark_job(cls, sc, run: MLDagRun, node: NodeBase, verb: str) -> None:
        cls._set_job_description(sc, f"mldag[{run.run_id[:8]}] {verb} {node.name}")

    def _execute(
        self,
        args,
        kwargs,
        compute_fit: bool,
        transform_leaf_nodes: bool,
    ) -> MLDagRun:
        per_node, run_id = self._parse_arguments(args, kwargs)
        run = MLDagRun(run_id)
        run.inputs = {n.name: dict(v) for n, v in per_node.items()}
        for node, slots in per_node.items():
            for slot, value in slots.items():
                store = run.node_inputs[node.name]
                if slot in store:
                    raise MLDagError(
                        f"duplicate value for slot {slot!r} of {node}"
                    )
                store[slot] = value

        # Spark jobs are labelled per node; the caller's own job
        # description is restored when the run ends, so its next action
        # is not labelled with the last node's name
        sc = self._active_spark_context()
        saved_description = (
            None if sc is None else sc.getLocalProperty("spark.job.description")
        )
        for m in self.mixins:
            m._start_run(run.run_id)
        try:
            for node in self._schedule():
                slot_values = run.node_inputs.get(node.name, {})
                call_args, call_kwargs = self._build_call(node, slot_values)
                try:
                    if compute_fit:
                        self._tag_spark_job(sc, run, node, "fit")
                        fit_call = self._wrap_mixins("fit", node, node.fit)
                        fit_call(*call_args, **call_kwargs)
                    if transform_leaf_nodes or not node.is_leaf():
                        self._tag_spark_job(sc, run, node, "transform")
                        t_call = self._wrap_mixins(
                            "transform", node, node.transform
                        )
                        raw = t_call(*call_args, **call_kwargs)
                        outputs = self._parse_node_output(node, raw)
                        run.node_outputs[node.name] = outputs
                        self._route_downstream(run, node, outputs)
                        for o in self.outputs:
                            if o.node is node:
                                run.outputs[o.name] = outputs[o.slot]
                except MLDagError:
                    raise
                except Exception as e:
                    raise NodeExecutionError(
                        f"Error occurred during {node.name}"
                    ) from e
        finally:
            self._set_job_description(sc, saved_description)
            for m in self.mixins:
                m._end_run(run.run_id)
        return run

    def fit(self, *args, **kwargs) -> MLDagRun:
        """Fit pass: per node in topo order run ``fit`` then
        ``transform`` — skipping transforms of leaf nodes."""
        return self._execute(args, kwargs, compute_fit=True, transform_leaf_nodes=False)

    def transform(self, *args, **kwargs) -> MLDagRun:
        """Transform pass: only ``transform`` per node, leaves included."""
        return self._execute(args, kwargs, compute_fit=False, transform_leaf_nodes=True)

    def fit_transform(self, *args, **kwargs) -> MLDagRun:
        """One pass: per node in topo order run ``fit`` then
        ``transform``, leaves included, so each transform runs once.
        Outputs equal ``fit`` followed by ``transform``."""
        return self._execute(args, kwargs, compute_fit=True, transform_leaf_nodes=True)

    # ------------------------------------------------------------------
    # sugar & introspection
    # ------------------------------------------------------------------
    def __getitem__(self, name: str) -> DagSlot:
        return DagSlot(self, name)

    def __rshift__(self, other):
        if isinstance(other, NodeSlot):
            self.set_input(other.node, slot=other.slot)
            return other.node
        other = as_node(other)
        self.set_input(other)
        return other

    def to_dict(self) -> dict:
        d = super().to_dict()
        names = {id(v): getattr(v, "name", None) for v in self._vertices.values()}
        d["inputs"] = [
            {"name": i.name, "node": names[id(i.node)], "slot": i.slot}
            for i in self.inputs
        ]
        d["outputs"] = [
            {"name": o.name, "node": names[id(o.node)], "slot": o.slot}
            for o in self.outputs
        ]
        return d

    @classmethod
    def from_dict(cls, data: dict, nodes: dict[str, NodeBase]) -> "MLDag":
        """Rebuild wiring from :meth:`to_dict` output given the live node
        objects by name. (Designed to actually round-trip, unlike the
        reference's ``from_dict`` — SURVEY §2.2 [verified broken].)"""
        dag = cls()
        order = [v["name"] for v in data["vertices"]]
        for name in order:
            dag.add(nodes[name], name=name)
        for e in data["edges"]:
            up = dag.node_dict[order[e["upstream"]]]
            down = dag.node_dict[order[e["downstream"]]]
            dag.connect(up, down, e["upstream_slot"], e["downstream_slot"])
        for i in data.get("inputs", []):
            node = dag.node_dict[i["node"]]
            # Re-derive default/kind from the live slot definition so a
            # loaded DAG keeps optional inputs optional and preserves
            # *args/**kwargs ports (same derivation as set_input).
            slot_def = dag._input_slot_def(node, i["slot"])
            dag.inputs.append(
                MLDagInput(name=i["name"], node=node, slot=i["slot"],
                           default=slot_def.default, kind=slot_def.kind)
            )
        for o in data.get("outputs", []):
            dag.outputs.append(
                MLDagOutput(name=o["name"], node=dag.node_dict[o["node"]],
                            slot=o["slot"])
            )
        dag._update_signatures()
        return dag

    def show(self, **kwargs):
        """Graphviz rendering of the DAG (metadata view)."""
        from mldag_spark.display import render

        return render(self, **kwargs)

    def explain(
        self, run: Optional[MLDagRun] = None, mode: str = "formatted"
    ) -> str:
        """Physical view. With a completed ``run``: every node in
        execution order with its DAG edge annotations and the Spark
        physical plan of each DataFrame output —
        ``display.to_dot``'s metadata graph mapped onto what Catalyst
        actually schedules (see
        :func:`mldag_spark.display.explain_run`). Without a run
        (plans only exist on materialized DataFrames): the declared
        output wiring."""
        if run is None:
            return "\n".join(
                f"-- output {o.name}: {o.node.name}[{o.slot}]"
                for o in self.outputs
            )
        from mldag_spark.display import explain_run

        return explain_run(self, run, mode)
