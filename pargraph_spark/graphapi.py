"""Thin task-graph front-end: ``@delayed``/``@graph`` tracing, topological
execution, JSON round-trip, Dask dict-graph ``get`` — the reference's
primary UX re-expressed for Spark.

Parity target (behavior, not mechanism):
- ``@delayed`` tracing and composition of pure Python functions
  (/root/reference/pargraph/graph/decorators.py:219-322);
- ``@graph`` composite (nested) tracing (decorators.py:105-217) — here a
  graph-decorated body executes at trace time, so its sub-expression
  flattens directly into the parent DAG (the reference reaches the same
  flat form via its explode_subgraphs rewrite, objects.py:826-932);
- the full operator-overload set on traced values (decorators.py:374-517);
- named multi-outputs via ``Result`` return annotations
  (annotation.py:5-72) with tuple unpacking;
- executable-graph serialization with pickled callables —
  ``to_json``/``from_json`` (objects.py:358-498, 264-273);
- Dask dict-graph execution: ``get({key: (fn, 'dep', ...)}, keys)``
  (engine.py:149-212 semantics: tuple tasks, key refs, nested lists).

Design stance (SURVEY.md §7.0): the reference needs a scheduler because
its tasks ARE the computation; here a task's body is usually a DataFrame
program, so the CLUSTER does the heavy lifting and this module only
orders node execution, runs independent nodes concurrently (threads
share the SparkSession; separate scheduler pools would give fairness if
needed) and memoizes shared dependencies (the diamond in a DAG runs
once, like the reference's ref-counted futures, engine.py:42-129).
There is no dict-graph IR, no rewrite engine — Catalyst culls/fuses
each node's plan.

Scheduling: compute() starts ``max_workers`` worker threads that pull
ready nodes from one queue. The worker that finishes a node stores its
result, counts down each dependent's unresolved dependencies and queues
every dependent that just became ready — so a node is released the
moment its last dependency finishes and a straggler never delays an
independent ready node (the property the reference gets from its
first-completed loop, engine.py:79-100), with no per-node future and no
round trip through the calling thread. Node bodies run on threads
because real nodes are Spark jobs that release the GIL in py4j calls.

Example::

    @delayed
    def edges(spark):   return build_edges(...)
    @delayed
    def ranks(e):       return pagerank(spark, e).ranks
    @delayed
    def top(r, k):      return r.orderBy(F.desc("rank")).limit(k)

    top(ranks(edges(spark)), 10).compute()          # traced DAG -> result
    g = task.to_graph(); s = g.to_json()            # portable artifact
    TaskGraph.from_json(s).compute()                # replay anywhere
"""

from __future__ import annotations

import base64
import functools
import inspect
import json
import operator
import queue
import re
import threading
import warnings
from typing import Annotated, Any, Callable, Iterable, get_args, get_origin

from pyspark import cloudpickle


class Result:
    """Annotate a function output with a name (reference annotation.py:5-31):

    .. code:: python

        @delayed
        def stats(xs) -> tuple[Annotated[float, Result("mean")],
                               Annotated[float, Result("max")]]:
            ...
        mean, mx = stats(data)   # two named Delayed outputs
    """

    def __init__(self, name: str):
        self.name = name

    def get_name(self) -> str:
        return self.name


def _get_output_names(function: Callable):
    """Output name(s) from the return annotation (reference
    annotation.py:34-72 semantics): no/plain annotation -> "result";
    Annotated[..., Result(n)] -> n; tuple[...] -> one name per element
    (Result name or positional "result_i"), duplicates rejected."""
    try:
        # eval_str resolves PEP-563 string annotations (modules with
        # `from __future__ import annotations`)
        annotation = inspect.signature(function, eval_str=True).return_annotation
    except (TypeError, ValueError, NameError):
        # builtins / operator.* have no signature; unresolvable string
        # annotations mean no declared outputs
        return "result"
    origin = get_origin(annotation)

    def one(ann, fallback: str) -> str:
        if get_origin(ann) is not Annotated:
            return fallback
        _, *meta = get_args(ann)
        results = [m for m in meta if isinstance(m, Result)]
        if len(results) != 1:
            raise ValueError(
                f"output with type '{ann}' must have exactly one Result annotation"
            )
        return results[0].get_name()

    if origin is not tuple:
        return one(annotation, "result")
    args = get_args(annotation)
    if Ellipsis in args:
        # variadic tuple[X, ...]: the element count is unknown at trace
        # time, so this is ONE output holding a tuple — not positional
        # outputs (ADVICE r4: the Ellipsis used to become 'result_1')
        return "result"
    names: list[str] = []
    for i, arg in enumerate(args):
        name = one(arg, f"result_{i}")
        if name in names:
            raise ValueError(f"found duplicate output name '{name}'")
        names.append(name)
    return tuple(names)


def _iter_deps(value: Any):
    """Yield every Delayed reachable from an argument value, traversing
    list/tuple/set/frozenset/dict containers — the one definition of
    which containers hold graph edges (dask-delayed style — ADVICE r3: a
    Delayed nested in a container used to be silently treated as a
    constant)."""
    if isinstance(value, Delayed):
        yield value
    elif isinstance(value, (list, tuple, set, frozenset)):
        for el in value:
            yield from _iter_deps(el)
    elif isinstance(value, dict):
        # keys too: Delayed is hashable (identity), so it can key a dict
        for k, el in value.items():
            yield from _iter_deps(k)
            yield from _iter_deps(el)


def _node_deps(node: "Delayed"):
    for v in (*node.args, *node.kwargs.values()):
        if isinstance(v, Delayed):  # the common case, without a generator
            yield v
        else:
            yield from _iter_deps(v)


def _substitute(value: Any, values: dict[int, Any]) -> Any:
    """``value`` with every Delayed ``d`` replaced by ``values[id(d)]``,
    through every container _iter_deps traverses (dict keys included).
    A container holding a Delayed is rebuilt as a plain
    list/tuple/set/frozenset/dict; any other value is returned as is."""
    if isinstance(value, Delayed):
        return values[id(value)]
    if (not isinstance(value, (list, tuple, set, frozenset, dict))
            or next(_iter_deps(value), None) is None):
        return value
    if isinstance(value, dict):
        return {_substitute(k, values): _substitute(v, values)
                for k, v in value.items()}
    kind = next(t for t in (list, tuple, set, frozenset) if isinstance(value, t))
    return kind(_substitute(el, values) for el in value)


class Delayed:
    """A traced call: ``fn(*args, **kwargs)`` whose arguments may be other
    Delayed nodes — directly, or nested inside list/tuple/dict containers.
    Building is free; nothing executes until compute()."""

    __slots__ = ("fn", "args", "kwargs", "name")

    def __init__(self, fn: Callable, args: tuple, kwargs: dict, name: str | None = None):
        self.fn = fn
        self.args = args
        self.kwargs = kwargs
        self.name = name or getattr(fn, "__name__", "task")

    # ---- execution ------------------------------------------------------
    def compute(self, scheduler: str = "threads", max_workers: int = 8,
                **kw: Any) -> Any:
        return compute(self, scheduler=scheduler, max_workers=max_workers, **kw)[0]

    def to_graph(self) -> "TaskGraph":
        return TaskGraph([self])

    # ---- ergonomics: operator overloads build further Delayed nodes -----
    # (full reference set, decorators.py:374-517; __hash__ stays identity —
    # the reference excludes hash overloading for the same purity reason)
    def _binop(self, op, other, swap=False):
        if swap:
            return Delayed(op, (other, self), {}, name=op.__name__)
        return Delayed(op, (self, other), {}, name=op.__name__)

    def __repr__(self) -> str:  # pragma: no cover
        return f"Delayed({self.name})"

    def __bool__(self) -> bool:
        raise TypeError(
            "Truth value of a Delayed node is undefined until compute(); "
            "Python's and/or/if cannot be traced (same constraint as the "
            "reference's GraphContext)."
        )

    def __iter__(self):
        # Without this, tuple-unpacking a single-output node would fall
        # back to the legacy __getitem__ sequence protocol and iterate
        # forever (getitem traces ANY index). Multi-output unpacking works
        # because tuple-annotated calls return a real tuple of nodes.
        raise TypeError(
            "Delayed is not iterable; declare multiple outputs with a "
            "tuple return annotation (optionally Result-named) to unpack."
        )

    __hash__ = object.__hash__  # identity — defining __eq__ would drop it


def _register_overloads() -> None:
    binary = [
        operator.add, operator.sub, operator.mul, operator.matmul,
        operator.truediv, operator.floordiv, operator.mod, divmod,
        operator.lshift, operator.rshift,
        operator.and_, operator.xor, operator.or_,
        operator.lt, operator.le, operator.eq, operator.ne,
        operator.gt, operator.ge, operator.getitem,
    ]
    reflected = [
        operator.add, operator.sub, operator.mul, operator.matmul,
        operator.truediv, operator.floordiv, operator.mod, divmod,
        operator.lshift, operator.rshift,
        operator.and_, operator.xor, operator.or_,
    ]
    unary = [operator.neg, operator.pos, operator.abs, operator.invert]

    def bin_meth(op):
        def meth(self, other):
            return self._binop(op, other)
        return meth

    def rbin_meth(op):
        def meth(self, other):
            return self._binop(op, other, swap=True)
        return meth

    def un_meth(op):
        def meth(self):
            return Delayed(op, (self,), {}, name=op.__name__)
        return meth

    for op in binary:
        setattr(Delayed, f"__{op.__name__.strip('_')}__", bin_meth(op))
    for op in reflected:
        setattr(Delayed, f"__r{op.__name__.strip('_')}__", rbin_meth(op))
    for op in unary:
        setattr(Delayed, f"__{op.__name__.strip('_')}__", un_meth(op))

    def _pow(self, other, mod=None):
        if mod is None:
            return self._binop(operator.pow, other)
        return Delayed(pow, (self, other, mod), {}, name="pow")

    def _rpow(self, other):
        return self._binop(operator.pow, other, swap=True)

    def _round(self, ndigits=None):
        return Delayed(round, (self, ndigits), {}, name="round")

    Delayed.__pow__ = _pow
    Delayed.__rpow__ = _rpow
    Delayed.__round__ = _round

    # contains / format / index (reference decorators.py:393,444-445).
    # Caveat shared with the reference: Python COERCES the results of
    # `x in y` / operator.contains (via bool) and `format(y)` /
    # f-strings (must return str), so those spellings raise at trace
    # time — the traceable spellings are the direct dunder calls
    # td.__contains__(x), td.__format__(spec), td.__index__().
    def _contains(self, other):
        return self._binop(operator.contains, other)

    def _format(self, spec=""):
        return Delayed(format, (self, spec), {}, name="format")

    def _index(self):
        return Delayed(operator.index, (self,), {}, name="index")

    Delayed.__contains__ = _contains
    Delayed.__format__ = _format
    Delayed.__index__ = _index


_register_overloads()


def _getattr_node(obj: Any, name: str) -> Any:
    return getattr(obj, name)


def _call_node(fn: Callable, args: tuple, kwargs: dict) -> Any:
    return fn(*args, **kwargs)


def _traced_getattr(self: "Delayed", item: str) -> "Delayed":
    """Trace attribute access on a Delayed into a getattr node (reference
    decorators.py:61-71 behavior): dunder probes raise AttributeError so
    pickling / copy / inspect protocols stay honest; anything else warns
    (a dedicated delayed function is clearer) and defers the lookup."""
    if item.startswith("__"):
        raise AttributeError(f"Attribute {item} not found")
    warnings.warn(
        "Accessing attributes on a Delayed node is not recommended; "
        "prefer a dedicated @delayed function",
        stacklevel=2,
    )
    return Delayed(_getattr_node, (self, item), {}, name="getattr")


def _traced_call(self: "Delayed", *args: Any, **kwargs: Any) -> "Delayed":
    """Trace calling a Delayed into a call node (reference
    decorators.py:73-86 behavior): the callee resolves at execution time;
    nested Delayed args/kwargs resolve through the container walk."""
    warnings.warn(
        "Calling a Delayed node is not recommended; "
        "prefer a dedicated @delayed function",
        stacklevel=2,
    )
    return Delayed(_call_node, (self, args, kwargs), {}, name="call")


Delayed.__getattr__ = _traced_getattr
Delayed.__call__ = _traced_call


def _wrap_call(fn: Callable, args: tuple, kwargs: dict):
    """Build the Delayed node(s) for one traced call, honoring a tuple /
    Result return annotation: multi-output functions return a tuple of
    named getitem views over the single call node (reference
    objects.py:1219-1227 unpacking UX)."""
    names = _get_output_names(fn)
    node = Delayed(fn, args, kwargs)
    if isinstance(names, tuple):
        return tuple(
            Delayed(operator.getitem, (node, i), {}, name=nm)
            for i, nm in enumerate(names)
        )
    return node


def delayed(fn: Callable) -> Callable:
    """Decorator: calls build Delayed nodes instead of executing. Pure
    functions only (same contract as the reference's @delayed). A tuple
    return annotation (optionally with Result names) makes calls return a
    tuple of Delayed outputs that unpack naturally."""

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        return _wrap_call(fn, args, kwargs)

    wrapper.__wrapped__ = fn
    return wrapper


def graph(function: Callable) -> Callable:
    """Composite (nested-subgraph) tracing — the reference's ``@graph``
    (decorators.py:105-217). The decorated body must be composed of
    @delayed/@graph calls and overloaded expressions on its arguments.

    Called with any Delayed argument: the body runs immediately at trace
    time, so the sub-expression it builds flattens into the parent DAG
    (the reference represents the nesting as a GraphCall node and offers
    explode_subgraphs to flatten; here flat IS the representation — the
    scheduler then sees maximum node-level parallelism).

    Called with all-concrete arguments: the traced expression is computed
    on the spot and the VALUE is returned — the reference's direct-call
    short-circuit (decorators.py:131-133), which makes the metamorphic
    identity `g(x) == g(delayed_x).compute()` hold by construction.

    Variadic parameters are rejected, as in the reference
    (decorators.py:121-124)."""
    sig = inspect.signature(function)
    for param in sig.parameters.values():
        if param.kind in (inspect.Parameter.VAR_POSITIONAL, inspect.Parameter.VAR_KEYWORD):
            raise ValueError(
                "Variadic positional and/or keyword arguments are not supported"
            )

    @functools.wraps(function)
    def wrapper(*args, **kwargs):
        traced = any(
            True for v in list(args) + list(kwargs.values()) for _ in _iter_deps(v)
        )
        result = function(*args, **kwargs)
        if traced:
            return result
        # direct call: materialize any Delayed the body built
        return _materialize(result)

    wrapper.__wrapped__ = function
    return wrapper


def _materialize(result):
    """Compute every Delayed inside a direct-call @graph result, through
    every container shape _iter_deps traverses — review r5: a body
    returning [d1, d2] used to leak uncomputed Delayed objects to the
    caller, breaking the direct-call identity. All found nodes go
    through ONE compute() call so shared subgraphs stay memoized across
    container elements."""
    found = list(_iter_deps(result))
    if not found:
        return result
    return _substitute(result, dict(zip(map(id, found), compute(*found))))


def _dep_order(roots: Iterable, deps: Callable[[Any], Iterable],
               key: Callable[[Any], Any] = lambda x: x,
               what: str = "key") -> list:
    """Dependency-first order: every item reachable from ``roots``, each
    once (identity ``key(item)``), after every item ``deps(item)`` yields —
    the post-order a left-to-right recursive walk emits. Iterative, so
    chains thousands deep never reach the recursion limit. A dependency
    still on the current path closes a cycle → ValueError."""
    order: list = []
    done: set = set()
    for root in roots:
        if key(root) in done:
            continue
        path = {key(root)}
        stack = [(root, iter(deps(root)))]
        while stack:
            item, pending = stack[-1]
            for dep in pending:
                k = key(dep)
                if k in path:
                    raise ValueError(f"cycle detected at {what} {dep!r}")
                if k not in done:
                    path.add(k)
                    stack.append((dep, iter(deps(dep))))
                    break
            else:
                stack.pop()
                k = key(item)
                path.discard(k)
                done.add(k)
                order.append(item)
    return order


def _walk(roots: list[Delayed]) -> list[Delayed]:
    """Deterministic post-order over the DAG (dependencies first), each
    node once (by identity — a shared dependency is a single node).
    Container arguments (list/tuple/set/frozenset/dict) are traversed."""
    return _dep_order(roots, _node_deps, key=id)


def _plan(roots: list[Delayed]):
    """The _walk order plus the threaded scheduler's tables, built in the
    same walk: the nodes with no Delayed dependency (``sources``, in walk
    order); per node id with k > 1 distinct dependencies, a countdown
    ``[0, ..., k-1]``; per dependency id, the nodes consuming it."""
    sources: list[Delayed] = []
    countdown: dict[int, list[int]] = {}
    dependents: dict[int, list[Delayed]] = {}

    def deps(node: Delayed):
        distinct = {id(d): d for d in _node_deps(node)}
        if not distinct:
            sources.append(node)
        elif len(distinct) > 1:
            countdown[id(node)] = list(range(len(distinct)))
        for d in distinct:
            dependents.setdefault(d, []).append(node)
        return distinct.values()

    return _dep_order(roots, deps, key=id), sources, countdown, dependents


class Backend:
    """Pluggable executor protocol (reference engine.py:16-18): anything
    with ``submit(fn, *args, **kwargs) -> concurrent.futures.Future``.
    Every ``concurrent.futures.Executor`` already satisfies it; subclass
    this (or duck-type) to route node execution elsewhere — e.g. a pool
    with per-query Spark scheduler pools, or a remote submission shim.

    compute() calls ``submit`` once per node, from its worker threads, and
    blocks on the returned future's ``result()`` in that worker — so at
    most ``max_workers`` nodes are in flight on a backend, and ``submit``
    must be thread-safe (every ``concurrent.futures.Executor`` is)."""

    def submit(self, fn: Callable, /, *args: Any, **kwargs: Any):
        raise NotImplementedError


def _unbound_input(*, key: str) -> Any:
    raise ValueError(
        f"external input {key!r} is unbound; pass inputs={{{key!r}: value}} "
        "to compute()"
    )


def external_input(name: str) -> Delayed:
    """Placeholder node whose value binds at COMPUTE time, not trace time
    (reference decorators.py:97-103 unbound inputs): build a graph once,
    serialize it, then run it against different inputs via
    ``compute(root, inputs={name: value})``. Unbound at execution →
    a clear ValueError naming the missing input."""
    return Delayed(_unbound_input, (), {"key": name}, name=f"input:{name}")


def compute(
    *roots: Delayed,
    scheduler: str = "threads",
    max_workers: int = 8,
    backend: Backend | None = None,
    inputs: dict[str, Any] | None = None,
) -> list[Any]:
    """Execute the DAG under the given roots; returns one result per root.

    scheduler="threads" runs independent ready nodes concurrently on
    ``max_workers`` driver threads (concurrent Spark job submission — the
    idiomatic Spark counterpart of the reference's process backends,
    which would only add pickling overhead around JVM-side work). Release
    is worker-driven: the thread that finishes a node queues every
    dependent that was waiting only on it, so a straggler never delays an
    independent ready node. At most ``max_workers`` nodes run at once.
    scheduler="sync" runs nodes sequentially in topological order.
    backend: optional Backend/Executor that runs each node instead: a
    worker thread calls ``backend.submit(node_fn, node)`` and blocks on
    its result, so ``max_workers`` also bounds the nodes in flight on the
    backend and ``submit`` is called from worker threads (it must be
    thread-safe). Sync mode ignores it. inputs: values for
    external_input() placeholders.
    Shared nodes are computed exactly once (memoized per compute call).
    The first node error is re-raised once the running nodes finish; no
    node that depends on the failed one runs.
    Delayed nodes nested inside list/tuple/set/frozenset/dict arguments
    are resolved in place (the container is rebuilt with results
    substituted)."""
    if scheduler not in ("threads", "sync"):
        raise ValueError(f"unknown scheduler {scheduler!r}")
    results: dict[int, Any] = {}

    def run(node: Delayed):
        if node.fn is _unbound_input:
            key = node.kwargs["key"]
            if inputs is not None and key in inputs:
                return inputs[key]
            _unbound_input(key=key)  # raises with the missing-input message
        args = [_substitute(a, results) for a in node.args]
        kwargs = {k: _substitute(v, results) for k, v in node.kwargs.items()}
        return node.fn(*args, **kwargs)

    if scheduler == "sync":
        for node in _walk(list(roots)):
            results[id(node)] = run(node)
    else:
        if max_workers < 1:
            raise ValueError("max_workers must be at least 1")
        call = run if backend is None else (
            lambda node: backend.submit(run, node).result()
        )
        _run_workers(_plan(list(roots)), call, results, max_workers)
    return [results[id(r)] for r in roots]


def _run_workers(plan, call: Callable[[Delayed], Any],
                 results: dict[int, Any], max_workers: int) -> None:
    """Run every node of a _plan through ``call`` on up to ``max_workers``
    threads, storing each value in ``results`` by node id.

    Workers pull ready nodes from one queue. The worker that finishes a
    node stores its value, then for each dependent pops one entry off its
    countdown and queues it when that entry is 0 (a node with a single
    dependency is queued at once). When every node is done, or on the
    first error, each worker gets a stop sentinel; this thread joins them
    all, then re-raises that error.

    The countdowns take no lock: list.pop() and list.append() are atomic
    (Python FAQ, "What kinds of global value mutation are thread-safe?"),
    so exactly one worker pops a countdown's 0. A lock around them made
    the workers queue on it after nearly every node, each hand-off a
    context switch that cost more than the node itself."""
    order, sources, countdown, dependents = plan
    ready: queue.SimpleQueue = queue.SimpleQueue()
    for node in sources:
        ready.put(node)
    n_threads = min(max_workers, len(order))
    left = list(range(len(order)))
    errors: list[BaseException] = []
    stopped = False
    stop_lock = threading.Lock()

    def stop() -> None:
        nonlocal stopped
        with stop_lock:
            if not stopped:
                stopped = True
                for _ in range(n_threads):
                    ready.put(None)

    def worker() -> None:
        while True:
            node = ready.get()
            if node is None or stopped:
                return
            try:
                value = call(node)
            except BaseException as e:
                errors.append(e)
                stop()
                return
            results[id(node)] = value
            for m in dependents.get(id(node), ()):
                c = countdown.get(id(m))
                if c is None or not c.pop():
                    ready.put(m)
            if not left.pop():
                stop()

    threads = [threading.Thread(target=worker, name=f"graphapi-worker-{i}",
                                daemon=True) for i in range(n_threads)]
    for t in threads:
        t.start()
    try:
        for t in threads:
            t.join()
    finally:
        stop()  # after an interrupted join, lets the workers wind down
    if errors:
        raise errors[0]


# ---------------------------------------------------------------------------
# Dask dict-graph compatibility (reference engine.py:149-212, README.md:160)
# ---------------------------------------------------------------------------


def _is_task(value: Any) -> bool:
    return isinstance(value, tuple) and len(value) > 0 and callable(value[0])


def get(dsk: dict, keys, scheduler: str = "threads", max_workers: int = 8):
    """Execute a Dask-style dict graph — the reference's drop-in-for-Dask
    entry point (``engine.get``). Semantics mirrored from the reference's
    engine (and Dask's spec): a value that is a tuple with a callable head
    is a task; task arguments may be keys of the graph (hashable values
    present as keys), nested tasks, or lists of these; any other value is
    a literal. ``keys`` is one key or an arbitrarily nested list of keys;
    the result has the same shape. Shared dependencies compute once; a
    reference cycle raises ValueError (reference tests/test_engine.py
    shapes: literals, nested tasks, list aggregation)."""
    def refs(value):
        """Graph keys that ``value`` names (task arguments, list elements)."""
        if _is_task(value):
            for a in value[1:]:
                yield from refs(a)
        elif isinstance(value, list):
            for el in value:
                yield from refs(el)
        else:
            try:
                if value in dsk:
                    yield value
            except TypeError:  # unhashable literal
                pass

    def build_val(value):
        if _is_task(value):
            fn, *args = value
            return Delayed(
                fn, tuple(build_val(a) for a in args), {},
                name=getattr(fn, "__name__", "task"),
            )
        if isinstance(value, list):
            # lists act as containers; compute() resolves nested Delayed
            return [build_val(el) for el in value]
        try:
            if value in dsk:
                return memo[value]  # built earlier: dependencies first
        except TypeError:  # unhashable literal
            pass
        return value

    def requested(ks):
        if isinstance(ks, list):
            for k in ks:
                yield from requested(k)
        elif ks not in dsk:
            raise KeyError(f"key {ks!r} not in graph")
        else:
            yield ks

    memo: dict[Any, Any] = {}
    for key in _dep_order(requested(keys), lambda k: refs(dsk[k])):
        memo[key] = build_val(dsk[key])

    def shape(ks):
        return [shape(k) for k in ks] if isinstance(ks, list) else memo[ks]

    built = shape(keys)
    # one compute() over every Delayed root for shared-dependency memoization
    roots = list(_iter_deps(built))
    values = compute(*roots, scheduler=scheduler, max_workers=max_workers)
    return _substitute(built, dict(zip(map(id, roots), values)))


# ---- pargraph wire-format helpers (reference objects.py:36-101) ----------

_PG_KEY = r"[a-zA-Z0-9_]+(\.[a-zA-Z0-9_]+)*"
_PG_KEY_RE = re.compile(rf"^{_PG_KEY}$")
_PG_SRC_RE = re.compile(
    rf"^(consts|inputs):{_PG_KEY}$|^nodes:{_PG_KEY}:outputs:{_PG_KEY}$"
)
_PG_DST_RE = re.compile(rf"^nodes:{_PG_KEY}:inputs:{_PG_KEY}$")


class _NamedArgsAdapter:
    """Wire-format shim: the pargraph FunctionCall binds arguments by
    NAME, our nodes call positionally — this picklable callable maps
    arg_0..arg_{n-1} plus keyword names back onto the wrapped function,
    so an emitted node executes identically on any engine that can
    unpickle callables."""

    def __init__(self, fn: Callable, n_args: int, kw_names: list[str]):
        self.fn = fn
        self.n_args = n_args
        self.kw_names = list(kw_names)

    def __call__(self, **named: Any) -> Any:
        args = [named[f"arg_{i}"] for i in range(self.n_args)]
        return self.fn(*args, **{k: named[k] for k in self.kw_names})


def _decode_pargraph_const(c: dict) -> Any:
    raw = base64.b64decode(c["value"].encode("ascii"))
    if c["type"] == "cloudpickle":
        return cloudpickle.loads(raw)
    if c["type"] == "msgpack":
        try:
            import msgpack
        except ImportError:
            raise ValueError(
                "graph const is msgpack-encoded but msgpack is not installed"
            )
        return msgpack.unpackb(raw)
    raise ValueError(f"unknown const codec {c['type']!r}")


def _validate_pargraph_doc(doc: dict) -> None:
    """Structural validation mirroring the reference's JSON-Schema checks
    (objects.py:36-101): section key patterns, edge src/dst key shapes,
    output references."""
    for section in ("consts", "inputs", "nodes", "outputs"):
        for k in doc.get(section, {}):
            if not _PG_KEY_RE.match(k):
                raise ValueError(f"invalid {section} key {k!r}")
    for src, dst in doc.get("edges", []):
        if not _PG_SRC_RE.match(src):
            raise ValueError(f"invalid edge source {src!r}")
        if not _PG_DST_RE.match(dst):
            raise ValueError(f"invalid edge destination {dst!r}")
    for k, v in doc.get("outputs", {}).items():
        if not _PG_SRC_RE.match(v):
            raise ValueError(f"invalid output reference {v!r}")


class TaskGraph:
    """A set of root Delayed nodes with a portable JSON form.

    to_json pickles each node's callable (pyspark's cloudpickle — the
    same serializer the reference uses for Const/graph round-trips,
    objects.py:264-273) and every non-Delayed argument, base64-wrapped in
    a plain-JSON node list; containers (list/tuple/dict) are encoded
    structurally so Delayed refs inside them survive the round trip.
    from_json rebuilds an executable graph.
    SECURITY: from_json executes pickled code on compute — only load
    artifacts you wrote (same trust model as the reference's from_json).
    """

    def __init__(self, roots: list[Delayed]):
        self.roots = roots

    def compute(self, scheduler: str = "threads", max_workers: int = 8,
                **kw: Any) -> list[Any]:
        return compute(*self.roots, scheduler=scheduler, max_workers=max_workers, **kw)

    # ---- serialization --------------------------------------------------
    def to_json(self) -> str:
        order = _walk(self.roots)
        ids = {id(n): i for i, n in enumerate(order)}

        def enc_val(v) -> dict:
            if isinstance(v, Delayed):
                return {"ref": ids[id(v)]}
            if isinstance(v, list):
                return {"list": [enc_val(el) for el in v]}
            if isinstance(v, tuple):
                return {"tuple": [enc_val(el) for el in v]}
            if isinstance(v, (set, frozenset)):
                tag = "set" if isinstance(v, set) else "frozenset"
                return {tag: [enc_val(el) for el in v]}
            if isinstance(v, dict) and all(isinstance(k, str) for k in v):
                return {"dict": {k: enc_val(el) for k, el in v.items()}}
            if isinstance(v, dict):
                # non-str keys: key/value pair list keeps node refs
                # structural (a pickled Delayed would silently duplicate
                # the subgraph and lose sharing, ADVICE r4)
                return {"kvdict": [[enc_val(k), enc_val(el)] for k, el in v.items()]}
            return {"pickle": base64.b64encode(cloudpickle.dumps(v)).decode()}

        nodes = [
            {
                "id": ids[id(n)],
                "name": n.name,
                "fn": base64.b64encode(cloudpickle.dumps(n.fn)).decode(),
                "args": [enc_val(a) for a in n.args],
                "kwargs": {k: enc_val(v) for k, v in n.kwargs.items()},
            }
            for n in order
        ]
        return json.dumps(
            {"version": 1, "nodes": nodes, "roots": [ids[id(r)] for r in self.roots]}
        )

    @classmethod
    def from_json(cls, s: str) -> "TaskGraph":
        doc = json.loads(s)
        built: dict[int, Delayed] = {}

        def dec_val(v: dict):
            if "ref" in v:
                return built[v["ref"]]
            if "list" in v:
                return [dec_val(el) for el in v["list"]]
            if "tuple" in v:
                return tuple(dec_val(el) for el in v["tuple"])
            if "set" in v:
                return {dec_val(el) for el in v["set"]}
            if "frozenset" in v:
                return frozenset(dec_val(el) for el in v["frozenset"])
            if "dict" in v:
                return {k: dec_val(el) for k, el in v["dict"].items()}
            if "kvdict" in v:
                return {dec_val(k): dec_val(el) for k, el in v["kvdict"]}
            return cloudpickle.loads(base64.b64decode(v["pickle"]))

        for nd in doc["nodes"]:  # nodes are stored dependencies-first
            fn = cloudpickle.loads(base64.b64decode(nd["fn"]))
            args = tuple(dec_val(a) for a in nd["args"])
            kwargs = {k: dec_val(v) for k, v in nd["kwargs"].items()}
            built[nd["id"]] = Delayed(fn, args, kwargs, name=nd["name"])
        return cls([built[i] for i in doc["roots"]])

    # ---- pargraph wire-format interop (reference objects.py:36-101,
    # 358-498): the JSON-Schema-validated consts/inputs/nodes/edges/
    # outputs layout, so artifacts serialized by a pargraph deployment
    # load here and vice versa. ------------------------------------------

    def to_pargraph_json(self) -> str:
        """Serialize in the reference's edge-list wire format:

        - ``consts``: {key: {"type", "value"}} — b64 cloudpickle (msgpack
          is the reference's preferred codec but is optional kit; the
          format explicitly carries the codec per const, and cloudpickle
          is always legal).
        - ``inputs``: {key: null} for external_input placeholders.
        - ``nodes``: {key: {"function": b64, "serialized": true}} — each
          of our nodes ships as a FunctionCall whose callable adapts the
          wire format's NAMED argument binding back to our positional
          call (the adapter is itself just a pickled callable, so a
          reference engine can execute it too).
        - ``edges``: [[src, "nodes:<k>:inputs:<param>"], ...] with src ∈
          consts:/inputs:/nodes:<k>:outputs:result.
        - ``outputs``: {"result_<i>": src} — one per root.

        Node keys follow the deterministic post-order walk (n0, n1, ...),
        so identical graphs serialize identically (the reference's
        `stabilize` guarantee). Delayed nodes nested inside container
        arguments are NOT representable in this format (it has no
        structural containers) and raise; use to_json for those."""
        order = _walk(self.roots)
        node_ids: dict[int, str] = {}
        doc: dict[str, Any] = {
            "consts": {}, "inputs": {}, "nodes": {}, "edges": [], "outputs": {},
        }

        def src_key(dep: Any) -> str:
            if isinstance(dep, Delayed):
                if dep.fn is _unbound_input:
                    return f"inputs:{dep.kwargs['key']}"
                return f"nodes:{node_ids[id(dep)]}:outputs:result"
            if any(True for _ in _iter_deps(dep)):
                raise ValueError(
                    "pargraph wire format cannot represent a Delayed nested "
                    "inside a container argument; use to_json instead"
                )
            ckey = f"c{len(doc['consts'])}"
            doc["consts"][ckey] = {
                "type": "cloudpickle",
                "value": base64.b64encode(cloudpickle.dumps(dep)).decode("ascii"),
            }
            return f"consts:{ckey}"

        for i, n in enumerate(order):
            if n.fn is _unbound_input:
                doc["inputs"][n.kwargs["key"]] = None
                continue
            nid = f"n{i}"
            node_ids[id(n)] = nid
            kw_names = sorted(n.kwargs)
            adapter = _NamedArgsAdapter(n.fn, len(n.args), kw_names)
            doc["nodes"][nid] = {
                "function": base64.b64encode(cloudpickle.dumps(adapter)).decode("ascii"),
                "serialized": True,
            }
            for j, a in enumerate(n.args):
                doc["edges"].append([src_key(a), f"nodes:{nid}:inputs:arg_{j}"])
            for k in kw_names:
                doc["edges"].append([src_key(n.kwargs[k]), f"nodes:{nid}:inputs:{k}"])
        for i, r in enumerate(self.roots):
            doc["outputs"][f"result_{i}"] = src_key(r)
        _validate_pargraph_doc(doc)
        return json.dumps(doc)

    @classmethod
    def from_pargraph_json(cls, s: str) -> "TaskGraph":
        """Load a graph serialized in the reference wire format — either
        the edge-list layout (objects.py:372-428) or the node-arguments
        layout (objects.py:431-457; node dicts carry an ``args`` map
        instead of a top-level edge list). Functions marked
        ``serialized`` are unpickled; plain-string functions are imported
        by dotted path. Bound inputs (``inputs:{k: "consts:c"}``)
        resolve to their const's value; unbound inputs become
        external_input placeholders, bound at compute(inputs=...)."""
        doc = json.loads(s)
        consts = {
            k: _decode_pargraph_const(v) for k, v in doc.get("consts", {}).items()
        }
        node_args: dict[str, dict[str, str]] = {
            k: dict(nd.get("args", {})) for k, nd in doc.get("nodes", {}).items()
        }
        for src, dst in doc.get("edges", []):
            parts = dst.split(":")
            if len(parts) != 4 or parts[0] != "nodes" or parts[2] != "inputs":
                raise ValueError(f"invalid edge destination {dst!r}")
            _, nid, _, param = parts
            if nid not in node_args:
                raise KeyError(f"edge destination names unknown node {nid!r}")
            if param in node_args[nid]:
                raise ValueError(f"parameter {param!r} of node {nid!r} bound twice")
            node_args[nid][param] = src

        input_nodes: dict[str, Delayed] = {}

        def resolve_input(key: str):
            bound = doc.get("inputs", {}).get(key)
            if bound is not None:
                return resolve_src(bound)
            if key not in input_nodes:
                input_nodes[key] = external_input(key)
            return input_nodes[key]

        def src_node(key: str) -> str | None:
            """The node a source key reads (through a bound input), if any."""
            prefix, _, rest = key.partition(":")
            if prefix == "inputs":
                bound = doc.get("inputs", {}).get(rest)
                return None if bound is None else src_node(bound)
            return key.split(":")[1] if prefix == "nodes" else None

        def node_deps(nid: str) -> list[str]:
            return [d for d in map(src_node, node_args[nid].values()) if d]

        def build_node(nid: str) -> Delayed:
            nd = doc["nodes"][nid]
            fn_field = nd["function"]
            if nd.get("serialized", False):
                fn = cloudpickle.loads(base64.b64decode(fn_field.encode("ascii")))
            else:
                mod, _, attr = fn_field.rpartition(".")
                if not mod:
                    raise ValueError(
                        f"node {nid!r} function {fn_field!r} is neither "
                        "serialized nor an importable dotted path"
                    )
                fn = getattr(__import__(mod, fromlist=[attr]), attr)
            kwargs = {p: resolve_src(srcs) for p, srcs in sorted(node_args[nid].items())}
            return Delayed(fn, (), kwargs, name=nid)

        def resolve_src(key: str):
            prefix, _, rest = key.partition(":")
            if prefix == "consts":
                return consts[rest]
            if prefix == "inputs":
                return resolve_input(rest)
            if prefix == "nodes":
                parts = key.split(":")
                # edge-list form nodes:k:outputs:o, node-args form nodes:k:o
                nid = parts[1]
                node = built[nid]  # built earlier: dependencies first
                # a named output of a MULTI-output node selects that
                # element (review r5: dropping the name silently handed
                # consumers the whole tuple); single-output nodes pass
                # through whatever the name is
                if len(parts) >= 4 and parts[2] == "outputs":
                    declared = list(doc["nodes"][nid].get("outputs") or [])
                    if len(declared) > 1:
                        oname = parts[3]
                        if oname not in declared:
                            raise ValueError(
                                f"node {nid!r} has no output {oname!r} "
                                f"(declares {declared})"
                            )
                        i = declared.index(oname)
                        return Delayed(
                            operator.getitem, (node, i), {},
                            name=f"{nid}:{oname}",
                        )
                return node
            raise ValueError(f"invalid source key {key!r}")

        def _natkey(k: str):
            # numeric-aware: result_10 must sort after result_2 (a plain
            # lexicographic sort permuted roots for graphs with 11+
            # outputs — silently wrong positional results)
            return [
                int(p) if p.isdigit() else p for p in re.split(r"(\d+)", k)
            ]

        outputs = [
            v for _, v in sorted(
                doc.get("outputs", {}).items(), key=lambda kv: _natkey(kv[0])
            )
        ]
        built: dict[str, Delayed] = {}
        wanted = [d for d in map(src_node, outputs) if d]
        for nid in _dep_order(wanted, node_deps, what="node"):
            built[nid] = build_node(nid)
        return cls([resolve_src(v) for v in outputs])

    # ---- user-invocable rewrites (reference objects.py:653-932) --------
    # The reference's four rewrites map onto this model as: cull and
    # fuse_sequential below; explode_subgraphs is inherent (@graph traces
    # flat, so there is nothing to explode); stabilize is inherent too —
    # to_json ids come from the deterministic post-order walk, never
    # uuids, so the same graph always serializes with the same node ids.

    def cull(self, keep: list[int] | None = None) -> "TaskGraph":
        """Drop every node not reachable from the kept roots (reference
        objects.py:763-807). ``keep`` selects root indices (default: all).
        Non-mutating — returns a new TaskGraph; because a TaskGraph is
        DEFINED by its roots and every traversal walks from them,
        culling is just re-rooting: nodes feeding only dropped roots
        vanish from compute/to_json/to_dot automatically."""
        roots = self.roots if keep is None else [self.roots[i] for i in keep]
        return TaskGraph(list(roots))

    def fuse_sequential(self) -> "TaskGraph":
        """Fuse linear chains into single composite nodes (reference
        objects.py:809-932): a non-root node consumed by exactly ONE
        other node, all of whose other arguments are constants, is
        merged into its consumer — A→B→C→D becomes A→F where
        F = B∘C∘D. Non-mutating: returns a new TaskGraph over rebuilt
        nodes; results are unchanged (pytest-pinned), only scheduling
        granularity coarsens. Useful when many tiny driver-side nodes
        (e.g. overload arithmetic) would otherwise each pay a wave
        dispatch; DataFrame nodes gain nothing (Catalyst already fuses
        the plans) but lose nothing either. Nodes whose consumer holds
        them inside a container argument are left unfused."""
        roots = set(id(r) for r in self.roots)

        def one_pass(rs: list[Delayed]) -> tuple[list[Delayed], bool]:
            order = _walk(rs)
            consumers: dict[int, list[Delayed]] = {}
            for n in order:
                for d in _node_deps(n):
                    consumers.setdefault(id(d), []).append(n)
            rebuilt: dict[int, Delayed] = {}
            fused_any = False

            for n in order:
                args = tuple(_substitute(a, rebuilt) for a in n.args)
                kwargs = {k: _substitute(v, rebuilt) for k, v in n.kwargs.items()}
                # fusable parent: a DIRECT arg that is this node's only
                # consumer use, not a root, and n's only Delayed dep
                direct = [a for a in args if isinstance(a, Delayed)] + [
                    v for v in kwargs.values() if isinstance(v, Delayed)
                ]
                deps = set(id(d) for d in _node_deps(Delayed(n.fn, args, kwargs)))
                parent = None
                if len(deps) == 1 and direct and len(set(id(d) for d in direct)) == 1:
                    cand = direct[0]
                    orig = n.args + tuple(n.kwargs.values())
                    orig_parent = next(
                        (a for a in orig if isinstance(a, Delayed)), None
                    )
                    if (
                        orig_parent is not None
                        and id(orig_parent) not in roots
                        and len(consumers.get(id(orig_parent), [])) == 1
                        # never fuse an external_input placeholder: the
                        # fused closure's fn is no longer _unbound_input,
                        # so compute()'s input binding would miss it and
                        # the closure would raise 'unbound' even for a
                        # bound input (review r5)
                        and orig_parent.fn is not _unbound_input
                    ):
                        parent = cand
                if parent is not None:
                    fused_any = True
                    cf, ca, ck = n.fn, args, kwargs

                    def make_fused(cf, ca, ck, pnode):
                        def fused(*pa, **pk):
                            pv = pnode.fn(*pa, **pk)
                            fa = [pv if x is pnode else x for x in ca]
                            fk = {k: (pv if v is pnode else v) for k, v in ck.items()}
                            return cf(*fa, **fk)
                        return fused

                    rebuilt[id(n)] = Delayed(
                        make_fused(cf, ca, ck, parent),
                        parent.args,
                        parent.kwargs,
                        name=f"{n.name}({parent.name})",
                    )
                else:
                    rebuilt[id(n)] = Delayed(n.fn, args, kwargs, name=n.name)
            return [rebuilt[id(r)] for r in rs], fused_any

        rs = list(self.roots)
        changed = True
        while changed:  # chains collapse fully (A→B→C→D ⇒ one node per pass edge)
            rs, changed = one_pass(rs)
            roots = set(id(r) for r in rs)
        return TaskGraph(rs)

    def to_dot(self) -> str:
        """GraphViz rendering of the task DAG (the reference's to_dot
        counterpart; plans/jobspec.py renders the physical side)."""
        order = _walk(self.roots)
        ids = {id(n): i for i, n in enumerate(order)}
        lines = ["digraph tasks {", "  rankdir=LR;"]
        for n in order:
            lines.append(f'  n{ids[id(n)]} [label="{n.name}"];')
            for d in _node_deps(n):
                lines.append(f"  n{ids[id(d)]} -> n{ids[id(n)]};")
        lines.append("}")
        return "\n".join(lines)
