"""Single-node oracles the benchmark checks every run against.

PageRank follows the engine's stated semantics (dangling mass spread
uniformly, L-inf stop); components label each vertex with its component's
minimum id; label propagation is synchronous with min-label tie-break and
the engine's default 20-iteration cap; triangles are counted exactly.
"""

from __future__ import annotations

from collections import Counter, defaultdict

import numpy as np


def pagerank(edges: list[tuple[int, int]], vertices: list[int], damping: float = 0.85,
             tol: float = 1e-13, max_iter: int = 1000) -> dict[int, float]:
    """Power iteration on a dense rank vector."""
    ids = np.array(sorted(set(vertices)), dtype=np.int64)
    n = len(ids)
    e = np.array(sorted({(s, d) for s, d in edges if s != d}), dtype=np.int64).reshape(-1, 2)
    src = np.searchsorted(ids, e[:, 0])
    dst = np.searchsorted(ids, e[:, 1])
    outdeg = np.bincount(src, minlength=n).astype(np.float64)
    dangling = outdeg == 0
    r = np.full(n, 1.0 / n)
    for _ in range(max_iter):
        contrib = np.bincount(dst, weights=r[src] / outdeg[src], minlength=n)
        r_new = (1.0 - damping) / n + damping * (contrib + r[dangling].sum() / n)
        delta = np.abs(r_new - r).max()
        r = r_new
        if delta < tol:
            break
    return dict(zip(ids.tolist(), r.tolist()))


def components(edges: list[tuple[int, int]], vertices: list[int]) -> dict[int, int]:
    """Union-find; the label is the minimum member id."""
    parent = {v: v for v in vertices}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in vertices}


def label_propagation(edges: list[tuple[int, int]], vertices: list[int],
                      max_iter: int = 20) -> dict[int, int]:
    """Synchronous LPA over the undirected graph: the most frequent
    neighbour label wins, ties go to the smallest label, isolated vertices
    keep their own; stops when no label changes."""
    nbrs: dict[int, set[int]] = defaultdict(set)
    for a, b in edges:
        if a != b:
            nbrs[a].add(b)
            nbrs[b].add(a)
    label = {v: v for v in vertices}
    for _ in range(max_iter):
        new = {}
        for v in vertices:
            if nbrs[v]:
                counts = Counter(label[u] for u in nbrs[v])
                new[v] = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
            else:
                new[v] = label[v]
        if new == label:
            break
        label = new
    return label


def triangles(edges: list[tuple[int, int]]) -> int:
    und = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    nbrs: dict[int, set[int]] = defaultdict(set)
    for a, b in und:
        nbrs[a].add(b)
        nbrs[b].add(a)
    return sum(1 for a, b in und for c in nbrs[a] & nbrs[b] if c > b)


def evaluate(dsk: dict, keys):
    """Sequential, iterative evaluation of a Dask dict graph (no recursion,
    so deep chains evaluate too). ``keys`` is one key or a list of keys."""
    memo: dict = {}

    def is_task(v) -> bool:
        return isinstance(v, tuple) and len(v) > 0 and callable(v[0])

    def deps(v):
        if is_task(v):
            for a in v[1:]:
                yield from deps(a)
        elif isinstance(v, list):
            for a in v:
                yield from deps(a)
        elif isinstance(v, str) and v in dsk:
            yield v

    def value(v):
        if is_task(v):
            return v[0](*(value(a) for a in v[1:]))
        if isinstance(v, list):
            return [value(a) for a in v]
        if isinstance(v, str) and v in dsk:
            return memo[v]
        return v

    stack = list(keys) if isinstance(keys, list) else [keys]
    while stack:
        k = stack[-1]
        if k in memo:
            stack.pop()
            continue
        todo = [d for d in deps(dsk[k]) if d not in memo]
        if todo:
            stack.extend(todo)
        else:
            memo[k] = value(dsk[k])
            stack.pop()
    return [memo[k] for k in keys] if isinstance(keys, list) else memo[keys]
