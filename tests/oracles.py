"""Pure-Python/NumPy oracles (independent of the engine, validated against
the compiled reference during the survey — SURVEY.md §5, FIXTURES.md)."""

from __future__ import annotations

import numpy as np


def grid_runs(grid: np.ndarray) -> list[tuple[int, int, int]]:
    """(row, col_begin, col_end_exclusive) runs in scan order."""
    out = []
    for r in range(grid.shape[0]):
        fg = grid[r] != 0
        if not fg.any():
            continue
        d = np.diff(fg.astype(np.int8))
        starts = list(np.flatnonzero(d == 1) + 1)
        ends = list(np.flatnonzero(d == -1) + 1)
        if fg[0]:
            starts.insert(0, 0)
        if fg[-1]:
            ends.append(len(fg))
        out.extend((r, int(b), int(e)) for b, e in zip(starts, ends))
    return out


def grid_edges(runs: list[tuple[int, int, int]], connectivity: str = "cross") -> list[tuple[int, int]]:
    """Adjacent-row overlap edges between scan-order run ids."""
    by_row: dict[int, list[tuple[int, int, int]]] = {}
    for i, (r, b, e) in enumerate(runs):
        by_row.setdefault(r, []).append((b, e, i))
    edges = []
    for r, lst in by_row.items():
        for b, e, i in lst:
            for b2, e2, j in by_row.get(r + 1, []):
                if connectivity == "cross":
                    if b < e2 and b2 < e:
                        edges.append((i, j))
                else:  # eight_way: non-strict (exclusive ends → diagonal touch)
                    if b <= e2 and b2 <= e:
                        edges.append((i, j))
    return edges


def cc_min_label(n_vertices: int, edges: list[tuple[int, int]]) -> np.ndarray:
    """Union-find; component = min vertex id (the verified labeling contract)."""
    parent = list(range(n_vertices))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            if ru < rv:
                parent[rv] = ru
            else:
                parent[ru] = rv
    return np.array([find(i) for i in range(n_vertices)], dtype=np.int64)


def dense_ranks(components: list[int], base: int = 0) -> dict[int, int]:
    """component → base + its position among the sorted distinct components
    (the imtag ``compressed_freeze`` contract, SURVEY.md §2.4)."""
    return {int(c): i + base for i, c in enumerate(sorted(set(components)))}


def reference_label_image(grid: np.ndarray, connectivity: str = "cross") -> np.ndarray:
    """Dense uint32 label image per imtag semantics: background 0, components
    1..M numbered by dense first-encounter (min-member) rank in scan order."""
    runs = grid_runs(grid)
    edges = grid_edges(runs, connectivity)
    comp = cc_min_label(len(runs), edges)
    uniq = np.unique(comp)  # ascending == first-encounter order for min-ids
    dense = {int(c): k + 1 for k, c in enumerate(uniq)}
    img = np.zeros(grid.shape, dtype=np.uint32)
    for i, (r, b, e) in enumerate(runs):
        img[r, b:e] = dense[int(comp[i])]
    return img


def numpy_pagerank(
    edges: list[tuple[int, int]],
    vertices: list[int],
    alpha: float = 0.85,
    tol: float = 1e-10,
    max_iter: int = 200,
    directed: bool = True,
) -> dict[int, float]:
    """Dense power iteration with uniform dangling-mass redistribution."""
    vs = sorted(set(vertices) | {u for u, _ in edges} | {v for _, v in edges})
    idx = {v: i for i, v in enumerate(vs)}
    n = len(vs)
    if n == 0:
        return {}
    pairs = set()
    for u, v in edges:
        if u == v:
            continue
        pairs.add((idx[u], idx[v]))
        if not directed:
            pairs.add((idx[v], idx[u]))
    out_deg = np.zeros(n)
    for u, v in pairs:
        out_deg[u] += 1
    r = np.full(n, 1.0 / n)
    for _ in range(max_iter):
        contrib = np.zeros(n)
        for u, v in pairs:
            contrib[v] += r[u] / out_deg[u]
        dangling = r[out_deg == 0].sum()
        new = (1 - alpha) / n + alpha * (contrib + dangling / n)
        if np.abs(new - r).sum() < tol:
            r = new
            break
        r = new
    return {v: float(r[idx[v]]) for v in vs}


def brute_triangles(edges: list[tuple[int, int]]) -> tuple[int, dict[int, int]]:
    """Total triangle count + per-vertex counts; self-loops/dups ignored."""
    adj: dict[int, set[int]] = {}
    eset = set()
    for u, v in edges:
        if u == v:
            continue
        a, b = min(u, v), max(u, v)
        if (a, b) in eset:
            continue
        eset.add((a, b))
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    per: dict[int, int] = {v: 0 for v in adj}
    total = 0
    vs = sorted(adj)
    for u in vs:
        for v in adj[u]:
            if v <= u:
                continue
            common = adj[u] & adj[v]
            for w in common:
                if w > v:
                    total += 1
                    per[u] += 1
                    per[v] += 1
                    per[w] += 1
    return total, per


def label_propagation(edges: list[tuple[int, int]], max_iter: int) -> dict[int, int]:
    """Synchronous label propagation: vertex → label after ≤ max_iter rounds.

    Every vertex starts with its own id. Each round, every vertex with a
    neighbour takes its neighbours' most frequent label, the smallest on
    ties; vertices whose only edges are self-loops keep their id. Stops
    once no label changes. Neighbours come from the distinct directed
    non-loop pairs taken both ways, so a pair given in both directions
    counts twice.
    """
    from collections import Counter

    nbrs: dict[int, list[int]] = {v: [] for e in edges for v in e}
    for u, v in {(u, v) for u, v in edges if u != v}:
        nbrs[u].append(v)
        nbrs[v].append(u)
    label = {v: v for v in nbrs}
    for _ in range(max_iter):
        new = {}
        for v, ns in nbrs.items():
            if not ns:
                new[v] = label[v]
                continue
            cnt = Counter(label[u] for u in ns)
            new[v] = min(cnt, key=lambda lab: (-cnt[lab], lab))
        changed = new != label
        label = new
        if not changed:
            break
    return label
