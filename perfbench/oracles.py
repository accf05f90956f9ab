"""NumPy reference results for the benchmark's output checks.

Nothing here imports the engine: each function restates the documented
contract of one operator (min-vertex CC labels, power-iteration PageRank,
synchronous min-tie label propagation, scan-order grid runs) so a wrong
engine answer cannot also be the expected one.
"""

from __future__ import annotations

import hashlib

import numpy as np


def unique_pairs(a: np.ndarray, b: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Distinct (a, b) pairs, sorted by a then b."""
    order = np.lexsort((b, a))
    a, b = a[order], b[order]
    keep = np.ones(len(a), dtype=bool)
    keep[1:] = (a[1:] != a[:-1]) | (b[1:] != b[:-1])
    return a[keep], b[keep]


def _compact(src: np.ndarray, dst: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Sorted vertex ids plus the edge endpoints as indices into them."""
    verts, idx = np.unique(np.concatenate([src, dst]), return_inverse=True)
    return verts, idx[: len(src)], idx[len(src):]


def _min_roots(n: int, a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Min-label propagation with pointer jumping over vertex indices 0..n-1.

    Every pass hooks each edge's larger root under its smaller one and then
    compresses fully, so every vertex ends pointing at its component's
    smallest index.
    """
    p = np.arange(n, dtype=np.int64)
    while True:
        pa, pb = p[a], p[b]
        live = pa != pb
        if not live.any():
            return p
        lo, hi = np.minimum(pa[live], pb[live]), np.maximum(pa[live], pb[live])
        np.minimum.at(p, hi, lo)
        while True:
            q = p[p]
            if np.array_equal(q, p):
                break
            p = q


def cc_min_labels(src: np.ndarray, dst: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(vertex, component) sorted by vertex; component = min vertex id.

    Vertices are every endpoint, self-loop-only vertices included.
    """
    verts, a, b = _compact(src, dst)
    return verts, verts[_min_roots(len(verts), a, b)]


def pagerank(
    src: np.ndarray,
    dst: np.ndarray,
    *,
    iters: int,
    alpha: float = 0.85,
    directed: bool = True,
) -> tuple[np.ndarray, np.ndarray]:
    """(vertex, rank) sorted by vertex after exactly ``iters`` supersteps.

    Self-loops dropped, duplicate edges counted once, vertices = endpoints
    of the remaining edges, dangling mass spread uniformly.
    """
    keep = src != dst
    src, dst = src[keep], dst[keep]
    if not directed:
        src, dst = np.concatenate([src, dst]), np.concatenate([dst, src])
    verts, a, b = _compact(*unique_pairs(src, dst))
    n = len(verts)
    out_deg = np.bincount(a, minlength=n).astype(np.float64)
    dangling = out_deg == 0
    inv_deg = np.divide(1.0, out_deg, out=np.zeros(n), where=~dangling)
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        contrib = np.bincount(b, weights=r[a] * inv_deg[a], minlength=n)
        r = (1.0 - alpha) / n + alpha * (contrib + r[dangling].sum() / n)
    return verts, r


def label_propagation(
    src: np.ndarray, dst: np.ndarray, *, max_iter: int
) -> tuple[np.ndarray, np.ndarray]:
    """(vertex, label) sorted by vertex after synchronous label propagation.

    Each round every vertex with a neighbour takes its neighbours' most
    frequent label, the smallest label on ties; vertices whose only edges
    are self-loops keep their own id. Stops early once no label changes.
    Neighbours are the distinct directed non-loop edges taken both ways,
    so a pair given in both directions counts twice.
    """
    verts, a, b = _compact(src, dst)
    n = len(verts)
    keep = a != b
    a, b = unique_pairs(a[keep], b[keep])
    recv, send = np.concatenate([a, b]), np.concatenate([b, a])
    label = np.arange(n, dtype=np.int64)  # indices: index order == id order
    for _ in range(max_iter):
        # (receiver, label) occurrence counts: pairs are sorted, so each run
        # of equal pairs is one count
        order = np.lexsort((label[send], recv))
        r, lab = recv[order], label[send][order]
        start = np.ones(len(r), dtype=bool)
        start[1:] = (r[1:] != r[:-1]) | (lab[1:] != lab[:-1])
        idx = np.flatnonzero(start)
        counts = np.diff(np.append(idx, len(r)))
        r, lab = r[idx], lab[idx]
        # per receiver: highest count first, then smallest label
        order = np.lexsort((lab, -counts, r))
        r, lab = r[order], lab[order]
        first = np.ones(len(r), dtype=bool)
        first[1:] = r[1:] != r[:-1]
        new = label.copy()
        new[r[first]] = lab[first]
        changed = int((new != label).sum())
        label = new
        if changed == 0:
            break
    return verts, verts[label]


def make_grid(rows: int, cols: int, p: float, seed: int) -> np.ndarray:
    """The fixture formula: foreground where ``rng.random() < p``."""
    rng = np.random.default_rng(seed)
    return rng.random((rows, cols)) < p


def grid_runs(grid: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Foreground runs (row, col_begin, col_end exclusive) in scan order."""
    fg = np.asarray(grid, dtype=bool)
    padded = np.zeros((fg.shape[0], fg.shape[1] + 2), dtype=np.int8)
    padded[:, 1:-1] = fg
    d = np.diff(padded, axis=1)
    r_b, c_b = np.nonzero(d == 1)
    _, c_e = np.nonzero(d == -1)
    return r_b, c_b, c_e


def grid_cross_edges(
    row: np.ndarray, begin: np.ndarray, end: np.ndarray, width: int
) -> tuple[np.ndarray, np.ndarray]:
    """Scan-order run-id pairs (i in row r, j in row r+1) that share a column.

    Runs in one row are disjoint and sorted, so the partners of run i form
    the contiguous id range whose end lies past i's begin and whose begin
    lies before i's end.
    """
    w = width + 2
    key_b = row.astype(np.int64) * w + begin
    key_e = row.astype(np.int64) * w + end
    nxt = (row.astype(np.int64) + 1) * w
    lo = np.searchsorted(key_e, nxt + begin, side="right")
    hi = np.searchsorted(key_b, nxt + end, side="left")
    cnt = np.maximum(hi - lo, 0)
    i = np.repeat(np.arange(len(row)), cnt)
    start = np.repeat(lo - np.cumsum(cnt) + cnt, cnt)
    j = start + np.arange(len(i))
    return i, j


def label_image_sha256(
    shape: tuple[int, int],
    row: np.ndarray,
    begin: np.ndarray,
    end: np.ndarray,
    dense: np.ndarray,
) -> str:
    """sha256 of the uint32 little-endian row-major label image (background 0)."""
    img = np.zeros(shape[0] * shape[1], dtype="<u4")
    lengths = end - begin
    starts = row.astype(np.int64) * shape[1] + begin
    cell = np.repeat(starts - np.cumsum(lengths) + lengths, lengths) + np.arange(
        lengths.sum()
    )
    img[cell] = np.repeat(dense, lengths)
    return hashlib.sha256(img.tobytes()).hexdigest()


def grid_labels(grid: np.ndarray) -> dict:
    """Runs, edges, components and label-image hash of a CROSS labeling."""
    row, begin, end = grid_runs(grid)
    i, j = grid_cross_edges(row, begin, end, grid.shape[1])
    roots = _min_roots(len(row), i, j)
    _, dense = np.unique(roots, return_inverse=True)
    return {
        "runs": len(row),
        "edges": len(i),
        "components": int(dense.max()) + 1 if len(row) else 0,
        "sha256": label_image_sha256(grid.shape, row, begin, end, dense + 1),
    }
