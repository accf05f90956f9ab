"""Triangle counting via degree-ordered orientation (north-rule operator).

Recasts the reference's "join runs against adjacent runs" pattern (J1,
/root/reference/src/SegmentImageImpl.cpp:96-115) as joining edges with
edges: orient every undirected edge from its lower-(degree, id) endpoint to
the higher one, enumerate the wedges of each vertex's oriented out-list,
and close them against the edge set. The degree table that orients the
edges is also the per-vertex output's vertex set, and each triangle closes
exactly one wedge, so the total is the closed-wedge count.

The degree ordering is the classic skew-killer: every vertex's oriented
out-degree is O(sqrt(m)), so wedge enumeration cannot explode on hubs — the
same concern the north rule's "degree-bucketed" guidance targets, solved
structurally instead of by bucketing.

Routes, chosen by size: an edge table of at most
``driver.FUNNEL_EDGE_LIMIT`` rows is counted in NumPy on the driver,
wedges enumerated in chunks of at most ``WEDGE_CHUNK``: the 10^5-edge
corpus job's count takes 3 Spark jobs and 0.2 s there (none when CC
already collected the same checkpointed table,
``driver.small_edge_arrays``), 10 jobs and 1.5 s as joins (BENCH.md,
"Driver route"). Larger tables enumerate wedges with one self-join of the
oriented edges and close them with a join back on the edge set.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from imtag_spark.operators import driver

#: wedges per chunk on the driver route: bounds the chunk's working set
#: (the decoded ``(u, x, y)`` triples, their keys and search positions, a
#: few int64 arrays of this length) whatever the graph's wedge count
WEDGE_CHUNK = 8_000_000


def _wedge_chunks(
    u: np.ndarray, v: np.ndarray, chunk: int
) -> Iterator[tuple[np.ndarray, np.ndarray, np.ndarray]]:
    """Wedges ``(u, x, y)`` with ``u → x``, ``u → y`` and ``x < y``, at
    most ``chunk`` per yield, from oriented edges sorted by ``(u, v)``.

    The edge at position p pairs with the later entries of its out-list,
    ``c[p] = end(u[p]) − 1 − p`` of them, so wedge w belongs to the edge
    where the cumulative counts pass w: each chunk is a range of wedge
    numbers, decoded with one ``searchsorted``. A clique under the edge
    gate has ~m^1.5 wedges (~4.6×10^8 at 1M edges), far too many to
    materialize at once.
    """
    ends = np.cumsum(np.bincount(u))
    c = ends[u] - 1 - np.arange(len(u))
    cum = np.cumsum(c)
    start = cum - c
    total = int(cum[-1]) if len(cum) else 0
    for lo in range(0, total, chunk):
        w = np.arange(lo, min(lo + chunk, total))
        p = np.searchsorted(cum, w, side="right")
        yield u[p], v[p], v[p + 1 + w - start[p]]


def _driver_triangles(src, dst) -> tuple[np.ndarray, np.ndarray, int]:
    """The driver route: ``(vertex, triangles)`` arrays over every vertex
    of a non-self-loop edge, vertices sorted, and the total, which is the
    closed-wedge count."""
    keep = src != dst
    lo = np.minimum(src[keep], dst[keep])
    hi = np.maximum(src[keep], dst[keep])
    verts, a, b = driver.index_edges(lo, hi)
    n = len(verts)
    # canonical pairs (a < b by index, which is id order) as sorted keys
    a, b = driver.distinct_pairs(a, b, n)
    keys = a * n + b
    deg = np.bincount(np.concatenate([a, b]), minlength=n)
    fwd = deg[a] <= deg[b]  # (deg, id) order; a < b already
    u, v = np.where(fwd, a, b), np.where(fwd, b, a)
    order = np.lexsort((v, u))
    per = np.zeros(n, dtype=np.int64)
    total = 0
    for wu, x, y in _wedge_chunks(u[order], v[order], WEDGE_CHUNK):
        k = x * n + y
        pos = np.minimum(np.searchsorted(keys, k), len(keys) - 1)
        closed = keys[pos] == k
        total += int(closed.sum())
        for corner in (wu, x, y):
            per += np.bincount(corner[closed], minlength=n)
    return verts, per, total


def _canonical_undirected(edges: DataFrame) -> DataFrame:
    return (
        edges.where(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .distinct()
    )


def _closed_wedges(edges: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Edge table → ``(deg, closed)``: the per-vertex table ``(v, deg)``,
    every vertex of a non-self-loop edge once, and the closed wedges
    ``(u, x, y)``, one row per triangle.

    Each undirected edge is oriented from its lower (deg, id) endpoint to
    the higher one. That order is total, so a triangle ``a < b < c`` has
    exactly one wedge, ``a → b, a → c``, and it is closed by ``b → c``.
    """
    und = _canonical_undirected(edges).localCheckpoint(eager=True)
    deg = (
        und.select(F.explode(F.array("a", "b")).alias("v"))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    withdeg = (
        und.join(deg.select(F.col("v").alias("a"), F.col("deg").alias("da")), "a")
        .join(deg.select(F.col("v").alias("b"), F.col("deg").alias("db")), "b")
    )
    fwd = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    oriented = withdeg.select(
        F.when(fwd, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(fwd, F.col("b")).otherwise(F.col("a")).alias("v"),
    ).localCheckpoint(eager=True)

    # wedges u→x, u→y (x < y by id to list each once), closed by x→y or y→x
    e1 = oriented.select(F.col("u"), F.col("v").alias("x"))
    e2 = oriented.select(F.col("u"), F.col("v").alias("y"))
    wedges = e1.join(e2, "u").where(F.col("x") < F.col("y"))
    closing = oriented.select(
        F.least("u", "v").alias("x"), F.greatest("u", "v").alias("y")
    )
    return deg, wedges.join(closing, ["x", "y"], "inner")


def triangle_count(edges: DataFrame) -> DataFrame:
    """Edge table → per-vertex triangle counts (vertex, triangles).

    Self-loops ignored, duplicate/bidirectional edges deduped. Vertices in
    no triangle report 0; the vertex set is the degree table's. A table of
    at most ``driver.FUNNEL_EDGE_LIMIT`` rows is counted on the driver
    (``_driver_triangles``) from ``driver.small_edge_arrays``: one count
    and one Arrow collect, or no job when the same checkpointed table was
    collected already.
    """
    small = driver.small_edge_arrays(edges)
    if small is not None:
        vertex, tri, _ = _driver_triangles(*small)
        # triangles NOT NULL, as the Spark route's coalesced count is
        return driver.frame_from_arrays(
            edges.sparkSession, {"vertex": vertex, "triangles": tri}, not_null=("triangles",)
        )
    deg, closed = _closed_wedges(edges)
    # The closed wedges stream DIRECTLY into the per-vertex tally (explode
    # of the 3 corners + map-side-combinable count): the O(m^1.5) triangle
    # list is never materialized — at scale it dwarfs the edge set.
    per_vertex = (
        closed.select(F.explode(F.array("u", "x", "y")).alias("vertex"))
        .groupBy("vertex")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    return (
        deg.select(F.col("v").alias("vertex"))
        .join(per_vertex, "vertex", "left")
        .select("vertex", F.coalesce("triangles", F.lit(0)).alias("triangles"))
    )


def total_triangles(edges: DataFrame) -> int:
    """Total distinct triangles in the graph: the closed-wedge count."""
    small = driver.small_edge_arrays(edges)
    if small is not None:
        return _driver_triangles(*small)[2]
    return _closed_wedges(edges)[1].count()
