"""Triangle counting via degree-ordered orientation (north-rule operator).

Recasts the reference's "join runs against adjacent runs" pattern (J1,
/root/reference/src/SegmentImageImpl.cpp:96-115) as joining edges with
edges: orient every undirected edge from its lower-(degree, id) endpoint to
the higher one, enumerate wedges with one self-join, and close them with a
join back on the oriented edge set. The degree table that orients the edges
is also the per-vertex output's vertex set, and each triangle closes exactly
one wedge, so the total is the closed-wedge count.

The degree ordering is the classic skew-killer: every vertex's oriented
out-degree is O(sqrt(m)), so the wedge join cannot explode on hubs — the
same concern the north rule's "degree-bucketed" guidance targets, solved
structurally instead of by bucketing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


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
    no triangle report 0; the vertex set is the degree table's.
    """
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
    return _closed_wedges(edges)[1].count()
