"""Component statistics & component removal (A6-A8, M3, P3 analogs).

Generalizes /root/reference/include/imtag_statistics.hpp:42-86 (bounding
box, npixels, centroid) and src/morphology.cpp:190-232 (remove_components):
pure ``groupBy(component)`` aggregates — components are never collected or
materialized as row groups (the reference's ``rows_to_components`` bucketing
at src/SegmentImageImpl.cpp:9-24 has no scale-safe analog and needs none).

The centroid's per-run column sum uses the reference's closed form
``((e-1)e - (b-1)b) / 2`` (imtag_statistics.hpp:68-86) — pure column
arithmetic, no UDF.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def component_stats(runs_with_labels: DataFrame, label_col: str = "component") -> DataFrame:
    """Run table joined with labels → per-component size/bbox/centroid.

    Input columns: row, col_begin, col_end (exclusive), <label_col>.
    Output: component, n_runs, npixels, bbox (left/top exclusive-right/bottom),
    centroid_col, centroid_row (doubles), plus bit-stable micro-unit exports
    centroid_col_u / centroid_row_u = round-half-up(centroid * 1e6) computed
    in EXACT integer arithmetic (decimal(38,0) intermediates, no float path)
    — the export format for cross-engine comparison, since the double ratio
    can differ in its last ulp between engines that round differently.
    """
    n = F.col("col_end") - F.col("col_begin")
    # 2 * sum of column indices covered by a run: (e-1)e - (b-1)b
    colsum2 = ((F.col("col_end") - 1) * F.col("col_end")
               - (F.col("col_begin") - 1) * F.col("col_begin"))
    agg = (
        runs_with_labels.groupBy(label_col)
        .agg(
            F.count(F.lit(1)).alias("n_runs"),
            F.sum(n).alias("npixels"),
            F.min("col_begin").alias("bbox_left"),
            F.min("row").alias("bbox_top"),
            F.max("col_end").alias("bbox_right"),
            (F.max("row") + 1).alias("bbox_bottom"),
            F.sum(colsum2).alias("_colsum2"),
            F.sum(n * F.col("row")).alias("_rowsum"),
        )
    )
    # round-half-up(p/q) over nonneg ints = (2p + q) div (2q); decimal(38,0)
    # keeps the *1e6 multiply exact at any realistic image size
    half_up_col = F.expr(
        "CAST((CAST(_colsum2 AS DECIMAL(38,0)) * 1000000 + npixels)"
        " DIV (2 * npixels) AS BIGINT)"
    )
    half_up_row = F.expr(
        "CAST((CAST(_rowsum AS DECIMAL(38,0)) * 2000000 + npixels)"
        " DIV (2 * npixels) AS BIGINT)"
    )
    return agg.select(
        label_col,
        "n_runs",
        "npixels",
        "bbox_left",
        "bbox_top",
        "bbox_right",
        "bbox_bottom",
        (F.col("_colsum2") / (F.lit(2) * F.col("npixels"))).alias("centroid_col"),
        (F.col("_rowsum") / F.col("npixels")).alias("centroid_row"),
        half_up_col.alias("centroid_col_u"),
        half_up_row.alias("centroid_row_u"),
    )


def filter_components_by_size(
    runs_with_labels: DataFrame,
    min_pixels: int,
    label_col: str = "component",
) -> DataFrame:
    """HAVING-style size filter (P3): keep runs of components with
    npixels >= min_pixels (the reference test drops <4000px components,
    test/imtag_test.cpp:129-136). Small surviving-label list is broadcast."""
    keep = (
        runs_with_labels.groupBy(label_col)
        .agg(F.sum(F.col("col_end") - F.col("col_begin")).alias("npix"))
        .where(F.col("npix") >= min_pixels)
        .select(label_col)
    )
    return runs_with_labels.join(F.broadcast(keep), label_col, "semi")


def remove_components(
    runs_with_labels: DataFrame,
    bad_labels: DataFrame,
    label_col: str = "component",
) -> DataFrame:
    """M3: drop runs of the given components (broadcast anti-join).

    Dense renumbering of survivors is composable via relabel.densely_relabel.
    """
    return runs_with_labels.join(
        F.broadcast(bad_labels.select(label_col)), label_col, "anti"
    )


def degrees(edges: DataFrame) -> DataFrame:
    """Undirected degree table (vertex, degree): each distinct incident
    edge counts once; self-loops and duplicate or reversed rows do not."""
    e = edges.where(F.col("src") != F.col("dst")).select(
        F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
    ).distinct()
    return (
        e.select(F.col("a").alias("vertex"))
        .union(e.select(F.col("b").alias("vertex")))
        .groupBy("vertex")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
