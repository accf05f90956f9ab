"""Dense sinks: scatter run labels back to cell space (S5/S6 analogs).

Generalizes ``to_label_image`` (/root/reference/src/morphology.cpp:10-35):
the engine never materializes a dense array distributed-side — it produces
the *labeled cell table*; densification to a NumPy image is a test/debug
convenience that collects (small fixtures only).
"""

from __future__ import annotations

import hashlib

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def labeled_cells(runs: DataFrame, labels: DataFrame, label_col: str = "dense_label") -> DataFrame:
    """runs(id,row,col_begin,col_end) ⋈ labels(vertex,…) → cells(row,col,label).

    ``sequence``+``explode`` re-densifies runs to cells JVM-side (no UDF).
    """
    lab = labels.select(F.col("vertex").alias("id"), F.col(label_col).alias("label"))
    return (
        # guard degenerate empty runs (col_end == col_begin): sequence()
        # would generate a DESCENDING 2-element range there, inventing
        # phantom cells instead of none
        runs.where(F.col("col_end") > F.col("col_begin"))
        .join(lab, "id")
        .select(
            "row",
            F.explode(F.sequence(F.col("col_begin"), F.col("col_end") - 1)).alias("col"),
            "label",
        )
    )


def mask_cells(runs: DataFrame) -> DataFrame:
    """S6 ``to_mask_image`` analog (/root/reference/src/morphology.cpp:95-99
    via the maskmode template flag at :20-21): re-densify runs to foreground
    cells, dropping labels — every cell carries the constant 0xFF. The
    ``sequence``+``explode`` densification is JVM-side (no UDF). A
    degenerate empty run (col_end == col_begin) would make ``sequence``
    emit a DESCENDING 2-element range — phantom foreground — so those are
    filtered; the mask is BIGINT to match the declared sink type directly
    rather than relying on a caller-side cast."""
    return runs.where(F.col("col_end") > F.col("col_begin")).select(
        "row",
        F.explode(
            F.sequence(F.col("col_begin"), F.col("col_end") - 1)
        ).alias("col"),
        F.lit(255).cast("bigint").alias("mask"),
    )


def to_label_image(
    cells: DataFrame, rows: int, cols: int, dtype=np.uint32
) -> np.ndarray:
    """Collect a labeled-cell table into a dense array (fixtures/tests only)."""
    t = cells.select("row", "col", "label").toArrow()
    img = np.zeros((rows, cols), dtype=dtype)
    img[t.column("row").to_numpy(), t.column("col").to_numpy()] = t.column("label").to_numpy()
    return img


def label_image_sha256(img: np.ndarray) -> str:
    """sha256 of the raw uint32-LE row-major buffer — the FIXTURES.md golden format."""
    return hashlib.sha256(np.ascontiguousarray(img.astype("<u4")).tobytes()).hexdigest()


def label_color_dim(labels: DataFrame, label_col: str = "dense_label") -> DataFrame:
    """S7 color dimension table: one deterministic RGBA per distinct label.

    The reference's ``to_rgba_label_image`` maps labels to colors via a user
    dict + seeded-rand fill (/root/reference/src/morphology.cpp:37-59); the
    Spark analog is a *color dimension table* — here filled with a
    closed-form 24-bit mix of the label (any user mapping can be unioned
    over it). Tiny (one row per component), built for broadcast.
    """
    from imtag_spark.functions.polyhash import label_color_sql

    # the 24-bit mix fragment is generated once in polyhash and used
    # verbatim by the DuckDB oracle too — no dual-implementation drift
    base = (
        labels.select(label_col)
        .distinct()
        .select(
            label_col,
            F.expr(label_color_sql(label_col)).alias("_c"),
        )
    )
    return base.select(
        label_col,
        F.expr("CAST(_c DIV 65536 AS INT)").alias("r"),
        F.expr("CAST(pmod(_c DIV 256, 256) AS INT)").alias("g"),
        F.expr("CAST(pmod(_c, 256) AS INT)").alias("b"),
        F.lit(255).alias("a"),
    )


def colorize_runs(
    runs_with_labels: DataFrame,
    colors: DataFrame | None = None,
    label_col: str = "dense_label",
) -> DataFrame:
    """S7 ``to_rgba_label_image`` analog: broadcast-join runs with the color
    dimension — the rendered-run table (densification to actual RGBA pixels
    is a sink-side concern, same as ``to_label_image``)."""
    if colors is None:
        colors = label_color_dim(runs_with_labels, label_col)
    return runs_with_labels.join(F.broadcast(colors), label_col)
