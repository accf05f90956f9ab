"""Run-length ingest: foreground cells → run (segment) table with scan-order IDs.

Generalizes the reference's pass 1 (``compress_scanline`` /
``compress_scanlines``, /root/reference/src/SegmentImageImpl_Scanline.cpp:15-96):
RLE each image row into maximal foreground runs, then assign globally unique
provisional labels 0..N-1 in row-major scan order (sequential linearization at
SegmentImageImpl_Scanline.cpp:88-95).

Both steps are relational operators, so no Python worker runs:

- RLE is gaps-and-islands. Within an image row, ``col − row_number()``
  (ordered by ``col``) is constant exactly along a run of consecutive
  columns, so ``groupBy(row, gap)`` with ``min(col)`` and ``max(col) + 1``
  gives the maximal runs. The window and the aggregate share one
  ``hash(row)`` exchange of the cells.
- The scan-order id is the two-phase zipWithIndex
  (``relabel.two_phase_index`` grouped by ``row``): per-row run counts →
  cumulative offsets (a tiny table, broadcast) → ``row_number`` within
  each row. The counts reuse the same cells exchange, so ``grid_to_runs``
  shuffles the cells once: 4 Spark jobs to checkpoint the runs of
  checkpointed 1024² cells, none of them in Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from imtag_spark.operators.relabel import two_phase_index


def cells_to_runs(cells: DataFrame) -> DataFrame:
    """Foreground cells ``(row INT, col INT)`` → runs ``(row, col_begin, col_end)``.

    ``col_end`` is exclusive, matching the reference's ``Segment.column_end``
    (``include/imtag.hpp:24``).
    """
    gap = F.col("col") - F.row_number().over(Window.partitionBy("row").orderBy("col"))
    return (
        cells.withColumn("_gap", gap)
        .groupBy("row", "_gap")
        .agg(F.min("col").alias("col_begin"), (F.max("col") + 1).alias("col_end"))
        .drop("_gap")
    )


def with_scan_order_ids(runs: DataFrame, id_col: str = "id") -> DataFrame:
    """Assign ids 0..N-1 by (row, col_begin) scan order, with no global sort."""
    return two_phase_index(runs, "row", "col_begin", id_col)


def grid_to_runs(cells: DataFrame) -> DataFrame:
    """Full pass-1 analog: cells → runs with scan-order vertex ids."""
    return with_scan_order_ids(cells_to_runs(cells))
