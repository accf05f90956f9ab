"""Run-length ingest: foreground cells → run (segment) table with scan-order IDs.

Generalizes the reference's pass 1 (``compress_scanline`` /
``compress_scanlines``, /root/reference/src/SegmentImageImpl_Scanline.cpp:15-96):
RLE each image row into maximal foreground runs, then assign globally unique
provisional labels 0..N-1 in row-major scan order (sequential linearization at
SegmentImageImpl_Scanline.cpp:88-95).

``grid_to_runs`` has two routes, chosen by one count of the cells:

- **Driver.** At most ``driver.FUNNEL_EDGE_LIMIT`` cells (the gate CC's
  small inputs use) are collected by the same call
  (``driver.count_small``) and run-length encoded in one NumPy pass, as
  the reference does in one address space: sort the cells row-major, start a run wherever the row
  changes or the column skips, number the runs in that order. The runs
  come back through ``driver.frame_from_arrays`` in the relational route's
  schema. From checkpointed cells to checkpointed runs that is 3 Spark
  jobs (the count of the checkpoint's RDD, the collect, the caller's
  checkpoint), and the cells are never shuffled (BENCH.md, "Grid on the
  driver" and "Columnar hand-off").
- **Relational**, for larger grids; no Python worker runs:

  - RLE is gaps-and-islands. Within an image row, ``col − row_number()``
    (ordered by ``col``) is constant exactly along a run of consecutive
    columns, so ``groupBy(row, gap)`` with ``min(col)`` and
    ``max(col) + 1`` gives the maximal runs. The window and the aggregate
    share one ``hash(row)`` exchange of the cells.
  - The scan-order id is the two-phase zipWithIndex
    (``relabel.two_phase_index`` grouped by ``row``): per-row run counts →
    cumulative offsets (a tiny table, broadcast) → ``row_number`` within
    each row. The counts reuse the same cells exchange, so the cells are
    shuffled once.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from imtag_spark.operators import driver
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


def _driver_runs(spark: SparkSession, row: np.ndarray, col: np.ndarray) -> DataFrame:
    """Cells as arrays → the runs table, by one row-major sweep. Columns
    keep the cells' integer types; ``id`` is BIGINT; all nullable, as on
    the relational route."""
    order = np.lexsort((col, row))
    row, col = row[order], col[order]
    breaks = (row[1:] != row[:-1]) | (col[1:] != col[:-1] + 1)
    first = np.ones(len(row), dtype=bool)
    first[1:] = breaks
    last = np.ones(len(row), dtype=bool)
    last[:-1] = breaks
    return driver.frame_from_arrays(
        spark,
        {
            "row": row[first],
            "col_begin": col[first],
            "col_end": col[last] + 1,
            "id": np.arange(int(first.sum()), dtype=np.int64),
        },
    )


def grid_to_runs(cells: DataFrame) -> DataFrame:
    """Full pass-1 analog: cells → runs ``(row, col_begin, col_end, id)``
    with scan-order vertex ids. Under the gate the cells are run-length
    encoded on the driver (module docstring); a cell with a null
    coordinate names no cell, and that route drops it."""
    small = driver.count_small(cells, ("row", "col"))[1]
    if small is not None:
        return _driver_runs(cells.sparkSession, *small)
    return with_scan_order_ids(cells_to_runs(cells))
