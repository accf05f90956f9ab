"""Composed end-to-end pipelines (the reference's entry points, §3 SURVEY.md)."""

from __future__ import annotations

import time

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from imtag_spark.operators import cc, driver
from imtag_spark.operators.interval_join import (
    adjacent_row_edges,
    adjacent_row_pairs,
    interval_join,
)
from imtag_spark.operators.morphology import complement_runs
from imtag_spark.operators.relabel import densely_relabel
from imtag_spark.operators.rle import with_scan_order_ids

RUN_COLUMNS = ("row", "col_begin", "col_end", "id")


def _label_on_driver(
    runs: DataFrame, arrays: tuple[np.ndarray, ...], connectivity: str, base: int
) -> DataFrame | None:
    """The run table's arrays → dense labels in one NumPy pass: the
    adjacent-row sweep (``adjacent_row_pairs``), one union-find over those
    edges and every run's self-loop (``driver._contract_arrays``), and the
    dense rank of each component minimum. ``None`` when the sweep cannot
    bound a row's matches (overlapping runs in a row)."""
    row, begin, end, ids = arrays
    order = np.lexsort((end, begin, row))
    pairs = adjacent_row_pairs(row[order], begin[order], end[order], connectivity)
    if pairs is None:
        return None
    ids = ids[order]
    verts, roots = driver._contract_arrays([ids[pairs[0]], ids], [ids[pairs[1]], ids])
    dense = np.unique(roots, return_inverse=True)[1].astype(np.int64) + base
    return driver.frame_from_arrays(
        runs.sparkSession, {"component": roots, "vertex": verts, "dense_label": dense}
    )


def label_runs(
    runs: DataFrame,
    connectivity: str = "cross",
    base: int = 1,
    metrics_out: dict | None = None,
    cells_hint: int | None = None,
) -> DataFrame:
    """``bwlabel`` analog (reference entry point 1, src/imtag.cpp:13-22):
    run table ``(row, col_begin, col_end, id)`` → edges → CC → dense
    relabel per the §2.4 contract.

    **Driver route**, as the reference labels an image in one address
    space (pass 2, src/SegmentImageImpl.cpp:78-116): ``(row, col_begin,
    col_end, id)`` is collected once, and one NumPy pass finds each run's
    overlapping runs in the row above (two binary searches), unions them
    with every run's self-loop, and ranks the component minima. It runs
    when ``cells_hint`` is at most ``driver.SMALL_GRAPH_EDGE_LIMIT`` (the
    runs are fewer than the cells, so no count is needed), or, without a
    hint, when the run table counts at most ``driver.FUNNEL_EDGE_LIMIT``
    rows. The labels come back through ``driver.frame_from_arrays``. The
    1024² ``grid_ccl`` grid (251K runs) takes 2 Spark jobs this way, the
    collect and the caller's checkpoint; without the hint a checkpointed
    run table's count adds one. A run with a null field is dropped on this
    route.

    **Spark route** for larger grids: the adjacency edges plus every run as
    a self-loop (so isolated runs come back as their own components
    without a runs ⋈ labels join) go through ``connected_components`` with
    ``range_partition`` (scan-order ids carry spatial locality, so the
    partition-local union-find collapses whole image regions in round 1),
    then ``densely_relabel``.

    ``cells_hint`` — static upper bound on the grid's cell count
    (n_rows * n_cols), when the caller knows it. It only picks the route.

    ``metrics_out`` — CC's metrics; the driver route counts as one superstep.

    Returns (component, vertex, dense_label), all BIGINT and nullable on
    both routes, with dense labels ``base..``.
    """
    t0 = time.time()
    if cells_hint is None:
        arrays = driver.count_small(runs, RUN_COLUMNS)[1]
    elif cells_hint <= driver.SMALL_GRAPH_EDGE_LIMIT:
        arrays = driver.collect_columns(runs, RUN_COLUMNS)
    else:
        arrays = None
    dense = None if arrays is None else _label_on_driver(runs, arrays, connectivity, base)
    if dense is not None:
        if metrics_out is not None:
            metrics_out["supersteps"] = 1
            metrics_out["superstep_times"] = [time.time() - t0]
        return dense
    runs_as_loops = runs.select(F.col("id").alias("src"), F.col("id").alias("dst"))
    edges = adjacent_row_edges(runs, connectivity).unionByName(runs_as_loops)
    labels = cc.connected_components(edges, range_partition=True, metrics_out=metrics_out)
    return densely_relabel(labels, base=base)


def invert(
    runs: DataFrame, n_rows: int, n_cols: int
) -> tuple[DataFrame, DataFrame]:
    """M1 full pipeline (reference morphology.cpp:101-142): per-row interval
    complement, then re-CCL of the complement — the reference always labels
    the inverted image with CROSS connectivity (morphology.cpp:139).

    Returns (water_runs with scan-order ids, dense labels for them).
    """
    water = with_scan_order_ids(
        complement_runs(runs, n_rows, n_cols)
    ).localCheckpoint(eager=True)
    return water, label_runs(water, "cross", cells_hint=n_rows * n_cols)


def hole_adjacencies(
    runs: DataFrame,
    n_rows: int,
    n_cols: int,
    connectivity: str = "cross",
    land_labels: DataFrame | None = None,
) -> DataFrame:
    """M4 (reference entry point 2, src/imtag.cpp:106-112 →
    src/morphology.cpp:264-312): which holes border which components.

    The reference's positional interleave pairing (J2) is replaced by a
    plain same-row non-strict interval join between land runs and water
    runs — identical output (SURVEY.md §2.3 J2), one equi-join on ``row``
    with a band predicate instead of 49 lines of off-by-one cases.

    Returns the bipartite edge DataFrame (component BIGINT, hole BIGINT)
    over dense 1-based labels — the scalable analog of the reference's
    dense ``adjacency_matrix`` (include/imtag.hpp:121-146).

    ``land_labels`` — pass precomputed ``label_runs(runs, connectivity)``
    output to reuse an already-run land CCL (callers that label and then
    ask for adjacencies shouldn't pay the CC twice).
    """
    if land_labels is None:
        land_labels = label_runs(runs, connectivity, cells_hint=n_rows * n_cols)
    land = runs.join(
        land_labels.select(F.col("vertex").alias("id"), "dense_label"), "id"
    ).select("row", "col_begin", "col_end", F.col("dense_label").alias("component"))

    water_runs, water_labels = invert(runs, n_rows, n_cols)
    water = water_runs.join(
        water_labels.select(F.col("vertex").alias("id"), "dense_label"), "id"
    ).select("row", "col_begin", "col_end", F.col("dense_label").alias("hole"))

    paired = interval_join(
        land.select("row", "col_begin", "col_end", "component"),
        water.select("row", "col_begin", "col_end", "hole"),
        strict=False,
    )
    return paired.select("component", F.col("hole_r").alias("hole")).distinct()
