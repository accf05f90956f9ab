"""Composed end-to-end pipelines (the reference's entry points, §3 SURVEY.md)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from imtag_spark.operators.cc import SMALL_GRAPH_EDGE_LIMIT, connected_components
from imtag_spark.operators.interval_join import interval_join, adjacent_row_edges
from imtag_spark.operators.morphology import complement_runs
from imtag_spark.operators.relabel import densely_relabel
from imtag_spark.operators.rle import with_scan_order_ids


def label_runs(
    runs: DataFrame,
    connectivity: str = "cross",
    base: int = 1,
    metrics_out: dict | None = None,
    cells_hint: int | None = None,
) -> DataFrame:
    """``bwlabel`` analog (reference entry point 1, src/imtag.cpp:13-22):
    run table → edges → CC → dense relabel per the §2.4 contract. Every
    run also enters CC as a self-loop, so isolated runs come back as their
    own components without a runs ⋈ labels join.

    When CC takes its hinted one-task solve, its labels are one
    checkpointed partition, so ``densely_relabel`` ranks them inside the
    task that reads them: the dense labels come from the same one-task
    pass, with no shuffle and no job of their own (3 Spark jobs in all on
    a 1024² grid, with the caller's checkpoint). Labels from CC's driver
    solve (several partitions of a local relation) or its distributed
    rounds take the distributed rank.

    ``cells_hint`` — static upper bound on the grid's cell count
    (n_rows * n_cols), when the caller knows it. It only picks CC's route:
    runs plus adjacencies stay below ~1.5 × cells, so a hint up to
    ``SMALL_GRAPH_EDGE_LIMIT`` sends CC to its one-task solve without the
    init count. Without it, CC counts the input first and solves it on
    the driver when the count is small. Larger grids take the
    range-partitioned distributed path.

    Returns (component, vertex, dense_label) with dense labels ``base..``.
    """
    runs_as_loops = runs.select(F.col("id").alias("src"), F.col("id").alias("dst"))
    edges = adjacent_row_edges(runs, connectivity).unionByName(runs_as_loops)
    small = cells_hint is not None and cells_hint <= SMALL_GRAPH_EDGE_LIMIT
    # scan-order run ids carry spatial locality — range partitioning lets
    # the partition-local union-find collapse whole image regions round 1
    labels = connected_components(
        edges,
        range_partition=not small,
        single_partition=small,
        metrics_out=metrics_out,
    )
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
