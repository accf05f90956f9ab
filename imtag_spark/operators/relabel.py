"""Dense canonical relabeling (A4 ``compressed_freeze`` analog).

The reference renumbers components 0..M-1 by first encounter in ascending
provisional-label order (/root/reference/src/disjoint_set.hpp:73-96), which
equals the dense rank of each component's minimum member id (verified
contract, SURVEY.md §2.4).

``densely_relabel`` is a two-phase distributed rank. A naive
``dense_rank() OVER (ORDER BY component)`` funnels every component through
one partition; instead range-partition the distinct components, rank
within partitions, then add per-partition offsets (a tiny table, broadcast
back) and join the ranks back. The offsets-and-rank step is
``two_phase_index``, which also gives the runs their scan-order ids on
``rle``'s relational route (``rle.with_scan_order_ids``). A grid small
enough for one address space is ranked on the driver instead, inside
``label_runs``' one NumPy pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def two_phase_index(
    df: DataFrame, group_col: str, order_col: str, index_col: str, base: int = 0
) -> DataFrame:
    """Append ``index_col`` = ``base``.. in (``group_col``, ``order_col``)
    order — the two-phase zipWithIndex, with no global sort.

    Per-group counts → cumulative offsets → broadcast join →
    ``row_number`` within each group. The offsets table has one row per
    group (an image row, a shuffle partition), so it is broadcastable
    while ``df`` stays distributed. Its window has a constant key:
    ``pmod(group, 1)`` is always 0 but column-dependent, so the optimizer
    cannot fold it out of the partitionSpec (a bare ``lit(0)`` is
    removed), and WindowExec's single-partition warning stays out of
    every log. The join is a LEFT join: an inner join infers
    ``isnotnull(group)`` on one branch only, and the counts branch then
    shuffles ``df`` again instead of reusing its exchange.
    """
    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("_n"))
    w_off = (
        Window.partitionBy(F.pmod(F.col(group_col), F.lit(1)))
        .orderBy(group_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.select(
        group_col, F.coalesce(F.sum("_n").over(w_off), F.lit(0)).alias("_off")
    )
    w_local = Window.partitionBy(group_col).orderBy(order_col)
    return (
        df.join(F.broadcast(offsets), group_col, "left")
        .withColumn(
            index_col,
            (F.row_number().over(w_local) - 1 + F.col("_off") + F.lit(base)).cast("long"),
        )
        .drop("_off")
    )


def dense_component_ranks(
    labels: DataFrame,
    component_col: str = "component",
    rank_col: str = "dense_label",
    base: int = 0,
) -> DataFrame:
    """(component) → (component, dense rank by ascending component id).

    ``base`` is the first rank (the reference exports 1-based labels with
    background 0 when ``inc_labels_for_background_0`` is set,
    src/morphology.cpp:31-35).
    """
    # a null component has no rank (the relabel join drops its rows); left
    # in, it would sort first and shift every rank by one
    comps = (
        labels.select(component_col)
        .where(F.col(component_col).isNotNull())
        .distinct()
        .repartitionByRange(
            labels.sparkSession.sparkContext.defaultParallelism, component_col
        )
    )
    # Materialize before branching: repartitionByRange samples its
    # boundaries, so two separate evaluations (the offsets branch and the
    # ranking branch) could partition differently and corrupt the ranks.
    comps = comps.withColumn("_pid", F.spark_partition_id()).localCheckpoint(eager=True)
    return two_phase_index(comps, "_pid", component_col, rank_col, base).select(
        component_col, rank_col
    )


def densely_relabel(
    labels: DataFrame,
    component_col: str = "component",
    rank_col: str = "dense_label",
    base: int = 0,
) -> DataFrame:
    """labels(component, ...) → (component, ..., dense_label): the
    component first, then the other input columns in order, then the rank.
    Rows with a null component are dropped by the inner join."""
    ranks = dense_component_ranks(labels, component_col, rank_col, base)
    return labels.join(ranks, component_col)
