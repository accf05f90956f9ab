"""Dense relabel: ``densely_relabel`` against a dense-rank oracle.

CC's labels from its one-task solve (one checkpointed partition) and from
its star rounds, and a hostile table, must give the oracle's rows whether
relabel reads them in one partition or in several. ``label_runs`` ranks a
small grid on the driver: its job count and golden are checked here too.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from imtag_spark.operators.cc import connected_components
from imtag_spark.operators.label_image import (
    label_image_sha256,
    labeled_cells,
    to_label_image,
)
from imtag_spark.operators.relabel import densely_relabel
from imtag_spark.operators.rle import grid_to_runs
from imtag_spark.plans.pipelines import label_runs
from imtag_spark.sources.grids import grid_to_cells, named_grid
from oracles import dense_ranks
from test_graph_ops import _jobs_in_group

#: per-seed id shift: negative, above 2^31 and near 2^63 component ids
ID_OFFSETS = [0, 2**40, -(2**31), 2**62]


def _relabel(df, base):
    """``densely_relabel(df, base=base)`` collected: (columns, dtypes,
    sorted rows)."""
    out = densely_relabel(df, base=base)
    return out.columns, out.dtypes, sorted(tuple(r) for r in out.collect())


def _oracle(rows, i, base):
    """Expected output rows for input rows whose column ``i`` is the
    component: component first, the other columns, the rank; null
    components dropped."""
    kept = [r for r in rows if r[i] is not None]
    ranks = dense_ranks([r[i] for r in kept], base)
    return sorted((r[i], *r[:i], *r[i + 1:], ranks[r[i]]) for r in kept)


def _random_pairs(seed: int) -> list[tuple[int, int]]:
    rng = np.random.default_rng(seed)
    n_v = int(rng.integers(10, 60))
    n_e = int(rng.integers(20, 120))
    offset = ID_OFFSETS[seed]
    pairs = rng.integers(0, n_v, size=(n_e, 2))
    return [(int(a) + offset, int(b) + offset) for a, b in pairs]


@pytest.mark.parametrize("base", [0, 1])
@pytest.mark.parametrize("seed", range(4))
def test_relabel_cc_labels_both_routes(spark, funnel_gate, seed, base):
    # CC's labels from its hinted one-task solve (one checkpointed
    # partition) and from its star rounds give the oracle's rows, in one
    # partition or in four
    pairs = _random_pairs(seed)
    edges = spark.createDataFrame(pairs, "src BIGINT, dst BIGINT")
    labels = connected_components(edges, single_partition=True)
    assert labels.rdd.getNumPartitions() == 1
    rows = [tuple(r) for r in labels.select("vertex", "component").collect()]
    want = _oracle(rows, 1, base)

    got = _relabel(labels, base)
    assert got[0] == ["component", "vertex", "dense_label"]
    assert got[2] == want
    assert _relabel(labels.repartition(4), base) == got

    funnel_gate(0)
    star = connected_components(edges)
    assert _relabel(star, base) == got
    assert _relabel(star.repartition(4), base) == got


@pytest.mark.parametrize("base", [0, 1])
@pytest.mark.parametrize("offset", ID_OFFSETS)
def test_relabel_hostile_table_both_routes(spark, offset, base):
    # component not first, duplicate rows, a null component and a string
    # payload, read from one checkpointed partition under a projection and
    # from four partitions
    rows = [(v, offset + v // 3 * 7, f"p{v}") for v in range(12)]
    rows += rows[:3] + [(99, None, "null")]
    table = (
        spark.createDataFrame(rows, "vertex BIGINT, component BIGINT, payload STRING")
        .coalesce(1)
        .localCheckpoint(eager=True)
    )
    table = table.select(
        "vertex", "component", "payload", (F.col("vertex") * 2).alias("twice")
    )
    want = _oracle([(v, c, p, v * 2) for v, c, p in rows], 1, base)

    got = _relabel(table, base)
    assert got[0] == ["component", "vertex", "payload", "twice", "dense_label"]
    assert got[2] == want
    assert _relabel(table.repartition(4), base) == got

    # empty: a filter leaves no rows
    empty = table.where(F.col("vertex") < 0)
    assert _relabel(empty, base) == got[:2] + ([],)
    assert _relabel(empty.repartition(4), base) == got[:2] + ([],)


MEDIUM_SHA = "e774e062d860012a285ca0791bf87ab5050632bae4c94b20e84a857b42a63d62"


def _check_medium(runs, dense):
    img = to_label_image(labeled_cells(runs, dense), *named_grid("medium").shape)
    assert dense.count() == runs.count() == 16423
    assert dense.agg(F.max("dense_label")).first()[0] == 3100
    assert label_image_sha256(img) == MEDIUM_SHA


def test_label_runs_driver_route_job_count(spark):
    # checkpointed cells → checkpointed runs → checkpointed dense labels of
    # the medium grid, both passes on the driver: the count of the cells'
    # checkpointed RDD (DataFrame.count() took two jobs), the cells'
    # collect and the runs' checkpoint; then the runs' collect and the
    # labels' checkpoint. Through Spark (relational RLE, hinted one-task
    # CC, in-task rank) it took 4 + 3 jobs
    grid = named_grid("medium")
    cells = grid_to_cells(spark, grid).localCheckpoint(eager=True)
    runs, rle_jobs = _jobs_in_group(
        spark, "driver-rle", lambda: grid_to_runs(cells).localCheckpoint(eager=True)
    )
    dense, label_jobs = _jobs_in_group(
        spark, "driver-label-runs",
        lambda: label_runs(runs, "cross", base=1, cells_hint=grid.size).localCheckpoint(
            eager=True
        ),
    )
    assert len(rle_jobs) <= 3 and len(label_jobs) <= 2
    plan = dense._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "MapInArrow" not in plan
    _check_medium(runs, dense)


def test_label_runs_without_hint_counts_then_labels_on_driver(spark):
    # without cells_hint the run table is counted first (one job over the
    # checkpoint's RDD), then collected and labeled on the driver; the
    # Spark route's labels in several partitions took the distributed rank
    # here, 16 jobs
    grid = named_grid("medium")
    runs = grid_to_runs(grid_to_cells(spark, grid)).localCheckpoint(eager=True)
    dense, jobs = _jobs_in_group(
        spark, "label-runs-no-hint",
        lambda: label_runs(runs, "cross", base=1).localCheckpoint(eager=True),
    )
    assert len(jobs) <= 3
    _check_medium(runs, dense)
