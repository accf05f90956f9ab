"""Dense relabel: both ``densely_relabel`` routes against a dense-rank oracle.

One materialized partition (CC's one-task solve) is ranked inside its task;
every other input takes the two-phase distributed rank. Spies assert which
route ran; both routes must return identical rows in identical columns.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

import imtag_spark.operators.relabel as relabel
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


def _relabel(monkeypatch, df, base, route):
    """``densely_relabel(df, base=base)`` collected, asserting ``route`` ran.

    Returns (columns, dtypes, sorted rows)."""
    calls = {"_rank_in_task_fn": 0, "dense_component_ranks": 0}
    for name in calls:
        def spy(*args, _real=getattr(relabel, name), _name=name, **kw):
            calls[_name] += 1
            return _real(*args, **kw)

        monkeypatch.setattr(relabel, name, spy)
    out = densely_relabel(df, base=base)
    rows = sorted(tuple(r) for r in out.collect())
    monkeypatch.undo()
    in_task = route == "in_task"
    assert calls == {
        "_rank_in_task_fn": int(in_task),
        "dense_component_ranks": int(not in_task),
    }
    return out.columns, out.dtypes, rows


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
def test_relabel_cc_labels_both_routes(spark, monkeypatch, seed, base):
    pairs = _random_pairs(seed)
    edges = spark.createDataFrame(pairs, "src BIGINT, dst BIGINT")
    labels = connected_components(edges, single_partition=True)
    rows = [tuple(r) for r in labels.select("vertex", "component").collect()]
    want = _oracle(rows, 1, base)

    in_task = _relabel(monkeypatch, labels, base, "in_task")
    assert in_task[0] == ["component", "vertex", "dense_label"]
    assert in_task[2] == want
    assert _relabel(monkeypatch, labels.repartition(4), base, "distributed") == in_task

    # labels from the distributed star rounds: AQE may coalesce their
    # min-aggregate into one partition, so the spied distributed rank is
    # fed them repartitioned, and relabeling them as they come must give
    # the same rows whichever route it takes
    import imtag_spark.operators.cc as cc_mod

    monkeypatch.setattr(cc_mod, "FUNNEL_EDGE_LIMIT", 0)
    star = connected_components(edges)
    assert _relabel(monkeypatch, star.repartition(4), base, "distributed") == in_task
    out = densely_relabel(star, base=base)
    assert (out.columns, out.dtypes) == in_task[:2]
    assert sorted(tuple(r) for r in out.collect()) == in_task[2]


@pytest.mark.parametrize("base", [0, 1])
@pytest.mark.parametrize("offset", ID_OFFSETS)
def test_relabel_hostile_table_both_routes(spark, monkeypatch, offset, base):
    # component not first, duplicate rows, a null component and a string
    # payload; a deterministic projection adds one more column and keeps
    # the table a materialized scan
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

    in_task = _relabel(monkeypatch, table, base, "in_task")
    assert in_task[0] == ["component", "vertex", "payload", "twice", "dense_label"]
    assert in_task[2] == want
    assert _relabel(monkeypatch, table.repartition(4), base, "distributed") == in_task

    # empty: a filter over the one-partition scan leaves no rows
    empty = table.where(F.col("vertex") < 0)
    got = _relabel(monkeypatch, empty, base, "in_task")
    assert got == in_task[:2] + ([],)
    assert _relabel(monkeypatch, empty.repartition(4), base, "distributed") == got


def test_label_runs_ranks_in_task_in_three_jobs(spark):
    # hinted label_runs hands relabel CC's one-partition checkpoint, so the
    # dense labels add no job: two jobs inside CC's one-task solve, one for
    # the caller's checkpoint (the distributed rank made it 13 on 1024²)
    grid = named_grid("medium")
    runs = grid_to_runs(grid_to_cells(spark, grid)).localCheckpoint(eager=True)
    dense, jobs = _jobs_in_group(
        spark, "label-runs-in-task",
        lambda: label_runs(runs, "cross", base=1, cells_hint=grid.size),
    )
    plan = dense._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan and "Exchange" not in plan
    dense, more = _jobs_in_group(
        spark, "label-runs-in-task-checkpoint",
        lambda: dense.localCheckpoint(eager=True),
    )
    assert len(jobs) + len(more) <= 3
    img = to_label_image(labeled_cells(runs, dense), *grid.shape)
    assert dense.count() == runs.count()
    assert dense.agg(F.max("dense_label")).first()[0] == 3100
    assert (
        label_image_sha256(img)
        == "e774e062d860012a285ca0791bf87ab5050632bae4c94b20e84a857b42a63d62"
    )
