"""Driver routes of pass 1 and ``label_runs`` against their Spark routes.

A grid of at most ``driver.FUNNEL_EDGE_LIMIT`` cells is run-length encoded
on the driver, and a run table under the same gate (or under a
``cells_hint`` of at most ``driver.SMALL_GRAPH_EDGE_LIMIT``) is labeled on
the driver; larger
inputs go through Spark. Both routes must return identical rows in
identical schemas, nullability included, and match the NumPy oracles.
"""

from __future__ import annotations

import numpy as np
import pytest

import imtag_spark.operators.cc as cc_mod
import imtag_spark.operators.rle as rle
import imtag_spark.plans.pipelines as pipelines
from imtag_spark.operators.interval_join import CROSS, EIGHT_WAY, HORIZONTAL
from imtag_spark.operators.rle import grid_to_runs
from imtag_spark.plans.pipelines import label_runs
from imtag_spark.sources.grids import grid_to_cells, make_grid
from oracles import cc_min_label, dense_ranks, grid_edges, grid_runs
from test_ccl_parity import PASS1_GRIDS
from test_graph_ops import _count_calls

#: the run ids of the label_runs tables: scan order, shifted by 2^40 and
#: spread out, so that a route using positions for ids would fail
ID_SHIFT, ID_STRIDE = 2**40, 3


def _rows(df):
    return df.schema, sorted(tuple(r) for r in df.collect())


def _on_both_routes(monkeypatch, funnel_gate, module, driver_fn, call):
    """``call()`` collected at the default gate, then with the gate at -1
    rows (the Spark route even for an empty table); asserts ``driver_fn``
    of ``module`` ran on the first call only. Returns (schema, rows)."""
    calls = _count_calls(monkeypatch, driver_fn, module=module)
    on_driver = _rows(call())
    assert calls[driver_fn] == 1
    funnel_gate(-1)
    spark_route = _rows(call())
    assert calls[driver_fn] == 1
    monkeypatch.undo()
    assert on_driver == spark_route
    return on_driver


ROUTE_GRIDS = dict(PASS1_GRIDS, empty=np.zeros((0, 5), dtype=np.uint8))


@pytest.mark.parametrize("name", list(ROUTE_GRIDS))
def test_grid_to_runs_routes_agree(spark, monkeypatch, funnel_gate, name):
    # repartition(7) splits each image row across input partitions
    grid = ROUTE_GRIDS[name]
    if grid.size:
        cells = grid_to_cells(spark, grid).repartition(7)
    else:
        cells = spark.createDataFrame([], "row INT, col INT")
    schema, rows = _on_both_routes(
        monkeypatch, funnel_gate, rle, "_driver_runs", lambda: grid_to_runs(cells)
    )
    assert [f.dataType.simpleString() for f in schema] == ["int", "int", "int", "bigint"]
    assert all(f.nullable for f in schema)
    want = [(*run, i) for i, run in enumerate(grid_runs(grid))]
    assert sorted(rows, key=lambda r: r[3]) == want


def _run_table(spark, runs):
    """Runs in scan order → the run table with ids ``ID_SHIFT + ID_STRIDE
    × index``, its rows in reverse order."""
    rows = [(r, b, e, ID_SHIFT + ID_STRIDE * i) for i, (r, b, e) in enumerate(runs)]
    return spark.createDataFrame(rows[::-1], "row INT, col_begin INT, col_end INT, id BIGINT")


def _label_oracle(runs, connectivity, base):
    edges = [] if connectivity == HORIZONTAL else grid_edges(runs, connectivity)
    comp = [ID_SHIFT + ID_STRIDE * int(c) for c in cc_min_label(len(runs), edges)]
    ranks = dense_ranks(comp, base)
    return sorted((c, ID_SHIFT + ID_STRIDE * i, ranks[c]) for i, c in enumerate(comp))


@pytest.mark.parametrize("connectivity", [CROSS, EIGHT_WAY, HORIZONTAL])
@pytest.mark.parametrize("grid_name", ["p0.5", "checkerboard", "empty"])
def test_label_runs_routes_agree(spark, monkeypatch, funnel_gate, connectivity, grid_name):
    runs = grid_runs(ROUTE_GRIDS[grid_name])
    table = _run_table(spark, runs)
    schema, rows = _on_both_routes(
        monkeypatch, funnel_gate, pipelines, "_label_on_driver",
        lambda: label_runs(table, connectivity, base=1),
    )
    assert [(f.name, f.dataType.simpleString(), f.nullable) for f in schema] == [
        ("component", "bigint", True),
        ("vertex", "bigint", True),
        ("dense_label", "bigint", True),
    ]
    assert rows == _label_oracle(runs, connectivity, 1)
    # a cells_hint under SMALL_GRAPH_EDGE_LIMIT takes the driver route too
    hinted = label_runs(table, connectivity, base=1, cells_hint=ROUTE_GRIDS[grid_name].size)
    assert _rows(hinted) == (schema, rows)


def test_label_runs_overlapping_runs_take_spark_route(spark, monkeypatch):
    # a row whose runs overlap cannot be bounded by two binary searches:
    # the driver route hands such a table to the Spark route
    runs = [(0, 0, 5), (0, 1, 3), (1, 4, 6), (2, 0, 2)]
    table = _run_table(spark, runs)
    calls = _count_calls(monkeypatch, "connected_components", module=cc_mod)
    got = _rows(label_runs(table, EIGHT_WAY, base=0))[1]
    assert calls["connected_components"] == 1
    assert got == _label_oracle(runs, EIGHT_WAY, 0)


def test_grid_gate_boundary(spark, monkeypatch, funnel_gate):
    # a grid of exactly FUNNEL_EDGE_LIMIT cells is run-length encoded on
    # the driver, one cell more by Spark; a run table of exactly the gate's
    # rows is labeled on the driver without a hint, one run more by Spark
    grid = make_grid(20, 30, 0.5, 11)
    more = grid.copy()
    more[0, np.flatnonzero(more[0] == 0)[0]] = 255
    n_cells = int((grid != 0).sum())
    funnel_gate(n_cells)
    rle_calls = _count_calls(monkeypatch, "_driver_runs", module=rle)
    for g in (grid, more):
        got = grid_to_runs(grid_to_cells(spark, g)).collect()
        assert rle_calls["_driver_runs"] == 1
        assert sorted(tuple(r) for r in got) == [
            (*run, i) for i, run in enumerate(grid_runs(g))
        ]

    runs = grid_runs(grid)
    extra = runs + [(runs[-1][0] + 2, 0, 1)]
    funnel_gate(len(runs))
    label_calls = _count_calls(monkeypatch, "_label_on_driver", module=pipelines)
    for r in (runs, extra):
        got = _rows(label_runs(_run_table(spark, r), CROSS, base=1))[1]
        assert label_calls["_label_on_driver"] == 1
        assert got == _label_oracle(r, CROSS, 1)
