"""Exact-match parity with the compiled reference (golden hashes, FIXTURES.md §2).

Pipeline under test: seeded grid → cells → RLE runs (scan-order ids) →
adjacent-row interval-overlap edges → distributed CC → dense relabel →
label image → sha256 vs goldens harvested from the real imtag binary.
"""

from __future__ import annotations

import numpy as np
import pytest

from imtag_spark.operators.interval_join import CROSS, EIGHT_WAY, adjacent_row_edges
from imtag_spark.operators.label_image import (
    label_image_sha256,
    labeled_cells,
    to_label_image,
)
from imtag_spark.operators.rle import grid_to_runs
from imtag_spark.plans.pipelines import label_runs
from imtag_spark.sources.grids import GRID_SPECS, make_grid, named_grid, grid_to_cells
from oracles import grid_runs

# name → (runs, cross_edges, cross_components, cross_sha, eight_components, eight_sha)
GOLDENS = {
    "tiny": (
        70, 42, 29,
        "51cedecf039a8ad4cdbff52fac33788108c4ed1138838acbd436759cc48dac88",
        5,
        "64e34f461456ec5394cb43637a42d11147e7378fd216caa59018183788392cab",
    ),
    "small": (
        1039, 800, 253,
        "63cff2fffda6a539b3054a46827c868e279978c965c7f67632f559e523324eda",
        24,
        "c49f91e7e01b7123746bd12ce1eac2e5ec7c9308c8c2538552eae5ec73c4fbb4",
    ),
    "medium": (
        16423, 13794, 3100,
        "e774e062d860012a285ca0791bf87ab5050632bae4c94b20e84a857b42a63d62",
        104,
        "2770e1cd78c9b3475edfb716b7f5201a40450402932720694975d1dfaa85e238",
    ),
}


def _run_pipeline(spark, name: str, connectivity: str):
    grid = named_grid(name)
    cells = grid_to_cells(spark, grid)
    runs = grid_to_runs(cells).persist()
    edges = adjacent_row_edges(runs, connectivity)
    dense = label_runs(runs, connectivity, base=1)
    cells_out = labeled_cells(runs, dense)
    img = to_label_image(cells_out, *grid.shape)
    runs_n = runs.count()
    edges_n = edges.count()
    comp_n = dense.select("dense_label").distinct().count()
    runs.unpersist()
    return runs_n, edges_n, comp_n, label_image_sha256(img)


@pytest.mark.parametrize("name", ["tiny", "small", "medium"])
def test_cross_parity(spark, name):
    runs_g, edges_g, comps_g, sha_g, _, _ = GOLDENS[name]
    runs_n, edges_n, comp_n, sha = _run_pipeline(spark, name, CROSS)
    assert runs_n == runs_g
    assert edges_n == edges_g
    assert comp_n == comps_g
    assert sha == sha_g


@pytest.mark.parametrize("name", ["tiny", "small", "medium"])
def test_eight_way_parity(spark, name):
    runs_g, _, _, _, comps_g, sha_g = GOLDENS[name]
    runs_n, _, comp_n, sha = _run_pipeline(spark, name, EIGHT_WAY)
    assert runs_n == runs_g
    assert comp_n == comps_g
    assert sha == sha_g


def test_grid_sha_matches_fixture():
    import hashlib

    grid = named_grid("tiny")
    assert (
        hashlib.sha256(grid.tobytes()).hexdigest()
        == "491dc8210a4065a00fb779f35565b3d53f478e590611b966f83930c386a33a98"
    )
    assert int((grid != 0).sum()) == 114
    assert GRID_SPECS["tiny"] == (16, 16, 0.45, 42)


#: pass-1 hostile grids: no foreground, all foreground, one row, one
#: column, no two neighbours in a row, and random densities
PASS1_GRIDS = {
    "all_zero": np.zeros((9, 13), dtype=np.uint8),
    "all_255": np.full((9, 13), 255, dtype=np.uint8),
    "one_row": make_grid(1, 500, 0.5, 3),
    "one_col": make_grid(300, 1, 0.5, 4),
    "checkerboard": (np.indices((33, 31)).sum(axis=0) % 2 * 255).astype(np.uint8),
    "p0.1": make_grid(40, 50, 0.1, 5),
    "p0.5": make_grid(40, 50, 0.5, 6),
    "p0.9": make_grid(40, 50, 0.9, 7),
}


@pytest.mark.parametrize("name", list(PASS1_GRIDS))
def test_grid_to_runs_matches_oracle(spark, name):
    # every run exactly, with id == its scan-order index; repartition(7)
    # splits each image row across input partitions
    grid = PASS1_GRIDS[name]
    cells = grid_to_cells(spark, grid).repartition(7)
    got = [
        (r.row, r.col_begin, r.col_end, r.id)
        for r in grid_to_runs(cells).orderBy("id").collect()
    ]
    assert got == [(*run, i) for i, run in enumerate(grid_runs(grid))]
