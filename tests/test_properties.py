"""Property-based invariants (SURVEY.md §5) on seeded random graphs/grids.

Budgeted for Spark round-trip cost: few examples, no deadline; the random
structure across percolation-ish densities is what buys coverage.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from imtag_spark.operators.cc import connected_components
from imtag_spark.operators.interval_join import CROSS, EIGHT_WAY, adjacent_row_edges
from imtag_spark.operators.rle import grid_to_runs
from imtag_spark.sources.grids import grid_to_cells, make_grid
from tests.oracles import cc_min_label, grid_edges, grid_runs


def _edges_df(spark, pairs):
    if not pairs:
        return spark.createDataFrame([], "src BIGINT, dst BIGINT")
    return spark.createDataFrame(
        [(int(a), int(b)) for a, b in pairs], "src BIGINT, dst BIGINT"
    )


#: per-seed id shift: keeps full-range int64 ids (negative, above 2^31,
#: near 2^63) in the Arrow transit of every route
ID_OFFSETS = [0, 2**40, -(2**31), 2**62]


def _spy_cc(monkeypatch, funnel_gate, route):
    """Force ``route`` and count the calls that prove it ran.

    ``calls["order"]`` lists the spied calls in order; a ``local_contract``
    entry records whether its input was range-partitioned."""
    import imtag_spark.operators.cc as cc

    calls = {"_star_round": 0, "_chain_patch": 0, "order": []}
    for name in ("_star_round", "_chain_patch"):
        def spy(*args, _real=getattr(cc, name), _name=name, **kw):
            calls[_name] += 1
            calls["order"].append(_name)
            return _real(*args, **kw)

        monkeypatch.setattr(cc, name, spy)

    def contract_spy(edges, _real=cc.local_contract):
        # repartitionByRange's node lists sort orders, a hash repartition's
        # bare columns
        top = edges._jdf.queryExecution().analyzed().toString().splitlines()[0]
        by_range = top.startswith("RepartitionByExpression") and " ASC " in top
        calls["order"].append(("local_contract", by_range))
        return _real(edges)

    monkeypatch.setattr(cc, "local_contract", contract_spy)
    if route in ("star", "star_no_patch", "range_star"):
        funnel_gate(0)
    if route == "star_no_patch":
        monkeypatch.setattr(cc, "PATCH_WITNESS_LIMIT", 0)
    return calls


def _assert_range_pass_first(calls, route):
    """The range route contracted its range-partitioned input before any
    star round, and reached the star round exactly when forced to."""
    assert calls["order"][:1] == [("local_contract", True)]
    assert (calls["_star_round"] >= 1) == (route == "range_star")


#: the default route for these ≤120-edge graphs is the one-task solve;
#: ``range`` adds the range-partitioned input pass before it
CC_ROUTES = ["default", "star", "star_no_patch", "range", "range_star"]


@pytest.mark.parametrize(
    "seed,route",
    [
        pytest.param(
            seed, route, id=str(seed) if route == "default" else f"{seed}-{route}"
        )
        for route in CC_ROUTES
        for seed in range(4)
    ],
)
def test_cc_is_partition_with_min_labels(spark, monkeypatch, funnel_gate, seed, route):
    rng = np.random.default_rng(seed)
    n_v = int(rng.integers(5, 60))
    n_e = int(rng.integers(0, 120))
    offset = ID_OFFSETS[seed]
    base = [(int(a), int(b)) for a, b in rng.integers(0, n_v, size=(n_e, 2))]
    pairs = [(a + offset, b + offset) for a, b in base]
    calls = _spy_cc(monkeypatch, funnel_gate, route)
    m: dict = {}
    rows = connected_components(
        _edges_df(spark, pairs),
        range_partition=route.startswith("range"),
        metrics_out=m,
    ).collect()
    labels = {r["vertex"]: r["component"] for r in rows}
    if not pairs:
        assert labels == {}
        return
    # the route really ran
    if route == "default":
        assert m["supersteps"] == 1 and calls["_star_round"] == 0
    elif route.startswith("range"):
        _assert_range_pass_first(calls, route)
    else:
        assert calls["_star_round"] >= 1
    if route == "star":
        # seeds 0-2 leave witnesses after round 1; seed 3's 10 edges don't
        assert (calls["_chain_patch"] > 0) == (seed != 3)
    if route == "star_no_patch":
        assert calls["_chain_patch"] == 0
    # every edge endpoint labeled EXACTLY once (a dict comprehension alone
    # would mask duplicate-vertex rows — the bug class the star-forest
    # certificate once had), label == min of component
    assert len(rows) == len(labels)
    verts = {v for p in base for v in p}
    assert set(labels) == {v + offset for v in verts}
    oracle = cc_min_label(max(verts) + 1, base)
    for v in verts:
        assert labels[v + offset] == oracle[v] + offset


@pytest.mark.parametrize("seed,p", [(5, 0.35), (6, 0.5), (7, 0.65)])
def test_grid_cc_idempotent_and_coarsening(spark, seed, p):
    grid = make_grid(24, 24, p, seed)
    runs = grid_to_runs(grid_to_cells(spark, grid)).localCheckpoint(eager=True)
    oracle_runs = grid_runs(grid)
    assert runs.count() == len(oracle_runs)

    by_conn = {}
    for conn in (CROSS, EIGHT_WAY):
        edges = adjacent_row_edges(runs, conn)
        labels = {r["vertex"]: r["component"]
                  for r in connected_components(edges).collect()}
        oracle = cc_min_label(len(oracle_runs), grid_edges(oracle_runs, conn))
        for v, lbl in labels.items():
            assert lbl == oracle[v]
        by_conn[conn] = oracle

    # EIGHT_WAY coarsens CROSS: same CROSS label => same EIGHT label
    cross, eight = by_conn[CROSS], by_conn[EIGHT_WAY]
    import collections

    cross_groups = collections.defaultdict(set)
    for v, lbl in enumerate(cross):
        cross_groups[lbl].add(eight[v])
    assert all(len(s) == 1 for s in cross_groups.values())


@pytest.mark.parametrize("route", ["range", "range_star"])
@pytest.mark.parametrize("conn", [CROSS, EIGHT_WAY])
def test_grid_cc_range_partition_matches_oracle(spark, monkeypatch, funnel_gate, conn, route):
    # scan-order run ids are the locality range_partition exists for: the
    # input pass runs first, then the one-task solve or the star round
    grid = make_grid(24, 24, 0.55, 11)
    runs = grid_to_runs(grid_to_cells(spark, grid)).localCheckpoint(eager=True)
    oracle_runs = grid_runs(grid)
    oracle = cc_min_label(len(oracle_runs), grid_edges(oracle_runs, conn))
    # every run as a self-loop too, as label_runs feeds CC
    loops = runs.select(F.col("id").alias("src"), F.col("id").alias("dst"))
    edges = adjacent_row_edges(runs, conn).unionByName(loops)
    calls = _spy_cc(monkeypatch, funnel_gate, route)
    rows = connected_components(edges, range_partition=True).collect()
    _assert_range_pass_first(calls, route)
    assert sorted((r["vertex"], r["component"]) for r in rows) == list(enumerate(oracle))


def test_cc_idempotent_on_own_output(spark):
    rng = np.random.default_rng(9)
    pairs = [(int(a), int(b)) for a, b in rng.integers(0, 40, size=(60, 2))]
    labels1 = connected_components(_edges_df(spark, pairs))
    # re-run CC on the (vertex -> component) star edges: must reproduce itself
    star = labels1.select(F.col("vertex").alias("src"),
                          F.col("component").alias("dst"))
    labels2 = {r["vertex"]: r["component"]
               for r in connected_components(star).collect()}
    for r in labels1.collect():
        assert labels2[r["vertex"]] == r["component"]


def test_cc_invariant_to_input_partitioning(spark):
    rng = np.random.default_rng(13)
    pairs = [(int(a), int(b)) for a, b in rng.integers(0, 200, size=(400, 2))]
    e = _edges_df(spark, pairs)
    base = {r["vertex"]: r["component"]
            for r in connected_components(e).collect()}
    for n_part in (1, 3, 16):
        shuffled = e.repartition(n_part)
        got = {r["vertex"]: r["component"]
               for r in connected_components(shuffled).collect()}
        assert got == base
