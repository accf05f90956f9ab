"""Micro-graph unit tests (FIXTURES.md §3) against independent oracles."""

from __future__ import annotations

import contextlib

import numpy as np
import pytest
from pyspark.sql import functions as F

import imtag_spark.operators.cc as cc_mod
from imtag_spark.operators import driver
from imtag_spark.operators.cc import connected_components
from imtag_spark.operators.lpa import label_propagation
from imtag_spark.operators.pagerank import pagerank
from imtag_spark.operators.stats import degrees
from imtag_spark.operators.triangles import total_triangles, triangle_count
from oracles import brute_triangles, cc_min_label, numpy_pagerank
from oracles import label_propagation as oracle_lpa

TWO_TRIANGLES_BRIDGE = [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (5, 6), (4, 6)]


def edges_df(spark, pairs):
    return spark.createDataFrame(
        [tuple(None if v is None else int(v) for v in p) for p in pairs] or [],
        "src BIGINT, dst BIGINT",
    )


def _named(pairs):
    """The edges every route keeps: those with no null endpoint."""
    return [p for p in pairs if None not in p]


def _oracle_labels(pairs) -> dict[int, int]:
    """Exact min-vertex labels from the union-find oracle; edges with a
    null endpoint are dropped, as every route drops them."""
    pairs = _named(pairs)
    verts = sorted({v for p in pairs for v in p})
    index = {v: i for i, v in enumerate(verts)}
    roots = cc_min_label(len(verts), [(index[a], index[b]) for a, b in pairs])
    return {v: verts[r] for v, r in zip(verts, roots)}


#: the two routes of PageRank, LPA and triangles: NumPy on the driver at
#: most ``driver.FUNNEL_EDGE_LIMIT`` rows, the Spark loop above it
ROUTES = ("driver", "distributed")


@contextlib.contextmanager
def _on_route(funnel_gate, route):
    """Force PageRank, LPA and triangles onto ``route`` inside the block
    (a gate of -1 rows sends even an empty table to the Spark loop);
    yields the routes the size gate chose, one per call."""
    taken: list[str] = []
    real = driver.small_edge_arrays
    gate = driver.FUNNEL_EDGE_LIMIT

    def spy(edges):
        out = real(edges)
        taken.append("distributed" if out is None else "driver")
        return out

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(driver, "small_edge_arrays", spy)
        if route == "distributed":
            funnel_gate(-1)
        try:
            yield taken
        finally:
            funnel_gate(gate)


def _count_calls(monkeypatch, *names, module=None):
    """Spy on the named functions of ``module`` (default ``cc``); returns
    their call counts."""
    module = module or cc_mod
    calls = dict.fromkeys(names, 0)
    for name in names:
        def spy(*args, _real=getattr(module, name), _name=name, **kw):
            calls[_name] += 1
            return _real(*args, **kw)

        monkeypatch.setattr(module, name, spy)
    return calls


def test_cc_two_triangles_bridge(spark):
    labels = connected_components(edges_df(spark, TWO_TRIANGLES_BRIDGE))
    rows = {r.vertex: r.component for r in labels.collect()}
    assert rows == {v: 1 for v in range(1, 7)}


def test_cc_path_converges_fast(spark):
    n = 2000
    path = [(i, i + 1) for i in range(n)]
    labels = connected_components(edges_df(spark, path), max_iter=20)
    comps = labels.select("component").distinct().collect()
    assert len(comps) == 1 and comps[0].component == 0


def test_cc_isolated_and_selfloops(spark):
    e = edges_df(spark, [(7, 7), (8, 9), (9, 8), (10, 10)])
    rows = {r.vertex: r.component for r in connected_components(e).collect()}
    assert rows == {7: 7, 8: 8, 9: 8, 10: 10}


def test_cc_single_partition_matches_default(spark):
    # pseudo-random graph: the fast path must agree label-for-label
    rng = np.random.default_rng(7)
    pairs = rng.integers(0, 400, size=(1500, 2)).tolist()
    e = edges_df(spark, pairs)
    base = {r.vertex: r.component for r in connected_components(e).collect()}
    m: dict = {}
    fast = {
        r.vertex: r.component
        for r in connected_components(
            e, single_partition=True, metrics_out=m
        ).collect()
    }
    assert fast == base
    # one union-find pass solves a sub-chunk graph: exactly one round
    assert m["supersteps"] == 1


def test_cc_reuse_round_matches_default(spark, funnel_gate):
    # FUNNEL_EDGE_LIMIT=0 sends the graph through the distributed star
    # round; random + long path tail so it needs several rounds
    funnel_gate(0)
    rng = np.random.default_rng(23)
    pairs = rng.integers(0, 500, size=(1200, 2)).tolist()
    pairs += [(1000 + i, 1000 + i + 1) for i in range(300)]
    rows = connected_components(edges_df(spark, pairs), max_iter=20).collect()
    assert len(rows) == len({v for p in pairs for v in p})
    assert {r.vertex: r.component for r in rows} == _oracle_labels(pairs)


def test_cc_single_partition_selfloops_isolated(spark):
    e = edges_df(spark, [(7, 7), (8, 9), (9, 8), (10, 10)])
    rows = {
        r.vertex: r.component
        for r in connected_components(e, single_partition=True).collect()
    }
    assert rows == {7: 7, 8: 8, 9: 8, 10: 10}


def test_cc_one_task_pass_never_splits(spark, monkeypatch):
    # 8-row Arrow batches hand the one task's union-find a long path in
    # many pieces; the pass buffers them all, so its output is exact labels
    # in one superstep with no star round behind it
    calls = _count_calls(monkeypatch, "_star_round")
    n = 500
    path = [(i, i + 1) for i in range(n)]  # one long path spans many batches
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, "8")
    try:
        m: dict = {}
        rows = connected_components(
            edges_df(spark, path), single_partition=True, metrics_out=m
        ).collect()
    finally:
        spark.conf.set(key, prev)
    assert m["supersteps"] == 1 and calls["_star_round"] == 0
    assert sorted(r.vertex for r in rows) == list(range(n + 1))
    assert {r.component for r in rows} == {0}


def _hostile_graph(seed: int) -> list[tuple[int, int]]:
    """Random graph with duplicate and reversed edges, self-loop-only
    vertices, negative ids and ids above 2**31."""
    rng = np.random.default_rng(seed)
    ids = np.unique(
        np.concatenate(
            [
                rng.integers(-(2**40), 2**40, size=60),
                rng.integers(-(2**31), 2**31, size=60),
                rng.integers(-50, 50, size=30),
            ]
        )
    )
    pairs = [tuple(p) for p in rng.choice(ids, size=(120, 2)).tolist()]
    pairs += pairs[:20]  # duplicates
    pairs += [(b, a) for a, b in pairs[20:40]]  # reversed duplicates
    pairs += [(v, v) for v in rng.choice(ids, size=10).tolist()]
    return pairs


@pytest.mark.parametrize("seed", [3, 17])
def test_cc_one_task_route_matches_oracle(spark, monkeypatch, seed):
    # both small-input routes (the caller hint's one task, the measured
    # init count's driver solve) against the union-find oracle; rows are
    # counted too, since a dict comparison would hide a vertex listed twice
    calls = _count_calls(monkeypatch, "_star_round")
    pairs = _hostile_graph(seed)
    expected = _oracle_labels(pairs)
    e = edges_df(spark, pairs)
    for hint in (True, False):
        m: dict = {}
        rows = connected_components(e, single_partition=hint, metrics_out=m).collect()
        assert m["supersteps"] == 1 and calls["_star_round"] == 0
        assert len(rows) == len(expected)
        assert {r.vertex: r.component for r in rows} == expected


@pytest.mark.parametrize("patch", [True, False])
@pytest.mark.parametrize("seed", [3, 17])
def test_cc_star_round_matches_oracle(spark, monkeypatch, funnel_gate, seed, patch):
    # the hostile graphs through the distributed star round; without the
    # driver-side chain patch (PATCH_WITNESS_LIMIT=0) the rounds must
    # reach a terminal forest themselves
    calls = _count_calls(monkeypatch, "_star_round", "_chain_patch")
    funnel_gate(0)
    if not patch:
        monkeypatch.setattr(cc_mod, "PATCH_WITNESS_LIMIT", 0)
    pairs = _hostile_graph(seed)
    expected = _oracle_labels(pairs)
    rows = connected_components(edges_df(spark, pairs), max_iter=20).collect()
    assert len(rows) == len(expected)
    assert {r.vertex: r.component for r in rows} == expected
    assert calls["_star_round"] >= 1
    assert (calls["_chain_patch"] > 0) == patch


@pytest.mark.parametrize("case", ["null_endpoint", "shifted_ids"])
def test_cc_routes_agree_on_labels_and_schema(spark, monkeypatch, funnel_gate, case):
    # the counted driver solve, the hinted one task and the star rounds:
    # exact labels, one row per vertex, and one label schema
    calls = _count_calls(monkeypatch, "_one_task_solve", "_star_round")
    pairs = HOSTILE[case]
    expected = _oracle_labels(pairs)
    e = edges_df(spark, pairs)
    schemas = {}
    for route, hint, gate, ran in (
        ("driver", False, driver.FUNNEL_EDGE_LIMIT, (0, 0)),
        ("hinted", True, driver.FUNNEL_EDGE_LIMIT, (1, 0)),
        ("star", False, 0, (0, 1)),
    ):
        before = dict(calls)
        funnel_gate(gate)
        m: dict = {}
        labels = connected_components(e, single_partition=hint, max_iter=20, metrics_out=m)
        rows = labels.collect()
        got = (calls["_one_task_solve"] - before["_one_task_solve"],
               min(calls["_star_round"] - before["_star_round"], 1))
        assert got == ran, route
        assert route == "star" or m["supersteps"] == 1
        assert len(rows) == len(expected), route
        assert {r.vertex: r.component for r in rows} == expected, route
        schemas[route] = labels.schema
    assert schemas["driver"] == schemas["hinted"] == schemas["star"], schemas


def test_cc_routes_read_edge_columns_by_name(spark):
    # an edge table with another column first: the hinted one task and
    # the range-partitioned pass read src and dst by name, as the counted
    # driver solve does
    pairs = HOSTILE["shifted_ids"]
    expected = _oracle_labels(pairs)
    e = edges_df(spark, pairs).select(F.lit(7).cast("bigint").alias("w"), "src", "dst")
    for kw in ({}, {"single_partition": True}, {"range_partition": True}):
        rows = connected_components(e, **kw).collect()
        assert len(rows) == len(expected), kw
        assert {r.vertex: r.component for r in rows} == expected, kw


def test_cc_driver_route_saves_step_one(spark, tmp_path):
    # checkpoint_every=1 stores the driver solve as superstep 1, in the
    # frontier schema, and a resumed call finishes from it
    from imtag_spark.plans.checkpoint import SuperstepCheckpointer

    pairs = _hostile_graph(3)
    expected = _oracle_labels(pairs)
    e = edges_df(spark, pairs)
    ck = SuperstepCheckpointer(spark, str(tmp_path / "cc"))
    m: dict = {}
    labels = connected_components(e, checkpointer=ck, checkpoint_every=1, metrics_out=m)
    assert m["supersteps"] == 1
    assert {r.vertex: r.component for r in labels.collect()} == expected
    frontier, step = ck.resume()
    assert step == 1 and frontier.columns == ["src", "dst"]
    assert {r.src: r.dst for r in frontier.collect()} == expected
    resumed = connected_components(e, checkpointer=ck, checkpoint_every=1)
    rows = resumed.collect()
    assert len(rows) == len(expected)
    assert {r.vertex: r.component for r in rows} == expected


def _shuffled_path(spark, n, copies=1):
    """The path p(0)-p(1)-...-p(n-1) over a pseudo-random permutation p of
    [0, n) (the rank of xxhash64), so neighbours land in unrelated
    partitions; each edge is given ``copies`` times, alternately reversed."""
    from pyspark.sql import Window

    perm = spark.range(n).select(
        "id", (F.row_number().over(Window.orderBy(F.xxhash64("id"))) - 1).alias("p")
    )
    a = perm.select(F.col("id").alias("i"), F.col("p").alias("src"))
    b = perm.select((F.col("id") - 1).alias("i"), F.col("p").alias("dst"))
    path = a.join(b, "i").select("src", "dst")
    out = path
    for k in range(1, copies):
        out = out.union(path.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
                        if k % 2 else path)
    return out


def test_cc_frontier_funnel_after_star_round(spark, monkeypatch, funnel_gate):
    # 4 × 999 input rows exceed a 2,000-row gate, so round 1 is a star
    # round; its frontier is collected and solved on the driver in round 2
    calls = _count_calls(monkeypatch, "_one_task_solve", "_star_round")
    funnel_gate(2_000)
    monkeypatch.setattr(cc_mod, "PATCH_WITNESS_LIMIT", 0)  # no driver patch
    edges = _shuffled_path(spark, 1_000, copies=4)
    pairs = [tuple(r) for r in edges.collect()]
    m: dict = {}
    rows = connected_components(edges, metrics_out=m).collect()
    assert (calls["_star_round"], calls["_one_task_solve"], m["supersteps"]) == (1, 0, 2)
    expected = _oracle_labels(pairs)
    assert len(rows) == len(expected)
    assert {r.vertex: r.component for r in rows} == expected


@pytest.mark.parametrize("patch", [True, False])
def test_cc_star_round_hub(spark, monkeypatch, funnel_gate, patch):
    # a 10^4-spoke hub plus a triangle through the distributed star round,
    # with and without the driver-side chain patch
    calls = _count_calls(monkeypatch, "_star_round")
    funnel_gate(0)
    if not patch:
        monkeypatch.setattr(cc_mod, "PATCH_WITNESS_LIMIT", 0)
    pairs = HOSTILE["hub"]
    rows = connected_components(edges_df(spark, pairs), max_iter=20).collect()
    expected = _oracle_labels(pairs)
    assert calls["_star_round"] >= 1
    assert len(rows) == len(expected) == 10_001
    assert {r.vertex: r.component for r in rows} == expected


def test_cc_star_rounds_path_graph_without_patch(spark, monkeypatch, funnel_gate):
    # the 5,000-vertex shuffled path with the chain patch off: the star
    # rounds alone must reach a terminal forest
    calls = _count_calls(monkeypatch, "_star_round", "_chain_patch")
    funnel_gate(0)
    monkeypatch.setattr(cc_mod, "PATCH_WITNESS_LIMIT", 0)
    edges = _shuffled_path(spark, 5_000)
    pairs = [tuple(r) for r in edges.collect()]
    rows = connected_components(edges).collect()
    expected = _oracle_labels(pairs)
    assert calls["_star_round"] >= 2 and calls["_chain_patch"] == 0
    assert len(rows) == len(expected) == 5_000
    assert {r.vertex: r.component for r in rows} == expected


def _jobs_in_group(spark, group: str, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    jobs = [tracker.getJobInfo(j) for j in tracker.getJobIdsForGroup(group)]
    return out, jobs


def test_cc_one_task_labels_are_one_shuffle_free_job(spark):
    # the hinted one-task solve materializes its labels in ONE Spark job
    # with a single stage (an Exchange would add a stage); the measured
    # route adds only the init count (one aggregate: two jobs under AQE)
    e = edges_df(spark, TWO_TRIANGLES_BRIDGE + [(9, 9)])
    out, jobs = _jobs_in_group(
        spark, "cc-one-task-hint",
        lambda: connected_components(e, single_partition=True),
    )
    assert len(jobs) == 1
    assert len(jobs[0].stageIds) == 1
    _, init_jobs = _jobs_in_group(
        spark, "cc-one-task-measured", lambda: connected_components(e)
    )
    assert len(init_jobs) <= 3
    # reading the labels back needs no recomputation: a checkpoint scan
    assert "Exchange" not in out._jdf.queryExecution().executedPlan().toString()
    assert sorted((r.vertex, r.component) for r in out.collect()) == [
        (1, 1), (2, 1), (3, 1), (4, 1), (5, 1), (6, 1), (9, 9)
    ]


@pytest.mark.parametrize(
    "call, before",
    [("pagerank_setup", 20), ("total_triangles", 16), ("cc_star_exit", 19)],
)
def test_one_vertex_table_job_counts(spark, funnel_gate, call, before):
    # each operator builds its vertex set once, from an aggregate it needs
    # anyway; ``before`` is the count with a second vertex pass (a
    # PageRank vertex checkpoint, a triangle vertex distinct, a persisted
    # CC vertex universe), measured in this same harness
    rng = np.random.default_rng(11)
    pairs = [(int(a), int(b)) for a, b in rng.integers(0, 25, size=(80, 2)) if a != b]
    e = edges_df(spark, pairs).localCheckpoint(eager=True)
    # CC takes the star route, PageRank and triangles their Spark loops
    funnel_gate(0)
    h = edges_df(spark, _hostile_graph(3))
    fn = {
        "pagerank_setup": lambda: pagerank(e, max_iter=0).count(),
        "total_triangles": lambda: total_triangles(e),
        "cc_star_exit": lambda: connected_components(h, max_iter=20),
    }[call]
    _, jobs = _jobs_in_group(spark, f"one-vertex-table-{call}", fn)
    assert len(jobs) < before


def test_triangles_two_triangles_bridge(spark):
    e = edges_df(spark, TWO_TRIANGLES_BRIDGE)
    assert total_triangles(e) == 2
    per = {r.vertex: r.triangles for r in triangle_count(e).collect()}
    assert per == {v: 1 for v in range(1, 7)}


def test_triangles_random_vs_bruteforce(spark, funnel_gate):
    # on both routes: NumPy on the driver and the Spark loop
    rng = np.random.default_rng(7)
    pairs = {(int(a), int(b)) for a, b in rng.integers(0, 30, size=(120, 2))}
    e = edges_df(spark, pairs)
    expected_total, expected_per = brute_triangles(list(pairs))
    for route in ROUTES:
        with _on_route(funnel_gate, route) as taken:
            assert total_triangles(e) == expected_total, route
            got = {r.vertex: r.triangles for r in triangle_count(e).collect()}
        assert taken == [route, route]
        for v, c in expected_per.items():
            assert got.get(v, 0) == c, (route, v)


def test_triangles_star_has_none(spark):
    e = edges_df(spark, [(0, i) for i in range(1, 50)])
    assert total_triangles(e) == 0


@pytest.mark.parametrize("directed", [True, False])
def test_pagerank_vs_numpy(spark, funnel_gate, directed):
    # on both routes: NumPy on the driver and the Spark loop
    rng = np.random.default_rng(11)
    pairs = list({(int(a), int(b)) for a, b in rng.integers(0, 25, size=(80, 2)) if a != b})
    e = edges_df(spark, pairs)
    want = numpy_pagerank(pairs, [], directed=directed)
    for route in ROUTES:
        with _on_route(funnel_gate, route) as taken:
            got = {r.vertex: r.rank for r in pagerank(
                e, directed=directed, tol=1e-8, max_iter=200).collect()}
        assert taken == [route]
        assert set(got) == set(want)
        for v in want:
            assert abs(got[v] - want[v]) < 1e-6, (route, v, got[v], want[v])
        assert abs(sum(got.values()) - 1.0) < 1e-9


@pytest.mark.parametrize("directed", [True, False])
def test_pagerank_join_route_vs_numpy(spark, funnel_gate, directed):
    # vertices 40-47 only receive edges, so the directed graph has
    # dangling vertices
    funnel_gate(0)  # the Spark loop
    rng = np.random.default_rng(53)
    pairs = {(int(a), int(b)) for a, b in rng.integers(0, 40, size=(120, 2)) if a != b}
    pairs |= {(int(a), 40 + i) for i, a in enumerate(rng.integers(0, 40, size=8))}
    pairs = list(pairs)
    metrics: dict = {}
    got = {r.vertex: r.rank for r in pagerank(
        edges_df(spark, pairs), directed=directed, tol=1e-8, max_iter=200,
        metrics_out=metrics).collect()}
    assert metrics["mode"] == "join"
    want = numpy_pagerank(pairs, [], directed=directed)
    assert set(got) == set(want)
    for v in want:
        assert abs(got[v] - want[v]) < 1e-6, (v, got[v], want[v])
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_pagerank_join_superstep_never_reexchanges_transitions(spark, funnel_gate):
    # the E-row transitions are cached hash(src)-partitioned and sorted, so
    # a superstep may exchange the V-row ranks side to meet them (and the
    # contributions to the dst aggregate) but never the cache again.
    # Broadcast joins are off while planning so this small graph plans the
    # shuffled join a large one gets.
    funnel_gate(0)  # the Spark loop
    e = edges_df(spark, [(a, b) for a in range(30) for b in range(a + 1, 30, 3)])
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        metrics = {}
        pagerank(e, tol=0.0, max_iter=2, metrics_out=metrics)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert metrics["mode"] == "join"
    plan = metrics["contribs_plan"].splitlines()
    # the cached InMemoryRelation prints its one-time BUILD plan (which
    # legitimately shuffles) as a subtree, between the join's cache side
    # and its ranks side
    cache_at = next((i for i, ln in enumerate(plan) if "InMemoryRelation" in ln), None)
    assert cache_at is not None, (
        "plan no longer prints the cached transitions as an InMemoryRelation "
        "subtree — update the superstep/build split:\n" + "\n".join(plan)
    )
    join_at = next(i for i, ln in enumerate(plan) if "SortMergeJoin" in ln)
    cache_side = plan[join_at + 1 : cache_at]
    assert not any("Exchange" in ln or "Sort [" in ln for ln in cache_side), cache_side

    def depth(ln):
        return len(ln) - len(ln.lstrip(" :+-"))

    ranks_side = [ln for ln in plan[cache_at + 1 :] if depth(ln) < depth(plan[cache_at])]
    induced = [ln for ln in ranks_side if "Exchange" in ln]
    assert len(induced) <= 1, ranks_side
    assert all("hashpartitioning(src" in ln for ln in induced), induced


def test_pagerank_supports_checkpointer(spark, tmp_path, funnel_gate):
    # rank state stays a DataFrame on the Spark route, so durable
    # checkpoint/resume must keep working
    from imtag_spark.plans.checkpoint import SuperstepCheckpointer

    funnel_gate(0)  # the Spark loop
    rng = np.random.default_rng(43)
    pairs = list({(int(a), int(b)) for a, b in rng.integers(0, 20, size=(60, 2)) if a != b})
    e = edges_df(spark, pairs)
    ckpt = SuperstepCheckpointer(spark, str(tmp_path / "pr_ckpt"))
    m: dict = {}
    got = {r.vertex: r.rank for r in pagerank(
        e, tol=1e-8, max_iter=100, checkpointer=ckpt, checkpoint_every=2,
        metrics_out=m).collect()}
    assert m["mode"] == "join"
    assert ckpt.manifest_path.exists()
    want = numpy_pagerank(pairs, [], directed=True)
    for v in want:
        assert abs(got[v] - want[v]) < 1e-6


def test_pagerank_star_closed_form(spark, funnel_gate):
    # hub 0 with k spokes, undirected: symmetric closed form, on both
    # routes
    k = 50
    e = edges_df(spark, [(0, i) for i in range(1, k + 1)])
    want = numpy_pagerank([(0, i) for i in range(1, k + 1)], [], directed=False)
    for route in ROUTES:
        with _on_route(funnel_gate, route) as taken:
            got = {r.vertex: r.rank for r in pagerank(
                e, directed=False, tol=1e-8, max_iter=200).collect()}
        assert taken == [route]
        for v in want:
            assert abs(got[v] - want[v]) < 1e-6, (route, v)
        # spokes all equal
        spoke_vals = [got[i] for i in range(1, k + 1)]
        assert max(spoke_vals) - min(spoke_vals) < 1e-12, route


def test_lpa_two_cliques(spark):
    # two 4-cliques joined by one bridge edge: LPA should give 2 communities
    c1 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    c2 = [(a, b) for a in range(10, 14) for b in range(a + 1, 14)]
    e = edges_df(spark, c1 + c2 + [(3, 10)])
    labels = {r.vertex: r.label for r in label_propagation(e, max_iter=10).collect()}
    comm1 = {labels[v] for v in range(4)}
    comm2 = {labels[v] for v in range(10, 14)}
    assert len(comm1) == 1 and len(comm2) == 1 and comm1 != comm2


@pytest.mark.parametrize("route", ROUTES)
def test_lpa_vs_oracle(spark, funnel_gate, route):
    # duplicates, reversed pairs (counted twice) and self-loop-only
    # vertices, which keep their own id
    rng = np.random.default_rng(19)
    pairs = [tuple(p) for p in rng.integers(0, 40, size=(120, 2)).tolist()]
    pairs += pairs[:15] + [(b, a) for a, b in pairs[15:30]]
    pairs += [(90, 90), (91, 91), (5, 5)]
    e = edges_df(spark, pairs)
    for max_iter in (1, 3, 10):
        with _on_route(funnel_gate, route) as taken:
            rows = label_propagation(e, max_iter=max_iter).collect()
        assert taken == [route]
        want = oracle_lpa(pairs, max_iter)
        assert len(rows) == len(want)
        assert {r.vertex: r.label for r in rows} == want, max_iter


def _shift(v: int) -> int:
    """Odd ids to just above 2**62, even ids to just above -2**62."""
    return v + 2**62 if v % 2 else v - 2**62


def _hostile_inputs() -> dict[str, list[tuple[int, int]]]:
    rng = np.random.default_rng(29)
    base = [tuple(p) for p in rng.integers(0, 30, size=(90, 2)).tolist()]
    sinks = [tuple(p) for p in rng.integers(0, 20, size=(50, 2)).tolist()]
    sinks += [(i, 100 + i) for i in range(10)] + [(200, 201)]
    return {
        "empty": [],
        "self_loops_only": [(5, 5), (7, 7), (7, 7)],
        "dup_reversed": base + base[:20] + [(b, a) for a, b in base[20:45]],
        "shifted_ids": [(_shift(a), _shift(b)) for a, b in base],
        "hub": [(0, i) for i in range(1, 10_001)] + [(1, 2), (2, 3), (1, 3)],
        "sinks": sinks,
        # a null endpoint beside an id that float64 cannot hold exactly
        "null_endpoint": [(1, 2), (2, None), (3, 4), (2**62 + 1, 1)],
        # both ends of BIGINT: no id may be negated or offset
        "bigint_limits": [(-(2**63), 5), (5, 7), (7, 9), (9, 11), (11, 2**63 - 1)],
    }


HOSTILE = _hostile_inputs()


@pytest.mark.parametrize("ansi", ["true", "false"])
@pytest.mark.parametrize("route", ROUTES)
def test_lpa_bigint_limits_with_and_without_ansi(spark, funnel_gate, route, ansi):
    # after one round vertex 5 holds a tie between -2^63 and 7; the smaller
    # wins whether or not ANSI mode checks the loop's arithmetic
    pairs = HOSTILE["bigint_limits"]
    e = edges_df(spark, pairs)
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", ansi)
    try:
        for max_iter in (1, 4):
            with _on_route(funnel_gate, route) as taken:
                rows = label_propagation(e, max_iter=max_iter).collect()
            assert taken == [route]
            got = {r.vertex: r.label for r in rows}
            assert got == oracle_lpa(pairs, max_iter), max_iter
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)


@pytest.mark.parametrize("case", sorted(HOSTILE))
@pytest.mark.parametrize("route", ROUTES)
def test_hostile_inputs_match_oracles(spark, funnel_gate, route, case):
    e = edges_df(spark, HOSTILE[case])
    with _on_route(funnel_gate, route) as taken:
        frames = (
            pagerank(e, tol=0.0, max_iter=4),
            label_propagation(e, max_iter=4),
            triangle_count(e),
        )
        ranks, labels, per = (f.collect() for f in frames)
        total = total_triangles(e)
    assert taken == [route] * 4
    # ids stay exact BIGINT, also beside a null endpoint; the schemas,
    # nullability included, are the same on every input, the empty one too
    assert [[(f.name, f.dataType.simpleString(), f.nullable) for f in fr.schema]
            for fr in frames] == [
        [("vertex", "bigint", True), ("rank", "double", False)],
        [("vertex", "bigint", True), ("label", "bigint", True)],
        [("vertex", "bigint", True), ("triangles", "bigint", False)],
    ]
    # every route drops an edge with a null endpoint
    pairs = _named(HOSTILE[case])
    # PageRank drops self-loops, and with them the vertices only they name
    want = numpy_pagerank([p for p in pairs if p[0] != p[1]], [], tol=0.0, max_iter=4)
    assert len(ranks) == len(want)
    for r in ranks:
        assert abs(r.rank - want[r.vertex]) < 1e-6, (r.vertex, r.rank, want[r.vertex])
    want_labels = oracle_lpa(pairs, 4)
    assert len(labels) == len(want_labels)
    assert {r.vertex: r.label for r in labels} == want_labels
    want_total, want_per = brute_triangles(pairs)
    assert total == want_total
    assert len(per) == len(want_per)
    assert {r.vertex: r.triangles for r in per} == want_per


def test_size_gate_boundary(spark, monkeypatch, funnel_gate):
    # a table of exactly FUNNEL_EDGE_LIMIT rows is solved on the driver,
    # one row more by the Spark loops. The extra row repeats an edge, so
    # both routes see the same graph and must agree.
    import imtag_spark.operators.lpa as lpa_mod
    import imtag_spark.operators.triangles as tri_mod

    pairs = [(a, b) for a in range(8) for b in range(a + 1, 8)] + [(8, 9)]
    funnel_gate(len(pairs))
    lpa_calls = _count_calls(monkeypatch, "_driver_lpa", module=lpa_mod)
    tri_calls = _count_calls(monkeypatch, "_driver_triangles", module=tri_mod)
    out = {}
    for rows, route in ((pairs, "driver"), (pairs + [(0, 1)], "distributed")):
        e = edges_df(spark, rows)
        m: dict = {}
        frames = (
            pagerank(e, tol=0.0, max_iter=3, metrics_out=m),
            label_propagation(e, max_iter=3),
            triangle_count(e),
        )
        total = total_triangles(e)
        assert (m["mode"] == "driver") == (route == "driver"), m["mode"]
        # the NumPy kernels ran in the driver pass only (LPA once,
        # triangles once per call) and never again
        assert (lpa_calls["_driver_lpa"], tri_calls["_driver_triangles"]) == (1, 2)
        ranks, labels, per = (f.collect() for f in frames)
        out[route] = (
            {r.vertex: r.rank for r in ranks},
            {r.vertex: r.label for r in labels},
            {r.vertex: r.triangles for r in per},
            total,
            # the same schemas, nullability included, on both routes
            [f.schema for f in frames],
        )
    driver, distributed = out["driver"], out["distributed"]
    assert driver[1:] == distributed[1:]
    assert driver[3] == 56  # C(8, 3)
    assert set(driver[0]) == set(distributed[0])
    for v, r in driver[0].items():
        assert abs(r - distributed[0][v]) <= 1e-12


def test_triangles_chunked_wedges_on_clique(spark, monkeypatch):
    # the driver route enumerates wedges in chunks of WEDGE_CHUNK; a
    # clique's chunks split vertices' out-lists mid-way
    import imtag_spark.operators.triangles as tri_mod

    monkeypatch.setattr(tri_mod, "WEDGE_CHUNK", 300)
    sizes: list[int] = []
    real = tri_mod._wedge_chunks

    def spy(u, v, chunk):
        for wedges in real(u, v, chunk):
            sizes.append(len(wedges[0]))
            yield wedges

    monkeypatch.setattr(tri_mod, "_wedge_chunks", spy)
    k = 40
    pairs = [(a, b) for a in range(k) for b in range(a + 1, k)]
    e = edges_df(spark, pairs + [(b, a) for a, b in pairs[:50]])
    want_total, want_per = brute_triangles(pairs)
    assert total_triangles(e) == want_total == k * (k - 1) * (k - 2) // 6
    assert {r.vertex: r.triangles for r in triangle_count(e).collect()} == want_per
    # every wedge of a clique closes: two calls, C(k, 3) wedges each
    assert max(sizes) <= 300 and sum(sizes) == 2 * want_total


def _corpus_sized_table(spark):
    """A checkpointed corpus-sized graph: 10^5 edges over 5 × 10^4 ids."""
    return spark.range(100_000).select(
        F.pmod(F.xxhash64("id"), F.lit(50_000)).alias("src"),
        F.pmod(F.xxhash64(F.col("id") + 10**6), F.lit(50_000)).alias("dst"),
    ).localCheckpoint(eager=True)


def test_driver_route_job_counts(spark, tmp_path):
    # a corpus-sized graph (10^5 edges): on the traced corpus job the
    # Spark loops ran 27 jobs for PageRank with one checkpoint save, 19
    # for LPA and 10 for triangles. The four operators share one count
    # and one collect: 14 jobs when each counted and collected again, 5
    # when the checkpoint's read-back still inferred its schema, 4 when
    # the count was DataFrame.count() (two jobs under AQE) rather than one
    # over the checkpoint's RDD
    from imtag_spark.plans.checkpoint import SuperstepCheckpointer

    e = _corpus_sized_table(spark)
    ck = SuperstepCheckpointer(spark, str(tmp_path / "pr"))
    m: dict = {}
    calls = {
        "cc": lambda: connected_components(e),
        "pagerank": lambda: pagerank(
            e, max_iter=3, tol=0.0, checkpointer=ck, checkpoint_every=2, metrics_out=m
        ),
        "lpa": lambda: label_propagation(e, max_iter=2),
        "total_triangles": lambda: total_triangles(e),
    }
    jobs = {}
    for name, fn in calls.items():
        _, jobs[name] = _jobs_in_group(spark, f"driver-route-{name}", fn)
    assert sum(len(j) for j in jobs.values()) <= 3, {k: len(j) for k, j in jobs.items()}
    # only the checkpoint write runs after CC's collect: the save reads it
    # back with the schema it wrote, with no inference job
    assert len(jobs["pagerank"]) == 1
    assert len(jobs["lpa"]) == len(jobs["total_triangles"]) == 0
    assert m["mode"] == "driver" and m["supersteps"] == 3
    assert ck.resume()[1] == 2


def test_small_edge_arrays_keeps_one_fixed_table(spark, monkeypatch, funnel_gate):
    import gc

    def held():
        return None if driver._last_small is None else driver._last_small[0]()

    # a lazy plan, or a projection over a checkpoint, may give other rows
    # when read again: collected, never kept
    lazy = spark.range(50).select(F.col("id").alias("src"), (F.col("id") + 1).alias("dst"))
    assert len(driver.small_edge_arrays(lazy)[0]) == 50
    projected = lazy.localCheckpoint(eager=True).select("src", "dst")
    assert len(driver.small_edge_arrays(projected)[0]) == 50
    assert held() is not lazy and held() is not projected

    first = _corpus_sized_table(spark)
    src, dst = driver.small_edge_arrays(first)
    assert held() is first and not src.flags.writeable
    again, jobs = _jobs_in_group(spark, "small-cache-hit", lambda: driver.small_edge_arrays(first))
    assert jobs == [] and again[0] is src and again[1] is dst

    # a gate lowered below the kept length sends the same object to the
    # Spark loops, with no new count
    funnel_gate(len(src) - 1)
    miss, jobs = _jobs_in_group(spark, "small-cache-gate", lambda: driver.small_edge_arrays(first))
    assert miss is None and jobs == []
    m: dict = {}
    pagerank(first, max_iter=1, metrics_out=m)
    assert m["mode"] != "driver"
    monkeypatch.undo()

    # a second table replaces the first: one entry at most
    second = first.where(F.col("src") < 100).localCheckpoint(eager=True)
    driver.small_edge_arrays(second)
    assert held() is second
    _, jobs = _jobs_in_group(spark, "small-cache-replaced", lambda: driver.small_edge_arrays(first))
    assert jobs  # counted and collected again
    assert held() is first

    # the entry goes with its DataFrame
    del first, src, dst, again
    gc.collect()
    assert driver._last_small is None


def test_degrees(spark):
    e = edges_df(spark, [(1, 2), (2, 1), (2, 3), (3, 3)])
    got = {r.vertex: r.degree for r in degrees(e).collect()}
    assert got == {1: 1, 2: 2, 3: 1}


def test_cc_frontier_funnel_solves_small_graph_in_one_round(spark):
    # adaptive funnel (r4): the init job measures the edge count; anything
    # that fits one union-find chunk is solved in ONE coalesced pass and
    # certified terminal in the same round — no distributed star rounds
    from imtag_spark.operators.cc import connected_components

    edges = spark.range(3000).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    ).repartition(8)
    metrics: dict = {}
    out = connected_components(edges, metrics_out=metrics)
    assert metrics["supersteps"] == 1
    rows = out.collect()
    assert len(rows) == 3001
    assert all(r["component"] == 0 for r in rows)  # one path, min id = 0


def test_chain_patch_unit(spark):
    """_chain_patch resolves chains, duplicate pointers, AND re-attaches
    rows whose dst is only dragged downward transitively (the row (6, 2)
    below never touches a violating vertex on its src side, yet 2's root
    moves to 1 through the duplicate-pointer vertex 7)."""
    from imtag_spark.operators.cc import _chain_patch

    rows = [(5, 3), (3, 1), (7, 1), (7, 2), (6, 2), (8, 3), (10, 9)]
    stepped = spark.createDataFrame(rows, "src BIGINT, dst BIGINT")
    patch = _chain_patch(stepped)
    assert patch is not None
    mapping = {r["_old"]: r["_new"] for r in patch.collect()}
    # every mapped value is the true component minimum
    assert all(v == 1 for v in mapping.values()), mapping
    # 2 and 3 must be re-rooted (they are non-terminal dsts); 9 untouched
    assert mapping.get(2) == 1 and mapping.get(3) == 1
    assert 9 not in mapping
    patched = {(s, mapping.get(d, d)) for s, d in rows}
    # terminal star forest: no dst appears as src, each src once
    srcs = [s for s, _ in patched]
    assert len(srcs) == len(set(srcs))
    assert not ({d for _, d in patched} & set(srcs))
    assert patched == {(5, 1), (3, 1), (7, 1), (6, 1), (8, 1), (10, 9)}


def test_cc_patch_round_path_graph(spark, funnel_gate):
    """Force the distributed rounds (funnel off) on a shuffled path graph:
    partition-local contraction leaves cross-partition chains whose tail
    round the terminal patch must replace, bit-identically to the
    min-label contract."""
    import imtag_spark.operators.cc as cc

    funnel_gate(0)
    n = 5000
    edges = _shuffled_path(spark, n)
    labels = cc.connected_components(edges).collect()
    assert len(labels) == n
    comps = {r["component"] for r in labels}
    assert comps == {0}, f"single path component must label 0, got {sorted(comps)[:5]}"


def test_materialized_scan_requires_deterministic_projection(spark):
    # r4 ADVICE: a nondeterministic projection/filter over a checkpoint is
    # re-evaluated per job — CC's init-copy skip may not trust it
    from imtag_spark.plans.checkpoint import is_materialized_scan

    base = (
        spark.range(10)
        .select(F.col("id").alias("src"), (F.col("id") + 1).alias("dst"))
        .localCheckpoint()
    )
    assert is_materialized_scan(base)
    assert is_materialized_scan(base.select("src", "dst"))
    assert is_materialized_scan(base.where(F.col("src") > 2).select("src", "dst"))
    assert not is_materialized_scan(
        base.select((F.col("src") + F.floor(F.rand() * 0)).alias("src"), "dst")
    )
    assert not is_materialized_scan(base.where(F.rand() >= 0.0))
    assert not is_materialized_scan(base.repartition(2))


def test_cc_wide_ids_stay_int64_exact(spark, funnel_gate):
    # ids above 2^31 cross the Arrow transit as int64 and labels stay
    # exact through the star round, forced on
    funnel_gate(0)
    big = 2**40
    pairs = [(big + a, big + b) for a, b in TWO_TRIANGLES_BRIDGE] + [(5, big + 1)]
    labels = connected_components(edges_df(spark, pairs), max_iter=20)
    rows = {r.vertex: r.component for r in labels.collect()}
    assert rows == {v: 5 for v in [5] + [big + i for i in range(1, 7)]}


def test_cc_negative_ids_exact(spark, funnel_gate):
    # negative ids down to -2^31: min-labeling stays exact through the
    # star round, forced on
    funnel_gate(0)
    pairs = [(-3, -2), (-2, 7), (10, 11), (-(2**31), -3)]
    labels = connected_components(edges_df(spark, pairs), max_iter=20)
    rows = {r.vertex: r.component for r in labels.collect()}
    lo = -(2**31)
    assert rows == {lo: lo, -3: lo, -2: lo, 7: lo, 10: 10, 11: 10}


@pytest.mark.parametrize("ansi", ["true", "false"])
def test_cc_narrow_ids_is_ignored(spark, ansi):
    # narrow_ids is accepted and changes nothing: ids above 2^31 come back
    # exact on the one-task route with or without ANSI mode
    big = 2**40
    e = edges_df(
        spark, [(big + 3, big + 1), (big + 1, 7), (big + 5, big + 5), (8, 9), (9, 8)]
    )
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", ansi)
    try:
        rows = {
            r.vertex: r.component
            for r in connected_components(
                e, single_partition=True, narrow_ids=True
            ).collect()
        }
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)
    assert rows == {big + 3: 7, big + 1: 7, 7: 7, big + 5: big + 5, 8: 8, 9: 8}
