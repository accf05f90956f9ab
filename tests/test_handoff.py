"""``driver.frame_from_arrays``, every driver route's way back to Spark.

The helper must return what ``createDataFrame`` on the flat Arrow table
returned: the same schema, field for field with nullability, and the same
rows in the same order, while its plan holds no local relation of more
than ``defaultParallelism`` rows and runs no Python worker, below Spark's
Arrow local-relation threshold and above it. A lint keeps it the only
hand-off of driver arrays under ``operators/`` and ``plans/``, and keeps
``toPandas`` out of both: their collects read Arrow.
"""

from __future__ import annotations

import ast
from pathlib import Path

import numpy as np
import pyarrow as pa
import pytest

import imtag_spark.operators.cc as cc_mod
from imtag_spark.operators import driver
from imtag_spark.operators.cc import connected_components
from imtag_spark.operators.lpa import label_propagation
from imtag_spark.operators.pagerank import pagerank
from imtag_spark.operators.rle import grid_to_runs
from imtag_spark.operators.triangles import triangle_count
from imtag_spark.plans.pipelines import label_runs
from imtag_spark.sources.grids import grid_to_cells, make_grid
from test_graph_ops import _shuffled_path, edges_df

PACKAGE = Path(__file__).resolve().parent.parent / "imtag_spark"

#: rows of the 1024² ``grid_ccl`` grid's run table (seed 42)
GRID_CCL_RUNS = 251_652

PYTHON_NODES = ("MapInArrow", "MapInPandas", "ArrowEvalPython", "BatchEvalPython")


def _columns(n: int, seed: int) -> dict[str, np.ndarray]:
    """int32, int64 ids around ±2^62, float64 with NaN and −0.0, bool."""
    rng = np.random.default_rng(seed)
    ids = rng.integers(0, 2**20, size=n, dtype=np.int64)
    ids = np.where(ids % 2 == 1, ids + 2**62, ids - 2**62)
    val = rng.standard_normal(n)
    val[::7] = np.nan
    val[3::7] = -0.0
    return {
        "row": rng.integers(-(2**31), 2**31 - 1, size=n, dtype=np.int32),
        "id": ids,
        "val": val,
        "flag": rng.random(n) < 0.5,
    }


def _old_frame(spark, columns, not_null=()):
    """The hand-off the helper replaces: one JVM row per record."""
    schema = pa.schema(
        [pa.field(c, pa.from_numpy_dtype(a.dtype), nullable=c not in not_null)
         for c, a in columns.items()]
    )
    return spark.createDataFrame(pa.table(columns, schema=schema))


def _bits(t: pa.Table) -> dict[str, np.ndarray]:
    """Each column as NumPy, floats as their bit patterns (NaN == NaN,
    −0.0 != 0.0)."""
    out = {}
    for c in t.column_names:
        a = t.column(c).to_numpy()
        out[c] = a.view(np.int64) if a.dtype == np.float64 else a
    return out


def _plan_nodes(plan):
    yield plan
    kids = plan.children()
    for i in range(kids.size()):
        yield from _plan_nodes(kids.apply(i))


def _assert_columnar_plan(df, spark):
    """No local relation above ``defaultParallelism`` rows, in the analyzed
    or the optimized plan, and no Python worker in the physical plan."""
    limit = spark.sparkContext.defaultParallelism
    qe = df._jdf.queryExecution()
    for plan in (qe.analyzed(), qe.optimizedPlan()):
        for node in _plan_nodes(plan):
            if node.nodeName() == "LocalRelation":
                assert node.data().size() <= limit, plan.toString()
    physical = qe.executedPlan().toString()
    for node in PYTHON_NODES:
        assert node not in physical, physical


@pytest.mark.parametrize("n", [0, 1, 3, GRID_CCL_RUNS])
def test_frame_from_arrays_matches_create_data_frame(spark, n):
    assert 3 < spark.sparkContext.defaultParallelism
    columns = _columns(n, seed=n)
    for not_null in ((), ("val", "flag")):
        new = driver.frame_from_arrays(spark, columns, not_null=not_null)
        old = _old_frame(spark, columns, not_null=not_null)
        assert new.schema == old.schema
        assert [f.nullable for f in new.schema] == [c not in not_null for c in columns]
        got, want = _bits(new.toArrow()), _bits(old.toArrow())
        for c in columns:
            assert np.array_equal(got[c], want[c]), c
            assert np.array_equal(got[c], _bits(pa.table({c: columns[c]}))[c]), c
        _assert_columnar_plan(new, spark)
    # ids at the edge of 64 bits survive exactly
    ids = np.array([2**63 - 1, -(2**63), 2**62 + 1, -(2**62) - 1], dtype=np.int64)
    back = driver.frame_from_arrays(spark, {"id": ids}).toArrow().column("id").to_numpy()
    assert np.array_equal(back, ids)


def test_frame_from_arrays_above_local_relation_threshold(spark):
    # a table above Spark's Arrow local-relation threshold takes the flat
    # createDataFrame, which ships Arrow batches to the tasks itself
    key = "spark.sql.execution.arrow.localRelationThreshold"
    columns = _columns(5_000, seed=5)
    spark.conf.set(key, "1k")
    try:
        new = driver.frame_from_arrays(spark, columns, not_null=("val",))
        assert new._jdf.queryExecution().analyzed().nodeName() == "LogicalRDD"
        old = _old_frame(spark, columns, not_null=("val",))
        assert new.schema == old.schema
        got, want = _bits(new.toArrow()), _bits(old.toArrow())
        assert all(np.array_equal(got[c], want[c]) for c in columns)
        _assert_columnar_plan(new, spark)
    finally:
        spark.conf.unset(key)


def test_frame_from_arrays_slices_into_parallelism_tasks(spark):
    # one slice of the arrays per task, in order, whatever the row count
    limit = spark.sparkContext.defaultParallelism
    for n in (1, limit - 1, limit, 10 * limit + 3):
        df = driver.frame_from_arrays(spark, {"i": np.arange(n)})
        parts = df.rdd.glom().map(lambda rows: [r.i for r in rows]).collect()
        assert len(parts) == min(n, limit)
        assert [i for p in parts for i in p] == list(range(n))
        assert max(map(len, parts)) - min(map(len, parts)) <= 1


def _driver_outputs(spark):
    """Each driver route's output on a small input."""
    pairs = [(0, 1), (1, 2), (2, 0), (3, 4), (5, 5), (2**62 + 1, 3)]
    e = edges_df(spark, pairs).localCheckpoint(eager=True)
    cells = grid_to_cells(spark, make_grid(16, 16, 0.6, 7)).localCheckpoint(eager=True)
    runs = grid_to_runs(cells)
    return {
        "rle": runs,
        "label_runs": label_runs(runs.localCheckpoint(eager=True), cells_hint=16 * 16),
        "cc": connected_components(e),
        "pagerank": pagerank(e, max_iter=3),
        "lpa": label_propagation(e, max_iter=3),
        "triangle_count": triangle_count(e),
    }


def test_driver_routes_hand_off_columnar(spark):
    for name, df in _driver_outputs(spark).items():
        assert df.count() > 0, name
        _assert_columnar_plan(df, spark)
        assert "Generate inline" in df._jdf.queryExecution().optimizedPlan().toString(), name


def test_cc_frontier_funnel_hands_off_columnar(spark, monkeypatch, funnel_gate):
    # round 1 is a star round over 4 × 999 rows; its frontier is under the
    # 2,000-row gate, so round 2 collects it and hands it back through the
    # helper
    calls = []
    real = driver.frame_from_arrays

    def spy(spark_, columns, not_null=()):
        calls.append(tuple(columns))
        return real(spark_, columns, not_null)

    monkeypatch.setattr(driver, "frame_from_arrays", spy)
    funnel_gate(2_000)
    monkeypatch.setattr(cc_mod, "PATCH_WITNESS_LIMIT", 0)
    edges = _shuffled_path(spark, 1_000, copies=4)
    m: dict = {}
    rows = connected_components(edges, metrics_out=m).collect()
    assert calls == [("src", "dst")] and m["supersteps"] == 2
    assert sorted((r.vertex, r.component) for r in rows) == [(v, 0) for v in range(1_000)]


def _arrow_names(tree: ast.AST) -> set[str]:
    """Names bound anywhere in ``tree`` to a ``pa.…`` call or a
    ``.toArrow()`` result."""
    names = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Assign) and _is_arrow_expr(node.value, set()):
            names.update(t.id for t in node.targets if isinstance(t, ast.Name))
    return names


def _is_arrow_expr(node: ast.AST, names: set[str]) -> bool:
    if isinstance(node, ast.Name):
        return node.id in names
    if not isinstance(node, ast.Call):
        return False
    f = node.func
    if isinstance(f, ast.Attribute) and f.attr == "toArrow":
        return True
    while isinstance(f, ast.Attribute):
        f = f.value
    return isinstance(f, ast.Name) and f.id == "pa"


class _HandOffs(ast.NodeVisitor):
    """Collects ``function:line`` of each ``createDataFrame`` call whose
    first argument is an Arrow table, outside ``frame_from_arrays``, and
    of each ``toPandas`` call."""

    def __init__(self, names: set[str]) -> None:
        self.names, self.stack, self.found = names, [], []

    def visit_FunctionDef(self, node: ast.FunctionDef) -> None:
        self.stack.append(node.name)
        self.generic_visit(node)
        self.stack.pop()

    def visit_Call(self, node: ast.Call) -> None:
        attr = node.func.attr if isinstance(node.func, ast.Attribute) else None
        if attr == "toPandas" or (
            attr == "createDataFrame"
            and node.args
            and _is_arrow_expr(node.args[0], self.names)
            and "frame_from_arrays" not in self.stack
        ):
            self.found.append(f"{self.stack[-1] if self.stack else '<module>'}:{node.lineno}")
        self.generic_visit(node)


def handoff_calls(source: str) -> list[str]:
    """``function:line`` of every ``createDataFrame`` call on an Arrow
    table in ``source``, outside ``frame_from_arrays``, and of every
    ``toPandas`` call."""
    tree = ast.parse(source)
    finder = _HandOffs(_arrow_names(tree))
    finder.visit(tree)
    return finder.found


def test_lint_flags_an_arrow_create_data_frame():
    bad = (
        "def route(spark, a):\n"
        "    return spark.createDataFrame(pa.table({'a': a}))\n"
        "def save(spark, a):\n"
        "    state = pa.table({'a': a})\n"
        "    return spark.createDataFrame(state)\n"
        "def frame_from_arrays(spark, a):\n"
        "    return spark.createDataFrame(pa.table({'a': a}))\n"
        "def patch(df):\n"
        "    return df.select('k').toPandas()\n"
    )
    assert handoff_calls(bad) == ["route:2", "save:5", "patch:9"]
    ok = (
        "def f(spark, rows):\n    return spark.createDataFrame(rows, 'a INT')\n"
        "def g(df):\n    return df.select('k').toArrow()\n"
    )
    assert handoff_calls(ok) == []


def test_driver_arrays_reach_spark_only_through_frame_from_arrays():
    found = {}
    for sub in ("operators", "plans"):
        for path in sorted((PACKAGE / sub).glob("*.py")):
            calls = handoff_calls(path.read_text())
            if calls:
                found[f"{sub}/{path.name}"] = calls
    assert found == {}
    helper = ast.parse((PACKAGE / "operators" / "driver.py").read_text())
    assert any(
        isinstance(n, ast.FunctionDef) and n.name == "frame_from_arrays"
        for n in ast.walk(helper)
    )
