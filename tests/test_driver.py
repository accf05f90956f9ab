"""The driver routes' shared NumPy kernels against pure-Python oracles, and
the source rules that keep the row gate and the vertex indexer in one
module. No Spark session: these run on arrays and source text only.

``index_edges`` and ``distinct_pairs`` are checked against
``sorted(set(...))`` on every hostile id set (both ends of BIGINT, ids
shifted to ±2⁶²), on duplicate and self-loop rows, and on a graph of more
than 46,340 vertices, where ``n²`` no longer fits int32 and the pair keys
must be built in int64. ``_contract_arrays`` must hand the indexer the ids
as they are and narrow only the index arrays it gets back.
"""

from __future__ import annotations

import ast
from pathlib import Path

import numpy as np
import pytest

from imtag_spark.operators import driver
from oracles import cc_min_label
from test_graph_ops import HOSTILE

REPO = Path(__file__).resolve().parent.parent

#: more vertices than int32 can square: 46,341² > 2³¹ − 1
WIDE_N = 50_000


def _wide_graph() -> list[tuple[int, int]]:
    """WIDE_N vertices with spread-out ids, every one on an edge, plus
    duplicate rows, reversed rows and self-loops."""
    rng = np.random.default_rng(41)
    ids = [int(v) for v in rng.choice(2**40, size=WIDE_N, replace=False) - 2**39]
    pairs = [(ids[i], ids[(i * 7919 + 1) % WIDE_N]) for i in range(WIDE_N)]
    pairs += pairs[:500] + [(b, a) for a, b in pairs[500:1000]]
    pairs += [(v, v) for v in ids[:300]] + [(max(ids), max(ids)), (max(ids), min(ids))]
    return pairs


CASES = {
    **HOSTILE,
    "dup_self_loops": [(3, 3), (3, 4), (3, 4), (4, 3), (9, 9), (9, 9), (4, 3), (-1, 3)],
    "wide": _wide_graph(),
}


def _arrays(pairs):
    """The case's edges as int64 arrays, edges with a null endpoint
    dropped as ``collect_columns`` drops them."""
    named = [p for p in pairs if None not in p]
    src = np.array([a for a, _ in named], dtype=np.int64)
    dst = np.array([b for _, b in named], dtype=np.int64)
    return named, src, dst


@pytest.mark.parametrize("case", sorted(CASES))
def test_index_edges_and_distinct_pairs_match_sorted_set(case):
    named, src, dst = _arrays(CASES[case])
    want_verts = sorted({v for p in named for v in p})
    pos = {v: i for i, v in enumerate(want_verts)}
    want_a = [pos[a] for a, _ in named]
    want_b = [pos[b] for _, b in named]

    verts, a, b = driver.index_edges(src, dst)
    assert verts.dtype == np.int64 and verts.tolist() == want_verts
    assert a.dtype == b.dtype == np.int64
    assert (a.tolist(), b.tolist()) == (want_a, want_b)

    n = len(verts)
    want_pairs = sorted(set(zip(want_a, want_b)))
    # int32 indices too: the keys must still be built in int64
    for ia, ib in ((a, b), (a.astype(np.int32), b.astype(np.int32))):
        da, db = driver.distinct_pairs(ia, ib, n)
        assert da.dtype == db.dtype == np.int64
        assert list(zip(da.tolist(), db.tolist())) == want_pairs


def test_wide_graph_needs_int64_keys():
    # the case above is only a check of the key width if its largest key
    # overflows int32
    _, src, dst = _arrays(CASES["wide"])
    verts, a, b = driver.index_edges(src, dst)
    n = len(verts)
    assert n >= 46_341
    assert int(a.max()) * n + int(b.max()) > np.iinfo(np.int32).max


@pytest.mark.parametrize("case", sorted(CASES))
def test_contract_arrays_matches_union_find_oracle(case):
    named, src, dst = _arrays(CASES[case])
    order = sorted({v for p in named for v in p})
    pos = {v: i for i, v in enumerate(order)}
    roots = cc_min_label(len(order), [(pos[a], pos[b]) for a, b in named])
    verts, comp = driver._contract_arrays([src], [dst])
    assert verts.dtype == comp.dtype == np.int64
    assert verts.tolist() == order
    assert comp.tolist() == [order[r] for r in roots]


def test_contract_arrays_narrows_pointers_only_after_indexing(monkeypatch):
    # the ids reach the indexer as they arrive (int64, both BIGINT ends);
    # only the two index arrays it returns are narrowed, to int32
    casts: list[np.dtype] = []

    class Tracked(np.ndarray):
        def astype(self, dtype, *args, **kw):
            casts.append(np.dtype(dtype))
            return np.asarray(self).astype(dtype, *args, **kw)

    seen = []
    real = driver.index_edges

    def spy(src, dst):
        seen.append((src.dtype, dst.dtype, int(src.min()), int(dst.max())))
        verts, a, b = real(src, dst)
        return verts, a.view(Tracked), b.view(Tracked)

    monkeypatch.setattr(driver, "index_edges", spy)
    named, src, dst = _arrays(HOSTILE["bigint_limits"])
    verts, comp = driver._contract_arrays([src], [dst])
    assert seen == [(np.dtype(np.int64), np.dtype(np.int64), -(2**63), 2**63 - 1)]
    assert casts == [np.dtype(np.int32)] * 2
    assert comp.tolist() == [-(2**63)] * len(verts)


def _py_files(*dirs: str) -> list[Path]:
    return [p for d in dirs for p in sorted((REPO / d).rglob("*.py"))]


def test_one_vertex_indexer_under_operators():
    found = {
        p.name: p.read_text().count("np.unique(np.concatenate")
        for p in _py_files("imtag_spark/operators")
    }
    assert {k: v for k, v in found.items() if v} == {"driver.py": 1}


def test_row_gate_is_bound_once_and_read_through_driver():
    # one assignment, in driver.py, and no module binds a copy of the
    # name: a copy is a dead name a test could patch without effect
    assigned, imported = [], []
    files = _py_files("imtag_spark", "tests", "bench", "tools", "perfbench")
    files += [REPO / "__spark_entry__.py", REPO / "bench.py"]
    for path in files:
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.ImportFrom) and any(
                a.name == "FUNNEL_EDGE_LIMIT" for a in node.names
            ):
                imported.append(f"{path.name}:{node.lineno}")
            targets = node.targets if isinstance(node, ast.Assign) else []
            if any(isinstance(t, ast.Name) and t.id == "FUNNEL_EDGE_LIMIT" for t in targets):
                assigned.append(path.relative_to(REPO).as_posix())
    assert imported == []
    assert assigned == ["imtag_spark/operators/driver.py"]


def test_tests_set_the_gate_only_through_the_conftest_fixture():
    found = []
    for path in _py_files("tests"):
        for node in ast.walk(ast.parse(path.read_text())):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
            if name == "setattr" and any(
                isinstance(a, ast.Constant)
                and isinstance(a.value, str)
                and "FUNNEL_EDGE_LIMIT" in a.value
                for a in node.args
            ):
                found.append(f"{path.name}:{node.lineno}")
    assert [f.split(":")[0] for f in found] == ["conftest.py"], found
