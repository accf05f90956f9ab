"""Tests for the benchmark's oracles and event-log folding (no Spark needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
from collections import deque

import numpy as np
import pytest

from perfbench import oracles, trace

# harvested reference results (FIXTURES.md): CROSS connectivity
GRID_GOLDENS = {
    (64, 64, 0.5, 42): {
        "runs": 1_039, "edges": 800, "components": 253,
        "sha256": "63cff2fffda6a539b3054a46827c868e279978c965c7f67632f559e523324eda",
    },
    (1024, 1024, 0.6, 42): {
        "runs": 251_652, "edges": 241_312, "components": 26_700,
        "sha256": "f4bdc7fe30d6fc40f829fdb82f5ae5a99c4cbf8b7bdbc9a1845a50712c510024",
    },
}


def _random_graph(seed: int, n: int, m: int) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.default_rng(seed)
    ids = rng.choice(2**62, size=n, replace=False).astype(np.int64) - 2**61
    return ids[rng.integers(0, n, m)], ids[rng.integers(0, n, m)]


def _bfs_min_labels(src, dst) -> dict[int, int]:
    adj: dict[int, list[int]] = {}
    for u, v in zip(src.tolist(), dst.tolist()):
        adj.setdefault(u, []).append(v)
        adj.setdefault(v, []).append(u)
    label: dict[int, int] = {}
    for start in sorted(adj):
        if start in label:
            continue
        label[start] = start
        queue = deque([start])
        while queue:
            for w in adj[queue.popleft()]:
                if w not in label:
                    label[w] = start
                    queue.append(w)
    return label


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_cc_oracle_matches_bfs(seed):
    src, dst = _random_graph(seed, 300, 250)
    src[:5] = dst[:5]  # self-loop-only vertices label themselves
    verts, comp = oracles.cc_min_labels(src, dst)
    want = _bfs_min_labels(src, dst)
    assert verts.tolist() == sorted(want)
    assert comp.tolist() == [want[v] for v in verts.tolist()]


def test_cc_oracle_long_path():
    order = np.random.default_rng(3).permutation(5_000).astype(np.int64)
    verts, comp = oracles.cc_min_labels(order[:-1], order[1:])
    assert (comp == 0).all() and len(verts) == 5_000


@pytest.mark.parametrize("directed", [True, False])
def test_pagerank_oracle_matches_dense_power_iteration(directed):
    src, dst = _random_graph(4, 40, 120)
    src = np.concatenate([src, src[:10], dst[:3]])  # duplicates + self-loops
    dst = np.concatenate([dst, dst[:10], dst[:3]])
    verts, rank = oracles.pagerank(src, dst, iters=30, directed=directed)

    pairs = {(u, v) for u, v in zip(src.tolist(), dst.tolist()) if u != v}
    if not directed:
        pairs |= {(v, u) for u, v in pairs}
    vs = sorted({x for p in pairs for x in p})
    idx = {v: i for i, v in enumerate(vs)}
    n = len(vs)
    m = np.zeros((n, n))
    for u, v in pairs:
        m[idx[v], idx[u]] = 1.0
    out = m.sum(axis=0)
    m = np.divide(m, out, out=np.zeros_like(m), where=out > 0)
    r = np.full(n, 1.0 / n)
    for _ in range(30):
        r = 0.15 / n + 0.85 * (m @ r + r[out == 0].sum() / n)
    assert verts.tolist() == vs
    np.testing.assert_allclose(rank, r, rtol=1e-12)
    assert rank.sum() == pytest.approx(1.0)


def test_lpa_oracle_majority_and_min_tie():
    # one synchronous round: every vertex takes its neighbours' most
    # frequent label, the smallest on ties
    src = np.array([1, 2, 7, 7, 9], dtype=np.int64)
    dst = np.array([5, 5, 8, 9, 9], dtype=np.int64)
    verts, label = oracles.label_propagation(src, dst, max_iter=1)
    got = dict(zip(verts.tolist(), label.tolist()))
    assert got[5] == 1  # tie between 1 and 2 → min
    assert got[1] == 5 and got[2] == 5  # single neighbour
    assert got[8] == 7 and got[7] == 8  # 7 hears {8, 9}: tie → 8
    assert got[9] == 7  # self-loop ignored


def test_lpa_oracle_rounds_are_synchronous():
    # a star oscillates: the hub takes the smallest leaf, the leaves the hub
    src = np.zeros(4, dtype=np.int64)
    dst = np.arange(1, 5, dtype=np.int64)
    assert oracles.label_propagation(src, dst, max_iter=1)[1].tolist() == [1, 0, 0, 0, 0]
    assert oracles.label_propagation(src, dst, max_iter=2)[1].tolist() == [0, 1, 1, 1, 1]
    # a triangle settles on 0 in two rounds and stays there
    tri = np.array([0, 1, 2], dtype=np.int64), np.array([1, 2, 0], dtype=np.int64)
    for rounds in (2, 50):
        assert oracles.label_propagation(*tri, max_iter=rounds)[1].tolist() == [0, 0, 0]


@pytest.mark.parametrize("spec", sorted(GRID_GOLDENS))
def test_grid_oracle_matches_reference_goldens(spec):
    assert oracles.grid_labels(oracles.make_grid(*spec)) == GRID_GOLDENS[spec]


def _write_log(tmp_path, lines_per_file):
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    for i, lines in enumerate(lines_per_file, start=1):
        (d / f"events_{i}_local-1").write_text("".join(json.dumps(e) + "\n" for e in lines))
    (d / "appstatus_local-1").write_text("")
    return tmp_path


def _task(stage, run_ms, reason="Success", py=None):
    accs = [{"Name": k, "Update": str(v)} for k, v in (py or {}).items()]
    accs.append({"Name": "number of output rows", "Update": "7"})
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task End Reason": {"Reason": reason},
        "Task Info": {"Accumulables": accs},
        "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": run_ms * 500_000,
            "JVM GC Time": 10, "Disk Bytes Spilled": 0,
            "Shuffle Read Metrics": {"Fetch Wait Time": 5, "Remote Bytes Read": 0,
                                     "Local Bytes Read": 2_000_000},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 1_000_000},
        },
    }


def test_fold_event_log_groups_by_job_group(tmp_path):
    job = lambda g, i: {"Event": "SparkListenerJobStart", "Job ID": i,  # noqa: E731
                        "Properties": {"spark.jobGroup.id": g}}
    sub = lambda g, s: {"Event": "SparkListenerStageSubmitted",  # noqa: E731
                        "Stage Info": {"Stage ID": s}, "Properties": {"spark.jobGroup.id": g}}
    done = lambda s: {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": s}}  # noqa: E731
    py = {"data sent to Python workers": 4_000_000,
          "data returned from Python workers": 1_000_000,
          "time to run Python workers": 1500}
    log = _write_log(tmp_path, [
        [job("cc", 0), sub("cc", 0), _task(0, 1000, py=py), _task(0, 3000, reason="ExceptionFailure")],
        [done(0), job("pagerank", 1), sub("pagerank", 1), _task(1, 2000), done(1),
         {"Event": "SparkListenerJobStart", "Job ID": 2, "Properties": {}}],
    ])
    folded = trace.fold_event_log(log)
    cc = folded["cc"]
    assert (cc["jobs"], cc["stages"], cc["tasks"], cc["failed_tasks"]) == (1, 1, 2, 1)
    assert cc["task_ms"] == 4000 and cc["cpu_ns"] == 2_000_000_000
    assert cc["py_sent_bytes"] == 4_000_000 and cc["py_run_ms"] == 1500
    assert cc["shuffle_read_bytes"] == 4_000_000 and cc["shuffle_write_bytes"] == 2_000_000
    assert folded["pagerank"]["tasks"] == 1 and folded["pagerank"]["py_sent_bytes"] == 0
    assert folded[""]["jobs"] == 1


def test_layer_table_per_job_values():
    folded = {"cc": dict.fromkeys(trace._COUNTERS, 0), "session": dict.fromkeys(trace._COUNTERS, 0)}
    folded["cc"].update(task_ms=8000, jobs=4, py_sent_bytes=2_000_000, py_recv_bytes=500_000)
    folded["session"].update(task_ms=1000, jobs=3)
    table = trace.layer_table(
        folded, {"cc": 6.0, "pagerank": 2.0, "session": 5.0}, {"cc.supersteps": 2.0},
        cores=4, jobs=2, job_wall_s=4.0, job_cpu_s=9.0,
    )
    assert list(table) == trace.metric_names() and len(table) <= 128
    assert table["cc.wall_s"] == 3.0 and table["cc.task_s"] == 4.0
    assert table["cc.idle_core_s"] == 3.0 * 4 - 4.0
    assert table["cc.jobs"] == 2 and table["cc.supersteps"] == 2.0
    assert table["cc.py_recv_per_sent"] == 0.25
    assert table["rle.py_recv_per_sent"] == 0.0
    assert table["session.wall_s"] == 5.0 and table["session.jobs"] == 3
    assert table["job.layer_coverage"] == (3.0 + 1.0) / 4.0
    assert table["job.cpu_s"] == 9.0


def test_spans_self_time_excludes_children(monkeypatch):
    clock = iter([0.0, 1.0, 3.0, 10.0])
    monkeypatch.setattr(trace.time, "perf_counter", lambda: next(clock))
    spans = trace.Spans()
    with spans.layer("pagerank"):
        with spans.layer("checkpoint"):
            pass
        assert spans.last_s == 2.0
    assert spans.last_s == 10.0
    assert spans.self_s == {"checkpoint": 2.0, "pagerank": 8.0}


def test_tree_cpu_counts_reaped_children():
    import os
    import subprocess
    import sys

    from perfbench.run import tree_cpu_s

    before = tree_cpu_s(os.getpid())
    burn = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.3: pass"
    subprocess.run([sys.executable, "-c", burn], check=True)
    assert tree_cpu_s(os.getpid()) - before >= 0.25


def test_benchmark_json_lists_every_metric():
    from pathlib import Path

    from perfbench.run import _unit

    spec = json.loads((Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())
    assert [m["name"] for m in spec["per_layer"]] == trace.metric_names()
    assert all(m["unit"] == _unit(m["name"]) for m in spec["per_layer"] + spec["end_to_end"])
    assert {m["name"] for m in spec["end_to_end"]} == {"setup_s", "job_cpu_s"}
