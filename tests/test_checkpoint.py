"""Checkpoint/resume (north rule): kill an iterative CC job after superstep
k, restart from the parquet manifest, get byte-identical final labels."""

from __future__ import annotations

import json

import numpy as np
import pytest
from pyspark.sql import functions as F

from imtag_spark.operators.cc import connected_components
from imtag_spark.plans.checkpoint import SuperstepCheckpointer


def _chain_edges(spark, n=5000):
    # long path on PERMUTED vertex ids: (i*48271) % 65537 is a bijection on
    # [0, 65537), so consecutive chain vertices land in unrelated hash
    # partitions and the partition-local contraction cannot shortcut the
    # global rounds — guarantees a multi-superstep run
    perm = lambda c: (c * 48271) % 65537  # noqa: E731
    return spark.range(n - 1).select(
        perm(F.col("id")).alias("src"), perm(F.col("id") + 1).alias("dst")
    ).repartition(8)


@pytest.fixture(autouse=True)
def _multi_round(monkeypatch, funnel_gate):
    # the one-task solve and the frontier funnel finish any sub-1M-row
    # graph in one round, and the terminal-tail patch resolves any
    # ≤65536-witness tail without a further superstep — correct, but these
    # scenarios deliberately engineer multi-superstep runs to exercise
    # checkpoint/resume, so lower the funnel gate to 512 rows and disable
    # the patch here
    import imtag_spark.operators.cc as cc

    funnel_gate(512)
    monkeypatch.setattr(cc, "PATCH_WITNESS_LIMIT", 0)


def _labels_dict(df):
    return {r["vertex"]: r["component"] for r in df.collect()}


def test_checkpointer_writes_manifest_and_metrics(spark, tmp_path):
    ckpt = SuperstepCheckpointer(spark, str(tmp_path / "cc"), keep_last=3)
    edges = _chain_edges(spark)
    labels = connected_components(edges, checkpointer=ckpt, checkpoint_every=1)
    got = _labels_dict(labels)
    assert set(got.values()) == {0}
    manifest = json.loads(ckpt.manifest_path.read_text())
    assert manifest["last_step"] >= 2
    steps = manifest["steps"]
    # per-superstep lineage metrics recorded
    assert all("edges" in v and "chained" in v and "wall_time_s" in v
               for v in steps.values())


def test_resume_after_kill_is_identical(spark, tmp_path):
    root = str(tmp_path / "cc")
    edges = _chain_edges(spark)

    # full run -> ground truth + durable per-step checkpoints
    full = SuperstepCheckpointer(spark, root, keep_last=100)
    expected = _labels_dict(
        connected_components(edges, checkpointer=full, checkpoint_every=1)
    )
    manifest = json.loads(full.manifest_path.read_text())
    last = manifest["last_step"]
    assert last >= 2

    # simulate a crash one superstep before convergence: rewind the manifest
    kill_at = last - 1
    manifest["last_step"] = kill_at
    manifest["steps"] = {k: v for k, v in manifest["steps"].items()
                         if int(k) <= kill_at}
    full.manifest_path.write_text(json.dumps(manifest))

    resumed_ckpt = SuperstepCheckpointer(spark, root, keep_last=100)
    frontier, step = resumed_ckpt.resume()
    assert step == kill_at
    resumed = _labels_dict(
        connected_components(edges, checkpointer=resumed_ckpt, checkpoint_every=1)
    )
    assert resumed == expected


def test_resume_empty_root_returns_none(spark, tmp_path):
    ckpt = SuperstepCheckpointer(spark, str(tmp_path / "empty"))
    assert ckpt.resume() is None


def test_manifest_records_true_witnesses_when_patch_fires(
    spark, tmp_path, monkeypatch
):
    # r4 ADVICE: a round that both writes a durable checkpoint and resolves
    # its tail driver-side must record the TRUE pre-patch witness count
    # plus patched=True — the stored parquet frontier still contains those
    # witnesses, so chained=0 would claim a terminal star forest the
    # stored state is not.
    import imtag_spark.operators.cc as cc

    monkeypatch.setattr(cc, "PATCH_WITNESS_LIMIT", 65_536)  # undo autouse 0
    ckpt = SuperstepCheckpointer(spark, str(tmp_path / "cc"), keep_last=3)
    edges = _chain_edges(spark, n=600)  # > the 512-row gate → no funnel
    labels = connected_components(edges, checkpointer=ckpt, checkpoint_every=1)
    assert set(_labels_dict(labels).values()) == {0}  # patch kept exactness
    manifest = json.loads(ckpt.manifest_path.read_text())
    patched_steps = [
        v for v in manifest["steps"].values() if v.get("patched")
    ]
    assert patched_steps, f"no patched step recorded: {manifest['steps']}"
    assert all(v["chained"] > 0 for v in patched_steps)
    # un-patched steps never carry the flag
    assert all(
        "patched" not in v
        for v in manifest["steps"].values()
        if v not in patched_steps
    )


def test_pagerank_resume_after_kill_matches(spark, tmp_path, funnel_gate):
    # kill a 6-superstep PageRank after superstep 3 and resume it from the
    # durable frontier: the resumed run continues the step numbering, runs
    # only the missing supersteps and lands on the uninterrupted ranks
    import imtag_spark.operators.pagerank as pr_mod

    funnel_gate(0)  # the Spark loop
    rng = np.random.default_rng(5)
    pairs = {(int(a), int(b)) for a, b in rng.integers(0, 30, size=(70, 2))}
    pairs |= {(3, 100), (4, 101)}  # sinks: the dangling mass must resume too
    edges = spark.createDataFrame(sorted(pairs), "src BIGINT, dst BIGINT")
    kw = dict(tol=0.0, max_iter=6, checkpoint_every=1)

    root = str(tmp_path / "pr")
    full = SuperstepCheckpointer(spark, root, keep_last=100)
    m: dict = {}
    expected = {
        r.vertex: r.rank
        for r in pr_mod.pagerank(edges, checkpointer=full, metrics_out=m, **kw).collect()
    }
    assert m["mode"] == "join" and m["supersteps"] == 6

    kill_at = 3
    manifest = json.loads(full.manifest_path.read_text())
    manifest["last_step"] = kill_at
    manifest["steps"] = {k: v for k, v in manifest["steps"].items() if int(k) <= kill_at}
    full.manifest_path.write_text(json.dumps(manifest))

    resumed_ckpt = SuperstepCheckpointer(spark, root, keep_last=100)
    m = {}
    got = {
        r.vertex: r.rank
        for r in pr_mod.pagerank(
            edges, checkpointer=resumed_ckpt, metrics_out=m, **kw
        ).collect()
    }
    assert m["mode"] == "join"
    assert m["supersteps"] == 6 and len(m["superstep_times"]) == 6 - kill_at
    manifest = json.loads(resumed_ckpt.manifest_path.read_text())
    assert manifest["last_step"] == 6
    assert sorted(int(k) for k in manifest["steps"]) == list(range(1, 7))
    assert set(got) == set(expected)
    for v in expected:
        assert abs(got[v] - expected[v]) <= 1e-12, (v, got[v], expected[v])


def _kill_after(ckpt: SuperstepCheckpointer, step: int) -> None:
    """Rewind ``ckpt``'s manifest to ``step``, as if the run died there."""
    manifest = json.loads(ckpt.manifest_path.read_text())
    manifest["last_step"] = step
    manifest["steps"] = {k: v for k, v in manifest["steps"].items() if int(k) <= step}
    ckpt.manifest_path.write_text(json.dumps(manifest))


@pytest.mark.parametrize(
    "first, then",
    [("driver", "join"), ("join", "driver"), ("driver", "driver")],
)
def test_pagerank_resume_crosses_routes(spark, tmp_path, funnel_gate, first, then):
    # every route saves the same (vertex, has_out, rank) state, so a run
    # killed on one route resumes on the other: the step numbering goes
    # on and the ranks land on the uninterrupted run's
    import imtag_spark.operators.pagerank as pr_mod

    gate = {"driver": 1_000_000, "join": 0}
    rng = np.random.default_rng(5)
    pairs = {(int(a), int(b)) for a, b in rng.integers(0, 30, size=(70, 2))}
    pairs |= {(3, 100), (4, 101)}  # sinks: the dangling mass must resume too
    edges = spark.createDataFrame(sorted(pairs), "src BIGINT, dst BIGINT")
    kw = dict(tol=0.0, max_iter=6, checkpoint_every=1, directed=False)

    root = str(tmp_path / "pr")
    funnel_gate(gate[first])
    full = SuperstepCheckpointer(spark, root, keep_last=100)
    m: dict = {}
    expected = {
        r.vertex: r.rank
        for r in pr_mod.pagerank(edges, checkpointer=full, metrics_out=m, **kw).collect()
    }
    assert m["mode"] == first and m["supersteps"] == 6

    kill_at = 3
    _kill_after(full, kill_at)
    funnel_gate(gate[then])
    resumed_ckpt = SuperstepCheckpointer(spark, root, keep_last=100)
    m = {}
    got = {
        r.vertex: r.rank
        for r in pr_mod.pagerank(
            edges, checkpointer=resumed_ckpt, metrics_out=m, **kw
        ).collect()
    }
    assert m["mode"] == then
    assert m["supersteps"] == 6 and len(m["superstep_times"]) == 6 - kill_at
    manifest = json.loads(resumed_ckpt.manifest_path.read_text())
    assert manifest["last_step"] == 6
    assert sorted(int(k) for k in manifest["steps"]) == list(range(1, 7))
    assert all("l1_delta" in v for v in manifest["steps"].values())
    assert set(got) == set(expected)
    for v in expected:
        assert abs(got[v] - expected[v]) <= 1e-12, (v, got[v], expected[v])
