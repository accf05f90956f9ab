"""The benchmark's two workloads.

Each workload builds its input from the seed (``build``), computes the
expected results with the NumPy oracles outside every timed region
(``expect``), runs one timed job through the engine's public functions
(``job``) and checks that job's outputs (``check``). The job is the
session's first run of those functions, so its time includes their
one-off costs (plan compilation, Python worker start-up), as a batch
job's does. Sizes are chosen so a whole run, JVM start included, takes
well under a minute on 4 cores; README.md says what each workload
exercises.
"""

from __future__ import annotations

import hashlib
import shutil
import statistics
from pathlib import Path

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from imtag_spark.operators.cc import SMALL_GRAPH_EDGE_LIMIT, connected_components
from imtag_spark.operators.interval_join import adjacent_row_edges
from imtag_spark.operators.lpa import label_propagation
from imtag_spark.operators.pagerank import pagerank
from imtag_spark.operators.relabel import densely_relabel
from imtag_spark.operators.rle import grid_to_runs
from imtag_spark.operators.triangles import total_triangles
from imtag_spark.plans.checkpoint import SuperstepCheckpointer
from imtag_spark.plans.pipelines import label_runs
from imtag_spark.sources.corpus import corpus_edges, generate_corpus
from imtag_spark.sources.grids import grid_to_cells, make_grid

from perfbench import oracles
from perfbench.trace import Spans

PAGERANK_SUPERSTEPS = 3
#: one durable save mid-run, so the last superstep reads its frontier back
#: from parquet
CHECKPOINT_EVERY = 2
LPA_ROUNDS = 2


class CheckFailed(Exception):
    """A job's output disagrees with the oracle."""


def _require(ok: bool, what: str) -> None:
    if not ok:
        raise CheckFailed(what)


def _arrays(df: DataFrame, *cols: str) -> list[np.ndarray]:
    pdf = df.select(*cols).toPandas().sort_values(cols[0], kind="stable")
    return [pdf[c].to_numpy() for c in cols]


def _cc_metrics(m: dict) -> dict[str, float]:
    times = m.get("superstep_times", [])
    return {
        "cc.supersteps": m.get("supersteps", 0),
        "cc.round1_s": times[0] if times else 0.0,
        "cc.rounds_s": sum(times),
    }


def _pagerank_metrics(m: dict, wall_s: float, transitions: int) -> dict[str, float]:
    times = m["superstep_times"]
    step = statistics.median(times)
    return {
        "pagerank.supersteps": m["supersteps"],
        "pagerank.superstep_s": step,
        "pagerank.setup_s": wall_s - sum(times),
        "pagerank.eps": transitions / step,
    }


def _check_cc(labels: DataFrame, expected: tuple[np.ndarray, np.ndarray]) -> None:
    vertex, component = _arrays(labels, "vertex", "component")
    _require(np.array_equal(vertex, expected[0]), "cc vertex set")
    _require(np.array_equal(component, expected[1]), "cc labels")


def _check_pagerank(ranks: DataFrame, expected: tuple[np.ndarray, np.ndarray]) -> None:
    vertex, rank = _arrays(ranks, "vertex", "rank")
    _require(np.array_equal(vertex, expected[0]), "pagerank vertex set")
    _require(np.allclose(rank, expected[1], rtol=1e-6, atol=0.0), "pagerank ranks")


class TimedCheckpointer(SuperstepCheckpointer):
    """The engine's durable checkpointer with each save as its own span."""

    def __init__(self, spark: SparkSession, root: Path, spans: Spans) -> None:
        super().__init__(spark, str(root))
        self.spans = spans
        self.saves = 0
        self.bytes = 0

    def save(self, df: DataFrame, step: int) -> DataFrame:
        with self.spans.layer("checkpoint"):
            out = super().save(df, step)
        self.saves += 1
        self.bytes += sum(p.stat().st_size for p in self._step_dir(step).rglob("*") if p.is_file())
        return out


class CorpusJob:
    """North-rule corpus: edges → CC → PageRank (durable) → LPA → triangles."""

    name = "corpus_job"
    rows = 100_000
    repos = 10_000

    def __init__(self, spark: SparkSession, seed: int, work: Path) -> None:
        self.spark, self.seed, self.work = spark, seed, work
        self.path = work / "corpus.parquet"
        self.jobs = 0
        self._oracle_edges = None

    def build(self) -> None:
        corpus = generate_corpus(self.spark, n_rows=self.rows, n_repos=self.repos, seed=self.seed)
        corpus.write.mode("overwrite").parquet(str(self.path))

    def expect(self) -> None:
        """Per-row content invariant via hashlib, plus the graph's shape.

        Every repo's rows hang off its commit hubs and the hubs form a
        chain, so each repo is one component; edges are one star edge per
        row, one chain edge per later commit of a path, and one hub-chain
        edge per later commit of a repo.
        """
        t = pq.read_table(self.path, columns=["repo", "path", "commit", "content"])
        repo, path, commit, content = (t.column(c).to_pylist() for c in t.column_names)
        self.content_ok = all(
            c == f"{r}/{p}@{k}\n" + hashlib.sha256(f"{r}|{p}|{k}".encode()).hexdigest() * 4
            for r, p, k, c in zip(repo, path, commit, content)
        )
        n_paths = len(set(zip(repo, path)))
        n_hubs = len(set(zip(repo, commit)))
        self.n_repos = len(set(repo))
        self.n_edges = len(repo) + (len(repo) - n_paths) + (n_hubs - self.n_repos)

    def job(self, spans: Spans, traced: bool) -> tuple[dict, dict]:
        self.jobs += 1
        ck_dir = self.work / f"checkpoint-{self.jobs}"
        shutil.rmtree(ck_dir, ignore_errors=True)
        ck = TimedCheckpointer(self.spark, ck_dir, spans)
        mcc, mpr = {}, {}
        with spans.layer("corpus"):
            edges = corpus_edges(self.spark.read.parquet(str(self.path))).localCheckpoint(
                eager=True
            )
        with spans.layer("cc"):
            labels = connected_components(edges, metrics_out=mcc)
        with spans.layer("pagerank"):
            ranks = pagerank(
                edges, directed=False, tol=0.0, max_iter=PAGERANK_SUPERSTEPS,
                checkpointer=ck, checkpoint_every=CHECKPOINT_EVERY, metrics_out=mpr,
            )
        pagerank_s = spans.last_s
        with spans.layer("lpa"):
            lpa = label_propagation(edges, max_iter=LPA_ROUNDS)
        with spans.layer("triangles"):
            triangles = total_triangles(edges)
        metrics = _cc_metrics(mcc)
        metrics.update(_pagerank_metrics(mpr, pagerank_s, 2 * self.n_edges))
        metrics.update({"checkpoint.saves": ck.saves, "checkpoint.mb": ck.bytes / 1e6})
        out = {"edges": edges, "labels": labels, "ranks": ranks, "lpa": lpa, "triangles": triangles}
        return out, metrics

    def check(self, out: dict) -> None:
        _require(self.content_ok, "corpus content sha256")
        src, dst = _arrays(out["edges"], "src", "dst")
        _require(len(src) == self.n_edges, "corpus edge count")
        key = np.stack(oracles.unique_pairs(src, dst))
        if self._oracle_edges is None or not np.array_equal(key, self._oracle_edges):
            self._oracle_edges = key
            self.cc = oracles.cc_min_labels(src, dst)
            self.pr = oracles.pagerank(src, dst, iters=PAGERANK_SUPERSTEPS, directed=False)
            self.lpa = oracles.label_propagation(src, dst, max_iter=LPA_ROUNDS)
        _require(len(np.unique(self.cc[1])) == self.n_repos, "one component per repo")
        _check_cc(out["labels"], self.cc)
        _check_pagerank(out["ranks"], self.pr)
        vertex, label = _arrays(out["lpa"], "vertex", "label")
        _require(np.array_equal(vertex, self.lpa[0]), "lpa vertex set")
        _require(np.array_equal(label, self.lpa[1]), "lpa labels")
        _require(out["triangles"] == 0, "corpus graph is triangle-free")


class GridCcl:
    """Reference-parity grid labeling: cells → runs → ``label_runs``."""

    name = "grid_ccl"
    shape = (1024, 1024)
    p = 0.6
    #: reference-harvested CROSS results for the seed-42 ``large`` fixture
    GOLDEN_SEED = 42
    GOLDEN = {
        "runs": 251_652,
        "edges": 241_312,
        "components": 26_700,
        "sha256": "f4bdc7fe30d6fc40f829fdb82f5ae5a99c4cbf8b7bdbc9a1845a50712c510024",
    }

    def __init__(self, spark: SparkSession, seed: int, work: Path) -> None:
        self.spark, self.seed = spark, seed
        self.cells_hint = self.shape[0] * self.shape[1]

    def build(self) -> None:
        grid = make_grid(*self.shape, self.p, self.seed)
        self.cells = grid_to_cells(self.spark, grid).localCheckpoint(eager=True)

    def expect(self) -> None:
        if self.seed == self.GOLDEN_SEED:
            self.expected = self.GOLDEN
        else:
            self.expected = oracles.grid_labels(oracles.make_grid(*self.shape, self.p, self.seed))

    def job(self, spans: Spans, traced: bool) -> tuple[dict, dict]:
        m: dict = {}
        out: dict = {}
        with spans.layer("rle"):
            runs = out["runs"] = grid_to_runs(self.cells).localCheckpoint(eager=True)
        if not traced:
            with spans.layer("cc"):
                out["dense"] = label_runs(
                    runs, "cross", base=1, metrics_out=m, cells_hint=self.cells_hint
                ).localCheckpoint(eager=True)
            return out, _cc_metrics(m)
        # label_runs' three steps one at a time, with label_runs' arguments
        small = self.cells_hint <= SMALL_GRAPH_EDGE_LIMIT
        with spans.layer("interval_join"):
            edges = out["edges"] = adjacent_row_edges(runs, "cross").localCheckpoint(eager=True)
        with spans.layer("cc"):
            labels = connected_components(
                edges,
                range_partition=not small,
                single_partition=small,
                narrow_ids=self.cells_hint < 2**31,
                metrics_out=m,
            )
        with spans.layer("relabel"):
            full = runs.select(F.col("id").alias("vertex")).join(labels, "vertex", "left")
            full = full.select("vertex", F.coalesce("component", "vertex").alias("component"))
            out["dense"] = densely_relabel(full, base=1).localCheckpoint(eager=True)
        return out, _cc_metrics(m)

    def check(self, out: dict) -> None:
        want = self.expected
        ids, row, begin, end = _arrays(out["runs"], "id", "row", "col_begin", "col_end")
        vertex, dense = _arrays(out["dense"], "vertex", "dense_label")
        _require(len(ids) == want["runs"], "run count")
        _require(np.array_equal(vertex, ids), "every run labeled once")
        _require(int(dense.max()) == want["components"], "component count")
        sha = oracles.label_image_sha256(self.shape, row, begin, end, dense)
        _require(sha == want["sha256"], "label image sha256")
        if "edges" in out:
            _require(out["edges"].count() == want["edges"], "edge count")


WORKLOADS = {w.name: w for w in (CorpusJob, GridCcl)}
