"""Synchronous label propagation for community detection (north-rule operator).

Generalizes the reference's "adopt a neighbor's label" merge
(``disjoint_set::unite``, /root/reference/src/disjoint_set.hpp:125-137) into
synchronous LPA: every superstep each vertex adopts the most frequent label
among its neighbors, ties broken by the minimum label — fully deterministic,
mirroring the reference's ``lt_cmp`` policy (disjoint_set.hpp:22-27).

Routes, chosen by size: an edge table of at most
``driver.FUNNEL_EDGE_LIMIT`` rows runs every round in NumPy on the driver:
the 10^5-edge corpus job's 2 rounds take 3 Spark jobs and 0.4 s there
(none when CC already collected the same checkpointed table,
``driver.small_edge_arrays``), 19 jobs and 3.6 s as a DataFrame loop
(BENCH.md, "Driver route"). Larger tables run the DataFrame loop: the frequency count is a map-side-combinable
``groupBy(vertex,label).count()``, and the argmax is a single
``min(struct(-cnt, label))`` aggregate rather than a per-vertex window
(windows funnel a hot vertex's whole neighborhood through one task).
The count is what gets negated, so every int64 label, −2^63 included,
keeps its order with or without ANSI mode.
"""

from __future__ import annotations

import time

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from imtag_spark.operators import driver
from imtag_spark.plans.checkpoint import free_local_checkpoint, frontier_checkpoint


def _driver_lpa(src, dst, max_iter: int, verbose: bool) -> tuple[np.ndarray, np.ndarray]:
    """The driver route: ``(vertex, label)`` arrays, vertices sorted.

    Labels are held as vertex indices (index order is id order, so the
    min-label tie break is the min-index one). Each round counts the
    ``(receiver, label)`` pairs with one ``np.unique`` over an int64 key
    and takes each receiver's most frequent label, the smallest on ties.
    """
    verts, a, b = driver.index_edges(src, dst)
    n = len(verts)
    keep = a != b
    a, b = driver.distinct_pairs(a[keep], b[keep], n)  # distinct directed pairs
    # both directions of every pair: a pair given both ways counts twice
    recv, send = np.concatenate([b, a]), np.concatenate([a, b])
    label = np.arange(n)
    for it in range(max_iter):
        t0 = time.time()
        pairs, cnt = np.unique(recv * n + label[send], return_counts=True)
        r, lab = pairs // n, pairs % n
        # per receiver: highest count first, then smallest label
        order = np.lexsort((lab, -cnt, r))
        r, lab = r[order], lab[order]
        first = np.ones(len(r), dtype=bool)
        first[1:] = r[1:] != r[:-1]
        new = label.copy()
        new[r[first]] = lab[first]
        changed = int((new != label).sum())
        label = new
        if verbose:
            print(f"[lpa] iter {it + 1} changed={changed} {time.time() - t0:.3f}s", flush=True)
        if changed == 0:
            break
    return verts, verts[label]


def label_propagation(
    edges: DataFrame,
    *,
    max_iter: int = 10,
    verbose: bool = False,
) -> DataFrame:
    """Edge table (src, dst) → (vertex, label) after ≤ max_iter synchronous rounds.

    Undirected semantics (edges symmetrized). Isolated/self-loop-only
    vertices keep their own id as label. Stops early when no label changes.

    A table of at most ``driver.FUNNEL_EDGE_LIMIT`` rows is collected to
    the driver (``driver.small_edge_arrays``: one count and one Arrow
    collect, or no job when the same checkpointed table was collected
    already) and solved by ``_driver_lpa``; the labels come back as a
    DataFrame of the same schema. Edges with a null endpoint are dropped
    on both routes.

    Loop hygiene on the DataFrame route (same contract as cc.py /
    pagerank.py): the symmetrized E-row side is persisted hash-partitioned
    on the per-round join key ``src`` — a cached InMemoryRelation
    advertises its outputPartitioning to Catalyst (a localCheckpoint would
    NOT: LogicalRDD drops it, which re-exchanged all E rows every round
    pre-r5), so each round exchanges only the V-row labels side.
    Superseded label frontiers are freed the moment the next round is
    materialized, keeping block-manager storage flat across high-iteration
    runs instead of hoarding one V-row copy per round.
    """
    small = driver.small_edge_arrays(edges)
    if small is not None:
        vertex, label = _driver_lpa(*small, max_iter, verbose)
        return driver.frame_from_arrays(edges.sparkSession, {"vertex": vertex, "label": label})
    n_part = int(edges.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    e = edges.where(F.col("src") != F.col("dst")).select("src", "dst").distinct()
    sym = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    sym = sym.repartition(n_part, "src").persist()

    # every endpoint once, labelled with itself; each round's labels keep
    # that vertex set, so they are also the universe the next round joins.
    # An edge with a null endpoint names no vertex, as on the driver route.
    named = edges.where(F.col("src").isNotNull() & F.col("dst").isNotNull())
    labels = frontier_checkpoint(
        named.select(F.col("src").alias("vertex"))
        .union(named.select(F.col("dst").alias("vertex")))
        .distinct()
        .select("vertex", F.col("vertex").alias("label"))
    )
    prev_ckpt = labels  # the materialized frontier the current round reads

    for it in range(max_iter):
        t0 = time.time()
        neighbor_labels = sym.join(
            labels.select(F.col("vertex").alias("src"), "label"), "src"
        ).select(F.col("dst").alias("vertex"), "label")
        # most frequent neighbor label, min label on ties: min(struct(-cnt,
        # label)) orders by count descending, then label ascending. Negating
        # the label instead would overflow at -2^63
        freq = neighbor_labels.groupBy("vertex", "label").agg(
            F.count(F.lit(1)).alias("cnt")
        )
        best = (
            freq.groupBy("vertex")
            .agg(F.min(F.struct((-F.col("cnt")).alias("neg_cnt"), "label")).alias("b"))
            .select("vertex", F.col("b.label").alias("label"))
        )
        new_labels = frontier_checkpoint(
            labels.withColumnRenamed("label", "old_label")
            .join(best, "vertex", "left")
            .select("vertex", F.coalesce("label", "old_label").alias("label"),
                    "old_label"),
            eager=False,
        )
        # One fused action per round (CC's certificate/collect pattern,
        # cc.py::_chained_count): the aggregate both materializes the lazy
        # checkpoint and returns the changed-label count — no separate
        # count() job over a filtered view of the frontier.
        changed = int(
            new_labels.agg(
                F.coalesce(
                    F.sum(
                        F.when(F.col("label") != F.col("old_label"), 1)
                    ),
                    F.lit(0),
                ).alias("changed")
            ).collect()[0]["changed"]
        )
        if verbose:
            print(f"[lpa] iter {it + 1} changed={changed} {time.time() - t0:.1f}s", flush=True)
        # new_labels is materialized (the agg above ran it): the previous
        # round's frontier blocks can never be read again — free them now
        free_local_checkpoint(prev_ckpt)
        prev_ckpt = new_labels
        labels = new_labels.select("vertex", "label")
        if changed == 0:
            break
    # the returned frame reads only the final materialized frontier — the
    # cached edge table is dead weight past here
    sym.unpersist(blocking=True)
    return labels
