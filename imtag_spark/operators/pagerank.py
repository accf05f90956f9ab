"""PageRank by power iteration (north-rule operator).

Generalizes the gather-scatter structure of the reference's pass-2
neighbor-aggregation sweep (/root/reference/src/SegmentImageImpl.cpp:96-115)
to repeated sparse matvec over the edge table.

Semantics (matched by the NumPy oracle in tests, allclose 1e-6):
standard power iteration with damping ``alpha``, uniform teleport, and
uniform redistribution of dangling-node mass; vertices = src ∪ dst of the
edges left after dropping self-loops.

Routes, chosen by size (see ``pagerank``):
- an edge table of at most ``driver.FUNNEL_EDGE_LIMIT`` rows is collected
  to the driver and iterated in NumPy (``np.bincount`` per superstep). Below
  that bound a Spark superstep is all scheduling: the 10^5-edge corpus
  job's 3 supersteps plus setup take 3 Spark jobs and 0.6 s there, 25
  jobs and 7.3 s as a DataFrame loop (BENCH.md, "Driver route"); on a
  checkpointed table CC already collected, only the checkpoint's write
  and read-back run as jobs (``driver.small_edge_arrays``);
- larger tables run the DataFrame loop. Setup builds ONE per-vertex table,
  ``deg(vertex, out_deg)`` with sinks at 0, from one aggregate over the
  edge endpoints; a second aggregate over it gives ``n`` and the dangling
  mass. The transition table (edges pre-joined with 1/out-degree) is
  built once, cached hash(src)-partitioned and sorted, so every superstep
  is a single equi-join that exchanges only the V-row ranks side, and one
  map-side-combinable sum. This is the one Spark route: a packed rank
  broadcast was dropped after losing to it in a one-JVM A/B (BENCH.md,
  "PageRank: one Spark route"). The next round's dangling mass comes out
  of the same aggregate as the convergence delta (one job per superstep),
  and lineage is truncated every round (see cc.py for why that is
  mandatory).
"""

from __future__ import annotations

import time

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from imtag_spark.operators import driver
from imtag_spark.plans.checkpoint import free_local_checkpoint, frontier_checkpoint


def _dangling_mass():
    """Total rank held by vertices with no out-edge (0 when there are none)."""
    return F.coalesce(F.sum(F.when(~F.col("has_out"), F.col("rank"))), F.lit(0.0))


def _driver_pagerank(
    spark, src, dst, *, alpha, tol, max_iter, directed, checkpointer,
    checkpoint_every, verbose, metrics_out,
) -> DataFrame:
    """The driver route over collected ``(src, dst)`` arrays: the Spark
    loop's arithmetic and checkpoint contract, one ``np.bincount`` per
    superstep over vertex indices."""
    keep = src != dst
    src, dst = src[keep], dst[keep]
    if not directed:
        src, dst = np.concatenate([src, dst]), np.concatenate([dst, src])
    verts, a, b = driver.index_edges(src, dst)
    n = len(verts)
    # an empty graph runs its supersteps over no vertex: 1/n stays finite
    inv_n = 1.0 / max(n, 1)
    a, b = driver.distinct_pairs(a, b, n)
    out_deg = np.bincount(a, minlength=n)
    w = 1.0 / out_deg[a]
    has_out = out_deg > 0
    resumed = checkpointer.resume() if checkpointer is not None else None
    if resumed is None:
        rank, start = np.full(n, inv_n), 0
    else:
        frontier, start = resumed
        state = frontier.select("vertex", "has_out", "rank").toArrow().sort_by("vertex")
        if not np.array_equal(state.column("vertex").to_numpy(), verts):
            raise ValueError("checkpointed PageRank state lists other vertices than the edges")
        has_out = state.column("has_out").to_numpy()
        rank = state.column("rank").to_numpy()

    base = (1.0 - alpha) * inv_n
    dangling = rank[~has_out].sum()
    for it in range(start, max_iter):
        t0 = time.time()
        contrib = np.bincount(b, weights=rank[a] * w, minlength=n)
        new = base + alpha * (contrib + dangling * inv_n)
        delta = float(np.abs(new - rank).sum())
        rank = new
        dangling = rank[~has_out].sum()
        if checkpointer is not None and (it + 1) % checkpoint_every == 0:
            state = {"vertex": verts, "has_out": has_out, "rank": rank}
            checkpointer.save(driver.frame_from_arrays(spark, state), it + 1)
        if verbose:
            print(f"[pagerank] iter {it + 1} delta={delta:.3e} {time.time() - t0:.3f}s", flush=True)
        if checkpointer is not None:
            checkpointer.log_metrics(it + 1, l1_delta=delta)
        if metrics_out is not None:
            metrics_out.setdefault("superstep_times", []).append(time.time() - t0)
            metrics_out["supersteps"] = it + 1
        if delta < tol:
            break
    # rank NOT NULL, as the Spark loop's arithmetic column is
    return driver.frame_from_arrays(spark, {"vertex": verts, "rank": rank}, not_null=("rank",))


def pagerank(
    edges: DataFrame,
    *,
    alpha: float = 0.85,
    tol: float = 1e-6,
    max_iter: int = 100,
    directed: bool = True,
    checkpointer=None,
    checkpoint_every: int = 5,
    verbose: bool = False,
    metrics_out: dict | None = None,
) -> DataFrame:
    """Edge table (src, dst) → ranks (vertex, rank). Ranks sum to 1.

    ``directed=False`` symmetrizes the edge set first. Self-loops are
    dropped; duplicate edges are counted once (set semantics, matching the
    oracle).

    The route comes from the edge count:
    - ``driver`` when the table has at most ``driver.FUNNEL_EDGE_LIMIT``
      rows (``driver.small_edge_arrays``: one count job and one Arrow
      collect of at most ~16 MB, or no job when the same checkpointed
      table was collected already). The whole power iteration runs in
      NumPy, one ``np.bincount`` per superstep, and the ranks come back as
      a DataFrame. On a fresh 10^5-edge corpus table it runs 3 Spark jobs
      where the Spark loop runs 25 (BENCH.md, "Driver route").
    - ``join`` otherwise. Transitions are cached hash(src)-partitioned;
      each superstep exchanges the V-row ranks to meet them and the
      map-side-combined contributions to the dst aggregate. It beat a
      route that cached transitions by dst and broadcast the ranks packed
      16 per row: in one JVM at ``local[4]``, set-up plus 3 supersteps
      took 12.85 s against 15.05 s at 2M edges (faster in 9/10 pairs) and
      48.22 s against 59.09 s at 8M (10/10), with the same vertices and
      ranks within 1.1e-15 relative (BENCH.md, "PageRank: one Spark
      route"; ``bench/pagerank_route_ab.py``).

    Both routes keep rank state ``(vertex, has_out, rank)`` in the same
    schema, so a ``checkpointer`` works with either, and a state saved by
    one route resumes on the other: every ``checkpoint_every``
    supersteps the state is saved, and a call whose checkpointer holds a
    saved step resumes from it, numbering supersteps on from that step (up
    to ``max_iter`` in all). ``metrics_out`` gets ``supersteps``,
    ``superstep_times`` (one per superstep run by this call), ``mode``,
    the route that ran, and on ``join`` ``contribs_plan`` (the first
    superstep's physical plan).
    """
    small = driver.small_edge_arrays(edges)
    if small is not None:
        if metrics_out is not None:
            metrics_out["mode"] = "driver"
        return _driver_pagerank(
            edges.sparkSession, *small, alpha=alpha, tol=tol, max_iter=max_iter,
            directed=directed, checkpointer=checkpointer,
            checkpoint_every=checkpoint_every, verbose=verbose,
            metrics_out=metrics_out,
        )
    # Clean the edge set ONCE; the degree table and transitions reuse it.
    e = edges.where(F.col("src") != F.col("dst")).select("src", "dst")
    if not directed:
        e = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    e = e.distinct()
    # The one per-vertex table: every vertex once with its out-degree,
    # sinks at 0 (posexplode's pos is 1 for the src endpoint, 0 for dst).
    deg = frontier_checkpoint(
        e.select(F.posexplode(F.array("dst", "src")).alias("o", "vertex"))
        .groupBy("vertex")
        .agg(F.sum("o").alias("out_deg")),
        eager=False,
    )
    # Rank state is (vertex, has_out, rank): the dangling flag travels
    # inside it, so the loop never joins it again. A fresh run starts from
    # deg with rank 1 per vertex (scaled to 1/n below), a resumed one from
    # its newest durable frontier. One aggregate, which also materializes
    # deg, gives n and the dangling mass.
    resumed = checkpointer.resume() if checkpointer is not None else None
    ranks, start = resumed or (
        deg.select(
            "vertex", (F.col("out_deg") > 0).alias("has_out"), F.lit(1.0).alias("rank")
        ),
        0,
    )
    n, dangling = ranks.agg(F.count(F.lit(1)), _dangling_mass()).first()
    if n == 0:
        free_local_checkpoint(deg)
        return edges.sparkSession.createDataFrame([], "vertex BIGINT, rank DOUBLE NOT NULL")
    if resumed is None:
        ranks = ranks.withColumn("rank", F.lit(1.0 / n))
        dangling /= n

    # Transition table: one row per edge with its 1/out_deg weight — built
    # once, reused every superstep. CRITICAL for scale: persist it
    # hash-partitioned AND sorted on the superstep join key. A cached
    # InMemoryRelation advertises its child's outputPartitioning/ordering
    # to Catalyst (localCheckpoint does NOT — LogicalRDD drops both, which
    # re-exchanged and re-sorted all E rows every superstep); with the
    # cache, each superstep exchanges only the V-row ranks side while the
    # E-row side never moves again.
    n_part = int(edges.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    transitions = (
        e.join(deg.where(F.col("out_deg") > 0).withColumnRenamed("vertex", "src"), "src")
        .select("src", "dst", (F.lit(1.0) / F.col("out_deg")).alias("w"))
        .repartition(n_part, "src")
        .sortWithinPartitions("src")
        .persist()
    )
    transitions.count()  # materialize the cache before timing supersteps

    base = (1.0 - alpha) / n
    # handle to the live frontier's bare localCheckpoint — freed as soon as
    # the next round materializes (keeps block-manager storage flat across
    # long runs instead of hoarding one superseded rank copy per round)
    prev_ck = deg
    for it in range(start, max_iter):
        t0 = time.time()
        ranks_side = ranks.select(F.col("vertex").alias("src"), "rank")
        contribs = (
            transitions.join(ranks_side, "src")
            .groupBy("dst")
            .agg(F.sum(F.col("rank") * F.col("w")).alias("contrib"))
        )
        if metrics_out is not None and it == start:
            # first-superstep physical plan, for the plan-quality tests
            # (asserts the cached E-row side never re-exchanges)
            metrics_out["contribs_plan"] = (
                contribs._jdf.queryExecution().executedPlan().toString()
            )
        # scatter-merge: old rank rides along as r0, so the convergence
        # check below is a plain aggregate — no extra V⋈V join per round
        new_ranks = (
            ranks.withColumnRenamed("rank", "r0")
            .join(contribs.withColumnRenamed("dst", "vertex"), "vertex", "left")
            .select(
                "vertex",
                "has_out",
                (
                    F.lit(base)
                    + F.lit(alpha)
                    * (F.coalesce(F.col("contrib"), F.lit(0.0)) + F.lit(dangling / n))
                ).alias("rank"),
                "r0",
            )
        )
        # lazy: materialized (and lineage truncated) by the collect below
        new_ranks = frontier_checkpoint(new_ranks, eager=False)
        # One job: L1 delta + next round's dangling mass together.
        delta, dangling = new_ranks.agg(
            F.sum(F.abs(F.col("rank") - F.col("r0"))), _dangling_mass()
        ).first()
        # the fused agg materialized this round's checkpoint — the previous
        # round's rank blocks are dead; release them now
        free_local_checkpoint(prev_ck)
        prev_ck = new_ranks  # the bare checkpoint handle (pre-drop)
        # Durable checkpoint WITHOUT the transient r0 column (it would
        # inflate the frontier parquet ~33% and drift the resume schema);
        # the drop is a projection over the already-materialized
        # localCheckpoint, so the parquet write re-computes nothing.
        new_ranks = new_ranks.drop("r0")
        if checkpointer is not None and (it + 1) % checkpoint_every == 0:
            new_ranks = checkpointer.save(new_ranks, it + 1)
        if verbose:
            print(f"[pagerank] iter {it + 1} delta={delta:.3e} {time.time() - t0:.1f}s", flush=True)
        if checkpointer is not None:
            checkpointer.log_metrics(it + 1, l1_delta=delta)
        if metrics_out is not None:
            metrics_out.setdefault("superstep_times", []).append(time.time() - t0)
            metrics_out["supersteps"] = it + 1
            metrics_out["mode"] = "join"
        ranks = new_ranks
        if delta < tol:
            break
    # ranks are checkpointed per round — safe to drop the setup cache
    transitions.unpersist()
    return ranks.select("vertex", "rank")
