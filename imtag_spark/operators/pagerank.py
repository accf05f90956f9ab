"""PageRank by power iteration (north-rule operator).

Generalizes the gather-scatter structure of the reference's pass-2
neighbor-aggregation sweep (/root/reference/src/SegmentImageImpl.cpp:96-115)
to repeated sparse matvec over the edge table.

Semantics (matched by the NumPy oracle in tests, allclose 1e-6):
standard power iteration with damping ``alpha``, uniform teleport, and
uniform redistribution of dangling-node mass; vertices = src ∪ dst of the
edges left after dropping self-loops.

Routes, chosen by size (see ``pagerank``):
- an edge table of at most ``cc.FUNNEL_EDGE_LIMIT`` rows is collected to
  the driver and iterated in NumPy (``np.bincount`` per superstep). Below
  that bound a Spark superstep is all scheduling: the 10^5-edge corpus
  job's 3 supersteps plus setup take 3 Spark jobs and 0.6 s there, 25
  jobs and 7.3 s as a DataFrame loop (BENCH.md, "Driver route"); on a
  checkpointed table CC already collected, only the checkpoint's write
  and read-back run as jobs (``cc.small_edge_arrays``);
- larger tables run the DataFrame loop. Setup builds ONE per-vertex table,
  ``deg(vertex, out_deg)`` with sinks at 0, from one aggregate over the
  edge endpoints; a second aggregate over it gives ``n`` and the dangling
  mass. The transition table (edges pre-joined with 1/out-degree) is
  built once and persisted, so every superstep is a single equi-join and
  one map-side-combinable sum, its physical form (``broadcast_join`` or
  ``join``) following from ``n`` and the executor count. The next round's
  dangling mass comes out of the same aggregate as the convergence delta
  (one job per superstep), and lineage is truncated every round (see
  cc.py for why that is mandatory).
"""

from __future__ import annotations

import time

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from imtag_spark.operators import cc
from imtag_spark.plans.checkpoint import free_local_checkpoint, frontier_checkpoint

#: broadcast_join runs at or below this vertex count (per-superstep rank
#: broadcast ≈ 16B × V per executor — 320 MB at the threshold)
BROADCAST_VERTEX_LIMIT = 20_000_000

#: cluster-size cap on the broadcast_join route: the per-superstep
#: broadcast ships O(V) bytes to EVERY executor, so its total network cost
#: is V × executors while the join route's ranks exchange moves O(V) rows
#: once. Locally (fan-out 1) broadcast_join wins by ~1.2x (BENCH.md r3
#: A/B); that margin cannot survive a fan-out hundreds of times larger, so
#: past this executor count the join route runs. The sandbox cannot price
#: a real network — the constant is deliberately conservative (a
#: 16-executor fan-out of a gate-sized V is ~5 GB/round).
AUTO_BROADCAST_EXECUTOR_LIMIT = 16


def _cluster_executor_count(spark) -> int:
    """Executor-JVM count = the broadcast fan-out multiplier the route
    gate must price. ``spark.executor.instances`` when set (static
    allocation); otherwise the scheduler's live executor list (dynamic
    allocation — a point-in-time floor, which is the conservative
    direction here); local mode has no separate executors and reports 1."""
    try:
        inst = spark.sparkContext.getConf().get("spark.executor.instances", None)
        if inst:
            return max(1, int(inst))
    except Exception:
        pass
    try:
        # driver appears in the memory-status map — exclude it
        n = spark.sparkContext._jsc.sc().getExecutorMemoryStatus().size() - 1
        return max(1, n)
    except Exception:
        return 1


def _auto_prefers_broadcast_join(n_vertices: int, executors: int) -> bool:
    """The route gate, pure so tests can exercise cluster shapes this
    sandbox cannot launch: broadcast_join only while BOTH the per-executor
    broadcast (V) and the cluster fan-out (executors) stay inside the
    measured-win regime."""
    return (
        n_vertices <= BROADCAST_VERTEX_LIMIT
        and executors <= AUTO_BROADCAST_EXECUTOR_LIMIT
    )

def _dangling_mass():
    """Total rank held by vertices with no out-edge (0 when there are none)."""
    return F.coalesce(F.sum(F.when(~F.col("has_out"), F.col("rank"))), F.lit(0.0))


#: log2 of the rank-packing block size for the broadcast_join superstep:
#: 2^4 = 16 ranks per packed map row (see the packing comment in
#: ``pagerank``). Chosen so the O(block) map probe per edge stays a few
#: cache-resident int64 comparisons while the driver-side broadcast build
#: shrinks 16x.
_PACK_BITS = 4


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
    verts, idx = np.unique(np.concatenate([src, dst]), return_inverse=True)
    n = len(verts)
    # an empty graph runs its supersteps over no vertex: 1/n stays finite
    inv_n = 1.0 / max(n, 1)
    # distinct pairs as one int64 key over vertex indices (n ≤ 2 × rows)
    key = np.unique(idx[: len(src)] * n + idx[len(src):])
    a, b = key // n, key % n
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
            checkpointer.save(cc.frame_from_arrays(spark, state), it + 1)
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
    return cc.frame_from_arrays(spark, {"vertex": verts, "rank": rank}, not_null=("rank",))


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

    The route comes from the edge count, then from V and the executor
    count:
    - ``driver`` when the table has at most ``cc.FUNNEL_EDGE_LIMIT`` rows
      (``cc.small_edge_arrays``: one count job and one Arrow collect of at
      most ~16 MB, or no job when the same checkpointed table was
      collected already). The whole power iteration runs in NumPy, one
      ``np.bincount`` per superstep, and the ranks come back as a
      DataFrame. On a fresh 10^5-edge corpus table it runs 3 Spark jobs
      where the loops below run 25 (BENCH.md, "Driver route").
    - ``broadcast_join`` when V ≤ BROADCAST_VERTEX_LIMIT and the executor
      count is ≤ AUTO_BROADCAST_EXECUTOR_LIMIT. Transitions are cached
      hash(dst)-partitioned; each superstep broadcasts the ranks, packed
      16 per row, into them. Neither join side nor the ``groupBy(dst)``
      aggregate exchanges, so the E-row side never moves and the superstep
      stays in whole-stage codegen. The V gate rests on the 64M-edge A/B:
      broadcast_join 21.4M vs join 17.7M edges/s per steady superstep
      (BENCH.md, round 3). The executor gate prices a broadcast fan-out
      that grows with the cluster.
    - ``join`` otherwise, the only route above the V gate. Transitions are
      cached hash(src)-partitioned; each superstep exchanges the V-row
      ranks to meet them and the map-side-combined contributions to the
      dst aggregate.

    Every route keeps rank state ``(vertex, has_out, rank)`` in the same
    schema, so a ``checkpointer`` works with any of them, and a state
    saved by one route resumes on another: every ``checkpoint_every``
    supersteps the state is saved, and a call whose checkpointer holds a
    saved step resumes from it, numbering supersteps on from that step (up
    to ``max_iter`` in all). ``metrics_out`` gets ``supersteps``,
    ``superstep_times`` (one per superstep run by this call), ``mode``,
    the route that ran, and on the Spark routes ``contribs_plan`` (the
    first such superstep's physical plan).
    """
    small = cc.small_edge_arrays(edges)
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

    use_bjoin = _auto_prefers_broadcast_join(
        n, _cluster_executor_count(edges.sparkSession)
    )

    # Transition table: one row per edge with its 1/out_deg weight — built
    # once, reused every superstep. CRITICAL for scale: persist it
    # hash-partitioned AND sorted on the superstep join key. A cached
    # InMemoryRelation advertises its child's outputPartitioning/ordering
    # to Catalyst (localCheckpoint does NOT — LogicalRDD drops both, which
    # re-exchanged and re-sorted all E rows every superstep); with the
    # cache, each superstep exchanges only the V-row ranks side while the
    # E-row side never moves again.
    #
    # broadcast_join flips the cached partitioning to ``dst`` (the agg
    # key): the superstep's gather join is then a broadcast hash join (no
    # exchange on either side) whose output still carries the cached dst
    # partitioning, so the groupBy(dst) needs no exchange either — the
    # E-row side never moves AND never re-aggregates across the wire. No
    # sortWithinPartitions: hash join + hash agg don't consume ordering.
    n_part = int(edges.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    transitions = e.join(
        deg.where(F.col("out_deg") > 0).withColumnRenamed("vertex", "src"), "src"
    ).select("src", "dst", (F.lit(1.0) / F.col("out_deg")).alias("w"))
    if use_bjoin:
        # Hash-block packing for the per-superstep rank broadcast. A naive
        # broadcast of the V-row ranks serializes the superstep on the
        # driver: BroadcastExchange collects V rows and builds the hashed
        # relation single-threaded — measured 1.7-2.1 s per superstep at
        # V=4M (stage-gap decomposition, BENCH.md r4), an Amdahl term that
        # alone capped N→4N scaling at ~0.55. Packing 2^PACK_BITS ranks
        # per row (block = hash(vertex) mod nblocks, so density is
        # guaranteed for ANY id distribution — dense ranges and sparse
        # 64-bit hash ids alike) shrinks the driver-side build to V/16
        # rows; the per-edge cost moves into the already-parallel join as
        # an O(block) map probe in codegen. The blk column is computed
        # once here, cached with the transitions.
        nblocks = max(1, (n + (1 << _PACK_BITS) - 1) >> _PACK_BITS)
        transitions = transitions.withColumn(
            "blk", F.pmod(F.xxhash64("src"), F.lit(nblocks))
        )
        transitions = transitions.repartition(n_part, "dst").persist()
    else:
        transitions = (
            transitions.repartition(n_part, "src")
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
        if use_bjoin:
            # parallel packing agg (V rows → V/16 map rows), broadcast of
            # the small packed table, probe inside whole-stage codegen;
            # groupBy(dst) still reuses the cached dst partitioning — the
            # E-row side neither exchanges nor leaves the JVM
            packed = (
                ranks.select(
                    F.pmod(F.xxhash64("vertex"), F.lit(nblocks)).alias("blk"),
                    F.struct(
                        F.col("vertex").alias("k"), F.col("rank").alias("v")
                    ).alias("kv"),
                )
                .groupBy("blk")
                .agg(F.map_from_entries(F.collect_list("kv")).alias("rmap"))
            )
            contribs = (
                transitions.join(F.broadcast(packed), "blk")
                .groupBy("dst")
                .agg(
                    F.sum(
                        F.col("rmap")[F.col("src")] * F.col("w")
                    ).alias("contrib")
                )
            )
        else:
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
            metrics_out["mode"] = "broadcast_join" if use_bjoin else "join"
        ranks = new_ranks
        if delta < tol:
            break
    # ranks are checkpointed per round — safe to drop the setup cache
    transitions.unpersist()
    return ranks.select("vertex", "rank")
