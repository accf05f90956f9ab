"""Distributed connected components: union-find solves and oriented star rounds.

Generalizes the reference's pass-2 union-find label merge
(src/SegmentImageImpl.cpp:78-116 driving src/disjoint_set.hpp:125-137 in
the reference). A graph whose init count is at most
``driver.FUNNEL_EDGE_LIMIT`` rows is collected to the driver
(``driver.small_edge_arrays``, shared with PageRank, LPA and triangles)
and solved by one NumPy union-find pass (``driver._contract_arrays``), the
direct analog of the reference's single-address-space merge; a graph a
caller hints small (``single_partition``) gets the same pass inside one
coalesced task. Larger graphs run star rounds (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14): each round is a
large star over the oriented edge set followed by two partition-local
union-find contractions inside Arrow UDFs, and a convergence certificate
decides whether another round is needed. A near-terminal tail of chains
is resolved driver-side instead of by one more round, and a frontier back
under the same gate is collected and finished on the driver. The
labels are one min-aggregate over the final forest's endpoints and the
input's self-loops, which lists every vertex once (the reference's one
canonicalize-and-group sweep, src/SegmentImageImpl.cpp:9-24).
``range_partition`` adds a partition-local union-find pass over the
range-partitioned input before either. Every route drops an edge with a
null endpoint.

Labeling contract (verified against the compiled reference, SURVEY.md §2.4):
final ``component = min(vertex_id)`` over the component. The reference's
pseudo-random link policy (disjoint_set.hpp:13-21) only affects its internal
tree shape, never the exported labels, so min-based hooking reproduces its
output exactly once ids follow scan order.

Scale design:
- every wide operation is a map-side-combinable ``groupBy().min()`` or an
  equi-join, never a window partitioned by vertex (a hot vertex would
  funnel its whole adjacency into one task);
- the edge set shrinks monotonically toward #vertices (star edges), so AQE
  re-coalesces partitions as rounds progress;
- lineage is truncated every round via localCheckpoint (or durable parquet
  checkpoints through plans.checkpoint for resumability).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from imtag_spark.operators import driver

# perfbench/workloads.py imports SMALL_GRAPH_EDGE_LIMIT from this module until
# ROADMAP item 2 deletes the constant. Nothing sets it, so this copy cannot go
# stale; the row gate, FUNNEL_EDGE_LIMIT, is read as driver.FUNNEL_EDGE_LIMIT.
from imtag_spark.operators.driver import SMALL_GRAPH_EDGE_LIMIT  # noqa: F401
from imtag_spark.plans.checkpoint import (
    free_local_checkpoint,
    frontier_checkpoint,
    is_materialized_scan,
)

EDGE_SCHEMA = "src BIGINT, dst BIGINT"


# ---------------------------------------------------------------------------
# Partition-local union-find pre-contraction (the imtag disjoint_set analog)
# ---------------------------------------------------------------------------

#: per-chunk edge cap for the star round's partition-local union-finds
#: (and the range-partitioned input pass). Those contractions run over
#: whatever partitions an exchange produced, and skew can fatten one (a hub
#: star colocated by hash(src), a hub's range stripe); chunking bounds the
#: union-find working set (≈ 5 int64 arrays × cap) and the O(E log E)
#: np.unique sort to a constant, and streams results out as Arrow batches
#: arrive. Cross-chunk merges are absorbed by the following rounds (the
#: output stays a valid spanning relabeling). The one-task pass never
#: chunks: its gates bound its input instead.
LOCAL_CONTRACT_CHUNK = 8_000_000


#: rows per emitted Arrow batch from the contraction (bounds JVM-side
#: buffering of one IPC message; 1M × 16B ≈ 16 MB)
_CONTRACT_OUT_BATCH = 1_000_000


def _local_contract_fn(chunk: int | None):
    """Build the per-partition union-find closure; emits (vertex, local_root).

    Pure NumPy, array-based, path-halving on vectorized lookups. The output
    pairs are a spanning relabeling of this partition's edge set: feeding
    them to the global algorithm preserves connectivity while cutting the
    edge count to ≤ #distinct local vertices. This mirrors the reference's
    single-address-space union-find, scoped to what actually shares an
    address space in Spark: one partition, processed in chunks of ``chunk``
    edges (``None``: the whole partition is one chunk). A closure (not a
    module global) so the chunk bound serializes by value to executors.

    Runs under ``mapInArrow``: the kernel is NumPy end-to-end, Arrow
    integer arrays view as NumPy without a copy, and results go back as
    sliced RecordBatches, with no pandas conversion either way. A batch
    with a null endpoint first drops those edges (NumPy would turn the
    column into float64 and round ids above 2**53); the null-count check
    costs nothing on a batch without nulls.
    """
    import pyarrow.compute as pc

    def _batches(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        srcs: list[np.ndarray] = []
        dsts: list[np.ndarray] = []
        buffered = 0

        def _emit():
            verts, roots = driver._contract_arrays(srcs, dsts)
            out = pa.record_batch(
                [pa.array(verts), pa.array(roots)], names=["src", "dst"]
            )
            for off in range(0, out.num_rows, _CONTRACT_OUT_BATCH):
                yield out.slice(off, _CONTRACT_OUT_BATCH)

        for rb in batches:
            if rb.num_rows == 0:
                continue
            if rb.column(0).null_count or rb.column(1).null_count:
                rb = rb.filter(pc.and_(pc.is_valid(rb.column(0)), pc.is_valid(rb.column(1))))
            # integer Arrow arrays with no nulls, in the columns' own type
            srcs.append(rb.column(0).to_numpy(zero_copy_only=False))
            dsts.append(rb.column(1).to_numpy(zero_copy_only=False))
            buffered += rb.num_rows
            if chunk is not None and buffered >= chunk:
                yield from _emit()
                srcs, dsts, buffered = [], [], 0
        if srcs:
            yield from _emit()

    return _batches



def local_contract(edges: DataFrame) -> DataFrame:
    """Shuffle-free per-partition contraction: edges → (vertex, local_root).

    Partitions are processed in chunks of LOCAL_CONTRACT_CHUNK edges.
    Every vertex of a chunk gets one row, roots included as ``(r, r)``;
    callers that want pointer edges filter ``src != dst``. The edge columns
    cross the Arrow transit in their own type and are never cast, so no id
    can wrap (the reference picks a label width and guards it,
    src/imtag.cpp:120-123; BIGINT ids need no guard). Other columns of
    ``edges`` are dropped first: the kernel reads its first two.
    """
    return edges.select("src", "dst").mapInArrow(
        _local_contract_fn(LOCAL_CONTRACT_CHUNK), schema=EDGE_SCHEMA
    )


def _one_task_solve(edges: DataFrame) -> DataFrame:
    """One coalesced union-find pass over the whole input, never chunked:
    ``(vertex, component min)`` for every vertex once, roots as ``(r, r)``.
    Exact by construction, so its output is a terminal star forest. The
    ``single_partition`` route's solve."""
    return (
        edges.select("src", "dst")
        .coalesce(1)
        .mapInArrow(_local_contract_fn(None), schema=EDGE_SCHEMA)
    )


# ---------------------------------------------------------------------------
# Star rounds (global merge)
# ---------------------------------------------------------------------------

def _oriented_edges(edges: DataFrame, n_part: int) -> DataFrame:
    """Orient each edge once as ``(c=min endpoint, n=max endpoint)``,
    self-loops dropped, hash(c)-partitioned. Not persisted: the round runs
    as one certificate-driven job, so its two consumers (the n-side min
    aggregate and the large-star join) read the same shuffle output via
    ReusedExchange. Caching the rows as well cost 27-56 % of executor time
    in GC at 64M edges (BENCH.md, round 3)."""
    return (
        edges.select(
            F.least("src", "dst").alias("c"), F.greatest("src", "dst").alias("n")
        )
        .where(F.col("c") != F.col("n"))
        .repartition(n_part, "c")
    )


def _nside_mins(o: DataFrame) -> DataFrame:
    """``(c, mn)`` with ``mn(u) = min{c' : (c', u) ∈ o}``, keyed as ``c``.

    In the oriented set every c-side neighbor of u is smaller than u and
    every n-side neighbor larger, so ``min(Γ(u) ∪ {u}) = least(u, mn(u))``.
    One E-row aggregate over the reused orientation exchange, partially
    aggregated map-side, so only ~V partial rows exchange."""
    return o.groupBy("n").agg(F.min("c").alias("mn")).withColumnRenamed("n", "c")


def _star_round(edges: DataFrame, n_part: int) -> DataFrame:
    """One CC superstep: large star, then two partition-local union-find
    contractions. Returns pointer rows ``(src, dst)`` with src > dst.

    - Large star: u's strictly-larger neighbors are exactly the n's of its
      c-edges, so the LEFT join ``o ⋈ mn on c → (n, least(c, mn))`` is the
      whole large-star output, already oriented src > dst. A vertex never
      seen as n joins a null mn and ``least`` yields c itself.
    - First contraction: the large-star rows are exchanged to hash(src), so
      each u's rows ``(u → m)`` share a partition and the union-find does
      the small star's unions without its aggregate and join.
    - Second contraction: a vertex seen by k partitions leaves the first
      pass with k pointer rows. One exchange of those contracted rows to
      hash(src) and a second union-find fuse them to ~V rows (64M edges:
      23.2M → 4.34M rows, round 2 20.8 → 6.3 s).

    Per round: 2 E-row exchanges and one ~V-row exchange, nothing
    persisted. It is the only distributed round because a flat large-star
    / small-star round over the symmetrized edges (4 E-row exchanges)
    lost even in its best band: 1.5M edges on local[4], 4.77 s in 2
    rounds vs 2.59 s in 1 (BENCH.md). Skew-safe: hash(src) over
    contracted pointer rows spreads a hub's neighbors, each of which
    carries its own src key.
    """
    o = _oriented_edges(edges, n_part)
    ls = o.join(_nside_mins(o).hint("shuffle_hash"), "c", "left").select(
        F.col("n").alias("src"), F.least("c", "mn").alias("dst")
    )
    out = local_contract(ls.repartition(n_part, "src"))
    out = out.where(F.col("src") != F.col("dst")).repartition(n_part, "src")
    return local_contract(out).where(F.col("src") != F.col("dst"))


def _endpoint_tally(edges: DataFrame) -> DataFrame:
    """Per-vertex ``(k, ns, nd)``: k's occurrences as src and as dst.

    The endpoints are unpivoted with ``explode``, NOT ``union``: the first
    action over this tally materializes the round's lazily-checkpointed
    output, and a union references that subtree TWICE — the narrow chain
    behind it (both Arrow contractions included) executes once per branch
    before the checkpoint blocks exist. explode doubles rows inline in a
    single scan, guaranteeing one execution per round. Interleaved
    64M-edge A/B: round 1 39.1 → 25.5 s, identical counts.
    """
    both = edges.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("src").alias("k"), F.lit(1).alias("s"), F.lit(0).alias("d")
                ),
                F.struct(
                    F.col("dst").alias("k"), F.lit(0).alias("s"), F.lit(1).alias("d")
                ),
            )
        ).alias("e")
    ).select("e.k", "e.s", "e.d")
    return both.groupBy("k").agg(F.sum("s").alias("ns"), F.sum("d").alias("nd"))


def _chained_count(edges: DataFrame) -> tuple[int, int]:
    """(total rows, non-star-forest witnesses) for convergence detection.

    Every round's output edge points strictly downward (src > dst), so the
    output is a TERMINAL disjoint star forest exactly when (a) no dst
    appears as a src (depth 1) and (b) every src carries a single pointer
    — (b) matters because the partition-local contraction can emit
    ``x → rootA`` and ``x → rootB`` from two partitions that both saw x;
    depth-1 alone would accept that while x's labels are still ambiguous.
    Disjoint star forests are fixpoints of the round function and their
    roots are component minima (connectivity is preserved by every round),
    so stopping here is exact and saves the confirmation round that
    fingerprint-equality detection costs.

    Both witness classes fall out of ONE per-vertex tally: with
    ``ns(k)``/``nd(k)`` = k's occurrences as src/dst, the chained rows are
    ``Σ nd(k) over k with ns(k) > 0`` and the duplicate pointers are
    ``Σ (ns(k) − 1)``. A single map-side-combinable groupBy over the
    exploded endpoints replaces the former distinct + shuffle-hash join +
    countDistinct plan — no join, one exchange of partial aggregates,
    measured 3–8× faster on a 23M-row round output (64M-edge graph,
    local[32]) with identical counts.
    """
    row = _endpoint_tally(edges).agg(
        F.coalesce(F.sum("ns"), F.lit(0)).alias("n"),
        F.coalesce(
            F.sum(F.when(F.col("ns") > 0, F.col("nd")).otherwise(0)), F.lit(0)
        ).alias("chained"),
        F.coalesce(F.sum(F.greatest(F.col("ns") - 1, F.lit(0))), F.lit(0)).alias(
            "dup"
        ),
    ).collect()[0]
    return int(row["n"]), int(row["chained"]) + int(row["dup"])


#: witness-count bound for the terminal-tail patch. When a round's
#: certificate finds this few non-star-forest witnesses, the violating
#: sub-forest is collected to the driver, solved with the same NumPy
#: union-find, and applied as a broadcast dst-mapping inside the final
#: labels job — replacing an entire distributed round whose cost is pure
#: per-stage floor at any core count (measured at 64M edges: round 1
#: leaves 387 witnesses, and the round 2 that resolves them costs
#: 9.7-17.3 s at every parallelism level — an Amdahl tail for N→4N
#: scaling). The collected candidate set is O(witnesses) rows, so the
#: bound keeps driver traffic ≤ a few MB.
PATCH_WITNESS_LIMIT = 65_536


def _chain_patch(stepped: DataFrame) -> DataFrame | None:
    """Resolve a near-terminal forest's remaining witnesses driver-side.

    Returns a tiny ``(_old BIGINT, _new BIGINT)`` root mapping such that
    rewriting EVERY row ``(s, d) → (s, coalesce(map[d], d))`` yields a
    terminal star forest labeled with exact component minima — or ``None``
    for an empty mapping (witnesses were all duplicate pointers agreeing on
    the same root).

    Exactness argument (relies on the loop invariant that every round
    output points strictly downward, src > dst):

    - Let V = {k : k is both pointed-to and pointing} ∪ {k : k carries
      duplicate pointers}; candidates = rows with either endpoint in V.
      Any vertex on a chain interior is in V, so every chain/duplicate row
      is a candidate: the union-find over the candidate rows sees each
      violating component's ENTIRE violating sub-forest, including its
      global minimum (the last chain link points at it).
    - A non-candidate row (s, d) has s pointing exactly once, s never
      pointed-to, d never pointing: rewriting d to its union-find root (if
      d was dragged into V's components by a candidate row) re-attaches s
      to the true minimum; otherwise d is already terminal.
    - Roots of the mapping cannot themselves point anywhere: a mapped root
      with an outgoing row would be both pointed-to and pointing — i.e. in
      V with all its rows among the candidates — contradicting it being
      its component's minimum.

    Generalizes the reference's final label-resolution sweep
    (/root/reference/src/SegmentImageImpl.cpp:108-116, the ``find`` pass
    that collapses leftover parent chains after the merge pass) to the
    distributed forest: the chains that survive partition-local contraction
    are collapsed in one driver pass over only the violating rows.
    """
    (viol,) = driver.collect_columns(
        _endpoint_tally(stepped)
        .where(((F.col("ns") > 0) & (F.col("nd") > 0)) | (F.col("ns") > 1)),
        ("k",),
    )  # ≤ O(witnesses) rows by the PATCH_WITNESS_LIMIT gate
    if not len(viol):
        return None
    spark = stepped.sparkSession
    vdf = driver.frame_from_arrays(spark, {"k": viol})
    src, dst = driver.collect_columns(
        stepped.join(
            F.broadcast(vdf.withColumnRenamed("k", "src")), "src", "leftsemi"
        ).unionByName(
            stepped.join(
                F.broadcast(vdf.withColumnRenamed("k", "dst")), "dst", "leftsemi"
            ).select("src", "dst")
        )
    )
    if not len(src):
        return None
    verts, roots = driver._contract_arrays([src], [dst])
    changed = roots != verts
    if not changed.any():
        return None
    return driver.frame_from_arrays(spark, {"_old": verts[changed], "_new": roots[changed]})


def connected_components(
    edges: DataFrame,
    *,
    range_partition: bool = False,
    single_partition: bool = False,
    narrow_ids: bool = False,
    max_iter: int = 50,
    checkpoint_every: int = 3,
    checkpointer=None,
    verbose: bool = False,
    metrics_out: dict | None = None,
) -> DataFrame:
    """Edge table ``(src BIGINT, dst BIGINT)`` → labels ``(vertex, component)``.

    ``component = min(vertex_id)`` of the component (exact-match contract,
    SURVEY.md §2.4). Self-loops are tolerated; isolated vertices (appearing
    only in self-loops) label themselves. Every vertex occurring in
    ``edges`` appears exactly once in the result.

    Route: an init job counts the input. An input of at most
    ``driver.FUNNEL_EDGE_LIMIT`` rows is collected by the same call
    (``driver.small_edge_arrays``: no job at all when PageRank, LPA or
    triangles already collected the same checkpointed table) and solved by
    one NumPy union-find pass on the driver, self-loops included. Its
    output (every vertex once, with its component minimum) comes back
    through ``driver.frame_from_arrays`` as the labels: no Python worker,
    no shuffle and no certificate (the reference's union-find pass plus
    ``find`` sweep, src/SegmentImageImpl.cpp:78-116 in the reference). On
    a checkpointed input the count is one job (``driver.count_small``); on
    the corpus job the four graph operators then share that count and one
    collect. Larger inputs run star rounds until a certificate finds a
    terminal star forest; a round whose counted frontier is under the same
    bound is collected and solved on the driver the same way. The star
    route's labels are one ``groupBy(vertex).min`` over the forest's
    endpoints and the input's self-loops. Labels are ``(vertex BIGINT, component
    BIGINT)``, both nullable, on every route.

    ``range_partition`` — range-partition the input by ``src`` and run the
    partition-local union-find over those partitions before the solve.
    When vertex ids carry locality (scan-order run ids, any id space where
    neighbors have nearby ids), contiguous id stripes land in one partition
    and the pass collapses whole regions for ~free — measured on the
    2160×3840 grid: 13 → 8 global rounds, 80 s → 35 s. Leave off for
    hash-id graphs: there the input pass costs a full Arrow transit of the
    edge set (25–65 s at 32 M edges) while shrinking round 1 only ~35 %.

    ``single_partition`` — caller-held size bound (edges known small without
    a job): skip the init job and solve in one ``coalesce(1)``
    ``mapInArrow`` task, whatever the input's size, whose output is
    checkpointed in one partition. The pass never chunks, so the labels are
    exact at any size, but one task is then the whole solve — never pass
    the hint unbounded. Overrides ``range_partition``.

    ``checkpointer`` — optional ``plans.checkpoint.SuperstepCheckpointer``
    for durable per-superstep state + resume; defaults to in-memory
    ``localCheckpoint`` lineage truncation.

    ``narrow_ids`` — ignored (ids are int64 on every path); kept for old callers.

    ``metrics_out`` — filled with ``supersteps`` and ``superstep_times``.
    """
    spark = edges.sparkSession

    # Self-loops stay in: the small-input solves label a vertex seen only in
    # a self-loop from its (v, v) row, and every star round drops them
    # itself. No input distinct(): duplicates are harmless to every
    # downstream op (min-aggregates, the union-find), and deduping would
    # shuffle the input to hash(src,dst) — destroying any locality the
    # producer's partitioning carries.
    work = edges
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    if range_partition and not single_partition:
        # its root rows (r, r) stay, so every input vertex is still listed
        # for the small-input solves
        work = local_contract(work.repartitionByRange(n_part, "src"))

    start_iter = 0
    resumed = checkpointer.resume() if checkpointer is not None else None
    if resumed is not None:
        work, start_iter = resumed

    import time as _time

    # Lineage MUST be truncated every round: each star round's plan embeds
    # the previous round's plan several times (the oriented edges feed both
    # the aggregate and the join), so without truncation Catalyst analysis
    # cost grows exponentially with rounds. Eager localCheckpoint gives a
    # flat plan per round; the durable checkpointer (parquet) replaces it
    # every `checkpoint_every` rounds when resumability is requested.
    _t = _time.time()
    n_work = 0
    small = None  # the (src, dst) arrays when the counted input is small
    owns_frontier = False  # True once `work` is a checkpoint THIS solve made
    if resumed is not None or not single_partition:
        # Lazy checkpoint + count = ONE materialization job that also
        # yields the row count gating the driver solve and the round
        # structure below.
        #
        # Skip the copy when the input is ALREADY a materialized scan
        # (a caller-side checkpoint/local relation under at most a
        # deterministic projection/filter): the plan is as flat as a
        # checkpoint would make it, re-reading it per round is as cheap as
        # reading the copy and yields the rows n_work counted (the funnel
        # gates trust it), and the copy itself is round 1's single largest
        # stage at 64M edges (~160 task-core-seconds of block duplication).
        if not is_materialized_scan(work):
            work = frontier_checkpoint(work, eager=False)
            owns_frontier = True
        if resumed is None:
            # under the gate the same call collects the edges, or finds
            # them kept from an earlier call on the caller's table
            n_work, small = driver.count_small(work, remember=not owns_frontier)
        else:
            n_work = work.count()
        if verbose:
            print(f"[cc] init n={n_work} {_time.time() - _t:.1f}s", flush=True)

    def _log_round(it: int, n_edges: int, chained: int, patched: int) -> None:
        if verbose:
            patch_note = f" (patched {patched})" if patched else ""
            print(
                f"[cc] round {it + 1} edges={n_edges} chained={chained}"
                f"{patch_note} {_time.time() - _t:.1f}s",
                flush=True,
            )
        if checkpointer is not None:
            if patched:
                # A durable checkpoint written THIS round still stores the
                # pre-patch witnesses — record the truth (their count plus
                # patched=True) rather than chained=0, so nothing reading
                # the manifest mistakes the stored frontier for a terminal
                # star forest (r4 ADVICE). Resume stays correct either
                # way: a resumed run re-executes the round.
                checkpointer.log_metrics(
                    it + 1, edges=n_edges, chained=patched, patched=True
                )
            else:
                checkpointer.log_metrics(it + 1, edges=n_edges, chained=chained)
        if metrics_out is not None:
            metrics_out.setdefault("superstep_times", []).append(_time.time() - _t)
            metrics_out["supersteps"] = it + 1

    if small is not None:
        verts, roots = driver._contract_arrays([small[0]], [small[1]])
        labels = driver.frame_from_arrays(spark, {"vertex": verts, "component": roots})
        if checkpointer is not None and checkpoint_every == 1:
            checkpointer.save(
                labels.select(F.col("vertex").alias("src"), F.col("component").alias("dst")), 1
            )
        if owns_frontier:
            free_local_checkpoint(work)
        _log_round(0, n_work, 0, 0)
        return labels

    if resumed is None and single_partition:
        _t = _time.time()
        out = _one_task_solve(work)
        if checkpointer is not None and checkpoint_every == 1:
            out = checkpointer.save(out, 1)
        labels = out.select(
            F.col("src").alias("vertex"), F.col("dst").alias("component")
        ).localCheckpoint(eager=True)
        # a hinted solve runs no count: counting the labels would cost a job
        _log_round(0, n_work, 0, 0)
        return labels

    chain_patch: DataFrame | None = None
    for it in range(start_iter, max_iter):
        _t = _time.time()
        patched_chained = 0  # true witness count a terminal-tail patch absorbed
        # Frontier funnel: a frontier the previous certificate counted
        # under the row gate would make a distributed round pure
        # scheduling floor, so it is collected and solved on the driver:
        # a terminal star forest by construction, which needs neither a
        # certificate nor a checkpoint (``frame_from_arrays`` is a flat plan).
        funneled = n_work <= driver.FUNNEL_EDGE_LIMIT
        if funneled:
            src, dst = driver.collect_columns(work)
            verts, roots = driver._contract_arrays([src], [dst])
            moved = verts != roots
            stepped = driver.frame_from_arrays(spark, {"src": verts[moved], "dst": roots[moved]})
            n_edges, chained = int(moved.sum()), 0
        else:
            stepped = _star_round(work, n_part)
        if checkpointer is not None and (it + 1) % checkpoint_every == 0:
            stepped = checkpointer.save(stepped, it + 1)
        elif not funneled:
            # lazy: the convergence-certificate collect below materializes
            # the checkpoint, so each round costs exactly one Spark job
            stepped = frontier_checkpoint(stepped, eager=False)
        if not funneled:
            n_edges, chained = _chained_count(stepped)
            if 0 < chained <= PATCH_WITNESS_LIMIT:
                # Terminal-tail patch: the few remaining witnesses are
                # resolved driver-side and applied as a broadcast dst
                # mapping in the labels job below — the distributed round
                # they would otherwise force is pure per-stage floor at any
                # core count (see PATCH_WITNESS_LIMIT). Timed inside this
                # round (it is this round's convergence cost).
                chain_patch = _chain_patch(stepped)
                patched_chained, chained = chained, 0
        # the certificate materialized this round's checkpoint — the
        # previous round's frontier blocks are dead from here on; release
        # them now instead of waiting for driver GC (r3 stage metrics
        # showed the superseded copies accumulating across long runs).
        # NEVER free a caller-owned input (init-copy skipped): its blocks
        # outlive this solve.
        if owns_frontier:
            free_local_checkpoint(work)
        owns_frontier = True  # every loop frontier from here on is ours
        n_work = n_edges  # next round's gates, free off the certificate
        _log_round(it, n_edges, chained, patched_chained)
        work = stepped
        if chained == 0:
            break
    else:
        raise RuntimeError(f"connected_components did not converge in {max_iter} rounds")

    # work is now a star forest oriented (member -> root), up to the
    # driver-resolved chain patch, applied here as a broadcast mapping on
    # dst. Every vertex of a non-self-loop input edge occurs in the forest,
    # so one min-aggregate over its endpoints, plus the input's self-loops,
    # lists each vertex once. Both endpoints of a row take the row's root:
    # a pre-patch root r whose component merged downward occurs only as a
    # dst, and its rows give it find(r). Every row's label lies in its
    # vertex's component, and at least one row per vertex carries the
    # minimum (see _chain_patch), so the min is exact.
    forest = work.select("src", "dst", F.col("dst").alias("root"))
    if chain_patch is not None:
        forest = forest.join(
            F.broadcast(chain_patch), F.col("dst") == F.col("_old"), "left"
        ).select("src", "dst", F.coalesce("_new", "dst").alias("root"))
    out = (
        forest.select(
            F.explode(F.array("src", "dst")).alias("vertex"),
            F.col("root").alias("component"),
        )
        .unionByName(
            edges.where(F.col("src") == F.col("dst")).select(
                F.col("src").alias("vertex"), F.col("src").alias("component")
            )
        )
        .groupBy("vertex")
        .agg(F.min("component").alias("component"))
        .localCheckpoint(eager=True)
    )  # labels are wide-ish and read once by the caller: default storage
    # the labels are materialized — the terminal star forest is dead too
    free_local_checkpoint(work)
    return out
