"""One parallelism level of the scaling experiment — run in its OWN process
(one JVM per measurement; ``local[k]`` must not be reused across levels).

Builds a deterministic synthetic edge table entirely JVM-side
(``spark.range`` + ``xxhash64`` — no driver funneling, arbitrarily
scalable), runs PageRank (fixed supersteps) and CC to convergence, prints
one JSON line with per-superstep times.

Usage: python bench/scaling_worker.py <cpus> [n_edges] [n_vertices] [skew]
                                      [n_part]

``n_part`` (r4): shuffle-partition count, IDENTICAL at both parallelism
levels of a pairing (scaling.py passes 2 x the high level's cores). The
pre-r4 protocol used cpus*2, which made the two levels run *different
physical jobs* — partition count changes the partition-local union-find's
working-set size and the pointer-duplication factor the second contraction
must undo — so the N->4N ratio partly measured a work-shape change, not
parallelism. On a real cluster spark.sql.shuffle.partitions is a job
config sized for the data, held constant as executors scale; this flag
reproduces that. Absent, falls back to cpus*2 (the pre-r4 protocol).
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from imtag_spark.operators.cc import connected_components  # noqa: E402
from imtag_spark.operators.pagerank import pagerank  # noqa: E402
from imtag_spark.plans.checkpoint import frontier_checkpoint  # noqa: E402
from imtag_spark.session import get_spark  # noqa: E402


def synthetic_edges(spark, n_edges: int, n_vertices: int, skew: bool):
    """Deterministic pseudo-random edge table, generated distributed.

    ``skew=True`` squares the dst hash fraction — a power-law-ish degree
    bias toward low vertex ids (heavy hitters), exercising AQE skew
    handling in the superstep joins.
    """
    ids = spark.range(n_edges)
    src = F.pmod(F.xxhash64(F.col("id")), F.lit(n_vertices))
    dst_u = F.pmod(F.xxhash64(F.col("id") + n_edges), F.lit(n_vertices))
    if skew:
        dst = ((dst_u * dst_u) / F.lit(n_vertices)).cast("long")
    else:
        dst = dst_u
    return (
        ids.select(src.alias("src"), dst.alias("dst"))
        .where(F.col("src") != F.col("dst"))
    )


def main() -> None:
    cpus = int(sys.argv[1])
    n_edges = int(sys.argv[2]) if len(sys.argv) > 2 else 8_000_000
    n_vertices = int(sys.argv[3]) if len(sys.argv) > 3 else 1_000_000
    skew = len(sys.argv) > 4 and sys.argv[4] == "skew"
    n_part = int(sys.argv[5]) if len(sys.argv) > 5 else cpus * 2
    # Protocol fairness (r4): cap the JVM's visible processor count at the
    # level's core count. ``local[k]`` only bounds TASK threads — GC, JIT,
    # and pool threads are sized from the host's 32 cores at EVERY level,
    # so the low level was silently borrowing up to ~23 GC threads the
    # high level's mutators had to fight for; a real k-core executor host
    # reports k processors and sizes all of those from it.
    spark = get_spark(
        app_name=f"scaling_{cpus}",
        master=f"local[{cpus}]",
        shuffle_partitions=n_part,
        extra_conf={
            "spark.driver.extraJavaOptions": f"-XX:ActiveProcessorCount={cpus}"
        },
    )
    edges = frontier_checkpoint(synthetic_edges(spark, n_edges, n_vertices, skew))
    m = edges.count()

    # Both workloads use the SAME repetition protocol: run the identical
    # deterministic job REPS times in this JVM and take the
    # per-superstep-index minimum across repetitions. The work per
    # (round, repetition) cell is bit-identical, so the min is the least
    # contention-contaminated observation of that round on this
    # steal-prone shared-hypervisor host; raw per-repetition times are
    # disclosed alongside. r2 applied this only to CC; PageRank's single
    # 10-superstep run still rode 2-5x steal spikes (BENCH_SCALING
    # samples 4/5 show 16-27 s outlier supersteps at local[32] that a
    # cross-rep min removes).
    REPS = int(os.environ.get("SCALING_REPS", "3"))
    # pagerank() has one Spark route, "join", so the harness times the
    # plan every caller gets. r4 and r5 samples timed a packed rank
    # broadcast that has since been deleted (BENCH.md, "PageRank: one
    # Spark route"); the recorded pagerank_mode field (the route that ran)
    # and engine_hash in bench/scaling.py keep the eras separable.
    pr_reps: list[list[float]] = []
    pr_mode = None
    for _ in range(REPS):
        pr_m: dict = {}
        pagerank(
            edges, directed=True, tol=0.0, max_iter=10, metrics_out=pr_m
        ).count()
        pr_reps.append(pr_m["superstep_times"])
        pr_mode = pr_m.get("mode")
    n_steps = min(len(r) for r in pr_reps)
    pr_min_by_step = [min(r[i] for r in pr_reps) for i in range(n_steps)]
    # One UNTIMED warmup solve before the timed repetitions: the first CC
    # job in a JVM pays 100-200 s of one-off cost (codegen JIT for the
    # star-round plan shapes, Arrow worker spin-up, /dev/shm page faults)
    # that PageRank's earlier run only partially absorbs — measured rep
    # sequences kept DESCENDING (e.g. 50.6 -> 34.1 -> 23.9 s round 1),
    # meaning rep-min was still warmup-contaminated at REPS=3. Both
    # parallelism levels get the same treatment, so the efficiency ratio
    # compares steady-state against steady-state.
    connected_components(edges).count()
    cc_reps: list[list[float]] = []
    for _ in range(REPS):
        cc_m: dict = {}
        connected_components(edges, metrics_out=cc_m).count()
        cc_reps.append(cc_m["superstep_times"])
    n_rounds = min(len(r) for r in cc_reps)
    cc_min_times = [min(r[i] for r in cc_reps) for i in range(n_rounds)]

    def eps(times):
        return round(m / (sum(times) / len(times)), 1) if times else None

    pr_times = pr_min_by_step
    # steady state: drop the first two supersteps (JVM JIT + AQE warmup —
    # a long-running production job runs hundreds of supersteps, so the
    # steady-state rate is the honest per-superstep throughput). The
    # min-based figure uses the single fastest superstep: identical
    # deterministic work per round, so the min is the least
    # noise-contaminated observation on this shared-hypervisor host.
    pr_steady = pr_times[2:] if len(pr_times) > 4 else pr_times
    print(
        json.dumps(
            {
                "cpus": cpus,
                "n_edges": m,
                "skew": skew,
                "reps": REPS,
                "n_part": n_part,
                "pagerank_mode": pr_mode,
                "pagerank_superstep_times": [round(t, 3) for t in pr_times],
                "pagerank_superstep_times_reps": [
                    [round(t, 3) for t in r] for r in pr_reps
                ],
                "cc_superstep_times": [round(t, 3) for t in cc_min_times],
                "cc_superstep_times_reps": [
                    [round(t, 3) for t in r] for r in cc_reps
                ],
                "eps_pagerank": eps(pr_times),
                "eps_pagerank_steady": eps(pr_steady),
                "eps_pagerank_min": round(m / min(pr_times), 1),
                "eps_cc": eps(cc_min_times),
                # convergence throughput (edges / TOTAL time to converge):
                # the per-superstep mean above penalizes dropping cheap
                # rounds (r4 converges in 2 rounds instead of 3, so the
                # mean loses its cheapest member while wall time falls);
                # this figure is the one a user's job actually feels
                "eps_cc_conv": (
                    round(m / sum(cc_min_times), 1) if cc_min_times else None
                ),
            }
        )
    )


if __name__ == "__main__":
    main()
