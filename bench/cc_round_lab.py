"""A/B lab for the CC big-graph superstep structure (round-4 experiments).

Hypothesis under test: in the oriented star round the small-star
aggregate + join is REDUNDANT — its input ``oriented`` is hash(src)-
partitioned, so every vertex's large-star rows are already co-located and
the partition-local union-find performs the identical unions (per
partition, for each n the set {n} ∪ {its m's} forms one UF component
whether or not the small star rewired the rows first). If true, dropping
the small star removes one full hash-aggregate pass + one shuffle-hash
join probe over E rows per round, bit-identically.

Variants (full CC solve, certificate loop copied from cc.py):
  A  current round: LS -> SS -> contract -> repartition(src) -> contract
  D  LS -> contract -> repartition(src) -> contract   (no small star)
  B  LS -> repartition(src) -> single contract        (fold the exchanges)

Protocol (BENCH.md): one JVM, untimed warmup solve first, then variants
interleaved REPS times; per-round MIN across reps per variant; identical
deterministic input; label-sum fingerprint compared across variants.

Usage: python bench/cc_round_lab.py [cpus] [n_edges] [n_vertices] [reps]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from imtag_spark.operators.cc import (  # noqa: E402
    _chained_count,
    _oriented_edges,
    local_contract,
)
from imtag_spark.plans.checkpoint import free_local_checkpoint  # noqa: E402
from imtag_spark.session import get_spark  # noqa: E402


def _neighborhood_mins(o):
    """The r4-era two-aggregate neighborhood min this lab's variants were
    measured with (kept inline as the historical record; the engine's r5
    round computes the same min from the n-side aggregate alone — see
    cc._nside_mins for why the c-side aggregate can never win the least)."""
    mins_c = o.groupBy("c").agg(F.min("n").alias("mc"))
    mins_n = o.groupBy("n").agg(F.min("c").alias("mn")).withColumnRenamed("n", "c")
    return mins_c.join(mins_n, "c", "full").select(
        "c", F.least(F.col("c"), F.col("mc"), F.col("mn")).alias("m")
    )


def _large_star_oriented(work, n_part):
    o = _oriented_edges(work, n_part)
    m = _neighborhood_mins(o)
    ls = o.join(m.hint("shuffle_hash"), "c").select(
        F.col("n").alias("src"), F.col("m").alias("dst")
    )
    return ls.repartition(n_part, "src")


def round_A(work, n_part):
    oriented = _large_star_oriented(work, n_part)
    smins = oriented.groupBy("src").agg(F.min("dst").alias("m"))
    lower = (
        oriented.join(smins.hint("shuffle_hash"), "src")
        .where(F.col("dst") != F.col("m"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    )
    ss = lower.union(smins.select("src", F.col("m").alias("dst")))
    out = local_contract(ss).where(F.col("src") != F.col("dst"))
    return local_contract(out.repartition(n_part, "src")).where(
        F.col("src") != F.col("dst")
    )


def round_D(work, n_part):
    oriented = _large_star_oriented(work, n_part)
    out = local_contract(oriented).where(F.col("src") != F.col("dst"))
    return local_contract(out.repartition(n_part, "src")).where(
        F.col("src") != F.col("dst")
    )


def round_B(work, n_part):
    o = _oriented_edges(work, n_part)
    m = _neighborhood_mins(o)
    ls = o.join(m.hint("shuffle_hash"), "c").select(
        F.col("n").alias("src"), F.col("m").alias("dst")
    )
    return local_contract(ls.repartition(n_part, "src")).where(
        F.col("src") != F.col("dst")
    )


ROUNDS = {"A": round_A, "D": round_D, "B": round_B}


def solve(spark, edges, variant: str, n_part: int):
    work = edges.where(F.col("src") != F.col("dst")).localCheckpoint(eager=False)
    work.count()
    times, rows = [], []
    for _ in range(50):
        t0 = time.time()
        stepped = ROUNDS[variant](work, n_part).localCheckpoint(eager=False)
        n_edges, chained = _chained_count(stepped)
        free_local_checkpoint(work)
        times.append(time.time() - t0)
        rows.append(n_edges)
        work = stepped
        if chained == 0:
            break
    # fingerprint: per-vertex component labels as (vertex -> root) star rows
    fp = work.agg(
        F.coalesce(
            F.sum(F.xxhash64("src", "dst").cast("decimal(38,0)")), F.lit(0)
        )
    ).collect()[0][0]
    free_local_checkpoint(work)
    return times, rows, int(fp)


def main() -> None:
    cpus = int(sys.argv[1]) if len(sys.argv) > 1 else 32
    n_edges = int(sys.argv[2]) if len(sys.argv) > 2 else 64_000_000
    n_vertices = int(sys.argv[3]) if len(sys.argv) > 3 else 4_000_000
    reps = int(sys.argv[4]) if len(sys.argv) > 4 else 3
    spark = get_spark(
        app_name="cc_round_lab",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
    )
    n_part = cpus
    ids = spark.range(n_edges)
    edges = (
        ids.select(
            F.pmod(F.xxhash64(F.col("id")), F.lit(n_vertices)).alias("src"),
            F.pmod(F.xxhash64(F.col("id") + n_edges), F.lit(n_vertices)).alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
        .localCheckpoint(eager=True)
    )
    m = edges.count()
    print(f"# edges={m}", flush=True)

    # untimed warmup solve (JIT/Arrow spin-up; see scaling_worker.py)
    solve(spark, edges, "A", n_part)

    results: dict[str, list] = {k: [] for k in ROUNDS}
    fps: dict[str, int] = {}
    for rep in range(reps):
        for variant in ROUNDS:
            times, rows, fp = solve(spark, edges, variant, n_part)
            results[variant].append([round(t, 2) for t in times])
            prev = fps.setdefault(variant, fp)
            assert prev == fp, f"{variant}: nondeterministic output"
            print(
                json.dumps(
                    {
                        "rep": rep,
                        "variant": variant,
                        "round_times": [round(t, 2) for t in times],
                        "round_rows": rows,
                        "fingerprint": fp,
                    }
                ),
                flush=True,
            )
    assert len(set(fps.values())) == 1, f"variants disagree: {fps}"
    for variant, reps_times in results.items():
        n_rounds = min(len(r) for r in reps_times)
        mins = [min(r[i] for r in reps_times) for i in range(n_rounds)]
        print(
            json.dumps(
                {
                    "variant": variant,
                    "per_round_min": [round(t, 2) for t in mins],
                    "total_min": round(sum(mins), 2),
                    "eps_cc": round(m / (sum(mins) / len(mins)), 1),
                }
            ),
            flush=True,
        )


if __name__ == "__main__":
    main()
