"""A/B lab for the round-5 CC superstep changes (BENCH.md round-5).

Two candidate changes to the oriented star round, measured
separately and stacked, against the frozen r4 structure:

  D  r4 round: two-aggregate neighborhood min (c-side + n-side) merged by
     a V-row full-outer join, inner large-star join, int64 Arrow transits
  F  n-side min only: in the oriented edge set every c-side neighbor of u
     is < u and every n-side neighbor > u, so min(Γ(u) ∪ {u}) =
     least(u, mn(u)) — the c-side E-row aggregate and the V-row merge
     join are dead weight; the large-star join becomes LEFT + least
  N  F plus the narrow transit: edge columns cast INT32 at the
     mapInArrow boundary (ids here < 4M; the engine gates this on the
     id range measured by the init job), halving the bytes through the
     round's one non-JVM, memory-bound stage

Protocol (BENCH.md): one JVM, untimed warmup solve first, then variants
interleaved REPS times; per-round MIN across reps per variant; identical
deterministic input; label-sum fingerprint compared across variants.

Usage: python bench/cc_round_lab5.py [cpus] [n_edges] [n_vertices] [reps]
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
    _nside_mins,
    _oriented_edges,
    local_contract,
)
from imtag_spark.plans.checkpoint import free_local_checkpoint  # noqa: E402
from imtag_spark.session import get_spark  # noqa: E402


def _r4_neighborhood_mins(o):
    mins_c = o.groupBy("c").agg(F.min("n").alias("mc"))
    mins_n = o.groupBy("n").agg(F.min("c").alias("mn")).withColumnRenamed("n", "c")
    return mins_c.join(mins_n, "c", "full").select(
        "c", F.least(F.col("c"), F.col("mc"), F.col("mn")).alias("m")
    )


def _contract_tail(ls, n_part, narrow):
    out = local_contract(ls.repartition(n_part, "src"), narrow=narrow).where(
        F.col("src") != F.col("dst")
    )
    return local_contract(out.repartition(n_part, "src"), narrow=narrow).where(
        F.col("src") != F.col("dst")
    )


def round_D(work, n_part):
    o = _oriented_edges(work, n_part)
    m = _r4_neighborhood_mins(o)
    ls = o.join(m.hint("shuffle_hash"), "c").select(
        F.col("n").alias("src"), F.col("m").alias("dst")
    )
    return _contract_tail(ls, n_part, narrow=False)


def _r5_large_star(work, n_part):
    o = _oriented_edges(work, n_part)
    mn = _nside_mins(o)
    return o.join(mn.hint("shuffle_hash"), "c", "left").select(
        F.col("n").alias("src"), F.least("c", "mn").alias("dst")
    )


def round_F(work, n_part):
    return _contract_tail(_r5_large_star(work, n_part), n_part, narrow=False)


def round_N(work, n_part):
    return _contract_tail(_r5_large_star(work, n_part), n_part, narrow=True)


ROUNDS = {"D": round_D, "F": round_F, "N": round_N}


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
        app_name="cc_round_lab5",
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

    solve(spark, edges, "D", n_part)  # untimed warmup (JIT/Arrow spin-up)

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
                    "eps_cc_conv": round(m / sum(mins), 1),
                }
            ),
            flush=True,
        )


if __name__ == "__main__":
    main()
