"""A/B lab for the CC distributed superstep structure.

Each variant is one full CC solve over the same deterministic random
graph, rounds driven by the engine's convergence certificate
(``cc._chained_count``) until the output is a terminal star forest.

Variants:
  A  r4 round with the small star: two-aggregate large star ->
     small-star aggregate + join -> contract -> repartition(src) -> contract
  D  r4 round: two-aggregate neighborhood min (c-side + n-side) merged by a
     V-row full-outer join, inner large-star join, then
     repartition(src) -> contract -> repartition(src) -> contract
  B  D's large star -> repartition(src) -> a single contract
  F  the engine's round, ``cc._star_round``: n-side min only (in the
     oriented edge set every c-side neighbor of u is < u and every n-side
     neighbor > u, so min(Γ(u) ∪ {u}) = least(u, mn(u))), LEFT large-star
     join, then D's two contractions

Protocol (BENCH.md): one JVM, untimed warmup solve of the first variant,
then the chosen variants interleaved REPS times; per-round MIN across reps
per variant; identical deterministic input; label-sum fingerprint compared
across variants.

Usage: python bench/cc_round_lab.py [cpus] [n_edges] [n_vertices] [reps] [variants]
  variants: comma-separated names, default D,F (e.g. ``A,D,B,F``)
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
    _star_round,
    local_contract,
)
from imtag_spark.plans.checkpoint import free_local_checkpoint  # noqa: E402
from imtag_spark.session import get_spark  # noqa: E402


def _r4_large_star(work, n_part):
    """The r4 two-aggregate large star (kept inline as the historical
    record; ``cc._nside_mins`` explains why the c-side aggregate never wins
    the least)."""
    o = _oriented_edges(work, n_part)
    mins_c = o.groupBy("c").agg(F.min("n").alias("mc"))
    mins_n = o.groupBy("n").agg(F.min("c").alias("mn")).withColumnRenamed("n", "c")
    m = mins_c.join(mins_n, "c", "full").select(
        "c", F.least(F.col("c"), F.col("mc"), F.col("mn")).alias("m")
    )
    ls = o.join(m.hint("shuffle_hash"), "c").select(
        F.col("n").alias("src"), F.col("m").alias("dst")
    )
    return ls.repartition(n_part, "src")


def _pointers(df):
    return df.where(F.col("src") != F.col("dst"))


def round_A(work, n_part):
    ls = _r4_large_star(work, n_part)
    smins = ls.groupBy("src").agg(F.min("dst").alias("m"))
    lower = (
        ls.join(smins.hint("shuffle_hash"), "src")
        .where(F.col("dst") != F.col("m"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    )
    ss = lower.union(smins.select("src", F.col("m").alias("dst")))
    out = _pointers(local_contract(ss))
    return _pointers(local_contract(out.repartition(n_part, "src")))


def round_D(work, n_part):
    out = _pointers(local_contract(_r4_large_star(work, n_part)))
    return _pointers(local_contract(out.repartition(n_part, "src")))


def round_B(work, n_part):
    return _pointers(local_contract(_r4_large_star(work, n_part)))


ROUNDS = {"A": round_A, "D": round_D, "B": round_B, "F": _star_round}


def solve(edges, variant: str, n_part: int):
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
    variants = (sys.argv[5] if len(sys.argv) > 5 else "D,F").split(",")
    unknown = [v for v in variants if v not in ROUNDS]
    if unknown:
        sys.exit(f"unknown variants {unknown}; choose from {sorted(ROUNDS)}")
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
    solve(edges, variants[0], n_part)

    results: dict[str, list] = {k: [] for k in variants}
    fps: dict[str, int] = {}
    for rep in range(reps):
        for variant in variants:
            times, rows, fp = solve(edges, variant, n_part)
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
