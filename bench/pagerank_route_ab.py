"""One-JVM interleaved A/B of PageRank's two historical Spark routes.

    git archive cd3568d | tar -x -C /tmp/pr-two-routes
    python3 bench/pagerank_route_ab.py --engine /tmp/pr-two-routes --pairs 10

Up to commit cd3568d, ``pagerank`` had two Spark loops over the same
transition table. The default local session ran the packed rank
broadcast: transitions were cached hash(dst)-partitioned, and each
superstep broadcast the ranks, packed 16 per map row. More than 20M
vertices or 16 executors ran the equi-join: transitions were cached
hash(src)-partitioned and sorted, and each superstep exchanged the V-row
ranks to meet them. This script measures the two in one JVM and is what
settled the choice (BENCH.md, "PageRank: one Spark route"). The engine
now has the equi-join only, so ``--engine`` must name a checkout that
still has both. The script imports ``imtag_spark`` from there and reads
the route that ran from ``metrics_out["mode"]``. It selects the join arm
by setting ``spark.executor.instances`` on the live SparkConf above the
old gate's 16-executor limit. Local mode ignores that setting, so it
changes nothing but the route.

Graph: ``src = id``, ``dst = pmod(xxhash64(id), E/4)`` over
``spark.range(E)``, so V = E. Sizes are 2M and 8M edges, both inside the
old vertex gate (20M). Session: ``local[4]``, 8 shuffle partitions, 4 GB
driver heap, files under ``.perfbench_work/``. Each arm runs
``pagerank(tol=0, max_iter=3)``, once untimed per size and then once per
pair. Pairs alternate which arm runs first. A run records its wall
seconds, the CPU seconds of this process, of the JVM and of its workers
(``bench/layer_cpu.py``), and its superstep times.
After each pair one job full-outer-joins the two outputs on ``vertex``.
The check counts vertices missing from either side and takes the largest
``|a - b| / |b|``; both must be 0 and at most 1e-12. Prints one line per
run and per pair, then one JSON line with every value and a per-size
summary: medians, the join arm's Q1–Q3 and the pairs each arm won.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SIZES = (2_000_000, 8_000_000)
JOIN_EXECUTORS = "17"  # one above the old gate's executor limit
TOL = 1e-12


def _free(df) -> None:
    """Release the local checkpoint under a projection of it."""
    p = df._jdf.queryExecution().analyzed()
    while p.nodeName() == "Project":
        p = p.children().apply(0)
    if p.nodeName() == "LogicalRDD":
        p.rdd().unpersist(False)


def _quartiles(xs):
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--engine", type=Path, required=True,
                    help="checkout whose imtag_spark has both Spark routes")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--sizes", type=int, nargs="+", default=list(SIZES))
    args = ap.parse_args()
    engine = args.engine.resolve()
    sys.path.insert(0, str(ROOT / "bench"))
    from layer_cpu import cpu_split

    from perfbench.run import stop

    sys.path.insert(0, str(engine))  # ahead of ROOT's imtag_spark

    work = ROOT / ".perfbench_work" / f"pagerank_route_ab-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "spark-local", "warehouse"):
        (work / sub).mkdir(parents=True)
    os.environ.update(
        PYTHONPATH=os.pathsep.join(filter(None, [str(engine), os.environ.get("PYTHONPATH")])),
        SPARK_GRAFT_CPUS="4",
        SPARK_GRAFT_DRIVER_MEM="4g",
        SPARK_GRAFT_LOCAL_DIR=str(work / "spark-local"),
        TMPDIR=str(work / "tmp"),
    )
    from pyspark import SparkContext
    from pyspark.sql import functions as F

    import imtag_spark
    from imtag_spark.operators.pagerank import pagerank
    from imtag_spark.session import get_spark

    if not Path(imtag_spark.__file__).resolve().is_relative_to(engine):
        raise SystemExit(f"imtag_spark came from {imtag_spark.__file__}, not {engine}")

    spark = get_spark(app_name="pagerank_route_ab", shuffle_partitions=8, extra_conf={
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'}",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
    })
    jvm = SparkContext._gateway.proc
    jconf = spark.sparkContext._conf._jconf

    def run(edges, arm):
        if arm == "join":
            jconf.set("spark.executor.instances", JOIN_EXECUTORS)
        else:
            jconf.remove("spark.executor.instances")
        metrics = {}
        c0, t0 = cpu_split(os.getpid(), jvm.pid), time.perf_counter()
        ranks = pagerank(edges, tol=0.0, max_iter=3, metrics_out=metrics)
        wall = time.perf_counter() - t0
        cpu = [b - a for a, b in zip(c0, cpu_split(os.getpid(), jvm.pid))]
        rec = {"arm": arm, "mode": metrics.get("mode"), "wall_s": wall,
               "cpu_s": sum(cpu), "driver_cpu_s": cpu[0], "jvm_cpu_s": cpu[1],
               "superstep_s": metrics.get("superstep_times")}
        return ranks, rec

    arms = ("default", "join")
    pairs = []
    try:
        for n in args.sizes:
            edges = spark.range(n).select(
                F.col("id").alias("src"),
                F.pmod(F.xxhash64("id"), F.lit(n // 4)).alias("dst"),
            )
            for arm in arms:  # untimed: JIT and the first cache at this size
                _free(run(edges, arm)[0])
            for i in range(args.pairs):
                order = arms if i % 2 == 0 else arms[::-1]
                out, recs = {}, {}
                for arm in order:
                    out[arm], recs[arm] = run(edges, arm)
                    print(json.dumps({"edges": n, "pair": i, **recs[arm]}), flush=True)
                if recs["default"]["mode"] == recs["join"]["mode"]:
                    raise SystemExit(
                        f"both arms ran {recs['join']['mode']!r}: {engine} has one Spark route"
                    )
                a = out["default"].withColumnRenamed("rank", "a")
                b = out["join"].withColumnRenamed("rank", "b")
                missing, worst, vertices, sum_a, sum_b = a.join(b, "vertex", "full").agg(
                    F.sum((F.col("a").isNull() | F.col("b").isNull()).cast("long")),
                    F.max(F.abs(F.col("a") - F.col("b")) / F.abs(F.col("b"))),
                    F.count(F.lit(1)), F.sum("a"), F.sum("b"),
                ).first()
                for df in out.values():
                    _free(df)
                pair = {"edges": n, "pair": i, "first": order[0],
                        "vertices": vertices, "missing": missing, "max_rel_diff": worst,
                        "rank_sum": [sum_a, sum_b],
                        "agree": missing == 0 and worst is not None and worst <= TOL,
                        **{arm: recs[arm] for arm in arms}}
                print(json.dumps({k: v for k, v in pair.items() if k not in arms}), flush=True)
                pairs.append(pair)
    finally:
        jconf.remove("spark.executor.instances")
        stop(spark, jvm)
        shutil.rmtree(work, ignore_errors=True)
    summary = {}
    for n in args.sizes:
        mine = [p for p in pairs if p["edges"] == n]
        if not mine:
            continue
        row = {"pairs": len(mine), "agree": sum(p["agree"] for p in mine),
               "modes": {arm: mine[0][arm]["mode"] for arm in arms}}
        for metric in ("wall_s", "cpu_s"):
            vals = {arm: [p[arm][metric] for p in mine] for arm in arms}
            q1, q3 = _quartiles(vals["join"]) if len(mine) > 1 else (None, None)
            row[metric] = {
                "median": {arm: statistics.median(v) for arm, v in vals.items()},
                "join_q1_q3": [q1, q3],
                "default_lower_pairs": sum(
                    p["default"][metric] < p["join"][metric] for p in mine
                ),
            }
        summary[str(n)] = row
    print(json.dumps({"summary": summary, "pairs": pairs}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
