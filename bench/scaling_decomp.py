"""Stage-level decomposition of one scaling-experiment parallelism level.

The r4 4->16 samples sit at ~0.43-0.66 efficiency while the r3 engine
measured 0.89 (CC) — the engine got ~2x faster at the LOW level and barely
moved at the high one, i.e. some component stopped scaling with cores.
This tool runs the identical deterministic job of bench/scaling_worker.py
at ONE parallelism level with the Spark UI enabled, then scrapes the REST
API for per-stage metrics and prints a machine-comparable JSON breakdown:

  - per stage: wall (submission->completion), numTasks, sum of task run
    time, sum of task CPU time, GC time, shuffle read/write bytes, input
    bytes. Comparing levels tells contention (task-time inflates with
    cores) apart from wave quantization / stragglers (task-time constant,
    wall doesn't shrink) apart from serial driver work (gaps).
  - per job: wall and the GAP to the previous job's completion — driver
    planning/codegen/broadcast-build time is invisible to stages but
    shows up as inter-job gaps.

Usage: python bench/scaling_decomp.py <cpus> [n_edges] [n_vertices]
           [uniform|skew] [n_part] [cc|pr|both]
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from imtag_spark.operators.cc import connected_components  # noqa: E402
from imtag_spark.operators.pagerank import pagerank  # noqa: E402
from imtag_spark.session import get_spark  # noqa: E402
from scaling_worker import synthetic_edges  # noqa: E402


def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.load(r)


def _ms(iso: str | None) -> float | None:
    if not iso:
        return None
    # Spark REST timestamps: 2026-08-18T07:00:00.123GMT
    from datetime import datetime, timezone

    return (
        datetime.strptime(iso.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z")
        .astimezone(timezone.utc)
        .timestamp()
    )


def snapshot(api: str, app_id: str) -> tuple[list[dict], list[dict]]:
    stages = _get(f"{api}/applications/{app_id}/stages?status=complete")
    jobs = _get(f"{api}/applications/{app_id}/jobs?status=succeeded")
    return stages, jobs


def summarize(stages: list[dict], jobs: list[dict], t0: float, t1: float) -> dict:
    rows = []
    for s in stages:
        sub, comp = _ms(s.get("submissionTime")), _ms(s.get("completionTime"))
        if sub is None or comp is None or comp < t0 or sub > t1:
            continue
        rows.append(
            {
                "stage": s["stageId"],
                "wall_s": round(comp - sub, 2),
                "tasks": s["numTasks"],
                "task_run_s": round(s["executorRunTime"] / 1e3, 2),
                "task_cpu_s": round(s.get("executorCpuTime", 0) / 1e9, 2),
                "gc_s": round(s.get("jvmGcTime", 0) / 1e3, 2),
                "in_mb": round(s.get("inputBytes", 0) / 1e6, 1),
                "sh_r_mb": round(s.get("shuffleReadBytes", 0) / 1e6, 1),
                "sh_w_mb": round(s.get("shuffleWriteBytes", 0) / 1e6, 1),
                "sub": round(sub - t0, 2),
                "name": s.get("name", "")[:60],
            }
        )
    rows.sort(key=lambda r: r["sub"])
    jrows = []
    prev_end = t0
    for j in sorted(jobs, key=lambda j: _ms(j.get("submissionTime")) or 0):
        sub, comp = _ms(j.get("submissionTime")), _ms(j.get("completionTime"))
        if sub is None or comp is None or comp < t0 or sub > t1:
            continue
        jrows.append(
            {
                "job": j["jobId"],
                "wall_s": round(comp - sub, 2),
                "gap_s": round(max(0.0, sub - prev_end), 2),
                "stages": j.get("stageIds", []),
            }
        )
        prev_end = comp
    return {
        "window_s": round(t1 - t0, 2),
        "stage_wall_sum_s": round(sum(r["wall_s"] for r in rows), 2),
        "job_gap_sum_s": round(sum(r["gap_s"] for r in jrows), 2),
        "stages": rows,
        "jobs": jrows,
    }


def main() -> None:
    cpus = int(sys.argv[1])
    n_edges = int(sys.argv[2]) if len(sys.argv) > 2 else 64_000_000
    n_vertices = int(sys.argv[3]) if len(sys.argv) > 3 else 4_000_000
    skew = len(sys.argv) > 4 and sys.argv[4] == "skew"
    n_part = int(sys.argv[5]) if len(sys.argv) > 5 else 32
    which = sys.argv[6] if len(sys.argv) > 6 else "both"

    spark = get_spark(
        app_name=f"decomp_{cpus}",
        master=f"local[{cpus}]",
        shuffle_partitions=n_part,
        extra_conf={
            "spark.ui.enabled": "true",
            "spark.ui.port": "4099",
            # mirror scaling_worker's protocol: the JVM sizes GC/JIT/pool
            # threads as a real <cpus>-core executor host would
            "spark.driver.extraJavaOptions": f"-XX:ActiveProcessorCount={cpus}",
        },
    )
    api = spark.sparkContext.uiWebUrl + "/api/v1"
    app_id = spark.sparkContext.applicationId

    from imtag_spark.plans.checkpoint import frontier_checkpoint

    edges = frontier_checkpoint(synthetic_edges(spark, n_edges, n_vertices, skew))
    m = edges.count()
    out: dict = {"cpus": cpus, "n_edges": m, "n_part": n_part}

    if which in ("cc", "both"):
        connected_components(edges).count()  # untimed warmup (JIT, workers)
        t0 = time.time()
        cc_m: dict = {}
        connected_components(edges, metrics_out=cc_m, verbose=True).count()
        t1 = time.time()
        stages, jobs = snapshot(api, app_id)
        out["cc"] = {
            "superstep_times": [round(t, 2) for t in cc_m["superstep_times"]],
            **summarize(stages, jobs, t0, t1),
        }

    if which in ("pr", "both"):
        pagerank(edges, directed=True, tol=0.0, max_iter=3).count()  # warmup
        t0 = time.time()
        pr_m: dict = {}
        pagerank(edges, directed=True, tol=0.0, max_iter=5, metrics_out=pr_m).count()
        t1 = time.time()
        stages, jobs = snapshot(api, app_id)
        out["pr"] = {
            "mode": pr_m.get("mode"),
            "superstep_times": [round(t, 2) for t in pr_m["superstep_times"]],
            **summarize(stages, jobs, t0, t1),
        }

    print(json.dumps(out))


if __name__ == "__main__":
    main()
