"""One-JVM interleaved A/B of the two ways driver arrays become a DataFrame.

    python3 bench/handoff_ab.py --reps 6

Arms, each followed by ``localCheckpoint(eager=True)`` as the grid and
graph callers do:

- ``create``: ``spark.createDataFrame(pa.table(...))``, one JVM row per
  record in a ``LocalRelation`` that the checkpoint's tasks get through
  ``parallelize``;
- ``helper``: ``driver.frame_from_arrays``. Below Spark's Arrow
  local-relation threshold (48 MB) that is at most
  ``defaultParallelism`` ``list<struct>`` rows expanded by ``inline``
  inside Catalyst; above it, the flat ``createDataFrame``, which then
  ships Arrow batches to the tasks itself. At 4M rows (96 MB) both arms
  run the same code, and the A/B shows that the hand-off completes.

Sizes: 251,652 rows (the 1024² ``grid_ccl`` run table) and 4,000,000
rows (``driver.SMALL_GRAPH_EDGE_LIMIT``), three BIGINT columns like
``label_runs``' dense labels. The session is set up as
``perfbench/run.py`` sets up its own (``local[nproc]``, at most 8 cores,
2 GB driver heap, files under ``.perfbench_work/``). Reps alternate which
arm runs first. A rep records wall seconds and the CPU seconds of this
Python process and of the JVM (``bench/layer_cpu.py``'s /proc split); a
rep that raises (a task-size failure, a driver OOM) is recorded with its
error, and every checkpoint is counted outside the timed region and must
hold all rows. Prints one line per rep, then one JSON line with every
value and the JVM's peak RSS.
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
sys.path[:0] = [str(ROOT), str(ROOT / "bench")]

from layer_cpu import cpu_split  # noqa: E402
from perfbench.run import DRIVER_MEMORY, MAX_CORES, stop  # noqa: E402

SIZES = (251_652, 4_000_000)


def _columns(n: int):
    import numpy as np

    vertex = np.arange(n, dtype=np.int64) * 3 + 2**40
    component = vertex - (vertex % 7)
    return {"component": component, "vertex": vertex, "dense_label": vertex // 7 + 1}


def _jvm_peak_rss_mb(pid: int) -> float | None:
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return None


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--reps", type=int, default=6)
    args = ap.parse_args()

    cores = min(len(os.sched_getaffinity(0)), MAX_CORES)
    work = ROOT / ".perfbench_work" / f"handoff_ab-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "spark-local", "warehouse"):
        (work / sub).mkdir(parents=True)
    os.environ.update(
        PYTHONPATH=os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")])),
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEMORY,
        SPARK_GRAFT_LOCAL_DIR=str(work / "spark-local"),
        TMPDIR=str(work / "tmp"),
    )
    import pyarrow as pa
    from pyspark import SparkContext

    from imtag_spark.operators.driver import frame_from_arrays
    from imtag_spark.plans.checkpoint import free_local_checkpoint
    from imtag_spark.session import get_spark

    spark = get_spark(app_name="handoff_ab", extra_conf={
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'}",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
    })
    jvm = SparkContext._gateway.proc
    arms = {
        "create": lambda cols: spark.createDataFrame(pa.table(cols)),
        "helper": lambda cols: frame_from_arrays(spark, cols),
    }
    reps = []
    try:
        for n in SIZES:
            cols = _columns(n)
            for rep in range(args.reps):
                order = list(arms) if rep % 2 == 0 else list(arms)[::-1]
                for arm in order:
                    c0, t0 = cpu_split(os.getpid(), jvm.pid), time.perf_counter()
                    rec = {"rows": n, "rep": rep, "arm": arm, "first": order[0]}
                    try:
                        ck = arms[arm](cols).localCheckpoint(eager=True)
                    except Exception as exc:  # a failed hand-off is a result
                        rec["error"] = f"{type(exc).__name__}: {str(exc)[:200]}"
                        ck = None
                    wall = time.perf_counter() - t0
                    cpu = [b - a for a, b in zip(c0, cpu_split(os.getpid(), jvm.pid))]
                    rec.update(wall_s=wall, driver_cpu_s=cpu[0], jvm_cpu_s=cpu[1],
                               cpu_s=cpu[0] + cpu[1] + cpu[2])
                    if ck is not None:
                        rec["rows_ok"] = ck.count() == n
                        free_local_checkpoint(ck)
                    print(json.dumps(rec), flush=True)
                    reps.append(rec)
        peak = _jvm_peak_rss_mb(jvm.pid)
    finally:
        stop(spark, jvm)
        shutil.rmtree(work, ignore_errors=True)
    summary = {}
    for n in SIZES:
        for arm in arms:
            mine = [r for r in reps if r["rows"] == n and r["arm"] == arm]
            ok = [r for r in mine if "error" not in r and r["rows_ok"]]
            summary[f"{arm}@{n}"] = {
                "ok": len(ok), "reps": len(mine),
                "cpu_s_median": statistics.median(r["cpu_s"] for r in ok) if ok else None,
                "wall_s_median": statistics.median(r["wall_s"] for r in ok) if ok else None,
            }
    print(json.dumps({"cores": cores, "driver_memory": DRIVER_MEMORY,
                      "jvm_peak_rss_mb": peak, "summary": summary, "reps": reps}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
