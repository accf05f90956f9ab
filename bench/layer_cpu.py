"""Per-layer CPU of a perfbench workload, split into Python driver, JVM and Python workers.

    python3 bench/layer_cpu.py --workload corpus_job --seed 3001 --jobs 4

Runs ``--jobs`` back-to-back jobs of a perfbench workload in one session,
set up as ``perfbench/run.py`` sets up its own (``local[nproc]``, at most
8 cores, 2 GB driver heap, every file under ``.perfbench_work/``), and
checks each job against the workload's oracles. Job 1 is cold: it is the
session's first call of the graph functions. Later jobs are warm.

Each layer span of a job (``perfbench.trace.Spans``, subclassed here)
also reads /proc when it opens and closes, and keeps the layer's self CPU
seconds (children excluded, as for wall time) in three parts:

- ``driver``: this Python process (plan building, collects, NumPy kernels);
- ``jvm``: the JVM's own threads (Catalyst, scheduling, tasks, GC);
- ``workers``: every process below the JVM (the Python workers of Arrow
  UDFs), exited ones included through their parents' cutime/cstime.

The event-log fold's ``task_s`` and ``cpu_s`` count time inside tasks
only; the JVM's planning and scheduling time outside tasks shows up here.
``(other)`` is job time outside every span. Prints one table per job,
then one JSON line with every value.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from contextlib import contextmanager
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
# appended, not prepended: a caller that put another checkout's imtag_spark
# on sys.path first keeps it
if str(ROOT) not in sys.path:
    sys.path.append(str(ROOT))

from perfbench.run import DRIVER_MEMORY, MAX_CORES, stop  # noqa: E402
from perfbench.trace import Spans  # noqa: E402

PARTS = ("driver", "jvm", "workers")


def _proc_table() -> dict[int, tuple[int, int, int]]:
    """pid → (ppid, own CPU ticks, reaped children's CPU ticks)."""
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="ascii") as fh:
                raw = fh.read()
        except OSError:  # exited while we listed
            continue
        f = raw[raw.rindex(")") + 2:].split()  # fields from "state" on
        out[int(entry)] = (int(f[1]), int(f[11]) + int(f[12]), int(f[13]) + int(f[14]))
    return out


def cpu_split(driver_pid: int, jvm_pid: int) -> tuple[float, float, float]:
    """CPU seconds used so far by the driver, the JVM and the JVM's descendants."""
    procs = _proc_table()
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    workers = procs.get(jvm_pid, (0, 0, 0))[2]
    todo = list(children.get(jvm_pid, []))
    while todo:
        pid = todo.pop()
        workers += procs[pid][1] + procs[pid][2]
        todo.extend(children.get(pid, []))
    hz = os.sysconf("SC_CLK_TCK")
    return (procs[driver_pid][1] / hz, procs.get(jvm_pid, (0, 0, 0))[1] / hz, workers / hz)


class CpuSpans(Spans):
    """``Spans`` that also keep each layer's self CPU, split by ``probe``."""

    def __init__(self, probe) -> None:
        super().__init__()
        self._probe = probe
        self._cpu_stack: list[list] = []  # [start split, children's split]
        self.self_cpu: dict[str, list[float]] = {}

    @contextmanager
    def layer(self, name: str):
        frame = [self._probe(), [0.0] * len(PARTS)]
        self._cpu_stack.append(frame)
        try:
            with super().layer(name):
                yield
        finally:
            self._cpu_stack.pop()
            total = [b - a for a, b in zip(frame[0], self._probe())]
            mine = self.self_cpu.setdefault(name, [0.0] * len(PARTS))
            for i, (t, c) in enumerate(zip(total, frame[1])):
                mine[i] += t - c
            if self._cpu_stack:
                outer = self._cpu_stack[-1][1]
                for i, t in enumerate(total):
                    outer[i] += t


def _table(job: int, wall: float, rows: dict[str, dict]) -> str:
    lines = [f"job {job} ({'cold' if job == 1 else 'warm'}), wall {wall:.2f} s",
             f"  {'layer':<12}{'wall_s':>8}" + "".join(f"{p:>9}" for p in PARTS) + f"{'cpu_s':>9}"]
    for name, r in rows.items():
        wall_s = "" if r["wall_s"] is None else f"{r['wall_s']:.2f}"
        lines.append(f"  {name:<12}{wall_s:>8}" + "".join(f"{r[p]:>9.2f}" for p in PARTS)
                     + f"{sum(r[p] for p in PARTS):>9.2f}")
    return "\n".join(lines)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--jobs", type=int, default=3)
    args = ap.parse_args()

    cores = min(len(os.sched_getaffinity(0)), MAX_CORES)
    work = ROOT / ".perfbench_work" / f"layer_cpu-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "spark-local", "warehouse"):
        (work / sub).mkdir(parents=True)
    # before pyspark starts the JVM: workers inherit this environment
    os.environ.update(
        PYTHONPATH=os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")])),
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEMORY,
        SPARK_GRAFT_LOCAL_DIR=str(work / "spark-local"),
        TMPDIR=str(work / "tmp"),
    )
    from pyspark import SparkContext

    from imtag_spark.session import get_spark
    from perfbench.workloads import WORKLOADS

    spark = get_spark(app_name="layer_cpu", extra_conf={
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'}",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
    })
    jvm = SparkContext._gateway.proc
    driver_pid = os.getpid()

    def probe():
        return cpu_split(driver_pid, jvm.pid)

    report = []
    try:
        wl = WORKLOADS[args.workload](spark, args.seed, work)
        wl.build()
        wl.expect()
        for job in range(1, args.jobs + 1):
            spans = CpuSpans(probe)
            c0, t0 = probe(), time.perf_counter()
            out, _ = wl.job(spans, False)
            wall = time.perf_counter() - t0
            total = [b - a for a, b in zip(c0, probe())]
            wl.check(out)  # raises on a wrong result
            rows = {name: {"wall_s": spans.self_s[name], **dict(zip(PARTS, cpu))}
                    for name, cpu in spans.self_cpu.items()}
            inside = [sum(r[p] for r in rows.values()) for p in PARTS]
            rows["(other)"] = {"wall_s": wall - sum(spans.self_s.values()),
                               **{p: t - i for p, t, i in zip(PARTS, total, inside)}}
            rows["job"] = {"wall_s": wall, **dict(zip(PARTS, total))}
            print(_table(job, wall, rows), flush=True)
            report.append({"job": job, "layers": rows})
    finally:
        stop(spark, jvm)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"workload": args.workload, "seed": args.seed, "cores": cores,
                      "jobs": report}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
