"""imtag_spark engine benchmark: one closed-loop client, one job at a time.

    python3 perfbench/run.py --workload corpus_job --seed 1 --seconds 5 --trace 0

Starts one ``local[nproc]`` session (at most 8 cores, 2 GB driver heap),
builds the workload's input from ``--seed`` three times, then runs timed
jobs back to back until ``--seconds`` of job time have passed (at least
one job; the first is cold). Each job's outputs are checked against NumPy
oracles outside the timed region.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end ones (medians over the run's jobs); with ``--trace 1`` the
session writes an uncompressed Spark event log, every public call runs
under its own job group, and the metrics are the per-layer table folded
from that log. Every run's raw values, environment stamp and per-layer
table go to ``.perfbench_work/results/`` in the checkout.

Everything the run writes (shuffle files, event log, parquet inputs,
temp files) stays under ``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"
BUILDS = 3
MAX_CORES = 8
DRIVER_MEMORY = "2g"


def engine_hash() -> str:
    """Content hash of the engine's sources (checkouts need not be git repos)."""
    h = hashlib.sha256()
    for p in sorted((ROOT / "imtag_spark").rglob("*.py")):
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:12]


def jvm_peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) * 1024 / 1e6
    raise RuntimeError(f"no VmHWM for pid {pid}")


def host_probe_s() -> float:
    """Seconds for a fixed NumPy sort: tells a slow host window from a slow engine."""
    import numpy as np

    data = np.random.default_rng(0).random(4_000_000)
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        np.sort(data)
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system) used so far by ``root`` and its descendants.

    Covers this process, the JVM it launched and the Python workers the JVM
    forks; children already reaped count through their parent's
    ``cutime``/``cstime``. Time the hypervisor gave to other guests
    (steal) is not CPU time, so this stays steady when wall time does not.
    """
    stats = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="ascii") as fh:
                raw = fh.read()
        except OSError:  # exited while we listed
            continue
        fields = raw[raw.rindex(")") + 2:].split()  # fields from "state" on
        stats[int(entry)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    ticks, todo = 0, [root]
    while todo:
        pid = todo.pop()
        ticks += stats.get(pid, (0, 0))[1]
        todo.extend(children.get(pid, []))
    return ticks / os.sysconf("SC_CLK_TCK")


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def parse_args() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def main() -> int:
    args = parse_args()
    if not (ROOT / "imtag_spark" / "__init__.py").is_file():
        print("imtag_spark package not found next to perfbench/", file=sys.stderr)
        return 2
    cores = min(len(os.sched_getaffinity(0)), MAX_CORES)
    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    run_dir = WORK / "runs" / run_id
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("tmp", "spark-local", "eventlog", "warehouse"):
        (run_dir / sub).mkdir(parents=True)
    # before pyspark starts the JVM: workers inherit this environment
    os.environ.update(
        PYTHONPATH=os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")])),
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEMORY,
        SPARK_GRAFT_LOCAL_DIR=str(run_dir / "spark-local"),
        TMPDIR=str(run_dir / "tmp"),
    )
    sys.path.insert(0, str(ROOT))
    try:
        return run(args, cores, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def run(args: argparse.Namespace, cores: int, run_dir: Path) -> int:
    from pyspark import SparkContext

    from imtag_spark.session import get_spark
    from perfbench.trace import Spans, fold_event_log, layer_table
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    conf = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={run_dir / 'tmp'}",
        "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
    }
    if args.trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": (run_dir / "eventlog").as_uri(),
        })

    probe_s = host_probe_s()
    phases = Spans()  # where the run's wall time goes, for the results file
    setup = Spans()
    c0 = tree_cpu_s(os.getpid())
    with setup.layer("session"):
        spark = get_spark(app_name="perfbench", extra_conf=conf)
    session_s = setup.last_s
    session_cpu_s = tree_cpu_s(os.getpid()) - c0
    sc = spark.sparkContext
    jvm = SparkContext._gateway.proc

    def group(name: str) -> None:
        if args.trace:
            sc.setJobGroup(name, name, False)

    try:
        group("session")
        wl = WORKLOADS[args.workload](spark, args.seed, run_dir)
        builds, build_cpu_s = [], []
        for _ in range(BUILDS):
            c0 = tree_cpu_s(os.getpid())
            with setup.layer("session"):
                wl.build()
            builds.append(setup.last_s)
            build_cpu_s.append(tree_cpu_s(os.getpid()) - c0)
        group("check")
        with phases.layer("expect"):
            wl.expect()

        jobs, failures, job_s, job_cpu_s, layer_s, operator = [], [], [], [], {}, {}
        while not job_s or sum(job_s) < args.seconds:
            spans = Spans(sc if args.trace else None)
            c0 = tree_cpu_s(os.getpid())
            t0 = time.perf_counter()
            try:
                out, op = wl.job(spans, bool(args.trace))
            except Exception:  # a raising job counts as failed; stop measuring
                traceback.print_exc()
                failures.append("raised")
                break
            job_s.append(time.perf_counter() - t0)
            job_cpu_s.append(tree_cpu_s(os.getpid()) - c0)
            group("check")
            try:
                wl.check(out)
            except Exception as exc:  # CheckFailed or a failed collect
                failures.append(f"{type(exc).__name__}: {exc}")
            jobs.append({"job_s": job_s[-1], "job_cpu_s": job_cpu_s[-1], "layers": spans.self_s,
                         "operator": op})
            for k, v in spans.self_s.items():
                layer_s[k] = layer_s.get(k, 0.0) + v
            for k, v in op.items():
                operator[k] = operator.get(k, 0.0) + v
        if not jobs:
            return 1
        rss_mb = jvm_peak_rss_mb(jvm.pid)
        env = {
            "engine_hash": engine_hash(),
            "spark": spark.version,
            "java": sc._jvm.System.getProperty("java.version"),
            "master": sc.master,
            "cores": cores,
            "driver_memory": DRIVER_MEMORY,
            "local_dir": sc.getConf().get("spark.local.dir"),
        }
    finally:
        with phases.layer("stop"):
            stop(spark, jvm)

    n = len(jobs)
    operator = {k: v / n for k, v in operator.items()}  # mean per job
    operator["session.jvm_peak_rss_mb"] = rss_mb
    if args.trace:
        setup_wall = session_s + sum(builds)
        metrics = layer_table(
            fold_event_log(run_dir / "eventlog"),
            {**layer_s, "session": setup_wall},
            operator,
            cores=cores,
            jobs=n,
            job_wall_s=statistics.mean(job_s),
            job_cpu_s=statistics.mean(job_cpu_s),
        )
    else:
        metrics = {
            "setup_s": session_cpu_s + statistics.median(build_cpu_s),
            "job_cpu_s": statistics.median(job_cpu_s),
        }

    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "env": env, "session_s": session_s, "build_s": builds,
        "session_cpu_s": session_cpu_s, "build_cpu_s": build_cpu_s,
        "jobs": jobs, "failures": failures, "phases_s": phases.self_s,
        "host_probe_s": probe_s, "jvm_peak_rss_mb": rss_mb,
        "summary": {
            "n": n,
            **{name: {"median": statistics.median(v), "p90": percentile(v, 0.9)}
               for name, v in (("job_s", job_s), ("job_cpu_s", job_cpu_s))},
        },
        "metrics": metrics,
    }
    results = WORK / "results"
    results.mkdir(parents=True, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}.json"
    (results / name).write_text(json.dumps(record, indent=1))
    print(
        f"[perfbench] {args.workload} seed={args.seed} trace={args.trace} n={n} "
        f"failed={len(failures)} engine={env['engine_hash']} spark={env['spark']} "
        f"java={env['java']} local_dir={env['local_dir']} host_probe_s={probe_s:.3f}",
        file=sys.stderr,
    )
    print(json.dumps({
        "correct": not failures,
        "attempted": n + failures.count("raised"),
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": _unit(k)} for k, v in metrics.items()},
    }))
    return 0


def _unit(name: str) -> str:
    """Unit from a metric name's suffix."""
    for suffix, unit in (("_s", "s"), ("mb", "MB"), (".eps", "edges/s"), ("_per_sent", "ratio"),
                         ("coverage", "ratio")):
        if name.endswith(suffix):
            return unit
    return "count"


def stop(spark, jvm) -> None:
    """Stop Spark and wait for the JVM (and the Python workers it owns) to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    jvm.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        jvm.wait(timeout=60)
    except Exception:
        jvm.kill()
        jvm.wait()


if __name__ == "__main__":
    sys.exit(main())
