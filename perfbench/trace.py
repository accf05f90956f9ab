"""Per-layer attribution: benchmark-side spans plus a Spark event-log fold.

A span wraps one public engine call. It times the call on the benchmark's
clock and, in a traced run, sets a Spark job group named after the layer,
so every job, stage and task the call starts carries the layer name into
Spark's own event log. ``fold_event_log`` sums task metrics per job group
offline; ``layer_table`` joins both into ``<layer>.<quantity>`` metrics.
"""

from __future__ import annotations

import json
import re
import time
from contextlib import contextmanager
from pathlib import Path

#: engine layers, named after the package modules
LAYERS = (
    "session", "corpus", "rle", "interval_join", "cc", "relabel",
    "pagerank", "lpa", "triangles", "checkpoint",
)
#: layers that get the whole event-log quantity set
FULL_LAYERS = ("cc", "pagerank")
#: layers whose work runs in Python workers behind an Arrow transit
ARROW_LAYERS = ("cc", "rle")

BASIC_QUANTITIES = ("wall_s", "task_s", "idle_core_s", "gc_s", "shuffle_write_mb", "jobs")
FULL_QUANTITIES = (
    "wall_s", "task_s", "cpu_s", "gc_s", "idle_core_s", "fetch_wait_s",
    "shuffle_write_mb", "shuffle_read_mb", "spill_mb",
    "jobs", "stages", "tasks", "failed_tasks",
)
ARROW_QUANTITIES = ("py_run_s", "py_sent_mb", "py_recv_mb", "py_recv_per_sent")
#: quantities taken from the operators' own ``metrics_out``, the timed
#: checkpointer and the JVM's /proc status rather than from the event log
OPERATOR_QUANTITIES = {
    "session": ("jvm_peak_rss_mb",),
    "cc": ("supersteps", "round1_s", "rounds_s"),
    "pagerank": ("supersteps", "superstep_s", "setup_s", "eps"),
    "checkpoint": ("saves", "mb"),
}
#: whole-job quantities of the traced run
JOB_QUANTITIES = ("job.wall_s", "job.cpu_s", "job.layer_coverage")

_MB = 1e6
_PY_ACCUMULATORS = {
    "data sent to Python workers": "py_sent_bytes",
    "data returned from Python workers": "py_recv_bytes",
    "time to run Python workers": "py_run_ms",
}
_COUNTERS = (
    "jobs", "stages", "tasks", "failed_tasks", "task_ms", "cpu_ns", "gc_ms",
    "fetch_wait_ms", "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
    *_PY_ACCUMULATORS.values(),
)


def metric_names() -> list[str]:
    """Every per-layer metric name, in report order."""
    names = []
    for layer in LAYERS:
        qs = FULL_QUANTITIES if layer in FULL_LAYERS else BASIC_QUANTITIES
        if layer in ARROW_LAYERS:
            qs = qs + ARROW_QUANTITIES
        qs = qs + OPERATOR_QUANTITIES.get(layer, ())
        names.extend(f"{layer}.{q}" for q in qs)
    return names + list(JOB_QUANTITIES)


class Spans:
    """Self time per layer, on the benchmark's clock.

    Spans nest (a checkpoint save runs inside a PageRank call); a layer's
    self time excludes its children, so the layers of one job partition
    its wall time. ``last_s`` is the whole duration, children included, of
    the span closed last. With ``spark_context`` set, entering a span also
    sets the job group, and leaving it restores the enclosing span's group.
    """

    def __init__(self, spark_context=None) -> None:
        self._sc = spark_context
        self._stack: list[list] = []  # [layer, start, child seconds]
        self.self_s: dict[str, float] = {}
        self.last_s = 0.0

    @contextmanager
    def layer(self, name: str):
        if self._sc is not None:
            self._sc.setJobGroup(name, name, False)
        frame = [name, time.perf_counter(), 0.0]
        self._stack.append(frame)
        try:
            yield
        finally:
            self._stack.pop()
            total = self.last_s = time.perf_counter() - frame[1]
            self.self_s[name] = self.self_s.get(name, 0.0) + total - frame[2]
            if self._stack:
                self._stack[-1][2] += total
            if self._sc is not None:
                outer = self._stack[-1][0] if self._stack else "idle"
                self._sc.setJobGroup(outer, outer, False)


def _event_files(log_dir: Path) -> list[Path]:
    """Event-log files in write order (rolling ``events_<n>_*`` or single)."""
    files = [p for p in log_dir.rglob("*") if p.is_file() and not p.name.startswith(".")
             and not p.name.startswith("appstatus")]

    def index(p: Path) -> int:
        m = re.match(r"events_(\d+)_", p.name)
        return int(m.group(1)) if m else 0

    return sorted(files, key=index)


def fold_event_log(log_dir: str | Path) -> dict[str, dict[str, float]]:
    """Sum jobs, stages and task metrics of an uncompressed event log per job group.

    Stages are attributed through the properties of their submission
    event, which carry the submitting job's group. Jobs without a group
    fold under ``""``.
    """
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = {}

    def bucket(group: str) -> dict[str, float]:
        return out.setdefault(group, dict.fromkeys(_COUNTERS, 0))

    for path in _event_files(Path(log_dir)):
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id", "")
                    bucket(group)["jobs"] += 1
                elif kind == "SparkListenerStageSubmitted":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id", "")
                    stage_group[ev["Stage Info"]["Stage ID"]] = group
                elif kind == "SparkListenerStageCompleted":
                    bucket(stage_group.get(ev["Stage Info"]["Stage ID"], ""))["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    _fold_task(bucket(stage_group.get(ev["Stage ID"], "")), ev)
    return out


def _fold_task(b: dict[str, float], ev: dict) -> None:
    b["tasks"] += 1
    if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
        b["failed_tasks"] += 1
    m = ev.get("Task Metrics") or {}
    b["task_ms"] += m.get("Executor Run Time", 0)
    b["cpu_ns"] += m.get("Executor CPU Time", 0)
    b["gc_ms"] += m.get("JVM GC Time", 0)
    b["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    read = m.get("Shuffle Read Metrics") or {}
    b["fetch_wait_ms"] += read.get("Fetch Wait Time", 0)
    b["shuffle_read_bytes"] += read.get("Remote Bytes Read", 0) + read.get("Local Bytes Read", 0)
    b["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
        key = _PY_ACCUMULATORS.get(acc.get("Name"))
        if key is not None and acc.get("Update") is not None:
            b[key] += int(acc["Update"])


def layer_table(
    folded: dict[str, dict[str, float]],
    wall_s: dict[str, float],
    operator: dict[str, float],
    *,
    cores: int,
    jobs: int,
    job_wall_s: float,
    job_cpu_s: float,
) -> dict[str, float]:
    """Per-layer metrics for one traced run, as values per timed job.

    ``session`` covers the run's set-up and is reported whole; every other
    layer is summed over the ``jobs`` timed jobs and divided by ``jobs``.
    ``operator`` holds the ``metrics_out``/checkpointer quantities already
    keyed ``<layer>.<quantity>`` and already per job.
    """
    table: dict[str, float] = {}
    names = set(metric_names())
    covered = 0.0
    for layer in LAYERS:
        per = 1 if layer == "session" else jobs
        c = folded.get(layer, dict.fromkeys(_COUNTERS, 0))
        wall = wall_s.get(layer, 0.0) / per
        task_s = c["task_ms"] / 1e3 / per
        sent = c["py_sent_bytes"] / _MB / per
        recv = c["py_recv_bytes"] / _MB / per
        values = {
            "wall_s": wall,
            "task_s": task_s,
            "cpu_s": c["cpu_ns"] / 1e9 / per,
            "gc_s": c["gc_ms"] / 1e3 / per,
            "idle_core_s": wall * cores - task_s,
            "fetch_wait_s": c["fetch_wait_ms"] / 1e3 / per,
            "shuffle_write_mb": c["shuffle_write_bytes"] / _MB / per,
            "shuffle_read_mb": c["shuffle_read_bytes"] / _MB / per,
            "spill_mb": c["spill_bytes"] / _MB / per,
            "jobs": c["jobs"] / per,
            "stages": c["stages"] / per,
            "tasks": c["tasks"] / per,
            "failed_tasks": c["failed_tasks"] / per,
            "py_run_s": c["py_run_ms"] / 1e3 / per,
            "py_sent_mb": sent,
            "py_recv_mb": recv,
            "py_recv_per_sent": recv / sent if sent else 0.0,
        }
        for q, v in values.items():
            if f"{layer}.{q}" in names:
                table[f"{layer}.{q}"] = v
        if layer != "session":
            covered += wall
    table.update((k, v) for k, v in operator.items() if k in names)
    table["job.wall_s"] = job_wall_s
    table["job.cpu_s"] = job_cpu_s
    table["job.layer_coverage"] = covered / job_wall_s if job_wall_s else 0.0
    return {name: table.get(name, 0.0) for name in metric_names()}
