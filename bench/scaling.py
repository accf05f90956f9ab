"""North-rule scaling evidence: the identical job at two parallelism levels.

No real cluster exists in this sandbox (32 cores, one host), so "N vs 4N
executors" is evidenced as ``local[8]`` vs ``local[32]`` — each level in
its own JVM via a subprocess — on the identical deterministic input.
Efficiency = (throughput_4N / throughput_N) / 4.

Writes BENCH.md and prints one JSON line.

Usage: python bench/scaling.py [n_edges] [n_vertices] [skew]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from engine_fingerprint import engine_hash  # noqa: E402


def run_level(
    cpus: int, n_edges: int, n_vertices: int, skew: bool, n_part: int
) -> dict:
    cmd = [
        sys.executable,
        os.path.join(HERE, "scaling_worker.py"),
        str(cpus),
        str(n_edges),
        str(n_vertices),
        "skew" if skew else "uniform",
        str(n_part),
    ]
    # 2h ceiling: the 128M-edge amortization point runs ~50 min per level
    # clean, and a host steal window can double that — a timeout mid-sample
    # wastes the whole level, so the ceiling is a last-resort hang guard only
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=7200)
    if out.returncode != 0:
        # surface the worker's failure instead of a bare exit-status (the
        # 2026-08-18 2->8 sample died with zero diagnostics in the queue log)
        sys.stderr.write(
            f"[scaling] worker failed (cpus={cpus}, rc={out.returncode});"
            f" stderr tail:\n{out.stderr[-4000:]}\n"
        )
        raise subprocess.CalledProcessError(
            out.returncode, cmd, out.stdout, out.stderr
        )
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> None:
    n_edges = int(sys.argv[1]) if len(sys.argv) > 1 else 8_000_000
    n_vertices = int(sys.argv[2]) if len(sys.argv) > 2 else 1_000_000
    skew = len(sys.argv) > 3 and sys.argv[3] == "skew"
    n_lo, n_hi = (
        (int(x) for x in sys.argv[4].split(","))
        if len(sys.argv) > 4
        else (8, 32)
    )
    # JOB-CONSTANT shuffle partitioning (r4): both levels run the identical
    # physical job, sized for the high level (2 threads' worth of tasks per
    # core there) — on a real cluster spark.sql.shuffle.partitions is a job
    # config that does not change as executors scale. The pre-r4 protocol's
    # cpus*2 made the levels run different work shapes (see scaling_worker).
    n_part = n_hi * 2
    levels = {}
    for cpus in (n_lo, n_hi):
        t0 = time.time()
        levels[cpus] = run_level(cpus, n_edges, n_vertices, skew, n_part)
        levels[cpus]["wall_s"] = round(time.time() - t0, 1)

    ratio = n_hi / n_lo

    def eff(key: str) -> float:
        return round(levels[n_hi][key] / levels[n_lo][key] / ratio, 3)

    try:
        engine = subprocess.run(
            ["git", "rev-parse", "--short", "HEAD"], cwd=REPO,
            capture_output=True, text=True, timeout=10,
        ).stdout.strip() or None
    except OSError:
        engine = None

    result = {
        "n_edges": levels[n_hi]["n_edges"],
        "skew": skew,
        "engine_commit": engine,
        # content hash of the engine files this sample measured — summaries
        # group/filter by it so eras never mix (see engine_fingerprint.py)
        "engine_hash": engine_hash(),
        "levels": levels,
        "scaling_efficiency": {
            "pagerank": eff("eps_pagerank"),
            "pagerank_steady": eff("eps_pagerank_steady"),
            "pagerank_min": eff("eps_pagerank_min"),
            "cc": eff("eps_cc"),
        },
    }
    print(json.dumps(result))

    # persist machine-readable evidence (bench/summarize_scaling.py renders it)
    store_path = os.path.join(REPO, "BENCH_SCALING.json")
    store = {}
    if os.path.exists(store_path):
        with open(store_path) as f:
            store = json.load(f)
    # append-only: never clobber a previous sample's evidence
    base_key = f"{n_lo}to{n_hi}" + ("_skew" if skew else "")
    key, i = base_key, 2
    while key in store:
        key, i = f"{base_key}_sample{i}", i + 1
    store[key] = result
    with open(store_path, "w") as f:
        json.dump(store, f, indent=1, sort_keys=True)

    lines = [
        f"## {n_lo} -> {n_hi} cores, {result['n_edges']:,} edges"
        + (" (skewed dst)" if skew else " (uniform)"),
        "",
        "Identical job (deterministic synthetic edge table, built JVM-side via",
        "`spark.range` + `xxhash64`) at two parallelism levels, one JVM each,",
        f"same host. Efficiency = (eps@local[{n_hi}] / eps@local[{n_lo}]) / {ratio:g};",
        "the north rule requires >= 0.8 from N to 4N.",
        "",
        "- PageRank: 10 fixed supersteps (steady state = supersteps 3..10,",
        "  excluding JVM JIT / AQE warmup); CC: alternating-star to",
        "  convergence. BOTH workloads report the per-superstep-index",
        "  minimum over 3 in-JVM repetitions of the identical deterministic",
        "  job (raw repetition times disclosed) — the work per cell is",
        "  bit-identical, so the min is the least steal-contaminated",
        "  observation of that superstep.",
        "",
        f"| metric | local[{n_lo}] | local[{n_hi}] | efficiency |",
        "|---|---|---|---|",
    ]
    for key, label in [
        ("eps_pagerank", "PageRank edges/s/superstep (all supersteps)"),
        ("eps_pagerank_steady", "PageRank edges/s/superstep (steady state)"),
        ("eps_pagerank_min", "PageRank edges/s/superstep (fastest superstep)"),
        ("eps_cc", "CC edges/s/superstep"),
    ]:
        e_lo, e_hi = levels[n_lo][key], levels[n_hi][key]
        lines.append(
            f"| {label} | {e_lo:,.0f} | {e_hi:,.0f} | {round(e_hi / e_lo / ratio, 3)} |"
        )
    lines += [
        "",
        "Per-superstep times (s):",
        "",
        f"- PageRank local[{n_lo}]: {levels[n_lo]['pagerank_superstep_times']}"
        + (
            f"  (per-step min over reps {levels[n_lo]['pagerank_superstep_times_reps']})"
            if "pagerank_superstep_times_reps" in levels[n_lo]
            else ""
        ),
        f"- PageRank local[{n_hi}]: {levels[n_hi]['pagerank_superstep_times']}"
        + (
            f"  (per-step min over reps {levels[n_hi]['pagerank_superstep_times_reps']})"
            if "pagerank_superstep_times_reps" in levels[n_hi]
            else ""
        ),
        f"- CC local[{n_lo}]: {levels[n_lo]['cc_superstep_times']}"
        + (
            f"  (per-round min over reps {levels[n_lo]['cc_superstep_times_reps']})"
            if "cc_superstep_times_reps" in levels[n_lo]
            else ""
        ),
        f"- CC local[{n_hi}]: {levels[n_hi]['cc_superstep_times']}"
        + (
            f"  (per-round min over reps {levels[n_hi]['cc_superstep_times_reps']})"
            if "cc_superstep_times_reps" in levels[n_hi]
            else ""
        ),
        "",
        "",
    ]
    with open(os.path.join(REPO, "BENCH.md"), "a") as f:
        f.write("\n".join(lines))


if __name__ == "__main__":
    main()
