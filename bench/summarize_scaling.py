"""Render the complete scaling-sample distribution as a markdown table.

The north rule asks for throughput scaling efficiency >= 0.8 from N to 4N;
the r2 verdict asked for the DISTRIBUTION of samples, not the best one.
This reads every sample in BENCH_SCALING.json and prints one row per
(pairing, workload) with all sample efficiencies, their median, and best —
so the claim is reproducible from the stored evidence with one command.

Usage: python bench/summarize_scaling.py [--engine-commit PREFIX ...]
                                         [--current-engine | --era]
  --engine-commit limits rows to samples stamped with one of the given
  engine commits (e.g. the commits of the round under judgment).
  --current-engine limits rows to samples whose engine_hash matches the
  working tree's engine files (see engine_fingerprint.py).
  --era widens that to every hash bench/engine_era.json certifies as
  plan-identical to the current engine.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)

METRICS = [
    ("pagerank_steady", "PageRank steady-state"),
    ("pagerank_min", "PageRank fastest superstep"),
    ("pagerank", "PageRank all supersteps"),
    ("cc", "CC to convergence"),
]


def median(vals: list[float]) -> float:
    s = sorted(vals)
    mid = len(s) // 2
    return s[mid] if len(s) % 2 else round((s[mid - 1] + s[mid]) / 2, 3)


def main() -> None:
    commits: list[str] = []
    want_hash: str | None = None
    args = sys.argv[1:]
    while args:
        if args[0] == "--engine-commit":
            commits.append(args[1])
            args = args[2:]
        elif args[0] == "--current-engine":
            from engine_fingerprint import engine_hash

            want_hash = engine_hash()
            args = args[1:]
        elif args[0] == "--era":
            # accept every hash bench/engine_era.json certifies as
            # plan-identical to the current engine: hygiene-only commits
            # must not orphan a sample base collected against a frozen
            # engine. Only valid while the working tree's own hash is a
            # member, so an uncertified engine change stays strict.
            from engine_fingerprint import engine_hash

            with open(os.path.join(HERE, "engine_era.json")) as f:
                era = json.load(f)
            cur = engine_hash()
            if cur not in era.get("hashes", []):
                raise SystemExit(
                    f"--era: working-tree engine hash {cur} is not in the "
                    "certified era set; re-certify or use --current-engine"
                )
            want_hash = set(era["hashes"])
            args = args[1:]
        else:
            raise SystemExit(f"unknown arg: {args[0]}")

    with open(os.path.join(REPO, "BENCH_SCALING.json")) as f:
        store = json.load(f)

    groups: dict[tuple[str, bool], dict[str, dict]] = {}
    for key, run in sorted(store.items()):
        if commits and not any(
            str(run.get("engine_commit", "")).startswith(c) for c in commits
        ):
            continue
        if want_hash is not None:
            accepted = want_hash if isinstance(want_hash, set) else {want_hash}
            if run.get("engine_hash") not in accepted:
                continue
        pairing = key.split("_")[0]
        n_edges = int(run.get("n_edges", 0))
        size = f"{round(n_edges / 1e6)}M" if n_edges else "?"
        groups.setdefault((pairing, bool(run.get("skew")), size), {})[key] = run

    print("| pairing | graph | workload | samples (chronological) | median | best |")
    print("|---|---|---|---|---|---|")
    for (pairing, skew, size), runs in sorted(groups.items()):
        for mkey, label in METRICS:
            vals = [
                r["scaling_efficiency"][mkey]
                for r in runs.values()
                if mkey in r.get("scaling_efficiency", {})
            ]
            if not vals:
                continue
            graph = f"{'skewed' if skew else 'uniform'} {size}"
            cells = ", ".join(f"{v:.3f}" for v in vals)
            print(
                f"| {pairing} | {graph} | {label} | {cells} "
                f"| **{median(vals):.3f}** | {max(vals):.3f} |"
            )


if __name__ == "__main__":
    main()
