"""Content fingerprint of the engine code a scaling sample measures.

BENCH_SCALING.json is append-only across rounds, so samples from different
engine generations coexist. Summaries (bench/summarize_scaling.py,
bench/floor_model.py) must not mix eras: an r2-engine CC sample says
nothing about HEAD. git commit ids almost work, but evidence commits land
between engine commits, so several commits share one engine. Hashing the
files that actually determine superstep behavior groups samples by the
engine they measured, automatically and without a maintained allowlist.
"""

from __future__ import annotations

import hashlib
import os

_HERE = os.path.dirname(os.path.abspath(__file__))
_REPO = os.path.dirname(_HERE)

#: files whose content changes the measured superstep plans/kernels
ENGINE_FILES = (
    "imtag_spark/operators/cc.py",
    "imtag_spark/operators/pagerank.py",
    "imtag_spark/session.py",
    "bench/scaling_worker.py",
)


def engine_hash() -> str:
    """Short, stable digest of the engine files (order-fixed)."""
    h = hashlib.sha256()
    for rel in ENGINE_FILES:
        path = os.path.join(_REPO, rel)
        h.update(rel.encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]
