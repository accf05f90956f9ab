"""Per-superstep durable checkpointing with resume (north-rule requirement).

The reference mutates its union-find ``parents`` array in place
(/root/reference/src/disjoint_set.hpp:54-64); the distributed analog is the
per-superstep frontier DataFrame. We persist it to parquet each round with a
JSON manifest (superstep number, edge count, fingerprint, wall time), which
(a) truncates the Catalyst lineage so plans don't grow across iterations and
(b) lets a killed job restart mid-iteration bit-identically.
"""

from __future__ import annotations

import json
import os
import time
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel

#: storage level for iterative-loop frontier checkpoints: SERIALIZED
#: memory+disk. The localCheckpoint default stores deserialized InternalRow
#: object graphs — ~104 B/row for a 16 B (src, dst) edge row — and scanning/
#: writing those graphs is GC-catastrophic precisely when many cores run:
#: stage metrics at 64M edges showed the checkpoint-copy + first-exchange
#: stages spending 231 s in GC at local[16] vs 5.5 s at local[4] (the same
#: stages, same data), i.e. the deserialized blocks alone inverted the
#: core-count response. Serialized blocks are flat byte buffers: ~4x
#: smaller, GC-invisible, and the (de)serialization of fixed-width rows is
#: a memcpy-grade cost paid inside the already-parallel task.
FRONTIER_STORAGE = StorageLevel.MEMORY_AND_DISK


def frontier_checkpoint(df: DataFrame, eager: bool = True) -> DataFrame:
    """``localCheckpoint`` with serialized block storage (FRONTIER_STORAGE).

    Use for every iterative-loop frontier/edge checkpoint; see
    FRONTIER_STORAGE for the measured GC rationale.
    """
    return df.localCheckpoint(eager=eager, storageLevel=FRONTIER_STORAGE)


def is_materialized_scan(df: DataFrame) -> bool:
    """True when ``df`` is at most a DETERMINISTIC projection/filter over
    an already-materialized scan (localCheckpoint RDD, local relation, or
    file relation): reading it again costs one scan and gives the same
    rows. Decided from the analyzed plan alone, so it never runs a job.

    Conservative: any unrecognized node means False, and so does any
    non-deterministic expression (rand(), a nondet UDF, ...) in the
    stripped operators, because re-evaluating those per job would give
    each read different rows. A file mutated mid-run can still change a
    LogicalRelation scan; that is the caller's input-stability contract,
    same as any repeated Spark read.

    Caller: CC skips its init lineage-truncation copy on such input. A
    driver route's output (``driver.frame_from_arrays``) below Spark's
    Arrow local-relation threshold is a ``Generate`` over a local
    relation, not a bare one, so CC would copy it first; above the threshold it is the
    ``LogicalRDD`` Spark builds from Arrow batches and counts, as the flat
    ``createDataFrame`` output did. No in-repo flow hands one to CC: the
    star route's funneled frontier, the one driver output CC reads itself,
    is a terminal star forest that no round reads again.
    """
    try:
        p = df._jdf.queryExecution().analyzed()
        while p.nodeName() in ("Project", "Filter") and p.children().size() == 1:
            exprs = p.expressions()
            for i in range(exprs.size()):
                if not exprs.apply(i).deterministic():
                    return False
            p = p.children().apply(0)
        return p.nodeName() in ("LogicalRDD", "LocalRelation", "LogicalRelation")
    except Exception:
        return False


def free_local_checkpoint(df: DataFrame | None) -> None:
    """Release the block-manager blocks behind a materialized
    ``localCheckpoint`` DataFrame.

    Iterative loops re-checkpoint their frontier every round; the
    superseded rounds' blocks otherwise live until the driver GCs the py4j
    proxies (ContextCleaner runs off JVM weak references), so a 50-round
    high-diameter job hoards ~50 frontier copies in the block manager
    (visible as monotone storage-memory growth in stage metrics). Freeing
    round k−1 the moment round k is materialized keeps storage flat.

    ONLY call this on a frontier that nothing will read again — the blocks
    ARE the data (lineage was truncated), so a later action on the freed
    DataFrame fails with CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND. Silently skips
    DataFrames that are not bare local checkpoints (parquet-backed resume
    frontiers, projections, raw inputs): their analyzed plan is not a
    ``LogicalRDD``.
    """
    if df is None:
        return
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.nodeName() == "LogicalRDD":
            _unpersist_quietly(df.sparkSession, plan.rdd())
    except Exception:
        pass  # cleanup must never break the solve (e.g. plan API drift)


_UNPERSIST_LOGGER = "org.apache.spark.rdd.MapPartitionsRDD"


def _unpersist_quietly(spark: SparkSession, jrdd) -> None:
    """``jrdd.unpersist(blocking=False)`` with Spark's per-unpersist
    'lineage has been truncated and cannot be recomputed' WARN silenced —
    here the non-recomputability is exactly the point (the frontier is dead
    by construction), and the message would otherwise repeat once per freed
    round in the driver log.

    The silencing is scoped to the one synchronous unpersist call: the
    emitting logger's level is raised to ERROR immediately before and
    restored immediately after (removing the logger config entirely if the
    level was inherited), so warnings from the same class elsewhere — e.g.
    lineage-truncation WARNs for a *caller's* localCheckpoints unpersisted
    outside this library — still appear.
    """
    restore = None
    try:
        jvm = spark.sparkContext._jvm
        configurator = jvm.org.apache.logging.log4j.core.config.Configurator
        ctx = jvm.org.apache.logging.log4j.LogManager.getContext(False)
        config = ctx.getConfiguration()
        logger_cfg = config.getLoggerConfig(_UNPERSIST_LOGGER)
        if logger_cfg.getName() == _UNPERSIST_LOGGER:
            prev = logger_cfg.getLevel()

            def restore():
                configurator.setLevel(_UNPERSIST_LOGGER, prev)
        else:
            # no explicit config existed — setLevel creates one; remove it
            # afterwards so the logger goes back to inheriting its parent
            def restore():
                config.removeLogger(_UNPERSIST_LOGGER)
                ctx.updateLoggers()

        configurator.setLevel(
            _UNPERSIST_LOGGER, jvm.org.apache.logging.log4j.Level.ERROR
        )
    except Exception:
        restore = None  # cosmetic only — unpersist regardless
    try:
        jrdd.unpersist(False)
    finally:
        if restore is not None:
            try:
                restore()
            except Exception:
                pass


class SuperstepCheckpointer:
    """Parquet frontier checkpoints + manifest for iterative graph jobs."""

    def __init__(self, spark: SparkSession, root: str, keep_last: int = 2) -> None:
        self.spark = spark
        self.root = Path(root)
        self.root.mkdir(parents=True, exist_ok=True)
        self.keep_last = keep_last
        self._t0 = time.time()

    @property
    def manifest_path(self) -> Path:
        return self.root / "manifest.json"

    def _step_dir(self, step: int) -> Path:
        return self.root / f"step={step:05d}"

    def save(self, df: DataFrame, step: int) -> DataFrame:
        """Write ``df`` as superstep ``step`` and return it read back.

        The read-back takes the schema just written, so it runs no schema
        inference job: the write is the save's only Spark job."""
        path = str(self._step_dir(step))
        schema = df.schema
        df.write.mode("overwrite").parquet(path)
        manifest = self._read_manifest()
        manifest["last_step"] = step
        manifest.setdefault("steps", {})[str(step)] = {
            "path": path,
            "wall_time_s": round(time.time() - self._t0, 3),
        }
        self._write_manifest(manifest)
        self._gc(step)
        return self.spark.read.schema(schema).parquet(path)

    def log_metrics(self, step: int, **metrics) -> None:
        manifest = self._read_manifest()
        entry = manifest.setdefault("steps", {}).setdefault(str(step), {})
        entry.update(metrics)
        entry["wall_time_s"] = round(time.time() - self._t0, 3)
        self._write_manifest(manifest)

    def resume(self) -> tuple[DataFrame, int] | None:
        """Return (frontier, step) of the newest durable checkpoint, if any."""
        manifest = self._read_manifest()
        last = manifest.get("last_step")
        if last is None:
            return None
        path = self._step_dir(int(last))
        if not path.exists():
            return None
        return self.spark.read.parquet(str(path)), int(last)

    def _gc(self, current_step: int) -> None:
        for d in sorted(self.root.glob("step=*")):
            step = int(d.name.split("=")[1])
            if step <= current_step - self.keep_last:
                import shutil

                shutil.rmtree(d, ignore_errors=True)

    def _read_manifest(self) -> dict:
        if self.manifest_path.exists():
            return json.loads(self.manifest_path.read_text())
        return {}

    def _write_manifest(self, manifest: dict) -> None:
        tmp = self.manifest_path.with_suffix(".tmp")
        tmp.write_text(json.dumps(manifest, indent=1, sort_keys=True))
        os.replace(tmp, self.manifest_path)
