"""Driver routes: the row gate, collect, hand-off and NumPy kernels they share.

Six routes label or rank a small input in one address space, as the
reference labels an image with one union-find
(src/disjoint_set.hpp:125-137 in the reference): ``connected_components``,
``pagerank``, ``label_propagation``, the triangle counts, ``grid_to_runs``
and ``label_runs``. They share one decision and its machinery, kept here:

- the gate, ``FUNNEL_EDGE_LIMIT`` rows, and ``count_small``, which counts a
  table and, under the gate, collects it by one Arrow collect
  (``collect_columns``), remembering the last fixed table collected
  (``small_edge_arrays``);
- the way back, ``frame_from_arrays``;
- the vertex indexer ``index_edges``, the pair dedupe ``distinct_pairs``
  and the union-find ``_contract_arrays``.

Each operator keeps its own kernel. Every caller reads the gate as
``driver.FUNNEL_EDGE_LIMIT`` at call time and binds no copy of it, so
setting it here moves every route at once.
"""

from __future__ import annotations

import weakref

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: cell-count bound under which ``label_runs`` labels a grid on the driver
#: without counting its runs (a grid has fewer runs than cells). A grid's
#: runs plus their adjacency edges stay below ~1.5 × cells, so one NumPy
#: union-find reads at most ~6M rows: a few serial seconds (a 4.0M-row
#: one-task pass took ~6 s, BENCH.md "Frontier funnel").
SMALL_GRAPH_EDGE_LIMIT = 4_000_000

#: input-row bound for the driver routes. ``connected_components`` collects
#: the input and returns one NumPy union-find pass over it as the labels
#: when the init job counts at most this many rows; later rounds funnel
#: their frontier onto the driver under the same bound. The solve is a
#: SERIAL tail: at a 4.0M-row frontier one pass cost ~6 s at any
#: parallelism (transit + one union-find), barely beating a distributed
#: round at local[32] (7.5 s) and flattening the core-count response; at
#: ≤1M rows (~16 MB) it runs well under a distributed round's ~2-3 s
#: scheduling floor.
FUNNEL_EDGE_LIMIT = 1_000_000


#: the last small table collected from a DataFrame whose rows cannot change
#: when re-read: ``(weak reference to it, columns, rows counted, arrays)``
_last_small: tuple[weakref.ref, tuple[str, ...], int, tuple[np.ndarray, ...]] | None = None

#: the edge table's columns, in the order the NumPy kernels read them
EDGE_COLUMNS = ("src", "dst")


def _fixed_rows_plan(df: DataFrame):
    """``df``'s analyzed plan when it is a bare materialized checkpoint or
    local relation (no projection or filter above it): re-reading it gives
    the same rows. Otherwise ``None``: a file scan or a plain RDD may give
    other rows on the next read. A driver route's output
    (``frame_from_arrays``) is a ``Generate`` over a local relation, or
    above Spark's Arrow local-relation threshold an uncheckpointed
    ``LogicalRDD``; neither is counted without ``DataFrame.count()`` or
    remembered, and every in-repo caller checkpoints it before reading it
    again."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.nodeName() == "LocalRelation" or (
            plan.nodeName() == "LogicalRDD" and plan.rdd().isCheckpointed()
        ):
            return plan
    except Exception:
        pass
    return None


def collect_columns(
    df: DataFrame, cols: tuple[str, ...] = EDGE_COLUMNS
) -> tuple[np.ndarray, ...]:
    """The named columns as NumPy arrays in their own integer type, by one
    Arrow collect. A row with a null in any of them is dropped: an edge
    with a null endpoint names no vertex pair, and every Spark route drops
    it too."""
    t = df.select(*cols).toArrow()
    if any(t.column(c).null_count for c in cols):
        t = t.drop_null()
    return tuple(t.column(c).to_numpy() for c in cols)


def frame_from_arrays(
    spark: SparkSession, columns: dict[str, np.ndarray], not_null: tuple[str, ...] = ()
) -> DataFrame:
    """Equal-length driver arrays → a DataFrame with one column each, rows
    in array order: ``collect_columns``' inverse, and every driver route's
    way back to Spark. A column takes its array's type and is nullable
    unless ``not_null`` names it.

    Below Spark's Arrow local-relation threshold (48 MB by default), where
    ``createDataFrame`` on the flat table builds one JVM row per record on
    the driver, the rows cross as at most ``defaultParallelism`` rows of
    one ``list<struct>`` Arrow column, consecutive slices of the arrays,
    and ``inline`` expands them inside Catalyst: one slice per task, in
    whole-stage codegen, with no Python worker. A 251,652-row hand-off
    plus an eager checkpoint took 0.56–2.94 CPU-s this way and 1.52–12.22
    the flat way. Above the threshold ``createDataFrame`` already ships
    the flat table's Arrow batches to the tasks, and that is used: at 4M
    rows it took 2.53–3.37 CPU-s against 7.14–9.74 inlined (BENCH.md,
    "Columnar hand-off")."""
    arrays = {c: pa.array(a) for c, a in columns.items()}
    fields = [pa.field(c, a.type, nullable=c not in not_null) for c, a in arrays.items()]
    flat = pa.Table.from_arrays(list(arrays.values()), schema=pa.schema(fields))
    if flat.nbytes > spark._jsparkSession.sessionState().conf().arrowLocalRelationThreshold():
        return spark.createDataFrame(flat)
    rows = pa.StructArray.from_arrays(list(arrays.values()), fields=fields)
    k = max(1, min(len(rows), spark.sparkContext.defaultParallelism))
    offsets = pa.array(np.linspace(0, len(rows), k + 1).astype(np.int32))
    item = pa.field("item", rows.type, nullable=False)
    slices = pa.ListArray.from_arrays(offsets, rows, type=pa.list_(item))
    return spark.createDataFrame(pa.table({"_rows": slices})).select(F.inline("_rows"))


def count_small(
    df: DataFrame, cols: tuple[str, ...] = EDGE_COLUMNS, remember: bool = False
) -> tuple[int, tuple[np.ndarray, ...] | None]:
    """``(rows, arrays or None)``: the named columns (``collect_columns``)
    when ``df`` has at most FUNNEL_EDGE_LIMIT rows, read at call time. The
    table remembered from an earlier call on the same object and columns
    costs no job. Otherwise the rows are counted: a local relation by the
    size of its data (no job), a bare materialized checkpoint by counting
    its RDD (one job, no shuffle), anything else by ``DataFrame.count()``
    (two jobs under AQE). Under the gate one Arrow collect follows, which
    ``remember`` keeps when the table holds fixed rows, replacing any
    earlier one."""
    global _last_small
    hit = _last_small
    if hit is not None and hit[0]() is df and hit[1] == cols:
        n = hit[2]
        return n, hit[3] if n <= FUNNEL_EDGE_LIMIT else None
    fixed = _fixed_rows_plan(df)
    if fixed is None:
        n = df.count()
    elif fixed.nodeName() == "LocalRelation":
        n = fixed.data().size()
    else:
        n = fixed.rdd().count()
    if n > FUNNEL_EDGE_LIMIT:
        return n, None
    arrays = collect_columns(df, cols)
    if remember and fixed is not None:
        # callers share the arrays: none may write to them
        for a in arrays:
            a.flags.writeable = False

        def _forget(ref):
            global _last_small
            if _last_small is not None and _last_small[0] is ref:
                _last_small = None

        _last_small = (weakref.ref(df, _forget), cols, n, arrays)
    return n, arrays


def small_edge_arrays(edges: DataFrame) -> tuple[np.ndarray, np.ndarray] | None:
    """``(src, dst)`` on the driver as NumPy arrays when ``edges`` has at
    most FUNNEL_EDGE_LIMIT rows (read at call time), else ``None``; edges
    with a null endpoint are dropped. The gate CC, PageRank, LPA and
    triangles share.

    The first call on a table costs one count job and, under the gate, one
    Arrow collect of at most ~16 MB. When the table is a bare materialized
    checkpoint or local relation, its arrays (read-only) are kept until the
    next such collect or until the DataFrame object is garbage-collected,
    whichever comes first, and later calls on the same object run no job:
    the four operators on one checkpointed 10^5-edge table run 4 Spark
    jobs instead of 14 (BENCH.md, "One collect" and "Grid on the driver")."""
    return count_small(edges, remember=True)[1]


def index_edges(
    src: np.ndarray, dst: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """``(verts, a, b)``: the distinct endpoint ids sorted ascending, and
    each edge's endpoints as int64 indices into them (``verts[a] == src``,
    ``verts[b] == dst``). Ids keep their own integer type, so any 64-bit id
    is exact, and index order is id order. One sort over both endpoint
    columns."""
    verts, idx = np.unique(np.concatenate([src, dst]), return_inverse=True)
    idx = idx.astype(np.int64, copy=False)
    return verts, idx[: len(src)], idx[len(src):]


def distinct_pairs(
    a: np.ndarray, b: np.ndarray, n: int
) -> tuple[np.ndarray, np.ndarray]:
    """The distinct ``(a, b)`` index pairs, sorted by ``a`` then ``b``, for
    indices in ``[0, n)``: one sort of the key ``a * n + b``. The key is
    built in int64 whatever the indices' type, since ``n²`` overflows int32
    from n = 46,341; int64 holds it while n < 3 × 10⁹ (n is at most twice
    the rows under the gate)."""
    key = np.unique(a.astype(np.int64, copy=False) * n + b)
    return key // n, key % n


def _contract_arrays(
    srcs: list[np.ndarray], dsts: list[np.ndarray]
) -> tuple[np.ndarray, np.ndarray]:
    """Union-find over edge chunks → ``(vertex, component min)`` as int64,
    one row per distinct vertex, vertices sorted ascending. Ids keep the
    integer type they arrive in (BIGINT → int64, so any 64-bit id is
    exact; an INT edge table stays int32) and leave as int64 to match
    ``cc.EDGE_SCHEMA``; only the internal index arrays are narrowed, after
    indexing, see below."""
    src = np.concatenate(srcs)
    dst = np.concatenate(dsts)
    verts, a, b = index_edges(src, dst)
    # The hooking loop below is pure random-gather (p[a], p[p], minimum.at)
    # over index arrays; its budget is the memory system, not FLOPs. Indices
    # are bounded by len(verts) ≤ 2 × chunk ≪ 2^31, so they fit int32 —
    # halving the gather traffic and the p-array cache footprint. Measured
    # under 32-way task contention (this host's actual execution regime at
    # local[32]): 23 s → 2.7 s per 2M-edge/4M-vertex task, 8.6×; single-task
    # time unchanged (0.83 s → 0.81 s). int64 kept as the (untested-scale)
    # fallback for a >2^31-vertex chunk.
    ptr_dtype = np.int32 if len(verts) < 2**31 else np.int64
    a = a.astype(ptr_dtype, copy=False)
    b = b.astype(ptr_dtype, copy=False)
    # Shiloach-Vishkin-style vectorized hooking — no per-edge Python.
    # Each round: relabel edges to current roots, min-hook the roots, two
    # pointer-doubling passes, drop intra-component edges. The edge
    # relabeling contracts the graph, so rounds are O(log n) (measured: 3
    # rounds / 1.6 s on a 4M-edge 1M-vertex partition vs ~diameter rounds /
    # 11 s for naive neighbor-min propagation). p holds *indices* into
    # verts; verts is sorted ascending, so index-min == vertex-min (the
    # labeling contract's min-hooking).
    p = np.arange(len(verts), dtype=ptr_dtype)
    while len(a):
        pa, pb = p[a], p[b]
        live = pa != pb
        a, b = pa[live], pb[live]
        if not len(a):
            break
        np.minimum.at(p, a, b)
        np.minimum.at(p, b, a)
        p = p[p]
        p = p[p]
        a, b = p[a], p[b]
        keep = a != b
        a, b = a[keep], b[keep]
    while True:  # final full path compression
        nxt = p[p]
        if np.array_equal(nxt, p):
            break
        p = nxt
    return verts.astype(np.int64, copy=False), verts[p].astype(np.int64, copy=False)
