"""Interval (band) joins over run tables.

Generalizes the reference's pass-2 merge join (J1,
/root/reference/src/SegmentImageImpl.cpp:96-115) and the overlap predicates
(P2, src/SegmentImageImpl.cpp:68-76):

- CROSS (4-connectivity): strict overlap  ``a.begin < b.end AND b.begin < a.end``
- EIGHT_WAY:              non-strict      ``a.begin <= b.end AND b.begin <= a.end``
  (non-strict because ``col_end`` is exclusive — a diagonal touch connects)
- HORIZONTAL: no inter-row edges at all (each run is its own component;
  the reference's HORIZONTAL path is latent UB — SURVEY.md §4 — we define
  it cleanly).

Spark-first: this is an equi-join on the row key with a band predicate on
the column interval. Catalyst plans it as a shuffle join on ``row``; the
band predicate is evaluated inside the join. One shuffle, no UDFs.
``adjacent_row_pairs`` is the same adjacent-row join over driver-held
arrays, for ``label_runs``' driver route: the reference's sort-merge
sweep of two rows becomes two ``searchsorted`` calls over row-major keys.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

CROSS = "cross"
EIGHT_WAY = "eight_way"
HORIZONTAL = "horizontal"


def _overlap(a_begin, a_end, b_begin, b_end, connectivity: str):
    if connectivity == CROSS:
        return (a_begin < b_end) & (b_begin < a_end)
    if connectivity == EIGHT_WAY:
        return (a_begin <= b_end) & (b_begin <= a_end)
    raise ValueError(f"unknown connectivity: {connectivity}")


def adjacent_row_edges(
    runs: DataFrame, connectivity: str = CROSS, id_col: str = "id"
) -> DataFrame:
    """Self-join runs of row y-1 with runs of row y on interval overlap.

    Returns the edge table ``(src BIGINT, dst BIGINT)`` with src from the
    upper row — scan-order ids make ``src < dst`` automatically canonical.
    """
    if connectivity == HORIZONTAL:
        schema = "src BIGINT, dst BIGINT"
        return runs.sparkSession.createDataFrame([], schema)
    a = runs.select(
        F.col("row").alias("a_row"),
        F.col("col_begin").alias("a_begin"),
        F.col("col_end").alias("a_end"),
        F.col(id_col).alias("src"),
    )
    b = runs.select(
        F.col("row").alias("b_row"),
        F.col("col_begin").alias("b_begin"),
        F.col("col_end").alias("b_end"),
        F.col(id_col).alias("dst"),
    )
    cond = (a["a_row"] == b["b_row"] - F.lit(1)) & _overlap(
        a["a_begin"], a["a_end"], b["b_begin"], b["b_end"], connectivity
    )
    return a.join(b, cond).select("src", "dst")


def adjacent_row_pairs(
    row: np.ndarray, begin: np.ndarray, end: np.ndarray, connectivity: str = CROSS
) -> tuple[np.ndarray, np.ndarray] | None:
    """``adjacent_row_edges`` over runs held as arrays sorted by
    ``(row, begin, end)``: the positions ``(upper, lower)`` of every pair
    that overlaps under ``connectivity``, ``upper`` in the row above.

    With the ends of each row ascending (true when a row's runs do not
    overlap, as pass 1's never do), a lower run's matches in the row above
    are one contiguous range: from the first run ending after its begin to
    the last run beginning before its end, each found by one binary search
    over ``row rank × column span + column`` keys. Returns ``None`` when a
    row's ends are out of order, or when a key could reach 2^62.
    """
    if connectivity not in (CROSS, EIGHT_WAY, HORIZONTAL):
        raise ValueError(f"unknown connectivity: {connectivity}")
    n = len(row)
    if connectivity == HORIZONTAL or not n:
        none = np.empty(0, dtype=np.int64)
        return none, none
    same_row = row[1:] == row[:-1]
    if np.any(same_row & (end[1:] < end[:-1])):
        return None
    row, begin, end = (a.astype(np.int64) for a in (row, begin, end))
    low = int(min(begin.min(), end.min()))
    span = int(max(begin.max(), end.max())) - low + 1
    rank = np.zeros(n, dtype=np.int64)
    rank[1:] = np.cumsum(~same_row)
    if (int(rank[-1]) + 1) * span >= 2**62:
        return None
    strict = connectivity == CROSS
    rows = row[np.flatnonzero(np.diff(rank, prepend=-1))]  # distinct, ascending
    has_up = (rank > 0) & (rows[rank - 1] == row - 1)
    up = (rank - 1) * span - low
    # strict: an upper run ends after the lower begin, and begins before
    # the lower end; a diagonal touch also counts for EIGHT_WAY
    lo = np.searchsorted(rank * span + end - low, up + begin, "right" if strict else "left")
    hi = np.searchsorted(rank * span + begin - low, up + end, "left" if strict else "right")
    counts = np.where(has_up, np.maximum(hi - lo, 0), 0)
    lower = np.repeat(np.arange(n), counts)
    upper = np.arange(len(lower)) - np.repeat(np.cumsum(counts) - counts - lo, counts)
    return upper, lower


def interval_join(
    left: DataFrame,
    right: DataFrame,
    on_row: bool = True,
    strict: bool = True,
    left_cols: tuple[str, str, str] = ("row", "col_begin", "col_end"),
    right_cols: tuple[str, str, str] = ("row", "col_begin", "col_end"),
    suffix: str = "_r",
) -> DataFrame:
    """Generic same-row interval join between two run tables.

    ``strict=False`` counts touching intervals (shared boundary under
    exclusive ends) as matches — this is what pairs land runs with the
    water runs of the complement (the reference's J2 positional pairing,
    src/morphology.cpp:264-312, replaced by a plain interval join with
    identical output).
    """
    lr, lb, le = left_cols
    rr, rb, re_ = right_cols
    r = right.select([F.col(c).alias(c + suffix) for c in right.columns])
    cond = _overlap(
        F.col(lb), F.col(le), F.col(rb + suffix), F.col(re_ + suffix),
        CROSS if strict else EIGHT_WAY,
    )
    if on_row:
        cond = (F.col(lr) == F.col(rr + suffix)) & cond
    return left.join(r, cond)
