"""Deduplication operators for training-data pipelines.

- exact: hash-groupBy on sha256(text) — one shuffle, map-side combinable.
- minhash + LSH: shingle → xxhash64 → k permuted mins (vectorized Arrow
  UDF over the shingle-hash arrays) → band buckets → candidate pairs →
  exact-Jaccard verify → CC over the verified pairs = duplicate clusters.
- simhash: 64-bit sign-of-weighted-bit-sums over token hashes, Hamming
  band buckets for candidates.
- embedding near-dup: random-hyperplane LSH buckets + exact cosine verify.

Scale notes: candidate generation never compares all pairs — only within
LSH buckets; bucket joins are equi-joins on (band, hash) so Catalyst
shuffles once per side; the verify step is a join on the candidate pair
list (linear in candidates). Duplicate *clusters* come from the same
star-round CC used for the graph workloads — dedup at 100 TB is a
graph problem, which is exactly why this engine treats it as one.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from imtag_spark.operators.cc import connected_components
from imtag_spark.functions.polyhash import (
    M31,
    band_weights,
    minhash_coeffs,
    shingle_hash_sql,
    token_weight_sql,
)

# deterministic 64-bit mix constants for the k minhash permutations
_MERSENNE = (1 << 61) - 1


def exact_duplicates(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Groups of byte-identical docs: (text_sha, n_copies, representative)."""
    return (
        docs.select(F.col(id_col), F.sha2(F.col(text_col), 256).alias("text_sha"))
        .groupBy("text_sha")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min(id_col).alias("representative"),
        )
    )


def shingle_hashes(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 5
) -> DataFrame:
    """Char k-shingles → distinct xxhash64 values per doc: (id, sh BIGINT).

    JVM-side: sequence/explode + substring + xxhash64 — no Python.
    """
    t = F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ")
    n = F.greatest(F.length(t) - F.lit(k - 1), F.lit(1))
    return (
        docs.select(F.col(id_col).alias("id"), t.alias("_t"), n.alias("_n"))
        .select("id", F.explode(F.sequence(F.lit(1), F.col("_n"))).alias("pos"), "_t")
        .select("id", F.xxhash64(F.substring(F.col("_t"), F.col("pos"), k)).alias("sh"))
        .distinct()
    )


def _minhash_udf(num_hashes: int, seed: int):
    rng = np.random.default_rng(seed)
    a = rng.integers(1, _MERSENNE, size=num_hashes, dtype=np.int64)
    b = rng.integers(0, _MERSENNE, size=num_hashes, dtype=np.int64)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def minhash(shingles: pd.Series) -> pd.Series:
        out = []
        for arr in shingles:
            h = np.asarray(arr, dtype=np.uint64)
            # (a*h + b) mod p for all k perms at once: (k, n) matrix min
            hp = (a[:, None].astype(np.uint64) * h[None, :] + b[:, None].astype(np.uint64)) % np.uint64(_MERSENNE)
            out.append(hp.min(axis=1).astype(np.int64))
        return pd.Series(out)

    return minhash


def minhash_signatures(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 5,
    num_hashes: int = 128,
    seed: int = 42,
) -> DataFrame:
    """(id, sig ARRAY<BIGINT>[num_hashes]) minhash signatures."""
    sh = shingle_hashes(docs, text_col, id_col, shingle_k)
    grouped = sh.groupBy("id").agg(F.collect_list("sh").alias("shingles"))
    mh = _minhash_udf(num_hashes, seed)
    return grouped.select("id", mh("shingles").alias("sig"))


def cap_lsh_buckets(
    bucketed: DataFrame,
    keys: tuple[str, ...],
    bucket_cap: int | None,
    metrics_out: dict | None = None,
) -> DataFrame:
    """Bound LSH bucket-join fan-out: drop buckets with more than
    ``bucket_cap`` members before the self-join.

    A degenerate hot bucket — e.g. one boilerplate license paragraph whose
    band hash lands millions of docs in a single (band, bh) cell — makes
    the candidate self-join quadratic in that bucket's size; at 100 TB a
    10 M-row bucket is a 10^14-row join. A bucket that hot carries no
    near-dup signal anyway (its members pair with everything), so the
    standard fix is to drop buckets above a cap and surface what was
    dropped rather than silently grind.

    Implementation: map-side-combinable ``groupBy(keys).count`` + an
    equi-join back on the same keys (the following self-join shuffles on
    the identical keys, so the exchange is reused; no single-task hot
    window). When ``metrics_out`` is given, the dropped bucket/row counts
    are computed (one cheap aggregate over bucket counts) and recorded
    under ``lsh_buckets_dropped`` / ``lsh_rows_dropped`` — callers that
    cap MUST surface these, never truncate silently.
    """
    if bucket_cap is None:
        return bucketed
    counts = bucketed.groupBy(*keys).agg(F.count(F.lit(1)).alias("_bn"))
    if metrics_out is not None:
        dropped = (
            counts.where(F.col("_bn") > bucket_cap)
            .agg(
                F.count(F.lit(1)).alias("buckets"),
                F.coalesce(F.sum("_bn"), F.lit(0)).alias("rows"),
            )
            .collect()[0]
        )
        metrics_out["lsh_buckets_dropped"] = int(dropped["buckets"])
        metrics_out["lsh_rows_dropped"] = int(dropped["rows"])
    return bucketed.join(
        counts.where(F.col("_bn") <= bucket_cap), list(keys)
    ).drop("_bn")


def lsh_candidate_pairs(
    sigs: DataFrame,
    bands: int = 16,
    rows_per_band: int = 8,
    bucket_cap: int | None = None,
    metrics_out: dict | None = None,
) -> DataFrame:
    """Band the signatures and emit candidate pairs (a, b) with a < b."""
    banded = sigs.select(
        "id",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("band"),
                    F.xxhash64(
                        F.slice("sig", i * rows_per_band + 1, rows_per_band).cast("string")
                    ).alias("bh"),
                )
                for i in range(bands)
            ])
        ).alias("bb"),
    ).select("id", "bb.band", "bb.bh")
    banded = cap_lsh_buckets(banded, ("band", "bh"), bucket_cap, metrics_out)
    left = banded.select("band", "bh", F.col("id").alias("a"))
    right = banded.select("band", "bh", F.col("id").alias("b"))
    return (
        left.join(right, ["band", "bh"])
        .where(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )


def exact_jaccard(shingles: DataFrame, pairs: DataFrame) -> DataFrame:
    """Verify candidates: exact Jaccard over the shingle sets.

    ``shingles``: (id, sh); ``pairs``: (a, b). Output (a, b, jaccard).
    Intersection via join on shingle hash restricted to candidate pairs;
    sizes via two broadcast-friendly aggregates.
    """
    sizes = shingles.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
    inter = (
        pairs.join(shingles.select(F.col("id").alias("a"), "sh"), "a")
        .join(shingles.select(F.col("id").alias("b"), F.col("sh").alias("sh2")), "b")
        .where(F.col("sh") == F.col("sh2"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        inter.join(sizes.select(F.col("id").alias("a"), F.col("n").alias("na")), "a")
        .join(sizes.select(F.col("id").alias("b"), F.col("n").alias("nb")), "b")
        .select(
            "a", "b",
            (F.col("n_inter") / (F.col("na") + F.col("nb") - F.col("n_inter"))).alias("jaccard"),
        )
    )


def minhash_dedup_clusters(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    shingle_k: int = 5,
    num_hashes: int = 128,
    bands: int = 16,
    seed: int = 42,
    bucket_cap: int | None = None,
    metrics_out: dict | None = None,
) -> DataFrame:
    """Full near-dup pipeline → (id, cluster) for every doc in a dup pair.

    cluster = min doc id of the near-duplicate group (CC over verified
    pairs — the same labeling contract as the graph CC). ``bucket_cap``
    bounds hot LSH buckets (see :func:`cap_lsh_buckets`); dropped counts
    land in ``metrics_out``.
    """
    rows_per_band = num_hashes // bands
    sh = shingle_hashes(docs, text_col, id_col, shingle_k).persist()
    grouped = sh.groupBy("id").agg(F.collect_list("sh").alias("shingles"))
    sigs = grouped.select("id", _minhash_udf(num_hashes, seed)("shingles").alias("sig"))
    cands = lsh_candidate_pairs(sigs, bands, rows_per_band, bucket_cap, metrics_out)
    verified = exact_jaccard(sh, cands).where(F.col("jaccard") >= threshold)
    edges = verified.select(F.col("a").alias("src"), F.col("b").alias("dst"))
    clusters = connected_components(edges).select(
        F.col("vertex").alias("id"), F.col("component").alias("cluster")
    )
    sh.unpersist()
    return clusters


# ---------------------------------------------------------------------------
# SQL-expressible profile: identical pipelines keyed off the closed-form
# polynomial hashes of functions/polyhash.py instead of xxhash64/NumPy RNG.
# Same banding/verify/clustering code paths and the same scale shape (the
# hash is a JVM expression inside whole-stage codegen — arguably *better*
# than the UDF signature path for the minhash sizes used here), but every
# intermediate is reproducible by an external ANSI-SQL oracle, which is what
# turns the whole near-dup pipeline into a hard-checkable query.
# ---------------------------------------------------------------------------


def shingle_hashes_sql(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 5
) -> DataFrame:
    """Char k-shingles → distinct polynomial hashes: (id, sh BIGINT in [0, M31)).

    Whitespace-collapsed lowercase text, same normalization as
    :func:`shingle_hashes`; the hash fragment itself is shared verbatim
    with the oracle SQL (polyhash.shingle_hash_sql)."""
    t = F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ")
    n = F.greatest(F.length(t) - F.lit(k - 1), F.lit(1))
    return (
        docs.select(F.col(id_col).alias("id"), t.alias("_t"), n.alias("_n"))
        .select("id", F.explode(F.sequence(F.lit(1), F.col("_n"))).alias("pos"), "_t")
        .select("id", F.expr(shingle_hash_sql("_t", "pos", k)).alias("sh"))
        .distinct()
    )


def minhash_signatures_sql(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 5,
    num_hashes: int = 32,
) -> DataFrame:
    """(id, sig ARRAY<BIGINT>[num_hashes]) via closed-form permutations
    h -> (a_j*h + b_j) % M31 — num_hashes min-aggregates in ONE map-side-
    combinable groupBy, fully JVM-side (no signature UDF needed at this
    permutation count)."""
    a, b = minhash_coeffs(num_hashes)
    sh = shingle_hashes_sql(docs, text_col, id_col, shingle_k)
    mins = [
        F.min((F.col("sh") * F.lit(a[j]) + F.lit(b[j])) % F.lit(M31)).alias(f"_mh{j}")
        for j in range(num_hashes)
    ]
    wide = sh.groupBy("id").agg(*mins)
    return wide.select(
        "id", F.array(*[F.col(f"_mh{j}") for j in range(num_hashes)]).alias("sig")
    )


def _band_bucket_sql(sigs: DataFrame, bands: int, rows_per_band: int) -> DataFrame:
    """(id, band, bh) with the order-independent weighted-sum bucket hash."""
    w = band_weights(rows_per_band)
    entries = []
    for bi in range(bands):
        acc = None
        for r in range(rows_per_band):
            term = (F.col("sig")[bi * rows_per_band + r] * F.lit(w[r])) % F.lit(M31)
            acc = term if acc is None else acc + term
        entries.append(
            F.struct(F.lit(bi).alias("band"), (acc % F.lit(M31)).alias("bh"))
        )
    return sigs.select("id", F.explode(F.array(*entries)).alias("bb")).select(
        "id", "bb.band", "bb.bh"
    )


def minhash_dedup_clusters_sql(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    shingle_k: int = 5,
    num_hashes: int = 32,
    bands: int = 8,
    bucket_cap: int | None = None,
    metrics_out: dict | None = None,
) -> DataFrame:
    """Oracle-checkable near-dup pipeline → (id, cluster); same shape as
    :func:`minhash_dedup_clusters` (band-bucket equi-join candidates, exact
    Jaccard verify, CC clusters = min doc id). ``bucket_cap`` (off by
    default so the oracle replay stays byte-exact; a capped run is
    reproduced in SQL with a HAVING count(*) <= cap on the bucket CTE)
    bounds hot buckets per :func:`cap_lsh_buckets`."""
    rows_per_band = num_hashes // bands
    sh = shingle_hashes_sql(docs, text_col, id_col, shingle_k).persist()
    sigs = minhash_signatures_sql(docs, text_col, id_col, shingle_k, num_hashes)
    banded = _band_bucket_sql(sigs, bands, rows_per_band)
    banded = cap_lsh_buckets(banded, ("band", "bh"), bucket_cap, metrics_out)
    cands = (
        banded.select("band", "bh", F.col("id").alias("a"))
        .join(banded.select("band", "bh", F.col("id").alias("b")), ["band", "bh"])
        .where(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    verified = exact_jaccard(sh, cands).where(F.col("jaccard") >= threshold)
    edges = verified.select(F.col("a").alias("src"), F.col("b").alias("dst"))
    clusters = connected_components(edges).select(
        F.col("vertex").alias("id"), F.col("component").alias("cluster")
    )
    sh.unpersist()
    return clusters


def simhash_signatures_sql(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_bits: int = 32,
) -> DataFrame:
    """Oracle-checkable simhash: (id, simhash BIGINT over n_bits bits).

    Token hash = order-weighted char sum mod M31 (31 useful bits, so
    n_bits ≤ 31... 32 keeps the top bit constantly 0, harmless); votes and
    bit packing are plain aggregates — the whole signature is JVM-side SQL,
    mirrored literally by the DuckDB oracle."""
    t = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    toks = docs.select(
        F.col(id_col).alias("id"), F.posexplode(F.split(t, " ")).alias("ti", "tok")
    )
    # per-char terms; greatest(len,1) keeps empty tokens as a single
    # codepoint-0 term so both engines agree on empty-text docs
    chars = toks.select(
        "id",
        "ti",
        F.explode(
            F.sequence(F.lit(1), F.greatest(F.length("tok"), F.lit(1)))
        ).alias("i"),
        "tok",
    )
    term = (
        F.expr("CAST(ascii(substring(tok, i, 1)) AS BIGINT)")
        * F.expr(token_weight_sql("i - 1"))
    ) % F.lit(M31)
    th = chars.select("id", "ti", term.alias("term")).groupBy("id", "ti").agg(
        (F.sum("term") % F.lit(M31)).alias("th")
    )
    bits = th.select(
        "id", "th", F.explode(F.sequence(F.lit(0), F.lit(n_bits - 1))).alias("p")
    ).select(
        "id",
        "p",
        # expr: the DSL shiftright only takes a literal shift amount
        (F.expr("shiftright(th, p) & 1") * 2 - 1).alias("v"),
    )
    votes = bits.groupBy("id", "p").agg(F.sum("v").alias("vote"))
    return votes.groupBy("id").agg(
        F.sum(
            F.when(F.col("vote") > 0, F.expr("shiftleft(CAST(1 AS BIGINT), p)"))
            .otherwise(F.lit(0))
        ).alias("simhash")
    )


def simhash_signatures(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """64-bit simhash over whitespace tokens: (id, simhash BIGINT).

    Vectorized Arrow UDF: per doc, token hashes vote ±1 on each of 64 bits.
    """
    toks = F.split(F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " "), " ")
    th = docs.select(
        F.col(id_col).alias("id"), F.explode(toks).alias("tok")
    ).select("id", F.xxhash64("tok").alias("th"))
    grouped = th.groupBy("id").agg(F.collect_list("th").alias("hashes"))

    @F.pandas_udf(T.LongType())
    def simhash(hs: pd.Series) -> pd.Series:
        out = np.empty(len(hs), dtype=np.int64)
        bitpos = np.arange(64, dtype=np.uint64)
        for i, arr in enumerate(hs):
            h = np.asarray(arr, dtype=np.uint64)
            bits = (h[:, None] >> bitpos[None, :]) & np.uint64(1)  # (n, 64)
            votes = bits.sum(axis=0) * 2 - len(h)  # ±1 votes summed
            out[i] = np.int64(
                np.uint64(((votes > 0).astype(np.uint64) << bitpos).sum(dtype=np.uint64))
            )
        return pd.Series(out)

    return grouped.select("id", simhash("hashes").alias("simhash"))


def simhash_candidates(
    sigs: DataFrame,
    max_hamming: int = 3,
    n_blocks: int = 4,
    block_bits: int = 16,
    bucket_cap: int | None = None,
    metrics_out: dict | None = None,
) -> DataFrame:
    """Near-dup candidates by banding the simhash into ``n_blocks`` blocks
    of ``block_bits`` bits (pigeonhole: any pair within Hamming ≤ n_blocks-1
    shares at least one block), then verifying Hamming distance with
    bit_count. Defaults fit the 64-bit signatures; the 32-bit SQL-profile
    signatures use 4×8. ``bucket_cap`` bounds hot (blk, bh) buckets per
    :func:`cap_lsh_buckets`."""
    mask = (1 << block_bits) - 1
    blocks = sigs.select(
        "id",
        "simhash",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("blk"),
                    F.shiftrightunsigned("simhash", i * block_bits)
                    .bitwiseAND(F.lit(mask))
                    .alias("bh"),
                )
                for i in range(n_blocks)
            ])
        ).alias("bb"),
    ).select("id", "simhash", "bb.blk", "bb.bh")
    blocks = cap_lsh_buckets(blocks, ("blk", "bh"), bucket_cap, metrics_out)
    left = blocks.select("blk", "bh", F.col("id").alias("a"), F.col("simhash").alias("sa"))
    right = blocks.select("blk", "bh", F.col("id").alias("b"), F.col("simhash").alias("sb"))
    return (
        left.join(right, ["blk", "bh"])
        .where(F.col("a") < F.col("b"))
        .select("a", "b", F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))).alias("hamming"))
        .distinct()
        .where(F.col("hamming") <= max_hamming)
    )
