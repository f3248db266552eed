"""Vector near-duplicates: one exact refinement behind three candidate routes.

A fuzzy-duplicate query has two halves: a cheap structure picks candidate
pairs, then an exact check keeps, drops or ranks each one. The routes differ
only in the first half:

- brute force (plans/queries.q_embedding_knn / q_embedding_near_pairs): the
  O(n^2) cross join, the exactness baseline at small scale;
- hyperplane LSH (this module, ann_topk / ann_near_pairs): random-hyperplane
  signatures (Charikar's SimHash for vectors) through the SAME banded Hamming
  self-join that powers text near-dup;
- IVF (operators/ivf.py): inverted lists over sampled coarse centroids.

The second half lives here once: the fixed-point scale (scaled_vec), the dot
product and cosine (rcos6), the join that brings both sides' vectors onto a
candidate frame (with_pair_vecs), and the two refinements — top-k
(topk_by_cosine) and threshold pairs (pairs_above). The hyperplane signer
(hyperplane_signed) holds the one eligibility rule of every hyperplane
surface: exactly `dim` elements.

LSH candidate recall is probabilistic (not pigeonhole-exact like text SimHash
at fixed radius): P[same band] = (1 - theta/pi)^bits_per_band per band. Tests
measure recall >= 0.9 vs brute force on clustered synthetic vectors; the
radius/band knobs trade recall for candidate volume.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import LongType
from pyspark.sql.window import Window

from .banded_join import banded_self_join


INT_SCALE = 1_000_000  # fixed-point scale shared with the SQL oracle
# per-band-key candidate cap of the LSH route (banded_self_join hot_threshold)
HOT_THRESHOLD = 10_000


def hyperplanes_int(dim: int, n_planes: int = 64, seed: int = 42) -> np.ndarray:
    """Seeded hyperplane matrix, fixed-point int64 (round(h * INT_SCALE)).

    Integer plane coefficients + integer-scaled vectors make the sign test
    EXACT arithmetic: the signature is bit-identical across executors, runs,
    engines (the DuckDB oracle embeds the same constants), and float
    summation orders — a float dot near zero could otherwise flip a bit
    between numpy's pairwise and SQL's sequential summation.
    """
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_planes, dim))
    return np.round(planes * INT_SCALE).astype(np.int64)


def make_hyperplane_udf(dim: int):
    """vector -> signed int64 hyperplane signature (bit i = sign(v . h_i)).

    Planes are derived from a seeded PRNG so every executor materializes the
    identical matrix — no broadcast needed, deterministic across runs. The
    dot products are exact int64 fixed-point (see hyperplanes_int); the
    input vector is scaled by INT_SCALE and rounded half-away-from-zero to
    match SQL round() semantics (numpy rounds half-to-even). A null or
    wrong-dim vector signs to 0; hyperplane_signed excludes such rows.
    """
    planes_t = hyperplanes_int(dim).T  # (dim, n_planes)
    weights = np.uint64(1) << np.arange(planes_t.shape[1], dtype=np.uint64)

    @F.pandas_udf(LongType())
    def hyperplane_sig(vecs: pd.Series) -> pd.Series:
        # ONE (m x dim) @ (dim x n_planes) int64 matmul per Arrow batch
        # instead of a per-row matvec loop — the signature kernel is the
        # 100-TB embedding path's hot spot, and the arithmetic is the exact
        # same int64 fixed-point sign test bit-for-bit (pinned in
        # tests/test_ann_multimodal.py::test_batch_kernel_bit_identical).
        n = len(vecs)
        out = np.zeros(n, dtype=np.int64)
        ok = np.fromiter(
            (v is not None and len(v) == dim for v in vecs), dtype=bool, count=n
        )
        if ok.any():
            x = np.vstack(
                [np.asarray(v, dtype=np.float64) for v in vecs[ok]]
            ) * INT_SCALE
            # round half-away-from-zero to match SQL round() (numpy rounds
            # half-to-even)
            xi = np.copysign(np.floor(np.abs(x) + 0.5), x).astype(np.int64)
            bits = (xi @ planes_t) >= 0  # (m, n_planes), exact int64 dots
            out[ok] = (bits * weights[None, :]).sum(axis=1).view(np.int64)
        return pd.Series(out)

    return hyperplane_sig


def hyperplane_signed(df: DataFrame, vec_col: str, dim: int, *cols) -> DataFrame:
    """`cols` + "sig": the hyperplane signature of every eligible vector.

    The eligibility rule of every hyperplane surface (batch LSH, streaming,
    incremental, media): a null vector, or one whose length is not exactly
    `dim`, is excluded. The kernel would sign a wrong-dim vector to the
    masked 0, so two unrelated ones would pair at distance 0 — while the SQL
    oracles' `len = dim` gate drops them."""
    sig_udf = make_hyperplane_udf(dim)
    return df.filter(
        F.col(vec_col).isNotNull() & (F.size(vec_col) == dim)
    ).select(*cols, sig_udf(F.col(vec_col).cast("array<double>")).alias("sig"))


def scaled_vec(col):
    """array<float/double> -> array<long>, fixed-point INT_SCALE.

    Cast to double BEFORE scaling so both engines round identical doubles;
    integer dots are then order-independent (exact) in every engine.
    """
    return F.transform(
        col,
        lambda x: F.round(x.cast("double") * F.lit(float(INT_SCALE))).cast("long"),
    )


def scaled_vecs(emb: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """("_id", "_v"): integer-scaled vectors with null/empty rows dropped —
    the brute-force and IVF eligibility rule. Such rows are absent from the
    SQL oracle by construction (unnest emits no rows), and dropping them
    keeps null/NaN cosines out of the rank ordering."""
    return emb.select(
        F.col(id_col).alias("_id"), scaled_vec(F.col(vec_col)).alias("_v")
    ).filter(F.col("_v").isNotNull() & (F.size("_v") > 0))


def _dot(a, b):
    # double accumulation: for INT_SCALE-scaled int vectors every partial sum
    # is an integer < 2^53 (dim<=128, |v|<=~2^20 scaled), so the float adds
    # are EXACT and order-independent — equal to the oracles' BIGINT sums;
    # raw double vectors also work (tests).
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def cosine(a, b):
    """Order-independent on scaled-int vectors; see _dot."""
    return _dot(a, b) / (F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b)))


def rcos6(a, b):
    """Rank/output-grade cosine: round to 6 decimals, then `+ 0.0` so a
    rounded -0.0 normalizes to +0.0. Every cosine that feeds an ORDER BY or
    the hash-gated output must use this (the SQL oracles add the same
    `+ 0.0`) — otherwise a candidate set holding both a -0.0 and a +0.0
    could rank or hash differently across engines."""
    return F.round(cosine(a, b), 6) + F.lit(0.0)


def with_pair_vecs(cand: DataFrame, vecs: DataFrame, left: str, right: str) -> DataFrame:
    """cand + "_va" / "_vb": the ("_id", "_v") vectors of its `left` and
    `right` ids, by two shuffle-hash joins — how a candidate route hands its
    pairs to topk_by_cosine or pairs_above."""
    a = vecs.select(F.col("_id").alias(left), F.col("_v").alias("_va"))
    b = vecs.select(F.col("_id").alias(right), F.col("_v").alias("_vb"))
    return cand.join(a.hint("shuffle_hash"), left).join(b.hint("shuffle_hash"), right)


def topk_by_cosine(pairs: DataFrame, k: int, id_col: str) -> DataFrame:
    """(qid, nid, _va, _vb) -> (id_col, neighbor_id, rank, cosine): each
    directed pair scored with rcos6, ranked per query by cosine descending
    then neighbour id ascending, rank <= k kept."""
    scored = pairs.select(
        "qid", "nid", rcos6(F.col("_va"), F.col("_vb")).alias("cosine")
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("nid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("qid").alias(id_col),
            F.col("nid").alias("neighbor_id"),
            F.col("rank").cast("int").alias("rank"),
            "cosine",
        )
    )


def pairs_above(pairs: DataFrame, threshold: float) -> DataFrame:
    """(id_lo, id_hi, _va, _vb) -> (id_lo, id_hi, cosine): each canonical
    pair scored with rcos6, cosine >= threshold kept."""
    return pairs.select(
        "id_lo", "id_hi", rcos6(F.col("_va"), F.col("_vb")).alias("cosine")
    ).filter(F.col("cosine") >= threshold)


def _prefilter_vecs(vecs: DataFrame, cand: DataFrame) -> DataFrame:
    """Semi-join reduction for the re-rank joins: the vector table is FAT
    (scaled int64 arrays) while the candidate-id set is bare longs — broadcast
    the distinct candidate ids so only vectors that appear in some candidate
    pair enter the exchange. Candidate volume is capped per band by
    HOT_THRESHOLD; at a scale where the distinct-id set outgrows a broadcast
    the caller should re-rank with plain shuffle joins instead."""
    ids = cand.select(F.explode(F.array("id_lo", "id_hi")).alias("_id")).distinct()
    return vecs.join(F.broadcast(ids), "_id", "left_semi")


def _lsh_candidates(
    emb: DataFrame, id_col: str, vec_col: str, dim: int, hamming_radius: int, n_bands: int
) -> tuple[DataFrame, DataFrame]:
    """(vecs, cand): the candidate-prefiltered scaled vectors ("_id", "_v")
    and the canonical banded-join candidates (id_lo, id_hi) — the shared
    front half of both LSH query shapes."""
    sigged = hyperplane_signed(
        emb, vec_col, dim, F.col(id_col).alias("_id"), scaled_vec(F.col(vec_col)).alias("_v")
    )
    # cand feeds three subtrees (the pair frame + both vector joins through
    # the prefilter); without a checkpoint the band join + Hamming verify
    # re-run per consumer — exchange reuse dedupes the shuffle but not the
    # join. The pair set is id-only and HOT_THRESHOLD-capped, so the
    # checkpoint is small at scale.
    cand = (
        banded_self_join(
            sigged,
            "_id",
            "sig",
            radius=hamming_radius,
            n_bands=n_bands,
            hot_threshold=HOT_THRESHOLD,
            require_full_recall=False,
        )
        .select("id_lo", "id_hi")
        .localCheckpoint()
    )
    return _prefilter_vecs(sigged.select("_id", "_v"), cand), cand


def ann_topk(
    emb: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    hamming_radius: int = 24,
    n_bands: int = 8,
) -> DataFrame:
    """(id, neighbor_id, rank, cosine): approximate top-k by cosine.

    Candidate pairs come back canonicalized (id_lo < id_hi); both directions
    are re-expanded before ranking so every id gets a list.
    """
    vecs, cand = _lsh_candidates(emb, id_col, vec_col, dim, hamming_radius, n_bands)
    both = cand.select(
        F.col("id_lo").alias("qid"), F.col("id_hi").alias("nid")
    ).unionByName(
        cand.select(F.col("id_hi").alias("qid"), F.col("id_lo").alias("nid"))
    )
    return topk_by_cosine(with_pair_vecs(both, vecs, "qid", "nid"), k, id_col)


def ann_near_pairs(
    emb: DataFrame,
    threshold: float,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    hamming_radius: int = 28,
    n_bands: int = 8,
) -> DataFrame:
    """(id_lo, id_hi, cosine) with cosine >= threshold — the ANN-routed scale
    path for embedding near-duplicate pairs (the O(n^2) cross join in
    plans/queries.q_embedding_near_pairs stays as the small-scale oracle).
    Recall is probabilistic in the LSH stage (measured vs the brute-force
    twin in tests); precision is exact.
    """
    vecs, cand = _lsh_candidates(emb, id_col, vec_col, dim, hamming_radius, n_bands)
    return pairs_above(with_pair_vecs(cand, vecs, "id_lo", "id_hi"), threshold)
