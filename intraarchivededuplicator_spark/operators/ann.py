"""Approximate nearest neighbor over embedding columns — the scale path.

Brute-force cosine top-k (plans/queries.q_embedding_knn) is the exactness
baseline but is O(n^2) — fine at sf0.1, impossible at 10^12 rows. The scale
path reuses the engine's core trick: random-hyperplane LSH packs each vector
into a 64-bit signature whose Hamming distance estimates angular distance
(Charikar's SimHash for vectors), then the SAME banded Hamming self-join that
powers text near-dup generates candidates, and exact cosine re-ranks them.
One signature kernel, two modalities (text SimHash / vector hyperplane LSH) —
the index is the shuffle layout, no driver-side state.

Candidate recall is probabilistic (not pigeonhole-exact like text SimHash at
fixed radius): P[same band] = (1 - theta/pi)^bits_per_band per band. Tests
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


def make_hyperplane_udf(dim: int, n_planes: int = 64, seed: int = 42):
    """vector -> signed int64 hyperplane signature (bit i = sign(v . h_i)).

    Planes are derived from a seeded PRNG so every executor materializes the
    identical matrix — no broadcast needed, deterministic across runs. The
    dot products are exact int64 fixed-point (see hyperplanes_int); the
    input vector is scaled by INT_SCALE and rounded half-away-from-zero to
    match SQL round() semantics (numpy rounds half-to-even).
    """
    planes_t = hyperplanes_int(dim, n_planes, seed).T  # (dim, n_planes)
    weights = (np.uint64(1) << np.arange(n_planes, dtype=np.uint64))

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


def scaled_vec(col):
    """array<float/double> -> array<long>, fixed-point INT_SCALE.

    Cast to double BEFORE scaling so both engines round identical doubles;
    integer dots are then order-independent (exact) in every engine.
    """
    return F.transform(
        col,
        lambda x: F.round(x.cast("double") * F.lit(float(INT_SCALE))).cast("long"),
    )


def _dot(a, b):
    # double accumulation: for INT_SCALE-scaled int vectors every partial sum
    # is an integer < 2^53 (dim<=128, |v|<=~2^20 scaled), so the float adds
    # are EXACT and order-independent; raw double vectors also work (tests).
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


def _prefilter_vecs(vecs: DataFrame, cand: DataFrame, out_id: str) -> DataFrame:
    """Semi-join reduction for the re-rank joins: the vector table is FAT
    (scaled int64 arrays) while the candidate-id set is bare longs — broadcast
    the distinct candidate ids so only vectors that appear in some candidate
    pair enter the exchange. Candidate volume is capped per band by
    hot_threshold; at a scale where the distinct-id set outgrows a broadcast
    the caller should re-rank with plain shuffle joins instead."""
    ids = cand.select(F.explode(F.array("id_lo", "id_hi")).alias(out_id)).distinct()
    return vecs.join(F.broadcast(ids), out_id, "left_semi")


def ann_topk(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    dim: int | None = None,
    hamming_radius: int = 24,
    n_bands: int = 8,
    seed: int = 42,
    hot_threshold: int | None = 10_000,
) -> DataFrame:
    """(id, neighbor_id, rank, cosine): approximate top-k by cosine.

    sig -> banded Hamming self-join (candidates) -> exact cosine -> window
    top-k. Candidate pairs come back canonicalized (id_lo < id_hi); both
    directions are re-expanded before ranking so every id gets a list.
    """
    if dim is None:
        # driver round-trip; callers on big tables should pass dim explicitly
        dim = len(emb.select(vec_col).first()[0])
    sig_udf = make_hyperplane_udf(dim, seed=seed)
    sigged = emb.select(
        F.col(id_col).alias("_aid"),
        scaled_vec(F.col(vec_col)).alias("_vec"),
        sig_udf(F.col(vec_col).cast("array<double>")).alias("_sig"),
        # eligibility contract: EXACTLY dim elements. Null/empty vectors are
        # absent from the SQL oracle (unnest emits no rows); a WRONG-dim
        # vector would sign to the masked 0 in the kernel while the oracle
        # computed a partial-dot signature — so both engines exclude it
        # outright (the oracle's ev CTE carries the same len = dim gate)
    ).filter(F.col("_vec").isNotNull() & (F.size("_vec") == dim))
    # cand feeds THREE subtrees (both directions + the two vector
    # prefilters); without a checkpoint the band join + Hamming verify re-run
    # per consumer — exchange reuse dedupes the shuffle but not the join.
    # The pair set is id-only and hot_threshold-capped, so the checkpoint
    # is small at scale.
    cand = banded_self_join(
        sigged,
        "_aid",
        "_sig",
        radius=hamming_radius,
        n_bands=n_bands,
        hot_threshold=hot_threshold,
        require_full_recall=False,
    ).localCheckpoint()
    both = cand.select(
        F.col("id_lo").alias("qid"), F.col("id_hi").alias("nid")
    ).unionByName(
        cand.select(F.col("id_hi").alias("qid"), F.col("id_lo").alias("nid"))
    )
    q = _prefilter_vecs(
        sigged.select(F.col("_aid").alias("qid"), F.col("_vec").alias("qv")), cand, "qid"
    )
    n = _prefilter_vecs(
        sigged.select(F.col("_aid").alias("nid"), F.col("_vec").alias("nv")), cand, "nid"
    )
    scored = (
        both.join(q.hint("shuffle_hash"), "qid")
        .join(n.hint("shuffle_hash"), "nid")
        .select(
            "qid", "nid", rcos6(F.col("qv"), F.col("nv")).alias("cosine")
        )
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


def ann_near_pairs(
    emb: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    hamming_radius: int = 28,
    n_bands: int = 8,
    seed: int = 42,
    hot_threshold: int | None = 10_000,
) -> DataFrame:
    """(id_lo, id_hi, cosine) with cosine >= threshold — the ANN-routed scale
    path for embedding near-duplicate pairs (the O(n^2) cross join in
    plans/queries.q_embedding_near_pairs stays as the small-scale oracle).

    Candidates come from the banded hyperplane-LSH self-join; survivors get
    an exact integer-scaled cosine. Recall is probabilistic in the LSH stage
    (measured vs the brute-force twin in tests); precision is exact.
    """
    if dim is None:
        dim = len(emb.select(vec_col).first()[0])
    sig_udf = make_hyperplane_udf(dim, seed=seed)
    sigged = emb.select(
        F.col(id_col).alias("_aid"),
        scaled_vec(F.col(vec_col)).alias("_vec"),
        sig_udf(F.col(vec_col).cast("array<double>")).alias("_sig"),
        # eligibility contract: EXACTLY dim elements (see ann_topk)
    ).filter(F.col("_vec").isNotNull() & (F.size("_vec") == dim))
    # three consumers, same rationale as ann_topk's checkpoint
    cand = banded_self_join(
        sigged,
        "_aid",
        "_sig",
        radius=hamming_radius,
        n_bands=n_bands,
        hot_threshold=hot_threshold,
        require_full_recall=False,
    ).localCheckpoint()
    a = _prefilter_vecs(
        sigged.select(F.col("_aid").alias("id_lo"), F.col("_vec").alias("_va")), cand, "id_lo"
    )
    b = _prefilter_vecs(
        sigged.select(F.col("_aid").alias("id_hi"), F.col("_vec").alias("_vb")), cand, "id_hi"
    )
    return (
        cand.select("id_lo", "id_hi")
        .join(a.hint("shuffle_hash"), "id_lo")
        .join(b.hint("shuffle_hash"), "id_hi")
        .select(
            "id_lo",
            "id_hi",
            rcos6(F.col("_va"), F.col("_vb")).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )
