"""IVF-flat approximate nearest neighbor — the second ANN scale path.

operators/ann.py routes candidates through hyperplane-LSH band joins (the
text-SimHash trick reused on vectors). This module is the classical inverted-
file alternative: quantize every vector to its nearest coarse centroid (its
"cell"), store vectors as per-cell inverted lists, and answer a query by
scanning only the lists of its `nprobe` closest cells. The reference's
BK-tree plays the same role for Hamming space (prune the search to a metric
neighborhood, /root/reference/deduplicator/bktree.hpp getWithinDistance);
IVF is that idea for cosine space, realized as pure DataFrame algebra.

Spark realization — zero Python in the hot path, three slim exchanges:

1. coarse centroids: the `n_cells` vectors with the smallest
   (md5(vec_id), vec_id) — a distributed TakeOrdered top-k, engine-portable
   (the DuckDB oracle recomputes the identical sample; same device as
   plans/queries.q_deterministic_sample). Sampled centroids are a legitimate
   IVF quantizer, and the one every gated query replays.
2. assignment: broadcast the centroid table (n_cells x dim ints — KB-sized
   driver state, exactly what a cluster would broadcast) and compute the
   exact integer-scaled cosine of every (vector, centroid) pair in one
   map-only pass; rank cells per vector with a window over the SLIM
   (id, cell, ccos) projection — vectors never ride this exchange.
3. candidates: each vector's inverted-list cell is its rank-1 assignment;
   each QUERY probes its `nprobe` best cells. probes |><| members on cell_id
   (slim id pairs). The route ends there: ann's shared refinement
   (with_pair_vecs, then topk_by_cosine or pairs_above) joins the vectors
   back by id and scores each candidate with the exact fixed-point cosine.

Determinism contract (shared with the DuckDB oracle, which replays the
whole plan as SQL — candidacy is part of the differential spec, so the
driver check is hash-exact, not recall-statistical): integer-scaled vectors
(ann.INT_SCALE) make every dot/norm an exact int64; cosines are rounded to
6 decimals before any ordering; all ties break on ascending id. `+ 0.0`
normalizes a rounded -0.0 so both engines order the zero identically.

Recall is governed by (n_cells, nprobe): nprobe == n_cells degenerates to
exhaustive search (pinned equal to brute force in tests); the sf-gated query
uses nprobe < n_cells so cell pruning is exercised under the hash gate.
Skew: cell populations are data-dependent; `hot_cap` (the S13 analog)
excludes cells whose list exceeds the cap from candidacy so one megacell
cannot quadratically dominate the probe join — at 10^12 rows size n_cells
~ sqrt(n) and cap lists at a small multiple of the mean.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

from .ann import pairs_above, rcos6, scaled_vecs, topk_by_cosine, with_pair_vecs


def _sample_centroids(vecs: DataFrame, n_cells: int) -> list[tuple[int, list[int]]]:
    """[(cell_id, scaled_centroid_vec)] from an ann.scaled_vecs frame — the
    n_cells rows with the smallest (md5(id), id). orderBy+limit compiles to
    a distributed TakeOrdered (no global sort); the result is the
    coarse-quantizer state every IVF build materializes driver-side and
    broadcasts (KBs: n_cells x dim x 8B)."""
    rows = (
        vecs.orderBy(F.md5(F.col("_id").cast("string")).asc(), F.col("_id").asc())
        .limit(n_cells)
        .collect()
    )
    return [(i, list(r["_v"])) for i, r in enumerate(rows)]


def _ranked_cells(vecs: DataFrame, n_cells: int) -> DataFrame:
    """("_id", "cell_id", "_r"): every vector's cells ranked by exact cosine
    to the sampled centroids (ties -> lower cell_id); rank 1 is the vector's
    inverted-list cell. Map-only broadcast quantization, then one window
    over the SLIM (id, cell, ccos) projection — vectors never ride this
    exchange. The one cell assignment: _ivf_candidates and ivf_cell_stats
    both call it, so they cannot drift."""
    cents = vecs.sparkSession.createDataFrame(
        _sample_centroids(vecs, n_cells), "cell_id int, cvec array<bigint>"
    )
    w = Window.partitionBy("_id").orderBy(F.desc("_ccos"), F.asc("cell_id"))
    return (
        vecs.join(F.broadcast(cents))
        .select("_id", "cell_id", rcos6(F.col("_v"), F.col("cvec")).alias("_ccos"))
        .select("_id", "cell_id", F.row_number().over(w).alias("_r"))
    )


def _ivf_candidates(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    n_cells: int,
    nprobe: int,
    hot_cap: int | None,
) -> tuple[DataFrame, DataFrame]:
    """(vecs, cand): the checkpointed scaled-vector table ("_id", "_v") and the
    directed probe candidates (qid, nid) — the shared front half of both IVF
    query shapes."""
    # the quantizer build and the main job both read the checkpointed
    # vectors instead of re-scanning the source
    vecs = scaled_vecs(emb, id_col, vec_col).localCheckpoint()
    ranked_cells = _ranked_cells(vecs, n_cells).localCheckpoint()

    members = ranked_cells.filter(F.col("_r") == 1).select(
        F.col("cell_id"), F.col("_id").alias("nid")
    )
    if hot_cap is not None:
        ok = (
            members.groupBy("cell_id")
            .count()
            .filter(F.col("count") <= hot_cap)
            .select("cell_id")
        )
        members = members.join(F.broadcast(ok), "cell_id", "left_semi")
    probes = ranked_cells.filter(F.col("_r") <= nprobe).select(
        F.col("cell_id"), F.col("_id").alias("qid")
    )
    # a member belongs to exactly one cell and probe cells are distinct per
    # query, so (qid, nid) pairs are unique by construction — no dedup pass
    cand = probes.join(members.hint("shuffle_hash"), "cell_id").filter(
        F.col("qid") != F.col("nid")
    )
    return vecs, cand.select("qid", "nid")


def ivf_topk(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    n_cells: int = 16,
    nprobe: int = 4,
    hot_cap: int | None = None,
) -> DataFrame:
    """(id, neighbor_id, rank, cosine): IVF-routed approximate top-k.

    Missing true neighbors live in unprobed cells (ANN semantics); every
    returned cosine is exact. Columns match the brute-force twin
    (plans/queries.q_embedding_knn) so recall is directly measurable.
    """
    vecs, cand = _ivf_candidates(emb, id_col, vec_col, n_cells, nprobe, hot_cap)
    return topk_by_cosine(with_pair_vecs(cand, vecs, "qid", "nid"), k, id_col)


def ivf_near_pairs(
    emb: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    nprobe: int = 4,
    hot_cap: int | None = None,
) -> DataFrame:
    """(id_lo, id_hi, cosine) with cosine >= threshold — the IVF-routed twin
    of ann.ann_near_pairs. A pair is a candidate when EITHER side probes the
    other's cell (both sides always probe their own cell at rank 1, so
    same-cell pairs are never missed); directed candidates canonicalize to
    undirected pairs before the exact re-rank, so each pair pays one cosine.
    Precision is exact; recall is governed by (n_cells, nprobe)."""
    vecs, cand = _ivf_candidates(emb, id_col, vec_col, n_cells, nprobe, hot_cap)
    pairs = cand.select(
        F.least("qid", "nid").alias("id_lo"),
        F.greatest("qid", "nid").alias("id_hi"),
    ).distinct()
    return pairs_above(with_pair_vecs(pairs, vecs, "id_lo", "id_hi"), threshold)


def ivf_cell_stats(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
) -> DataFrame:
    """(cell_id, n_members, min_id, max_id): inverted-list sizes of the
    sampled-quantizer IVF index — the S13-style observability surface for
    the vector path. Cell-population skew is data-dependent; this table is
    what hot_cap thresholds are SET from (read the histogram, pick the cap),
    so it's a first-class gated surface rather than a debug print.

    The same cell assignment as _ivf_candidates (_ranked_cells), with the
    probe/candidate stages dropped: one partial-aggregated exchange on
    cell_id over the rank-1 cells. n_cells rows out by construction."""
    members = _ranked_cells(scaled_vecs(emb, id_col, vec_col), n_cells).filter(
        F.col("_r") == 1
    )
    return members.groupBy("cell_id").agg(
        F.count("*").alias("n_members"),
        F.min("_id").alias("min_id"),
        F.max("_id").alias("max_id"),
    )
