"""MinHash-LSH candidate generation (the second fingerprint family).

Replaces the reference's secondary hash (dHash slot,
/root/reference/scanner/hashFile.py:115-120) with set-similarity LSH:
k-token shingles -> MinHash(k) -> band the signature into b bands of r rows
-> docs sharing any band's hashed slice become candidate pairs. Standard
(b, r) S-curve: P(candidate) = 1 - (1 - s^r)^b for Jaccard s.

Band key = xxhash64 of the band's rows (JVM-side over the sig array slice);
pairs are verified downstream (exact Jaccard or containment) before entering
the pairs table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.columns import canonical_pair


def minhash_band_keys(
    sig_col: str, n_bands: int, rows_per_band: int
) -> F.Column:
    """array<long> signature -> array of n_bands 64-bit band digests."""
    return F.array(
        *[
            F.xxhash64(
                F.lit(i), F.slice(F.col(sig_col), i * rows_per_band + 1, rows_per_band)
            )
            for i in range(n_bands)
        ]
    )


def minhash_candidate_pairs(
    df: DataFrame,
    id_col: str = "id",
    sig_col: str = "minhash",
    n_bands: int = 32,
    *,
    rows_per_band: int,
    hot_threshold: int | None = None,
) -> DataFrame:
    """Canonical candidate pairs (id_lo, id_hi, n_shared_bands).

    Null signatures (no shingles — degenerate docs) are excluded, mirroring
    the pHash IS NOT NULL gate (/root/reference/dbApi.py:395-404).

    Physical plan, hot-capped path (the engine default — pipeline passes
    cfg.hot_band_threshold): ONE exchange total. The exploded (band_key, id)
    rows are hash-partitioned on band_key; a window count over the clustered
    rows gates singleton and hot buckets WITHOUT a second exchange or a
    broadcast barrier (the old plan paid a separate pre-aggregation job +
    broadcast anti-join + a shuffle-hash self-join + the pair groupBy — four
    coordinated stages whose fixed costs dominated at low data-per-core and
    capped the stage's 2->8 scaling at 0.45); the surviving buckets collapse
    to id lists (bounded by hot_threshold, so a bucket is <= threshold longs)
    and pairs are emitted JVM-side from each list with a nested transform —
    no join at all. The band id is NOT part of the bucket key: band_key =
    xxhash64(band_id, slice) already embeds it, so dropping the column slims
    every exchanged row (the old join key carried it redundantly).

    Unbounded path (hot_threshold=None, the strict all-pairs variant used by
    oracle-parity queries): bucket width is unbounded, so materializing
    C(m, 2) pairs per bucket row could not be memory-safe — the plan stays a
    streaming shuffle-hash self-join over one reused exchange.
    """
    src = df.filter(F.col(sig_col).isNotNull())
    bands = src.select(
        F.col(id_col).alias("_id"),
        F.explode(minhash_band_keys(sig_col, n_bands, rows_per_band)).alias(
            "band_key"
        ),
    ).repartition("band_key")
    if hot_threshold is not None:
        from pyspark.sql.window import Window

        w = Window.partitionBy("band_key")
        buckets = (
            bands.withColumn("_n", F.count("*").over(w))
            .filter((F.col("_n") >= 2) & (F.col("_n") <= hot_threshold))
            .groupBy("band_key")
            .agg(F.collect_list("_id").alias("_ids"))
        )
        pairs = buckets.select(
            F.explode(
                F.flatten(
                    F.transform(
                        "_ids",
                        lambda x, i: F.transform(
                            F.slice("_ids", i + F.lit(2), F.size("_ids")),
                            lambda y: F.struct(
                                F.least(x, y).alias("id_lo"),
                                F.greatest(x, y).alias("id_hi"),
                            ),
                        ),
                    )
                )
            ).alias("_p")
        ).select("_p.id_lo", "_p.id_hi")
        # same-doc self-pairs require a cross-band 64-bit key collision within
        # one doc (the old (band_id, key) join had the same exposure through
        # key collisions within a band); filtered for exactness either way
        pairs = pairs.filter(F.col("id_lo") != F.col("id_hi"))
    else:
        # both join children canonicalize to the same repartitioned subtree,
        # so the right side is a ReusedExchange (exploded + shuffled once,
        # read twice)
        l = bands.select("band_key", F.col("_id").alias("_la"))
        r = bands.select("band_key", F.col("_id").alias("_lb"))
        pairs = (
            l.join(r.hint("shuffle_hash"), ["band_key"])
            .filter(F.col("_la") < F.col("_lb"))
            .select(*canonical_pair("_la", "_lb"))
        )
    return pairs.groupBy("id_lo", "id_hi").agg(
        F.count("*").alias("n_shared_bands")
    )


def jaccard_verify_pairs(
    candidates: DataFrame,
    docs: DataFrame,
    id_col: str = "id",
    shingle_set_col: str = "shingle_hashes",
    threshold: float = 0.7,
    prefilter_ids: bool = True,
) -> DataFrame:
    """Exact Jaccard over shingle-hash sets for candidate pairs.

    docs must carry an array<long> of *distinct* shingle hashes. JVM-side:
    array_intersect / array_union, no UDF.

    prefilter_ids (semi-join reduction): the docs rows are FAT (shingle-hash
    arrays, hundreds of longs each) while the candidate-id set is bare longs,
    so broadcast the distinct candidate ids and semi-filter docs before the
    two verify joins — only docs that appear in some candidate pair pay the
    exchange. The joins themselves are hinted shuffle_hash: both sides are
    keyed on the id, and sort-merge would sort the array rows for nothing.
    Disable when the candidate-id set itself is too large to broadcast
    (>~10^8 distinct ids); the plan then degrades to plain shuffle joins.
    """
    a = docs.select(
        F.col(id_col).alias("id_lo"), F.col(shingle_set_col).alias("_sa")
    )
    b = docs.select(
        F.col(id_col).alias("id_hi"), F.col(shingle_set_col).alias("_sb")
    )
    if prefilter_ids:
        ids = candidates.select(
            F.explode(F.array("id_lo", "id_hi")).alias("_cid")
        ).distinct()
        a = a.join(
            F.broadcast(ids.select(F.col("_cid").alias("id_lo"))), "id_lo", "left_semi"
        )
        b = b.join(
            F.broadcast(ids.select(F.col("_cid").alias("id_hi"))), "id_hi", "left_semi"
        )
    return (
        candidates.join(a.hint("shuffle_hash"), "id_lo")
        .join(b.hint("shuffle_hash"), "id_hi")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("_sa", "_sb"))
            / F.size(F.array_union("_sa", "_sb")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_lo", "id_hi", "jaccard")
    )
