"""MinHash-LSH candidate generation: the hot-capped single-exchange
bucket-collect plan must emit the exact pair set (ids AND n_shared_bands)
of the streaming self-join plan, and the hot cap must excise mega-bucket
pair explosions (the reference's >100-candidate skip,
/root/reference/deduplicator/ProcessArchive.py:504-513)."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from intraarchivededuplicator_spark.operators.lsh import (
    minhash_band_keys,
    minhash_candidate_pairs,
)


@pytest.fixture(scope="module")
def sig_df(spark):
    random.seed(11)
    rows = []
    for c in range(20):  # clusters of similar signatures
        base = [random.randrange(1 << 40) for _ in range(128)]
        for j in range(8):
            sig = list(base)
            for _ in range(random.randrange(0, 40)):
                sig[random.randrange(128)] = random.randrange(1 << 40)
            rows.append((c * 100 + j, sig))
    # mega-cluster: 60 identical signatures -> every band bucket is hot
    mega = [random.randrange(1 << 40) for _ in range(128)]
    for j in range(60):
        rows.append((90000 + j, list(mega)))
    rows.append((999999, None))  # degenerate doc: excluded like NULL pHash
    return spark.createDataFrame(
        rows, "id: long, minhash: array<long>"
    ).persist()


def _pairs(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


def test_bucket_plan_matches_join_plan(sig_df):
    join_path = minhash_candidate_pairs(
        sig_df, n_bands=32, rows_per_band=4, hot_threshold=None
    )
    bucket_path = minhash_candidate_pairs(
        sig_df, n_bands=32, rows_per_band=4, hot_threshold=10**9
    )
    a, b = _pairs(join_path), _pairs(bucket_path)
    assert a, "fixture produced no candidate pairs"
    assert a == b


def test_rows_per_band_is_required(sig_df):
    """No silent default band geometry: the caller states rows per band."""
    with pytest.raises(TypeError, match="rows_per_band"):
        minhash_candidate_pairs(sig_df, n_bands=32)


def test_hot_cap_matches_reference_filter(sig_df):
    thr = 30
    got = _pairs(
        minhash_candidate_pairs(
            sig_df, n_bands=32, rows_per_band=4, hot_threshold=thr
        )
    )
    # reference semantics: drop (band) buckets wider than thr, all-pairs rest
    bands = sig_df.filter(F.col("minhash").isNotNull()).select(
        F.col("id").alias("_id"),
        F.explode(minhash_band_keys("minhash", 32, 4)).alias("band_key"),
    )
    hot = (
        bands.groupBy("band_key")
        .count()
        .filter(F.col("count") > thr)
        .select("band_key")
    )
    cold = bands.join(F.broadcast(hot), "band_key", "left_anti")
    l = cold.select("band_key", F.col("_id").alias("a"))
    r = cold.select("band_key", F.col("_id").alias("b"))
    want = _pairs(
        l.join(r, "band_key")
        .filter(F.col("a") < F.col("b"))
        .select(F.col("a").alias("id_lo"), F.col("b").alias("id_hi"))
        .groupBy("id_lo", "id_hi")
        .agg(F.count("*").alias("n_shared_bands"))
    )
    assert got == want
    mega = {90000 + j for j in range(60)}
    assert all(
        not (lo in mega and hi in mega) for lo, hi, _ in got
    ), "hot cap must suppress mega-bucket pair explosion"


def test_minhash_jaccard_estimate_planted(spark, tmp_path):
    """Calibration pins on a planted corpus: identical docs must report
    est = exact = 1.0 with zero error; a partial-overlap pair must report
    the true shingle Jaccard in exact_jaccard and an estimate within the
    sketch's granularity (multiples of 1/16); disjoint docs share no band
    and never appear."""
    from intraarchivededuplicator_spark.plans.queries import (
        q_minhash_jaccard_estimate,
    )

    base = "w1 w2 w3 w4 w5 w6 w7 w8"            # 4 distinct 5-shingles
    rows = [
        (0, base, "en"),
        (1, base, "en"),                          # exact twin of 0
        (2, base + " w9 w10", "en"),              # superset: J = 4/6
        (3, "z1 z2 z3 z4 z5 z6 z7 z8", "en"),     # disjoint from all
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    sf_dir = str(tmp_path)
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    got = {
        (r["id_lo"], r["id_hi"]): (
            r["est_jaccard"], r["exact_jaccard"], r["abs_err"]
        )
        for r in q_minhash_jaccard_estimate(spark, sf_dir).collect()
    }
    assert (0, 1) in got and got[(0, 1)] == (1.0, 1.0, 0.0)
    assert all(3 not in pair for pair in got)
    for pair in [(0, 2), (1, 2)]:
        if pair in got:  # candidate iff >= 1 band agrees (probabilistic)
            est, exact, err = got[pair]
            assert exact == round(4 / 6, 6)
            assert est in {round(i / 16, 6) for i in range(17)}
            assert err == round(abs(est - 4 / 6), 6)
