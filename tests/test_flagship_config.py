"""The flagship pass honours its config and leaves nothing cached.

DedupConfig derives the MinHash permutation family from minhash_k, so the
field sets the signature length it names, and the SimHash band count from
simhash_radius; dedup_pipeline keeps no cached table alive after a pass.
"""

import pytest
from pyspark.sql import functions as F

from intraarchivededuplicator_spark.config import DedupConfig, bands_for_radius
from intraarchivededuplicator_spark.engine.pipeline import (
    build_pairs,
    compute_docs,
    dedup_pipeline,
)
from intraarchivededuplicator_spark.fixtures.synth import gen_pages
from intraarchivededuplicator_spark.functions.hashing import MinHashParams


def test_default_minhash_params_are_unchanged():
    assert DedupConfig().minhash_params == MinHashParams.make(128, 42)


def test_simhash_bands_follow_the_radius():
    """Radius 6, the reference's interactive radius, used to fail against a
    fixed 5-band field; the band count is now derived from the radius."""
    assert bands_for_radius(DedupConfig(simhash_radius=6).simhash_radius) == 7
    assert bands_for_radius(DedupConfig().simhash_radius) == 5
    assert not hasattr(DedupConfig(), "simhash_bands")


def test_minhash_k_sets_signature_length(spark):
    pages = spark.createDataFrame(gen_pages(30, seed=5).pages)
    docs = compute_docs(pages, DedupConfig(minhash_k=64, minhash_bands=16))
    lengths = {
        r["n"]
        for r in docs.filter(F.col("minhash").isNotNull())
        .select(F.size("minhash").alias("n"))
        .distinct()
        .collect()
    }
    assert lengths == {64}


def test_build_pairs_needs_representatives(spark):
    pages = spark.createDataFrame(gen_pages(10, seed=5).pages)
    with pytest.raises(ValueError, match="rep_gate=True"):
        build_pairs(compute_docs(pages))


def test_pass_leaves_the_cache_empty(spark):
    """The hot-band registry was persisted and never released."""
    spark.catalog.clearCache()  # drop what earlier test modules cached
    cache = spark._jsparkSession.sharedState().cacheManager()
    assert cache.isEmpty()
    out = dedup_pipeline(spark, spark.createDataFrame(gen_pages(60, seed=11).pages))
    for name in ("docs", "pairs", "clusters"):
        assert out[name].count() > 0
    assert cache.isEmpty()
