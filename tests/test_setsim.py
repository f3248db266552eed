"""Prefix-filtered Jaccard self-join vs naive all-pairs oracle.

Same differential discipline as the banded-Hamming tests (reference pattern:
/root/reference/Tests/Test_db_BKTree_Compare.py:30-70) — the optimized
candidate generator must be lossless at every threshold.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from intraarchivededuplicator_spark.functions.columns import char_ngrams
from intraarchivededuplicator_spark.operators.setsim import (
    _dense_join,
    jaccard_self_join,
)

WORDS = "the quick brown fox jumps over lazy dog spark catalyst shuffles bands".split()


def _corpus(n=80, seed=11):
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        base = [rng.choice(WORDS) for _ in range(rng.randint(5, 30))]
        rows.append((i, " ".join(base)))
        if rng.random() < 0.4:  # near-duplicate: mutate a couple words
            mut = list(base)
            for _ in range(rng.randint(0, 2)):
                mut[rng.randrange(len(mut))] = rng.choice(WORDS)
            rows.append((1000 + i, " ".join(mut)))
    rows.append((9000, ""))  # empty doc must be dropped, not crash
    return rows


def _naive(d, threshold):
    a = d.select(F.col("_id").alias("id_lo"), F.col("_g").alias("ga"))
    b = d.select(F.col("_id").alias("id_hi"), F.col("_g").alias("gb"))
    return (
        a.join(b, F.col("id_lo") < F.col("id_hi"))
        .withColumn("n_shared", F.size(F.array_intersect("ga", "gb")).cast("long"))
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_shared")
                / (F.size("ga") + F.size("gb") - F.col("n_shared")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_lo", "id_hi", "n_shared", "jaccard")
    )


def _large_universe_corpus(n=80, seed=7):
    """Distinct hashed grams: ~60 per doc drawn from 600k values, so the
    universe (~60n grams) is far above DENSE_UNIVERSE_MAX. Each base doc has
    a planted near-duplicate sharing 57 of 60 grams (Jaccard 0.905)."""
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        base = rng.sample(range(1, 500_000), 60)
        rows.append((i, base))
        rows.append((1000 + i, base[:57] + rng.sample(range(500_000, 600_000), 3)))
    return rows


def _docs(spark, universe, n=80):
    """(doc_id, grams) over a tiny trigram universe (a few hundred distinct
    trigrams: the dense branch) or a large hashed one (the prefix branch)."""
    if universe == "dense":
        return spark.createDataFrame(_corpus(n), "doc_id long, text string").select(
            "doc_id", F.array_distinct(char_ngrams("text", 3)).alias("grams")
        )
    return spark.createDataFrame(
        _large_universe_corpus(n), "doc_id long, grams array<long>"
    )


@pytest.mark.parametrize("threshold", [0.3, 0.5, 0.8])
@pytest.mark.parametrize("universe", ["prefix", "dense"])
def test_jaccard_join_is_lossless(spark, threshold, universe):
    """Each corpus routes to the branch it is named after, and that branch
    returns exactly the naive all-pairs answer."""
    docs = _docs(spark, universe)
    out = jaccard_self_join(docs, "doc_id", "grams", threshold)
    plan = out._jdf.queryExecution().executedPlan().toString()
    if universe == "dense":
        assert "BroadcastNestedLoopJoin" in plan and "Window" not in plan
    else:
        assert "Window" in plan and "BroadcastNestedLoopJoin" not in plan
    got = {
        (r["id_lo"], r["id_hi"], r["n_shared"], r["jaccard"]) for r in out.collect()
    }
    d = docs.select(F.col("doc_id").alias("_id"), F.col("grams").alias("_g")).filter(
        F.size("_g") > 0
    )
    want = {
        (r["id_lo"], r["id_hi"], r["n_shared"], r["jaccard"])
        for r in _naive(d, threshold).collect()
    }
    assert got == want
    assert len(want) > 0  # fixture actually produces similar pairs


def test_prefix_filter_prunes_candidates(spark):
    """The point of the operator: candidate volume must be far below n^2."""
    docs = _docs(spark, "prefix", 200)
    n = docs.filter(F.size("grams") > 0).count()
    out = jaccard_self_join(docs, "doc_id", "grams", 0.5)
    # correctness of *result* is covered above; here assert the plan avoids
    # a raw gram join by checking the explain contains the windowed prefix
    # ranking (row_number over the (df, gram) canonical order)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "row_number" in plan
    assert out.count() < n * (n - 1) / 4


def test_auto_picks_dense_on_tiny_universe(spark):
    """The fixture corpus has a few hundred distinct trigrams, so the
    bitmap branch runs: no window rank, a broadcast nested-loop pair join,
    and pair arithmetic as scalar AND+popcount (never array ops)."""
    out = jaccard_self_join(_docs(spark, "dense"), "doc_id", "grams", 0.8)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan
    assert "row_number" not in plan


def test_auto_picks_prefix_on_large_universe(spark):
    """Distinct hashed grams (universe >> DENSE_UNIVERSE_MAX) must route to
    the prefix plan even though the doc count is tiny."""
    out = jaccard_self_join(_docs(spark, "prefix"), "doc_id", "grams", 0.5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "row_number" in plan or "RunningWindowFunction" in plan or "Window" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # and it still finds the planted near-dup pairs
    assert out.count() >= 40


def test_empty_universe_is_a_local_empty_frame(spark):
    """No doc has a gram: the dense branch returns an empty frame that must
    not be a Python RDD (each action on one starts Python workers)."""
    docs = spark.createDataFrame(
        [(1, []), (2, [])], "doc_id long, grams array<long>"
    )
    out = jaccard_self_join(docs, "doc_id", "grams", 0.5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan
    assert out.collect() == []
    assert out.columns == ["id_lo", "id_hi", "n_shared", "jaccard"]


def test_dense_join_over_universe_cap_returns_none(spark):
    """The bitmap branch refuses a gram universe above its cap (so the
    caller falls back to the prefix plan) instead of collecting an
    unbounded dictionary to the driver."""
    d = _docs(spark, "dense").select(
        F.col("doc_id").alias("_id"),
        F.array_distinct(F.transform("grams", lambda x: F.xxhash64(x))).alias("_g"),
    ).filter(F.size("_g") > 0)
    assert d.select(F.explode("_g")).distinct().count() > 16
    assert _dense_join(d, 0.5, 16) is None
