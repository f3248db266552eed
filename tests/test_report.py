"""engine/report.py — the set-oriented ProcessArchive query surface.

Semantics mirrored from the reference's golden expectations
(/root/reference/Tests/Test_DuplicateArchiveDetector.py:153-227 best-match
tie-breaks, :121-150 uniqueness; /root/reference/deduplicator/
ProcessArchive.py:645-659 per-query-doc match dedup).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from intraarchivededuplicator_spark.engine.report import (
    best_matching_site,
    histogram_inversion,
    significantly_similar_sites,
    site_match_counts,
    site_uniqueness,
)

# docs: id, site, n_tokens
DOCS = [
    (1, "a", 100),
    (2, "a", 50),
    (3, "a", 10),
    (10, "b", 100),
    (11, "b", 60),
    (20, "c", 100),
    (21, "c", 999),
    (30, "d", 5),
]
# pairs: doc 1 matches b.10 and c.20; doc 2 matches b.11 twice-ish (one kind);
# doc 3 matches c.21 (c is the bigger site); d is isolated
PAIRS = [
    (1, 10, "exact"),
    (1, 20, "simhash"),
    (2, 11, "exact"),
    (3, 21, "simhash"),
    (2, 10, "simhash"),
]


@pytest.fixture(scope="module")
def frames(spark):
    docs = spark.createDataFrame(DOCS, "id long, site string, n_tokens int")
    pairs = spark.createDataFrame(PAIRS, "id_lo long, id_hi long, kind string")
    return docs, pairs


def test_site_match_counts_counts_each_query_doc_once(spark, frames):
    docs, pairs = frames
    got = {
        (r["q_site"], r["c_site"]): r["n_matched_docs"]
        for r in site_match_counts(pairs, docs).collect()
    }
    # site a -> b: docs 1 and 2 both match (doc 2 via two pairs counts ONCE)
    assert got[("a", "b")] == 2
    assert got[("a", "c")] == 2  # docs 1 and 3
    assert got[("b", "a")] == 2  # symmetric, counted from b's docs 10,11
    assert ("a", "a") not in got  # self-site excluded
    assert ("d", "a") not in got  # isolated site has no matches


def test_kind_filter_and_quality_theta(spark, frames):
    docs, pairs = frames
    exact_only = {
        (r["q_site"], r["c_site"]): r["n_matched_docs"]
        for r in site_match_counts(pairs, docs, kinds=("exact",)).collect()
    }
    assert exact_only[("a", "b")] == 2 and ("a", "c") not in exact_only
    # theta: candidate doc must be >= query doc in tokens
    # pair (2:a,50) -> (11:b,60) passes; (1:a,100) -> (10:b,100) passes;
    # reverse direction (11 -> 2) is dropped (2 has 50 < 60)
    theta = {
        (r["q_site"], r["c_site"]): r["n_matched_docs"]
        for r in site_match_counts(pairs, docs, quality_theta=True).collect()
    }
    assert theta[("a", "b")] == 2
    assert theta[("b", "a")] == 1  # only 10 -> 1 (100>=100); 11 -> 2 dropped


def test_histogram_inversion_sorted(spark, frames):
    docs, pairs = frames
    mc = site_match_counts(pairs, docs)
    rows = {
        (r["q_site"], r["n_matched_docs"]): r["c_sites"]
        for r in histogram_inversion(mc).collect()
    }
    assert rows[("a", 2)] == ["b", "c"]  # sorted


def test_significantly_similar_requires_above_mean_and_gt1(spark, frames):
    docs, pairs = frames
    mc = site_match_counts(pairs, docs)
    got = {
        (r["q_site"], r["c_site"]) for r in significantly_similar_sites(mc).collect()
    }
    # for q_site=a: counts are b=2, c=2, mean=2 -> both kept (>=mean, >1)
    assert ("a", "b") in got and ("a", "c") in got
    # q_site=d has nothing; q_site=c: count a=2 -> kept
    assert ("c", "a") in got


def test_best_match_tie_breaks_by_site_size(spark, frames):
    docs, pairs = frames
    mc = site_match_counts(pairs, docs)
    best = {r["q_site"]: r["best_site"] for r in best_matching_site(mc, docs).collect()}
    # a matches b (2 docs) and c (2 docs): tie -> c wins (1099 tokens > 160)
    assert best["a"] == "c"


def test_uniqueness_predicates(spark, frames):
    docs, pairs = frames
    uniq_exact = {
        r["site"]: r["is_unique"]
        for r in site_uniqueness(pairs, docs, kinds=("exact",)).collect()
    }
    assert uniq_exact == {"a": False, "b": False, "c": True, "d": True}
    uniq_sim = {
        r["site"]: r["is_unique"]
        for r in site_uniqueness(pairs, docs, kinds=("simhash",)).collect()
    }
    assert uniq_sim["d"] is True and uniq_sim["c"] is False


def test_expand_pairs_to_members(spark):
    """The pipeline emits rep-level fuzzy pairs + star edges; expansion must
    restore member-level semantics (ADVICE r1): group cliques for exact,
    members(a) x members(b) for fuzzy pairs between reps."""
    from intraarchivededuplicator_spark.engine.report import (
        expand_pairs_to_members,
    )

    # group A = {1, 2, 3} (rep 1), group B = {10} (rep 10), group C = {20, 21}
    docs = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (10, 10), (20, 20), (21, 20)],
        "id long, rep_id long",
    )
    pairs = spark.createDataFrame(
        [
            (1, 2, 0, "exact"),    # star edges of group A
            (1, 3, 0, "exact"),
            (20, 21, 0, "exact"),  # star edge of group C
            (1, 10, 3, "simhash"),   # rep-level fuzzy pair A-B
            (10, 20, None, "jaccard"),  # rep-level fuzzy pair B-C
        ],
        "id_lo long, id_hi long, distance int, kind string",
    )
    got = {
        (r["id_lo"], r["id_hi"]): r["kind"]
        for r in expand_pairs_to_members(pairs, docs).collect()
    }
    # exact cliques: A = {1,2,3} -> 3 edges; C = {20,21} -> 1 edge
    for e in [(1, 2), (1, 3), (2, 3), (20, 21)]:
        assert got[e] == "exact"
    # A-B fuzzy expands to every member of A x member of B
    for e in [(1, 10), (2, 10), (3, 10)]:
        assert got[e] == "simhash"
    # B-C fuzzy expands to B x members of C
    for e in [(10, 20), (10, 21)]:
        assert got[e] == "jaccard"
    assert len(got) == 9

    # docs without rep_id are not pipeline docs
    with pytest.raises(ValueError, match="rep_gate=True"):
        expand_pairs_to_members(pairs, docs.select("id"))
