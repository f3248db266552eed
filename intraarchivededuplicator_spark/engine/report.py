"""Set-oriented ProcessArchive query surface: match aggregation and reporting.

The reference answers "which other containers look like this one, and which is
the best match?" per archive, interactively
(/root/reference/deduplicator/ProcessArchive.py:599-670). Here the same
queries are one declarative plan over the whole corpus at once — every
container answered in a single job:

  A6 match aggregation      countDistinct(query doc) per (query site, cand
                            site) — counting each query doc once prevents a
                            single white-page doc matching 50 candidate docs
                            from inflating the score, the exact dedup
                            rationale of ProcessArchive.py:645-659
  A7 histogram inversion    {match_count: sorted [sites]}         (:210-226)
  A8 mean truncation        keep candidates >= mean count, > 1    (:192-208)
  R1 best match             argmax matches, ties -> larger size,
                            then lexicographic                    (:264-300)
  C2 uniqueness predicates  "no matches at all"                   (:86-121)
  P8 quality theta filter   candidate doc must not be smaller
                            than the query doc                    (:451-457)

`sites` here are url hosts (the fsPath/container analog, SURVEY.md §1.1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window


def _doc_pairs_with_sites(pairs: DataFrame, docs: DataFrame) -> DataFrame:
    """pairs(id_lo, id_hi, kind) x docs(id, site, n_tokens) ->
    symmetric (q_id, q_site, q_tokens, c_id, c_site, c_tokens, kind)."""
    meta = docs.select("id", "site", "n_tokens")
    sym = pairs.select(
        F.col("id_lo").alias("q_id"), F.col("id_hi").alias("c_id"), "kind"
    ).unionByName(
        pairs.select(
            F.col("id_hi").alias("q_id"), F.col("id_lo").alias("c_id"), "kind"
        )
    )
    q = meta.select(
        F.col("id").alias("q_id"),
        F.col("site").alias("q_site"),
        F.col("n_tokens").alias("q_tokens"),
    )
    c = meta.select(
        F.col("id").alias("c_id"),
        F.col("site").alias("c_site"),
        F.col("n_tokens").alias("c_tokens"),
    )
    # both sides are id-keyed; shuffle_hash skips the sort-merge sorts and is
    # valid at any scale (the meta side is corpus-sized, never broadcast)
    return sym.join(q.hint("shuffle_hash"), "q_id").join(c.hint("shuffle_hash"), "c_id")


def site_match_counts(
    pairs: DataFrame,
    docs: DataFrame,
    kinds: tuple[str, ...] | None = None,
    quality_theta: bool = False,
) -> DataFrame:
    """A6: (q_site, c_site, n_matched_docs), self-site excluded (SO4).

    quality_theta=True drops matches whose candidate doc is smaller than the
    query doc (the imgx/imgy resolution filter analog, P8)."""
    dp = _doc_pairs_with_sites(pairs, docs)
    if kinds:
        dp = dp.filter(F.col("kind").isin(list(kinds)))
    dp = dp.filter(F.col("q_site") != F.col("c_site"))
    if quality_theta:
        dp = dp.filter(F.col("c_tokens") >= F.col("q_tokens"))
    return dp.groupBy("q_site", "c_site").agg(
        F.countDistinct("q_id").alias("n_matched_docs")
    )


def histogram_inversion(match_counts: DataFrame) -> DataFrame:
    """A7: per q_site, {n_matched_docs: sorted [c_site]} as exploded rows
    (n_matched_docs, c_sites) — sorted for R3 determinism."""
    return (
        match_counts.groupBy("q_site", "n_matched_docs")
        .agg(F.sort_array(F.collect_list("c_site")).alias("c_sites"))
    )


def significantly_similar_sites(match_counts: DataFrame) -> DataFrame:
    """A8: keep candidates with n >= mean(n) per q_site, and n > 1."""
    w = Window.partitionBy("q_site")
    return (
        match_counts.withColumn("_mean", F.avg("n_matched_docs").over(w))
        .filter(
            (F.col("n_matched_docs") >= F.col("_mean"))
            & (F.col("n_matched_docs") > 1)
        )
        .drop("_mean")
    )


def best_matching_site(
    match_counts: DataFrame, docs: DataFrame
) -> DataFrame:
    """R1: per q_site the single best candidate — most matched docs, ties to
    the larger candidate site (total tokens: the file-size tie-break analog),
    then lexicographic site for full determinism."""
    site_size = docs.groupBy("site").agg(F.sum("n_tokens").alias("site_tokens"))
    w = Window.partitionBy("q_site").orderBy(
        F.desc("n_matched_docs"), F.desc("site_tokens"), F.asc("c_site")
    )
    return (
        match_counts.join(
            site_size.withColumnRenamed("site", "c_site"), "c_site"
        )
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "q_site",
            F.col("c_site").alias("best_site"),
            "n_matched_docs",
            "site_tokens",
        )
    )


def expand_pairs_to_members(pairs: DataFrame, docs: DataFrame) -> DataFrame:
    """Re-expand representative-level pairs to member-level pairs.

    The pipeline's fuzzy pair legs link each exact-duplicate group's
    REPRESENTATIVE only (plus star edges inside the group), which preserves
    cluster connectivity but makes doc-level match counts
    representative-level (ADVICE r1). This inverse mapping restores the
    reference's ProcessArchive semantics for report aggregation: a pair
    (rep_a, rep_b) becomes members(a) x members(b), and an exact star
    becomes the group clique.

    Cost is the m*n blowup the representative collapse avoided — by design:
    run it on the (usually much smaller) pairs table feeding a report, not on
    the cluster path. Requires docs to carry rep_id
    (compute_docs(rep_gate=True)).
    """
    if "rep_id" not in docs.columns:
        raise ValueError(
            "expand_pairs_to_members needs docs from "
            "compute_docs(..., rep_gate=True)"
        )
    members = docs.select(
        F.col("rep_id").alias("_r"), F.col("id").alias("_m")
    )
    a = members.select(F.col("_r").alias("id_lo"), F.col("_m").alias("_ma"))
    b = members.select(F.col("_r").alias("id_hi"), F.col("_m").alias("_mb"))
    non_exact = (
        pairs.filter(F.col("kind") != "exact")
        .join(a, "id_lo")
        .join(b, "id_hi")
    )
    # exact star edges (rep -> member) expand to the full group clique
    grp = pairs.filter(F.col("kind") == "exact").select(
        F.col("id_lo").alias("_r")
    ).distinct()
    clique = (
        grp.join(a.withColumnRenamed("id_lo", "_r"), "_r")
        .join(b.withColumnRenamed("id_hi", "_r"), "_r")
        .filter(F.col("_ma") < F.col("_mb"))
        .select("_ma", "_mb")
        .withColumn("kind", F.lit("exact"))
        .withColumn("distance", F.lit(0))
    )
    expanded = non_exact.select(
        F.least("_ma", "_mb").alias("id_lo"),
        F.greatest("_ma", "_mb").alias("id_hi"),
        "distance",
        "kind",
    ).filter(F.col("id_lo") != F.col("id_hi"))
    return (
        expanded.unionByName(
            clique.select(
                F.col("_ma").alias("id_lo"),
                F.col("_mb").alias("id_hi"),
                "distance",
                "kind",
            )
        )
        .dropDuplicates(["id_lo", "id_hi"])
    )


def apply_candidate_masks(
    df: DataFrame,
    col: str,
    positive_prefixes: list[str] | None = None,
    negative_prefixes: list[str] | None = None,
    negative_keywords: list[str] | None = None,
) -> DataFrame:
    """P5 path/keyword masks over a candidate container column.

    Reference semantics (/root/reference/deduplicator/ProcessArchive.py:328-335,
    :433-440): drop candidates under any negative prefix; if positive
    prefixes are given, keep only candidates under one of them; drop
    candidates containing any negative keyword. Masks are literal predicates
    (startswith/contains), so Catalyst folds them into the scan — prefix
    filters reach parquet as PushedFilters (StringStartsWith), the P3 prefix
    index analog.
    """
    c = F.col(col)
    if negative_prefixes:
        for p in negative_prefixes:
            df = df.filter(~c.startswith(p))
    if positive_prefixes:
        keep = F.lit(False)
        for p in positive_prefixes:
            keep = keep | c.startswith(p)
        df = df.filter(keep)
    if negative_keywords:
        for kw in negative_keywords:
            df = df.filter(~c.contains(kw))
    return df


def site_uniqueness(
    pairs: DataFrame, docs: DataFrame, kinds: tuple[str, ...] = ("exact",)
) -> DataFrame:
    """C2: per site, is_unique = no cross-site matches of the given kinds.

    isBinaryUnique ≙ kinds=('exact',); isPhashUnique ≙ kinds=('simhash',)."""
    matched = (
        site_match_counts(pairs, docs, kinds=kinds)
        .select(F.col("q_site").alias("site"))
        .distinct()
        .withColumn("_m", F.lit(True))
    )
    return (
        docs.select("site")
        .distinct()
        .join(matched, "site", "left")
        .select("site", F.coalesce(~F.col("_m"), F.lit(True)).alias("is_unique"))
    )
