"""DSIR-style hashed-n-gram importance weights for data selection.

Data Selection via Importance Resampling (Xie et al., 2023 — public
NeurIPS paper): score every raw document by how much more likely its
hashed-unigram bucket profile is under a TARGET distribution than under
the RAW corpus distribution,

    weight(doc) = sum over token occurrences of
                  [ln p_target(bucket) - ln p_raw(bucket)].

Here the lang='en' slice of the corpus stands in for the high-quality
target set (the shape is the thing; any target predicate plugs in).  The
reference has no statistical selection stage — its quality gate is the
boolean filter family (reference dedupe decision arithmetic,
deduplicator/ProcessArchive.py:250-320) — so this operator is part of
the beyond-reference LLM-pipeline surface, like charlm_quality.

Exactness discipline (what makes a statistical score hash-gateable):
identical to functions/charlm.py — NEITHER ENGINE TAKES A LOG.  Bucket
probabilities are quantized to Q=1024 fixed-point levels with pure
integer arithmetic (p_q = clamp((c * Q) div T, 1, Q); numerators are
always non-negative, so Spark's truncating `div` and DuckDB's flooring
`//` agree) and ln(p_q / Q) comes from the ONE shared Python-computed
table (charlm.LP_MICRO, micro-nats).  The per-doc weight is then an
exact int64 sum of (lp_target - lp_raw) over token occurrences —
order-free, partitioning-free, engine-free.  A bucket with zero target
mass quantizes to the floor level (p_q = 1), the standard epsilon
smoothing.

Plan shape at 10^12 docs: tokenization runs ONCE into a per-(doc,
bucket) partial-aggregated count table (<= DSIR_B rows per doc); the
corpus/target bucket profile is ONE further exchange over that table
keyed by bucket (DSIR_B distinct keys, combiner-collapsed), yielding a
KB-sized log-ratio table that broadcast-joins back.  The only window
runs over the <= DSIR_B-row profile, never the corpus; nothing
corpus-sized ever reaches the driver.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window

from .charlm import CHARLM_Q, lp_table
from .columns import md5_prefix_mod, tokens

DSIR_B = 512  # hashed feature buckets (Xie et al. use 10^4 for bigrams;
              # 512 keeps the unigram profile well-populated at sf0.01)


def dsir_bucket(tok: Column, n_buckets: int = DSIR_B) -> Column:
    """Token -> feature bucket in [0, n_buckets): the shared J11 md5
    hex-prefix hash (columns.md5_prefix_mod; DuckDB twin
    oracle.sql_md5_prefix_mod)."""
    return md5_prefix_mod(tok, n_buckets)


def dsir_weights(
    docs: DataFrame,
    is_target: Column,
    n_buckets: int = DSIR_B,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, n_tok, dsir_micro): integer DSIR importance weight in
    micro-nats per document.  `is_target` is a boolean Column over `docs`
    marking the target slice (evaluated once per doc, constant across its
    tokens).  Docs with no tokens (null/empty text) emit no row in either
    engine (explode/unnest of an empty array)."""
    tok = docs.select(
        F.col(id_col).alias("doc_id"),
        is_target.alias("_is_t"),
        F.explode(tokens(F.col(text_col))).alias("_tok"),
    ).select(
        "doc_id", "_is_t", dsir_bucket(F.col("_tok"), n_buckets).alias("b")
    )
    # per-(doc, bucket) counts feed BOTH the bucket profile and the final
    # score join — a local checkpoint runs tokenize+hash once (<= n_buckets
    # rows per doc, spill-safe). Unlike persist(), it registers nothing with
    # the session's cache manager: the ContextCleaner frees its blocks once
    # the returned frame is no longer referenced.
    db = (
        tok.groupBy("doc_id", "_is_t", "b")
        .agg(F.count("*").alias("n"))
        .localCheckpoint()
    )
    bc = db.groupBy("b").agg(
        F.sum("n").alias("c_r"),
        F.sum(F.when(F.col("_is_t"), F.col("n")).otherwise(F.lit(0))).alias(
            "c_t"
        ),
    )
    w = Window.partitionBy()  # bounded: <= n_buckets rows by construction
    prof = bc.select(
        "b",
        "c_r",
        "c_t",
        F.sum("c_r").over(w).alias("t_r"),
        F.sum("c_t").over(w).alias("t_t"),
    )
    lp = lp_table(docs.sparkSession)
    q = CHARLM_Q
    # guard the zero-total quotient BEFORE the clamp: with an EMPTY target
    # slice t_t = 0 and the quotient is a divide-by-zero — an ANSI error
    # in Spark 4 and a NULL in DuckDB, where null-ignoring greatest/least
    # would silently quantize every bucket to the MAX level p_q = Q
    # instead of the documented epsilon floor p_q = 1. The CASE pins
    # empty-target semantics at the floor — every bucket lp_t =
    # LP_MICRO[0] — in both engines (the oracle twin uses coalesce;
    # pinned in tests/test_train_assembly.py::test_dsir_empty_target_floor).
    # t_r needs no guard: a profile row exists only if some token does,
    # so t_r >= c_r >= 1 on every row.
    lr = (
        prof.withColumn(
            "p_q",
            F.expr(
                f"greatest(1L, least({q}L, "
                f"CASE WHEN t_t = 0 THEN 0L ELSE (c_t * {q}) div t_t END))"
            ),
        )
        .join(F.broadcast(lp), "p_q")
        .withColumnRenamed("lp_micro", "lp_t")
        .drop("p_q")
        .withColumn(
            "p_q", F.expr(f"greatest(1L, least({q}L, (c_r * {q}) div t_r))")
        )
        .join(F.broadcast(lp), "p_q")
        .select("b", (F.col("lp_t") - F.col("lp_micro")).alias("lr_micro"))
    )
    return (
        db.join(F.broadcast(lr), "b")
        .groupBy("doc_id")
        .agg(
            F.sum("n").alias("n_tok"),
            F.sum(F.col("n") * F.col("lr_micro")).alias("dsir_micro"),
        )
    )
