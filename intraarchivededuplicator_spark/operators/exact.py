"""Exact-duplicate operators (content-hash equality family).

Covers the reference's J3 query (getDuplicateImages, GROUP BY ... HAVING
COUNT(*) > 1; /root/reference/dbApi.py:444-459) and the exact-dup leg of the
pairs table. The J1 lookup is plans/queries.q_exact_hash_rows's own semi-join.

The exact key here is md5 over the extracted text (built-in F.md5, JVM-side),
replacing MD5-of-bytes (/root/reference/scanner/hashFile.py:138-140).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.columns import canonical_pair


def with_text_hash(df: DataFrame, text_col: str = "text", out: str = "text_hash") -> DataFrame:
    """Adds the exact-duplicate key: lowercase md5 hex of UTF-8 text bytes."""
    return df.withColumn(out, F.md5(F.encode(F.col(text_col), "UTF-8")))


def duplicate_hash_groups(
    df: DataFrame, hash_col: str = "text_hash", min_count: int = 2
) -> DataFrame:
    """(text_hash, n_docs) for hashes held by >= min_count rows (J3)."""
    return (
        df.groupBy(hash_col)
        .agg(F.count("*").alias("n_docs"))
        .filter(F.col("n_docs") >= min_count)
    )


def exact_pairs(
    df: DataFrame, id_col: str = "id", hash_col: str = "text_hash"
) -> DataFrame:
    """Canonical (id_lo < id_hi) pairs sharing the exact key; distance 0.

    The exact-dup leg of the pairs table (J7 with r=0 semantics).
    """
    l = df.select(F.col(id_col).alias("_la"), F.col(hash_col).alias("_h"))
    r = df.select(F.col(id_col).alias("_lb"), F.col(hash_col).alias("_h"))
    return (
        l.join(r, "_h")
        .filter(F.col("_la") < F.col("_lb"))
        .select(*canonical_pair("_la", "_lb"), F.lit(0).alias("distance"))
    )

